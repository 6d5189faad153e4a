package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import scala.util.Random

/** [[OpUtils.spread]] is the one width of graft's hand-placed shuffles:
  * it follows the session's `spark.sql.shuffle.partitions`, the operators
  * built on it return the same rows at any width, and no operator reads
  * a width of its own.
  */
class SpreadSpec extends SparkSpec {
  import spark.implicits._

  private val widthKey = "spark.sql.shuffle.partitions"

  /** `body` at shuffle width `n`, with every memo rebuilt at that width. */
  private def atWidth[T](n: Int)(body: => T): T = {
    val prev = spark.conf.get(widthKey)
    Memo.invalidate()
    spark.conf.set(widthKey, n.toString)
    try body finally {
      Memo.invalidate()
      spark.conf.set(widthKey, prev)
    }
  }

  /** Partition counts of the planned `REPARTITION_BY_NUM` exchanges. */
  private def byNumWidths(df: DataFrame): Seq[Int] = {
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    plan.collect {
      case s: ShuffleExchangeExec if s.shuffleOrigin == REPARTITION_BY_NUM =>
        s.outputPartitioning.numPartitions
    }
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  /** A star schema with orphans on every FK edge. */
  private def star(): Seq[DataFrame] = {
    val rng = new Random(11)
    def draw(n: Int, hi: Int) = Seq.fill(n)(1L + rng.nextInt(hi))
    Seq(
      draw(500, 220).zip(draw(500, 60)).zip(draw(500, 25))
        .map { case ((o, p), s) => (o, p, s) }.toDF("l_orderkey", "l_partkey", "l_suppkey"),
      (1L to 200L).zip(draw(200, 110)).toDF("o_orderkey", "o_custkey"),
      (1L to 50L).toDF("p_partkey"),
      (1L to 20L).zip(draw(20, 26)).toDF("s_suppkey", "s_nationkey"),
      (1L to 100L).zip(draw(100, 27)).toDF("c_custkey", "c_nationkey"),
      (1L to 25L).zip(draw(25, 6)).toDF("n_nationkey", "n_regionkey"),
      (1L to 5L).toDF("r_regionkey"))
  }

  private def fkOrphans(): DataFrame = {
    val Seq(l, o, p, s, c, n, r) = star()
    AuditOps.fkOrphans(l, o, p, s, c, n, r)
  }

  test("spread and the keyed exchanges plan the session's shuffle width") {
    atWidth(7) {
      assert(byNumWidths(OpUtils.spread((1 to 50).toDF("x"))) == Seq(7))
      assert(byNumWidths(OpUtils.spread((1 to 50).toDF("x"), $"x")) == Seq(7))
      val widths = byNumWidths(fkOrphans())
      assert(widths.nonEmpty && widths.forall(_ == 7), widths)
    }
  }

  test("fkOrphans, dedupContainment and ccLabels return the same rows at widths 4 and 7") {
    val rng = new Random(5)
    val vocab = (1 to 40).map(i => s"w$i")
    def words(n: Int) = Seq.fill(n)(vocab(rng.nextInt(vocab.size))).mkString(" ")
    val base = (1L to 30L).map(id => id -> words(8 + rng.nextInt(20)))
    // every fifth doc reappears inside a longer one: containment pairs
    val texts = base ++ base.filter(_._1 % 5 == 0).map { case (id, t) => (id + 100) -> s"$t ${words(4)}" }
    val docs = texts.map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val pairs = Seq.fill(200)((rng.nextInt(300).toLong, rng.nextInt(300).toLong))
      .toDF("doc_a", "doc_b")
    def all() = Seq(rows(fkOrphans()), rows(DedupOps.dedupContainment(docs)),
      rows(DedupOps.ccLabels(pairs)))
    val at4 = atWidth(4)(all())
    assert(at4.forall(_.nonEmpty))
    assert(atWidth(7)(all()) == at4)
  }

  test("no operator reads a shuffle width of its own") {
    val dir = new java.io.File("src/main/scala/graft/operators")
    val readers = dir.listFiles().toSeq
      .filter(f => f.getName.endsWith(".scala") && f.getName != "OpUtils.scala")
      .filter { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try { val s = src.mkString; s.contains("defaultParallelism") || s.contains(widthKey) }
        finally src.close()
      }
      .map(_.getName).sorted
    assert(readers.isEmpty, s"set a width through OpUtils.spread or OpUtils.width: $readers")
  }
}
