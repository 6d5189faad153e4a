package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{DataType, IntegerType, LongType}

/** [[DedupOps.ccLabels]] against a driver-side union-find: every node of
  * every pair gets its component's minimum id, typed like the input ids,
  * and the loop leaves no blocks behind once `Memo.releaseManaged()` ran.
  */
class CcLabelsSpec extends SparkSpec {
  import spark.implicits._

  override def withFixture(test: NoArgTest) =
    try super.withFixture(test) finally Memo.releaseManaged()

  /** node → minimum id of its component, by union-find. */
  private def reference(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(n => n -> find(n)).toMap
  }

  private def labelsOf(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getAs[Number](0).longValue -> r.getAs[Number](1).longValue).toMap

  private def check(pairs: Seq[(Long, Long)], idType: DataType = LongType): Unit = {
    val in = pairs.toDF("doc_a", "doc_b")
      .select($"doc_a".cast(idType), $"doc_b".cast(idType))
    val out = DedupOps.ccLabels(in)
    assert(out.schema.map(_.dataType) == Seq(idType, idType))
    assert(out.columns.toSeq == Seq("node", "cluster_id"))
    val got = out.collect()
    assert(got.length == got.map(_.get(0)).distinct.length, "one row per node")
    assert(labelsOf(out) == reference(pairs))
  }

  test("a 5000-node path with shuffled ids is one component labelled by its minimum") {
    val ids = new scala.util.Random(7).shuffle((1L to 5000L).map(_ * 3 + 11))
    check(ids.sliding(2).map { case Seq(a, b) => a -> b }.toSeq)
  }

  test("a star whose centre is not the minimum") {
    check((1L to 60L).map(leaf => 1000L -> (leaf + 500L)) :+ (7L -> 1000L))
  }

  test("disjoint components keep their own minima, duplicate and reversed pairs included") {
    val rng = new scala.util.Random(3)
    val comps = (0 until 12).map { c =>
      val nodes = rng.shuffle((0 until 5 + c * 7).map(i => 100000L * (c + 1) + i * 13))
      nodes.sliding(2).map { case Seq(a, b) => a -> b }.toSeq ++
        Seq.fill(c)(nodes(rng.nextInt(nodes.size)) -> nodes(rng.nextInt(nodes.size)))
    }
    val pairs = rng.shuffle(comps.flatten)
    check(pairs ++ pairs.take(20).map(_.swap))
  }

  test("int ids come back as ints, long ids as longs") {
    val pairs = Seq(5L -> 3L, 3L -> 9L, 40L -> 41L, 2_000_000L -> 40L)
    check(pairs, IntegerType)
    check(pairs.map { case (a, b) => (a + 5_000_000_000L) -> b }, LongType)
  }

  test("an empty pair list gives no labels") {
    check(Seq.empty)
  }

  test("the loop's blocks are all released by Memo.releaseManaged") {
    Memo.releaseManaged()
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = DedupOps.ccLabels(Seq(1L -> 2L, 2L -> 3L, 7L -> 8L).toDF("doc_a", "doc_b"))
    assert(labelsOf(out) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L))
    // the returned labels are pinned; the adjacency and rounds are not
    assert((sc.getPersistentRDDs.keySet -- before).size == 1)
    Memo.releaseManaged()
    assert(sc.getPersistentRDDs.keySet == before)
  }
}
