package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Memo contract: re-entrant builds are legal, keys never collide across
  * distinct inputs, invalidate() releases the checkpoint blocks, and
  * releaseManaged() releases every pin an operator call made.
  */
class MemoSpec extends SparkSpec {
  import spark.implicits._

  override def withFixture(test: NoArgTest) = {
    Memo.invalidate()
    try super.withFixture(test)
    finally Memo.invalidate()
  }

  test("cached builds once and reuses for the same (name, input plan)") {
    val in = Seq(1L, 2L, 3L).toDF("x")
    var builds = 0
    def get() = Memo.cached("memospec_once", in) { df =>
      builds += 1; df.withColumn("y", col("x") * 2)
    }
    val a = get()
    val b = get()
    assert(builds == 1)
    assert(a.collect().map(_.getLong(1)).sorted.sameElements(Array(2L, 4L, 6L)))
    assert(b.collect().length == 3)
  }

  test("a build may re-enter cached for a sub-derivation (no computeIfAbsent deadlock)") {
    val in = Seq(10L, 20L).toDF("x")
    var inner = 0
    var outer = 0
    val out = Memo.cached("memospec_outer", in) { df =>
      outer += 1
      val sub = Memo.cached("memospec_inner", df) { d => inner += 1; d.filter(col("x") > 15) }
      df.join(sub.withColumnRenamed("x", "big"), col("x") <= col("big"))
    }
    assert(out.collect().length == 2)
    assert(outer == 1 && inner == 1)
    // the sub-derivation is independently reusable after the outer build
    Memo.cached("memospec_inner", in)(_ => fail("must hit cache"))
  }

  test("distinct inputs with the same operator name never alias") {
    val a = Seq(1L).toDF("x")
    val b = Seq(2L).toDF("x")
    val ra = Memo.cached("memospec_alias", a.filter(col("x") > 0))(identity)
    val rb = Memo.cached("memospec_alias", b.filter(col("x") > 0))(identity)
    assert(ra.collect().map(_.getLong(0)).toSeq == Seq(1L))
    assert(rb.collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("managedCheckpoint materializes eagerly and invalidate frees its blocks") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    var computes = 0
    val src = Seq(1L, 2L, 3L).toDF("x")
      .filter(udf((x: Long) => { computes += 1; x > 0 }).apply(col("x")))
    val pinned = Memo.managedCheckpoint(src)
    val eagerComputes = computes
    assert(eagerComputes >= 3, "checkpoint must compute at call time")
    // two concurrent-ish consumers read the LEAF — zero recomputation
    // (the lazy-persist pathology this helper exists to prevent)
    assert(pinned.count() == 3 && pinned.filter(col("x") > 1).count() == 2)
    assert(computes == eagerComputes, "consumers recomputed the source")
    val during = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(during.nonEmpty)
    Memo.invalidate()
    val after = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(after.isEmpty, s"blocks survived invalidate: $after")
  }

  test("invalidate releases the checkpointed blocks") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Memo.cached("memospec_release", Seq(1L, 2L).toDF("x"))(df => df)
    val during = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(during.nonEmpty) // the eager localCheckpoint pinned blocks
    Memo.invalidate()
    val after = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(after.isEmpty, s"checkpoint RDDs still pinned: $after")
  }

  test("drainBuildSeconds reports exclusive per-operator derivation time")  {
    val in = Seq(1L, 2L, 3L, 4L).toDF("x")
    Memo.drainBuildSeconds()
    Memo.cached("memospec_t_outer", in) { df =>
      Memo.cached("memospec_t_inner", df)(_.filter(col("x") > 2))
      df.select(col("x"))
    }
    val t = Memo.drainBuildSeconds()
    assert(t.keySet == Set("memospec_t_outer", "memospec_t_inner"))
    assert(t.values.forall(_ >= 0.0))
    assert(Memo.drainBuildSeconds().isEmpty) // drained
    // a model build re-entering a frame memo: both names report, and the
    // model's seconds exclude the (deliberately slow) inner build, so the
    // two sum to no more than the wall time of the outer call
    val t0 = System.nanoTime()
    Memo.cachedModel("memospec_t_model", Seq(in)) {
      Memo.cached("memospec_t_model_inner", in) { df =>
        Thread.sleep(500); df.filter(col("x") > 1)
      }.collect()
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val m = Memo.drainBuildSeconds()
    assert(m.keySet == Set("memospec_t_model", "memospec_t_model_inner"))
    assert(m("memospec_t_model_inner") >= 0.5)
    assert(m.values.forall(_ >= 0.0) && m.values.sum <= wall,
      s"inner build seconds counted twice: $m within $wall s")
  }

  test("operator pins are pass-scoped: releaseManaged frees what the calls pinned") {
    val sc = spark.sparkContext
    val nation = Seq((0, "A"), (1, "B")).toDF("n_nationkey", "n_name")
    val supplier = Seq((10L, 0)).toDF("s_suppkey", "s_nationkey")
    val customer = Seq((20L, 1)).toDF("c_custkey", "c_nationkey")
    val orders = Seq((30L, 20L)).toDF("o_orderkey", "o_custkey")
    val lineitem = Seq((30L, 10L)).toDF("l_orderkey", "l_suppkey")
    val docs = (1L to 16L).map { i =>
      val t = if (i % 2 == 0) s"tiny doc $i"
        else ("the quick brown fox jumps over the lazy dog and runs " * 3).trim
      (i, t, "en", "src", t.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    def run(): Unit = {
      assert(GraphOps.nationTradePagerank(lineitem, orders, customer,
        supplier, nation).collect().length == 2)
      assert(ClassifierOps.qualityClassifierScore(docs).head()
        .getAs[Long]("n_docs") == 16L)
    }
    // the first call builds the session memos (the trade edge list, the
    // trained weights); they stay, so the snapshot is taken after it
    run()
    Memo.releaseManaged()
    val before = sc.getPersistentRDDs.keySet
    run()
    assert((sc.getPersistentRDDs.keySet -- before).nonEmpty)
    Memo.releaseManaged()
    val left = sc.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"blocks survived releaseManaged: $left")
  }
}
