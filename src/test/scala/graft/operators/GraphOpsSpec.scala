package graft.operators

import graft.SparkSpec
import org.apache.spark.ListenerBusProbe
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

class GraphOpsSpec extends SparkSpec {
  import spark.implicits._

  private val nation = Seq((0, "A"), (1, "B")).toDF("n_nationkey", "n_name")

  test("nationTradePagerank matches the hand-computed integer recurrence") {
    // one edge A→B: supplier in A ships the only order, placed by a
    // customer in B. N=2 → r0 = 500000, base = 75000.
    // it1: A = 75000, B = 75000 + (85·500000)//100 = 500000
    // it2..5: A stays 75000; B = 75000 + (85·75000)//100 = 138750
    val supplier = Seq((10L, 0)).toDF("s_suppkey", "s_nationkey")
    val customer = Seq((20L, 1)).toDF("c_custkey", "c_nationkey")
    val orders = Seq((30L, 20L)).toDF("o_orderkey", "o_custkey")
    val lineitem = Seq((30L, 10L)).toDF("l_orderkey", "l_suppkey")
    val ranks = GraphOps.nationTradePagerank(lineitem, orders, customer,
      supplier, nation).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ranks == Map("A" -> 75000L, "B" -> 138750L))
  }

  test("an edgeless graph converges to the base rank for every node") {
    val empty = Seq.empty[(Long, Long)]
    val lineitem = empty.toDF("l_orderkey", "l_suppkey")
    val orders = empty.toDF("o_orderkey", "o_custkey")
    val customer = Seq.empty[(Long, Int)].toDF("c_custkey", "c_nationkey")
    val supplier = Seq.empty[(Long, Int)].toDF("s_suppkey", "s_nationkey")
    val ranks = GraphOps.nationTradePagerank(lineitem, orders, customer,
      supplier, nation).collect().map(r => r.getLong(1)).toSeq
    assert(ranks == Seq(75000L, 75000L))
    // every HITS round totals nothing: nullif(tot, 0) makes both scores null
    val hits = GraphOps.nationTradeHits(lineitem, orders, customer,
      supplier, nation).collect()
      .map(r => r.getString(0) -> (r.get(1), r.get(2))).toMap
    assert(hits == Map("A" -> (null, null), "B" -> (null, null)))
    val communities = GraphOps.nationCommunities(lineitem, orders, customer,
      supplier, nation).collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(communities == Map("A" -> "A", "B" -> "B"))
    val hops = GraphOps.nationHopDistance(lineitem, orders, customer,
      supplier, nation).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(hops == Set(("A", "A", 0L), ("B", "B", 0L)))
    val triangles = GraphOps.nationTradeTriangles(lineitem, orders, customer,
      supplier, nation).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(triangles == Map("A" -> 0L, "B" -> 0L))
  }

  test("duplicate trade lines collapse to one edge (distinct pairs)") {
    val supplier = Seq((10L, 0), (11L, 0)).toDF("s_suppkey", "s_nationkey")
    val customer = Seq((20L, 1)).toDF("c_custkey", "c_nationkey")
    val orders = Seq((30L, 20L), (31L, 20L)).toDF("o_orderkey", "o_custkey")
    // four lines, all the same A→B nation pair
    val lineitem = Seq((30L, 10L), (30L, 11L), (31L, 10L), (31L, 11L))
      .toDF("l_orderkey", "l_suppkey")
    val ranks = GraphOps.nationTradePagerank(lineitem, orders, customer,
      supplier, nation).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ranks == Map("A" -> 75000L, "B" -> 138750L))
  }

  test("nationTradeHits matches the integer L1-HITS recurrence, hubs vs authorities") {
    val nation4 = Seq((0, "A"), (1, "B"), (2, "C"), (3, "D"))
      .toDF("n_nationkey", "n_name")
    // edges A→C, B→C, B→D: B is the wider hub, C the stronger authority
    val supplier = Seq((10L, 0), (11L, 1)).toDF("s_suppkey", "s_nationkey")
    val customer = Seq((22L, 2), (23L, 3)).toDF("c_custkey", "c_nationkey")
    val orders = Seq((30L, 22L), (31L, 22L), (32L, 23L))
      .toDF("o_orderkey", "o_custkey")
    val lineitem = Seq((30L, 10L), (31L, 11L), (32L, 11L))
      .toDF("l_orderkey", "l_suppkey")
    // plain-Scala mirror of the sum-normalized integer recurrence
    val nodes = Seq("A", "B", "C", "D")
    val edges = Seq(("A", "C"), ("B", "C"), ("B", "D"))
    var h = nodes.map(_ -> 1000000L).toMap
    var a = nodes.map(_ -> 1000000L).toMap
    def norm(raw: Map[String, Long]): Map[String, Long] = {
      val tot = raw.values.sum
      // a zero total makes every score null (nullif(tot, 0)), pinned by
      // the edgeless case; this fixture's totals are all positive
      assert(tot != 0)
      nodes.map(n => n -> raw.getOrElse(n, 0L) * 1000000L / tot).toMap
    }
    for (_ <- 1 to 3) {
      a = norm(edges.groupBy(_._2).map { case (d, es) =>
        d -> es.map(e => h(e._1)).sum })
      h = norm(edges.groupBy(_._1).map { case (s, es) =>
        s -> es.map(e => a(e._2)).sum })
    }
    val out = GraphOps.nationTradeHits(lineitem, orders, customer,
      supplier, nation4).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out == nodes.map(n => n -> (h(n), a(n))).toMap)
    // structure: B out-hubs A; C out-authorities D; sources/sinks zero
    assert(out("B")._1 > out("A")._1 && out("C")._2 > out("D")._2)
    assert(out("C")._1 == 0L && out("D")._1 == 0L) // no out-edges → no hub
    assert(out("A")._2 == 0L && out("B")._2 == 0L) // no in-edges → no auth
  }

  test("nationTradeTriangles counts each 3-cycle once per participant") {
    val nation3 = Seq((0, "A"), (1, "B"), (2, "C"), (3, "D"))
      .toDF("n_nationkey", "n_name")
    // suppliers: one per nation A,B,C; customers: one per nation A,B,C,D
    val supplier = Seq((10L, 0), (11L, 1), (12L, 2)).toDF("s_suppkey", "s_nationkey")
    val customer = Seq((20L, 0), (21L, 1), (22L, 2), (23L, 3))
      .toDF("c_custkey", "c_nationkey")
    // edges A→B, B→C, C→A (one cycle) + A→D (no cycle) + a self-loop B→B
    val orders = Seq((30L, 21L), (31L, 22L), (32L, 20L), (33L, 23L), (34L, 21L))
      .toDF("o_orderkey", "o_custkey")
    val lineitem = Seq((30L, 10L), (31L, 11L), (32L, 12L), (33L, 10L), (34L, 11L))
      .toDF("l_orderkey", "l_suppkey")
    val out = GraphOps.nationTradeTriangles(lineitem, orders, customer,
      supplier, nation3).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("A" -> 1L, "B" -> 1L, "C" -> 1L, "D" -> 0L))
  }

  test("nationCommunities converges a connected group; pairs oscillate") {
    val nation5 = Seq((0, "A"), (1, "B"), (2, "C"), (3, "D"), (4, "E"))
      .toDF("n_nationkey", "n_name")
    // trade edges A→B, A→C, B→C (one community) and D→E (detached pair)
    val supplier = Seq((10L, 0), (11L, 1), (13L, 3)).toDF("s_suppkey", "s_nationkey")
    val customer = Seq((21L, 1), (22L, 2), (24L, 4)).toDF("c_custkey", "c_nationkey")
    val orders = Seq((30L, 21L), (31L, 22L), (32L, 22L), (33L, 24L))
      .toDF("o_orderkey", "o_custkey")
    val lineitem = Seq((30L, 10L), (31L, 10L), (32L, 11L), (33L, 13L))
      .toDF("l_orderkey", "l_suppkey")
    val out = GraphOps.nationCommunities(lineitem, orders, customer,
      supplier, nation5).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    // hand-unrolled 3 synchronous rounds with (count desc, label asc):
    // the triangle settles on "A"; the detached pair oscillates (the
    // documented synchronous-LPA two-cycle) and sits swapped at round 3
    assert(out == Map("A" -> "A", "B" -> "A", "C" -> "A",
      "D" -> "E", "E" -> "D"))
  }

  test("nationHopDistance: rank-sparsified backbone, multi-hop and unreachable") {
    val nation3 = Seq((0, "A"), (1, "B"), (2, "C")).toDF("n_nationkey", "n_name")
    val supplier = Seq((10L, 0), (11L, 1)).toDF("s_suppkey", "s_nationkey")
    val customer = Seq((20L, 1), (21L, 2)).toDF("c_custkey", "c_nationkey")
    // lane weights: A→B 3 orders, B→C 2, A→C 1; topK=2 keeps A→B and
    // B→C only, so C is 2 hops from A via the backbone, and nothing
    // reaches back toward A
    val orders = Seq((30L, 20L), (31L, 20L), (32L, 20L), (33L, 21L),
      (34L, 21L), (35L, 21L)).toDF("o_orderkey", "o_custkey")
    val lineitem = Seq((30L, 10L), (31L, 10L), (32L, 10L), (33L, 11L),
      (34L, 11L), (35L, 10L)).toDF("l_orderkey", "l_suppkey")
    val out = GraphOps.nationHopDistance(lineitem, orders, customer,
      supplier, nation3, topK = 2).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out == Map(("A", "A") -> 0L, ("B", "B") -> 0L, ("C", "C") -> 0L,
      ("A", "B") -> 1L, ("B", "C") -> 1L, ("A", "C") -> 2L))
  }

  test("each graph operator runs at most 3 Spark jobs once the edge memo is warm") {
    val sc = spark.sparkContext
    val nation4 = Seq((0, "A"), (1, "B"), (2, "C"), (3, "D"))
      .toDF("n_nationkey", "n_name")
    // the triangle fixture: a 3-cycle, a tail edge and a self-loop
    val supplier = Seq((10L, 0), (11L, 1), (12L, 2)).toDF("s_suppkey", "s_nationkey")
    val customer = Seq((20L, 0), (21L, 1), (22L, 2), (23L, 3))
      .toDF("c_custkey", "c_nationkey")
    val orders = Seq((30L, 21L), (31L, 22L), (32L, 20L), (33L, 23L), (34L, 21L))
      .toDF("o_orderkey", "o_custkey")
    val lineitem = Seq((30L, 10L), (31L, 11L), (32L, 12L), (33L, 10L), (34L, 11L))
      .toDF("l_orderkey", "l_suppkey")
    GraphOps.tradeEdgeWeights(lineitem, orders, customer, supplier, nation4).count()
    val group = "graph-ops-job-budget"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    def jobsOf(op: => DataFrame): Int = {
      ListenerBusProbe.drain(sc)
      jobs.set(0)
      sc.setJobGroup(group, group)
      try op.collect() finally sc.clearJobGroup()
      ListenerBusProbe.drain(sc)
      jobs.get
    }
    sc.addSparkListener(listener)
    val counts = try Seq(
      "pagerank" -> jobsOf(GraphOps.nationTradePagerank(lineitem, orders,
        customer, supplier, nation4)),
      "hits" -> jobsOf(GraphOps.nationTradeHits(lineitem, orders,
        customer, supplier, nation4)),
      "triangles" -> jobsOf(GraphOps.nationTradeTriangles(lineitem, orders,
        customer, supplier, nation4)),
      "communities" -> jobsOf(GraphOps.nationCommunities(lineitem, orders,
        customer, supplier, nation4)),
      "hop_distance" -> jobsOf(GraphOps.nationHopDistance(lineitem, orders,
        customer, supplier, nation4)))
    finally sc.removeSparkListener(listener)
    info(counts.map { case (op, n) => s"$op=$n" }.mkString("jobs: ", " ", ""))
    assert(counts.forall(_._2 <= 3), s"over the 3-job budget: $counts")
  }
}
