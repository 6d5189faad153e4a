package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** Graph analytics over warehouse entities. Connected components
  * (DedupOps.dedupClusters) covers the equivalence-class family; here
  * PageRank covers the iterative-propagation family — centrality of the
  * international trade network (which nations sit at the center of
  * supplier→customer flows).
  *
  * All rank arithmetic is EXACT integer micro-units (rank·10⁶): each
  * iteration is `contrib = r div outdeg` per edge, `r' = base +
  * (85·Σcontrib) div 100` per node — no float accumulation, so the
  * fixed-iteration result is engine-stable and the DuckDB oracle unrolls
  * the same five iterations as a CTE chain, bit for bit (Spark `div` and
  * Scala `Long /` both truncate).
  *
  * Scale: the fact-sized work is ONE Memo-shared pass building the
  * weighted nation-pair edge list ([[tradeEdgeWeights]]: two broadcast
  * dim joins + one fact-fact join on orderkey). That list is grouped by
  * (src, dst) over nation names, so it holds at most |nations|² rows by
  * construction at any SF — the dimension-sized contract
  * [[Memo.cachedModel]] already gives the driver. Each operator collects
  * it and the nation names once, runs its fixed rounds as plain Scala
  * on the driver and returns a local frame: no per-round jobs, pins or
  * plans, and the result is computed when the operator is called.
  *
  * String order: Spark compares names as UTF-8 bytes, `String.compareTo`
  * as UTF-16 units; the two agree on the ASCII nation names.
  */
object GraphOps {

  /** WEIGHTED (src_nation, dst_nation, cnt) trade edges — cnt = number
    * of orders where a supplier in src ships to a customer in dst, with
    * the supplier-side projection reduced to distinct (orderkey, src)
    * BEFORE the fact-fact join. Memoized (key = every input's plan):
    * this ≤|nations|²-row table is the ONE fact-derived input of the
    * whole graph family (PageRank, HITS, triangles, communities, hop
    * distances), and the fact-fact join behind it is by far their
    * dominant cost — one session derives it once.
    */
  private[operators] def tradeEdgeWeights(lineitem: DataFrame,
      orders: DataFrame, customer: DataFrame, supplier: DataFrame,
      nation: DataFrame): DataFrame =
    Memo.cachedMulti("trade_edge_weights",
      Seq(lineitem, orders, customer, supplier, nation)) {
      val n = broadcast(nation.select(col("n_nationkey"), col("n_name")))
      val lineSide = lineitem.select(col("l_orderkey"), col("l_suppkey"))
        .join(supplier.select("s_suppkey", "s_nationkey"),
          col("l_suppkey") === col("s_suppkey"))
        .join(n, col("s_nationkey") === col("n_nationkey"))
        .select(col("l_orderkey"), col("n_name").as("src"))
        // the distinct and the fact-fact join below reuse this: one line-side shuffle, not two
        .transform(OpUtils.spread(_, col("l_orderkey")))
        .distinct()
      val orderSide = orders.select(col("o_orderkey"), col("o_custkey"))
        .join(customer.select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
        .join(n, col("c_nationkey") === col("n_nationkey"))
        .select(col("o_orderkey"), col("n_name").as("dst"))
      lineSide.join(orderSide, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("cnt"))
    }

  /** The nation names and the weighted trade edges, collected. Edges
    * with a null endpoint are dropped, as an equi-join on the name would.
    */
  private def tradeGraph(lineitem: DataFrame, orders: DataFrame,
      customer: DataFrame, supplier: DataFrame,
      nation: DataFrame): (Seq[String], Seq[(String, String, Long)]) = {
    val edges = tradeEdgeWeights(lineitem, orders, customer, supplier, nation)
      .collect().toSeq.collect { case Row(s: String, d: String, n: Long) => (s, d, n) }
    (nation.select(col("n_name")).collect().map(_.getString(0)).toSeq, edges)
  }

  /** `rows` as a local frame with the DDL `schema`. */
  private def local(nation: DataFrame, schema: String, rows: Seq[Row]): DataFrame =
    nation.sparkSession.createDataFrame(rows.asJava, StructType.fromDDL(schema))

  /** Five-iteration integer PageRank of nations in the trade graph.
    * Dangling mass is dropped (the standard simplified variant) — the
    * oracle mirrors the same recurrence, so the semantics are part of
    * the contract, not an accident. `outdeg` counts distinct edges,
    * self-loops included.
    *
    * Scale: one collect of the Memo-shared edge list; the iterations are
    * driver arithmetic over ≤ |nations|² edges.
    */
  def nationTradePagerank(lineitem: DataFrame, orders: DataFrame,
      customer: DataFrame, supplier: DataFrame, nation: DataFrame,
      iterations: Int = 5): DataFrame = {
    val (nodes, weighted) = tradeGraph(lineitem, orders, customer, supplier, nation)
    val outdeg = weighted.groupMapReduce(_._1)(_ => 1L)(_ + _)
    val n = nodes.size.toLong
    // r0 = 10⁶ div N and base = 15·10⁴ div N, exactly as the oracle
    var ranks = nodes.map(_ -> 1000000L / n).toMap
    for (_ <- 1 to iterations) {
      val inSum = weighted.groupMapReduce(_._2)(e => ranks(e._1) / outdeg(e._1))(_ + _)
      ranks = nodes.map(v => v -> (150000L / n + 85L * inSum.getOrElse(v, 0L) / 100)).toMap
    }
    local(nation, "nation string, rank_micro bigint", nodes.map(v => Row(v, ranks(v))))
  }

  /** Three-iteration sum-normalized HITS (Kleinberg 1999) over the
    * trade graph — hubs = nations whose SUPPLIERS feed the important
    * consumers, authorities = nations whose CUSTOMERS absorb the
    * important producers; the directional complement of
    * [[nationTradePagerank]]'s single centrality. Classic update order:
    * a ← Σ h(in-neighbors) then h ← Σ a(out-neighbors), each
    * SUM-normalized to 10⁶ total per round (the L1 variant — exact in
    * integer micro-units, unlike the L2 norm's sqrt; normalization
    * choice doesn't change the ranking, only the scale, and is part of
    * the documented contract the oracle mirrors). A round whose total is
    * 0 (or that has no edges) makes every score null, as the oracle's
    * `nullif(tot, 0)` does, and null stays null.
    *
    * Scale: one collect of the Memo-shared edge list; the half-rounds
    * are driver arithmetic over ≤ |nations|² edges.
    */
  def nationTradeHits(lineitem: DataFrame, orders: DataFrame,
      customer: DataFrame, supplier: DataFrame, nation: DataFrame,
      iterations: Int = 3): DataFrame = {
    val (nodes, weighted) = tradeGraph(lineitem, orders, customer, supplier, nation)
    // one half-round: raw(to) = Σ prev(from) over the edges, L1-normalized
    def half(prev: Option[Map[String, Long]], from: ((String, String, Long)) => String,
        to: ((String, String, Long)) => String): Option[Map[String, Long]] =
      prev.flatMap { p =>
        val raw = weighted.groupMapReduce(to)(e => p(from(e)))(_ + _)
        val tot = raw.values.sum
        if (tot == 0) None
        else Some(nodes.map(v => v -> raw.getOrElse(v, 0L) * 1000000L / tot).toMap)
      }
    var h = Option(nodes.map(_ -> 1000000L).toMap)
    var a = h
    for (_ <- 1 to iterations) {
      a = half(h, _._1, _._2)
      h = half(a, _._2, _._1)
    }
    def score(s: Option[Map[String, Long]], v: String): Any = s.map(_(v)).orNull
    local(nation, "nation string, hub_micro bigint, auth_micro bigint",
      nodes.map(v => Row(v, score(h, v), score(a, v))))
  }

  /** Directed-triangle (3-cycle) participation per nation — the
    * circular-trade motif count (A supplies B supplies C supplies A),
    * the graph-clustering complement to PageRank's centrality.
    * Rotation-canonical counting (a is the lexicographic minimum of the
    * cycle) counts each cycle once; self-loops are excluded up front so
    * cycle nodes are distinct by construction.
    *
    * Scale: one collect of the Memo-shared edge list; the cycle
    * enumeration walks ≤ |nations|² edges on the driver.
    */
  def nationTradeTriangles(lineitem: DataFrame, orders: DataFrame,
      customer: DataFrame, supplier: DataFrame, nation: DataFrame): DataFrame = {
    val (nodes, weighted) = tradeGraph(lineitem, orders, customer, supplier, nation)
    val edges = weighted.collect { case (s, d, _) if s != d => (s, d) }
    val out = edges.groupMap(_._1)(_._2)
    val edgeSet = edges.toSet
    val cycles = for {
      (a, b) <- edges
      c <- out.getOrElse(b, Nil) if edgeSet((c, a)) && a < b && a < c
    } yield Seq(a, b, c)
    val n = cycles.flatten.groupMapReduce(identity)(_ => 1L)(_ + _)
    local(nation, "nation string, n_cycles bigint not null",
      nodes.map(v => Row(v, n.getOrElse(v, 0L))))
  }

  /** Synchronous label propagation over the undirected trade graph
    * (Raghavan et al.) — the community-detection complement to the
    * connected-components min-propagation: each round every node adopts
    * its neighbors' most frequent community label (ties: lexicographic
    * minimum, so the fixpoint is deterministic — no random sweep order);
    * isolated nodes keep their own label.
    *
    * Scale: one collect of the Memo-shared edge list; each of the fixed
    * `rounds` is a driver pass over ≤ |nations|² undirected edges.
    */
  def nationCommunities(lineitem: DataFrame, orders: DataFrame,
      customer: DataFrame, supplier: DataFrame, nation: DataFrame,
      rounds: Int = 3): DataFrame = {
    val (nodes, weighted) = tradeGraph(lineitem, orders, customer, supplier, nation)
    val neighbours = weighted
      .flatMap { case (s, d, _) => if (s != d) Seq(s -> d, d -> s) else Nil }
      .distinct.groupMap(_._1)(_._2)
    val labels = (1 to rounds).foldLeft(nodes.map(v => v -> v).toMap) { (l, _) =>
      nodes.map(u => u -> neighbours.get(u).fold(u) { vs =>
        // most frequent neighbour label, ties to the smallest label
        vs.groupMapReduce(l)(_ => 1L)(_ + _)
          .minBy { case (label, count) => (-count, label) }._1
      }).toMap
    }
    local(nation, "nation string, community string",
      nodes.map(v => Row(v, labels(v))))
  }

  /** All-pairs shortest HOP distance over the BACKBONE trade graph —
    * "how many strong-trade-lane hops separate any two markets": the
    * complete TPC-H trade graph is uninformative (every nation pair
    * trades), so the graph is first sparsified to its topK strongest
    * directed lanes (by order count, ties broken by name — a
    * deterministic edge set at any SF, and scale-stable because the
    * threshold is a rank, not an absolute count), then BFS runs
    * `maxHops` synchronous frontier rounds. Unreached pairs are absent
    * from the output — reachability within maxHops is part of the
    * answer; every node reaches itself at 0 hops.
    *
    * Scale: one collect of the Memo-shared edge list; the topK sort and
    * the per-source BFS run on the driver over ≤ |nations|² edges.
    */
  def nationHopDistance(lineitem: DataFrame, orders: DataFrame,
      customer: DataFrame, supplier: DataFrame, nation: DataFrame,
      topK: Int = 96, maxHops: Int = 6): DataFrame = {
    val (nodes, weighted) = tradeGraph(lineitem, orders, customer, supplier, nation)
    val backbone = weighted.filter(e => e._1 != e._2)
      .sortBy(e => (-e._3, e._1, e._2)).take(topK)
      .groupMap(_._1)(_._2)
    val rows = nodes.flatMap { s =>
      val hops = scala.collection.mutable.LinkedHashMap(s -> 0L)
      var frontier = Seq(s)
      for (h <- 1L to maxHops.toLong) {
        frontier = frontier.flatMap(backbone.getOrElse(_, Nil)).distinct
          .filterNot(hops.contains)
        frontier.foreach(hops(_) = h)
      }
      hops.map { case (v, h) => Row(s, v, h) }
    }
    local(nation, "src_nation string, dst_nation string, hops bigint", rows)
  }
}
