package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Warehouse data-quality audits — the checks a warehouse team runs after
  * every load (the reference's notebooks eyeball these properties by hand;
  * here they are first-class operators): referential integrity across the
  * star schema, Benford first-digit screening of money columns, and
  * blocked edit-distance record linkage.
  *
  * Scale design: every audit aggregates BEFORE it joins — the integrity
  * check rolls each fact up to its foreign-key grain first so the join
  * carries the keyspace, not the rows; Benford is one conditional-sum
  * scan per column; the fuzzy join is blocked so the candidate set is
  * Σ(block²), never corpus².
  */
object AuditOps {

  /** All FK keys of ONE child table as (relationship, key, cnt) rows at
    * the keyspace grain — a melted explode so the table is SCANNED ONCE
    * for every edge it participates in (lineitem carries three FK edges;
    * three separate rollups would read the 100 TB fact three times). The
    * hash aggregate map-side combines, so the shuffle still carries only
    * Σ per-edge distinct keys — the same volume as per-edge rollups.
    */
  private def childKeyRollup(child: DataFrame, edges: Seq[(String, String)]): DataFrame =
    child.select(explode(array(edges.map { case (rel, fk) =>
        struct(lit(rel).as("rel"), col(fk).cast("long").as("k"))
      }: _*)).as("e"))
      .filter(col("e.k").isNotNull)
      .groupBy(col("e.rel").as("rel"), col("e.k").as("k"))
      .agg(count(lit(1)).as("cnt"))

  /** Referential-integrity audit over the whole star schema: for each
    * FK → PK edge, orphaned child rows (should be zero on a healthy
    * warehouse) and unreferenced parent keys (expected nonzero — parts
    * nobody ordered, customers with no orders). 14 rows out regardless
    * of data size. Every base table is scanned exactly once; all seven
    * edges resolve through ONE (relationship, key) full-outer join of
    * the unioned child rollups against the unioned parent keysets —
    * child-only rows are orphans, parent-only rows are unreferenced.
    */
  def fkOrphans(lineitem: DataFrame, orders: DataFrame, part: DataFrame,
      supplier: DataFrame, customer: DataFrame, nation: DataFrame,
      region: DataFrame): DataFrame = {
    val edges = Seq(
      ("lineitem.l_orderkey->orders", "l_orderkey", "o_orderkey"),
      ("lineitem.l_partkey->part", "l_partkey", "p_partkey"),
      ("lineitem.l_suppkey->supplier", "l_suppkey", "s_suppkey"),
      ("orders.o_custkey->customer", "o_custkey", "c_custkey"),
      ("customer.c_nationkey->nation", "c_nationkey", "n_nationkey"),
      ("supplier.s_nationkey->nation", "s_nationkey", "n_nationkey"),
      ("nation.n_regionkey->region", "n_regionkey", "r_regionkey"))
    val childKeys = Seq(
      childKeyRollup(lineitem, edges.take(3).map(e => (e._1, e._2))),
      childKeyRollup(orders, Seq((edges(3)._1, edges(3)._2))),
      childKeyRollup(customer, Seq((edges(4)._1, edges(4)._2))),
      childKeyRollup(supplier, Seq((edges(5)._1, edges(5)._2))),
      childKeyRollup(nation, Seq((edges(6)._1, edges(6)._2))))
      .reduce(_.unionByName(_))
    val parents = Seq(
      ("orders", orders, "o_orderkey"), ("part", part, "p_partkey"),
      ("supplier", supplier, "s_suppkey"), ("customer", customer, "c_custkey"),
      ("nation", nation, "n_nationkey"), ("region", region, "r_regionkey"))
    val parentKeys = edges.map { case (rel, _, pk) =>
      val (_, pdf, _) = parents.find(_._3 == pk).get
      pdf.select(lit(rel).as("rel"), col(pk).cast("long").as("k")).distinct()
        .withColumn("hit", lit(1))
    }.reduce(_.unionByName(_))
    val joined = childKeys
      // user-origin repartition on the join key: the full-outer's ENSURE
      // exchanges are byte-tiny (long keys) and AQE coalesced them to
      // ONE partition, running the join + audit agg over the whole
      // keyset single-task (profiled 0.9 s on one core); the join and
      // the rel-grain partial agg reuse this partitioning at any SF
      .repartition(lineitem.sparkSession.sparkContext.defaultParallelism,
        col("rel"), col("k"))
      .join(parentKeys, Seq("rel", "k"), "full_outer")
    // BOTH audits in one conditional aggregation over the joined keyset:
    // two filtered groupBys consumed the full-outer join from two
    // broadcast subqueries, which re-ran every child rollup + parent
    // distinct (each base table scanned twice) — one shared pass halves
    // the whole pipeline. Absent-group semantics match the old filtered
    // aggs: a clean relationship's conditional sums land NULL and the
    // same coalesce(0) below applies.
    val audits = joined.groupBy(col("rel"))
      .agg(sum(when(col("hit").isNull, col("cnt"))).as("o_rows"),
        count(when(col("hit").isNull, lit(1))).as("o_keys"),
        count(when(col("cnt").isNull, lit(1))).as("u_keys"))
    // every relationship reports both audits even when clean — seed the
    // 14-row output frame from the edge list and coalesce counts to 0
    val spark = lineitem.sparkSession
    import spark.implicits._
    val relFrame = edges.map(_._1).toDF("rel")
    relFrame
      .join(broadcast(audits), Seq("rel"), "left")
      .select(
        explode(array(
          struct(lit("fk_orphan").as("audit"),
            coalesce(col("o_rows"), lit(0L)).as("n_rows"),
            coalesce(col("o_keys"), lit(0L)).as("n_keys")),
          struct(lit("unreferenced_parent").as("audit"),
            coalesce(col("u_keys"), lit(0L)).as("n_rows"),
            coalesce(col("u_keys"), lit(0L)).as("n_keys")))).as("a"),
        col("rel").as("relationship"))
      .select(col("relationship"), col("a.audit").as("audit"),
        col("a.n_rows").as("n_rows"), col("a.n_keys").as("n_keys"))
  }

  /** Benford expected first-digit shares in integer micro-units —
    * ⌊10⁶·log₁₀(1+1/d)⌋, computed once here and interpolated as literals
    * into BOTH engines' plans so no runtime libm call has to agree.
    */
  val benfordExpMicro: Seq[(Int, Long)] =
    (1 to 9).map(d => d -> (1e6 * math.log10(1.0 + 1.0 / d)).toLong)

  /** Benford's-law screen over a money column: observed first-significant-
    * digit counts vs the Benford expectation (the forensic-accounting
    * anomaly test; synthetic TPC-H prices are uniform-ish, so the audit
    * honestly reports large deviations — that's the report working).
    * One grouped scan per column; shares and deviations in exact integer
    * micro-units (share = ⌊n_d·10⁶/n⌋, expectation a shared literal).
    */
  def benfordAudit(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    def leg(df: DataFrame, colName: String): DataFrame =
      df.filter(col(colName) >= 1.0)
        .select(substring(floor(col(colName)).cast("long").cast("string"), 1, 1)
          .cast("int").as("digit"))
        .groupBy(col("digit"))
        .agg(count(lit(1)).as("n_obs"))
        .select(lit(colName).as("src_col"), col("digit"), col("n_obs"))
    val obs = leg(orders, "o_totalprice")
      .unionByName(leg(lineitem, "l_extendedprice"))
    val totalW = org.apache.spark.sql.expressions.Window.partitionBy(col("src_col"))
    val expCase = benfordExpMicro.foldRight(lit(null).cast("long"): Column) {
      case ((d, micro), rest) => when(col("digit") === d, lit(micro)).otherwise(rest)
    }
    obs
      .withColumn("total", sum(col("n_obs")).over(totalW))
      .withColumn("obs_micro", expr("(n_obs * 1000000) div total"))
      .select(col("src_col"), col("digit").cast("long").as("digit"), col("n_obs"),
        col("obs_micro"), expCase.as("exp_micro"))
      .withColumn("dev_micro", abs(col("obs_micro") - col("exp_micro")))
  }

  /** Sketch-governance audit for approximate percentiles: per order
    * priority, the EXACT P50/P90 (nearest-rank over the value-CDF — the
    * scale-safe formulation: the ranked window runs on distinct values,
    * never a row sort) next to `percentile_approx`'s answer, verified to
    * sit inside its contractual rank-error band (±n/accuracy, +1 for the
    * definitional off-by-one between nearest-rank and the sketch's
    * target). The booleans are the audit: the oracle pins them TRUE, so
    * a sketch drifting out of contract fails the hash gate. This is the
    * "is the cheap estimator still trustworthy" check a 100 TB pipeline
    * runs before replacing exact quantiles with sketches.
    */
  def quantileSketchAudit(orders: DataFrame, accuracy: Int = 1000): DataFrame = {
    val vals = orders.select(col("o_orderpriority"),
      floor(col("o_totalprice") * 100.0).cast("long").as("cents"))
    val byVal = vals.groupBy(col("o_orderpriority"), col("cents"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wT = Window.partitionBy(col("o_orderpriority"))
    val ranked = byVal
      .withColumn("cum", sum(col("n")).over(w))
      .withColumn("total", sum(col("n")).over(wT))
    def r(p: Int) = expr(s"(total * $p + 99) div 100")
    val e = expr(s"total div $accuracy") + lit(1L)
    def at(rank: Column, name: String) =
      min(when(col("cum") >= rank, col("cents"))).as(name)
    val exact = ranked.groupBy(col("o_orderpriority")).agg(
      max(col("total")).as("n_rows"),
      at(r(50), "p50_cents"),
      at(greatest(r(50) - e, lit(1L)), "p50_lo"),
      at(least(r(50) + e, col("total")), "p50_hi"),
      at(r(90), "p90_cents"),
      at(greatest(r(90) - e, lit(1L)), "p90_lo"),
      at(least(r(90) + e, col("total")), "p90_hi"))
    val approx = vals.groupBy(col("o_orderpriority")).agg(
      percentile_approx(col("cents"), lit(0.5), lit(accuracy)).as("a50"),
      percentile_approx(col("cents"), lit(0.9), lit(accuracy)).as("a90"))
    exact.join(approx, Seq("o_orderpriority"))
      .select(col("o_orderpriority"), col("n_rows"),
        round(col("p50_cents") / 100.0, 2).as("exact_p50"),
        round(col("p90_cents") / 100.0, 2).as("exact_p90"),
        col("a50").between(col("p50_lo"), col("p50_hi")).as("ok_p50"),
        col("a90").between(col("p90_lo"), col("p90_hi")).as("ok_p90"))
  }

  /** Lakehouse-manifest-style partition statistics: per ship-month of
    * the line fact, row count plus min/max/null-count for the pruning
    * columns (quantity, price, shipdate). This is exactly the metadata a
    * Delta/Iceberg manifest carries per file — computed engine-side it
    * (a) audits that a partitioned layout WOULD skip (tight non-
    * overlapping bounds ⇒ a price/date predicate prunes whole months)
    * and (b) feeds external tools that plan reads from stats alone.
    *
    * Scale: one map-side-combined grouped scan of the fact; output is
    * |months|-sized. All stats are commutative aggregates — at 100 TB
    * this parallelizes perfectly and nothing but the final rollup moves.
    */
  def partitionStats(lineitem: DataFrame): DataFrame =
    lineitem
      .select(date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"),
        col("l_quantity"), col("l_shipdate"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"))
      .groupBy(col("ship_month"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("l_quantity")).cast("long").as("min_qty"),
        max(col("l_quantity")).cast("long").as("max_qty"),
        round(min(col("cents")) / 100.0, 2).as("min_price"),
        round(max(col("cents")) / 100.0, 2).as("max_price"),
        to_date(min(col("l_shipdate"))).as("min_shipdate"),
        to_date(max(col("l_shipdate"))).as("max_shipdate"),
        sum(when(col("l_quantity").isNull, 1L).otherwise(0L))
          .as("null_qty"))

  /** Edit-distance record linkage over a name column — the
    * entity-resolution primitive (find near-identical identities), via
    * symmetric-delete (SymSpell) candidate generation: each name emits
    * itself plus every one-char-deletion variant as join keys, and any
    * two names within Levenshtein distance 1 provably share a key
    * (substitution → both delete the differing position; insert/delete →
    * the shorter IS a deletion variant of the longer). So candidates have
    * FULL recall at distance ≤ 1, with no prefix-blocking blind spot.
    *
    * Scale: key volume is (len+1)·corpus and each key bucket holds only
    * genuinely confusable names, so the self-join is near-linear — vs the
    * Σ(block²) of prefix blocking (measured 20× faster here). The exact
    * verify runs codegen'd `levenshtein` on candidates only.
    */
  def nameFuzzyPairs(customer: DataFrame): DataFrame =
    fuzzyNamePairGraph(customer)
      .select(col("id_a"), col("id_b"), col("name_a"), col("name_b"), col("dist"))

  /** The UNBLOCKED dist≤1 candidate-pair graph both [[nameFuzzyPairs]]
    * and [[erClusters]] consume, derived once per session per input
    * (Memo): the deletion-variant index, its hash self-join, and the
    * exact levenshtein verify are the corpus-sized part of both
    * operators — building it twice doubled the round-9 bench's single
    * biggest line. Carries each endpoint's nation so the ER path can
    * apply its blocking as a post-FILTER (same-nation pairs) instead of
    * re-deriving the index with the block baked into the join key.
    */
  private def fuzzyNamePairGraph(customer: DataFrame): DataFrame =
    Memo.cached("fuzzy_name_pairs", customer) { cust =>
      val names = cust.select(col("c_custkey").cast("long").as("id"),
        col("c_nationkey").cast("long").as("nat"), col("c_name").as("name"))
      // The variant index carries ONLY (h, id) — 16 bytes/row. The join
      // was already on xxhash64(k), so hashing before the dedupe is
      // candidate-identical (two same-name variants with colliding
      // hashes joined the same bucket anyway); names/nations rejoin to
      // the PAIR list below instead of riding every deletion-variant row
      // through the distinct + self-join shuffles (the (len+1)·corpus
      // index rows are ~20× the corpus — round 14 profiled ~16
      // executor-seconds of name strings moving through this join).
      val keys = names.select(col("id"), xxhash64(col("name")).as("h"))
        .unionByName(names
          .select(col("id"), col("name"),
            explode(expr("sequence(1, length(name))")).as("i"))
          .select(col("id"),
            xxhash64(expr("concat(substring(name, 1, i - 1), " +
              "substring(name, i + 1, length(name)))")).as("h")))
        // a run of identical chars yields the same deletion variant from
        // every position in the run — dedupe, or buckets fan out quadratically
        .distinct()
      // Eagerly checkpointed, not lazily persisted: the self-join's two
      // map stages schedule concurrently, and racing scans of an
      // unpopulated cache would each re-pay the explode + distinct
      // derivation (the pair_medians pathology). The finally still
      // releases the index on every path once the pair list is consumed.
      // spread before the checkpoint: the distinct's output is small in
      // BYTES, so AQE coalesces it to 1-2 partitions, and a checkpoint
      // taken there would pin the self-join's map stages at that
      // parallelism (measured +2.1 s on this line round 14)
      // session-scoped release (the dedupMinhashLshImpl convention)
      // instead of a try/finally around an inner eager checkpoint: the
      // old shape materialized the verify output TWICE (once for the
      // finally's release point, once for the Memo wrapper's checkpoint
      // — two ~1.7 s scans of the 262k-pair result at sf0.1)
      val hashed = Memo.managedCheckpoint(OpUtils.spread(keys))
      // explicit user-origin repartition on the join key: the variant
      // self-join's ENSURE exchanges are byte-tiny and AQE-coalesce to
      // ONE partition, which ran the join + partial pair-dedup
      // single-task (profiled 1.46 s on one core)
      val par = customer.sparkSession.sparkContext.defaultParallelism
      val cands = hashed.select(col("h"), col("id").as("id_a"))
        .repartition(par, col("h"))
        .join(hashed.select(col("h"), col("id").as("id_b")), Seq("h"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b")
        // user-origin hash repartition on the pair key: the distinct's
        // ENSURE exchange is byte-tiny and its final agg AQE-coalesced to
        // ONE task (profiled 1.15 s on one core); the distinct reuses
        // this partitioning (same keys), so the dedup AND the levenshtein
        // verify downstream keep defaultParallelism tasks at any SF —
        // the name/nation attach joins broadcast the dim-sized side
        .repartition(par, col("id_a"), col("id_b"))
        .distinct()
      cands
        .join(names.select(col("id").as("id_a"), col("nat").as("nat_a"),
          col("name").as("name_a")), Seq("id_a"))
        .join(names.select(col("id").as("id_b"), col("nat").as("nat_b"),
          col("name").as("name_b")), Seq("id_b"))
        .select(col("id_a"), col("id_b"), col("nat_a"), col("nat_b"),
          col("name_a"), col("name_b"))
        .withColumn("dist", levenshtein(col("name_a"), col("name_b")).cast("long"))
        .filter(col("dist") <= 1)
    }

  /** Join-cardinality estimation audit — the CBO primitive behind every
    * join-order decision: for each candidate equi-join, the classic
    * per-side-stats estimate |L|·|R| / max(ndv_L, ndv_R) (what an
    * optimizer computes from table stats WITHOUT touching the join)
    * against the exact size Σ_k c_L(k)·c_R(k) (computable from two
    * keyspace-grain rollups — still never executing the row-level
    * join). The err column is what tells a planner its stats are stale
    * or a key is skewed. All arithmetic in DECIMAL(38,0): two lake-scale
    * row counts multiply past 2⁶³ long before the join itself breaks.
    *
    * Scale: per edge, two map-side-combined rollups to keyspace grain
    * plus a keyspace-sized join — the same volume a distinct-count pass
    * already touches; the corpus rows are never paired.
    */
  def joinSizeEstimate(orders: DataFrame, lineitem: DataFrame,
      customer: DataFrame): DataFrame = {
    def edge(name: String, left: DataFrame, lk: String,
        right: DataFrame, rk: String): DataFrame = {
      val l = left.filter(col(lk).isNotNull)
        .groupBy(col(lk).cast("long").as("k")).agg(count(lit(1)).as("cl"))
      val r = right.filter(col(rk).isNotNull)
        .groupBy(col(rk).cast("long").as("k")).agg(count(lit(1)).as("cr"))
      val sides = l.agg(sum(col("cl")).as("n_left"),
          count(lit(1)).as("ndv_left"))
        .crossJoin(r.agg(sum(col("cr")).as("n_right"),
          count(lit(1)).as("ndv_right")))
      val exact = l.join(r, Seq("k"))
        .agg(coalesce(sum(col("cl").cast("decimal(38,0)") * col("cr")),
          lit(0).cast("decimal(38,0)")).as("exact_rows"))
      // internal arithmetic is DECIMAL(38,0); outputs project to LONG —
      // ANSI mode turns a (pathological many-to-many) overflow into a
      // loud error, never a silent wrap
      sides.crossJoin(exact)
        .select(lit(name).as("join_key"), col("n_left"), col("n_right"),
          col("ndv_left"), col("ndv_right"),
          expr("(cast(n_left as decimal(38,0)) * n_right) div " +
            "greatest(ndv_left, ndv_right)").as("est_rows"),
          col("exact_rows").cast("decimal(38,0)").as("exact_d"))
        // err computed on the non-negative magnitude with an explicit
        // sign branch: both engines' integer division then agrees
        // regardless of their floor-vs-truncate convention for
        // negative numerators
        .withColumn("est_err_micro",
          expr("cast(case when est_rows >= exact_d " +
            "then ((est_rows - exact_d) * 1000000) div exact_d " +
            "else -(((exact_d - est_rows) * 1000000) div exact_d) " +
            "end as bigint)"))
        .select(col("join_key"), col("n_left"), col("n_right"),
          col("ndv_left"), col("ndv_right"),
          col("est_rows").cast("long").as("est_rows"),
          col("exact_d").cast("long").as("exact_rows"), col("est_err_micro"))
    }
    edge("orders.o_orderkey=lineitem.l_orderkey",
        orders, "o_orderkey", lineitem, "l_orderkey")
      .unionByName(edge("customer.c_custkey=orders.o_custkey",
        customer, "c_custkey", orders, "o_custkey"))
  }

  /** Per-column statistics drift between a BASELINE and a CURRENT
    * snapshot of the same table — the data-contract check a warehouse
    * team runs on every load before publishing: row/null accounting and
    * value-range movement per column, with a range-expansion flag (a new
    * min below or max above the baseline envelope is the classic symptom
    * of an upstream schema/unit change, e.g. dollars→cents). Columns are
    * compared as longs — callers project/quantize first (cents, day
    * numbers), which also fixes the cross-engine representation.
    *
    * Scale: each snapshot is scanned ONCE via a melted explode (the
    * [[childKeyRollup]] trick — one pass however many columns), rolled
    * up map-side to |cols| rows; the join is |cols|-sized. Null-rate
    * deltas are exact integer micro-units.
    */
  def statsDrift(baseline: DataFrame, current: DataFrame,
      cols: Seq[String]): DataFrame = {
    def leg(df: DataFrame, side: String): DataFrame =
      df.select(explode(array(cols.map(c =>
          struct(lit(c).as("c"), col(c).cast("long").as("v"))): _*)).as("e"))
        .select(col("e.c").as("col_name"), col("e.v").as("v"))
        .groupBy(col("col_name"))
        .agg(count(lit(1)).as(s"n_$side"),
          sum(when(col("v").isNull, 1L).otherwise(0L)).as(s"nulls_$side"),
          min(col("v")).as(s"min_$side"), max(col("v")).as(s"max_$side"))
    leg(baseline, "base").join(leg(current, "cur"), Seq("col_name"))
      .withColumn("null_rate_delta_micro",
        expr("(nulls_cur * 1000000) div n_cur - (nulls_base * 1000000) div n_base"))
      .withColumn("range_expanded",
        col("min_cur") < col("min_base") || col("max_cur") > col("max_base"))
      .select(col("col_name"), col("n_base"), col("n_cur"),
        col("nulls_base"), col("nulls_cur"),
        col("min_base"), col("min_cur"), col("max_base"), col("max_cur"),
        col("null_rate_delta_micro"), col("range_expanded"))
  }

  /** Join-strategy advisor — the planning decision the CBO makes from
    * table stats, surfaced as a report: for each candidate equi-join
    * edge, both sides' row counts, key NDVs, and hottest-key counts,
    * and the strategy a 100 TB planner should pick:
    *   - `broadcast_right` / `broadcast_left`: the smaller side fits the
    *     broadcast budget (right wins ties — build side convention);
    *   - `shuffle_salted`: both sides big AND either side's skew factor
    *     (hottest·ndv/n; 10⁶ = uniform) crosses the threshold — a plain
    *     shuffle would bottleneck on the hot key's single reducer;
    *   - `shuffle_hash`: both big, no pathological key.
    * Null keys are excluded (they never match an equi-join anyway).
    *
    * Scale: per side ONE map-side-combined keyspace rollup folded to a
    * single stats row — the volume a distinct-count already pays; the
    * fact rows are never joined. Skew factors in DECIMAL(38,0) micro
    * units (cnt·ndv crosses 2⁶³ at corpus scale).
    */
  def joinPlanAdvisor(
      edges: Seq[(String, DataFrame, String, DataFrame, String)],
      broadcastRowLimit: Long = 2000, skewFactorMicro: Long = 10000000): DataFrame =
    edges.map { case (name, left, lk, right, rk) =>
      def side(df: DataFrame, k: String, s: String): DataFrame =
        df.filter(col(k).isNotNull)
          .groupBy(col(k).cast("long").as("k")).agg(count(lit(1)).as("cnt"))
          .agg(sum(col("cnt")).as(s"n_$s"), count(lit(1)).as(s"ndv_$s"),
            max(col("cnt")).as(s"max_cnt_$s"))
      side(left, lk, "left").crossJoin(broadcast(side(right, rk, "right")))
        .withColumn("skew_left_micro",
          expr("(cast(max_cnt_left as decimal(38,0)) * ndv_left * 1000000) div n_left"))
        .withColumn("skew_right_micro",
          expr("(cast(max_cnt_right as decimal(38,0)) * ndv_right * 1000000) div n_right"))
        .select(lit(name).as("join_key"),
          col("n_left"), col("n_right"), col("ndv_left"), col("ndv_right"),
          col("max_cnt_left"), col("max_cnt_right"),
          expr("cast(skew_left_micro as bigint)").as("skew_left_micro"),
          expr("cast(skew_right_micro as bigint)").as("skew_right_micro"),
          when(col("n_right") <= broadcastRowLimit &&
              col("n_right") <= col("n_left"), "broadcast_right")
            .when(col("n_left") <= broadcastRowLimit, "broadcast_left")
            .when(expr("cast(skew_left_micro as bigint)") >= skewFactorMicro ||
              expr("cast(skew_right_micro as bigint)") >= skewFactorMicro,
              "shuffle_salted")
            .otherwise("shuffle_hash").as("recommended"))
    }.reduce(_ unionByName _)

  /** k-anonymity audit of the corpus metadata — the release-governance
    * check a training-data distribution runs: documents sharing one
    * quasi-identifier combination (lang, source, n_chars bucketed to
    * `charsBucket`) form an equivalence class, and classes smaller than
    * `k` are re-identification risks (their members are near-unique
    * under exactly the attributes a dataset card reveals). Output is
    * the BOUNDED log2 class-size histogram: per size class, group and
    * doc counts plus the at-risk doc mass (docs in classes < k) — the
    * "12% of docs sit in groups smaller than 5" number, not a
    * corpus-sized dump. Two map-side-combined aggregations; floor-log2
    * is the exact integer `length(bin(g)) - 1` (no libm anywhere, the
    * engine-parity rule).
    */
  def kAnonymityReport(documents: DataFrame, k: Int = 5,
      charsBucket: Int = 256): DataFrame = {
    require(k >= 2 && charsBucket >= 1)
    val groups = documents
      .groupBy(col("lang"), col("source"),
        expr(s"n_chars div $charsBucket").as("chars_bucket"))
      .agg(count(lit(1)).as("g"))
    groups
      .select(col("g"), (length(bin(col("g"))) - 1).cast("long").as("size_class"))
      .groupBy(col("size_class"))
      .agg(count(lit(1)).as("n_groups"),
        sum(col("g")).as("n_docs"),
        sum(when(col("g") < k, col("g")).otherwise(0L)).as("n_risk_docs"))
  }

  /** l-diversity audit — the second standard release gate next to
    * [[kAnonymityReport]]: k-anonymity bounds how SMALL a
    * quasi-identifier equivalence class may be, but a large class whose
    * members all share one SENSITIVE value still discloses it (the
    * homogeneity attack — Machanavajjhala et al. 2007). Classes here
    * are (source, n_chars bucketed to `charsBucket`); the sensitive
    * attribute is `lang`; a class with fewer than `l` distinct
    * sensitive values is flagged. Output is the BOUNDED diversity
    * histogram (one row per distinct-lang count ≤ |langs|): group and
    * doc counts plus the risk verdict — the "31% of docs sit in
    * single-language classes" number, not a corpus-sized dump.
    *
    * Scale: two map-side-combined aggregations (class rollup with a
    * distinct-count, then the ≤|langs|-row histogram) — the
    * k_anonymity_report shape; no window, no join.
    */
  def lDiversityReport(documents: DataFrame, l: Int = 3,
      charsBucket: Int = 256): DataFrame = {
    require(l >= 2 && charsBucket >= 1)
    val groups = documents
      .groupBy(col("source"), expr(s"n_chars div $charsBucket").as("chars_bucket"))
      .agg(count(lit(1)).as("g"), countDistinct(col("lang")).as("ld"))
    groups
      .groupBy(col("ld").as("l_distinct"))
      .agg(count(lit(1)).as("n_groups"), sum(col("g")).as("n_docs"))
      .withColumn("is_risk", col("l_distinct") < l)
  }

  /** Entity-resolution clusters: connected components over the blocked
    * fuzzy-match graph (edit distance ≤ 1 between customer names, WITHIN
    * a nation — the classic ER blocking key that keeps candidate sets
    * and components bounded by the block, so no transitive chain can
    * span blocks). [[nameFuzzyPairs]] reports the candidate PAIRS; this
    * resolves them into entities — cluster id (min custkey), size, and
    * the surviving-representative flag, the same verdict shape as
    * [[DedupOps.dedupClusters]], whose CC core ([[DedupOps.ccLabels]])
    * it reuses (rounds grow with log(nodes), driver sees only changed
    * counts).
    *
    * Candidates come from the deletion-variant trick: strings within
    * edit distance 1 share a deletion variant, so the self-join runs on
    * variant hashes (Σ block² over ~name-length-sized blocks), never on
    * the customer table squared; exact levenshtein verifies each
    * candidate. The index + self-join + verify is [[fuzzyNamePairGraph]]
    * — Memo-shared with [[nameFuzzyPairs]], with nation blocking applied
    * as a post-filter on the verified pairs (an equivalent and strictly
    * cheaper plan than baking the block into the join key twice).
    */
  def erClusters(customer: DataFrame): DataFrame =
    // memoized like dedup_clusters: the CC loop (the iterative part)
    // runs once per session per input
    Memo.cached("er_clusters", customer)(erClustersImpl)

  private def erClustersImpl(customer: DataFrame): DataFrame = {
    // nation blocking as a post-filter over the Memo-shared unblocked
    // pair graph: [[nameFuzzyPairs]]' verify already rejected everything
    // beyond dist 1, so same-nation selection is exactly the blocked
    // candidate set — the deletion-variant index builds once per session
    // for BOTH operators instead of once each
    val pairs = fuzzyNamePairGraph(customer)
      .filter(col("nat_a") === col("nat_b"))
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
    val labels = DedupOps.ccLabels(pairs)
    labels
      .select(col("node").as("c_custkey"), col("cluster_id"))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
      .withColumn("is_representative", col("c_custkey") === col("cluster_id"))
  }

  /** Partition-backfill plan — the PURE-QUERY half of the reference
    * DAG's catchup loop (`nyc_ingestion_dag.py:25-41`: "for each year,
    * pull unless it already landed"), over the warehouse's own month
    * grain: the complete month spine from first to last order date,
    * each month's present row count, and the `missing` verdict that
    * tells [[graft.sources.Sinks.backfillHttpWindows]] (the EFFECTFUL
    * half) which windows to fetch. A feed that silently skipped March
    * shows up here as `missing = true` — the gap check every
    * partition-loaded table needs before anyone trusts a month-over-
    * month trend on it.
    *
    * Scale: one map-side-combined rollup to month grain; the spine
    * explodes from a 1-row min/max aggregate and is calendar-bounded
    * (|months|), so the anti-join is spine-sized at any SF.
    */
  def backfillPlan(orders: DataFrame): DataFrame = {
    val present = orders
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n_rows"))
    val spine = orders
      .agg(min(to_date(col("o_orderdate"))).as("lo"),
        max(to_date(col("o_orderdate"))).as("hi"))
      .filter(col("lo").isNotNull)
      .select(explode(expr(
        "sequence(trunc(lo, 'MM'), trunc(hi, 'MM'), interval 1 month)"))
        .as("m"))
      .select(date_format(col("m"), "yyyy-MM").as("month"))
    spine.join(present, Seq("month"), "left")
      .select(col("month"), coalesce(col("n_rows"), lit(0L)).as("n_rows"),
        col("n_rows").isNull.as("missing"))
  }

  /** Functional-dependency audit (data profiling's FD-discovery check,
    * Metanome-style, over a fixed candidate set): for each candidate
    * determinant → dependent pair, how many determinant groups exist,
    * how many carry MORE than one dependent value (violations), and how
    * many rows sit in violating groups. `holds` is the exact FD verdict.
    *
    * Scale: one map-side-combined rollup per candidate to the
    * (determinant, dependent) grain, then a keyspace-grain re-rollup —
    * the row-level tables are touched once each; nothing joins.
    */
  def fdAudit(customer: DataFrame, part: DataFrame, orders: DataFrame,
      documents: DataFrame): DataFrame = {
    def audit(df: DataFrame, tab: String, det: String, dep: String): DataFrame =
      df.groupBy(col(det).cast("string").as("d"))
        .agg(countDistinct(col(dep)).as("ndep"), count(lit(1)).as("rows"))
        .agg(count(lit(1)).as("n_groups"),
          sum(when(col("ndep") > 1, 1L).otherwise(0L)).as("n_violating_groups"),
          sum(when(col("ndep") > 1, col("rows")).otherwise(0L)).as("n_violating_rows"))
        .select(lit(tab).as("tab"), lit(det).as("determinant"),
          lit(dep).as("dependent"), col("n_groups"),
          col("n_violating_groups"), col("n_violating_rows"))
        .withColumn("holds", col("n_violating_groups") === 0L)
    audit(customer, "customer", "c_name", "c_nationkey")
      .unionByName(audit(part, "part", "p_brand", "p_type"))
      .unionByName(audit(part, "part", "p_type", "p_brand"))
      .unionByName(audit(orders, "orders", "o_custkey", "o_orderstatus"))
      .unionByName(audit(documents, "documents", "source", "lang"))
  }

  /** ε for the DP release in micro units (ε = 1), carried on every
    * released row as the privacy-accounting column.
    */
  val DpEpsilonMicro: Long = 1000000L

  /** Noise clamp: z outside ±20 collapses to the endpoint. The clipped
    * tail mass is 2·α²¹/(1+α) < 1.2·10⁻⁹ at ε = 1 — below the 10⁻⁶
    * resolution of the micro-threshold table, so the clamp never
    * actually fires; it just bounds the CASE ladder.
    */
  val DpNoiseClampZ: Int = 20

  /** ⌊10⁶·P(Z ≤ z)⌋ thresholds of the DISCRETE Laplace (two-sided
    * geometric) distribution at ε = 1 — P(Z = z) ∝ α^|z| with
    * α = e^(−ε), the geometric mechanism of Ghosh–Roughgarden–
    * Sundararajan 2009 (the standard integer-count DP mechanism; its
    * closed-form CDF is α^(−z)/(1+α) below zero and 1 − α^(z+1)/(1+α)
    * at/above). Computed ONCE on the driver and inlined as integer
    * literals into BOTH the Spark plan and the generated oracle SQL, so
    * engine parity is by construction — the [[graft.operators.StatOps]]
    * PoissonCdfMicro discipline. Uses `StrictMath` (not
    * `java.lang.Math`, which permits platform-dependent 1-ulp error) so
    * the 40 threshold literals — and therefore the whole release — are
    * bit-identical across JVMs and architectures, not just within one
    * run.
    */
  val DpGeomCdfMicro: Seq[(Int, Long)] = {
    val alpha = StrictMath.exp(-1.0)
    (-DpNoiseClampZ until DpNoiseClampZ).map { z =>
      val cdf =
        if (z < 0) StrictMath.pow(alpha, -z) / (1.0 + alpha)
        else 1.0 - StrictMath.pow(alpha, z + 1) / (1.0 + alpha)
      z -> math.floor(1e6 * cdf).toLong
    }
  }

  /** Differentially-private release of the per-(lang, source) document
    * counts — the third leg of the release-governance trio next to
    * [[kAnonymityReport]] and [[lDiversityReport]]: where those AUDIT
    * re-identification risk, this one actually RELEASES the dataset-card
    * composition table under ε-DP. Each class count gets integer noise
    * from the geometric mechanism (discrete Laplace — see
    * [[DpGeomCdfMicro]]); classes whose NOISY count falls below
    * `releaseThreshold` are withheld entirely (the stability-histogram
    * release: thresholding on the noised value is what lets the class
    * DOMAIN stay private too). Every released row carries
    * `epsilon_micro`; classes are disjoint, so parallel composition
    * prices the whole table at ε = 1, not ε·classes.
    *
    * Noise is a pure function of the salted class key (inverse-CDF on
    * the md5-prefix uniform, the `bootstrap_ci` idiom) — no RNG state,
    * so with the same `secretSalt` the release is reproducible and the
    * DuckDB oracle replays it bit-for-bit.
    *
    * '''Threat model — read before claiming privacy.''' The privacy of
    * the geometric mechanism rests entirely on the noise being
    * unpredictable to the adversary. Here the noise is
    * hash(secretSalt ‖ class-label), so it is exactly as secret as
    * `secretSalt`: with the DEFAULT salt ("dp:", a compile-time
    * constant visible in this source file) anyone can recompute every
    * z and recover the exact count `g = released_count − z` — the
    * default path is a reproducible geometric-mechanism DEMO for the
    * cross-engine oracle gate and offers NO privacy guarantee against
    * anyone who can read this code. For a real release, pass a
    * `secretSalt` drawn fresh from a CSPRNG, treat it like a key (never
    * log or commit it), and accept that replay is then possible only
    * for holders of the salt. The `epsilon_micro` accounting column
    * states the mechanism's ε = 1 (parallel composition over disjoint
    * classes); it is meaningful only under a secret salt.
    *
    * Scale: one map-side-combined rollup to the bounded class table
    * (langs × sources), then per-row integer arithmetic. No window, no
    * join, nothing driver-side.
    */
  def dpReleaseCounts(documents: DataFrame,
      releaseThreshold: Long = 5,
      secretSalt: String = "dp:"): DataFrame = {
    require(releaseThreshold >= 1)
    val noise = DpGeomCdfMicro.foldRight(lit(DpNoiseClampZ): Column) {
      case ((z, t), e) => when(col("u") < t, z).otherwise(e)
    }
    documents
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("g"))
      .withColumn("x", graft.functions.HashFns.hash32(
        concat(lit(secretSalt), col("lang"), lit(":"), col("source"))))
      .withColumn("u", expr("(x * 1000000) div 4294967296"))
      .withColumn("z", noise)
      .filter(col("g") + col("z") >= releaseThreshold)
      .select(col("lang"), col("source"),
        (col("g") + col("z")).cast("long").as("released_count"),
        lit(DpEpsilonMicro).as("epsilon_micro"))
  }
}
