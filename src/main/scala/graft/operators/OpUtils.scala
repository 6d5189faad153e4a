package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

private[graft] object OpUtils {
  /** Width of every shuffle graft places by hand: the session's
    * `spark.sql.shuffle.partitions`, the one width setting a deployer
    * sizes for the cluster (graft's sessions set it to the core count).
    */
  def width(spark: SparkSession): Int =
    spark.conf.get("spark.sql.shuffle.partitions").toInt

  /** A hand-placed exchange of [[width]] partitions: round-robin with no
    * `keys`, hash-partitioned on `keys` otherwise.
    *
    * The explicit partition count is the point. It makes the exchange a
    * `REPARTITION_BY_NUM`, which AQE's `CoalesceShufflePartitions` never
    * coalesces. Graft's sessions coalesce size-first, so a shuffle that
    * is small in BYTES but heavy in per-row work (array verifies, windows
    * over narrow rows, joins of long keys) would otherwise run as one
    * task. Downstream joins, aggregates and windows on the same keys
    * reuse this partitioning instead of adding an exchange of their own.
    * With no keys it also spreads a scan with fewer splits than cores
    * before a CPU-dense per-row stage.
    */
  def spread(df: DataFrame, keys: Column*): DataFrame = {
    val n = width(df.sparkSession)
    if (keys.isEmpty) df.repartition(n) else df.repartition(n, keys: _*)
  }

  /** [[spread]] of the documents table, memoized per session per input:
    * ~20 text-family operators each paid their OWN single-task read of
    * the (single-row-group) text parquet plus a full-text shuffle before
    * their parallel stage — the serialized read was the top fixed cost
    * of the whole family (profiled 0.5-1.3 s per operator at sf0.1).
    * The checkpoint holds exactly spread()'s output — same partitioning,
    * same per-partition row order (repartition is deterministic under
    * sortBeforeRepartition) — so consumers are row-identical. Corpus-
    * sized like the established text memos (doc_shingle_sets is O(text)
    * too); at 100 TB the inputs arrive in many splits and the first
    * pass is the only full-text materialization of the session.
    */
  def spreadDocs(df: DataFrame): DataFrame =
    Memo.cached("docs_spread", df)(spread(_))

  // NOTE (round 14): a data-sized-partitioning helper (eager checkpoint
  // + count + coalesce to rows/2000 tasks) was built and measured on the
  // Lloyd/IRLS/CC loop frames — per-query deltas were within run noise
  // (the loops' cost is per-job driver latency, not per-task overhead),
  // so it was reverted rather than kept as an unearned complication.

  /** Cumulative sum of `weightCol` in `valueCol` order over a
    * DISTINCT-VALUE-grain table, in TWO bounded window levels (the
    * theil_sen_cdf / skyline pattern): values range-bucket into ≤1025
    * buckets — truncating division on the non-negative shift is
    * monotonic, so bucket order is value order — the cross-bucket
    * prefix rides a window over BUCKET SUMMARIES only, and the
    * within-bucket cumulative partitions by bucket. No unpartitioned
    * window ever sees the full grid, so a wide value domain degrades
    * to parallel bucket work, never one straggler task. Returns the
    * input columns plus `cum`. `valueCol` must be integral.
    */
  def twoLevelCum(df: DataFrame, valueCol: String, weightCol: String,
      groupCols: Seq[String] = Nil): DataFrame = {
    // eager checkpoint of the caller's rollup: the construction below
    // reads it THREE times (range agg, bucket totals, in-bucket window),
    // and the consumers schedule concurrently — without a materialized
    // leaf every racer re-runs the caller's fact-sized rollup (profiled
    // r15 on mann_whitney_u: lineitem scanned 3×, the 583k-row cents
    // rollup aggregated twice). The input is domain-grain by contract
    // ("callers must quantize first"), so the materialization is bounded.
    val base = Memo.managedCheckpoint(df)
    val gc = groupCols.map(col)
    // with groupCols the whole construction runs per group (per-group
    // range, per-group bucket grid, prefix windows partitioned by the
    // group) — several CDFs over different value domains build in ONE
    // pass instead of one derivation each
    val rng =
      if (groupCols.isEmpty)
        base.agg(min(col(valueCol)).as("__lo"), max(col(valueCol)).as("__hi"))
      else base.groupBy(gc: _*)
        .agg(min(col(valueCol)).as("__lo"), max(col(valueCol)).as("__hi"))
    val withRng =
      if (groupCols.isEmpty) base.crossJoin(broadcast(rng))
      else base.join(broadcast(rng), groupCols)
    val bucketed = withRng
      .withColumn("__bucket", expr(
        s"($valueCol - __lo) div " +
          "greatest(cast(1 as bigint), (__hi - __lo) div 1024 + 1)"))
    val bucketTotals = bucketed
      .groupBy((gc :+ col("__bucket")): _*)
      .agg(sum(col(weightCol)).as("__bn"))
      .withColumn("__prior", coalesce(sum(col("__bn")).over(
        Window.partitionBy(gc: _*).orderBy(col("__bucket"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select((groupCols.map(c => col(c).as(s"__g_$c")) :+
        col("__bucket").as("__bkt") :+ col("__prior")): _*)
    val joinCond = (groupCols.map(c => col(c) === col(s"__g_$c")) :+
      (col("__bucket") === col("__bkt"))).reduce(_ && _)
    bucketed
      .withColumn("__incum", sum(col(weightCol)).over(
        Window.partitionBy((gc :+ col("__bucket")): _*).orderBy(col(valueCol))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .join(broadcast(bucketTotals), joinCond)
      .withColumn("cum", col("__prior") + col("__incum"))
      .drop("__lo", "__hi", "__bucket", "__bkt", "__prior", "__incum")
      .drop(groupCols.map(c => s"__g_$c"): _*)
  }

  /** THE daily order-fact rollup, Memo-shared by the whole daily-ops
    * family (Theil–Sen, Hodges–Lehmann, Kendall τ, runs test, ACF,
    * dispersion, EWMA, Holt, CUSUM, streaks, gapfill, motifs, backlog
    * opens): one fact-sized map-side-combined scan per session per
    * input yields the CALENDAR-bounded table (d date, t day-index,
    * y exact revenue cents, m order count) — ≤ ~2.5k rows for the
    * 7-year history at ANY SF. Before this each member re-derived its
    * own `groupBy(o_orderdate)`, i.e. one redundant full corpus scan
    * per query per session at 100 TB. `o_orderdate` is date-valued
    * (midnight timestamps), so the date grain equals the raw grain.
    */
  def dailyFact(orders: DataFrame): DataFrame =
    Memo.cached("daily_fact", orders) { o =>
      o.groupBy(to_date(col("o_orderdate")).as("d"))
        .agg((sum(col("o_totalprice").cast("decimal(18,2)")) * 100)
          .cast("long").as("y"),
          count(lit(1)).as("m"))
        .select(col("d"),
          datediff(col("d"), to_date(lit("1992-01-01")))
            .cast("long").as("t"),
          col("y"), col("m"))
    }

  /** The O(days²) day-pair table (tb ≥ ta) over [[dailyFact]], built
    * ONCE per session and shared by every pairwise daily statistic:
    * the Theil–Sen slope CDF filters the diagonal (tb > ta), the
    * Hodges–Lehmann Walsh CDF groups yᵢ+yⱼ, Kendall τ compares the
    * (y, m) sign pattern. Calendar-bounded by construction (≤ ~3M
    * pairs × 6 longs at ANY SF — checkpointable), broadcast on the
    * build's right side so the pair join never shuffles.
    */
  def dayPairs(orders: DataFrame): DataFrame = {
    val daily = dailyFact(orders)
    Memo.cached("day_pairs", daily) { d =>
      // spread the probe side: the daily agg AQE-coalesces to ONE
      // partition (2.4k rows), and without this the NLJ — and every
      // downstream consumer of the checkpoint, explode passes included —
      // inherits that single partition and runs one-threaded (measured
      // 2.6 s + 4.7 s single-task stages inside pair_medians)
      val a = spread(d.select(col("t").as("ta"), col("y").as("ya"),
        col("m").as("ma")))
      val b = d.select(col("t").as("tb"), col("y").as("yb"),
        col("m").as("mb"))
      a.join(broadcast(b), col("tb") >= col("ta"))
    }
  }

  /** The exact integer slope expression shared by the Theil–Sen build
    * and its Scaladoc'd oracle mirror: micro-cents-per-day with an
    * explicit sign branch around the truncating division (floor-vs-
    * truncate conventions for negative numerators differ across
    * engines; on the non-negative magnitude they agree).
    */
  private[graft] val slopeMicroSql: String =
    "CASE WHEN yb >= ya THEN " +
      "cast((cast(yb - ya as decimal(38,0)) * 1000000) div (tb - ta) as bigint) " +
      "ELSE -cast((cast(ya - yb as decimal(38,0)) * 1000000) div (tb - ta) as bigint) " +
      "END"

  /** BOTH day-pair medians — the Hodges–Lehmann Walsh-sum median
    * bracket (kind 0: s = yᵢ+yⱼ over tb ≥ ta) and the Theil–Sen slope
    * median bracket (kind 1: s = exact micro slope over tb > ta) — in
    * ONE pass over the Memo-shared [[dayPairs]] table, Memo-shared as
    * `pair_medians`. Returns ≤ 2 rows: (kind, m = pair count, lo =
    * lower central order statistic, hi = upper; lo = hi when m is
    * odd); a kind with zero pairs emits no row.
    *
    * Why medians and not the CDFs: the only consumers
    * ([[graft.operators.StatOps.theilSenTrend]],
    * [[graft.operators.StatOps.hodgesLehmannDaily]]) probe exactly the
    * two central ranks, so this derivation finds each central order
    * statistic by ITERATIVE HISTOGRAM NARROWING — the standard
    * distributed exact-selection algorithm: per open rank target,
    * census the value stream into ≤1025 equal-width buckets of the
    * current [lo, hi], collect the dim-sized census (≤ ~4×1025 rows —
    * driver work on BOUNDED data only, never corpus rows), locate the
    * bucket holding the rank, recurse into it. Every pass shrinks the
    * value range ≥1024×, so ≤8 passes reach either a ≤65536-row bucket
    * (finished distributed, by one tie-exact RANGE-frame window over
    * just those rows) or a single value (answered directly).
    *
    * Why not one census + a window over its target buckets (the old
    * shape): equal-WIDTH buckets only bound the window input when
    * values spread evenly, and the slope domain is heavy-tailed — its
    * range is set by adjacent-day extremes (dt = 1) while the mass sits
    * ~3 orders of magnitude tighter, so the measured "target bucket"
    * held 2.36M of 2.89M slopes and the single-task window ran 3.9 s.
    * Narrowing is immune to concentration: the window always runs on
    * ≤65536 rows per target, at ANY value distribution and ANY SF.
    * Ties are exact throughout: a rank inside a tie group resolves to
    * that value both in the census walk (counts bound the group) and in
    * the final RANGE frames (`cum` spans the whole group, `below`
    * stops under it). Calendar-bounded end to end; the one
    * exact-decimal-slope pass is computed exactly once into an eager
    * checkpoint of the slim per-pair (s0, s1) column table (a lazy
    * persist here measured ~5 duplicate passes — Spark launches a
    * plan's broadcast subqueries concurrently, and racing scans of an
    * unpopulated cache all recompute upstream; an exploded
    * (kind, s)-row checkpoint measured GC-bound under bench heap
    * pressure, see the build comment).
    */
  def pairMedians(orders: DataFrame): DataFrame =
    Memo.cached("pair_medians", dayPairs(orders)) { p =>
      val spark = p.sparkSession
      import spark.implicits._
      // Slim per-pair value table, checkpointed ONCE: s0 = Walsh sum
      // (every pair), s1 = exact micro slope (tb > ta rows only, else
      // null). The former shape exploded each pair into 1-2 (kind, s)
      // STRUCT rows and checkpointed those 5.8M generic rows — the
      // per-row array+struct allocations made the stage GC-bound under
      // bench heap pressure (round 14 measured 183-639 executor-seconds
      // on that one stage, vs ~15 s for this column form; the bench
      // line swung 2.7→12.6 s between rounds on nothing but heap
      // context). Downstream passes derive the (kind, s) stream as a
      // UNION of two plain column projections of this leaf — no
      // explode, no row-object churn, and the decimal slope arithmetic
      // is paid exactly once, here.
      val sv = Memo.managedCheckpoint(
        p.select((col("ya") + col("yb")).as("s0"),
          when(col("tb") > col("ta"), expr(slopeMicroSql)).as("s1")))
      // the (kind, s) stream, restricted to the kinds a pass still
      // needs: later narrowing passes typically keep only the
      // heavy-tailed slope kind open, and the driver knows which —
      // scanning the closed kind's leg would be pure waste
      def events(kinds: Set[Long]) = {
        val legs = Seq(
          0L -> sv.select(lit(0L).as("kind"), col("s0").as("s")),
          1L -> sv.filter(col("s1").isNotNull)
            .select(lit(1L).as("kind"), col("s1").as("s")))
          .collect { case (k, leg) if kinds(k) => leg }
        legs.reduce(_ unionAll _)
      }
      // per-kind count + value range in ONE pass over the checkpoint
      // (not a groupBy over the 2× union): 1 row, 6 scalars
      val statsRow = sv.agg(
        count(lit(1)).as("m0"), min(col("s0")).as("mn0"),
        max(col("s0")).as("mx0"),
        count(col("s1")).as("m1"), min(col("s1")).as("mn1"),
        max(col("s1")).as("mx1")).collect().head
      val stats = Seq(0, 1).flatMap { k =>
        val m = statsRow.getLong(3 * k)
        if (m == 0) None
        else Some((k.toLong,
          (m, statsRow.getLong(3 * k + 1), statsRow.getLong(3 * k + 2))))
      }
      // one narrowing target per central rank: (m+1) div 2 = lower
      // statistic, m div 2 + 1 = upper (equal when m is odd)
      final case class Tgt(tid: Int, kind: Long, rank: Long,
        var lo: Long, var hi: Long, var prior: Long, var cnt: Long)
      val targets = stats.zipWithIndex.flatMap {
        case ((kind, (m, mn, mx)), i) => Seq(
          Tgt(2 * i, kind, (m + 1) / 2, mn, mx, 0L, m),
          Tgt(2 * i + 1, kind, m / 2 + 1, mn, mx, 0L, m))
      }
      val FinishBelow = 65536L
      // Width in overflow-safe BigInt (driver-side scalar): a naive
      // `hi - lo` goes negative if the kind's range spans more than
      // Long.MaxValue, and the census bucket expr `(s - blo) div bw`
      // would then bucket into garbage — silently wrong medians. The
      // require also guards the Spark-side `s - blo`: once the span
      // fits in a Long, every in-range difference does too.
      def width(t: Tgt): Long = {
        val span = BigInt(t.hi) - BigInt(t.lo)
        require(span.isValidLong,
          s"pairMedians: kind ${t.kind} value range [${t.lo}, ${t.hi}] " +
            "spans more than Long.MaxValue; census arithmetic would " +
            "overflow — rescale the measure before the median pass")
        (span / 1024 + 1).toLong
      }
      var guard = 0
      while (guard < 8 &&
          targets.exists(t => t.cnt > FinishBelow && t.lo < t.hi)) {
        guard += 1
        val open = targets.filter(t => t.cnt > FinishBelow && t.lo < t.hi)
        val bounds = open.map(t => (t.tid, t.kind, t.lo, t.hi, width(t)))
          .toSeq.toDF("tid", "bkind", "blo", "bhi", "bw")
        val census = events(open.map(_.kind).toSet).join(broadcast(bounds),
            col("kind") === col("bkind") &&
              col("s") >= col("blo") && col("s") <= col("bhi"))
          .groupBy(col("tid"), expr("(s - blo) div bw").as("bkt"))
          .agg(count(lit(1)).as("c"))
          .collect()
          .map(r => (r.getInt(0), (r.getLong(1), r.getLong(2))))
          .groupBy(_._1).map { case (tid, rs) =>
            tid -> rs.map(_._2).sortBy(_._1) }
        open.foreach { t =>
          val w = width(t)
          val rk = t.rank - t.prior
          var acc = 0L
          val it = census(t.tid).iterator
          var found = false
          while (!found && it.hasNext) {
            val (b, c) = it.next()
            if (acc + c >= rk) {
              val nlo = t.lo + b * w
              t.hi = math.min(t.hi, nlo + w - 1)
              t.lo = nlo
              t.prior += acc
              t.cnt = c
              found = true
            } else acc += c
          }
        }
      }
      // finish: lo == hi answers directly (every remaining value is lo);
      // the rest resolve by one tie-exact window over ≤65536 rows each
      val resolved = scala.collection.mutable.Map[Int, Long]()
      targets.filter(t => t.lo >= t.hi).foreach(t => resolved(t.tid) = t.lo)
      val openT = targets.filter(t => t.lo < t.hi)
      if (openT.nonEmpty) {
        val bounds = openT
          .map(t => (t.tid, t.kind, t.lo, t.hi, t.rank - t.prior))
          .toSeq.toDF("tid", "bkind", "blo", "bhi", "rk")
        val w = Window.partitionBy(col("tid")).orderBy(col("s"))
        events(openT.map(_.kind).toSet).join(broadcast(bounds),
            col("kind") === col("bkind") &&
              col("s") >= col("blo") && col("s") <= col("bhi"))
          .withColumn("cum", count(lit(1)).over(
            w.rangeBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("below", count(lit(1)).over(
            w.rangeBetween(Window.unboundedPreceding, -1)))
          .filter(col("below") < col("rk") && col("rk") <= col("cum"))
          .groupBy(col("tid")).agg(min(col("s")).as("v"))
          .collect().foreach(r => resolved(r.getInt(0)) = r.getLong(1))
      }
      stats.zipWithIndex.map { case ((kind, (m, _, _)), i) =>
        (kind, m, resolved(2 * i), resolved(2 * i + 1))
      }.toSeq.toDF("kind", "m", "lo", "hi")
    }

  /** The per-priority dollar-grain CDF of order value — (grp, usd, n,
    * cum, total) — Memo-shared by every order-statistic consumer
    * (robust_price_stats' median/MAD/winsor probes, the Brown–Forsythe
    * dispersion test): ONE fact-sized rollup to the (priority, usd)
    * grain per session, not one per query. Bounded by the price DOMAIN
    * (≤ |priorities| × price-range rows at any SF), so the per-group
    * windows and the checkpoint stay dim-sized.
    */
  def priorityUsdCdf(orders: DataFrame): DataFrame =
    Memo.cached("priority_usd_cdf", orders) { o =>
      val grpW = Window.partitionBy(col("grp"))
      o.select(col("o_orderpriority").as("grp"),
          floor(col("o_totalprice")).cast("long").as("usd"))
        .groupBy(col("grp"), col("usd")).agg(count(lit(1)).as("n"))
        // both windows reuse this; unspread: one task, 0.2-0.7 s; |priorities|-bounded
        .transform(spread(_, col("grp")))
        .withColumn("cum", sum(col("n")).over(grpW.orderBy(col("usd"))))
        .withColumn("total", sum(col("n")).over(grpW))
    }

  /** Exact quantile bucketing via the distinct-value CDF — the
    * scale-safe substitute for a global ntile (which would
    * single-partition-sort every ROW): group rows by value, cumulative-
    * sum counts over the DISTINCT-value table only, and assign
    * bucket = ⌊(first_rank−1)·k / N⌋ + 1, so a tie group lands wholly in
    * its first member's bucket (deterministic without a per-row total
    * order). Returns the distinct-value table (valueCol, n, bucket).
    * Callers must quantize continuous domains first (floor to
    * dollars/micro-units) or the distinct table is corpus-sized.
    * Shared by perplexity_buckets and order_value_deciles — one
    * definition of the quantile semantics, not two.
    */
  def cdfBuckets(df: DataFrame, valueCol: String, buckets: Int): DataFrame = {
    // ONE pass of the caller's input: the grand total rides the SAME
    // global window as the cumulative (an unbounded frame — Σn ≡
    // count(*) of df, nulls grouped identically), where the old shape
    // scanned df a second time for the count and broadcast it back
    val byV = df.groupBy(col(valueCol)).agg(count(lit(1)).as("n"))
    val w = Window.orderBy(col(valueCol))
    byV
      .withColumn("cum_n", sum(col("n")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("nd", sum(col("n")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("bucket", expr(s"((cum_n - n) * $buckets) div nd + 1"))
      .select(col(valueCol), col("n"), col("bucket"))
  }
}
