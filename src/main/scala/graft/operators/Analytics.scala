package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Warehouse analytics — the reference's notebook SQL (the .ipynb files
  * under `/root/reference/src/Analysis/`) re-expressed as DataFrame plans
  * over the star schema.
  *
  * Numeric policy (oracle parity at any scale): money stays DECIMAL(18,2)
  * through sums (exact, order-independent), averages are
  * round(cast(exact_sum as double)/count, N), percentages are double
  * division of exact longs — no double SUMs anywhere, so results are
  * identical regardless of partitioning/merge order.
  */
object Analytics {

  /** Complaint share by borough → order share by region: group count +
    * percent-of-total via an empty-frame window SUM (ref: 311 Analysis q1).
    */
  def aggRegionPct(orders: DataFrame, customer: DataFrame, nation: DataFrame,
      region: DataFrame): DataFrame = {
    val counts = orders
      .join(customer.select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation.select("n_nationkey", "n_regionkey")),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region"))
      .agg(count(lit(1)).as("total_orders"))
    counts.withColumn("pct",
      round(col("total_orders") * lit(100.0) /
        sum(col("total_orders")).over(Window.partitionBy()), 2))
  }

  /** Top-20 complaint types per borough → part types per supplier nation
    * (ref: 311 Analysis q2). Deterministic total order for the LIMIT.
    */
  def topTypesByNation(lineitem: DataFrame, supplier: DataFrame, nation: DataFrame,
      part: DataFrame): DataFrame =
    lineitem
      .join(supplier.select("s_suppkey", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation.select("n_nationkey", "n_name")),
        col("s_nationkey") === col("n_nationkey"))
      .join(part.select("p_partkey", "p_type"),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_type"), col("n_name").as("nation"))
      .agg(count(lit(1)).as("n_lines"))
      .orderBy(col("n_lines").desc, col("p_type"), col("nation"))
      .limit(20)

  /** Avg resolution time by agency → avg days-to-ship by order priority
    * (ref: 311 Analysis q3; duration_hours avg + count).
    */
  def avgDurationByPriority(lineitem: DataFrame, orders: DataFrame): DataFrame =
    lineitem
      .join(orders.select("o_orderkey", "o_orderdate", "o_orderpriority"),
        col("l_orderkey") === col("o_orderkey"))
      .withColumn("days_to_ship",
        datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate"))))
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(col("days_to_ship").cast("long")).as("sum_days"))
      .select(
        col("o_orderpriority"),
        col("n_lines"),
        round(col("sum_days").cast("double") / col("n_lines"), 2).as("avg_days_to_ship"),
        round(col("sum_days").cast("double") / col("n_lines") / lit(7.0), 2).as("avg_weeks_to_ship"))

  /** Price stats (count/avg/min/max in exact decimal) per region (ref:
    * Airbnb Analysis q1 TRY_CAST price stats by borough).
    */
  def priceStatsByRegion(orders: DataFrame, customer: DataFrame, nation: DataFrame,
      region: DataFrame): DataFrame =
    orders
      .join(customer.select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation.select("n_nationkey", "n_regionkey")),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .withColumn("price", col("o_totalprice").cast("decimal(18,2)"))
      .groupBy(col("r_name").as("region"))
      .agg(
        count(lit(1)).as("n_orders"),
        min(col("price")).as("min_price"),
        max(col("price")).as("max_price"),
        sum(col("price")).as("sum_price_raw"))
      .select(
        col("region"), col("n_orders"),
        // min/max projected as rounded DOUBLE — decimal outputs hash-unsafe
        round(col("min_price").cast("double"), 2).as("min_price"),
        round(col("max_price").cast("double"), 2).as("max_price"),
        round(col("sum_price_raw").cast("double") / col("n_orders"), 2).as("avg_price"))

  /** Revenue by (nation, segment) with COALESCE'd group keys (ref: Airbnb
    * Analysis q2/q3 revenue by neighbourhood).
    */
  def revenueByNationSegment(orders: DataFrame, customer: DataFrame,
      nation: DataFrame): DataFrame =
    orders
      .join(customer.select("c_custkey", "c_nationkey", "c_mktsegment"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation.select("n_nationkey", "n_name")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(
        col("n_name").as("nation"),
        coalesce(col("c_mktsegment"), lit("UNKNOWN")).as("segment"))
      .agg(
        count(lit(1)).as("n_orders"),
        // exact decimal sum internally, rounded-DOUBLE final projection
        round(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2)
          .as("revenue"))

  /** Geohash-cell join of the two geo domains + per-cell distinct counts
    * (ref: `Glue job to merge 311 Airbnb.py:135-141`). The supplier side
    * is small → broadcast; the join key is the geohash string.
    */
  def geoJoinCounts(customer: DataFrame, supplier: DataFrame, nation: DataFrame,
      region: DataFrame): DataFrame = {
    val cust = StarSchema.dimCustomerGeo(customer, nation, region)
      .select(col("geohash"), col("c_custkey"))
    val supp = StarSchema.dimSupplierGeo(supplier, nation, region)
      .select(col("geohash"), col("s_suppkey"))
    cust.join(supp, Seq("geohash"))
      .groupBy(col("geohash"))
      .agg(
        countDistinct(col("c_custkey")).as("n_customers"),
        countDistinct(col("s_suppkey")).as("n_suppliers"))
  }

  /** Airbnb-density vs complaint-count correlation table → per-nation
    * customer/order/supplier densities with NULLIF-guarded ratio + HAVING
    * (ref: Combined analysis q1/q2).
    */
  def densityCorrelation(orders: DataFrame, customer: DataFrame, supplier: DataFrame,
      nation: DataFrame): DataFrame = {
    val custN = customer.select(col("c_custkey"), col("c_nationkey"))
    val orderCounts = orders
      .join(custN, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nationkey"))
      .agg(countDistinct(col("o_orderkey")).as("n_orders"),
        countDistinct(col("o_custkey")).as("n_customers"))
    val suppCounts = supplier.groupBy(col("s_nationkey").as("nationkey"))
      .agg(countDistinct(col("s_suppkey")).as("n_suppliers"))
    broadcast(nation.select(col("n_nationkey"), col("n_name")))
      .join(orderCounts, col("n_nationkey") === orderCounts("nationkey"), "left")
      .join(suppCounts, col("n_nationkey") === suppCounts("nationkey"), "left")
      .filter(coalesce(col("n_orders"), lit(0L)) > 10)
      .select(
        col("n_name").as("nation"),
        col("n_orders"),
        col("n_customers"),
        coalesce(col("n_suppliers"), lit(0L)).as("n_suppliers"),
        round(col("n_orders").cast("double") /
          nullif(coalesce(col("n_suppliers"), lit(0L)), lit(0L)), 4)
          .as("orders_per_supplier"))
  }

  /** Quarterly trend with window AVG over partition (ref: Combined q3). */
  def quarterlyTrend(orders: DataFrame, customer: DataFrame, nation: DataFrame): DataFrame = {
    val counts = orders
      .join(customer.select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation.select("n_nationkey", "n_name")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(
        year(col("o_orderdate")).as("year"),
        quarter(col("o_orderdate")).as("quarter"),
        col("n_name").as("nation"))
      .agg(count(lit(1)).as("n_orders"))
    val w = Window.partitionBy(col("year"), col("quarter"))
    // sum/count (exact longs) instead of AVG so the double division happens
    // once, in the same order as the oracle — no windowed double sums.
    counts.withColumn("avg_quarterly_orders",
      round(sum(col("n_orders")).over(w).cast("double") /
        count(lit(1)).over(w).cast("double"), 2))
  }

  /** Weekend/weekday split with avg price (ref: Combined q4). */
  def weekendPattern(orders: DataFrame, customer: DataFrame, nation: DataFrame,
      region: DataFrame): DataFrame =
    orders
      .join(customer.select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation.select("n_nationkey", "n_regionkey")),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .withColumn("day_type",
        when(weekday(col("o_orderdate")) + 1 >= 6, lit("Weekend")).otherwise(lit("Weekday")))
      .groupBy(col("day_type"), col("r_name").as("region"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).as("sum_price_raw"))
      .select(
        col("day_type"), col("region"), col("n_orders"),
        round(col("sum_price_raw").cast("double") / col("n_orders"), 2).as("avg_price"))

  /** Canonical pricing-summary aggregate (TPC-H Q1 shape): the headline
    * scan-heavy group-by every warehouse runs; exact decimal sums, one
    * pass, map-side combine.
    */
  def pricingSummary(lineitem: DataFrame): DataFrame = {
    val price = col("l_extendedprice").cast("decimal(18,2)")
    val disc = col("l_discount").cast("decimal(18,2)")
    val tax = col("l_tax").cast("decimal(18,2)")
    lineitem
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast("decimal(18,2)")).cast("decimal(18,2)").as("sum_qty"),
        sum(price).cast("decimal(18,2)").as("sum_base_price"),
        sum(price * (lit(1).cast("decimal(18,2)") - disc)).cast("decimal(18,4)")
          .as("sum_disc_price"),
        // intermediate cast keeps the precision chain inside 38 digits in
        // both engines (scale 2×2 → 4, then ×2 → 6), all exact
        sum((price * (lit(1).cast("decimal(18,2)") - disc)).cast("decimal(18,4)") *
          (lit(1).cast("decimal(18,2)") + tax)).cast("decimal(18,6)").as("sum_charge"),
        count(lit(1)).as("count_order"))
      .select(
        col("l_returnflag"), col("l_linestatus"),
        // exact decimal sums internally; rounded-DOUBLE final projection
        // (value-range safety asserted in NoDecimalOutputSpec)
        round(col("sum_qty").cast("double"), 2).as("sum_qty"),
        round(col("sum_base_price").cast("double"), 2).as("sum_base_price"),
        round(col("sum_disc_price").cast("double"), 4).as("sum_disc_price"),
        round(col("sum_charge").cast("double"), 6).as("sum_charge"),
        round(col("sum_qty").cast("double") / col("count_order"), 2).as("avg_qty"),
        round(col("sum_base_price").cast("double") / col("count_order"), 2).as("avg_price"),
        col("count_order"))
  }

  /** Top-10 open-order revenue by order (TPC-H Q3 shape): selective
    * filters pushed to both scans, shuffle join on the order key.
    */
  def shippingPriority(lineitem: DataFrame, orders: DataFrame, customer: DataFrame,
      segment: String = "BUILDING", cutoff: String = "1998-06-01"): DataFrame =
    lineitem
      .filter(col("l_shipdate") > lit(cutoff).cast("timestamp"))
      .join(orders.filter(col("o_orderdate") < lit(cutoff).cast("timestamp"))
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"),
        col("l_orderkey") === col("o_orderkey"))
      .join(customer.filter(col("c_mktsegment") === segment)
        .select("c_custkey"), col("o_custkey") === col("c_custkey"), "left_semi")
      .groupBy(col("l_orderkey"), to_date(col("o_orderdate")).as("order_date"),
        col("o_orderpriority"))
      .agg(sum((col("l_extendedprice").cast("decimal(18,2)") *
        (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)"))))
        .cast("decimal(18,4)").as("revenue_exact"))
      // top-10 picked on the exact decimal; rounded-DOUBLE final projection
      .orderBy(col("revenue_exact").desc, col("l_orderkey"))
      .limit(10)
      .select(col("l_orderkey"), col("order_date"), col("o_orderpriority"),
        round(col("revenue_exact").cast("double"), 4).as("revenue"))

  /** Revenue by nation for intra-region trade (TPC-H Q5 shape): the
    * customer and supplier nation must match — the classic multi-join
    * whose only shuffles are on the fact keys; all dims broadcast.
    */
  def localSupplierVolume(lineitem: DataFrame, orders: DataFrame, customer: DataFrame,
      supplier: DataFrame, nation: DataFrame, region: DataFrame,
      regionName: String = "AMERICA"): DataFrame =
    lineitem
      .join(orders.select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(customer.select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(supplier.select(col("s_suppkey"),
        col("s_nationkey").as("supp_nationkey")),
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("supp_nationkey"))
      .join(broadcast(nation.select("n_nationkey", "n_name", "n_regionkey")),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region.filter(col("r_name") === regionName)),
        col("n_regionkey") === col("r_regionkey"), "left_semi")
      .groupBy(col("n_name").as("nation"))
      .agg(sum((col("l_extendedprice").cast("decimal(18,2)") *
        (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)"))))
        .cast("decimal(18,4)").as("revenue_exact"),
        count(lit(1)).as("n_lines"))
      .select(col("nation"),
        round(col("revenue_exact").cast("double"), 4).as("revenue"),
        col("n_lines"))

  /** Staging data-quality report (ref: staging-validation pattern +
    * data_quality_score): per-rule violation counts in ONE scan per table
    * via conditional aggregation, not one query per rule.
    */
  def qualityReport(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val o = orders.agg(
      count(lit(1)).as("o_rows"),
      sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("null_custkey"),
      sum(when(col("o_totalprice") <= 0.0, 1L).otherwise(0L)).as("nonpositive_price"),
      sum(when(col("o_orderdate").isNull, 1L).otherwise(0L)).as("null_orderdate"))
    val l = lineitem.agg(
      count(lit(1)).as("l_rows"),
      sum(when(col("l_quantity") <= 0.0, 1L).otherwise(0L)).as("nonpositive_qty"),
      sum(when(col("l_discount") < 0.0 || col("l_discount") > 1.0, 1L).otherwise(0L))
        .as("bad_discount"),
      sum(when(col("l_shipdate").isNull, 1L).otherwise(0L)).as("null_shipdate"))
    o.crossJoin(l)
  }

  /** Top-N customers per nation by revenue — ranked window over the
    * aggregated fact (ref: notebook top-N analyses, per-group form).
    */
  def topCustomersPerNation(orders: DataFrame, customer: DataFrame,
      nation: DataFrame, n: Int = 3): DataFrame = {
    val byCust = orders
      .join(customer.select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation.select("n_nationkey", "n_name")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"), col("c_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("decimal(18,2)")
        .as("revenue_exact"))
    // rank on the exact decimal; rounded-DOUBLE final projection
    val w = Window.partitionBy(col("nation"))
      .orderBy(col("revenue_exact").desc, col("c_custkey"))
    byCust.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= n)
      .select(col("nation"), col("c_custkey"),
        round(col("revenue_exact").cast("double"), 2).as("revenue"), col("rank"))
  }

  /** 7-day trailing moving average of daily order counts — RANGE-frame
    * window over the daily aggregate (one shuffle, tiny state).
    */
  def rollingOrderVolume(orders: DataFrame): DataFrame = {
    val daily = orders
      .groupBy(to_date(col("o_orderdate")).as("order_date"))
      .agg(count(lit(1)).as("n_orders"))
    val w = Window.orderBy(col("epoch_day")).rangeBetween(-6, 0)
    daily
      .withColumn("epoch_day", datediff(col("order_date"), lit("1970-01-01").cast("date")))
      .withColumn("avg_7d",
        round(sum(col("n_orders")).over(w).cast("double") /
          count(lit(1)).over(w).cast("double"), 4))
      .select(col("order_date"), col("n_orders"), col("avg_7d"))
  }

  /** Order-status crosstab per region (pivot) — the QuickSight-style
    * matrix view; fixed pivot values so the plan is a single pass.
    */
  def statusPivotByRegion(orders: DataFrame, customer: DataFrame, nation: DataFrame,
      region: DataFrame): DataFrame =
    orders
      .join(customer.select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation.select("n_nationkey", "n_regionkey")),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0L)

  /** Revenue rollup over (nation, segment) with subtotals + grand total
    * (GROUPING SETS — Redshift-style summary tables in one pass).
    */
  def revenueRollup(orders: DataFrame, customer: DataFrame, nation: DataFrame): DataFrame =
    orders
      .join(customer.select("c_custkey", "c_nationkey", "c_mktsegment"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation.select("n_nationkey", "n_name")),
        col("c_nationkey") === col("n_nationkey"))
      .rollup(col("n_name").as("nation"), col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2)
          .as("revenue"))

  /** Sketch-based distinct/quantile estimates next to their exact values
    * — the cardinality pattern a 100 TB scan actually uses (HLL++ and
    * KLL-style sketches merge associatively across partitions; the exact
    * countDistinct is the expensive double-shuffle baseline). Sketch
    * internals are engine-specific, so the sketch columns are emitted as
    * tolerance-band BOOLEANS the oracle asserts TRUE: the HLL estimate
    * must land within 5% of the exact count, and the KLL median's exact
    * rank (verified by a second conditional-count pass) must land within
    * [0.45, 0.55] — exact columns hash-compare directly.
    */
  /** Year-over-year customer value-tier migration matrix — the
    * customer-dynamics view (who upgraded, who lapsed): yearly exact
    * spend → fixed cent-threshold tiers, then each (customer, year)
    * pairs with its OWN next year via a lead window; a customer with no
    * orders the following year migrates to CHURNED. The dataset's last
    * year is excluded (its future is unobserved, not churned). One
    * fact-sized rollup to customer-year grain; the lead window rides the
    * same customer partitioning.
    */
  def segmentMigrationMatrix(orders: DataFrame,
      lowBelowCents: Long = 35000000L,
      midBelowCents: Long = 60000000L): DataFrame = {
    val yearly = orders
      .select(col("o_custkey"), year(col("o_orderdate")).cast("long").as("y"),
        col("o_totalprice").cast("decimal(18,2)").as("p"))
      .groupBy(col("o_custkey"), col("y"))
      .agg((sum(col("p")) * 100).cast("long").as("cents"))
      .withColumn("tier", when(col("cents") < lowBelowCents, "LOW")
        .when(col("cents") < midBelowCents, "MID").otherwise("HIGH"))
    val maxYear = yearly.agg(max(col("y")).as("max_y"))
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("y"))
    yearly
      .withColumn("next_y", lead(col("y"), 1).over(w))
      .withColumn("next_tier", lead(col("tier"), 1).over(w))
      .crossJoin(broadcast(maxYear))
      .filter(col("y") < col("max_y"))
      .withColumn("dst_tier",
        when(col("next_y") === col("y") + 1, col("next_tier"))
          .otherwise(lit("CHURNED")))
      .groupBy(col("y").as("year"), col("tier").as("src_tier"),
        col("dst_tier"))
      .agg(count(lit(1)).as("n_customers"))
  }

  /** Windowed funnel conversion: of each week's first-time signups, how
    * many purchased within 7 days — the bounded-window form of the
    * funnel (event_funnel counts any-time conversion; marketing reports
    * need the deadline). First-signup and first-qualifying-purchase are
    * min-aggregations (map-side combined); the only joins are per-user.
    */
  def windowedConversion(events: DataFrame, windowDays: Int = 7): DataFrame = {
    val su = events.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts")).as("s_ts"))
    val firstPurchase = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"))
      .join(su, Seq("user_id"))
      .filter(col("ts") >= col("s_ts"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("p_ts"))
    su.join(firstPurchase, Seq("user_id"), "left")
      .select(date_trunc("week", col("s_ts")).cast("date").as("signup_week"),
        when(col("p_ts") <= col("s_ts") + expr(s"INTERVAL $windowDays DAYS"), 1L)
          .otherwise(0L).as("converted"))
      .groupBy(col("signup_week"))
      .agg(count(lit(1)).as("n_signups"), sum(col("converted")).as("n_converted"))
      .withColumn("conversion_micro",
        expr("(n_converted * 1000000) div n_signups"))
  }

  /** Exact per-group shipping-SLA percentiles (P50/P90/P99 of days to
    * ship per order priority) WITHOUT sorting rows: group to the
    * (priority, days) distinct-value table first — bounded by the day
    * RANGE, not the fact — then rank cumulative counts per priority.
    * Percentile-p = the smallest value whose cumulative count reaches
    * ⌈p·n⌉ (type-1 quantile), all integer comparisons, engine-stable.
    */
  def shippingSlaPercentiles(lineitem: DataFrame, orders: DataFrame): DataFrame = {
    val days = lineitem.select(col("l_orderkey"), col("l_shipdate"))
      .join(orders.select(col("o_orderkey"), col("o_orderdate"),
        col("o_orderpriority")), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority"),
        datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))
          .cast("long").as("days"))
    val byVal = days.groupBy(col("o_orderpriority"), col("days"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("days"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy(col("o_orderpriority"))
    val ranked = byVal
      .withColumn("cum", sum(col("n")).over(w))
      .withColumn("total", sum(col("n")).over(wTot))
    def pct(p: Int) = min(when(
      col("cum") * 100 >= col("total") * p, col("days"))).as(s"p$p")
    ranked.groupBy(col("o_orderpriority"))
      .agg(pct(50), pct(90), pct(99), max(col("total")).as("n_lines"))
  }

  /** Linearly-INTERPOLATED percentiles (SQL `percentile_cont` /
    * DuckDB `quantile_cont` semantics) of order value per priority,
    * computed EXACTLY without a global sort: over the distinct-cents
    * CDF, the continuous rank h = (n−1)·p is carried as the integer
    * H = (n−1)·p·100 (p is an exact rational), the bracketing values
    * come from two rank probes against the cumulative counts, and the
    * interpolation v_lo·(100−H mod 100) + v_hi·(H mod 100) stays in
    * exact integer cents·100 until the single display division. The
    * scale-safe substitute for percentile_cont's sort-based plan: the
    * window runs on the distinct-VALUE table (cents-bounded), never the
    * row population — same CDF core as [[shippingSlaPercentiles]], which
    * reports the coarser nearest-rank form.
    */
  def orderValuePercentilesCont(orders: DataFrame): DataFrame = {
    val cents = orders.select(col("o_orderpriority"),
      (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("v"))
    val byVal = cents.groupBy(col("o_orderpriority"), col("v"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = byVal
      .withColumn("cum", sum(col("n")).over(w))
      .withColumn("total",
        sum(col("n")).over(Window.partitionBy(col("o_orderpriority"))))
    def interp(p: Int) = {
      // row-level rank probes (total is constant within the group)...
      val loRank = expr(s"((total - 1) * $p) div 100 + 1")
      val hiRank = least(loRank + 1, col("total"))
      val vLo = min(when(col("cum") >= loRank, col("v")))
      val vHi = min(when(col("cum") >= hiRank, col("v")))
      // ...but the interpolation factor must be aggregate-composed
      val frac = (max(col("total")) - 1) * p % 100
      round((vLo * (lit(100) - frac) + vHi * frac).cast("double") / 10000.0, 4)
        .as(s"p$p")
    }
    ranked.groupBy(col("o_orderpriority"))
      .agg(max(col("total")).as("n_orders"), interp(50), interp(90), interp(99))
  }

  /** ABC (Pareto-class) supplier segmentation: rank suppliers by exact
    * revenue, classify by CUMULATIVE share — A carries the first 80% of
    * revenue, B to 95%, C the tail. Share thresholds compare exact
    * integer products (cum·100 vs total·80) so no float boundary can
    * flip a class between engines. Ties break on supplier key for a
    * total order.
    *
    * Scale: the supplier grain is SF-scaling (~10⁹ rows at 100 TB), so
    * the cumulative sum must NOT be one global ordered window. It
    * factors exactly through two bounded levels (the SkylineOps
    * pattern): a per-revenue-bucket rollup carries the cross-bucket
    * prefix via a window over BUCKET SUMMARIES only (bounded by the
    * revenue RANGE, not the supplier count), and the within-bucket
    * cumulative partitions by bucket, so it parallelizes. Bucket order
    * is consistent with (revenue desc, suppkey) — higher buckets hold
    * strictly higher revenues — so the decomposed cumulative equals the
    * global one row-for-row.
    */
  def supplierAbcClasses(lineitem: DataFrame,
      bucketCents: Long = 10000000L): DataFrame = {
    val perSupp = lineitem
      .select(col("l_suppkey"),
        col("l_extendedprice").cast("decimal(18,2)").as("p"))
      .groupBy(col("l_suppkey"))
      .agg((sum(col("p")) * 100).cast("long").as("revenue_cents"))
      .withColumn("bucket", expr(s"revenue_cents div $bucketCents"))
    // level 1: bucket summaries — prefix over strictly-HIGHER buckets
    // plus the grand total, both windows over the bucket table only
    val wPrior = Window.orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wTot = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val offsets = perSupp.groupBy(col("bucket"))
      .agg(sum(col("revenue_cents")).as("b_sum"))
      .withColumn("prior_cents", coalesce(sum(col("b_sum")).over(wPrior), lit(0L)))
      .withColumn("total_cents", sum(col("b_sum")).over(wTot))
      .select(col("bucket").as("b"), col("prior_cents"), col("total_cents"))
    // level 2: within-bucket running sum, partitioned by bucket
    val wIn = Window.partitionBy(col("bucket"))
      .orderBy(col("revenue_cents").desc, col("l_suppkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perSupp
      .withColumn("in_cum", sum(col("revenue_cents")).over(wIn))
      .join(broadcast(offsets), col("bucket") === col("b"))
      .withColumn("cum_cents", col("prior_cents") + col("in_cum"))
      .select(col("l_suppkey"),
        round(col("revenue_cents") / 100.0, 2).as("revenue"),
        when(col("cum_cents") * 100 <= col("total_cents") * 80, "A")
          .when(col("cum_cents") * 100 <= col("total_cents") * 95, "B")
          .otherwise("C").as("abc_class"))
  }

  /** Count-min-sketch frequency estimates next to exact counts, graded
    * as tolerance-band booleans the oracle can check (the
    * approx_distincts pattern): `cms_no_undercount` is the sketch's hard
    * guarantee, `cms_within_band` the collision bound 2·total/width. At
    * 100 TB the sketch side carries a few KB of mergeable state per
    * partition however many distinct keys flow through — the exact side
    * here exists only to grade it.
    */
  def cmsEventTypeFreq(events: DataFrame, width: Int = 1024,
      depth: Int = 4): DataFrame = {
    val cms = org.apache.spark.sql.functions.udaf(
      new graft.functions.CountMinAgg(width, depth),
      org.apache.spark.sql.Encoders.STRING)
    val sketch = events.agg(cms(col("event_type")).as("sketch"))
    val exact = events.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    val total = events.agg(count(lit(1)).as("total"))
    exact.join(broadcast(sketch)).join(broadcast(total))
      .withColumn("est",
        graft.functions.CountMin.estimate(col("sketch"), col("event_type"), width))
      .select(col("event_type"), col("n_events"),
        (col("est") >= col("n_events")).as("cms_no_undercount"),
        (col("est") - col("n_events") <= expr(s"(2 * total) div $width"))
          .as("cms_within_band"))
  }

  def approxDistincts(lineitem: DataFrame): DataFrame = {
    val sketched = lineitem
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("exact_parts"),
        approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000))
          .as("median_price_approx"),
        count(lit(1)).as("n_lines"))
    val rankCheck = lineitem
      .join(broadcast(sketched.select(col("l_returnflag").as("rf"),
        col("median_price_approx"))), col("l_returnflag") === col("rf"))
      .groupBy(col("l_returnflag"))
      .agg((sum(when(col("l_extendedprice") <= col("median_price_approx"), 1L)
        .otherwise(0L)).cast("double") / count(lit(1))).as("median_rank"))
    sketched.join(broadcast(rankCheck), Seq("l_returnflag"))
      .select(
        col("l_returnflag"), col("exact_parts"), col("n_lines"),
        (abs(col("approx_parts") - col("exact_parts")).cast("double") /
          col("exact_parts") <= 0.05).as("approx_parts_ok"),
        (col("median_rank") >= 0.45 && col("median_rank") <= 0.55)
          .as("approx_median_rank_ok"))
  }

  /** Mergeable-sketch distinct counting, audited: per (type, day)
    * partial HLL sketches (Apache DataSketches via hll_sketch_agg) are
    * UNIONED up to per-type estimates and checked against the exact
    * distinct count. The two-level build is the point — partial sketches
    * per partition/day merged associatively is exactly how a 100 TB
    * pipeline counts distincts incrementally (today's sketch unions into
    * the running one; re-scanning history is never needed). The sketch
    * estimate itself is not oracle-computable, so the output carries the
    * exact count plus the in-band verdict (lgK=12 → ~1.6% rel. std.
    * error; 5% band), which the oracle pins TRUE.
    */
  def hllMergeAudit(events: DataFrame): DataFrame = {
    val daily = events
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(expr("hll_sketch_agg(user_id, 12)").as("sk"))
    val merged = daily.groupBy(col("event_type"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
    val exact = events
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_exact_users"))
    exact.join(merged, Seq("event_type"))
      .select(col("event_type"), col("n_exact_users"),
        (abs(col("est") - col("n_exact_users")) * 100 <=
          col("n_exact_users") * 5).as("hll_within_5pct"))
  }

  /** Trailing-`window`-day distinct users per day from MERGEABLE daily
    * HLL partials — the sliding-window distinct that makes "7-day active
    * users" computable incrementally at 100 TB: each day folds into one
    * bounded sketch (built once, from that day's events only), and a
    * day's trailing estimate unions `window` partials; history is never
    * re-scanned, and yesterday's partials are reused verbatim by
    * tomorrow's window. The exact leg here (events range-replicated per
    * covered day) is the test-scale AUDIT of that estimate — at
    * production scale only the partial-union path runs. The oracle
    * computes the exact leg and pins the 5% band TRUE (lgK=12 ≈ 1.6%
    * relative standard error).
    */
  def rollingDistinctUsers(events: DataFrame, window: Int = 7): DataFrame = {
    val e = events.filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(to_date(col("ts")).as("d"), col("user_id"))
    val daily = e.groupBy(col("d")).agg(expr("hll_sketch_agg(user_id, 12)").as("sk"))
    val days = daily.select(col("d").as("day"))
    def trailing(df: DataFrame) = df.join(broadcast(days),
      col("d") >= date_sub(col("day"), window - 1) && col("d") <= col("day"))
    val approx = trailing(daily).groupBy(col("day"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
    val exact = trailing(e).groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("n_exact_users"))
    exact.join(approx, Seq("day"))
      .select(col("day").as("d"), col("n_exact_users"),
        (abs(col("est") - col("n_exact_users")) * 100 <=
          col("n_exact_users") * 5).as("hll_within_5pct"))
  }

  /** Robust (outlier-resistant) order-value statistics per priority:
    * dollar-quantized exact median, median absolute deviation, P5/P95,
    * and the [P5, P95]-winsorized mean — the robust-statistics layer a
    * fraud/data-quality review runs where plain mean/stddev are hostage
    * to a single fat-fingered order. All quantiles are type-1
    * (nearest-rank) probes on the DISTINCT-value CDF: the corpus is
    * touched once (map-side-combined (grp, usd) rollup), every window
    * runs over the distinct dollar values of a group — bounded by the
    * PRICE DOMAIN, never the order count — and rank tests are
    * division-free integer cross-multiplications (cum·2 ≥ total etc.),
    * so ties and boundaries resolve identically in both engines. The
    * MAD pass reuses the same CDF joined against the |value − median|
    * axis; the winsorized mean clamps on the CDF and sums exact
    * integer products, with one final rounded-double division.
    */
  def robustPriceStats(orders: DataFrame): DataFrame = {
    val grpW = Window.partitionBy(col("grp"))
    // ONE derivation of the per-group CDF feeds every probe — and the
    // derivation itself is Memo-shared with the Brown–Forsythe test
    // (OpUtils.priorityUsdCdf), so a session running both pays the
    // fact-sized rollup once; the three order-statistic probes fold
    // into a single conditional-min pass instead of three filter+agg
    // scans
    val cdf = OpUtils.priorityUsdCdf(orders)
    val probes = cdf.groupBy(col("grp")).agg(
      min(when(col("cum") * 2 >= col("total"), col("usd"))).as("median_usd"),
      min(when(col("cum") * 20 >= col("total"), col("usd"))).as("p5_usd"),
      min(when(col("cum") * 20 >= col("total") * 19, col("usd"))).as("p95_usd"))
    val med = probes.select(col("grp"), col("median_usd"))
    val p5 = probes.select(col("grp"), col("p5_usd"))
    val p95 = probes.select(col("grp"), col("p95_usd"))
    val mad = cdf.join(broadcast(med), Seq("grp"))
      .select(col("grp"), abs(col("usd") - col("median_usd")).as("dev"), col("n"))
      .groupBy(col("grp"), col("dev")).agg(sum(col("n")).as("n"))
      .withColumn("cum", sum(col("n")).over(grpW.orderBy(col("dev"))))
      .withColumn("total", sum(col("n")).over(grpW))
      .filter(col("cum") * 2 >= col("total"))
      .groupBy(col("grp")).agg(min(col("dev")).as("mad_usd"))
    val winsor = cdf.join(broadcast(p5), Seq("grp")).join(broadcast(p95), Seq("grp"))
      .groupBy(col("grp"))
      .agg(sum(col("n")).as("n_orders"),
        sum(least(greatest(col("usd"), col("p5_usd")), col("p95_usd"))
          .cast("decimal(38,0)") * col("n")).as("s"))
    winsor.join(med, Seq("grp")).join(mad, Seq("grp"))
      .join(p5, Seq("grp")).join(p95, Seq("grp"))
      .select(col("grp").as("o_orderpriority"), col("n_orders"),
        col("median_usd"), col("mad_usd"), col("p5_usd"), col("p95_usd"),
        round(col("s").cast("double") / col("n_orders"), 2).as("winsor_mean_usd"))
  }

  /** KMV (k-minimum-values) sketch audit for distinct-set INTERSECTION
    * cardinality — the set operation HLL cannot answer (HLL unions;
    * inclusion-exclusion on HLLs explodes the error when the overlap is
    * small). Per event type the k smallest 60-bit user-id hashes form
    * the sketch; the union sketch is the k smallest of the merged hash
    * sets; |A∪B| ≈ (k−1)·M / h_k and |A∩B| ≈ |S_k(A∪B) ∩ S(A) ∩ S(B)|
    * / k · |A∪B| — all exact integer arithmetic on the hash values, so
    * the estimator (not just the band verdict) reproduces bit-for-bit
    * in the oracle. When a side has fewer than k distinct members the
    * sketch IS the set and the estimate collapses to the exact count.
    *
    * Scale: the only corpus-sized work is the distinct (type, user)
    * rollup; the k-smallest ranking compiles to WindowGroupLimit
    * (partial top-k below the exchange), and everything downstream
    * operates on ≤ 2k rows. The exact legs are the test-scale audit.
    */
  def kmvIntersection(events: DataFrame, k: Int = 64): DataFrame = {
    import graft.functions.HashFns
    val m = 1L << 60
    val users = events
      .filter(col("user_id").isNotNull &&
        col("event_type").isin("view", "purchase"))
      .select(col("event_type"), col("user_id")).distinct()
      .withColumn("h", HashFns.hash60(col("user_id").cast("string")))
    val ranked = users
      .withColumn("r", row_number().over(
        Window.partitionBy(col("event_type")).orderBy(col("h"))))
    val sketches = ranked.filter(col("r") <= k).select(col("event_type"), col("h"))
    // ≤ 2k rows reach this point, so the single-partition rank is fine;
    // the literal partition key just spells that out (and silences the
    // unpartitioned-window warning)
    val unionK = sketches.select(col("h")).distinct()
      .withColumn("r", row_number().over(
        Window.partitionBy(lit(0)).orderBy(col("h"))))
      .filter(col("r") <= k)
    val unionStats = unionK.agg(count(lit(1)).as("n_union_hashes"),
      max(col("h")).as("hk"))
    val inBoth = unionK.join(
        sketches.filter(col("event_type") === "view").select(col("h")), Seq("h"))
      .join(sketches.filter(col("event_type") === "purchase").select(col("h")), Seq("h"))
      .agg(count(lit(1)).as("n_both"))
    val exact = events
      .filter(col("user_id").isNotNull &&
        col("event_type").isin("view", "purchase"))
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "view", 1).otherwise(0)).as("v"),
        max(when(col("event_type") === "purchase", 1).otherwise(0)).as("p"))
      .agg(count(lit(1)).as("exact_union"),
        sum(col("v") * col("p")).cast("long").as("exact_intersection"))
    exact.crossJoin(broadcast(unionStats)).crossJoin(broadcast(inBoth))
      // truncating integer div throughout (Spark `div` == DuckDB `//`);
      // a decimal `/` would round at some scale before the long cast and
      // could disagree with the oracle's floor by one ulp-of-a-cent
      .withColumn("est_union",
        when(col("n_union_hashes") < k, col("exact_union"))
          .otherwise(expr(s"(CAST(${k - 1} AS DECIMAL(38,0)) * $m) " +
            "div CAST(hk AS DECIMAL(38,0))").cast("long")))
      .withColumn("est_intersection",
        when(col("n_union_hashes") < k, col("exact_intersection"))
          .otherwise(expr(
            s"(CAST(n_both AS DECIMAL(38,0)) * est_union) div $k")))
      .select(lit(k.toLong).as("k"), col("est_union"), col("exact_union"),
        col("est_intersection"), col("exact_intersection"),
        col("n_both").as("n_sketch_overlap"))
      .withColumn("union_within_40pct",
        abs(col("est_union") - col("exact_union")) * 100 <= col("exact_union") * 40)
      .withColumn("intersection_within_40pct",
        abs(col("est_intersection") - col("exact_intersection")) * 100 <=
          col("exact_intersection") * 40)
  }

  /** Pearson correlation between per-nation customer count and order
    * count (ref: the notebooks' "statistical correlation analysis"
    * between Airbnb density and complaint volume). Computed from exact
    * integer sums — streaming co-moment aggregates (corr()) are
    * merge-order-dependent in the last ulps, so the closed form over
    * exact Σx, Σy, Σxy, Σx², Σy² is what stays reproducible across
    * engines and partitionings.
    */
  def correlationDensity(orders: DataFrame, customer: DataFrame): DataFrame = {
    val perNation = customer
      .join(orders.select("o_custkey", "o_orderkey"),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_nationkey"))
      .agg(countDistinct(col("c_custkey")).as("x"),
        countDistinct(col("o_orderkey")).as("y"))
    perNation.agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
      .select(col("n"),
        round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double") *
            (col("n") * col("syy") - col("sy") * col("sy")).cast("double")), 6)
          .as("pearson_r"))
  }

  /** Sample standard deviation of order value per region, from exact
    * decimal sums (same reproducibility rationale as [[correlationDensity]]).
    */
  def stddevOrderValue(orders: DataFrame, customer: DataFrame, nation: DataFrame,
      region: DataFrame): DataFrame =
    orders
      .join(customer.select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation.select("n_nationkey", "n_regionkey")),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .withColumn("x", col("o_totalprice").cast("decimal(18,2)"))
      .groupBy(col("r_name").as("region"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"),
        sum((col("x") * col("x")).cast("decimal(30,4)")).as("sxx"))
      .select(col("region"), col("n"),
        round(sqrt((col("n").cast("double") * col("sxx").cast("double") -
          col("sx").cast("double") * col("sx").cast("double")) /
          (col("n").cast("double") * (col("n") - 1).cast("double"))), 4)
          .as("stddev_price"))

  /** Exact median order value per region — two-pass, scale-safe
    * formulation. A naive rank window partitioned by region caps
    * parallelism at the region count (5 tasks each sorting tens of GB at
    * 100×); instead:
    *
    *  1. one grouped scan computes per-region counts plus an approximate
    *     [q40, q60] value bracket (rank error ≤ n/10000, so the true
    *     median ranks are provably inside the bracket for any n > 1000);
    *  2. a second scan counts rows strictly below the bracket and
    *     rank-windows ONLY the pruned middle slice (~20% worst case,
    *     ~0.2% at tight accuracy) — global rank = below-count + rank
    *     within the slice, from which the middle one/two exact decimals
    *     are averaged.
    *
    * Regions with ≤ 1000 rows skip pruning (the bracket guarantee needs
    * n > 1000; a 1000-row window is free anyway). Result is exact — the
    * sketch only prunes, never decides. Remaining scale caveat: a
    * pathological distribution where >O(memory) rows tie exactly at the
    * median would need a tie-split third pass.
    */
  def medianOrderValue(orders: DataFrame, customer: DataFrame, nation: DataFrame,
      region: DataFrame): DataFrame = {
    val priced = orders
      .join(customer.select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation.select("n_nationkey", "n_regionkey")),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .select(col("r_name").as("region"),
        col("o_totalprice").cast("decimal(18,2)").as("x"),
        col("o_orderkey"))
    // eager checkpoint: three consumers read this fact join (the
    // percentile stats agg, the below-count broadcast subquery, and the
    // middle window) and they schedule concurrently — unpinned, the
    // orders⋈customer join ran up to three times per call
    val pricedP = Memo.managedCheckpoint(priced)
    val stats = pricedP.groupBy(col("region")).agg(
      count(lit(1)).as("cnt"),
      percentile_approx(col("x").cast("double"), lit(0.4), lit(10000)).as("q_lo"),
      percentile_approx(col("x").cast("double"), lit(0.6), lit(10000)).as("q_hi"))
    val withStats = pricedP.join(broadcast(stats), Seq("region"))
    val xd = col("x").cast("double")
    val below = withStats
      .filter(col("cnt") > 1000 && xd < col("q_lo"))
      .groupBy(col("region")).agg(count(lit(1)).as("n_below"))
    val middle = withStats
      .filter(col("cnt") <= 1000 || (xd >= col("q_lo") && xd <= col("q_hi")))
    val w = Window.partitionBy(col("region")).orderBy(col("x"), col("o_orderkey"))
    middle
      .withColumn("rn_mid", row_number().over(w))
      .join(broadcast(below), Seq("region"), "left")
      .withColumn("rn", coalesce(col("n_below"), lit(0L)) + col("rn_mid"))
      .filter(col("rn") === expr("(cnt + 1) div 2") || col("rn") === expr("(cnt + 2) div 2"))
      .groupBy(col("region"))
      .agg(round(sum(col("x")).cast("double") / count(lit(1)), 2).as("median_price"))
  }

  /** Weekly cohort retention over the events stream: users grouped by
    * first-activity week, counted per subsequent activity week (the
    * engagement view the reference dashboards chart over time).
    */
  def weeklyRetention(events: DataFrame): DataFrame = {
    val weeks = events.select(col("user_id"),
      floor(datediff(to_date(col("ts")), lit("2024-01-01").cast("date")) / 7)
        .cast("int").as("week"))
    // ONE user-keyed exchange serves the distinct, the cohort min and
    // the join (the old shape shuffled the events projection three
    // times): partitioning by user_id alone satisfies the (user, week)
    // distinct's clustering, min over DISTINCT weeks equals min over
    // all weeks, and both the groupBy and the self-join reuse the
    // partitioning
    val wd = OpUtils.spread(weeks, col("user_id")).distinct()
    val cohorts = wd.groupBy(col("user_id")).agg(min(col("week")).as("cohort_week"))
    wd
      .join(cohorts, Seq("user_id"))
      .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  /** Per-nation sorted customer-name sample as a delimited string —
    * collect/sort/slice/string-agg family (dashboard drill-down lists).
    * The collect is bounded per group by the slice; at extreme group
    * sizes swap for a rank-window top-N first.
    */
  def customerSampleByNation(customer: DataFrame, nation: DataFrame, k: Int = 5): DataFrame =
    customer
      .join(broadcast(nation.select("n_nationkey", "n_name")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"))
      .agg(
        count(lit(1)).as("n_customers"),
        concat_ws(",", slice(sort_array(collect_list(col("c_name"))), 1, k))
          .as("sample_customers"))

  /** Fixed-width price histogram — single-pass bucketed distribution
    * (the QuickSight distribution chart, computed engine-side).
    */
  def priceHistogram(orders: DataFrame, bucketWidth: Double = 50000.0): DataFrame =
    orders
      .groupBy(floor(col("o_totalprice") / lit(bucketWidth)).cast("int").as("bucket"))
      .agg(count(lit(1)).as("n_orders"),
        round(min(col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2)
          .as("min_price"),
        round(max(col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2)
          .as("max_price"))

  /** RFM (recency / frequency / monetary) customer segmentation — the
    * classic CRM warehouse rollup. Each dimension scores 1–3 against its
    * own nearest-rank P33/P66 thresholds, computed on the DISTINCT-value
    * CDF (deterministic under ties; the only windows run over distinct
    * metric values, never the customer table, and thresholds broadcast
    * back). The monetary dimension quantizes to DOLLARS before the CDF
    * so its distinct table is price-domain-bounded — an exact-cents CDF
    * would be customer-sized at 100 TB (recency and frequency are
    * calendar- and order-count-bounded already). Segment labels follow
    * the standard RFM playbook; output is the |segments|-row rollup with
    * exact integer sums.
    */
  def rfmSegments(orders: DataFrame): DataFrame = {
    val cust = orders
      .select(col("o_custkey"), col("o_orderdate"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"))
      .groupBy(col("o_custkey"))
      .agg(max(to_date(col("o_orderdate"))).as("last_d"),
        count(lit(1)).as("freq"), sum(col("cents")).as("cents"))
    val maxD = orders.agg(max(to_date(col("o_orderdate"))).as("max_d"))
    // customer-grain base read by the threshold CDF (which folds to a
    // broadcast row) AND the scoring pass — those two consumers race a
    // lazily-persisted cache from concurrent stages of one action, each
    // recomputing the orders rollup (the pair_medians pathology), so
    // pin it with an eager checkpoint
    val scored0 = Memo.managedCheckpoint(cust.crossJoin(broadcast(maxD))
      .withColumn("rec_days", datediff(col("max_d"), col("last_d")).cast("long"))
      .withColumn("dollars", expr("cents div 100")))
    // nearest-rank P33/P66 for ALL THREE dimensions in one melted pass:
    // t = MIN value whose cumulative count ≥ ceil(p·n), computed on the
    // per-dimension distinct-value CDF (exact integer rank arithmetic
    // shared verbatim with the oracle). One shuffle + one window instead
    // of three of each; the result folds to a single broadcast row.
    val melted = scored0.select(explode(array(
      struct(lit("r").as("dim"), col("rec_days").as("v")),
      struct(lit("f").as("dim"), col("freq").as("v")),
      struct(lit("m").as("dim"), col("dollars").as("v")))).as("e"))
      .select(col("e.dim").as("dim"), col("e.v").as("v"))
    val wCum = Window.partitionBy(col("dim")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("dim"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val perDim = melted.groupBy(col("dim"), col("v")).agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n", sum(col("cnt")).over(wAll))
      .groupBy(col("dim"))
      .agg(
        min(when(col("cum") >= expr("(n * 33 + 99) div 100"), col("v"))).as("t33"),
        min(when(col("cum") >= expr("(n * 66 + 99) div 100"), col("v"))).as("t66"))
    def pick(dim: String, t: String) =
      min(when(col("dim") === dim, col(t)))
    val thresholdRow = perDim.agg(
      pick("r", "t33").as("rec_days_t33"), pick("r", "t66").as("rec_days_t66"),
      pick("f", "t33").as("freq_t33"), pick("f", "t66").as("freq_t66"),
      pick("m", "t33").as("dollars_t33"), pick("m", "t66").as("dollars_t66"))
    def score(metric: String, lowIsGood: Boolean): org.apache.spark.sql.Column = {
      val lo = col(s"${metric}_t33"); val hi = col(s"${metric}_t66")
      if (lowIsGood)
        when(col(metric) <= lo, 3L).when(col(metric) <= hi, 2L).otherwise(1L)
      else
        when(col(metric) <= lo, 1L).when(col(metric) <= hi, 2L).otherwise(3L)
    }
    scored0
      .crossJoin(broadcast(thresholdRow))
      .withColumn("r", score("rec_days", lowIsGood = true))
      .withColumn("f", score("freq", lowIsGood = false))
      .withColumn("m", score("dollars", lowIsGood = false))
      .withColumn("segment",
        when(col("r") === 3 && col("f") === 3 && col("m") === 3, "champion")
          .when(col("r") === 3 && col("f") >= 2, "loyal")
          .when(col("r") >= 2 && col("m") === 3, "big_spender")
          .when(col("r") === 1 && col("f") >= 2, "at_risk")
          .when(col("r") === 1, "hibernating")
          .otherwise("regular"))
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("rec_days")).as("sum_rec_days"),
        sum(col("freq")).as("sum_orders"),
        round((sum(col("cents").cast("decimal(38,0)")) / 100.0).cast("double"),
          2).as("total_spend"))
  }

  /** Decile lift table over customer spend — the marketing-analytics
    * standard ("the top decile carries X× its share"). Deciles are
    * assigned on the DISTINCT dollar-quantized spend CDF in DESCENDING
    * order (ties share a decile — deterministic; the distinct table is
    * price-domain-bounded), shares and lift in exact integer micro
    * units: lift = (decile revenue · total customers · 10⁶) div
    * (decile customers · total revenue).
    */
  def spendDecileLift(orders: DataFrame): DataFrame = {
    val spend = orders
      .select(col("o_custkey"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"))
      .groupBy(col("o_custkey")).agg(sum(col("cents")).as("cents"))
      // deciles assign on DOLLAR-quantized spend: the distinct-value CDF
      // is then bounded by the dollar price DOMAIN, not the customer
      // count (an exact-cents CDF is customer-sized — the cdfBuckets doc
      // warns callers to quantize continuous domains first). Revenue
      // stays exact cents; only the decile boundary is dollar-grained.
      .withColumn("dollars", expr("cents div 100"))
    val w = Window.orderBy(col("dollars").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    spend.groupBy(col("dollars"))
      // cents·cnt and the micro products cross 2⁶³ at corpus scale —
      // DECIMAL(38,0) throughout, BIGINT only at the final projection
      .agg(count(lit(1)).as("cnt"),
        sum(col("cents").cast("decimal(38,0)")).as("grp_cents"))
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("n", sum(col("cnt")).over(all))
      .withColumn("decile", expr("((cum - cnt) * 10) div n + 1").cast("int"))
      .groupBy(col("decile"))
      .agg(sum(col("cnt")).as("n_customers"),
        sum(col("grp_cents")).as("rev_cents"))
      .withColumn("total_rev", sum(col("rev_cents")).over(all))
      .withColumn("total_cust", sum(col("n_customers")).over(all))
      .select(col("decile"), col("n_customers"),
        round((col("rev_cents") / 100.0).cast("double"), 2).as("revenue"),
        expr("CAST((rev_cents * 1000000) DIV total_rev AS BIGINT)")
          .as("rev_share_micro"),
        expr("CAST((rev_cents * total_cust * 1000000) DIV " +
          "(CAST(n_customers AS DECIMAL(38,0)) * total_rev) AS BIGINT)")
          .as("lift_micro"))
  }

  /** Equi-depth (equi-height) price histogram — the statistic a
    * cost-based optimizer's ANALYZE collects for selectivity estimation,
    * computed engine-side and exactly. Buckets are assigned on the
    * DISTINCT-value CDF (each distinct price lands in the bucket of its
    * starting rank, so ties never split across buckets and the result is
    * deterministic — the property a sort-based NTILE over raw rows lacks).
    *
    * Scale: the corpus is touched once by a map-side-combined grouped
    * count; the only global window runs over DISTINCT prices, which is
    * domain-bounded (cents values), never corpus-sized. Bucket bounds in
    * exact cents; `cum·B` stays well inside BIGINT for any real corpus.
    */
  def equiDepthHistogram(orders: DataFrame, buckets: Int = 8): DataFrame = {
    val vals = orders
      .select((col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
        .as("cents"))
    OpUtils.cdfBuckets(vals, "cents", buckets)
      .groupBy(col("bucket").cast("int").as("bucket"))
      .agg(round(min(col("cents")) / 100.0, 2).as("lo_price"),
        round(max(col("cents")) / 100.0, 2).as("hi_price"),
        sum(col("n")).as("n_rows"),
        count(lit(1)).as("n_values"))
  }

  /** Orders with at least one line shipped more than `lateDays` after the
    * order date, counted per priority — the TPC-H Q4 shape (EXISTS →
    * left-semi join with an inequality residual). The semi join keeps the
    * probe side narrow: no lineitem columns survive past the join.
    */
  def lateShipmentPriority(orders: DataFrame, lineitem: DataFrame, lateDays: Int = 60): DataFrame =
    orders
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .join(lineitem.select(col("l_orderkey"), col("l_shipdate")),
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr(s"INTERVAL $lateDays DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_late_orders"))

  /** Distribution of orders-per-customer including zero-order customers —
    * the TPC-H Q13 shape (left outer join, count non-null, re-aggregate
    * into a histogram). Two shuffles, both map-side combined.
    */
  def customerOrderDistribution(customer: DataFrame, orders: DataFrame): DataFrame =
    customer
      .select(col("c_custkey"))
      .join(orders.select(col("o_custkey"), col("o_orderkey")),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("n_orders"))
      .groupBy(col("n_orders"))
      .agg(count(lit(1)).as("n_customers"))

  /** Lifetime-spend quartile per customer within their market segment.
    * Quartiles are assigned on the per-segment DISTINCT-DOLLAR CDF in
    * descending order (the cdfBuckets semantics: a tie group lands
    * wholly in its first member's quartile), so the result is
    * deterministic without any per-row total order.
    *
    * Scale: a segment-partitioned ntile over customer rows is ~5 tasks
    * each sorting #customers/5 rows at 100 TB. Here the only windows
    * run over the distinct (segment, dollars) table — bounded by the
    * dollar price DOMAIN, never the customer count — and the quartile
    * map broadcasts back onto the customer-grain rollup.
    */
  def customerSpendQuartiles(orders: DataFrame, customer: DataFrame): DataFrame = {
    val spend = orders
      .select(col("o_custkey"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"))
      .groupBy(col("o_custkey"))
      .agg(sum(col("cents")).as("cents"))
      .withColumn("dollars", expr("cents div 100"))
    val joined = customer
      .select(col("c_custkey"), col("c_mktsegment"))
      .join(spend, col("c_custkey") === col("o_custkey"))
    val wCum = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("dollars").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wSeg = Window.partitionBy(col("c_mktsegment"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val buckets = joined.groupBy(col("c_mktsegment"), col("dollars"))
      .agg(count(lit(1)).as("n"))
      .withColumn("cum", sum(col("n")).over(wCum))
      .withColumn("nd", sum(col("n")).over(wSeg))
      .select(col("c_mktsegment"), col("dollars"),
        expr("cast(((cum - n) * 4) div nd + 1 as int)").as("spend_quartile"))
    joined.join(broadcast(buckets), Seq("c_mktsegment", "dollars"))
      .select(col("c_custkey"), col("c_mktsegment"),
        round(col("cents") / 100.0, 2).as("spend"), col("spend_quartile"))
  }

  /** Disjunctive-predicate promo revenue (TPC-H Q19 shape): revenue over
    * an OR of (brand, size-range, quantity-range) conjunctions. The
    * point at scale is predicate handling — the part-side conjuncts push
    * into the part scan, the common l_quantity bound into the lineitem
    * scan, and the join stays a plain broadcast/shuffle equi-join on
    * partkey with the residual OR evaluated post-join in codegen.
    */
  def disjunctivePromoRevenue(lineitem: DataFrame, part: DataFrame): DataFrame = {
    val joined = lineitem
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"))
      .join(part.select("p_partkey", "p_brand", "p_size"),
        col("l_partkey") === col("p_partkey"))
    val cond =
      (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
        col("l_quantity").between(1, 20)) ||
      (col("p_brand") === "Brand#23" && col("p_size").between(10, 30) &&
        col("l_quantity").between(10, 35)) ||
      (col("p_brand") === "Brand#34" && col("p_size").between(20, 50) &&
        col("l_quantity").between(20, 50))
    joined.filter(cond)
      .agg(
        count(lit(1)).as("n_lines"),
        round(sum((col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
          .cast("decimal(18,4)")).cast("double"), 4).as("promo_revenue"))
  }

  /** Lapsed high-balance customers (TPC-H Q22 shape): customers whose
    * account balance exceeds the average positive balance and who placed
    * NO orders on/after the cutoff — scalar aggregate broadcast against
    * the dimension, anti-join against the (date-pruned) fact, per-nation
    * rollup. All heavy work is the anti-join on the order fact's
    * customer key; the date filter pushes into the orders scan.
    */
  def idleRichCustomers(customer: DataFrame, orders: DataFrame,
      nation: DataFrame, cutoff: String = "1998-01-01"): DataFrame = {
    val avgPos = customer
      .filter(col("c_acctbal") > 0.0)
      .agg((sum(col("c_acctbal").cast("decimal(18,2)")).cast("double") /
        count(lit(1))).as("avg_bal"))
    customer
      .crossJoin(broadcast(avgPos))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(orders.filter(col("o_orderdate") >= lit(cutoff).cast("timestamp"))
        .select("o_custkey"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .join(broadcast(nation.select("n_nationkey", "n_name")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"))
      .agg(count(lit(1)).as("n_customers"),
        round(sum(col("c_acctbal").cast("decimal(18,2)")).cast("double"), 2)
          .as("total_acctbal"))
  }

  /** Hourly volume anomalies per event type: z-score of each hour's
    * event count against that type's mean/stddev, from exact integer
    * sums (the dashboard alerting view). Two grouped passes over a
    * pre-aggregated hourly table; the stats side is tiny and broadcast.
    * Population stddev in the SQL-standard form from Σx, Σx², n.
    * Zero-variance types (all hourly counts equal) are dropped BEFORE the
    * z computation: Spark's divide-by-zero yields NULL while DuckDB's
    * IEEE 0/0 yields NaN (ordered above all numbers), so only an explicit
    * variance > 0 guard keeps the two engines row-identical.
    */
  def hourlyAnomalies(events: DataFrame, zMin: Double = 2.0): DataFrame = {
    val hourly = events
      .groupBy(date_trunc("hour", col("ts")).as("hour_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    val stats = hourly.groupBy(col("event_type").as("et"))
      .agg(count(lit(1)).as("n_hours"),
        sum(col("n_events")).as("sx"),
        sum(col("n_events") * col("n_events")).as("sxx"))
    hourly.join(broadcast(stats), col("event_type") === col("et"))
      .withColumn("mean", col("sx").cast("double") / col("n_hours"))
      .withColumn("variance",
        col("sxx").cast("double") / col("n_hours") -
          (col("sx").cast("double") / col("n_hours")) *
          (col("sx").cast("double") / col("n_hours")))
      .filter(col("variance") > 0.0)
      .withColumn("z",
        round((col("n_events").cast("double") - col("mean")) /
          sqrt(col("variance")), 4))
      .filter(abs(col("z")) >= zMin)
      .select(col("hour_start"), col("event_type"), col("n_events"),
        round(col("mean"), 4).as("mean_events"), col("z"))
  }

  /** Share of lines shipped within a threshold (ref: README insight "~75%
    * of complaints resolved within 3 days").
    */
  def pctFastFulfillment(lineitem: DataFrame, orders: DataFrame, thresholdDays: Int = 90): DataFrame =
    lineitem
      .join(orders.select("o_orderkey", "o_orderdate", "o_orderpriority"),
        col("l_orderkey") === col("o_orderkey"))
      .withColumn("days_to_ship",
        datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate"))))
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("days_to_ship") <= thresholdDays, 1L).otherwise(0L)).as("n_fast"))
      .select(
        col("o_orderpriority"), col("n_lines"), col("n_fast"),
        round(col("n_fast").cast("double") * lit(100.0) / col("n_lines"), 2).as("pct_fast"))

  /** Top returned-revenue customers (TPC-H Q10 shape): revenue lost to
    * returns in a date window, per customer. Scale shape: the returnflag
    * filter and the date window both push into their scans before the
    * two fact-fact shuffle joins; nation broadcasts; the top-k is a
    * TakeOrdered, never a global sort.
    */
  def returnedItemCustomers(lineitem: DataFrame, orders: DataFrame,
      customer: DataFrame, nation: DataFrame, from: String = "1999-01-01",
      until: String = "1999-07-01", k: Int = 20): DataFrame =
    lineitem
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      .join(orders
        .filter(col("o_orderdate") >= lit(from).cast("timestamp") &&
          col("o_orderdate") < lit(until).cast("timestamp"))
        .select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(customer.select("c_custkey", "c_name", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation.select("n_nationkey", "n_name")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name").as("nation"))
      .agg(count(lit(1)).as("n_return_lines"),
        round(sum((col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
          .cast("decimal(18,4)")).cast("double"), 4).as("returned_revenue"))
      .orderBy(col("returned_revenue").desc, col("c_custkey"))
      .limit(k)

  /** Small-quantity-order revenue (TPC-H Q17 shape): lines of one brand
    * whose quantity is below 20% of that part's average order quantity.
    * The correlated per-part threshold becomes a broadcast of the tiny
    * aggregated per-part table back onto the (brand-pruned) line scan —
    * no correlated subquery re-execution, two passes over a pruned slice.
    */
  def smallQtyRevenue(lineitem: DataFrame, part: DataFrame,
      brand: String = "Brand#23"): DataFrame = {
    val brandLines = lineitem
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      .join(part.filter(col("p_brand") === brand).select("p_partkey"),
        col("l_partkey") === col("p_partkey"))
    val perPart = brandLines
      .groupBy(col("l_partkey").as("t_partkey"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("sq"),
        count(lit(1)).as("cnt"))
    brandLines
      .join(perPart, col("l_partkey") === col("t_partkey"))
      .filter(col("l_quantity") <
        lit(0.2) * (col("sq").cast("double") / col("cnt")))
      .agg(count(lit(1)).as("n_lines"),
        round(sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
          / lit(7.0), 4).as("avg_yearly"))
  }

  /** Large-volume orders (TPC-H Q18 shape): orders whose total line
    * quantity exceeds a threshold, with their customer. The group-having
    * runs map-side-combined on the fact alone; only the few surviving
    * order keys join back to orders/customer. Deterministic top-k.
    */
  def largeOrderCustomers(lineitem: DataFrame, orders: DataFrame,
      customer: DataFrame, minQty: Double = 300.0, k: Int = 100): DataFrame = {
    val big = lineitem
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("sq"))
      .filter(col("sq").cast("double") > minQty)
    orders.select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(customer.select("c_custkey", "c_name"),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"),
        round(col("sq").cast("double"), 2).as("sum_qty"))
      .orderBy(col("sum_qty").desc, col("o_orderkey"))
      .limit(k)
  }

  /** Bilateral shipping volume (TPC-H Q7 shape): revenue between two
    * nations by supplier-nation/customer-nation/ship-year. Both nation
    * filters are applied to the DIMENSIONS first (supplier and customer
    * each pruned to the two nations before touching a fact), so the
    * lineitem⋈supplier join prunes the fact early and only the
    * orders⋈customer link shuffles at fact size.
    */
  def volumeShipping(lineitem: DataFrame, orders: DataFrame,
      customer: DataFrame, supplier: DataFrame, nation: DataFrame,
      nationA: String = "NATION_3", nationB: String = "NATION_7"): DataFrame = {
    val picked = nation
      .filter(col("n_name").isin(nationA, nationB))
      .select("n_nationkey", "n_name")
    val supp = supplier.select("s_suppkey", "s_nationkey")
      .join(broadcast(picked.select(col("n_nationkey"),
        col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "supp_nation")
    val cust = customer.select("c_custkey", "c_nationkey")
      .join(broadcast(picked.select(col("n_nationkey").as("cn_key"),
        col("n_name").as("cust_nation"))),
        col("c_nationkey") === col("cn_key"))
      .select("c_custkey", "cust_nation")
    lineitem
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"),
        col("l_extendedprice"), col("l_discount"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .join(orders.select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(count(lit(1)).as("n_lines"),
        round(sum((col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
          .cast("decimal(18,4)")).cast("double"), 4).as("revenue"))
  }

  /** Product-line profit by nation and year (TPC-H Q9 shape; the
    * supplycost leg is proxied by part retail price since the testdata
    * has no partsupp table). The part-name pattern prunes parts → the
    * lineitem join prunes the fact; supplier/nation/part broadcast;
    * orders is the only fact-sized shuffle.
    */
  def productProfit(lineitem: DataFrame, orders: DataFrame, part: DataFrame,
      supplier: DataFrame, nation: DataFrame,
      namePattern: String = "%red%"): DataFrame = {
    val revenue = (col("l_extendedprice").cast("decimal(18,2)") *
      (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
      .cast("decimal(18,4)")
    val cost = (col("p_retailprice").cast("decimal(18,2)") *
      col("l_quantity").cast("decimal(18,2)")).cast("decimal(18,4)")
    lineitem
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"))
      .join(part.filter(col("p_name").like(namePattern))
        .select("p_partkey", "p_retailprice"),
        col("l_partkey") === col("p_partkey"))
      .join(supplier.select("s_suppkey", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation.select("n_nationkey", "n_name")),
        col("s_nationkey") === col("n_nationkey"))
      .join(orders.select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"))
      .agg(count(lit(1)).as("n_lines"),
        round(sum(revenue - cost).cast("double"), 4).as("profit"))
  }

  private def execRevenue =
    (col("l_extendedprice").cast("decimal(18,2)") *
      (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
      .cast("decimal(18,4)")

  /** Revenue delta if mid-band discounts were dropped (TPC-H Q6 shape):
    * a single filtered aggregate with NO join — the pure-scan query whose
    * entire predicate set must reach the parquet reader (shipdate range,
    * discount band, quantity cap all appear in PushedFilters). At 100 TB
    * this is the query that proves pushdown works: it reads 3 columns of
    * one year of one fact and nothing else.
    */
  def discountRevenueDelta(lineitem: DataFrame, from: String = "1998-01-01",
      until: String = "1999-01-01"): DataFrame =
    lineitem
      .filter(col("l_shipdate") >= lit(from).cast("timestamp") &&
        col("l_shipdate") < lit(until).cast("timestamp") &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .agg(count(lit(1)).as("n_lines"),
        round(sum((col("l_extendedprice").cast("decimal(18,2)") *
          col("l_discount").cast("decimal(18,2)")).cast("decimal(18,4)"))
          .cast("double"), 4).as("forecast_delta"))

  /** A nation's share of a region's market revenue per year (TPC-H Q8
    * shape). Scale shape: the market (customers of the target region) is
    * a broadcast semi-join onto orders; the supplier nation labels the
    * revenue side via broadcast dims; one fact-fact shuffle on orderkey.
    * Share = exact-decimal conditional sum / exact-decimal total, divided
    * once in double at the end (merge-order independent).
    */
  def marketShare(lineitem: DataFrame, orders: DataFrame, customer: DataFrame,
      supplier: DataFrame, nation: DataFrame, region: DataFrame,
      targetRegion: String = "ASIA", targetNation: String = "NATION_2"): DataFrame = {
    val marketCust = customer.select("c_custkey", "c_nationkey")
      .join(broadcast(nation.select("n_nationkey", "n_regionkey")),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region.filter(col("r_name") === targetRegion)),
        col("n_regionkey") === col("r_regionkey"))
      .select("c_custkey")
    val suppNation = supplier.select("s_suppkey", "s_nationkey")
      .join(broadcast(nation.select(col("n_nationkey").as("sn_key"),
        col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("sn_key"))
      .select("s_suppkey", "supp_nation")
    lineitem
      .select(col("l_orderkey"), col("l_suppkey"), col("l_extendedprice"),
        col("l_discount"))
      .join(orders.select("o_orderkey", "o_custkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .join(marketCust, col("o_custkey") === col("c_custkey"), "left_semi")
      .join(suppNation, col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(
        round(sum(when(col("supp_nation") === targetNation, execRevenue)
          .otherwise(lit(0).cast("decimal(18,4)"))).cast("double") /
          sum(execRevenue).cast("double"), 6).as("mkt_share"),
        round(sum(execRevenue).cast("double"), 2).as("total_revenue"))
  }

  /** Promotional revenue share in a ship-date window (TPC-H Q14 shape):
    * conditional-sum over one broadcast part join — the part side prunes
    * to (partkey, type) before broadcast, and both sums come out of one
    * scan of the date-pruned fact.
    */
  def promoRevenuePct(lineitem: DataFrame, part: DataFrame,
      from: String = "1998-01-01", until: String = "1999-01-01"): DataFrame =
    lineitem
      .filter(col("l_shipdate") >= lit(from).cast("timestamp") &&
        col("l_shipdate") < lit(until).cast("timestamp"))
      .select(col("l_partkey"), col("l_extendedprice"), col("l_discount"))
      .join(part.select("p_partkey", "p_type"),
        col("l_partkey") === col("p_partkey"))
      .agg(count(lit(1)).as("n_lines"),
        round(sum(when(col("p_type") === "PROMO", execRevenue)
          .otherwise(lit(0).cast("decimal(18,4)"))).cast("double") * 100.0 /
          sum(execRevenue).cast("double"), 4).as("promo_pct"))

  /** Top supplier(s) by revenue in a ship-date window (TPC-H Q15 shape):
    * per-supplier exact-decimal revenue, the scalar max broadcast back,
    * equality on the EXACT decimal (never the rounded double) so ties are
    * engine-independent. The "view" of Q15 is the grouped agg; no
    * materialization needed — Catalyst reuses the exchange.
    */
  def topSupplier(lineitem: DataFrame, supplier: DataFrame,
      from: String = "1999-01-01", until: String = "1999-04-01"): DataFrame = {
    val rev = lineitem
      .filter(col("l_shipdate") >= lit(from).cast("timestamp") &&
        col("l_shipdate") < lit(until).cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum(execRevenue).as("rev_exact"))
    val mx = rev.agg(max(col("rev_exact")).as("max_exact"))
    rev.crossJoin(broadcast(mx))
      .filter(col("rev_exact") === col("max_exact"))
      .join(supplier.select("s_suppkey", "s_name"),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        round(col("rev_exact").cast("double"), 4).as("total_revenue"))
  }

  /** Suppliers who were the SOLE late shipper on multi-supplier finished
    * orders (TPC-H Q21 shape, adapted to this schema's shipdate-only
    * lateness). Instead of Q21's triple self-join (EXISTS + NOT EXISTS on
    * the same fact), the distributed-friendly form is one grouped pass
    * per order — countDistinct suppliers / late suppliers — which shuffles
    * the fact ONCE on orderkey instead of three times; blame lands on the
    * unique late supplier. Top-k via TakeOrdered with a unique tiebreak.
    */
  def soleLateSupplier(lineitem: DataFrame, orders: DataFrame,
      supplier: DataFrame, nation: DataFrame, lateDays: Int = 60,
      k: Int = 20): DataFrame = {
    // two-level aggregation instead of countDistinct×2: a per-(order,
    // supplier) rollup first (map-side combined, no Expand doubling the
    // shuffle the way multi-distinct aggregates plan), then plain counts
    // at order grain
    val perOrderSupp = lineitem
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      .join(orders.filter(col("o_orderstatus") === "F")
        .select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(col("l_shipdate") >
        col("o_orderdate") + expr(s"INTERVAL $lateDays DAY")).as("late"))
    val perOrder = perOrderSupp
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_supp"),
        sum(when(col("late"), 1L).otherwise(0L)).as("n_late_supp"),
        min(when(col("late"), col("l_suppkey"))).as("late_supp"))
    perOrder
      .filter(col("n_supp") >= 2 && col("n_late_supp") === 1)
      .groupBy(col("late_supp"))
      .agg(count(lit(1)).as("n_waits"))
      .join(supplier.select("s_suppkey", "s_name", "s_nationkey"),
        col("late_supp") === col("s_suppkey"))
      .join(broadcast(nation.select("n_nationkey", "n_name")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_name"), col("n_name").as("nation"), col("n_waits"))
      .orderBy(col("n_waits").desc, col("s_name"))
      .limit(k)
  }

  /** Minimum-cost supplier per part within a region (TPC-H Q2 shape; the
    * part-supplier cost relation is derived from lineitem since the
    * testdata has no partsupp — unit cost = Σprice/Σqty per (part,
    * supplier)). The cost is computed and compared in exact INTEGER
    * micro-units (Σcents·10⁴ div Σqty, both sums exact decimals first):
    * a rounded-double quotient hit a half-way tie at sf0.1 that Spark's
    * HALF_UP BigDecimal and DuckDB's float round broke differently, and
    * integer division is the only engine-independent quotient. Scale
    * shape: the (part, supplier) agg is the only fact-sized shuffle;
    * regional suppliers and the size-filtered part list broadcast;
    * per-part min via a window over the few suppliers of each part.
    */
  def minCostSupplier(lineitem: DataFrame, part: DataFrame, supplier: DataFrame,
      nation: DataFrame, region: DataFrame, targetRegion: String = "EUROPE",
      targetSize: Int = 15): DataFrame = {
    val regionalSupp = supplier.select("s_suppkey", "s_name", "s_nationkey")
      .join(broadcast(nation.select("n_nationkey", "n_regionkey", "n_name")),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region.filter(col("r_name") === targetRegion)),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name"))
    // both selective broadcast filters (target size ≈ 2% of parts,
    // target region ≈ 20% of suppliers) run BEFORE the (part, supplier)
    // rollup, so the grouped shuffle carries ~0.4% of the fact instead
    // of every pair — per-pair sums are unchanged by pruning other keys
    val ps = lineitem
      .select(col("l_partkey"), col("l_suppkey"), col("l_extendedprice"),
        col("l_quantity"))
      .join(part.filter(col("p_size") === targetSize)
        .select("p_partkey", "p_brand"),
        col("l_partkey") === col("p_partkey"))
      .join(regionalSupp, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"), col("p_partkey"),
        col("p_brand"), col("s_name"), col("n_name"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)")).as("sum_price"),
        sum(col("l_quantity").cast("decimal(18,2)")).as("sum_qty"))
      // value-range note: cents·10⁴ must stay under 2⁶³ — per-(part,
      // supplier) revenue would need to exceed ~9·10¹⁴ currency units to
      // overflow, and ANSI mode turns an overflow into a loud error, not
      // a silent wrap
      .withColumn("cents", (col("sum_price") * 100).cast("long"))
      .withColumn("qty_units", col("sum_qty").cast("long"))
      .withColumn("unit_cost_micro", expr("(cents * 10000) div qty_units"))
    val w = Window.partitionBy(col("l_partkey"))
    ps
      .withColumn("min_cost", min(col("unit_cost_micro")).over(w))
      .filter(col("unit_cost_micro") === col("min_cost"))
      .select(col("p_partkey"), col("p_brand"), col("s_name"),
        col("n_name").as("nation"), col("unit_cost_micro"))
  }

  /** Parts that are an outsized share of their nation's supplied value
    * (TPC-H Q11 shape; partsupp value is derived from lineitem shipments).
    * The Q11 signature move is the HAVING-against-a-scalar-fraction: the
    * per-part value filters against a threshold computed from the SAME
    * aggregated data. The threshold is DATA-DERIVED — share ≥
    * `meanMult`× the nation's mean part share (Q11 scales its literal
    * fraction by 1/SF for exactly this reason: any fixed share cutoff
    * degenerates to zero rows as the part population grows; this form
    * stays meaningful from sf0.001 to 100 TB). The filter compares in
    * exact decimal cross-multiplied form — no float division on the
    * predicate path. Scale shape: one fact-sized (nation, part) agg; the
    * per-nation totals are a tiny second-level agg broadcast back — the
    * fact is never re-scanned for the threshold.
    */
  def importantParts(lineitem: DataFrame, supplier: DataFrame,
      nation: DataFrame, meanMult: Int = 4): DataFrame = {
    val value = (col("l_extendedprice").cast("decimal(18,2)") *
      col("l_quantity").cast("decimal(18,2)")).cast("decimal(18,4)")
    val perPart = lineitem
      .select(col("l_partkey"), col("l_suppkey"), col("l_extendedprice"),
        col("l_quantity"))
      .join(supplier.select("s_suppkey", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation.select("n_nationkey", "n_name")),
        col("s_nationkey") === col("n_nationkey"))
      // the agg reuses this; unspread: one task, 0.5 s; nation alone caps it at |nations| tasks
      .transform(OpUtils.spread(_, col("n_name"), col("l_partkey")))
      .groupBy(col("n_name").as("nation"), col("l_partkey"))
      .agg(sum(value).as("part_value"))
    // nation total as a window over the grouped (nation, part) output —
    // the fact is scanned and shuffled exactly once; the window
    // re-shuffles only the part-grain intermediate (dim-bounded), where
    // a second agg + join-back would re-derive the fact rollup twice
    // whenever exchange reuse misses
    val w = Window.partitionBy(col("nation"))
    // the window reuses this; unspread: one task; |nations|-bounded
    OpUtils.spread(perPart, col("nation"))
      .withColumn("nation_value", sum(col("part_value")).over(w))
      .withColumn("n_parts", count(lit(1)).over(w))
      // share ≥ meanMult/n_parts, cross-multiplied: exact decimal × long
      .filter(col("part_value") * col("n_parts") >=
        col("nation_value") * meanMult)
      .select(col("nation"), col("l_partkey"),
        round(col("part_value").cast("double"), 2).as("part_value"),
        round(col("part_value").cast("double") /
          col("nation_value").cast("double"), 6).as("value_share"))
  }

  /** Distinct supplier counts per part group, excluding flagged suppliers
    * (TPC-H Q16 shape; negative account balance proxies the complaints
    * list, and the part-supplier relation is the distinct (partkey,
    * suppkey) projection of lineitem). Scale shape: the distinct pair
    * projection is the one fact-sized shuffle; the exclusion list and
    * part attributes broadcast; countDistinct partial-aggregates.
    */
  def partSupplierCounts(lineitem: DataFrame, part: DataFrame,
      supplier: DataFrame, excludeBrand: String = "Brand#1"): DataFrame =
    lineitem.select(col("l_partkey"), col("l_suppkey")).distinct()
      .join(supplier.filter(col("s_acctbal") < 0)
        .select(col("s_suppkey")),
        col("l_suppkey") === col("s_suppkey"), "left_anti")
      .join(part.filter(col("p_brand") =!= excludeBrand)
        .select("p_partkey", "p_brand", "p_type", "p_size"),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))

  /** High- vs low-priority line counts among late-shipped lines, per line
    * status — the TPC-H Q12 shape (one fact⋈fact join, then conditional
    * counts in a single grouped pass; Q12's shipmode becomes linestatus —
    * the testdata carries no l_shipmode). The join ships only three
    * orders columns; both conditional sums partial-aggregate map-side, so
    * the second shuffle is 2 rows per status per task regardless of
    * corpus size. (Ref behavior: the notebooks' late-delivery priority
    * breakdowns, e.g. Analysis/NYC accident analysis.ipynb's
    * severity-by-period pivot.)
    */
  def latePriorityMix(orders: DataFrame, lineitem: DataFrame, lateDays: Int = 30): DataFrame =
    lineitem
      .select(col("l_orderkey"), col("l_linestatus"), col("l_shipdate"))
      .join(orders.select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr(s"INTERVAL $lateDays DAYS"))
      .groupBy(col("l_linestatus"))
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("high_line_count"),
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
          .otherwise(1L)).as("low_line_count"))

  /** Suppliers shipping an EXCESS share (> 1/shareDenom) of some promo
    * part's volume — the TPC-H Q20 shape (nested subqueries →
    * per-(part, supplier) rollup, a per-part total via a window on the
    * SAME partitioning, and a supplier-grain count; partsupp
    * availability becomes shipped volume — the testdata carries no
    * partsupp). Exact integer math throughout (quantities are integral;
    * the share test is shareDenom·sq > total in BIGINT). Scale shape:
    * the promo-part filter prunes the fact scan via a broadcast
    * semi-join BEFORE the only fact-sized shuffle; the window reuses the
    * grouped output (one extra exchange, no rescan); supplier/nation
    * broadcast.
    */
  def excessShareSuppliers(lineitem: DataFrame, part: DataFrame,
      supplier: DataFrame, nation: DataFrame, prefix: String = "red",
      shareDenom: Int = 8): DataFrame = {
    val promo = part.filter(col("p_name").startsWith(prefix)).select(col("p_partkey"))
    val perPartSupp = lineitem
      .select(col("l_partkey"), col("l_suppkey"), col("l_quantity").cast("long").as("q"))
      .join(promo, col("l_partkey") === col("p_partkey"), "left_semi")
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("q")).as("sq"))
    perPartSupp
      .withColumn("total_q",
        sum(col("sq")).over(Window.partitionBy(col("l_partkey"))))
      .filter(col("sq") * shareDenom > col("total_q"))
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_majority_parts"))
      .join(supplier.select(col("s_suppkey"), col("s_name"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation.select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name").as("nation"),
        col("n_majority_parts"))
  }

  /** Exact order-value deciles without a corpus-wide sort: values are
    * quantized to whole dollars (bounded distinct domain), the decile is
    * assigned by the CDF of the DISTINCT-value table (tie groups never
    * split — same scheme as TextOps.perplexityBuckets), and per-decile
    * stats are exact integers. The only global window runs over distinct
    * dollar values — bounded by the price range, never the order count.
    * An exact global ntile would single-partition-sort every order row.
    */
  def orderValueDeciles(orders: DataFrame, buckets: Int = 10): DataFrame = {
    val vals = orders.select(floor(col("o_totalprice")).cast("long").as("p"))
    OpUtils.cdfBuckets(vals, "p", buckets)
      .groupBy(col("bucket").as("decile"))
      .agg(sum(col("n")).as("n_orders"),
        min(col("p")).as("min_dollars"),
        max(col("p")).as("max_dollars"))
  }

  /** Supplier market concentration per nation — the Herfindahl–Hirschman
    * index over shipped-quantity shares, entirely in exact integer
    * micro-units (share_micro = ⌊10⁶·sq/total⌋; HHI_micro =
    * ⌊Σ share_micro²/10⁶⌋ ∈ [0, 10⁶]) so the statistic is engine-stable.
    * One fact-sized grouped shuffle; the per-nation total reuses the
    * grouped output via a window; nation dim broadcasts.
    */
  def nationSupplierHhi(lineitem: DataFrame, supplier: DataFrame,
      nation: DataFrame): DataFrame = {
    val perSupp = lineitem
      .select(col("l_suppkey"), col("l_quantity").cast("long").as("q"))
      .groupBy(col("l_suppkey"))
      .agg(sum(col("q")).as("sq"))
      .join(supplier.select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation.select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
    // per-nation totals as a map-side-combined rollup broadcast back —
    // a window partitioned by the ~25-value nation key would funnel the
    // whole supplier grain (~10⁹ rows at 100 TB) into ~25 tasks
    val totals = perSupp.groupBy(col("n_name"))
      .agg(sum(col("sq")).as("tot"))
    perSupp.join(broadcast(totals), Seq("n_name"))
      .withColumn("share_micro", expr("(sq * 1000000) div tot"))
      .groupBy(col("n_name").as("nation"))
      .agg(count(lit(1)).as("n_suppliers"),
        expr("sum(share_micro * share_micro) div 1000000").as("hhi_micro"))
  }

  /** Per-nation top-k order values via the bounded mergeable
    * [[graft.functions.TopKLongs]] aggregate — the scale-friendly
    * per-group top-k: a ranked window sorts every group's full order
    * history; this carries ≤ k values per group through the shuffle with
    * map-side combine, and is EXACT (bounded state, not a sketch).
    * Values in exact integer cents.
    */
  def nationTopOrderValues(orders: DataFrame, customer: DataFrame,
      nation: DataFrame, k: Int = 3): DataFrame = {
    val topk = udaf(new graft.functions.TopKLongs(k),
      org.apache.spark.sql.Encoders.scalaLong)
    orders
      .select(col("o_custkey"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("cents"))
      .join(customer.select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation.select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"))
      .agg(topk(col("cents")).as("top"))
      .select(col("nation"), posexplode(col("top")).as(Seq("pos", "value_cents")))
      .select(col("nation"), (col("pos") + 1).cast("long").as("rank"),
        col("value_cents"))
  }

  /** Market-basket affinity over part types — support counts and lift
    * per unordered type pair, the co-purchase signal behind "customers
    * also bought". Exact integer math: lift_micro =
    * ⌊10⁶ · n_both · N / (n_a · n_b)⌋ with the numerator widened to
    * decimal so it cannot overflow at lake scale. Scale shape: the
    * distinct (order, type) projection is the only fact-sized shuffle;
    * the within-order pair join fans out ≤ |types|² per order; type
    * counts and the order total broadcast.
    */
  def basketAffinity(lineitem: DataFrame, part: DataFrame): DataFrame = {
    // ONE fact-sized shuffle: collect the distinct type set per order
    // (state bounded by |types|, not basket size), then every downstream
    // frame — order count, per-type supports, within-order pairs (a
    // double explode, bounded by |types|² per order) — derives from the
    // order-grain table without re-shuffling the fact. The former
    // self-join formulation shuffled the (order, type) projection twice.
    // eager checkpoint, not lazy persist: the two type-count broadcasts
    // and the order-total broadcast all launch concurrently at action
    // start, and racing scans of an unpopulated cache would each re-run
    // the fact-sized shuffle (the pair_medians pathology)
    // spread before the checkpoint: the order-grain rollup is small in
    // bytes, AQE coalesces it, and a checkpoint taken there would pin
    // the CPU-dense double-explode downstream at that low parallelism
    val ot = Memo.managedCheckpoint(OpUtils.spread(
      lineitem.select(col("l_orderkey"), col("l_partkey"))
        .join(part.select(col("p_partkey"), col("p_type")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_orderkey"))
        .agg(collect_set(col("p_type")).as("types"))))
    val nOrders = ot.agg(count(lit(1)).as("n_orders"))
    val typeCounts = ot.select(explode(col("types")).as("p_type"))
      .groupBy(col("p_type")).agg(count(lit(1)).as("n_t"))
    ot.select(explode(col("types")).as("type_a"), col("types"))
      .select(col("type_a"), explode(col("types")).as("type_b"))
      .filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_both"))
      .join(broadcast(typeCounts.select(col("p_type").as("type_a"),
        col("n_t").as("n_a"))), Seq("type_a"))
      .join(broadcast(typeCounts.select(col("p_type").as("type_b"),
        col("n_t").as("n_b"))), Seq("type_b"))
      .crossJoin(broadcast(nOrders))
      .select(col("type_a"), col("type_b"), col("n_both"),
        col("n_a"), col("n_b"),
        // denominator widened too: two lake-scale type counts multiplied
        // in BIGINT would overflow (ANSI error) exactly where the oracle's
        // HUGEINT math keeps going
        expr("(cast(n_both as decimal(38,0)) * n_orders * 1000000) div " +
          "(cast(n_a as decimal(38,0)) * n_b)").as("lift_micro"))
  }

  /** New-vs-returning customer mix per month — orders in a customer's
    * first-ever month are "new", everything later "returning": the
    * acquisition-vs-retention decomposition on every growth dashboard.
    *
    * Scale: the first month rides a min() window on the single
    * o_custkey shuffle (no separate rollup + join-back); the monthly
    * rollup is map-side combined to calendar-bounded rows. Exact
    * decimal revenue projected as rounded doubles; share in integer
    * micro-units.
    */
  def newVsReturning(orders: DataFrame): DataFrame = {
    val o = orders.select(col("o_custkey"),
      (year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
        .cast("long").as("ym"),
      col("o_totalprice").cast("decimal(18,2)").as("p"))
    o.withColumn("first_ym", min(col("ym")).over(
        Window.partitionBy(col("o_custkey"))))
      .groupBy(col("ym"))
      .agg(
        sum(when(col("ym") === col("first_ym"), 1L).otherwise(0L)).as("n_new"),
        sum(when(col("ym") =!= col("first_ym"), 1L).otherwise(0L))
          .as("n_returning"),
        round(coalesce(sum(when(col("ym") === col("first_ym"), col("p"))),
          lit(0).cast("decimal(18,2)")).cast("double"), 2).as("new_revenue"),
        round(coalesce(sum(when(col("ym") =!= col("first_ym"), col("p"))),
          lit(0).cast("decimal(18,2)")).cast("double"), 2)
          .as("returning_revenue"))
      .withColumn("new_share_micro",
        expr("(n_new * 1000000) div (n_new + n_returning)"))
  }

  /** Year-over-year revenue growth per part type — the "fastest growing
    * categories" trend view. Growth is exact integer micro-units
    * (10⁶ = flat) computed on ten-thousandth-unit revenue integers; the
    * lag window runs over the (type, year) rollup (≤ |types|·|years|
    * rows), never the fact.
    */
  def categoryGrowth(lineitem: DataFrame, part: DataFrame): DataFrame = {
    val yearly = lineitem
      .select(col("l_partkey"), year(col("l_shipdate")).cast("long").as("yr"),
        (col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
          .as("rev"))
      .join(part.select(col("p_partkey"), col("p_type")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_type"), col("yr"))
      .agg((sum(col("rev")).cast("decimal(18,4)") * 10000).cast("long")
        .as("r4"))
    yearly
      .withColumn("prev_r4", lag(col("r4"), 1).over(
        Window.partitionBy(col("p_type")).orderBy(col("yr"))))
      // guard: consecutive years only (a gap year is not a YoY base)
      .withColumn("prev_yr", lag(col("yr"), 1).over(
        Window.partitionBy(col("p_type")).orderBy(col("yr"))))
      .select(col("p_type"), col("yr"),
        round(col("r4") / 10000.0, 2).as("revenue"),
        when(col("prev_yr") === col("yr") - 1 && col("prev_r4") > 0,
          expr("(cast(r4 as decimal(38,0)) * 1000000) div prev_r4"))
          .as("yoy_growth_micro"))
  }

  /** Month-of-year revenue seasonality index in exact micro-units:
    * index = ⌊10⁶ · 12 · month_revenue / total⌋ (10⁶·12⁰ = a flat
    * month). One grouped scan; the total is a window over the 12-row
    * grouped output.
    */
  def seasonalityIndex(orders: DataFrame): DataFrame =
    orders
      .select(month(col("o_orderdate")).cast("long").as("month"),
        col("o_totalprice").cast("decimal(18,2)").as("p"))
      .groupBy(col("month"))
      .agg((sum(col("p")) * 100).cast("long").as("revenue_cents"))
      .withColumn("total", sum(col("revenue_cents")).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col("month"), col("revenue_cents"),
        expr("(cast(revenue_cents as decimal(38,0)) * 12000000) div total")
          .as("index_micro"))

  /** Cohort lifetime-value curves — customers grouped by first-order
    * quarter, revenue tracked per quarter offset with a cumulative
    * running total: the retention-economics view every warehouse ships.
    * Exact math end-to-end (quarter index arithmetic, decimal→cents).
    * The cohort assignment is a min() window on the SAME hash(custkey)
    * partitioning as the source rollup; the cumulative window partitions
    * by cohort over ≤ #quarters rows — bounded, never corpus-sized.
    */
  def cohortLtv(orders: DataFrame): DataFrame = {
    val o = orders
      .select(col("o_custkey"),
        (year(col("o_orderdate")) * 4 + quarter(col("o_orderdate")) - 1)
          .cast("long").as("qidx"),
        col("o_totalprice").cast("decimal(18,2)").as("p"))
      .withColumn("cqidx",
        min(col("qidx")).over(Window.partitionBy(col("o_custkey"))))
    o.groupBy(col("cqidx"), (col("qidx") - col("cqidx")).as("quarter_offset"))
      .agg(countDistinct(col("o_custkey")).as("n_active"),
        (sum(col("p")) * 100).cast("long").as("revenue_cents"))
      .withColumn("cum_revenue_cents",
        sum(col("revenue_cents")).over(
          Window.partitionBy(col("cqidx")).orderBy(col("quarter_offset"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(
        concat(expr("cqidx div 4").cast("string"), lit("-Q"),
          (col("cqidx") % 4 + 1).cast("string")).as("cohort_quarter"),
        col("quarter_offset"), col("n_active"),
        col("revenue_cents"), col("cum_revenue_cents"))
  }

  /** Event-activity heatmap by (ISO weekday, hour) — the load-pattern
    * dashboard view. One map-side-combined grouped scan; value totals in
    * exact cents.
    */
  def weekdayHourHeatmap(events: DataFrame): DataFrame =
    events
      .filter(col("ts").isNotNull)
      .groupBy((weekday(col("ts")) + 1).cast("long").as("iso_dow"),
        hour(col("ts")).cast("long").as("hour_of_day"))
      .agg(count(lit(1)).as("n_events"),
        (sum(col("value").cast("decimal(18,2)")) * 100).cast("long")
          .as("value_cents"))

  /** RFM customer segmentation — the marketing-warehouse classic:
    * recency (days since last order vs the corpus max date), frequency
    * (order count), monetary (lifetime spend in exact cents), each
    * scored 1-3 on fixed thresholds, concatenated into a segment code
    * ("333" = best). Everything exact integers/decimals — no float
    * ratios; the reference date is a one-row broadcast, the per-customer
    * rollup is the only fact-sized shuffle (map-side combined).
    */
  def customerRfmSegments(orders: DataFrame): DataFrame = {
    val ref = orders.agg(max(col("o_orderdate")).as("ref_date"))
    orders
      .select(col("o_custkey"), col("o_orderdate"),
        col("o_totalprice").cast("decimal(18,2)").as("p"))
      .groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).as("last_order"),
        count(lit(1)).as("frequency"),
        sum(col("p")).as("spend"))
      .crossJoin(broadcast(ref))
      .select(col("o_custkey"),
        datediff(col("ref_date"), col("last_order")).cast("long").as("recency_days"),
        col("frequency"),
        (col("spend") * 100).cast("long").as("monetary_cents"))
      .withColumn("r_score",
        when(col("recency_days") <= 365, 3L)
          .when(col("recency_days") <= 1095, 2L).otherwise(1L))
      .withColumn("f_score",
        when(col("frequency") >= 15, 3L)
          .when(col("frequency") >= 8, 2L).otherwise(1L))
      .withColumn("m_score",
        when(col("monetary_cents") >= 300000000L, 3L)
          .when(col("monetary_cents") >= 150000000L, 2L).otherwise(1L))
      .withColumn("segment",
        concat(col("r_score").cast("string"), col("f_score").cast("string"),
          col("m_score").cast("string")))
  }

  /** Per-customer inter-order gap statistics (recency/frequency
    * signals): consecutive orders by date, the gap in whole days, and
    * min/max/mean per customer — mean in exact integer micro-days
    * (multiply-then-integer-divide, engine-stable). The lag() window
    * partitions by customer (bounded history, no global sort); the
    * rollup reuses the same hash(custkey) exchange.
    */
  def orderGapStats(orders: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    orders
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
      .withColumn("prev_date", lag(col("o_orderdate"), 1).over(w))
      .filter(col("prev_date").isNotNull)
      .select(col("o_custkey"),
        datediff(col("o_orderdate"), col("prev_date")).cast("long").as("gap_days"))
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_gaps"),
        min(col("gap_days")).as("min_gap_days"),
        max(col("gap_days")).as("max_gap_days"),
        expr("(sum(gap_days) * 1000000) div count(1)").as("avg_gap_micro_days"))
  }

  /** Explicit GROUPING SETS revenue profile — the one grouping surface
    * [[revenueRollup]] (ROLLUP) and [[graft.operators.PipelineOps]]'
    * CUBE don't cover: an arbitrary, non-hierarchical set list
    * ((region, segment), (region), (segment), ()) with `grouping_id`
    * disambiguating aggregated NULLs from data NULLs. Spark expands the
    * sets in ONE Expand+Aggregate pass over the joined input (one fact
    * scan, one shuffle on the expanded keys), exactly like its
    * rollup/cube plans.
    */
  def groupingSetsProfile(orders: DataFrame, customer: DataFrame,
      nation: DataFrame, region: DataFrame): DataFrame = {
    val base = orders
      .join(customer.select("c_custkey", "c_nationkey", "c_mktsegment"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation.select("n_nationkey", "n_regionkey")),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region.select("r_regionkey", "r_name")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("r_name").as("region"), col("c_mktsegment").as("segment"),
        col("o_totalprice"))
    base.createOrReplaceTempView("graft_gsp_base")
    base.sparkSession.sql(
      """SELECT region, segment, CAST(grouping_id() AS BIGINT) AS gid,
        | COUNT(1) AS n_orders,
        | ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
        |   AS revenue
        |FROM graft_gsp_base
        |GROUP BY GROUPING SETS ((region, segment), (region), (segment), ())
        |""".stripMargin)
  }

  /** Exact Gini coefficient of customer revenue concentration — the
    * one-number inequality summary next to [[supplierAbcClasses]]'
    * banding and [[nationSupplierHhi]]'s per-market HHI: how far total
    * spend is from evenly spread across buying customers. Computed from
    * the sorted-cumulative identity G = (2·Σᵢ i·xᵢ − (n+1)·Σx)/(n·Σx)
    * factored through the DISTINCT-value table, where a tie group of
    * count c after `cum−c` predecessors contributes
    * v·(2·c·(cum−c) + c·(c+1)) to the doubled rank-weighted sum — all
    * exact DECIMAL(38,0) integer arithmetic, no sorting of rows, no
    * floats.
    *
    * Scale: one fact rollup to customer grain (map-side combined), one
    * re-rollup to the distinct-total grain, the cumulative via
    * [[OpUtils.twoLevelCum]]'s bounded windows, then a scalar fold.
    */
  def giniCustomerConcentration(orders: DataFrame): DataFrame = {
    val perCust = orders
      .groupBy(col("o_custkey"))
      .agg((sum(col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("long").as("cents"))
    val byV = perCust.groupBy(col("cents")).agg(count(lit(1)).as("c"))
    OpUtils.twoLevelCum(byV, "cents", "c")
      .agg(
        coalesce(sum(col("c")), lit(0L)).as("n_customers"),
        coalesce(sum(col("cents").cast("decimal(38,0)") * col("c")),
          lit(0).cast("decimal(38,0)")).as("tot"),
        coalesce(sum(col("cents").cast("decimal(38,0)") *
          (lit(2L) * col("c") * (col("cum") - col("c")) +
            col("c") * (col("c") + 1L))),
          lit(0).cast("decimal(38,0)")).as("s2"))
      .filter(col("n_customers") > 0)
      .select(col("n_customers"), col("tot").cast("long").as("total_cents"),
        expr("""cast(case when tot = 0 then null else
          ((s2 - (n_customers + 1) * tot) * 1000000) div
          (cast(n_customers as decimal(38,0)) * tot) end as bigint)""")
          .as("gini_micro"))
  }

  /** Bucketed-AMS (CountSketch / Thorup–Zhang) estimate of the SECOND
    * frequency moment F₂ = Σ f_u² of per-user event counts — the
    * self-join-size / repeat-rate statistic that HLL (distinct) and CMS
    * (point frequency) cannot answer: F₂ IS the expected output size of
    * a self-equi-join on user_id, what a skew-aware join planner needs.
    * Each of `reps` independent sketches hashes users into k signed
    * buckets (bucket and ±1 sign from the oracle-parity md5 hashes) and
    * estimates F₂ as Σ_b X_b² — unbiased with relative error ~√(2/k)
    * (≈4% at k=1024), versus √2 for the classic single tug-of-war sum,
    * so a small rep count suffices; the reported estimate is the MEDIAN
    * of the reps (central order statistic, kept integral) next to the
    * exact F₂ and a signed permille error with the Theil–Sen
    * sign-branch (floor-vs-truncate conventions differ on negatives).
    * When distinct users ≤ k the sketch collapses to exact (the KMV
    * small-side note).
    *
    * Scale: one fact-sized map-side-combined rollup to the user grain;
    * the ×reps explode runs on the user-grain table, re-aggregating to
    * ≤ reps·k sketch cells; X_b = Σ±f stays inside DECIMAL(38,0) (|X| ≤
    * total event count) and Σ X² ≤ 10³⁸ holds to beyond 10¹⁸ events.
    * The exact leg is the test-scale audit, same contract as
    * kmv/hll/cms.
    */
  def amsF2UserActivity(events: DataFrame, k: Int = 1024,
      reps: Int = 3): DataFrame = {
    import graft.functions.HashFns
    val freq = events.filter(col("user_id").isNotNull)
      .groupBy(col("user_id")).agg(count(lit(1)).as("f"))
    val ests = freq
      .select(col("user_id"), col("f"),
        explode(sequence(lit(0), lit(reps - 1))).as("r"))
      .select(col("r"), col("f"),
        pmod(HashFns.hash32(concat(lit("b"), col("r").cast("string"),
          lit(":"), col("user_id").cast("string"))), lit(k)).as("b"),
        when(pmod(HashFns.hash32(concat(lit("s"), col("r").cast("string"),
          lit(":"), col("user_id").cast("string"))), lit(2)) === 0, lit(1L))
          .otherwise(lit(-1L)).as("sgn"))
      .groupBy(col("r"), col("b"))
      .agg(sum(col("sgn").cast("decimal(38,0)") * col("f")).as("x"))
      .groupBy(col("r"))
      .agg(sum(col("x") * col("x")).as("est"))
    // median over the ≤reps-row estimate table (lower of two central)
    val med = ests
      .withColumn("rk", row_number().over(
        Window.partitionBy(lit(0)).orderBy(col("est"), col("r"))))
      .filter(col("rk") === lit((reps + 1) / 2))
      .select(col("est").as("med"))
    val exact = freq.agg(count(lit(1)).as("n_users"),
      sum(col("f").cast("decimal(38,0)") * col("f")).as("f2"))
    exact.crossJoin(broadcast(med))
      .filter(col("n_users") > 0)
      .select(col("n_users"),
        col("f2").cast("long").as("f2_exact"),
        col("med").cast("long").as("ams_median_est"),
        expr("""cast(case when med >= f2
          then ((med - f2) * 1000) div f2
          else -(((f2 - med) * 1000) div f2) end as bigint)""")
          .as("err_permille"))
  }
}
