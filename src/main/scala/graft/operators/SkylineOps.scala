package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Skyline (Pareto-frontier) operator: the rows no other row strictly
  * beats on BOTH dimensions — the multi-criteria "best offers" query
  * (cheapest for the volume you get) classic OLAP engines ship as a
  * dedicated operator.
  *
  * Scale design: the textbook formulation is a quadratic NOT-EXISTS
  * self-join; the windowed formulation — dominated iff the max of dim2
  * over STRICTLY-cheaper dim1 beats yours — needs a global ordered
  * window, which single-partitions the fact. Here the prefix-max
  * factors through two bounded levels exactly (the order_value_deciles
  * pattern): a per-price-bucket rollup (map-side combined, bucket-
  * bounded) carries the cross-bucket prefix via a window over BUCKET
  * SUMMARIES only, and a per-bucket RANGE window (partitioned by
  * bucket, so it parallelizes) resolves the strictly-cheaper ties
  * within each bucket. No corpus-sized single-partition sort anywhere.
  */
object SkylineOps {

  /** Frontier of lineitem offers on (extendedprice ↓, quantity ↑):
    * a line is dominated iff some line is strictly cheaper AND carries
    * strictly more quantity. Exact, deterministic; emits every
    * non-dominated row.
    */
  def priceQuantityFrontier(lineitem: DataFrame,
      bucketCents: Long = 100000L): DataFrame = {
    val rows = lineitem.select(col("l_orderkey"), col("l_linenumber"),
      (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
        .as("price_cents"),
      col("l_quantity").cast("long").as("qty"))
      .withColumn("bucket", expr(s"price_cents div $bucketCents"))
    // level 1: per-bucket max quantity (bounded by the price RANGE, not
    // the row count), then the running max over strictly-lower buckets —
    // every price there is strictly cheaper by construction
    val bucketMax = rows.groupBy(col("bucket"))
      .agg(max(col("qty")).as("bucket_max_qty"))
      .withColumn("prior_max_qty",
        max(col("bucket_max_qty")).over(Window.orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, -1)))
      .select(col("bucket").as("b"), col("prior_max_qty"))
    // level 2: strictly-cheaper rows inside MY bucket via a per-bucket
    // RANGE frame (partitions parallelize with the buckets)
    val wIn = Window.partitionBy(col("bucket")).orderBy(col("price_cents"))
      .rangeBetween(Window.unboundedPreceding, -1)
    // the fact-sized window reuses this; unspread: one task, 1.07 s
    OpUtils.spread(rows, col("bucket"))
      .withColumn("in_bucket_max_qty", max(col("qty")).over(wIn))
      .join(broadcast(bucketMax), col("bucket") === col("b"))
      // greatest() skips nulls; both-null (globally cheapest row) keeps
      .filter(coalesce(greatest(col("prior_max_qty"), col("in_bucket_max_qty")),
        lit(Long.MinValue)) <= col("qty"))
      .select(col("l_orderkey"), col("l_linenumber"),
        round(col("price_cents") / 100.0, 2).as("price"), col("qty"))
  }
}
