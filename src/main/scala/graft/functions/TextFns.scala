package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column combinators: everything is a pure Catalyst
  * expression tree (codegen'd higher-order array functions), no UDFs, no
  * shuffles — per-row cost only, which is what survives a 100 TB scan.
  */
object TextFns {
  /** Collapse runs of whitespace and trim. */
  def normText(c: Column): Column = trim(regexp_replace(c, "\\s+", " "))

  /** Whitespace tokens of the normalized text (empty array for blank). */
  def tokens(c: Column): Column = {
    val t = normText(c)
    when(length(t) === 0, array().cast("array<string>")).otherwise(split(t, " "))
  }

  /** Character k-gram shingles of the normalized text (in order, with
    * repeats — minhash is multiset-insensitive; Jaccard callers dedup).
    *
    * NOT for hot paths: higher-order `transform` runs interpreted in
    * Spark 4, and the lambda body re-evaluates `normText`'s regex per
    * ELEMENT (there is no let-binding inside one expression tree). The
    * dedup operators use the explode-sequence + substr formulation
    * (DedupOps.shingleHashRows) which normalizes once per row and stays
    * in codegen; this array form remains for small-data composition.
    */
  def shingles(c: Column, k: Int): Column = {
    val t = normText(c)
    when(length(t) >= k,
      transform(sequence(lit(1), length(t) - (k - 1)), i => t.substr(i, lit(k))))
      .otherwise(array().cast("array<string>"))
  }
}
