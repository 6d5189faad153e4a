package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column combinators: everything is a pure Catalyst
  * expression tree, no UDFs, no shuffles — per-row cost only, which is
  * what survives a 100 TB scan.
  */
object TextFns {
  /** Collapse runs of whitespace and trim. */
  def normText(c: Column): Column = trim(regexp_replace(c, "\\s+", " "))

  /** Whitespace tokens of the normalized text (empty array for blank). */
  def tokens(c: Column): Column = {
    val t = normText(c)
    when(length(t) === 0, array().cast("array<string>")).otherwise(split(t, " "))
  }
}
