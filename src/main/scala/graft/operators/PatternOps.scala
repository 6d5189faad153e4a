package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequential event-pattern matching — the MATCH_RECOGNIZE /
  * ClickHouse-windowFunnel shape generalized to N steps with arbitrary
  * per-step predicates: "did the user do step₁, then step₂, …, then
  * stepₙ, in order, with the whole chain inside `windowS` seconds of the
  * step₁ anchor?" (the reference's notebooks answer the 3-step
  * view→click→purchase instance by eye; [[AsOfOps.windowFunnel]] and
  * [[AsOfOps.funnelProgress]] are that instance of these operators).
  * This is the batch engine's one chain matcher; the stream's one is
  * [[graft.streaming.EventStreams.patternStream]].
  *
  * Compilation — running-maxima windows, NEVER an N-way self-join chain
  * (the naive MATCH_RECOGNIZE plan, O(matchesᴺ) at 100 TB):
  *   a₁(r) = max ts of a step₁ row ≤ r,
  *   aₖ(r) = max over step-k rows r' ≤ r of aₖ₋₁(r')
  * — each aₖ carries the LATEST step-1 anchor backing a length-k chain.
  * Greedy-latest anchors are optimal: every within-window check is
  * "anchor ≥ ts − W", monotone in the anchor, so if ANY chain validates
  * a step the max-anchor chain does. All frames are RANGE-bounded
  * (ties resolve set-wise — equal-ts rows see each other's anchors,
  * which is also what makes the streaming mirror's per-timestamp-group
  * processing exactly equivalent; see
  * [[graft.streaming.EventStreams.patternStream]]).
  *
  * The per-row achieved level reads the chain checks highest-first:
  *   ach(r) = max k such that predₖ(r) ∧ (k = 1 ∨ aₖ₋₁(r) ≥ ts(r) − W)
  * Reached levels are downward-closed (a validated step-k row implies an
  * earlier validated step-(k−1) row — the anchor propagated through
  * one), so the per-user deepest level is just max(ach).
  *
  * Callers scope the input: rows matching no step are filtered before
  * the shuffle, and each caller keeps its graded null policy
  * (`window_funnel` keeps null-ts and null-user rows, `funnel_progress`
  * drops null ts, the pattern operators drop both).
  *
  * Scale: ONE shuffle by user_id shared by all N−1 window passes and the
  * final per-user aggregate; predicates evaluate inside the scan stage.
  * State per row is N−1 longs regardless of history length.
  */
object PatternOps {

  /** Per-event staged frame: ts_s, tie-rank rk (first matching step),
    * anchors a₁..aₙ₋₁, and the achieved level `ach` ∈ [0, n]. `events`
    * come scoped by the caller: rows matching no step already dropped
    * (one would count as a level-0 user), and the caller's own null
    * policy applied.
    */
  private def staged(events: DataFrame, steps: Seq[Column],
      windowS: Long): DataFrame = {
    require(steps.size >= 2, "a pattern needs at least two steps")
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_s"))
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val rk = steps.tail.zipWithIndex.foldLeft(when(steps.head, 0)) {
      case (acc, (p, i)) => acc.when(p, i + 1)
    }
    val base = events
      .withColumn("ts_s", col("ts").cast("long"))
      .withColumn("rk", rk)
    val anchored = steps.indices.tail.foldLeft(
      base.withColumn("a1", max(when(steps.head, col("ts_s"))).over(w))) {
      case (df, k) if k < steps.size - 1 =>
        df.withColumn(s"a${k + 1}",
          max(when(steps(k), col(s"a$k"))).over(w))
      case (df, _) => df // the last step validates, never propagates
    }
    // ascending fold so the HIGHEST level is the outermost when() — ach
    // must be the max validated level, not the first
    val ach = steps.indices.foldLeft(lit(0): Column) { (e, k) =>
      if (k == 0) when(steps.head, 1).otherwise(e)
      else when(steps(k) &&
        col(s"a$k") >= col("ts_s") - windowS, k + 1).otherwise(e)
    }
    anchored.withColumn("ach", ach.cast("long"))
  }

  /** Per-user deepest-reached-level histogram of scoped `events`:
    * (`level`, n_users, user_share_micro), level 0 = the user has
    * step-matching rows but never a step-1 anchor.
    */
  private[operators] def levelHistogram(events: DataFrame, steps: Seq[Column],
      windowS: Long, level: String): DataFrame =
    staged(events, steps, windowS)
      .groupBy(col("user_id")).agg(max(col("ach")).as(level))
      .groupBy(col(level)).agg(count(lit(1)).as("n_users"))
      .withColumn("user_share_micro",
        expr("(n_users * 1000000) div (sum(n_users) over ())"))

  /** Level-progress emissions of scoped `events`: one row (user_id,
    * ts_s, `level`) whenever the user's deepest reached level increases
    * — a running best over (ts, first-matching-step) ROWS order. Within
    * an equal-(ts, rk) tie group every member computes the same running
    * values, so exactly one emission survives in either engine.
    */
  private[operators] def levelProgress(events: DataFrame, steps: Seq[Column],
      windowS: Long, level: String): DataFrame = {
    val wo = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_s"), col("rk"))
    staged(events, steps, windowS)
      .withColumn("best", max(col("ach")).over(
        wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("prev_best", coalesce(max(col("ach")).over(
        wo.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .filter(col("best") > col("prev_best"))
      .select(col("user_id"), col("ts_s"), col("best").as(level))
  }

  /** The pattern operators' scope: rows matching some step, with both a
    * timestamp and a user.
    */
  private def scoped(events: DataFrame, steps: Seq[Column]): DataFrame =
    events.filter(col("ts").isNotNull && col("user_id").isNotNull &&
      steps.reduce(_ || _))

  /** Per-user deepest-reached-level histogram — the
    * [[AsOfOps.windowFunnel]] verdict shape for an arbitrary pattern:
    * (pattern_level, n_users, user_share_micro).
    */
  def matchPattern(events: DataFrame, steps: Seq[Column],
      windowS: Long): DataFrame =
    levelHistogram(scoped(events, steps), steps, windowS, "pattern_level")

  /** Per-event level-progress emissions — one row (user_id, ts_s,
    * pattern_level) whenever the user's deepest reached level increases;
    * the oracle-checkable batch mirror of
    * [[graft.streaming.EventStreams.patternStream]].
    */
  def patternProgress(events: DataFrame, steps: Seq[Column],
      windowS: Long): DataFrame =
    levelProgress(scoped(events, steps), steps, windowS, "pattern_level")

  /** The graded 4-step instance over the events table: signup → view →
    * high-value click (value ≥ 10) → purchase, chain within 3 days of
    * the signup. Shared by the `seq_pattern_match` /
    * `seq_pattern_progress` SparkEntry bindings and the streaming-mirror
    * spec.
    */
  val SignupFunnelWindowS: Long = 259200L

  def signupFunnelSteps: Seq[Column] = Seq(
    col("event_type") === "signup",
    col("event_type") === "view",
    col("event_type") === "click" && col("value") >= 10.0,
    col("event_type") === "purchase")

  def seqPatternMatch(events: DataFrame): DataFrame =
    matchPattern(events, signupFunnelSteps, SignupFunnelWindowS)

  def seqPatternProgress(events: DataFrame): DataFrame =
    patternProgress(events, signupFunnelSteps, SignupFunnelWindowS)
}
