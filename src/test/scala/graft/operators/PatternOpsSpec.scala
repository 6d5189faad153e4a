package graft.operators

import graft.SparkSpec
import java.sql.Timestamp
import org.apache.spark.sql.functions._

class PatternOpsSpec extends SparkSpec {
  import spark.implicits._

  private def ev(rows: (Long, Long, String, Double)*) =
    rows.map { case (u, s, t, v) =>
      (u, new Timestamp(s * 1000), t, v)
    }.toDF("user_id", "ts", "event_type", "value")

  private val steps = Seq(
    col("event_type") === "signup",
    col("event_type") === "view",
    col("event_type") === "click" && col("value") >= 10.0,
    col("event_type") === "purchase")

  private def levels(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("matchPattern validates ordered in-window chains per step predicate") {
    val df = ev(
      (1, 0, "signup", 0.0), (1, 10, "view", 0.0),
      (1, 20, "click", 50.0), (1, 30, "purchase", 9.0), // full chain
      (2, 0, "signup", 0.0), (2, 10, "view", 0.0),
      (2, 20, "click", 1.0),                 // value < 10: step 3 fails
      (2, 30, "purchase", 99.0),             // no validated click → stays 2
      (3, 0, "view", 0.0), (3, 10, "signup", 0.0),  // order violated
      (4, 0, "signup", 0.0), (4, 200, "view", 0.0)) // view out of window
    val out = levels(PatternOps.matchPattern(df, steps, windowS = 100L)
      .select(col("pattern_level"), col("n_users")))
    assert(out == Map(4L -> 1L, 2L -> 1L, 1L -> 2L))
  }

  test("matchPattern window anchors at step 1: whole chain must fit") {
    // each adjacent gap is 60 ≤ W, but signup→purchase spans 180 > W=100
    val df = ev(
      (1, 0, "signup", 0.0), (1, 60, "view", 0.0),
      (1, 120, "click", 50.0), (1, 180, "purchase", 0.0))
    val out = levels(PatternOps.matchPattern(df, steps, windowS = 100L)
      .select(col("pattern_level"), col("n_users")))
    assert(out == Map(2L -> 1L)) // click at 120 already outside W of 0
  }

  test("matchPattern re-anchors greedily on a later step-1 event") {
    val df = ev(
      (1, 0, "signup", 0.0), (1, 10, "view", 0.0),
      (1, 500, "signup", 0.0), (1, 510, "view", 0.0),
      (1, 520, "click", 50.0), (1, 530, "purchase", 0.0))
    val out = levels(PatternOps.matchPattern(df, steps, windowS = 100L)
      .select(col("pattern_level"), col("n_users")))
    assert(out == Map(4L -> 1L)) // the 500-anchor chain completes
  }

  test("matchPattern resolves equal-timestamp ties set-wise (RANGE frames)") {
    val df = ev(
      (1, 0, "signup", 0.0), (1, 0, "view", 0.0),
      (1, 0, "click", 50.0), (1, 0, "purchase", 0.0))
    val out = levels(PatternOps.matchPattern(df, steps, windowS = 100L)
      .select(col("pattern_level"), col("n_users")))
    assert(out == Map(4L -> 1L))
  }

  test("one event can serve two adjacent steps when predicates overlap") {
    // steps: any 'a', then value ≥ 5, then 'b' — the middle event (a,
    // value 7) is both step 1 and step 2 in the same row
    val s = Seq(
      col("event_type") === "a",
      col("value") >= 5.0,
      col("event_type") === "b")
    val df = ev((1, 0, "a", 7.0), (1, 10, "b", 0.0))
    val out = levels(PatternOps.matchPattern(df, s, windowS = 100L)
      .select(col("pattern_level"), col("n_users")))
    assert(out == Map(3L -> 1L))
  }

  test("patternProgress emits one row per deepest-level increase") {
    val df = ev(
      (1, 0, "signup", 0.0), (1, 10, "view", 0.0),
      (1, 15, "view", 0.0),                  // no new depth: silent
      (1, 20, "click", 50.0), (1, 30, "purchase", 0.0),
      (2, 0, "view", 0.0))                   // never anchors: silent
    val out = PatternOps.patternProgress(df, steps, windowS = 100L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(out.toSeq == Seq((1L, 0L, 1L), (1L, 10L, 2L), (1L, 20L, 3L),
      (1L, 30L, 4L)))
  }

  test("patternProgress equal-(ts, rk) tie groups emit exactly once") {
    val df = ev(
      (1, 0, "signup", 0.0),
      (1, 5, "view", 0.0), (1, 5, "view", 0.0)) // identical tie pair
    val out = PatternOps.patternProgress(df, steps, windowS = 100L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(out.toSeq == Seq((1L, 0L, 1L), (1L, 5L, 2L)))
  }

  test("funnel and pattern operators keep their own null policies on one dirty input") {
    // u1 full chain, u2 click out of window, u3 only a null-ts view, and
    // a null-user view+click
    val df = Seq[(Option[Long], Option[Long], String)](
      (Some(1L), Some(0L), "view"), (Some(1L), Some(10L), "click"),
      (Some(1L), Some(20L), "purchase"),
      (Some(2L), Some(0L), "view"), (Some(2L), Some(500L), "click"),
      (Some(3L), None, "view"),
      (None, Some(0L), "view"), (None, Some(10L), "click"))
      .map { case (u, s, t) => (u, s.map(x => new Timestamp(x * 1000)), t, 0.0) }
      .toDF("user_id", "ts", "event_type", "value")
    val funnel = Seq("view", "click", "purchase").map(col("event_type") === _)
    def hist(out: org.apache.spark.sql.DataFrame) = out.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def progress(out: org.apache.spark.sql.DataFrame) = out.collect()
      .map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]), r.getLong(1),
        r.getLong(2))).toSet
    // window_funnel keeps null-ts and null-user rows: u3 reaches 1 on
    // its null-ts view, the null user is one more user at level 2
    assert(hist(AsOfOps.windowFunnel(df, windowS = 100L)) ==
      Set((1L, 2L, 500000L), (2L, 1L, 250000L), (3L, 1L, 250000L)))
    // funnel_progress drops null ts only: u3 is gone, the null user stays
    assert(progress(AsOfOps.funnelProgress(df, windowS = 100L)) == Set(
      (Some(1L), 0L, 1L), (Some(1L), 10L, 2L), (Some(1L), 20L, 3L),
      (Some(2L), 0L, 1L), (None, 0L, 1L), (None, 10L, 2L)))
    // the pattern operators drop both: only u1 and u2 remain
    assert(hist(PatternOps.matchPattern(df, funnel, windowS = 100L)) ==
      Set((1L, 1L, 500000L), (3L, 1L, 500000L)))
    assert(progress(PatternOps.patternProgress(df, funnel, windowS = 100L)) ==
      Set((Some(1L), 0L, 1L), (Some(1L), 10L, 2L), (Some(1L), 20L, 3L),
        (Some(2L), 0L, 1L)))
  }

  test("matchPattern shuffles once: all windows share the user partition") {
    val df = ev((1, 0, "signup", 0.0), (1, 10, "view", 0.0))
    val plan = PatternOps.matchPattern(df, steps, windowS = 100L)
      .queryExecution.executedPlan.toString
    val shuffles = "Exchange hashpartitioning\\(user_id".r.findAllIn(plan).length
    assert(shuffles == 1, s"expected one user_id shuffle:\n$plan")
  }
}
