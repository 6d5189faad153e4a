package graft.streaming

import graft.SparkSpec
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming forms produce the same results as the oracle-checked batch
  * forms when fed the same events through a MemoryStream.
  */
class EventStreamsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(min: Int) = new Timestamp(1704067200000L + min * 60000L) // 2024-01-01 UTC

  private val sampleEvents = Seq(
    // user 1: two sessions (gap > 30 min between minute 10 and 50)
    (1L, ts(0), 1L, "click", 10.0, "{}"),
    (2L, ts(10), 1L, "click", 20.0, "{}"),
    (3L, ts(50), 1L, "view", 30.0, "{}"),
    // user 2: one session spanning an hour boundary
    (4L, ts(55), 2L, "click", 5.0, "{}"),
    (5L, ts(65), 2L, "click", 5.0, "{}"))

  private def eventsDF = sampleEvents
    .toDF("event_id", "ts", "user_id", "event_type", "value", "props")

  test("tumblingAggStream matches tumblingAggBatch") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val streamDF = mem.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = EventStreams.tumblingAggStream(streamDF)
      .writeStream.outputMode("complete").format("memory").queryName("tumble").start()
    mem.addData(sampleEvents: _*)
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("tumble").orderBy("hour_start", "event_type").collect()
    val batch = EventStreams.tumblingAggBatch(eventsDF)
      .orderBy("hour_start", "event_type").collect()
    assert(streamed.map(_.toString).toSeq == batch.map(_.toString).toSeq)
  }

  test("hoppingAggStream matches hoppingAggBatch; each event covers 4 windows") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val streamDF = mem.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = EventStreams.hoppingAggStream(streamDF)
      .writeStream.outputMode("complete").format("memory").queryName("hop").start()
    mem.addData(sampleEvents: _*)
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("hop")
      .orderBy("window_start", "event_type").collect().map(_.toString).toSeq
    val batch = EventStreams.hoppingAggBatch(eventsDF)
      .orderBy("window_start", "event_type").collect().map(_.toString).toSeq
    assert(streamed == batch)
    // a single event must appear in exactly 4 overlapping windows
    val one = EventStreams.hoppingAggBatch(
      Seq((1L, ts(7), 1L, "click", 2.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    assert(one.count() == 4)
  }

  test("windowUniquesStream matches the batch distinct-user counts") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val streamDF = mem.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = EventStreams.windowUniquesStream(streamDF)
      .writeStream.outputMode("complete").format("memory").queryName("wu").start()
    val (a, b) = sampleEvents.splitAt(2) // re-deliver user 1 across batches
    mem.addData(a: _*); q.processAllAvailable()
    mem.addData(b: _*); q.processAllAvailable(); q.stop()
    val streamed = spark.table("wu").orderBy("hour_start")
      .collect().map(r => (r.getTimestamp(0), r.getLong(1))).toSeq
    val batch = EventStreams.windowUniquesBatch(eventsDF).orderBy("hour_start")
      .collect().map(r => (r.getTimestamp(0), r.getLong(1))).toSeq
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("rateLimitStream enforces the exact token bucket across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventStreams.EventRow]
    val q = EventStreams.rateLimitStream(spark, mem.toDS())
      .writeStream.outputMode("append").format("memory").queryName("rl").start()
    // capacity 3, refill 0.1 token/s: burst of 4 → first 3 admitted
    mem.addData(EventStreams.EventRow(1, 1, 0), EventStreams.EventRow(2, 1, 1),
      EventStreams.EventRow(3, 1, 2), EventStreams.EventRow(4, 1, 3))
    q.processAllAvailable()
    // 10s later one token has refilled (300 + 1000 milli); the next
    // event 1s after that has only 400 milli → denied
    mem.addData(EventStreams.EventRow(5, 1, 13), EventStreams.EventRow(6, 1, 14))
    q.processAllAvailable(); q.stop()
    val verdicts = spark.table("rl").collect()
      .map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(verdicts == Map(1L -> true, 2L -> true, 3L -> true,
      4L -> false, 5L -> true, 6L -> false))
  }

  test("sessionFinalizeStream closes sessions on in-batch gap AND watermark timeout") {
    implicit val sqlCtx = spark.sqlContext
    import EventStreams.SessionEv
    def st(s: Long) = new Timestamp(s * 1000)
    val mem = MemoryStream[SessionEv]
    val q = EventStreams.sessionFinalizeStream(spark, mem.toDS(), gapSeconds = 60)
      .writeStream.outputMode("append").format("memory").queryName("sfin").start()
    // timestamps start well above 0 — a row AT the initial epoch-0
    // watermark is dropped as late before the state function sees it
    mem.addData(SessionEv(1, 1, st(1000)), SessionEv(1, 2, st(1030)),
      SessionEv(2, 3, st(1010)))
    q.processAllAvailable()
    assert(spark.table("sfin").count() == 0) // nothing provably complete yet
    // u1's event at 1300 exceeds the 60s gap IN-BATCH → session
    // (1000..1030) closes inline; the batch advances the watermark to 1300
    mem.addData(SessionEv(1, 4, st(1300)))
    q.processAllAvailable()
    // u2 went silent; its timeout (1010+60 < wm 1300) fires on the next
    // trigger, emitting the session even though no u2 event ever arrives
    mem.addData(SessionEv(3, 5, st(1301)))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("sfin").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(rows == Set((1L, 1000L, 1030L, 2L, 30L), (2L, 1010L, 1010L, 1L, 0L)))
  }

  test("funnelStream reaches the batch funnel levels across micro-batch splits") {
    implicit val sqlCtx = spark.sqlContext
    import EventStreams.FunnelEvent
    val mem = MemoryStream[FunnelEvent]
    val q = EventStreams.funnelStream(spark, mem.toDS(), windowS = 3600L)
      .writeStream.outputMode("append").format("memory").queryName("fnl").start()
    // same scenario as the batch windowFunnel spec (AsOfOpsSpec), split
    // mid-history so chains must complete ACROSS micro-batches
    mem.addData(
      FunnelEvent(1, 0, "view"), FunnelEvent(1, 100, "click"),
      FunnelEvent(2, 0, "click"), FunnelEvent(2, 100, "purchase"),
      FunnelEvent(3, 0, "view"),
      FunnelEvent(4, 0, "view"), FunnelEvent(4, 100, "click"),
      FunnelEvent(5, 100, "purchase"),
      FunnelEvent(6, 0, "view"),
      FunnelEvent(7, 50, "view"), FunnelEvent(7, 50, "click"),
      FunnelEvent(7, 50, "purchase"),
      FunnelEvent(8, 0, "view"), FunnelEvent(8, 100, "click"))
    q.processAllAvailable()
    mem.addData(
      FunnelEvent(1, 200, "purchase"),      // completes u1's chain
      FunnelEvent(2, 200, "view"),          // order violated → stays 1
      FunnelEvent(3, 5000, "click"),        // outside window → stays 1
      FunnelEvent(4, 4000, "purchase"),     // purchase too late → stays 2
      FunnelEvent(6, 3600, "click"),        // boundary click → 2
      FunnelEvent(8, 3000, "view"), FunnelEvent(8, 3100, "click"),
      FunnelEvent(8, 6500, "purchase"))     // greedy re-anchor → 3
    q.processAllAvailable(); q.stop()
    val levels = spark.table("fnl").collect()
      .map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    // matches the batch spec: u5 (purchase only) never emits
    assert(levels == Map(1L -> 3L, 2L -> 1L, 3L -> 1L, 4L -> 2L,
      6L -> 2L, 7L -> 3L, 8L -> 3L))
  }

  test("funnelProgress batch mirror reproduces funnelStream's emissions row-for-row") {
    implicit val sqlCtx = spark.sqlContext
    import EventStreams.FunnelEvent
    val history = Seq(
      FunnelEvent(1, 0, "view"), FunnelEvent(1, 100, "click"),
      FunnelEvent(2, 0, "click"), FunnelEvent(2, 100, "purchase"),
      FunnelEvent(3, 0, "view"),
      FunnelEvent(4, 0, "view"), FunnelEvent(4, 100, "click"),
      FunnelEvent(5, 100, "purchase"),
      FunnelEvent(6, 0, "view"),
      FunnelEvent(7, 50, "view"), FunnelEvent(7, 50, "click"),
      FunnelEvent(7, 50, "purchase"),
      FunnelEvent(8, 0, "view"), FunnelEvent(8, 100, "click"))
    val tail = Seq(
      FunnelEvent(1, 200, "purchase"), FunnelEvent(2, 200, "view"),
      FunnelEvent(3, 5000, "click"), FunnelEvent(4, 4000, "purchase"),
      FunnelEvent(6, 3600, "click"),
      FunnelEvent(8, 3000, "view"), FunnelEvent(8, 3100, "click"),
      FunnelEvent(8, 6500, "purchase"))
    val mem = MemoryStream[FunnelEvent]
    val q = EventStreams.funnelStream(spark, mem.toDS(), windowS = 3600L)
      .writeStream.outputMode("append").format("memory").queryName("fnlmirror").start()
    mem.addData(history: _*); q.processAllAvailable()
    mem.addData(tail: _*); q.processAllAvailable(); q.stop()
    val streamed = spark.table("fnlmirror").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    val batchDf = (history ++ tail)
      .map(e => (e.user_id, new Timestamp(e.ts_s * 1000), e.event_type))
      .toDF("user_id", "ts", "event_type")
    val mirrored = graft.operators.AsOfOps.funnelProgress(batchDf, windowS = 3600L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    assert(mirrored == streamed,
      s"batch mirror $mirrored != stream emissions $streamed")
  }

  test("patternStream mirrors the batch patternProgress across micro-batch splits") {
    implicit val sqlCtx = spark.sqlContext
    import EventStreams.PatternEvent
    // the graded 4-step signup→view→click(≥10)→purchase instance, with
    // equal-ts ties, a low-value click that matches no step, a chain
    // that must complete across the split, and a greedy re-anchor
    val history = Seq(
      PatternEvent(1, 0, "signup", 0.0), PatternEvent(1, 10, "view", 0.0),
      PatternEvent(1, 20, "click", 50.0),
      PatternEvent(2, 0, "signup", 0.0), PatternEvent(2, 0, "view", 0.0),
      PatternEvent(2, 0, "click", 99.0), PatternEvent(2, 0, "purchase", 0.0),
      PatternEvent(3, 0, "view", 0.0),   // never anchors
      PatternEvent(4, 0, "signup", 0.0), PatternEvent(4, 10, "view", 0.0),
      PatternEvent(4, 20, "click", 1.0)) // below the value gate
    val tail = Seq(
      PatternEvent(1, 30, "purchase", 0.0),  // completes u1 across the split
      PatternEvent(4, 30, "purchase", 0.0),  // u4 has no validated click
      PatternEvent(5, 1000, "signup", 0.0), PatternEvent(5, 1010, "view", 0.0),
      PatternEvent(5, 2000, "signup", 0.0), PatternEvent(5, 2010, "view", 0.0),
      PatternEvent(5, 2020, "click", 50.0),
      PatternEvent(5, 2030, "purchase", 0.0)) // re-anchored chain completes
    val mem = MemoryStream[PatternEvent]
    val q = EventStreams.patternStream(spark, mem.toDS(),
        EventStreams.signupFunnelStreamSteps, windowS = 100L)
      .writeStream.outputMode("append").format("memory")
      .queryName("patmirror").start()
    mem.addData(history: _*); q.processAllAvailable()
    mem.addData(tail: _*); q.processAllAvailable(); q.stop()
    val streamed = spark.table("patmirror").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    val batchDf = (history ++ tail)
      .map(e => (e.user_id, new Timestamp(e.ts_s * 1000), e.event_type, e.value))
      .toDF("user_id", "ts", "event_type", "value")
    val mirrored = graft.operators.PatternOps.patternProgress(batchDf,
        graft.operators.PatternOps.signupFunnelSteps, windowS = 100L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    assert(mirrored == streamed,
      s"batch mirror $mirrored != stream emissions $streamed")
    // the cross-split chain actually completed
    assert(streamed.contains((1L, 30L, 4L)))
    assert(streamed.contains((5L, 2030L, 4L)))
  }

  test("patternStream chains overlapping predicates within one event like the batch RANGE frames") {
    implicit val sqlCtx = spark.sqlContext
    import EventStreams.PatternEvent
    // steps: 'a', then value ≥ 5 (the SAME 'a' event qualifies), then 'b'
    val steps: Seq[PatternEvent => Boolean] = Seq(
      _.event_type == "a", _.value >= 5.0, _.event_type == "b")
    val colSteps = Seq(col("event_type") === "a", col("value") >= 5.0,
      col("event_type") === "b")
    val evs = Seq(PatternEvent(1, 0, "a", 7.0), PatternEvent(1, 10, "b", 0.0))
    val mem = MemoryStream[PatternEvent]
    val q = EventStreams.patternStream(spark, mem.toDS(), steps, windowS = 100L)
      .writeStream.outputMode("append").format("memory")
      .queryName("patoverlap").start()
    evs.foreach { e => mem.addData(e); q.processAllAvailable() } // 1 event/batch
    q.stop()
    val streamed = spark.table("patoverlap").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    val batchDf = evs
      .map(e => (e.user_id, new Timestamp(e.ts_s * 1000), e.event_type, e.value))
      .toDF("user_id", "ts", "event_type", "value")
    val mirrored = graft.operators.PatternOps.patternProgress(batchDf,
        colSteps, windowS = 100L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    assert(mirrored == streamed)
    assert(streamed.contains((1L, 10L, 3L)))
  }

  test("patternExpireStream closes attempts by match AND by watermark expiry across splits") {
    implicit val sqlCtx = spark.sqlContext
    import EventStreams.PatternEv
    def st(s: Long) = new Timestamp(s * 1000)
    val mem = MemoryStream[PatternEv]
    val q = EventStreams.patternExpireStream(spark, mem.toDS(),
        EventStreams.signupFunnelStreamSteps, windowS = 100L)
      .writeStream.outputMode("append").format("memory")
      .queryName("patexp").start()
    // u1 completes ACROSS the split (matched); u2 reaches level 2 then
    // goes silent forever (expired fires on u3's watermark advance).
    // Event times ascend across batches: the 0s watermark drops
    // anything at-or-below the previous batch's max event time.
    mem.addData(
      PatternEv(1, st(1000), "signup", 0.0), PatternEv(1, st(1010), "view", 0.0),
      PatternEv(1, st(1020), "click", 50.0),
      PatternEv(2, st(1005), "signup", 0.0), PatternEv(2, st(1025), "view", 0.0))
    q.processAllAvailable()
    mem.addData(PatternEv(1, st(1030), "purchase", 0.0))
    q.processAllAvailable()
    // no u2 event ever arrives again — another user's event moves the
    // watermark past u2's anchor(1005) + window(100) and the timeout fires
    mem.addData(PatternEv(3, st(2000), "signup", 0.0))
    q.processAllAvailable()
    // u4's view lands AFTER the window (2200 > 2010+100): the anchor
    // still advances (deliberate — it serves future chains) but no
    // level-2 progress validates, so the expired row must report the
    // window-validated best (1), not the anchor depth (2)
    mem.addData(PatternEv(4, st(2010), "signup", 0.0),
      PatternEv(4, st(2200), "view", 0.0))
    q.processAllAvailable()
    // a fresh u2 attempt AFTER expiry re-reports from level 1; u5's
    // chain completes on two equal-ts purchases — the first one's match
    // resets the attempt, and the second must see that reset
    mem.addData(PatternEv(2, st(3000), "signup", 0.0),
      PatternEv(5, st(2900), "signup", 0.0), PatternEv(5, st(2910), "view", 0.0),
      PatternEv(5, st(2920), "click", 50.0),
      PatternEv(5, st(2930), "purchase", 0.0),
      PatternEv(5, st(2930), "purchase", 0.0))
    q.processAllAvailable(); q.stop()
    assert(spark.table("patexp")
      .filter(col("user_id") === 5L && col("status") === "matched")
      .count() == 1)
    val rows = spark.table("patexp").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    assert(rows.contains((1L, 1030L, 4L, "matched")))        // cross-split match
    assert(rows.contains((2L, 1105L, 2L, "expired")))        // watermark close
    assert(rows.contains((2L, 3000L, 1L, "progress")))       // fresh attempt
    // validated-best, not anchor-depth: u4 never validated level 2
    assert(rows.contains((4L, 2110L, 1L, "expired")))
    assert(!rows.exists(r => r._1 == 4L && r._3 > 1L))
    // the matched attempt never also expires; progress rows precede it
    assert(!rows.exists(r => r._1 == 1L && r._4 == "expired"))
    assert(rows.contains((1L, 1000L, 1L, "progress")) &&
      rows.contains((1L, 1020L, 3L, "progress")))
  }

  test("debounceBatch drops same-type repeats inside the gap, lag-based") {
    val df = Seq(
      (1L, ts(0), 1L, "click", 0.0, "{}"),
      (2L, ts(2), 1L, "click", 0.0, "{}"),   // 120s after #1 → dropped
      (3L, ts(4), 1L, "click", 0.0, "{}"),   // 120s after #2 (dropped one!) → still dropped
      (4L, ts(10), 1L, "click", 0.0, "{}"),  // 360s after #3 → kept
      (5L, ts(1), 1L, "view", 0.0, "{}"),    // different type → own chain
      (6L, ts(3), 2L, "click", 0.0, "{}"))   // different user → own chain
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val kept = EventStreams.debounceBatch(df).collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(1L, 4L, 5L, 6L))
  }

  test("heavyHitterStream merges sketch state exactly across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val streamDF = mem.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = EventStreams.heavyHitterStream(streamDF)
      .writeStream.outputMode("complete").format("memory").queryName("hhs").start()
    val (first, second) = sampleEvents.splitAt(3)
    mem.addData(first: _*); q.processAllAvailable()
    mem.addData(second: _*); q.processAllAvailable(); q.stop()
    val streamed = spark.table("hhs").orderBy("hour_start", "event_type")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSeq
    // distinct types ≤ capacity → Misra–Gries is exact = plain GROUP BY
    val exact = eventsDF.groupBy(
        window(col("ts"), "1 hour")("start").as("hour_start"), col("event_type"))
      .count().orderBy("hour_start", "event_type")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSeq
    assert(streamed == exact && streamed.nonEmpty)
  }

  test("watermark drops events arriving later than the horizon") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val streamDF = mem.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = EventStreams.tumblingAggStream(streamDF)
      .writeStream.outputMode("append").format("memory").queryName("late").start()
    // batch 1: events up to minute 120 -> watermark advances to 110
    mem.addData((1L, ts(0), 1L, "click", 1.0, "{}"),
      (2L, ts(120), 1L, "click", 1.0, "{}"))
    q.processAllAvailable()
    // batch 2: an event at minute 5 — far behind the watermark; its
    // hour-0 window is already finalized and emitted, so it is dropped
    mem.addData((3L, ts(5), 1L, "click", 100.0, "{}"))
    q.processAllAvailable()
    // batch 3: advance far enough to close every window
    mem.addData((4L, ts(600), 1L, "click", 1.0, "{}"))
    q.processAllAvailable(); q.stop()
    val hour0 = spark.table("late")
      .filter(col("hour_start") === ts(0)).collect()
    assert(hour0.length == 1)
    assert(hour0.head.getAs[Long]("n_events") == 1L) // late event 3 excluded
  }

  test("dedupStream drops re-delivered event ids") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val streamDF = mem.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = EventStreams.dedupStream(streamDF)
      .writeStream.outputMode("append").format("memory").queryName("dedup").start()
    mem.addData(sampleEvents: _*)
    mem.addData(sampleEvents.take(2): _*) // re-delivery of events 1,2
    q.processAllAvailable(); q.stop()
    assert(spark.table("dedup").count() == sampleEvents.size)
  }

  test("statsDriftStream reports per-batch drift vs the pinned baseline") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_drift").toString
    Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("a", "b")
      .write.parquet(s"$dir/baseline")
    val mem = MemoryStream[(Long, Long)]
    val q = EventStreams.statsDriftStream(mem.toDF().toDF("a", "b"),
        s"$dir/baseline", s"$dir/report", Seq("a", "b"), "d1")
      .option("checkpointLocation", s"$dir/ckpt").start()
    mem.addData((4L, 15L), (5L, 25L)) // a expands above baseline max
    q.processAllAvailable()
    mem.addData((0L, 12L))            // a expands below baseline min
    q.processAllAvailable(); q.stop()
    val rep = spark.read.parquet(s"$dir/report")
      .collect().map(r => (r.getLong(11), r.getString(0)) -> r).toMap
    assert(rep.size == 4) // 2 batches × 2 columns
    // batch 0: a ∈ [4,5] > baseline max 3 → expanded; b ∈ [15,25] inside
    assert(rep((0L, "a")).getAs[Boolean]("range_expanded"))
    assert(!rep((0L, "b")).getAs[Boolean]("range_expanded"))
    assert(rep((0L, "a")).getAs[Long]("n_cur") == 2L &&
      rep((0L, "a")).getAs[Long]("n_base") == 3L)
    // batch 1: a = 0 < baseline min 1 → expanded
    assert(rep((1L, "a")).getAs[Boolean]("range_expanded"))
  }

  test("ksDriftStream: exact per-batch KS vs the pinned baseline, replay-safe") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_ks").toString
    // baseline values 10, 20, 30
    Seq(10.0, 20.0, 30.0).toDF("value").write.parquet(s"$dir/baseline")
    val mem = MemoryStream[Double]
    val q = EventStreams.ksDriftStream(mem.toDF().toDF("value"),
        s"$dir/baseline", s"$dir/report", "value", "k1")
      .option("checkpointLocation", s"$dir/ckpt").start()
    // batch 0 identical to the baseline → D = 0
    mem.addData(10.0, 20.0, 30.0)
    q.processAllAvailable()
    // batch 1 fully above the baseline → D = 1 (at the baseline max 30)
    mem.addData(40.0, 50.0)
    q.processAllAvailable(); q.stop()
    val rep = spark.read.parquet(s"$dir/report").collect()
      .map(r => r.getAs[Long]("batch_id") ->
        ((r.getAs[Long]("n_base"), r.getAs[Long]("n_batch"),
          r.getAs[Long]("ks_at_v"), r.getAs[Long]("d_micro")))).toMap
    assert(rep.size == 2)
    assert(rep(0L) == ((3L, 3L, 10L, 0L)))
    assert(rep(1L) == ((3L, 2L, 30L, 1000000L)))
    // replay: a fresh query over the same checkpoint re-delivers nothing
    // new; the report is unchanged (markers gate the rewrite)
    val q2 = EventStreams.ksDriftStream(mem.toDF().toDF("value"),
        s"$dir/baseline", s"$dir/report", "value", "k1")
      .option("checkpointLocation", s"$dir/ckpt").start()
    q2.processAllAvailable(); q2.stop()
    assert(spark.read.parquet(s"$dir/report").count() == 2)
  }

  test("gapMonitorStream reports empty buckets inside each batch's envelope, replay-safe") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_gap").toString
    val mem = MemoryStream[Long]
    val q = EventStreams.gapMonitorStream(mem.toDF().toDF("ts_s"),
        s"$dir/report", "ts_s", "g1", bucketSeconds = 3600L)
      .option("checkpointLocation", s"$dir/ckpt").start()
    // batch 0: hours 0, 1, 2 all present → gapless, nothing reported
    mem.addData(100L, 3700L, 7300L)
    q.processAllAvailable()
    // batch 1: hours 10, 11, 14 → the feed skipped hours 12 and 13
    mem.addData(36500L, 40000L, 51000L)
    q.processAllAvailable(); q.stop()
    val rep = spark.read.parquet(s"$dir/report").collect()
      .map(r => (r.getAs[Long]("batch_id"), r.getAs[Long]("bucket_start_s")))
    assert(rep.toSet == Set((1L, 43200L), (1L, 46800L)), rep.mkString(","))
    // replay over the same checkpoint: markers gate the rewrite
    val q2 = EventStreams.gapMonitorStream(mem.toDF().toDF("ts_s"),
        s"$dir/report", "ts_s", "g1", bucketSeconds = 3600L)
      .option("checkpointLocation", s"$dir/ckpt").start()
    q2.processAllAvailable(); q2.stop()
    assert(spark.read.parquet(s"$dir/report").count() == 2)
  }

  test("gapMonitorStream clamp anchors at the batch max: corrupt epoch-0 can't flood or blind") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_gap0").toString
    val mem = MemoryStream[Long]
    val q = EventStreams.gapMonitorStream(mem.toDF().toDF("ts_s"),
        s"$dir/report", "ts_s", "g0", bucketSeconds = 3600L, maxBuckets = 3L)
      .option("checkpointLocation", s"$dir/ckpt").start()
    // one corrupt epoch-0 row plus real traffic at hours 1000 and 1001:
    // the inspected window must be the 3 most recent buckets ending at
    // the batch max (998..1001), NOT 0..3 — low-anchoring reported
    // bucket-1..3 false gaps and missed the real envelope entirely
    mem.addData(0L, 3600L * 1000, 3600L * 1001)
    q.processAllAvailable(); q.stop()
    val rep = spark.read.parquet(s"$dir/report").collect()
      .map(_.getAs[Long]("bucket_start_s")).toSet
    assert(rep == Set(3600L * 998, 3600L * 999), rep.mkString(","))
  }

  test("annIndexIngestStream appends slim coded rows per batch, replay-safe") {
    implicit val sqlCtx = spark.sqlContext
    val store = java.nio.file.Files.createTempDirectory("graft_ann").toString + "/index"
    val mem = MemoryStream[(Long, Seq[Float], Int)]
    val streamDF = mem.toDF().toDF("vec_id", "embedding", "label")
    val q = EventStreams.annIndexIngestStream(streamDF, store, "s1")
      .option("checkpointLocation", store + "-ckpt").start()
    def vec(seed: Int) = Seq.tabulate(64)(i => ((i + seed) % 7 - 3).toFloat / 4f)
    mem.addData((1L, vec(1), 0), (2L, vec(2), 0))
    q.processAllAvailable()
    mem.addData((3L, vec(3), 0))
    q.processAllAvailable(); q.stop()
    val idx = spark.read.parquet(store)
    assert(idx.count() == 3)
    // slim rows only: id + cell + 8 codes, no embedding column
    assert(idx.columns.toSeq ==
      "vec_id" +: "cell" +: (0 until 8).map(m => s"code$m"))
    // codes match a direct batch encoding of the same vectors (the
    // residual encodeSlim path under the fixed model)
    val batch = graft.operators.SimilarityOps.encodeSlim(
        Seq((1L, vec(1), 0), (2L, vec(2), 0), (3L, vec(3), 0))
          .toDF("vec_id", "embedding", "label"),
        graft.operators.SimilarityOps.FixedAnnModel)
      .select("vec_id", "cell", "code0", "code7").collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3)))).toMap
    idx.select("vec_id", "cell", "code0", "code7").collect().foreach { r =>
      assert(batch(r.getLong(0)) == ((r.getInt(1), r.getInt(2), r.getInt(3))))
    }
  }

  test("ingest audit observes batch accounting and counts watermark drops") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Option[Long], String, Double, String)]
    val streamDF = mem.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = EventStreams.dedupStream(EventStreams.withIngestAudit(streamDF))
      .writeStream.outputMode("append").format("memory").queryName("audited").start()
    // batch 1: three rows, one with a null user, spanning minutes 0..120
    mem.addData(
      (1L, ts(0), Some(1L), "click", 1.0, "{}"),
      (2L, ts(60), None, "view", 2.0, "{}"),
      (3L, ts(120), Some(2L), "click", 3.0, "{}"))
    q.processAllAvailable()
    // batch 2: one fresh row advances the watermark past minute 60...
    mem.addData((4L, ts(180), Some(1L), "click", 4.0, "{}"))
    q.processAllAvailable()
    // ...so this 2h-stale straggler is dropped by the watermark
    mem.addData((5L, ts(0), Some(2L), "view", 5.0, "{}"))
    q.processAllAvailable(); q.stop()
    val metrics = EventStreams.ingestAuditMetrics(q)
      .map { case (_, n, nulls, mn, mx) => (n, nulls, mn, mx) }
    assert(metrics.contains((3L, 1L, ts(0), ts(120))),
      s"batch-1 accounting missing from $metrics")
    assert(metrics.map(_._1).sum == 5L) // every ingested row observed
    assert(EventStreams.droppedLateRows(q) == 1L)
  }

  test("aggMaintainStream folds micro-batches into the rollup store") {
    implicit val sqlCtx = spark.sqlContext
    val store = java.nio.file.Files.createTempDirectory("graft_agg").toString + "/rollup"
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val streamDF = mem.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = EventStreams.aggMaintainStream(streamDF, store, "agg1").start()
    mem.addData(sampleEvents.take(3): _*)
    q.processAllAvailable()
    mem.addData(sampleEvents.drop(3): _*)
    q.processAllAvailable(); q.stop()
    val got = spark.read.parquet(store).orderBy("event_type").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    // sampleEvents: clicks 10+20+5+5, one view 30 — folded across batches
    assert(got == Seq(("click", 4L, 4000L), ("view", 1L, 3000L)))
  }

  test("aggMaintainStream successor with a fresh checkpoint is not skipped by the predecessor's tag") {
    implicit val sqlCtx = spark.sqlContext
    val store = java.nio.file.Files.createTempDirectory("graft_agg2").toString + "/rollup"
    // predecessor stream left the store tagged at its batch 5 — a bare
    // numeric comparison would skip the successor's batches 0..5
    import spark.implicits._
    graft.sources.Sinks.mergeAggregate(spark, store,
      Seq(("click", 1L, 100L)).toDF("event_type", "n_events", "value_cents"),
      Seq("event_type"), Seq("n_events", "value_cents"),
      commitTag = Some("old-stream-5"))
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val streamDF = mem.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = EventStreams.aggMaintainStream(streamDF, store, "new-stream").start()
    mem.addData(sampleEvents.take(3): _*) // successor batch 0
    q.processAllAvailable(); q.stop()
    val clicks = spark.read.parquet(store)
      .filter($"event_type" === "click").collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSeq
    // 2 clicks (10+20 cents×100) from batch 0 folded ON TOP of the
    // predecessor's row — not silently dropped
    assert(clicks == Seq((3L, 3100L)), s"successor batch was skipped: $clicks")
    // and the tag now names the successor's generation
    assert(graft.sources.Sinks.storeCommitTag(spark, store)
      .contains("new-stream-0"))
  }

  test("aggMaintainStream migration: a legacy bare-numeric tag suppresses exactly its replayed batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // store 1: pre-namespacing writer tagged bare `0` and its checkpoint
    // is resumed — structured streaming replays batch 0, and re-applying
    // it would double-count (the exact failure the tag exists to prevent)
    val store = java.nio.file.Files.createTempDirectory("graft_agg3").toString + "/rollup"
    graft.sources.Sinks.mergeAggregate(spark, store,
      Seq(("click", 2L, 3000L)).toDF("event_type", "n_events", "value_cents"),
      Seq("event_type"), Seq("n_events", "value_cents"),
      commitTag = Some("0")) // legacy format: batchId.toString
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val streamDF = mem.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = EventStreams.aggMaintainStream(streamDF, store, "up-stream").start()
    mem.addData(sampleEvents.take(3): _*) // "replayed" batch 0 — must skip
    q.processAllAvailable()
    mem.addData(sampleEvents.drop(3): _*) // batch 1 — must apply
    q.processAllAvailable(); q.stop()
    val clicks = spark.read.parquet(store)
      .filter($"event_type" === "click").collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSeq
    // batch 0's clicks (10+20) NOT re-applied on top of the legacy row;
    // batch 1's clicks (5+5) folded in: 2+2 events, 3000+1000 cents
    assert(clicks == Seq((4L, 4000L)), s"legacy replay double-counted: $clicks")
    // and the store is migrated: the tag is namespaced going forward
    assert(graft.sources.Sinks.storeCommitTag(spark, store)
      .contains("up-stream-1"))

    // store 2: a stale HIGH legacy tag never swallows a new stream's
    // batch 0 (equality, not >=): the fresh-checkpoint successor applies
    val store2 = java.nio.file.Files.createTempDirectory("graft_agg4").toString + "/rollup"
    graft.sources.Sinks.mergeAggregate(spark, store2,
      Seq(("click", 9L, 9999L)).toDF("event_type", "n_events", "value_cents"),
      Seq("event_type"), Seq("n_events", "value_cents"),
      commitTag = Some("7"))
    val mem2 = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val streamDF2 = mem2.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q2 = EventStreams.aggMaintainStream(streamDF2, store2, "suc-stream").start()
    mem2.addData(sampleEvents.take(3): _*) // successor batch 0
    q2.processAllAvailable(); q2.stop()
    val clicks2 = spark.read.parquet(store2)
      .filter($"event_type" === "click").collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(clicks2 == Seq((11L, 12999L)), s"successor batch swallowed: $clicks2")
  }

  test("snapshotIngestStream commits one readable snapshot per batch") {
    implicit val sqlCtx = spark.sqlContext
    val table = java.nio.file.Files.createTempDirectory("graft_snap").toString + "/events"
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val streamDF = mem.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = EventStreams.snapshotIngestStream(streamDF, table, "s1").start()
    mem.addData(sampleEvents.take(3): _*)
    q.processAllAvailable()
    mem.addData(sampleEvents.drop(3): _*)
    q.processAllAvailable(); q.stop()
    import graft.sources.Readers
    // one snapshot per micro-batch; latest sees everything
    assert(Readers.readSnapshot(spark, table).count() == sampleEvents.size)
    assert(Readers.readSnapshot(spark, table, Some(1)).count() == 3)
    // the incremental feed between the two commits is exactly batch 2
    val delta = Readers.readChangesBetween(spark, table, 1, 2)
    assert(delta.count() == sampleEvents.size - 3)
  }

  test("enrichWithDim stream-static join matches batch, UNKNOWN for unmatched") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "BUILDING"), (102L, "MACHINERY"))
      .toDF("c_custkey", "c_mktsegment")
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val streamDF = mem.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = EventStreams.enrichWithDim(streamDF, dim)
      .writeStream.outputMode("append").format("memory").queryName("enrich").start()
    mem.addData(sampleEvents: _*)
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("enrich").orderBy("event_id")
      .collect().map(_.toString).toSeq
    val batch = EventStreams.enrichWithDim(eventsDF, dim).orderBy("event_id")
      .collect().map(_.toString).toSeq
    assert(streamed == batch && streamed.nonEmpty)
    // dim-matched users carry their segment; users outside the dim
    // still flow, tagged UNKNOWN
    val segs = spark.table("enrich").select("user_id", "segment").distinct()
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(segs == Map(1L -> "BUILDING", 2L -> "UNKNOWN"))
  }

  test("incrementalDimStream appends only unseen keys across batches") {
    implicit val sqlCtx = spark.sqlContext
    val dimPath = java.nio.file.Files.createTempDirectory("graft_dim").toString + "/dim"
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val streamDF = mem.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = EventStreams.incrementalDimStream(streamDF, dimPath).start()
    mem.addData(sampleEvents.take(3): _*) // users 1,1,1
    q.processAllAvailable()
    mem.addData(sampleEvents: _*)         // users 1,1,1,2,2 — only 2 is new
    q.processAllAvailable(); q.stop()
    val dim = spark.read.parquet(dimPath)
    assert(dim.count() == 2)
    assert(dim.orderBy("user_id").collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
  }

  test("stream-stream interval join matches the batch interval join") {
    implicit val sqlCtx = spark.sqlContext
    val pMem = MemoryStream[(Long, Long, Timestamp, Double)]
    val sMem = MemoryStream[(Long, Long, Timestamp)]
    val purchases = pMem.toDF().toDF("user_id", "purchase_id", "p_ts", "purchase_value")
    val signups = sMem.toDF().toDF("user_id", "signup_id", "s_ts")
    val q = EventStreams.intervalJoinStream(purchases, signups)
      .writeStream.outputMode("append").format("memory").queryName("ivj").start()
    // user 1: signup at min 0, purchases at min 30 (in window) and min 90 (outside)
    sMem.addData((1L, 100L, ts(0)))
    pMem.addData((1L, 200L, ts(30), 9.0), (1L, 201L, ts(90), 7.0))
    // advance both watermarks far enough to emit (distinct users so the
    // sentinels themselves never join)
    sMem.addData((9L, 999L, ts(600)))
    pMem.addData((8L, 998L, ts(600), 0.0))
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("ivj")
      .select("purchase_id", "signup_id", "lag_seconds")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batchEvents = Seq(
      (100L, ts(0), 1L, "signup", 0.0, "{}"),
      (200L, ts(30), 1L, "click", 9.0, "{}"), // wrong type, excluded below
      (200L, ts(30), 1L, "purchase", 9.0, "{}"),
      (201L, ts(90), 1L, "purchase", 7.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val batch = EventStreams.intervalJoinBatch(batchEvents)
      .select("purchase_id", "signup_id", "lag_seconds")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == Set((200L, 100L, 1800L)))
    assert(batch == streamed)
  }

  test("left-outer interval join emits unmatched purchases after the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val pMem = MemoryStream[(Long, Long, Timestamp, Double)]
    val sMem = MemoryStream[(Long, Long, Timestamp)]
    val purchases = pMem.toDF().toDF("user_id", "purchase_id", "p_ts", "purchase_value")
    val signups = sMem.toDF().toDF("user_id", "signup_id", "s_ts")
    val q = EventStreams.intervalJoinOuterStream(purchases, signups)
      .writeStream.outputMode("append").format("memory").queryName("ivjo").start()
    // user 1 purchases inside the signup window; user 2 is ORGANIC (no
    // signup anywhere) and must still emit, with a null signup
    sMem.addData((1L, 100L, ts(0)))
    pMem.addData((1L, 200L, ts(30), 9.0), (2L, 300L, ts(30), 5.0))
    // watermark far past the window bound on both sides → the organic
    // row's null completion can flush
    sMem.addData((9L, 999L, ts(2000)))
    pMem.addData((8L, 998L, ts(2000), 0.0))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("ivjo")
      .filter($"purchase_id".isin(200L, 300L))
      .collect().map(r => (r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    assert(rows == Set((200L, 100L), (300L, -1L)),
      s"got $rows — matched joins now, organic purchase after watermark")
  }

  test("sessionWindowStream matches batch under late-arrival reordering") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val streamDF = mem.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = EventStreams.sessionWindowStream(streamDF)
      .writeStream.outputMode("append").format("memory").queryName("sw").start()
    // batch 1: user 1 at minutes 0 and 50 — two provisional sessions
    // (gap 50 > 30); user 2 at 55 and 65 — one session
    mem.addData((1L, ts(0), 1L, "click", 10.0, "{}"),
      (3L, ts(50), 1L, "view", 30.0, "{}"),
      (4L, ts(55), 2L, "click", 5.0, "{}"),
      (5L, ts(65), 2L, "click", 5.0, "{}"))
    q.processAllAvailable()
    // batch 2: a LATE event at minute 25 (inside the 2h watermark) must
    // bridge user 1's two provisional sessions into one [0, 80)
    mem.addData((2L, ts(25), 1L, "click", 20.0, "{}"))
    q.processAllAvailable()
    // batch 3: sentinel advances the watermark so the real sessions close
    mem.addData((9L, ts(600), 9L, "click", 0.0, "{}"))
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("sw").filter(col("user_id") =!= 9L)
      .collect().map(_.toString).toSet
    // batch over the exact event set the stream saw (minute 25 bridger)
    val allEvents = Seq(
      (1L, ts(0), 1L, "click", 10.0, "{}"),
      (2L, ts(25), 1L, "click", 20.0, "{}"),
      (3L, ts(50), 1L, "view", 30.0, "{}"),
      (4L, ts(55), 2L, "click", 5.0, "{}"),
      (5L, ts(65), 2L, "click", 5.0, "{}"),
      (9L, ts(600), 9L, "click", 0.0, "{}"))
    val batch = EventStreams.sessionWindowBatch(
      allEvents.toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
      .filter(col("user_id") =!= 9L)
      .collect().map(_.toString).toSet
    assert(streamed == batch)
    // user 1 merged into a single bridged session with all three events
    val u1 = spark.table("sw").filter(col("user_id") === 1L).collect()
    assert(u1.length == 1 && u1.head.getAs[Long]("n_events") == 3L)
  }

  test("HeavyHitters sketch aggregates across micro-batches (mergeable state)") {
    implicit val sqlCtx = spark.sqlContext
    val hh = udaf(new graft.functions.HeavyHitters(16),
      org.apache.spark.sql.Encoders.STRING)
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val streamDF = mem.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = streamDF.agg(hh(col("event_type")).as("sketch"))
      .select(explode(col("sketch")).as(Seq("event_type", "n_events")))
      .writeStream.outputMode("complete").format("memory").queryName("hh").start()
    mem.addData(sampleEvents.take(3): _*)   // click, click, view
    q.processAllAvailable()
    mem.addData(sampleEvents.drop(3): _*)   // click, click — merged into state
    q.processAllAvailable(); q.stop()
    val counts = spark.table("hh").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // distinct types ≤ capacity → exact counts, matching batch GROUP BY
    assert(counts == Map("click" -> 4L, "view" -> 1L))
  }

  test("sessionizeStream session counts match sessionizeBatch") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventStreams.SessionEvent]
    val out = EventStreams.sessionizeStream(spark, mem.toDS())
    val q = out.writeStream.outputMode("update").format("memory")
      .queryName("sessions").start()
    mem.addData(sampleEvents.map(e =>
      EventStreams.SessionEvent(e._3, e._1, e._2.getTime / 1000)): _*)
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("sessions")
      .groupBy("user_id").agg(max("n_sessions").as("n_sessions"))
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val batch = EventStreams.sessionizeBatch(eventsDF)
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(streamed.toSeq == batch.toSeq) // (1 -> 2 sessions, 2 -> 1 session)
    assert(batch.toMap == Map(1L -> 2L, 2L -> 1L))
  }

  test("onlineAnomalyStream z-scores each hour against prior history only") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventStreams.HourCount]
    val q = EventStreams.onlineAnomalyStream(spark, mem.toDS(), minHours = 3)
      .writeStream.outputMode("append").format("memory").queryName("anom").start()
    mem.addData(
      EventStreams.HourCount("a", 0L, 10L),
      EventStreams.HourCount("a", 1L, 20L),
      EventStreams.HourCount("a", 2L, 10L))
    q.processAllAvailable()
    // state must carry across micro-batches: hours 3-4 score against
    // batch 1's accumulated Σ/Σ²
    mem.addData(
      EventStreams.HourCount("a", 3L, 20L),
      EventStreams.HourCount("a", 4L, 50L))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("anom").orderBy("hour_start").collect()
    assert(rows.length == 5)
    // hours 0-2: fewer than minHours of history → no score
    assert((0 to 2).forall(i => rows(i).isNullAt(3)))
    // hour 3 vs [10,20,10]: mean 13.3̅, sd 4.714 → z = √2
    assert(math.abs(rows(3).getDouble(3) - math.sqrt(2.0)) < 1e-9)
    // hour 4 vs [10,20,10,20]: mean 15, var 25 → z = 35/5 = 7 exactly
    assert(rows(4).getDouble(3) == 7.0)
  }

  test("scd2UpsertStream closes changed versions and keeps full history") {
    implicit val sqlCtx = spark.sqlContext
    val dimPath = java.nio.file.Files.createTempDirectory("graft_scd2").toString + "/dim"
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val streamDF = mem.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = EventStreams.scd2UpsertStream(streamDF, dimPath).start()
    mem.addData((1L, ts(0), 1L, "bronze", 0.0, "{}"),
      (2L, ts(1), 2L, "silver", 0.0, "{}"))
    q.processAllAvailable()
    // user 1 changes tier; user 2 untouched
    mem.addData((3L, ts(2), 1L, "gold", 0.0, "{}"))
    q.processAllAvailable(); q.stop()
    val dim = spark.read.parquet(dimPath).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getBoolean(4))).toSet
    assert(dim == Set(
      (1L, "bronze", 0L, 1L, false), // closed at batch 1
      (1L, "gold", 1L, -1L, true),   // opened at batch 1, current
      (2L, "silver", 0L, -1L, true)))
  }

  test("scd2UpsertStream fails loudly on an interrupted store swap") {
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_scd2_crash")
    val dimPath = base.toString + "/dim"
    // simulate a crash between the two swap renames: the store was moved
    // aside to -retired-N but the staging dir never landed at dimPath
    java.nio.file.Files.createDirectory(base.resolve("dim-retired-3"))
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val streamDF = mem.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = EventStreams.scd2UpsertStream(streamDF, dimPath).start()
    mem.addData((1L, ts(0), 1L, "bronze", 0.0, "{}"))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    q.stop()
    // the batch must NOT have rebuilt an empty dim over the lost history
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dimPath)))
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c => c.isInstanceOf[IllegalStateException] &&
      c.getMessage.contains("swap was interrupted")))
  }

  test("sessionPathsBatch orders within sessions and caps the path length") {
    // user 3: one 7-event session — only the first 5 types make the path
    val longSession = (0 until 7).map(i =>
      (100L + i, ts(100 + i), 3L, s"e$i", 1.0, "{}"))
    val df = (sampleEvents ++ longSession)
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = EventStreams.sessionPathsBatch(df).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // user 1 splits into two sessions at the 40-min gap; user 2 is one
    assert(out == Map(
      "click>click" -> 2L,   // user 1 session 1 AND user 2
      "view" -> 1L,          // user 1 session 2
      "e0>e1>e2>e3>e4" -> 1L // user 3, truncated at pathLen=5
    ))
  }

  test("mixtureResampleStream matches the batch resample under micro-batch splits") {
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text", "lang", "source", "n_chars")
    val batchOut = graft.operators.PipelineOps.mixtureResample(docs)
    val want = batchOut.select("doc_id").collect().map(_.getLong(0)).toSet
    // pinned thresholds: the batch core's per-language acceptance table
    val accept = batchOut.select("lang", "accept_micro").distinct()
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1),
      r.getString(2), r.getString(3), r.getLong(4)))
    val mem = MemoryStream[(Long, String, String, String, Long)]
    val streamDF = mem.toDF().toDF("doc_id", "text", "lang", "source", "n_chars")
    val q = EventStreams.mixtureResampleStream(streamDF, accept)
      .writeStream.outputMode("append").format("memory")
      .queryName("mixout").start()
    val (a, b) = rows.partition(_._1 % 2 == 0)
    mem.addData(a.toSeq); q.processAllAvailable()
    // a language the pinned table has never seen: rejected, but COUNTED
    val unknown = (90001L, "hola mundo", "xx", "src9", 10L)
    mem.addData(b.toSeq :+ unknown); q.processAllAvailable(); q.stop()
    val got = spark.sql("SELECT doc_id FROM mixout").collect()
      .map(_.getLong(0)).toSet
    assert(got == want, "stream verdicts must equal the batch operator's")
    assert(got.nonEmpty && got.size < rows.length)
    assert(!got.contains(90001L), "unknown-lang docs must not be admitted")
    val unknownCounts = q.recentProgress.toSeq
      .flatMap(p => Option(p.observedMetrics.get("mixture_admission")))
      .map(_.getAs[Long]("unknown_lang_docs"))
    assert(unknownCounts.sum == 1L,
      s"the dropped unknown-lang doc must surface in observedMetrics: $unknownCounts")
  }

  test("stateful-stream state schemas are locked: a change is a visible re-lock") {
    import org.apache.spark.sql.Encoders
    // a checkpoint written under one state schema cannot be resumed under
    // another; a deliberate change edits this lock and says so
    val locked = Map(
      "SessionState" -> Encoders.product[EventStreams.SessionState],
      "OpenSession" -> Encoders.product[EventStreams.OpenSession],
      "AnomalyState" -> Encoders.product[EventStreams.AnomalyState],
      "BucketState" -> Encoders.product[EventStreams.BucketState],
      "PatternMatchState" -> Encoders.product[EventStreams.PatternMatchState])
      .map { case (k, enc) => k -> enc.schema.simpleString }
    assert(locked == Map(
      "SessionState" -> ("struct<sessionCount:bigint,eventCount:bigint," +
        "lastTs:bigint,sessionStart:bigint,maxDuration:bigint>"),
      "OpenSession" -> "struct<start:bigint,lastTs:bigint,n:bigint>",
      "AnomalyState" -> "struct<nHours:bigint,sx:bigint,sxx:bigint>",
      "BucketState" -> "struct<tokensMilli:bigint,lastTs:bigint>",
      "PatternMatchState" -> "struct<anchors:array<bigint>,best:bigint>"))
  }
}
