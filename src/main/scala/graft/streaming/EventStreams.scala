package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Event-stream operators (SURVEY §2.E). Each has a batch form (used by
  * the correctness gate — identical semantics, oracle-checkable) and a
  * Structured Streaming form (watermark + windowed aggregation;
  * flatMapGroupsWithState sessionization) exercised in the test suite via
  * the same testdata driven through a streaming source.
  *
  * The Airflow-DAG cadence of the reference (nyc_ingestion_dag.py) is
  * what these replace: instead of a scheduled re-run over staging, the
  * stream maintains the same aggregates incrementally.
  */
object EventStreams {

  // ---------------------------------------------------------------- batch

  /** Tumbling 1-hour window aggregation per event type (batch form).
    * sum_value is an exact decimal sum projected as a rounded DOUBLE —
    * fixed-scale DECIMAL outputs are hash-unsafe across engines.
    */
  def tumblingAggBatch(events: DataFrame): DataFrame =
    events
      .groupBy(
        window(col("ts"), "1 hour")("start").as("hour_start"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(18,2)")).cast("double"), 2)
          .as("sum_value"))

  /** 30-minute-gap sessionization per user via window functions (batch
    * form): one shuffle on user_id, lag + running sum for session ids,
    * then per-user session stats. Second-floored epochs for oracle parity
    * (events.parquet is ns-precision; engines truncate differently).
    */
  def sessionizeBatch(events: DataFrame, gapSeconds: Long = 1800): DataFrame =
    withSessionIds(events, gapSeconds)
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        (max(col("ts_s")) - min(col("ts_s"))).as("duration_s"))
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_sessions"),
        sum(col("n_events")).as("n_events"),
        max(col("duration_s")).as("max_session_s"),
        round(sum(col("n_events")).cast("double") / count(lit(1)).cast("double"), 4)
          .as("avg_events_per_session"))

  /** The events' (user_id, event_id, ts, `extra`…, ts_s) with a per-user
    * `session_id`: a new session starts wherever the gap to the user's
    * previous event exceeds `gapSeconds` — lag + running sum over one
    * user-partitioned sort.
    */
  private def withSessionIds(events: DataFrame, gapSeconds: Long,
      extra: String*): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events
      .select((Seq("user_id", "event_id", "ts") ++ extra).map(col) :+
        col("ts").cast("long").as("ts_s"): _*)
      .withColumn("prev_s", lag(col("ts_s"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_s").isNull || col("ts_s") - col("prev_s") > gapSeconds, 1L)
          .otherwise(0L))
      .withColumn("session_id",
        sum(col("new_session")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
  }

  /** Top session paths — the most common opening event sequences (first
    * `pathLen` event types per 30-min-gap session, joined ">"): the
    * clickstream path-analysis view behind "how do users actually start".
    *
    * Scale: sessionization is the same one-shuffle lag/cumsum core as
    * [[sessionizeBatch]]; a per-session row_number keeps only the first
    * `pathLen` events BEFORE aggregation, so every agg buffer holds ≤
    * pathLen elements no matter how long a session runs. The sort+join
    * into a path string runs per session row over those ≤ pathLen
    * elements (bounded, so the interpreted array lambda is irrelevant);
    * the final count is a map-side-combined groupBy over path strings.
    */
  def sessionPathsBatch(events: DataFrame, gapSeconds: Long = 1800,
      pathLen: Int = 5, topK: Int = 20): DataFrame = {
    val bySess = Window.partitionBy(col("user_id"), col("session_id"))
      .orderBy(col("ts"), col("event_id"))
    withSessionIds(events, gapSeconds, "event_type")
      .withColumn("rnk", row_number().over(bySess))
      .filter(col("rnk") <= pathLen)
      .groupBy(col("user_id"), col("session_id"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("rnk"), col("event_type")))),
          x => x.getField("event_type")), ">").as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(topK)
  }

  /** Hopping (sliding) 1-hour window with 15-minute slide per event type
    * (batch form): every event lands in exactly 4 overlapping windows —
    * the dashboard-smoothing aggregation tumbling windows can't express.
    * Spark's `window(ts, len, slide)` explodes to the covering windows
    * inside codegen; state and shuffle scale with (windows × types), not
    * events.
    */
  def hoppingAggBatch(events: DataFrame): DataFrame =
    events
      .groupBy(
        window(col("ts"), "1 hour", "15 minutes")("start").as("window_start"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(18,2)")).cast("double"), 2)
          .as("sum_value"))

  /** Streaming form of [[hoppingAggBatch]]: watermark bounds how long
    * each of the 4 covering windows stays open.
    */
  def hoppingAggStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(18,2)")).cast("double"), 2)
          .as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Gap-based sessions via Spark's native session_window (merges rows
    * whose gaps are < the timeout; works identically under
    * readStream+watermark). Batch form for the oracle gate.
    */
  def sessionWindowBatch(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("sw"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(18,2)")).cast("double"), 2)
          .as("sum_value"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"), col("sum_value"))

  // ------------------------------------------------------------ streaming

  /** Streaming session_window form of [[sessionWindowBatch]]: late events
    * inside the watermark horizon merge into (or bridge) their session —
    * state per user is the open session aggregate, emitted (append mode)
    * once the watermark passes the session end and then evicted, so state
    * is bounded by concurrently-open sessions at any throughput.
    */
  def sessionWindowStream(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("sw"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(18,2)")).cast("double"), 2)
          .as("sum_value"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"), col("sum_value"))

  /** Streaming tumbling aggregation: 10-minute watermark + 1-hour window.
    * Same output schema as [[tumblingAggBatch]].
    */
  def tumblingAggStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(18,2)")).cast("double"), 2)
          .as("sum_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Batch form of the purchase↔signup interval join: each purchase
    * paired with every signup of the same user in the preceding hour.
    */
  def intervalJoinBatch(events: DataFrame): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"), col("value").as("purchase_value"))
    val signups = events.filter(col("event_type") === "signup")
      .select(col("user_id"), col("event_id").as("signup_id"), col("ts").as("s_ts"))
    purchases.join(signups, Seq("user_id"))
      .filter(col("s_ts") <= col("p_ts") &&
        col("s_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("purchase_id"), col("signup_id"),
        col("purchase_value"),
        (col("p_ts").cast("long") - col("s_ts").cast("long")).as("lag_seconds"))
  }

  /** Stream-stream interval join: both sides watermarked, join bounded to
    * the preceding hour so state for either side is evicted once the
    * watermark passes the bound — constant state per user-hour at any
    * throughput. Same output as [[intervalJoinBatch]].
    */
  def intervalJoinStream(purchases: DataFrame, signups: DataFrame): DataFrame =
    watermarkedIntervalJoin(purchases, signups, "inner")

  /** LEFT OUTER stream-stream interval join: every purchase emits —
    * matched rows immediately, UNMATCHED purchases as null-signup rows
    * once the watermark proves no in-window signup can still arrive.
    * The attribution-with-organic-fallback shape: inner joins silently
    * drop organic purchases; the outer form accounts for every event
    * while keeping the same bounded per-user-hour state (eviction and
    * null emission both ride the watermark).
    */
  def intervalJoinOuterStream(purchases: DataFrame, signups: DataFrame): DataFrame =
    watermarkedIntervalJoin(purchases, signups, "left_outer")

  private def watermarkedIntervalJoin(purchases: DataFrame,
      signups: DataFrame, joinType: String): DataFrame = {
    val p = purchases.withWatermark("p_ts", "10 minutes")
    val s = signups.withWatermark("s_ts", "2 hours")
    p.join(s,
      p("user_id") === s("user_id") &&
        s("s_ts") <= p("p_ts") &&
        s("s_ts") >= p("p_ts") - expr("INTERVAL 1 HOUR"),
      joinType)
      .select(p("user_id"), col("purchase_id"), col("signup_id"),
        col("purchase_value"),
        (col("p_ts").cast("long") - col("s_ts").cast("long")).as("lag_seconds"))
  }

  /** Stream-static enrichment: every micro-batch broadcast-joins the
    * STATIC dim (the live form of the warehouse dim lookup — route/tag
    * events with customer attributes before windowing). Stateless: no
    * watermark, no state store; the dim is re-planned per micro-batch so
    * a dim refresh lands on the next batch. Left join + UNKNOWN default
    * keeps unmatched events flowing (a live pipeline must not drop
    * events because the dim is late).
    */
  def enrichWithDim(events: DataFrame, customerDim: DataFrame): DataFrame =
    events.filter(col("user_id").isNotNull)
      .join(broadcast(customerDim.select(col("c_custkey").as("user_id"),
        col("c_mktsegment"))), Seq("user_id"), "left")
      .withColumn("segment", coalesce(col("c_mktsegment"), lit("UNKNOWN")))
      .drop("c_mktsegment")

  /** Streaming exact dedup: drop re-delivered event_ids within the
    * watermark horizon — the streaming form of the batch
    * `dropDuplicates("event_id")` in CleanOps.cleanEvents. State is one
    * (event_id, ts) entry per id inside the watermark, evicted as the
    * watermark advances.
    */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming form of
    * [[graft.operators.PipelineOps.mixtureResample]]: admit each
    * streamed document iff its salted id hash clears the language's
    * PINNED acceptance threshold. The thresholds come from a committed
    * weights table (derive it with `mixtureResample`'s batch core over
    * a corpus snapshot and refresh on a retrain cadence — the pinned-
    * baseline pattern of [[statsDriftStream]]): a stream cannot
    * aggregate its own future, so live-deriving weights would make a
    * document's verdict depend on arrival order. Stateless — one
    * broadcast join + a codegen'd filter per micro-batch, verdicts
    * identical to the batch operator under any micro-batch split.
    */
  def mixtureResampleStream(documents: DataFrame,
      acceptByLang: DataFrame): DataFrame =
    documents
      .join(broadcast(acceptByLang.select(col("lang"), col("accept_micro"))),
        Seq("lang"), "left")
      // a language absent from the pinned table (arrived since the last
      // weights refresh) is rejected — but NEVER silently: the count
      // rides StreamingQueryProgress.observedMetrics, so a stale table
      // shows up as a rising unknown_lang_docs, not as quiet data loss
      .observe("mixture_admission",
        count(lit(1)).as("docs_seen"),
        sum(when(col("accept_micro").isNull, 1L).otherwise(0L))
          .as("unknown_lang_docs"))
      .filter(col("accept_micro").isNotNull &&
        graft.functions.HashFns.hash32(
          concat(lit(graft.operators.PipelineOps.MixSalt),
            col("doc_id").cast("string"))) % 1000000 < col("accept_micro"))
      .select(col("doc_id"), col("lang"), col("source"), col("accept_micro"))

  /** Ingest-quality observation riding any event stream: per-micro-batch
    * row / null-key accounting and the event-time envelope, attached via
    * the `observe` metrics API — the aggregates piggyback on the
    * existing scan (zero extra passes, zero extra shuffles), and land in
    * each batch's StreamingQueryProgress for the ops pipeline to alert
    * on. Use [[ingestAuditMetrics]] to read them and
    * [[droppedLateRows]] for the watermark-drop counter the state
    * operators publish — together the production answer to "how much of
    * the feed is junk and how much arrived too late to count".
    */
  def withIngestAudit(events: DataFrame): DataFrame =
    events.observe("graft_ingest",
      count(lit(1)).as("n_rows"),
      sum(when(col("user_id").isNull, 1L).otherwise(0L)).as("n_null_user"),
      min(col("ts")).as("min_ts"),
      max(col("ts")).as("max_ts"))

  /** One row per completed micro-batch that carried [[withIngestAudit]]
    * metrics: (batchId, n_rows, n_null_user, min_ts, max_ts).
    */
  def ingestAuditMetrics(q: org.apache.spark.sql.streaming.StreamingQuery)
      : Seq[(Long, Long, Long, java.sql.Timestamp, java.sql.Timestamp)] =
    q.recentProgress.toSeq.flatMap { p =>
      Option(p.observedMetrics.get("graft_ingest")).map { r =>
        (p.batchId, r.getAs[Long]("n_rows"), r.getAs[Long]("n_null_user"),
          r.getAs[java.sql.Timestamp]("min_ts"),
          r.getAs[java.sql.Timestamp]("max_ts"))
      }
    }

  /** Total rows the stateful operators dropped as later than the
    * watermark across the query's recent progress — the data-loss
    * counter every watermarked pipeline must alert on (a silent rise
    * means upstream lag is eating events).
    */
  def droppedLateRows(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
    q.recentProgress.toSeq
      .flatMap(_.stateOperators.toSeq.map(_.numRowsDroppedByWatermark))
      .sum

  /** Windowed near-duplicate suppression (debounce), batch form: drop
    * any event whose user emitted the SAME event type within the
    * previous `gapSeconds` — the retry/double-click filter of an event
    * pipeline, and the oracle-checkable batch mirror of the
    * watermark-dedup family. Semantics: the gap is measured to the
    * immediately PRECEDING event of the (user, type) chain whether or
    * not that one survived (lag-based, one deterministic pass — no
    * iterative chain resolution). The window partitions by
    * (user, type): bounded per-key history, no global sort.
    */
  def debounceBatch(events: DataFrame, gapSeconds: Int = 300): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts_s"), col("event_id"))
    events
      // null ts/user rows can't join a debounce chain (and the two
      // engines order NULLs differently — keep the window input total)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts").cast("long").as("ts_s"))
      .withColumn("prev_ts", lag(col("ts_s"), 1).over(w))
      .filter(col("prev_ts").isNull || col("ts_s") - col("prev_ts") > gapSeconds)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts_s"))
  }

  /** Streaming incremental dimension maintenance — the reference's
    * Airflow load_dim_date / dim-upsert loop (nyc_hybrid_etl_pipeline.py:
    * 141-180) as a foreachBatch stream: each micro-batch anti-joins its
    * new keys against the dim store and appends only unseen rows.
    * Replay safety: foreachBatch re-delivers a micro-batch with the SAME
    * batchId after a failure, and the marker write is a separate step
    * from the parquet append, so a crash between the two re-runs the
    * batch body. That re-run is idempotent anyway — the anti-join runs
    * against the FRESHLY-read store, which already contains the committed
    * append (the parquet job commit is all-or-nothing, and half-written
    * `_temporary` files are invisible to the re-read), so the retry
    * appends zero rows and then writes the marker. The marker is a
    * fast-path skip of the store re-read, not the correctness mechanism
    * (a Delta/Iceberg MERGE subsumes all of this in production).
    */
  def incrementalDimStream(events: DataFrame, dimPath: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events
      .select(col("user_id"), col("event_type"))
      .writeStream
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val marker = graft.sources.Snapshots.markerPath(dimPath, batchId)
        if (!graft.sources.Snapshots.markerExists(batch, marker)) {
          val spark = batch.sparkSession
          val incoming = batch.select(col("user_id")).distinct()
          // "no store yet" is an EXPLICIT existence check (the
          // scd2UpsertStream contract): swallowing a read failure here
          // would anti-join against nothing and re-append every key the
          // batch carries — permanent duplicates from a transient error
          val dimP = new org.apache.hadoop.fs.Path(dimPath)
          val fs = dimP.getFileSystem(spark.sparkContext.hadoopConfiguration)
          val fresh =
            if (fs.exists(dimP))
              incoming.join(spark.read.parquet(dimPath).select("user_id"),
                Seq("user_id"), "left_anti")
            else incoming
          fresh.write.mode("append").parquet(dimPath)
          graft.sources.Snapshots.writeMarker(batch, marker)
        }
        ()
      }

  /** Live materialized-view maintenance: each micro-batch's per-type
    * partial sums fold into the persistent rollup store via
    * [[graft.sources.Sinks.mergeAggregate]] — the streaming form of the
    * dashboard table the reference re-aggregates on an Airflow schedule.
    * Per-batch work is store+batch-sized (never the event history).
    * Replay idempotency: an ADDITIVE merge cannot rely on a marker
    * written after the swap (a crash between the two would re-apply the
    * batch on replay and double-count), so the batchId commits INSIDE
    * the store swap itself ([[graft.sources.Sinks.mergeAggregate]]'s
    * commitTag) — the store always names the last atomically-applied
    * batch, and a replayed batch at-or-below it is skipped. The tag is
    * NAMESPACED by `streamId` (`_commit-<streamId>-<batchId>`): a
    * successor query with a fresh checkpoint restarts batchIds at 0, and
    * comparing its batch 0 against a predecessor's bare numeric tag
    * would silently skip every batch until it outran the old counter —
    * the same collision class the other replay-guarded streams require
    * an explicit streamId for. Only a tag whose streamId matches skips;
    * a foreign or malformed tag (another caller's) never does.
    */
  def aggMaintainStream(events: DataFrame, storePath: String,
      streamId: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    graft.sources.Snapshots.requireToken(streamId,
      s"aggMaintainStream needs a plain-token streamId, got '$streamId'")
    events
      .select(col("event_type"), lit(1L).as("n_events"),
        (col("value").cast("decimal(18,2)") * 100).cast("long")
          .as("value_cents"))
      .writeStream
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val applied = graft.sources.Sinks
          .storeCommitTag(batch.sparkSession, storePath)
          .exists { tag =>
            // streamId may itself contain '-', so split at the LAST one;
            // parse defensively — a non-numeric suffix is a foreign tag,
            // not a crash
            val cut = tag.lastIndexOf('-')
            val namespacedMatch =
              cut > 0 && tag.substring(0, cut) == streamId &&
                scala.util.Try(tag.substring(cut + 1).toLong).toOption
                  .exists(_ >= batchId)
            // migration: a pre-namespacing store tagged bare
            // `batchId.toString`. Resuming that store with its ORIGINAL
            // checkpoint replays the last applied batch — matching the
            // legacy tag on EXACT equality suppresses exactly that
            // double-apply (the failure the tag exists to prevent),
            // while a fresh-checkpoint successor restarting at batch 0
            // against a stale high legacy tag still applies (equality,
            // never >=, so the old counter can't swallow new batches).
            // The first applied batch rewrites the tag namespaced.
            val legacyMatch =
              scala.util.Try(tag.toLong).toOption.contains(batchId)
            namespacedMatch || legacyMatch
          }
        if (!applied) {
          graft.sources.Sinks.mergeAggregate(batch.sparkSession, storePath,
            batch, Seq("event_type"), Seq("n_events", "value_cents"),
            commitTag = Some(s"$streamId-$batchId"))
        }
        ()
      }
  }

  /** Streaming serving-layer load — the reference's Airflow→warehouse
    * cadence (nyc_hybrid_etl_pipeline.py:1-60 psycopg2 upsert layer;
    * lambda_transform_airbnb.py's Redshift loads) as a LIVE foreachBatch
    * sink: each micro-batch keyed-upserts into the serving table via
    * [[graft.sources.Sinks.writeJdbcUpsert]] (batched UPDATE-then-INSERT,
    * partition-parallel, key-partitioned so no two tasks race a key),
    * and the batch marker lands in the SAME DATABASE
    * (`<table>_commits`), never beside the checkpoint — a lake-side
    * marker cannot make a DB write exactly-once, because restoring
    * either store from backup desyncs the other.
    *
    * Exactly-once FINAL STATE comes from the pair (idempotent upsert,
    * DB-resident marker):
    *  - a replayed batch at-or-below the marker is a no-op (skip);
    *  - a crash anywhere between the first partition's commit and the
    *    marker insert replays the batch, and re-upserting identical
    *    rows converges to the same final state (upsert, not append —
    *    the property the whole design leans on);
    *  - the marker's primary key turns a double-mark into a loud error.
    * Requires deterministic replays (the structured-streaming source
    * contract) and one row per key per batch (dedupe upstream).
    */
  def jdbcUpsertStream(rows: DataFrame, url: String, table: String,
      keyCols: Seq[String], streamId: String,
      props: Map[String, String] = Map.empty,
      outputMode: String = "update")
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    graft.sources.Snapshots.requireToken(streamId,
      s"jdbcUpsertStream needs a plain-token streamId, got '$streamId'")
    rows
      .writeStream
      // "update" for rollup maintenance; pass "append" when the source
      // is an append-mode stateful stream (e.g. sessionFinalizeStream)
      .outputMode(outputMode)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        jdbcUpsertBatch(batch, batchId, url, table, keyCols, streamId, props)
        ()
      }
  }

  /** One [[jdbcUpsertStream]] micro-batch: skip-if-marked, upsert, mark.
    * Factored out (and package-visible) so the replay and crash-window
    * semantics are directly testable. Returns true when the batch was
    * applied, false when the marker skipped it.
    */
  private[graft] def jdbcUpsertBatch(batch: DataFrame, batchId: Long,
      url: String, table: String, keyCols: Seq[String], streamId: String,
      props: Map[String, String]): Boolean = {
    val applied = graft.sources.Sinks
      .jdbcLastCommitted(url, table, streamId, props)
      .exists(_ >= batchId)
    if (applied) false
    else {
      graft.sources.Sinks.writeJdbcUpsert(batch, url, table, keyCols,
        props = props)
      graft.sources.Sinks.jdbcMarkCommitted(url, table, streamId, batchId, props)
      true
    }
  }

  /** Streaming lake ingestion over the snapshot commit protocol: each
    * micro-batch appends immutable parquet files, then publishes one
    * numbered snapshot ([[graft.sources.Sinks.commitSnapshot]]). Readers
    * get consistent tables at every point ([[graft.sources.Readers
    * .readSnapshot]]) and downstream incrementals fold exactly the
    * per-batch delta ([[graft.sources.Readers.readChangesBetween]]) —
    * the streaming→lake handoff of a 100 TB ingest, with no mutable
    * pointer anywhere. Replay idempotency comes from DETERMINISTIC
    * generation naming ([[graft.sources.Sinks.appendSnapshotOnce]]):
    * a replayed batch whose files already sit in manifest history is a
    * no-op however far the previous attempt got (a marker-after-commit
    * scheme leaves a window where the replay re-appends the whole batch
    * under fresh random part names). `streamId` namespaces the
    * generations: a successor query with a fresh checkpoint restarts
    * batchIds at 0, and without its own id its first batches would
    * collide with the predecessor's and silently skip.
    */
  def snapshotIngestStream(events: DataFrame, tablePath: String,
      streamId: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    require(streamId.nonEmpty, "snapshotIngestStream needs a non-empty streamId")
    events
      .writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.sources.Sinks.appendSnapshotOnce(batch.sparkSession, tablePath,
          batch, streamId, batchId)
        ()
      }
  }

  /** Streaming data-contract monitoring: every micro-batch is profiled
    * against a PINNED baseline snapshot with the batch operators'
    * [[graft.operators.AuditOps.statsDrift]] (row/null accounting,
    * value-range envelope, expansion flag per column) and the per-batch
    * drift report rows append to `reportPath` tagged with the batchId —
    * the alerting feed a warehouse team tails to catch an upstream
    * schema/unit change WITHIN the batch that shipped it, not at the
    * next nightly audit. Baseline stats are re-derived per batch from
    * the baseline path (baseline-sized, typically a sampled pin).
    * Replay idempotency: the report files carry a deterministic
    * per-(streamId, batch) name and the marker is the commit point —
    * a replay BELOW the marker first deletes any partial files of its
    * own generation, so however far the previous attempt got (including
    * the write-then-crash-before-marker window that used to duplicate
    * report rows under fresh random part names), the redo lands exactly
    * once. `streamId` namespaces both, so a successor query's restarted
    * batchIds cannot collide with the predecessor's.
    */
  def statsDriftStream(rows: DataFrame, baselinePath: String,
      reportPath: String, cols: Seq[String], streamId: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    // plain-token guard (the aggMaintainStream discipline): streamId is
    // interpolated into report names, the replay-cleanup pattern, and the
    // marker directory path, so '/' or other path metacharacters would
    // corrupt the layout
    graft.sources.Snapshots.requireToken(streamId,
      "statsDriftStream needs a plain-token streamId")
    reportStream(rows, reportPath, streamId, "drift") { batch =>
      val baseline = batch.sparkSession.read.parquet(baselinePath)
      graft.operators.AuditOps.statsDrift(baseline, batch, cols)
    }
  }

  /** Streaming distribution-drift monitoring: each micro-batch's value
    * distribution runs the exact two-sample Kolmogorov–Smirnov core
    * ([[graft.operators.StatOps.ksFromCounts]] — the same statistic the
    * batch operator `ks_order_drift` grades) against a PINNED baseline
    * snapshot, and the one-row report (n_base, n_batch, ks location,
    * d_micro) appends to `reportPath` tagged with the batchId — the
    * distributional complement of [[statsDriftStream]]'s mean/null/range
    * contract checks (a payment-amount unit change that preserves the
    * mean moves D immediately). Values quantize to whole units so the
    * CDF grid stays schema-bounded. Replay idempotency is the
    * [[statsDriftStream]] discipline verbatim: deterministic
    * per-(streamId, batch) report names, crashed-generation cleanup
    * before rewrite, marker as the commit point.
    */
  def ksDriftStream(rows: DataFrame, baselinePath: String,
      reportPath: String, valueCol: String, streamId: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    graft.sources.Snapshots.requireToken(streamId,
      "ksDriftStream needs a plain-token streamId")
    reportStream(rows, reportPath, streamId, "ks") { batch =>
      def quant(df: DataFrame, a: Long, b: Long) = df
        .select(floor(col(valueCol)).cast("long").as("v"),
          lit(a).as("ea"), lit(b).as("eb"))
      val byV = quant(batch.sparkSession.read.parquet(baselinePath), 1L, 0L)
        .unionByName(quant(batch, 0L, 1L))
        .groupBy(col("v"))
        .agg(sum(col("ea")).as("a"), sum(col("eb")).as("b"))
      graft.operators.StatOps.ksFromCounts(byV)
        .select(col("n_a").as("n_base"), col("n_b").as("n_batch"),
          col("ks_at_v"), col("d_micro"))
    }
  }

  /** Streaming feed-gap monitoring — the LIVE third of the backfill
    * family (`partition_backfill_plan` audits the lake after the fact,
    * [[graft.sources.Sinks.backfillWindows]] repairs it; this catches
    * the gap while the feed is still running): each micro-batch's event
    * times bucket to `bucketSeconds` grain, and every EMPTY bucket
    * strictly inside the batch's own time envelope appends one report
    * row (batch_id, bucket_start_s) — an upstream that silently skipped
    * an hour shows up in the batch that delivered the hours around it.
    * Replay discipline is [[statsDriftStream]]'s verbatim: full-name
    * generation cleanup, marker as the commit point.
    *
    * Scale: the spine explodes from a 1-row min/max aggregate and is
    * clamped to the `maxBuckets` MOST RECENT buckets — anchored at the
    * batch maximum (`greatest(lo, hi − maxBuckets) .. hi`), not the
    * minimum: a corrupt epoch-0 timestamp must neither materialize a
    * 50-year spine NOR flood the report with bucket-0 false gaps while
    * pushing the batch's real time envelope outside the inspected
    * range (low-anchoring did exactly that — the monitor's own
    * motivating case blinded it). Present-bucket detection is one
    * map-side-combined rollup of the batch.
    */
  def gapMonitorStream(rows: DataFrame, reportPath: String, tsCol: String,
      streamId: String, bucketSeconds: Long = 3600L, maxBuckets: Long = 100000L)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    graft.sources.Snapshots.requireToken(streamId,
      "gapMonitorStream needs a plain-token streamId")
    require(bucketSeconds > 0 && maxBuckets > 0)
    reportStream(rows, reportPath, streamId, "gap") { batch =>
      val buckets = batch
        .select(expr(s"cast($tsCol as long) div $bucketSeconds").as("bkt"))
      val present = buckets.groupBy(col("bkt")).agg(count(lit(1)).as("n"))
      val spine = buckets
        .agg(min(col("bkt")).as("lo"), max(col("bkt")).as("hi"))
        .select(greatest(col("lo"), col("hi") - lit(maxBuckets)).as("lo"),
          col("hi"))
        .select(explode(expr("sequence(lo, hi)")).as("bkt"))
      spine.join(present, Seq("bkt"), "left_anti")
        .select((col("bkt") * bucketSeconds).as("bucket_start_s"))
    }
  }

  /** The report streams' one foreachBatch body, with the replay
    * discipline [[statsDriftStream]] describes: a non-empty micro-batch
    * below its marker stages `report(batch)`, tagged with the batchId,
    * as the `kind` generation of (streamId, batch) in `reportPath`, then
    * writes the marker.
    */
  private def reportStream(rows: DataFrame, reportPath: String,
      streamId: String, kind: String)(report: DataFrame => DataFrame)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    rows
      .writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val marker = graft.sources.Snapshots
          .markerPath(s"$reportPath-$streamId", batchId)
        if (!graft.sources.Snapshots.markerExists(batch, marker) &&
            !batch.isEmpty) {
          val dir = new org.apache.hadoop.fs.Path(reportPath)
          val fs = dir.getFileSystem(
            batch.sparkSession.sparkContext.hadoopConfiguration)
          graft.sources.Snapshots.stageGeneration(fs, dir,
              graft.sources.Snapshots.batchGen(kind, streamId, batchId),
              s"$kind report") { tmp =>
            report(batch).withColumn("batch_id", lit(batchId))
              .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
              .parquet(tmp.toString)
          }
          graft.sources.Snapshots.writeMarker(batch, marker)
        }
        ()
      }

  /** Continuous ANN-index maintenance: each micro-batch of vectors is
    * encoded ONCE through the IVF cell assignment + PQ coder
    * ([[graft.operators.SimilarityOps.withPqCodes]] over
    * `withIvfCells`) and appended to the index store as slim
    * (vec_id, cell, code0..7) rows — the full vectors never land in the
    * index. This is how the embedding index keeps up with a crawling
    * pipeline: per-batch work scales with the batch, probes
    * ([[graft.operators.SimilarityOps.ivfPqAnn]]'s shape) read the
    * store, and a replayed micro-batch is idempotent via the batchId
    * marker.
    */
  def annIndexIngestStream(vectors: DataFrame, indexPath: String,
      streamId: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    // batchIds restart at 0 for a NEW query (fresh checkpoint) over the
    // same store — every ingest stream must carry its own streamId or a
    // successor's replayed ids collide with the predecessor's markers
    // and its first batches silently skip. Required, not defaulted: a
    // shared default namespace IS that collision.
    require(streamId.nonEmpty, "annIndexIngestStream needs a non-empty streamId")
    vectors
      .writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // encode against the CURRENT model: the fixed pseudo-random
        // structures until the first retrain, the trained sidecar
        // model after — so post-retrain batches land in the same
        // geometry the head snapshot was rebuilt in
        val model = readAnnModel(batch.sparkSession, indexPath)
          .getOrElse(graft.operators.SimilarityOps.FixedAnnModel)
        // deterministic generation naming makes the replayed batch a
        // no-op however far the previous attempt got — a marker written
        // after the commit left a window where replay re-appended and
        // re-committed the same vectors under fresh part names
        graft.sources.Sinks.appendSnapshotOnce(batch.sparkSession, indexPath,
          graft.operators.SimilarityOps.encodeSlim(batch, model),
          streamId, batchId)
        ()
      }
  }

  // --------------------------------------------- ANN index lifecycle

  /** TSV encoding of an [[graft.operators.SimilarityOps.AnnModel]] —
    * kind, three integer coordinates, one float weight per line; float
    * round-trips are exact (shortest-repr toString / toFloat).
    */
  private def modelLines(
      model: graft.operators.SimilarityOps.AnnModel): Seq[String] =
    model.centroids.zipWithIndex.flatMap { case (c, k) =>
      c.zipWithIndex.map { case (w, i) => s"ivf\t$k\t$i\t0\t$w" }
    } ++
      model.codebook.zipWithIndex.flatMap { case (sub, m) =>
        sub.zipWithIndex.flatMap { case (cj, j) =>
          cj.zipWithIndex.map { case (w, i) => s"pq\t$m\t$j\t$i\t$w" }
        }
      }

  /** Latest `_model-v*` sidecar in the index directory, if any — the
    * trained geometry probes and ingest batches must share. None until
    * the first [[annIndexRetrain]] (callers fall back to the fixed
    * model).
    */
  def readAnnModel(spark: SparkSession, indexPath: String,
      atVersion: Option[Int] = None)
      : Option[graft.operators.SimilarityOps.AnnModel] = {
    val dir = new org.apache.hadoop.fs.Path(indexPath)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return None
    // pair the model with the COMMITTED head: the newest sidecar whose
    // version ≤ the latest manifest. During a retrain's re-encode
    // window the new sidecar exists but its manifest doesn't yet —
    // pairing it with the old-geometry head codes would make every ADC
    // distance garbage, so readers keep the previous model until the
    // swap actually commits. `atVersion` pins a HISTORICAL pairing (the
    // newest sidecar at-or-below that snapshot) for time-traveled probes.
    val head = atVersion.getOrElse(
      graft.sources.Snapshots.versions(fs, dir).lastOption.getOrElse(0))
    val latest = graft.sources.Snapshots.modelVersions(fs, dir)
      .filter(_ <= head).lastOption
    latest.map { v =>
      val lines = graft.sources.Snapshots
        .lines(fs, graft.sources.Snapshots.modelPath(dir, v))
        .map(_.split("\t", -1))
      val ivf = Array.ofDim[Float](graft.operators.SimilarityOps.IvfCells,
        graft.operators.SimilarityOps.Dim)
      val pq = Array.ofDim[Float](graft.operators.SimilarityOps.PqSub,
        graft.operators.SimilarityOps.PqCent, 8)
      lines.foreach { a =>
        if (a(0) == "ivf") ivf(a(1).toInt)(a(2).toInt) = a(4).toFloat
        else pq(a(1).toInt)(a(2).toInt)(a(3).toInt) = a(4).toFloat
      }
      graft.operators.SimilarityOps.AnnModel(
        ivf.map(_.toIndexedSeq).toIndexedSeq,
        IndexedSeq.tabulate(graft.operators.SimilarityOps.PqSub,
          graft.operators.SimilarityOps.PqCent, 8)((m, j, i) => pq(m)(j)(i)))
    }
  }

  /** Retrain-and-swap maintenance for a streamed ANN index store — the
    * hook that keeps [[annIndexIngestStream]]'s index from degrading as
    * the corpus drifts away from the geometry it was encoded in:
    * re-train both model halves on the CURRENT corpus, re-encode it,
    * publish the model sidecar and then the rebuilt snapshot
    * ([[graft.sources.Sinks.replaceSnapshot]] — earlier snapshots stay
    * readable, stragglers invisible, post-swap ingest appends cleanly).
    * Model-before-manifest ordering plus [[readAnnModel]]'s
    * version-pairing means readers never mix geometries in either
    * direction.
    *
    * Concurrency contract: quiesce (or pause) the ingest stream for the
    * swap — the replacement head names ONLY the re-encoded corpus, so a
    * batch committed mid-retrain would carry rows the rebuilt snapshot
    * lacks. Rather than silently dropping them, the swap ABORTS (before
    * publishing anything) when it detects a commit newer than the
    * version it trained against; a tiny check-to-publish window remains
    * (a lock service closes it in production). Returns the new version.
    */
  def annIndexRetrain(corpus: DataFrame, indexPath: String): Int =
    annIndexRetrainHooked(corpus, indexPath, () => ())

  /** [[annIndexRetrain]] with a seam just before the manifest publish,
    * so a spec can land a racing commit inside the replacement window.
    */
  private[graft] def annIndexRetrainHooked(corpus: DataFrame,
      indexPath: String, beforePublish: () => Unit): Int = {
    val spark = corpus.sparkSession
    val dir = new org.apache.hadoop.fs.Path(indexPath)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(dir)
    def headVersion: Int =
      graft.sources.Snapshots.versions(fs, dir).lastOption.getOrElse(0)
    val base = headVersion
    // the version this swap publishes, allocated the way every committer
    // allocates — above published heads AND outstanding claims, so a
    // claim a crashed committer left above the head is a gap, not a
    // wedge. Read BEFORE training: replaceSnapshot's CAS then aborts on
    // any claim that appears while the model trains, and (given `base`)
    // on a skipped claim that turns out live and publishes before the
    // swap does.
    val next = graft.sources.Snapshots.nextVersion(fs, dir)
    val model = graft.operators.SimilarityOps.trainAnnModel(corpus)
    // abort BEFORE publishing if anything committed while training: its
    // rows are not in `corpus`, and a post-publish failure would already
    // have dropped them from the head
    val seen = headVersion
    require(seen == base,
      s"ingest committed v$seen during retrain (trained against v$base); " +
        "quiesce the ingest stream and re-run with a fresh corpus snapshot")
    val sidecar = graft.sources.Snapshots.modelPath(dir, next)
    if (!graft.sources.Snapshots.publishText(fs, sidecar, modelLines(model),
        overwrite = false))
      throw new java.io.IOException(s"model publish failed for $indexPath")
    // replaceSnapshot's CAS (expectedVersion over base) guarantees the
    // manifest publishes against the trained-on head or not at all; on
    // abort the orphan sidecar is removed so readers never see a model
    // with no matching manifest generation
    try graft.sources.Sinks.replaceSnapshotHooked(spark, indexPath,
      graft.operators.SimilarityOps.encodeSlim(corpus, model), 1,
      expectedVersion = next, base = base, beforePublish = beforePublish)
    catch { case e: Throwable => fs.delete(sidecar, false); throw e }
  }

  /** SERVE leg of the streamed ANN lifecycle — the one-call probe that
    * closes build→stream→retrain→serve: read the COMMITTED head of an
    * [[annIndexIngestStream]] store (stragglers invisible), pair it with
    * its model sidecar via [[readAnnModel]]'s version discipline (the
    * fixed geometry until the first retrain), and run the same IVF-PQ
    * ADC probe the batch operator `embed_ivfpq_ann` grades
    * ([[graft.operators.SimilarityOps.annCodesSearch]]). A snapshot
    * `version` pins a historical index state (paired with the newest
    * sidecar at-or-below it), so a training run can re-issue yesterday's
    * probes bit-for-bit.
    *
    * Scale: the store holds CODES (one long cell + M bytes per vector,
    * never raw embeddings), queries broadcast, and the probe join moves
    * only probed cells — the FAISS serving shape on a snapshot lake.
    */
  def annIndexSearch(spark: SparkSession, indexPath: String,
      queries: DataFrame, k: Int,
      version: Option[Int] = None): DataFrame = {
    val codes = graft.sources.Readers.readSnapshot(spark, indexPath, version)
    val model = readAnnModel(spark, indexPath, version)
      .getOrElse(graft.operators.SimilarityOps.FixedAnnModel)
    graft.operators.SimilarityOps.annCodesSearch(codes, queries, model, k)
  }

  case class SessionEvent(user_id: Long, event_id: Long, ts_s: Long)
  case class SessionState(sessionCount: Long, eventCount: Long, lastTs: Long,
      sessionStart: Long, maxDuration: Long)
  case class UserSessions(user_id: Long, n_sessions: Long, n_events: Long,
      max_session_s: Long)

  /** Streaming sessionization with explicit state per user — the
    * mapGroupsWithState path a 100 TB/day event feed needs (state is one
    * small record per user, not the event history).
    */
  def sessionizeStream(spark: SparkSession, events: Dataset[SessionEvent],
      gapSeconds: Long = 1800): Dataset[UserSessions] = {
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[SessionState, UserSessions](GroupStateTimeout.NoTimeout) {
        (userId, batch, state: GroupState[SessionState]) =>
          val sorted = batch.toSeq.sortBy(e => (e.ts_s, e.event_id))
          var s = state.getOption.getOrElse(SessionState(0L, 0L, Long.MinValue, 0L, 0L))
          sorted.foreach { e =>
            s =
              if (s.lastTs == Long.MinValue || e.ts_s - s.lastTs > gapSeconds)
                s.copy(sessionCount = s.sessionCount + 1, eventCount = s.eventCount + 1,
                  lastTs = e.ts_s, sessionStart = e.ts_s)
              else {
                val dur = e.ts_s - s.sessionStart
                s.copy(eventCount = s.eventCount + 1, lastTs = e.ts_s,
                  maxDuration = math.max(s.maxDuration, dur))
              }
          }
          state.update(s)
          UserSessions(userId, s.sessionCount, s.eventCount, s.maxDuration)
      }
  }

  case class SessionEv(user_id: Long, event_id: Long, ts: java.sql.Timestamp)
  case class OpenSession(start: Long, lastTs: Long, n: Long)
  case class ClosedSession(user_id: Long, session_start: Long,
      session_end: Long, n_events: Long, duration_s: Long)

  /** Session FINALIZER — the other half of streaming sessionization:
    * [[sessionizeStream]] maintains a running per-user rollup, but a
    * downstream sessions FACT TABLE needs one immutable record per
    * COMPLETED session, and completion is only provable when event time
    * has moved `gapSeconds` past the session's last event. This is the
    * canonical EventTimeTimeout use: a gap inside a batch closes a
    * session inline; a gap that spans silence closes it when the
    * WATERMARK passes session_end + gap (the timeout callback fires
    * with an empty batch), so a user who disappears forever still gets
    * their last session emitted. State per user is one open-session
    * record (three longs) — never the event history. The timeout
    * timestamp is clamped to just above the current watermark so a
    * late-but-within-watermark event can never set an already-expired
    * timeout (which Spark rejects).
    */
  def sessionFinalizeStream(spark: SparkSession, events: Dataset[SessionEv],
      gapSeconds: Long = 1800): Dataset[ClosedSession] = {
    import spark.implicits._
    events
      .withWatermark("ts", "0 seconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user, batch, state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(ClosedSession(user, s.start, s.lastTs, s.n,
              s.lastTs - s.start))
          } else {
            val sorted = batch.toSeq
              .map(e => (e.ts.getTime / 1000, e.event_id))
              .sortBy(identity)
            var closed = List.empty[ClosedSession]
            var cur = state.getOption
            sorted.foreach { case (t, _) =>
              cur match {
                case Some(s) if t - s.lastTs <= gapSeconds =>
                  cur = Some(s.copy(lastTs = math.max(s.lastTs, t), n = s.n + 1))
                case Some(s) =>
                  closed ::= ClosedSession(user, s.start, s.lastTs, s.n,
                    s.lastTs - s.start)
                  cur = Some(OpenSession(t, t, 1))
                case None =>
                  cur = Some(OpenSession(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(math.max(
                state.getCurrentWatermarkMs + 1, (s.lastTs + gapSeconds) * 1000))
            }
            closed.reverse.iterator
          }
      }
  }

  case class HourCount(event_type: String, hour_start: Long, n_events: Long)
  case class AnomalyState(nHours: Long, sx: Long, sxx: Long)
  case class HourAnomaly(event_type: String, hour_start: Long,
      n_events: Long, z: Option[Double])

  /** Online per-type volume anomaly scoring — the streaming form of the
    * batch `hourly_anomalies` view, via flatMapGroupsWithState: state per
    * event type is three longs (n, Σx, Σx² over hours seen so far), and
    * each arriving hour bucket is z-scored against the PRIOR hours only
    * (the alerting semantics a live pipeline wants — no peeking at the
    * future, unlike the batch view's corpus-wide stats). Emits one row
    * per hour; z is None until `minHours` of history exist or when the
    * history has zero variance. Exact integer state → identical results
    * however the hours are micro-batched, as long as event-time order is
    * preserved per key (upstream: a watermarked tumbling count).
    */
  def onlineAnomalyStream(spark: SparkSession, hours: Dataset[HourCount],
      minHours: Int = 24): Dataset[HourAnomaly] = {
    import spark.implicits._
    hours
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[AnomalyState, HourAnomaly](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (et, batch, state: GroupState[AnomalyState]) =>
          var s = state.getOption.getOrElse(AnomalyState(0L, 0L, 0L))
          val out = batch.toSeq.sortBy(_.hour_start).map { h =>
            val z =
              if (s.nHours < minHours) None
              else {
                val mean = s.sx.toDouble / s.nHours
                val variance = s.sxx.toDouble / s.nHours - mean * mean
                if (variance > 0)
                  Some((h.n_events.toDouble - mean) / math.sqrt(variance))
                else None
              }
            s = AnomalyState(s.nHours + 1, s.sx + h.n_events,
              s.sxx + h.n_events * h.n_events)
            HourAnomaly(et, h.hour_start, h.n_events, z)
          }
          state.update(s)
          out.iterator
      }
  }

  /** Distinct active users per tumbling hour, batch form — the DAU/HAU
    * engagement counter. Single-distinct aggregate (no multi-distinct
    * Expand); map-side partials carry (window, user) once each.
    */
  def windowUniquesBatch(events: DataFrame): DataFrame =
    events
      .filter(col("ts").isNotNull)
      .groupBy(window(col("ts"), "1 hour")("start").as("hour_start"))
      .agg(countDistinct(col("user_id")).as("n_users"))

  /** Streaming form of [[windowUniquesBatch]]: dedupe (user, window)
    * within the watermark, then a plain windowed count — the standard
    * streaming exact-distinct recipe. State is one entry per ACTIVE
    * (user, hour) inside the watermark horizon, evicted as it advances —
    * never a corpus-lifetime user set.
    */
  def windowUniquesStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .select(col("ts"), col("user_id"),
        window(col("ts"), "1 hour")("start").as("hour_start"))
      .dropDuplicates("user_id", "hour_start")
      .groupBy(col("hour_start"))
      .agg(count(lit(1)).as("n_users"))

  case class EventRow(event_id: Long, user_id: Long, ts_s: Long)
  case class BucketState(tokensMilli: Long, lastTs: Long)
  case class RateVerdict(event_id: Long, user_id: Long, ts_s: Long,
      allowed: Boolean)

  /** Per-user token-bucket rate limiting — the admission-control stage
    * of an event ingest (bot/flood suppression before expensive
    * enrichment). State per user is two longs: a milli-token balance
    * (capacity-capped, refilled per elapsed second) and the last seen
    * event time. Exact integer arithmetic → the same verdicts however
    * the stream is micro-batched, as long as event-time order is
    * preserved per key. Each admitted event costs 1000 milli-tokens.
    */
  def rateLimitStream(spark: SparkSession, events: Dataset[EventRow],
      capacityTokens: Int = 3, refillMilliPerSec: Long = 100L): Dataset[RateVerdict] = {
    import spark.implicits._
    val capMilli = capacityTokens * 1000L
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[BucketState, RateVerdict](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user, batch, state: GroupState[BucketState]) =>
          var s = state.getOption.getOrElse(BucketState(capMilli, Long.MinValue))
          val out = batch.toSeq.sortBy(e => (e.ts_s, e.event_id)).map { e =>
            val refilled =
              if (s.lastTs == Long.MinValue) capMilli
              else math.min(capMilli,
                s.tokensMilli + (e.ts_s - s.lastTs) * refillMilliPerSec)
            val allowed = refilled >= 1000L
            s = BucketState(if (allowed) refilled - 1000L else refilled, e.ts_s)
            RateVerdict(e.event_id, user, e.ts_s, allowed)
          }
          state.update(s)
          out.iterator
      }
  }

  case class FunnelEvent(user_id: Long, ts_s: Long, event_type: String)
  case class FunnelProgress(user_id: Long, ts_s: Long, funnel_level: Long)

  /** Streaming form of [[graft.operators.AsOfOps.windowFunnel]] — live
    * ordered-chain funnel tracking with O(1) state per user: the
    * view → click → purchase instance of [[patternStream]] (the
    * greedy-latest-anchor argument is in the
    * [[graft.operators.PatternOps]] header). Emits a row whenever a
    * user's deepest level increases (the live funnel dashboard feed);
    * verdicts are micro-batch-split invariant for in-order feeds.
    */
  def funnelStream(spark: SparkSession, events: Dataset[FunnelEvent],
      windowS: Long = 21600L): Dataset[FunnelProgress] = {
    import spark.implicits._
    val steps = Seq("view", "click", "purchase")
      .map(t => (e: PatternEvent) => e.event_type == t)
    patternStream(spark,
        events.map(e => PatternEvent(e.user_id, e.ts_s, e.event_type, 0.0)),
        steps, windowS)
      .map(p => FunnelProgress(p.user_id, p.ts_s, p.pattern_level))
  }

  case class PatternEvent(user_id: Long, ts_s: Long, event_type: String,
    value: Double)
  /** anchors(k) = latest step-1 ts backing a validated length-(k+1)
    * chain prefix (Long.MinValue = none yet); best = deepest emitted
    * level. N−1 longs per user regardless of history length.
    */
  case class PatternMatchState(anchors: Seq[Long], best: Long)
  case class PatternProgress(user_id: Long, ts_s: Long, pattern_level: Long)

  /** The graded 4-step pattern as step functions — the streaming twin
    * of [[graft.operators.PatternOps.signupFunnelSteps]], shared
    * with the stream≡batch mirror spec.
    */
  def signupFunnelStreamSteps: Seq[PatternEvent => Boolean] = Seq(
    _.event_type == "signup",
    _.event_type == "view",
    e => e.event_type == "click" && e.value >= 10.0,
    _.event_type == "purchase")

  /** Streaming N-step sequential pattern matcher — the live form of
    * [[graft.operators.PatternOps.patternProgress]] (MATCH_RECOGNIZE
    * shape) over arbitrary per-step predicates; [[funnelStream]] is its
    * view → click → purchase instance. Emits (user, ts, level) whenever
    * a user's deepest validated chain prefix grows.
    *
    * Exactly the batch RANGE-frame semantics, reproduced set-wise: the
    * micro-batch sorts by (ts, first-matching-step) and processes one
    * TIMESTAMP GROUP at a time — anchors update per step in ascending
    * step order against the group-final previous anchor (so equal-ts
    * rows see each other, and one event may serve two adjacent steps
    * when predicates overlap, both exactly as the batch mirror's
    * sequential RANGE projections), then every group member reads its
    * achieved level against the group-final anchors. Within an
    * equal-(ts, rk) tie set all members compute the same level, so
    * exactly one emission survives — stream output ≡ batch output
    * row-for-row across any micro-batch split of an in-order feed
    * (spec'd).
    *
    * Scale: state is N−1 longs + one level per user — never a history
    * buffer; the naive MATCH_RECOGNIZE state (buffered partial matches)
    * grows with match multiplicity and is why most engines restrict
    * streaming pattern queries.
    */
  def patternStream(spark: SparkSession, events: Dataset[PatternEvent],
      steps: Seq[PatternEvent => Boolean],
      windowS: Long): Dataset[PatternProgress] = {
    import spark.implicits._
    val n = steps.size
    require(n >= 2, "a pattern needs at least two steps")
    events
      .filter(e => steps.exists(_(e)))
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[PatternMatchState, PatternProgress](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user, batch, state: GroupState[PatternMatchState]) =>
          val s = state.getOption.getOrElse(
            PatternMatchState(Seq.fill(n - 1)(Long.MinValue), 0L))
          val anchors = s.anchors.toArray
          var best = s.best
          val out = scala.collection.mutable.ArrayBuffer.empty[PatternProgress]
          chainPass(batch, steps, windowS, anchors) { (t, ach) =>
            if (ach > best) { best = ach; out += PatternProgress(user, t, ach) }
          }
          state.update(PatternMatchState(anchors.toSeq, best))
          out.iterator
      }
  }

  /** The stream engine's one chain matcher: one micro-batch of a user's
    * events through the timestamp-group pass [[patternStream]]
    * describes, advancing `anchors` in place, then handing `member` each
    * event's ts and achieved level in (ts, first-matching-step) order.
    * Members read the LIVE anchors, so a `member` that resets them (a
    * completed attempt) is seen by the rest of its group.
    */
  private def chainPass(batch: Iterator[PatternEvent],
      steps: Seq[PatternEvent => Boolean], windowS: Long,
      anchors: Array[Long])(member: (Long, Long) => Unit): Unit = {
    val n = steps.size
    val sorted = batch.map(e => (e, steps.indexWhere(_(e)))).toSeq
      .sortBy { case (e, rk) => (e.ts_s, rk) }.map(_._1)
    var i = 0
    while (i < sorted.length) {
      val t = sorted(i).ts_s
      var j = i
      while (j < sorted.length && sorted(j).ts_s == t) j += 1
      val grp = sorted.slice(i, j)
      if (grp.exists(steps.head)) anchors(0) = math.max(anchors(0), t)
      for (k <- 1 until n - 1)
        if (anchors(k - 1) != Long.MinValue && grp.exists(steps(k)))
          anchors(k) = math.max(anchors(k), anchors(k - 1))
      for (e <- grp) { // grp is rk-sorted: batch ROWS order
        var ach = 0L
        for (k <- 0 until n)
          if (steps(k)(e) && (k == 0 ||
              (anchors(k - 1) != Long.MinValue &&
                anchors(k - 1) >= t - windowS)))
            ach = (k + 1).toLong
        member(t, ach)
      }
      i = j
    }
  }

  case class PatternEv(user_id: Long, ts: java.sql.Timestamp,
    event_type: String, value: Double)
  case class PatternOutcome(user_id: Long, ts_s: Long, pattern_level: Long,
    status: String)

  /** [[patternStream]] with ATTEMPT LIFECYCLE — the EventTimeTimeout
    * variant (the [[sessionFinalizeStream]] discipline applied to
    * patterns): besides the `progress` rows, it emits a terminal row
    * per attempt, so a live dashboard can tell "still in flight" from
    * "over":
    *
    *  - `matched` when the chain completes (level = N, replaces that
    *    row's `progress` status);
    *  - `expired` when the WATERMARK passes anchor + window while the
    *    attempt is still partial — no event of this user need ever
    *    arrive again (the timeout callback fires on an empty batch);
    *    the row carries the expiry instant (latest step-1 ts + window)
    *    and the deepest validated prefix level the attempt reached.
    *
    * An attempt ends at its terminal row and the state RESETS, so the
    * next step-1 event starts a fresh attempt that re-reports its own
    * progress from level 1 — per-attempt semantics, where
    * [[patternStream]] tracks the per-user lifetime best. A new step-1
    * event inside an open attempt extends it (the anchor — and with it
    * the expiry clock — advances to the latest step-1 ts, exactly the
    * batch anchor-propagation rule). The timeout timestamp is clamped
    * just above the current watermark, the standard guard against
    * setting an already-expired timeout.
    *
    * Scale: same O(N) longs per user as [[patternStream]]; expiry adds
    * one timeout slot per open attempt, never a buffer.
    */
  def patternExpireStream(spark: SparkSession, events: Dataset[PatternEv],
      steps: Seq[PatternEvent => Boolean],
      windowS: Long): Dataset[PatternOutcome] = {
    import spark.implicits._
    val n = steps.size
    require(n >= 2, "a pattern needs at least two steps")
    def asEvent(e: PatternEv): PatternEvent =
      PatternEvent(e.user_id, e.ts.getTime / 1000, e.event_type, e.value)
    events
      .withWatermark("ts", "0 seconds")
      .filter(e => steps.exists(_(asEvent(e))))
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[PatternMatchState, PatternOutcome](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user, batch, state: GroupState[PatternMatchState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            // Report the attempt's window-VALIDATED best (what its own
            // `progress` rows reached), not the anchor depth: anchor
            // propagation deliberately carries no window check (a
            // step-k event after the window still advances anchors(k)
            // for future chains), so anchors can sit deeper than any
            // level the attempt actually validated.
            val expTs = s.anchors.head + windowS
            state.remove()
            Iterator.single(PatternOutcome(user, expTs, s.best, "expired"))
          } else {
            val s = state.getOption.getOrElse(
              PatternMatchState(Seq.fill(n - 1)(Long.MinValue), 0L))
            val anchors = s.anchors.toArray
            var best = s.best
            val out = scala.collection.mutable.ArrayBuffer.empty[PatternOutcome]
            chainPass(batch.map(asEvent), steps, windowS, anchors) { (t, ach) =>
              if (ach > best) {
                best = ach
                if (ach == n) {
                  out += PatternOutcome(user, t, ach, "matched")
                  // attempt done: a later step-1 starts a fresh one
                  java.util.Arrays.fill(anchors, Long.MinValue)
                  best = 0L
                } else out += PatternOutcome(user, t, ach, "progress")
              }
            }
            if (anchors(0) != Long.MinValue) {
              state.update(PatternMatchState(anchors.toSeq, best))
              state.setTimeoutTimestamp(math.max(
                state.getCurrentWatermarkMs + 1,
                (anchors(0) + windowS) * 1000))
            } else state.remove()
            out.iterator
          }
      }
  }

  /** Windowed streaming heavy hitters — the live form of
    * `heavy_hitter_types`: per tumbling hour, the dominant event types by
    * a mergeable Misra–Gries sketch. The streaming state per window is
    * ONE bounded sketch (≤ capacity counters), updated incrementally and
    * merged across micro-batches by the Aggregator's associative merge —
    * the state never grows with event volume or type cardinality, which
    * is what makes per-window top-k viable on an unbounded 100 TB/day
    * stream (an exact streaming GROUP BY type would keep one state row
    * per distinct type per window). Counts are exact while distinct
    * types ≤ capacity (the spec's regime); above it, Misra–Gries
    * guarantees any type with frequency > N/(capacity+1) survives.
    */
  def heavyHitterStream(events: DataFrame, capacity: Int = 16): DataFrame = {
    val hh = udaf(new graft.functions.HeavyHitters(capacity),
      org.apache.spark.sql.Encoders.STRING)
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(hh(col("event_type")).as("sketch"))
      .select(col("window.start").as("hour_start"),
        explode(col("sketch")).as(Seq("event_type", "n_events")))
  }

  /** Streaming SCD Type-2 dimension maintenance — the batch
    * `scd2_customer_versions` semantics kept current by a stream: each
    * micro-batch closes the current version of every key whose tracked
    * attribute changed (valid_to = batchId, is_current = false) and
    * appends the new version (valid_from = batchId). The store is
    * rewritten via a staging directory + swap, so a reader never sees a
    * half-applied batch directory; the swap itself is two renames and a
    * crash between them needs manual repair — a Delta/Iceberg MERGE is
    * the transactional production form, this is the parquet-only shape.
    * Per-batch work is dim-sized (the store) + batch-sized, never
    * history-sized: closed versions carry forward untouched.
    */
  def scd2UpsertStream(events: DataFrame, dimPath: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events
      .select(col("user_id"), col("event_type"))
      .writeStream
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        // one deterministic attribute value per key per batch
        val incoming = batch.groupBy(col("user_id"))
          .agg(max(col("event_type")).as("attr"))
        // "No store yet" is decided by an explicit existence check, not
        // by swallowing read failures: a corrupt store, a permission
        // error, or a dangling -retired directory from a crash between
        // the two swap renames must FAIL the batch loudly (the manual
        // repair documented above), never silently restart version
        // history from an empty dimension. All store paths resolve on
        // the STORE's own filesystem (hdfs://s3a:// included), like the
        // batch markers.
        val fs = new org.apache.hadoop.fs.Path(dimPath)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val dimP = fs.makeQualified(new org.apache.hadoop.fs.Path(dimPath))
        graft.sources.Snapshots.retiredLeftover(fs, dimPath).foreach { d =>
          throw new IllegalStateException(
            s"SCD2 store swap was interrupted: found $d; " +
              s"restore it to $dimPath (or delete it if $dimPath is complete) before resuming")
        }
        val store =
          if (fs.exists(dimP))
            spark.read.parquet(dimPath)
          else
            spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              org.apache.spark.sql.types.StructType.fromDDL(
                "user_id LONG, attr STRING, valid_from LONG, valid_to LONG, is_current BOOLEAN"))
        val current = store.filter(col("is_current"))
        val closedHistory = store.filter(!col("is_current"))
        val joined = current.join(incoming.withColumnRenamed("attr", "new_attr"),
          Seq("user_id"), "full_outer")
        // unchanged current rows (no incoming, or same attr) pass through
        val kept = joined.filter(col("attr").isNotNull &&
          (col("new_attr").isNull || col("new_attr") === col("attr")))
          .select(col("user_id"), col("attr"), col("valid_from"),
            col("valid_to"), col("is_current"))
        // changed keys: close the old version, open the new one
        val changed = joined.filter(col("attr").isNotNull &&
          col("new_attr").isNotNull && col("new_attr") =!= col("attr"))
        val closed = changed.select(col("user_id"), col("attr"),
          col("valid_from"), lit(batchId).as("valid_to"),
          lit(false).as("is_current"))
        val opened = changed.select(col("user_id"),
          col("new_attr").as("attr"), lit(batchId).as("valid_from"),
          lit(null).cast("long").as("valid_to"), lit(true).as("is_current"))
        // brand-new keys
        val fresh = joined.filter(col("attr").isNull)
          .select(col("user_id"), col("new_attr").as("attr"),
            lit(batchId).as("valid_from"), lit(null).cast("long").as("valid_to"),
            lit(true).as("is_current"))
        val next = closedHistory.unionByName(kept).unionByName(closed)
          .unionByName(opened).unionByName(fresh)
        // every swap step THROWS on failure: a swallowed retired-store
        // delete would leave a dangling -retired dir that makes every
        // later batch fail the interrupted-swap check with a misleading
        // "restore the store" message while hiding the real cause
        graft.sources.Snapshots.rewriteStore(dimPath, next, batchId)(_ => ())
      }
}
