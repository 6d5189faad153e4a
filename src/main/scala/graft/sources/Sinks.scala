package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}

/** Warehouse-layer sinks. The reference coalesces everything to one file
  * for Redshift COPY (glue_job_clean_311.py:151-157 `coalesce(1)`) — a
  * single-writer bottleneck that cannot work at 100 TB. Here the layout
  * is partitioned parquet: writers stay parallel, and date-partitioned
  * facts get partition pruning for free on read.
  */
object Sinks {

  /** Staging layer: plain parquet, parallel writers. */
  def writeStaging(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  /** Fact layer: parquet partitioned by the given key columns (e.g. a
    * yyyyMMdd date_key) → partition-pruned scans downstream.
    */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Raw-layer format conversion (the reference's CSV→JSON Lambda,
    * airbnb_read.py) as a distributed job: any source DataFrame →
    * JSON-lines.
    */
  def writeJsonLines(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** Sort-clustered fact layout — the Spark-native answer to Redshift
    * SORTKEY: partition directories give coarse pruning; sorting rows
    * within each partition on the range key clusters values so parquet
    * row-group min/max statistics skip row groups inside each file for
    * range predicates. `sortWithinPartitions` is a local sort (no extra
    * shuffle beyond the optional repartition to control file count).
    */
  def writeSorted(df: DataFrame, path: String, partitionCols: Seq[String],
      sortCol: String, filesPerPartition: Int = 1): Unit = {
    import org.apache.spark.sql.functions.col
    // repartition(n, partitionCols) would funnel EVERY row of a
    // partition key into one task (n only caps total parallelism — the
    // single-writer bottleneck this file decries). Range-splitting on
    // (partitionCols, sortCol) scales writers with the file budget AND
    // keeps each output file on a narrow, non-overlapping sortCol range
    // — exactly what the parquet zone maps want (a hash salt would
    // parallelize but give every file the full value range). A range
    // boundary can land inside a partition key, so a directory may hold
    // one file more or fewer than the target — clustering, not an exact
    // file census, is the contract.
    // persist: the key census and the write would otherwise each
    // recompute the full input lineage. Lazy persist is SAFE here
    // (audited round 14, no racing-scan pathology): the census count()
    // is a serial action that fully populates the cache before the
    // write action runs. Call-scoped, not a Memo pin: the finally frees it
    val cached = df.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    try {
      // Long math + a writer-count ceiling: .toInt on the raw count
      // silently wraps negative past 2^31 distinct keys, and a range
      // split finer than ~64k writers stops buying layout anyway
      val maxSplits = 1 << 16
      val nKeys = cached.select(partitionCols.map(col): _*).distinct().count()
        .max(1L)
      val splits = math.min(nKeys * filesPerPartition.max(1).toLong,
        maxSplits.toLong).toInt
      val keys = (partitionCols :+ sortCol).map(col)
      cached.repartitionByRange(splits, keys: _*)
        .sortWithinPartitions(keys: _*)
        .write.mode(SaveMode.Overwrite)
        .partitionBy(partitionCols: _*)
        .parquet(path)
    } finally { cached.unpersist(); () }
  }

  /** Z-order clustered layout: range-partition and locally sort on the
    * Morton interleave of TWO columns ([[graft.functions.ZOrder]]), so
    * every output file's parquet footer carries narrow min/max ranges on
    * BOTH dimensions — the multi-column data-skipping layout (Delta/
    * Iceberg `ZORDER BY`, Spark-native): a reader filtering on either
    * column prunes most files, where a plain sort only serves its
    * leading column. The z-value is computed from built-in bit ops
    * (fully codegen'd) and never materialized into the written schema.
    */
  def writeZOrdered(df: DataFrame, path: String, colA: String, colB: String,
      numFiles: Int): Unit = {
    import org.apache.spark.sql.functions.col
    val z = graft.functions.ZOrder.zValue(col(colA), col(colB))
    df.repartitionByRange(numFiles, z)
      .sortWithinPartitions(z)
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Training-shard export: bounded-size parquet shards with a
    * deterministic, reproducible doc→shard assignment (hash mod), the
    * layout a training dataloader consumes. `maxRecordsPerFile` bounds
    * every file even when a shard key skews, so no shard exceeds what a
    * loader maps into memory; the repartition keys writers to shards so
    * shard files are whole units, not writer-task fragments.
    */
  def writeShards(df: DataFrame, path: String, idCol: String,
      shards: Int, maxRecordsPerFile: Int): Unit = {
    import org.apache.spark.sql.functions.{col, pmod, hash}
    df.withColumn("shard", pmod(hash(col(idCol)), org.apache.spark.sql.functions.lit(shards)))
      .repartition(shards, col("shard"))
      .write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", maxRecordsPerFile.toString)
      .partitionBy("shard")
      .parquet(path)
  }

  /** Bucketed catalog table: pre-shuffles once at write time so every
    * later equi-join/aggregation on the bucket key is exchange-free —
    * the Spark-native answer to Redshift DISTKEY. Joining two tables
    * bucketed the same way on the same key skips both shuffles
    * (verified in SourcesSpec by plan inspection).
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
      buckets: Int = 8): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .saveAsTable(table)

  /** The keyed-store MERGE family's precondition: one row per key in
    * the incoming batch. Two rows for a key would both survive the
    * anti-join and silently double the "keyed" store (dedupe or
    * aggregate upstream — e.g. keep the latest event per key).
    */
  private def requireUniqueKeys(df: DataFrame, keyCols: Seq[String],
      what: String): Unit = {
    import org.apache.spark.sql.functions.{col, count, lit}
    val dup = df.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n")).filter(col("n") > 1).limit(1).collect()
    require(dup.isEmpty,
      s"$what carries duplicate key ${dup.headOption.map(_.toString).getOrElse("")} — one row per key required")
  }

  /** True iff the parquet store exists, resolved on ITS filesystem. */
  private def storeExists(spark: org.apache.spark.sql.SparkSession,
      path: String): Boolean = {
    val t = new org.apache.hadoop.fs.Path(path)
    t.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(t)
  }

  /** Batch MERGE (upsert) into a parquet store by key: update rows
    * replace matching keys, new keys append, untouched rows carry
    * forward — the parquet-only MERGE INTO shape (a Delta/Iceberg MERGE
    * is the transactional production form). The store is rewritten via
    * staging dir + two-rename swap so a reader never sees a half-written
    * directory; the retired copy's delete THROWS on failure rather than
    * leaving a dangling dir. Per-merge work is store+updates-sized —
    * the anti-join shuffles only the key column against the update set.
    */
  def mergeUpsert(spark: org.apache.spark.sql.SparkSession, path: String,
      updates: DataFrame, keyCol: String): Unit = {
    import org.apache.spark.sql.functions.col
    requireUniqueKeys(updates, Seq(keyCol), "mergeUpsert updates")
    val merged =
      if (storeExists(spark, path)) {
        val current = spark.read.parquet(path)
        current.join(updates.select(col(keyCol)), Seq(keyCol), "left_anti")
          .unionByName(updates)
      } else updates
    Snapshots.rewriteStore(path, merged)(_ => ())
  }

  /** Apply a classified CDC delta (the [[graft.operators.ChangeOps]]
    * `snapshot_diff` shape: rows tagged insert / update / delete) to a
    * keyed parquet store — the consumer side of change capture, and the
    * piece [[mergeUpsert]] lacks: DELETES. New store =
    * (current ANTI-JOIN every changed key) ∪ insert/update payloads —
    * one key-column anti-join against the delta (store+delta-sized
    * work, never history-sized), then the same staging + two-rename
    * swap so readers never see a half-applied delta. Unknown ops THROW
    * (a CDC feed with a typo'd op must not silently drop rows).
    */
  def applyChanges(spark: org.apache.spark.sql.SparkSession, path: String,
      changes: DataFrame, keyCol: String, opCol: String = "change_type"): Unit = {
    import org.apache.spark.sql.functions.col
    // isNull first: for a NULL op, !isin(...) evaluates to NULL and the
    // filter would DROP the row — the guard would pass while the NULL-op
    // row silently acted as a delete (excluded from payload, key still
    // anti-joined)
    val badOps = changes
      .filter(col(opCol).isNull ||
        !col(opCol).isin("insert", "update", "delete"))
      .limit(1).collect()
    require(badOps.isEmpty,
      s"unknown $opCol value: ${badOps.headOption.map(_.toString).getOrElse("")}")
    requireUniqueKeys(changes, Seq(keyCol), "applyChanges delta")
    val payload = changes.filter(col(opCol) =!= "delete").drop(opCol)
    val merged =
      if (storeExists(spark, path)) {
        val current = spark.read.parquet(path)
        current.join(changes.select(col(keyCol)), Seq(keyCol), "left_anti")
          .unionByName(payload)
      } else payload
    Snapshots.rewriteStore(path, merged)(_ => ())
  }

  /** Incremental AGGREGATE maintenance — the materialized-view merge:
    * fold a new batch's per-key partial sums into a persistent rollup
    * store without ever re-reading the facts that built it. Because the
    * maintained measures are ADDITIVE (counts, exact decimal-cents
    * sums), merge = groupBy key over (store ∪ pre-aggregated batch) —
    * per-run work is store+batch-sized however much history the rollup
    * summarizes, the property that makes a 100 TB dashboard table
    * maintainable from deltas. Same staging + two-rename swap as
    * [[mergeUpsert]], so readers never see a half-written store.
    */
  def mergeAggregate(spark: org.apache.spark.sql.SparkSession, path: String,
      batch: DataFrame, keyCols: Seq[String], sumCols: Seq[String],
      commitTag: Option[String] = None): Unit = {
    import org.apache.spark.sql.functions.{col, sum}
    val pre = batch.groupBy(keyCols.map(col): _*)
      .agg(sumCols.map(c => sum(col(c)).as(c)).head,
        sumCols.map(c => sum(col(c)).as(c)).tail: _*)
    val merged =
      if (storeExists(spark, path))
        spark.read.parquet(path).unionByName(pre)
          .groupBy(keyCols.map(col): _*)
          .agg(sumCols.map(c => sum(col(c)).as(c)).head,
            sumCols.map(c => sum(col(c)).as(c)).tail: _*)
      else pre
    // the commit tag rides INSIDE the staged directory, so tag and data
    // publish in the same swap — an ADDITIVE merge cannot be made
    // idempotent by any marker written after the swap (a crash between
    // the two re-applies the batch on replay and double-counts). The
    // underscore prefix keeps parquet readers blind to it.
    Snapshots.rewriteStore(path, merged) { staging =>
      commitTag.foreach { tag =>
        val p = Snapshots.commitTagPath(staging, tag)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).create(p, true).close()
      }
    }
  }

  /** The commit tag the store's last [[mergeAggregate]] swap carried, if
    * any — each swap replaces the whole directory, so at most one
    * `_commit-*` file exists and it names the last atomically-applied
    * batch.
    */
  def storeCommitTag(spark: org.apache.spark.sql.SparkSession,
      path: String): Option[String] = {
    val dir = new org.apache.hadoop.fs.Path(path)
    Snapshots.commitTag(
      dir.getFileSystem(spark.sparkContext.hadoopConfiguration), dir)
  }

  /** EXACTLY-ONCE append of one micro-batch into a snapshot directory:
    * the batch's files carry a deterministic generation name
    * (`ingest-<streamId>-b<batchId>-pNNNN.parquet`), so a replayed batch
    * is recognizable however far the previous attempt got. Returns false
    * (no-op) when the generation already appears in manifest history —
    * the append COMMITTED even if the caller's own marker never landed;
    * otherwise clears any uncommitted leftovers of this generation
    * (crash mid-append), stages + renames the files in, and publishes
    * one snapshot. This closes the replay window a random-part-name
    * `mode(Append)` + [[commitSnapshot]] pair leaves open: a crash
    * between the commit and the caller's marker would re-append the
    * whole batch under fresh names and silently double every row.
    */
  def appendSnapshotOnce(spark: org.apache.spark.sql.SparkSession,
      path: String, df: DataFrame, streamId: String, batchId: Long): Boolean = {
    Snapshots.requireToken(streamId, s"streamId must be a plain token, got '$streamId'")
    appendOnce(spark, path, df, Snapshots.batchGen("ingest", streamId, batchId),
      "ingest", emptyCommits = false)
  }

  /** [[appendSnapshotOnce]] keyed by a STRING window id instead of a
    * numeric batch id — the idempotence unit of a partition backfill
    * ("year=2019 is either fully committed or absent", the reference
    * DAG's s3_exists skip — `nyc_ingestion_dag.py:25-41`). Generation
    * names embed the window (`ingest-<streamId>-w<windowId>-pNNNN`), and
    * BOTH the committed check and the crash cleanup match the full file
    * name, never a prefix: '-' is legal in window ids, so window "2019"
    * must not read window "2019-q1"'s committed files as its own.
    */
  def appendWindowOnce(spark: org.apache.spark.sql.SparkSession,
      path: String, df: DataFrame, streamId: String,
      windowId: String): Boolean = {
    Snapshots.requireToken(streamId, s"streamId must be a plain token, got '$streamId'")
    Snapshots.requireToken(windowId, s"windowId must be a plain token, got '$windowId'")
    appendOnce(spark, path, df, Snapshots.windowGen(streamId, windowId),
      "window ingest", emptyCommits = true)
  }

  /** The body both exactly-once appends share: false (no-op) when a
    * part of generation `gen` already appears in manifest history,
    * otherwise stage the generation in and commit one snapshot. An
    * empty frame commits nothing unless `emptyCommits`, in which case
    * it commits a schema-only sentinel part.
    */
  private def appendOnce(spark: org.apache.spark.sql.SparkSession,
      path: String, df: DataFrame, gen: String, what: String,
      emptyCommits: Boolean): Boolean = {
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(dir)
    val committed = Snapshots.versions(fs, dir)
      .flatMap(v => Snapshots.files(fs, dir, v))
      .exists(Snapshots.inGeneration(gen, _))
    if (committed) return false
    def stage(frame: DataFrame) = Snapshots.stageGeneration(fs, dir, gen, what)(
      tmp => frame.write.mode(SaveMode.Overwrite).parquet(tmp.toString))
    if (stage(df).isEmpty) {
      // an empty batch has nothing to publish — don't burn a version on
      // it (its replay is another harmless no-op)
      if (!emptyCommits) return true
      // a legitimately-EMPTY window must still COMMIT: returning early
      // here left no committed record, so backfillWindows re-fetched
      // (and re-reported) the window on every replay — the documented
      // skip-if-committed idempotence broke for empty feeds. Commit a
      // zero-row sentinel part instead: repartition(1) guarantees one
      // writer task → one empty parquet file carrying the schema, which
      // the committed check matches like any other generation file.
      if (stage(df.limit(0).repartition(1)).isEmpty)
        throw new java.io.IOException(
          s"empty-window sentinel write produced no part under $dir")
    }
    commitSnapshot(spark, path)
    true
  }

  /** Partition backfill/catchup over an HTTP JSON feed — the reference
    * DAG's per-year loop (`nyc_ingestion_dag.py:25-41, 35-62`: for each
    * year, skip if the raw object exists, else pull and land) as ONE
    * idempotent operator: for every (windowId, url) whose window is not
    * yet committed in the raw snapshot store, fetch via
    * [[graft.sources.Readers.httpFetchJson]] (executor-side, paged),
    * stamp the rows with the window id, and commit through
    * [[appendWindowOnce]]. Returns the window ids actually fetched.
    *
    * Replay safety: committed windows are skipped BEFORE any fetch (the
    * DAG's skip-if-exists, but keyed on the manifest protocol rather
    * than a raw-object HEAD — a half-written crash can never read as
    * present), and each window commits independently, so a crash mid-
    * backfill durably keeps every completed window and a re-run fetches
    * exactly the missing ones.
    */
  def backfillHttpWindows(spark: org.apache.spark.sql.SparkSession,
      rawPath: String, streamId: String, windows: Seq[(String, String)],
      schema: org.apache.spark.sql.types.StructType,
      pageSize: Option[Int] = None, parallelPages: Int = 8,
      headers: Map[String, String] = Map.empty,
      windowCol: String = "window"): Seq[String] =
    backfillWindows(spark, rawPath, streamId, windows,
      (s, url) => graft.sources.Readers
        .httpFetchJson(s, url, schema, pageSize, parallelPages, headers),
      windowCol)

  /** Source-agnostic partition backfill — the catchup composition with
    * the FETCH as a parameter, so the same skip-if-committed /
    * per-window-commit / replay-exactly-missing discipline serves every
    * extract flavor: [[backfillHttpWindows]] plugs in the paged JSON
    * fetch; the reference's monthly-CSV leg
    * (`nyc_ingestion_dag.py:66-100`, the Airbnb listings pulls) is
    * `backfillWindows(..., (s, url) => Readers.httpFetchCsv(s, url))`;
    * a JDBC or file-drop window plugs in the same way.
    */
  def backfillWindows(spark: org.apache.spark.sql.SparkSession,
      rawPath: String, streamId: String, windows: Seq[(String, String)],
      fetch: (org.apache.spark.sql.SparkSession, String) => DataFrame,
      windowCol: String = "window"): Seq[String] = {
    import org.apache.spark.sql.functions.lit
    Snapshots.requireToken(streamId, s"streamId must be a plain token, got '$streamId'")
    windows.foreach { case (w, _) =>
      Snapshots.requireToken(w, s"windowId must be a plain token, got '$w'") }
    val dir = new org.apache.hadoop.fs.Path(rawPath)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val seen: Set[String] = Snapshots.versions(fs, dir)
      .flatMap(v => Snapshots.files(fs, dir, v)).toSet
    val missing = windows.filterNot { case (w, _) =>
      val gen = Snapshots.windowGen(streamId, w)
      seen.exists(Snapshots.inGeneration(gen, _))
    }
    missing.map { case (w, source) =>
      val rows = fetch(spark, source).withColumn(windowCol, lit(w))
      appendWindowOnce(spark, rawPath, rows, streamId, w)
      w
    }
  }

  /** Gap-driven repair — the closing edge of the detect → audit →
    * repair triangle: [[graft.streaming.EventStreams.gapMonitorStream]]
    * REPORTS the feed's empty buckets while the stream runs;
    * [[backfillWindows]] repairs windows it is TOLD about; this
    * composition reads the gap report and backfills EXACTLY the
    * reported buckets — no operator hand-copies bucket lists between
    * the two. Each gap bucket becomes window id `s<bucketStartSeconds>`
    * and `source(bucketStart)` names where to refetch it (the feed's
    * time-range query URL, a file drop, …); the window protocol then
    * gives per-bucket exactly-once: already-repaired buckets are
    * skipped BEFORE any fetch, a crash mid-repair keeps completed
    * buckets durable, and re-running (or replaying the monitor — its
    * report rewrite is generation-keyed) repairs nothing twice.
    *
    * Scale: the report is calendar-bounded by construction (the
    * monitor's spine is clamped to `maxBuckets` most-recent buckets per
    * batch), so the distinct-bucket collect is a bounded metadata read,
    * never data-scale. Returns the repaired window ids.
    */
  def repairGaps(spark: org.apache.spark.sql.SparkSession,
      reportPath: String, rawPath: String, streamId: String,
      source: Long => String,
      fetch: (org.apache.spark.sql.SparkSession, String) => DataFrame,
      windowCol: String = "window"): Seq[String] = {
    val reportDir = new org.apache.hadoop.fs.Path(reportPath)
    val fs = reportDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(reportDir)) return Seq.empty
    val buckets = spark.read.parquet(reportPath)
      .select(org.apache.spark.sql.functions.col("bucket_start_s"))
      .distinct().collect().map(_.getLong(0)).sorted
    backfillWindows(spark, rawPath, streamId,
      buckets.toSeq.map(b => (s"s$b", source(b))), fetch, windowCol)
  }

  /** Small-file compaction — the operational pass every long-running
    * 100 TB lake needs: streaming micro-batches and per-task writers
    * leave thousands of KB-sized files whose per-file open/footer cost
    * dominates scans and whose listing breaks planning. Sizes the output
    * from the INPUT's real on-disk bytes (a driver-side metadata listing,
    * no data read): n = ⌈totalBytes / targetFileBytes⌉ writer tasks, so
    * output files land near the target regardless of row width. Returns
    * the output file count. Round-robin repartition keeps rows balanced
    * across writers without any key assumption.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, inPath: String,
      outPath: String, targetFileBytes: Long = 128L << 20): Int = {
    val hadoopPath = new org.apache.hadoop.fs.Path(inPath)
    val fs = hadoopPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(hadoopPath, true)
    var totalBytes = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) totalBytes += f.getLen
    }
    val n = math.max(1L, (totalBytes + targetFileBytes - 1) / targetFileBytes).toInt
    spark.read.parquet(inPath).repartition(n)
      .write.mode(SaveMode.Overwrite).parquet(outPath)
    n
  }

  /** Manifest-committed write — the transaction-log commit protocol
    * (Delta/Iceberg's core idea at its smallest): data files land first,
    * then a `_manifest` file naming exactly the committed part files is
    * published by an ATOMIC rename. A reader that goes through
    * [[graft.sources.Readers.readCommitted]] sees either the complete
    * new snapshot or none of it — never a torn write — and stragglers
    * from a failed/concurrent job (present on disk, absent from the
    * manifest) are invisible. Appends re-list + re-publish the manifest;
    * the data files themselves are immutable once named.
    */
  def writeWithManifest(df: DataFrame, path: String): Int = {
    val spark = df.sparkSession
    // write + manifest into a STAGING dir, then the two-rename swap: the
    // prior committed snapshot survives a crash at any point before the
    // swap (Overwrite-in-place destroyed it before the new write was
    // durable), and the swap moves data and manifest together
    Snapshots.rewriteStore(path, df)(staging => publishManifest(spark, staging.toString))
  }

  /** (Re)publish `_manifest` from the parquet files currently in `path`
    * — temp-file + atomic rename, so readers never observe a partial
    * manifest. Returns the committed file count.
    */
  def publishManifest(spark: org.apache.spark.sql.SparkSession,
      path: String): Int = {
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val names = Snapshots.dataFiles(fs, dir)
    Snapshots.publishText(fs, new org.apache.hadoop.fs.Path(dir, Snapshots.Manifest),
      names, overwrite = true)
    names.size
  }

  /** Commit the directory's current parquet files as an immutable
    * numbered snapshot (`_manifest-v00001`, `-v00002`, …) — the Iceberg
    * snapshot concept at its core. Each snapshot names the complete file
    * set visible at commit time; data files are append-only and never
    * rewritten, so every older snapshot stays readable forever
    * ([[graft.sources.Readers.readSnapshot]] time travel) and the file-set
    * DIFF between two snapshots is an incremental changelog
    * ([[graft.sources.Readers.readChangesBetween]]). Returns the new
    * version number. Publication is a temp-file + atomic rename; the
    * "latest" snapshot needs no mutable pointer — it is simply the
    * highest version present, so concurrent readers never see a torn
    * update.
    */
  def commitSnapshot(spark: org.apache.spark.sql.SparkSession,
      path: String): Int = commitSnapshotHooked(spark, path, () => ())

  /** [[commitSnapshot]] with seams around the manifest publish, so a
    * spec can interleave a full compaction deterministically inside
    * either race window: `beforePublish` (between the version claim and
    * the publish — the residual lost-append race) and `afterPublish`
    * (between the publish and the shadowed-append visibility check —
    * the duplicate-repair race, where a compaction reads a head that
    * already contains this append).
    */
  private[graft] def commitSnapshotHooked(
      spark: org.apache.spark.sql.SparkSession,
      path: String, beforePublish: () => Unit,
      afterPublish: () => Unit = () => ()): Int = {
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // CAS commit: claim the version number by create-fails-if-exists on
    // its `_claim-v*` marker, then publish the manifest by plain atomic
    // rename (the destination cannot exist — only the claim holder may
    // create it). Two racing committers can no longer both publish
    // v_N+1 with the loser's manifest silently overwritten (the old
    // last-writer-wins): exactly one claim on a number succeeds; the
    // loser recomputes from the fresh history — which now includes (or
    // will include) the winner — and retries at the next number, so
    // both appends survive in the head.
    var attempts = 0
    while (true) {
      attempts += 1
      val physical = Snapshots.dataFiles(fs, dir)
      val versions = Snapshots.versions(fs, dir)
      // next snapshot = the latest snapshot's file set plus files never
      // named by ANY prior manifest. Listing the physical directory alone
      // would silently RESURRECT files a compaction superseded (they stay
      // on disk so older snapshots remain readable) — the union-of-history
      // filter makes append-after-compaction safe.
      // generation files from a compaction/replacement that crashed before
      // publishing its manifest look like "new appends" to the history
      // filter — committing them would duplicate every head row. A
      // generation file only legitimately enters history through its OWN
      // publish, so a gen-named file absent from the manifest union
      // is NEVER adopted as an append — checking "was its version ever
      // published" instead would mis-adopt orphans once a later append
      // commit reuses the crashed generation's version number.
      // (vacuumSnapshots reclaims such orphans once their version falls
      // behind the retention horizon.)
      def isGenNamed(n: String): Boolean = Snapshots.rewriteGenVersion(n).isDefined
      val names = versions.lastOption match {
        case None => physical.filterNot(isGenNamed)
        case Some(latest) =>
          val seenEver = versions.flatMap(v => Snapshots.files(fs, dir, v)).toSet
          (Snapshots.files(fs, dir, latest) ++
            physical.filterNot(seenEver).filterNot(isGenNamed)).sorted
      }
      // this commit's OWN contribution — what the post-publish
      // visibility check below must find in whatever head wins
      val newFiles: Set[String] = versions.lastOption match {
        case None => names.toSet
        case Some(latest) => names.toSet -- Snapshots.files(fs, dir, latest)
      }
      // allocate ABOVE every claim too: a crashed claimer's number is
      // burned (a gap in the version sequence), never spun on or reused
      val next = Snapshots.nextVersion(fs, dir)
      if (Snapshots.claimVersion(fs, dir, next)) {
        beforePublish()
        var v = Snapshots.publish(fs, dir, next, names)
        afterPublish()
        // Shadowed-append repair — the committer-side half of the
        // compaction CAS. compactSnapshot re-checks for racing claims
        // before publishing, but an append whose claim PREdates the
        // compaction (so it reads as a crashed leftover) and whose
        // publish POSTdates the re-check lands BELOW the compaction's
        // head: its manifest exists, yet the head doesn't name its
        // files — a silently lost append. The append is the only party
        // that knows its own files, so it closes the window: after
        // publishing, verify the CURRENT head contains this commit's
        // new files, and if not, republish them ON TOP of that head at
        // a fresh number. Every successful commitSnapshot therefore
        // returns only once its rows are reachable from the head (the
        // same guarantee an Iceberg fast-append retry provides). With a
        // plain concurrent append the check passes immediately — a
        // later appender adopts earlier physical files — so the repair
        // costs one manifest read on the happy path.
        var rounds = 0
        while (true) {
          val headNow = Snapshots.versions(fs, dir).lastOption.getOrElse(v)
          if (headNow == v) return v
          val headFiles = Snapshots.files(fs, dir, headNow).toSet
          if (newFiles.subsetOf(headFiles)) return v
          // the head dropped this commit's file NAMES — but a compaction
          // that rewrote a head CONTAINING them (its recorded base ≥ our
          // version, or any version our rows had reached) carries the
          // ROWS forward, and republishing the original part names on
          // top would DUPLICATE every appended row. Walk the published
          // chain tracking row reachability: literal names ⇒ present;
          // an append unions the prior head ⇒ inherits; a rewrite
          // inherits from its recorded base (base 0 = a replacement —
          // carries nothing). Only when the head provably lost the rows
          // does the repair republish.
          if (rowsReachable(fs, dir, v, headNow, newFiles)) return v
          rounds += 1
          if (rounds >= 50)
            throw new java.io.IOException(
              s"shadowed-append repair contention on $dir after $rounds rounds")
          val n2 = Snapshots.claimNext(fs, dir).getOrElse(
            throw new java.io.IOException(
              s"snapshot version allocation contention on $dir during repair"))
          v = Snapshots.publish(fs, dir, n2, (headFiles ++ newFiles).toSeq.sorted)
        }
      }
      if (attempts >= 50)
        throw new java.io.IOException(
          s"snapshot version allocation contention on $dir after $attempts attempts")
    }
    -1 // unreachable
  }

  /** Row-reachability walk for the shadowed-append repair: are the rows
    * this commit published under `ownVersion` (as `ownFiles`) still
    * reachable from `head`? Versions below ours cannot contain them;
    * ours does; above it, a manifest naming the files literally does, a
    * plain append inherits from the immediately-preceding published
    * version (append manifests union the prior head), and a rewrite
    * inherits from its RECORDED base ([[Snapshots.rewriteBases]] — a
    * missing entry for version 0 / an unpublished base reads as not
    * reachable). Cost: one version listing plus one manifest read per
    * published version in (ownVersion, head] — driver-side metadata,
    * bounded by history length, on a path only taken when the head has
    * already dropped our names.
    */
  private def rowsReachable(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path, ownVersion: Int, head: Int,
      ownFiles: Set[String]): Boolean = {
    val bases = Snapshots.rewriteBases(fs, dir)
    val chain = Snapshots.versions(fs, dir).filter(_ <= head)
    val present = scala.collection.mutable.Map[Int, Boolean]()
    chain.foreach { w =>
      present(w) =
        if (w < ownVersion) false
        else if (w == ownVersion) true
        else if (ownFiles.subsetOf(Snapshots.files(fs, dir, w).toSet)) true
        else bases.get(w) match {
          case Some(b) => present.getOrElse(b, false)
          case None =>
            chain.filter(_ < w).lastOption.exists(present.getOrElse(_, false))
        }
    }
    present.getOrElse(head, false)
  }

  /** Compaction commit: rewrite the LATEST snapshot's rows as a fresh
    * generation of `numFiles` files and commit a manifest naming ONLY
    * them. Old-generation files are not touched — every earlier
    * snapshot stays readable bit-for-bit — they are simply no longer
    * referenced by the new head, which is what later lets
    * [[vacuumSnapshots]] reclaim them. This is the OPTIMIZE/rewrite
    * half of the Iceberg/Delta maintenance pair (vacuum is the other).
    */
  def compactSnapshot(spark: org.apache.spark.sql.SparkSession,
      path: String, numFiles: Int = 1): Int =
    compactSnapshotHooked(spark, path, numFiles, () => ())

  /** [[compactSnapshot]] with a pre-publish seam so a spec can interleave
    * a racing append deterministically inside the rewrite window.
    */
  private[graft] def compactSnapshotHooked(
      spark: org.apache.spark.sql.SparkSession,
      path: String, numFiles: Int, beforePublish: () => Unit): Int = {
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val versions = Snapshots.versions(fs, dir)
    val latest = versions.lastOption.getOrElse(
      throw new java.io.FileNotFoundException(s"$path has no committed snapshot"))
    // snapshot the allocation state BEFORE claiming: any claim that
    // appears below `next` AFTER this point is a racing committer whose
    // manifest this compaction would not include (pre-existing lower
    // claims are crashed leftovers — vacuum's job — and must not wedge
    // compaction forever)
    val preAllocated = Snapshots.allocatedVersions(fs, dir).toSet
    // claim the version BEFORE the rewrite (commitSnapshot's CAS
    // discipline): a racing committer can no longer land on the same
    // number and have one manifest silently clobber the other
    val claimed = Snapshots.claimNext(fs, dir)
    require(claimed.isDefined, s"version allocation contention on $dir")
    val next = claimed.get
    val cur = Snapshots.files(fs, dir, latest)
      .map(n => new org.apache.hadoop.fs.Path(dir, n).toString)
    val names = Snapshots.stageGeneration(fs, dir,
        Snapshots.rewriteGen("compact", next), "compaction") { tmp =>
      spark.read.parquet(cur: _*).repartition(numFiles)
        .write.mode("overwrite").parquet(tmp.toString)
    }
    beforePublish()
    // pre-publish re-check (replaceSnapshot's discipline): this manifest
    // names ONLY the rewrite of `latest`'s rows, so publishing after a
    // racer committed (published head moved) or claimed a number between
    // `latest` and `next` (an in-flight append that will publish BELOW
    // this compaction) would silently drop that append from the head.
    // Abort instead: the generation files are unreferenced (vacuumable
    // garbage), the claim is released, and the caller retries against
    // the fresh head. Residual window — a committer that claimed below
    // `next` before preAllocated was read and publishes after this check
    // (indistinguishable from a crashed claim without liveness) — is
    // closed from the OTHER side: commitSnapshot's shadowed-append
    // repair re-checks head visibility after its own publish and
    // republishes its files on top of this compaction's head.
    val headNow = Snapshots.versions(fs, dir).lastOption
    val freshLowerClaims = Snapshots.allocatedVersions(fs, dir).toSet
      .diff(preAllocated).filter(v => v > latest && v < next)
    if (headNow != Some(latest) || freshLowerClaims.nonEmpty) {
      Snapshots.abandon(fs, dir, next, names)
      throw new java.io.IOException(
        s"compaction CAS failed for $path: rewrote v$latest but " +
          (if (headNow != Some(latest)) s"the head moved to v${headNow.getOrElse(0)}"
           else s"a racer claimed ${freshLowerClaims.toSeq.sorted.map(v => s"v$v").mkString(",")} below v$next"))
    }
    // record WHICH head this generation rewrote before publishing: the
    // shadowed-append repair needs it to tell a compaction that already
    // incorporated an append's rows (base ≥ the append's version —
    // republishing would DUPLICATE them) from one that rewrote an older
    // head (rows genuinely lost — republish). A crash between marker and
    // publish leaves a marker for an unpublished version: never
    // consulted (the repair walks published versions only; the claim
    // blocks number reuse) and reclaimed by vacuum with the claim.
    Snapshots.recordRewriteBase(fs, dir, next, latest)
    Snapshots.publish(fs, dir, next, names)
  }

  /** Snapshot REPLACEMENT: write `df` as a fresh file generation and
    * commit a manifest naming ONLY those files — the swap primitive a
    * full-refresh materialization or index REBUILD needs
    * ([[compactSnapshot]] is this specialized to re-writing the current
    * head's own rows). Earlier snapshots stay readable bit-for-bit;
    * superseded generations await [[vacuumSnapshots]]. Works on a
    * fresh/uncommitted directory too (publishes version 1), and
    * [[commitSnapshot]]'s union-of-history filter keeps post-swap
    * appends from resurrecting the replaced files.
    */
  def replaceSnapshot(spark: org.apache.spark.sql.SparkSession,
      path: String, df: DataFrame, numFiles: Int = 1,
      expectedVersion: Int = -1): Int =
    replaceSnapshotHooked(spark, path, df, numFiles, expectedVersion, -1,
      () => ())

  /** [[replaceSnapshot]] with the published head `df` was derived from
    * (`base`; -1 = the head at entry) and a pre-publish seam, so a spec
    * can land a racing commit inside the replacement window.
    */
  private[graft] def replaceSnapshotHooked(
      spark: org.apache.spark.sql.SparkSession, path: String, df: DataFrame,
      numFiles: Int, expectedVersion: Int, base: Int,
      beforePublish: () => Unit): Int = {
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(dir)
    val head0 =
      if (base >= 0) base else Snapshots.versions(fs, dir).lastOption.getOrElse(0)
    val next = Snapshots.nextVersion(fs, dir)
    // compare-and-swap contract: a replacement built against snapshot
    // vN names ONLY its own rows, so publishing after someone else
    // committed (or claimed) vN+1 would silently drop that commit from
    // the head — callers that trained/derived against a specific base
    // pass the number they expect to publish and get a pre-publish abort
    // instead
    if (expectedVersion >= 0 && next != expectedVersion)
      throw new java.io.IOException(
        s"snapshot CAS failed for $path: expected to publish v$expectedVersion, but v${next - 1} is already allocated")
    // exclusive claim on the number — a racer now aborts its CAS (or
    // allocates higher) instead of overwriting this manifest
    if (!Snapshots.claimVersion(fs, dir, next))
      throw new java.io.IOException(
        s"snapshot CAS failed for $path: v$next was claimed concurrently")
    val names = Snapshots.stageGeneration(fs, dir,
        Snapshots.rewriteGen("replace", next), "replacement") { tmp =>
      df.repartition(numFiles).write.mode("overwrite").parquet(tmp.toString)
    }
    beforePublish()
    // re-check right before the manifest publish: a racer that allocated
    // above this claim, or a claim below it (one that predates the
    // replacement when the caller's version skips it) that has since
    // published, would be dropped from the head. The generation files
    // are on disk but unreferenced, so an abort leaves only vacuumable
    // garbage (plus the released claim), never a wrong head
    if (expectedVersion >= 0) {
      val nowTop = Snapshots.allocatedVersions(fs, dir).lastOption.getOrElse(0)
      val headNow = Snapshots.versions(fs, dir).lastOption.getOrElse(0)
      if (nowTop != expectedVersion || headNow != head0) {
        Snapshots.abandon(fs, dir, next, names)
        throw new java.io.IOException(
          s"snapshot CAS failed for $path: expected to publish v$expectedVersion over v$head0, " +
            (if (headNow != head0) s"but v$headNow was published"
             else s"a racer allocated v$nowTop"))
      }
    }
    // base 0 = "carries nothing forward": a REPLACEMENT drops every
    // prior row by design, so a shadowed append must still republish on
    // top of it (unlike a compaction of a head that contained its rows)
    Snapshots.recordRewriteBase(fs, dir, next, 0)
    Snapshots.publish(fs, dir, next, names)
  }

  /** Pin a committed snapshot version under a NAME (the Iceberg tag/ref
    * concept): `_tag-<name>` holds the version number, readers resolve
    * it via [[graft.sources.Readers.readSnapshotTag]], and
    * [[vacuumSnapshots]] treats tagged versions as retained — the
    * "audited-training-run inputs stay readable" guarantee a retention
    * sweep must not break. Tags are IMMUTABLE: publication is
    * temp-write + rename onto a name that must not exist, so two racers
    * cannot silently disagree about what a tag means — retagging is an
    * explicit [[deleteTag]] + re-create. Returns the pinned version
    * (the head when `version` is not given).
    */
  def tagSnapshot(spark: org.apache.spark.sql.SparkSession, path: String,
      tag: String, version: Int = -1): Int =
    tagSnapshotHooked(spark, path, tag, version, () => ())

  /** [[tagSnapshot]] with a pre-publish seam so a spec can interleave a
    * racing vacuum deterministically between the published-set read and
    * the tag rename.
    */
  private[graft] def tagSnapshotHooked(
      spark: org.apache.spark.sql.SparkSession, path: String,
      tag: String, version: Int, beforePublish: () => Unit): Int = {
    Snapshots.requireToken(tag, s"tagSnapshot needs a plain-token tag name, got '$tag'")
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val published = Snapshots.versions(fs, dir)
    val v = if (version >= 0) version else published.lastOption.getOrElse(
      throw new java.io.FileNotFoundException(s"$path has no committed snapshot"))
    // only PUBLISHED versions are taggable: a tag on a claim (or a
    // vacuumed number) would be a dangling ref from birth
    if (!published.contains(v))
      throw new java.io.FileNotFoundException(
        s"$path has no committed snapshot v$v to tag")
    val dst = Snapshots.tagPath(dir, tag)
    // no-overwrite publish: fails when the tag exists (immutability) —
    // the same discipline as the manifests
    if (!Snapshots.publishText(fs, dst, Seq(v.toString), overwrite = false,
        beforeRename = beforePublish))
      throw new java.io.IOException(
        s"tag '$tag' already exists on $path (tags are immutable; deleteTag first)")
    // post-publish re-check against a concurrent vacuum: vacuum re-reads
    // the tag set right before its destructive phase, so a tag published
    // BEFORE that read is protected; a tag that lost the race (vacuum
    // deleted v's manifest between our published-set read and the rename
    // above) would dangle forever — retract it and fail loudly instead.
    // The two re-checks run in opposite orders (vacuum: tags then
    // manifest delete; here: tag publish then manifest check), so at
    // least one side always observes the other: the tag survives only if
    // the version does.
    if (!fs.exists(Snapshots.manifestPath(dir, v))) {
      fs.delete(dst, false)
      throw new java.io.IOException(
        s"tag '$tag' lost a race with vacuum on $path: v$v was reclaimed " +
          "before the tag published (tag retracted)")
    }
    v
  }

  /** Remove a tag (the version becomes vacuumable again once it also
    * falls outside `keepLast`). Returns whether the tag existed.
    */
  def deleteTag(spark: org.apache.spark.sql.SparkSession, path: String,
      tag: String): Boolean = {
    Snapshots.requireToken(tag, s"deleteTag needs a plain-token tag name, got '$tag'")
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(Snapshots.tagPath(dir, tag), false)
  }

  /** All tags on a snapshot directory: name → pinned version. */
  def listTags(spark: org.apache.spark.sql.SparkSession,
      path: String): Map[String, Int] = {
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Snapshots.tags(fs, dir)
  }

  /** Retention vacuum for a [[commitSnapshot]] directory: drop every
    * snapshot older than the newest `keepLast`, then delete the data
    * files those dropped snapshots referenced that no RETAINED snapshot
    * still references (on an append-only lake that is exactly the
    * rewritten/compacted generations). Returns the number of data files
    * deleted.
    *
    * Safety contract: only files provably committed-then-superseded are
    * touched — a file never named by any manifest (a straggler from a
    * failed or still-running job) is left alone, because the manifest
    * protocol already makes it invisible to readers and deleting it
    * could race an in-flight commit. Retained snapshots stay readable
    * bit-for-bit; vacuumed versions fail loudly on read (their manifest
    * is removed first, so a reader can never resolve a version whose
    * files are gone).
    */
  def vacuumSnapshots(spark: org.apache.spark.sql.SparkSession,
      path: String, keepLast: Int = 2): Int =
    vacuumSnapshotsHooked(spark, path, keepLast, () => ())

  /** [[vacuumSnapshots]] with a seam between the manifest deletes and
    * the late-tag re-read, so a spec can land a racing tag publication
    * deterministically inside the restore window.
    */
  private[graft] def vacuumSnapshotsHooked(
      spark: org.apache.spark.sql.SparkSession,
      path: String, keepLast: Int, afterManifestDelete: () => Unit): Int = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val versions = Snapshots.versions(fs, dir)
    if (versions.size <= keepLast) return 0
    // tagged versions are RETAINED regardless of age: a tag is exactly
    // the "this input set must stay readable" pin (audit trails,
    // training-run provenance), and a retention sweep that broke it
    // would be silent data loss behind a live ref. The tag set is
    // re-read immediately before the destructive phase below, so a tag
    // created during the (possibly long) planning reads still protects
    // its version.
    val tagged = Snapshots.tags(fs, dir).values.toSet
    val (droppedByAge, keptByAge) = versions.splitAt(versions.size - keepLast)
    // crashed-generation orphans: gen-named files NO manifest ever
    // referenced (their own publish never happened — commitSnapshot
    // refuses to adopt them, so nothing else cleans them). Only
    // generations at-or-below the retention horizon are touched: an
    // in-flight compaction always targets a version above the current
    // head, and if its version was meanwhile published by someone else
    // its own manifest rename will fail loudly — so these files can
    // never become referenced later. The horizon is the newest AGED-OUT
    // version (tag-protected or not): a tag pins a version's REFERENCED
    // files, never a crashed generation's garbage — so the orphan and
    // stale-claim sweeps must still run when every aged-out version
    // happens to be tagged ("run vacuum to reclaim stale claims" would
    // otherwise silently no-op on exactly such a table).
    val horizon = droppedByAge.last
    // destructive phase starts here — re-check tags NOW so a tag that
    // landed during planning is honored; the remaining window (a tag
    // publishing between this read and the manifest delete) is closed
    // from the other side by tagSnapshot's post-publish manifest
    // re-check, which turns the race into a loud tag-side failure.
    val taggedNow = tagged ++ Snapshots.tags(fs, dir).values.toSet
    val (protectedByTag, dropped) = droppedByAge.partition(taggedNow)
    // capture each dropped version's file list BEFORE deleting its
    // manifest: a tag that races past the re-read above is detected
    // after the manifest deletes (below) and the manifest is RESTORED
    // from this capture — data files are still untouched at that point
    val droppedManifests: Map[Int, Seq[String]] =
      dropped.map(v => v -> Snapshots.files(fs, dir, v)).toMap
    val referencedEver = (protectedByTag ++ keptByAge)
      .flatMap(v => Snapshots.files(fs, dir, v)).toSet ++
      droppedManifests.values.flatten
    val orphanGens = fs.listStatus(dir).iterator.map(_.getPath.getName)
      .filter(n => Snapshots.rewriteGenVersion(n).exists(_ <= horizon) &&
        !referencedEver.contains(n))
      .toSet
    // manifests first: once a version is unreadable its files are
    // unreachable, so a crash mid-vacuum leaves garbage, never a
    // readable snapshot with missing files
    dropped.foreach { v =>
      val m = Snapshots.manifestPath(dir, v)
      if (fs.exists(m) && !fs.delete(m, false))
        throw new java.io.IOException(s"vacuum: manifest delete failed for $m")
    }
    afterManifestDelete()
    // tag-race closure: re-read tags AFTER the manifest deletes. A tag
    // published before this read but after the pre-delete read gets its
    // version's manifest republished verbatim (files still on disk — the
    // version is fully restored and moves to the kept set). A tag
    // published after this read will itself observe the missing manifest
    // in tagSnapshot's post-publish re-check and retract loudly. Between
    // the two sides every interleaving ends with either (version kept,
    // tag live) or (version vacuumed, tagSnapshot threw) — a live tag
    // never dangles.
    val lateTagged = Snapshots.tags(fs, dir).values.toSet
    val (restored, droppedFinal) = dropped.partition(lateTagged)
    restored.foreach { v =>
      val m = Snapshots.manifestPath(dir, v)
      if (!Snapshots.publishText(fs, m, droppedManifests(v), overwrite = false))
        throw new java.io.IOException(s"vacuum: tag-race manifest restore failed for $m")
    }
    val keptFiles = (protectedByTag ++ restored ++ keptByAge)
      .flatMap(v => Snapshots.files(fs, dir, v)).toSet
    val deadFiles = droppedFinal.flatMap(v => droppedManifests(v))
      .toSet.diff(keptFiles)
    // stale allocation claims: at-or-below the horizon their committer
    // is long dead (live commits always allocate above the head), and a
    // claim whose manifest exists already served its purpose — reclaim
    // both marker classes
    val published = Snapshots.versions(fs, dir).toSet
    Snapshots.allocatedVersions(fs, dir)
      .filter(v => v <= horizon || published.contains(v))
      .foreach(v => fs.delete(Snapshots.claimPath(dir, v), false))
    // rewrite-provenance markers below the horizon: the repair walk only
    // consults versions above a LIVE commit's own (always > horizon), so
    // these served their purpose — reclaim them with the claims
    Snapshots.dropRewriteBases(fs, dir, horizon)
    // a swallowed data-file delete would report success while leaving a
    // file no manifest references — unreclaimable forever, and ready to
    // be resurrected as a "new append" by a later commit
    (deadFiles ++ orphanGens).foreach { n =>
      val f = new org.apache.hadoop.fs.Path(dir, n)
      if (fs.exists(f) && !fs.delete(f, false))
        throw new java.io.IOException(s"vacuum: data delete failed for $f")
    }
    deadFiles.size + orphanGens.size
  }

  /** Zone-map-committed write: parquet files land, then a `_stats`
    * sidecar publishes per-file min/max/null-count for the given long
    * columns (the Delta/Iceberg file-statistics idea, readable by
    * [[graft.sources.Readers.readSkipping]] to prune files a range
    * predicate can't touch). Pair with `repartitionByRange`/
    * [[writeZOrdered]] layouts so file ranges are actually disjoint —
    * stats over randomly-placed rows prune nothing.
    *
    * The stats derive from ONE distributed read-back pass melted across
    * all columns; only the files×cols stat rows reach the driver
    * (manifest-sized — the same bound every table format accepts).
    * Publication is temp-file + atomic rename: readers see the complete
    * sidecar or none.
    */
  def writeWithStats(df: DataFrame, path: String, statsCols: Seq[String]): Int = {
    import org.apache.spark.sql.functions._
    val spark = df.sparkSession
    df.write.mode(SaveMode.Overwrite).parquet(path)
    val stats = spark.read.parquet(path)
      .select(input_file_name().as("f"), explode(array(statsCols.map(c =>
        struct(lit(c).as("c"), col(c).cast("long").as("v"))): _*)).as("e"))
      .groupBy(col("f"), col("e.c").as("c"))
      .agg(min(col("e.v")).as("mn"), max(col("e.v")).as("mx"),
        sum(when(col("e.v").isNull, 1L).otherwise(0L)).as("nulls"))
      .collect()
    val lines = stats.map { r =>
      val base = r.getString(0).split('/').last
      val mn = if (r.isNullAt(2)) "" else r.getLong(2).toString
      val mx = if (r.isNullAt(3)) "" else r.getLong(3).toString
      s"$base\t${r.getString(1)}\t$mn\t$mx\t${r.getLong(4)}"
    }.sorted
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Snapshots.publishText(fs, new org.apache.hadoop.fs.Path(dir, Snapshots.Stats),
      lines, overwrite = true)
    lines.length
  }

  /** JDBC serving-warehouse load — the reference's Redshift load step
    * (lambda_transform_airbnb.py / nyc_hybrid_etl_pipeline.py push star
    * tables over one psycopg2 cursor). Spark's JDBC writer streams one
    * batched INSERT pipeline PER PARTITION — writers parallelize with
    * the data, `batchSize` rows per round trip.
    */
  def writeJdbc(df: DataFrame, url: String, table: String,
      mode: SaveMode = SaveMode.Append, batchSize: Int = 1000,
      props: Map[String, String] = Map.empty): Unit =
    df.write.format("jdbc")
      .option("url", url).option("dbtable", table)
      .option("batchsize", batchSize.toString)
      .options(props).mode(mode).save()

  /** Idempotent JDBC upsert keyed on `keyCols` — re-running the same
    * load converges to the same table state, the property a serving-
    * layer loader needs under retries (the portable analog of a
    * warehouse MERGE). Each executor partition opens ONE connection and
    * streams batched UPDATE-then-INSERT rounds: the batch's UPDATEs run
    * first, rows whose update matched nothing are INSERTed, one commit
    * per round. Nothing is ever collected to the driver, and the input
    * is repartitioned BY KEY first so no two partitions can race on the
    * same key. Input must carry one row per key (dedupe upstream).
    */
  def writeJdbcUpsert(df: DataFrame, url: String, table: String,
      keyCols: Seq[String], batchSize: Int = 500,
      props: Map[String, String] = Map.empty): Unit = {
    requireSqlIdent(table, "table", qualified = true)
    val cols = df.columns.toSeq
    // table and column names are interpolated into the statement text
    // (JDBC cannot bind identifiers) — validate them the way streamId is
    // regex-validated, so a name with spaces/quotes/reserved characters
    // fails loudly instead of breaking or injecting
    cols.foreach(requireSqlIdent(_, "column"))
    require(keyCols.nonEmpty && keyCols.forall(cols.contains),
      s"key columns $keyCols must all be in ${cols.mkString(",")}")
    val valCols = cols.filterNot(keyCols.contains)
    // all-key tables probe existence via a no-op self-assignment
    val setCols = if (valCols.isEmpty) Seq(keyCols.head) else valCols
    val updateSql = s"UPDATE $table SET " +
      setCols.map(c => s"$c = ?").mkString(", ") +
      " WHERE " + keyCols.map(c => s"$c = ?").mkString(" AND ")
    val insertSql = s"INSERT INTO $table (${cols.mkString(", ")}) VALUES (" +
      cols.map(_ => "?").mkString(", ") + ")"
    val updOrder = setCols ++ keyCols
    val sqlTypes: Map[String, Int] = {
      import org.apache.spark.sql.types._
      df.schema.fields.map(f => f.name -> (f.dataType match {
        case LongType => java.sql.Types.BIGINT
        case IntegerType => java.sql.Types.INTEGER
        case ShortType => java.sql.Types.SMALLINT
        case DoubleType => java.sql.Types.DOUBLE
        case FloatType => java.sql.Types.REAL
        case BooleanType => java.sql.Types.BOOLEAN
        case DateType => java.sql.Types.DATE
        case _: TimestampType => java.sql.Types.TIMESTAMP
        case _: DecimalType => java.sql.Types.DECIMAL
        case BinaryType => java.sql.Types.VARBINARY
        case _ => java.sql.Types.VARCHAR
      })).toMap
    }
    val jprops = new java.util.Properties()
    props.foreach { case (k, v) => jprops.setProperty(k, v) }
    val driverClass = props.get("driver")
    df.repartition(keyCols.map(org.apache.spark.sql.functions.col): _*)
      .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
        if (rows.hasNext) {
          // executors load --jars-shipped JDBC drivers through Spark's
          // MutableURLClassLoader, which DriverManager's caller check
          // rejects — register through Spark's DriverRegistry (the same
          // wrapper its own JDBC source uses) when a driver is named
          driverClass.foreach(
            org.apache.spark.sql.execution.datasources.jdbc.DriverRegistry.register)
          val conn = java.sql.DriverManager.getConnection(url, jprops)
          try {
            conn.setAutoCommit(false)
            val upd = conn.prepareStatement(updateSql)
            try {
              val ins = conn.prepareStatement(insertSql)
              try {
                def bind(st: java.sql.PreparedStatement,
                    order: Seq[String], r: org.apache.spark.sql.Row): Unit =
                  order.zipWithIndex.foreach { case (c, i) =>
                    val v = r.getAs[Any](c)
                    if (v == null) st.setNull(i + 1, sqlTypes(c))
                    else st.setObject(i + 1, v)
                  }
                rows.grouped(batchSize).foreach { group =>
                  group.foreach { r => bind(upd, updOrder, r); upd.addBatch() }
                  val counts = upd.executeBatch()
                  // missed-UPDATE detection NEEDS per-element counts; a
                  // driver answering SUCCESS_NO_INFO (Oracle; MySQL with
                  // statement rewriting) would silently skip every INSERT —
                  // fail loudly instead of losing rows. Any other negative
                  // count (EXECUTE_FAILED from a driver that reports
                  // per-element failures without throwing) is an error,
                  // not a successful update.
                  counts.foreach {
                    case java.sql.Statement.SUCCESS_NO_INFO =>
                      throw new java.sql.SQLFeatureNotSupportedException(
                        "writeJdbcUpsert requires a JDBC driver that reports " +
                          "per-element batch update counts (got SUCCESS_NO_INFO)")
                    case n if n < 0 =>
                      throw new java.sql.SQLException(
                        s"writeJdbcUpsert: batched UPDATE reported failure count $n")
                    case _ => ()
                  }
                  val misses = group.iterator.zip(counts.iterator)
                    .collect { case (r, 0) => r }.toSeq
                  misses.foreach { r => bind(ins, cols, r); ins.addBatch() }
                  if (misses.nonEmpty) ins.executeBatch()
                  conn.commit()
                }
              } finally ins.close()
            } finally upd.close()
          } finally conn.close()
        }
      }
  }

  /** Identifiers (table/column names) cannot be bound as JDBC
    * parameters — they end up interpolated into statement text, so they
    * get the same regex discipline streamId does: plain SQL identifiers
    * only (optionally one schema qualifier for tables). Anything else —
    * spaces, quotes, semicolons, reserved punctuation — is rejected
    * before any SQL is built.
    */
  private def requireSqlIdent(name: String, what: String,
      qualified: Boolean = false): Unit = {
    val ident = "[A-Za-z_][A-Za-z0-9_]*"
    val pat = if (qualified) s"$ident(\\.$ident)?" else ident
    require(name != null && name.matches(pat),
      s"$what must be a plain SQL identifier" +
        (if (qualified) " (optionally schema-qualified)" else "") +
        s", got '$name'")
  }

  private def jdbcConn(url: String,
      props: Map[String, String]): java.sql.Connection = {
    props.get("driver").foreach(
      org.apache.spark.sql.execution.datasources.jdbc.DriverRegistry.register)
    val jprops = new java.util.Properties()
    props.foreach { case (k, v) => jprops.setProperty(k, v) }
    java.sql.DriverManager.getConnection(url, jprops)
  }

  /** Create the `<table>_commits` marker table if absent. The marker
    * lives in the SAME database as the data — a lake-side marker can
    * never make a DB write exactly-once (restoring either store from
    * backup desyncs the other); keeping both in one database keeps
    * them on one recovery timeline. The (stream_id, batch_id) primary
    * key makes a double-mark loud, never silent.
    */
  private def ensureJdbcCommitTable(conn: java.sql.Connection,
      marker: String): Unit = {
    val st = conn.createStatement()
    try st.execute(s"CREATE TABLE $marker (stream_id VARCHAR(128) NOT NULL, " +
      "batch_id BIGINT NOT NULL, PRIMARY KEY (stream_id, batch_id))")
    catch {
      // Derby X0Y32 / Postgres 42P07 / generic "already exists": the
      // table is there, which is all this needs
      case e: java.sql.SQLException
          if e.getSQLState == "X0Y32" || e.getSQLState == "42P07" ||
            (e.getMessage != null &&
              e.getMessage.toLowerCase.contains("already exists")) => ()
    }
    finally st.close()
  }

  /** Highest batch id the `<table>_commits` marker table records for
    * `streamId` (None before the stream's first marked batch). Creates
    * the marker table on first contact.
    */
  def jdbcLastCommitted(url: String, table: String, streamId: String,
      props: Map[String, String] = Map.empty): Option[Long] = {
    requireSqlIdent(table, "table", qualified = true)
    val conn = jdbcConn(url, props)
    try {
      ensureJdbcCommitTable(conn, s"${table}_commits")
      val ps = conn.prepareStatement(
        s"SELECT MAX(batch_id) FROM ${table}_commits WHERE stream_id = ?")
      try {
        ps.setString(1, streamId)
        val rs = ps.executeQuery()
        try {
          rs.next()
          val v = rs.getLong(1)
          if (rs.wasNull()) None else Some(v)
        } finally rs.close()
      } finally ps.close()
    } finally conn.close()
  }

  /** Record `batchId` as applied for `streamId` in `<table>_commits` —
    * one transaction in the data's own database ([[ensureJdbcCommitTable]]
    * explains why the marker must live there).
    */
  def jdbcMarkCommitted(url: String, table: String, streamId: String,
      batchId: Long, props: Map[String, String] = Map.empty): Unit = {
    requireSqlIdent(table, "table", qualified = true)
    val conn = jdbcConn(url, props)
    try {
      ensureJdbcCommitTable(conn, s"${table}_commits")
      conn.setAutoCommit(false)
      val ps = conn.prepareStatement(
        s"INSERT INTO ${table}_commits (stream_id, batch_id) VALUES (?, ?)")
      try { ps.setString(1, streamId); ps.setLong(2, batchId); ps.executeUpdate() }
      finally ps.close()
      conn.commit()
    } finally conn.close()
  }
}
