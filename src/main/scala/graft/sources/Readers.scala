package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{StringType, StructType}

/** Source-side ingestion, Spark-first: the reference shuttles data through
  * per-row Python (Mongo cursor → json.dumps → S3, pandas read_csv →
  * to_json — `/root/reference/src/Extract/mongo_to_s3.py`,
  * `/root/reference/src/Airbnb/airbnb_read.py`); here every format goes
  * through Spark's distributed readers so ingestion scales with the file
  * splits.
  */
object Readers {

  /** CSV with header + explicit schema (inferSchema double-scans at 100 TB
    * — always pass the schema when it's known).
    */
  def csv(spark: SparkSession, path: String, schema: Option[StructType] = None): DataFrame = {
    val base = spark.read.option("header", "true")
    schema.fold(base.option("inferSchema", "true"))(base.schema).csv(path)
  }

  /** JSON-lines (or multiLine for API-dump arrays, the reference's raw
    * layer shape — glue_job_clean_311.py:96-98 falls back csv→json; we
    * key off the explicit format instead of try/except).
    */
  def json(spark: SparkSession, path: String, multiLine: Boolean = false,
      schema: Option[StructType] = None): DataFrame = {
    val base = spark.read.option("multiLine", multiLine.toString)
    schema.fold(base)(base.schema).json(path)
  }

  /** Add any missing expected columns as typed nulls — the reference's
    * defensive pattern for drifting raw feeds (glue_job_clean_311.py:
    * 100-111). Cheap: pure projection, no data pass.
    */
  def ensureColumns(df: DataFrame, expected: Seq[String]): DataFrame =
    expected.foldLeft(df) { (d, c) =>
      if (d.columns.contains(c)) d
      else d.withColumn(c, lit(null).cast(StringType))
    }

  /** Project to exactly the expected columns (ensure + order + prune). */
  def conform(df: DataFrame, expected: Seq[String]): DataFrame =
    ensureColumns(df, expected).select(expected.map(col): _*)

  /** REST/HTTP JSON-array extract — the reference's actual ingestion
    * front door (`/root/reference/src/311 /nyc_ingestion_dag.py:35-62`:
    * a Socrata GET per year window, the whole array buffered through one
    * requests.get on the scheduler box). Spark-native shape: the fetch
    * runs ON EXECUTORS (one task per page), the body lands as a string
    * column, and the array→rows normalization is `from_json` + `explode`
    * — codegen'd Catalyst parsing, not driver-side json.loads.
    *
    * Pagination: `pageSize = None` issues ONE GET of `url` (the
    * reference's `$limit=5000000` slurp, minus the driver bottleneck).
    * With `pageSize = Some(n)` the fetch walks limit/offset pages in
    * BLOCKS of `parallelPages` concurrent tasks and stops at the first
    * block containing a short page — unknown-length feeds parallelize
    * without a count endpoint, and per-task memory is one page, never
    * the whole window. Empty-object page counting keys off parsed
    * ROWS, so a trailing `[]` page terminates cleanly.
    *
    * Short-page termination is only sound when short really means
    * end-of-feed, so two failure shapes abort LOUDLY instead of
    * silently truncating the window: (a) a 200-status body that is
    * non-blank but does not parse as a JSON array (a JSON error
    * object, an HTML error page — `from_json` yields null, which would
    * otherwise read as an empty page); (b) a short page FOLLOWED by a
    * non-empty page in offset order — the signature of a server that
    * caps the limit below `pageSize` (e.g. Socrata's 50k cap): the
    * offset walk assumes full pages, so rows between the cap and the
    * next offset were never fetched. The per-block page census is a
    * ≤ `parallelPages`-row collect, bounded by construction.
    *
    * Scale: a 100 TB backfill is many windows × many pages; every page
    * is an independent task, so throughput scales with executors until
    * the remote rate limit, which is the correct bottleneck to hit.
    */
  def httpFetchJson(spark: SparkSession, url: String, schema: StructType,
      pageSize: Option[Int] = None, parallelPages: Int = 8,
      headers: Map[String, String] = Map.empty,
      limitParam: String = "$limit", offsetParam: String = "$offset",
      connectTimeoutMs: Int = 10000, readTimeoutMs: Int = 120000): DataFrame = {
    import org.apache.spark.sql.functions._
    require(pageSize.forall(_ > 0) && parallelPages > 0)
    val sess = spark
    import sess.implicits._
    def fetchBodies(urls: Seq[String]): DataFrame =
      spark.createDataset(urls).repartition(urls.size)
        .map(u => HttpFetch.get(u, headers, connectTimeoutMs, readTimeoutMs))
        .toDF("body")
    def normalize(bodies: DataFrame): DataFrame = bodies
      .select(explode(from_json(col("body"),
        org.apache.spark.sql.types.ArrayType(schema))).as("r"))
      .select(col("r.*"))
    pageSize match {
      // the body pins once (eager checkpoint): a consumer running
      // several jobs over the result must not re-GET a feed that may
      // have drifted between them (same discipline as httpFetchCsv);
      // not a Memo pin: callers hold a feed past pass ends; GC frees it
      case None => normalize(fetchBodies(Seq(url)).localCheckpoint(true))
      case Some(n) =>
        val sep = if (url.contains("?")) "&" else "?"
        def pageUrl(offset: Long) =
          s"$url$sep${enc(limitParam)}=$n&${enc(offsetParam)}=$offset"
        var block = 0L
        var done = false
        val blocks = scala.collection.mutable.ArrayBuffer[DataFrame]()
        try {
          while (!done) {
            val offsets = (0 until parallelPages)
              .map(i => (block * parallelPages + i) * n.toLong)
            val parsed = spark.createDataset(offsets.map(o => (o, pageUrl(o))))
              .repartition(offsets.size)
              .map { case (o, u) =>
                (o, HttpFetch.get(u, headers, connectTimeoutMs, readTimeoutMs))
              }
              .toDF("off", "body")
              .select(col("off"),
                from_json(col("body"),
                  org.apache.spark.sql.types.ArrayType(schema)).as("arr"),
                // from_json wraps a bare JSON OBJECT as a 1-element array
                // (so an error body would pass a null check and land as
                // one garbage row) — a real array body starts with '['
                (length(trim(col("body"))) > 0 &&
                  (col("arr").isNull ||
                    substring(ltrim(col("body")), 1, 1) =!= lit("[")))
                  .as("bad"))
              // lazy persist is SAFE here (audited round 14, no
              // racing-scan pathology): the census collect() below is a
              // serial action that populates the cache before the final
              // union consumes the page — and re-fetching the HTTP page
              // on recompute would be a correctness bug, which the
              // immediate collect also prevents. Call-scoped, not a Memo
              // pin: the finally below frees every page
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            blocks += parsed
            // per-page census: ≤ parallelPages rows, bounded collect
            val census = parsed
              .select(col("off"),
                when(col("arr").isNull, lit(0))
                  .otherwise(size(col("arr"))).as("nrows"),
                col("bad"))
              .collect()
              .map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2)))
              .sortBy(_._1)
            census.find(_._3).foreach { case (off, _, _) =>
              throw new java.io.IOException(
                s"httpFetchJson: page at offset $off returned a non-blank " +
                  "body that does not parse as a JSON array (error object / " +
                  "HTML page?) — refusing to read it as end-of-feed")
            }
            val counts = census.map { case (off, nr, _) => (off, nr) }
            // a short page followed by a NON-EMPTY page means the server
            // capped the limit below pageSize: the offset walk skipped
            // rows between the cap and the next offset
            counts.zipWithIndex.find { case ((_, c), i) =>
              c < n && counts.drop(i + 1).exists(_._2 > 0)
            }.foreach { case ((off, c), _) => throw new java.io.IOException(
              s"httpFetchJson: page at offset $off returned $c < $n rows " +
                "but a later page was non-empty — the server caps " +
                s"$limitParam below pageSize $n; lower pageSize to the " +
                "server's effective cap")
            }
            val got = counts.map(_._2.toLong).sum
            // a block that parses fewer rows than it asked for contains
            // the feed's end; a full block may too (exact multiple), but
            // the next block then fetches all-empty pages once and stops
            done = got < n.toLong * parallelPages
            block += 1
          }
          // not a Memo pin: callers hold a feed past pass ends; GC frees it
          blocks.map(_.filter(col("arr").isNotNull)
              .select(explode(col("arr")).as("r")).select(col("r.*")))
            .reduce(_ unionByName _).localCheckpoint(true)
        } finally blocks.foreach(_.unpersist(blocking = false))
    }
  }

  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")

  /** CSV-over-HTTP extract — the reference's OTHER ingestion front door
    * (`nyc_ingestion_dag.py:66-100`: monthly Airbnb listings CSVs pulled
    * with requests.get and pandas-combined on the scheduler box). The
    * Spark shape: the executor fetches the body, splits it to a line
    * Dataset, and Spark's own distributed CSV reader parses it — header
    * handling, quoting, and schema enforcement come from the same code
    * path as file-based CSV, not a hand parser. One URL is one fetch
    * task; parallelism comes from fetching many windows concurrently
    * via [[graft.sources.Sinks.backfillWindows]].
    */
  def httpFetchCsv(spark: SparkSession, url: String,
      schema: Option[StructType] = None, header: Boolean = true,
      headers: Map[String, String] = Map.empty,
      connectTimeoutMs: Int = 10000, readTimeoutMs: Int = 120000): DataFrame = {
    val sess = spark
    import sess.implicits._
    // pin the fetched lines ONCE (eager checkpoint): the CSV reader's
    // header probe and the scan are separate jobs, and schema inference
    // adds another — an unpinned lineage would hit the remote endpoint
    // per job, paying latency and risking a feed that drifted between
    // reads. Not a Memo pin: callers hold a feed past pass ends; GC
    // frees it
    val lines = spark.createDataset(Seq(url))
      // content-appropriate Accept: a Socrata-style endpoint picks its
      // serialization off this header, and asking a CSV path for JSON
      // can 406 or hand back the wrong format
      .map(u => HttpFetch.get(u, headers, connectTimeoutMs, readTimeoutMs,
        accept = "text/csv, text/plain;q=0.9, */*;q=0.1"))
      .flatMap(_.split("\r?\n"))
      .filter(_.nonEmpty)
      .localCheckpoint(true)
    val base = spark.read.option("header", header.toString)
    schema.fold(base.option("inferSchema", "true"))(base.schema).csv(lines)
  }

  /** ORC lake read — same columnar pushdown/pruning contract as parquet
    * (`spark.sql.orc.filterPushdown` is on by default in Spark 4), for
    * warehouses whose upstream (Hive-era jobs) lands ORC instead.
    */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Document-DB raw-dump ingestion — the reference's Mongo extract
    * (`mongo_to_s3.py:14-36`) lands a whole collection as ONE JSON
    * array on the raw layer, ObjectId/datetime stringified through a
    * driver-side cursor. The Spark-native read of that landing shape:
    * multiLine JSON-array parse (distributed across dump files), Mongo
    * Extended-JSON normalization (`{"$oid": …}` → the id string,
    * `{"$date": …}` → timestamp), one level of nested-document
    * flattening (`addr.city` → `addr_city` — document stores nest,
    * warehouses don't), then optional [[conform]] to the expected
    * contract columns.
    */
  def documentDump(spark: SparkSession, path: String,
      expected: Seq[String] = Seq.empty): DataFrame = {
    import org.apache.spark.sql.types._
    val raw = spark.read.option("multiLine", "true").json(path)
    // Extended-JSON wrapper → scalar, applied at both nesting levels.
    // $date arrives in three mongoexport shapes: relaxed ISO string
    // (cast), legacy epoch-MILLIS number (timestamp_millis — a plain
    // timestamp cast would read it as SECONDS, ~1000× in the future),
    // and canonical {"$numberLong": "..."} (unwrap, then millis).
    def dateCol(c: org.apache.spark.sql.Column,
        dt: DataType): org.apache.spark.sql.Column = dt match {
      case LongType | DoubleType =>
        org.apache.spark.sql.functions.timestamp_millis(c.cast("long"))
      case s: StructType if s.fieldNames.sameElements(Array("$numberLong")) =>
        org.apache.spark.sql.functions.timestamp_millis(
          c.getField("$numberLong").cast("long"))
      case StringType =>
        // a digit string is still epoch millis (mixed-shape dumps infer
        // the column as STRING); ANSI cast evaluates branch-locally
        org.apache.spark.sql.functions.when(c.rlike("^-?\\d+$"),
          org.apache.spark.sql.functions.timestamp_millis(c.cast("long")))
          .otherwise(c.cast("timestamp"))
      case _ => c.cast("timestamp")
    }
    def normalize(c: org.apache.spark.sql.Column, dt: DataType)
        : Option[org.apache.spark.sql.Column] = dt match {
      case s: StructType if s.fieldNames.sameElements(Array("$oid")) =>
        Some(c.getField("$oid"))
      case s: StructType if s.fieldNames.sameElements(Array("$date")) =>
        Some(dateCol(c.getField("$date"), s.fields(0).dataType))
      case _ => None
    }
    // ONE derivation of (output name, column): the collision check and
    // the projection read the same list, so they cannot desynchronize
    val named: Seq[(String, org.apache.spark.sql.Column)] =
      raw.schema.fields.toSeq.flatMap { f =>
        val base = col(s"`${f.name}`")
        normalize(base, f.dataType).map(f.name -> _).map(Seq(_)).getOrElse(
          f.dataType match {
            case s: StructType =>
              s.fields.toSeq.map { child =>
                val c = base.getField(child.name)
                s"${f.name}_${child.name}" ->
                  normalize(c, child.dataType).getOrElse(c)
              }
            case _ => Seq(f.name -> base)
          })
      }
    // a flattened `a.b` colliding with an existing top-level `a_b` would
    // produce two same-named columns — every later reference ambiguous;
    // fail loudly with the offenders named
    val dupNames = named.map(_._1).groupBy(identity)
      .collect { case (n, g) if g.length > 1 => n }
    require(dupNames.isEmpty,
      s"documentDump flattening collides on column name(s) ${dupNames.mkString(", ")} — rename in the source or project explicitly")
    val df = raw.select(named.map { case (n, c) => c.as(n) }: _*)
    if (expected.isEmpty) df else conform(df, expected)
  }

  /** JDBC warehouse read — the reference pulls its star tables back out
    * of Redshift over a psycopg2 cursor on one machine
    * (nyc_hybrid_etl_pipeline.py:1-60); Spark's JDBC source keeps the
    * same SQL surface but pushes filters and column pruning INTO the
    * database (`.filter`/`.select` compile into the generated query's
    * WHERE/SELECT — PushedFilters shows in the plan), so the wire
    * carries only what the query needs.
    */
  def jdbc(spark: SparkSession, url: String, table: String,
      props: Map[String, String] = Map.empty): DataFrame =
    spark.read.format("jdbc")
      .option("url", url).option("dbtable", table)
      .options(props).load()

  /** Range-partitioned parallel JDBC read: `numPartitions` concurrent
    * connections each scan one `partitionColumn` stripe — the only way
    * a JDBC extract scales past one cursor. Bounds only steer the
    * stripe split (rows outside still arrive, in the edge stripes);
    * pick them from the table's own MIN/MAX for even stripes.
    */
  def jdbcPartitioned(spark: SparkSession, url: String, table: String,
      partitionColumn: String, lowerBound: Long, upperBound: Long,
      numPartitions: Int, props: Map[String, String] = Map.empty): DataFrame =
    spark.read.format("jdbc")
      .option("url", url).option("dbtable", table)
      .option("partitionColumn", partitionColumn)
      .option("lowerBound", lowerBound)
      .option("upperBound", upperBound)
      .option("numPartitions", numPartitions)
      .options(props).load()

  /** Raw media ingestion for the multimodal pipeline: each file becomes
    * one row (path, modificationTime, length, content BINARY) via
    * Spark's distributed binaryFile source — the bytes land directly in
    * the opaque-binary column shape [[graft.operators.MultimodalOps]]
    * processes, with `pathGlobFilter` narrowing to one media type per
    * scan. The scan parallelizes over files; `maxPartitionBytes` keeps
    * per-task memory bounded however large the files.
    */
  def binaryFiles(spark: SparkSession, path: String,
      glob: Option[String] = None): DataFrame = {
    val base = spark.read.format("binaryFile")
    glob.fold(base)(g => base.option("pathGlobFilter", g)).load(path)
  }

  /** Read a parquet lake path whose files were written under EVOLVING
    * schemas (columns added over time — the normal state of a
    * long-running ingest): `mergeSchema` unions all file footers' fields
    * (absent columns read as null), then `conform` pins the caller's
    * expected projection so downstream plans never shift when yet
    * another column lands. mergeSchema costs a footer pass per file at
    * planning time — pair with [[Sinks.compact]] so the footer count
    * stays proportional to data, not to write history.
    */
  def parquetEvolved(spark: SparkSession, path: String,
      expected: Seq[String]): DataFrame =
    conform(spark.read.option("mergeSchema", "true").parquet(path), expected)

  /** Read ONLY the files named by the directory's `_manifest` (written by
    * [[Sinks.writeWithManifest]]) — the read side of the commit
    * protocol: stragglers from failed or in-flight jobs sit on disk but
    * are invisible, so every scan is a consistent snapshot. Throws if no
    * manifest has ever been published (an uncommitted directory is not
    * silently readable). The manifest is one small driver-side read; the
    * data scan stays fully distributed over the listed files.
    */
  def readCommitted(spark: SparkSession, path: String): DataFrame = {
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val manifest = new org.apache.hadoop.fs.Path(dir, Snapshots.Manifest)
    if (!fs.exists(manifest))
      throw new java.io.FileNotFoundException(
        s"$path has no ${Snapshots.Manifest} — not a committed dataset")
    val files = Snapshots.lines(fs, manifest)
      .map(n => new org.apache.hadoop.fs.Path(dir, n).toString)
    spark.read.parquet(files: _*)
  }

  /** Time-travel read of a [[Sinks.commitSnapshot]] directory: the file
    * set of `version` (default: the latest committed). Older snapshots
    * stay readable after later commits because data files are immutable
    * — `readSnapshot(spark, path, Some(1))` reproduces the first commit
    * bit-for-bit forever.
    */
  def readSnapshot(spark: SparkSession, path: String,
      version: Option[Int] = None): DataFrame = {
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = version.orElse(Snapshots.versions(fs, dir).lastOption)
      .getOrElse(throw new java.io.FileNotFoundException(
        s"$path has no committed snapshot"))
    val files = Snapshots.files(fs, dir, v)
      .map(n => new org.apache.hadoop.fs.Path(dir, n).toString)
    spark.read.parquet(files: _*)
  }

  /** Time travel by NAME: read the snapshot a tag pins
    * ([[graft.sources.Sinks.tagSnapshot]]) — the "read exactly what
    * training run X read" reproducibility call. Vacuum retains tagged
    * versions, so a live tag never dangles.
    */
  def readSnapshotTag(spark: SparkSession, path: String,
      tag: String): DataFrame = {
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = Snapshots.tags(fs, dir).getOrElse(tag,
      throw new java.io.FileNotFoundException(s"$path has no tag '$tag'"))
    readSnapshot(spark, path, Some(v))
  }

  /** [[readChangesBetween]] with tag endpoints: "everything ingested
    * between training run A and training run B" without bookkeeping
    * version numbers out of band.
    */
  def readChangesBetweenTags(spark: SparkSession, path: String,
      fromTag: String, toTag: String): DataFrame = {
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tags = Snapshots.tags(fs, dir)
    def resolve(t: String) = tags.getOrElse(t,
      throw new java.io.FileNotFoundException(s"$path has no tag '$t'"))
    readChangesBetween(spark, path, resolve(fromTag), resolve(toTag))
  }

  /** Incremental (CDC-style) read: the rows ADDED between two committed
    * snapshots — exactly the files named by `toVersion` but not by
    * `fromVersion`. On an append-only lake this is the per-interval
    * changelog consumers fold downstream; the scan is proportional to
    * the delta, never the table.
    */
  def readChangesBetween(spark: SparkSession, path: String,
      fromVersion: Int, toVersion: Int): DataFrame = {
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val before = Snapshots.files(fs, dir, fromVersion).toSet
    val added = Snapshots.files(fs, dir, toVersion).filterNot(before)
    if (added.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        readSnapshot(spark, path, Some(toVersion)).schema)
    else
      spark.read.parquet(
        added.map(n => new org.apache.hadoop.fs.Path(dir, n).toString): _*)
  }

  /** Files of a [[Sinks.writeWithStats]] directory whose `[min, max]`
    * zone for `column` intersects `[lo, hi]` — the data-skipping
    * decision, exposed so callers (and specs) can see exactly what a
    * range predicate prunes. Files with an all-NULL zone (empty min/max)
    * are conservatively kept. Returns (selected files, total files).
    */
  def statsPrunedFiles(spark: SparkSession, path: String, column: String,
      lo: Long, hi: Long): (Seq[String], Int) = {
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val statsPath = new org.apache.hadoop.fs.Path(dir, Snapshots.Stats)
    if (!fs.exists(statsPath))
      throw new java.io.FileNotFoundException(
        s"$path has no ${Snapshots.Stats} sidecar — not a stats-committed dataset")
    val rows = Snapshots.lines(fs, statsPath).map(_.split("\t", -1))
    val byFile = rows.filter(_(1) == column)
    // an EMPTY dataset commits a row-less sidecar: zero files selected —
    // readSkipping then returns its documented empty frame. But a column
    // the writer never profiled on a NON-empty dataset is a caller
    // contract error: silently selecting zero files would be silent
    // total data loss, so that still throws.
    require(rows.isEmpty || byFile.nonEmpty,
      s"${Snapshots.Stats} carries no zone for column $column")
    val keep = byFile.filter { a =>
      a(2).isEmpty || a(3).isEmpty ||
        !(a(3).toLong < lo || a(2).toLong > hi)
    }.map(_(0))
    (keep, byFile.size)
  }

  /** Zone-map data-skipping read: scan ONLY the files whose min/max
    * zone for `column` can contain `[lo, hi]`, then apply the exact
    * filter (zones prune, the predicate decides). With a range-clustered
    * layout this turns a selective range query from a full-table scan
    * into a few-file read — the manifest-level analog of parquet
    * row-group pruning, one level earlier. Returns an empty frame (with
    * the right schema) when every file is pruned.
    */
  def readSkipping(spark: SparkSession, path: String, column: String,
      lo: Long, hi: Long): DataFrame = {
    val (files, _) = statsPrunedFiles(spark, path, column, lo, hi)
    val dir = new org.apache.hadoop.fs.Path(path)
    val base =
      if (files.isEmpty) spark.read.parquet(path).limit(0)
      else spark.read.parquet(
        files.map(n => new org.apache.hadoop.fs.Path(dir, n).toString): _*)
    base.filter(col(column).cast("long") >= lo && col(column).cast("long") <= hi)
  }
}
