package graft.streaming

import graft.SparkSpec
import graft.operators.SimilarityOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The streamed ANN index lifecycle end-to-end: ingest batches encode
  * against the current model and fold into the snapshot head; a retrain
  * re-trains both model halves on the corpus, re-encodes, and swaps via
  * the snapshot-replacement commit; post-retrain batches encode in the
  * NEW geometry. Probes read committed snapshots only — stragglers are
  * invisible.
  */
class AnnLifecycleSpec extends SparkSpec {
  import spark.implicits._

  private val nQ = 10
  private val k = 3

  /** Exact squared-L2 top-k pairs — the shared ground-truth leg. */
  private def exactTopK(emb: DataFrame): Set[(Long, Long)] =
    SimilarityOps.exactL2TopK(emb, nQ, k)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def hits(searched: DataFrame, exact: Set[(Long, Long)]): Int =
    searched.select("query_id", "neighbor_id").collect()
      .count(r => exact((r.getLong(0), r.getLong(1))))

  test("ingest → retrain swap → ingest keeps the index consistent and improves recall") {
    implicit val sqlCtx = spark.sqlContext
    val store = java.nio.file.Files.createTempDirectory("graft_annlc")
      .toString + "/index"
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.01")
      .select("vec_id", "embedding", "label")
    val rows = emb.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1), r.getInt(2)))
    val exact = exactTopK(emb)

    // two ingest batches build the v1/v2 snapshots under the FIXED model
    val mem = MemoryStream[(Long, Seq[Float], Int)]
    val q = EventStreams.annIndexIngestStream(
        mem.toDF().toDF("vec_id", "embedding", "label"), store, "gen1")
      .option("checkpointLocation", store + "-ckpt").start()
    val (b1, b2) = rows.partition(_._1 < 250)
    mem.addData(b1.toSeq); q.processAllAvailable()
    mem.addData(b2.toSeq); q.processAllAvailable(); q.stop()

    val queries = emb.filter(col("vec_id") < nQ).select("vec_id", "embedding")
    val v2 = graft.sources.Readers.readSnapshot(spark, store)
    assert(v2.count() == rows.length)
    assert(EventStreams.readAnnModel(spark, store).isEmpty,
      "no model sidecar before the first retrain")
    // SERVE leg: the one-call probe over the committed store (fixed
    // geometry — no sidecar yet)
    val fixedHits = hits(
      EventStreams.annIndexSearch(spark, store, queries, k), exact)

    // the served stream index under the fixed model IS the fixed IVF-PQ
    // probe: row-for-row equal to the graded embed_ivfpq_ann path over
    // the same corpus — build→stream→serve answers match the batch ANN
    val streamedPairs = EventStreams.annIndexSearch(spark, store, queries, k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val directPairs = SimilarityOps.ivfPqAnn(emb, nQ, k)
      .select("query_id", "rank", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamedPairs == directPairs)

    // retrain-and-swap: new model sidecar + rebuilt snapshot head
    val v3 = EventStreams.annIndexRetrain(emb, store)
    val model = EventStreams.readAnnModel(spark, store)
    assert(model.isDefined, "retrain must publish the model sidecar")
    val head = graft.sources.Readers.readSnapshot(spark, store)
    assert(head.count() == rows.length, "swap must not duplicate rows")
    // serve now auto-pairs the TRAINED geometry with the rebuilt head
    val trainedHits = hits(
      EventStreams.annIndexSearch(spark, store, queries, k), exact)
    assert(trainedHits >= fixedHits,
      s"trained index must not lose recall ($trainedHits < $fixedHits)")
    assert(trainedHits > 0)
    // earlier snapshots stay readable (time travel across the swap)
    assert(graft.sources.Readers.readSnapshot(spark, store, Some(2))
      .count() == rows.length)
    // and a PINNED serve replays yesterday's probes bit-for-bit: the
    // pre-retrain snapshot pairs with the pre-retrain (fixed) geometry
    val pinnedPairs = EventStreams
      .annIndexSearch(spark, store, queries, k, version = Some(2))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pinnedPairs == streamedPairs,
      "version-pinned serve must reproduce the pre-retrain answers")

    // post-retrain ingest encodes in the NEW geometry and folds in
    val mem2 = MemoryStream[(Long, Seq[Float], Int)]
    val q2 = EventStreams.annIndexIngestStream(
        mem2.toDF().toDF("vec_id", "embedding", "label"), store, "gen2")
      .option("checkpointLocation", store + "-ckpt2").start()
    val fresh = rows.take(5).map { case (id, e, l) => (id + 10000L, e, l) }
    mem2.addData(fresh.toSeq); q2.processAllAvailable(); q2.stop()
    val v4 = graft.sources.Readers.readSnapshot(spark, store)
    assert(v4.count() == rows.length + 5)
    val expected = SimilarityOps.encodeSlim(
        fresh.toSeq.toDF("vec_id", "embedding", "label"), model.get)
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    v4.filter(col("vec_id") >= 10000L).collect().foreach { r =>
      assert(expected(r.getLong(0)) == r.toSeq.tail,
        "post-retrain batch must encode with the trained model")
    }

    // stragglers: an uncommitted file is invisible to snapshot reads
    val junk = fresh.toSeq.toDF("vec_id", "embedding", "label")
    SimilarityOps.encodeSlim(junk, model.get)
      .write.mode("append").parquet(store + "-junk")
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val junkPart = fs.listStatus(new org.apache.hadoop.fs.Path(store + "-junk"))
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    fs.rename(junkPart, new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(store), "straggler.parquet"))
    assert(graft.sources.Readers.readSnapshot(spark, store)
      .count() == rows.length + 5, "uncommitted files must stay invisible")
  }

  test("a crashed claim above the head does not block a retrain") {
    val store = java.nio.file.Files.createTempDirectory("graft_annclaim")
      .toString + "/index"
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select("vec_id", "embedding", "label")
    graft.sources.Sinks.appendSnapshotOnce(spark, store,
      SimilarityOps.encodeSlim(emb, SimilarityOps.FixedAnnModel), "c1", 0L)
    // a committer that claimed v2 and died before publishing
    assert(new java.io.File(store, "_claim-v00002").createNewFile())
    assert(EventStreams.annIndexRetrain(emb, store) == 3)
    val model = EventStreams.readAnnModel(spark, store)
    assert(model.isDefined, "the retrain's sidecar must pair with the v3 head")
    def coded(df: DataFrame) = df.collect().map(_.toSeq).toSet
    assert(coded(graft.sources.Readers.readSnapshot(spark, store)) ==
      coded(SimilarityOps.encodeSlim(emb, model.get)))
    assert(EventStreams.readAnnModel(spark, store, atVersion = Some(1)).isEmpty)
  }

  test("a live claim the retrain skipped aborts the swap when it publishes first") {
    import graft.sources.Snapshots
    val store = java.nio.file.Files.createTempDirectory("graft_annlive")
      .toString + "/index"
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select("vec_id", "embedding", "label")
    graft.sources.Sinks.appendSnapshotOnce(spark, store,
      SimilarityOps.encodeSlim(emb, SimilarityOps.FixedAnnModel), "c1", 0L)
    val dir = new org.apache.hadoop.fs.Path(store)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a committer that claimed v2 before the retrain and is still running:
    // the retrain allocates v3 over it, and the committer publishes v2
    // while the replacement is staged
    assert(Snapshots.claimVersion(fs, dir, 2))
    val ex = intercept[java.io.IOException] {
      EventStreams.annIndexRetrainHooked(emb, store, () => {
        Snapshots.publish(fs, dir, 2, Snapshots.files(fs, dir, 1))
        ()
      })
    }
    assert(ex.getMessage.contains("snapshot CAS failed"), ex.getMessage)
    assert(Snapshots.versions(fs, dir) == Seq(1, 2),
      "the committer's v2 must stay the head")
    assert(Snapshots.allocatedVersions(fs, dir) == Seq(1, 2),
      "the aborted swap must release its claim")
    assert(Snapshots.modelVersions(fs, dir).isEmpty,
      "the aborted swap must remove its sidecar")
    assert(EventStreams.readAnnModel(spark, store).isEmpty)
  }

  test("index maintenance: compaction keeps probes bit-identical, vacuum reclaims superseded generations") {
    // streaming cadence = the small-file problem by construction: each
    // micro-batch appends its own generation files, so the serving scan
    // pays per-file open/footer costs proportional to ingest HISTORY.
    // The maintenance pair fixes it: compactSnapshot rewrites the head
    // as one generation (answers must not move — same codes, same
    // model pairing), vacuumSnapshots then reclaims the superseded
    // ingest generations the head no longer references.
    implicit val sqlCtx = spark.sqlContext
    val store = java.nio.file.Files.createTempDirectory("graft_annmx")
      .toString + "/index"
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select("vec_id", "embedding", "label")
    val rows = emb.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1), r.getInt(2)))
    val mem = MemoryStream[(Long, Seq[Float], Int)]
    val q = EventStreams.annIndexIngestStream(
        mem.toDF().toDF("vec_id", "embedding", "label"), store, "m1")
      .option("checkpointLocation", store + "-ckpt").start()
    rows.grouped(math.max(1, rows.length / 5 + 1)).foreach { g =>
      mem.addData(g.toSeq); q.processAllAvailable()
    }
    q.stop()
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles() = fs.listStatus(new org.apache.hadoop.fs.Path(store))
      .map(_.getPath.getName)
      .filter(n => n.endsWith(".parquet") && !n.startsWith(".")).toSeq
    assert(dataFiles().count(_.startsWith("ingest-")) >= 5,
      "micro-batch ingest must have fragmented the store")
    val queries = emb.filter(col("vec_id") < nQ).select("vec_id", "embedding")
    def probe() = EventStreams.annIndexSearch(spark, store, queries, k)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val before = probe()
    assert(before.nonEmpty)
    // OPTIMIZE: one generation, identical answers
    val vC = graft.sources.Sinks.compactSnapshot(spark, store)
    assert(dataFiles().exists(_.startsWith(f"compact-v$vC%05d-")))
    assert(probe() == before, "compaction must not change probe answers")
    // VACUUM: superseded ingest generations reclaimed; the head (and
    // its answers) survive bit-for-bit
    graft.sources.Sinks.vacuumSnapshots(spark, store, keepLast = 1)
    val remaining = dataFiles()
    assert(!remaining.exists(_.startsWith("ingest-")),
      s"superseded ingest generations must be reclaimed: $remaining")
    assert(remaining.exists(_.startsWith(f"compact-v$vC%05d-")))
    assert(probe() == before, "vacuum must not change probe answers")
  }
}
