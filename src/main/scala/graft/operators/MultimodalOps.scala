package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (SURVEY §2.D): media as opaque binary
  * columns + typed metadata. The decode step is a deterministic STUB (no
  * image/audio codecs in this environment); everything that is pure
  * column work — byte length, checksum, the stub's arithmetic-derived
  * dimensions — runs as codegen'd expressions in one scan. The typed
  * `mapPartitions` path ([[decodeWithCodec]]) exists solely as the
  * slot-in point for a real codec, where per-partition iteration earns
  * its serialization cost by amortizing codec init across the batch.
  */
object MultimodalOps {

  /** Raw media record: payload is the opaque binary column. */
  case class MediaRecord(doc_id: Long, media_type: String, payload: Array[Byte])

  /** Extracted features; width/height/frames come from the stub decoder. */
  case class MediaFeatures(doc_id: Long, media_type: String, byte_len: Long,
      width: Int, height: Int, frames: Int, checksum: String)

  /** Documents → synthetic media records (utf-8 bytes as the opaque
    * binary payload + a deterministic media_type).
    */
  def mediaRecords(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      element_at(
        array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3 + 1).cast("int")).as("media_type"),
      encode(col("text"), "UTF-8").as("payload"))

  /** Media metadata in ONE codegen'd scan: byte_len/checksum are builtin
    * column expressions (`length`, `md5` — never pay typed-Dataset
    * serialization for pure column work), and the stub decoder's
    * width/height/frames are the same arithmetic as columns. A real
    * pipeline would swap the three stub columns for [[decodeWithCodec]].
    */
  def multimodalMeta(documents: DataFrame): DataFrame =
    mediaRecords(documents)
      .withColumn("byte_len", length(col("payload")).cast("long"))
      .select(
        col("doc_id"), col("media_type"), col("byte_len"),
        (lit(64) + col("byte_len") % 64).cast("int").as("width"),
        (lit(64) + (col("byte_len") * 7) % 64).cast("int").as("height"),
        (lit(1) + col("byte_len") % 30).cast("int").as("frames"),
        md5(col("payload")).as("checksum"))

  /** The codec slot: per-partition typed decode so a real codec context
    * (libjpeg/ffmpeg handle, ONNX session…) is created once per batch,
    * not per row. `decode` maps a payload to (width, height, frames);
    * the stub default mirrors [[multimodalMeta]]'s column arithmetic so
    * specs can assert the two paths agree.
    */
  def decodeWithCodec(spark: SparkSession, documents: DataFrame,
      decode: Array[Byte] => (Int, Int, Int) = stubDecode): Dataset[MediaFeatures] = {
    import spark.implicits._
    mediaRecords(documents).as[MediaRecord].mapPartitions { it =>
      // real impl: init codec context here, reuse across the iterator
      it.map { rec =>
        val (w, h, f) = decode(rec.payload)
        val md = java.security.MessageDigest.getInstance("MD5")
        val checksum = md.digest(rec.payload).map("%02x".format(_)).mkString
        MediaFeatures(rec.doc_id, rec.media_type, rec.payload.length.toLong,
          w, h, f, checksum)
      }
    }
  }

  /** STUB codec — deterministic arithmetic on the byte length so the
    * oracle can replicate it (stands in for an image/audio/video codec).
    */
  def stubDecode(payload: Array[Byte]): (Int, Int, Int) = {
    val len = payload.length.toLong
    ((64L + len % 64L).toInt, (64L + (len * 7L) % 64L).toInt,
      (1L + len % 30L).toInt)
  }

  /** Binary-payload exact dedup — duplicate media detection by content
    * checksum, with per-media-type dedup accounting: for every duplicate
    * group (same bytes, ≥ 2 records), the kept representative, copy
    * count, and wasted bytes. The binary column never shuffles: only
    * (md5, byte_len, doc_id) flow into the hash-groupBy, which is the
    * whole point of checksum-first dedup at 100 TB of media.
    */
  def multimodalDedup(documents: DataFrame): DataFrame =
    mediaRecords(documents)
      .select(col("doc_id"), col("media_type"),
        md5(col("payload")).as("checksum"),
        length(col("payload")).cast("long").as("byte_len"))
      .groupBy(col("media_type"), col("checksum"))
      .agg(min(col("doc_id")).as("keep_doc_id"),
        count(lit(1)).as("n_copies"),
        (max(col("byte_len")) * (count(lit(1)) - 1)).as("wasted_bytes"))
      .filter(col("n_copies") >= 2)

  private val FpBands = 4
  private val FpBandBits = 15

  /** Perceptual near-duplicate media detection — the piece
    * [[multimodalDedup]]'s exact checksum misses: a re-encoded/resized
    * copy hashes to different bytes but nearly the same perceptual
    * fingerprint. Each payload gets a 60-bit blockhash
    * ([[graft.functions.BlockHash]] — one codegen'd pass, division-free
    * mean-threshold block mass; a real codec feeds decoded luma through
    * the same expression via [[decodeWithCodec]]'s slot), and pairs
    * within Hamming distance `maxHamming` surface through the same
    * 4×15-bit band join as text SimHash (≤3 is exact by pigeonhole).
    * Scale shape mirrors checksum-first dedup: the BINARY payload never
    * shuffles — only (doc_id, fingerprint, checksum) reach the band
    * join; candidates are banded, never all-pairs; the exact-dup flag
    * rides along so downstream policy can split re-encodes from copies.
    */
  def multimodalNearDedup(documents: DataFrame, maxHamming: Int = 3): DataFrame = {
    // the 4×(15-bit)-band scheme is exhaustive only up to Hamming
    // distance FpBands−1 (pigeonhole: ≤3 flipped bits leave ≥1 of the 4
    // bands untouched); a larger radius would silently drop pairs
    require(maxHamming <= FpBands - 1,
      s"band scheme is exact only up to Hamming ${FpBands - 1}")
    val fps = Memo.managedCheckpoint(mediaRecords(documents)
      .select(col("doc_id"), col("media_type"),
        graft.functions.BlockHash.blockhash(col("payload")).as("fp"),
        md5(col("payload")).as("checksum"))
      .filter(col("fp").isNotNull))
    val banded = fps.select(col("doc_id"), col("media_type"), col("fp"),
      col("checksum"),
      explode(array((0 until FpBands).map { b =>
        struct(lit(b).as("band"),
          shiftright(col("fp"), b * FpBandBits)
            .bitwiseAND(lit((1L << FpBandBits) - 1)).as("key"))
      }: _*)).as("bk"))
      .select(col("doc_id"), col("media_type"), col("fp"), col("checksum"),
        col("bk.band"), col("bk.key"))
    val a = banded.select(col("media_type"), col("band"), col("key"),
      col("doc_id").as("doc_a"), col("fp").as("fp_a"),
      col("checksum").as("ck_a"))
    val b = banded.select(col("media_type"), col("band"), col("key"),
      col("doc_id").as("doc_b"), col("fp").as("fp_b"),
      col("checksum").as("ck_b"))
    a.join(b, Seq("media_type", "band", "key"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("media_type"), col("doc_a"), col("doc_b"),
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).cast("long")
          .as("hamming"),
        (col("ck_a") === col("ck_b")).as("is_exact_dup"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Near-duplicate media CLUSTERS — [[multimodalNearDedup]]'s pair list
    * collapsed into connected components (shared CC core:
    * [[DedupOps.ccLabels]], min-id representative), with per-cluster
    * byte accounting: member count, total bytes, and the bytes a
    * pipeline reclaims by keeping only the representative. The media
    * answer to [[DedupOps.dedupClusters]] — re-encode families become
    * one row each instead of a pair soup.
    *
    * Scale: rides the banded pair graph (payloads never shuffle; the CC
    * loop runs over the bounded pair list); byte lengths re-join
    * co-keyed on doc_id; the rollup is map-side combined on cluster_id.
    */
  def multimodalDedupClusters(documents: DataFrame): DataFrame = {
    val pairs = multimodalNearDedup(documents).select(col("doc_a"), col("doc_b"))
    val labels = DedupOps.ccLabels(pairs)
    val meta = mediaRecords(documents).select(col("doc_id"),
      col("media_type"), length(col("payload")).cast("long").as("byte_len"))
    labels.join(meta, labels("node") === meta("doc_id"))
      .groupBy(col("cluster_id"), col("media_type"))
      .agg(count(lit(1)).as("n_members"),
        sum(col("byte_len")).as("bytes_total"),
        sum(when(col("doc_id") === col("cluster_id"), 0L)
          .otherwise(col("byte_len"))).as("bytes_wasted"))
      .select(col("media_type"), col("cluster_id"), col("n_members"),
        col("bytes_total"), col("bytes_wasted"))
  }

  /** Frame sampling over the decoded video rows: every `step`-th frame
    * index with its byte offset — one scan, explode keeps it columnar (a
    * real decoder would read the offsets per partition).
    */
  def frameSample(documents: DataFrame, step: Int = 5): DataFrame =
    multimodalMeta(documents)
      .filter(col("media_type") === "video")
      .select(col("doc_id"), col("byte_len"), col("frames"),
        explode(sequence(lit(0), col("frames") - 1, lit(step))).as("frame_idx"))
      .select(col("doc_id"), col("frame_idx"),
        // integer floor-division (`div`) — `/` would detour through
        // doubles and round differently than the oracle's `//`
        expr("frame_idx * (byte_len div greatest(frames, 1))").as("byte_offset"))

  /** Aspect-preserving integer resize plan for image rows to fit a
    * `targetBox` square — the part a pipeline actually joins/filters on,
    * as pure integer column arithmetic (a real resampler slots into
    * [[decodeWithCodec]]; the plan math stays columnar either way).
    */
  def resizePlan(documents: DataFrame, targetBox: Int = 96): DataFrame =
    multimodalMeta(documents)
      .filter(col("media_type") === "image")
      .withColumn("scale_pct",
        expr(s"CAST(100 * $targetBox AS BIGINT) div greatest(width, height)"))
      .select(col("doc_id"), col("media_type"), col("width"), col("height"),
        expr("CAST(width * scale_pct div 100 AS INT)").as("target_w"),
        expr("CAST(height * scale_pct div 100 AS INT)").as("target_h"),
        col("scale_pct"))
}
