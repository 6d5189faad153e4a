package graft.sources

import java.io.{FileNotFoundException, IOException}
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Options, Path}
import org.apache.spark.sql.{DataFrame, SaveMode}

/** The lake's on-disk layout and its commit steps, in one place: every
  * store file name is built and parsed here, and every step that
  * publishes one (claim a version, stage a file generation, publish a
  * text file by rename, rewrite a keyed store through staging) has its
  * single implementation here. [[Sinks]] composes the steps into
  * commits, compaction, vacuum and tags, [[Readers]] resolves snapshots
  * through them, and the streaming writers in
  * [[graft.streaming.EventStreams]] stage their generations and model
  * sidecars through them. A snapshot directory holds:
  *
  *  - `_manifest-vNNNNN`: published snapshot N, one data-file name a line;
  *  - `_claim-vNNNNN`: an exclusive claim on version N, dropped on publish;
  *  - `_tag-<name>`: the version a named tag pins;
  *  - `_rewrite-vNNNNN-of-vMMMMM`: version N's generation rewrote
  *    version M's rows (M = 0: a replacement that carries nothing);
  *  - `_model-vNNNNN`: the ANN model paired with snapshots from N on;
  *  - `<gen>pNNNN.parquet`: the parts of one file generation.
  *
  * A foreachBatch writer marks each committed micro-batch in an
  * `<out>-commits` sibling of its output.
  *
  * A keyed store is rewritten whole through `<store>-staging-<token>`
  * and `<store>-retired-<token>` siblings; a single-manifest directory
  * carries `_manifest`, a zone-mapped one `_stats`.
  */
private[graft] object Snapshots {

  /** The single manifest of a [[Sinks.writeWithManifest]] directory. */
  val Manifest = "_manifest"

  /** The zone-map sidecar of a [[Sinks.writeWithStats]] directory. */
  val Stats = "_stats"

  private val ManifestV = "_manifest-v(\\d{5,})".r
  private val ClaimV = "_claim-v(\\d{5,})".r
  private val ModelV = "_model-v(\\d{5,})".r
  private val RewriteV = "_rewrite-v(\\d{5,})-of-v(\\d{5,})".r
  private val RewriteGen = "(?:compact|replace)-v(\\d{5,})-.*".r
  private val TagPrefix = "_tag-"
  private val CommitPrefix = "_commit-"

  def manifestPath(dir: Path, version: Int): Path =
    new Path(dir, f"_manifest-v$version%05d")
  def claimPath(dir: Path, version: Int): Path =
    new Path(dir, f"_claim-v$version%05d")
  def modelPath(dir: Path, version: Int): Path =
    new Path(dir, f"_model-v$version%05d")
  def tagPath(dir: Path, tag: String): Path = new Path(dir, TagPrefix + tag)
  def commitTagPath(dir: Path, tag: String): Path =
    new Path(dir, CommitPrefix + tag)

  /** Stream, window and tag ids are spliced into file names, so they
    * must be plain tokens: '/' or other path metacharacters would
    * corrupt the layout.
    */
  def requireToken(value: String, message: => String): Unit =
    require(value.nonEmpty && value.matches("[A-Za-z0-9_.=-]+"), message)

  // ------------------------------------------------------------ listing

  private def statuses(fs: FileSystem, dir: Path): Seq[FileStatus] =
    if (!fs.exists(dir)) Seq.empty else fs.listStatus(dir).toSeq

  /** Non-empty lines of a small published text file. */
  def lines(fs: FileSystem, file: Path): List[String] = {
    val in = fs.open(file)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty).toList
    finally in.close()
  }

  /** Names of the visible parquet data files directly in `dir`. */
  def dataFiles(fs: FileSystem, dir: Path): Seq[String] =
    fs.listStatus(dir).iterator.map(_.getPath.getName)
      .filter(n => n.endsWith(".parquet") && !n.startsWith("."))
      .toSeq.sorted

  /** Ascending PUBLISHED version numbers in `dir` — `_manifest-v*`
    * names only; `_claim-v*` allocation markers are not snapshots.
    * (The zero-length guard is belt-and-braces: a manifest is only
    * ever created by an atomic rename of fully-written content.)
    */
  def versions(fs: FileSystem, dir: Path): Seq[Int] =
    statuses(fs, dir).filter(_.getLen > 0).map(_.getPath.getName)
      .collect { case ManifestV(v) => v.toInt }.sorted

  /** Ascending ALLOCATED version numbers — published manifests UNION
    * outstanding claims. Version allocation starts above this, so a
    * crashed claimer can never make a live committer spin on (or
    * reuse) its number; the crashed number is simply a gap.
    */
  def allocatedVersions(fs: FileSystem, dir: Path): Seq[Int] =
    statuses(fs, dir).map(_.getPath.getName)
      .collect { case ManifestV(v) => v.toInt; case ClaimV(v) => v.toInt }
      .distinct.sorted

  /** The number a new version takes: one above every allocated one. */
  def nextVersion(fs: FileSystem, dir: Path): Int =
    allocatedVersions(fs, dir).lastOption.getOrElse(0) + 1

  /** Ascending versions that carry an ANN model sidecar. */
  def modelVersions(fs: FileSystem, dir: Path): Seq[Int] =
    statuses(fs, dir).map(_.getPath.getName)
      .collect { case ModelV(v) => v.toInt }.sorted

  /** Named snapshot tags in `dir`: tag name → pinned version (the
    * Iceberg ref concept — `_tag-<name>` files whose content is the
    * version number). Unparseable/empty tag files are ignored rather
    * than failing every listing (a torn write cannot happen — tags
    * publish by atomic rename — but a foreign file matching the
    * pattern should not poison reads).
    */
  def tags(fs: FileSystem, dir: Path): Map[String, Int] =
    statuses(fs, dir)
      .filter(st => st.getPath.getName.startsWith(TagPrefix) && st.getLen > 0)
      .flatMap { st =>
        val content = lines(fs, st.getPath).mkString("\n").trim
        scala.util.Try(content.toInt).toOption
          .map(v => st.getPath.getName.stripPrefix(TagPrefix) -> v)
      }
      .toMap

  /** Rewrite provenance: version → the base version whose ROWS that
    * version's generation rewrote — the `_rewrite-vNNNNN-of-vMMMMM`
    * markers [[Sinks.compactSnapshot]] (base = the head it compacted)
    * and [[Sinks.replaceSnapshot]] (base = 0: a replacement carries
    * NOTHING forward) record just before publishing. Consulted by the
    * shadowed-append repair to decide whether a head that dropped this
    * commit's file NAMES still carries its ROWS (compaction of a head
    * that contained them) or genuinely lost them (compaction of an
    * older base / a replacement). Versions with no marker are plain
    * appends, which always union the prior head forward.
    */
  def rewriteBases(fs: FileSystem, dir: Path): Map[Int, Int] =
    statuses(fs, dir).map(_.getPath.getName)
      .collect { case RewriteV(v, b) => v.toInt -> b.toInt }.toMap

  /** Publish the `_rewrite-vNNNNN-of-vMMMMM` provenance marker. */
  def recordRewriteBase(fs: FileSystem, dir: Path, version: Int,
      base: Int): Unit =
    fs.create(new Path(dir, f"_rewrite-v$version%05d-of-v$base%05d"), true).close()

  /** Delete the provenance markers of versions at or below `horizon`. */
  def dropRewriteBases(fs: FileSystem, dir: Path, horizon: Int): Unit =
    statuses(fs, dir).map(_.getPath.getName).foreach {
      case n @ RewriteV(v, _) if v.toInt <= horizon =>
        fs.delete(new Path(dir, n), false)
      case _ => ()
    }

  /** File names listed by one committed snapshot manifest (an
    * unfulfilled claim reads as "no committed snapshot", like a
    * missing manifest).
    */
  def files(fs: FileSystem, dir: Path, version: Int): Seq[String] = {
    val manifest = manifestPath(dir, version)
    if (!fs.exists(manifest) || fs.getFileStatus(manifest).getLen == 0)
      throw new FileNotFoundException(s"$dir has no committed snapshot v$version")
    lines(fs, manifest)
  }

  /** The commit tag the store's last keyed rewrite carried, if any. */
  def commitTag(fs: FileSystem, dir: Path): Option[String] =
    statuses(fs, dir).iterator.map(_.getPath.getName)
      .collectFirst { case n if n.startsWith(CommitPrefix) =>
        n.stripPrefix(CommitPrefix) }

  // --------------------------------------------------------- generations

  /** Generation prefix of one micro-batch's files. */
  def batchGen(kind: String, streamId: String, batchId: Long): String =
    f"$kind-$streamId-b$batchId%010d-"

  /** Generation prefix of one backfill window's files. */
  def windowGen(streamId: String, windowId: String): String =
    s"ingest-$streamId-w$windowId-"

  /** Generation prefix of the `compact` or `replace` rewrite that
    * publishes `version`.
    */
  def rewriteGen(kind: String, version: Int): String = f"$kind-v$version%05d-"

  /** The version a compaction or replacement generation file was
    * written for; None for any other name.
    */
  def rewriteGenVersion(name: String): Option[Int] = name match {
    case RewriteGen(v) => Some(v.toInt)
    case _ => None
  }

  /** True iff `name` is a part of generation `gen`. The match is on the
    * FULL name, never a prefix: '-' is legal in stream and window ids,
    * so window "2019" must not read window "2019-q1"'s files as its own.
    */
  def inGeneration(gen: String, name: String): Boolean =
    name.startsWith(gen) && name.substring(gen.length).matches("p\\d{4,}\\.parquet")

  /** Stage one file generation and rename it into `dir`: `write` fills
    * the hidden `.<gen>` directory, leftovers of the same generation
    * (parts a crashed attempt renamed in before it could commit) are
    * deleted, and each staged `.parquet` part, in name order, becomes
    * `<gen>pNNNN.parquet`. A failed delete or rename THROWS — a
    * swallowed one would leave a half-renamed generation behind.
    * Returns the new names; empty when `write` produced no part.
    */
  def stageGeneration(fs: FileSystem, dir: Path, gen: String, what: String)(
      write: Path => Unit): Seq[String] = {
    val tmp = new Path(dir, s".$gen")
    write(tmp)
    val parts = fs.listStatus(tmp).iterator.map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).toSeq.sortBy(_.getName)
    fs.listStatus(dir).iterator.map(_.getPath)
      .filter(p => inGeneration(gen, p.getName))
      .foreach { p =>
        if (!fs.delete(p, false))
          throw new IOException(s"$what cleanup failed for $p")
      }
    val names = parts.zipWithIndex.map { case (p, i) =>
      val n = f"$gen%sp$i%04d.parquet"
      if (!fs.rename(p, new Path(dir, n)))
        throw new IOException(s"$what rename failed for $p")
      n
    }
    fs.delete(tmp, true)
    names
  }

  // ------------------------------------------------------ batch markers

  /** A foreachBatch writer's replay marker for `batchId`,
    * `<out>-commits/batch-<id>`: it lives NEXT TO the output, on the
    * output path's own filesystem (hdfs:// and s3a:// included) — a
    * driver-local marker under a remote output path is invalid (or
    * silently lands on local disk) and breaks replay idempotency.
    */
  def markerPath(out: String, batchId: Long): Path =
    new Path(s"$out-commits", s"batch-$batchId")

  def markerExists(batch: DataFrame, marker: Path): Boolean =
    marker.getFileSystem(batch.sparkSession.sparkContext.hadoopConfiguration)
      .exists(marker)

  def writeMarker(batch: DataFrame, marker: Path): Unit = {
    val fs = marker.getFileSystem(
      batch.sparkSession.sparkContext.hadoopConfiguration)
    fs.mkdirs(marker.getParent)
    fs.create(marker, true).close()
  }

  // ------------------------------------------------------ claim, publish

  /** Exclusively claim `version` by creating its `_claim-v<version>`
    * marker with create-fails-if-exists — the atomic version-allocation
    * primitive (O_CREAT|O_EXCL on a local FS; HDFS create is likewise
    * exclusive without overwrite). The claim is a SEPARATE name from
    * the manifest, so the later publish renames onto a destination
    * that never exists — plain atomic rename, no overwrite semantics
    * anywhere in the commit path (ChecksumFs drops the OVERWRITE
    * option on some rename routes). Claims are invisible to readers:
    * only `_manifest-v*` names are snapshots. Returns false when the
    * version is already taken.
    */
  def claimVersion(fs: FileSystem, dir: Path, version: Int): Boolean = {
    val p = claimPath(dir, version)
    fs match {
      case _: org.apache.hadoop.fs.LocalFileSystem |
          _: org.apache.hadoop.fs.RawLocalFileSystem =>
        // LocalFileSystem.create(overwrite = false) is exists-THEN-create
        // — two racers can both pass the check; java.io.createNewFile is
        // the OS's actual O_CREAT|O_EXCL
        new java.io.File(p.toUri.getPath).createNewFile()
      case _ =>
        // HDFS-class filesystems make non-overwrite create atomic on
        // the namenode
        try { fs.create(p, false).close(); true }
        catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
          case e: IOException
              if e.getMessage != null &&
                e.getMessage.contains("already exists") =>
            false
        }
    }
  }

  /** Claim the next free version, re-reading the allocation after each
    * lost race; None after 50 lost races (each caller raises its own
    * contention error).
    */
  def claimNext(fs: FileSystem, dir: Path): Option[Int] = {
    var next = nextVersion(fs, dir)
    var tries = 0
    while (!claimVersion(fs, dir, next)) {
      tries += 1
      if (tries >= 50) return None
      next = allocatedVersions(fs, dir).lastOption.getOrElse(next) + 1
    }
    Some(next)
  }

  /** Abort a claimed rewrite before it publishes: its generation files
    * are unreferenced, so deleting them and releasing the claim leaves
    * no trace a reader could see.
    */
  def abandon(fs: FileSystem, dir: Path, version: Int,
      names: Seq[String]): Unit = {
    names.foreach(n => fs.delete(new Path(dir, n), false))
    fs.delete(claimPath(dir, version), false)
  }

  /** Publish a CLAIMED version: write its manifest (a plain rename onto
    * a name that cannot exist — exclusivity came from
    * [[claimVersion]]), then drop the claim marker. A crash between
    * the two leaves a claim whose manifest exists — harmless
    * (allocation reads both) and vacuumed later.
    */
  def publish(fs: FileSystem, dir: Path, version: Int,
      names: Seq[String]): Int = {
    val manifest = manifestPath(dir, version)
    if (!publishText(fs, manifest, names, overwrite = false))
      throw new IOException(s"snapshot commit failed for $manifest")
    fs.delete(claimPath(dir, version), false)
    version
  }

  /** Publish a small text file atomically: `lines` go to a hidden
    * `.<name>.tmp` beside `dst`, `beforeRename` runs (a spec seam), and
    * the temp file is renamed onto `dst`. With `overwrite` the rename
    * replaces an existing `dst` in one step through the FileContext API
    * (the FileSystem one cannot replace portably; delete-then-rename
    * would leave a window where the old content is gone) and failure
    * throws. Without it the rename fails when `dst` exists: the temp
    * file is removed and the result is false.
    */
  def publishText(fs: FileSystem, dst: Path, lines: Seq[String],
      overwrite: Boolean, beforeRename: () => Unit = () => ()): Boolean = {
    val tmp = new Path(dst.getParent, s".${dst.getName}.tmp")
    val out = fs.create(tmp, true)
    try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    beforeRename()
    if (overwrite) {
      val to = fs.makeQualified(dst)
      FileContext.getFileContext(to.toUri, fs.getConf)
        .rename(fs.makeQualified(tmp), to, Options.Rename.OVERWRITE)
      true
    } else if (fs.rename(tmp, dst)) true
    else { fs.delete(tmp, false); false }
  }

  // ------------------------------------------------- keyed-store rewrite

  /** Rewrite the parquet store at `path` whole: `frame` lands in a
    * `<path>-staging-<token>` directory, `finish` adds whatever must
    * publish together with the data (a manifest, a commit tag), and
    * [[swapStore]] moves the staging directory in. The prior store
    * survives a crash at any point before the swap.
    */
  def rewriteStore[T](path: String, frame: DataFrame,
      token: Long = System.nanoTime())(finish: Path => T): T = {
    val staging = new Path(s"$path-staging-$token")
    frame.write.mode(SaveMode.Overwrite).parquet(staging.toString)
    val result = finish(staging)
    swapStore(frame.sparkSession.sparkContext.hadoopConfiguration,
      path, staging, token)
    result
  }

  /** The two-rename swap, on the STORE's own filesystem (hdfs:// and
    * s3a:// included — a driver-local java.nio move under a remote store
    * path is invalid or silently rearranges local disk): retire the
    * current dir, move staging in, delete the retired copy. Every step
    * THROWS on failure; a crash between the renames leaves a -retired
    * dir that demands manual repair ([[retiredLeftover]] finds it — a
    * Delta/Iceberg MERGE is the transactional form).
    */
  private def swapStore(conf: org.apache.hadoop.conf.Configuration,
      path: String, staging: Path, token: Long): Unit = {
    val target = new Path(path)
    val fs = target.getFileSystem(conf)
    val retired = new Path(s"$path-retired-$token")
    if (fs.exists(target) && !fs.rename(target, retired))
      throw new IOException(s"store swap: retire rename failed for $path")
    if (!fs.rename(staging, target))
      throw new IOException(s"store swap: staging rename failed for $staging")
    if (fs.exists(retired) && !fs.delete(retired, true))
      throw new IOException(s"store swap: retired delete failed for $retired")
  }

  /** A `-retired-` sibling of the store at `path` — the mark of a swap
    * interrupted between its two renames — if one exists.
    */
  def retiredLeftover(fs: FileSystem, path: String): Option[Path] = {
    val store = fs.makeQualified(new Path(path))
    statuses(fs, store.getParent).iterator.map(_.getPath)
      .find(_.getName.startsWith(store.getName + "-retired-"))
  }
}
