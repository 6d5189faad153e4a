package graft.sources

import graft.SparkSpec
import java.nio.file.Files

class SourcesSpec extends SparkSpec {
  import spark.implicits._

  private def tmp() = Files.createTempDirectory("graft_sources").toString

  test("csv -> jsonlines -> parquet round trip (the raw->staging path)") {
    val dir = tmp()
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "name", "v")
    df.write.option("header", "true").csv(s"$dir/csv")
    val fromCsv = Readers.csv(spark, s"$dir/csv")
    Sinks.writeJsonLines(fromCsv, s"$dir/json")
    val fromJson = Readers.json(spark, s"$dir/json")
    Sinks.writeStaging(fromJson, s"$dir/parquet")
    val back = spark.read.parquet(s"$dir/parquet")
    assert(back.count() == 2)
    assert(back.columns.sorted.toSeq == Seq("id", "name", "v"))
  }

  test("ensureColumns adds missing expected columns as nulls") {
    val df = Seq((1L, "x")).toDF("id", "name")
    val out = Readers.conform(df, Seq("id", "name", "missing_a", "missing_b"))
    assert(out.columns.toSeq == Seq("id", "name", "missing_a", "missing_b"))
    assert(out.head.isNullAt(2) && out.head.isNullAt(3))
  }

  test("bucketed tables join without a shuffle on the bucket key") {
    spark.sql("DROP TABLE IF EXISTS graft_b_orders")
    spark.sql("DROP TABLE IF EXISTS graft_b_lines")
    // a previous JVM's in-memory catalog is gone but its files survive
    Seq("graft_b_orders", "graft_b_lines").foreach { t =>
      val dir = new java.io.File(s"${sys.props("java.io.tmpdir")}/graft-warehouse/$t")
      if (dir.exists) {
        dir.listFiles.foreach(_.delete())
        dir.delete()
      }
    }
    val orders = (1L to 200L).map(k => (k, k * 10.0)).toDF("k", "total")
    val lines = (1L to 200L).flatMap(k => Seq((k, 1), (k, 2))).toDF("k", "line")
    Sinks.writeBucketed(orders, "graft_b_orders", "k")
    Sinks.writeBucketed(lines, "graft_b_lines", "k")
    // force the shuffle-join path (tiny test tables would broadcast)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("graft_b_orders").join(spark.table("graft_b_lines"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("ShuffleExchange"),
        s"bucketed join must not shuffle:\n${plan.take(600)}")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"))
      assert(joined.count() == 400)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("writePartitioned produces prunable date partitions") {
    val dir = tmp()
    val df = Seq((1L, 20240101, 5.0), (2L, 20240102, 6.0), (3L, 20240102, 7.0))
      .toDF("id", "date_key", "v")
    Sinks.writePartitioned(df, s"$dir/fact", Seq("date_key"))
    val pruned = spark.read.parquet(s"$dir/fact").filter($"date_key" === 20240102)
    assert(pruned.count() == 2)
    // partition pruning visible in the plan (no full scan of 20240101)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(new java.io.File(s"$dir/fact/date_key=20240101").exists)
  }

  test("writeSorted clusters rows within each partition file (SORTKEY analog)") {
    val dir = tmp()
    val rng = new scala.util.Random(7)
    val df = (1 to 1000).map(i => (i.toLong, 20240100 + i % 2, rng.nextInt(100000)))
      .toDF("id", "date_key", "price")
    Sinks.writeSorted(df, s"$dir/fact", Seq("date_key"), "price",
      filesPerPartition = 4)
    // the zone contract: EVERY file is internally sorted on price and
    // files within a partition dir cover NON-OVERLAPPING price ranges —
    // what parquet row-group min/max skipping needs — while the range
    // split gives ~filesPerPartition parallel writers per key (exact
    // counts shift by ±1 where a range boundary lands inside a key)
    Seq(20240100, 20240101).foreach { dk =>
      val files = new java.io.File(s"$dir/fact/date_key=$dk")
        .listFiles().filter(_.getName.endsWith(".parquet")).map(_.getPath)
      assert(files.length >= 2 && files.length <= 6,
        s"partition $dk: expected a multi-file range split, got ${files.length}")
      val ranges = files.map { f =>
        val prices = spark.read.parquet(f).select("price")
          .collect().map(_.getInt(0))
        assert(prices.sameElements(prices.sorted), s"$f must be sorted")
        (prices.min, prices.max)
      }.sortBy(_._1)
      ranges.sliding(2).foreach {
        case Array((_, hiA), (loB, _)) =>
          assert(hiA <= loB, s"partition $dk: file ranges must not overlap")
        case _ => ()
      }
      val total = files.map(f =>
        spark.read.parquet(f).count()).sum
      assert(total == 500)
    }
  }

  test("writeShards bounds file size and assigns docs deterministically") {
    val dir = tmp()
    val df = (1 to 1000).map(i => (i.toLong, s"doc $i")).toDF("doc_id", "text")
    Sinks.writeShards(df, s"$dir/shards", "doc_id", shards = 4,
      maxRecordsPerFile = 100)
    val files = new java.io.File(s"$dir/shards").listFiles
      .filter(_.getName.startsWith("shard=")).flatMap(_.listFiles)
      .filter(_.getName.endsWith(".parquet"))
    // every physical file respects the record cap
    files.foreach { f =>
      assert(spark.read.parquet(f.getPath).count() <= 100,
        s"${f.getName} exceeds maxRecordsPerFile")
    }
    val back = spark.read.parquet(s"$dir/shards")
    assert(back.count() == 1000)
    // assignment is hash(doc_id) mod shards — reproducible across runs
    val again = tmp()
    Sinks.writeShards(df, s"$again/shards", "doc_id", shards = 4,
      maxRecordsPerFile = 100)
    val a = back.select("doc_id", "shard").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val b = spark.read.parquet(s"$again/shards").select("doc_id", "shard")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a == b)
  }

  test("mergeUpsert replaces matching keys, appends new, keeps the rest") {
    import spark.implicits._
    val dir = tmp()
    val store = s"$dir/dim"
    Sinks.mergeUpsert(spark,
      store, Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), "id")
    Sinks.mergeUpsert(spark,
      store, Seq((2L, "B"), (4L, "d")).toDF("id", "v"), "id")
    val out = spark.read.parquet(store).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "a", 2L -> "B", 3L -> "c", 4L -> "d"))
    // no staging/retired leftovers after a clean merge
    val leftovers = new java.io.File(dir).listFiles
      .map(_.getName).filter(n => n.contains("staging") || n.contains("retired"))
    assert(leftovers.isEmpty, leftovers.mkString(","))
  }

  test("parquetEvolved reads mixed-schema files under a pinned projection") {
    import spark.implicits._
    val dir = tmp()
    // generation 1: (id, a); generation 2 adds column b
    Seq((1L, "x")).toDF("id", "a").write.parquet(s"$dir/lake/g1")
    Seq((2L, "y", 9L)).toDF("id", "a", "b").write.parquet(s"$dir/lake/g2")
    val out = Readers.parquetEvolved(spark, s"$dir/lake/*",
      Seq("id", "a", "b")).orderBy("id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(out.head.isNullAt(2))        // gen-1 rows read b as null
    assert(out(1).getLong(2) == 9L)
    // a column the lake has never seen still conforms (typed null)
    val pinned = Readers.parquetEvolved(spark, s"$dir/lake/*",
      Seq("id", "c"))
    assert(pinned.columns.toSeq == Seq("id", "c"))
    assert(pinned.collect().forall(_.isNullAt(1)))
  }

  test("compact rewrites a fragmented layout into size-targeted files") {
    import spark.implicits._
    val dir = tmp()
    // 50 writer tasks → 50 small files
    (1 to 5000).map(i => (i.toLong, s"row $i payload")).toDF("id", "text")
      .repartition(50).write.parquet(s"$dir/frag")
    val fragFiles = new java.io.File(s"$dir/frag").listFiles
      .count(_.getName.endsWith(".parquet"))
    assert(fragFiles == 50)
    val totalBytes = new java.io.File(s"$dir/frag").listFiles
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    // target = half the input bytes → expect exactly 2 output files
    val n = Sinks.compact(spark, s"$dir/frag", s"$dir/compacted",
      targetFileBytes = (totalBytes + 1) / 2)
    assert(n == 2)
    val outFiles = new java.io.File(s"$dir/compacted").listFiles
      .count(_.getName.endsWith(".parquet"))
    assert(outFiles == 2)
    // content survives byte-identically at the row level
    assert(spark.read.parquet(s"$dir/compacted").orderBy("id")
      .collect().map(_.getLong(0)).toSeq == (1L to 5000L))
  }

  test("orc round trip preserves rows and pushes filters") {
    val dir = tmp()
    val df = (1L to 1000L).map(i => (i, s"n$i", i * 1.5)).toDF("id", "name", "v")
    df.write.orc(s"$dir/orc")
    val back = Readers.orc(spark, s"$dir/orc")
    assert(back.count() == 1000)
    val plan = back.filter($"id" > 900L).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("id"), plan)
    assert(back.filter($"id" > 900L).count() == 100)
  }

  test("binaryFiles lands one (path, length, content) row per media file") {
    val dir = tmp()
    val payloads = Map("a.img" -> Array[Byte](1, 2, 3, 4),
      "b.img" -> Array[Byte](5, 6), "skip.txt" -> Array[Byte](9))
    payloads.foreach { case (name, bytes) =>
      Files.write(java.nio.file.Paths.get(dir, name), bytes)
    }
    val media = Readers.binaryFiles(spark, dir, glob = Some("*.img"))
    val rows = media.collect()
    assert(rows.length == 2) // the .txt is glob-filtered out
    val byName = rows.map(r => new java.io.File(r.getString(0)).getName ->
      r.getAs[Array[Byte]]("content").toSeq).toMap
    assert(byName("a.img") == Seq[Byte](1, 2, 3, 4))
    assert(byName("b.img") == Seq[Byte](5, 6))
    assert(rows.forall(r => r.getAs[Long]("length") ==
      r.getAs[Array[Byte]]("content").length.toLong))
  }

  test("writeZOrdered files carry narrow min/max ranges on BOTH dimensions") {
    import org.apache.spark.sql.functions._
    val dir = tmp()
    // a 64x64 grid: the z-curve split into 16 contiguous ranges is ~16
    // aligned tiles; a linear (x, y) sort makes files x-narrow, y-wide
    val grid = (0 until 64).flatMap(x => (0 until 64).map(y => (x, y)))
      .toDF("x", "y")
    Sinks.writeZOrdered(grid, s"$dir/z", "x", "y", numFiles = 16)
    val zStats = spark.read.parquet(s"$dir/z")
      .groupBy(input_file_name().as("f"))
      .agg((max("x") - min("x")).as("rx"), (max("y") - min("y")).as("ry"))
      .agg(avg("rx").as("ax"), avg("ry").as("ay")).collect()(0)
    // each dimension's per-file span stays a fraction of the 0..63 domain
    assert(zStats.getDouble(0) < 25.0 && zStats.getDouble(1) < 25.0,
      s"z ranges: $zStats")
    grid.repartitionByRange(16, col("x"))
      .sortWithinPartitions("x", "y")
      .write.parquet(s"$dir/linear")
    val linStats = spark.read.parquet(s"$dir/linear")
      .groupBy(input_file_name().as("f"))
      .agg((max("y") - min("y")).as("ry"))
      .agg(avg("ry").as("ay")).collect()(0)
    // the non-leading dimension spans the whole domain under a plain sort
    assert(linStats.getDouble(0) > 55.0, s"linear y range: $linStats")
    // layout change only: the same 4096 rows come back
    assert(spark.read.parquet(s"$dir/z").count() == 4096)
  }

  test("mergeAggregate folds batch partials into the rollup store") {
    val dir = tmp()
    val path = s"$dir/rollup"
    val b1 = Seq(("a", 1L, 10L), ("a", 2L, 20L), ("b", 1L, 5L))
      .toDF("k", "n", "cents")
    Sinks.mergeAggregate(spark, path, b1, Seq("k"), Seq("n", "cents"))
    val b2 = Seq(("a", 1L, 100L), ("c", 7L, 7L)).toDF("k", "n", "cents")
    Sinks.mergeAggregate(spark, path, b2, Seq("k"), Seq("n", "cents"))
    val got = spark.read.parquet(path).orderBy("k").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq(("a", 4L, 130L), ("b", 1L, 5L), ("c", 7L, 7L)))
    // no staging/retired leftovers
    val leftovers = new java.io.File(dir).listFiles
      .map(_.getName).filter(n => n.contains("staging") || n.contains("retired"))
    assert(leftovers.isEmpty, leftovers.toSeq.toString)
  }

  test("manifest commit protocol: stragglers invisible, uncommitted throws") {
    val dir = tmp()
    val path = s"$dir/committed"
    val df = (1L to 100L).map(i => (i, s"row $i")).toDF("id", "text")
    val n = Sinks.writeWithManifest(df, path)
    assert(n >= 1)
    assert(Readers.readCommitted(spark, path).count() == 100)
    // a straggler from a failed/concurrent job: on disk, not in manifest
    Seq((999L, "orphan")).toDF("id", "text")
      .write.mode("append").parquet(path)
    assert(spark.read.parquet(path).count() == 101) // raw read sees it...
    val committed = Readers.readCommitted(spark, path)
    assert(committed.count() == 100) // ...the committed snapshot doesn't
    assert(!committed.collect().map(_.getLong(0)).contains(999L))
    // re-publishing adopts the straggler (the "commit" of an append)
    Sinks.publishManifest(spark, path)
    assert(Readers.readCommitted(spark, path).count() == 101)
    // a directory without a manifest is not silently readable
    df.write.parquet(s"$dir/uncommitted")
    intercept[java.io.FileNotFoundException] {
      Readers.readCommitted(spark, s"$dir/uncommitted")
    }
  }

  test("versioned snapshots: time travel + incremental changes") {
    val dir = tmp()
    val path = s"$dir/table"
    (1L to 100L).map(i => (i, s"row $i")).toDF("id", "text")
      .write.parquet(path)
    val v1 = Sinks.commitSnapshot(spark, path)
    (101L to 150L).map(i => (i, s"row $i")).toDF("id", "text")
      .write.mode("append").parquet(path)
    val v2 = Sinks.commitSnapshot(spark, path)
    assert(v1 == 1 && v2 == 2)
    // latest sees everything committed; v1 time-travels to the original
    assert(Readers.readSnapshot(spark, path).count() == 150)
    assert(Readers.readSnapshot(spark, path, Some(1)).count() == 100)
    // an uncommitted straggler is invisible to every snapshot
    Seq((999L, "orphan")).toDF("id", "text")
      .write.mode("append").parquet(path)
    assert(Readers.readSnapshot(spark, path).count() == 150)
    // incremental read = exactly the appended interval
    val delta = Readers.readChangesBetween(spark, path, 1, 2)
    assert(delta.count() == 50)
    assert(delta.agg(org.apache.spark.sql.functions.min("id"))
      .head.getLong(0) == 101L)
    // empty delta between identical versions, schema preserved
    val none = Readers.readChangesBetween(spark, path, 2, 2)
    assert(none.count() == 0 && none.columns.toSeq == Seq("id", "text"))
    intercept[java.io.FileNotFoundException] {
      Readers.readSnapshot(spark, s"$dir/never-committed")
    }
  }

  test("applyChanges applies insert/update/delete deltas atomically") {
    val dir = tmp()
    val path = s"$dir/store"
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v").write.parquet(path)
    val delta = Seq((2L, "B", "update"), (4L, "d", "insert"),
      (3L, null.asInstanceOf[String], "delete"))
      .toDF("id", "v", "change_type")
    Sinks.applyChanges(spark, path, delta, "id")
    val out = spark.read.parquet(path).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(out == Set((1L, "a"), (2L, "B"), (4L, "d")))
    // a typo'd op must throw before anything is rewritten
    intercept[IllegalArgumentException] {
      Sinks.applyChanges(spark, path,
        Seq((1L, "x", "upsert")).toDF("id", "v", "change_type"), "id")
    }
    assert(spark.read.parquet(path).count() == 3)
    // a NULL op must ALSO throw: three-valued logic would otherwise slip
    // it past an isin-only guard and the row would act as a delete
    intercept[IllegalArgumentException] {
      Sinks.applyChanges(spark, path,
        Seq((2L, "y", null.asInstanceOf[String]))
          .toDF("id", "v", "change_type"), "id")
    }
    assert(spark.read.parquet(path).count() == 3)
  }

  test("compaction + vacuum: rewrite head generation, reclaim superseded files") {
    val dir = tmp()
    val path = s"$dir/table"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def parquetFiles(): Set[String] =
      fs.listStatus(new org.apache.hadoop.fs.Path(path)).iterator
        .map(_.getPath.getName)
        .filter(n => n.endsWith(".parquet") && !n.startsWith(".")).toSet
    (1L to 100L).map(i => (i, s"row $i")).toDF("id", "text")
      .repartition(4).write.parquet(path)
    Sinks.commitSnapshot(spark, path) // v1: 4 files
    (101L to 150L).map(i => (i, s"row $i")).toDF("id", "text")
      .repartition(2).write.mode("append").parquet(path)
    Sinks.commitSnapshot(spark, path) // v2: 6 files
    val gen0 = parquetFiles()
    val v3 = Sinks.compactSnapshot(spark, path, numFiles = 1)
    assert(v3 == 3)
    // every generation still readable; compacted head has the same rows
    assert(Readers.readSnapshot(spark, path, Some(1)).count() == 100)
    assert(Readers.readSnapshot(spark, path, Some(2)).count() == 150)
    assert(Readers.readSnapshot(spark, path).count() == 150)
    // appending AFTER a compaction must not resurrect superseded files
    (151L to 160L).map(i => (i, s"row $i")).toDF("id", "text")
      .repartition(1).write.mode("append").parquet(path)
    val v4 = Sinks.commitSnapshot(spark, path)
    assert(Readers.readSnapshot(spark, path, Some(v4)).count() == 160)
    // an uncommitted straggler must survive the vacuum untouched
    Seq((999L, "orphan")).toDF("id", "text").repartition(1)
      .write.mode("append").parquet(path)
    val straggler = (parquetFiles() -- gen0)
      .filterNot(_.startsWith("compact-")).diff(
        Snapshots2.files(spark, path, v4).toSet)
    assert(straggler.size == 1)
    val removed = Sinks.vacuumSnapshots(spark, path, keepLast = 2)
    // v1/v2's six generation-0 files are dead (v3 rewrote, v4 kept the
    // compacted file); both retained snapshots and the straggler remain
    assert(removed == 6)
    assert(gen0.intersect(parquetFiles()).isEmpty)
    assert(straggler.subsetOf(parquetFiles()))
    assert(Readers.readSnapshot(spark, path, Some(3)).count() == 150)
    assert(Readers.readSnapshot(spark, path, Some(4)).count() == 160)
    intercept[java.io.FileNotFoundException] {
      Readers.readSnapshot(spark, path, Some(1))
    }
    // vacuum with everything retained is a no-op
    assert(Sinks.vacuumSnapshots(spark, path, keepLast = 10) == 0)
  }

  /** Test-side view of a committed manifest's file list. */
  private object Snapshots2 {
    def files(spark: org.apache.spark.sql.SparkSession, path: String,
        version: Int): Seq[String] = {
      val dir = new org.apache.hadoop.fs.Path(path)
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val in = fs.open(new org.apache.hadoop.fs.Path(dir, f"_manifest-v$version%05d"))
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.nonEmpty).toList
      finally in.close()
    }
  }

  test("zone-map stats skip files a range predicate cannot touch") {
    val dir = tmp()
    // range-clustered layout: 4 files with disjoint key ranges
    val df = (1 to 400).map(i => (i.toLong, s"row$i"))
      .toDF("k", "payload").repartitionByRange(4, $"k")
    val nStats = Sinks.writeWithStats(df, s"$dir/t", Seq("k"))
    assert(nStats == 4) // 4 files × 1 column
    // a one-file range: pruning must drop most files, results stay exact
    val (files, total) = Readers.statsPrunedFiles(spark, s"$dir/t", "k", 10, 20)
    assert(total == 4 && files.length < total,
      s"expected pruning, kept ${files.length}/$total")
    val got = Readers.readSkipping(spark, s"$dir/t", "k", 10, 20)
      .collect().map(_.getLong(0)).sorted
    assert(got.toSeq == (10L to 20L))
    // fully out-of-range: every file pruned, schema preserved
    val none = Readers.readSkipping(spark, s"$dir/t", "k", 1000, 2000)
    assert(none.count() == 0 && none.columns.toSeq == Seq("k", "payload"))
    // an uncommitted directory refuses to pretend it has zones
    df.write.mode("overwrite").parquet(s"$dir/raw")
    intercept[java.io.FileNotFoundException] {
      Readers.readSkipping(spark, s"$dir/raw", "k", 0, 1)
    }
  }

  test("documentDump normalizes a Mongo-style JSON-array collection dump") {
    val dir = tmp()
    val dump = s"""[
      |{"_id": {"$$oid": "65f1a"}, "name": "alice",
      | "addr": {"city": "nyc", "zip": "10001"},
      | "created": {"$$date": "2024-01-02T03:04:05.000Z"}},
      |{"_id": {"$$oid": "65f1b"}, "name": "bob",
      | "addr": {"city": "sf", "zip": "94110"},
      | "created": {"$$date": "2024-02-03T04:05:06.000Z"}}
      |]""".stripMargin
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/dump.json"), dump.getBytes("UTF-8"))
    val df = Readers.documentDump(spark, s"$dir/dump.json")
    // $oid → id string, $date → timestamp, nested doc flattened
    assert(df.columns.sorted.toSeq ==
      Seq("_id", "addr_city", "addr_zip", "created", "name"))
    val rows = df.orderBy("_id").collect()
    assert(rows.map(_.getAs[String]("_id")).toSeq == Seq("65f1a", "65f1b"))
    assert(rows.map(_.getAs[String]("addr_city")).toSeq == Seq("nyc", "sf"))
    assert(rows.head.getAs[java.sql.Timestamp]("created") != null)
    // contract conform: missing expected columns appear as typed nulls
    val conformed = Readers.documentDump(spark, s"$dir/dump.json",
      Seq("_id", "name", "addr_city", "source_system"))
    assert(conformed.columns.toSeq ==
      Seq("_id", "name", "addr_city", "source_system"))
    assert(conformed.collect().forall(_.isNullAt(3)))
    // Extended-JSON wrappers NESTED inside a subdocument also normalize
    val nested = """[{"_id": {"$oid": "65f1c"},
      | "meta": {"created": {"$date": "2024-03-04T05:06:07.000Z"}}}]"""
      .stripMargin
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/nested.json"), nested.getBytes("UTF-8"))
    val ndf = Readers.documentDump(spark, s"$dir/nested.json")
    assert(ndf.schema("meta_created").dataType.typeName == "timestamp")
    assert(ndf.head.getAs[java.sql.Timestamp]("meta_created") != null)
    // a flattened name colliding with a top-level column fails loudly
    // instead of emitting two ambiguous same-named columns
    val collide = """[{"addr_city": "x", "addr": {"city": "y"}}]"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/collide.json"), collide.getBytes("UTF-8"))
    intercept[IllegalArgumentException] {
      Readers.documentDump(spark, s"$dir/collide.json")
    }
  }

  test("a crashed compaction's orphan generation is never resurrected") {
    val dir = tmp()
    val path = s"$dir/t"
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(path)
    Sinks.commitSnapshot(spark, path) // v1
    // simulate a compaction that crashed after renaming its parts in
    // but before publishing _manifest-v00002
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/crashgen")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/crashgen"))
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    fs.rename(part, new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(path), "compact-v00002-p0000.parquet"))
    // an append + commit must NOT adopt the orphan (it would double
    // every head row)
    Seq((3L, "c")).toDF("k", "v").write.mode("append").parquet(path)
    Sinks.commitSnapshot(spark, path) // v2
    assert(Readers.readSnapshot(spark, path).collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
    // the orphan's version number (2) is now PUBLISHED — by the append
    // commit, not by the crashed compaction. A further commit must STILL
    // refuse to adopt the gen-named file: a version-was-published check
    // would mis-adopt it right here and duplicate every head row.
    Seq((4L, "d")).toDF("k", "v").write.mode("append").parquet(path)
    Sinks.commitSnapshot(spark, path) // v3
    assert(Readers.readSnapshot(spark, path).collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L, 4L))
    // and a compaction RETRY succeeds: the crashed leftovers of its
    // target generation are cleaned up before the renames
    val v4 = Sinks.compactSnapshot(spark, path)
    assert(v4 == 4)
    assert(Readers.readSnapshot(spark, path).collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L, 4L))
    // vacuum reclaims the never-referenced orphan generation once its
    // version falls behind the retention horizon — nothing else may
    val orphan = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(path), "compact-v00002-p0000.parquet")
    assert(fs.exists(orphan), "orphan survives until vacuum")
    Sinks.vacuumSnapshots(spark, path, keepLast = 2)
    assert(!fs.exists(orphan), "vacuum must reclaim the crashed generation")
    assert(Readers.readSnapshot(spark, path).collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L, 4L))
  }

  test("the parquet MERGE family rejects duplicate-key batches loudly") {
    val dir = tmp()
    val dup = Seq((1L, "x"), (1L, "y")).toDF("k", "v")
    intercept[IllegalArgumentException] {
      Sinks.mergeUpsert(spark, s"$dir/u", dup, "k")
    }
    val dupDelta = Seq((1L, "x", "insert"), (1L, "y", "update"))
      .toDF("k", "v", "change_type")
    intercept[IllegalArgumentException] {
      Sinks.applyChanges(spark, s"$dir/c", dupDelta, "k")
    }
  }

  test("documentDump handles legacy epoch-millis and canonical $date shapes") {
    val dir = tmp()
    // one mongoexport mode per dump file (as real exports are)
    val legacy =
      """[{"_id": {"$oid": "65f1d"}, "created": {"$date": 1579000000000}}]"""
    val canonical = """[{"_id": {"$oid": "65f1e"},
      |  "created": {"$date": {"$numberLong": "1579000000000"}}}]""".stripMargin
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/legacy.json"), legacy.getBytes("UTF-8"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/canonical.json"),
      canonical.getBytes("UTF-8"))
    val ts = Seq("legacy", "canonical").map { mode =>
      Readers.documentDump(spark, s"$dir/$mode.json")
        .head.getAs[java.sql.Timestamp]("created")
    }
    // both shapes are epoch MILLIS: 2020-01-14, not year ~52000
    assert(ts.forall(_ != null))
    assert(ts.forall(_.toInstant.toString.startsWith("2020-01-14")),
      s"epoch-millis must not be read as seconds: $ts")
    assert(ts(0) == ts(1), "legacy and canonical shapes must agree")
  }

  test("replaceSnapshot swaps the head while history stays readable") {
    val dir = tmp()
    val path = s"$dir/t"
    // works on a fresh directory: publishes v1
    val v1 = Sinks.replaceSnapshot(spark, path, Seq((1L, "a")).toDF("k", "v"))
    assert(v1 == 1)
    assert(Readers.readSnapshot(spark, path).count() == 1)
    // a full-refresh swap: head shows ONLY the replacement rows
    val v2 = Sinks.replaceSnapshot(spark, path,
      Seq((10L, "x"), (11L, "y")).toDF("k", "v"))
    assert(v2 == 2)
    assert(Readers.readSnapshot(spark, path).collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(10L, 11L))
    // time travel across the swap
    assert(Readers.readSnapshot(spark, path, Some(1)).collect()
      .map(_.getLong(0)).toSeq == Seq(1L))
    // append-then-commit after the swap must not resurrect v1's files
    Seq((12L, "z")).toDF("k", "v").write.mode("append").parquet(path)
    Sinks.commitSnapshot(spark, path)
    assert(Readers.readSnapshot(spark, path).collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(10L, 11L, 12L))
  }

  test("readSkipping over an EMPTY stats-committed dataset returns the empty frame") {
    // an empty dataset commits a row-less _stats sidecar; skipping reads
    // must yield the documented limit(0) frame, not throw
    val dir = tmp()
    val empty = Seq.empty[(Long, String)].toDF("k", "payload")
    Sinks.writeWithStats(empty, s"$dir/t", Seq("k"))
    val (files, total) = Readers.statsPrunedFiles(spark, s"$dir/t", "k", 0, 10)
    assert(files.isEmpty && total == 0)
    val got = Readers.readSkipping(spark, s"$dir/t", "k", 0, 10)
    assert(got.count() == 0 && got.columns.toSeq == Seq("k", "payload"))
    // but an UNPROFILED column on a NON-empty dataset still throws —
    // silently selecting zero files would be silent total data loss
    val full = Seq((1L, "a")).toDF("k", "payload")
    Sinks.writeWithStats(full, s"$dir/t2", Seq("k"))
    intercept[IllegalArgumentException] {
      Readers.readSkipping(spark, s"$dir/t2", "payload", 0, 10)
    }
  }

  test("appendSnapshotOnce: replay is a no-op at every crash point") {
    val dir = tmp()
    val path = s"$dir/table"
    val b0 = (1L to 10L).map(i => (i, s"r$i")).toDF("id", "text")
    // first delivery commits
    assert(Sinks.appendSnapshotOnce(spark, path, b0, "s1", 0L))
    assert(Readers.readSnapshot(spark, path).count() == 10)
    // replay after full commit (crash before the caller's marker):
    // generation already in history -> no-op, nothing doubles
    assert(!Sinks.appendSnapshotOnce(spark, path, b0, "s1", 0L))
    assert(Readers.readSnapshot(spark, path).count() == 10)
    // crash mid-append: uncommitted leftover files of the generation
    // exist but no manifest names them -> replay clears and redoes
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(path,
      "ingest-s1-b0000000001-p9999.parquet"), true).close()
    val b1 = (11L to 15L).map(i => (i, s"r$i")).toDF("id", "text")
    assert(Sinks.appendSnapshotOnce(spark, path, b1, "s1", 1L))
    assert(Readers.readSnapshot(spark, path).count() == 15)
    // the bogus leftover was cleared, not adopted
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path,
      "ingest-s1-b0000000001-p9999.parquet")))
    // a different stream's ids never collide
    assert(Sinks.appendSnapshotOnce(spark, path, b0, "s2", 0L))
    assert(Readers.readSnapshot(spark, path).count() == 25)
    // empty batches publish nothing and stay replayable no-ops
    val empty = b0.filter(org.apache.spark.sql.functions.col("id") < 0L)
    assert(Sinks.appendSnapshotOnce(spark, path, empty, "s1", 2L))
    assert(Readers.readSnapshot(spark, path).count() == 25)
  }

  test("appendSnapshotOnce: a hyphenated stream's generation is not another stream's batch") {
    val path = s"${tmp()}/table"
    val rows = (1L to 4L).map(i => (i, s"r$i")).toDF("id", "text")
    // stream "a-b0000000001" batch 2 names its parts
    // ingest-a-b0000000001-b0000000002-pNNNN: a prefix of them is
    // stream "a" batch 1's generation, which must still commit
    assert(Sinks.appendSnapshotOnce(spark, path, rows, "a-b0000000001", 2L))
    assert(Sinks.appendSnapshotOnce(spark, path, rows, "a", 1L))
    assert(Readers.readSnapshot(spark, path).count() == 8)
    assert(!Sinks.appendSnapshotOnce(spark, path, rows, "a", 1L))
    assert(Readers.readSnapshot(spark, path).count() == 8)
  }

  test("mergeAggregate commitTag publishes atomically with the data") {
    val dir = tmp()
    val path = s"$dir/rollup"
    val b = Seq(("a", 1L)).toDF("k", "n")
    assert(Sinks.storeCommitTag(spark, path).isEmpty)
    Sinks.mergeAggregate(spark, path, b, Seq("k"), Seq("n"),
      commitTag = Some("0"))
    assert(Sinks.storeCommitTag(spark, path).contains("0"))
    // the tag file is invisible to parquet readers
    assert(spark.read.parquet(path).count() == 1)
    // next swap replaces the tag (at most one exists)
    Sinks.mergeAggregate(spark, path, b, Seq("k"), Seq("n"),
      commitTag = Some("1"))
    assert(Sinks.storeCommitTag(spark, path).contains("1"))
    val tags = new java.io.File(path).listFiles
      .map(_.getName).filter(_.startsWith("_commit-")).toSeq
    assert(tags == Seq("_commit-1"))
    assert(spark.read.parquet(path).orderBy("k").head.getLong(1) == 2L)
  }

  test("racing committers: both appends survive under distinct versions (CAS)") {
    val dir = tmp()
    val path = s"$dir/table"
    (1L to 10L).map(i => (i, "base")).toDF("id", "src").write.parquet(path)
    assert(Sinks.commitSnapshot(spark, path) == 1)
    // both racers' data files are on disk BEFORE either commits — the
    // real shape: mode(Append) lands parts, then commitSnapshot publishes
    Seq((100L, "a")).toDF("id", "src").write.mode("append").parquet(path)
    Seq((200L, "b")).toDF("id", "src").write.mode("append").parquet(path)
    import java.util.concurrent.{CountDownLatch, Executors}
    val pool = Executors.newFixedThreadPool(2)
    val go = new CountDownLatch(1)
    val fa = pool.submit(() => { go.await(); Sinks.commitSnapshot(spark, path) })
    val fb = pool.submit(() => { go.await(); Sinks.commitSnapshot(spark, path) })
    go.countDown()
    val (va, vb) = (fa.get(), fb.get())
    pool.shutdown()
    // the claim is exclusive: the two commits can NEVER share a version
    // (the old last-writer-wins silently overwrote the loser's manifest)
    assert(va != vb, s"both committers published v$va")
    // and the head contains BOTH appended rows — neither commit is lost
    val head = Readers.readSnapshot(spark, path)
    assert(head.count() == 12, head.collect().mkString(","))
    assert(head.filter($"id" >= 100L).count() == 2)
  }

  test("snapshot tags: named time travel, immutability, and vacuum protection") {
    val dir = tmp()
    val path = s"$dir/table"
    (1L to 5L).map(i => (i, "v1")).toDF("id", "src").write.parquet(path)
    assert(Sinks.commitSnapshot(spark, path) == 1)
    // pin the audited input set by name
    assert(Sinks.tagSnapshot(spark, path, "train-run-7") == 1)
    // tags are immutable; a racing re-pin fails loudly
    intercept[java.io.IOException] { Sinks.tagSnapshot(spark, path, "train-run-7") }
    // only published versions are taggable
    intercept[java.io.FileNotFoundException] {
      Sinks.tagSnapshot(spark, path, "dangling", version = 9)
    }
    // bury v1 under three newer snapshots, then vacuum keepLast=2
    Seq((100L, "v2")).toDF("id", "src").write.mode("append").parquet(path)
    assert(Sinks.commitSnapshot(spark, path) == 2)
    Seq((200L, "v3")).toDF("id", "src").write.mode("append").parquet(path)
    assert(Sinks.commitSnapshot(spark, path) == 3)
    Seq((300L, "v4")).toDF("id", "src").write.mode("append").parquet(path)
    assert(Sinks.commitSnapshot(spark, path) == 4)
    Sinks.vacuumSnapshots(spark, path, keepLast = 2)
    // v2 (untagged, aged out) is gone; v1 stays readable BY NAME
    intercept[java.io.FileNotFoundException] {
      Readers.readSnapshot(spark, path, Some(2))
    }
    assert(Readers.readSnapshotTag(spark, path, "train-run-7").count() == 5)
    assert(Sinks.listTags(spark, path) == Map("train-run-7" -> 1))
    // delete the tag: the version ages out on the next sweep
    assert(Sinks.deleteTag(spark, path, "train-run-7"))
    Sinks.vacuumSnapshots(spark, path, keepLast = 2)
    intercept[java.io.FileNotFoundException] {
      Readers.readSnapshot(spark, path, Some(1))
    }
    // the head is untouched throughout
    assert(Readers.readSnapshot(spark, path).count() == 8)
  }

  test("readChangesBetweenTags: tag-endpoint changelog") {
    val dir = tmp()
    val path = s"$dir/table"
    (1L to 3L).map(i => (i, "a")).toDF("id", "src").write.parquet(path)
    Sinks.commitSnapshot(spark, path)
    Sinks.tagSnapshot(spark, path, "run-a")
    Seq((10L, "b"), (11L, "b")).toDF("id", "src")
      .write.mode("append").parquet(path)
    Sinks.commitSnapshot(spark, path)
    Sinks.tagSnapshot(spark, path, "run-b")
    val delta = Readers.readChangesBetweenTags(spark, path, "run-a", "run-b")
    assert(delta.count() == 2)
    assert(delta.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(10L, 11L))
    intercept[java.io.FileNotFoundException] {
      Readers.readChangesBetweenTags(spark, path, "run-a", "missing")
    }
  }

  test("compaction aborts instead of dropping an append that commits inside its rewrite window") {
    val dir = tmp()
    val path = s"$dir/table"
    (1L to 10L).map(i => (i, "base")).toDF("id", "src").write.parquet(path)
    assert(Sinks.commitSnapshot(spark, path) == 1)
    // the racing append lands + commits between compaction's read of the
    // head and its manifest publish — the lost-append window: compaction's
    // manifest names ONLY the rewrite of v1's rows
    val ex = intercept[java.io.IOException] {
      Sinks.compactSnapshotHooked(spark, path, 1, () => {
        Seq((100L, "late")).toDF("id", "src").write.mode("append").parquet(path)
        Sinks.commitSnapshot(spark, path)
        ()
      })
    }
    assert(ex.getMessage.contains("compaction CAS failed"), ex.getMessage)
    // the head is the append's commit — the appended row survived
    val head = Readers.readSnapshot(spark, path)
    assert(head.count() == 11, s"append lost: ${head.count()} rows")
    assert(head.filter($"id" === 100L).count() == 1)
    // the abort released its claim and left only unreferenced garbage:
    // a retry compacts the NEW head (append included) and succeeds
    Sinks.compactSnapshot(spark, path)
    assert(Readers.readSnapshot(spark, path).count() == 11)
  }

  test("compaction is not wedged by a pre-existing crashed claim below its number") {
    val dir = tmp()
    val path = s"$dir/table"
    (1L to 5L).map(i => (i, "x")).toDF("id", "src").write.parquet(path)
    assert(Sinks.commitSnapshot(spark, path) == 1)
    // a committer claimed v2 and died long before this compaction began:
    // burned number, not an in-flight append — compaction allocates
    // above it and must still publish (only claims that appear AFTER the
    // compaction starts read as racers)
    new java.io.File(path, "_claim-v00002").createNewFile()
    val v = Sinks.compactSnapshot(spark, path)
    assert(v == 3, s"expected v3 above the burned claim, got v$v")
    assert(Readers.readSnapshot(spark, path).count() == 5)
  }

  test("a claimed-but-crashed version is skipped, unreadable, and vacuumable") {
    val dir = tmp()
    val path = s"$dir/table"
    (1L to 5L).map(i => (i, "x")).toDF("id", "src").write.parquet(path)
    assert(Sinks.commitSnapshot(spark, path) == 1)
    // simulate a committer that claimed v2 and died before the content
    // swap: an orphan claim marker
    new java.io.File(path, "_claim-v00002").createNewFile()
    // readers never resolve the claim as a snapshot
    assert(Readers.readSnapshot(spark, path).count() == 5) // head is v1
    intercept[java.io.FileNotFoundException] {
      Readers.readSnapshot(spark, path, Some(2))
    }
    // the next commit allocates ABOVE the burned number, never spins on
    // or reuses it
    Seq((9L, "y")).toDF("id", "src").write.mode("append").parquet(path)
    assert(Sinks.commitSnapshot(spark, path) == 3)
    assert(Readers.readSnapshot(spark, path).count() == 6)
    // enough history that the claim falls below the vacuum horizon
    // (published v1,v3,v4,v5; keepLast=2 drops v1,v3 → horizon 3 ≥ 2)
    Seq((10L, "z")).toDF("id", "src").write.mode("append").parquet(path)
    assert(Sinks.commitSnapshot(spark, path) == 4)
    Seq((11L, "w")).toDF("id", "src").write.mode("append").parquet(path)
    assert(Sinks.commitSnapshot(spark, path) == 5)
    Sinks.vacuumSnapshots(spark, path, keepLast = 2)
    assert(!new java.io.File(path, "_claim-v00002").exists(),
      "horizon-passed claim marker should be reclaimed")
    assert(Readers.readSnapshot(spark, path).count() == 8)
  }

  test("an append that publishes after a compaction's CAS re-check self-repairs into the head") {
    // the documented residual window of the compaction CAS: the append
    // CLAIMS its version before the compaction snapshots the allocation
    // state (so the claim reads as a crashed leftover) and PUBLISHES
    // after the compaction's pre-publish re-check — deterministically
    // interleaved via the commit-side seam
    val dir = tmp()
    val path = s"$dir/table"
    (1L to 10L).map(i => (i, "base")).toDF("id", "src").write.parquet(path)
    assert(Sinks.commitSnapshot(spark, path) == 1)
    Seq((100L, "late")).toDF("id", "src").write.mode("append").parquet(path)
    val v = Sinks.commitSnapshotHooked(spark, path, () => {
      // runs with the append's claim on v2 already taken: the full
      // compaction sees it as pre-existing (ignored), claims v3,
      // passes its re-check, and publishes head v3 = rewrite of v1 only
      assert(Sinks.compactSnapshot(spark, path) == 3)
    })
    // the append detected its shadowed manifest (v2 below head v3 whose
    // file set lacks the new file) and republished on top: the final
    // head carries BOTH the compacted base and the appended row
    assert(v == 4, s"expected the repair publish at v4, got v$v")
    val head = Readers.readSnapshot(spark, path)
    assert(head.count() == 11, s"append lost: ${head.count()} rows")
    assert(head.filter($"id" === 100L).count() == 1)
    // history stays intact: the compaction-only head remains readable
    assert(Readers.readSnapshot(spark, path, Some(3)).count() == 10)
  }

  test("a compaction that already absorbed an append's rows is not double-applied by the repair") {
    // the OTHER side of the shadowed-append window: the append PUBLISHES
    // v2, then stalls before its visibility check while a compaction
    // reads head v2 (the appended row included), rewrites it as v3, and
    // publishes. The repair used to see its part names missing from the
    // head and republish them on top — duplicating every appended row;
    // the compaction's recorded rewrite base (v2 ≥ the append's version)
    // now tells it the rows are already in the head.
    val dir = tmp()
    val path = s"$dir/table"
    (1L to 10L).map(i => (i, "base")).toDF("id", "src").write.parquet(path)
    assert(Sinks.commitSnapshot(spark, path) == 1)
    Seq((100L, "late")).toDF("id", "src").write.mode("append").parquet(path)
    val v = Sinks.commitSnapshotHooked(spark, path, () => (),
      afterPublish = () => {
        assert(Sinks.compactSnapshot(spark, path) == 3)
      })
    assert(v == 2, s"expected no repair publish, got v$v")
    val head = Readers.readSnapshot(spark, path)
    assert(head.count() == 11, s"rows duplicated or lost: ${head.count()}")
    assert(head.filter($"id" === 100L).count() == 1,
      "appended row must appear exactly once in the head")
    // and a REPLACEMENT in the same window still repairs (base 0 carries
    // nothing): the replaced head plus the appended row
    Seq((200L, "late2")).toDF("id", "src").write.mode("append").parquet(path)
    val v2 = Sinks.commitSnapshotHooked(spark, path, () => (),
      afterPublish = () => {
        Sinks.replaceSnapshot(spark, path,
          Seq((500L, "swap")).toDF("id", "src"))
        ()
      })
    val head2 = Readers.readSnapshot(spark, path)
    val hp = new org.apache.hadoop.fs.Path(path)
    val hfs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(v2 == Snapshots.versions(hfs, hp).last,
      s"repair must own the head, got v$v2")
    assert(head2.count() == 2, s"expected swap + appended row: ${head2.count()}")
    assert(head2.filter($"id" === 200L).count() == 1)
    assert(head2.filter($"id" === 500L).count() == 1)
  }

  test("vacuum sweeps stale claims and orphan generations even when every aged-out version is tagged") {
    val dir = tmp()
    val path = s"$dir/table"
    (1L to 5L).map(i => (i, "x")).toDF("id", "src").write.parquet(path)
    assert(Sinks.commitSnapshot(spark, path) == 1)
    // a committer claimed v2 and crashed — burned, unpublished number
    new java.io.File(path, "_claim-v00002").createNewFile()
    Seq((9L, "y")).toDF("id", "src").write.mode("append").parquet(path)
    assert(Sinks.commitSnapshot(spark, path) == 3)
    Seq((10L, "z")).toDF("id", "src").write.mode("append").parquet(path)
    assert(Sinks.commitSnapshot(spark, path) == 4)
    Seq((11L, "w")).toDF("id", "src").write.mode("append").parquet(path)
    assert(Sinks.commitSnapshot(spark, path) == 5)
    // a crashed compaction's generation file for the burned v2 — never
    // referenced by any manifest
    new java.io.File(path, "compact-v00002-p0000.parquet").createNewFile()
    // tag BOTH aged-out versions (keepLast=2 drops v1, v3): the old
    // early return would skip the claim/orphan sweep entirely here
    Sinks.tagSnapshot(spark, path, "pin-1", version = 1)
    Sinks.tagSnapshot(spark, path, "pin-3", version = 3)
    val removed = Sinks.vacuumSnapshots(spark, path, keepLast = 2)
    assert(removed == 1, s"expected the orphan generation reclaimed, got $removed")
    assert(!new java.io.File(path, "compact-v00002-p0000.parquet").exists(),
      "orphan generation must be reclaimed even on an all-tagged sweep")
    assert(!new java.io.File(path, "_claim-v00002").exists(),
      "stale claim must be reclaimed even on an all-tagged sweep")
    // the tagged versions stayed fully readable
    assert(Readers.readSnapshotTag(spark, path, "pin-1").count() == 5)
    assert(Readers.readSnapshotTag(spark, path, "pin-3").count() == 6)
    assert(Readers.readSnapshot(spark, path).count() == 8)
  }

  test("a tag landing inside vacuum's destructive window restores the version (no dangling tag)") {
    val dir = tmp()
    val path = s"$dir/table"
    (1L to 5L).map(i => (i, "x")).toDF("id", "src").write.parquet(path)
    assert(Sinks.commitSnapshot(spark, path) == 1)
    Seq((9L, "y")).toDF("id", "src").write.mode("append").parquet(path)
    assert(Sinks.commitSnapshot(spark, path) == 2)
    Seq((10L, "z")).toDF("id", "src").write.mode("append").parquet(path)
    assert(Sinks.commitSnapshot(spark, path) == 3)
    // the racing tagSnapshot read the published set while v1 was live,
    // and its rename lands right after vacuum deleted v1's manifest —
    // simulated by dropping the tag file in vacuum's post-delete seam
    Sinks.vacuumSnapshotsHooked(spark, path, 2, () => {
      val out = new java.io.FileOutputStream(new java.io.File(path, "_tag-raced"))
      try out.write("1\n".getBytes("UTF-8")) finally out.close()
    })
    // vacuum must have restored v1's manifest and kept its files: the
    // tag resolves and reads bit-for-bit
    assert(Sinks.listTags(spark, path) == Map("raced" -> 1))
    assert(Readers.readSnapshotTag(spark, path, "raced").count() == 5)
    assert(Readers.readSnapshot(spark, path, Some(1)).count() == 5)
    assert(Readers.readSnapshot(spark, path).count() == 7)
  }

  test("a tag that loses the race to vacuum retracts loudly instead of dangling") {
    val dir = tmp()
    val path = s"$dir/table"
    (1L to 5L).map(i => (i, "x")).toDF("id", "src").write.parquet(path)
    assert(Sinks.commitSnapshot(spark, path) == 1)
    Seq((9L, "y")).toDF("id", "src").write.mode("append").parquet(path)
    assert(Sinks.commitSnapshot(spark, path) == 2)
    Seq((10L, "z")).toDF("id", "src").write.mode("append").parquet(path)
    assert(Sinks.commitSnapshot(spark, path) == 3)
    // the tag read the published set while v1 was live, then an ENTIRE
    // vacuum (including its late-tag re-read) ran before the tag's
    // rename — the tag-side post-publish re-check must retract it
    val ex = intercept[java.io.IOException] {
      Sinks.tagSnapshotHooked(spark, path, "doomed", 1, () => {
        Sinks.vacuumSnapshots(spark, path, keepLast = 2); ()
      })
    }
    assert(ex.getMessage.contains("lost a race with vacuum"), ex.getMessage)
    // no dangling ref: the tag is gone and the version is vacuumed
    assert(Sinks.listTags(spark, path).isEmpty)
    intercept[java.io.FileNotFoundException] {
      Readers.readSnapshot(spark, path, Some(1))
    }
    assert(Readers.readSnapshot(spark, path).count() == 7)
  }
}
