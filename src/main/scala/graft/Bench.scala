package graft
object Bench {
  /** JVM pids alive on this box that are neither this process nor one of
    * its ancestors (sbt launching us is fine; a concurrent Spark suite is
    * not). Round 12 committed a snapshot measured ~14% hot because another
    * JVM shared the 32 cores — the numbers looked like four real
    * regressions. Every run now measures this up front; the result is
    * stamped into both JSON outputs as `contended_jvms` so a hot snapshot
    * can never masquerade as clean, and SPARK_GRAFT_BENCH_STRICT=1 refuses
    * to run at all under contention (exit 2).
    *
    * "Alive" is not enough: a long-lived idle JVM (IDE indexer, build
    * daemon) would permanently flag contention on a box that is
    * effectively idle. Each candidate's totalCpuDuration is sampled
    * twice over ~400 ms wall; only processes that burned >40 ms CPU in
    * the window (>~10% of one core) count as contending. A JVM whose
    * CPU accounting is unreadable (other uid) stays flagged — the
    * conservative side is a false WARN, not a hot snapshot stamped
    * clean.
    */
  private def foreignJvms(): Seq[Long] = {
    import scala.jdk.CollectionConverters._
    val self = ProcessHandle.current()
    val ancestors = Iterator.iterate(Option(self))(_.flatMap(h =>
      Option(h.parent().orElse(null)))).takeWhile(_.isDefined)
      .flatten.map(_.pid()).toSet
    def cpuMs(h: ProcessHandle): Option[Long] =
      Option(h.info().totalCpuDuration().orElse(null)).map(_.toMillis)
    val candidates = ProcessHandle.allProcesses().iterator().asScala
      .filter(h => !ancestors.contains(h.pid()))
      .filter(_.info().command().map[Boolean](c =>
        c.endsWith("/java") || c == "java").orElse(false))
      .toSeq
    if (candidates.isEmpty) return Seq.empty
    val before = candidates.map(h => h.pid() -> cpuMs(h)).toMap
    Thread.sleep(400)
    candidates.filter { h =>
      (before.get(h.pid()).flatten, cpuMs(h)) match {
        case (Some(b), Some(a)) => a - b > 40 // actively burning CPU
        case _ => h.isAlive // unreadable accounting: assume contending
      }
    }.map(_.pid()).sorted
  }

  def main(args: Array[String]): Unit = {
    val contended = foreignJvms()
    if (contended.nonEmpty) {
      System.err.println(s"[bench] WARNING: ${contended.length} foreign " +
        s"JVM(s) alive (pids ${contended.mkString(",")}) — timings will " +
        "run HOT and are not comparable to a clean snapshot")
      if (sys.env.get("SPARK_GRAFT_BENCH_STRICT").contains("1")) {
        System.err.println("[bench] SPARK_GRAFT_BENCH_STRICT=1: refusing " +
          "to run under contention")
        sys.exit(2)
      }
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    // optional subset: `runMain graft.Bench q1 q2` re-times named
    // queries only (regression adjudication) — the driver passes none
    val only = args.toSet
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
    // Warmup pass on the target dir: pays JVM/JIT/codegen-compile AND
    // file-listing/footer caches once so the timed pass measures the
    // engine, not HotSpot or first-touch metadata IO.
    ordered.foreach { case (_, fn) =>
      try fn(spark, sfDir).count() catch { case _: Throwable => () }
      // operators persist intermediates for their own multi-branch plans;
      // drop them between queries so timings don't alias cache reuse —
      // including per-call managed checkpoints, whose blocks would
      // otherwise accumulate across the whole pass (memo entries stay)
      spark.catalog.clearCache()
      graft.operators.Memo.releaseManaged()
    }
    // The warmup built the session-scoped memoized intermediates (the
    // LSH pair graph etc.); drop them so the timed pass pays each
    // derivation exactly once — the honest cost of a fresh session
    // running the whole workload. Later queries then show the documented
    // reuse, which is the engine's real steady-state behavior.
    graft.operators.Memo.invalidate()
    graft.operators.Memo.drainBuildSeconds() // discard warmup attributions
    // Memo-miss derivations (LSH pair graph, cluster labels) are shared
    // intermediates: attributing them to whichever query alphabetically
    // runs first would make that query's number incomparable across
    // rounds. Each derivation reports as its own "memo:<op>" line item
    // and is subtracted from the triggering query's wall time; the total
    // still includes everything.
    val memoAgg = scala.collection.mutable.LinkedHashMap[String, Double]()
    // Median of 3 timed iterations per query: the box shows documented
    // ~2× run-to-run variance, and a single sample per round made every
    // cross-round comparison eat that noise (round 4 adjudicated four
    // phantom "regressions" that re-timed at steady state). The memoized
    // shared derivations still bill once, to their own memo:* line item
    // (subtracted from whichever iteration paid them), so the median is
    // over comparable steady-state samples.
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt
    val results = ordered.map { case (name, fn) =>
      val samples = (1 to iters).map { _ =>
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); false
        }
        val sec = (System.nanoTime() - t0) / 1e9
        val memo = graft.operators.Memo.drainBuildSeconds()
        memo.foreach { case (op, s) =>
          val k = "memo:" + op
          memoAgg(k) = memoAgg.getOrElse(k, 0.0) + s
        }
        // per-iteration cache drop: a query's own persisted
        // intermediates must not make iterations 2..n artificially warm
        // (and per-call checkpoints must not pile up blocks all pass)
        spark.catalog.clearCache()
        graft.operators.Memo.releaseManaged()
        (math.max(0.0, sec - memo.values.sum), ok)
      }
      val good = samples.collect { case (s, true) => s }.sorted
      val median =
        if (good.isEmpty) 0.0 else good(good.length / 2)
      // an intermittent failure is a failure: only all-iterations-green
      // counts, or a query flaky under memory pressure would report a
      // normal-looking median and vanish from the failed list
      (name, median, good.length == samples.length,
        if (good.isEmpty) (0.0, 0.0) else (good.head, good.last))
    }
    // failed queries report null (never a normal-looking duration) and
    // are listed separately so a failure can't hide in the totals
    def ms(v: Double): String = f"$v%.3f"
    val all = results.map { case (k, v, ok, _) => (k, v, ok) } ++
      memoAgg.map { case (k, v) => (k, v, true) }
    val fullJson = all.map { case (k, v, ok) =>
      "\"" + k + "\":" + (if (ok) ms(v) else "null")
    }.mkString("{", ",", "}")
    // per-query [min, max] across the timed iterations: the box shows
    // ~2× run-to-run variance, and a cross-round comparison that reads
    // only the median keeps adjudicating phantom regressions — the
    // spread says whether a delta is signal or one noisy sample
    val spreadJson = results.map { case (k, _, _, (lo, hi)) =>
      "\"" + k + "\":[" + ms(lo) + "," + ms(hi) + "]"
    }.mkString("{", ",", "}")
    val failed = results.collect { case (k, _, false, _) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.collect { case (_, v, true, _) => v }.sum +
      memoAgg.values.sum
    // The harness that reads this output keeps only the last ~2000 chars
    // of stdout, so the per-query map for 150+ queries cannot ride on the
    // summary line. Full per-query timings go to BENCH_FULL.json; the
    // printed line carries the headline total plus the top slowest
    // queries (the ones worth cross-round comparison) and stays <1.5 KB.
    // `runs` distinguishes a committed median-of-3 snapshot from a
    // single-shot rerun — two clean runs still differ ~13% total, so a
    // reader comparing snapshots needs to know which protocol produced
    // each (the committed convention is runs:3 + STRICT=1).
    // A named subset re-times a few queries only: it must not replace
    // the full-run snapshot, so it prints the summary line alone.
    // stamps: the core count, the JVM's max heap in bytes and the commit
    // (the 8- and 32-core snapshots once looked alike in the file)
    val gitSha = try sys.process.Process(Seq("git", "rev-parse", "HEAD"))
      .!!(sys.process.ProcessLogger(_ => ())).trim
      catch { case _: Exception => "unknown" }
    val cj = s""""contended_jvms":${contended.length},"runs":$iters,""" +
      s""""cpus":$cpus,"heap":${Runtime.getRuntime.maxMemory},"git_sha":"$gitSha""""
    val full = if (only.nonEmpty) "" else {
      java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_FULL.json"),
        s"""{"metric":"total","value":${ms(total)},"unit":"sec","n":${results.size},$cj,"queries":$fullJson,"spread":$spreadJson,"failed":$failed,"sf":"$sfDir"}\n"""
          .getBytes("UTF-8"))
      ""","full":"BENCH_FULL.json""""
    }
    val top = all.filter(_._3).sortBy(-_._2).take(12)
      .map { case (k, v, _) => "\"" + k + "\":" + ms(v) }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${ms(total)},"unit":"sec","n":${results.size},$cj,"queries":$top,"failed":$failed$full,"sf":"$sfDir"}""")
    spark.stop()
  }
}
