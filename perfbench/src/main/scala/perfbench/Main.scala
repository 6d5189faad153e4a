package perfbench

import graft.GraftSession
import graft.operators.Memo
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import scala.collection.mutable

/** The benchmark's JVM side: one client thread, one `local[N]` session,
  * closed-loop passes over one workload.
  *
  * {{{
  * Main --workload warehouse --lake <dir> --work <dir> --seed 1 \
  *      --seconds 10 --trace 0 --cores 4
  * }}}
  *
  * Writes `<work>/result.json` (raw samples the Python side turns into
  * metrics), the outputs the Python side checks, and with `--trace 1`
  * `<work>/spans.jsonl`.
  */
object Main {
  final case class Opts(workload: String, lake: String, work: String,
      seed: Long, seconds: Double, trace: Boolean, cores: Int)

  /** What one operation of a pass measured. */
  final case class OpSample(name: String, seconds: Double, ok: Boolean,
      latency: Boolean)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("lake"), m("work"), m.getOrElse("seed", "1").toLong,
      m.getOrElse("seconds", "10").toDouble, m.getOrElse("trace", "0") == "1",
      m.getOrElse("cores", "4").toInt)
  }

  def session(o: Opts): SparkSession = {
    val spark = GraftSession.configure(SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local"))
      .getOrCreate()
    GraftSession.register(spark)
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Cached RDD partitions and their megabytes, per Spark's storage status. */
  def cachedBlocks(spark: SparkSession): (Long, Double) = {
    val infos = spark.sparkContext.getRDDStorageInfo
    (infos.map(_.numCachedPartitions.toLong).sum,
      infos.map(i => i.memSize + i.diskSize).sum / 1048576.0)
  }

  /** Cached RDD partitions once removals already asked for have landed:
    * graft unpersists without blocking, so poll (at most 10 s) until the
    * count has not changed for five polls 50 ms apart.
    */
  def settledBlocks(spark: SparkSession): Long = {
    val deadline = System.nanoTime() + 10_000_000_000L
    var last = cachedBlocks(spark)._1
    var stable = 0
    while (System.nanoTime() < deadline && stable < 5) {
      Thread.sleep(50)
      val now = cachedBlocks(spark)._1
      if (now == last) stable += 1 else stable = 0
      last = now
    }
    last
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def json(v: Any): String = v match {
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", "\\n").replace("\r", "\\r").replace("\t", "\\t") + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case null => "null"
    case other => json(other.toString)
  }

  def main(args: Array[String]): Unit = {
    val processStartNs =
      System.nanoTime() - ManagementFactory.getRuntimeMXBean.getUptime * 1000000L
    val o = parse(args)
    new java.io.File(o.work).mkdirs()
    val wl = Workload(o)

    // set-up, from process start to the first timed pass: build the
    // session, register graft, run two untimed warm-up passes — the first
    // writes the outputs the checker reads, the second runs as a timed
    // pass does (without it the first timed pass ran 20–50 % slower than
    // the rest, the JIT still compiling)
    val s0 = System.nanoTime()
    val spark = session(o)
    val s1 = System.nanoTime()
    val tracer = new Tracer(spark)
    val rng = new scala.util.Random(o.seed)
    // every memo and operator-internal frame goes, so what is still
    // cached once the removals have landed has leaked
    def release(): Unit = {
      spark.catalog.clearCache()
      Memo.releaseManaged()
      Memo.invalidate()
    }
    wl.warmup(spark)
    wl.pass(spark, tracer, rng, -1)
    release()
    wl.afterPass()
    Memo.drainBuildSeconds()
    val s2 = System.nanoTime()
    val setup = (s2 - processStartNs) / 1e9

    // timed passes: closed loop for `seconds`; with tracing on, passes
    // run in blocks of untraced, traced, traced, untraced, so the run also
    // measures its own overhead and a steady drift in speed cancels out
    val passes = mutable.ArrayBuffer[(Boolean, Double, Seq[OpSample])]()
    val layers = mutable.ArrayBuffer[Map[String, Double]]()
    val leaked = mutable.ArrayBuffer[Double]()
    val runStart = System.nanoTime()
    def elapsed = (System.nanoTime() - runStart) / 1e9
    def more = if (o.trace) passes.isEmpty || passes.size % 4 != 0 || elapsed < o.seconds
      else passes.size < 2 || elapsed < o.seconds
    while (more) {
      val traced = o.trace && Set(1, 2)(passes.size % 4)
      if (traced) tracer.start() else tracer.stop()
      val before = if (traced) tracer.snapshot() else null
      val p0 = System.nanoTime()
      val ops = wl.pass(spark, tracer, rng, passes.size)
      val wall = (System.nanoTime() - p0) / 1e9
      passes += ((traced, wall, ops))
      if (traced) {
        val c = tracer.snapshot().minus(before)
        val (_, pinnedMb) = cachedBlocks(spark)
        layers += wl.passLayers(tracer, p0) ++ c.values ++ Map(
          "exec.driver_gap_s" -> (wall - c("exec.run_s") / o.cores),
          "memo.pinned_mb" -> pinnedMb,
          "pass_s" -> wall)
      }
      release()
      if (o.trace) leaked += settledBlocks(spark).toDouble
      wl.afterPass()
    }
    tracer.stop()
    val planChecks = wl.planChecks.map { case (op, needle) =>
      op -> lastPlan(spark, op).exists(_.contains(needle))
    }
    if (o.trace) tracer.writeSpans(s"${o.work}/spans.jsonl")
    spark.catalog.clearCache()
    Memo.invalidate()
    val retainedMb = retainedHeapMb()

    val untraced = passes.filterNot(_._1)
    val perLayer: Map[String, Double] =
      if (!o.trace) Map.empty
      else {
        val keys = layers.flatMap(_.keys).distinct
        val med = keys.map(k => k -> median(layers.map(_.getOrElse(k, 0.0)).toSeq)).toMap
        med ++ Map(
          "session.start_s" -> (s1 - s0) / 1e9,
          "session.warmup_s" -> (s2 - s1) / 1e9,
          "memo.leaked_blocks" -> median(leaked.toSeq),
          "trace.untraced_pass_s" -> median(untraced.map(_._2).toSeq),
          "trace.overhead_s" -> (med("pass_s") - median(untraced.map(_._2).toSeq)))
      }
    val timed = if (o.trace) passes.filter(_._1) else passes
    val ops = timed.flatMap(_._3)
    val result = Map(
      "workload" -> o.workload,
      "setup_s" -> setup,
      "pass_s" -> timed.map(_._2).toSeq,
      "latency_s" -> ops.filter(o => o.ok && o.latency).map(_.seconds).toSeq,
      "attempted" -> passes.flatMap(_._3).size,
      "failed_ops" -> passes.flatMap(_._3).filterNot(_.ok).map(_.name).distinct.toSeq,
      "failed" -> passes.flatMap(_._3).count(!_.ok),
      "retained_mb" -> retainedMb,
      "plan_checks" -> planChecks,
      "per_layer" -> perLayer,
      "cores" -> o.cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "spark_version" -> spark.version,
      "jdk_version" -> System.getProperty("java.version"),
      "foreign_jvms" -> foreignJvms().size) ++ wl.extra(spark)
    val w = new java.io.PrintWriter(s"${o.work}/result.json", "UTF-8")
    try w.println(json(result)) finally w.close()
    spark.stop()
  }

  /** Heap in use after full GCs, repeated until it stops falling: each
    * GC lets Spark's context cleaner drop the broadcast and shuffle state
    * of collected plans, which the next GC can then reclaim.
    */
  def retainedHeapMb(): Double = {
    def used() = {
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var last = used()
    var now = used()
    var rounds = 2
    while (now < last * 0.99 && rounds < 8) { last = now; now = used(); rounds += 1 }
    now
  }

  /** Physical plan text of the last action run under job description
    * `perfbench:<op>`, from Spark's own SQL status store.
    */
  def lastPlan(spark: SparkSession, op: String): Option[String] = {
    import scala.jdk.CollectionConverters._
    spark.sharedState.statusStore.executionsList()
      .filter(_.description == s"perfbench:$op")
      .sortBy(_.executionId).lastOption.map(_.physicalPlanDescription)
  }

  /** JVMs on the same host, other than this process and its ancestors,
    * that burned more than 40 ms of CPU in a 400 ms window — the rule
    * `graft.Bench` stamps as `contended_jvms`.
    */
  def foreignJvms(): Seq[Long] = {
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
        case (Some(b), Some(a)) => a - b > 40
        case _ => h.isAlive
      }
    }.map(_.pid()).sorted
  }
}
