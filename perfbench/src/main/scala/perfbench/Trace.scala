package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One timed interval at a layer boundary. `parent` is the enclosing
  * span's id (0 at the top); an operation's spans share its `op` id.
  */
final case class Span(id: Long, parent: Long, op: Long, layer: String,
    name: String, startNs: Long, var endNs: Long = 0L,
    attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap())

/** Engine counters summed over an interval, keyed by the per-layer
  * metric names they feed (seconds and bytes, not ms).
  */
final class Counters {
  val values = mutable.LinkedHashMap[String, Double]()
  def add(k: String, x: Double): Unit = values(k) = values.getOrElse(k, 0.0) + x
  def apply(k: String): Double = values.getOrElse(k, 0.0)
  def copy(): Counters = { val c = new Counters; c.values ++= values; c }
  def minus(o: Counters): Counters = {
    val c = copy()
    o.values.foreach { case (k, x) => c.add(k, -x) }
    c
  }
}

/** Spans plus engine counters, for a traced run. The benchmark registers
  * a SparkListener (jobs, stages, task metrics) and a
  * QueryExecutionListener (planning time); the program registers
  * nothing. Spans stay in memory until [[writeSpans]] at exit.
  *
  * Job attribution: an operation span sets the local property
  * `perfbench.op`, which Spark copies into the properties of every job
  * the operation launches.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private var nextId = 0L
  val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Span]()
  private val total = new Counters
  private val byOp = mutable.HashMap[Long, Counters]()
  private val stageOp = mutable.HashMap[Int, Long]()
  private val openJobs = mutable.HashSet[Int]()
  var enabled = false

  private def charge(op: Long)(f: Counters => Unit): Unit = synchronized {
    f(total)
    f(byOp.getOrElseUpdate(op, new Counters))
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = Option(e.properties).flatMap(p =>
        Option(p.getProperty("perfbench.op"))).map(_.toLong).getOrElse(0L)
      Tracer.this.synchronized {
        openJobs += e.jobId
        e.stageIds.foreach(stageOp(_) = op)
      }
      charge(op)(_.add("spark.jobs", 1))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Tracer.this.synchronized { openJobs -= e.jobId }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val op = Tracer.this.synchronized(stageOp.getOrElse(e.stageInfo.stageId, 0L))
      charge(op) { c =>
        c.add("spark.stages", 1)
        c.add("spark.single_task_stages", if (e.stageInfo.numTasks == 1) 1 else 0)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      val op = Tracer.this.synchronized(stageOp.getOrElse(e.stageId, 0L))
      charge(op) { c =>
        c.add("spark.tasks", 1)
        c.add("exec.run_s", m.executorRunTime / 1e3)
        c.add("exec.cpu_s", m.executorCpuTime / 1e9)
        c.add("exec.gc_s", m.jvmGCTime / 1e3)
        c.add("scan.bytes", m.inputMetrics.bytesRead)
        c.add("scan.rows", m.inputMetrics.recordsRead)
        c.add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten)
        c.add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead)
        c.add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        c.add("spill.bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  /** Analysis + optimization + physical planning of every action, as
    * Spark's planning tracker reports them: graft's Catalyst rules and the
    * adaptive initial plan are inside, re-planning between adaptive
    * stages is not.
    */
  private val planListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      val ms = Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(_.durationMs).sum
      charge(0L) { c => c.add("plans.plan_s", ms / 1e3); c.add("plans.actions", 1) }
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  def start(): Unit = if (!enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(planListener)
    enabled = true
  }

  def stop(): Unit = if (enabled) {
    settle()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(planListener)
    enabled = false
  }

  /** Wait (at most 10 s) for queued listener events: no job is open and
    * the counters have stopped moving for three polls.
    */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 10_000_000_000L
    var last = -1.0
    var stable = 0
    while (System.nanoTime() < deadline && stable < 3) {
      val (open, seen) = synchronized(
        (openJobs.size, total("spark.tasks") + total("plans.actions")))
      if (open == 0 && seen == last) stable += 1 else stable = 0
      last = seen
      Thread.sleep(20)
    }
  }

  /** All counters so far, after the listener queues drain. */
  def snapshot(): Counters = { settle(); synchronized(total.copy()) }

  /** Run `body` as a span; a top-level span is an operation and tags the
    * jobs it launches. With tracing off only the body runs.
    */
  def span[T](layer: String, name: String)(body: => T): T = {
    if (!enabled) return body
    val parent = stack.headOption
    nextId += 1
    val s = Span(nextId, parent.map(_.id).getOrElse(0L),
      parent.map(_.op).getOrElse(nextId), layer, name, System.nanoTime())
    spans += s
    stack.push(s)
    if (parent.isEmpty) sc.setLocalProperty("perfbench.op", s.op.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      stack.pop()
      if (parent.isEmpty) sc.setLocalProperty("perfbench.op", null)
    }
  }

  /** Attach a number to the innermost open span. */
  def note(key: String, value: Double): Unit =
    if (enabled) stack.headOption.foreach(_.attrs(key) = value)

  /** Seconds spent in spans of `layer` that started at or after `fromNs`. */
  def secondsIn(layer: String, fromNs: Long): Double =
    spans.iterator.filter(s => s.layer == layer && s.startNs >= fromNs)
      .map(s => (s.endNs - s.startNs) / 1e9).sum

  /** One JSON object per span; an operation span also carries the
    * engine counters of the jobs it launched.
    */
  def writeSpans(path: String): Unit = {
    settle()
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      val engine = if (s.parent != 0) Nil
        else synchronized(byOp.get(s.id)).map(_.values.toSeq).getOrElse(Nil)
      val attrs = (s.attrs.toSeq ++ engine)
        .map { case (k, v) => s""""$k":$v""" }.mkString(",")
      w.println(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},""" +
        s""""layer":"${s.layer}","name":"${s.name}","start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"attrs":{$attrs}}""")
    } finally w.close()
  }
}
