package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution}

/** Session-scoped materialized-intermediate reuse — the engine-side
  * analog of a materialized view — and the one owner of every frame the
  * operators pin. Pipelines compose operators that share expensive
  * intermediates (the LSH pair graph feeds dedup_minhash_lsh,
  * dedup_clusters, dedup_survivors AND curated_corpus); without reuse,
  * each query in one session re-derives the whole graph — at 100 TB that
  * means re-minhashing the corpus four times.
  *
  * Keying: operator name + parameters + the canonicalized logical plan of
  * the input (full plan string, so a hash collision can never alias two
  * different inputs) — the same operator over the same source (same path,
  * same projection) hits the cache, while a different scale factor, a
  * filtered subset, or a test fixture misses it. Correctness never
  * depends on a hit.
  *
  * Materialization: eager `localCheckpoint` — the result is computed
  * exactly once and pinned as executor-resident leaf blocks (surviving
  * `spark.catalog.clearCache()`, which drops only catalog/dataset cache
  * entries between queries). Two scopes, each with one release:
  *
  *  - session: [[cached]] / [[cachedMulti]] frames and [[cachedModel]]
  *    models, kept until [[invalidate]];
  *  - pass: [[managedCheckpoint]] frames, kept until [[releaseManaged]]
  *    (or [[invalidate]]).
  *
  * Size: memoized frames are bounded intermediates (pair lists, cluster
  * labels, per-term rollups) with two exceptions, `docs_spread` and
  * `doc_shingle_sets`, which are corpus-sized and stay pinned for the
  * whole session; models are a few KB of centroids/weights.
  *
  * Concurrency: a build may RE-ENTER `cached` for a sub-derivation
  * (clusters → minhash pair graph), so the Spark job must never run
  * inside a `ConcurrentHashMap` bin lock (`computeIfAbsent` forbids
  * touching other mappings from the mapping function, and would hold the
  * bin lock across an entire eager checkpoint job). Instead: lock-free
  * read, then a per-key monitor for the build, then publish. Two threads
  * racing distinct keys never block each other; the same thread
  * re-entering a different key takes a different monitor (no deadlock);
  * re-entering the SAME key would be a reentrant lock (and a build bug —
  * it would loop — which plain recursion would too).
  */
object Memo {
  // frames and models share one map; the key's kind prefix keeps them apart
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]
  private val buildLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]
  private val buildSeconds =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]
  // the last build's pre-checkpoint QueryExecution per memo name: the
  // expensive plan shapes live in the DERIVATIONS, not the queries that
  // consume their checkpointed leaves — PlanDigestSpec locks these too
  private val builtPlans =
    new java.util.concurrent.ConcurrentHashMap[String, QueryExecution]
  private val nestedSeconds = new ThreadLocal[Double] {
    override def initialValue: Double = 0.0
  }
  // the checkpoint RDD behind every frame Memo pinned, by scope
  private val sessionPins =
    java.util.Collections.synchronizedList(new java.util.ArrayList[RDD[_]])
  private val passPins =
    java.util.Collections.synchronizedList(new java.util.ArrayList[RDD[_]])

  private def key(name: String, input: DataFrame): String = {
    val plan = input.queryExecution.logical.canonicalized
    // full plan text + 32-bit semantic hash: the hash alone could collide
    // across two different inputs in one session and silently serve the
    // wrong intermediate; the plan string disambiguates.
    name + ":" + plan.semanticHash() + ":" + plan.toString
  }

  /** Build-once: returns the checkpointed result of `build(input)`,
    * reusing it for every later call with the same (name, input plan).
    */
  def cached(name: String, input: DataFrame)(build: DataFrame => DataFrame): DataFrame =
    cachedMulti(name, Seq(input))(build(input))

  /** Multi-input variant of [[cached]]: the key covers EVERY input's
    * canonicalized plan, so two call sites sharing some-but-not-all
    * inputs can never alias. The build closure captures the inputs
    * itself (they are not threaded through, unlike the 1-ary form).
    */
  def cachedMulti(name: String, inputs: Seq[DataFrame])(build: => DataFrame): DataFrame =
    buildOnce("frame", name, inputs) {
      val raw = build
      builtPlans.put(name, raw.queryExecution)
      pin(raw, sessionPins)
    }

  /** Driver-side TRAINED-MODEL reuse — same keying and build-seconds
    * attribution as [[cachedMulti]], but the cached value is a plain
    * Scala object (a PQ codebook, LR weights) rather than a DataFrame.
    * The need: `trainPqCodebook` / `trainQualityLr` are the engine's two
    * most expensive derivations, and without memoization every
    * invocation (each bench iteration, each downstream consumer) re-runs
    * their Lloyd's/IRLS scans over the corpus. Models here are bounded
    * by construction (≤ a few KB of centroids/weights — the same
    * dim-table-size contract the training loops already promise the
    * driver), so caching them can never pin data-scale state. Embed
    * parameters that change the result (iteration counts, ridge) in
    * `name`; the input plans key the rest.
    */
  def cachedModel[T <: AnyRef](name: String, inputs: Seq[DataFrame])(build: => T): T =
    buildOnce("model", name, inputs)(build)

  /** The build-once core of every memo: lock-free hit, else build under
    * the key's monitor and publish. Build seconds are EXCLUSIVE — a
    * build that re-enters a memo for a sub-derivation must not
    * double-count the inner build's seconds (each derivation reports
    * under its own name).
    */
  private def buildOnce[T <: AnyRef](kind: String, name: String,
      inputs: Seq[DataFrame])(build: => T): T = {
    val k = inputs.map(i => key(name, i)).mkString(kind + "\u0000", "\u0000", "")
    val hit = cache.get(k)
    if (hit != null) hit.asInstanceOf[T]
    else buildLocks.computeIfAbsent(k, _ => new Object).synchronized {
      val again = cache.get(k) // raced builder may have published
      if (again != null) again.asInstanceOf[T]
      else {
        val outerNested = nestedSeconds.get
        nestedSeconds.set(0.0)
        val t0 = System.nanoTime()
        try {
          val built = build
          val elapsed = (System.nanoTime() - t0) / 1e9
          buildSeconds.merge(name, elapsed - nestedSeconds.get, (a, b) => a + b)
          nestedSeconds.set(outerNested + elapsed)
          cache.put(k, built)
          built
        } catch {
          case e: Throwable =>
            // restore the outer frame's accumulator (still charging it the
            // failed attempt's wall time) so a caught-and-handled failure
            // can't corrupt later attribution
            nestedSeconds.set(outerNested + (System.nanoTime() - t0) / 1e9)
            throw e
        }
      }
    }
  }

  /** Eagerly localCheckpoint an operator-INTERNAL intermediate and
    * register its blocks for release at [[releaseManaged]] — for frames
    * consumed by CONCURRENT broadcast subqueries inside one build, or
    * re-read by every round of an iterative loop: a lazy persist only
    * populates when first scanned, and Spark launches a plan's broadcast
    * jobs in parallel, so every racer recomputes the full upstream pass
    * (measured ~5 duplicate explode+decimal passes in pair_medians). A
    * checkpoint is computed exactly once HERE, and every consumer —
    * racing or not — reads the materialized leaf.
    */
  def managedCheckpoint(df: DataFrame): DataFrame = pin(df, passPins)

  private def pin(df: DataFrame, scope: java.util.List[RDD[_]]): DataFrame = {
    val pinned = df.localCheckpoint(eager = true)
    // a local checkpoint plans as one LogicalRDD leaf over the pinned RDD
    scope.add(pinned.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd)
    pinned
  }

  /** Unpersist exactly the RDDs Memo pinned in `scope` — never a walk of
    * a frame's plan: a derivation over a session memo (any text-family
    * frame over `docs_spread`) embeds that memo's leaf, and freeing it
    * with a pass would strand every later consumer on dropped blocks.
    */
  private def release(scope: java.util.List[RDD[_]]): Unit = scope.synchronized {
    scope.forEach(_.unpersist(blocking = false))
    scope.clear()
  }

  /** The pre-checkpoint QueryExecution of each memo derivation built
    * since the last [[invalidate]], keyed by memo name — the plan-audit
    * surface for the builds themselves (their checkpointed leaves hide
    * these shapes from every consumer query's plan).
    */
  def builtQueryExecutions: Map[String, QueryExecution] = {
    val snap = scala.collection.mutable.Map[String, QueryExecution]()
    builtPlans.forEach((k, v) => snap(k) = v)
    snap.toMap
  }

  /** Seconds spent on memo-miss derivations since the last drain, keyed
    * by operator name (exclusive — nested sub-derivations report under
    * their own names). Lets a benchmark attribute each one-time
    * derivation to its own line item instead of folding it into
    * whichever query happened to trigger the miss.
    */
  def drainBuildSeconds(): Map[String, Double] = {
    val snap = scala.collection.mutable.Map[String, Double]()
    buildSeconds.forEach((k, v) => snap(k) = v.doubleValue)
    buildSeconds.clear()
    snap.toMap
  }

  /** End the session scope (test isolation / memory release): drop every
    * memoized frame and model AND unpersist their checkpoint blocks —
    * clearing only the map would leave the eagerly-checkpointed RDDs
    * pinned on executors until GC, so e.g. a bench warmup's blocks would
    * still occupy memory during the timed pass. Ends the pass scope too.
    */
  def invalidate(): Unit = {
    releaseManaged()
    release(sessionPins)
    cache.clear()
    builtPlans.clear()
    buildLocks.clear()
  }

  /** End the pass scope: free every [[managedCheckpoint]] frame WITHOUT
    * touching the memo caches — the between-iterations cleanup a
    * benchmark or batch driver needs: per-call operator-internal
    * checkpoints are rebuilt on the next invocation anyway, but their
    * blocks otherwise accumulate for the whole session (hundreds of
    * invocations × an sf-scaled frame each — multi-GB by the end of a
    * full bench pass at the larger trend points). Only safe once the
    * consuming actions have completed: frames returned lazily to a
    * caller still holding them would lose their blocks.
    */
  def releaseManaged(): Unit = release(passPins)
}
