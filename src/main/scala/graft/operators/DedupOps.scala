package graft.operators

import graft.functions.{HashFns, TextFns}
import org.apache.spark.HashPartitioner
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication family for training-data pipelines (SURVEY §2.D).
  *
  * Scale design: nothing here cross-joins the corpus. Exact dedup is one
  * hash-groupBy; MinHash signatures are computed per-row inside codegen'd
  * array folds (no explode, no shuffle) and candidate pairs come from LSH
  * band-bucket equi-joins; n-gram Jaccard bounds its shingle join with a
  * document-frequency cap; SimHash pairs come from Hamming-band buckets
  * (pigeonhole: ≤3 differing bits over 4 bands ⇒ one band collides).
  *
  * Cache lifecycle: intermediates that feed several consumers (both
  * sides of a self-join) are pinned with `Memo.managedCheckpoint` —
  * the plan would otherwise recompute the signature scan per side — and
  * stay pinned until `Memo.releaseManaged()`, which CALLERS running many
  * operators in one long-lived session invoke between logical jobs, as
  * [[graft.Verify]] and [[graft.Bench]] do per query. The connected-
  * components loop ([[ccLabels]]) frees its own per-round blocks and
  * returns its labels through the same managed path.
  */
object DedupOps {
  import HashFns._

  import OpUtils.spread

  /** Exploded 32-bit k-gram shingle hashes, one row per (doc, position).
    * The text normalizes ONCE per row before exploding; shingling is a
    * sequence-generator explode + substr + hash — plain codegen'd column
    * expressions. (The previous higher-order `transform` formulation ran
    * interpreted AND re-evaluated the normalization regex once per
    * shingle element rather than once per document.)
    */
  private def shingleHashRows(documents: DataFrame, k: Int): DataFrame =
    OpUtils.spreadDocs(documents)
      .select(col("doc_id"), graft.functions.TextFns.normText(col("text")).as("t"))
      .filter(length(col("t")) >= k)
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(1), length(col("t")) - (k - 1))).as("i"))
      .select(col("doc_id"), HashFns.hash32(expr(s"substr(t, i, $k)")).as("x"))

  /** Exact dedup via content-hash groupBy (ref: glue_job_clean_311.py:131
    * dropDuplicates — here with group stats kept, Redshift-style).
    */
  def dedupExact(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), md5(TextFns.normText(col("text"))).as("content_hash"))
      .groupBy(col("content_hash"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select(col("doc_id"), col("content_hash"), col("n_copies"))

  /** Per-doc MinHash signature (array<long>, K=32) computed in ONE
    * codegen'd pass over each document by
    * [[graft.functions.MinhashSigExpr]] — no shingle-row explode, no
    * 32-buffer aggregate, no shuffle at all: MinHash is an associative
    * fold over the shingle stream, so it belongs in the scan stage. The
    * hash/permutation constants (and hence every signature value) are
    * unchanged — the oracle recomputes the identical integers via its
    * explode-based SQL.
    */
  def withMinhashSignature(documents: DataFrame): DataFrame =
    OpUtils.spreadDocs(documents)
      .select(col("doc_id"),
        graft.functions.MinhashSig.signature(
          graft.functions.TextFns.normText(col("text")), 5).as("sig"))
      .filter(col("sig").isNotNull)

  /** Max docs per LSH band bucket: a degenerate band key (e.g. thousands
    * of identical or near-empty docs) would make its bucket's self-join
    * quadratic; buckets above the cap are dropped entirely. The recall
    * loss is principled — a >cap bucket is dominated by exact duplicates,
    * which [[dedupExact]] already catches with one hash-groupBy.
    */
  val LshBucketCap = 200

  /** MinHash + LSH candidate pairs with estimated Jaccard ≥ minEst.
    * Bands×Rows = 8×4; pairs surface through a (band, key) equi-join —
    * work is bounded by bucket sizes (≤ [[LshBucketCap]]), never
    * O(corpus²).
    */
  def dedupMinhashLsh(documents: DataFrame, minEst: Double = 0.5): DataFrame =
    // memoized: the estimated-Jaccard pair graph feeds this query AND the
    // clusters/survivors/curated_corpus chain — one derivation per
    // session per input (the pair list is bounded, never corpus-sized)
    Memo.cached(s"minhash_pairs:$minEst", documents)(dedupMinhashLshImpl(_, minEst))

  private def dedupMinhashLshImpl(documents: DataFrame, minEst: Double): DataFrame = {
    // Signature kept as 32 flat h columns (not an array) so banding keys,
    // the join, and the match-count all stay inside whole-stage codegen.
    // The signature derives from the memoized distinct-shingle sets
    // (min over the distinct set == min over the positional multiset,
    // and the md5 per shingle was already paid there), so the whole
    // set-similarity family shares ONE text+md5 corpus pass per session
    // instead of minhash re-scanning and re-hashing the raw text.
    // eager checkpoint, not lazy persist: the banded self-join's two map
    // stages and the sigA/sigB rejoin sides schedule concurrently, and
    // racing scans of an unpopulated cache each recompute every md5 from
    // the raw text (the pair_medians pathology).
    val sigs = Memo.managedCheckpoint(docShingleSets(documents)
      .select(col("doc_id"),
        graft.functions.MinhashSig.signatureFromShingles(col("xs")).as("sig"))
      .select(col("doc_id") +: (0 until MinhashK)
        .map(i => element_at(col("sig"), i + 1).as(s"h$i")): _*))
    // Narrow-first: only (band, key..., doc_id) flows through the
    // self-join (the shuffle that scales with corpus × bands); the 32
    // signature columns rejoin after pair dedup, so est is computed once
    // per pair and the wide rows never shuffle through the bucket join.
    // Band keys stay FOUR LONG COLUMNS (not a concat_ws string): string
    // building + string hashing was ~10 executor-seconds of the banded
    // stage at sf0.1, and the long-tuple key hashes/compares raw words.
    val keyCols = (0 until MinhashRows).map(r => s"k$r")
    val joinKeys = "band" +: keyCols
    val banded = sigs.select(col("doc_id"),
      explode(array((0 until MinhashBands).map { b =>
        struct(lit(b).as("band") +: (0 until MinhashRows).map(r =>
          col(s"h${b * MinhashRows + r}").as(s"k$r")): _*)
      }: _*)).as("bk"))
      .select(col("doc_id") +: joinKeys.map(c => col(s"bk.$c")): _*)
    // bucket-size cap: drop degenerate band keys before the self-join so
    // the worst bucket is bounded (the keep-list aggregation is map-side
    // combined; the join shuffles only (band, key..., doc_id) rows)
    val keepKeys = banded.groupBy(joinKeys.map(col): _*)
      .agg(count(lit(1)).as("bf"))
      .filter(col("bf") <= LshBucketCap)
      .select(joinKeys.map(col): _*)
    val capped = banded.join(keepKeys, joinKeys)
    val pairs = capped.withColumnRenamed("doc_id", "doc_a")
      .join(capped.withColumnRenamed("doc_id", "doc_b"), joinKeys)
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    val sigA = sigs.select(col("doc_id").as("doc_a") +:
      (0 until MinhashK).map(i => col(s"h$i").as(s"h${i}_a")): _*)
    val sigB = sigs.select(col("doc_id").as("doc_b") +:
      (0 until MinhashK).map(i => col(s"h$i").as(s"h${i}_b")): _*)
    val matches = (0 until MinhashK)
      .map(i => when(col(s"h${i}_a") === col(s"h${i}_b"), 1).otherwise(0))
      .reduce(_ + _)
    pairs.join(sigA, Seq("doc_a")).join(sigB, Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        round(matches.cast("double") / lit(MinhashK.toDouble), 4).as("est_jaccard"))
      .filter(col("est_jaccard") >= minEst)
  }

  /** Incremental near-dup screening — the continuous-ingestion shape:
    * an INCOMING batch is checked against the EXISTING corpus without
    * ever self-joining either side. Both sides band their MinHash
    * signatures; the candidate join is incoming-bands × existing-bands
    * on (band, key) — at 100 TB the existing side's banded keys are a
    * precomputed index and per-batch work scales with the batch, not
    * the corpus. Returns one row per incoming doc that collides with
    * the existing corpus at est. Jaccard ≥ minEst (its reject verdict),
    * with the match count and the best-matching existing doc.
    */
  def dedupIncremental(incoming: DataFrame, existing: DataFrame,
      minEst: Double = 0.5): DataFrame = {
    // ONE union-tagged signature pass over both sides instead of two
    // sequential per-side checkpoint builds: each build was serialized
    // behind its own single-task text read (~1 s apiece at bench scale),
    // and per-doc signatures are side-independent, so tagging and
    // splitting after the checkpoint is bit-identical.
    val tagged = spread(incoming.select(col("doc_id"), col("text"))
      .withColumn("is_inc", lit(true))
      .unionByName(existing.select(col("doc_id"), col("text"))
        .withColumn("is_inc", lit(false))))
    val sigsAll = Memo.managedCheckpoint(tagged
      .select(Seq(col("doc_id"), col("is_inc"),
        graft.functions.MinhashSig.signature(
          graft.functions.TextFns.normText(col("text")), 5).as("sig")): _*)
      .filter(col("sig").isNotNull)
      .select(Seq(col("doc_id"), col("is_inc")) ++ (0 until MinhashK)
        .map(i => element_at(col("sig"), i + 1).as(s"h$i")): _*))
    def banded(sigsSide: DataFrame, side: String) = {
      val sigs = sigsSide.drop("is_inc")
      val bk = sigs.select(col("doc_id").as(s"doc_$side"),
        explode(array((0 until MinhashBands).map { b =>
          struct(lit(b).as("band") +: (0 until MinhashRows).map(r =>
            col(s"h${b * MinhashRows + r}").as(s"k$r")): _*)
        }: _*)).as("bk"))
        .select(col(s"doc_$side") +:
          ("band" +: (0 until MinhashRows).map(r => s"k$r"))
            .map(c => col(s"bk.$c")): _*)
      (sigs, bk)
    }
    val (sigsInc, bandsInc) = banded(sigsAll.filter(col("is_inc")), "inc")
    val (sigsEx, bandsEx) = banded(sigsAll.filter(!col("is_inc")), "ex")
    val pairs = bandsInc.join(bandsEx,
        Seq("band") ++ (0 until MinhashRows).map(r => s"k$r"))
      .select("doc_inc", "doc_ex").distinct()
    val sigA = sigsInc.select(col("doc_id").as("doc_inc") +:
      (0 until MinhashK).map(i => col(s"h$i").as(s"h${i}_a")): _*)
    val sigB = sigsEx.select(col("doc_id").as("doc_ex") +:
      (0 until MinhashK).map(i => col(s"h$i").as(s"h${i}_b")): _*)
    val matches = (0 until MinhashK)
      .map(i => when(col(s"h${i}_a") === col(s"h${i}_b"), 1).otherwise(0))
      .reduce(_ + _)
    pairs.join(sigA, Seq("doc_inc")).join(sigB, Seq("doc_ex"))
      .select(col("doc_inc"), col("doc_ex"),
        round(matches.cast("double") / lit(MinhashK.toDouble), 4).as("est"))
      .filter(col("est") >= minEst)
      .groupBy(col("doc_inc"))
      .agg(count(lit(1)).as("n_matches"),
        // best match = highest est, ties to the smallest existing doc_id
        max(struct(col("est").as("e"), (-col("doc_ex")).as("negid"))).as("best"))
      .select(col("doc_inc"), col("n_matches"),
        col("best.e").as("best_est"), (-col("best.negid")).as("best_doc_ex"))
  }

  /** Exact n-gram Jaccard near-dup pairs. Candidates = pairs sharing at
    * least one shingle that lies in BOTH docs' prefixes (prefix
    * filtering, the PPJoin principle: with shingles in a global
    * rarest-first order, any pair with J ≥ τ must collide within the
    * first n − ⌈τ·n⌉ + 1 shingles of each side) and whose document
    * frequency ≤ dfCap (rare-shingle blocking). The prefix cut shrinks
    * the Σdf² candidate join by ~(1−τ)² — the quadratic term that
    * dominates at 100 TB; the df cap bounds the worst shingle. Jaccard
    * is then computed exactly on the full distinct-shingle sets.
    * ⌈τ·n⌉ is exact integer arithmetic on a micro-unit τ (engine-stable,
    * shared with the oracle).
    */
  /** Per-doc DISTINCT shingle sets as arrays — THE working set of the
    * set-similarity family: the per-doc size comes free (size(xs)),
    * document frequencies explode from it, and the exact verifies read
    * the arrays directly. Built ROW-LOCAL by the codegen'd
    * DistinctShinglesExpr (dedup within one document needs no shuffle);
    * set state per doc is O(its distinct shingles), the same bound as
    * the document text itself. Memoized: Jaccard and containment dedup
    * share one derivation per session instead of re-shingling the
    * corpus each.
    */
  private def docShingleSets(documents: DataFrame): DataFrame =
    Memo.cached("doc_shingle_sets", documents) { docs =>
      OpUtils.spreadDocs(docs)
        .select(col("doc_id"),
          graft.functions.MinhashSig.distinctShingles(
            graft.functions.TextFns.normText(col("text")), 5).as("xs"))
        .filter(col("xs").isNotNull)
    }

  def dedupNgramJaccard(documents: DataFrame, tau: Double = 0.5, dfCap: Int = 50): DataFrame =
    // memoized: the exact-Jaccard pair graph feeds this query AND
    // lsh_recall_report / lsh_band_tuning — one derivation per session
    // per (input, τ, dfCap); the pair list is bounded, never corpus-sized
    Memo.cached(s"jaccard_pairs:$tau:$dfCap", documents)(
      dedupNgramJaccardImpl(_, tau, dfCap))

  private def dedupNgramJaccardImpl(documents: DataFrame, tau: Double, dfCap: Int): DataFrame = {
    val tauMicro = math.round(tau * 1e6)
    val docSets = docShingleSets(documents)
    val dfs = docSets.select(explode(col("xs")).as("x"))
      .groupBy(col("x")).agg(count(lit(1)).as("df"))
    // df-cap BEFORE the rank window: rows with df > dfCap sort strictly
    // after every df ≤ dfCap row in the (df, x) ascending prefix order,
    // so dropping them first cannot change any surviving row's rank —
    // and the window sort input loses the common-shingle mass (the bulk
    // of the rows). `n` stays the ORIGINAL per-doc distinct count.
    val kept = docSets
      .select(col("doc_id"), size(col("xs")).cast("long").as("n"),
        explode(col("xs")).as("x"))
      .join(dfs, Seq("x"))
      .filter(col("df") <= dfCap)
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("x"))))
      .filter(col("rnk") <=
        col("n") - expr(s"(n * $tauMicro + 999999) div 1000000") + 1)
      .select("doc_id", "x")
    // eager checkpoints, not lazy persists (the pair_medians lesson):
    // the self-join's two map stages — and later the verify's two
    // join sides — schedule CONCURRENTLY, and racing scans of an
    // unpopulated cache each recompute the upstream pass. cands is
    // additionally spread: its distinct() output AQE-coalesces to ONE
    // partition (pair rows are tiny), and a checkpoint taken there
    // runs the whole array_intersect verify single-task (measured
    // 3.3 s on one core)
    val keptP = Memo.managedCheckpoint(kept)
    val cands = Memo.managedCheckpoint(OpUtils.spread(
      keptP.select(col("x"), col("doc_id").as("doc_a"))
        .join(keptP.select(col("x"), col("doc_id").as("doc_b")), Seq("x"))
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b").distinct()))
    // only candidate docs' sets matter for the intersection — the
    // broadcast semi-join cuts the verify stage's input from the WHOLE
    // corpus to the (dfCap-bounded) candidate docs' rows, so the corpus
    // arrays never shuffle through the pair-verify joins. The verify
    // carries one row per CANDIDATE PAIR (two doc-length-bounded
    // arrays), not a pair × shingle row explosion (measured 3× on this
    // stage). Set sizes double as |A|, |B| (no extra sizes joins).
    val candDocs = cands.select(col("doc_a").as("doc_id"))
      .union(cands.select(col("doc_b").as("doc_id"))).distinct()
    val dsC = docSets.join(candDocs, Seq("doc_id"), "left_semi")
    cands
      .join(dsC.select(col("doc_id").as("doc_a"), col("xs").as("xs_a")), Seq("doc_a"))
      .join(dsC.select(col("doc_id").as("doc_b"), col("xs").as("xs_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        // linear merge over the SORTED distinct-shingle arrays — same
        // count as size(array_intersect(...)) on distinct inputs, without
        // array_intersect's per-pair hash-set build (the verify stage was
        // ~31 executor-seconds of array_intersect at sf0.1)
        graft.functions.MinhashSig.sortedIntersectCount(
          col("xs_a"), col("xs_b")).as("inter"),
        size(col("xs_a")).cast("long").as("na"),
        size(col("xs_b")).cast("long").as("nb"))
      .select(col("doc_a"), col("doc_b"),
        round(col("inter").cast("double") / (col("na") + col("nb") - col("inter")), 4)
          .as("jaccard"))
      .filter(col("jaccard") >= tau)
  }

  /** Shingle-CONTAINMENT near-duplicate pairs — the asymmetric
    * complement of [[dedupNgramJaccard]]: C(A→B) = |S_A∩S_B| / |S_A|
    * detects a document mostly CONTAINED in another (quotes, scraped
    * inclusions, article+boilerplate wrappers), which Jaccard misses
    * whenever the containing side is much larger (J ≤ |A|/|B| no matter
    * how complete the inclusion). Candidates use the one-sided prefix
    * filter: C(A→B) ≥ τ needs ≥ ⌈τ·n_A⌉ shared shingles, so a
    * collision must fall inside A's rarest-first n_A − ⌈τ·n_A⌉ + 1
    * prefix — only the SMALL side is prefix-cut (the big side has no
    * bound to exploit), and both sides keep the df ≤ dfCap blocking of
    * the Jaccard path with the same documented recall trade-off.
    * Exact verify on the full distinct-shingle arrays; ⌈τ·n⌉ in
    * integer micro-units shared with the oracle.
    */
  /** Candidate stage of [[dedupContainment]], exposed for stage-level
    * profiling (the r10 verdict's "measure the split" ask — measured
    * ~4.3 s candidates / ~7.6 s verify at sf0.1): the one-sided
    * rarest-first prefix filter over df ≤ dfCap shingles → distinct
    * (doc_small, doc_big) pairs. Memo-checkpointed (the jaccard_pairs
    * treatment): the pair list is candidate-bounded, never
    * corpus-sized, so a session re-running the query pays only the
    * verify after the first build.
    */
  private[graft] def containmentCandidates(documents: DataFrame,
      tauC: Double = 0.8, dfCap: Int = 50): DataFrame =
    Memo.cached(s"containment_pairs:$tauC:$dfCap", documents)(
      containmentCandidatesImpl(_, tauC, dfCap))

  private def containmentCandidatesImpl(documents: DataFrame,
      tauC: Double, dfCap: Int): DataFrame = {
    val tauMicro = math.round(tauC * 1e6)
    val docSets = docShingleSets(documents)
    val dfs = docSets.select(explode(col("xs")).as("x"))
      .groupBy(col("x")).agg(count(lit(1)).as("df"))
    // eager checkpoint (see dedupMinhashLshImpl): prefix side and big
    // side race this frame's map stages inside one action
    val kept = Memo.managedCheckpoint(docSets
      .select(col("doc_id"), size(col("xs")).cast("long").as("n"),
        explode(col("xs")).as("x"))
      .join(dfs, Seq("x"))
      .filter(col("df") <= dfCap))
    val prefix = kept
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("x"))))
      .filter(col("rnk") <=
        col("n") - expr(s"(n * $tauMicro + 999999) div 1000000") + 1)
      .select(col("doc_id").as("doc_small"), col("x"))
    prefix
      .join(kept.select(col("x"), col("doc_id").as("doc_big")), Seq("x"))
      .filter(col("doc_small") =!= col("doc_big"))
      // user-origin repartition before the dedup: the distinct's output
      // is byte-tiny and AQE-coalesced to ONE partition, so the Memo
      // wrapper's checkpoint landed single-partition and every consumer
      // scan of the pair list (the size-prune join feeding the verify)
      // ran single-task (profiled 1.34 s on one core); the distinct
      // reuses this partitioning and the checkpoint stays spread
      .repartition(documents.sparkSession.sparkContext.defaultParallelism,
        col("doc_small"), col("doc_big"))
      // no trailing persist: the Memo wrapper eagerly checkpoints this
      .select("doc_small", "doc_big").distinct()
  }

  def dedupContainment(documents: DataFrame, tauC: Double = 0.8,
      dfCap: Int = 50): DataFrame = {
    val tauMicro = math.round(tauC * 1e6)
    val docSets = docShingleSets(documents)
    val cands = containmentCandidates(documents, tauC, dfCap)
    // cheap LENGTH prune before any array touches: inter ≤ min(n_s,
    // n_b), so C(small→big) ≥ τ is impossible when n_b·10⁶ < τµ·n_s —
    // the candidate join is directional (doc_big is ANY doc sharing a
    // prefix shingle, including much smaller ones), and the verify's
    // cost is the two array joins + intersects, so dropping impossible
    // pairs on two longs first is the r10-profiled win (the verify
    // stage dominated the candidate stage ~10 s vs ~4 s at sf0.1)
    val sizes = docSets.select(col("doc_id"), size(col("xs")).cast("long").as("n"))
    // spread: the candidate checkpoint and the prune joins AQE-coalesce
    // to one partition (pair rows are tiny), which would run the whole
    // array_intersect verify below single-task (the jaccard verify
    // measured 3.3 s on one core before the same fix)
    val pruned = spread(cands
      .join(sizes.select(col("doc_id").as("doc_small"), col("n").as("n_s")),
        Seq("doc_small"))
      .join(sizes.select(col("doc_id").as("doc_big"), col("n").as("n_b")),
        Seq("doc_big"))
      .filter(col("n_b") * 1000000 >= col("n_s") * tauMicro)
      .select("doc_small", "doc_big"))
    val candDocs = pruned.select(col("doc_small").as("doc_id"))
      .union(pruned.select(col("doc_big").as("doc_id"))).distinct()
    val dsC = docSets.join(candDocs, Seq("doc_id"), "left_semi")
    pruned
      .join(dsC.select(col("doc_id").as("doc_small"), col("xs").as("xs_s")),
        Seq("doc_small"))
      // explicit (user-origin) repartition between the two array joins:
      // the ENSURE_REQUIREMENTS exchange feeding the doc_big join is
      // byte-tiny and AQE-coalesces to ONE partition, which ran the
      // whole array_intersect verify single-task (profiled 3.1 s on one
      // core); a user repartition is exempt from coalescing and the
      // join reuses its partitioning, so the verify keeps
      // defaultParallelism tasks at any SF
      .repartition(documents.sparkSession.sparkContext.defaultParallelism,
        col("doc_big"))
      .join(dsC.select(col("doc_id").as("doc_big"), col("xs").as("xs_b")),
        Seq("doc_big"))
      .select(col("doc_small"), col("doc_big"),
        // sorted-array linear merge (see dedupNgramJaccardImpl's verify)
        graft.functions.MinhashSig.sortedIntersectCount(
          col("xs_s"), col("xs_b")).as("inter"),
        size(col("xs_s")).cast("long").as("n_small"),
        size(col("xs_b")).cast("long").as("n_big"))
      // exact integer threshold test (inter·10⁶ ≥ τµ·n_small), then the
      // rounded-double ratio only as a display column
      .filter(col("inter") * 1000000 >= col("n_small") * tauMicro)
      .select(col("doc_small"), col("doc_big"), col("n_small"), col("n_big"),
        round(col("inter").cast("double") / col("n_small"), 4).as("containment"))
  }

  /** Dedup-estimator quality audit — the [[SimilarityOps]]
    * `ann_recall_report` analog for the near-dup family: precision and
    * recall of the MinHash-LSH pair graph against the exact-Jaccard
    * reference at the same τ. (The reference itself carries the
    * documented df-cap blocking recall limit, so this audits the
    * SKETCH error — signature estimation + banding — on the pairs the
    * blocking can see, which is the production question: "what does
    * switching from exact verification to MinHash cost me?") Both
    * legs are memoized derivations shared with the dedup queries —
    * the audit adds one pair-list-sized full-outer join. Integer
    * micro-unit rates; division guarded identically in both engines.
    */
  def lshRecallReport(documents: DataFrame, tau: Double = 0.5): DataFrame = {
    val truth = dedupNgramJaccard(documents, tau)
      .select(col("doc_a"), col("doc_b"), lit(1).as("t"))
    val est = dedupMinhashLsh(documents, tau)
      .select(col("doc_a"), col("doc_b"), lit(1).as("e"))
    truth.join(est, Seq("doc_a", "doc_b"), "full_outer")
      // join-miss NULLs become 0 BEFORE aggregating (the oracle's CASE
      // WHEN normalization): without this, a zero-overlap pair graph
      // yields SUM(t*e) = NULL where the oracle reports 0
      .select(coalesce(col("t"), lit(0)).as("t"),
        coalesce(col("e"), lit(0)).as("e"))
      .agg(sum(col("t")).cast("long").as("n_true_pairs"),
        sum(col("e")).cast("long").as("n_est_pairs"),
        sum(col("t") * col("e")).cast("long").as("n_common"))
      .select(col("n_true_pairs"), col("n_est_pairs"), col("n_common"),
        when(col("n_est_pairs") > 0,
          expr("(n_common * 1000000) div n_est_pairs")).as("precision_micro"),
        when(col("n_true_pairs") > 0,
          expr("(n_common * 1000000) div n_true_pairs")).as("recall_micro"))
  }

  /** Embedding-cosine near-duplicate pairs: LSH sign-projection buckets
    * generate candidates (identical 16-bit bucket ⇒ likely-close), exact
    * cosine verifies ≥ minCos. Same scale shape as the ANN path — the
    * corpus is never cross-joined.
    */
  def dedupEmbedCosine(embeddings: DataFrame, minCos: Double = 0.99): DataFrame = {
    // the memoized bucket index: the self-join's two map stages race a
    // lazily-persisted scan (the pair_medians pathology); the shared
    // checkpoint also serves the LSH-ANN probe in the same session
    val bucketed = SimilarityOps.lshBucketed(embeddings)
      .select(col("vec_id"), col("embedding"), col("bucket"))
    val a = bucketed.select(col("bucket"), col("vec_id").as("vec_a"),
      col("embedding").as("emb_a"))
    val b = bucketed.select(col("bucket"), col("vec_id").as("vec_b"),
      col("embedding").as("emb_b"))
    a.join(b, Seq("bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        round(graft.functions.VectorFns.cosine(col("emb_a"), col("emb_b")), 6)
          .as("cosine_sim"))
      .filter(col("cosine_sim") >= minCos)
  }

  /** SemDeDup-style semantic dedup verdict: partition the corpus by
    * nearest IVF centroid, find within-cell cosine near-dup pairs, and
    * remove every vector that matches a LOWER-id vector in its cell at
    * cosine ≥ minCos. Unlike [[dedupEmbedCosine]] (which emits the pair
    * list), this emits the per-vector keep/remove verdict a curation
    * pipeline consumes. Scale shape: the pair join is cell-partitioned,
    * so cells parallelize independently; the cell count is the knob that
    * grows with the corpus (k ≈ N / target cell size) keeping per-cell
    * work bounded-quadratic — the published SemDeDup recipe (tens of
    * thousands of cells at web scale). Deterministic fixed centroids
    * here, shared with the embed_ivf_ann oracle; cross-cell near-dups
    * are missed by design (the documented recall trade-off).
    */
  def dedupSemantic(embeddings: DataFrame, minCos: Double = 0.99): DataFrame =
    semanticVerdicts(
      SimilarityOps.ivfCelled(embeddings)
        .select(col("vec_id"), col("embedding"), col("cell")), minCos)

  /** [[dedupSemantic]] over TRAINED IVF cells (Lloyd's k-means) — the
    * SemDeDup paper's actual setting: cluster the corpus, then prune
    * within clusters. Better-fitting cells co-locate near-duplicate
    * pairs the fixed pseudo-random partition can split across cells.
    * Spec-gated like [[SimilarityOps.ivfTrainedAnn]] (k-means centroids
    * are data-dependent floats); the fixed-cell variant stays the
    * oracle-graded one.
    */
  def dedupSemanticTrained(embeddings: DataFrame, minCos: Double = 0.99,
      iters: Int = 4): DataFrame =
    semanticVerdicts(
      SimilarityOps.withCells(embeddings,
        SimilarityOps.trainIvfCentroids(embeddings, iters = iters)
          .map(_.toSeq).toSeq)
        .select(col("vec_id"), col("embedding"), col("cell")), minCos)

  /** Shared SemDeDup core: within each cell, a vector is removed iff a
    * LOWER-id cellmate sits at cosine ≥ minCos (keep-first policy); the
    * cell join bounds candidate pairs, the cell count is the scale knob.
    */
  private def semanticVerdicts(celledIn: DataFrame, minCos: Double): DataFrame = {
    // eager checkpoint, not lazy persist: the within-cell self-join's
    // two map stages (and the final verdict join's left side) schedule
    // concurrently, and racing scans of an unpopulated cache each
    // recompute the cell assignment (the pair_medians pathology). When
    // the caller passes an already-checkpointed index (dedupSemantic →
    // ivfCelled) this re-pins only the 3-column projection.
    val celled = Memo.managedCheckpoint(celledIn)
    val a = celled.select(col("cell"), col("vec_id").as("vec_a"),
      col("embedding").as("emb_a"))
    val b = celled.select(col("cell"), col("vec_id").as("vec_b"),
      col("embedding").as("emb_b"))
    val removed = a.join(b, Seq("cell"))
      .filter(col("vec_a") < col("vec_b"))
      .filter(round(graft.functions.VectorFns.cosine(col("emb_a"), col("emb_b")), 6)
        >= minCos)
      .select(col("vec_b").as("vec_id")).distinct()
    celled.select(col("vec_id"), col("cell"))
      .join(removed.withColumn("is_removed", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("is_removed"), lit(false)).as("is_removed"))
  }

  /** Duplicate clusters = connected components over the MinHash-LSH
    * near-dup pair graph ([[ccLabels]]). Driver sees only the
    * changed-label COUNT, never data. Output: every clustered doc with
    * its component id (= min doc_id), component size, and a
    * kept-representative flag — the final "which docs survive dedup"
    * verdict.
    */
  def dedupClusters(documents: DataFrame): DataFrame =
    // memoized: survivors and curated_corpus both consume the cluster
    // labels; the CC loop (the expensive iterative part) runs once per
    // session per input
    Memo.cached("clusters", documents)(dedupClustersImpl)

  private def dedupClustersImpl(documents: DataFrame): DataFrame =
    ccLabels(dedupMinhashLsh(documents).select(col("doc_a"), col("doc_b")))
      .select(col("node").as("doc_id"), col("cluster_id"))
      .withColumn("cluster_size",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("cluster_id"))))
      .withColumn("is_representative", col("doc_id") === col("cluster_id"))

  /** Round cap of [[ccLabels]]: a 10⁵-node path converges in ~20 rounds,
    * so hitting the cap means a bug, not a big graph.
    */
  private val CcMaxRounds = 64

  /** Min-label connected components over an undirected pair list
    * (doc_a, doc_b) — the shared CC core behind [[dedupClusters]],
    * [[graft.operators.AuditOps.erClusters]] and
    * [[graft.operators.MultimodalOps.multimodalDedupClusters]]. Returns
    * (node, cluster_id), typed like the input ids, for every node that
    * appears in at least one pair; cluster_id is the component's minimum
    * node id (its deterministic representative).
    *
    * Each node keeps a label f, a node of its component no larger than
    * itself; it starts as the minimum of the node and its neighbours (the
    * first hop, taken while the adjacency is built, saves a round). A
    * round is one step of FastSV (Zhang, Azad & Hu, 2020):
    * min-label propagation with pointer doubling plus hooking. It takes
    * the grandparent gf = f(f) (a re-keyed join), propagates its minimum
    * over the edges (a narrow join of the adjacency with the labels and
    * one min-reduce), then lowers f to that minimum for the node AND for
    * its parent. Without the hooking, propagation plus pointer jumping
    * moves the minimum one edge per hop along a path with shuffled ids
    * (a 5 000-node path took ~1 000 rounds of 2 hops); with it, rounds
    * grow with log(nodes) (14 for that path, 7 for er_clusters at sf0.1).
    *
    * The adjacency is hash-partitioned once (width = the session's
    * `spark.sql.shuffle.partitions`) and never reshuffles. A round is
    * one Spark job: its changed-label count is the action that
    * materializes its local checkpoint; the previous round's blocks go
    * once the next round is pinned, and the final labels are handed to
    * [[Memo.managedCheckpoint]] (freed by `Memo.releaseManaged()`).
    * Several steps per job measured slower at sf0.1 (er_clusters 3.2–3.6
    * s at one step, 3.8–4.1 s at two or four).
    */
  private[operators] def ccLabels(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val idType = pairs.schema.head.dataType
    val part = new HashPartitioner(spark.conf.get("spark.sql.shuffle.partitions").toInt)
    val adj = pairs.select(pairs.columns.map(col(_).cast("long")).toSeq: _*).rdd
      .flatMap(r => Iterator(r.getLong(0) -> r.getLong(1), r.getLong(1) -> r.getLong(0)))
      .groupByKey(part).mapValues(_.toArray).persist()
    var labels = adj.mapPartitions(
      _.map { case (n, nbrs) => n -> math.min(n, nbrs.min) }, preservesPartitioning = true)
    try {
      var changed = 1L
      var rounds = 0
      while (changed > 0) {
        if (rounds == CcMaxRounds) throw new IllegalStateException(
          s"connected components did not converge in $rounds rounds")
        val fg = labels.map(_.swap).join(labels, part)
          .map { case (p, (n, gp)) => n -> (p, gp) }.partitionBy(part)
        val minGp = adj.join(fg, part)
          .flatMap { case (_, (nbrs, (_, gp))) => nbrs.iterator.map(_ -> gp) }
          .reduceByKey(part, math.min(_, _))
        val next = fg.join(minGp, part)
          .flatMap { case (n, ((p, gp), m)) => Iterator(n -> math.min(gp, m), p -> m) }
          .reduceByKey(part, math.min(_, _)).localCheckpoint()
        changed = next.join(labels, part).filter { case (_, (l, prev)) => l < prev }.count()
        labels.unpersist(blocking = false)
        labels = next
        rounds += 1
      }
      Memo.managedCheckpoint(labels.toDF("node", "cluster_id")
        .select(col("node").cast(idType), col("cluster_id").cast(idType)))
    } finally {
      labels.unpersist(blocking = false)
      adj.unpersist(blocking = false)
    }
  }

  /** The deduplicated corpus: drop every clustered doc except its
    * cluster representative (min doc_id) — a left-anti join against the
    * non-representative set, the same NOT-EXISTS shape as the
    * incremental warehouse loads. This is the operator a pipeline
    * actually materializes after near-dup detection.
    */
  def dedupSurvivors(documents: DataFrame): DataFrame = {
    val toDrop = dedupClusters(documents)
      .filter(!col("is_representative"))
      .select(col("doc_id"))
    documents.join(toDrop, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
  }

  /** Window length (in tokens) for repeated-passage detection. */
  val SpanTokens = 8

  /** Repeated-passage detection (suffix-array substring dedup re-expressed
    * for Spark, cf. "Deduplicating Training Data Makes Language Models
    * Better"): slide a `SpanTokens`-token window over every document,
    * hash each window, and flag spans whose hash occurs in ≥2 distinct
    * documents; report the per-doc duplicated-span fraction. The window
    * hashes come from the codegen'd [[graft.functions.SpanHash]]
    * expression — adjacency is explicit in the token array, so the spans
    * are enumerated row-local with ZERO exchange (the previous `lead()`
    * formulation shuffled and sorted every token instance by doc just to
    * line up neighbors). Cross-doc counting is two map-side-combined
    * aggregations on the 64-bit span hash, never on the span text.
    */
  def dedupSpans(documents: DataFrame, span: Int = SpanTokens): DataFrame = {
    val grams = OpUtils.spreadDocs(documents)
      .select(col("doc_id"),
        explode(graft.functions.SpanHash.spanHashes(
          TextFns.tokens(col("text")), span)).as("h"))
    // "shared by ≥2 distinct docs" ⟺ min(doc_id) < max(doc_id): one-level
    // min/max partial-aggregates map-side, where countDistinct expanded
    // to a two-level agg shuffling every (hash, doc) pair (same rewrite
    // as substringRuns)
    val stats = grams.groupBy(col("h"))
      .agg((min(col("doc_id")) < max(col("doc_id"))).as("is_dup"))
    grams.join(stats, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup_spans"))
      .withColumn("dup_fraction",
        round(col("n_dup_spans").cast("double") / col("n_spans"), 4))
  }

  /** Minimum merged-run length (tokens) for a maximal shared substring
    * to qualify for removal reporting in [[dedupSubstrings]].
    */
  val SubstringMinTokens = 16

  /** Maximal shared-substring dedup (the removal form of Lee et al.
    * 2022's ExactSubstr, re-expressed for Spark): every [[SpanTokens]]-
    * token window whose hash occurs in ≥2 distinct documents marks its
    * token interval `[i, i+span-1]` as duplicated; overlapping/adjacent
    * intervals merge into MAXIMAL runs (interval union via a per-doc
    * running-max-of-end prior to the row — the gaps-and-islands core the
    * streak/backlog queries use); runs shorter than `minTokens` are
    * dropped as noise. Per doc: the qualifying-run count, the longest
    * run, the total duplicated-token mass, and the removal verdict
    * (drop when ≥ half the doc is shared, exact integer comparison).
    *
    * Scale: window enumeration is row-local ([[graft.functions.SpanHash]],
    * zero exchange); cross-doc counting is a map-side-combined agg on
    * the 64-bit hash; the merge windows partition on doc_id — the
    * SF-scaling grain, bounded per-partition by document length. No
    * span text ever shuffles, only (hash, position) pairs.
    */
  def dedupSubstrings(documents: DataFrame, span: Int = SpanTokens,
      minTokens: Int = SubstringMinTokens): DataFrame =
    substringRuns(documents, span, minTokens)
      .groupBy(col("doc_id"), col("doc_tokens"))
      .agg(count(lit(1)).as("n_islands"),
        max(col("run_tokens")).as("longest_run"),
        sum(col("run_tokens")).as("dup_tokens"))
      .select(col("doc_id"), col("n_islands"), col("longest_run"),
        col("dup_tokens"),
        col("doc_tokens").as("n_tokens"),
        (col("dup_tokens") * 2 >= col("doc_tokens")).as("drop_doc"))

  /** The maximal-run core shared by [[dedupSubstrings]] (verdict per
    * doc) and [[substringReport]] (the substrings themselves): per doc,
    * qualifying maximal duplicated token intervals
    * (doc_id, doc_tokens, start_token, end_token, run_tokens).
    */
  private def substringRuns(documents: DataFrame, span: Int,
      minTokens: Int): DataFrame =
    // Memo-shared like the LSH pair graph: the runs frame (slim
    // intervals, bounded by the duplicated mass) feeds BOTH
    // dedup_substrings and substring_report — one windows+islands
    // derivation per session per input
    Memo.cached(s"substring_runs:$span:$minTokens", documents)(
      substringRunsImpl(_, span, minTokens))

  private def substringRunsImpl(documents: DataFrame, span: Int,
      minTokens: Int): DataFrame = {
    val grams = OpUtils.spreadDocs(documents)
      .select(col("doc_id"),
        size(TextFns.tokens(col("text"))).cast("long").as("doc_tokens"),
        posexplode(graft.functions.SpanHash.spanHashes(
          TextFns.tokens(col("text")), span)).as(Seq("pos", "h")))
    // "shared by ≥2 distinct docs" ⟺ min(doc_id) < max(doc_id): plain
    // min/max partial-aggregate map-side in ONE level, where the old
    // countDistinct expanded to a two-level agg shuffling every (h,
    // doc_id) pair before counting (the stats pass' exchange carried the
    // whole span-hash table)
    val stats = grams.groupBy(col("h"))
      .agg(min(col("doc_id")).as("d_lo"), max(col("doc_id")).as("d_hi"))
      .filter(col("d_lo") < col("d_hi"))
      .select(col("h"))
    val dup = grams.join(stats, Seq("h"), "left_semi")
      .select(col("doc_id"), col("doc_tokens"),
        (col("pos") + 1).cast("long").as("i"),
        (col("pos") + span).cast("long").as("e"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("i"))
    val prevMaxEnd = max(col("e"))
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    dup
      .withColumn("brk",
        when(col("i") > coalesce(prevMaxEnd, lit(-1L)) + 1, 1L).otherwise(0L))
      .withColumn("island", sum(col("brk")).over(w))
      .groupBy(col("doc_id"), col("doc_tokens"), col("island"))
      .agg(min(col("i")).as("start_token"), max(col("e")).as("end_token"))
      .withColumn("run_tokens", col("end_token") - col("start_token") + 1)
      .filter(col("run_tokens") >= minTokens)
  }

  /** Curator-facing substring-dedup REPORT — the "what exactly is
    * duplicated" view [[dedupSubstrings]]'s per-doc verdicts summarize
    * away: each qualifying maximal duplicated run is reconstructed as
    * its normalized token snippet, identical snippets group, and the
    * top-`topK` land by (docs carrying it, length) with a deterministic
    * text tiebreak. The production use: before mass-dropping documents,
    * a curator eyeballs WHICH boilerplate (licenses, navigation chrome,
    * templated headers) is driving the verdicts.
    *
    * Scale: runs are per-doc bounded and join their own document's
    * token array on the doc_id key (co-keyed, no broadcast of the
    * corpus); only DUPLICATED runs' snippets enter the groupBy — a
    * map-side-combined agg on strings of ≥ `minTokens` tokens whose
    * volume is the duplicated mass, not the corpus — and the final
    * ranking is a bounded TakeOrdered, never a global sort.
    */
  def substringReport(documents: DataFrame, span: Int = SpanTokens,
      minTokens: Int = SubstringMinTokens, topK: Int = 20): DataFrame = {
    val runs = substringRuns(documents, span, minTokens)
    val toks = OpUtils.spreadDocs(documents)
      .select(col("doc_id"), TextFns.tokens(col("text")).as("ts"))
    runs.join(toks, Seq("doc_id"))
      .select(col("doc_id"), col("run_tokens"),
        concat_ws(" ", slice(col("ts"), col("start_token").cast("int"),
          col("run_tokens").cast("int"))).as("snippet"))
      .groupBy(col("snippet"))
      .agg(max(col("run_tokens")).as("run_tokens"),
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        min(col("doc_id")).as("example_doc_id"))
      .orderBy(col("n_docs").desc, col("run_tokens").desc, col("snippet"))
      .limit(topK)
  }

  private val SimhashBits = 60
  private val SimhashBands = 4
  private val SimhashBandBits = 15

  /** Per-doc 60-bit SimHash over the token multiset, folded row-local by
    * the codegen'd [[graft.functions.SimhashExpr]] — the 60 sign
    * counters are per-document state, so like the MinHash signature the
    * whole computation lives in the scan stage (the previous explode +
    * 60-buffer sum aggregate shuffled every token instance). Bit
    * semantics unchanged; the oracle recomputes identical values.
    */
  def withSimhash(documents: DataFrame): DataFrame =
    OpUtils.spreadDocs(documents)
      .select(col("doc_id"),
        graft.functions.MinhashSig.simhash(
          graft.functions.TextFns.normText(col("text"))).as("simhash"))
      .filter(col("simhash").isNotNull)

  /** SimHash near-dup pairs within Hamming distance maxHamming (≤3 is
    * exact w.r.t. the 4-band pigeonhole; larger values are LSH-style
    * candidates-only recall, which the oracle mirrors). Memoized like
    * the MinHash pair graph: the bounded pair list feeds this query AND
    * dedup_method_overlap — one derivation per session per input.
    */
  def dedupSimhash(documents: DataFrame, maxHamming: Int = 3): DataFrame =
    Memo.cached(s"simhash_pairs:$maxHamming", documents)(
      dedupSimhashImpl(_, maxHamming))

  private def dedupSimhashImpl(documents: DataFrame, maxHamming: Int): DataFrame = {
    // eager checkpoint (see dedupMinhashLshImpl): the band self-join's
    // racing map stages would otherwise fold the corpus twice
    val sims = Memo.managedCheckpoint(withSimhash(documents))
    val banded = sims.select(col("doc_id"), col("simhash"),
      explode(array((0 until SimhashBands).map { b =>
        struct(lit(b).as("band"),
          shiftright(col("simhash"), b * SimhashBandBits)
            .bitwiseAND(lit((1L << SimhashBandBits) - 1)).as("key"))
      }: _*)).as("bk"))
      .select(col("doc_id"), col("simhash"), col("bk.band"), col("bk.key"))
    val a = banded.select(col("band"), col("key"),
      col("doc_id").as("doc_a"), col("simhash").as("sim_a"))
    val b = banded.select(col("band"), col("key"),
      col("doc_id").as("doc_b"), col("simhash").as("sim_b"))
    a.join(b, Seq("band", "key"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Method-agreement audit across the three duplicate detectors: every
    * doc flagged by ANY of exact-hash, MinHash-LSH (est. Jaccard ≥ 0.5),
    * or SimHash (Hamming ≤ 3), with a per-method flag and the method
    * count — the comparison a pipeline runs before picking its
    * production dedup policy. Scale shape: the MinHash leg reuses the
    * memoized session pair graph; each leg reduces to a narrow
    * (doc_id, method) stream; the final rollup is map-side combined.
    */
  def dedupMethodOverlap(documents: DataFrame): DataFrame = {
    // group-size window, not groupBy + semi-join: the window groups NULL
    // hashes together exactly like the oracle's PARTITION BY (an equi
    // semi-join would silently drop null-text duplicate groups — NULL
    // never equals NULL in a join), and it reads the corpus ONCE
    val byExact = documents.select(col("doc_id"),
        md5(TextFns.normText(col("text"))).as("ch"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("ch"))))
      .filter(col("n") >= 2).select(col("doc_id"))
    val mh = dedupMinhashLsh(documents)
    val byMinhash = mh.select(col("doc_a").as("doc_id"))
      .union(mh.select(col("doc_b").as("doc_id"))).distinct()
    val sh = dedupSimhash(documents)
    val bySimhash = sh.select(col("doc_a").as("doc_id"))
      .union(sh.select(col("doc_b").as("doc_id"))).distinct()
    byExact.select(col("doc_id"), lit("exact").as("method"))
      .union(byMinhash.select(col("doc_id"), lit("minhash").as("method")))
      .union(bySimhash.select(col("doc_id"), lit("simhash").as("method")))
      .groupBy(col("doc_id"))
      .agg(
        (max(when(col("method") === "exact", 1).otherwise(0)) === 1).as("by_exact"),
        (max(when(col("method") === "minhash", 1).otherwise(0)) === 1).as("by_minhash"),
        (max(when(col("method") === "simhash", 1).otherwise(0)) === 1).as("by_simhash"),
        count(lit(1)).as("n_methods"))
  }

  /** Cross-source duplication matrix — which pairs of ingestion sources
    * ship the same content: exact content fingerprints per (hash, source),
    * then shared-fingerprint counts and Jaccard overlap for every source
    * pair. The provenance-audit view that decides which feed to drop when
    * two crawls overlap heavily.
    *
    * Scale: the corpus contributes one distinct-(hash, source) projection
    * (narrow — text never shuffles); the self-join fan-out per hash is
    * bounded by |sources|, so the pair join is corpus-linear; everything
    * after runs on |sources|²-bounded rows with the per-source totals
    * broadcast. Jaccard is exact integer micro-units (engine-stable).
    */
  def sourceOverlap(documents: DataFrame): DataFrame = {
    // eager checkpoint (pair_medians lesson): the overlap self-join's
    // two map stages and the per-source rollup race a lazy cache
    val fp = Memo.managedCheckpoint(documents
      .select(md5(TextFns.normText(col("text"))).as("h"), col("source"))
      .distinct())
    val perSource = fp.groupBy(col("source")).agg(count(lit(1)).as("n_fp"))
    val shared = fp
      .join(fp.select(col("h"), col("source").as("source_b")), Seq("h"))
      .filter(col("source") < col("source_b"))
      .groupBy(col("source").as("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared"))
    val allPairs = perSource.select(col("source").as("source_a"), col("n_fp").as("n_a"))
      .join(perSource.select(col("source").as("source_b"), col("n_fp").as("n_b")),
        col("source_a") < col("source_b"))
    allPairs
      .join(shared, Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        col("n_a"), col("n_b"))
      .withColumn("jaccard_micro",
        expr("(n_shared * 1000000) div (n_a + n_b - n_shared)"))
  }

  /** Micro-unit fixed-point power: x^e with x in [0, 10⁶] scaled by 10⁶,
    * flooring after every multiply — an EXACT stepwise definition both
    * engines evaluate identically (unlike pow(), whose libm rounding is
    * not portable). Unrolled: e is a literal config, never data.
    */
  private def powMicroSql(base: String, e: Int): String =
    (2 to e).foldLeft(base)((acc, _) => s"(($acc) * ($base)) div 1000000")

  /** LSH band-tuning report — the design study run BEFORE committing a
    * banding scheme at 100 TB: for each candidate (bands b × rows r)
    * split of the 32-hash signature, the EXPECTED RECALL over the
    * corpus's own observed near-dup pairs, i.e. mean over true pairs of
    * the S-curve collision probability 1 − (1 − j^r)^b at the pair's
    * exact Jaccard j. Unlike the textbook curve at a hypothetical
    * similarity, this weights the curve by where YOUR duplicates
    * actually live — the number that tells you whether 4×8 banding
    * sacrifices real recall or only hypothetical recall. Probabilities
    * are micro-unit fixed point ([[powMicroSql]]), so both engines get
    * bit-identical integers.
    *
    * Scale: rides the memoized exact-Jaccard pair graph (bounded); each
    * config adds one aggregation over the pair list.
    */
  def lshBandTuning(documents: DataFrame, tau: Double = 0.5,
      configs: Seq[(Int, Int)] = Seq((16, 2), (8, 4), (4, 8))): DataFrame = {
    val jm = dedupNgramJaccard(documents, tau)
      .select(round(col("jaccard") * 1e6).cast("long").as("j"))
    configs.map { case (b, r) =>
      val sr = powMicroSql("j", r)
      val qb = powMicroSql(s"(1000000 - ($sr))", b)
      jm.agg(count(lit(1)).as("n_true_pairs"),
          sum(expr(s"cast(1000000 - ($qb) as decimal(38,0))")).as("sp"))
        .select(lit(b).cast("long").as("bands"),
          lit(r).cast("long").as("rows_per_band"),
          col("n_true_pairs"),
          expr("cast(sp div nullif(n_true_pairs, 0) as bigint)")
            .as("expected_recall_micro"))
    }.reduce(_ unionByName _)
  }

  /** Similarity histogram of the exact near-dup pairs: 0.05-wide bins
    * over [τ, 1] — the shape that picks the production τ (a mass near τ
    * means the cutoff is splitting a continuum; a spike at 1.0 means
    * mostly exact-ish copies that [[dedupExact]] could handle alone).
    * Rides the memoized pair graph; one bounded aggregation, exact
    * integer binning.
    */
  def jaccardSimHistogram(documents: DataFrame, tau: Double = 0.5): DataFrame =
    dedupNgramJaccard(documents, tau)
      .select(expr("least(cast(round(jaccard * 1000000) as bigint) div 50000 - 10, 9)")
        .as("bin"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_pairs"))
      .select(col("bin"),
        round(lit(0.5) + col("bin") * 0.05, 2).as("bin_lo"),
        round(lit(0.55) + col("bin") * 0.05, 2).as("bin_hi"),
        col("n_pairs"))

  /** Degree census of the near-dup pair graph: how many docs have 1, 2,
    * …, k near-duplicates under the MinHash-LSH graph. The shape check
    * run before cluster-collapse — a heavy tail here means boilerplate
    * families that [[dedupClusters]]' connected components will fuse
    * into giant clusters (and that survivor selection will discard
    * almost entirely). Rides the memoized pair graph; two bounded
    * aggregations.
    */
  def dedupDegreeStats(documents: DataFrame, minEst: Double = 0.5): DataFrame = {
    val pairs = dedupMinhashLsh(documents, minEst)
    pairs.select(col("doc_a").as("doc_id"))
      .unionAll(pairs.select(col("doc_b").as("doc_id")))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("degree"))
      .groupBy(col("degree")).agg(count(lit(1)).as("n_docs"))
  }

  /** Staged-cascade dedup attribution — the production pipeline shape
    * (cheap exact hash first, MinHash-LSH second, SimHash third), with
    * each document attributed to the FIRST stage that would remove it.
    * "Removed" is the deterministic lower-id rule every detector here
    * already uses: an exact copy of a lower doc_id, or the higher side
    * of a near-dup pair. The per-stage doc/token mass and corpus share
    * tell a curator what each successive (more expensive) stage actually
    * buys on top of the previous one.
    *
    * Scale: the exact stage is one hash-grain groupBy; both pair graphs
    * are the memoized session derivations (bounded pair lists); the
    * attribution is three co-keyed left joins on doc_id and a map-side
    * rollup to ≤4 rows. The corpus total is an ungrouped 1-row
    * broadcast.
    */
  def dedupCascade(documents: DataFrame): DataFrame = {
    val hashed = documents.select(col("doc_id"),
      md5(TextFns.normText(col("text"))).as("ch"))
    val exr = hashed
      .join(hashed.groupBy(col("ch")).agg(min(col("doc_id")).as("m")), Seq("ch"))
      .filter(col("doc_id") > col("m"))
      .select(col("doc_id")).withColumn("s_exact", lit(true))
    val mhr = dedupMinhashLsh(documents)
      .select(col("doc_b").as("doc_id")).distinct()
      .withColumn("s_minhash", lit(true))
    val shr = dedupSimhash(documents)
      .select(col("doc_b").as("doc_id")).distinct()
      .withColumn("s_simhash", lit(true))
    val base = documents.select(col("doc_id"),
      size(TextFns.tokens(col("text"))).cast("long").as("ntok"))
    val total = base.agg(count(lit(1)).as("n_total"))
    base
      .join(exr, Seq("doc_id"), "left")
      .join(mhr, Seq("doc_id"), "left")
      .join(shr, Seq("doc_id"), "left")
      .withColumn("stage",
        when(col("s_exact"), "1_exact")
          .when(col("s_minhash"), "2_minhash_lsh")
          .when(col("s_simhash"), "3_simhash")
          .otherwise("kept"))
      .groupBy(col("stage"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("n_tokens"))
      .crossJoin(broadcast(total))
      .select(col("stage"), col("n_docs"), col("n_tokens"),
        expr("n_docs * 1000000 div n_total").as("doc_share_micro"))
  }
}
