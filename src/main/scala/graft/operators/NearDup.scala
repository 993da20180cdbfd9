package graft.operators

import graft.functions.md5hash60
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Near-duplicate detection for document corpora (north-star scope):
  * word-n-gram Jaccard (exact), MinHash signatures + LSH banding
  * (approximate candidate generation, exact verification), and SimHash
  * sketches with Hamming-band pair search.
  *
  * Scale design, 100 TB posture:
  *  - NO pairwise O(n²) step anywhere. Candidates come from equi-joins on
  *    posting keys (shared shingle / shared LSH band / shared SimHash
  *    chunk), which shuffle linearly in corpus size; hot keys are bounded
  *    (a shingle shared by k docs contributes k² candidate rows — mitigate
  *    upstream by dropping ubiquitous shingles; AQE skew-join handles the
  *    rest).
  *  - All hashing is md5-based ([[graft.functions.md5hash60]]) so every
  *    sketch is bit-identical in the DuckDB oracle (xxhash64 would be
  *    faster; parity wins here, and the md5 cost is one pass per shingle).
  *  - Sketches (16 minhashes / 60-bit simhash) are tiny per-doc state:
  *    the verify joins carry signatures, not documents.
  */
object NearDup {

  // ---------------------------------------------------------------- shingles

  /** Distinct word n-gram shingles per document: (id, shingle). Documents
    * with fewer than n tokens produce no rows.
    */
  def shingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    // word_ngrams is the native codegen kernel (fewer-than-n tokens ->
    // empty array -> explode drops the doc, as before)
    val grams = graft.functions.word_ngrams(TextOps.tokens(col(textCol)), n)
    // Deliberately NOT FanOut.widen'd (r18 optimization round): the
    // shingle projection is cheap enough per row that fanning the scan
    // out before it measured as a net LOSS on six consumer rows
    // (q_text_knn 1.5x, q_hybrid_dedup 1.4x — the added exchange and
    // stage outweigh the parallelism), unlike the segment/score
    // projections that keep the helper.
    df.select(col(idCol).as("id"), explode(array_distinct(grams)).as("shingle"))
  }

  /** [[shingles]] with the doc-frequency skew guard: a shingle present in
    * d docs contributes d² candidate rows downstream, so boilerplate
    * shingles (headers, license text, navigation chrome — the #1 LSH
    * hot-key risk at web scale) dominate every posting-list join. Dropping
    * shingles whose doc frequency exceeds `maxDocFreq`·nDocs keeps the
    * joins linear; similarity is then computed over the SURVIVING shingle
    * sets (a documented semantics change when enabled — near-dup quality
    * usually improves, since boilerplate no longer counts as similarity).
    * The hot set is tiny by definition -> broadcast anti join.
    */
  def shinglesWithSkewGuard(df: DataFrame, idCol: String, textCol: String,
                            n: Int, maxDocFreq: Option[Double]): DataFrame = {
    val sh0 = shingles(df, idCol, textCol, n)
    maxDocFreq match {
      case None => sh0
      case Some(f) =>
        // The guard consumes the postings twice (doc-frequency aggregate +
        // the guarded output feeding downstream joins), so materialize the
        // tokenize/md5 transform ONCE instead of recomputing it per
        // consumer. localCheckpoint (not persist): the cached RDD is
        // reclaimed by the ContextCleaner as soon as the result goes out of
        // scope — CacheManager entries would pile up across a long session
        // because this function's caller has no handle to unpersist.
        // Tradeoff, documented for the 100 TB posture: this materializes
        // the posting list (MEMORY_AND_DISK) and truncates lineage, so an
        // executor loss costs a job retry; a corpus where materialization
        // is dearer than one recompute can pass maxDocFreq through its own
        // pre-guarded shingle set instead.
        val sh = sh0.localCheckpoint(true)
        val nDocs = df.select(col(idCol)).distinct().count()
        val hot = sh.groupBy("shingle")
          .agg(count_distinct(col("id")).as("df"))
          .filter(col("df") > f * nDocs)
          .select("shingle")
        sh.join(broadcast(hot), Seq("shingle"), "left_anti")
    }
  }

  // ------------------------------------------------------- exact n-gram Jaccard

  /** Exact Jaccard-similar pairs (id_a < id_b, n_common, jacc >= threshold)
    * via a shingle posting-list equi-join — equivalent to all-pairs Jaccard
    * for any threshold > 0 (pairs with jacc > 0 share >= 1 shingle) without
    * ever forming the cartesian product.
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   n: Int, threshold: Double,
                   maxDocFreq: Option[Double] = None): DataFrame =
    jaccardPairsFromShingles(
      shinglesWithSkewGuard(df, idCol, textCol, n, maxDocFreq), threshold)

  /** [[jaccardPairs]] over a pre-built (id, shingle) posting list — lets a
    * caller that already materialized the postings (e.g. [[lshRecallEval]],
    * which feeds the SAME shingles to both the exact and sketch sides)
    * reuse them instead of re-running tokenize+md5 per consumer.
    */
  private[graft] def jaccardPairsFromShingles(sh: DataFrame,
                                              threshold: Double): DataFrame = {
    val counts = sh.groupBy("id").agg(count(lit(1)).as("n"))
    // shuffle_hash: post-explode cardinality is opaque to Catalyst (same
    // mis-broadcast failure mode as EditDistanceJoin; see that Scaladoc)
    val inter = sh.as("a").hint("shuffle_hash").join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_common"))
    // counts is one row PER DOCUMENT — unbounded at corpus scale, so no
    // broadcast hint (a forced broadcast build dies at the driver long
    // before anything else in this plan). AQE still picks broadcast on its
    // own when the corpus is genuinely small; otherwise the id shuffle is
    // trivial next to the posting join above.
    inter
      .join(counts.as("ca"), col("id_a") === col("ca.id"))
      .join(counts.as("cb"), col("id_b") === col("cb.id"))
      .select(col("id_a"), col("id_b"), col("n_common"),
        (col("n_common").cast("double") /
          (col("ca.n") + col("cb.n") - col("n_common"))).as("jacc"))
      .filter(col("jacc") >= threshold)
  }

  /** Text-side similarity search: the top-k most-similar documents per
    * document by n-gram Jaccard — the lexical complement of Ann's
    * embedding kNN (near-dup review queues, "more like this" without a
    * vector index). Pairs come from the scale-safe posting-list join at
    * `threshold` (never n²), are symmetrized with a union (each direction
    * once — no second join), and ranked per doc with a bounded
    * row_number window; ties break on neighbor id so the output is
    * deterministic. The window sorts only each doc's candidate list
    * (post-threshold, typically tiny), not the corpus.
    */
  def textKnn(df: DataFrame, idCol: String, textCol: String,
              n: Int, threshold: Double, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the union consumes pairs twice (one scan per direction) — without a
    // materialization the whole posting-list join runs twice per action;
    // same localCheckpoint lifecycle reasoning as shinglesWithSkewGuard
    val pairs = jaccardPairs(df, idCol, textCol, n, threshold).localCheckpoint(true)
    val sym = pairs.select(col("id_a").as("id"), col("id_b").as("nbr"), col("jacc"))
      .union(pairs.select(col("id_b").as("id"), col("id_a").as("nbr"), col("jacc")))
    val w = Window.partitionBy("id").orderBy(col("jacc").desc, col("nbr"))
    sym.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
  }

  /** Approximate-dedup quality audit: recall of the MinHash-LSH candidate
    * generator against the EXACT Jaccard ground truth at `threshold`,
    * reduced to one audit row (n_true, n_caught, recall). This is the
    * measurement a pipeline publishes before trusting the banded path at
    * scale: the exact side runs on a sample tier, the sketch settings
    * (NumHashes, band shape) are tuned until recall clears the bar, then
    * only the sketch runs on the full corpus. Both sides are the existing
    * scale-safe operators (posting-list join / band equi-join); the
    * evaluation adds one pair-key left join and a global aggregate that
    * ships two longs per partition. Fully DuckDB-oracled — the minhash
    * sketch is md5-derived and bit-identical across engines.
    */
  def lshRecallEval(df: DataFrame, idCol: String, textCol: String,
                    n: Int, threshold: Double): DataFrame = {
    // truth and sketch consume the SAME postings — materialize the
    // tokenize+md5 scan once (localCheckpoint lifecycle reasoning as
    // shinglesWithSkewGuard) instead of building shingles per side
    val sh = shingles(df, idCol, textCol, n).localCheckpoint(true)
    val truth = jaccardPairsFromShingles(sh, threshold)
      .select(col("id_a"), col("id_b"))
    val cands = lshCandidates(minhashSignatures(sh))
      .withColumn("hit", lit(1L))
    truth.join(cands, Seq("id_a", "id_b"), "left")
      .agg(count(lit(1)).as("n_true"),
        coalesce(sum("hit"), lit(0L)).as("n_caught"))
      .select(col("n_true"), col("n_caught"),
        when(col("n_true") > 0,
          col("n_caught").cast("double") / col("n_true")).as("recall"))
  }

  /** [[jaccardPairs]] with PREFIX FILTERING (Chaudhuri et al. SSJoin /
    * Bayardo et al. AllPairs / Xiao et al. PPJoin — public literature):
    * result-identical for the same threshold, but candidates come only
    * from each document's RAREST few shingles instead of all of them.
    *
    * Under any global total order on shingles (here: (doc-frequency,
    * shingle) ascending — rarest first, which also minimizes posting-list
    * sizes), a pair with jacc >= t has >= ceil(t·max(|x|,|y|)) common
    * shingles, so its globally-first common shingle must sit inside BOTH
    * documents' prefixes of length |x| - ceil(t·|x|) + 1 (else the suffix,
    * which holds fewer than ceil(t·|x|) positions, would have to hold all
    * of them). Candidates = prefix ⋈ prefix is therefore exhaustive; the
    * exact intersection count over FULL shingle sets then verifies.
    *
    * At t=0.5 the prefix is ~half of each document's shingles, and it is
    * the rare half — the d² hot-key risk of boilerplate shingles drops
    * out of candidate generation entirely (they are the FREQUENT ones).
    * Verify cost is linear in candidates. Equality with [[jaccardPairs]]
    * is property-tested in NearDupSpec; the oracle is the same SQL.
    *
    * The rarity prefix is built with the engine's own grouped top-k
    * physical operator (plans.TopKPerKey: bounded heap partial →
    * exchange → bounded heap final) instead of a row_number window — the
    * window spelling SORTED and shuffled every doc's full shingle list
    * (it was the engine's slowest query); the heap pass keeps ≤ cap rows
    * per doc per partition, where cap = the corpus-wide max of each
    * doc's prefix length (a one-row aggregate over the per-doc counts —
    * bounded driver state; cap ≤ (1-t)·max-doc-shingles + 1, so heap
    * memory tracks the largest document, not the corpus). A plan spec
    * (NearDupSpec) asserts no WindowExec remains.
    *
    * Measured trade (sf0.1 documents, local[32], graft.tools.PrefixDemo;
    * identical outputs in all four cells):
    *
    *   - CLEAN corpus, t=0.5: plain ~3.0s, prefix ~7.2s (was 16.4s with
    *     the window sort) — the prefix machinery (checkpoint,
    *     doc-frequency join, grouped top-k, set-array verify) still
    *     costs more than it saves when no shingle is hot.
    *   - BOILERPLATE corpus (a shared 60-token paragraph appended to every
    *     document — the web-crawl norm), t=0.8: plain ~47s, prefix
    *     ~10s — 5x: the shared shingles put d² candidate rows through
    *     the plain join but fall out of the prefix candidates entirely
    *     (they are the FREQUENT ones, prefixes keep the rarest).
    *
    * So: [[jaccardPairs]] on curated corpora; this variant when posting
    * lists are boilerplate-dominated and candidate-pair volume, not scan
    * time, is the bottleneck; [[jaccardPairs]] + maxDocFreq when dropping
    * hot shingles is acceptable instead of exact.
    */
  def jaccardPairsPrefix(df: DataFrame, idCol: String, textCol: String,
                         n: Int, threshold: Double): DataFrame =
    // consumed three times (doc-frequency agg, prefix build, verify) —
    // same localCheckpoint lifecycle reasoning as shinglesWithSkewGuard
    jaccardPairsPrefixFromShingles(
      shingles(df, idCol, textCol, n).localCheckpoint(true), threshold)

  /** [[jaccardPairsPrefix]] over pre-materialized (id, shingle) postings
    * (MUST be checkpointed/stable — consumed three times), so
    * [[jaccardPairsAuto]] can reuse one posting build across the
    * decision statistic and either branch.
    */
  private[graft] def jaccardPairsPrefixFromShingles(
      sh: DataFrame, threshold: Double): DataFrame = {
    val dfreq = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    val counts = sh.groupBy("id").agg(count(lit(1)).as("n"))
    // Prefix = each doc's klim = |x| - ceil(t·|x|) + 1 RAREST shingles
    // under the global (df, shingle) order. Built with the engine's own
    // grouped top-k physical operator (plans.TopKPerKey: bounded heap
    // partial → exchange → bounded heap final) instead of a row_number
    // window — the window spelling SORTS every doc's full shingle list
    // and shuffles all of it; the heap pass keeps k rows per doc per
    // partition and shuffles only those. klim varies per doc, so the
    // operator runs at the corpus-wide cap (one-row aggregate — bounded
    // driver state) and a filter trims each doc to its own klim; the cap
    // is ≤ (1-t)·max-doc-shingles + 1, so per-group heap memory stays
    // proportional to the largest document, not the corpus.
    val klimOf = (n: Column) => (n - ceil(lit(threshold) * n) + 1L).cast("long")
    val withLim = sh.join(dfreq, "shingle").join(counts, "id")
      .withColumn("klim", klimOf(col("n")))
    // the cap depends only on per-doc sizes, so derive it from the tiny
    // counts table (one row per doc), not the postings-sized join
    val maxK = counts.agg(max(klimOf(col("n")))).collect()(0) match {
      case r if r.isNullAt(0) => 0L            // empty corpus
      case r => r.getLong(0)
    }
    if (maxK > Int.MaxValue) throw new IllegalArgumentException(
      s"prefix cap $maxK exceeds Int.MaxValue — threshold $threshold is " +
        "too low for this corpus's largest document")
    graft.Graft.enableOptimizations(sh.sparkSession)
    val prefix =
      if (maxK == 0L) withLim.filter(lit(false)).select("id", "shingle")
      else graft.plans.TopKPerKey.topKPerKey(withLim, Seq("id"),
          Seq(("df", true), ("shingle", true)), maxK.toInt, "rn")
        .filter(col("rn") <= col("klim"))
        .select("id", "shingle")
    // The explicit post-distinct repartition is the halfIdPairs pin: the
    // verify below (two id-keyed joins + an array_intersect per pair over
    // document-sized shingle arrays) is orders of magnitude heavier per
    // byte than AQE's coalescing model expects, so the distinct's
    // candidate exchange (a few MB of (long, long) rows) gets coalesced
    // to a handful of partitions and the whole verify runs there
    // (measured: a 6.6 s 3-task stage carrying q_jaccard_prefix at
    // sf0.1). A user-specified count is exempt from coalescing; the key
    // must differ from the distinct's (id_a, id_b) or the repartition is
    // elided as redundant. One narrow extra shuffle of the DEDUPED pairs
    // buys the verify full parallelism at any scale.
    // sessionState.conf resolves the EFFECTIVE integer value — the raw
    // conf string is not an integer literal on every runtime (some set
    // "auto"), and .toInt would throw there.
    val nPart = sh.sparkSession.sessionState.conf.numShufflePartitions
    val cand = prefix.as("a").hint("shuffle_hash").join(prefix.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
      .repartition(nPart, col("id_a"))
    // verify: join each candidate pair with BOTH docs' full shingle-set
    // ARRAYS and intersect in-row (the minhashNearDupPairs shape) —
    // candidates × 2 id-keyed joins instead of the candidates ×
    // avg-set-size posting expansion this replaced (the expansion
    // materialized ~50x the candidate rows through a two-key shuffle;
    // measured ~20% off the clean-corpus total — the remaining cost is
    // the candidate volume itself: at t=0.5 the prefix is ~half of
    // each document, so candidate pairs stay plentiful; the operator's
    // win is the boilerplate corpus, per the trade table above). Set
    // size bounds per-row memory by the largest document, the same
    // bound the heap prefix carries.
    val sets = sh.groupBy("id").agg(collect_set(col("shingle")).as("ss"))
    val inter = size(array_intersect(col("sa.ss"), col("sb.ss"))).cast("long")
    cand
      .join(sets.as("sa"), col("id_a") === col("sa.id"))
      .join(sets.as("sb"), col("id_b") === col("sb.id"))
      .select(col("id_a"), col("id_b"), inter.as("n_common"),
        (inter.cast("double") /
          (size(col("sa.ss")) + size(col("sb.ss")) - inter)).as("jacc"))
      .filter(col("jacc") >= threshold)
  }

  /** Decision boundary for [[jaccardPairsAuto]]: route to the prefix
    * form when the plain posting join's candidate mass exceeds
    * `factor ×` its linear posting floor. Measured regimes sit orders
    * of magnitude from the default boundary (see [[jaccardPairsAuto]]),
    * so the exact factor is not load-bearing between them.
    */
  private[graft] def jaccardAutoBranch(candMass: Double, postings: Long,
                                       factor: Double): String =
    if (candMass > factor * postings) "prefix" else "plain"

  /** Cost-based dispatch between the two EXACT Jaccard pair joins —
    * [[Linker.similarityPairsAuto]]'s pattern applied to set-similarity:
    * the caller states WHAT (all pairs with jacc ≥ threshold) and the
    * chooser picks [[jaccardPairs]]' plain posting join or
    * [[jaccardPairsPrefix]]'s PPJoin from the corpus's own
    * doc-frequency profile, instead of every call site knowing the
    * boilerplate trade table. Both branches are result-identical (both
    * exact — the oracle for q_jaccard_auto is the same closure as
    * q_jaccard_pairs), so the dispatch can never change an answer, only
    * a wall time.
    *
    * Decision statistic: candidate mass M = Σ_shingle df·(df−1)/2 — the
    * EXACT number of candidate rows the plain self-join emits — against
    * the posting count P (the linear floor every branch pays to scan).
    * The boundary is cited to a FOUR-cell measurement (PrefixDemo, sf0.1
    * documents, boilerplate paragraph on 0/10/20/100% of docs):
    *
    *   regime       M/P     plain     prefix    winner
    *   clean         4.9     3.0 s     8.1 s    plain
    *   mixed-10%    29.3     1.9 s     9.1 s    plain
    *   mixed-20%    94.4     2.2 s     8.2 s    plain
    *   boilerplate  1296    77.4 s    16.7 s    prefix
    *
    * Plain's wall tracks the candidate mass near-linearly (3.0e7 pairs
    * → 2.2 s, 7.3e8 → 77 s ≈ 1e7 verified pairs/s/32 cores) while the
    * prefix machinery (checkpoint, dfreq join, grouped top-k,
    * set-array verify) costs a near-constant ~8–17 s here — so the true
    * crossover mass is ~1e8 pairs ≈ M/P of a few hundred on this
    * posting count, between the measured 94 (plain wins 3.7×) and 1296
    * (prefix wins 4.6×). The default factor 256 routes every measured
    * cell to its winner; near the boundary the branches converge, so a
    * mis-route there costs little by construction.
    *
    * Cost of deciding: the postings build is shared with whichever
    * branch runs (checkpointed once), so the decision adds ONE
    * map-side-combinable aggregate over the checkpointed postings —
    * noise next to either branch's joins. (The prefix route recomputes
    * its own dfreq from the same checkpoint rather than reusing this
    * one: deduplicating them would mean eagerly materializing the
    * distinct-shingle table before the route is even known, taxing the
    * plain route with a corpus-vocabulary-sized write to save the hot
    * route one cheap re-agg.)
    */
  def jaccardPairsAuto(df: DataFrame, idCol: String, textCol: String,
                       n: Int, threshold: Double,
                       hotKeyFactor: Double = JaccardHotKeyFactor): DataFrame = {
    val sh = shingles(df, idCol, textCol, n).localCheckpoint(true)
    val r = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
      .agg(coalesce(sum(col("df")), lit(0L)).as("p"),
        coalesce(sum(col("df").cast("double") * (col("df") - 1L) / 2.0),
          lit(0.0)).as("m"))
      .collect()(0)
    jaccardAutoBranch(r.getDouble(1), r.getLong(0), hotKeyFactor) match {
      case "prefix" => jaccardPairsPrefixFromShingles(sh, threshold)
      case _        => jaccardPairsFromShingles(sh, threshold)
    }
  }

  /** See [[jaccardPairsAuto]]: candidate-mass-to-posting ratio above
    * which the plain posting join is hot-key-bound and the PPJoin
    * prefix form wins. Set from the four-cell PrefixDemo sweep: plain
    * still wins 3.7× at the measured M/P = 94 (its wall tracks
    * candidate mass at ~1e7 verified pairs/s/32-core while the prefix
    * machinery is near-constant), prefix wins 4.6× at M/P = 1296; the
    * mass-linearity estimate puts the true crossover at a few hundred.
    * 256 routes every measured cell to its winner. (An earlier draft
    * used 32 — the mid-skew cells showed that mis-routes M/P ≈ 94 to a
    * 3.7×-slower branch, which is why the boundary is measured, not
    * modeled.)
    */
  val JaccardHotKeyFactor: Double = 256.0

  /** Directed n-gram containment pairs: containment of A in B is
    * |shingles(A) ∩ shingles(B)| / |shingles(A)| — the asymmetric cousin
    * of Jaccard that catches SUBSET duplication (a document quoted or
    * embedded wholesale inside a longer one), which symmetric Jaccard
    * misses whenever the host document is much larger (the union term
    * drowns the overlap). The pair row carries both directions; rows
    * survive when either direction clears `threshold`.
    *
    * Same posting-list equi-join as [[jaccardPairs]] — candidates are
    * pairs sharing >= 1 shingle, which is exhaustive for any
    * threshold > 0 — so the scale posture is identical (linear shuffle,
    * skew guard available, no n²).
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       n: Int, threshold: Double,
                       maxDocFreq: Option[Double] = None): DataFrame = {
    val sh = shinglesWithSkewGuard(df, idCol, textCol, n, maxDocFreq)
    val counts = sh.groupBy("id").agg(count(lit(1)).as("n"))
    val inter = sh.as("a").hint("shuffle_hash").join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_common"))
    // per-doc counts: no broadcast hint (see jaccardPairs)
    inter
      .join(counts.as("ca"), col("id_a") === col("ca.id"))
      .join(counts.as("cb"), col("id_b") === col("cb.id"))
      .select(col("id_a"), col("id_b"), col("n_common"),
        (col("n_common").cast("double") / col("ca.n")).as("cont_a_in_b"),
        (col("n_common").cast("double") / col("cb.n")).as("cont_b_in_a"))
      .filter(greatest(col("cont_a_in_b"), col("cont_b_in_a")) >= threshold)
  }

  /** Incremental near-dedup: exact Jaccard pairs BETWEEN a new batch and
    * an existing corpus — the daily-ingest shape (dedup today's crawl
    * against the accumulated corpus without re-pairing the corpus with
    * itself). Same posting-list equi-join as [[jaccardPairs]], but the
    * join is batch-postings x corpus-postings: cost scales with
    * |batch| x (matching postings), never |corpus|². Per-doc shingle
    * counts join back WITHOUT a broadcast hint — the corpus count table is
    * one row per document (too big to broadcast at 100 TB); at small SF
    * AQE broadcasts it on its own.
    */
  def crossJaccardPairs(batch: DataFrame, corpus: DataFrame,
                        idCol: String, textCol: String,
                        n: Int, threshold: Double,
                        maxDocFreq: Option[Double] = None): DataFrame = {
    val shB = shinglesWithSkewGuard(batch, idCol, textCol, n, maxDocFreq)
    val shC = shinglesWithSkewGuard(corpus, idCol, textCol, n, maxDocFreq)
    val cntB = shB.groupBy("id").agg(count(lit(1)).as("n"))
    val cntC = shC.groupBy("id").agg(count(lit(1)).as("n"))
    val inter = shB.as("a").hint("shuffle_hash")
      .join(shC.as("b"), col("a.shingle") === col("b.shingle"))
      .groupBy(col("a.id").as("batch_id"), col("b.id").as("corpus_id"))
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(cntB.as("ca"), col("batch_id") === col("ca.id"))
      .join(cntC.as("cb"), col("corpus_id") === col("cb.id"))
      .select(col("batch_id"), col("corpus_id"), col("n_common"),
        (col("n_common").cast("double") /
          (col("ca.n") + col("cb.n") - col("n_common"))).as("jacc"))
      .filter(col("jacc") >= threshold)
  }

  /** Publish a STANDING LSH index for a corpus snapshot — the
    * train-once/serve-many pattern (IvfFixture/PqFixture) applied to
    * text near-dedup: instead of recomputing the standing corpus's
    * shingles + signatures on every incremental batch (what a naive
    * [[crossJaccardPairs]] against the full corpus does — corpus-sized
    * work per batch), a nightly job writes the two relations every
    * batch needs and the per-batch cost drops to batch-sized compute
    * plus an equi-join against the index. Spark persists bucket
    * metadata only through the catalog, so both are saved as BUCKETED
    * tables with their files under `$dir`:
    *
    *   - `<tablePrefix>_postings` — (id, bkey) MinHash band postings
    *     (the [[bandPostings]] keys), bucketed by bkey;
    *   - `<tablePrefix>_sets` — (id, ss) sorted distinct shingle sets,
    *     bucketed by id, for the exact verify step.
    *
    * The corpus shingle scan runs ONCE and feeds both tables. A
    * serve-side join against the postings needs NO index-side exchange
    * at all — the bucketed scan reports hashpartitioning(bkey) and only
    * the (small) batch side shuffles to meet it (plan-asserted in
    * NearDupSpec); at 100 TB that is the difference between joining the
    * standing index in place and re-shuffling the corpus on every
    * nightly batch.
    */
  def writeBandIndexBucketed(corpus: DataFrame, idCol: String,
                             textCol: String, n: Int, dir: String,
                             tablePrefix: String,
                             numBuckets: Int = 8): Unit = {
    val sh = shingles(corpus, idCol, textCol, n).localCheckpoint(true)
    graft.sources.Layout.publishBucketed(bandPostingRows(sh), "bkey",
      s"${tablePrefix}_postings", s"$dir/postings", numBuckets)
    graft.sources.Layout.publishBucketed(shingleSets(sh), "id",
      s"${tablePrefix}_sets", s"$dir/sets", numBuckets)
  }

  /** INCREMENTAL PUBLISH for the LSH tier — the missing third verb of
    * the write-once/serve-many lifecycle (the CC tier got its
    * [[ConnectedComponents.mergeRepublish]] the same round): append a
    * day's ACCEPTED batch into the standing bucketed tables instead of
    * rebuilding them from the whole corpus. The appended files carry
    * the SAME bucket spec (Spark verifies it against the table), so
    * bucket b of the grown index is still exactly the rows hashing to
    * b — the serve join's no-index-shuffle property survives appends,
    * and tomorrow's [[incrementalNearDupPairsBucketed]] sees
    * corpus ∪ batch with no work proportional to the corpus.
    * Lossless by construction: postings/sets are per-document rows
    * computed by the same expressions the full writer uses, so
    * append(corpus) ∪ append(batch) = write(corpus ∪ batch) row-for-row
    * (parity-spec'd in NearDupSpec; q_near_dedup_incr_appended shares
    * the monolithic rebuild's oracle — equality proves the roundtrip).
    * Contract: batch ids must be NEW (an id re-publish would duplicate
    * its rows — exact dedup upstream owns identity).
    */
  def appendBandIndexBucketed(batch: DataFrame, idCol: String,
                              textCol: String, n: Int,
                              tablePrefix: String): Unit = {
    val sh = shingles(batch, idCol, textCol, n).localCheckpoint(true)
    graft.sources.Layout.appendBucketed(bandPostingRows(sh), "bkey",
      s"${tablePrefix}_postings")
    graft.sources.Layout.appendBucketed(shingleSets(sh), "id",
      s"${tablePrefix}_sets")
  }

  /** The (id, bkey) band postings and (id, ss) sorted shingle sets of a
    * shingle frame — the rows every band-index publish and append writes.
    */
  private def bandPostingRows(sh: DataFrame): DataFrame =
    minhashSignatures(sh)
      .select(col("id"), explode(array(bandKeyCols(
        k => col(s"h$k")): _*)).as("bkey"))

  private def shingleSets(sh: DataFrame): DataFrame =
    sh.groupBy("id").agg(sort_array(collect_set(col("shingle"))).as("ss"))

  /** Incremental near-dup pairs of a new batch against a STANDING index
    * ([[writeBandIndexBucketed]], possibly grown by
    * [[appendBandIndexBucketed]]) — candidates from the batch's band keys
    * equi-joined with the standing postings in place (shuffle_hash build
    * on the bounded batch side; no index-side shuffle), exact Jaccard
    * verified against the standing shingle sets. Result-identical to
    * recomputing LSH+verify over batch x corpus (the oracle replays
    * exactly that recompute), but the standing corpus contributes only
    * an index SCAN per batch. Output: (batch_id, corpus_id, n_common,
    * jacc), jacc >= threshold.
    */
  def incrementalNearDupPairsBucketed(batch: DataFrame, idCol: String,
                                      textCol: String, n: Int,
                                      threshold: Double,
                                      tablePrefix: String): DataFrame = {
    val spark = batch.sparkSession
    val post = spark.table(s"${tablePrefix}_postings")
      .select(col("id").as("corpus_id"), col("bkey"))
    val sets = spark.table(s"${tablePrefix}_sets")
      .select(col("id").as("corpus_id"), col("ss").as("ss_c"))
    // batch scan shared by its postings and its verify sets
    val shB = shingles(batch, idCol, textCol, n).localCheckpoint(true)
    val postB = bandPostingRows(shB)
      .select(col("id").as("batch_id"), col("bkey"))
    val cands = postB.hint("shuffle_hash").join(post, "bkey")
      .select(col("batch_id"), col("corpus_id")).distinct()
    val setsB = shingleSets(shB)
      .select(col("id").as("batch_id"), col("ss").as("ss_b"))
    cands
      .join(setsB, "batch_id")
      .join(sets, "corpus_id")
      .select(col("batch_id"), col("corpus_id"),
        size(array_intersect(col("ss_b"), col("ss_c"))).cast("long").as("n_common"),
        (size(array_intersect(col("ss_b"), col("ss_c"))).cast("double") /
          (size(col("ss_b")) + size(col("ss_c")) -
            size(array_intersect(col("ss_b"), col("ss_c"))))).as("jacc"))
      .filter(col("jacc") >= threshold)
  }

  // ---------------------------------------------------------------- MinHash

  /** 16 hashes in 4 bands of 4 — not arbitrary: (4, 4) is
    * [[LshTune.tune]]'s error-mass argmin over the divisor pairs of 16 at
    * the engine's operating threshold 0.5 (derivation oracled as
    * q_lsh_tune; recall it predicts measured by q_lsh_recall). Pinned as
    * constants because the DuckDB oracle SQL mirrors the banding layout
    * hash-for-hash — retune via [[LshTune]] if the threshold regime moves.
    */
  val NumHashes = 16
  val Bands = 4
  val RowsPerBand = 4

  /** 60-bit mask: all minhash values stay in [0, 2^60) — positive BIGINTs
    * on both engines.
    */
  val HashMask: Long = (1L << 60) - 1

  /** Per-doc MinHash signature h0..h15 from ONE md5 digest per shingle:
    * the 128-bit digest splits into a 60-bit half `a` (hex chars 1-15) and
    * a 56-bit half `b` (hex chars 16-29); hash k is the affine combination
    * (a + (k+1)·b) mod 2^60 — the standard two-hash family (Kirsch &
    * Mitzenmacher, "Less Hashing, Same Performance"). 16× less md5 CPU than
    * the previous seeded-digest scheme while staying bit-identical to the
    * DuckDB oracle (same split, same BIGINT arithmetic; (k+1)·b + a
    * <= 16·2^56 + 2^60 < 2^63, so the signed-64 math never overflows).
    * One shuffle (groupBy id).
    */
  def minhashSignatures(sh: DataFrame): DataFrame = {
    val halves = sh
      .select(col("id"), md5(col("shingle")).as("d"))
      .select(col("id"),
        conv(substring(col("d"), 1, 15), 16, 10).cast("long").as("a"),
        conv(substring(col("d"), 16, 14), 16, 10).cast("long").as("b"))
    val aggs = (0 until NumHashes).map { k =>
      min((col("a") + lit((k + 1).toLong) * col("b"))
        .bitwiseAND(lit(HashMask))).as(s"h$k")
    }
    halves.groupBy("id").agg(aggs.head, aggs.tail: _*)
  }

  /** LSH candidate pairs: docs agreeing on ALL hashes of at least one band.
    * Implemented as posexplode over per-band key structs + self equi-join on
    * (band, key) — linear shuffle, no n².
    */
  def lshCandidates(sig: DataFrame): DataFrame = {
    // field names must be uniform across bands for array(struct...) to type
    val bandStructs = (0 until Bands).map { b =>
      struct((0 until RowsPerBand)
        .map(r => col(s"h${b * RowsPerBand + r}").as(s"f$r")): _*)
    }
    val banded = sig.select(col("id"),
      posexplode(array(bandStructs: _*)).as(Seq("band", "key")))
    banded.as("a").hint("shuffle_hash").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** MinHash-LSH near-dup pairs, exactly verified: LSH candidates joined
    * with per-doc distinct shingle sets, true Jaccard computed per candidate
    * only (array_intersect on sorted sets), filtered at `threshold`.
    */
  def minhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                          n: Int, threshold: Double,
                          maxDocFreq: Option[Double] = None): DataFrame = {
    // The skew guard applies to BOTH the signatures and the verify sets:
    // signatures over unguarded shingles would still band ubiquitous-
    // boilerplate docs together and re-create the hot candidate blowup the
    // guard exists to prevent.
    val sh = shinglesWithSkewGuard(df, idCol, textCol, n, maxDocFreq)
    val cands = lshCandidates(minhashSignatures(sh))
    val sets = sh.groupBy("id").agg(collect_set(col("shingle")).as("ss"))
    cands
      .join(sets.as("sa"), col("id_a") === col("sa.id"))
      .join(sets.as("sb"), col("id_b") === col("sb.id"))
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("sa.ss"), col("sb.ss"))).cast("long").as("n_common"),
        (size(array_intersect(col("sa.ss"), col("sb.ss"))).cast("double") /
          (size(col("sa.ss")) + size(col("sb.ss")) -
            size(array_intersect(col("sa.ss"), col("sb.ss"))))).as("jacc"))
      .filter(col("jacc") >= threshold)
  }

  /** One narrow band-key string per (doc, band): the band index plus that
    * band's [[RowsPerBand]] signature values — the membership posting a
    * standing corpus publishes for the streaming admission gate (and the
    * string form of [[lshCandidates]]' (band, struct) join key; ":" can't
    * occur inside the decimal hash values, so the encoding is injective).
    */
  def bandPostings(df: DataFrame, idCol: String, textCol: String,
                   n: Int): DataFrame =
    bandPostingRows(shingles(df, idCol, textCol, n))

  private def bandKeyCols(h: Int => Column): Seq[Column] =
    (0 until Bands).map { b =>
      concat_ws(":", lit(b).cast("string") +:
        (0 until RowsPerBand).map(r =>
          h(b * RowsPerBand + r).cast("string")): _*)
    }

  /** STREAMING near-dup admission gate — dedup at ingestion: every
    * arriving doc is flagged when any of its LSH bands collides with the
    * standing corpus's band postings ([[bandPostings]], the static side a
    * nightly batch job publishes). The stream side computes its MinHash
    * signature ROW-LOCALLY (array-fold minhash over the doc's own shingle
    * array — no stateful groupBy, bit-identical to the batch
    * explode+groupBy signature), explodes its [[Bands]] band keys
    * statelessly, stream-static joins the postings, and folds to one
    * verdict row per (window, doc) under the watermark — the same
    * bounded-state shape as the winnow contamination gate. Band collision
    * is the LSH CANDIDATE test (the recall knob the batch tiers verify
    * exactly); an admission gate wants cheap-and-recall-heavy, and the
    * flagged docs feed the exact batch verify downstream.
    */
  def nearDupGateStream(docs: DataFrame, corpus: DataFrame, idCol: String,
                        textCol: String, tsCol: String, n: Int = 3,
                        windowLen: String = "1 hour",
                        watermark: String = "2 hours"): DataFrame =
    // materialize the corpus postings ONCE: the static side of a
    // stream-static join is re-planned every micro-batch, and without
    // the checkpoint each batch would re-run the full-corpus
    // shingle+signature aggregation (per-batch cost = corpus-sized, not
    // batch-sized — the round-8 review caught exactly that)
    gateStream(docs,
      bandPostings(corpus, idCol, textCol, n)
        .select(col("bkey")).distinct().withColumn("__hit", lit(1L))
        .localCheckpoint(true),
      idCol, textCol, tsCol, n, windowLen, watermark)

  /** [[nearDupGateStream]] with the standing side read from a PERSISTED
    * band-posting index (the [[writeBandIndexBucketed]] `_postings`
    * table) instead of recomputed from corpus text — the
    * production wiring: the nightly index job publishes, the 24/7
    * admission gate serves. Same checkpoint-once lifecycle (the distinct
    * over the postings runs once per query construction, micro-batches
    * reuse the materialized band-key set).
    */
  def nearDupGateStreamIndexed(docs: DataFrame, postings: DataFrame,
                               idCol: String, textCol: String,
                               tsCol: String, n: Int = 3,
                               windowLen: String = "1 hour",
                               watermark: String = "2 hours"): DataFrame =
    gateStream(docs,
      postings.select(col("bkey")).distinct().withColumn("__hit", lit(1L))
        .localCheckpoint(true),
      idCol, textCol, tsCol, n, windowLen, watermark)

  private def gateStream(docs: DataFrame, statics: DataFrame, idCol: String,
                         textCol: String, tsCol: String, n: Int,
                         windowLen: String, watermark: String): DataFrame = {
    val shingleArr = array_distinct(
      graft.functions.word_ngrams(TextOps.tokens(col(textCol)), n))
    // one md5 per shingle, halved into the affine family's (a, b) — the
    // same split as minhashSignatures, kept in a row-local struct array
    val withAb = docs.withWatermark(tsCol, watermark)
      .select(col(idCol).as("id"), col(tsCol).as("__ts"),
        shingleArr.as("__sh"))
      .filter(size(col("__sh")) > 0)
      .withColumn("__ab", transform(col("__sh"), s => {
        val d = md5(s)
        struct(conv(substring(d, 1, 15), 16, 10).cast("long").as("a"),
          conv(substring(d, 16, 14), 16, 10).cast("long").as("b"))
      }))
    def hK(k: Int): Column = array_min(transform(col("__ab"), p =>
      (p.getField("a") + lit((k + 1).toLong) * p.getField("b"))
        .bitwiseAND(lit(HashMask))))
    withAb
      .select(col("id"), col("__ts"),
        explode(array(bandKeyCols(hK): _*)).as("bkey"))
      .join(statics, Seq("bkey"), "left")
      .groupBy(window(col("__ts"), windowLen), col("id").as("doc_id"))
      .agg(sum(coalesce(col("__hit"), lit(0L))).as("n_hit_bands"))
      .select(
        (col("window.start").cast("long") * 1000000L).as("window_start_us"),
        col("doc_id"), col("n_hit_bands"),
        (col("n_hit_bands") > 0).as("near_dup"))
  }

  /** Per-document dedup DECISION REPORT — the provenance audit across the
    * three dedup tiers: for every doc, the exact-fingerprint verdict
    * (keeper = min id per normalized-md5 group), the text near-dup verdict
    * ([[dedupByNearDup]]'s canonical flag), and the semantic verdict
    * ([[Ann.dedupByCosine]]'s canonical flag over the embedding table,
    * docs without a vector trivially kept), plus the conjunction and a
    * `dropped_by` provenance string ("exact,near,semantic" subset in fixed
    * order). This is the WHY next to the tiers' WHAT: reviewers audit
    * removal decisions per tier instead of diffing three outputs.
    *
    * Scale: three already-scale-safe verdicts joined on the doc id — the
    * report adds two id-keyed joins and a projection, nothing quadratic.
    * The semantic verdict is q_embed_dedup's, restricted to doc ids (the
    * cluster canonical may be a non-doc vector; such a doc reads
    * sem_keep = false, exactly as the embedding tier alone would decide).
    */
  def dedupDecisionReport(docs: DataFrame, emb: DataFrame, idCol: String,
                          textCol: String, embIdCol: String, embCol: String,
                          n: Int, jaccThreshold: Double,
                          cosThreshold: Double): DataFrame = {
    val fp = docs.select(col(idCol), TextOps.fingerprint(col(textCol)).as("fp"))
    val fpKeep = fp.groupBy("fp").agg(min(col(idCol)).as("__fpk"))
    val exact = fp.join(fpKeep, "fp")
      .select(col(idCol), (col(idCol) === col("__fpk")).as("exact_keep"))
    // the text and semantic tiers each run their OWN connected-components
    // loop during construction (per-round signature actions at single-
    // digit utilization) and are fully independent until the final id
    // joins — construct them concurrently (Par.sections, guide §2.6) so
    // one tier's rounds back-fill the other's scheduling gaps
    val Seq(near, sem) = Par.sections(
      () => dedupByNearDup(docs, idCol, textCol, n, jaccThreshold)
        .select(col(idCol), col("is_canonical").as("near_keep")),
      () => Ann.dedupByCosine(emb, embIdCol, embCol, cosThreshold)
        .select(col(embIdCol).as(idCol), col("is_canonical").as("sem_keep")))
    exact.join(near, Seq(idCol))
      .join(sem, Seq(idCol), "left")
      .withColumn("sem_keep", coalesce(col("sem_keep"), lit(true)))
      .select(col(idCol), col("exact_keep"), col("near_keep"), col("sem_keep"),
        (col("exact_keep") && col("near_keep") && col("sem_keep")).as("kept"),
        concat_ws(",",
          when(!col("exact_keep"), lit("exact")),
          when(!col("near_keep"), lit("near")),
          when(!col("sem_keep"), lit("semantic"))).as("dropped_by"))
  }

  /** Cross-source duplicate-mass matrix — WHERE the near-dup mass sits
    * between feeds: for every unordered source pair, the number of
    * verified near-dup pairs linking them (the diagonal is within-source
    * duplication). The audit that picks survivorship policy before paying
    * for a full dedup — a feed whose mass is mostly off-diagonal against
    * a curated source is a drop candidate, not a keeper tie-break. Cost on
    * top of [[minhashNearDupPairs]]: two id-keyed joins to re-attach
    * sources plus a hash aggregate sized by source-pair count.
    */
  def crossSourceDupMatrix(df: DataFrame, idCol: String, textCol: String,
                           srcCol: String, n: Int,
                           threshold: Double): DataFrame = {
    val pairs = minhashNearDupPairs(df, idCol, textCol, n, threshold)
      .select("id_a", "id_b")
    val src = df.select(col(idCol).as("__id"), col(srcCol).as("__src"))
    pairs
      .join(src.select(col("__id"), col("__src").as("src_a")),
        col("id_a") === col("__id")).drop("__id")
      .join(src.select(col("__id"), col("__src").as("src_b")),
        col("id_b") === col("__id")).drop("__id")
      .select(least(col("src_a"), col("src_b")).as("source_a"),
        greatest(col("src_a"), col("src_b")).as("source_b"))
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("n_pairs"))
  }

  /** End-to-end corpus dedup: near-dup pairs (MinHash-LSH candidates,
    * exactly verified) → connected components → canonical (minimum) doc id
    * per cluster. Returns every doc with its cluster id and whether it is
    * the cluster's keeper — the shape a 100 TB training-data dedup pass
    * needs (filter is_canonical to materialize the deduped corpus).
    */
  def dedupByNearDup(df: DataFrame, idCol: String, textCol: String,
                     n: Int, threshold: Double,
                     maxDocFreq: Option[Double] = None): DataFrame = {
    val pairs = minhashNearDupPairs(df, idCol, textCol, n, threshold, maxDocFreq)
    val comps = ConnectedComponents.run(
      df.select(col(idCol).as("id")),
      pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
    comps.select(col("id").as(idCol), col("component"),
      (col("id") === col("component")).as("is_canonical"))
  }

  /** HYBRID ensemble dedup — text and embedding dup signals in ONE
    * clustering pass: MinHash-LSH text near-dup pairs unioned with
    * stacked-table embedding cosine pairs ([[Ann.stackedDupPairs]]),
    * then a single connected-components run over the document universe.
    * The two signals are complementary (the production combination):
    * boilerplate-perturbed copies surface as n-gram overlap that
    * embeddings may smooth away, while paraphrased rewrites surface as
    * embedding cosine with near-zero n-gram overlap — a doc caught by
    * EITHER signal joins the cluster, and transitive chains may merge
    * across signals (text-dup of a paraphrase collapses all three).
    *
    * `emb` is keyed by `embIdCol` in the SAME id namespace as
    * `docs(idCol)`: docs without an embedding row contribute no cosine
    * edges, and cosine pairs touching an id with no document row are
    * DROPPED (semi-join on the sparse pair set) — otherwise a stray
    * embedding id could become a cluster's min-id component and leave the
    * cluster with no keeper, breaking the every-cluster-has-a-canonical
    * invariant. Output: (idCol, component, is_canonical) — identical
    * contract to [[dedupByNearDup]] / [[Ann.dedupByCosine]], whose union
    * of edge sets this is.
    *
    * Scale shape: both pair generators are the existing posting/bucket
    * equi-joins; union+distinct adds one shuffle over the (sparse) edge
    * set; CC is the shared large/small-star path. Nothing here is new at
    * scale — the composite inherits its parts' posture.
    */
  def dedupByHybrid(docs: DataFrame, emb: DataFrame, idCol: String,
                    textCol: String, embIdCol: String, embCol: String,
                    n: Int, jaccThreshold: Double, cosThreshold: Double,
                    nTables: Int = 3,
                    maxDocFreq: Option[Double] = None): DataFrame = {
    val textPairs = minhashNearDupPairs(docs, idCol, textCol, n,
      jaccThreshold, maxDocFreq).select(col("id_a"), col("id_b"))
    val docIds = docs.select(col(idCol).as("__did"))
    val embPairs = Ann.stackedDupPairs(emb, embIdCol, embCol,
      cosThreshold, nTables).select(col("id_a"), col("id_b"))
      .join(docIds, col("id_a") === col("__did"), "left_semi")
      .join(docIds, col("id_b") === col("__did"), "left_semi")
    val pairs = textPairs.union(embPairs).distinct()
    val comps = ConnectedComponents.run(
      docs.select(col(idCol).as("id")),
      pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
    comps.select(col("id").as(idCol), col("component"),
      (col("id") === col("component")).as("is_canonical"))
  }

  /** [[dedupByNearDup]] with QUALITY survivorship: the keeper of each
    * near-dup cluster is the member with the highest score (tie-break:
    * lowest id), not the smallest id — the policy production dedup
    * actually wants (keep the cleanest copy of a boilerplate-mangled
    * family, not the one that happened to crawl first). Mirrors the
    * exact-dedup tier's best-by-score survivor so both tiers offer the
    * same policy pair (canonical-id / best-by-score).
    *
    * `scores`: (idCol, score) — one row per doc (e.g. qualityScore
    * output). Output: (idCol, component, score, keeper_id, is_keeper).
    *
    * Scale shape: clustering is the banded-LSH + large/small-star CC
    * path of [[dedupByNearDup]]; survivorship adds one equi-join with the
    * score table and a per-component window — component keys, bounded by
    * cluster sizes, no global hot key.
    */
  def dedupByNearDupBest(df: DataFrame, idCol: String, textCol: String,
                         n: Int, threshold: Double,
                         scores: DataFrame): DataFrame =
    bestSurvivor(dedupByNearDup(df, idCol, textCol, n, threshold)
      .select(col(idCol), col("component")), idCol, scores)

  /** [[dedupByHybrid]] with QUALITY survivorship — completes the policy
    * matrix: every dedup tier (exact, text near-dup, hybrid ensemble)
    * offers the same canonical-id / best-by-score pair, so switching
    * tiers never changes the survivorship contract. Output and survivor
    * rules are identical to [[dedupByNearDupBest]].
    */
  def dedupByHybridBest(docs: DataFrame, emb: DataFrame, idCol: String,
                        textCol: String, embIdCol: String, embCol: String,
                        n: Int, jaccThreshold: Double, cosThreshold: Double,
                        scores: DataFrame, nTables: Int = 3,
                        maxDocFreq: Option[Double] = None): DataFrame =
    bestSurvivor(dedupByHybrid(docs, emb, idCol, textCol, embIdCol, embCol,
      n, jaccThreshold, cosThreshold, nTables, maxDocFreq)
      .select(col(idCol), col("component")), idCol, scores)

  /** Best-by-score survivor over a (idCol, component) assignment — the
    * tail shared by [[dedupByNearDupBest]] and [[dedupByHybridBest]].
    * LEFT join: a doc missing from the score table must not silently
    * vanish from a DEDUP result — it stays, ranked below every scored
    * member (desc_nulls_last on both engines).
    */
  private def bestSurvivor(comp: DataFrame, idCol: String,
                           scores: DataFrame): DataFrame = {
    val scored = comp.join(scores, Seq(idCol), "left")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("component"))
      .orderBy(col("score").desc_nulls_last, col(idCol))
    val keep = scored.withColumn("_rk", row_number().over(w))
      .filter(col("_rk") === 1)
      .select(col("component"), col(idCol).as("keeper_id"))
    scored.join(keep, Seq("component"))
      .select(col(idCol), col("component"), col("score"), col("keeper_id"),
        (col(idCol) === col("keeper_id")).as("is_keeper"))
  }

  // ---------------------------------------------------------------- SimHash

  val SimHashBits = 60

  /** 60-bit SimHash over distinct lowercased tokens (full md5hash60 width;
    * the value fits a positive BIGINT, 2^60): bit j is the sign of
    * Σ_tokens (bit j of md5hash60(token) set ? +1 : -1). Docs with no tokens
    * produce no row (consistent with the oracle's WHERE guard).
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = df.select(col(idCol).as("id"),
      explode(array_distinct(TextOps.tokens(lower(col(textCol))))).as("t"))
    val h = md5hash60(col("t"))
    val withH = tok.select(col("id"), h.as("h"))
    val bitSums = (0 until SimHashBits).map(j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(lit(1L)) === 1L, 1L)
        .otherwise(-1L)).as(s"b$j"))
    val sums = withH.groupBy("id").agg(bitSums.head, bitSums.tail: _*)
    val value = (0 until SimHashBits)
      .map(j => when(col(s"b$j") >= 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    sums.select(col("id"), value.as("simhash"))
  }

  /** Near-dup pairs by SimHash Hamming distance <= maxHamming, candidates
    * from 10-bit chunk equality (pigeonhole: hamming <= 5 over 6 chunks
    * forces >= 1 identical chunk), verified with bit_count(xor).
    */
  def simhashPairs(sig: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming < SimHashBits / 10, "pigeonhole needs maxHamming < #chunks")
    val chunks = (0 until SimHashBits / 10).map { c =>
      struct(lit(c).as("c"),
        shiftright(col("simhash"), c * 10).bitwiseAND(lit(0x3FFL)).as("v"))
    }
    val chunked = sig.select(col("id"), col("simhash"),
      explode(array(chunks: _*)).as("chunk"))
    chunked.as("a").hint("shuffle_hash").join(chunked.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.simhash").as("sim_a"), col("b.simhash").as("sim_b"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }
}
