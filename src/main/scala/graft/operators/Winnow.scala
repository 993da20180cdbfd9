package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
  * "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD 2003
  * — public algorithm): hash every k-token gram with a polynomial rolling
  * hash, slide a w-gram window over the hash sequence, and keep each
  * window's minimum. The selected set is position-insensitive and
  * guarantees any shared token run of length >= k + w - 1 produces at
  * least one shared fingerprint — the standard containment/overlap
  * detector (MOSS) that complements set-similarity near-dup (MinHash
  * measures whole-document Jaccard; winnowing catches a paragraph copied
  * into an otherwise different document).
  *
  * North-star scope: the reference has no fingerprinting; this extends
  * TextOps.fingerprint (whole-doc md5) with the local/rolling form a
  * training-data contamination scan needs.
  *
  * Scale, 100 TB posture: fingerprint selection is a pure per-row
  * projection (array expressions, whole-stage codegen — parquet-scan
  * speed, no shuffle); the pair search is a posting-list equi-join on the
  * fingerprint value, the same linear-shuffle shape as
  * [[NearDup.jaccardPairs]] — never O(n²). Ubiquitous fingerprints
  * (boilerplate runs) are the same hot-key risk as shingles; cap them
  * upstream with [[NearDup.shinglesWithSkewGuard]]-style filtering if a
  * corpus needs it.
  *
  * Oracle parity: the token hash is [[md5hash60]] (bit-identical in
  * DuckDB); the rolling hash folds left with h = (h*[[Base]] + x) mod
  * [[Mod]] over 64-bit signed arithmetic on BOTH engines — acc < 2^53 so
  * acc*257 < 2^61.1, plus x < 2^60 stays under 2^63: no overflow, no
  * engine divergence.
  */
object Winnow {

  /** Tokens per gram (k). Shared runs shorter than k are never detected. */
  val GramTokens = 3

  /** Grams per winnowing window (w): guarantee threshold t = k + w - 1
    * tokens; density of selected fingerprints ~ 2/(w+1).
    */
  val WindowGrams = 4

  /** Rolling-hash base (> any byte value; coprime with [[Mod]]). */
  val Base = 257L

  /** Largest prime below 2^53 — the widest modulus whose fold stays inside
    * signed-64 on both engines (see class Scaladoc).
    */
  val Mod = 9007199254740881L

  /** Distinct selected fingerprints per document: (id, fp) rows, fp in
    * [0, 2^53). Documents with fewer than k tokens produce no rows
    * (nothing to fingerprint), mirroring [[NearDup.shingles]].
    */
  def fingerprints(df: DataFrame, idCol: String, textCol: String,
                   k: Int = GramTokens, w: Int = WindowGrams): DataFrame = {
    // The whole selection (md5hash60 token hashes -> rolling k-gram fold
    // -> window minima -> distinct) is one codegen kernel; the previous
    // transform/aggregate HOF chain ran interpreted per document
    // (graft.functions.WinnowFingerprints documents the bit-parity
    // argument; WinnowSpec pins it against the HOF formulation).
    val toks = TextOps.tokens(lower(col(textCol)))
    df.select(col(idCol).as("id"), toks.as("t"))
      .filter(size(col("t")) >= k)
      .select(col("id"),
        explode(graft.functions.winnow_fingerprints(col("t"), k, w, Base, Mod))
          .as("fp"))
  }

  /** Document pairs (id_a < id_b) sharing at least `minShared` selected
    * fingerprints — the contamination/overlap report. Posting-list
    * equi-join on fp; shuffle_hash-pinned for the same reason as
    * [[NearDup.jaccardPairs]] (post-explode cardinality is opaque to
    * Catalyst).
    *
    * `maxDocFreq` is the same d² hot-key guard as
    * [[NearDup.shinglesWithSkewGuard]]: a fingerprint selected by d docs
    * contributes d² pair rows, so ubiquitous fingerprints (boilerplate
    * runs — license headers, navigation chrome) dominate the join at
    * corpus scale. When set, fingerprints whose doc frequency exceeds
    * maxDocFreq·nDocs are dropped before pairing (broadcast anti join —
    * the hot set is tiny by definition). Overlap is then counted over the
    * SURVIVING fingerprints: boilerplate no longer counts as shared
    * content, which is usually what a contamination scan wants.
    */
  def sharedFingerprintPairs(df: DataFrame, idCol: String, textCol: String,
                             minShared: Int, k: Int = GramTokens,
                             w: Int = WindowGrams,
                             maxDocFreq: Option[Double] = None): DataFrame = {
    val fp0 = fingerprints(df, idCol, textCol, k, w)
    val fp = maxDocFreq match {
      case None => fp0
      case Some(f) =>
        // Materialize the md5/rolling-hash transform once for its two
        // consumers (hot-set aggregate + guarded join input) —
        // localCheckpoint, not persist, for the same lifecycle reasons as
        // NearDup.shinglesWithSkewGuard (see that Scaladoc).
        val fpc = fp0.localCheckpoint(true)
        val nDocs = df.select(col(idCol)).distinct().count()
        val hot = fpc.groupBy("fp")
          .agg(count_distinct(col("id")).as("df"))
          .filter(col("df") > f * nDocs)
          .select("fp")
        fpc.join(broadcast(hot), Seq("fp"), "left_anti")
    }
    fp.as("a").hint("shuffle_hash").join(fp.as("b"),
        col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Cross-corpus contamination scan — the two-table form of
    * [[sharedFingerprintPairs]]: (train doc, eval doc) pairs sharing at
    * least `minShared` selected fingerprints, i.e. eval material leaking
    * into a training corpus (the benchmark-contamination check every LLM
    * data pipeline runs before training). Same posting-list equi-join
    * shape: both corpora reduce to (id, fp) postings, the join shuffles on
    * fp — linear in corpus sizes, never |train|·|eval|.
    */
  def crossCorpusOverlapPairs(train: DataFrame, eval: DataFrame,
                              idCol: String, textCol: String,
                              minShared: Int, k: Int = GramTokens,
                              w: Int = WindowGrams): DataFrame = {
    val ft = fingerprints(train, idCol, textCol, k, w)
    val fe = fingerprints(eval, idCol, textCol, k, w)
    // hint on the EVAL side: the hinted side is the hash-build side, and
    // eval suites are thousands of documents where train is the 100 TB
    // side — building over train postings is a per-task OOM at scale
    ft.as("a").join(fe.as("b").hint("shuffle_hash"), col("a.fp") === col("b.fp"))
      .groupBy(col("a.id").as("train_id"), col("b.id").as("eval_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Per-TRAIN-document contamination fraction — the decision metric the
    * pair report ([[crossCorpusOverlapPairs]]) feeds: of a train doc's
    * selected fingerprints, how many appear ANYWHERE in the eval corpus,
    * and does that fraction clear the drop threshold. Output:
    * (train_id, n_fp, n_hit, contaminated), one row per train doc with at
    * least one fingerprint (docs shorter than the k-gram width have
    * nothing to match on and are skipped, same as every winnow operator).
    * The threshold compare is pure integer arithmetic
    * (100·n_hit >= dropAtPct·n_fp) so the verdict is engine-exact.
    *
    * Scale shape: eval fingerprints collapse to ONE distinct-fp column
    * (DISTINCT of a small corpus), train postings left-join it on fp —
    * same linear posting-join as the pair scan but with the per-eval-doc
    * dimension already folded away, so the aggregate is bounded by train
    * rows alone. No broadcast hint: eval is typically tiny and AQE will
    * broadcast it, but nothing breaks when it is not.
    */
  def contaminationScore(train: DataFrame, eval: DataFrame, idCol: String,
                         textCol: String, dropAtPct: Int = 50,
                         k: Int = GramTokens, w: Int = WindowGrams): DataFrame = {
    val ft = fingerprints(train, idCol, textCol, k, w)
    val fe = fingerprints(eval, idCol, textCol, k, w)
      .select(col("fp")).distinct().withColumn("__hit", lit(1L))
    ft.join(fe, Seq("fp"), "left")
      .groupBy(col("id").as("train_id"))
      .agg(count(lit(1)).as("n_fp"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_hit"))
      .withColumn("contaminated",
        lit(100L) * col("n_hit") >= lit(dropAtPct.toLong) * col("n_fp"))
  }

  /** Streaming twin of [[contaminationScore]] — the ONLINE benchmark gate:
    * score each arriving document against a STATIC eval fingerprint set as
    * it is ingested, instead of re-scanning the corpus before training.
    * Same verdict columns per doc ((n_fp, n_hit, contaminated) under the
    * identical integer fixed-point rule), keyed by (window_start_us, id)
    * in append mode.
    *
    * Scale/state shape: the fingerprint explode and the eval join are
    * STATELESS (stream-static left join against the folded distinct eval
    * fp set — a benchmark suite, so Catalyst broadcasts it per batch);
    * the only stateful operator is the per-(window, id) aggregate, whose
    * state the watermark bounds to one ingest window per in-flight doc.
    * Docs with fewer than k tokens carry no fingerprint and skip the gate
    * (nothing to match — definitionally clean), mirroring the batch twin,
    * which also emits no row for them.
    */
  def contaminationGateStream(docs: DataFrame, evalSet: DataFrame,
                              idCol: String, textCol: String, tsCol: String,
                              dropAtPct: Int = 50,
                              windowLen: String = "1 hour",
                              watermark: String = "2 hours",
                              k: Int = GramTokens,
                              w: Int = WindowGrams): DataFrame =
    gateStreamWith(docs,
      fingerprints(evalSet, idCol, textCol, k, w).select(col("fp")).distinct(),
      idCol, textCol, tsCol, dropAtPct, windowLen, watermark, k, w)

  /** [[contaminationGateStream]] served from a persisted
    * [[writeEvalFpIndex]] — the nightly-publish / 24/7-serve wiring the
    * near-dup gate already has ([[NearDup.nearDupGateStreamIndexed]]):
    * the suite's fingerprint index is read once per (re)start as the
    * stream-static side instead of being recomputed from the suite's
    * text on every gate deployment. Result-identical to the
    * corpus-driven gate (parity-spec'd in WinnowSpec).
    */
  def contaminationGateStreamIndexed(docs: DataFrame, idCol: String,
                                     textCol: String, tsCol: String,
                                     indexDir: String, dropAtPct: Int = 50,
                                     windowLen: String = "1 hour",
                                     watermark: String = "2 hours",
                                     k: Int = GramTokens,
                                     w: Int = WindowGrams): DataFrame =
    gateStreamWith(docs,
      docs.sparkSession.read.parquet(indexDir).select(col("fp")),
      idCol, textCol, tsCol, dropAtPct, windowLen, watermark, k, w)

  /** Shared gate body: `fe` must be one distinct `fp` column (the eval
    * suite's winnow fingerprints, recomputed or persisted).
    */
  private def gateStreamWith(docs: DataFrame, fe: DataFrame,
                             idCol: String, textCol: String, tsCol: String,
                             dropAtPct: Int, windowLen: String,
                             watermark: String, k: Int, w: Int): DataFrame = {
    val hits = fe.withColumn("__hit", lit(1L))
    val toks = TextOps.tokens(lower(col(textCol)))
    val ft = docs.withWatermark(tsCol, watermark)
      .select(col(idCol).as("id"), col(tsCol).as("__ts"), toks.as("t"))
      .filter(size(col("t")) >= k)
      .select(col("id"), col("__ts"),
        explode(graft.functions.winnow_fingerprints(col("t"), k, w, Base, Mod))
          .as("fp"))
    ft.join(hits, Seq("fp"), "left")
      .groupBy(window(col("__ts"), windowLen), col("id").as("train_id"))
      .agg(count(lit(1)).as("n_fp"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_hit"))
      .select(
        (col("window.start").cast("long") * 1000000L).as("window_start_us"),
        col("train_id"), col("n_fp"), col("n_hit"),
        (lit(100L) * col("n_hit") >= lit(dropAtPct.toLong) * col("n_fp"))
          .as("contaminated"))
  }

  /** Exact n-gram decontamination — the GPT-3/PaLM recipe: a train doc is
    * flagged when ANY of its word n-grams (n=13 in the papers) appears
    * anywhere in the eval corpus, over the FULL n-gram sets rather than
    * the winnow-selected sample ([[contaminationScore]]); winnowing
    * guarantees detection only for shared runs of >= k+w-1 tokens, so a
    * single colliding 13-gram can slip between selected fingerprints —
    * this operator is the exhaustive complement for when that miss rate
    * is unacceptable. Output: (train_id, n_grams, n_hit, contaminated),
    * one row per train doc with >= 1 n-gram; contaminated = n_hit >= 1.
    *
    * Scale shape: identical to [[contaminationScore]] — eval folds to one
    * distinct n-gram column, train postings (distinct per doc) left-join
    * it. The posting table is bigger than winnow's (every n-gram, not one
    * per window) but the join stays linear and AQE handles the small eval
    * side; the bloom-pruned variant's pre-filter applies here unchanged
    * if the shuffle ever dominates.
    */
  def exactNgramContamination(train: DataFrame, eval: DataFrame,
                              idCol: String, textCol: String,
                              n: Int = 13): DataFrame = {
    val gt = NearDup.shingles(train, idCol, textCol, n)
    val ge = NearDup.shingles(eval, idCol, textCol, n)
      .select(col("shingle")).distinct().withColumn("__hit", lit(1L))
    gt.join(ge, Seq("shingle"), "left")
      .groupBy(col("id").as("train_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_hit"))
      .withColumn("contaminated", col("n_hit") >= 1)
  }

  /** Span-surgery decontamination: instead of DROPPING every train
    * document with an eval collision ([[exactNgramContamination]]'s
    * verdict — the GPT-3 recipe), excise only the matching windows —
    * every train token covered by ANY eval-matching n-gram is removed
    * and the survivors re-join in order. The eval-aware middle ground:
    * a 10k-token document with one leaked benchmark sentence keeps its
    * other 9,987 tokens. Output (train docs with >= 1 token):
    * (train_id, n_tokens, n_redacted, redacted_text) — redacted_text is
    * '' when the whole document is covered; untouched docs round-trip
    * their whitespace-normalized text.
    *
    * Scale shape: positioned grams are one row per train token (the
    * [[SubstringDedup.positionedGrams]] posting shape, raw token-join
    * form so the gram strings match the eval set's); the eval join is
    * [[exactNgramContamination]]'s equi-join (AQE broadcasts the tiny
    * suite); coverage explode is <= n rows per hit and distinct-bounded
    * by token count; the rebuild is a bounded per-doc sorted aggregate
    * (the P5 collect contract) — no window, no driver state.
    */
  def ngramRedact(train: DataFrame, evalSet: DataFrame, idCol: String,
                  textCol: String, n: Int = 13): DataFrame =
    ngramRedactWith(train, idCol, textCol,
      NearDup.shingles(evalSet, idCol, textCol, n)
        .select(col("shingle")).distinct(), n)

  /** Core of [[ngramRedact]]/[[ngramRedactIndexed]] over a caller-
    * supplied distinct eval-gram frame. */
  private def ngramRedactWith(train: DataFrame, idCol: String,
                              textCol: String, ge: DataFrame,
                              n: Int): DataFrame = {
    val toks = train
      .select(col(idCol).as("id"), TextOps.tokens(col(textCol)).as("t"))
      .filter(size(col("t")) > 0)
    // positioned, NON-distinct n-grams: repeated leaked grams must cover
    // every occurrence (NearDup.shingles dedups per doc — wrong here)
    val gt = toks.select(col("id"),
        posexplode(graft.functions.word_ngrams(col("t"), n)).as(Seq("p", "shingle")))
      .select(col("id"), (col("p") + 1).cast("long").as("pos"), col("shingle"))
    val covered = gt.join(ge, "shingle")
      .select(col("id"), explode(expr(s"sequence(pos, pos + ${n - 1}L)")).as("pos"))
      .distinct()
      .withColumn("__cov", lit(1L))
    val perTok = toks
      .select(col("id"), size(col("t")).cast("long").as("n_tokens"),
        posexplode(col("t")).as(Seq("p", "tok")))
      .select(col("id"), col("n_tokens"),
        (col("p") + 1).cast("long").as("pos"), col("tok"))
    perTok.join(covered, Seq("id", "pos"), "left")
      .groupBy(col("id").as("train_id"))
      .agg(max(col("n_tokens")).as("n_tokens"),
        sum(coalesce(col("__cov"), lit(0L))).as("n_redacted"),
        expr("array_join(transform(sort_array(collect_list(" +
          "CASE WHEN __cov IS NULL THEN struct(pos, tok) END)), " +
          "x -> x.tok), ' ')").as("redacted_text"))
  }

  /** [[ngramRedact]] served from a persisted [[writeEvalNgramIndex]] —
    * the index IS the distinct eval-gram set the recompute form folds
    * to, so the result is identical by construction (shares
    * q_decontam_redact's oracle); the frozen suite costs one small scan
    * per batch instead of a re-shingle.
    */
  def ngramRedactIndexed(train: DataFrame, idCol: String, textCol: String,
                         indexDir: String, n: Int = 13): DataFrame =
    ngramRedactWith(train, idCol, textCol,
      readEvalNgramIndex(train.sparkSession, indexDir, n), n)

  /** Load a [[writeEvalNgramIndex]] gram set, enforcing the `n` marker:
    * a serve-time `n` different from the published one would join
    * differently-shaped grams, silently match nothing, and report every
    * doc clean — the same misuse
    * [[EditDistanceJoin.pairsAgainstIndexBucketed]]
    * guards with its `max_dist` marker, so the same require here.
    */
  private def readEvalNgramIndex(spark: SparkSession, indexDir: String,
                                 n: Int): DataFrame = {
    // Layout migration guard: before the n-marker format the index was a
    // FLAT parquet dir of grams. Reading one through the current layout
    // would surface as an opaque "path does not exist" parquet error from
    // the meta read — detect it and name the remedy instead.
    val root = new org.apache.hadoop.fs.Path(indexDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val metaPath = new org.apache.hadoop.fs.Path(s"$indexDir/meta")
    if (!fs.exists(metaPath) && fs.exists(root) &&
        fs.listStatus(root).exists(s =>
          s.isFile && s.getPath.getName.endsWith(".parquet")))
      throw new IllegalStateException(
        s"eval-gram index at $indexDir uses the legacy flat layout " +
          "(parquet files at the root, no meta/ marker); re-publish with " +
          "writeEvalNgramIndex — the serve cannot verify the published n " +
          "without the marker")
    val indexedN = spark.read.parquet(s"$indexDir/meta").head().getInt(0)
    require(n == indexedN,
      s"eval-gram index at $indexDir was published with n=$indexedN; " +
        s"serving n=$n would match zero grams and report every doc clean")
    spark.read.parquet(s"$indexDir/grams").select(col("shingle"))
  }

  /** Publish the EVAL SUITE's standing decontamination index — the
    * write-once/serve-many pattern ([[Dedup.writeKeyIndexBucketed]],
    * [[NearDup.writeBandIndexBucketed]]) applied to the contamination
    * tier: benchmark suites are frozen for months while train batches
    * arrive continuously, yet [[exactNgramContamination]] re-shingles
    * the suite on every run. This writes the suite's distinct n-grams
    * under `dir` once; every batch then reads them as one small scan.
    * Plain (non-bucketed) parquet ON PURPOSE, unlike the dedup-tier
    * indexes: eval suites are thousands of documents against a 100 TB
    * train side, so the serve join broadcasts the index (AQE) and a
    * bucket layout would never be consulted — the saving here is the
    * recompute, not a shuffle.
    */
  def writeEvalNgramIndex(evalSet: DataFrame, idCol: String, textCol: String,
                          dir: String, n: Int = 13): Unit = {
    NearDup.shingles(evalSet, idCol, textCol, n)
      .select(col("shingle")).distinct()
      .write.mode("overwrite").parquet(s"$dir/grams")
    import evalSet.sparkSession.implicits._
    Seq(n).toDF("n").write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** The winnow-FINGERPRINT twin of [[writeEvalNgramIndex]]: the suite's
    * distinct selected fingerprints, the static side the streaming gate
    * ([[contaminationGateStreamIndexed]]) reads per (re)start.
    */
  def writeEvalFpIndex(evalSet: DataFrame, idCol: String, textCol: String,
                       dir: String, k: Int = GramTokens,
                       w: Int = WindowGrams): Unit =
    fingerprints(evalSet, idCol, textCol, k, w)
      .select(col("fp")).distinct()
      .write.mode("overwrite").parquet(dir)

  /** [[exactNgramContamination]] served from a persisted
    * [[writeEvalNgramIndex]] — result-identical by construction (the
    * index IS the distinct eval-gram set the recompute form folds to),
    * so it shares that operator's oracle; only the eval side's cost
    * changes, from a full shingle pass to one parquet scan per batch.
    */
  def ngramContaminationAgainstIndex(train: DataFrame, idCol: String,
                                     textCol: String, indexDir: String,
                                     n: Int = 13): DataFrame = {
    val ge = readEvalNgramIndex(train.sparkSession, indexDir, n)
      .withColumn("__hit", lit(1L))
    val gt = NearDup.shingles(train, idCol, textCol, n)
    gt.join(ge, Seq("shingle"), "left")
      .groupBy(col("id").as("train_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_hit"))
      .withColumn("contaminated", col("n_hit") >= 1)
  }

  /** [[crossCorpusOverlapPairs]] with a Bloom-filter prune on the train
    * side — the asymmetry a real contamination scan has: train postings
    * are the 100 TB side, eval suites are thousands of documents. Shipping
    * every train posting into the shuffle to match a tiny eval set wastes
    * the whole join's I/O; instead
    *
    *   1. build a Bloom filter over the eval fingerprints with Spark's
    *      distributed sketch aggregate (`stat.bloomFilter` — treeAggregate
    *      of fixed-size bitmaps; only the final ~MBs reach the driver);
    *   2. broadcast it and filter train postings BEFORE the shuffle —
    *      for disjoint corpora this drops ~(1 - fpp) of all train rows at
    *      scan time;
    *   3. run the exact equi-join on the survivors.
    *
    * False positives only let extra candidates through to the exact join;
    * a Bloom filter has no false negatives, so the result is IDENTICAL to
    * the unpruned operator (same DuckDB oracle, q_contamination_bloom).
    * This is the manual form of Spark's runtime bloom-filter injection
    * (`spark.sql.optimizer.runtime.bloomFilter.enabled`), which cannot
    * fire here because both sides derive from the same scan.
    */
  def crossCorpusOverlapPairsBloomPruned(
      train: DataFrame, eval: DataFrame, idCol: String, textCol: String,
      minShared: Int, k: Int = GramTokens, w: Int = WindowGrams,
      fpp: Double = 0.01): DataFrame = {
    val ft = fingerprints(train, idCol, textCol, k, w)
    // Materialized once: the eval postings feed both the sketch aggregate
    // and the join build side (localCheckpoint over persist for the same
    // lifecycle reasons as sharedFingerprintPairs).
    val fe = fingerprints(eval, idCol, textCol, k, w).localCheckpoint(true)
    val nEval = fe.count()
    if (nEval == 0) {
      // Spark's sketch aggregate NPEs building a Bloom filter over zero
      // rows, and the result is empty by definition anyway.
      val spark = train.sparkSession
      import org.apache.spark.sql.types._
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(
          StructField("train_id", ft.schema("id").dataType),
          StructField("eval_id", fe.schema("id").dataType),
          StructField("n_shared", LongType, nullable = false))))
    }
    val bf = fe.stat.bloomFilter("fp", nEval, fpp)
    val bc = train.sparkSession.sparkContext.broadcast(bf)
    val mightContain = udf((fp: Long) => bc.value.mightContainLong(fp))
    // build side = eval, as in crossCorpusOverlapPairs
    ft.filter(mightContain(col("fp")))
      .as("a").join(fe.as("b").hint("shuffle_hash"), col("a.fp") === col("b.fp"))
      .groupBy(col("a.id").as("train_id"), col("b.id").as("eval_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }
}
