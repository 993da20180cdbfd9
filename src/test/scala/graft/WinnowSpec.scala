package graft

import graft.operators.{NearDup, Winnow}
import org.apache.spark.sql.functions._

class WinnowSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, sf0001)

  /** Reference implementation of the whole pipeline in plain Scala. */
  private def winnowLocal(text: String, k: Int, w: Int): Set[Long] = {
    val toks = text.trim.toLowerCase.split("\\s+").toSeq.filter(_ => text.trim.nonEmpty)
    if (toks.length < k) return Set.empty
    val md = java.security.MessageDigest.getInstance("MD5")
    def h60(s: String): Long = {
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    val th = toks.map(h60)
    val hs = th.sliding(k).map(_.foldLeft(0L)((acc, x) =>
      (acc * Winnow.Base + x) % Winnow.Mod)).toSeq
    val fps = if (hs.length >= w) hs.sliding(w).map(_.min).toSeq else Seq(hs.min)
    fps.toSet
  }

  test("fingerprints match a local reference implementation") {
    val got = Winnow.fingerprints(docs.limit(50), "doc_id", "text")
      .as[(Long, Long)].collect().groupBy(_._1).map { case (id, a) => id -> a.map(_._2).toSet }
    val texts = docs.limit(50).select("doc_id", "text").as[(Long, String)].collect()
    texts.foreach { case (id, t) =>
      val expected = winnowLocal(t, Winnow.GramTokens, Winnow.WindowGrams)
      assert(got.getOrElse(id, Set.empty) == expected, s"doc $id")
    }
  }

  test("winnowing guarantee: a shared run of k+w-1 tokens yields a shared fingerprint") {
    // two docs sharing a 6-token run (k=3, w=4 -> threshold 3+4-1=6)
    val shared = "alpha bravo charlie delta echo foxtrot"
    val df = Seq(
      (1L, s"one two three four five $shared six seven eight nine ten"),
      (2L, s"$shared zz yy xx ww vv uu tt ss rr qq pp")
    ).toDF("doc_id", "text")
    val pairs = Winnow.sharedFingerprintPairs(df, "doc_id", "text", 1).collect()
    assert(pairs.length == 1 && pairs(0).getAs[Long]("id_a") == 1L)
  }

  test("cross-corpus contamination: copied paragraph detected, clean doc silent") {
    val para = "the quick brown fox jumps over the lazy dog again and again"
    val train = Seq(
      (10L, s"training text preamble $para and some unique training tail here"),
      (12L, "completely unrelated training material nothing shared at all zz")
    ).toDF("doc_id", "text")
    val eval_ = Seq(
      (21L, s"eval question setup $para answer choices follow below now"),
      (23L, "pristine eval content with no overlap whatsoever in sight qq")
    ).toDF("doc_id", "text")
    val hits = Winnow.crossCorpusOverlapPairs(train, eval_, "doc_id", "text", 2)
      .collect().map(r => (r.getAs[Long]("train_id"), r.getAs[Long]("eval_id"))).toSet
    assert(hits == Set((10L, 21L)))

    // per-doc score: the copying doc's hit count is positive and its
    // verdict follows the integer threshold; the clean doc scores 0 hits
    val scores = Winnow.contaminationScore(train, eval_, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("train_id") ->
        ((r.getAs[Long]("n_fp"), r.getAs[Long]("n_hit"),
          r.getAs[Boolean]("contaminated")))).toMap
    val (nFp10, nHit10, flag10) = scores(10L)
    assert(nHit10 > 0 && nHit10 <= nFp10)
    assert(flag10 == (100L * nHit10 >= 50L * nFp10))
    assert(scores(12L)._2 == 0L && !scores(12L)._3)
    // a fully-copied doc is contaminated at any sane threshold
    val full = Winnow.contaminationScore(
      Seq((30L, s"exact copy here $para")).toDF("doc_id", "text"),
      Seq((31L, s"exact copy here $para")).toDF("doc_id", "text"),
      "doc_id", "text")
      .collect().map(r => (r.getAs[Long]("n_fp"), r.getAs[Long]("n_hit"),
        r.getAs[Boolean]("contaminated"))).head
    assert(full._1 == full._2 && full._3)
  }

  test("exact 13-gram decontamination: boundary at exactly n shared tokens") {
    // 13 distinct tokens -> exactly one 13-gram
    val run13 = (1 to 13).map(i => s"tok$i").mkString(" ")
    val run12 = (1 to 12).map(i => s"tok$i").mkString(" ")
    val train = Seq(
      (1L, s"aa bb cc $run13 dd ee ff"),   // shares the full 13-run
      (2L, s"gg hh ii $run12 jj kk ll"),   // only 12 consecutive shared
      (3L, "mm nn oo pp qq rr ss tt uu vv ww xx yy zz")  // no overlap
    ).toDF("doc_id", "text")
    val eval_ = Seq((10L, s"eval context $run13 more eval text here padd"))
      .toDF("doc_id", "text")
    val out = Winnow.exactNgramContamination(train, eval_, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("train_id") ->
        ((r.getAs[Long]("n_hit"), r.getAs[Boolean]("contaminated")))).toMap
    assert(out(1L) == ((1L, true)))   // exactly the one shared 13-gram
    assert(out(2L) == ((0L, false)))  // a 12-token run has no shared 13-gram
    assert(out(3L) == ((0L, false)))
    // n_grams bookkeeping: doc 1 has (3 + 13 + 3) - 12 = 7 distinct 13-grams
    val n1 = Winnow.exactNgramContamination(train, eval_, "doc_id", "text")
      .filter(col("train_id") === 1L).select("n_grams")
      .collect().head.getLong(0)
    assert(n1 == 7L)
  }

  test("ngramRedact excises exactly the covered windows, keeps the rest in order") {
    val run13 = (1 to 13).map(i => s"tok$i").mkString(" ")
    val train = Seq(
      (1L, s"aa bb cc $run13 dd ee ff"),    // one leaked window mid-doc
      (2L, run13),                           // fully covered -> ''
      (3L, "mm nn oo pp qq"),                // untouched, < n tokens
      (4L, s"$run13 zz $run13")              // the SAME leaked gram twice
    ).toDF("doc_id", "text")
    val eval_ = Seq((10L, s"eval context $run13 more eval text here padd"))
      .toDF("doc_id", "text")
    val got = Winnow.ngramRedact(train, eval_, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("train_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_redacted"),
          r.getAs[String]("redacted_text")))).toMap
    assert(got(1L) == ((19L, 13L, "aa bb cc dd ee ff")))
    assert(got(2L) == ((13L, 13L, "")))
    assert(got(3L) == ((5L, 0L, "mm nn oo pp qq")))
    // both occurrences covered; only the separator survives
    assert(got(4L) == ((27L, 26L, "zz")))
    assert(got.size == 4)
  }

  test("indexed decontamination equals the recompute form; empty suite = all clean") {
    val run13 = (1 to 13).map(i => s"tok$i").mkString(" ")
    val train = Seq(
      (1L, s"aa bb cc $run13 dd ee ff"),
      (3L, "mm nn oo pp qq rr ss tt uu vv ww xx yy zz")
    ).toDF("doc_id", "text")
    val eval_ = Seq((10L, s"eval context $run13 more eval text here padd"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ngram_idx").toString
    Winnow.writeEvalNgramIndex(eval_, "doc_id", "text", dir)
    val served = Winnow.ngramContaminationAgainstIndex(
        train, "doc_id", "text", dir)
      .as[(Long, Long, Long, Boolean)].collect().toSet
    val recomputed = Winnow.exactNgramContamination(
        train, eval_, "doc_id", "text")
      .as[(Long, Long, Long, Boolean)].collect().toSet
    assert(served == recomputed, served)
    // an EMPTY suite publishes an empty index and every doc comes back
    // clean (absence of contamination, not absence of rows)
    val dir2 = java.nio.file.Files
      .createTempDirectory("graft_ngram_idx_empty").toString
    Winnow.writeEvalNgramIndex(
      Seq.empty[(Long, String)].toDF("doc_id", "text"),
      "doc_id", "text", dir2)
    val clean = Winnow.ngramContaminationAgainstIndex(
        train, "doc_id", "text", dir2)
      .as[(Long, Long, Long, Boolean)].collect().toSet
    assert(clean.map(_._1) == Set(1L, 3L) && clean.forall(r => r._3 == 0L && !r._4),
      clean)
    // serving with an n different from the published index would join
    // differently-shaped grams, match NOTHING, and report every doc
    // clean — the persisted n marker must reject it loudly instead
    // (the writeVariantIndexBucketed max_dist guard, mirrored on this tier)
    val eN = intercept[IllegalArgumentException] {
      Winnow.ngramContaminationAgainstIndex(train, "doc_id", "text", dir, n = 7)
    }
    assert(eN.getMessage.contains("n=13"), eN.getMessage)
    val eR = intercept[IllegalArgumentException] {
      Winnow.ngramRedactIndexed(train, "doc_id", "text", dir, n = 7)
    }
    assert(eR.getMessage.contains("n=13"), eR.getMessage)
    // pre-n-marker LEGACY layout (flat parquet at the index root, no
    // meta/) must fail with a message naming the remedy, not an opaque
    // "path does not exist" from the meta read
    val dirLegacy = java.nio.file.Files
      .createTempDirectory("graft_ngram_idx_legacy").toString
    NearDup.shingles(eval_, "doc_id", "text", 13)
      .select(col("shingle")).distinct()
      .write.mode("overwrite").parquet(dirLegacy)
    val eL = intercept[IllegalStateException] {
      Winnow.ngramContaminationAgainstIndex(train, "doc_id", "text", dirLegacy)
    }
    assert(eL.getMessage.contains("legacy flat layout") &&
      eL.getMessage.contains("re-publish"), eL.getMessage)
  }

  test("bloom-pruned contamination equals the unpruned scan on real docs") {
    val train = docs.filter(col("doc_id") % 2 === 0).limit(200)
    val eval_ = docs.filter(col("doc_id") % 2 === 1).limit(200)
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getAs[Long]("train_id"),
        r.getAs[Long]("eval_id"), r.getAs[Long]("n_shared"))).toSet
    val plain = norm(Winnow.crossCorpusOverlapPairs(
      train, eval_, "doc_id", "text", 2))
    val pruned = norm(Winnow.crossCorpusOverlapPairsBloomPruned(
      train, eval_, "doc_id", "text", 2))
    assert(pruned == plain)
  }

  test("bloom prune drops disjoint train postings before the join") {
    val train = (0 until 50).map(i =>
      (i.toLong, s"alpha beta gamma delta epsilon zeta unique$i train only"))
      .toDF("doc_id", "text")
    val eval_ = (100 until 110).map(i =>
      (i.toLong, s"totally different evaluation corpus content item number $i"))
      .toDF("doc_id", "text")
    // Disjoint corpora: the exact scan finds nothing, and so must the
    // pruned one (bloom filters have no false negatives).
    assert(Winnow.crossCorpusOverlapPairsBloomPruned(
      train, eval_, "doc_id", "text", 1).count() == 0L)
  }

  test("documents shorter than k tokens produce no fingerprints") {
    val df = Seq((1L, "one two"), (2L, ""), (3L, "a b c")).toDF("doc_id", "text")
    val got = Winnow.fingerprints(df, "doc_id", "text").select("id").as[Long].collect()
    assert(got.toSet == Set(3L))
  }

  test("all fingerprints are within [0, Mod)") {
    val fps = Winnow.fingerprints(docs, "doc_id", "text").select("fp").as[Long].collect()
    assert(fps.nonEmpty && fps.forall(f => f >= 0L && f < Winnow.Mod))
  }

  test("doc-frequency cap keeps a ubiquitous-boilerplate corpus linear") {
    // Mirror of NearDupSpec's skew-guard case: 40 docs, each = the same
    // long boilerplate run + a unique tail. Unguarded, the boilerplate's
    // fingerprints are selected by every doc -> ~n²/2 pair rows. Guarded,
    // the ubiquitous fingerprints are dropped and the unique tails share
    // nothing -> zero pairs (linear behavior).
    val boiler = "terms of service apply to all users of this site without exception"
    val corpus = (1L to 40L)
      .map(i => (i, s"$boiler unique$i alpha$i beta$i gamma$i delta$i"))
      .toDF("doc_id", "text")
    val unguarded = Winnow.sharedFingerprintPairs(corpus, "doc_id", "text", 1).count()
    assert(unguarded > 5 * 40)  // boilerplate pairing: superlinear in n
    // Not exactly zero: windows straddling the boilerplate/tail boundary
    // select boilerplate grams in doc-dependent subsets (df under the
    // cap) — inherent to winnowing. The guard's job is collapsing the n²
    // blowup to at-most-linear, which is what we assert.
    val guarded = Winnow.sharedFingerprintPairs(corpus, "doc_id", "text", 1,
      maxDocFreq = Some(0.5)).count()
    assert(guarded < 40)
    // cap at 1.0: nothing is ubiquitous enough -> identical to unguarded
    val lax = Winnow.sharedFingerprintPairs(corpus, "doc_id", "text", 1,
      maxDocFreq = Some(1.0)).count()
    assert(lax == unguarded)
  }

  test("kernel fingerprints equal the HOF md5/rolling-hash formulation") {
    import org.apache.spark.sql.functions._
    import graft.functions.md5hash60
    val (k, w) = (Winnow.GramTokens, Winnow.WindowGrams)
    val d = Tables.documents(spark, sf0001)
    val toks = operators.TextOps.tokens(lower(col("text")))
    val base = d.select(col("doc_id").as("id"), toks.as("t"))
      .filter(size(col("t")) >= k)
    val th = transform(col("t"), t => md5hash60(t))
    val hs = transform(sequence(lit(1), size(col("th")) - lit(k - 1)),
      i => aggregate(slice(col("th"), i, lit(k)), lit(0L),
        (acc, x) => (acc * Winnow.Base + x) % Winnow.Mod))
    val fps = when(size(col("hs")) >= w,
        transform(sequence(lit(1), size(col("hs")) - lit(w - 1)),
          j => array_min(slice(col("hs"), j, lit(w)))))
      .otherwise(array(array_min(col("hs"))))
    val hof = base.withColumn("th", th).withColumn("hs", hs)
      .select(col("id"), explode(array_distinct(fps)).as("fp"))
      .as[(Long, Long)].collect().toSet
    val kernel = Winnow.fingerprints(d, "doc_id", "text")
      .as[(Long, Long)].collect().toSet
    assert(kernel == hof)
  }

  test("streaming contamination gate equals the batch score; short docs skip the gate") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val para = "the quick brown fox jumps over the lazy dog again and again"
    val rows = Seq(
      (10L, s"training text preamble $para and some unique training tail here",
        ts("2026-01-01 10:05:00")),
      (12L, "completely unrelated training material nothing shared at all zz",
        ts("2026-01-01 10:10:00")),
      (13L, "too short", ts("2026-01-01 10:15:00")))   // < k tokens: no row
    val eval_ = Seq(
      (21L, s"eval question setup $para answer choices follow below now"))
      .toDF("doc_id", "text")
    val ms = MemoryStream[(Long, String, java.sql.Timestamp)]
    // dropAtPct 10: the leaked paragraph is a minority of doc 10's
    // fingerprints, so the default 50% majority rule would (correctly)
    // pass it — the gate here is tuned to flag partial leaks
    val q = Winnow.contaminationGateStream(
      ms.toDS().toDF("doc_id", "text", "ts"), eval_, "doc_id", "text", "ts",
      dropAtPct = 10)
      .writeStream.outputMode("append")
      .format("memory").queryName("contam_gate").start()
    try {
      ms.addData(rows: _*)
      q.processAllAvailable()
      // push the watermark past the ingest window so the aggregate flushes
      ms.addData((99L, "watermark push doc with enough tokens to pass",
        ts("2026-01-02 06:00:00")))
      q.processAllAvailable()
      val got = spark.table("contam_gate")
        .select("train_id", "n_fp", "n_hit", "contaminated")
        .as[(Long, Long, Long, Boolean)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      val batch = Winnow.contaminationScore(
        rows.map { case (id, t, _) => (id, t) }.toDF("doc_id", "text"),
        eval_, "doc_id", "text", dropAtPct = 10)
        .as[(Long, Long, Long, Boolean)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      assert((got - 99L) == batch)          // verdict parity, doc by doc
      assert(!batch.contains(13L) && !got.contains(13L))   // both skip short docs
      assert(got(10L)._3 && got(10L)._2 > 0)               // leak flagged online
      assert(got(12L)._2 == 0L && !got(12L)._3)            // clean doc passes
    } finally q.stop()
  }

  test("indexed streaming gate equals the corpus-driven gate") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val para = "the quick brown fox jumps over the lazy dog again and again"
    val rows = Seq(
      (10L, s"training text preamble $para and some unique training tail here",
        ts("2026-01-01 10:05:00")),
      (12L, "completely unrelated training material nothing shared at all zz",
        ts("2026-01-01 10:10:00")))
    val eval_ = Seq(
      (21L, s"eval question setup $para answer choices follow below now"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_eval_fp_idx").toString
    Winnow.writeEvalFpIndex(eval_, "doc_id", "text", dir)
    val ms = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = Winnow.contaminationGateStreamIndexed(
      ms.toDS().toDF("doc_id", "text", "ts"), "doc_id", "text", "ts", dir,
      dropAtPct = 10)
      .writeStream.outputMode("append")
      .format("memory").queryName("contam_gate_idx").start()
    try {
      ms.addData(rows: _*)
      q.processAllAvailable()
      ms.addData((99L, "watermark push doc with enough tokens to pass",
        ts("2026-01-02 06:00:00")))
      q.processAllAvailable()
      val got = spark.table("contam_gate_idx")
        .select("train_id", "n_fp", "n_hit", "contaminated")
        .as[(Long, Long, Long, Boolean)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      val batch = Winnow.contaminationScore(
        rows.map { case (id, t, _) => (id, t) }.toDF("doc_id", "text"),
        eval_, "doc_id", "text", dropAtPct = 10)
        .as[(Long, Long, Long, Boolean)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      assert((got - 99L) == batch, got)     // served == recomputed, doc by doc
      assert(got(10L)._3 && !got(12L)._3)
    } finally q.stop()
  }
}
