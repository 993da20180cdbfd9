package graft

import graft.operators._
import org.apache.spark.sql.functions._

/** Every operator over an EMPTY input must return an empty (or
  * well-defined) result, never throw — the "first day of a new corpus" /
  * "filter matched nothing" path that crashes pipelines in production.
  */
class EmptyInputSpec extends SparkSpec {
  import spark.implicits._

  private lazy val noDocs =
    Seq.empty[(Long, String)].toDF("doc_id", "text")
  private lazy val someDocs =
    Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
  private lazy val noEvents =
    Seq.empty[(Long, Long, java.sql.Timestamp)].toDF("event_id", "user_id", "ts")

  test("text/dedup/near-dup operators return empty on an empty corpus") {
    assert(TextOps.stats(noDocs, "doc_id", "text").count() == 0)
    assert(TextOps.languageScores(noDocs, "text").count() == 0)
    assert(TextOps.repetitionStats(noDocs, "doc_id", "text").count() == 0)
    assert(TextOps.fingerprintGroups(noDocs, "doc_id", "text").count() == 0)
    assert(Dedup.exact(noDocs, Seq("text")).count() == 0)
    assert(Dedup.stats(noDocs, Seq("text")).count() == 1)  // 0/0 count row
    assert(NearDup.jaccardPairs(noDocs, "doc_id", "text", 3, 0.5).count() == 0)
    assert(NearDup.minhashNearDupPairs(noDocs, "doc_id", "text", 3, 0.5).count() == 0)
    assert(NearDup.simhashPairs(
      NearDup.simhash(noDocs, "doc_id", "text"), 3).count() == 0)
    assert(Winnow.sharedFingerprintPairs(noDocs, "doc_id", "text", 2).count() == 0)
    assert(Chunker.chunk(noDocs, "doc_id", "text", 400, 300).count() == 0)
    assert(TfIdf.topTerms(noDocs, "doc_id", "text", 5).count() == 0)
  }

  test("cross-corpus operators tolerate one empty side") {
    assert(Winnow.crossCorpusOverlapPairs(noDocs, someDocs, "doc_id", "text", 1).count() == 0)
    assert(Winnow.crossCorpusOverlapPairs(someDocs, noDocs, "doc_id", "text", 1).count() == 0)
    assert(Winnow.crossCorpusOverlapPairsBloomPruned(someDocs, noDocs, "doc_id", "text", 1).count() == 0)
    assert(Winnow.contaminationScore(noDocs, someDocs, "doc_id", "text").count() == 0)
    assert(Winnow.exactNgramContamination(noDocs, someDocs, "doc_id", "text").count() == 0)
    // empty eval: every train doc scores 0 hits, none contaminated
    assert(Winnow.contaminationScore(someDocs, noDocs, "doc_id", "text")
      .filter(col("n_hit") =!= 0 || col("contaminated")).count() == 0)
    assert(NearDup.crossJaccardPairs(noDocs, someDocs, "doc_id", "text", 3, 0.5).count() == 0)
    assert(Dedup.incremental(noDocs.select(col("doc_id"), md5(col("text")).as("fp")),
      someDocs.select(col("doc_id"), md5(col("text")).as("fp")), "fp").count() == 0)
  }

  test("event operators return empty on an empty stream") {
    assert(EventOps.sessionize(noEvents.withColumn("event_type", lit("v"))).count() == 0)
    assert(EventOps.dedupHourly(noEvents.withColumn("event_type", lit("v"))).count() == 0)
    assert(RangeJoin.timeRangePairs(noEvents, "user_id", "event_id", "ts", 60).count() == 0)
    assert(AsofJoin.asofJoin(
      noEvents.select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us")),
      noEvents.select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id").as("p")),
      Seq("user_id"), "us").count() == 0)
  }

  test("round-5 additions tolerate empty input") {
    assert(NearDup.containmentPairs(noDocs, "doc_id", "text", 3, 0.5).count() == 0)
    assert(TextOps.heavyHitterTokens(noDocs, "text", 10).count() == 0)
    assert(Upsert.upsert(noDocs, noDocs, Seq("doc_id")).count() == 0)
    // empty change batch leaves the corpus untouched
    assert(Upsert.upsert(someDocs, noDocs, Seq("doc_id")).count() == someDocs.count())
    assert(Upsert.applyCdc(someDocs, noDocs.withColumn("op", lit("u")),
      Seq("doc_id"), "op").count() == someDocs.count())
    assert(Upsert.snapshotDiff(noDocs, noDocs, Seq("doc_id")).count() == 0)
    // whole empty snapshot vs a populated one: everything is "added"
    assert(Upsert.snapshotDiff(noDocs, someDocs, Seq("doc_id"))
      .select("change").as[String].collect().toSet == Set("added"))
    assert(Skew.saltedJoin(noDocs, someDocs, Seq("doc_id"), 4).count() == 0)
    assert(Skew.nullTolerantLeftJoin(noDocs, someDocs.withColumnRenamed("text", "t2"),
      "doc_id").count() == 0)
    val noEmb = Seq.empty[(Long, Seq[Float], Int)].toDF("vec_id", "embedding", "label")
    assert(Ann.labelCentroids(noEmb, "label", "embedding").count() == 0)
    assert(Ann.knnLabelEval(noEmb, "vec_id", "embedding", "label",
      col("vec_id") % 2 === 0, 3).count() == 0)
    assert(Ann.semanticContamination(noEmb, noEmb,
      "vec_id", "embedding", 0.3).count() == 0)
    assert(NearDup.dedupByHybrid(noDocs, noEmb, "doc_id", "text",
      "vec_id", "embedding", 3, 0.5, 0.3, 3).count() == 0)
    assert(Ann.pqEncode(noEmb, "vec_id", "embedding",
      PqFixture.model).count() == 0)
    assert(Ann.pqSearch(noEmb, "vec_id", "embedding",
      PqFixture.model, col("vec_id") % 2 === 0, 3).count() == 0)
    assert(Ann.pqRecallEval(noEmb, "vec_id", "embedding",
      PqFixture.model, col("vec_id") % 2 === 0, 3)
      .filter(col("n_true") =!= 0).count() == 0)
    assert(Ann.hardNegatives(noEmb, "vec_id", "embedding",
      col("vec_id") % 2 === 0, 3, 0.05, 0.3).count() == 0)
    assert(TextOps.codeSwitchStats(noDocs, "doc_id", "text", 20).count() == 0)
    assert(SubstringDedup.redactEvalSpans(noDocs, someDocs,
      "doc_id", "text", 8).count() == 0)
    // train screened against an empty eval set comes back whole, untouched
    val whole = SubstringDedup.redactEvalSpans(someDocs, noDocs,
      "doc_id", "text", 8)
      .as[(Long, String, Long)].collect().toSeq
    assert(whole == Seq((1L, "alpha beta gamma delta epsilon zeta", 0L)))
    // a corpus screened against an EMPTY eval set comes back whole, clean
    val someEmb = Seq((1L, Seq.fill(Ann.Dim)(1.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val clean = Ann.semanticContamination(someEmb, noEmb,
      "vec_id", "embedding", 0.3)
      .select($"vec_id", $"n_hits", $"contaminated")
      .as[(Long, Long, Boolean)].collect().toSeq
    assert(clean == Seq((1L, 0L, false)))
  }

  test("round-6 additions tolerate empty and degenerate input") {
    assert(SubstringDedup.sharedSpans(noDocs, "doc_id", "text", 8).count() == 0)
    // removeSharedSpans keeps one row per input doc even when nothing
    // was removed; an empty corpus yields an empty result
    assert(SubstringDedup.removeSharedSpans(noDocs, "doc_id", "text", 8).count() == 0)
    val one = SubstringDedup.removeSharedSpans(someDocs, "doc_id", "text", 8)
      .as[(Long, String, Long)].collect().toSeq
    assert(one == Seq((1L, "alpha beta gamma delta epsilon zeta", 0L)))
    // empty-text docs survive the rewrite with empty rebuilt text
    val blank = SubstringDedup.removeSharedSpans(
      Seq((1L, ""), (2L, "   ")).toDF("doc_id", "text"), "doc_id", "text", 8)
      .as[(Long, String, Long)].collect()
      .map { case (id, t, n) => id -> ((t, n)) }.toMap
    assert(blank(1L) == (("", 0L)) && blank(2L) == (("", 0L)))
    assert(TextOps.corpusProfile(noDocs.withColumn("lang", lit("en")),
      "doc_id", "text", "lang").count() == 0)
    assert(Multimodal.decodeFeatures(
      Multimodal.imagePayloads(noDocs, "doc_id"), "doc_id").count() == 0)
    assert(QualityModel.score(noDocs, "doc_id", "text").count() == 0)
    assert(graft.sources.Layout.shardManifest(
      noDocs.withColumn("shard", lit(0L)), "shard",
      graft.functions.md5hash60(col("text"))).count() == 0)
  }

  test("round-6 curation additions tolerate empty input") {
    assert(Boilerplate.segmentPrevalence(noDocs, "doc_id", "text", 3, 2).count() == 0)
    assert(Boilerplate.removeBoilerplate(noDocs, "doc_id", "text", 3, 2).count() == 0)
    assert(Boilerplate.dedupSegmentsWithinDoc(noDocs, "doc_id", "text", 2).count() == 0)
    // standing flagged set applied to a fresh batch: empty either side
    assert(Boilerplate.removeBoilerplateWith(noDocs, "doc_id", "text", 3,
      Seq("alpha beta gamma").toDF("segment")).count() == 0)
    val keptAll = Boilerplate.removeBoilerplateWith(someDocs, "doc_id", "text", 3,
      Seq.empty[String].toDF("segment"))
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(keptAll == Seq((1L, "alpha beta gamma delta epsilon zeta", 2L, 0L)))
    assert(TextOps.oovStats(noDocs, "doc_id", "text", 5).count() == 0)
    assert(TextOps.dupNgramStats(noDocs, "doc_id", "text", 3).count() == 0)
    assert(Sampling.tokenBudgetSelect(
      Seq.empty[(Long, String, Long, Long)]
        .toDF("doc_id", "source", "quality", "n_tokens"),
      "doc_id", "source", "quality", "n_tokens", 100L).count() == 0)
    assert(ConnectedComponents.sizeHistogram(
      Seq.empty[(Long, Long)].toDF("id", "component")).count() == 0)
    assert(NearDup.dedupByNearDupBest(noDocs, "doc_id", "text", 3, 0.5,
      Seq.empty[(Long, Long)].toDF("doc_id", "score")).count() == 0)
  }

  test("round-7 additions tolerate empty input") {
    // PageRank on an empty pair graph: empty result (also spec'd directly)
    assert(PageRank.ranks(PageRank.symmetrize(
      Seq.empty[(Long, Long)].toDF("id_a", "id_b"), "id_a", "id_b"),
      "src", "dst", 3).count() == 0)
    // DQ audit over an empty table: one row per rule, 0/0, null bad key
    val dq = DataChecks.audit(noDocs, "doc_id",
      Seq("nonempty" -> (length(col("text")) > 0)))
      .as[(String, Long, Long, Option[Long])].collect().toSeq
    assert(dq == Seq(("nonempty", 0L, 0L, None)))
    val fk = DataChecks.fkViolations(noDocs, "doc_id", "doc_id",
      someDocs, "doc_id", "fk")
      .as[(String, Long, Long, Option[Long])].collect().toSeq
    assert(fk == Seq(("fk", 0L, 0L, None)))
    // every child an orphan against an empty parent
    val orphaned = DataChecks.fkViolations(someDocs, "doc_id", "doc_id",
      noDocs, "doc_id", "fk")
      .as[(String, Long, Long, Option[Long])].collect().toSeq
    assert(orphaned == Seq(("fk", 1L, 1L, Some(1L))))
    assert(Sampling.epochRepeat(noDocs.withColumn("lang", lit("en")),
      "lang", Map("en" -> 3)).count() == 0)
    // sketch audit on an empty corpus: just the __all__ row, 0 docs, and
    // the bound flag is a literal TRUE (0 distinct is trivially within
    // bound), matching the oracle's ('__all__', 0, 0, TRUE) row — not the
    // NULL a missing merged sketch would naively produce
    val sk = TextOps.sketchDistinctAudit(
      noDocs.withColumn("lang", lit("en")), "text", "lang")
      .select("stratum", "n_docs", "n_distinct", "hll_ok")
      .as[(String, Long, Long, Boolean)].collect().toSeq
    assert(sk == Seq(("__all__", 0L, 0L, true)))
    assert(TextOps.corpusStatsAudit(noDocs.withColumn("lang", lit("en")),
      "doc_id", "text", "lang").count() == 0)
    assert(Privacy.kSuppress(noDocs.withColumn("lang", lit("en")),
      Seq("lang"), 2L).count() == 0)
    // one empty corpus side: every present token is maximally shifted
    // toward the non-empty side, none toward the empty one
    val shift = TextOps.domainShiftTokens(someDocs, noDocs, "text", 3)
      .select("direction", "c_b").as[(String, Long)].collect()
    assert(shift.nonEmpty && shift.forall(_._2 == 0L))
  }

  test("round-8 additions tolerate empty input") {
    assert(Sampling.leakFreeSplit(
      Seq.empty[(Long, Long)].toDF("doc_id", "component"), "doc_id")
      .count() == 0)
    assert(Sampling.softDedupWeights(
      Seq.empty[(Long, Long)].toDF("doc_id", "component"), "doc_id")
      .count() == 0)
    assert(Multimodal.sharedFramePairs(
      Multimodal.withPayload(noDocs, "text"), "doc_id").count() == 0)
    assert(NearDup.crossSourceDupMatrix(
      noDocs.withColumn("source", lit("s")), "doc_id", "text", "source",
      3, 0.5).count() == 0)
    assert(NearDup.dedupDecisionReport(noDocs,
      Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding"),
      "doc_id", "text", "vec_id", "embedding", 3, 0.5, 0.3).count() == 0)
    assert(TextOps.lengthQuantiles(
      Seq.empty[(String, Long)].toDF("lang", "len"), "lang", "len",
      Seq(50, 99)).count() == 0)
    assert(Ann.semanticDedup(
      Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding"),
      "vec_id", "embedding", IvfFixture.model, 0.3).count() == 0)
    // one row: everything is kept when nothing else shares the cell
    val one = Ann.semanticDedup(
      Seq((7L, Seq.fill(64)(0.1f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", IvfFixture.model, 0.3)
      .select("vec_id", "is_kept").as[(Long, Boolean)].collect().toSeq
    assert(one == Seq((7L, true)))
  }

  test("round-10 additions tolerate empty input") {
    // grouped-top-k prefix join: empty corpus takes the maxK = 0 branch
    assert(NearDup.jaccardPairsPrefix(noDocs, "doc_id", "text", 3, 0.5)
      .count() == 0)
    // persisted LSH index written from an empty corpus still serves
    // (empty-but-typed tables), and an empty batch probes it cleanly
    val dir = java.nio.file.Files.createTempDirectory("graft_empty_idx")
      .toString
    NearDup.writeBandIndexBucketed(noDocs, "doc_id", "text", 3, dir,
      "graft_spec_empty_idx")
    assert(NearDup.incrementalNearDupPairsBucketed(noDocs, "doc_id", "text",
      3, 0.5, "graft_spec_empty_idx").count() == 0)
    assert(NearDup.incrementalNearDupPairsBucketed(someDocs, "doc_id", "text",
      3, 0.5, "graft_spec_empty_idx").count() == 0)
    // multi-pass SNM: empty corpus through each pass and the audit
    val noKeys = Seq.empty[(Long, String)].toDF("id", "key")
    assert(Linker.sortedNeighborhoodMulti(noKeys, "id", "key",
      Seq(col("key"), reverse(col("key"))), 3, 2).count() == 0)
    assert(Linker.sortedNeighborhoodMultiRecall(noKeys, "id", "key",
      Seq("f" -> col("key")), 3, 2).count() == 0)
    // TC audit on an empty corpus: both variant rows exist, all-zero
    // counts, null ratios (CC over zero edges converges immediately)
    val tcEmpty = Linker.sortedNeighborhoodTcRecall(noKeys, "id", "key",
        Seq(col("key")), 3, 2)
      .as[(String, Long, Long, Long, Option[Double], Option[Double])]
      .collect().sortBy(_._1)
    assert(tcEmpty.toSeq == Seq(("tc", 0L, 0L, 0L, None, None),
      ("union", 0L, 0L, 0L, None, None)), tcEmpty.mkString(", "))
    // residual (IVFPQ) encode/search on an empty embedding table
    val noEmb = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    assert(Ann.pqEncode(noEmb, "vec_id", "embedding", PqFixture.model,
      Some(IvfFixture.model)).count() == 0)
    assert(Ann.pqSearch(noEmb, "vec_id", "embedding", PqFixture.model,
      col("vec_id") % 2 === 0, 3, Some(IvfFixture.model)).count() == 0)
    // indexed serve over an empty corpus: empty index published, empty
    // result served
    val emptyIdx = java.nio.file.Files
      .createTempDirectory("graft_pq_idx_empty").toString
    Ann.writePqIndex(noEmb, "vec_id", "embedding", PqFixture.model,
      emptyIdx, Some(IvfFixture.model))
    assert(Ann.pqSearchIndexed(noEmb, "vec_id", "embedding", PqFixture.model,
      col("vec_id") % 2 === 0, 3, emptyIdx, Some(IvfFixture.model))
      .count() == 0)
    // batched BPE on an empty corpus: empty merge table
    assert(Bpe.train(noDocs, "text", 3, batchM = 2).count() == 0)
  }

  test("round-17 quantized serves tolerate an empty QUERY batch") {
    // an empty query set is routine (a tenant with no traffic this
    // batch); every serve must return zero rows, not throw — including
    // the probed tier, whose pruning collect sees zero probed cells and
    // must produce an empty (not failing) isin filter
    import graft.operators.IvfFixture
    val emb = Seq((1L, Array.fill(Ann.Dim)(0.5f)), (2L, Array.fill(Ann.Dim)(-0.5f)))
      .toDF("vec_id", "embedding")
    val noneMatch = col("vec_id") < 0
    assert(Ann.sq8Search(emb, "vec_id", "embedding", noneMatch, 5, 20)
      .count() == 0)
    assert(Ann.hammingSearch(emb, "vec_id", "embedding", noneMatch, 5, 50)
      .count() == 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_emptyq")
      .toString
    Ann.writeSq8Index(emb, "vec_id", "embedding", s"$dir/sq8")
    assert(Ann.sq8SearchIndexed(emb, "vec_id", "embedding", noneMatch, 5,
      s"$dir/sq8").count() == 0)
    Ann.writeSignIndex(emb, "vec_id", "embedding", s"$dir/sign")
    assert(Ann.hammingSearchIndexed(emb, "vec_id", "embedding", noneMatch,
      5, s"$dir/sign").count() == 0)
    Ann.writeSq8IndexByCell(emb, "vec_id", "embedding", s"$dir/ivfsq8",
      IvfFixture.model)
    assert(Ann.sq8SearchByCell(emb, "vec_id", "embedding", noneMatch, 5,
      s"$dir/ivfsq8", IvfFixture.model).count() == 0)
    assert(Ann.annSearchAuto(emb, "vec_id", "embedding", noneMatch, 5,
      recallFloor = 0.95, sq8Dir = Some(s"$dir/sq8")).count() == 0)
  }

  test("sampling/packing/clustering tolerate empty input") {
    assert(Sampling.hashSample(noDocs, "doc_id", 200).count() == 0)
    assert(Sampling.weightedSample(
      noDocs.withColumn("w", lit(500000L)), "doc_id", "w").count() == 0)
    assert(Sampling.stratifiedQuota(noDocs.withColumn("lang", lit("en")),
      "lang", "doc_id", 5).count() == 0)
    assert(Sampling.splitAssign(noDocs, "doc_id").count() == 0)
    assert(Packing.packBoundaried(noDocs.withColumn("shard", lit(0)),
      "doc_id", "text", "shard", 16).count() == 0)
    assert(Packing.pack(noDocs.withColumn("shard", lit(0)),
      "doc_id", "text", "shard", 128).count() == 0)
    assert(ConnectedComponents.run(
      Seq.empty[Tuple1[Long]].toDF("id"),
      Seq.empty[(Long, Long)].toDF("src", "dst")).count() == 0)
  }
}
