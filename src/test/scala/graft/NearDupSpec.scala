package graft

import graft.operators.NearDup

class NearDupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "a b c d e f"),
    (2L, "a b c d e f"),            // exact dup of 1
    (3L, "a b c d e x"),            // near dup of 1: shares 3 of 4+... 3-grams
    (4L, "z y x w v u t"),          // unrelated
    (5L, "a b"),                    // too short for 3-grams
    (6L, "")
  ).toDF("doc_id", "text")

  test("shingles: distinct word 3-grams, short/empty docs drop out") {
    val sh = NearDup.shingles(docs, "doc_id", "text", 3)
    val byDoc = sh.as[(Long, String)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(byDoc(1L) == Set("a b c", "b c d", "c d e", "d e f"))
    assert(!byDoc.contains(5L) && !byDoc.contains(6L))
  }

  test("jaccardPairs finds exact and near dups with correct jacc") {
    val pairs = NearDup.jaccardPairs(docs, "doc_id", "text", 3, 0.4)
      .as[(Long, Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> (t._3, t._4)).toMap
    assert(pairs((1L, 2L)) == ((4L, 1.0)))
    // docs 1,3: shingles {abc,bcd,cde,def} vs {abc,bcd,cde,dex}: inter 3, union 5
    assert(pairs((1L, 3L))._1 == 3L && math.abs(pairs((1L, 3L))._2 - 0.6) < 1e-12)
    assert(!pairs.contains((1L, 4L)))
  }

  test("prefix-filtered Jaccard equals the all-postings join (fixture + real docs)") {
    for (t <- Seq(0.3, 0.5, 0.8)) {
      val all = NearDup.jaccardPairs(docs, "doc_id", "text", 3, t)
        .as[(Long, Long, Long, Double)].collect().toSet
      val pre = NearDup.jaccardPairsPrefix(docs, "doc_id", "text", 3, t)
        .as[(Long, Long, Long, Double)].collect().toSet
      assert(pre == all, s"t=$t")
    }
    val real = Tables.documents(spark, sf0001)
    val all = NearDup.jaccardPairs(real, "doc_id", "text", 3, 0.5)
      .as[(Long, Long, Long, Double)].collect().toSet
    val pre = NearDup.jaccardPairsPrefix(real, "doc_id", "text", 3, 0.5)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(pre == all)
    assert(all.nonEmpty)   // fixture has near-dups: the equality is not vacuous
  }

  test("jaccardPairsPrefix plans the rarity prefix as grouped top-k, never a window sort") {
    val df = NearDup.jaccardPairsPrefix(
      Tables.documents(spark, sf0001), "doc_id", "text", 3, 0.5)
    df.collect()
    // final adaptive section only (TopKPerKeySpec reasoning); the prefix
    // build must ride the bounded-heap physical operator — the
    // row_number-over-full-sort spelling this replaced sorts and
    // shuffles every doc's complete shingle list
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("TopKPerKey"), plan)
  }

  test("bucketed standing index serves in place: parquet-equal results, no index-side shuffle") {
    val docs = Tables.documents(spark, sf0001)
    val corpus = docs.filter($"source" =!= "src0")
    val batch = docs.filter($"source" === "src0")
    val dir = java.nio.file.Files.createTempDirectory("graft_bidx").toString
    // second path: the all-pairs MinHash-LSH + verify over corpus ∪ batch,
    // cut down to the batch x corpus pairs and oriented (batch, corpus)
    val batchIds = batch.select($"doc_id".as("bid"))
    val viaRecompute = NearDup.minhashNearDupPairs(
        corpus.unionByName(batch), "doc_id", "text", 3, 0.3)
      .join(batchIds.as("ba"), $"id_a" === $"ba.bid", "left")
      .join(batchIds.as("bb"), $"id_b" === $"bb.bid", "left")
      .filter($"ba.bid".isNull =!= $"bb.bid".isNull)
      .select(
        org.apache.spark.sql.functions.when($"ba.bid".isNotNull, $"id_a")
          .otherwise($"id_b").as("batch_id"),
        org.apache.spark.sql.functions.when($"ba.bid".isNotNull, $"id_b")
          .otherwise($"id_a").as("corpus_id"),
        $"n_common", $"jacc")
      .as[(Long, Long, Long, Double)].collect().toSet
    NearDup.writeBandIndexBucketed(corpus, "doc_id", "text", 3,
      s"$dir/bucketed", "graft_spec_idx")
    val bucketed = NearDup.incrementalNearDupPairsBucketed(batch, "doc_id",
      "text", 3, 0.3, "graft_spec_idx")
    assert(bucketed.as[(Long, Long, Long, Double)].collect().toSet == viaRecompute)
    // the candidate join consumes the postings' bucket layout: the scan
    // is bucketed and the ONLY bkey exchange is the batch side's —
    // a second one would mean the index got re-shuffled per batch
    val plan = bucketed.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(plan.contains("Bucketed: true"), plan)
    assert(plan.linesIterator
      .count(l => l.contains("Exchange hashpartitioning(bkey")) == 1, plan)
    spark.sql("DROP TABLE IF EXISTS graft_spec_idx_postings")
    spark.sql("DROP TABLE IF EXISTS graft_spec_idx_sets")
  }

  test("appendBandIndexBucketed: grown index equals the monolithic rebuild, bucketing intact") {
    val docs = Tables.documents(spark, sf0001)
    val corpus0 = docs.filter($"source" =!= "src0" && $"source" =!= "src1")
    // day-1 slice = src1 plus one planted near-dup of a batch doc (the
    // fixture's organic near-dups may not span exactly these sources at
    // sf0.001, and the test must prove pairs REACH the appended files)
    val planted = docs.filter($"source" === "src0").orderBy($"doc_id").limit(1)
      .select(org.apache.spark.sql.functions.lit(990000001L).as("doc_id"), $"text")
    val day1 = docs.filter($"source" === "src1").select($"doc_id", $"text")
      .unionByName(planted)
    val batch = docs.filter($"source" === "src0")
    val dir = java.nio.file.Files.createTempDirectory("graft_aidx").toString
    // incremental publish: corpus0 written, day1 appended
    NearDup.writeBandIndexBucketed(corpus0, "doc_id", "text", 3,
      s"$dir/grown", "graft_spec_aidx")
    NearDup.appendBandIndexBucketed(day1, "doc_id", "text", 3,
      "graft_spec_aidx")
    val viaAppend = NearDup.incrementalNearDupPairsBucketed(batch, "doc_id",
        "text", 3, 0.3, "graft_spec_aidx")
    // monolithic rebuild over the same final content
    NearDup.writeBandIndexBucketed(
      docs.filter($"source" =!= "src0" && $"source" =!= "src1")
        .select($"doc_id", $"text").unionByName(day1),
      "doc_id", "text", 3, s"$dir/mono", "graft_spec_aidx_mono")
    val viaMono = NearDup.incrementalNearDupPairsBucketed(batch, "doc_id",
        "text", 3, 0.3, "graft_spec_aidx_mono")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(viaAppend.as[(Long, Long, Long, Double)].collect().toSet == viaMono)
    assert(viaMono.nonEmpty, "fixture must actually link something")
    // day-1 docs are genuinely SERVED from the appended files: the
    // planted near-dup must surface as a pair (else the append was a
    // no-op and the equality above proved nothing about appended rows)
    assert(viaMono.exists(_._2 == 990000001L),
      "no pair reaches the appended day-1 slice; the append test is vacuous")
    // the serve join still consumes the bucket layout after the append:
    // one bkey exchange (the batch side's), index side bucketed
    val plan = viaAppend.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(plan.contains("Bucketed: true"), plan)
    assert(plan.linesIterator
      .count(l => l.contains("Exchange hashpartitioning(bkey")) == 1, plan)
    Seq("graft_spec_aidx_postings", "graft_spec_aidx_sets",
      "graft_spec_aidx_mono_postings", "graft_spec_aidx_mono_sets")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("jaccardPairsAuto: boundary pinned, both routes run and agree with jaccardPairs") {
    // the boundary function itself: prefix strictly above factor×postings
    assert(NearDup.jaccardAutoBranch(10.0, 100L, 32.0) == "plain")
    assert(NearDup.jaccardAutoBranch(3200.0, 100L, 32.0) == "plain")
    assert(NearDup.jaccardAutoBranch(3201.0, 100L, 32.0) == "prefix")
    val real = Tables.documents(spark, sf0001)
    val plain = NearDup.jaccardPairs(real, "doc_id", "text", 3, 0.5)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(plain.nonEmpty)
    // force each route via the factor and pin it by plan shape (the
    // prefix route rides TopKPerKey, the plain route never does),
    // then assert both give the exact join's answer
    val forcedPrefix = NearDup.jaccardPairsAuto(real, "doc_id", "text",
      3, 0.5, hotKeyFactor = 0.0)
    assert(forcedPrefix.queryExecution.executedPlan.toString
      .contains("TopKPerKey"))
    assert(forcedPrefix.as[(Long, Long, Long, Double)].collect().toSet
      == plain)
    val forcedPlain = NearDup.jaccardPairsAuto(real, "doc_id", "text",
      3, 0.5, hotKeyFactor = Double.MaxValue)
    assert(!forcedPlain.queryExecution.executedPlan.toString
      .contains("TopKPerKey"))
    assert(forcedPlain.as[(Long, Long, Long, Double)].collect().toSet
      == plain)
    // the default factor routes SOMEWHERE and still agrees
    assert(NearDup.jaccardPairsAuto(real, "doc_id", "text", 3, 0.5)
      .as[(Long, Long, Long, Double)].collect().toSet == plain)
  }

  test("containmentPairs: subset duplication both directions, Jaccard blind spot") {
    val corpus = Seq(
      (1L, "a b c d e f"),                       // 4 3-grams, all inside doc 2
      (2L, "a b c d e f g h i j k l m n o p"),   // long host: 14 3-grams
      (3L, "z y x w v u")                        // unrelated
    ).toDF("doc_id", "text")
    val got = NearDup.containmentPairs(corpus, "doc_id", "text", 3, 0.9)
      .as[(Long, Long, Long, Double, Double)].collect()
      .map(t => (t._1, t._2) -> ((t._3, t._4, t._5))).toMap
    // doc 1 fully contained in doc 2: cont(1->2)=4/4=1.0, cont(2->1)=4/14
    assert(got((1L, 2L))._1 == 4L)
    assert(got((1L, 2L))._2 == 1.0)
    assert(math.abs(got((1L, 2L))._3 - 4.0 / 14.0) < 1e-12)
    assert(got.size == 1)
    // the same pair's Jaccard is 4/14 ~= 0.29 — invisible at any
    // symmetric threshold >= 0.3
    val jacc = NearDup.jaccardPairs(corpus, "doc_id", "text", 3, 0.3).count()
    assert(jacc == 0L)
  }

  test("crossJaccardPairs pairs batch against corpus only, never within a side") {
    val batch = Seq(
      (10L, "a b c d e f"),          // near-dups corpus doc 1 (and 2)
      (11L, "a b c d e f"),          // dup of 10 WITHIN the batch — must not pair
      (12L, "q r s t u v w")         // unrelated to the corpus
    ).toDF("doc_id", "text")
    val got = NearDup.crossJaccardPairs(batch, docs, "doc_id", "text", 3, 0.4)
      .as[(Long, Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> (t._3, t._4)).toMap
    assert(got((10L, 1L)) == ((4L, 1.0)) && got((10L, 2L)) == ((4L, 1.0)))
    assert(got((11L, 1L)) == ((4L, 1.0)))
    // within-side pairs (10,11) and corpus (1,2) are out of scope
    assert(!got.keySet.exists { case (a, b) => a == 11L && b == 10L })
    assert(got.keySet.forall { case (a, b) => a >= 10L && b < 10L })
    assert(!got.keySet.exists(_._1 == 12L))
  }

  test("doc-frequency cap drops ubiquitous shingles only") {
    // cap at 1.0: nothing ubiquitous enough -> identical results
    val plain = NearDup.jaccardPairs(docs, "doc_id", "text", 3, 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val capped = NearDup.jaccardPairs(docs, "doc_id", "text", 3, 0.4, Some(1.0))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(capped == plain)
    // cap at 0.2: shingles shared by >=2 of 6 docs vanish -> (1,2)'s and
    // (1,3)'s common shingles are all gone, pairs disappear
    val harsh = NearDup.jaccardPairs(docs, "doc_id", "text", 3, 0.4, Some(0.2))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(harsh.subsetOf(plain) && !harsh.contains((1L, 2L)))
  }

  test("skew guard keeps a ubiquitous-boilerplate corpus linear end-to-end") {
    // 40 docs, each = shared boilerplate sentence + unique tail. Without
    // the cap, the boilerplate shingles band every doc with every other:
    // LSH candidates ~ n²/2. With the cap, boilerplate is dropped and the
    // unique tails share nothing -> zero candidates (linear behavior).
    val boiler = "terms of service apply to all users of this site"
    val corpus = (1L to 40L)
      .map(i => (i, s"$boiler unique$i alpha$i beta$i gamma$i delta$i"))
      .toDF("doc_id", "text")
    val unguarded = NearDup.minhashNearDupPairs(corpus, "doc_id", "text", 3, 0.0)
      .count()
    assert(unguarded > 5 * 40)  // boilerplate banding: superlinear in n
    val guarded = NearDup.minhashNearDupPairs(corpus, "doc_id", "text", 3, 0.0,
      maxDocFreq = Some(0.5)).count()
    assert(guarded == 0)
    // composite propagates the cap: every doc becomes its own canonical
    val ded = NearDup.dedupByNearDup(corpus, "doc_id", "text", 3, 0.0,
      maxDocFreq = Some(0.5))
    assert(ded.filter($"is_canonical").count() == 40)
  }

  test("dedupByNearDupBest keeps the highest-scoring cluster member") {
    // docs 1,2 identical text (one cluster), 3 unrelated (singleton)
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "one two three four five six seven")
    ).toDF("doc_id", "text")
    val scores = Seq((1L, 10L), (2L, 99L), (3L, 5L)).toDF("doc_id", "score")
    val out = NearDup.dedupByNearDupBest(corpus, "doc_id", "text", 3, 0.5, scores)
      .select("doc_id", "component", "keeper_id", "is_keeper")
      .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    // cluster {1,2}: component=1 (min id) but keeper=2 (best score)
    assert(out == Seq(
      (1L, 1L, 2L, false), (2L, 1L, 2L, true), (3L, 3L, 3L, true)))
  }

  test("dedupByNearDupBest tie-breaks equal scores by lowest id") {
    val corpus = Seq(
      (7L, "alpha beta gamma delta epsilon zeta"),
      (9L, "alpha beta gamma delta epsilon zeta")
    ).toDF("doc_id", "text")
    val scores = Seq((7L, 5L), (9L, 5L)).toDF("doc_id", "score")
    val keep = NearDup.dedupByNearDupBest(corpus, "doc_id", "text", 3, 0.5, scores)
      .filter($"is_keeper").select("doc_id").as[Long].collect().toSeq
    assert(keep == Seq(7L))
  }

  test("dedupByHybrid merges clusters across the text and embedding signals") {
    import graft.operators.Ann
    // 1–2 are TEXT near-dups; 2–3 are EMBEDDING near-dups (identical
    // vectors) with unrelated text; 1's vector is exactly orthogonal to
    // theirs (cos 0 — below any threshold whatever the buckets do).
    // Hybrid must chain 1–2–3 into ONE cluster; 4 stays a singleton.
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "one two three four five six seven eight nine"),
      (4L, "totally separate content with no relatives anywhere at all")
    ).toDF("doc_id", "text")
    val same = Array.fill(Ann.Dim)(1.0f)
    val ortho = Array.tabulate(Ann.Dim)(i => if (i % 2 == 0) 1.0f else -1.0f)
    val lone = Array.tabulate(Ann.Dim)(i => if (i % 3 == 0) -1.0f else 0.5f)
    val emb = Seq((1L, ortho), (2L, same), (3L, same), (4L, lone))
      .toDF("vec_id", "embedding")
    val got = NearDup.dedupByHybrid(docs, emb, "doc_id", "text",
      "vec_id", "embedding", 3, 0.5, 0.3, 3)
      .as[(Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    assert(got.map(r => r._1 -> r._2).toMap == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L))
    assert(got.map(_._3) == Seq(true, false, false, true))
    // neither single signal alone produces the 3-cluster: text links only
    // 1–2, embeddings link only 2–3
    val textOnly = NearDup.dedupByNearDup(docs, "doc_id", "text", 3, 0.5)
      .filter($"is_canonical").count()
    val embOnly = Ann.dedupByCosine(emb, "vec_id", "embedding", 0.3)
      .filter($"is_canonical").count()
    assert(textOnly == 3 && embOnly >= 3)
    // a stray embedding id OUTSIDE the doc universe (0 < every doc id,
    // duplicating doc 2's vector) must not bridge, leak into the output,
    // or steal a cluster's component id — its pairs are dropped
    val strayEmb = emb.union(Seq((0L, same)).toDF("vec_id", "embedding"))
    val hardened = NearDup.dedupByHybrid(docs, strayEmb, "doc_id", "text",
      "vec_id", "embedding", 3, 0.5, 0.3, 3)
      .as[(Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    assert(hardened == got)
    // quality survivorship over the SAME clusters: keeper = best score in
    // the cross-signal cluster {1,2,3}, not the min id
    val scores = Seq((1L, 5L), (2L, 99L), (3L, 10L), (4L, 7L))
      .toDF("doc_id", "score")
    val best = NearDup.dedupByHybridBest(docs, emb, "doc_id", "text",
      "vec_id", "embedding", 3, 0.5, 0.3, scores, 3)
      .select("doc_id", "component", "keeper_id", "is_keeper")
      .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    assert(best == Seq(
      (1L, 1L, 2L, false), (2L, 1L, 2L, true),
      (3L, 1L, 2L, false), (4L, 4L, 4L, true)))
  }

  test("dedupByNearDupBest keeps docs missing from the score table") {
    // doc 2 has no score row: it must survive (null score), rank below
    // every scored clustermate, and never be chosen keeper over one
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "one two three four five six seven")
    ).toDF("doc_id", "text")
    val scores = Seq((1L, 10L), (3L, 5L)).toDF("doc_id", "score")
    val out = NearDup.dedupByNearDupBest(corpus, "doc_id", "text", 3, 0.5, scores)
      .select($"doc_id", $"keeper_id", $"is_keeper", $"score".isNull.as("ns"))
      .as[(Long, Long, Boolean, Boolean)].collect().sortBy(_._1).toSeq
    assert(out == Seq(
      (1L, 1L, true, false), (2L, 1L, false, true), (3L, 3L, true, false)))
  }

  test("minhash signature of identical docs is identical") {
    val sig = NearDup.minhashSignatures(NearDup.shingles(docs, "doc_id", "text", 3))
    val rows = sig.collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(rows(1L) == rows(2L))
    assert(rows(1L) != rows(4L))
  }

  test("minhashNearDupPairs recovers true near-dups at 0.5") {
    val got = NearDup.minhashNearDupPairs(docs, "doc_id", "text", 3, 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got.contains((1L, 2L)))
    // (1,3) at jacc 0.6 appears iff some band agrees — with 3/4 shingles
    // shared this is likely but not guaranteed; only assert no false accepts
    assert(!got.contains((1L, 4L)))
  }

  test("simhash: identical docs equal, unrelated differ, in 60-bit range") {
    val s = NearDup.simhash(docs, "doc_id", "text").as[(Long, Long)].collect().toMap
    assert(s(1L) == s(2L))
    assert(s(1L) != s(4L))
    assert(s.values.forall(v => v >= 0 && v < (1L << 60)))
    assert(!s.contains(6L))
  }

  test("textKnn: symmetric neighbors, rank bounded by k, exact dup is rank 1") {
    val r = NearDup.textKnn(docs, "doc_id", "text", 3, 0.3, 2)
      .as[(Long, Long, Double, Long)].collect()
    val byDoc = r.groupBy(_._1)
    // every neighbor edge appears in both directions (same jacc)
    r.foreach { case (id, nbr, j, _) =>
      assert(byDoc(nbr).exists(e => e._2 == id && e._3 == j), s"($id,$nbr)")
    }
    byDoc.values.foreach { es =>
      assert(es.length <= 2)
      assert(es.map(_._4).sorted.toSeq == (1L to es.length).toSeq)
    }
    // docs 1 and 2 are identical -> each other's rank-1 with jacc 1.0
    assert(byDoc(1L).find(_._4 == 1L).exists(e => e._2 == 2L && e._3 == 1.0))
    assert(byDoc(2L).find(_._4 == 1L).exists(e => e._2 == 1L && e._3 == 1.0))
  }

  test("lshRecallEval: one audit row, caught bounded by truth, exact dups caught") {
    val r = NearDup.lshRecallEval(docs, "doc_id", "text", 3, 0.5)
      .as[(Long, Long, Option[Double])].collect()
    assert(r.length == 1)
    val (nTrue, nCaught, recall) = r.head
    // docs 1/2 are exact dups: identical shingle sets -> identical
    // signatures -> always a candidate, and jacc = 1 -> always truth
    assert(nTrue >= 1 && nCaught >= 1 && nCaught <= nTrue)
    assert(recall.exists(x => x > 0.0 && x <= 1.0))
  }

  test("lshRecallEval on an empty corpus: zero truth, null recall") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val r = NearDup.lshRecallEval(empty, "doc_id", "text", 3, 0.5)
      .as[(Long, Long, Option[Double])].collect()
    assert(r.toSeq == Seq((0L, 0L, None)))
  }

  test("simhashPairs: hamming band join matches brute force") {
    val sig = NearDup.simhash(docs, "doc_id", "text")
    val got = NearDup.simhashPairs(sig, 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val all = sig.as[(Long, Long)].collect()
    val brute = (for {
      (ia, sa) <- all; (ib, sb) <- all
      if ia < ib && java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (ia, ib)).toSet
    assert(got == brute)
    assert(got.contains((1L, 2L)))
  }

  test("dedupDecisionReport: every tier's arm fires on a constructed frame") {
    // doc 2 = exact copy of 1 (same vector too): all three tiers drop it.
    // doc 3: unique text, orthogonal vector -> kept. doc 4: unique text,
    // NO vector -> semantically trivially kept.
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"),
      (3L, "zeta eta theta iota kappa"),
      (4L, "lambda mu nu xi omicron")
    ).toDF("doc_id", "text")
    val e1 = Seq.fill(64)(0.5f)
    val e3 = (0 until 64).map(i => if (i % 2 == 0) 0.5f else -0.5f)
    val emb = Seq((1L, e1), (2L, e1), (3L, e3)).toDF("vec_id", "embedding")
    val got = NearDup.dedupDecisionReport(docs, emb, "doc_id", "text",
      "vec_id", "embedding", 3, 0.5, 0.9)
      .as[(Long, Boolean, Boolean, Boolean, Boolean, String)]
      .collect().map(t => t._1 -> t).toMap
    assert(got(1L) == ((1L, true, true, true, true, "")))
    assert(got(2L) == ((2L, false, false, false, false, "exact,near,semantic")))
    assert(got(3L) == ((3L, true, true, true, true, "")))
    assert(got(4L) == ((4L, true, true, true, true, "")))
  }

  test("indexed streaming gate equals the corpus-driven gate (persisted postings)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val corpus = Seq(
      (100L, "the quick brown fox jumps over the lazy dog near the river"),
      (101L, "an entirely different standing corpus document about spark jobs"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_gate_idx").toString
    NearDup.writeBandIndexBucketed(corpus, "doc_id", "text", 3, dir,
      "graft_spec_gate_idx")
    val rows = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river",
        ts("2026-01-01 10:05:00")),
      (2L, "novel content sharing no shingles with anything in the corpus",
        ts("2026-01-01 10:10:00")))
    val ms = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = NearDup.nearDupGateStreamIndexed(
      ms.toDS().toDF("doc_id", "text", "ts"),
      spark.table("graft_spec_gate_idx_postings"), "doc_id", "text", "ts")
      .writeStream.outputMode("append")
      .format("memory").queryName("neardup_gate_idx").start()
    try {
      ms.addData(rows: _*)
      q.processAllAvailable()
      ms.addData((99L, "watermark push doc with enough tokens to flush",
        ts("2026-01-02 06:00:00")))
      q.processAllAvailable()
      val got = spark.table("neardup_gate_idx")
        .select("doc_id", "n_hit_bands", "near_dup")
        .as[(Long, Long, Boolean)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      // the persisted-index gate must agree with the recompute gate's
      // verdicts: the verbatim copy hits all 4 bands, novel content none
      assert(got(1L) == ((4L, true)))
      assert(got(2L) == ((0L, false)))
    } finally q.stop()
  }

  test("streaming gate serves appended postings: a doc matching only the appended slice is flagged") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // day-0 standing corpus, then day-1 doc APPENDED via the
    // incremental-publish verb — the 24/7 admission gate must see it on
    // its next (re)start without any monolithic rebuild
    val corpus0 = Seq(
      (100L, "an entirely different standing corpus document about spark jobs"))
      .toDF("doc_id", "text")
    val day1 = Seq(
      (200L, "the quick brown fox jumps over the lazy dog near the river"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_gate_aidx").toString
    NearDup.writeBandIndexBucketed(corpus0, "doc_id", "text", 3,
      dir, "graft_spec_gate_aidx")
    NearDup.appendBandIndexBucketed(day1, "doc_id", "text", 3,
      "graft_spec_gate_aidx")
    val ms = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = NearDup.nearDupGateStreamIndexed(
      ms.toDS().toDF("doc_id", "text", "ts"),
      spark.table("graft_spec_gate_aidx_postings"),
      "doc_id", "text", "ts")
      .writeStream.outputMode("append")
      .format("memory").queryName("neardup_gate_aidx").start()
    try {
      ms.addData(
        // verbatim copy of the APPENDED day-1 doc: all 4 bands must hit
        (1L, "the quick brown fox jumps over the lazy dog near the river",
          ts("2026-01-01 10:05:00")),
        (2L, "novel content sharing no shingles with anything in the corpus",
          ts("2026-01-01 10:10:00")))
      q.processAllAvailable()
      ms.addData((99L, "watermark push doc with enough tokens to flush",
        ts("2026-01-02 06:00:00")))
      q.processAllAvailable()
      val got = spark.table("neardup_gate_aidx")
        .select("doc_id", "n_hit_bands", "near_dup")
        .as[(Long, Long, Boolean)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(got(1L) == ((4L, true)),
        "the gate missed content served only by the appended files")
      assert(got(2L) == ((0L, false)))
    } finally {
      q.stop()
      spark.sql("DROP TABLE IF EXISTS graft_spec_gate_aidx_postings")
      spark.sql("DROP TABLE IF EXISTS graft_spec_gate_aidx_sets")
    }
  }

  test("streaming near-dup gate equals the batch band-collision verdict") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val corpus = Seq(
      (100L, "the quick brown fox jumps over the lazy dog near the river"),
      (101L, "an entirely different standing corpus document about spark jobs"))
      .toDF("doc_id", "text")
    val rows = Seq(
      // verbatim copy of corpus doc 100: identical signature, all bands hit
      (1L, "the quick brown fox jumps over the lazy dog near the river",
        ts("2026-01-01 10:05:00")),
      (2L, "novel content sharing no shingles with anything in the corpus",
        ts("2026-01-01 10:10:00")),
      (3L, "too short", ts("2026-01-01 10:15:00")))    // < n tokens: no row
    val ms = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = NearDup.nearDupGateStream(
      ms.toDS().toDF("doc_id", "text", "ts"), corpus, "doc_id", "text", "ts")
      .writeStream.outputMode("append")
      .format("memory").queryName("neardup_gate").start()
    try {
      ms.addData(rows: _*)
      q.processAllAvailable()
      ms.addData((99L, "watermark push doc with enough tokens to flush",
        ts("2026-01-02 06:00:00")))
      q.processAllAvailable()
      val got = spark.table("neardup_gate")
        .select("doc_id", "n_hit_bands", "near_dup")
        .as[(Long, Long, Boolean)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      // batch reference: band-key collisions between the docs' postings
      // (batch groupBy signature path) and the corpus postings
      val docsDf = rows.map { case (id, t, _) => (id, t) }.toDF("doc_id", "text")
      val batch = NearDup.bandPostings(docsDf, "doc_id", "text", 3)
        .join(NearDup.bandPostings(corpus, "doc_id", "text", 3)
          .select("bkey").distinct(), Seq("bkey"))
        .groupBy("id").count().as[(Long, Long)].collect().toMap
      assert(got(1L) == ((batch(1L), true)) && batch(1L) == 4L)
      assert(got(2L) == ((0L, false)) && !batch.contains(2L))
      assert(!got.contains(3L))   // short doc never reaches the gate
    } finally q.stop()
  }

  test("crossSourceDupMatrix: pair mass is conserved and unordered-folded") {
    val docs = Tables.documents(spark, sf0001)
    val m = NearDup.crossSourceDupMatrix(docs, "doc_id", "text", "source",
      3, 0.5).collect()
    // every cell is canonical (source_a <= source_b) and positive
    m.foreach { r =>
      assert(r.getString(0) <= r.getString(1) && r.getLong(2) > 0, r.toString)
    }
    // total matrix mass == the verified pair count it folds
    val total = m.map(_.getLong(2)).sum
    val n = NearDup.minhashNearDupPairs(docs, "doc_id", "text", 3, 0.5).count()
    assert(total == n && n > 0)
  }
}
