package graft.tools

import graft.{GraftLocalDir, Tables}
import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical scaling check (dev tool): replicate the documents corpus
  * Rx (doc ids offset so every copy is distinct) and time the core
  * curation operators at 1x / 4x / 10x. The point is the EXPONENT, not
  * the absolute seconds: an operator whose cost is posting-join linear
  * should show time ratios tracking the data ratios (modulo fixed
  * overhead), while anything accidentally quadratic shows 16x/100x
  * blowups — the cheapest way to catch a scale regression before it
  * needs a cluster. Run:
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *     sbt "runMain graft.tools.ScaleProbe"
  *
  * Replication salts each copy's text with a distinct trailing token,
  * which perturbs only the last shingles — so copies of the same doc
  * remain NEAR-DUPLICATES of each other and the near-dup probes face the
  * worst case on purpose: true-pair output grows ~R² per replicated doc
  * (10x input -> ~1000x pairs for minhash_lsh_pairs) while a
  * posting/band-join operator's RUNTIME must still track input size, not
  * output-pair potential. Measured (sf0.1 base, local[32], run-to-run
  * spread is real on a shared box): scan/agg-shaped probes land at 0.9-2.6
  * for 10x data (boilerplate_remove 2.6, dup_ngram_stats 1.2,
  * exact_dedup 1.9); the pair-emitting worst case minhash_lsh_pairs has
  * ranged 6-14x across runs while emitting ~975x the pairs — output
  * cardinality, not join blowup.
  *
  * pack_boundaried (sequential fold per shard, O(1) state) measured
  * 1.7x/2.9x at 4x/10x data — linear with amortizing fixed overhead, the
  * shape the iterator-streaming design promises.
  *
  * Graph family (round 8; edges grow Rx — salted copies are independent
  * subgraphs): pagerank 2.9x/8.0x and ppr 3.1x/9.5x at 4x/10x data
  * (edge-linear: the per-iteration join+agg tracks edge count),
  * connected_components 1.5x/4.7x (sublinear — round count stays put
  * while per-round cost amortizes).
  *
  * Duplicate-key flood (round 8; the EditDistanceJoin guard): 1000
  * suppliers + f exact copies of ONE name, f = 100/1000/10000. Guarded
  * idPairs ran FLAT at 1.95/1.41/1.65 s while emitting 174k/913k/52.8M
  * true pairs (0.03 s per million pairs at f=10^4 — pure output
  * enumeration); the unguarded pre-round-8 shape's CANDIDATE stage alone
  * (no verify) took 2.89 s at f=1000 carrying |variants|·f²/2 ≈ 8.5x10^7
  * witness rows, i.e. ~290 s extrapolated at f=10^4 — the quadratic the
  * distinct-keys-first design removes.
  *
  * Round-10 additions (same protocol; copies are near-dups of their
  * siblings, so TRUE pairs grow ~R² per doc — both pair-emitting probes
  * emitted 979x the rows at 10x data, 256 -> 250,600): bm25_batch
  * 1.85x/3.43x at 4x/10x (corpus-linear — the query-vocab prune keeps
  * the postings bounded); substring_spans 6.1x/24.7x and jaccard_prefix
  * 3.7x/39.3x against that 979x output growth — output cardinality (the
  * exact-verify floor on ~R² true pairs), not join blowup; on a clean
  * corpus the prefix probe's 1x point is seconds (see PrefixDemo for
  * the clean-vs-boilerplate trade the operator exists for).
  *
  * Embedding section (same base, copies keep vectors verbatim so they are
  * exact duplicates — candidate pairs grow ~R² per vector on purpose):
  * semantic_contam is FLAT (0.85/0.99 at 4x/10x — the eval side is fixed,
  * the train side is a linear posting scan), stacked_dup_pairs measured
  * 22.8x at 10x data while emitting 209x the pairs (822 -> 172,200) —
  * again output cardinality, not join blowup.
  *
  * Round-8 additions (same run protocol): leakfree_split 2.65x/4.14x at
  * 4x/10x — sublinear, the near-dedup composite's cost with a projection
  * on top. semantic_dedup 0.94x/0.89x — flat at this size (0.1 s; fixed
  * overhead dominates the 16-cell candidate join up to 20k vectors even
  * though within-cell pair potential grows R²; at occupancies where the
  * quadratic bites, production grows nCells — the Scaladoc'd SemDeDup
  * cost model). frame_dedup 1.49x/2.09x at 4x/10x while the emitted
  * shared-frame pairs grew ~300x (511 -> 152,980) — the posting shape
  * holding under the R²-pair worst case, like minhash_lsh_pairs.
  *
  * Text-scoring / CDC family (round 8, same protocol): lm_likelihood
  * 1.20x/2.42x and bm25_topk 1.55x/3.59x at 4x/10x (sublinear — fixed
  * overhead dominates the agg+join chains), cdc_dedup 1.88x/4.91x
  * (linear: one doc_id shuffle + reused-partitioning rebuild),
  * dsir_weights 3.21x/8.22x (linear in the feature stream — the bucket
  * tables are nBuckets-bounded, only the raw-side join input grows).
  * link_snm on name-length (24-char) keys 1.29x/2.51x while emitted
  * pairs grew 517x (475 -> 245,790 — replication saturates every sort
  * window with near-identical copies on purpose); snm_positions (the
  * densePositions half alone) is FLAT at 0.66x. Probing with the full
  * ~250-char document text as the key instead measured 6.8x/27.9x —
  * pure banded-levenshtein arithmetic (n·w candidates x O(len·d) each),
  * not join shape; SNM's domain is short sort keys, and the probe pins
  * that contract. bpe_train (3 merges) is FLAT at 0.95x/1.17x — the only
  * corpus-sized stage is the word-frequency aggregate; the merge loop
  * rides the vocabulary-bounded distinct-word table. pq_search with the
  * query batch pinned to the base copy is 0.96x/1.98x at 4x/10x
  * (corpus-linear ADC over the code table; see the probe comment for why
  * the unpinned form's 35.7x is the scan-search R², not a plan flaw);
  * hard_negatives (same pinned-query protocol) is FLAT at 0.86x/0.99x —
  * the query-side bucket join touches only the fixed batch's bucket
  * mates. snm_tc_closure (the TC audit's closure half: two-pass union
  * edges -> components) 1.50x/1.95x at 4x/10x — sublinear like
  * connected_components, round count stays put while per-round cost
  * amortizes; the audit's count-based form never expands component
  * pairs, so output cardinality cannot bite.
  *
  * Round-11 additions (standing-index serve tier — publish untimed,
  * batch/query side pinned to the base copy; plus the FULL TC audit):
  * snm_tc_recall (exact truth + two passes + closure + recall rows,
  * maxDist 2) 1.20x/1.67x at 4x/10x — the whole audit inherits the
  * closure half's sublinearity; lsh_incr_serve 1.14x/1.52x — serving a
  * 10x standing band index costs 1.5x, the nightly-publish/24-7-serve
  * contract holding under growth; decontam_idx_serve 1.57x/3.04x
  * against 10x train-side growth (serve IS the train scan — linear
  * with amortizing overhead, 10x emitted hits); pq_idx_serve
  * 0.99x/1.20x — near-FLAT: the pinned query batch's broadcast-LUT ADC
  * join over a 10x code table rides the scan, exactly the
  * corpus-linear-at-worst shape the standing code index promises.
  *
  * Round-12 additions: cc_assign_serve — the incremental CC serve with
  * the standing customer corpus grown 4x/10x as lev-DISJOINT copies
  * (per-copy "Z<i>Z<i>" salts keep cross-copy distance >= 2 at
  * maxDist 1) and the batch pinned to the base %3 slice under fresh
  * ids — measured **0.91x at 4x, 1.02x at 10x corpus: FLAT**, the
  * measured form of incrementalAssign's "cost scales with the batch
  * ... never with the corpus" claim (the condensed CC's node set stays
  * batch-sized; only the variant-index candidate join sees the grown
  * postings, and its bucketed postings are probed, not scanned).
  * cc_full_recompute prices the alternative at the same sizes (full
  * pair join + CC over corpus ∪ batch): 6.50/11.44/14.65 s at
  * 1x/4x/10x vs the flat 4.3 s serve — incremental wins 1.5x at 3:1
  * corpus:batch and 3.3x at 30:1, the crossover pair README quotes.
  * cc_republish_serve (mergeRepublish under the same protocol) is flat
  * too — 0.92x/1.01x — the corpus-linear relabel join is noise next to
  * the batch-bound condensed CC even as the output frame grows 10x.
  * Round-13 additions (append-verb exponents — the incremental-publish
  * verbs' "append cost tracks the batch, never the corpus" claim, with
  * the batch pinned and the STANDING side grown 4x/10x; fresh batch
  * salts per timed call so a second append can't shortcut through the
  * first one's state): fp_append 0.78x/0.63x, lsh_append 0.74x/0.91x,
  * pq_append 0.77x/0.62x — FLAT, as their shape demands (none of the
  * three ever opens the standing table); variant_append 0.80x/0.81x —
  * flat too, INCLUDING its novelty anti join, which is the one append
  * with a standing-side input: it reads the key-bucketed members table
  * (bucketed scan + in-bucket sort, no exchange, and the merge pin
  * keeps AQE from broadcasting a corpus-sized side — see
  * EditDistanceJoin.novelKeysAgainstMembers).
  * Round-16 additions — sq8_idx_serve (the SQ8 tier's standing-index
  * serve: pinned query batch, int8 code index grown 4x/10x) measured
  * 1.01x/1.37x — sublinear like pq_idx_serve, the compressed scan-search
  * shape riding the corpus scan with fixed overhead still dominating at
  * fixture sizes; sign_idx_serve (the 1-bit tier, two longs per corpus
  * vector) measured 0.74x/0.80x — FLAT, the 16-byte-per-vector scan is
  * noise against the serve's fixed overhead even at 10x corpus. Their
  * append verbs are probed flat too, as their shape demands (sq8_append
  * 0.66x/0.57x — batch-only quantize under the one-row sidecar scale;
  * sign_append 0.85x/0.78x — batch-only signatures, nothing standing
  * read at all). And pq_cell_lifecycle, the cell-partitioned PQ
  * tier's full nightly cycle (publish base by cell → append a salted
  * %3-slice grown 1x/4x/10x → compact → serve one pinned query at
  * nProbe=8 vs exhaustive 16), measuring the code scan's PLANNED I/O
  * (FileSourceScanExec numFiles/filesSize — the DppCheck method) rather
  * than wall, which is overhead-bound at fixture sizes. Measured
  * (sf0.1 base, 2026-08-16): numFiles pinned at 8 vs 16 at every size
  * (compaction holds the one-file-per-cell layout through growth);
  * byte_cut exactly 0.50 at 1x/4x/10x — the probed serve reads the 8
  * probed cells' share of the index, corpus-size-INDEPENDENT; probed
  * bytes grew 1.67x/3.00x against corpus row growth of 1.75x/3.25x —
  * linear in probed bytes with nothing super-linear hiding in the
  * append/compact cycle. This is the exponent form of the one-query
  * 67% cut PqServeSweep measured at a single size: serve cost tracks
  * probed bytes, not corpus size, and the appends don't erode it.
  *
  * ro_blocked (diverse 40-word-vocab names, n = 2000·R)
  * measured 22.6x/66.0x at 4x/10x while emitted TRUE pairs grew
  * 11.9x/82.5x (the small vocabulary saturates, near-dup density rises
  * with n): at 10x runtime sits BELOW output growth; the 4x point's
  * ~2x-over-output is the prefix join's hot-key cost on a 40-word
  * vocabulary — PPJoin's small-alphabet regime, priced honestly in the
  * README crossover table (RoBlockProbe has the blocked-vs-BNLJ minima).
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.local.dir", GraftLocalDir.path)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // register the custom strategies (TopKPerKey etc.) — the probes run
    // the same operator code paths Bench does, under the same planner
    graft.Graft.enableOptimizations(spark)
    import spark.implicits._

    val base = Tables.documents(spark, sfDir).select("doc_id", "text", "lang", "source")
    val nBase = base.count()

    /** R distinct-content copies: ids offset per copy, text salted with a
      * per-copy suffix token so replicas are NOT near-duplicates of each
      * other — input grows Rx while true-pair structure per copy stays
      * that of the base corpus.
      */
    def replicate(r: Int): DataFrame = {
      val copies = spark.range(r).select(col("id").as("copy"))
      base.crossJoin(broadcast(copies))
        .select(
          (col("doc_id") + col("copy") * lit(10000000L)).as("doc_id"),
          concat(col("text"), lit(" copysalt"), col("copy")).as("text"),
          col("lang"), col("source"))
    }

    def time(f: => Long): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = f
      ((System.nanoTime() - t0) / 1e9, n)
    }
    val factors = Seq(1, 4, 10)

    /** The factor sweep every timed section shares: at each factor,
      * materialize `mk(r)`, let `run` time one warm-up and one measured
      * pass over it (returning warm-up s, measured s and, where the body
      * counts, its rows), print the factor's line, and finally the 4x and
      * 10x time ratios against 1x.
      */
    def sweep(name: String, mk: Int => DataFrame)
             (run: (DataFrame, Int) => (Double, Double, Option[Long]))
        : (String, Double, Double) = {
      val times = factors.map { r =>
        val d = mk(r).localCheckpoint(true) // materialize the input
        val (warm, t, rows) = run(d, r)
        d.unpersist()
        println(f"[scale] $name%-22s ${r}%2dx  $t%7.2f s (warm-up $warm%6.2f)" +
          rows.fold("")(n => s"  rows=$n"))
        t
      }
      val r4 = times(1) / times(0)
      val r10 = times(2) / times(0)
      println(f"[scale] $name%-22s ratios: 4x -> ${r4}%5.2f, 10x -> ${r10}%5.2f")
      (name, r4, r10)
    }
    /** A warm-up (JIT/codegen) pass, then the measured one. */
    def warmThenTime(f: => Long): (Double, Double, Option[Long]) = {
      val (warm, _) = time(f)
      val (t, n) = time(f)
      (warm, t, Some(n))
    }

    val probes: Seq[(String, DataFrame => Long)] = Seq(
      "exact_dedup" -> (d => Dedup.exact(d, Seq("text")).count()),
      "fingerprint_groups" -> (d =>
        TextOps.fingerprintGroups(d, "doc_id", "text").count()),
      "minhash_lsh_pairs" -> (d =>
        NearDup.minhashNearDupPairs(d, "doc_id", "text", 3, 0.5).count()),
      "quality_model" -> (d =>
        QualityModel.score(d, "doc_id", "text").count()),
      "rarity_score" -> (d =>
        TextOps.rarityScore(d, "doc_id", "text").count()),
      "winnow_fingerprints" -> (d =>
        Winnow.fingerprints(d, "doc_id", "text").count()),
      "weighted_sample" -> (d =>
        Sampling.weightedSample(
          d.withColumn("w", lit(300000L)), "doc_id", "w").count()),
      // Replication multiplies segment prevalence ~Rx (each copy's salt
      // perturbs only the final segment), so the flagged set grows with R
      // while runtime must stay hash-agg linear.
      "boilerplate_remove" -> (d =>
        Boilerplate.removeBoilerplate(d, "doc_id", "text", 3, 5).count()),
      "dup_ngram_stats" -> (d =>
        TextOps.dupNgramStats(d, "doc_id", "text", 3).count()),
      // sequential fold per shard; replication multiplies docs per shard
      // (same `source` values), so the per-partition streams grow Rx and
      // runtime must stay linear — the fold is O(1)-state by design
      "pack_boundaried" -> (d =>
        Packing.packBoundaried(d, "doc_id", "text", "source", 512).count()),
      // copies are NOT near-dups of each other, so the pair graph grows
      // ~Rx (R independent copies of the base graph) — the iterative
      // edge-join + agg must track edge count, not node-pair potential
      "dup_centrality" -> (d => {
        val pairs = Winnow.sharedFingerprintPairs(d, "doc_id", "text", 2)
        PageRank.ranks(
          PageRank.symmetrize(pairs, "id_a", "id_b"), "src", "dst", 3).count()
      }),
      // composite on top of the near-dup closure: runtime must track the
      // dedup composite (the split itself is a projection)
      "leakfree_split" -> (d =>
        Sampling.leakFreeSplit(
          NearDup.dedupByNearDup(d, "doc_id", "text", 3, 0.5)
            .select(col("doc_id"), col("component")), "doc_id").count()),
      // copies append only a salt token, so full 256-byte chunks stay
      // aligned and shared — shared-frame pairs grow ~R² per doc (the
      // posting worst case on purpose, like minhash_lsh_pairs); runtime
      // must track postings + emitted pairs, never the pair potential
      "frame_dedup" -> (d =>
        Multimodal.sharedFramePairs(
          Multimodal.withPayload(d, "text"), "doc_id").count()),
      // model counts are bigram-distinct-sized hash aggs; scoring is an
      // equi-join on the bigram — runtime must track corpus token count
      "lm_likelihood" -> (d =>
        LanguageModel.likelihood(d, "doc_id", "text").count()),
      // dl/avgdl one agg + one-row broadcast; tf touches only query-term
      // tokens — scan-linear with a bounded-heap top-k
      "bm25_topk" -> (d =>
        Retrieval.bm25TopK(d, "doc_id", "text",
          Seq("spark", "vector", "dup"), 10).count()),
      // one doc_id shuffle (window) + same-partitioning rebuild agg;
      // replication adds whole docs so chunk count grows Rx
      "cdc_dedup" -> (d =>
        Chunker.cdcDedupReport(d, "doc_id", "text", 4).count()),
      // bucket-bounded aggs + one feature-stream equi-join — must track
      // bigram count; the en-slice target replicates with the corpus
      "dsir_weights" -> (d =>
        LanguageModel.importanceWeights(d, d.filter(col("lang") === "en"),
          "doc_id", "text", 256).count()),
      // n·w candidate budget: positions via the two-phase scan, pairing
      // on position buckets — runtime must track corpus size, never n².
      // Key = a name-length prefix (SNM sorts on short keys — names,
      // normalized addresses; the banded verify is O(w·len·d) per row, so
      // a document-length key would measure lev cost, not join shape).
      "link_snm" -> (d =>
        Linker.sortedNeighborhood(
          d.withColumn("k", substring(col("text"), 1, 24)),
          "doc_id", "k", 10, 5).count()),
      // the position-assignment half alone (range shuffle + per-partition
      // row_number + offset broadcast) — isolates sort cost from the
      // pairing/verify stages of link_snm
      "snm_positions" -> (d =>
        PrefixSum.densePositions(
          d.select(col("doc_id").as("id"), col("text").as("key")),
          Seq("key", "id")).count()),
      // the closure half of the TC audit alone (multi-pass union edges ->
      // large-star/small-star components): edge volume grows with the
      // replication-saturated sort windows; runtime must track edges x
      // O(log n) rounds, never the component-pair potential (which the
      // count-based audit never expands). Run on the star loop
      // (ConnectedComponents.onStarLoop), the path its recorded exponent
      // priced, so no size-dependent switch to the driver finish bends
      // the curve; the seam sets no conf, so the other joins keep their
      // plans.
      "snm_tc_closure" -> { d => ConnectedComponents.onStarLoop {
        val keyed = d.withColumn("k", substring(col("text"), 1, 24))
        val union = Linker.sortedNeighborhoodMulti(keyed, "doc_id", "k",
          Seq(col("k"), reverse(col("k"))), 10, 5)
        val edges = union.select(col("id_a").cast("long").as("src"),
          col("id_b").cast("long").as("dst"))
        val verts = edges.select(col("src").as("id"))
          .unionByName(edges.select(col("dst").as("id"))).distinct()
        ConnectedComponents.run(verts, edges).count()
      }},
      // only the word-frequency agg is corpus-sized; the merge loop runs
      // on the distinct-word table (vocab-bounded — near-flat here, the
      // copysalt suffixes add R new words per base word)
      "bpe_train" -> (d => Bpe.train(d, "text", 3).count()),
      // round-10 grouped-top-k prefix build (no window sort): doc-freq
      // join + bounded-heap prefix + posting join on the rare prefix.
      // Salted copies share all but their trailing shingles, so TRUE
      // pairs grow ~R² per doc (the minhash_lsh_pairs worst case on
      // purpose) — runtime must track postings + emitted pairs, never
      // per-doc sort cost or the full pair potential
      "jaccard_prefix" -> (d =>
        NearDup.jaccardPairsPrefix(d, "doc_id", "text", 3, 0.5).count()),
      // two queries in ONE corpus pass: postings pruned to the query
      // vocabulary before any shuffle — must track corpus token count
      // like bm25_topk, not queries x corpus
      "bm25_batch" -> (d =>
        Retrieval.bm25Batch(d, "doc_id", "text",
          Seq((1L, "spark vector dup"), (2L, "merge order hash"))
            .toDF("query_id", "qtext"),
          "query_id", "qtext", 5).count()),
      // positioned k-gram postings + diagonal gaps-and-islands: aligned
      // copies share full-document runs, so position-pair rows grow ~R²
      // per doc — runtime must track the posting-join output, never the
      // doc-pair potential
      "substring_spans" -> (d =>
        SubstringDedup.sharedSpans(d, "doc_id", "text", 8, 3).count()),
      // the FULL round-10 TC audit (exact truth + two SNM passes +
      // closure + recall/precision rows) on the short sort key. maxDist 2
      // keeps the truth tier's deletion neighborhood affordable; salted
      // copies share the first-24-char key exactly, so truth pairs grow
      // ~R² per base pair — the count-based audit must track edges and
      // emitted truth rows, never expand component pair potential
      "snm_tc_recall" -> (d => {
        val keyed = d.withColumn("k", substring(col("text"), 1, 24))
        Linker.sortedNeighborhoodTcRecall(keyed, "doc_id", "k",
          Seq(col("k"), reverse(col("k"))), 10, 2).count()
      })
    )

    // Optional probe-name args: run only those (local iteration — the
    // full sweep is ~15 min; a targeted probe is one).
    val only = args.toSet
    def keep(ps: Seq[(String, DataFrame => Long)]): Seq[(String, DataFrame => Long)] =
      if (only.isEmpty) ps else ps.filter(p => only(p._1))
    /** One section of counting probes, each swept over `mk`'s replicas. */
    def sweepAll(ps: Seq[(String, DataFrame => Long)], mk: Int => DataFrame) =
      keep(ps).map { case (name, f) =>
        sweep(name, mk)((d, _) => warmThenTime(f(d)))
      }

    println(f"[scale] base corpus: $nBase rows ($sfDir)")
    val results = sweepAll(probes, replicate)
    // ---- embedding family: replicate the embeddings table the same way.
    // Copies keep their vector VERBATIM, so every copy of a vector is an
    // exact duplicate (cos = 1) of its siblings — the bucket-join worst
    // case on purpose: candidate pairs grow ~R² per vector while a
    // posting-shaped operator's runtime must still track input size.
    val embBase = Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding")
    def replicateEmb(r: Int): DataFrame = {
      val copies = spark.range(r).select(col("id").as("copy"))
      embBase.crossJoin(broadcast(copies))
        .select((col("vec_id") + col("copy") * lit(10000000L)).as("vec_id"),
          col("embedding"))
    }
    val embProbes: Seq[(String, DataFrame => Long)] = Seq(
      "stacked_dup_pairs" -> (d =>
        Ann.stackedDupPairs(d, "vec_id", "embedding", 0.3, 3).count()),
      "semantic_contam" -> (d =>
        Ann.semanticContamination(
          d.filter(col("vec_id") % 20 =!= 0), d.filter(col("vec_id") % 20 === 0),
          "vec_id", "embedding", 0.3, nTables = 3).count()),
      // FROZEN 16-cell quantizer + exact-duplicate copies: cell occupancy
      // grows Rx, so within-cell candidate pairs grow R² — the declared
      // SemDeDup cost model surfaced on purpose. Runtime must track the
      // candidate-pair count (the verify join's output floor), never worse;
      // at production scale nCells grows with the corpus to keep occupancy
      // (and so the per-cell quadratic) bounded.
      "semantic_dedup" -> (d =>
        Ann.semanticDedup(d, "vec_id", "embedding", IvfFixture.model, 0.3)
          .count()),
      // bucket join with the query side pinned to the base copy (same
      // reasoning as pq_search below) — runtime must track corpus size
      "hard_negatives" -> (d =>
        Ann.hardNegatives(d, "vec_id", "embedding",
          col("vec_id") % 20 === 0 && col("vec_id") < 10000000L,
          5, 0.05, 0.3).count()),
      // codes are a pure projection; the ADC join is a broadcast LUT
      // probe + map-side-combinable sum. ADC is O(queries x corpus) BY
      // DESIGN (a compressed full scan — IVF is the sublinear
      // complement), so the probe pins the query set to the base copy
      // (ids < the replication offset): runtime must then track corpus
      // size. An unpinned %-predicate here measured 35.7x at 10x — both
      // sides growing R is the R² any scan-search has, not a plan flaw.
      "pq_search" -> (d =>
        Ann.pqSearch(d, "vec_id", "embedding", PqFixture.model,
          col("vec_id") % 20 === 0 && col("vec_id") < 10000000L, 5,
          Some(IvfFixture.model)).count())
    )
    val embResults = sweepAll(embProbes, replicateEmb)
    // ---- event family: replicate events with per-copy user_id offsets —
    // users grow Rx with the SAME per-user event profile, so the
    // user-keyed operators (funnel's chained min-aggregates, retention's
    // cohort join) must scale with user count, never with user pairs.
    val evBase = Tables.events(spark, sfDir)
      .select("user_id", "event_type", "ts")
    def replicateEv(r: Int): DataFrame = {
      val copies = spark.range(r).select(col("id").as("copy"))
      evBase.crossJoin(broadcast(copies))
        .select((col("user_id") + col("copy") * lit(10000000L)).as("user_id"),
          col("event_type"), col("ts"))
    }
    val evProbes: Seq[(String, DataFrame => Long)] = Seq(
      "funnel" -> (d =>
        EventOps.funnel(d, "user_id", "event_type", "ts",
          Seq("view", "click", "purchase"), 86400000000L).count()),
      "retention" -> (d =>
        EventOps.retention(d, "user_id", "ts", 8).count())
    )
    val evResults = sweepAll(evProbes, replicateEv)
    // ---- graph family: PageRank / personalized PageRank / connected
    // components over the winnowing shared-fingerprint graph. Copies are
    // salted (not near-dups of each other), so the replicated graph is R
    // INDEPENDENT copies of the base graph: edges grow Rx, component
    // structure replicates, and the iterative edge-join + agg loops must
    // track edge count — a quadratic regression (e.g. a lost
    // localCheckpoint re-expanding lineage) shows as a blowup here.
    val graphProbes: Seq[(String, DataFrame => Long)] = Seq(
      "pagerank" -> (d => {
        val pairs = Winnow.sharedFingerprintPairs(d, "doc_id", "text", 2)
        PageRank.ranks(
          PageRank.symmetrize(pairs, "id_a", "id_b"), "src", "dst", 5).count()
      }),
      "ppr" -> (d => {
        val edges = PageRank.symmetrize(
            Winnow.sharedFingerprintPairs(d, "doc_id", "text", 2),
            "id_a", "id_b")
          .withColumn("w", lit(1L)).localCheckpoint(true)
        val seeds = edges.select("src").distinct().orderBy("src")
          .limit(5).as[Long].collect().toSeq
        if (seeds.isEmpty) 0L
        else PageRank.ranksPersonalized(edges, "src", "dst", "w", seeds, 5).count()
      }),
      "connected_components" -> (d => ConnectedComponents.onStarLoop {
        val pairs = Winnow.sharedFingerprintPairs(d, "doc_id", "text", 2)
        ConnectedComponents.run(
          d.select(col("doc_id").as("id")),
          pairs.select(col("id_a").as("src"), col("id_b").as("dst"))).count()
      })
    )
    val graphResults = sweepAll(graphProbes, replicate)
    // ---- standing-index SERVE tier (round-10 additions): the index
    // PUBLISH is untimed (the nightly build that write-once/serve-many
    // amortizes away); the timed body is one serve pass against the
    // standing index, with the batch/query side PINNED to the base copy
    // (ids < the replication offset) — so the measured growth is the
    // serve path's cost in the STANDING CORPUS size, which is exactly
    // the 100 TB question for these operators (see IndexServeProbe for
    // the absolute publish-vs-serve split at 1x).
    val idxScratch = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(GraftLocalDir.path), "scaleidx").toString
    // Customer replication for the CC-assignment serve probe: copies get
    // a per-copy salt of pairwise lev distance >= 2 ("Z1Z1" vs "Z2Z2"),
    // so at maxDist=1 the copies are INDEPENDENT subgraphs (no cross-copy
    // edges) and the standing corpus grows Rx with the base copy's
    // component structure per copy. Copy 0 keeps names verbatim so the
    // pinned batch (base %3 slice under fresh ids) really matches.
    val custBase = Tables.customer(spark, sfDir)
      .select(col("c_custkey").cast("long").as("id"), col("c_name").as("key"))
    def replicateCust(r: Int): DataFrame = {
      val copies = spark.range(r).select(col("id").as("copy"))
      custBase.crossJoin(broadcast(copies))
        .select((col("id") + col("copy") * lit(10000000L)).as("id"),
          when(col("copy") === 0, col("key"))
            .otherwise(concat(col("key"),
              repeat(concat(lit("Z"), col("copy").cast("string")), 2)))
            .as("key"))
    }
    def idxProbe(name: String, mk: Int => DataFrame)
                (publish: (DataFrame, String, String) => Unit)
                (serve: (DataFrame, String, String) => Long): (String, Double, Double) =
      sweep(name, mk) { (d, r) =>
        val dir = s"$idxScratch/${name}_$r"
        val tbl = s"scaleidx_${name}_$r"
        publish(d, dir, tbl)
        warmThenTime(serve(d, dir, tbl))
      }
    val idxProbes: Seq[(String, () => (String, Double, Double))] = Seq(
      // standing LSH band index grows Rx; today's batch stays the base
      // copy's src0 slice — serve joins the batch's bands against the
      // bucketed postings in place
      "lsh_incr_serve" -> (() => idxProbe("lsh_incr_serve", replicate) { (d, dir, tbl) =>
        NearDup.writeBandIndexBucketed(d.filter(col("source") =!= "src0"),
          "doc_id", "text", 3, dir, tbl)
      } { (d, _, tbl) =>
        NearDup.incrementalNearDupPairsBucketed(
          d.filter(col("source") === "src0" && col("doc_id") < 10000000L),
          "doc_id", "text", 3, 0.5, tbl).count()
      }),
      // the eval suite (index side) is FIXED at the base copy — the
      // production shape: a frozen benchmark suite scanned against an
      // ever-growing train corpus; serve must track the TRAIN side
      "decontam_idx_serve" -> (() => idxProbe("decontam_idx_serve", replicate) { (_, dir, _) =>
        Winnow.writeEvalNgramIndex(
          base.filter(col("doc_id") % 2 === 1), "doc_id", "text", dir)
      } { (d, dir, _) =>
        Winnow.ngramContaminationAgainstIndex(
          d.filter(col("doc_id") % 2 === 0), "doc_id", "text", dir).count()
      }),
      // standing PQ code table grows Rx; the query batch stays the base
      // copy's slice — serve is the ADC scan over the code table (linear
      // by design; IVF probing is the sublinear complement)
      "pq_idx_serve" -> (() => idxProbe("pq_idx_serve", replicateEmb) { (d, dir, _) =>
        Ann.writePqIndex(d, "vec_id", "embedding", PqFixture.model, dir,
          Some(IvfFixture.model))
      } { (d, dir, _) =>
        Ann.pqSearchIndexed(d, "vec_id", "embedding", PqFixture.model,
          col("vec_id") % 20 === 0 && col("vec_id") < 10000000L, 5, dir,
          Some(IvfFixture.model)).count()
      }),
      // SQ8 tier (round 16): standing int8 code index grows Rx, the query
      // batch stays the base copy's slice. Stage 1 is the declared
      // compressed scan (corpus-linear like pq_idx_serve, reading 1/4 of
      // the float bytes), stage 2 a candidate-bounded float fetch — the
      // exponent must track corpus size, never worse.
      "sq8_idx_serve" -> (() => idxProbe("sq8_idx_serve", replicateEmb) { (d, dir, _) =>
        Ann.writeSq8Index(d, "vec_id", "embedding", dir)
      } { (d, dir, _) =>
        Ann.sq8SearchIndexed(d, "vec_id", "embedding",
          col("vec_id") % 20 === 0 && col("vec_id") < 10000000L, 5, dir,
          20).count()
      }),
      // sign-bit (1-bit) tier: same protocol, stage 1 reads two longs per
      // corpus vector — the cheapest possible compressed scan
      "sign_idx_serve" -> (() => idxProbe("sign_idx_serve", replicateEmb) { (d, dir, _) =>
        Ann.writeSignIndex(d, "vec_id", "embedding", dir)
      } { (d, dir, _) =>
        Ann.hammingSearchIndexed(d, "vec_id", "embedding",
          col("vec_id") % 20 === 0 && col("vec_id") < 10000000L, 5, dir,
          50).count()
      }),
      // IVF-SQ8 (round 17): probed serve against the cell-partitioned
      // codes — the exponent should sit at or under the flat SQ8 tier's
      // (stage 1 reads the probed cells' share of the code bytes; the
      // query batch is diverse, so the pruning component shrinks with R
      // the same way the pq-cell table documents)
      "ivfsq8_idx_serve" -> (() =>
        idxProbe("ivfsq8_idx_serve", replicateEmb) { (d, dir, _) =>
          Ann.writeSq8IndexByCell(d, "vec_id", "embedding", dir,
            IvfFixture.model)
        } { (d, dir, _) =>
          Ann.sq8SearchByCell(d, "vec_id", "embedding",
            col("vec_id") % 20 === 0 && col("vec_id") < 10000000L, 5, dir,
            IvfFixture.model).count()
        }),
      // incremental CC assignment (the sixth serve tier): standing corpus
      // (labels + variant index) grows Rx as R INDEPENDENT copies of the
      // customer graph (per-copy salts are mutually lev>1, so no cross-
      // copy edges); the batch is PINNED to the base copy's %3 slice with
      // fresh ids. The operator's defining claim — serve cost tracks the
      // BATCH and the components it touches, never the corpus — is
      // exactly what this exponent prices: the condensed CC's node set
      // stays batch-sized at every R; only the variant-index candidate
      // join sees the grown postings. The timed serve runs on the star
      // loop (ConnectedComponents.onStarLoop, no conf touched, so the
      // other joins keep their plans), the path its recorded exponent
      // priced; so do cc_full_recompute and cc_republish_serve, its
      // comparison rows.
      "cc_assign_serve" -> (() => idxProbe("cc_assign_serve", replicateCust) { (d, dir, tbl) =>
        ConnectedComponents.run(d.select(col("id")),
            EditDistanceJoin.idPairs(d, "id", "key", 1)
              .select(col("id_a").as("src"), col("id_b").as("dst")))
          .write.mode("overwrite").parquet(s"$dir/standing")
        EditDistanceJoin.writeVariantIndexBucketed(d, "id", "key", 1,
          s"$dir/varidx", tbl)
      } { (_, dir, tbl) =>
        val batch = custBase.filter(col("id") % 3 === 0)
          .select((col("id") + 900000000L).as("id"), col("key"))
        val standing = spark.read.parquet(s"$dir/standing")
        val cross = EditDistanceJoin.repsAgainstIndexBucketed(
            batch, "id", "key", 1, tbl)
          .select(col("left_id").as("src"), col("right_rep_id").as("dst"))
        val intra = EditDistanceJoin.idPairs(batch, "id", "key", 1)
          .select(col("id_a").as("src"), col("id_b").as("dst"))
        ConnectedComponents.onStarLoop(
          ConnectedComponents.incrementalAssign(standing,
            batch.select("id"), cross.unionByName(intra)).count())
      }),
      // the ALTERNATIVE the incremental serve replaces, at the same
      // corpus sizes: a FULL recompute over corpus ∪ batch (pair join +
      // CC from scratch). The crossover README quotes is this row vs
      // cc_assign_serve: full recompute grows with the corpus, the
      // serve stays batch-bound.
      "cc_full_recompute" -> (() => idxProbe("cc_full_recompute", replicateCust) {
        (_, _, _) => ()
      } { (d, _, _) =>
        val batch = custBase.filter(col("id") % 3 === 0)
          .select((col("id") + 900000000L).as("id"), col("key"))
        val all = d.unionByName(batch)
        ConnectedComponents.onStarLoop(
          ConnectedComponents.run(all.select(col("id")),
            EditDistanceJoin.idPairs(all, "id", "key", 1)
              .select(col("id_a").as("src"), col("id_b").as("dst"))).count())
      }),
      // the nightly republish at the same sizes: its claim is "condensed
      // CC on the batch + ONE corpus-linear equi-join on the label
      // column" — so the exponent must sit between cc_assign_serve's
      // flat and the corpus growth rate, far below cc_full_recompute.
      "cc_republish_serve" -> (() => idxProbe("cc_republish_serve", replicateCust) { (d, dir, tbl) =>
        ConnectedComponents.run(d.select(col("id")),
            EditDistanceJoin.idPairs(d, "id", "key", 1)
              .select(col("id_a").as("src"), col("id_b").as("dst")))
          .write.mode("overwrite").parquet(s"$dir/standing")
        EditDistanceJoin.writeVariantIndexBucketed(d, "id", "key", 1,
          s"$dir/varidx", tbl)
      } { (_, dir, tbl) =>
        val batch = custBase.filter(col("id") % 3 === 0)
          .select((col("id") + 900000000L).as("id"), col("key"))
        val standing = spark.read.parquet(s"$dir/standing")
        val cross = EditDistanceJoin.repsAgainstIndexBucketed(
            batch, "id", "key", 1, tbl)
          .select(col("left_id").as("src"), col("right_rep_id").as("dst"))
        val intra = EditDistanceJoin.idPairs(batch, "id", "key", 1)
          .select(col("id_a").as("src"), col("id_b").as("dst"))
        ConnectedComponents.onStarLoop(
          ConnectedComponents.mergeRepublish(standing,
            batch.select("id"), cross.unionByName(intra)).count())
      })
    )
    val idxResults = idxProbes
      .filter(p => only.isEmpty || only(p._1)).map(_._2())

    // ---- append-verb exponents (round 13): the serve exponents above
    // price READING a grown standing index; these price GROWING it — the
    // incremental-publish verbs' defining claim is "append cost tracks
    // the batch, never the corpus", measured here the same way: batch
    // PINNED to a base-corpus slice, standing side published at 1x/4x/
    // 10x, then the append itself timed. Each timed call gets a
    // freshly-salted batch (new ids / new keys) so the second append
    // can't shortcut through state the first one created (the variant
    // tier's novelty anti join would otherwise find nothing novel on a
    // re-append and skip its postings write). Expected shapes: fp/lsh/pq
    // appends never read the standing side at all — FLAT is the only
    // acceptable exponent; the variant append's novelty anti join DOES
    // read the standing keys, so its floor is a corpus-key scan — the
    // exponent prices whether the plan pays a scan or a shuffle for it.
    def appendProbe(name: String, mk: Int => DataFrame)
                   (publish: (DataFrame, String, String) => Unit)
                   (append: (String, String, Int) => Unit): (String, Double, Double) =
      sweep(name, mk) { (d, r) =>
        val dir = s"$idxScratch/app_${name}_$r"
        val tbl = s"scaleapp_${name}_$r"
        publish(d, dir, tbl)
        val (warm, _) = time { append(dir, tbl, 1); 0L }
        val (t, _) = time { append(dir, tbl, 2); 0L }
        (warm, t, None)
      }
    val appendProbes: Seq[(String, () => (String, Double, Double))] = Seq(
      // exact tier: batch = salted-text slice (all keys novel); the verb
      // distincts and bucket-appends the BATCH only
      "fp_append" -> (() => appendProbe("fp_append", replicate) { (d, dir, tbl) =>
        Dedup.writeKeyIndexBucketed(d, "text", dir, tbl)
      } { (_, tbl, i) =>
        val batch = base.filter(col("doc_id") % 3 === 0)
          .select(concat(col("text"), lit(" apsalt"), lit(i)).as("text"))
        Dedup.appendKeyIndexBucketed(batch, "text", tbl)
      }),
      // LSH tier: batch = base src0 slice under fresh ids; the verb
      // shingles/minhashes the batch and bucket-appends its postings/sets
      "lsh_append" -> (() => appendProbe("lsh_append", replicate) { (d, dir, tbl) =>
        NearDup.writeBandIndexBucketed(d, "doc_id", "text", 3, dir, tbl)
      } { (_, tbl, i) =>
        val batch = base.filter(col("source") === "src0")
          .select((col("doc_id") + lit(800000000L) + lit(i) * 1000000L)
            .as("doc_id"), col("text"))
        NearDup.appendBandIndexBucketed(batch, "doc_id", "text", 3, tbl)
      }),
      // variant tier: batch = customer %3 slice under fresh ids, half the
      // keys salted novel / half verbatim (both novelty paths exercised);
      // the verb's anti join reads the STANDING keys — the one append
      // with a corpus-side input, and the exponent this section is for
      "variant_append" -> (() => appendProbe("variant_append", replicateCust) { (d, dir, tbl) =>
        EditDistanceJoin.writeVariantIndexBucketed(d, "id", "key", 1, dir, tbl)
      } { (_, tbl, i) =>
        val batch = custBase.filter(col("id") % 3 === 0)
          .select((col("id") + lit(900000000L) + lit(i) * 1000000L).as("id"),
            when(col("id") % 2 === 0, col("key"))
              .otherwise(concat(col("key"), lit("Q"), lit(i))).as("key"))
        EditDistanceJoin.appendVariantIndexBucketed(batch, "id", "key", tbl)
      }),
      // ANN tier: batch = embedding slice under fresh ids; the verb
      // encodes the BATCH against the frozen codebooks and appends its
      // codes — it never opens the standing code table
      "pq_append" -> (() => appendProbe("pq_append", replicateEmb) { (d, dir, _) =>
        Ann.writePqIndex(d, "vec_id", "embedding", PqFixture.model, dir,
          Some(IvfFixture.model))
      } { (dir, _, i) =>
        val batch = embBase.filter(col("vec_id") % 20 === 0)
          .select((col("vec_id") + lit(700000000L) + lit(i) * 1000000L)
            .as("vec_id"), col("embedding"))
        Ann.appendPqIndex(batch, "vec_id", "embedding", PqFixture.model, dir,
          Some(IvfFixture.model))
      }),
      // SQ8 tier (round 16): the verb quantizes ONLY the batch under the
      // published scale (one-row sidecar read) — FLAT is the only
      // acceptable exponent
      "sq8_append" -> (() => appendProbe("sq8_append", replicateEmb) { (d, dir, _) =>
        Ann.writeSq8Index(d, "vec_id", "embedding", dir)
      } { (dir, _, i) =>
        val batch = embBase.filter(col("vec_id") % 20 === 0)
          .select((col("vec_id") + lit(600000000L) + lit(i) * 1000000L)
            .as("vec_id"), col("embedding"))
        Ann.appendSq8Index(batch, "vec_id", "embedding", dir)
      }),
      // sign-bit tier (round 16): the verb signatures ONLY the batch and
      // reads nothing standing at all — flat by construction, probed to
      // keep the claim measured like every other tier's
      "sign_append" -> (() => appendProbe("sign_append", replicateEmb) { (d, dir, _) =>
        Ann.writeSignIndex(d, "vec_id", "embedding", dir)
      } { (dir, _, i) =>
        val batch = embBase.filter(col("vec_id") % 20 === 0)
          .select((col("vec_id") + lit(550000000L) + lit(i) * 1000000L)
            .as("vec_id"), col("embedding"))
        Ann.appendSignIndex(batch, "vec_id", "embedding", dir)
      }),
      // ANN tier, CELL-PARTITIONED layout (round 14): same batch-only
      // encode, but the codes land under cell=N directories — the
      // partitioned write must stay batch-shaped too
      "pq_cell_append" -> (() =>
        appendProbe("pq_cell_append", replicateEmb) { (d, dir, _) =>
          Ann.writePqIndexByCell(d, "vec_id", "embedding", PqFixture.model,
            dir, IvfFixture.model)
        } { (dir, _, i) =>
          val batch = embBase.filter(col("vec_id") % 20 === 0)
            .select((col("vec_id") + lit(750000000L) + lit(i) * 1000000L)
              .as("vec_id"), col("embedding"))
          Ann.appendPqIndexByCell(batch, "vec_id", "embedding",
            PqFixture.model, dir, IvfFixture.model)
        })
    )
    val appendResults = appendProbes
      .filter(p => only.isEmpty || only(p._1)).map(_._2())

    // ---- PQ cell-tier LIFECYCLE exponent (round 16): pq_cell_append
    // prices the append alone and pq_idx_serve prices serving a one-shot
    // flat publish; this one prices the index the NIGHTLY CYCLE actually
    // produces — publish base by cell, append a GROWN fraction, compact,
    // serve — and verifies the layout's defining claim as that cycle
    // scales: a probe-bounded serve's cost tracks the PROBED cells'
    // bytes, with the exhaustive serve (nProbe=16 = every cell = corpus
    // bytes) priced alongside as the corpus-size yardstick. The measured
    // quantity is the code scan's PLANNED I/O — FileSourceScanExec's
    // numFiles/filesSize metrics on the executed plan, the DppCheck
    // method — not wall and not task inputMetrics: at fixture sizes the
    // serve is compute/overhead-bound (writePqIndexByCell's Scaladoc:
    // 3.9 vs 3.0 s at 100k vectors) and task byte counters fold in the
    // constant query-side scan, while filesSize is exactly the bytes a
    // 1000-executor scan would have to move. Appended copies get a
    // per-copy scalar salt on the vector (codes are NOT scale-invariant
    // against frozen codebooks), so appended codes differ per copy and
    // parquet can't RLE the growth away. A single pinned query keeps the
    // probed-cell union at exactly nProbe=8 of 16 cells (a diverse batch
    // probes every cell and the cut collapses to compression-only — the
    // OPERATIONS.md layout table's second row). Post-compaction every
    // cell is one file at every size, so the file-count term is constant
    // by construction. Expected: probed filesSize ≈ probed-cells'
    // fraction of the index at EVERY appended factor (the cut is
    // corpus-size-independent), both growing with the appended fraction;
    // numFiles pinned at 8 vs 16.
    // Shared harness for the CELL-PARTITIONED lifecycle probes (one
    // copy of the protocol — round-18 review: the ivfsq8 probe began as
    // a verbatim copy of the pq_cell one; the next cell tier would have
    // meant a third): publish base by cell, append the salted %3-slice
    // grown Rx (fresh ids; per-copy scalar salt with modulus 11 > max
    // replication factor, because a smaller modulus would hand late
    // copies byte-identical codes that parquet RLEs away — the
    // round-16 finding), compact, then serve ONE pinned query at
    // nProbe=8 vs exhaustive 16, reading the code scan's PLANNED
    // numFiles/filesSize off the EXECUTED plan (the DppCheck method;
    // collect, not count — count() runs a separate execution and
    // leaves the metrics cold). A single pinned query keeps the probed
    // union at exactly nProbe cells; serves pass a wide drift bar where
    // the tier has a guard (the probe grows the corpus 4-10x past
    // publish on purpose — exactly what the guard refuses in
    // production). Expected at every factor: probed filesSize = the
    // probed cells' share of the index (the fraction is
    // corpus-size-independent — one vector lives in one cell, so cells
    // grow proportionally), numFiles pinned at nProbe vs nCells.
    final case class CellTier(name: String, metric: String, idBase: Long,
      scanSuffix: String => String,
      publish: (DataFrame, String) => Unit,
      append: (DataFrame, String) => Unit,
      compact: String => Int,
      serve: (String, Int, Long) => DataFrame)
    def cellLifecycle(tier: CellTier): Seq[(String, Double, Double)] = {
      def dirMb(path: String): Double = {
        val p = new org.apache.hadoop.fs.Path(path)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val it = fs.listFiles(p, true)
        var b = 0L
        while (it.hasNext) {
          val f = it.next(); val n = f.getPath.getName
          if (f.isFile && n.endsWith(".parquet") &&
              !n.startsWith("_") && !n.startsWith(".")) b += f.getLen
        }
        b / 1e6
      }
      val queryId = embBase.agg(min(col("vec_id"))).first().getLong(0)
      println(s"[scale] ${tier.name}: publish base by cell, append %3" +
        "-slice grown Rx (fresh ids, salted), compact, serve ONE " +
        "pinned query at nProbe=8 vs exhaustive 16")
      val rows = factors.map { r =>
        val dir = s"$idxScratch/${tier.metric}_$r"
        tier.publish(embBase, dir)
        val batch = embBase.filter(col("vec_id") % 3 === 0)
          .crossJoin(broadcast(spark.range(r).select(col("id").as("copy"))))
          .select((col("vec_id") + lit(tier.idBase) +
            col("copy") * 10000000L).as("vec_id"),
            transform(col("embedding"), e =>
              (e * (lit(1.0f) + (col("copy") % 11 + 1).cast("float") *
                lit(0.173f))).cast("float")).as("embedding"))
        tier.append(batch, dir)
        val nFiles = tier.compact(dir)
        val idxMb = dirMb(dir)
        def serveOnce(nProbe: Int): (Double, Long, Double) = {
          val df = tier.serve(dir, nProbe, queryId)
          val t0 = System.nanoTime(); df.collect()
          val wall = (System.nanoTime() - t0) / 1e9
          val (nf, bytes) = PlanScans.scanOf(df, tier.scanSuffix(dir))
          (wall, nf, bytes / 1e6)
        }
        serveOnce(8) // warm-up (codegen/classloading), untimed
        val (w8, f8, mb8) = serveOnce(8)
        val (w16, f16, mb16) = serveOnce(16)
        println(f"[scale] ${tier.name}%-21s ${r}%2dx  files=$nFiles%3d " +
          f"idx=$idxMb%7.2f MB  probed8 $w8%6.2f s $f8%2d files " +
          f"$mb8%7.2f MB  exhaustive16 $w16%6.2f s $f16%2d files " +
          f"$mb16%7.2f MB  byte_cut=${1 - mb8 / mb16}%5.2f")
        (w8, mb8, mb16)
      }
      println(f"[scale] ${tier.name}%-21s probed-byte ratios: " +
        f"4x -> ${rows(1)._2 / rows(0)._2}%5.2f, " +
        f"10x -> ${rows(2)._2 / rows(0)._2}%5.2f " +
        f"(exhaustive: ${rows(1)._3 / rows(0)._3}%5.2f / " +
        f"${rows(2)._3 / rows(0)._3}%5.2f)")
      Seq((s"${tier.metric}_probed_bytes", rows(1)._2 / rows(0)._2,
            rows(2)._2 / rows(0)._2),
          (s"${tier.metric}_serve_wall", rows(1)._1 / rows(0)._1,
            rows(2)._1 / rows(0)._1))
    }
    // PQ cell tier: scan suffix is the dir itself (codes at the root);
    // compaction forced (threshold 0; returns the file count).
    val lifeResults = if (only.isEmpty || only("pq_cell_lifecycle")) {
      cellLifecycle(CellTier("pq_cell_lifecycle", "pq_cell", 650000000L,
        dir => new java.io.File(dir).getName,
        (d, dir) => Ann.writePqIndexByCell(d, "vec_id", "embedding",
          PqFixture.model, dir, IvfFixture.model),
        (d, dir) => Ann.appendPqIndexByCell(d, "vec_id", "embedding",
          PqFixture.model, dir, IvfFixture.model),
        dir => graft.sources.Layout.compactIfNeeded(spark, dir, 0)
          .getOrElse(-1),
        (dir, np, queryId) =>
          Ann.pqSearchIndexed(embBase, "vec_id", "embedding",
            PqFixture.model, col("vec_id") === queryId, 5, dir,
            Some(IvfFixture.model), np)))
    } else Seq.empty

    // ---- IVF-SQ8 lifecycle exponent (round 18 item 6): the probed
    // serve's I/O claim — stage 1 reads nProbe/nCells of the code
    // FILES — measured through the full publish→append→compact cycle,
    // so the dispatcher's byte pricing (annSearchAuto prices the tier
    // at the PROBED share of the listing bytes) rests on a measured,
    // not asserted, fraction. Codes live under dir/codes with the
    // scale sidecar beside them; compact via the POLICY verb
    // (threshold forced under the append depth so the staging-swap
    // actually runs).
    val ivfLifeResults = if (only.isEmpty || only("ivfsq8_lifecycle")) {
      cellLifecycle(CellTier("ivfsq8_lifecycle", "ivfsq8", 750000000L,
        _ => "codes",
        (d, dir) => { Ann.writeSq8IndexByCell(d, "vec_id", "embedding",
          dir, IvfFixture.model); () },
        (d, dir) => Ann.appendSq8IndexByCell(d, "vec_id", "embedding",
          dir, IvfFixture.model),
        dir => graft.sources.Layout.compactIfNeeded(spark, s"$dir/codes", 1)
          .getOrElse(-1),
        (dir, np, queryId) =>
          Ann.sq8SearchByCell(embBase, "vec_id", "embedding",
            col("vec_id") === queryId, 5, dir, IvfFixture.model,
            nProbe = np, maxDriftFactor = 1000.0)))
    } else Seq.empty
    val flatLifeResults = if (only.isEmpty || only("flat_lifecycle")) {
      def idxScan(df: DataFrame, sub: String): (Long, Double) = {
        val (nf, bytes) = PlanScans.scanOf(df, sub)
        (nf, bytes / 1e6)
      }
      val queryId = embBase.agg(min(col("vec_id"))).first().getLong(0)
      def saltedBatch(r: Int, idBase: Long): DataFrame =
        embBase.filter(col("vec_id") % 3 === 0)
          .crossJoin(broadcast(spark.range(r).select(col("id").as("copy"))))
          .select((col("vec_id") + lit(idBase) +
            col("copy") * 10000000L).as("vec_id"),
            transform(col("embedding"), e =>
              (e * (lit(1.0f) + (col("copy") % 11 + 1).cast("float") *
                lit(0.173f))).cast("float")).as("embedding"))
      final case class FlatTier(name: String, sub: String,
        publish: (DataFrame, String) => Unit,
        append: (DataFrame, String) => Unit,
        serve: String => DataFrame)
      val tiers = Seq(
        FlatTier("sq8_lifecycle", "codes",
          (d, dir) => { Ann.writeSq8Index(d, "vec_id", "embedding", dir); () },
          (d, dir) => Ann.appendSq8Index(d, "vec_id", "embedding", dir),
          dir => Ann.sq8SearchIndexed(embBase, "vec_id", "embedding",
            col("vec_id") === queryId, 5, dir, 20)),
        FlatTier("sign_lifecycle", "sigs",
          (d, dir) => { Ann.writeSignIndex(d, "vec_id", "embedding", dir,
            candidates = 50); () },
          (d, dir) => Ann.appendSignIndex(d, "vec_id", "embedding", dir),
          dir => Ann.hammingSearchIndexed(embBase, "vec_id", "embedding",
            col("vec_id") === queryId, 5, dir, candidates = 50,
            maxDriftFactor = 1000.0)))
      tiers.flatMap { tier =>
        println(s"[scale] ${tier.name}: publish base, append %3-slice " +
          "grown Rx (fresh ids, salted), compact (policy), indexed serve")
        val rows = factors.map { r =>
          val dir = s"$idxScratch/flat_${tier.name}_$r"
          tier.publish(embBase, dir)
          tier.append(saltedBatch(r, 850000000L), dir)
          val codes = s"$dir/${tier.sub}"
          val nFiles = graft.sources.Layout.compactIfNeeded(spark, codes, 1)
            .getOrElse(graft.sources.Layout.dataFileCount(spark, codes))
          def serveOnce(): (Double, Long, Double) = {
            val df = tier.serve(dir)
            // collect, not count: count() runs a separate execution and
            // leaves df's own executedPlan (where the metrics live) cold
            val t0 = System.nanoTime(); df.collect()
            val wall = (System.nanoTime() - t0) / 1e9
            val (nf, mb) = idxScan(df, tier.sub)
            (wall, nf, mb)
          }
          serveOnce() // warm-up, untimed
          val (w, nf, mb) = serveOnce()
          println(f"[scale] ${tier.name}%-18s ${r}%2dx  files=$nFiles%3d  " +
            f"serve $w%6.2f s  scan $nf%3d files $mb%8.3f MB")
          (w, mb)
        }
        println(f"[scale] ${tier.name}%-18s scanned-byte ratios: " +
          f"4x -> ${rows(1)._2 / rows(0)._2}%5.2f, " +
          f"10x -> ${rows(2)._2 / rows(0)._2}%5.2f")
        Seq((s"${tier.name}_bytes", rows(1)._2 / rows(0)._2,
              rows(2)._2 / rows(0)._2),
            (s"${tier.name}_wall", rows(1)._1 / rows(0)._1,
              rows(2)._1 / rows(0)._1))
      }
    } else Seq.empty

    // ---- duplicate-key flood (the EditDistanceJoin skew guard): the
    // supplier corpus plus f exact copies of ONE name. The guarded join
    // dedupes keys before the variant explode, so its variant-join stage
    // is FLAT in f; total runtime grows only with the emitted TRUE pairs
    // (~f²/2 intra-group rows — output cardinality, the floor for an
    // exact pair operator). The unguarded shape (pre-round-8 plan,
    // reconstructed inline below) pushes f·|variants| rows into the join
    // and f²·|variants| witnesses into the distinct — ~170x the output
    // floor — and is timed at the smallest factor only for contrast.
    val sup = Tables.supplier(spark, sfDir)
      .select(col("s_suppkey").cast("long").as("id"), col("s_name").as("key"))
      .localCheckpoint(true)
    val hotName = sup.orderBy("id").select("key").as[String].first()
    def flood(f: Int): DataFrame = {
      val copies = spark.range(f)
        .select((col("id") + 1000000L).as("id"), lit(hotName).as("key"))
      sup.unionByName(copies).localCheckpoint(true)
    }
    def unguardedPairs(base: DataFrame, maxDist: Int): DataFrame = {
      val variants = base.withColumn("__len", length(col("key")))
        .select(col("id"), col("__len"),
          explode(graft.functions.deletion_variant_hashes(col("key"), maxDist))
            .as("__v"))
      variants.as("a").hint("shuffle_hash")
        .join(variants.as("b"),
          col("a.__v") === col("b.__v") && col("a.id") < col("b.id") &&
            abs(col("a.__len") - col("b.__len")) <= maxDist)
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .distinct()
    }
    val floodFactors = Seq(100, 1000, 10000)
    if (only.isEmpty || only("link_skew")) {
      println(f"[scale] link_skew: base suppliers=${sup.count()}%d, hot name replicated f times")
      floodFactors.foreach { f =>
        val d = flood(f)
        val (t, n) = time(
          EditDistanceJoin.idPairs(d, "id", "key", 2).count())
        println(f"[scale] link_skew guarded   f=$f%5d  $t%7.2f s  pairs=$n (s/Mpair ${t / (n / 1e6)}%6.2f)")
        if (f <= 1000) {
          // candidate stage only (no verify) — already the blowup carrier
          val (tU, nU) = time(unguardedPairs(d, 2).count())
          println(f"[scale] link_skew unguarded f=$f%5d  $tU%7.2f s  cand=$nU (candidate stage only)")
        }
        d.unpersist()
      }
    }
    // ---- blocked RO join (Linker.similarityPairsBlocked) on the DIVERSE
    // name corpus (RoBlockProbe's generator: three vocabulary words + a
    // digit, most pairs below the 80 threshold — the shape the blocked
    // mode exists for; the supplier fixture is the all-true-pairs
    // opposite extreme where blocking can prune nothing). n = 2000·R, so
    // pair potential grows R²: the exponent prices the prefix filter's
    // candidate growth — PPJoin's worst case (near-anagram corpora) is
    // documented in the Scaladoc, and this measures how far the vocab
    // corpus sits from it. True pairs grow ~R (digit-suffix neighbors),
    // so a candidate-bound plan must grow well below the R² potential.
    val roResults = if (only.isEmpty || only("ro_blocked")) {
      val vocab = Seq("alpha", "bravo", "charlie", "delta", "echo",
        "foxtrot", "golf", "hotel", "india", "juliett", "kilo", "lima",
        "mike", "november", "oscar", "papa", "quebec", "romeo", "sierra",
        "tango", "uniform", "victor", "whiskey", "xray", "yankee", "zulu",
        "amber", "birch", "cedar", "dune", "ember", "fjord", "grove",
        "harbor", "isle", "juniper", "knoll", "lagoon", "mesa", "nimbus")
      val vcol = array(vocab.map(lit): _*)
      def diverseNames(n: Long): DataFrame = spark.range(n).select(
        concat_ws(" ",
          element_at(vcol, (col("id") % 40 + 1).cast("int")),
          element_at(vcol, (col("id") / 7 % 40 + 1).cast("int")),
          element_at(vcol, (col("id") / 191 % 40 + 1).cast("int")),
          (col("id") % 13).cast("string")).as("name"))
      Seq(sweep("ro_blocked", r => diverseNames(2000L * r))((d, _) =>
        warmThenTime(Linker.similarityPairsBlocked(d, "name", 80.0).count())))
    } else Seq.empty
    println("[scale] summary (time ratio vs data ratio; linear ops should sit at or below the data ratio once fixed overhead amortizes)")
    (results ++ embResults ++ evResults ++ graphResults ++ idxResults ++
      appendResults ++ lifeResults ++ ivfLifeResults ++ flatLifeResults ++
      roResults)
      .foreach { case (n, r4, r10) =>
      println(f"[scale]   $n%-22s 4x: ${r4}%5.2f  10x: ${r10}%5.2f")
    }
    spark.stop()
  }
}
