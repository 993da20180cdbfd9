package graft.tools

import graft.{GraftLocalDir, SparkEntry, Tables}
import graft.operators._
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import scala.concurrent.{Await, Promise}
import scala.concurrent.duration._

/** Empirical scaling check (dev tool): SparkEntry's own rows, and the
  * probes that differ from every row, timed at 1x / 4x / 10x over a
  * fixture dir that [[replicate]] writes R copies of. The point is the
  * EXPONENT, not the absolute seconds: an operator whose cost is
  * posting-join linear shows time ratios tracking the data ratios
  * (modulo fixed overhead), while anything accidentally quadratic shows
  * 16x/100x blowups. Every timed body materializes through the noop sink
  * as Bench does, its row count observed on the way (`count()` would let
  * Catalyst prune the computed columns a row pays for). Run, optionally
  * naming rows or probes to run only those:
  *
  *   SPARK_GRAFT_SF_DIR=<fixture dir> sbt "runMain graft.tools.ScaleProbe [name ...]"
  *
  * The recorded exponents, with their provenance, are in README's "Scale
  * exponents (ScaleProbe)" section. Most of them were measured by
  * hand-written operator probes that re-spelled a row's call and timed a
  * `count()`; their source is at commit e7db9ad.
  */
object ScaleProbe {
  /** The rows swept as Bench runs them, `SparkEntry.queries(name)` over
    * the replicated dir. ToolReferenceSpec holds every name to a row.
    */
  private[graft] val rows: Seq[String] = Seq(
    "q_dedup_exact", "q_fingerprint_groups", "q_minhash_pairs",
    "q_quality_model", "q_rarity_score", "q_winnow_fp", "q_sample_weighted",
    "q_boilerplate_remove", "q_dup_ngrams", "q_pack_boundaried",
    "q_dup_centrality", "q_split_leakfree", "q_frame_dedup", "q_lm_score",
    "q_bm25", "q_cdc_dedup", "q_dsir_weights", "q_link_snm", "q_bpe_train",
    "q_jaccard_prefix", "q_bm25_batch", "q_substring_spans",
    "q_link_snm_tc_recall", "q_embed_dup_stacked", "q_semantic_contam",
    "q_semantic_dedup", "q_funnel", "q_retention", "q_ppr", "q_cluster_cc")

  /** Key offset between copies: copy k's keys are the base's + k·10^7. */
  private[graft] val CopyOffset = 10000000L

  /** The tables the swept rows read: (name, key columns offset per copy,
    * a text column and the salt appended to it from copy 1 on). Document
    * text gets " copysalt<k>", which perturbs only the last shingles, so
    * copies stay near-duplicates of each other and the near-dup rows face
    * the R²-pairs worst case on purpose. Customer names get "Z<k>Z<k>":
    * copies are pairwise lev >= 2 apart, so at maxDist 1 they are
    * independent subgraphs. Vectors and events are copied verbatim, so
    * copied vectors are exact duplicates and users grow Rx with the same
    * per-user profile. Every other table passes through unchanged.
    */
  private[graft] val replicated: Seq[(String, Seq[String], Option[(String, Column => Column)])] = Seq(
    ("documents", Seq("doc_id"), Some("text" -> (k => concat(lit(" copysalt"), k)))),
    ("embeddings", Seq("vec_id"), None),
    ("events", Seq("event_id", "user_id"), None),
    ("customer", Seq("c_custkey"), Some("c_name" -> (k => repeat(concat(lit("Z"), k), 2)))),
    ("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"), None))

  /** Writes at `to` an ordinary fixture dir holding `r` copies of the
    * one at `from` (see [[replicated]]); copy 0 is the base verbatim, so
    * `graft.Bench` runs over it through `SPARK_GRAFT_SF_DIR` too.
    */
  private[graft] def replicate(spark: SparkSession, from: String, to: String,
                               r: Int): Unit = {
    val copy = col("copy")
    val conf = spark.sparkContext.hadoopConfiguration
    Tables.all.foreach { name =>
      val out = s"$to/$name.parquet"
      replicated.find(_._1 == name) match {
        case Some((_, keys, salt)) =>
          val t = if (name == "events") Tables.events(spark, from)
                  else Tables.load(spark, from, name)
          val cols = t.schema.map { f =>
            val c = col(f.name)
            if (keys.contains(f.name)) (c + copy * CopyOffset).cast(f.dataType).as(f.name)
            else salt.filter(_._1 == f.name).fold(c) { case (_, s) =>
              when(copy === 0, c).otherwise(concat(c, s(copy.cast("string")))).as(f.name)
            }
          }
          t.crossJoin(broadcast(spark.range(r).toDF("copy"))).select(cols: _*)
            .write.mode("overwrite").parquet(out)
        case None =>
          val src = new Path(s"$from/$name.parquet")
          FileUtil.copy(src.getFileSystem(conf), src,
            new Path(out).getFileSystem(conf), new Path(out), false, conf)
      }
    }
  }

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

    val factors = Seq(1, 4, 10)
    val scratch = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(GraftLocalDir.path), "scale").toString
    // every factor, 1x included, reads a dir this replicator wrote, so the
    // three points share one physical layout
    val dirs = factors.map(r => r -> s"$scratch/x$r").toMap
    factors.foreach(r => replicate(spark, sfDir, dirs(r), r))
    println(s"[scale] $sfDir replicated ${factors.mkString("/")}x under $scratch")

    def time[A](f: => A): (Double, A) = {
      val t0 = System.nanoTime()
      val a = f
      ((System.nanoTime() - t0) / 1e9, a)
    }

    /** A noop-sink run: seconds (building `df` included, as Bench times
      * it), the rows observed on the way, and the write's executed plan,
      * where the scan metrics live.
      */
    final case class Run(s: Double, rows: Long, plan: SparkPlan)
    val pending = new java.util.concurrent.ConcurrentHashMap[String, Promise[QueryExecution]]()
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        qe.observedMetrics.keys.foreach(k => Option(pending.remove(k)).foreach(_.success(qe)))
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    val nRuns = new java.util.concurrent.atomic.AtomicLong
    def sink(df: => DataFrame): Run = {
      // as Bench does: shuffle files are released only when their owners
      // are GC'd, and a large heap lets earlier runs' files fill the disk
      System.gc()
      val name = s"scale_rows_${nRuns.incrementAndGet()}"
      val done = Promise[QueryExecution]()
      pending.put(name, done)
      val (s, _) = time(df.observe(name, count(lit(1))).write.mode("overwrite")
        .format("noop").save())
      val qe = Await.result(done.future, 1.minute)
      Run(s, qe.observedMetrics(name).getLong(0), qe.executedPlan)
    }

    /** At each factor print `at(r)`'s line, then the 4x and 10x ratios of
      * its timed seconds against 1x.
      */
    def sweep(name: String)(at: Int => (Double, String)): (String, Double, Double) = {
      val times = factors.map { r =>
        val (t, line) = at(r)
        println(f"[scale] $name%-22s ${r}%2dx  $line")
        t
      }
      val r4 = times(1) / times(0)
      val r10 = times(2) / times(0)
      println(f"[scale] $name%-22s ratios: 4x -> ${r4}%5.2f, 10x -> ${r10}%5.2f")
      (name, r4, r10)
    }
    /** A warm-up (JIT/codegen) run, then the measured one. */
    def measure(label: String)(run: => Run): (Double, String) = {
      val warm = run.s
      val m = run
      (m.s, f"$label${m.s}%7.2f s (warm-up $warm%6.2f)  rows=${m.rows}")
    }
    def docs(fx: String) = Tables.documents(spark, fx)
    def emb(fx: String) = Tables.embeddings(spark, fx)
    def cust(fx: String) = Tables.customer(spark, fx)
      .select(col("c_custkey").cast("long").as("id"), col("c_name").as("key"))
    def fp(fx: String) = docs(fx).select(col("doc_id"), col("source"),
      TextOps.fingerprint(col("text")).as("fp"))
    val base = docs(sfDir)
    val embBase = emb(sfDir)
    val custBase = cust(sfDir)
    /** The base customer %3 slice under fresh ids: the pinned batch of
      * the variant-index serves.
      */
    def custBatch = custBase.filter(col("id") % 3 === 0)
      .select((col("id") + 900000000L).as("id"), col("key"))
    val baseQuery = col("vec_id") % 20 === 0 && col("vec_id") < CopyOffset

    // ---- bodies that differ from every row, swept like the rows
    val kept: Seq[(String, String => Run)] = Seq(
      // bucket join with the query side pinned to the base copy (same
      // reasoning as pq_search) — runtime must track corpus size
      "hard_negatives" -> (fx => sink(Ann.hardNegatives(emb(fx), "vec_id",
        "embedding", baseQuery, 5, 0.05, 0.3))),
      // ADC is O(queries x corpus) BY DESIGN (a compressed full scan — IVF
      // is the sublinear complement), so the query set is pinned to the
      // base copy: runtime must then track corpus size. An unpinned
      // %-predicate measured 35.7x at 10x — both sides growing R is the R²
      // any scan-search has, not a plan flaw.
      "pq_search" -> (fx => sink(Ann.pqSearch(emb(fx), "vec_id", "embedding",
        PqFixture.model, baseQuery, 5, Some(IvfFixture.model)))),
      // the position-assignment half of SNM alone (range shuffle +
      // per-partition row_number + offset broadcast); no row runs it bare
      "snm_positions" -> (fx => sink(PrefixSum.densePositions(
        docs(fx).select(col("doc_id").as("id"), col("text").as("key")),
        Seq("key", "id")))),
      // the closure half of the TC audit alone (multi-pass union edges ->
      // large-star/small-star components) on a name-length key: runtime
      // must track edges x O(log n) rounds. Run on the star loop
      // (ConnectedComponents.onStarLoop), the path its recorded exponent
      // priced, so no size-dependent switch to the driver finish bends
      // the curve; the seam sets no conf, so the other joins keep their
      // plans. q_cluster_cc sweeps the driver finish.
      "snm_tc_closure" -> (fx => ConnectedComponents.onStarLoop(sink {
        val keyed = docs(fx).withColumn("k", substring(col("text"), 1, 24))
        val union = Linker.sortedNeighborhoodMulti(keyed, "doc_id", "k",
          Seq(col("k"), reverse(col("k"))), 10, 5)
        val edges = union.select(col("id_a").cast("long").as("src"),
          col("id_b").cast("long").as("dst"))
        val verts = edges.select(col("src").as("id"))
          .unionByName(edges.select(col("dst").as("id"))).distinct()
        ConnectedComponents.run(verts, edges)
      })),
      // CC over the winnowing shared-fingerprint graph on the star loop:
      // the replicated graph is R independent copies of the base graph,
      // so the per-round edge-join + agg must track edge count
      "connected_components" -> (fx => ConnectedComponents.onStarLoop(sink {
        val d = docs(fx)
        val pairs = Winnow.sharedFingerprintPairs(d, "doc_id", "text", 2)
        ConnectedComponents.run(d.select(col("doc_id").as("id")),
          pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
      })),
      // the ALTERNATIVE the incremental serve replaces, at the same corpus
      // sizes: a full recompute over corpus ∪ batch (pair join + CC from
      // scratch). The crossover README quotes is this row vs
      // cc_assign_serve: full recompute grows with the corpus, the serve
      // stays batch-bound.
      "cc_full_recompute" -> (fx => ConnectedComponents.onStarLoop(sink {
        val all = cust(fx).unionByName(custBatch)
        ConnectedComponents.run(all.select(col("id")),
          EditDistanceJoin.idPairs(all, "id", "key", 1)
            .select(col("id_a").as("src"), col("id_b").as("dst")))
      })))
    type Probe = (String, () => Seq[(String, Double, Double)])
    val swept: Seq[Probe] =
      (rows.map(n => n -> ((fx: String) => sink(SparkEntry.queries(n)(spark, fx)))) ++ kept)
        .map { case (n, body) => n -> (() => Seq(sweep(n)(r => measure("")(body(dirs(r)))))) }

    // ---- standing-index tiers: at each factor the publish over the
    // replicated corpus (the nightly build that write-once/serve-many
    // amortizes) is timed once, then one serve pass against it, with the
    // batch/query side PINNED to the base copy — so serve_s's growth is
    // the serve path's cost in the STANDING CORPUS size, and publish_s
    // beside it is what the serve saves a batch from re-paying.
    def idxProbe(name: String)(publish: (String, String, String) => Unit)
                (serve: (String, String, String) => Run): Probe =
      name -> (() => Seq(sweep(name) { r =>
        val (dir, tbl) = (s"$scratch/idx_${name}_$r", s"scaleidx_${name}_$r")
        val (pub, _) = time(publish(dirs(r), dir, tbl))
        measure(f"publish_s $pub%6.2f  serve_s")(serve(dirs(r), dir, tbl))
      }))
    /** Standing CC labels and variant index over the customer copies. */
    def ccPublish(fx: String, dir: String, tbl: String): Unit = {
      val d = cust(fx)
      ConnectedComponents.run(d.select(col("id")),
          EditDistanceJoin.idPairs(d, "id", "key", 1)
            .select(col("id_a").as("src"), col("id_b").as("dst")))
        .write.mode("overwrite").parquet(s"$dir/standing")
      EditDistanceJoin.writeVariantIndexBucketed(d, "id", "key", 1,
        s"$dir/varidx", tbl)
    }
    /** The pinned batch's cross edges (from the standing variant index)
      * and intra-batch edges.
      */
    def ccEdges(tbl: String): DataFrame =
      EditDistanceJoin.repsAgainstIndexBucketed(custBatch, "id", "key", 1, tbl)
        .select(col("left_id").as("src"), col("right_rep_id").as("dst"))
        .unionByName(EditDistanceJoin.idPairs(custBatch, "id", "key", 1)
          .select(col("id_a").as("src"), col("id_b").as("dst")))

    val idxProbes: Seq[Probe] = Seq(
      // exact key index: fingerprints of the salted corpus (every copy's
      // keys distinct) against the base copy's src0 slice
      idxProbe("fp_idx_serve") { (fx, dir, tbl) =>
        Dedup.writeKeyIndexBucketed(fp(fx).filter(col("source") =!= "src0"),
          "fp", dir, tbl)
      } { (fx, _, tbl) =>
        sink(Dedup.incrementalAgainstIndex(fp(fx)
          .filter(col("source") === "src0" && col("doc_id") < CopyOffset)
          .select("doc_id", "fp"), "fp", tbl))
      },
      // standing LSH band index grows Rx; today's batch stays the base
      // copy's src0 slice — serve joins the batch's bands against the
      // bucketed postings in place
      idxProbe("lsh_incr_serve") { (fx, dir, tbl) =>
        NearDup.writeBandIndexBucketed(docs(fx).filter(col("source") =!= "src0"),
          "doc_id", "text", 3, dir, tbl)
      } { (fx, _, tbl) =>
        sink(NearDup.incrementalNearDupPairsBucketed(docs(fx)
          .filter(col("source") === "src0" && col("doc_id") < CopyOffset),
          "doc_id", "text", 3, 0.5, tbl))
      },
      // the eval suite (index side) is FIXED at the base copy — the
      // production shape: a frozen benchmark suite scanned against an
      // ever-growing train corpus; serve must track the TRAIN side
      idxProbe("decontam_idx_serve") { (_, dir, _) =>
        Winnow.writeEvalNgramIndex(
          base.filter(col("doc_id") % 2 === 1), "doc_id", "text", dir)
      } { (fx, dir, _) =>
        sink(Winnow.ngramContaminationAgainstIndex(
          docs(fx).filter(col("doc_id") % 2 === 0), "doc_id", "text", dir))
      },
      // deletion-variant dictionary over the lev-disjoint customer copies;
      // the dirty batch is the base copy's %3 slice under fresh ids
      idxProbe("dict_idx_serve") { (fx, dir, tbl) =>
        EditDistanceJoin.writeVariantIndexBucketed(cust(fx), "id", "key", 1, dir, tbl)
      } { (_, _, tbl) =>
        sink(EditDistanceJoin.pairsAgainstIndexBucketed(custBatch, "id", "key", 1, tbl))
      },
      // standing PQ code table grows Rx; the query batch stays the base
      // copy's slice — serve is the ADC scan over the code table (linear
      // by design; IVF probing is the sublinear complement)
      idxProbe("pq_idx_serve") { (fx, dir, _) =>
        Ann.writePqIndex(emb(fx), "vec_id", "embedding", PqFixture.model, dir,
          Some(IvfFixture.model))
      } { (fx, dir, _) =>
        sink(Ann.pqSearchIndexed(emb(fx), "vec_id", "embedding", PqFixture.model,
          baseQuery, 5, dir, Some(IvfFixture.model)))
      },
      // SQ8 tier: stage 1 is the declared compressed scan (corpus-linear
      // like pq_idx_serve, reading 1/4 of the float bytes), stage 2 a
      // candidate-bounded float fetch
      idxProbe("sq8_idx_serve") { (fx, dir, _) =>
        Ann.writeSq8Index(emb(fx), "vec_id", "embedding", dir)
      } { (fx, dir, _) =>
        sink(Ann.sq8SearchIndexed(emb(fx), "vec_id", "embedding", baseQuery, 5,
          dir, 20))
      },
      // sign-bit (1-bit) tier: stage 1 reads two longs per corpus vector
      idxProbe("sign_idx_serve") { (fx, dir, _) =>
        Ann.writeSignIndex(emb(fx), "vec_id", "embedding", dir)
      } { (fx, dir, _) =>
        sink(Ann.hammingSearchIndexed(emb(fx), "vec_id", "embedding", baseQuery,
          5, dir, 50))
      },
      // IVF-SQ8: probed serve against the cell-partitioned codes — the
      // exponent should sit at or under the flat SQ8 tier's
      idxProbe("ivfsq8_idx_serve") { (fx, dir, _) =>
        Ann.writeSq8IndexByCell(emb(fx), "vec_id", "embedding", dir,
          IvfFixture.model)
      } { (fx, dir, _) =>
        sink(Ann.sq8SearchByCell(emb(fx), "vec_id", "embedding", baseQuery, 5,
          dir, IvfFixture.model))
      },
      // incremental CC assignment: standing labels + variant index over R
      // independent copies of the customer graph; the batch is pinned.
      // The operator's claim — serve cost tracks the BATCH and the
      // components it touches, never the corpus — is what this exponent
      // prices. The serve runs on the star loop (onStarLoop, no conf
      // touched), the path its recorded exponent priced; so do
      // cc_full_recompute and cc_republish_serve, its comparison rows.
      idxProbe("cc_assign_serve")(ccPublish) {
        (_, dir, tbl) => ConnectedComponents.onStarLoop(sink(
          ConnectedComponents.incrementalAssign(spark.read.parquet(s"$dir/standing"),
            custBatch.select("id"), ccEdges(tbl))))
      },
      // the nightly republish at the same sizes: condensed CC on the batch
      // + ONE corpus-linear equi-join on the label column — its exponent
      // must sit between cc_assign_serve's flat and the corpus growth
      idxProbe("cc_republish_serve")(ccPublish) {
        (_, dir, tbl) => ConnectedComponents.onStarLoop(sink(
          ConnectedComponents.mergeRepublish(spark.read.parquet(s"$dir/standing"),
            custBatch.select("id"), ccEdges(tbl))))
      })
    // ---- append-verb exponents: the serve exponents above price READING
    // a grown standing index; these price GROWING it — "append cost tracks
    // the batch, never the corpus", with the batch PINNED to a base slice
    // and the standing side published (timed: publish_s is the rebuild
    // an append saves) at 1x/4x/10x, then the append itself timed. Each
    // timed call gets a freshly-salted batch (new ids / new keys) so the
    // second append can't shortcut through state the first one created
    // (the variant tier's novelty anti join would otherwise find nothing
    // novel on a re-append and skip its postings write). fp/lsh/pq/sq8/
    // sign appends never read the standing side — FLAT is the only
    // acceptable exponent; the variant append's novelty anti join DOES
    // read the standing keys, so its floor is a corpus-key scan.
    def appendProbe(name: String)(publish: (String, String, String) => Unit)
                   (append: (String, String, Int) => Unit): Probe =
      name -> (() => Seq(sweep(name) { r =>
        val (dir, tbl) = (s"$scratch/app_${name}_$r", s"scaleapp_${name}_$r")
        val (pub, _) = time(publish(dirs(r), dir, tbl))
        val (warm, _) = time(append(dir, tbl, 1))
        val (t, _) = time(append(dir, tbl, 2))
        (t, f"publish_s $pub%6.2f  append_s$t%7.2f s (warm-up $warm%6.2f)")
      }))
    def embBatch(idBase: Long, i: Int) = embBase.filter(col("vec_id") % 20 === 0)
      .select((col("vec_id") + lit(idBase) + lit(i) * 1000000L).as("vec_id"),
        col("embedding"))
    val appendProbes: Seq[Probe] = Seq(
      // exact tier: batch = salted-text slice (all keys novel); the verb
      // distincts and bucket-appends the BATCH only
      appendProbe("fp_append") { (fx, dir, tbl) =>
        Dedup.writeKeyIndexBucketed(docs(fx), "text", dir, tbl)
      } { (_, tbl, i) =>
        Dedup.appendKeyIndexBucketed(base.filter(col("doc_id") % 3 === 0)
          .select(concat(col("text"), lit(" apsalt"), lit(i)).as("text")), "text", tbl)
      },
      // LSH tier: batch = base src0 slice under fresh ids
      appendProbe("lsh_append") { (fx, dir, tbl) =>
        NearDup.writeBandIndexBucketed(docs(fx), "doc_id", "text", 3, dir, tbl)
      } { (_, tbl, i) =>
        val batch = base.filter(col("source") === "src0")
          .select((col("doc_id") + lit(800000000L) + lit(i) * 1000000L)
            .as("doc_id"), col("text"))
        NearDup.appendBandIndexBucketed(batch, "doc_id", "text", 3, tbl)
      },
      // variant tier: batch = customer %3 slice under fresh ids, half the
      // keys salted novel / half verbatim (both novelty paths exercised)
      appendProbe("variant_append") { (fx, dir, tbl) =>
        EditDistanceJoin.writeVariantIndexBucketed(cust(fx), "id", "key", 1, dir, tbl)
      } { (_, tbl, i) =>
        val batch = custBase.filter(col("id") % 3 === 0)
          .select((col("id") + lit(900000000L) + lit(i) * 1000000L).as("id"),
            when(col("id") % 2 === 0, col("key"))
              .otherwise(concat(col("key"), lit("Q"), lit(i))).as("key"))
        EditDistanceJoin.appendVariantIndexBucketed(batch, "id", "key", tbl)
      },
      // ANN tier: the verb encodes the BATCH against the frozen codebooks
      appendProbe("pq_append") { (fx, dir, _) =>
        Ann.writePqIndex(emb(fx), "vec_id", "embedding", PqFixture.model, dir,
          Some(IvfFixture.model))
      } { (dir, _, i) =>
        Ann.appendPqIndex(embBatch(700000000L, i), "vec_id", "embedding",
          PqFixture.model, dir, Some(IvfFixture.model))
      },
      // SQ8 tier: quantizes ONLY the batch under the published scale
      appendProbe("sq8_append") { (fx, dir, _) =>
        Ann.writeSq8Index(emb(fx), "vec_id", "embedding", dir)
      } { (dir, _, i) =>
        Ann.appendSq8Index(embBatch(600000000L, i), "vec_id", "embedding", dir)
      },
      // sign-bit tier: signatures ONLY the batch, reads nothing standing
      appendProbe("sign_append") { (fx, dir, _) =>
        Ann.writeSignIndex(emb(fx), "vec_id", "embedding", dir)
      } { (dir, _, i) =>
        Ann.appendSignIndex(embBatch(550000000L, i), "vec_id", "embedding", dir)
      },
      // cell-partitioned PQ: the codes land under cell=N directories — the
      // partitioned write must stay batch-shaped too
      appendProbe("pq_cell_append") { (fx, dir, _) =>
        Ann.writePqIndexByCell(emb(fx), "vec_id", "embedding", PqFixture.model,
          dir, IvfFixture.model)
      } { (dir, _, i) =>
        Ann.appendPqIndexByCell(embBatch(750000000L, i), "vec_id", "embedding",
          PqFixture.model, dir, IvfFixture.model)
      })

    // ---- cell-partitioned LIFECYCLE exponents: the index the NIGHTLY
    // CYCLE produces — publish base by cell, append the salted %3-slice
    // grown Rx (fresh ids; per-copy scalar salt with modulus 11 > max
    // replication factor, because a smaller modulus would hand late copies
    // byte-identical codes that parquet RLEs away), compact, then serve
    // ONE pinned query at nProbe=8 vs exhaustive 16, reading the code
    // scan's PLANNED numFiles/filesSize off the executed plan (at fixture
    // sizes the serve is overhead-bound, while filesSize is exactly the
    // bytes a 1000-executor scan would have to move). A single pinned
    // query keeps the probed union at exactly nProbe cells; serves pass a
    // wide drift bar where the tier has a guard (the probe grows the
    // corpus 4-10x past publish on purpose). Expected at every factor:
    // probed filesSize = the probed cells' share of the index, numFiles
    // pinned at nProbe vs nCells.
    val queryId = embBase.agg(min(col("vec_id"))).first().getLong(0)
    def saltedBatch(r: Int, idBase: Long): DataFrame =
      embBase.filter(col("vec_id") % 3 === 0)
        .crossJoin(broadcast(spark.range(r).select(col("id").as("copy"))))
        .select((col("vec_id") + lit(idBase) + col("copy") * CopyOffset).as("vec_id"),
          transform(col("embedding"), e =>
            (e * (lit(1.0f) + (col("copy") % 11 + 1).cast("float") *
              lit(0.173f))).cast("float")).as("embedding"))
    final case class CellTier(name: String, metric: String, idBase: Long,
      scanSuffix: String => String,
      publish: (DataFrame, String) => Unit,
      append: (DataFrame, String) => Unit,
      compact: String => Int,
      serve: (String, Int) => DataFrame)
    def cellLifecycle(tier: CellTier): Seq[(String, Double, Double)] = {
      def dirMb(path: String): Double = {
        val p = new Path(path)
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
      println(s"[scale] ${tier.name}: publish base by cell, append %3" +
        "-slice grown Rx (fresh ids, salted), compact, serve ONE " +
        "pinned query at nProbe=8 vs exhaustive 16")
      val pts = factors.map { r =>
        val dir = s"$scratch/${tier.metric}_$r"
        tier.publish(embBase, dir)
        tier.append(saltedBatch(r, tier.idBase), dir)
        val nFiles = tier.compact(dir)
        val idxMb = dirMb(dir)
        def serveOnce(nProbe: Int): (Double, Long, Double) = {
          val run = sink(tier.serve(dir, nProbe))
          val (nf, bytes) = PlanScans.scanOf(run.plan, tier.scanSuffix(dir))
          (run.s, nf, bytes / 1e6)
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
        f"4x -> ${pts(1)._2 / pts(0)._2}%5.2f, " +
        f"10x -> ${pts(2)._2 / pts(0)._2}%5.2f " +
        f"(exhaustive: ${pts(1)._3 / pts(0)._3}%5.2f / " +
        f"${pts(2)._3 / pts(0)._3}%5.2f)")
      Seq((s"${tier.metric}_probed_bytes", pts(1)._2 / pts(0)._2,
            pts(2)._2 / pts(0)._2),
          (s"${tier.metric}_serve_wall", pts(1)._1 / pts(0)._1,
            pts(2)._1 / pts(0)._1))
    }
    // PQ cell tier: scan suffix is the dir itself (codes at the root);
    // compaction forced (threshold 0; returns the file count). IVF-SQ8:
    // codes live under dir/codes with the scale sidecar beside them;
    // compact via the policy verb with the threshold forced under the
    // append depth so the staged swap actually runs — the dispatcher's
    // probed-share byte pricing rests on this measured fraction.
    val pqCell = () => cellLifecycle(CellTier("pq_cell_lifecycle", "pq_cell", 650000000L,
      dir => new java.io.File(dir).getName,
      (d, dir) => Ann.writePqIndexByCell(d, "vec_id", "embedding",
        PqFixture.model, dir, IvfFixture.model),
      (d, dir) => Ann.appendPqIndexByCell(d, "vec_id", "embedding",
        PqFixture.model, dir, IvfFixture.model),
      dir => graft.sources.Layout.compactIfNeeded(spark, dir, 0).getOrElse(-1),
      (dir, np) => Ann.pqSearchIndexed(embBase, "vec_id", "embedding",
        PqFixture.model, col("vec_id") === queryId, 5, dir,
        Some(IvfFixture.model), np)))
    val ivfSq8 = () => cellLifecycle(CellTier("ivfsq8_lifecycle", "ivfsq8", 750000000L,
      _ => "codes",
      (d, dir) => { Ann.writeSq8IndexByCell(d, "vec_id", "embedding",
        dir, IvfFixture.model); () },
      (d, dir) => Ann.appendSq8IndexByCell(d, "vec_id", "embedding",
        dir, IvfFixture.model),
      dir => graft.sources.Layout.compactIfNeeded(spark, s"$dir/codes", 1)
        .getOrElse(-1),
      (dir, np) => Ann.sq8SearchByCell(embBase, "vec_id", "embedding",
        col("vec_id") === queryId, 5, dir, IvfFixture.model,
        nProbe = np, maxDriftFactor = 1000.0)))
    // the flat SQ8 and sign tiers through the same cycle: post-compact
    // file count and scanned bytes per appended factor
    val flatLifecycle = () => {
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
        val pts = factors.map { r =>
          val dir = s"$scratch/flat_${tier.name}_$r"
          tier.publish(embBase, dir)
          tier.append(saltedBatch(r, 850000000L), dir)
          val codes = s"$dir/${tier.sub}"
          val nFiles = graft.sources.Layout.compactIfNeeded(spark, codes, 1)
            .getOrElse(graft.sources.Layout.dataFileCount(spark, codes))
          sink(tier.serve(dir)) // warm-up, untimed
          val run = sink(tier.serve(dir))
          val (nf, bytes) = PlanScans.scanOf(run.plan, tier.sub)
          val mb = bytes / 1e6
          println(f"[scale] ${tier.name}%-18s ${r}%2dx  files=$nFiles%3d  " +
            f"serve ${run.s}%6.2f s  scan $nf%3d files $mb%8.3f MB")
          (run.s, mb)
        }
        println(f"[scale] ${tier.name}%-18s scanned-byte ratios: " +
          f"4x -> ${pts(1)._2 / pts(0)._2}%5.2f, " +
          f"10x -> ${pts(2)._2 / pts(0)._2}%5.2f")
        Seq((s"${tier.name}_bytes", pts(1)._2 / pts(0)._2,
              pts(2)._2 / pts(0)._2),
            (s"${tier.name}_wall", pts(1)._1 / pts(0)._1,
              pts(2)._1 / pts(0)._1))
      }
    }

    // ---- duplicate-key flood (the EditDistanceJoin skew guard): the
    // supplier corpus plus f exact copies of ONE name. The guarded join
    // dedupes keys before the variant explode, so its variant-join stage
    // is FLAT in f; total runtime grows only with the emitted TRUE pairs
    // (~f²/2 intra-group rows — output cardinality, the floor for an
    // exact pair operator). The unguarded shape (pre-round-8 plan,
    // reconstructed inline below) pushes f·|variants| rows into the join
    // and f²·|variants| witnesses into the distinct — ~170x the output
    // floor — and is timed at the smallest factors only for contrast.
    val linkSkew = () => {
      import spark.implicits._
      val sup = Tables.supplier(spark, sfDir)
        .select(col("s_suppkey").cast("long").as("id"), col("s_name").as("key"))
        .localCheckpoint(true)
      val hotName = sup.orderBy("id").select("key").as[String].first()
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
      println("[scale] link_skew: the supplier names plus f copies of one hot name")
      Seq(100, 1000, 10000).foreach { f =>
        val d = sup.unionByName(spark.range(f)
          .select((col("id") + 1000000L).as("id"), lit(hotName).as("key")))
          .localCheckpoint(true)
        val g = sink(EditDistanceJoin.idPairs(d, "id", "key", 2))
        println(f"[scale] link_skew guarded   f=$f%5d  ${g.s}%7.2f s  pairs=${g.rows} " +
          f"(s/Mpair ${g.s / (g.rows / 1e6)}%6.2f)")
        if (f <= 1000) {
          // candidate stage only (no verify) — already the blowup carrier
          val u = sink(unguardedPairs(d, 2))
          println(f"[scale] link_skew unguarded f=$f%5d  ${u.s}%7.2f s  cand=${u.rows} (candidate stage only)")
        }
        d.unpersist()
      }
      Seq.empty[(String, Double, Double)]
    }
    // ---- blocked RO join (Linker.similarityPairsBlocked) on the DIVERSE
    // name corpus (RoBlockProbe's generator: three vocabulary words + a
    // digit, most pairs below the 80 threshold — the shape the blocked
    // mode exists for). n = 2000·R, so pair potential grows R²: the
    // exponent prices the prefix filter's candidate growth. True pairs
    // grow ~R (digit-suffix neighbors), so a candidate-bound plan must
    // grow well below the R² potential.
    val roBlocked = () => {
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
      Seq(sweep("ro_blocked") { r =>
        val d = diverseNames(2000L * r).localCheckpoint(true)
        try measure("")(sink(Linker.similarityPairsBlocked(d, "name", 80.0)))
        finally d.unpersist()
      })
    }

    val probes: Seq[Probe] = swept ++ idxProbes ++ appendProbes ++
      Seq("pq_cell_lifecycle" -> pqCell, "ivfsq8_lifecycle" -> ivfSq8,
        "flat_lifecycle" -> flatLifecycle, "link_skew" -> linkSkew,
        "ro_blocked" -> roBlocked)
    // Optional name args: run only those (local iteration — the full
    // sweep is long; one row is a minute). A name that matches nothing
    // fails rather than reading as a clean run.
    val unknown = args.filterNot(probes.map(_._1).toSet)
    if (unknown.nonEmpty) {
      System.err.println(s"unknown names: ${unknown.mkString(", ")}; " +
        s"known: ${probes.map(_._1).mkString(", ")}")
      spark.stop()
      sys.exit(2)
    }
    val results = probes.filter(p => args.isEmpty || args.contains(p._1))
      .flatMap(_._2())
    println("[scale] summary (time ratio vs data ratio; linear ops should sit at or below the data ratio once fixed overhead amortizes)")
    results.foreach { case (n, r4, r10) =>
      println(f"[scale]   $n%-22s 4x: ${r4}%5.2f  10x: ${r10}%5.2f")
    }
    spark.stop()
  }
}
