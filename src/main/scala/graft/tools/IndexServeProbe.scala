package graft.tools

import graft.{GraftLocalDir, Tables}
import graft.operators.{Ann, Dedup, EditDistanceJoin, IvfFixture, NearDup, PqFixture}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Small-files drift of the standing-index tiers (dev scratch): serve
  * at 0 and at 20 daily appends, then `Layout.compactIfNeeded` through
  * its 16-file trigger (which must fire at 20 appends and no-op right
  * after), then serve again. This prices the drift the trigger is set
  * against. Serve runs materialize through the noop sink like Bench.
  * The publish/serve split per tier is printed by
  * `graft.tools.ScaleProbe`'s standing-index tiers, at 1x/4x/10x.
  */
object IndexServeProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", GraftLocalDir.path)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.Graft.enableOptimizations(spark)

    val scratch = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(GraftLocalDir.path), "idxprobe")
    def time[A](f: => A): (Double, A) = {
      val t0 = System.nanoTime()
      val r = f
      ((System.nanoTime() - t0) / 1e9, r)
    }
    def serveMin(runs: Int)(df: => org.apache.spark.sql.DataFrame): Double =
      (1 to runs).map { _ =>
        time(df.write.mode("overwrite").format("noop").save())._1
      }.min
    // one nightly compaction call per table of a multi-table tier: each
    // must fire, and each must no-op right after; returns the seconds
    // and the file counts after, as "(a, b, ...)"
    def policyPerTable(tier: String, prefix: String,
                       tables: Seq[String]): (Double, String) = {
      val (sec, fired) = time(tables.map(t =>
        graft.sources.Layout.compactIfNeeded(spark, s"${prefix}_$t")))
      val files = fired.zip(tables).map { case (f, t) =>
        f.getOrElse(sys.error(s"$tier policy must fire: $t")) }
      require(tables.forall(t =>
        graft.sources.Layout.compactIfNeeded(spark, s"${prefix}_$t").isEmpty),
        s"$tier policy must no-op right after compaction")
      (sec, files.mkString("(", ", ", ")"))
    }

    val docs = Tables.documents(spark, sfDir)
    val emb = Tables.embeddings(spark, sfDir)

    // COMPACTION (round 13): every bucketed append lays down one file
    // set per bucket, so day-N serving scans N file sets — this prices
    // the small-files drift (serve at 0 vs 20 appends) and what
    // compaction buys back (serve after the in-place rewrite,
    // one file per bucket again). Appends use suffixed/shifted keys so
    // each is genuinely novel per the append contract.
    locally {
      val fp = docs.select(col("doc_id"), col("source"),
        graft.operators.TextOps.fingerprint(col("text")).as("fp"))
      Dedup.writeKeyIndexBucketed(fp.filter(col("source") =!= "src0"),
        "fp", s"$scratch/fp_cmp", "idxprobe_fp_cmp")
      val batch = fp.filter(col("source") === "src0").select("doc_id", "fp")
      def srvFp = serveMin(3)(Dedup.incrementalAgainstIndex(
        batch, "fp", "idxprobe_fp_cmp"))
      val s0 = srvFp
      (1 to 20).foreach { i =>
        Dedup.appendKeyIndexBucketed(
          fp.filter(col("source") === "src1")
            .select(concat(col("fp"), lit(s"_d$i")).as("fp")),
          "fp", "idxprobe_fp_cmp")
      }
      val s20 = srvFp
      // round 14: compaction driven through the POLICY, not the bare
      // verb — 20 appends sit past the 16-files/bucket default
      // threshold, so compactIfNeeded must fire here, and must
      // no-op immediately after (one file per bucket again). This is
      // the probe row that shows the trigger firing at the measured
      // drift point.
      val depth = graft.sources.Layout.filesPerBucket(spark, "idxprobe_fp_cmp")
      val (cSec, fired) = time(
        graft.sources.Layout.compactIfNeeded(spark, "idxprobe_fp_cmp"))
      val files = fired.getOrElse(
        sys.error(s"policy must fire at 20 appends (depth $depth)"))
      require(graft.sources.Layout
        .compactIfNeeded(spark, "idxprobe_fp_cmp").isEmpty,
        "policy must no-op right after compaction")
      val sAfter = srvFp
      println(f"[compact] fp_exact  serve 0app ${s0}%.2f s | 20app ${s20}%.2f s" +
        f" | policy fired at ${depth}%.1f files/bucket (>16): " +
        f"compact ${cSec}%.2f s -> $files files | after ${sAfter}%.2f s" +
        " | immediate re-check: no-op")
    }
    locally {
      NearDup.writeBandIndexBucketed(docs.filter(col("source") =!= "src0"),
        "doc_id", "text", 3, s"$scratch/lsh_cmp", "idxprobe_lsh_cmp")
      val batch = docs.filter(col("source") === "src0")
      def srvLsh = serveMin(3)(NearDup.incrementalNearDupPairsBucketed(
        batch, "doc_id", "text", 3, 0.5, "idxprobe_lsh_cmp"))
      val s0 = srvLsh
      (1 to 20).foreach { i =>
        NearDup.appendBandIndexBucketed(
          docs.filter(col("source") === "src1")
            .select((col("doc_id") + lit(i.toLong * 1000000000L)).as("doc_id"),
              col("text")),
          "doc_id", "text", 3, "idxprobe_lsh_cmp")
      }
      val s20 = srvLsh
      // through the POLICY, one call per table: 20 appends must trip both
      val (cSec, files) = policyPerTable("lsh", "idxprobe_lsh_cmp",
        Seq("postings", "sets"))
      val sAfter = srvLsh
      println(f"[compact] lsh_bands serve 0app ${s0}%.2f s | 20app ${s20}%.2f s" +
        f" | compact ${cSec}%.2f s -> $files files | after ${sAfter}%.2f s" +
        " | immediate re-check: no-op")
    }
    locally {
      val c = Tables.customer(spark, sfDir)
      EditDistanceJoin.writeVariantIndexBucketed(
        c.filter(col("c_custkey") % 3 =!= 0)
          .select(col("c_custkey"), col("c_name")),
        "c_custkey", "c_name", 1, s"$scratch/var_cmp", "idxprobe_var_cmp")
      val batch = c.filter(col("c_custkey") % 3 === 0)
        .select(col("c_custkey").as("did"), col("c_name").as("dname"))
      def srvVar = serveMin(3)(EditDistanceJoin.pairsAgainstIndexBucketed(
        batch, "did", "dname", 1, "idxprobe_var_cmp"))
      val s0 = srvVar
      (1 to 20).foreach { i =>
        EditDistanceJoin.appendVariantIndexBucketed(
          c.filter(col("c_custkey") % 3 === 0)
            .select((col("c_custkey") + lit(i.toLong * 1000000000L))
              .as("c_custkey"),
              concat(col("c_name"), lit("Q"), lit(i)).as("c_name")),
          "c_custkey", "c_name", "idxprobe_var_cmp")
      }
      val s20 = srvVar
      // through the POLICY, one call per table: 20 appends must trip all three
      val (cSec, files) = policyPerTable("variant", "idxprobe_var_cmp",
        Seq("postings", "keys", "members"))
      val sAfter = srvVar
      println(f"[compact] variant   serve 0app ${s0}%.2f s | 20app ${s20}%.2f s" +
        f" | compact ${cSec}%.2f s -> $files files | after ${sAfter}%.2f s" +
        " | immediate re-check: no-op")
    }
    // round 15: the CELL-PARTITIONED PQ tier's compaction, through its
    // policy — per-cell file depth is the probe-bounded serve's per-file
    // cost multiplier (a serve reads nProbe cells' files), so this row
    // prices the same 0-vs-20-append drift and what compaction buys
    // back, completing the verb-symmetry table.
    locally {
      val dir = s"$scratch/pq_cell_cmp"
      Ann.writePqIndexByCell(emb, "vec_id", "embedding", PqFixture.model,
        dir, IvfFixture.model)
      def srvPq = serveMin(3)(Ann.pqSearchIndexed(emb, "vec_id",
        "embedding", PqFixture.model, col("vec_id") % 50 === 0, 5, dir,
        Some(IvfFixture.model), nProbe = 8))
      val s0 = srvPq
      (1 to 20).foreach { i =>
        Ann.appendPqIndexByCell(
          emb.select((col("vec_id") + lit(i.toLong * 1000000000L))
            .as("vec_id"), col("embedding")),
          "vec_id", "embedding", PqFixture.model, dir, IvfFixture.model)
      }
      val s20 = srvPq
      val depth = graft.sources.Layout.filesPerUnit(spark, dir)
      val (cSec, fired) = time(graft.sources.Layout.compactIfNeeded(spark, dir))
      val files = fired.getOrElse(
        sys.error(s"pq-cell policy must fire at 20 appends (depth $depth)"))
      require(graft.sources.Layout.compactIfNeeded(spark, dir).isEmpty,
        "pq-cell policy must no-op right after compaction")
      val sAfter = srvPq
      println(f"[compact] pq_cell   serve 0app ${s0}%.2f s | 20app ${s20}%.2f s" +
        f" | policy fired at $depth%d files/cell (>16): " +
        f"compact ${cSec}%.2f s -> $files files | after ${sAfter}%.2f s" +
        " | immediate re-check: no-op")
    }
    spark.stop()
  }
}
