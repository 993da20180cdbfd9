package graft.tools

import graft.{GraftLocalDir, Tables}
import graft.operators.{Ann, IvfFixture, PqFixture}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-size sweep behind [[Ann.pqSearchAuto]]'s exhaustive/probed
  * crossover (dev tool): replicate the sf0.1 embeddings Rx (vec_ids
  * offset, query sample held FIXED at the base corpus's %50 slice so
  * only the corpus side grows) and time the exhaustive ADC scan vs the
  * nProbe=8 bounded serve on the frozen fixtures, min-of-2 after a
  * warm-up. Both forms scan all codes (the LUT join drops unprobed
  * cells AFTER the scan — see pqSearchWith; at cluster scale the
  * standing codes partition by cell so the probe prunes the scan
  * itself), so the expected shape is two linear curves with the probed
  * one ~nProbe/nCells cheaper in joined rows — the sweep measures where
  * the exhaustive form's recall-1.0 premium stops being noise.
  *
  *   sbt "runMain graft.tools.PqServeSweep"
  */
object PqServeSweep {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", GraftLocalDir.path)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val base = Tables.embeddings(spark, "/root/testdata/sf0.1")
    val n0 = base.count()
    val pred = col("vec_id") % 50 === 0 && col("vec_id") < n0
    def replicate(r: Int): DataFrame =
      if (r == 1) base
      else base.crossJoin(
          spark.range(r).select(col("id").as("__rep")))
        .select((col("vec_id") + col("__rep") * lit(n0)).as("vec_id"),
          col("embedding"), col("label"))
    def time(f: => Unit): Double = {
      f
      (1 to 2).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }.min
    }
    // serve from a PUBLISHED code index per size — the fused form's
    // corpus re-encode is identical under both nProbe settings and
    // would drown the serve delta the sweep exists to measure
    println(f"${"corpus"}%8s ${"exhaustive_s"}%13s ${"probed8_s"}%10s " +
      f"${"pruned8_s"}%10s ${"ex/probed"}%9s ${"ex/pruned"}%9s")
    Seq(1, 10, 50).foreach { r =>
      val emb = replicate(r).localCheckpoint(true)
      val n = emb.count()
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft_pqsweep_$r").toString
      Ann.writePqIndex(emb, "vec_id", "embedding", PqFixture.model,
        s"$dir/flat", Some(IvfFixture.model))
      Ann.writePqIndexByCell(emb, "vec_id", "embedding", PqFixture.model,
        s"$dir/cell", IvfFixture.model)
      def serve(sub: String, np: Int): Double = time(
        Ann.pqSearchIndexed(emb, "vec_id", "embedding", PqFixture.model,
            pred, 5, s"$dir/$sub", Some(IvfFixture.model), nProbe = np)
          .write.mode("overwrite").format("noop").save())
      // code-scan I/O per layout: the pruning claim is about BYTES, and
      // single-node wall time at fixture scale is compute-bound — read
      // the scan node's own metrics off the final adaptive plan of an
      // executed probe-bounded serve on each layout
      def scanIo(sub: String, p: org.apache.spark.sql.Column): (Long, Long) = {
        val df = Ann.pqSearchIndexed(emb, "vec_id", "embedding",
          PqFixture.model, p, 5, s"$dir/$sub", Some(IvfFixture.model),
          nProbe = 8)
        df.collect() // execute THIS QueryExecution so its metrics fill
        PlanScans.scanOf(df, s"/$sub")
      }
      val ex = serve("flat", Int.MaxValue)
      val pr = serve("flat", 8)
      val pu = serve("cell", 8)
      // batch scan: the DPP filter is the UNION of the batch's probed
      // cells — 40 diverse queries × 8/16 cells covers every cell, so
      // the batch row shows only the layout's compression win; the
      // single-query row shows the pruning itself (8 of 16 cells read)
      val (fFiles, fBytes) = scanIo("flat", pred)
      val (cFiles, cBytes) = scanIo("cell", pred)
      val one = col("vec_id") === 0
      val (f1Files, f1Bytes) = scanIo("flat", one)
      val (c1Files, c1Bytes) = scanIo("cell", one)
      println(f"$n%8d $ex%13.2f $pr%10.2f $pu%10.2f " +
        f"${ex / pr}%9.2f ${ex / pu}%9.2f  batch scan flat=${fFiles}f/" +
        f"${fBytes / 1024}KB cell=${cFiles}f/${cBytes / 1024}KB " +
        f"(bytes cut ${1.0 - cBytes.toDouble / fBytes}%.2f); " +
        f"1-query flat=${f1Files}f/${f1Bytes / 1024}KB " +
        f"cell=${c1Files}f/${c1Bytes / 1024}KB " +
        f"(bytes cut ${1.0 - c1Bytes.toDouble / f1Bytes}%.2f)")
      emb.unpersist()
    }
    spark.stop()
  }
}
