package graft.tools

import graft.Graft
import graft.operators.ConnectedComponents
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Times `ConnectedComponents.run` on both paths — the driver finish and
  * the star loop — at a few edge counts, for the crossover table behind
  * `ConnectedComponents.DriverFinishMaxEdges`. Two graph shapes:
  * "random", E edges among E vertices (one giant component, several
  * loop rounds), and "paths", disjoint 3-vertex paths (the loop's best
  * case, 2 rounds). Each cell is the median of 5 timed runs after one
  * warm run per path; the output is written to the noop sink.
  *
  * Usage: `runMain graft.tools.CcCrossoverProbe [edges,edges,...]`
  * (default 10000,100000,200000,400000). Sizes above the cap still take
  * the driver finish here, so the table can look past it.
  */
object CcCrossoverProbe {
  def main(args: Array[String]): Unit = {
    val cpus = 4
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Graft.enableOptimizations(spark)

    def graph(shape: String, e: Long): (DataFrame, DataFrame) = shape match {
      case "random" =>
        val ed = spark.range(e).select(
          pmod(xxhash64(col("id"), lit(1)), lit(e)).as("src"),
          pmod(xxhash64(col("id"), lit(2)), lit(e)).as("dst")).localCheckpoint(true)
        (spark.range(e).toDF("id").localCheckpoint(true), ed)
      case "paths" =>
        // edge 2k is (3k, 3k+1), edge 2k+1 is (3k+1, 3k+2)
        val src = (col("id") / 2).cast("long") * 3 + col("id") % 2
        val ed = spark.range(e).select(src.as("src"), (src + 1).as("dst"))
          .localCheckpoint(true)
        (spark.range(e / 2 * 3).toDF("id").localCheckpoint(true), ed)
    }
    def timed(loop: Boolean)(v: DataFrame, ed: DataFrame): Double = {
      val t0 = System.nanoTime()
      def body(): Unit = ConnectedComponents.run(v, ed)
        .write.format("noop").mode("overwrite").save()
      if (loop) ConnectedComponents.onStarLoop(body())
      else ConnectedComponents.driverFinishCap.withValue(Long.MaxValue)(body())
      (System.nanoTime() - t0) / 1e6
    }
    def med(x: Seq[Double]): Double = x.sorted.apply(x.size / 2)

    val sizes = args.headOption.map(_.split(",").map(_.toLong).toSeq)
      .getOrElse(Seq(10000L, 100000L, 200000L, 400000L))
    for (shape <- Seq("random", "paths"); e <- sizes) {
      val (v, ed) = graph(shape, e)
      timed(false)(v, ed); timed(true)(v, ed)
      val runs = (1 to 5).map(_ => (timed(false)(v, ed), timed(true)(v, ed)))
      val (d, l) = (runs.map(_._1), runs.map(_._2))
      println(f"[xo] $shape%-6s edges=$e%7d driver_ms=${med(d)}%8.0f " +
        f"loop_ms=${med(l)}%8.0f  driver=${d.map(_.round).mkString("/")} " +
        s"loop=${l.map(_.round).mkString("/")}")
    }
    spark.stop()
  }
}
