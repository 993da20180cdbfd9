package graft.tools

import graft.Graft
import graft.operators.{ConnectedComponents, EditDistanceJoin}
import graft.operators.ConnectedComponents.DriverCaps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Times each driver path against its distributed plan, for the
  * crossover tables behind the caps in `ConnectedComponents`:
  *
  *  - `cc`: `ConnectedComponents.run` on the driver finish and on the
  *    star loop, at E edges (`DriverFinishMaxEdges`). Two graph shapes:
  *    "random", E edges among E vertices (one giant component, several
  *    loop rounds), and "paths", disjoint 3-vertex paths (the loop's best
  *    case, 2 rounds).
  *  - `serve`: a batch of N rows against a standing variant index of
  *    8,000 names (`DriverMaxRows`): `repsAgainstIndexBucketed`,
  *    `idPairs` of the batch, and `incrementalAssign` over their union,
  *    each on the driver path and on the distributed plan that runs
  *    above the row cap (the condensed CC's `run` keeps its own driver
  *    finish there). Names are
  *    seeded pseudo-words; a batch mixes standing names, 1–2-edit
  *    variants of them and new names. maxDist is 2, the largest any
  *    query row uses.
  *
  * Each cell is the median of 5 timed runs after one warm run per path;
  * outputs go to the noop sink. Sizes past a cap still take the driver
  * path here, so a table can look past it.
  *
  * Usage: `runMain graft.tools.DriverCrossoverProbe [cc|serve] [n,n,...]`
  * (defaults: both parts; cc 10000,100000,200000,400000 edges, serve
  * 120,250,300,375,500,1000,2000 rows).
  */
object DriverCrossoverProbe {
  def main(args: Array[String]): Unit = {
    val cpus = 4
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Graft.enableOptimizations(spark)
    val parts = args.headOption.filter(Set("cc", "serve")).toSeq
    val sizes = args.dropWhile(Set("cc", "serve")).headOption
      .map(_.split(",").map(_.toLong).toSeq)
    if (parts.isEmpty || parts.contains("cc"))
      ccTable(spark, sizes.getOrElse(Seq(10000L, 100000L, 200000L, 400000L)))
    if (parts.isEmpty || parts.contains("serve"))
      serveTable(spark, sizes.getOrElse(Seq(120L, 250L, 300L, 375L, 500L, 1000L, 2000L)))
    spark.stop()
  }

  /** ms of `body` under the driver paths' caps `caps`. */
  private def timed(caps: DriverCaps)(body: => Unit): Double = {
    val t0 = System.nanoTime()
    ConnectedComponents.driverFinishCap.withValue(caps)(body)
    (System.nanoTime() - t0) / 1e6
  }

  /** One table row: 5 timed runs per side after a warm run each, the
    * driver path under `driver`'s caps, the distributed plan under
    * `distributed`'s.
    */
  private def row(label: String, driver: DriverCaps, distributed: DriverCaps)(
      body: => Unit): Unit = {
    def med(x: Seq[Double]): Double = x.sorted.apply(x.size / 2)
    timed(driver)(body); timed(distributed)(body)
    val runs = (1 to 5).map(_ => (timed(driver)(body), timed(distributed)(body)))
    val (d, l) = (runs.map(_._1), runs.map(_._2))
    println(f"[xo] $label%-28s driver_ms=${med(d)}%8.0f " +
      f"distributed_ms=${med(l)}%8.0f  driver=${d.map(_.round).mkString("/")} " +
      s"distributed=${l.map(_.round).mkString("/")}")
  }

  private val defaults = ConnectedComponents.driverFinishCap.value

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def ccTable(spark: SparkSession, sizes: Seq[Long]): Unit = {
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
    for (shape <- Seq("random", "paths"); e <- sizes) {
      val (v, ed) = graph(shape, e)
      row(s"cc $shape edges=$e", defaults.copy(edges = Long.MaxValue),
        defaults.copy(edges = 0L))(noop(ConnectedComponents.run(v, ed)))
    }
  }

  private def serveTable(spark: SparkSession, sizes: Seq[Long]): Unit = {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val syllables = Seq("ka", "ro", "vel", "ti", "bra", "mun", "se", "dor",
      "li", "an", "zu", "pe", "gor", "ni", "sta", "wen")
    def word(): String =
      (1 to 2 + rnd.nextInt(3)).map(_ => syllables(rnd.nextInt(syllables.size))).mkString
    def name(): String =
      (1 to 1 + rnd.nextInt(3)).map(_ => word().capitalize).mkString(" ") +
        Seq(" GmbH", " Ltd", " AG", " SA")(rnd.nextInt(4))
    def edit(s: String): String = {
      val i = rnd.nextInt(s.length)
      rnd.nextInt(3) match {
        case 0 => s.substring(0, i) + s.substring(i + 1)
        case 1 => s.substring(0, i) + "x" + s.substring(i)
        case _ => s.substring(0, i) + "q" + s.substring(i + 1)
      }
    }
    val dict = (0 until 8000).map(_ => name())
    val corpus = dict.zipWithIndex.map { case (n, i) => (i.toLong, n) }
      .toDF("id", "name").localCheckpoint(true)
    val table = "driver_xo_var"
    val dir = java.nio.file.Files.createTempDirectory("driver_xo").toString
    EditDistanceJoin.writeVariantIndexBucketed(corpus, "id", "name", 2,
      s"$dir/var", table)
    val standing = ConnectedComponents.run(corpus.select("id"),
        EditDistanceJoin.idPairs(corpus, "id", "name", 2)
          .select(col("id_a").as("src"), col("id_b").as("dst")))
      .localCheckpoint(true)
    for (n <- sizes) {
      val batch = (0L until n).map { i =>
        val base = dict(rnd.nextInt(dict.size))
        (1000000L + i, rnd.nextInt(4) match {
          case 0 => base
          case 1 => edit(base)
          case 2 => edit(edit(base))
          case _ => name()
        })
      }.toDF("id", "name").localCheckpoint(true)
      def edges(): DataFrame =
        EditDistanceJoin.repsAgainstIndexBucketed(batch, "id", "name", 2, table)
          .select(col("left_id").as("src"), col("right_rep_id").as("dst"))
          .unionByName(EditDistanceJoin.idPairs(batch, "id", "name", 2)
            .select(col("id_a").as("src"), col("id_b").as("dst")))
          .localCheckpoint(true)
      // the distributed side is what runs above the row cap: the
      // condensed CC's run() keeps its own driver finish
      val (driver, distributed) =
        (defaults.copy(rows = Int.MaxValue - 1), defaults.copy(rows = 0))
      row(s"reps rows=$n", driver, distributed)(noop(
        EditDistanceJoin.repsAgainstIndexBucketed(batch, "id", "name", 2, table)))
      row(s"idPairs rows=$n", driver, distributed)(noop(
        EditDistanceJoin.idPairs(batch, "id", "name", 2)))
      val e = ConnectedComponents.onStarLoop(edges())
      row(s"incrementalAssign edges=${e.count()}", driver, distributed)(noop(
        ConnectedComponents.incrementalAssign(standing, batch.select("id"), e)))
    }
    Seq("postings", "keys", "members", "meta")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${table}_$t"))
  }
}
