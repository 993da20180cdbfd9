package graft.tools

import graft.Graft
import graft.operators.{ConnectedComponents, Dedup, EditDistanceJoin}
import graft.operators.ConnectedComponents.DriverCaps
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions._

import scala.util.Random

/** Times each driver path against its distributed plan, for the
  * crossover tables behind the caps in `ConnectedComponents`:
  *
  *  - `cc`: `ConnectedComponents.run` on the driver finish and on the
  *    star loop, at E edges (`DriverFinishMaxEdges`). Two graph shapes:
  *    "random", E edges among E vertices (one giant component, several
  *    loop rounds), and "paths", disjoint 3-vertex paths (the loop's best
  *    case, 2 rounds).
  *  - `serve`: a batch of N rows against a standing variant index of
  *    8,000 names (`DriverMaxRows`): `repsAgainstIndexBucketed`, and
  *    `incrementalAssign` over its union with the batch's `idPairs`,
  *    each on the driver path and on the distributed plan that runs
  *    above the row cap (the condensed CC's `run` keeps its own driver
  *    finish there). Names are
  *    seeded pseudo-words; a batch mixes standing names, 1–2-edit
  *    variants of them and new names. maxDist is 2, the largest any
  *    query row uses.
  *  - `append`: the same batches folded into a copy of the same index
  *    (`DriverMaxRows`, which the appends share with the serves):
  *    `appendVariantIndexBucketed` of the batch, and
  *    `Dedup.appendKeyIndexBucketed` of its novel rows, held on the
  *    driver as a daily job holds them, into a key index over the same
  *    names. Every run, warm ones included, appends to a fresh copy of
  *    the published tables (copied outside the timing), so no run
  *    reads another's files.
  *  - `idpairs`: `EditDistanceJoin.idPairs` over a corpus of N rows
  *    (`IdPairsMaxPostings`), at maxDist 2 and at maxDist 1: new names,
  *    exact copies and 1–2-edit variants of earlier rows, checkpointed
  *    as a corpus a job reads. Each row reports the corpus' postings (the
  *    budget's unit) and postings per row.
  *
  * Each part first runs the rows of its first size untimed. Then each
  * cell is the median of 5 timed runs, after each path is warmed until
  * two consecutive runs agree within 15% (at most 8 runs); outputs go
  * to the noop sink. A size's batch is drawn from an RNG seeded by the
  * size, so it is the same whichever sizes are listed with it. Sizes
  * past a cap still take the driver path here, so a table can look past
  * it.
  *
  * Usage: `runMain graft.tools.DriverCrossoverProbe
  * [cc|serve|append|idpairs] [n,n,...]` (defaults: all parts; cc
  * 10000,100000,200000,400000 edges, serve and append
  * 120,250,300,375,500,1000,2000 rows, idpairs 2000,5000,10000,20000
  * rows at maxDist 2 and 20000,50000,100000,200000 at maxDist 1; given
  * sizes serve both).
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
    val names = Set("cc", "serve", "append", "idpairs")
    val parts = args.headOption.filter(names).toSeq
    val sizes = args.dropWhile(names).headOption
      .map(_.split(",").map(_.toLong).toSeq)
    def batchSizes = sizes.getOrElse(Seq(120L, 250L, 300L, 375L, 500L, 1000L, 2000L))
    if (parts.isEmpty || parts.contains("cc"))
      ccTable(spark, sizes.getOrElse(Seq(10000L, 100000L, 200000L, 400000L)))
    if (parts.isEmpty || parts.contains("serve")) serveTable(spark, batchSizes)
    if (parts.isEmpty || parts.contains("append")) appendTable(spark, batchSizes)
    if (parts.isEmpty || parts.contains("idpairs")) idPairsTable(spark, sizes)
    spark.stop()
  }

  /** ms of `body` under the driver paths' caps `caps`. */
  private def timed(caps: DriverCaps)(body: => Unit): Double = {
    val t0 = System.nanoTime()
    ConnectedComponents.driverFinishCap.withValue(caps)(body)
    (System.nanoTime() - t0) / 1e6
  }

  /** One table row: 5 timed runs per side after each side is warmed
    * until two consecutive runs agree within 15% (at most 8 runs), the
    * driver path under `driver`'s caps, the distributed plan under
    * `distributed`'s; `fresh` runs untimed before each. A `warm` row
    * only warms and prints nothing.
    */
  private def row(label: String, driver: DriverCaps, distributed: DriverCaps,
                  warm: Boolean, fresh: () => Unit = () => ())(body: => Unit): Unit = {
    def med(x: Seq[Double]): Double = x.sorted.apply(x.size / 2)
    def run(caps: DriverCaps): Double = { fresh(); timed(caps)(body) }
    for (caps <- Seq(driver, distributed)) {
      var (last, next, tries) = (run(caps), run(caps), 2)
      while (math.abs(next - last) > 0.15 * math.max(next, last) && tries < 8) {
        last = next; next = run(caps); tries += 1
      }
    }
    if (!warm) {
      val runs = (1 to 5).map(_ => (run(driver), run(distributed)))
      val (d, l) = (runs.map(_._1), runs.map(_._2))
      println(f"[xo] $label%-28s driver_ms=${med(d)}%8.0f " +
        f"distributed_ms=${med(l)}%8.0f  driver=${d.map(_.round).mkString("/")} " +
        s"distributed=${l.map(_.round).mkString("/")}")
    }
  }

  private val defaults = ConnectedComponents.driverFinishCap.value

  /** A part's cases, led by its `first` ones flagged warm: they run
    * untimed before any timed row, so the first timed size is not still
    * warming.
    */
  private def withWarmUp[A](first: Seq[A], all: Seq[A]): Seq[(A, Boolean)] =
    first.map(_ -> true) ++ all.map(_ -> false)

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
    val cases = for (shape <- Seq("random", "paths"); e <- sizes) yield (shape, e)
    for (((shape, e), warm) <- withWarmUp(cases.filter(_._2 == sizes.head), cases)) {
      val (v, ed) = graph(shape, e)
      row(s"cc $shape edges=$e", defaults.copy(edges = Long.MaxValue),
        defaults.copy(edges = 0L), warm)(noop(ConnectedComponents.run(v, ed)))
    }
  }

  /** Seeded pseudo-word company names: an 8,000-name dictionary, and
    * batches that mix dictionary names, 1–2-edit variants of them and new
    * names.
    */
  private final class Names(seed: Int) {
    private val syllables = Seq("ka", "ro", "vel", "ti", "bra", "mun", "se", "dor",
      "li", "an", "zu", "pe", "gor", "ni", "sta", "wen")
    private def word(rnd: Random): String =
      (1 to 2 + rnd.nextInt(3)).map(_ => syllables(rnd.nextInt(syllables.size))).mkString
    private def name(rnd: Random): String =
      (1 to 1 + rnd.nextInt(3)).map(_ => word(rnd).capitalize).mkString(" ") +
        Seq(" GmbH", " Ltd", " AG", " SA")(rnd.nextInt(4))
    private def edit(rnd: Random, s: String): String = {
      val i = rnd.nextInt(s.length)
      rnd.nextInt(3) match {
        case 0 => s.substring(0, i) + s.substring(i + 1)
        case 1 => s.substring(0, i) + "x" + s.substring(i)
        case _ => s.substring(0, i) + "q" + s.substring(i + 1)
      }
    }
    val dict: IndexedSeq[String] = {
      val rnd = new Random(seed)
      (0 until 8000).map(_ => name(rnd))
    }
    /** n (id, name) rows, ids from 1,000,000 up, drawn from an RNG seeded
      * by n.
      */
    def batch(n: Long): Seq[(Long, String)] = {
      val rnd = new Random(n)
      (0L until n).map { i =>
        val base = dict(rnd.nextInt(dict.size))
        (1000000L + i, rnd.nextInt(4) match {
          case 0 => base
          case 1 => edit(rnd, base)
          case 2 => edit(rnd, edit(rnd, base))
          case _ => name(rnd)
        })
      }
    }
    /** n (id, name) rows, ids from 0 up: half new names, the rest exact
      * copies and 1–2-edit variants of earlier rows, drawn from an RNG
      * seeded by n.
      */
    def corpus(n: Long): IndexedSeq[(Long, String)] = {
      val rnd = new Random(n)
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
      for (i <- 0L until n) {
        def earlier = out(rnd.nextInt(out.size))._2
        out += ((i, if (out.isEmpty || rnd.nextBoolean()) name(rnd) else rnd.nextInt(3) match {
          case 0 => earlier
          case 1 => edit(rnd, earlier)
          case _ => edit(rnd, edit(rnd, earlier))
        }))
      }
      out.toIndexedSeq
    }
  }

  private def serveTable(spark: SparkSession, sizes: Seq[Long]): Unit = {
    import spark.implicits._
    val names = new Names(17)
    val corpus = names.dict.zipWithIndex.map { case (n, i) => (i.toLong, n) }
      .toDF("id", "name").localCheckpoint(true)
    val table = "driver_xo_var"
    val dir = java.nio.file.Files.createTempDirectory("driver_xo").toString
    EditDistanceJoin.writeVariantIndexBucketed(corpus, "id", "name", 2,
      s"$dir/var", table)
    val standing = ConnectedComponents.run(corpus.select("id"),
        EditDistanceJoin.idPairs(corpus, "id", "name", 2)
          .select(col("id_a").as("src"), col("id_b").as("dst")))
      .localCheckpoint(true)
    for ((n, warm) <- withWarmUp(sizes.take(1), sizes)) {
      val batch = names.batch(n).toDF("id", "name").localCheckpoint(true)
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
      row(s"reps rows=$n", driver, distributed, warm)(noop(
        EditDistanceJoin.repsAgainstIndexBucketed(batch, "id", "name", 2, table)))
      val e = ConnectedComponents.onStarLoop(edges())
      row(s"incrementalAssign edges=${e.count()}", driver, distributed, warm)(noop(
        ConnectedComponents.incrementalAssign(standing, batch.select("id"), e)))
    }
    Seq("postings", "keys", "members")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${table}_$t"))
  }

  private def appendTable(spark: SparkSession, sizes: Seq[Long]): Unit = {
    import spark.implicits._
    val names = new Names(17)
    val corpus = names.dict.zipWithIndex.map { case (n, i) => (i.toLong, n) }
      .toDF("id", "name").localCheckpoint(true)
    val dir = java.nio.file.Files.createTempDirectory("driver_xo_append").toString
    val (base, table) = ("driver_xo_base", "driver_xo_app")
    val variantTables = Seq("postings", "keys", "members")
    EditDistanceJoin.writeVariantIndexBucketed(corpus, "id", "name", 2,
      s"$dir/base/var", base)
    Dedup.writeKeyIndexBucketed(corpus, "name", s"$dir/base/key", s"${base}_key")
    val catalog = spark.sessionState.catalog
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(dir).getFileSystem(conf)
    var copies = 0
    /** `table`'s four tables re-registered over a fresh copy of the base
      * indexes' files (the variant tier's `meta` sidecar included).
      */
    def fresh(): Unit = {
      fs.delete(new Path(s"$dir/copy"), true)
      copies += 1
      val to = s"$dir/copy/$copies"
      for (sub <- Seq("var", "key"))
        FileUtil.copy(fs, new Path(s"$dir/base/$sub"), fs, new Path(s"$to/$sub"), false, conf)
      for ((from, at) <- variantTables.map(t => (t, s"var/$t")) :+ ("key" -> "key")) {
        val meta = catalog.getTableMetadata(TableIdentifier(s"${base}_$from"))
        val id = meta.identifier.copy(table = s"${table}_$from")
        catalog.dropTable(id, ignoreIfNotExists = true, purge = false)
        catalog.createTable(meta.copy(identifier = id,
          storage = meta.storage.copy(locationUri = Some(new Path(s"$to/$at").toUri))),
          ignoreIfExists = false)
      }
    }
    val dict = names.dict.toSet
    val (driver, distributed) =
      (defaults.copy(rows = Int.MaxValue - 1), defaults.copy(rows = 0))
    for ((n, warm) <- withWarmUp(sizes.take(1), sizes)) {
      val rows = names.batch(n)
      // the batch as a daily job reads it; its novel rows as the driver
      // holds them after the key serve
      val batch = rows.toDF("id", "name").localCheckpoint(true)
      val novel = rows.filterNot(r => dict(r._2)).toDF("id", "name")
      row(s"variant append rows=$n", driver, distributed, warm, () => fresh())(
        EditDistanceJoin.appendVariantIndexBucketed(batch, "id", "name", table))
      row(s"key append rows=$n (${novel.count()} novel)", driver, distributed,
        warm, () => fresh())(Dedup.appendKeyIndexBucketed(novel, "name", s"${table}_key"))
    }
    for (p <- Seq(base, table); t <- variantTables :+ "key")
      spark.sql(s"DROP TABLE IF EXISTS ${p}_$t")
    fs.delete(new Path(dir), true)
  }

  private def idPairsTable(spark: SparkSession, sizes: Option[Seq[Long]]): Unit = {
    import spark.implicits._
    val names = new Names(17)
    val (driver, distributed) =
      (defaults.copy(postings = Long.MaxValue), defaults.copy(postings = 0L))
    for ((d, rows) <- Seq(2 -> Seq(2000L, 5000L, 10000L, 20000L),
                          1 -> Seq(20000L, 50000L, 100000L, 200000L))) {
      val ns = sizes.getOrElse(rows)
      for ((n, warm) <- withWarmUp(ns.take(1), ns)) {
        val corpus = names.corpus(n)
        val postings = corpus.iterator
          .map(r => EditDistanceJoin.postingsOf(r._2.codePointCount(0, r._2.length), d)).sum
        val df = corpus.toDF("id", "name").localCheckpoint(true)
        row(f"idPairs maxDist=$d rows=$n postings=$postings (${postings / n} a row)",
          driver, distributed, warm)(noop(EditDistanceJoin.idPairs(df, "id", "name", d)))
      }
    }
  }
}
