package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.fs.{LocatedFileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.Graft
import graft.operators.{ConnectedComponents, Dedup, EditDistanceJoin, Linker}
import graft.pipeline.Etl
import graft.sources.Sinks

/** The benchmark's JVM program, one workload per process:
  *
  *   Main run <workload> <data> <work> <seconds> <trace 0|1> <result.json>
  *
  * Builds the session and runs its first job (set-up), then drives the
  * workload closed-loop from this one thread and writes per-operation
  * timings (and, traced, per-span layer metrics) to `result.json`.
  * Outputs go under `work` for the checker. Timestamps are epoch ms.
  */
object Main {

  def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Graft.enableOptimizations(spark)
    spark.range(0, 1000, 1, cpus).selectExpr("sum(id)").collect()
    spark
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "run" :: workload :: data :: work :: seconds :: trace :: result :: Nil =>
      val spark = session(work)
      val setupDone = System.currentTimeMillis()
      val bench = workload match {
        case "link_batch"  => new LinkBatch(spark, data, work)
        case "daily_serve" => new DailyServe(spark, data, work)
        case other => sys.error(s"unknown workload $other")
      }
      val out = bench.drive(seconds.toDouble, trace == "1")
      out("setup_done_ms") = setupDone
      out("peak_rss_mb") = peakRssMb()
      new ObjectMapper().registerModule(DefaultScalaModule)
        .writeValue(new File(result), out)
      spark.stop()
    case _ =>
      System.err.println("usage: Main run <workload> <data> <work> <seconds> " +
        "<trace> <result.json>")
      sys.exit(2)
  }

  /** Process high-water resident set (VmHWM), MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** Where a workload's calls go: plain calls (timed runs) or spans. */
sealed trait Layers {
  var run = 0
  def apply[T](name: String)(body: Note => T): T
  /** A span's output at its boundary: pinned and counted when traced,
    * left lazy otherwise. `planCounts` reads counts off the pinned plan.
    */
  def boundary(df: DataFrame, note: Note,
               planCounts: SparkPlan => Seq[(String, Double)] = _ => Nil): DataFrame
}

object Untraced extends Layers {
  def apply[T](name: String)(body: Note => T): T = body(Note.none)
  def boundary(df: DataFrame, note: Note,
               planCounts: SparkPlan => Seq[(String, Double)]): DataFrame = df
}

final class Traced(val tracer: Tracer) extends Layers {
  def apply[T](name: String)(body: Note => T): T = tracer.span(name, run)(body)
  def boundary(df: DataFrame, note: Note,
               planCounts: SparkPlan => Seq[(String, Double)]): DataFrame =
    Pinned(df, note, planCounts)
}

/** `df` materialized once (local checkpoint), with its row count read
  * off the same job and the executed plan kept for SQL metrics.
  */
final case class Pinned(df: DataFrame, rows: Long, plan: SparkPlan)

object Pinned extends AdaptiveSparkPlanHelper {
  def apply(df: DataFrame): Pinned = {
    val obs = org.apache.spark.sql.Observation()
    val observed = df.observe(obs, count(lit(1)).as("n"))
    val cp = observed.localCheckpoint(true)
    Pinned(cp, obs.get("n").asInstanceOf[Long], observed.queryExecution.executedPlan)
  }

  /** Pin `df`, noting its row count and the counts read off its plan. */
  def apply(df: DataFrame, note: Note,
            planCounts: SparkPlan => Seq[(String, Double)] = _ => Nil): DataFrame = {
    val p = apply(df)
    note("rows_out", p.rows.toDouble)
    planCounts(p.plan).foreach { case (k, v) => note(k, v) }
    p.df
  }

  /** Output rows of the joins keyed on the deletion-variant hash. */
  def variantJoinRows(plan: SparkPlan): Long =
    collect(plan) {
      case j: BaseJoinExec if j.leftKeys.exists(_.references.exists(_.name == "__v")) =>
        j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum
}

/** One timed operation (a pass, a batch or a publish) and what it
  * reported for the checker.
  */
final case class Op(kind: String, phase: String, run: Int, startMs: Long,
                    endMs: Long, fields: Map[String, Any], error: Option[String])

/** One workload: a closed loop of operations from one caller thread. */
abstract class Workload(val spark: SparkSession, val data: String, val work: String) {
  val ops = mutable.ArrayBuffer.empty[Op]
  private var runs = 0
  private var doneAt = 0L

  /** Ends the measured part of the current operation; what the body
    * does after it is bookkeeping for the checker.
    */
  def done(): Unit = doneAt = System.currentTimeMillis()

  /** Run one operation; failures are recorded, not thrown. */
  def timed(kind: String, phase: String, layers: Layers)(
      body: Int => Map[String, Any]): Unit = {
    runs += 1
    layers.run = runs
    doneAt = 0L
    val t0 = System.currentTimeMillis()
    val (fields, err) =
      try (body(runs), None)
      catch { case scala.util.control.NonFatal(e) =>
        (Map.empty[String, Any], Some(s"${e.getClass.getName}: ${e.getMessage}".take(500)))
      }
    val end = if (doneAt > 0) doneAt else System.currentTimeMillis()
    ops += Op(kind, phase, runs, t0, end, fields, err)
  }

  /** Untimed first operations ([[prepare]]) and warm-up, then
    * operations for `seconds`. Traced: a traced loop of the same length
    * follows, whose spans give the layer metrics.
    */
  def drive(seconds: Double, trace: Boolean): mutable.Map[String, Any] = {
    prepare()
    warmUp()
    loop("timed", seconds, Untraced)
    val out = mutable.LinkedHashMap.empty[String, Any]
    if (trace) {
      val tracer = new Tracer(spark)
      val traced = new Traced(tracer)
      loop("traced", seconds, traced)
      tracedLast(traced)
      tracer.drain()
      tracer.close()
      out("spans") = tracer.recorded.map { s =>
        Map("name" -> s.name, "run" -> s.run, "parent" -> s.parent.orNull,
          "start_ms" -> s.startMs, "end_ms" -> s.endMs,
          "metrics" -> tracer.layerMetrics(s))
      }
    }
    finish(out)
    out("ops") = ops.toSeq.map { o =>
      Map("kind" -> o.kind, "phase" -> o.phase, "run" -> o.run,
        "start_ms" -> o.startMs, "end_ms" -> o.endMs,
        "error" -> o.error.orNull) ++ o.fields
    }
    out
  }

  /** The JIT keeps speeding operations up for several after the first
    * (a link pass ran 12.7, 5.9, 5.1, 4.5, 4.2, 4.1 s; a daily batch 8.8,
    * 7.0, 7.0, 6.8, 6.2 s), so two run untimed before the window.
    */
  private def warmUp(): Unit =
    for (_ <- 1 to 2 if hasNext) step("warm", Untraced)

  /** Operations for `seconds`, and at least two, so that a slow run's
    * median is not one operation's wall.
    */
  private def loop(phase: String, seconds: Double, layers: Layers): Unit = {
    val t0 = System.currentTimeMillis()
    var n = 0
    while (((System.currentTimeMillis() - t0) / 1000.0 < seconds || n < 2) && hasNext) {
      step(phase, layers)
      n += 1
    }
  }

  def prepare(): Unit
  def tracedLast(layers: Layers): Unit = ()
  def hasNext: Boolean = true
  def step(phase: String, layers: Layers): Unit
  def finish(out: mutable.Map[String, Any]): Unit = ()

  /** Rows and bytes of a parquet directory tree, from file footers
    * (read in parallel: the tables gain files with every append).
    */
  def dirStats(dir: String): (Long, Long) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(dir)
    val it = root.getFileSystem(conf).listFiles(root, true)
    val files = mutable.ArrayBuffer.empty[LocatedFileStatus]
    while (it.hasNext) {
      val f = it.next()
      val n = f.getPath.getName
      if (n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")) files += f
    }
    val rows = files.asJava.parallelStream().mapToLong { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
      try r.getRecordCount finally r.close()
    }.sum()
    (rows, files.map(_.getLen).sum)
  }

  def edges(pairs: DataFrame): DataFrame =
    pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
}

/** The counterparty job end to end: payments CSV → Etl.extract →
  * Etl.transform (exact dedup on Name, IBAN; dense ids in ref order) →
  * lev<=2 id pairs → connected components → member sets; Etl.load
  * writes the deduplicated accounts and the clusters.
  */
final class LinkBatch(spark: SparkSession, data: String, work: String)
    extends Workload(spark, data, work) {
  private val csv = s"$data/payments.csv"

  def prepare(): Unit = step("cold", Untraced)

  def step(phase: String, layers: Layers): Unit =
    timed("pass", phase, layers) { run =>
      val out = s"$work/out/link_$run"
      layers("etl.extract") { _ => Etl.extract(spark, csv) }
      // The transform keeps an arbitrary survivor per key and numbers the
      // survivors; its output feeds four consumers, so it is pinned once.
      val accounts = layers("etl.transform") { note =>
        Pinned(Etl.transform(spark, Seq("Name", "IBAN"), "ref"), note)
      }
      val pairs = layers("edjoin.id_pairs") { note =>
        layers.boundary(EditDistanceJoin.idPairs(accounts, "id", "Name", 2), note,
          plan => Seq("candidates" -> Pinned.variantJoinRows(plan).toDouble))
      }
      val comp = layers("cc.run") { _ =>
        layers.boundary(ConnectedComponents.run(accounts.select("id"), edges(pairs)), Note.none)
      }
      val clusters = layers("linker.group_collect") { note =>
        val members = comp.join(accounts.select("id", "Name"), "id")
          .withColumn("member_id", col("id").cast("string"))
        layers.boundary(Linker.groupCollect(members, "component",
          Seq("member_id" -> "member_ids", "Name" -> "member_names")), note)
      }
      layers("etl.load") { _ =>
        val sink = new Sinks.ParquetDirSink(out)
        Etl.load(accounts, sink, "accounts")
        Etl.load(clusters, sink, "clusters")
      }
      Map("out" -> out)
    }
}

/** Standing publish over a corpus, then daily batches: serve (novelty
  * against the key index, labels against the variant index and the
  * standing components) and fold (republish labels, append both
  * indexes).
  */
final class DailyServe(spark: SparkSession, data: String, work: String)
    extends Workload(spark, data, work) {
  private val idx = s"$work/index"
  private val batches = new File(data).list().filter(_.startsWith("batch_")).sorted
  private var next = 0
  private var standing = ""
  private val novelSchema = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType)))

  // batches are served by generation 1 of the standing tables
  private val servedDir = s"$idx/g1"
  private val varTbl = "var_g1"
  private val keyTbl = "key_g1"

  def prepare(): Unit = publish("publish", Untraced, 1)

  /** Traced: after the traced batches, a second publish over the corpus
    * and the batches so far, under fresh names, so the one-shot publish
    * spans are measured too. Traced and timed batches are then served
    * by the same index, a few appends apart.
    */
  override def tracedLast(layers: Layers): Unit = publish("traced", layers, 2)

  private def publish(phase: String, layers: Layers, generation: Int): Unit =
    timed("publish", phase, layers) { run =>
      val dir = s"$idx/g$generation"
      val corpus = spark.read.parquet(s"$data/corpus.parquet")
      val withBatches = (Seq(corpus) ++ batches.take(next).toSeq
        .map(b => spark.read.parquet(s"$data/$b"))).reduce(_ unionByName _)
      layers("edjoin.index_write") { _ =>
        EditDistanceJoin.writeVariantIndexBucketed(withBatches, "id", "name", 1,
          s"$dir/var", s"var_g$generation")
      }
      layers("dedup.index_write") { _ =>
        Dedup.writeKeyIndexBucketed(withBatches, "name", s"$dir/key", s"key_g$generation")
      }
      val pairs = layers("edjoin.id_pairs") { note =>
        layers.boundary(EditDistanceJoin.idPairs(withBatches, "id", "name", 1), note)
      }
      val labels = s"$dir/standing_0"
      layers("cc.run") { _ =>
        ConnectedComponents.run(withBatches.select("id"), edges(pairs))
          .write.parquet(labels)
      }
      done()
      if (generation == 1) standing = labels
      indexCounts(dir) + ("standing" -> labels)
    }

  override def hasNext: Boolean = next < batches.length

  def step(phase: String, layers: Layers): Unit = {
    val name = batches(next)
    next += 1
    timed("batch", phase, layers) { run =>
      val t0 = System.currentTimeMillis()
      val batch = spark.read.parquet(s"$data/$name")
      val verts = batch.select("id")
      val prev = spark.read.parquet(standing)
      // serve: novelty against the key index, labels against the
      // variant index and the standing components
      val novel = layers("dedup.index_serve") { note =>
        val rows = Dedup.incrementalAgainstIndex(batch, "name", keyTbl)
          .select(col("id").cast("long"), col("name")).collect()
        note("rows_out", rows.length.toDouble)
        rows
      }
      // the fold reuses the serve's edges, so they are pinned once
      val batchEdges = layers("edjoin.index_serve") { note =>
        Pinned(
          EditDistanceJoin.repsAgainstIndexBucketed(batch, "id", "name", 1, varTbl)
            .select(col("left_id").as("src"), col("right_rep_id").as("dst"))
            .unionByName(edges(EditDistanceJoin.idPairs(batch, "id", "name", 1))),
          note)
      }
      val labels = layers("cc.assign") { _ =>
        ConnectedComponents.incrementalAssign(prev, verts, batchEdges).collect()
      }
      val serveMs = System.currentTimeMillis() - t0
      // fold: republish the labels, then append the batch to both indexes
      val nextStanding = s"$servedDir/standing_$run"
      layers("cc.republish") { _ =>
        ConnectedComponents.mergeRepublish(prev, verts, batchEdges)
          .write.parquet(nextStanding)
      }
      layers("edjoin.index_append") { _ =>
        EditDistanceJoin.appendVariantIndexBucketed(batch, "id", "name", varTbl)
      }
      layers("dedup.index_append") { _ =>
        val rows = java.util.Arrays.asList(novel: _*)
        Dedup.appendKeyIndexBucketed(spark.createDataFrame(rows, novelSchema), "name", keyTbl)
      }
      done()
      val foldMs = System.currentTimeMillis() - t0 - serveMs
      val labelFile = s"$work/out/labels_$run.tsv"
      new File(s"$work/out").mkdirs()
      Files.write(Paths.get(labelFile),
        labels.map(r => s"${r.getLong(0)}\t${r.getLong(1)}").mkString("\n")
          .getBytes(StandardCharsets.UTF_8))
      standing = nextStanding
      indexCounts(servedDir) ++ Map("batch" -> name, "serve_ms" -> serveMs,
        "fold_ms" -> foldMs, "labels" -> labelFile, "novel" -> novel.length)
    }
  }

  /** Row counts of the standing tables, read from parquet footers. */
  private def indexCounts(dir: String): Map[String, Any] =
    Map("key_rows" -> dirStats(s"$dir/key")._1,
      "var_key_rows" -> dirStats(s"$dir/var/keys")._1,
      "member_rows" -> dirStats(s"$dir/var/members")._1)

  /** Size of the served standing tables after the last fold. */
  override def finish(out: mutable.Map[String, Any]): Unit = {
    val tables = Seq(s"$servedDir/var", s"$servedDir/key", standing).map(dirStats)
    out("index_bytes") = tables.map(_._2).sum
    out("index_rows") = dirStats(s"$servedDir/var/members")._1
    out("files_per_bucket") = graft.sources.Layout.filesPerBucket(spark, s"${varTbl}_postings")
  }
}
