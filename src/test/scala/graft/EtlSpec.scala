package graft

import java.nio.file.Files

import graft.pipeline.Etl
import graft.sources.{Csv, Sinks}
import org.apache.spark.sql.functions._

class EtlSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private lazy val csvDir = {
    val d = tmpDir("graft_csv")
    Seq(("1", "Acme GmbH", "DE1"), ("2", "Acme GmbH", "DE1"), ("3", "Beta AG", "DE2"))
      .toDF("pk", "Name", "IBAN")
      .coalesce(1).write.mode("overwrite").option("header", true).csv(d)
    d
  }

  test("CSV sources: all-string, format API, inferred, glob, column guard") {
    val s1 = Csv.readAllString(spark, csvDir)
    assert(s1.schema.fields.forall(_.dataType.typeName == "string"))
    assert(Csv.readFormat(spark, csvDir).count() == 3)
    val s3 = Csv.readInferred(spark, csvDir)
    assert(s3.schema("pk").dataType.typeName != "string")   // inferred as int
    assert(Csv.readDirectory(spark, csvDir).count() == 3)
    Csv.requireColumns(s1, Seq("name", "iban"))             // case-insensitive ok
    val e = intercept[IllegalArgumentException] {
      Csv.requireColumns(s1, Seq("name", "missing_col"))
    }
    assert(e.getMessage.contains("missing_col"))
  }

  test("ETL run: extract -> temp-view -> transform dedup+id -> sink") {
    val root = tmpDir("graft_sink")
    val sink = new Sinks.ParquetDirSink(root)
    val out = Etl.run(spark, csvDir, Seq("Name", "IBAN"), "pk", sink, "tbltest")
    assert(out.count() == 2)
    assert(out.select("id").as[Long].collect().sorted.toSeq == Seq(0L, 1L))
    val loaded = spark.read.parquet(s"$root/tbltest")
    assert(loaded.count() == 2)
  }

  test("loadWithMetrics: observed metrics equal direct recomputation, one scan") {
    val root = tmpDir("graft_obs_sink")
    val sink = new Sinks.ParquetDirSink(root)
    val df = Tables.orders(spark, sf0001).select(col("o_orderkey"),
      when(col("o_orderkey") % 11 === 0, lit(null).cast("long"))
        .otherwise(col("o_custkey")).as("custkey"))
    val metrics = Etl.loadWithMetrics(df, sink, "obs_tbl", Seq("custkey"))
    assert(metrics("n_rows") == df.count())
    assert(metrics("n_null_custkey") == df.filter(col("custkey").isNull).count())
    // the sink got the data unchanged
    assert(spark.read.parquet(s"$root/obs_tbl").count() == df.count())
  }

  test("withDeterministicId: dense, ordered, stable across reruns") {
    val df = Tables.orders(spark, sf0001)
    val a = Etl.withDeterministicId(df, "o_orderkey")
      .select("o_orderkey", "id").as[(Long, Long)].collect().sortBy(_._1)
    val b = Etl.withDeterministicId(df, "o_orderkey")
      .select("o_orderkey", "id").as[(Long, Long)].collect().sortBy(_._1)
    assert(a.toSeq == b.toSeq)
    assert(a.map(_._2).toSeq == a.indices.map(_.toLong))   // dense 0..n-1 in key order
  }

  test("withDeterministicId replaces an existing id column in place") {
    val df = Seq((10L, "b", 5), (20L, "a", 3), (30L, "c", 4)).toDF("id", "name", "ord")
    val byOrd = Etl.withDeterministicId(df, "ord")
    assert(byOrd.columns.toSeq == Seq("id", "name", "ord"))
    assert(byOrd.select("name", "id").as[(String, Long)].collect().toMap ==
      Map("a" -> 0L, "c" -> 1L, "b" -> 2L))
    // the order column may be the id being replaced
    assert(Etl.withDeterministicId(df, "id").select("name", "id")
      .as[(String, Long)].collect().toMap == Map("b" -> 0L, "a" -> 1L, "c" -> 2L))
    // the ETL transform over a CSV that carries its own id column
    val d = tmpDir("graft_csv_id")
    Seq((7, "Acme GmbH", "DE1"), (3, "Acme GmbH", "DE1"), (5, "Beta AG", "DE2"))
      .toDF("id", "Name", "IBAN")
      .coalesce(1).write.mode("overwrite").option("header", true).csv(d)
    Etl.extract(spark, d)
    val out = Etl.transform(spark, Seq("Name", "IBAN"), "id")
    assert(out.columns.toSeq == Seq("id", "Name", "IBAN"))
    assert(out.select("id").as[Long].collect().sorted.toSeq == Seq(0L, 1L))
  }

  test("console sink (K5): show and printSchema run") {
    val df = Csv.readAllString(spark, csvDir)
    df.printSchema()
    df.show(5, truncate = false)
  }

  test("sinks: single-file CSV and parallel CSV") {
    val d1 = tmpDir("graft_out1")
    Sinks.writeSingleCsv(Seq((1, "a")).toDF("k", "v"), s"$d1/one")
    val files = new java.io.File(s"$d1/one").listFiles.filter(_.getName.endsWith(".csv"))
    assert(files.length == 1)
    val d2 = tmpDir("graft_out2")
    Sinks.writeCsv(Seq((1, "a")).toDF("k", "v"), s"$d2/many")
    assert(spark.read.option("header", true).csv(s"$d2/many").count() == 1)
  }

  test("sinks: CSV roundtrip preserves leading/trailing whitespace") {
    // Spark's writer trims whitespace by default; the sinks disable that.
    val d = tmpDir("graft_out_ws")
    Sinks.writeSingleCsv(Seq((1, "  padded  ")).toDF("k", "v"), s"$d/ws")
    val back = Csv.readAllString(spark, s"$d/ws").collect()
    assert(back.head.getString(1) == "  padded  ")
  }

  test("JDBC sink (K3/K4): append and truncate-overwrite via embedded Derby") {
    // Real JDBC end-to-end: Derby ships in /opt/spark/jars, so append and
    // overwrite exercise the actual Spark JDBC writer, not the parquet
    // stand-in.
    val url = s"jdbc:derby:${tmpDir("graft_derby")}/db;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val sink = new Sinks.JdbcSink(url, props)
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    sink.append(df, "t_jdbc")             // creates the table
    sink.append(df, "t_jdbc")             // K3: append accumulates
    assert(spark.read.jdbc(url, "t_jdbc", props).count() == 4)
    sink.overwrite(df, "t_jdbc")          // K4: truncate keeps schema
    val back = spark.read.jdbc(url, "t_jdbc", props)
    assert(back.count() == 2)
    assert(back.columns.sorted.toSeq == Seq("id", "name"))
  }

  test("jdbcRoundTrip: exactly two copies of the aggregate, run after run") {
    val orders = Seq(
      (1L, "O", 10.004), (2L, "O", 20.0), (3L, "F", 5.5)
    ).toDF("o_orderkey", "o_orderstatus", "o_totalprice")
    // twice in one JVM: the truncate-overwrite must reset prior state
    Etl.jdbcRoundTrip(spark, orders)
    val out = Etl.jdbcRoundTrip(spark, orders).orderBy("o_orderstatus")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(out == Seq(("F", 2L, 2L, 1100L), ("O", 2L, 4L, 6000L)))
  }

  test("ETL run (O1): a stage that fails once succeeds on retry") {
    val root = tmpDir("graft_flaky")
    val delegate = new Sinks.ParquetDirSink(root)
    var failures = 0
    val flaky = new Sinks.RelationalSink {
      def append(df: org.apache.spark.sql.DataFrame, table: String): Unit =
        delegate.append(df, table)
      def overwrite(df: org.apache.spark.sql.DataFrame, table: String): Unit = {
        if (failures == 0) { failures += 1; sys.error("transient sink outage") }
        delegate.overwrite(df, table)
      }
    }
    val out = Etl.run(spark, csvDir, Seq("Name", "IBAN"), "pk", flaky, "t_retry",
      retries = 3, retryDelayMs = 1L)
    assert(failures == 1)                 // failed once, then recovered
    assert(out.count() == 2)
    assert(spark.read.parquet(s"$root/t_retry").count() == 2)
    // exhausted retries propagate the failure
    val alwaysDown = new Sinks.RelationalSink {
      def append(df: org.apache.spark.sql.DataFrame, table: String): Unit = ()
      def overwrite(df: org.apache.spark.sql.DataFrame, table: String): Unit =
        sys.error("permanent outage")
    }
    intercept[RuntimeException] {
      Etl.run(spark, csvDir, Seq("Name", "IBAN"), "pk", alwaysDown, "t_dead",
        retries = 2, retryDelayMs = 1L)
    }
  }

  test("ETL retry (O1): fatal errors propagate immediately, without retry") {
    // VM errors: retrying inside a dying JVM is never safe.
    var oomAttempts = 0
    intercept[OutOfMemoryError] {
      Etl.retry[Unit](retries = 3, delayMs = 1L) {
        oomAttempts += 1; throw new OutOfMemoryError("simulated")
      }
    }
    assert(oomAttempts == 1)
    // Interrupts: a cancelled stage must not be silently re-run.
    var intAttempts = 0
    intercept[InterruptedException] {
      Etl.retry[Unit](retries = 3, delayMs = 1L) {
        intAttempts += 1; throw new InterruptedException("simulated")
      }
    }
    assert(intAttempts == 1)
  }
}
