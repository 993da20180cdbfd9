package graft.tools

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** Writes `.explain("formatted")` for the named queries to
  * `<outDir>/<query>_<suffix>.txt` — the optimization-round evidence trail
  * (plans/r18, _before.txt and _after.txt). Args: outDir suffix name...
  * ("all" dumps every declared query). Data dir from SPARK_GRAFT_SF_DIR
  * (default sf0.1 — the bench's scale), cores from SPARK_GRAFT_CPUS so the
  * dumped plan is the bench session's plan shape (shuffle.partitions
  * included). Each query runs before its plan is dumped, so with AQE on
  * the dump is the final adaptive plan, the one that ran ([[formatted]]).
  */
object PlanDump {
  /** `.explain("formatted")` of the plan `df` runs: executes the frame's
    * OWN QueryExecution first (a noop write or count() would run a
    * separate one and leave this one at isFinalPlan=false).
    */
  def formatted(df: org.apache.spark.sql.DataFrame): String = {
    df.queryExecution.toRdd.foreach(_ => ())
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <suffix> <query...|all>")
    val outDir = java.nio.file.Paths.get(args(0))
    java.nio.file.Files.createDirectories(outDir)
    val suffix = args(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", graft.GraftLocalDir.path)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Graft.enableOptimizations(spark)
    val names =
      if (args.drop(2).sameElements(Array("all"))) SparkEntry.queries.keys.toSeq.sorted
      else args.drop(2).toSeq
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[plandump] unknown query: $name")
        case Some(fn) =>
          try {
            val txt = formatted(fn(spark, sfDir))
            java.nio.file.Files.write(outDir.resolve(s"${name}_$suffix.txt"),
              txt.getBytes("UTF-8"))
            println(s"[plandump] wrote ${name}_$suffix.txt")
          } catch { case e: Throwable =>
            System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
          }
      }
    }
    spark.stop()
  }
}
