package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** The executed-plan scan-metric walker shared by the dev measurement
  * tools (ScaleProbe's lifecycle probes, IvfSq8Tune, PqServeSweep;
  * earlier DppCheck, round 14) — one
  * home for the AQE node unwrapping, so a Spark-version change to the
  * wrapper shapes is one edit (round-17 review: four verbatim copies
  * had accumulated across the tools). Read metrics only AFTER executing
  * the df's own plan (collect, not count — count() runs a separate
  * execution and leaves these metrics at zero; the trap DppCheck hit in
  * round 14).
  */
object PlanScans {
  def allScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => allScans(a.executedPlan)
    case q: QueryStageExec => allScans(q.plan)
    case s: FileSourceScanExec => Seq(s)
    case other => other.children.flatMap(allScans)
  }

  /** (numFiles, bytes) planned for the scans whose root path ends with
    * `suffix`, off the EXECUTED plan of an already-collected df.
    */
  def scanOf(df: DataFrame, suffix: String): (Long, Long) =
    scanOf(df.queryExecution.executedPlan, suffix)

  /** The same off an executed plan, e.g. a noop-sink write's. */
  def scanOf(plan: SparkPlan, suffix: String): (Long, Long) = {
    val scans = allScans(plan)
      .filter(_.relation.location.rootPaths.exists(_.toString.endsWith(suffix)))
    (scans.flatMap(_.metrics.get("numFiles").map(_.value)).sum,
      scans.flatMap(_.metrics.get("filesSize").map(_.value)).sum)
  }
}
