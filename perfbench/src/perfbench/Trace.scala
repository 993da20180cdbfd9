package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.util.QueryExecutionListener

/** Records a named count on the enclosing span. */
trait Note { def apply(key: String, value: Double): Unit }

object Note {
  val none: Note = (_, _) => ()
}

/** One span: a named call into a library layer, timed on the caller's
  * thread. `group` is the Spark job group set for its duration, which
  * is how jobs, stages, tasks and query plans are attributed to it.
  */
final case class Span(name: String, group: String, parent: Option[String],
                      run: Int, startMs: Long, endMs: Long,
                      counts: Map[String, Double])

/** In-memory tracer. Spans are recorded on the caller's thread; a
  * SparkListener attributes jobs, stage intervals and task metrics to
  * the span whose job group they carry (threads started inside a span
  * inherit the group); a QueryExecutionListener attributes planning time
  * to the span during which the query was analyzed. Spans must not
  * overlap in time on the driver.
  * Spans stay in memory; the caller writes them out at the end.
  */
final class Tracer(spark: SparkSession) {
  private val sc: SparkContext = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var seq = 0
  private var current: Option[String] = None

  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val jobsEnded = ConcurrentHashMap.newKeySet[Int]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageWindows = new ConcurrentHashMap[Int, (Long, Long)]()
  // (analysis start, planning ms) per query: a QueryExecution's id is
  // not its SQL execution id, so plans are attributed by time instead
  private val plans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double)]()
  private final class Acc { var taskMs, gcMs, shuffleBytes = 0.0 }
  private val taskAcc = new ConcurrentHashMap[String, Acc]()
  @volatile private var lastEventMs = System.currentTimeMillis()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      lastEventMs = System.currentTimeMillis()
      val props = Option(e.properties)
      props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
        jobGroup.put(e.jobId, g)
        e.stageIds.foreach(stageGroup.putIfAbsent(_, g))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      lastEventMs = System.currentTimeMillis()
      jobsEnded.add(e.jobId)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      lastEventMs = System.currentTimeMillis()
      val i = e.stageInfo
      for (s <- i.submissionTime; c <- i.completionTime)
        stageWindows.put(i.stageId, (s, c))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val g = stageGroup.get(e.stageId)
      val m = e.taskMetrics
      if (g != null && m != null) {
        val a = taskAcc.computeIfAbsent(g, _ => new Acc)
        a.synchronized {
          a.taskMs += m.executorRunTime
          a.gcMs += m.jvmGCTime
          a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        }
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = Seq("analysis", "optimization", "planning").flatMap(qe.tracker.phases.get)
      if (phases.nonEmpty)
        plans.add((phases.map(_.startTimeMs).min, phases.map(_.durationMs.toDouble).sum))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(planListener)

  /** Time `body` as span `name` of operation `run`. Counts the body
    * reports through its [[Note]] argument are kept with the span.
    */
  def span[T](name: String, run: Int)(body: Note => T): T = {
    seq += 1
    val group = s"span-$seq"
    val parent = current
    val counts = mutable.LinkedHashMap.empty[String, Double]
    sc.setJobGroup(group, name, interruptOnCancel = false)
    current = Some(group)
    val t0 = System.currentTimeMillis()
    try body((k, v) => counts(k) = v)
    finally {
      val t1 = System.currentTimeMillis()
      current = parent
      parent match {
        case Some(p) => sc.setJobGroup(p, p, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
      spans += Span(name, group, parent, run, t0, t1, counts.toMap)
    }
  }

  /** Block until the listener bus has delivered every event of the
    * jobs seen so far, so attribution is complete before reading
    * [[layerMetrics]].
    */
  def drain(timeoutMs: Long = 15000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def settled = jobGroup.keySet.asScala.forall(jobsEnded.contains) &&
      System.currentTimeMillis() - lastEventMs > 300
    while (!settled && System.currentTimeMillis() < deadline) Thread.sleep(50)
  }

  def recorded: Seq[Span] = spans.toSeq

  /** Per-span-instance layer metrics: ms, jobs, task_ms, gc_ms,
    * shuffle_mb, plan_ms, gap_ms, plus the counts the span noted.
    */
  def layerMetrics(s: Span): Map[String, Double] = {
    val jobs = jobGroup.asScala.count(_._2 == s.group)
    val windows = stageGroup.asScala.collect {
      case (st, g) if g == s.group && stageWindows.containsKey(st) => stageWindows.get(st)
    }.toSeq.map { case (a, b) => (a.max(s.startMs), b.min(s.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    val covered = if (windows.isEmpty) 0L else {
      var total = 0L
      var (cs, ce) = windows.head
      windows.tail.foreach { case (a, b) =>
        if (a > ce) { total += ce - cs; cs = a; ce = b } else ce = ce.max(b)
      }
      total + (ce - cs)
    }
    val wall = (s.endMs - s.startMs).toDouble
    val acc = Option(taskAcc.get(s.group))
    val plan = plans.asScala.collect {
      case (t, ms) if t >= s.startMs && t <= s.endMs => ms
    }.sum
    Map(
      "ms" -> wall,
      "jobs" -> jobs.toDouble,
      "task_ms" -> acc.map(_.taskMs).getOrElse(0.0),
      "gc_ms" -> acc.map(_.gcMs).getOrElse(0.0),
      "shuffle_mb" -> acc.map(_.shuffleBytes / 1e6).getOrElse(0.0),
      "plan_ms" -> plan,
      "gap_ms" -> (wall - covered).max(0.0)) ++ s.counts
  }

  def close(): Unit = {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(planListener)
  }
}
