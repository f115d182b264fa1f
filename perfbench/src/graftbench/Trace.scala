package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/**
 * Outside-in tracing: spans around the benchmark's calls into graft, plus
 * a SparkListener (jobs, tasks, bytes) and a QueryExecutionListener
 * (Catalyst phase times, scanned files). Everything stays in memory and
 * is handed to the result file at the end; attribution to layers and
 * self times are computed by the Python side (`perfbench/stats.py`).
 *
 * Jobs carry the innermost open span's id as the local property
 * `graftbench.span` (inherited by threads graft starts underneath), and
 * graft's own `graft:<pipeline>:<node>` job group when a pipeline node
 * runs them.
 */
object Tracer {
  val SpanProperty = "graftbench.span"

  @volatile var enabled = false
  @volatile private var runId = -1

  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  val spans = new ConcurrentLinkedQueue[Map[String, Any]]()

  private val t0Nanos = System.nanoTime()
  private val t0Millis = System.currentTimeMillis().toDouble
  /** Epoch milliseconds with sub-millisecond resolution, on the same
    * clock as Spark's listener event times. */
  def nowMs: Double = t0Millis + (System.nanoTime() - t0Nanos) / 1e6

  def beginRun(id: Int): Unit = runId = id

  def current: Option[Long] = stack.get.headOption

  /** Run `body` inside a span named after the layer it calls into. With
    * tracing off this is just `body`. */
  def span[T](spark: SparkSession, name: String)(body: => T): T =
    spanAttrs(spark, name)(body)(_ => Map.empty)

  /** [[span]] whose attributes are read off the body's result. */
  def spanAttrs[T](spark: SparkSession, name: String)(body: => T)(
      attrs: T => Map[String, Any]): T = {
    if (!enabled) return body
    val id = ids.incrementAndGet()
    val parent = current
    val sc = spark.sparkContext
    val prevProp = sc.getLocalProperty(SpanProperty)
    stack.set(id :: stack.get)
    sc.setLocalProperty(SpanProperty, id.toString)
    val start = nowMs
    var extra = Map.empty[String, Any]
    try {
      val r = body
      extra = attrs(r)
      r
    } finally {
      val end = nowMs
      stack.set(stack.get.tail)
      sc.setLocalProperty(SpanProperty, prevProp)
      spans.add(Map("id" -> id, "parent" -> parent.getOrElse(null), "name" -> name,
        "start" -> start, "end" -> end, "run" -> runId, "attrs" -> extra))
    }
  }

  /** A span measured by graft itself (a pipeline node's `NodeResult`):
    * duration only; the analysis places it under `parent`. */
  def syntheticSpan(name: String, parent: Option[Long], durationMs: Double,
                    attrs: Map[String, Any]): Unit =
    if (enabled) spans.add(Map("id" -> ids.incrementAndGet(), "parent" -> parent.getOrElse(null),
      "name" -> name, "duration" -> durationMs, "run" -> runId, "attrs" -> attrs))

  def runNow: Int = runId
}

/** Jobs with their task totals, keyed by job id, and the SQL executions
  * (with graft's job group, when a node started them). */
final class JobListener extends SparkListener {
  val executions = new ConcurrentLinkedQueue[Map[String, Any]]()
  /** QueryExecution -> its SQL execution id (QueryExecution has identity
    * equality), from the execution-end events. */
  val executionOf = new ConcurrentHashMap[QueryExecution, java.lang.Long]()

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart if Tracer.enabled =>
      executions.add(Map("exec_id" -> e.executionId.toString,
        "root_id" -> e.rootExecutionId.map(_.toString).orNull,
        "group" -> e.jobGroupId.orNull, "start" -> e.time.toDouble, "run" -> Tracer.runNow))
    case e: SparkListenerSQLExecutionEnd if Tracer.enabled =>
      org.apache.spark.sql.graftbench.SqlEnd.queryExecution(e)
        .foreach(qe => executionOf.put(qe, java.lang.Long.valueOf(e.executionId)))
    case _ =>
  }

  private val stageToJob = new ConcurrentHashMap[Int, Integer]()
  private val jobs = new ConcurrentHashMap[Int, Array[Double]]()
  private val meta = new ConcurrentHashMap[Int, Map[String, Any]]()

  // index into the per-job array
  private val Start = 0; private val End = 1; private val Tasks = 2; private val ExecMs = 3
  private val InBytes = 4; private val ShufBytes = 5; private val SpillBytes = 6; private val OutBytes = 7

  override def onJobStart(js: SparkListenerJobStart): Unit = if (Tracer.enabled) {
    val p = Option(js.properties)
    def prop(k: String) = p.map(_.getProperty(k)).orNull
    val arr = new Array[Double](8)
    arr(Start) = js.time.toDouble
    jobs.put(js.jobId, arr)
    meta.put(js.jobId, Map("id" -> js.jobId, "group" -> prop("spark.jobGroup.id"),
      "span" -> prop(Tracer.SpanProperty), "exec_id" -> prop("spark.sql.execution.id"),
      "run" -> Tracer.runNow))
    js.stageIds.foreach(s => stageToJob.put(s, Integer.valueOf(js.jobId)))
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = {
    val arr = jobs.get(je.jobId)
    if (arr != null) arr.synchronized { arr(End) = je.time.toDouble }
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val job = stageToJob.get(te.stageId)
    val arr = if (job == null) null else jobs.get(job.intValue)
    val m = te.taskMetrics
    if (arr != null && m != null) arr.synchronized {
      arr(Tasks) += 1
      arr(ExecMs) += m.executorRunTime
      arr(InBytes) += m.inputMetrics.bytesRead
      arr(ShufBytes) += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      arr(SpillBytes) += m.memoryBytesSpilled + m.diskBytesSpilled
      arr(OutBytes) += m.outputMetrics.bytesWritten
    }
  }

  def records: Seq[Map[String, Any]] = jobs.asScala.toSeq.sortBy(_._1).map { case (id, a) =>
    a.synchronized {
      meta.get(id) ++ Map("start" -> a(Start), "end" -> (if (a(End) > 0) a(End) else a(Start)),
        "tasks" -> a(Tasks).toLong, "executor_ms" -> a(ExecMs), "input_bytes" -> a(InBytes).toLong,
        "shuffle_bytes" -> a(ShufBytes).toLong, "spill_bytes" -> a(SpillBytes).toLong,
        "bytes_written" -> a(OutBytes).toLong)
    }
  }
}

/** Catalyst phase times and scanned-file counts per SQL execution. */
final class PhaseListener extends QueryExecutionListener {
  val queries = new ConcurrentLinkedQueue[(QueryExecution, Map[String, Any])]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (Tracer.enabled) {
      val phases = qe.tracker.phases.map { case (k, v) =>
        k -> Map("start" -> v.startTimeMs, "end" -> v.endTimeMs) }
      val files = Listeners.filesScanned(qe.executedPlan)
      queries.add(qe -> Map("func" -> funcName, "phases" -> phases,
        "files_scanned" -> files, "duration_ms" -> durationNs / 1e6, "run" -> Tracer.runNow))
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

object Listeners {
  private def scans(plan: SparkPlan): Seq[FileSourceScanExec] = plan match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case s: FileSourceScanExec => Seq(s)
    case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
  }

  /** Files the executed plan's scans read (their `numFiles` SQL metric). */
  def filesScanned(plan: SparkPlan): Long =
    scans(plan).flatMap(_.metrics.get("numFiles")).map(_.value).sum

  private var jobs: Option[JobListener] = None
  private var phases: Option[PhaseListener] = None

  def install(spark: SparkSession): Unit = {
    val j = new JobListener
    val p = new PhaseListener
    spark.sparkContext.addSparkListener(j)
    spark.listenerManager.register(p)
    jobs = Some(j); phases = Some(p)
  }

  /** Drain the listener buses so every event of the run is counted. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.graftbench.BusDrain(spark.sparkContext)

  def jobRecords: Seq[Map[String, Any]] = jobs.map(_.records).getOrElse(Nil)
  def executionRecords: Seq[Map[String, Any]] =
    jobs.map(_.executions.asScala.toSeq).getOrElse(Nil)
  def queryRecords: Seq[Map[String, Any]] = phases.map(_.queries.asScala.toSeq.map {
    case (qe, m) => m + ("exec_id" -> jobs.flatMap(j => Option(j.executionOf.get(qe)))
      .map(_.toString).orNull)
  }).getOrElse(Nil)
}
