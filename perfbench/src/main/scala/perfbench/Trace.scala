package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{Success => TaskSuccess}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorder. A `SparkListener` and a
  * `QueryExecutionListener`, both attached from outside the program,
  * collect jobs, stages, task metrics and executed plans while an op
  * runs; the op id travels as the job group, so jobs started while the
  * op constructs its plan (and on pool threads, which inherit local
  * properties) land on the op. Spans stay in memory until the run ends.
  */
final class Trace(spark: SparkSession) {
  import Trace._

  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val stages = new java.util.concurrent.ConcurrentHashMap[(Int, Int), Stage]()
  private val plans = new ConcurrentLinkedQueue[Plan]()
  // SQL execution id -> long call site of the Dataset action behind it.
  private val executionSites = new java.util.concurrent.ConcurrentHashMap[Long, String]()

  private val listener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => executionSites.put(s.executionId, s.details)
      case _ =>
    }
    // A job's own call site is lost when adaptive execution starts it
    // from a pool thread; the SQL execution it belongs to keeps the
    // call site of the action.
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      val site = prop("spark.sql.execution.id").flatMap(id => Option(executionSites.get(id.toLong)))
        .orElse(e.stageInfos.sortBy(-_.stageId).headOption.map(_.details)).getOrElse("")
      jobs.add(Job(e.jobId, prop("spark.jobGroup.id").getOrElse(""), e.time, e.stageIds,
        module(site)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.asScala.find(_.id == e.jobId).foreach { j =>
        j.end = e.time
        j.ok = e.jobResult == JobSucceeded
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val i = e.stageInfo
      stage(i.stageId, i.attemptNumber()).submit = i.submissionTime.getOrElse(0L)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val s = stage(i.stageId, i.attemptNumber())
      s.end = i.completionTime.getOrElse(0L)
      s.name = i.name
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stage(e.stageId, e.stageAttemptId)
      s.synchronized {
        s.tasks += 1
        if (e.reason != TaskSuccess) s.taskFailures += 1
        val m = e.taskMetrics
        if (m != null) {
          s.runMs += m.executorRunTime
          s.cpuNs += m.executorCpuTime
          s.gcMs += m.jvmGCTime
          s.spill += m.diskBytesSpilled
          s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          s.scanBytes += m.inputMetrics.bytesRead
          s.scanRecords += m.inputMetrics.recordsRead
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
      plans.add(plan(qe))
    override def onFailure(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution, error: Exception): Unit =
      plans.add(plan(qe))
  }

  private def stage(id: Int, attempt: Int): Stage =
    stages.computeIfAbsent((id, attempt), _ => new Stage(id, attempt))

  private var attached = false

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    attached = true
  }

  /** Waits for the bus to deliver every event of the finished op, then
    * stops listening. */
  def detach(): Unit = if (attached) {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    attached = false
  }

  /** The finished op's jobs (by job group), their stages, and the plans
    * executed since the previous op. */
  def collect(op: OpSpan): OpTrace = {
    val mine = jobs.asScala.filter(_.group == op.id).toSeq
    jobs.removeIf(_.group == op.id)
    val stageIds = mine.flatMap(_.stageIds).toSet
    val st = stages.values.asScala.filter(s => stageIds(s.id)).toSeq
    stages.values.removeIf(s => stageIds(s.id))
    val ps = Iterator.continually(plans.poll()).takeWhile(_ != null).toSeq
    OpTrace(op, mine.sortBy(_.start), st.sortBy(s => (s.id, s.attempt)), ps)
  }
}

object Trace {
  final case class Job(id: Int, group: String, start: Long, stageIds: Seq[Int],
                       module: String) {
    @volatile var end: Long = 0L
    @volatile var ok: Boolean = false
  }

  final class Stage(val id: Int, val attempt: Int) {
    @volatile var submit = 0L
    @volatile var end = 0L
    @volatile var name = ""
    var tasks = 0L
    var taskFailures = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var spill = 0L
    var peakMem = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var fetchWaitMs = 0L
    var scanBytes = 0L
    var scanRecords = 0L
  }

  final case class Plan(planMs: Long, phases: Seq[(String, Long, Long)],
                        shape: Map[String, Long])

  /** One op's wall-clock phases, in epoch milliseconds. */
  final case class OpSpan(id: String, name: String, start: Long,
                          constructEnd: Long, end: Long)

  final case class OpTrace(op: OpSpan, jobs: Seq[Job], stages: Seq[Stage],
                           plans: Seq[Plan])

  private val PlanPhases = Set("analysis", "optimization", "planning")

  private def plan(qe: org.apache.spark.sql.execution.QueryExecution): Plan = {
    val phases = qe.tracker.phases.toSeq
      .filter { case (name, _) => PlanPhases(name) }
      .map { case (name, p) => (name, p.startTimeMs, p.endTimeMs) }
    val counts = mutable.Map[String, Long]().withDefaultValue(0L)
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: QueryStageExec => walk(s.plan)
        case other =>
          shapeKey(other).foreach(k => counts(k) += 1)
          other match {
            case f: FileSourceScanExec =>
              f.metrics.get("numPartitions").foreach(m => counts("scan_partitions") += m.value)
            case _ =>
          }
          other.children.foreach(walk)
          other.subqueries.foreach(walk)
      }
    }
    try walk(qe.executedPlan) catch { case _: Throwable => () }
    Plan(phases.map(p => p._3 - p._2).sum, phases, counts.toMap)
  }

  private def shapeKey(p: SparkPlan): Option[String] = p.nodeName match {
    case "Exchange" => Some("exchanges")
    case "BroadcastNestedLoopJoin" | "CartesianProduct" => Some("bnl_joins")
    case "BroadcastHashJoin" => Some("broadcast_joins")
    case "SortMergeJoin" => Some("sort_merge_joins")
    case n if n.startsWith("WholeStageCodegen") => Some("codegen_stages")
    case _ => None
  }

  private val Frame = """\b(graft\.[\w.$]+)\(([\w]+)\.scala:\d+\)""".r

  /** The repo source file named first in a job's call site; empty when
    * the call site has no repo frame (the benchmark's own fetch, or a job
    * Spark starts on its own threads). */
  def module(site: String): String =
    Frame.findFirstMatchIn(site).map(_.group(2)).getOrElse("")
}
