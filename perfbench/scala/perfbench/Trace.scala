package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Layer trace, registered only for `--trace 1` runs.
  *
  * Jobs are attributed to an operation by the job group the harness sets
  * around it (`spark.jobGroup.id`); SQL executions by the job group their
  * start event carries. Per job it keeps the submit/end times, stage and
  * task counts, summed task metrics, the call site of its result stage
  * (the innermost user frame, i.e. the graft source file that ran it) and
  * its SQL execution. Per SQL execution it keeps the first graft frame of
  * the stack that started it (the call site of jobs Spark runs on its own
  * threads), the planning phases from `QueryExecution.tracker` and the
  * files its scans read; `executed` adds the same for a plan the harness
  * runs itself.
  */
final class Trace(spark: SparkSession) extends SparkListener {
  final class Job(val id: Int, val group: String, val submitMs: Long,
      val callSite: String, val stages: Seq[Int], val execId: Long) {
    @volatile var endMs: Long = -1L
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var inputBytes = 0L
  }
  final class Exec(val id: Long, val group: String, val site: String) {
    var analysisMs = 0.0
    var optimizationMs = 0.0
    var planningMs = 0.0
    var files = 0L
    var done = false
  }

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()
  private val execs = new ConcurrentHashMap[Long, Exec]()

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val result = if (e.stageInfos.isEmpty) None else Some(e.stageInfos.maxBy(_.stageId))
    val execId = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    val job = new Job(e.jobId, groupOf(e.properties), e.time,
      result.map(_.name).getOrElse(""), e.stageIds, execId)
    jobs.put(e.jobId, job)
    e.stageIds.foreach(s => stageJob.put(s, job))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val job = stageJob.get(e.stageId)
    val m = e.taskMetrics
    if (job != null && m != null) job.synchronized {
      job.tasks += 1
      job.runMs += m.executorRunTime
      job.cpuNs += m.executorCpuTime
      job.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      job.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      job.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      job.inputBytes += m.inputMetrics.bytesRead
    }
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case s: SparkListenerSQLExecutionStart =>
      execs.put(s.executionId, new Exec(s.executionId, s.jobGroupId.getOrElse(""),
        Trace.graftFrame(s.details)))
    case e: SparkListenerSQLExecutionEnd =>
      val x = execs.get(e.executionId)
      if (x != null) {
        org.apache.spark.sql.perfbench.SparkInternals.queryExecution(e).foreach(plan(x, _))
        x.done = true
      }
    case _ => ()
  }

  private def plan(x: Exec, qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String) = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
    x.analysisMs = ms("analysis")
    x.optimizationMs = ms("optimization")
    x.planningMs = ms("planning")
    x.files = Trace.filesRead(qe.executedPlan)
  }

  private val direct = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Record, for `group`, a plan its caller executed through
    * `queryExecution.toRdd`, which posts no SQL execution events.
    */
  def executed(group: String, qe: QueryExecution): Unit = {
    val x = new Exec(-direct.incrementAndGet(), group, "")
    plan(x, qe)
    x.done = true
    execs.put(x.id, x)
  }

  /** Wait until the listener bus has delivered everything posted so far. */
  def drain(): Unit =
    org.apache.spark.sql.perfbench.SparkInternals.drainListenerBus(spark.sparkContext)

  def records(): Map[String, Any] = {
    drain()
    val js = jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
      j.synchronized {
        Map("id" -> j.id, "group" -> j.group, "submit_ms" -> j.submitMs,
          "end_ms" -> j.endMs, "call_site" -> j.callSite,
          "exec_site" -> Option(execs.get(j.execId)).map(_.site).getOrElse(""),
          "stages" -> j.stages.size,
          "tasks" -> j.tasks, "task_run_ms" -> j.runMs, "task_cpu_ms" -> j.cpuNs / 1e6,
          "shuffle_read_bytes" -> j.shuffleRead, "shuffle_write_bytes" -> j.shuffleWrite,
          "spill_bytes" -> j.spill, "input_bytes" -> j.inputBytes)
      }
    }
    val xs = execs.values.asScala.toSeq.sortBy(_.id).filter(_.done).map { x =>
      Map("id" -> x.id, "group" -> x.group, "analysis_ms" -> x.analysisMs,
        "optimization_ms" -> x.optimizationMs, "planning_ms" -> x.planningMs,
        "files" -> x.files)
    }
    Map("jobs" -> js, "sql" -> xs)
  }
}

object Trace extends AdaptiveSparkPlanHelper {
  def install(spark: SparkSession): Trace = {
    val t = new Trace(spark)
    spark.sparkContext.addSparkListener(t)
    t
  }

  /** Files read by the executed plan's file scans (adaptive stages and
    * subqueries included), from the scans' own `numFiles` metric.
    */
  def filesRead(plan: org.apache.spark.sql.execution.SparkPlan): Long =
    collectWithSubqueries(plan) { case s: FileSourceScanExec => s }
      .flatMap(_.metrics.get("numFiles")).map(_.value).sum

  private val Frame = """^\s*graft\..*\(([A-Za-z0-9_$]+\.scala:\d+)\)""".r

  /** "at File.scala:N" for the first graft frame of a call-site stack. */
  def graftFrame(stack: String): String =
    stack.split("\n").iterator.collectFirst { case Frame(site) => s"at $site" }.getOrElse("")

  /** Run `body` with the calling thread's job group set to `group`. */
  def inGroup[T](spark: SparkSession, group: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group, interruptOnCancel = false)
    try body finally sc.clearJobGroup()
  }
}
