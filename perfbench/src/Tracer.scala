package perfbench

import scala.collection.mutable

import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark work observed while one span was open: jobs, stages and tasks from
  * the scheduler, and planning phases, scan files and write targets from
  * each finished query execution. */
final class Counters {
  var jobs, stages, tasks = 0L
  var taskMs, taskCpuNs, gcMs = 0L
  var inputBytes, inputRows = 0L
  var shuffleWriteBytes, shuffleRecords, spillBytes, fetchWaitMs = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  var filesRead, aggFallbacks = 0L
  /** (start ms, end ms) of every job, and of every SQL execution */
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  val sqlSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  /** one entry per finished query execution: (kind, seconds) */
  val actions = mutable.ArrayBuffer.empty[(String, Double)]

  /** Wall seconds during which at least one job ran. AQE runs stages of
    * one query as concurrent jobs, so the spans are merged first. */
  def jobBusySec: Double = busySec(jobSpans)

  /** Wall seconds inside SQL executions: the jobs plus the driver work
    * between them (adaptive re-planning, code generation, scheduling). */
  def sqlBusySec: Double = busySec(sqlSpans)

  /** Seconds inside a SQL execution while no job ran. */
  def sqlGapSec: Double = busySec(sqlSpans ++ jobSpans) - jobBusySec

  private def busySec(spans: mutable.ArrayBuffer[(Long, Long)]): Double = {
    var busy = 0L
    var curStart = -1L
    var curEnd = -1L
    spans.sortBy(_._1).foreach { case (s, e) =>
      if (s > curEnd) {
        if (curEnd > curStart) busy += curEnd - curStart
        curStart = s; curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) busy += curEnd - curStart
    busy / 1000.0
  }

  def driverSec: Double = (analysisMs + optimizationMs + planningMs) / 1000.0
}

/** Benchmark-side tracing: a SparkListener and a QueryExecutionListener
  * registered from outside the program. Between `start()` and `stop()`
  * every event lands in the current [[Counters]]; `take()` waits for the
  * listener bus to drain and hands the counters over. */
final class Tracer(spark: SparkSession) extends AdaptiveSparkPlanHelper {
  @volatile private var cur = new Counters
  private val jobStarts = mutable.Map.empty[Int, Long]
  private val sqlStarts = mutable.Map.empty[Long, Long]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      cur.jobs += 1
      jobStarts(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobStarts.remove(e.jobId).foreach(s => cur.jobSpans += ((s, e.time)))
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => sqlStarts(s.executionId) = s.time
      case x: SparkListenerSQLExecutionEnd =>
        sqlStarts.remove(x.executionId).foreach(s => cur.sqlSpans += ((s, x.time)))
      case _ =>
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      cur.stages += 1
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = cur
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.taskMs += m.executorRunTime
        c.taskCpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRows += m.inputMetrics.recordsRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      }
    }
  }

  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  private def record(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val c = cur
    val phases = qe.tracker.phases
    def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
    c.analysisMs += ms(QueryPlanningTracker.ANALYSIS)
    c.optimizationMs += ms(QueryPlanningTracker.OPTIMIZATION)
    c.planningMs += ms(QueryPlanningTracker.PLANNING)
    val plan = qe.executedPlan
    val nodes = collectWithSubqueries(plan) { case p => p }
    c.filesRead += nodes.map(metric(_, "numFiles")).sum
    c.aggFallbacks += nodes.collect { case a: ObjectHashAggregateExec =>
      metric(a, "numTasksFallBacked") }.sum
    val target = nodes.collectFirst {
      case DataWritingCommandExec(cmd: InsertIntoHadoopFsRelationCommand, _) =>
        cmd.outputPath.toString
    }.orElse(qe.analyzed.collectFirst {
      case cmd: InsertIntoHadoopFsRelationCommand => cmd.outputPath.toString
    })
    val kind = target match {
      case Some(p) => "write:" + p
      case None    => funcName
    }
    c.actions += ((kind, durationNs / 1e9))
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe, durationNs)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def start(): Unit = {
    cur = new Counters
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def take(): Counters = {
    Bus.drain(spark.sparkContext)
    val c = cur
    cur = new Counters
    c
  }

  def stop(): Unit = {
    Bus.drain(spark.sparkContext)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(listener)
  }
}
