package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Counter values at one instant; differences of two snapshots give the
  * work done between them. */
final case class Snap(jobs: Int, stages: Long, tasks: Long,
    taskFailures: Long, taskRunMs: Long, taskCpuNs: Long, gcMs: Long,
    inputBytes: Long, outputBytes: Long, shuffleWriteBytes: Long,
    shuffleReadBytes: Long, spillBytes: Long, executions: Long,
    planMs: Long, codegenNs: Long, codegenClasses: Long, jobStarts: Int)

/** Spark-level counters from the public listener interfaces
  * (`SparkListener`, `QueryExecutionListener`) and the codegen
  * counters. Attached only in traced runs. */
final class Tracer(spark: SparkSession) {
  private var stages, tasks, taskFailures, taskRunMs, taskCpuNs, gcMs = 0L
  private var inputBytes, outputBytes, shuffleWriteBytes = 0L
  private var shuffleReadBytes, spillBytes, executions, planMs = 0L
  private val jobStart = scala.collection.mutable.Map.empty[Int, Long]
  // (start, end) wall-clock ms of finished jobs, in completion order
  private val jobIntervals = ArrayBuffer.empty[(Long, Long)]
  // wall-clock ms at which each job started, in start order
  private val jobStartTimes = ArrayBuffer.empty[Long]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobStart(e.jobId) = e.time
      jobStartTimes += e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobIntervals += ((jobStart.remove(e.jobId).getOrElse(e.time), e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized { stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      tasks += 1
      if (e.reason != org.apache.spark.Success) taskFailures += 1
      val m = e.taskMetrics
      if (m != null) {
        taskRunMs += m.executorRunTime
        taskCpuNs += m.executorCpuTime
        gcMs += m.jvmGCTime
        inputBytes += m.inputMetrics.bytesRead
        outputBytes += m.outputMetrics.bytesWritten
        shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        spillBytes += m.diskBytesSpilled
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case _: SparkListenerSQLExecutionStart => Tracer.this.synchronized { executions += 1 }
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def plan(qe: QueryExecution): Unit = Tracer.this.synchronized {
      planMs += qe.tracker.phases.values.map(_.durationMs).sum
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = plan(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = plan(qe)
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def drain(): Unit = org.apache.spark.graftbench.ListenerBusAccess.drain(spark.sparkContext)

  /** Drains the bus, then reads every counter. */
  def snap(): Snap = {
    drain()
    synchronized {
      Snap(jobIntervals.size, stages, tasks, taskFailures, taskRunMs, taskCpuNs,
        gcMs, inputBytes, outputBytes, shuffleWriteBytes, shuffleReadBytes,
        spillBytes, executions, planMs, CodeGenerator.compileTime,
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount, jobStartTimes.size)
    }
  }

  /** Jobs of the window `[a, b)` that started at or before `untilMs`. */
  def jobsStartedBy(a: Snap, b: Snap, untilMs: Long): Int = synchronized {
    jobStartTimes.slice(a.jobStarts, b.jobStarts).count(_ <= untilMs)
  }

  /** Spark-layer metrics for the work between two snapshots that took
    * `wallS` seconds of wall time. */
  def layer(a: Snap, b: Snap, wallS: Double, cores: Int): Map[String, Double] = {
    val union = synchronized { unionSeconds(jobIntervals.slice(a.jobs, b.jobs).toSeq) }
    val mb = 1024.0 * 1024.0
    val stageCount = (b.stages - a.stages).toDouble
    val runS = (b.taskRunMs - a.taskRunMs) / 1e3
    Map(
      "spark.plan_s" -> (b.planMs - a.planMs) / 1e3,
      "spark.codegen_s" -> (b.codegenNs - a.codegenNs) / 1e9,
      "spark.codegen_classes" -> (b.codegenClasses - a.codegenClasses).toDouble,
      "spark.jobs" -> (b.jobs - a.jobs).toDouble,
      "spark.stages" -> stageCount,
      "spark.tasks" -> (b.tasks - a.tasks).toDouble,
      "spark.tasks_per_stage" ->
        (if (stageCount > 0) (b.tasks - a.tasks) / stageCount else 0.0),
      "spark.job_wall_s" -> union,
      "spark.driver_only_s" -> math.max(0.0, wallS - union),
      "spark.task_run_s" -> runS,
      "spark.task_cpu_s" -> (b.taskCpuNs - a.taskCpuNs) / 1e9,
      "spark.core_busy_ratio" -> (if (union > 0) runS / (union * cores) else 0.0),
      "spark.gc_s" -> (b.gcMs - a.gcMs) / 1e3,
      "spark.task_failures" -> (b.taskFailures - a.taskFailures).toDouble,
      "spark.input_mb" -> (b.inputBytes - a.inputBytes) / mb,
      "spark.output_mb" -> (b.outputBytes - a.outputBytes) / mb,
      "spark.shuffle_write_mb" -> (b.shuffleWriteBytes - a.shuffleWriteBytes) / mb,
      "spark.shuffle_read_mb" -> (b.shuffleReadBytes - a.shuffleReadBytes) / mb,
      "spark.spill_mb" -> (b.spillBytes - a.spillBytes) / mb,
      "queries.executions" -> (b.executions - a.executions).toDouble)
  }

  /** Length of the union of `[start, end]` intervals, in seconds. */
  private def unionSeconds(iv: Seq[(Long, Long)]): Double = {
    var total, curS, curE = 0L
    var open = false
    for ((s, e) <- iv.sortBy(_._1)) {
      if (!open || s > curE) {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      } else curE = math.max(curE, e)
    }
    if (open) total += curE - curS
    total / 1e3
  }
}
