package graft

import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The one task-metrics listener every harness main reads: Bench's
  * per-query WORK digest, ScaleProbe's per-phase skew and memory
  * evidence.
  *
  * Work metrics (input rows/bytes, shuffle read/write bytes, task count,
  * peak task execution memory) are properties of the PLAN, not the host:
  * wall time varies up to 2x run-to-run with zero code change, while a
  * query whose shuffle bytes or task count grows round-over-round changed
  * its plan (the q_funnel CTE-inlining incident, SURVEY §4).
  * tools/bench_compare.py and tools/work_diff.py gate on these and treat
  * wall time as advisory.
  *
  * Per-stage task input sizes (input + shuffle read bytes) feed
  * [[skewSummary]], the "no task 10× the median" check; AQE skew-split
  * activations are counted from the final executed plans, which is why
  * the class is also a QueryExecutionListener. Events arrive
  * asynchronously: drain the bus (org.apache.spark.GraftListenerDrain)
  * before [[reset]] and before reading.
  */
final class WorkStats extends SparkListener with QueryExecutionListener {
  private var inRows = 0L
  private var inBytes = 0L
  private var shRead = 0L
  private var shWrite = 0L
  private var tasks = 0L
  private var peakMem = 0L
  private var failedTasks = 0L
  private var jobs = 0L
  private var stages = 0L
  private var skewSplits = 0L
  private val stageInputs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.reason.toString != "Success") failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      val read = m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      tasks += 1
      inRows += m.inputMetrics.recordsRead
      inBytes += m.inputMetrics.bytesRead
      shRead += read
      shWrite += m.shuffleWriteMetrics.bytesWritten
      if (m.peakExecutionMemory > peakMem) peakMem = m.peakExecutionMemory
      stageInputs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer[Long]()) +=
        m.inputMetrics.bytesRead + read
    }
  }
  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }

  override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = {
    val n = "skew=true".r.findAllIn(qe.executedPlan.toString).size
    synchronized { skewSplits += n }
  }
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()

  def reset(): Unit = synchronized {
    inRows = 0; inBytes = 0; shRead = 0; shWrite = 0; tasks = 0; peakMem = 0
    failedTasks = 0; jobs = 0; stages = 0; skewSplits = 0
    stageInputs.clear()
  }

  /** Every counter at once, consistent with each other. */
  def snapshot(): WorkStats.Snapshot = synchronized {
    WorkStats.Snapshot(inRows, inBytes, shRead, shWrite, tasks, peakMem,
      failedTasks, jobs, stages, skewSplits)
  }

  /** The work digest as one compact JSON object (stable key order). */
  def snapshotJson(): String = {
    val s = snapshot()
    s"""{"in_rows":${s.inRows},"in_bytes":${s.inBytes},"sh_read":${s.shRead},""" +
      s""""sh_write":${s.shWrite},"tasks":${s.tasks},"peak_mem":${s.peakMem}}"""
  }

  /** (max task input bytes, worst max/median task input over stages of
    * ≥4 tasks with median > 1 MB, stages seen, tasks seen).
    */
  def skewSummary(): (Long, Double, Int, Int) = synchronized {
    val maxIn = stageInputs.values.flatten.foldLeft(0L)(math.max)
    var worst = 0.0
    for (ins <- stageInputs.values if ins.length >= 4) {
      val s = ins.sorted
      val med = s(s.length / 2)
      if (med > (1L << 20)) worst = math.max(worst, s.last.toDouble / med)
    }
    (maxIn, math.round(worst * 100) / 100.0, stageInputs.size,
      stageInputs.values.map(_.size).sum)
  }
}

object WorkStats {
  final case class Snapshot(inRows: Long, inBytes: Long, shRead: Long,
      shWrite: Long, tasks: Long, peakMem: Long, failedTasks: Long,
      jobs: Long, stages: Long, skewSplits: Long)

  /** A fresh listener, registered on both of the session's buses. */
  def register(spark: SparkSession): WorkStats = {
    val w = new WorkStats
    spark.sparkContext.addSparkListener(w)
    spark.listenerManager.register(w)
    w
  }
}
