package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanLike, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Work counters of one op, filled from listener events. */
final class OpWork {
  var jobs, stages, tasks, emptyTasks, failedTasks = 0L
  var runMs, cpuNs, gcMs, schedMs = 0L
  var shWrite, shRead, fetchWaitMs, spill, inBytes, inRows, peakMem = 0L
  var skewMax = 0.0
  // Catalyst phases and final-plan shape of every query the op executed
  var analysisMs, optimizationMs, planningMs = 0L
  var bhj, smj, aqeCoalesced, aqeSkew, scanFiles, scanMs = 0L
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** The benchmark's own SparkListener and QueryExecutionListener.
  *
  * Events are charged to the op the harness marks as current. The harness
  * drains the listener bus after every op, before it moves on, so an event
  * is always processed while its own op is current.
  */
final class Probe(tracer: Tracer) extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  private val work = mutable.LinkedHashMap.empty[Int, OpWork]
  private val stageTaskRun = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  private val stageStartMs = mutable.HashMap.empty[Int, Long]

  def of(op: Int): OpWork = synchronized(work.getOrElseUpdate(op, new OpWork))
  def ops: Map[Int, OpWork] = synchronized(work.toMap)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    of(tracer.currentOp).jobs += 1
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    of(tracer.currentOp).stages += 1
    stageStartMs(e.stageInfo.stageId) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = e.stageInfo.stageId
    val w = of(tracer.currentOp)
    stageTaskRun.remove(id).foreach { runs =>
      if (runs.size >= 4) {
        val sorted = runs.sorted
        val median = sorted(sorted.size / 2).max(1L)
        w.skewMax = math.max(w.skewMax, sorted.last.toDouble / median)
      }
    }
    val start = stageStartMs.remove(id).getOrElse(0L)
    val end = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
    tracer.record(-1, tracer.currentOp, "exec", s"stage $id",
      tracer.fromEpochMs(start), tracer.fromEpochMs(end))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val w = of(tracer.currentOp)
    val info = e.taskInfo
    w.tasks += 1
    w.taskIntervals += ((info.launchTime, info.finishTime))
    if (!info.successful) w.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      val sr = m.shuffleReadMetrics
      w.runMs += m.executorRunTime
      w.cpuNs += m.executorCpuTime
      w.gcMs += m.jvmGCTime
      w.schedMs += math.max(0L, info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - info.gettingResultTime)
      w.shWrite += m.shuffleWriteMetrics.bytesWritten
      w.shRead += sr.remoteBytesRead + sr.localBytesRead
      w.fetchWaitMs += sr.fetchWaitTime
      w.spill += m.diskBytesSpilled
      w.inBytes += m.inputMetrics.bytesRead
      w.inRows += m.inputMetrics.recordsRead
      w.peakMem = math.max(w.peakMem, m.peakExecutionMemory)
      if (m.inputMetrics.recordsRead == 0 && sr.recordsRead == 0) w.emptyTasks += 1
      stageTaskRun.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
    }
    tracer.record(-1, tracer.currentOp, "task", s"task ${e.stageId}.${info.index}",
      tracer.fromEpochMs(info.launchTime), tracer.fromEpochMs(info.finishTime))
  }

  override def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                         durationNs: Long): Unit = synchronized {
    val w = of(tracer.currentOp)
    val phases = qe.tracker.phases
    def ms(p: String): Long = phases.get(p).map { s =>
      tracer.record(-1, tracer.currentOp, "catalyst", p,
        tracer.fromEpochMs(s.startTimeMs), tracer.fromEpochMs(s.endTimeMs))
      s.endTimeMs - s.startTimeMs
    }.getOrElse(0L)
    w.analysisMs += ms("analysis")
    w.optimizationMs += ms("optimization")
    w.planningMs += ms("planning")
    val plan: SparkPlan = qe.executedPlan
    collectWithSubqueries(plan) { case p => p }.foreach {
      case _: BroadcastHashJoinExec => w.bhj += 1
      case _: SortMergeJoinExec => w.smj += 1
      case r: AQEShuffleReadExec =>
        if (r.hasCoalescedPartition) w.aqeCoalesced += 1
        if (r.hasSkewedPartition) w.aqeSkew += 1
      case s: FileSourceScanLike =>
        def metric(n: String) = s.metrics.get(n).map(_.value).getOrElse(0L)
        w.scanFiles += metric("numFiles")
        w.scanMs += metric("scanTime")
      case _ => ()
    }
  }

  override def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                         exception: Exception): Unit = ()
}
