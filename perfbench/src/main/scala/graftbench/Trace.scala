package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark's work for one op, summed from listener events. Times of jobs
  * and stages are epoch milliseconds, as Spark stamps them. */
final class SparkCounts {
  var jobs, stages, tasks, failedTasks, retriedStages = 0L
  var taskMs, cpuNs, waitMs = 0L
  var inputBytes, inputRecords, shuffleWrite, shuffleRead, spill = 0L
  val jobSpans = ArrayBuffer.empty[(Long, Long)]
  val stageSpans = ArrayBuffer.empty[(Long, Long)]
}

/** Listener that attributes every job, stage and task to the op whose
  * id the benchmark set as the [[SparkTrace.OpKey]] local property on
  * the thread that submitted the job (threads the program starts, such
  * as a stream's micro-batch thread, inherit it). Events of jobs without
  * the property are ignored. All callbacks run on the listener bus's
  * single thread; read the counts only after [[org.apache.spark.BenchBus]]
  * has drained the bus. */
final class SparkTrace extends SparkListener {
  private val jobOp = new ConcurrentHashMap[Int, java.lang.Long]
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]
  private val stageOp = new ConcurrentHashMap[Int, java.lang.Long]
  private val stageSubmit = new ConcurrentHashMap[(Int, Int), java.lang.Long]
  private val byOp = new ConcurrentHashMap[Long, SparkCounts]

  def counts(op: Long): SparkCounts = byOp.computeIfAbsent(op, _ => new SparkCounts)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(SparkTrace.OpKey)))
      .foreach { id =>
        val op = id.toLong
        jobOp.put(e.jobId, op)
        jobStart.put(e.jobId, e.time)
        e.stageIds.foreach(stageOp.put(_, op))
        counts(op).jobs += 1
      }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobOp.remove(e.jobId)).foreach { op =>
      counts(op).jobSpans += ((jobStart.remove(e.jobId).longValue, e.time))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val si = e.stageInfo
    if (stageOp.containsKey(si.stageId))
      stageSubmit.put((si.stageId, si.attemptNumber()),
        java.lang.Long.valueOf(si.submissionTime.getOrElse(System.currentTimeMillis())))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    Option(stageOp.get(si.stageId)).foreach { op =>
      val c = counts(op)
      c.stages += 1
      if (si.attemptNumber() > 0) c.retriedStages += 1
      for (a <- si.submissionTime; b <- si.completionTime) c.stageSpans += ((a, b))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageOp.get(e.stageId)).foreach { op =>
      val c = counts(op)
      c.tasks += 1
      if (e.taskInfo.failed) c.failedTasks += 1
      Option(stageSubmit.get((e.stageId, e.stageAttemptId))).foreach { s =>
        c.waitMs += math.max(0L, e.taskInfo.launchTime - s)
      }
      Option(e.taskMetrics).foreach { m =>
        c.taskMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRecords += m.inputMetrics.recordsRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }

  def forOp(op: Long): SparkCounts = Option(byOp.get(op)).getOrElse(new SparkCounts)
}

object SparkTrace {
  /** The local property that ties a Spark job to the op that caused it. */
  val OpKey = "graftbench.op"
}

/** Catalyst phase times of every query execution that completed, as
  * `(analysis start ms, analysis ms, optimization ms, planning ms)` from
  * the execution's `QueryPlanningTracker`. The start time places the
  * execution inside the op whose interval contains it. */
final class CatalystTrace extends QueryExecutionListener {
  val phases = new ConcurrentLinkedQueue[(Long, Long, Long, Long)]

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
    val starts = ph.values.map(_.startTimeMs)
    if (starts.nonEmpty)
      phases.add((starts.min, ms("analysis"), ms("optimization"), ms("planning")))
  }

  override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)

  def all: Seq[(Long, Long, Long, Long)] = phases.asScala.toSeq
}
