package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** What Spark's public listener interfaces report while tracing is on.
  * Jobs carry the op id the harness sets with `sc.setLocalProperty`;
  * stages and tasks join their job through the stage ids. Nothing here
  * is read until the run ends and the listener bus is drained. */
final class Trace extends SparkListener with QueryExecutionListener {
  import Trace._

  val jobs = new ConcurrentHashMap[Int, Job]()
  val stageJob = new ConcurrentHashMap[Int, Int]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val stages = new ConcurrentLinkedQueue[Int]()
  val plans = new ConcurrentLinkedQueue[Plan]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).flatMap(p =>
      Option(p.getProperty(OpKey))).map(_.toLong).getOrElse(-1L)
    jobs.put(e.jobId, Job(e.jobId, op, e.time, e.time))
    e.stageIds.foreach(stageJob.put(_, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(j => jobs.put(e.jobId, j.copy(end = e.time)))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.add(e.stageInfo.stageId)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(Task(e.stageId, e.taskInfo.launchTime,
      e.taskInfo.finishTime, m.executorRunTime, m.executorCpuTime,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.peakExecutionMemory,
      m.jvmGCTime, m.inputMetrics.recordsRead))
  }

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    val parts = Seq("analysis", "optimization", "planning").flatMap(ph.get)
    if (parts.nonEmpty)
      plans.add(Plan(parts.map(_.startTimeMs).min, parts.map(_.endTimeMs).max,
        parts.map(p => p.endTimeMs - p.startTimeMs).sum))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  def jobList: Seq[Job] = jobs.values.asScala.toSeq.sortBy(_.id)
  def taskList: Seq[Task] = tasks.asScala.toSeq
  def planList: Seq[Plan] = plans.asScala.toSeq.sortBy(_.start)
  def stageCount(jobIds: Set[Int]): Int =
    stages.asScala.count(s => jobIds.contains(stageJob.getOrDefault(s, -1)))
}

object Trace {
  /** Local property that tags every job with the op that started it. */
  val OpKey = "perfbench.op"

  final case class Job(id: Int, op: Long, start: Long, end: Long)
  final case class Task(stage: Int, launch: Long, finish: Long, runMs: Long,
                        cpuNs: Long, shuffleWrite: Long, shuffleRead: Long,
                        spill: Long, peakMem: Long, gcMs: Long, recordsRead: Long)
  /** Analysis, optimization and planning phases of one executed query:
    * wall span [start, end] in epoch ms and the summed phase time. */
  final case class Plan(start: Long, end: Long, phaseMs: Long)
}
