package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-layer counters for a traced run: every job, stage and task the
  * scheduler reports, plus every SQL action the session finishes.
  *
  * Registered only around traced work, so untraced timings never pay for
  * it. Callers take a [[mark]] before a piece of work and read the
  * [[Window]] since that mark after it; [[drain]] must run in between so
  * that the asynchronous listener bus has delivered every event of the
  * work.
  */
final class Counters extends SparkListener with QueryExecutionListener {
  import Counters._

  private val jobs = ArrayBuffer.empty[JobRec]
  private val stages = ArrayBuffer.empty[StageRec]
  private val tasks = ArrayBuffer.empty[TaskRec]
  private val actions = ArrayBuffer.empty[(String, Double)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // a job's short call site is the name of its result stage, the last
    // one created: "<api method> at <File>.scala:<line>"
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    jobs += JobRec(e.jobId, e.time, site)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages += StageRec(i.stageId, i.submissionTime.getOrElse(0L),
      i.completionTime.getOrElse(0L), i.numTasks)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m == null) tasks += TaskRec(e.stageId, info.launchTime, info.finishTime,
      0L, 0L, 0L, 0L, 0L, 0L, 0L)
    else tasks += TaskRec(e.stageId, info.launchTime, info.finishTime,
      m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleWriteMetrics.recordsWritten, m.shuffleReadMetrics.totalBytesRead,
      m.diskBytesSpilled, m.inputMetrics.bytesRead, m.inputMetrics.recordsRead)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { actions += ((funcName, durationNs / 1e9)) }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    synchronized { actions += ((s"$funcName!failed", 0.0)) }

  def mark: Mark = synchronized { Mark(jobs.size, stages.size, tasks.size, actions.size) }

  def since(m: Mark): Window = synchronized {
    Window(jobs.drop(m.jobs).toSeq, stages.drop(m.stages).toSeq,
      tasks.drop(m.tasks).toSeq, actions.drop(m.actions).toSeq)
  }

  /** Totals over the whole traced phase, written to the run's artifact. */
  def totals: Map[String, Any] = synchronized {
    Map("jobs" -> jobs.size, "stages" -> stages.size, "tasks" -> tasks.size,
      "sql_actions" -> actions.groupBy(_._1).map { case (k, v) => k -> v.size },
      "job_call_sites" -> jobs.groupBy(j => siteMethod(j.site))
        .map { case (k, v) => k -> v.size })
  }
}

object Counters {
  /** Call sites whose jobs exist only to materialize a result eagerly. */
  private val EagerMethods = Set("localCheckpoint", "checkpoint", "count",
    "collect", "collectAsList", "persist", "cache")

  private def siteMethod(site: String): String = site.takeWhile(_ != ' ')

  final case class Mark(jobs: Int, stages: Int, tasks: Int, actions: Int)
  final case class JobRec(id: Int, startMs: Long, site: String)
  final case class StageRec(id: Int, submitMs: Long, doneMs: Long, numTasks: Int)
  final case class TaskRec(stage: Int, launchMs: Long, finishMs: Long, gcMs: Long,
      shuffleWriteBytes: Long, shuffleWriteRecords: Long, shuffleReadBytes: Long,
      spillBytes: Long, inputBytes: Long, inputRecords: Long) {
    def ms: Long = finishMs - launchMs
  }

  /** Events recorded since a [[Mark]], with the derived `spark.*` metrics. */
  final case class Window(jobs: Seq[JobRec], stages: Seq[StageRec],
      tasks: Seq[TaskRec], actions: Seq[(String, Double)]) {
    def shuffleWriteRecords: Long = tasks.map(_.shuffleWriteRecords).sum
    def inputBytes: Long = tasks.map(_.inputBytes).sum
    def inputRecords: Long = tasks.map(_.inputRecords).sum

    /** The `spark.*` metrics of work that ran from `startMs` to `endMs`
      * (wall clock) on `cores` task slots. */
    def metrics(startMs: Long, endMs: Long, cores: Int): Map[String, Double] = {
      val wallMs = math.max(1L, endMs - startMs)
      val busyMs = tasks.map(_.ms).sum
      Map(
        "spark.jobs" -> jobs.size.toDouble,
        "spark.stages" -> stages.size.toDouble,
        "spark.tasks" -> tasks.size.toDouble,
        "spark.eager_jobs" ->
          jobs.count(j => EagerMethods(siteMethod(j.site))).toDouble,
        "spark.shuffle_write_mb" -> tasks.map(_.shuffleWriteBytes).sum / 1e6,
        "spark.shuffle_read_mb" -> tasks.map(_.shuffleReadBytes).sum / 1e6,
        "spark.spill_mb" -> tasks.map(_.spillBytes).sum / 1e6,
        "spark.task_busy_s" -> busyMs / 1e3,
        "spark.gc_s" -> tasks.map(_.gcMs).sum / 1e3,
        "spark.core_util" -> busyMs.toDouble / (wallMs.toDouble * cores),
        "spark.task_skew" -> taskSkew,
        "spark.driver_gap_s" -> (wallMs - coveredMs(startMs, endMs)) / 1e3)
    }

    /** Slowest over median task time in the longest-running stage. */
    private def taskSkew: Double =
      if (stages.isEmpty) 1.0
      else {
        val longest = stages.maxBy(s => s.doneMs - s.submitMs).id
        val ms = tasks.filter(_.stage == longest).map(_.ms.toDouble).sorted
        if (ms.isEmpty) 1.0
        else ms.last / math.max(1.0, ms(ms.size / 2))
      }

    /** Milliseconds of [startMs, endMs] during which some task ran. */
    private def coveredMs(startMs: Long, endMs: Long): Long = {
      val iv = tasks.map(t => (math.max(t.launchMs, startMs), math.min(t.finishMs, endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var (curA, curB) = (Long.MinValue, Long.MinValue)
      iv.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      covered
    }
  }

  /** Blocks until the listener bus has delivered every posted event. The
    * bus is not public API; its accessors are public in bytecode. */
  def drain(sc: SparkContext): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty", java.lang.Long.TYPE)
      .invoke(bus, java.lang.Long.valueOf(60000L))
    ()
  }
}
