package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-side layers of the traced run, collected through the public
  * listener APIs: jobs, stages and task metrics (`driver`, `executor`)
  * and the per-action planning phases (`catalyst`). Events arrive on
  * Spark's listener threads; everything is read back after [[drain]]. */
final class LayerListener extends SparkListener {
  final case class JobRec(id: Int, span: Int, startMs: Long, var endMs: Long)
  final case class TaskRec(stage: Int, durMs: Long, runMs: Long, cpuNs: Long,
                           gcMs: Long, shuffleRead: Long, shuffleWrite: Long,
                           fetchWaitMs: Long, spill: Long, output: Long)

  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stageJob = mutable.Map.empty[Int, Int]
  val stagesRun = mutable.Set.empty[Int]
  val tasks = mutable.ArrayBuffer.empty[TaskRec]
  @volatile var lastEventMs: Long = System.currentTimeMillis()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Harness.SpanKey)))
      .map(_.toInt).getOrElse(-1)
    jobs(e.jobId) = JobRec(e.jobId, span, e.time, -1L)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    lastEventMs = System.currentTimeMillis()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
    lastEventMs = System.currentTimeMillis()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stagesRun += e.stageInfo.stageId
    lastEventMs = System.currentTimeMillis()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += TaskRec(e.stageId, e.taskInfo.duration,
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.fetchWaitTime,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.outputMetrics.bytesWritten)
    lastEventMs = System.currentTimeMillis()
  }

  def openJobs: Int = synchronized(jobs.values.count(_.endMs < 0))
}

final class PhaseListener extends QueryExecutionListener {
  /** One action's planning record; `atMs` (planning start, else the last
    * phase end) places it in the span open at that time. */
  final case class QeRec(atMs: Long, analysisMs: Long, optimizationMs: Long,
                         planningMs: Long, graftRuleMs: Double)

  val recs = mutable.ArrayBuffer.empty[QeRec]
  @volatile var lastEventMs: Long = System.currentTimeMillis()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    def d(n: String): Long = ph.get(n).map(p => p.endTimeMs - p.startTimeMs).getOrElse(0L)
    val at = ph.get("planning").map(_.startTimeMs)
      .orElse(ph.values.map(_.endTimeMs).maxOption)
      .getOrElse(System.currentTimeMillis())
    val graft = qe.tracker.rules.collect {
      case (name, r) if name.startsWith("graft.") => r.totalTimeNs
    }.sum / 1e6
    recs += QeRec(at, d("analysis"), d("optimization"), d("planning"), graft)
    lastEventMs = System.currentTimeMillis()
  }
}

object Listeners {
  /** Waits until every started job has ended and no event arrived for a
    * quiet period (Spark offers no public drain of its listener bus). */
  def drain(l: LayerListener, p: PhaseListener, quietMs: Long = 400,
            maxMs: Long = 15000): Unit = {
    val t0 = System.currentTimeMillis()
    def quiet = {
      val now = System.currentTimeMillis()
      now - l.lastEventMs >= quietMs && now - p.lastEventMs >= quietMs && l.openJobs == 0
    }
    while (!quiet && System.currentTimeMillis() - t0 < maxMs) Thread.sleep(50)
  }
}
