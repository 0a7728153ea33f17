package graft.perfbench

import org.apache.spark.Success
import org.apache.spark.scheduler._

import scala.collection.mutable

/** A job as the scheduler saw it; `group` is the job group the
  * driver thread carried when it submitted the job. */
final case class JobRec(id: Int, group: String, startMs: Long, endMs: Long,
    stageIds: Seq[Int])

/** One completed stage attempt with its summed task metrics. */
final case class StageRec(jobId: Int, tasks: Int, runMs: Long, cpuNs: Long,
    gcMs: Long, shuffleRead: Long, shuffleWrite: Long, spill: Long,
    failedTasks: Int)

/** The benchmark's own scheduler listener: it keeps every job and
  * completed stage of the run, so the harness can sum them per pass,
  * per op or per span afterwards. Only registered for traced runs. */
final class Probe extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stages = mutable.ArrayBuffer.empty[StageRec]
  private val failed = mutable.HashMap.empty[(Int, Int), Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs(e.jobId) = JobRec(e.jobId, group, e.time, e.time, e.stageIds)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.reason != Success) {
      val k = (e.stageId, e.stageAttemptId)
      failed(k) = failed.getOrElse(k, 0) + 1
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    stages += StageRec(
      jobId = stageJob.getOrElse(i.stageId, -1),
      tasks = i.numTasks,
      runMs = if (m == null) 0L else m.executorRunTime,
      cpuNs = if (m == null) 0L else m.executorCpuTime,
      gcMs = if (m == null) 0L else m.jvmGCTime,
      shuffleRead = if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
      shuffleWrite = if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      spill = if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled,
      failedTasks = failed.getOrElse((i.stageId, i.attemptNumber()), 0))
  }

  def snapshot: (Seq[JobRec], Seq[StageRec]) = synchronized {
    (jobs.values.toSeq, stages.toSeq)
  }
}

/** Per-layer scheduler counters for a set of jobs. */
final case class SparkLayer(jobs: Int, stages: Int, tasks: Int, taskRunS: Double,
    taskCpuS: Double, gcS: Double, shuffleRead: Long, shuffleWrite: Long,
    spill: Long, failedTasks: Int)

object SparkLayer {
  def of(jobIds: Set[Int], stages: Seq[StageRec]): SparkLayer = {
    val st = stages.filter(s => jobIds(s.jobId))
    SparkLayer(jobIds.size, st.size, st.map(_.tasks).sum,
      st.map(_.runMs).sum / 1e3, st.map(_.cpuNs).sum / 1e9,
      st.map(_.gcMs).sum / 1e3, st.map(_.shuffleRead).sum,
      st.map(_.shuffleWrite).sum, st.map(_.spill).sum, st.map(_.failedTasks).sum)
  }

  /** Milliseconds of `[fromMs, toMs]` covered by at least one job:
    * the complement is driver-only time, when no job was running. */
  def coveredMs(jobs: Seq[JobRec], fromMs: Long, toMs: Long): Long = {
    val iv = jobs.map(j => (math.max(j.startMs, fromMs), math.min(j.endMs, toMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
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
