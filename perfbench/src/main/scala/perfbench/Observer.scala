package perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Everything the benchmark learns from Spark itself, read from the
  * listener bus: stage and task totals for the metrics, and job and
  * stage spans for the traced run. Jobs are tied to the benchmark's
  * phase or query through the job group the benchmark sets before
  * each call. */
class Observer extends SparkListener {
  case class Totals(
      jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
      runNanos: Long = 0, cpuNanos: Long = 0, gcMs: Long = 0,
      shuffleWrite: Long = 0, shuffleRead: Long = 0, spill: Long = 0,
      inputBytes: Long = 0, outputBytes: Long = 0) {
    def -(o: Totals): Totals = Totals(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
      runNanos - o.runNanos, cpuNanos - o.cpuNanos, gcMs - o.gcMs,
      shuffleWrite - o.shuffleWrite, shuffleRead - o.shuffleRead, spill - o.spill,
      inputBytes - o.inputBytes, outputBytes - o.outputBytes)
  }
  case class StageRecord(stageId: Int, startMs: Long, endMs: Long, taskRunMs: Seq[Long])
  case class JobSpan(jobId: Int, group: String, startMs: Long, endMs: Long, stages: Seq[Int])

  private var totals = Totals()
  private val taskTimes = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  private val jobStart = mutable.HashMap.empty[Int, (String, Long, Seq[Int])]
  val stages = mutable.ArrayBuffer.empty[StageRecord]
  val jobSpans = mutable.ArrayBuffer.empty[JobSpan]

  def snapshot(): Totals = synchronized(totals)
  def clearRecords(): Unit = synchronized {
    stages.clear(); jobSpans.clear(); taskTimes.clear()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    totals = totals.copy(jobs = totals.jobs + 1)
    jobStart(e.jobId) = (group, e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (g, t0, st) => jobSpans += JobSpan(e.jobId, g, t0, e.time, st) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      taskTimes.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
      totals = totals.copy(
        tasks = totals.tasks + 1,
        runNanos = totals.runNanos + m.executorRunTime * 1000000L,
        cpuNanos = totals.cpuNanos + m.executorCpuTime,
        gcMs = totals.gcMs + m.jvmGCTime,
        shuffleWrite = totals.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
        shuffleRead = totals.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
        spill = totals.spill + m.diskBytesSpilled,
        inputBytes = totals.inputBytes + m.inputMetrics.bytesRead,
        outputBytes = totals.outputBytes + m.outputMetrics.bytesWritten)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    totals = totals.copy(stages = totals.stages + 1)
    val t0 = i.submissionTime.getOrElse(0L)
    val t1 = i.completionTime.getOrElse(t0)
    stages += StageRecord(i.stageId, t0, t1, taskTimes.remove(i.stageId).map(_.toSeq).getOrElse(Nil))
  }

  /** max ÷ median task run time in the longest stage since the last
    * [[clearRecords]]. */
  def taskSkew(): Double = synchronized {
    stages.filter(_.taskRunMs.nonEmpty).maxByOption(s => s.endMs - s.startMs).map { s =>
      val ts = s.taskRunMs.sorted
      val med = ts(ts.size / 2).max(1L)
      ts.last.toDouble / med
    }.getOrElse(1.0)
  }
}
