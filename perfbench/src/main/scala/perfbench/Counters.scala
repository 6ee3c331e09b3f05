package perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Scheduler work of one Spark job, as the listener saw it. Times are
  * wall-clock milliseconds. `firstStage` is the call site Spark names the
  * job's first stage after, e.g. `parquet at Tables.scala:19`. */
final class JobRecord(val id: Int, val startMs: Long, val firstStage: String) {
  var endMs: Long = startMs
  var stages = 0
  var tasks = 0
  var taskMs = 0L
  var waitMs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var failures = 0
}

/** Counts the scheduler work of every job (stages, tasks, task time, time
  * tasks waited after their stage was submitted, shuffle bytes, spill, GC,
  * task failures). Registered only for the traced run. */
final class Counters extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRecord]
  private val stageJob = mutable.HashMap.empty[Int, JobRecord]
  private val stageSubmitted = mutable.HashMap.empty[Int, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val first = if (e.stageInfos.isEmpty) "" else e.stageInfos.minBy(_.stageId).name
    val j = new JobRecord(e.jobId, e.time, first)
    jobs(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      stageSubmitted(e.stageInfo.stageId) =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      val info = e.taskInfo
      j.taskMs += info.duration
      stageSubmitted.get(e.stageId)
        .foreach(s => j.waitMs += math.max(0L, info.launchTime - s))
      if (e.reason != org.apache.spark.Success) j.failures += 1
      Option(e.taskMetrics).foreach { m =>
        j.gcMs += m.jvmGCTime
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Every job seen since the last `clear`, in start order. */
  def snapshot(): Seq[JobRecord] = synchronized(jobs.values.toSeq)

  def clear(): Unit = synchronized {
    jobs.clear(); stageJob.clear(); stageSubmitted.clear()
  }
}
