package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Execution-layer counters for the benchmark's windows: task counts and
  * times, executor cpu, gc, shuffle and spill bytes, and job intervals.
  * Listener events arrive asynchronously; callers flush the bus
  * (`graft`'s ListenerBridge) before reading.
  */
final class SparkMeter extends SparkListener {
  import SparkMeter.Counters

  private var c = Counters()
  private val stageSubmitted = mutable.Map.empty[Int, Long]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobs = mutable.ArrayBuffer.empty[(Long, Long)]

  def counters: Counters = synchronized(c)

  /** Finished jobs as (start, end) epoch milliseconds. */
  def jobIntervals: Seq[(Long, Long)] = synchronized(jobs.toSeq)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobs += ((s, e.time)))
    c = c.copy(jobs = c.jobs + 1)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSubmitted(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val info = e.taskInfo
    val m = e.taskMetrics
    val wait = stageSubmitted.get(e.stageId)
      .map(s => math.max(0L, info.launchTime - s)).getOrElse(0L)
    c = c.copy(
      tasks = c.tasks + 1,
      taskMs = c.taskMs + info.duration,
      taskWaitMs = c.taskWaitMs + wait,
      cpuNs = c.cpuNs + (if (m == null) 0L else m.executorCpuTime),
      gcMs = c.gcMs + (if (m == null) 0L else m.jvmGCTime),
      shuffleWriteBytes = c.shuffleWriteBytes +
        (if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten),
      spillBytes = c.spillBytes +
        (if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled))
  }
}

object SparkMeter {
  final case class Counters(jobs: Long = 0, tasks: Long = 0, taskMs: Long = 0,
      taskWaitMs: Long = 0, cpuNs: Long = 0, gcMs: Long = 0,
      shuffleWriteBytes: Long = 0, spillBytes: Long = 0) {
    def -(o: Counters): Counters = Counters(jobs - o.jobs, tasks - o.tasks,
      taskMs - o.taskMs, taskWaitMs - o.taskWaitMs, cpuNs - o.cpuNs,
      gcMs - o.gcMs, shuffleWriteBytes - o.shuffleWriteBytes,
      spillBytes - o.spillBytes)
  }
}
