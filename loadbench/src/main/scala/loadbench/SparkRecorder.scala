package loadbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Job, stage and task counts of whatever runs while an owner is set.
  * The owner is a label (an op type, or an operator package on the
  * slice) set by the op thread; a job is attributed to the owner
  * current when it starts, a stage or task to the owner of its job.
  * Owner attribution by time, not by job group, because streaming
  * queries run their jobs on threads of their own. Peak width is the
  * most tasks of one owner that overlapped in time, each task running
  * from its launch for its executor-side time: start and end events
  * can arrive out of order, and the driver marks a task finished only
  * after its slot has gone to the next task.
  */
final class SparkRecorder extends SparkListener {
  import SparkRecorder.Counts

  @volatile var owner: String = null
  private val byOwner = mutable.Map.empty[String, Counts]
  private val stageOwner = mutable.Map.empty[Int, String]
  private var openJobs = 0

  private def counts(o: String): Counts = byOwner.getOrElseUpdate(o, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val o = owner
    openJobs += 1
    if (o != null) {
      counts(o).jobs += 1
      e.stageIds.foreach(stageOwner(_) = o)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { openJobs -= 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOwner.get(e.stageId).foreach { o =>
      val c = counts(o)
      c.tasks += 1
      c.taskNanos += e.taskInfo.duration * 1000000L
      val m = e.taskMetrics
      val launch = e.taskInfo.launchTime
      c.taskSpans += ((launch,
        if (m == null) e.taskInfo.finishTime
        else launch + m.executorDeserializeTime + m.executorRunTime))
      if (m != null) c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageOwner.get(info.stageId).foreach { o =>
      val c = counts(o)
      c.stages += 1
      if (info.numTasks == 1)
        for (s <- info.submissionTime; d <- info.completionTime)
          c.singleTaskStageNanos += (d - s) * 1000000L
    }
  }

  /** Wait until every job that started has ended and been delivered
    * (listener events arrive asynchronously), at most `timeoutMs`.
    */
  def settle(timeoutMs: Long = 5000): Unit = {
    val deadline = System.currentTimeMillis + timeoutMs
    while (synchronized(openJobs > 0) && System.currentTimeMillis < deadline) Thread.sleep(10)
    Thread.sleep(50)
  }

  /** Counts gathered for `o` since the last take, then forget them. */
  def take(o: String): Counts = synchronized {
    byOwner.remove(o).getOrElse(new Counts)
  }
}

object SparkRecorder {
  final class Counts {
    var jobs = 0L
    var stages = 0L
    var tasks = 0L
    var taskNanos = 0L
    var singleTaskStageNanos = 0L
    var shuffleBytes = 0L
    val taskSpans = mutable.ArrayBuffer.empty[(Long, Long)]

    /** Most tasks running at once; a finish frees its slot before a
      * launch at the same millisecond takes one.
      */
    def peakWidth: Int =
      taskSpans.flatMap { case (s, e) => Seq((s, 1), (e, -1)) }
        .sortBy { case (t, d) => (t, d) }
        .scanLeft(0)(_ + _._2).max
  }
}
