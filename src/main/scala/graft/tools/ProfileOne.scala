package graft.tools

import org.apache.spark.scheduler._

import scala.collection.mutable

/** Per-job/per-stage profile of ONE registered query under the
  * bench's session settings: `sbt "runMain graft.tools.ProfileOne
  * <query> <sfDir> [reps]"`. Prints, for the LAST rep (steady state),
  * every job's wall time and every stage's task count / task-time sum
  * / shuffle bytes — the local stand-in for the Spark UI's stage page
  * (guide §1/§7), which the bench keeps disabled. Runs in
  * [[graft.GraftSession]] like Bench, so the profile matches the
  * measured regime. Each rep prints its own wall time, so reps=3 also
  * shows a query's cold-vs-steady cost.
  */
object ProfileOne {
  def main(args: Array[String]): Unit = {
    val name = args(0); val dir = args(1)
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = graft.GraftSession.build()

    case class StageRow(id: Int, name: String, tasks: Int, taskMs: Long,
        shufReadB: Long, shufWriteB: Long)
    val jobs = mutable.LinkedHashMap.empty[Int, (Long, Long)] // id -> (t0, t1)
    val stages = mutable.LinkedHashMap.empty[Int, StageRow]
    val recordedStages = mutable.Set.empty[Int]
    // every rep runs under its own job group and only events of the
    // last rep's group are recorded: a straggler event from an earlier
    // rep is dropped however late the async listener bus delivers it
    def group(rep: Int) = s"profile-$name-rep$rep"
    val recorded = group(reps)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(
            _.getProperty("spark.jobGroup.id") == recorded)) {
          jobs(j.jobId) = (j.time, 0L)
          recordedStages ++= j.stageIds
        }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        jobs.get(j.jobId).foreach { case (t0, _) =>
          jobs(j.jobId) = (t0, j.time)
        }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        if (recordedStages(s.stageInfo.stageId)) {
          val i = s.stageInfo
          // taskMetrics can be null for stages completed with
          // failures — default the metric fields to 0 rather than
          // NPE-ing inside the listener and silently dropping rows
          val m = Option(i.taskMetrics)
          stages(i.stageId) = StageRow(i.stageId,
            i.name.takeWhile(_ != '\n').take(90), i.numTasks,
            m.map(_.executorRunTime).getOrElse(0L),
            m.map(_.shuffleReadMetrics.totalBytesRead).getOrElse(0L),
            m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L))
        }
    })

    for (i <- 1 to reps) {
      spark.catalog.clearCache()
      spark.sparkContext.setJobGroup(group(i), s"ProfileOne $name rep $i")
      val t0 = System.nanoTime()
      val n = graft.SparkEntry.queries(name)(spark, dir).count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"PROFILE $name rep=$i rows=$n sec=$sec%.3f")
    }
    spark.sparkContext.clearJobGroup()
    // one settle so late listener events land
    Thread.sleep(300)
    // a job whose end event never landed (t1 == 0) would print a
    // nonsense negative wall — report it as incomplete instead
    val (done, incomplete) = jobs.toSeq.partition(_._2._2 != 0L)
    val jw = done.map { case (id, (t0, t1)) => (id, t1 - t0) }
    println(s"JOBS n=${jw.size} wallSumMs=${jw.map(_._2).sum}" +
      (if (incomplete.nonEmpty)
        s" incomplete=${incomplete.map(_._1).mkString(",")}" else ""))
    jw.foreach { case (id, ms) => println(f"  job $id%3d  ${ms}%6d ms") }
    println(s"STAGES n=${stages.size} tasks=${stages.values.map(_.tasks).sum} " +
      s"taskMsSum=${stages.values.map(_.taskMs).sum}")
    stages.values.toSeq.sortBy(-_.taskMs).take(30).foreach { s =>
      println(f"  stage ${s.id}%4d tasks=${s.tasks}%3d taskMs=${s.taskMs}%6d " +
        f"shufR=${s.shufReadB}%9d shufW=${s.shufWriteB}%9d  ${s.name}")
    }
    spark.stop()
  }
}
