package graft.tools

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-micro-batch duration breakdown of ONE registered streaming
  * (`st_`) query under the bench's session settings: `sbt "runMain
  * graft.tools.StreamProfile <query> <sfDir> [reps]"`. Attaches a
  * [[StreamingQueryListener]] and prints each batch's engine-reported
  * `durationMs` components (triggerExecution, queryPlanning, addBatch,
  * getBatch, latestOffset, walCommit, commitOffsets) — the split
  * ProfileOne's job clock cannot see, because most of the cost of a
  * micro-batch replay is driver work BETWEEN jobs (plan re-init,
  * offset/commit WAL writes, state-store setup). Guide §1: measure
  * where the time actually goes before touching the operator.
  */
object StreamProfile {
  def main(args: Array[String]): Unit = {
    val name = args(0); val dir = args(1)
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = graft.GraftSession.build()

    @volatile var record = false
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit =
        if (record) lines.add(s"START ${e.id}")
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (record) {
          val p = e.progress
          val d = p.durationMs
          lines.add(f"BATCH ${p.batchId}%3d rows=${p.numInputRows}%6d " +
            s"durations=${d.toString}")
        }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        if (record) lines.add(s"END ${e.id}")
    })

    for (i <- 1 to reps) {
      spark.catalog.clearCache()
      record = i == reps
      val t0 = System.nanoTime()
      val n = graft.SparkEntry.queries(name)(spark, dir).count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"STREAMPROFILE $name rep=$i rows=$n sec=$sec%.3f")
    }
    Thread.sleep(500) // listener bus is async
    lines.forEach(println(_))
    spark.stop()
  }
}
