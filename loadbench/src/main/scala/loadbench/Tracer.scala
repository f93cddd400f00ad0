package loadbench

import org.apache.spark.sql.SparkSession

/** Everything a traced run records around one op: spans, JDBC counts
  * (through [[JdbcRecorder]]), Spark counts per owner, the sampled
  * driver state and loader phase of the op thread, and the peak live
  * heap (through [[HeapWatch]]).
  */
final class Tracer(spark: SparkSession, opThread: Thread) {
  val spans = new Spans
  val listener = new SparkRecorder
  spark.sparkContext.addSparkListener(listener)
  private val sampler = new StackSampler(opThread)
  private val heap = new HeapWatch
  /** The JDBC recorder of the current op. */
  var jdbc: JdbcRecorder = _

  /** Start recording op `id`; Spark work is charged to `owner`. */
  def begin(id: Long, owner: String): Unit = {
    spans.opId = id
    jdbc = new JdbcRecorder(spans)
    listener.owner = owner
    sampler.begin()
    heap.begin()
  }

  /** Stop recording; the per-layer figures of the op. */
  def finish(): Map[String, Double] = {
    val heapMb = heap.finish()
    val (states, phases) = sampler.finish()
    listener.owner = null
    listener.settle()
    val j = jdbc
    StackSampler.States.map(s => s"driver.${s}_s" -> states.getOrElse(s, 0.0)).toMap ++
      StackSampler.Phases.map(p => s"phase.${p}_s" -> phases.getOrElse(p, 0.0)) ++
      Map(
        "jdbc.statements" -> j.statements.toDouble,
        "jdbc.rows_sent" -> j.rowsSent.toDouble,
        "jdbc.rows_affected" -> j.rowsAffected.toDouble,
        "jdbc.affected_ratio" -> Stats.ratio(j.rowsAffected, j.rowsSent),
        "jdbc.rows_read" -> j.rowsRead.toDouble,
        "jdbc.write_s" -> j.writeNanos / 1e9,
        "jdbc.read_s" -> j.readNanos / 1e9,
        "driver_heap_live_peak_mb" -> heapMb)
  }

  /** Spark counts charged to `owner`, under `prefix`. */
  def sparkCounts(owner: String, prefix: String): Map[String, Double] = {
    val c = listener.take(owner)
    Map(
      s"$prefix.jobs" -> c.jobs.toDouble,
      s"$prefix.stages" -> c.stages.toDouble,
      s"$prefix.tasks" -> c.tasks.toDouble,
      s"$prefix.task_s" -> c.taskNanos / 1e9,
      s"$prefix.single_task_stage_s" -> c.singleTaskStageNanos / 1e9,
      s"$prefix.shuffle_bytes" -> c.shuffleBytes.toDouble,
      s"$prefix.peak_width" -> c.peakWidth.toDouble)
  }

  def close(): Unit = {
    sampler.close()
    heap.close()
    spark.sparkContext.removeSparkListener(listener)
  }
}
