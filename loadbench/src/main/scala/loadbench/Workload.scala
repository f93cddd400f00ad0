package loadbench

/** One timed op of a workload (a load, or a pass over the slice).
  *
  * @param attempted ops inside it (1 for a load, one per slice query)
  * @param failed    of those, how many threw or produced wrong output
  * @param layers    per-layer figures (traced rounds only)
  */
final case class Round(
    seconds: Double,
    attempted: Int,
    failed: Int,
    layers: Map[String, Double] = Map.empty,
)

trait Workload {
  /** Make the inputs. Timed as set-up and run several times. */
  def setup(): Unit

  /** Untimed work before the first op: expected outputs, DB state. */
  def prepare(): Unit

  /** One op, timed, followed by its (untimed) output checks. */
  def round(index: Int, tracer: Option[Tracer]): Round

  def cleanup(): Unit = ()
}

object Workload {
  val Packages: Seq[String] = Seq("dedup", "ann", "streaming", "text", "ops")
  val OpTypes: Seq[String] = Seq("fresh", "reload")

  private val SparkLayers = Seq("spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.task_s" -> "s", "spark.single_task_stage_s" -> "s",
    "spark.shuffle_bytes" -> "B", "spark.peak_width" -> "count")
  private val DriverLayers = StackSampler.States.map(s => s"driver.${s}_s" -> "s")

  /** Totals over a round's ops, reported on every workload. */
  val RoundLayers: Seq[(String, String)] =
    SparkLayers ++ DriverLayers :+ ("driver_heap_live_peak_mb" -> "MB")

  /** Figures of one loader op, reported with an op-type suffix. */
  val OpLayers: Seq[(String, String)] =
    Seq("schema.plan_s" -> "s", "connector.introspect_s" -> "s",
      "jdbc.statements" -> "count", "jdbc.rows_sent" -> "count",
      "jdbc.rows_affected" -> "count", "jdbc.affected_ratio" -> "ratio",
      "jdbc.rows_read" -> "count", "jdbc.write_s" -> "s", "jdbc.read_s" -> "s") ++
      SparkLayers ++ DriverLayers ++
      StackSampler.Phases.map(p => s"phase.${p}_s" -> "s") :+ ("trace.op_s" -> "s")

  val PackageLayers: Seq[(String, String)] =
    Packages.flatMap(p => Seq(s"$p.query_s" -> "s", s"$p.spark.jobs" -> "count",
      s"$p.spark.tasks" -> "count", s"$p.spark.task_s" -> "s",
      s"$p.spark.peak_width" -> "count", s"$p.spark.shuffle_bytes" -> "B"))

  /** Every per-layer metric name and unit, the same on every workload;
    * a layer a workload does not use reads 0.
    */
  val Layers: Seq[(String, String)] =
    RoundLayers ++ OpTypes.flatMap(t => OpLayers.map { case (n, u) => s"$n.$t" -> u }) ++
      PackageLayers ++ Seq("trace.round_s" -> "s", "failed_share" -> "ratio")

  /** Sum `keys` over several ops (peaks: the max). */
  def totals(ops: Seq[Map[String, Double]], keys: Seq[String]): Map[String, Double] =
    keys.map { k =>
      val vs = ops.map(_.getOrElse(k, 0.0))
      k -> (if (k.contains("peak")) vs.foldLeft(0.0)(math.max) else vs.sum)
    }.toMap

  /** Operator package of a registered query, from its name prefix. */
  def packageOf(query: String): String = query.takeWhile(_ != '_') match {
    case "d" => "dedup"
    case "e" => "ann"
    case "st" => "streaming"
    case "t" => "text"
    case "ev" => "ops"
    case other => throw new IllegalArgumentException(s"no package for prefix '$other'")
  }
}
