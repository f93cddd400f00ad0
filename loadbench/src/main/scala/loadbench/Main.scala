package loadbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** The loader benchmark: one process, one client in a closed loop.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      [--work <dir>] [--bench-dir <dir>] [--record]
  * }}}
  *
  * Sets the inputs up [[SetupRepeats]] times (the median is `setup_s`),
  * prepares untimed state, then runs timed ops until `--seconds` have
  * passed (at least one). The last stdout line is the JSON result: with
  * `--trace 0` the end-to-end metrics, with `--trace 1` the per-layer
  * metrics of a traced run. The peak live heap is per-layer: whether an
  * old-generation cycle has run before an op's last young GC makes it
  * bimodal from run to run. `--record` writes the slice's expected
  * outputs instead of measuring.
  */
object Main {

  val SetupRepeats = 3

  /** The slice of registered queries: one per operator package. */
  val SliceQueries: Seq[String] =
    Seq("d_cdc_dupes", "e_jl_distortion", "st_changelog", "t_pr_curve", "ev_rfm")

  private val SliceSizes = SliceWorkload.Sizes(docs = 500, vectors = 500, events = 10000,
    ordersSf = 0.01)

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, benchDir: String, record: Boolean)

  def parse(args: Array[String]): Args = {
    val kv = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    def need(k: String): String = kv.getOrElse(k, sys.error(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", kv.getOrElse("--work", "loadbench/work"),
      kv.getOrElse("--bench-dir", "loadbench"), args.contains("--record"))
  }

  def workload(spark: SparkSession, a: Args): Workload = {
    val expected = new File(a.benchDir, "slice_expected.tsv")
    a.workload match {
      case "star_15k" => new LoaderWorkload(spark, LoaderShape.star(0.01), a.seed, a.work)
      case "snowflake_6k" => new LoaderWorkload(spark, LoaderShape.snowflake(0.001), a.seed, a.work)
      case "operator_slice" =>
        new SliceWorkload(spark, SliceQueries, SliceSizes, a.seed, a.work, expected)
      case other => sys.error(s"unknown workload $other")
    }
  }

  def session(): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors.toString
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    new File(a.work).mkdirs()
    val spark = session()
    val wl = workload(spark, a)
    try {
      val setups = (1 to SetupRepeats).map { _ =>
        val t0 = System.nanoTime
        wl.setup()
        (System.nanoTime - t0) / 1e9
      }
      log(s"set-up ${setups.map("%.3f".format(_)).mkString(" ")} s")
      if (a.record) {
        wl.asInstanceOf[SliceWorkload].record()
        return
      }
      wl.prepare()
      log("prepared")
      val tracer = if (a.trace) Some(new Tracer(spark, Thread.currentThread)) else None
      val rounds = scala.collection.mutable.ArrayBuffer.empty[Round]
      val start = System.nanoTime
      try
        do rounds += wl.round(rounds.size, tracer)
        while ((System.nanoTime - start) / 1e9 < a.seconds)
      finally tracer.foreach { t =>
        t.spans.write(new File(a.work, s"spans_${a.workload}_${a.seed}.jsonl"))
        t.close()
      }
      println(result(rounds.toSeq, setups, a.trace))
    } finally {
      wl.cleanup()
      spark.stop()
    }
  }

  /** The result line. Op time is the median over rounds with no failed
    * op, or over all rounds if every one had a failure. Any failed op,
    * a throw or a wrong output, makes the result incorrect.
    */
  def result(rounds: Seq[Round], setups: Seq[Double], traced: Boolean): String = {
    val attempted = rounds.map(_.attempted).sum
    val failed = rounds.map(_.failed).sum
    val clean = rounds.filter(_.failed == 0)
    val timed = if (clean.nonEmpty) clean else rounds
    val metrics: Seq[(String, Double, String)] =
      if (!traced)
        Seq(("setup_s", Stats.median(setups), "s"),
          ("round_s", Stats.median(timed.map(_.seconds)), "s"))
      else
        Workload.Layers.map { case (name, unit) =>
          val v = name match {
            case "failed_share" => Stats.failedShare(failed, attempted)
            case "trace.round_s" => Stats.median(timed.map(_.seconds))
            case "driver_heap_live_peak_mb" => rounds.map(_.layers.getOrElse(name, 0.0)).max
            case _ => Stats.median(timed.map(_.layers.getOrElse(name, 0.0)))
          }
          (name, v, unit)
        }
    val body = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${java.lang.Double.toString(v)}, "unit": "$u"}"""
    }.mkString(", ")
    val correct = failed == 0
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$body}}"""
  }

  def log(msg: String): Unit = System.err.println(s"[loadbench] $msg")
}
