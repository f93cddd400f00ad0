package loadbench

/** The metric math the benchmark reports. */
object Stats {

  /** Median of `xs` (mean of the middle two for an even count). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Failed ops over attempted ops; 0 when nothing was attempted. */
  def failedShare(failed: Long, attempted: Long): Double = {
    require(failed >= 0 && failed <= attempted, s"failed $failed of $attempted")
    if (attempted == 0) 0.0 else failed.toDouble / attempted
  }

  /** `part / whole`, 0 when `whole` is 0 (a layer the op never used). */
  def ratio(part: Double, whole: Double): Double = if (whole == 0) 0.0 else part / whole
}
