package graft

import org.apache.spark.sql.SparkSession

/** The one session builder for every main that runs registered
  * queries: `local[$SPARK_GRAFT_CPUS]` (default 4) with shuffle
  * partitions = cpus, AQE on, the UI off, UTC, and NANOS-annotated
  * parquet timestamps read as longs (older events vintages; the read
  * boundary in [[gates.GateSupport]] normalizes either vintage).
  * `SPARK_GRAFT_EXTRA_CONF` adds session confs as ';'-separated k=v
  * pairs, for A/B-ing a config hypothesis before baking it in.
  *
  * Sessions that install [[GraftExtensions]] and the test session
  * (pinned to `local[4]`) build their own.
  */
object GraftSession {
  def build(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach(_.split(';')
      .filter(_.contains('=')).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        builder.config(k.trim, v.trim)
      })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
