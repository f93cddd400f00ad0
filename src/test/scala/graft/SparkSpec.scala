package graft

import org.apache.spark.sql.SparkSession

/** Shared local SparkSession for specs (one JVM per forked test run). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      // old events.parquet vintages carry NANOS-annotated timestamps;
      // this reads those as raw longs exactly like GraftSession does
      // (a no-op on timestamp[us] vintages — the read boundary in
      // gates.GateSupport normalizes either way)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

trait SparkSpec {
  lazy val spark: SparkSession = SparkTestSession.spark
}
