package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The events read boundary (GateSupport's ts normalization) must
  * accept BOTH testdata vintages — int64-nanosecond `ts` (pre-r10)
  * and `timestamp[us]` (r10+) — and produce identical results. The
  * shipped testdata only exercises one vintage at a time, so without
  * this spec the other branch can rot invisibly until the next
  * regeneration flips the schema back (exactly how r10 lost 18 gates
  * overnight).
  */
class EventTsVintageSpec extends AnyFunSuite with SparkSpec {

  // events-only gated queries (no other tables in the staged dirs)
  private val eventQueries =
    Seq("ev_sessionize", "ev_hourly_agg", "j_props_extract",
      "ev_ewma", "ev_rfm", "ev_scd2")

  test("timestamp[us] and ns-long events vintages gate identically") {
    val src = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val tmp = Files.createTempDirectory("graft_ts_vintage")
    val tsDir = tmp.resolve("ts_us").toString
    val nsDir = tmp.resolve("ns_long").toString
    // vintage A: timestamp (written back as parquet timestamp, the
    // r10+ layout); vintage B: the historical int64-ns convention
    src.write.mode("overwrite").parquet(s"$tsDir/events.parquet")
    src.select(
      col("event_id"),
      (unix_micros(col("ts").cast("timestamp")) * 1000L).as("ts"),
      col("user_id"), col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$nsDir/events.parquet")

    for (q <- eventQueries) {
      val a = SparkEntry.queries(q)(spark, tsDir).collect().map(_.toString)
      val b = SparkEntry.queries(q)(spark, nsDir).collect().map(_.toString)
      assert(a.sameElements(b),
        s"$q differs between ts vintages (${a.length} vs ${b.length} rows)")
      assert(a.nonEmpty, s"$q returned no rows — vacuous comparison")
    }
  }

  test("an unexpected events.ts type fails loudly at the read boundary") {
    val src = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val tmp = Files.createTempDirectory("graft_ts_bad")
    val badDir = tmp.resolve("bad").toString
    src.select(col("event_id"),
      unix_micros(col("ts").cast("timestamp")).cast("double").as("ts"),
      col("user_id"), col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$badDir/events.parquet")
    val e = intercept[IllegalStateException] {
      SparkEntry.queries("ev_sessionize")(spark, badDir)
    }
    assert(e.getMessage.contains("events.ts"))
  }
}
