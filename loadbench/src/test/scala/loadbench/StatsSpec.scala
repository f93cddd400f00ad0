package loadbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0)) == 3.0)
    assert(Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(9.0, 7.0, 8.0, 1.0, 100.0)) == 8.0)
    intercept[IllegalArgumentException](Stats.median(Nil))
  }

  test("failed share is failed over attempted") {
    assert(Stats.failedShare(0, 4) == 0.0)
    assert(Stats.failedShare(1, 2) == 0.5)
    assert(Stats.failedShare(3, 3) == 1.0)
    assert(Stats.failedShare(0, 0) == 0.0)
    intercept[IllegalArgumentException](Stats.failedShare(3, 2))
  }

  test("ratio of an unused layer is 0") {
    assert(Stats.ratio(0, 0) == 0.0)
    assert(Stats.ratio(2, 8) == 0.25)
  }

  test("result line: round time is the median over rounds without failures") {
    val rounds = Seq(
      Round(10.0, 2, 0),
      Round(12.0, 2, 0),
      Round(99.0, 2, 1),
      Round(11.0, 2, 0))
    val line = Main.result(rounds, Seq(3.0, 1.0, 2.0), traced = false)
    assert(line.startsWith("""{"correct": false, "attempted": 8, "failed": 1, "metrics": {"""))
    assert(line.contains(""""setup_s": {"value": 2.0, "unit": "s"}"""))
    assert(line.contains(""""round_s": {"value": 11.0, "unit": "s"}}}"""))
  }

  test("result line: only a run without failed ops is correct") {
    assert(Main.result(Seq(Round(10.0, 2, 0), Round(11.0, 2, 0)), Seq(1.0), traced = false)
      .startsWith("""{"correct": true, "attempted": 4, "failed": 0,"""))
    // A thrown op fails fast: the only round is short, and the run must not read as correct.
    assert(Main.result(Seq(Round(0.5, 1, 1)), Seq(1.0), traced = false)
      .startsWith("""{"correct": false, "attempted": 1, "failed": 1,"""))
  }

  test("traced result line: every layer, failed share over all ops") {
    val rounds = Seq(
      Round(10.0, 2, 1, Map("spark.jobs" -> 40.0, "driver_heap_live_peak_mb" -> 300.0)),
      Round(12.0, 2, 0, Map("spark.jobs" -> 46.0, "driver_heap_live_peak_mb" -> 100.0)))
    val line = Main.result(rounds, Seq(1.0), traced = true)
    assert(line.startsWith("""{"correct": false, "attempted": 4, "failed": 1,"""))
    assert(line.contains(""""failed_share": {"value": 0.25, "unit": "ratio"}"""))
    assert(line.contains(""""spark.jobs": {"value": 46.0, "unit": "count"}"""))
    assert(line.contains(""""trace.round_s": {"value": 12.0, "unit": "s"}"""))
    assert(line.contains(""""driver_heap_live_peak_mb": {"value": 300.0, "unit": "MB"}"""))
    Workload.Layers.foreach { case (name, _) => assert(line.contains(s""""$name": {""")) }
  }

  test("digest is order independent and sensitive to content") {
    def digest(rows: Seq[Seq[Any]]): Digest = { val d = new Digest; rows.foreach(d.add); d }
    val rows = Seq(Seq("a", 1L, 2.5), Seq("b", 2L, null), Seq("c", 3L, 0.1 + 0.2))
    assert(digest(rows) == digest(rows.reverse))
    assert(digest(rows) != digest(rows.take(2)))
    assert(digest(rows) != digest(rows.updated(0, Seq("a", 1L, 2.6))))
    assert(digest(Seq(Seq(0.30000000000000004))) == digest(Seq(Seq(0.3))))
  }

  test("peak width is the most overlapping tasks, a finish freeing its slot first") {
    val c = new SparkRecorder.Counts
    assert(c.peakWidth == 0)
    c.taskSpans ++= Seq((0L, 10L), (5L, 15L), (10L, 20L), (12L, 13L))
    assert(c.peakWidth == 3)
  }

  test("totals sum a round's ops, peak width and peak heap take the max") {
    val t = Workload.totals(Seq(
      Map("spark.jobs" -> 2.0, "spark.peak_width" -> 3.0, "driver_heap_live_peak_mb" -> 90.0),
      Map("spark.jobs" -> 5.0, "spark.peak_width" -> 2.0, "driver_heap_live_peak_mb" -> 80.0)),
      Seq("spark.jobs", "spark.peak_width", "spark.tasks", "driver_heap_live_peak_mb"))
    assert(t == Map("spark.jobs" -> 7.0, "spark.peak_width" -> 3.0, "spark.tasks" -> 0.0,
      "driver_heap_live_peak_mb" -> 90.0))
  }
}
