package loadbench

import scala.io.Source

import org.scalatest.funsuite.AnyFunSuite

class LayersSpec extends AnyFunSuite {

  test("BENCHMARK.json lists exactly the per-layer metrics the harness prints") {
    val src = Source.fromFile("../BENCHMARK.json", "UTF-8")
    val json = try src.mkString finally src.close()
    val perLayer = json.substring(json.indexOf("\"per_layer\""))
    val listed = """"name": "([^"]+)",\s*"unit": "([^"]+)"""".r
      .findAllMatchIn(perLayer).map(m => m.group(1) -> m.group(2)).toSeq
    assert(listed == Workload.Layers)
  }

  test("every slice query maps to an operator package") {
    assert(Main.SliceQueries.map(Workload.packageOf).toSet == Workload.Packages.toSet)
  }
}
