package perfbench

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The result line parses back to what was written, and the metric
  * catalog agrees with BENCHMARK.json.
  */
class ReportSpec extends AnyFunSuite {

  test("a result line round-trips through its JSON") {
    val r = Result(correct = true, attempted = 13, failed = 0, Seq(
      "setup_s" -> Metric(0.8127345, "s"),
      "op_mean_ms" -> Metric(1203.4000000001, "ms"),
      "meta.http_requests" -> Metric(1234.0, "count")))
    assert(Report.parse(r.toJson) == r)
    val f = r.copy(correct = false, failed = 2)
    assert(Report.parse(f.toJson) == f)
  }

  test("a line with other keys or a non-numeric value is refused") {
    intercept[IllegalArgumentException](Report.parse(
      """{"correct":true,"attempted":1,"failed":0,"metrics":{},"x":1}"""))
    intercept[IllegalArgumentException](Report.parse(
      """{"correct":true,"attempted":1,"failed":0,"metrics":{"a":{"value":"1","unit":"s"}}}"""))
  }

  test("BENCHMARK.json lists exactly the catalog's metrics") {
    val path = Seq("../BENCHMARK.json", "BENCHMARK.json").map(Paths.get(_))
      .find(Files.exists(_)).get
    val spec = Report.M.readTree(Files.readString(path))
    def names(key: String) = {
      val b = Seq.newBuilder[(String, String, String)]
      spec.path(key).elements().forEachRemaining(m => b += ((
        m.path("name").asText, m.path("unit").asText, m.path("better").asText)))
      b.result()
    }
    assert(names("end_to_end") ==
      Metrics.EndToEnd.map(d => (d.name, d.unit, d.better)))
    assert(names("per_layer") ==
      Metrics.PerLayer.map(d => (d.name, d.unit, d.better)))
    spec.path("end_to_end").elements().forEachRemaining { m =>
      val bound = Metrics.EndToEnd.find(_.name == m.path("name").asText)
        .flatMap(_.bound)
      assert(bound.contains(m.path("bound").asDouble))
    }
  }
}
