package perfbench

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.server.Json

/** BENCHMARK.json and the bench must name the same metrics and units. */
class MetricsSpec extends AnyFunSuite {
  private def listed(key: String): Seq[(String, String)] = {
    val doc = Json.parse(new String(Files.readAllBytes(
      Paths.get("..", "BENCHMARK.json")), "UTF-8")).asInstanceOf[Map[String, Any]]
    doc(key).asInstanceOf[Vector[Map[String, Any]]]
      .map(m => (m("name").toString, m("unit").toString))
  }

  test("end-to-end metrics match BENCHMARK.json") {
    assert(listed("end_to_end") == Metrics.endToEnd)
  }

  test("per-layer metrics match BENCHMARK.json") {
    assert(listed("per_layer") == Metrics.perLayer)
  }
}
