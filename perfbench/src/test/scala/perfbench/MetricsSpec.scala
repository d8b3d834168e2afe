package perfbench

import java.nio.file.Paths

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** BENCHMARK.json and the harness declare the same workloads and metrics. */
class MetricsSpec extends AnyFunSuite {
  private val json = new ObjectMapper().readTree(Paths.get("..", "BENCHMARK.json").toFile)

  private def declared(key: String): Vector[Metrics.M] =
    json.get(key).elements().asScala.map(m =>
      Metrics.M(m.get("name").asText, m.get("unit").asText)).toVector

  test("end-to-end and per-layer metrics match the harness, in order") {
    assert(declared("end_to_end") === Metrics.EndToEnd)
    assert(declared("per_layer") === Metrics.PerLayer)
  }

  test("workloads match the harness") {
    val names = json.get("workloads").elements().asScala.map(_.get("name").asText).toSet
    assert(names === Main.Workloads.keySet)
  }
}
