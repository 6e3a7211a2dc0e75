package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** BENCHMARK.json declares exactly the metrics the runs print. */
class BenchmarkJsonSpec extends AnyFunSuite {
  private val spec = new ObjectMapper().readTree(new java.io.File("../BENCHMARK.json"))
  private def entries(key: String) =
    spec.get(key).elements().asScala.map(m => m.get("name").asText() -> m.get("unit").asText()).toSeq

  test("end-to-end metrics match the untraced run's, name and unit") {
    assert(entries("end_to_end") == Main.EndToEnd)
  }

  test("per-layer metrics match the traced run's, name and unit") {
    assert(entries("per_layer") == Layers.Units)
  }

  test("every workload is one the benchmark runs") {
    val names = spec.get("workloads").elements().asScala.map(_.get("name").asText()).toSet
    assert(names == Main.Workloads.keySet)
  }

  test("setup_s carries the largest bound") {
    val bounds = spec.get("end_to_end").elements().asScala
      .map(m => m.get("name").asText() -> m.get("bound").asDouble()).toMap
    assert(bounds("setup_s") == bounds.values.max)
  }
}
