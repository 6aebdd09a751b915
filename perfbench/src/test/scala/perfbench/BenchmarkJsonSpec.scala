package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** BENCHMARK.json declares what the harness prints; the two must agree. */
class BenchmarkJsonSpec extends AnyFunSuite {
  private val json = new ObjectMapper().readTree(new java.io.File("../BENCHMARK.json"))
  private def names(key: String) = json.get(key).elements().asScala.map(_.get("name").asText).toSeq

  test("declared metrics are the ones the harness prints") {
    assert(names("end_to_end") == Main.EndToEnd)
    assert(names("per_layer") == Main.PerLayer)
    assert(names("end_to_end").contains("setup_s"))
  }

  test("every declared workload runs") {
    assert(names("workloads").nonEmpty)
    names("workloads").foreach(w => assert(Main.workload(w).name == w))
  }
}
