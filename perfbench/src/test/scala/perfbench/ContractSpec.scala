package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** BENCHMARK.json declares exactly the metrics the benchmark reports. */
class ContractSpec extends AnyFunSuite {

  private val spec = new ObjectMapper().readTree(new File("../BENCHMARK.json"))
  private def entries(key: String) = spec.get(key).elements().asScala.toSeq

  test("per-layer metrics match the traced run's list") {
    val declared = entries("per_layer").map(e =>
      (e.get("name").asText, e.get("unit").asText, e.get("better").asText))
    assert(declared == Layers.Names)
  }

  test("end-to-end metrics are the untraced run's list, setup_s with the largest bound") {
    assert(entries("end_to_end").map(_.get("name").asText) ==
      Seq("setup_s", "wall_s", "ok_ratio", "peak_rss_mb"))
    val bounds = entries("end_to_end").map(e => e.get("name").asText -> e.get("bound").asDouble).toMap
    assert(bounds.values.forall(b => b > 0 && b <= 0.25))
    assert(bounds("setup_s") == bounds.values.max)
  }

  test("the workloads are the ones Main knows") {
    val names = entries("workloads").map(_.get("name").asText)
    assert(names == Seq("xes_service", "pair_gen", "fixpoint"))
    names.foreach(n => Main.workload(n, "data", new File("pins.tsv").toPath))
  }
}
