package graft.perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark prints every metric BENCHMARK.json names, with the
  * unit it declares there. */
class OutputSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()
  private val spec = mapper.readTree(new File("../BENCHMARK.json"))

  private def declared(key: String): Seq[(String, String)] =
    spec.get(key).elements().asScala.map(m => m.get("name").asText() -> m.get("unit").asText()).toSeq

  test("the catalog matches BENCHMARK.json, names and units") {
    assert(Catalog.EndToEnd == declared("end_to_end"))
    assert(Catalog.PerLayer == declared("per_layer"))
  }

  test("the workloads match BENCHMARK.json") {
    assert(Main.Workloads == spec.get("workloads").elements().asScala.map(_.get("name").asText()).toSeq)
  }

  test("a result carries every declared metric with its unit and sample count") {
    Seq(false, true).foreach { trace =>
      val out = new Out
      Catalog.declared(trace).zipWithIndex.foreach { case ((n, u), i) => out.add(n, i + 0.5, u, 3) }
      assert(out.missing(trace).isEmpty)
      val metrics = mapper.readTree(out.json(10, 0)).get("metrics")
      Catalog.declared(trace).foreach { case (n, u) =>
        assert(metrics.get(n).get("unit").asText() == u, n)
        assert(metrics.get(n).get("samples").asInt() == 3, n)
      }
    }
  }

  test("a result missing a declared metric, or giving it another unit, is refused") {
    val out = new Out
    Catalog.EndToEnd.drop(1).foreach { case (n, u) => out.add(n, 1.0, u, 1) }
    assert(out.missing(trace = false) == Seq("setup_s"))
    out.add("setup_s", 1.0, "ms", 1)
    assert(out.missing(trace = false) == Seq("setup_s"))
    assertThrows[IllegalArgumentException](out.print(1, 0, trace = false))
  }
}
