package graftbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class MetricsSpec extends AnyFunSuite {
  private lazy val spec =
    new ObjectMapper().readTree(Files.readString(Paths.get("..", "BENCHMARK.json")))

  private def declared(key: String): Seq[(String, String)] =
    spec.get(key).elements().asScala.map(m => m.get("name").asText() -> m.get("unit").asText()).toSeq

  test("every end-to-end metric the benchmark prints is declared in BENCHMARK.json with its unit") {
    assert(declared("end_to_end") === Metrics.endToEnd.map(m => m.name -> m.unit))
  }

  test("every per-layer metric the benchmark prints is declared in BENCHMARK.json with its unit") {
    assert(declared("per_layer") === Metrics.perLayer.map(m => m.name -> m.unit))
  }

  test("BENCHMARK.json names the workloads the benchmark runs") {
    assert(spec.get("workloads").elements().asScala.map(_.get("name").asText()).toSeq === Main.Workloads)
  }

  test("an undeclared metric cannot be reported") {
    assertThrows[IllegalArgumentException](Metrics.unitOf("no_such_metric"))
  }
}
