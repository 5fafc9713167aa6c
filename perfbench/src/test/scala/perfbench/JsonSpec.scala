package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

class JsonSpec extends AnyFunSuite {
  test("names and units are restricted by construction") {
    assert(Names.valid("delta.selectiveMerge.busy_s"))
    assert(Names.valid("op_p90_s") && Names.valid("lake") && Names.valid("analytics"))
    Seq("", "a\"b", "a b", "_x", "x\\y", "é", "a" * 65).foreach(n => assert(!Names.valid(n), n))
    assert(Names.validUnit("ops/s") && Names.validUnit("%") && !Names.validUnit("m s"))
    assertThrows[IllegalArgumentException](Metric("bad\"name", 1.0, "s"))
  }

  test("the result line is serialized by Jackson with exactly the four keys") {
    val node = Json.result(correct = true, attempted = 3, failed = 0,
      Seq(Metric("op_p50_s", 0.25, "s"), Metric("ops_per_s", 4.0, "ops/s")))
    val text = Json.mapper.writeValueAsString(node)
    val back = Json.mapper.readTree(text)
    assert(back.fieldNames().asScala.toSeq == Seq("correct", "attempted", "failed", "metrics"))
    assert(back.get("metrics").get("op_p50_s").get("value").asDouble() == 0.25)
    assert(back.get("metrics").get("ops_per_s").get("unit").asText() == "ops/s")
    assertThrows[IllegalArgumentException](
      Json.result(true, 1, 0, Seq(Metric("x", 1, "s"), Metric("x", 2, "s"))))
    assertThrows[IllegalArgumentException](Json.result(true, 1, 0, Seq(Metric("x", Double.NaN, "s"))))
  }

  test("every declared metric has a valid, unique name") {
    val all = Metrics.EndToEnd ++ Metrics.PerLayer
    all.foreach(d => assert(Names.valid(d.name) && Names.validUnit(d.unit), d))
    assert(all.map(_.name).distinct.size == all.size)
    assert(Metrics.PerLayer.size <= 128)
  }

  test("BENCHMARK.json declares the same workloads and metrics as the code") {
    val bench = Json.mapper.readTree(new File("../BENCHMARK.json"))
    def defs(key: String) = bench.get(key).elements().asScala.map(n =>
      MetricDef(n.get("name").asText(), n.get("unit").asText(), n.get("better").asText())).toSeq
    assert(defs("end_to_end") == Metrics.EndToEnd)
    assert(defs("per_layer") == Metrics.PerLayer)
    assert(bench.get("workloads").elements().asScala.map(_.get("name").asText()).toSeq ==
      Main.Workloads)
  }
}
