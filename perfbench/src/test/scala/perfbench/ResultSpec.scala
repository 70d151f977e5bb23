package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

class ResultSpec extends AnyFunSuite {

  test("the result line parses to exactly the four keys, metrics with value and unit") {
    val r = Result(Nil, 12, 0, Seq(("latency_p50_ms", 495.7961595, "ms"), ("recall", 0.85546875, "ratio"),
      ("tiny", 1e-9, "s")))
    val node = new ObjectMapper().readTree(r.json)
    assert(node.fieldNames().asScala.toSet == Set("correct", "attempted", "failed", "metrics"))
    assert(node.get("correct").asBoolean() && node.get("attempted").asLong() == 12)
    val m = node.get("metrics")
    assert(m.get("latency_p50_ms").get("value").asDouble() == 495.7961595)
    assert(m.get("latency_p50_ms").get("unit").asText() == "ms")
    assert(m.get("tiny").get("value").asDouble() == 1e-9)
  }

  test("a failed check makes the line incorrect") {
    val node = new ObjectMapper().readTree(Result(Seq("x"), 1, 0, Nil).json)
    assert(!node.get("correct").asBoolean())
  }

  test("BENCHMARK.json lists exactly the per-layer metrics a traced run prints") {
    val spec = new ObjectMapper().readTree(new java.io.File("../BENCHMARK.json"))
    val listed = spec.get("per_layer").elements().asScala
      .map(m => m.get("name").asText() -> m.get("unit").asText()).toSeq
    assert(listed == new Layers(null, null).names)
  }

  test("per-layer names and units are unique and well formed") {
    val names = new Layers(null, null).names
    assert(names.map(_._1).distinct.length == names.length)
    names.foreach { case (n, u) =>
      assert(n.matches("[A-Za-z0-9][A-Za-z0-9_.-]{0,63}"), n)
      assert(u.matches("[A-Za-z0-9_/%.-]{1,16}"), u)
    }
  }
}
