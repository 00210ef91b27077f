package graft.perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** What a run prints agrees with BENCHMARK.json, and a result line has
  * exactly its four keys.
  */
class MetricsSpec extends AnyFunSuite {

  private val json = new ObjectMapper()

  private lazy val benchmark: JsonNode = {
    val f = Iterator.iterate(new File("BENCHMARK.json").getAbsoluteFile)(f =>
      new File(f.getParentFile.getParentFile, "BENCHMARK.json"))
      .take(3).find(_.isFile)
      .getOrElse(fail("BENCHMARK.json not found beside or above the benchmark"))
    json.readTree(f)
  }

  private def declared(key: String): Seq[(String, String)] =
    benchmark.get(key).elements().asScala
      .map(m => m.get("name").asText -> m.get("unit").asText).toSeq

  test("the end-to-end and per-layer metrics match BENCHMARK.json by name and unit") {
    assert(declared("end_to_end") == Metrics.EndToEnd)
    assert(declared("per_layer") == Metrics.PerLayer)
  }

  test("BENCHMARK.json names the workloads the benchmark runs") {
    val names = benchmark.get("workloads").elements().asScala.map(_.get("name").asText).toSet
    assert(names == Main.Workloads.keySet)
  }

  test("a result line carries exactly correct, attempted, failed and every declared metric") {
    for (traced <- Seq(false, true)) {
      val ms = Metrics.forMode(traced).zipWithIndex.map { case ((n, _), i) => n -> (i + 0.5) }
      val line = json.readTree(Report(10, 0, ms, traced).json)
      assert(line.fieldNames().asScala.toSet == Set("correct", "attempted", "failed", "metrics"))
      assert(line.get("correct").asBoolean && line.get("attempted").asLong == 10)
      val printed = line.get("metrics").fields().asScala
        .map(e => e.getKey -> e.getValue.get("unit").asText).toSeq
      assert(printed == Metrics.forMode(traced))
    }
  }

  test("a result refuses an undeclared or missing metric, and a run that attempted nothing") {
    val ok = Metrics.EndToEnd.map(_._1 -> 1.0)
    intercept[IllegalArgumentException](Report(1, 0, ok :+ ("bogus" -> 1.0), traced = false).json)
    intercept[IllegalArgumentException](Report(1, 0, ok.tail, traced = false).json)
    intercept[IllegalArgumentException](Report(0, 0, ok, traced = false))
    assert(json.readTree(Report(3, 1, ok, traced = false).json).get("correct").asBoolean == false)
  }

  test("malformed arguments fail loudly") {
    val good = Seq("--workload", "serve", "--seed", "1", "--seconds", "1",
      "--trace", "0", "--work", "w", "--records", "r")
    assert(Main.parse(good).workload == "serve")
    intercept[IllegalArgumentException](Main.parse(good.updated(1, "nope")))
    intercept[IllegalArgumentException](Main.parse(good.updated(5, "0")))
    intercept[IllegalArgumentException](Main.parse(good.updated(7, "2")))
    intercept[IllegalArgumentException](Main.parse(good.take(6)))
  }
}
