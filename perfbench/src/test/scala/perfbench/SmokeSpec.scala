package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** Runs every workload at a tiny size and checks the output contract:
  * every metric prints by name with a unit, the result line parses, and
  * a failing operation is counted rather than swallowed. */
class SmokeSpec extends AnyFunSuite {
  private val json = new ObjectMapper()

  private def run(workload: String, trace: Boolean = false, failOp: Int = -1): (Seq[String], JsonNode) = {
    val work = java.nio.file.Files.createTempDirectory(Scratch.dir, workload).toString
    val lines = Harness.run(Harness.Args(workload, seed = 1, seconds = 1, trace = trace, work = work,
      scale = 0.05, failOp = failOp))
    (lines, json.readTree(lines.last))
  }

  private def metricsOf(result: JsonNode): Map[String, String] =
    result.get("metrics").fields().asScala.map(e => e.getKey -> e.getValue.get("unit").asText).toMap

  private def checkShape(result: JsonNode): Unit = {
    assert(result.fieldNames().asScala.toSet == Set("correct", "attempted", "failed", "metrics"))
    assert(result.get("attempted").asInt >= 1)
    result.get("metrics").elements().asScala.foreach { m =>
      assert(m.get("value").isNumber && m.get("unit").asText.nonEmpty)
    }
  }

  private val benchmark = json.readTree(new java.io.File("../BENCHMARK.json"))
  private def declared(key: String): Map[String, String] =
    benchmark.get(key).elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText).toMap

  test("BENCHMARK.json declares exactly the metrics the harness prints") {
    assert(declared("end_to_end") == Harness.EndToEnd.toMap)
    assert(declared("per_layer") == Harness.PerLayer.toMap)
    val listed = benchmark.get("workloads").elements().asScala.map(_.get("name").asText).toSet
    assert(listed.subsetOf(Harness.Workloads.toSet))
  }

  Harness.Workloads.foreach { w =>
    test(s"$w prints every end-to-end metric with its unit and passes its checks") {
      val (lines, result) = run(w)
      checkShape(result)
      assert(metricsOf(result) == Harness.EndToEnd.toMap)
      assert(result.get("correct").asBoolean, lines.mkString("\n"))
      assert(result.get("failed").asInt == 0)
      (Harness.EndToEnd.map(_._1) :+ "failed_frac").foreach(m => assert(lines.exists(_.startsWith(s"# $m "))))
      assert(result.get("metrics").elements().asScala.forall(_.get("value").asDouble > 0))
    }
  }

  test("a traced run prints every per-layer metric with its unit") {
    val (lines, result) = run("ingest_daily", trace = true)
    checkShape(result)
    assert(metricsOf(result) == Harness.PerLayer.toMap)
    assert(result.get("correct").asBoolean, lines.mkString("\n"))
  }

  test("a failing operation raises failed_frac and clears correct") {
    val (lines, result) = run("serve_mixed", failOp = 1)
    assert(result.get("failed").asInt >= 1)
    assert(!result.get("correct").asBoolean)
    val frac = lines.find(_.startsWith("# failed_frac ")).get.split("\\s+")(2).toDouble
    assert(frac > 0)
  }
}
