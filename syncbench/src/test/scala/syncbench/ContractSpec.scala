package syncbench

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** BENCHMARK.json names exactly the metrics the runs report. */
class ContractSpec extends AnyFunSuite {

  private val root = new com.fasterxml.jackson.databind.ObjectMapper()
    .readTree(new java.io.File("../BENCHMARK.json"))

  private def metrics(key: String) =
    root.get(key).elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq

  test("end-to-end and per-layer metrics match the benchmark's declaration") {
    assert(metrics("end_to_end") == Result.endToEnd)
    assert(metrics("per_layer") == Result.perLayer)
  }

  test("the result line carries exactly the contract's keys") {
    val line = Result.json(correct = true, 3, 0, Map("setup_s" -> (1.25, "s")))
    val j = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(j.fieldNames().asScala.toSeq == Seq("correct", "attempted", "failed", "metrics"))
    assert(j.get("metrics").get("setup_s").get("value").asDouble == 1.25)
  }
}
