package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The driver contract [[Bench.main]] prints as its last stdout line:
  * one JSON object carrying the graded loop and nothing else. */
class BenchContractSpec extends AnyFunSuite {

  private val queryReps = Seq(
    "q_a" -> Seq(0.30, 0.10, 0.20),
    "q_b" -> Seq(1.00, 3.00, 2.00))

  private def parse(sfDir: String) = new ObjectMapper().readTree(
    Bench.contractLine(queryReps, sharedBuild = 1.5, reps = 3,
      codegenCompiles = 42L, sfDir = sfDir))

  test("the contract line carries the graded loop's fields and no section key") {
    val j = parse("/data/lake/sf0.1")
    assert(j.fieldNames().asScala.toSet == Set("metric", "value", "unit",
      "queries", "queries_reps", "shared_build", "reps", "codegen_compiles",
      "sf", "sf_dir"))
    assert(j.get("metric").asText == "total")
    assert(j.get("unit").asText == "sec")
    // queries are the per-query medians; value is their total
    val qs = j.get("queries")
    assert(qs.fieldNames().asScala.toSeq == Seq("q_a", "q_b"))
    assert(qs.get("q_a").asDouble == 0.20 && qs.get("q_b").asDouble == 2.00)
    assert(math.abs(j.get("value").asDouble - 2.20) < 1e-9)
    assert(j.get("queries_reps").get("q_b").elements().asScala
      .map(_.asDouble).toSeq == Seq(1.00, 3.00, 2.00))
    assert(j.get("shared_build").asDouble == 1.5)
    assert(j.get("reps").asInt == 3 && j.get("codegen_compiles").asLong == 42L)
  }

  test("sf is numeric for an sfN directory and the quoted directory otherwise") {
    val numeric = parse("/data/lake/sf0.1")
    assert(numeric.get("sf").isNumber && numeric.get("sf").asDouble == 0.1)
    assert(numeric.get("sf_dir").asText == "/data/lake/sf0.1")
    assert(parse("/data/lake/sf10/").get("sf").asDouble == 10.0)
    val named = parse("/data/lake/weekly")
    assert(named.get("sf").isTextual && named.get("sf").asText == "/data/lake/weekly")
  }
}
