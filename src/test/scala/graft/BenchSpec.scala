package graft

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** [[Bench.run]]'s output contract: the compact line is the last stdout
  * line, parses as JSON and carries exactly the pinned keys; a query that
  * throws is counted in `n_failed` and kept out of `queries` and `total`;
  * the full line lands in [[Bench.Artifact]] under `target/bench/`. */
class BenchSpec extends AnyFunSuite with SparkSessionTest {

  private val compactKeys = Set("metric", "value", "unit", "n", "sf", "cpus",
    "steal_pct", "load1_start", "load1_end", "memo_first_pay_total_s",
    "n_failed", "full_artifact")

  test("a throwing entry is a failure, and the compact line is last with the pinned keys") {
    val artifact = Paths.get(Bench.Artifact)
    Files.deleteIfExists(artifact)
    val queries = Map[String, Bench.Query](
      "q_agg_pricing_summary" -> SparkEntry.queries("q_agg_pricing_summary"),
      "q_throws" -> ((_, _) => throw new IllegalStateException("planned failure")))
    val buf = new ByteArrayOutputStream
    val failed = Console.withOut(buf)(Bench.run(spark, queries, sf0001))
    assert(failed == Seq("q_throws"))

    val json = new ObjectMapper
    val lines = buf.toString("UTF-8").split("\n").filter(_.nonEmpty)
    val compact = json.readTree(lines.last)
    assert(compact.fieldNames.asScala.toSet == compactKeys)
    assert(compact.get("n_failed").asInt == 1)
    assert(compact.get("n").asInt == 1)
    assert(compact.get("full_artifact").asText == Bench.Artifact)

    val full = json.readTree(lines(lines.length - 2))
    val timed = full.get("queries")
    assert(timed.fieldNames.asScala.toSet == Set("q_agg_pricing_summary"))
    assert(compact.get("value").asDouble == full.get("value").asDouble)
    assert(full.get("value").asDouble == timed.get("q_agg_pricing_summary").asDouble)
    assert(full.get("meta").get("failed").elements.asScala.map(_.asText).toSeq == Seq("q_throws"))

    assert(Bench.Artifact.startsWith("target/bench/"))
    assert(Files.readString(artifact).trim == lines(lines.length - 2))
  }
}
