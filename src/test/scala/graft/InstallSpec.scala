package graft

import graft.functions.GraftFunctions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite

/** The install point. Graft's functions, its optimizer rule and its
  * planner strategy reach a session three ways: [[GraftSession.local]],
  * every [[SparkEntry.queries]] entry and [[plans.AsOf.join]]. The first
  * two tests drive the registry from a session graft did not build — a
  * `newSession()` on the shared context, with nothing installed, as a
  * benchmark harness or an embedding caller holds. The third pins the
  * factory's conf to the one the benchmark harness
  * (`perfbench/src/main/scala/graftbench/Harness.scala`, `session`)
  * mirrors, so the two cannot drift apart unnoticed. */
class InstallSpec extends AnyFunSuite with SparkSessionTest {

  private def bare(): SparkSession = {
    val s = spark.newSession()
    assert(!s.catalog.functionExists("vec_dot"), "fresh session already installed")
    s
  }

  test("every SparkEntry.queries entry resolves in a session graft did not build") {
    val unresolved = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try { fn(bare(), sf0001).queryExecution.assertAnalyzed(); None }
      catch {
        case e: Throwable if String.valueOf(e.getMessage).contains("UNRESOLVED_ROUTINE") =>
          Some(s"$name: ${e.getMessage.linesIterator.next()}")
      }
    }
    assert(unresolved.isEmpty, unresolved.mkString("\n", "\n", ""))
  }

  test("q_dedup_editdist built first in a bare session gets the band rewrite") {
    val optimized = SparkEntry.queries("q_dedup_editdist")(bare(), sf0001)
      .queryExecution.optimizedPlan.toString
    assert(optimized.contains("abs((length("), s"no band prefilter:\n$optimized")
  }

  test("a second register re-registers no function") {
    val s = bare()
    val registry = s.sessionState.functionRegistry
    val ids = Seq("vec_dot", "mask_and_count", "char_ngrams", "asof_tie")
      .map(FunctionIdentifier(_))
    def entries = ids.map(id =>
      (registry.lookupFunctionBuilder(id).get, registry.lookupFunction(id).get))
    GraftFunctions.register(s)
    val first = entries
    GraftFunctions.register(s)
    // a re-registration would store a fresh ExpressionInfo even for the
    // same builder
    first.zip(entries).zip(ids).foreach { case (((b0, i0), (b1, i1)), id) =>
      assert((b0 eq b1) && (i0 eq i1), s"$id was re-registered")
    }
  }

  test("GraftSession.local's conf is the conf the benchmark harness mirrors") {
    val harness = Map(
      "spark.master" -> "local[4]",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.cteRecursionRowLimit" -> "50000000",
      "spark.cleaner.referenceTracking.cleanCheckpoints" -> "true",
      "spark.ui.enabled" -> "false")
    assert(GraftSession.conf(4) == harness)
    val live = GraftSession.local(4).sparkContext.getConf
    harness.foreach { case (k, v) => assert(live.get(k) == v, k) }
  }
}
