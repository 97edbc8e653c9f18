package graft

import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SQL surface of the as-of join (graft.plans.AsofSqlRule +
  * GraftSqlParser): in a session built with GraftExtensions — the
  * `spark.sql.extensions` production path — the DuckDB-style `ASOF JOIN`
  * keyword parses, resolves onto AsOfJoinPlan, and plans as the streaming
  * merge; the keyword without its asof_tie marker is a parse error, never
  * a silent plain join. */
class AsofSqlSpec extends AnyFunSuite with SparkSessionTest {

  private lazy val ext = {
    val s = GraftBridge.newSessionWithExtensions(
      spark, "graft.functions.GraftExtensions")
    s.conf.set("spark.sql.session.timeZone", "UTC")
    s.conf.set("spark.sql.shuffle.partitions", "4")
    // session-local temp views: register the fixture on THIS session
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val quotes = s.createDataFrame(
      java.util.Arrays.asList(
        Row(1L, 10L, "a"), Row(1L, 20L, "b"), Row(1L, 20L, "c"),
        Row(2L, 15L, "d")),
      StructType(Seq(StructField("qk", LongType), StructField("qt", LongType),
        StructField("tag", StringType))))
    val trades = s.createDataFrame(
      java.util.Arrays.asList(
        Row(1L, 5L), Row(1L, 20L), Row(1L, 25L), Row(2L, 10L), Row(3L, 99L)),
      StructType(Seq(StructField("tk", LongType), StructField("tt", LongType))))
    trades.createOrReplaceTempView("trades")
    quotes.createOrReplaceTempView("quotes")
    s
  }

  test("ASOF JOIN keyword parses, resolves, and runs the merge operator") {
    val df = ext.sql(
      """SELECT t.tk, t.tt, q.qt, q.tag
        |FROM trades t ASOF JOIN quotes q
        |  ON t.tk = q.qk AND t.tt >= q.qt AND asof_tie(q.tag)
        |ORDER BY t.tk, t.tt""".stripMargin)
    // collect() can't descend into the AQE wrapper; the node name in the
    // plan string is the reliable witness
    val planStr = df.queryExecution.executedPlan.toString
    assert(planStr.contains("AsOfMergeJoin"), planStr)
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    // trade(1,5): no quote <= 5 → dropped (inner). trade(1,20): quotes at
    // 10,20,20 → latest time 20, tie 'c' wins. trade(1,25): same. trade
    // (2,10): no quote for key 2 at <= 10? quote(2,15) is later → dropped.
    // trade(3,99): key absent → dropped.
    assert(rows.toSeq == Seq((1L, 20L, 20L, "c"), (1L, 25L, 20L, "c")))
  }

  test("ASOF LEFT JOIN null-extends unmatched trades") {
    val df = ext.sql(
      """SELECT t.tk, t.tt, q.qt, q.tag
        |FROM trades t ASOF LEFT JOIN quotes q
        |  ON t.tk = q.qk AND t.tt >= q.qt AND asof_tie(q.tag)
        |ORDER BY t.tk, t.tt""".stripMargin)
    val rows = df.collect().map(r =>
      (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
    assert(rows.toSeq == Seq((1L, 5L, -1L), (1L, 20L, 20L), (1L, 25L, 20L),
      (2L, 10L, -1L), (3L, 99L, -1L)))
  }

  test("ASOF JOIN without asof_tie is a parse error, not a silent plain join") {
    val e = intercept[org.apache.spark.sql.catalyst.parser.ParseException] {
      ext.sql(
        """SELECT * FROM trades t ASOF JOIN quotes q
          |  ON t.tk = q.qk AND t.tt >= q.qt""".stripMargin)
    }
    assert(e.getMessage.contains("asof_tie"))
  }

  test("'asof join' inside a string literal or comment is data, not syntax") {
    // Advisor scenario: the old regex lowering rewrote matches inside
    // literals (corrupting the value) and counted them toward the marker
    // requirement (spurious parse error). The lexer-aware scan must leave
    // both untouched.
    val lit = ext.sql(
      "SELECT 'asof join pending' AS note FROM quotes LIMIT 1").collect()
    assert(lit.head.getString(0) == "asof join pending")
    val cmt = ext.sql(
      """SELECT count(*) AS n FROM quotes -- asof join in a comment
        |WHERE qk >= 0 /* and an asof left join in a block comment */""".stripMargin)
      .collect()
    assert(cmt.head.getLong(0) == 4L)
  }

  test("a marker in a DIFFERENT join's ON clause cannot satisfy an ASOF join") {
    // Advisor scenario: global marker counting let one ASOF JOIN pass on
    // the strength of an asof_tie placed in another plain join's ON
    // clause — the plain join got rewritten, the ASOF one silently ran as
    // an ordinary join. Per-join ON-region validation rejects it.
    val e = intercept[org.apache.spark.sql.catalyst.parser.ParseException] {
      ext.sql(
        """SELECT * FROM trades t
          |ASOF JOIN quotes q ON t.tk = q.qk AND t.tt >= q.qt
          |JOIN quotes q2 ON t.tk = q2.qk AND asof_tie(q2.tag)""".stripMargin)
    }
    assert(e.getMessage.contains("its own ON clause"))
  }

  test("asof_tie outside a join condition fails loudly instead of meaning true") {
    val err = intercept[Exception] {
      ext.sql("SELECT * FROM quotes WHERE asof_tie(tag)").collect()
    }
    assert(err.getMessage.toLowerCase.contains("asoftie")
      || err.getMessage.toLowerCase.contains("cannot"))
  }

  test("the live-session spelling (marker only, explicit rewrite) matches the typed API") {
    import spark.implicits._
    val l = Seq((1L, 10L), (1L, 30L), (2L, 7L)).toDF("k", "t")
    val r = Seq((1L, 5L, "x"), (1L, 25L, "y"), (2L, 9L, "z")).toDF("rk", "rt", "v")
    l.createOrReplaceTempView("asql_l")
    r.createOrReplaceTempView("asql_r")
    // no injected parser on the shared session → plain JOIN + marker
    val viaSql = GraftBridge.ofRows(spark, graft.plans.AsofSqlRule.rewriteAnalyzed(
      spark.sql(
        """SELECT k, t, rt, v FROM asql_l JOIN asql_r
          |  ON k = rk AND t >= rt AND asof_tie(v)
          |ORDER BY k, t""".stripMargin).queryExecution.analyzed))
    val viaApi = graft.plans.AsOf.join(l, r, "k", "rk", "t", "rt", "v")
      .select("k", "t", "rt", "v").orderBy("k", "t")
    assert(viaSql.collect().toSeq == viaApi.collect().toSeq)
  }
}
