package graft

import graft.functions.CharNgrams
import graft.operators.Skew
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Edge-case robustness: nulls, empties, skew — the cases the corpus lacks
  * (FIXTURES.md "Unit-test fixtures" guidance). */
class RobustnessSpec extends AnyFunSuite with SparkSessionTest {

  test("salted join ≡ plain inner join, including a hot key") {
    import spark.implicits._
    // 10k rows on 3 keys, 90% on key 1 (hot), joined to a small dim
    val left = spark.range(10000)
      .select((when($"id" % 10 === 0, $"id" % 2 + 2).otherwise(1)).as("k"), $"id")
    val dim = Seq((1L, "hot"), (2L, "warm"), (3L, "cold")).toDF("k", "name")
    val plain = left.join(dim, "k")
    val salted = Skew.saltedJoin(left, dim, "k", col("id"), 8)
    assert(salted.count() == plain.count())
    val a = plain.groupBy("k", "name").count().orderBy("k").collect().toSeq
    val b = salted.groupBy("k", "name").count().orderBy("k").collect().toSeq
    assert(a == b)
  }

  test("windows and sessionize tolerate null timestamps") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val df = Seq(
      (1L, 1L, Some("2024-01-01 10:00:00")),
      (2L, 1L, None), // null ts
      (3L, 1L, Some("2024-01-01 11:00:00")))
      .toDF("event_id", "user_id", "ts_str")
      .withColumn("ts_s", to_timestamp($"ts_str"))
    val w = Window.partitionBy("user_id").orderBy($"ts_s".asc_nulls_first, $"event_id")
    val out = df.withColumn("rn", row_number().over(w))
      .withColumn("gap", unix_timestamp($"ts_s") - unix_timestamp(lag($"ts_s", 1).over(w)))
      .collect()
    assert(out.length == 3) // no crash; null sorts first, gap is null there
  }

  test("dedup and tokenize tolerate empty and null text") {
    import spark.implicits._
    val docs = Seq((1L, Some("a b")), (2L, Some("")), (3L, None))
      .toDF("doc_id", "text")
    val toks = docs.withColumn("toks", split(coalesce($"text", lit("")), " "))
    // explode of [""] yields one empty token; null text coalesced
    val n = toks.select(explode($"toks")).count()
    assert(n == 4)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(concat_ws(" ", sort_array($"toks"))).orderBy("doc_id")
    val dd = toks.withColumn("rn", row_number().over(w)).filter($"rn" === 1)
    assert(dd.count() == 2) // empty and null normalize to the same key
  }

  test("vec_dot handles empty and length-mismatched arrays") {
    // untyped array() is ARRAY<VOID>: correctly rejected at analysis
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT vec_dot(array(), array())").collect()
    }
    val r = spark.sql(
      """SELECT vec_dot(CAST(array() AS ARRAY<FLOAT>), CAST(array() AS ARRAY<FLOAT>)) AS a,
        |       vec_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
        |               array(CAST(3.0 AS FLOAT))) AS b""".stripMargin).head()
    assert(r.getDouble(0) == 0.0)
    assert(r.getDouble(1) == 3.0) // min-length zip
  }

  test("outer join null extension flows through downstream aggregates") {
    import spark.implicits._
    val a = Seq((1L, 10.0), (2L, 20.0)).toDF("k", "x")
    val b = Seq((2L, "y2")).toDF("k", "tag")
    val j = a.join(b, Seq("k"), "left_outer")
    val agg = j.agg(count(lit(1)), count($"tag"), Det.dsum($"x")).head()
    assert(agg.getLong(0) == 2 && agg.getLong(1) == 1 && agg.getDouble(2) == 30.0)
  }

  test("char_ngrams ≡ the substring lambda, incl. unicode and short strings") {
    import spark.implicits._
    val df = Seq("hello world", "ab", "abc", "", "héllo wörld ünïcode",
      "日本語のテキスト", "x").toDF("s")
    // 4-byte code points among ASCII, and a 10 000-character string
    val long = Iterator.continually(Seq("a", "é", "日", "😀", " ", "x")).flatten
      .take(10000).mkString
    val all = df.union(Seq("a😀b😀😀c 👍🏽 ok", "😀", "😀😀", long).toDF("s"))
    def strings(a: ArrayData): Seq[String] =
      a.toArray[UTF8String](StringType).map(_.toString).toSeq
    for (n <- Seq(1, 2, 3, 5)) {
      // (sequence(1, 0) is a DESCENDING range in Spark, so the lambda twin
      // needs the short-string guard explicitly — char_ngrams builds it in)
      val rows = all.selectExpr("s",
        s"char_ngrams(s, $n) AS fast",
        s"""CASE WHEN length(s) < $n THEN array()
           |ELSE transform(sequence(1, length(s) - ${n - 1}), i -> substring(s, i, $n))
           |END AS slow""".stripMargin)
        .collect()
      // both evaluation paths of the kernel, outside any plan
      val generated = GenerateUnsafeProjection.generate(
        Seq(CharNgrams(BoundReference(0, StringType, nullable = false), Literal(n))))
      rows.foreach { r =>
        val (str, slow) = (r.getString(0), r.getSeq[String](2))
        val at = s"n = $n, s = ${str.take(40)} (${str.length} chars)"
        assert(r.getSeq[String](1) == slow, s"query mismatch at $at")
        val interpreted = CharNgrams(Literal(str), Literal(n)).eval()
        assert(strings(interpreted.asInstanceOf[ArrayData]) == slow,
          s"interpreted mismatch at $at")
        val compiled = generated(InternalRow(UTF8String.fromString(str))).getArray(0)
        assert(strings(compiled) == slow, s"codegen mismatch at $at")
      }
    }
    // n larger than the string → empty, not negative-sized
    assert(df.selectExpr("size(char_ngrams(s, 40))").collect().forall(_.getInt(0) == 0))
  }

  test("scd2/run-compression degenerate streams: single event, constant type") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // one user never changes type; another has exactly one event
    val df = Seq(
      (1L, 10L, "a", "2024-01-01 10:00:00"),
      (2L, 10L, "a", "2024-01-01 11:00:00"),
      (3L, 10L, "a", "2024-01-01 12:00:00"),
      (4L, 20L, "b", "2024-01-01 10:30:00"))
      .toDF("event_id", "user_id", "event_type", "ts_str")
      .withColumn("ts_s", to_timestamp($"ts_str"))
    val w = Window.partitionBy("user_id").orderBy($"ts_s", $"event_id")
    val changes = df
      .withColumn("prev", lag($"event_type", 1).over(w))
      .filter($"prev".isNull || $"prev" =!= $"event_type")
    // constant-type user collapses to ONE open interval; singleton too
    assert(changes.count() == 2)
    val runs = df
      .withColumn("chg", when(lag($"event_type", 1).over(w).isNull ||
        lag($"event_type", 1).over(w) =!= $"event_type", 1L).otherwise(0L))
      .withColumn("run_id", sum($"chg").over(w.rowsBetween(Long.MinValue, 0)))
      .groupBy("user_id", "run_id").count().collect()
    assert(runs.map(_.getLong(2)).sorted.toSeq == Seq(1L, 3L))
  }

  test("merge upsert with an empty source keeps the target unchanged") {
    import spark.implicits._
    val target = Seq((1L, "alice", 10.0), (2L, "bob", 20.0))
      .toDF("c_custkey", "c_name", "c_acctbal")
    val source = Seq.empty[(Long, Double)].toDF("o_custkey", "delta")
    val merged = target.join(source, $"c_custkey" === $"o_custkey", "full_outer")
      .select(
        coalesce($"c_custkey", $"o_custkey").as("custkey"),
        coalesce($"c_name", lit("NEW")).as("name"),
        round(coalesce($"c_acctbal", lit(0.0)) + coalesce($"delta", lit(0.0)), 2).as("acctbal"))
      .orderBy("custkey").collect()
    assert(merged.map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq ==
      Seq((1L, "alice", 10.0), (2L, "bob", 20.0)))
  }

  test("quantization of constant and near-zero vectors stays finite") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(0.5f, 0.5f, 0.5f)),    // constant
      (2L, Array(1e-30f, -1e-30f, 1e-30f))) // tiny but nonzero
      .toDF("vec_id", "embedding")
    df.createOrReplaceTempView("embeddings")
    val out = spark.sql(
      """SELECT vec_id,
        |  127.0 / array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS scale,
        |  transform(embedding, x ->
        |    least(greatest(floor(CAST(x AS DOUBLE) *
        |      (127.0 / array_max(transform(embedding, y -> abs(CAST(y AS DOUBLE))))) + 0.5D),
        |      -127.0D), 127.0D)) AS qv
        |FROM embeddings""".stripMargin).collect()
    out.foreach { r =>
      assert(!r.getDouble(1).isInfinite && !r.getDouble(1).isNaN)
      assert(r.getSeq[Double](2).forall(q => q.abs <= 127.0))
    }
  }

  test("alert island merge handles a single hot window and all-cold series") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    def islands(buckets: Seq[Long]): Seq[(Long, Long)] = {
      if (buckets.isEmpty) return Seq.empty
      val df = buckets.toDF("b")
        .withColumn("grp", $"b" - row_number().over(Window.orderBy("b")))
      df.groupBy("grp").agg(min("b").as("lo"), max("b").as("hi"))
        .orderBy("lo").collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    }
    assert(islands(Seq(5L)) == Seq((5L, 5L)))              // single window
    assert(islands(Seq.empty) == Seq.empty)                // no alerts
    assert(islands(Seq(1L, 2L, 4L)) == Seq((1L, 2L), (4L, 4L))) // merge + split
  }

  test("sequence packing: an over-budget document still owns a bin and advances the cursor") {
    import spark.implicits._
    import graft.operators.PipelineOps
    // doc 1 alone exceeds the 512 budget (2000 tokens): it lands in bin 0
    // and the next doc starts at bin floor(2000/512)=3 — bounded overflow,
    // never a lost or split document
    val text2000 = Seq.fill(2000)("w").mkString(" ")
    val text100 = Seq.fill(100)("w").mkString(" ")
    Seq((1L, "s0", text2000), (2L, "s0", text100))
      .toDF("doc_id", "source", "text")
      .createOrReplaceTempView("documents")
    val out = spark.sql(PipelineOps.packSparkSql).collect()
    assert(out.map(r => (r.getLong(1), r.getLong(3))).toSeq ==
      Seq((0L, 2000L), (3L, 100L)))
  }

  test("hash split output is partitioning-invariant") {
    import spark.implicits._
    import graft.operators.PipelineOps
    val docs = (0L until 300L).map(i => (i, s"lang${i % 3}", 10L + i % 7))
      .toDF("doc_id", "lang", "n_chars")
    val runs = Seq(1, 7).map { p =>
      docs.repartition(p).createOrReplaceTempView("documents")
      spark.sql(PipelineOps.splitSql("STRING")).collect().map(_.toString).toSeq
    }
    assert(runs.head == runs.last && runs.head.nonEmpty)
  }

  test("contamination with an empty benchmark set returns no rows, not an error") {
    import spark.implicits._
    import graft.operators.PipelineOps
    // doc_ids chosen so none satisfies doc_id % 50 = 0 → benchmark empty
    Seq((1L, "a b c d"), (2L, "b c d e"))
      .toDF("doc_id", "text").createOrReplaceTempView("documents")
    spark.sql(PipelineOps.contaminationGramSparkSql).localCheckpoint()
      .createOrReplaceTempView("g")
    assert(spark.sql(PipelineOps.contaminationRestSparkSql).count() == 0)
  }

  test("ewma oracle SQL golden on a hand-computed three-event series") {
    import spark.implicits._
    // the DuckDB oracle string is engine-portable SQL; running it in Spark
    // cross-validates the generated expression against hand arithmetic:
    // r1 = 1, r2 = (2 + 0.9)/1.9, r3 = (3 + 1.8 + 0.81)/2.71
    Seq((1L, 7L, "2024-01-01 10:00:00", 1.0),
        (2L, 7L, "2024-01-01 10:01:00", 2.0),
        (3L, 7L, "2024-01-01 10:02:00", 3.0))
      .toDF("event_id", "user_id", "ts_str", "value")
      .withColumn("ts", to_timestamp($"ts_str"))
      .createOrReplaceTempView("events")
    val out = spark.sql(graft.operators.WindowOps.oracle("q_win_ewma"))
      .collect().map(_.getDouble(3)).toSeq
    assert(out == Seq(1.0, 1.526316, 2.070111), out.mkString(","))
  }
}
