package graft

import graft.operators._
import graft.multimodal.Multimodal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Per-operator golden + property tests (SURVEY §5.2 layer 3). */
class OperatorSpec extends AnyFunSuite with SparkSessionTest
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query key has distinct name and runs at sf0.001") {
    val qs = SparkEntry.queries
    assert(qs.nonEmpty)
    // oracle keys must be a subset of query keys
    assert(SparkEntry.oracleSql.keySet.subsetOf(qs.keySet))
  }

  test("Det.dsum is exact and partition-order independent") {
    import spark.implicits._
    val base = Seq.fill(1000)(0.1).toDF("x")
    val a = base.repartition(1).agg(Det.dsum($"x")).head().getDouble(0)
    val b = base.repartition(7).agg(Det.dsum($"x")).head().getDouble(0)
    assert(a == 100.0 && b == 100.0) // plain double sum would give 100.00000000000003
  }

  test("pricing summary golden on literal rows") {
    import spark.implicits._
    val df = Seq(
      ("A", "F", 10.0, 100.0, 0.1, 0.05),
      ("A", "F", 20.0, 200.0, 0.2, 0.05),
      ("R", "O", 5.0, 50.0, 0.0, 0.0))
      .toDF("l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val out = df.groupBy("l_returnflag", "l_linestatus")
      .agg(Det.dsum($"l_quantity").as("sum_qty"),
        sum(($"l_extendedprice" * (lit(1) - $"l_discount")).cast(DecimalType(30, 6)))
          .cast(DoubleType).as("disc"))
      .orderBy("l_returnflag").collect()
    assert(out(0).getDouble(2) == 30.0)
    assert(out(0).getDouble(3) == 90.0 + 160.0)
    assert(out(1).getDouble(2) == 5.0)
  }

  test("sessionize conserves events per user") {
    val sess = WindowOps.queries("q_sessionize")(spark, sf0001)
    val total = sess.agg(sum("n_events")).head().getLong(0)
    val events = Tables.events(spark, sf0001).count()
    assert(total == events)
    // session ids are 1..k contiguous per user
    val bad = sess.groupBy("user_id")
      .agg(max("session_id").as("mx"), count(lit(1)).as("n"))
      .filter(col("mx") =!= col("n")).count()
    assert(bad == 0)
  }

  test("exact dedup keeps one survivor per normalized group and is idempotent") {
    import spark.implicits._
    val docs = Seq(
      (1L, "b a c"), (2L, "a b c"), (3L, "c b a"), // same multiset
      (4L, "a a b"), (5L, "b a a"),                 // same multiset
      (6L, "unique doc here"))
      .toDF("doc_id", "text")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(concat_ws(" ", sort_array(split($"text", " ")))).orderBy("doc_id")
    val dd = docs.withColumn("rn", row_number().over(w)).filter($"rn" === 1).drop("rn")
    assert(dd.count() == 3)
    assert(dd.select("doc_id").as[Long].collect().sorted.sameElements(Array(1L, 4L, 6L)))
    val dd2 = dd.withColumn("rn", row_number().over(w)).filter($"rn" === 1).drop("rn")
    assert(dd2.count() == 3) // idempotent
  }

  test("near-dup jaccard is symmetric and bounded") {
    val pairs = TextOps.queries("q_dedup_near")(spark, sf0001)
    val out = pairs.select("jaccard").collect().map(_.getDouble(0))
    assert(out.forall(j => j >= 0.9 && j <= 1.0))
  }

  test("minhash groups contain only docs with identical signatures") {
    val g = TextOps.queries("q_dedup_minhash")(spark, sf0001)
    // every doc appears in exactly one group
    val members = g.select(explode(split(col("members"), ","))).count()
    assert(members == Tables.documents(spark, sf0001).count())
  }

  test("cosine similarity: self-similarity is 1, pairs bounded") {
    Tables.embeddings(spark, sf0001).createOrReplaceTempView("embeddings")
    val selfCos = spark.sql(
      """SELECT round(aggregate(zip_with(embedding, embedding, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0 AS DOUBLE), (acc, v) -> acc + v)
        |  / (sqrt(aggregate(zip_with(embedding, embedding, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0 AS DOUBLE), (acc, v) -> acc + v))
        |   * sqrt(aggregate(zip_with(embedding, embedding, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0 AS DOUBLE), (acc, v) -> acc + v))), 6) AS c
        |FROM embeddings""".stripMargin)
      .agg(min("c"), max("c")).head()
    assert(math.abs(selfCos.getDouble(0) - 1.0) < 1e-6)
    assert(math.abs(selfCos.getDouble(1) - 1.0) < 1e-6)
    val pairs = VectorOps.queries("q_vec_pairs_threshold")(spark, sf0001)
    assert(pairs.select("cos_sim").collect().map(_.getDouble(0)).forall(c => c >= -1.0 && c <= 1.0))
  }

  test("approx distinct within 5% of exact") {
    val approx = AggOps.queries("q_agg_approx_distinct")(spark, sf0001)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = AggOps.queries("q_agg_distinct")(spark, sf0001)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((k, e) <- exact) {
      assert(math.abs(approx(k) - e).toDouble / e <= 0.05, s"$k approx=${approx(k)} exact=$e")
    }
  }

  test("LSH ANN returns k sorted neighbors overlapping brute force") {
    val ann = VectorOps.queries("q_vec_ann_lsh")(spark, sf0001).collect()
    assert(ann.length == 10)
    val dists = ann.map(_.getDouble(2))
    assert(dists.sameElements(dists.sorted))
    val brute = VectorOps.queries("q_vec_knn_cosine")(spark, sf0001)
      .collect().map(_.getLong(0)).toSet
    val annIds = ann.map(_.getLong(0)).toSet
    // near-unit vectors: euclidean NN ≈ cosine NN; require nontrivial overlap
    assert(brute.intersect(annIds).size >= 3, s"overlap ${brute.intersect(annIds)}")
  }

  test("as-of join picks latest order at/before event time (golden)") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val ev = Seq((100L, 1L, "2024-01-10 00:00:00"), (101L, 1L, "2024-01-01 00:00:00"))
      .toDF("event_id", "user_id", "ts_str")
      .withColumn("ts_s", to_timestamp($"ts_str"))
    val ord = Seq(
      (1L, 1L, "2024-01-05 00:00:00"),
      (2L, 1L, "2024-01-09 00:00:00"),
      (3L, 1L, "2024-02-01 00:00:00"))
      .toDF("o_orderkey", "o_custkey", "od_str")
      .withColumn("o_orderdate", to_timestamp($"od_str"))
    val w = Window.partitionBy("event_id").orderBy($"o_orderdate".desc, $"o_orderkey".desc)
    val res = ev.join(ord, $"o_custkey" === $"user_id" && $"o_orderdate" <= $"ts_s")
      .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
      .select("event_id", "o_orderkey").as[(Long, Long)].collect().toMap
    assert(res == Map(100L -> 2L)) // event 101 predates all orders → dropped
  }

  test("partitioned sink round-trips with partition pruning layout") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val ev = Tables.events(spark, sf0001)
    graft.sources.Sinks.writePartitioned(ev, dir, Seq("event_type"))
    val back = spark.read.parquet(dir)
    assert(back.count() == ev.count())
    // hive-style layout → one directory per type
    val dirs = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.count(_.startsWith("event_type=")) == 5)
    // a filter on the partition column prunes at planning time
    val pruned = back.filter(col("event_type") === "error")
    assert(pruned.count() == ev.filter(col("event_type") === "error").count())
  }

  test("LevenshteinBandRule rewrites threshold filters, same results") {
    // parquet-backed source so constant folding can't collapse the filter
    val q = Tables.documents(spark, sf0001)
      .filter(expr("levenshtein(source, 'src0') <= 1")).select("doc_id", "source")
    val optimized = q.queryExecution.optimizedPlan.toString
    assert(optimized.contains("Some(1)) >= 0"), s"rule did not fire:\n$optimized")
    assert(optimized.contains("abs((length("), s"no band prefilter:\n$optimized")
    // semantics unchanged: src0..src9 (substitution) plus src10 (insertion)
    // are within edit distance 1 of src0
    val got = q.select("source").distinct().collect().map(_.getString(0)).toSet
    assert(got == ((0 to 9).map(i => s"src$i").toSet + "src10"), got)
  }

  test("native LSH ANN overlaps brute-force neighbors") {
    val ann = VectorOps.queries("q_vec_ann_lsh_native")(spark, sf0001)
      .collect().map(_.getLong(0)).toSet
    val brute = VectorOps.queries("q_vec_knn_cosine")(spark, sf0001)
      .collect().map(_.getLong(0)).toSet
    assert(ann.nonEmpty)
    // corpus vectors are near-random (no planted neighbors), where a single
    // 16-bit hyperplane table has inherently modest recall — require a
    // nonzero overlap; the MLlib variant with OR-amplified tables covers
    // the stronger recall bound
    assert(brute.intersect(ann).nonEmpty, s"overlap ${brute.intersect(ann)}")
  }

  test("custom as-of merge join: plan shape and golden semantics") {
    import spark.implicits._
    val ev = Seq((100L, 1L, "2024-01-10 00:00:00"), (101L, 1L, "2024-01-01 00:00:00"),
      (102L, 2L, "2024-01-10 00:00:00"))
      .toDF("event_id", "user_id", "ts_str")
      .withColumn("ts_s", to_timestamp($"ts_str")).drop("ts_str")
    val ord = Seq(
      (1L, 1L, "2024-01-05 00:00:00"),
      (2L, 1L, "2024-01-05 00:00:00"), // same date: larger key must win
      (3L, 1L, "2024-02-01 00:00:00"))
      .toDF("o_orderkey", "o_custkey", "od_str")
      .withColumn("o_orderdate", to_timestamp($"od_str")).drop("od_str")
    val res = graft.plans.AsOf.join(ev, ord, "user_id", "o_custkey", "ts_s", "o_orderdate", "o_orderkey")
    // physical plan actually uses the custom operator
    assert(res.queryExecution.executedPlan.toString.contains("AsOfMergeJoin"))
    val got = res.select("event_id", "o_orderkey").as[(Long, Long)].collect().toMap
    // event 100 → order 2 (tie on date broken by larger key); 101 predates
    // all orders; user 2 has no orders → both dropped (inner)
    assert(got == Map(100L -> 2L))
  }

  test("as-of merge join: NULL keys/times match nothing (not key 0 / epoch 0)") {
    import spark.implicits._
    // left: one valid row (user 1), one null-key row, one null-time row
    val ev = Seq(
      (100L, Option(1L), Option("2024-01-10 00:00:00")),
      (101L, Option.empty[Long], Option("2024-01-10 00:00:00")),
      (102L, Option(1L), Option.empty[String]))
      .toDF("event_id", "user_id", "ts_str")
      .withColumn("ts_s", to_timestamp($"ts_str")).drop("ts_str")
    // right: a poison row with key NULL (must never act as a candidate for
    // any key, including 0), a null-time row, and one real match for user 1.
    // A second left-side probe at key 0 guards the unboxed-null-is-0 trap.
    val ord = Seq(
      (1L, Option.empty[Long], Option("2024-01-01 00:00:00")),
      (2L, Option(1L), Option.empty[String]),
      (3L, Option(1L), Option("2024-01-05 00:00:00")),
      (4L, Option(0L), Option("2024-01-02 00:00:00")))
      .toDF("o_orderkey", "o_custkey", "od_str")
      .withColumn("o_orderdate", to_timestamp($"od_str")).drop("od_str")
    // inner: only the valid (1, 2024-01-10) left row survives, matched to
    // order 3 (order 2 has null time, order 1 null key → both excluded)
    val inner = graft.plans.AsOf.join(ev, ord, "user_id", "o_custkey", "ts_s", "o_orderdate", "o_orderkey")
      .select("event_id", "o_orderkey").as[(Long, Long)].collect().toMap
    assert(inner == Map(100L -> 3L))
    // outer: null-key/null-time left rows survive null-extended
    val outer = graft.plans.AsOf.join(ev, ord, "user_id", "o_custkey", "ts_s", "o_orderdate", "o_orderkey",
      leftOuter = true)
      .select("event_id", "o_orderkey").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(outer == Map(100L -> 3L, 101L -> -1L, 102L -> -1L))
  }

  test("as-of merge join generalizes to string keys and date times") {
    import spark.implicits._
    val ev = Seq((1L, "alice", "2024-03-10"), (2L, "bob", "2024-03-10"), (3L, "alice", "2024-01-01"))
      .toDF("event_id", "user", "d_str")
      .withColumn("day", to_date($"d_str")).drop("d_str")
    val ord = Seq((10L, "alice", "2024-02-01"), (11L, "alice", "2024-03-01"),
      (12L, "bob", "2024-03-10"), (13L, "carol", "2024-01-01"))
      .toDF("o_id", "cust", "od_str")
      .withColumn("o_day", to_date($"od_str")).drop("od_str")
    val got = graft.plans.AsOf.join(ev, ord, "user", "cust", "day", "o_day", "o_id")
      .select("event_id", "o_id").as[(Long, Long)].collect().toMap
    // alice@03-10 → order 11 (latest ≤); bob@03-10 → 12 (same-day counts);
    // alice@01-01 predates all alice orders → dropped (inner)
    assert(got == Map(1L -> 11L, 2L -> 12L))
    // decimal keys exercise a non-primitive ordering
    val l = Seq((1L, BigDecimal("1.50"), 5L), (2L, BigDecimal("2.25"), 5L))
      .toDF("id", "k", "t")
    val r = Seq((7L, BigDecimal("1.50"), 4L), (8L, BigDecimal("2.25"), 9L))
      .toDF("rid", "rk", "rt")
    val got2 = graft.plans.AsOf.join(l, r, "k", "rk", "t", "rt", "rid")
      .select("id", "rid").as[(Long, Long)].collect().toMap
    assert(got2 == Map(1L -> 7L)) // rid 8 is later than t=5 → no match for id 2
  }

  test("as-of merge join excludes NULL keys and times per join semantics") {
    import spark.implicits._
    // left: id 1 matches; id 2 null key; id 3 null time; id 4 unmatched key
    val l = Seq((1L, java.lang.Long.valueOf(10L), java.lang.Long.valueOf(5L)),
      (2L, null.asInstanceOf[java.lang.Long], java.lang.Long.valueOf(5L)),
      (3L, java.lang.Long.valueOf(10L), null.asInstanceOf[java.lang.Long]),
      (4L, java.lang.Long.valueOf(99L), java.lang.Long.valueOf(5L)))
      .toDF("id", "k", "t")
    // right: rid 7 usable; rid 8 null key; rid 9 null time — 8/9 must never match
    val r = Seq((7L, java.lang.Long.valueOf(10L), java.lang.Long.valueOf(4L)),
      (8L, null.asInstanceOf[java.lang.Long], java.lang.Long.valueOf(1L)),
      (9L, java.lang.Long.valueOf(10L), null.asInstanceOf[java.lang.Long]))
      .toDF("rid", "rk", "rt")
    val inner = graft.plans.AsOf.join(l, r, "k", "rk", "t", "rt", "rid")
      .select("id", "rid").as[(Long, Long)].collect().toMap
    assert(inner == Map(1L -> 7L)) // 2,3 null-dropped; 4 unmatched
    val outer = graft.plans.AsOf.join(l, r, "k", "rk", "t", "rt", "rid", leftOuter = true)
      .select($"id", $"rid").collect()
      .map(row => row.getLong(0) -> (if (row.isNullAt(1)) -1L else row.getLong(1))).toMap
    assert(outer == Map(1L -> 7L, 2L -> -1L, 3L -> -1L, 4L -> -1L))
  }

  test("approx_top_k is exact on a low-cardinality column") {
    import spark.implicits._
    val exact = Tables.events(spark, sf0001).groupBy("event_type").count()
      .orderBy(col("count").desc, col("event_type")).limit(3)
      .as[(String, Long)].collect().toMap
    val sketch = SparkEntry.queries("q_agg_approx_topk")(spark, sf0001)
      .selectExpr("explode(top3) AS e").select("e.item", "e.count")
      .as[(String, Long)].collect().toMap
    assert(sketch == exact) // 5 distinct values fit the sketch exactly
  }

  test("Observation collects in-flight metrics without a second pass") {
    // production monitoring shape: row counts / sums ride along the real
    // query as accumulators instead of a separate aggregation job
    val obs = org.apache.spark.sql.Observation("ingest_stats")
    val df = Tables.lineitem(spark, sf0001)
      .observe(obs, count(lit(1)).as("n_rows"), Det.dsum(col("l_quantity")).as("sum_qty"))
      .filter(col("l_quantity") > 25)
    val filtered = df.count()
    val m = obs.get
    assert(m("n_rows").asInstanceOf[Long] == Tables.lineitem(spark, sf0001).count())
    assert(m("sum_qty").asInstanceOf[Double] > 0)
    assert(filtered > 0 && filtered < m("n_rows").asInstanceOf[Long])
  }

  test("session_window merges an exactly-gap-length interval") {
    import spark.implicits._
    // Spark's session window is closed at the end: an event at exactly
    // last+gap extends the session (the q_session_window_native oracle's
    // `> 1800` rule depends on this; an sf0.1 pair sits on the boundary).
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00")),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:30:00"))
    ).toDF("u", "ts")
    val n = df.groupBy(session_window(col("ts"), "30 minutes"), col("u"))
      .count().count()
    assert(n == 1)
  }

  test("multimodal fake codec golden") {
    val r = Multimodal.MediaRecord(7L, "image/fake", 640, 480, Array[Byte](0, 2, 4))
    val f = Multimodal.FakeCodec.features(r)
    assert(f.n_bytes == 3 && f.sum_bytes == 6 && f.avg_byte == 2.0)
    assert(f.thumb_w == 64 && f.thumb_h == 48)
    val small = Multimodal.FakeCodec.features(Multimodal.MediaRecord(8L, "t", 32, 16, Array[Byte](1)))
    assert(small.thumb_w == 32 && small.thumb_h == 16) // no upscale
  }

  test("vec_dot expression is bit-equal to the lambda fold") {
    Tables.embeddings(spark, sf0001).createOrReplaceTempView("embeddings")
    val diff = spark.sql(
      """SELECT max(abs(vec_dot(embedding, embedding) -
        |  aggregate(zip_with(embedding, embedding, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
        |            CAST(0 AS DOUBLE), (acc, v) -> acc + v))) AS d
        |FROM embeddings""".stripMargin).head().getDouble(0)
    assert(diff == 0.0) // identical fold order → bit-equal, not merely close
    // null propagation
    val n = spark.sql("SELECT vec_dot(CAST(NULL AS ARRAY<FLOAT>), array(CAST(1.0 AS FLOAT)))").head()
    assert(n.isNullAt(0))
  }

  test("typed variance aggregator matches moment formula") {
    import spark.implicits._
    val xs = Seq(1.0, 2.0, 3.0, 4.0, 10.0)
    val df = xs.toDF("value")
    val varUdaf = udaf(UdfOps.VarianceAgg)
    val v = df.agg(varUdaf($"value")).head().getDouble(0)
    val n = xs.size.toDouble
    val s1 = xs.sum; val s2 = xs.map(x => x * x).sum
    assert(math.abs(v - (s2 - s1 * s1 / n) / (n - 1)) < 1e-9)
  }

  test("HLL sketch estimates stay within 5% of exact, union included") {
    val rows = SparkEntry.queries("q_agg_hll_sketch")(spark, sf0001).collect()
    assert(rows.length >= 2 && rows.exists(_.getString(0) == "ALL"))
    rows.foreach { r =>
      val est = r.getLong(1).toDouble; val exact = r.getLong(2).toDouble
      assert(math.abs(est - exact) / exact <= 0.05,
        s"${r.getString(0)}: est $est vs exact $exact")
    }
  }

  test("dedup clusters are a fixpoint over the LSH candidate pairs") {
    val clusters = SparkEntry.queries("q_dedup_clusters")(spark, sf0001)
      .select("doc_id", "cluster_id", "cluster_size", "is_canonical")
    clusters.createOrReplaceTempView("cc")
    val pairs = SparkEntry.queries("q_dedup_lsh_bands")(spark, sf0001)
      .select("doc_id", "doc_id_b")
    pairs.createOrReplaceTempView("cc_pairs")
    // every candidate pair landed in the same cluster (closure holds)
    val split = spark.sql(
      """SELECT count(*) AS n FROM cc_pairs p
        |JOIN cc a ON p.doc_id = a.doc_id
        |JOIN cc b ON p.doc_id_b = b.doc_id
        |WHERE a.cluster_id <> b.cluster_id""".stripMargin).head().getLong(0)
    assert(split == 0L)
    // cluster_id is the min member, exactly one canonical doc per cluster
    val bad = spark.sql(
      """SELECT count(*) AS n FROM (
        |  SELECT cluster_id, min(doc_id) AS lo, max(cluster_size) AS sz,
        |         count(*) AS n_docs,
        |         sum(CASE WHEN is_canonical THEN 1 ELSE 0 END) AS n_canon
        |  FROM cc GROUP BY cluster_id) t
        |WHERE lo <> cluster_id OR n_docs <> sz OR n_canon <> 1""".stripMargin)
      .head().getLong(0)
    assert(bad == 0L)
    // all docs covered exactly once
    assert(clusters.count() == Tables.documents(spark, sf0001).count())
  }

  test("scd2 intervals tile each user's history without gaps or overlap") {
    val iv = SparkEntry.queries("q_scd2_intervals")(spark, sf0001)
    iv.createOrReplaceTempView("scd2")
    // exactly one open (is_current) interval per user
    val open = spark.sql(
      """SELECT count(*) FROM (
        |  SELECT user_id FROM scd2 GROUP BY user_id
        |  HAVING sum(CASE WHEN is_current THEN 1 ELSE 0 END) <> 1) t""".stripMargin)
      .head().getLong(0)
    assert(open == 0L)
    // consecutive versions: valid_to meets the next valid_from, type changes
    val bad = spark.sql(
      """SELECT count(*) FROM (
        |  SELECT valid_to,
        |    lead(valid_from) OVER (PARTITION BY user_id ORDER BY version) AS nxt,
        |    event_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY version) AS nxt_type
        |  FROM scd2) t
        |WHERE nxt IS NOT NULL AND (valid_to <> nxt OR event_type = nxt_type)""".stripMargin)
      .head().getLong(0)
    assert(bad == 0L)
  }

  test("compress_runs conserves events and alternates types") {
    val runs = SparkEntry.queries("q_compress_runs")(spark, sf0001)
    runs.createOrReplaceTempView("rle")
    val total = spark.sql("SELECT sum(run_len) FROM rle").head().getLong(0)
    assert(total == Tables.events(spark, sf0001).count())
    val sameNeighbor = spark.sql(
      """SELECT count(*) FROM (
        |  SELECT event_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY run_id) AS nxt
        |  FROM rle) t WHERE event_type = nxt""".stripMargin).head().getLong(0)
    assert(sameNeighbor == 0L) // a run never touches an equal-typed run
  }

  test("events_rate deltas telescope to the last minute's count") {
    val rate = SparkEntry.queries("q_events_rate")(spark, sf0001).collect()
    assert(rate.map(_.getLong(1)).sum == Tables.events(spark, sf0001).count())
    // Σ deltas = last n_events (first delta counts from 0)
    assert(rate.map(_.getLong(2)).sum == rate.last.getLong(1))
  }

  test("anomaly zscore flags only |z| >= 2.5 and a small tail") {
    val z = SparkEntry.queries("q_anomaly_zscore")(spark, sf0001).collect()
    assert(z.forall(r => math.abs(r.getDouble(3)) >= 2.5))
    val n = Tables.events(spark, sf0001).count()
    assert(z.length < n / 10) // outliers are a tail, not the body
  }

  test("weighted average golden on literal rows") {
    import spark.implicits._
    val df = Seq(("A", 1.0, 10.0), ("A", 3.0, 20.0), ("B", 2.0, 30.0))
      .toDF("l_returnflag", "l_quantity", "l_extendedprice")
    df.createOrReplaceTempView("li_w")
    // wavg(A) = (10*1 + 20*3) / (1+3) = 17.5
    val out = df.groupBy("l_returnflag")
      .agg(round(
        sum(($"l_extendedprice" * $"l_quantity").cast(DecimalType(30, 4))).cast(DoubleType) /
          sum($"l_quantity".cast(DecimalType(30, 6))).cast(DoubleType), 6).as("wavg"))
      .orderBy("l_returnflag").collect()
    assert(out(0).getDouble(1) == 17.5 && out(1).getDouble(1) == 30.0)
  }

  test("merge upsert exercises all three MERGE branches consistently") {
    val m = SparkEntry.queries("q_merge_upsert")(spark, sf0001)
    m.createOrReplaceTempView("merged")
    val byAction = spark.sql(
      "SELECT action, count(*) AS n FROM merged GROUP BY action").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val nCust = Tables.customer(spark, sf0001).count()
    // target rows all survive (update + keep = customers); inserts are the
    // shifted source keys and carry the synthetic name
    assert(byAction("update") + byAction("keep") == nCust)
    assert(byAction("insert") > 0)
    val badInsert = spark.sql(
      "SELECT count(*) FROM merged WHERE action = 'insert' AND name <> 'NEW'")
      .head().getLong(0)
    assert(badInsert == 0L)
  }

  test("orc round-trip equals the parquet-side aggregate") {
    val viaOrc = SparkEntry.queries("q_ingest_orc")(spark, sf0001).collect()
    val direct = Tables.orders(spark, sf0001)
      .filter(col("o_orderstatus") =!= "P")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(30, 2))).cast(DoubleType).as("total"))
      .orderBy("o_orderstatus").collect()
    assert(viaOrc.toSeq == direct.toSeq)
  }

  test("semantic dedup covers every vector with one representative per cell") {
    val cells = SparkEntry.queries("q_dedup_semantic")(spark, sf0001).collect()
    assert(cells.map(_.getLong(1)).sum == Tables.embeddings(spark, sf0001).count())
    assert(cells.map(_.get(0)).distinct.length == cells.length) // one row per cell
    assert(cells.forall(_.getDouble(3) >= 0.0))                     // rep distance
  }

  test("int8 quantization saturates the max element and bounds error") {
    val q = SparkEntry.queries("q_vec_quantize")(spark, sf0001).collect()
    assert(q.nonEmpty)
    // symmetric scaling maps the max-|x| element exactly to ±127
    assert(q.forall(_.getLong(4) >= 1L))
    assert(q.forall(r => r.getDouble(3) >= 0.0 && r.getDouble(2) > 0.0))
  }

  test("ip dissection is self-consistent") {
    val rows = SparkEntry.queries("q_fn_ip")(spark, sf0001).limit(500).collect()
    rows.foreach { r =>
      val ip = r.getString(1); val num = r.getLong(2)
      val o = ip.split("\\.").map(_.toLong)
      assert(num == o(0) * 16777216L + o(1) * 65536L + o(2) * 256L + o(3))
      assert(r.getString(4) == s"${o(0)}.${o(1)}.${o(2)}.0/24")
      val priv = o(0) == 10L || (o(0) == 172L && o(1) >= 16L && o(1) <= 31L) ||
        (o(0) == 192L && o(1) == 168L)
      assert(r.getBoolean(3) == priv)
    }
  }

  test("pii masking redacts every detected span and only those") {
    val rows = SparkEntry.queries("q_text_pii_mask")(spark, sf0001)
      .orderBy("line_id").collect()
    assert(rows.length == 5)
    val masked = rows.map(_.getString(4))
    assert(!masked.exists(_.contains("@")))                       // emails gone
    assert(masked(2) == "no pii here just ordinary words and numbers 42") // untouched
    assert(rows(4).getLong(1) == 2L)                              // two emails counted
    assert(rows(3).getLong(2) == 1L && rows(3).getLong(3) == 1L)  // ip + phone
  }

  test("null-safe join matches null keys and agrees with plain join off-null") {
    val rows = SparkEntry.queries("q_join_null_safe")(spark, sf0001).collect()
    assert(rows.exists(_.isNullAt(0)))               // NULL<=>NULL matched
    assert(rows.forall(r => r.getLong(3) == r.getLong(1) * r.getLong(2)))
    // non-null groups identical to a plain equi-join of the same aggregates
    val e = Tables.events(spark, sf0001)
      .withColumn("k", nullif(pmod(col("user_id"), lit(7)), lit(0)))
    val a = e.filter(col("event_type") === "click").groupBy("k").count()
    val b = e.filter(col("event_type") === "purchase").groupBy("k").count()
    val plain = a.join(b, "k").count()
    assert(rows.count(!_.isNullAt(0)) == plain)
  }

  test("mask() golden shapes") {
    val r = SparkEntry.queries("q_fn_mask")(spark, sf0001)
      .orderBy("c_custkey").head()
    assert(r.getString(1).matches("Xxxxxxxx#n+"))       // Customer#000000001
    assert(r.getString(2).matches("[n-]+"))             // digits masked, dashes kept
    assert(r.getString(3).matches("[#-]+"))             // digits→#, others→-
  }

  test("count-min sketch estimates dominate exact counts within epsilon") {
    val est = SparkEntry.queries("q_agg_cms_sketch")(spark, sf0001).collect()
      .map(r => r.getString(0) -> Seq(r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val exact = Tables.events(spark, sf0001)
      .filter(col("user_id").isin(1L, 2L, 3L))
      .groupBy("event_type", "user_id").count().collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val total = Tables.events(spark, sf0001).count()
    for ((t, ests) <- est; (e, i) <- ests.zipWithIndex) {
      val ex = exact.getOrElse((t, i + 1L), 0L)
      assert(e >= ex, s"$t u${i + 1}")                  // CMS never undercounts
      assert(e <= ex + math.ceil(0.001 * total).toLong + 1, s"$t u${i + 1} overshoot")
    }
  }

  test("bitmap distinct equals countDistinct exactly") {
    val bm = SparkEntry.queries("q_agg_bitmap_distinct")(spark, sf0001).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Tables.events(spark, sf0001)
      .groupBy("event_type").agg(countDistinct("user_id").as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bm == exact)
  }

  test("alert intervals are disjoint merged islands above threshold") {
    val a = SparkEntry.queries("q_alert_intervals")(spark, sf0001).collect()
    a.foreach { r =>
      assert(r.getLong(2) >= 1L)                    // windows per alert
      assert(r.getLong(3) >= 3L * r.getLong(2))     // every window was hot
      assert(r.getTimestamp(1).after(r.getTimestamp(0)))
    }
    // merged: consecutive alerts never touch (else they'd be one island)
    a.sliding(2).foreach {
      case Array(x, y) => assert(y.getTimestamp(0).after(x.getTimestamp(1)))
      case _ =>
    }
  }

  test("triangle count matches a naive in-memory enumeration") {
    val pairs = SparkEntry.queries("q_dedup_lsh_bands")(spark, sf0001)
      .select("lang", "doc_id", "doc_id_b").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val byLang = pairs.groupBy(_._1)
    val naive = byLang.map { case (lang, es) =>
      val set = es.map(e => (e._2, e._3)).toSet
      lang -> set.toSeq.map { case (a, b) =>
        set.count { case (b2, c) => b2 == b && set((a, c)) }.toLong
      }.sum
    }
    val got = SparkEntry.queries("q_graph_triangles")(spark, sf0001).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    naive.foreach { case (lang, n) => assert(got.getOrElse(lang, 0L) == n, lang) }
  }

  test("pagerank matches a naive in-memory power iteration") {
    import scala.jdk.CollectionConverters._
    val li = Tables.lineitem(spark, sf0001)
      .filter(col("l_quantity") >= 40)
      .select("l_suppkey", "l_partkey").distinct().collect()
      .map(r => (s"s${r.getLong(0)}", s"p${r.getLong(1)}"))
    val edges = li ++ li.map { case (a, b) => (b, a) }
    val deg = edges.groupBy(_._1).view.mapValues(_.length.toDouble).toMap
    val nodes = deg.keySet.toSeq.sorted
    val n = nodes.size
    var r = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to 5) {
      val contrib = new scala.collection.mutable.HashMap[String, Double]()
      edges.foreach { case (u, v) =>
        contrib(v) = contrib.getOrElse(v, 0.0) + r(u) / deg(u)
      }
      r = nodes.map(v => v -> (0.15 / n + 0.85 * contrib.getOrElse(v, 0.0))).toMap
    }
    val got = SparkEntry.queries("q_graph_pagerank")(spark, sf0001).collect()
      .map(x => x.getString(0) -> x.getDouble(1))
    assert(got.length == 25)
    // mass sanity: total rank over ALL nodes is 1 (naive side)
    assert(math.abs(r.values.sum - 1.0) < 1e-9)
    // the emitted top-25 agrees with the naive fixpoint to rounding noise
    val expectTop = r.toSeq.map { case (v, x) => (v, x) }
      .sortBy { case (v, x) => (-math.rint(x * 1e8) / 1e8, v) }.take(25)
    got.zip(expectTop).foreach { case ((gv, gx), (ev, ex)) =>
      assert(gv == ev, s"node order: $gv vs $ev")
      assert(math.abs(gx - ex) < 1e-6, s"$gv rank $gx vs $ex")
    }
  }

  test("bm25 matches a naive in-memory scorer and only returns matching docs") {
    val terms = Set("spark", "query", "join", "the")
    val docs = Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(' '))
    val n = docs.length.toDouble
    val avgdl = docs.map(_._2.length).sum / n
    val df = terms.map(t => t -> docs.count(_._2.contains(t)).toDouble).toMap
    def score(toks: Array[String]): Double = {
      val dl = toks.length.toDouble
      terms.toSeq.map { t =>
        val tf = toks.count(_ == t).toDouble
        if (tf == 0) 0.0
        else math.log((n - df(t) + 0.5) / (df(t) + 0.5) + 1.0) *
          (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
      }.sum
    }
    val expect = docs.map { case (id, toks) => (id, score(toks)) }
      .filter(_._2 > 0)
      .sortBy { case (id, x) => (-math.rint(x * 1e6) / 1e6, id) }.take(20)
    val got = SparkEntry.queries("q_text_bm25")(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getDouble(1))
    assert(got.length == expect.length)
    got.zip(expect).foreach { case ((gid, gx), (eid, ex)) =>
      assert(gid == eid, s"doc order: $gid vs $eid")
      assert(math.abs(gx - ex) < 2e-6, s"doc $gid score $gx vs $ex")
      assert(gx > 0.0)
    }
  }

  test("merge-schema read surfaces NULLs exactly for pre-evolution files") {
    val rows = SparkEntry.queries("q_scan_merge_schema")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val cut = java.sql.Date.valueOf("2024-01-15")
    rows.foreach { r =>
      val (day, n, nb) = (r.getDate(0), r.getLong(1), r.getLong(2))
      if (day.compareTo(cut) <= 0)
        assert(nb == 0L, s"$day: pre-evolution rows must have NULL vbucket")
      else
        assert(nb == n, s"$day: post-evolution rows must all carry vbucket")
    }
    assert(rows.exists(_.getDate(0).compareTo(cut) <= 0) &&
      rows.exists(_.getDate(0).compareTo(cut) > 0),
      "fixture must cover both sides of the cutover")
  }

  test("rake keyphrases match a naive in-memory scorer") {
    val stop = Set("the", "a", "of", "and", "to", "in")
    val docs = Tables.documents(spark, sf0001)
      .select("text").collect().map(_.getString(0).split(' '))
    // candidate phrases: maximal non-stopword runs
    val phrases = docs.flatMap { toks =>
      val runs = scala.collection.mutable.ArrayBuffer[Vector[String]]()
      var cur = Vector.empty[String]
      toks.foreach { t =>
        if (stop(t)) { if (cur.nonEmpty) runs += cur; cur = Vector.empty }
        else cur :+= t
      }
      if (cur.nonEmpty) runs += cur
      runs
    }
    val freq = phrases.flatten.groupBy(identity).view.mapValues(_.length).toMap
    val deg = phrases.flatMap(p => p.map(_ -> p.length))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    def score(p: Vector[String]): Double =
      p.map(w => deg(w).toDouble / freq(w)).sum
    val expect = phrases.map(p => (p.mkString(" "), p.length, score(p)))
      .groupBy(_._1)
      .map { case (txt, g) => (txt, g.head._2, g.length, math.rint(g.head._3 * 1e6) / 1e6) }
      .toSeq.sortBy { case (txt, _, _, s) => (-s, txt) }.take(15)
    val got = SparkEntry.queries("q_text_rake")(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.length == expect.length)
    got.zip(expect).foreach { case ((gp, gw, go, gs), (ep, ew, eo, es)) =>
      assert(gp == ep, s"phrase order: '$gp' vs '$ep'")
      assert(gw == ew && go == eo, s"'$gp' words/occ $gw/$go vs $ew/$eo")
      assert(math.abs(gs - es) < 2e-6, s"'$gp' score $gs vs $es")
    }
  }

  test("weighted sample reproduces the A-Res draw computed in plain JVM code") {
    def md5hex32(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map("%02x".format(_)).mkString, 16)
    }
    val docs = Tables.documents(spark, sf0001)
      .select("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val expect = docs.map { case (id, w) =>
      val u = (md5hex32(id.toString) + 1.0) / 4294967296.0
      (id, math.rint(-math.log(u) / w * 1e8) / 1e8)
    }.sortBy { case (id, k) => (k, id) }.take(50)
    val got = SparkEntry.queries("q_sample_weighted")(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getDouble(3))
    assert(got.length == 50)
    got.zip(expect).foreach { case ((gid, gk), (eid, ek)) =>
      assert(gid == eid, s"sample order: $gid vs $eid")
      assert(math.abs(gk - ek) < 1e-8, s"doc $gid key $gk vs $ek")
    }
  }

  test("rows-only queries are run-to-run deterministic (their only gate)") {
    // these six have no DuckDB oracle (approximate/seeded operators), so
    // the driver only checks row counts — self-determinism across two
    // fresh executions is the strongest property we can pin for them
    val rowsOnly = Seq("q_agg_approx_distinct", "q_agg_approx_percentile",
      "q_agg_approx_topk", "q_agg_hll_sketch", "q_agg_cms_sketch", "q_vec_ann_lsh")
    rowsOnly.foreach { name =>
      val fn = SparkEntry.queries(name)
      val a = fn(spark, sf0001).collect().map(_.toString).sorted.toSeq
      val b = fn(spark, sf0001).collect().map(_.toString).sorted.toSeq
      assert(a == b, s"$name not deterministic across runs")
      assert(a.nonEmpty, name)
    }
  }

  test("frame sampling strides and bounds frames") {
    val f = SparkEntry.queries("q_mm_framesample")(spark, sf0001).collect()
    assert(f.nonEmpty)
    assert(f.forall(_.getInt(1) % 4 == 0))                 // stride
    assert(f.forall(r => r.getInt(2) > 0 && r.getInt(2) <= 16)) // frame size bound
    // every doc contributes at least frame 0
    val docs = Tables.documents(spark, sf0001).count()
    assert(f.count(_.getInt(1) == 0) == docs)
  }

  test("hash split partitions the corpus, roughly 80/10/10, and is stable") {
    val out = SparkEntry.queries("q_pipeline_split")(spark, sf0001).collect()
    val docs = Tables.documents(spark, sf0001).count()
    val bySplit = out.groupBy(_.getString(0)).view.mapValues(_.map(_.getLong(2)).sum).toMap
    assert(bySplit.values.sum == docs) // every doc lands in exactly one split
    assert(bySplit.keySet == Set("train", "validation", "test"))
    // loose binomial bounds at n=500: p=0.8 within ±0.1, p=0.1 within ±0.06
    val train = bySplit("train").toDouble / docs
    assert(train > 0.70 && train < 0.90, s"train share $train")
    assert(bySplit("test").toDouble / docs < 0.16)
    // stability: re-run is bit-identical (assignment is a pure fn of doc_id)
    val again = SparkEntry.queries("q_pipeline_split")(spark, sf0001).collect()
    assert(out.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("contamination scores are valid ratios and benchmark docs self-excluded") {
    val out = SparkEntry.queries("q_text_contamination")(spark, sf0001).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (nGrams, nHit, score) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(nHit >= 1 && nHit <= nGrams, r.toString)
      assert(score > 0.0 && score <= 1.0, r.toString)
      assert(math.abs(score - nHit.toDouble / nGrams) < 1e-5, r.toString)
    }
    // a benchmark doc's own grams must not count as hits: a doc whose
    // grams exist ONLY in itself must be absent. Build one such check by
    // verifying at least that not every benchmark doc scores 1.0
    val bench = out.filter(r => r.getLong(0) % 50 == 0)
    assert(bench.isEmpty || !bench.forall(_.getDouble(3) == 1.0))
  }

  test("sequence packing conserves tokens and bounds bin overflow per shard") {
    import spark.implicits._
    val out = SparkEntry.queries("q_pipeline_pack")(spark, sf0001).collect()
    val toks = Tables.documents(spark, sf0001)
      .select(size(split(col("text"), " ")).cast("long").as("n"), col("source"))
    val total = toks.agg(sum($"n")).head().getLong(0)
    assert(out.map(_.getLong(3)).sum == total) // no doc lost or split
    val maxDoc = toks.agg(max($"n")).head().getLong(0)
    // a bin holds <512 before its last doc was added → bound 512+maxDoc
    assert(out.forall(_.getLong(3) < 512 + maxDoc))
    // bins are contiguous doc ranges per source: sorted by bin, doc ranges
    // must be strictly increasing and non-overlapping
    out.groupBy(_.getString(0)).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getLong(1))
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a.getLong(5) < b.getLong(4), s"$a / $b")
        case _ =>
      }
    }
  }

  test("dataset card grains are mutually consistent") {
    val out = SparkEntry.queries("q_pipeline_dataset_card")(spark, sf0001).collect()
    val global = out.filter(r => r.getString(0) == "ALL" && r.getString(1) == "ALL")
    assert(global.length == 1)
    val docs = Tables.documents(spark, sf0001).count()
    assert(global.head.getLong(2) == docs)
    // per-source rows sum to the global grain (docs and tokens)
    val perSource = out.filter(r => r.getString(0) != "ALL" && r.getString(1) == "ALL")
    assert(perSource.map(_.getLong(2)).sum == docs)
    assert(perSource.map(_.getLong(3)).sum == global.head.getLong(3))
    // duplicate rate is a valid ratio everywhere
    assert(out.forall(r => r.getDouble(6) >= 0.0 && r.getDouble(6) < 1.0))
  }

  test("ewma golden on a hand-computed series and head-of-series identity") {
    val out = SparkEntry.queries("q_win_ewma")(spark, sf0001).collect()
    val events = Tables.events(spark, sf0001).count()
    assert(out.length == events)
    // first event per user: ewma == value (only the k=0 term exists)
    val firstPerUser = out.groupBy(_.getLong(0)).values.map(_.minBy(_.getLong(1)))
    firstPerUser.foreach { r =>
      assert(math.abs(r.getDouble(3) - r.getDouble(2)) < 1e-6, r.toString)
    }
    // convexity: ewma lies within [min, max] of the user's values
    out.groupBy(_.getLong(0)).values.foreach { rows =>
      val vs = rows.map(_.getDouble(2))
      val (lo, hi) = (vs.min - 1e-6, vs.max + 1e-6)
      rows.foreach(r => assert(r.getDouble(3) >= lo && r.getDouble(3) <= hi))
    }
  }

  test("partitioned sink read-back prunes to partition filters only") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val df = SparkEntry.queries("q_sink_partitioned")(spark, sf0001)
    df.collect()
    // AdaptiveSparkPlanHelper.collect descends through AQE query stages
    val scans = collect(df.queryExecution.executedPlan) {
      case f: FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    val s = scans.head
    // the event_type predicate must be a partition filter, not a data filter
    assert(s.partitionFilters.exists(_.toString.contains("event_type")),
      s.partitionFilters.mkString(";"))
    assert(!s.dataFilters.exists(_.toString.contains("event_type")),
      s.dataFilters.mkString(";"))
  }

  test("compaction collapses each fragmented day partition to one file") {
    val out = SparkEntry.queries("q_maintain_compact")(spark, sf0001).collect()
    assert(out.nonEmpty)
    // locate the round-trip dirs the query wrote (keyed by applicationId)
    val base = java.nio.file.Paths.get(
      s"/tmp/graft_compact_rt/${spark.sparkContext.applicationId}/_root_testdata_sf0_001")
    def filesPerDay(p: java.nio.file.Path): Seq[Int] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.list(p).iterator().asScala.toSeq
        .filter(d => d.getFileName.toString.startsWith("day="))
        .map(d => java.nio.file.Files.list(d).iterator().asScala
          .count(_.getFileName.toString.startsWith("part-")))
    }
    val frag = filesPerDay(base)
    val comp = filesPerDay(java.nio.file.Paths.get(base.toString + "_c"))
    assert(comp.nonEmpty && comp.forall(_ == 1), s"compacted: $comp")
    assert(frag.max > 1, s"fixture not fragmented: $frag")
    // data parity with the fragmented table
    val a = spark.read.parquet(base.toString).count()
    val b = spark.read.parquet(base.toString + "_c").count()
    assert(a == b && b == out.map(_.getLong(1)).sum)
  }

  test("q_part_dpp prunes the date-partitioned fact scan dynamically") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val df = SparkEntry.queries("q_part_dpp")(spark, sf0001)
    df.collect()
    val scans = collect(df.queryExecution.executedPlan) {
      case f: FileSourceScanExec => f
    }
    // fact scan = the partition-filtered one (column pruning strips
    // event_id from its output — the aggregate only needs value/day)
    val fact = scans.find(_.partitionFilters.nonEmpty)
      .getOrElse(fail(s"no scan with partition filters among ${scans.size} scans"))
    // the day predicate must be a DYNAMIC partition filter (the dim join
    // key), with no data filters — pruning happens at directory listing
    assert(fact.partitionFilters.exists(
      _.find(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.DynamicPruningExpression]).isDefined),
      s"expected DynamicPruningExpression in ${fact.partitionFilters}")
    assert(fact.dataFilters.isEmpty, fact.dataFilters.mkString(";"))
  }

  test("gopher quality gates each trip on their own fixture document") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_gopher").toString
    val docs = Seq(
      (1L, "the quick brown fox jumps over a lazy dog near the quiet river bank today", "en", "src0"),
      (2L, "aaaaaaaaaaaaaaaa bbbbbbbbbbbbbbbb cccccccccccccccc dddddddddddddddd", "en", "src0"),
      (3L, "## ## ## markdown noise x", "en", "src0"),
      (4L, "- first bullet\n- second bullet\n- third bullet", "en", "src0"),
      (5L, "trailing off...\nagain…\nmore of it...", "en", "src0"))
    docs.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q_text_quality")(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    def flags(id: Long) = {
      val r = out(id)
      (r.getLong(r.fieldIndex("flag_word_len")), r.getLong(r.fieldIndex("flag_symbol")),
        r.getLong(r.fieldIndex("flag_bullet")), r.getLong(r.fieldIndex("flag_ellipsis")),
        r.getLong(r.fieldIndex("flag_gopher")))
    }
    assert(flags(1L) == ((1L, 1L, 1L, 1L, 1L)), s"clean doc: ${flags(1L)}")
    assert(flags(2L)._1 == 0L && flags(2L)._5 == 0L, s"word-len gate: ${flags(2L)}")
    assert(flags(3L)._2 == 0L && flags(3L)._5 == 0L, s"symbol gate: ${flags(3L)}")
    assert(flags(4L)._3 == 0L && flags(4L)._5 == 0L, s"bullet gate: ${flags(4L)}")
    assert(flags(5L)._4 == 0L && flags(5L)._5 == 0L, s"ellipsis gate: ${flags(5L)}")
  }

  test("substring dedup finds the shared 5-token span and only it") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_substr").toString
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta", "en", "src0"),
      (2L, "one alpha beta gamma delta epsilon two", "en", "src0"),
      (3L, "p q r s t u v", "en", "src0"))
    docs.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextOps.queries("q_dedup_substring")(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    // doc1: windows [1..5],[2..6]; the first is shared with doc2 → covers 5/6 tokens
    assert(out(1L) == ((2L, 1L, math.round(5.0 / 6 * 1e6) / 1e6)), out(1L).toString)
    // doc2: 3 windows, the middle one shared → covers tokens 2..6 = 5/7
    assert(out(2L) == ((3L, 1L, math.round(5.0 / 7 * 1e6) / 1e6)), out(2L).toString)
    // doc3: nothing repeated cross-document
    assert(out(3L) == ((3L, 0L, 0.0)), out(3L).toString)
    // the removal twin: covered tokens drop, the rest survive verbatim
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val clean = TextOps.queries("q_dedup_substring_clean")(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(clean(1L) == ((1L, md5("zeta"))), clean(1L).toString)
    assert(clean(2L) == ((2L, md5("one two"))), clean(2L).toString)
    assert(clean(3L) == ((7L, md5("p q r s t u v"))), clean(3L).toString)
  }

  test("binaryFile ingest reads one blob per asset and fingerprints it") {
    val out = Multimodal.queries("q_mm_ingest_binary")(spark, sf0001).collect()
    val expect = Tables.documents(spark, sf0001)
      .filter(pmod(col("doc_id"), lit(50)) === 0)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.length == expect.size && out.nonEmpty)
    val md = java.security.MessageDigest.getInstance("MD5")
    out.foreach { r =>
      val (id, n, h) = (r.getLong(0), r.getLong(1), r.getString(2))
      val bytes = (expect(id) + "\n").getBytes("UTF-8")
      assert(n == bytes.length, s"doc $id length")
      val hex = md.digest(bytes).map("%02x".format(_)).mkString
      md.reset()
      assert(h == hex, s"doc $id md5")
    }
  }

  test("unigram logprob scores are negative log-likelihoods with sane perplexity") {
    val out = SparkEntry.queries("q_text_unigram_logprob")(spark, sf0001).collect()
    val docs = Tables.documents(spark, sf0001).count()
    assert(out.length == docs) // every doc scored
    out.foreach { r =>
      val (avgLp, ppl) = (r.getDouble(2), r.getDouble(3))
      assert(avgLp < 0.0, r.toString)            // unigram probs < 1
      assert(ppl > 1.0 && ppl < 1000.0, r.toString)
      assert(math.abs(ppl - math.exp(-avgLp)) < 1e-3 * ppl, r.toString)
    }
  }

  test("temperature mix up-weights low-resource languages and normalizes") {
    val out = SparkEntry.queries("q_pipeline_mix")(spark, sf0001).collect()
    assert(out.length == 5) // one row per language
    assert(math.abs(out.map(_.getDouble(4)).sum - 1.0) < 1e-4) // target shares sum to 1
    assert(math.abs(out.map(_.getDouble(3)).sum - 1.0) < 1e-4) // actual shares too
    // α < 1 temperature: the ordering of weights is opposite the ordering
    // of shares (smaller share → larger up-sampling weight)
    val byShare = out.sortBy(_.getDouble(3)).map(_.getDouble(5))
    assert(byShare.zip(byShare.tail).forall { case (a, b) => a >= b }, byShare.mkString(","))
  }

  test("ann recall equals the manual intersection of exact and ivf top-10") {
    val r = SparkEntry.queries("q_vec_ann_recall")(spark, sf0001).head()
    val exact = SparkEntry.queries("q_vec_knn_cosine")(spark, sf0001)
      .collect().map(_.getLong(0)).toSet
    val ivf = SparkEntry.queries("q_vec_ann_ivf")(spark, sf0001)
      .collect().map(_.getLong(0)).toSet
    val overlap = (exact intersect ivf).size
    assert(r.getLong(0) == overlap)
    assert(exact.size == 10 && ivf.size == 10)
    // The geometry-trained codebook (k-means, K=16, nprobe=6) must beat a
    // random partition of the corpus by a wide margin: recall@10 ≥ 0.6.
    assert(r.getDouble(1) >= 0.6, s"recall_at_10 = ${r.getDouble(1)}")
  }

  test("pq recall equals the manual intersection of exact and pq top-10") {
    val r = SparkEntry.queries("q_vec_pq_recall")(spark, sf0001).head()
    val exact = SparkEntry.queries("q_vec_knn_cosine")(spark, sf0001)
      .collect().map(_.getLong(0)).toSet
    val pq = SparkEntry.queries("q_vec_ann_pq")(spark, sf0001)
      .collect().map(_.getLong(0)).toSet
    assert(r.getLong(0) == (exact intersect pq).size)
    assert(exact.size == 10 && pq.size == 10)
    // ADC shortlist (L=100) + exact rerank: the two-stage shape must hold
    // real recall on this near-random geometry (measured 1.0 at sf0.001,
    // 0.8 at sf0.01/0.1; pure ADC ranking measured 0.0-0.3).
    assert(r.getDouble(1) >= 0.6, s"recall_at_10 = ${r.getDouble(1)}")
  }

  test("quality report: all rules in ONE scan, failing rule flagged") {
    val df = SparkEntry.queries("q_quality_report")(spark, sf0001)
    val rows = df.collect()
    assert(rows.length == 6)
    val pass = rows.map(r => r.getString(0) -> r.getLong(4)).toMap
    assert(pass("accepted_event_type") == 0L) // the gate must be able to fail
    assert(pass.values.sum == 5L)
    // the defining property: N rules, ONE pass — adding a rule adds an
    // aggregate expression, never a scan (sparkPlan, because the AQE
    // toString prints initial+final and would double-count the one scan)
    val plan = df.queryExecution.sparkPlan.toString
    assert("FileScan parquet".r.findAllIn(plan).size == 1, plan)
  }

  test("observe() piggybacks quality metrics onto a query's own execution") {
    import org.apache.spark.sql.Observation
    import org.apache.spark.sql.functions._
    val obs = Observation("q_obs")
    val df = graft.operators.QualityOps.observeQuality(
      Tables.events(spark, sf0001), obs)
    // the downstream query the pipeline actually wanted
    val nTypes = df.filter(col("value") >= 0).select("event_type").distinct().count()
    assert(nTypes > 0)
    val m = obs.get
    // metrics describe the OBSERVED node's full input, not the filtered tail
    assert(m("n_rows") == Tables.events(spark, sf0001).count())
    assert(m("n_null_value") == 0L)
    assert(m.contains("n_negative_value") && m.contains("n_users_approx"))
    // and no second scan happened: the one plan carried both answers
    val plan = df.filter(col("value") >= 0).queryExecution.sparkPlan.toString
    assert("FileScan parquet".r.findAllIn(plan).size == 1)
  }

  test("weekly reaggregate of the daily pre-aggregate matches raw-grain aggregation") {
    import org.apache.spark.sql.types.DecimalType
    val got = SparkEntry.queries("q_agg_reaggregate")(spark, sf0001).collect()
    val want = Tables.events(spark, sf0001)
      .groupBy(to_date(date_trunc("week", col("ts"))).as("week"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(30, 6))).cast("double").as("sum_value"),
        min("value"), max("value"))
      .orderBy("week", "event_type").collect()
    assert(got.length == want.length && got.nonEmpty)
    got.zip(want).foreach { case (g, w) =>
      assert(g.getDate(0) == w.getDate(0) && g.getString(1) == w.getString(1))
      assert(g.getLong(2) == w.getLong(2))
      assert(g.getDouble(3) == w.getDouble(3)) // decimal merge is exact
      assert(g.getDouble(4) == w.getDouble(4) && g.getDouble(5) == w.getDouble(5))
    }
  }

  test("equi-depth deciles balance counts within one row and tile the value range") {
    val out = SparkEntry.queries("q_agg_hist_equidepth")(spark, sf0001).collect()
    val events = Tables.events(spark, sf0001).count()
    assert(out.map(_.getLong(2)).sum == events)
    out.groupBy(_.getString(0)).values.foreach { rows =>
      val ns = rows.map(_.getLong(2))
      assert(ns.max - ns.min <= 1, ns.mkString(",")) // equi-depth balance
      val sorted = rows.sortBy(_.getInt(1))
      // decile ranges are ordered and non-overlapping (hi_k <= lo_{k+1})
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a.getDouble(4) <= b.getDouble(3) + 1e-9)
        case _ =>
      }
    }
  }

  test("printf formatting golden shapes") {
    val out = SparkEntry.queries("q_fn_format")(spark, sf0001).collect()
    assert(out.nonEmpty)
    val fmtRe = """\d{5}\|-?\d+\.\d{3}\|[a-z]+""".r
    out.foreach { r =>
      assert(fmtRe.matches(r.getString(1)), r.getString(1))
      assert(r.getString(6).length == 1 && r.getString(6).head.isLetter)
      assert(r.getString(7).length <= 3 && r.getString(8).length <= 3)
    }
  }

  test("perceptual hash runs on REAL decoded pixels with consistent dup groups") {
    val out = SparkEntry.queries("q_mm_phash_dedup")(spark, sf0001).collect()
    // image-routed docs only (BMP %4==1, PNG %8==3 — the lossless rungs)
    val docs = Tables.documents(spark, sf0001)
      .filter("doc_id % 4 = 1 OR doc_id % 8 = 3").count()
    assert(out.length == docs && docs > 0)
    out.foreach(r => assert(r.getString(1).matches("[01]{64}"), r.getString(1)))
    // n_same equals the actual multiplicity of the hash
    val mult = out.groupBy(_.getString(1)).view.mapValues(_.length).toMap
    out.foreach(r => assert(r.getLong(2) == mult(r.getString(1))))
    assert(mult.values.exists(_ > 1), "fixture should contain dup groups")
    // kernel goldens on crafted pixels: constant luma → every occupied
    // cell sits AT the global mean → bit 1; a 16x16 image occupies all 64
    // cells; a 4x3 image leaves the unoccupied cells 0
    import graft.multimodal.Multimodal.ahashBits
    assert(ahashBits(16, 16, Array.fill(256)(0x808080)) == "1" * 64)
    // 4x3 occupies cx ∈ {0,2,4,6} × cy ∈ {0,2,5} = 12 cells; rest stay 0
    val small = ahashBits(4, 3, Array.fill(12)(0x808080))
    assert(small.count(_ == '1') == 12 && small.matches("[01]{64}"))
    // top-bright/bottom-dark 16x16 → exactly the top half of bits set
    val half = Array.tabulate(256)(i => if (i < 128) 0xffffff else 0x000000)
    assert(ahashBits(16, 16, half) == "1" * 32 + "0" * 32)
    // identical payloads hash identically; a one-pixel luma change that
    // moves a cell across the mean flips that bit only
    assert(ahashBits(16, 16, half) == ahashBits(16, 16, half.clone))
  }

  test("sql-defined functions inline into the plan; closure UDFs stay opaque") {
    val sqlPlan = SparkEntry.queries("q_udf_sql")(spark, sf0001)
      .queryExecution.executedPlan.toString
    // the body compiled to the raw CASE expression — no UDF call survives
    assert(!sqlPlan.contains("UDF"), sqlPlan.take(500))
    assert(sqlPlan.contains("CASE WHEN"), sqlPlan.take(500))
    val scalaPlan = SparkEntry.queries("q_udf_scalar")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(scalaPlan.contains("UDF"), scalaPlan.take(500))
  }

  test("markov transitions row-normalize and conserve event pairs") {
    val out = SparkEntry.queries("q_events_markov")(spark, sf0001).collect()
    // per from_type the probabilities sum to 1 (within rounding of 25 cells)
    out.groupBy(_.getString(0)).values.foreach { rows =>
      assert(math.abs(rows.map(_.getDouble(3)).sum - 1.0) < 1e-4)
    }
    // every user contributes (events_u - 1) pairs
    val events = Tables.events(spark, sf0001).count()
    val users = Tables.events(spark, sf0001).select("user_id").distinct().count()
    assert(out.map(_.getLong(2)).sum == events - users)
  }

  test("sliding median emits an actual trailing-window element") {
    val out = SparkEntry.queries("q_win_median_sliding")(spark, sf0001).collect()
    val events = Tables.events(spark, sf0001).count()
    assert(out.length == events)
    // the median is drawn from the user's own values
    val byUser = out.groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getDouble(2)).toSet).toMap
    out.foreach(r => assert(byUser(r.getLong(0)).contains(r.getDouble(3))))
  }

  test("threshold sweep cumulative counts decrease and match per-level sums") {
    val out = SparkEntry.queries("q_dedup_threshold_sweep")(spark, sf0001).collect()
    assert(out.nonEmpty)
    val sorted = out.sortBy(_.getLong(0))
    sorted.foreach { r =>
      assert(math.abs(r.getDouble(2) - r.getLong(0) / 8.0) < 1e-9)
    }
    // n_at_or_above(s) = Σ n_pairs over shared >= s
    sorted.foreach { r =>
      val expect = sorted.filter(_.getLong(0) >= r.getLong(0)).map(_.getLong(1)).sum
      assert(r.getLong(3) == expect, r.toString)
    }
  }

  test("filter funnel partitions the corpus with shares summing to one") {
    val out = SparkEntry.queries("q_pipeline_filter_funnel")(spark, sf0001).collect()
    val docs = Tables.documents(spark, sf0001).count()
    assert(out.map(_.getLong(1)).sum == docs)
    assert(math.abs(out.map(_.getDouble(2)).sum - 1.0) < 1e-4)
    assert(out.exists(_.getString(0) == "4_accepted"))
  }

  test("mad anomaly flags exceed the robust threshold and beat stddev masking") {
    val out = SparkEntry.queries("q_anomaly_mad")(spark, sf0001).collect()
    assert(out.nonEmpty)
    out.foreach(r => assert(math.abs(r.getDouble(3)) > 3.5, r.toString))
    // right-skewed corpus: the robust gate flags MORE tail points than the
    // mean/stddev gate, whose sigma is inflated by the very outliers it hunts
    val zs = SparkEntry.queries("q_anomaly_zscore")(spark, sf0001).collect()
    assert(out.length >= zs.length)
  }

  test("centroid drift covers every label and splits the cohorts exactly") {
    val out = SparkEntry.queries("q_vec_centroid_drift")(spark, sf0001).collect()
    assert(out.length == 10) // one row per label
    val vecs = Tables.embeddings(spark, sf0001).count()
    assert(out.map(r => r.getLong(1) + r.getLong(2)).sum == vecs)
    // cosine of two mean vectors over the same distribution is bounded
    out.foreach(r => assert(math.abs(r.getDouble(3)) <= 1.0 + 1e-9, r.toString))
  }

  test("ab lift readout partitions users and derives consistent statistics") {
    val r = SparkEntry.queries("q_events_ab_lift")(spark, sf0001).head()
    val users = Tables.events(spark, sf0001).select("user_id").distinct().count()
    val (nA, nB, cA, cB) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(nA + nB == users)
    assert(cA <= nA && cB <= nB)
    assert(math.abs(r.getDouble(6) - (r.getDouble(5) - r.getDouble(4))) < 1e-5)
    // variant assignment is a pure fn of user_id → stable across runs
    val again = SparkEntry.queries("q_events_ab_lift")(spark, sf0001).head()
    assert(r.toString == again.toString)
  }

  test("top-decile share is at least proportional and totals reconcile") {
    import org.apache.spark.sql.types.DecimalType
    val out = SparkEntry.queries("q_agg_topn_share")(spark, sf0001).collect()
    // the top decile of a DESC ordering cannot hold less than 1/10 of value
    out.foreach { r =>
      val share = r.getDouble(3)
      assert(share >= 0.1 - 1e-6 && share <= 1.0 + 1e-9, r.toString)
    }
    val total = Tables.events(spark, sf0001)
      .agg(sum(col("value").cast(DecimalType(30, 6))).cast("double")).head().getDouble(0)
    assert(math.abs(out.map(_.getDouble(2)).sum - total) < 1e-6)
  }

  test("zipf fit reports the full vocabulary and a negative slope") {
    val r = SparkEntry.queries("q_text_zipf")(spark, sf0001).head()
    val vocab = Tables.documents(spark, sf0001)
      .select(explode(split(col("text"), " ")).as("t")).distinct().count()
    assert(r.getLong(0) == vocab)
    assert(r.getDouble(1) < 0.0) // frequency decreases with rank
    assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
  }

  test("nearest as-of picks the forward match and breaks ties by larger key") {
    import spark.implicits._
    Seq((1L, 7L, "2024-01-01 00:01:40"), (2L, 7L, "2024-01-01 00:10:00"))
      .toDF("event_id", "user_id", "ts_str")
      .withColumn("ts_s", to_timestamp($"ts_str")).createOrReplaceTempView("ev")
    Seq( // event 1 at t=100s: order 1 at 90 (10 away), order 2 at 105 (5 away, FORWARD)
         // event 2 at t=600s: orders at 595 and 605 — both 5 away → larger key 4
      (1L, 7L, "2024-01-01 00:01:30"), (2L, 7L, "2024-01-01 00:01:45"),
      (3L, 7L, "2024-01-01 00:09:55"), (4L, 7L, "2024-01-01 00:10:05"))
      .toDF("o_orderkey", "o_custkey", "od_str")
      .withColumn("o_orderdate", to_timestamp($"od_str")).createOrReplaceTempView("orders")
    val out = spark.sql(graft.operators.JoinOps.asofNearestSparkSql).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq((1L, 2L, 5L), (2L, 4L, 5L)), out.mkString(","))
  }

  test("gini sits at the exponential-distribution value on this corpus") {
    val out = SparkEntry.queries("q_agg_gini")(spark, sf0001).collect()
    assert(out.length == 5)
    // value ~ Exp(λ) per type → theoretical Gini = 0.5; loose bounds at n≈200
    out.foreach { r =>
      val g = r.getDouble(2)
      assert(g > 0.4 && g < 0.6, r.toString)
    }
  }

  test("entropy is bounded by ln(5) and counts reconcile with the corpus") {
    val out = SparkEntry.queries("q_agg_entropy")(spark, sf0001).collect()
    val events = Tables.events(spark, sf0001).count()
    assert(out.map(_.getLong(1)).sum == events)
    out.foreach { r =>
      assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= math.log(5.0) + 1e-9)
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0 + 1e-9)
    }
  }

  test("pathing counts conserve the 3-step windows it ranks") {
    val out = SparkEntry.queries("q_events_pathing")(spark, sf0001).collect()
    assert(out.length == 15)
    // descending count order with the path tiebreak
    out.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getLong(1) > b.getLong(1) ||
          (a.getLong(1) == b.getLong(1) && a.getString(0) < b.getString(0)))
      case _ =>
    }
    out.foreach(r => assert(r.getString(0).split(" > ").length == 3))
  }

  test("heatmap covers the grid and conserves events") {
    val out = SparkEntry.queries("q_report_heatmap")(spark, sf0001).collect()
    val events = Tables.events(spark, sf0001).count()
    assert(out.map(_.getLong(2)).sum == events)
    out.foreach { r =>
      assert(r.getLong(0) >= 1 && r.getLong(0) <= 7)
      assert(r.getLong(1) >= 0 && r.getLong(1) <= 23)
    }
  }

  test("pmi golden on a constructed co-occurrence corpus") {
    import spark.implicits._
    // a&b always co-occur (10 docs), c co-occurs with a in 5 of 10 docs
    val docs = (0 until 10).map { i =>
      (i.toLong, if (i < 5) "a b c" else "a b")
    }
    docs.toDF("doc_id", "text").createOrReplaceTempView("documents")
    val out = spark.sql(
      """WITH d AS (SELECT doc_id, array_distinct(split(text, ' ')) AS toks
        |           FROM documents),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM d),
        |u AS (SELECT doc_id, explode(toks) AS tok FROM d),
        |f AS (SELECT tok, count(*) AS df FROM u GROUP BY tok),
        |cp AS (SELECT a.tok AS ta, b.tok AS tb, count(*) AS cdf
        |       FROM u a JOIN u b ON a.doc_id = b.doc_id AND a.tok < b.tok
        |       GROUP BY a.tok, b.tok),
        |s AS (SELECT ta, tb, cdf,
        |        ln((cdf / nd) / ((fa.df / nd) * (fb.df / nd))) AS pmi
        |      FROM cp JOIN f fa ON cp.ta = fa.tok
        |              JOIN f fb ON cp.tb = fb.tok CROSS JOIN n
        |      WHERE cdf >= 5)
        |SELECT ta, tb, cdf, round(pmi, 6) AS pmi FROM s ORDER BY ta, tb""".stripMargin)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getDouble(3))).toMap
    assert(math.abs(out(("a", "b")) - 0.0) < 1e-9)          // perfect co-occurrence, both df=10
    assert(math.abs(out(("a", "c")) - 0.0) < 1e-9)          // c ⊂ a docs: p(ac)=p(c)
    assert(math.abs(out(("b", "c")) - 0.0) < 1e-9)
  }

  test("centroid outliers flag at most 5 percent per label, the farthest first") {
    val out = SparkEntry.queries("q_vec_outlier_centroid")(spark, sf0001).collect()
    assert(out.nonEmpty)
    val perLabel = Tables.embeddings(spark, sf0001)
      .groupBy("label").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    out.groupBy(_.getInt(0)).foreach { case (label, rows) =>
      assert(rows.length * 20 <= perLabel(label), s"label $label")
    }
  }

  test("growth accounting reconciles dau, new users, and the cumulative series") {
    val out = SparkEntry.queries("q_report_growth")(spark, sf0001).collect()
    val users = Tables.events(spark, sf0001).select("user_id").distinct().count()
    assert(out.last.getLong(3) == users)            // cumulative ends at total uniques
    assert(out.map(_.getLong(2)).sum == users)      // every user is new exactly once
    out.foreach(r => assert(r.getLong(2) <= r.getLong(1))) // new ⊆ active that day
    // cumulative is the prefix sum of new users
    var cum = 0L
    out.foreach { r => cum += r.getLong(2); assert(r.getLong(3) == cum) }
  }

  test("percentile bands are ordered and p50 matches the exact median query") {
    val out = SparkEntry.queries("q_agg_percentile_bands")(spark, sf0001).collect()
    out.foreach { r =>
      assert(r.getDouble(2) <= r.getDouble(3) && r.getDouble(3) <= r.getDouble(4), r.toString)
    }
    val med = SparkEntry.queries("q_agg_median")(spark, sf0001).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    // ceil(0.5·n) and (n+1) div 2 agree for even n and differ by at most
    // one rank for odd n; on this corpus both select the same element for
    // even-count groups — check those exactly
    out.filter(_.getLong(1) % 2 == 0).foreach { r =>
      assert(r.getDouble(2) == med(r.getString(0)), r.toString)
    }
  }

  test("streaks cover every user and are bounded by the active-day count") {
    val out = SparkEntry.queries("q_win_streaks")(spark, sf0001).collect()
    val users = Tables.events(spark, sf0001).select("user_id").distinct().count()
    assert(out.length == users)
    val activeDays = Tables.events(spark, sf0001)
      .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
      .groupBy("user_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.foreach { r =>
      val (u, streak, nStreaks) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(streak >= 1 && streak <= activeDays(u))
      assert(nStreaks >= 1 && streak + (nStreaks - 1) <= activeDays(u))
    }
  }

  test("interleave round-robins sources so any prefix is source-balanced") {
    val out = SparkEntry.queries("q_pipeline_interleave")(spark, sf0001).collect()
    assert(out.length == 100)
    assert(out.map(_.getInt(0).toLong).toSeq == (1L to 100L)) // dense positions
    val nSources = Tables.documents(spark, sf0001)
      .select("source").distinct().count().toInt
    // within the first full round every source appears exactly once
    val firstRound = out.take(nSources).map(_.getString(2))
    assert(firstRound.toSet.size == nSources, firstRound.mkString(","))
    // positions are (rank, source)-ordered: rank is non-decreasing
    val rks = out.map(_.getInt(3))
    assert(rks.zip(rks.tail).forall { case (a, b) => a <= b })
  }

  test("hourly chi-square reconciles counts and sits near its dof on uniform data") {
    val out = SparkEntry.queries("q_agg_chi2_hourly")(spark, sf0001).collect()
    val events = Tables.events(spark, sf0001).count()
    assert(out.map(_.getLong(1)).sum == events)
    out.foreach { r =>
      assert(r.getDouble(2) >= 0.0)
      // E[chi2] = dof = 23 for the uniform generator; generous band
      assert(r.getDouble(2) < 120.0, r.toString)
      assert(r.getInt(3) == 23)
    }
  }

  test("pca power iteration yields a valid spectral estimate") {
    val r = SparkEntry.queries("q_vec_pca_power")(spark, sf0001).head()
    val (eig, share) = (r.getDouble(0), r.getDouble(1))
    assert(eig > 0.0)
    assert(share > 0.0 && share <= 1.0)
    // components of a unit vector
    (2 to 5).foreach(i => assert(math.abs(r.getDouble(i)) <= 1.0 + 1e-9))
    // near-isotropic random embeddings: the top-PC share must stay small
    // (a spiked spectrum would push it toward 1)
    assert(share < 0.2, s"share $share")
  }

  test("bloom prefilter is semantically transparent vs the plain semi join") {
    val got = SparkEntry.queries("q_join_bloom_prefilter")(spark, sf0001).collect()
    val sel = Tables.orders(spark, sf0001)
      .filter(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 400000.0)
    val want = Tables.lineitem(spark, sf0001)
      .join(sel.select("o_orderkey"), col("l_orderkey") === col("o_orderkey"), "left_semi")
      .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")
      .orderBy("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")
      .collect()
    assert(got.map(_.toString).toSeq == want.map(_.toString).toSeq && got.nonEmpty)
  }

  // ---- round-7 additions ------------------------------------------------

  test("LPM CIDR routes every event exactly once through the plan shapes it claims") {
    val df = SparkEntry.queries("q_join_lpm_cidr")(spark, sf0001)
    val rows = df.collect()
    // conservation: each event matched >= the covering /8-/16 supernet and
    // the top-1 window keeps exactly one row per event
    val total = rows.map(_.getLong(2)).sum
    assert(total == Tables.events(spark, sf0001).count(), rows.mkString(","))
    val plan = df.queryExecution.executedPlan.toString
    // network match is an equi hash join; top-1-per-event runs as a
    // group-limit, not a full window sort
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
    assert(plan.contains("WindowGroupLimit"), plan.take(800))
  }

  test("per-group reservoir keeps at most 10 per language with contiguous ranks") {
    val df = SparkEntry.queries("q_sample_reservoir_group")(spark, sf0001)
    val rows = df.collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    val byLang = rows.groupBy(_._1)
    assert(byLang.nonEmpty)
    byLang.foreach { case (lang, rs) =>
      assert(rs.length <= 10, s"$lang overfull")
      assert(rs.map(_._2).sorted.toSeq == (1 to rs.length), s"$lang ranks")
    }
    // plan: the rk <= 10 filter runs as a per-partition group limit
    assert(df.queryExecution.executedPlan.toString.contains("WindowGroupLimit"))
  }

  test("drawdown query replays naively in JVM") {
    // independent imperative statement of the two-running-window chain:
    // per user in (second-truncated ts, event_id) order, exact decimal
    // running sum, running peak, max gap — must equal the SQL windows
    val got = SparkEntry.queries("q_win_drawdown")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toList
    val ev = graft.Tables.events(spark, sf0001)
      .selectExpr("user_id", "CAST(date_trunc('second', ts) AS TIMESTAMP) AS ts_s",
        "event_id", "value")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3)))
    def d6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val want = ev.groupBy(_._1).toList.sortBy(_._1).map { case (u, rows) =>
      var cum = BigDecimal(0); var peak = BigDecimal(0); var dd = BigDecimal(0)
      var first = true
      rows.sortBy(r => (r._2.getTime, r._3)).foreach { r =>
        cum += d6(r._4)
        if (first || cum > peak) peak = cum
        first = false
        if (peak - cum > dd) dd = peak - cum
      }
      (u, rows.length.toLong,
        BigDecimal(dd.toDouble).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    assert(got == want, s"first diffs: ${got.zip(want).filter(p => p._1 != p._2).take(3)}")
  }

  test("BPE merge round replays naively in JVM") {
    import scala.jdk.CollectionConverters._
    val docs = Tables.documents(spark, sf0001)
      .select("text").collect().map(_.getString(0))
    val wf = docs.flatMap(_.split(" ")).filter(_.nonEmpty)
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    // the SQL side splits via regexp_extract_all(word,'(.)',1): regex '.'
    // skips line terminators, so the replay must not see any (tokens come
    // from space-splitting, which leaves \n intact if the corpus had one)
    val lineTerms = "\n\r\u0085\u2028\u2029".toSet
    assert(!wf.keysIterator.exists(_.exists(lineTerms)),
      "corpus assumption violated: a token contains a line terminator")
    // iterate CODE POINTS (not UTF-16 units) to match the SQL's per-'.'
    // split on non-BMP text
    def cps(w: String): Array[String] =
      w.codePoints().toArray.map(cp => new String(Character.toChars(cp)))
    val pairCounts = new scala.collection.mutable.HashMap[String, Long]()
    wf.foreach { case (w, c) =>
      cps(w).sliding(2).filter(_.length == 2).foreach { p =>
        val key = s"${p(0)} ${p(1)}"
        pairCounts(key) = pairCounts.getOrElse(key, 0L) + c
      }
    }
    val top = pairCounts.toSeq.sortBy { case (p, n) => (-n, p) }.head._1
    val merged = top.replace(" ", "")
    val tokCounts = new scala.collection.mutable.HashMap[String, Long]()
    wf.foreach { case (w, c) =>
      // greedy left-to-right merge application on the code-point sequence
      val spaced = " " + cps(w).mkString(" ") + " "
      val applied = spaced.replace(s" $top ", s" $merged ").trim
      applied.split(" ").foreach { t =>
        tokCounts(t) = tokCounts.getOrElse(t, 0L) + c
      }
    }
    val want = tokCounts.toSeq.sortBy { case (t, n) => (-n, t) }.take(15)
      .map { case (t, n) => (top, t, n) }
    val got = SparkEntry.queries("q_text_bpe_merge")(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == want, s"got=$got\nwant=$want")
  }

  test("BPE trainer (K=5) replays naively in JVM: merge list and final symbols") {
    val docs = Tables.documents(spark, sf0001)
      .select("text").collect().map(_.getString(0))
    def cps(w: String): Array[String] =
      w.codePoints().toArray.map(cp => new String(Character.toChars(cp)))
    // state: spaced symbol string -> weight (the trainer's carried state)
    var state: Map[String, Long] = docs.flatMap(_.split(" ")).filter(_.nonEmpty)
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
      .map { case (w, c) => cps(w).mkString(" ") -> c }
    val merges = Seq.newBuilder[(Int, String, Long)]
    for (k <- 1 to 5) {
      val pairCounts = new scala.collection.mutable.HashMap[String, Long]()
      state.foreach { case (seq, c) =>
        seq.split(" ").sliding(2).filter(_.length == 2).foreach { p =>
          val key = s"${p(0)} ${p(1)}"
          pairCounts(key) = pairCounts.getOrElse(key, 0L) + c
        }
      }
      val (top, n) = pairCounts.toSeq.sortBy { case (p, c) => (-c, p) }.head
      merges += ((k, top, n))
      // greedy left-to-right spaced replace — the engines' application order
      state = state.toSeq.map { case (seq, c) =>
        (s" $seq ".replace(s" $top ", s" ${top.replace(" ", "")} ").trim, c)
      }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    }
    val symCounts = new scala.collection.mutable.HashMap[String, Long]()
    state.foreach { case (seq, c) =>
      seq.split(" ").foreach(t => symCounts(t) = symCounts.getOrElse(t, 0L) + c)
    }
    val wantMerges = merges.result()
      .map { case (k, p, n) => ("merge", k, p, n) }
    val wantSyms = symCounts.toSeq.sortBy { case (t, c) => (-c, t) }.take(20)
      .map { case (t, c) => ("symbol", 6, t, c) }
    val got = SparkEntry.queries("q_text_bpe_train")(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getLong(3))).toSeq
    assert(got == wantMerges ++ wantSyms,
      s"got=$got\nwant=${wantMerges ++ wantSyms}")
  }

  test("unigram-LM trainer (K=3) replays naively in JVM: losses, vocab sizes, pieces") {
    val docs = Tables.documents(spark, sf0001)
      .select("text").collect().map(_.getString(0))
    val wf: Map[String, Long] = docs.flatMap(_.split(" ")).filter(_.nonEmpty)
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    // seed lattice: all substrings of length 1..4, word-frequency weighted
    val cand = new scala.collection.mutable.HashMap[String, Long]()
    wf.foreach { case (w, c) =>
      for (i <- 0 until w.length; l <- 1 to math.min(4, w.length - i)) {
        val p = w.substring(i, i + l)
        cand(p) = cand.getOrElse(p, 0L) + c
      }
    }
    var vocab: Map[String, Long] =
      cand.filter(_._1.length == 1).toMap ++
        cand.filter(_._1.length > 1).toSeq
          .sortBy { case (p, c) => (-c, p) }.take(40).toMap
    val losses = Seq.newBuilder[Long]
    val sizes = Seq.newBuilder[Long]
    for (_ <- 1 to 3) {
      val total = vocab.values.sum
      val cost: Map[String, Long] = vocab.map { case (p, c) =>
        p -> math.floor(-math.log(c.toDouble / total.toDouble) * 1e6 + 0.5).toLong
      }
      // brute-force every segmentation; best = lexicographic (cost, path)
      def segs(w: String): Seq[List[String]] =
        if (w.isEmpty) Seq(Nil)
        else (1 to math.min(4, w.length)).flatMap { l =>
          val p = w.substring(0, l)
          if (cost.contains(p)) segs(w.substring(l)).map(p :: _) else Nil
        }
      val best: Map[String, (Long, String)] = wf.keys.map { w =>
        w -> segs(w).map(s => (s.map(cost).sum, s.mkString(" "))).min
      }.toMap
      losses += wf.map { case (w, c) => c * best(w)._1 }.sum
      val tok = new scala.collection.mutable.HashMap[String, Long]()
      wf.foreach { case (w, c) =>
        best(w)._2.split(" ").foreach(p => tok(p) = tok.getOrElse(p, 0L) + c)
      }
      val keep = math.ceil(0.8 * tok.count(_._1.length > 1)).toLong
      vocab = vocab.keys.filter(_.length == 1)
        .map(p => p -> math.max(tok.getOrElse(p, 0L), 1L)).toMap ++
        tok.filter(_._1.length > 1).toSeq
          .sortBy { case (p, c) => (-c, p) }.take(keep.toInt).toMap
      sizes += vocab.size.toLong
    }
    val wantLoss = losses.result().zipWithIndex.map { case (v, i) =>
      ("loss", i + 1, "viterbi_cost_ppm", v) }
    val wantPieces = vocab.toSeq.sortBy { case (p, c) => (-c, p) }.take(20)
      .map { case (p, c) => ("piece", 4, p, c) }
    val wantVocab = sizes.result().zipWithIndex.map { case (v, i) =>
      ("vocab", i + 1, "n_pieces", v) }
    val got = SparkEntry.queries("q_text_unigram_train")(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getLong(3))).toSeq
    val want = wantLoss ++ wantPieces ++ wantVocab
    assert(got == want, s"got=$got\nwant=$want")
  }

  test("per-row quality-score expression == broadcast-join scorer") {
    // the streaming ingest path scores with the literal-map fold
    // (qualityScoreSelectExprs); the graded batch query scores with the
    // explode + broadcast-join form — same model, same verdicts
    import graft.operators.TextOps
    val join = SparkEntry.queries("q_text_quality_score")(spark, sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getString(4)))
      .toSeq
    val expr = Tables.documents(spark, sf0001)
      .selectExpr("doc_id" +: TextOps.qualityScoreSelectExprs("text"): _*)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getString(4)))
      .toSeq
    assert(join.nonEmpty && join == expr,
      s"first diffs: ${join.zip(expr).filter(p => p._1 != p._2).take(3)}")
  }

  test("incremental dedup vs frozen registry == full recompute restricted to new docs") {
    // the backfill equality claim, proven inside one engine too (the
    // oracle proves it cross-engine): frozen old-vocab dict + bitmap
    // registry must reproduce the naive unblocked new-vs-old Jaccard scan
    val got = SparkEntry.queries("q_dedup_incremental")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    Tables.documents(spark, sf0001).createOrReplaceTempView("documents")
    val want = spark.sql(
      """WITH d AS (SELECT doc_id, lang, array_distinct(split(text, ' ')) AS toks
        |           FROM documents),
        |nw AS (SELECT * FROM d WHERE doc_id % 5 = 0),
        |old AS (SELECT * FROM d WHERE doc_id % 5 <> 0),
        |p AS (SELECT nw.doc_id AS doc_id, old.doc_id AS old_id,
        |        size(array_intersect(nw.toks, old.toks)) AS i,
        |        size(nw.toks) AS na, size(old.toks) AS nb
        |      FROM nw JOIN old ON nw.lang = old.lang),
        |h AS (SELECT doc_id, old_id, round(i / (na + nb - i), 6) AS jaccard
        |      FROM p WHERE round(i / (na + nb - i), 6) >= 0.9)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dups,
        |  min(named_struct('nj', -jaccard, 'd', old_id)).d AS dup_of,
        |  -min(named_struct('nj', -jaccard, 'd', old_id)).nj AS best_j
        |FROM h GROUP BY doc_id ORDER BY doc_id""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got.nonEmpty && got == want, s"got=${got.take(5)}... want=${want.take(5)}...")
  }

  test("column stats reconcile with direct aggregates off one scan") {
    val df = SparkEntry.queries("q_scan_column_stats")(spark, sf0001)
    val rows = df.collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getString(3), r.getString(4), r.getLong(5))).toMap
    val ev = Tables.events(spark, sf0001)
    val n = ev.count()
    assert(rows("event_type")._1 == n)
    assert(rows("event_type")._2 ==
      ev.select("event_type").distinct().count())
    assert(rows("user_id")._3 ==
      ev.agg(min("user_id")).head().getLong(0).toString)
    assert(rows.values.forall(_._5 == 0)) // corpus has no nulls
    // one parquet scan feeds all twelve statistics
    val scans = collectLeaves(df.queryExecution.executedPlan).count(
      _.nodeName.toLowerCase.contains("scan"))
    assert(scans <= 2, df.queryExecution.executedPlan.toString.take(500))
  }

  test("bigram logprob scores every multi-token doc with finite negative logprob") {
    val rows = SparkEntry.queries("q_text_bigram_logprob")(spark, sf0001).collect()
    val nMulti = Tables.documents(spark, sf0001)
      .filter(size(split(col("text"), " ")) >= 2).count()
    assert(rows.length == nMulti)
    rows.foreach { r =>
      val lp = r.getDouble(2); val ppl = r.getDouble(3)
      assert(lp < 0 && !lp.isInfinite, r.toString) // probabilities < 1
      assert(ppl > 1.0, r.toString)
    }
  }

  test("minhash estimator error sits in the K=16 accuracy envelope") {
    val r = SparkEntry.queries("q_dedup_minhash_error")(spark, sf0001).head()
    val (n, mean, max) = (r.getLong(0), r.getDouble(1), r.getDouble(2))
    assert(n > 0)
    assert(mean > 0.0 && mean < 0.25, s"mean=$mean") // ~1/sqrt(16) envelope
    assert(max >= mean && max <= 1.0)
  }

  test("spatial grid NN replays naively: exact radius search in JVM") {
    val pts = Tables.embeddings(spark, sf0001)
      .selectExpr("vec_id", "CAST(embedding[0] AS DOUBLE) AS x",
        "CAST(embedding[1] AS DOUBLE) AS y")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val want = pts.filter(_._1 % 50 == 0).flatMap { case (pid, px, py) =>
      val cands = pts.filter(q => q._1 != pid)
        .map { case (qid, qx, qy) =>
          (qid, (px - qx) * (px - qx) + (py - qy) * (py - qy)) }
        .filter(_._2 <= 0.25)
      if (cands.isEmpty) None
      else {
        val (nn, d2) = cands.minBy { case (id, d) => (d, id) }
        Some((pid, nn, BigDecimal(math.sqrt(d2))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      }
    }.sortBy(_._1).toSeq
    val got = SparkEntry.queries("q_join_spatial_grid")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == want, s"got=$got\nwant=$want")
  }

  test("attribution conserves purchases and the channels partition them") {
    val rows = SparkEntry.queries("q_events_attribution")(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val nPurch = Tables.events(spark, sf0001)
      .filter(col("event_type") === "purchase").count()
    assert(rows.map(_._2).sum == nPurch)
    assert(rows.map(_._1).toSet.subsetOf(Set("direct", "ch0", "ch1", "ch2")))
    assert(rows.forall(_._3 >= 0.0))
  }

  test("HDR percentile estimates bracket the exact percentiles within a bucket") {
    val ests = SparkEntry.queries("q_agg_hdr_percentile")(spark, sf0001)
      .collect().map(r => r.getDouble(0) -> r.getDouble(2)).toMap
    val vals = Tables.events(spark, sf0001).filter(col("value") > 0)
      .select("value").collect().map(_.getDouble(0)).sorted
    Seq(0.5, 0.95, 0.99).foreach { p =>
      val exact = vals(math.ceil(p * vals.length).toInt - 1)
      val est = ests(p)
      // geometric-midpoint answer is within one power-of-two bucket
      assert(est / exact <= math.sqrt(2.0) + 1e-9 &&
             exact / est <= math.sqrt(2.0) + 1e-9,
        s"p=$p est=$est exact=$exact")
    }
  }

  test("epoch shuffle emits 3 distinct reproducible permutation heads") {
    def run() = SparkEntry.queries("q_pipeline_epoch_shuffle")(spark, sf0001)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSeq
    val a = run()
    assert(a.map(_._1).distinct.sorted == Seq(1, 2, 3))
    val heads = a.groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3)).toMap
    // epochs permute independently: the three 5-doc heads differ
    assert(heads.values.toSet.size == 3, heads.toString)
    assert(run() == a) // and the draw is reproducible
  }

  test("trimmed mean sits inside [min, max] and trims exactly floor(n/20) per side") {
    val rows = SparkEntry.queries("q_agg_trimmed")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val ev = Tables.events(spark, sf0001)
    rows.foreach { r =>
      val t = r.getAs[String]("event_type")
      val vals = ev.filter(col("event_type") === t)
        .select("value").collect().map(_.getDouble(0))
      assert(r.getAs[Long]("k_each_side") == vals.length / 20)
      val tm = r.getAs[Double]("trimmed_mean")
      assert(tm >= vals.min && tm <= vals.max)
      // naive replay: sort, drop k each side, average
      val k = vals.length / 20
      val kept = vals.sorted.slice(k, vals.length - k)
      assert(math.abs(tm - kept.sum / kept.length) < 1e-6,
        s"$t: $tm vs naive ${kept.sum / kept.length}")
    }
  }

  test("keep-best keeps the longest doc of every flagged group") {
    val kept = SparkEntry.queries("q_dedup_keep_best")(spark, sf0001).collect()
    assert(kept.nonEmpty)
    // recompute groups: kept doc must carry its group's max n_chars
    val sig = Tables.documents(spark, sf0001).selectExpr("doc_id", "n_chars",
      "concat_ws(',', slice(sort_array(transform(array_distinct(split(text, ' ')), t -> md5(t))), 1, 4)) AS sig")
    val bySig = sig.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .groupBy(_._3)
    kept.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val g = bySig.values.find(_.exists(_._1 == id)).get
      assert(g.length == r.getAs[Long]("n_group"))
      assert(g.length > 1)
      assert(r.getAs[Long]("n_chars") == g.map(_._2).max)
    }
  }

  test("vocab KL is non-negative and source overlap is a valid Jaccard") {
    SparkEntry.queries("q_text_vocab_kl")(spark, sf0001).collect().foreach { r =>
      assert(r.getAs[Double]("kl_vs_corpus") >= -1e-6,
        s"KL negative for ${r.getAs[String]("source")}")
    }
    val ov = SparkEntry.queries("q_text_source_overlap")(spark, sf0001).collect()
    val nSrc = Tables.documents(spark, sf0001).select("source").distinct().count()
    assert(ov.length == nSrc * (nSrc - 1) / 2)
    ov.foreach { r =>
      val j = r.getAs[Double]("jaccard")
      assert(j >= 0.0 && j <= 1.0)
    }
  }

  test("nearest-centroid confusion matrix covers every vector exactly once") {
    val cm = SparkEntry.queries("q_vec_nearest_centroid")(spark, sf0001).collect()
    val total = cm.map(_.getAs[Long]("n")).sum
    assert(total == Tables.embeddings(spark, sf0001).count())
  }

  test("vacuum restores the source row count after removing planted orphans") {
    val r = SparkEntry.queries("q_maintain_vacuum")(spark, sf0001).head()
    val ev = Tables.events(spark, sf0001)
    assert(r.getLong(0) ==
      ev.selectExpr("CAST(ts AS DATE)").distinct().count())
    assert(r.getLong(1) == 2L)
    assert(r.getLong(2) == ev.count())
  }

  // --- round-10 widening wave -------------------------------------------

  /** The (s, dur) interval list the concurrency/coverage queries derive
    * from events, recomputed naively on the driver. */
  private def naiveIntervals(): Seq[(Long, Long, Long)] =
    Tables.events(spark, sf0001)
      .selectExpr("user_id", "CAST(unix_timestamp(date_trunc('second', ts)) AS BIGINT) AS s",
        "value")
      .collect().toSeq.map { r =>
        val v = Option(r.getAs[java.lang.Double]("value")).map(_.doubleValue).getOrElse(0.0)
        val dur = math.min(math.max(math.floor(v * 60.0).toLong, 0L), 3600L) + 60L
        (r.getAs[Long]("user_id"), r.getAs[Long]("s"), dur)
      }

  test("cusum closed form equals the naive max(0, S+d-k) recursion") {
    val rows = SparkEntry.queries("q_anomaly_cusum")(spark, sf0001)
      .collect().groupBy(_.getAs[String]("event_type"))
    assert(rows.nonEmpty)
    rows.foreach { case (_, rs) =>
      val series = rs.sortBy(_.getAs[Long]("day_num"))
      val means = series.map(_.getAs[Long]("mean_micro"))
      val mu = means.sum / means.length // integer floor-div, as in SQL
      var s = 0L
      series.zip(means).foreach { case (r, m) =>
        s = math.max(0L, s + (m - mu - 2000000L))
        assert(r.getAs[Long]("cusum_micro") == s,
          s"cusum mismatch at day ${r.getAs[Long]("day_num")}")
        assert((r.getAs[Long]("alarm") == 1L) == (s > 5000000L))
      }
    }
  }

  test("peak concurrency matches a brute-force per-day sweep") {
    val ivs = naiveIntervals().map { case (_, s, dur) =>
      val day = s / 86400
      (day, s, math.min(s + dur, day * 86400 + 86400))
    }
    val expected = ivs.groupBy(_._1).map { case (day, list) =>
      val pts = list.flatMap { case (_, s, e) => Seq((s, 1), (e, -1)) }
        .sortBy(p => (p._1, p._2))
      var run = 0L; var peak = 0L; var at = 0L
      pts.foreach { case (t, d) =>
        run += d
        if (run > peak) { peak = run; at = t }
      }
      day -> ((peak, at))
    }
    val got = SparkEntry.queries("q_report_concurrency")(spark, sf0001).collect()
    assert(got.length == expected.size)
    got.foreach { r =>
      val (peak, at) = expected(r.getAs[Long]("day_num"))
      assert(r.getAs[Long]("peak_conc") == peak)
      assert(r.getAs[Long]("at_tsec") == at)
    }
  }

  test("interval coverage equals a brute-force union of clamped intervals") {
    val byUser = naiveIntervals().groupBy(_._1)
    val got = SparkEntry.queries("q_intervals_coverage")(spark, sf0001).collect()
    assert(got.length == byUser.size)
    got.foreach { r =>
      val list = byUser(r.getAs[Long]("user_id"))
        .map { case (_, s, dur) => (s, s + dur) }.sortBy(identity)
      // merge overlapping intervals
      var covered = 0L; var islands = 0L
      var curS = -1L; var curE = -1L
      list.foreach { case (s, e) =>
        if (curE < 0 || s > curE) {
          if (curE >= 0) covered += curE - curS
          islands += 1; curS = s; curE = e
        } else curE = math.max(curE, e)
      }
      if (curE >= 0) covered += curE - curS
      assert(r.getAs[Long]("n_intervals") == list.length)
      assert(r.getAs[Long]("n_islands") == islands)
      assert(r.getAs[Long]("covered_s") == covered)
    }
  }

  test("chunking covers every doc with stride-48 windows capped at 64 tokens") {
    val docTok = Tables.documents(spark, sf0001)
      .selectExpr("doc_id", "size(split(text, ' ')) AS n")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("n")).toMap
    val chunks = SparkEntry.queries("q_text_chunk")(spark, sf0001).collect()
      .groupBy(_.getAs[Long]("doc_id"))
    assert(chunks.keySet == docTok.keySet)
    chunks.foreach { case (doc, cs) =>
      val n = docTok(doc).max(1)
      val sorted = cs.sortBy(_.getAs[Long]("chunk_idx"))
      // exactly the stride sequence 1, 49, 97, ... ≤ n
      val expStarts = 1L.to(n.toLong, 48L)
      assert(sorted.map(_.getAs[Long]("start_pos")).toSeq == expStarts)
      assert(sorted.map(_.getAs[Long]("chunk_idx")).toSeq ==
        (1L to expStarts.length))
      sorted.foreach { c =>
        val len = math.min(64L, n - c.getAs[Long]("start_pos") + 1)
        assert(c.getAs[Long]("n_tok") == len)
      }
    }
  }

  test("perplexity buckets are balanced ntiles ordered head ≥ middle ≥ tail") {
    val rows = SparkEntry.queries("q_text_perplexity_bucket")(spark, sf0001)
      .collect().groupBy(_.getAs[String]("lang"))
    val nDocs = Tables.documents(spark, sf0001).count()
    assert(rows.map(_._2.map(_.getAs[Long]("n_docs")).sum).sum == nDocs)
    rows.foreach { case (_, rs) =>
      val byBucket = rs.map(r => r.getAs[String]("bucket") ->
        (r.getAs[Long]("n_docs"), r.getAs[Double]("mean_logprob"))).toMap
      assert(byBucket.keySet == Set("head", "middle", "tail"))
      val sizes = byBucket.values.map(_._1)
      assert(sizes.max - sizes.min <= 1) // ntile balance
      assert(byBucket("head")._2 >= byBucket("middle")._2)
      assert(byBucket("middle")._2 >= byBucket("tail")._2)
    }
  }

  test("hapax stats recompute exactly from a naive token count") {
    val docs = Tables.documents(spark, sf0001)
      .selectExpr("lang", "text").collect()
      .groupBy(_.getAs[String]("lang"))
    val got = SparkEntry.queries("q_text_hapax")(spark, sf0001).collect()
    assert(got.length == docs.size)
    got.foreach { r =>
      val toks = docs(r.getAs[String]("lang"))
        .flatMap(_.getAs[String]("text").split(" ", -1))
      val freq = toks.groupBy(identity).map { case (_, v) => v.length }
      val vocab = freq.size.toLong
      val hapax = freq.count(_ == 1).toLong
      assert(r.getAs[Long]("n_tokens") == toks.length.toLong)
      assert(r.getAs[Long]("vocab") == vocab)
      assert(r.getAs[Long]("hapax") == hapax)
      assert(r.getAs[Long]("hapax_ppm") == hapax * 1000000L / vocab)
      assert(r.getAs[Long]("ttr_ppm") == vocab * 1000000L / toks.length)
    }
  }

  test("url dedup: canonical keys are clean and account for every doc") {
    val rows = SparkEntry.queries("q_dedup_url")(spark, sf0001).collect()
    val nDocs = Tables.documents(spark, sf0001).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == nDocs)
    rows.foreach { r =>
      val u = r.getAs[String]("canon_url")
      assert(u.startsWith("https://www.example.com/docs/"))
      assert(!u.contains("utm_") && !u.contains("#") && !u.contains("ref="))
      assert(!u.stripPrefix("https://").split('?').head.endsWith("/"))
      assert(r.getAs[Long]("n_docs") <= 3) // ÷3 collision groups
      assert(r.getAs[Long]("n_raw_variants") <= r.getAs[Long]("n_docs"))
    }
    assert(rows.exists(_.getAs[Long]("n_docs") > 1)) // it actually dedups
  }

  test("knn join: every probe gets 5 ranked neighbors, none itself") {
    val rows = SparkEntry.queries("q_vec_knn_join")(spark, sf0001).collect()
    val probes = Tables.embeddings(spark, sf0001)
      .filter(col("vec_id") % 100 === 0).count()
    assert(rows.length == probes * 5)
    rows.groupBy(_.getAs[Long]("qid")).foreach { case (qid, rs) =>
      assert(rs.map(_.getAs[Long]("rk")).sorted.toSeq == (1L to 5L))
      assert(rs.forall(_.getAs[Long]("vec_id") != qid))
      val sims = rs.sortBy(_.getAs[Long]("rk")).map(_.getAs[Double]("cos_sim"))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    }
  }

  test("fertility: per-lang symbol mass reconciles with the per-doc tokenize readout") {
    val perDoc = SparkEntry.queries("q_text_bpe_tokenize")(spark, sf0001)
      .join(Tables.documents(spark, sf0001).select("doc_id", "lang"), "doc_id")
      .groupBy("lang")
      .agg(sum("n_words").as("w"), sum("n_chars").as("c"), sum("n_symbols").as("s"))
      .collect().map(r => r.getAs[String]("lang") ->
        (r.getAs[Long]("w"), r.getAs[Long]("c"), r.getAs[Long]("s"))).toMap
    val got = SparkEntry.queries("q_text_fertility")(spark, sf0001).collect()
    assert(got.length == perDoc.size)
    got.foreach { r =>
      val (w, c, sy) = perDoc(r.getAs[String]("lang"))
      assert(r.getAs[Long]("n_words") == w)
      assert(r.getAs[Long]("n_chars") == c)
      assert(r.getAs[Long]("n_symbols") == sy)
      val fert = r.getAs[Double]("fertility")
      assert(fert >= 1.0 && fert == math.floor(sy.toDouble / w * 1e6 + 0.5) / 1e6)
    }
  }

  test("winsorized mean sits between p10 and p90 and clamps exactly") {
    val ev = Tables.events(spark, sf0001)
      .filter(col("value").isNotNull)
      .select("event_type", "event_id", "value").collect()
      .groupBy(_.getAs[String]("event_type"))
    val got = SparkEntry.queries("q_agg_winsorized")(spark, sf0001).collect()
    assert(got.length == ev.size)
    got.foreach { r =>
      val xs = ev(r.getAs[String]("event_type"))
        .map(x => (BigDecimal(x.getAs[Double]("value")).setScale(2,
          BigDecimal.RoundingMode.HALF_UP), x.getAs[Long]("event_id")))
        .sortBy(identity).map(_._1)
      val n = xs.length
      val lo = xs((n + 9) / 10 - 1); val hi = xs((9 * n + 9) / 10 - 1)
      assert(r.getAs[Double]("p10") == lo.toDouble)
      assert(r.getAs[Double]("p90") == hi.toDouble)
      val mean = xs.map(x => x.max(lo).min(hi)).sum.toDouble / n
      assert(r.getAs[Double]("winsor_mean") == math.floor(mean * 1e6 + 0.5) / 1e6)
      assert(r.getAs[Long]("n") == n.toLong)
    }
  }

  test("wilson interval brackets the rate and tightens with n") {
    val rows = SparkEntry.queries("q_report_error_ci")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val lo = r.getAs[Double]("wilson_lo"); val hi = r.getAs[Double]("wilson_hi")
      val p = r.getAs[Double]("rate")
      assert(lo >= 0.0 && hi <= 1.0 && lo <= p && p <= hi)
      // interval is never wider than the worst case at this n
      val n = r.getAs[Long]("n").toDouble
      assert(hi - lo <= 2 * 1.96 * math.sqrt(0.25 / n) + 1e-4)
    }
  }

  test("ohlc: high/low bound open/close and counts conserve events") {
    val rows = SparkEntry.queries("q_win_ohlc")(spark, sf0001).collect()
    val total = Tables.events(spark, sf0001).filter(col("value").isNotNull).count()
    assert(rows.map(_.getAs[Long]("n")).sum == total)
    rows.foreach { r =>
      val (o, h, l, c) = (r.getAs[Double]("open"), r.getAs[Double]("high"),
        r.getAs[Double]("low"), r.getAs[Double]("close"))
      assert(l <= o && o <= h && l <= c && c <= h && l <= h)
    }
  }

  test("chunk dedup finds only cross-doc repeats consistent with the chunk grid") {
    val chunks = SparkEntry.queries("q_text_chunk")(spark, sf0001).collect()
    val byHash = chunks.groupBy(_.getAs[String]("chunk_md5"))
    val exp = byHash.filter { case (_, cs) =>
      cs.map(_.getAs[Long]("doc_id")).distinct.length > 1
    }
    val got = SparkEntry.queries("q_dedup_chunks")(spark, sf0001).collect()
    assert(got.length == exp.size && got.nonEmpty)
    got.foreach { r =>
      val cs = exp(r.getAs[String]("chunk_md5"))
      assert(r.getAs[Long]("n_occ") == cs.length.toLong)
      assert(r.getAs[Long]("n_docs") ==
        cs.map(_.getAs[Long]("doc_id")).distinct.length.toLong)
      assert(r.getAs[Long]("first_doc") == cs.map(_.getAs[Long]("doc_id")).min)
    }
  }

  test("weekly churn matches a naive set-difference recompute") {
    val aw = Tables.events(spark, sf0001)
      .selectExpr("CAST(unix_timestamp(date_trunc('day', ts)) AS BIGINT) DIV 604800 AS w",
        "user_id").distinct().collect()
      .groupBy(_.getAs[Long]("w"))
      .map { case (w, rs) => w -> rs.map(_.getAs[Long]("user_id")).toSet }
    val weeks = aw.keys.toSeq.sorted
    val got = SparkEntry.queries("q_report_churn")(spark, sf0001).collect()
    assert(got.length == weeks.length - 1)
    got.foreach { r =>
      val w = r.getAs[Long]("week_num")
      val next = weeks(weeks.indexOf(w) + 1)
      val active = aw(w); val churned = active -- aw(next)
      assert(r.getAs[Long]("n_active") == active.size.toLong)
      assert(r.getAs[Long]("n_churned") == churned.size.toLong)
      assert(r.getAs[Long]("churn_ppm") ==
        churned.size.toLong * 1000000L / active.size)
    }
  }

  test("neighbor jaccard matches a naive hub-capped wedge count") {
    val edges = Tables.lineitem(spark, sf0001)
      .filter(col("l_quantity") >= 48)
      .select("l_partkey", "l_suppkey").distinct().collect()
      .map(r => (r.getAs[Long]("l_partkey"), r.getAs[Long]("l_suppkey")))
    val deg = edges.groupBy(_._2).map { case (u, l) => u -> l.length.toLong }
    val byPart = edges.groupBy(_._1).filter(_._2.length <= 50)
    val common = scala.collection.mutable.Map[(Long, Long), Long]()
    byPart.values.foreach { l =>
      val us = l.map(_._2).sorted
      for (i <- us.indices; j <- (i + 1) until us.length)
        common((us(i), us(j))) = common.getOrElse((us(i), us(j)), 0L) + 1
    }
    val expTop = common.toSeq.map { case ((u1, u2), c) =>
      val jac = c * 1000000L / (deg(u1) + deg(u2) - c)
      (jac, u1, u2, c)
    }.sortBy { case (j, u1, u2, _) => (-j, u1, u2) }.take(50)
    val got = SparkEntry.queries("q_graph_neighbor_jaccard")(spark, sf0001).collect()
    assert(got.length == expTop.length)
    got.zip(expTop).foreach { case (r, (jac, u1, u2, c)) =>
      assert(r.getAs[Long]("u1") == u1 && r.getAs[Long]("u2") == u2)
      assert(r.getAs[Long]("jac_ppm") == jac && r.getAs[Long]("common") == c)
    }
  }

  test("geo/harmonic means match a per-row-quantized recompute") {
    import BigDecimal.RoundingMode.HALF_UP
    val ev = Tables.events(spark, sf0001)
      .filter(col("value").isNotNull && col("value") > 0)
      .select("event_type", "value").collect()
      .groupBy(_.getAs[String]("event_type"))
    val got = SparkEntry.queries("q_agg_geo_harmonic")(spark, sf0001).collect()
    assert(got.length == ev.size && got.nonEmpty)
    def q6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    got.foreach { r =>
      val xs = ev(r.getAs[String]("event_type")).map(_.getAs[Double]("value"))
      val n = xs.length
      assert(r.getAs[Long]("n") == n.toLong)
      val sln = xs.map(x => BigDecimal(math.log(x)).setScale(6, HALF_UP)).sum.toDouble
      val sinv = xs.map(x => BigDecimal(1.0 / x).setScale(9, HALF_UP)).sum.toDouble
      assert(r.getAs[Double]("geo_mean") == q6(math.exp(q6(sln / n))))
      assert(r.getAs[Double]("harm_mean") == q6(n / sinv))
      // sanity: harmonic <= geometric for positive data (quantization slack)
      assert(r.getAs[Double]("harm_mean") <= r.getAs[Double]("geo_mean") + 1e-5)
    }
  }

  test("oov rate matches a frozen top-1000 vocab recompute") {
    val docs = Tables.documents(spark, sf0001)
      .select("lang", "text").collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[String]("text")))
    val toks = docs.flatMap { case (lang, t) => t.split(" ", -1).map(lang -> _) }
    val vocab = toks.groupBy(_._2).map { case (t, l) => t -> l.length.toLong }
      .toSeq.sortBy { case (t, c) => (-c, t) }.take(1000).map(_._1).toSet
    val got = SparkEntry.queries("q_text_oov")(spark, sf0001).collect()
    assert(got.length == toks.map(_._1).distinct.length && got.nonEmpty)
    got.foreach { r =>
      val mine = toks.filter(_._1 == r.getAs[String]("lang"))
      val oov = mine.count(p => !vocab.contains(p._2)).toLong
      assert(r.getAs[Long]("n_tokens") == mine.length.toLong)
      assert(r.getAs[Long]("n_oov") == oov)
      assert(r.getAs[Long]("oov_ppm") == oov * 1000000L / mine.length)
    }
  }

  test("dedup funnel stages cascade and conserve counts") {
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text")))
    def nk(t: String) = md5(t.toLowerCase
      .replaceAll("[^a-z0-9 ]", "").replaceAll("  +", " ").trim)
    def mk(t: String) = t.split(" ", -1).distinct
      .map(md5).sorted.take(4).mkString(",")
    val s1 = docs.groupBy { case (_, t) => md5(t) }.map(_._2.map(_._1).min).toSet
    val k1 = docs.filter(d => s1(d._1))
    val s2 = k1.groupBy { case (_, t) => nk(t) }.map(_._2.map(_._1).min).toSet
    val k2 = k1.filter(d => s2(d._1))
    val s3 = k2.groupBy { case (_, t) => mk(t) }.map(_._2.map(_._1).min).toSet
    val got = SparkEntry.queries("q_pipeline_dedup_funnel")(spark, sf0001)
      .collect().sortBy(_.getAs[Long]("stage_id"))
    val exp = Seq(
      (1L, "exact", docs.length.toLong, s1.size.toLong),
      (2L, "normalized", s1.size.toLong, s2.size.toLong),
      (3L, "minhash", s2.size.toLong, s3.size.toLong))
    assert(got.length == 3)
    got.zip(exp).foreach { case (r, (id, st, nin, nout)) =>
      assert(r.getAs[Long]("stage_id") == id && r.getAs[String]("stage") == st)
      assert(r.getAs[Long]("n_in") == nin && r.getAs[Long]("n_out") == nout)
      assert(r.getAs[Long]("n_removed") == nin - nout)
    }
    assert(got.head.getAs[Long]("n_in") > got.last.getAs[Long]("n_out")) // it dedups
  }

  test("dau/wau/mau match brute-force rolling distinct sets") {
    val ud = Tables.events(spark, sf0001)
      .select(col("user_id"), (unix_timestamp(date_trunc("day", col("ts"))) / 86400)
        .cast("long").as("d")).distinct().collect()
      .map(r => (r.getAs[Long]("d"), r.getAs[Long]("user_id")))
    val days = ud.map(_._1).distinct.sorted
    val got = SparkEntry.queries("q_report_dau_wau_mau")(spark, sf0001)
      .collect().sortBy(_.getAs[Long]("day_num"))
    assert(got.map(_.getAs[Long]("day_num")).toSeq == days.toSeq)
    got.foreach { r =>
      val d = r.getAs[Long]("day_num")
      def actives(win: Long) =
        ud.filter(p => p._1 >= d - win + 1 && p._1 <= d).map(_._2).distinct.length
      assert(r.getAs[Long]("dau") == actives(1).toLong)
      assert(r.getAs[Long]("wau") == actives(7).toLong)
      assert(r.getAs[Long]("mau") == actives(28).toLong)
    }
  }

  test("apdex is exact integer ppm over the latency buckets") {
    val ev = Tables.events(spark, sf0001).filter(col("value").isNotNull)
      .select("event_type", "value").collect()
      .groupBy(_.getAs[String]("event_type"))
    val got = SparkEntry.queries("q_report_apdex")(spark, sf0001).collect()
    assert(got.length == ev.size && got.nonEmpty)
    got.foreach { r =>
      val vs = ev(r.getAs[String]("event_type")).map(_.getAs[Double]("value"))
      val sat = vs.count(_ <= 100).toLong
      val tol = vs.count(v => v > 100 && v <= 400).toLong
      assert(r.getAs[Long]("n") == vs.length.toLong)
      assert(r.getAs[Long]("n_sat") == sat && r.getAs[Long]("n_tol") == tol)
      assert(r.getAs[Long]("apdex_ppm") == (sat * 1000000L + tol * 500000L) / vs.length)
    }
  }

  test("rfm rank composition equals Spark's own global ntile") {
    import org.apache.spark.sql.expressions.Window
    val got = SparkEntry.queries("q_report_rfm")(spark, sf0001)
    val exp = got.select("custkey", "rec_days", "freq", "money")
      .withColumn("r_q", ntile(4).over(Window.orderBy(col("rec_days"), col("custkey"))).cast("long"))
      .withColumn("f_q", ntile(4).over(Window.orderBy(col("freq").desc, col("custkey"))).cast("long"))
      .withColumn("m_q", ntile(4).over(Window.orderBy(col("money").desc, col("custkey"))).cast("long"))
      .collect().map(r => r.getAs[Long]("custkey") ->
        (r.getAs[Long]("r_q"), r.getAs[Long]("f_q"), r.getAs[Long]("m_q"))).toMap
    val rows = got.collect()
    assert(rows.length == exp.size && rows.nonEmpty)
    rows.foreach { r =>
      val (rq, fq, mq) = exp(r.getAs[Long]("custkey"))
      assert(r.getAs[Long]("r_q") == rq && r.getAs[Long]("f_q") == fq
        && r.getAs[Long]("m_q") == mq)
      assert(r.getAs[Long]("rfm_code") == rq * 100 + fq * 10 + mq)
    }
    // metrics themselves: brute recompute from orders
    val ords = Tables.orders(spark, sf0001)
      .select(col("o_custkey"), col("o_totalprice"),
        unix_timestamp(col("o_orderdate")).as("sec")).collect()
      .map(r => (r.getAs[Long]("o_custkey"),
        r.getAs[Double]("o_totalprice"), r.getAs[Long]("sec")))
    val globalMax = ords.map(_._3).max
    rows.foreach { r =>
      val mine = ords.filter(_._1 == r.getAs[Long]("custkey"))
      assert(r.getAs[Long]("freq") == mine.length.toLong)
      assert(r.getAs[Long]("rec_days") ==
        (globalMax - mine.map(_._3).max) / 86400)
      val money = mine.map(o => BigDecimal(o._2).setScale(2,
        BigDecimal.RoundingMode.HALF_UP)).sum.toDouble
      assert(r.getAs[Double]("money") == money)
    }
  }

  test("corr matrix matches brute-force pearson on dense hourly counts") {
    val hv = Tables.events(spark, sf0001)
      .select((unix_timestamp(date_trunc("hour", col("ts"))) / 3600).cast("long").as("hr"),
        col("event_type")).collect()
      .map(r => (r.getAs[Long]("hr"), r.getAs[String]("event_type")))
    val hours = hv.map(_._1).distinct.sorted
    val types = hv.map(_._2).distinct.sorted
    val cnt = hv.groupBy(identity).map { case (k, l) => k -> l.length.toLong }
    val series = types.map(t => t -> hours.map(h => cnt.getOrElse((h, t), 0L))).toMap
    val got = SparkEntry.queries("q_agg_corr_matrix")(spark, sf0001).collect()
    assert(got.length == types.length * (types.length - 1) / 2)
    got.foreach { r =>
      val (x, y) = (series(r.getAs[String]("t1")), series(r.getAs[String]("t2")))
      val n = hours.length.toLong
      assert(r.getAs[Long]("n") == n)
      val (sx, sy) = (x.sum, y.sum)
      val sxx = x.map(v => v * v).sum; val syy = y.map(v => v * v).sum
      val sxy = x.zip(y).map { case (a, b) => a * b }.sum
      val num = (n * sxy - sx * sy).toDouble
      val den = math.sqrt((n * sxx - sx * sx).toDouble) * math.sqrt((n * syy - sy * sy).toDouble)
      assert(r.getAs[Double]("corr") == math.floor(num / den * 1e6 + 0.5) / 1e6)
    }
  }

  test("acf matches the integer-identity recompute on the densified series") {
    val hc = Tables.events(spark, sf0001)
      .select((unix_timestamp(date_trunc("hour", col("ts"))) / 3600).cast("long").as("hr"))
      .collect().map(_.getAs[Long]("hr"))
    val byHr = hc.groupBy(identity).map { case (h, l) => h -> l.length.toLong }
    val xs = (hc.min to hc.max).map(h => byHr.getOrElse(h, 0L)).toArray
    val n = xs.length.toLong
    val s = xs.sum; val q = xs.map(v => v * v).sum
    val got = SparkEntry.queries("q_events_acf")(spark, sf0001)
      .collect().sortBy(_.getAs[Long]("lag_hr"))
    assert(got.map(_.getAs[Long]("lag_hr")).toSeq == (1L to 24L))
    got.foreach { r =>
      val k = r.getAs[Long]("lag_hr").toInt
      val head = xs.dropRight(k); val tail = xs.drop(k)
      assert(r.getAs[Long]("n_pairs") == (n - k))
      val pk = head.zip(tail).map { case (a, b) => a * b }.sum
      val num = (n * n * pk - n * s * (head.sum + tail.sum) + (n - k) * s * s).toDouble
      val den = (n * n * q - n * s * s).toDouble
      assert(r.getAs[Double]("acf") == math.floor(num / den * 1e6 + 0.5) / 1e6)
      assert(math.abs(r.getAs[Double]("acf")) <= 1.000001)
    }
  }

  test("readability matches per-doc scala recompute of the flesch heuristic") {
    import BigDecimal.RoundingMode.HALF_UP
    val docs = Tables.documents(spark, sf0001)
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"), r.getAs[String]("text")))
    val vg = "[aeiouy]+".r; val sr = "[.!?]+".r
    val perDoc = docs.map { case (_, lang, t) =>
      val toks = t.split(" ", -1)
      val w = toks.length.toLong
      val syl = toks.map(tok => math.max(1, vg.findAllIn(tok).length).toLong).sum
      val sent = math.max(1, sr.findAllIn(t).length).toLong
      val fl = 206.835 - 1.015 * (w.toDouble / sent) - 84.6 * (syl.toDouble / w)
      // integer 1e-4 units via the engines' explicit floor(x*1e4+0.5) rule
      lang -> math.floor(fl * 1e4 + 0.5).toLong
    }
    val got = SparkEntry.queries("q_text_readability")(spark, sf0001).collect()
    assert(got.length == perDoc.map(_._1).distinct.length)
    got.foreach { r =>
      val fls = perDoc.filter(_._1 == r.getAs[String]("lang")).map(_._2)
      assert(r.getAs[Long]("n_docs") == fls.length.toLong)
      assert(r.getAs[Double]("avg_flesch") ==
        math.floor(fls.sum.toDouble / fls.length + 0.5) / 1e4)
      assert(r.getAs[Long]("n_easy") == fls.count(_ >= 600000L).toLong)
      assert(r.getAs[Long]("n_hard") == fls.count(_ < 300000L).toLong)
    }
  }

  test("adamic-adar matches a naive hub-capped weighted wedge count") {
    import BigDecimal.RoundingMode.HALF_UP
    val edges = Tables.lineitem(spark, sf0001)
      .filter(col("l_quantity") >= 48)
      .select("l_partkey", "l_suppkey").distinct().collect()
      .map(r => (r.getAs[Long]("l_partkey"), r.getAs[Long]("l_suppkey")))
    val byPart = edges.groupBy(_._1).filter { case (_, l) =>
      l.length >= 2 && l.length <= 50 }
    val acc = scala.collection.mutable.Map[(Long, Long), (Long, BigDecimal)]()
    byPart.foreach { case (_, l) =>
      val w = BigDecimal(1.0 / math.log(l.length)).setScale(9, HALF_UP)
      val us = l.map(_._2).sorted
      for (i <- us.indices; j <- (i + 1) until us.length) {
        val k = (us(i), us(j))
        val (c, s) = acc.getOrElse(k, (0L, BigDecimal(0)))
        acc(k) = (c + 1, s + w)
      }
    }
    val expTop = acc.toSeq.map { case ((u1, u2), (c, s)) =>
      (math.floor(s.toDouble * 1e6 + 0.5) / 1e6, u1, u2, c)
    }.sortBy { case (sc, u1, u2, _) => (-sc, u1, u2) }.take(50)
    val got = SparkEntry.queries("q_graph_adamic_adar")(spark, sf0001).collect()
    assert(got.length == expTop.length && got.nonEmpty)
    got.zip(expTop).foreach { case (r, (sc, u1, u2, c)) =>
      assert(r.getAs[Long]("u1") == u1 && r.getAs[Long]("u2") == u2)
      assert(r.getAs[Long]("common") == c && r.getAs[Double]("aa_score") == sc)
    }
  }

  test("cluster coef reconciles with the per-lang triangle count") {
    val got = SparkEntry.queries("q_graph_cluster_coef")(spark, sf0001).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (d, t, lcc) = (r.getAs[Long]("degree"), r.getAs[Long]("n_tri"),
        r.getAs[Long]("lcc_ppm"))
      assert(d >= 1)
      assert(lcc == (if (d >= 2) t * 2000000L / (d * (d - 1)) else 0L))
      assert(lcc <= 1000000L)
      assert(t <= d * (d - 1) / 2)
    }
    // Σ per-vertex triangle credits = 3 × per-lang triangle count
    val triPerLang = SparkEntry.queries("q_graph_triangles")(spark, sf0001)
      .collect().map(r => r.getAs[String]("lang") -> r.getAs[Long]("n_triangles")).toMap
    val creditPerLang = got.groupBy(_.getAs[String]("lang"))
      .map { case (l, rs) => l -> rs.map(_.getAs[Long]("n_tri")).sum }
    creditPerLang.foreach { case (l, c) => assert(c == 3 * triPerLang(l)) }
  }

  test("cluster purity cells partition the corpus and bound the majority") {
    val got = SparkEntry.queries("q_vec_cluster_purity")(spark, sf0001).collect()
    val total = Tables.embeddings(spark, sf0001).count()
    assert(got.map(_.getAs[Long]("n")).sum == total)
    assert(got.map(_.getAs[Long]("cid")).distinct.length == got.length)
    got.foreach { r =>
      val (n, tn, p) = (r.getAs[Long]("n"), r.getAs[Long]("top_n"),
        r.getAs[Long]("purity_ppm"))
      assert(tn >= 1 && tn <= n)
      assert(p == tn * 1000000L / n)
    }
  }

  test("forecast error matches brute seasonal-naive recompute") {
    val hv = Tables.events(spark, sf0001)
      .select((unix_timestamp(date_trunc("hour", col("ts"))) / 3600).cast("long").as("hr"),
        col("event_type")).collect()
      .map(r => (r.getAs[Long]("hr"), r.getAs[String]("event_type")))
    val mn = hv.map(_._1).min; val mx = hv.map(_._1).max
    val cnt = hv.groupBy(identity).map { case (k, l) => k -> l.length.toLong }
    val got = SparkEntry.queries("q_report_forecast_error")(spark, sf0001).collect()
    assert(got.length == hv.map(_._2).distinct.length)
    got.foreach { r =>
      val t = r.getAs[String]("event_type")
      def x(h: Long) = cnt.getOrElse((h, t), 0L)
      val idx = (mn + 24) to mx
      assert(r.getAs[Long]("n") == idx.length.toLong)
      val saeS = idx.map(h => math.abs(x(h) - x(h - 24))).sum
      val saeN = idx.map(h => math.abs(x(h) - x(h - 1))).sum
      assert(r.getAs[Double]("mae_seasonal") ==
        math.floor(saeS.toDouble / idx.length * 1e6 + 0.5) / 1e6)
      assert(r.getAs[Double]("mae_naive") ==
        math.floor(saeN.toDouble / idx.length * 1e6 + 0.5) / 1e6)
      assert(r.getAs[Double]("mase") ==
        math.floor(saeS.toDouble / saeN * 1e6 + 0.5) / 1e6)
    }
  }

  test("cohort ltv curve is cumulative and conserves revenue") {
    import BigDecimal.RoundingMode.HALF_UP
    val ev = Tables.events(spark, sf0001)
      .select(col("user_id"), date_trunc("week", col("ts")).cast("date").as("w"),
        col("value")).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[java.sql.Date]("w").toString,
        Option(r.getAs[java.lang.Double]("value")).map(_.doubleValue).getOrElse(0.0)))
    val cohort = ev.groupBy(_._1).map { case (u, l) => u -> l.map(_._2).min }
    val got = SparkEntry.queries("q_retention_ltv")(spark, sf0001).collect()
    assert(got.nonEmpty)
    val byCohort = got.groupBy(_.getAs[java.sql.Date]("cohort_week").toString)
    byCohort.foreach { case (cw, rows) =>
      val users = cohort.filter(_._2 == cw).keySet
      val sorted = rows.sortBy(_.getAs[Long]("week_offset"))
      assert(sorted.forall(_.getAs[Long]("n_users") == users.size.toLong))
      // week revenues reconcile and the ltv curve is their running mean
      var cum = BigDecimal(0)
      sorted.foreach { r =>
        val wk = r.getAs[Long]("week_offset")
        val rev = ev.filter(e => users(e._1) &&
            weeksBetween(cw, e._2) == wk)
          .map(e => BigDecimal(e._3).setScale(6, HALF_UP)).sum
        assert(r.getAs[Double]("week_revenue") == rev.toDouble)
        cum += rev
        assert(r.getAs[Double]("ltv_per_user") ==
          math.floor(cum.toDouble / users.size * 1e6 + 0.5) / 1e6)
      }
    }
  }

  private def weeksBetween(cohortWeek: String, week: String): Long =
    java.time.temporal.ChronoUnit.DAYS.between(
      java.time.LocalDate.parse(cohortWeek), java.time.LocalDate.parse(week)) / 7

  test("assortativity: known graph value, corpus consistency with triangles") {
    // star K1,3 ∪ triangle in one lang: hand-computed Newman r
    import spark.implicits._
    Seq(("en", 1L, 2L), ("en", 1L, 3L), ("en", 1L, 4L),
      ("en", 10L, 11L), ("en", 10L, 12L), ("en", 11L, 12L))
      .toDF("lang", "a", "b").createOrReplaceTempView("ast_t")
    val tiny = spark.sql("WITH " + TextOps.assortativitySql("ast_t", "DIV")).collect()
    assert(tiny.length == 1 && tiny.head.getAs[Long]("n_edges") == 6L)
    // directed endpoints: star gives (3,1)×3 and (1,3)×3; triangle (2,2)×6
    val xs = Seq(3, 3, 3, 1, 1, 1, 2, 2, 2, 2, 2, 2).map(_.toLong)
    val ys = Seq(1, 1, 1, 3, 3, 3, 2, 2, 2, 2, 2, 2).map(_.toLong)
    val m = xs.length.toLong
    val (sx, sy) = (xs.sum, ys.sum)
    val num = (m * xs.zip(ys).map { case (a, b) => a * b }.sum - sx * sy).toDouble
    val den = math.sqrt((m * xs.map(v => v * v).sum - sx * sx).toDouble) *
      math.sqrt((m * ys.map(v => v * v).sum - sy * sy).toDouble)
    assert(tiny.head.getAs[Double]("assortativity") ==
      math.floor(num / den * 1e6 + 0.5) / 1e6)
    // corpus: edge counts reconcile with q_graph_triangles, |r| <= 1
    val got = SparkEntry.queries("q_graph_assortativity")(spark, sf0001).collect()
    val triEdges = SparkEntry.queries("q_graph_triangles")(spark, sf0001)
      .collect().map(r => r.getAs[String]("lang") -> r.getAs[Long]("n_edges")).toMap
    got.foreach { r =>
      assert(r.getAs[Long]("n_edges") == triEdges(r.getAs[String]("lang")))
      Option(r.getAs[java.lang.Double]("assortativity"))
        .foreach(v => assert(math.abs(v) <= 1.000001))
    }
  }

  test("twap matches a brute step-interpolated recompute") {
    import BigDecimal.RoundingMode.HALF_UP
    val ev = Tables.events(spark, sf0001).filter(col("value").isNotNull)
      .select(col("event_type"), col("event_id"), col("value"),
        unix_micros(col("ts")).as("us"), col("ts")).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("us"),
        r.getAs[Long]("event_id"), r.getAs[Double]("value")))
      .groupBy(_._1)
    val got = SparkEntry.queries("q_win_twap")(spark, sf0001).collect()
    assert(got.length == ev.size && got.nonEmpty)
    got.foreach { r =>
      val rows = ev(r.getAs[String]("event_type")).sortBy(e => (e._2, e._3))
      val gaps = rows.zip(rows.tail).map { case (a, b) =>
        (a._4, b._2 - a._2) }
      assert(r.getAs[Long]("n") == gaps.length.toLong)
      val sdt = gaps.map(_._2).sum
      assert(r.getAs[Long]("span_us") == sdt)
      val swv = gaps.map { case (v, dt) =>
        BigDecimal(v * dt).setScale(6, HALF_UP) }.sum.toDouble
      assert(r.getAs[Double]("twap") == math.floor(swv / sdt * 1e6 + 0.5) / 1e6)
    }
  }

  test("bootstrap ci matches a deterministic poisson-weight replay") {
    import BigDecimal.RoundingMode.HALF_UP
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val th = Seq(1580030168L, 3160060337L, 3950075421L, 4213413783L,
      4279248373L, 4292415291L)
    val ev = Tables.events(spark, sf0001).filter(col("value").isNotNull)
      .select("event_type", "event_id", "value").collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("event_id"),
        r.getAs[Double]("value")))
      .groupBy(_._1)
    val got = SparkEntry.queries("q_agg_bootstrap_ci")(spark, sf0001).collect()
    assert(got.length == ev.size && got.nonEmpty)
    got.foreach { r =>
      val rows = ev(r.getAs[String]("event_type"))
      val means = (1 to 64).flatMap { rep =>
        var nw = 0L; var sv = BigDecimal(0)
        rows.foreach { case (_, id, v) =>
          val h = java.lang.Long.parseLong(md5(s"${id}_$rep").take(8), 16)
          val wt = th.indexWhere(h < _) match { case -1 => 6; case i => i }
          nw += wt; sv += BigDecimal(v * wt).setScale(6, HALF_UP)
        }
        if (nw > 0) Some((math.floor(sv.toDouble / nw * 1e6 + 0.5) / 1e6, rep))
        else None
      }.sorted
      val nb = means.length
      assert(r.getAs[Long]("nb") == nb.toLong)
      assert(r.getAs[Double]("ci_lo") == means((nb * 5 + 99) / 100 - 1)._1)
      assert(r.getAs[Double]("ci_hi") == means((nb * 95 + 99) / 100 - 1)._1)
      assert(r.getAs[Double]("ci_lo") <= r.getAs[Double]("ci_hi"))
    }
  }

  test("psi matches a brute decile-binned recompute with laplace smoothing") {
    import BigDecimal.RoundingMode.HALF_UP
    val ev = Tables.events(spark, sf0001).filter(col("value").isNotNull)
      .select(col("event_type"), col("event_id"), col("value"),
        (unix_timestamp(date_trunc("day", col("ts"))) / 86400).cast("long").as("d"))
      .collect().map(r => (r.getAs[String]("event_type"), r.getAs[Long]("event_id"),
        r.getAs[Double]("value"), r.getAs[Long]("d")))
    val mid = (ev.map(_._4).min + ev.map(_._4).max + 1) / 2
    val got = SparkEntry.queries("q_quality_psi")(spark, sf0001).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val t = r.getAs[String]("event_type")
      val rf = ev.filter(e => e._1 == t && e._4 < mid)
      val cu = ev.filter(e => e._1 == t && e._4 >= mid)
      val sortedRef = rf.sortBy(e => (e._3, e._2))
      val n = sortedRef.length
      val edges = (1 to 9).map(k => sortedRef((k * n + 9) / 10 - 1)._3)
      def bin(v: Double) = edges.count(v > _)
      val cp = rf.groupBy(e => bin(e._3)).map { case (b, l) => b -> l.length.toLong }
      val cq = cu.groupBy(e => bin(e._3)).map { case (b, l) => b -> l.length.toLong }
      val (np, nq) = (rf.length.toLong, cu.length.toLong)
      val psi = (0 to 9).map { b =>
        val p = (cp.getOrElse(b, 0L) + 1).toDouble / (np + 10)
        val q = (cq.getOrElse(b, 0L) + 1).toDouble / (nq + 10)
        val lr = math.log((cp.getOrElse(b, 0L) + 1).toDouble * (nq + 10) /
          ((cq.getOrElse(b, 0L) + 1).toDouble * (np + 10)))
        BigDecimal((p - q) * lr).setScale(9, HALF_UP)
      }.sum.toDouble
      assert(r.getAs[Double]("psi") == math.floor(psi * 1e6 + 0.5) / 1e6)
      assert(r.getAs[Int]("drifted") == (if (psi > 0.2) 1 else 0))
    }
  }

  test("ccf matches brute cross-correlation of the dense hourly series") {
    val hv = Tables.events(spark, sf0001)
      .filter(col("event_type").isin("click", "purchase"))
      .select((unix_timestamp(date_trunc("hour", col("ts"))) / 3600).cast("long").as("hr"),
        col("event_type")).collect()
      .map(r => (r.getAs[Long]("hr"), r.getAs[String]("event_type")))
    val mn = hv.map(_._1).min; val mx = hv.map(_._1).max
    val cnt = hv.groupBy(identity).map { case (k, l) => k -> l.length.toLong }
    def series(t: String) = (mn to mx).map(h => cnt.getOrElse((h, t), 0L)).toArray
    val (xa, xb) = (series("click"), series("purchase"))
    val got = SparkEntry.queries("q_events_ccf")(spark, sf0001)
      .collect().sortBy(_.getAs[Long]("lag_hr"))
    assert(got.map(_.getAs[Long]("lag_hr")).toSeq == (-12L to 12L))
    got.foreach { r =>
      val l = r.getAs[Long]("lag_hr").toInt
      val pairs = xa.indices.flatMap { i =>
        val j = i + l
        if (j >= 0 && j < xb.length) Some((xa(i), xb(j))) else None
      }
      val n = pairs.length.toLong
      assert(r.getAs[Long]("n") == n)
      val sx = pairs.map(_._1).sum; val sy = pairs.map(_._2).sum
      val sxx = pairs.map(p => p._1 * p._1).sum
      val syy = pairs.map(p => p._2 * p._2).sum
      val sxy = pairs.map(p => p._1 * p._2).sum
      val den = math.sqrt((n * sxx - sx * sx).toDouble) *
        math.sqrt((n * syy - sy * sy).toDouble)
      assert(r.getAs[Double]("ccf") ==
        math.floor((n * sxy - sx * sy).toDouble / den * 1e6 + 0.5) / 1e6)
    }
  }

  test("feature hash matches a scala md5-slot recompute") {
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text")))
    val exp = docs.flatMap { case (id, t) =>
      t.split(" ", -1).map { tok =>
        (id, java.lang.Long.parseLong(md5(tok).take(8), 16) % 64) }
    }.groupBy(identity).map { case ((id, sl), l) => (id, sl) -> l.length.toLong }
    val got = SparkEntry.queries("q_text_feature_hash")(spark, sf0001).collect()
    assert(got.length == exp.size && got.nonEmpty)
    got.foreach { r =>
      assert(exp((r.getAs[Long]("doc_id"), r.getAs[Long]("slot"))) ==
        r.getAs[Long]("cnt"))
    }
  }

  test("modularity matches a scala lpa replay and newman formula") {
    val base = Tables.lineitem(spark, sf0001).filter(col("l_quantity") >= 48)
      .select(concat(lit("s"), col("l_suppkey").cast("string")).as("src"),
        concat(lit("p"), col("l_partkey").cast("string")).as("dst"))
      .distinct().collect().map(r => (r.getString(0), r.getString(1)))
    val edges = base ++ base.map(_.swap) // symmetrized, directed both ways
    val nodes = edges.map(_._1).distinct
    var lab = nodes.map(n => n -> n).toMap
    for (_ <- 1 to 4) {
      val votes = edges.map { case (s, d) => (d, lab(s)) } ++ nodes.map(n => (n, lab(n)))
      lab = votes.groupBy(_._1).map { case (n, vs) =>
        val best = vs.groupBy(_._2).toSeq.map { case (l, g) => (g.size, l) }
          .sortBy { case (c, l) => (-c, l) }.head._2
        n -> best
      }
    }
    val m2 = edges.length.toLong
    val intra2 = edges.count { case (s, d) => lab(s) == lab(d) }.toLong
    val deg = edges.groupBy(_._1).map { case (n, l) => n -> l.length.toLong }
    val dsum = lab.groupBy(_._2).map { case (_, g) => g.keys.toSeq.map(deg).sum }
    val q = intra2.toDouble / m2 -
      dsum.map(d => d * d).sum.toDouble / (m2.toDouble * m2)
    val r = SparkEntry.queries("q_graph_modularity")(spark, sf0001).head()
    assert(r.getAs[Long]("n_comms") == lab.values.toSeq.distinct.length.toLong)
    assert(r.getAs[Long]("n_edges") == m2 / 2)
    assert(r.getAs[Long]("intra_edges") == intra2 / 2)
    assert(r.getAs[Double]("modularity") == math.floor(q * 1e6 + 0.5) / 1e6)
  }

  test("audience overlap matches brute user-set intersections") {
    val tu = Tables.events(spark, sf0001)
      .select("event_type", "user_id").distinct().collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("user_id")))
    val sets = tu.groupBy(_._1).map { case (t, l) => t -> l.map(_._2).toSet }
    val types = sets.keys.toSeq.sorted
    val got = SparkEntry.queries("q_events_audience_overlap")(spark, sf0001)
      .collect()
    assert(got.length == types.length * (types.length - 1) / 2)
    got.foreach { r =>
      val (a, b) = (sets(r.getAs[String]("t1")), sets(r.getAs[String]("t2")))
      val both = (a intersect b).size.toLong
      assert(r.getAs[Long]("nu1") == a.size.toLong)
      assert(r.getAs[Long]("nu2") == b.size.toLong)
      assert(r.getAs[Long]("n_both") == both)
      assert(r.getAs[Long]("jaccard_ppm") == both * 1000000L / (a.size + b.size - both))
      assert(r.getAs[Long]("containment_ppm") == both * 1000000L / math.min(a.size, b.size))
    }
  }

  test("editdist near-dup matches brute-force levenshtein within blocks") {
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(b.length + 1)(identity)
      for (i <- 1 to a.length) {
        var prev = dp(0); dp(0) = i
        for (j <- 1 to b.length) {
          val t = dp(j)
          dp(j) = math.min(math.min(dp(j) + 1, dp(j - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = t
        }
      }
      dp(b.length)
    }
    val docs = Tables.documents(spark, sf0001)
      .select("doc_id", "lang", "text", "n_chars").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"),
        r.getAs[String]("text"), r.getAs[Long]("n_chars")))
    val exp = (for {
      a <- docs; b <- docs
      if a._2 == b._2 && a._4 / 20 == b._4 / 20 && a._1 < b._1 &&
        math.abs(a._4 - b._4) <= 10
      d = lev(a._3, b._3) if d <= 10
    } yield (a._2, a._1, b._1, d.toLong)).sortBy(t => (t._1, t._2, t._3))
    val got = SparkEntry.queries("q_dedup_editdist")(spark, sf0001).collect()
    assert(got.length == exp.length && got.nonEmpty)
    got.zip(exp).foreach { case (r, (lang, id, idb, d)) =>
      assert(r.getAs[String]("lang") == lang && r.getAs[Long]("doc_id") == id)
      assert(r.getAs[Long]("doc_id_b") == idb && r.getAs[Long]("dist") == d)
    }
  }

  test("q_dedup_editdist runs its pair join once: 4 jobs at sf0.001") {
    // the sorted result is gathered on one partition, so no range-bounds
    // sampling job re-runs the banded self-join (5 jobs with a range sort)
    Tables.documents(spark, sf0001)
    assert(jobsDuring(SparkEntry.queries("q_dedup_editdist")(spark, sf0001).collect()) == 4)
  }

  test("eval family matches an independent scala classifier replay") {
    // Full reimplementation of EvalOps' trigram-profile classifier and all
    // six metrics, collection-side, against the sf0.001 corpus.
    val docs = Tables.documents(spark, sf0001)
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"),
        r.getAs[String]("text").toLowerCase))
      .filter(_._3.length >= 3)
    def grams(t: String): Set[String] =
      (1 to t.length - 2).map(i => t.substring(i - 1, i + 2)).toSet
    val train = docs.filter(d => d._1 % 4 == 0)
    val test0 = docs.filter(d => d._1 % 4 != 0)
    val prof: Map[String, Set[String]] = train.groupBy(_._2).map { case (l, ds) =>
      val cnt = ds.flatMap(d => grams(d._3)).groupBy(identity)
        .map { case (g, o) => (g, o.length) }
      l -> cnt.toSeq.sortBy { case (g, c) => (-c, g) }.take(30).map(_._1).toSet
    }
    val minTrainLang = train.map(_._2).min
    // per test doc: hit count per language, argmax with lexicographic ties
    val scored = test0.map { case (id, lang, t) =>
      val gs = grams(t)
      val hits = prof.map { case (l, p) => l -> gs.count(p.contains) }
        .filter(_._2 > 0)
      val pred = if (hits.isEmpty) minTrainLang
        else hits.toSeq.minBy { case (l, s) => (-s, l) }._1
      val sEn = hits.getOrElse("en", 0).toLong
      val sTot = hits.values.map(_.toLong).sum
      (id, lang, pred, sEn, sTot)
    }
    // confusion
    val expConf = scored.groupBy(s => (s._2, s._3))
      .map { case (k, v) => (k._1, k._2, v.length.toLong) }
    val gotConfRows = SparkEntry.queries("q_eval_confusion")(spark, sf0001).collect()
      .map(r => (r.getAs[String]("true_lang"), r.getAs[String]("pred_lang"),
        r.getAs[Long]("n")))
    assert(gotConfRows.toSet == expConf.toSet)
    assert(gotConfRows.map(_._3).sum == test0.length.toLong)
    // prf per class (from the brute confusion)
    val classes = (scored.map(_._2) ++ scored.map(_._3)).distinct.sorted
    val gotPrf = SparkEntry.queries("q_eval_prf")(spark, sf0001).collect()
    assert(gotPrf.map(_.getAs[String]("lang")).toSeq == classes.toSeq)
    gotPrf.foreach { r =>
      val cl = r.getAs[String]("lang")
      val tp = scored.count(s => s._2 == cl && s._3 == cl).toLong
      val fp = scored.count(s => s._3 == cl && s._2 != cl).toLong
      val fn = scored.count(s => s._2 == cl && s._3 != cl).toLong
      assert(r.getAs[Long]("tp") == tp && r.getAs[Long]("fp") == fp &&
        r.getAs[Long]("fn") == fn)
      if (tp + fp > 0) assert(r.getAs[Long]("precision_ppm") == tp * 1000000L / (tp + fp))
      if (tp + fn > 0) assert(r.getAs[Long]("recall_ppm") == tp * 1000000L / (tp + fn))
      if (2 * tp + fp + fn > 0)
        assert(r.getAs[Long]("f1_ppm") == 2 * tp * 1000000L / (2 * tp + fp + fn))
    }
    // kappa
    val n = scored.length.toLong
    val agree = scored.count(s => s._2 == s._3).toLong
    val pe = classes.map { cl =>
      scored.count(_._2 == cl).toLong * scored.count(_._3 == cl).toLong }.sum
    val kRow = SparkEntry.queries("q_eval_kappa")(spark, sf0001).head()
    assert(kRow.getAs[Long]("n") == n && kRow.getAs[Long]("agree") == agree)
    assert(kRow.getAs[Long]("accuracy_ppm") == agree * 1000000L / n)
    assert(kRow.getAs[Double]("kappa") ==
      math.floor((n * agree - pe).toDouble / (n * n - pe).toDouble * 1e6 + 0.5) / 1e6)
    // auc: brute pair count with half-credit ties, scaled by 2 to stay integer
    val pos = scored.filter(_._2 == "en").map(_._4)
    val neg = scored.filter(_._2 != "en").map(_._4)
    val num2 = (for { p <- pos; q <- neg } yield
      if (p > q) 2L else if (p == q) 1L else 0L).sum
    val aRow = SparkEntry.queries("q_eval_auc")(spark, sf0001).head()
    assert(aRow.getAs[Long]("n_pos") == pos.length.toLong)
    assert(aRow.getAs[Long]("n_neg") == neg.length.toLong)
    assert(aRow.getAs[Long]("auc_ppm") ==
      num2 * 1000000L / (2L * pos.length * neg.length))
    // calibration + brier from the smoothed probability in ppb space
    val ppb = scored.map { s =>
      val (pn, pd) = (s._4 + 1, s._5 + 5)
      (math.min(9L, 10 * pn / pd), 1000000000L * pn / pd,
        if (s._2 == "en") 1L else 0L)
    }
    val gotCal = SparkEntry.queries("q_eval_calibration")(spark, sf0001).collect()
    val expBins = ppb.groupBy(_._1)
    assert(gotCal.map(_.getAs[Long]("bin")).toSet == expBins.keySet)
    gotCal.foreach { r =>
      val rows = expBins(r.getAs[Long]("bin"))
      assert(r.getAs[Long]("n") == rows.length.toLong)
      assert(r.getAs[Long]("n_pos") == rows.map(_._3).sum)
      assert(r.getAs[Long]("mean_p_ppm") == rows.map(_._2).sum / (rows.length * 1000L))
      assert(r.getAs[Long]("rate_ppm") == rows.map(_._3).sum * 1000000L / rows.length)
    }
    val se = ppb.map { case (_, p, y) => val d = p - y * 1000000000L; BigInt(d) * d }.sum
    val bRow = SparkEntry.queries("q_eval_brier")(spark, sf0001).head()
    assert(bRow.getAs[Long]("n") == n)
    assert(bRow.getAs[Double]("brier") ==
      math.floor(se.toDouble / (n.toDouble * 1e18) * 1e6 + 0.5) / 1e6)
  }

  test("kendall and spearman match brute rank recomputes of the hourly series") {
    val ev = Tables.events(spark, sf0001)
      .select("event_type", "ts").collect()
      .map(r => (r.getAs[String]("event_type"),
        Math.floorDiv(r.getAs[java.sql.Timestamp]("ts").getTime / 1000L, 3600L)))
      .filter(e => e._1 == "click" || e._1 == "purchase")
    val byHr = ev.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val hrs = ev.map(_._2)
    val series = (hrs.min to hrs.max).map(h =>
      (byHr.getOrElse(("click", h), 0L), byHr.getOrElse(("purchase", h), 0L)))
    // kendall tau-b
    var (conc, disc, tx, ty, n0) = (0L, 0L, 0L, 0L, 0L)
    for (i <- series.indices; j <- i + 1 until series.length) {
      val ((xi, yi), (xj, yj)) = (series(i), series(j))
      n0 += 1
      if ((xi - xj) * (yi - yj) > 0) conc += 1
      if ((xi - xj) * (yi - yj) < 0) disc += 1
      if (xi == xj) tx += 1
      if (yi == yj) ty += 1
    }
    val kRow = SparkEntry.queries("q_agg_kendall")(spark, sf0001).head()
    assert(kRow.getAs[Long]("n_pairs") == n0 && kRow.getAs[Long]("conc") == conc)
    assert(kRow.getAs[Long]("disc") == disc && kRow.getAs[Long]("ties_x") == tx &&
      kRow.getAs[Long]("ties_y") == ty)
    assert(kRow.getAs[Double]("tau_b") ==
      math.floor((conc - disc).toDouble /
        (math.sqrt((n0 - tx).toDouble) * math.sqrt((n0 - ty).toDouble)) * 1e6 + 0.5) / 1e6)
    // spearman: pearson over doubled average ranks
    def r2s(vs: Seq[Long]): Seq[Long] =
      vs.map(v => 2 * vs.count(_ < v).toLong + vs.count(_ == v).toLong + 1)
    val (ra, rb) = (r2s(series.map(_._1)), r2s(series.map(_._2)))
    val n = series.length.toLong
    val (sx, sy) = (ra.sum, rb.sum)
    val (sxx, syy) = (ra.map(a => a * a).sum, rb.map(b => b * b).sum)
    val sxy = ra.zip(rb).map { case (a, b) => a * b }.sum
    val sRow = SparkEntry.queries("q_agg_spearman")(spark, sf0001).head()
    assert(sRow.getAs[Long]("n_hours") == n)
    assert(sRow.getAs[Double]("rho") ==
      math.floor((n * sxy - sx * sy).toDouble /
        (math.sqrt((n * sxx - sx * sx).toDouble) *
         math.sqrt((n * syy - sy * sy).toDouble)) * 1e6 + 0.5) / 1e6)
  }

  test("ols trend matches the closed-form normal equations per type") {
    val ev = Tables.events(spark, sf0001)
      .select("event_type", "ts").collect()
      .map(r => (r.getAs[String]("event_type"),
        Math.floorDiv(r.getAs[java.sql.Timestamp]("ts").getTime / 1000L, 86400L)))
    val got = SparkEntry.queries("q_agg_ols_trend")(spark, sf0001).collect()
    assert(got.map(_.getAs[String]("event_type")).toSeq ==
      ev.map(_._1).distinct.sorted.toSeq)
    got.foreach { r =>
      val tpe = r.getAs[String]("event_type")
      val daily = ev.filter(_._1 == tpe).groupBy(_._2)
        .map { case (d, v) => (d, v.length.toLong) }.toSeq.sortBy(_._1)
      val d0 = daily.map(_._1).min
      val pts = daily.map { case (d, c) => (d - d0, c) }
      val n = pts.length.toLong
      val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
      val sxx = pts.map(p => p._1 * p._1).sum
      val sxy = pts.map(p => p._1 * p._2).sum
      val syy = pts.map(p => p._2 * p._2).sum
      val num = n * sxy - sx * sy; val den = n * sxx - sx * sx
      val deny = n * syy - sy * sy
      assert(r.getAs[Long]("n_days") == n)
      if (den != 0) {
        assert(r.getAs[Double]("slope_per_day") ==
          math.floor(num.toDouble / den.toDouble * 1e6 + 0.5) / 1e6)
        assert(r.getAs[Double]("intercept") ==
          math.floor((sy * den - num * sx).toDouble / (n * den).toDouble * 1e6 + 0.5) / 1e6)
        if (deny != 0)
          assert(r.getAs[Double]("r2") ==
            math.floor((BigInt(num) * num).toDouble /
              (BigInt(den) * deny).toDouble * 1e6 + 0.5) / 1e6)
      }
    }
  }

  test("kaplan-meier matches a direct survival-product replay") {
    val ud = Tables.events(spark, sf0001)
      .select("user_id", "ts").collect()
      .map(r => (r.getAs[Long]("user_id"),
        Math.floorDiv(r.getAs[java.sql.Timestamp]("ts").getTime / 1000L, 86400L)))
    val mx = ud.map(_._2).max
    val users = ud.groupBy(_._1).toSeq.map { case (_, v) =>
      val ds = v.map(_._2)
      (ds.max - ds.min, ds.max < mx) // (lifetime, churned?)
    }
    val deathTimes = users.filter(_._2).map(_._1).distinct.sorted
    val got = SparkEntry.queries("q_report_kaplan_meier")(spark, sf0001).collect()
    assert(got.map(_.getAs[Long]("lifetime_days")).toSeq == deathTimes.map(_.toLong))
    var logSum = BigDecimal(0)
    var dead = false
    got.foreach { r =>
      val t = r.getAs[Long]("lifetime_days")
      val nr = users.count(_._1 >= t).toLong
      val d = users.count(u => u._1 == t && u._2).toLong
      assert(r.getAs[Long]("n_at_risk") == nr && r.getAs[Long]("n_churned") == d)
      if (nr == d) dead = true
      if (!dead) {
        // replicate the quantize-ln-before-cumsum discipline exactly
        logSum += BigDecimal(math.log((nr - d).toDouble / nr))
          .setScale(9, BigDecimal.RoundingMode.HALF_UP)
        assert(r.getAs[Double]("survival") ==
          math.floor(math.exp(logSum.toDouble) * 1e6 + 0.5) / 1e6)
      } else assert(r.getAs[Double]("survival") == 0.0)
    }
    // survival is non-increasing and starts below 1
    val surv = got.map(_.getAs[Double]("survival"))
    assert(surv.zip(surv.drop(1)).forall { case (a, b) => b <= a })
  }

  test("binary quant hamming is popcount-exact and beats random recall") {
    val vecs = Tables.embeddings(spark, sf0001)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getSeq[Float](1).toArray))
    val bits: Map[Long, Array[Boolean]] =
      vecs.map { case (id, v) => id -> v.map(_ >= 0f) }.toMap
    def ham(a: Array[Boolean], b: Array[Boolean]): Long =
      a.zip(b).count { case (x, y) => x != y }.toLong
    val got = SparkEntry.queries("q_vec_binary_quant")(spark, sf0001).collect()
    assert(got.nonEmpty)
    // 1. every returned distance is the exact 64-bit popcount
    got.foreach { r =>
      assert(r.getAs[Long]("hamming") ==
        ham(bits(r.getAs[Long]("probe_id")), bits(r.getAs[Long]("cand_id"))))
    }
    // 2. per probe: ranks 1..10, distances non-decreasing, and the list IS
    //    the true hamming top-10 under the (hd, cand_id) tie order
    val probes = vecs.map(_._1).filter(_ % 101 == 0)
    val byProbe = got.groupBy(_.getAs[Long]("probe_id"))
    assert(byProbe.keySet == probes.toSet)
    byProbe.foreach { case (pid, rows) =>
      assert(rows.map(_.getAs[Long]("rank")).sorted.toSeq == (1L to 10L))
      val ordered = rows.sortBy(_.getAs[Long]("rank"))
      val hds = ordered.map(_.getAs[Long]("hamming"))
      assert(hds.zip(hds.drop(1)).forall { case (a, b) => a <= b })
      val exp = vecs.map(_._1).filter(_ != pid)
        .map(c => (ham(bits(pid), bits(c)), c)).sorted.take(10)
      assert(ordered.map(r => (r.getAs[Long]("hamming"), r.getAs[Long]("cand_id"))).toSeq == exp.toSeq)
    }
    // 3. quality: mean recall@10 vs exact cosine far above the ~0.02 of a
    //    random pick (empirically ~0.3 on this corpus)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var (d, na, nb) = (0.0, 0.0, 0.0)
      for (i <- a.indices) { d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val vm = vecs.toMap
    val recalls = probes.map { pid =>
      val exact = vecs.map(_._1).filter(_ != pid)
        .map(c => (-cos(vm(pid), vm(c)), c)).sorted.take(10).map(_._2).toSet
      val hamTop = byProbe(pid).map(_.getAs[Long]("cand_id")).toSet
      (exact intersect hamTop).size / 10.0
    }
    assert(recalls.sum / recalls.length >= 0.15)
  }

  test("mutual info and mann-kendall match brute info/pair recomputes") {
    val ev = Tables.events(spark, sf0001)
      .select("event_type", "ts").collect()
      .map { r =>
        val sec = Math.floorDiv(r.getAs[java.sql.Timestamp]("ts").getTime, 1000L)
        (r.getAs[String]("event_type"),
          Math.floorMod(sec, 86400L) / 3600L, Math.floorDiv(sec, 86400L))
      }
    // mutual information over (type, hour) with the quantize discipline
    val n = ev.length.toLong
    val joint = ev.groupBy(e => (e._1, e._2)).map { case (k, v) => k -> v.length.toLong }
    val mx = ev.groupBy(_._1).map { case (k, v) => k -> v.length.toLong }
    val my = ev.groupBy(_._2).map { case (k, v) => k -> v.length.toLong }
    def q9(x: Double) = BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    val mi = joint.map { case ((x, y), nxy) =>
      q9(nxy.toDouble / n * math.log(nxy.toDouble * n / (mx(x).toDouble * my(y)))) }.sum.toDouble
    val hx = mx.values.map(c => q9(-(c.toDouble / n) * math.log(c.toDouble / n))).sum.toDouble
    val hy = my.values.map(c => q9(-(c.toDouble / n) * math.log(c.toDouble / n))).sum.toDouble
    val miRow = SparkEntry.queries("q_agg_mutual_info")(spark, sf0001).head()
    assert(miRow.getAs[Long]("n") == n)
    assert(miRow.getAs[Double]("mi_nats") == math.floor(mi * 1e6 + 0.5) / 1e6)
    assert(miRow.getAs[Double]("h_x") == math.floor(hx * 1e6 + 0.5) / 1e6)
    assert(miRow.getAs[Double]("h_y") == math.floor(hy * 1e6 + 0.5) / 1e6)
    assert(miRow.getAs[Double]("nmi") ==
      math.floor(mi / math.sqrt(hx * hy) * 1e6 + 0.5) / 1e6)
    // MI bounds: 0 ≤ MI ≤ min(H(X), H(Y))
    assert(mi >= -1e-9 && mi <= math.min(hx, hy) + 1e-9)
    // mann-kendall over the daily series
    val daily = ev.groupBy(_._3).toSeq.map { case (d, v) => (d, v.length.toLong) }
      .sortBy(_._1)
    val s0 = (for { i <- daily.indices; j <- i + 1 until daily.length } yield
      java.lang.Long.signum(daily(j)._2 - daily(i)._2).toLong).sum
    val nd = daily.length.toLong
    val tie = daily.groupBy(_._2).values.map(_.length.toLong).filter(_ > 1)
      .map(t => t * (t - 1) * (2 * t + 5)).sum
    val var18 = nd * (nd - 1) * (2 * nd + 5) - tie
    val mkRow = SparkEntry.queries("q_agg_mann_kendall")(spark, sf0001).head()
    assert(mkRow.getAs[Long]("n_days") == nd && mkRow.getAs[Long]("s_stat") == s0)
    assert(mkRow.getAs[Long]("var18") == var18)
    val zExp =
      if (var18 == 0) Double.NaN
      else if (s0 > 0) math.floor((s0 - 1) / math.sqrt(var18 / 18.0) * 1e6 + 0.5) / 1e6
      else if (s0 < 0) math.floor((s0 + 1) / math.sqrt(var18 / 18.0) * 1e6 + 0.5) / 1e6
      else 0.0
    if (var18 != 0) assert(mkRow.getAs[Double]("z") == zExp)
  }

  test("circular mean and dispersion match brute recomputes") {
    val ev = Tables.events(spark, sf0001)
      .select("event_type", "ts").collect()
      .map { r =>
        val sec = Math.floorDiv(r.getAs[java.sql.Timestamp]("ts").getTime, 1000L)
        (r.getAs[String]("event_type"), Math.floorMod(sec, 86400L),
          Math.floorDiv(sec, 3600L))
      }
    def q12(x: Double) = BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP)
    val gotCm = SparkEntry.queries("q_agg_circular_mean")(spark, sf0001).collect()
    gotCm.foreach { r =>
      val secs = ev.filter(_._1 == r.getAs[String]("event_type")).map(_._2)
      val ss = secs.map(s => q12(math.sin(s * 2 * math.Pi / 86400.0))).sum.toDouble
      val sc = secs.map(s => q12(math.cos(s * 2 * math.Pi / 86400.0))).sum.toDouble
      val raw = math.atan2(ss, sc) / (2 * math.Pi) * 86400 + 86400
      val exp = math.floor((if (raw >= 86400) raw - 86400 else raw) * 1e2 + 0.5) / 1e2
      assert(r.getAs[Long]("n") == secs.length.toLong)
      assert(r.getAs[Double]("mean_second") == exp)
      assert(r.getAs[Double]("resultant_r") ==
        math.floor(math.sqrt(ss * ss + sc * sc) / secs.length * 1e6 + 0.5) / 1e6)
      // sanity: mean is inside the day, R inside [0, 1]
      assert(exp >= 0 && exp < 86400)
      assert(r.getAs[Double]("resultant_r") >= 0 && r.getAs[Double]("resultant_r") <= 1)
    }
    val (mn, mx) = (ev.map(_._3).min, ev.map(_._3).max)
    val gotD = SparkEntry.queries("q_agg_dispersion")(spark, sf0001).collect()
    gotD.foreach { r =>
      val byHr = ev.filter(_._1 == r.getAs[String]("event_type"))
        .groupBy(_._3).map { case (h, v) => h -> v.length.toLong }
      val xs = (mn to mx).map(h => byHr.getOrElse(h, 0L))
      val n = xs.length.toLong; val sx = xs.sum; val sxx = xs.map(x => x * x).sum
      assert(r.getAs[Long]("n_hours") == n && r.getAs[Long]("n_events") == sx)
      assert(r.getAs[Double]("fano") ==
        math.floor((n * sxx - sx * sx).toDouble / n / sx * 1e6 + 0.5) / 1e6)
    }
  }

  test("quality profile matches per-column brute counting") {
    val rows = Tables.events(spark, sf0001).collect()
    def colVals(f: org.apache.spark.sql.Row => Option[String]): Seq[Option[String]] =
      rows.toSeq.map(f)
    val cols: Seq[(String, Seq[Option[String]])] = Seq(
      "event_id" -> colVals(r => Option(r.getAs[Any]("event_id")).map(_.toString)),
      "event_type" -> colVals(r => Option(r.getAs[String]("event_type"))),
      "props" -> colVals(r => Option(r.getAs[String]("props"))),
      "ts_sec" -> colVals(r => Option(r.getAs[java.sql.Timestamp]("ts"))
        .map(t => Math.floorDiv(t.getTime, 1000L).toString)),
      "user_id" -> colVals(r => Option(r.getAs[Any]("user_id")).map(_.toString)),
      "value_cents" -> colVals(r => if (r.isNullAt(r.fieldIndex("value"))) None
        else Some(math.floor(r.getAs[Double]("value") * 100 + 0.5).toLong.toString)))
    val got = SparkEntry.queries("q_quality_profile")(spark, sf0001).collect()
    assert(got.map(_.getAs[String]("column_name")).toSeq == cols.map(_._1))
    got.zip(cols).foreach { case (r, (_, vs)) =>
      val n = vs.length.toLong
      val nonnull = vs.flatten
      assert(r.getAs[Long]("n") == n)
      assert(r.getAs[Long]("n_null") == n - nonnull.length)
      assert(r.getAs[Long]("null_ppm") == (n - nonnull.length) * 1000000L / n)
      assert(r.getAs[Long]("n_distinct") == nonnull.distinct.length.toLong)
      if (nonnull.nonEmpty) {
        val top = nonnull.groupBy(identity).values.map(_.length.toLong).max
        assert(r.getAs[Long]("top1_ppm") == top * 1000000L / nonnull.length)
      }
    }
  }

  test("market basket matches brute pair counting with exact ratios") {
    val li = Tables.lineitem(spark, sf0001)
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getAs[Long]("l_orderkey"), r.getAs[Long]("l_partkey"))).distinct
    val n = li.map(_._1).distinct.length.toLong
    val isup = li.groupBy(_._2).map { case (i, v) => i -> v.length.toLong }
    val byOrder = li.groupBy(_._1).values
    val pairCnt = byOrder.toSeq.flatMap { es =>
      val items = es.map(_._2).toSeq.sorted
      for { a <- items; b <- items if a < b } yield (a, b)
    }.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
      .filter(_._2 >= 3)
    val exp = pairCnt.toSeq.map { case ((a, b), cxy) =>
      val lift = math.floor(cxy.toDouble * n / (isup(a).toDouble * isup(b)) * 1e6 + 0.5) / 1e6
      (a, b, cxy, isup(a), isup(b), cxy * 1000000L / n,
        cxy * 1000000L / isup(a), cxy * 1000000L / isup(b), lift)
    }.sortBy(t => (-t._9, t._1, t._2)).take(20)
    val got = SparkEntry.queries("q_report_market_basket")(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("item_a"), r.getAs[Long]("item_b"),
        r.getAs[Long]("n_both"), r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
        r.getAs[Long]("support_ppm"), r.getAs[Long]("conf_a_b_ppm"),
        r.getAs[Long]("conf_b_a_ppm"), r.getAs[Double]("lift")))
    assert(got.nonEmpty && got.toSeq == exp)
  }

  test("rrf fusion combines the bm25 and cosine rank lists exactly") {
    val got = SparkEntry.queries("q_search_rrf")(spark, sf0001).collect()
    assert(got.length == 20)
    // reconstruct from the two source queries: bm25 ranks and knn ranks
    val bm = SparkEntry.queries("q_text_bm25")(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("bm25")))
    // q_text_bm25 is top-20; the fused query ranks top-50 internally, so
    // only verify rows whose lex_rank ≤ 20 against it, and verify every
    // row's rrf identity 1e12/(60+r) terms and the fused ordering.
    val bmRank = bm.zipWithIndex.map { case ((id, _), i) => id -> (i + 1).toLong }.toMap
    got.foreach { r =>
      val lex = Option(r.getAs[Any]("lex_rank")).map(_.asInstanceOf[Long])
      val vec = Option(r.getAs[Any]("vec_rank")).map(_.asInstanceOf[Long])
      val expScore = lex.map(x => 1000000000000L / (60 + x)).getOrElse(0L) +
        vec.map(x => 1000000000000L / (60 + x)).getOrElse(0L)
      assert(r.getAs[Long]("rrf_p12") == expScore)
      lex.filter(_ <= 20).foreach { x =>
        assert(bmRank(r.getAs[Long]("doc_id")) == x)
      }
    }
    val scores = got.sortBy(_.getAs[Long]("fused_rank")).map(_.getAs[Long]("rrf_p12"))
    assert(scores.zip(scores.drop(1)).forall { case (a, b) => a >= b })
    assert(got.map(_.getAs[Long]("fused_rank")).sorted.toSeq == (1L to 20L))
  }

  test("hits matches a scala integer power-iteration replay") {
    val li = Tables.lineitem(spark, sf0001)
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getAs[Long]("l_orderkey"), r.getAs[Long]("l_partkey")))
    val ord = Tables.orders(spark, sf0001)
      .select("o_orderkey", "o_custkey").collect()
      .map(r => (r.getAs[Long]("o_orderkey"), r.getAs[Long]("o_custkey"))).toMap
    val edges = li.flatMap { case (ok, pk) => ord.get(ok).map(ck => (ck, pk)) }.distinct
    def normPpm(m: Map[Long, Long]): Map[Long, Long] = {
      val mx = m.values.max
      m.map { case (k, v) => k -> v * 1000000L / mx }
    }
    val a1 = normPpm(edges.groupBy(_._2).map { case (i, v) => i -> v.length.toLong })
    val h1 = normPpm(edges.groupBy(_._1).toSeq
      .map { case (u, es) => u -> es.map(e => a1(e._2)).sum }.toMap)
    val a2 = normPpm(edges.groupBy(_._2).toSeq
      .map { case (i, es) => i -> es.map(e => h1(e._1)).sum }.toMap)
    val h2 = normPpm(edges.groupBy(_._1).toSeq
      .map { case (u, es) => u -> es.map(e => a2(e._2)).sum }.toMap)
    val expAuth = a2.toSeq.sortBy { case (id, sc) => (-sc, id) }.take(15)
    val expHub = h2.toSeq.sortBy { case (id, sc) => (-sc, id) }.take(15)
    val got = SparkEntry.queries("q_graph_hits")(spark, sf0001).collect()
    val gotAuth = got.filter(_.getAs[String]("kind") == "authority")
      .sortBy(_.getAs[Long]("rank"))
      .map(r => (r.getAs[Long]("node_id"), r.getAs[Long]("score_ppm")))
    val gotHub = got.filter(_.getAs[String]("kind") == "hub")
      .sortBy(_.getAs[Long]("rank"))
      .map(r => (r.getAs[Long]("node_id"), r.getAs[Long]("score_ppm")))
    assert(gotAuth.toSeq == expAuth)
    assert(gotHub.toSeq == expHub)
    // top entries are max-normalized: rank 1 always reads exactly 1e6
    assert(gotAuth.head._2 == 1000000L && gotHub.head._2 == 1000000L)
  }

  test("textrank matches an integer damped-iteration replay") {
    val docs = Tables.documents(spark, sf0001)
      .select("text").collect().map(_.getString(0).split(" ", -1).toSeq)
    val adj = docs.flatMap(ts => ts.dropRight(1).zip(ts.drop(1)))
    val cnt = adj.flatMap(p => Seq(p._1, p._2)).groupBy(identity)
      .map { case (t, v) => t -> v.length }
    val kept = cnt.filter(_._2 >= 5).keySet
    val w0 = adj.filter(p => p._1 != p._2 && kept(p._1) && kept(p._2))
      .groupBy(identity).map { case (p, v) => p -> v.length.toLong }
    val edges = (w0.toSeq ++ w0.toSeq.map { case ((a, b), w) => ((b, a), w) })
      .map { case ((a, b), w) => (a, b, w) }
    val wtot = edges.groupBy(_._1).map { case (t, es) => t -> es.map(_._3).sum }
    val nodes = wtot.keySet.toSeq.sorted
    var s = nodes.map(_ -> 1000000L).toMap
    for (_ <- 1 to 2) {
      val contrib = edges.groupBy(_._2).map { case (v, es) =>
        v -> es.map(e => s(e._1) * e._3 / wtot(e._1)).sum }
      s = nodes.map(t => t -> (150000L + 17 * contrib.getOrElse(t, 0L) / 20)).toMap
    }
    val exp = s.toSeq.sortBy { case (t, sc) => (-sc, t) }.take(20)
    val got = SparkEntry.queries("q_text_textrank")(spark, sf0001).collect()
      .sortBy(_.getAs[Long]("rank"))
      .map(r => (r.getAs[String]("token"), r.getAs[Long]("score_ppm")))
    assert(got.toSeq == exp)
  }

  test("bq rerank agrees with a brute shortlist-then-cosine replay") {
    val vecs = Tables.embeddings(spark, sf0001)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getSeq[Float](1).toArray))
    val bits = vecs.map { case (id, v) => id -> v.map(_ >= 0f) }.toMap
    val vm = vecs.toMap
    def ham(a: Long, b: Long): Long =
      bits(a).zip(bits(b)).count { case (x, y) => x != y }.toLong
    def cos6(a: Array[Float], b: Array[Float]): Double = {
      var (d, na, nb) = (0.0, 0.0, 0.0)
      for (i <- a.indices) { d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i) }
      BigDecimal(d / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val probes = vecs.map(_._1).filter(_ % 101 == 0)
    val exp = probes.flatMap { pid =>
      val short = vecs.map(_._1).filter(_ != pid)
        .map(c => (ham(pid, c), c)).sorted.take(50)
      short.map { case (hd, c) => (pid, c, hd, cos6(vm(c), vm(pid))) }
        .sortBy { case (_, c, _, cs) => (-cs, c) }.take(10).zipWithIndex
        .map { case ((p, c, hd, cs), i) => (p, (i + 1).toLong, c, hd, cs) }
    }.sortBy(t => (t._1, t._2))
    val got = SparkEntry.queries("q_vec_bq_rerank")(spark, sf0001).collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("rank"),
        r.getAs[Long]("cand_id"), r.getAs[Long]("hamming"),
        r.getAs[Double]("cos_sim"))).sortBy(t => (t._1, t._2))
    assert(got.toSeq == exp.toSeq)
  }

  test("js matrix matches a brute divergence recompute and its bounds") {
    val docs = Tables.documents(spark, sf0001)
      .select("source", "text").collect()
      .map(r => (r.getAs[String]("source"), r.getAs[String]("text").split(" ", -1).toSeq))
    val cnt: Map[String, Map[String, Long]] = docs.groupBy(_._1).map { case (s, ds) =>
      s -> ds.flatMap(_._2).groupBy(identity).map { case (t, v) => t -> v.length.toLong }
    }
    val tot = cnt.map { case (s, m) => s -> m.values.sum }
    def q9(x: Double) = BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    def half(a: String, b: String): Double =
      cnt(a).map { case (t, na) =>
        val nb = cnt(b).getOrElse(t, 0L)
        q9(na.toDouble / tot(a) *
          math.log((2 * na * tot(b)).toDouble / (na * tot(b) + nb * tot(a)).toDouble))
      }.sum.toDouble
    val got = SparkEntry.queries("q_text_js_matrix")(spark, sf0001).collect()
    val srcs = cnt.keySet.toSeq.sorted
    assert(got.length == srcs.length * (srcs.length - 1) / 2)
    got.foreach { r =>
      val (a, b) = (r.getAs[String]("source_a"), r.getAs[String]("source_b"))
      val exp = math.floor((half(a, b) + half(b, a)) / 2 * 1e6 + 0.5) / 1e6
      assert(r.getAs[Double]("js_nats") == exp)
      // JS is bounded by ln 2 and non-negative
      assert(exp >= 0.0 && exp <= math.log(2.0) + 1e-9)
    }
  }

  test("script profile matches brute char-class counting") {
    val docs = Tables.documents(spark, sf0001)
      .select("lang", "text").collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[String]("text")))
    val got = SparkEntry.queries("q_text_script_profile")(spark, sf0001).collect()
    assert(got.map(_.getAs[String]("lang")).toSeq == docs.map(_._1).distinct.sorted.toSeq)
    got.foreach { r =>
      val ds = docs.filter(_._1 == r.getAs[String]("lang")).map(_._2)
      val len = ds.map(_.length.toLong).sum
      val na = ds.map(_.count(c => c >= 'a' && c <= 'z').toLong).sum
      val nd = ds.map(_.count(c => c >= '0' && c <= '9').toLong).sum
      val ns = ds.map(_.count(_ == ' ').toLong).sum
      assert(r.getAs[Long]("n_docs") == ds.length.toLong)
      assert(r.getAs[Long]("n_chars") == len)
      assert(r.getAs[Long]("alpha_ppm") == na * 1000000L / len)
      assert(r.getAs[Long]("digit_ppm") == nd * 1000000L / len)
      assert(r.getAs[Long]("space_ppm") == ns * 1000000L / len)
      assert(r.getAs[Long]("other_ppm") == (len - na - nd - ns) * 1000000L / len)
    }
  }

  test("kneser-ney matches a scala replay and the conditional normalizes") {
    val docs = Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text").split(" ", -1)))
    val bigrams = docs.flatMap { case (id, ts) =>
      ts.dropRight(1).zip(ts.drop(1)).map { case (a, b) => (id, a + " " + b) } }
    val c12 = bigrams.groupBy(_._2).map { case (bg, v) => bg -> v.length.toLong }
    val types = c12.keys.toSeq
    def w1(bg: String) = bg.substring(0, bg.indexOf(' '))
    def w2(bg: String) = bg.substring(bg.indexOf(' ') + 1)
    val c1 = types.groupBy(w1).map { case (w, ts) => w -> ts.map(c12).sum }
    val n1p = types.groupBy(w1).map { case (w, ts) => w -> ts.length.toLong }
    val t2 = types.groupBy(w2).map { case (w, ts) => w -> ts.length.toLong }
    val bigT = types.length.toDouble
    val d = 0.75
    def p(bg: String): Double =
      (c12(bg).toDouble - d) / c1(w1(bg)) +
        (d * n1p(w1(bg)) / c1(w1(bg))) * (t2(w2(bg)).toDouble / bigT)
    // normalization: for each prefix, mass over seen continuations plus
    // the interpolation weight times the unseen continuation mass is 1
    c1.keys.take(20).foreach { w =>
      val seen = types.filter(bg => w1(bg) == w)
      val seenMass = seen.map(p).sum
      val lam = d * n1p(w) / c1(w)
      val unseenPc = 1.0 - seen.map(bg => t2(w2(bg)).toDouble / bigT).sum
      assert(math.abs(seenMass + lam * unseenPc - 1.0) < 1e-9)
    }
    // per-doc replay with the engine's quantize-before-sum discipline
    val got = SparkEntry.queries("q_text_kneser_ney")(spark, sf0001).collect()
    val byDoc = bigrams.groupBy(_._1)
    assert(got.length == byDoc.size)
    got.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val bgs = byDoc(id).map(_._2)
      assert(r.getAs[Long]("n_bg") == bgs.length.toLong)
      val slp = bgs.map(bg => BigDecimal(math.log(p(bg)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble
      val avg = math.floor(slp / bgs.length * 1e6 + 0.5) / 1e6
      assert(r.getAs[Double]("avg_logprob") == avg)
      assert(r.getAs[Double]("ppl") == math.floor(math.exp(-avg) * 1e4 + 0.5) / 1e4)
    }
  }
}
