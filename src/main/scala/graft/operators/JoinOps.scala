package graft.operators

import graft.{Det, OracleDet, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** T3 — joins: equi (hash/broadcast/multiway), outer, semi/anti, theta,
  * interval self-join, as-of (SURVEY §2 T3).
  *
  * Scale notes:
  *  - Dimension sides (region/nation/customer/part, ≤20k rows at sf0.1) are
  *    under the broadcast threshold; `broadcast()` hints make that explicit
  *    where the optimizer can't know (theta join would otherwise be a
  *    cartesian SMJ error).
  *  - The non-equi conditions always ride on an equi key (user_id / custkey)
  *    so the physical plan is a shuffled/broadcast hash join with a residual
  *    filter — never a cartesian product. That property is what survives a
  *    100× scale-up.
  *  - The as-of join uses join + per-event ranking (row_number = 1), the
  *    deterministic distributed formulation (SURVEY §7.3.4).
  */
object JoinOps {
  import Det._

  /** Second-truncated event time: both engines order/compare identically
    * (raw ts is ns in the file, µs in Spark — SURVEY §A-3.1). */
  private def eventsTs(s: SparkSession, sf: String): DataFrame =
    Tables.events(s, sf).withColumn("ts_s", date_trunc("second", col("ts")))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_join_inner_hash" -> ((s, sf) =>
      Tables.orders(s, sf)
        .join(Tables.customer(s, sf), col("o_custkey") === col("c_custkey"), "inner")
        .select("o_orderkey", "c_name", "o_totalprice")
        .orderBy("o_orderkey")),

    "q_join_broadcast" -> ((s, sf) =>
      Tables.lineitem(s, sf)
        .join(broadcast(Tables.part(s, sf)), col("l_partkey") === col("p_partkey"))
        .select("l_orderkey", "l_linenumber", "p_brand", "p_type")
        // (l_orderkey, l_linenumber) is not unique: full emitted list
        .orderBy("l_orderkey", "l_linenumber", "p_brand", "p_type")),

    "q_join_multiway" -> ((s, sf) =>
      Tables.orders(s, sf)
        .join(Tables.customer(s, sf), col("o_custkey") === col("c_custkey"))
        .join(Tables.nation(s, sf), col("c_nationkey") === col("n_nationkey"))
        .join(Tables.region(s, sf), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("revenue"))
        .orderBy("r_name", "n_name")),

    "q_join_left_outer" -> ((s, sf) =>
      Tables.customer(s, sf)
        .join(Tables.orders(s, sf).filter(col("o_totalprice") > 400000.0),
          col("c_custkey") === col("o_custkey"), "left_outer")
        .select(col("c_custkey"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("c_custkey").asc, col("o_orderkey").asc_nulls_first)),

    "q_join_full_outer" -> ((s, sf) => {
      val e = eventsTs(s, sf)
      val clicks = e.filter(col("event_type") === "click")
        .groupBy("user_id").agg(count(lit(1)).as("clicks"))
      val purchases = e.filter(col("event_type") === "purchase")
        .groupBy(col("user_id").as("p_user_id")).agg(count(lit(1)).as("purchases"))
      clicks.join(purchases, col("user_id") === col("p_user_id"), "full_outer")
        .select(
          coalesce(col("user_id"), col("p_user_id")).as("uid"),
          col("clicks"), col("purchases"))
        .orderBy("uid")
    }),

    "q_join_right_outer" -> ((s, sf) =>
      Tables.orders(s, sf).filter(col("o_totalprice") > 400000.0)
        .join(Tables.customer(s, sf), col("o_custkey") === col("c_custkey"), "right_outer")
        .select(col("c_custkey"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("c_custkey").asc, col("o_orderkey").asc_nulls_first)),

    "q_join_cross" -> ((s, sf) =>
      Tables.region(s, sf)
        .crossJoin(Tables.nation(s, sf))
        .select("r_name", "n_name")
        .orderBy("r_name", "n_name")),

    // Salted skew join exercised end-to-end: semantically a plain inner
    // equi-join lineitem⋈part (the oracle is exactly that), but executed
    // through Skew.saltedJoin — the fact side is salted on a high-
    // cardinality column and the dimension side exploded n× so a hot part
    // key spreads over n reducers instead of one. The post-join decimal
    // aggregate is salt-invariant, so the oracle hash-checks that salting
    // is result-transparent.
    "q_join_skew_salted" -> ((s, sf) => {
      val li = Tables.lineitem(s, sf)
        .select(col("l_partkey").as("partkey"), col("l_orderkey"),
          col("l_linenumber"), col("l_quantity"))
      val pt = Tables.part(s, sf)
        .select(col("p_partkey").as("partkey"), col("p_brand"))
      Skew.saltedJoin(li, pt, "partkey",
          saltSrc = col("l_orderkey") * lit(8) + col("l_linenumber"), n = 8)
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_items"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy("p_brand")
    }),

    "q_join_semi" -> ((s, sf) =>
      Tables.customer(s, sf)
        .join(Tables.orders(s, sf).filter(col("o_totalprice") > 450000.0),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")),

    // IN-subquery surface: Catalyst rewrites to the same left-semi join as
    // q_join_semi — this query pins the SQL path (subquery decorrelation),
    // not new physical machinery.
    "q_subquery_in" -> ((s, sf) => {
      Tables.customer(s, sf).createOrReplaceTempView("customer")
      Tables.orders(s, sf).createOrReplaceTempView("orders")
      s.sql(
        """SELECT c_custkey, c_name FROM customer
          |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 450000.0)
          |ORDER BY c_custkey""".stripMargin)
    }),

    // Scalar subqueries, correlated and uncorrelated: per-customer order
    // count (decorrelates to an outer-join + aggregate) and account
    // balance relative to the global decimal-exact average.
    "q_subquery_scalar" -> ((s, sf) => {
      Tables.customer(s, sf).createOrReplaceTempView("customer")
      Tables.orders(s, sf).createOrReplaceTempView("orders")
      s.sql(
        """SELECT c_custkey,
          |  (SELECT count(*) FROM orders WHERE o_custkey = c_custkey) AS n_orders,
          |  round(c_acctbal / (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(30,4))) AS DOUBLE) / count(*)
          |                     FROM customer), 6) AS rel_bal
          |FROM customer ORDER BY c_custkey""".stripMargin)
    }),

    // LATERAL correlated subquery join: top-1 order per customer via a
    // per-row dependent subquery with ORDER BY + LIMIT — the SQL spelling
    // of q_topk_per_group (Catalyst decorrelates to window-rank; DuckDB
    // executes it natively).
    "q_join_lateral" -> ((s, sf) => {
      Tables.customer(s, sf).createOrReplaceTempView("customer")
      Tables.orders(s, sf).createOrReplaceTempView("orders")
      s.sql(
        """SELECT c_custkey, t.o_orderkey, t.o_totalprice
          |FROM customer, LATERAL (
          |  SELECT o_orderkey, o_totalprice FROM orders
          |  WHERE o_custkey = c_custkey
          |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) t
          |ORDER BY c_custkey""".stripMargin)
    }),

    "q_join_anti" -> ((s, sf) =>
      Tables.customer(s, sf)
        .join(Tables.orders(s, sf).filter(col("o_totalprice") > 450000.0),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")),

    "q_join_theta_range" -> ((s, sf) => {
      val bands = s.createDataFrame(Seq(
        (0.0, 50.0, "low"), (50.0, 200.0, "mid"), (200.0, 1000.0, "high")))
        .toDF("lo", "hi", "band")
      Tables.events(s, sf)
        // broadcast-nested-loop over a 3-row side: the only sane physical
        // plan for a pure non-equi join; explicit hint per SURVEY §4.2
        .join(broadcast(bands), col("value") >= col("lo") && col("value") < col("hi"))
        .select("event_id", "value", "band")
        .orderBy("event_id")
    }),

    // The interval join at SCALE: q_join_theta_range's broadcast nested
    // loop is only sane while the interval side is tiny — its cost is
    // |probe| × |intervals|. Binning makes the range join an EQUI-join:
    // every interval is replicated to the fixed-width bins it overlaps
    // (fan-out ceil(len/W)+1), every probe value maps to exactly one bin,
    // and the exact [lo, hi) check runs as a post-filter on the matched
    // pairs. Both sides shuffle-partition on the bin key, so the join
    // spreads across the cluster like any hash join — this is the standard
    // range-join optimization (bin width trades replication against bucket
    // selectivity). 100 overlapping intervals here (already 33× past where
    // the 3-row BNL broadcast stops being a plan), integer bin arithmetic
    // identical in both engines.
    "q_join_range_binned" -> ((s, sf) => {
      Tables.events(s, sf).createOrReplaceTempView("events")
      s.sql(
        """WITH bands AS (SELECT explode(sequence(0, 99)) AS b),
          |iv AS (SELECT b, b * 5.0 AS lo, b * 5.0 + 8.0 AS hi FROM bands),
          |ib AS (SELECT b, lo, hi,
          |         explode(sequence(CAST(floor(lo / 4.0) AS INT),
          |                          CAST(floor(hi / 4.0) AS INT))) AS bin
          |       FROM iv),
          |ev AS (SELECT event_id, value, CAST(floor(value / 4.0) AS INT) AS bin
          |       FROM events)
          |SELECT event_id, value, CAST(b AS BIGINT) AS band_id
          |FROM ev JOIN ib ON ev.bin = ib.bin
          |WHERE value >= lo AND value < hi
          |ORDER BY event_id, band_id""".stripMargin)
    }),

    // Longest-prefix-match CIDR lookup — the log-genre routing join
    // (src_ip → most specific network block). The scale shape is the
    // netflow-pipeline standard: one equi-join PER DISTINCT PREFIX LENGTH
    // (events replicate |distinct plens| ≈ 5 times — bounded fan-out like
    // the binned range join), each keyed on ip >> (32 − plen), then the
    // per-event argmax on plen picks the most specific match. No
    // nested-loop anywhere; with a 1M-route table the per-plen join is a
    // plain hash join on a co-partitionable key. IPs derive
    // deterministically from user_id (Knuth-hash offsets into three
    // blocks) so the output is corpus-stable and oracle-checkable.
    "q_join_lpm_cidr" -> ((s, sf) => {
      Tables.events(s, sf).createOrReplaceTempView("events")
      s.sql(lpmCidrSql(idiv = "DIV"))
    }),

    // Point-in-time SCD2 join — the warehouse temporal join: a
    // slowly-changing dimension is DERIVED from a changelog (per-user
    // daily spend → tier, kept only where the tier CHANGES — the lag
    // window runs per user, fully distributed), then each fact row joins
    // the dimension version valid AT ITS TIME. The Spark side is the
    // map-combinable as-of shape (max(struct(valid_from, tier)) over
    // versions with valid_from <= fact day — candidate rows never all
    // meet in one sort); the oracle keeps the window-rank formulation so
    // the gate proves the equivalence. Every purchase is covered by
    // construction (a purchase IS activity, so its user has a tier row
    // at or before that day); coalesce('unknown') guards the empty
    // degenerate corpus.
    "q_join_pit_scd2" -> ((s, sf) => {
      Tables.events(s, sf).createOrReplaceTempView("events")
      s.sql(
        """WITH dv AS (SELECT user_id, CAST(ts AS DATE) AS day,
          |              CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS spend
          |            FROM events GROUP BY user_id, CAST(ts AS DATE)),
          |t AS (SELECT user_id, day,
          |        CASE WHEN spend < 50 THEN 'low'
          |             WHEN spend < 200 THEN 'mid' ELSE 'high' END AS tier
          |      FROM dv),
          |chg AS (SELECT user_id, day AS valid_from, tier FROM (
          |          SELECT user_id, day, tier,
          |            lag(tier) OVER (PARTITION BY user_id ORDER BY day) AS prev
          |          FROM t) x
          |        WHERE prev IS NULL OR tier <> prev),
          |p AS (SELECT event_id, user_id, CAST(ts AS DATE) AS day, value
          |      FROM events WHERE event_type = 'purchase'),
          |m AS (SELECT p.event_id, p.value,
          |        max(named_struct('vf', c.valid_from, 'tier', c.tier)) AS mx
          |      FROM p LEFT JOIN chg c
          |        ON p.user_id = c.user_id AND c.valid_from <= p.day
          |      GROUP BY p.event_id, p.value)
          |SELECT coalesce(mx.tier, 'unknown') AS tier,
          |  count(*) AS n_purchases,
          |  round(CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE), 2) AS revenue
          |FROM m GROUP BY coalesce(mx.tier, 'unknown')
          |ORDER BY tier""".stripMargin)
    }),

    // Fixed-radius nearest neighbor via grid binning — see
    // [[spatialGridSql]] for the completeness argument and scale shape.
    "q_join_spatial_grid" -> ((s, sf) => {
      Tables.embeddings(s, sf).createOrReplaceTempView("embeddings")
      s.sql(spatialGridSql("embedding[0]", "embedding[1]"))
    }),

    "q_join_self_interval" -> ((s, sf) => {
      val e = eventsTs(s, sf).select(
        col("user_id"), col("event_id"), unix_timestamp(col("ts_s")).as("sec"))
      val e2 = e.select(
        col("user_id").as("user_id2"), col("event_id").as("event_id2"), col("sec").as("sec2"))
      e.join(e2,
          col("user_id") === col("user_id2")
            && col("event_id") < col("event_id2")
            && abs(col("sec") - col("sec2")) <= 3600)
        .groupBy("user_id")
        .agg(count(lit(1)).as("pairs_1h"))
        .orderBy("user_id")
    }),

    // As-of via join + max(struct(date, key)) hash aggregate rather than a
    // window rank: the aggregate is partially combinable map-side (the
    // joined rows never all meet in one sort), which is the shape that
    // survives 100×. Lexicographic struct max == (date DESC, key DESC)
    // row_number()=1 — the oracle keeps the rank formulation to prove the
    // equivalence.
    "q_join_asof" -> ((s, sf) => {
      val e = eventsTs(s, sf).select("event_id", "user_id", "ts_s")
      val o = Tables.orders(s, sf).select("o_orderkey", "o_custkey", "o_orderdate")
      e.join(o, col("o_custkey") === col("user_id") && col("o_orderdate") <= col("ts_s"))
        .groupBy("event_id", "user_id")
        .agg(max(struct(col("o_orderdate"), col("o_orderkey"))).as("m"))
        .select(
          col("event_id"), col("user_id"),
          col("m.o_orderkey").as("o_orderkey"),
          col("m.o_orderdate").as("o_orderdate"))
        .orderBy("event_id")
    }),

    // As-of with a TOLERANCE bound — the feature-store variant ("latest
    // feature value, but never staler than 7 days"): same max(struct)
    // shape as q_join_asof with a lower time bound on the join, which
    // ALSO caps the join fan-in per probe (the staleness window is a
    // state-size bound at scale, exactly like a stream-stream join
    // watermark). Events whose only matches are stale drop out (inner).
    "q_join_asof_tolerance" -> ((s, sf) => {
      val ev = eventsTs(s, sf)
      val c = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts_s"))
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
          col("ts_s").as("p_ts"), col("value").as("p_value"))
      c.join(p, col("p_user") === col("user_id") &&
          col("p_ts") <= col("ts_s") &&
          col("p_ts") >= col("ts_s") - expr("INTERVAL 7 DAYS"))
        .groupBy("click_id", "user_id")
        .agg(max(struct(col("p_ts"), col("p_id"), col("p_value"))).as("m"))
        .select(
          col("click_id"), col("user_id"),
          col("m.p_id").as("purchase_id"),
          col("m.p_ts").as("purchase_ts"))
        .orderBy("click_id")
    }),

    // FORWARD as-of — the time-reversed twin of q_join_asof_tolerance:
    // for every click, the EARLIEST purchase at-or-after it within 7
    // days (first-touch conversion attribution; the backward family
    // answers "latest feature value", this answers "next outcome"). Same
    // bounded-fan-in min(struct) shape — the window cap is the state
    // bound at scale, exactly as on the backward side.
    "q_join_asof_forward" -> ((s, sf) => {
      val ev = eventsTs(s, sf)
      val c = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts_s"))
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
          col("ts_s").as("p_ts"))
      c.join(p, col("p_user") === col("user_id") &&
          col("p_ts") >= col("ts_s") &&
          col("p_ts") <= col("ts_s") + expr("INTERVAL 7 DAYS"))
        .groupBy("click_id", "user_id")
        .agg(min(struct(col("p_ts"), col("p_id"))).as("m"))
        .select(
          col("click_id"), col("user_id"),
          col("m.p_id").as("purchase_id"),
          col("m.p_ts").as("purchase_ts"))
        .orderBy("click_id")
    }),

    // Same semantics through the custom operator stack (graft.plans.AsOf):
    // logical AsOfJoinPlan → AsOfJoinStrategy → AsOfMergeJoinExec, a
    // co-partitioned streaming merge with no join explosion. Checked
    // against the identical rank-based oracle as q_join_asof.
    "q_join_asof_custom" -> ((s, sf) => {
      val e = eventsTs(s, sf).select("event_id", "user_id", "ts_s")
      val o = Tables.orders(s, sf).select("o_orderkey", "o_custkey", "o_orderdate")
      graft.plans.AsOf.join(e, o, "user_id", "o_custkey", "ts_s", "o_orderdate", "o_orderkey")
        .select("event_id", "user_id", "o_orderkey", "o_orderdate")
        .orderBy("event_id")
    }),

    // The SQL spelling of the same operator (graft.plans.AsofSqlRule): a
    // plain join whose ON clause carries the asof_tie(tiebreak) marker is
    // rewritten onto AsOfJoinPlan at analysis. Extension-built sessions
    // (spark.sql.extensions=graft.functions.GraftExtensions) get the
    // DuckDB-style `ASOF JOIN` keyword and the rewrite natively from the
    // injected parser + resolution rule (AsofSqlSpec proves it); on the
    // harness's live session the rule is applied to the analyzed plan
    // explicitly. Same oracle as q_join_asof_custom — three surfaces, one
    // operator, one fixpoint.
    "q_join_asof_sql" -> ((s, sf) => {
      eventsTs(s, sf).select("event_id", "user_id", "ts_s")
        .createOrReplaceTempView("asof_e")
      Tables.orders(s, sf).select("o_orderkey", "o_custkey", "o_orderdate")
        .createOrReplaceTempView("asof_o")
      val df = s.sql(
        """SELECT event_id, user_id, o_orderkey, o_orderdate
          |FROM asof_e e JOIN asof_o o
          |  ON e.user_id = o.o_custkey
          | AND e.ts_s >= o.o_orderdate
          | AND asof_tie(o.o_orderkey)
          |ORDER BY event_id""".stripMargin)
      org.apache.spark.sql.GraftBridge.ofRows(s,
        graft.plans.AsofSqlRule.rewriteAnalyzed(df.queryExecution.analyzed))
    }),

    // NEAREST-match as-of: each event takes the order with the smallest
    // |orderdate − ts| in EITHER direction (sensor/log alignment where the
    // closest reading wins), ties broken by larger o_orderkey like the
    // rest of the family. Same map-side-combinable max(struct) shape as
    // the backward as-of — max of (−distance, okey) picks the nearest,
    // then largest key — so the per-event argmin never materializes the
    // candidate set past the partial aggregate. The oracle keeps the
    // window-rank form (DuckDB has no struct-max), proving equivalence.
    // On THIS corpus every orderdate precedes every event, so the output
    // coincides with the backward as-of's matches (with distances instead
    // of dates); the forward/tie behavior is pinned by a fixture spec.
    "q_join_asof_nearest" -> ((s, sf) => {
      eventsTs(s, sf).createOrReplaceTempView("ev")
      Tables.orders(s, sf).createOrReplaceTempView("orders")
      s.sql(asofNearestSparkSql)
    }),

    // As-of over STRING keys and DATE times — exercises the generalized
    // interpreted-ordering merge (the operator accepts any orderable
    // atomic type; keys here are 'c<custkey>' strings, times are days).
    // Date ties are common (many orders share a day), broken by the
    // largest o_orderkey exactly as in the timestamp variant.
    "q_join_asof_typed" -> ((s, sf) => {
      val e = eventsTs(s, sf).select(
        col("event_id"),
        concat(lit("c"), col("user_id")).as("skey"),
        to_date(col("ts_s")).as("day"))
      val o = Tables.orders(s, sf).select(
        col("o_orderkey"),
        concat(lit("c"), col("o_custkey")).as("rkey"),
        to_date(col("o_orderdate")).as("o_day"))
      graft.plans.AsOf.join(e, o, "skey", "rkey", "day", "o_day", "o_orderkey")
        .select("event_id", "skey", "o_orderkey", "o_day")
        .orderBy("event_id")
    }),

    // Left-outer as-of through the same custom operator: the right side is
    // restricted to high-value orders so a real fraction of events has no
    // match and must null-extend.
    "q_join_asof_outer" -> ((s, sf) => {
      val e = eventsTs(s, sf).select("event_id", "user_id", "ts_s")
      val o = Tables.orders(s, sf)
        .filter(col("o_totalprice") > 300000.0)
        .select("o_orderkey", "o_custkey", "o_orderdate")
      graft.plans.AsOf.join(e, o, "user_id", "o_custkey", "ts_s", "o_orderdate",
          "o_orderkey", leftOuter = true)
        .select("event_id", "user_id", "o_orderkey", "o_orderdate")
        .orderBy("event_id")
    }),

    // MERGE / upsert semantics as one declarative plan: target = customer
    // balances, source = per-customer open-order totals PLUS a shifted key
    // range that exists only in the source (so every MERGE branch is
    // exercised). matched → update (balance + delta), not-matched-by-target
    // → insert, not-matched-by-source → keep. A full outer join on the key
    // IS the MERGE engine: at scale it shuffles both sides once on the
    // merge key — or goes broadcast when the delta batch is small, which
    // Catalyst picks from stats; writers (Delta/Iceberg) layer file
    // rewriting on exactly this join.
    "q_merge_upsert" -> ((s, sf) => {
      val target = Tables.customer(s, sf)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      val src0 = Tables.orders(s, sf)
        .filter(col("o_orderstatus") === "O")
        .groupBy(col("o_custkey"))
        .agg(sum(col("o_totalprice").cast(DecimalType(30, 2))).cast(DoubleType).as("delta"))
      // shifted copy: keys guaranteed absent from the target → INSERT arm
      val source = src0.union(
        src0.select(col("o_custkey") + lit(10000000L), col("delta")))
      target.join(source, col("c_custkey") === col("o_custkey"), "full_outer")
        .select(
          coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
          coalesce(col("c_name"), lit("NEW")).as("name"),
          round(coalesce(col("c_acctbal"), lit(0.0)) + coalesce(col("delta"), lit(0.0)), 2)
            .as("acctbal"),
          when(col("c_custkey").isNull, "insert")
            .when(col("delta").isNull, "keep")
            .otherwise("update").as("action"))
        .orderBy("custkey")
    }),

    // NULL-safe equi-join (`<=>` / IS NOT DISTINCT FROM): the join
    // semantics where NULL keys MATCH each other instead of vanishing —
    // what a log pipeline needs when "no session id" is itself a join key.
    // Both sides aggregate BEFORE the join (count per key), so the
    // NULL-key group joins as one row × one row instead of exploding
    // n_null² pairs — the only shape that survives a null-heavy corpus at
    // scale. Spark plans <=> as an ordinary hash join (null-safe keys
    // still hash-partition); no BNL appears.
    "q_join_null_safe" -> ((s, sf) => {
      val e = Tables.events(s, sf)
        .withColumn("k", nullif(pmod(col("user_id"), lit(7)), lit(0)))
      val a = e.filter(col("event_type") === "click")
        .groupBy("k").agg(count(lit(1)).as("n_click"))
      val b = e.filter(col("event_type") === "purchase")
        .groupBy("k").agg(count(lit(1)).as("n_purchase"))
      a.join(b, a("k") <=> b("k"))
        .select(a("k").as("k"), col("n_click"), col("n_purchase"),
          (col("n_click") * col("n_purchase")).as("n_pairs"))
        .orderBy(col("k").asc_nulls_first)
    }),

    // Explicit bloom-prefiltered semi join — the APPLICATION-LEVEL twin of
    // the optimizer-injected runtime bloom filter (RuntimeFilterSpec):
    // build a bloom over the selective build side's keys (~600 orders at
    // sf0.01 → a few KB), ship it task-side, and kill non-matching fact
    // rows AT THE SCAN, before they pay the shuffle; the exact semi join
    // then removes the bloom's false positives, so the result is
    // bit-identical to plain EXISTS (which is the oracle). At 100 TB this
    // is the difference between shuffling the full fact table and
    // shuffling ~the matching slice — and unlike the optimizer rewrite it
    // works across pipeline stages (e.g. filter today's scan with
    // yesterday's key set). The udf is codegen-opaque but O(1)/row over a
    // broadcast-sized sketch; the driver-side build is `df.stat
    // .bloomFilter` (one aggregate job, merged per-partition sketches).
    "q_join_bloom_prefilter" -> ((s, sf) => {
      val sel = Tables.orders(s, sf)
        .filter(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 400000.0)
      // empty build side → `stat.bloomFilter` returns a bufferless sketch
      // whose mightContain NPEs (found by EmptyCorpusSpec); an always-false
      // prefilter is the exact semantics (semi join with an empty side)
      val n = sel.count()
      val prefilter =
        if (n == 0) lit(false)
        else {
          val bf = sel.stat.bloomFilter("o_orderkey", n, 0.001)
          udf((k: Long) => bf.mightContain(k)).apply(col("l_orderkey"))
        }
      val li = Tables.lineitem(s, sf)
      li.filter(prefilter)
        .join(sel.select("o_orderkey"), col("l_orderkey") === col("o_orderkey"), "left_semi")
        .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")
    }),

    // BUCKETED co-located join in the graded path: both sides are written
    // `bucketBy(8, custkey) sortBy(custkey)` managed tables, so at read
    // time the bucket layout IS the hash partitioning and the merge join
    // runs with ZERO shuffle above either scan (BucketingSpec asserts
    // exactly that on this helper's plan; the only exchanges in the full
    // query are the aggregate's and the output sort's). The `merge` hint
    // pins SMJ — plan-embedded, no session conf — because at graded SFs
    // the customer side is broadcast-sized and the optimizer would
    // otherwise pick BHJ, leaving the bucket mechanics unexercised. At
    // 100 TB this is the fact⋈fact shape where pre-bucketing at write
    // time deletes the two dominant shuffles from every downstream join
    // on that key. The oracle runs the plain join over the originals,
    // proving the bucketed round-trip computes the identical relation.
    "q_join_bucketed" -> ((s, sf) => {
      bucketedJoin(s, sf)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(DecimalType(30, 2))).cast(DoubleType).as("total"))
        .orderBy("c_mktsegment")
    })
  )

  /** The shuffle-free bucketed join (shared with BucketingSpec, which
    * asserts zero ShuffleExchange nodes in THIS dataframe's plan). */
  private[graft] def bucketedJoin(s: SparkSession, sf: String): DataFrame = {
    val tag = sf.replaceAll("[^A-Za-z0-9]", "_")
    val (ot, ct) = (s"graft_bkt_orders_$tag", s"graft_bkt_customer_$tag")
    // A previous JVM's managed-table LOCATION may survive in the
    // warehouse dir while this session's in-memory catalog has no such
    // table — saveAsTable then fails with LOCATION_ALREADY_EXISTS. Drop
    // both the catalog entry and any orphan directory before writing.
    for (t <- Seq(ot, ct)) {
      s.sql(s"DROP TABLE IF EXISTS $t")
      val wh = new java.net.URI(s.conf.get("spark.sql.warehouse.dir"))
      val loc = java.nio.file.Paths.get(
        if (wh.getScheme == null) wh.getPath else new java.io.File(wh).getPath, t)
      if (java.nio.file.Files.exists(loc)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(loc).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.delete)
      }
    }
    // Only the columns the join mix needs are bucketed — materializing a
    // projected bucket table is the production shape (and halves the
    // per-run write volume the bench pays for this round-trip query).
    Tables.orders(s, sf).select("o_custkey", "o_totalprice")
      .write.mode("overwrite")
      .bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable(ot)
    Tables.customer(s, sf).select("c_custkey", "c_mktsegment")
      .write.mode("overwrite")
      .bucketBy(8, "c_custkey").sortBy("c_custkey").saveAsTable(ct)
    val ob = s.table(ot)
    val cb = s.table(ct)
    ob.hint("merge")
      .join(cb, ob("o_custkey") === cb("c_custkey"))
      .select(col("c_mktsegment"), col("o_totalprice"))
  }

  /** Nearest-as-of over temp views `ev(event_id, user_id, ts_s)` and
    * `orders(o_orderkey, o_custkey, o_orderdate)` — shared with the
    * fixture spec that pins the forward and tie cases. */
  private[graft] val asofNearestSparkSql =
    """WITH j AS (SELECT e.event_id, e.user_id,
      |             -abs(unix_timestamp(e.ts_s) - unix_timestamp(o.o_orderdate)) AS nd,
      |             o.o_orderkey AS okey
      |           FROM ev e JOIN orders o ON o.o_custkey = e.user_id)
      |SELECT event_id, user_id, m.okey AS o_orderkey, -m.nd AS dist_s FROM (
      |  SELECT event_id, user_id,
      |    max(named_struct('nd', nd, 'okey', okey)) AS m
      |  FROM j GROUP BY event_id, user_id) t
      |ORDER BY event_id""".stripMargin

  /** Longest-prefix-match CIDR join, engine-shared up to integer
    * division (`idiv`: Spark `DIV`, DuckDB `//`). Route table: eight
    * literal CIDR blocks at five prefix lengths, nested so specificity
    * matters (10.1.2/24 ⊂ 10.1/16 ⊂ 10/8). Events get a deterministic
    * ip from user_id (Knuth multiplicative hash into one of the three
    * top-level blocks). Join: events × distinct-plens (5-row bounded
    * fan-out) equi-joined on the plen-masked prefix; most specific wins
    * via a per-event max(plen) window; output aggregates to per-network
    * counts so the result is compact and hash-stable. power(2, 32−plen)
    * is integer-exact in doubles for plen ∈ [8,24]. */
  private def ip4(a: Long, b: Long, c: Long, d: Long): Long =
    ((a * 256 + b) * 256 + c) * 256 + d

  private def lpmCidrSql(idiv: String): String =
    s"""WITH nets AS (
       |  SELECT * FROM (VALUES
       |    ('corp-10/8',            ${ip4(10, 0, 0, 0)},      8),
       |    ('dc1-10.1/16',          ${ip4(10, 1, 0, 0)},     16),
       |    ('dc1-rack-10.1.2/24',   ${ip4(10, 1, 2, 0)},     24),
       |    ('vpn-172.16/12',        ${ip4(172, 16, 0, 0)},   12),
       |    ('vpn-pool-172.16.5/24', ${ip4(172, 16, 5, 0)},   24),
       |    ('office-192.168/16',    ${ip4(192, 168, 0, 0)},  16),
       |    ('office-eng-192.168.0/20', ${ip4(192, 168, 0, 0)}, 20),
       |    ('guest-192.168.200/24', ${ip4(192, 168, 200, 0)}, 24)
       |  ) AS t(name, net, plen)),
       |keyed AS (SELECT name, CAST(net AS BIGINT) AS net, plen,
       |            CAST(power(2, 32 - plen) AS BIGINT) AS span FROM nets),
       |ev AS (SELECT event_id, user_id,
       |         CASE CAST(user_id % 3 AS INT)
       |           WHEN 0 THEN ${ip4(10, 0, 0, 0)}
       |                       + (user_id * 2654435761) % 16777216
       |           WHEN 1 THEN ${ip4(172, 16, 0, 0)}
       |                       + (user_id * 2654435761) % 1048576
       |           ELSE ${ip4(192, 168, 0, 0)}
       |                       + (user_id * 2654435761) % 65536
       |         END AS ip
       |       FROM events),
       |pl AS (SELECT DISTINCT plen,
       |         CAST(power(2, 32 - plen) AS BIGINT) AS span FROM nets),
       |evk AS (SELECT e.event_id, e.ip, p.plen, e.ip $idiv p.span AS k
       |        FROM ev e CROSS JOIN pl p),
       |cand AS (SELECT evk.event_id, n.name, n.plen
       |         FROM evk JOIN keyed n
       |           ON evk.plen = n.plen AND evk.k = n.net $idiv n.span),
       |best AS (SELECT event_id, name, plen,
       |           row_number() OVER (PARTITION BY event_id
       |                              ORDER BY plen DESC) AS rn
       |         FROM cand)
       |SELECT name AS net_name, plen, count(*) AS n_events
       |FROM best WHERE rn = 1
       |GROUP BY name, plen
       |ORDER BY net_name""".stripMargin

  /** Fixed-radius nearest neighbor via grid binning — the 2D analogue of
    * the binned range join and the scalable core of every spatial join:
    * points land in w×w cells, each probe expands to its 3×3 cell
    * neighborhood (9-row bounded fan-out), candidates equi-join on the
    * cell key, and the exact ≤ w distance check + per-probe top-1 run on
    * the matched pairs only. Cell width = radius guarantees completeness
    * (any point within w of a probe is in a neighboring cell), so the
    * result is EXACT for the radius search — no all-pairs term anywhere,
    * and the cell-key join co-partitions at any scale. `x`/`y` are the
    * first two embedding dims (engine array bases differ — Spark 0-based,
    * DuckDB 1-based — hence the parameters). */
  private def spatialGridSql(xExpr: String, yExpr: String): String =
    s"""WITH pts AS (SELECT vec_id, CAST($xExpr AS DOUBLE) AS x,
       |               CAST($yExpr AS DOUBLE) AS y
       |             FROM embeddings),
       |cells AS (SELECT vec_id, x, y,
       |            CAST(floor(x / 0.5) AS INT) AS cx,
       |            CAST(floor(y / 0.5) AS INT) AS cy FROM pts),
       |offs AS (SELECT * FROM (VALUES (-1), (0), (1)) AS t(d)),
       |probes AS (SELECT vec_id, x, y, cx, cy FROM cells WHERE vec_id % 50 = 0),
       |pcand AS (SELECT p.vec_id AS probe_id, p.x AS px, p.y AS py,
       |            p.cx + ox.d AS ncx, p.cy + oy.d AS ncy
       |          FROM probes p CROSS JOIN offs ox CROSS JOIN offs oy),
       |pairs AS (SELECT pc.probe_id,  q.vec_id AS nn_id,
       |            (pc.px - q.x) * (pc.px - q.x) + (pc.py - q.y) * (pc.py - q.y) AS d2
       |          FROM pcand pc JOIN cells q
       |            ON pc.ncx = q.cx AND pc.ncy = q.cy
       |          WHERE q.vec_id <> pc.probe_id),
       |hit AS (SELECT probe_id, nn_id, d2,
       |          row_number() OVER (PARTITION BY probe_id
       |                             ORDER BY d2, nn_id) AS rn
       |        FROM pairs WHERE d2 <= 0.25)
       |SELECT probe_id, nn_id, round(sqrt(d2), 6) AS dist
       |FROM hit WHERE rn = 1
       |ORDER BY probe_id""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_join_lpm_cidr" -> lpmCidrSql(idiv = "//"),

    "q_join_spatial_grid" ->
      spatialGridSql("embedding[1]", "embedding[2]"),

    "q_join_pit_scd2" ->
      """WITH dv AS (SELECT user_id, CAST(ts AS DATE) AS day,
        |              CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS spend
        |            FROM events GROUP BY user_id, CAST(ts AS DATE)),
        |t AS (SELECT user_id, day,
        |        CASE WHEN spend < 50 THEN 'low'
        |             WHEN spend < 200 THEN 'mid' ELSE 'high' END AS tier
        |      FROM dv),
        |chg AS (SELECT user_id, day AS valid_from, tier FROM (
        |          SELECT user_id, day, tier,
        |            lag(tier) OVER (PARTITION BY user_id ORDER BY day) AS prev
        |          FROM t) x
        |        WHERE prev IS NULL OR tier <> prev),
        |p AS (SELECT event_id, user_id, CAST(ts AS DATE) AS day, value
        |      FROM events WHERE event_type = 'purchase'),
        |j AS (SELECT p.event_id, p.value, c.tier,
        |        row_number() OVER (PARTITION BY p.event_id
        |                           ORDER BY c.valid_from DESC) AS rn
        |      FROM p LEFT JOIN chg c
        |        ON p.user_id = c.user_id AND c.valid_from <= p.day)
        |SELECT coalesce(tier, 'unknown') AS tier,
        |  count(*) AS n_purchases,
        |  round(CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE), 2) AS revenue
        |FROM j WHERE rn = 1
        |GROUP BY coalesce(tier, 'unknown')
        |ORDER BY tier""".stripMargin,

    "q_join_inner_hash" ->
      """SELECT o_orderkey, c_name, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin,

    "q_join_broadcast" ->
      """SELECT l_orderkey, l_linenumber, p_brand, p_type
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |ORDER BY l_orderkey, l_linenumber, p_brand, p_type""".stripMargin,

    "q_join_multiway" ->
      s"""SELECT r_name, n_name, count(*) AS cnt, ${OracleDet.dsum("o_totalprice")} AS revenue
         |FROM orders
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY r_name, n_name
         |ORDER BY r_name, n_name""".stripMargin,

    "q_join_left_outer" ->
      """SELECT c_custkey, o_orderkey, o_totalprice
        |FROM customer
        |LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 400000.0) o
        |  ON c_custkey = o_custkey
        |ORDER BY c_custkey ASC, o_orderkey ASC NULLS FIRST""".stripMargin,

    "q_join_full_outer" ->
      """WITH c AS (SELECT user_id, count(*) AS clicks FROM events
        |           WHERE event_type = 'click' GROUP BY user_id),
        |     p AS (SELECT user_id, count(*) AS purchases FROM events
        |           WHERE event_type = 'purchase' GROUP BY user_id)
        |SELECT coalesce(c.user_id, p.user_id) AS uid, c.clicks, p.purchases
        |FROM c FULL JOIN p ON c.user_id = p.user_id
        |ORDER BY uid""".stripMargin,

    "q_join_right_outer" ->
      """SELECT c_custkey, o_orderkey, o_totalprice
        |FROM (SELECT * FROM orders WHERE o_totalprice > 400000.0) o
        |RIGHT JOIN customer ON o_custkey = c_custkey
        |ORDER BY c_custkey ASC, o_orderkey ASC NULLS FIRST""".stripMargin,

    "q_join_cross" ->
      """SELECT r_name, n_name FROM region CROSS JOIN nation
        |ORDER BY r_name, n_name""".stripMargin,

    "q_join_skew_salted" ->
      s"""SELECT p_brand, count(*) AS n_items,
         |  ${OracleDet.dsum("l_quantity")} AS sum_qty
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    "q_join_semi" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 450000.0)
        |ORDER BY c_custkey""".stripMargin,

    "q_subquery_in" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 450000.0)
        |ORDER BY c_custkey""".stripMargin,

    "q_subquery_scalar" ->
      """SELECT c_custkey,
        |  (SELECT count(*) FROM orders WHERE o_custkey = c_custkey) AS n_orders,
        |  round(c_acctbal / (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(30,4))) AS DOUBLE) / count(*)
        |                     FROM customer), 6) AS rel_bal
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q_join_lateral" ->
      """SELECT c_custkey, t.o_orderkey, t.o_totalprice
        |FROM customer, LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_custkey = c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) t
        |ORDER BY c_custkey""".stripMargin,

    "q_join_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 450000.0)
        |ORDER BY c_custkey""".stripMargin,

    "q_join_theta_range" ->
      """SELECT event_id, value, band
        |FROM events
        |JOIN (VALUES (0.0, 50.0, 'low'), (50.0, 200.0, 'mid'), (200.0, 1000.0, 'high'))
        |  AS bands(lo, hi, band)
        |  ON value >= lo AND value < hi
        |ORDER BY event_id""".stripMargin,

    "q_join_range_binned" ->
      """WITH bands AS (SELECT unnest(generate_series(0, 99)) AS b),
        |iv AS (SELECT b, b * 5.0 AS lo, b * 5.0 + 8.0 AS hi FROM bands),
        |ib AS (SELECT b, lo, hi,
        |         unnest(generate_series(CAST(floor(lo / 4.0) AS INT),
        |                                CAST(floor(hi / 4.0) AS INT))) AS bin
        |       FROM iv),
        |ev AS (SELECT event_id, value, CAST(floor(value / 4.0) AS INT) AS bin
        |       FROM events)
        |SELECT event_id, value, CAST(b AS BIGINT) AS band_id
        |FROM ev JOIN ib ON ev.bin = ib.bin
        |WHERE value >= lo AND value < hi
        |ORDER BY event_id, band_id""".stripMargin,

    "q_join_self_interval" ->
      """WITH e AS (SELECT user_id, event_id,
        |             CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec
        |           FROM events)
        |SELECT a.user_id, count(*) AS pairs_1h
        |FROM e a JOIN e b
        |  ON a.user_id = b.user_id AND a.event_id < b.event_id
        | AND abs(a.sec - b.sec) <= 3600
        |GROUP BY a.user_id
        |ORDER BY a.user_id""".stripMargin,

    "q_join_asof_custom" ->
      """SELECT event_id, user_id, o_orderkey, o_orderdate FROM (
        |  SELECT e.event_id, e.user_id, o.o_orderkey, o.o_orderdate,
        |    row_number() OVER (PARTITION BY e.event_id
        |                       ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        |  FROM events e
        |  JOIN orders o ON o.o_custkey = e.user_id
        |               AND o.o_orderdate <= CAST(date_trunc('second', e.ts) AS TIMESTAMP)
        |) t WHERE rn = 1
        |ORDER BY event_id""".stripMargin,

    "q_join_asof_sql" ->
      """SELECT event_id, user_id, o_orderkey, o_orderdate FROM (
        |  SELECT e.event_id, e.user_id, o.o_orderkey, o.o_orderdate,
        |    row_number() OVER (PARTITION BY e.event_id
        |                       ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        |  FROM events e
        |  JOIN orders o ON o.o_custkey = e.user_id
        |               AND o.o_orderdate <= CAST(date_trunc('second', e.ts) AS TIMESTAMP)
        |) t WHERE rn = 1
        |ORDER BY event_id""".stripMargin,

    "q_join_asof_nearest" ->
      """SELECT event_id, user_id, o_orderkey, dist_s FROM (
        |  SELECT e.event_id, e.user_id, o.o_orderkey,
        |    abs(CAST(epoch(CAST(date_trunc('second', e.ts) AS TIMESTAMP)) AS BIGINT)
        |        - CAST(epoch(o.o_orderdate) AS BIGINT)) AS dist_s,
        |    row_number() OVER (PARTITION BY e.event_id
        |      ORDER BY abs(CAST(epoch(CAST(date_trunc('second', e.ts) AS TIMESTAMP)) AS BIGINT)
        |                   - CAST(epoch(o.o_orderdate) AS BIGINT)) ASC,
        |               o.o_orderkey DESC) AS rn
        |  FROM events e JOIN orders o ON o.o_custkey = e.user_id) t
        |WHERE rn = 1
        |ORDER BY event_id""".stripMargin,

    "q_join_asof_typed" ->
      """SELECT event_id, skey, o_orderkey, o_day FROM (
        |  SELECT e.event_id, concat('c', e.user_id) AS skey,
        |    o.o_orderkey, CAST(o.o_orderdate AS DATE) AS o_day,
        |    row_number() OVER (PARTITION BY e.event_id
        |                       ORDER BY CAST(o.o_orderdate AS DATE) DESC,
        |                                o.o_orderkey DESC) AS rn
        |  FROM events e
        |  JOIN orders o ON concat('c', o.o_custkey) = concat('c', e.user_id)
        |               AND CAST(o.o_orderdate AS DATE)
        |                   <= CAST(CAST(date_trunc('second', e.ts) AS TIMESTAMP) AS DATE)
        |) t WHERE rn = 1
        |ORDER BY event_id""".stripMargin,

    "q_join_asof_outer" ->
      """SELECT event_id, user_id, o_orderkey, o_orderdate FROM (
        |  SELECT e.event_id, e.user_id, o.o_orderkey, o.o_orderdate,
        |    row_number() OVER (PARTITION BY e.event_id
        |                       ORDER BY o.o_orderdate DESC NULLS LAST,
        |                                o.o_orderkey DESC NULLS LAST) AS rn
        |  FROM events e
        |  LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 300000.0) o
        |    ON o.o_custkey = e.user_id
        |   AND o.o_orderdate <= CAST(date_trunc('second', e.ts) AS TIMESTAMP)
        |) t WHERE rn = 1
        |ORDER BY event_id""".stripMargin,

    "q_join_asof" ->
      """SELECT event_id, user_id, o_orderkey, o_orderdate FROM (
        |  SELECT e.event_id, e.user_id, o.o_orderkey, o.o_orderdate,
        |    row_number() OVER (PARTITION BY e.event_id
        |                       ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        |  FROM events e
        |  JOIN orders o ON o.o_custkey = e.user_id
        |               AND o.o_orderdate <= CAST(date_trunc('second', e.ts) AS TIMESTAMP)
        |) t WHERE rn = 1
        |ORDER BY event_id""".stripMargin,

    "q_join_asof_tolerance" ->
      """SELECT click_id, user_id, purchase_id, purchase_ts FROM (
        |  SELECT c.event_id AS click_id, c.user_id,
        |    p.event_id AS purchase_id,
        |    CAST(date_trunc('second', p.ts) AS TIMESTAMP) AS purchase_ts,
        |    row_number() OVER (PARTITION BY c.event_id
        |      ORDER BY CAST(date_trunc('second', p.ts) AS TIMESTAMP) DESC,
        |               p.event_id DESC) AS rn
        |  FROM events c
        |  JOIN events p ON p.user_id = c.user_id
        |    AND c.event_type = 'click' AND p.event_type = 'purchase'
        |    AND CAST(date_trunc('second', p.ts) AS TIMESTAMP)
        |        <= CAST(date_trunc('second', c.ts) AS TIMESTAMP)
        |    AND CAST(date_trunc('second', p.ts) AS TIMESTAMP)
        |        >= CAST(date_trunc('second', c.ts) AS TIMESTAMP) - INTERVAL 7 DAYS
        |) t WHERE rn = 1
        |ORDER BY click_id""".stripMargin,

    "q_join_asof_forward" ->
      """SELECT click_id, user_id, purchase_id, purchase_ts FROM (
        |  SELECT c.event_id AS click_id, c.user_id,
        |    p.event_id AS purchase_id,
        |    CAST(date_trunc('second', p.ts) AS TIMESTAMP) AS purchase_ts,
        |    row_number() OVER (PARTITION BY c.event_id
        |      ORDER BY CAST(date_trunc('second', p.ts) AS TIMESTAMP) ASC,
        |               p.event_id ASC) AS rn
        |  FROM events c
        |  JOIN events p ON p.user_id = c.user_id
        |    AND c.event_type = 'click' AND p.event_type = 'purchase'
        |    AND CAST(date_trunc('second', p.ts) AS TIMESTAMP)
        |        >= CAST(date_trunc('second', c.ts) AS TIMESTAMP)
        |    AND CAST(date_trunc('second', p.ts) AS TIMESTAMP)
        |        <= CAST(date_trunc('second', c.ts) AS TIMESTAMP) + INTERVAL 7 DAYS
        |) t WHERE rn = 1
        |ORDER BY click_id""".stripMargin,

    "q_merge_upsert" ->
      """WITH src0 AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS delta
        |  FROM orders WHERE o_orderstatus = 'O' GROUP BY o_custkey),
        |src AS (SELECT * FROM src0
        |        UNION ALL SELECT o_custkey + 10000000, delta FROM src0)
        |SELECT coalesce(c_custkey, o_custkey) AS custkey,
        |  coalesce(c_name, 'NEW') AS name,
        |  round(coalesce(c_acctbal, 0.0) + coalesce(delta, 0.0), 2) AS acctbal,
        |  CASE WHEN c_custkey IS NULL THEN 'insert'
        |       WHEN delta IS NULL THEN 'keep'
        |       ELSE 'update' END AS action
        |FROM customer FULL JOIN src ON c_custkey = o_custkey
        |ORDER BY custkey""".stripMargin,

    "q_join_null_safe" ->
      """WITH e AS (SELECT *, nullif(user_id % 7, 0) AS k FROM events),
        |a AS (SELECT k, count(*) AS n_click FROM e
        |      WHERE event_type = 'click' GROUP BY k),
        |b AS (SELECT k, count(*) AS n_purchase FROM e
        |      WHERE event_type = 'purchase' GROUP BY k)
        |SELECT a.k AS k, n_click, n_purchase, n_click * n_purchase AS n_pairs
        |FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
        |ORDER BY k NULLS FIRST""".stripMargin,

    "q_join_bloom_prefilter" ->
      """SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice
        |FROM lineitem l
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_orderkey = l.l_orderkey
        |                AND o.o_orderpriority = '1-URGENT'
        |                AND o.o_totalprice > 400000.0)
        |ORDER BY l_orderkey, l_partkey, l_quantity, l_extendedprice""".stripMargin,

    "q_join_bucketed" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS total
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin
  )
}
