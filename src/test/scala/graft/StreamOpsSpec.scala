package graft

import graft.streaming.StreamOps
import graft.streaming.StreamOps.Event
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

/** T11 streaming tests: MemoryStream + deterministic drains (SURVEY §5.2). */
class StreamOpsSpec extends AnyFunSuite with SparkSessionTest {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private def ev(id: Long, t: String, u: Long = 1L, typ: String = "click"): Event =
    Event(id, ts(t), u, typ, 1.0)

  test("tumbling window counts (batch parity of the same transform)") {
    import spark.implicits._
    val df = Seq(
      ev(1, "2024-01-01 10:00:10"), ev(2, "2024-01-01 10:00:50"),
      ev(3, "2024-01-01 10:01:10")).toDF()
    val out = StreamOps.tumblingCounts(df)
      .orderBy("w_start").collect()
    assert(out.length == 2)
    assert(out(0).getLong(2) == 2 && out(1).getLong(2) == 1)
  }

  test("session windows split on 30-minute gaps (batch parity)") {
    import spark.implicits._
    val df = Seq(
      ev(1, "2024-01-01 10:00:00"), ev(2, "2024-01-01 10:05:00"),
      ev(3, "2024-01-01 12:00:00")).toDF()
    val out = StreamOps.sessionCounts(df).orderBy("s_start").collect()
    assert(out.length == 2)
    assert(out(0).getLong(3) == 2 && out(1).getLong(3) == 1)
  }

  test("streaming tumbling counts over MemoryStream") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Event]
    val q = StreamOps.tumblingCounts(ms.toDF())
      .writeStream.format("memory").queryName("t_tumbling").outputMode("complete").start()
    try {
      ms.addData(ev(1, "2024-01-01 10:00:10"), ev(2, "2024-01-01 10:00:20"))
      q.processAllAvailable()
      ms.addData(ev(3, "2024-01-01 10:00:40"))
      q.processAllAvailable()
      val cnt = spark.table("t_tumbling")
        .filter(col("w_start") === ts("2024-01-01 10:00:00"))
        .head().getLong(2)
      assert(cnt == 3) // incremental state merged across micro-batches
    } finally q.stop()
  }

  test("streaming dau dedups a user across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Event]
    val q = StreamOps.dauCounts(ms.toDF())
      .writeStream.format("memory").queryName("t_dau").outputMode("complete").start()
    try {
      ms.addData(ev(1, "2024-01-01 10:00:10", u = 1), ev(2, "2024-01-01 11:00:00", u = 2))
      q.processAllAvailable()
      // same user again (later batch, same day) + a third user + next day
      ms.addData(ev(3, "2024-01-01 15:00:00", u = 1), ev(4, "2024-01-01 16:00:00", u = 3),
        ev(5, "2024-01-02 09:00:00", u = 1))
      q.processAllAvailable()
      val out = spark.table("t_dau").orderBy("day").collect()
      assert(out.length == 2)
      assert(out(0).getAs[Long]("dau") == 3) // user 1 counted once on day 1
      assert(out(1).getAs[Long]("dau") == 1)
    } finally q.stop()
  }

  test("streaming apdex ppm is exact over windowed bucket sums") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Event]
    val q = StreamOps.apdexWindows(ms.toDF())
      .writeStream.format("memory").queryName("t_apdex").outputMode("complete").start()
    try {
      ms.addData(Event(1, ts("2024-01-01 10:00:10"), 1, "click", 50.0),
        Event(2, ts("2024-01-01 10:10:00"), 1, "click", 200.0))
      q.processAllAvailable()
      ms.addData(Event(3, ts("2024-01-01 10:20:00"), 1, "click", 500.0))
      q.processAllAvailable()
      val r = spark.table("t_apdex").head()
      assert(r.getAs[Long]("n") == 3 && r.getAs[Long]("n_sat") == 1
        && r.getAs[Long]("n_tol") == 1)
      assert(r.getAs[Long]("apdex_ppm") == (1000000L + 500000L) / 3)
    } finally q.stop()
  }

  test("watermark drops events later than 10 minutes") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Event]
    val q = StreamOps.lateDropCounts(ms.toDF())
      .writeStream.format("memory").queryName("t_late").outputMode("append").start()
    try {
      ms.addData(ev(1, "2024-01-01 10:00:10"), ev(2, "2024-01-01 10:00:20"))
      q.processAllAvailable()
      // advance watermark far past the 10:00 window
      ms.addData(ev(3, "2024-01-01 10:30:00"))
      q.processAllAvailable()
      // this event is >10 min late: must NOT reopen the finalized window
      ms.addData(ev(4, "2024-01-01 10:00:30"))
      q.processAllAvailable()
      ms.addData(ev(5, "2024-01-01 11:00:00"))
      q.processAllAvailable()
      val w1000 = spark.table("t_late")
        .filter(col("w_start") === ts("2024-01-01 10:00:00"))
        .collect()
      assert(w1000.length == 1 && w1000(0).getLong(2) == 2, w1000.mkString(","))
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark dedups by event_id") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Event]
    val q = StreamOps.dedupWithinWatermark(ms.toDF())
      .writeStream.format("memory").queryName("t_dedup").outputMode("append").start()
    try {
      ms.addData(ev(1, "2024-01-01 10:00:10"), ev(1, "2024-01-01 10:00:10"), ev(2, "2024-01-01 10:00:20"))
      q.processAllAvailable()
      ms.addData(ev(1, "2024-01-01 10:00:30")) // duplicate within watermark
      q.processAllAvailable()
      assert(spark.table("t_dedup").count() == 2)
    } finally q.stop()
  }

  test("file-source ingest streams parquet through a windowed count") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ingest").toString
    import spark.implicits._
    // first files present before the stream starts; more arrive mid-stream
    Seq(ev(1, "2024-01-01 10:00:10"), ev(2, "2024-01-01 10:00:40"))
      .toDF().write.mode("append").parquet(dir)
    val q = StreamOps.tumblingCounts(StreamOps.ingest(spark, dir))
      .writeStream.format("memory").queryName("t_ingest").outputMode("complete").start()
    try {
      q.processAllAvailable()
      Seq(ev(3, "2024-01-01 10:00:50")).toDF().write.mode("append").parquet(dir)
      q.processAllAvailable()
      val cnt = spark.table("t_ingest")
        .filter(col("w_start") === ts("2024-01-01 10:00:00")).head().getLong(2)
      assert(cnt == 3) // discovered the late-arriving file
    } finally q.stop()
  }

  test("stream-stream interval join matches purchases within 30 minutes") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val clicks = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    val q = StreamOps.clickToPurchase(clicks.toDF(), purchases.toDF())
      .writeStream.format("memory").queryName("t_ssj").outputMode("append").start()
    try {
      clicks.addData(ev(1, "2024-01-01 10:00:00"))
      purchases.addData(
        ev(50, "2024-01-01 10:10:00", typ = "purchase"),   // within 30 min → match
        ev(51, "2024-01-01 11:30:00", typ = "purchase"),   // outside → no match
        ev(52, "2024-01-01 10:10:00", u = 9, typ = "purchase")) // other user → no match
      q.processAllAvailable()
      val rows = spark.table("t_ssj").collect()
      assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 50L)))
    } finally q.stop()
  }

  test("chained stateful operators: interval join feeding a windowed aggregation") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val clicks = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    val q = StreamOps.clickToPurchaseRate(clicks.toDF(), purchases.toDF())
      .writeStream.format("memory").queryName("t_chain").outputMode("append").start()
    try {
      // two converting clicks in the 10:00 minute, one in 10:01
      clicks.addData(ev(1, "2024-01-01 10:00:05"), ev(2, "2024-01-01 10:00:40", u = 2),
        ev(3, "2024-01-01 10:01:10", u = 3))
      purchases.addData(
        ev(50, "2024-01-01 10:05:00", typ = "purchase"),
        ev(51, "2024-01-01 10:06:00", u = 2, typ = "purchase"),
        ev(52, "2024-01-01 10:07:00", u = 3, typ = "purchase"))
      q.processAllAvailable()
      // advance both watermarks far enough that the join can emit and the
      // downstream windows finalize (append mode emits only closed windows)
      clicks.addData(ev(9, "2024-01-01 12:00:00", u = 99))
      purchases.addData(ev(99, "2024-01-01 12:00:00", u = 98, typ = "purchase"))
      q.processAllAvailable()
      val rows = spark.table("t_chain").collect()
        .map(r => r.getTimestamp(0).toString -> r.getLong(1)).toMap
      assert(rows("2024-01-01 10:00:00.0") == 2L)
      assert(rows("2024-01-01 10:01:00.0") == 1L)
    } finally q.stop()
  }

  test("stream-stream left-outer join null-extends once the watermark proves no match") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val clicks = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    val q = StreamOps.clickToPurchaseOuter(clicks.toDF(), purchases.toDF())
      .writeStream.format("memory").queryName("t_ssj_outer").outputMode("append").start()
    try {
      clicks.addData(
        ev(1, "2024-01-01 10:00:00"),            // will match purchase 50
        ev(2, "2024-01-01 10:05:00", u = 5))     // no purchase ever → null-extend
      purchases.addData(ev(50, "2024-01-01 10:10:00", typ = "purchase"))
      q.processAllAvailable()
      // heartbeats push BOTH watermarks past 10:05 + 30min join window +
      // 10min delay; only then may click 2 be emitted unmatched
      clicks.addData(ev(3, "2024-01-01 12:00:00", u = 7))
      purchases.addData(ev(99, "2024-01-01 12:00:00", u = 8, typ = "purchase"))
      q.processAllAvailable()
      clicks.addData(ev(4, "2024-01-01 12:30:00", u = 7))
      purchases.addData(ev(98, "2024-01-01 12:30:00", u = 8, typ = "purchase"))
      q.processAllAvailable()
      val rows = spark.table("t_ssj_outer").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
      assert(rows.contains((1L, 50L)), s"matched pair missing in $rows")
      assert(rows.contains((2L, -1L)), s"null-extended unmatched click missing in $rows")
    } finally q.stop()
  }

  test("foreachBatch sink appends each micro-batch as parquet") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_fb").toString
    val ms = MemoryStream[Event]
    val q = StreamOps.sinkForeachBatch(ms.toDF(), s"$dir/out").start()
    try {
      ms.addData(ev(1, "2024-01-01 10:00:00")); q.processAllAvailable()
      ms.addData(ev(2, "2024-01-01 10:01:00")); q.processAllAvailable()
      assert(spark.read.parquet(s"$dir/out").count() == 2)
    } finally q.stop()
  }

  test("stateful sessionize emits closed sessions with event-time timeout") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Event]
    val q = StreamOps.statefulSessionize(spark, ms.toDS())
      .writeStream.format("memory").queryName("t_sess").outputMode("append").start()
    try {
      ms.addData(ev(1, "2024-01-01 10:00:00"), ev(2, "2024-01-01 10:10:00"))
      q.processAllAvailable()
      // >30 min gap → closes session 1 on arrival
      ms.addData(ev(3, "2024-01-01 12:00:00"))
      q.processAllAvailable()
      val rows = spark.table("t_sess").orderBy("session_start").collect()
      assert(rows.length == 1)
      assert(rows(0).getTimestamp(1) == ts("2024-01-01 10:00:00"))
      assert(rows(0).getTimestamp(2) == ts("2024-01-01 10:10:00"))
      assert(rows(0).getLong(3) == 2)
    } finally q.stop()
  }

  test("file sink + checkpoint recovers exactly-once across a restart") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val (ckpt, out) = (s"$base/ckpt", s"$base/out")
    val ms = MemoryStream[Event]
    def start() = ms.toDF().select("event_id", "user_id", "value")
      .writeStream.format("parquet")
      .option("checkpointLocation", ckpt).option("path", out)
      .outputMode("append").start()

    val q1 = start()
    ms.addData(ev(1, "2024-01-01 10:00:00"), ev(2, "2024-01-01 10:00:01"))
    q1.processAllAvailable()
    q1.stop()
    // enqueue while DOWN; the restarted query must pick up from the
    // checkpointed offset — no replay of batch 0, no loss of batch 1
    ms.addData(ev(3, "2024-01-01 10:00:02"))
    val q2 = start()
    ms.addData(ev(4, "2024-01-01 10:00:03"))
    q2.processAllAvailable()
    q2.stop()
    val ids = spark.read.parquet(out).select("event_id")
      .as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L, 4L)) // every event exactly once
  }

  test("stream-static broadcast enrichment join") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val ms = MemoryStream[Event]
    val q = StreamOps.enrichWithDim(ms.toDF(), dim, "user_id")
      .writeStream.format("memory").queryName("t_enrich").outputMode("append").start()
    try {
      ms.addData(ev(1, "2024-01-01 10:00:00", u = 1), ev(2, "2024-01-01 10:00:01", u = 3))
      q.processAllAvailable()
      val rows = spark.table("t_enrich").orderBy("event_id")
        .select("user_id", "tier").collect()
      assert(rows(0).getString(1) == "gold")
      assert(rows(1).isNullAt(1)) // unmatched user null-extends (left join)
    } finally q.stop()
  }

  test("transformWithState running count (Spark 4 stateful processor)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // transformWithState requires the RocksDB state store provider
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ms = MemoryStream[Event]
    val q = StreamOps.statefulRunningCount(spark, ms.toDS())
      .writeStream.format("memory").queryName("t_tws").outputMode("update").start()
    try {
      ms.addData(ev(1, "2024-01-01 10:00:00", u = 1), ev(2, "2024-01-01 10:01:00", u = 1),
        ev(3, "2024-01-01 10:02:00", u = 2))
      q.processAllAvailable()
      ms.addData(ev(4, "2024-01-01 10:03:00", u = 1))
      q.processAllAvailable()
      // update mode: latest emission per user carries the running total
      val last = spark.table("t_tws").groupBy("user_id")
        .agg(max("n_events").as("n")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(last == Map(1L -> 3L, 2L -> 1L)) // state carried across batches
    } finally {
      q.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("transformWithState state TTL expires the ttl'd variable but not its twin") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // AvailableNow + checkpoint restarts: TimeMode.ProcessingTime keeps a
    // continuously-running query scheduling batches (processAllAvailable
    // never quiesces), so each phase drains and terminates instead
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ttl_ck").toString
    val ms = MemoryStream[Event]
    // the memory sink refuses checkpoint recovery; a foreachBatch
    // collector supports it and sees exactly the update-mode emissions
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]
    def runOnce(): Unit = {
      val q = StreamOps.statefulTtlCount(spark, ms.toDS(), java.time.Duration.ofMillis(50))
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (df: org.apache.spark.sql.Dataset[StreamOps.TtlCounts], _: Long) =>
          df.collect().foreach(c => got.add((c.n_ttl, c.n_forever)))
        }
        .start()
      q.awaitTermination(60000)
      q.stop()
    }
    try {
      ms.addData(ev(1, "2024-01-01 10:00:00", u = 1), ev(2, "2024-01-01 10:00:01", u = 1))
      runOnce()
      import scala.jdk.CollectionConverters._
      assert(got.asScala.toSeq == Seq((2L, 2L)), got) // both counters see batch 1
      Thread.sleep(500) // well past the 50ms TTL
      ms.addData(ev(3, "2024-01-01 10:00:02", u = 1))
      runOnce()
      // ttl'd state expired → restarts at 1; the NONE twin kept its total → 3
      assert(got.asScala.toSeq == Seq((2L, 2L), (1L, 3L)), got)
    } finally {
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("transformWithState seeds state from a batch aggregate (initial state)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // batch-side backfill: user 1 has 5 historical events, user 2 has 2
    val seed = Seq(StreamOps.CountSeed(1L, 5L), StreamOps.CountSeed(2L, 2L)).toDS()
    val ms = MemoryStream[Event]
    val q = StreamOps.statefulRunningCountSeeded(spark, ms.toDS(), seed)
      .writeStream.format("memory").queryName("t_seeded").outputMode("update").start()
    try {
      ms.addData(ev(1, "2024-01-01 10:00:00", u = 1), ev(2, "2024-01-01 10:00:05", u = 1),
        ev(3, "2024-01-01 10:00:10", u = 3))
      q.processAllAvailable()
      val counts = spark.table("t_seeded").groupBy("user_id")
        .agg(max("n_events").as("n")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(counts(1L) == 7L) // 5 seeded + 2 streamed
      assert(counts(3L) == 1L) // unseeded key starts from zero
    } finally {
      q.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("transformWithState list/map state + event-time timer finalization") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ms = MemoryStream[Event]
    val q = StreamOps.statefulUserDigest(spark, ms.toDS(), gapMs = 60000L)
      .writeStream.format("memory").queryName("t_digest").outputMode("update").start()
    try {
      // batch 1: user 1 has 4 events / 2 types → list trims to last 3
      ms.addData(
        ev(1, "2024-01-01 10:00:00", u = 1, typ = "click"),
        ev(2, "2024-01-01 10:00:05", u = 1, typ = "view"),
        ev(3, "2024-01-01 10:00:10", u = 1, typ = "click"),
        ev(4, "2024-01-01 10:00:20", u = 1, typ = "click"))
      q.processAllAvailable()
      val upd = spark.table("t_digest").filter($"kind" === "update" && $"user_id" === 1)
        .orderBy($"n_types".desc).head()
      assert(upd.getLong(2) == 2L)                            // map state: 2 types
      assert(upd.getSeq[Double](3).length == 3)               // list state trimmed to 3
      // batch 2: a different user far in the future advances the watermark
      // past user 1's idle timer (10:00:20 + 60 s) → timer fires, state clears
      ms.addData(ev(5, "2024-01-01 10:10:00", u = 2))
      q.processAllAvailable()
      val expired = spark.table("t_digest").filter($"kind" === "expired").collect()
      assert(expired.map(_.getLong(0)).toSet == Set(1L))      // only user 1 idle-expired
      // batch 3: user 1 returns — state was cleared, digest starts fresh
      ms.addData(ev(6, "2024-01-01 10:20:00", u = 1, typ = "purchase"))
      q.processAllAvailable()
      val fresh = spark.table("t_digest")
        .filter($"kind" === "update" && $"user_id" === 1 && $"n_types" === 1).collect()
      assert(fresh.nonEmpty)                                  // map/list state reset
    } finally {
      q.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("stream-stream as-of join: out-of-order rights, watermark finalization, batch parity") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.streaming.StreamOps.AsofIn
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    def in(key: Long, side: String, t: String, id: Long, v: Double = 0.0) =
      AsofIn(key, side, ts(t), id, v)
    val ms = MemoryStream[AsofIn]
    val q = StreamOps.streamingAsofJoin(spark, ms.toDS())
      .writeStream.format("memory").queryName("t_asof_stream").outputMode("append").start()
    try {
      // batch 1: a right at 10:00, then a LEFT at 10:05 — must NOT emit yet
      // (watermark hasn't proven no earlier right can still arrive)
      ms.addData(in(1, "R", "2024-01-01 10:00:00", 100, 1.0),
        in(1, "L", "2024-01-01 10:05:00", 1))
      q.processAllAvailable()
      assert(spark.table("t_asof_stream").isEmpty)
      // batch 2: an OUT-OF-ORDER right at 10:02 (newer candidate for the
      // buffered left) plus a far-future row advancing the watermark
      ms.addData(in(1, "R", "2024-01-01 10:02:00", 101, 2.0),
        in(2, "L", "2024-01-01 11:00:00", 2))
      q.processAllAvailable()
      // batch 3: dummy traffic so the post-watermark-advance trigger runs
      // key 1's timer; then push time past key 2's left too
      ms.addData(in(2, "R", "2024-01-01 11:30:00", 200, 9.0))
      q.processAllAvailable()
      ms.addData(in(2, "R", "2024-01-01 11:45:00", 201, 9.5))
      q.processAllAvailable()
      val rows = spark.table("t_asof_stream")
        .collect().map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(3)) null else r.getTimestamp(3),
          if (r.isNullAt(4)) null else r.getDouble(4))).toSet
      // the late-arriving 10:02 right won over the 10:00 one
      assert(rows.contains((1L, 1L, ts("2024-01-01 10:02:00"), 2.0)), rows.toString)
      // key 2's left finalized unmatched (its rights are all AFTER it)
      assert(rows.contains((2L, 2L, null, null)), rows.toString)
      assert(rows.size == 2)
      // batch parity: the custom batch operator on the same data agrees
      val l = Seq((1L, ts("2024-01-01 10:05:00"), 1L), (2L, ts("2024-01-01 11:00:00"), 2L))
        .toDF("key", "lts", "lid")
      val r = Seq((1L, ts("2024-01-01 10:00:00"), 100L, 1.0),
        (1L, ts("2024-01-01 10:02:00"), 101L, 2.0),
        (2L, ts("2024-01-01 11:30:00"), 200L, 9.0),
        (2L, ts("2024-01-01 11:45:00"), 201L, 9.5))
        .toDF("rkey", "rts", "rid", "rv")
      val batch = graft.plans.AsOf.join(l, r, "key", "rkey", "lts", "rts", "rid",
          leftOuter = true)
        .select("key", "lid", "rts", "rv")
        .collect().map(x => (x.getLong(0), x.getLong(1),
          if (x.isNullAt(2)) null else x.getTimestamp(2),
          if (x.isNullAt(3)) null else x.getDouble(3))).toSet
      assert(batch == rows, s"batch=$batch stream=$rows")
    } finally {
      q.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("incremental aggregate maintenance equals a full recompute") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val table = java.nio.file.Files.createTempDirectory("graft_incr").toString + "/daily"
    val ms = MemoryStream[Event]
    val q = StreamOps.maintainDailyCounts(ms.toDF(), table).start()
    val fed = scala.collection.mutable.ArrayBuffer.empty[Event]
    def feed(es: Event*): Unit = { fed ++= es; ms.addData(es: _*); q.processAllAvailable() }
    try {
      feed(ev(1, "2024-01-01 10:00:00", typ = "click"),
        ev(2, "2024-01-01 11:00:00", typ = "view"))
      feed(ev(3, "2024-01-02 09:00:00", typ = "click"))
      // a LATE row for day 1: its running total must overwrite, not append
      feed(ev(4, "2024-01-01 23:00:00", typ = "click"),
        ev(5, "2024-01-02 10:00:00", typ = "click"))
      val maintained = spark.read.parquet(table)
        .collect().map(r => (r.getDate(0).toString, r.getString(1)) -> r.getLong(2)).toMap
      val full = fed.toSeq.toDF()
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .collect().map(r => (r.getDate(0).toString, r.getString(1)) -> r.getLong(2)).toMap
      assert(maintained == full, s"maintained=$maintained full=$full")
      assert(maintained(("2024-01-01", "click")) == 2L) // late row folded in
    } finally q.stop()
  }

  test("stream-stream as-of join survives a checkpoint restart with buffered state") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.streaming.StreamOps.{AsofIn, AsofOut}
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_asof_ck").toString
    val ms = MemoryStream[AsofIn]
    val got = new java.util.concurrent.ConcurrentLinkedQueue[AsofOut]
    def runOnce(): Unit = {
      val q = StreamOps.streamingAsofJoin(spark, ms.toDS())
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (df: org.apache.spark.sql.Dataset[AsofOut], _: Long) =>
          df.collect().foreach(got.add)
        }
        .start()
      q.awaitTermination(60000)
      q.stop()
    }
    def in(key: Long, side: String, t: String, id: Long, v: Double = 0.0) =
      AsofIn(key, side, ts(t), id, v)
    try {
      // phase 1: a right + a left buffer in state, nothing finalizes
      ms.addData(in(1, "R", "2024-01-01 10:00:00", 100, 1.0),
        in(1, "L", "2024-01-01 10:05:00", 1))
      runOnce()
      assert(got.isEmpty, got)
      // phase 2 AFTER RESTART: a better out-of-order right arrives, then
      // watermark-advancing traffic — the pre-restart buffered left must
      // still be there, and must match the post-restart right
      ms.addData(in(1, "R", "2024-01-01 10:02:00", 101, 2.0),
        in(2, "R", "2024-01-01 11:00:00", 200, 9.0))
      runOnce()
      ms.addData(in(2, "R", "2024-01-01 11:30:00", 201, 9.5))
      runOnce()
      import scala.jdk.CollectionConverters._
      val rows = got.asScala.toSeq
      assert(rows.map(o => (o.key, o.left_id, o.right_ts.map(_.toString), o.right_value)) ==
        Seq((1L, 1L, Some("2024-01-01 10:02:00.0"), Some(2.0))), rows)
    } finally {
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  // ---- batch/stream parity over the REAL corpus ------------------------
  // The unification claim ("each operator is a pure DataFrame→DataFrame
  // transform, so the same code runs batch and streaming") is proven, not
  // asserted: the sf0.001 events table is replayed through the streaming
  // file source under Trigger.AvailableNow and the drained result must
  // equal — row for row — the SAME transform run as a batch plan over the
  // same rows.

  /** Replay the sf0.001 events through `transform` as a stream (file
    * source, AvailableNow) and as a batch plan; return (streamed, batch)
    * row multisets, canonicalized to sorted string lines. */
  private def replayParity(name: String,
                           transform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : (Seq[String], Seq[String]) = {
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value")
    val batchEvents = Tables.events(spark, sf0001)
      .select(cols.map(col): _*)
    val dir = java.nio.file.Files.createTempDirectory(s"graft_parity_$name").toString
    // 8 files + maxFilesPerTrigger=1 → the AvailableNow drain runs 8
    // micro-batches, so parity exercises cross-batch state merge, not a
    // single-batch replay that would hold trivially.
    batchEvents.repartition(8).write.mode("overwrite").parquet(dir)
    val q = transform(StreamOps.ingest(spark, dir, maxFilesPerTrigger = Some(1)))
      .writeStream.format("memory").queryName(s"parity_$name")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] = {
      val names = df.columns.sorted.toSeq
      df.select(names.map(col): _*).collect()
        .map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted
    }
    (canon(spark.table(s"parity_$name")), canon(transform(batchEvents)))
  }

  test("parity: streamed tumbling counts equal the batch window() plan on sf0.001") {
    val (streamed, batch) = replayParity("tumbling", StreamOps.tumblingCounts)
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("parity: streamed session windows equal the batch session_window() plan on sf0.001") {
    val (streamed, batch) = replayParity("session", StreamOps.sessionCounts)
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("parity: streamed sliding counts equal the batch sliding window() plan on sf0.001") {
    val (streamed, batch) = replayParity("sliding", StreamOps.slidingCounts)
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("streaming minhash dedup flags near-dups across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    def doc(id: Long, text: String) = StreamOps.DocIn(id,
      java.sql.Timestamp.valueOf(s"2024-01-01 10:00:${"%02d".format(id)}"), text)
    val a = "the quick brown fox jumps over the lazy dog"
    val aDup = "the quick brown fox jumps over the lazy dog" // identical → all bands collide
    val b = "completely different content about spark structured streaming state"
    val ms = MemoryStream[StreamOps.DocIn]
    val q = StreamOps.streamingMinhashDedup(spark, ms.toDS())
      .writeStream.format("memory").queryName("t_mh").outputMode("update").start()
    try {
      ms.addData(doc(1, a), doc(2, b)); q.processAllAvailable()
      ms.addData(doc(3, aDup)); q.processAllAvailable() // dup arrives a batch LATER
      val rows = spark.table("t_mh").collect()
        .map(r => r.getLong(0) -> (r.getBoolean(1), Option(r.get(2)).map(_.toString))).toMap
      assert(rows(1L) == (false, None), s"doc 1 is the original: $rows")
      assert(rows(2L) == (false, None), s"doc 2 shares no band: $rows")
      assert(rows(3L) == (true, Some("1")), s"doc 3 must dup to 1 across batches: $rows")
    } finally {
      q.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("streaming minhash dedup equals the batch statement on an ordered replay") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val docs = Tables.documents(spark, sf0001)
      .selectExpr("doc_id", "timestamp_seconds(doc_id) AS ts", "text")
      .as[StreamOps.DocIn].collect().sortBy(d => (d.ts.getTime, d.doc_id)).take(120)
    val want = StreamOps.batchMinhashDedup(spark.createDataset(docs.toIndexedSeq))
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toSet
    val ms = MemoryStream[StreamOps.DocIn]
    val q = StreamOps.streamingMinhashDedup(spark, ms.toDS())
      .writeStream.format("memory").queryName("t_mh_par").outputMode("update").start()
    try {
      docs.grouped(40).foreach { c => ms.addData(c.toSeq); q.processAllAvailable() }
      val got = spark.table("t_mh_par").collect()
        .map(r => (r.getLong(0), r.getBoolean(1))).toSet
      assert(got == want)
      assert(got.exists(_._2) || got.size == docs.length) // sanity: verdicts cover all docs
      assert(got.size == docs.length)
    } finally {
      q.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }
  test("template novelty alerts once per template, re-alerts only new ones") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    def te(tpl: String, t: String, id: Long) =
      StreamOps.TemplateEvent(tpl, ts(t), id)
    val ms = MemoryStream[StreamOps.TemplateEvent]
    val q = StreamOps.noveltyAlerts(spark, ms.toDS())
      .writeStream.format("memory").queryName("t_novelty")
      .outputMode("append").start()
    try {
      // batch 1: two templates, two rows of the first -- alert once each,
      // payload = the in-batch (ts, event_id) minimum
      ms.addData(te("sshd auth fail from <ip>", "2024-01-01 10:00:05", 7),
        te("sshd auth fail from <ip>", "2024-01-01 10:00:01", 3),
        te("cron job <n> done", "2024-01-01 10:00:02", 4))
      q.processAllAvailable()
      // batch 2: only already-seen templates -- no alerts
      ms.addData(te("sshd auth fail from <ip>", "2024-01-01 10:01:00", 9),
        te("cron job <n> done", "2024-01-01 10:01:01", 10))
      q.processAllAvailable()
      // batch 3: one old, one genuinely novel -- exactly one alert
      ms.addData(te("cron job <n> done", "2024-01-01 10:02:00", 11),
        te("kernel oom killed pid <n>", "2024-01-01 10:02:01", 12))
      q.processAllAvailable()
      val alerts = spark.table("t_novelty").collect()
        .map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2))).toSet
      assert(alerts == Set(
        ("sshd auth fail from <ip>", ts("2024-01-01 10:00:01"), 3L),
        ("cron job <n> done", ts("2024-01-01 10:00:02"), 4L),
        ("kernel oom killed pid <n>", ts("2024-01-01 10:02:01"), 12L)))
    } finally {
      q.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("templateExpr keeps short codes, folds long numeric runs") {
    import spark.implicits._
    val df = Seq(
      (1L, ts("2024-01-01 10:00:00"), "click", """{"k": 42}"""),
      (2L, ts("2024-01-01 10:00:01"), "click", """{"k": 42, "sid": 9081726354}"""),
      (3L, ts("2024-01-01 10:00:02"), "error", null.asInstanceOf[String]))
      .toDF("event_id", "ts", "event_type", "props")
    val tpls = StreamOps.templateEvents(spark, df).collect()
      .sortBy(_.event_id).map(_.template).toSeq
    // k=42 (a short code) survives; the 10-digit session id folds to <n>
    assert(tpls == Seq("""click {"k": 42}""",
      """click {"k": 42, "sid": <n>}""", "error "))
    val firsts = StreamOps.batchTemplateFirsts(df).collect()
      .map(r => (r.getString(0), r.getLong(2))).toMap
    assert(firsts.size == 3 && firsts("""click {"k": 42}""") == 1L)
  }
}
