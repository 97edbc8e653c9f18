package graft.streaming

import graft.{GraftSession, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.{Files, Paths}
import java.sql.Timestamp

/** Driver-visible streaming gate: re-runs the batch/stream parity checks
  * and the checkpoint-restart drill that live in StreamOpsSpec, and writes
  * one `STREAM_PARITY.json` so T11 produces a per-round artifact instead
  * of being visible only inside `sbt test` output.
  *
  * Every check replays the REAL sf corpus (not a synthetic fixture)
  * through the streaming file source in 8 single-file micro-batches, so
  * equality exercises cross-batch state merge; the batch side is the SAME
  * DataFrame→DataFrame transform over the same rows — the unification
  * claim, measured. The as-of check goes further: the custom streaming
  * stateful processor must agree row-for-row with the custom BATCH as-of
  * operator over a corpus-derived click→purchase join.
  *
  * Usage: `runMain graft.streaming.StreamParity <sfDir> [outFile]`.
  */
object StreamParity {
  /** Recursive delete of a per-check temp dir; every check cleans up its
    * corpus-sized parquet replica / checkpoint so repeated runs don't
    * accumulate garbage in /tmp. */
  private def rmTree(dir: String): Unit = {
    val root = Paths.get(dir)
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.deleteIfExists(p))
      finally walk.close()
    }
  }

  private def canon(df: DataFrame): Seq[String] = {
    val names = df.columns.sorted.toSeq
    df.select(names.map(col): _*).collect()
      .map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted
  }

  /** Stream `transform` over the corpus events via the file source
    * (8 files × maxFilesPerTrigger=1 under AvailableNow) and as a batch
    * plan; return canonical row multisets. */
  private def replay(s: SparkSession, sf: String, name: String,
                     transform: DataFrame => DataFrame): (Seq[String], Seq[String]) = {
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value")
    val batchEvents = Tables.events(s, sf).select(cols.map(col): _*)
    val dir = Files.createTempDirectory(s"graft_sp_$name").toString
    batchEvents.repartition(8).write.mode("overwrite").parquet(dir)
    val q = transform(StreamOps.ingest(s, dir, maxFilesPerTrigger = Some(1)))
      .writeStream.format("memory").queryName(s"sp_$name")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    val res = (canon(s.table(s"sp_$name")), canon(transform(batchEvents)))
    rmTree(dir)
    res
  }

  /** MemoryStream → parquet sink with a stop/restart in the middle and a
    * row enqueued while the query is DOWN; exactly-once means the sink
    * holds each event id exactly once afterwards. */
  private def checkpointRestart(s: SparkSession): (Seq[Long], Seq[Long]) = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val base = Files.createTempDirectory("graft_sp_ckpt").toString
    val (ckpt, out) = (s"$base/ckpt", s"$base/out")
    val ms = MemoryStream[StreamOps.Event]
    def ev(id: Long) = StreamOps.Event(id,
      Timestamp.valueOf(s"2024-01-01 10:00:0$id"), 1L, "click", 0.0)
    def start() = ms.toDF().select("event_id", "user_id", "value")
      .writeStream.format("parquet")
      .option("checkpointLocation", ckpt).option("path", out)
      .outputMode("append").start()
    val q1 = start()
    ms.addData(ev(1), ev(2)); q1.processAllAvailable(); q1.stop()
    ms.addData(ev(3)) // enqueued while down: must not be lost
    val q2 = start()
    ms.addData(ev(4)); q2.processAllAvailable(); q2.stop()
    val got = s.read.parquet(out).select("event_id")
      .as[Long].collect().sorted.toSeq
    rmTree(base)
    (Seq(1L, 2L, 3L, 4L), got)
  }

  /** Corpus-scale as-of parity: clicks (left) matched to the latest
    * prior purchase (right) per user. The streaming stateful processor is
    * fed the corpus in 4 event-time-ordered chunks plus two far-future
    * sentinel batches (watermark advance + timer fire — exactly the
    * discipline a production replay needs to flush trailing state); the
    * batch side is the custom AsOf exec over the same rows. */
  private def asofParity(s: SparkSession, sf: String): (Seq[String], Seq[String]) = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val ev = Tables.events(s, sf)
      .select("event_id", "ts", "user_id", "event_type", "value")
    val l = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("key"), col("ts").as("lts"), col("event_id").as("lid"))
    val r = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("rkey"), col("ts").as("rts"),
        col("event_id").as("rid"), col("value").as("rv"))
    val batch = graft.plans.AsOf
      .join(l, r, "key", "rkey", "lts", "rts", "rid", leftOuter = true)
      .select("key", "lid", "rts", "rv")

    val tagged = ev.filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id").as("key"),
        when(col("event_type") === "click", "L").otherwise("R").as("side"),
        col("ts"), col("event_id").as("id"),
        when(col("event_type") === "purchase", col("value")).otherwise(0.0).as("value"))
      .as[StreamOps.AsofIn].collect().sortBy(_.ts.getTime)
    // transformWithState requires the RocksDB provider (multiple column
    // families); scoped to this check and restored after.
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ms = MemoryStream[StreamOps.AsofIn]
    val q = StreamOps.streamingAsofJoin(s, ms.toDS())
      .writeStream.format("memory").queryName("sp_asof")
      .outputMode("append").start()
    try {
      tagged.grouped(math.max(1, tagged.length / 4)).foreach { chunk =>
        ms.addData(chunk.toSeq); q.processAllAvailable()
      }
      val flushT = tagged.last.ts.getTime + 7L * 24 * 3600 * 1000
      for (i <- 0 to 1) { // advance watermark, then fire timers
        ms.addData(StreamOps.AsofIn(-1L, "R", new Timestamp(flushT + i), 0L, 0.0))
        q.processAllAvailable()
      }
    } finally {
      q.stop()
      s.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
    val streamed = s.table("sp_asof").filter(col("key") >= 0)
      .select(col("key"), col("left_id").as("lid"),
        col("right_ts").as("rts"), col("right_value").as("rv"))
    (canon(streamed), canon(batch))
  }

  /** Corpus-scale streaming-vs-batch MinHash near-dup parity: every
    * document of the sf corpus (synthetic arrival time = doc_id seconds —
    * the corpus has no ts column) flows through the ingest-time dedup in
    * 8 (ts, doc_id)-ordered chunks; the final verdict per doc must equal
    * the batch statement of the same rule. Ordered feeding matters: the
    * streaming owner is first-ARRIVAL, the batch owner min(ts, doc_id) —
    * identical exactly when arrival respects event order, which is the
    * operator's documented contract (late data would need the watermark
    * variant). */
  private def minhashDedupParity(s: SparkSession, sf: String): (Seq[String], Seq[String]) = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val docs = Tables.documents(s, sf)
      .selectExpr("doc_id", "timestamp_seconds(doc_id) AS ts", "text")
      .as[StreamOps.DocIn].collect().sortBy(d => (d.ts.getTime, d.doc_id))
    val batch = StreamOps.batchMinhashDedup(
      s.createDataset(docs.toIndexedSeq))
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ms = MemoryStream[StreamOps.DocIn]
    val q = StreamOps.streamingMinhashDedup(s, ms.toDS())
      .writeStream.format("memory").queryName("sp_minhash")
      .outputMode("update").start()
    try {
      docs.grouped(math.max(1, docs.length / 8)).foreach { chunk =>
        ms.addData(chunk.toSeq); q.processAllAvailable()
      }
    } finally {
      q.stop()
      s.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
    (canon(s.table("sp_minhash")), canon(batch))
  }

  /** Stateless-projection parity: the corpus docs replayed through the
    * ingest-time quality scorer (append mode, 8 micro-batches) must emit
    * row-for-row what the same projection computes in one batch — grades
    * the stream-side expression evaluation (codegen'd lambda fold over a
    * literal map) against the batch evaluation of the identical plan. */
  private def qualityScoreParity(s: SparkSession, sf: String): (Seq[String], Seq[String]) = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val docs = Tables.documents(s, sf)
      .selectExpr("doc_id", "timestamp_seconds(doc_id) AS ts", "text")
      .as[StreamOps.DocIn].collect().sortBy(d => (d.ts.getTime, d.doc_id))
    val batch = StreamOps.streamingQualityScore(s.createDataset(docs.toIndexedSeq))
    val ms = MemoryStream[StreamOps.DocIn]
    val q = StreamOps.streamingQualityScore(ms.toDS())
      .writeStream.format("memory").queryName("sp_quality")
      .outputMode("append").start()
    try {
      docs.grouped(math.max(1, docs.length / 8)).foreach { chunk =>
        ms.addData(chunk.toSeq); q.processAllAvailable()
      }
    } finally q.stop()
    (canon(s.table("sp_quality")), canon(batch))
  }

  /** Live-loop parity: the corpus events replayed through the COMPOSED
    * ingest→serving pipeline (file source, 8 single-file micro-batches,
    * update-mode aggregate upserted into a parquet serving table by
    * foreachBatch) must leave a serving table row-for-row equal to the
    * batch recompute of the same daily aggregate. This grades the loop's
    * persistence half; LiveLoopSpec drives the same composition live with
    * searches answered between ingest waves. */
  private def servingTableParity(s: SparkSession, sf: String): (Seq[String], Seq[String]) = {
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value")
    val batchEvents = Tables.events(s, sf).select(cols.map(col): _*)
    val base = Files.createTempDirectory("graft_sp_serving").toString
    val (ingestDir, servingDir) = (s"$base/in", s"$base/serve")
    batchEvents.repartition(8).write.mode("overwrite").parquet(ingestDir)
    val q = StreamOps.liveServingLoop(s, ingestDir, servingDir,
        maxFilesPerTrigger = Some(1))
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    val serving = s.read.parquet(servingDir)
    val batch = batchEvents
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    val res = (canon(serving), canon(batch))
    rmTree(base)
    res
  }

  /** Streaming CDC→lake MERGE parity: the deterministic corpus CDC set
    * (q_maintain_merge's derivation, factored as ScanOps.eventsCdc) is
    * split into 8 file chunks and applied micro-batch-by-micro-batch to a
    * bucket-partitioned snapshot via [[StreamOps.cdcMergeLoop]]
    * (foreachBatch → keyedMerge); the table must end row-for-row equal to
    * ONE keyedMerge of the full set on an identical second snapshot —
    * incremental streaming application ≡ the nightly one-shot job it
    * replaces. */
  private def cdcMergeParity(s: SparkSession, sf: String): (Seq[String], Seq[String]) = {
    import graft.operators.ScanOps
    val base = Files.createTempDirectory("graft_sp_cdc").toString
    val (cdcDir, streamTbl, batchTbl) =
      (s"$base/cdc", s"$base/t_stream", s"$base/t_batch")
    val snap = ScanOps.eventsSnapshot(s, sf)
    Seq(streamTbl, batchTbl).foreach(d =>
      snap.write.mode("overwrite").partitionBy("bucket").parquet(d))
    val cdc = ScanOps.eventsCdc(s, sf)
    cdc.repartition(8).write.mode("overwrite").parquet(cdcDir)
    val q = StreamOps.cdcMergeLoop(s, cdcDir, streamTbl,
        ScanOps.mergeTableSchema, maxFilesPerTrigger = Some(1))
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    ScanOps.keyedMerge(s, batchTbl, ScanOps.mergeTableSchema, cdc)
    def table(d: String) = s.read.schema(ScanOps.mergeTableSchema).parquet(d)
    val res = (canon(table(streamTbl)), canon(table(batchTbl)))
    rmTree(base)
    res
  }

  /** Template-novelty parity: the full events corpus (WITH `props` — the
    * template's variable slots live there) replayed through the seen-set
    * processor in 6 (ts, event_id)-ordered chunks; the Append-mode alert
    * set must equal the batch first-occurrence statement row-for-row —
    * including the first_ts/first_event_id payloads, which is what makes
    * ordered feeding load-bearing (the alert names the TRUE first
    * occurrence, not whichever row of the first batch was iterated
    * first). */
  private def noveltyParity(s: SparkSession, sf: String): (Seq[String], Seq[String]) = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val ev = Tables.events(s, sf)
      .select("event_id", "ts", "event_type", "props")
    val batch = StreamOps.batchTemplateFirsts(ev)
    val rows = StreamOps.templateEvents(s, ev)
      .collect().sortBy(r => (r.ts.getTime, r.event_id))
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ms = MemoryStream[StreamOps.TemplateEvent]
    val q = StreamOps.noveltyAlerts(s, ms.toDS())
      .writeStream.format("memory").queryName("sp_novelty")
      .outputMode("append").start()
    try {
      rows.grouped(math.max(1, rows.length / 6)).foreach { chunk =>
        ms.addData(chunk.toSeq); q.processAllAvailable()
      }
    } finally {
      q.stop()
      s.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
    (canon(s.table("sp_novelty")), canon(batch))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outFile = if (args.length > 1) args(1) else "STREAM_PARITY.json"
    val spark = GraftSession.local(GraftSession.envCpus)

    val parities = Seq[(String, DataFrame => DataFrame)](
      ("tumbling", StreamOps.tumblingCounts),
      ("sliding", StreamOps.slidingCounts),
      ("session", StreamOps.sessionCounts),
      ("hdr_buckets", StreamOps.hdrBucketCounts),
      ("ohlc", StreamOps.ohlcCandles),
      ("apdex", StreamOps.apdexWindows),
      ("dau", StreamOps.dauCounts),
      ("hll_users", StreamOps.hllUsers),
      ("decimal_stats", StreamOps.decimalStats))
      .map { case (name, t) =>
        val (st, ba) = replay(spark, sfDir, name, t)
        (name, st.length, ba.length, st == ba)
      }
    val asof = {
      val (st, ba) = asofParity(spark, sfDir)
      if (st != ba) {
        (st.toSet -- ba.toSet).take(5).foreach(r => println(s"[parity] stream-only: $r"))
        (ba.toSet -- st.toSet).take(5).foreach(r => println(s"[parity] batch-only:  $r"))
      }
      ("asof_join", st.length, ba.length, st == ba)
    }
    val minhash = {
      val (st, ba) = minhashDedupParity(spark, sfDir)
      if (st != ba) {
        (st.toSet -- ba.toSet).take(5).foreach(r => println(s"[parity] stream-only: $r"))
        (ba.toSet -- st.toSet).take(5).foreach(r => println(s"[parity] batch-only:  $r"))
      }
      ("minhash_dedup", st.length, ba.length, st == ba)
    }
    val serving = {
      val (st, ba) = servingTableParity(spark, sfDir)
      if (st != ba) {
        (st.toSet -- ba.toSet).take(5).foreach(r => println(s"[parity] serving-only: $r"))
        (ba.toSet -- st.toSet).take(5).foreach(r => println(s"[parity] batch-only:   $r"))
      }
      ("serving_table", st.length, ba.length, st == ba)
    }
    val quality = {
      val (st, ba) = qualityScoreParity(spark, sfDir)
      if (st != ba) {
        (st.toSet -- ba.toSet).take(5).foreach(r => println(s"[parity] stream-only: $r"))
        (ba.toSet -- st.toSet).take(5).foreach(r => println(s"[parity] batch-only:  $r"))
      }
      ("quality_score", st.length, ba.length, st == ba)
    }
    val cdcMerge = {
      val (st, ba) = cdcMergeParity(spark, sfDir)
      if (st != ba) {
        (st.toSet -- ba.toSet).take(5).foreach(r => println(s"[parity] stream-only: $r"))
        (ba.toSet -- st.toSet).take(5).foreach(r => println(s"[parity] batch-only:  $r"))
      }
      ("cdc_merge", st.length, ba.length, st == ba)
    }
    val novelty = {
      val (st, ba) = noveltyParity(spark, sfDir)
      if (st != ba) {
        (st.toSet -- ba.toSet).take(5).foreach(r => println(s"[parity] stream-only: $r"))
        (ba.toSet -- st.toSet).take(5).foreach(r => println(s"[parity] batch-only:  $r"))
      }
      ("template_novelty", st.length, ba.length, st == ba)
    }
    val (ckWant, ckGot) = checkpointRestart(spark)
    val ckOk = ckWant == ckGot

    val named = parities :+ asof :+ minhash :+ serving :+ quality :+ cdcMerge :+ novelty
    val all = named.forall(_._4) && ckOk
    val checksJson = named.map { case (n, sr, br, eq) =>
      s""""$n": {"stream_rows": $sr, "batch_rows": $br, "equal": $eq}"""
    } :+ s""""checkpoint_restart": {"expected": ${ckWant.mkString("[", ",", "]")}, "got": ${ckGot.mkString("[", ",", "]")}, "exactly_once": $ckOk}"""
    val json =
      s"""{"sf": "$sfDir", "micro_batches_per_replay": 8,
         | "checks": {${checksJson.mkString(", ")}},
         | "all_pass": $all}""".stripMargin.replace("\n", "")
    Files.writeString(Paths.get(outFile), json + "\n")
    println(json)
    spark.stop()
    if (!all) sys.exit(1)
  }
}
