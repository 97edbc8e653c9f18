package graft.streaming

import graft.{GraftSession, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.{Files, Paths}
import java.util.Locale

/** Streaming THROUGHPUT gate: STREAM_PARITY.json proves the streaming
  * operators correct; this main makes their performance a per-round
  * artifact. Each parity topology replays the sf events corpus through
  * the file source (8 single-file micro-batches under AvailableNow —
  * the same replay shape as StreamParity, so the two artifacts describe
  * the same execution), and the numbers come from Spark's own
  * StreamingQueryProgress: input rows, per-micro-batch trigger latency
  * (p50/max), end-to-end rows/s, and — for the stateful topologies —
  * state-store rows and bytes, the figure that decides whether a
  * deployment's state fits its executors.
  *
  * Output: one STREAM_PERF.json with a per-check block + corpus meta.
  * Reading a regression: rows_per_s is the headline;
  * state_rows is the leak canary (it must track |keys|, not |events| —
  * e.g. dau's dedup state is bounded by user-days, and a regression
  * that loses the watermark would show here as unbounded growth at
  * bigger SFs).
  *
  * Usage: `runMain graft.streaming.StreamPerf <sfDir> [outFile]`.
  */
object StreamPerf {

  private def rmTree(dir: String): Unit = {
    val root = Paths.get(dir)
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.deleteIfExists(p))
      finally walk.close()
    }
  }

  private case class Perf(name: String, rows: Long, batches: Int,
                          wallSec: Double, rowsPerSec: Double,
                          batchMsP50: Long, batchMsMax: Long,
                          stateRows: Long, stateBytes: Long, outRows: Long)

  /** Replay `transform` over the corpus via the file source and harvest
    * progress metrics. Mirrors StreamParity.replay so the perf numbers
    * describe the exact execution the parity gate proves correct. */
  private def measure(s: SparkSession, sf: String, name: String,
                      transform: DataFrame => DataFrame): Perf = {
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value")
    val batchEvents = Tables.events(s, sf).select(cols.map(col): _*)
    val dir = Files.createTempDirectory(s"graft_perf_$name").toString
    batchEvents.repartition(8).write.mode("overwrite").parquet(dir)
    val t0 = System.nanoTime()
    val q = transform(StreamOps.ingest(s, dir, maxFilesPerTrigger = Some(1)))
      .writeStream.format("memory").queryName(s"perf_$name")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    val wall = (System.nanoTime() - t0) / 1e9
    val progress = q.recentProgress.filter(_.numInputRows > 0)
    val rows = progress.map(_.numInputRows).sum
    val lat = progress.map(_.durationMs.get("triggerExecution").toLong).sorted
    val state = progress.lastOption.toSeq
      .flatMap(_.stateOperators.toSeq)
    val outRows = s.table(s"perf_$name").count()
    rmTree(dir)
    Perf(name, rows, progress.length, wall,
      if (wall > 0) rows / wall else 0.0,
      if (lat.nonEmpty) lat(lat.length / 2) else 0L,
      if (lat.nonEmpty) lat.last else 0L,
      state.map(_.numRowsTotal).sum, state.map(_.memoryUsedBytes).sum,
      outRows)
  }

  /** CDC→lake merge throughput: the cdc_merge parity topology's setup
    * (bucket-partitioned snapshot + 8-chunk CDC file stream through
    * foreachBatch keyedMerge), measured. No state store (the state IS
    * the lake table); out_rows = final table row count. The headline is
    * change-rows/s — what a deployment sizes its merge cadence by. */
  private def measureCdc(s: SparkSession, sf: String): Perf = {
    import graft.operators.ScanOps
    val base = Files.createTempDirectory("graft_perf_cdc").toString
    val (cdcDir, tbl) = (s"$base/cdc", s"$base/t")
    ScanOps.eventsSnapshot(s, sf)
      .write.mode("overwrite").partitionBy("bucket").parquet(tbl)
    ScanOps.eventsCdc(s, sf)
      .repartition(8).write.mode("overwrite").parquet(cdcDir)
    val t0 = System.nanoTime()
    val q = StreamOps.cdcMergeLoop(s, cdcDir, tbl, ScanOps.mergeTableSchema,
        maxFilesPerTrigger = Some(1))
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    val wall = (System.nanoTime() - t0) / 1e9
    val progress = q.recentProgress.filter(_.numInputRows > 0)
    val rows = progress.map(_.numInputRows).sum
    val lat = progress.map(_.durationMs.get("triggerExecution").toLong).sorted
    val outRows = s.read.schema(ScanOps.mergeTableSchema).parquet(tbl).count()
    rmTree(base)
    Perf("cdc_merge", rows, progress.length, wall,
      if (wall > 0) rows / wall else 0.0,
      if (lat.nonEmpty) lat(lat.length / 2) else 0L,
      if (lat.nonEmpty) lat.last else 0L,
      0L, 0L, outRows)
  }

  /** Template-novelty alerting throughput: events (WITH `props` — the
    * template's variable slots) through the Drain-style template
    * projection + seen-set transformWithState processor, Append sink.
    * The headline pair is rows/s (regex+state path cost per event) and
    * state_rows (= distinct templates — the bounded seen-set size the
    * TTL story is about). */
  private def measureNovelty(s: SparkSession, sf: String): Perf = {
    import org.apache.spark.sql.types._
    val batchEvents = Tables.events(s, sf)
      .select(col("event_id"), col("ts"), col("event_type"), col("props"))
    val dir = Files.createTempDirectory("graft_perf_novelty").toString
    batchEvents.repartition(8).write.mode("overwrite").parquet(dir)
    val sch = StructType(Seq(StructField("event_id", LongType),
      StructField("ts", TimestampType), StructField("event_type", StringType),
      StructField("props", StringType)))
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val t0 = System.nanoTime()
    val q = StreamOps.noveltyAlerts(s,
        StreamOps.templateEvents(s, s.readStream.schema(sch)
          .option("maxFilesPerTrigger", 1).parquet(dir)))
      .writeStream.format("memory").queryName("perf_novelty")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally {
      q.stop()
      s.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val progress = q.recentProgress.filter(_.numInputRows > 0)
    val rows = progress.map(_.numInputRows).sum
    val lat = progress.map(_.durationMs.get("triggerExecution").toLong).sorted
    val state = progress.lastOption.toSeq.flatMap(_.stateOperators.toSeq)
    val outRows = s.table("perf_novelty").count()
    rmTree(dir)
    Perf("template_novelty", rows, progress.length, wall,
      if (wall > 0) rows / wall else 0.0,
      if (lat.nonEmpty) lat(lat.length / 2) else 0L,
      if (lat.nonEmpty) lat.last else 0L,
      state.map(_.numRowsTotal).sum, state.map(_.memoryUsedBytes).sum,
      outRows)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outFile = if (args.length > 1) args(1) else "STREAM_PERF.json"
    val cpus = GraftSession.envCpus
    val spark = GraftSession.local(cpus)

    val checks = Seq[(String, DataFrame => DataFrame)](
      ("tumbling", StreamOps.tumblingCounts),
      ("sliding", StreamOps.slidingCounts),
      ("session", StreamOps.sessionCounts),
      ("hdr_buckets", StreamOps.hdrBucketCounts),
      ("ohlc", StreamOps.ohlcCandles),
      ("apdex", StreamOps.apdexWindows),
      ("dau", StreamOps.dauCounts),
      ("hll_users", StreamOps.hllUsers),
      ("decimal_stats", StreamOps.decimalStats))
      .map { case (name, t) => measure(spark, sfDir, name, t) } :+
      measureCdc(spark, sfDir) :+ measureNovelty(spark, sfDir)

    def f(d: Double) = String.format(Locale.ROOT, "%.1f", Double.box(d))
    val blocks = checks.map { p =>
      s""""${p.name}": {"rows": ${p.rows}, "batches": ${p.batches}, """ +
        s""""wall_s": ${f(p.wallSec)}, "rows_per_s": ${f(p.rowsPerSec)}, """ +
        s""""batch_ms_p50": ${p.batchMsP50}, "batch_ms_max": ${p.batchMsMax}, """ +
        s""""state_rows": ${p.stateRows}, "state_bytes": ${p.stateBytes}, """ +
        s""""out_rows": ${p.outRows}}"""
    }
    val total = checks.map(_.rows).sum
    val wall = checks.map(_.wallSec).sum
    val json =
      s"""{"sf": "$sfDir", "cpus": $cpus, "micro_batches_per_replay": 8,
         | "total_rows": $total, "total_wall_s": ${f(wall)},
         | "agg_rows_per_s": ${f(if (wall > 0) total / wall else 0.0)},
         | "checks": {${blocks.mkString(", ")}}}""".stripMargin.replace("\n", "")
    Files.writeString(Paths.get(outFile), json + "\n")
    println(json)
    spark.stop()
  }
}
