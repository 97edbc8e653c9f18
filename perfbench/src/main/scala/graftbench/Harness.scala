package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, JsonNodeFactory, ObjectNode}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Ckpt, Main, Search, SparkEntry}
import graft.functions.GraftFunctions
import graft.operators.ScanOps

/** The benchmark's JVM side. It reads one run's generated inputs from a
  * JSON config, drives graft's public functions with them, and writes
  * per-operation timings, collected results and (when traced) per-layer
  * counters to `<work>/out.json`. run.py checks the search and pipeline
  * answers against DuckDB afterwards; the ingest and merge answers of a
  * traced pipeline run are checked here against the counts the generator
  * knows.
  *
  *   java -cp <classpath> graftbench.Harness <config.json>
  */
object Harness {
  private val mapper = new ObjectMapper()
  private val nf = JsonNodeFactory.instance

  /** graft.Main's session: same master, shuffle partitions and conf keys. */
  def session(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.cteRecursionRowLimit", "50000000")
      .config(Ckpt.CleanerKey, "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def now: Long = System.nanoTime()
  private def msSince(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  // ------------------------------------------------------------ results --

  private def fmtTs(i: java.time.Instant): String =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
      .withZone(java.time.ZoneOffset.UTC).format(i)

  /** One value as the Python checker canonicalises DuckDB's: numbers as
    * doubles/longs, timestamps as UTC text with microseconds, structs as
    * lists, non-finite doubles as text. */
  private def canon(v: Any): JsonNode = v match {
    case null => nf.nullNode()
    case d: Double if d.isNaN || d.isInfinite => nf.textNode(d.toString)
    case d: Double => nf.numberNode(d)
    case f: Float => canon(f.toDouble)
    case l: Long => nf.numberNode(l)
    case i: Int => nf.numberNode(i)
    case s: Short => nf.numberNode(s.toInt)
    case b: Byte => nf.numberNode(b.toInt)
    case b: Boolean => nf.booleanNode(b)
    case d: java.math.BigDecimal => nf.numberNode(d.doubleValue)
    case d: scala.math.BigDecimal => nf.numberNode(d.toDouble)
    case s: String => nf.textNode(s)
    case t: java.sql.Timestamp => nf.textNode(fmtTs(t.toInstant))
    case t: java.time.Instant => nf.textNode(fmtTs(t))
    case t: java.time.LocalDateTime => nf.textNode(fmtTs(t.toInstant(java.time.ZoneOffset.UTC)))
    case d: java.sql.Date => nf.textNode(d.toLocalDate.toString)
    case d: java.time.LocalDate => nf.textNode(d.toString)
    case b: Array[Byte] => nf.textNode(b.map("%02x".format(_)).mkString)
    case r: Row => list(r.toSeq)
    case m: scala.collection.Map[_, _] =>
      list(m.toSeq.map { case (k, x) => Seq(k, x) }.sortBy(_.head.toString))
    case s: scala.collection.Seq[_] => list(s.toSeq)
    case other => nf.textNode(other.toString)
  }

  private def list(xs: Seq[Any]): ArrayNode = {
    val a = nf.arrayNode()
    xs.foreach(x => a.add(canon(x)))
    a
  }

  /** Columns sorted by name (as the oracle compare does), then rows. */
  private def resultJson(schema: StructType, rows: Array[Row]): String = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1)
    val o = nf.objectNode()
    val cols = o.putArray("cols")
    order.foreach(c => cols.add(c._1))
    val rs = o.putArray("rows")
    rows.foreach(r => rs.add(list(order.map(c => r.get(c._2)).toSeq)))
    mapper.writeValueAsString(o)
  }

  // --------------------------------------------------------------- run --

  final class Run(val cfg: JsonNode) {
    val work: String = cfg.get("work").asText()
    val seconds: Double = cfg.get("seconds").asDouble()
    val traced: Boolean = cfg.get("trace").asInt() == 1
    val cpus: Int = cfg.get("cpus").asInt()
    val out: ObjectNode = nf.objectNode()
    val ops: ArrayNode = out.putArray("ops")
    val results: ObjectNode = out.putObject("results")
    val metrics: ObjectNode = out.putObject("metrics")
    val samples = new Samples
    var firstOpEpochMs: Long = -1L

    def markFirstOp(): Unit =
      if (firstOpEpochMs < 0) firstOpEpochMs = System.currentTimeMillis()

    def metric(k: String, v: Double): Unit = metrics.put(k, v)

    /** Highest heap in use seen at an operation boundary. */
    var heapPeak = 0L

    /** Record one operation; `result` is its canonical JSON (or null). */
    def op(cls: String, key: String, ms: Double, err: String,
           result: String = null, phase: String = "untraced"): Unit = {
      val rt = Runtime.getRuntime
      heapPeak = math.max(heapPeak, rt.totalMemory - rt.freeMemory)
      val o = ops.addObject()
      o.put("cls", cls).put("key", key).put("ms", ms).put("phase", phase)
      if (err != null) o.put("err", err.take(300))
      if (result != null) {
        val h = Integer.toHexString(result.hashCode) + ":" + result.length
        if (!results.has(h)) results.put(h, result)
        o.put("result", h)
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val cfg = mapper.readTree(Paths.get(args(0)).toFile)
    val run = new Run(cfg)
    var t = now
    var spark = session(run.cpus)
    run.metric("session.build_ms", msSince(t))
    val conf = run.out.putObject("session_conf").put("master", spark.sparkContext.master)
    Seq("spark.sql.shuffle.partitions", "spark.sql.session.timeZone",
      "spark.sql.cteRecursionRowLimit", Ckpt.CleanerKey, "spark.ui.enabled",
      "spark.sql.extensions", "graft.cache.tables").foreach { k =>
      conf.put(k, spark.conf.getOption(k).orElse(sys.props.get(k)).getOrElse("unset"))
    }
    try cfg.get("workload").asText() match {
      case "search"   => search(spark, run)
      case "pipeline" => spark = pipeline(spark, run)
    } finally {
      run.out.put("first_op_epoch_ms", run.firstOpEpochMs)
      jvmMetrics(run)
      Files.writeString(Paths.get(run.work, "out.json"),
        mapper.writeValueAsString(run.out))
      spark.stop()
    }
  }

  private def jvmMetrics(run: Run): Unit = {
    val gc = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum
    run.metric("jvm.driver_gc_ms", gc.toDouble)
    run.metric("jvm.heap_peak_mb", run.heapPeak / 1048576.0)
    val hwm = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    run.metric("peak_rss_mb", hwm)
  }

  private def errText(e: Throwable): String =
    e.getClass.getSimpleName + ": " + Option(e.getMessage).getOrElse("")

  // ------------------------------------------------------------ search --

  private def request(spark: SparkSession, sf: String, r: JsonNode): DataFrame = {
    def opt(k: String) = Option(r.get(k)).map(_.asText())
    r.get("cls").asText() match {
      case "kw" | "kw_range" =>
        Search.keywordSearch(spark, sf, r.get("keyword").asText(),
          from = opt("from"), to = opt("to"))
      case "docs" =>
        Search.keywordSearch(spark, sf, r.get("keyword").asText(), table = "documents")
      case "report" => Main.run(spark, sf, Seq("report", r.get("report").asText()))
      case "sql"    => Main.run(spark, sf, Seq("sql", r.get("sql").asText()))
    }
  }

  private def search(spark: SparkSession, run: Run): Unit = {
    val sf = run.cfg.get("corpus").asText()
    var t = now
    Search.registerViews(spark, sf)
    run.metric("session.register_ms", msSince(t))
    t = now
    run.cfg.get("warm_requests").elements().asScala.foreach { r =>
      request(spark, sf, r).collect()
    }
    run.metric("warmup_ms", msSince(t))

    val reqs = run.cfg.get("requests").elements().asScala.toIndexedSeq
    val counters = new Counters
    if (run.traced) spark.sparkContext.addSparkListener(counters)
    val deadline = now + (run.seconds * 1e9).toLong
    var i = 0
    val minRequests = run.cfg.get("min_requests").asInt()
    while (i < reqs.size && (now < deadline || i < minRequests)) {
      // a traced run traces every second request, so the traced set is
      // fixed by the seed and the untraced requests in between give the
      // tracing overhead under the same host conditions
      val tracing = run.traced && i % 2 == 1 && i < minRequests
      val r = reqs(i)
      val cls = r.get("cls").asText()
      run.markFirstOp()
      val before = if (tracing) counters.snapshot(spark) else null
      val t0 = now
      try {
        val df = request(spark, sf, r)
        val buildMs = msSince(t0)
        val rows =
          if (!tracing) df.collect()
          else {
            val p = Phases.run(df)
            run.samples.add("plan.build_ms", buildMs)
            run.samples.add("plan.analyze_ms", p.analyzeMs)
            run.samples.add("plan.optimize_ms", p.optimizeMs)
            run.samples.add("plan.physical_ms", p.physicalMs)
            run.samples.add("exec_ms", p.execMs)
            run.samples.add("scan.files", p.scanFiles)
            run.samples.add("scan.rows", p.scanRows)
            run.samples.add("scan.result_rows", p.rows.length)
            p.rows
          }
        val ms = msSince(t0)
        run.op(cls, i.toString, ms, null, resultJson(df.schema, rows),
          if (tracing) "traced" else "untraced")
        if (tracing) {
          run.samples.add(s"search.$cls.ms", ms)
          val d = Counters.delta(before, counters.snapshot(spark))
          d.foreach { case (k, v) => run.samples.add(k, v) }
        }
      } catch {
        case e: Throwable => run.op(cls, i.toString, msSince(t0), errText(e))
      }
      i += 1
    }
    if (run.traced) {
      val s = run.samples
      Seq("plan.build_ms", "plan.analyze_ms", "plan.optimize_ms",
        "plan.physical_ms", "exec_ms").foreach(k => run.metric(k, s.median(k)))
      Seq("kw", "kw_range", "docs", "report", "sql").foreach(c =>
        run.metric(s"search.$c.p50_ms", s.median(s"search.$c.ms")))
      // counters are means per traced request
      val n = math.max(1, s.get("exec_ms").size).toDouble
      Counters.names.foreach(k => run.metric(k, s.sum(k) / n))
      run.metric("scan.files", s.sum("scan.files") / n)
      run.metric("scan.rows", s.sum("scan.rows") / n)
      run.metric("scan.bytes", s.sum("spark.input_bytes") / n)
      run.metric("scan.rows_per_result",
        s.sum("scan.rows") / math.max(1.0, s.sum("scan.result_rows")))
    }
  }

  // ------------------------------------------------------------ ingest --

  private val mergeSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("user_id", LongType),
    StructField("value", DoubleType), StructField("bucket", IntegerType)))

  private def dirBytes(dir: String): Map[String, Long] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Map.empty
    else {
      val w = Files.walk(root)
      try w.iterator().asScala.filter(Files.isRegularFile(_))
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .map(p => root.relativize(p).toString -> Files.size(p)).toMap
      finally w.close()
    }
  }

  private def deleteTree(dir: String): Unit = {
    val root = Paths.get(dir)
    if (Files.exists(root)) {
      val w = Files.walk(root)
      try w.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
      finally w.close()
    }
  }

  private def readSyslog(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("graft.sources.SyslogDataSource").load(dir)

  /** Read the raw directory, write it as a parquet lake, verify the row
    * count; returns (write ms, verified rows). */
  private def ingestOnce(spark: SparkSession, raw: String, lake: String): (Double, Long) = {
    val t = now
    readSyslog(spark, raw).write.mode("overwrite").parquet(lake)
    val w = msSince(t)
    (w, spark.read.parquet(lake).count())
  }

  /** Per "fmt|severity" counts of a lake, in the generator's key form. */
  private def fmtCounts(spark: SparkSession, lake: String): Map[String, Long] =
    spark.read.parquet(lake).groupBy("fmt", "severity").count().collect()
      .map(r => s"${r.getString(0)}|${if (r.isNullAt(1)) "" else r.getInt(1)}" -> r.getLong(2))
      .toMap

  private def cdcFrame(spark: SparkSession, batch: JsonNode): DataFrame = {
    val rows = batch.elements().asScala.map { o =>
      Row(o.get(0).asText(), o.get(1).asLong(), o.get(2).asLong(), o.get(3).asDouble())
    }.toSeq
    val sch = StructType(Seq(StructField("op", StringType), StructField("event_id", LongType),
      StructField("user_id", LongType), StructField("value", DoubleType)))
    spark.createDataFrame(rows.asJava, sch)
      .withColumn("bucket", pmod(col("event_id"), lit(16)).cast("int"))
  }

  /** The read-after-write query: per-bucket rows and user_id sums. */
  private def bucketState(spark: SparkSession, dir: String): Map[Int, (Long, Long)] =
    spark.read.schema(mergeSchema).parquet(dir).groupBy("bucket")
      .agg(count(lit(1)), sum(col("user_id"))).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap

  private def expectedState(e: JsonNode): Map[Int, (Long, Long)] =
    e.fields().asScala.map(f => f.getKey.toInt -> (f.getValue.get(0).asLong(), f.getValue.get(1).asLong())).toMap

  private def writeBase(spark: SparkSession, base: String, dir: String): Unit = {
    deleteTree(dir)
    spark.read.parquet(base)
      .select(col("event_id"), col("user_id"), col("value"),
        pmod(col("event_id"), lit(16)).cast("int").as("bucket"))
      .write.partitionBy("bucket").parquet(dir)
  }

  /** The write-side layers, measured once in the traced pipeline run:
    * the raw directory ingested twice (the first call warms the source,
    * the second is measured), then the CDC batches merged one by one,
    * every second one measured. Every lake and every merge is checked
    * against the counts the generator knows. */
  private def ingestLayers(spark: SparkSession, run: Run): Unit = {
    val c = run.cfg
    val raw = c.get("raw_dir").asText()
    val rawBytes = c.get("raw_bytes").asDouble()
    val expected = c.get("raw_expected").fields().asScala
      .map(f => f.getKey -> f.getValue.asLong()).toMap
    val expectedRows = expected.values.sum
    val s = run.samples

    for (k <- 0 until 2) {
      val lake = s"${run.work}/lake_$k"
      val t0 = now
      try {
        val (writeMs, n) = ingestOnce(spark, raw, lake)
        val ms = msSince(t0)
        if (k == 1) {
          val files = dirBytes(lake)
          run.metric("lake.write_ms", writeMs)
          run.metric("lake.files", files.size)
          run.metric("lake.bytes_per_raw_byte", files.values.sum / rawBytes)
        }
        val got = if (n == expectedRows) fmtCounts(spark, lake) else Map.empty[String, Long]
        val e =
          if (n != expectedRows) s"lake has $n rows, generator wrote $expectedRows"
          else if (got != expected) "fmt|severity counts differ: " +
            (got.keySet ++ expected.keySet).toSeq.sorted.filter(x => got.get(x) != expected.get(x))
              .take(4).map(x => s"$x got ${got.get(x)} want ${expected.get(x)}").mkString("; ")
          else null
        run.op("ingest", k.toString, ms, e, phase = "traced")
      } catch {
        case e: Throwable => run.op("ingest", k.toString, msSince(t0), errText(e))
      }
      deleteTree(lake)
    }

    // the parse alone: every column materialised, nothing written
    val tp = now
    val parsed = readSyslog(spark, raw).select(hash(col("*")).as("h"), col("fmt"))
      .agg(count(lit(1)), sum(when(col("fmt") === "raw", 1L).otherwise(0L)), sum(col("h")))
      .collect()(0)
    val parseMs = msSince(tp)
    run.metric("syslog.parse_ms", parseMs)
    run.metric("syslog.parse_mb_per_s", rawBytes / 1048576.0 / (parseMs / 1000))
    run.metric("syslog.records", parsed.getLong(0).toDouble)
    run.metric("syslog.unparsed_ratio", parsed.getLong(1).toDouble / math.max(1L, parsed.getLong(0)))

    val table = s"${run.work}/merge_table"
    writeBase(spark, c.get("base").asText(), table)
    val exp = c.get("batch_expected").elements().asScala.toIndexedSeq
    c.get("batches").elements().asScala.zipWithIndex.foreach { case (batch, i) =>
      val measured = i % 2 == 1
      val frame = cdcFrame(spark, batch)
      val before = if (measured) dirBytes(table) else null
      val t0 = now
      try {
        ScanOps.keyedMerge(spark, table, mergeSchema, frame)
        val tv = now
        val state = bucketState(spark, table)
        val verifyMs = msSince(tv)
        val ms = msSince(t0)
        val want = expectedState(exp(i))
        val e = if (state == want) null
          else s"bucket state differs after batch $i: " +
            (want.keySet ++ state.keySet).toSeq.sorted
              .filter(b => state.get(b) != want.get(b)).take(3)
              .map(b => s"bucket $b got ${state.get(b)} want ${want.get(b)}").mkString("; ")
        run.op("merge", i.toString, ms, e, phase = "traced")
        if (measured) {
          val after = dirBytes(table)
          val rewritten = after.filter { case (f, _) => !before.contains(f) }
          val buckets = rewritten.keys.map(_.takeWhile(_ != '/')).toSet
          val rows = buckets.toSeq.flatMap(b => state.get(b.stripPrefix("bucket=").toInt))
            .map(_._1).sum
          s.add("merge.buckets", buckets.size)
          s.add("merge.rewrite_bytes", rewritten.values.sum.toDouble)
          s.add("merge.rewrite_bytes_per_row", rewritten.values.sum.toDouble / math.max(1, rows))
          s.add("merge.verify_ms", verifyMs)
        }
      } catch {
        case e: Throwable => run.op("merge", i.toString, msSince(t0), errText(e))
      }
    }
    Seq("merge.buckets", "merge.rewrite_bytes", "merge.rewrite_bytes_per_row",
      "merge.verify_ms").foreach(k => run.metric(k, s.median(k)))
  }

  // ---------------------------------------------------------- pipeline --

  private val families: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
    "TextOps" -> graft.operators.TextOps.queries,
    "VectorOps" -> graft.operators.VectorOps.queries,
    "AggOps" -> graft.operators.AggOps.queries,
    "EvalOps" -> graft.operators.EvalOps.queries,
    "TpchOps" -> graft.operators.TpchOps.queries)

  private def familyOf(path: String): String =
    families.find(_._2.contains(path)).map(_._1).getOrElse("other")

  /** One pass over the path list; returns its wall time in ms. A pass with
    * counters is traced; a "reference" pass only serves the overhead. */
  private def pass(spark: SparkSession, run: Run, sf: String, paths: Seq[String],
                   passNo: Int, counters: Counters = null,
                   phase: String = "untraced"): Double = {
    val tracing = counters != null
    val start = now
    paths.foreach { p =>
      val before = if (tracing) counters.snapshot(spark) else null
      run.markFirstOp()
      val t0 = now
      try {
        val df = SparkEntry.queries(p)(spark, sf)
        val rows = df.collect()
        val ms = msSince(t0)
        run.op(p, s"$passNo", ms, null, resultJson(df.schema, rows),
          if (tracing) "traced" else phase)
        if (phase == "untraced" && !tracing) run.samples.add(s"path.$p.ms", ms)
        if (tracing) {
          val d = Counters.delta(before, counters.snapshot(spark))
          run.metric(s"q.$p.ms", ms)
          run.metric(s"q.$p.jobs", d("spark.jobs"))
          run.samples.add(s"ops.${familyOf(p)}.ms", ms)
        }
      } catch {
        case e: Throwable => run.op(p, s"$passNo", msSince(t0), errText(e))
      }
    }
    msSince(start)
  }

  /** Rows per second of one SQL aggregate over a cached input. */
  private def kernelRate(spark: SparkSession, input: DataFrame, expr: String): (Double, Any) = {
    val n = input.count().toDouble
    input.selectExpr(s"sum($expr)").collect() // compile and warm
    val t = now
    val v = input.selectExpr(s"sum($expr)").collect()(0).get(0)
    (n / (msSince(t) / 1000), v)
  }

  private def kernels(spark: SparkSession, run: Run, sf: String): Unit = {
    GraftFunctions.register(spark)
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val vecs = emb.as("a").crossJoin(emb.limit(256).as("b"))
      .select(col("a.embedding").as("x"), col("b.embedding").as("y"))
      .repartition(run.cpus).cache()
    val masks = spark.range(0, 400000, 1, run.cpus)
      .select(
        expr("transform(sequence(0, 15), i -> xxhash64(id, i))").as("x"),
        expr("transform(sequence(0, 15), i -> xxhash64(id * 7, i))").as("y"))
      .cache()
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .crossJoin(spark.range(4).toDF("copy"))
      .select(lower(col("text")).as("t")).repartition(run.cpus).cache()
    val cases = Seq(
      ("vec_dot", vecs, "vec_dot(x, y)",
        "aggregate(zip_with(x, y, (p, q) -> CAST(p AS DOUBLE) * CAST(q AS DOUBLE)), 0D, (acc, v) -> acc + v)"),
      ("mask_and_count", masks, "mask_and_count(x, y)",
        "aggregate(zip_with(x, y, (p, q) -> bit_count(p & q)), 0L, (acc, v) -> acc + v)"),
      ("char_ngrams", docs, "size(char_ngrams(t, 3))",
        "size(transform(sequence(1, length(t) - 2), i -> substring(t, i, 3)))"))
    cases.foreach { case (name, input, kernel, hof) =>
      val (kr, kv) = kernelRate(spark, input, kernel)
      val (hr, hv) = kernelRate(spark, input, hof)
      run.metric(s"kernel.$name.rows_per_s", kr)
      run.metric(s"kernel.${name}_hof.rows_per_s", hr)
      if (kv != hv) run.op("kernel", name, 0.0, s"$name = $kv but its lambda twin = $hv")
    }
    Seq(vecs, masks, docs).foreach(_.unpersist())
  }

  private def pipeline(first: SparkSession, run: Run): SparkSession = {
    var spark = first
    val c = run.cfg
    val sf = c.get("corpus").asText()
    val paths = c.get("paths").elements().asScala.map(_.asText()).toSeq
    Files.writeString(Paths.get(run.work, "oracle_sql.json"), mapper.writeValueAsString(
      paths.foldLeft(nf.objectNode()) { (o, p) =>
        SparkEntry.oracleSql.get(p).foreach(q => o.put(p, q)); o
      }))
    var t = now
    Search.registerViews(spark, sf)
    run.metric("session.register_ms", msSince(t))
    t = now
    val warm = c.get("warm_corpus").asText()
    paths.foreach(p => SparkEntry.queries(p)(spark, warm).collect())
    run.metric("warmup_ms", msSince(t))

    // every pass runs in a fresh session, so memo builds are paid inside it;
    // a traced run adds one traced pass after the untraced ones
    val deadline = now + (run.seconds * 1e9).toLong
    var passNo = 0
    def fresh(): Unit = if (passNo > 0) {
      spark.stop()
      spark = session(run.cpus)
      Search.registerViews(spark, sf)
    }
    // every run makes min_passes passes; another pass starts only if the
    // last one would still end in time, so the pass count does not hinge
    // on the host's noise
    val minPasses = c.get("min_passes").asInt()
    var last = 0.0
    while (passNo < minPasses || now + last * 1e6 < deadline) {
      fresh()
      last = pass(spark, run, sf, paths, passNo)
      run.samples.add("pass.ms", last)
      passNo += 1
    }
    if (run.traced) {
      fresh()
      val counters = new Counters
      spark.sparkContext.addSparkListener(counters)
      val ms = pass(spark, run, sf, paths, passNo, counters)
      val tot = counters.snapshot(spark)
      Counters.names.foreach(k => run.metric(k, tot.getOrElse(k, 0.0)))
      families.map(_._1).foreach(f => run.metric(s"ops.$f.ms", run.samples.sum(s"ops.$f.ms")))
      // a memo path's call in the first pass pays the build (the IVF
      // codebook memo outlives its session, so later passes may not); a
      // repeat call reads the memo
      c.get("memo_paths").elements().asScala.map(_.asText()).foreach { p =>
        val t0 = now
        SparkEntry.queries(p)(spark, sf).collect()
        run.metric(s"memo.$p.first_pay_ms", run.samples.get(s"path.$p.ms").head - msSince(t0))
      }
      kernels(spark, run, sf)
      // the traced pass ran in a warmer JVM than the first untraced one,
      // so the overhead is taken against one more untraced pass
      fresh()
      val after = pass(spark, run, sf, paths, passNo + 1, phase = "reference")
      run.metric("trace.pass_ms", ms)
      run.metric("untraced.pass_ms", after)
      // the syslog source, lake write and keyed merge layers are measured
      // here, since no workload writes
      ingestLayers(spark, run)
    }
    spark
  }
}
