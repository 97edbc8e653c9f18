package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The genre front door: an interactive "searchable database" over the
  * consolidated corpus — the reference's core end-user surface (ad-hoc
  * search over ingested logs), re-expressed as a thin main over the same
  * Catalyst plans the operator registry uses.
  *
  * Two modes:
  *   - raw SQL over the registered corpus views:
  *       runMain graft.Search <sfDir> --sql "SELECT ... FROM events ..."
  *   - keyword + optional time-range search (the `grep`-with-an-index UX):
  *       runMain graft.Search <sfDir> --keyword timeout \
  *         [--table events|documents] [--from 2024-01-03T00:00:00] \
  *         [--to 2024-01-05T00:00:00] [--limit 20]
  *     (--from/--to are events-only; documents has no timestamp column
  *      and the CLI rejects the combination with a usage error)
  *   - live serving table: add `--serving <dir>` to register a
  *     `daily_counts` view over a stream-maintained serving table
  *     (StreamOps.liveServingLoop) for SQL mode — the search half of the
  *     ingest→serve→search loop.
  *
  * Scale notes: keyword mode compiles to a plain filter over the scan —
  * `ts` bounds push down to parquet row-group stats and the contains()
  * runs inside whole-stage codegen; on a date-partitioned 100 TB corpus
  * the same plan partition-prunes before it reads a byte. No driver-side
  * work beyond printing the capped result.
  */
object Search {

  /** Register every corpus table as a temp view so SQL mode (and any
    * downstream REPL) sees one coherent database. Idempotent and cheap
    * to repeat: a view is re-created only when the files it scans are no
    * longer exactly the files at its table path — the files changed
    * (a rewrite moves a length or mtime), `sf` is another directory, or
    * the view was dropped or replaced by one over other files. The check
    * is one local listing per table ([[Tables.fingerprint]] against the
    * listing the view's scan kept), so callers may invoke this on every
    * request and still see the latest files. */
  def registerViews(s: SparkSession, sf: String): Unit = {
    val loaders: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "region" -> Tables.region, "nation" -> Tables.nation,
      "customer" -> Tables.customer, "supplier" -> Tables.supplier,
      "part" -> Tables.part, "orders" -> Tables.orders,
      "lineitem" -> Tables.lineitem, "documents" -> Tables.documents,
      "embeddings" -> Tables.embeddings, "events" -> Tables.events)
    loaders.foreach { case (n, l) =>
      val current = s.catalog.tableExists(n) &&
        Tables.scannedFingerprint(s.table(n)) == Tables.fingerprint(s, sf, n)
      if (!current) l(s, sf).createOrReplaceTempView(n)
    }
  }

  /** Read a parquet directory that a concurrent `StreamOps.upsertBatch`
    * may be mid-swap on: the rename-aside swap leaves the directory
    * briefly absent (and deletes the superseded part files right after),
    * so a read issued in that window can fail with path-not-found /
    * FileNotFoundException even though both copies exist on disk. Retry
    * a few times with a short backoff — the swap is two renames, so any
    * retry lands after it completes. Searches that already hold a view
    * from BEFORE a swap can still hit vanished part files at query time;
    * the contract there is re-issue the search (which re-registers). */
  private def readParquetRetry(s: SparkSession, dir: String): DataFrame = {
    // Walk the cause chain iteratively with a depth bound and an identity
    // set: wrapped/remote exceptions can carry cyclic cause chains, and an
    // unbounded recursive walk inside the catch guard would stack-overflow
    // exactly when we're trying to classify the error. Type match first;
    // the message substrings catch Spark's AnalysisException spellings of
    // the same condition (PATH_NOT_FOUND error class).
    def isMissing(root: Throwable): Boolean = {
      val seen = java.util.Collections.newSetFromMap(
        new java.util.IdentityHashMap[Throwable, java.lang.Boolean]())
      var t = root
      var depth = 0
      while (t != null && depth < 20 && seen.add(t)) {
        if (t.isInstanceOf[java.io.FileNotFoundException] ||
          Option(t.getMessage).exists(m =>
            m.contains("PATH_NOT_FOUND") || m.contains("does not exist")))
          return true
        t = t.getCause
        depth += 1
      }
      false
    }
    var last: Throwable = null
    for (attempt <- 1 to 5) {
      try return s.read.parquet(dir)
      catch {
        case t: Throwable if isMissing(t) => last = t; Thread.sleep(100L * attempt)
      }
    }
    throw last
  }

  /** Register a LIVE serving table (a parquet directory incrementally
    * upserted by `StreamOps.maintainDailyCounts` / `liveServingLoop`) as
    * the `daily_counts` view, so SQL mode can query the stream's
    * consolidated state while the stream is still running. Re-reads the
    * directory per call — each search sees the latest completed swap;
    * a call that races the swap's rename window retries. */
  def registerServing(s: SparkSession, dir: String): Unit =
    readParquetRetry(s, dir).createOrReplaceTempView("daily_counts")

  /** Register the CLEAN CORPUS view over a live document-firehose ingest:
    * `clean_docs` = the ingested docs anti-joined against the streaming
    * dedup registry (StreamOps.cleanCorpusLoop) — what a training run
    * reads. Re-reads both directories per call, so each search sees the
    * latest completed registry swap; calls racing a swap retry. */
  def registerCleanCorpus(s: SparkSession, docsDir: String, registryDir: String): Unit = {
    val docs = readParquetRetry(s, docsDir)
    val dups = readParquetRetry(s, registryDir).filter(col("is_dup")).select("doc_id")
    docs.join(dups, Seq("doc_id"), "left_anti").createOrReplaceTempView("clean_docs")
  }

  /** Keyword search over `events` (matches event_type/props, time-bounded
    * on ts) or `documents` (matches text). Case-insensitive contains.
    * `documents` has no timestamp column, so a from/to bound there is a
    * usage error — rejected loudly rather than silently ignored. */
  def keywordSearch(s: SparkSession, sf: String, keyword: String,
                    table: String = "events",
                    from: Option[String] = None, to: Option[String] = None,
                    limit: Int = 20): DataFrame = {
    val kw = lower(lit(keyword))
    table match {
      case "documents" if from.nonEmpty || to.nonEmpty =>
        sys.error("--from/--to apply only to --table events " +
          "(documents has no timestamp column)")
      case "documents" =>
        Tables.documents(s, sf)
          .filter(lower(col("text")).contains(kw))
          .select(col("doc_id"), col("lang"), col("source"),
            substring(col("text"), 1, 120).as("snippet"))
          .orderBy(col("doc_id"))
          .limit(limit)
      case _ =>
        val base = Tables.events(s, sf)
        val timed = Seq(
          from.map(f => col("ts") >= lit(f).cast("timestamp")),
          to.map(t => col("ts") < lit(t).cast("timestamp"))
        ).flatten.foldLeft(base)(_ filter _)
        timed
          .filter(lower(col("event_type")).contains(kw) ||
            lower(col("props")).contains(kw))
          .orderBy(col("ts"), col("event_id"))
          .limit(limit)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.error("usage: Search <sfDir> --sql <q> | --keyword <kw> [opts]"))
    val opts = args.drop(1).sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val spark = GraftSession.local(GraftSession.envCpus)
    registerViews(spark, sfDir)
    // --serving <dir>: also expose a live serving table (see
    // registerServing) as `daily_counts` for SQL mode
    opts.get("serving").foreach(d => registerServing(spark, d))
    val result = opts.get("sql") match {
      case Some(q) => spark.sql(q)
      case None =>
        val kw = opts.getOrElse("keyword",
          sys.error("need --sql <query> or --keyword <word>"))
        keywordSearch(spark, sfDir, kw,
          table = opts.getOrElse("table", "events"),
          from = opts.get("from"), to = opts.get("to"),
          limit = opts.getOrElse("limit", "20").toInt)
    }
    result.show(opts.getOrElse("limit", "20").toInt, truncate = false)
    spark.stop()
  }
}
