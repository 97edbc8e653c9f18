package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Repeat requests over an unchanged corpus do no catalog work, and a
  * changed corpus is seen by the next request. The first half counts
  * Spark jobs (no timing): a repeat `sql` request and a repeat table load
  * submit none, because [[Tables]] reads with the footer schema it
  * memoized for those exact files and [[Search.registerViews]] keeps views
  * whose files did not change. The second half rewrites, drops and swaps
  * the files and views under a copy of the corpus and checks that every
  * answer follows. */
class CatalogReuseSpec extends AnyFunSuite with SparkSessionTest {

  private val tables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  private def sqlCount(sf: String, table: String): Long =
    Main.run(spark, sf, Seq("sql", s"SELECT count(*) FROM $table")).head().getLong(0)

  private def canon(df: DataFrame): Seq[String] = {
    val names = df.columns.sorted.toSeq
    df.select(names.map(col): _*).collect()
      .map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted
  }

  /** A writable copy of the sf0.001 corpus. */
  private def corpusCopy(): Path = {
    val dir = Files.createTempDirectory("graft_catalog_reuse")
    tables.foreach { t =>
      Files.copy(Paths.get(s"$sf0001/$t.parquet"), dir.resolve(s"$t.parquet"))
    }
    dir
  }

  /** Replace `dir/<table>.parquet` in place (same path, one file) with `df`. */
  private def rewrite(dir: Path, table: String, df: DataFrame): Unit = {
    val stage = Files.createTempDirectory(dir, "stage").resolve("out").toString
    df.coalesce(1).write.parquet(stage)
    val part = Files.list(Paths.get(stage)).toArray.map(_.asInstanceOf[Path])
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, dir.resolve(s"$table.parquet"), StandardCopyOption.REPLACE_EXISTING)
  }

  test("a repeat sql request submits no jobs while building its DataFrame") {
    val q = Seq("sql", "SELECT event_type, count(*) AS n FROM events GROUP BY event_type")
    Main.run(spark, sf0001, q)
    assert(jobsDuring(Main.run(spark, sf0001, q)) == 0)
  }

  test("a repeat table load submits no jobs") {
    Tables.documents(spark, sf0001)
    assert(jobsDuring(Tables.documents(spark, sf0001)) == 0)
  }

  test("a rewritten events.parquet is seen by the next sql request") {
    val dir = corpusCopy()
    val full = Tables.events(spark, sf0001).count()
    assert(sqlCount(dir.toString, "events") == full)
    rewrite(dir, "events", Tables.events(spark, sf0001).limit(7))
    assert(sqlCount(dir.toString, "events") == 7)
  }

  test("a dropped view is re-registered by the next sql request") {
    val dir = corpusCopy().toString
    val full = sqlCount(dir, "events")
    spark.catalog.dropTempView("events")
    assert(!spark.catalog.tableExists("events"))
    assert(sqlCount(dir, "events") == full)
  }

  test("views follow a switch to another sf") {
    val dir = corpusCopy()
    rewrite(dir, "events", Tables.events(spark, sf0001).limit(7))
    val full = Tables.events(spark, sf0001).count()
    assert(full != 7)
    assert(sqlCount(dir.toString, "events") == 7)
    assert(sqlCount(sf0001, "events") == full)
    assert(sqlCount(dir.toString, "events") == 7)
    // tables whose files are equal in both dirs follow the switch too
    assert(spark.table("lineitem").inputFiles.forall(_.contains(dir.toString)))
  }

  test("a rewritten embeddings.parquet retrains the IVF codebook") {
    val ivf = SparkEntry.queries("q_vec_ann_ivf")
    val dir = corpusCopy()
    ivf(spark, dir.toString).collect() // trains on every embedding
    val half = Tables.embeddings(spark, sf0001).filter(col("vec_id") % 2 === 0)
    rewrite(dir, "embeddings", half)
    // the same rows under a path no codebook was trained for
    val fresh = corpusCopy()
    rewrite(fresh, "embeddings", half)
    assert(canon(ivf(spark, dir.toString)) == canon(ivf(spark, fresh.toString)))
  }

  test("events swapped in place between nanos and micros files is reclassified") {
    val nanos = Paths.get(getClass.getResource("/nanos_events/events.parquet").toURI)
    val micros = Paths.get(s"$sf0001/events.parquet")
    val dir = Files.createTempDirectory("graft_unit_swap")
    val events = dir.resolve("events.parquet")
    val want = canon(Tables.events(spark, sf0001))
    Seq(nanos, micros, nanos).foreach { src =>
      Files.copy(src, events, StandardCopyOption.REPLACE_EXISTING)
      val same = canon(Tables.events(spark, dir.toString)) == want
      assert(same, s"events read wrong after swapping in $src")
    }
  }
}
