package graft

import org.scalatest.funsuite.AnyFunSuite

/** Reliable-checkpoint option for iterative loops (round-12 verdict item
  * 5): `spark.graft.checkpointDir` flips every loopCheckpoint from
  * localCheckpoint (fast; blocks die with an executor) to a reliable
  * `checkpoint()` into the configured dir. The spec drives a full
  * iterative graded query (star-contraction dedup clustering — several
  * loopCheckpoint rounds) both ways and requires identical results plus
  * checkpoint files actually landing. It also pins the two loop drivers,
  * `Ckpt.rounds` and `Ckpt.fixpoint`. */
class CkptSpec extends AnyFunSuite with SparkSessionTest {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions.{col, least, lit}
  import scala.jdk.CollectionConverters._

  private def fileCount(d: java.nio.file.Path): Long =
    java.nio.file.Files.walk(d).iterator().asScala
      .count(java.nio.file.Files.isRegularFile(_))

  private def one(v: Long): DataFrame = spark.range(1).select(lit(v).as("v"))
  private def value(df: DataFrame): Long = df.head().getLong(0)

  /** Messages the `graft.Ckpt` logger emits while `body` runs. */
  private def ckptLog(body: => Unit): Seq[String] = {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val app = new AbstractAppender("ckpt-spec", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = seen.add(e.getMessage.getFormattedMessage)
    }
    val logger = LogManager.getLogger("graft.Ckpt").asInstanceOf[Logger]
    app.start()
    logger.addAppender(app)
    try body finally { logger.removeAppender(app); app.stop() }
    seen.asScala.toSeq
  }

  test("rounds(init, n) returns the n + 1 states, init first") {
    val states = Ckpt.rounds(one(0), 4)((st, k) => st.select((col("v") + k).as("v")))
    assert(states.size === 5)
    assert(states.map(value) === Seq(0L, 1L, 3L, 6L, 10L))
  }

  test("fixpoint stops at its cap on a step that never converges, returns " +
    "the last state and logs one warning") {
    var steps = 0
    var result: DataFrame = null
    val logged = ckptLog {
      result = Ckpt.fixpoint("diverging", one(0), cap = 3) { (st, _) =>
        steps += 1
        st.select((col("v") + 1).as("v"))
      }(value)
    }
    assert(steps === 3)
    assert(value(result) === 3L)
    assert(logged.count(_.startsWith("diverging: round cap (3)")) === 1, logged)
  }

  test("fixpoint stops once the signature repeats, and under the conf its " +
    "lazy states land in the reliable dir") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_fixpoint")
    spark.conf.set(Ckpt.ConfKey, dir.toString)
    try {
      var steps = 0
      val logged = ckptLog {
        val result = Ckpt.fixpoint("converging", one(0), cap = 10) { (st, _) =>
          steps += 1
          st.select(least(col("v") + 1, lit(2L)).as("v"))
        }(value)
        assert(value(result) === 2L)
      }
      assert(steps === 3) // signatures 1, 2, 2
      assert(logged.isEmpty, logged)
      assert(fileCount(dir) > 0, s"fixpoint wrote no reliable checkpoint under $dir")
    } finally {
      spark.conf.unset(Ckpt.ConfKey)
    }
  }

  test("q_dedup_clusters is identical under localCheckpoint and reliable " +
    "checkpoint, and the reliable dir really receives state") {
    def run(): Seq[String] =
      SparkEntry.queries("q_dedup_clusters")(spark, sf0001)
        .collect().map(_.toString).sorted.toSeq

    val local = run()
    val dir = java.nio.file.Files.createTempDirectory("graft_reliable_ckpt")
    spark.conf.set(Ckpt.ConfKey, dir.toString)
    try {
      val reliable = run()
      assert(reliable === local, "results diverged across checkpoint modes")
      // the loop's per-round state was actually written reliably
      assert(fileCount(dir) > 0, s"no checkpoint files landed under $dir")
    } finally {
      spark.conf.unset(Ckpt.ConfKey)
    }
  }

  test("loopCheckpoint without the conf stays a localCheckpoint (no files)") {
    import Ckpt.LoopCheckpoint
    assert(spark.conf.getOption(Ckpt.ConfKey).isEmpty)
    val df = spark.range(10).toDF("v").loopCheckpoint()
    assert(df.count() === 10)
    assert(df.rdd.partitions.nonEmpty) // materialized, lineage truncated
  }

  test("lazy loopCheckpoint (eager=false) goes reliable under the conf, " +
    "and a mid-session dir change is re-installed, not silently ignored") {
    import Ckpt.LoopCheckpoint
    val dirA = java.nio.file.Files.createTempDirectory("graft_ckpt_a")
    val dirB = java.nio.file.Files.createTempDirectory("graft_ckpt_b")
    spark.conf.set(Ckpt.ConfKey, dirA.toString)
    try {
      val lazyDf = spark.range(20).toDF("v").loopCheckpoint(eager = false)
      assert(lazyDf.count() === 20) // first action materializes the checkpoint
      assert(fileCount(dirA) > 0, s"lazy reliable checkpoint wrote nothing under $dirA")
      // round-13 advice: a changed conf must take effect, not first-wins
      spark.conf.set(Ckpt.ConfKey, dirB.toString)
      assert(spark.range(5).toDF("v").loopCheckpoint().count() === 5)
      assert(fileCount(dirB) > 0, s"changed $dirB was ignored (first-wins bug)")
    } finally {
      spark.conf.unset(Ckpt.ConfKey)
    }
  }
}
