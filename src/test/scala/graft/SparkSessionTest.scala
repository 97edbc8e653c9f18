package graft

import org.apache.spark.SpecBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.Suite

/** Shared local session for all suites (one forked JVM → one session).
  * Four cores whatever SPARK_GRAFT_CPUS says: the plan-shape baseline and
  * the job-count specs are pinned at local[4]. */
trait SparkSessionTest { self: Suite =>
  lazy val spark: SparkSession = GraftSession.local(4)

  val sf0001 = "/root/testdata/sf0.001"

  /** Spark jobs submitted while `body` runs. */
  def jobsDuring(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    SpecBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try { body; SpecBus.drain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(l)
    n.get
  }
}
