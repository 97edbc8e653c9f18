package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.Suite

/** Shared local session for all suites (one forked JVM → one session).
  * Four cores whatever SPARK_GRAFT_CPUS says: the plan-shape baseline and
  * the job-count specs are pinned at local[4]. */
trait SparkSessionTest { self: Suite =>
  lazy val spark: SparkSession = GraftSession.local(4)

  val sf0001 = "/root/testdata/sf0.001"
}
