package graft

import org.apache.spark.sql.SparkSession

import graft.functions.GraftFunctions

/** The one place graft's own entry points get a SparkSession (Main,
  * Verify, Bench, Search, the stream harnesses, the test session and the
  * dev tools), so their conf cannot drift apart. The session is then
  * installed with [[GraftFunctions.register]]; sessions built elsewhere
  * get the same install from [[SparkEntry.queries]] and [[plans.AsOf.join]].
  *
  * The conf is plain `SparkSession.builder` conf, not `.withExtensions`:
  * `Main sql` must parse exactly as an embedding caller's session does.
  * The ASOF JOIN keyword stays on the `spark.sql.extensions` path
  * ([[functions.GraftExtensions]]). */
object GraftSession {

  /** The session conf: `local[cpus]` with one shuffle partition per core,
    * UTC session time, the recursion brake, checkpoint cleaning, no UI. */
  def conf(cpus: Int): Map[String, String] = Map(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    // Runaway-recursion brake sized per deployment: q_recursive_cte
    // emits N×(depth+1) loop rows and the 1M default trips at sf1. Set
    // here, never inside a query builder (PlanShapeSpec's conf sweep).
    "spark.sql.cteRecursionRowLimit" -> "50000000",
    // Reclaim reliable loop-checkpoint files as their RDDs are GC'd
    // (static conf — must be set before the context; see Ckpt scaladoc).
    Ckpt.CleanerKey -> "true",
    "spark.ui.enabled" -> "false")

  /** A session with [[conf]], log level WARN, graft installed. */
  def local(cpus: Int): SparkSession = {
    val s = SparkSession.builder().config(conf(cpus)).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    GraftFunctions.register(s)
    s
  }

  /** `SPARK_GRAFT_CPUS`, default 4. */
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
}
