package graft

import org.apache.spark.sql.SparkSession

/** Scratch: decompose the per-query fixed floor. For each named query,
  * after full warmup, times N reps split into build (DataFrame
  * construction + analysis), plan (optimized + physical plan), and exec
  * (count action). Usage: Profile <sfDir> <reps> <name...>
  * (SPARK_GRAFT_CPUS and SPARK_GRAFT_EXTRA_CONF as for Bench). */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val reps = args(1).toInt; val names = args.drop(2)
    sys.props("graft.cache.tables") = "1"
    val spark = GraftSession.local(GraftSession.envCpus, GraftSession.envExtraConf)
    // stage/task accounting
    val nStages = new java.util.concurrent.atomic.AtomicInteger
    val nTasks = new java.util.concurrent.atomic.AtomicInteger
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        nStages.incrementAndGet(); nTasks.addAndGet(s.stageInfo.numTasks)
      }
    })
    names.foreach { n => SparkEntry.queries(n)(spark, "/root/testdata/sf0.001").count() }
    Seq[(SparkSession, String) => org.apache.spark.sql.DataFrame](
      Tables.region, Tables.nation, Tables.customer, Tables.supplier,
      Tables.part, Tables.orders, Tables.lineitem, Tables.documents,
      Tables.embeddings, Tables.events, Tables.eventsRaw
    ).foreach { t => try { t(spark, sfDir).count() } catch { case _: Throwable => () } }
    names.foreach { n => SparkEntry.queries(n)(spark, sfDir).count() } // warm at target sf

    names.foreach { n =>
      val samples = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(n)(spark, sfDir)
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan
        val t2 = System.nanoTime()
        df.count()
        val t3 = System.nanoTime()
        ((t1 - t0) / 1e6, (t2 - t1) / 1e6, (t3 - t2) / 1e6)
      }
      def med(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
      val (s0, t0c) = (nStages.get, nTasks.get)
      SparkEntry.queries(n)(spark, sfDir).count()
      Thread.sleep(50) // listener drain
      val (stg, tsk) = (nStages.get - s0, nTasks.get - t0c)
      println(f"[profile] $n%-28s build=${med(samples.map(_._1))}%7.1f ms  plan=${med(samples.map(_._2))}%7.1f ms  exec=${med(samples.map(_._3))}%7.1f ms  stages=$stg%2d tasks=$tsk%3d")
    }
    spark.stop()
  }
}
