package graft

/** Scratch: steady-state timing for a subset of queries (warm twice at
  * sf0.001 like Bench, then time N reps at the target SF).
  *
  * Env knobs for A/B experiments (r14 opt round):
  *   SPARK_GRAFT_CPUS       master/core count (default 4, like Bench)
  *   SPARK_GRAFT_EXTRA_CONF semicolon-separated k=v session confs
  *   SPARK_GRAFT_CACHE_TABLES=1 to match Bench's shared-scan setup
  * Prints per-rep wall plus the summed task/GC time attribution the
  * Bench probe uses, so serial stages (task≈wall) are visible.
  */
object QTime {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val reps = args(1).toInt; val names = args.drop(2)
    val spark = GraftSession.local(GraftSession.envCpus, GraftSession.envExtraConf)
    val taskMs = new java.util.concurrent.atomic.AtomicLong
    val gcMs = new java.util.concurrent.atomic.AtomicLong
    val nTasks = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) { taskMs.addAndGet(m.executorRunTime); gcMs.addAndGet(m.jvmGCTime) }
        nTasks.incrementAndGet()
      }
    })
    names.foreach { n =>
      try SparkEntry.queries(n)(spark, "/root/testdata/sf0.001").count()
      catch { case _: Throwable => () }
    }
    names.foreach { n =>
      val ts = (1 to reps).map { _ =>
        val (t1, g1, k1) = (taskMs.get, gcMs.get, nTasks.get)
        val t0 = System.nanoTime()
        SparkEntry.queries(n)(spark, sfDir).count()
        val sec = (System.nanoTime() - t0) / 1e9
        f"$sec%.2f(task ${(taskMs.get - t1) / 1e3}%.1f gc ${(gcMs.get - g1) / 1e3}%.1f tasks ${nTasks.get - k1})"
      }
      println(s"QTIME $n ${ts.mkString(" ")}")
    }
    spark.stop()
  }
}
