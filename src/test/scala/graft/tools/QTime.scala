package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SpecBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Steady-state timing for a subset of queries: warm each once at
  * sf0.001, then time N reps at the target SF over true parquet scans (as
  * Verify and the benchmark harness read them). Per rep it prints wall,
  * the build (DataFrame construction + analysis) / plan (physical plan) /
  * exec (count) split, stages and tasks, and the summed task and GC time,
  * so serial stages (task ≈ wall) are visible.
  * Usage: `Test/runMain graft.QTime <sfDir> <reps> <name...>`
  * (`SPARK_GRAFT_CPUS` sets the core count, default 4). */
object QTime {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val reps = args(1).toInt; val names = args.drop(2)
    val spark = GraftSession.local(GraftSession.envCpus)
    val Seq(taskMs, gcMs, nTasks, nStages) = Seq.fill(4)(new AtomicLong)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) { taskMs.addAndGet(m.executorRunTime); gcMs.addAndGet(m.jvmGCTime) }
        nTasks.incrementAndGet()
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = nStages.incrementAndGet()
    })
    names.foreach { n =>
      try SparkEntry.queries(n)(spark, "/root/testdata/sf0.001").count()
      catch { case _: Throwable => () }
    }
    names.foreach { n =>
      val ts = (1 to reps).map { _ =>
        SpecBus.drain(spark.sparkContext)
        val (t1, g1, k1, s1) = (taskMs.get, gcMs.get, nTasks.get, nStages.get)
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(n)(spark, sfDir)
        val tBuild = System.nanoTime()
        df.queryExecution.executedPlan
        val tPlan = System.nanoTime()
        df.count()
        val tExec = System.nanoTime()
        SpecBus.drain(spark.sparkContext)
        def ms(a: Long, b: Long) = (b - a) / 1e6
        f"${(tExec - t0) / 1e9}%.2f(build ${ms(t0, tBuild)}%.0f plan ${ms(tBuild, tPlan)}%.0f " +
          f"exec ${ms(tPlan, tExec)}%.0f ms stages ${nStages.get - s1} tasks ${nTasks.get - k1} " +
          f"task ${(taskMs.get - t1) / 1e3}%.1f gc ${(gcMs.get - g1) / 1e3}%.1f)"
      }
      println(s"QTIME $n ${ts.mkString(" ")}")
    }
    spark.stop()
  }
}
