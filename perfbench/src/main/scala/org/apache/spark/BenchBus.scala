package org.apache.spark

/** Waits until every event posted so far has reached the benchmark's
  * listener, so per-operation counters are read after the operation's
  * jobs, stages and tasks have all been delivered. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
