package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.storage.RDDBlockId

/** Spark-side counters for the traced run, read from outside the library:
  * scheduler and task-metric events through a public [[SparkListener]],
  * and scan-node SQL metrics from the executed plan. */
final class Counters extends SparkListener {
  private val c = new ConcurrentHashMap[String, java.lang.Double]()
  private val stageSubmit = new ConcurrentHashMap[Int, java.lang.Long]()

  private def add(k: String, v: Double): Unit = c.merge(k, v, (a, b) => a + b)

  override def onJobStart(e: SparkListenerJobStart): Unit = add("spark.jobs", 1)
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    add("spark.stages", 1)
    e.stageInfo.submissionTime.foreach(t => stageSubmit.put(e.stageInfo.stageId, t))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("spark.tasks", 1)
    Option(stageSubmit.get(e.stageId)).foreach(s =>
      add("spark.task_wait_ms", math.max(0L, e.taskInfo.launchTime - s)))
    val m = e.taskMetrics
    if (m != null) {
      add("spark.task_run_ms", m.executorRunTime)
      add("spark.task_cpu_ms", m.executorCpuTime / 1e6)
      add("spark.gc_ms", m.jvmGCTime)
      add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("spark.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      add("spark.input_bytes", m.inputMetrics.bytesRead)
    }
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    // RDD blocks are what loop checkpoints (and persisted RDDs) store;
    // a removal is reported with an invalid level and zero sizes
    if (b.blockId.isInstanceOf[RDDBlockId] && b.storageLevel.isValid) {
      add("ckpt.blocks", 1)
      add("ckpt.block_bytes", b.memSize + b.diskSize)
    }
  }

  def snapshot(spark: SparkSession): Map[String, Double] = {
    BenchBus.drain(spark.sparkContext)
    c.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
  }
}

object Counters {
  val names: Seq[String] = Seq("spark.jobs", "spark.stages", "spark.tasks",
    "spark.task_wait_ms", "spark.task_run_ms", "spark.task_cpu_ms", "spark.gc_ms",
    "spark.shuffle_write_bytes", "spark.shuffle_read_bytes", "spark.spill_bytes",
    "spark.input_bytes", "ckpt.blocks", "ckpt.block_bytes")

  def delta(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    names.map(n => n -> (b.getOrElse(n, 0.0) - a.getOrElse(n, 0.0))).toMap
}

/** Forces a query's phases one at a time and reads its scan metrics. */
object Phases extends AdaptiveSparkPlanHelper {
  final case class Split(analyzeMs: Double, optimizeMs: Double,
                         physicalMs: Double, execMs: Double, rows: Array[Row],
                         scanFiles: Double, scanRows: Double)

  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  def run(df: DataFrame): Split = {
    val qe = df.queryExecution
    var t = System.nanoTime(); qe.analyzed; val a = ms(t)
    t = System.nanoTime(); qe.optimizedPlan; val o = ms(t)
    t = System.nanoTime(); qe.executedPlan; val p = ms(t)
    t = System.nanoTime(); val rows = df.collect(); val e = ms(t)
    val (files, scanned) = scans(qe.executedPlan)
    Split(a, o, p, e, rows, files, scanned)
  }

  /** (files, rows) summed over the file-source scan nodes of a finished
    * plan, adaptive stages included. */
  def scans(plan: SparkPlan): (Double, Double) = {
    val nodes = collectWithSubqueries(plan) { case s: FileSourceScanExec => s }
    def metric(s: SparkPlan, k: String): Double =
      s.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
    (nodes.map(metric(_, "numFiles")).sum, nodes.map(metric(_, "numOutputRows")).sum)
  }
}

/** Collects named samples and reduces them to medians and sums. */
final class Samples {
  private val m = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  def add(k: String, v: Double): Unit = m.getOrElseUpdate(k, mutable.ArrayBuffer()) += v
  def get(k: String): Seq[Double] = m.getOrElse(k, Nil).toSeq
  def median(k: String): Double = Samples.quantile(get(k), 0.5)
  def sum(k: String): Double = get(k).sum
}

object Samples {
  /** Linear-interpolated quantile; 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
