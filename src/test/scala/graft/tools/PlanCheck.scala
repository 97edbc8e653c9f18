package graft

/** Plan auditor: prints formatted physical plans for representative queries
  * so pushdown / broadcast / codegen properties can be inspected
  * (`sbt "runMain graft.PlanCheck [names...]"`). Not part of the driver
  * contract — a development tool for the SURVEY §4.2 checklist.
  */
object PlanCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = GraftSession.local(4)
    val names = if (args.nonEmpty) args.toSeq else Seq(
      "q_agg_pricing_summary", "q_join_broadcast", "q_join_theta_range",
      "q_filter_range_time", "q_join_asof", "q_dedup_near", "q_topk")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      println(SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
