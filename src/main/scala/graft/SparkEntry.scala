package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.functions.GraftFunctions
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §0.1/§2.
  *
  * `queries` holds one named deterministic query per implemented operator;
  * `oracleSql` the DuckDB-runnable ANSI twin (omitted only for approximate /
  * non-SQL-expressible operators, which get a rows-only check). Both maps are
  * aggregated from the per-family objects under [[graft.operators]].
  */
object SparkEntry {

  /** Flagship query (TPC-H Q1 analog) on sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_agg_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** Every entry first installs graft into the caller's session
    * ([[GraftFunctions.register]], idempotent), so a session built
    * anywhere — not only by [[GraftSession]] — resolves graft's functions
    * and plans with its rule and strategy whichever query runs first. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    (ScanOps.queries ++ FilterOps.queries ++ JoinOps.queries ++ AggOps.queries ++
      WindowOps.queries ++ SortOps.queries ++ SetOps.queries ++ FnOps.queries ++
      TextOps.queries ++ VectorOps.queries ++ UdfOps.queries ++
      ReshapeOps.queries ++ PipelineOps.queries ++ QualityOps.queries ++
      CanaryOps.queries ++ EvalOps.queries ++ TpchOps.queries ++
      graft.multimodal.Multimodal.queries ++ graft.multimodal.MediaCodecs.queries)
      .map { case (name, fn) =>
        name -> ((s: SparkSession, sf: String) => { GraftFunctions.register(s); fn(s, sf) })
      }

  def oracleSql: Map[String, String] =
    ScanOps.oracle ++ FilterOps.oracle ++ JoinOps.oracle ++ AggOps.oracle ++
      WindowOps.oracle ++ SortOps.oracle ++ SetOps.oracle ++ FnOps.oracle ++
      TextOps.oracle ++ VectorOps.oracle ++ UdfOps.oracle ++
      ReshapeOps.oracle ++ PipelineOps.oracle ++ QualityOps.oracle ++
      CanaryOps.oracle ++ EvalOps.oracle ++ TpchOps.oracle ++
      graft.multimodal.Multimodal.oracle ++ graft.multimodal.MediaCodecs.oracle
}
