package graft.functions

import org.apache.spark.sql.{GraftBridge, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Engine extension point (SURVEY §2 T12 / §4.3): custom Catalyst functions
  * injected via `SparkSessionExtensions`.
  *
  * Cluster path: `--conf spark.sql.extensions=graft.functions.GraftExtensions`,
  * which also brings the `ASOF JOIN` parser and resolution rule
  * (AsofSqlSpec, PropertySpec). Live sessions get the functions, the
  * optimizer rule and the planner strategy from `GraftFunctions.register`,
  * called in exactly three places: [[graft.GraftSession.local]] (every
  * session graft builds), [[graft.SparkEntry.queries]] (each entry, for
  * sessions built elsewhere) and [[graft.plans.AsOf.join]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.descriptors.foreach(ext.injectFunction)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    ext.injectOptimizerRule(_ => graft.plans.LevenshteinBandRule)
    // SQL ASOF JOIN: keyword accepted by the parser, marked join rewritten
    // onto AsOfJoinPlan at resolution (before any predicate pushdown).
    ext.injectResolutionRule(_ => graft.plans.AsofSqlRule)
    ext.injectParser((_, delegate) => new GraftSqlParser(delegate))
  }
}

object GraftFunctions {
  private def builder(children: Seq[Expression]): Expression = {
    require(children.size == 2, s"vec_dot expects 2 arguments, got ${children.size}")
    VecDot(children.head, children(1))
  }

  private def macBuilder(children: Seq[Expression]): Expression = {
    require(children.size == 2, s"mask_and_count expects 2 arguments, got ${children.size}")
    MaskAndCount(children.head, children(1))
  }

  private def ngramsBuilder(children: Seq[Expression]): Expression = {
    require(children.size == 2, s"char_ngrams expects 2 arguments, got ${children.size}")
    CharNgrams(children.head, children(1))
  }

  private def asofTieBuilder(children: Seq[Expression]): Expression = {
    require(children.size == 1, s"asof_tie expects 1 argument, got ${children.size}")
    graft.plans.AsofTie(children.head)
  }

  val vecDotDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    new FunctionIdentifier("vec_dot"),
    new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
    builder _)

  val maskAndCountDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    new FunctionIdentifier("mask_and_count"),
    new ExpressionInfo(classOf[MaskAndCount].getName, "mask_and_count"),
    macBuilder _)

  val charNgramsDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    new FunctionIdentifier("char_ngrams"),
    new ExpressionInfo(classOf[CharNgrams].getName, "char_ngrams"),
    ngramsBuilder _)

  val asofTieDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    new FunctionIdentifier("asof_tie"),
    new ExpressionInfo(classOf[graft.plans.AsofTie].getName, "asof_tie"),
    asofTieBuilder _)

  /** Every function graft installs, by either route. */
  val descriptors: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq(vecDotDescriptor, maskAndCountDescriptor, charNgramsDescriptor, asofTieDescriptor)

  /** The one idempotent install into a live session: the four functions,
    * the Levenshtein band rewrite and the as-of join strategy. A function
    * whose registry entry already holds graft's builder is left alone, so
    * a repeat call re-registers nothing (and logs no "replaced a
    * previously registered function" warning). */
  def register(spark: SparkSession): Unit = {
    GraftBridge.addOptimization(spark, graft.plans.LevenshteinBandRule)
    GraftBridge.addStrategy(spark, graft.plans.AsOfJoinStrategy)
    val registry = spark.sessionState.functionRegistry
    descriptors.foreach { case (id, _, build) =>
      if (!registry.lookupFunctionBuilder(id).contains(build))
        registry.createOrReplaceTempFunction(id.funcName, build, "built-in")
    }
  }
}
