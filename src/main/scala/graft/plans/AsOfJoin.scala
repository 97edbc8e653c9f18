package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSeq, BindReferences, Expression, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}

/** AS-OF JOIN as a first-class operator (SURVEY §2 T3 `q_join_asof`,
  * §7.3.4): for each left row, the single latest right row with the same
  * key and `rightTime <= leftTime` (ties on time broken by the largest
  * `rightTie`). Inner semantics: unmatched left rows are dropped.
  *
  * Why a custom operator: the composable formulations (join-then-rank, or
  * join-then-max_by) materialize every (left, earlier-right) combination
  * before reducing — O(|L| × matches) intermediate rows. This node instead
  * asks Catalyst for co-partitioned children, each sorted by (key, time),
  * and streams a per-partition merge: each side is scanned exactly once,
  * O(1) state per key. That is the shape that survives 100 TB.
  *
  * The full custom-operator stack: [[AsOfJoinPlan]] (logical BinaryNode) →
  * [[AsOfJoinStrategy]] (SparkStrategy) → [[AsOfMergeJoinExec]] (physical
  * BinaryExecNode; distribution/ordering requirements make
  * EnsureRequirements insert the one hash shuffle + in-partition sorts).
  * Keys, times and ties may be ANY orderable atomic type (the merge
  * compares through the type's interpreted ordering over Spark-internal
  * values); left/right key and time types must match exactly. NULL keys
  * or times match nothing — inner drops such rows, left-outer
  * null-extends them — per standard join semantics.
  */
case class AsOfJoinPlan(
    left: LogicalPlan, right: LogicalPlan,
    leftKey: Expression, rightKey: Expression,
    leftTime: Expression, rightTime: Expression,
    rightTie: Expression, isLeftOuter: Boolean) extends BinaryNode {
  override def output: Seq[Attribute] =
    if (isLeftOuter) left.output ++ right.output.map(_.withNullability(true))
    else left.output ++ right.output
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lt, rt, tie, outer) =>
      AsOfMergeJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, tie, outer) :: Nil
    case _ => Nil
  }
}

case class AsOfMergeJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftKey: Expression, rightKey: Expression,
    leftTime: Expression, rightTime: Expression,
    rightTie: Expression, isLeftOuter: Boolean) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    if (isLeftOuter) left.output ++ right.output.map(_.withNullability(true))
    else left.output ++ right.output

  // one hash shuffle per side on the join key (co-partitioned like SMJ)
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) :: ClusteredDistribution(Seq(rightKey)) :: Nil

  // in-partition sort by (key, time[, tie]) — the merge's only precondition
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, org.apache.spark.sql.catalyst.expressions.Ascending),
      SortOrder(leftTime, org.apache.spark.sql.catalyst.expressions.Ascending)),
    Seq(SortOrder(rightKey, org.apache.spark.sql.catalyst.expressions.Ascending),
      SortOrder(rightTime, org.apache.spark.sql.catalyst.expressions.Ascending),
      SortOrder(rightTie, org.apache.spark.sql.catalyst.expressions.Ascending)))

  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  override lazy val metrics = Map(
    "numOutputRows" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of output rows"))

  override protected def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val lOut = left.output
    val rOut = right.output
    val lkB = BindReferences.bindReference(leftKey, AttributeSeq(lOut))
    val ltB = BindReferences.bindReference(leftTime, AttributeSeq(lOut))
    val rkB = BindReferences.bindReference(rightKey, AttributeSeq(rOut))
    val rtB = BindReferences.bindReference(rightTime, AttributeSeq(rOut))
    // interpreted orderings over Spark-internal values (UTF8String, Int
    // days, Long micros, Decimal, ...) — this is what makes the merge
    // generic over any orderable atomic key/time type
    val keyOrd = org.apache.spark.sql.catalyst.util.TypeUtils
      .getInterpretedOrdering(leftKey.dataType)
    val timeOrd = org.apache.spark.sql.catalyst.util.TypeUtils
      .getInterpretedOrdering(leftTime.dataType)
    val schema = output
    val rightArity = right.output.size
    val outer = isLeftOuter
    left.execute().zipPartitions(right.execute()) { (li, ri) =>
      new Iterator[InternalRow] {
        private val joined = new JoinedRow
        private val nullRight = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(rightArity)
        private val proj = UnsafeProjection.create(schema.map(_.dataType).toArray)
        private var cand: InternalRow = null
        private var candKey: Any = null
        private var rHeadKey: Any = null
        private var rHeadTime: Any = null
        private var nextOut: InternalRow = null

        // Null-keyed / null-timed right rows can never match any left row
        // (standard join semantics: NULL compares to nothing), so drop them
        // on the way in rather than letting a null comparison slip into the
        // merge. Caches the evaluated key/time alongside the row — copied,
        // because values evaluated off an UnsafeRow (UTF8String, Decimal)
        // point into a buffer the upstream iterator reuses.
        private def nextRight(): InternalRow = {
          while (ri.hasNext) {
            val r = ri.next()
            val k = rkB.eval(r)
            val t = rtB.eval(r)
            if (k != null && t != null) {
              rHeadKey = InternalRow.copyValue(k)
              rHeadTime = InternalRow.copyValue(t)
              return r
            }
          }
          rHeadKey = null; rHeadTime = null
          null
        }
        private var rHead: InternalRow = nextRight()

        private def advanceLeft(): Unit = {
          nextOut = null
          while (nextOut == null && li.hasNext) {
            val l = li.next()
            val k = lkB.eval(l)
            val t = ltB.eval(l)
            if (k == null || t == null) {
              // NULL key or time matches nothing: null-extend (outer) / drop (inner)
              if (outer) nextOut = proj(joined(l, nullRight))
            } else {
              // consume right rows usable for this (k, t): key < k (skip) or
              // key == k with time <= t (becomes the current candidate —
              // sorted input means later candidates are always "more recent")
              while (rHead != null &&
                (keyOrd.lt(rHeadKey, k) ||
                  (keyOrd.equiv(rHeadKey, k) && timeOrd.lteq(rHeadTime, t)))) {
                if (keyOrd.equiv(rHeadKey, k)) { cand = rHead.copy(); candKey = rHeadKey }
                rHead = nextRight()
              }
              if (cand != null && candKey != null && keyOrd.equiv(candKey, k)) {
                nextOut = proj(joined(l, cand))
              } else if (outer) {
                nextOut = proj(joined(l, nullRight)) // left-outer: null-extend
              } // else: inner semantics, skip unmatched left rows
            }
          }
        }

        override def hasNext: Boolean = {
          if (nextOut == null) advanceLeft()
          nextOut != null
        }
        override def next(): InternalRow = {
          if (nextOut == null) advanceLeft()
          val out = nextOut
          nextOut = null
          numOutputRows += 1
          out
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfMergeJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Public API: `AsOf.join(events, orders, "user_id", "o_custkey", "ts_s",
  * "o_orderdate", "o_orderkey")`. Key/time/tie columns may be any
  * orderable atomic type (string, numeric, date, timestamp, decimal);
  * left and right key types — and time types — must match exactly. */
object AsOf {
  def join(leftDf: DataFrame, rightDf: DataFrame,
           leftKey: String, rightKey: String,
           leftTime: String, rightTime: String,
           rightTie: String, leftOuter: Boolean = false): DataFrame = {
    val spark = leftDf.sparkSession
    graft.functions.GraftFunctions.register(spark)
    val lp = leftDf.queryExecution.analyzed
    val rp = rightDf.queryExecution.analyzed
    def attr(p: LogicalPlan, name: String): Attribute =
      p.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"column $name not found in ${p.output.map(_.name)}"))
    def orderable(a: Attribute): Attribute = {
      require(org.apache.spark.sql.catalyst.expressions.RowOrdering.isOrderable(a.dataType),
        s"as-of join: unorderable type ${a.dataType} for ${a.name}")
      a
    }
    // both timestamp flavors carry micros-since-epoch Longs internally and
    // share one interpreted ordering; with the session pinned to UTC they
    // compare identically, so the mix is allowed
    val tsFamily: Set[org.apache.spark.sql.types.DataType] =
      Set(org.apache.spark.sql.types.TimestampType, org.apache.spark.sql.types.TimestampNTZType)
    def matched(l: Attribute, r: Attribute): Unit =
      require(l.dataType == r.dataType ||
          (tsFamily.contains(l.dataType) && tsFamily.contains(r.dataType)),
        s"as-of join: type mismatch ${l.name}: ${l.dataType} vs ${r.name}: ${r.dataType}")
    val (lk, rk) = (orderable(attr(lp, leftKey)), orderable(attr(rp, rightKey)))
    val (lt, rt) = (orderable(attr(lp, leftTime)), orderable(attr(rp, rightTime)))
    matched(lk, rk)
    matched(lt, rt)
    GraftBridge.ofRows(spark, AsOfJoinPlan(lp, rp, lk, rk, lt, rt,
      orderable(attr(rp, rightTie)), leftOuter))
  }
}
