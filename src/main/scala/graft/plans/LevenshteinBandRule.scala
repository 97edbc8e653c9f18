package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType

/** Optimizer rule (SURVEY §4.3.3): rewrite `levenshtein(a, b) <= k` into
  *
  *   abs(length(a) - length(b)) <= k AND levenshtein(a, b, k) >= 0
  *
  * Two wins, both semantics-preserving:
  *  - the length band is a cheap necessary condition (edit distance is at
  *    least the length difference), filtering rows before any DP matrix;
  *  - Spark's three-argument levenshtein early-exits once the running
  *    distance exceeds k (returning -1), turning O(|a|·|b|) worst cases
  *    into O(k·min) — the difference between feasible and not on a fuzzy
  *    self-join at 100 TB.
  *
  * Idempotent by construction: the rewrite only matches the two-argument
  * (threshold-less) form, which it eliminates — safe in a fix-point batch.
  * Installed via GraftExtensions (injectOptimizerRule) or, on a live
  * session, by `GraftFunctions.register`.
  */
object LevenshteinBandRule extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case cmp @ LessThanOrEqual(Levenshtein(a, b, None), k @ Literal(_, IntegerType)) =>
      And(
        LessThanOrEqual(Abs(Subtract(Length(a), Length(b))), k),
        GreaterThanOrEqual(Levenshtein(a, b, Some(k)), Literal(0, IntegerType)))
  }
}
