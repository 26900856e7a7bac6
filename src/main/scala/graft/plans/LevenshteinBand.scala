package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType

/** Optimizer rule: rewrite threshold comparisons over the unbounded
  * `levenshtein(l, r)` into the banded threshold form the comparison
  * implies.
  *
  *   levenshtein(l, r) <= d   ≡   levenshtein(l, r, d) >= 0     (d >= 0)
  *
  * The unbounded form fills the full O(|l|·|r|) DP matrix; the threshold
  * form walks a (2d+1)-wide diagonal band and bails out early (returning
  * -1, which the rewritten `>= 0` maps back to "over the threshold"), so
  * a `WHERE levenshtein(a, b) <= 4` predicate — the natural way users
  * write fuzzy matching in SQL — costs O(d·n) per pair instead of
  * O(m·n). That predicate typically sits inside a blocked self-join
  * evaluating millions of candidate pairs (see
  * [[graft.ops.Linkage.fuzzyPairsByBrand]]), where the band is the
  * difference between the DP dominating the join and not.
  *
  * Null semantics are unchanged: both forms are null when an input is
  * null, and `null >= 0` stays null like the original comparison.
  * Negative / degenerate thresholds are left untouched (the rewrite
  * only fires when the implied band is a valid non-negative bound).
  *
  * Injected from the `graft.GraftExtensions` catalog
  * (`injectOptimizerRule`) on the session-extension path only —
  * `GraftExtensions.install` leaves it out, so runtime sessions keep
  * their plans. The (e) rung of the extension ladder: Expression
  * (VecDot), window function (Ewma), typed UDAF (ExactMoments), whole
  * operator (TopKPerKey), DSv2 source (Ticker) — and now a logical
  * rewrite.
  */
object LevenshteinBandRule extends Rule[LogicalPlan] {

  private def banded(lev: Levenshtein, d: Int): Expression =
    GreaterThanOrEqual(
      Levenshtein(lev.left, lev.right, Some(Literal(d))), Literal(0))

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case LessThanOrEqual(lev @ Levenshtein(_, _, None), Literal(d: Int, IntegerType))
          if d >= 0 => banded(lev, d)
      case LessThan(lev @ Levenshtein(_, _, None), Literal(d: Int, IntegerType))
          if d >= 1 => banded(lev, d - 1)
      case GreaterThanOrEqual(Literal(d: Int, IntegerType), lev @ Levenshtein(_, _, None))
          if d >= 0 => banded(lev, d)
      case GreaterThan(Literal(d: Int, IntegerType), lev @ Levenshtein(_, _, None))
          if d >= 1 => banded(lev, d - 1)
    }
}
