package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, GreaterThanOrEqual, LessThan, LessThanOrEqual, Levenshtein, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Optimizer rule: a thresholded Levenshtein comparison
  * `levenshtein(a, b) <= k` is rewritten to Spark's bounded form
  * `levenshtein(a, b, k) >= 0` (the 3-arg built-in returns -1 when the
  * distance exceeds the threshold). The bounded DP runs the banded
  * O(k·min(|a|,|b|)) algorithm and exits early, versus the full
  * O(|a|·|b|) matrix — the difference between feasible and not for
  * fuzzy-join filters over long strings at scale. Semantics-preserving
  * by the built-in's contract: distance ≤ k ⟺ bounded result ≥ 0.
  *
  * Installed via [[graft.GraftExtensions]] (injectOptimizerRule) or
  * per query with [[graft.GraftSession.scoped]]. Only FILTER comparisons
  * rewrite; a projected `levenshtein(a, b)` value still computes the
  * exact distance.
  */
object BoundedLevenshteinRule extends Rule[LogicalPlan] {

  /** Unbounded levenshtein, looking through casts the comparison added
    * (the boolean result of the rewritten predicate needs no cast).
    */
  private object LevNoThreshold {
    def unapply(e: Expression): Option[(Expression, Expression)] = e match {
      case Levenshtein(a, b, None) => Some((a, b))
      case c: Cast => unapply(c.child)
      case _ => None
    }
  }

  private object IntLike {
    def unapply(e: Expression): Option[Int] = e match {
      case Literal(k: Int, IntegerType) => Some(k)
      case Literal(k: Long, LongType) if k >= Int.MinValue && k <= Int.MaxValue =>
        Some(k.toInt)
      case _ => None
    }
  }

  private def bounded(a: Expression, b: Expression, k: Int): Expression =
    GreaterThanOrEqual(Levenshtein(a, b, Some(Literal(k))), Literal(0))

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case LessThanOrEqual(LevNoThreshold(a, b), IntLike(k)) if k >= 0 => bounded(a, b, k)
    case GreaterThanOrEqual(IntLike(k), LevNoThreshold(a, b)) if k >= 0 => bounded(a, b, k)
    case LessThan(LevNoThreshold(a, b), IntLike(k)) if k >= 1 => bounded(a, b, k - 1)
  }
}
