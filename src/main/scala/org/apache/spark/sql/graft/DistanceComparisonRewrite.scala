package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.DoubleType

/** Optimizer rule — the `Rule[LogicalPlan]` tier of the extension API:
  * a comparison of [[EuclideanDistance]] against a non-negative literal
  * radius rewrites to the sqrt-free [[SquaredEuclidean]] form,
  *
  * {{{ euclidean_distance(a, b) <= r   ==>   squared_euclidean(a, b) <= r*r }}}
  *
  * sqrt is monotone and both sides are non-negative, so the predicate
  * is equivalent in real arithmetic; in IEEE doubles the boundary can
  * shift by one ulp of the sqrt/square roundings. That makes this a
  * RANGE-SEARCH optimization (thresholds there are heuristic by
  * nature), deliberately NOT installed in the oracle-verified harness
  * sessions, where hash comparisons demand bit-stable boundaries.
  * Opt in per session via `GraftExtensions` (injectOptimizerRule) or
  * `spark.experimental.extraOptimizations`.
  *
  * Negative radii are left untouched (the predicate is constant there
  * and squaring would invert it); only DoubleType literals rewrite, so
  * nothing folds out from under a correlated or non-deterministic
  * radius expression. */
object DistanceComparisonRewrite extends Rule[LogicalPlan] {

  /** `<`, `<=`, `>` or `>=`: the comparisons squaring preserves on
    * non-negative sides. */
  private object Inequality {
    def unapply(e: Expression): Option[(Expression, Expression)] = e match {
      case c @ (_: LessThan | _: LessThanOrEqual | _: GreaterThan | _: GreaterThanOrEqual) =>
        Some((c.children(0), c.children(1)))
      case _ => None
    }
  }

  /** A non-negative DOUBLE literal radius, as its square. */
  private object SquaredRadius {
    def unapply(e: Expression): Option[Literal] = e match {
      case Literal(r: Double, DoubleType) if r >= 0.0 => Some(Literal(r * r, DoubleType))
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case c @ Inequality(EuclideanDistance(a, b), SquaredRadius(r2)) =>
        c.withNewChildren(Seq(SquaredEuclidean(a, b), r2))
      case c @ Inequality(SquaredRadius(r2), EuclideanDistance(a, b)) =>
        c.withNewChildren(Seq(r2, SquaredEuclidean(a, b)))
    }
}
