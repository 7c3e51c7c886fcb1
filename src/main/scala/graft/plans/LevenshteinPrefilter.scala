package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: every `levenshtein(a, b) <= k` predicate — Spark's
  * `levenshtein` or the engine's [[EditDistance]] kernel — gains the
  * free lower-bound guard `abs(length(a) - length(b)) <= k` as a leading
  * conjunct. Edit distance can never be less than the length difference
  * (`length` splits characters exactly as both distances do), so the
  * rewrite is exactly value-preserving — but the guard is O(1) integer
  * math while the distance is an O(⌈m/64⌉·n) bit-parallel pass
  * ([[EditDistance]]) or an O(|a|·|b|) DP (Spark's), and `And`
  * short-circuits, so candidate pairs that can't possibly match never pay
  * for it. On a fuzzy-match pair join (f35 shape) this prunes most of the
  * quadratic candidate space; Catalyst may additionally push the guard
  * below the join when the lengths are projectable.
  *
  * Idempotent (fixed-point safe): the guard is only added when no
  * semantically-equal conjunct is already present. */
object LevenshteinPrefilter extends Rule[LogicalPlan] {

  /** The two operands of an edit-distance call (either implementation).
    * Spark's thresholded form is excluded: it returns -1 past the
    * threshold, which the guard would turn from true to false. */
  private object Distance {
    def unapply(e: Expression): Option[(Expression, Expression)] = e match {
      case lev: Levenshtein if lev.threshold.isEmpty => Some((lev.left, lev.right))
      case ed: EditDistance => Some((ed.left, ed.right))
      case _                => None
    }
  }

  private def guardFor(a: Expression, b: Expression, k: Expression): Expression =
    LessThanOrEqual(Abs(Subtract(Length(a), Length(b))), k)

  private def guarded(cond: Expression): Expression = {
    val guards = cond.collect {
      case LessThanOrEqual(Distance(a, b), k) if k.foldable => guardFor(a, b, k)
      case GreaterThanOrEqual(k, Distance(a, b)) if k.foldable => guardFor(a, b, k)
      case LessThan(Distance(a, b), k) if k.foldable => guardFor(a, b, k)
      case GreaterThan(k, Distance(a, b)) if k.foldable => guardFor(a, b, k)
    }
    val missing = guards.filterNot(g => cond.exists(_.semanticEquals(g)))
    missing.foldRight(cond)(And(_, _))
  }

  // matches both shapes the predicate can end up in: a standalone Filter,
  // and a Join condition (predicate pushdown moves it there before
  // extraOptimizations run)
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) =>
      val g = guarded(cond)
      if (g fastEquals cond) f else Filter(g, child)
    case j @ Join(_, _, _, Some(cond), _) =>
      val g = guarded(cond)
      if (g fastEquals cond) j else j.copy(condition = Some(g))
  }
}
