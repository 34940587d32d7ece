package graft.plans

import graft.functions.{BoundedLevenshtein, SqlFunctions}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** Catalyst optimizer rule: rewrite bounded edit-distance PREDICATES onto
  * the banded kernel.
  *
  *   levenshtein(a, b) <= k   (k literal)  ==>  graft_lev_bounded(a, b, k) <= k
  *   levenshtein(a, b) <  k                ==>  graft_lev_bounded(a, b, k-1) < k
  *   k >= levenshtein(a, b)   (mirrored)   ==>  same
  *
  * The built-in `levenshtein` runs the full O(n*m) DP even when the
  * predicate only needs to know "is it within k"; the banded kernel is
  * O(k*n) with early exit (Lev.bounded returns min(d, bound+1), so the
  * comparison outcome is IDENTICAL for every row — bound+1 > k fails
  * `<= k` exactly when d > k does). In the reference this predicate shape
  * is the fuzzy word matcher's hot path (align/cli.py:211-217, d <= 3)
  * and every near-dup join's post-filter; at 10^12 rows the quadratic
  * slack is the difference between a scan and a stall.
  *
  * Registered through SparkSessionExtensions (the documented plug-in
  * point): `GraftExtensions` also installs every `graft_*` SQL function
  * of [[graft.functions.SqlFunctions]]. Enable with
  * `.config("spark.sql.extensions", "graft.plans.GraftExtensions")` or
  * call `BoundedLevPredicateRewrite.inject(spark)` on a live session.
  */
object BoundedLevPredicateRewrite extends Rule[LogicalPlan] {

  private def bounded(a: Expression, b: Expression, bound: Int): Expression =
    BoundedLevenshtein(a, b, Literal(bound))

  private def rewrite(e: Expression): Expression = e.transformUp {
    // lev(a,b) <= k  /  k >= lev(a,b)
    case LessThanOrEqual(Levenshtein(a, b, None), Literal(k: Int, _)) if k >= 0 =>
      LessThanOrEqual(bounded(a, b, k), Literal(k))
    case GreaterThanOrEqual(Literal(k: Int, _), Levenshtein(a, b, None)) if k >= 0 =>
      LessThanOrEqual(bounded(a, b, k), Literal(k))
    // lev(a,b) < k  /  k > lev(a,b)
    case LessThan(Levenshtein(a, b, None), Literal(k: Int, _)) if k >= 1 =>
      LessThan(bounded(a, b, k - 1), Literal(k))
    case GreaterThan(Literal(k: Int, _), Levenshtein(a, b, None)) if k >= 1 =>
      LessThan(bounded(a, b, k - 1), Literal(k))
    // lev(a,b) > k  /  lev(a,b) >= k (negated containment)
    case GreaterThan(Levenshtein(a, b, None), Literal(k: Int, _)) if k >= 0 =>
      GreaterThan(bounded(a, b, k), Literal(k))
    case GreaterThanOrEqual(Levenshtein(a, b, None), Literal(k: Int, _)) if k >= 1 =>
      GreaterThanOrEqual(bounded(a, b, k - 1), Literal(k))
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressionsWithSubqueries {
      case e @ (_: BinaryComparison) => rewrite(e)
    }

  /** Install on a live session (tests / notebooks). */
  def inject(spark: org.apache.spark.sql.SparkSession): Unit = {
    SqlFunctions.register(spark)
    if (!spark.sessionState.optimizer.preCBORules.contains(this) &&
        !spark.experimental.extraOptimizations.contains(this))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ this
  }
}

/** spark.sql.extensions entry point. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => BoundedLevPredicateRewrite)
    SqlFunctions.inject(ext)
  }
}
