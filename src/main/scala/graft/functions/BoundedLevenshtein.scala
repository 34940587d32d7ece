package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Banded (bounded) Levenshtein kernel: distance capped at `bound` with a
  * diagonal band of width 2*bound+1 and early exit — O(bound * len) instead
  * of O(len^2), returning min(levenshtein(a, b), bound + 1).
  *
  * This is the scale path for edit-distance predicates (`lev(a,b) <= k` in
  * dedup and the reference's fuzzy word matcher, align/cli.py:211-217): at
  * 10^12 rows the full DP wastes quadratic work on pairs that blow the
  * threshold in the first few diagonals.
  */
object Lev {
  def bounded(a: UTF8String, b: UTF8String, bound: Int): Int =
    bounded(a.toString, b.toString, bound)

  def bounded(a0: String, b0: String, bound: Int): Int = {
    var a = a0; var b = b0
    if (a.length > b.length) { val t = a; a = b; b = t }
    val n = a.length; val m = b.length
    val cap = bound + 1
    if (m - n > bound) return cap
    val inf = cap + 1
    var prev = new Array[Int](n + 1)
    var cur = new Array[Int](n + 1)
    var j = 0
    while (j <= n) { prev(j) = if (j <= cap) j else inf; j += 1 }
    var i = 1
    while (i <= m) {
      java.util.Arrays.fill(cur, inf)
      cur(0) = if (i <= cap) i else inf
      // band: |i - j| <= bound
      val jLo = math.max(1, i - bound)
      val jHi = math.min(n, i + bound)
      var rowMin = inf
      j = jLo
      while (j <= jHi) {
        val add = if (prev(j) >= inf) inf else prev(j) + 1
        val del = if (cur(j - 1) >= inf) inf else cur(j - 1) + 1
        val chg = prev(j - 1) + (if (a.charAt(j - 1) != b.charAt(i - 1)) 1 else 0)
        var v = math.min(add, math.min(del, chg))
        if (v > cap) v = inf
        cur(j) = v
        if (v < rowMin) rowMin = v
        j += 1
      }
      if (rowMin >= inf && cur(0) >= inf) return cap // early exit: whole band blown
      val t = prev; prev = cur; cur = t
      i += 1
    }
    math.min(prev(n), cap)
  }
}

/** Catalyst expression `graft_lev_bounded(a, b, k)` — codegen-compatible
  * (generates a direct static call into [[Lev.bounded]]; no interpreted
  * fallback, so it stays inside whole-stage codegen spans).
  */
case class BoundedLevenshtein(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (first.dataType == StringType && second.dataType == StringType &&
        third.dataType == IntegerType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_lev_bounded expects (string, string, int), got " +
        s"(${first.dataType}, ${second.dataType}, ${third.dataType})")

  override def dataType: DataType = IntegerType

  override protected def nullSafeEval(a: Any, b: Any, k: Any): Any =
    Lev.bounded(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String], k.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, k) =>
      s"graft.functions.Lev.bounded($a, $b, $k)")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): BoundedLevenshtein =
    copy(first = newFirst, second = newSecond, third = newThird)
}
