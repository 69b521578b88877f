package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftGlue
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Edit distance capped at `max` (Ukkonen band): exact when the true
  * distance ≤ max, returns max+1 otherwise. The DP visits only the
  * 2·max+1 diagonal band — O((max)·n) instead of the O(n·m) full matrix
  * Spark's builtin levenshtein always pays — and bails out as soon as
  * the band's minimum exceeds the cap. For blocked fuzzy joins the
  * filter is `dist <= max`, so the early exit loses nothing.
  */
case class BoundedLevenshtein(left: Expression, right: Expression, max: Int)
    extends BinaryExpression {
  require(max >= 0, s"bounded_levenshtein requires max >= 0, got $max")

  override def dataType: DataType = LongType
  override def prettyName: String = "bounded_levenshtein"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two strings, got ${l.sql} and ${r.sql}")
    }

  protected override def nullSafeEval(l: Any, r: Any): Any =
    BoundedLevenshtein.distance(
      l.asInstanceOf[UTF8String].toString, r.asInstanceOf[UTF8String].toString, max)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.BoundedLevenshtein$$.MODULE$$.distance(" +
        s"$a.toString(), $b.toString(), $max);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BoundedLevenshtein =
    copy(left = newLeft, right = newRight)
}

object BoundedLevenshtein {
  /** Banded Levenshtein: exact for distances ≤ max, else max+1. */
  def distance(a: String, b: String, max: Int): Long = {
    val (s, t) = if (a.length <= b.length) (a, b) else (b, a)
    val n = s.length
    val m = t.length
    if (m - n > max) return max + 1L
    if (n == 0) return m.toLong
    val inf = max + 1
    // prev(j) = edit distance between s[0..i) and t[0..j), band only
    val prev = new Array[Int](m + 1)
    val cur = new Array[Int](m + 1)
    java.util.Arrays.fill(prev, inf)
    var j = 0
    while (j <= math.min(m, max)) { prev(j) = j; j += 1 }
    var i = 1
    while (i <= n) {
      java.util.Arrays.fill(cur, inf)
      val lo = math.max(1, i - max)
      val hi = math.min(m, i + max)
      if (lo == 1) cur(0) = i
      var best = inf
      j = lo
      while (j <= hi) {
        val sub = prev(j - 1) + (if (s.charAt(i - 1) == t.charAt(j - 1)) 0 else 1)
        val del = prev(j) + 1
        val ins = cur(j - 1) + 1
        var v = if (sub < del) sub else del
        if (ins < v) v = ins
        if (v > inf) v = inf
        cur(j) = v
        if (v < best) best = v
        j += 1
      }
      if (lo == 1 && cur(0) < best) best = cur(0)
      if (best >= inf) return inf.toLong // whole band over the cap: bail
      System.arraycopy(cur, 0, prev, 0, m + 1)
      i += 1
    }
    math.min(prev(m), inf).toLong
  }

  def column(l: Column, r: Column, max: Int): Column =
    GraftGlue.column(BoundedLevenshtein(
      GraftGlue.expression(l), GraftGlue.expression(r), max))
}
