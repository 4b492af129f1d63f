package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Longest-common-subsequence length of two TOKEN arrays (custom
  * Catalyst Expression) — the row-local kernel under ROUGE-L
  * ([[graft.operators.Eval.rougeL]]).
  *
  * A Catalyst Expression for [[ChrFStats]]'s reason: the two sides
  * live on the SAME ROW, and any explode-based reformulation shuffles
  * every token through joins for a computation that needs none. The
  * classic O(n·m) DP runs with one rolling row (O(m) space),
  * comparing UTF8Strings in place — no per-cell allocation. Cost is
  * quadratic in TOKENS PER ROW, never in rows: the caller bounds the
  * token count (sentence/summary-level ROUGE — the operator slices
  * before calling), so per-row work is a constant. CodegenFallback is
  * acceptable: the surrounding projection stays codegen'd.
  *
  * NULL contract: a NULL side counts as EMPTY (LCS 0 — the output is
  * never NULL); NULL elements inside an array match nothing.
  */
case class LcsLen(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "lcs_len"
  // No ExpectsInputTypes (private[sql] in Spark 4); construction goes
  // through the wrapper below, which casts both sides to array<string>.

  override def eval(input: InternalRow): Any = {
    def toks(e: Expression): Array[UTF8String] = e.eval(input) match {
      case null => Array.empty[UTF8String]
      case a: ArrayData =>
        val n = a.numElements()
        val out = new Array[UTF8String](n)
        var i = 0
        while (i < n) {
          out(i) = if (a.isNullAt(i)) null else a.getUTF8String(i)
          i += 1
        }
        out
    }
    val a = toks(left)
    val b = toks(right)
    if (a.isEmpty || b.isEmpty) return 0L
    // rolling-row DP: prev = dp[i-1][*], cur = dp[i][*]
    var prev = new Array[Long](b.length + 1)
    var cur = new Array[Long](b.length + 1)
    var i = 1
    while (i <= a.length) {
      val ai = a(i - 1)
      var j = 1
      while (j <= b.length) {
        val eq = ai != null && b(j - 1) != null && ai.equals(b(j - 1))
        val diag = prev(j - 1) + (if (eq) 1L else 0L)
        val up = prev(j)
        val leftv = cur(j - 1)
        cur(j) = math.max(diag, math.max(up, leftv))
        j += 1
      }
      val t = prev; prev = cur; cur = t
      java.util.Arrays.fill(cur, 0L)
      i += 1
    }
    prev(b.length)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LcsLen =
    copy(left = newLeft, right = newRight)
}

object LcsLen {
  /** Column wrapper: LCS length of two array<string> columns. */
  def lcsLen(cand: Column, ref: Column): Column =
    Shims.toColumn(LcsLen(
      Shims.toExpression(cand.cast("array<string>")),
      Shims.toExpression(ref.cast("array<string>"))))
}
