package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Per-row word n-gram overlap statistics (custom Catalyst
  * Expression) — [[ChrFStats]]' twin over TOKEN arrays: for two token
  * arrays, emits `[m_1, dc_1, dr_1, …, m_maxN, dc_maxN, dr_maxN]`
  * (clipped match count + the two gram totals per order), the exact
  * integers behind BLEU modified precisions and ROUGE recalls.
  *
  * Same rationale as ChrFStats: candidate and reference live on the
  * SAME ROW, so the explode → hash-agg → full-outer-join pipeline
  * shuffles ~2·maxN rows per token for a computation that needs no
  * shuffle. Each row runs [[ClippedGrams]] over its tokens (comparing
  * UTF8String tokens in place, no per-gram concatenation or
  * allocation). Distinct token SEQUENCES
  * compare exactly (element count then element-wise bytes) — no
  * separator-collision risk, unlike joining tokens with a delimiter.
  *
  * NULL contract: a NULL array counts as EMPTY; NULL elements sort as
  * the empty token (the tokenizer never emits them). The output array
  * is never NULL.
  */
case class TokenGramStats(left: Expression, right: Expression, maxN: Int)
    extends BinaryExpression with CodegenFallback {
  require(maxN >= 1 && maxN <= 10, "maxN in [1, 10]")

  private val EmptyTok = UTF8String.fromString("")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "token_gram_stats"

  override def eval(input: InternalRow): Any = {
    def toks(e: Expression): Array[UTF8String] = e.eval(input) match {
      case null => Array.empty[UTF8String]
      case a: ArrayData =>
        val out = new Array[UTF8String](a.numElements())
        var i = 0
        while (i < out.length) {
          out(i) = if (a.isNullAt(i)) EmptyTok else a.getUTF8String(i)
          i += 1
        }
        out
    }
    val a = toks(left)
    val b = toks(right)
    val tk = Array.concat(a, b)
    ArrayData.toArrayData(ClippedGrams.stats(a.length, b.length, maxN,
      (x: Int, y: Int) => tk(x).compareTo(tk(y))))
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TokenGramStats =
    copy(left = newLeft, right = newRight)
}

object TokenGramStats {
  /** Column wrapper: word n-gram stats of two array<string> columns. */
  def tokenGramStats(cand: Column, ref: Column, maxN: Int = 4): Column =
    Shims.toColumn(TokenGramStats(
      Shims.toExpression(cand.cast("array<string>")),
      Shims.toExpression(ref.cast("array<string>")), maxN))
}
