package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Per-row chrF gram statistics (custom Catalyst Expression).
  *
  * For two already-whitespace-stripped strings, emits
  * `[m_1, dc_1, dr_1, …, m_maxN, dc_maxN, dr_maxN]`: per character
  * n-gram order, the CLIPPED match count (Σ over distinct grams of
  * min(count_cand, count_ref)) and the two gram totals. Characters
  * are Unicode CODE POINTS — the unit `substring`/`length` count on
  * both engines, so the SQL twin's group-by-substring replay lands on
  * identical integers.
  *
  * A Catalyst Expression (not explode + full-outer join) because the
  * two sides live on the SAME ROW: chrF is embarrassingly row-local,
  * and the exploded form shuffles ~2·maxN rows per character through
  * two hash aggregations and a join — at corpus scale that is a
  * multi-hundred-GB shuffle for a computation that needs none (the
  * r10 bench-honesty find: count() had silently pruned that whole
  * pipeline, hiding its cost). Here each row runs [[ClippedGrams]]
  * over its code points (O(maxN · L log L), comparing code points in
  * place — no per-gram String allocation). CodegenFallback is
  * acceptable: the surrounding projection stays codegen'd and the loop
  * is allocation-light.
  *
  * NULL contract: a NULL side counts as EMPTY (no grams — dc/dr = 0,
  * the unmeasurable-order NULL surfaces downstream), so the output
  * array itself is never NULL.
  */
case class ChrFStats(left: Expression, right: Expression, maxN: Int)
    extends BinaryExpression with CodegenFallback {
  require(maxN >= 1 && maxN <= 10, "maxN in [1, 10]")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "chrf_stats"

  override def eval(input: InternalRow): Any = {
    def cps(e: Expression): Array[Int] = e.eval(input) match {
      case null => Array.emptyIntArray
      case s: UTF8String => s.toString.codePoints().toArray
    }
    val a = cps(left)
    val b = cps(right)
    val cp = Array.concat(a, b)
    ArrayData.toArrayData(ClippedGrams.stats(a.length, b.length, maxN,
      (i: Int, j: Int) => java.lang.Integer.compare(cp(i), cp(j))))
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ChrFStats =
    copy(left = newLeft, right = newRight)
}

object ChrFStats {
  /** Column wrapper: chrF gram stats of two string columns. */
  def chrfStats(cand: Column, ref: Column, maxN: Int = 6): Column =
    Shims.toColumn(ChrFStats(
      Shims.toExpression(cand.cast("string")),
      Shims.toExpression(ref.cast("string")), maxN))
}
