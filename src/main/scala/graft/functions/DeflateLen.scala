package graft.functions

import java.util.zip.Deflater

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.types.{DataType, IntegerType}
import org.apache.spark.unsafe.types.UTF8String

/** DEFLATE-compressed byte length of a string column, as a codegen'd
  * Catalyst Expression.
  *
  * `deflate_len(text) / octet_length(text)` is the classic cheap
  * repetition proxy for corpus curation (the Gopher/RefinedWeb-family
  * "compression ratio" rule): boilerplate, templated spam, and
  * crawler-loop pages compress far below natural prose, and — unlike
  * n-gram repetition ratios — the signal needs no tokenization and
  * catches long-range repetition a 3-gram window misses.
  *
  * Shape at scale: a pure per-row projection — no shuffle, no UDF
  * serialization. The kernel runs on Spark's internal `UTF8String`
  * bytes and reuses one `Deflater` per task thread (allocating the
  * native zlib stream per row would dominate the cost). Output is
  * deterministic for a fixed input, level, and strategy, but it is a
  * JDK-zlib artifact — NOT portable SQL — so queries built on it are
  * rows-only checked (spec plants compressible vs. incompressible
  * docs).
  */
case class DeflateLen(child: Expression) extends UnaryExpression {
  // No ExpectsInputTypes (private[sql] in Spark 4); the Column wrapper,
  // which the SQL name builds through, casts the child to string.
  override def dataType: DataType = IntegerType
  override def prettyName: String = "deflate_len"

  override def nullSafeEval(input: Any): Any =
    DeflateKernel.len(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.DeflateKernel.len($c)")

  override protected def withNewChildInternal(newChild: Expression): DeflateLen =
    copy(child = newChild)
}

object DeflateLen {
  /** Column wrapper: compressed byte length of a string column. */
  def deflateLen(text: Column): Column =
    Shims.toColumn(DeflateLen(Shims.toExpression(text.cast("string"))))
}

/** Task-thread-local raw-DEFLATE kernel (called from generated code —
  * the Scala static forwarder makes `DeflateKernel.len(...)` a plain
  * Java static call inside whole-stage codegen).
  */
object DeflateKernel {
  // Deflater wraps a native zlib stream: reuse one per task thread via
  // reset() instead of paying allocation + finalization per row.
  private val local = new ThreadLocal[Deflater] {
    override def initialValue(): Deflater =
      new Deflater(Deflater.DEFAULT_COMPRESSION, true) // raw deflate, no header
  }
  private val localBuf = new ThreadLocal[Array[Byte]] {
    override def initialValue(): Array[Byte] = new Array[Byte](8192)
  }

  def len(s: UTF8String): Int = {
    val bytes = s.getBytes
    if (bytes.isEmpty) return 0
    val d = local.get()
    d.reset()
    d.setInput(bytes)
    d.finish()
    val buf = localBuf.get()
    var total = 0
    while (!d.finished()) {
      total += d.deflate(buf)
    }
    total
  }
}
