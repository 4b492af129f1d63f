package graft.functions

import org.apache.datasketches.kll.KllDoublesSketch
import org.apache.datasketches.memory.Memory
import org.apache.datasketches.quantilescommon.QuantileSearchCriteria

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.types.{DataType, DoubleType}

/** KLL's byte format: a heap sketch of `k` starts each group, and a
  * heap copy is rebuilt by merging the wrapped bytes into a fresh one.
  */
private[functions] final case class KllCodec(k: Int) extends SketchCodec[KllDoublesSketch] {
  def empty: KllDoublesSketch = KllDoublesSketch.newHeapInstance(k)
  def toBytes(s: KllDoublesSketch): Array[Byte] = s.toByteArray
  def fromBytes(bytes: Array[Byte]): KllDoublesSketch = {
    val s = empty
    s.merge(KllCodec.wrap(bytes))
    s
  }
  def merge(into: KllDoublesSketch, other: KllDoublesSketch): Unit = into.merge(other)
}

private[functions] object KllCodec {
  def wrap(bytes: Array[Byte]): KllDoublesSketch = KllDoublesSketch.wrap(Memory.wrap(bytes))
}

/** Mergeable KLL quantile sketches (Karnin-Lang-Liberty, FOCS'16;
  * Apache DataSketches' `KllDoublesSketch`, already on every Spark
  * classpath for the HLL surface) — the QUANTILE member of the sketch
  * triad next to HLL cardinality and Count-Min frequency: each shard
  * builds a ≤ few-KB binary sketch in one partial-aggregated pass,
  * sketches persist like any index artifact, and merging answers
  * "corpus-wide p99" without re-reading a shard. Rank error is
  * ~1.65%/~0.8% at k=200/400 with high probability; a sketch holding
  * fewer than k values is EXACT.
  *
  * The aggregation protocol is [[SketchAgg]]'s. Compaction uses the
  * library's internal coin flips, so sketch BYTES are not run-stable
  * above k values (estimates stay within the published bounds);
  * exactness-tier tests pin n ≤ k, bound-tier tests assert the
  * ±2·ε rank envelope.
  */
case class KllSketchAgg(
    child: Expression,
    k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends SketchAgg[KllDoublesSketch] {

  @transient override protected lazy val codec: KllCodec = KllCodec(k)

  override protected def absorb(buffer: KllDoublesSketch, value: Any): Unit =
    buffer.update(value.asInstanceOf[Double])

  override def prettyName: String = "kll_sketch_agg"

  override def withNewMutableAggBufferOffset(newOffset: Int): KllSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KllSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): KllSketchAgg =
    copy(child = newChild)
}

/** Union of persisted KLL sketch BYTES (binary column) into one
  * sketch — the shard-merge aggregate.
  */
case class KllMergeAgg(
    child: Expression,
    k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends SketchAgg[KllDoublesSketch] {

  @transient override protected lazy val codec: KllCodec = KllCodec(k)

  override protected def absorb(buffer: KllDoublesSketch, value: Any): Unit =
    buffer.merge(KllCodec.wrap(value.asInstanceOf[Array[Byte]]))

  override def prettyName: String = "kll_merge_agg"

  override def withNewMutableAggBufferOffset(newOffset: Int): KllMergeAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KllMergeAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): KllMergeAgg =
    copy(child = newChild)
}

/** Scalar quantile estimate from a serialized KLL sketch: `rank` in
  * [0, 1] → value (INCLUSIVE search criterion, the library default).
  * Empty sketches yield null rather than the library's exception.
  * CodegenFallback: sits at the tail of an aggregation, never in a
  * scan hot path.
  */
case class KllQuantile(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "kll_quantile"
  override def nullable: Boolean = true

  override def nullSafeEval(sketchBytes: Any, rank: Any): Any = {
    val s = KllCodec.wrap(sketchBytes.asInstanceOf[Array[Byte]])
    if (s.isEmpty) null
    else s.getQuantile(rank.asInstanceOf[Double], QuantileSearchCriteria.INCLUSIVE)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): KllQuantile =
    copy(left = newLeft, right = newRight)
}

/** Scalar retained-count from a serialized KLL sketch (the stream
  * length n the sketch has absorbed — exact, carried in the header).
  */
case class KllCount(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with CodegenFallback {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "kll_count"

  override def nullSafeEval(sketchBytes: Any): Any =
    KllCodec.wrap(sketchBytes.asInstanceOf[Array[Byte]]).getN

  override protected def withNewChildInternal(newChild: Expression): KllCount =
    copy(child = newChild)
}

object KllQuantileSketch {
  /** Aggregate: build a KLL(k) sketch of a double column → binary. */
  def kllSketch(value: Column, k: Int = 200): Column =
    Shims.toColumn(
      KllSketchAgg(Shims.toExpression(value.cast("double")), k).toAggregateExpression())

  /** Aggregate: union serialized sketches (binary column) → binary. */
  def kllMerge(sketch: Column, k: Int = 200): Column =
    Shims.toColumn(
      KllMergeAgg(Shims.toExpression(sketch), k).toAggregateExpression())

  /** Scalar: quantile at `rank` ∈ [0,1] from a serialized sketch. */
  def kllQuantile(sketch: Column, rank: Double): Column =
    Shims.toColumn(KllQuantile(Shims.toExpression(sketch),
      org.apache.spark.sql.catalyst.expressions.Literal(rank)))

  /** Scalar: absorbed stream length n from a serialized sketch. */
  def kllCount(sketch: Column): Column =
    Shims.toColumn(KllCount(Shims.toExpression(sketch)))
}
