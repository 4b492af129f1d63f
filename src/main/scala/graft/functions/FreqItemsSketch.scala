package graft.functions

import org.apache.datasketches.common.ArrayOfStringsSerDe
import org.apache.datasketches.frequencies.{ErrorType, ItemsSketch}
import org.apache.datasketches.memory.Memory

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The frequent-items byte format: string items through the
  * library's string serde; the persisted bytes carry their own map
  * size, so a decoded sketch is a heap instance of the writer's size.
  */
private[functions] final case class FreqCodec(maxMapSize: Int)
    extends SketchCodec[ItemsSketch[String]] {
  def empty: ItemsSketch[String] = new ItemsSketch[String](maxMapSize)
  def toBytes(s: ItemsSketch[String]): Array[Byte] = s.toByteArray(FreqCodec.serde)
  def fromBytes(bytes: Array[Byte]): ItemsSketch[String] = FreqCodec.wrap(bytes)
  def merge(into: ItemsSketch[String], other: ItemsSketch[String]): Unit = into.merge(other)
}

private[functions] object FreqCodec {
  private val serde = new ArrayOfStringsSerDe
  def wrap(bytes: Array[Byte]): ItemsSketch[String] =
    ItemsSketch.getInstance(Memory.wrap(bytes), serde)
}

/** Mergeable frequent-items sketches (the Misra-Gries family as
  * implemented by DataSketches' `ItemsSketch` — Anderson et al.'s
  * space-saving variant) — the TOP-K member of the sketch quartet
  * next to HLL cardinality (C35), Count-Min frequency (C53), and KLL
  * quantiles (C58): each shard absorbs its items into a ≤`maxMapSize`-
  * entry table in one partial-aggregated pass, sketches persist like
  * any index artifact, and the union answers "corpus-wide top
  * domains/tokens" WITHOUT re-reading a shard — where an exact top-k
  * needs a full groupBy over every shard every time.
  *
  * Guarantees (library-published): estimates are within n/maxMapSize
  * of truth; `NO_FALSE_NEGATIVES` extraction returns a superset of
  * every item above the error threshold — a true heavy hitter can
  * never be missed, only over-reported (the same one-sided contract
  * as Count-Min and the Bloom decontaminator). A sketch whose
  * distinct-item count stays under capacity is EXACT and merge ==
  * whole-stream (spec-pinned).
  */
case class FreqSketchAgg(
    child: Expression,
    maxMapSize: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends SketchAgg[ItemsSketch[String]] {

  @transient override protected lazy val codec: FreqCodec = FreqCodec(maxMapSize)

  override protected def absorb(buffer: ItemsSketch[String], value: Any): Unit =
    buffer.update(value.toString)

  override def prettyName: String = "freq_sketch_agg"

  override def withNewMutableAggBufferOffset(newOffset: Int): FreqSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): FreqSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): FreqSketchAgg =
    copy(child = newChild)
}

/** Union of persisted frequent-items sketch BYTES — the shard-merge
  * aggregate (KllMergeAgg's shape).
  */
case class FreqMergeAgg(
    child: Expression,
    maxMapSize: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends SketchAgg[ItemsSketch[String]] {

  @transient override protected lazy val codec: FreqCodec = FreqCodec(maxMapSize)

  override protected def absorb(buffer: ItemsSketch[String], value: Any): Unit =
    buffer.merge(FreqCodec.wrap(value.asInstanceOf[Array[Byte]]))

  override def prettyName: String = "freq_merge_agg"

  override def withNewMutableAggBufferOffset(newOffset: Int): FreqMergeAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): FreqMergeAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): FreqMergeAgg =
    copy(child = newChild)
}

/** Scalar heavy-hitter extraction from a serialized sketch:
  * array<struct<item, estimate, lower_bound, upper_bound>>, ordered
  * by the library (estimate descending), NO_FALSE_NEGATIVES — a true
  * heavy hitter is always present. CodegenFallback: tail of an
  * aggregation, never a scan hot path.
  */
case class FreqTopItems(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("item", StringType),
    StructField("estimate", LongType),
    StructField("lower_bound", LongType),
    StructField("upper_bound", LongType))))
  override def prettyName: String = "freq_top_items"
  override def nullable: Boolean = true

  override def nullSafeEval(sketchBytes: Any, maxItems: Any): Any = {
    val s = FreqCodec.wrap(sketchBytes.asInstanceOf[Array[Byte]])
    val rows = s.getFrequentItems(ErrorType.NO_FALSE_NEGATIVES)
      .take(maxItems.asInstanceOf[Int])
      .map { r =>
        InternalRow(UTF8String.fromString(r.getItem), r.getEstimate,
          r.getLowerBound, r.getUpperBound)
      }
    new GenericArrayData(rows.asInstanceOf[Array[Any]])
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FreqTopItems =
    copy(left = newLeft, right = newRight)
}

/** Scalar per-item bounds from a serialized sketch:
  * struct(estimate, lower_bound, upper_bound). The library guarantee
  * is DETERMINISTIC — lower_bound ≤ true count ≤ upper_bound always
  * holds, for tracked AND untracked items (an untracked item reports
  * estimate 0 with upper_bound = the sketch's maximum error) — which
  * is what lets the bounded-verdict oracle assert `within_bound =
  * TRUE` as a portable contract instead of leaving the row unchecked.
  */
case class FreqBounds(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = StructType(Seq(
    StructField("estimate", LongType),
    StructField("lower_bound", LongType),
    StructField("upper_bound", LongType)))
  override def prettyName: String = "freq_bounds"

  override def nullSafeEval(sketchBytes: Any, item: Any): Any = {
    val s = FreqCodec.wrap(sketchBytes.asInstanceOf[Array[Byte]])
    val it = item.toString
    InternalRow(s.getEstimate(it), s.getLowerBound(it), s.getUpperBound(it))
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FreqBounds =
    copy(left = newLeft, right = newRight)
}

/** Scalar point estimate for one item from a serialized sketch. */
case class FreqEstimate(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def prettyName: String = "freq_estimate"

  override def nullSafeEval(sketchBytes: Any, item: Any): Any =
    FreqCodec.wrap(sketchBytes.asInstanceOf[Array[Byte]]).getEstimate(item.toString)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FreqEstimate =
    copy(left = newLeft, right = newRight)
}

object FreqItemsSketch {
  private def requirePow2(maxMapSize: Int): Unit =
    require(maxMapSize >= 2 && (maxMapSize & (maxMapSize - 1)) == 0,
      s"maxMapSize must be a power of two >= 2, got $maxMapSize")

  /** Aggregate: absorb a string column into a frequent-items sketch
    * (`maxMapSize` a power of two) → binary.
    */
  def freqSketch(item: Column, maxMapSize: Int = 1024): Column = {
    requirePow2(maxMapSize)
    Shims.toColumn(
      FreqSketchAgg(Shims.toExpression(item.cast("string")), maxMapSize)
        .toAggregateExpression())
  }

  /** Aggregate: union serialized sketches (`maxMapSize` a power of
    * two) → binary.
    */
  def freqMerge(sketch: Column, maxMapSize: Int = 1024): Column = {
    requirePow2(maxMapSize)
    Shims.toColumn(
      FreqMergeAgg(Shims.toExpression(sketch), maxMapSize)
        .toAggregateExpression())
  }

  /** Scalar: top heavy hitters with bounds from a serialized sketch. */
  def freqTopItems(sketch: Column, maxItems: Int): Column =
    Shims.toColumn(FreqTopItems(Shims.toExpression(sketch), Literal(maxItems)))

  /** Scalar: struct(estimate, lower_bound, upper_bound) for one item. */
  def freqBounds(sketch: Column, item: Column): Column =
    Shims.toColumn(FreqBounds(Shims.toExpression(sketch),
      Shims.toExpression(item.cast("string"))))

  /** Scalar: point estimate for one item. */
  def freqEstimate(sketch: Column, item: Column): Column =
    Shims.toColumn(FreqEstimate(Shims.toExpression(sketch),
      Shims.toExpression(item.cast("string"))))
}
