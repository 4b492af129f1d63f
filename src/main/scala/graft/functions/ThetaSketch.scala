package graft.functions

import org.apache.datasketches.memory.Memory
import org.apache.datasketches.theta.{SetOperation, Sketch, Sketches, Union}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.types.{DataType, DoubleType}

/** The theta byte format: the aggregation buffer is a `Union` of
  * nominal size 2^lgK, persisted as its compact result; a decoded
  * buffer is a fresh union over the wrapped compact sketch.
  */
private[functions] final case class ThetaCodec(lgK: Int) extends SketchCodec[Union] {
  def empty: Union = SetOperation.builder().setLogNominalEntries(lgK).buildUnion()
  def toBytes(u: Union): Array[Byte] = u.getResult.toByteArray
  def fromBytes(bytes: Array[Byte]): Union = {
    val u = empty
    u.union(ThetaCodec.wrap(bytes))
    u
  }
  def merge(into: Union, other: Union): Unit = into.union(other.getResult)
}

private[functions] object ThetaCodec {
  def wrap(bytes: Array[Byte]): Sketch = Sketches.wrapSketch(Memory.wrap(bytes))
}

/** Mergeable THETA sketches (DataSketches) — the SET-OPERATION member
  * of the sketch family: where HLL (C35) answers only "how many
  * distinct", a theta sketch additionally supports INTERSECTION and
  * difference estimates between persisted sketches — "how many
  * fingerprints do sources A and B share" WITHOUT the fingerprint
  * self-join q_source_overlap's exact tier pays. At 100 TB the
  * per-source sketches build in one partial-aggregated pass, persist
  * like any index artifact, and the full k×k source-overlap matrix is
  * a k-row self-join of kilobyte blobs — the corpus is never touched
  * again, and a NEW source needs one sketch build plus k cheap
  * intersections, not k joins.
  *
  * Guarantees (library-published): a sketch whose distinct count
  * stays under its nominal capacity (2^lgK entries) is EXACT, and so
  * are set operations over exact sketches; above capacity the
  * relative standard error is ~1/sqrt(2^lgK) for unions, with
  * intersection error governed by the smaller-set overlap (reported
  * estimates remain unbiased). The q_source_overlap_sketch
  * bounded-verdict oracle checks the contract per pair.
  */
case class ThetaSketchAgg(
    child: Expression,
    lgK: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends SketchAgg[Union] {

  @transient override protected lazy val codec: ThetaCodec = ThetaCodec(lgK)

  override protected def absorb(buffer: Union, value: Any): Unit =
    buffer.update(value.toString)

  override def prettyName: String = "theta_sketch_agg"

  override def withNewMutableAggBufferOffset(newOffset: Int): ThetaSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ThetaSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): ThetaSketchAgg =
    copy(child = newChild)
}

/** Union of persisted theta-sketch BYTES — the shard-merge aggregate
  * ([[KllMergeAgg]]'s shape).
  */
case class ThetaUnionAgg(
    child: Expression,
    lgK: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends SketchAgg[Union] {

  @transient override protected lazy val codec: ThetaCodec = ThetaCodec(lgK)

  override protected def absorb(buffer: Union, value: Any): Unit =
    buffer.union(ThetaCodec.wrap(value.asInstanceOf[Array[Byte]]))

  override def prettyName: String = "theta_union_agg"

  override def withNewMutableAggBufferOffset(newOffset: Int): ThetaUnionAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ThetaUnionAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): ThetaUnionAgg =
    copy(child = newChild)
}

/** Scalar distinct-count estimate from a serialized theta sketch. */
case class ThetaEstimate(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "theta_estimate"

  override def nullSafeEval(bytes: Any): Any =
    ThetaCodec.wrap(bytes.asInstanceOf[Array[Byte]]).getEstimate

  override protected def withNewChildInternal(newChild: Expression): ThetaEstimate =
    copy(child = newChild)
}

/** Scalar |A ∩ B| estimate from two serialized theta sketches — the
  * operation HLL cannot do, and the reason this family exists.
  */
case class ThetaIntersectEstimate(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "theta_intersect_estimate"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val i = SetOperation.builder().buildIntersection()
    i.intersect(ThetaCodec.wrap(a.asInstanceOf[Array[Byte]]))
    i.intersect(ThetaCodec.wrap(b.asInstanceOf[Array[Byte]]))
    i.getResult.getEstimate
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ThetaIntersectEstimate =
    copy(left = newLeft, right = newRight)
}

/** Scalar |A \ B| estimate from two serialized theta sketches — the
  * third set operation completing the algebra next to union and
  * intersection: "how many fingerprints are NEW in this shard vs the
  * corpus" answered from two kilobyte blobs, never re-touching either
  * side. Exact whenever BOTH inputs are under nominal capacity (set
  * ops over exact sketches are exact — the library contract the
  * q_theta_diff bounded-verdict oracle leans on).
  */
case class ThetaDiffEstimate(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "theta_diff_estimate"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val op = SetOperation.builder().buildANotB()
    op.setA(ThetaCodec.wrap(a.asInstanceOf[Array[Byte]]))
    op.notB(ThetaCodec.wrap(b.asInstanceOf[Array[Byte]]))
    op.getResult(true).getEstimate
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ThetaDiffEstimate =
    copy(left = newLeft, right = newRight)
}

object ThetaSketch {
  /** Aggregate: absorb a string column into a theta sketch → binary. */
  def thetaSketch(item: Column, lgK: Int = 12): Column =
    Shims.toColumn(
      ThetaSketchAgg(Shims.toExpression(item.cast("string")), lgK)
        .toAggregateExpression())

  /** Aggregate: union serialized sketches → binary. */
  def thetaUnion(sketch: Column, lgK: Int = 12): Column =
    Shims.toColumn(
      ThetaUnionAgg(Shims.toExpression(sketch), lgK).toAggregateExpression())

  /** Scalar: distinct-count estimate from a serialized sketch. */
  def thetaEstimate(sketch: Column): Column =
    Shims.toColumn(ThetaEstimate(Shims.toExpression(sketch)))

  /** Scalar: |A ∩ B| estimate from two serialized sketches. */
  def thetaIntersectEstimate(a: Column, b: Column): Column =
    Shims.toColumn(ThetaIntersectEstimate(
      Shims.toExpression(a), Shims.toExpression(b)))

  /** Scalar: |A \ B| estimate from two serialized sketches. */
  def thetaDiffEstimate(a: Column, b: Column): Column =
    Shims.toColumn(ThetaDiffEstimate(
      Shims.toExpression(a), Shims.toExpression(b)))
}
