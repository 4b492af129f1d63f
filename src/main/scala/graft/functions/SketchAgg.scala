package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{BinaryType, DataType}

/** The byte format of one sketch family, stated once: the aggregation
  * buffer a fresh group starts from, the bytes a buffer persists as,
  * the heap buffer rebuilt from those bytes, and the family's union of
  * two buffers. Each family's companion object adds `wrap(bytes)`, the
  * read-only view its scalar readers and merge aggregates decode
  * through.
  */
private[functions] trait SketchCodec[S] extends Serializable {
  def empty: S
  def toBytes(s: S): Array[Byte]
  def fromBytes(bytes: Array[Byte]): S
  def merge(into: S, other: S): Unit
}

/** The `TypedImperativeAggregate` protocol shared by every sketch
  * aggregate (the engine's own `hll_sketch_agg` shape): the sketch
  * object IS the aggregation buffer, partial results move as the
  * codec's bytes, and merge is the library's own — associative and
  * commutative, so shard arrival order never changes the estimate
  * class. Null inputs are skipped (groups that never built a sketch
  * merge as nothing); the output is the sketch's bytes, never NULL.
  * A family's build and merge aggregates differ only in [[absorb]]:
  * one folds a raw value in, the other a persisted sketch's bytes.
  */
abstract class SketchAgg[S] extends TypedImperativeAggregate[S] with UnaryLike[Expression] {

  protected def codec: SketchCodec[S]

  /** Fold one non-null input value into the buffer. */
  protected def absorb(buffer: S, value: Any): Unit

  override def createAggregationBuffer(): S = codec.empty

  override def update(buffer: S, input: InternalRow): S = {
    val v = child.eval(input)
    if (v != null) absorb(buffer, v)
    buffer
  }

  override def merge(buffer: S, other: S): S = {
    codec.merge(buffer, other)
    buffer
  }

  override def eval(buffer: S): Any = codec.toBytes(buffer)
  override def serialize(buffer: S): Array[Byte] = codec.toBytes(buffer)
  override def deserialize(bytes: Array[Byte]): S = codec.fromBytes(bytes)

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
}
