package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}

/** Hash-aggregable twins of Spark's `bitmap_construct_agg` /
  * `bitmap_or_agg` (round 18, the PlanAudit SortAggregate screen).
  *
  * WHY: Spark's built-in bitmap aggregates are declarative
  * `ImperativeAggregate`s over a BinaryType BUFFER ATTRIBUTE, and
  * binary buffers are not UnsafeRow-mutable — so every bitmap
  * aggregation plans SortAggregate: a per-split sort of the input by
  * the grouping key before the partial, and a sort of the partials
  * after the exchange. A `TypedImperativeAggregate` keeps its state
  * as a JVM object and plans **ObjectHashAggregate** instead (the
  * tdigest_sketch precedent in this package) — no sorts anywhere,
  * same map-side combining, same 4 KB partials over the wire.
  *
  * BYTE-LAYOUT CONTRACT: identical to Spark's agg — a 4096-byte (32768
  * bit) map, bit `pos` lives at `bytes(pos >> 3)` mask `1 << (pos & 7)`
  * — so the output is consumed unchanged by Spark's own
  * `bitmap_count` / `bitmap_or_agg` and this repo's `bitmap_and`.
  * The layout is PINNED by an exact-equality InvariantSpec test that
  * aggregates the same rows through Spark's agg and this one and
  * asserts byte-identical results (the tdigest exact-equality
  * discipline) — do not change one without the other. */
case class BitmapConstructObjAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] {

  private final val NumBytes = 4096

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a BIGINT bit position (use bitmap_bit_position)")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def prettyName: String = "bitmap_construct_obj_agg"

  override def createAggregationBuffer(): Array[Byte] = new Array[Byte](NumBytes)
  override def update(buf: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) {
      val pos = v.asInstanceOf[Long]
      require(pos >= 0 && pos < NumBytes * 8L,
        s"bit position $pos outside [0, ${NumBytes * 8}) — feed bitmap_bit_position")
      val i = (pos >> 3).toInt
      buf(i) = (buf(i) | (1 << (pos & 7)).toByte).toByte
    }
    buf
  }
  override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < NumBytes) { a(i) = (a(i) | b(i)).toByte; i += 1 }
    a
  }
  override def eval(buf: Array[Byte]): Any = buf
  override def serialize(buf: Array[Byte]): Array[Byte] = buf
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes
  override def withNewMutableAggBufferOffset(n: Int): BitmapConstructObjAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): BitmapConstructObjAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BitmapConstructObjAgg =
    copy(child = newChildren(0))
}

/** OR-re-aggregation of stored bitmap partials — the read side. Same
  * ObjectHashAggregate rationale and byte contract as
  * [[BitmapConstructObjAgg]]; inputs of differing lengths OR into the
  * max length (Spark's bitmap_or_agg convention). */
case class BitmapOrObjAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a binary bitmap")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def prettyName: String = "bitmap_or_obj_agg"

  override def createAggregationBuffer(): Array[Byte] = Array.emptyByteArray
  private def orInto(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    if (b.length == 0) return a
    if (a.length == 0) return java.util.Arrays.copyOf(b, b.length)
    val (big, small) = if (a.length >= b.length) (a, b) else
      (java.util.Arrays.copyOf(b, b.length), a)
    var i = 0
    while (i < small.length) { big(i) = (big(i) | small(i)).toByte; i += 1 }
    big
  }
  override def update(buf: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v == null) buf else orInto(buf, v.asInstanceOf[Array[Byte]])
  }
  override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = orInto(a, b)
  override def eval(buf: Array[Byte]): Any = buf
  override def serialize(buf: Array[Byte]): Array[Byte] = buf
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes
  override def withNewMutableAggBufferOffset(n: Int): BitmapOrObjAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): BitmapOrObjAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BitmapOrObjAgg =
    copy(child = newChildren(0))
}
