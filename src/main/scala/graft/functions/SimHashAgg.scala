package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{DataType, LongType}

/** SimHash as a custom typed-imperative aggregate: per group, each
  * input 64-bit hash votes ±1 on every bit position; the final value
  * packs the vote signs into a 64-bit fingerprint.
  *
  * The composable alternative — 64 separate
  * `sum(when(shiftright(h,b)&1===1, 1, -1))` aggregate columns — was
  * the slowest query in the bench (~6 s at sf0.1): 64 expression
  * evaluations per row plus a 64-column aggregation buffer. This
  * aggregate does one tight JVM loop per row over a primitive
  * `Array[Long]` buffer (the standard sketch-aggregate pattern, same
  * shape as Spark's own HyperLogLog++ impl).
  *
  * Buffer is 64 longs (512 B) per group — constant memory, merge-able
  * across partitions (partial aggregation works), spill-safe via
  * byte-array serialization.
  */
case class SimHashAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  private val Bits = 64

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_agg"

  override def createAggregationBuffer(): Array[Long] = new Array[Long](Bits)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      var b = 0
      while (b < Bits) {
        buf(b) += (((h >>> b) & 1L) * 2L) - 1L
        b += 1
      }
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < Bits) { a(i) += b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any = {
    var out = 0L
    var b = 0
    while (b < Bits) {
      if (buf(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(Bits * 8)
    var i = 0
    while (i < Bits) { bb.putLong(buf(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new Array[Long](Bits)
    var i = 0
    while (i < Bits) { buf(i) = bb.getLong(); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): SimHashAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SimHashAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): SimHashAgg =
    copy(child = newChildren.head)
}
