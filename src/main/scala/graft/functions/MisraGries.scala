package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Misra–Gries heavy-hitters summary as a typed-imperative aggregate:
  * at most `k` counters per buffer, O(1) amortized update, and the
  * classic guarantee that every item with true frequency > n/(k+1)
  * survives in the summary (its stored count underestimates by at most
  * n/(k+1)).
  *
  * Buffers merge associatively (combine counts, then subtract the
  * (k+1)-th largest and drop non-positives — Agarwal et al.'s
  * mergeable-summaries construction), so partial aggregation works and
  * the summary never exceeds k entries per partition regardless of
  * cardinality — the bounded-memory path where an exact group-by's
  * shuffle would carry the full vocabulary.
  *
  * The intended use is the two-phase exact heavy-hitters pipeline (see
  * TextOps.textHeavyHitters): MG pass to shrink the candidate set to
  * ≤ k, then one exact count of just the candidates — the final output
  * is exact and deterministic even though intermediate MG counts are
  * arrival-order dependent.
  */
case class MisraGriesAgg(
    child: Expression,
    kExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashMap[String, Long]] {

  private lazy val k: Int = kExpr.eval(InternalRow.empty).asInstanceOf[Int]

  // Analysis-time validation (mirrors built-ins like approx_percentile):
  // k must be a compile-time-constant positive int, or the failure is an
  // obscure executor error / silently wrong summary size.
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string item column")
    else if (!kExpr.foldable || kExpr.dataType != IntegerType)
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires k to be an integer literal")
    else if (kExpr.eval(InternalRow.empty) == null ||
        kExpr.eval(InternalRow.empty).asInstanceOf[Int] <= 0)
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires k > 0")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def children: Seq[Expression] = Seq(child, kExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("item", StringType), StructField("est", LongType))))
  override def prettyName: String = "mg_topk"

  override def createAggregationBuffer(): mutable.HashMap[String, Long] =
    mutable.HashMap.empty

  override def update(buf: mutable.HashMap[String, Long],
      input: InternalRow): mutable.HashMap[String, Long] = {
    val v = child.eval(input)
    if (v != null) {
      val item = v.toString // detach from the reused unsafe-row buffer
      buf.get(item) match {
        case Some(c) => buf.update(item, c + 1)
        case None if buf.size < k => buf.update(item, 1L)
        case None => // decrement-all; drop exhausted counters
          // iterate a key SNAPSHOT: value updates during keysIterator
          // happen to be non-structural today, but mutation mid-iteration
          // is outside the collections contract
          val keys = buf.keys.toArray
          val dead = mutable.ArrayBuffer.empty[String]
          keys.foreach { key =>
            val c = buf(key) - 1
            if (c == 0) dead += key else buf.update(key, c)
          }
          dead.foreach(buf.remove)
      }
    }
    buf
  }

  override def merge(a: mutable.HashMap[String, Long],
      b: mutable.HashMap[String, Long]): mutable.HashMap[String, Long] = {
    b.foreach { case (item, c) => a.update(item, a.getOrElse(item, 0L) + c) }
    if (a.size > k) {
      // subtract the (k+1)-th largest count from everyone; ≤ k survive
      val cut = a.values.toArray.sorted(Ordering[Long].reverse).apply(k)
      val keys = a.keys.toArray // snapshot, as in update()
      val dead = mutable.ArrayBuffer.empty[String]
      keys.foreach { key =>
        val c = a(key) - cut
        if (c <= 0) dead += key else a.update(key, c)
      }
      dead.foreach(a.remove)
    }
    a
  }

  override def eval(buf: mutable.HashMap[String, Long]): Any = {
    val sorted = buf.toSeq.sortBy { case (item, est) => (-est, item) }
    new GenericArrayData(sorted.map { case (item, est) =>
      new GenericInternalRow(Array[Any](UTF8String.fromString(item), est))
    }.toArray[Any])
  }

  override def serialize(buf: mutable.HashMap[String, Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (item, c) => out.writeUTF(item); out.writeLong(c) }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[String, Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = mutable.HashMap.empty[String, Long]
    var i = 0
    while (i < n) { buf.update(in.readUTF(), in.readLong()); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MisraGriesAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MisraGriesAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MisraGriesAgg =
    copy(child = newChildren(0), kExpr = newChildren(1))
}
