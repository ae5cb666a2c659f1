package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._

/** Merging t-digest (Dunning & Ertl) quantile sketch as a
  * typed-imperative aggregate: `tdigest_quantile(x, delta, q)`.
  *
  * The 100 TB percentile story: an EXACT percentile needs a global
  * sort (or the two-phase bin selection `agg_percentile_select`
  * implements); Spark's built-in `approx_percentile` is a
  * Greenwald–Khanna summary whose buffer grows with the accuracy
  * target. A t-digest is a CONSTANT-size (O(δ) centroids), fully
  * mergeable summary whose rank error is proportional to q(1−q) —
  * sub-percent at the tails where production SLOs live (p95/p99
  * latency, top-percentile doc quality) — so partials combine
  * map-side in any order/parallelism and the shuffle carries ~δ
  * centroids per group instead of data.
  *
  * Mechanics: points buffer locally (cheap appends); at 512 pending
  * or on merge/serialize/eval the buffer COMPRESSES — sort centroids
  * by mean, then greedily coalesce neighbors while the k1 scale
  * function k(q) = δ·(asin(2q−1)/π + ½) advances less than 1 across
  * the combined centroid, which caps centroid count at ~2δ and
  * concentrates resolution at both tails. Quantile evaluation
  * linearly interpolates between adjacent centroid means (each
  * centroid's mass is centered at its mean), clamping to the exact
  * min/max kept per digest so extreme quantiles never extrapolate.
  *
  * Estimates are arrival-order dependent (like every t-digest) —
  * registered queries using it are no-oracle by design; the
  * InvariantSpec contract instead bounds the RANK error of each
  * estimate against the exactly-sorted fixture and asserts
  * merge-stability across repartitionings.
  */
case class TDigestAgg(
    child: Expression,
    deltaExpr: Expression,
    qExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TDigestBuffer] {

  // SQL literals like 0.99 arrive as catalyst Decimal, not java Number
  private def toD(v: Any): Double = v match {
    case d: org.apache.spark.sql.types.Decimal => d.toDouble
    case n: Number => n.doubleValue()
  }

  private lazy val delta: Double = toD(deltaExpr.eval(InternalRow.empty))
  private lazy val q: Double = toD(qExpr.eval(InternalRow.empty))

  override def checkInputDataTypes(): TypeCheckResult = {
    if (!child.dataType.isInstanceOf[NumericType])
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires a numeric column")
    else if (!deltaExpr.foldable || !qExpr.foldable)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires literal delta and q")
    else {
      val d = deltaExpr.eval(InternalRow.empty)
      val p = qExpr.eval(InternalRow.empty)
      if (d == null || toD(d) < 10)
        TypeCheckResult.TypeCheckFailure(s"$prettyName requires delta >= 10")
      else if (p == null || toD(p) < 0 || toD(p) > 1)
        TypeCheckResult.TypeCheckFailure(s"$prettyName requires q in [0, 1]")
      else TypeCheckResult.TypeCheckSuccess
    }
  }

  override def children: Seq[Expression] = Seq(child, deltaExpr, qExpr)
  override def nullable: Boolean = true
  override def dataType: DataType = DoubleType
  override def prettyName: String = "tdigest_quantile"

  override def createAggregationBuffer(): TDigestBuffer = new TDigestBuffer(delta)

  override def update(buf: TDigestBuffer, input: InternalRow): TDigestBuffer = {
    val v = child.eval(input)
    if (v != null) buf.add(toD(v))
    buf
  }

  override def merge(a: TDigestBuffer, b: TDigestBuffer): TDigestBuffer = {
    a.mergeWith(b); a
  }

  override def eval(buf: TDigestBuffer): Any =
    if (buf.isEmpty) null else buf.quantile(q)

  override def serialize(buf: TDigestBuffer): Array[Byte] = buf.toBytes
  override def deserialize(bytes: Array[Byte]): TDigestBuffer =
    TDigestBuffer.fromBytes(bytes, delta)

  override def withNewMutableAggBufferOffset(newOffset: Int): TDigestAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TDigestAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TDigestAgg =
    copy(child = newChildren(0), deltaExpr = newChildren(1), qExpr = newChildren(2))
}

/** Centroid soup + pending-point buffer; compresses under the k1
  * scale function. Not thread-safe (one buffer per aggregation task,
  * per the TypedImperativeAggregate contract). */
final class TDigestBuffer(val delta: Double) {
  // sorted-by-mean after compress(); appends may break order until then
  private[functions] var means = new mutable.ArrayBuffer[Double]
  private[functions] var weights = new mutable.ArrayBuffer[Long]
  private var pending = new mutable.ArrayBuffer[Double]
  private var lo = Double.PositiveInfinity
  private var hi = Double.NegativeInfinity

  def isEmpty: Boolean = means.isEmpty && pending.isEmpty

  def add(x: Double): Unit = {
    pending += x
    if (x < lo) lo = x
    if (x > hi) hi = x
    if (pending.length >= 512) compress()
  }

  def mergeWith(other: TDigestBuffer): Unit = {
    other.compress()
    means ++= other.means
    weights ++= other.weights
    if (other.lo < lo) lo = other.lo
    if (other.hi > hi) hi = other.hi
    compress()
  }

  private def kScale(qq: Double): Double =
    delta * (math.asin(2.0 * math.min(1.0, math.max(0.0, qq)) - 1.0) / math.Pi + 0.5)

  // ~2δ centroids is the documented k1 bound; past it, always re-cluster —
  // merging partials with disjoint ascending ranges (range-partitioned
  // data) concatenates already-sorted lists that the sortedness
  // early-exit alone would never coalesce, growing the buffer with the
  // number of merged partials.
  private def sizeCap: Int = math.ceil(2.0 * delta).toInt + 16

  private[functions] def compress(): Unit = {
    if (pending.isEmpty && isSorted && means.length <= sizeCap) return
    val n = means.length + pending.length
    if (n == 0) return
    val pts = new Array[(Double, Long)](n)
    var i = 0
    while (i < means.length) { pts(i) = (means(i), weights(i)); i += 1 }
    var j = 0
    while (j < pending.length) { pts(i) = (pending(j), 1L); i += 1; j += 1 }
    java.util.Arrays.sort(pts, Ordering.by((p: (Double, Long)) => p._1))
    val total = pts.iterator.map(_._2).sum.toDouble
    val outM = new mutable.ArrayBuffer[Double](pts.length)
    val outW = new mutable.ArrayBuffer[Long](pts.length)
    var curMean = pts(0)._1
    var curW = pts(0)._2
    var wSoFar = 0L // weight fully emitted before the current centroid
    var kBegin = kScale(0.0)
    i = 1
    while (i < pts.length) {
      val (m, w) = pts(i)
      val qAfter = (wSoFar + curW + w) / total
      if (kScale(qAfter) - kBegin <= 1.0) {
        // weighted-mean absorb; stable because input is sorted
        curMean = curMean + (m - curMean) * w / (curW + w).toDouble
        curW += w
      } else {
        outM += curMean; outW += curW
        wSoFar += curW
        kBegin = kScale(wSoFar / total)
        curMean = m; curW = w
      }
      i += 1
    }
    outM += curMean; outW += curW
    means = outM; weights = outW
    pending = new mutable.ArrayBuffer[Double]
  }

  private def isSorted: Boolean = {
    var i = 1
    while (i < means.length) { if (means(i - 1) > means(i)) return false; i += 1 }
    true
  }

  /** Linear interpolation between adjacent centroid means, each
    * centroid's mass centered at its mean; clamped to the tracked
    * exact [lo, hi]. */
  def quantile(q: Double): Double = {
    compress()
    if (means.isEmpty) return Double.NaN
    if (means.length == 1) return means(0)
    val total = weights.sum.toDouble
    val target = q * total
    var cum = 0.0
    var i = 0
    while (i < means.length) {
      val center = cum + weights(i) / 2.0
      if (target < center) {
        if (i == 0) return math.max(lo, means(0) -
          (center - target) / (weights(0) / 2.0) * (means(0) - lo))
        val prevCenter = cum - weights(i - 1) / 2.0
        val frac = (target - prevCenter) / (center - prevCenter)
        return means(i - 1) + frac * (means(i) - means(i - 1))
      }
      cum += weights(i)
      i += 1
    }
    hi
  }

  def centroidCount: Int = { compress(); means.length }

  private[functions] def setBounds(l: Double, h: Double): Unit = { lo = l; hi = h }

  def toBytes: Array[Byte] = {
    compress()
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(means.length)
    var i = 0
    while (i < means.length) {
      out.writeDouble(means(i)); out.writeLong(weights(i)); i += 1
    }
    out.writeDouble(lo); out.writeDouble(hi)
    out.flush()
    bos.toByteArray
  }
}

object TDigestBuffer {
  def fromBytes(bytes: Array[Byte], delta: Double): TDigestBuffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = new TDigestBuffer(delta)
    val n = in.readInt()
    var i = 0
    while (i < n) { buf.means += in.readDouble(); buf.weights += in.readLong(); i += 1 }
    val lo = in.readDouble(); val hi = in.readDouble()
    if (n > 0) buf.setBounds(lo, hi)
    buf
  }
}

/** SCALAR quantile extraction from a stored [[TDigestSketchAgg]]
  * binary: `tdigest_quantile_of(sketch, delta, q)`. Round 18
  * (optimization): N quantiles of one population previously ran N
  * independent `tdigest_quantile` aggregates — N identical digest
  * builds over the same rows (every buffer sees the same insertion
  * sequence, so the N final states are copies). Build ONE
  * `tdigest_sketch` and extract each quantile from the serialized
  * digest instead: the result is bit-identical because serialization
  * round-trips doubles/longs exactly and `quantile()` on a
  * compressed, sorted, pending-free buffer does not re-compress. */
case class TDigestQuantileOf(
    child: Expression,
    deltaExpr: Expression,
    qExpr: Expression)
  extends Expression
  with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  private def toD(v: Any): Double = v match {
    case d: org.apache.spark.sql.types.Decimal => d.toDouble
    case n: Number => n.doubleValue()
  }
  private lazy val delta: Double = toD(deltaExpr.eval(InternalRow.empty))
  private lazy val q: Double = toD(qExpr.eval(InternalRow.empty))

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != BinaryType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a tdigest_sketch binary column")
    else if (!deltaExpr.foldable || !qExpr.foldable)
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires literal delta and q")
    else TypeCheckResult.TypeCheckSuccess

  override def children: Seq[Expression] = Seq(child, deltaExpr, qExpr)
  override def nullable: Boolean = true
  override def dataType: DataType = DoubleType
  override def prettyName: String = "tdigest_quantile_of"

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else {
      val buf = TDigestBuffer.fromBytes(v.asInstanceOf[Array[Byte]], delta)
      if (buf.isEmpty) null else buf.quantile(q)
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TDigestQuantileOf =
    copy(child = newChildren(0), deltaExpr = newChildren(1), qExpr = newChildren(2))
}

/** `tdigest_sketch(x, delta)` — the PERSISTABLE half of the two-phase
  * quantile story: aggregates a numeric column into a serialized
  * digest (BinaryType) that a metrics store keeps per partition/day
  * and [[TDigestMergeAgg]] later re-merges — quantiles over any time
  * range without revisiting rows (the exact pattern
  * `agg_hll_reaggregate` demonstrates for distinct counts). */
case class TDigestSketchAgg(
    child: Expression,
    deltaExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TDigestBuffer] {

  private def toD(v: Any): Double = v match {
    case d: org.apache.spark.sql.types.Decimal => d.toDouble
    case n: Number => n.doubleValue()
  }
  private lazy val delta: Double = toD(deltaExpr.eval(InternalRow.empty))

  override def checkInputDataTypes(): TypeCheckResult =
    if (!child.dataType.isInstanceOf[NumericType])
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires a numeric column")
    else if (!deltaExpr.foldable || deltaExpr.eval(InternalRow.empty) == null ||
        toD(deltaExpr.eval(InternalRow.empty)) < 10)
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires literal delta >= 10")
    else TypeCheckResult.TypeCheckSuccess

  override def children: Seq[Expression] = Seq(child, deltaExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def prettyName: String = "tdigest_sketch"

  override def createAggregationBuffer(): TDigestBuffer = new TDigestBuffer(delta)
  override def update(buf: TDigestBuffer, input: InternalRow): TDigestBuffer = {
    val v = child.eval(input)
    if (v != null) buf.add(toD(v))
    buf
  }
  override def merge(a: TDigestBuffer, b: TDigestBuffer): TDigestBuffer = {
    a.mergeWith(b); a
  }
  override def eval(buf: TDigestBuffer): Any = buf.toBytes
  override def serialize(buf: TDigestBuffer): Array[Byte] = buf.toBytes
  override def deserialize(bytes: Array[Byte]): TDigestBuffer =
    TDigestBuffer.fromBytes(bytes, delta)
  override def withNewMutableAggBufferOffset(newOffset: Int): TDigestSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TDigestSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TDigestSketchAgg =
    copy(child = newChildren(0), deltaExpr = newChildren(1))
}

/** `tdigest_merge_quantile(sketch, delta, q)` — re-aggregates stored
  * [[TDigestSketchAgg]] binaries and evaluates a quantile: the read
  * side of the two-phase pattern. */
case class TDigestMergeAgg(
    child: Expression,
    deltaExpr: Expression,
    qExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TDigestBuffer] {

  private def toD(v: Any): Double = v match {
    case d: org.apache.spark.sql.types.Decimal => d.toDouble
    case n: Number => n.doubleValue()
  }
  private lazy val delta: Double = toD(deltaExpr.eval(InternalRow.empty))
  private lazy val q: Double = toD(qExpr.eval(InternalRow.empty))

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != BinaryType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a tdigest_sketch binary column")
    else if (!deltaExpr.foldable || !qExpr.foldable)
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires literal delta and q")
    else TypeCheckResult.TypeCheckSuccess

  override def children: Seq[Expression] = Seq(child, deltaExpr, qExpr)
  override def nullable: Boolean = true
  override def dataType: DataType = DoubleType
  override def prettyName: String = "tdigest_merge_quantile"

  override def createAggregationBuffer(): TDigestBuffer = new TDigestBuffer(delta)
  override def update(buf: TDigestBuffer, input: InternalRow): TDigestBuffer = {
    val v = child.eval(input)
    if (v != null)
      buf.mergeWith(TDigestBuffer.fromBytes(v.asInstanceOf[Array[Byte]], delta))
    buf
  }
  override def merge(a: TDigestBuffer, b: TDigestBuffer): TDigestBuffer = {
    a.mergeWith(b); a
  }
  override def eval(buf: TDigestBuffer): Any =
    if (buf.isEmpty) null else buf.quantile(q)
  override def serialize(buf: TDigestBuffer): Array[Byte] = buf.toBytes
  override def deserialize(bytes: Array[Byte]): TDigestBuffer =
    TDigestBuffer.fromBytes(bytes, delta)
  override def withNewMutableAggBufferOffset(newOffset: Int): TDigestMergeAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TDigestMergeAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TDigestMergeAgg =
    copy(child = newChildren(0), deltaExpr = newChildren(1), qExpr = newChildren(2))
}
