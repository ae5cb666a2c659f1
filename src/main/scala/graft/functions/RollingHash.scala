package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Polynomial rolling hash (Rabin–Karp style) over a string's bytes:
  * returns the hash of every `window`-byte window, computed in O(n) via
  * the rolling recurrence h_{i+1} = (h_i − b_i·B^{w−1})·B + b_{i+w}
  * (arithmetic mod 2^64 — natural Long overflow, deterministic).
  *
  * This is the document-fingerprinting primitive for content-defined
  * chunking: chunk boundaries are positions where `hash & mask == 0`,
  * so chunk edges survive insertions/deletions (unlike fixed-offset
  * chunks) — the basis of shift-resistant dedup.
  *
  * Codegen'd: the O(n) loop runs inside whole-stage codegen, one pass
  * per row, no per-window allocation beyond the result array.
  */
case class RollingHash(left: Expression, right: Expression)
    extends BinaryExpression {
  private val Base = 1000003L

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "rolling_hash"

  // The hash is defined over BYTES, so both string (its UTF-8 bytes)
  // and binary payloads are accepted — the multimodal column's
  // byte-shingle fingerprinting reuses the same expression.
  private def isBinary: Boolean = left.dataType == BinaryType

  override protected def nullSafeEval(str: Any, win: Any): Any = {
    val bytes =
      if (isBinary) str.asInstanceOf[Array[Byte]]
      else str.asInstanceOf[UTF8String].getBytes
    val w = win.asInstanceOf[Int]
    if (w <= 0 || bytes.length < w) new GenericArrayData(Array.empty[Long])
    else {
      val n = bytes.length - w + 1
      val out = new Array[Long](n)
      var pow = 1L
      var i = 1
      while (i < w) { pow *= Base; i += 1 }
      var h = 0L
      i = 0
      while (i < w) { h = h * Base + (bytes(i) & 0xffL); i += 1 }
      out(0) = h
      i = 1
      while (i < n) {
        h = (h - (bytes(i - 1) & 0xffL) * pow) * Base + (bytes(i + w - 1) & 0xffL)
        out(i) = h
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (str, win) => {
      val bytes = ctx.freshName("bytes")
      val w = ctx.freshName("w")
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      val pow = ctx.freshName("pow")
      val h = ctx.freshName("h")
      val i = ctx.freshName("i")
      val getBytes = if (isBinary) str else s"$str.getBytes()"
      s"""
         |byte[] $bytes = $getBytes;
         |int $w = $win;
         |if ($w <= 0 || $bytes.length < $w) {
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(new long[0]);
         |} else {
         |  int $n = $bytes.length - $w + 1;
         |  long[] $out = new long[$n];
         |  long $pow = 1L;
         |  for (int $i = 1; $i < $w; $i++) $pow *= ${Base}L;
         |  long $h = 0L;
         |  for (int $i = 0; $i < $w; $i++) $h = $h * ${Base}L + ($bytes[$i] & 0xffL);
         |  $out[0] = $h;
         |  for (int $i = 1; $i < $n; $i++) {
         |    $h = ($h - ($bytes[$i - 1] & 0xffL) * $pow) * ${Base}L + ($bytes[$i + $w - 1] & 0xffL);
         |    $out[$i] = $h;
         |  }
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): RollingHash =
    copy(left = newLeft, right = newRight)
}
