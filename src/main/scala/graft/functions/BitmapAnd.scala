package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType}

/** Codegen'd byte-wise AND of two bitmap partials (`binary` columns as
  * produced by Spark's `bitmap_construct_agg`/`bitmap_or_agg`).
  *
  * Spark ships OR-side bitmap re-aggregation but no AND, which is the
  * half that answers intersection questions ("users who did BOTH X and
  * Y") from stored per-bucket partials WITHOUT re-touching raw rows:
  * `sum(bitmap_count(bitmap_and(a.bm, b.bm)))` joined on bucket. Bits
  * beyond the shorter array are implicitly zero, so the result is the
  * min-length prefix — same convention as sparse bitmap libraries.
  */
case class BitmapAnd(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "bitmap_and"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (left.dataType == BinaryType && right.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"bitmap_and needs (binary, binary), got (${left.dataType}, ${right.dataType})")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[Array[Byte]]
    val y = b.asInstanceOf[Array[Byte]]
    val n = math.min(x.length, y.length)
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) { out(i) = (x(i) & y(i)).toByte; i += 1 }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      s"""
         |int $n = java.lang.Math.min($a.length, $b.length);
         |byte[] $out = new byte[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  $out[$i] = (byte) ($a[$i] & $b[$i]);
         |}
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BitmapAnd =
    copy(left = newLeft, right = newRight)
}
