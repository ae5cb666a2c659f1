package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Codegen'd dot product over two `array<double>` columns.
  *
  * The composable form — `aggregate(zip_with(a, b, _*_), 0.0, _+_)` —
  * is semantically identical but runs as interpreted lambda expressions
  * and allocates an intermediate array per row; this expression is a
  * tight whole-stage-codegen loop (SURVEY.md §4.3 anticipated exactly
  * this swap if the bench forced it — it did: brute-force pair scoring
  * dominated the bench).
  *
  * Summation is sequential ascending-index — the same order as the
  * lambda form and DuckDB's `list_inner_product`, so oracle float
  * parity is preserved bit-for-bit.
  *
  * Null semantics mirror the lambda form EXACTLY (round 11, so the
  * [[graft.plans.RewriteDotProduct]] rewrite is provably
  * semantics-preserving on arbitrary user data, not just the engine's
  * equal-length/no-null vector columns): a null array, a ragged pair
  * (`zip_with` null-pads, `x*y` poisons the sum), or any null element
  * all yield NULL. The no-null equal-length fast path — every vector
  * column here — costs one extra length compare plus a per-element
  * null-bitmap test that the branch predictor retires for free.
  */
case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true // ragged/null-element inputs → NULL
  override def prettyName: String = "dot_product"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      s += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $s += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $s; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}
