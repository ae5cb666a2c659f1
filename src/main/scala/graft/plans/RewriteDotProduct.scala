package graft.plans

import graft.functions.DotProduct
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** Optimizer rule: rewrite the composable dot-product shape
  *
  *   `aggregate(zip_with(a, b, (x, y) => x * y), 0.0d, (acc, v) => acc + v)`
  *
  * into the codegen'd [[graft.functions.DotProduct]] expression. The
  * declarative form is what users naturally write (and what several
  * operators here write); it evaluates as interpreted lambda
  * expressions and allocates an intermediate array per row. The
  * rewrite keeps the plan declarative at the API surface and swaps in
  * the tight whole-stage-codegen loop — the Catalyst-native version of
  * "functions, not UDFs" applied to our own extension point.
  *
  * Semantics preserved UNCONDITIONALLY (round 11): [[DotProduct]] now
  * reproduces the lambda form's null semantics natively — NULL on a
  * null array, a ragged pair, or any null element — so the rewrite is
  * provably a pure optimization on arbitrary user data, not just the
  * engine's equal-length/no-null vector columns. (A schema-level
  * `containsNull = false` guard was tried first and rejected: parquet
  * list columns analyze as `containsNull = true` even when the data
  * has no nulls, so it disabled the rewrite on every real embedding
  * scan.) On the fast path summation is sequential ascending-index in
  * both forms, so results are bit-identical (re-proven by the oracle
  * gate replica for every affected query when this rule shipped, and
  * again when the null-parity semantics landed).
  *
  * Injected into every graft session by [[graft.GraftExtensions]]
  * (injectOptimizerRule); `spark.sql.optimizer.excludedRules` turns it
  * off for an A/B.
  */
object RewriteDotProduct extends Rule[LogicalPlan] {
  private def sameVar(e: Expression, v: NamedLambdaVariable): Boolean = e match {
    case n: NamedLambdaVariable => n.exprId == v.exprId
    case _ => false
  }

  /** (x, y) => x * y, either operand order (IEEE multiply commutes). */
  private def isElementwiseMul(lf: Expression): Boolean = lf match {
    case LambdaFunction(m: Multiply,
        Seq(x: NamedLambdaVariable, y: NamedLambdaVariable), _) =>
      (sameVar(m.left, x) && sameVar(m.right, y)) ||
        (sameVar(m.left, y) && sameVar(m.right, x))
    case _ => false
  }

  /** (acc, v) => acc + v, either operand order (IEEE add commutes). */
  private def isSumMerge(lf: Expression): Boolean = lf match {
    case LambdaFunction(a: Add,
        Seq(acc: NamedLambdaVariable, v: NamedLambdaVariable), _) =>
      (sameVar(a.left, acc) && sameVar(a.right, v)) ||
        (sameVar(a.left, v) && sameVar(a.right, acc))
    case _ => false
  }

  /** `array<double>` of either nullability — null elements, null
    * arrays and ragged pairs are all handled by [[DotProduct]]'s
    * lambda-parity null semantics. The element-type check is belt and
    * braces: the multiply/sum lambda shape below can only type-check
    * over double arrays anyway (any other element type forces a Cast
    * into the merge lambda, which the pattern rejects). */
  private def doubleVec(e: Expression): Boolean =
    e.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }

  /** acc => acc (the implicit finish of `functions.aggregate`). */
  private def isIdentity(lf: Expression): Boolean = lf match {
    case LambdaFunction(v: NamedLambdaVariable, Seq(arg: NamedLambdaVariable), _) =>
      v.exprId == arg.exprId
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case ArrayAggregate(ZipWith(l, r, mul), Literal(z: Double, DoubleType),
          merge, finish)
          if z == 0.0 && isElementwiseMul(mul) && isSumMerge(merge) &&
            isIdentity(finish) && doubleVec(l) && doubleVec(r) =>
        DotProduct(l, r)
    }
}
