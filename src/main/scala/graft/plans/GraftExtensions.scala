package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{
  Add, ArrayAggregate, EqualTo, Expression, ExpressionInfo, If,
  LambdaFunction, Literal, Multiply, NamedLambdaVariable, Size, ZipWith}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DoubleType}

import graft.functions.DotProduct

/** Session extensions — the tier-(c) integration point (`compose >
  * Expression > custom plan` ladder): registered via
  * `spark.sql.extensions=graft.plans.GraftExtensions`, so a cluster config
  * line gives every session (including plain-SQL users who never touch the
  * Scala API) the engine's native functions and plan rewrites.
  *
  *   - `graft_dot` in the function registry: `SELECT graft_dot(a, b)` from
  *     SQL resolves to the codegen [[DotProduct]] expression.
  *   - [[RewriteDotProduct]] in the optimizer: the built-in higher-order
  *     fold `aggregate(zip_with(a, b, (x,y) -> x*y), 0d, (s,x) -> s+x)` —
  *     the natural way to write a dot product in pure Spark SQL — runs
  *     interpreted lambda closures per ELEMENT and blocks whole-stage
  *     codegen; the rule rewrites it to the primitive-loop expression, so
  *     the declarative form gets the fast path without anyone opting in.
  *   - [[CoalesceCatalogBuckets]] after physical planning: the catalog's
  *     bucketed scans run one task per core, not one per id-hash bucket.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (children: Seq[Expression]) => DotProduct(children(0), children(1))))
    ext.injectOptimizerRule(_ => RewriteDotProduct)
    ext.injectQueryPostPlannerStrategyRule(CoalesceCatalogBuckets(_))
  }
}

/** Rewrites the interpreted dot-product fold into native [[DotProduct]].
  *
  * Semantics preserved exactly, not just approximately:
  *   - IEEE: the expression sums j-ascending — the same order the fold
  *     evaluates, and `+`/`*` are commutative in IEEE binary64, so either
  *     lambda operand order matches bit-for-bit.
  *   - Unequal lengths: `zip_with` pads the shorter side with nulls, which
  *     poisons the fold to null; the rewrite guards with a size-equality
  *     check and returns null on mismatch (and on null inputs, where
  *     `Size` is null → the guard is not-true → null branch).
  *   - Null elements would NOT be preserved ([[DotProduct]] reads
  *     primitives), so the match requires `containsNull = false` element
  *     types — anything else is left to the fold.
  */
object RewriteDotProduct extends Rule[LogicalPlan] {

  private def isDoubleArr(e: Expression): Boolean = e.dataType match {
    case ArrayType(DoubleType, containsNull) => !containsNull
    case _ => false
  }

  private def isVarPair(l: Expression, r: Expression,
                        a: NamedLambdaVariable, b: NamedLambdaVariable): Boolean =
    (l, r) match {
      case (x: NamedLambdaVariable, y: NamedLambdaVariable) =>
        (x.exprId == a.exprId && y.exprId == b.exprId) ||
          (x.exprId == b.exprId && y.exprId == a.exprId)
      case _ => false
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case ArrayAggregate(
          ZipWith(left, right,
            LambdaFunction(m: Multiply, Seq(x: NamedLambdaVariable, y: NamedLambdaVariable), _)),
          Literal(zero, DoubleType),
          LambdaFunction(a: Add, Seq(acc: NamedLambdaVariable, el: NamedLambdaVariable), _),
          LambdaFunction(fin: NamedLambdaVariable, Seq(finArg: NamedLambdaVariable), _))
        // doubleToRawLongBits-style compare: -0.0 must NOT match (an empty
        // fold returns the zero literal verbatim, and -0.0 != +0.0 bitwise)
        if zero != null && java.lang.Double.compare(zero.asInstanceOf[Double], 0.0) == 0 &&
          isDoubleArr(left) && isDoubleArr(right) &&
          isVarPair(m.left, m.right, x, y) && isVarPair(a.left, a.right, acc, el) &&
          fin.exprId == finArg.exprId =>
      If(EqualTo(Size(left), Size(right)),
        DotProduct(left, right),
        Literal(null, DoubleType))
  }
}
