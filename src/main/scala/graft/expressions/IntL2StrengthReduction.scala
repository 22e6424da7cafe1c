package graft.expressions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, LongType}

/** Optimizer strength reduction: rewrites the portable HOF integer
  * squared-L2
  *
  *   aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), 0L,
  *             (acc, v) => acc + v)
  *
  * into the codegen'd [[IntL2]] expression — the PQ/k-means twin of
  * [[DotProductStrengthReduction]]. Long arithmetic CAN overflow, so
  * eval modes matter here (unlike the double dot product): the rewrite
  * fires for LEGACY lambdas (native wraps identically) and ANSI lambdas
  * (native replays the HOF's element order — checked arithmetic for
  * every in-range pair even after a null element, thrown through
  * Spark's MathUtils so the exception is the same
  * SparkArithmeticException/ARITHMETIC_OVERFLOW ANSI arithmetic
  * raises; see the IntL2 scaladoc for the one multi-overflow ordering
  * nuance), and leaves TRY — whose null-on-overflow has no native
  * counterpart — untouched. The subtrahend pair must be the SAME
  * ordered (x, y) in both Subtract factors; the zip-var order itself
  * may be either way ((x−y)² == (y−x)², including under wrap and under
  * overflow-throw).
  */
object IntL2StrengthReduction extends Rule[LogicalPlan] {

  private def isPair(l: Expression, r: Expression,
      vars: Seq[NamedExpression]): Boolean = (l, r, vars) match {
    case (a: NamedLambdaVariable, b: NamedLambdaVariable,
        Seq(v1: NamedLambdaVariable, v2: NamedLambdaVariable)) =>
      Set(a.exprId, b.exprId) == Set(v1.exprId, v2.exprId)
    case _ => false
  }

  private def isIdentity(f: Expression): Boolean = f match {
    case LambdaFunction(body: NamedLambdaVariable,
        Seq(v: NamedLambdaVariable), _) => body.exprId == v.exprId
    case _: LambdaFunction => false
    case _ => true
  }

  private def arrLong(e: Expression): Boolean = e.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  private def sameVar(a: Expression, b: Expression): Boolean = (a, b) match {
    case (x: NamedLambdaVariable, y: NamedLambdaVariable) => x.exprId == y.exprId
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case ArrayAggregate(
            ZipWith(a, b,
              LambdaFunction(
                Multiply(Subtract(x1, y1, m1), Subtract(x2, y2, m2), m3),
                zipVars, _)),
            Literal(0L, LongType),
            LambdaFunction(Add(l, r, m4), aggVars, _),
            finish)
          if arrLong(a) && arrLong(b) &&
            sameVar(x1, x2) && sameVar(y1, y2) &&
            isPair(x1, y1, zipVars) && isPair(l, r, aggVars) &&
            isIdentity(finish) &&
            Seq(m1, m2, m3, m4).forall(_.evalMode != EvalMode.TRY) &&
            Seq(m1, m2, m3, m4).map(_.evalMode).distinct.size == 1 =>
        IntL2(a, b, exact = m1.evalMode == EvalMode.ANSI)
    }
}
