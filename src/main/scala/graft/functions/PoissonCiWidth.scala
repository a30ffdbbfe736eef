package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.GraftShim
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expression for the equal-tail Poisson CI width
  * (scipy convention; see [[PoissonCi]]). Null or non-positive mean →
  * null, matching the reference's guards (models.py:306-307).
  *
  * A codegen'd expression rather than a Scala UDF: inside whole-stage
  * codegen it compiles to one static Java call on the memoized kernel —
  * no boxed-function invocation, no UDF null-wrapper, and the projection
  * it appears in stays a single generated loop. `alpha` is part of the
  * expression tree (a plan constant), so Catalyst folds/prunes around it
  * normally. Widths come from [[PoissonCi.width]]'s JVM-wide memo, so the
  * several instances one plan can hold (a pushed-down filter repeats the
  * projection's) share every computed width.
  */
case class PoissonCiWidth(child: Expression, alpha: Double)
  extends UnaryExpression {

  // callers cast the child to double (see PoissonCi.widthUdf and the
  // GraftExtensions SQL builder) — ImplicitCastInputTypes is private[sql],
  // so a direct construction over another type fails analysis here
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "poisson_ci_width"

  override def checkInputDataTypes(): TypeCheckResult =
    GraftShim.checkInputTypes(Seq(child), Seq(DoubleType))

  protected override def nullSafeEval(mu: Any): Any = {
    val m = mu.asInstanceOf[Double]
    if (m <= 0.0) null else PoissonCi.width(alpha, m)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |if ($c <= 0.0) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.functions.PoissonCi.width(${alpha}D, $c);
         |}
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): PoissonCiWidth =
    copy(child = newChild)
}
