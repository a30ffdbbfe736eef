package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graft.GraftShim
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native form of [[Rounding.trim2]]: 2-significant-digit trim of a
  * positive double, else 0. It evaluates its child ONCE; the Column form
  * `when(x > 0, floor(x·r + 0.5) / r).otherwise(0)` with
  * r = pow(10, 1 − floor(log10 x)) names x four times, and a plan node
  * without subexpression elimination (a pushed-down `Filter`) evaluated a
  * model's whole eta expression that often per row.
  *
  * Bit-identical to that Column form on every input, step for step:
  *  - null, ±0, −Inf, negatives → 0.0 (`x > 0` is null or false);
  *  - NaN → 0.0: Spark orders NaN above every number, so `NaN > 0` holds,
  *    and the long casts of Spark's `floor` turn NaN into 0;
  *  - both `floor`s return a long, as Spark's `floor(double)` does, so
  *    huge or infinite scales saturate exactly as there;
  *  - +Inf → a zero scale r, so the division raises DIVIDE_BY_ZERO under
  *    ANSI (`failOnError`) and is null otherwise, as Spark's `/` does;
  *  - `log10` and `pow` are `StrictMath`'s, as in Spark's `log10`/`pow`
  *    on both the generated and the interpreted path.
  */
case class Trim2(child: Expression, failOnError: Boolean = SQLConf.get.ansiEnabled)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    GraftShim.checkInputTypes(Seq(child), Seq(DoubleType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = !failOnError
  override def prettyName: String = "trim2"

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) return 0.0
    val x = v.asInstanceOf[Double]
    if (!(x > 0.0 || x.isNaN)) return 0.0
    val r = StrictMath.pow(10.0, (1L - math.floor(StrictMath.log10(x)).toLong).toDouble)
    if (r == 0.0) {
      if (failOnError) throw GraftShim.divideByZero() else null
    } else math.floor(x * r + 0.5).toLong.toDouble / r
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val r = ctx.freshName("r")
    val zero =
      if (failOnError) "throw org.apache.spark.sql.graft.GraftShim.divideByZero();"
      else s"${ev.isNull} = true;"
    ev.copy(code = code"""
      |${c.code}
      |boolean ${ev.isNull} = false;
      |double ${ev.value} = 0.0;
      |if (!${c.isNull} && (${c.value} > 0.0 || Double.isNaN(${c.value}))) {
      |  double $r = java.lang.StrictMath.pow(10.0,
      |    (double) (1L - (long) java.lang.Math.floor(java.lang.StrictMath.log10(${c.value}))));
      |  if ($r == 0.0) {
      |    $zero
      |  } else {
      |    ${ev.value} = ((double) (long) java.lang.Math.floor(${c.value} * $r + 0.5)) / $r;
      |  }
      |}""".stripMargin)
  }

  override protected def withNewChildInternal(c: Expression): Trim2 = copy(child = c)
}
