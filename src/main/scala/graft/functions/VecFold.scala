package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.GraftShim
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Codegen'd vector folds over `array<double>` columns — the inner loop of
  * every embedding operator (ANN scoring, IVF assignment, PQ ADC).
  *
  * Why an Expression and not `aggregate(zip_with(...))`: Spark's
  * higher-order array functions evaluate their lambda per element through
  * the interpreted `HigherOrderFunction` path (one boxed lambda-variable
  * bind per element, and `zip_with` materializes the intermediate product
  * array), and they block the surrounding projection out of whole-stage
  * codegen. On the brute-force scorer the fold runs once per
  * (query × corpus-vector) pair, so the per-element overhead IS the query
  * cost at scale. These expressions compile to a primitive `double` loop
  * inside the generated projection — no allocation, no boxing.
  *
  * Semantics are BIT-IDENTICAL to the higher-order originals (the DuckDB
  * oracles depend on it): a strict left-to-right IEEE-754 fold, null if
  * either array is null, null on length mismatch (`zip_with` null-pads the
  * shorter side, which poisons the sum), and null if any element is null.
  * Both inputs must be `array<double>`; anything else fails at analysis,
  * not as a ClassCastException in an executor task.
  */
abstract class VecFold extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftShim.checkInputTypes(children, Seq(ArrayType(DoubleType), ArrayType(DoubleType)))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  /** The per-element contribution, interpreted path. */
  protected def step(x: Double, y: Double): Double
  /** The per-element contribution, as a Java source expression in x/y. */
  protected def stepJava(x: String, y: String): String

  protected override def nullSafeEval(a: Any, b: Any): Any = {
    val (av, bv) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    val n = av.numElements()
    if (n != bv.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (av.isNullAt(i) || bv.isNullAt(i)) return null
      acc = acc + step(av.getDouble(i), bv.getDouble(i))
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val bad = ctx.freshName("bad")
      s"""
         |int $n = $a.numElements();
         |boolean $bad = $n != $b.numElements();
         |double $acc = 0.0;
         |for (int $i = 0; !$bad && $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { $bad = true; break; }
         |  double x = $a.getDouble($i);
         |  double y = $b.getDouble($i);
         |  $acc += ${stepJava("x", "y")};
         |}
         |if ($bad) { ${ev.isNull} = true; } else { ${ev.value} = $acc; }
       """.stripMargin
    })
}

/** Σ aᵢ·bᵢ, strict left-to-right — `aggregate(zip_with(a, b, _*_), 0, _+_)`. */
case class DotFold(left: Expression, right: Expression) extends VecFold {
  override def prettyName: String = "dot_fold"
  protected def step(x: Double, y: Double): Double = x * y
  protected def stepJava(x: String, y: String): String = s"$x * $y"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotFold =
    copy(left = l, right = r)
}

/** Σ (aᵢ−bᵢ)², strict left-to-right — the squared-L2 fold of IVF/PQ. */
case class L2SqFold(left: Expression, right: Expression) extends VecFold {
  override def prettyName: String = "l2sq_fold"
  protected def step(x: Double, y: Double): Double = { val d = x - y; d * d }
  protected def stepJava(x: String, y: String): String =
    s"($x - $y) * ($x - $y)"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): L2SqFold =
    copy(left = l, right = r)
}

object VecFold {
  /** Column API. Callers cast both sides to `array<double>` at the edge
    * (the ml entry points do; the SQL registrations cast for the caller).
    */
  def dot(a: Column, b: Column): Column =
    GraftShim.column(DotFold(GraftShim.expression(a), GraftShim.expression(b)))
  def l2sq(a: Column, b: Column): Column =
    GraftShim.column(L2SqFold(GraftShim.expression(a), GraftShim.expression(b)))
}
