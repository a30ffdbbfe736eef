package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftShim
import org.apache.spark.sql.types.DoubleType

/** Numeric trimming helpers mirroring the reference's output conventions. */
object Rounding {

  /** Round a positive value to 2 significant digits; non-positive → 0.
    * Reference: `round(x, -int(floor(log10(x)))+1)` guarded by `x > 0`
    * (analysis.py:189-196). Implemented as floor(x·10^d + 0.5)/10^d so the
    * identical expression is writable in DuckDB SQL (Spark's `round` only
    * takes a literal scale). Half-up instead of Python's half-even: exact
    * halves CAN occur (Poisson-lc eta is a ratio of an integer numerator to
    * an integer CI width, e.g. 1/8 = 0.125 → 0.13 here vs 0.12 in the
    * reference), so reference fidelity diverges on those inputs by one ulp
    * of the 2nd significant digit. Engine and oracle use the identical
    * expression on both sides, so the correctness gate is unaffected; this
    * is a documented, deliberate divergence.
    *
    * Evaluated by the native [[Trim2]] expression, which reads `x` once
    * and is bit-identical to the Column form
    * `when(x > 0, floor(x·r + 0.5) / r).otherwise(0)` with
    * r = pow(10, 1 − floor(log10 x)).
    */
  def trim2(x: Column): Column =
    GraftShim.column(Trim2(GraftShim.expression(x.cast(DoubleType))))

  /** Scalar twin of [[trim2]] (used by the streaming scorers), step for
    * step the [[Trim2]] kernel: `StrictMath` log10/pow as Spark's
    * `log10`/`pow` use, long-saturating floors as Spark's `floor(double)`
    * returns, and NaN → 0.0. Bit-identical to the batch path on every
    * finite double and NaN; +Inf, where the batch division by a zero
    * scale raises (ANSI) or is null, gives NaN.
    */
  def trim2Scalar(x: Double): Double =
    if (x > 0 || x.isNaN) {
      val r = StrictMath.pow(10.0, (1L - math.floor(StrictMath.log10(x)).toLong).toDouble)
      math.floor(x * r + 0.5).toLong.toDouble / r
    } else 0.0

  /** The same expression as SQL text, for DuckDB oracle queries. */
  def trim2Sql(x: String): String =
    s"CASE WHEN $x > 0 THEN floor($x * pow(10, 1 - floor(log10($x))) + 0.5)" +
      s" / pow(10, 1 - floor(log10($x))) ELSE 0.0 END"

  /** Truncate-toward-zero of a non-negative float count, stabilized against
    * last-ulp noise from summation order (reference: `int(count)`,
    * analysis.py:147). Rounding to 9 decimals first makes Spark and DuckDB
    * agree even though they sum partial counts in different orders.
    */
  def stableIntTrunc(x: Column): Column = floor(round(x, 9)).cast(DoubleType)

  def stableIntTruncSql(x: String): String = s"floor(round($x, 9))"

  /** Scalar twin of [[stableIntTrunc]] (streaming coarsen): BigDecimal
    * HALF_UP at scale 9 is exactly what Spark's ROUND does on doubles.
    */
  def stableIntTruncScalar(x: Double): Double =
    math.floor(BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble)
}
