package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scala-side reference of the trim2 expression for use in specs. */
object RoundingCheck {
  /** The Column form `Rounding.trim2` compiled to before the native
    * [[Trim2]] expression; the parity reference for it.
    */
  def trim2Column(x: Column): Column = {
    val d = lit(1) - floor(log10(x))
    val r = pow(lit(10.0), d)
    when(x > 0, floor(x * r + lit(0.5)) / r).otherwise(lit(0.0))
  }

  def trim2Ref(x: Double): Double =
    if (x > 0) {
      val d = 1 - math.floor(math.log10(x))
      val r = math.pow(10.0, d)
      math.floor(x * r + 0.5) / r
    } else 0.0
}
