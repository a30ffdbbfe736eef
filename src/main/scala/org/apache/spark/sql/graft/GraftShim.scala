package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.errors.QueryExecutionErrors
import org.apache.spark.sql.types.DataType

/** Column ↔ catalyst Expression bridge. Spark 4 made these conversions
  * `private[sql]` (ExpressionUtils in columnNodeSupport.scala), so
  * libraries providing native expressions need this one-file shim inside
  * the org.apache.spark.sql namespace — the standard pattern for Spark
  * extension libraries; no Spark internals are modified.
  */
object GraftShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `ExpectsInputTypes`' analysis-time check of `inputs` against the
    * `expected` types (outside this namespace the trait cannot be mixed
    * in: its `inputTypes` are `private[sql]` AbstractDataTypes). A
    * mismatch fails the plan with an AnalysisException instead of a
    * ClassCastException in an executor; no cast is inserted, so the
    * analyzed plan is unchanged.
    */
  def checkInputTypes(inputs: Seq[Expression],
                      expected: Seq[DataType]): TypeCheckResult =
    ExpectsInputTypes.checkInputDataTypes(inputs, expected)

  /** The DIVIDE_BY_ZERO error Spark's ANSI `/` raises, for native
    * expressions that reproduce a division (see [[graft.functions.Trim2]]).
    */
  def divideByZero(): ArithmeticException =
    QueryExecutionErrors.divideByZeroError(null)

  /** Block until every event posted so far has reached the listeners
    * (`LiveListenerBus.waitUntilEmpty`, `private[spark]`). Listener
    * events arrive asynchronously: counters read or a capture window
    * closed right after an action otherwise miss the stage and task
    * events still queued on the bus.
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
