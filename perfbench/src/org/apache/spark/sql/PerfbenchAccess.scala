package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals the benchmark's listener needs; both are
  * package-private to Spark, hence the package.
  */
object PerfbenchAccess {
  /** Wait until the asynchronous listener bus has delivered every event
    * posted so far.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Analysis + optimization + physical planning time of an ended SQL
    * execution, from its query's planning tracker.
    */
  def planMs(e: SparkListenerSQLExecutionEnd): Long =
    Option(e.qe).map(_.tracker.phases.values.map(_.durationMs).sum).getOrElse(0L)
}
