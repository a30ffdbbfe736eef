package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated parquet tables (TESTDATA.md) and the
  * canonical mapping from the `events` table to the engine's logical
  * "counted time series" input (SURVEY.md §1.1): one row per
  * (interval_start, duration_sec, count, counter).
  */
object Tables {
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // the events table carries TIMESTAMP(NANOS) which Spark 4 refuses by
    // default; read nanos as long and convert at the column level
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(s"$sfDir/$name.parquet")
  }

  /** events → raw counts: each event is a 300-second interval with count 1,
    * keyed by event_type. Timestamps are truncated to the second so the
    * DuckDB oracle (ns-precision parquet) and Spark (µs precision) agree
    * exactly on overlap arithmetic.
    */
  def eventsAsCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = load(spark, sfDir, "events")
    val tsCol = ev.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        timestamp_seconds(expr("ts DIV 1000000000"))
      case _ => date_trunc("second", col("ts"))
    }
    ev.select(
      tsCol.as("ts"),
      lit(300L).as("duration_sec"),
      lit(1.0).as("count"),
      col("event_type").as("counter"))
  }

  /** The same mapping as ANSI SQL for the DuckDB oracle. */
  val eventsAsCountsSql: String =
    """SELECT date_trunc('second', ts) AS ts, 300 AS duration_sec,
      |       1.0 AS count, event_type AS counter FROM events""".stripMargin

  /** Columnar intermediate store (S4) — the engine's replacement for the
    * reference's JSON dict-of-series handoff between stages
    * (trend_analyze_many.py:186,235). A plain parquet write of the
    * rebinned frame, with no shuffle of its own: [[graft.trend.Rebin]]
    * already partitions by counter, so each rebin task writes one file
    * holding whole counters, and the file count follows the rebin's
    * partitions, not the number of counters. Stores written by earlier
    * versions, hash-bucketed into `bucket=` directories, still load:
    * [[loadBinned]] drops that partition column.
    */
  def saveBinned(binned: DataFrame, path: String): Unit =
    binned.write.mode("overwrite").parquet(path)

  def loadBinned(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path).drop("bucket")
      .select("counter", "ts", "duration_sec", "count")
}
