package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** CSV ingestion edge — the reference's actual user entry point.
  *
  * Two positional layouts normalize to the engine's logical schema
  * `(ts timestamp, duration_sec long, count double, counter string)`
  * (SURVEY.md §1.1):
  *
  *  - 4-col `(interval_start, duration_sec, count, counter)` — the modern
  *    layout read from stdin/files by trend_rebin.py:67-70,
  *    trend_analyze.py:44-47, trend_analyze_many.py:132-134;
  *  - legacy 5-col `(stop_time, rule, count, count_dup, duration)` —
  *    stop-time anchored (`start = stop - duration`, rebin.py:87-89), with
  *    an optional per-rule filter applied while scanning (rebin.py:82).
  *
  * Timestamp parsing is permissive like the reference's dateutil parse
  * (analysis.py:59): a `try_to_timestamp` fallback chain over the formats
  * that actually occur (compact `yyyyMMddHHmmss` per time_bucket.py:14,
  * ISO date-time with space or 'T', bare date); rows whose date parses to
  * null are skipped, mirroring the `try/except: continue` at
  * analysis.py:58-61 (F3). Everything is a plain distributed CSV scan —
  * schema explicit, no inference pass, splittable at 100 TB.
  */
object Csv {

  /** Permissive timestamp parse: first matching format wins, else null. */
  def permissiveTs(c: Column): Column = coalesce(
    try_to_timestamp(c, lit("yyyyMMddHHmmss")),
    try_to_timestamp(c, lit("yyyy-MM-dd HH:mm:ss")),
    try_to_timestamp(c, lit("yyyy-MM-dd'T'HH:mm:ss")),
    try_to_timestamp(c, lit("yyyy-MM-dd HH:mm")),
    try_to_timestamp(c, lit("yyyy-MM-dd")))

  private val fourCol = StructType(Seq(
    StructField("c0", StringType), // interval start time
    StructField("c1", StringType), // duration seconds (int-via-float)
    StructField("c2", StringType), // count
    StructField("c3", StringType))) // counter name

  private val fiveCol = StructType(Seq(
    StructField("c0", StringType), // interval STOP time
    StructField("c1", StringType), // rule (counter) name
    StructField("c2", StringType), // count
    StructField("c3", StringType), // duplicate count (ignored, rebin.py:86)
    StructField("c4", StringType))) // duration seconds

  /** 4-col raw frame -> logical schema with skip-on-error semantics. */
  private def normalize4(raw: DataFrame): DataFrame =
    raw.select(
        // field-level trim mirrors Python's whitespace-tolerant float()/
        // dt parse (example.csv has ", 3600," with a leading space)
        permissiveTs(trim(col("c0"))).as("ts"),
        try_to_number(trim(col("c1")), lit("999999999.999999")).cast(LongType).as("duration_sec"),
        trim(col("c2")).cast(DoubleType).as("count"),
        col("c3").as("counter"))
      .where(col("ts").isNotNull && col("count").isNotNull &&
        col("duration_sec").isNotNull)

  /** 4-col positional CSV → logical counted-time-series rows (S1).
    * Duration accepts "3600.0" (`int(float(...))`, analysis.py:62).
    * `quoteNone = true` disables quote processing, matching the
    * many-counter driver's `csv.QUOTE_NONE` (trend_analyze_many.py:133:
    * quotes are PART of the counter name there).
    */
  def readCounts(spark: SparkSession, paths: Seq[String],
                 quoteNone: Boolean = false): DataFrame = {
    val reader = spark.read.schema(fourCol)
    normalize4((if (quoteNone) reader.option("quote", "\u0000") else reader)
      .csv(paths: _*))
  }

  /** Directory scan with postfix filter (S2, trend_rebin.py:61-65):
    * reads every file under `baseDir` at ANY depth ending in `postfix` --
    * Hadoop's `**` glob is not recursive descent, so this uses
    * recursiveFileLookup + a glob filter, mirroring the reference's
    * os.walk (and flat directories work too).
    */
  def scanDir(spark: SparkSession, baseDir: String, postfix: String): DataFrame =
    normalize4(spark.read.schema(fourCol)
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", s"*$postfix")
      .csv(baseDir))

  /** Legacy 5-col stop-anchored CSV (S3, rebin.py:78-98); optional rule
    * filter with whitespace-normalized compare (utils.py:1-2).
    */
  def readLegacy(spark: SparkSession, paths: Seq[String],
                 rule: Option[String] = None): DataFrame = {
    val base = spark.read.schema(fiveCol).csv(paths: _*)
      .select(
        permissiveTs(trim(col("c0"))).as("stop_ts"),
        col("c1").as("counter"),
        trim(col("c2")).cast("double").as("count"),
        try_to_number(trim(col("c4")), lit("999999999.999999")).cast("long").as("duration_sec"))
      .where(col("stop_ts").isNotNull && col("count").isNotNull &&
        col("duration_sec").isNotNull)
      .select(
        (col("stop_ts") - expr("make_interval(0,0,0,0,0,0,duration_sec)")).as("ts"),
        col("duration_sec"), col("count"), col("counter"))
    rule.fold(base)(r => base.where(trim(col("counter")) === r.trim))
  }

  /** CSV sink (S5, trend_rebin.py:88-94): compact timestamps, no header —
    * a round-trip through readCounts is lossless for second-precision ts.
    */
  def writeCounts(df: DataFrame, path: String): Unit =
    df.select(
        date_format(col("ts"), "yyyyMMddHHmmss"),
        col("duration_sec").cast("string"),
        col("count").cast("string"),
        col("counter"))
      .write.mode("overwrite").csv(path)

  /** Legacy 5-col sink (the layout rebin.py:78-98 consumes): stop-time
    * anchored `(stop_time, rule, count, count_dup, duration)`. Exists so a
    * round-trip through [[readLegacy]] can be oracle-checked; count_dup is
    * written as 0 — the reference ignores it (rebin.py:86).
    */
  def writeLegacy(df: DataFrame, path: String): Unit =
    df.select(
        date_format(col("ts") + expr("make_interval(0,0,0,0,0,0,duration_sec)"),
          "yyyyMMddHHmmss"),
        col("counter"),
        col("count").cast("string"),
        lit("0"),
        col("duration_sec").cast("string"))
      .write.mode("overwrite").csv(path)

  /** Analyzed-stage CSV sink/source pair (trend_analyze.py:52-59 writes
    * `(ts, count, eta)` rows; the counter column keeps the sink useful
    * for the multi-counter flow). Round-trip lossless: eta survives via
    * the repr-style double formatting on write and a plain cast on read.
    */
  def writeScored(df: DataFrame, path: String): Unit =
    df.select(
        date_format(col("ts"), "yyyyMMddHHmmss"),
        col("count").cast("string"),
        col("eta").cast("string"),
        col("counter"))
      .write.mode("overwrite").csv(path)

  def readScored(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.schema(fourCol).csv(paths: _*) // same 4-string-column shape
      .select(
        permissiveTs(trim(col("c0"))).as("ts"),
        trim(col("c1")).cast("double").as("count"),
        trim(col("c2")).cast("double").as("eta"),
        col("c3").as("counter"))
      .where(col("ts").isNotNull && col("count").isNotNull && col("eta").isNotNull)
      .select("counter", "ts", "count", "eta")
}
