package graft.trend

import graft.functions.Rounding
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, StructField, StructType}
import scala.jdk.CollectionConverters._

/** WeightedDataTemplates — the Nikolov data-driven nearest-template model
  * (models.py:92-236, library.py). Every point of every series is scored by
  *   eta = Σ_{r∈trends} exp(−λ·minDist(r, test)) /
  *         Σ_{r∈non-trends} exp(−λ·minDist(r, test))   (models.py:171-192)
  * where test = the transformed trailing `referenceLength` sub-series,
  * truncated to its last `seriesLength` points (models.py:163-169), and
  * minDist is the minimum L1 distance over all seriesLength-sized
  * subwindows of the reference series (models.py:206-211).
  *
  * Spark design (SURVEY.md §2.4 A14): the library is tiny (O(100) series,
  * trends.tex:409), so it is built and transformed on the driver and
  * broadcast at score time. Scoring folds the [[Steps.wdt]] step over each
  * counter's bins in ts order, one exchange by counter; its state is the
  * trailing `referenceLength` counts, bounded by grid resolution, not by
  * raw event volume. The streaming scorer folds the same step.
  */
object Wdt {
  import SeriesTransforms.Config

  /** Build a reference library from binned series: one reference series per
    * counter, labeled by `isTrend`, transformed with the reference chain
    * (library.py:39-47,56-66). The grouped series are collected and
    * transformed on the driver. Output: a local (series_id, is_trend,
    * points) DataFrame.
    */
  def buildLibrary(binned: DataFrame, isTrend: Column, cfg: Config): DataFrame = {
    val grouped = binned
      .withColumn("is_trend", isTrend)
      .groupBy(col("counter").as("series_id"), col("is_trend"))
      .agg(transform(array_sort(collect_list(struct(col("ts"), col("count")))),
        s => s.getField("count").cast("double")).as("raw_points"))
    val rows = grouped.collect().map { r =>
      Row(r.get(0), r.get(1),
        SeriesTransforms.referenceChain(r.getSeq[Double](2).toArray, cfg).toSeq)
    }
    val schema = StructType(grouped.schema.fields.take(2) :+
      StructField("points", ArrayType(DoubleType, containsNull = false)))
    binned.sparkSession.createDataFrame(rows.toSeq.asJava, schema)
  }

  /** Merge two libraries with the reference's no-duplicate rule: for each
    * class, at most one side may be non-empty (library.py:86-97). The rule
    * is checked in a single Spark job over the tagged union.
    */
  def combine(a: DataFrame, b: DataFrame): DataFrame = {
    val sides = a.select(col("is_trend"), lit("a").as("src"))
      .unionByName(b.select(col("is_trend"), lit("b").as("src")))
      .groupBy("is_trend").agg(count_distinct(col("src")).as("nsrc"))
      .collect().map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    require(sides.getOrElse(true, 0L) <= 1,
      "combine: both libraries have trends (library.py:92)")
    require(sides.getOrElse(false, 0L) <= 1,
      "combine: both libraries have non_trends (library.py:96)")
    a.unionByName(b)
  }

  /** Library persistence (library.py:176-193, pickle → parquet): a saved
    * library is a plain (series_id, is_trend, points) parquet directory,
    * loadable on any cluster and broadcast at score time.
    */
  def saveLibrary(library: DataFrame, path: String): Unit =
    library.write.mode("overwrite").parquet(path)

  def loadLibrary(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Collect a (tiny) library DataFrame to the broadcastable array form. */
  def collectLibrary(library: DataFrame): Array[(Boolean, Array[Double])] =
    library.select("is_trend", "points").collect()
      .map(r => (r.getBoolean(0), r.getSeq[Double](1).toArray))

  /** Scalar eta for one trailing count window against a collected library. */
  def windowEta(window: Array[Double], lib: Array[(Boolean, Array[Double])],
                cfg: Config): Double = {
    val test = SeriesTransforms.testChain(window, cfg).takeRight(cfg.seriesLength)
    var trendW = 0.0
    var nonTrendW = 0.0
    lib.foreach { case (isTrend, ref) =>
      val d = SeriesTransforms.minSlidingL1(ref, test)
      val wt = math.exp(-d * cfg.lambda)
      if (isTrend) trendW += wt else nonTrendW += wt
    }
    if (nonTrendW == 0.0) nonTrendW = 0.001
    trendW / nonTrendW
  }

  /** Score every point of every binned series against the library.
    * Warm-up: eta 0 until `referenceLength` points seen AND the running
    * count sum is nonzero (models.py:158-161); SMALL_NUMBER floor for a
    * zero non-trend weight (models.py:189-190).
    */
  def score(binned: DataFrame, library: DataFrame, cfg: Config): DataFrame = {
    val lib = binned.sparkSession.sparkContext.broadcast(collectLibrary(library))
    Steps.analyzed(binned, Steps.wdt(lib, cfg))
  }

  // ------------------------------- oracle SQL -------------------------------

  /** DuckDB CTE chain over `rebinned(counter, ts, duration_sec, count)`
    * reproducing buildLibrary + score → `scored(counter, ts, count, eta)`.
    * `isTrendSql` must be an expression over a counter column named `counter`.
    * O(points × |lib| × positions × seriesLength) joins — oracle-scale only;
    * the engine runs the Scala kernel instead.
    */
  def oracleCtes(isTrendSql: String, cfg: Config): String = {
    val rl = cfg.referenceLength
    val sl = cfg.seriesLength
    val ns = cfg.nSmooth
    val off = cfg.baselineOffset
    s"""wdt_idx AS (
       |  SELECT counter, ts, count, count::DOUBLE AS v,
       |         row_number() OVER (PARTITION BY counter ORDER BY ts) AS i,
       |         count(*) OVER (PARTITION BY counter) AS n,
       |         sum(count) OVER (PARTITION BY counter ORDER BY ts) AS runsum
       |  FROM rebinned),
       |-- reference chain over each counter's full series (library.py:41-47)
       |ref_a AS (SELECT counter, i, n, v + 1.0 AS v FROM wdt_idx),
       |ref_tot AS (
       |  SELECT counter, sum(v) / $rl AS total
       |  FROM ref_a WHERE i - 1 >= greatest(0, n - ($rl + $off))
       |               AND i - 1 < greatest(0, n - $off)
       |  GROUP BY counter),
       |ref_b AS (
       |  SELECT a.counter, a.i, a.n,
       |         a.v / (CASE WHEN t.total = 0 THEN 0.00001 ELSE t.total END) AS v
       |  FROM ref_a a JOIN ref_tot t ON a.counter = t.counter),
       |ref_c AS (SELECT counter, i, n,
       |                 log10(CASE WHEN v <= 0 THEN 0.00001 ELSE v END) AS v
       |          FROM ref_b),
       |ref_d AS (
       |  SELECT counter, i, n,
       |         avg(v) OVER (PARTITION BY counter ORDER BY i
       |                      ROWS BETWEEN ${ns - 1} PRECEDING AND CURRENT ROW) AS v
       |  FROM ref_c),
       |ref_lib AS (
       |  SELECT counter AS series_id, ($isTrendSql) AS is_trend,
       |         i - (n - $rl) - 1 AS pos, v
       |  FROM ref_d WHERE i > n - $rl),
       |-- test windows: trailing $rl points at each scoring row (models.py:163-169)
       |tw AS (
       |  SELECT s.counter, s.i AS si, w.i - (s.i - $rl + 1) AS pos, w.v + 1.0 AS v
       |  FROM wdt_idx s JOIN wdt_idx w
       |    ON s.counter = w.counter AND w.i BETWEEN s.i - $rl + 1 AND s.i
       |  WHERE s.i >= $rl AND s.runsum != 0),
       |tw_tot AS (
       |  SELECT counter, si, sum(v) / $rl AS total
       |  FROM tw WHERE pos >= greatest(0, $rl - ($rl + $off))
       |            AND pos < greatest(0, $rl - $off)
       |  GROUP BY counter, si),
       |tw_b AS (
       |  SELECT w.counter, w.si, w.pos,
       |         log10(CASE WHEN w.v / (CASE WHEN t.total = 0 THEN 0.00001 ELSE t.total END) <= 0
       |                    THEN 0.00001
       |                    ELSE w.v / (CASE WHEN t.total = 0 THEN 0.00001 ELSE t.total END) END) AS v
       |  FROM tw w JOIN tw_tot t ON w.counter = t.counter AND w.si = t.si),
       |tw_c AS (
       |  SELECT counter, si, pos,
       |         avg(v) OVER (PARTITION BY counter, si ORDER BY pos
       |                      ROWS BETWEEN ${ns - 1} PRECEDING AND CURRENT ROW) AS v
       |  FROM tw_b),
       |test_series AS (
       |  SELECT counter, si, pos - ($rl - $sl) AS tpos, v
       |  FROM tw_c WHERE pos >= $rl - $sl),
       |-- sliding-min L1 against every library subwindow (models.py:206-211)
       |dists AS (
       |  SELECT t.counter, t.si, r.series_id, r.is_trend, p.p,
       |         sum(abs(r.v - t.v)) AS d
       |  FROM test_series t
       |  JOIN (SELECT unnest(range(0, ${rl - sl} + 1)) AS p) p ON true
       |  JOIN ref_lib r ON r.pos = p.p + t.tpos
       |  GROUP BY t.counter, t.si, r.series_id, r.is_trend, p.p),
       |min_d AS (
       |  SELECT counter, si, series_id, is_trend, min(d) AS d
       |  FROM dists GROUP BY counter, si, series_id, is_trend),
       |weights AS (
       |  SELECT counter, si,
       |         sum(CASE WHEN is_trend THEN exp(-d * ${cfg.lambda}) ELSE 0 END) AS tw,
       |         sum(CASE WHEN NOT is_trend THEN exp(-d * ${cfg.lambda}) ELSE 0 END) AS ntw
       |  FROM min_d GROUP BY counter, si),
       |etas AS (
       |  SELECT x.counter, x.ts, x.count,
       |         CASE WHEN w.si IS NULL THEN 0.0
       |              ELSE w.tw / (CASE WHEN w.ntw = 0 THEN 0.001 ELSE w.ntw END)
       |         END AS eta_raw
       |  FROM wdt_idx x LEFT JOIN weights w ON x.counter = w.counter AND x.i = w.si),
       |scored AS (
       |  SELECT counter, ts, count, ${Rounding.trim2Sql("eta_raw")} AS eta
       |  FROM etas)""".stripMargin
  }
}
