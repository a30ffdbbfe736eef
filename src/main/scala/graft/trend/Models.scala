package graft.trend

import graft.functions.{PoissonCi, Rounding}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Trend-scoring models over a rebinned series table
  * (counter, ts, duration_sec, count). Each model emits the reference's
  * "analyzed" shape (analysis.py:159-201): (counter, ts, count,
  * eta) with eta trimmed to 2 significant digits when positive, else 0.
  *
  * The reference drives a mutable model object point-by-point per counter
  * (analysis.py:176-186); in batch each model is a pure column pipeline
  * over Window.partitionBy(counter).orderBy(ts) — no state, and fully
  * whole-stage-codegen'd: the Poisson CI width and the eta trim are
  * native expressions ([[graft.functions.PoissonCiWidth]],
  * [[graft.functions.Trim2]]). Each model materializes the columns its
  * eta reads more than once, so every kernel runs once per row.
  */
object Models {
  private def w = Window.partitionBy("counter").orderBy("ts")

  private def analyzed(df: DataFrame, rawEta: Column): DataFrame =
    df.withColumn("eta", Rounding.trim2(rawEta))
      .select("counter", "ts", "count", "eta")

  // ------------------------------------------------------------------
  // Poisson, mode "lc": background mean = previous count (models.py:274-282).
  // eta = sensitivity / relative-CI = |c − ν| / CI_width (models.py:331-340);
  // null/0 mean or 0 width → 0 (models.py:306,316,338-339).
  // ------------------------------------------------------------------
  def poissonLc(binned: DataFrame, alpha: Double = 0.99): DataFrame = {
    val ciw = PoissonCi.widthUdf(alpha)
    val df = binned
      .withColumn("mean", lag("count", 1).over(w))
      .withColumn("ci_w", ciw(col("mean")))
    val eta = when(col("mean").isNull || col("mean") === 0.0 ||
                   col("ci_w").isNull || col("ci_w") === 0.0, lit(0.0))
      .otherwise(abs(col("count") - col("mean")) / col("ci_w"))
    analyzed(df, eta)
  }

  /** Alpha-sensitivity sweep of the lc-Poisson detector — detections per
    * confidence level, the evaluation a deployment runs to pick
    * config.cfg's `alpha` (the reference exposes it as tuning config,
    * config.cfg:38). ONE pass: the lag background is computed once and
    * every alpha's CI width/eta evaluates in the same projection (the
    * memoized CI expression makes each added alpha a near-free column).
    * Output per alpha: (alpha_mil = α·1000 exact, n_scored, n_detected)
    * with detections = trimmed eta > theta.
    */
  def poissonLcSweep(binned: DataFrame,
                     alphas: Seq[Double] = Seq(0.9, 0.95, 0.99, 0.999),
                     theta: Double = 1.0): DataFrame = {
    val withMean = binned.withColumn("mean", lag("count", 1).over(w))
    // materialize each alpha's CI width via withColumn (as poissonLc does)
    // so the O(mu) CDF loop runs once per row per alpha — inlined inside
    // when() branches, conditional evaluation can defeat whole-stage
    // codegen's subexpression elimination and evaluate it twice
    val df = alphas.indices.foldLeft(withMean) { (d, i) =>
      d.withColumn(s"ci_w_$i", PoissonCi.widthUdf(alphas(i))(col("mean")))
    }
    val branches = alphas.zipWithIndex.map { case (a, i) =>
      val ciw = col(s"ci_w_$i")
      val eta = when(col("mean").isNull || col("mean") === 0.0 ||
                     ciw.isNull || ciw === 0.0, lit(0.0))
        .otherwise(abs(col("count") - col("mean")) / ciw)
      struct(lit(math.round(a * 1000)).as("alpha_mil"),
        Rounding.trim2(eta).as("eta"))
    }
    df.select(explode(array(branches: _*)).as("ae"))
      .groupBy(col("ae.alpha_mil").as("alpha_mil"))
      .agg(count(lit(1)).as("n_scored"),
        sum(when(col("ae.eta") > theta, 1L).otherwise(0L)).as("n_detected"))
  }

  // ------------------------------------------------------------------
  // Poisson, mode "a": background mean = running average of counts sharing
  // the same period key (e.g. hour-of-day), INCLUDING the current point —
  // update() adds the count before computing the mean (models.py:284-298).
  // Period key = ':' -joined datetime attributes per period_list
  // (models.py:287); we support the attributes the reference's configs use.
  // ------------------------------------------------------------------
  def periodKey(ts: Column, periodList: Seq[String]): Column =
    concat_ws(":", periodList.map {
      case "hour"  => hour(ts).cast("string")
      case "day"   => dayofmonth(ts).cast("string")
      case "month" => month(ts).cast("string")
      case "minute" => minute(ts).cast("string")
      case "second" => second(ts).cast("string")
      case "year"  => year(ts).cast("string")
      // Python datetime convention: Monday = 0 .. Sunday = 6
      case "weekday" => weekday(ts).cast("string")
      case p => throw new IllegalArgumentException(s"unsupported period attr $p")
    }: _*)

  def poissonCycle(binned: DataFrame, alpha: Double = 0.99,
                   periodList: Seq[String] = Seq("hour")): DataFrame = {
    val ciw = PoissonCi.widthUdf(alpha)
    val wp = Window.partitionBy(col("counter"), col("pkey")).orderBy("ts")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val df = binned
      .withColumn("pkey", periodKey(col("ts"), periodList))
      .withColumn("mean", sum("count").over(wp) / count(lit(1)).over(wp))
      .withColumn("ci_w", ciw(col("mean")))
    val eta = when(col("mean") === 0.0 || col("ci_w").isNull ||
                   col("ci_w") === 0.0, lit(0.0))
      .otherwise(abs(col("count") - col("mean")) / col("ci_w"))
    analyzed(df, eta)
  }

  // ------------------------------------------------------------------
  // LinearRegression slope model (models.py:47-90). Per point:
  //   averaged[i] = mean of trailing `avgWindow` counts once that many have
  //                 been seen, else 0 (models.py:70-74);
  //   eta = OLS slope of averaged[-regWindow:] (or the full history) vs
  //         0..n−1, gated to 0 until minPoints rows (models.py:79-90);
  //   normByMean divides y by mean(y) first ⇒ slope/mean(y).
  // Closed form: slope = covar_pop(idx, y)/var_pop(idx) — identical math to
  // sklearn's single-feature OLS fit, no MLlib needed.
  // ------------------------------------------------------------------
  def linReg(binned: DataFrame, minPoints: Int,
             avgWindow: Int = 1,
             regWindow: Option[Int] = None,
             normByMean: Boolean = false): DataFrame = {
    val wAvg = w.rowsBetween(-(avgWindow - 1), 0)
    val wReg = regWindow match {
      case Some(k) => w.rowsBetween(-(k - 1), 0)
      case None    => w.rowsBetween(Window.unboundedPreceding, 0)
    }
    val df = binned
      .withColumn("rn", row_number().over(w))
      .withColumn("averaged",
        when(col("rn") >= avgWindow, avg("count").over(wAvg)).otherwise(0.0))
    val slope =
      covar_pop(col("rn").cast("double"), col("averaged")).over(wReg) /
        var_pop(col("rn").cast("double")).over(wReg)
    val slopeNormed = if (normByMean) slope / avg(col("averaged")).over(wReg) else slope
    // the slope is materialized once: a window expression repeated through
    // when() and trim2 is not deduplicated, so each copy ran in the
    // WindowExec. The rn guard stays inside — unguarded, the first rows'
    // zero var_pop divides by zero under ANSI. Epsilon floor: a perfectly
    // flat window yields slope ~1e-17 instead of 0 from fp accumulation,
    // and the exact residue differs per engine; real slopes at any data
    // scale are many orders above 1e-12
    val sloped = df.withColumn("slope", when(col("rn") >= minPoints, slopeNormed))
    val eta = when(abs(col("slope")) >= 1e-12, col("slope")).otherwise(lit(0.0))
    analyzed(sloped, eta)
  }

  // ------------------------------- oracle SQL -------------------------------

  /** DuckDB CTEs scoring a relation `rebinned(counter, ts, duration_sec,
    * count)` with Poisson lc; yields `scored(counter, ts, count, eta)`.
    */
  def poissonLcOracleCtes(alpha: Double = 0.99): String = {
    val etaRaw = "CASE WHEN l.mean IS NULL OR l.mean = 0 OR c.ci_w IS NULL OR c.ci_w = 0" +
      " THEN 0.0 ELSE abs(l.count - l.mean) / c.ci_w END"
    s"""lagged AS (
       |  SELECT counter, ts, count,
       |         lag(count) OVER (PARTITION BY counter ORDER BY ts) AS mean
       |  FROM rebinned),
       |${PoissonCi.widthSqlCte(alpha, "lagged", "mean")},
       |etas AS (
       |  SELECT l.counter, l.ts, l.count,
       |         $etaRaw AS eta_raw
       |  FROM lagged l LEFT JOIN ci_width c ON l.mean = c.mean),
       |scored AS (
       |  SELECT counter, ts, count, ${Rounding.trim2Sql("eta_raw")} AS eta
       |  FROM etas)""".stripMargin
  }

  /** Poisson cycle with an arbitrary period_list (models.py:287): the
    * period key partitions on each datetime attribute; DuckDB's
    * hour/day/month/minute match Spark's extraction exactly.
    */
  def poissonCycleMultiOracleCtes(alpha: Double, periodList: Seq[String]): String = {
    val attrs = periodList.map {
      case "hour" => "hour(ts)"
      case "day" => "day(ts)"
      case "month" => "month(ts)"
      case "minute" => "minute(ts)"
      case "second" => "second(ts)"
      case "year" => "year(ts)"
      case "weekday" => "(isodow(ts) - 1)" // Monday = 0, like Python/Spark weekday
      case p => throw new IllegalArgumentException(s"unsupported period attr $p")
    }.mkString(", ")
    val etaRaw = "CASE WHEN k.mean = 0 OR c.ci_w IS NULL OR c.ci_w = 0" +
      " THEN 0.0 ELSE abs(k.count - k.mean) / c.ci_w END"
    s"""keyed AS (
       |  SELECT counter, ts, count,
       |         sum(count) OVER (PARTITION BY counter, $attrs ORDER BY ts)
       |           / count(*) OVER (PARTITION BY counter, $attrs ORDER BY ts) AS mean
       |  FROM rebinned),
       |${PoissonCi.widthSqlCte(alpha, "keyed", "mean")},
       |etas AS (
       |  SELECT k.counter, k.ts, k.count, $etaRaw AS eta_raw
       |  FROM keyed k LEFT JOIN ci_width c ON k.mean = c.mean),
       |scored AS (
       |  SELECT counter, ts, count, ${Rounding.trim2Sql("eta_raw")} AS eta
       |  FROM etas)""".stripMargin
  }

  /** Same for Poisson cycle mode with period_list = [hour]. */
  def poissonCycleOracleCtes(alpha: Double = 0.99): String = {
    val etaRaw = "CASE WHEN k.mean = 0 OR c.ci_w IS NULL OR c.ci_w = 0" +
      " THEN 0.0 ELSE abs(k.count - k.mean) / c.ci_w END"
    s"""keyed AS (
       |  SELECT counter, ts, count,
       |         sum(count) OVER (PARTITION BY counter, hour(ts) ORDER BY ts)
       |           / count(*) OVER (PARTITION BY counter, hour(ts) ORDER BY ts) AS mean
       |  FROM rebinned),
       |${PoissonCi.widthSqlCte(alpha, "keyed", "mean")},
       |etas AS (
       |  SELECT k.counter, k.ts, k.count, $etaRaw AS eta_raw
       |  FROM keyed k LEFT JOIN ci_width c ON k.mean = c.mean),
       |scored AS (
       |  SELECT counter, ts, count, ${Rounding.trim2Sql("eta_raw")} AS eta
       |  FROM etas)""".stripMargin
  }

  /** Linear-regression model with a bounded regression window and
    * norm_by_mean (models.py:81-89): slope of the trailing `regWindow`
    * averaged counts, divided by their mean.
    */
  def linRegWindowedOracleCtes(minPoints: Int, avgWindow: Int,
                               regWindow: Int, normByMean: Boolean): String = {
    val frame = s"ROWS BETWEEN ${regWindow - 1} PRECEDING AND CURRENT ROW"
    val w = s"PARTITION BY counter ORDER BY ts $frame"
    val slope = s"covar_pop(rn, averaged) OVER ($w) / var_pop(rn) OVER ($w)"
    val normed0 = if (normByMean) s"($slope) / avg(averaged) OVER ($w)" else slope
    val normed = s"CASE WHEN abs($normed0) >= 1e-12 THEN $normed0 ELSE 0.0 END"
    s"""avgd AS (
       |  SELECT counter, ts, count,
       |         row_number() OVER (PARTITION BY counter ORDER BY ts) AS rn,
       |         CASE WHEN row_number() OVER (PARTITION BY counter ORDER BY ts) >= $avgWindow
       |              THEN avg(count) OVER (PARTITION BY counter ORDER BY ts
       |                                    ROWS BETWEEN ${avgWindow - 1} PRECEDING AND CURRENT ROW)
       |              ELSE 0.0 END AS averaged
       |  FROM rebinned),
       |slopes AS (
       |  SELECT counter, ts, count,
       |         CASE WHEN rn >= $minPoints THEN $normed ELSE 0.0 END AS eta_raw
       |  FROM avgd),
       |scored AS (
       |  SELECT counter, ts, count, ${Rounding.trim2Sql("eta_raw")} AS eta
       |  FROM slopes)""".stripMargin
  }

  /** Same for the linear-regression model (no norm, expanding window). */
  def linRegOracleCtes(minPoints: Int, avgWindow: Int): String =
    s"""avgd AS (
       |  SELECT counter, ts, count,
       |         row_number() OVER (PARTITION BY counter ORDER BY ts) AS rn,
       |         CASE WHEN row_number() OVER (PARTITION BY counter ORDER BY ts) >= $avgWindow
       |              THEN avg(count) OVER (PARTITION BY counter ORDER BY ts
       |                                    ROWS BETWEEN ${avgWindow - 1} PRECEDING AND CURRENT ROW)
       |              ELSE 0.0 END AS averaged
       |  FROM rebinned),
       |slopes AS (
       |  SELECT counter, ts, count,
       |         CASE WHEN rn >= $minPoints
       |               AND abs(covar_pop(rn, averaged) OVER (PARTITION BY counter ORDER BY ts
       |                                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |                       / var_pop(rn) OVER (PARTITION BY counter ORDER BY ts
       |                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) >= 1e-12
       |         THEN
       |           covar_pop(rn, averaged) OVER (PARTITION BY counter ORDER BY ts
       |                                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |           / var_pop(rn) OVER (PARTITION BY counter ORDER BY ts
       |                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |         ELSE 0.0 END AS eta_raw
       |  FROM avgd),
       |scored AS (
       |  SELECT counter, ts, count, ${Rounding.trim2Sql("eta_raw")} AS eta
       |  FROM slopes)""".stripMargin
}
