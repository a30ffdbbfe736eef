package graft.trend

import graft.functions.{PoissonCi, Rounding}
import java.time.ZoneId
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Trend-scoring models over a rebinned series table
  * (counter, ts, count[, duration_sec]). Each model emits the reference's
  * "analyzed" shape (analysis.py:159-201): (counter, ts, count, eta) with
  * eta trimmed to 2 significant digits when positive, else 0.
  *
  * The reference drives a mutable model object point-by-point per counter
  * (analysis.py:176-186), and so does each model here: its [[Steps]]
  * step is folded over each counter's bins in ts order, one exchange by
  * counter, and the streaming scorers fold the same step. The raw eta is
  * trimmed by the native [[graft.functions.Trim2]].
  */
object Models {

  // ------------------------------------------------------------------
  // Poisson, mode "lc": background mean = previous count (models.py:274-282).
  // ------------------------------------------------------------------
  def poissonLc(binned: DataFrame, alpha: Double = 0.99): DataFrame =
    Steps.analyzed(binned, Steps.lc(alpha))

  /** Alpha-sensitivity sweep of the lc-Poisson detector — detections per
    * confidence level, the evaluation a deployment runs to pick
    * config.cfg's `alpha` (the reference exposes it as tuning config,
    * config.cfg:38). ONE pass: one lc fold scores every alpha at each bin.
    * Output per alpha: (alpha_mil = α·1000 exact, n_scored, n_detected)
    * with detections = trimmed eta > theta.
    */
  def poissonLcSweep(binned: DataFrame,
                     alphas: Seq[Double] = Seq(0.9, 0.95, 0.99, 0.999),
                     theta: Double = 1.0): DataFrame = {
    val branches = alphas.zipWithIndex.map { case (a, i) =>
      struct(lit(math.round(a * 1000)).as("alpha_mil"),
        Rounding.trim2(col("eta")(i)).as("eta"))
    }
    Steps.fold(binned, Steps.lcSweep(alphas))
      .select(explode(array(branches: _*)).as("ae"))
      .groupBy(col("ae.alpha_mil").as("alpha_mil"))
      .agg(count(lit(1)).as("n_scored"),
        sum(when(col("ae.eta") > theta, 1L).otherwise(0L)).as("n_detected"))
  }

  // ------------------------------------------------------------------
  // Poisson, mode "a": background mean = running average of counts sharing
  // the same period key (e.g. hour-of-day), INCLUDING the current point
  // (models.py:284-298), keyed in the session timezone.
  // ------------------------------------------------------------------
  def poissonCycle(binned: DataFrame, alpha: Double = 0.99,
                   periodList: Seq[String] = Seq("hour")): DataFrame = {
    val zone = ZoneId.of(binned.sparkSession.sessionState.conf.sessionLocalTimeZone)
    Steps.analyzed(binned, Steps.cycle(alpha, periodList, zone))
  }

  // ------------------------------------------------------------------
  // LinearRegression slope model (models.py:47-90), see [[Steps.linReg]]:
  // the OLS slope of the trailing averaged counts, optionally over their
  // mean, gated to 0 until minPoints rows.
  // ------------------------------------------------------------------
  def linReg(binned: DataFrame, minPoints: Int,
             avgWindow: Int = 1,
             regWindow: Option[Int] = None,
             normByMean: Boolean = false): DataFrame =
    Steps.analyzed(binned, Steps.linReg(minPoints, avgWindow, regWindow, normByMean))

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
