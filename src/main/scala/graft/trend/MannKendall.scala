package graft.trend

import graft.functions.Rounding
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Mann-Kendall trend test, scored per point over the history seen so far —
  * the reference recomputes mk_test over the full count list at every
  * update (models.py:25-45, mk_test.py:14-77) and returns z only
  * (`mk_test(x, alpha)[3]`). An optional window_size scores the trailing
  * window instead (models.py:42-44).
  *
  * The reference is O(n²) per point ⇒ O(n³) per series. Here the
  * [[Steps.mk]] step carries S and the tie sum and updates them from an
  * order-statistics tree of the window as each value arrives (and,
  * windowed, as the oldest leaves), so a series costs O(n log n). It is
  * folded over each counter's bins in ts order, one exchange by counter; the
  * streaming scorer folds the same step. State is one window, bounded by
  * the grid bins, not by raw data volume.
  */
object MannKendall {

  /** Raw signed z per point, (counter, ts, count, z); ts is declared
    * nullable, as MK's output has always declared it.
    */
  private def scoredZ(binned: DataFrame, windowSize: Option[Int]): DataFrame =
    Steps.nullable(Steps.fold(binned, Steps.mk(windowSize)), "ts").withColumnRenamed("eta", "z")

  /** The model contract: z trimmed through the analyze-stage convention. */
  def apply(binned: DataFrame, windowSize: Option[Int] = None): DataFrame =
    scoredZ(binned, windowSize).select(col("counter"), col("ts"), col("count"),
      Rounding.trim2(col("z")).as("eta"))

  /** Full standalone-test surface: `(eta, p6, trend)` per point — the
    * reference's `mk_test` returns `(trend, h, p, z)` (mk_test.py:67-75:
    * two-tail p via the normal cdf, label by sign + significance at
    * `alpha`), while the model contract surfaces z only (models.py:45).
    * This is the view a user running the statistical test directly gets.
    * Unlike the model contract, z keeps its SIGN (mk_test.py never trims;
    * the analyze-stage `x > 0` clamp would erase every decreasing trend).
    *
    * p is computed from raw z via the Zelen–Severo 26.2.17 upper-tail
    * polynomial (|err| < 7.5e-8 — well inside the 6-dp emission; DuckDB
    * has no erf, so the oracle evaluates the literally identical
    * arithmetic). All ops but exp() are exactly-rounded IEEE arithmetic
    * on engine-identical inputs; exp may differ by 1 ulp between JVM and
    * libm, which flips the 6-dp rounding only if the true value sits
    * within an ulp of a 5e-7 boundary.
    * h = "p < alpha" replaces the reference's |z| > ppf(1−alpha/2) —
    * equivalent by monotonicity of the cdf, and comparing the rounded p6
    * keeps the label a pure function of emitted columns in both engines.
    */
  def fullTest(binned: DataFrame, alpha: Double = 0.05,
               windowSize: Option[Int] = None): DataFrame = {
    val az = abs(col("z"))
    val k = lit(1.0) / (lit(1.0) + lit(0.2316419) * az)
    val poly = k * (lit(0.319381530) + k * (lit(-0.356563782) +
      k * (lit(1.781477937) + k * (lit(-1.821255978) + k * lit(1.330274429)))))
    val phi = exp(az * az * lit(-0.5)) / lit(2.5066282746310002)
    val p = least(lit(2.0) * phi * poly, lit(1.0)) // two-tail 2·(1−cdf(|z|))
    scoredZ(binned, windowSize)
      .withColumn("p6", round(p, 6))
      .withColumn("trend",
        when(col("p6") < alpha && col("z") < 0, "decreasing")
          .when(col("p6") < alpha && col("z") > 0, "increasing")
          .otherwise("no trend"))
      .select("counter", "ts", "count", "z", "p6", "trend")
  }

  /** DuckDB CTEs for [[fullTest]], appended after [[oracleCtes]] (whose
    * `mk_z` carries the raw signed z); produces `mk_full`.
    */
  def fullTestOracleCtes(alpha: Double): String =
    s"""mk_k AS (
       |  SELECT counter, ts, count, z,
       |         1.0 / (1.0 + 0.2316419 * abs(z)) AS kk
       |  FROM mk_z),
       |mk_p AS (
       |  SELECT counter, ts, count, z,
       |         round(least(2.0 * (exp(abs(z) * abs(z) * -0.5) / 2.5066282746310002)
       |           * (kk * (0.319381530 + kk * (-0.356563782 + kk * (1.781477937
       |              + kk * (-1.821255978 + kk * 1.330274429))))), 1.0), 6) AS p6
       |  FROM mk_k),
       |mk_full AS (
       |  SELECT counter, ts, count, z, p6,
       |         CASE WHEN p6 < $alpha AND z < 0 THEN 'decreasing'
       |              WHEN p6 < $alpha AND z > 0 THEN 'increasing'
       |              ELSE 'no trend' END AS trend
       |  FROM mk_p)""".stripMargin

  /** DuckDB oracle: O(n²) prefix-pair formulation over
    * `rebinned(counter, ts, duration_sec, count)` → `scored(...)`. Feasible
    * at oracle scale (sf0.01); the engine itself updates S incrementally.
    */
  def oracleCtes: String =
    s"""mk_idx AS (
       |  SELECT counter, ts, count,
       |         row_number() OVER (PARTITION BY counter ORDER BY ts) AS i
       |  FROM rebinned),
       |mk_delta AS (
       |  SELECT a.counter, a.i,
       |         sum(CASE WHEN a.count > b.count THEN 1
       |                  WHEN a.count < b.count THEN -1 ELSE 0 END) AS d_s,
       |         sum(CASE WHEN a.count = b.count THEN 1 ELSE 0 END) AS n_eq
       |  FROM mk_idx a JOIN mk_idx b
       |    ON a.counter = b.counter AND b.i < a.i
       |  GROUP BY a.counter, a.i),
       |mk_tie AS (
       |  SELECT counter, i, d_s,
       |         (((n_eq+1)*n_eq*(2*(n_eq+1)+5)) - (n_eq*(n_eq-1)*(2*n_eq+5)))::DOUBLE AS tie_delta
       |  FROM mk_delta),
       |mk_run AS (
       |  SELECT x.counter, x.ts, x.count, x.i,
       |         coalesce(sum(t.d_s) OVER (PARTITION BY x.counter ORDER BY x.i), 0)::DOUBLE AS s,
       |         (x.i::DOUBLE * (x.i-1) * (2*x.i+5)
       |          - coalesce(sum(t.tie_delta) OVER (PARTITION BY x.counter ORDER BY x.i), 0)
       |          - 0) / 18.0 AS var_s_pre
       |  FROM mk_idx x LEFT JOIN mk_tie t ON x.counter = t.counter AND x.i = t.i),
       |mk_z AS (
       |  SELECT counter, ts, count,
       |         CASE WHEN var_s_pre <= 0 THEN 0.0
       |              WHEN s > 0 THEN (s - 1) / sqrt(var_s_pre)
       |              WHEN s < 0 THEN (s + 1) / sqrt(var_s_pre)
       |              ELSE 0.0 END AS z
       |  FROM mk_run),
       |scored AS (
       |  SELECT counter, ts, count, ${Rounding.trim2Sql("z")} AS eta
       |  FROM mk_z)""".stripMargin

  /** Windowed variant (models.py:42-44: mk_test over the trailing
    * `windowSize` counts at every point). O(n·w²) pair enumeration —
    * oracle-scale only; the engine slides S over the window.
    */
  def windowedOracleCtes(windowSize: Int): String = {
    val w1 = windowSize - 1
    s"""mk_idx AS (
       |  SELECT counter, ts, count,
       |         row_number() OVER (PARTITION BY counter ORDER BY ts) AS i
       |  FROM rebinned),
       |mkw_s AS (
       |  SELECT a.counter, a.i,
       |         sum(CASE WHEN c.count > b.count THEN 1
       |                  WHEN c.count < b.count THEN -1 ELSE 0 END) AS s
       |  FROM mk_idx a
       |  JOIN mk_idx b ON b.counter = a.counter AND b.i BETWEEN a.i - $w1 AND a.i
       |  JOIN mk_idx c ON c.counter = a.counter AND c.i BETWEEN b.i + 1 AND a.i
       |  GROUP BY a.counter, a.i),
       |mkw_n AS (
       |  SELECT a.counter, a.i, b.count AS v, count(*) AS cnt
       |  FROM mk_idx a
       |  JOIN mk_idx b ON b.counter = a.counter AND b.i BETWEEN a.i - $w1 AND a.i
       |  GROUP BY a.counter, a.i, b.count),
       |mkw_tie AS (
       |  SELECT counter, i, sum(cnt)::DOUBLE AS n,
       |         sum(cnt*(cnt-1)*(2*cnt+5))::DOUBLE AS ties
       |  FROM mkw_n GROUP BY counter, i),
       |mkw_z AS (
       |  SELECT x.counter, x.ts, x.count,
       |         CASE WHEN (t.n*(t.n-1)*(2*t.n+5) - t.ties) / 18.0 <= 0 THEN 0.0
       |              WHEN coalesce(s.s, 0) > 0
       |                THEN (s.s - 1) / sqrt((t.n*(t.n-1)*(2*t.n+5) - t.ties) / 18.0)
       |              WHEN coalesce(s.s, 0) < 0
       |                THEN (s.s + 1) / sqrt((t.n*(t.n-1)*(2*t.n+5) - t.ties) / 18.0)
       |              ELSE 0.0 END AS z
       |  FROM mk_idx x
       |  LEFT JOIN mkw_s s ON x.counter = s.counter AND x.i = s.i
       |  JOIN mkw_tie t ON x.counter = t.counter AND x.i = t.i),
       |scored AS (
       |  SELECT counter, ts, count, ${Rounding.trim2Sql("z")} AS eta
       |  FROM mkw_z)""".stripMargin
  }
}
