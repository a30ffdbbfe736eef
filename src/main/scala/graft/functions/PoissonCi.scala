package graft.functions

import org.apache.commons.math3.special.Gamma
import org.apache.spark.sql.Column

/** Equal-tail Poisson confidence-interval width, scipy-convention
  * (reference: `dists.poisson.interval(alpha, mean)[1] - [0]`,
  * models.py:301-310).
  *
  * ppf(q, μ) = min{k ∈ ℕ : CDF(k) ≥ q}, with the CDF accumulated
  * term-by-term as exp(k·lnμ − μ − lnΓ(k+1)). The summation (rather than a
  * closed-form inverse) is deliberate: the *identical* accumulation is
  * expressible in DuckDB SQL (sum of exp(k*ln(m) - m - lgamma(k+1)) over a
  * generated k range), so engine and oracle pick the same integer k. A
  * 1e-9 tolerance on the threshold absorbs libm ulp differences between
  * the JVM and DuckDB.
  *
  * Scale note: O(μ + 40√μ) per *distinct* (alpha, mean), and computed
  * once per JVM: [[width]] is backed by one bounded memo shared by every
  * [[PoissonCiWidth]] instance in every plan and by the streaming
  * scorers' scalar calls. Means repeat (they are lagged integer counts or
  * running averages of them), so after warm-up a row costs one map
  * lookup. The bound clears the memo when it passes `MemoMax` entries.
  * It covers every concurrent task and every alpha together (a
  * `poissonLcSweep` fills four alphas at once), and a clear drops the
  * entries other tasks are still reading. The largest measured workloads
  * stay far below it: the perfbench `trend` workload (batch and stream)
  * computes 1717 distinct (alpha, μ) and the 30 `trend_*` queries at
  * sf0.1 compute 1259 over four alphas, so 65536 entries (~6 MB) never
  * clear there. A corpus whose `poissonCycle` running averages exceed it
  * refills at O(μ + 40√μ) per key, which stays cheap at the count scales
  * this engine targets (μ ≲ 10⁵ per bin even at 100 TB of raw events,
  * because bins are bounded by the grid resolution, not data volume).
  */
object PoissonCi {
  private val Tol = 1e-9
  private val MemoMax = 1 << 16

  // keyed on the bit patterns, as java.lang.Double keys are: NaN finds
  // its own entry instead of adding a new one per call
  private final case class Key(alphaBits: Long, muBits: Long)
  private val memo = new java.util.concurrent.ConcurrentHashMap[Key, java.lang.Double]()

  /** interval(alpha, μ) upper − lower; equal tails of (1−alpha)/2 each.
    * μ must be > 0. Memoized JVM-wide on (alpha, μ).
    */
  def width(alpha: Double, mu: Double): Double = {
    val key = Key(java.lang.Double.doubleToLongBits(alpha), java.lang.Double.doubleToLongBits(mu))
    val w = memo.get(key)
    if (w != null) w
    else {
      val v = computeWidth(alpha, mu)
      if (memo.size > MemoMax) memo.clear()
      memo.put(key, v)
      v
    }
  }

  /** ppf(qHi) − ppf(qLo) in one CDF accumulation: ppf(q) = the smallest
    * k with CDF(k) ≥ q − tol (capped at kMax). qLo < qHi, so the upper
    * quantile's search continues from where the lower one stopped over
    * the same sequence of partial sums — both k are exactly those of two
    * separate searches.
    */
  private def computeWidth(alpha: Double, mu: Double): Double = {
    val qLo = (1.0 - alpha) / 2.0
    val qHi = 1.0 - qLo
    val lnMu = math.log(mu)
    val kMax = (mu + 40.0 * math.sqrt(mu) + 200.0).toLong
    var k = 0L
    var cdf = math.exp(-mu)
    def advanceTo(q: Double): Unit =
      while (cdf < q - Tol && k < kMax) {
        k += 1
        cdf += math.exp(k * lnMu - mu - Gamma.logGamma(k + 1.0))
      }
    advanceTo(qLo)
    val kLo = k
    advanceTo(qHi)
    (k - kLo).toDouble
  }

  /** Null-safe column form: null/≤0 mean → null (callers map to eta 0,
    * matching models.py:306-307). Backed by the codegen'd
    * [[PoissonCiWidth]] expression — inside whole-stage codegen this is a
    * static Java call, not a Scala-function UDF invocation per row.
    */
  def widthUdf(alpha: Double): Column => Column =
    (c: Column) => org.apache.spark.sql.graft.GraftShim.column(
      PoissonCiWidth(
        org.apache.spark.sql.graft.GraftShim.expression(c.cast("double")), alpha))

  /** DuckDB SQL fragment computing (mean → ci_width) for all distinct
    * positive means of `srcRel.meanCol`; yields relation (mean, ci_width).
    */
  def widthSqlCte(alpha: Double, srcRel: String, meanCol: String): String = {
    val qLo = (1.0 - alpha) / 2.0
    val qHi = 1.0 - qLo
    s"""ci_means AS (
       |  SELECT DISTINCT $meanCol AS mean FROM $srcRel
       |  WHERE $meanCol IS NOT NULL AND $meanCol > 0),
       |ci_ks AS (
       |  SELECT mean, unnest(range(0, (mean + 40*sqrt(mean) + 200)::BIGINT + 1)) AS k
       |  FROM ci_means),
       |ci_cdf AS (
       |  SELECT mean, k,
       |         sum(exp(k * ln(mean) - mean - lgamma(k + 1.0)))
       |           OVER (PARTITION BY mean ORDER BY k) AS c
       |  FROM ci_ks),
       |ci_width AS (
       |  SELECT mean,
       |         (min(CASE WHEN c >= ${qHi} - 1e-9 THEN k END)
       |          - min(CASE WHEN c >= ${qLo} - 1e-9 THEN k END))::DOUBLE AS ci_w
       |  FROM ci_cdf GROUP BY mean)""".stripMargin
  }
}
