package graft.trend

/** The reference-library series transformations (library.py:99-174),
  * as pure Array[Double] functions mirroring the Python float semantics
  * operation-for-operation (same accumulation order) so the WDT scoring
  * kernel is reproducible by the DuckDB oracle to libm-ulp precision.
  */
object SeriesTransforms {

  /** WDT / library configuration (config.cfg.example:60-78 names). */
  final case class Config(
      seriesLength: Int = 50,      // models.py:113-116
      referenceLength: Int = 210,  // models.py:118-121, library.py:33
      nSmooth: Int = 80,           // library.py:34
      baselineOffset: Int = 40,    // library.py:108 (required key)
      lambda: Double = 1.0,        // models.py:123-126
      alpha: Double = 1.2)         // library.py:35 (spike normalization)

  /** library.py:99-101 */
  def addOne(s: Array[Double]): Array[Double] = s.map(_ + 1.0)

  /** library.py:103-114 — normalize by the mean of the Python slice
    * [-(referenceLength+offset) : -offset] divided by referenceLength
    * (note: NOT by the slice length), 1e-5 floor when the slice sums to 0.
    */
  def unitNormalization(s: Array[Double], cfg: Config): Array[Double] = {
    val lo = math.max(0, s.length - (cfg.referenceLength + cfg.baselineOffset))
    val hi = math.max(0, s.length - cfg.baselineOffset)
    var total = 0.0
    var i = lo
    while (i < hi) { total += s(i); i += 1 }
    total = total / cfg.referenceLength
    val t = if (total == 0.0) 0.00001 else total
    s.map(_ / t)
  }

  /** library.py:116-127 — |pt − prev|^alpha, 0 stays 0, prev starts at 0. */
  def spikeNormalization(s: Array[Double], cfg: Config): Array[Double] = {
    var prev = 0.0
    s.map { pt =>
      val np = if (pt == 0.0) 0.0 else math.pow(math.abs(pt - prev), cfg.alpha)
      prev = pt
      np
    }
  }

  /** library.py:129-138 — trailing mean whose window grows to nSmooth then
    * slides: smoothed(j) = mean of the last min(j+1, nSmooth) points.
    */
  def smoothing(s: Array[Double], cfg: Config): Array[Double] =
    Array.tabulate(s.length) { j =>
      val lo = math.max(0, j - cfg.nSmooth + 1)
      var sum = 0.0
      var i = lo
      while (i <= j) { sum += s(i); i += 1 }
      sum / (j - lo + 1)
    }

  /** library.py:163-170 — log10 with a 1e-5 floor for non-positives. */
  def logarithmicScaling(s: Array[Double]): Array[Double] =
    s.map(pt => math.log10(if (pt <= 0) 0.00001 else pt))

  /** library.py:172-174 — keep the last referenceLength points. */
  def sizing(s: Array[Double], cfg: Config): Array[Double] =
    s.takeRight(cfg.referenceLength)

  /** Reference-series chain (library.py:41-47): add_one → unit_norm →
    * log → smooth → sizing.
    */
  def referenceChain(s: Array[Double], cfg: Config): Array[Double] =
    sizing(smoothing(logarithmicScaling(unitNormalization(addOne(s), cfg)), cfg), cfg)

  /** Test-series chain (library.py:50-54): same minus sizing. */
  def testChain(s: Array[Double], cfg: Config): Array[Double] =
    smoothing(logarithmicScaling(unitNormalization(addOne(s), cfg)), cfg)

  /** min over all `len`-sized subwindows of ref of the L1 distance to
    * test — the reference's (mis-)named "euclidean" (models.py:206-211,
    * 232-236, library.py:12-19; the paper says squared-Euclidean,
    * trends.tex:417-419 — code wins).
    */
  def minSlidingL1(ref: Array[Double], test: Array[Double]): Double = {
    val len = test.length
    var best = Double.MaxValue
    var p = 0
    while (p + len <= ref.length) {
      var s = 0.0
      var i = 0
      while (i < len) { s += math.abs(ref(p + i) - test(i)); i += 1 }
      if (s < best) best = s
      p += 1
    }
    best
  }
}
