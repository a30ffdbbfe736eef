package graft.trend

import graft.functions.{PoissonCi, Rounding}
import java.time.{ZoneId, ZonedDateTime}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.catalyst.expressions.KnownNullable
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftShim
import org.apache.spark.sql.types.DoubleType
import scala.reflect.runtime.universe.TypeTag

/** The paper's five models, each written once as the reference runs it:
  * a per-counter state fed one bin at a time in ts order ("each model to
  * get updated point-by-point", README.md:163-166; analysis.py:176-186).
  * A [[Steps.Model]] is a zero state plus a step that folds one bin
  * (epoch micros, count) into the state and returns the bin's raw eta.
  *
  * The batch models fold the step over each counter's sorted bins
  * ([[Steps.analyzed]]); the streaming scorers
  * (`graft.streaming.StreamingTrend`) fold the same step across
  * micro-batches in keyed state. Each state is the reference model's
  * mutable members, plus `lastTsUs`, the latest bin folded in, which the
  * stream uses to drop replayed bins. State per counter is O(1) for lc,
  * O(period keys) for cycle, O(avgWindow + regWindow) for linReg,
  * O(referenceLength) for WDT, O(windowSize) for windowed MK and the
  * series so far (bounded by grid bins, not event volume) for expanding
  * MK.
  */
object Steps {

  // not `private`: Spark's encoder codegen needs public access to these
  /** What every model state holds: epoch micros of the latest bin folded in. */
  sealed trait ScorerState { def lastTsUs: Long }
  /** Poisson lc: epoch micros + count of the latest bin folded in. */
  final case class LcState(lastTsUs: Long, lastCount: Double) extends ScorerState
  /** Poisson cycle: per period-key running (num, denom) accumulators —
    * exactly the reference's periodic_data dict (models.py:284-298).
    */
  final case class CycleState(lastTsUs: Long, keys: Map[String, (Double, Long)]) extends ScorerState
  /** WDT: the trailing `referenceLength` counts and the running count sum. */
  final case class BufState(lastTsUs: Long, counts: List[Double], runsum: Double)
      extends ScorerState
  /** Mann-Kendall: S and the tie sum Σ t(t−1)(2t+5) over the window, the
    * number of values seen, and the window as a treap in arrays ([[MkTree]]):
    * slot i holds the value that arrived i-th (modulo the window size),
    * its children (−1 for none) and its subtree's size. The step updates
    * the arrays in place, so each state is stepped at most once.
    */
  final case class MkState(lastTsUs: Long, s: Double, tieSum: Double, n: Long, root: Int,
                           key: Array[Double], left: Array[Int], right: Array[Int],
                           size: Array[Int]) extends ScorerState
  /** LinReg: row counter, the trailing `avgWindow` raw counts, and either
    * the co-moment accumulators (expanding regression) or the trailing
    * `regWindow` averaged values (bounded regression).
    */
  final case class LinRegState(lastTsUs: Long, rn: Long,
                               recent: List[Double], avgBuf: List[Double],
                               n: Long, xAvg: Double, yAvg: Double,
                               ck: Double, xM2: Double, ySum: Double) extends ScorerState

  /** A model: its zero state and the step folding one bin (epoch micros,
    * count) into the state, which also returns the bin's raw eta.
    */
  final case class Model[S <: ScorerState, E](zero: S, step: (S, Long, Double) => (S, E))

  private def model[S <: ScorerState, E](zero: S)(step: (S, Long, Double) => (S, E)): Model[S, E] =
    Model(zero, step)

  private val NoBin = Long.MinValue

  // ------------------------------- the batch fold -------------------------------

  /** One counter's bin as the fold reads it: epoch micros and count. */
  private[trend] final case class Pt(t: Long, count: Double)
  /** One folded bin: the model's raw eta beside the bin. */
  private[trend] final case class Folded[E](counter: String, t: Long, count: Double, eta: E)

  /** Each counter's bins of `binned` (counter, ts, count) in ts order,
    * folded through `model` from its zero state: one (counter, ts, count,
    * eta) row per bin with the raw eta. One exchange by counter.
    */
  private[trend] def fold[S <: ScorerState, E: TypeTag](binned: DataFrame,
                                                        model: Model[S, E]): DataFrame =
    binned.select(col("counter"), unix_micros(col("ts")).as("t"),
        col("count").cast(DoubleType).as("count"))
      .groupBy(col("counter")).as[String, Pt](Encoders.STRING, Encoders.product[Pt])
      .flatMapSortedGroups(col("t")) { (counter, pts) =>
        var st = model.zero
        pts.map { p =>
          val (next, eta) = model.step(st, p.t, p.count)
          st = next
          Folded(counter, p.t, p.count, eta)
        }
      }(Encoders.product[Folded[E]])
      .select(col("counter"), timestamp_micros(col("t")).as("ts"), col("count"), col("eta"))

  /** `df` with the named columns declared nullable; values untouched. */
  private[trend] def nullable(df: DataFrame, names: String*): DataFrame =
    df.select(df.columns.toSeq.map { c =>
      if (names.contains(c)) GraftShim.column(KnownNullable(GraftShim.expression(col(c)))).as(c)
      else col(c)
    }: _*)

  /** The reference's "analyzed" shape (analysis.py:159-201): (counter, ts,
    * count, eta), eta trimmed to 2 significant digits when positive, else 0.
    * ts and count keep the nullability `binned` declares for them.
    */
  private[trend] def analyzed[S <: ScorerState](binned: DataFrame,
                                                model: Model[S, Double]): DataFrame =
    nullable(fold(binned, model), Seq("ts", "count").filter(binned.schema(_).nullable): _*)
      .withColumn("eta", Rounding.trim2(col("eta")))

  // ----------------------------------- Poisson -----------------------------------

  /** Poisson eta |c − ν| / CI width; 0 for a mean ≤ 0 or a zero width
    * (models.py:306,331-340).
    */
  private def poissonEta(alpha: Double, count: Double, mean: Double): Double = {
    val w = if (mean <= 0.0) 0.0 else PoissonCi.width(alpha, mean)
    if (w == 0.0) 0.0 else math.abs(count - mean) / w
  }

  private def lcWith[E](eta: (Double, Double) => E): Model[LcState, E] =
    model(LcState(NoBin, -1.0)) { (st, t, c) => (LcState(t, c), eta(c, st.lastCount)) }

  /** Poisson, mode "lc": the background mean is the previous bin's count
    * (models.py:274-282); none before the first bin, which scores 0.
    */
  private[graft] def lc(alpha: Double): Model[LcState, Double] = lcWith(poissonEta(alpha, _, _))

  /** The lc step scored at several confidence levels: one eta per alpha. */
  private[graft] def lcSweep(alphas: Seq[Double]): Model[LcState, Array[Double]] = {
    val as = alphas.toArray
    lcWith((c, mean) => as.map(poissonEta(_, c, mean)))
  }

  /** Poisson, mode "a": the background mean is the running average of the
    * counts sharing the bin's period key, the current one included —
    * update() adds the count before computing the mean (models.py:284-298).
    * The key is the ':'-joined datetime attributes of `periodList`
    * (models.py:287) in `zone`, the session zone Spark's hour()/dayofmonth()
    * use; weekday is Python's, Monday = 0 .. Sunday = 6.
    */
  private[graft] def cycle(alpha: Double, periodList: Seq[String],
                           zone: ZoneId): Model[CycleState, Double] = {
    val attrs: Seq[ZonedDateTime => Int] = periodList.map {
      case "hour" => _.getHour
      case "day" => _.getDayOfMonth
      case "month" => _.getMonthValue
      case "minute" => _.getMinute
      case "second" => _.getSecond
      case "year" => _.getYear
      case "weekday" => _.getDayOfWeek.getValue - 1
      case p => throw new IllegalArgumentException(s"unsupported period attr $p")
    }
    model(CycleState(NoBin, Map.empty)) { (st, t, c) =>
      val at = DateTimeUtils.microsToInstant(t).atZone(zone)
      val k = attrs.map(_(at)).mkString(":")
      val (num, denom) = st.keys.getOrElse(k, (0.0, 0L))
      val (n2, d2) = (num + c, denom + 1)
      (CycleState(t, st.keys.updated(k, (n2, d2))), poissonEta(alpha, c, n2 / d2))
    }
  }

  // ------------------------------ linear regression ------------------------------

  /** One (x, y) point into the regression accumulators, in the update
    * order of Spark's Covariance / CentralMomentAgg / Average aggregates
    * (covar_pop, var_pop and avg over a window frame, the form the oracle
    * uses), so the slope is the one those aggregates give bit for bit.
    */
  private def regAdd(a: LinRegState, x: Double, y: Double): LinRegState = {
    val n = a.n + 1
    val dx = x - a.xAvg
    val dy = y - a.yAvg
    val xAvg = a.xAvg + dx / n
    val yAvg = a.yAvg + dy / n
    a.copy(n = n, xAvg = xAvg, yAvg = yAvg, ck = a.ck + dx * (y - yAvg),
      xM2 = a.xM2 + dx * (x - xAvg), ySum = a.ySum + y)
  }

  /** LinearRegression slope model (models.py:47-90). Per bin:
    *   averaged = mean of the trailing `avgWindow` counts once that many
    *              have been seen, else 0 (models.py:70-74);
    *   eta = OLS slope of the averaged values of the trailing `regWindow`
    *         bins (or the whole history) against their row numbers,
    *         divided by their mean when `normByMean`, gated to 0 until
    *         `minPoints` bins (models.py:79-90).
    * The expanding regression adds each bin once; a bounded one re-adds
    * its window in order from zero, as a sliding window frame does.
    * Epsilon floor: a flat window yields a slope ~1e-17 from the
    * accumulation instead of 0; real slopes are many orders above 1e-12.
    * An all-zero window has no mean to divide by, and scores 0.
    */
  private[graft] def linReg(minPoints: Int, avgWindow: Int, regWindow: Option[Int],
                            normByMean: Boolean): Model[LinRegState, Double] = {
    val zero = LinRegState(NoBin, 0L, Nil, Nil, 0L, 0.0, 0.0, 0.0, 0.0, 0.0)
    model(zero) { (st, t, c) =>
      val rn = st.rn + 1
      val recent = (st.recent :+ c).takeRight(avgWindow)
      // Average agg over the trailing frame: ordered sum, then /count
      val averaged =
        if (rn >= avgWindow) recent.foldLeft(0.0)(_ + _) / avgWindow.toDouble
        else 0.0
      val x = rn.toDouble
      val (acc, next) = regWindow match {
        case None => val a = regAdd(st, x, averaged); (a, a)
        case Some(w) =>
          val buf = (st.avgBuf :+ averaged).takeRight(w)
          val fromZero = buf.foldLeft((zero, x - buf.length + 1)) {
            case ((a, xi), y) => (regAdd(a, xi, y), xi + 1) }
          (fromZero._1, st.copy(avgBuf = buf))
      }
      val slope = (acc.ck / acc.n) / (acc.xM2 / acc.n)
      val slopeNormed = if (normByMean) slope / (acc.ySum / acc.n) else slope
      val eta =
        if (rn >= minPoints && math.abs(slopeNormed) >= 1e-12) slopeNormed
        else 0.0
      (next.copy(lastTsUs = t, rn = rn, recent = recent), eta)
    }
  }

  // -------------------------------- Mann-Kendall --------------------------------

  private def fTie(t: Long): Double = t.toDouble * (t - 1) * (2 * t + 5)

  /** The window of an [[MkState]] as an order-statistics treap over its
    * slots, ordered by (value, slot); a slot's heap priority is a hash of
    * the slot number, so the expected depth is O(log n) whatever the values.
    */
  private final class MkTree(st: MkState) {
    import st.{key, left, right, size}
    var root: Int = st.root
    private def pri(i: Int): Int = scala.util.hashing.byteswap32(i)
    private def sz(i: Int): Int = if (i < 0) 0 else size(i)
    private def fix(i: Int): Unit = size(i) = sz(left(i)) + sz(right(i)) + 1
    private def before(i: Int, j: Int): Boolean =
      key(i) < key(j) || (key(i) == key(j) && i < j)

    /** The subtrees of `t` before and after slot `j`. */
    private def split(t: Int, j: Int): (Int, Int) =
      if (t < 0) (-1, -1)
      else if (before(t, j)) { val (a, b) = split(right(t), j); right(t) = a; fix(t); (t, b) }
      else { val (a, b) = split(left(t), j); left(t) = b; fix(t); (a, t) }
    private def merge(a: Int, b: Int): Int =
      if (a < 0) b
      else if (b < 0) a
      else if (pri(a) > pri(b)) { right(a) = merge(right(a), b); fix(a); a }
      else { left(b) = merge(a, left(b)); fix(b); b }

    def insert(j: Int): Unit = {
      left(j) = -1; right(j) = -1; size(j) = 1
      val (a, b) = split(root, j)
      root = merge(merge(a, j), b)
    }
    def remove(j: Int): Unit = {
      def go(t: Int): Int =
        if (t == j) merge(left(t), right(t))
        else {
          if (before(j, t)) left(t) = go(left(t)) else right(t) = go(right(t))
          size(t) -= 1; t
        }
      root = go(root)
    }
    /** How many values lie below `x` and how many not above it. */
    def ranks(x: Double): (Int, Int) = {
      var (t, lo, hi) = (root, 0, 0)
      while (t >= 0) if (key(t) < x) { lo += sz(left(t)) + 1; t = right(t) } else t = left(t)
      t = root
      while (t >= 0) if (key(t) <= x) { hi += sz(left(t)) + 1; t = right(t) } else t = left(t)
      (lo, hi)
    }
  }

  /** Mann-Kendall z (mk_test.py:14-77) over the history so far, or over
    * the trailing `windowSize` counts (models.py:42-44), per bin:
    *   S      = Σ_{k<j} sign(x_j − x_k)                      (mk_test.py:41-44)
    *   var(S) = (n(n−1)(2n+5) − Σ_g t_g(t_g−1)(2t_g+5)) / 18 (mk_test.py:46-57)
    *   z      = (S−1)/√var  if S>0;  0 if S=0;  (S+1)/√var   (mk_test.py:59-64)
    * The raw z keeps its sign. Incremental: a new value adds the earlier
    * values below it minus those above it to S, and t(t+1)(2t+7) −
    * t(t−1)(2t+5) to the tie sum for the t equal ones, both counted in the
    * window's treap. In windowed mode the oldest value leaves first, from
    * the slot the new one takes: it was the earlier one in every pair it
    * joined, so S loses the later values above it minus those below.
    * Per bin O(log n) expected, so a series costs O(n log n). S and var(S)
    * are integers held in doubles, so z equals the per-window
    * recomputation's bit for bit, and sqrt/divide are correctly-rounded
    * IEEE ops, so the oracle reproduces it.
    */
  private[graft] def mk(windowSize: Option[Int]): Model[MkState, Double] = {
    val w = windowSize.getOrElse(Int.MaxValue)
    val none = Array.emptyIntArray
    model(MkState(NoBin, 0.0, 0.0, 0L, -1, Array.emptyDoubleArray, none, none, none)) {
      (st0, t, x) =>
        val slot = (st0.n % w).toInt
        val st =
          if (slot < st0.key.length) st0
          else { // grow; the zero state's empty arrays are never written
            val cap = math.min(math.max(16, 2 * st0.key.length), w)
            st0.copy(key = java.util.Arrays.copyOf(st0.key, cap),
              left = java.util.Arrays.copyOf(st0.left, cap),
              right = java.util.Arrays.copyOf(st0.right, cap),
              size = java.util.Arrays.copyOf(st0.size, cap))
          }
        val tree = new MkTree(st)
        var (s, tieSum) = (st.s, st.tieSum)
        if (st.n >= w) {
          val o = st.key(slot)
          tree.remove(slot)
          val (lo, hi) = tree.ranks(o)
          s -= (w - 1 - hi) - lo
          tieSum += fTie(hi - lo) - fTie(hi - lo + 1)
        }
        val live = math.min(st.n, w - 1L)
        val (lo, hi) = tree.ranks(x)
        s += lo - (live - hi)
        tieSum += fTie(hi - lo + 1) - fTie(hi - lo)
        st.key(slot) = x
        tree.insert(slot)
        val n = (live + 1).toDouble
        val varS = (n * (n - 1) * (2 * n + 5) - tieSum) / 18.0
        val z =
          if (varS <= 0) 0.0
          else if (s > 0) (s - 1) / math.sqrt(varS)
          else if (s < 0) (s + 1) / math.sqrt(varS)
          else 0.0
        (st.copy(lastTsUs = t, s = s, tieSum = tieSum, n = st.n + 1, root = tree.root), z)
    }
  }

  // ------------------------------------ WDT ------------------------------------

  /** WeightedDataTemplates (models.py:92-236): the trailing
    * `referenceLength` counts scored against the collected library by
    * [[Wdt.windowEta]]; 0 until `referenceLength` bins have been seen AND
    * the running count sum is nonzero (models.py:158-161).
    */
  private[graft] def wdt(library: Broadcast[Array[(Boolean, Array[Double])]],
                         cfg: SeriesTransforms.Config): Model[BufState, Double] =
    model(BufState(NoBin, Nil, 0.0)) { (st, t, c) =>
      val kept = (st.counts :+ c).takeRight(cfg.referenceLength)
      val runsum = st.runsum + c
      val eta =
        if (kept.length < cfg.referenceLength || runsum == 0.0) 0.0
        else Wdt.windowEta(kept.toArray, library.value, cfg)
      (BufState(t, kept, runsum), eta)
    }
}
