package graft.trend

import graft.SparkSpec
import graft.functions.{PoissonCi, Rounding}
import graft.streaming.StreamingTrend
import graft.streaming.StreamingTrend.{Binned, Scored}
import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => Check}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed

/** Property: every trend model scores random multi-counter series the same
  * three ways — the batch model, its streaming scorer fed the bins as a
  * `MemoryStream` in two or three micro-batches, and a plain-Scala loop of
  * the reference formula (models.py, mk_test.py, library.py). The series
  * have zero runs, heavy ties, ts gaps and one-bin counters.
  *
  * Batch and stream must agree bit for bit. The reference loop sums in
  * its own order, so for linReg its eta may sit on the other side of a
  * 2-significant-digit rounding tie; only there may it differ from the
  * trimmed batch eta. Everything else must be equal.
  */
class ModelTwinsSpec extends SparkSpec {
  import spark.implicits._
  private implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val HourMs = 3600000L
  private val Base = 1704067200000L // 2024-01-01T00:00Z, a Monday
  private val Theta = 1.0
  private val Alphas = Seq(0.9, 0.95, 0.99, 0.999)
  private val WdtCfg = SeriesTransforms.Config(seriesLength = 3, referenceLength = 5,
    nSmooth = 2, baselineOffset = 1, lambda = 0.1)

  /** One draw: per counter its (epoch ms, count) bins in ts order, and
    * the share of bins (in ts order) each micro-batch takes.
    */
  private case class Draw(series: Map[String, Seq[(Long, Double)]], cuts: Seq[Double]) {
    def bins: Seq[Binned] = series.toSeq.flatMap { case (k, pts) =>
      pts.map { case (t, c) => Binned(k, new Timestamp(t), 3600.0, c) }
    }.sortBy(b => (b.ts.getTime, b.counter))
    def frame: DataFrame = bins.toDF()
    /** The bins split on the time axis, so each counter's bins rise across chunks. */
    def chunks: Seq[Seq[Binned]] = {
      val bs = bins
      val ends = cuts.map(f => (f * bs.size).toInt) :+ bs.size
      (0 +: ends).zip(ends).map { case (a, b) => bs.slice(a, b) }
    }
  }

  private val draws: Gen[Draw] = {
    val value = Gen.frequency(
      3 -> Gen.const(0.0), 4 -> Gen.choose(1, 3).map(_.toDouble), 2 -> Gen.choose(4, 40).map(_.toDouble))
    // a value and how often it repeats: zero runs and heavy ties
    val run = for {
      v <- value
      k <- Gen.frequency(5 -> Gen.const(1), 2 -> Gen.choose(2, 12))
    } yield Seq.fill(k)(v)
    // mostly hourly, some gaps of hours, a day or a week
    val gap = Gen.frequency(12 -> Gen.const(1), 2 -> Gen.choose(2, 6),
      1 -> Gen.choose(20, 26), 1 -> Gen.choose(160, 172))
    val series = for {
      n <- Gen.frequency(1 -> Gen.const(1), 5 -> Gen.choose(2, 70))
      counts <- Gen.listOfN(n, run).map(_.flatten.take(n))
      gaps <- Gen.listOfN(n, gap)
      start <- Gen.choose(0, 48)
    } yield gaps.scanLeft(start.toLong)(_ + _).tail.map(Base + _ * HourMs).zip(counts)
    val names = Seq("a", "bb", "c", "dd", "e", "ff")
    for {
      k <- Gen.choose(2, names.size)
      ss <- Gen.listOfN(k, series)
      cuts <- Gen.oneOf(Gen.choose(0.2, 0.8).map(Seq(_)),
        Gen.choose(0.1, 0.45).map(c => Seq(c, c + 0.4)))
    } yield Draw(names.take(k).zip(ss).toMap, cuts)
  }

  // ------------------------- the reference formulas -------------------------

  /** models.py:331-340: |c − ν| / CI width; 0 without a positive mean. */
  private def poissonRef(alpha: Double, c: Double, mean: Double): Double =
    if (!(mean > 0)) 0.0
    else {
      val w = PoissonCi.width(alpha, mean)
      if (w == 0.0) 0.0 else math.abs(c - mean) / w
    }

  /** Poisson lc: the background mean is the previous count. */
  private def lcRef(alpha: Double)(pts: Seq[(Long, Double)]): Seq[Double] =
    pts.indices.map(i => if (i == 0) 0.0 else poissonRef(alpha, pts(i)._2, pts(i - 1)._2))

  /** Poisson cycle: the running mean of the counts sharing the period
    * key, the current one included (models.py:284-298), keys in UTC.
    */
  private def cycleRef(periods: Seq[String])(pts: Seq[(Long, Double)]): Seq[Double] = {
    val sums = scala.collection.mutable.Map.empty[String, (Double, Long)]
    pts.map { case (t, c) =>
      val z = java.time.Instant.ofEpochMilli(t).atZone(java.time.ZoneOffset.UTC)
      val key = periods.map {
        case "hour" => z.getHour
        case "weekday" => z.getDayOfWeek.getValue - 1
      }.mkString(":")
      val (s, n) = sums.getOrElse(key, (0.0, 0L))
      sums(key) = (s + c, n + 1)
      poissonRef(0.99, c, (s + c) / (n + 1))
    }
  }

  /** models.py:47-90: the OLS slope of the trailing averaged counts
    * against their row numbers, over mean(y) when normed, gated by
    * `minPoints` and the 1e-12 flat-slope floor.
    */
  private def linRegRef(minPoints: Int, avgWindow: Int, regWindow: Option[Int],
                        norm: Boolean)(pts: Seq[(Long, Double)]): Seq[Double] = {
    val xs = pts.map(_._2)
    val averaged = xs.indices.map { i =>
      if (i + 1 >= avgWindow) xs.slice(i + 1 - avgWindow, i + 1).sum / avgWindow else 0.0
    }
    averaged.indices.map { i =>
      val lo = regWindow.fold(0)(w => math.max(0, i + 1 - w))
      val ys = averaged.slice(lo, i + 1)
      val rs = (lo + 1 to i + 1).map(_.toDouble)
      val (mx, my) = (rs.sum / rs.size, ys.sum / ys.size)
      val slope = rs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum /
        rs.map(x => (x - mx) * (x - mx)).sum
      val eta = if (norm) slope / my else slope
      if (i + 1 >= minPoints && math.abs(eta) >= 1e-12) eta else 0.0
    }
  }

  /** mk_test.py:14-77 over the trailing `window` counts (or all so far). */
  private def mkRef(window: Option[Int])(pts: Seq[(Long, Double)]): Seq[Double] = {
    val xs = pts.map(_._2)
    xs.indices.map { i =>
      val w = xs.slice(window.fold(0)(k => math.max(0, i + 1 - k)), i + 1)
      val n = w.size.toDouble
      val s = (for (k <- w.indices; j <- k + 1 until w.size) yield math.signum(w(j) - w(k))).sum
      val ties = w.groupBy(identity).values.map(g => g.size.toDouble * (g.size - 1) * (2 * g.size + 5)).sum
      val varS = (n * (n - 1) * (2 * n + 5) - ties) / 18.0
      if (varS <= 0) 0.0
      else if (s > 0) (s - 1) / math.sqrt(varS)
      else if (s < 0) (s + 1) / math.sqrt(varS)
      else 0.0
    }
  }

  /** models.py:158-192 against a library of each counter's whole series
    * through the reference chain (library.py:39-47).
    */
  private def wdtRef(series: Map[String, Seq[(Long, Double)]])(pts: Seq[(Long, Double)]): Seq[Double] = {
    val cfg = WdtCfg
    val lib = series.toSeq.map { case (k, p) =>
      (k.length % 2 == 0, SeriesTransforms.referenceChain(p.map(_._2).toArray, cfg))
    }
    val xs = pts.map(_._2)
    xs.indices.map { i =>
      if (i + 1 < cfg.referenceLength || xs.take(i + 1).sum == 0.0) 0.0
      else {
        val test = SeriesTransforms.testChain(
          xs.slice(i + 1 - cfg.referenceLength, i + 1).toArray, cfg).takeRight(cfg.seriesLength)
        val (tw, ntw) = lib.foldLeft((0.0, 0.0)) { case ((t, n), (isTrend, ref)) =>
          val dist = (0 to ref.length - test.length).map { p =>
            test.indices.map(j => math.abs(ref(p + j) - test(j))).sum
          }.foldLeft(Double.MaxValue)(math.min)
          val wt = math.exp(-dist * cfg.lambda)
          if (isTrend) (t + wt, n) else (t, n + wt)
        }
        tw / (if (ntw == 0.0) 0.001 else ntw)
      }
    }
  }

  // ------------------------------- the checks -------------------------------

  /** True when `x` sits within float noise of a tie of the 2-digit trim. */
  private def onTrimTie(x: Double): Boolean = x > 0 && {
    val y = x * math.pow(10, 1 - math.floor(math.log10(x))) + 0.5
    math.abs(y - math.rint(y)) < 1e-9 * y
  }

  private type Rows = Map[(String, Long), (Double, Double)]

  private def rowsOf(df: DataFrame): Rows =
    df.select(col("counter"), col("ts"), col("count").cast("double"), col("eta")).collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime) -> ((r.getDouble(2), r.getDouble(3))))
      .toMap

  private var nQuery = 0

  /** Each scorer's rows over the draw's chunks. The queries run side by
    * side: every chunk goes to all inputs before any query is drained.
    */
  private def streamed(d: Draw, scores: Seq[DataFrame => Dataset[Scored]]): Seq[Rows] = {
    val names = scores.map { _ => nQuery += 1; s"twins_$nQuery" }
    val inputs = scores.map(_ => MemoryStream[Binned])
    val qs = scores.zip(inputs).zip(names).map { case ((score, in), name) =>
      score(in.toDF()).writeStream.format("memory").queryName(name)
        .outputMode("append").start()
    }
    try d.chunks.foreach { c =>
      inputs.foreach(_.addData(c))
      qs.foreach(_.processAllAvailable())
    } finally qs.foreach(_.stop())
    names.map(n => rowsOf(spark.table(n)))
  }

  private def referenceRows(d: Draw, ref: Seq[(Long, Double)] => Seq[Double]): Rows =
    d.series.flatMap { case (k, pts) =>
      pts.zip(ref(pts)).map { case ((t, c), e) => (k, t) -> ((c, e)) }
    }

  /** What differs between batch, stream and reference, as messages. */
  private def mismatches(name: String, batch: Rows, stream: Rows, ref: Rows): Seq[String] = {
    val keys = (batch.keySet ++ stream.keySet ++ ref.keySet).toSeq.sorted
    keys.flatMap { k =>
      val (b, s, r) = (batch.get(k), stream.get(k), ref.get(k))
      val refOk = (b, r) match {
        case (Some((bc, be)), Some((rc, re))) =>
          bc == rc && (be == Rounding.trim2Scalar(re) || onTrimTie(re))
        case _ => false
      }
      if (b == s && refOk) None
      else Some(s"$name $k: batch $b, stream $s, reference ${r.map(_._2)}")
    }
  }

  private def scorers(d: Draw): Seq[(String, DataFrame => DataFrame,
      DataFrame => Dataset[Scored], Seq[(Long, Double)] => Seq[Double])] = {
    val lib = Wdt.buildLibrary(d.frame, length(col("counter")) % 2 === 0, WdtCfg)
    val libArr = Wdt.collectLibrary(lib)
    Seq(
      ("lc", Models.poissonLc(_, 0.99), StreamingTrend.poissonLcStream(_, 0.99), lcRef(0.99)),
      ("cycle_hour", Models.poissonCycle(_, 0.99, Seq("hour")),
        StreamingTrend.poissonCycleStream(_, 0.99, Seq("hour")), cycleRef(Seq("hour"))),
      ("cycle_weekday_hour", Models.poissonCycle(_, 0.99, Seq("weekday", "hour")),
        StreamingTrend.poissonCycleStream(_, 0.99, Seq("weekday", "hour")),
        cycleRef(Seq("weekday", "hour"))),
      ("linreg_expanding", Models.linReg(_, minPoints = 3, avgWindow = 2),
        StreamingTrend.linRegStream(_, minPoints = 3, avgWindow = 2),
        linRegRef(3, 2, None, norm = false)),
      ("linreg_windowed_normed",
        Models.linReg(_, minPoints = 3, avgWindow = 3, regWindow = Some(5), normByMean = true),
        StreamingTrend.linRegStream(_, minPoints = 3, avgWindow = 3, regWindow = Some(5),
          normByMean = true),
        linRegRef(3, 3, Some(5), norm = true)),
      ("mk_expanding", MannKendall(_), StreamingTrend.mannKendallStream(_), mkRef(None)),
      ("mk_windowed", MannKendall(_, Some(6)), StreamingTrend.mannKendallStream(_, Some(6)),
        mkRef(Some(6))),
      ("wdt", Wdt.score(_, lib, WdtCfg), StreamingTrend.wdtStream(_, libArr, WdtCfg),
        wdtRef(d.series)))
  }

  /** The sweep's (alpha_mil → (n_scored, n_detected)) from per-bin etas. */
  private def sweepOf(etas: Iterable[Double], alpha: Double): (Long, (Long, Long)) =
    math.round(alpha * 1000) -> ((etas.size.toLong, etas.count(_ > Theta).toLong))

  test("property: batch, stream and the reference formula score random series alike") {
    val prop = Prop.forAllNoShrink(draws) { d =>
      val df = d.frame
      val models = scorers(d)
      // the sweep: one batch pass over every alpha; each alpha's lc stream
      // and reference loop, thresholded as the sweep does
      val sweepStreams = Alphas.map(a => StreamingTrend.poissonLcStream(_: DataFrame, a))
      val fromStreams = streamed(d, models.map(_._3) ++ sweepStreams)
      val perModel = models.zip(fromStreams).flatMap { case ((name, batch, _, ref), s) =>
        mismatches(name, rowsOf(batch(df)), s, referenceRows(d, ref))
      }
      val swept = Models.poissonLcSweep(df, Alphas, Theta).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val sweep = Alphas.zip(fromStreams.drop(models.size)).flatMap { case (a, s) =>
        val fromStream = sweepOf(s.values.map(_._2), a)
        val fromRef = sweepOf(referenceRows(d, lcRef(a)).values.map(e => Rounding.trim2Scalar(e._2)), a)
        if (swept.get(fromRef._1).contains(fromRef._2) && fromStream == fromRef) None
        else Some(s"sweep alpha $a: batch ${swept.get(fromRef._1)}, stream ${fromStream._2}, " +
          s"reference ${fromRef._2}")
      }
      val bad = perModel ++ sweep
      bad.isEmpty :| bad.take(8).mkString("\n")
    }
    val res = Check.check(
      Check.Parameters.default.withMinSuccessfulTests(3).withWorkers(1)
        .withInitialSeed(Seed(20261021L)), prop)
    assert(res.passed, res.status.toString)
  }
}
