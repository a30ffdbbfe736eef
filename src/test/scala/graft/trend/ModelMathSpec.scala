package graft.trend

import graft.SparkSpec
import graft.functions.PoissonCi
import java.sql.Timestamp

/** Pure-math fidelity checks against independently computed vectors
  * (FIXTURES.md §1.7): scipy-convention Poisson intervals, mk_test.py
  * arithmetic, closed-form OLS slope.
  */
class ModelMathSpec extends SparkSpec {
  import spark.implicits._

  /** z per point from the Mann-Kendall step, folded over `xs` in order. */
  private def mkZ(xs: Array[Double], windowSize: Option[Int] = None): Array[Double] = {
    val m = Steps.mk(windowSize)
    xs.indices.scanLeft((m.zero, 0.0)) { case ((st, _), i) => m.step(st, i.toLong, xs(i)) }
      .tail.map(_._2).toArray
  }

  /** Naive mk z over one window: every pair's sign and every tie group. */
  private def windowZ(xs: Array[Double]): Double = {
    val n = xs.length
    var s = 0.0
    var k = 0
    while (k < n - 1) {
      var j = k + 1
      while (j < n) { s += math.signum(xs(j) - xs(k)); j += 1 }
      k += 1
    }
    val ties = xs.groupBy(identity).values
      .map(g => g.length.toDouble * (g.length - 1) * (2 * g.length + 5)).sum
    val varS = (n.toDouble * (n - 1) * (2 * n + 5) - ties) / 18.0
    if (varS <= 0) 0.0
    else if (s > 0) (s - 1) / math.sqrt(varS)
    else if (s < 0) (s + 1) / math.sqrt(varS)
    else 0.0
  }

  test("poisson ci width matches scipy-convention equal-tail intervals") {
    // vectors from an independent pure-python summation (ppf = min k with
    // cdf(k) >= q), matching dists.poisson.interval (models.py:308)
    assert(PoissonCi.width(0.99, 1.0) == 4.0)
    assert(PoissonCi.width(0.99, 2.0) == 6.0)
    assert(PoissonCi.width(0.99, 2.5) == 7.0)
    assert(PoissonCi.width(0.99, 5.0) == 12.0)
    assert(PoissonCi.width(0.99, 10.0) == 16.0)   // interval (3, 19)
    assert(PoissonCi.width(0.99, 100.0) == 52.0)  // interval (75, 127)
  }

  test("mann-kendall z matches mk_test.py on hand vectors (incl. ties)") {
    def last(xs: Array[Double]): Double = mkZ(xs).last
    assert(math.abs(last(Array(1, 2, 3, 4, 5)) - 2.2045407685048604) < 1e-12)
    assert(math.abs(last(Array(5, 4, 3, 2, 1)) + 2.2045407685048604) < 1e-12)
    assert(math.abs(last(Array(1, 1, 2, 2, 3)) - 1.8278153875348273) < 1e-12)
    assert(math.abs(last(Array(3, 1, 4, 1, 5, 9, 2, 6)) - 1.2467574523850742) < 1e-12)
    assert(last(Array(2, 2, 2, 2)) == 0.0)
  }

  test("mann-kendall expanding scan equals per-prefix recomputation") {
    val xs = Array(1.0, 3.0, 2.0, 2.0, 5.0, 4.0, 4.0, 7.0)
    val expected = Array(0.0, 0.0, 0.0, 0.0, 1.0105823053, 1.3389110974,
      1.5369465587, 2.1361549323)
    val got = mkZ(xs)
    expected.indices.foreach { i =>
      assert(math.abs(got(i) - expected(i)) < 1e-9, s"prefix $i")
    }
    // windowed variant over full length equals expanding last point
    assert(windowZ(xs) == got.last)
  }

  test("mk full test: two-tail p matches erfc truth at 6dp, labels by sign+alpha") {
    // increasing 1..5 → raw z 2.2045407685 (NOT trimmed — the standalone
    // test keeps the sign, unlike the analyze-stage eta clamp); scipy-truth
    // two-tail p = erfc(z/√2) = 0.0274863361... → p6 0.027486 < 0.05 ⇒
    // increasing. The Zelen–Severo polynomial the engine/oracle share
    // agrees with erfc truth to 6dp on these points (checked offline).
    val inc = (1 to 5).map(i => ("a", new Timestamp(i * 3600000L), i.toDouble))
    val dec = (1 to 5).map(i => ("b", new Timestamp(i * 3600000L), (6 - i).toDouble))
    val flat = (1 to 5).map(i => ("c", new Timestamp(i * 3600000L), 2.0))
    val df = MannKendall.fullTest(
      (inc ++ dec ++ flat).toDF("counter", "ts", "count"), alpha = 0.05)
    val last = df.where($"ts" === new Timestamp(5 * 3600000L))
      .select("counter", "z", "p6", "trend").collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2), r.getString(3))))
      .toMap
    val zc = 2.2045407685048604
    assert(math.abs(last("a")._1 - zc) < 1e-12 && last("a")._2 == 0.027486
      && last("a")._3 == "increasing")
    assert(math.abs(last("b")._1 + zc) < 1e-12 && last("b")._2 == 0.027486
      && last("b")._3 == "decreasing")
    assert(last("c") == ((0.0, 1.0, "no trend")))
    // sub-critical slope: first 3 points of 1..5 → z 1.04 → p > 0.05
    val third = df.where($"counter" === "a" && $"ts" === new Timestamp(3 * 3600000L))
      .select("p6", "trend").collect().head
    assert(third.getDouble(0) > 0.05 && third.getString(1) == "no trend")
  }

  test("incremental sliding MK equals per-window recomputation (random, ties)") {
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 5; w <- Seq(1, 3, 8, 20)) {
      val xs = Array.fill(60)(rnd.nextInt(9).toDouble) // heavy ties
      val fast = mkZ(xs, Some(w))
      xs.indices.foreach { i =>
        val naive = windowZ(xs.slice(math.max(0, i + 1 - w), i + 1))
        assert(fast(i) === naive, s"trial $trial w $w i $i")
      }
    }
  }

  test("MK step on long series equals recomputation: growth, sorted runs, distinct values") {
    val rnd = new scala.util.Random(11)
    val series = Seq(
      Array.tabulate(1500)(_.toDouble),                          // rising: one long right spine
      Array.tabulate(1500)(i => ((1500 - i) / 7).toDouble),      // falling, runs of ties
      Array.fill(1500)(rnd.nextGaussian()),                      // all distinct
      Array.fill(1500)(rnd.nextInt(40).toDouble))                // heavy ties
    for ((xs, k) <- series.zipWithIndex) {
      val expanding = mkZ(xs)
      (0 until xs.length by 149).foreach { i =>
        assert(expanding(i) === windowZ(xs.take(i + 1)), s"series $k prefix $i")
      }
      for (w <- Seq(17, 64)) {
        val fast = mkZ(xs, Some(w))
        xs.indices.foreach { i =>
          assert(fast(i) === windowZ(xs.slice(math.max(0, i + 1 - w), i + 1)), s"series $k w $w i $i")
        }
      }
    }
  }

  test("batch models keep the input's ts and count nullability; MK declares ts nullable") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rows = spark.sparkContext.parallelize(
      (0 until 4).map(i => Row("a", new Timestamp(i * 3600000L), 3600.0, i.toLong)))
    for (tsNull <- Seq(true, false); countNull <- Seq(true, false)) {
      val in = spark.createDataFrame(rows, StructType(Seq(
        StructField("counter", StringType), StructField("ts", TimestampType, tsNull),
        StructField("duration_sec", DoubleType), StructField("count", LongType, countNull))))
      def flags(df: org.apache.spark.sql.DataFrame) = Seq("ts", "count").map(df.schema(_).nullable)
      Seq(Models.poissonLc(in), Models.poissonCycle(in), Models.linReg(in, 2))
        .foreach(df => assert(flags(df) == Seq(tsNull, countNull), df.schema))
      Seq(MannKendall(in), MannKendall.fullTest(in))
        .foreach(df => assert(flags(df) == Seq(true, false), df.schema))
    }
  }

  test("linreg slope column math equals closed-form OLS") {
    val rows = Seq(0.0, 0.0, 2.0, 3.0, 5.0, 4.0).zipWithIndex.map { case (c, i) =>
      (new Timestamp(i * 3600000L), c, "a")
    }
    val df = rows.toDF("ts", "count", "counter")
    val out = Models.linReg(df, minPoints = 6, avgWindow = 1)
      .orderBy("ts").collect()
    // slope([0,0,2,3,5,4]) = 1.0285714285714285, trimmed to 2 sig digits
    assert(out.take(5).forall(_.getDouble(3) == 0.0)) // gated by min_points
    assert(out.last.getDouble(3) == 1.0)
  }

  test("poisson lc eta: |c - prev| / width(alpha, prev), trimmed") {
    val rows = Seq(2.0, 2.0, 14.0).zipWithIndex.map { case (c, i) =>
      (new Timestamp(i * 3600000L), c, "a")
    }
    val df = rows.toDF("ts", "count", "counter")
    val out = Models.poissonLc(df, 0.99).orderBy("ts").collect()
    assert(out(0).getDouble(3) == 0.0)           // no previous count
    assert(out(1).getDouble(3) == 0.0)           // |2-2|/6 = 0
    assert(out(2).getDouble(3) == 2.0)           // |14-2|/6 = 2.0
  }

  test("poisson cycle mean includes current point and keys on hour") {
    // two points in the same hour-of-day on different days
    val rows = Seq(
      (Timestamp.valueOf("2024-01-01 05:00:00"), 4.0, "a"),
      (Timestamp.valueOf("2024-01-02 05:00:00"), 10.0, "a"))
    val df = rows.toDF("ts", "count", "counter")
    val out = Models.poissonCycle(df, 0.99, Seq("hour")).orderBy("ts").collect()
    assert(out(0).getDouble(3) == 0.0) // mean = 4 (itself) → sensitivity 0
    // mean = 7, width(0.99, 7) = ?  eta = 3/width, trimmed
    val w = PoissonCi.width(0.99, 7.0)
    val expect = graft.functions.RoundingCheck.trim2Ref(3.0 / w)
    assert(out(1).getDouble(3) == expect)
  }
}
