package graft.trend

import graft.SparkSpec
import graft.functions.Rounding
import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => Check}
import org.scalacheck.rng.Seed

class RebinSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def frame(rows: Seq[(String, Long, Double, String)]): DataFrame =
    rows.map { case (t, d, c, k) => (ts(t), d, c, k) }
      .toDF("ts", "duration_sec", "count", "counter")

  private def rowsOf(out: DataFrame) =
    out.orderBy("counter", "ts").collect()
      .map(r => (r.getString(0), r.getTimestamp(1).toString, r.getDouble(2), r.getDouble(3)))
      .toSeq

  private def run(rows: Seq[(String, Long, Double, String)],
                  unit: String = "hours", nUnit: Int = 1) =
    rowsOf(Rebin(frame(rows), unit, nUnit))

  test("aligned intervals land in their bins; grid extends one bin past max stop") {
    // reference: grid = trunc(min) .. trunc(max_stop) inclusive (analysis.py:82-97)
    val out = run(Seq(
      ("2024-01-01 00:10:00", 600L, 5.0, "a"),
      ("2024-01-01 01:20:00", 600L, 7.0, "a")))
    // max stop = 01:30 → trunc = 01:00 → grid bins 00:00 and 01:00
    assert(out.toSeq == Seq(
      ("a", "2024-01-01 00:00:00.0", 3600.0, 5.0),
      ("a", "2024-01-01 01:00:00.0", 3600.0, 7.0)))
  }

  test("straddling interval splits proportionally to overlap seconds") {
    // 30-min interval [00:45, 01:15): 15 min in each hour → 0.5/0.5 of count 8
    // plus aligned count 4 in hour 0 → int(4+4)=8 and int(4)=4
    val out = run(Seq(
      ("2024-01-01 00:45:00", 1800L, 8.0, "a"),
      ("2024-01-01 00:00:00", 600L, 4.0, "a")))
    assert(out.toSeq == Seq(
      ("a", "2024-01-01 00:00:00.0", 3600.0, 8.0),
      ("a", "2024-01-01 01:00:00.0", 3600.0, 4.0)))
  }

  test("fractional counts truncate toward zero (analysis.py:147)") {
    // straddler [00:50,01:20) count 3: 10min/30min = 1/3 in h0 (1.0),
    // 2/3 in h1 (2.0); aligned [00:00,00:05) count 1 in h0
    val out = run(Seq(
      ("2024-01-01 00:50:00", 1800L, 3.0, "a"),
      ("2024-01-01 00:00:00", 300L, 1.0, "a")))
    // h0: 1 + 1.0 = 2.0 → 2 ; h1: 2.0 → 2
    assert(out.toSeq == Seq(
      ("a", "2024-01-01 00:00:00.0", 3600.0, 2.0),
      ("a", "2024-01-01 01:00:00.0", 3600.0, 2.0)))
  }

  test("zero-trim: first zero of an interior run kept, rest dropped, trailing trimmed") {
    // counts at hours 0 and 5 → interior hours 1-4 are zero: only hour 1
    // (prev nonzero) is kept (analysis.py:144). The trailing zero at hour 6
    // ALSO survives: the reference slices the compacted list by the grid
    // index of the last nonzero (analysis.py:154), and rows were skipped
    // before it — we reproduce that quirk bit-for-bit.
    val out = run(Seq(
      ("2024-01-01 00:00:00", 3600L, 2.0, "a"),
      ("2024-01-01 05:00:00", 3600L, 3.0, "a")))
    assert(out.toSeq == Seq(
      ("a", "2024-01-01 00:00:00.0", 3600.0, 2.0),
      ("a", "2024-01-01 01:00:00.0", 3600.0, 0.0),
      ("a", "2024-01-01 05:00:00.0", 3600.0, 3.0),
      ("a", "2024-01-01 06:00:00.0", 3600.0, 0.0)))
  }

  test("configured grid anchors at exact start; exact division adds one extra bin") {
    def runCfg(rows: Seq[(String, Long, Double, String)],
               start: String, stop: String) = {
      val df = rows.map { case (t, d, c, k) => (ts(t), d, c, k) }
        .toDF("ts", "duration_sec", "count", "counter")
      Rebin(df, "hours", 1, startTime = start, stopTime = stop,
        gridFromConfig = true)
        .orderBy("counter", "ts")
        .collect()
        .map(r => (r.getString(0), r.getTimestamp(1).toString, r.getDouble(3)))
    }
    // origin 00:30 EXACT (no truncation): a [01:30,02:30) input lands in
    // ONE bin of the shifted grid, where the observed-grid layout would
    // split it across two truncated-hour bins. The first zero after it
    // survives (zero-trim keeps the first zero of each run, and the slice
    // bound is the last TOUCHED grid idx applied to the compacted list).
    val shifted = runCfg(
      Seq(("2024-01-01 01:30:00", 3600L, 6.0, "a")),
      "2024-01-01 00:30:00", "2024-01-01 05:30:00")
    assert(shifted.toSeq == Seq(
      ("a", "2024-01-01 01:30:00.0", 6.0),
      ("a", "2024-01-01 02:30:00.0", 0.0)))
    // ragged division (rebin.py:111-116): bins appended while
    // stop <= configured 02:30 gives 00:00 and 01:00, then ONE extra
    // (02:00) — an input ending at 02:30 is in range and must land in
    // that extra bin, which a grid without the post-loop append lacks
    val extra = runCfg(
      Seq(("2024-01-01 00:00:00", 3600L, 2.0, "a"),
          ("2024-01-01 02:00:00", 1800L, 4.0, "a")),
      "2024-01-01 00:00:00", "2024-01-01 02:30:00")
    assert(extra.toSeq == Seq(
      ("a", "2024-01-01 00:00:00.0", 2.0),
      ("a", "2024-01-01 01:00:00.0", 0.0),
      ("a", "2024-01-01 02:00:00.0", 4.0)))
  }

  test("per-counter grids are independent") {
    val out = run(Seq(
      ("2024-01-01 00:00:00", 3600L, 1.0, "a"),
      ("2024-01-02 00:00:00", 3600L, 9.0, "b")))
    assert(out.toSeq == Seq(
      ("a", "2024-01-01 00:00:00.0", 3600.0, 1.0),
      ("b", "2024-01-02 00:00:00.0", 3600.0, 9.0)))
  }

  test("rows with a null counter produce no series") {
    // the oracle's equi join on counter drops them (null never equals
    // null); in both grid modes the null rows must not form a series of
    // their own, nor move the other counters' grids. Configured grid
    // 00:00..03:00: the last touched bin 01:00 has idx 1, so the slice
    // keeps the compacted [4, 0]
    val rows = Seq(
      ("2024-01-01 01:00:00", 3600L, 4.0, "a"),
      ("2024-01-01 00:00:00", 3600L, 9.0, null),
      ("2024-01-01 05:00:00", 3600L, 2.0, null))
    assert(run(rows) == Seq(("a", "2024-01-01 01:00:00.0", 3600.0, 4.0)))
    assert(rowsOf(Rebin(frame(rows), "hours", 1,
        startTime = "2024-01-01 00:00:00", stopTime = "2024-01-01 03:00:00",
        gridFromConfig = true)) == Seq(
      ("a", "2024-01-01 01:00:00.0", 3600.0, 4.0),
      ("a", "2024-01-01 02:00:00.0", 3600.0, 0.0)))
  }

  test("a bin reached only by null counts is an untouched zero") {
    // the null-count row still sets the extent (grid to 03:00), but its
    // bin sums to null, which the oracle's grid left join leaves as an
    // untouched 0.0: the trim bound stays at the 00:00 bin
    val out = rowsOf(Rebin(Seq(
        (ts("2024-01-01 00:00:00"), 3600L, Some(5.0), "a"),
        (ts("2024-01-01 02:00:00"), 3600L, None, "a"))
      .toDF("ts", "duration_sec", "count", "counter"), "hours", 1))
    assert(out == Seq(("a", "2024-01-01 00:00:00.0", 3600.0, 5.0)))
  }

  test("trailing bin touched by a zero-count input bounds the trim") {
    // reference: last_non_zero_ct_idx is set whenever the bin is TOUCHED by
    // any input row, even with accumulated count 0.0 (analysis.py:140-142),
    // so the compacted [5, 0] survives the final slice
    val out = run(Seq(
      ("2024-01-01 00:00:00", 3600L, 5.0, "a"),
      ("2024-01-01 03:00:00", 3600L, 0.0, "a")))
    assert(out.toSeq == Seq(
      ("a", "2024-01-01 00:00:00.0", 3600.0, 5.0),
      ("a", "2024-01-01 01:00:00.0", 3600.0, 0.0)))
  }

  test("zero-duration rows are dropped, not divided by zero") {
    // count·overlap/size is undefined at size 0; engine and oracle filter
    // stop_ts > ts identically, so such input contributes nothing (and
    // does not extend the grid or mark bins touched)
    val out = run(Seq(
      ("2024-01-01 00:10:00", 600L, 5.0, "a"),
      ("2024-01-01 02:30:00", 0L, 99.0, "a"))) // degenerate: zero duration
    assert(out.toSeq == Seq(("a", "2024-01-01 00:00:00.0", 3600.0, 5.0)))
  }

  test("total count is conserved for in-range input fully covered by grid") {
    val in = Seq(
      ("2024-01-01 00:07:00", 1234L, 10.0, "a"),
      ("2024-01-01 03:33:00", 4321L, 7.0, "a"),
      ("2024-01-01 01:11:00", 600L, 3.0, "a"))
    val df = in.map { case (t, d, c, k) => (ts(t), d, c, k) }
      .toDF("ts", "duration_sec", "count", "counter")
    // sum of pre-truncation partial counts conserves the input total; here we
    // check the truncated outputs sum within (#bins) of the input total
    val outSum = Rebin(df, "hours", 1).agg(org.apache.spark.sql.functions.sum("count"))
      .head().getDouble(0)
    assert(outSum <= 20.0 && outSum >= 20.0 - 6)
  }

  test("max stop on a bin edge leaves a trailing untouched bin after a zero run") {
    // max stop 04:00 is exactly a bin edge, so the grid ends at the
    // untouched 04:00 bin. The 01:00-02:00 zero run keeps only its first
    // zero; the compacted list [2, 0, 3, 0] is sliced by the grid index of
    // the last touched bin (03:00 → idx 3, four rows), so the untouched
    // trailing zero survives
    val out = run(Seq(
      ("2024-01-01 00:00:00", 3600L, 2.0, "a"),
      ("2024-01-01 03:00:00", 3600L, 3.0, "a")))
    assert(out == Seq(
      ("a", "2024-01-01 00:00:00.0", 3600.0, 2.0),
      ("a", "2024-01-01 01:00:00.0", 3600.0, 0.0),
      ("a", "2024-01-01 03:00:00.0", 3600.0, 3.0),
      ("a", "2024-01-01 04:00:00.0", 3600.0, 0.0)))
  }

  test("rows sharing the min ts both count in the origin bin") {
    // both start at 00:30: the aligned half-hour lands whole in hour 0,
    // the straddling hour splits 3/3 across hours 0 and 1
    val out = run(Seq(
      ("2024-01-01 00:30:00", 1800L, 5.0, "a"),
      ("2024-01-01 00:30:00", 3600L, 6.0, "a")))
    assert(out == Seq(
      ("a", "2024-01-01 00:00:00.0", 3600.0, 8.0),
      ("a", "2024-01-01 01:00:00.0", 3600.0, 3.0)))
  }

  test("nUnit = 2 bins from the unit-truncated origin") {
    // origin = date_trunc(hour, 01:30) = 01:00, bins of 2 h from there:
    // [01:30,02:30) lands in 01:00; [02:30,03:30) splits 1/1 across
    // 01:00 and 03:00
    val out = run(Seq(
      ("2024-01-01 01:30:00", 3600L, 4.0, "a"),
      ("2024-01-01 02:30:00", 3600L, 2.0, "a")), nUnit = 2)
    assert(out == Seq(
      ("a", "2024-01-01 01:00:00.0", 7200.0, 5.0),
      ("a", "2024-01-01 03:00:00.0", 7200.0, 1.0)))
  }

  test("weekly bins start on the Monday of the first week") {
    // 2024-01-01 is a Monday; a Wednesday and a Tuesday two weeks later
    // leave the middle week empty (kept: the first zero of its run)
    val out = run(Seq(
      ("2024-01-03 00:00:00", 86400L, 7.0, "a"),
      ("2024-01-16 00:00:00", 86400L, 2.0, "a")), unit = "weeks")
    assert(out == Seq(
      ("a", "2024-01-01 00:00:00.0", 604800.0, 7.0),
      ("a", "2024-01-08 00:00:00.0", 604800.0, 0.0),
      ("a", "2024-01-15 00:00:00.0", 604800.0, 2.0)))
  }

  test("configured grid counts the leading gap before the first touched bin") {
    // grid 00:00..06:00 from config; data starts at 02:00. The untouched
    // 00:00 and 01:00 are zero-trimmed, but they still count in the grid
    // index: the last touched bin (04:00) has idx 4, so the slice keeps
    // five compacted rows and the zero at 05:00 survives
    val out = rowsOf(Rebin(frame(Seq(
        ("2024-01-01 02:00:00", 3600L, 5.0, "a"),
        ("2024-01-01 04:00:00", 3600L, 1.0, "a"))), "hours", 1,
      startTime = "2024-01-01 00:00:00", stopTime = "2024-01-01 06:00:00",
      gridFromConfig = true))
    assert(out == Seq(
      ("a", "2024-01-01 02:00:00.0", 3600.0, 5.0),
      ("a", "2024-01-01 03:00:00.0", 3600.0, 0.0),
      ("a", "2024-01-01 04:00:00.0", 3600.0, 1.0),
      ("a", "2024-01-01 05:00:00.0", 3600.0, 0.0)))
  }

  test("property: random small interval sets rebin as the grid-join formulation does") {
    val row = for {
      k <- Gen.oneOf("a", "b", "c", null)
      m <- Gen.choose(0, 96).map(_ * 5L)   // start: 0..8 h in 5-min steps
      d <- Gen.oneOf(0L, 300L, 1200L, 1800L, 3600L, 5400L, 9000L)
      c <- Gen.oneOf(Some(0.0), Some(1.0), Some(2.5), Some(7.0), Some(13.0), None)
    } yield (new Timestamp(Base + m * 60000L), d, c, k)
    val args = for {
      rows <- Gen.choose(1, 12).flatMap(Gen.listOfN(_, row))
      grid <- Gen.oneOf(
        ("minutes", 30, false), ("hours", 1, false), ("hours", 2, false),
        ("hours", 1, true), ("hours", 3, true))
    } yield (rows, grid)
    val prop = Prop.forAll(args) { case (rows, (unit, n, cfg)) =>
      val df = rows.toDF("ts", "duration_sec", "count", "counter")
      // the configured window clips the random rows on both sides
      val (start, stop) =
        if (cfg) ("2024-01-01 01:10:00", "2024-01-01 07:00:00")
        else ("1970-01-01 00:00:00", "2100-01-01 00:00:00")
      rowsOf(Rebin(df, unit, n, start, stop, cfg)) ==
        rowsOf(gridJoinRebin(df, unit, n, start, stop, cfg))
    }
    val res = Check.check(
      Check.Parameters.default.withMinSuccessfulTests(25)
        .withInitialSeed(Seed(20241017L)), prop)
    assert(res.passed, res.status.toString)
  }

  private val Base = Timestamp.valueOf("2024-01-01 00:00:00").getTime

  /** The grid-join formulation Rebin shipped before it moved to one
    * exchange: extents joined back to the input, a generated grid, and a
    * left join of the grid to the binned sums. Kept here as an
    * independent model of the same semantics.
    */
  private def gridJoinRebin(raw: DataFrame, binningUnit: String, nUnit: Int,
                            startTime: String, stopTime: String,
                            gridFromConfig: Boolean): DataFrame = {
    val unitSec = Map("minutes" -> 60L, "hours" -> 3600L, "days" -> 86400L,
      "weeks" -> 604800L)(binningUnit)
    val unit = binningUnit.stripSuffix("s")
    val binSec = unitSec * nUnit
    val binUsec = binSec * 1000000L
    val step = expr(s"INTERVAL '$binSec' SECOND")
    val in = raw
      .withColumn("stop_ts", col("ts") + expr("make_interval(0,0,0,0,0,0,duration_sec)"))
      .where(col("stop_ts") <= lit(stopTime).cast("timestamp") &&
             col("ts") >= lit(startTime).cast("timestamp") &&
             col("stop_ts") > col("ts"))
    val ext =
      if (gridFromConfig) {
        val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
        val gendSec = java.time.Duration.between(
          java.time.LocalDateTime.parse(startTime, fmt),
          java.time.LocalDateTime.parse(stopTime, fmt)).getSeconds / binSec * binSec
        in.select("counter").distinct()
          .select(col("counter"),
            lit(startTime).cast("timestamp").as("origin"),
            (lit(startTime).cast("timestamp") +
              expr(s"INTERVAL '$gendSec' SECOND")).as("gend"))
      } else
        in.groupBy("counter")
          .agg(min("ts").as("mn"), max("stop_ts").as("mx"))
          .select(col("counter"),
            date_trunc(unit, col("mn")).as("origin"),
            date_trunc(unit, col("mx")).as("gend"))
    val grid = ext.select(col("counter"),
      explode(sequence(col("origin"), col("gend"), step)).as("bin_start"))
    val overlapped = in.join(ext, Seq("counter"))
      .withColumn("i0", expr(s"(unix_micros(ts) - unix_micros(origin)) DIV $binUsec"))
      .withColumn("i1", least(
        expr(s"(unix_micros(stop_ts) - 1 - unix_micros(origin)) DIV $binUsec"),
        expr(s"(unix_micros(gend) - unix_micros(origin)) DIV $binUsec")))
      .where(col("i1") >= col("i0"))
      .withColumn("bi", explode(sequence(col("i0"), col("i1"))))
      .withColumn("bin_start", timestamp_micros(expr(s"unix_micros(origin) + bi * $binUsec")))
      .withColumn("bin_stop", col("bin_start") + step)
      .select(col("counter"), col("bin_start"),
        (col("count") *
          (unix_micros(least(col("stop_ts"), col("bin_stop"))) -
           unix_micros(greatest(col("ts"), col("bin_start")))).cast("double") /
          (unix_micros(col("stop_ts")) - unix_micros(col("ts"))).cast("double")).as("part"))
    val sums = overlapped.groupBy("counter", "bin_start").agg(sum("part").as("fcount"))
    val wOrd = Window.partitionBy("counter").orderBy("bin_start")
    val wAll = Window.partitionBy("counter")
    grid.join(sums, Seq("counter", "bin_start"), "left")
      .withColumn("touched", col("fcount").isNotNull)
      .withColumn("fcount", coalesce(col("fcount"), lit(0.0)))
      .withColumn("idx", row_number().over(wOrd) - 1)
      .withColumn("prev", lag("fcount", 1, 0.0).over(wOrd))
      .withColumn("keep", col("fcount") =!= 0.0 || col("prev") =!= 0.0)
      .withColumn("last_nz", max(when(col("touched"), col("idx"))).over(wAll))
      .withColumn("krn", sum(when(col("keep"), 1L).otherwise(0L)).over(wOrd))
      .where(col("keep") && col("krn") <= col("last_nz") + 1)
      .select(col("counter"), col("bin_start").as("ts"),
        lit(binSec.toDouble).as("duration_sec"),
        Rounding.stableIntTrunc(col("fcount")).as("count"))
  }
}
