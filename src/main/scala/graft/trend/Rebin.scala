package graft.trend

import graft.functions.Rounding
import java.time.ZoneId
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import org.apache.spark.unsafe.types.UTF8String

/** Re-grid irregular (ts, duration_sec, count, counter) intervals onto a
  * uniform per-counter time grid, splitting counts of straddling intervals
  * across grid bins proportionally to overlap seconds.
  *
  * Faithful to the reference rebin (analysis.py:21-157, time_bucket.py:118-130):
  *  - grid starts at date_trunc(unit, min input start) and its bin starts
  *    run through date_trunc(unit, max input stop) inclusive — the loop at
  *    analysis.py:91-97 appends one bin past the last fully-contained one,
  *    which is exactly `sequence(trunc(min), trunc(max), step)`;
  *  - an input interval contained in a bin contributes its full count
  *    (analysis.py:106-109); a straddling one contributes
  *    count·overlap/size to each overlapped bin (analysis.py:110-126) — one
  *    proportional formula covers both (contained ⇒ overlap = size);
  *  - input reaching past the last grid stop is silently truncated
  *    (the IndexError pass at analysis.py:123-124) — bins past the last
  *    grid bin `gi` are dropped;
  *  - densify: grid bins with no data get count 0 (analysis.py:139-143);
  *  - zero-trim (analysis.py:131-154): a row is kept iff its count or its
  *    predecessor's count is nonzero (so only the FIRST zero of each zero
  *    run survives), and the kept list is then sliced to its first
  *    (last_touched_grid_idx + 1) elements — the reference slices the
  *    *compacted* list by a *grid* index, and the bound is the last bin
  *    TOUCHED by any input row (`idx in output_data`, analysis.py:140-142),
  *    even one whose accumulated count is 0.0. Both quirks are reproduced
  *    (the oracle below via a running kept-row counter and a touched flag);
  *  - counts are truncated to int (analysis.py:146-150).
  *
  * Scale design: the reference's own sequential pass, distributed by
  * counter. One scan of the input and ONE exchange: the filtered rows,
  * projected to (counter, t0, t1, count) in micros, are hash-partitioned
  * by counter and sorted within each group by (t0, t1, count), and one
  * sweep per counter walks them in that order:
  *  - the grid origin is the session-zone unit truncation of the first
  *    t0 (observed mode) or the configured start (config mode);
  *  - each row adds count·overlap/size to the bins it spans, kept in a
  *    ring of open bins. A bin behind the current t0 can receive nothing
  *    more, so it is final: densify and zero-trim settle it and emit it
  *    at once. Untouched runs between touched bins, the config-mode
  *    leading gap and the trailing bins up to the last grid bin are
  *    settled arithmetically, not bin by bin; the `krn <= last_nz + 1`
  *    slice needs one held zero bin and a "some bin was dropped" flag.
  * State: O(bins one row spans), not O(rows) or O(grid). Work:
  * O(raw rows + emitted bins), so a 1970–2100 configured hourly grid
  * costs what a tight one does. Summation order: each bin sums its parts
  * in (t0, t1, count) order, deterministic whatever the input
  * partitioning. Skew: a hot counter's rows all land in one task, which
  * sorts them (spilling past its memory) and sweeps them in one pass.
  * No driver-side collection. Spark cannot see that the output is still
  * partitioned by counter, so a per-counter model after it shuffles the
  * binned rows (one per bin, not per raw row) once more.
  */
object Rebin {
  private val unitSeconds = Map(
    "minutes" -> 60L, "hours" -> 3600L, "days" -> 86400L, "weeks" -> 604800L)

  /** Index of the last grid bin when the grid is anchored at the
    * CONFIGURED start (rebin.py:104-116): bins are appended while
    * `stop(bin) <= stopTime`, then ONE extra — so the last bin start is
    * `start + floor((stop−start)/binSec)·binSec` for both exact and
    * ragged divisions. Pure local-datetime arithmetic (no zone): the
    * reference subtracts naive datetimes.
    */
  private def lastConfigBin(startTime: String, stopTime: String,
                            binSec: Long): Long = {
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    val t0 = java.time.LocalDateTime.parse(startTime, fmt)
    val t1 = java.time.LocalDateTime.parse(stopTime, fmt)
    java.time.Duration.between(t0, t1).getSeconds / binSec
  }

  /** @param gridFromConfig legacy layout (rebin.py:104-116): the uniform
    *   grid is anchored at the configured `startTime` EXACTLY (no
    *   truncation, independent of the data's observed extent) and runs to
    *   the last bin fitting `stopTime` plus one. The default (false) is
    *   the analysis.py:91-97 layout: per-counter grid from
    *   date_trunc(unit, observed min). Config-driven replays of legacy
    *   runs need the flag, or every bin shifts by the origin delta.
    */
  def apply(raw: DataFrame,
            binningUnit: String = "hours",
            nUnit: Int = 1,
            startTime: String = "1970-01-01 00:00:00",
            stopTime: String = "2100-01-01 00:00:00",
            gridFromConfig: Boolean = false): DataFrame = {
    val binSec = unitSeconds(binningUnit) * nUnit
    val binUsec = binSec * 1000000L
    val zone = DateTimeUtils.getZoneId(raw.sparkSession.conf.get("spark.sql.session.timeZone"))
    val level = DateTimeUtils.parseTruncLevel(UTF8String.fromString(binningUnit.stripSuffix("s")))
    def micros(name: String, t: String): Long =
      DateTimeUtils.stringToTimestamp(UTF8String.fromString(t), zone)
        .getOrElse(throw new IllegalArgumentException(s"unparseable $name time '$t'"))
    val (startUs, stopUs) = (micros("start", startTime), micros("stop", stopTime))
    // config mode: the same (origin, last bin index) for every counter
    val configGrid =
      if (gridFromConfig) Some((startUs, lastConfigBin(startTime, stopTime, binSec)))
      else None

    // range filter drops whole straddling rows (analysis.py:65-68);
    // stop_ts > ts also drops degenerate zero-duration rows, which the
    // proportional split (count·overlap/size) cannot define — filtered
    // identically in the oracle CTE so both engines agree on such input.
    // A null counter forms no series: the oracle's equi join on counter
    // drops it, while the grouping below would treat null as one more
    // counter. The range filter reads the micros in a typed filter, which
    // the optimizer keeps above the projection: pushed below it as a
    // column filter, each condition would parse the row's ts once more.
    // Casts take types and make_interval its function form: the string
    // forms go through the SQL parser, whose first use in a JVM costs a
    // cold batch job about half a second.
    val secs = make_interval(lit(0), lit(0), lit(0), lit(0), lit(0), lit(0), col("duration_sec"))
    raw
      .where(col("counter").isNotNull)
      .select(col("counter"), unix_micros(col("ts")).as("t0"),
        unix_micros(col("ts") + secs).as("t1"), col("count").cast(DoubleType).as("count"))
      .as[Span](Encoders.product[Span])
      .filter((s: Span) => s.t0.exists(t0 => s.t1.exists(t1 => t0 >= startUs && t1 <= stopUs && t1 > t0)))
      .toDF()
      .groupBy(col("counter")).as[String, Interval](Encoders.STRING, Encoders.product[Interval])
      .flatMapSortedGroups(col("t0"), col("t1"), col("count")) { (counter, rows) =>
        val sweep = new Sweep(counter, binUsec, level, zone, configGrid)
        rows.flatMap(sweep.add) ++ sweep.finish()
      }(Encoders.product[Bin])
      .select(col("counter"), timestamp_micros(col("start")).as("ts"),
        lit(binSec.toDouble).as("duration_sec"),
        Rounding.stableIntTrunc(col("fcount")).as("count"))
  }

  /** A raw row's start and stop in micros, as the range filter reads them;
    * None where the row's ts or duration is null.
    */
  private[trend] case class Span(t0: Option[Long], t1: Option[Long])

  /** One raw row of a counter, in micros; `count` is null where the input's is. */
  private[trend] case class Interval(t0: Long, t1: Long, count: Option[Double])

  /** One emitted grid bin: its start in micros and its summed count. */
  private[trend] case class Bin(counter: String, start: Long, fcount: Double)

  /** The rebin of one counter, fed its rows in (t0, t1, count) order.
    *
    * Bins are numbered from the origin; `next` is the first bin not yet
    * final. The open bins next, next+1, … hold their running sums and
    * touched flags in a ring. A row starting in bin i0 closes every bin
    * before i0: each is settled in order (densify, then the zero-trim
    * rules) and emitted if it survives. In observed mode the last grid
    * bin `gi` (trunc of the max stop) is known only at the end, so a bin
    * closes only once it is at or below the `gi` of the stops seen so
    * far; on a grid aligned to the truncation unit that never holds a
    * bin back.
    */
  private final class Sweep(counter: String, binUs: Long, level: Int, zone: ZoneId,
                            configGrid: Option[(Long, Long)]) {
    private var origin = 0L
    private var gi = -1L            // the last grid bin known to exist
    private var started = false
    private var sums = new Array[Double](8)
    private var touched = new Array[Boolean](8)
    private var head = 0            // ring slot of bin `next`
    private var open = 0            // open bins: next until next + open - 1
    private var next = 0L
    private var prevNz = false      // the bin before `next` is nonzero
    private var dropped = false     // some settled bin was not kept
    private var held = -1L          // a kept untouched zero, emitted once a touched bin follows
    private var heldOk = false      // `dropped` when it was held: the final slice keeps it
    private val out = scala.collection.mutable.ArrayBuffer.empty[Bin]

    /** Adds one row; returns the bins it closed that survive. */
    def add(r: Interval): Iterator[Bin] = {
      out.clear()
      if (!started) {
        started = true
        origin = configGrid.fold(DateTimeUtils.truncTimestamp(r.t0, level, zone))(_._1)
      }
      gi = configGrid.fold(math.max(gi, lastBin(r.t1)))(_._2)
      val i0 = (r.t0 - origin) / binUs
      settleUpTo(math.min(i0 - 1, gi))
      r.count.foreach { c =>
        val i1 = (r.t1 - 1 - origin) / binUs
        val size = (r.t1 - r.t0).toDouble
        var i = i0
        while (i <= i1) {
          val b0 = origin + i * binUs
          val k = slot(i)
          sums(k) += c * (math.min(r.t1, b0 + binUs) - math.max(r.t0, b0)).toDouble / size
          touched(k) = true
          i += 1
        }
      }
      out.iterator
    }

    /** Settles every bin up to the last grid bin; returns the survivors. */
    def finish(): Iterator[Bin] = {
      out.clear()
      settleUpTo(gi)
      if (held >= 0 && heldOk) out += Bin(counter, origin + held * binUs, 0.0)
      out.iterator
    }

    private def lastBin(t1: Long): Long =
      (DateTimeUtils.truncTimestamp(t1, level, zone) - origin) / binUs

    /** The ring slot of open bin i, opening bins up to i. */
    private def slot(i: Long): Int = {
      val n = (i - next).toInt + 1
      if (n > sums.length) {
        var cap = sums.length * 2
        while (cap < n) cap *= 2
        val (s, t) = (new Array[Double](cap), new Array[Boolean](cap))
        for (j <- 0 until open) {
          s(j) = sums((head + j) % sums.length)
          t(j) = touched((head + j) % sums.length)
        }
        sums = s; touched = t; head = 0
      }
      open = math.max(open, n)
      (head + n - 1) % sums.length
    }

    private def settleUpTo(last: Long): Unit =
      while (next <= last) {
        if (open > 0) {
          val (s, t) = (sums(head), touched(head))
          sums(head) = 0.0; touched(head) = false
          head = (head + 1) % sums.length
          open -= 1
          settle(s, t)
          next += 1
        } else {
          // untouched run next..last: only its first bin can be kept
          // (prev nonzero); the rest are dropped zeros
          settle(0.0, isTouched = false)
          if (last > next) dropped = true
          next = last + 1
        }
      }

    /** Densify and zero-trim bin `next`: kept iff it or its predecessor
      * is nonzero; a kept bin is emitted if some touched bin is at or
      * after it, and a kept untouched zero after the last touched bin
      * survives the final slice iff an earlier bin was dropped.
      */
    private def settle(s: Double, isTouched: Boolean): Unit = {
      if (isTouched && held >= 0) {
        out += Bin(counter, origin + held * binUs, 0.0)
        held = -1L
      }
      if (s != 0.0 || prevNz) {
        if (isTouched) out += Bin(counter, origin + next * binUs, s)
        else { held = next; heldOk = dropped }
      } else dropped = true
      prevNz = s != 0.0
    }
  }

  /** The same computation as a DuckDB CTE chain over a relation named
    * `raw_counts(ts, duration_sec, count, counter)`; yields
    * `rebinned(counter, ts, duration_sec, count)`.
    */
  def oracleCtes(binningUnit: String = "hours",
                 nUnit: Int = 1,
                 startTime: String = "1970-01-01 00:00:00",
                 stopTime: String = "2100-01-01 00:00:00",
                 gridFromConfig: Boolean = false): String = {
    val unit = binningUnit.stripSuffix("s")
    val binSec = unitSeconds(binningUnit) * nUnit
    val gridCte =
      if (gridFromConfig) {
        val gendSec = lastConfigBin(startTime, stopTime, binSec) * binSec
        s"""rb_grid AS (
           |  SELECT counter,
           |         unnest(generate_series(TIMESTAMP '$startTime',
           |                                TIMESTAMP '$startTime' + to_seconds($gendSec),
           |                                INTERVAL '$binSec' SECOND)) AS bin_start
           |  FROM (SELECT DISTINCT counter FROM rb_in)),""".stripMargin
      } else
        s"""rb_grid AS (
           |  SELECT counter,
           |         unnest(generate_series(date_trunc('$unit', min(ts)),
           |                                date_trunc('$unit', max(stop_ts)),
           |                                INTERVAL '$binSec' SECOND)) AS bin_start
           |  FROM rb_in GROUP BY counter),""".stripMargin
    s"""rb_in AS (
       |  SELECT counter, ts, ts + to_seconds(duration_sec) AS stop_ts, count
       |  FROM raw_counts
       |  WHERE ts + to_seconds(duration_sec) <= TIMESTAMP '$stopTime'
       |    AND ts >= TIMESTAMP '$startTime'
       |    AND ts + to_seconds(duration_sec) > ts),
       |$gridCte
       |rb_grid2 AS (
       |  SELECT counter, bin_start,
       |         bin_start + INTERVAL '$binSec' SECOND AS bin_stop
       |  FROM rb_grid),
       |rb_sums AS (
       |  SELECT i.counter, g.bin_start,
       |         sum(i.count
       |             * (epoch_us(least(i.stop_ts, g.bin_stop))
       |                - epoch_us(greatest(i.ts, g.bin_start)))::DOUBLE
       |             / (epoch_us(i.stop_ts) - epoch_us(i.ts))::DOUBLE) AS fcount
       |  FROM rb_in i JOIN rb_grid2 g
       |    ON i.counter = g.counter
       |   AND i.ts < g.bin_stop AND i.stop_ts > g.bin_start
       |  GROUP BY i.counter, g.bin_start),
       |rb_dense AS (
       |  SELECT g.counter, g.bin_start, coalesce(s.fcount, 0.0) AS fcount,
       |         s.fcount IS NOT NULL AS touched
       |  FROM rb_grid2 g LEFT JOIN rb_sums s
       |    ON g.counter = s.counter AND g.bin_start = s.bin_start),
       |rb_flag AS (
       |  SELECT counter, bin_start, fcount, touched,
       |         row_number() OVER (PARTITION BY counter ORDER BY bin_start) - 1 AS idx,
       |         lag(fcount, 1, 0.0) OVER (PARTITION BY counter ORDER BY bin_start) AS prev
       |  FROM rb_dense),
       |rb_keep AS (
       |  SELECT *, (fcount != 0 OR prev != 0) AS keep,
       |         max(CASE WHEN touched THEN idx END) OVER (PARTITION BY counter) AS last_nz,
       |         sum(CASE WHEN (fcount != 0 OR prev != 0) THEN 1 ELSE 0 END)
       |           OVER (PARTITION BY counter ORDER BY bin_start) AS krn
       |  FROM rb_flag),
       |rebinned AS (
       |  SELECT counter, bin_start AS ts, CAST($binSec AS DOUBLE) AS duration_sec,
       |         ${Rounding.stableIntTruncSql("fcount")} AS count
       |  FROM rb_keep WHERE keep AND krn <= last_nz + 1)""".stripMargin
  }
}
