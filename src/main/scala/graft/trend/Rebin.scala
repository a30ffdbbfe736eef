package graft.trend

import graft.functions.Rounding
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

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
  *    (the IndexError pass at analysis.py:123-124) — the bin-index cap `gi`
  *    reproduces it;
  *  - densify: grid bins with no data get count 0 (analysis.py:139-143);
  *  - zero-trim (analysis.py:131-154): a row is kept iff its count or its
  *    predecessor's count is nonzero (so only the FIRST zero of each zero
  *    run survives), and the kept list is then sliced to its first
  *    (last_touched_grid_idx + 1) elements — the reference slices the
  *    *compacted* list by a *grid* index, and the bound is the last bin
  *    TOUCHED by any input row (`idx in output_data`, analysis.py:140-142),
  *    even one whose accumulated count is 0.0. We reproduce both quirks via
  *    a running kept-row counter and a touched flag;
  *  - counts are truncated to int (analysis.py:146-150).
  *
  * Scale design: one scan of the input and ONE exchange, of the raw
  * rows hash-partitioned by counter — raw rows, not map-side partial
  * sums, because every later step reuses that partitioning instead of
  * shuffling again:
  *  - the per-counter extent (origin, gend) is a min/max window over the
  *    counter partition, not a separate aggregation joined back;
  *  - each row's overlapped bins are computed in closed form (a bin index
  *    range from the counter's origin) and exploded — O(rows × bins
  *    overlapped), never O(rows × grid);
  *  - the (counter, bin) hash aggregation runs in place on the counter
  *    partitioning and carries the extent;
  *  - densify needs no grid and no join: each touched bin emits the
  *    untouched bins up to the next touched one (`lead`) as zero rows;
  *  - the zero-trim windows run over the same partitions.
  * No driver-side collection. Skew: a hot counter's rows all land in one
  * task — its series is one window partition whatever the exchange.
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
    val unit = binningUnit.stripSuffix("s")
    val binSec = unitSeconds(binningUnit) * nUnit
    val binUsec = binSec * 1000000L

    // range filter drops whole straddling rows (analysis.py:65-68);
    // stop_ts > ts also drops degenerate zero-duration rows, which the
    // proportional split (count·overlap/size) cannot define — filtered
    // identically in the oracle CTE so both engines agree on such input.
    // A null counter forms no series: the oracle's equi join on counter
    // drops it, while the partitioning, windows and grouping below would
    // all treat null as one more counter
    val in = raw
      .withColumn("stop_ts", col("ts") + expr("make_interval(0,0,0,0,0,0,duration_sec)"))
      .where(col("stop_ts") <= lit(stopTime).cast("timestamp") &&
             col("ts") >= lit(startTime).cast("timestamp") &&
             col("stop_ts") > col("ts") &&
             col("counter").isNotNull)
      // the one exchange: raw rows by counter. The extent window, the
      // (counter, bin) aggregation and every window below reuse it
      .repartition(col("counter"))

    // grid extent per counter. Observed mode: origin = trunc(min
    // start), last bin start = trunc(max stop). Config mode: the same
    // constant (origin, gend) for every counter — a pair of literals.
    val wAll = Window.partitionBy("counter")
    val (origin, gend) =
      if (gridFromConfig) {
        val gendSec = lastConfigBin(startTime, stopTime, binSec) * binSec
        (lit(startTime).cast("timestamp"),
          lit(startTime).cast("timestamp") + expr(s"INTERVAL '$gendSec' SECOND"))
      } else
        (date_trunc(unit, min("ts").over(wAll)),
          date_trunc(unit, max("stop_ts").over(wAll)))

    // closed-form overlapped-bin range per input row, in grid indices:
    // bins i with origin + i·bin < stop_ts and origin + (i+1)·bin > ts,
    // capped to the last grid bin gi. origin <= min(ts) by construction so
    // i0 >= 0. Each (counter, i) sum carries the counter's grid extent.
    val sums = in
      .select(col("*"), unix_micros(origin).as("o_us"), unix_micros(gend).as("g_us"))
      .withColumn("gi", expr(s"(g_us - o_us) DIV $binUsec"))
      .withColumn("i0", expr(s"(unix_micros(ts) - o_us) DIV $binUsec"))
      .withColumn("i1", least(
        expr(s"(unix_micros(stop_ts) - 1 - o_us) DIV $binUsec"), col("gi")))
      .where(col("i1") >= col("i0"))
      .withColumn("bi", explode(sequence(col("i0"), col("i1"))))
      .withColumn("b0", col("o_us") + col("bi") * binUsec)
      .withColumn("part", col("count") *
        (least(unix_micros(col("stop_ts")), col("b0") + binUsec) -
          greatest(unix_micros(col("ts")), col("b0"))).cast("double") /
        (unix_micros(col("stop_ts")) - unix_micros(col("ts"))).cast("double"))
      .groupBy("counter", "bi", "o_us", "gi")
      .agg(sum("part").as("fcount"))

    // densify without a grid: each touched bin also emits the untouched
    // bins up to the next touched one (the last, up to gi) as zero rows;
    // the first also emits the leading gap from the grid origin (config
    // mode — observed mode always touches bin 0), which idx counts. A bin
    // whose rows all carry a null count sums to null and stays an
    // untouched zero, as the oracle's left join of the grid leaves it
    val wBin = Window.partitionBy("counter").orderBy("bi")
    val dense = sums
      .select(col("*"),
        when(lag("bi", 1).over(wBin).isNull, lit(0L)).otherwise(col("bi")).as("e0"),
        coalesce(lead("bi", 1).over(wBin) - 1, col("gi")).as("e1"))
      .withColumn("e", explode(sequence(col("e0"), col("e1"))))
      .withColumn("touched", col("e") === col("bi") && col("fcount").isNotNull)
      .select(col("counter"),
        timestamp_micros(col("o_us") + col("e") * binUsec).as("bin_start"),
        col("touched"),
        when(col("touched"), col("fcount")).otherwise(lit(0.0)).as("fcount"))

    val wOrd = Window.partitionBy("counter").orderBy("bin_start")
    dense
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
