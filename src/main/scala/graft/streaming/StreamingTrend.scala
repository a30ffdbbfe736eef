package graft.streaming

import graft.functions.Rounding
import graft.trend.{SeriesTransforms, Steps}
import graft.trend.Steps.{Model, ScorerState}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import scala.reflect.runtime.universe.TypeTag

/** Structured-Streaming variant of the trend pipeline (SURVEY.md §2.7,
  * build-plan module 10). The reference's models are point-by-point by
  * design ("each model to get updated point-by-point", README.md:163-166),
  * so the streaming mapping is direct:
  *
  *  - rebin ⇒ tumbling event-time windows + watermark: the uniform grid IS
  *    `window(ts, binSec)`; proportional splitting of straddling input
  *    intervals is a batch-only concern (streaming input is per-event
  *    rows, which never straddle a bin), and densify/zero-trim are
  *    meaningless over an unbounded stream — untouched bins simply never
  *    materialize;
  *  - the analyze scan ⇒ one keyed-state scorer (`flatMapGroupsWithState`
  *    keyed by counter) shared by every model. Each model is its
  *    [[graft.trend.Steps]] zero state plus per-bin step — the same step
  *    the batch model folds over a counter's sorted bins — and its state
  *    is exactly the reference model's mutable members (Poisson lc: the
  *    previous bin's count, models.py:274-282).
  *
  * The two stages are separate streaming jobs composed through a sink
  * (parquet/Kafka/memory), mirroring the reference's stage files — Spark
  * disallows a row-level stateful operator downstream of a windowed
  * aggregation in one query, and the checkpoint boundary is where the
  * reference's CSV handoff sat anyway.
  *
  * Scale: both stages shuffle once on `counter`. Rebin state is one window
  * aggregate per open bin, bounded by watermark slack × counters. Scorer
  * state per counter: O(1) for lc (the previous count); O(period keys)
  * for cycle (e.g. 24 for hour-of-day); O(avgWindow + regWindow) for
  * linReg (O(avgWindow) when expanding); O(referenceLength) for WDT;
  * O(windowSize) for windowed MK, and the series so far (bounded by grid
  * bins) for expanding MK. None grows with event volume. Per bin, MK
  * updates its window's order-statistics tree in O(log n) expected.
  *
  * Checkpoints: a scorer's state schema is its state class's fields. The
  * lc, cycle, linReg and WDT state classes kept theirs when they moved to
  * [[graft.trend.Steps]], so checkpoints written before the move resume.
  * The MK state changed from the count buffer (`counts`, `runsum`) to
  * `MkState` (S, the tie sum and the window's tree): an MK checkpoint
  * written before that change fails at query start, in Spark's state
  * schema check, and is never scored with the wrong state. Restart such a
  * query on a new checkpoint.
  */
object StreamingTrend {

  final case class Binned(counter: String, ts: java.sql.Timestamp,
                          duration_sec: Double, count: Double)
  final case class Scored(counter: String, ts: java.sql.Timestamp,
                          count: Double, eta: Double)
  private val unitSeconds = Map(
    "minutes" -> 60L, "hours" -> 3600L, "days" -> 86400L, "weeks" -> 604800L)

  /** Tumbling-window streaming rebin over per-event rows
    * (ts, counter[, count]); emits finalized bins (append mode) once the
    * watermark passes the bin end.
    *
    * Grid alignment: batch Rebin anchors each counter's grid at
    * date_trunc(unit, min ts) — a DATA-DEPENDENT origin that a stateless
    * streaming groupBy cannot know. For single-unit bins the two coincide:
    * every unit-truncated instant is a fixed offset from the epoch grid,
    * PROVIDED the session zone's UTC offset is constant. Spark's window()
    * aligns to the epoch in UTC while batch date_trunc works in the
    * session zone, so the window startTime below shifts the grid by the
    * zone offset (weeks also get the epoch-Thursday → Monday shift). A
    * DST zone has no fixed offset — its local 'days' cannot be an
    * epoch-periodic window — so non-fixed zones are rejected loudly
    * rather than silently diverging from batch.
    *
    * nUnit > 1 grids start at the per-counter truncated MIN ts
    * (data-dependent): compose this single-unit stream with
    * [[coarsenStream]] (separate stage, like the scorers) instead.
    */
  def rebinStream(events: DataFrame, binningUnit: String = "hours",
                  nUnit: Int = 1, watermarkSlack: String = "0 seconds"): DataFrame = {
    require(nUnit == 1,
      "streaming rebin supports single-unit bins only: batch grids for " +
        "nUnit > 1 start at the per-counter truncated min ts, which is " +
        "data-dependent — compose rebinStream(nUnit=1) with coarsenStream")
    val binSec = unitSeconds(binningUnit) * nUnit
    val zoneOffSec = fixedZoneOffsetSec(events.sparkSession)
    // date_trunc('week') is Monday-aligned; the epoch is a Thursday
    val baseOff = if (binningUnit == "weeks") 345600L else 0L
    val startSec = java.lang.Math.floorMod(baseOff - zoneOffSec, binSec)
    val withCount =
      if (events.columns.contains("count")) events else events.withColumn("count", lit(1.0))
    withCount
      .withWatermark("ts", watermarkSlack)
      .groupBy(col("counter"),
        window(col("ts"), s"$binSec seconds", s"$binSec seconds", s"$startSec seconds"))
      .agg(sum("count").as("fcount"))
      .select(col("counter"), col("window.start").as("ts"),
        lit(binSec.toDouble).as("duration_sec"),
        Rounding.stableIntTrunc(col("fcount")).as("count"))
  }

  /** The session zone's constant UTC offset in seconds; rejects DST zones
    * loudly — their wall-clock grids are not epoch-periodic, so batch
    * date_trunc and streaming window() could not agree silently.
    */
  private def fixedZoneOffsetSec(spark: org.apache.spark.sql.SparkSession): Long = {
    val zone = java.time.ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone)
    require(zone.getRules.isFixedOffset,
      s"streaming rebin requires a fixed-offset session timezone (got $zone): " +
        "a DST zone's local bin grid is not expressible as an epoch-aligned " +
        "tumbling window — set spark.sql.session.timeZone to UTC or a " +
        "fixed offset")
    zone.getRules.getOffset(java.time.Instant.EPOCH).getTotalSeconds.toLong
  }

  /** Coarsen-state per counter: grid origin (unit-truncated MIN seen ts)
    * and the open single-unit bins (ts → count). Keeping unit-level
    * granularity (not pre-summed coarse bins) lets the origin re-anchor
    * downward when bounded disorder delivers an earlier bin after a later
    * one, and makes redelivery idempotent (same ts overwrites with the
    * same finalized count).
    */
  final case class CoarseState(originUs: Long, openUnit: Map[Long, Double])

  /** Stateful nUnit-coarsening of a finalized single-unit bin stream —
    * the streaming analogue of the batch nUnit > 1 grid (so the
    * walkthrough's 2-hour-bin config runs end-to-end streaming). Keyed
    * state resolves the data-dependent origin exactly like batch Rebin:
    * origin = date_trunc(unit, first-seen ts) per counter.
    *
    * Emission is PURELY watermark-driven: a coarse bin
    * [origin + i·n·unit, origin + (i+1)·n·unit) is emitted once the
    * watermark passes its end (checked on every data arrival and via
    * event-time timeout). Because the watermark also gates Spark's
    * late-row filter, no row for an already-emitted bin can ever be
    * delivered — bounded out-of-order input within the slack lands in a
    * still-open bin, never in a finalized one. The origin is the
    * unit-truncation of the MINIMUM ts seen; an earlier bin arriving
    * after a later one (within the slack) re-anchors it downward, which
    * is safe because coarse indexes are assigned only at emission time,
    * and once anything has been emitted the late filter makes
    * below-origin arrivals impossible. Duplicate redelivery
    * (at-least-once sinks) overwrites the same (ts, count) entry —
    * idempotent by construction. State per key is the open unit bins:
    * O(coarse window + slack, in units), independent of stream length.
    *
    * Runs as its own stage over the single-unit sink, exactly like the
    * scorers (Spark disallows row-stateful ops under a windowed agg in
    * one query).
    *
    * Watermark slack defaults to ONE upstream unit: upstream finalizes all
    * keys' hour-h bins in the same micro-batch, but if a replay or
    * repartition interleaves keys across batches, a bin whose ts equals
    * this stage's watermark would be dropped as late — one unit of slack
    * absorbs any single-batch interleaving.
    */
  def coarsenStream(binned: DataFrame, binningUnit: String, nUnit: Int,
                    watermarkSlack: Option[String] = None): Dataset[Binned] = {
    require(nUnit >= 1, "nUnit must be positive")
    val spark = binned.sparkSession
    import spark.implicits._
    val slack = watermarkSlack.getOrElse(s"${unitSeconds(binningUnit)} seconds")
    val unitUs = unitSeconds(binningUnit) * 1000000L
    val coarseUs = unitUs * nUnit
    val binSecOut = (unitSeconds(binningUnit) * nUnit).toDouble
    val zoneOffUs = fixedZoneOffsetSec(spark) * 1000000L
    val weekOffUs = if (binningUnit == "weeks") 345600L * 1000000L else 0L
    // unit-truncation in the session zone, µs domain (batch date_trunc twin)
    def truncUs(tsUs: Long): Long = {
      val local = tsUs + zoneOffUs - weekOffUs
      java.lang.Math.floorDiv(local, unitUs) * unitUs - zoneOffUs + weekOffUs
    }
    def emit(counter: String, originUs: Long, idx: Long, accum: Double): Binned =
      Binned(counter, new java.sql.Timestamp((originUs + idx * coarseUs) / 1000L),
        binSecOut, Rounding.stableIntTruncScalar(accum))
    binnedRows(binned)
      .withWatermark("ts", slack)
      .groupByKey(_.counter)
      .flatMapGroupsWithState[CoarseState, Binned](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (counter, rows, state: GroupState[CoarseState]) =>
          var st = state.getOption.getOrElse(CoarseState(Long.MinValue, Map.empty))
          // fold arrivals (none on a pure timeout invocation): overwrite
          // by ts — upstream bins are finalized, so redelivery is a no-op;
          // a ts below the current origin re-anchors it (emission hasn't
          // touched anything below the watermark yet, see docstring)
          rows.foreach { b =>
            val tsUs = b.ts.getTime * 1000L
            val origin =
              if (st.originUs == Long.MinValue || truncUs(tsUs) < st.originUs) truncUs(tsUs)
              else st.originUs
            st = CoarseState(origin, st.openUnit.updated(tsUs, b.count))
          }
          // emit every coarse bin whose end the watermark has passed; rows
          // for those bins are now behind the late filter, so finalized
          // bins can never receive data again
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val (done, stillOpen) = st.openUnit.partition { case (tsUs, _) =>
            val idx = java.lang.Math.floorDiv(tsUs - st.originUs, coarseUs)
            st.originUs + (idx + 1) * coarseUs <= wmUs
          }
          val out = done.toSeq
            .groupBy { case (tsUs, _) => java.lang.Math.floorDiv(tsUs - st.originUs, coarseUs) }
            .toSeq.sortBy(_._1)
            .map { case (idx, bins) =>
              // ts-ordered summation: deterministic even for fractional counts
              emit(counter, st.originUs, idx, bins.sortBy(_._1).map(_._2).sum)
            }
          st = st.copy(openUnit = stillOpen)
          state.update(st)
          if (st.openUnit.nonEmpty) {
            // wake when the watermark passes the oldest open coarse end
            val minIdx = st.openUnit.keys
              .map(t => java.lang.Math.floorDiv(t - st.originUs, coarseUs)).min
            state.setTimeoutTimestamp((st.originUs + (minIdx + 1) * coarseUs) / 1000L)
          }
          out.iterator
      }
  }

  /** The typed view of a finalized bin stream, every stateful stage's input. */
  private def binnedRows(binned: DataFrame): Dataset[Binned] = {
    import binned.sparkSession.implicits._
    binned.selectExpr("counter", "ts", "CAST(duration_sec AS DOUBLE) AS duration_sec",
      "CAST(count AS DOUBLE) AS count").as[Binned]
  }

  private def tsUs(b: Binned): Long = b.ts.getTime * 1000L

  /** The one keyed-state operator behind every scorer: per counter, the
    * micro-batch's bins in ts order, minus those not after the state's
    * `lastTsUs` (replays and out-of-order bins; the upstream watermark
    * makes them impossible in the composed pipeline), each folded into
    * the state by the model's step, whose raw eta is trimmed.
    */
  private def scorer[S <: ScorerState with Product : TypeTag](binned: DataFrame,
                                                              model: Model[S, Double]): Dataset[Scored] = {
    import binned.sparkSession.implicits._
    binnedRows(binned)
      .groupByKey(_.counter)
      .flatMapGroupsWithState[S, Scored](OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (counter, rows, state: GroupState[S]) =>
          var st = state.getOption.getOrElse(model.zero)
          val out = rows.toArray.sortBy(_.ts.getTime).iterator
            .filter(tsUs(_) > st.lastTsUs)
            .map { b =>
              val (next, eta) = model.step(st, tsUs(b), b.count)
              st = next
              Scored(counter, b.ts, b.count, Rounding.trim2Scalar(eta))
            }.toVector
          state.update(st)
          out.iterator
      }
  }

  /** Stateful point-by-point Poisson-lc scorer over a stream of finalized
    * bins: the background mean is the previous bin's count (none before
    * the first bin, which scores 0).
    */
  def poissonLcStream(binned: DataFrame, alpha: Double = 0.99): Dataset[Scored] =
    scorer(binned, Steps.lc(alpha))

  /** Stateful Mann-Kendall scorer: z over the count history at every bin,
    * or over the trailing `windowSize` counts when given.
    */
  def mannKendallStream(binned: DataFrame,
                        windowSize: Option[Int] = None): Dataset[Scored] =
    scorer(binned, Steps.mk(windowSize))

  /** Stateful WeightedDataTemplates scorer: the trailing referenceLength
    * counts (bounded state) scored against the broadcast library with the
    * exact batch kernel, including the warm-up gates (models.py:158-161).
    */
  def wdtStream(binned: DataFrame, library: Array[(Boolean, Array[Double])],
                cfg: SeriesTransforms.Config): Dataset[Scored] =
    scorer(binned, Steps.wdt(binned.sparkSession.sparkContext.broadcast(library), cfg))

  /** Stateful linear-regression scorer, bit-identical to the batch
    * `Models.linReg`: both fold the same step.
    */
  def linRegStream(binned: DataFrame, minPoints: Int, avgWindow: Int = 1,
                   regWindow: Option[Int] = None,
                   normByMean: Boolean = false): Dataset[Scored] =
    scorer(binned, Steps.linReg(minPoints, avgWindow, regWindow, normByMean))

  /** Stateful cycle-mode Poisson scorer: the background mean is the
    * running average of counts sharing the current bin's period key,
    * INCLUDING the current point (models.py:284-298). Period keys are
    * evaluated in the SESSION timezone, as the batch model's are, so
    * streaming and batch agree in any deployment, not just UTC sessions.
    */
  def poissonCycleStream(binned: DataFrame, alpha: Double = 0.99,
                         periodList: Seq[String] = Seq("hour")): Dataset[Scored] = {
    val zone = java.time.ZoneId.of(binned.sparkSession.sessionState.conf.sessionLocalTimeZone)
    scorer(binned, Steps.cycle(alpha, periodList, zone))
  }
}
