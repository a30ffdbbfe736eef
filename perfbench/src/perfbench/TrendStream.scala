package perfbench

import graft.streaming.StreamingTrend
import graft.streaming.StreamingTrend.Scored
import graft.trend.{MannKendall, Models}
import java.sql.Timestamp
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.locks.LockSupport
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import scala.collection.mutable
import scala.io.Source

final case class StreamEvent(ts: Timestamp, counter: String, count: Double)
final case class StreamBin(counter: String, ts: Timestamp, duration_sec: Double, count: Double)

/** The stream phase of the trend workload: an open loop at a fixed
  * offered rate.
  *
  * A generator thread replays the seeded event schedule into a memory
  * source on its own clock (it never waits for the engine) and stamps
  * each burst with the time it was due. The engine runs
  * `StreamingTrend.rebinStream` (hourly bins, 30 event-minute watermark
  * slack) and, inside each of its micro-batches, hands the bins it closed
  * to the three keyed-state scorers (`poissonLcStream`, `linRegStream`,
  * `mannKendallStream`) and waits for them, so a micro-batch ends when its
  * bins are scored. Latency of an event: due time → end of the
  * micro-batch that consumed it. Default trigger: the next micro-batch
  * starts when the previous one ends.
  */
object TrendStream {
  /** Schedule seconds before the measured window opens. */
  private val WarmupS = 1.0
  private val WarmupEvents = 2000
  private val SlackMs = 1800000L
  private val Slack = s"${SlackMs / 1000} seconds"

  final class Schedule(path: String) {
    private val rows = {
      val src = Source.fromFile(path)
      try src.getLines().map(_.split(',')).toArray finally src.close()
    }
    val dueMs: Array[Long] = rows.map(_(0).toLong)
    val eventMs: Array[Long] = rows.map(_(1).toLong)
    val counter: Array[String] = rows.map(_(2))
    val count: Array[Double] = rows.map(_(3).toDouble)
    def size: Int = dueMs.length
  }

  /** One burst handed to the source: its offset, due and hand-over times. */
  final case class Tick(offset: Long, dueNs: Long, addedNs: Long, events: Int, maxEventMs: Long)

  /** The stream phase's four queries: the rebin and the three scorers. */
  final class Pipe(r: Run, dir: String) {
    private val spark = r.spark
    import spark.implicits._
    /** The event source, split into one partition per core like a
      * partitioned message queue.
      */
    val source: MemoryStream[StreamEvent] =
      MemoryStream[StreamEvent](4)(Encoders.product[StreamEvent], spark.sqlContext)
    private val scorerIn = Seq.fill(3)(MemoryStream(Encoders.product[StreamBin], spark))
    /** Per scorer: the bins handed to it, and the rows it scored. */
    val fed: Seq[mutable.ArrayBuffer[StreamBin]] = Seq.fill(3)(mutable.ArrayBuffer.empty[StreamBin])
    val scored: Seq[mutable.ArrayBuffer[Scored]] = Seq.fill(3)(mutable.ArrayBuffer.empty[Scored])
    /** batch id → end of the rebin query's foreachBatch */
    val batchEnd = new ConcurrentHashMap[Long, Long]()

    val scorers: Seq[StreamingQuery] = Seq(
      StreamingTrend.poissonLcStream(scorerIn(0).toDF(), 0.99),
      StreamingTrend.linRegStream(scorerIn(1).toDF(), minPoints = 24,
        regWindow = Some(24), normByMean = true),
      StreamingTrend.mannKendallStream(scorerIn(2).toDF(), Some(24))
    ).zipWithIndex.map { case (ds, k) =>
      val sink: (Dataset[Scored], Long) => Unit = (df, id) => {
        r.tracer.span("streaming.score") { _ =>
          val rows = df.collect()
          scored(k).synchronized { scored(k) ++= rows }
        }
      }
      ds.writeStream.outputMode("append")
        .option("checkpointLocation", s"$dir/ck-score$k")
        .foreachBatch(sink).start()
    }

    val rebin: StreamingQuery = {
      val sink: (DataFrame, Long) => Unit = (df, id) => {
        r.tracer.span("streaming.batch") { _ =>
          val out = df.selectExpr("counter", "ts", "CAST(duration_sec AS DOUBLE) AS duration_sec",
            "CAST(count AS DOUBLE) AS count").as[StreamBin].collect()
          if (out.nonEmpty) {
            scorerIn.zip(fed).foreach { case (in, f) =>
              in.addData(out.toSeq)
              f.synchronized { f ++= out }
            }
            scorers.foreach(_.processAllAvailable())
          }
        }
        batchEnd.put(id, System.nanoTime())
      }
      StreamingTrend.rebinStream(source.toDF(), "hours", 1, Slack)
        .writeStream.outputMode("append")
        .option("checkpointLocation", s"$dir/ck-rebin")
        .foreachBatch(sink).start()
    }

    def queries: Seq[StreamingQuery] = rebin +: scorers

    def stop(): Unit = queries.foreach(q => try q.stop() catch { case _: Exception => })
  }

  /** Replays the schedule from its start, on the clock started at
    * `startNs`, until the bursts due by `stopNs` are offered.
    */
  final class Generator(s: Schedule, src: MemoryStream[StreamEvent], startNs: Long,
                        stopNs: Long) extends Thread {
    val ticks = mutable.ArrayBuffer.empty[Tick]
    setDaemon(true)
    override def run(): Unit = {
      var i = 0
      while (i < s.size && startNs + s.dueMs(i) * 1000000L < stopNs) {
        val due = startNs + s.dueMs(i) * 1000000L
        var now = System.nanoTime()
        while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
        var j = i
        while (j < s.size && s.dueMs(j) == s.dueMs(i)) j += 1
        val evs = (i until j).map(k => StreamEvent(new Timestamp(s.eventMs(k)), s.counter(k), s.count(k)))
        val added = System.nanoTime()
        val off = src.addData(evs).json().toLong
        ticks += Tick(off, due, added, j - i, s.eventMs.slice(i, j).max)
        i = j
      }
    }
  }

  /** Runs in the session the batch phase set up. */
  def run(r: Run): Unit = {
    val sched = new Schedule(r.input("events.csv"))
    val pipe = new Pipe(r, r.path("stream"))
    r.tracer.recording = false
    // Warm-up, not timed: the head of the schedule moved back 30 event
    // hours, in a few micro-batches, then one event that moves the
    // watermark past every warm-up bin (so all three scorers run) yet
    // stays hours below the earliest scheduled event.
    val back = 30 * 3600000L
    (0 until WarmupEvents).grouped(WarmupEvents / 2).foreach { chunk =>
      pipe.source.addData(chunk.map(k =>
        StreamEvent(new Timestamp(sched.eventMs(k) - back), sched.counter(k), sched.count(k))))
      pipe.rebin.processAllAvailable()
    }
    pipe.source.addData(Seq(StreamEvent(new Timestamp(sched.eventMs(0) - 6 * 3600000L + SlackMs), "flush", 1.0)))
    pipe.rebin.processAllAvailable()
    r.tracer.recording = true
    r.log("stream warm-up done")
    val nanoPerMs = System.nanoTime() - System.currentTimeMillis() * 1000000L
    val startNs = System.nanoTime()
    val measuredFrom = startNs + (WarmupS * 1e9).toLong
    val measuredTo = measuredFrom + (r.seconds * 1e9).toLong
    val gen = new Generator(sched, pipe.source, startNs, measuredTo)
    gen.start()
    r.log("generator started")
    gen.join()
    // wait until the last burst has been consumed by an ended micro-batch
    def endedOffset: Long = pipe.rebin.recentProgress.lastOption
      .flatMap(p => Option(p.sources.head.endOffset)).map(_.toLong).getOrElse(-1L)
    val lastOffset = gen.ticks.last.offset
    val deadline = System.nanoTime() + 60000000000L
    while (System.nanoTime() < deadline && endedOffset < lastOffset) Thread.sleep(20)
    r.log("measured window drained")

    val progress = pipe.rebin.recentProgress.toSeq
    val ticks = gen.ticks.toList // read after join: the generator is done
    val measured = ticks.filter(t => t.dueNs >= measuredFrom && t.dueNs < measuredTo)
    measure(r, pipe, progress, ticks, measured, nanoPerMs)
    verify(r, pipe)
    pipe.stop()
  }

  private def parseMs(iso: String): Long = java.time.Instant.parse(iso).toEpochMilli

  private def measure(r: Run, pipe: Pipe, progress: Seq[StreamingQueryProgress],
                      ticks: List[Tick], measured: List[Tick], nanoPerMs: Long): Unit = {
    def off(s: String): Long = Option(s).map(_.toLong).getOrElse(-1L)
    // batches that consumed a measured burst
    val firstOff = measured.head.offset
    val lastOff = measured.last.offset
    val batches = progress.filter { p =>
      val s = p.sources.head
      off(s.endOffset) > off(s.startOffset) && off(s.endOffset) >= firstOff && off(s.startOffset) < lastOff
    }
    val latencies = mutable.ArrayBuffer.empty[Double]
    val queueWait = mutable.ArrayBuffer.empty[Double]
    measured.foreach { t =>
      batches.find(p => off(p.sources.head.startOffset) < t.offset && t.offset <= off(p.sources.head.endOffset))
        .foreach { p =>
          val end = pipe.batchEnd.get(p.batchId)
          val start = parseMs(p.timestamp) * 1000000L + nanoPerMs
          latencies ++= Iterator.fill(t.events)((end - t.dueNs) / 1e6)
          queueWait ++= Iterator.fill(t.events)(math.max(0L, start - t.dueNs) / 1e6)
        }
    }
    val consumed = latencies.size
    val offered = measured.map(_.events).sum
    r.check(s"all $offered measured events consumed", consumed == offered, s"consumed $consumed")
    r.extra("latency_ms") = Json.arr(latencies)

    def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else { val s = xs.sorted; s(s.size / 2) }
    val dur = batches.map(p => p.durationMs.get("triggerExecution").toDouble)
    val scorerProgress = pipe.queries.tail.map(_.lastProgress).filter(_ != null)
    val allLast = pipe.queries.map(_.lastProgress).filter(_ != null)
    val backlog = batches.map { p =>
      val start = parseMs(p.timestamp) * 1000000L + nanoPerMs
      ticks.filter(t => t.addedNs <= start && t.offset > off(p.sources.head.startOffset)).map(_.events).sum
    }
    val wmLag = batches.flatMap { p =>
      Option(p.eventTime.get("watermark")).map { wm =>
        val end = pipe.batchEnd.get(p.batchId)
        val offeredEventMs = ticks.filter(_.addedNs <= end).map(_.maxEventMs).maxOption.getOrElse(0L)
        (offeredEventMs - parseMs(wm)) / 1e3
      }
    }
    val (from, to) = (batches.head.timestamp, batches.last.timestamp)
    val commit = pipe.queries.flatMap(_.recentProgress.toSeq)
      .filter(p => p.timestamp >= from && p.timestamp <= to && p.numInputRows > 0)
      .map(_.stateOperators.map(_.commitTimeMs).sum.toDouble)
    val lag = measured.map(t => (t.addedNs - t.dueNs) / 1e6)
    r.extra("layer") = Json.obj(Seq(
      "streaming.batch_ms" -> med(dur),
      "streaming.batch_tail_ms" -> (if (dur.isEmpty) 0.0 else dur.max),
      "streaming.add_batch_ms" -> med(batches.map(_.durationMs.get("addBatch").toDouble)),
      "streaming.planning_ms" -> med(batches.map(p => Option(p.durationMs.get("queryPlanning")).map(_.toDouble).getOrElse(0.0))),
      "streaming.queue_wait_ms" -> med(queueWait.toSeq),
      "streaming.batches" -> batches.size.toDouble,
      "streaming.rows_per_batch" -> med(batches.map(_.numInputRows.toDouble)),
      "streaming.state_ops" -> scorerProgress.map(_.stateOperators.length).sum.toDouble,
      "streaming.state_rows" -> allLast.flatMap(_.stateOperators.map(_.numRowsTotal)).sum.toDouble,
      "streaming.state_bytes" -> allLast.flatMap(_.stateOperators.map(_.memoryUsedBytes)).sum.toDouble,
      "streaming.state_commit_ms" -> med(commit),
      "streaming.watermark_lag_s" -> med(wmLag),
      "streaming.backlog_rows_max" -> (if (backlog.isEmpty) 0.0 else backlog.max.toDouble),
      "gen.lag_ms" -> (if (lag.isEmpty) 0.0 else lag.max)
    ).map { case (k, v) => k -> Json.num(v) })
  }

  /** The twin contract: each scorer's rows equal its batch model run on
    * exactly the bins that scorer was handed. The rebin query stops first
    * and the scorers drain, so no bin is in flight.
    */
  private def verify(r: Run, pipe: Pipe): Unit = {
    val spark = r.spark
    import spark.implicits._
    pipe.rebin.stop()
    pipe.scorers.foreach(_.processAllAvailable())
    val batch: Seq[(String, DataFrame => DataFrame)] = Seq(
      "poisson_lc" -> (b => Models.poissonLc(b, 0.99)),
      "linreg" -> (b => Models.linReg(b, minPoints = 24, regWindow = Some(24), normByMean = true)),
      "mann_kendall" -> (b => MannKendall(b, Some(24))))
    def key(x: Row): String = s"${x.getString(0)}|${x.getTimestamp(1).getTime}|${x.getDouble(2)}|${x.getDouble(3)}"
    batch.zipWithIndex.foreach { case ((name, model), k) =>
      val bins = pipe.fed(k).toList
      val expect = model(bins.toDF()).select("counter", "ts", "count", "eta")
        .collect().map(key).sorted.toSeq
      val got = pipe.scored(k).toList.map(s => s"${s.counter}|${s.ts.getTime}|${s.count}|${s.eta}").sorted
      r.check(s"stream $name scores equal the batch model on the same ${bins.size} bins",
        bins.nonEmpty && got == expect, s"stream ${got.size} rows, batch ${expect.size}, " +
          s"first diff ${got.diff(expect).take(2)} vs ${expect.diff(got).take(2)}")
    }
  }
}
