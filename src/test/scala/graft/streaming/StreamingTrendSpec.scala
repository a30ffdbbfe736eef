package graft.streaming

import graft.SparkSpec
import graft.trend.{Models, Rebin}
import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming variant vs batch: a MemoryStream run through the tumbling
  * rebin + stateful Poisson-lc scorer must reproduce the batch pipeline
  * on the same (gap-free, aligned) data.
  */
class StreamingTrendSpec extends SparkSpec {
  import spark.implicits._
  private implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def ts(s: String) = Timestamp.valueOf(s)

  // two counters, events every 20 min for 6 hours → gap-free hourly bins
  private val events: Seq[(Timestamp, String, Double)] = for {
    c <- Seq("a", "b")
    h <- 0 until 6
    m <- Seq(0, 20, 40)
  } yield (ts(f"2024-01-01 $h%02d:$m%02d:00"), c,
    (h * 3 + m / 20 + (if (c == "a") 1 else 2)).toDouble)

  private def eventsAsRaw = events.toDF("ts", "counter", "count")
    .withColumn("duration_sec", lit(1200L))
    .select("ts", "duration_sec", "count", "counter")

  test("streaming rebin over tumbling windows matches batch rebin") {
    val input = MemoryStream[(Timestamp, String, Double)]
    val q = StreamingTrend.rebinStream(
        input.toDF().toDF("ts", "counter", "count"), "hours", 1)
      .writeStream.format("memory").queryName("srebin")
      .outputMode("append").start()
    try {
      input.addData(events)
      q.processAllAvailable() // watermark advances to max event time
      input.addData(Seq((ts("2024-01-02 12:00:00"), "zz", 0.0))) // flush
      q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.table("srebin").where($"counter" =!= "zz")
      .select("counter", "ts", "duration_sec", "count")
    // batch rebin on the same rows: 20-min intervals never straddle hours
    // and cover every hour, so densify/trim/split are all no-ops
    val batch = Rebin(eventsAsRaw, "hours", 1)
    assert(streamed.count() === 12)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("streaming rebin rejects multi-unit bins (data-dependent batch origin)") {
    val df = Seq((ts("2024-01-01 00:00:00"), "a", 1.0)).toDF("ts", "counter", "count")
    intercept[IllegalArgumentException] {
      StreamingTrend.rebinStream(df, "hours", 2)
    }
  }

  test("streaming rebin drops late data behind the watermark") {
    val input = MemoryStream[(Timestamp, String, Double)]
    val q = StreamingTrend.rebinStream(
        input.toDF().toDF("ts", "counter", "count"), "hours", 1)
      .writeStream.format("memory").queryName("slate")
      .outputMode("append").start()
    try {
      input.addData(Seq((ts("2024-01-01 05:00:00"), "a", 1.0)))
      q.processAllAvailable() // watermark -> 05:00
      // hour-3 window [03:00, 04:00) ended before the watermark: late row
      input.addData(Seq(
        (ts("2024-01-01 03:30:00"), "a", 99.0), // LATE -> dropped
        (ts("2024-01-01 06:00:00"), "a", 2.0)))
      q.processAllAvailable()
      input.addData(Seq((ts("2024-01-02 12:00:00"), "zz", 0.0))) // flush
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("slate").where($"counter" === "a")
      .select("ts", "count").as[(Timestamp, Double)].collect().toMap
    assert(!rows.contains(ts("2024-01-01 03:00:00"))) // late bin absent
    assert(rows(ts("2024-01-01 05:00:00")) === 1.0)
    assert(rows(ts("2024-01-01 06:00:00")) === 2.0)
  }

  test("coarsenStream composes single-unit bins into the batch nUnit=2 grid") {
    // stage 1 output (finalized hourly bins), delivered as the coarsen
    // stage's input stream across micro-batches
    val binned = Rebin(eventsAsRaw, "hours", 1)
      .as[(String, Timestamp, Double, Double)].collect()
      .map { case (c, t, d, n) => StreamingTrend.Binned(c, t, d, n) }
      .sortBy(b => (b.ts.getTime, b.counter))
    val input = MemoryStream[StreamingTrend.Binned]
    val q = StreamingTrend.coarsenStream(input.toDF(), "hours", 2)
      .writeStream.format("memory").queryName("scoarse")
      .outputMode("append").start()
    try {
      val (b1, b2) = binned.splitAt(7)
      input.addData(b1.toSeq); q.processAllAvailable()
      // redeliver b1 alongside b2 (at-least-once replay): the seen-set
      // must absorb the duplicates or coarse counts double
      input.addData((b1 ++ b2).toSeq); q.processAllAvailable()
      // advance the watermark past the last open coarse bin to flush it
      input.addData(Seq(StreamingTrend.Binned("zz", ts("2024-01-02 12:00:00"), 3600.0, 0.0)))
      q.processAllAvailable()
      input.addData(Seq(StreamingTrend.Binned("zz", ts("2024-01-03 12:00:00"), 3600.0, 0.0)))
      q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.table("scoarse").where($"counter" =!= "zz")
      .select("counter", "ts", "duration_sec", "count")
    // batch 2-hour rebin on the same raw rows: same grid (origin = hour-
    // truncated min ts = 00:00), same sums — bit-equal
    val batch = Rebin(eventsAsRaw, "hours", 2)
    assert(streamed.count() === 6) // 2 counters × 3 two-hour bins
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("walkthrough shape end-to-end: rebin -> coarsen -> score at 2-hour bins") {
    // stage 1: per-event rows -> finalized hourly bins
    val in1 = MemoryStream[(Timestamp, String, Double)]
    val q1 = StreamingTrend.rebinStream(
        in1.toDF().toDF("ts", "counter", "count"), "hours", 1)
      .writeStream.format("memory").queryName("e2e_bins")
      .outputMode("append").start()
    try {
      // split on the TIME axis: a key-ordered split would stream one
      // counter's whole history first and watermark out the other's past
      val ordered = events.sortBy(_._1.getTime)
      val (a, b) = ordered.splitAt(ordered.length / 2)
      Seq(a, b).foreach { c => in1.addData(c); q1.processAllAvailable() }
      in1.addData(Seq((ts("2024-01-02 12:00:00"), "zz", 0.0)))
      q1.processAllAvailable()
    } finally q1.stop()
    val bins = spark.table("e2e_bins").where($"counter" =!= "zz")
      .as[(String, Timestamp, Double, Double)].collect()
      .map { case (c, t, d, n) => StreamingTrend.Binned(c, t, d, n) }
      .sortBy(x => (x.ts.getTime, x.counter))

    // stage 2: hourly bins -> 2-hour bins (the walkthrough's config grid)
    val in2 = MemoryStream[StreamingTrend.Binned]
    val q2 = StreamingTrend.coarsenStream(in2.toDF(), "hours", 2)
      .writeStream.format("memory").queryName("e2e_coarse")
      .outputMode("append").start()
    try {
      val (a, b) = bins.splitAt(bins.length / 2)
      Seq(a, b).foreach { c => in2.addData(c.toSeq); q2.processAllAvailable() }
      in2.addData(Seq(StreamingTrend.Binned("zz", ts("2024-01-02 12:00:00"), 3600.0, 0.0)))
      q2.processAllAvailable()
      in2.addData(Seq(StreamingTrend.Binned("zz", ts("2024-01-03 12:00:00"), 3600.0, 0.0)))
      q2.processAllAvailable()
    } finally q2.stop()
    val coarse = spark.table("e2e_coarse").where($"counter" =!= "zz")
      .as[(String, Timestamp, Double, Double)].collect()
      .map { case (c, t, d, n) => StreamingTrend.Binned(c, t, d, n) }
      .sortBy(x => (x.ts.getTime, x.counter))

    // stage 3: stateful scorer over the coarse bins
    val in3 = MemoryStream[StreamingTrend.Binned]
    val q3 = StreamingTrend.poissonLcStream(in3.toDF(), alpha = 0.99)
      .writeStream.format("memory").queryName("e2e_scored")
      .outputMode("append").start()
    try {
      val (a, b) = coarse.splitAt(coarse.length / 2)
      Seq(a, b).foreach { c => in3.addData(c.toSeq); q3.processAllAvailable() }
    } finally q3.stop()

    val streamed = spark.table("e2e_scored")
    val batch = Models.poissonLc(Rebin(eventsAsRaw, "hours", 2), alpha = 0.99)
    assert(streamed.count() === 6)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("streaming rebin rejects DST session timezones loudly") {
    val prev = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      val df = Seq((ts("2024-01-01 00:00:00"), "a", 1.0)).toDF("ts", "counter", "count")
      intercept[IllegalArgumentException] {
        StreamingTrend.rebinStream(df, "days", 1)
      }
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  test("stateful cycle-mode scorer matches batch on weekday period keys") {
    val binned = Rebin(eventsAsRaw, "hours", 1)
      .as[(String, Timestamp, Double, Double)].collect()
      .map { case (c, t, d, n) => StreamingTrend.Binned(c, t, d, n) }
      .sortBy(b => (b.ts.getTime, b.counter))
    val input = MemoryStream[StreamingTrend.Binned]
    val q = StreamingTrend.poissonCycleStream(input.toDF(), alpha = 0.99,
        periodList = Seq("weekday", "hour"))
      .writeStream.format("memory").queryName("scycle_wd")
      .outputMode("append").start()
    try {
      val (b1, b2) = binned.splitAt(7)
      Seq(b1, b2).foreach { c => input.addData(c.toSeq); q.processAllAvailable() }
    } finally q.stop()
    val batch = Models.poissonCycle(Rebin(eventsAsRaw, "hours", 1),
      alpha = 0.99, periodList = Seq("weekday", "hour"))
    val streamed = spark.table("scycle_wd")
    assert(streamed.count() === 12)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("stateless text-analysis operators apply to streams unchanged") {
    // quality/langid/token-stats are narrow projections — the SAME batch
    // functions run on a streaming frame with no state and no rewrite
    val docRows = Seq((1L, "the a is of and fox"), (2L, "der die das und ist"))
    val input = MemoryStream[(Long, String)]
    val q = graft.ml.TextStats.quality(input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("squality")
      .outputMode("append").start()
    try { input.addData(docRows); q.processAllAvailable() } finally q.stop()
    val streamed = spark.table("squality")
    val batch = graft.ml.TextStats.quality(docRows.toDF("doc_id", "text"))
    assert(streamed.count() === 2)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    // chunking is likewise a per-row explode — runs on a stream as-is
    val cinput = MemoryStream[(Long, String)]
    val cq = graft.ml.Curation.chunk(
        cinput.toDF().toDF("doc_id", "text"), window = 3, stride = 2)
      .writeStream.format("memory").queryName("schunk")
      .outputMode("append").start()
    try { cinput.addData(docRows); cq.processAllAvailable() } finally cq.stop()
    val cstreamed = spark.table("schunk")
    val cbatch = graft.ml.Curation.chunk(
      docRows.toDF("doc_id", "text"), window = 3, stride = 2)
    assert(cstreamed.count() === cbatch.count())
    assert(cstreamed.exceptAll(cbatch).isEmpty && cbatch.exceptAll(cstreamed).isEmpty)
  }

  test("streaming exact dedup emits each content key once, first doc wins") {
    val docRows = Seq(
      (1L, "alpha beta"), (2L, "alpha beta"), (3L, "gamma delta"),
      (4L, "gamma delta"), (5L, "epsilon"))
    val input = MemoryStream[(Long, String)]
    val q = graft.ml.Dedup.exactStream(input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("sdedup")
      .outputMode("append").start()
    try {
      // dup of doc 1 arrives in the SAME batch; dup of doc 3 in a LATER one
      input.addData(docRows.take(3)); q.processAllAvailable()
      input.addData(docRows.drop(3)); q.processAllAvailable()
    } finally q.stop()
    val kept = spark.table("sdedup").as[(String, Long)].collect().map(_._2).sorted
    assert(kept.toSeq === Seq(1L, 3L, 5L))
    // same keepers as batch exact dedup on the full corpus
    val batchKeep = graft.ml.Dedup.exact(docRows.toDF("doc_id", "text"))
      .select("keep_id").as[Long].collect().sorted
    assert(kept.toSeq === batchKeep.toSeq)
  }

  test("stateful Poisson-lc scorer matches the batch model, incrementally") {
    val binned = Rebin(eventsAsRaw, "hours", 1)
      .as[(String, Timestamp, Double, Double)].collect()
      .map { case (c, t, d, n) => StreamingTrend.Binned(c, t, d, n) }
      .sortBy(b => (b.ts.getTime, b.counter))
    val input = MemoryStream[StreamingTrend.Binned]
    val q = StreamingTrend.poissonLcStream(input.toDF(), alpha = 0.99)
      .writeStream.format("memory").queryName("sscore")
      .outputMode("append").start()
    try {
      // deliver bins over three separate micro-batches: state must carry
      val (b1, rest) = binned.splitAt(4)
      val (b2, b3) = rest.splitAt(5)
      Seq(b1, b2, b3).foreach { chunk =>
        input.addData(chunk.toSeq); q.processAllAvailable()
      }
    } finally q.stop()

    val streamed = spark.table("sscore")
    val batch = Models.poissonLc(Rebin(eventsAsRaw, "hours", 1), alpha = 0.99)
    assert(streamed.count() === 12)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("stateful cycle-mode scorer matches the batch model") {
    val binned = Rebin(eventsAsRaw, "hours", 1)
      .as[(String, Timestamp, Double, Double)].collect()
      .map { case (c, t, d, n) => StreamingTrend.Binned(c, t, d, n) }
      .sortBy(b => (b.ts.getTime, b.counter))
    val input = MemoryStream[StreamingTrend.Binned]
    val q = StreamingTrend.poissonCycleStream(input.toDF(), alpha = 0.99,
        periodList = Seq("hour"))
      .writeStream.format("memory").queryName("scycle")
      .outputMode("append").start()
    try {
      val (b1, b2) = binned.splitAt(7)
      Seq(b1, b2).foreach { chunk =>
        input.addData(chunk.toSeq); q.processAllAvailable()
      }
    } finally q.stop()

    val streamed = spark.table("scycle")
    val batch = Models.poissonCycle(Rebin(eventsAsRaw, "hours", 1),
      alpha = 0.99, periodList = Seq("hour"))
    assert(streamed.count() === 12)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  private def binnedChunks(n: Int) = {
    val binned = Rebin(eventsAsRaw, "hours", 1)
      .as[(String, Timestamp, Double, Double)].collect()
      .map { case (c, t, d, cnt) => StreamingTrend.Binned(c, t, d, cnt) }
      .sortBy(b => (b.ts.getTime, b.counter))
    binned.grouped(math.max(1, binned.length / n)).toSeq
  }

  test("stateful Mann-Kendall scorer matches batch, expanding and windowed") {
    for ((ws, name) <- Seq(None -> "smk_full", Some(4) -> "smk_win")) {
      val input = MemoryStream[StreamingTrend.Binned]
      val q = StreamingTrend.mannKendallStream(input.toDF(), windowSize = ws)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try binnedChunks(3).foreach { c => input.addData(c.toSeq); q.processAllAvailable() }
      finally q.stop()
      val batch = graft.trend.MannKendall(Rebin(eventsAsRaw, "hours", 1), ws)
      val streamed = spark.table(name)
      assert(streamed.count() === 12)
      assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    }
  }

  test("stateful LinReg scorer matches batch, expanding and windowed+normed") {
    val configs = Seq(
      ("slr_exp", None: Option[Int], false),
      ("slr_win", Some(5): Option[Int], true))
    for ((name, regWin, norm) <- configs) {
      val input = MemoryStream[StreamingTrend.Binned]
      val q = StreamingTrend.linRegStream(input.toDF(), minPoints = 3,
          avgWindow = 2, regWindow = regWin, normByMean = norm)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try binnedChunks(3).foreach { c => input.addData(c.toSeq); q.processAllAvailable() }
      finally q.stop()
      val batch = Models.linReg(Rebin(eventsAsRaw, "hours", 1), minPoints = 3,
        avgWindow = 2, regWindow = regWin, normByMean = norm)
      val streamed = spark.table(name)
      assert(streamed.count() === 12)
      assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
        s"config $name mismatch")
    }
  }

  test("stateful WDT scorer matches batch") {
    val cfg = graft.trend.SeriesTransforms.Config(seriesLength = 3,
      referenceLength = 5, nSmooth = 2, baselineOffset = 1, lambda = 0.1)
    val binned = Rebin(eventsAsRaw, "hours", 1)
    val lib = graft.trend.Wdt.buildLibrary(binned,
      org.apache.spark.sql.functions.length($"counter") === 1, cfg)
    val libArr = graft.trend.Wdt.collectLibrary(lib)

    val input = MemoryStream[StreamingTrend.Binned]
    val q = StreamingTrend.wdtStream(input.toDF(), libArr, cfg)
      .writeStream.format("memory").queryName("swdt")
      .outputMode("append").start()
    try binnedChunks(3).foreach { c => input.addData(c.toSeq); q.processAllAvailable() }
    finally q.stop()

    val batch = graft.trend.Wdt.score(binned, lib, cfg)
    val streamed = spark.table("swdt")
    assert(streamed.count() === 12)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  /** Every scorer entry point beside its batch twin over the hourly bins:
    * (name, streaming scorer, batch output).
    */
  private def scorerTwins = {
    val binned = Rebin(eventsAsRaw, "hours", 1)
    val cfg = graft.trend.SeriesTransforms.Config(seriesLength = 3,
      referenceLength = 5, nSmooth = 2, baselineOffset = 1, lambda = 0.1)
    val lib = graft.trend.Wdt.buildLibrary(binned, length($"counter") === 1, cfg)
    val libArr = graft.trend.Wdt.collectLibrary(lib)
    Seq[(String, DataFrame => Dataset[StreamingTrend.Scored], DataFrame)](
      ("lc", StreamingTrend.poissonLcStream(_, alpha = 0.99),
        Models.poissonLc(binned, alpha = 0.99)),
      ("cycle", StreamingTrend.poissonCycleStream(_, alpha = 0.99, periodList = Seq("hour")),
        Models.poissonCycle(binned, alpha = 0.99, periodList = Seq("hour"))),
      ("mk", StreamingTrend.mannKendallStream(_, windowSize = Some(4)),
        graft.trend.MannKendall(binned, Some(4))),
      ("linreg_exp", StreamingTrend.linRegStream(_, minPoints = 3, avgWindow = 2),
        Models.linReg(binned, minPoints = 3, avgWindow = 2)),
      ("linreg_win", StreamingTrend.linRegStream(_, minPoints = 3, avgWindow = 2,
          regWindow = Some(5), normByMean = true),
        Models.linReg(binned, minPoints = 3, avgWindow = 2, regWindow = Some(5),
          normByMean = true)),
      ("wdt", StreamingTrend.wdtStream(_, libArr, cfg), graft.trend.Wdt.score(binned, lib, cfg)))
  }

  private def assertTwin(name: String, streamed: DataFrame, batch: DataFrame): Unit = {
    assert(streamed.count() === 12, s"$name row count")
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      s"$name differs from its batch twin")
  }

  test("every scorer drops replayed and out-of-order bins") {
    val Seq(c1, c2, c3) = binnedChunks(3)
    // an older bin with a count no batch row has, after newer ones
    val stale = c1.head.copy(count = 999.0)
    for ((name, score, batch) <- scorerTwins) {
      val input = MemoryStream[StreamingTrend.Binned]
      val q = score(input.toDF())
        .writeStream.format("memory").queryName(s"sreplay_$name")
        .outputMode("append").start()
      try {
        // c1 replayed in its own micro-batch, c2 duplicated within one,
        // and the stale bin beside c3
        Seq(c1, c1, c2 ++ c2, stale +: c3).foreach { c =>
          input.addData(c.toSeq); q.processAllAvailable()
        }
      } finally q.stop()
      assertTwin(name, spark.table(s"sreplay_$name"), batch)
    }
  }

  test("every scorer state resumes from its checkpoint after a restart") {
    val chunks = binnedChunks(3)
    for ((name, score, batch) <- scorerTwins) {
      val dir = java.nio.file.Files.createTempDirectory(s"graft_srestart_$name").toString
      val input = MemoryStream[StreamingTrend.Binned]
      // a file sink keeps the first run's rows across the restart
      def start() = score(input.toDF()).writeStream.format("parquet")
        .option("path", s"$dir/out").option("checkpointLocation", s"$dir/ck")
        .outputMode("append").start()
      val first = start()
      try { input.addData(chunks.head.toSeq); first.processAllAvailable() }
      finally first.stop()
      val second = start()
      try chunks.tail.foreach { c => input.addData(c.toSeq); second.processAllAvailable() }
      finally second.stop()
      assertTwin(name, spark.read.parquet(s"$dir/out"), batch)
    }
  }
}
