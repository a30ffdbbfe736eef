package graft.pipeline

import graft.SparkSpec
import graft.trend.{MannKendall, Models, SeriesTransforms, Wdt}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Config-driven pipeline driver: ini parsing, model-registry dispatch,
  * and the README walkthrough reproduced end-to-end as a golden test.
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  /** The reference example inputs, vendored as test resources. */
  private def reference(name: String): String =
    getClass.getResource(s"/reference/example/$name").getPath

  test("IniConfig parses the reference's own config.cfg") {
    val cfg = IniConfig.parseFile(reference("config.cfg"))
    assert(cfg("rebin")("binning_unit") === "hours")
    assert(cfg("rebin")("n_binning_unit") === "2")
    // trailing spaces in 'mode=lc  ' are stripped like configparser
    assert(cfg("Poisson_model")("mode") === "lc")
    assert(cfg("Poisson_model")("alpha") === "0.99")
    assert(cfg("analyze")("model_name") === "Poisson")
    assert(cfg("MannKendall_model") === Map.empty)
  }

  test("normTime accepts the config-style compact and ISO stamps") {
    assert(Pipeline.normTime("201408240000") === "2014-08-24 00:00:00")
    assert(Pipeline.normTime("20140923160000") === "2014-09-23 16:00:00")
    assert(Pipeline.normTime("2014-08-24") === "2014-08-24 00:00:00")
    assert(Pipeline.normTime("2014-08-24 12:30:00") === "2014-08-24 12:30:00")
  }

  /** The README walkthrough (README.md:104-117): example.csv → 2-h rebin →
    * point-by-point Poisson (alpha .99), driven by the reference's unmodified
    * config file. Golden values were produced by the independent DuckDB
    * oracle (the same SQL generators the driver's t2 gate hash-checks at
    * sf0.01) over the same input.
    */
  test("golden: README walkthrough on example.csv matches the oracle output") {
    val out = Pipeline.runWithConfigFile(spark,
        reference("config.cfg"),
        Seq(reference("example.csv")))
      .select(col("counter"), date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"),
        col("count"), col("eta"))
      .as[(String, String, Double, Double)].collect()
      .sortBy(_._2)

    val golden = scala.io.Source.fromInputStream(
        getClass.getResourceAsStream("/scotus_golden.csv")).getLines().drop(1)
      .map { l =>
        val Array(c, t, n, e) = l.split(",")
        (c, t, n.toDouble, e.toDouble)
      }.toArray.sortBy(_._2)

    assert(out.length === golden.length)
    out.zip(golden).foreach { case (o, g) => assert(o === g) }
    // sanity anchors: documented spike night scores the global max eta
    assert(out.maxBy(_._4)._2 === "2014-09-22 00:00:00")
    assert(out.map(_._3).sum === 56326.0)
  }

  private def binned: DataFrame = {
    val rows = for {
      c <- Seq("a", "bb"); i <- 0 until 30
    } yield (c, java.sql.Timestamp.valueOf(f"2020-01-01 ${i / 2}%02d:${30 * (i % 2)}%02d:00"),
      1800.0, (i % 7 + (if (c == "a") i else 2)).toDouble)
    rows.toDF("counter", "ts", "duration_sec", "count")
  }

  test("walkthrough runs under the config's other model sections") {
    val base = IniConfig.parseFile(reference("config.cfg"))
    for (model <- Seq("MannKendall", "LinearRegressionModel")) {
      val cfg = base.updated("analyze", base("analyze").updated("model_name", model))
      val out = Pipeline.run(spark, cfg,
        Seq(reference("example.csv")))
      assert(out.count() === 369, s"$model row count")
      assert(out.where(col("eta").isNull).count() === 0, s"$model null etas")
    }
  }

  test("plotParamsText mirrors the reference's parameter box") {
    val cfg = IniConfig.parseFile(reference("config.cfg"))
    val txt = Pipeline.plotParamsText(cfg)
    assert(txt.startsWith("model: Poisson\n"))
    assert(txt.contains("mode: lc\n") && txt.contains("alpha: 0.99\n"))
  }

  test("registry dispatch equals direct model calls") {
    def same(a: DataFrame, b: DataFrame): Unit =
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)

    same(
      Pipeline.analyze(binned, Map(
        "analyze" -> Map("model_name" -> "MannKendall"),
        "MannKendall_model" -> Map("window_size" -> "8"))),
      MannKendall(binned, windowSize = Some(8)))

    same(
      Pipeline.analyze(binned, Map(
        "analyze" -> Map("model_name" -> "LinearRegressionModel"),
        "LinearRegressionModel_model" -> Map(
          "min_points" -> "5", "averaging_window_size" -> "3",
          "regression_window_size" -> "10", "norm_by_mean" -> "true"))),
      Models.linReg(binned, minPoints = 5, avgWindow = 3,
        regWindow = Some(10), normByMean = true))

    same(
      Pipeline.analyze(binned, Map(
        "analyze" -> Map("model_name" -> "Poisson"),
        "Poisson_model" -> Map("mode" -> "a", "alpha" -> "0.95",
          "period_list" -> "hour"))),
      Models.poissonCycle(binned, alpha = 0.95, periodList = Seq("hour")))
  }

  test("WDT dispatch loads a persisted parquet library") {
    val cfg = SeriesTransforms.Config(seriesLength = 6, referenceLength = 10,
      nSmooth = 2, baselineOffset = 2, lambda = 0.1)
    val lib = Wdt.buildLibrary(binned, length(col("counter")) === 1, cfg)
    val dir = java.nio.file.Files.createTempDirectory("graft-lib").toString
    Wdt.saveLibrary(lib, s"$dir/lib")
    val viaCfg = Pipeline.analyze(binned, Map(
      "analyze" -> Map("model_name" -> "WeightedDataTemplates"),
      "WeightedDataTemplates_model" -> Map(
        "series_length" -> "6", "reference_length" -> "10",
        "n_smooth" -> "2", "baseline_offset" -> "2", "lambda" -> "0.1",
        "distance_measure_name" -> "euclidean",
        "library_file_name" -> s"$dir/lib")))
    val direct = Wdt.score(binned, lib, cfg)
    assert(viaCfg.exceptAll(direct).isEmpty && direct.exceptAll(viaCfg).isEmpty)
  }

  test("runMany: staged multi-counter flow equals the single-plan pipeline") {
    val dir = java.nio.file.Files.createTempDirectory("graft-many").toString
    // two counters in one CSV + an allowlist keeping only one
    val csv = java.nio.file.Paths.get(dir, "counts.csv")
    val lines = (0 until 30).flatMap { i =>
      Seq(f"20140101${i / 2}%02d${30 * (i % 2)}%02d00,1800,${i % 7 + 1},aa",
        f"20140101${i / 2}%02d${30 * (i % 2)}%02d00,1800,${i % 5 + 2},bb")
    }
    java.nio.file.Files.write(csv, lines.mkString("\n").getBytes("UTF-8"))
    val allow = java.nio.file.Paths.get(dir, "counters.txt")
    java.nio.file.Files.write(allow, "aa\n".getBytes("UTF-8"))

    val cfg: IniConfig.Config = Map(
      "rebin" -> Map("binning_unit" -> "hours", "n_binning_unit" -> "1",
        "counters_file_name" -> allow.toString),
      "analyze" -> Map("model_name" -> "Poisson"),
      "Poisson_model" -> Map("mode" -> "lc", "alpha" -> "0.99"))
    val staged = Pipeline.runMany(spark, cfg, Seq(csv.toString), s"$dir/bins")
    // run() deliberately ignores the allowlist (trend_rebin.py does too);
    // grids are per-counter, so post-filtering it is equivalent to gating
    val direct = Pipeline.run(spark, cfg, Seq(csv.toString))
      .where(col("counter") === "aa")
    assert(staged.select("counter").distinct().as[String].collect().toSeq === Seq("aa"))
    assert(staged.exceptAll(direct).isEmpty && direct.exceptAll(staged).isEmpty)
  }

  test("combine enforces the one-sided merge rule in a single pass") {
    val t = Seq(("x", true, Seq(1.0))).toDF("series_id", "is_trend", "points")
    val n = Seq(("y", false, Seq(2.0))).toDF("series_id", "is_trend", "points")
    assert(Wdt.combine(t, n).count() === 2)
    intercept[IllegalArgumentException] {
      Wdt.combine(t, t.withColumn("series_id", lit("z"))).count()
    }
  }
}
