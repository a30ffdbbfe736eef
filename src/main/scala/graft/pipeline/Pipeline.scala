package graft.pipeline

import graft.sources.Csv
import graft.trend.{Detect, MannKendall, Models, Rebin, SeriesTransforms, Wdt}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Config-file-compatible pipeline driver (SURVEY.md §3, build-plan
  * module 9): the reference's three CLI stages — trend_rebin.py,
  * trend_analyze.py, trend_detector.py — as one reflection-free plan over
  * a parsed ini config. Section/key names and defaults match the
  * reference exactly:
  *
  *  - `[rebin]`: binning_unit (default "hours"), n_binning_unit (1),
  *    optional start_time/stop_time (trend_rebin.py:73-82,
  *    analysis.py:22-25);
  *  - `[analyze] model_name` picks the model; its parameters come from
  *    `[<model_name>_model]` (trend_analyze.py:33-41) — the registry below
  *    replaces `getattr(models, model_name)` reflection;
  *  - `[plot] rebin_factor` drives the plot-stage coarsening (W7).
  *
  * Everything stays one lazy DataFrame plan: rebin's shuffles, the model's
  * windows, and the detector's filter fuse into a single Spark job.
  */
object Pipeline {
  import IniConfig.Config

  /** Permissive driver-side timestamp normalization for config values like
    * `201408240000` (config.cfg.example:5-6) or ISO strings; returns the
    * `yyyy-MM-dd HH:mm:ss` form Rebin expects.
    */
  private[pipeline] def normTime(s: String): String = {
    val fmts = Seq("yyyyMMddHHmmss", "yyyyMMddHHmm", "yyyy-MM-dd HH:mm:ss",
      "yyyy-MM-dd'T'HH:mm:ss", "yyyy-MM-dd HH:mm", "yyyy-MM-dd")
    val out = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    fmts.iterator.flatMap { f =>
      try {
        val fmt = java.time.format.DateTimeFormatter.ofPattern(f)
        val t = try java.time.LocalDateTime.parse(s.trim, fmt)
        catch { case _: java.time.format.DateTimeParseException =>
          java.time.LocalDate.parse(s.trim, fmt).atStartOfDay() }
        Some(t.format(out))
      } catch { case _: java.time.format.DateTimeParseException => None }
    }.nextOption().getOrElse(
      throw new IllegalArgumentException(s"unparseable config time: '$s'"))
  }

  /** The `[rebin]` stage (trend_rebin.py:73-85). */
  def rebin(raw: DataFrame, cfg: Config): DataFrame = {
    val r = cfg.getOrElse("rebin", Map.empty)
    Rebin(raw,
      binningUnit = r.getOrElse("binning_unit", "hours"),
      nUnit = r.getOrElse("n_binning_unit", "1").trim.toInt,
      startTime = r.get("start_time").map(normTime).getOrElse("1970-01-01 00:00:00"),
      stopTime = r.get("stop_time").map(normTime).getOrElse("2100-01-01 00:00:00"))
  }

  /** The `[analyze]` stage: model registry keyed by the reference's class
    * names, parameter parsing faithful to each model's __init__.
    */
  def analyze(binned: DataFrame, cfg: Config): DataFrame = {
    val name = cfg.getOrElse("analyze", Map.empty).getOrElse("model_name", "Poisson")
    val m = cfg.getOrElse(s"${name}_model", Map.empty)
    name match {
      case "Poisson" =>
        val alpha = m.getOrElse("alpha", "0.99").toDouble
        m.getOrElse("mode", "lc") match {
          case "lc" => Models.poissonLc(binned, alpha)
          case "a" => Models.poissonCycle(binned, alpha,
            m.getOrElse("period_list", "hour").split(",").map(_.trim).toSeq)
          case other => throw new IllegalArgumentException(s"Poisson mode '$other'")
        }
      case "LinearRegressionModel" =>
        Models.linReg(binned,
          minPoints = m("min_points").toInt, // required (models.py:55)
          avgWindow = m.get("averaging_window_size").map(_.toInt).getOrElse(1),
          regWindow = m.get("regression_window_size").map(_.toInt),
          normByMean = m.get("norm_by_mean").exists(_.trim.equalsIgnoreCase("true")))
      case "MannKendall" =>
        MannKendall(binned, windowSize = m.get("window_size").map(_.toInt))
      case "WeightedDataTemplates" =>
        val c = SeriesTransforms.Config(
          seriesLength = m("series_length").toInt,
          referenceLength = m("reference_length").toInt,
          nSmooth = m.getOrElse("n_smooth", "1").toInt,
          baselineOffset = m.getOrElse("baseline_offset", "0").toInt,
          lambda = m.getOrElse("lambda", "1").toDouble)
        require(m.getOrElse("distance_measure_name", "euclidean") == "euclidean",
          "only 'euclidean' is implemented (models.py:222-229)")
        val lib = Wdt.loadLibrary(binned.sparkSession, m("library_file_name"))
        Wdt.score(binned, lib, c)
      case other =>
        throw new IllegalArgumentException(s"unknown model_name '$other'")
    }
  }

  /** trend_detector.py's theta filter over the analyzed output. */
  def detect(scored: DataFrame, theta: Double): DataFrame =
    Detect(scored, theta)

  /** Plot-ready output incl. the `[plot] rebin_factor` coarsening
    * (analysis.py:248-268); identity when the factor is absent or 1.
    */
  def plotData(scored: DataFrame, cfg: Config): DataFrame = {
    val k = cfg.getOrElse("plot", Map.empty)
      .get("rebin_factor").map(_.toInt).getOrElse(1)
    if (k <= 1) scored else Detect.coarsen(scored, k)
  }

  /** The plot-stage parameter box text (analysis.py:333-341): the model
    * name plus every key of its config section, one per line — emitted so
    * a plotting front end has the same annotation the reference renders.
    */
  def plotParamsText(cfg: Config): String = {
    val name = cfg.getOrElse("analyze", Map.empty).getOrElse("model_name", "Poisson")
    val pars = cfg.getOrElse(s"${name}_model", Map.empty)
      .map { case (k, v) => s"$k: $v\n" }.mkString
    s"model: $name\n$pars"
  }

  /** Full CSV-to-scored pipeline: the README walkthrough
    * (`cat example.csv | trend_rebin.py -c cfg | trend_analyze.py -c cfg`)
    * as one plan.
    */
  def run(spark: SparkSession, cfg: Config, csvPaths: Seq[String]): DataFrame =
    // NOTE: no allowlist here — trend_rebin.py/trend_analyze.py ignore the
    // [rebin] counters_file_name key (the config's own comment marks it
    // "to be used with trend_analyze_many.py"); only runMany gates.
    analyze(rebin(Csv.readCounts(spark, csvPaths), cfg), cfg)

  def runWithConfigFile(spark: SparkSession, configPath: String,
                        csvPaths: Seq[String]): DataFrame =
    run(spark, IniConfig.parseFile(configPath), csvPaths)

  /** The trend_analyze_many.py flow: every counter rebinned and analyzed,
    * with the rebinned stage persisted to the columnar intermediate, a
    * plain parquet store ([[graft.Tables.saveBinned]]; the engine's
    * version of its JSON handoff,
    * trend_analyze_many.py:186,235) so the analyze stage — or a later
    * re-run with different model parameters — starts from stored bins
    * instead of re-reading raw CSV. The reference's per-counter
    * multiprocessing pool dissolves into the counter shuffle.
    */
  def runMany(spark: SparkSession, cfg: Config, csvPaths: Seq[String],
              intermediatePath: String): DataFrame = {
    val raw = Csv.readCounts(spark, csvPaths,
      quoteNone = true) // the many-driver reads QUOTE_NONE (line 133)
    // counters allowlist (S7, trend_analyze_many.py:136-147). A named but
    // unreadable file fails loudly (the reference's open() raises too —
    // silently processing ALL counters would be wrong output, not a
    // fallback).
    val gated = cfg.getOrElse("rebin", Map.empty).get("counters_file_name")
      .fold(raw)(p => graft.sources.Counters.allowlistFromFile(raw, p))
    val binned = rebin(gated, cfg)
    // validate the [analyze] section (registry dispatch + required model
    // params) BEFORE the expensive rebin-and-store pass runs
    analyze(binned.limit(0), cfg)
    graft.Tables.saveBinned(binned, intermediatePath)
    analyze(graft.Tables.loadBinned(spark, intermediatePath), cfg)
  }
}
