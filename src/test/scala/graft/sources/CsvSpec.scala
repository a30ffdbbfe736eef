package graft.sources

import graft.SparkSpec
import java.nio.file.Files

/** CSV ingestion edge: permissive parsing, malformed-row skip, legacy
  * stop-anchored layout, directory scan, and sink round-trip.
  */
class CsvSpec extends SparkSpec {
  import spark.implicits._

  /** The reference example inputs, vendored as test resources. */
  private def reference(name: String): String =
    getClass.getResource(s"/reference/example/$name").getPath

  private def tmpDir(): String =
    Files.createTempDirectory("graft-csv").toString

  private def writeLines(dir: String, name: String, lines: Seq[String]): Unit =
    Files.write(java.nio.file.Paths.get(dir, name),
      lines.mkString("\n").getBytes("UTF-8"))

  test("4-col reader: mixed ts formats parse, malformed rows are skipped") {
    val dir = tmpDir()
    writeLines(dir, "a.counts", Seq(
      "20140824000000,3600,12,#scotus",      // compact reference format
      "2014-08-24 01:00:00,3600,5,#scotus",  // ISO space
      "2014-08-24T02:00:00,3600.0,7,#scotus", // ISO T + float duration
      "not-a-date,3600,9,#scotus",           // malformed date → skipped
      "20140824030000,3600,,#scotus"))       // missing count → skipped
    val rows = Csv.readCounts(spark, Seq(s"$dir/a.counts"))
      .orderBy("ts")
      .as[(java.sql.Timestamp, Long, Double, String)].collect()
    assert(rows.length === 3)
    assert(rows.map(_._3).toSeq === Seq(12.0, 5.0, 7.0))
    assert(rows.forall(r => r._2 === 3600L && r._4 === "#scotus"))
  }

  test("legacy 5-col reader anchors start = stop - duration and filters rule") {
    val dir = tmpDir()
    writeLines(dir, "legacy.txt", Seq(
      "20140824010000,ruleA,10,10,3600",
      "20140824010000, ruleA ,11,11,3600", // whitespace-normalized match
      "20140824010000,ruleB,99,99,3600"))
    val rows = Csv.readLegacy(spark, Seq(s"$dir/legacy.txt"), Some("ruleA"))
      .as[(java.sql.Timestamp, Long, Double, String)].collect()
    assert(rows.length === 2)
    assert(rows.forall(_._1.toString === "2014-08-24 00:00:00.0"))
    assert(rows.map(_._3).sorted.toSeq === Seq(10.0, 11.0))
  }

  test("directory scan picks only files with the postfix, recursively") {
    val dir = tmpDir()
    Files.createDirectories(java.nio.file.Paths.get(dir, "sub"))
    writeLines(dir, "a.counts", Seq("20140824000000,3600,1,x"))
    writeLines(s"$dir/sub", "b.counts", Seq("20140824010000,3600,2,x"))
    writeLines(dir, "ignore.other", Seq("20140824020000,3600,4,x"))
    val got = Csv.scanDir(spark, dir, ".counts")
      .agg(org.apache.spark.sql.functions.sum("count")).as[Double].head()
    assert(got === 3.0)
  }

  test("golden: legacy scotus.txt rebins to the modern example.csv shifted by 1h") {
    // scotus.txt carries the same hourly series as example.csv but
    // STOP-anchored (rebin.py:87-89): start = stop - 3600. Rebinning both
    // must therefore agree exactly once the modern result is shifted back
    // one hour — a cross-format golden over the reference's own data.
    import graft.trend.Rebin
    import org.apache.spark.sql.functions.{col, expr}
    val legacy = Rebin(
      Csv.readLegacy(spark, Seq(reference("scotus.txt"))), "hours", 1)
    val modern = Rebin(
      Csv.readCounts(spark, Seq(reference("example.csv"))), "hours", 1)
      .withColumn("ts", col("ts") - expr("INTERVAL '3600' SECOND"))
    assert(legacy.count() === 737)
    assert(legacy.exceptAll(modern).isEmpty && modern.exceptAll(legacy).isEmpty)
  }

  test("quoteNone keeps quotes as part of the counter name") {
    val dir = tmpDir()
    writeLines(dir, "q.counts", Seq("""20140824000000,3600,2,"weird" name"""))
    val kept = Csv.readCounts(spark, Seq(s"$dir/q.counts"), quoteNone = true)
      .select("counter").as[String].head()
    assert(kept === "\"weird\" name") // csv.QUOTE_NONE semantics
  }

  test("scored sink round-trip is lossless") {
    val dir = tmpDir()
    val src = Seq(
      ("a", "2014-08-24 02:00:00", 91.0, 0.34),
      ("b", "2014-08-24 03:00:00", 12.0, 1.2345E-4))
      .toDF("counter", "ts", "count", "eta")
      .withColumn("ts", org.apache.spark.sql.functions.col("ts").cast("timestamp"))
    Csv.writeScored(src, s"$dir/scored")
    val back = Csv.readScored(spark, Seq(s"$dir/scored"))
    assert(back.count() === 2)
    assert(back.exceptAll(src).count() === 0 && src.exceptAll(back).count() === 0)
  }

  test("legacy sink round-trip is lossless, incl. the stop-anchor shift") {
    val dir = tmpDir()
    val src = Seq(
      ("2014-08-24 00:00:00", 3600L, 12.0, "rule a"),
      ("2014-08-24 01:30:00", 1800L, 3.0, "other"))
      .toDF("ts", "duration_sec", "count", "counter")
      .withColumn("ts", $"ts".cast("timestamp"))
    Csv.writeLegacy(src, s"$dir/leg")
    val back = Csv.readLegacy(spark, Seq(s"$dir/leg"))
    assert(back.count() === 2)
    assert(back.exceptAll(src).count() === 0 && src.exceptAll(back).count() === 0)
    // whitespace-normalized rule filter (C9) composes with the round-trip
    val one = Csv.readLegacy(spark, Seq(s"$dir/leg"), rule = Some("  rule a "))
    assert(one.select("counter").as[String].collect().toSeq === Seq("rule a"))
  }

  test("sink round-trip is lossless for second-precision data") {
    val dir = tmpDir()
    val src = Seq(
      ("2014-08-24 00:00:00", 3600L, 12.5, "a counter, quoted"),
      ("2014-08-24 01:00:00", 3600L, 3.0, "plain"))
      .toDF("ts", "duration_sec", "count", "counter")
      .withColumn("ts", $"ts".cast("timestamp"))
    Csv.writeCounts(src, s"$dir/out")
    val back = Csv.readCounts(spark, Seq(s"$dir/out"))
    assert(back.count() === 2)
    assert(back.exceptAll(src).count() === 0 && src.exceptAll(back).count() === 0)
  }
}
