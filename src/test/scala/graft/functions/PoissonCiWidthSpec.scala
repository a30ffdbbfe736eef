package graft.functions

import graft.{GraftExtensions, SparkSpec}
import org.apache.spark.sql.{AnalysisException, Column, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftShim
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

class PoissonCiWidthSpec extends SparkSpec {
  import spark.implicits._

  /** The width expression over a mean column, cast as the SQL builder casts. */
  private def width(mean: Column): Column =
    GraftShim.column(PoissonCiWidth(GraftShim.expression(mean.cast("double")), 0.99))

  test("expression equals the scalar kernel, null-safe") {
    val out = Seq(Some(5.0), Some(0.0), None, Some(123.0))
      .toDF("mean")
      .select(width(col("mean")).as("w"))
      .as[Option[Double]].collect()
    assert(out(0) === Some(PoissonCi.width(0.99, 5.0)))
    assert(out(1) === None) // zero mean -> null (models.py:306)
    assert(out(2) === None)
    assert(out(3) === Some(PoissonCi.width(0.99, 123.0)))
  }

  test("registered SQL function works, with implicit int cast") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      "SELECT poisson_ci_width(0.99, 5.0) AS a, poisson_ci_width(0.99, 7) AS b")
      .as[(Double, Double)].head()
    assert(r._1 === PoissonCi.width(0.99, 5.0))
    assert(r._2 === PoissonCi.width(0.99, 7.0))
  }

  test("expression stays inside whole-stage codegen") {
    // a local Seq would be constant-folded into a LocalTableScan; range
    // scans go through codegen, so the projection must fuse with it
    val df = spark.range(1, 100)
      .select(width(col("id")).as("w"))
    // the "*(n)" prefix marks a WholeStageCodegen stage in plan strings
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [poisson_ci_width("))
    assert(df.agg(sum("w")).head().getDouble(0) > 0.0) // and actually runs
  }

  test("trim2 stays inside whole-stage codegen") {
    val df = spark.range(1, 100)
      .select(Rounding.trim2(col("id").cast("double") / 7.0).as("t"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [trim2("), plan)
    assert(df.agg(sum("t")).head().getDouble(0) > 0.0)
  }

  test("poisson_ci_width rejects a non-double input at analysis time") {
    // the SQL builder casts; a direct construction over a
    // string must fail the plan, not an executor task
    val df = Seq(("x", 1)).toDF("s", "i")
    val e = intercept[AnalysisException](df.select(
      GraftShim.column(PoissonCiWidth(GraftShim.expression(col("s")), 0.99))))
    assert(e.getMessage.contains("DATATYPE_MISMATCH"), e.getMessage)
  }

  test("trim2 rejects a non-double input at analysis time") {
    val df = Seq(("x", 1)).toDF("s", "i")
    val e = intercept[AnalysisException](df.select(
      GraftShim.column(Trim2(GraftShim.expression(col("i"))))))
    assert(e.getMessage.contains("DATATYPE_MISMATCH"), e.getMessage)
  }

  test("trim2 equals its Column form on every double: codegen and interpreted, ANSI on and off") {
    val rnd = new scala.util.Random(7)
    val special = Seq[java.lang.Double](null, 0.0, -0.0, Double.NaN,
      Double.NegativeInfinity, Double.MinPositiveValue, java.lang.Double.MIN_NORMAL,
      9.99e-308, 1e-307, 1e-300, Double.MaxValue, -Double.MaxValue, 1.0, 10.0,
      100.0, 0.125, 0.0125, 12.5, 0.15, 2.5, 9.95, 99.5, 0.045, -3.0)
    // raw bit patterns cover subnormals, NaN payloads and both signs;
    // the log-uniform draws cover the eta range densely
    val random = Seq.fill(3000)(java.lang.Double.longBitsToDouble(rnd.nextLong())) ++
      Seq.fill(3000)(math.pow(10.0, rnd.nextDouble() * 40 - 20))
    val schema = StructType(Seq(StructField("x", DoubleType)))
    // an RDD scan, not a local Seq: a LocalRelation projection is folded
    // on the driver and would never reach generated code
    def frame(xs: Seq[java.lang.Double]) = spark.createDataFrame(
      spark.sparkContext.parallelize(xs.map(Row(_)), 2), schema)
    val df = frame(special ++ random.filterNot(_.isPosInfinity).map(Double.box))
    val inf = frame(Seq(Double.PositiveInfinity))
    val scalar = udf(Rounding.trim2Scalar _)
    def outcome(c: => Column): Either[String, Any] =
      try Right(inf.select(c).head().get(0))
      catch {
        case e: Exception =>
          Left(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
            .map(t => String.valueOf(t.getMessage))
            .find(_.contains("DIVIDE_BY_ZERO")).map(_ => "DIVIDE_BY_ZERO")
            .getOrElse(e.toString))
      }
    val confs = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode",
      "spark.sql.ansi.enabled")
    val saved = confs.map(k => k -> spark.conf.getOption(k))
    try {
      for (codegen <- Seq(true, false); ansi <- Seq(true, false)) {
        spark.conf.set("spark.sql.codegen.wholeStage", codegen.toString)
        spark.conf.set("spark.sql.codegen.factoryMode",
          if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN")
        spark.conf.set("spark.sql.ansi.enabled", ansi.toString)
        val rows = df.select(col("x"), RoundingCheck.trim2Column(col("x")),
          Rounding.trim2(col("x")), scalar(col("x"))).collect()
        assert(rows.length == special.length + random.count(!_.isPosInfinity))
        rows.foreach { case Row(x, o, n, sc) =>
          // Objects.equals: boxed equality makes NaN == NaN and tells ±0 apart
          assert(java.util.Objects.equals(o, n),
            s"trim2($x) codegen=$codegen ansi=$ansi: got $n want $o")
          // the streaming scorers' scalar twin (a null x never reaches it)
          assert(x == null || java.util.Objects.equals(o, sc),
            s"trim2Scalar($x): got $sc want $o")
        }
        val old = outcome(RoundingCheck.trim2Column(col("x")))
        assert(outcome(Rounding.trim2(col("x"))) == old, s"+Inf codegen=$codegen ansi=$ansi")
        assert(old == (if (ansi) Left("DIVIDE_BY_ZERO") else Right(null)), old)
      }
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
