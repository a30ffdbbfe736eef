package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** DotFold / L2SqFold must be BIT-IDENTICAL to the interpreted
  * `aggregate(zip_with(...))` folds they replaced — same left-to-right
  * IEEE order, same null semantics (null array, null element, length
  * mismatch) — because the DuckDB oracle hashes depend on the exact
  * doubles. Checked over both the codegen and interpreted eval paths.
  */
class VecFoldSpec extends SparkSpec {
  import spark.implicits._

  private val cases: Seq[(Option[Seq[Option[Double]]], Option[Seq[Option[Double]]])] = {
    def s(xs: Double*): Option[Seq[Option[Double]]] = Some(xs.map(Option(_)))
    Seq(
      (s(1.0, 2.0, 3.0), s(4.0, 5.0, 6.0)),
      (s(0.1, -0.2, 0.3, 1e300), s(1e-300, 0.7, -0.9, 1e-300)),
      (s(), s()),                                  // empty arrays -> 0.0
      (s(1.0, 2.0), s(1.0)),                       // length mismatch -> null
      (Some(Seq(Some(1.0), None)), s(1.0, 2.0)),   // null element -> null
      (None, s(1.0)),                              // null array -> null
      // adversarial accumulation order: result differs if fold order does
      (s(1e16, 1.0, -1e16), s(1.0, 1.0, 1.0)),
      (s(0.1, 0.2, 0.3, 0.4, 0.5), s(0.5, 0.4, 0.3, 0.2, 0.1)))
  }

  private def df = cases.toDF("a", "b")

  private def legacyDot = aggregate(
    zip_with(col("a"), col("b"), (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
  private def legacyL2 = aggregate(
    zip_with(col("a"), col("b"), (x, y) => (x - y) * (x - y)),
    lit(0.0), (acc, x) => acc + x)

  private def assertParity(codegenEnabled: Boolean): Unit = {
    val key = "spark.sql.codegen.wholeStage"
    val old = spark.conf.get(key)
    spark.conf.set(key, codegenEnabled.toString)
    try {
      val got = df.select(
        VecFold.dot(col("a"), col("b")).as("d_new"), legacyDot.as("d_old"),
        VecFold.l2sq(col("a"), col("b")).as("l_new"), legacyL2.as("l_old"))
        .collect()
      got.zipWithIndex.foreach { case (Row(dNew, dOld, lNew, lOld), i) =>
        assert(dNew == dOld, s"dot case $i (codegen=$codegenEnabled)")
        assert(lNew == lOld, s"l2sq case $i (codegen=$codegenEnabled)")
      }
    } finally spark.conf.set(key, old)
  }

  test("dot/l2sq folds match the higher-order originals bit-for-bit (codegen)") {
    assertParity(codegenEnabled = true)
  }

  test("dot/l2sq folds match the higher-order originals bit-for-bit (interpreted)") {
    assertParity(codegenEnabled = false)
  }

  test("dot_fold / l2sq_fold are SQL-callable via GraftExtensions") {
    graft.GraftExtensions.register(spark)
    val Row(d: Double, l: Double) = spark.sql(
      "SELECT dot_fold(array(1.0, 2.0), array(3.0, 4.0))," +
        " l2sq_fold(array(1.0, 2.0), array(3.0, 4.0))").head()
    assert(d == 11.0 && l == 8.0)
  }

  test("self-dot equals the sum-of-squares fold used by normed()") {
    val v = Seq(Seq(0.1, 0.2, 0.3), Seq(1e10, 1.0, -1e10)).toDF("v")
    val got = v.select(
      VecFold.dot(col("v"), col("v")).as("n"),
      aggregate(col("v"), lit(0.0), (acc, x) => acc + x * x).as("o")).collect()
    got.foreach { case Row(n: Double, o: Double) => assert(n == o) }
  }

  test("the folds reject non-double arrays at analysis time") {
    // an AnalysisException when the plan is analyzed, not a
    // ClassCastException inside an executor task (the SQL registrations
    // cast to array<double>, so the SQL-callable test above still holds)
    val typed = Seq((Seq(1.0f, 2.0f), Seq("a", "b"), Seq(1.0, 2.0))).toDF("f", "s", "d")
    for ((c, what) <- Seq(VecFold.dot(col("f"), col("d")) -> "dot over array<float>",
                          VecFold.l2sq(col("d"), col("s")) -> "l2sq over array<string>")) {
      val e = intercept[org.apache.spark.sql.AnalysisException](typed.select(c))
      assert(e.getMessage.contains("DATATYPE_MISMATCH"), s"$what: ${e.getMessage}")
    }
  }
}
