package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** SpaceSplit must be BIT-IDENTICAL to `split(text, " ")` — every
  * tokenize pass and therefore every shingle/hash oracle depends on it.
  */
class SpaceSplitSpec extends SparkSpec {
  import spark.implicits._

  private val cases: Seq[Option[String]] = Seq(
    Some("a b c"), Some(""), Some(" "), Some("  "), Some("a "), Some(" a"),
    Some("a  b"), Some("solo"), Some("αβ γδ"), Some("tab\tstays one"),
    Some("x " * 500), None)

  private def assertParity(codegenEnabled: Boolean): Unit = {
    val key = "spark.sql.codegen.wholeStage"
    val old = spark.conf.get(key)
    spark.conf.set(key, codegenEnabled.toString)
    try {
      val got = cases.toDF("s")
        .select(graft.ml.Portable.words(col("s")).as("n"),
          split(col("s"), " ").as("o")).collect()
      got.zipWithIndex.foreach { case (Row(n, o), i) =>
        assert(n == o, s"case $i (codegen=$codegenEnabled): got $n want $o")
      }
    } finally spark.conf.set(key, old)
  }

  test("space split matches split(text, ' ') bit-for-bit (codegen)") {
    assertParity(codegenEnabled = true)
  }

  test("space split matches split(text, ' ') bit-for-bit (interpreted)") {
    assertParity(codegenEnabled = false)
  }

  test("composes with shingles + h64 as the operators use it") {
    val df = Seq("w1 w2 w3").toDF("text")
    val viaNew = df
      .select(explode(graft.ml.Portable.shingles(
        graft.ml.Portable.words(col("text")), 2)).as("s"))
      .select(graft.ml.Portable.h64(col("s"))).as[Long].collect().toSeq
    val viaOld = df
      .select(explode(graft.ml.Portable.shingles(split(col("text"), " "), 2)).as("s"))
      .select(conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long"))
      .as[Long].collect().toSeq
    assert(viaNew == viaOld && viaNew.length == 2)
  }

  test("space split rejects a non-string input at analysis time") {
    val e = intercept[org.apache.spark.sql.AnalysisException](
      Seq(Seq("a b")).toDF("w").select(SpaceSplit(col("w"))))
    assert(e.getMessage.contains("DATATYPE_MISMATCH"), e.getMessage)
  }
}
