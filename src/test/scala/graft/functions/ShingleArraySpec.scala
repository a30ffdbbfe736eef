package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** ShingleArray must be BIT-IDENTICAL to the interpreted-HOF original it
  * replaced — every dedup/BM25/bigram-LM oracle hashes these strings.
  */
class ShingleArraySpec extends SparkSpec {
  import spark.implicits._

  private def legacy(w: org.apache.spark.sql.Column, k: Int) =
    when(size(w) >= k,
      transform(sequence(lit(0), size(w) - k), i =>
        concat_ws(" ", (1 to k).map(j => element_at(w, i + j)): _*)))
      .otherwise(array().cast("array<string>"))

  private val cases: Seq[Option[Seq[Option[String]]]] = {
    def s(xs: String*): Option[Seq[Option[String]]] = Some(xs.map(Option(_)))
    Seq(
      s("a", "b", "c", "d"),
      s("a"),                                  // shorter than k -> empty
      s(),                                     // empty -> empty
      None,                                    // null array -> empty
      Some(Seq(Some("a"), None, Some("c"))),   // null element skipped by concat_ws
      s("", "x", ""),                          // empty-string words survive
      s("αβ", "γ", "δε", "ζ"))                 // multi-byte UTF-8
  }

  test("shingles match the HOF original bit-for-bit, k = 1..3") {
    val df = cases.toDF("w")
    (1 to 3).foreach { k =>
      val got = df.select(
        graft.ml.Portable.shingles(col("w"), k).as("n"),
        legacy(col("w"), k).as("o")).collect()
      got.zipWithIndex.foreach { case (Row(n, o), i) =>
        assert(n == o, s"k=$k case $i: got $n want $o")
      }
    }
  }

  test("shingles compose with explode and h64 as before") {
    // the downstream shape every operator uses: explode + md5-hash
    val df = Seq("w1 w2 w3 w4").toDF("text")
      .select(graft.ml.Portable.words(col("text")).as("w"))
    val viaNew = df
      .select(explode(graft.ml.Portable.shingles(col("w"), 2)).as("s"))
      .select(graft.ml.Portable.h64(col("s")).as("h"))
      .as[Long].collect().toSeq
    val viaOld = df.select(explode(legacy(col("w"), 2)).as("s"))
      .select(graft.ml.Portable.h64(col("s")).as("h"))
      .as[Long].collect().toSeq
    assert(viaNew == viaOld && viaNew.length == 3)
  }

  test("the string-array kernels reject other inputs at analysis time") {
    // an AnalysisException when the plan is analyzed, not a
    // ClassCastException inside an executor task
    val typed = Seq((Seq(1L, 2L), "a b")).toDF("longs", "text")
    for ((c, what) <- Seq(ShingleArray(col("longs"), 2) -> "shingles over array<bigint>",
                          SumStrLen(col("text")) -> "sum_str_len over a string",
                          CountInSet(col("longs"), Seq("a")) -> "count_in_set over array<bigint>")) {
      val e = intercept[org.apache.spark.sql.AnalysisException](typed.select(c))
      assert(e.getMessage.contains("DATATYPE_MISMATCH"), s"$what: ${e.getMessage}")
    }
  }
}
