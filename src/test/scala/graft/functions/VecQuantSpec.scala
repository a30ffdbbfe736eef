package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** The scalar-quantization expressions must be BIT-IDENTICAL to the
  * interpreted HOF/UDF originals they replaced — the SQ/int8 stores'
  * DuckDB oracles hash the packed bytes and the rescored doubles.
  * Checked over both the codegen and interpreted eval paths.
  */
class VecQuantSpec extends SparkSpec {
  import spark.implicits._

  // NOTE: no null-ELEMENT case in the parity set — the legacy
  // `Seq[Double]` UDF cannot even evaluate one under Spark 4's encoder
  // (NOT_NULL_ASSERT_VIOLATION), so real vectors never carried them;
  // the expressions' defined behavior for them is asserted standalone.
  private val vecs: Seq[Option[Seq[Option[Double]]]] = {
    def s(xs: Double*): Option[Seq[Option[Double]]] = Some(xs.map(Option(_)))
    Seq(
      s(1.0, -2.5, 3.25),
      s(0.0, 0.0),
      s(),                                  // empty -> scale 0.0
      s(-1e300, 1e-300, 127.5, -127.49),
      None,                                  // null array -> null
      s(Double.NaN, 2.0),                    // NaN greatest in Spark ordering
      s(1e16, -1.0, 1e16))
  }

  private def df = vecs.toDF("v")

  private def legacyMaxAbs = aggregate(col("v"), lit(0.0),
    (a, x) => greatest(a, abs(x)))

  private val legacyPackUdf = udf { (q: Seq[Double]) =>
    q.map(_.toInt.toByte).toArray
  }
  private def legacyPack = legacyPackUdf(transform(col("v"),
    x => floor(x * lit(127.0) / col("ss") + lit(0.5)).cast("double")))

  private def assertParity(codegenEnabled: Boolean): Unit = {
    val key = "spark.sql.codegen.wholeStage"
    val old = spark.conf.get(key)
    spark.conf.set(key, codegenEnabled.toString)
    try {
      val scales = df
        .select(legacyMaxAbs.as("o"), VecQuant.maxAbs(col("v")).as("n"))
        .collect()
      scales.zipWithIndex.foreach { case (Row(o, n), i) =>
        // Objects.equals: boxed-Double equality makes NaN == NaN (scala ==
        // unboxes and IEEE-fails the NaN case the parity set includes)
        assert(java.util.Objects.equals(o, n),
          s"maxAbs case $i (codegen=$codegenEnabled): got $n want $o")
      }
      // pack parity over non-null arrays only: the legacy UDF NPEs on a
      // null input Seq (i.e. it was undefined there; the operators never
      // fed it one — packBytes always followed normed())
      val got = df.where(col("v").isNotNull)
        .withColumn("scale_old", legacyMaxAbs)
        .withColumn("ss",
          when(col("scale_old") === 0d, lit(1.0)).otherwise(col("scale_old")))
        .select(legacyPack.as("qb_old"),
          VecQuant.sqPack(col("v"), col("ss")).as("qb_new"))
        .collect()
      got.zipWithIndex.foreach {
        case (Row(qOld, qNew), i) =>
          assert(java.util.Arrays.equals(
              qOld.asInstanceOf[Array[Byte]], qNew.asInstanceOf[Array[Byte]]),
            s"sqPack case $i (codegen=$codegenEnabled)")
      }
      // the expression's null-array behavior: plain null out
      val nr = df.where(col("v").isNull)
        .select(VecQuant.sqPack(col("v"), lit(1.0))).head()
      assert(nr.isNullAt(0))
    } finally spark.conf.set(key, old)
  }

  test("maxAbs/sqPack match the HOF+UDF originals bit-for-bit (codegen)") {
    assertParity(codegenEnabled = true)
  }

  test("maxAbs/sqPack match the HOF+UDF originals bit-for-bit (interpreted)") {
    assertParity(codegenEnabled = false)
  }

  test("byteDot/unpack match the UDF originals") {
    val legacyDot = udf { (a: Array[Byte], b: Array[Byte]) =>
      var s = 0L
      var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { s += a(i).toLong * b(i).toLong; i += 1 }
      s.toDouble
    }
    val legacyUnpack = udf { (b: Array[Byte]) => b.map(_.toDouble) }
    val rows = Seq(
      (Array[Byte](1, -2, 127), Array[Byte](-128, 5, 3)),
      (Array[Byte](), Array[Byte](7)),        // length mismatch: min-length
      (Array[Byte](-1, -1), Array[Byte](-1, -1)))
      .toDF("a", "b")
    val got = rows.select(
      VecQuant.byteDot(col("a"), col("b")).as("d_new"),
      legacyDot(col("a"), col("b")).as("d_old"),
      VecQuant.unpack(col("a")).as("u_new"),
      legacyUnpack(col("a")).as("u_old")).collect()
    got.zipWithIndex.foreach { case (Row(dNew, dOld, uNew, uOld), i) =>
      assert(dNew == dOld, s"byteDot case $i")
      assert(uNew.asInstanceOf[scala.collection.Seq[Double]].toSeq ==
        uOld.asInstanceOf[scala.collection.Seq[Double]].toSeq,
        s"unpack case $i")
    }
    // null propagation
    val nulls = Seq((Option.empty[Array[Byte]], Some(Array[Byte](1))))
      .toDF("a", "b")
      .select(VecQuant.byteDot(col("a"), col("b")).as("d"),
        VecQuant.unpack(col("a")).as("u")).head()
    assert(nulls.isNullAt(0) && nulls.isNullAt(1))
  }

  test("sub/reconstruct match the zip_with originals bit-for-bit") {
    // element-wise canonical compare: Scala's cooperative equality
    // unboxes Doubles (IEEE NaN != NaN), so compare canonical bits
    def canon(x: Any): Any = x match {
      case null => null
      case s: scala.collection.Seq[_] => s.map(canon)
      case d: java.lang.Double => java.lang.Double.doubleToLongBits(d)
      case other => other
    }
    for (codegen <- Seq(true, false)) {
      val key = "spark.sql.codegen.wholeStage"
      val old = spark.conf.get(key)
      spark.conf.set(key, codegen.toString)
      try {
        // sub vs zip_with(a, b, _ − _): same-length, length-mismatch
        // (null padding), null elements, null arrays, NaN/extremes
        val pairs: Seq[(Option[Seq[Option[Double]]], Option[Seq[Option[Double]]])] = {
          def s(xs: Double*): Option[Seq[Option[Double]]] = Some(xs.map(Option(_)))
          Seq(
            (s(1.0, -2.5, 3.25), s(0.5, 2.5, -1.0)),
            (s(1.0, 2.0), s(3.0)),               // mismatch: null-padded
            (s(), s(1.0)),
            (None, s(1.0)),                       // null array -> null
            (s(Double.NaN, 1e300), s(1.0, -1e300)),
            (Some(Seq(Some(1.0), None)), s(2.0, 3.0))) // null element
        }
        val got = pairs.toDF("a", "b").select(
          zip_with(col("a"), col("b"), (x, y) => x - y).as("o"),
          VecQuant.sub(col("a"), col("b")).as("n")).collect()
        got.zipWithIndex.foreach { case (Row(o, n), i) =>
          assert(canon(o) == canon(n),
            s"sub case $i (codegen=$codegen): got $n want $o")
        }
        // reconstruct vs zip_with(cv, unpack(qb), (c, q) => c + q*r/127)
        val rows = Seq(
          (Some(Seq(1.0, -2.0, 0.5)), Some(Array[Byte](10, -128, 127)), Some(2.5)),
          (Some(Seq(1.0, 2.0)), Some(Array[Byte](3)), Some(1.0)),  // mismatch
          (Some(Seq(1.0)), Some(Array[Byte](3, 4)), Some(1.0)),    // mismatch
          (Option.empty[Seq[Double]], Some(Array[Byte](1)), Some(1.0)),
          (Some(Seq(1.0)), Option.empty[Array[Byte]], Some(1.0)),
          (Some(Seq(1.0)), Some(Array[Byte](1)), Option.empty[Double])) // null r
          .toDF("cv", "qb", "r")
        val gotR = rows.select(
          zip_with(col("cv"), VecQuant.unpack(col("qb")),
            (c, q) => c + q * col("r") / lit(127.0)).as("o"),
          VecQuant.reconstruct(col("cv"), col("qb"), col("r")).as("n"))
          .collect()
        gotR.zipWithIndex.foreach { case (Row(o, n), i) =>
          assert(canon(o) == canon(n),
            s"reconstruct case $i (codegen=$codegen): got $n want $o")
        }
      } finally spark.conf.set(key, old)
    }
  }

  test("null ELEMENTS have the documented defined behavior") {
    // (the legacy UDFs could not evaluate these at all — see the note on
    // the parity set)
    val df = Seq(1).toDF("i").select(
      array(lit(1.0), lit(null).cast("double"), lit(-3.0)).as("v"))
    val r = df.select(
      VecQuant.maxAbs(col("v")).as("s"),            // null skipped by greatest
      VecQuant.sqPack(col("v"), lit(3.0)).as("qb"), // null packs to byte 0
      VecQuant.sqQuant(col("v"), lit(3.0)).as("q"), // null element stays null
      VecQuant.sqQuantLongs(col("v"), lit(3.0)).as("ql")).head()
    assert(r.getDouble(0) == 3.0)
    assert(r.getAs[Array[Byte]](1).toSeq == Seq[Byte](42, 0, -127))
    assert(r.getSeq[Any](2) == Seq(42.0, null, -127.0))
    assert(r.getSeq[Any](3) == Seq(42L, null, -127L))
  }

  test("the kernels reject mistyped inputs at analysis time") {
    // a wrong column type must fail as an AnalysisException when the plan
    // is analyzed, not as a ClassCastException inside an executor task
    import org.apache.spark.sql.AnalysisException
    import org.apache.spark.sql.graft.GraftShim
    val df = Seq((Seq(1.0f, -2.0f), Seq(1.0, 2.0), Array[Byte](1, 2), 2, "x"))
      .toDF("fv", "dv", "qb", "i", "s")
    def rejects(c: => org.apache.spark.sql.Column, what: String): Unit = {
      val e = intercept[AnalysisException](df.select(c))
      assert(e.getMessage.contains("DATATYPE_MISMATCH"), s"$what: ${e.getMessage}")
    }
    rejects(VecQuant.maxAbs(col("fv")), "maxAbs over array<float>")
    rejects(VecQuant.sqPack(col("dv"), col("s")), "sqPack with a string scale")
    rejects(VecQuant.byteDot(col("qb"), col("dv")), "byteDot over array<double>")
    rejects(VecQuant.sub(col("dv"), col("fv")), "sub over array<float>")
    rejects(VecQuant.reconstruct(col("dv"), col("dv"), lit(1.0)),
      "reconstruct with array codes")
    val bloom = spark.sparkContext.broadcast(
      org.apache.spark.util.sketch.BloomFilter.create(8))
    rejects(GraftShim.column(BloomContains(GraftShim.expression(col("s")), bloom)),
      "bloom probe over a string")
    rejects(VecQuant.sqQuant(col("fv"), lit(1.0)), "sqQuant over array<float>")
    rejects(VecQuant.sqQuantLongs(col("dv"), col("s")),
      "sqQuantLongs with a string scale")
    rejects(VecQuant.unpack(col("dv")), "unpack over array<double>")
    def ex(c: org.apache.spark.sql.Column) = GraftShim.expression(c)
    val seeds = spark.sparkContext.broadcast(Array.empty[(Long, Array[Double])])
    val books = spark.sparkContext.broadcast(
      Map.empty[Long, Array[(Long, Array[Double])]])
    val cents = spark.sparkContext.broadcast(Array.empty[Array[Long]])
    val subBooks = spark.sparkContext.broadcast(Array.empty[Array[Array[Long]]])
    rejects(GraftShim.column(PqSeedCodes(ex(col("fv")), seeds, 2)),
      "pqSeedCodes over array<float>")
    rejects(GraftShim.column(PqEncode(ex(col("fv")), books, 2)), "pqEncode over array<float>")
    rejects(GraftShim.column(KmeansAssign(ex(col("dv")), cents)),
      "kmeansAssign over array<double>")
    rejects(GraftShim.column(PqAssign(ex(col("i")), ex(typedLit(Seq(1L))), subBooks)),
      "pqAssign with an int subspace")
  }
}
