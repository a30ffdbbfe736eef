package graft.ml

import graft.SparkSpec
import graft.functions.CellRanks

/** CellRanks.rank must be byte-identical to the former `cellRanks` udf
  * body — the assignment/probe sets of every dense store depend on it.
  * The reference below IS that udf body, kept verbatim.
  */
class CellRanksSpec extends SparkSpec {

  /** The former udf body, verbatim (Seq input, take(filled) output). */
  private def refRank(v: Seq[Double], norm: Double,
                      cs: Array[(Long, Array[Double], Double)],
                      bcSup: (Array[Array[Double]], Array[Array[Int]]),
                      kKeep: Int, nProbeSup: Int): Array[Long] = {
    val va = v.toArray
    val m = math.min(kKeep, cs.length)
    val topId = new Array[Long](m)
    val topC = new Array[Double](m)
    var filled = 0
    def offer(ci: Int): Unit = {
      val (cid, cv, cn) = cs(ci)
      var s = 0.0
      var d = 0
      while (d < va.length) { s += va(d) * cv(d); d += 1 }
      val c = if (norm * cn == 0) 0.0
        else math.floor(s / (norm * cn) * 1e9 + 0.5) / 1e9
      var pos = filled
      while (pos > 0 && (topC(pos - 1) < c ||
        (topC(pos - 1) == c && topId(pos - 1) > cid))) pos -= 1
      if (pos < m) {
        val last = math.min(filled, m - 1)
        var j = last
        while (j > pos) { topId(j) = topId(j - 1); topC(j) = topC(j - 1); j -= 1 }
        topId(pos) = cid
        topC(pos) = c
        if (filled < m) filled += 1
      }
    }
    if (bcSup == null) {
      var i = 0
      while (i < cs.length) { offer(i); i += 1 }
    } else {
      val (sup, children) = bcSup
      val p = math.min(nProbeSup, sup.length)
      val supId = new Array[Int](p)
      val supS = new Array[Double](p)
      var sf = 0
      var s = 0
      while (s < sup.length) {
        var acc = 0.0
        var d = 0
        while (d < va.length) { acc += va(d) * sup(s)(d); d += 1 }
        var pos = sf
        while (pos > 0 && supS(pos - 1) < acc) pos -= 1
        if (pos < p) {
          val last = math.min(sf, p - 1)
          var j = last
          while (j > pos) { supId(j) = supId(j - 1); supS(j) = supS(j - 1); j -= 1 }
          supId(pos) = s
          supS(pos) = acc
          if (sf < p) sf += 1
        }
        s += 1
      }
      var pi = 0
      while (pi < sf) {
        val ch = children(supId(pi))
        var ki = 0
        while (ki < ch.length) { offer(ch(ki)); ki += 1 }
        pi += 1
      }
    }
    topId.take(filled)
  }

  private def mkCents(n: Int, dim: Int): Array[(Long, Array[Double], Double)] =
    Array.tabulate(n) { i =>
      val v = Array.tabulate(dim)(d => math.sin(i * 31 + d * 7).abs + 0.01)
      (i.toLong, v, math.sqrt(v.map(x => x * x).sum))
    }

  test("flat ranking matches the former udf body, incl. ties and zero norms") {
    val dim = 8
    val cents = mkCents(20, dim) ++
      Array((20L, new Array[Double](dim), 0.0)) // zero centroid
    (1 to 6).foreach { keep =>
      (0 until 50).foreach { i =>
        val v = Seq.tabulate(dim)(d => math.cos(i * 13 + d * 5))
        val norm = math.sqrt(v.map(x => x * x).sum)
        val got = CellRanks.rank(v.toArray, norm, cents, null, keep, 6)
        val want = refRank(v, norm, cents, null, math.max(1, keep), 6)
        assert(got.toSeq == want.toSeq, s"keep=$keep vec=$i")
      }
      // zero vector
      val z = Seq.fill(dim)(0.0)
      assert(CellRanks.rank(z.toArray, 0.0, cents, null, keep, 6).toSeq ==
        refRank(z, 0.0, cents, null, math.max(1, keep), 6).toSeq)
    }
  }

  test("two-level ranking matches the former udf body") {
    val dim = 8
    val cents = mkCents(81, dim)
    val sup = Similarity.superQuantizer(cents)
    (1 to 4).foreach { keep =>
      (0 until 50).foreach { i =>
        val v = Seq.tabulate(dim)(d => math.sin(i * 17 + d * 3))
        val norm = math.sqrt(v.map(x => x * x).sum)
        val got = CellRanks.rank(v.toArray, norm, cents, sup, keep, 6)
        val want = refRank(v, norm, cents, sup, math.max(1, keep), 6)
        assert(got.toSeq == want.toSeq, s"keep=$keep vec=$i")
      }
    }
  }

  test("cell ranks reject a non-double vector at analysis time") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.graft.GraftShim
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(Array((0L, Array(1.0), 1.0)))
    val ranks = GraftShim.column(graft.functions.CellRanksExpr(
      GraftShim.expression(col("v")), GraftShim.expression(col("norm")), bc, null, 1, 0))
    val e = intercept[org.apache.spark.sql.AnalysisException](
      Seq((Seq(1.0f), 1.0)).toDF("v", "norm").select(ranks))
    assert(e.getMessage.contains("DATATYPE_MISMATCH"), e.getMessage)
  }
}
