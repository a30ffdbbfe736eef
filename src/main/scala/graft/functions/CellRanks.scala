package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.GraftShim
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** The IVF coarse-quantizer assignment kernel as a native expression —
  * the `keep` nearest broadcast-centroid ids ordered by 9-dp-rounded
  * cosine (tie on cell id), optionally routed through the two-level
  * super-quantizer. This is [[graft.ml.Similarity.withCellRanks]]'s inner
  * loop, evaluated once per corpus vector on EVERY dense build, append
  * and serve probe.
  *
  * Why an Expression and not the Scala `udf` it replaces: the UDF's
  * input converter materialized each row's vector as a boxed
  * `Seq[Double]` (one `java.lang.Double` per dimension per row) before
  * the arithmetic could start; here the vector is read as one primitive
  * bulk copy (`ArrayData.toDoubleArray`). The ranking arithmetic itself
  * ([[CellRanks.rank]]) is byte-identical to the UDF body — same
  * insertion order, same 9-dp rounding, same zero-norm convention —
  * so every assignment/probe set, and therefore every stored layout and
  * oracle hash, is unchanged (pinned by the `ann_ivf_assign*` oracle
  * queries and MlSpec). CodegenFallback: the per-row work is the
  * centroid scan itself, which generated code would not change; what
  * mattered was removing the per-element boxing.
  */
case class CellRanksExpr(left: Expression, right: Expression,
    bc: Broadcast[Array[(Long, Array[Double], Double)]],
    bcSup: Broadcast[(Array[Array[Double]], Array[Array[Int]])],
    keep: Int, superProbe: Int)
    extends BinaryExpression with CodegenFallback {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftShim.checkInputTypes(Seq(left, right), Seq(ArrayType(DoubleType), DoubleType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "cell_ranks"

  protected override def nullSafeEval(v: Any, norm: Any): Any = {
    val va = v.asInstanceOf[ArrayData].toDoubleArray()
    val sup = if (bcSup == null) null else bcSup.value
    UnsafeArrayData.fromPrimitiveArray(
      CellRanks.rank(va, norm.asInstanceOf[Double], bc.value, sup,
        keep, superProbe))
  }

  override protected def withNewChildrenInternal(l: Expression,
                                                 r: Expression): CellRanksExpr =
    copy(left = l, right = r)
}

object CellRanks {
  /** The ranking kernel — the exact body of the former `cellRanks` udf.
    * Returns the top-`keep` centroid ids (cosine desc, 9-dp rounded,
    * ties to the lower cell id); `sup` non-null activates the two-level
    * routing (rank super-centroids by raw dot, scan only the probed
    * super-cells' children).
    */
  def rank(va: Array[Double],
           norm: Double,
           cs: Array[(Long, Array[Double], Double)],
           sup: (Array[Array[Double]], Array[Array[Int]]),
           keep: Int, superProbe: Int): Array[Long] = {
    val m = math.min(math.max(1, keep), cs.length)
    // bounded top-m insertion: better-than-slot shifts the tail down;
    // order = cosine desc (9-dp rounded), tie on cell id asc
    val topId = new Array[Long](m)
    val topC = new Array[Double](m)
    var filled = 0
    def offer(ci: Int): Unit = {
      val (cid, cv, cn) = cs(ci)
      var s = 0.0
      var d = 0
      while (d < va.length) { s += va(d) * cv(d); d += 1 }
      // zero-vector / zero-centroid convention: cosine 0, never NaN
      // (NaN comparisons are all-false, which would append the row at
      // the tail in centroid order — deterministic by accident; pin 0)
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
    if (sup == null) {
      var i = 0
      while (i < cs.length) { offer(i); i += 1 }
    } else {
      val (supC, children) = sup
      // rank super-cells by raw dot against unit super-centroids (the
      // vector's own norm divides out of the ranking); ties keep the
      // earlier (lower) super id — strict < in the insertion test
      val p = math.min(superProbe, supC.length)
      val supId = new Array[Int](p)
      val supS = new Array[Double](p)
      var sf = 0
      var s = 0
      while (s < supC.length) {
        var acc = 0.0
        var d = 0
        while (d < va.length) { acc += va(d) * supC(s)(d); d += 1 }
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
    if (filled == m) topId else java.util.Arrays.copyOf(topId, filled)
  }
}
