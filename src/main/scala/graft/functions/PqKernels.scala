package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.GraftShim
import org.apache.spark.sql.types._

/** The PQ / k-means assignment kernels as native expressions. Each is the
  * former Scala `udf` body verbatim (the DuckDB oracles replay the exact
  * rounding and tie-breaks) minus the per-row boxed `Seq[...]` input
  * conversion — these loops run once per corpus vector per build (and per
  * LLOYD ROUND in the trained paths), so the boxing was a constant factor
  * on every `ann_*pq*`/kmeans query. All CodegenFallback: the work is the
  * codebook scan, not expression glue.
  */

/** [[graft.ml.Similarity.pqCodes]]'s kernel: per subspace, the nearest
  * seed codeword (9-dp-rounded subspace L2, smaller code id wins ties) —
  * codebook m = subvector m of the broadcast seed vectors, indexed at
  * m·sub + d. Returns the nSub code ids.
  */
case class PqSeedCodes(child: Expression,
    bc: Broadcast[Array[(Long, Array[Double])]], nSub: Int)
    extends UnaryExpression with CodegenFallback {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftShim.checkInputTypes(children, Seq(ArrayType(DoubleType)))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "pq_seed_codes"

  protected override def nullSafeEval(v: Any): Any = {
    val va = v.asInstanceOf[ArrayData].toDoubleArray()
    val sub = va.length / nSub
    val cents = bc.value
    val out = new Array[Long](nSub)
    var m = 0
    while (m < nSub) {
      var bestCode = -1L
      var bestD = Double.MaxValue
      var ci = 0
      while (ci < cents.length) {
        val (cid, cv) = cents(ci)
        var d2 = 0.0
        var d = 0
        while (d < sub) {
          val diff = va(m * sub + d) - cv(m * sub + d)
          d2 += diff * diff
          d += 1
        }
        val r = math.floor(d2 * 1e9 + 0.5) / 1e9
        if (r < bestD || (r == bestD && cid < bestCode)) {
          bestD = r; bestCode = cid
        }
        ci += 1
      }
      out(m) = bestCode
      m += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def withNewChildInternal(c: Expression): PqSeedCodes =
    copy(child = c)
}

/** [[graft.ml.Index]]'s `encodeAgainst` kernel: same rounding/tie
  * semantics as [[PqSeedCodes]] but against an arbitrary stored codebook
  * grouped per subspace (codeword arrays are subDim-wide, indexed at d).
  */
case class PqEncode(child: Expression,
    bc: Broadcast[Map[Long, Array[(Long, Array[Double])]]], nSub: Int)
    extends UnaryExpression with CodegenFallback {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftShim.checkInputTypes(children, Seq(ArrayType(DoubleType)))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "pq_encode"

  protected override def nullSafeEval(v: Any): Any = {
    val va = v.asInstanceOf[ArrayData].toDoubleArray()
    val sub = va.length / nSub
    val books = bc.value
    val out = new Array[Long](nSub)
    var m = 0
    while (m < nSub) {
      val book = books(m.toLong)
      var bestCode = -1L
      var bestD = Double.MaxValue
      var ci = 0
      while (ci < book.length) {
        val (cid, cw) = book(ci)
        var d2 = 0.0
        var d = 0
        while (d < sub) {
          val diff = va(m * sub + d) - cw(d)
          d2 += diff * diff
          d += 1
        }
        val r = math.floor(d2 * 1e9 + 0.5) / 1e9
        if (r < bestD || (r == bestD && cid < bestCode)) {
          bestD = r; bestCode = cid
        }
        ci += 1
      }
      out(m) = bestCode
      m += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def withNewChildInternal(c: Expression): PqEncode =
    copy(child = c)
}

/** [[graft.ml.Similarity]]'s integer-Lloyd assignment kernel: argmin of
  * exact integer squared L2 against the broadcast centroids, strict <
  * (ties keep the lower cluster id). Returns struct(_1 = cluster,
  * _2 = dist2) — the former udf's tuple shape, so `col("a._1")` callers
  * are unchanged.
  */
case class KmeansAssign(child: Expression, bc: Broadcast[Array[Array[Long]]])
    extends UnaryExpression with CodegenFallback {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftShim.checkInputTypes(children, Seq(ArrayType(LongType)))
  override def dataType: DataType = StructType(Seq(
    StructField("_1", LongType, nullable = false),
    StructField("_2", LongType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "kmeans_assign"

  protected override def nullSafeEval(v: Any): Any = {
    val va = v.asInstanceOf[ArrayData].toLongArray()
    val cents = bc.value
    var bestC = 0
    var bestD = Long.MaxValue
    var c = 0
    while (c < cents.length) {
      val cv = cents(c)
      var d2 = 0L
      var d = 0
      while (d < va.length) {
        val diff = va(d) - cv(d); d2 += diff * diff; d += 1
      }
      if (d2 < bestD) { bestD = d2; bestC = c } // strict <: tie keeps lower id
      c += 1
    }
    new GenericInternalRow(Array[Any](bestC.toLong, bestD))
  }

  override protected def withNewChildInternal(c: Expression): KmeansAssign =
    copy(child = c)
}

/** The per-subspace variant for PQ-Lloyd training: argmin of the `sub`
  * column's codebook, strict < (ties keep the lower code id). Returns
  * struct(_1 = code, _2 = d2).
  */
case class PqAssign(left: Expression, right: Expression,
    bc: Broadcast[Array[Array[Array[Long]]]])
    extends BinaryExpression with CodegenFallback {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftShim.checkInputTypes(children, Seq(LongType, ArrayType(LongType)))
  override def dataType: DataType = StructType(Seq(
    StructField("_1", LongType, nullable = false),
    StructField("_2", LongType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "pq_assign"

  protected override def nullSafeEval(sub: Any, qs: Any): Any = {
    val va = qs.asInstanceOf[ArrayData].toLongArray()
    val book = bc.value(sub.asInstanceOf[Long].toInt)
    var bestC = 0
    var bestD = Long.MaxValue
    var c = 0
    while (c < book.length) {
      val cv = book(c)
      var d2 = 0L
      var d = 0
      while (d < va.length) {
        val diff = va(d) - cv(d); d2 += diff * diff; d += 1
      }
      if (d2 < bestD) { bestD = d2; bestC = c } // strict <: tie → lower code
      c += 1
    }
    new GenericInternalRow(Array[Any](bestC.toLong, bestD))
  }

  override protected def withNewChildrenInternal(l: Expression,
                                                 r: Expression): PqAssign =
    copy(left = l, right = r)
}
