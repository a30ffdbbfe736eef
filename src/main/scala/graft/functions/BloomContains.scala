package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{BooleanType, DataType, LongType}
import org.apache.spark.util.sketch.BloomFilter

/** Bloom-membership probe against a BROADCAST filter — the
  * decontamination prefilter's per-shingle test, evaluated once per
  * corpus shingle ([[graft.ml.Curation.decontaminateBloom]]).
  *
  * Why an Expression and not the Scala `udf` it replaces: the UDF paid a
  * boxed `java.lang.Long` per corpus shingle at the input converter and
  * blocked the surrounding filter out of whole-stage codegen; the probe
  * itself (a handful of bit-array reads) is cheaper than the boxing.
  * Same `BloomFilter` object, same `mightContainLong` call — the
  * accepted set is bit-identical, and the exact verify join downstream
  * is unchanged either way. Null input yields null (the primitive-Long
  * udf's generated null guard did the same, so the filter drops the
  * row in both versions). CodegenFallback: the per-row work is the
  * probe; what mattered was removing the per-row boxing.
  */
case class BloomContains(child: Expression, bc: Broadcast[BloomFilter])
    extends UnaryExpression with CodegenFallback {
  override def checkInputDataTypes(): TypeCheckResult =
    org.apache.spark.sql.graft.GraftShim.checkInputTypes(children, Seq(LongType))
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "bloom_contains"

  protected override def nullSafeEval(sh: Any): Any =
    bc.value.mightContainLong(sh.asInstanceOf[Long])

  override protected def withNewChildInternal(c: Expression): BloomContains =
    copy(child = c)
}
