package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.GraftShim
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `split(text, " ")` as a byte-level kernel — the tokenizer under every
  * text operator (documents.text is single-space separated by contract).
  *
  * Why an Expression and not the built-in: `StringSplit` decodes the
  * UTF8String to a java.lang.String, runs the regex machinery, and
  * re-encodes every token back to UTF8String — three full copies of the
  * text bytes per row, on the pass that feeds every shingle/hash
  * pipeline. A single space (0x20) can never occur inside a multi-byte
  * UTF-8 sequence, so the split is a plain byte scan: ONE copy of the
  * bytes, token slices SHARING it.
  *
  * BIT-IDENTICAL to `split(c, " ")` with its default limit -1
  * (SpaceSplitSpec pins it): leading/trailing/consecutive separators
  * yield empty tokens, the empty string yields [""], null in → null out,
  * elements never null.
  */
case class SpaceSplit(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftShim.checkInputTypes(Seq(child), Seq(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "space_split"

  protected override def nullSafeEval(s: Any): Any =
    SpaceSplit.split(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.functions.SpaceSplit.split($s)")

  override protected def withNewChildInternal(c: Expression): SpaceSplit =
    copy(child = c)
}

object SpaceSplit {
  def apply(c: Column): Column =
    GraftShim.column(SpaceSplit(GraftShim.expression(c)))

  def split(s: UTF8String): ArrayData = {
    // getBytes copies unless the string exactly spans its backing array,
    // in which case the producer owns that array outright and never
    // mutates it (Spark-wide UTF8String immutability contract) — the
    // slices below may safely share either way
    val bytes = s.getBytes
    val n = bytes.length
    var parts = 1
    var i = 0
    while (i < n) { if (bytes(i) == ' ') parts += 1; i += 1 }
    val out = new Array[Any](parts)
    var start = 0
    var p = 0
    i = 0
    while (i < n) {
      if (bytes(i) == ' ') {
        out(p) = UTF8String.fromBytes(bytes, start, i - start)
        p += 1
        start = i + 1
      }
      i += 1
    }
    out(p) = UTF8String.fromBytes(bytes, start, n - start)
    new GenericArrayData(out)
  }
}
