package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.GraftShim
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The portable 60-bit md5 hash as one native expression — the key-space
  * kernel of every dedup/BM25/bigram operator
  * ([[graft.ml.Portable.h64]]).
  *
  * Why an Expression and not the built-in chain
  * `conv(substring(md5(c), 1, 15), 16, 10).cast("long")`: per VALUE the
  * chain constructs a fresh MessageDigest (Spark's Md5 calls
  * commons-codec `DigestUtils.md5Hex`, which allocates one per call),
  * hex-encodes all 32 nibbles to a string, substrings it, has `conv`
  * parse 15 hex chars through its base-conversion machinery into a
  * DECIMAL string, and casts that back to long — five allocations and
  * two string parses around one 64-byte digest. This expression reuses a
  * thread-local MessageDigest and reads the value straight off the
  * digest bytes. It runs once per corpus BIGRAM in the lexical builds
  * and dedup passes, so the wrapper cost was a constant factor on the
  * dominant pass.
  *
  * BIT-IDENTICAL to the original (H64Spec pins it, every text oracle
  * hash depends on it): md5 over the string's UTF-8 bytes; the first 15
  * hex chars are the digest's first 7.5 bytes big-endian, i.e. the
  * first-8-bytes unsigned value >>> 4 — non-negative by construction
  * (< 2^60), exactly what `conv(..., 16, 10)::long` parsed. Null in,
  * null out.
  */
case class H64Expr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftShim.checkInputTypes(Seq(child), Seq(StringType))
  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "h64"

  protected override def nullSafeEval(s: Any): Any =
    H64.hash(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.functions.H64.hash($s)")

  override protected def withNewChildInternal(c: Expression): H64Expr =
    copy(child = c)
}

object H64 {
  def apply(c: Column): Column =
    GraftShim.column(H64Expr(GraftShim.expression(c)))

  private val mdTl = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 60 bits of md5(utf8 bytes) — `digest` leaves the instance
    * reset for reuse.
    */
  def hash(s: UTF8String): Long = {
    val d = mdTl.get().digest(s.getBytes)
    val hi =
      ((d(0) & 0xFFL) << 56) |
        ((d(1) & 0xFFL) << 48) |
        ((d(2) & 0xFFL) << 40) |
        ((d(3) & 0xFFL) << 32) |
        ((d(4) & 0xFFL) << 24) |
        ((d(5) & 0xFFL) << 16) |
        ((d(6) & 0xFFL) << 8) |
        (d(7) & 0xFFL)
    hi >>> 4
  }
}
