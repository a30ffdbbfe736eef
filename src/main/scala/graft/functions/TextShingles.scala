package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.GraftShim
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Word k-grams ("shingles") of a words array as one native expression —
  * the per-row kernel of every bigram-stream operator (BM25 postings,
  * minhash/ngram dedup, the bigram LM / DSIR / perplexity families).
  *
  * Why an Expression and not the HOF original
  * (`when(size(w) >= k, transform(sequence(0, size(w)-k),
  *   i => concat_ws(" ", element_at(w, i+1), ..., element_at(w, i+k))))`):
  * `transform` evaluates its lambda through the interpreted
  * `HigherOrderFunction` path — per SHINGLE it binds a boxed lambda
  * variable, materializes a `sequence` index array, and evaluates k
  * interpreted `element_at` calls — and blocks the projection out of
  * whole-stage codegen. Here the loop runs over the array data once per
  * row with zero per-element expression overhead. (CodegenFallback: the
  * per-row work is the string building itself, which generated code
  * would not change; what mattered was removing the per-element
  * interpreter trips.)
  *
  * Output is BIT-IDENTICAL to the HOF original (the DuckDB oracles hash
  * these strings): a null or shorter-than-k array yields the EMPTY array
  * (size(null) is null, so the `when` fell through to `otherwise`); null
  * ELEMENTS are skipped by the separator join exactly as `concat_ws`
  * skips them; elements are never null.
  */
case class ShingleArray(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {
  require(k >= 1, "shingle width must be positive")
  override def checkInputDataTypes(): TypeCheckResult =
    GraftShim.checkInputTypes(Seq(child), Seq(ArrayType(StringType)))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "shingle_array"

  private val sep = UTF8String.fromString(" ")
  private val empty = new GenericArrayData(Array.empty[Any])

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) return empty
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n < k) return empty
    // one UTF8String per word, fetched once (the HOF original re-ran
    // element_at per lambda binding)
    val wordsArr = new Array[UTF8String](n)
    var i = 0
    while (i < n) {
      wordsArr(i) = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      i += 1
    }
    val out = new Array[Any](n - k + 1)
    i = 0
    while (i <= n - k) {
      if (k == 1) {
        // concat_ws of a single element: null joins to the empty string.
        // clone() because the fetched UTF8String may point into a reused
        // row buffer (k >= 2 copies via concatWs anyway)
        val w = wordsArr(i)
        out(i) = if (w == null) UTF8String.EMPTY_UTF8 else w.clone()
      } else {
        val parts = new Array[UTF8String](k)
        var j = 0
        while (j < k) { parts(j) = wordsArr(i + j); j += 1 }
        // UTF8String.concatWs = concat_ws semantics: nulls skipped
        out(i) = UTF8String.concatWs(sep, parts: _*)
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): ShingleArray =
    copy(child = c)
}

object ShingleArray {
  def apply(w: Column, k: Int): Column =
    GraftShim.column(ShingleArray(GraftShim.expression(w), k))
}

/** Σ length(wᵢ) over a string array — exactly
  * `aggregate(w, lit(0L), (acc, x) => acc + length(x))`: null if the
  * array is null; a null ELEMENT nulls the running sum permanently
  * (null + length = null), so the result is null if any element is;
  * length counts CHARACTERS (codepoints), as `length()` does.
  * Replaces the interpreted HOF fold in [[graft.ml.TextStats.tokenStats]].
  */
case class SumStrLen(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftShim.checkInputTypes(Seq(child), Seq(ArrayType(StringType)))
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullable: Boolean = true
  override def prettyName: String = "sum_str_len"

  protected override def nullSafeEval(a: Any): Any = {
    val av = a.asInstanceOf[ArrayData]
    val n = av.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      if (av.isNullAt(i)) return null
      acc += av.getUTF8String(i).numChars()
      i += 1
    }
    acc
  }

  override protected def withNewChildInternal(c: Expression): SumStrLen =
    copy(child = c)

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  $acc += $a.getUTF8String($i).numChars();
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
}

object SumStrLen {
  def apply(w: Column): Column =
    GraftShim.column(SumStrLen(GraftShim.expression(w)))
}

/** |{ i : wᵢ ∈ values }| — exactly
  * `size(filter(w, x => x.isin(values: _*)))`: null if the array is
  * null (size(null) is null); null elements fail the membership test
  * and are not counted; result is INT like `size`.
  * Replaces the interpreted filter-lambda in the stopword counters
  * ([[graft.ml.TextStats.quality]], the curation quality features).
  */
case class CountInSet(child: Expression, values: Seq[String])
    extends UnaryExpression with CodegenFallback {
  override def checkInputDataTypes(): TypeCheckResult =
    GraftShim.checkInputTypes(Seq(child), Seq(ArrayType(StringType)))
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "count_in_set"

  @transient private lazy val set: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](values.length * 2)
    values.foreach(v => s.add(UTF8String.fromString(v)))
    s
  }

  protected override def nullSafeEval(a: Any): Any = {
    val av = a.asInstanceOf[ArrayData]
    val n = av.numElements()
    var cnt = 0
    var i = 0
    while (i < n) {
      if (!av.isNullAt(i) && set.contains(av.getUTF8String(i))) cnt += 1
      i += 1
    }
    cnt
  }

  override protected def withNewChildInternal(c: Expression): CountInSet =
    copy(child = c)
}

object CountInSet {
  def apply(w: Column, values: Seq[String]): Column =
    GraftShim.column(CountInSet(GraftShim.expression(w), values))
}
