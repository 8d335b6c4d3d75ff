package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass character n-gram extraction — the feature primitive under the
  * trigram language-ID profile (SURVEY.md §2.11; reference heuristic in
  * `functions/config.py`-style keyword scoring, re-derived).
  *
  * The HOF spelling `transform(sequence(1, length(s)-2), i -> substr(s, i, 3))`
  * is O(L²) per row: CollapseProject inlines the outer column into the
  * lambda, so any wrapped computation (e.g. `lower`) re-runs per index, and
  * `substr` itself must re-scan from byte 0 per call to find the i-th code
  * point (UTF-8 is variable-width). This expression walks the UTF-8 bytes
  * ONCE, records code-point starts, and slices windows by byte offset —
  * O(L) per row, allocation-bounded by the output array.
  *
  * Character semantics are CODE POINTS (UTF-8 sequence boundaries), exactly
  * matching Spark's `substr` and DuckDB's `substr`, so oracle twins written
  * with either spelling stay hash-identical. Native `doGenCode` (not
  * CodegenFallback) keeps it inside whole-stage codegen per §2.10.
  */
case class CharNgrams(child: Expression, n: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "char_ngrams"

  override def nullSafeEval(input: Any): Any =
    CharNgrams.ngrams(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CharNgrams.ngrams($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): CharNgrams =
    copy(child = newChild)
}

object CharNgrams {

  /** Shared by interpreted eval and generated code. Empty array when the
    * string has fewer than n code points (explode then yields zero rows —
    * the same outcome as a length(s) >= n pre-filter). */
  def ngrams(s: UTF8String, n: Int): GenericArrayData = {
    val bytes = s.getBytes
    val total = bytes.length
    // Pass 1: code-point start offsets (a byte starts a code point unless
    // it is a 10xxxxxx continuation byte).
    var numChars = 0
    var i = 0
    while (i < total) {
      if ((bytes(i) & 0xc0) != 0x80) numChars += 1
      i += 1
    }
    if (numChars < n) return new GenericArrayData(new Array[Any](0))
    val starts = new Array[Int](numChars + 1)
    var c = 0
    i = 0
    while (i < total) {
      if ((bytes(i) & 0xc0) != 0x80) { starts(c) = i; c += 1 }
      i += 1
    }
    starts(numChars) = total
    // Pass 2: one UTF8String per window, sliced by byte offset.
    val out = new Array[Any](numChars - n + 1)
    var w = 0
    while (w <= numChars - n) {
      out(w) = UTF8String.fromBytes(bytes, starts(w), starts(w + n) - starts(w))
      w += 1
    }
    new GenericArrayData(out)
  }

  private def toStringExpr(e: Expression): Expression =
    if (e.dataType == StringType) e else Cast(e, StringType)

  private[graft] def build(exprs: Seq[Expression]): Expression =
    CharNgrams(toStringExpr(exprs.head), DistinctSketch.litIntArg(exprs, 1, 3, "char_ngrams"))

  /** Column API — requires `GraftExtensions.install(spark)` first. */
  def char_ngrams(c: Column, n: Int): Column =
    org.apache.spark.sql.functions.call_function(
      "char_ngrams", c, org.apache.spark.sql.functions.lit(n))
}
