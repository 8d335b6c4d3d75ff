package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass per-document token statistics — the kernel under the
  * Gopher-style repetition and concentration filters (q53, q68, q141).
  * `token_stats(text, n)` returns a non-null
  * `struct<n_tokens, top_count, n_grams, n_distinct: bigint>`:
  *
  *  - tokens are the maximal runs of non-0x20 bytes, exactly the array
  *    `array_remove(split(text, ' '), '')` (byte 0x20 never occurs inside a
  *    multi-byte UTF-8 sequence); a NULL text has zero tokens;
  *  - `top_count` is the count of the most frequent token;
  *  - `n_grams` is `n_tokens − n + 1`, or 0 under `n` tokens;
  *  - `n_distinct` counts the distinct token windows of length `n`.
  *
  * The HOF spelling builds one string per n-gram (`concat_ws(' ', …)`) and
  * de-duplicates the array only to size it, in interpreted lambdas; the
  * token counts need an explode, two aggregates and a join. Here each
  * token is interned to an int id in an open-addressing table keyed by
  * its byte slice, and windows are compared as id sequences. Both tables
  * confirm a hash hit by comparing the bytes (ids), so the counts are
  * exact: tokens are non-empty and hold no space, so `concat_ws(' ', …)`
  * is injective on them and `n_distinct` equals
  * `size(array_distinct(grams))`. Native `doGenCode` (not
  * CodegenFallback) keeps it inside whole-stage codegen, with one
  * [[TokenScratch]] per generated instance.
  */
case class TokenStats(child: Expression, n: Int) extends UnaryExpression {

  override def dataType: DataType = TokenStats.ResultType
  override def nullable: Boolean = false
  override def prettyName: String = "token_stats"
  override def sql: String = s"$prettyName(${child.sql}, $n)"

  @transient private lazy val scratch = new TokenScratch

  override def eval(input: InternalRow): Any =
    TokenStats.stats(child.eval(input).asInstanceOf[UTF8String], n, scratch)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[TokenScratch].getName
    val sc = ctx.addMutableState(cls, "tokenScratch", v => s"$v = new $cls();")
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} = graft.functions.TokenStats.stats(
        ${c.isNull} ? null : ${c.value}, $n, $sc);""", isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): TokenStats =
    copy(child = newChild)
}

/** Per-instance working arrays of [[TokenStats]], grown on demand and
  * reused across rows: per token its byte range, hash, id (the index of
  * the token's first occurrence) and, at that index, the id's count; and
  * the open-addressing slots (token or window index + 1, 0 empty) shared
  * by the token and the window pass. */
final class TokenScratch {
  var start = new Array[Int](64)
  var end = new Array[Int](64)
  var hash = new Array[Int](64)
  var id = new Array[Int](64)
  var count = new Array[Int](64)
  var slots = new Array[Int](128)

  def grow(): Unit = {
    val cap = start.length * 2
    start = java.util.Arrays.copyOf(start, cap)
    end = java.util.Arrays.copyOf(end, cap)
    hash = java.util.Arrays.copyOf(hash, cap)
    id = new Array[Int](cap)
    count = new Array[Int](cap)
  }

  /** Empty slots for `entries` keys at load ≤ 1/2; returns the mask. */
  def clearSlots(entries: Int): Int = {
    var cap = 128
    while (cap < 2 * entries) cap <<= 1
    if (slots.length < cap) slots = new Array[Int](cap)
    else java.util.Arrays.fill(slots, 0, cap, 0)
    cap - 1
  }
}

object TokenStats {
  private val ResultType = StructType(
    Seq("n_tokens", "top_count", "n_grams", "n_distinct")
      .map(StructField(_, LongType, nullable = false)))

  /** murmur3's 32-bit finalizer: spreads FNV / polynomial hashes over the
    * low bits the slot mask keeps. */
  private def mix(x: Int): Int = {
    var h = x
    h ^= h >>> 16; h *= 0x85ebca6b
    h ^= h >>> 13; h *= 0xc2b2ae35
    h ^ (h >>> 16)
  }

  /** Shared by interpreted eval and generated code. */
  def stats(s: UTF8String, n: Int, sc: TokenScratch): InternalRow = {
    val bytes = if (s == null) Array.emptyByteArray else s.getBytes
    val total = bytes.length
    // Pass 1: token byte ranges and FNV-1a hashes.
    var nt = 0
    var i = 0
    while (i < total) {
      if (bytes(i) == ' ') i += 1
      else {
        if (nt == sc.start.length) sc.grow()
        sc.start(nt) = i
        var h = 0x811c9dc5
        while (i < total && bytes(i) != ' ') {
          h = (h ^ (bytes(i) & 0xff)) * 0x01000193
          i += 1
        }
        sc.end(nt) = i
        sc.hash(nt) = mix(h)
        nt += 1
      }
    }
    // Pass 2: intern each token to the index of its first occurrence; a
    // hash match is confirmed on the bytes.
    var mask = sc.clearSlots(nt)
    var top = 0
    var t = 0
    while (t < nt) {
      var p = sc.hash(t) & mask
      var id = -1
      while (id < 0) {
        val f = sc.slots(p) - 1
        if (f < 0) {
          sc.slots(p) = t + 1
          sc.count(t) = 0
          id = t
        } else if (sc.hash(f) == sc.hash(t) &&
            sameBytes(bytes, sc.start(f), sc.end(f), sc.start(t), sc.end(t))) id = f
        else p = (p + 1) & mask
      }
      sc.id(t) = id
      sc.count(id) += 1
      if (sc.count(id) > top) top = sc.count(id)
      t += 1
    }
    // Pass 3: distinct id windows of length n, confirmed id by id.
    val grams = if (nt >= n) nt - n + 1 else 0
    var distinct = 0
    if (grams > 0) {
      mask = sc.clearSlots(grams)
      var w = 0
      while (w < grams) {
        var h = 0
        var k = 0
        while (k < n) { h = h * 0x9e3779b1 + sc.id(w + k); k += 1 }
        var p = mix(h) & mask
        var done = false
        while (!done) {
          val slot = sc.slots(p)
          if (slot == 0) {
            sc.slots(p) = w + 1
            distinct += 1
            done = true
          } else if (sameIds(sc.id, slot - 1, w, n)) done = true
          else p = (p + 1) & mask
        }
        w += 1
      }
    }
    new GenericInternalRow(Array[Any](nt.toLong, top.toLong, grams.toLong, distinct.toLong))
  }

  private def sameBytes(b: Array[Byte], s1: Int, e1: Int, s2: Int, e2: Int): Boolean =
    e1 - s1 == e2 - s2 && java.util.Arrays.equals(b, s1, e1, b, s2, e2)

  private def sameIds(id: Array[Int], a: Int, b: Int, n: Int): Boolean = {
    var k = 0
    while (k < n && id(a + k) == id(b + k)) k += 1
    k == n
  }

  private def toStringExpr(e: Expression): Expression =
    if (e.dataType == StringType) e else Cast(e, StringType)

  private[graft] def build(exprs: Seq[Expression]): Expression = {
    DistinctSketch.arity(exprs, "token_stats", 2, 2)
    TokenStats(toStringExpr(exprs.head), DistinctSketch.litIntArg(exprs, 1, 0, "token_stats"))
  }

  /** Column API — requires `GraftExtensions.install(spark)` first. */
  def token_stats(text: Column, n: Int): Column =
    org.apache.spark.sql.functions.call_function(
      "token_stats", text, org.apache.spark.sql.functions.lit(n))
}
