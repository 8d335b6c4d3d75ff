package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Rabin-Karp rolling hash of a string's UTF-8 bytes — the document
  * fingerprint primitive for SURVEY.md §2.11 (content-defined chunking /
  * shift-resistant fingerprints at 100 TB: the polynomial form lets a
  * sliding window be updated in O(1), unlike a digest).
  *
  * h = Σ byte_i · B^(n-1-i)  mod M, with B=131, M=1_000_000_007 (both fit
  * 64-bit intermediate products: h < 2^30, h·B + 255 < 2^38).
  *
  * Implemented as a native Catalyst `Expression` WITH `doGenCode` (not
  * CodegenFallback), so it participates in whole-stage codegen like a
  * built-in — the preference order of SURVEY.md §2.10: composition >
  * native Expression > UDF.
  */
case class RollingHash(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "rolling_hash"

  override def nullSafeEval(input: Any): Any =
    RollingHash.hash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.RollingHash.hash($c)")

  override protected def withNewChildInternal(newChild: Expression): RollingHash =
    copy(child = newChild)
}

object RollingHash {
  final val Base = 131L
  final val Mod = 1000000007L

  /** Shared by interpreted eval and generated code. */
  def hash(s: UTF8String): Long = {
    val n = s.numBytes()
    var h = 0L
    var i = 0
    while (i < n) {
      h = (h * Base + (s.getByte(i) & 0xff)) % Mod
      i += 1
    }
    h
  }

  /** Reference implementation over a JVM string (spec twin). */
  def hashString(s: String): Long = {
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    bytes.foldLeft(0L)((h, b) => (h * Base + (b & 0xff)) % Mod)
  }

  private def toStringExpr(e: Expression): Expression =
    if (e.dataType == StringType) e else Cast(e, StringType)

  private[graft] def build(exprs: Seq[Expression]): Expression =
    RollingHash(toStringExpr(exprs.head))
}
