package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, If, IsNull, Literal, XxHash64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** Mergeable Bloom filter, a [[SketchAgg]] family — the broadcast
  * membership primitive for 100 TB incremental dedup: build a compact
  * set-membership sketch over the PRIOR corpus's content fingerprints in
  * one distributed pass (partials OR-merge losslessly and
  * order-independently — the serialized sketch is byte-identical under any
  * partitioning), broadcast the few-MB binary, and filter the incoming
  * snapshot MAP-SIDE with `bloom_might_contain` — no prior-side shuffle,
  * no join. Contract (classic Bloom, 1970): NO false negatives ever — a
  * true duplicate is always caught; false positives drop some
  * genuinely-new docs at rate ~(1 - e^(-kn/m))^k, sized by `numBits`.
  * k indexes derive from one xxhash64 via the Kirsch–Mitzenmacher
  * double-hashing construction (h1 + i·h2 — two halves of the 64-bit
  * hash), so insert and probe cost one hash each.
  *
  * `bloom_agg(col[, numBits[, numHashes]])` returns the serialized filter
  * (binary, storable/re-mergeable); `bloom_might_contain(sketch, value)`
  * probes it — reading bits straight off the serialized bytes, no
  * deserialization copy per row.
  */
object BloomFilter {

  final class Buffer(val numBits: Int, val numHashes: Int) {
    val words = new Array[Long]((numBits + 63) / 64)

    def add(h: Long): Unit = {
      val h1 = (h & 0xffffffffL).toInt
      val h2 = (h >>> 32).toInt
      var i = 0
      while (i < numHashes) {
        val bit = ((h1 + i.toLong * h2) & Long.MaxValue) % numBits
        words((bit >>> 6).toInt) |= 1L << (bit & 63)
        i += 1
      }
    }

    def mergeIn(other: Buffer): Unit = {
      require(other.numBits == numBits && other.numHashes == numHashes,
        s"bloom merge shape mismatch: ($numBits,$numHashes) vs (${other.numBits},${other.numHashes})")
      var i = 0
      while (i < words.length) { words(i) |= other.words(i); i += 1 }
    }
  }

  /** Layout: numBits(4) | numHashes(4) | words(8 each). */
  def serialize(b: Buffer): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 + 8 * b.words.length)
    bb.putInt(b.numBits).putInt(b.numHashes)
    b.words.foreach(bb.putLong)
    bb.array()
  }

  def deserialize(bytes: Array[Byte]): Buffer = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val buf = new Buffer(bb.getInt, bb.getInt)
    var i = 0
    while (i < buf.words.length) { buf.words(i) = bb.getLong; i += 1 }
    buf
  }

  /** Probe the serialized form in place (byte indexing, no word-array
    * materialization — this runs once per probed row). */
  def mightContain(bytes: Array[Byte], h: Long): Boolean = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val numBits = bb.getInt
    val numHashes = bb.getInt
    val h1 = (h & 0xffffffffL).toInt
    val h2 = (h >>> 32).toInt
    var i = 0
    while (i < numHashes) {
      val bit = ((h1 + i.toLong * h2) & Long.MaxValue) % numBits
      // getLong mirrors putLong's byte order, so this IS the stored word
      val word = bb.getLong(8 + 8 * (bit >>> 6).toInt)
      if ((word & (1L << (bit & 63))) == 0L) return false
      i += 1
    }
    true
  }

  // ------------------------------------------------------------ SQL glue

  private[graft] def buildAgg(exprs: Seq[Expression]): Expression = {
    DistinctSketch.arity(exprs, "bloom_agg", 1, 3)
    SketchAgg(exprs.head, Bloom(
      DistinctSketch.litIntArg(exprs, 1, 1 << 20, "bloom_agg"),
      DistinctSketch.litIntArg(exprs, 2, 5, "bloom_agg"))).toAggregateExpression()
  }

  private[graft] def buildContains(exprs: Seq[Expression]): Expression = {
    DistinctSketch.arity(exprs, "bloom_might_contain", 2, 2)
    // hash via the codegen'd catalyst XxHash64 (same seed-42 single-value
    // semantics as the aggregate's XxHash64Function.hash), so the whole
    // probe stays inside whole-stage codegen — an eval-only value hash
    // here costs ~3x on a scan-wide filter (observed on q61). XxHash64
    // itself is non-nullable (a NULL child hashes to the bare seed, which
    // would probe a REAL bit), so null is short-circuited explicitly:
    // probing NULL yields NULL, matching the aggregate's null-skip.
    val v = exprs(1)
    BloomMightContain(SketchFamily.storedArg(exprs, 0, "bloom_might_contain"),
      If(IsNull(v), Literal.create(null, LongType), XxHash64(Seq(v), 42L)))
  }

  def bloom_agg(c: Column, numBits: Int = 1 << 20, numHashes: Int = 5): Column =
    org.apache.spark.sql.functions.call_function(
      "bloom_agg", c,
      org.apache.spark.sql.functions.lit(numBits),
      org.apache.spark.sql.functions.lit(numHashes))

  def bloom_might_contain(sketch: Column, value: Column): Column =
    org.apache.spark.sql.functions.call_function("bloom_might_contain", sketch, value)
}

/** The Bloom family: `numBits` bits probed by `numHashes` indexes per
  * xxhash64; merge is bitwise OR. */
case class Bloom(numBits: Int = 1 << 20, numHashes: Int = 5)
  extends SketchFamily[BloomFilter.Buffer] {
  require(numBits >= 64, "numBits must be >= 64")
  require(numBits <= (1 << 30),
    s"numBits $numBits > 2^30 (128 MB) — (numBits + 63) would overflow Int past that")
  require(numHashes >= 1 && numHashes <= 16, "numHashes must be in [1,16]")

  def kind: String = "bloom"
  def name: String = "bloom_agg"
  def empty: BloomFilter.Buffer = new BloomFilter.Buffer(numBits, numHashes)
  def add(buf: BloomFilter.Buffer, value: Any, dataType: DataType): Unit =
    buf.add(SketchFamily.hash(value, dataType))
  def mergeIn(buf: BloomFilter.Buffer, other: BloomFilter.Buffer): Unit = buf.mergeIn(other)
  def toBytes(buf: BloomFilter.Buffer): Array[Byte] = BloomFilter.serialize(buf)
  def fromBytes(bytes: Array[Byte]): BloomFilter.Buffer = BloomFilter.deserialize(bytes)
}

/** `bloom_might_contain(sketch, hash)` — probes the serialized filter
  * with an already-hashed value (the builder wraps the user's value in a
  * codegen'd XxHash64, seed 42, matching the aggregate). Fully codegen'd:
  * the generated stage calls the static probe directly, keeping a
  * scan-wide bloom filter inside whole-stage codegen. */
case class BloomMightContain(left: Expression, right: Expression)
  extends BinaryExpression {
  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_might_contain"
  override protected def nullSafeEval(sketch: Any, hash: Any): Any =
    BloomFilter.mightContain(
      sketch.asInstanceOf[Array[Byte]], hash.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (sk, h) => s"graft.functions.BloomFilter.mightContain($sk, $h)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BloomMightContain =
    copy(left = newLeft, right = newRight)
}
