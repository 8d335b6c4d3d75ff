package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, If, IsNull, Literal, XxHash64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** Count-Min sketch (Cormode & Muthukrishnan 2005), a [[SketchAgg]]
  * family — point-frequency estimates over unbounded
  * key cardinality in `depth × width` longs, completing graft's sketch
  * family: Misra-Gries answers "which items are frequent" (top-k set),
  * CMS answers "how often does THIS item occur" for any queried item
  * after the fact, without having decided what to track up front.
  *
  * Guarantees: estimates NEVER undercount (each cell only ever adds);
  * overcount ≤ εN with probability 1-δ for width = ⌈e/ε⌉, depth =
  * ⌈ln 1/δ⌉. Merge is elementwise addition — associative, commutative,
  * and lossless, so partial sketches from any partitioning combine into
  * the exact same sketch bytes (PropertySpec-pinned).
  *
  * `cms_agg(col[, width[, depth]])` returns the serialized sketch;
  * `cms_estimate(sketch, value)` reads the min across rows straight off
  * the serialized bytes. Row hashes derive from one xxhash64 via
  * Kirsch–Mitzenmacher double hashing, same as [[BloomFilter]].
  */
object CountMin {

  final class Buffer(val width: Int, val depth: Int) {
    val counts = new Array[Long](width * depth)

    def add(h: Long): Unit = {
      val h1 = (h & 0xffffffffL).toInt
      val h2 = (h >>> 32).toInt
      var r = 0
      while (r < depth) {
        val c = (((h1 + r.toLong * h2) & Long.MaxValue) % width).toInt
        counts(r * width + c) += 1L
        r += 1
      }
    }

    def mergeIn(other: Buffer): Unit = {
      require(other.width == width && other.depth == depth,
        s"cms merge shape mismatch: ($width,$depth) vs (${other.width},${other.depth})")
      var i = 0
      while (i < counts.length) { counts(i) += other.counts(i); i += 1 }
    }
  }

  /** Layout: width(4) | depth(4) | counts(8 each, row-major). */
  def serialize(b: Buffer): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 + 8 * b.counts.length)
    bb.putInt(b.width).putInt(b.depth)
    b.counts.foreach(bb.putLong)
    bb.array()
  }

  def deserialize(bytes: Array[Byte]): Buffer = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val buf = new Buffer(bb.getInt, bb.getInt)
    var i = 0
    while (i < buf.counts.length) { buf.counts(i) = bb.getLong; i += 1 }
    buf
  }

  /** Min across rows, read in place from the serialized form. */
  def estimate(bytes: Array[Byte], h: Long): Long = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val width = bb.getInt
    val depth = bb.getInt
    val h1 = (h & 0xffffffffL).toInt
    val h2 = (h >>> 32).toInt
    var best = Long.MaxValue
    var r = 0
    while (r < depth) {
      val c = (((h1 + r.toLong * h2) & Long.MaxValue) % width).toInt
      val v = bb.getLong(8 + 8 * (r * width + c))
      if (v < best) best = v
      r += 1
    }
    best
  }

  // ------------------------------------------------------------ SQL glue

  private[graft] def buildAgg(exprs: Seq[Expression]): Expression = {
    DistinctSketch.arity(exprs, "cms_agg", 1, 3)
    SketchAgg(exprs.head, Cms(
      DistinctSketch.litIntArg(exprs, 1, 2048, "cms_agg"),
      DistinctSketch.litIntArg(exprs, 2, 4, "cms_agg"))).toAggregateExpression()
  }

  private[graft] def buildEstimate(exprs: Seq[Expression]): Expression = {
    DistinctSketch.arity(exprs, "cms_estimate", 2, 2)
    // codegen'd XxHash64 wrap, same pattern (and reasons — including the
    // explicit null short-circuit) as BloomFilter.buildContains: a NULL
    // key must estimate NULL, not the frequency of hash(seed)
    val v = exprs(1)
    CountMinEstimate(SketchFamily.storedArg(exprs, 0, "cms_estimate"),
      If(IsNull(v), Literal.create(null, LongType), XxHash64(Seq(v), 42L)))
  }

  def cms_agg(c: Column, width: Int = 2048, depth: Int = 4): Column =
    org.apache.spark.sql.functions.call_function(
      "cms_agg", c,
      org.apache.spark.sql.functions.lit(width),
      org.apache.spark.sql.functions.lit(depth))

  def cms_estimate(sketch: Column, value: Column): Column =
    org.apache.spark.sql.functions.call_function("cms_estimate", sketch, value)
}

/** The Count-Min family: `depth` rows of `width` counters per
  * xxhash64; merge is elementwise addition. */
case class Cms(width: Int = 2048, depth: Int = 4) extends SketchFamily[CountMin.Buffer] {
  require(width >= 16, "width must be >= 16")
  require(depth >= 1 && depth <= 16, "depth must be in [1,16]")
  // cap the buffer BEFORE Int arithmetic can wrap: width*depth longs;
  // 2^26 longs = 512 MB per buffer is already past any sane sizing
  require(width.toLong * depth <= (1L << 26),
    s"cms sketch too large: width*depth = ${width.toLong * depth} > 2^26")

  def kind: String = "cms"
  def name: String = "cms_agg"
  def empty: CountMin.Buffer = new CountMin.Buffer(width, depth)
  def add(buf: CountMin.Buffer, value: Any, dataType: DataType): Unit =
    buf.add(SketchFamily.hash(value, dataType))
  def mergeIn(buf: CountMin.Buffer, other: CountMin.Buffer): Unit = buf.mergeIn(other)
  def toBytes(buf: CountMin.Buffer): Array[Byte] = CountMin.serialize(buf)
  def fromBytes(bytes: Array[Byte]): CountMin.Buffer = CountMin.deserialize(bytes)
}

/** `cms_estimate(sketch, hash)` — min-across-rows point estimate; the
  * builder wraps the queried value in a codegen'd XxHash64 (seed 42,
  * matching the aggregate), so probes stay in whole-stage codegen. */
case class CountMinEstimate(left: Expression, right: Expression)
  extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "cms_estimate"
  override protected def nullSafeEval(sketch: Any, hash: Any): Any =
    CountMin.estimate(
      sketch.asInstanceOf[Array[Byte]], hash.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (sk, h) => s"graft.functions.CountMin.estimate($sk, $h)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CountMinEstimate =
    copy(left = newLeft, right = newRight)
}
