package graft.functions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Cast, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** KLL-style quantile sketch (Karnin, Lang & Liberty 2016), a
  * [[SketchAgg]] family — mergeable rank/quantile estimates in one
  * pass and bounded memory, completing graft's sketch family: percentiles
  * over a 100 TB column without the full sort that exact
  * `percentile`/window-rank forms pay, and — unlike the built-in
  * `percentile_approx` — with a serialized, OR-mergeable state that can be
  * stored per partition/day and re-aggregated later.
  *
  * Structure: a ladder of buffers; level `i` holds values of weight
  * `2^i`. Updates append to level 0; when a level overflows its capacity
  * `k`, the buffer is sorted and every other element is promoted with
  * doubled weight (one leftover stays behind when the size is odd, so
  * TOTAL WEIGHT IS PRESERVED EXACTLY — `kll_n(sketch)` is always the true
  * row count). Memory is `k·log2(n/k)` doubles per group.
  *
  * Determinism: the classic KLL compactor flips a random coin for the
  * promotion offset; this implementation alternates a per-level flip bit
  * instead, trading the randomized minimax constant for bit-identical
  * results on replay — the property every oracle check and incremental
  * re-run in this engine relies on. Rank error stays bounded: each
  * compaction at level `i` perturbs any rank by at most `2^i`, and a
  * level compacts only O(n/(k·2^i)) times, giving the usual O(n/k)-ish
  * worst-case rank error with far smaller observed error on
  * non-adversarial orders.
  *
  * EXACT regime: while a group's row count stays ≤ `k`, no compaction
  * ever fires and quantiles are exact order statistics — the same
  * capacity>cardinality trick q36/q41 use to put a sketch under the
  * DuckDB oracle (q65).
  *
  * `kll_agg(col[, k])` → serialized sketch (binary);
  * `kll_quantile(sketch, q)` → the smallest value whose cumulative weight
  * reaches `max(1, ceil(q·N))` — the lower (discrete) quantile, no
  * interpolation, so results are always actual data values;
  * `kll_n(sketch)` → total weight (exact row count).
  */
object QuantileSketch {

  /** Per-level capacity bounds: k below 8 has no useful guarantee; k is
    * also the exact-regime threshold so large values are legitimate, but
    * cap the buffer before it can silently eat an executor. */
  val MinK = 8
  val MaxK = 1 << 22

  final class Buffer(val k: Int) {
    var count: Long = 0L // exact total weight (compaction preserves it)
    var flips: Long = 0L // one alternating promotion-offset bit per level
    val levels = ArrayBuffer(new ArrayBuffer[Double]())

    def add(v: Double): Unit = {
      levels(0) += v
      count += 1L
      if (levels(0).length > k) compactCascade()
    }

    /** Sort an overflowing level and promote every other element with
      * doubled weight; odd sizes leave the max behind at this level so
      * weight is conserved. Cascades upward while any level overflows. */
    def compactCascade(): Unit = {
      var i = 0
      while (i < levels.length) {
        if (levels(i).length > k) {
          if (i + 1 >= levels.length) levels += new ArrayBuffer[Double]()
          val buf = levels(i)
          val sorted = buf.toArray
          java.util.Arrays.sort(sorted)
          val compactLen = sorted.length - (sorted.length % 2)
          val offset = ((flips >>> i) & 1L).toInt
          flips ^= (1L << i)
          val up = levels(i + 1)
          var j = offset
          while (j < compactLen) { up += sorted(j); j += 2 }
          buf.clear()
          if (compactLen < sorted.length) buf += sorted(compactLen)
        }
        i += 1
      }
    }

    def mergeIn(other: Buffer): Unit = {
      require(other.k == k, s"kll merge capacity mismatch: $k vs ${other.k}")
      while (levels.length < other.levels.length) levels += new ArrayBuffer[Double]()
      var i = 0
      while (i < other.levels.length) { levels(i) ++= other.levels(i); i += 1 }
      count += other.count
      compactCascade()
    }
  }

  /** Layout: k(4) | count(8) | flips(8) | nLevels(4) | per level:
    * size(4) + values(8 each). */
  def serialize(b: Buffer): Array[Byte] = {
    val bytes = 24 + b.levels.map(l => 4 + 8 * l.length).sum
    val bb = java.nio.ByteBuffer.allocate(bytes)
    bb.putInt(b.k).putLong(b.count).putLong(b.flips).putInt(b.levels.length)
    b.levels.foreach { l => bb.putInt(l.length); l.foreach(bb.putDouble) }
    bb.array()
  }

  def deserialize(bytes: Array[Byte]): Buffer = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val buf = new Buffer(bb.getInt)
    buf.count = bb.getLong
    buf.flips = bb.getLong
    val nLevels = bb.getInt
    var i = 0
    while (i < nLevels) {
      if (i >= buf.levels.length) buf.levels += new ArrayBuffer[Double]()
      val n = bb.getInt
      var j = 0
      while (j < n) { buf.levels(i) += bb.getDouble; j += 1 }
      i += 1
    }
    buf
  }

  /** Lower-quantile query: smallest value whose cumulative weight reaches
    * `max(1, ceil(q·N))`. Exact while the sketch never compacted. */
  def quantile(bytes: Array[Byte], q: Double): Double = {
    require(q >= 0.0 && q <= 1.0, s"kll_quantile: q must be in [0,1], got $q")
    val buf = deserialize(bytes)
    require(buf.count > 0L, "kll_quantile: empty sketch")
    val weighted = new ArrayBuffer[(Double, Long)]()
    var i = 0
    while (i < buf.levels.length) {
      val w = 1L << i
      buf.levels(i).foreach(v => weighted += ((v, w)))
      i += 1
    }
    val sorted = weighted.sortBy(_._1)
    val target = math.max(1L, math.ceil(q * buf.count).toLong)
    var cum = 0L
    var j = 0
    while (j < sorted.length) {
      cum += sorted(j)._2
      if (cum >= target) return sorted(j)._1
      j += 1
    }
    sorted.last._1
  }

  def n(bytes: Array[Byte]): Long = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    bb.getInt // skip k
    bb.getLong
  }

  // ------------------------------------------------------------ SQL glue

  private[graft] def buildAgg(exprs: Seq[Expression]): Expression = {
    DistinctSketch.arity(exprs, "kll_agg", 1, 2)
    SketchAgg(Cast(exprs.head, DoubleType),
      Kll(DistinctSketch.litIntArg(exprs, 1, 4096, "kll_agg"))).toAggregateExpression()
  }

  private[graft] def buildQuantile(exprs: Seq[Expression]): Expression = {
    DistinctSketch.arity(exprs, "kll_quantile", 2, 2)
    KllQuantile(SketchFamily.storedArg(exprs, 0, "kll_quantile"), Cast(exprs(1), DoubleType))
  }

  private[graft] def buildN(exprs: Seq[Expression]): Expression = {
    DistinctSketch.arity(exprs, "kll_n", 1, 1)
    KllN(SketchFamily.storedArg(exprs, 0, "kll_n"))
  }

  def kll_agg(c: Column, k: Int = 4096): Column =
    org.apache.spark.sql.functions.call_function(
      "kll_agg", c, org.apache.spark.sql.functions.lit(k))

  def kll_quantile(sketch: Column, q: Double): Column =
    org.apache.spark.sql.functions.call_function(
      "kll_quantile", sketch, org.apache.spark.sql.functions.lit(q))

  def kll_n(sketch: Column): Column =
    org.apache.spark.sql.functions.call_function("kll_n", sketch)
}

/** The KLL family: capacity `k` per level; a row enters as its double
  * value; merge concatenates levels and compacts. */
case class Kll(k: Int = 4096) extends SketchFamily[QuantileSketch.Buffer] {
  require(k >= QuantileSketch.MinK && k <= QuantileSketch.MaxK,
    s"kll_agg: k must be in [${QuantileSketch.MinK}, ${QuantileSketch.MaxK}], got $k")

  def kind: String = "kll"
  def name: String = "kll_agg"
  def empty: QuantileSketch.Buffer = new QuantileSketch.Buffer(k)
  def add(buf: QuantileSketch.Buffer, value: Any, dataType: DataType): Unit =
    buf.add(value.asInstanceOf[Double])
  def mergeIn(buf: QuantileSketch.Buffer, other: QuantileSketch.Buffer): Unit =
    buf.mergeIn(other)
  def toBytes(buf: QuantileSketch.Buffer): Array[Byte] = QuantileSketch.serialize(buf)
  def fromBytes(bytes: Array[Byte]): QuantileSketch.Buffer = QuantileSketch.deserialize(bytes)
}

/** `kll_quantile(sketch, q)` — lower-quantile read off the serialized
  * sketch; codegen'd static call so probes stay in whole-stage codegen. */
case class KllQuantile(left: Expression, right: Expression)
  extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "kll_quantile"
  override protected def nullSafeEval(sketch: Any, q: Any): Any =
    QuantileSketch.quantile(
      sketch.asInstanceOf[Array[Byte]], q.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (sk, q) => s"graft.functions.QuantileSketch.quantile($sk, $q)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): KllQuantile =
    copy(left = newLeft, right = newRight)
}

/** `kll_n(sketch)` — exact total weight (row count) of the sketch. */
case class KllN(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "kll_n"
  override protected def nullSafeEval(sketch: Any): Any =
    QuantileSketch.n(sketch.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, sk => s"graft.functions.QuantileSketch.n($sk)")
  override protected def withNewChildInternal(newChild: Expression): KllN =
    copy(child = newChild)
}
