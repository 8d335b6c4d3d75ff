package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._

/** Theta (KMV) distinct sketch — the mergeable sketch that, unlike HLL
  * ([[DistinctSketch]]), supports SET OPERATIONS: two sketches built in
  * independent passes can answer "how many distinct users did BOTH X and
  * Y" (intersection) or "either" (union) without re-reading the data —
  * the cross-cohort question a 100 TB pipeline asks constantly.
  *
  * Classic k-minimum-values construction (Beyer et al., SIGMOD 2007;
  * theta-union/intersection per Dasgupta et al., the DataSketches theta
  * family): keep the `k` smallest distinct 64-bit hashes below a
  * threshold θ (unsigned order). While fewer than `k` values have been
  * seen, θ = 1 and the sketch is EXACT — estimate, intersection, and
  * union all equal their true distinct counts (the oracle regime q44
  * uses, same capacity>cardinality trick as q36/q41). Past `k`, θ
  * shrinks to the (k+1)-th smallest hash and `estimate = |values|/θ`
  * with RSE ≈ 1/√(k−1).
  *
  * The aggregate (`theta_sketch(col[, k])`) RETURNS THE SERIALIZED
  * SKETCH (binary), so sketches are storable/re-aggregatable; the scalar
  * functions `theta_estimate(sk)`, `theta_intersect_estimate(a, b)`,
  * `theta_union_estimate(a, b)` post-process them (tiny inputs — one row
  * per group — so an eval-only expression is the right cost point).
  */
object ThetaSketch {

  /** Unsigned-order less-than for 64-bit hashes. */
  @inline private def ult(a: Long, b: Long): Boolean =
    java.lang.Long.compareUnsigned(a, b) < 0

  /** hash (unsigned) → fraction of the 2^64 space in (0, 1]. */
  @inline private def frac(theta: Long): Double =
    if (theta == -1L) 1.0
    else (theta >>> 11).toDouble / (1L << 53).toDouble // 53-bit mantissa-safe

  final class Buffer(val k: Int) {
    /** θ boundary, unsigned; -1 (all ones) = 1.0 = exact mode. */
    var theta: Long = -1L
    val values: mutable.TreeSet[Long] =
      mutable.TreeSet.empty(Ordering.fromLessThan[Long](ult))

    def add(h: Long): Unit =
      if (ult(h, theta) && values.add(h) && values.size > k) {
        val largest = values.last
        values.remove(largest)
        theta = largest
      }

    def mergeIn(other: Buffer): Unit = {
      if (ult(other.theta, theta)) theta = other.theta
      // purge own values stranded at/above the shrunken θ BEFORE adding:
      // a stray above θ would otherwise be evicted by an overflow during
      // the adds, and the eviction would RAISE θ to the stray — silently
      // inflating the survivors' estimate weight
      values.filterInPlace(v => ult(v, theta))
      other.values.foreach(add)
    }

    def estimate: Double =
      if (theta == -1L) values.size.toDouble else values.size / frac(theta)
  }

  def serialize(b: Buffer): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + 8 + 4 + 8 * b.values.size)
    bb.putInt(b.k).putLong(b.theta).putInt(b.values.size)
    b.values.foreach(bb.putLong)
    bb.array()
  }

  def deserialize(bytes: Array[Byte]): Buffer = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val buf = new Buffer(bb.getInt)
    buf.theta = bb.getLong
    val n = bb.getInt
    (0 until n).foreach(_ => buf.values.add(bb.getLong))
    buf
  }

  /** |A ∩ B| estimate: count the survivors below the smaller θ that sit
    * in both sketches; exact when both sketches are exact. */
  def intersectionEstimate(a: Buffer, b: Buffer): Double = {
    val theta = if (ult(a.theta, b.theta)) a.theta else b.theta
    val common = a.values.iterator.count(v => ult(v, theta) && b.values.contains(v))
    if (theta == -1L) common.toDouble else common / frac(theta)
  }

  def unionEstimate(a: Buffer, b: Buffer): Double = {
    val m = deserialize(serialize(a)) // don't mutate the operand
    m.mergeIn(b)
    m.estimate
  }

  // ------------------------------------------------------------ SQL glue

  private[graft] def buildAgg(exprs: Seq[Expression]): Expression = {
    DistinctSketch.arity(exprs, "theta_sketch", 1, 2)
    SketchAgg(exprs.head,
      Theta(DistinctSketch.litIntArg(exprs, 1, 4096, "theta_sketch"))).toAggregateExpression()
  }

  private[graft] def buildEstimate(exprs: Seq[Expression]): Expression = {
    DistinctSketch.arity(exprs, "theta_estimate", 1, 1)
    ThetaEstimate(SketchFamily.storedArg(exprs, 0, "theta_estimate"))
  }

  private[graft] def buildSetEstimate(
      exprs: Seq[Expression], intersect: Boolean): Expression = {
    val fn = if (intersect) "theta_intersect_estimate" else "theta_union_estimate"
    DistinctSketch.arity(exprs, fn, 2, 2)
    ThetaSetEstimate(SketchFamily.storedArg(exprs, 0, fn), SketchFamily.storedArg(exprs, 1, fn),
      intersect)
  }

  def theta_sketch(c: Column, k: Int = 4096): Column =
    org.apache.spark.sql.functions.call_function(
      "theta_sketch", c, org.apache.spark.sql.functions.lit(k))
  def theta_estimate(sk: Column): Column =
    org.apache.spark.sql.functions.call_function("theta_estimate", sk)
  def theta_intersect_estimate(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("theta_intersect_estimate", a, b)
  def theta_union_estimate(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("theta_union_estimate", a, b)
}

/** The Theta family: the `k` smallest xxhash64 values below θ; merge
  * takes the smaller θ and re-inserts. */
case class Theta(k: Int = 4096) extends SketchFamily[ThetaSketch.Buffer] {
  require(k >= 16, "k must be >= 16")

  def kind: String = "theta"
  def name: String = "theta_sketch"
  def empty: ThetaSketch.Buffer = new ThetaSketch.Buffer(k)
  def add(buf: ThetaSketch.Buffer, value: Any, dataType: DataType): Unit =
    buf.add(SketchFamily.hash(value, dataType))
  def mergeIn(buf: ThetaSketch.Buffer, other: ThetaSketch.Buffer): Unit = buf.mergeIn(other)
  def toBytes(buf: ThetaSketch.Buffer): Array[Byte] = ThetaSketch.serialize(buf)
  def fromBytes(bytes: Array[Byte]): ThetaSketch.Buffer = ThetaSketch.deserialize(bytes)
}

/** `theta_estimate(sketch)` — distinct-count estimate from a serialized
  * sketch. Eval-only (CodegenFallback): runs on one row per group. */
case class ThetaEstimate(child: Expression)
  extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "theta_estimate"
  override protected def nullSafeEval(input: Any): Any =
    ThetaSketch.deserialize(input.asInstanceOf[Array[Byte]]).estimate
  override protected def withNewChildInternal(newChild: Expression): ThetaEstimate =
    copy(child = newChild)
}

/** `theta_intersect_estimate(a, b)` / `theta_union_estimate(a, b)`. */
case class ThetaSetEstimate(left: Expression, right: Expression, intersect: Boolean)
  extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def prettyName: String =
    if (intersect) "theta_intersect_estimate" else "theta_union_estimate"
  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val sa = ThetaSketch.deserialize(a.asInstanceOf[Array[Byte]])
    val sb = ThetaSketch.deserialize(b.asInstanceOf[Array[Byte]])
    if (intersect) ThetaSketch.intersectionEstimate(sa, sb)
    else ThetaSketch.unionEstimate(sa, sb)
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ThetaSetEstimate =
    copy(left = newLeft, right = newRight)
}
