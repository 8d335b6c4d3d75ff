package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._

/** Mergeable distinct-count sketch (HLL with an exact sparse phase), a
  * [[SketchAgg]] family — the 100 TB path for distinct counting:
  * one pass, bounded memory (`2^precision` byte registers per group),
  * mergeable partial states, and — unlike `countDistinct` — NO Expand
  * multiplication when several distinct aggregates share a query (q31's
  * two exact distincts triple the scanned rows; two sketches don't).
  *
  * Two-phase state, after HyperLogLog++ (Heule et al., EDB 2013; the
  * algorithm itself is Flajolet et al. 2007):
  *  - SPARSE: an exact hash set of xxhash64 values while
  *    `size <= sparseLimit`. Counts are EXACT here (modulo 64-bit hash
  *    collisions, ~n²/2⁶⁵) — which is what lets the DuckDB oracle check
  *    the sketch against true `count(DISTINCT ...)` whenever
  *    sparseLimit > true cardinality, the same capacity>vocab trick q36
  *    uses for Misra-Gries.
  *  - DENSE: `m = 2^precision` max-rank registers, estimated with Ertl's
  *    table-free improved estimator (arXiv:1702.01284 §4) — unbiased over
  *    the full cardinality range with no empirical bias tables and no
  *    hard linear-counting/raw switch (so none of classic HLL's bias
  *    spike in the 2.5m–5m transition band); 64-bit hashes need no
  *    large-range correction.
  *
  * Merging never loses information: sparse∪sparse (spilling to dense on
  * overflow), sparse folded into dense, dense register-max dense.
  *
  * Usage: `GraftExtensions.install(spark)` then
  * `SELECT hll_distinct(col[, precision[, sparseLimit]])`, or the Column
  * API `DistinctSketch.hll_distinct(col, precision, sparseLimit)`.
  */
/** Minimal primitive open-addressed hash set for the sparse phase: ~8-16
  * bytes per entry vs ~48+ for a boxed HashSet[Long] — at q41's 2^21
  * sparseLimit that is the difference between tens of MB and hundreds
  * per aggregation buffer. Zero is tracked by a sentinel flag since the
  * backing array uses 0 as the empty marker. */
final class LongSet(initialCapacity: Int = 64) {
  private var cap = Integer.highestOneBit(math.max(64, initialCapacity * 2 - 1) * 2 - 1)
  private var table = new Array[Long](cap)
  private var hasZero = false
  private var n = 0

  def size: Int = n + (if (hasZero) 1 else 0)

  def add(v: Long): Unit = {
    if (v == 0L) { hasZero = true; return }
    var i = (v * -0x61c8864680b583ebL >>> 40).toInt & (cap - 1) // fibonacci scramble
    var cur = table(i)
    while (cur != v && cur != 0L) { i = (i + 1) & (cap - 1); cur = table(i) }
    if (cur == 0L) {
      table(i) = v; n += 1
      if (n.toLong * 4 >= cap.toLong * 3) grow()
    }
  }

  def foreach(f: Long => Unit): Unit = {
    if (hasZero) f(0L)
    var i = 0
    while (i < cap) { if (table(i) != 0L) f(table(i)); i += 1 }
  }

  private def grow(): Unit = {
    val old = table
    cap <<= 1
    table = new Array[Long](cap)
    val keep = n; n = 0
    old.foreach(v => if (v != 0L) add(v))
    assert(n == keep)
  }
}

final class HllBuffer(val precision: Int, val sparseLimit: Int) {
  val m: Int = 1 << precision
  // sparse until the exact set outgrows sparseLimit, then dense forever
  var sparse: LongSet = new LongSet()
  var registers: Array[Byte] = _

  def isSparse: Boolean = registers == null

  def add(h: Long): Unit =
    if (isSparse) {
      sparse.add(h)
      if (sparse.size > sparseLimit) toDense()
    } else addDense(h)

  private def addDense(h: Long): Unit = {
    val idx = (h >>> (64 - precision)).toInt
    val w = h << precision
    val rank = (if (w == 0L) 64 - precision else java.lang.Long.numberOfLeadingZeros(w)) + 1
    if (rank > registers(idx).toInt) registers(idx) = rank.toByte
  }

  def toDense(): Unit = {
    registers = new Array[Byte](m)
    sparse.foreach(addDense)
    sparse = null
  }

  def mergeIn(other: HllBuffer): Unit = {
    require(other.precision == precision,
      s"hll merge precision mismatch: $precision vs ${other.precision}")
    if (other.isSparse) {
      if (isSparse) {
        other.sparse.foreach(sparse.add)
        if (sparse.size > sparseLimit) toDense()
      } else other.sparse.foreach(addDense)
    } else {
      if (isSparse) toDense()
      var i = 0
      while (i < m) {
        if (other.registers(i) > registers(i)) registers(i) = other.registers(i)
        i += 1
      }
    }
  }

  /** Exact size in sparse phase; Ertl's improved estimator in dense
    * (arXiv:1702.01284 §4): a smooth maximum-likelihood-motivated form
    * over the register histogram that needs neither HLL++'s empirical
    * bias tables nor the classic raw/linear-counting switch, and is
    * unbiased across the whole range — including the 2.5m–5m band where
    * classic HLL carries a bias spike. */
  def estimate(): Long =
    if (isSparse) sparse.size.toLong
    else {
      val q = 64 - precision // max register value is q + 1
      val c = new Array[Int](q + 2)
      var i = 0
      while (i < m) { c(registers(i).toInt) += 1; i += 1 }
      var z = m * HllBuffer.tau(1.0 - c(q + 1).toDouble / m)
      var k = q
      while (k >= 1) { z = 0.5 * (z + c(k)); k -= 1 }
      z += m * HllBuffer.sigma(c(0).toDouble / m)
      // alpha_inf = 1 / (2 ln 2)
      math.round(m.toDouble * m / (2.0 * math.log(2.0) * z))
    }
}

object HllBuffer {
  /** sigma(x) = x + sum_{k>=1} x^(2^k) * 2^(k-1), Ertl Alg. 5 — the
    * expected contribution of zero-valued registers. Diverges at x=1
    * (empty sketch => estimate 0 via m^2/inf). */
  private[graft] def sigma(x0: Double): Double = {
    if (x0 == 1.0) return Double.PositiveInfinity
    var x = x0
    var y = 1.0
    var z = x
    var zPrev = -1.0
    while (z != zPrev) {
      x = x * x
      zPrev = z
      z += x * y
      y += y
    }
    z
  }

  /** tau(x) = 1/3 (1 - x - sum_{k>=1} (1 - x^(2^-k))^2 2^-k), Ertl
    * Alg. 6 — the expected contribution of saturated registers. */
  private[graft] def tau(x0: Double): Double = {
    if (x0 == 0.0 || x0 == 1.0) return 0.0
    var x = x0
    var y = 1.0
    var z = 1.0 - x
    var zPrev = -1.0
    while (z != zPrev) {
      x = math.sqrt(x)
      zPrev = z
      y = 0.5 * y
      val omx = 1.0 - x
      z -= omx * omx * y
    }
    z / 3.0
  }
}

/** The HLL family: `2^precision` registers behind an exact sparse set of
  * up to `sparseLimit` xxhash64 values. `stored` picks the result:
  * `hll_sketch`'s self-describing bytes, or `hll_distinct`'s estimate.
  *
  * One payload codec serves both byte forms: tag(1: 0 sparse, 1 dense) |
  * sparse: size(4) + hashes(8 each) / dense: the registers. The stored
  * form prefixes precision(1) | sparseLimit(4), so a sketch persisted by
  * one job re-aggregates in another; the partial-aggregate form omits
  * them (this value carries them), and streaming aggregation keeps that
  * form in its state store. */
case class Hll(precision: Int = 14, sparseLimit: Int = 4096, stored: Boolean = true)
  extends SketchFamily[HllBuffer] {
  require(precision >= 4 && precision <= 18, "precision must be in [4,18]")

  def kind: String = "hll"
  def name: String = if (stored) "hll_sketch" else "hll_distinct"
  def empty: HllBuffer = new HllBuffer(precision, sparseLimit)
  def add(buf: HllBuffer, value: Any, dataType: DataType): Unit =
    buf.add(SketchFamily.hash(value, dataType))
  def mergeIn(buf: HllBuffer, other: HllBuffer): Unit = buf.mergeIn(other)
  def toBytes(buf: HllBuffer): Array[Byte] = Hll.write(buf, withParams = true)
  def fromBytes(bytes: Array[Byte]): HllBuffer = Hll.read(bytes)
  override def toWire(buf: HllBuffer): Array[Byte] = Hll.write(buf, withParams = false)
  override def fromWire(bytes: Array[Byte]): HllBuffer = Hll.readPayload(Hll.input(bytes), empty)
  override def resultType: DataType = if (stored) BinaryType else LongType
  override def result(buf: HllBuffer): Any = if (stored) toBytes(buf) else buf.estimate()
}

object Hll {
  private def input(bytes: Array[Byte]) =
    new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))

  private def write(buf: HllBuffer, withParams: Boolean): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    if (withParams) { out.writeByte(buf.precision); out.writeInt(buf.sparseLimit) }
    if (buf.isSparse) {
      out.writeByte(0)
      out.writeInt(buf.sparse.size)
      buf.sparse.foreach(out.writeLong)
    } else {
      out.writeByte(1)
      out.write(buf.registers)
    }
    out.flush()
    bos.toByteArray
  }

  private def readPayload(in: java.io.DataInputStream, buf: HllBuffer): HllBuffer = {
    if (in.readByte() == 0) {
      val n = in.readInt()
      buf.sparse = new LongSet(n) // size known up front: no grow/rehash churn
      (0 until n).foreach(_ => buf.sparse.add(in.readLong()))
    } else {
      buf.registers = new Array[Byte](buf.m)
      in.readFully(buf.registers)
      buf.sparse = null
    }
    buf
  }

  /** A stored sketch: its parameters come from its own bytes. */
  def read(bytes: Array[Byte]): HllBuffer = {
    val in = input(bytes)
    readPayload(in, new HllBuffer(in.readByte().toInt, in.readInt()))
  }
}

object DistinctSketch {
  /** Evaluate an optional literal-integer argument with a clear error —
    * `eval(InternalRow.empty)` on a non-foldable expression (a column,
    * say) throws an opaque attribute-binding exception otherwise. Shared
    * by every sketch builder. */
  private[functions] def litIntArg(
      exprs: Seq[Expression], i: Int, dflt: Int, fn: String): Int =
    exprs.lift(i).map { e =>
      if (!e.foldable)
        throw new IllegalArgumentException(
          s"$fn: argument ${i + 1} must be a literal integer, got ${e.sql}")
      e.eval(InternalRow.empty) match {
        case n: java.lang.Number
            if n.isInstanceOf[java.lang.Byte] || n.isInstanceOf[java.lang.Short] ||
              n.isInstanceOf[java.lang.Integer] || n.isInstanceOf[java.lang.Long] =>
          val v = n.longValue() // range-check BEFORE narrowing: intValue()
          if (v <= 0 || v > Int.MaxValue) // would silently wrap 2^32+100 to 100
            throw new IllegalArgumentException(
              s"$fn: argument ${i + 1} must be a positive Int, got $v")
          v.toInt
        case other =>
          throw new IllegalArgumentException(
            s"$fn: argument ${i + 1} must be a literal integer, got ${e.sql}" +
              (if (other == null) " (null)" else ""))
      }
    }.getOrElse(dflt)

  /** Arity check with the function name in the message — a bare
    * `exprs(1)` would throw an opaque IndexOutOfBoundsException. */
  private[functions] def arity(
      exprs: Seq[Expression], fn: String, min: Int, max: Int): Unit =
    if (exprs.size < min || exprs.size > max)
      throw new IllegalArgumentException(
        s"$fn expects $min to $max arguments, got ${exprs.size}")

  def estimateStored(bytes: Array[Byte]): Long = Hll.read(bytes).estimate()

  /** `hll_sketch` (the stored bytes) when `stored`, else `hll_distinct`
    * (the estimate). */
  private[graft] def build(stored: Boolean)(exprs: Seq[Expression]): Expression = {
    val fn = if (stored) "hll_sketch" else "hll_distinct"
    arity(exprs, fn, 1, 3)
    SketchAgg(exprs.head, Hll(
      litIntArg(exprs, 1, 14, fn), litIntArg(exprs, 2, 4096, fn), stored)).toAggregateExpression()
  }

  private[graft] def buildEstimate(exprs: Seq[Expression]): Expression = {
    arity(exprs, "hll_estimate", 1, 1)
    HllEstimate(SketchFamily.storedArg(exprs, 0, "hll_estimate"))
  }

  /** Column API — requires `GraftExtensions.install(spark)` first. */
  def hll_distinct(c: Column, precision: Int = 14, sparseLimit: Int = 4096): Column =
    org.apache.spark.sql.functions.call_function(
      "hll_distinct", c,
      org.apache.spark.sql.functions.lit(precision),
      org.apache.spark.sql.functions.lit(sparseLimit))
}

/** `hll_estimate(sketch)` — distinct-count estimate read off the stored
  * self-describing sketch bytes; codegen'd static call. */
case class HllEstimate(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "hll_estimate"
  override protected def nullSafeEval(sketch: Any): Any =
    DistinctSketch.estimateStored(sketch.asInstanceOf[Array[Byte]])
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev,
      sk => s"graft.functions.DistinctSketch.estimateStored($sk)")
  override protected def withNewChildInternal(newChild: Expression): HllEstimate =
    copy(child = newChild)
}
