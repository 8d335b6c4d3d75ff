package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Element-wise vector mean over an embedding column
  * (`array<float>`/`array<double>`) as a mergeable
  * `TypedImperativeAggregate` — the centroid primitive an embedding
  * pipeline needs (cluster centroids for SemDeDup-style semantic dedup,
  * IVF cell refresh, per-class mean vectors) without exploding the array
  * (`posexplode` + groupBy multiplies the rows by the dimension — 64-384x
  * shuffle amplification) and without collecting vectors to the driver.
  *
  * State is one `Array[Double]` + a count per group: O(dim) memory,
  * partial states merge associatively across any partitioning (the
  * PropertySpec partitioned-build == single-pass invariant applies).
  * Null rows are skipped; a dimension mismatch inside a group is a hard
  * error (silent zip-truncation would corrupt centroids).
  *
  * Usage: `GraftExtensions.install(spark)` then `SELECT vec_avg(embedding)`,
  * or the Column API below.
  */
final class VecBuffer {
  var sum: Array[Double] = _
  var count: Long = 0L

  def add(v: Array[Double]): Unit = {
    if (sum == null) sum = new Array[Double](v.length)
    require(sum.length == v.length,
      s"vec_avg: dimension mismatch ${sum.length} vs ${v.length}")
    var i = 0
    while (i < v.length) { sum(i) += v(i); i += 1 }
    count += 1L
  }

  def mergeIn(other: VecBuffer): Unit =
    if (other.sum != null) {
      if (sum == null) { sum = other.sum.clone(); count = other.count }
      else {
        require(sum.length == other.sum.length,
          s"vec_avg: dimension mismatch ${sum.length} vs ${other.sum.length}")
        var i = 0
        while (i < sum.length) { sum(i) += other.sum(i); i += 1 }
        count += other.count
      }
    }
}

case class VecAvgAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[VecBuffer] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "vec_avg"

  private lazy val elementType: DataType = child.dataType match {
    case ArrayType(et @ (FloatType | DoubleType), _) => et
    case other => throw new IllegalArgumentException(
      s"$prettyName expects array<float|double>, got ${other.sql}")
  }

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects array<float|double>, got ${other.sql}")
    }

  override def createAggregationBuffer(): VecBuffer = new VecBuffer

  override def update(buf: VecBuffer, input: InternalRow): VecBuffer = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val n = arr.numElements()
      val ds = new Array[Double](n)
      var i = 0
      elementType match {
        case FloatType => while (i < n) { ds(i) = arr.getFloat(i).toDouble; i += 1 }
        case _ => while (i < n) { ds(i) = arr.getDouble(i); i += 1 }
      }
      buf.add(ds)
    }
    buf
  }

  override def merge(a: VecBuffer, b: VecBuffer): VecBuffer = { a.mergeIn(b); a }

  override def eval(buf: VecBuffer): Any =
    if (buf.sum == null) null
    else {
      val out = new Array[Double](buf.sum.length)
      var i = 0
      while (i < out.length) { out(i) = buf.sum(i) / buf.count; i += 1 }
      new GenericArrayData(out)
    }

  override def serialize(buf: VecBuffer): Array[Byte] = {
    val n = if (buf.sum == null) 0 else buf.sum.length
    val bb = java.nio.ByteBuffer.allocate(12 + 8 * n)
    bb.putLong(buf.count)
    bb.putInt(n)
    var i = 0
    while (i < n) { bb.putDouble(buf.sum(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): VecBuffer = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val buf = new VecBuffer
    buf.count = bb.getLong()
    val n = bb.getInt()
    if (n > 0) {
      buf.sum = new Array[Double](n)
      var i = 0
      while (i < n) { buf.sum(i) = bb.getDouble(); i += 1 }
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): VecAvgAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): VecAvgAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): VecAvgAgg =
    copy(child = newChildren.head)
}

object VectorAgg {
  /** Column API — requires `GraftExtensions.install(spark)` first. */
  def vec_avg(c: Column): Column =
    org.apache.spark.sql.functions.call_function("vec_avg", c)

  private[graft] def build(exprs: Seq[Expression]): Expression = {
    DistinctSketch.arity(exprs, "vec_avg", 1, 1)
    VecAvgAgg(exprs.head).toAggregateExpression()
  }
}
