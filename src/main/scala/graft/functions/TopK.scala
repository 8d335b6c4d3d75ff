package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded-heap top-k as a `TypedImperativeAggregate` — the hash-aggregate
  * alternative to the window form of top-k-per-group (`Core.topKPerGroup`,
  * W3/O2). The window form must SORT every group's full row set inside its
  * partition; this aggregate keeps only k entries per group at every stage
  * and — crucially — combines MAP-SIDE like any partial aggregate, so the
  * shuffle carries at most k entries per (partition, group) instead of
  * every row. At 100 TB with heavy groups (millions of rows per key,
  * k ~ 10) that is the difference between shuffling the table and
  * shuffling k·groups rows.
  *
  * Semantics: keep the k best (score DESC, id ASC tiebreak) non-null
  * (score, id) pairs; `eval` emits array<struct<score double, id long>>
  * best-first — fully deterministic given distinct ids. NaN scores are
  * rejected up front (a NaN would poison heap ordering silently).
  *
  * Usage: `GraftExtensions.install(spark)` then `SELECT topk_by(score, id, 5)` or
  * the Column API `TopK.topk_by(score, id, 5)`; explode the result to get
  * back to rows (q152 shows the full shape against a window-form oracle).
  */
case class TopKAgg(
    score: Expression,
    id: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.PriorityQueue[(Double, Long)]]
  with ImplicitCastInputTypes {

  override def children: Seq[Expression] = Seq(score, id)
  // Coerce (or reject) at analysis time — a decimal score or int id must
  // not reach update() and die there as a ClassCastException.
  override def inputTypes: Seq[DataType] = Seq(DoubleType, LongType)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("score", DoubleType, nullable = false),
    StructField("id", LongType, nullable = false))))
  override def prettyName: String = "topk_by"

  /** Head of the queue = the WORST kept entry (smallest score; among equal
    * scores the largest id), so overflow eviction is one `dequeue`. */
  private val worstFirst: Ordering[(Double, Long)] = new Ordering[(Double, Long)] {
    override def compare(a: (Double, Long), b: (Double, Long)): Int = {
      val c = java.lang.Double.compare(b._1, a._1) // smaller score = "greater"
      if (c != 0) c else java.lang.Long.compare(a._2, b._2) // larger id = "greater"
    }
  }

  override def createAggregationBuffer(): mutable.PriorityQueue[(Double, Long)] =
    mutable.PriorityQueue.empty(worstFirst)

  private def offer(buf: mutable.PriorityQueue[(Double, Long)], s: Double, i: Long): Unit = {
    if (buf.size < k) buf.enqueue((s, i))
    else {
      val (ws, wi) = buf.head
      if (s > ws || (s == ws && i < wi)) { buf.dequeue(); buf.enqueue((s, i)) }
    }
  }

  override def update(
      buf: mutable.PriorityQueue[(Double, Long)],
      input: InternalRow): mutable.PriorityQueue[(Double, Long)] = {
    val sv = score.eval(input)
    val iv = id.eval(input)
    if (sv != null && iv != null) {
      val s = sv.asInstanceOf[Double]
      if (s.isNaN)
        throw new IllegalArgumentException(
          "topk_by: NaN score — filter or coalesce NaNs before ranking")
      offer(buf, s, iv.asInstanceOf[Long])
    }
    buf
  }

  override def merge(
      a: mutable.PriorityQueue[(Double, Long)],
      b: mutable.PriorityQueue[(Double, Long)]): mutable.PriorityQueue[(Double, Long)] = {
    b.foreach { case (s, i) => offer(a, s, i) }
    a
  }

  override def eval(buf: mutable.PriorityQueue[(Double, Long)]): Any = {
    val arr = buf.toArray.sortBy { case (s, i) => (-s, i) } // best-first
    new GenericArrayData(arr.map { case (s, i) => InternalRow(s, i) })
  }

  override def serialize(buf: mutable.PriorityQueue[(Double, Long)]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + buf.size * 16)
    bb.putInt(buf.size)
    buf.foreach { case (s, i) => bb.putDouble(s); bb.putLong(i) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): mutable.PriorityQueue[(Double, Long)] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = createAggregationBuffer()
    (0 until n).foreach(_ => buf.enqueue((bb.getDouble, bb.getLong)))
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKAgg =
    copy(score = newChildren(0), id = newChildren(1))
}

object TopK {
  private[graft] def build(exprs: Seq[Expression]): Expression =
    TopKAgg(exprs.head, exprs(1),
      DistinctSketch.litIntArg(exprs, 2, 10, "topk_by")).toAggregateExpression()

  /** Column API — requires `GraftExtensions.install(spark)` first. */
  def topk_by(score: Column, id: Column, k: Int): Column =
    org.apache.spark.sql.functions.call_function(
      "topk_by", score, id, org.apache.spark.sql.functions.lit(k))
}
