package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Misra-Gries frequent-items sketch as a `TypedImperativeAggregate` —
  * the 100 TB path for "top tokens" style questions: one pass, bounded
  * memory (`capacity` counters per partition), mergeable partial states,
  * no full-cardinality groupBy shuffle. Counts are lower bounds with
  * error ≤ N/capacity; any item with true frequency > N/capacity is
  * guaranteed to survive.
  *
  * Output: array<struct<item string, min_count long>> sorted by
  * (min_count desc, item asc) — deterministic.
  *
  * Usage: `GraftExtensions.install(spark)` then
  * `SELECT frequent_items(token, 100) FROM ...` or the Column API
  * `FrequentItems.frequent_items(col, 100)`.
  */
case class FrequentItemsAgg(
    child: Expression,
    capacity: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashMap[String, Long]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("item", StringType, nullable = false),
    StructField("min_count", LongType, nullable = false))))
  override def prettyName: String = "frequent_items"

  override def createAggregationBuffer(): mutable.HashMap[String, Long] =
    mutable.HashMap.empty

  /** Misra-Gries update: increment if present or space free, else decrement
    * every counter (dropping zeros). */
  override def update(
      buf: mutable.HashMap[String, Long], input: InternalRow): mutable.HashMap[String, Long] = {
    val v = child.eval(input)
    if (v != null) {
      val key = v.toString
      if (buf.contains(key) || buf.size < capacity) {
        buf.update(key, buf.getOrElse(key, 0L) + 1L)
      } else {
        val dead = mutable.ArrayBuffer.empty[String]
        buf.keysIterator.foreach { k =>
          val n = buf(k) - 1L
          if (n <= 0L) dead += k else buf.update(k, n)
        }
        dead.foreach(buf.remove)
      }
    }
    buf
  }

  /** Merge = add counts, then shrink back to capacity by subtracting the
    * (capacity+1)-th largest count from everything (standard MG merge). */
  override def merge(
      a: mutable.HashMap[String, Long], b: mutable.HashMap[String, Long]): mutable.HashMap[String, Long] = {
    b.foreach { case (k, n) => a.update(k, a.getOrElse(k, 0L) + n) }
    if (a.size > capacity) {
      val counts = a.values.toArray.sorted(Ordering[Long].reverse)
      val threshold = counts(capacity) // (capacity+1)-th largest
      val dead = mutable.ArrayBuffer.empty[String]
      a.keysIterator.foreach { k =>
        val n = a(k) - threshold
        if (n <= 0L) dead += k else a.update(k, n)
      }
      dead.foreach(a.remove)
    }
    a
  }

  override def eval(buf: mutable.HashMap[String, Long]): Any = {
    val sorted = buf.toArray.sortBy { case (item, n) => (-n, item) }
    new GenericArrayData(sorted.map { case (item, n) =>
      InternalRow(UTF8String.fromString(item), n)
    })
  }

  override def serialize(buf: mutable.HashMap[String, Long]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (k, n) =>
      val kb = k.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      out.writeInt(kb.length); out.write(kb); out.writeLong(n)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[String, Long] = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = mutable.HashMap.empty[String, Long]
    (0 until n).foreach { _ =>
      val klen = in.readInt()
      val kb = new Array[Byte](klen); in.readFully(kb)
      buf.update(new String(kb, java.nio.charset.StandardCharsets.UTF_8), in.readLong())
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): FrequentItemsAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): FrequentItemsAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): FrequentItemsAgg =
    copy(child = newChildren.head)
}

object FrequentItems {
  private[graft] def build(exprs: Seq[Expression]): Expression =
    FrequentItemsAgg(exprs.head,
      DistinctSketch.litIntArg(exprs, 1, 100, "frequent_items")).toAggregateExpression()

  /** Column API — requires `GraftExtensions.install(spark)` first. */
  def frequent_items(c: Column, capacity: Int): Column =
    org.apache.spark.sql.functions.call_function(
      "frequent_items", c, org.apache.spark.sql.functions.lit(capacity))
}
