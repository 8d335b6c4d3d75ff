package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._

/** Sketch-of-sketches re-aggregation: `kll_merge` / `cms_merge` /
  * `bloom_merge` / `theta_merge` are aggregate functions over a column of
  * STORED serialized sketches, returning the merged sketch in the same
  * binary format. This closes the loop on the "store per partition/day,
  * re-aggregate later" contract every binary sketch in graft advertises:
  * build per-day sketches once at ingest (one pass over the raw data),
  * persist the bytes next to the partition, then answer any
  * rollup — week, month, arbitrary cohort union — by merging a handful
  * of stored sketches instead of rescanning the corpus. At the 100 TB
  * target that is the difference between a metadata-sized query and a
  * full-table pass.
  *
  * Merge semantics are each family's own: CMS elementwise-add and Bloom
  * OR are lossless and order-independent (merged bytes == single-pass
  * bytes, PropertySpec-style pinned); KLL and Theta merges are the same
  * compaction/downsampling the direct aggregates perform, so a merged
  * sketch is exactly as good as one built in a single pass over the
  * union. Shape mismatches (different width/depth/k) raise rather than
  * silently corrupt. Empty input (or all-null) yields null.
  */
object SketchMerge {

  final class State(var value: AnyRef)

  val Kinds: Set[String] = Set("kll", "cms", "bloom", "theta", "hll")

  private[functions] def deserialize(kind: String, b: Array[Byte]): AnyRef = kind match {
    case "kll" => QuantileSketch.deserialize(b)
    case "cms" => CountMin.deserialize(b)
    case "bloom" => BloomFilter.deserialize(b)
    case "theta" => ThetaSketch.deserialize(b)
    case "hll" => DistinctSketch.deserializeStored(b)
  }

  private[functions] def serialize(kind: String, v: AnyRef): Array[Byte] = kind match {
    case "kll" => QuantileSketch.serialize(v.asInstanceOf[QuantileSketch.Buffer])
    case "cms" => CountMin.serialize(v.asInstanceOf[CountMin.Buffer])
    case "bloom" => BloomFilter.serialize(v.asInstanceOf[BloomFilter.Buffer])
    case "theta" => ThetaSketch.serialize(v.asInstanceOf[ThetaSketch.Buffer])
    case "hll" => DistinctSketch.serializeStored(v.asInstanceOf[HllBuffer])
  }

  /** Merge `b` into `a` (a == null means first sketch seen). */
  private[functions] def mergeInto(kind: String, a: AnyRef, b: AnyRef): AnyRef =
    if (a == null) b
    else {
      kind match {
        case "kll" =>
          a.asInstanceOf[QuantileSketch.Buffer]
            .mergeIn(b.asInstanceOf[QuantileSketch.Buffer])
        case "cms" =>
          a.asInstanceOf[CountMin.Buffer].mergeIn(b.asInstanceOf[CountMin.Buffer])
        case "bloom" =>
          a.asInstanceOf[BloomFilter.Buffer].mergeIn(b.asInstanceOf[BloomFilter.Buffer])
        case "theta" =>
          a.asInstanceOf[ThetaSketch.Buffer].mergeIn(b.asInstanceOf[ThetaSketch.Buffer])
        case "hll" =>
          a.asInstanceOf[HllBuffer].mergeIn(b.asInstanceOf[HllBuffer])
      }
      a
    }

  private def build(kind: String)(exprs: Seq[Expression]): Expression = {
    DistinctSketch.arity(exprs, s"${kind}_merge", 1, 1)
    SketchMergeAgg(exprs.head, kind).toAggregateExpression()
  }

  def kll_merge(c: Column): Column =
    org.apache.spark.sql.functions.call_function("kll_merge", c)
  def cms_merge(c: Column): Column =
    org.apache.spark.sql.functions.call_function("cms_merge", c)
  def bloom_merge(c: Column): Column =
    org.apache.spark.sql.functions.call_function("bloom_merge", c)
  def theta_merge(c: Column): Column =
    org.apache.spark.sql.functions.call_function("theta_merge", c)
  def hll_merge(c: Column): Column =
    org.apache.spark.sql.functions.call_function("hll_merge", c)

  private[graft] def builders: Seq[(String, Seq[Expression] => Expression)] =
    Kinds.toSeq.sorted.map(k => s"${k}_merge" -> build(k) _)
}

case class SketchMergeAgg(
    childExpr: Expression,
    kind: String,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[SketchMerge.State] {

  require(SketchMerge.Kinds.contains(kind),
    s"sketch merge: unknown kind '$kind' (expected ${SketchMerge.Kinds.mkString("/")})")

  override def children: Seq[Expression] = Seq(childExpr)
  override def nullable: Boolean = true // empty group has no sketch to return
  override def dataType: DataType = BinaryType
  override def prettyName: String = s"${kind}_merge"

  override def createAggregationBuffer(): SketchMerge.State =
    new SketchMerge.State(null)

  override def update(buf: SketchMerge.State, input: InternalRow): SketchMerge.State = {
    val v = childExpr.eval(input)
    if (v != null) {
      val incoming = SketchMerge.deserialize(kind, v.asInstanceOf[Array[Byte]])
      buf.value = SketchMerge.mergeInto(kind, buf.value, incoming)
    }
    buf
  }

  override def merge(a: SketchMerge.State, b: SketchMerge.State): SketchMerge.State = {
    if (b.value != null) a.value = SketchMerge.mergeInto(kind, a.value, b.value)
    a
  }

  override def eval(buf: SketchMerge.State): Any =
    if (buf.value == null) null else SketchMerge.serialize(kind, buf.value)

  override def serialize(buf: SketchMerge.State): Array[Byte] =
    if (buf.value == null) Array.emptyByteArray
    else SketchMerge.serialize(kind, buf.value)

  override def deserialize(bytes: Array[Byte]): SketchMerge.State =
    if (bytes.isEmpty) new SketchMerge.State(null)
    else new SketchMerge.State(SketchMerge.deserialize(kind, bytes))

  override def withNewMutableAggBufferOffset(newOffset: Int): SketchMergeAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SketchMergeAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SketchMergeAgg =
    copy(childExpr = newChildren.head)
}
