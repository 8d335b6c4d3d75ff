package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._

/** One mergeable sketch family (Bloom, KLL, Theta, HLL) as a plain
  * value: its parameters, how a row value enters a buffer, how two
  * buffers merge (the partial/final merge of [[SketchAgg]]), and its
  * byte format. Every family is a case class, so two identical SQL calls
  * build equal aggregates and the planner gives them one shared buffer.
  * [[SketchAgg]] builds any family's sketch and [[SketchMergeAgg]]
  * re-aggregates stored sketches; a new family plugs in as one more
  * value, not one more aggregate class. */
trait SketchFamily[B] extends Product with Serializable {
  /** Prefix of the merge aggregate's SQL name, `<kind>_merge` (only
    * `hll_merge` is registered). */
  def kind: String
  /** SQL name of the aggregate that builds this family's sketch. */
  def name: String
  def empty: B
  def add(buf: B, value: Any, dataType: DataType): Unit
  def mergeIn(buf: B, other: B): Unit
  /** The stored, self-describing byte format the family's readers
    * (`*_estimate`, `kll_quantile`, `bloom_might_contain`, `hll_merge`)
    * take. */
  def toBytes(buf: B): Array[Byte]
  def fromBytes(bytes: Array[Byte]): B
  def resultType: DataType = BinaryType
  def result(buf: B): Any = toBytes(buf)
  /** Partial-aggregate bytes between stages (and in streaming state);
    * the stored format unless the family keeps its parameters off them. */
  def toWire(buf: B): Array[Byte] = toBytes(buf)
  def fromWire(bytes: Array[Byte]): B = fromBytes(bytes)
}

object SketchFamily {
  /** The row hash the hashed families insert: xxhash64, seed 42 — the
    * same hash `bloom_might_contain` probes with. */
  def hash(value: Any, dataType: DataType): Long =
    XxHash64Function.hash(value, dataType, 42L)

  /** The one plan-time check for an argument that must be a stored
    * sketch: a non-binary column fails here, naming the function and the
    * type, instead of with a ClassCastException inside a task. An untyped
    * NULL stays a null sketch. */
  private[functions] def storedArg(exprs: Seq[Expression], i: Int, fn: String): Expression = {
    val e = exprs(i)
    e.dataType match {
      case BinaryType => e
      case NullType => Cast(e, BinaryType)
      case other =>
        throw new IllegalArgumentException(
          s"$fn: argument ${i + 1} must be a stored sketch (BINARY), got ${other.sql}: ${e.sql}")
    }
  }
}

/** `bloom_agg`, `kll_agg`, `theta_sketch`, `hll_sketch` and
  * `hll_distinct`: builds one family's sketch over a column, skipping
  * nulls. */
case class SketchAgg[B](
    child: Expression,
    family: SketchFamily[B],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[B] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = family.resultType
  override def prettyName: String = family.name
  // EXPLAIN lists the family's parameters, the buffer offsets, then its
  // flags: the argument text the per-family aggregates printed
  override def stringArgs: Iterator[Any] = {
    val (flags, params) = family.productIterator.toSeq.partition(_.isInstanceOf[Boolean])
    Iterator(child) ++ params ++ Iterator(mutableAggBufferOffset, inputAggBufferOffset) ++ flags
  }

  override def createAggregationBuffer(): B = family.empty

  override def update(buf: B, input: InternalRow): B = {
    val v = child.eval(input)
    if (v != null) family.add(buf, v, child.dataType)
    buf
  }

  override def merge(a: B, b: B): B = { family.mergeIn(a, b); a }
  override def eval(buf: B): Any = family.result(buf)
  override def serialize(buf: B): Array[Byte] = family.toWire(buf)
  override def deserialize(bytes: Array[Byte]): B = family.fromWire(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): SketchAgg[B] =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SketchAgg[B] =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SketchAgg[B] =
    copy(child = newChildren.head)
}

/** `<kind>_merge(sketch)`: merges a column of STORED sketches of one
  * family into one sketch in the same format. Empty or all-null input
  * yields null. */
case class SketchMergeAgg[B](
    childExpr: Expression,
    family: SketchFamily[B],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Option[B]] {

  override def children: Seq[Expression] = Seq(childExpr)
  override def nullable: Boolean = true // empty group has no sketch to return
  override def dataType: DataType = BinaryType
  override def prettyName: String = s"${family.kind}_merge"
  override def stringArgs: Iterator[Any] =
    Iterator(childExpr, family.kind, mutableAggBufferOffset, inputAggBufferOffset)

  override def createAggregationBuffer(): Option[B] = None

  override def update(buf: Option[B], input: InternalRow): Option[B] = {
    val v = childExpr.eval(input)
    if (v == null) buf
    else merge(buf, Some(family.fromBytes(v.asInstanceOf[Array[Byte]])))
  }

  override def merge(a: Option[B], b: Option[B]): Option[B] = (a, b) match {
    case (Some(x), Some(y)) => family.mergeIn(x, y); a
    case _ => a.orElse(b)
  }

  override def eval(buf: Option[B]): Any = buf.map(family.toBytes).orNull
  override def serialize(buf: Option[B]): Array[Byte] =
    buf.map(family.toBytes).getOrElse(Array.emptyByteArray)
  override def deserialize(bytes: Array[Byte]): Option[B] =
    if (bytes.isEmpty) None else Some(family.fromBytes(bytes))

  override def withNewMutableAggBufferOffset(newOffset: Int): SketchMergeAgg[B] =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SketchMergeAgg[B] =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SketchMergeAgg[B] =
    copy(childExpr = newChildren.head)
}

/** Sketch-of-sketches re-aggregation: `hll_merge` is an aggregate over
  * a column of STORED serialized HLL sketches (`hll_sketch`), returning
  * the merged sketch in the same binary format. Per-day sketches built
  * once at ingest answer any later rollup — a trailing window (q154),
  * a week, a cohort union — by merging a handful of stored sketches
  * instead of rescanning the raw events. The merge is the one the direct
  * aggregate's partial/final path performs, so a merged sketch is
  * exactly as good as one built in a single pass over the union. A
  * precision mismatch raises rather than silently corrupting registers;
  * empty (or all-null) input yields null.
  */
object SketchMerge {
  private[graft] def build(exprs: Seq[Expression]): Expression = {
    DistinctSketch.arity(exprs, "hll_merge", 1, 1)
    // the merge reads precision and sparse limit from the stored bytes,
    // so the default-parameter value stands for every stored HLL
    SketchMergeAgg(SketchFamily.storedArg(exprs, 0, "hll_merge"), Hll()).toAggregateExpression()
  }
}
