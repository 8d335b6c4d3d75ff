package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Cast, Expression, GenericInternalRow, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{call_function, typedLit}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, StructField, StructType}

/** Dot product of two array<double> columns as a native codegen'd
  * expression — the hot-path primitive for cosine similarity
  * (graft.ops.Similarity). The SQL-functions formulation
  * (`aggregate(zip_with(a, b, *), 0d, +)`) evaluates interpreted (HOFs sit
  * outside whole-stage codegen) and allocates a lambda frame per element;
  * this loop compiles into the generated stage.
  *
  * Summation order is left-to-right — identical to the HOF formulation and
  * to DuckDB's list_dot_product, so swapping it in changes no oracle
  * result bit.
  *
  * Null semantics: null if either side is null (BinaryExpression default);
  * arrays are assumed element-complete (embeddings), mismatched lengths
  * use the shorter prefix.
  */
case class VectorDot(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorDot.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorDot.dot($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VectorDot =
    copy(left = newLeft, right = newRight)
}

object VectorDot {
  /** Shared by interpreted eval and generated code. */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    acc
  }

  /** Column API — requires `GraftExtensions.install(spark)` first. */
  def vec_dot(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("vec_dot", a, b)
}

/** L2 norm of an array<double> column as a native codegen'd expression —
  * completes the all-codegen cosine hot path (norms precomputed once per
  * row via `vec_norm`, pairs scored via `vec_dot`; no interpreted HOF
  * anywhere). Accumulation is a left-to-right sum of squares then sqrt —
  * bit-identical to `sqrt(aggregate(zip_with(v, v, *), 0d, +))`, so
  * swapping it in changes no oracle result. */
case class VectorNorm(child: Expression) extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_norm"

  override protected def nullSafeEval(a: Any): Any =
    VectorNorm.norm(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.VectorNorm.norm($a)")

  override protected def withNewChildInternal(newChild: Expression): VectorNorm =
    copy(child = newChild)
}

object VectorNorm {
  /** Shared by interpreted eval and generated code. */
  def norm(a: ArrayData): Double = {
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      val x = a.getDouble(i)
      acc += x * x
      i += 1
    }
    math.sqrt(acc)
  }

  def vec_norm(v: Column): Column =
    org.apache.spark.sql.functions.call_function("vec_norm", v)
}

/** Nearest row of a FROZEN centroid matrix, as one fused codegen'd
  * kernel: `vec_argmin_cell(v, centroids)` returns
  * `struct<cell: int, d: double>`, the lowest-index row c minimizing
  * d = ‖c‖² − 2·v·c. The ‖v‖² term of the squared distance is constant
  * per row, so dropping it changes no ranking; add `vec_dot(v, v)` to `d`
  * for the distance itself. The same op sequence as the DuckDB twins
  * (`SemDedup.oracleSql`, `PqServe`): ‖c‖² is a host-side left fold
  * emitted once, the dot runs left to right, and a strict `<` against the
  * running best keeps the first index of the min. NaN distances never
  * win over a number.
  *
  * `centroids` must be a constant `array<array<double>>` (a literal, or
  * `array(array(…), …)` in SQL): `build` evaluates it once at
  * analysis and fails with a named message if it is not constant, is
  * empty, is ragged or holds a NULL. The k·dim matrix then rides the
  * plan as one reference object and the loop stays inside whole-stage
  * codegen — no unrolled expression per centroid, no fan-out join, no
  * shuffle. Null vector in, NULL struct out; a vector and a centroid of
  * different lengths are dotted over the shorter prefix, as `vec_dot`
  * does. */
case class VectorArgminCell(child: Expression, centroids: Literal) extends UnaryExpression {

  @transient private lazy val cents = VectorArgminCell.rows(centroids)
  @transient private lazy val c2 = cents.map(_.map(x => x * x).sum)

  override def dataType: DataType = VectorArgminCell.ResultType
  override def prettyName: String = "vec_argmin_cell"
  override def toString: String =
    s"$prettyName($child, ${cents.length}x${cents(0).length} centroids)"

  override protected def nullSafeEval(a: Any): Any =
    VectorArgminCell.argmin(a.asInstanceOf[ArrayData], cents, c2)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("cents", cents, "double[][]")
    val c2Ref = ctx.addReferenceObj("c2", c2, "double[]")
    defineCodeGen(ctx, ev,
      a => s"graft.functions.VectorArgminCell.argmin($a, $centsRef, $c2Ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): VectorArgminCell =
    copy(child = newChild)
}

object VectorArgminCell {
  private val MatrixType = ArrayType(ArrayType(DoubleType))
  private val ResultType = StructType(Seq(
    StructField("cell", IntegerType, nullable = false),
    StructField("d", DoubleType, nullable = false)))

  /** Shared by interpreted eval and generated code. */
  def argmin(a: ArrayData, cents: Array[Array[Double]], c2: Array[Double]): InternalRow = {
    var best = -1
    var bestD = Double.NaN
    var i = 0
    while (i < cents.length) {
      val c = cents(i)
      val n = math.min(a.numElements(), c.length)
      var dot = 0.0
      var j = 0
      while (j < n) { dot += a.getDouble(j) * c(j); j += 1 }
      val d = c2(i) - 2.0 * dot
      if (d < bestD || best < 0 && !d.isNaN) { bestD = d; best = i }
      i += 1
    }
    if (best < 0) best = 0 // every distance NaN: bestD is row 0's
    new GenericInternalRow(Array[Any](best, bestD))
  }

  /** The matrix of a `MatrixType` literal; fails by name on an empty,
    * ragged or NULL-holding one. */
  private def rows(m: Literal): Array[Array[Double]] = {
    def holdsNull() = throw new IllegalArgumentException(
      "vec_argmin_cell: the centroid matrix holds a NULL")
    val outer = m.value.asInstanceOf[ArrayData]
    if (outer == null) holdsNull()
    val cs = Array.tabulate(outer.numElements()) { i =>
      if (outer.isNullAt(i)) holdsNull()
      val row = outer.getArray(i)
      Array.tabulate(row.numElements()) { j =>
        if (row.isNullAt(j)) holdsNull()
        row.getDouble(j)
      }
    }
    if (cs.isEmpty || cs(0).isEmpty)
      throw new IllegalArgumentException("vec_argmin_cell: the centroid matrix is empty")
    cs.indexWhere(_.length != cs(0).length) match {
      case -1 => cs
      case i => throw new IllegalArgumentException(
        s"vec_argmin_cell: the centroid matrix is ragged: row $i has ${cs(i).length} " +
          s"values, row 0 has ${cs(0).length}")
    }
  }

  private[graft] def build(exprs: Seq[Expression]): Expression = {
    DistinctSketch.arity(exprs, "vec_argmin_cell", 2, 2)
    val m = exprs(1)
    if (!m.foldable || !Cast.canCast(m.dataType, MatrixType))
      throw new IllegalArgumentException(
        s"vec_argmin_cell: argument 2 must be a constant array<array<double>>, got ${m.sql}")
    val matrix = Literal(Cast(m, MatrixType).eval(), MatrixType)
    rows(matrix) // a malformed matrix fails here, at analysis
    val v = exprs.head.dataType match {
      case ArrayType(DoubleType, _) => exprs.head
      case _ => Cast(exprs.head, ArrayType(DoubleType))
    }
    VectorArgminCell(v, matrix)
  }

  /** Column API — requires `GraftExtensions.install(spark)` first. */
  def vec_argmin_cell(v: Column, cents: Array[Array[Double]]): Column =
    call_function("vec_argmin_cell", v, typedLit(cents))
}
