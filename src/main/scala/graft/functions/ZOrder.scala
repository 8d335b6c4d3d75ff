package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Cast, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}

/** Morton (Z-order) curve value of two long columns — the multi-column
  * generalization of a linear sort key: sorting by the interleaved value
  * clusters rows that are close in BOTH dimensions into the same
  * files/row-groups, so parquet min/max stats prune scans filtered on
  * EITHER column (a linear sort only serves its leading column). A
  * `repartitionByRange` + `sortWithinPartitions` on `z_value(a, b)` before
  * the write is the full layout move. Native codegen'd expression; the
  * 31-iteration interleave loop compiles into the stage.
  *
  * Inputs must be non-negative (negative values RAISE — see
  * `ZOrder.interleave`) and < 2^31 (normalize first — day numbers,
  * bucket ids, ranks all qualify); values past 2^31 fold into the same
  * curve position as their low 31 bits.
  */
case class ZValue(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "z_value"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    ZOrder.interleave(a.asInstanceOf[Long], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.ZOrder.interleave($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ZValue =
    copy(left = newLeft, right = newRight)
}

object ZOrder {
  /** Interleave the low 31 bits: `a` occupies even bit positions, `b`
    * odd — a 62-bit non-negative z-value. Shared by interpreted eval and
    * generated code. Negative inputs raise: folding their low bits in
    * would place the row near the curve's END (a negative long's low
    * bits are mostly ones), silently scattering the layout that
    * a sort on z exists to create — and datediff-style inputs CAN
    * go negative on bad data. */
  def interleave(a: Long, b: Long): Long = {
    if (a < 0 || b < 0)
      throw new IllegalArgumentException(
        s"z_value requires non-negative inputs, got ($a, $b) — shift/clamp first")
    var z = 0L
    var i = 0
    while (i < 31) {
      z |= ((a >>> i) & 1L) << (2 * i)
      z |= ((b >>> i) & 1L) << (2 * i + 1)
      i += 1
    }
    z
  }

  def z_value(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("z_value", a, b)

  /** Builder-level int->long widening (ExpectsInputTypes isn't
    * implementable outside the sql package): without it, IntegerType
    * inputs like datediff() work under codegen (Java widens) but throw
    * ClassCastException on the interpreted path, e.g. during constant
    * folding. */
  private[graft] def toLongExpr(e: Expression): Expression =
    if (e.dataType == LongType) e else Cast(e, LongType)

  private[graft] def build(exprs: Seq[Expression]): Expression = {
    DistinctSketch.arity(exprs, "z_value", 2, 2)
    ZValue(toLongExpr(exprs.head), toLongExpr(exprs(1)))
  }
}
