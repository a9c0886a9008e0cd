package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}

/** Native Catalyst expression: the Z-ORDER (Morton) curve value of two
  * non-negative dimension keys — `x`'s low 32 bits on the even output
  * bits, `y`'s on the odd. Sorting or range-partitioning a table by this
  * value co-locates rows that are close in BOTH dimensions, which is
  * what makes file-level min/max statistics selective for predicates on
  * EITHER column (multi-dimensional data clustering for scan pruning —
  * the layout trick behind every lakehouse OPTIMIZE ZORDER BY).
  *
  * A native expression (not a UDF) because the z-value is computed for
  * every row of a table-scale rewrite: the bit interleave stays inside
  * whole-stage codegen via the magic-constant spread (4 shift-mask steps
  * per dimension — Morton encoding, the standard bit-twiddling form).
  *
  * Negative inputs are rejected at runtime (ANSI-style): silently
  * wrapping a negative key would interleave its two's-complement bits
  * and scatter "small" values to the far end of the curve.
  */
case class ZValue(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two bigint arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")

  override def dataType: DataType = LongType
  override def prettyName: String = ZValue.Name

  override def nullSafeEval(a: Any, b: Any): Any =
    ZValue.interleave(a.asInstanceOf[Long], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.ZValue.interleave($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object ZValue {
  val Name = "graft_zvalue"


  /** Spread the low 32 bits of `v` onto the even bits of a long (Morton
    * magic constants). */
  private def spread(v: Long): Long = {
    var x = v & 0xFFFFFFFFL
    x = (x | (x << 16)) & 0x0000FFFF0000FFFFL
    x = (x | (x << 8)) & 0x00FF00FF00FF00FFL
    x = (x | (x << 4)) & 0x0F0F0F0F0F0F0F0FL
    x = (x | (x << 2)) & 0x3333333333333333L
    x = (x | (x << 1)) & 0x5555555555555555L
    x
  }

  /** Static entry shared by interpreted eval and generated code. */
  def interleave(x: Long, y: Long): Long = {
    if (x < 0 || y < 0)
      throw new IllegalArgumentException(
        s"$Name requires non-negative inputs, got ($x, $y)")
    spread(x) | (spread(y) << 1)
  }
}
