package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Native Catalyst expression: PINNED squared Euclidean distance —
  * each per-dimension squared difference rounds to a 1e-9-grid long
  * (ties away from zero, the SQL `round` convention) and the result is
  * the EXACT integer sum, so any consumer comparing or accumulating
  * these distances is engine/partitioning-invariant by construction.
  *
  * Exists because [[graft.sim.KCenter]]'s greedy traversal re-evaluates
  * its accumulated min-distance chain O(k²) times: the `zip_with` +
  * `aggregate` HOF form of the same pin is interpreted (boxed lambda
  * per element) and measured ~2× the whole query's round-9 time at
  * k = 16; this node keeps the chain inside whole-stage codegen like
  * its plain siblings ([[SqEuclidean]], [[CosineSimilarity]]). */
case class PinnedSqDist(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float>/array<double> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_sqdist_pinned"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    val lf = isFloat(left); val rf = isFloat(right)
    var i = 0
    while (i < n) {
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      val d = xv - yv
      s += PinnedCosine.q9(d * d)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      val getX = if (isFloat(left)) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      val getY = if (isFloat(right)) s"(double) $b.getFloat($i)" else s"$b.getDouble($i)"
      val q = classOf[PinnedCosine].getName + ".q9"
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $s = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  double dv = $getX - $getY;
         |  $s += $q(dv * dv);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object PinnedSqDist {
  val Name = "graft_sqdist_pinned"
}
