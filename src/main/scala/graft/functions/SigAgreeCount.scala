package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native Catalyst expression: the number of POSITIONS at which two
  * equal-length long arrays agree — the MinHash signature-agreement
  * count, whose ratio to the signature length estimates Jaccard.
  *
  * The LSH verifier evaluates this on millions of candidate pairs; the
  * built-in formulation `size(filter(zip_with(a, b, _ === _), x => x))`
  * runs INTERPRETED (higher-order functions never enter codegen) and
  * allocates two 64-element arrays per pair. This is one fused
  * zero-allocation loop inside whole-stage codegen. */
case class SigAgreeCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<bigint> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_sig_agree"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var i = 0; var c = 0L
    while (i < n) {
      if (x.getLong(i) == y.getLong(i)) c += 1
      i += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // freshName for every method-scope local: fixed names collide when
      // the expression is inlined more than once in one codegen scope,
      // which fails Janino compilation and silently drops the stage to
      // interpreted mode (the for-init variable is loop-scoped and safe)
      val c = ctx.freshName("c")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      s"""
         |long $c = 0L;
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.getLong($i) == $b.getLong($i)) $c++;
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SigAgreeCount {
  val Name = "graft_sig_agree"
}
