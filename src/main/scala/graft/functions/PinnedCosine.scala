package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: cosine similarity with PINNED integer
  * accumulations — every per-term product `x·y`, `x·x`, `y·y` rounds to
  * a 1e-9-grid long (ties away from zero, the DuckDB/Spark `round`
  * convention) and the three accumulators are EXACT integer sums, so
  * the result is one closing double expression of exact integers:
  * bit-identical on any engine, any partitioning, any SIMD/FMA mood of
  * the JIT.
  *
  * Why this exists next to [[CosineSimilarity]]: the plain double fold
  * is already sequential and engine-portable in practice, but a
  * consumer whose DOWNSTREAM quantization sits directly on a
  * neighbor-ORDER decision (IntrinsicDim's r₁/r₂, where a 1-ulp
  * divergence near a grid boundary can swap the two nearest neighbors
  * and move the MLE) needs the accumulation itself to be exact — the
  * probabilistic "coarser grid makes flips rare" argument becomes a
  * certainty. The 1e-9 per-term pin keeps quantization error ~1e-8 per
  * 64-dim vector, far inside every downstream readout, and the
  * accumulators stay bounded (|terms| ≤ 1e9·dim, exact in a long and
  * in a double at any realistic dim).
  *
  * Codegen mirrors [[CosineSimilarity]] (tight primitive loop inside
  * whole-stage codegen, no boxing).
  */
case class PinnedCosine(left: Expression, right: Expression)
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
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine_pinned"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0L; var nx = 0L; var ny = 0L
    val lf = isFloat(left); val rf = isFloat(right)
    var i = 0
    while (i < n) {
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      dot += PinnedCosine.q9(xv * yv)
      nx += PinnedCosine.q9(xv * xv)
      ny += PinnedCosine.q9(yv * yv)
      i += 1
    }
    dot.toDouble / math.sqrt(nx.toDouble * ny.toDouble)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val i = ctx.freshName("i")
      val getX = if (isFloat(left)) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      val getY = if (isFloat(right)) s"(double) $b.getFloat($i)" else s"$b.getDouble($i)"
      val q = classOf[PinnedCosine].getName + ".q9"
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $dot = 0L, $nx = 0L, $ny = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  double xv = $getX;
         |  double yv = $getY;
         |  $dot += $q(xv * yv); $nx += $q(xv * xv); $ny += $q(yv * yv);
         |}
         |${ev.value} = (double) $dot / java.lang.Math.sqrt((double) $nx * (double) $ny);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object PinnedCosine {
  val Name = "graft_cosine_pinned"

  /** 1e-9-grid pin, ties AWAY from zero — the SQL `round` convention
    * (java Math.round is floor(x+0.5), which differs at negative
    * halves). Static so codegen can call it unqualified-by-instance. */
  def q9(v: Double): Long = {
    val s = v * 1e9
    if (s >= 0) math.round(s) else -math.round(-s)
  }
}
