package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression: nearest-seed assignment under the LOF
  * bucket pin — given a vector `v`, the seed id table `sids:
  * array<long>` (ASCENDING by id) and their vectors `svs:
  * array<array<float|double>>` (same order), returns the winning seed
  * id for `argmin (d6, sid)` where `d6 = round((1 - cosine(v, sv)) *
  * 1e6)` on the SQL half-away-from-zero convention and cosine is
  * [[CosineSimilarity]]'s exact left-to-right double fold.
  *
  * Replaces the join formulation (`pts × broadcast(seeds)` →
  * `min(struct(d6, sid))`) BIT FOR BIT — same grid, same tie order —
  * so the q390/q403/q407 oracles are unchanged. The join form inflates
  * the corpus ×|seeds| through a nested-loop join into a SORT-based
  * aggregate (struct-min has no hash form): at any scale that is
  * |seeds|× the corpus sorted and re-folded; this node is one map-side
  * pass, no join, no sort, no aggregate.
  *
  * Degenerate norms replicate the join form's exact lowering: Spark's
  * `round` passes NaN/±Inf through and the non-ANSI double->long cast
  * maps NaN to 0 and ±Inf to Long.Max/MinValue — so a NaN cosine scores
  * d6 = 0 here too. Ties break to the smallest seed id because
  * iteration follows the ascending-id seed order with a strict
  * improvement test (the `min(struct(d6, sid))` order). */
case class PinnedSeedArgmin(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (first.dataType, second.dataType, third.dataType) match {
    case (ArrayType(FloatType | DoubleType, _), ArrayType(LongType, _),
          ArrayType(ArrayType(FloatType | DoubleType, _), _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (a, b, c) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<float|double>, array<bigint>, " +
        s"array<array<float|double>>), got ${a.simpleString}, " +
        s"${b.simpleString}, ${c.simpleString}")
  }

  private def vIsFloat: Boolean =
    first.dataType.asInstanceOf[ArrayType].elementType == FloatType
  private def sIsFloat: Boolean =
    third.dataType.asInstanceOf[ArrayType].elementType
      .asInstanceOf[ArrayType].elementType == FloatType

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_seed_argmin"

  /** `round((1 - c) * 1e6)` under SQL half-away-from-zero, then the
    * non-ANSI double->long cast lowering (NaN -> 0, ±Inf -> extremes). */
  private def d6(c: Double): Long = {
    val m = (1.0 - c) * 1e6
    if (java.lang.Double.isNaN(m)) 0L
    else if (java.lang.Double.isInfinite(m)) { if (m > 0) Long.MaxValue else Long.MinValue }
    else if (m >= 0) math.round(m) else -math.round(-m)
  }

  override def nullSafeEval(v0: Any, ids0: Any, svs0: Any): Any = {
    val v = v0.asInstanceOf[ArrayData]
    val ids = ids0.asInstanceOf[ArrayData]
    val svs = svs0.asInstanceOf[ArrayData]
    val k = ids.numElements()
    var best = 0L
    var bestD = Long.MaxValue
    var first = true
    var s = 0
    while (s < k) {
      val sv = svs.getArray(s)
      val n = math.min(v.numElements(), sv.numElements())
      var dot = 0.0; var nx = 0.0; var ny = 0.0
      var i = 0
      while (i < n) {
        val xv = if (vIsFloat) v.getFloat(i).toDouble else v.getDouble(i)
        val yv = if (sIsFloat) sv.getFloat(i).toDouble else sv.getDouble(i)
        dot += xv * yv; nx += xv * xv; ny += yv * yv
        i += 1
      }
      val d = d6(dot / (math.sqrt(nx) * math.sqrt(ny)))
      if (first || d < bestD) { bestD = d; best = ids.getLong(s); first = false }
      s += 1
    }
    best
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, ids, svs) => {
      val k = ctx.freshName("k")
      val best = ctx.freshName("best")
      val bestD = ctx.freshName("bestD")
      val fst = ctx.freshName("fst")
      val s = ctx.freshName("s")
      val sv = ctx.freshName("sv")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val i = ctx.freshName("i")
      val m = ctx.freshName("m")
      val d = ctx.freshName("d")
      val getX = if (vIsFloat) s"(double) $v.getFloat($i)" else s"$v.getDouble($i)"
      val getY = if (sIsFloat) s"(double) $sv.getFloat($i)" else s"$sv.getDouble($i)"
      s"""
         |int $k = $ids.numElements();
         |long $best = 0L;
         |long $bestD = Long.MAX_VALUE;
         |boolean $fst = true;
         |for (int $s = 0; $s < $k; $s++) {
         |  org.apache.spark.sql.catalyst.util.ArrayData $sv = $svs.getArray($s);
         |  int $n = java.lang.Math.min($v.numElements(), $sv.numElements());
         |  double $dot = 0.0, $nx = 0.0, $ny = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double xv = $getX;
         |    double yv = $getY;
         |    $dot += xv * yv; $nx += xv * xv; $ny += yv * yv;
         |  }
         |  double $m = (1.0 - $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny))) * 1e6;
         |  long $d = java.lang.Double.isNaN($m) ? 0L
         |    : (java.lang.Double.isInfinite($m) ? ($m > 0 ? Long.MAX_VALUE : Long.MIN_VALUE)
         |    : ($m >= 0 ? java.lang.Math.round($m) : -java.lang.Math.round(-$m)));
         |  if ($fst || $d < $bestD) { $bestD = $d; $best = $ids.getLong($s); $fst = false; }
         |}
         |${ev.value} = $best;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object PinnedSeedArgmin {
  val Name = "graft_seed_argmin"
}
