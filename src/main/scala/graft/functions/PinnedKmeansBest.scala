package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression: PINNED spherical-k-means argmax — given a
  * point's 1e-6-grid coordinates `v6: array<long>`, its exact squared
  * norm `nv12: long`, and the centroid table `cents9: array<array<long>>`
  * (1e-9 grid, indexed by cluster), returns
  * `struct(cluster: int, sim: double)` for the best cluster.
  *
  * The arithmetic replicates [[graft.sim.Similarity.kmeansAssign]]'s
  * exploded-join formulation BIT FOR BIT (and therefore the q98 oracle's
  * unrolled SQL twin): per dimension `round((c9*x6)/1e6)` on the SQL
  * half-away-from-zero convention, summed exactly as a long `dot9`;
  * `sim = dot9 / sqrt(nv12) / 1e3` as the same double expression; argmax
  * with ties to the LOWEST cluster index (the `max(struct(sim, -c))`
  * order). `nv12 <= 0` pins `sim = 0.0` for every cluster, so the
  * degenerate all-zero vector lands in cluster 0 like the join form.
  *
  * Exists because the exploded formulation costs rows x dim x k join
  * rows plus a (id, cluster) hash aggregation PER ITERATION — 4-5
  * shuffle stages each. This node is map-side over a broadcast literal:
  * one shuffle per Lloyd iteration (the centroid mean) remains. */
case class PinnedKmeansBest(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (first.dataType, second.dataType, third.dataType) match {
    case (ArrayType(LongType, _), LongType, ArrayType(ArrayType(LongType, _), _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (a, b, c) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<bigint>, bigint, array<array<bigint>>), got " +
        s"${a.simpleString}, ${b.simpleString}, ${c.simpleString}")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("cluster", IntegerType, nullable = false),
    StructField("sim", DoubleType, nullable = false)))
  override def prettyName: String = "graft_kmeans_best"

  override def nullSafeEval(v: Any, n: Any, c: Any): Any = {
    val v6 = v.asInstanceOf[ArrayData]
    val nv12 = n.asInstanceOf[Long]
    val cents = c.asInstanceOf[ArrayData]
    val k = cents.numElements()
    val denom = if (nv12 > 0) math.sqrt(nv12.toDouble) else 0.0
    var best = 0
    var bestSim = Double.NegativeInfinity
    var ci = 0
    while (ci < k) {
      val cent = cents.getArray(ci)
      val d = math.min(v6.numElements(), cent.numElements())
      var dot9 = 0L
      var t = 0
      while (t < d) {
        val dv = (cent.getLong(t) * v6.getLong(t)).toDouble / 1e6
        dot9 += (if (dv >= 0) math.round(dv) else -math.round(-dv))
        t += 1
      }
      val sim = if (nv12 > 0) dot9.toDouble / denom / 1e3 else 0.0
      if (sim > bestSim) { bestSim = sim; best = ci }
      ci += 1
    }
    new GenericInternalRow(Array[Any](best, bestSim))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, n, c) => {
      val k = ctx.freshName("k")
      val denom = ctx.freshName("denom")
      val best = ctx.freshName("best")
      val bestSim = ctx.freshName("bestSim")
      val ci = ctx.freshName("ci")
      val cent = ctx.freshName("cent")
      val d = ctx.freshName("d")
      val dot9 = ctx.freshName("dot9")
      val t = ctx.freshName("t")
      val dv = ctx.freshName("dv")
      val sim = ctx.freshName("sim")
      val rowCls = classOf[GenericInternalRow].getName
      s"""
         |int $k = $c.numElements();
         |double $denom = $n > 0L ? java.lang.Math.sqrt((double) $n) : 0.0;
         |int $best = 0;
         |double $bestSim = Double.NEGATIVE_INFINITY;
         |for (int $ci = 0; $ci < $k; $ci++) {
         |  org.apache.spark.sql.catalyst.util.ArrayData $cent = $c.getArray($ci);
         |  int $d = java.lang.Math.min($v.numElements(), $cent.numElements());
         |  long $dot9 = 0L;
         |  for (int $t = 0; $t < $d; $t++) {
         |    double $dv = ((double) ($cent.getLong($t) * $v.getLong($t))) / 1e6;
         |    $dot9 += $dv >= 0 ? java.lang.Math.round($dv) : -java.lang.Math.round(-$dv);
         |  }
         |  double $sim = $n > 0L ? ((double) $dot9) / $denom / 1e3 : 0.0;
         |  if ($sim > $bestSim) { $bestSim = $sim; $best = $ci; }
         |}
         |${ev.value} = new $rowCls(new Object[]{$best, $bestSim});
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object PinnedKmeansBest {
  val Name = "graft_kmeans_best"
}
