package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Native Catalyst expression: `|A ∩ B|` for two SORTED-ascending int
  * arrays, by linear merge — O(|A|+|B|), zero allocation.
  *
  * The exact-Jaccard verifier calls this on millions of candidate pairs;
  * `size(array_intersect(a, b))` builds (and immediately discards) a hash
  * set and a result array per pair. Inputs MUST be sorted ascending with
  * distinct elements — the caller (tokenJaccardPairs) guarantees it by
  * construction (global rarity-rank encoding).
  */
case class SortedOverlapCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(IntegerType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<int> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_sorted_overlap"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    var i = 0; var j = 0; var c = 0L
    val nx = x.numElements(); val ny = y.numElements()
    while (i < nx && j < ny) {
      val xv = x.getInt(i); val yv = y.getInt(j)
      if (xv == yv) { c += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // freshName for every method-scope local: fixed names collide when
      // the expression is inlined more than once in one codegen scope
      // (e.g. the overlap count feeding both the Jaccard filter and the
      // output column), which fails Janino compilation and silently
      // drops the stage to interpreted mode
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      s"""
         |int $i = 0, $j = 0;
         |long $c = 0L;
         |int $nx = $a.numElements(), $ny = $b.numElements();
         |while ($i < $nx && $j < $ny) {
         |  int xv = $a.getInt($i), yv = $b.getInt($j);
         |  if (xv == yv) { $c++; $i++; $j++; }
         |  else if (xv < yv) { $i++; } else { $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Bounded variant — the PPJoin positional/suffix filter applied INSIDE
  * the verification merge: `graft_sorted_overlap(a, b, minNeeded)` bails
  * out of the merge the moment
  * `count_so_far + min(remaining_a, remaining_b) < minNeeded` — the
  * maximum still-achievable overlap can no longer reach the Jaccard
  * threshold's required minimum, so the pair is doomed and the rest of
  * the merge is wasted work. On a near-dup candidate set (most pairs
  * share only their blocking prefix token) this kills the typical
  * candidate within a few steps instead of O(|A|+|B|).
  *
  * LOSSLESS for the ≥-τ filter: the early exit fires only when the TRUE
  * final count is provably < `minNeeded`, and the partial count returned
  * is ≤ the true count, so the downstream `jaccard >= τ` comparison
  * (monotone in the count) still rejects exactly the pairs it would have
  * rejected — surviving pairs never trigger the exit and get the exact
  * count. `minNeeded` is the caller's (already ε-relaxed, conservative)
  * real-valued bound — see the candidate-side `minOverlap` derivation in
  * [[graft.dedup.Dedup.jaccardPairsOfSets]]. */
case class SortedOverlapCountBounded(left: Expression, right: Expression,
                                     minNeeded: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {

  override def first: Expression = left
  override def second: Expression = right
  override def third: Expression = minNeeded

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(IntegerType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType) &&
        minNeeded.dataType == org.apache.spark.sql.types.DoubleType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<int>, array<int>, double), got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}, " +
        s"${minNeeded.dataType.simpleString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_sorted_overlap"

  override def nullSafeEval(a: Any, b: Any, m: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val need = m.asInstanceOf[Double]
    var i = 0; var j = 0; var c = 0L
    val nx = x.numElements(); val ny = y.numElements()
    while (i < nx && j < ny) {
      val rem = math.min(nx - i, ny - j)
      if ((c + rem).toDouble < need) return c
      val xv = x.getInt(i); val yv = y.getInt(j)
      if (xv == yv) { c += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, m) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val rem = ctx.freshName("rem")
      s"""
         |int $i = 0, $j = 0;
         |long $c = 0L;
         |int $nx = $a.numElements(), $ny = $b.numElements();
         |while ($i < $nx && $j < $ny) {
         |  int $rem = ($nx - $i < $ny - $j) ? ($nx - $i) : ($ny - $j);
         |  if ((double) ($c + $rem) < $m) break;
         |  int xv = $a.getInt($i), yv = $b.getInt($j);
         |  if (xv == yv) { $c++; $i++; $j++; }
         |  else if (xv < yv) { $i++; } else { $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(left = newFirst, right = newSecond, minNeeded = newThird)
}

object SortedOverlapCount {
  val Name = "graft_sorted_overlap"
}
