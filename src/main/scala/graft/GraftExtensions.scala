package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{BloomAgg, BloomMightContain, Bloom, CosineSimilarity, JaroWinkler, MisraGries, NfcNormalize, PinnedCosine, PinnedKmeansBest, PinnedSeedArgmin, PinnedSqDist, RepStats, ShingleList, ShingleSet, SigAgreeCount, SortedOverlapCount, SortedOverlapCountBounded, SortedPairs, SqEuclidean, TopK, TrigramCountAgg, TrigramLmScore, VocabTf, ZValue}
import graft.mine.DrainMineAgg

/** The library's `SparkSessionExtensions` injection point — the idiomatic
  * way a Spark-native library ships its Catalyst surface, and the only way
  * a graft function becomes resolvable. Every graft expression and
  * aggregate is a built-in of any session created with
  *
  *   `--conf spark.sql.extensions=graft.GraftExtensions`
  *
  * (or `SparkSession.builder.withExtensions(new GraftExtensions)`): the
  * names resolve in SQL text, `call_function`, views, and `newSession()`
  * children. `GraftSession` wires this in; a session built without it
  * fails analysis of any graft function with `UNRESOLVED_ROUTINE`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.Functions.foreach(ext.injectFunction)
    // whole-operator nodes (custom-operator ladder rung (c))
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    // optimizer rules (the Rule[LogicalPlan] rung): algebraic rewrites
    // over graft expressions — nfc idempotence collapse
    ext.injectOptimizerRule(_ => graft.plans.CollapseNfc)
  }
}

object GraftExtensions {
  /** One SQL function: its name, the class `DESCRIBE FUNCTION` reports,
    * and its builder, which rejects any argument count not in `arities`
    * with an error naming the function. */
  private def fn(name: String, clazz: Class[_], arities: Int*)(
      build: Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(clazz.getCanonicalName, name),
      (exprs: Seq[Expression]) => {
        if (!arities.contains(exprs.length)) throw new IllegalArgumentException(
          s"$name takes ${arities.mkString(" or ")} arguments, got ${exprs.length}")
        build(exprs)
      })

  /** Every graft SQL function, one builder per name. */
  private val Functions = Seq(
    fn(CosineSimilarity.Name, classOf[CosineSimilarity], 2)(
      e => CosineSimilarity(e(0), e(1))),
    // 3 arguments: the early-exit form bounded by the caller's minimum
    fn(SortedOverlapCount.Name, classOf[SortedOverlapCount], 2, 3) {
      case Seq(a, b) => SortedOverlapCount(a, b)
      case Seq(a, b, m) => SortedOverlapCountBounded(a, b, m)
    },
    fn(SigAgreeCount.Name, classOf[SigAgreeCount], 2)(e => SigAgreeCount(e(0), e(1))),
    fn(DrainMineAgg.Name, classOf[DrainMineAgg], 1)(e => DrainMineAgg(e(0))),
    fn(MisraGries.Name, classOf[MisraGries], 2)(MisraGries.build),
    fn(RepStats.Name, classOf[RepStats], 1)(e => RepStats(e(0))),
    fn(NfcNormalize.Name, classOf[NfcNormalize], 1)(e => NfcNormalize(e(0))),
    fn(TopK.Name, classOf[TopK], 3)(TopK.build),
    fn(ShingleSet.Name, classOf[ShingleSet], 2)(e => ShingleSet(e(0), e(1))),
    fn(ShingleList.Name, classOf[ShingleList], 2)(e => ShingleList(e(0), e(1))),
    fn(TrigramLmScore.Name, classOf[TrigramLmScore], 2)(e => TrigramLmScore(e(0), e(1))),
    fn(TrigramCountAgg.Name, classOf[TrigramCountAgg], 1)(e => TrigramCountAgg(e(0))),
    fn(JaroWinkler.Name, classOf[JaroWinkler], 2)(e => JaroWinkler(e(0), e(1))),
    fn(VocabTf.Name, classOf[VocabTf], 2)(e => VocabTf(e(0), e(1))),
    fn(SortedPairs.Name, classOf[SortedPairs], 1)(e => SortedPairs(e(0))),
    fn(SqEuclidean.Name, classOf[SqEuclidean], 2)(e => SqEuclidean(e(0), e(1))),
    fn(PinnedCosine.Name, classOf[PinnedCosine], 2)(e => PinnedCosine(e(0), e(1))),
    fn(PinnedSqDist.Name, classOf[PinnedSqDist], 2)(e => PinnedSqDist(e(0), e(1))),
    fn(PinnedKmeansBest.Name, classOf[PinnedKmeansBest], 3)(
      e => PinnedKmeansBest(e(0), e(1), e(2))),
    fn(PinnedSeedArgmin.Name, classOf[PinnedSeedArgmin], 3)(
      e => PinnedSeedArgmin(e(0), e(1), e(2))),
    fn(ZValue.Name, classOf[ZValue], 2)(e => ZValue(e(0), e(1))),
    fn(Bloom.AggName, classOf[BloomAgg], 3)(BloomAgg.build),
    fn(Bloom.ContainsName, classOf[BloomMightContain], 2)(
      e => BloomMightContain(e(0), e(1))))
}
