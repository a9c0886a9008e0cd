package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions._
import graft.mine.DrainMineAgg

/** GraftExtensions: the native surface resolves from bare SQL text in a
  * session wired via `withExtensions` — no per-query registration. */
class ExtensionsSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  test("all graft-native functions resolve from SQL text as session built-ins") {
    val cos = spark.sql(
      "SELECT graft_cosine(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)), " +
        "array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c").head().getDouble(0)
    assert(math.abs(cos - 1.0) < 1e-9)
    val overlap = spark.sql(
      "SELECT graft_sorted_overlap(array(1, 3, 5), array(3, 4, 5)) AS c").head().getLong(0)
    assert(overlap == 2L)
    val agree = spark.sql(
      "SELECT graft_sig_agree(array(CAST(7 AS BIGINT), CAST(9 AS BIGINT)), " +
        "array(CAST(7 AS BIGINT), CAST(8 AS BIGINT))) AS c").head().getLong(0)
    assert(agree == 1L)
    val mined = spark.sql(
      "SELECT size(graft_mine(x)) AS n FROM VALUES ('a b c'), ('a b d') AS t(x)")
      .head().getInt(0)
    assert(mined >= 1)
    // the two sibling pinned kmeans/seed expressions are BOTH injected
    // (regression: graft_seed_argmin was only temp-registered in Lof)
    val seed = spark.sql(
      "SELECT graft_seed_argmin(array(0.0D, 1.0D), array(10L, 20L), " +
        "array(array(1.0D, 0.0D), array(0.0D, 1.0D))) AS s").head().getLong(0)
    assert(seed == 20L)
  }

  test("a fresh newSession() resolves all 23 functions, each through its one builder") {
    val fresh = spark.newSession()
    val names = Seq(CosineSimilarity.Name, SortedOverlapCount.Name, SigAgreeCount.Name,
      DrainMineAgg.Name, MisraGries.Name, RepStats.Name, NfcNormalize.Name, TopK.Name,
      ShingleSet.Name, ShingleList.Name, TrigramLmScore.Name, TrigramCountAgg.Name,
      JaroWinkler.Name, VocabTf.Name, SortedPairs.Name, SqEuclidean.Name,
      PinnedCosine.Name, PinnedSqDist.Name, PinnedKmeansBest.Name, PinnedSeedArgmin.Name,
      ZValue.Name, Bloom.AggName, Bloom.ContainsName)
    assert(names.distinct.size == 23)
    val missing = names.filterNot(fresh.catalog.functionExists)
    assert(missing.isEmpty, s"not resolvable in a fresh session: $missing")
    // the 3-argument form is the bounded overlap: with m = 3 the two
    // shared elements cannot reach it, so the early exit returns 0
    val bounded = fresh.sql("SELECT graft_sorted_overlap(array(1, 3, 5), " +
      "array(3, 4, 5), CAST(3 AS DOUBLE)) AS c")
    assert(bounded.queryExecution.analyzed.expressions
      .exists(_.exists(_.isInstanceOf[SortedOverlapCountBounded])))
    assert(bounded.head().getLong(0) == 0L)
    val err = intercept[Exception](fresh.sql("SELECT graft_jaro_winkler('abc')"))
    assert(err.getMessage.contains(JaroWinkler.Name), err.getMessage)
  }

  test("CollapseNfc optimizer rule eliminates nested nfc applications") {
    // genuinely non-foldable input (range leaf): a literal — or a VALUES
    // local relation — is constant-folded away entirely before the plan
    // is inspectable
    val df = spark.sql(
      "SELECT graft_nfc(graft_nfc(graft_nfc(concat('cafe\u0301', CAST(id AS STRING))))) AS s" +
        " FROM range(1)")
    // correctness: still composes
    assert(df.head().getString(0) == "café0")
    // plan: exactly ONE graft_nfc survives optimization
    val optimized = df.queryExecution.optimizedPlan.toString
    val n = "graft_nfc".r.findAllIn(optimized).length
    assert(n == 1, s"expected a single collapsed graft_nfc, got $n:\n$optimized")
  }
}
