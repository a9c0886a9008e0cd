package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.Bloom
import graft.operators.RuntimeFilter

/** Bloom runtime-filter: set/contains round-trip, zero false negatives,
  * FP rate within the analytic bound, pruned join ≡ plain join, and the
  * plan shape (filter below the join, inside whole-stage codegen). */
class BloomSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  test("set/contains: every inserted hash is found (no false negatives, scala core)") {
    val words = new Array[Long](1024 / 64)
    val hs = (1L to 200L).map(i => i * 0x9e3779b97f4a7c15L)
    hs.foreach(h => Bloom.set(words, h, 5))
    assert(hs.forall(h => Bloom.contains(words, h, 5)))
  }

  test("prune keeps every joining fact row; FP rate within 2x analytic bound") {
    import spark.implicits._
    val dim = (1L to 500L).map(i => i * 7L).toDF("key")       // members: multiples of 7
    val fact = (1L to 20000L).toDF("fk")                       // mostly non-members
    val m = 1 << 16
    val k = 5
    val kept = RuntimeFilter.prune(fact, "fk", dim, "key", m, k)
      .collect().map(_.getLong(0)).toSet
    val members = (1L to 500L).map(_ * 7L).filter(_ <= 20000L).toSet
    assert(members.subsetOf(kept), "bloom dropped a joining row (false negative)")
    val nonMembers = (1L to 20000L).filterNot(members).size
    val fps = kept.size - members.count(_ <= 20000L)
    val n = 500.0
    val analytic = math.pow(1 - math.exp(-k * n / m), k)
    assert(fps.toDouble / nonMembers <= math.max(2 * analytic, 0.01),
      s"FP rate ${fps.toDouble / nonMembers} vs analytic $analytic")
  }

  test("prunedJoin returns exactly the plain join, any key type") {
    import spark.implicits._
    val dim = Seq(("a", 1), ("c", 3), ("zz", 26)).toDF("dk", "dv")
    val fact = ('a' to 'z').map(c => (c.toString, c.toInt.toLong)).toDF("fk", "fv")
    val got = RuntimeFilter.prunedJoin(fact, "fk", dim, "dk")
      .select("fk", "fv", "dv").collect().map(r =>
        (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    val want = fact.join(dim, col("fk") === col("dk"))
      .select("fk", "fv", "dv").collect().map(r =>
        (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == want && want.size == 2) // 'zz' never joins, 'a','c' do
  }

  test("plan shape: bloom predicate filters the fact below the join, codegen'd") {
    // range-backed inputs: ConvertToLocalRelation would evaluate a filter
    // over a local Seq at optimization time and erase it from the plan
    val dim = spark.range(1, 11).toDF("key")
    val fact = spark.range(1, 1001).toDF("fk")
    val df = RuntimeFilter.prunedJoin(fact, "fk", dim, "key")
    df.collect() // finalize the adaptive plan so codegen spans are visible
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_bloom_contains"), plan)
    // the probe must sit under WholeStageCodegen, not a fallback project
    val filterLine = plan.linesIterator.find(_.contains("graft_bloom_contains")).get
    assert(filterLine.contains("Filter"), s"probe not a Filter:\n$plan")
    // '*(n)' is AQE's whole-stage-codegen marker: the probe loop is compiled
    assert(filterLine.contains("*("), s"bloom filter fell out of codegen:\n$plan")
  }

  test("agg is usable from SQL text; contains rejects a non-foldable blob") {
    import spark.implicits._
    (1L to 50L).toDF("k").createOrReplaceTempView("bloom_dim")
    val blob = spark.sql(
      s"SELECT ${Bloom.AggName}(xxhash64(k), 65536, 5) FROM bloom_dim")
      .head().getAs[Array[Byte]](0)
    val (k, words) = Bloom.parse(blob)
    assert(k == 5 && words.length == 65536 / 64)
    assert((1L to 50L).forall(v => Bloom.contains(words,
      spark.range(1).select(xxhash64(lit(v))).head().getLong(0), 5)))
    val err = intercept[Exception] {
      Seq("ab", "cd").toDF("k")
        .select(call_function(Bloom.ContainsName,
          col("k").cast("binary"), xxhash64(col("k"))))
        .collect()
    }
    assert(err.getMessage.toLowerCase.contains("foldable")
      || err.getMessage.toLowerCase.contains("literal"), err.getMessage)
  }
}
