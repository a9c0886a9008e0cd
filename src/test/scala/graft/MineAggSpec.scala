package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.mine.{DrainConfig, DrainMineAgg, EventTemplate, TemplateMining}
import graft.sources.Tables

/** `graft_mine` — M1 as a native TypedImperativeAggregate. */
class MineAggSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  test("graft_mine folds the three line families on one partition") {
    import spark.implicits._
    val lines =
      (1 to 40).map(i => s"task $i started") ++
      (1 to 25).map(i => s"job $i failed code ${i % 7}") ++
      Seq.fill(10)("heartbeat ok")
    val df = lines.toDF("line").coalesce(1)
    val mined = df.agg(call_function(DrainMineAgg.Name, col("line")).as("ts"))
      .select(explode(col("ts")).as("t")).select(col("t.*"))
      .collect().map(r => (r.getString(2), r.getLong(1)))
    assert(mined.map(_._2).sum == 75, "mass conservation over the corpus")
    val byMass = mined.map(_._2).sorted.toSeq
    assert(byMass == Seq(10L, 25L, 40L), s"expected the three families, got $mined")
    assert(mined.exists { case (t, m) => m == 40 && t == "task <*> started" },
      s"numeric parametrization must generalize: $mined")
  }

  test("graft_mine per-group in SQL conserves mass under parallel merge") {
    Tables.documents(spark, TestSession.sf).createOrReplaceTempView("documents")
    val out = spark.sql(
      """WITH mined AS (
           SELECT source, graft_mine(text) AS ts FROM documents GROUP BY source)
         SELECT source, size(ts) AS n_clusters,
                aggregate(ts, CAST(0 AS BIGINT), (acc, x) -> acc + x.size) AS mass
         FROM mined""").collect()
      .map(r => r.getString(0) -> (r.getInt(1), r.getLong(2))).toMap
    val expected = Tables.documents(spark, TestSession.sf)
      .groupBy(col("source")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.keySet == expected.keySet)
    out.foreach { case (src, (nClusters, mass)) =>
      assert(mass == expected(src), s"$src: mined mass $mass != ${expected(src)} lines")
      assert(nClusters > 0 && nClusters <= mass)
    }
  }

  test("graft_mine matches mineParallel's cluster content on the same input") {
    import spark.implicits._
    // one partition and no partial merge: graft_mine, mineParallel and a
    // sequential tree fold the same lines in the same order
    val lines = Tables.documents(spark, TestSession.sf).orderBy(col("doc_id"))
      .limit(200).select(col("text")).as[String].collect().toSeq
    val df = lines.toDF("text").coalesce(1)
    def content(ts: Seq[EventTemplate]) = ts.map(t => (t.template, t.size)).sorted
    val viaAgg = df.agg(call_function(DrainMineAgg.Name, col("text")).as("ts"))
      .select(explode(col("ts")).as("t"))
      .select(col("t.template"), col("t.size"))
      .as[(String, Long)].collect().toSeq.sorted
    val tree = DrainConfig().newTree()
    lines.foreach(l => tree.addLogMessage(if (l == null) "" else l))
    assert(viaAgg.map(_._2).sum == 200, "mass conservation")
    assert(viaAgg == content(TemplateMining.mineParallel(df, "text").collect().toSeq))
    assert(viaAgg == content(tree.clusters))
  }
}
