package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sim.{Dbscan, ItemSimilarity}

/** DBSCAN (q289) and item-item CF cosine (q290). */
class DbscanItemCfSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  private def pts(rows: (Long, Seq[Float])*) = {
    import spark.implicits._
    rows.toDF("id", "v")
  }

  test("dbscan separates two dense blobs and flags the straggler as noise") {
    // blob A around (0,0), blob B around (10,10), one point far away;
    // eps = 2, minPts = 3 (self included)
    val df = pts(
      1L -> Seq(0f, 0f), 2L -> Seq(1f, 0f), 3L -> Seq(0f, 1f),
      11L -> Seq(10f, 10f), 12L -> Seq(11f, 10f), 13L -> Seq(10f, 11f),
      99L -> Seq(50f, 50f))
    val r = Dbscan.cluster(df, "id", "v", 2.0, 3)
      .collect().map(x => (x.getLong(0), x.getString(1), x.getLong(2)))
    val m = r.map(t => t._1 -> (t._2, t._3)).toMap
    assert(Seq(1L, 2L, 3L).forall(m(_) == ("core", 1L)))
    assert(Seq(11L, 12L, 13L).forall(m(_) == ("core", 11L)))
    assert(m(99L) == ("noise", -1L))
  }

  test("dbscan border points adopt the minimum core cluster label") {
    // only 2 and 3 are cores (3 neighbors incl. self); 1 and 4 sit within
    // eps of one core each → borders of the core component, whose label
    // is the minimum CORE id (2)
    val df = pts(
      1L -> Seq(0f, 0f), 2L -> Seq(1f, 0f), 3L -> Seq(2f, 0f),
      4L -> Seq(3.2f, 0f))
    val r = Dbscan.cluster(df, "id", "v", 1.5, 3)
      .collect().map(x => (x.getLong(0), x.getString(1), x.getLong(2)))
    val m = r.map(t => t._1 -> (t._2, t._3)).toMap
    assert(m(1L) == ("border", 2L))
    assert(m(2L) == ("core", 2L))
    assert(m(3L) == ("core", 2L))
    assert(m(4L) == ("border", 2L))
  }

  test("dbscan matches an independent brute-force pass on sf0.001 embeddings") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(dir).isDirectory)
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val eps = 1.3; val minPts = 3
    val got = Dbscan.cluster(emb, "vec_id", "embedding", eps, minPts)
      .collect().map(x => (x.getLong(0), x.getString(1), x.getLong(2))).toSeq
      .sortBy(_._1)
    // brute force: full O(n²) eps-graph, core flags, BFS components over
    // core-core edges, min-label border adoption
    val vecs = emb.collect().map(r => (r.getLong(0),
      r.getSeq[Float](1).map(_.toDouble).toArray)).sortBy(_._1)
    def d2(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val ids = vecs.map(_._1)
    val vm = vecs.toMap
    val nbrs = ids.map(i => i -> ids.filter(j =>
      j != i && d2(vm(i), vm(j)) <= eps * eps).toSet).toMap
    val cores = ids.filter(i => nbrs(i).size + 1 >= minPts).toSet
    // components over core-core edges by repeated min-label sweeps
    var lbl = cores.map(i => i -> i).toMap
    var changed = true
    while (changed) {
      changed = false
      for (i <- cores; j <- nbrs(i) if cores(j)) {
        val m = math.min(lbl(i), lbl(j))
        if (lbl(i) != m) { lbl += i -> m; changed = true }
        if (lbl(j) != m) { lbl += j -> m; changed = true }
      }
    }
    val want = ids.map { i =>
      if (cores(i)) (i, "core", lbl(i))
      else {
        val coreNb = nbrs(i).filter(cores)
        if (coreNb.nonEmpty) (i, "border", coreNb.map(lbl).min)
        else (i, "noise", -1L)
      }
    }.toSeq
    assert(got == want)
  }

  test("item-item cf cosine matches the closed form") {
    import spark.implicits._
    // baskets g1{1,2} g2{1,2} g3{1,3}: support(1,2) = 2, c1 = 3, c2 = 2
    // → cosine = 2/√6; (1,3) support 1 < minSupport
    val df = Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L), (3L, 1L), (3L, 3L))
      .toDF("g", "i")
    val r = ItemSimilarity.topPairs(df, "g", "i", 2L, 10).collect()
    assert(r.length == 1)
    assert(r.head.getLong(0) == 1 && r.head.getLong(1) == 2 &&
      r.head.getLong(2) == 2)
    assert(math.abs(r.head.getDouble(3) - 2.0 / math.sqrt(6.0)) < 1e-6)
  }

  test("item-item cf single-derivation claim: the post-dedup exchange is reused") {
    // Pinned plan-shape check (ADVICE r13): the one-corpus-derivation
    // property of topPairs rests on AQE reusing the post-dedup
    // repartition exchange across all consumers (both self-join sides
    // and the degree aggregate). Nothing else enforces it — a planner
    // change that stops the reuse would silently re-run the dedup per
    // consumer with no correctness signal. Executed-plan witness: the
    // post-dedup REPARTITION_BY_COL exchange appears as a ReusedExchange
    // in at least two consumer positions of the final adaptive plan.
    import spark.implicits._
    val df = Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L), (3L, 1L), (3L, 3L))
      .toDF("g", "i")
    val q = ItemSimilarity.topPairs(df, "g", "i", 2L, 10)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    val cut = plan.indexOf("== Initial Plan ==")
    val finalPlan = if (cut >= 0) plan.substring(0, cut) else plan
    val reused =
      "ReusedExchange.*REPARTITION_BY_COL".r.findAllIn(finalPlan).size
    assert(reused >= 2,
      s"post-dedup repartition exchange reused $reused× (expected >= 2) — " +
        s"the dedup aggregate is replaying per consumer again\n$plan")
  }
}
