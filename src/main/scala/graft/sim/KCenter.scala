package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Greedy k-center coreset selection over an embedding column (Gonzalez
  * 1985 farthest-point traversal — a 2-approximation of the optimal
  * k-center cover): the diversity-maximizing curation step that picks
  * `k` mutually-far exemplars, the complement of SemDeDup's
  * redundancy-removal (q73) — that trims what's too close, this keeps
  * what spans the space.
  *
  * Distributed shape: the corpus never moves — each round broadcasts ONE
  * center vector (as a literal in the projection), updates every point's
  * min-distance-to-selected in a map, and takes a single (max, argmax)
  * aggregate; k rounds = k scans of a persisted (id, vec, dist) frame.
  * The accumulated `least(...)` lineage is re-planned per round but the
  * frame below it stays cached, so total work is O(k²·n·dim/2) flops —
  * the accepted cost of exact greedy traversal (a localCheckpoint per
  * round would make it O(k·n·dim) at the price of k materializations;
  * at k ≲ 64 the quadratic term is cheaper).
  *
  * Determinism — PINNED-LONG distances (the PageRank/PinnedPca grid
  * convention): each per-dimension squared difference rounds to a 1e-9
  * long and the squared distance is an EXACT integer sum, so the
  * min-distance state, every argmax and every radius are integer-
  * derived — identical on any engine (and SQL-oracle-able as k
  * unrolled argmax steps). The argmax tiebreak is (distance, lowest
  * id) via a single max(struct). Seed = lowest id (pinned, not
  * random).
  */
object KCenter {

  /** Selected exemplars `(step, id, radius)` in selection order, where
    * `radius` is the point's distance to the nearest PREVIOUS center at
    * the moment it was chosen (the classic non-increasing coverage-
    * radius diagnostic; the seed reports NULL). */
  def greedy(df: DataFrame, idCol: String, vecCol: String,
             k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // pinned squared distance: per-term 1e-9 grid, exact long sum — the
    // NATIVE codegen'd node, because the accumulated least() chain below
    // re-evaluates every prior center's fold (O(k²) folds total) and the
    // interpreted zip_with form measured ~2× the whole query at k = 16
    def sqDist9(c: Seq[Double]): Column =
      call_function(graft.functions.PinnedSqDist.Name,
        col("v"), array(c.map(lit): _*))
    // seed: lowest id
    val seedRow = base.orderBy(col("id")).limit(1)
      .select(col("id"), col("v")).head
    var picked = List((1, seedRow.getLong(0), Option.empty[Long]))
    var dist: Column = sqDist9(seedRow.getSeq[Double](1))
    for (step <- 2 to k) {
      // argmax of current min-distance, tiebreak lowest id — the winner's
      // VECTOR rides inside the same max(struct) aggregate, so each round
      // is exactly one job (no separate point-lookup scan)
      val far = base.agg(max(struct(dist.as("d9"), (-col("id")).as("ni"),
          col("v").as("fv"))))
        .head.getStruct(0)
      val fid = -far.getLong(1)
      val fd9 = far.getLong(0)
      val fvec = far.getSeq[Double](2)
      picked = (step, fid, Some(fd9)) :: picked
      dist = least(dist, sqDist9(fvec))
    }
    base.unpersist(blocking = false)
    picked.reverse.toDF("step", "id", "d9")
      .select(col("step"), col("id"),
        round(sqrt(col("d9").cast("double") / lit(1e9)), 6).as("radius"))
  }
}

/** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998):
  * from a relevance-ranked candidate pool, greedily pick the next result
  * maximizing `λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s)` — the standard
  * diversity pass between retrieval and the context window (RAG serving,
  * eval-set construction; redundant near-identical hits waste the
  * budget that q193's nDCG measures).
  *
  * Scale shape: relevance scoring + the top-`poolSize` cut run
  * distributed ([[Similarity.bruteTopK]]'s broadcast-query plan — swap
  * in the IVF path at corpus scale); the greedy selection is inherently
  * sequential and runs on the driver over the POOL ONLY (`poolSize`
  * rows with their vectors — a documented-bounded finisher, the k-core
  * pattern). Determinism: cosines are per-row double chains with a
  * (score, lowest-id) argmax — no cross-row float accumulation. */
object Mmr {

  /** Top-`k` MMR selection from the `poolSize`-candidate pool nearest to
    * `queryVec` (a driver-side vector, e.g. a class centroid). Output
    * `(rank, id, relevance, mmr_score)` in selection order, 6 dp. */
  def rerank(data: DataFrame, idCol: String, vecCol: String,
             queryVec: Array[Double], poolSize: Int, k: Int,
             lambda: Double = 0.7): DataFrame = {
    require(k >= 1 && poolSize >= k, s"need poolSize >= k >= 1: $poolSize/$k")
    val spark = data.sparkSession
    import spark.implicits._
    val qdf = Seq(Tuple1(queryVec.toSeq)).toDF("qv").select(lit(0L).as("qid"),
      col("qv").cast("array<double>").as("qv"))
    val pool = Similarity.bruteTopK(
        data.select(col(idCol).as("id"),
          col(vecCol).cast("array<double>").as("v")),
        "id", "v", qdf, "qid", "qv", poolSize)
      .join(data.select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("v")), Seq("id"))
      .select(col("id"), col("sim"), col("v"))
      .collect() // bounded: poolSize rows by construction
      .map(r => (r.getAs[Long]("id"), r.getAs[Double]("sim"),
        r.getSeq[Double](2).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i)
        nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    var selected = List.empty[(Int, Long, Double, Double)]
    var chosen = List.empty[Array[Double]]
    var remaining = pool.toList
    for (rank <- 1 to k) {
      val (best, bestScore) = remaining.map { c =>
        val redundancy =
          if (chosen.isEmpty) 0.0 else chosen.map(s => cos(c._3, s)).max
        (c, lambda * c._2 - (1 - lambda) * redundancy)
      }.maxBy { case (c, sc) => (sc, -c._1) }
      selected = (rank, best._1, best._2, bestScore) :: selected
      chosen = best._3 :: chosen
      remaining = remaining.filterNot(_._1 == best._1)
    }
    // SQL-round output convention (ties away from zero), not math.rint's
    // half-even — keeps the emitted values oracle-matchable
    selected.reverse.toDF("rank", "id", "relevance", "mmr_score")
      .select(col("rank"), col("id"),
        round(col("relevance"), 6).as("relevance"),
        round(col("mmr_score"), 6).as("mmr_score"))
  }
}
