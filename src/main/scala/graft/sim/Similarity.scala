package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over embedding columns (`Array[Float]`).
  *
  * - [[cosine]]: built-in higher-order functions (`zip_with` +
  *   `aggregate`) in double precision — no UDF, no serialization of the
  *   vector to Scala, deterministic left-to-right accumulation (matches a
  *   sequential oracle bit-for-bit).
  * - [[bruteTopK]]: exact top-k for a (small, broadcast) query set against
  *   the corpus — the baseline; cost |Q|·|D|·dim, embarrassingly parallel,
  *   ranked with a per-query window (|Q| partitions, never a global sort).
  * - [[ivfTopK]]: the scale path — k-means-style coarse quantizer built on
  *   a sample, each corpus vector assigned to its nearest centroid
  *   (broadcast), probes search only `nProbe` inverted lists. Recall < 1 by
  *   design; `nProbe` trades recall for cost.
  */
object Similarity {

  /** Cosine similarity of two float-array columns, computed in double by
    * the native codegen'd [[graft.functions.CosineSimilarity]] expression. */
  def cosine(a: Column, b: Column): Column =
    call_function(graft.functions.CosineSimilarity.Name, a, b)

  /** Built-ins-only variant (`zip_with` + `aggregate`) — same arithmetic
    * order, kept as the portable fallback and for plan comparison. */
  def cosineHof(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
        lit(0.0), (acc, v) => acc + v)
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
  }

  /** Per-class embedding centroids + mean L2 norm — the embedding-space
    * summary a mixture designer reads per domain/label (and the seeding
    * statistic for IVF coarse quantizers). Output one row per
    * (class, dimension): `n_vecs, centroid, avg_norm`.
    *
    * Scale/determinism shape: `posexplode` fans each vector into
    * (dim, component) rows — dims × rows, but the aggregate is
    * partial-merged on (class, dim) so the shuffle carries
    * classes × dims part-sums, not components. Component sums run in
    * DECIMAL (order-invariant at any partitioning); the per-row norm is
    * an index-order double fold (deterministic), averaged in DECIMAL. */
  def classCentroids(df: DataFrame, classCol: String, vecCol: String,
                     scale: Int = 4): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val norm = sqrt(aggregate(v, lit(0.0), (s, x) => s + x * x))
    df.select(col(classCol), norm.as("norm"), posexplode(v).as(Seq("dim", "x")))
      .groupBy(col(classCol), col("dim"))
      .agg(count(lit(1)).as("n_vecs"),
           graft.operators.ExactAgg.davg(col("x"), scale).as("centroid"),
           graft.operators.ExactAgg.davg(col("norm"), scale).as("avg_norm"))
  }

  /** Fully-distributed spherical k-means (Lloyd's algorithm) over an
    * embedding column: unlike [[trainCentroids]] (bounded driver sample —
    * the quantizer-training path), this fits on the WHOLE corpus.
    *
    * Scale shape per iteration: centroids are a k×dim broadcast (bounded
    * driver state); assignment is k codegen'd cosines per row, map-side,
    * no shuffle; the update is one `(cluster, dim)` hash aggregation of
    * the exploded components (map-side partials) whose k×dim result
    * collects to the driver. Nothing corpus-sized ever sits on the
    * driver and lineage stays one iteration deep.
    *
    * Deterministic init: the k lowest-id vectors seed the centroids (a
    * bounded ordered take). Float means make boundary assignments
    * engine/partitioning-sensitive in the last ulp — the documented
    * contract is cluster RECOVERY (spec: designed well-separated
    * clusters are recovered exactly), not bit-stable labels. Returns
    * `(id, cluster, sim)` — sim is the cosine to the final centroid. */
  /** PINNED-LONG spherical k-means (the PageRank/PinnedPca grid
    * convention applied to Lloyd's loop): coordinates quantize once to
    * a 1e-6 grid, centroids live normalized on a 1e-9 grid, each
    * dot-product term / mean / normalization rounds back to its grid —
    * so the whole iteration is an exact integer recurrence (identical
    * on any engine; SQL-oracle-able as unrolled iterations) and the
    * assignment runs as a codegen'd native argmax over a broadcast
    * centroid literal ([[graft.functions.PinnedKmeansBest]]) instead of
    * a boxed UDF. Argmax tie-break: lowest cluster index. */
  def kmeansAssign(df: DataFrame, idCol: String, vecCol: String,
                   k: Int, iters: Int = 5): DataFrame = {
    require(k >= 1 && iters >= 1, s"need k>=1, iters>=1; got k=$k iters=$iters")
    pinnedLloyd(df, idCol, vecCol, k, iters) match {
      case None =>
        df.select(col(idCol).as("id"), lit(-1).as("cluster"),
          lit(0.0).as("sim")).limit(0)
      case Some(fit) =>
        // materialize the final assignment BEFORE dropping the input cache
        val best = fit.bestCol
        val out = fit.xv
          .select(col("id"), best.getField("cluster").as("cluster"),
            round(best.getField("sim"), 4).as("sim"))
          .localCheckpoint(true)
        fit.xv.unpersist(blocking = false)
        out
    }
  }

  /** The trained state of one [[pinnedLloyd]] run: the persisted pinned
    * point frame `xv(id, v6, nv12)` (caller unpersists), the effective
    * cluster count `m`, the seed dimensionality `dim`, and the final
    * `m×dim` centroid grid on the 1e-9 normalized grid. */
  private[sim] final case class PinnedLloydFit(xv: DataFrame, m: Int,
                                               dim: Int,
                                               grid: Array[Array[Long]]) {
    /** `struct(cluster, sim)` of the best centroid for `(v6, nv12)` —
      * the codegen'd [[graft.functions.PinnedKmeansBest]] argmax over
      * the centroid-table literal. */
    def bestCol: Column =
      call_function(graft.functions.PinnedKmeansBest.Name,
        col("v6"), col("nv12"), typedlit(grid.map(_.toSeq).toSeq))
  }

  /** Shared PINNED Lloyd machinery behind [[kmeansAssign]] and
    * [[ivfTopKPinned]] — runs the exact-integer spherical-k-means
    * recurrence and returns the final centroid grid (None on empty
    * input). See [[kmeansAssign]] for the grid conventions. */
  private[sim] def pinnedLloyd(df: DataFrame, idCol: String, vecCol: String,
                               k: Int, iters: Int): Option[PinnedLloydFit] = {
    val spark = df.sparkSession
    def raL(x: Double): Long = if (x >= 0) math.round(x) else -math.round(-x)
    // compact per-point pinned frame (one row per vector: 1e-6-grid
    // coordinate array + exact squared norm). The exploded-join
    // formulation this replaces paid 4-5 shuffle stages PER ITERATION
    // (rows x dim x k join rows, two hash re-aggregations, two cache
    // joins); here the assignment is a map-side codegen'd argmax over a
    // broadcast centroid literal ([[graft.functions.PinnedKmeansBest]],
    // bit-identical arithmetic) and each Lloyd iteration runs ONE job
    // with ONE (cluster, dim) shuffle whose result (k x dim longs) is
    // the only thing the driver ever holds.
    val xv = graft.operators.Spread.widen(
        df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v")),
        col("id"))
      // null/empty vectors contribute nothing, exactly like the exploded
      // form this replaces (posexplode of null/[] emitted no rows): the
      // compact path would otherwise NPE on the null signature decode
      .filter(col("v").isNotNull && size(col("v")) > 0)
      .select(col("id"),
        transform(col("v"), x => round(x * lit(1e6)).cast("long")).as("v6"))
      .withColumn("nv12",
        aggregate(col("v6"), lit(0L), (acc, x) => acc + x * x))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // init: the k lowest-id vectors, normalized onto the 1e-9 grid
    val initRows = xv.orderBy(col("id")).limit(k).collect()
    if (initRows.isEmpty) {
      xv.unpersist()
      return None
    }
    val init = initRows.zipWithIndex.flatMap { case (r, c) =>
      r.getSeq[Long](r.fieldIndex("v6")).zipWithIndex.map { case (g6, t) => (c, t, g6) }
    }
    def normalize9(rows: Seq[(Int, Int, Long)]): Seq[(Int, Int, Long)] = {
      rows.groupBy(_._1).toSeq.flatMap { case (c, rs) =>
        val n2 = rs.map(r => r._3 * r._3).sum
        rs.map { case (_, t, g6) =>
          val c9 = if (n2 > 0) raL(g6.toDouble / math.sqrt(n2.toDouble) * 1e9)
                   else g6 * 1000L
          (c, t, c9)
        }
      }
    }
    var cents: Seq[(Int, Int, Long)] = normalize9(init.toSeq)
    val m = initRows.length // effective cluster count (<= k on tiny inputs)
    val dims = initRows.map(r => r.getSeq[Long](r.fieldIndex("v6")).length).distinct
    // the operator contract is a fixed-dimension embedding column; a
    // ragged corpus would silently truncate to the first seed's length
    // in both assignment and the mean fold — fail loudly instead
    require(dims.length == 1,
      s"pinned k-means requires a fixed-dimension vector column; " +
      s"seed vectors have lengths ${dims.sorted.mkString(",")}")
    val dim = dims.head
    // best (cluster, sim) for each point against the current centroid
    // table, shipped as a k x dim literal (bounded driver state)
    def bestCol(c: Seq[(Int, Int, Long)]): Column = {
      val grid = Array.fill(m, dim)(0L)
      c.foreach { case (ci, t, c9) => if (t < dim) grid(ci)(t) = c9 }
      call_function(graft.functions.PinnedKmeansBest.Name,
        col("v6"), col("nv12"), typedlit(grid.map(_.toSeq).toSeq))
    }
    // Per-iteration mean update as a SINGLE-STAGE treeAggregate (the
    // spark.ml KMeans pattern): per-partition (cluster, dim) long sums +
    // per-(cluster, dim) counts merge on the driver — no shuffle stage,
    // no AQE replan, one job per Lloyd iteration. Long sums are exact up
    // to ~9e12 rows per cluster at the 1e-6 grid (the decimal(38)
    // headroom of the previous groupBy form is not needed below that
    // bound); cast-to-double of the exact integer sum is the same double
    // either way, so the m6 recurrence (round(sum/count)) is
    // bit-identical to the SQL twin. Counts are PER DIMENSION (the
    // exploded groupBy(cluster, t) divisor this replaces), so a shorter
    // vector divides only the dimensions it contributed; the centroid
    // grid itself is `dim`-rectangular (the seed dimensionality) — the
    // operator's contract is a fixed-dimension embedding column.
    import spark.implicits._
    var it = 0
    while (it < iters) {
      val assignedDs = xv
        .select(bestCol(cents).getField("cluster").as("c"), col("v6"))
        .as[(Int, Array[Long])]
      val (sums, counts) = assignedDs.rdd.treeAggregate(
        (Array.fill(m, dim)(0L), Array.fill(m, dim)(0L)))(
        seqOp = { case ((s, n), (c, v)) =>
          val row = s(c); val cnt = n(c); var t = 0
          while (t < dim && t < v.length) { row(t) += v(t); cnt(t) += 1L; t += 1 }
          (s, n)
        },
        combOp = { case ((s1, n1), (s2, n2)) =>
          var c = 0
          while (c < m) {
            val a = s1(c); val b = s2(c)
            val x = n1(c); val y = n2(c); var t = 0
            while (t < dim) { a(t) += b(t); x(t) += y(t); t += 1 }
            c += 1
          }
          (s1, n1)
        })
      val m6Rows = for {
        c <- 0 until m
        t <- 0 until dim if counts(c)(t) > 0L
      } yield (c, t, raL(sums(c)(t).toDouble / counts(c)(t)))
      val upd = normalize9(m6Rows).groupBy(_._1)
        .map { case (c, rs) => c -> rs.map(r => (r._2, r._3)).toMap }
      // empty clusters keep their previous centroid
      cents = cents.map { case (c, t, c9) =>
        (c, t, upd.get(c).flatMap(_.get(t)).getOrElse(c9))
      }
      it += 1
    }
    val grid = Array.fill(m, dim)(0L)
    cents.foreach { case (ci, t, c9) => if (t < dim) grid(ci)(t) = c9 }
    Some(PinnedLloydFit(xv, m, dim, grid))
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023): assign every
    * vector to its nearest class centroid, find within-cluster pairs
    * with cosine >= `tau`, connect them into components, keep one
    * representative (the minimum id) per component.
    *
    * Scale shape — the whole point of the cluster stage: exact all-pairs
    * cosine over N vectors is N², but with K clusters sized ~N/K the
    * within-cluster pairwise work is Σ|c|² ≈ N²/K, and K grows with the
    * corpus so cluster sizes stay bounded (SemDeDup's contract; pairs
    * crossing cluster borders are sacrificed by design — the LSH path
    * [[graft.dedup.Dedup.embeddingNearDupPairs]] is the recall-bounded
    * alternative). Centroids are a K×dim broadcast; assignment is K
    * codegen'd cosines per row, map-side; the only corpus shuffle is the
    * cluster-keyed self-join. Components via alternating star contraction
    * ([[graft.dedup.ConnectedComponents]]) — ids only.
    *
    * Determinism across engines: centroids come from
    * [[classCentroids]]'s order-invariant DECIMAL means (4-dp doubles),
    * and both the argmax (cos desc, then class) and the `>= tau` gate
    * compare UNROUNDED cosines — the native expression and DuckDB's
    * `list_cosine_similarity` agree bit-for-bit on identical double
    * inputs (q23 ranks by unrounded sim and hash-matches). */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    classCol: String, tau: Double): DataFrame = {
    val cent = classCentroids(df, classCol, vecCol)
      .groupBy(col(classCol).as("clabel"))
      .agg(array_sort(collect_list(struct(col("dim"), col("centroid")))).as("p"))
      .select(col("clabel"),
        transform(col("p"), p => p.getField("centroid")).as("cvec"))
    // argmax as min(struct(−cos, label, v)), NOT a per-id ranking window:
    // the struct min is a hash aggregate with map-side partials — the
    // shuffle carries ONE candidate row per vector instead of K, and no
    // per-partition sort runs. Ordering matches the window form
    // (row_number over ccos DESC, clabel ASC) on every real cosine:
    // negation maps Spark's total double order exactly (incl. ±0.0),
    // label breaks exact-cos ties ascending, and the trailing v can
    // never be compared (a label appears once per id). A NaN cosine
    // (zero-norm centroid or vector) is DELIBERATELY sent to +∞ so the
    // degenerate centroid always loses to any real one — the old window
    // form's NaN-is-greatest ranking assigned the zero-norm centroid
    // instead, which was never the intent.
    val assigned = df
      .select(col(idCol), col(vecCol).cast("array<double>").as("v"))
      .crossJoin(broadcast(cent))
      .select(col(idCol), struct(
        nanvl(-cosine(col("v"), col("cvec")), lit(Double.PositiveInfinity)).as("nc"),
        col("clabel"), col("v")).as("cand"))
      .groupBy(col(idCol)).agg(min(col("cand")).as("best"))
      .select(col(idCol), col("best.v").as("v"), col("best.clabel").as("cluster"))
      // PERSISTED: consumed by both sides of the pair self-join, by the
      // ConnectedComponents driver actions, and by the final label join —
      // unpersisted, the K-cosine assignment + per-id window re-runs per
      // action (the same multiply-consumed-frame hazard q68/withRep fixed)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = assigned.select(col(idCol).as("id_a"), col("v").as("va"), col("cluster"))
    val b = assigned.select(col(idCol).as("id_b"), col("v").as("vb"), col("cluster"))
    val pairs = a.join(b, Seq("cluster"))
      .filter(col("id_a") < col("id_b") && cosine(col("va"), col("vb")) >= tau)
      .select(col("id_a"), col("id_b"))
    val comps = graft.dedup.ConnectedComponents.components(pairs, "id_a", "id_b")
      .withColumnRenamed("id", idCol)
    // eager checkpoint, then unpersist: a library caller must not inherit
    // dangling cached blocks (the kmeansAssign discipline) — and the
    // result must not recompute the assignment subtree after the cache
    // is dropped
    try {
      assigned.select(col(idCol), col("cluster"))
        .join(comps, Seq(idCol), "left_outer")
        .select(col(idCol), col("cluster").cast("long").as("cluster"),
          coalesce(col("component"), col(idCol)).as("component"))
        .withColumn("keep", (col(idCol) === col("component")).cast("long"))
        .localCheckpoint(eager = true)
    } finally assigned.unpersist(blocking = false)
  }

  /** Exact cosine top-k: every query row (keyed `qid`) scored against every
    * data row (keyed `id`). `queries` must be small enough to broadcast. */
  def bruteTopK(data: DataFrame, idCol: String, vecCol: String,
                queries: DataFrame, qidCol: String, qvecCol: String,
                k: Int): DataFrame = {
    val scored = data.select(col(idCol).as("id"), col(vecCol).as("v"))
      .crossJoin(broadcast(queries.select(col(qidCol).as("qid"), col(qvecCol).as("qv"))))
      .select(col("qid"), col("id"), cosine(col("qv"), col("v")).as("sim"))
    rankTopKByQid(scored, k)
  }

  /** Shared top-k readout for the ANN family: per-qid `(sim, id)` heap
    * via the native bounded-heap `graft_topk` aggregate. A ranking
    * window here partitions by qid — with a handful of queries each
    * partition is CORPUS-sized (one task sorts everything a query
    * scored, the spill profile of a global sort); the heap aggregate
    * ships k pairs per partition and merges them. Tie order (sim DESC,
    * id ASC) is the window's; NaN ranks largest on both forms (the heap
    * compares via Double.compare, a total order); ids must be integral —
    * enforced at plan time, because the bigint cast would null a
    * non-integral id and the heap skips nulls. */
  private def rankTopKByQid(scored: DataFrame, k: Int): DataFrame = {
    graft.functions.TopK.requireIntegralId(scored, "id", "rankTopKByQid")
    scored.groupBy(col("qid"))
      .agg(call_function(graft.functions.TopK.Name,
        col("sim"), col("id").cast("long"), lit(k)).as("top"))
      .select(col("qid"), posexplode(col("top")))
      .select(col("qid"), col("col.tag").as("id"),
        col("col.value").as("sim"), (col("pos") + 1).as("rn"))
  }

  /** Contrastive hard-negative mining: for each query (an anchor with a
    * class label), the top-k most-similar corpus vectors of a DIFFERENT
    * label — the negatives that sit closest to the decision boundary,
    * the standard batch-construction step for contrastive / embedding
    * training. Same plan shape as [[bruteTopK]] (broadcast anchors,
    * codegen'd cosine, per-anchor spilling window); the label inequality
    * is a map-side filter BEFORE the ranking window, so mined negatives
    * are never displaced by same-class rows. */
  def hardNegatives(data: DataFrame, idCol: String, vecCol: String, labelCol: String,
                    queries: DataFrame, qidCol: String, qvecCol: String, qlabelCol: String,
                    k: Int): DataFrame = {
    val scored = data
      .select(col(idCol).as("id"), col(vecCol).as("v"), col(labelCol).as("lbl"))
      .crossJoin(broadcast(queries.select(
        col(qidCol).as("qid"), col(qvecCol).as("qv"), col(qlabelCol).as("qlbl"))))
      .filter(col("lbl") =!= col("qlbl"))
      .select(col("qid"), col("id"), col("lbl"), cosine(col("qv"), col("v")).as("sim"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  /** Coarse quantizer training: spherical k-means (Lloyd) on a BOUNDED,
    * seeded driver sample — standard IVF practice: the quantizer trains
    * on a sample (the only data that touches the driver), assignment of
    * the full corpus runs distributed. Unit-normalized centroids make
    * cosine assignment a plain dot product; empty clusters keep their
    * previous centroid. Deterministic under `seed`. */
  private def trainCentroids(data: DataFrame, idCol: String, vecCol: String,
                             nCentroids: Int, seed: Long,
                             iters: Int = 5, trainSize: Int = 4096): Array[(Int, Array[Float])] = {
    val sample = data.select(col(idCol).as("cid0"), col(vecCol).as("cv"))
      .orderBy(xxhash64(col("cid0"), lit(seed)))
      .limit(trainSize)
      .collect()
      .map { r =>
        val v = r.getSeq[Float](1).toArray.map(_.toDouble)
        val n = math.sqrt(v.map(x => x * x).sum)
        if (n > 0) v.map(_ / n) else v
      }
    if (sample.isEmpty) return Array.empty
    val k = math.min(nCentroids, sample.length)
    var cents = sample.take(k).map(_.clone())
    for (_ <- 0 until iters) {
      val sums = Array.fill(k)(new Array[Double](cents(0).length))
      val counts = new Array[Int](k)
      sample.foreach { v =>
        var best = 0; var bestDot = Double.MinValue
        var c = 0
        while (c < k) {
          var dot = 0.0; var i = 0
          while (i < v.length) { dot += cents(c)(i) * v(i); i += 1 }
          if (dot > bestDot) { bestDot = dot; best = c }
          c += 1
        }
        var i = 0
        while (i < v.length) { sums(best)(i) += v(i); i += 1 }
        counts(best) += 1
      }
      cents = cents.indices.map { c =>
        if (counts(c) == 0) cents(c)
        else {
          val m = sums(c)
          val n = math.sqrt(m.map(x => x * x).sum)
          if (n > 0) m.map(_ / n) else cents(c)
        }
      }.toArray
    }
    cents.zipWithIndex.map { case (cv, i) => (i, cv.map(_.toFloat)) }
  }

  /** IVF-style ANN: assign vectors to the nearest of `nCentroids` k-means
    * centroids (one broadcast pass), then search only the `nProbe` nearest
    * lists per query. Returns the same schema as [[bruteTopK]]. */
  def ivfTopK(data: DataFrame, idCol: String, vecCol: String,
              queries: DataFrame, qidCol: String, qvecCol: String,
              k: Int, nCentroids: Int = 16, nProbe: Int = 4,
              seed: Long = 42L): DataFrame = {
    val spark = data.sparkSession
    val centroids = trainCentroids(data, idCol, vecCol, nCentroids, seed)
    val bc = spark.sparkContext.broadcast(centroids)
    val assignUdf = udf { (v: Seq[Float]) =>
      var best = -1; var bestSim = Double.MinValue
      bc.value.foreach { case (ci, cv) =>
        var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < v.length) { dot += cv(i) * v(i); na += cv(i) * cv(i); nb += v(i) * v(i); i += 1 }
        val s = dot / (math.sqrt(na) * math.sqrt(nb))
        if (s > bestSim) { bestSim = s; best = ci }
      }
      best
    }
    val probeUdf = udf { (v: Seq[Float]) =>
      bc.value.map { case (ci, cv) =>
        var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < v.length) { dot += cv(i) * v(i); na += cv(i) * cv(i); nb += v(i) * v(i); i += 1 }
        (ci, dot / (math.sqrt(na) * math.sqrt(nb)))
      }.sortBy(-_._2).take(nProbe).map(_._1)
    }
    val assigned = data.select(col(idCol).as("id"), col(vecCol).as("v"),
      assignUdf(col(vecCol)).as("list"))
    val probed = queries.select(col(qidCol).as("qid"), col(qvecCol).as("qv"),
      explode(probeUdf(col(qvecCol))).as("list"))
    val scored = assigned.join(broadcast(probed), "list")
      .select(col("qid"), col("id"), cosine(col("qv"), col("v")).as("sim"))
    rankTopKByQid(scored, k)
  }

  /** PINNED IVF ANN — [[ivfTopK]]'s semantics with every
    * engine-sensitive step pinned so the whole pipeline (coarse
    * quantizer training, list assignment, probe selection, final
    * ranking) is an exact recurrence reproducible as unrolled SQL:
    * centroids come from [[pinnedLloyd]] (the q98 integer Lloyd
    * recurrence), list assignment is the [[graft.functions.PinnedKmeansBest]]
    * argmax, probe selection ranks centroids by the EXACT integer
    * `dot9` (same `round(c9·x6/1e6)` fold — for a fixed query the
    * cosine denominator is constant, so dot9 order IS cosine order),
    * and the final top-k orders by the same unrounded double cosine the
    * q23 brute oracle matches.
    *
    * Scale shape: identical to [[ivfTopK]] — the corpus is touched by
    * one map-side assignment pass plus the cluster-keyed candidate
    * join; centroids are a k×dim literal; probes broadcast. */
  def ivfTopKPinned(data: DataFrame, idCol: String, vecCol: String,
                    queries: DataFrame, qidCol: String, qvecCol: String,
                    k: Int, nCentroids: Int = 16, nProbe: Int = 4,
                    iters: Int = 5): DataFrame = {
    pinnedLloyd(data, idCol, vecCol, nCentroids, iters) match {
      case None =>
        queries.select(col(qidCol).as("qid")).limit(0)
          .crossJoin(data.select(col(idCol).as("id")).limit(0))
          .withColumn("sim", lit(0.0)).withColumn("rn", lit(0))
      case Some(fit) =>
        fit.xv.unpersist(blocking = false)
        val gridLit = typedlit(fit.grid.map(_.toSeq).toSeq)
        def v6Of(c: Column): Column =
          transform(c.cast("array<double>"), x => round(x * lit(1e6)).cast("long"))
        // list assignment: one map-side pass over the data (the pinned
        // frame only carries v6 — recomputing the grid coordinates here
        // keeps the original vectors in the row for the final cosine
        // without a corpus self-join)
        val assigned = data
          .filter(col(vecCol).isNotNull && size(col(vecCol)) > 0)
          .select(col(idCol).as("id"), col(vecCol).as("dv"), v6Of(col(vecCol)).as("v6"))
          .withColumn("nv12", aggregate(col("v6"), lit(0L), (acc, x) => acc + x * x))
          .select(col("id"), col("dv"),
            call_function(graft.functions.PinnedKmeansBest.Name,
              col("v6"), col("nv12"), gridLit).getField("cluster").as("list"))
        // probe selection: exact integer dot9 against every centroid,
        // top nProbe per query (ties to the lowest centroid index)
        val probed0 = queries
          .filter(col(qvecCol).isNotNull && size(col(qvecCol)) > 0)
          .select(col(qidCol).as("qid"), col(qvecCol).as("qv"), v6Of(col(qvecCol)).as("q6"))
          .select(col("qid"), col("qv"),
            posexplode(transform(gridLit, cv =>
              aggregate(zip_with(col("q6"), cv,
                  (a, b) => round((a * b).cast("double") / lit(1e6)).cast("long")),
                lit(0L), (acc, x) => acc + x))).as(Seq("list", "dot9")))
        // top-nProbe centroids per query via the bounded heap (exact
        // integer dot9 < 2^53 is order-exact as a double; ties to the
        // lowest centroid index = tag ASC, the window order)
        val probed = probed0
          .groupBy(col("qid"))
          .agg(first(col("qv")).as("qv"),
            call_function(graft.functions.TopK.Name,
              col("dot9").cast("double"), col("list").cast("long"),
              lit(nProbe)).as("top"))
          .select(col("qid"), col("qv"), explode(col("top")).as("t"))
          .select(col("qid"), col("qv"), col("t.tag").cast("int").as("list"))
        val scored = assigned.join(broadcast(probed), "list")
          .select(col("qid"), col("id"), cosine(col("qv"), col("dv")).as("sim"))
        rankTopKByQid(scored, k)
    }
  }
}
