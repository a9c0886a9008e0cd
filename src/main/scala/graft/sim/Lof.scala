package graft.sim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Local Outlier Factor (Breunig et al. 2000) over an embedding column —
  * DENSITY-relative outlier scoring: a point is anomalous if its local
  * density is low compared to its neighbors' (a cluster-edge point and a
  * global stray both score > 1; a deep-cluster point ≈ 1). The
  * embedding-space data-quality probe next to [[graft.ml.IsolationForest]]
  * (feature-space) — mislabeled/garbage vectors surface before they
  * poison contrastive training.
  *
  * Distance: cosine distance `1 − cos` via the native codegen'd cosine,
  * 12-dp-quantized — exact longs everywhere downstream. Neighborhoods
  * are EXACTLY the k nearest under the total order `(dist, id)` (the
  * textbook ≤ k-distance set can exceed k on ties; pinning to k with id
  * ties is deterministic and SQL-oracle-able).
  *
  * `reach(a,b) = max(kdist(b), d(a,b))`; `lrd(a) = k/Σ_b reach(a,b)`
  * (12-dp-pinned); `LOF(a) = (Σ_b lrd(b))/k / lrd(a)` — exact integer
  * sums with single double divisions at the pin points.
  *
  * Scale: [[bruteTop]] is the BRUTE N² reference formulation (corpus
  * samples, N bounded by the caller); [[bucketedTop]] is the 100 TB
  * path — nearest-seed bucketing bounds pairwise work to Σ|bucket|² ≈
  * N²/S (the SemDeDup trade: cross-bucket neighbors sacrificed by
  * design), with identical reach/lrd/lof algebra downstream. */
object Lof {

  /** Top-`topN` outliers: `(id, kdist, lrd, lof)` ordered by
    * (lof desc, id). `k` = neighborhood size. */
  def bruteTop(df: DataFrame, idCol: String, vecCol: String,
               k: Int, topN: Int): DataFrame = {
    require(k >= 1 && topN >= 1, s"need k, topN >= 1: $k, $topN")
    // widen a narrow single-row-group scan: the N² pair stage otherwise
    // runs on the scan's 2-3 partitions while the rest of the cores idle
    val pts = graft.operators.Spread.widen(
      df.select(col(idCol).cast("long").as("id"), col(vecCol).as("v")),
      col("id"))
    val d12 = round((lit(1.0) - Similarity.cosine(col("a.v"), col("b.v")))
      * lit(1e12)).cast("long")
    val pairs = pts.alias("a").join(pts.alias("b"),
        col("a.id") =!= col("b.id"))
      .select(col("a.id").as("id"), col("b.id").as("nb"), d12.as("d"))
    lofFromPairs(pairs, k, topN)
  }

  /** Scale-shape LOF: assign every point to its nearest of the `nSeeds`
    * lowest-id vectors (pinned 12-dp cosine distance, ties by seed id —
    * fully deterministic and SQL-expressible, unlike iterated float
    * k-means), build neighborhoods WITHIN buckets only, then run the
    * identical reach/lrd/lof algebra. Neighbors across a bucket border
    * are sacrificed by design (scores near borders are approximate; the
    * spec pins brute ≡ bucketed on separated clusters).
    *
    * Scale shape: seeds are a bounded broadcast; assignment is S
    * codegen'd cosines per row folded map-side by a `min(struct)`
    * aggregation (one N-row shuffle, no window); the pair join is
    * bucket-keyed — Σ|bucket|² ≈ N²/S work and never an all-pairs
    * exchange. S grows with the corpus to hold bucket sizes bounded. */
  def bucketedTop(df: DataFrame, idCol: String, vecCol: String,
                  k: Int, topN: Int, nSeeds: Int): DataFrame = {
    require(k >= 1 && topN >= 1 && nSeeds >= 1,
      s"need k, topN, nSeeds >= 1: $k, $topN, $nSeeds")
    lofFromPairs(bucketedPairs(df, idCol, vecCol, nSeeds), k, topN)
  }

  /** Within-bucket candidate pair frame `(id, nb, d)` under the
    * nearest-of-`nSeeds`-lowest-id-vectors bucketing (pinned 12-dp
    * cosine distances) — shared by [[bucketedTop]] and
    * [[kdistProfile]]. */
  private[sim] def bucketedPairs(df: DataFrame, idCol: String,
                                 vecCol: String, nSeeds: Int): DataFrame = {
    val pts = graft.operators.Spread.widen(
      df.select(col(idCol).cast("long").as("id"), col(vecCol).as("v")),
      col("id"))
      // null/empty vectors have no cosine to any seed: drop them before
      // the seed collect (a null among the nSeeds lowest ids would NPE
      // the driver-side decode below) and before the PinnedSeedArgmin
      // projection (a null-intolerant TernaryExpression) — the same
      // guard kmeansAssign applies, and the same outcome as the old
      // exploded-join form where a null cosine produced no pair rows
      .filter(col("v").isNotNull && size(col("v")) > 0)
    // assignment pin at 1e6, NOT the pair pin's 1e12: a 1-ulp cosine
    // divergence near a rounding boundary flips a BUCKET MEMBERSHIP
    // (observed: one point's k-dist moved 5e-7 between engines at the
    // 1e12 grid), and a flipped bucket shifts every neighborhood it
    // touches; at 1e6 the flip odds drop ~1e6× and grid ties break by
    // seed id identically on both engines.
    //
    // The argmin runs as ONE map-side codegen'd pass over a seed-table
    // literal ([[graft.functions.PinnedSeedArgmin]], bit-identical to
    // the previous `pts × broadcast(seeds)` → `min(struct(d6, sid))`
    // formulation): the join form inflated the corpus ×nSeeds through a
    // nested-loop join into a SORT-based aggregate (struct-min has no
    // hash form) — nSeeds× the corpus sorted and re-folded at any
    // scale. Seeds (the nSeeds lowest-id vectors) are bounded driver
    // state by construction.
    val seedRows = pts.orderBy(col("id")).limit(nSeeds)
      .select(col("id"), col("v")).collect()
    if (seedRows.isEmpty) {
      return pts.select(col("id"), col("id").as("nb"), lit(0L).as("d")).limit(0)
    }
    val sidLit = typedlit(seedRows.map(_.getLong(0)).toSeq)
    // seed vectors as DOUBLE literals: float→double is exact, so the
    // per-element upcast the join form did inside the cosine happens
    // once here instead — same arithmetic, and double-element callers
    // lose nothing
    val svLit = typedlit(seedRows.map(r =>
      r.getSeq[Number](r.fieldIndex("v")).map(_.doubleValue()).toSeq).toSeq)
    // PERSISTED: the cluster self-join below reads this frame on BOTH
    // sides, and without materialization each side re-runs the full
    // S-cosines-per-row assignment (the chain's dominant map work, paid
    // twice for no reason — q390/q403/q407 all ride this frame)
    val asg = pts
      .select(col("id"),
        call_function(graft.functions.PinnedSeedArgmin.Name,
          col("v"), sidLit, svLit).as("cluster"),
        col("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val d12 = round((lit(1.0) - Similarity.cosine(col("a.v"), col("b.v")))
      * lit(1e12)).cast("long")
    asg.alias("a").join(asg.alias("b"),
        col("a.cluster") === col("b.cluster") && col("a.id") =!= col("b.id"))
      .select(col("a.id").as("id"), col("b.id").as("nb"), d12.as("d"))
  }

  /** k-DISTANCE PROFILE — the eps-selection readout for DBSCAN/LOF
    * parameter tuning (Ester et al.'s "sorted k-dist graph" as decile
    * order statistics): every point's distance to its k-th nearest
    * within-bucket neighbor, summarized as the 9 deciles of that
    * distribution. The elbow between consecutive deciles is where eps
    * belongs. Rows `(decile, kdist)` for deciles 1..9 — kdist at 6 dp,
    * exact rank selection (rank ⌈d·n/10⌉ under the (kd, id) order). */
  def kdistProfile(df: DataFrame, idCol: String, vecCol: String,
                   k: Int, nSeeds: Int): DataFrame = {
    require(k >= 1 && nSeeds >= 1, s"need k, nSeeds >= 1: $k, $nSeeds")
    val pairs = bucketedPairs(df, idCol, vecCol, nSeeds)
    val w = Window.partitionBy(col("id")).orderBy(col("d"), col("nb"))
    val kd = pairs.withColumn("rn", row_number().over(w))
      .filter(col("rn") === k)
      .select(col("id"), col("d").as("kd"))
    // withRowIndexCounted hands back the total count from the same
    // per-partition counts job — a separate kd.count() would re-run the
    // whole bucketed pair chain a second time
    val (indexed, nRows) = graft.operators.Positional.withRowIndexCounted(
        kd, Seq(col("kd"), col("id")), "__r")
    val ranked = indexed.select(col("kd"), (col("__r") + 1L).as("r"))
    val spark = df.sparkSession
    import spark.implicits._
    val deciles = broadcast((1 to 9).toDF("decile"))
    ranked.join(deciles,
        col("r") === ceil(col("decile") * lit(nRows) / lit(10.0)).cast("long"))
      .select(col("decile"), round(col("kd").cast("double") / 1e12, 6).as("kdist"))
      .orderBy(col("decile"))
  }

  /** Shared LOF algebra over a candidate pair frame `(id, nb, d)`:
    * exact-k neighborhoods under the `(d, nb)` total order, k-distance,
    * reachability, lrd (12-dp pinned inverse), LOF. A point with fewer
    * than `k` candidates (possible only in a small bucket on the
    * bucketed path) uses its ACTUAL neighbor count in the lrd/lof
    * normalization — on the brute frame that count is exactly `k` for
    * every point, so the q269 oracle algebra is unchanged. */
  private def lofFromPairs(pairs: DataFrame, k: Int, topN: Int): DataFrame = {
    val w = Window.partitionBy(col("id")).orderBy(col("d"), col("nb"))
    // PERSISTED: kdist, lrd and lof each read this frame, and without
    // materialization every read re-runs the candidate pair join (the
    // N²-or-bucketed stage that dominates the whole query) — 3× the
    // dominant cost for zero benefit. The frame itself is N·k rows.
    val knn = pairs.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("id"), col("nb"), col("d"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // k-distance of every point = its k-th neighbor distance; nk = the
    // point's true neighborhood size (= k except in undersized buckets)
    val kdist = knn.groupBy(col("id"))
      .agg(max(col("d")).as("kd"), count(lit(1)).as("nk"))
    // reachability wrt each NEIGHBOR's k-distance; Σ over the nk
    // neighbors → lrd, pinned at 12 dp of the inverse
    val lrd = knn
      .join(kdist.select(col("id").as("nb"), col("kd").as("kd_nb")), "nb")
      .groupBy(col("id"))
      .agg(sum(greatest(col("d"), col("kd_nb"))).as("rsum"),
        count(lit(1)).as("nk"))
      .select(col("id"), col("nk"),
        // duplicate-point degenerate (all neighbors at distance 0):
        // rsum = 0 would send lrd to ∞ — clamp the denominator to 1e-5
        // distance units, capping lrd12 at k·1e17 (inside a long even at
        // k ~ 50; mirrored in the SQL oracle)
        round(col("nk").cast("double") * lit(1e12) /
          (greatest(col("rsum"), lit(10000000L)).cast("double") / 1e12))
          .cast("long").as("lrd12"))
    val lof = knn
      .join(lrd.select(col("id").as("nb"), col("lrd12").as("lrd_nb")), "nb")
      .groupBy(col("id"))
      .agg(sum(col("lrd_nb")).as("nlsum"))
      .join(lrd, "id")
      .join(kdist.drop("nk"), "id")
      .select(col("id"),
        round(col("kd").cast("double") / 1e12, 6).as("kdist"),
        round(col("lrd12").cast("double") / 1e12, 4).as("lrd"),
        round(col("nlsum").cast("double") / col("nk") / col("lrd12"), 4).as("lof"))
    lof.orderBy(col("lof").desc, col("id")).limit(topN)
  }

  /** Hubness report (Radovanović et al. 2010) — the k-occurrence
    * distribution: how often each point appears in OTHER points'
    * k-nearest-neighbor lists. In high dimensions the distribution
    * right-skews violently (a few "hub" points appear in everyone's
    * neighborhood, many "anti-hubs" in nobody's) and every kNN-based
    * stage upstream (ANN retrieval, SemDeDup, [[bruteTop]] LOF) quietly
    * degrades — this is the one-row dashboard for that failure mode.
    * One row: `(n, k, max_nk, pct_antihubs, skewness)` — skewness of
    * N_k from exact integer moments (zeros included via the base join).
    *
    * Same brute N² neighborhood build as [[bruteTop]] (and the same
    * bucketed path at corpus scale); the N_k frame is node-sized. */
  def hubnessReport(df: DataFrame, idCol: String, vecCol: String,
                    k: Int): DataFrame = {
    require(k >= 1, s"need k >= 1: $k")
    val pts = graft.operators.Spread.widen(
      df.select(col(idCol).cast("long").as("id"), col(vecCol).as("v")),
      col("id"))
    val d12 = round((lit(1.0) - Similarity.cosine(col("a.v"), col("b.v")))
      * lit(1e12)).cast("long")
    val pairs = pts.alias("a").join(pts.alias("b"),
        col("a.id") =!= col("b.id"))
      .select(col("a.id").as("id"), col("b.id").as("nb"), d12.as("d"))
    hubnessFromPairs(pts.select(col("id")), pairs, k)
  }

  /** [[hubnessReport]] under the [[bucketedPairs]] nearest-seed
    * bucketing — the 100 TB shape: N_k counts come from WITHIN-BUCKET
    * neighborhoods (the SemDeDup trade; hub scores of points whose true
    * neighbors cross bucket borders are undercounted by design, which
    * is conservative for the right-skew alarm this report feeds). */
  def hubnessReportBucketed(df: DataFrame, idCol: String, vecCol: String,
                            k: Int, nSeeds: Int): DataFrame = {
    require(k >= 1 && nSeeds >= 1, s"need k, nSeeds >= 1: $k, $nSeeds")
    val ids = df.select(col(idCol).cast("long").as("id"))
    hubnessFromPairs(ids, bucketedPairs(df, idCol, vecCol, nSeeds), k)
  }

  /** N_k distribution moments from a candidate pair frame — shared by
    * the brute and bucketed hubness entries; `ids` is the full point
    * spine (anti-hubs with zero occurrences must count). */
  private def hubnessFromPairs(ids: DataFrame, pairs: DataFrame,
                               k: Int): DataFrame = {
    val w = Window.partitionBy(col("id")).orderBy(col("d"), col("nb"))
    val nk = pairs.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .groupBy(col("nb").as("id")).agg(count(lit(1)).as("cnt"))
    val full = ids.join(nk, Seq("id"), "left_outer")
      .select(coalesce(col("cnt"), lit(0L)).as("c"))
    def d19(c: org.apache.spark.sql.Column) = c.cast("decimal(19,0)")
    full.agg(count(lit(1)).as("n"),
        sum(d19(col("c"))).as("s1"),
        sum(d19(col("c")) * d19(col("c"))).as("s2"),
        sum((d19(col("c")) * d19(col("c"))).cast("decimal(19,0)") * d19(col("c")))
          .as("s3"),
        max(col("c")).as("max_nk"),
        sum(when(col("c") === 0, 1L).otherwise(0L)).as("nz"))
      .select(col("n"), lit(k.toLong).as("k"), col("max_nk"),
        round(col("nz").cast("double") / col("n"), 6).as("pct_antihubs"),
        round({
          val n = col("n").cast("double")
          val m = col("s1").cast("double") / n
          val m2 = col("s2").cast("double") / n - m * m
          val m3 = col("s3").cast("double") / n -
            m * col("s2").cast("double") / n * 3 + m * m * m * 2
          when(m2 > 0, m3 / pow(m2, 1.5))
        }, 6).as("skewness"))
  }
}
