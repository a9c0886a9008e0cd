package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** RANK-2 alternating least squares by pinned-integer half-steps — the
  * oracle-exact sibling of [[Recommend.alsItemNeighbors]] (whose
  * spark.ml blocked ALS stays the scale surface, spec-covered): at rank
  * 2 every normal-equation solve is the CLOSED-FORM 2×2 inverse, so each
  * half-step is one join + one grouped aggregate + a projection — no
  * iterative solver, no RNG, and an unrolled SQL twin per sweep.
  *
  * Pinning contract (the PinnedLogit/PinnedGbt pattern):
  *  - factors live on the 1e-6 long grid (`v1, v2`); item init is
  *    `(1.0, ((item % 1000) + 1)/1000)` — deterministic, engine-pure
  *    arithmetic, non-collinear across items;
  *  - the Gram sums `Σv², Σv·v, Σr·v` are LONG sums of long products
  *    (the twin uses HUGEINT; see `solveSide` for the headroom). The
  *    session runs in ANSI mode ([[graft.GraftSession]] pins it), so a
  *    product or sum past 2^63 throws ARITHMETIC_OVERFLOW; it never
  *    wraps into a wrong factor;
  *  - the solve runs in IEEE double over those exact integers with the
  *    twin's operation order (`det = a11·a22 − a12²` with λ added to the
  *    diagonal first), and pins straight back to the grid. λ > 0 keeps
  *    A positive definite, so det ≥ λ² > 0 — no guard needed.
  *
  * Scale shape: ratings are checkpointed ONCE (corpus-aggregated pairs,
  * the same footprint spark.ml ALS caches as blocks) and each half-step
  * shuffles on its group key; factor frames are user-/item-bounded and
  * flow lazily — only the final item-factor frame materializes (it has
  * two consumers: the anchor row and the cosine scan). */
object PinnedAls {

  /** One half-step: solve the `groupKey` side's 2×2 normal equations
    * against the fixed `joinKey`-side factors `f(joinKey, v1, v2)`.
    * Gram sums run in LONG (not decimal — profiled 3 CPU-s/stage of
    * BigDecimal per-row cost): a factor on the 1e-6 grid sits at ~1e6·
    * O(rating scale), so a per-term square is ≤ ~1e16 and the per-group
    * sum stays below 2^63 up to ~9·10^2 such terms per key at that
    * magnitude (~9.2·10^6 at unit factors); the twin's HUGEINT sums are
    * equal wherever long doesn't overflow. Past that, the session's
    * ANSI mode makes the multiply or the sum throw ARITHMETIC_OVERFLOW
    * (pinned by PinnedOverflowSpec); nothing wraps silently. */
  private def solveSide(r: DataFrame, f: DataFrame, joinKey: String,
                        groupKey: String, lambda: Double): DataFrame = {
    val sums = r.join(f, joinKey)
      .groupBy(col(groupKey))
      .agg(
        sum(col("v1") * col("v1")).as("a11"),
        sum(col("v1") * col("v2")).as("a12"),
        sum(col("v2") * col("v2")).as("a22"),
        sum(col("rating") * col("v1")).as("b1"),
        sum(col("rating") * col("v2")).as("b2"))
    // the twin's double pipeline, operation for operation: diagonal + λ,
    // det from those SAME doubles, closed-form inverse, 1e-6 pin
    val typed = sums.select(col(groupKey),
      (col("a11").cast("double") / 1e12 + lambda).as("a11d"),
      (col("a12").cast("double") / 1e12).as("a12d"),
      (col("a22").cast("double") / 1e12 + lambda).as("a22d"),
      (col("b1").cast("double") / 1e6).as("b1d"),
      (col("b2").cast("double") / 1e6).as("b2d"))
    typed
      .withColumn("det", col("a11d") * col("a22d") - col("a12d") * col("a12d"))
      .select(col(groupKey),
        round((col("a22d") * col("b1d") - col("a12d") * col("b2d"))
          / col("det") * 1e6).cast("long").as("v1"),
        round((col("a11d") * col("b2d") - col("a12d") * col("b1d"))
          / col("det") * 1e6).cast("long").as("v2"))
  }

  /** Final item factors `(item, v1, v2)` on the 1e-6 grid after
    * `sweeps` full user→item alternations. `ratings` columns:
    * `user`, `item` (long-castable), `rating` (integral). */
  def itemFactors(ratings: DataFrame, lambda: Double, sweeps: Int): DataFrame = {
    require(sweeps >= 1 && lambda > 0, s"need sweeps >= 1, lambda > 0")
    val r0 = ratings.select(col("user").cast("long").as("user"),
      col("item").cast("long").as("item"),
      col("rating").cast("long").as("rating"))
    // TWO pre-partitioned rating copies, one per alternation side:
    // checkpointing pins the HashPartitioning(groupKey) into the plan,
    // so when the factor side broadcasts (its checkpoint reports true —
    // small — stats, so the planner picks BHJ statically at this scale;
    // a user-count beyond the broadcast threshold degrades to SMJ, still
    // correct) each half-step is ONE exchange-free stage: broadcast
    // probe + partial/final agg on the preserved partitioning. Without
    // this, every half-step re-shuffled the corpus-sized rating frame
    // (profiled 17.6 s → ~5 s at sf0.1 for 5 sweeps).
    // TWO cached pre-partitioned rating copies, one per alternation
    // side: persist (unlike localCheckpoint, which degrades to
    // UnknownPartitioning) KEEPS HashPartitioning(groupKey) visible to
    // the planner, so with the factor side broadcast each half-step is
    // ONE exchange-free stage — cached scan + broadcast probe + full
    // aggregation on the preserved partitioning. Factor-side broadcast
    // is decided by MEASURED key counts, once (checkpointed factor
    // frames report no useful plan-time stats); above
    // `graft.als.broadcastFactorsMax` rows (default 2^20) the hint is
    // withheld and the plain shuffled join stands — correct at any
    // scale, fast when factors fit. The ITEM factor checkpoint (one per
    // sweep) is kept EAGER: a fully lazy chain nests every prior sweep
    // inside each broadcast build and re-executes the tower (measured
    // 29 s vs 8 s at sf0.1); the USER half-step alone stays lazy inside
    // its sweep (half-step fusion, see the loop).
    // the ratings aggregate runs ONCE (checkpoint), then fans out into
    // the two cached pre-partitioned copies (each a cheap reshuffle of
    // the materialized rows, not a recompute of the corpus join)
    val rBase = r0.localCheckpoint(true)
    val rU = rBase.repartition(col("user"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rI = rBase.repartition(col("item"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bcMax = ratings.sparkSession.conf
      .getOption("graft.als.broadcastFactorsMax").map(_.toLong).getOrElse(1L << 20)
    def hinted(f: DataFrame, n: Long) = if (n <= bcMax) broadcast(f) else f
    var itemF = rI.select(col("item")).distinct()
      .select(col("item"), lit(1000000L).as("v1"),
        ((pmod(col("item"), lit(1000)) + 1) * 1000).cast("long").as("v2"))
      .localCheckpoint(true)
    // broadcastability is decided from MATERIALIZED frames' own row
    // counts (trivial scans of key-bounded/cached frames — never a
    // corpus-sized countDistinct). nUsers comes from the cached rating
    // copy: solveSide emits one row per distinct rU user (every item
    // carries a factor, so the join drops nothing).
    val nItems = itemF.count()
    val nUsers = rU.select(col("user")).distinct().count()
    var s = 0
    while (s < sweeps) {
      // HALF-STEP FUSION (one checkpoint per sweep, not two): the user
      // half-step stays LAZY inside the item half-step's plan, so its
      // aggregation runs exactly once — as the build of the user-factor
      // broadcast — and the separate userF materialize job + its
      // rescan-for-broadcast disappear (36 jobs → ~22, 1.8 s of driver
      // gaps at sf0.1). This is ONE level of laziness on top of a
      // checkpointed itemF, not the lazy tower the r12 measurement
      // rejected (29 s vs 8 s — there every sweep nested ALL prior
      // sweeps; here the per-sweep itemF checkpoint still cuts the
      // lineage). Above the broadcast gate the user frame flows into a
      // plain shuffled join instead — correct at any scale.
      val userF = solveSide(rU, hinted(itemF, nItems), "item", "user", lambda)
      itemF = solveSide(rI, hinted(userF, nUsers), "user", "item", lambda)
        .localCheckpoint(true)
      s += 1
    }
    itemF // checkpointed: two consumers (anchor row + cosine scan)
  }

  /** Top-`k` latent cosine neighbors of the smallest item id:
    * `(item, sim)` ordered (sim desc, item), 4 dp — the
    * [[Recommend.alsItemNeighbors]] readout contract over the pinned
    * factors. */
  def itemNeighbors(ratings: DataFrame, lambda: Double, sweeps: Int,
                    k: Int): DataFrame = {
    require(k >= 1, s"k >= 1: $k")
    val f = itemFactors(ratings, lambda, sweeps)
    val anchor = broadcast(f.orderBy(col("item")).limit(1)
      .select(col("item").as("__ai"), col("v1").as("a1"), col("v2").as("a2")))
    f.crossJoin(anchor)
      .where(col("item") =!= col("__ai"))
      .select(col("item"),
        ((col("v1").cast("double") * col("a1") + col("v2").cast("double") * col("a2"))
          / (sqrt(col("v1").cast("double") * col("v1") + col("v2").cast("double") * col("v2"))
             * sqrt(col("a1").cast("double") * col("a1") + col("a2").cast("double") * col("a2"))))
          .as("__c"))
      .orderBy(col("__c").desc, col("item"))
      .limit(k)
      .select(col("item"), round(col("__c"), 4).as("sim"))
  }
}
