package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Domain mixing for training corpora: compute per-source sampling
  * weights that equalize token budgets across sources, then apply them
  * with a DETERMINISTIC Bernoulli sample — the downsample-the-giant-crawl
  * / keep-all-of-the-small-corpus step every pretraining mix runs.
  *
  * Determinism is the contract: the keep/drop decision for a document is
  * a pure function of its key (`u = md5-prefix(key) / 2^32 < weight`),
  * not of `rand()` — so reruns, retries, and other engines reproduce the
  * exact same subcorpus (same portable hash as
  * [[Sharding.shardId]]; u is a dyadic rational, exactly representable
  * in double on every engine).
  *
  * Scale shape: per-source totals are one partial-merged aggregate
  * (|sources| rows); weights BROADCAST back onto the corpus, so the
  * sample itself is a map-side filter — the 100 TB table is scanned
  * once and never shuffled.
  */
object Mixture {

  /** Uniform [0, 1) from a key via the portable md5-prefix hash. */
  def unitHash(key: Column): Column =
    Sharding.hash32(key) / lit(4294967296.0)

  /** Per-group totals and the capped equal-budget weight
    * `min(1, (total/n_groups) / group_total)`. */
  def budgetWeights(df: DataFrame, groupCol: String, sizeCol: String): DataFrame = {
    val totals = df.groupBy(col(groupCol))
      .agg(sum(col(sizeCol).cast("long")).as("group_size"))
    val budget = totals.agg(
      (sum(col("group_size")).cast("double") / count(lit(1))).as("budget"))
    totals.join(broadcast(budget))
      .withColumn("weight",
        least(lit(1.0), col("budget") / col("group_size")))
      .select(col(groupCol), col("group_size"), col("weight"))
  }

  /** The rows kept by the deterministic sample (all input columns plus
    * the group's `weight`). */
  def sampleToBudget(df: DataFrame, groupCol: String, sizeCol: String,
                     keyCol: String): DataFrame =
    df.join(broadcast(budgetWeights(df, groupCol, sizeCol)
        .select(col(groupCol), col("weight"))), groupCol)
      .filter(unitHash(col(keyCol)) < col("weight"))

  /** TEMPERATURE mixing weights (the mT5/PaLM/BLOOM corpus recipe):
    * sampling weight `w_g ∝ share_g^α`, α ∈ (0,1] — α = 1 keeps natural
    * proportions, α → 0 approaches uniform, flattening the head domains
    * so low-resource groups are seen more often. Per group:
    * `(group, group_size, raw_share, weight, epochs)` where `epochs =
    * w_g / share_g` is the oversampling factor a trainer applies
    * (> 1 = upsampled). Ascending by group.
    *
    * Determinism: group totals are exact longs; ONE `pow` per group
    * (group-bounded), pinned to a 1e9 long before the exact
    * normalization sum — both engines divide the same integers. */
  def temperatureWeights(df: DataFrame, groupCol: String, sizeCol: String,
                         alpha: Double): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha in (0,1]: $alpha")
    // the corpus fold feeds the grand total, the pin AND the norm —
    // materialize the group-bounded result once
    val totals = df.groupBy(col(groupCol))
      .agg(sum(col(sizeCol).cast("long")).as("group_size"))
      .localCheckpoint(true)
    val tot = totals.agg(sum(col("group_size")).as("t"))
    val pinned = totals.crossJoin(broadcast(tot))
      .withColumn("p9", round(
        pow(col("group_size").cast("double") / col("t"), lit(alpha)) * lit(1e9))
        .cast("long"))
    val norm = pinned.agg(sum(col("p9")).as("sp9"))
    pinned.crossJoin(broadcast(norm))
      .select(col(groupCol), col("group_size"),
        round(col("group_size").cast("double") / col("t"), 6).as("raw_share"),
        round(col("p9").cast("double") / col("sp9"), 6).as("weight"),
        round((col("p9").cast("double") / col("sp9")) /
          (col("group_size").cast("double") / col("t")), 6).as("epochs"))
      .orderBy(col(groupCol))
  }

  /** Deterministic EXACT per-group cap — keep at most `k` rows per group,
    * chosen by the portable md5-based hash rank ([[Sharding.hash32]] asc,
    * id asc): the "downsample the over-represented sources to k docs
    * each" primitive, reproducible on any engine (no RNG, no
    * partition-order dependence). Returns the kept `(group, id)` pairs.
    *
    * Scale shape: one [[graft.functions.TopK]] bounded-heap aggregate —
    * k-element heaps fold map-side, only k pairs per (partition, group)
    * cross the shuffle. The per-group ranking WINDOW this replaces
    * shuffles every row and sorts whole groups (the hottest source =
    * the slowest task); the heap is exact at any skew. Keeping the k
    * SMALLEST (hash, id) keys maps onto the largest-first heap by
    * negating the hash; ties on the 32-bit hash break by id ascending
    * (the heap's tag order).
    *
    * `idCol` must be (castable to) an integral id — a row whose id does
    * not cast to long has no hash rank and is dropped, like every other
    * long-id operator in the library. */
  def capPerGroup(df: DataFrame, groupCol: String, idCol: String,
                  k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    df.select(col(groupCol), col(idCol).cast("long").as("__id"))
      .groupBy(col(groupCol))
      .agg(call_function(graft.functions.TopK.Name,
        -Sharding.hash32(col("__id")).cast("double"), col("__id"), lit(k))
        .as("__top"))
      .select(col(groupCol), explode(col("__top")).as("__e"))
      .select(col(groupCol), col("__e.tag").as(idCol))
  }
}
