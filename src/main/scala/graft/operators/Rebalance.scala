package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus-composition application operators — the APPLY side of the
  * mixture math in [[Mixture]] (which computes target weights, this
  * enforces them) and the budget side of curation.
  *
  * Both are deterministic by the portable-hash / exact-rank discipline:
  * membership decisions replay identically on any engine, rerun or
  * partitioning — a resumed 100 TB job never re-deals.
  */
object Rebalance {

  /** Downsample each group toward `targetShare` of the SMALLEST total
    * that satisfies every share exactly ("water-filling" by the binding
    * group): group g keeps `round(targetShare(g) · M)` rows where
    * `M = min_g floor(n_g / share_g)` — no group is oversampled, the mix
    * is exact. Selection = the portable md5 unit hash ranked WITHIN the
    * group: keep the `k_g` smallest `(hash, id)` — deterministic, and
    * stable under corpus growth (a kept row stays kept while its rank
    * holds).
    *
    * Scale shape: one group-count aggregate (broadcast), one per-group
    * rank window (the group-keyed shuffle any per-group top-k pays), no
    * driver data. */
  def toTargetMix(df: DataFrame, groupCol: String, idCol: String,
                  targetShares: Map[String, Double]): DataFrame = {
    require(targetShares.nonEmpty, "need target shares")
    val total = targetShares.values.sum
    require(math.abs(total - 1.0) < 1e-9, s"shares must sum to 1, got $total")
    val spark = df.sparkSession
    import spark.implicits._
    val shares = targetShares.toSeq.toDF("__g", "__share")
    val counts = df.groupBy(col(groupCol).as("__g"))
      .agg(count(lit(1)).as("__n"))
      .join(shares, "__g")
    // binding group: M = min floor(n_g / share_g); k_g = round(share_g·M)
    val m = counts.agg(min(floor(col("__n") / col("__share"))).as("m"))
    val quotas = counts.crossJoin(broadcast(m))
      .select(col("__g"), round(col("__share") * col("m")).cast("long").as("__k"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(Sharding.hash32(col(idCol)), col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .join(broadcast(quotas), col(groupCol) === col("__g"))
      .filter(col("__rn") <= col("__k"))
      .drop("__rn", "__g", "__k")
  }

  /** Greedy token-budget trim: keep documents in `(score desc, id)` order
    * while the RUNNING token total stays within `budget` (the first
    * overflowing doc is cut, not truncated).
    *
    * The global running sum is built the way [[Positional.withRowIndex]]
    * builds the global index — range partition on the order, per-
    * partition totals collected as a (tiny) offsets map, then an
    * IN-PARTITION prefix sum under a partitioned window. A naive
    * `Window.orderBy(idx)` cumsum would re-plan the whole corpus into
    * one SinglePartition sort wall. */
  def tokenBudgetTrim(df: DataFrame, idCol: String, scoreCol: String,
                      tokensCol: String, budget: Long): DataFrame = {
    val indexed = Positional.withRowIndex(
        df, Seq(col(scoreCol).desc, col(idCol)), "__i")
      .withColumn("__pid", spark_partition_id())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val parts = indexed.groupBy(col("__pid"))
      .agg(sum(col(tokensCol)).as("__s"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    val offsets: Map[Int, Long] = parts.map { case (p, s) =>
      val o = acc; acc += s; (p, o)
    }.toMap
    if (offsets.isEmpty) return indexed.drop("__i", "__pid").limit(0)
    val wp = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__pid")).orderBy(col("__i"))
      .rowsBetween(Long.MinValue, 0)
    indexed
      .withColumn("__cum",
        element_at(typedLit(offsets), col("__pid")) +
          sum(col(tokensCol)).over(wp))
      .filter(col("__cum") <= budget)
      .drop("__i", "__pid", "__cum")
  }
}
