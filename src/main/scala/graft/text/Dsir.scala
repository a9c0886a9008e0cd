package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** DSIR-style data selection — hashed n-gram IMPORTANCE RESAMPLING
  * (Xie et al. 2023, "Data Selection for Language Models via Importance
  * Resampling"): score every document by how much more likely its
  * features are under a TARGET distribution (the data you want more of)
  * than under the raw corpus, and keep the best-scoring documents. The
  * modern data-mixing primitive between blunt source reweighting
  * (q67/q401) and per-document quality scores (q21):
  *
  *   log w(d) = Σ_b c_d[b] · ( ln p̂_t[b] − ln p̂_r[b] )
  *
  * over hashed unigram+bigram bucket counts `c_d`, with Laplace-
  * smoothed bucket probabilities `p̂[b] = (count[b] + α) / (total + αB)`.
  * This implementation is the DETERMINISTIC top-k variant (the paper
  * adds Gumbel noise for sampled selection; rank ties break by doc id)
  * so the whole pipeline is oracle-checkable.
  *
  * Scale shape: feature hashing uses the portable 32-bit md5-prefix
  * (`Sharding.hash32`, ANSI-SQL-reproducible), so the per-bucket count
  * table is B-bounded regardless of vocabulary size. Pass 1 aggregates
  * TARGET and RAW counts together (one conditional-sum aggregate, ≤B
  * rows collected); the pinned log-ratio λ12 re-enters the plan as a
  * LOCAL frame (no corpus lineage) and pass 2 scores each feature
  * instance through a broadcast join and one map-side-combined doc sum —
  * exact integer arithmetic end to end. Two corpus passes, nothing
  * corpus-sized cached or collected.
  */
object Dsir {

  /** Top-`k` documents by hashed-n-gram importance weight toward the
    * rows matching `targetPred`. Output `(doc_id, in_target, logw,
    * rank)` — logw in 4-dp natural-log units (positive ⇒ more
    * target-like than the corpus average), rank by (logw desc, id). */
  def topKByImportance(df: DataFrame, idCol: String, textCol: String,
                       targetPred: Column, buckets: Int = 1024,
                       alpha: Double = 0.5, k: Int = 100): DataFrame = {
    require(buckets > 0 && alpha > 0 && k > 0,
      s"need buckets, alpha, k > 0: $buckets, $alpha, $k")
    val spark = df.sparkSession
    // feature stream: one row per unigram + bigram INSTANCE (duplicates
    // kept — c_d[b] is an occurrence count), hashed to its bucket
    def feats = df
      .select(col(idCol).cast("long").as("id"), targetPred.as("is_t"),
        TextAnalysis.tokens(col(textCol)).as("__toks"))
      .select(col("id"), col("is_t"),
        explode(concat(col("__toks"),
          call_function(graft.functions.ShingleList.Name,
            col("__toks"), lit(2)))).as("g"))
      .select(col("id"), col("is_t"),
        pmod(graft.operators.Sharding.hash32(col("g")),
          lit(buckets.toLong)).as("b"))
    // pass 1: target + raw bucket counts from ONE aggregate; ≤B rows
    val bt = feats.groupBy(col("b"))
      .agg(sum(when(col("is_t"), 1L).otherwise(0L)).as("ct"),
        count(lit(1)).as("cr"))
    val btRows = bt.collect()
    val ctTot = btRows.map(_.getLong(1)).sum
    val crTot = btRows.map(_.getLong(2)).sum
    require(ctTot > 0, "empty target: no feature instance matches targetPred")
    // pinned per-bucket log ratio as a LOCAL frame — evaluated by the
    // same engine expression the oracle mirrors, zero corpus lineage.
    // Buckets no feature hashed into are absent on BOTH sides by
    // construction (they cannot appear in any document either).
    val btLocal = spark.createDataFrame(
      java.util.Arrays.asList(btRows: _*), bt.schema)
    val lam = btLocal.select(col("b"),
      round(log(((col("ct") + lit(alpha)) / lit(ctTot + alpha * buckets)) /
                ((col("cr") + lit(alpha)) / lit(crTot + alpha * buckets)))
        * lit(1e12)).cast("long").as("lam12"))
    // pass 2: Σ per doc of the per-instance λ12 — exact longs, map-side
    // combined; global top-k via TakeOrdered (never a single-partition
    // sort of the corpus), rank attached on the k-row result
    val scored = feats.join(broadcast(lam), "b")
      .groupBy(col("id"))
      .agg(max(when(col("is_t"), 1L).otherwise(0L)).as("in_target"),
        sum(col("lam12")).as("logw12"))
      .orderBy(col("logw12").desc, col("id"))
      .limit(k)
    scored
      .withColumn("rank", row_number().over(
        Window.orderBy(col("logw12").desc, col("id"))))
      .select(col("id").as("doc_id"), col("in_target"),
        round(col("logw12").cast("double") / 1e12, 4).as("logw"),
        col("rank").cast("long").as("rank"))
  }
}
