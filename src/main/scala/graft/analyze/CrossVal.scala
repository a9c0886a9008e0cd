package graft.analyze

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{ExactAgg, Sharding}

/** Deterministic k-fold cross-validation assignment. The reference's
  * train/test split (SURVEY.md §2 L1/L2, sklearn `train_test_split
  * random_state=42`) generalizes to k folds; like [[StratifiedSplit]], the
  * engine-portable form keys membership on a content hash of the row id,
  * not an engine RNG — any engine, any rerun, any partitioning reproduces
  * the identical folds, and a resumed 100 TB job never re-deals the deck.
  *
  * Scale shape: fold assignment is a stateless projection on the scan (one
  * md5 per row, no shuffle); the per-fold report is a k-row hash aggregate.
  * Training a model on fold i trains on a `fold =!= i` FILTER of the same
  * frame — no materialized copies of the corpus per fold.
  */
object CrossVal {

  /** The input plus a `fold` column in [0, k): portable md5 hash of the key
    * ([[Sharding.hash32]]) mod k. */
  def assignFolds(df: DataFrame, keyCol: String, k: Int): DataFrame = {
    require(k > 1, s"k must be > 1, got $k")
    df.withColumn("fold", Sharding.hash32(col(keyCol)) % k)
  }

  /** Per-fold audit: row count and exact mean of `valueCol` (4 dp,
    * [[ExactAgg]] portable arithmetic) — the balance check run before
    * committing to a fold split. */
  def foldReport(df: DataFrame, keyCol: String, k: Int,
                 valueCol: String): DataFrame =
    assignFolds(df, keyCol, k)
      .groupBy(col("fold"))
      .agg(
        count(lit(1)).as("n"),
        ExactAgg.davg(col(valueCol), 4).as("mean_val"))
      .orderBy(col("fold"))

  /** Train-side of fold i (everything not in the fold). */
  def trainFold(df: DataFrame, keyCol: String, k: Int, i: Int): DataFrame =
    assignFolds(df, keyCol, k).filter(col("fold") =!= i).drop("fold")

  /** Held-out side of fold i. */
  def testFold(df: DataFrame, keyCol: String, k: Int, i: Int): DataFrame =
    assignFolds(df, keyCol, k).filter(col("fold") === i).drop("fold")
}
