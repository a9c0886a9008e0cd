package graft.ml

import org.apache.spark.ml.classification.{LogisticRegression, LogisticRegressionModel, RandomForestClassificationModel, RandomForestClassifier}
import org.apache.spark.ml.feature.{PCA, VectorAssembler}
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** L3-L8, L10-L11 — the spark.ml estimator surface (SURVEY.md §2.7).
  *
  * Thin, deterministic wrappers: seeds pinned, hyperparameters mirroring
  * the reference (`LogisticRegression(max_iter=1000)` at
  * `process_logs_v9.py:284`, `RandomForestClassifier(n_estimators=100,
  * random_state=42)` at v9:343, `PCA(n_components=2)` at v9:441).
  * Metrics follow v9:292-309 including the single-class AUC guard (L6).
  * Correctness is asserted on metric structure, not bit-equality with
  * sklearn (different RNGs/optimizers — SURVEY.md §7.4 #5).
  */
object Models {

  def assemble(df: DataFrame, featureCols: Seq[String], labelCol: String): DataFrame =
    new VectorAssembler().setInputCols(featureCols.toArray).setOutputCol("features")
      .transform(df)
      .withColumn("label", col(labelCol).cast("double"))

  /** Sufficient-statistics compression for weight-aware estimators:
    * collapse identical (features, label) rows into one instance with
    * `weight` = multiplicity. The weighted likelihood equals the
    * unweighted likelihood of the expanded data exactly, so the fitted
    * model is the same; the optimizer then iterates over O(distinct
    * feature vectors) rows instead of O(corpus). For discrete feature
    * spaces (count features) that makes per-iteration cost independent
    * of corpus size: one aggregation pass over the data, then LBFGS on
    * kilobytes. `coalesce(1)` keeps each iteration a single task, and the
    * sort pins row order so downstream float summation and bootstrap RNG
    * draws are identical at ANY upstream partition count. */
  def compressWeighted(df: DataFrame, featureCols: Seq[String],
                       labelCol: String): DataFrame =
    df.groupBy((featureCols :+ labelCol).map(col): _*)
      .agg(count(lit(1)).cast("double").as("weight"))
      .coalesce(1)
      .sortWithinPartitions((featureCols :+ labelCol).map(col): _*)

  // ------------------------------------------------------------------ L3
  def fitLogisticRegression(train: DataFrame, maxIter: Int = 1000,
                            weightCol: Option[String] = None): LogisticRegressionModel = {
    val lr = new LogisticRegression().setMaxIter(maxIter)
      .setFeaturesCol("features").setLabelCol("label")
    weightCol.foreach(lr.setWeightCol)
    lr.fit(train)
  }

  // ------------------------------------------------------------------ L4
  /** `weightCol` enables the [[compressWeighted]] path: weighted bootstrap
    * draws match the expanded data in distribution (not bit-for-bit — the
    * RNG stream differs), so use it for importance/structure queries, not
    * for goldens. */
  def fitRandomForest(train: DataFrame, numTrees: Int = 100, seed: Long = 42L,
                      weightCol: Option[String] = None): RandomForestClassificationModel = {
    val rf = new RandomForestClassifier().setNumTrees(numTrees).setSeed(seed)
      .setFeaturesCol("features").setLabelCol("label")
    weightCol.foreach(rf.setWeightCol)
    rf.fit(train)
  }

  /** Gradient-boosted trees (L4 sibling — the bias-reducing ensemble next
    * to the variance-reducing forest). Seed pinned; `weightCol` enables
    * the [[compressWeighted]] sufficient-statistics path exactly as for
    * the forest. */
  def fitGbt(train: DataFrame, maxIter: Int = 20, seed: Long = 42L,
             weightCol: Option[String] = None)
      : org.apache.spark.ml.classification.GBTClassificationModel = {
    val gbt = new org.apache.spark.ml.classification.GBTClassifier()
      .setMaxIter(maxIter).setSeed(seed)
      .setFeaturesCol("features").setLabelCol("label")
    weightCol.foreach(gbt.setWeightCol)
    gbt.fit(train)
  }

  /** GBT feature importance, descending (same contract as
    * [[rfImportance]]). */
  def gbtImportance(spark: org.apache.spark.sql.SparkSession,
                    model: org.apache.spark.ml.classification.GBTClassificationModel,
                    featureCols: Seq[String]): DataFrame = {
    import spark.implicits._
    featureCols.zip(model.featureImportances.toArray)
      .toDF("feature", "importance")
      .orderBy(desc("importance"), asc("feature"))
  }

  /** EXACT ROC AUC via the Mann-Whitney U statistic with average-rank tie
    * handling: collapse to distinct scores (one hash shuffle), prefix-sum
    * the group counts for average ranks, then
    * AUC = (Σ_pos avgRank − nPos(nPos+1)/2) / (nPos·nNeg).
    * Catalyst end to end — no legacy RDD `BinaryClassificationMetrics`
    * (which also BINS scores, so it is approximate). The only non-parallel
    * step is the prefix sum over DISTINCT scores, bounded by score
    * cardinality, not corpus size (discrete feature spaces stay tiny; for
    * continuous scores quantize upstream if cardinality ever approaches
    * corpus scale). */
  def exactAuc(predictions: DataFrame, scoreCol: Column): Double = {
    import org.apache.spark.sql.expressions.Window
    val grouped = predictions
      .groupBy(scoreCol.as("s"))
      .agg(count(lit(1)).as("n"),
           sum(when(col("label") === 1.0, 1L).otherwise(0L)).as("npos"))
    val before = Window.orderBy(col("s")).rowsBetween(Window.unboundedPreceding, -1)
    val r = grouped
      .withColumn("avg_rank",
        coalesce(sum(col("n")).over(before), lit(0L)) + (col("n") + 1) / 2.0)
      .agg(sum(col("npos") * col("avg_rank")).as("rankPos"),
           sum(col("npos")).as("nPos"),
           sum(col("n") - col("npos")).as("nNeg"))
      .head()
    val (rankPos, nPos, nNeg) = (r.getDouble(0), r.getLong(1), r.getLong(2))
    (rankPos - nPos.toDouble * (nPos + 1) / 2.0) / (nPos.toDouble * nNeg)
  }

  // ------------------------------------------------------------- L5 + L6
  /** precision / recall / accuracy via direct confusion-count aggregation
    * (positive class = 1.0), AUC guarded to null when the test labels are
    * single-class (`process_logs_v9.py:296-301`). One job for the counts,
    * one for AUC when defined. */
  def binaryMetrics(predictions: DataFrame): DataFrame = {
    val spark = predictions.sparkSession
    import spark.implicits._
    val counts = predictions.agg(
      sum(when($"label" === 1.0 && $"prediction" === 1.0, 1L).otherwise(0L)).as("tp"),
      sum(when($"label" === 0.0 && $"prediction" === 1.0, 1L).otherwise(0L)).as("fp"),
      sum(when($"label" === 1.0 && $"prediction" === 0.0, 1L).otherwise(0L)).as("fn"),
      count(lit(1)).as("n"),
      sum(when($"label" === $"prediction", 1L).otherwise(0L)).as("correct"),
      countDistinct($"label").as("nLabels")).head()
    val (tp, fp, fn, n, correct, nLabels) =
      (counts.getLong(0), counts.getLong(1), counts.getLong(2),
       counts.getLong(3), counts.getLong(4), counts.getLong(5))
    val precision = if (tp + fp == 0) 0.0 else tp.toDouble / (tp + fp)
    val recall = if (tp + fn == 0) 0.0 else tp.toDouble / (tp + fn)
    val accuracy = if (n == 0) 0.0 else correct.toDouble / n
    val auc: Option[Double] =
      if (nLabels > 1)
        Some(exactAuc(predictions,
          org.apache.spark.ml.functions.vector_to_array($"probability")(1)))
      else None // single-class guard (L6)
    Seq(("precision", Some(precision)), ("recall", Some(recall)),
        ("accuracy", Some(accuracy)), ("auc", auc))
      .toDF("metric", "value")
  }

  // ------------------------------------------------------------- L7 / L8
  /** |LR coefficient| per feature, descending (W4 composed). */
  def lrImportance(spark: org.apache.spark.sql.SparkSession,
                   model: LogisticRegressionModel, featureCols: Seq[String]): DataFrame = {
    import spark.implicits._
    featureCols.zip(model.coefficients.toArray.map(math.abs))
      .toDF("feature", "importance")
      .orderBy(desc("importance"), asc("feature"))
  }

  /** RF Gini importance per feature, descending. */
  def rfImportance(spark: org.apache.spark.sql.SparkSession,
                   model: RandomForestClassificationModel, featureCols: Seq[String]): DataFrame = {
    import spark.implicits._
    featureCols.zip(model.featureImportances.toArray)
      .toDF("feature", "importance")
      .orderBy(desc("importance"), asc("feature"))
  }

  // ----------------------------------------------------------------- L10
  /** PCA over an existing Array[Float] embedding column. */
  def pcaProjectArray(df: DataFrame, vecCol: String, k: Int): DataFrame = {
    val spark = df.sparkSession
    val toVec = udf { (v: Seq[Float]) => Vectors.dense(v.map(_.toDouble).toArray) }
    val assembled = df.withColumn("__features", toVec(col(vecCol)))
    val model = new PCA().setK(k).setInputCol("__features").setOutputCol("__pc")
      .fit(assembled)
    model.transform(assembled)
      .withColumn("pc", vector_to_array(col("__pc")))
      .drop("__features", "__pc")
  }
}
