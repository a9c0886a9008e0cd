package graft.sim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Embedding anisotropy — the mean pairwise cosine of the (normalized)
  * vectors (Ethayarajh 2019: contextual embeddings collapse into a
  * narrow cone; a high mean cosine means cosine similarity has lost its
  * dynamic range and retrieval/dedup thresholds upstream are lying).
  * The embedding-space HEALTH metric next to [[Lof]]'s per-point one.
  *
  * The N² pair sum collapses by identity — with unit vectors v̂,
  * `Σ_{i≠j} cos(vᵢ,vⱼ) = |Σ v̂|² − n`, so ONE pass computes what naive
  * pairwise needs N² for: normalize per row, sum per dimension, take
  * the squared norm of the mean-direction vector.
  *
  * Determinism: per-row norms are one pinned double; each normalized
  * component is quantized to a 9-dp long so per-dimension sums are
  * exact integers (order-invariant at any partitioning); the final
  * closed form runs in double over those integers. The 1e-9 component
  * quantization perturbs the mean cosine by < 1e-8·√dim — invisible at
  * the 6-dp report. Scale: the dimension explode is rows×dim, feeding
  * one dim-keyed map-side-combined aggregate (output = dim rows).
  * Zero-norm vectors are excluded (no direction). */
object Anisotropy {

  /** One row: `(n, dim, mean_cos)`. */
  def meanCosine(df: DataFrame, vecCol: String): DataFrame = {
    val withNorm = df
      .select(col(vecCol).cast("array<double>").as("v"))
      // per-row squared norm as an exact 12-dp long fold — engine log
      // parity needs no float-accumulation-order assumption at all
      .withColumn("n12", aggregate(
        transform(col("v"), x => round(x * x * lit(1e12)).cast("long")),
        lit(0L), (acc, x) => acc + x))
      .withColumn("nrm", sqrt(col("n12").cast("double") / 1e12))
      .filter(col("nrm") > 0)
    val comps = withNorm
      .select(col("nrm"), posexplode(col("v")).as(Seq("d", "x")))
      .select(col("d"),
        round(col("x") / col("nrm") * lit(1e9)).cast("long").as("c9"))
    val dims = comps.groupBy(col("d"))
      .agg(sum(col("c9").cast("decimal(19,0)")).as("s9"))
    val n = withNorm.agg(count(lit(1)).as("n"))
    n.crossJoin(broadcast(dims.agg(
        count(lit(1)).as("dim"),
        sum((col("s9") * col("s9")).cast("decimal(38,0)")).as("ss"))))
      .select(col("n"), col("dim"),
        round(when(col("n") >= 2,
          (col("ss").cast("double") / 1e18 - col("n")) /
            (col("n").cast("double") * (col("n") - 1))), 6).as("mean_cos"))
  }

  /** Calinski-Harabasz variance-ratio index of a labeled embedding set
    * (the vector-space one-way ANOVA: between-cluster dispersion over
    * within-cluster dispersion, both summed across dimensions) — the
    * fast global companion to the per-point silhouette (q243):
    * `CH = (SSB/(k−1)) / (SSW/(n−k))`. One row `(n, k, dim, ch)`.
    *
    * Exactness: components quantize to 6-dp longs; per-(cluster, dim)
    * sums and squares are exact DECIMAL; the per-cluster ratio terms
    * `s_cd²/n_c` are pinned doubles rounded to the unit of the squared
    * scale and summed exactly (the q251 ANOVA discipline, per
    * dimension); CH is one double expression at the end. Scale: one
    * (cluster × dim)-keyed aggregate — category-bounded. */
  def calinskiHarabasz(df: DataFrame, labelCol: String,
                       vecCol: String): DataFrame = {
    val comps = df
      .select(col(labelCol).as("c"),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("d", "x")))
      .select(col("c"), col("d"), round(col("x") * lit(1e6)).cast("long").as("x6"))
    def d19(cc: org.apache.spark.sql.Column) = cc.cast("decimal(19,0)")
    val perCD = comps.groupBy(col("c"), col("d"))
      .agg(count(lit(1)).as("nc"), sum(d19(col("x6"))).as("s"),
        sum(d19(col("x6")) * d19(col("x6"))).as("q"))
    val perD = perCD.groupBy(col("d"))
      .agg(sum(col("nc")).as("n"), count(lit(1)).as("k"),
        sum(col("s").cast("decimal(38,0)")).as("sd"),
        sum(col("q")).as("qd"),
        sum(round(col("s").cast("double") * col("s").cast("double") /
          col("nc")).cast("long")).as("bd"))
    perD.agg(
        max(col("n")).as("n"), max(col("k")).as("k"),
        count(lit(1)).as("dim"),
        sum(col("bd").cast("decimal(38,0)")
          - round(col("sd").cast("double") * col("sd").cast("double") /
            col("n")).cast("long").cast("decimal(38,0)")).as("ssb"),
        sum(col("qd").cast("decimal(38,0)")
          - col("bd").cast("decimal(38,0)")).as("ssw"))
      .select(col("n"), col("k"), col("dim"),
        round(when(col("k") >= 2 && col("n") > col("k") && col("ssw") > 0,
          (greatest(col("ssb"), lit(0).cast("decimal(38,0)")).cast("double") /
            (col("k") - 1)) /
            (col("ssw").cast("double") / (col("n") - col("k")))), 4).as("ch"))
  }
}
