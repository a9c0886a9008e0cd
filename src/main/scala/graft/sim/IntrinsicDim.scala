package graft.sim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** TwoNN intrinsic-dimension estimator (Facco et al. 2017) over an
  * embedding column — how many degrees of freedom the vectors REALLY
  * use, regardless of their ambient dimension. Under local uniformity
  * the ratio μ = r₂/r₁ of each point's second- to first-neighbor
  * distance is Pareto(d), giving the MLE `d̂ = n / Σ ln μᵢ` — no
  * density estimation, no binning, just two neighbors per point. Low
  * d̂ on high-dimensional embeddings = collapsed/anisotropic space
  * (the training-signal cousin of [[Anisotropy]]'s first-component
  * share); a d̂ near the ambient dimension = healthy spread.
  *
  * Distances are 9-dp-quantized distances of the PINNED cosine
  * ([[graft.functions.PinnedCosine]]: per-term products on a 1e-9
  * integer grid, exact accumulator sums, one closing double
  * expression) — so the cosine itself is bit-identical on any engine
  * and the neighbor ORDER the estimator rests on cannot flip at a
  * rounding boundary at all. (The previous defense was a coarser grid
  * making flips RARE; an estimator whose output moves with a single
  * swapped neighbor pair deserves the certainty.) The μ ratio and its
  * ln run on those exact longs, pinned to 9-dp longs before the
  * order-free sum. Points whose FIRST neighbor sits at distance 0
  * (exact duplicates at the quantization grid) have no defined μ and
  * are dropped, reported in `n_dropped` — dedup upstream if that count
  * is material.
  *
  * Scale: the brute N² pair frame is the REFERENCE formulation (same
  * contract as [[Lof.bruteTop]]); at corpus scale the two neighbors
  * come from the IVF/LSH bucketing and the estimator is unchanged. */
object IntrinsicDim {

  /** One row: `(n_used, n_dropped, id_mle)` (id_mle at 4 dp; NULL when
    * no usable points or Σln μ = 0). `k`-th neighbor ties break by id. */
  def twoNn(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val pts = graft.operators.Spread.widen(
      df.select(col(idCol).cast("long").as("id"), col(vecCol).as("v")),
      col("id"))
    val d9 = round((lit(1.0) - call_function(graft.functions.PinnedCosine.Name,
      col("a.v"), col("b.v"))) * lit(1e9)).cast("long")
    val pairs = pts.alias("a").join(pts.alias("b"),
        col("a.id") =!= col("b.id"))
      .select(col("a.id").as("id"), col("b.id").as("nb"), d9.as("d"))
    val w = Window.partitionBy(col("id")).orderBy(col("d"), col("nb"))
    val top2 = pairs.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .groupBy(col("id"))
      .agg(min(when(col("rn") === 1, col("d"))).as("r1"),
        min(when(col("rn") === 2, col("d"))).as("r2"))
    val mu = top2.select(col("r1"), col("r2"),
      when(col("r1") > 0 && col("r2").isNotNull,
        round(log(col("r2").cast("double") / col("r1")) * lit(1e9))
          .cast("long")).as("l9"))
    mu.agg(
        sum(when(col("l9").isNotNull, 1L).otherwise(0L)).as("n_used"),
        sum(when(col("l9").isNull, 1L).otherwise(0L)).as("n_dropped"),
        sum(coalesce(col("l9"), lit(0L)).cast("decimal(38,0)")).as("sl9"))
      .select(col("n_used"), col("n_dropped"),
        round(when(col("n_used") >= 1 && col("sl9") > 0,
          col("n_used").cast("double") /
            (col("sl9").cast("double") / 1e9)), 4).as("id_mle"))
  }
}
