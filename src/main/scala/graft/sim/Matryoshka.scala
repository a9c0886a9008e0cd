package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Matryoshka truncation evaluation (Kusupati 2022, MRL): how much
  * cosine-similarity structure survives keeping only the first `d`
  * embedding dimensions — the report that decides how far an index can
  * shrink its vectors before ANN recall degrades (the dimension-axis
  * sibling of [[Quantize]]'s precision-axis error report).
  *
  * Pair construction is deterministic (consecutive ids), cosines come
  * from the native sequential-fold [[CosineSimilarity]] expression on
  * full and prefix-sliced vectors, and the mean |Δcos| is an exact sum
  * of 9-dp-quantized per-pair deviations — engine-portable end to end.
  *
  * Scale shape: one self-join on the derived pair id (AQE
  * broadcast/shuffle-hash as size dictates), then a |dims|-row rollup;
  * per-pair work is O(width · |dims tested|) inside whole-stage codegen.
  */
object Matryoshka {

  /** The session-registered native expression ([[graft.GraftExtensions]]). */
  private def cos(a: Column, b: Column): Column =
    call_function(graft.functions.CosineSimilarity.Name, a, b)

  /** `(dim, n_pairs, mean_abs_dcos, mean_cos_full)` over pairs
    * `(id, id+1)` for even `id`, for each prefix width in `dims`. */
  def truncationReport(embeddings: DataFrame, idCol: String,
                       vecCol: String, dims: Seq[Int]): DataFrame = {
    require(dims.nonEmpty, "at least one dim required")
    val l = embeddings.filter(pmod(col(idCol), lit(2)) === 0)
      .select((col(idCol) / 2).cast("long").as("pair"), col(vecCol).as("va"))
    val r = embeddings.filter(pmod(col(idCol), lit(2)) === 1)
      .select(floor(col(idCol) / 2).cast("long").as("pair"), col(vecCol).as("vb"))
    val pairs = l.join(r, "pair")
      .withColumn("cos_full", cos(col("va"), col("vb")))
    val perDim = dims.map { d =>
      struct(lit(d).as("dim"),
        cos(slice(col("va"), 1, d), slice(col("vb"), 1, d)).as("cos_d"))
    }
    pairs
      .select(col("cos_full"), explode(array(perDim: _*)).as("e"))
      .select(col("e.dim").as("dim"),
        round(abs(col("e.cos_d") - col("cos_full")) * lit(1e9)).cast("long")
          .as("dq"),
        round(col("cos_full") * lit(1e9)).cast("long").as("cq"))
      .groupBy(col("dim"))
      .agg(
        count(lit(1)).as("n_pairs"),
        round(sum(col("dq")).cast("double") / count(lit(1)) / 1e5)
          .as("__md"),
        round(sum(col("cq")).cast("double") / count(lit(1)) / 1e5)
          .as("__mc"))
      .select(col("dim"), col("n_pairs"),
        (col("__md") / 1e4).as("mean_abs_dcos"),
        (col("__mc") / 1e4).as("mean_cos_full"))
      .orderBy(col("dim"))
  }
}
