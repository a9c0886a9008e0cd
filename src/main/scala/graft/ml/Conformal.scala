package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Split conformal prediction (Vovk 2005; Lei 2018): distribution-free
  * prediction intervals for ANY point predictor — the calibration layer
  * that turns a model score into "value ± q̂ with ≥90% coverage",
  * assumption-free. Here over the simplest honest predictor (per-group
  * calibration mean), because conformal guarantees are about the
  * CALIBRATION step, not the model.
  *
  * Determinism: the calibration/evaluation split is a parity rule on the
  * id column; q̂ is the EXACT ⌈(n+1)·level⌉-th smallest nonconformity
  * under the `(residual, id)` total order — integer rank selection, no
  * quantile interpolation (the same lower-median discipline as
  * [[graft.analyze.RobustStats]]).
  *
  * Scale shape: one group-keyed aggregate for the predictor, one rank
  * window per group over the calibration half, a broadcast q̂ frame, and
  * a final rollup. Coverage is re-measured on the held-out half — the
  * report carries its own evidence.
  */
object Conformal {

  /** Per-group `(group, n_calib, pred, qhat, coverage)` at `level` (e.g.
    * 0.9): intervals `pred ± qhat` calibrated on even-id rows, coverage
    * measured on odd-id rows (4 dp). */
  def splitConformal(df: DataFrame, groupCol: String, idCol: String,
                     valueCol: String, level: Double): DataFrame = {
    require(level > 0 && level < 1, s"level out of (0,1): $level")
    val vq = round(col(valueCol) * lit(1000000)).cast("long")
    val base = df.select(col(groupCol).as("g"), col(idCol).as("id"),
      vq.as("vq"), pmod(col(idCol), lit(2)).as("par"))
    val calib = base.filter(col("par") === 0)
    val evalh = base.filter(col("par") === 1)
    // predictor: exact calibration mean, kept as a (sum, n) pair so the
    // residual rank order is computed on exact integers scaled by n
    val pred = calib.groupBy(col("g"))
      .agg(sum(col("vq")).as("sv"), count(lit(1)).as("nc"))
    // nonconformity |v − mean| without the float mean: |v·n − Σv| ranks
    // identically to |v − Σv/n| and stays integer
    val scored = calib.join(broadcast(pred), "g")
      .withColumn("resn", abs(col("vq") * col("nc") - col("sv")))
    val w = Window.partitionBy(col("g")).orderBy(col("resn"), col("id"))
    val qhat = scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === ceil((col("nc") + 1) * lit(level)).cast("int"))
      .select(col("g"), col("resn").as("qn"))
    evalh.join(broadcast(pred), "g").join(broadcast(qhat), "g")
      .groupBy(col("g").as(groupCol))
      .agg(
        max(col("nc")).as("n_calib"),
        round(max(col("sv").cast("double") / col("nc")) / 1e6, 4).as("pred"),
        round(max(col("qn").cast("double") / col("nc")) / 1e6, 4).as("qhat"),
        round(sum(when(abs(col("vq") * col("nc") - col("sv")) <= col("qn"),
            1L).otherwise(0L)).cast("double") / count(lit(1)), 4)
          .as("coverage"))
      .orderBy(col(groupCol))
  }
}
