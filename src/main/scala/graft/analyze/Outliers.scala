package graft.analyze

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-group z-score outlier tagging — the numeric-column anomaly flag of
  * a feature pipeline (loss spikes, latency tails, sensor glitches),
  * keeping the row and attaching the score (drop/clamp decisions belong
  * to the caller; see [[QuantileCut.winsorize]] for the clamping
  * treatment).
  *
  * Engine-portable determinism: mean and variance come from EXACT
  * DECIMAL sums of x and x² (per-row casts, order-invariant) with the
  * two-pass variance identity `(Σx² − (Σx)²/n)/(n−1)` applied in double
  * at the END — built-in `stddev_samp` implementations differ in
  * summation order across engines (Welford vs naive vs pairwise), so
  * bit-stable cross-engine scores require owning the formula. Stats
  * table is one aggregation (groups are few), broadcast back; the score
  * itself is scan-speed. */
object Outliers {

  def zscores(df: DataFrame, groupCol: String, valueCol: String,
              flagAt: Double = 3.0, scale: Int = 4): DataFrame = {
    // DECIMAL(18,6), not (30,6): the square must stay inside 38 digits in
    // EVERY engine ((18,6)² → 36-37 digits; a (30,6)² overflows DuckDB's
    // multiply entirely) — exact as long as |value| < 1e12
    val x = col(valueCol).cast("decimal(18,6)")
    val stats = df.groupBy(col(groupCol)).agg(
      count(lit(1)).as("__n"),
      sum(x).cast("double").as("__sx"),
      sum(x * x).cast("double").as("__sxx"))
      .withColumnRenamed(groupCol, "__g")
    // null-safe join: a null group must keep its rows (see Impute)
    df.join(broadcast(stats), col(groupCol) <=> col("__g"))
      // guarded divisions: under ANSI (Spark 4 default) a single-row group
      // (n-1 = 0) or a constant group (sd = 0) would THROW, not null out
      .withColumn("__var", when(col("__n") > 1,
        (col("__sxx") - col("__sx") * col("__sx") / col("__n")) / (col("__n") - 1)))
      // the flag tests the UNROUNDED score (the rounded z is presentation
      // only — flagging on it would diverge from any engine that tests the
      // raw value exactly at the boundary); undefined z (zero variance,
      // single-row group) is NOT an outlier
      .withColumn("__z", when(col("__var") > 0,
        (col(valueCol) - col("__sx") / col("__n")) / sqrt(col("__var"))))
      .withColumn("z", round(col("__z"), scale))
      .withColumn("is_outlier",
        coalesce((abs(col("__z")) > flagAt).cast("long"), lit(0L)))
      .drop("__n", "__sx", "__sxx", "__var", "__z", "__g")
  }

  /** Grubbs' extreme-studentized-deviate statistic — the formal "is the
    * single most extreme value an outlier" test ([[zscores]] flags many,
    * Grubbs tests THE max): `G = max(x̄ − min, max − x̄)/s` with the same
    * exact-DECIMAL moments and the two-pass sample variance. One row:
    * `(n, vmin, vmax, g)` — g at 4 dp, extremes at 6 dp. One aggregate,
    * no shuffle beyond it. */
  def grubbs(df: DataFrame, valueCol: String): DataFrame = {
    val x = col(valueCol).cast("decimal(18,6)")
    df.agg(
        count(lit(1)).as("n"),
        min(x).cast("double").as("__mn"),
        max(x).cast("double").as("__mx"),
        sum(x).cast("double").as("__sx"),
        sum(x * x).cast("double").as("__sxx"))
      .select(col("n"),
        round(col("__mn"), 6).as("vmin"),
        round(col("__mx"), 6).as("vmax"),
        round({
          val n = col("n").cast("double")
          val mean = col("__sx") / n
          val v = when(col("n") > 1,
            (col("__sxx") - col("__sx") * col("__sx") / n) / (n - 1))
          when(v > 0,
            greatest(col("__mx") - mean, mean - col("__mn")) / sqrt(v))
        }, 4).as("g"))
  }
}
