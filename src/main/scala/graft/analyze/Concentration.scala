package graft.analyze

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributional forensics: Benford first-digit conformance and the Gini
  * concentration coefficient — the "does this column look organic, and
  * how skewed is the mass" pair a data-quality pass runs next to the
  * expectations gate ([[Expectations]]) and the skew report
  * ([[graft.operators.Skew]]).
  *
  * Both are engine-portable by integer construction:
  *  - Benford's first digit comes from the DECIMAL STRING of the 6-dp
    *  quantized value — never `floor(x/10^floor(log10 x))`, whose last-ulp
    *  log differences can flip a digit at power-of-ten boundaries;
  *  - Gini uses the exact rank formulation
  *    `(2·Σ i·x_(i) − (n+1)·Σx) / (n·Σx)` over quantized longs with
  *    DECIMAL rank-product sums, ties pinned by `(value, tie)` total
  *    order (the classic sorted-rank estimator is tie-order-dependent;
  *    pinning the order makes it a deterministic convention).
  */
object Concentration {

  /** Per-first-digit observed share vs Benford expectation (4 dp) over
    * positive values: `(digit, n, share, benford)`. */
  def benfordReport(df: DataFrame, valueCol: String): DataFrame = {
    val vq = round(col(valueCol) * lit(1000000)).cast("long")
    val digits = df.filter(col(valueCol) > 0)
      .select(substring(vq.cast("string"), 1, 1).cast("long").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val w = Window.partitionBy()
    // Benford P(d) = log10(1 + 1/d), emitted as literals so no engine's
    // log implementation enters the comparison
    val benford = Map(1 -> 0.30103, 2 -> 0.176091, 3 -> 0.124939,
      4 -> 0.09691, 5 -> 0.079181, 6 -> 0.066947, 7 -> 0.057992,
      8 -> 0.051153, 9 -> 0.045757)
    val bcol = benford.foldLeft(lit(null).cast("double")) {
      case (acc, (d, p)) => when(col("digit") === d, p).otherwise(acc)
    }
    digits
      .withColumn("share",
        round(col("n").cast("double") / sum(col("n")).over(w), 4))
      .withColumn("benford", bcol)
      .orderBy(col("digit"))
  }

  /** Per-group Gini coefficient (4 dp) of non-negative `valueCol`:
    * `(group, n, gini)`. 0 = perfectly equal, →1 = all mass on one row. */
  def gini(df: DataFrame, groupCol: String, valueCol: String,
           tieCol: String): DataFrame = {
    val vq = round(col(valueCol) * lit(1000000)).cast("long")
    val wg = Window.partitionBy(col("g")).orderBy(col("vq"), col("tie"))
    val ranked = df
      .select(col(groupCol).as("g"), col(tieCol).as("tie"), vq.as("vq"))
      .withColumn("i", row_number().over(wg))
    ranked.groupBy(col("g").as(groupCol))
      .agg(
        count(lit(1)).as("n"),
        sum(col("vq").cast("decimal(19,0)")).as("sx"),
        sum(col("i").cast("decimal(19,0)") * col("vq").cast("decimal(19,0)"))
          .as("six"))
      .select(col(groupCol), col("n"),
        round(
          when(col("sx") > 0,
            (lit(2.0) * col("six").cast("double") -
              (col("n") + 1).cast("double") * col("sx").cast("double")) /
            (col("n").cast("double") * col("sx").cast("double"))), 4)
          .as("gini"))
      .orderBy(col(groupCol))
  }

  /** Per-group Theil T inequality index of positive `valueCol`:
    * `T = (1/n) Σ (xᵢ/μ) ln(xᵢ/μ)` — 0 = perfectly equal, ln(n) = all
    * mass on one row. The DECOMPOSABLE inequality measure (between-group
    * + within-group Theils sum exactly to the population Theil — the
    * property [[gini]] lacks), which is why concentration audits carry
    * both.
    *
    * Determinism: per-group (n, Σx) come from one exact integer
    * aggregate; each row's term `(x·n/S)·ln(x·n/S)` is ONE pinned double
    * expression over those integers, 12-dp-quantized to a long before
    * the order-invariant sum. Two passes over the corpus (sums, then
    * terms) with the bounded per-group sums frame BROADCAST back —
    * nothing beyond the two scans grows with corpus size. */
  def theilIndex(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val vq = round(col(valueCol) * lit(1000000)).cast("long")
    val base = df.filter(col(valueCol) > 0)
      .select(col(groupCol).as("g"), vq.as("vq"))
    val sums = base.groupBy(col("g"))
      .agg(count(lit(1)).as("n"), sum(col("vq").cast("decimal(19,0)")).as("s"))
    val terms = base.join(broadcast(sums), "g")
      .withColumn("ratio",
        col("vq").cast("double") * col("n").cast("double") /
          col("s").cast("double"))
      .withColumn("t_pico",
        round(col("ratio") * log(col("ratio")) * lit(1e12)).cast("long"))
    terms.groupBy(col("g").as(groupCol))
      .agg(max(col("n")).as("n"),
        // decimal sum: Σ ratio·ln(ratio) ≤ n·ln(n), whose picounits pass
        // the long ceiling near n ≈ 10⁸ — corpus-scale needs the headroom
        round(sum(col("t_pico").cast("decimal(38,0)")).cast("double") / 1e12 /
          max(col("n")).cast("double"), 6).as("theil"))
      .orderBy(col(groupCol))
  }

  /** Lorenz curve at decile resolution — [[gini]]'s one number, drawn:
    * per decile `d`, the cumulative share of total value held by the
    * bottom `d/10` of units. One row per decile
    * `(decile, n_units, cum_share)`; `cum_share(10) = 1`.
    *
    * Determinism & scale: units rank DISTRIBUTED by `(value, unit)`
    * ([[graft.operators.Positional.withRowIndex]] — range shuffle, no
    * one-task global window); decile assignment `⌈10·r/n⌉` is exact
    * integer arithmetic; per-decile sums are exact DECIMAL and the
    * cumulative runs over the 10-row decile frame. */
  def lorenzDeciles(df: DataFrame, unitCol: String, valueCol: String): DataFrame = {
    val vq = round(col(valueCol) * lit(1000000)).cast("long")
    val units = df.groupBy(col(unitCol).as("unit")).agg(sum(vq).as("vq"))
    val ranked = graft.operators.Positional.withRowIndex(
      units, Seq(col("vq"), col("unit")), "__r")
      .select(col("vq"), (col("__r") + 1).as("r"))
    val tot = ranked.agg(count(lit(1)).as("n"),
      sum(col("vq").cast("decimal(19,0)")).as("s"))
    val byDecile = ranked.crossJoin(broadcast(tot))
      // ⌈10r/n⌉ in exact integers: (10r + n − 1) div n
      .select((floor(((col("r") * 10) + col("n") - 1) / col("n")))
        .cast("long").as("decile"), col("vq"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_units"),
        sum(col("vq").cast("decimal(19,0)")).as("ds"))
    val w = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byDecile
      .withColumn("cum", sum(col("ds")).over(w))
      .crossJoin(broadcast(tot.select(col("s"))))
      .select(col("decile"), col("n_units"),
        round(when(col("s") > 0,
          col("cum").cast("double") / col("s").cast("double")), 6).as("cum_share"))
      .orderBy(col("decile"))
  }
}
