package graft.analyze

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Extreme-value analysis: Gumbel fit to block maxima by the method of
  * moments — the capacity-planning question ("what daily peak should we
  * expect once per month / quarter?") that mean-based trend lines
  * cannot answer, because peaks follow an extreme-value law, not the
  * body of the distribution. Fisher-Tippett-Gnedenko: block maxima of
  * light-tailed data converge to Gumbel; MoM inverts its mean/variance:
  * `β = s·√6/π`, `μ = x̄ − γβ` (γ Euler-Mascheroni), and the T-block
  * return level is `μ − β·ln(−ln(1 − 1/T))`.
  *
  * Exactness: block (daily) maxima of 6-dp-quantized values are EXACT
  * longs (max of integers — no float enters the block layer); moments
  * over blocks are exact DECIMAL sums; the fit and return level are one
  * pinned double expression with γ and √6/π as literals, descaled and
  * rounded at the end.
  *
  * Scale shape: one corpus aggregate to the (group, day) maxima frame,
  * one group rollup over it. */
object Extremes {

  /** `(group, n_blocks, mu, beta, return_level)` (4 dp, value units);
    * NULL fit when fewer than 2 blocks or zero variance. */
  def gumbelFit(df: DataFrame, groupCol: String, tsCol: String,
                valueCol: String, returnPeriod: Int = 30): DataFrame = {
    require(returnPeriod > 1, s"returnPeriod must be > 1, got $returnPeriod")
    val maxima = df
      .groupBy(col(groupCol).as("g"), to_date(col(tsCol)).as("day"))
      .agg(max(round(col(valueCol) * lit(1000000)).cast("long")).as("mq"))
    def d19(c: org.apache.spark.sql.Column) = c.cast("decimal(19,0)")
    maxima.groupBy(col("g"))
      .agg(count(lit(1)).as("n_blocks"),
        sum(d19(col("mq"))).as("s"),
        sum(d19(col("mq")) * d19(col("mq"))).as("ss"))
      .select({
        val n = col("n_blocks").cast("double")
        val mean = col("s").cast("double") / n
        val v = (col("ss").cast("double") -
          col("s").cast("double") * col("s").cast("double") / n) / (n - 1)
        val sd = sqrt(v)
        val beta = sd * lit(0.7796968012336293) // √6/π
        val mu = mean - lit(0.5772156649015329) * beta // γ
        val ret = mu - beta *
          log(-log(lit(1.0) - lit(1.0) / lit(returnPeriod.toDouble)))
        val ok = col("n_blocks") > 1 && v > 0
        Seq(col("g").as(groupCol), col("n_blocks"),
          round(when(ok, mu / 1e6), 4).as("mu"),
          round(when(ok, beta / 1e6), 4).as("beta"),
          round(when(ok, ret / 1e6), 4).as("return_level"))
      }: _*)
      .orderBy(col(groupCol))
  }
}
