package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Retrieval-quality evaluation — MRR@k, recall@k and single-relevant
  * nDCG@k for a deterministic token-overlap retriever: the EVAL harness
  * the BM25/ANN family ships without is itself an operator (a retrieval
  * stack that can't measure itself can't be tuned).
  *
  * Retrieval: score(q, d) = |query tokens ∩ doc tokens| via a DISTINCT
  * (qid, token) × (doc, token) posting join — the inverted-index shape,
  * never a query×corpus cross join; zero-score docs are excluded on both
  * engines so no 0-tie ordering ambiguity exists. Ranks are pinned by
  * `(score desc, doc_id)`.
  *
  * Metric portability: per-query reciprocal rank is `1.0/rank` (IEEE
  * division — identical everywhere); nDCG discount comes from a LITERAL
  * gain table (`1/log2(rank+1)` precomputed at 9 dp — no engine log
  * enters the compare); per-query metrics quantize to 9-dp longs before
  * the cross-query mean so summation order cannot drift.
  */
object RetrievalEval {

  /** 1/log2(p+1) at 9 dp for positions 1..10. */
  private val NdcgGain: Seq[Double] = Seq(
    1.0, 0.630929754, 0.5, 0.430676558, 0.386852807,
    0.356207187, 0.333333333, 0.315464877, 0.301029996, 0.289064826)

  /** One row `(n_queries, mrr, recall_at_k, ndcg)` for self-retrieval:
    * each query is the first `nQueryTokens` tokens of every
    * `queryEvery`-th doc, truth = the doc itself. `k` ≤ 10. */
  def selfRetrievalReport(docs: DataFrame, idCol: String, textCol: String,
                          queryEvery: Int, nQueryTokens: Int,
                          k: Int): DataFrame = {
    require(k >= 1 && k <= 10, s"k must be in [1,10]: $k")
    val toks = TextAnalysis.tokens(col(textCol))
    // widen once: both token streams re-tokenize this frame map-side, and
    // a narrow scan would run both explosions on 2-3 cores
    val wide = graft.operators.Spread.widen(docs, col(idCol))
    val qtok = wide.filter(pmod(col(idCol), lit(queryEvery)) === 0)
      .select(col(idCol).as("qid"),
        explode(array_distinct(slice(toks, 1, nQueryTokens))).as("token"))
    val dtok = wide.select(col(idCol).as("doc"),
        explode(array_distinct(toks)).as("token"))
    val scored = qtok.join(dtok, "token")
      .groupBy(col("qid"), col("doc"))
      .agg(count(lit(1)).as("score"))
    // top-k per query via the bounded-heap graft_topk aggregate — the
    // qid-partitioned ranking window sorts every scored candidate of a
    // query in one task; overlap counts are integral (< 2^53), ties to
    // the lowest doc id = tag ASC, the window's order
    graft.functions.TopK.requireIntegralId(scored, "doc", "RetrievalEval")
    val ranked = scored
      .groupBy(col("qid"))
      .agg(call_function(graft.functions.TopK.Name,
        col("score").cast("double"), col("doc").cast("long"), lit(k)).as("top"))
      .select(col("qid"), posexplode(col("top")))
      .select(col("qid"), col("col.tag").as("doc"),
        (col("pos") + 1).as("rank"), col("col.value").as("score"))
    val gain = NdcgGain.zipWithIndex.foldLeft(lit(0.0)) {
      case (acc, (g, i)) => when(col("rank") === i + 1, g).otherwise(acc)
    }
    val perQuery = ranked.filter(col("doc") === col("qid"))
      .select(col("qid"),
        round(lit(1e9) / col("rank")).cast("long").as("mrr9"),
        round(gain * lit(1e9)).cast("long").as("ndcg9"))
    val nq = docs.filter(pmod(col(idCol), lit(queryEvery)) === 0)
      .agg(count(lit(1)).as("n_queries"))
    nq.crossJoin(broadcast(perQuery.agg(
        count(lit(1)).as("__hits"),
        coalesce(sum(col("mrr9")), lit(0L)).as("__m"),
        coalesce(sum(col("ndcg9")), lit(0L)).as("__n"))))
      .select(col("n_queries"),
        round(col("__m").cast("double") / col("n_queries") / 1e9, 6).as("mrr"),
        round(col("__hits").cast("double") / col("n_queries"), 6)
          .as("recall_at_k"),
        round(col("__n").cast("double") / col("n_queries") / 1e9, 6).as("ndcg"))
  }
}
