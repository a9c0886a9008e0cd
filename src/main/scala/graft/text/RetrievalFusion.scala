package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reciprocal-rank fusion (Cormack, Clarke & Büttcher 2009) — the
  * standard way to combine heterogeneous retrievers (lexical BM25 +
  * overlap / embedding ANN) WITHOUT score calibration:
  * `RRF(d) = Σ_runs 1/(k₀ + rank_run(d))` — only ranks enter, so a
  * retriever with wild score scales cannot drown the others. The
  * ensemble layer of the retrieval stack ([[Bm25]], the q193 overlap
  * retriever, [[graft.sim.Similarity]] ANN all produce rank frames this
  * fuses).
  *
  * Determinism: each run's contribution `1/(k₀+rank)` is one pinned
  * double of an INTEGER argument, quantized to a 12-dp long — the fused
  * score is an exact integer sum, order-invariant, and the final ranking
  * ties break on doc id. Scale shape: fusing is one union + one
  * (qid, doc)-keyed aggregate + one per-query top-k window over frames
  * already cut to k·|queries| rows by their retrievers — nothing here
  * touches the corpus.
  */
object RetrievalFusion {

  /** Token-overlap top-`k` retriever (the q193 scorer exposed as a rank
    * frame): score(q, d) = |distinct query tokens ∩ distinct doc
    * tokens| via the posting join, zero-score docs excluded, ranks
    * pinned by (score desc, doc). Output `(qid, doc_id, rank)`. */
  def overlapTopK(docs: DataFrame, idCol: String, textCol: String,
                  queries: DataFrame, qidCol: String, qtextCol: String,
                  k: Int): DataFrame = {
    val probe = Postings.collectProbe(queries, qidCol, qtextCol)
    // single retriever, single read — the uncached scan beats building
    // a corpus-sized cache for one consumer
    overlapTopKFromPostings(
      Postings.perDocTfUncached(docs, idCol, textCol, probe.vocab), probe, k)
  }

  /** [[overlapTopK]] over a prebuilt [[Postings]] per-doc frame: a
    * vocabulary-cut tf-map entry exists iff the document contains the
    * token, so the matched-postings join to the probe counts exactly
    * the distinct shared tokens — identical scores to the exploded
    * all-tokens join, from the SAME one corpus pass the sibling
    * retrievers read. */
  def overlapTopKFromPostings(perDoc: DataFrame, probe: Postings.Probe,
                              k: Int): DataFrame = {
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("doc_id"))
    Postings.matched(perDoc)
      .join(broadcast(probe.qterms), "tok")
      .groupBy(col("qid"), col("id").as("doc_id"))
      .agg(count(lit(1)).as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("doc_id"), col("rank").cast("long").as("rank"))
  }

  /** Fuse rank frames `(qid, doc_id, rank)` into the top-`k` per query:
    * `(qid, doc_id, n_runs, rrf_score, rank)` ordered by the fused rank
    * (rrf_score at 6 dp; n_runs = how many runs retrieved the doc). */
  def rrf(runs: Seq[DataFrame], k0: Int, k: Int): DataFrame = {
    require(runs.nonEmpty, "at least one run required")
    require(k0 >= 1 && k > 0, s"need k0 >= 1, k > 0: $k0, $k")
    val all = runs.map(_.select(col("qid"), col("doc_id"),
        round(lit(1e12) / (lit(k0) + col("rank"))).cast("long").as("c12")))
      .reduce(_ unionAll _)
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("s12").desc, col("doc_id"))
    all.groupBy(col("qid"), col("doc_id"))
      .agg(count(lit(1)).as("n_runs"), sum(col("c12")).as("s12"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("doc_id"), col("n_runs"),
        round(col("s12").cast("double") / 1e12, 6).as("rrf_score"),
        col("rank").cast("long").as("rank"))
  }

  /** FUSED BM25 + overlap RRF in ONE corpus scoring pass: both
    * retrievers aggregate the same matched-postings frame on the same
    * `(qid, id)` key — the BM25 pico sum and the overlap count ride ONE
    * aggregate, the two rank orderings are windows over that (tiny,
    * checkpointed) candidate frame, and [[rrf]]'s algebra fuses them.
    * Output identical by construction to
    * `rrf(Seq(Bm25.topKFromPostings(..), overlapTopKFromPostings(..)), k0, k)`
    * (the compositional form, still available) — same candidates, same
    * orderings, same pinned contributions — for one fewer corpus pass
    * and one fewer corpus-row aggregate.
    *
    * Scale shape: two uncached corpus passes total (BM25 stats +
    * scoring); the per-candidate frame is ≤ |queries|·|matched docs|
    * rows (pair-list-sized — the q303 checkpoint precedent), and every
    * window below it partitions by qid. */
  def rrfBm25Overlap(corpus: DataFrame, idCol: String, textCol: String,
                     queries: DataFrame, qidCol: String, qtextCol: String,
                     k: Int, k0: Int = 60,
                     k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k > 0 && k0 >= 1, s"need k > 0, k0 >= 1: $k, $k0")
    val probe = Postings.collectProbe(queries, qidCol, qtextCol)
    def perDoc = Postings.perDocTfUncached(corpus, idCol, textCol, probe.vocab)
    val st = Bm25.stats(perDoc)
    if (st.idfMap.isEmpty) {
      return probe.qterms.select(col("qid"), col("qid").as("doc_id"),
        lit(0L).as("n_runs"), lit(0.0).as("rrf_score"), lit(0L).as("rank"))
        .limit(0)
    }
    // ONE scoring pass: BM25 pico sum + overlap count per candidate.
    // CHECKPOINTED: both rank windows read it; unchekpointed each
    // branch re-runs the corpus scan. The frame is candidate-bounded.
    val scored = Postings.matched(perDoc)
      .join(broadcast(Bm25.qtermsWithIdf(probe.qterms, st)), "tok")
      .withColumn("term_score_pico", Bm25.termScorePico(st, k1, b))
      .groupBy(col("qid"), col("id").as("doc_id"))
      .agg(sum(col("term_score_pico")).as("score_p"),
        count(lit(1)).as("ov"))
      .localCheckpoint(true)
    // each run's top-k via the bounded-heap graft_topk aggregate (k
    // pairs per partition cross the shuffle) instead of a ranking
    // window over every candidate row; (value DESC, tag ASC) is the
    // window's exact tie order, and both the pico score and the
    // overlap count stay < 2^53 so the double heap key is order-exact.
    // BOTH runs' heaps ride ONE aggregation pass over the candidate
    // frame (two graft_topk columns in the same groupBy) — as separate
    // branches each re-aggregated the 259 k-row checkpoint (profiled
    // 2.4 + 5.6 CPU-s at sf0.1 for identical grouping work); the fused
    // result is query-bounded (one row per qid), so its checkpoint is
    // free and the explode branches replay kilobytes.
    def heap(valueCol: Column) = call_function(graft.functions.TopK.Name,
      valueCol.cast("double"), col("doc_id").cast("long"), lit(k))
    val tops = scored.groupBy(col("qid"))
      .agg(heap(col("score_p")).as("t_bm"), heap(col("ov")).as("t_ov"))
      .localCheckpoint(true)
    def runOf(c: String): DataFrame =
      tops.select(col("qid"), posexplode(col(c)))
        .select(col("qid"), col("col.tag").as("doc_id"),
          (col("pos") + 1).as("rank"))
    rrf(Seq(runOf("t_bm"), runOf("t_ov")), k0, k)
  }
}
