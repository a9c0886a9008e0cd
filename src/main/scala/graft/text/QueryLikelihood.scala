package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dirichlet-smoothed query-likelihood retrieval (Zhai & Lafferty 2004)
  * — the language-modeling alternative to [[Bm25]]'s probabilistic
  * ranking (same plumbing, different math; the pair gives the RRF
  * ensemble ([[RetrievalFusion]]) genuinely diverse runs):
  *
  * `score(q, d) = Σ_{t∈q} ln( (tf_d(t) + μ·p(t|C)) / (|d| + μ) )`
  *
  * computed in the sparse decomposition
  * `score = A_q − |q|·ln(|d|+μ) + Σ_{t∈q∩d} ln(1 + tf/(μ·p(t|C)))`
  * with `A_q = Σ_{t∈q} ln(μ·p(t|C))` — so only MATCHED postings are
  * touched; candidates are documents sharing ≥ 1 query term (the same
  * sparse-candidate contract as BM25's; a zero-match document's rank is
  * pure length prior and is excluded by both engines identically).
  *
  * Scale shape: identical to [[Bm25.topK]] — ONE corpus scan cut to the
  * query vocabulary by [[graft.functions.VocabTf]], collection
  * frequencies of the ≤|vocab| query terms from the matched postings,
  * corpus totals as a driver scalar over the persisted per-doc frame.
  *
  * Determinism: `p(t|C) = cf_t/T` is one IEEE division of exact
  * integers; every log term (the per-query constant's per-term pieces,
  * the length prior, the per-posting sparse gain) quantizes to a 12-dp
  * long, so each document's score is an exact integer sum with doc-id
  * ties. */
object QueryLikelihood {

  /** Top-`k` corpus documents per query under Dirichlet smoothing.
    * Queries `(qidCol, qtextCol)` must be broadcast-small. Output
    * `(qid, doc_id, rank, score)`, score at 4 dp (natural-log units,
    * negative — higher is better). */
  def topK(corpus: DataFrame, idCol: String, textCol: String,
           queries: DataFrame, qidCol: String, qtextCol: String,
           k: Int, mu: Double = 2000.0): DataFrame = {
    val probe = Postings.collectProbe(queries, qidCol, qtextCol)
    topKFromPostings(
      Postings.perDocTfUncached(corpus, idCol, textCol, probe.vocab),
      probe, k, mu)
  }

  /** [[topK]] over a prebuilt [[Postings]] per-doc frame — one corpus
    * tokenize pass shared with the other retrievers of a fused query.
    *
    * Reads `perDoc` exactly TWICE (the [[Bm25.topKFromPostings]]
    * shape): one stats aggregate yields the collection frequency of
    * every matched term AND the corpus token total together (each doc's
    * tf entries plus a null-token marker carrying `dl`), collected to
    * ≤|vocab|+1 rows; `cf` then re-enters the plan as a LOCAL frame, so
    * the per-query constant and the sparse-gain join cost no corpus
    * lineage — and the pinned-log expressions still evaluate in Spark,
    * bit-identical to the oracle. */
  def topKFromPostings(perDoc: DataFrame, probe: Postings.Probe,
                       k: Int, mu: Double = 2000.0): DataFrame = {
    require(k > 0 && mu > 0, s"need k > 0, mu > 0: $k, $mu")
    val spark = perDoc.sparkSession
    val qterms = probe.qterms
    // ONE pass: cf per matched token + the corpus token total (null
    // marker group; NO dl>0 filter — the total spans all docs, exactly
    // like the agg(sum(dl)) scalar this replaces)
    val statsDf = perDoc
      .select(explode(concat(map_entries(col("__tfm")),
        array(struct(lit(null).cast("string").as("key"),
          col("dl").as("value"))))).as("e"))
      .select(col("e.key").as("tok"), col("e.value").as("tf"))
      .groupBy(col("tok")).agg(sum(col("tf")).as("cf"))
    val statsRows = statsDf.collect()
    val totalTokens = statsRows.find(_.isNullAt(0)).map(_.getLong(1)).getOrElse(0L)
    require(totalTokens > 0, "empty corpus")
    // cf as a LOCAL frame: the qconst subtree and the sparse join read
    // it broadcast with zero corpus lineage
    val cfDf = spark.createDataFrame(
      java.util.Arrays.asList(statsRows.filter(!_.isNullAt(0)): _*),
      statsDf.schema)
    val matched = Postings.matched(perDoc)
    // per-query constant A_q and term count, from the broadcast-joined
    // (qid, tok, cf) frame: per-term ln pinned at 12 dp, exactly summed
    val qconst = qterms.join(broadcast(cfDf), "tok")
      .select(col("qid"),
        round(log(lit(mu) * (col("cf").cast("double") / lit(totalTokens.toDouble)))
          * lit(1e12)).cast("long").as("a12"))
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("nq"), sum(col("a12")).as("aq12"))
    val sparse = matched
      .join(broadcast(cfDf), "tok")
      .join(broadcast(qterms), "tok")
      .withColumn("g12", round(log(lit(1.0) + col("tf").cast("double") /
        (lit(mu) * (col("cf").cast("double") / lit(totalTokens.toDouble))))
        * lit(1e12)).cast("long"))
      .groupBy(col("qid"), col("id"))
      .agg(max(col("dl")).as("dl"), sum(col("g12")).as("s12"))
    // top-k per query via the bounded-heap graft_topk aggregate (k
    // pairs per partition cross the shuffle, vs a qid-partitioned
    // ranking window whose per-query partition is candidate-set-sized);
    // the pico score stays < 2^53 so the double heap key is
    // order-exact, ties to the lowest doc id = tag ASC
    graft.functions.TopK.requireIntegralId(sparse, "id", "QueryLikelihood")
    sparse.join(broadcast(qconst), "qid")
      .withColumn("score12",
        col("aq12") - col("nq") *
          round(log(col("dl").cast("double") + lit(mu)) * lit(1e12)).cast("long") +
          col("s12"))
      .groupBy(col("qid"))
      .agg(call_function(graft.functions.TopK.Name,
        col("score12").cast("double"), col("id").cast("long"), lit(k)).as("top"))
      .select(col("qid"), posexplode(col("top")))
      .select(col("qid"), col("col.tag").as("doc_id"),
        (col("pos") + 1).cast("long").as("rank"),
        round(col("col.value") / 1e12, 4).as("score"))
  }
}
