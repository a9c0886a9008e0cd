package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** BM25 lexical retrieval (Robertson & Zaragoza 2009, the Okapi BM25
  * formulation with the Lucene-style non-negative idf): score every
  * corpus document against a (small) query set and keep the top-k per
  * query — the retrieval half of a RAG / data-curation stack (nearest
  * neighbors by LEXICAL match, complementing the embedding ANN path in
  * [[graft.sim.Similarity]]).
  *
  * `score(D, Q) = Σ_{t ∈ Q∩D} idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·|D|/avgdl))`
  * with `idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5))`.
  *
  * Scale shape: the corpus is scanned ONCE, and the scan itself cuts
  * every document to the query vocabulary via
  * [[graft.functions.VocabTf]] — an O(1) hash probe per token inside
  * whole-stage codegen, emitting one row per document of
  * `(id, dl, tiny tf-map)`. No per-token row ever leaves the
  * projection: the posting explode downstream is bounded by |vocab| per
  * document, not by document length, and the only corpus-row-count
  * shuffle in the whole query is the tf-map scan's output feeding the
  * window/aggregate pair. Document frequency AND the corpus constants
  * (N, avgdl) come from ONE stats aggregate over that frame (a
  * null-token marker row per doc carries the totals), collected to
  * ≤|vocab|+1 rows; the query-term table is tiny and BROADCAST.
  *
  * Engine-portable determinism: every per-term score is a pure double
  * expression (identical on any IEEE engine); the per-document SUM is
  * carried as a SCALED LONG (picomicro units, 1e-12) — exact integer
  * addition, order-invariant at any partitioning, and ~1 s faster per
  * million rows than a DECIMAL(27,12) sum whose precision > 18 forces
  * Spark's BigDecimal path — and ranks tie-break by doc id on the
  * unrounded sum. (The 1e-12 truncation sits eight orders of magnitude
  * below the 4 dp reporting round — invisible to any oracle.) */
object Bm25 {

  /** Top-`k` corpus documents per query. Queries are `(qidCol,
    * qtextCol)` rows — must be small enough to broadcast (benchmark /
    * probe sets; their distinct terms ride the codegen references as the
    * scan's probe set). Output: `(qid, doc_id, rank, score)`, score
    * rounded to 4 dp.
    *
    * STANDALONE shape (single retriever — fused queries that share the
    * corpus pass use [[topKFromPostings]]): two uncached corpus scans
    * instead of a persisted per-doc frame. Pass 1 is ONE aggregate that
    * yields df per query term AND the corpus constants together — each
    * doc emits its matched tokens plus a null-token marker row, so the
    * null group carries (N, Σdl) while every token group carries its df.
    * idf then rides the broadcast probe frame ([[qtermsWithIdf]])
    * and pass 2 scores straight off the scan: no persist build (measured
    * ~1 s of cache-construction wall at sf0.1), no constants job, no
    * df-aggregate broadcast stage. The cheap narrow scan is re-run once
    * instead — the classic Spark recompute-vs-cache trade, won here by
    * the scan's narrowness (the VocabTf projection is the only work). */
  def topK(corpus: DataFrame, idCol: String, textCol: String,
           queries: DataFrame, qidCol: String, qtextCol: String,
           k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    // distinct query terms (duplicate terms in a query text score once —
    // the standard bag-of-query-TERMS formulation), collected ONCE: the
    // probe vocabulary embeds in the scan expression and the local qterms
    // frame broadcasts without re-running the query frame's lineage
    val probe = Postings.collectProbe(queries, qidCol, qtextCol)
    topKFromPostings(
      Postings.perDocTfUncached(corpus, idCol, textCol, probe.vocab),
      probe, k, k1, b)
  }

  /** [[topK]] over a prebuilt [[Postings]] per-doc frame — the
    * postings-in overload for fused queries (RRF over BM25 + overlap,
    * BM25 + QL comparisons) that must pay the corpus tokenize pass
    * once, not once per retriever.
    *
    * Reads `perDoc` exactly TWICE: one stats aggregate that yields df
    * per query term AND the corpus constants together (each doc emits
    * its matched tokens plus a null-token marker row, so the null group
    * carries (N, Σdl) while every token group carries its df), then one
    * scoring pass with idf riding the broadcast probe frame
    * ([[qtermsWithIdf]]). No per-frame persist, no separate constants
    * job, no df-aggregate broadcast stage — at corpus scale the narrow
    * re-scan beats caching a corpus-sized frame. */
  def topKFromPostings(perDoc: DataFrame, probe: Postings.Probe,
                       k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val st = stats(perDoc)
    if (st.idfMap.isEmpty) {
      // no query term matches any document (or the corpus is empty)
      return probe.qterms.select(col("qid"), col("qid").as("doc_id"),
        lit(0L).as("rank"), lit(0.0).as("score")).limit(0)
    }
    val scored = Postings.matched(perDoc)
      .join(broadcast(qtermsWithIdf(probe.qterms, st)), "tok")
      .withColumn("term_score_pico", termScorePico(st, k1, b))
      .groupBy(col("qid"), col("id"))
      .agg(sum(col("term_score_pico")).as("score_p"))
    rankTopK(scored, k)
  }

  /** Corpus statistics of one stats pass: document count, average
    * document length, and the per-query-term idf table. */
  private[text] final case class Stats(nDocs: Long, avgdl: Double,
                                       idfMap: Map[String, Double])

  /** ONE aggregate over the per-doc frame: df per matched token plus
    * the corpus constants (null-marker group), collected to ≤|vocab|+1
    * rows; idf computed with the same double lowering as the SQL-side
    * expression it replaced. */
  private[text] def stats(perDoc: DataFrame): Stats = {
    val rows = perDoc.filter(col("dl") > 0)
      .select(col("dl"), explode(concat(map_keys(col("__tfm")),
        array(lit(null).cast("string")))).as("tok"))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("df"), sum(col("dl")).as("sdl"))
      .collect()
    val docsRow = rows.find(_.isNullAt(0))
    val nDocs = docsRow.map(_.getLong(1)).getOrElse(0L)
    // Σdl (exact long) / N — the same double Spark's avg(long) produces
    // (its double accumulation of exact integers below 2^53 is exact)
    val avgdl = docsRow.filter(_ => nDocs > 0)
      .map(r => r.getLong(2).toDouble / nDocs).getOrElse(1.0)
    // ln(1 + (cast(N - df as double) + 0.5) / (cast(df as double) + 0.5))
    val idfMap: Map[String, Double] = rows.iterator
      .filter(!_.isNullAt(0))
      .map(r => r.getString(0) -> math.log(1.0 +
        ((nDocs - r.getLong(1)).toDouble + 0.5) / (r.getLong(1).toDouble + 0.5)))
      .toMap
    Stats(nDocs, avgdl, idfMap)
  }

  /** The broadcast probe frame with each term's idf attached as a
    * column. The idf lookup must ride the TINY side: Catalyst's
    * `element_at` on a map literal is a LINEAR key scan per evaluation,
    * and evaluating it per matched-posting×query join row cost ~30
    * CPU-seconds at sf0.1 (profiled: the single hottest stage of the
    * whole retrieval family). Here it runs once per probe ROW
    * (|queries|·|terms|, driver-small by the Probe contract) and the
    * scoring join delivers it hashed — same double, same arithmetic,
    * oracle bit-parity. Terms absent from the corpus never join a
    * matched posting, so their null idf is unreachable (coalesced to 0
    * defensively). */
  private[text] def qtermsWithIdf(qterms: DataFrame, st: Stats): DataFrame =
    qterms.withColumn("idf",
      coalesce(element_at(typedlit(st.idfMap), col("tok")), lit(0.0)))

  /** The per-posting BM25 term score as a 1e-12-scaled long — idf from
    * the probe-side `idf` column ([[qtermsWithIdf]]); expression shape
    * identical to the map-literal form it replaced (oracle bit-parity:
    * the same double flows through the same operations). */
  private[text] def termScorePico(st: Stats, k1: Double, b: Double): Column =
    ((col("idf") * col("tf") * lit(k1 + 1) /
      (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / lit(st.avgdl))))
      * lit(1e12)).cast("long")

  /** Shared top-k readout over the `(qid, id, score_p)` frame: rank by
    * unrounded pico score desc (ties by id), report at 4 dp.
    *
    * Via the native bounded-heap `graft_topk` aggregate, NOT a ranking
    * window: the window formulation shuffles and sorts EVERY candidate
    * row per query (260k rows at sf0.1 on this template-dense corpus —
    * and unbounded at 100 TB), the heap ships k pairs per partition.
    * Pico longs stay < 2^53, so the double heap key preserves exact
    * order, and (value DESC, tag ASC) is the window's exact tie order. */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    graft.functions.TopK.requireIntegralId(scored, "id", "Bm25.rankTopK")
    scored.groupBy(col("qid"))
      .agg(call_function(graft.functions.TopK.Name,
        col("score_p").cast("double"), col("id").cast("long"), lit(k)).as("top"))
      .select(col("qid"), posexplode(col("top")))
      .select(col("qid"), col("col.tag").as("doc_id"),
        (col("pos") + 1).cast("long").as("rank"),
        round(col("col.value") / lit(1e12), 4).as("score"))
  }
}
