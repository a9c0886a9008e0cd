package graft.text

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Shared postings layer of the retrieval stack ([[Bm25]],
  * [[QueryLikelihood]], [[RetrievalFusion.overlapTopK]]): every lexical
  * retriever needs the same two frames —
  *
  *  - the PROBE: distinct query terms `(qid, tok)` plus the flat probe
  *    vocabulary, and
  *  - the PER-DOC frame: one corpus scan cut to that vocabulary by
  *    [[graft.functions.VocabTf]], emitting `(id, dl, tf-map)` per
  *    document.
  *
  * Before this layer each retriever rebuilt both from scratch — and a
  * fused query (BM25 + overlap feeding RRF) paid TWO full corpus
  * tokenize passes plus four probe-lineage recomputations (each
  * broadcast of the lazily-derived qterms frame re-ran its corpus scan).
  * Round-9 profiling put the retrieval family 3.8–8.3× over its DuckDB
  * twin on exactly this fixed job count, with under 1 s of real work.
  *
  * The probe is COLLECTED once (driver-small by the query-side
  * contract: probe sets are benchmark queries, not corpora) and
  * re-created as a local DataFrame — so its broadcast costs no corpus
  * scan, and the vocabulary is a free projection of the same rows. The
  * per-doc frame is built once, widened and persisted, and every
  * retriever's matched-postings explode reads it. */
object Postings {

  /** The collected probe: `qterms` is a LOCAL (scan-free) frame of
    * distinct `(qid, tok)` rows, `vocab` its flat distinct token set. */
  final case class Probe(qterms: DataFrame, vocab: Array[String])

  /** Collect the distinct query terms of `(qidCol, qtextCol)` rows.
    * One driver action; the returned frame is rebuilt from local rows so
    * later broadcasts never re-run the query frame's lineage. */
  def collectProbe(queries: DataFrame, qidCol: String, qtextCol: String): Probe = {
    val spark = queries.sparkSession
    val qterms = queries
      .select(col(qidCol).as("qid"), TextAnalysis.tokens(col(qtextCol)).as("__qt"))
      .select(col("qid"), explode(array_distinct(col("__qt"))).as("tok"))
    val schema = qterms.schema
    val rows: Array[Row] = qterms.collect()
    val local = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), schema)
    Probe(local, rows.map(_.getString(1)).distinct)
  }

  /** ONE corpus pass: `(id, dl, __tfm)` per document, where `__tfm` is
    * the vocabulary-cut term-frequency map (≤ |vocab| entries). Widened
    * before tokenize+persist so downstream explode/score stages never
    * inherit the scan's 2-3 row-group partitions; persisted because the
    * corpus constants, the df/cf aggregates and the score join all read
    * it. Caller owns the unpersist (bench/verify clear caches per
    * query). */
  def perDocTf(corpus: DataFrame, idCol: String, textCol: String,
               vocab: Array[String]): DataFrame =
    perDocTfUncached(corpus, idCol, textCol, vocab)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** [[perDocTf]] without the persist — for SINGLE-retriever paths that
    * read the frame a bounded number of times: re-running the narrow
    * scan+VocabTf projection is cheaper than building a deserialized
    * map-column cache (measured ~1 s of cache-construction wall at
    * sf0.1 against ~0.15 s per extra scan). */
  def perDocTfUncached(corpus: DataFrame, idCol: String, textCol: String,
                       vocab: Array[String]): DataFrame = {
    graft.operators.Spread.widen(corpus, col(idCol))
      .select(col(idCol).as("id"), TextAnalysis.tokens(col(textCol)).as("__toks"))
      .select(col("id"), size(col("__toks")).cast("long").as("dl"),
        call_function(graft.functions.VocabTf.Name,
          col("__toks"), lit(vocab)).as("__tfm"))
  }

  /** Matched postings `(id, dl, tok, tf)` from the per-doc frame —
    * ≤ |vocab| rows per document (a document containing a query term
    * appears exactly once per term, so per-term row counts ARE document
    * frequencies). */
  def matched(perDoc: DataFrame): DataFrame =
    perDoc.select(col("id"), col("dl"), explode(col("__tfm")).as(Seq("tok", "tf")))
}
