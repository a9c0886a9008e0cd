package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Token-level phrase-blocklist filtering (the C4 "bad words" pass,
  * Raffel et al. 2020 §2.2: drop any page containing a phrase from a
  * fixed list): count blocklist phrase OCCURRENCES per document and flag
  * the documents any curation pass would drop.
  *
  * Matching is at token granularity — a phrase of `m` tokens matches a
  * document's m-gram exactly (no substring false-positives: "ass" does
  * not match "assistant"), which is the standard wordlist semantic.
  *
  * Scale shape: the blocklist is small by nature (hundreds to a few
  * thousand phrases) and rides the scan as per-length probe sets inside
  * [[graft.functions.VocabTf]] — the corpus is scanned ONCE and no
  * per-gram row ever leaves the projection: each document emits only its
  * per-length hit maps (bounded by the blocklist size), rolled up to the
  * three hit columns in the same projection. No explode, no join, no
  * aggregation — the whole operator is one codegen'd map over the
  * corpus, generating only the n-gram lengths the blocklist actually
  * contains (a 1-and-2-token list never builds trigrams). The corpus
  * never shuffles on text.
  */
object Blocklist {

  /** Per-document blocklist hits: `(idCol, n_hits, n_distinct_phrases,
    * blocked)` — occurrence count, distinct phrases seen, and the drop
    * flag (`n_hits > 0`). Every input document appears. `phrases` is a
    * one-column DataFrame of phrase strings; matching is on
    * whitespace-tokenized lowercased text ([[TextAnalysis.tokens]] on
    * both sides). */
  def phraseHits(docs: DataFrame, idCol: String, textCol: String,
                 phrases: DataFrame): DataFrame = {
    val phraseCol = phrases.columns.head
    // normalize phrases through the same tokenizer as the corpus; the
    // list is driver-small by contract (the broadcast-build constraint),
    // collected once and embedded per length as a probe set
    val plistRows = phrases
      .select(TextAnalysis.tokens(col(phraseCol)).as("__pt"))
      .filter(size(col("__pt")) > 0)
      .select(concat_ws(" ", col("__pt")).as("phrase"), size(col("__pt")).as("plen"))
      .distinct()
      .collect()
    // bounded: ≤ max phrase length entries
    val byLen: Seq[(Int, Array[String])] = plistRows
      .groupBy(_.getInt(1)).view.mapValues(_.map(_.getString(0))).toSeq
      .sortBy(_._1)
    if (byLen.isEmpty)
      return docs.select(col(idCol), lit(0L).as("n_hits"),
        lit(0L).as("n_distinct_phrases"), lit(false).as("blocked"))
    def grams(n: Int): Column =
      if (n == 1) col("__toks")
      else call_function(graft.functions.ShingleList.Name, col("__toks"), lit(n))
    // one hit map per phrase length: gram build + O(1) probe per gram in
    // a single codegen pass; a doc with null text yields null maps → 0s
    val hitMaps: Seq[Column] = byLen.map { case (n, arr) =>
      call_function(graft.functions.VocabTf.Name, grams(n), lit(arr))
    }
    // phrases of different lengths are distinct strings (tokens carry no
    // whitespace, so an m-gram never equals an n-gram for m ≠ n) — the
    // per-length distinct counts sum without overlap
    val nHits = hitMaps.map(m =>
      coalesce(aggregate(map_values(m), lit(0L), (a, v) => a + v), lit(0L)))
      .reduce(_ + _)
    val nDistinct = hitMaps.map(m => coalesce(size(m), lit(0)).cast("long"))
      .reduce(_ + _)
    docs.select(col(idCol), TextAnalysis.tokens(col(textCol)).as("__toks"))
      .select(col(idCol), nHits.as("n_hits"), nDistinct.as("n_distinct_phrases"))
      .withColumn("blocked", col("n_hits") > 0)
  }
}
