package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Benchmark contamination detection: which corpus documents contain the
  * n-grams of a (small) evaluation/benchmark set? The pre-training gate
  * that keeps test data out of training data — run before every export.
  *
  * Scale shape: the asymmetry IS the design. The probe side (benchmark
  * suites: thousands of documents) is tiny next to the corpus (100 TB),
  * so its exploded shingle table is BROADCAST and the corpus-side join is
  * map-side — the corpus is scanned once, never shuffled on text. Only
  * the surviving (doc, probe) hit pairs — a vanishingly small set — enter
  * the final aggregate, keyed on the pair. Compare q59's symmetric
  * self-join (both sides shuffle on the shingle): right for all-pairs
  * near-dup, wasteful for corpus-vs-benchmark.
  *
  * Containment (|D ∩ P| / |P|), not Jaccard: a 100-page doc quoting a
  * whole 50-shingle benchmark item has Jaccard ≈ 0 but containment 1.0 —
  * the contaminated case (Lee et al. 2022, "Deduplicating Training Data
  * Makes Language Models Better", §4.2 uses the same directional measure).
  */
object Contamination {

  /** Per (corpus doc, probe doc) n-gram containment, probe-directional.
    * Output: `doc_id, probe_id, shared_ngrams, containment`, self-pairs
    * excluded, filtered to `containment >= minContainment`. */
  def ngramContainment(corpus: DataFrame, probes: DataFrame,
                       idCol: String, textCol: String, n: Int,
                       minContainment: Double): DataFrame = {
    def shingleSet(df: DataFrame, outId: String) =
      // native codegen shingle set (sorted distinct — order is irrelevant
      // to the exploded join): the declarative transform+array_distinct
      // evaluated its lambda interpreted per position, the dominant cost
      // of this query at sf0.1
      df.select(col(idCol).as(outId), TextAnalysis.tokens(col(textCol)).as("__toks"))
        .select(col(outId),
          explode(call_function(graft.functions.ShingleSet.Name,
            col("__toks"), lit(n))).as("g"))
    val probeShingles = shingleSet(probes, "probe_id")
    val probeSizes = probeShingles.groupBy(col("probe_id"))
      .agg(count(lit(1)).as("p_size"))
    shingleSet(corpus, "doc_id")
      .join(broadcast(probeShingles), "g")
      .filter(col("doc_id") =!= col("probe_id"))
      .groupBy(col("doc_id"), col("probe_id"))
      .agg(count(lit(1)).as("shared_ngrams"))
      .join(broadcast(probeSizes), "probe_id")
      // threshold on the RAW ratio; round only the reported value — a
      // ratio that rounds up across the threshold must not change the set
      .filter(col("shared_ngrams").cast("double") / col("p_size") >= minContainment)
      .select(col("doc_id"), col("probe_id"), col("shared_ngrams"),
        round(col("shared_ngrams").cast("double") / col("p_size"), 4).as("containment"))
  }

  /** Per-document n-gram NOVELTY against a reference corpus: the fraction
    * of a document's distinct n-grams that appear nowhere in `reference`
    * — the inverse measure of [[ngramContainment]], used to score how
    * much genuinely new text an ingest batch adds (a crawl refresh whose
    * documents are 95% known n-grams is mostly re-crawl, not new data).
    *
    * Same asymmetric scale shape as contamination: the reference's
    * distinct shingle set is the small side and BROADCAST; the corpus is
    * scanned once and its exploded shingles never shuffle (the per-doc
    * rollup is keyed on the doc id). Documents shorter than `n` tokens
    * have no n-grams: reported with `n_ngrams = 0` and a null novelty
    * (0/0 is undefined, not zero).
    *
    * Output: `(doc_id, n_ngrams, n_novel, novelty)` — one row per corpus
    * document, novelty rounded to 4 dp. */
  def ngramNovelty(corpus: DataFrame, reference: DataFrame,
                   idCol: String, textCol: String, n: Int): DataFrame = {
    // native codegen shingle set (sorted distinct — order is irrelevant
    // to the per-doc counts)
    def staged(df: DataFrame) =
      df.select(col(idCol), TextAnalysis.tokens(col(textCol)).as("__toks"))
        .select(col(idCol),
          explode(call_function(graft.functions.ShingleSet.Name,
            col("__toks"), lit(n))).as("g"))
    val refSet = staged(reference).select(col("g")).distinct()
      .withColumn("__known", lit(1))
    // left join against the broadcast reference set: a missing match IS
    // the novelty signal, so an inner/anti pair would need two passes.
    // EAGER checkpoint: the id-spine join below plus the caller's sort
    // (whose range partitioner samples its child) would otherwise replay
    // the tokenize→shingle→explode→join pipeline — the profiled hot 40%
    // of the query — once per consumer. The materialized frame is one
    // 3-column row per corpus doc (ids and two counts, no text): linear
    // in doc count, kilobytes per million docs on executor-local disk.
    val marked = staged(corpus)
      .join(broadcast(refSet), Seq("g"), "left_outer")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_ngrams"),
        count(when(col("__known").isNull, 1)).as("n_novel"))
      .localCheckpoint(true)
    // docs with no n-grams never reach the explode — restore them with a
    // left join from the corpus id spine (null-novelty contract above)
    corpus.select(col(idCol))
      .join(marked, Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("n_ngrams"), lit(0L)).as("n_ngrams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        when(coalesce(col("n_ngrams"), lit(0L)) > 0,
          round(col("n_novel").cast("double") / col("n_ngrams"), 4)).as("novelty"))
  }
}
