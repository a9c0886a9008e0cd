package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** TF-IDF term weighting over a document corpus — the smoothed
  * formulation `tf · (ln((N+1)/(df+1)) + 1)` (sklearn's
  * `TfidfTransformer(smooth_idf=True)` convention, public knowledge).
  *
  * Shuffle shape at 100 TB: one hash aggregate on (doc, term) for term
  * frequencies, one on term for document frequencies (both two-phase,
  * map-side partials), and one join back on term — AQE broadcasts the
  * document-frequency side when the vocabulary fits, which is exactly
  * when broadcasting is correct. The corpus size `N` is the only driver
  * scalar (one count job, metadata-sized). All weights are exact double
  * arithmetic on integer counts — no float accumulation, deterministic
  * under any partitioning. */
object TfIdf {

  /** Long-form (doc_id, term, tf, df, tfidf) weights. */
  def tfIdf(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val nDocs = docs.select(col(idCol)).count()
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(TextAnalysis.tokens(col(textCol))).as("term"))
    val tf = toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    tf.join(dfreq, "term")
      .withColumn("tfidf",
        col("tf") * (log((lit(nDocs.toDouble) + 1.0) / (col("df") + 1.0)) + 1.0))
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("tfidf"))
  }

  /** Top-`k` terms per document by weight (ties broken by term). */
  def topTerms(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("term"))
    tfIdf(docs, idCol, textCol)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("doc_id"), col("term"), col("rn"), round(col("tfidf"), 4).as("tfidf"))
  }
}
