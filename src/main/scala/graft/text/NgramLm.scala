package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.TrigramLmScore

/** Character-trigram language-model scoring — the CCNet-style
  * (Wenzek et al. 2020) perplexity-proxy quality signal: documents whose
  * character statistics diverge from the corpus (or from a clean held-out
  * corpus) score low and are filtered or bucketed before training.
  *
  * The model is the corpus itself: `P(c | ab) = count(abc) / count(ab·)`
  * over all character trigrams, and a document's score is the MEAN
  * conditional trigram probability (not the log-product: avoiding
  * transcendentals keeps every arithmetic step — counts, one IEEE
  * division per distinct trigram, DECIMAL-exact summation — bit-equal
  * across engines, so the operator is SQL-oracle-able; the ranking it
  * induces is the same "how typical is this text" signal).
  *
  * Scale shape: ONE corpus scan, shared by train and score —
  *  1. the canonical character stream is STAGED (persisted projection:
  *     `regexp_replace`+`lower` run once, not once per consumer);
  *  2. TRAIN: one bounded-state native aggregate
  *     ([[graft.functions.TrigramCountAgg]] — per-partition trigram
  *     hash map, ≤ |charset|³ keys, partial-merged); prefix totals
  *     derive from the collected counts on the driver, so neither a
  *     position explode nor a model join ever runs on the cluster;
  *  3. SCORE: a NATIVE codegen expression ([[TrigramLmScore]]) loops
  *     each document's canonical stream against the collected model —
  *     packed-key binary search per position, exact unscaled-decimal
  *     sum. The per-character-position row explosion and the
  *     model join of the declarative formulation ([[scoreByJoin]], kept
  *     as the oracle twin) collapse into the scan projection.
  *
  * The collected model is capped ([[ModelCap]]): corpus-trained trigram
  * tables over real text are small (ASCII ~50k, full CJK coverage is the
  * pathological end), but a cap turns a charset explosion into a loud
  * error pointing at [[scoreByJoin]] — the unbounded-model scale path —
  * instead of a silent driver OOM.
  */
object NgramLm {

  /** Largest model the native scorer will collect to the driver: 4M
    * trigrams = 64 MB blob (keys + 12-dp unscaled probabilities). */
  val ModelCap: Int = 4 * 1024 * 1024

  /** Lowercased text with whitespace runs collapsed to single spaces —
    * the canonical character stream (mirrors `regexp_replace(lower(),
    * '\s+', ' ')` in SQL). */
  private def canon(text: Column): Column =
    regexp_replace(lower(trim(text)), "\\s+", " ")

  /** `(doc, trigram)` position rows of an already-canonical stream. */
  private def triGramsOfCanon(staged: DataFrame, idCol: String): DataFrame =
    staged
      .filter(length(col("__t")) >= 3)
      .select(col(idCol),
        explode(transform(sequence(lit(1), length(col("__t")) - 2),
          i => col("__t").substr(i, lit(3)))).as("tri"))

  /** The trained model from an already-canonical stream. */
  private def trainCanon(staged: DataFrame, idCol: String): DataFrame = {
    val tris = triGramsOfCanon(staged, idCol)
      .groupBy(col("tri")).agg(count(lit(1)).as("n_tri"))
    val prefixes = tris
      .groupBy(substring(col("tri"), 1, 2).as("pre"))
      .agg(sum(col("n_tri")).as("n_prefix"))
    tris.join(prefixes, substring(col("tri"), 1, 2) === col("pre"))
      .select(col("tri"), col("n_tri"), col("n_prefix"))
  }

  /** The trained model: `(tri, n_tri, n_prefix)` — trigram count and its
    * 2-char-prefix total (`count(ab·)`). */
  def train(df: DataFrame, textCol: String, idCol: String): DataFrame =
    trainCanon(df.select(col(idCol), canon(col(textCol)).as("__t")), idCol)

  /** Per-document mean conditional trigram probability under the corpus
    * model, rounded to 6 dp (DECIMAL-exact sum → one double division).
    * Documents shorter than 3 canonical chars score null. Native scoring
    * path — train and score share one staged corpus scan. */
  def score(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val staged = df.select(col(idCol), canon(col(textCol)).as("__t"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // TRAIN as one bounded-state aggregate (no per-position explode, no
      // trigram shuffle, no model join — see TrigramCountAgg); the cap
      // guard fires inside the aggregate, before executor memory is at
      // risk. Prefix totals fall out of the sorted collected counts:
      // equal 2-char prefixes (packed key >>> 21) are CONTIGUOUS.
      val blobRow = staged
        .agg(call_function(graft.functions.TrigramCountAgg.Name, col("__t")))
        .head
      val (keys, counts) = graft.functions.TrigramCountAgg.parse(
        blobRow.getAs[Array[Byte]](0))
      val vals = new Array[Long](keys.length)
      var i = 0
      while (i < keys.length) {
        var j = i
        var tot = 0L
        while (j < keys.length && (keys(j) >>> 21) == (keys(i) >>> 21)) {
          tot += counts(j); j += 1
        }
        var k = i
        while (k < j) {
          vals(k) = TrigramLmScore.scaled12(counts(k).toDouble / tot.toDouble)
          k += 1
        }
        i = j
      }
      val blob = TrigramLmScore.blobOf(keys, vals)
      // localCheckpoint BEFORE unpersisting the staged input: the returned
      // frame must not silently re-run the canonicalization scan after the
      // cache is gone (and a library caller gets no dangling cached blocks)
      staged.select(col(idCol),
          call_function(TrigramLmScore.Name, lit(blob), col("__t")).as("lm_score"))
        .localCheckpoint(eager = true)
    } finally staged.unpersist(blocking = false)
  }

  /** Declarative twin of [[score]] — per-position explode + model join.
    * Slower (a row per character position), but never collects the model:
    * the scale path when the trigram space is genuinely unbounded, and
    * the oracle formulation the native scorer is verified against. */
  def scoreByJoin(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val staged = df.select(col(idCol), canon(col(textCol)).as("__t"))
    val model = trainCanon(staged, idCol)
    val scored = triGramsOfCanon(staged, idCol)
      .join(model, "tri")
      .withColumn("p", col("n_tri").cast("double") / col("n_prefix").cast("double"))
    val agg = scored.groupBy(col(idCol))
      .agg(round(sum(col("p").cast("decimal(30,12)")).cast("double") /
        count(lit(1)), 6).as("lm_score"))
    df.select(col(idCol)).join(agg, Seq(idCol), "left")
  }
}
