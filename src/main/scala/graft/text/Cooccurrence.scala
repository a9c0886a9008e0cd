package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Token co-occurrence / PMI mining at document granularity: which token
  * pairs appear together far more often than chance — collocation
  * discovery, taxonomy seeding, embedding-evaluation probes over a
  * training corpus.
  *
  * `pmi(x,y) = ln( N · c_xy / (c_x · c_y) )` over DOCUMENT-level
  * co-occurrence counts (a pair counts once per document containing
  * both), with `N` = corpus document count.
  *
  * Scale shape — the whole point is bounding the quadratic blowup: the
  * pair space is restricted to a TOP-`V` vocabulary by document
  * frequency (deterministic ties on the token string), so per-document
  * pair generation is over the ≤V vocabulary tokens a document actually
  * contains, never its full distinct-token set. The corpus tokenizes
  * ONCE into a persisted per-doc token frame (tokenization dominates
  * both passes otherwise); the vocabulary (V rows, driver-small by
  * construction) probes it as a [[graft.functions.VocabTf]] set, and
  * pair expansion is the codegen'd [[graft.functions.SortedPairs]] — no
  * exploded-token self-join, no per-token row between the scan and the
  * pair aggregate.
  * The only large shuffles are the doc-frequency aggregate (token-keyed,
  * map-side combined) and the pair count (pair-keyed, map-side
  * combined). At a fixed V the pair frame is ≤V²/2 rows regardless of
  * corpus size. Top-V selection itself is a distributed TakeOrdered
  * (sort+limit), never a single-partition global window.
  */
object Cooccurrence {

  /** Top-`k` token pairs by PMI among the top-`vocab` tokens, keeping
    * pairs co-occurring in at least `minSupport` documents. Output:
    * `(tok_a, tok_b, n_pair, pmi)` — tok_a < tok_b, pmi rounded to 4 dp,
    * ordered by (pmi desc, tok_a, tok_b) with deterministic ties. */
  def pmiPairs(docs0: DataFrame, idCol: String, textCol: String,
               vocab: Int, minSupport: Long, k: Int): DataFrame = {
    val spark = docs0.sparkSession
    // tokenize ONCE into a persisted per-doc token frame (the perDocTf
    // precedent): the df aggregate, the corpus count and the
    // VocabTf+SortedPairs pair projection all read it — the tokenizer
    // (the dominant CPU of both passes) runs a single time. Widened
    // before tokenize+persist so no stage inherits the scan's 2-3
    // row-group partitions.
    val tokd = graft.operators.Spread.widen(docs0, col(idCol))
      .select(col(idCol).as("id"),
        TextAnalysis.tokens(col(textCol)).as("__toks"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // top-V vocabulary by (df desc, tok) — distributed top-k, collected
    // (V rows by construction: the driver-bounded knob of the operator)
    val topRows = tokd
      .select(explode(array_distinct(col("__toks"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("tok")).limit(vocab)
      .collect()
    val nDocs = tokd.count() // cached — a metadata-cheap second action
    val vocabArr: Array[String] = topRows.map(_.getString(0))
    // per-document vocab-token pairs in one codegen'd projection: the
    // VocabTf map keys ARE the document's distinct in-vocabulary tokens
    val pairs = tokd
      .select(call_function(graft.functions.SortedPairs.Name,
        map_keys(call_function(graft.functions.VocabTf.Name,
          col("__toks"), lit(vocabArr)))).as("__ps"))
      .select(explode(col("__ps")).as("p"))
      .groupBy(col("p.a").as("tok_a"), col("p.b").as("tok_b"))
      .agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minSupport)
    import spark.implicits._
    val dfDf = topRows.map(r => (r.getString(0), r.getLong(1))).toSeq.toDF("tok", "df")
    val out = pairs
      .join(broadcast(dfDf.toDF("tok_a", "df_a")), "tok_a")
      .join(broadcast(dfDf.toDF("tok_b", "df_b")), "tok_b")
      .withColumn("pmi", round(
        log(lit(nDocs.toDouble) * col("n_pair") /
          (col("df_a") * col("df_b"))), 4))
      .orderBy(col("pmi").desc, col("tok_a"), col("tok_b"))
      .limit(k)
      .select(col("tok_a"), col("tok_b"), col("n_pair"), col("pmi"))
      .localCheckpoint(true)
    tokd.unpersist(blocking = false)
    out
  }
}
