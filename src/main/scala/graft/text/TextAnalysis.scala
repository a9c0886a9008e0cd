package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline:
  * token counting, quality scoring, canonical fingerprinting, language ID.
  *
  * Everything except [[LangId]] is pure `org.apache.spark.sql.functions`
  * (codegen'd, whole-stage-friendly, no UDF in the hot path) and therefore
  * also expressible as oracle SQL. All operators are per-row projections —
  * embarrassingly parallel, no shuffle, scan-bound at 100 TB.
  */
object TextAnalysis {

  /** Lowercased whitespace tokens. */
  def tokens(text: Column): Column = split(lower(trim(text)), "\\s+")

  /** Whitespace token count. */
  def wsTokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword proxy: alpha runs, single digits, single punctuation —
    * the shape of a byte-pair tokenizer's pre-tokenization split. */
  val BpeIshPattern = "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"
  def bpeIshTokenCount(text: Column): Column = regexp_count(text, lit(BpeIshPattern))

  /** Canonical content fingerprint: md5 over the sorted distinct token set.
    * Two documents with the same vocabulary (any order/multiplicity) share
    * a fingerprint — the blocking key for exact set-level dedup. */
  def setFingerprint(text: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(tokens(text)))))

  /** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken:
    * "Winnowing: Local Algorithms for Document Fingerprinting",
    * SIGMOD 2003): Rabin-style rolling hashes over character k-grams,
    * keeping the minimum hash of each sliding window of `w` (rightmost
    * minimum — the standard robust-winnowing tie-break). Guarantee: two
    * documents sharing any substring of length ≥ w + k − 1 share at
    * least one fingerprint, so the sorted distinct output doubles as a
    * substring-level near-dup blocking key (explode + equi-join, ids
    * only — same shuffle shape as the other dedup blockers).
    * Single-pass UDF: the per-gram hash is inherently sequential per
    * row and has no built-in form.
    *
    * Gram hash: polynomial over CODEPOINTS, base 1000003, mod 2^31−1 —
    * deliberately PORTABLE arithmetic (every intermediate ≤ p·B < 2^52)
    * so any engine with 64-bit integers reproduces the values exactly;
    * that is what makes the q52 fingerprints hash-oracle-able in
    * DuckDB SQL. (The previous 64-bit wrapping Rabin hash was
    * irreproducible outside JVM-style wraparound semantics.) The
    * winnowing guarantee is hash-agnostic; the 2^31 space only sizes
    * the collision rate of the blocking key, which a blocking key
    * tolerates by construction. */
  def winnowingFingerprints(text: Column, k: Int = 5, w: Int = 4): Column = {
    val f = udf { (s: String) =>
      val cps =
        if (s == null) Array.empty[Int]
        else s.toLowerCase(java.util.Locale.ROOT).codePoints().toArray
      if (cps.length < k) Array.empty[Long]
      else {
        val P = 2147483647L // 2^31 − 1
        val B = 1000003L
        val n = cps.length - k + 1
        val hs = new Array[Long](n)
        var i = 0
        while (i < n) {
          var h = 0L
          var j = 0
          while (j < k) { h = (h * B + cps(i + j)) % P; j += 1 }
          hs(i) = h
          i += 1
        }
        val out = scala.collection.mutable.SortedSet.empty[Long]
        var start = 0
        while (start <= n - w) {
          var mi = start
          var j = start + 1
          while (j < start + w) { if (hs(j) <= hs(mi)) mi = j; j += 1 }
          out += hs(mi)
          start += 1
        }
        if (out.isEmpty) Array(hs.min) else out.toArray
      }
    }
    f(text)
  }

  /** Quality score in [0,1]: average of
    *  - length credit   (tokens capped at 50),
    *  - punctuation sanity (1 - punct chars / chars),
    *  - stopword presence (stopword tokens / tokens).
    * Deterministic double arithmetic, rounded to 4 so any engine computing
    * the same formula hashes identically. */
  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is")
  def qualityScore(text: Column): Column = {
    val toks = tokens(text)
    val nTok = size(toks).cast("double")
    val nChars = length(text).cast("double")
    val punct = regexp_count(text, lit("[^A-Za-z0-9\\s]")).cast("double")
    val stopHits = size(filter(toks, t => t.isin(Stopwords: _*))).cast("double")
    val wordScore = least(nTok, lit(50.0)) / 50.0
    val punctScore = lit(1.0) - punct / greatest(nChars, lit(1.0))
    val stopScore = stopHits / greatest(nTok, lit(1.0))
    round((wordScore + punctScore + stopScore) / 3.0, 4)
  }
}
