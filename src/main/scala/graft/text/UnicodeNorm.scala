package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Unicode canonicalization for corpus ingest — the first projection of a
  * text pipeline, BEFORE any fingerprint/dedup/tokenize stage, so that
  * byte-level encoding variance (decomposed combining marks, control
  * characters from PDF/OCR extraction) never shows up as spurious
  * document distinctness downstream.
  *
  * Zero-shuffle: both operations are per-row projections that stay inside
  * whole-stage codegen ([[graft.functions.NfcNormalize]] is a native
  * expression; the control strip is a built-in `regexp_replace`). At
  * 100 TB this runs at scan speed fused into whatever projection follows.
  */
object UnicodeNorm {

  /** Unicode NFC canonical composition (native `graft_nfc`, a session
    * built-in via [[graft.GraftExtensions]]). */
  def nfc(c: Column): Column =
    call_function(graft.functions.NfcNormalize.Name, c)

  /** Strip C0 AND C1 control characters except `\t` `\n` `\r` (the ones
    * a text corpus legitimately contains) — C1 (U+0080–U+009F) is where
    * mis-decoded latin-1 bytes land, so a crawl corpus hits it
    * constantly. RE2-safe character class — the identical pattern runs
    * on any regex engine, so redaction is engine-portable. */
  val ControlPattern = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F\\x80-\\x9F]"
  def stripControls(c: Column): Column = regexp_replace(c, ControlPattern, "")

  /** Full ingest normalization: NFC + control strip + whitespace collapse
    * + trim. Idempotent (spec'd). */
  def canonicalize(c: Column): Column =
    trim(regexp_replace(stripControls(nfc(c)), "\\s+", " "))

  /** Mojibake markers: U+FFFD replacement chars (decoder gave up) and
    * the latin-1-read-as-utf8 tells `Ã` / `Â` / `â` that double-decoded
    * text is saturated with. A literal character class — identical
    * semantics on any regex engine. */
  val MojibakePattern = "[ÃÂâ�]"

  /** Per-group encoding-damage report `(group, n_docs, affected_docs,
    * artifact_chars, affected_rate)` — the CCNet-style drop/repair
    * signal for double-decoded or lossily-decoded documents. Artifact
    * occurrences are counted as a LENGTH DELTA against a
    * strip-projection (no extraction, no explode): one scan, one
    * group-bounded aggregate. */
  def mojibakeReport(df: org.apache.spark.sql.DataFrame, groupCol: String,
                     textCol: String): org.apache.spark.sql.DataFrame = {
    val artifacts = length(col(textCol)) -
      length(regexp_replace(col(textCol), MojibakePattern, ""))
    df.select(col(groupCol).as("grp"), artifacts.cast("long").as("__a"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__a") > 0, 1L).otherwise(0L)).as("affected_docs"),
        sum(col("__a")).as("artifact_chars"))
      .select(col("grp").as(groupCol), col("n_docs"), col("affected_docs"),
        col("artifact_chars"),
        round(col("affected_docs").cast("double") / col("n_docs"), 6)
          .as("affected_rate"))
      .orderBy(col(groupCol))
  }
}
