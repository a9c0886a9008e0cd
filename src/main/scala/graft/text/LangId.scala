package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Language identification.
  *
  * Two variants:
  *  - [[markerLangId]]: stopword-marker voting, pure built-in functions
  *    (SQL-expressible, used by the oracle-checked query). Ties break by
  *    the fixed language order.
  *  - [[trigramLangId]]: character-trigram profile scoring — the classic
  *    n-gram heuristic (Cavnar & Trenkle '94 style, tiny built-in
  *    profiles). A Scala UDF over the broadcast profiles; spec-tested.
  *
  * Both are per-row projections: no shuffle, scan-bound at scale.
  */
object LangId {

  /** (language, marker tokens) in priority order. */
  val Markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is", "to"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une"),
    "es" -> Seq("el", "los", "las", "es", "una", "y"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "zh" -> Seq("的", "是", "了", "在", "和", "有"))

  private val MarkerSets: Seq[(String, Set[String])] =
    Markers.map { case (l, ms) => l -> ms.toSet }

  /** Marker-vote language id over whitespace tokens; `und` when nothing
    * matches. Deterministic: first language in [[Markers]] order wins ties.
    *
    * Semantics mirror the oracle SQL (per-language token-membership counts,
    * greatest wins, priority order breaks ties) but run as ONE tokenization
    * pass per row: the built-in formulation — 5 × `size(filter(toks, isin))`
    * feeding a greatest + when-chain — evaluates INTERPRETED (HOFs never
    * enter codegen, no common-subexpression elimination), re-running the
    * regex tokenization ~35× per row. */
  def markerLangId(text: Column): Column = {
    val f = udf { (s: String) =>
      if (s == null) "und"
      else {
        val toks = s.trim.toLowerCase(java.util.Locale.ROOT).split("\\s+")
        var bestLang = "und"
        var best = 0
        MarkerSets.foreach { case (lang, set) =>
          var c = 0; var i = 0
          while (i < toks.length) { if (set.contains(toks(i))) c += 1; i += 1 }
          if (c > best) { best = c; bestLang = lang } // strict: first lang wins ties
        }
        bestLang
      }
    }
    f(text)
  }

  /** Minimal per-language character-trigram profiles (hand-built from
    * orthographic staples — public knowledge, no corpus needed).
    * An ordered Seq, not a Map: the ties-break-to-first-language rule
    * is part of the contract (and of the SQL oracle), so iteration
    * order must be explicit, not a hash-map accident. */
  private[text] val TrigramProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("th ", "the", " th", "ing", "ion", "and", " an", "ed ", " of", "of "),
    "fr" -> Seq("es ", " de", "de ", "le ", " le", "ent", "que", " qu", "ait", "ion"),
    "es" -> Seq(" de", "de ", "os ", " la", "la ", "ión", "ent", "ar ", " co", "es "),
    "de" -> Seq("en ", "er ", "ch ", " de", "der", "ein", "sch", "ie ", "und", " un"),
    "zh" -> Seq("的", "是", "了", "在", "和"))

  /** SQL-mirrorable semantics (the q27 oracle): a profile gram scores
    * iff it occurs as a SUBSTRING of the lowercased text — equivalent to
    * membership in the text's trigram set (plus lone CJK chars, which
    * are single-char grams and so also plain substrings), since every
    * gram is 1 or 3 chars. Strictly-greater scan in [[TrigramProfiles]]
    * order = ties break to the earlier language; score 0 → "und". */
  def trigramLangId(text: Column): Column = {
    val f = udf { (s: String) =>
      if (s == null || s.isEmpty) "und"
      else {
        val t = s.toLowerCase(java.util.Locale.ROOT)
        var bestLang = "und"; var bestScore = 0
        TrigramProfiles.foreach { case (lang, prof) =>
          val score = prof.count(t.contains(_))
          if (score > bestScore) { bestScore = score; bestLang = lang }
        }
        bestLang
      }
    }
    f(text)
  }
}
