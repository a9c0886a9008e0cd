package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-level distribution diagnostics for a training-data pipeline:
  * the duplicated n-gram mass of Lee et al., "Deduplicating Training Data
  * Makes Language Models Better" (the metric that motivates substring
  * dedup), and per-source token-distribution divergence (the mixture
  * drift check run before reweighting domains).
  *
  * Both are single aggregation pipelines with map-side partial combine —
  * the corpus is scanned once and only (group-key, count) rows shuffle.
  */
object CorpusStats {

  /** Per-document CHARACTER ENTROPY (Shannon, in bits): the
    * language-free quality signal complementing the token-level filters —
    * near-zero entropy flags repeated-character padding, very high
    * entropy flags base64/binary dumps; both are standard pre-training
    * drop rules.
    *
    * Scale shape: explode characters → two-phase (doc, char) hash
    * aggregate (map-side combine collapses within-partition repeats) →
    * per-doc rollup. H = log2(n) − Σc·log2(c)/n, with the log identity
    * keeping every term a log of an exact INTEGER count — both engines
    * evaluate log2 on identical integer inputs, so cross-engine noise is
    * confined to the final sum/division (rounded to 4 dp, the q54
    * precedent for transcendental outputs). */
  def docCharEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), explode(split(col(textCol), "")).as("ch"))
      .groupBy(col(idCol), col("ch")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol))
      .agg(sum(col("c")).as("n_chars"),
        round(log2(sum(col("c"))) -
          sum(col("c") * log2(col("c"))) / sum(col("c")), 4).as("entropy_bits"))

  /** Corpus duplicated word-n-gram statistics, one output row:
    * `(total_ngrams, distinct_ngrams, dup_ngrams, dup_occurrences,
    * dup_frac)` where a "dup" n-gram occurs ≥ 2 times corpus-wide
    * (within- or cross-document).
    *
    * Scale shape: explode shingles → two-phase hash aggregate on the
    * shingle (map-side combine collapses per-partition repeats, so the
    * shuffle carries per-partition distinct shingles, not occurrences) →
    * one global partial-merged rollup of the count histogram. Nothing is
    * collected; the widest shuffle key is one shingle string. */
  def dupNgramStats(df: DataFrame, textCol: String, n: Int): DataFrame = {
    // native codegen shingle LIST (duplicates kept — multiplicity is the
    // signal here); the declarative HOF evaluated interpreted per position
    val grams = df.select(TextAnalysis.tokens(col(textCol)).as("toks"))
      .select(explode(call_function(graft.functions.ShingleList.Name,
        col("toks"), lit(n))).as("g"))
    val counted = grams.groupBy(col("g")).agg(count(lit(1)).as("c"))
    counted.agg(
      sum(col("c")).as("total_ngrams"),
      count(lit(1)).as("distinct_ngrams"),
      sum(when(col("c") >= 2, 1L).otherwise(0L)).as("dup_ngrams"),
      sum(when(col("c") >= 2, col("c")).otherwise(0L)).as("dup_occurrences"))
      .select(col("total_ngrams"), col("distinct_ngrams"), col("dup_ngrams"),
        col("dup_occurrences"),
        round(col("dup_occurrences").cast("double") / col("total_ngrams"), 4)
          .as("dup_frac"))
  }

  /** Per-source total-variation distance between the source's unigram
    * distribution and the whole-corpus distribution:
    * `TV(s) = ½ Σ_t |cnt_st/S − cnt_t/C|`.
    *
    * Computed in EXACT integer arithmetic — `Σ_t |cnt_st·C − cnt_t·S|`
    * over DECIMAL(38,0), one float division at the very end — so the
    * result is bit-identical at any partitioning and on any engine
    * (a float-term sum would inherit summation-order noise, the round-1
    * q44 failure class). Tokens absent from a source contribute
    * `(C − Σ_{t∈s} cnt_t)·S` in closed form, so only the inner
    * (source, token) join is ever materialized.
    *
    * Scale shape: (source, token) counts → token totals derived FROM that
    * aggregate (never a second corpus scan) → join on token (both sides
    * already hash-partitioned by the aggregate) → per-source rollup of
    * |sources| rows. */
  def sourceTvDivergence(df: DataFrame, sourceCol: String, textCol: String): DataFrame = {
    // multiplication operands at DECIMAL(18,0): the product stays inside
    // DECIMAL(37,0) in every engine's widening rule (Spark 18+18+1, DuckDB
    // 18+18) — counts beyond 10^18 tokens would need a wider input type
    val dec = "decimal(18,0)"
    // persisted: consumed by the token rollup, the source rollup and the
    // final join — one (source, token, count) row per distinct pair
    val st = df.select(col(sourceCol).as("source"),
        explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("cnt_st"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val t = st.groupBy(col("tok")).agg(sum(col("cnt_st")).as("cnt_t"))
    val s = st.groupBy(col("source")).agg(sum(col("cnt_st")).as("total_s"))
    val c = s.agg(sum(col("total_s")).as("total_c"))
    val joined = st.join(t, "tok")
      .join(broadcast(s), "source")
      .join(broadcast(c))
    val inner = joined.groupBy(col("source"))
      .agg(
        first(col("total_s")).as("total_s"),
        first(col("total_c")).as("total_c"),
        sum(abs(col("cnt_st").cast(dec) * col("total_c").cast(dec) -
                col("cnt_t").cast(dec) * col("total_s").cast(dec))).as("a_s"),
        sum(col("cnt_t")).as("seen_c"))
    inner.select(col("source"),
        col("total_s").as("n_tokens"),
        ((col("a_s") +
          (col("total_c").cast(dec) - col("seen_c").cast(dec)) * col("total_s").cast(dec))
          .cast("double") /
         (lit(2.0) * col("total_s").cast("double") * col("total_c").cast("double")))
          .as("tv"))
      .select(col("source"), col("n_tokens"), round(col("tv"), 6).as("tv_dist"))
  }

  /** Per-group n-gram DIVERSITY: document count, total n-gram
    * occurrences, distinct n-grams and the type-token ratio
    * `distinct / total` — the mode-collapse / template-spam detector (a
    * source whose TTR craters is emitting near-identical boilerplate;
    * self-BLEU's cheap exact cousin). `(groupCol, n_docs, n_ngrams,
    * n_distinct, ttr)`, ttr rounded to 6 dp, null for n-gram-less groups.
    *
    * Scale shape: distinct-counting is the two-stage exact form — one
    * map-side-combined aggregate on `(group, gram)` (never
    * `count_distinct`, whose Expand doubles the exploded stream), then a
    * group-keyed rollup of the pair counts. The shuffle carries one row
    * per DISTINCT (group, gram), not per occurrence; doc counts ride a
    * separate digest-sized aggregate (the exploded path can't count
    * gram-less documents). */
  def ngramDiversity(df: DataFrame, groupCol: String, textCol: String,
                     n: Int): DataFrame = {
    val pairs = df.select(col(groupCol).as("g"),
        TextAnalysis.tokens(col(textCol)).as("__toks"))
      .select(col("g"),
        explode(call_function(graft.functions.ShingleList.Name,
          col("__toks"), lit(n))).as("gram"))
      .groupBy(col("g"), col("gram")).agg(count(lit(1)).as("c"))
    val rolled = pairs.groupBy(col("g"))
      .agg(sum(col("c")).as("n_ngrams"), count(lit(1)).as("n_distinct"))
    df.groupBy(col(groupCol).as("g")).agg(count(lit(1)).as("n_docs"))
      .join(rolled, Seq("g"), "left_outer")
      .select(col("g").as(groupCol), col("n_docs"),
        coalesce(col("n_ngrams"), lit(0L)).as("n_ngrams"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        when(coalesce(col("n_ngrams"), lit(0L)) > 0,
          round(col("n_distinct").cast("double") / col("n_ngrams"), 6)).as("ttr"))
  }

  /** Simpson concentration λ = Σc(c−1)/(N(N−1)) per group — the
    * probability two tokens drawn without replacement are the SAME type
    * (high λ = repetitive/templated text), and its inverse (effective
    * vocabulary size). EXACT integer formulation — no squared-frequency
    * floats; one vocab-bounded count aggregate per group, one division
    * at the end. `(group, n_tokens, simpson, inv_simpson)`. */
  def simpsonIndex(df: DataFrame, groupCol: String,
                   textCol: String): DataFrame = {
    def d19(c: org.apache.spark.sql.Column) = c.cast("decimal(19,0)")
    val counts = df.select(col(groupCol).as("g"),
        explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .groupBy(col("g"), col("tok")).agg(count(lit(1)).as("cnt"))
    counts.groupBy(col("g"))
      .agg(sum(col("cnt")).as("n_tokens"),
        sum(d19(col("cnt")) * (d19(col("cnt")) - 1)).as("__cc"))
      .select(col("g").as(groupCol), col("n_tokens"), {
        val n = col("n_tokens").cast("double")
        round(when(col("n_tokens") > 1,
          col("__cc").cast("double") / (n * (n - 1))), 6).as("simpson")
      })
      .withColumn("inv_simpson",
        round(when(col("simpson") > 0, lit(1.0) / col("simpson")), 4))
      .orderBy(col(groupCol))
  }

  /** Vocabulary-richness estimators from the count-of-counts frame: how
    * much vocabulary the corpus HASN'T shown yet. One row
    * `(n_tokens, vocab, f1, f2, chao1, gt_unseen_mass)` —
    * `chao1 = V + f1(f1−1)/(2(f2+1))` (bias-corrected Chao 1984 species
    * estimate of the true vocabulary) and `gt_unseen_mass = f1/N`
    * (Good-Turing probability that the NEXT token is novel — the
    * scaling-law companion of the Heaps curve).
    *
    * Scale shape: token counts (vocab-bounded, map-side combined) →
    * count-of-counts (a handful of rows) → one closed form over exact
    * integers. */
  def vocabRichness(df: DataFrame, textCol: String): DataFrame = {
    val counts = df
      .select(explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    counts.agg(
        sum(col("cnt")).as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("f1"),
        sum(when(col("cnt") === 2, 1L).otherwise(0L)).as("f2"))
      .select(col("n_tokens"), col("vocab"), col("f1"), col("f2"),
        round(col("vocab").cast("double") +
          col("f1").cast("double") * (col("f1").cast("double") - 1) /
            ((col("f2").cast("double") + 1) * 2.0), 2).as("chao1"),
        round(col("f1").cast("double") / col("n_tokens").cast("double"), 6)
          .as("gt_unseen_mass"))
  }

  /** Lexical-concentration panel: Yule's K (`10⁴·(Σm²V_m − N)/N²` off
    * the frequency-of-frequencies — the repeat-rate constant that is
    * nearly text-length invariant where raw TTR collapses), token
    * Simpson's D (`Σc(c−1)/(N(N−1))`, the probability two random tokens
    * coincide), and Herdan's C (`ln V / ln N`). High K/D = formulaic,
    * template-heavy text — boilerplate and SEO spam stand out from one
    * corpus-level scan. Complements [[vocabRichness]]'s COVERAGE
    * estimators (Chao1, unseen mass) with CONCENTRATION.
    *
    * Exactness: every moment is an exact integer/DECIMAL fold of token
    * counts; the three statistics are single double expressions. One
    * token-count aggregate — nothing else scales with the corpus. */
  def lexicalConcentration(df: DataFrame, textCol: String): DataFrame = {
    def d38(c: Column) = c.cast("decimal(38,0)")
    val counts = df
      .select(explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val agg = counts.agg(
      sum(col("cnt")).as("n_tokens"),
      count(lit(1)).as("vocab"),
      sum(d38(col("cnt")) * d38(col("cnt"))).as("m2"),
      sum(d38(col("cnt")) * (d38(col("cnt")) - 1)).as("coinc"))
    val n = col("n_tokens").cast("double")
    val v = col("vocab").cast("double")
    agg.select(col("n_tokens"), col("vocab"),
      round((col("m2").cast("double") - n) / (n * n) * 1e4, 4).as("yule_k"),
      round(when(col("n_tokens") >= 2,
        col("coinc").cast("double") / (n * (n - 1))), 9).as("simpson_d"),
      round(when(col("n_tokens") >= 2 && col("vocab") >= 1,
        log(v) / log(n)), 6).as("herdan_c"))
  }

  /** Per-token burstiness of the head vocabulary (Church & Gale 1995):
    * content words CLUMP (one mention begets more in the same
    * document), function words spread evenly — so the variance-to-mean
    * ratio of per-document tf (zeros included) and the within-document
    * rate `E_b = cf/df` separate topical terms from glue even when raw
    * frequencies tie. Top-`topK` tokens by collection frequency:
    * `(token, cf, df, vmr, eb)` ordered (cf desc, token).
    *
    * Scale: explode → (doc, token) count → token-level aggregate —
    * vocabulary-bounded after the first combine; the doc total is a
    * broadcast scalar. Exact integer moments, two closing divisions. */
  def tokenBurstiness(df: DataFrame, idCol: String, textCol: String,
                      topK: Int = 20): DataFrame = {
    require(topK >= 1, s"topK must be >= 1: $topK")
    def d38(c: Column) = c.cast("decimal(38,0)")
    val perDoc = df
      .select(col(idCol).as("id"), explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .groupBy(col("id"), col("tok")).agg(count(lit(1)).as("tf"))
    val nDocs = df.select(col(idCol)).distinct().count()
    val perTok = perDoc.groupBy(col("tok")).agg(
      sum(col("tf")).as("cf"), count(lit(1)).as("df"),
      sum(d38(col("tf")) * d38(col("tf"))).as("tf2"))
    val mean = col("cf").cast("double") / nDocs
    val e2 = col("tf2").cast("double") / nDocs
    perTok.select(col("tok").as("token"), col("cf"), col("df"),
        round(when(col("cf") > 0, (e2 - mean * mean) / mean), 6).as("vmr"),
        round(col("cf").cast("double") / col("df"), 6).as("eb"))
      .orderBy(col("cf").desc, col("token"))
      .limit(topK)
  }

  /** Repeated-PREFIX boilerplate report: documents within a source that
    * open with the SAME first `k` tokens are, at any volume, template
    * output — headers, licenses, scraped navigation — and the prefix is
    * the cheapest boilerplate KEY there is (no shingling, no pair join).
    * Rows `(source, prefix, n_docs)` for prefixes shared by ≥ `minDocs`
    * documents, top `topN` by (n_docs desc, source, prefix). Documents
    * shorter than `k` tokens group by their full text — still a valid
    * template key. One group-keyed aggregate; the prefix is a bounded
    * projection of the scan. */
  def boilerplatePrefixes(df: DataFrame, sourceCol: String, textCol: String,
                          k: Int, minDocs: Long, topN: Int): DataFrame = {
    require(k >= 1 && minDocs >= 2 && topN >= 1,
      s"bad params: $k, $minDocs, $topN")
    val prefix = concat_ws(" ",
      slice(TextAnalysis.tokens(col(textCol)), 1, k))
    df.select(col(sourceCol).as("source"), prefix.as("prefix"))
      .groupBy(col("source"), col("prefix"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .orderBy(col("n_docs").desc, col("source"), col("prefix"))
      .limit(topN)
  }

  /** MATTR — moving-average type-token ratio (Covington & McFall 2010):
    * the window-W sliding distinct-token fraction, the standard
    * length-robust lexical-diversity score (the plain TTR collapses as
    * documents grow; MATTR of repetitive/templated text stays low at any
    * length). Per document: `(id, n_tokens, n_types, ttr, mattr)`,
    * ascending id; docs shorter than `window` report their plain TTR as
    * mattr (the defined degenerate, both engines).
    *
    * O(n) per doc, NO per-window expansion: token occurrence j counts in
    * window [s, s+W−1] iff it is the first occurrence of its type there,
    * i.e. `s > prev_occ(j) ∧ s ≥ j−W+1 ∧ s ≤ j`, so its contribution to
    * Σ over windows of (distinct in window) is a closed-form interval
    * length — one lag over `(doc, token)` order, one doc-keyed exact
    * integer aggregate. Scale: two corpus-keyed shuffles (the per-type
    * lag and the doc rollup), everything codegen, nothing driver-side. */
  def mattr(df: DataFrame, idCol: String, textCol: String,
            window: Int = 50): DataFrame = {
    require(window >= 2, s"window must be >= 2: $window")
    val w = lit(window.toLong)
    val pos = df
      .select(col(idCol).as("id"),
        posexplode(TextAnalysis.tokens(col(textCol))).as(Seq("p0", "tok")))
      .select(col("id"), (col("p0") + 1).cast("long").as("j"), col("tok"))
    val lagW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id"), col("tok")).orderBy(col("j"))
    // occurrence j (prev = previous position of the same type, 0 if
    // none) is the first of its type in windows s ∈ [lo_j, hi_j] with
    // lo_j = max(j−W+1, prev+1, 1) and hi_j = min(j, n−W+1); its exact
    // contribution to Σ_windows(distinct) is max(0, hi_j − lo_j + 1).
    // n rides a doc-partition window (same doc-keyed shuffle the rollup
    // needs), so the whole thing is two shuffles and integer arithmetic.
    val wd = org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
    val rows = pos
      .withColumn("prev", coalesce(lag(col("j"), 1).over(lagW), lit(0L)))
      .withColumn("n", count(lit(1)).over(wd))
      .withColumn("wins",
        greatest(lit(0L),
          least(col("j"), col("n") - w + 1L) -
            greatest(col("j") - w + 1L, col("prev") + 1L, lit(1L)) + 1L))
    rows.groupBy(col("id"))
      .agg(max(col("n")).as("n_tokens"),
        sum(when(col("prev") === 0, 1L).otherwise(0L)).as("n_types"),
        sum(col("wins")).as("dsum"))
      .select(col("id"), col("n_tokens"), col("n_types"),
        round(col("n_types").cast("double") / col("n_tokens"), 6).as("ttr"),
        round(when(col("n_tokens") >= window,
            col("dsum").cast("double") /
              (w * (col("n_tokens") - w + 1L)))
          .otherwise(col("n_types").cast("double") / col("n_tokens")), 6)
          .as("mattr"))
      .orderBy(col("id"))
  }

  /** Pairwise cosine similarity between the TOKEN-COUNT profiles of the
    * corpus sources — the angular sibling of [[sourceTvDivergence]]'s
    * total-variation distance (TV weighs mass moved; cosine weighs
    * co-direction, dominated by the shared head vocabulary). Rows
    * `(source_a, source_b, cosine)` for `source_a < source_b`.
    *
    * Scale shape: one vocabulary-bounded (source, token) count
    * aggregate; the pair frame joins that aggregate to itself ON THE
    * TOKEN KEY (never a row-level cross product — |sources|² pairs per
    * token, with sources a handful), and per-source norms are one more
    * rollup of the same counts. Dot products and norms are exact
    * DECIMAL integer sums; the cosine is one double division, 6 dp. */
  def sourceCosine(df: DataFrame, sourceCol: String,
                   textCol: String): DataFrame = {
    def d19(c: org.apache.spark.sql.Column) = c.cast("decimal(19,0)")
    val c = df.select(col(sourceCol).as("src"),
        explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .groupBy(col("src"), col("tok")).agg(count(lit(1)).as("cnt"))
    val norms = c.groupBy(col("src"))
      .agg(sum(d19(col("cnt")) * d19(col("cnt"))).as("nrm"))
    val dots = c.select(col("src").as("sa"), col("tok"), col("cnt").as("ca"))
      .join(c.select(col("src").as("sb"), col("tok"), col("cnt").as("cb")),
        Seq("tok"))
      .where(col("sa") < col("sb"))
      .groupBy(col("sa"), col("sb"))
      .agg(sum(d19(col("ca")) * d19(col("cb"))).as("dot"))
    dots
      .join(broadcast(norms.select(col("src").as("sa"), col("nrm").as("na"))),
        Seq("sa"))
      .join(broadcast(norms.select(col("src").as("sb"), col("nrm").as("nb"))),
        Seq("sb"))
      .select(col("sa").as("source_a"), col("sb").as("source_b"),
        round(col("dot").cast("double") /
          sqrt(col("na").cast("double") * col("nb").cast("double")), 6)
          .as("cosine"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Zipf-law fit over the top-`topN` token frequencies: OLS of
    * `ln(freq)` on `ln(rank)` — slope ≈ −1 for natural language (the
    * Zipf exponent), r² for how power-law the corpus is. The companion
    * of the Heaps-law curve ([[VocabCoverage]]): together they fingerprint
    * whether a corpus "reads like language" or like logs/boilerplate.
    *
    * One row `(n_terms, slope, intercept, r2)`.
    *
    * Scale shape: token counts are a vocabulary-bounded hash aggregate
    * (map-side combine; the corpus shuffles only as (token, count)); the
    * rank cut is a top-N sort-limit (TakeOrdered — per-partition heaps,
    * never a full sort) and the regression runs over topN rows.
    * Determinism: ln(rank)/ln(count) are logs of exact integers,
    * quantized to 12-dp longs; all five moments are exact DECIMAL sums
    * of those longs, and the closed form runs in double over the exact
    * moments — the same contract as the rank-stats family. */
  def zipfFit(df: DataFrame, textCol: String, topN: Int = 1000): DataFrame = {
    val counts = df
      .select(explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), col("tok")).limit(topN)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(desc("cnt"), col("tok"))
    val t = counts
      .withColumn("rnk", row_number().over(w))
      .select(
        round(log(col("rnk").cast("double")) * lit(1e12)).cast("long").as("x12"),
        round(log(col("cnt").cast("double")) * lit(1e12)).cast("long").as("y12"))
    def d19(c: org.apache.spark.sql.Column) = c.cast("decimal(19,0)")
    t.agg(count(lit(1)).as("n_terms"),
        sum(d19(col("x12"))).as("__sx"), sum(d19(col("y12"))).as("__sy"),
        sum(d19(col("x12")) * d19(col("x12"))).as("__sxx"),
        sum(d19(col("y12")) * d19(col("y12"))).as("__syy"),
        sum(d19(col("x12")) * d19(col("y12"))).as("__sxy"))
      .select(col("n_terms"), {
        val n = col("n_terms").cast("double")
        val sx = col("__sx").cast("double") / 1e12
        val sy = col("__sy").cast("double") / 1e12
        val sxx = col("__sxx").cast("double") / 1e24
        val sxy = col("__sxy").cast("double") / 1e24
        val num = n * sxy - sx * sy
        val den = n * sxx - sx * sx
        val slope = num / den
        round(when(den > 0, slope), 6).as("slope")
      }, {
        val n = col("n_terms").cast("double")
        val sx = col("__sx").cast("double") / 1e12
        val sy = col("__sy").cast("double") / 1e12
        val sxx = col("__sxx").cast("double") / 1e24
        val sxy = col("__sxy").cast("double") / 1e24
        val num = n * sxy - sx * sy
        val den = n * sxx - sx * sx
        round(when(den > 0, (sy - (num / den) * sx) / n), 6).as("intercept")
      }, {
        val n = col("n_terms").cast("double")
        val sx = col("__sx").cast("double") / 1e12
        val sy = col("__sy").cast("double") / 1e12
        val sxx = col("__sxx").cast("double") / 1e24
        val syy = col("__syy").cast("double") / 1e24
        val sxy = col("__sxy").cast("double") / 1e24
        val num = n * sxy - sx * sy
        val den = n * sxx - sx * sx
        val deny = n * syy - sy * sy
        round(when(den > 0 && deny > 0, num * num / (den * deny)), 6).as("r2")
      })
  }

  /** TRUNCATION WASTE per source under a `maxLen`-token context window:
    * the budget audit run before choosing a sequence length — how many
    * tokens a naive truncate-at-maxLen pass would throw away, and how
    * many documents it would cut. One row per source:
    * `(source, n_docs, n_truncated, tokens_total, tokens_kept,
    * tokens_cut, waste_frac, trunc_frac)`.
    *
    * Complements the packing operators ([[graft.operators.Packing]]):
    * packing answers "how do I avoid this waste", this answers "how much
    * is there to avoid" per corpus slice.
    *
    * Scale shape: one corpus scan; per-doc token length is a map-side
    * expression and the per-source rollup is a hash aggregate with
    * map-side combine — only (source, partial sums) shuffle. Exact
    * integer sums; the two fractions are closing 4-dp divisions. */
  def truncationWaste(df: DataFrame, sourceCol: String, textCol: String,
                      maxLen: Int): DataFrame = {
    require(maxLen >= 1, s"maxLen must be >= 1, got $maxLen")
    val dl = size(TextAnalysis.tokens(col(textCol))).cast("long")
    df.select(col(sourceCol).as("source"), dl.as("dl"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum((col("dl") > maxLen).cast("long")).as("n_truncated"),
        sum(col("dl")).as("tokens_total"),
        sum(least(col("dl"), lit(maxLen.toLong))).as("tokens_kept"))
      .select(col("source"), col("n_docs"), col("n_truncated"),
        col("tokens_total"), col("tokens_kept"),
        (col("tokens_total") - col("tokens_kept")).as("tokens_cut"),
        round((col("tokens_total") - col("tokens_kept")).cast("double") /
          col("tokens_total"), 4).as("waste_frac"),
        round(col("n_truncated").cast("double") / col("n_docs"), 4)
          .as("trunc_frac"))
      .orderBy(col("source"))
  }
}
