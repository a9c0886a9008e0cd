package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.sources.{ParquetReader, Tables}
import graft.logs.LogLines
import graft.mine.TemplateMining
import graft.operators.{EventMatrix, Positional, RangeJoin, Sketches, Temporal}
import graft.dedup.Dedup
import graft.sim.Similarity
import graft.text.{LangId, TextAnalysis}
import graft.analyze.{CorrPrune, StratifiedSplit}
import graft.ml.{IsolationForest, Models}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Conventions shared by every (query, oracle) pair:
  *  - every computed column is aliased IDENTICALLY on both sides;
  *  - every result has a deterministic total ORDER BY;
  *  - any double produced by aggregation arithmetic is `round(_, 2|4)` on
  *    BOTH sides so engine-order float summation noise can't break the
  *    driver's hash compare (raw pass-through doubles stay exact).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * E3 semantics (`stat_calculation.py:1-9`): per-event occurrence counts,
    * positive only, ordered. */
  def entry(spark: SparkSession): DataFrame =
    EventMatrix.failureDistribution(
      Tables.events(spark, "/root/testdata/sf0.001"), "event_type")

  /** Order-invariant double sum (driver hash-gate contract): see
    * [[graft.operators.ExactAgg]] — 6 dp long quantization, div/mod-1e9
    * split summed in exact long arithmetic on the codegen'd fast path,
    * portable scale-0 rounding. Oracle mirror:
    * `round((CAST(sum(CAST(round((x) * 1000000) AS BIGINT) // 1000000000)
    * AS DOUBLE) * 1000000000.0 + CAST(sum(CAST(round((x) * 1000000) AS
    * BIGINT) % 1000000000) AS DOUBLE)) / 10^(6-n)) / 10^n`. */
  private def dsum(c: Column, scale: Int): Column =
    graft.operators.ExactAgg.dsum(c, scale)

  /** Order-invariant mean ([[graft.operators.ExactAgg.davg]]). Oracle
    * mirror: `round((...split sum...) / 10^(6-n) / count(*)) / 10^n`. */
  private def davg(c: Column, scale: Int): Column =
    graft.operators.ExactAgg.davg(c, scale)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- one-way ANOVA of line-item quantity across return flags: the
    //      k-arm "does ANY class mean differ" readout — exact DECIMAL
    //      moments per class, F/eta^2 in double at the end
    "q251_anova" -> ((s, dir) =>
      graft.analyze.VarianceTests.anovaF(
        Tables.lineitem(s, dir), col("l_returnflag"), col("l_quantity"))),
    // ---- Brown-Forsythe spread test on the same classes: ANOVA's F over
    //      |x - class lower median| — the variance-homogeneity check the
    //      mean comparison assumes
    "q252_levene" -> ((s, dir) =>
      graft.analyze.VarianceTests.leveneBF(
        Tables.lineitem(s, dir), col("l_returnflag"), col("l_quantity"))),
    // ---- Jarque-Bera normality screen on event values: moment-based
    //      skew/kurtosis off exact 2-dp DECIMAL raw sums
    "q253_jarque_bera" -> ((s, dir) =>
      graft.analyze.RobustStats.jarqueBera(Tables.events(s, dir), "value")),
    // ---- Ljung-Box portmanteau over lags 1..7 of the daily event-value
    //      total: whole-ACF whiteness — n-scaled centered series keeps
    //      every ACF moment an exact integer
    "q254_ljung_box" -> ((s, dir) =>
      graft.analyze.Trend.ljungBox(Tables.events(s, dir), "ts", "value", 7)),
    // ---- Durbin-Watson on the daily-total trend residuals: serial-
    //      correlation alarm for the OLS trend family (q167/q204)
    "q255_durbin_watson" -> ((s, dir) =>
      graft.analyze.Trend.durbinWatson(Tables.events(s, dir), "ts", "value")),
    // ---- V-measure of the md5-bucket "clustering" against event types:
    //      homogeneity/completeness decomposition over one contingency
    //      scan — x ln x on exact integer counts throughout
    "q256_vmeasure" -> ((s, dir) =>
      graft.analyze.Contingency.vMeasure(Tables.events(s, dir),
        col("event_type"),
        pmod(conv(substring(md5(col("user_id").cast("string")), 1, 8),
          16, 10).cast("long"), lit(8)))),
    // ---- rich-club profile of the co-purchase part graph: phi(k) along
    //      the degree axis from two degree-bounded histograms — the hub-
    //      clique structure q219's single number summarizes
    "q257_rich_club" -> ((s, dir) =>
      graft.graph.RichClub.coefficients(
        graft.graph.LinkPrediction.coOccurrenceEdges(
          Tables.lineitem(s, dir), "l_orderkey", "l_partkey", 2L),
        "a", "b", 12)),
    // ---- distinct l-diversity audit over the q176 quasi-identifier
    //      classes with the event type as the sensitive attribute — the
    //      homogeneity-attack check k-anonymity cannot see
    "q258_l_diversity" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      graft.analyze.Privacy.lDiversityReport(ev,
        Seq(col("event_type"), date_trunc("day", col("ts")).as("day"),
          floor(col("value") / 100).as("band")),
        col("user_id") % 10, 3L)
    }),
    // ---- sample-ratio-mismatch gate on the md5 4-way split: chi-square
    //      GOF against uniform allocation, exact integer moments
    "q259_srm" -> ((s, dir) =>
      graft.analyze.Experiment.srmCheck(Tables.events(s, dir), "user_id", 4)),
    // ---- Wald SPRT on the signup conversion rate (H0 p=0.30 vs H1
    //      p=0.35): exact integer LLR walk in arrival order, first
    //      boundary crossing via a min-struct aggregate
    "q260_sprt" -> ((s, dir) =>
      graft.analyze.Experiment.sprt(Tables.events(s, dir), "user_id", "ts",
        col("event_type") === "signup", 0.30, 0.35)),
    // ---- Anderson-Darling uniformity audit of the md5 unit hash (the
    //      salt/shard function of q88/q137): tail-weighted EDF test over
    //      the distributed global rank
    "q261_ad_uniformity" -> ((s, dir) => {
      val u32 = conv(substring(md5(col("user_id").cast("string")), 1, 8),
        16, 10).cast("double")
      graft.analyze.RobustStats.adUniformity(
        Tables.events(s, dir).select(col("user_id"),
          ((u32 + 0.5) / lit(4294967296.0)).as("u")),
        col("u"), col("user_id"))
    }),
    // ---- reciprocal-rank fusion of the BM25 and token-overlap
    //      retrievers (k0=60): rank-only ensemble, exact 12-dp integer
    //      score sums, ties on doc id
    "q262_rrf" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val queries = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
        .select(col("doc_id").as("qid"),
          concat_ws(" ", slice(graft.text.TextAnalysis.tokens(col("text")),
            1, 8)).as("qtext"))
      // FUSED form: BM25 pico sum + overlap count from ONE corpus
      // scoring pass (identical output to the compositional
      // rrf(Seq(bm, ov)) by construction — same candidates, orderings,
      // pinned contributions)
      graft.text.RetrievalFusion.rrfBm25Overlap(docs, "doc_id", "text",
          queries, "qid", "qtext", 10, 60)
        .orderBy(col("qid"), col("rank"))
    }),
    // ---- Dirichlet query-likelihood retrieval (mu=2000): the LM
    //      ranking next to BM25 — sparse decomposition, every log term
    //      a 12-dp-pinned long, exact integer scores
    "q263_dirichlet_ql" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val qs = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
        .select(col("doc_id").as("qid"),
          concat_ws(" ", slice(graft.text.TextAnalysis.tokens(col("text")),
            1, 8)).as("qtext"))
      graft.text.QueryLikelihood.topK(docs, "doc_id", "text",
          qs, "qid", "qtext", 10)
        .orderBy(col("qid"), col("rank"))
    }),
    // ---- binary confusion report incl. Matthews correlation for the
    //      value>75 ⇒ purchase rule: the class-imbalance-honest 2x2
    //      readout over one exact aggregate
    "q264_confusion" -> ((s, dir) =>
      graft.analyze.Contingency.confusionReport(Tables.events(s, dir),
        col("value") > 75, col("event_type") === "purchase")),
    // ---- functional-dependency audit over order/lineitem candidates:
    //      which "A determines B" contracts actually hold
    "q265_fd_audit" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val li = Tables.lineitem(s, dir)
      graft.analyze.Dependencies.fdAudit(o, Seq(
          ("o_orderkey->o_orderdate", col("o_orderkey"), col("o_orderdate")),
          ("o_custkey->o_orderstatus", col("o_custkey"), col("o_orderstatus"))))
        .unionAll(graft.analyze.Dependencies.fdAudit(li, Seq(
          ("l_orderkey->l_shipdate", col("l_orderkey"), col("l_shipdate")))))
        .orderBy(col("fd"))
    }),
    // ---- inclusion-dependency (FK) audit: distinct-value anti-joins
    //      measure containment of the star schema's key references
    "q266_fk_audit" -> ((s, dir) =>
      graft.analyze.Dependencies.indAudit(Seq(
        ("lineitem.l_orderkey<=orders", Tables.lineitem(s, dir),
          col("l_orderkey"), Tables.orders(s, dir), col("o_orderkey")),
        ("lineitem.l_partkey<=part", Tables.lineitem(s, dir),
          col("l_partkey"), Tables.part(s, dir), col("p_partkey")),
        ("orders.o_custkey<=customer", Tables.orders(s, dir),
          col("o_custkey"), Tables.customer(s, dir), col("c_custkey")),
        ("events.user_id<=customer", Tables.events(s, dir),
          col("user_id"), Tables.customer(s, dir), col("c_custkey"))))),
    // ---- RAKE corpus keywords: stopword-split candidate phrases,
    //      deg/freq word scores (9-dp-pinned), exact phrase-score sums
    "q267_rake" -> ((s, dir) =>
      graft.text.Rake.topPhrases(Tables.documents(s, dir), "doc_id", "text",
        graft.text.TextAnalysis.Stopwords, 3, 25)),
    // ---- Simpson's-paradox detector: do the per-event-type A/B mean
    //      diffs contradict the pooled diff? exact 6-dp cell moments
    "q268_simpsons" -> ((s, dir) =>
      graft.analyze.Experiment.simpsonsCheck(Tables.events(s, dir),
        "user_id", "value", col("event_type"))),
    // ---- Local Outlier Factor, brute reference algebra over a PINNED
    //      id-sample (lowest 1024 vec_ids — a TakeOrdered, constant work
    //      at any corpus scale; the full-corpus scale path is q390's
    //      bucketed variant, spec-pinned brute ≡ bucketed): 12-dp cosine
    //      distances, exact integer reach/lrd sums, k=10 pinned by id
    "q269_lof" -> ((s, dir) =>
      graft.sim.Lof.bruteTop(
        Tables.embeddings(s, dir).orderBy(col("vec_id")).limit(1024),
        "vec_id", "embedding", 10, 20)),
    // ---- Poisson bootstrap 95% CI for the mean per-user purchase value
    //      (Chamandy et al.): hash-deterministic Poisson(1) weights, 100
    //      resamples, exact integer resample sums, lower-rank CI bounds
    "q270_bootstrap_ci" -> ((s, dir) =>
      graft.analyze.Bootstrap.meanCi(Tables.events(s, dir), "user_id",
        "value", col("event_type") === "purchase", 100)),
    // ---- precision-recall sweep of the value-threshold purchase rule
    //      over a literal grid: the operating-point curve behind q264's
    //      frozen confusion point — one category-bounded aggregate
    "q271_pr_curve" -> ((s, dir) =>
      graft.analyze.Contingency.prCurve(Tables.events(s, dir),
        col("value"), col("event_type") === "purchase",
        Seq(10.0, 25.0, 50.0, 75.0, 90.0))),
    // ---- Lorenz curve at decile resolution over per-user event value
    //      (q172 gini, drawn): distributed rank, exact decile sums
    "q272_lorenz" -> ((s, dir) =>
      graft.analyze.Concentration.lorenzDeciles(Tables.events(s, dir),
        "user_id", "value")),
    // ---- fill-in-the-middle PSM split with hash-deterministic cuts:
    //      the infilling data-prep step; psm_md5 proves lossless spans
    "q273_fim_split" -> ((s, dir) =>
      graft.operators.FimSplit.psm(Tables.documents(s, dir), "doc_id", "text")),
    // ---- embedding anisotropy: mean pairwise cosine via the |Σv̂|²−n
    //      identity — one pass where naive needs N²; 9-dp-pinned
    //      normalized components, exact per-dimension sums
    "q274_anisotropy" -> ((s, dir) =>
      graft.sim.Anisotropy.meanCosine(Tables.embeddings(s, dir), "embedding")),
    // ---- seeded-Laplace noisy count release (ε=1): the DP mechanism's
    //      plumbing with hash-drawn inverse-CDF noise, reproducible per
    //      release tag; true counts never leave the operator
    "q275_dp_counts" -> ((s, dir) =>
      graft.analyze.Privacy.laplaceCounts(Tables.events(s, dir),
        col("event_type"), 1.0, "r7")),
    // ---- exact 3-channel Shapley attribution (view/click/signup →
    //      purchase): literal 2^3 coalition enumeration over one exact
    //      8-cell rollup — the axiom-fair split behind q150's heuristics
    "q276_shapley" -> ((s, dir) =>
      graft.analyze.Attribution.shapley3(Tables.events(s, dir), "user_id",
        col("event_type") === "view", col("event_type") === "click",
        col("event_type") === "signup", col("event_type") === "purchase")),
    // ---- OLS-trend holdout backtest over the daily value series: MAE/
    //      MAPE/sMAPE on the last 20% of days — the honesty check before
    //      anyone extrapolates q167/q204's in-sample fits
    "q277_forecast_eval" -> ((s, dir) =>
      graft.analyze.Trend.forecastBacktest(Tables.events(s, dir),
        "ts", "value", 0.8)),
    // ---- power-law degree exponent MLE (Clauset-Shalizi-Newman) on the
    //      co-purchase graph: is it scale-free? — 9-dp-pinned log terms
    "q278_powerlaw" -> ((s, dir) =>
      graft.graph.RichClub.powerLawAlpha(
        graft.graph.LinkPrediction.coOccurrenceEdges(
          Tables.lineitem(s, dir), "l_orderkey", "l_partkey", 2L),
        "a", "b", 2L)),
    // ---- kNN hubness report (k-occurrence skew): the curse-of-
    //      dimensionality dashboard for every kNN consumer upstream.
    //      Brute reference algebra over the PINNED lowest-1024-id
    //      sample (constant work at any scale; q407 is the bucketed
    //      full-corpus shape)
    "q279_hubness" -> ((s, dir) =>
      graft.sim.Lof.hubnessReport(
        Tables.embeddings(s, dir).orderBy(col("vec_id")).limit(1024),
        "vec_id", "embedding", 10)),
    // ---- Calinski-Harabasz variance-ratio of the labeled embeddings:
    //      vector-space ANOVA — the global companion to q243 silhouette
    "q280_calinski" -> ((s, dir) =>
      graft.sim.Anisotropy.calinskiHarabasz(Tables.embeddings(s, dir),
        "label", "embedding")),
    // ---- re-randomization (permutation) test of the A/B mean diff:
    //      hash-deterministic permutations, exact integer compares
    "q281_permutation_test" -> ((s, dir) =>
      graft.analyze.Experiment.permutationTest(Tables.events(s, dir),
        "user_id", "value", col("event_type") === "purchase", 200)),
    // ---- Goodman-Kruskal gamma + Somers' D between daily volume and
    //      per-event value: the tie-aware ordinal-association pair next
    //      to q240's tau-b — exact pair-class counts over the day frame
    "q282_gamma_somers" -> ((s, dir) =>
      graft.analyze.RankStats.gammaSomers(Tables.events(s, dir), "ts", "value")),
    // ---- Kruskal-Wallis H across return flags: the k-sample rank test
    //      (q213's extension / q251's distribution-free sibling) — per-
    //      class doubled rank sums exact off the distinct-value frame
    "q283_kruskal_wallis" -> ((s, dir) =>
      graft.analyze.RankStats.kruskalWallis(Tables.lineitem(s, dir),
        col("l_returnflag"), col("l_quantity"))),
    // ---- Friedman test of event types across day blocks: within-day
    //      ranks kill the shared day trend; exact doubled-rank integers,
    //      one division at the end
    "q284_friedman" -> ((s, dir) =>
      graft.analyze.RankStats.friedman(Tables.events(s, dir),
        to_date(col("ts")), col("event_type"))),
    // ---- t-closeness audit on the order release: does any (segment,
    //      status) class's priority mix diverge from the global — the
    //      skewness-attack gate above q176/q258
    "q285_t_closeness" -> ((s, dir) => {
      val o = Tables.orders(s, dir); val c = Tables.customer(s, dir)
      graft.analyze.Privacy.tClosenessReport(
        o.join(c, o("o_custkey") === c("c_custkey")),
        Seq(col("c_mktsegment"), col("o_orderstatus")),
        col("o_orderpriority"), 0.2)
    }),
    // ---- Fellegi-Sunter linkage weights for the customer fields:
    //      u-probabilities straight from the value histograms, agreement
    //      weights log2(m/u) — the scorer over q89/q134's candidates
    "q286_fs_weights" -> ((s, dir) =>
      graft.dedup.Linkage.fsWeights(Tables.customer(s, dir), Seq(
        "name" -> col("c_name"),
        "nation" -> col("c_nationkey"),
        "segment" -> col("c_mktsegment"),
        "bal_band" -> floor(col("c_acctbal") / 1000)))),
    // ---- BFS hop histogram from the smallest part in the co-purchase
    //      graph: frontier-join BFS, layer sizes out to 10 hops
    "q287_bfs_hops" -> ((s, dir) =>
      graft.graph.Bfs.hopHistogram(
        graft.graph.LinkPrediction.coOccurrenceEdges(
          Tables.lineitem(s, dir), "l_orderkey", "l_partkey", 2L), 10)),
    // ---- 4-truss of the co-purchase graph: iterative support peel to
    //      the subgraph where every edge sits in >= 2 triangles — the
    //      edge-level cohesion core between q139's k-core and cliques
    "q288_ktruss" -> ((s, dir) =>
      graft.graph.KTruss.truss(
        graft.graph.LinkPrediction.coOccurrenceEdges(
          Tables.lineitem(s, dir), "l_orderkey", "l_partkey", 2L),
        "a", "b", 4)),
    // ---- DBSCAN over the embeddings: density modes + explicit noise,
    //      grid-pruned candidate pairs, CC-labeled cores, deterministic
    //      min-label border adoption
    "q289_dbscan" -> ((s, dir) =>
      graft.sim.Dbscan.cluster(Tables.embeddings(s, dir), "vec_id",
        "embedding", 1.15, 4)),
    // ---- item-item CF cosine over baskets: co-occurrence normalized by
    //      item popularity — q220's recsys-scoring sibling, 12-dp pinned
    "q290_item_cf" -> ((s, dir) =>
      graft.sim.ItemSimilarity.topPairs(Tables.lineitem(s, dir),
        "l_orderkey", "l_partkey", 2L, 20)),
    // ---- STL-lite decomposition of the daily totals: centered 7-day MA
    //      trend, day-of-week seasonal means of the EXACT-integer
    //      detrended series, residual — q198/q246's structural readout
    "q291_stl_decompose" -> ((s, dir) =>
      graft.analyze.Trend.stlDecompose(Tables.events(s, dir), "ts", "value", 7)),
    // ---- Mantel-Haenszel common odds ratio + CMH chi-square of arm vs
    //      purchase across day strata: the confounding-robust 2x2, the
    //      formal number behind the q268 Simpson audit
    "q292_mantel_haenszel" -> ((s, dir) =>
      graft.analyze.Experiment.mantelHaenszel(Tables.events(s, dir),
        "user_id", col("event_type") === "purchase", "ts")),
    // ---- unigram-LM (SentencePiece-family) tokenizer trainer: EM over
    //      Viterbi segmentations of the distinct-word frame — the
    //      probabilistic tokenizer next to q76's BPE merges
    "q293_unigram_lm" -> ((s, dir) =>
      graft.text.UnigramLm.train(Tables.documents(s, dir), "text",
        512, 4, 3, 50)),
    // ---- Holt double-exponential smoothing of the daily series, 6-dp
    //      pinned state recursion — the adaptive forecaster beside the
    //      OLS family, backtested by q277
    "q294_holt" -> ((s, dir) =>
      graft.analyze.Trend.holtLinear(Tables.events(s, dir), "ts", "value",
        0.3, 0.2)),
    // ---- entity-resolution capstone: q134's sorted-neighborhood + JW
    //      candidate pairs fed through connected components into linked
    //      clusters with clean/dirty composition — blocking, comparison,
    //      clustering in one pipeline
    "q295_er_clusters" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val rec = substring(lower(trim(col("text"))), 1, 40)
      val clean = d.select(col("doc_id").cast("long").as("rid"), rec.as("name"))
      val dirty = d.filter(pmod(col("doc_id"), lit(2)) === 0)
        .select((col("doc_id") + 10000000L).as("rid"),
          concat(substring(rec, 1, 24), substring(rec, 26, 1),
            substring(rec, 25, 1), substring(rec, 27, 40)).as("name"))
      val pairs = graft.dedup.SortedNeighborhood.jaroWinklerPairs(
        clean.unionAll(dirty), "rid", col("name"), col("name"),
        window = 4, minSim = 0.92)
      graft.dedup.ConnectedComponents.components(pairs, "id_a", "id_b")
        .groupBy(col("component").as("cluster"))
        .agg(count(lit(1)).as("n_members"),
          sum(when(col("id") < 10000000L, 1L).otherwise(0L)).as("n_clean"),
          sum(when(col("id") >= 10000000L, 1L).otherwise(0L)).as("n_dirty"))
        .orderBy(col("cluster"))
    }),
    // ---- Page's trend test across day blocks: does per-type volume rise
    //      in the pinned treatment order — the directional Friedman
    "q296_page_trend" -> ((s, dir) =>
      graft.analyze.RankStats.pageTrend(Tables.events(s, dir),
        to_date(col("ts")), col("event_type"))),
    // ---- Nelson-Aalen cumulative hazard with Breslow survival: the
    //      additive life table next to q160's KM product
    "q297_nelson_aalen" -> ((s, dir) =>
      graft.analyze.Survival.nelsonAalen(Tables.events(s, dir), "user_id",
        "ts", col("event_type") === "purchase")),
    // ---- Cochran's Q across event types over user blocks: the binary
    //      repeated-measures omnibus (q284's 0/1 specialization)
    "q298_cochran_q" -> ((s, dir) =>
      graft.analyze.Contingency.cochranQ(Tables.events(s, dir),
        col("user_id"), col("event_type"))),
    // ---- McNemar marginal-change test: per-user purchase yes/no in the
    //      first vs second half of the window, discordant-pair chi-square
    "q299_mcnemar" -> ((s, dir) =>
      graft.analyze.Contingency.mcnemar(Tables.events(s, dir),
        col("user_id"), col("ts"), col("event_type") === "purchase")),
    // ---- Wald-Wolfowitz runs test on daily up/down signs: direction
    //      randomness, the streak/alternation alarm beside q169's ACF
    "q300_runs_test" -> ((s, dir) =>
      graft.analyze.Trend.runsTest(Tables.events(s, dir), "ts", "value")),
    // ---- Grubbs extreme-studentized-deviate on event values: is THE
    //      most extreme value an outlier (q104 flags many, this tests one)
    "q301_grubbs" -> ((s, dir) =>
      graft.analyze.Outliers.grubbs(Tables.events(s, dir), "value")),
    // ---- Cronbach's alpha of the k event-type counts as a per-user
    //      scale: internal-consistency reliability, gridless variances
    "q302_cronbach" -> ((s, dir) =>
      graft.analyze.Experiment.cronbachAlpha(Tables.events(s, dir),
        col("user_id"), col("event_type"))),
    // ---- duplicate-mass threshold sweep: pair/doc survival per Jaccard
    //      τ from ONE pair join at the loosest point — the dedup-
    //      aggressiveness curve read before committing a threshold
    "q303_dup_threshold_sweep" -> ((s, dir) =>
      graft.dedup.Dedup.jaccardThresholdSweep(Tables.documents(s, dir),
        "doc_id", "text", 3, Seq(0.6, 0.7, 0.8, 0.9))),
    // ---- unigram-LM fertility: pieces/word + chars/piece of the q293
    //      inventory over the corpus — the efficiency readout that picks
    //      between the two tokenizer families (BPE side: q84)
    "q304_unigram_fertility" -> ((s, dir) =>
      graft.text.UnigramLm.fertility(Tables.documents(s, dir), "text",
        512, 4, 3)),
    // ---- diameter double-sweep on the co-purchase graph: BFS from the
    //      min id, re-BFS from the farthest node — the standard lower
    //      bound, exact on trees; composes q287's layer engine
    "q305_diameter_sweep" -> ((s, dir) =>
      graft.graph.Bfs.doubleSweep(
        graft.graph.LinkPrediction.coOccurrenceEdges(
          Tables.lineitem(s, dir), "l_orderkey", "l_partkey", 2L), 16)),
    // ---- ALS implicit-feedback factorization (spark.ml blocked ALS):
    //      latent item neighbors of the anchor item — the factor-model
    //      rung above q290's co-occurrence cosine; no_oracle by design
    //      (seeded, environment-stable; spec pins reproducibility)
    "q306_als_neighbors" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir); val o = Tables.orders(s, dir)
      val ratings = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy(o("o_custkey").cast("long").as("user"),
          li("l_partkey").cast("long").as("item"))
        .agg(count(lit(1)).as("rating"))
      // pinned rank-2 ALS (PinnedAls): closed-form 2×2 solves with an
      // unrolled SQL twin — the oracle-exact sibling of the spark.ml
      // blocked ALS (Recommend.alsItemNeighbors, spec-covered)
      graft.ml.PinnedAls.itemNeighbors(ratings, 0.1, 5, 15)
    }),
    // ---- Weibull shape/scale by median-rank regression over uncensored
    //      conversion durations: closed-form probability-plot fit, the
    //      parametric reading of the q160/q297 life tables
    "q307_weibull_fit" -> ((s, dir) =>
      graft.analyze.Survival.weibullFit(Tables.events(s, dir), "user_id",
        "ts", col("event_type") === "purchase")),
    // ---- Hodges-Lehmann estimator of the daily total: exact median of
    //      pairwise Walsh averages — the robust location point estimate
    //      the rank-test family inverts into intervals
    "q308_hodges_lehmann" -> ((s, dir) =>
      graft.analyze.RobustStats.hodgesLehmann(Tables.events(s, dir),
        "ts", "value")),
    // ---- Wilson + Newcombe score intervals on the A/B conversion: the
    //      coverage-correct alternative to Wald bars for q140's readout
    "q309_wilson_ci" -> ((s, dir) =>
      graft.analyze.Experiment.wilsonAbReport(Tables.events(s, dir),
        "user_id", col("event_type") === "signup")),
    // ---- empirical-Bayes beta-binomial shrinkage of per-user purchase
    //      rates: moment-matched prior, evidence-weighted smoothing —
    //      the CTR-smoothing standard over raw small-n rates
    "q310_eb_shrinkage" -> ((s, dir) =>
      graft.analyze.Smoothing.ebShrinkRates(Tables.events(s, dir),
        col("user_id"), col("event_type") === "purchase")),
    // ---- Dickey-Fuller stationarity regression on the daily totals:
    //      mean-reversion vs unit root — the differencing decision for
    //      the q167/q294 forecast family
    "q311_dickey_fuller" -> ((s, dir) =>
      graft.analyze.Trend.dickeyFuller(Tables.events(s, dir), "ts", "value")),
    // ---- lead-lag cross-correlation: corr(count_t, value_{t+k}) for
    //      k in [-7,7] — does volume lead value; per-lag exact moments
    "q312_ccf" -> ((s, dir) =>
      graft.analyze.Trend.crossCorrelation(Tables.events(s, dir), "ts",
        "value", 7)),
    // ---- feature-hashing collision audit at 1024 buckets: how much
    //      vocabulary (and occurrence mass) the hashing trick merges —
    //      portable md5 bucketing, oracle-reproducible
    "q313_hash_collisions" -> ((s, dir) =>
      graft.text.FeatureHashing.collisionReport(Tables.documents(s, dir),
        "text", 1024)),
    // ---- Burrows' Delta between sources: z-scored head-vocabulary
    //      profiles, mean |z| distance — the stylometric attribution
    //      lens next to the TV/cosine divergences (q87/q223)
    "q314_burrows_delta" -> ((s, dir) =>
      graft.text.Stylometry.burrowsDelta(Tables.documents(s, dir),
        "source", "text", 30)),
    // ---- covariate-balance SMD table between the hash arms: the
    //      randomization pre-check an effect estimate should print first
    "q315_smd_balance" -> ((s, dir) =>
      graft.analyze.Experiment.covariateBalance(Tables.events(s, dir),
        "user_id", "ts", "value")),
    // ---- L-moments of the event values: order-statistics moments via
    //      closed-form hockey-stick rank weights on the distinct-value
    //      histogram — outlier-resistant shape next to q253's classical
    "q316_l_moments" -> ((s, dir) =>
      graft.analyze.RobustStats.lMoments(Tables.events(s, dir), "value")),
    // ---- Shewhart X-bar control chart over daily value subgroups: the
    //      single-day out-of-control alarm beside q232's CUSUM drift
    "q317_control_chart" -> ((s, dir) =>
      graft.analyze.Trend.controlChart(Tables.events(s, dir), "ts", "value")),
    // ---- prefix-cache savings: shared first-k-token mass across the
    //      corpus at k in {8,16,32} — the KV-cache sharing question a
    //      serving stack asks of its prompt corpus
    "q318_prefix_cache" -> ((s, dir) =>
      graft.text.FeatureHashing.prefixCacheReport(Tables.documents(s, dir),
        "text", Seq(8, 16, 32))),
    // ---- negative-binomial MoM fit of per-user event counts: the
    //      parametric HOW behind q231's overdispersion alarm
    "q319_negbin_fit" -> ((s, dir) =>
      graft.analyze.RobustStats.negBinFit(Tables.events(s, dir),
        col("user_id"))),
    // ---- Dunn's post-hoc pairwise z after q283's Kruskal-Wallis: WHICH
    //      return-flag pairs differ — same exact doubled-rank machinery,
    //      k²-bounded pair frame
    "q320_dunns_test" -> ((s, dir) =>
      graft.analyze.RankStats.dunn(Tables.lineitem(s, dir),
        col("l_returnflag"), col("l_quantity"))),
    // ---- Jonckheere-Terpstra ordered-alternative test: does order value
    //      trend across the priority ladder — full Hollander-Wolfe tie
    //      correction, distinct-value-bounded windows only
    "q321_jonckheere" -> ((s, dir) =>
      graft.analyze.RankStats.jonckheere(Tables.orders(s, dir),
        col("o_orderpriority"), col("o_totalprice"))),
    // ---- Fleiss' kappa across three heuristic quality raters (length /
    //      punctuation / stopword rules): do the labeling functions agree
    //      beyond chance — the multi-rater extension of q215
    "q322_fleiss_kappa" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      graft.analyze.Agreement.fleissKappa(d, col("doc_id"), Seq(
        when(col("n_chars") >= 200, "good").otherwise("bad"),
        when(length(col("text")) -
          length(replace(col("text"), lit("."), lit(""))) >= 3, "good")
          .otherwise("bad"),
        when(col("text").contains(" the "), "good").otherwise("bad")))
    }),
    // ---- one-way ICC(1,1) of event value within users: what share of
    //      value variance is user-level — unequal-n effective group size,
    //      pinned per-group square terms
    "q323_icc" -> ((s, dir) =>
      graft.analyze.Agreement.icc(Tables.events(s, dir),
        col("user_id"), col("value"))),
    // ---- Lin's concordance of the order-header total against the
    //      recomputed lineitem net total: agreement with the 45° line,
    //      not just linearity (pairs with q327's error-in-both fit)
    "q324_lin_ccc" -> ((s, dir) =>
      graft.analyze.Agreement.linCcc(orderNetPairs(s, dir),
        col("x"), col("y"))),
    // ---- Murphy decomposition of the Brier score for the q209 LOO
    //      target-encoded score: reliability / resolution / uncertainty
    //      — WHY the headline Brier is what it is
    "q325_brier_decomp" -> ((s, dir) =>
      graft.ml.Evaluation.brierDecomposition(
        looScored(s, dir), col("target_enc"), col("value") > 50)),
    // ---- Hosmer-Lemeshow goodness-of-fit table for the same score:
    //      observed vs expected positives per score bin, χ² contribs —
    //      fixed-width bins keep it one hash aggregate at any scale
    "q326_hosmer_lemeshow" -> ((s, dir) =>
      graft.ml.Evaluation.hosmerLemeshow(
        looScored(s, dir), col("target_enc"), col("value") > 50)),
    // ---- Deming errors-in-both regression of header total on lineitem
    //      net: the ML line when both sides carry noise (OLS attenuates);
    //      closed-form λ=1 slope from exact moments
    "q327_deming" -> ((s, dir) =>
      graft.analyze.Regression.deming(orderNetPairs(s, dir),
        col("x"), col("y"))),
    // ---- Breusch-Pagan (Koenker) heteroscedasticity LM test of total
    //      price on order date: are the q167-style trend SEs honest —
    //      two exact-moment passes, squared residuals re-pinned
    "q328_breusch_pagan" -> ((s, dir) =>
      graft.analyze.Regression.breuschPagan(Tables.orders(s, dir),
        unix_date(to_date(col("o_orderdate"))), col("o_totalprice"))),
    // ---- Chow test for a structural break of the price~date line at
    //      1998-01-01: did the RELATION change, not just the level —
    //      per-segment closed-form SSRs, one grouped aggregate
    "q329_chow" -> ((s, dir) =>
      graft.analyze.Regression.chow(Tables.orders(s, dir),
        unix_date(to_date(col("o_orderdate"))), col("o_totalprice"),
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))),
    // ---- restricted mean survival time at 60 days: the area under
    //      q160's KM curve — "average purchase-free days in the first
    //      60", censoring-honest where the naive mean lies
    "q330_rmst" -> ((s, dir) =>
      graft.analyze.Survival.rmst(Tables.events(s, dir), "user_id", "ts",
        col("event_type") === "purchase", 60)),
    // ---- Bayesian A/B on signup conversion: Beta(1,1) posteriors,
    //      P(B>A) through the shared A&S-erf Φ — bit-identical in the
    //      DuckDB twin, the stakeholder-facing readout next to q140
    "q331_bayes_ab" -> ((s, dir) =>
      graft.analyze.Experiment.bayesAb(Tables.events(s, dir), "user_id",
        col("event_type") === "signup")),
    // ---- sharp regression discontinuity at value=50 (bandwidth 25):
    //      local-linear intercept gap for the purchase outcome — did
    //      crossing the threshold itself move the rate
    "q332_rdd" -> ((s, dir) =>
      graft.analyze.Experiment.rdd(Tables.events(s, dir), col("value"),
        col("event_type") === "purchase", 50.0, 25.0)),
    // ---- Nelson's mean cumulative function of repeat purchases: the
    //      recurrent-event generalization of q297's Nelson-Aalen, risk
    //      sets from staggered per-user follow-up
    "q333_mcf" -> ((s, dir) =>
      graft.analyze.Survival.mcf(Tables.events(s, dir), "user_id", "ts",
        col("event_type") === "purchase")),
    // ---- Good-Turing smoothing table: unseen-mass p0 = N1/N and the
    //      r* = (r+1)N_{r+1}/N_r small-count corrections — the LM answer
    //      to "how much vocabulary have we NOT seen", off one token scan
    "q334_good_turing" -> ((s, dir) =>
      graft.text.GoodTuring.goodTuring(Tables.documents(s, dir),
        col("text"), 5, 3)),
    // ---- Unicode-script composition per language slice: latin / digit /
    //      space / other char shares from regex-delta counts, non-ASCII
    //      bleed-through doc counts — the extraction-quality audit
    "q335_script_mix" -> ((s, dir) =>
      graft.text.ScriptMix.scriptMix(Tables.documents(s, dir),
        col("lang"), col("text"))),
    // ---- Chapman capture-recapture over head/tail fingerprint dup
    //      flags: how many duplicated docs do the cheap passes MISS —
    //      the dedup-coverage estimator
    "q336_capture_recapture" -> ((s, dir) =>
      graft.dedup.CaptureRecapture.chapman(Tables.documents(s, dir),
        col("doc_id"), col("text"), 64)),
    // ---- MinHash band-config planner: expected TP catch / FP candidate
    //      load per (b, r) from the S-curve against the measured blocked
    //      pair-similarity histogram — Scala-pinned probability literals
    "q337_lsh_curve" -> ((s, dir) =>
      graft.dedup.LshCurve.curve(Tables.documents(s, dir),
        col("doc_id"), col("text"), LshConfigs)),
    // ---- weight-of-evidence / information value of event_type against
    //      the value>50 target: the credit-scoring power readout next to
    //      q225's info gain — exact margins, pinned IV terms
    "q338_woe_iv" -> ((s, dir) =>
      graft.analyze.Contingency.woeIv(Tables.events(s, dir),
        col("event_type"), col("value") > 50)),
    // ---- group-fairness audit of the value>75 decision vs the purchase
    //      outcome across hash arms: selection rate, TPR/FPR, 80%-rule
    //      ratio — one group-keyed aggregate
    "q339_fairness" -> ((s, dir) =>
      graft.analyze.Fairness.report(Tables.events(s, dir),
        when(graft.operators.Sharding.hash32(col("user_id")) % 2 === 0,
          "A").otherwise("B"),
        col("value") > 75, col("event_type") === "purchase")),
    // ---- matrix-profile discord per event type: the 7-day window whose
    //      NEAREST neighbor is farthest — shape anomalies pointwise
    //      z-scores can't see; exact all-pairs z-distance, span²-bounded
    "q340_matrix_profile" -> ((s, dir) =>
      graft.analyze.MatrixProfile.discord(Tables.events(s, dir),
        "event_type", "ts", "value", 7)),
    // ---- DFT periodogram per event type (periods 2..14): spectral
    //      power shares of the daily series — the frequency-domain
    //      sibling of q246's phase-ANOVA; coarse-pinned trig terms
    "q341_periodogram" -> ((s, dir) =>
      graft.analyze.Trend.periodogram(Tables.events(s, dir),
        "event_type", "ts", "value", 14)),
    // ---- Croston intermittent-demand forecast per part: split SES of
    //      demand sizes and gaps, α=1/2 → exact binary weights, fully
    //      distributed closed form (no recursion, no collect)
    "q342_croston" -> ((s, dir) =>
      graft.analyze.Intermittent.croston(Tables.lineitem(s, dir),
        col("l_partkey"), col("l_shipdate"), col("l_quantity"), 5)),
    // ---- Allen interval-relation histogram: how each user's view span
    //      relates to their purchase span (13 exhaustive relations) —
    //      the interval-ALGEBRA audit next to q163's overlap join
    "q343_allen" -> ((s, dir) =>
      graft.analyze.AllenRelations.histogram(Tables.events(s, dir),
        col("user_id"), col("ts"),
        col("event_type") === "view", col("event_type") === "purchase")),
    // ---- Welch's heteroscedastic ANOVA of value across event types:
    //      the unequal-variance k-group mean test (use when q252/q345
    //      reject equal spreads) — Satterthwaite df2, exact moments
    "q344_welch_anova" -> ((s, dir) =>
      graft.analyze.VarianceTests.welchAnova(Tables.events(s, dir),
        col("event_type"), col("value"))),
    // ---- Bartlett's equal-variance LR test across event types: the
    //      powerful-under-normality sibling of q252's Brown-Forsythe,
    //      ln only in the k-bounded fold
    "q345_bartlett" -> ((s, dir) =>
      graft.analyze.VarianceTests.bartlett(Tables.events(s, dir),
        col("event_type"), col("value"))),
    // ---- Cochran-Armitage trend: does the purchase rate move
    //      MONOTONICALLY with the value-dose bucket (0..4) — 1-df
    //      ordered alternative vs q201's omnibus chi-square
    "q346_cochran_armitage" -> ((s, dir) =>
      graft.analyze.Contingency.cochranArmitage(Tables.events(s, dir),
        least(floor(col("value") / 100), lit(4)),
        col("event_type") === "purchase")),
    // ---- spectral entropy per event type: how CONCENTRATED is the
    //      daily series' power spectrum (0 = pure tone, 1 = white
    //      noise) + peak period — the seasonal-router over q341
    "q347_spectral_entropy" -> ((s, dir) =>
      graft.analyze.Trend.spectralEntropy(Tables.events(s, dir),
        "event_type", "ts", "value", 14)),
    // ---- Fligner-Killeen rank/normal-scores spread test: the
    //      outlier-proof third member of the variance triad
    //      (q252 robust-moment / q345 normal-LR / this) — first use of
    //      the shared Probit expression
    "q348_fligner_killeen" -> ((s, dir) =>
      graft.analyze.VarianceTests.flignerKilleen(Tables.events(s, dir),
        col("event_type"), col("value"))),
    // ---- Mood's median test: dichotomize at the pooled lower median,
    //      chi-square the 2×k table — the bluntest k-group location
    //      screen beside q283's Kruskal-Wallis
    "q349_mood_median" -> ((s, dir) =>
      graft.analyze.RankStats.moodMedian(Tables.events(s, dir),
        col("event_type"), col("value"))),
    // ---- Lilliefors composite normality: one-sample KS distance
    //      against the FITTED normal — the whole-CDF complement to
    //      q253's moment-based Jarque-Bera
    "q350_lilliefors" -> ((s, dir) =>
      graft.analyze.RobustStats.lilliefors(Tables.events(s, dir), "value")),
    // ---- standardized Pearson residuals per contingency cell: WHICH
    //      cells drive q201's omnibus chi-square (|r| > 2 flags)
    "q351_cell_residuals" -> ((s, dir) =>
      graft.analyze.Contingency.cellResiduals(Tables.events(s, dir),
        col("event_type"), least(floor(col("value") / 100), lit(4)))),
    // ---- OLS influence audit of the daily series: leverage, residual,
    //      Cook's distance + the 4/n flag per day — which days BEND the
    //      q54 trend line, not just which days are extreme
    "q352_ols_influence" -> ((s, dir) =>
      graft.analyze.Trend.olsInfluence(Tables.events(s, dir), "ts", "value")),
    // ---- van der Waerden normal-scores location test: Kruskal-Wallis
    //      ranks through Φ⁻¹ — full ARE vs the F-test under normality
    //      while staying rank-based (location twin of q348)
    "q353_vdw" -> ((s, dir) =>
      graft.analyze.RankStats.vanDerWaerden(Tables.events(s, dir),
        col("event_type"), col("value"))),
    // ---- k-sample Anderson-Darling (Scholz-Stephens tie-adjusted
    //      A²akN): ONE tail-weighted whole-CDF test across all event
    //      types vs k(k−1)/2 pairwise KS runs
    "q354_ad_ksample" -> ((s, dir) =>
      graft.analyze.RobustStats.adKSample(Tables.events(s, dir),
        col("event_type"), col("value"))),
    // ---- Pettitt rank changepoint: nonparametric single level-shift
    //      day + approximate p — the outlier-proof sibling of q202/q209
    "q355_pettitt" -> ((s, dir) =>
      graft.analyze.Changepoint.pettitt(Tables.events(s, dir), "ts", "value")),
    // ---- normal QQ decile table: WHERE the value distribution leaves
    //      normality (localizes q350's single-number verdict)
    "q356_qq_normal" -> ((s, dir) =>
      graft.analyze.RobustStats.qqNormal(Tables.events(s, dir), "value", 10)),
    // ---- Blom inverse-normal transform of per-user totals: the
    //      genomics-standard INT that gaussianizes ANY metric before
    //      parametric tooling touches it
    "q357_int_transform" -> ((s, dir) =>
      graft.analyze.QuantileCut.intTransform(Tables.events(s, dir),
        "user_id", "value")),
    // ---- Rayleigh test of hour-of-day uniformity: is there a daily
    //      activity rhythm at all? — 24-hour histogram fold, the unit-
    //      circle cos/sin pinned as the SAME 12-dp integer literals in
    //      both engines
    "q358_rayleigh" -> ((s, dir) =>
      graft.analyze.Circular.rayleighHourly(Tables.events(s, dir), col("ts"))),
    // ---- per-event-type circular summary: peak hour (circular mean
    //      direction), concentration R̄, circular variance/SD — the
    //      when-does-it-happen dashboard linear means get WRONG at the
    //      midnight seam
    "q359_circ_hours" -> ((s, dir) =>
      graft.analyze.Circular.hourlySummary(Tables.events(s, dir),
        col("event_type"), col("ts"))),
    // ---- Kuiper test of day-of-week uniformity: the rotation-invariant
    //      KS (equal power at every point of the weekly cycle) over the
    //      7-point lattice CDF
    "q360_kuiper" -> ((s, dir) =>
      graft.analyze.Circular.kuiperWeekday(Tables.events(s, dir), col("ts"))),
    // ---- Mardia circular-linear correlation between the clock phase
    //      and the value metric: does the metric FOLLOW the clock, with
    //      the phase estimated rather than assumed — ten exact DECIMAL
    //      co-moments, doubles only in the final correlations
    "q361_circ_linear" -> ((s, dir) =>
      graft.analyze.Circular.circularLinearCorr(Tables.events(s, dir),
        col("ts"), col("value"))),
    // ---- Cliff's delta + Vargha-Delaney A between the md5 user halves:
    //      the tie-robust "how BIG is the shift" companion to q213's
    //      significance — exact doubled dominance count, Romano bands
    "q362_cliffs_delta" -> ((s, dir) =>
      graft.analyze.RankEffects.cliffsDelta(Tables.events(s, dir), "value",
        pmod(conv(substring(md5(col("user_id").cast("string")), 1, 8),
          16, 10).cast("long"), lit(2)) === 0)),
    // ---- Brunner-Munzel between the same arms: Mann-Whitney without
    //      the equal-variance-under-H0 assumption (per-arm rank
    //      variances, Satterthwaite df) — exact doubled-placement folds
    "q363_brunner_munzel" -> ((s, dir) =>
      graft.analyze.RankEffects.brunnerMunzel(Tables.events(s, dir), "value",
        pmod(conv(substring(md5(col("user_id").cast("string")), 1, 8),
          16, 10).cast("long"), lit(2)) === 0)),
    // ---- Yuen trimmed-means test between the md5 arms: the outlier-
    //      proof Welch t (20% trim each tail, winsorized variances) —
    //      closed-form kept-mass clamps over the distinct-value fold,
    //      no per-row ranking
    "q364_yuen" -> ((s, dir) =>
      graft.analyze.RobustStats.yuenTest(Tables.events(s, dir), "value",
        pmod(conv(substring(md5(col("user_id").cast("string")), 1, 8),
          16, 10).cast("long"), lit(2)) === 0)),
    // ---- Alexander-Govern k-group mean test over event types: Welch-
    //      ANOVA's normal-scores sibling (per-class t through Hill's
    //      transformation, A = Σz² ~ χ²) — welchAnova's pinned-weight
    //      discipline end to end
    "q365_alexander_govern" -> ((s, dir) =>
      graft.analyze.VarianceTests.alexanderGovern(Tables.events(s, dir),
        col("event_type"), col("value"))),
    // ---- Quade test over day-blocks × event-type treatments: the
    //      block-weighted Friedman (wide-spread days count more) —
    //      one double division over exact doubled-rank folds
    "q366_quade" -> ((s, dir) =>
      graft.analyze.RankStats.quade(Tables.events(s, dir),
        to_date(col("ts")), col("event_type"), col("value"))),
    // ---- Ansari-Bradley scale test between the md5 arms: equal SPREAD
    //      check (rank scores walking in from both ends, tie blocks
    //      averaged via closed triangular sums) — the nonparametric
    //      third leg beside q252/q345's moment-based variance tests
    "q367_ansari_bradley" -> ((s, dir) =>
      graft.analyze.RankEffects.ansariBradley(Tables.events(s, dir), "value",
        pmod(conv(substring(md5(col("user_id").cast("string")), 1, 8),
          16, 10).cast("long"), lit(2)) === 0)),
    // ---- Krippendorff's alpha over users' event-type "ratings": the
    //      missing-data-tolerant agreement coefficient (Fleiss needs a
    //      constant rater count; this doesn't) — coincidence-matrix
    //      disagreements from exact per-unit folds
    "q368_krippendorff" -> ((s, dir) =>
      graft.analyze.Agreement.krippendorffAlpha(Tables.events(s, dir),
        col("user_id"), col("event_type"))),
    // ---- Kendall's W concordance across day-blocks: do the days agree
    //      on the event-type ranking? tie-corrected Legendre form, one
    //      double division of exact doubled-rank dispersions
    "q369_kendall_w" -> ((s, dir) =>
      graft.analyze.Agreement.kendallW(Tables.events(s, dir),
        to_date(col("ts")), col("event_type"), col("value"))),
    // ---- label-noise audit: the declared `lang` column vs the marker
    //      lang-id's prediction — confusion counts + per-declared share,
    //      the "can I trust the metadata" check run before any
    //      language-conditional filtering (q187's rebalance, q335's
    //      script mix) leans on the label
    "q384_label_noise" -> ((s, dir) => {
      val pred = Tables.documents(s, dir).select(col("lang").as("declared"),
        graft.text.LangId.markerLangId(col("text")).as("predicted"))
      val cells = pred.groupBy(col("declared"), col("predicted"))
        .agg(count(lit(1)).as("n"))
      val totals = cells.groupBy(col("declared"))
        .agg(sum(col("n")).as("tot"))
      cells.join(totals, "declared")
        .select(col("declared"), col("predicted"), col("n"),
          round(col("n").cast("double") / col("tot"), 6).as("share"))
        .orderBy(col("declared"), col("predicted"))
    }),
    // ---- Hoeffding's D between daily revenue and daily event count:
    //      the dependence test that lights up on NON-monotone relations
    //      Pearson/Spearman score zero — day-bounded dominance counts
    "q382_hoeffding_d" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("day"))
        .agg((sum(round(col("value") * 1e6).cast("long")).cast("double") / 1e6)
          .as("rev"), count(lit(1)).cast("double").as("cnt"))
      graft.analyze.Dependence.hoeffdingD(daily, col("rev"), col("cnt"))
    }),
    // ---- distance correlation on the same daily pair: dCor = 0 IFF
    //      independent (Székely 2007) — double-centered distance
    //      moments, exact means, pinned products
    "q383_distance_corr" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("day"))
        .agg((sum(round(col("value") * 1e6).cast("long")).cast("double") / 1e6)
          .as("rev"), count(lit(1)).cast("double").as("cnt"))
      graft.analyze.Dependence.distanceCorr(daily, col("rev"), col("cnt"))
    }),
    // ---- Lilliefors exponentiality of per-user inter-arrival gaps:
    //      are arrivals memoryless (Poisson), asked of the GAPS — the
    //      estimated-mean correction over the distinct-gap fold
    "q380_exp_gaps" -> ((s, dir) =>
      graft.analyze.RobustStats.lillieforsExponential(Tables.events(s, dir),
        col("user_id"), col("ts"))),
    // ---- TwoNN intrinsic dimension of the embedding table: how many
    //      degrees of freedom the vectors REALLY use (collapse monitor
    //      beside q274's anisotropy) — two neighbors per point, MLE
    //      closed form, no binning
    "q381_twonn" -> ((s, dir) =>
      graft.sim.IntrinsicDim.twoNn(Tables.embeddings(s, dir),
        "vec_id", "embedding")),
    // ---- seasonal Mann-Kendall: the trend test a weekly cycle can't
    //      fool — S and tie-corrected variance summed WITHIN weekday
    //      strata, exact integers to the closing z
    "q376_seasonal_mk" -> ((s, dir) =>
      graft.analyze.Trend.seasonalMannKendall(Tables.events(s, dir),
        "ts", "value")),
    // ---- Bartels rank von Neumann randomness test over daily totals:
    //      ≈2 random, ≪2 trending/sticky, ≫2 alternating — doubled
    //      midranks, days-bounded lag window
    "q377_bartels_rvn" -> ((s, dir) =>
      graft.analyze.Trend.bartelsRvn(Tables.events(s, dir), "ts", "value")),
    // ---- Cox-Stuart trend sign test: first half vs second half, the
    //      bluntest monotone screen (a sanity anchor for q204/q376)
    "q378_cox_stuart" -> ((s, dir) =>
      graft.analyze.Trend.coxStuart(Tables.events(s, dir), "ts", "value")),
    // ---- per-token burstiness of the head vocabulary (Church-Gale):
    //      VMR of per-doc tf (zeros in) + within-doc rate cf/df —
    //      topical terms clump, glue words spread
    "q379_token_burstiness" -> ((s, dir) =>
      graft.text.CorpusStats.tokenBurstiness(Tables.documents(s, dir),
        "doc_id", "text", 20)),
    // ---- lexical-concentration panel (Yule's K, token Simpson's D,
    //      Herdan's C): the length-invariant repeat-rate constants that
    //      flag formulaic/boilerplate corpora — one token-count scan
    "q375_lexical_conc" -> ((s, dir) =>
      graft.text.CorpusStats.lexicalConcentration(
        Tables.documents(s, dir), "text")),
    // ---- turning-points randomness test over daily totals: too few
    //      extrema = trending, too many = alternating — the third
    //      randomness lens beside q300 runs and q377 RVN
    "q388_turning_points" -> ((s, dir) =>
      graft.analyze.Trend.turningPoints(Tables.events(s, dir), "ts", "value")),
    // ---- difference-sign test: rises among consecutive daily totals
    //      vs the i.i.d. (n−1)/2 — the bluntest drift alarm
    "q389_diff_sign" -> ((s, dir) =>
      graft.analyze.Trend.differenceSign(Tables.events(s, dir), "ts", "value")),
    // ---- bucketed LOF (the 100 TB shape of q269): nearest-of-16-seeds
    //      bucketing bounds pair work to Σ|bucket|² ≈ N²/16; identical
    //      reach/lrd/lof algebra within buckets
    "q390_lof_bucketed" -> ((s, dir) =>
      graft.sim.Lof.bucketedTop(Tables.embeddings(s, dir), "vec_id",
        "embedding", 10, 20, 16)),
    // ---- multinomial Naive Bayes language-ID trained and evaluated
    //      in-engine (add-one smoothing, pinned log-weights): per-class
    //      held-out accuracy — the fastText-class quality/lang filter
    "q391_nb_langid" -> ((s, dir) =>
      graft.text.Classify.naiveBayesEval(Tables.documents(s, dir),
        "doc_id", "text", "lang", 5)),
    // ---- DSIR importance weights (Xie et al. 2023): hashed-unigram
    //      target-vs-raw log-ratio — rank the corpus by how
    //      target-domain-like each document reads
    "q392_dsir" -> ((s, dir) =>
      graft.text.Classify.dsirWeights(Tables.documents(s, dir),
        "doc_id", "text", col("lang") === "en", 512, 25)),
    // ---- MOSS shared-fingerprint pairs over the q52 winnowed
    //      fingerprints: shared-SPAN plagiarism/mirror detection with a
    //      boilerplate df-cap bounding join fan-out at maxDf² per key
    "q393_winnow_pairs" -> ((s, dir) =>
      graft.dedup.Winnowing.sharedFingerprintPairs(
        Tables.documents(s, dir), "doc_id", "text", 3L, 50L, 30)),
    // ---- MATTR lexical diversity (Covington & McFall): window-50
    //      moving-average type-token ratio via the O(n) last-occurrence
    //      interval identity — no per-window expansion
    "q394_mattr" -> ((s, dir) =>
      graft.text.CorpusStats.mattr(Tables.documents(s, dir),
        "doc_id", "text", 50)),
    // ---- BCa bootstrap 95% CI (Efron): q270's percentile interval with
    //      the bias (z0) and acceleration (jackknife-skew closed form)
    //      corrections — adjusted ranks through the shared Φ/Φ⁻¹ pair
    "q395_bootstrap_bca" -> ((s, dir) =>
      graft.analyze.Bootstrap.meanCiBca(Tables.events(s, dir), "user_id",
        "value", col("event_type") === "purchase", 100)),
    // ---- DP median via the exponential mechanism (Gumbel-max over
    //      inter-order-statistic gaps, seeded like q276's Laplace
    //      release): the true order statistics never leave the operator
    "q396_dp_quantile" -> ((s, dir) =>
      graft.analyze.Privacy.dpQuantile(Tables.events(s, dir),
        col("user_id"), col("value"), 0.5, 0.5, "r9")),
    // ---- dedup impact: docs/tokens REMOVED at each candidate τ
    //      (components + keep-min-id over one shared pair frame) — the
    //      cost curve beside q303's pair-count sweep
    "q397_dedup_impact" -> ((s, dir) =>
      graft.dedup.Dedup.dedupImpact(Tables.documents(s, dir),
        "doc_id", "text", 3, Seq(0.7, 0.8, 0.9))),
    // ---- seasonal-naive backtest with MASE (Hyndman-Koehler): the
    //      scale-free yardstick q277's OLS errors get compared to —
    //      weekly-phase forecasts, in-sample naive MAE as the scale
    "q398_mase" -> ((s, dir) =>
      graft.analyze.Trend.seasonalNaiveBacktest(Tables.events(s, dir),
        "ts", "value", 0.8, 7)),
    // ---- Page-Hinkley sequential mean-shift detector on daily totals:
    //      the streaming-drift default, exact pinned cumulative terms —
    //      first-alarm day + max statistic
    "q399_page_hinkley" -> ((s, dir) =>
      graft.analyze.Drift.pageHinkley(Tables.events(s, dir),
        "ts", "value", 0.0, 500.0)),
    // ---- Johnson-Lindenstrauss ±1 projection 64→16 with the pairwise
    //      distance-preservation audit: the training-free embedding
    //      compressor beside PCA/PQ/Matryoshka — hash-seeded signs
    "q400_jl_distortion" -> ((s, dir) =>
      graft.sim.RandomProjection.distortionAudit(
        Tables.embeddings(s, dir), "vec_id", "embedding", 16, "jl9")),
    // ---- repeated-prefix boilerplate report: same first-8-token open
    //      within a source = template output — the cheapest boilerplate
    //      key (no shingles, no pair join)
    "q408_boilerplate" -> ((s, dir) =>
      graft.text.CorpusStats.boilerplatePrefixes(Tables.documents(s, dir),
        "source", "text", 8, 2L, 20)),
    // ---- truncation waste per source under a 64-token context window:
    //      the budget audit before choosing a sequence length (exact
    //      integer sums, one corpus scan, map-side combine)
    "q409_truncation_waste" -> ((s, dir) =>
      graft.text.CorpusStats.truncationWaste(Tables.documents(s, dir),
        "source", "text", 64)),
    // ---- NB confidence calibration: accuracy per integer score-margin
    //      decile of the held-out fold — the routing/abstention audit of
    //      the q391 classifier (pinned margins, exact rank deciles)
    "q410_nb_calibration" -> ((s, dir) =>
      graft.text.Classify.marginCalibration(Tables.documents(s, dir),
        "doc_id", "text", "lang", 5, 10)),
    // ---- near-dup split leakage: test docs contaminated by a 0.8-Jaccard
    //      train twin under the q391 hash split — the eval-integrity audit
    "q411_split_leakage" -> ((s, dir) =>
      Dedup.splitLeakageReport(Tables.documents(s, dir),
        "doc_id", "text", 3, 0.8, 5)),
    // ---- deterministic per-source cap: keep <= 15 docs per source by
    //      md5-hash rank (bounded-heap aggregate, no per-group window)
    "q412_cap_per_source" -> ((s, dir) =>
      graft.operators.Mixture.capPerGroup(Tables.documents(s, dir),
          "source", "doc_id", 15)
        .orderBy(col("source"), col("doc_id"))),
    // ---- DSIR importance resampling (Xie et al. 2023): top docs by
    //      hashed-n-gram log importance toward the English slice —
    //      the data-selection rung between source reweighting (q67/
    //      q401) and per-doc quality scores (q21)
    "q413_dsir" -> ((s, dir) =>
      graft.text.Dsir.topKByImportance(Tables.documents(s, dir),
        "doc_id", "text", col("lang") === "en",
        buckets = 1024, alpha = 0.5, k = 100)),
    // ---- PORTABLE HLL per event type (the md5 sibling of q195's
    //      Datasketches rollup): exact-integer harmonic-mean fold, so
    //      the whole register pipeline is DuckDB-oracled — the sketch
    //      family's estimate itself under the q24/q166 hash discipline
    "q414_hll_portable" -> ((s, dir) =>
      graft.operators.Sketches.hllPortable(
          Tables.events(s, dir), "event_type", "user_id")
        .withColumnRenamed("key", "event_type")),
    // ---- bucketed hubness (the 100 TB shape of q279): N_k counts from
    //      within-bucket neighborhoods only — the embedding-health skew
    //      alarm without the brute N² frame
    "q407_hubness_bucketed" -> ((s, dir) =>
      graft.sim.Lof.hubnessReportBucketed(Tables.embeddings(s, dir),
        "vec_id", "embedding", 10, 16)),
    // ---- order-invariant corpus content digest: the dataset-versioning
    //      fingerprint — commutative 60-bit md5-slice sums, identical
    //      for any row order / partitioning / engine
    "q406_corpus_digest" -> ((s, dir) =>
      graft.analyze.DatasetCard.contentDigest(Tables.documents(s, dir),
        Seq("doc_id", "text", "lang", "source", "n_chars"))),
    // ---- sorted k-dist deciles (Ester et al.): the eps-selection
    //      readout for DBSCAN/LOF over the q390 bucketed neighborhoods
    "q403_kdist_profile" -> ((s, dir) =>
      graft.sim.Lof.kdistProfile(Tables.embeddings(s, dir), "vec_id",
        "embedding", 10, 16)),
    // ---- Pettitt change-point test: nonparametric single change-point
    //      locator on daily totals — doubled-rank exact U_t, first
    //      argmax split, closed-form p
    "q404_pettitt" -> ((s, dir) =>
      graft.analyze.Trend.pettitt(Tables.events(s, dir), "ts", "value")),
    // ---- Kruskal-Wallis: the nonparametric k-group location test
    //      beside q251 ANOVA / q252 Levene — tie-corrected H off the
    //      distinct-value rank fold
    "q405_kruskal" -> ((s, dir) =>
      graft.analyze.VarianceTests.kruskalWallis(
        Tables.lineitem(s, dir), col("l_returnflag"), col("l_quantity"))),
    // ---- text/embedding disagreement: near-identical text with far
    //      embeddings = stale vectors / shuffled ids / mixed model
    //      versions — the embedding-pipeline bug detector
    "q402_embed_disagree" -> ((s, dir) =>
      graft.dedup.Dedup.embeddingDisagreement(
        Tables.documents(s, dir), Tables.embeddings(s, dir),
        "doc_id", "text", "vec_id", "embedding", 3, 0.8, 0.995)),
    // ---- temperature mixing weights (mT5/PaLM recipe): share^0.3
    //      flattening with per-source oversampling epochs — the third
    //      mixture policy beside q67 equal-budget and q80 shuffling
    "q401_temperature_mix" -> ((s, dir) =>
      graft.operators.Mixture.temperatureWeights(
        Tables.documents(s, dir).select(col("source"),
          size(split(lower(trim(col("text"))), "\\s+")).cast("long").as("toks")),
        "source", "toks", 0.3)),
    // ---- Siegel repeated-medians slope of daily revenue: the
    //      50%-breakdown robust trend (Theil-Sen q204 breaks at ~29%) —
    //      median-of-medians over the day-bounded pair frame
    "q386_siegel_slope" -> ((s, dir) =>
      graft.analyze.Trend.siegelSlope(Tables.events(s, dir), "ts", "value")),
    // ---- trend/seasonal strength (Hyndman FPP3) under the q291
    //      decomposition: the one-row forecastability readout — exact
    //      6-dp-scale components into the variance moments
    "q387_stl_strength" -> ((s, dir) =>
      graft.analyze.Trend.stlStrength(Tables.events(s, dir), "ts", "value", 7)),
    // ---- Lepage omnibus between the md5 arms: squared standardized
    //      Wilcoxon + Ansari-Bradley off ONE distinct-value fold — the
    //      classical sibling of q374, with the two z's reported so a
    //      rejection is attributable to location or scale
    "q385_lepage" -> ((s, dir) =>
      graft.analyze.RankEffects.lepage(Tables.events(s, dir), "value",
        pmod(conv(substring(md5(col("user_id").cast("string")), 1, 8),
          16, 10).cast("long"), lit(2)) === 0)),
    // ---- Cucconi joint location-scale test between the md5 arms: one
    //      statistic that catches a shift OR a spread change (MW sees
    //      only location, Ansari-Bradley only scale) — squared doubled-
    //      midrank folds, exact to the closing algebra
    "q374_cucconi" -> ((s, dir) =>
      graft.analyze.RankEffects.cucconi(Tables.events(s, dir), "value",
        pmod(conv(substring(md5(col("user_id").cast("string")), 1, 8),
          16, 10).cast("long"), lit(2)) === 0)),
    // ---- delta-method CI for the revenue-per-event RATIO metric: the
    //      unit-correlation-aware SE the naive per-row t-test gets
    //      wrong — five exact co-moments, doubles only at the close
    "q371_ratio_delta" -> ((s, dir) =>
      graft.analyze.Experiment.ratioDelta(Tables.events(s, dir),
        col("user_id"),
        when(col("event_type") === "purchase", col("value")).otherwise(0.0),
        lit(1.0))),
    // ---- leave-one-user-out jackknife for the same ratio: the
    //      assumption-free cross-check of q371 (no Taylor step) —
    //      broadcast totals, one pinned division per unit
    "q372_ratio_jackknife" -> ((s, dir) =>
      graft.analyze.Experiment.ratioJackknife(Tables.events(s, dir),
        col("user_id"),
        when(col("event_type") === "purchase", col("value")).otherwise(0.0),
        lit(1.0))),
    // ---- post-stratified A/B difference over event-type strata: the
    //      design-based CUPED cousin — reweight arm means by pooled
    //      stratum shares to cancel hash-split imbalance
    "q373_post_strat" -> ((s, dir) =>
      graft.analyze.Experiment.postStratified(Tables.events(s, dir),
        col("user_id"), col("value"), col("event_type"),
        pmod(conv(substring(md5(col("user_id").cast("string")), 1, 8),
          16, 10).cast("long"), lit(2)) === 0)),
    // ---- Bland-Altman agreement between each user's early-January and
    //      late-January mean values: bias + limits of agreement, the
    //      test-retest readout a single correlation hides
    "q370_bland_altman" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val cut = lit("2024-01-16").cast("timestamp")
      def half(f: Column) = ev.filter(f)
        .groupBy(col("user_id"))
        .agg((sum(round(col("value") * 1e6).cast("long")).cast("double") /
          count(lit(1)) / 1e6).as("m"))
      graft.analyze.Agreement.blandAltman(
        half(col("ts") < cut), half(col("ts") >= cut), "user_id", "m")
    }),
    // ---- Jensen-Shannon divergence between the event-type mixes of the
    //      two md5 user halves: the symmetric, finite categorical-drift
    //      monitor (PSI's ε-floor sibling) — two category-bounded
    //      aggregates, no row shuffle
    "q218_jsd" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val arm = pmod(conv(substring(md5(col("user_id").cast("string")), 1, 8),
        16, 10).cast("long"), lit(2)) === 0
      graft.analyze.Drift.jensenShannon(
          ev.where(arm), ev.where(!arm), "event_type")
        .orderBy(col("cat"))
    }),
    // ---- degree assortativity of the co-purchase part graph (Newman
    //      2002): do popular parts co-sell with popular parts? — exact
    //      DECIMAL moments over edge-end degree pairs
    "q219_assortativity" -> ((s, dir) =>
      graft.graph.LinkPrediction.degreeAssortativity(
        graft.graph.LinkPrediction.coOccurrenceEdges(
          Tables.lineitem(s, dir), "l_orderkey", "l_partkey", 2L))),
    // ---- Adamic-Adar link prediction on the same graph: top non-
    //      adjacent part pairs by rarity-weighted shared neighbors —
    //      12-dp-quantized wedge weights make the top-k cut exact
    "q220_adamic_adar" -> ((s, dir) =>
      graft.graph.LinkPrediction.adamicAdar(
        graft.graph.LinkPrediction.coOccurrenceEdges(
          Tables.lineitem(s, dir), "l_orderkey", "l_partkey", 2L), 20)),
    // ---- Zipf-law fit: OLS of ln(freq) on ln(rank) over the top-1000
    //      tokens — slope ≈ −1 reads like language; vocabulary-bounded
    //      aggregate + top-N heap cut, exact DECIMAL moments
    "q221_zipf" -> ((s, dir) =>
      graft.text.CorpusStats.zipfFit(Tables.documents(s, dir), "text", 1000)),
    // ---- isotonic (PAV) calibration of the LOO target-encoded score:
    //      the monotone repair of q209's reliability table — bounded bin
    //      aggregate, driver PAV finisher (sequential by nature)
    "q222_isotonic" -> ((s, dir) => {
      val scored = graft.ml.Encoding.targetEncodeLoo(
        Tables.events(s, dir)
          .withColumn("cat", concat_ws("_", col("event_type"),
            (dayofweek(col("ts")) - 1).cast("string"))),
        "cat", col("value") > 50)
      graft.ml.Isotonic.calibrate(scored, col("target_enc"), col("value") > 50)
    }),
    // ---- HITS authorities on the bipartite user→event_type graph:
    //      engagement-quality ranking (spec-gated fixpoint, no oracle)
    "q247_hits" -> ((s, dir) =>
      graft.graph.Hits.authorities(
        // each user's TOP-2 event types by count (ties by name): the raw
        // bipartite graph is near-complete (every user touches every
        // type), which collapses HITS to the uniform vector — a
        // per-user rank cut is scale-invariant where an absolute count
        // threshold saturates again at 10× the data
        Tables.events(s, dir)
          .groupBy(col("user_id"), col("event_type"))
          .agg(count(lit(1)).as("__n"))
          .withColumn("__r", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("user_id"))
              .orderBy(col("__n").desc, col("event_type"))))
          .filter(col("__r") <= 2),
        "user_id", "event_type")),
    // ---- two-sample Cramér-von Mises (whole-CDF companion to q212 KS):
    //      exact cross-multiplied integer CDF gaps, squared and summed
    "q248_cvm_test" -> ((s, dir) =>
      graft.analyze.RobustStats.cvmTest(
        Tables.events(s, dir), "value",
        pmod(col("event_id"), lit(2)) === 0)),
    // ---- modularity of the near-dup graph under the SOURCE partition:
    //      do near-duplicates stay inside one source?
    "q249_modularity" -> ((s, dir) =>
      graft.graph.Modularity.attributePartition(
        graft.dedup.Dedup.ngramJaccardPairs(
          Tables.documents(s, dir), "doc_id", "text", 3, 0.9),
        "id_a", "id_b",
        Tables.documents(s, dir), "doc_id", "source")),
    // ---- Gumbel fit to daily peak values per type (method of moments):
    //      exact integer block maxima, 30-day return level
    "q250_gumbel" -> ((s, dir) =>
      graft.analyze.Extremes.gumbelFit(
        Tables.events(s, dir), "event_type", "ts", "value")),
    // ---- per-label centroid silhouette over the embedding corpus:
    //      O(n·k·d) simplified form, exact integer distances
    "q243_silhouette" -> ((s, dir) =>
      graft.sim.ClusterEval.centroidSilhouette(
        Tables.embeddings(s, dir)
          .repartition(s.sparkContext.defaultParallelism),
        "vec_id", "embedding", "label")),
    // ---- adjusted Rand index between the lang and source partitions:
    //      pair-counting agreement corrected for chance
    "q244_adjusted_rand" -> ((s, dir) =>
      graft.analyze.Contingency.adjustedRand(
        Tables.documents(s, dir), col("lang"), col("source"))),
    // ---- per-node local clustering coefficient of the near-dup graph:
    //      the node-level refinement of q132's global triangle count
    "q245_local_clustering" -> ((s, dir) =>
      graft.graph.Triangles.localClustering(
        graft.dedup.Dedup.ngramJaccardPairs(
          Tables.documents(s, dir), "doc_id", "text", 3, 0.9),
        "id_a", "id_b")),
    // ---- seasonality-strength scan p ∈ [2,14] on daily totals: one-way
    //      ANOVA R² per candidate period — the time-domain periodogram
    "q246_seasonality_scan" -> ((s, dir) =>
      graft.analyze.Trend.seasonalityScan(
        Tables.events(s, dir), "event_type", "ts", "value")),
    // ---- average precision (PR-AUC, step convention): threshold-block
    //      formulation on the distinct-score frame — the imbalanced-
    //      target companion to ROC-AUC
    "q239_avg_precision" -> ((s, dir) =>
      graft.ml.Evaluation.averagePrecision(
        Tables.events(s, dir), col("value") / 100,
        col("event_type") === "purchase")),
    // ---- Kendall tau-b per event type between day and daily total:
    //      pair-counting monotone trend on the T²-bounded days frame
    "q240_kendall_tau" -> ((s, dir) =>
      graft.analyze.RankStats.kendallTau(
        Tables.events(s, dir), "event_type", "ts", "value")),
    // ---- per-segment Welch z + Benjamini-Hochberg FDR step-up: the
    //      multiple-testing guard over the segment fan-out
    "q241_bh_fdr" -> ((s, dir) =>
      graft.analyze.Multiplicity.welchByGroupBH(
        Tables.events(s, dir), "event_type", "user_id", "value")),
    // ---- Theil T inequality of document lengths per source: the
    //      decomposable concentration measure next to q172's Gini
    "q242_theil" -> ((s, dir) =>
      graft.analyze.Concentration.theilIndex(
        Tables.documents(s, dir), "source", "n_chars")),
    // ---- 2-D skyline (Pareto frontier) of orders maximizing
    //      (totalprice, recency): staircase on the distinct-x frame,
    //      no quadratic dominance join anywhere
    "q238_skyline" -> ((s, dir) =>
      graft.operators.Skyline.skyline2dMax(
        Tables.orders(s, dir),
        col("o_totalprice"),
        unix_micros(col("o_orderdate")).cast("double") / 1e6,
        Seq("o_orderkey" -> col("o_orderkey")))),
    // ---- Simpson concentration per source (repeat-draw probability and
    //      effective vocabulary): exact integer c(c−1) sums
    "q237_simpson" -> ((s, dir) =>
      graft.text.CorpusStats.simpsonIndex(
        Tables.documents(s, dir), "source", "text")),
    // ---- sketch-based audience set ops: pairwise HLL union +
    //      inclusion-exclusion intersection between event-type user
    //      sets — the mergeable-sketch sibling of q217's exact overlap,
    //      on the PORTABLE md5 register family (q414 discipline) so the
    //      estimates themselves are DuckDB-oracled (the Datasketches
    //      `hll_union` path stays the library fast path)
    "q235_hll_overlap" -> ((s, dir) =>
      graft.operators.Sketches.hllPortableOverlap(
          Tables.events(s, dir), "event_type", "user_id")
        .withColumnRenamed("key_a", "type_a")
        .withColumnRenamed("key_b", "type_b")),
    // ---- half-life time-decayed popularity per event type (h = 7 days,
    //      anchored at the corpus max ts): per-event decay terms 6-dp
    //      quantized, exact long sum — trending-score semantics
    "q236_decay_popularity" -> ((s, dir) =>
      graft.analyze.Growth.decayedPopularity(
        Tables.events(s, dir), "event_type", "ts", 7.0)),
    // ---- exact 1-D Wasserstein-1 between the md5 user halves' value
    //      distributions: gap-weighted integer CDF differences on the
    //      distinct-value frame — the "how far did mass move" drift
    "q234_wasserstein" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val arm = pmod(conv(substring(md5(col("user_id").cast("string")), 1, 8),
        16, 10).cast("long"), lit(2)) === 0
      graft.analyze.Drift.wasserstein1(ev.where(arm), ev.where(!arm), "value")
    }),
    // ---- MMR diversity re-rank of the top-30 pool nearest the label-0
    //      centroid: distributed scoring + pool cut, driver greedy over
    //      the bounded pool (spec-verified; rows-only here)
    "q233_mmr" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      // PINNED centroid (1e-9 grid): a plain float avg is
      // partition-order-dependent; exact integer component sums with one
      // rounded division give the identical vector on any engine
      val centroid = emb.where(col("label") === 0)
        .select(posexplode(col("embedding").cast("array<double>"))
          .as(Seq("dim", "x")))
        .groupBy(col("dim"))
        .agg(round(sum(round(col("x") * lit(1e9)).cast("long")
            .cast("decimal(38,0)")).cast("double") /
          count(lit(1))).cast("long").as("m9"))
        .orderBy(col("dim")).collect().map(_.getLong(1) / 1e9)
      graft.sim.Mmr.rerank(emb, "vec_id", "embedding", centroid, 30, 10)
    }),
    // ---- one-sided CUSUM mean-shift monitor (Page 1954) on daily value
    //      sums — recursion eliminated via the Kadane prefix-sum
    //      identity: two window passes, exact integer arithmetic
    "q232_cusum" -> ((s, dir) =>
      graft.analyze.Changepoint.cusum(
        Tables.events(s, dir), "event_type", "ts", "value")),
    // ---- conditional next-event entropy of the q127 transition chain:
    //      per-state H(next|s) + the chain-level one-number summary —
    //      |types|-bounded after the lag window
    "q229_markov_entropy" -> ((s, dir) =>
      graft.analyze.Funnel.transitionEntropy(Tables.events(s, dir),
        "user_id", "event_type", "ts", "event_id", 1800L)),
    // ---- vocabulary richness: Chao1 unseen-species estimate and the
    //      Good-Turing novel-token mass from the count-of-counts frame
    "q230_vocab_richness" -> ((s, dir) =>
      graft.text.CorpusStats.vocabRichness(Tables.documents(s, dir), "text")),
    // ---- daily-count dispersion index per event type: Poisson ≈ 1,
    //      bursty ≫ 1, synthetic-regular ≪ 1 — exact integer moments
    "q231_dispersion" -> ((s, dir) =>
      graft.analyze.Trend.dispersionIndex(
        Tables.events(s, dir), "event_type", "ts")),
    // ---- per-source mojibake/encoding-damage scan: length-delta
    //      artifact count, one scan, group-bounded aggregate
    "q228_mojibake" -> ((s, dir) =>
      graft.text.UnicodeNorm.mojibakeReport(
        Tables.documents(s, dir), "source", "text")),
    // ---- greedy k-center coreset (Gonzalez farthest-point traversal):
    //      16 diversity-maximizing exemplars over the embedding corpus —
    //      one broadcast center + one (max, argmax) aggregate per round;
    //      sequential by nature, spec-verified (rows-only here)
    "q227_kcenter" -> ((s, dir) =>
      graft.sim.KCenter.greedy(
        Tables.embeddings(s, dir), "vec_id", "embedding", 16)),
    // ---- cross-doc substring duplication (Lee et al. span-level
    //      boilerplate): 100-char md5 window fingerprints at stride 50,
    //      digest-only shuffle, per-source dup-mass report
    "q226_substring_dup" -> ((s, dir) =>
      graft.dedup.SubstringDedup.perSourceReport(
        Tables.documents(s, dir), "doc_id", "source", "text", 20, 4)),
    // ---- MAXIMAL duplicated spans (Lee et al. removal unit): EXACT
    //      20-token window fingerprints (no anchor sampling), dup filter
    //      at >=2 docs, per-doc island coalescing into token ranges —
    //      the span-extraction sibling of q226's anchored mass estimate
    "q415_dup_spans" -> ((s, dir) =>
      graft.dedup.SubstringDedup.duplicatedSpans(
        Tables.documents(s, dir), "doc_id", "text", 20)),
    // ---- the REMOVAL pass over q415's spans: duplicated windows cut
    //      from every doc except the fingerprint's min-doc owner (one
    //      occurrence survives deterministically), cleaned text rebuilt
    //      on the shared whitespace-normal grid
    "q416_dedup_spans_apply" -> ((s, dir) =>
      graft.dedup.SubstringDedup.removeDuplicatedSpans(
        Tables.documents(s, dir), "doc_id", "text", 20)),
    // ---- pairwise source token-profile cosine: the angular sibling of
    //      q87's TV distance — vocab-bounded counts joined on the token
    //      key, exact DECIMAL dots/norms
    "q223_source_cosine" -> ((s, dir) =>
      graft.text.CorpusStats.sourceCosine(
        Tables.documents(s, dir), "source", "text")),
    // ---- association rules over user event-type baskets: confidence
    //      and lift from exact supports (both directions of each pair)
    "q224_assoc_rules" -> ((s, dir) =>
      graft.analyze.Itemsets.associationRules(
        Tables.events(s, dir), "user_id", "event_type", 2L)),
    // ---- information gain of event_type and day-of-week on the
    //      value>50 label: model-free feature ranking via exact-count
    //      x·ln x identities
    "q225_infogain" -> ((s, dir) =>
      graft.analyze.Contingency.infoGain(
        Tables.events(s, dir), col("value") > 50, Seq(
          "event_type" -> col("event_type"),
          "dow" -> (dayofweek(col("ts")) - 1).cast("string")))),
    // ---- wide→long reshape (inverse of the A6 pivot): unpivot the four
    //      lineitem measures and profile each — a single shuffle-free
    //      projection into a 4-row hash aggregate
    "q147_melt" -> ((s, dir) =>
      graft.operators.Reshape.meltSummary(
        Tables.lineitem(s, dir), Seq.empty,
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))),
    // ---- k-fold cross-validation assignment: portable md5 folds
    //      (the L1/L2 split generalized to k); per-fold balance audit
    "q148_kfold" -> ((s, dir) =>
      graft.analyze.CrossVal.foldReport(
        Tables.documents(s, dir), "doc_id", 5, "n_chars")),
    // ---- dyadic EWMA smoothing: α=1/2 power-of-two weights over the
    //      trailing 11 rows per user — exact integer numerator and
    //      denominator, so the recursive-float portability trap never opens
    "q149_ewma" -> ((s, dir) =>
      graft.analyze.Smoothing.ewmaDyadic(
          Tables.events(s, dir), "user_id", "ts", "event_id", "value")
        .select(col("user_id"), col("event_id"), col("value"), col("ewma"))
        .orderBy(col("user_id"), col("event_id"))),
    // ---- first/last-touch conversion attribution: both ranks from one
    //      user-keyed window pass over pre-conversion touches
    "q150_attribution" -> ((s, dir) =>
      graft.analyze.Attribution.touchReport(
        Tables.events(s, dir), "user_id", "ts", "event_id", "event_type",
        col("event_type") === "purchase")),
    // ---- Flesch readability: vowel-run syllables + terminal-punct
    //      sentences, all regexp projections riding the scan
    "q151_readability" -> ((s, dir) =>
      graft.text.Readability.report(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("doc_id"))),
    // ---- frequent item pairs (2-itemset lattice level, exact): distinct
    //      baskets shuffle once on the user key; the self-join is
    //      per-basket and the rollup is vocabulary-bounded
    "q152_freq_pairs" -> ((s, dir) =>
      graft.analyze.Itemsets.frequentPairs(
        Tables.events(s, dir), "user_id", "event_type", 2L)),
    // ---- entry-path analysis: top opening event-type sequences (depth 3)
    //      — discovers the paths q117's funnel hypothesizes
    "q153_entry_paths" -> ((s, dir) =>
      graft.analyze.Paths.entryPaths(
        Tables.events(s, dir), "user_id", "event_type", "ts", "event_id", 3)),
    // ---- median/MAD robust outliers: exact integer lower-medians under a
    //      pinned total order — no percentile interpolation anywhere
    "q154_mad_outliers" -> ((s, dir) =>
      graft.analyze.RobustStats.madReport(
        Tables.events(s, dir), "event_type", "value", "event_id")),
    // ---- data-quality expectations: five rules, ONE scan, |rules|-row
    //      report exploded from a single aggregate
    "q155_expectations" -> ((s, dir) =>
      graft.analyze.Expectations.report(Tables.events(s, dir), Seq(
        "r1_user_not_null" -> col("user_id").isNotNull,
        "r2_value_range" -> (col("value") >= 0 && col("value") <= 100),
        "r3_type_domain" -> col("event_type").isin(
          "view", "click", "purchase", "signup", "error"),
        "r4_props_has_k" -> get_json_object(col("props"), "$.k").isNotNull,
        "r5_ts_bounds" -> (col("ts") >= lit("2015-01-01").cast("timestamp") &&
          col("ts") < lit("2035-01-01").cast("timestamp"))))),
    // ---- deterministic label-propagation communities over the near-dup
    //      graph: synchronous min-label-of-modal-neighbors rounds —
    //      integer-exact, oracled by an unrolled struct-argmax twin
    "q156_lpa" -> ((s, dir) => {
      val edges = Dedup.ngramJaccardPairs(
        Tables.documents(s, dir), "doc_id", "text", 3, 0.8)
      graft.graph.LabelPropagation.run(edges, "id_a", "id_b", 5)
    }),
    // ---- PrefixSpan sequential patterns at maxLen=2 — the spark.ml
    //      distributed miner pinned against the SQL subsequence count
    "q157_prefixspan" -> ((s, dir) =>
      graft.analyze.Itemsets.prefixSpan(
        Tables.events(s, dir), "user_id", "event_type", "ts", "event_id",
        0.4, 2)),
    // ---- tokenizer-vocab OOV rate per source: total-order top-k vocab
    //      broadcast against the exploded token stream
    "q158_oov_rate" -> ((s, dir) =>
      graft.text.VocabCoverage.oovReport(
        Tables.documents(s, dir), "source", "text", 30)),
    // ---- Heaps-law vocabulary growth over id-range corpus prefixes:
    //      each type contributes only its FIRST bucket (min-aggregate),
    //      cumulative sum on the 10-row axis
    "q159_vocab_growth" -> ((s, dir) =>
      graft.text.VocabCoverage.vocabGrowth(
        Tables.documents(s, dir), "doc_id", "text", 10)),
    // ---- Kaplan-Meier time-to-first-purchase with right-censoring at the
    //      user's last event: pinned ascending-time survival fold
    "q160_kaplan_meier" -> ((s, dir) =>
      graft.analyze.Survival.kaplanMeier(
        Tables.events(s, dir), "user_id", "ts",
        col("event_type") === "purchase")),
    // ---- audience overlap: exact Jaccard between event types' user
    //      SETS (the behavioral sibling of q138's content overlap) — one
    //      distinct (type, user) frame self-joined on the user key,
    //      |types|²-bounded output
    "q217_audience_overlap" -> ((s, dir) => {
      val tu = Tables.events(s, dir)
        .select(col("event_type").as("t"), col("user_id").as("u")).distinct()
      val sizes = tu.groupBy(col("t")).agg(count(lit(1)).as("n"))
      val inter = tu.toDF("ta", "u").join(tu.toDF("tb", "u2"),
          col("u") === col("u2") && col("ta") < col("tb"))
        .groupBy(col("ta"), col("tb")).agg(count(lit(1)).as("both"))
      inter
        .join(sizes.toDF("ta", "na"), "ta")
        .join(sizes.toDF("tb", "nb"), "tb")
        .select(col("ta"), col("tb"), col("both"),
          round(col("both").cast("double") /
            (col("na") + col("nb") - col("both")), 6).as("jaccard"))
        .orderBy(col("ta"), col("tb"))
    }),
    // ---- Cohen's kappa: agreement beyond chance between two binary
    //      judgments (value-rule vs props-rule) — the weak-label check
    "q215_cohens_kappa" -> ((s, dir) =>
      graft.analyze.Contingency.cohensKappa(
        Tables.events(s, dir), col("value") > 50,
        get_json_object(col("props"), "$.k").cast("long") >= 50)),
    // ---- Cohen's d: HOW BIG the arm difference is (q140's Welch t says
    //      how sure) — pooled SD from exact decimal moments
    "q216_cohens_d" -> ((s, dir) =>
      graft.analyze.Experiment.cohensD(
        Tables.events(s, dir), "user_id", "value",
        col("event_type") === "purchase")),
    // ---- Mann-Whitney rank-sum between hash arms: exact doubled-rank
    //      sums on the distinct-value frame, tie-corrected z
    "q213_mann_whitney" -> ((s, dir) =>
      graft.analyze.RankStats.mannWhitney(
        Tables.events(s, dir), "value",
        graft.operators.Sharding.hash32(col("user_id")) % 2 === 0)),
    // ---- Spearman rank correlation (value vs event time): Pearson on
    //      exact doubled average ranks — monotone association, outlier-proof
    "q214_spearman" -> ((s, dir) =>
      graft.analyze.RankStats.spearman(
        Tables.events(s, dir), col("value"),
        unix_seconds(col("ts")).cast("double"))),
    // ---- per-type 5% trimmed mean: exact rank cut, exact core sums —
    //      between the outlier-dragged mean and the info-discarding median
    "q211_trimmed_mean" -> ((s, dir) =>
      graft.analyze.RobustStats.trimmedMean(
        Tables.events(s, dir), "event_type", "value", "event_id", 0.05)),
    // ---- exact two-sample KS: even vs odd event ids — integer
    //      cross-multiplied CDF gaps, no float comparison anywhere
    "q212_ks_test" -> ((s, dir) =>
      graft.analyze.RobustStats.ksTest(
        Tables.events(s, dir), "value",
        pmod(col("event_id"), lit(2)) === 0)),
    // ---- log-rank test between hash arms on time-to-purchase: the
    //      censoring-aware survival comparison (mean time-to-convert
    //      ignores censoring; this can't) — exact life-table counts,
    //      9-dp quantized E/V terms
    "q208_logrank" -> ((s, dir) =>
      graft.analyze.Survival.logRank(
        Tables.events(s, dir), "user_id", "ts",
        col("event_type") === "purchase")),
    // ---- calibration/reliability table + Brier for the LOO-encoded
    //      (type × dow) score: are the probabilities honest?
    "q209_calibration" -> ((s, dir) => {
      val scored = graft.ml.Encoding.targetEncodeLoo(
        Tables.events(s, dir)
          .withColumn("cat", concat_ws("_", col("event_type"),
            (dayofweek(col("ts")) - 1).cast("string"))),
        "cat", col("value") > 50)
      graft.ml.Evaluation.calibrationReport(
        scored, col("target_enc"), col("value") > 50)
    }),
    // ---- decile lift/gains for the same score: how much better than
    //      random is acting on the top slice — range-partitioned deciles
    "q210_lift" -> ((s, dir) => {
      val scored = graft.ml.Encoding.targetEncodeLoo(
        Tables.events(s, dir)
          .withColumn("cat", concat_ws("_", col("event_type"),
            (dayofweek(col("ts")) - 1).cast("string"))),
        "cat", col("value") > 50)
      graft.ml.Evaluation.liftTable(
        scored, "event_id", col("target_enc"), col("value") > 50)
    }),
    // ---- CUPED variance reduction (Deng 2013): pre-period covariate
    //      adjustment with pooled θ — exact decimal moments, adjusted
    //      means by algebra (no second pass), ρ² reduction reported
    "q205_cuped" -> ((s, dir) =>
      graft.analyze.Experiment.cuped(
        Tables.events(s, dir), "user_id", "value",
        col("ts") < lit("2024-01-16").cast("timestamp"),
        col("ts") >= lit("2024-01-16").cast("timestamp"))),
    // ---- two-proportion sample-size calculator from the observed arms
    //      (z quantiles as literals — no engine inverse-normal)
    "q206_power" -> ((s, dir) =>
      graft.analyze.Experiment.requiredSampleSize(
        Tables.events(s, dir), "user_id", col("event_type") === "signup")),
    // ---- difference-in-differences: nets out the group gap AND the
    //      time trend in one exact-sum aggregate
    "q207_did" -> ((s, dir) =>
      graft.analyze.Experiment.diffInDiff(
        Tables.events(s, dir), "user_id", "value",
        col("ts") < lit("2024-01-16").cast("timestamp"),
        col("ts") >= lit("2024-01-16").cast("timestamp"))),
    // ---- partial correlation r_xy·z (the confounder check q30's matrix
    //      can't answer): do clicks and errors co-move beyond volume?
    //      nine exact DECIMAL moments, formulas in double at the end
    "q203_partial_corr" -> ((s, dir) => {
      val per = Tables.events(s, dir).groupBy(col("user_id"))
        .agg(
          sum(when(col("event_type") === "click", 1).otherwise(0))
            .cast("double").as("x"),
          sum(when(col("event_type") === "error", 1).otherwise(0))
            .cast("double").as("y"),
          count(lit(1)).cast("double").as("z"))
      graft.analyze.Contingency.partialCorr(per, col("x"), col("y"), col("z"))
    }),
    // ---- Theil-Sen slope + Mann-Kendall S/z per type: outlier-proof
    //      trend on the days-frame pair lattice (T², frame-bounded)
    "q204_theil_sen" -> ((s, dir) =>
      graft.analyze.Trend.theilSenMannKendall(
        Tables.events(s, dir), "event_type", "ts", "value")),
    // ---- R×C chi-square independence (event mix vs weekday) + Cramér's
    //      V: cross-multiplied form — no expected-count rounding — with
    //      per-cell terms quantized at 9 dp before the sum
    "q201_chisq_independence" -> ((s, dir) =>
      graft.analyze.Contingency.chiSquare(
        Tables.events(s, dir), col("event_type"), dayofweek(col("ts")))),
    // ---- multi-breakpoint changepoints via binary segmentation (Scott &
    //      Knott): recursive single-break on the tiny days-frame, 5%
    //      min-gain stop (rows-only: recursive argmin has no SQL twin)
    "q202_binseg" -> ((s, dir) =>
      graft.analyze.Changepoint.binarySegmentation(
        Tables.events(s, dir), "event_type", "ts", "value",
        maxBreaks = 4, minGain = 0.02)),
    // ---- SCD2 point-in-time reconstruction: asOf(history(S), v) must
    //      equal snapshot v EXACTLY — the oracle rebuilds v2 directly, so
    //      the hash match IS the round-trip proof
    "q199_scd2_asof" -> ((s, dir) => {
      val base = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_mktsegment"))
      val v2 = base.filter(pmod(col("c_custkey"), lit(13)) =!= 0)
        .withColumn("c_acctbal",
          when(pmod(col("c_custkey"), lit(7)) === 0, col("c_acctbal") + 100.0)
            .otherwise(col("c_acctbal")))
      val v3 = v2.withColumn("c_mktsegment",
        when(pmod(col("c_custkey"), lit(5)) === 0, lit("CHANGED"))
          .otherwise(col("c_mktsegment")))
      val hist = graft.analyze.Scd2.history(Seq((1L, base), (2L, v2), (3L, v3)),
        "c_custkey", Seq("c_name", "c_acctbal", "c_mktsegment"))
      graft.analyze.Scd2.asOf(hist, 2L).orderBy(col("c_custkey"))
    }),
    // ---- exact per-day quartile bands (type-1 quantiles at ceil(n·p)
    //      ranks — no interpolation, no engine quantile algorithm):
    //      one rank window per day over the day's rows
    "q200_daily_quartiles" -> ((s, dir) => {
      val q = Tables.events(s, dir).select(
        date_trunc("day", col("ts")).as("day"), col("event_id"),
        round(col("value") * lit(1000000)).cast("long").as("vq"))
      val w = Window.partitionBy(col("day")).orderBy(col("vq"), col("event_id"))
      q.withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(col("day"))))
        .groupBy(col("day"))
        .agg(
          max(col("n")).as("n"),
          (max(when(col("rn") === ceil(col("n") / 4), col("vq")))
            .cast("double") / 1e6).as("q1"),
          (max(when(col("rn") === ceil(col("n") / 2), col("vq")))
            .cast("double") / 1e6).as("q2"),
          (max(when(col("rn") === ceil(col("n") * 3 / 4), col("vq")))
            .cast("double") / 1e6).as("q3"))
        .orderBy(col("day"))
    }),
    // ---- weekly seasonality index: day-of-week mean vs overall mean per
    //      type — exact 6-dp sums, one (type, dow) agg + a broadcast
    //      7×|types| join; dow normalized to 0=Sunday on both engines
    "q198_seasonality" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val vq = round(col("value") * lit(1000000)).cast("long")
      val byDow = ev.groupBy(col("event_type"),
          (dayofweek(col("ts")) - 1).cast("long").as("dow"))
        .agg(sum(vq).as("sq"), count(lit(1)).as("n"))
      val overall = ev.groupBy(col("event_type"))
        .agg(sum(vq).as("tq"), count(lit(1)).as("tn"))
      byDow.join(broadcast(overall), "event_type")
        .select(col("event_type"), col("dow"), col("n"),
          round(col("sq").cast("double") / col("n") /
            (col("tq").cast("double") / col("tn")), 6).as("season_index"))
        .orderBy(col("event_type"), col("dow"))
    }),
    // ---- single-breakpoint changepoint (Page/Hinkley piecewise-constant
    //      least squares): exact integer prefix sums, O(T) candidate scan
    //      on the days-frame, struct-min argmin with earlier-day ties
    "q197_changepoint" -> ((s, dir) =>
      graft.analyze.Changepoint.singleBreak(
        Tables.events(s, dir), "event_type", "ts", "value")),
    // ---- mergeable distinct rollup: per-day register frames UNIONED to
    //      per-type totals — the incremental form of COUNT DISTINCT
    //      (kilobytes of registers cross the day boundary, never keys),
    //      on the PORTABLE md5 HLL family (q414 discipline) so the
    //      rollup's estimates are DuckDB-oracled (the Datasketches
    //      `hll_union_agg` path stays the library fast path)
    "q195_hll_rollup" -> ((s, dir) =>
      graft.operators.Sketches.hllPortableRollup(
          Tables.events(s, dir), "event_type", "ts", "user_id")
        .withColumnRenamed("key", "event_type")
        .withColumnRenamed("approx_distinct", "approx_distinct_users")),
    // ---- dedup provenance export: per kept representative, the sorted
    //      list of discarded duplicate ids — the audit record a deletion
    //      pipeline must ship (which rows died, to whose benefit)
    "q196_dedup_provenance" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val groups = d.select(col("doc_id"),
          TextAnalysis.setFingerprint(col("text")).as("fp"))
        .groupBy(col("fp"))
        .agg(min(col("doc_id")).as("keep_id"),
          sort_array(collect_list(col("doc_id"))).as("all_ids"))
        .filter(size(col("all_ids")) >= 2)
      groups.select(col("keep_id"),
          array_join(slice(col("all_ids"), 2, 1000000), ",").as("dropped_ids"),
          (size(col("all_ids")) - 1).cast("long").as("n_dropped"))
        .orderBy(col("keep_id"))
    }),
    // ---- window-function surface: percent_rank / cume_dist / framed
    //      first+last / defaulted lead under a TOTAL order (q41's sibling
    //      for the ranking-window corner) — sampled output
    "q194_window_surface" -> ((s, dir) => {
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("value"), col("event_id"))
      val wf = w.rowsBetween(-1, 1)
      Tables.events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"),
          round(percent_rank().over(w), 6).as("pct_rank"),
          round(cume_dist().over(w), 6).as("cume"),
          first(col("value")).over(wf).as("prev_val"),
          last(col("value")).over(wf).as("next_val"),
          lead(col("value"), 1, -1.0).over(w).as("lead_or_default"))
        .filter(pmod(col("event_id"), lit(100)) === 0)
        .orderBy(col("event_id"))
    }),
    // ---- retrieval-quality eval (the harness the BM25/ANN family needs
    //      to be tunable): posting-join token-overlap retrieval, MRR /
    //      recall@10 / literal-gain nDCG, per-query metrics quantized
    //      before the cross-query mean
    "q193_retrieval_eval" -> ((s, dir) =>
      graft.text.RetrievalEval.selfRetrievalReport(
        Tables.documents(s, dir), "doc_id", "text", 25, 5, 10)),
    // ---- keyframe selection (shot-boundary detection on the stubbed
    //      frame stream): per-frame aHash, lag-hamming vs the previous
    //      frame, frames differing > τ bits kept; hashes reported as four
    //      16-bit bands (a signed 64-bit literal can't round-trip every
    //      engine's bit arithmetic)
    "q192_keyframes" -> ((s, dir) => {
      val kf = graft.multimodal.Multimodal.keyframes(
        Tables.documents(s, dir), "doc_id", "text", 64, 10)
      kf.select(col("media_id"), col("frame_idx"),
          shiftrightunsigned(col("ahash"), 0).bitwiseAND(lit(0xFFFFL)).as("k0"),
          shiftrightunsigned(col("ahash"), 16).bitwiseAND(lit(0xFFFFL)).as("k1"),
          shiftrightunsigned(col("ahash"), 32).bitwiseAND(lit(0xFFFFL)).as("k2"),
          shiftrightunsigned(col("ahash"), 48).bitwiseAND(lit(0xFFFFL)).as("k3"),
          col("hamming"))
        .orderBy(col("media_id"), col("frame_idx"))
    }),
    // ---- dead-letter routing (the enforcement sibling of q155's
    //      expectations): first-failing-rule reasons, NULL fails, good/bad
    //      are filters of ONE tagged projection
    "q190_dead_letter" -> ((s, dir) =>
      graft.operators.DeadLetter.report(Tables.events(s, dir), Seq(
        "props_k" -> get_json_object(col("props"), "$.k").isNotNull,
        "value_range" -> (col("value") >= 0 && col("value") <= 100),
        "ts_bounds" -> (col("ts") >= lit("2015-01-01").cast("timestamp") &&
          col("ts") < lit("2035-01-01").cast("timestamp"))))),
    // ---- event-time disorder audit: measures the watermark instead of
    //      guessing it — exact integer backsteps, exact p99 rank statistic
    //      over the disordered sliver
    "q191_disorder_audit" -> ((s, dir) =>
      graft.analyze.DisorderAudit.report(
        Tables.events(s, dir), "user_id", "ts", "event_id")),
    // ---- language-mix rebalancing APPLY (the enforcement of q67's
    //      weights): water-filling by the binding group, per-group
    //      portable-hash rank selection — the mix is exact, membership
    //      replays on any engine
    "q187_lang_rebalance" -> ((s, dir) =>
      graft.operators.Rebalance.toTargetMix(
          Tables.documents(s, dir), "lang", "doc_id",
          Map("en" -> 0.4, "de" -> 0.15, "es" -> 0.15, "fr" -> 0.15,
            "zh" -> 0.15))
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))),
    // ---- token-budget corpus trim: greedy by (quality desc, id), running
    //      total via range-partitioned offsets — never a SinglePartition
    //      cumsum wall
    "q188_token_budget" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("quality"),
        TextAnalysis.wsTokenCount(col("text")).cast("long").as("n_tokens"))
      graft.operators.Rebalance.tokenBudgetTrim(
          d, "doc_id", "quality", "n_tokens", 10000L)
        .select(col("doc_id"), col("n_tokens"))
        .orderBy(col("doc_id"))
    }),
    // ---- churn-label engineering: (user, week) frame, lead-based
    //      "silent next week" labels, censoring guard on the horizon week
    "q189_churn_labels" -> ((s, dir) =>
      graft.analyze.ChurnLabels.weekly(
        Tables.events(s, dir), "user_id", "ts")),
    // ---- SQL surface: LATERAL VIEW explode + correlated EXISTS — the
    //      spark.sql front door over the same tables (q41's sibling for
    //      nested/correlated shapes)
    "q184_sql_lateral" -> ((s, dir) =>
      withTempViews(s, "documents_v" -> Tables.documents(s, dir),
          "events_v" -> Tables.events(s, dir))(s.sql("""
        SELECT t.token, count(*) AS n
        FROM documents_v d
        LATERAL VIEW explode(split(lower(trim(d.text)), '\\s+')) t AS token
        WHERE length(t.token) >= 6
          AND EXISTS (SELECT 1 FROM events_v e
                      WHERE e.user_id = d.doc_id % 100 AND e.event_type = 'purchase')
        GROUP BY t.token
        ORDER BY n DESC, t.token
        LIMIT 20"""))),
    // ---- Pareto contribution cut ("which sources cover 80% of the
    //      mass"): exact 6-dp totals, cumulative share on the
    //      |groups|-row frame, boundary group INCLUDED (first group whose
    //      running share reaches the cut)
    "q185_pareto" -> ((s, dir) => {
      val per = Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(sum(round(col("value") * lit(1000000)).cast("long")).as("vq"))
      val w = Window.orderBy(col("vq").desc, col("event_type"))
        .rowsBetween(Long.MinValue, 0)
      val tot = per.agg(sum(col("vq")).as("tq"))
      // cumulative over the groups-frame (5 rows), never the corpus
      per.crossJoin(broadcast(tot))
        .withColumn("cum", sum(col("vq")).over(w))
        .select(col("event_type"),
          (round(col("vq").cast("double") / 10000.0) / 100.0).as("revenue"),
          round(col("cum").cast("double") / col("tq"), 6).as("cum_share"),
          (lag(col("cum"), 1, 0L).over(
            Window.orderBy(col("vq").desc, col("event_type"))).cast("double") /
            col("tq") < 0.8).as("in_top80"))
        .orderBy(col("cum_share"))
    }),
    // ---- SLO burn rate: per-day error share against a 99% objective,
    //      burn = rate/budget, windows burning >1× flagged
    "q186_slo_burn" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("errors"))
        .withColumn("error_rate",
          round(col("errors").cast("double") / col("n"), 6))
        .withColumn("burn_rate",
          round(col("errors").cast("double") / col("n") / lit(0.01), 4))
        .withColumn("burning",
          col("errors").cast("double") / col("n") > 0.01)
        .orderBy(col("day"))),
    // ---- growth accounting: active/new/returning/cumulative users per
    //      day — "new" from each user's FIRST day (min-agg), cumulative
    //      on the days-frame
    "q182_growth_accounting" -> ((s, dir) =>
      graft.analyze.Growth.dailyAccounting(
        Tables.events(s, dir), "user_id", "ts")),
    // ---- RFM quintile segmentation: exact integer bucket arithmetic on
    //      range-partitioned global ranks (never a SinglePartition window,
    //      never ntile) — 125-row census however large the user base
    "q183_rfm" -> ((s, dir) =>
      graft.analyze.Growth.rfmSegments(
        Tables.events(s, dir), "user_id", "ts", "value",
        col("event_type") === "purchase")),
    // ---- personalized PageRank from a pinned seed set: teleport AND
    //      dangling mass return to the seeds — proximity ranking, zeros
    //      off the reachable set; pinned-long walk, unrolled DuckDB twin
    "q180_ppr" -> ((s, dir) => {
      val w = Window.partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))
      val edges = Tables.events(s, dir)
        .withColumn("prev_user", lag(col("user_id"), 1).over(w))
        .filter(col("prev_user").isNotNull && col("prev_user") =!= col("user_id"))
        .select(col("prev_user").as("src"), col("user_id").as("dst"))
      graft.graph.PersonalizedPageRank.run(edges, "src", "dst",
          seeds = Seq(0L, 1L, 2L), iters = 10)
        .select(col("node"), round(col("rank") * 1000, 4).as("rank_x1000"))
        .orderBy(desc("rank_x1000"), col("node")).limit(20)
    }),
    // ---- product quantization (Jégou 2011): m=8 × k=16 codebooks over
    //      the 64-dim embeddings, per-subspace reconstruction MSE —
    //      PINNED integer Lloyd recurrence (1e-6 grid, exact d², one
    //      single-stage treeAggregate job per iteration), so the whole
    //      train+readout is DuckDB-oracled as unrolled SQL; the float
    //      trainer stays the library fast path, spec-gated
    "q181_pq" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      val cb = graft.sim.ProductQuantize.trainPinned(e, "vec_id", "embedding", 8, 16)
      graft.sim.ProductQuantize.msePinnedReport(e, "vec_id", "embedding", cb)
    }),
    // ---- strongly-connected components of the directed user-interaction
    //      graph (q97's edges): Kosaraju local finisher / FW-BW+trim
    //      distributed — min-id component labels (rows-only: fixpoint)
    "q179_scc" -> ((s, dir) => {
      val w = Window.partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))
      val edges = Tables.events(s, dir)
        .withColumn("prev_user", lag(col("user_id"), 1).over(w))
        .filter(col("prev_user").isNotNull && col("prev_user") =!= col("user_id"))
        .select(col("prev_user").as("src"), col("user_id").as("dst"))
      graft.graph.Scc.components(edges, "src", "dst")
        .groupBy(col("component")).agg(count(lit(1)).as("size"))
        .orderBy(desc("size"), col("component")).limit(20)
    }),
    // ---- split conformal intervals (Vovk 2005): exact integer rank
    //      selection of q̂ (|v·n − Σv| ranks like |v − mean| without the
    //      float mean), coverage re-measured on the held-out half
    "q178_conformal" -> ((s, dir) =>
      graft.ml.Conformal.splitConformal(
        Tables.events(s, dir), "event_type", "event_id", "value", 0.9)),
    // ---- leave-one-out target encoding (Micci-Barrecca 2001): exact
    //      integer sums, LOO as algebra not a loop, broadcast stats
    "q175_target_encode" -> ((s, dir) =>
      graft.ml.Encoding.targetEncodeLoo(
          Tables.events(s, dir), "event_type", col("value") > 50)
        .select(col("event_id"), col("event_type"), col("target_enc"))
        .orderBy(col("event_id"))),
    // ---- k-anonymity audit (Sweeney 2002): equivalence classes of the
    //      (type, day, value-band) quasi-identifier tuple — one hash agg
    //      + 1-row rollup; band from integer division of the quantized
    //      value, no float boundary
    "q176_k_anonymity" -> ((s, dir) =>
      graft.analyze.Privacy.kAnonymityReport(Tables.events(s, dir), Seq(
        col("event_type"), date_trunc("day", col("ts")),
        expr("cast(round(value * 1000000) as bigint) div 100000000")), 5L)),
    // ---- temporal train/test split audit: rank cut on the (ts, tie)
    //      total order, leakage invariant RE-DERIVED from the data
    "q177_temporal_split" -> ((s, dir) =>
      graft.analyze.TemporalSplit.auditReport(
        Tables.events(s, dir), "ts", "event_id", 0.8)),
    // ---- TextRank keywords (Mihalcea 2004): PageRank over the adjacent-
    //      token co-occurrence graph — q97's engine composed with the text
    //      layer; dense vocab ids keep node keys numeric. Pinned-long
    //      walk → oracled by the token-keyed unrolled twin
    "q174_textrank" -> ((s, dir) => {
      val tok = Tables.documents(s, dir)
        .select(col("doc_id"), posexplode(graft.text.TextAnalysis.tokens(col("text")))
          .as(Seq("pos", "token")))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val pairs = tok
        .withColumn("prev", lag(col("token"), 1).over(w))
        .filter(col("prev").isNotNull && col("prev") =!= col("token"))
      // deterministic dense ids; the vocab frame is small by construction
      val vocab = tok.select(col("token")).distinct()
        .withColumn("id", row_number().over(Window.orderBy(col("token"))).cast("long"))
      val edges = pairs
        .join(vocab.select(col("token").as("prev"), col("id").as("src")), "prev")
        .join(vocab.select(col("token"), col("id").as("dst")), "token")
        .select(col("src"), col("dst"))
      graft.graph.PageRank.run(edges, "src", "dst", iters = 10)
        .join(vocab.withColumnRenamed("id", "node"), "node")
        .select(col("token"), round(col("rank") * 1000, 4).as("rank_x1000"))
        .orderBy(desc("rank_x1000"), col("token")).limit(20)
    }),
    // ---- Benford first-digit conformance: digit from the DECIMAL STRING
    //      of the quantized value (log-free — a log10 ulp can flip digits
    //      at power-of-ten boundaries), expectations as literals
    "q171_benford" -> ((s, dir) =>
      graft.analyze.Concentration.benfordReport(
        Tables.events(s, dir), "value")),
    // ---- per-group Gini concentration: exact rank formulation over
    //      quantized longs, (value, tie) total order pins the tie
    //      convention, DECIMAL rank-product sums
    "q172_gini" -> ((s, dir) =>
      graft.analyze.Concentration.gini(
        Tables.events(s, dir), "event_type", "value", "event_id")),
    // ---- per-day session stats (composition: q44's sessionize feeding a
    //      rollup): session counts, bounce rate, exact mean duration
    "q173_session_stats" -> ((s, dir) => {
      val sess = Temporal.sessionize(Tables.events(s, dir), "user_id", "ts", 1800L)
      sess.groupBy(col("user_id"), col("session_id"))
        .agg(min(col("ts")).as("st"), max(col("ts")).as("en"),
          count(lit(1)).as("n"))
        .groupBy(date_trunc("day", col("st")).as("day"))
        .agg(
          count(lit(1)).as("n_sessions"),
          round(sum(when(col("n") === 1, 1L).otherwise(0L)).cast("double") /
            count(lit(1)), 4).as("bounce_rate"),
          round(sum(unix_micros(col("en")) - unix_micros(col("st")))
            .cast("double") / count(lit(1)) / 1e6, 2).as("mean_duration_sec"))
        .orderBy(col("day"))
    }),
    // ---- per-group OLS trend lines: exact DECIMAL moment sums over
    //      centered integer seconds, closed form in double at the end
    "q167_trend_lines" -> ((s, dir) =>
      graft.analyze.Trend.trendLines(
        Tables.events(s, dir), "event_type", "ts", "value")),
    // ---- cohort LTV curve: Monday-week cohorts, integer week indices,
    //      exact revenue sums cumulated on the cohorts×weeks frame
    "q168_cohort_ltv" -> ((s, dir) =>
      graft.analyze.Cohort.ltvCurve(
          Tables.events(s, dir), "user_id", "ts", "value",
          col("event_type") === "purchase")
        .withColumn("cohort_week", col("cohort_week").cast("date"))),
    // ---- lag-1 autocorrelation of daily totals: corpus folds to
    //      (group, day) once; lags and exact moments on the small frame
    "q169_autocorr" -> ((s, dir) =>
      graft.analyze.Trend.lagAutocorr(
        Tables.events(s, dir), "event_type", "ts", "value")),
    // ---- join-size estimate WITHOUT the join: multiplicity histograms
    //      meet on the key; Σ ca·cb is the exact inner cardinality
    "q170_join_size" -> ((s, dir) =>
      graft.operators.JoinStats.innerJoinSize(
        Tables.lineitem(s, dir), Tables.orders(s, dir),
        "l_orderkey", "o_orderkey")),
    // ---- streaming data-quality monitor: the q155 expectations as a
    //      tumbling-window wide report under genuine streaming execution
    "q162_stream_expectations" -> ((s, dir) => {
      val path = s"${dir.stripSuffix("/")}/events.parquet"
      val schema = ParquetReader.read(s, path).schema
      graft.streaming.StreamingOps.runToMemory(s, src =>
          graft.analyze.Expectations.windowedWide(
            Tables.normalizeTs(src, "ts"), "ts", "1 day", Seq(
              "value_range" -> (col("value") >= 0 && col("value") <= 100),
              "type_domain" -> col("event_type").isin(
                "view", "click", "purchase", "signup", "error"))),
          dir.stripSuffix("/"), "events.parquet", schema)
        .orderBy(col("window_start"))
    }),
    // ---- interval-overlap join WITHOUT a cartesian: bucketized equi-join
    //      + first-bucket exactly-once rule; user daily activity spans ×
    //      ±30 min error windows
    "q163_interval_overlap" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val act = ev.groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
        .agg(expr("unix_micros(min(ts)) div 1000000").as("a_start"),
          expr("unix_micros(max(ts)) div 1000000").as("a_end"))
      val err = ev.filter(col("event_type") === "error")
        .select(col("event_id"),
          (expr("unix_micros(ts) div 1000000") - 1800L).as("b_start"),
          (expr("unix_micros(ts) div 1000000") + 1800L).as("b_end"))
      graft.operators.IntervalJoin.overlapJoin(
          act, err, "a_start", "a_end", "b_start", "b_end", 3600L)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_overlaps"))
        .orderBy(col("user_id"))
    }),
    // ---- incremental aggregate maintenance: merge(partials(S),
    //      partials(Δ)) — the oracle recomputes from the full history, so
    //      the hash match IS the mergeability proof
    "q164_incremental_agg" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val state = graft.operators.IncrementalAgg.partials(
        ev.filter(pmod(col("event_id"), lit(3)) =!= 0), "event_type", "value")
      val delta = graft.operators.IncrementalAgg.partials(
        ev.filter(pmod(col("event_id"), lit(3)) === 0), "event_type", "value")
      graft.operators.IncrementalAgg.render(
        graft.operators.IncrementalAgg.merge(state, delta))
    }),
    // ---- Matryoshka truncation report: cosine structure surviving
    //      prefix dims 4/8/16, native sequential-fold cosines, exact
    //      9-dp-quantized deviation sums
    "q165_matryoshka" -> ((s, dir) =>
      graft.sim.Matryoshka.truncationReport(
        Tables.embeddings(s, dir), "vec_id", "embedding", Seq(4, 8, 16))),
    // ---- count-min point estimates for the event-type probe set — the
    //      PORTABLE md5 row-hash family (q24/q25/q26 discipline), so the
    //      full hash→bucket-count→min-over-rows pipeline is DuckDB-
    //      oracled; the native count_min_sketch fast path stays the
    //      library default, spec-gated on the one-sided ε·N guarantee
    "q166_cms_estimates" -> ((s, dir) =>
      graft.operators.Sketches.cmsEstimatesPortable(
        Tables.events(s, dir), "event_type",
        Seq("view", "click", "purchase", "signup", "error"))),
    // ---- L4 sibling: gradient-boosted-tree importance over the windowed
    //      features, sufficient-statistics weighted fit (rows-only)
    "q161_gbt_importance" -> ((s, dir) => {
      val feats = windowedFeatures(s, dir)
      val cols = Seq("n_click", "n_error", "n_purchase", "n_signup", "n_view")
      // pinned-stump boosting (PinnedGbt): deterministic recurrence with
      // an unrolled SQL twin — the oracle-exact sibling of Models.fitGbt
      // (which stays spec-covered for the spark.ml surface)
      graft.ml.PinnedGbt.importanceReport(feats, cols, "label")
    }),
    // ---- A1/A2 pricing summary (sum/avg/count aggregate, filter pushdown)
    "q01_pricing_agg" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity"), 2).as("sum_qty"),
          dsum(col("l_extendedprice"), 2).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 2).as("sum_disc_price"),
          davg(col("l_quantity"), 4).as("avg_qty"),
          davg(col("l_extendedprice"), 4).as("avg_price"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),
    // ---- P7/P9 filter + project (pushed to parquet scan)
    "q02_filter_project" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .filter(col("l_quantity") >= 45 && col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_extendedprice"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),
    // ---- J: fact-to-dim joins (nation broadcast) + grouped agg
    "q03_join_agg" -> ((s, dir) => {
      Tables.orders(s, dir)
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(dsum(col("o_totalprice"), 2).as("revenue"),
             count(lit(1)).as("n_orders"))
        .orderBy(col("n_name"))
    }),
    // ---- W3 top-k (TakeOrderedAndProject)
    "q04_topk" -> ((s, dir) => {
      Tables.orders(s, dir)
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
        .select(col("o_orderkey"), col("o_totalprice"))
    }),
    // ---- A5 distinct + sort
    "q05_distinct_sort" -> ((s, dir) =>
      EventMatrix.distinctEvents(Tables.events(s, dir), "event_type")),
    // ---- A1/A4 count-by-key + positive filter (flagship E3 shape)
    "q06_event_counts" -> ((s, dir) =>
      EventMatrix.failureDistribution(Tables.events(s, dir), "event_type")),
    // ---- W1 row_number window (partitioned, ranked top-3 per user)
    "q07_window_rownum" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("user_id"), col("event_id"), col("rn"))
        .orderBy(col("user_id"), col("rn"))
    }),
    // ---- W2 count-based tumbling window (scalable global row index)
    "q08_tumbling_window" -> ((s, dir) => {
      Positional.tumbling(
          Tables.events(s, dir).select(col("event_id"), col("value")),
          Seq(col("event_id")), 5)
        .groupBy(col("window_id"))
        .agg(dsum(col("value"), 4).as("sum_value"),
             max(col("value")).as("max_value"),
             count(lit(1)).as("n"))
        .orderBy(col("window_id"))
    }),
    // ---- A6 one-hot/count pivot (wide event matrix view)
    "q09_pivot" -> ((s, dir) => {
      EventMatrix.pivotWide(Tables.events(s, dir), "user_id", "event_type",
          Seq("click", "error", "purchase", "signup", "view"))
        .orderBy(col("user_id"))
    }),
    // ---- P6/P10/P12 extract + try_cast + label remap
    "q10_extract_cast" -> ((s, dir) => {
      Tables.events(s, dir)
        .select(
          col("event_id"),
          expr("try_cast(regexp_extract(props, '\"k\": (\\\\d+)', 1) as bigint)").as("k"),
          when(col("value") > 50, lit(1)).otherwise(lit(0)).as("big"))
        .orderBy(col("event_id"))
    }),
    // ---- P1-P4 preprocessing chain (regex clean) on the document corpus
    "q11_clean_text" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), LogLines.clean(col("text")).as("clean_text"))
        .orderBy(col("doc_id"))
    }),
    // ---- A8 correlation + dispersion stats per group. Computed from
    //      EXACT integer moment sums over cent-scaled longs (not the
    //      native corr/stddev aggregates, whose double accumulation is
    //      partition-order-sensitive, and not decimal sums, whose >18
    //      precision pays Spark's BigDecimal path per row): the values
    //      are 2 dp money/quantity, so round(x*100) longs are exact, the
    //      price-squared sum splits div/mod 1e6 to stay inside long
    //      range, and every closing double op is mirrored TEXTUALLY in
    //      the oracle SQL — identical integer-to-double conversions and
    //      IEEE ops give bit-identical results on both engines.
    "q12_corr" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .select(col("l_returnflag"),
          round(col("l_quantity") * 100).cast("long").as("q2"),
          round(col("l_extendedprice") * 100).cast("long").as("p2"))
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("q2")).as("sq2"),
          sum(col("p2")).as("sp2"),
          sum(col("q2") * col("p2")).as("sqp4"),
          sum(col("q2") * col("q2")).as("sqq4"),
          sum(expr("(p2 * p2) div 1000000")).as("spp_hi"),
          sum(expr("(p2 * p2) % 1000000")).as("spp_lo"))
        .select(
          col("l_returnflag"), col("n"),
          (col("sq2").cast("double") / 100.0).as("sq"),
          (col("sp2").cast("double") / 100.0).as("sp"),
          (col("sqp4").cast("double") / 10000.0).as("sqp"),
          (col("sqq4").cast("double") / 10000.0).as("sqq"),
          ((col("spp_hi").cast("double") * 1000000.0 + col("spp_lo").cast("double"))
            / 10000.0).as("spp"))
        .select(
          col("l_returnflag"),
          round((col("n") * col("sqp") - col("sq") * col("sp")) /
            (sqrt(col("n") * col("sqq") - col("sq") * col("sq")) *
             sqrt(col("n") * col("spp") - col("sp") * col("sp"))), 4).as("corr_qty_price"),
          round(sqrt((col("n") * col("sqq") - col("sq") * col("sq")) /
            (col("n") * (col("n") - lit(1.0)))), 4).as("sd_qty"),
          col("n"))
        .orderBy(col("l_returnflag"))
    }),
    // ---- J3 union-all of disjoint slices
    "q13_union" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      o.filter(col("o_totalprice") > 450000)
        .select(col("o_orderkey"), lit("high").as("bucket"))
        .unionAll(
          o.filter(col("o_totalprice") < 20000)
            .select(col("o_orderkey"), lit("low").as("bucket")))
        .orderBy(col("o_orderkey"))
    }),
    // ---- J anti join: customers with no high-value order
    "q14_anti_join" -> ((s, dir) => {
      val bigOrders = Tables.orders(s, dir).filter(col("o_totalprice") > 450000)
      Tables.customer(s, dir)
        .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),
    // ---- W4/J multi-join + agg + top-k by computed measure (TPC-H Q3 shape)
    "q15_top_revenue" -> ((s, dir) => {
      Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
        .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"))
        .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
        .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .groupBy(col("o_orderkey"))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    }),
    // ---- M1 parallel template mining over the document corpus
    //      (order-sensitive custom operator — rows-only check, no SQL oracle)
    "q16_mine_templates" -> ((s, dir) => {
      TemplateMining.mineParallel(Tables.documents(s, dir), "text")
        .toDF("event_id", "size", "template")
        .orderBy(col("size").desc, col("template"))
    }),
    // ---- M1 parallel + M4 restore + J1 broadcast match + A1 counts (E2
    //      pipeline, SCALE path: per-partition trees + log-depth merge —
    //      the only collect is the mined TEMPLATE TABLE, which is bounded
    //      by cluster count, never corpus-sized. The reference-faithful
    //      sequential mode (mineExact) stays golden-spec-only.)
    "q17_match_counts" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val templates = TemplateMining.mineParallel(docs, "text").collect().toSeq
      val tree = TemplateMining.treeFromTemplates(templates)
      TemplateMining.matchLines(docs.select(col("doc_id"), col("text")), "text", tree)
        .groupBy(col("eventId"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("eventId"))
    }),
    // ---- J1 as a DETERMINISTIC equi-join on a precomputed eventId key
    //      (SURVEY §2.4's promised oracle shape): digit-token masking as
    //      the template key, dense ids by template order, broadcast
    //      equi-join + counts — order-independent, fully DuckDB-oracled
    //      (the similarity-clustered Drain q16/q17 stay golden-tested)
    "q17b_match_counts_exact" -> ((s, dir) =>
      TemplateMining.exactMatchCounts(Tables.documents(s, dir), "text")),
    // ---- dedup: exact canonical groups (hash-shuffle on digest)
    "q18_dedup_exact" -> ((s, dir) =>
      Dedup.exactGroups(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("fp"))),
    // ---- dedup: exact token-set Jaccard pairs (inverted-index blocking)
    "q19_token_jaccard" -> ((s, dir) =>
      Dedup.tokenJaccardPairs(Tables.documents(s, dir), "doc_id", "text", 0.95)
        .orderBy(col("id_a"), col("id_b"))),
    // ---- exact 3-gram shingle Jaccard pairs: substring-aware near-dup
    //      (reordered docs share token sets but not shingle sets) — same
    //      prefix-filtered AllPairs/PPJoin plan, shingle vocabulary
    "q59_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(Tables.documents(s, dir), "doc_id", "text", 3, 0.8)
        .orderBy(col("id_a"), col("id_b"))),
    // ---- near-dup CLUSTERS: connected components of the shingle-Jaccard
    //      graph (alternating star contraction over representatives) —
    //      the keep-one-per-cluster contract pair-wise dropping can't give
    "q60_neardup_clusters" -> ((s, dir) =>
      Dedup.ngramJaccardComponents(Tables.documents(s, dir), "doc_id", "text", 3, 0.8)
        .orderBy(col("doc_id"))),
    // ---- keyed range join: per-event trailing-window context (same-user
    //      events in the preceding hour) via the binned (key, bin)
    //      equi-join — no per-key quadratic blow-up, AQE-splittable
    "q61_range_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      RangeJoin.trailingAgg(ev, ev, "user_id", "ts", "event_id", "value", 3600L)
        .select(col("event_id"), col("user_id"), col("n_window"),
          col("dsum_window").as("sum_window"))
        .orderBy(col("event_id"))
    }),
    // ---- heavy hitters: Misra-Gries candidate sketch (bounded state,
    //      partial-merge) + exact broadcast rescan — tokens with corpus
    //      frequency > n/32. The sketch never shuffles the vocabulary;
    //      the rescan makes the answer exact, not approximate.
    "q62_heavy_hitters" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
      // candidate guarantee: true freq > n/64 => present in MG(63) state;
      // the final n/32 threshold is strictly inside that bound
      val cands = toks
        .agg(call_function(graft.functions.MisraGries.Name, col("tok"), lit(63)).as("hh"))
        .select(explode(col("hh")).as("c")).select(col("c.item").as("tok"))
      val total = toks.agg(count(lit(1)).as("n_total"))
      toks.join(broadcast(cands), "tok")
        .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
        .join(broadcast(total))
        .filter(col("cnt") > col("n_total") / 32)
        .select(col("tok"), col("cnt"))
        .orderBy(col("cnt").desc, col("tok"))
    }),
    // ---- near-dup dedup APPLICATION: keep the best member (longest,
    //      then smallest id) of every shingle-Jaccard component — the
    //      apply form of q60's find form; max_by aggregate, no window
    "q68_neardup_apply" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val comp = Dedup.ngramJaccardComponents(docs, "doc_id", "text", 3, 0.8)
      // persisted: both the per-component max and the final keep-flag join
      // consume this frame — unpersisted, the whole component pipeline
      // (Jaccard join + star contraction) runs twice. One (id, component,
      // n_chars) row per doc.
      val sized = comp.join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val best = sized.groupBy(col("component"))
        .agg(max(struct(col("n_chars"), (-col("doc_id")).as("neg_id"))).as("b"))
        .select(col("component"), (-col("b.neg_id")).cast("long").as("best_doc"))
      sized.join(best, "component")
        .select(col("doc_id"), col("component"), col("n_chars"),
          (col("doc_id") === col("best_doc")).cast("long").as("keep"))
        .orderBy(col("doc_id"))
    }),
    // ---- domain mixing: per-source equal-token-budget weights applied
    //      as a DETERMINISTIC Bernoulli sample (md5-keyed, reproducible
    //      on any engine); weights broadcast, corpus never shuffles
    "q67_mix_weights" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          size(split(lower(trim(col("text"))), "\\s+")).cast("long").as("toks"))
      val w = graft.operators.Mixture.budgetWeights(d, "source", "toks")
      val keptStats = graft.operators.Mixture
        .sampleToBudget(d, "source", "toks", "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("kept_docs"), sum(col("toks")).as("kept_tokens"))
      w.join(d.groupBy(col("source")).agg(count(lit(1)).as("n_docs")), "source")
        .join(keptStats, Seq("source"), "left_outer")
        .select(col("source"), col("n_docs"), col("group_size").as("n_tokens"),
          coalesce(col("kept_docs"), lit(0L)).as("kept_docs"),
          coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
          round(col("weight"), 4).as("weight"))
        .orderBy(col("source"))
    }),
    // ---- per-class embedding centroids + mean norm: the embedding-space
    //      summary per domain/label (mixture design, IVF seeding). DECIMAL
    //      component sums — order-invariant at any core count
    "q66_embed_centroid" -> ((s, dir) =>
      // single-row-group testdata: spread the posexplode across cores
      Similarity.classCentroids(
          Tables.embeddings(s, dir).repartition(s.sparkContext.defaultParallelism),
          "label", "embedding")
        .select(col("label"), col("dim").cast("long").as("dim"),
          col("n_vecs"), col("centroid"), col("avg_norm"))
        .orderBy(col("label"), col("dim"))),
    // ---- benchmark contamination: corpus docs containing a probe set's
    //      n-grams (probe-directional containment). Probe shingles are
    //      BROADCAST — the corpus scans once and never shuffles on text
    "q65_contamination" -> ((s, dir) => {
      // testdata parquet is a single row group → a 1-task scan would
      // serialize the shingle explode; production inputs arrive pre-split
      val docs = Tables.documents(s, dir)
        .repartition(s.sparkContext.defaultParallelism)
      graft.text.Contamination.ngramContainment(
          docs, docs.filter(col("doc_id") % 7 === 0), "doc_id", "text", 2, 0.3)
        .orderBy(col("doc_id"), col("probe_id"))
    }),
    // ---- deterministic training-export sharding: portable md5-derived
    //      shard ids (any engine recomputes the identical assignment) +
    //      per-shard manifest — count, bytes, key range
    "q64_shard_export" -> ((s, dir) =>
      graft.operators.Sharding.manifest(
          Tables.documents(s, dir), "doc_id", "text", 16)
        .orderBy(col("shard"))),
    // ---- repetition / boilerplate quality stats (Gopher-rules family):
    //      per-doc type-token ratio + top 1/2-gram mass as a shuffle-free
    //      higher-order-function projection — no explode, no groupBy
    "q63_rep_filter" -> ((s, dir) =>
      graft.text.Repetition.tokenStats(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("doc_id"))),
    // ---- end-to-end curation v2: per-source quality quantile cut →
    //      repetition ceiling → chunk-level dedup gate → pack survivors
    //      into 2048-token sequences. ONE corpus scan: every per-doc
    //      signal (quality, repetition fractions, chunk digests) is
    //      computed in a single staged projection; the persisted working
    //      set carries digests and scalars, never raw text. Remaining
    //      shuffles: quality window (source), chunk-digest rollup, the
    //      packing prefix sum — every stage mirrored in the oracle SQL
    "q77_curate_pack" -> ((s, dir) => {
      // widen the narrow scan BEFORE the per-doc scoring: the heavy
      // projection (quality + rep-stats + chunk hashing) otherwise runs
      // on the single-row-group scan's 3 partitions — and the packer's
      // repartitionByRange boundary sampling executes it an extra time
      val docs = graft.operators.Spread.widen(
        Tables.documents(s, dir), col("doc_id"))
      val perDoc = docs.select(col("doc_id"), col("source"),
          TextAnalysis.qualityScore(col("text")).as("quality"),
          call_function(graft.functions.RepStats.Name,
            split(lower(trim(col("text"))), "\\s+")).as("st"),
          transform(graft.dedup.ChunkDedup.chunks(col("text"), 8),
            c => md5(c)).as("hs"))
        .select(col("doc_id"), col("source"), col("quality"),
          col("st").getField("n_tokens").as("n_tokens"),
          round(col("st").getField("top_token").cast("double") /
            col("st").getField("n_tokens"), 4).as("top_token_frac"),
          col("hs"))
        // EAGER checkpoint, not a lazy persist: the quantile and dup
        // branches launch concurrent jobs, and under a lazy persist each
        // raced its own full evaluation of the heavy text projection
        // before the cache filled (profile showed the RepStats/md5 CPU
        // four times; 2.0 s → 1.4 s at sf0.1 from materializing once)
        .localCheckpoint(true)
      // keep-decisions as COLUMNS, not branch joins: the quantile keep is
      // a window over the persisted frame (one source-hash shuffle) and
      // the repetition keep is a free predicate — only the chunk-dup
      // stats, which genuinely need the global digest aggregation, join.
      // This removes two doc_id join shuffles from the r5 three-branch
      // form, and survivors needs no persist of its own: packSequential
      // consumes it exactly once (its range-sorted frame is pinned
      // internally), and the final `source` lookup joins the pack output
      // back to the persisted perDoc instead.
      val qb = graft.analyze.QuantileCut
        .buckets(perDoc, "source", "quality", "doc_id", 5, 1)
      val dupKeep = graft.dedup.ChunkDedup
        .docDupStatsOfChunkHashes(
          perDoc.select(col("doc_id"), explode(col("hs")).as("h")),
          "doc_id", "h", 0.3)
        .filter(col("keep") === 1L).select(col("doc_id"))
      val survivors = qb.filter(col("keep") === 1L && col("top_token_frac") <= 0.2)
        .select(col("doc_id"), col("n_tokens"))
        .join(dupKeep, "doc_id")
      graft.operators.Packing
        .packSequential(survivors, "doc_id", "n_tokens", 2048L)
        .join(perDoc.select(col("doc_id"), col("source")), "doc_id")
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("seq_id"), col("seq_offset"))
        .orderBy(col("doc_id"))
    }),
    // ---- C4-style heuristic filter stats: terminal punctuation,
    //      sentence/word shape, alpha fraction, boilerplate markers —
    //      zero-shuffle codegen projection
    "q78_c4_stats" -> ((s, dir) =>
      graft.text.HeuristicFilters.stats(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("doc_id"))),
    // ---- char-trigram LM quality score (CCNet-shaped perplexity proxy):
    //      corpus-trained conditional trigram model, per-doc DECIMAL mean
    "q79_lm_score" -> ((s, dir) =>
      graft.text.NgramLm.score(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("doc_id"))),
    // ---- deterministic epoch shuffle: portable md5 order, distributed
    //      row-index assignment (range shuffle, no single-task window)
    "q80_epoch_shuffle" -> ((s, dir) =>
      graft.operators.TrainOrder.epochShuffle(
          Tables.documents(s, dir).select(col("doc_id")), "doc_id", epoch = 1)
        .orderBy(col("doc_id"))),
    // ---- deterministic per-group reservoir: k rows per source by
    //      ascending portable hash — engine-independent sample selection
    "q81_group_sample" -> ((s, dir) =>
      graft.operators.TrainOrder.samplePerGroup(
          Tables.documents(s, dir).select(col("doc_id"), col("source")),
          "source", "doc_id", k = 50)
        .select(col("doc_id"), col("source"), col("smp_rank"))
        .orderBy(col("source"), col("smp_rank"))),
    // ---- int8 embedding quantization report: per-dim symmetric scale +
    //      DECIMAL-exact mean reconstruction error
    "q82_quant_error" -> ((s, dir) =>
      graft.sim.Quantize.quantError(Tables.embeddings(s, dir), "embedding")
        .orderBy(col("dim"))),
    // ---- contrastive hard-negative mining: top-k nearest other-label
    //      vectors per anchor (broadcast anchors, codegen'd cosine)
    "q83_hard_negatives" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      graft.sim.Similarity.hardNegatives(
          emb.filter(col("vec_id") >= 5), "vec_id", "embedding", "label",
          emb.filter(col("vec_id") < 5), "vec_id", "embedding", "label", 5)
        .select(col("qid"), col("id"), col("lbl"),
          round(col("sim"), 4).as("sim"), col("rn"))
        .orderBy(col("qid"), col("rn"))
    }),
    // ---- corpus duplicated-n-gram mass (Lee et al. dedup diagnostic):
    //      one exploded shingle aggregate with map-side combine — the
    //      shuffle carries per-partition-distinct shingles, never text
    "q85_dup_ngrams" -> ((s, dir) =>
      graft.text.CorpusStats.dupNgramStats(
        Tables.documents(s, dir)
          .repartition(s.sparkContext.defaultParallelism), "text", 5)),
    // ---- length-bucketed batching: per-bucket sequence via the range-
    //      shuffled distributed row index (no per-bucket single-task
    //      window), batch padding waste vs the batch max
    "q86_length_buckets" -> ((s, dir) =>
      graft.operators.Batching.lengthBucketBatches(
          Tables.documents(s, dir), "doc_id",
          size(split(lower(trim(col("text"))), "\\s+")), 16L, 32L)
        .orderBy(col("doc_id"))),
    // ---- per-source unigram total-variation drift vs the corpus:
    //      EXACT decimal integer arithmetic, one float division at the
    //      end — bit-stable at any partitioning (the q44 lesson)
    "q87_source_divergence" -> ((s, dir) =>
      graft.text.CorpusStats.sourceTvDivergence(
          Tables.documents(s, dir)
            .repartition(s.sparkContext.defaultParallelism), "source", "text")
        .orderBy(col("source"))),
    // ---- salted skew join: the hot fact key is diversified over 8 salts,
    //      the dim side replicated 8× — semantically invisible (oracle =
    //      the plain join), structurally the reducer-overflow fix when
    //      broadcast is off and AQE can't split (aggregation pipelines)
    "q88_salted_join" -> ((s, dir) =>
      graft.operators.Skew.saltedJoin(
          Tables.events(s, dir), Tables.customer(s, dir),
          "user_id", "c_custkey", nSalts = 8)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value"), 4).as("sum_value"))
        .orderBy(col("c_mktsegment"))),
    // ---- sorted-neighborhood edit-distance near-dup (SIGMOD '95): one
    //      range shuffle for the sort-key row index, O(n·w) candidates via
    //      an integer-offset self-join, Levenshtein verifier on a bounded
    //      prefix — character-level near-dup the set-similarity joins miss
    "q89_sorted_neighbors" -> ((s, dir) =>
      graft.dedup.SortedNeighborhood.editDistancePairs(
          Tables.documents(s, dir), "doc_id",
          substring(lower(trim(col("text"))), 1, 24),
          substring(lower(trim(col("text"))), 1, 120),
          window = 3, maxDist = 25)
        .withColumn("dist", col("dist").cast("long"))
        .orderBy(col("id_a"), col("id_b"))),
    // ---- Unicode NFC normalization (native graft_nfc codegen expression):
    //      combining sequences are composed to canonical form so encoding
    //      variance never reads as document distinctness. The dirty input
    //      is CONSTRUCTED deterministically in both engines (a → a+U+0301)
    //      so the oracle genuinely exercises composition, not a no-op.
    "q90_unicode_norm" -> ((s, dir) => {
      val dirty = regexp_replace(col("text"), "a", "á")
      Tables.documents(s, dir).select(
        col("doc_id"),
        length(dirty).as("len_dirty"),
        length(graft.text.UnicodeNorm.nfc(dirty)).as("len_norm"),
        md5(graft.text.UnicodeNorm.nfc(dirty).cast("binary")).as("norm_md5"))
        .orderBy(col("doc_id"))
    }),
    // ---- ranking-window family over the event stream (lag/lead deltas,
    //      percent_rank, cume_dist) — per-key feature engineering; one
    //      key shuffle serves all four window functions
    "q91_event_deltas" -> ((s, dir) => {
      val wt = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val wv = Window.partitionBy(col("user_id")).orderBy(col("value"), col("event_id"))
      Tables.events(s, dir).select(
          col("user_id"), col("event_id"),
          (unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(wt))).as("prev_gap_us"),
          lead(col("event_id"), 1).over(wt).as("next_event_id"),
          round(percent_rank().over(wv), 4).as("pr_value"),
          round(cume_dist().over(wv), 4).as("cd_value"))
        .orderBy(col("user_id"), col("event_id"))
    }),
    // ---- GROUPING SETS via the SQL surface: the explicit-sets sibling of
    //      ROLLUP (q46) / CUBE (q57), grouping() flags disambiguate the
    //      all-null super-aggregate rows
    "q92_grouping_sets" -> ((s, dir) =>
      withTempViews(s, "events" -> Tables.events(s, dir))(s.sql("""WITH e AS (
                 SELECT event_type, user_id % 7 AS user_bucket, value FROM events)
               SELECT event_type, user_bucket,
                      CAST(grouping(event_type) AS BIGINT) AS g_type,
                      CAST(grouping(user_bucket) AS BIGINT) AS g_bucket,
                      count(*) AS n,
                      CAST(round((CAST(sum(CAST(round((value) * 1000000) AS BIGINT) div 1000000000) AS DOUBLE) * 1000000000.0 + CAST(sum(CAST(round((value) * 1000000) AS BIGINT) % 1000000000) AS DOUBLE)) / 100.0) / 10000.0 AS DOUBLE) AS sum_value
               FROM e GROUP BY GROUPING SETS ((event_type), (user_bucket), ())
               ORDER BY g_type, g_bucket,
                        event_type ASC NULLS FIRST, user_bucket ASC NULLS FIRST"""))),
    // ---- per-group winsorization: exact [p05, p95] percentile clamp —
    //      outlier treatment that keeps the row (dropping would bias the
    //      sample); cut table is the only aggregation, clamp is scan-speed
    "q93_winsorize" -> ((s, dir) =>
      graft.analyze.QuantileCut.winsorize(
          Tables.events(s, dir).select(col("event_id"), col("event_type"), col("value")),
          "event_type", "value", 0.05, 0.95)
        .select(col("event_id"), col("event_type"),
          round(col("value_w"), 4).as("value_w"))
        .orderBy(col("event_id"))),
    // ---- incremental exact dedup: anti-join the "new batch" (doc_id %
    //      5 == 0) against the existing corpus' digest index, then dedup
    //      within the batch — the production shape (a new crawl never
    //      re-deduplicates the corpus; only digests shuffle)
    "q94_incremental_dedup" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.incrementalExact(
          docs.filter(pmod(col("doc_id"), lit(5)) === 0),
          docs.filter(pmod(col("doc_id"), lit(5)) =!= 0),
          "doc_id", "text")
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }),
    // ---- stream-static enrichment: each micro-batch broadcast-joins the
    //      bounded dimension table — stateless ingest enrichment; the
    //      oracle is the plain batch join (streaming must change nothing)
    "q95_stream_enrich" -> ((s, dir) => {
      val path = s"${dir.stripSuffix("/")}/events.parquet"
      val schema = ParquetReader.read(s, path).schema
      graft.streaming.StreamingOps.runToMemory(s, src => {
          val dim = Tables.customer(src.sparkSession, dir)
            .select(col("c_custkey"), col("c_mktsegment"))
          graft.streaming.StreamingOps.enrichStream(src, dim, "user_id", "c_custkey")
            .select(col("event_id"), col("user_id"), col("c_mktsegment"))
        }, dir.stripSuffix("/"), "events.parquet", schema, outputMode = "append")
        .orderBy(col("event_id"))
    }),
    // ---- per-key ordered sequence assembly (conversation building):
    //      array_sort over the collected (ts, id, payload) structs pins
    //      the order under any partitioning; one key shuffle
    "q96_seq_assembly" -> ((s, dir) =>
      Temporal.assembleSequences(
          Tables.events(s, dir), "user_id",
          Seq(col("ts"), col("event_id")), col("event_type"))
        .orderBy(col("user_id"))),
    // ---- per-document character entropy (Shannon): the language-free
    //      quality signal — near-zero = padding, very high = base64/binary;
    //      two-phase (doc, char) agg, log2 only ever sees exact integers
    "q106_char_entropy" -> ((s, dir) =>
      graft.text.CorpusStats.docCharEntropy(
          Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("doc_id"))),
    // ---- hopping TIME windows (size 10 min, slide 5 min): each event
    //      lands in exactly size/slide = 2 epoch-aligned windows — the
    //      sliding-time sibling of tumbling (q08), session (q53) and
    //      count-sliding windows; one hash shuffle on the window start
    "q107_hopping_window" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "10 minutes", "5 minutes"))
        .agg(count(lit(1)).as("n"), dsum(col("value"), 4).as("sum_value"))
        .select(col("window.start").as("window_start"), col("n"), col("sum_value"))
        .orderBy(col("window_start"))),
    // ---- 5-way star join (TPC-H Q5 shape): every dimension broadcasts,
    //      the fact table never shuffles for the joins — Catalyst picks
    //      the order; one final hash shuffle for the group-by
    "q111_star_join" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(Tables.nation(s, dir), col("c_nationkey") === col("n_nationkey"))
        .join(Tables.region(s, dir), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA")
        .groupBy(col("n_name"))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 2).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("n_name"))),
    // ---- overlap-coefficient (containment) near-dup pairs: the
    //      subset-duplicate case Jaccard misses (short doc quoted inside
    //      a long one). Asymmetric prefix filter: only the smaller side
    //      probes, full postings index, bounded-merge verification
    "q112_containment_pairs" -> ((s, dir) =>
      Dedup.ngramContainmentPairs(Tables.documents(s, dir), "doc_id", "text", 3, 0.9)
        .orderBy(col("id_a"), col("id_b"))),
    // ---- corpus snapshot diff: v2 built deterministically (drop %13,
    //      edit %11, add %17 under new ids); digests-only full-outer
    //      join classifies every id added/removed/changed/unchanged
    "q113_corpus_diff" -> ((s, dir) => {
      val v1 = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val v2 = v1.filter(pmod(col("doc_id"), lit(13)) =!= 0)
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(11)) === 0,
            concat(col("text"), lit(" [v2 edit]"))).otherwise(col("text")).as("text"))
        .unionAll(v1.filter(pmod(col("doc_id"), lit(17)) === 0)
          .select((col("doc_id") + 1000000).as("doc_id"),
            concat(lit("new: "), col("text")).as("text")))
      graft.analyze.SnapshotDiff.diff(v1, v2, "doc_id", "text")
        .select(col("id").as("doc_id"), col("status"))
        .orderBy(col("doc_id"))
    }),
    // ---- n-gram novelty vs a reference corpus (inverse contamination):
    //      fraction of each doc's distinct 3-grams unseen in the
    //      reference — reference shingles broadcast, corpus scans once
    "q114_novelty" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .repartition(s.sparkContext.defaultParallelism)
      graft.text.Contamination.ngramNovelty(
          docs, docs.filter(pmod(col("doc_id"), lit(7)) === 0), "doc_id", "text", 3)
        .orderBy(col("doc_id"))
    }),
    // ---- sentence-level exact dedup (C4/CCNet sub-document pass): keep
    //      the first occurrence of every sentence corpus-wide; digest-
    //      keyed shuffle (never sentence text), per-doc dup stats
    "q115_sentence_dedup" -> ((s, dir) =>
      graft.dedup.SentenceDedup.sentenceStats(
          Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("doc_id"))),
    // ---- BM25 lexical retrieval: top-10 corpus docs per probe query
    //      (first 8 tokens of every %97 doc); postings built in one scan,
    //      query terms + idf broadcast, DECIMAL order-invariant sums
    "q116_bm25" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val queries = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
        .select(col("doc_id"),
          concat_ws(" ", slice(TextAnalysis.tokens(col("text")), 1, 8)).as("qtext"))
      graft.text.Bm25.topK(docs, "doc_id", "text", queries, "doc_id", "qtext", 10)
        .orderBy(col("qid"), col("doc_id"))
    }),
    // ---- ordered event funnel: users completing view -> click ->
    //      purchase with each step strictly after the previous step's
    //      first completion; per-step frames carry (user, ts) only
    "q117_funnel" -> ((s, dir) =>
      graft.analyze.Funnel.funnel(Tables.events(s, dir),
          "user_id", "event_type", "ts", Seq("view", "click", "purchase"))
        .orderBy(col("step_idx"))),
    // ---- weekly cohort retention: cohort = week of first event
    //      (portable days-div-7 weeks), activity grid is a distinct over
    //      the scan, cohort join shares the user hash partitioning
    "q118_retention" -> ((s, dir) =>
      graft.analyze.Funnel.weeklyRetention(Tables.events(s, dir),
          "user_id", "ts", "2024-01-01")
        .orderBy(col("cohort_week"), col("offset_weeks"))),
    // ---- PMI collocations among the top-60 df vocabulary (min support
    //      20 docs, top-40 pairs): vocab + counts broadcast, pair space
    //      bounded by V^2 regardless of corpus size
    "q119_pmi" -> ((s, dir) =>
      graft.text.Cooccurrence.pmiPairs(
        Tables.documents(s, dir), "doc_id", "text", 60, 20L, 40)),
    // ---- phrase-blocklist filter (C4 badwords pass): phrases = first
    //      bigram + third token of every %89 doc, broadcast; corpus
    //      explodes only the n-gram lengths the list contains
    "q120_blocklist" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val probe = docs.filter(pmod(col("doc_id"), lit(89)) === 0)
        .select(TextAnalysis.tokens(col("text")).as("__t"))
      val phrases = probe.select(concat_ws(" ", slice(col("__t"), 1, 2)).as("phrase"))
        .unionAll(probe.select(element_at(col("__t"), 3).as("phrase")))
        .filter(col("phrase").isNotNull && col("phrase") =!= "")
      graft.text.Blocklist.phraseHits(docs, "doc_id", "text", phrases)
        .orderBy(col("doc_id"))
    }),
    // ---- SCD2 dimension history from three deterministic customer
    //      snapshots (v2 bumps acctbal %7 and drops %13; v3 rewrites
    //      mktsegment %5): one key-hash shuffle, both windows reuse it
    "q121_scd2" -> ((s, dir) => {
      val base = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_mktsegment"))
      val v2 = base.filter(pmod(col("c_custkey"), lit(13)) =!= 0)
        .withColumn("c_acctbal",
          when(pmod(col("c_custkey"), lit(7)) === 0, col("c_acctbal") + 100.0)
            .otherwise(col("c_acctbal")))
      val v3 = v2.withColumn("c_mktsegment",
        when(pmod(col("c_custkey"), lit(5)) === 0, lit("CHANGED"))
          .otherwise(col("c_mktsegment")))
      graft.analyze.Scd2.history(Seq((1L, base), (2L, v2), (3L, v3)),
          "c_custkey", Seq("c_name", "c_acctbal", "c_mktsegment"))
        .orderBy(col("c_custkey"), col("valid_from"))
    }),
    // ---- per-user rolling 1-hour window (RANGE INTERVAL frame): the
    //      trailing per-row window no tumbling bucket expresses; one
    //      user-hash shuffle, two-pointer frame walk inside WindowExec
    "q122_rolling_window" -> ((s, dir) =>
      graft.operators.Temporal.rollingAgg(
          Tables.events(s, dir).select(col("event_id"), col("user_id"),
            col("ts"), col("value")),
          "user_id", "ts", "value", 3600L)
        .select(col("event_id"), col("n_window"), col("sum_window"))
        .orderBy(col("event_id"))),
    // ---- CDC changelog apply: deterministic op stream over customer
    //      (deletes %9, updates %4, late re-inserts %17 at higher
    //      versions) folded by a max-struct last-writer-wins aggregate
    "q123_cdc_apply" -> ((s, dir) => {
      val base = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      val changes = base.filter(pmod(col("c_custkey"), lit(9)) === 0)
        .select(col("c_custkey"), lit(1L).as("version"), lit("delete").as("op"),
          col("c_name"), col("c_acctbal"))
        .unionByName(base.filter(pmod(col("c_custkey"), lit(4)) === 0)
          .select(col("c_custkey"), lit(2L).as("version"), lit("update").as("op"),
            col("c_name"), (col("c_acctbal") + 50.0).as("c_acctbal")))
        .unionByName(base.filter(pmod(col("c_custkey"), lit(17)) === 0)
          .select(col("c_custkey"), lit(3L).as("version"), lit("insert").as("op"),
            col("c_name"), lit(0.0).as("c_acctbal")))
      graft.operators.Cdc.apply(base, changes, "c_custkey", "version", "op")
        .orderBy(col("c_custkey"))
    }),
    // ---- per-source trigram diversity (type-token ratio): exact
    //      two-stage distinct count — the shuffle carries one row per
    //      DISTINCT (source, gram), never per occurrence
    "q125_diversity" -> ((s, dir) =>
      graft.text.CorpusStats.ngramDiversity(
          Tables.documents(s, dir), "source", "text", 3)
        .orderBy(col("source"))),
    // ---- funnel time-to-convert: exact p50/p90 seconds from first
    //      view to strict-chained purchase, one duration per converted
    //      user reaches the percentile aggregate
    "q126_time_to_convert" -> ((s, dir) =>
      graft.analyze.Funnel.timeToConvert(Tables.events(s, dir),
        "user_id", "event_type", "ts", Seq("view", "click", "purchase"))),
    // ---- first-order Markov transitions between event types (gap <=
    //      30 min): one user-hash lag window, map-side-combined pair
    //      counts — the matrix is |types|^2 regardless of corpus size
    "q127_transitions" -> ((s, dir) =>
      graft.analyze.Funnel.transitionMatrix(Tables.events(s, dir),
          "user_id", "event_type", "ts", "event_id", 1800L)
        .orderBy(col("from_type"), col("to_type"))),
    // ---- CCNet-style perplexity BAND curation: per-source tertiles of
    //      the trigram-LM score, keep the middle band (head = templated
    //      boilerplate, tail = garbage), per-source kept stats
    "q128_ppl_band" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val scored = graft.text.NgramLm.score(docs, "doc_id", "text")
        .filter(col("lm_score").isNotNull)
        .join(docs.select(col("doc_id"), col("source")), "doc_id")
      graft.analyze.QuantileCut
        .buckets(scored, "source", "lm_score", "doc_id", 3, 0)
        .filter(col("bucket") === 2)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"),
          round(avg(col("lm_score").cast("decimal(18,6)")), 6)
            .cast("double").as("mean_score"))
        .orderBy(col("source"))
    }),
    // ---- DPO preference-pair construction: best/worst quality doc per
    //      source via one min/max-struct hash aggregate (no window),
    //      deterministic all-ties contract
    "q129_preference_pairs" -> ((s, dir) => {
      val scored = Tables.documents(s, dir).select(col("doc_id"), col("source"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
      graft.analyze.Preference.pairs(scored, "source", "doc_id", "quality")
        .orderBy(col("source"))
    }),
    // ---- time-series gap fill: hourly buckets per user, last value
    //      forward-filled across empty buckets; per-key spine, never a
    //      global calendar cross join
    "q130_gap_fill" -> ((s, dir) =>
      graft.operators.Temporal.gapFill(
          Tables.events(s, dir).filter(col("user_id") <= 30),
          "user_id", "ts", "event_id", "value", 3600L)
        // bucket exported as epoch SECONDS: a portable integer on any
        // engine (timestamp rendering is not part of the contract)
        .select(col("user_id"), unix_seconds(col("bucket")).as("bucket_s"),
          round(col("value"), 4).as("value"), col("observed"))
        .orderBy(col("user_id"), col("bucket_s"))),
    // ---- field-level survivorship (MDM golden record): three stamped
    //      sources with disjoint deterministic null patterns; per-field
    //      latest-non-null through one conditional max-struct aggregate
    "q131_survivorship" -> ((s, dir) => {
      val base = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_mktsegment"))
      val s1 = base.select(col("c_custkey"),
        when(pmod(col("c_custkey"), lit(3)) === 0, col("c_name")).as("c_name"),
        col("c_acctbal"), col("c_mktsegment"))
      val s2 = base.filter(pmod(col("c_custkey"), lit(2)) === 0)
        .select(col("c_custkey"), col("c_name"),
          lit(null).cast("double").as("c_acctbal"),
          concat(col("c_mktsegment"), lit("_V2")).as("c_mktsegment"))
      val s3 = base.filter(pmod(col("c_custkey"), lit(5)) === 0)
        .select(col("c_custkey"), lit(null).cast("string").as("c_name"),
          (col("c_acctbal") + 7.0).as("c_acctbal"),
          lit(null).cast("string").as("c_mktsegment"))
      graft.operators.Cdc.goldenRecord(
          Seq((1L, s1), (2L, s2), (3L, s3)), "c_custkey",
          Seq("c_name", "c_acctbal", "c_mktsegment"))
        .orderBy(col("c_custkey"))
    }),
    // ---- triangle count on the >=0.9 n-gram Jaccard graph (clique
    //      density of near-dup clusters): canonical-orientation wedge
    //      closure, id-pair shuffles only
    "q132_triangles" -> ((s, dir) => {
      val edges = Dedup.ngramJaccardPairs(
        Tables.documents(s, dir), "doc_id", "text", 3, 0.9)
      graft.graph.Triangles.count(edges, "id_a", "id_b")
    }),
    // ---- per-source dataset card: volume, token mass, quality mean/p50,
    //      exact-dup rate, dominant language — one corpus scan, per-source
    //      rollups, broadcast joins
    "q133_dataset_card" -> ((s, dir) =>
      graft.analyze.DatasetCard.perSource(
          Tables.documents(s, dir), "source", "lang", "text")
        .orderBy(col("source"))),
    // ---- 2-core of the near-dup graph: keep only nodes on a CYCLE of
    //      similarity evidence (exact-dup groups expand to cliques and
    //      survive; fragile transitive chains peel away) — the
    //      precision-first dedup-review filter. Iterative peel: not
    //      SQL-expressible (non-monotone fixpoint), spec-verified against
    //      a brute reference instead of an oracle.
    // ---- A/B experiment readout: portable-hash variant assignment,
    //      exact-moment Welch t on the per-user purchase value, Pearson
    //      chi-square on signup conversion — the decision layer downstream
    //      of the funnel/retention family. One user-keyed aggregate is the
    //      only corpus-sized shuffle; the rest is a 2-row rollup.
    "q140_ab_test" -> ((s, dir) =>
      graft.analyze.Experiment.abReport(
        Tables.events(s, dir), "user_id", "value",
        col("event_type") === "purchase", col("event_type") === "signup")),
    // ---- time-bounded funnel (windowFunnel): the q117 chain with a
    //      24h completion deadline anchored at the user's first step-1
    //      event — same per-step min-aggregate shape, the deadline rides
    //      the per-user frame
    "q141_window_funnel" -> ((s, dir) =>
      graft.analyze.Funnel.windowFunnel(
          Tables.events(s, dir), "user_id", "event_type", "ts",
          Seq("view", "click", "purchase"), windowSeconds = 86400L)
        .orderBy(col("step_idx"))),
    // ---- embedding-space drift between two snapshot halves (vec_id
    //      parity — constructed identically in both engines): per-dim
    //      exact centroid means, deltas, and the quantized-sum cosine
    //      between the centroid vectors — the vector sibling of PSI (q109)
    //      and token TV drift (q87)
    "q142_embed_drift" -> ((s, dir) => {
      // single-row-group testdata: spread the posexplode across cores
      val e = Tables.embeddings(s, dir)
        .repartition(s.sparkContext.defaultParallelism)
      graft.analyze.Drift.embeddingDrift(
          e.filter(pmod(col("vec_id"), lit(2)) === 0),
          e.filter(pmod(col("vec_id"), lit(2)) === 1), "embedding")
        .orderBy(col("dim"))
    }),
    // ---- per-type equi-width histogram of the value column: pure-integer
    //      bin assignment over 6-dp quantized longs (no float boundary
    //      flips), one broadcast [min,max] frame + one (type, bin) hash agg
    "q143_histogram" -> ((s, dir) =>
      graft.analyze.Profile.equiWidthHistogram(
          Tables.events(s, dir), "value", 20, Seq("event_type"))
        .select(col("event_type"), col("bin"), col("n"), col("bin_lo"),
          col("bin_hi"))
        .orderBy(col("event_type"), col("bin"))),
    // ---- per-source quantile normalization of the q21 quality score onto
    //      the global score distribution: integer-rank mapping (no float
    //      quantile interpolation), range-shuffled global index, one idx
    //      equi-join — cross-source score calibration before a global cut
    "q144_quantile_norm" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("source"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
      graft.analyze.QuantileCut.quantileNormalize(
          d, "source", "quality", "doc_id", "quality_norm")
        .select(col("doc_id"), col("source"), col("quality"),
          col("quality_norm"))
        .orderBy(col("doc_id"))
    }),
    // ---- perceptual-hash media near-dup: byte-resampled 8x8 average hash
    //      (integer thresholding — the codec swaps in under the same
    //      plumbing), 4-band/16-bit LSH join exact for hamming <= 3;
    //      payloads reduce to 8-byte hashes in the scan and never shuffle
    "q145_phash_neardup" -> ((s, dir) => {
      // planted near-dups (constructed identically in both engines):
      // every 5th doc re-appears with its MIDDLE character replaced —
      // position ⌊len/2⌋ is always a sampled aHash cell (i=32), so the
      // variant is a genuine small-hamming neighbor, the re-encode/
      // re-crawl artifact the perceptual pass exists to catch
      val d = Tables.documents(s, dir)
      val tweaked = d.filter(pmod(col("doc_id"), lit(5)) === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"),
          expr("concat(substring(text, 1, length(text) div 2), 'z', " +
            "substring(text, length(text) div 2 + 2))").as("text"))
      val media = graft.multimodal.Multimodal.ingestFromDocuments(
        d.select(col("doc_id"), col("text")).unionAll(tweaked),
        "doc_id", "text")
      graft.multimodal.Multimodal.nearDupPairs(media, "media_id", 3)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
        .orderBy(col("id_a"), col("id_b"))
    }),
    // ---- z-order (Morton) curve values via the native graft_zvalue
    //      expression — the 2-dim layout key behind writeZOrdered's
    //      file-pruning layout (StorageLayoutSpec proves the pruning;
    //      this query pins the curve itself against DuckDB bit arithmetic)
    "q146_zorder" -> ((s, dir) => {
      Tables.orders(s, dir)
        .select(col("o_orderkey"), (col("o_custkey") % 65536L).as("x"),
          (col("o_orderkey") % 65536L).as("y"))
        .withColumn("z", call_function(graft.functions.ZValue.Name,
          col("x").cast("long"), col("y").cast("long")))
        .orderBy(col("z"), col("o_orderkey")).limit(100)
        .select(col("o_orderkey"), col("x"), col("y"), col("z"))
    }),
    "q139_kcore" -> ((s, dir) => {
      val edges = Dedup.ngramJaccardPairs(
        Tables.documents(s, dir), "doc_id", "text", 3, 0.8)
      graft.graph.KCore.core(edges, "id_a", "id_b", 2)
        .orderBy(col("id"))
    }),
    // ---- cross-source content overlap: exact-dup digest jaccard between
    //      every source pair — the corpus-composition / provenance audit;
    //      the corpus shuffles once as (source, digest), pairs are
    //      |sources|²-bounded. A partial 'mirror' source (every 7th doc,
    //      constructed identically in both engines) plants the re-crawl
    //      the audit exists to catch — the natural sources share nothing.
    "q138_source_overlap" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("source"), col("text"),
        col("doc_id"))
      val mirrored = d.filter(pmod(col("doc_id"), lit(7)) === 0)
        .select(lit("mirror").as("source"), col("text"), col("doc_id"))
      graft.dedup.SourceOverlap.overlapMatrix(
          d.unionByName(mirrored), "source", "text")
        .orderBy(col("source_a"), col("source_b"))
    }),
    // ---- join-key skew report: group-size statistics for a prospective
    //      shuffle key (the diagnosis q88's salted join is the cure for) —
    //      one key-hash aggregate, everything else on the per-key frame
    "q137_skew_report" -> ((s, dir) =>
      graft.operators.Skew.keyReport(Tables.events(s, dir), "user_id")),
    // ---- rolling z-score anomaly detection: each event judged against
    //      its key's OWN trailing-6h baseline (exclusive of itself);
    //      DECIMAL power sums make the variance engine-portable
    "q136_rolling_anomaly" -> ((s, dir) =>
      graft.operators.Temporal.rollingZscoreAnomalies(
          Tables.events(s, dir), "user_id", "ts", "value",
          windowSeconds = 21600L, zThreshold = 3.0)
        .orderBy(col("user_id"), col("ts_us"), col("value"))),
    // ---- fuzzy record linkage (native graft_jaro_winkler codegen
    //      expression): a dirty roster with deterministic mid-string
    //      transposition typos (constructed identically in both engines)
    //      is re-linked to the clean records by sorted-neighborhood
    //      blocking + Jaro-Winkler scoring — the MDM name matcher edit
    //      distance (q89) complements with prefix-weighted similarity
    "q134_record_linkage" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val rec = substring(lower(trim(col("text"))), 1, 40)
      val clean = d.select(col("doc_id").cast("long").as("rid"), rec.as("name"))
      val dirty = d.filter(pmod(col("doc_id"), lit(2)) === 0)
        .select((col("doc_id") + 10000000L).as("rid"),
          concat(substring(rec, 1, 24), substring(rec, 26, 1),
            substring(rec, 25, 1), substring(rec, 27, 40)).as("name"))
      graft.dedup.SortedNeighborhood.jaroWinklerPairs(
          clean.unionAll(dirty), "rid", col("name"), col("name"),
          window = 4, minSim = 0.92)
        .orderBy(col("id_a"), col("id_b"))
    }),
    // ---- NFC-robust dedup: half the corpus is re-encoded with DECOMPOSED
    //      combining sequences (constructed identically in both engines);
    //      raw fingerprints see distinct docs, canonicalized fingerprints
    //      merge them — the measurable reason ingest normalizes first
    "q110_nfc_dedup" -> ((s, dir) => {
      val dirty = when(pmod(col("doc_id"), lit(2)) === 0,
        regexp_replace(col("text"), "a", "a\u0301")).otherwise(  // decomposed
        regexp_replace(col("text"), "a", "\u00e1"))           // precomposed
      val d = Tables.documents(s, dir).select(col("doc_id"), dirty.as("text"))
      val raw = d.select(TextAnalysis.setFingerprint(col("text")).as("fp"))
        .agg(countDistinct(col("fp")).as("raw_groups"))
      val canon = d.select(TextAnalysis.setFingerprint(
          graft.text.UnicodeNorm.nfc(col("text"))).as("fp"))
        .agg(countDistinct(col("fp")).as("canon_groups"))
      raw.crossJoin(canon)
    }),
    // ---- Efraimidis-Spirakis weighted sample without replacement (k per
    //      group): rank by u^(1/w) desc with the portable hash uniform —
    //      quality-weighted subcorpus selection any engine reproduces
    "q108_weighted_sample" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("source"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
      graft.operators.TrainOrder.weightedSamplePerGroup(
          docs, "source", "doc_id", "quality", k = 10)
        .select(col("doc_id"), col("source"), col("smp_rank").cast("long").as("smp_rank"))
        .orderBy(col("doc_id"))
    }),
    // ---- PSI drift between two snapshots (even/odd event ids): baseline
    //      decile cuts broadcast, integer bucket counts, one ln at the end
    "q109_psi_drift" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(col("event_id"), col("value"))
      graft.analyze.Drift.psi(
          ev.filter(pmod(col("event_id"), lit(2)) === 0),
          ev.filter(pmod(col("event_id"), lit(2)) === 1),
          "value", nBuckets = 10)
        .orderBy(col("bucket"))
    }),
    // ---- group-mean null imputation: nulls CONSTRUCTED deterministically
    //      (event_id % 13 == 0), repaired with the group's exact-DECIMAL
    //      mean over observed values — the repair step downstream of the
    //      permissive casts (P6/q101)
    "q105_impute" -> ((s, dir) => {
      val holey = Tables.events(s, dir)
        .select(col("event_id"), col("event_type"),
          when(pmod(col("event_id"), lit(13)) === 0, lit(null)) // simulate dropouts
            .otherwise(col("value")).as("value"))
      graft.analyze.Impute.groupMean(holey, "event_type", "value")
        .select(col("event_id"), col("event_type"),
          round(col("value_i"), 4).as("value_i"),
          col("value").isNull.cast("long").as("was_null"))
        .orderBy(col("event_id"))
    }),
    // ---- dynamic-schema table profiling (ANALYZE surface): per-column
    //      nulls + exact distincts in ONE pass (Expand plan); column list
    //      resolved from the input schema at plan time
    "q103_profile" -> ((s, dir) =>
      graft.analyze.Profile.tableStats(Tables.events(s, dir))
        .orderBy(col("col_name"))),
    // ---- per-group z-score outlier tags: exact DECIMAL moment sums, the
    //      two-pass variance identity applied in double at the END (owning
    //      the formula — built-in stddevs differ in summation order
    //      across engines); stats broadcast, scoring is scan-speed
    "q104_zscore" -> ((s, dir) =>
      graft.analyze.Outliers.zscores(
          Tables.events(s, dir).select(col("event_id"), col("event_type"), col("value")),
          "event_type", "value")
        .select(col("event_id"), col("event_type"), col("z"), col("is_outlier"))
        .orderBy(col("event_id"))),
    // ---- NATIVE bounded-heap top-k per group (graft_topk): k-element
    //      min-heaps map-side, only k pairs per partition shuffle — the
    //      ranking-window formulation shuffles EVERY row and sorts each
    //      group (hottest group = slowest task); the heap is exact
    "q102_topk_native" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(call_function(graft.functions.TopK.Name,
          col("value"), col("event_id"), lit(3)).as("top"))
        .select(col("event_type"), posexplode(col("top")))
        .select(col("event_type"), (col("pos") + 1).cast("long").as("rn"),
          round(col("col.value"), 4).as("value"), col("col.tag").as("event_id"))
        .orderBy(col("event_type"), col("rn"))
    }),
    // ---- permissive JSON ingestion: from_json on the props column with
    //      CONSTRUCTED corrupt rows (event_id % 97 == 0 gets a LEADING
    //      brace — a trailing one wouldn't do: Spark's Jackson parser
    //      stops at the first complete root value and ignores trailing
    //      garbage, DuckDB's json_valid rejects it) — malformed input
    //      must coerce to null, never fail the scan (the P6 try_cast
    //      contract extended to nested parse)
    "q101_json_extract" -> ((s, dir) => {
      val dirty = when(pmod(col("event_id"), lit(97)) === 0,
        concat(lit("}"), col("props"))).otherwise(col("props"))
      Tables.events(s, dir).select(
          col("event_id"),
          from_json(dirty, org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k",
              org.apache.spark.sql.types.LongType))))
            .getField("k").as("k"))
        .withColumn("k_bucket",
          when(col("k").isNull, lit(-1L)).otherwise(col("k") % 10))
        .orderBy(col("event_id"))
    }),
    // ---- sliding token-window chunking (RAG/embedding prep): zero-
    //      shuffle projection, staged token array so HOFs never
    //      re-tokenize per window; last window may be short
    "q99_chunk_windows" -> ((s, dir) =>
      graft.text.Chunker.tokenWindows(
          Tables.documents(s, dir), "doc_id", "text", winSize = 32, overlap = 8)
        .select(col("id").as("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
          col("n_chunk_tokens").cast("long").as("n_chunk_tokens"), col("chunk"))
        .orderBy(col("doc_id"), col("chunk_idx"))),
    // ---- keyed snapshot upsert (MERGE INTO semantics on append-only
    //      snapshots): one full-outer key shuffle, update-wins per ROW;
    //      AQE broadcasts the (small) change batch when it fits
    "q100_upsert" -> ((s, dir) => {
      val cust = Tables.customer(s, dir)
      val base = cust.filter(pmod(col("c_custkey"), lit(3)) =!= 0)
      val updates = cust.filter(pmod(col("c_custkey"), lit(2)) === 0)
        .withColumn("c_acctbal", round(col("c_acctbal") + 1000, 2))
        .withColumn("c_mktsegment", lit("REFRESHED"))
      graft.operators.Upsert.upsert(base, updates, "c_custkey")
        .select(col("c_custkey"), col("c_name"),
          round(col("c_acctbal"), 2).as("c_acctbal"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))
    }),
    // ---- PageRank over the user-interaction graph (consecutive users of
    //      the same event type): 2 shuffles/iteration, scalar dangling
    //      mass, lineage one iteration deep. Pinned-long walk → exact
    //      unrolled DuckDB twin (GraphSpec additionally pins hand graphs)
    "q97_pagerank" -> ((s, dir) => {
      val w = Window.partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))
      val edges = Tables.events(s, dir)
        .withColumn("prev_user", lag(col("user_id"), 1).over(w))
        .filter(col("prev_user").isNotNull && col("prev_user") =!= col("user_id"))
        .select(col("prev_user").as("src"), col("user_id").as("dst"))
      graft.graph.PageRank.run(edges, "src", "dst", iters = 10)
        .select(col("node"), round(col("rank") * 1000, 4).as("rank_x1000"))
        .orderBy(desc("rank_x1000"), col("node")).limit(20)
    }),
    // ---- distributed spherical k-means over the full embedding table
    //      (broadcast centroids, codegen'd exploded-dim assignment, k×dim
    //      driver state) — pinned-long Lloyd recurrence, oracled by the
    //      unrolled SQL twin; the avg is an exact integer sum of the
    //      4-dp-pinned sims (a float avg is partition-order-dependent)
    "q98_kmeans" -> ((s, dir) =>
      Similarity.kmeansAssign(Tables.embeddings(s, dir), "vec_id", "embedding",
          k = 8, iters = 5)
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("n"),
          round(sum(round(col("sim") * lit(1e4)).cast("long")).cast("double") /
            count(lit(1)) / lit(1e4), 4).as("avg_sim"))
        .orderBy(col("cluster"))),
    // ---- BPE fertility: apply the trained merge table (bounded,
    //      broadcast) per document — rows-only (iterative merge loop has
    //      no SQL twin; BpeSpec pins encode semantics)
    "q84_bpe_fertility" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val merges = graft.text.BpeTrainer.train(docs, "text", 30)
      graft.text.BpeEncoder.encodeStats(docs, "doc_id", "text", merges)
        .orderBy(col("doc_id"))
    }),
    // ---- BPE merge-rule training: distributed word histogram (the only
    //      corpus-sized pass) + bounded driver merge loop — rows-only
    //      (iterative argmax has no SQL twin; BpeSpec hand-verifies)
    "q76_bpe_merges" -> ((s, dir) =>
      graft.text.BpeTrainer.train(Tables.documents(s, dir), "text", 30)
        .orderBy(col("rank"))),
    // ---- training-sequence packing: distributed exclusive prefix sum
    //      over the doc order (range partition + per-partition sums, no
    //      single-task window) → fixed-token-budget sequence assignment
    "q75_seq_pack" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"),
        size(split(lower(trim(col("text"))), "\\s+")).as("toks"))
      graft.operators.Packing.packSequential(d, "doc_id", "toks", 2048L)
        .orderBy(col("doc_id"))
    }),
    // ---- STREAMING heavy hitters: per-shard Misra-Gries state in
    //      flatMapGroupsWithState (<= k counters per shard for any stream
    //      length), final candidates exact-rescanned in batch — same
    //      answer and oracle as the batch q62
    "q74_stream_heavy_hitters" -> ((s, dir) => {
      val path = s"${dir.stripSuffix("/")}/documents.parquet"
      val schema = ParquetReader.read(s, path).schema
      val emissions = graft.streaming.StreamingOps.runToMemory(s, src => {
          import s.implicits._
          val toks = src
            .select(explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
            .as[String]
          graft.streaming.StreamingOps.streamingHeavyHitters(toks, 63)
            .toDF("shard", "tok", "count_lb", "ver")
        }, dir.stripSuffix("/"), "documents.parquet", schema, outputMode = "update")
      val lastVer = Window.partitionBy(col("shard"))
      val cands = emissions
        .withColumn("mx", max(col("ver")).over(lastVer))
        .filter(col("ver") === col("mx"))
        .select(col("tok")).distinct()
      val toks = Tables.documents(s, dir)
        .select(explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
      val total = toks.agg(count(lit(1)).as("n_total"))
      toks.join(broadcast(cands), "tok")
        .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
        .join(broadcast(total))
        .filter(col("cnt") > col("n_total") / 32)
        .select(col("tok"), col("cnt"))
        .orderBy(col("cnt").desc, col("tok"))
    }),
    // ---- SemDeDup semantic dedup: nearest-centroid clustering bounds
    //      pairwise cosine to within-cluster work (sum of cluster^2, not
    //      corpus^2); components over the tau-graph, keep min id each
    "q73_semantic_dedup" -> ((s, dir) =>
      Similarity.semanticDedup(
          Tables.embeddings(s, dir), "vec_id", "embedding", "label", 0.4)
        .orderBy(col("vec_id"))),
    // ---- bloom runtime-filter join: fact rows die at the scan, not at
    //      the join shuffle (native graft_bloom_agg / graft_bloom_contains,
    //      codegen'd probe). EXACT — the bloom only drops non-joining rows
    "q72_bloom_join" -> ((s, dir) => {
      val dim = Tables.part(s, dir).filter(col("p_size") === 1)
      graft.operators.RuntimeFilter
        .prunedJoin(Tables.lineitem(s, dir), "l_partkey", dim, "p_partkey")
        .groupBy(col("p_brand"))
        .agg(
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 2).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("p_brand"))
    }),
    // ---- chunk-level exact dedup (RefinedWeb line-dedup adapted to
    //      unsegmented text): zero-shuffle HOF chunking, md5 in the same
    //      projection — everything past the scan moves digests, not text
    "q69_chunk_dedup" -> ((s, dir) =>
      graft.dedup.ChunkDedup.docDupStats(
          Tables.documents(s, dir), "doc_id", "text", 8, 0.3)
        .orderBy(col("doc_id"))),
    // ---- PII detection + redaction (zero-shuffle projection; RE2-safe
    //      patterns so any engine reproduces the identical redaction).
    //      The corpus tables carry no PII, so the query derives
    //      deterministic PII-bearing strings from events columns —
    //      identically in the oracle — then counts and scrubs them.
    "q70_pii_scrub" -> ((s, dir) => {
      val base = Tables.events(s, dir).select(
        col("event_id"),
        concat(
          lit("uid "), col("user_id"),
          when(pmod(col("event_id"), lit(3)) === 0,
            concat(lit(" mail u"), col("user_id"), lit("@ex"),
              pmod(col("event_id"), lit(100)), lit(".org")))
            .otherwise(lit("")),
          when(pmod(col("event_id"), lit(4)) === 0,
            concat(lit(" from 10."), pmod(col("user_id"), lit(256)),
              lit(".0."), pmod(col("event_id"), lit(256))))
            .otherwise(lit("")),
          when(pmod(col("event_id"), lit(5)) === 0,
            concat(lit(" call "), pmod(col("event_id"), lit(90)) + 10,
              lit("-"), pmod(col("user_id"), lit(900)) + 100,
              lit("-555-"), pmod(col("event_id"), lit(9000)) + 1000))
            .otherwise(lit(" done"))).as("text"))
      // widen the single-row-group events scan: the regex scrub stage is
      // the whole cost and otherwise runs on one task (3.0 → ~0.9 s)
      graft.text.Pii.piiStats(
          graft.operators.Spread.widen(base, col("event_id")),
          "event_id", "text")
        .orderBy(col("event_id"))
    }),
    // ---- per-source quality quantile cut: integer ntile buckets over a
    //      total (quality, id) order — engine-exact keep flags, unlike a
    //      float percentile threshold; one group-keyed window shuffle
    "q71_quality_cut" -> ((s, dir) => {
      val q = Tables.documents(s, dir).select(
        col("doc_id"), col("source"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
      graft.analyze.QuantileCut.buckets(q, "source", "quality", "doc_id", 5, 1)
        .select(col("doc_id"), col("source"),
          col("bucket").cast("long").as("bucket"), col("keep"))
        .orderBy(col("doc_id"))
    }),
    // ---- text: token counting (whitespace + BPE-ish pre-tokenizer proxy)
    "q20_token_stats" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextAnalysis.wsTokenCount(col("text")).as("ws_tokens"),
        TextAnalysis.bpeIshTokenCount(col("text")).as("bpe_tokens"))
        .orderBy(col("doc_id"))),
    // ---- text: quality scoring
    "q21_quality_score" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id"))),
    // ---- text: marker-vote language id (SQL-expressible variant)
    "q22_lang_id" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        LangId.markerLangId(col("text")).as("lang_pred"))
        .orderBy(col("doc_id"))),
    // ---- similarity: exact brute-force cosine top-k (baseline)
    "q23_ann_brute" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.bruteTopK(
          emb.filter(col("vec_id") >= 5), "vec_id", "embedding",
          emb.filter(col("vec_id") < 5), "vec_id", "embedding", 5)
        .select(col("qid"), col("id"), round(col("sim"), 4).as("sim"), col("rn"))
        .orderBy(col("qid"), col("rn"))
    }),
    // ---- dedup: MinHash+LSH near-dup pairs — the PORTABLE md5/affine
    //      hash family, so the banding + estimate pipeline is DuckDB-
    //      oracled end to end (the fnv fast path stays the library
    //      default, spec-gated)
    "q24_minhash_lsh" -> ((s, dir) =>
      Dedup.minHashLshPairs(Tables.documents(s, dir), "doc_id", "text",
          numHashes = 64, shingleN = 1, bands = 8, threshold = 0.9,
          portable = true)
        .orderBy(col("id_a"), col("id_b"))),
    // ---- dedup: SimHash Hamming-<=3 pairs — portable 60-bit md5 family
    //      (4x15-bit pigeonhole), DuckDB-oracled; 64-bit fnv fast path
    //      stays the default
    "q25_simhash" -> ((s, dir) =>
      Dedup.simHashPairs(Tables.documents(s, dir), "doc_id", "text",
          maxDist = 3, portable = true)
        .orderBy(col("id_a"), col("id_b"))),
    // ---- dedup: embedding near-dup via sign-LSH — portable integer-
    //      pinned md5 hyperplanes, DuckDB-oracled; seeded-Gaussian fast
    //      path stays the default
    "q26_embed_neardup" -> ((s, dir) =>
      Dedup.embeddingNearDupPairs(Tables.embeddings(s, dir), "vec_id", "embedding",
          threshold = 0.2, bands = 8, bitsPerBand = 4, portable = true)
        .orderBy(col("id_a"), col("id_b"))),
    // ---- text: character-trigram language id (substring-containment
    //      profile scoring, ties to the earlier profile — hash-oracled)
    "q27_trigram_langid" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        LangId.trigramLangId(col("text")).as("lang_pred"))
        .orderBy(col("doc_id"))),
    // ---- similarity: IVF approximate top-k (scale path, no SQL oracle)
    // ---- IVF ANN over the PINNED coarse quantizer (q98's integer Lloyd
    //      recurrence + exact-integer probe ranking), so the full
    //      train→assign→probe→rank pipeline is DuckDB-oracled as
    //      unrolled SQL; the float ivfTopK stays the library fast path,
    //      recall-spec-gated
    "q28_ann_ivf" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfTopKPinned(
          emb.filter(col("vec_id") >= 5), "vec_id", "embedding",
          emb.filter(col("vec_id") < 5), "vec_id", "embedding", 5)
        .select(col("qid"), col("id"), round(col("sim"), 4).as("sim"), col("rn"))
        .orderBy(col("qid"), col("rn"))
    }),
    // ---- W2+A2+A3: windowed feature table + max-pooled label (E1 stage 9)
    "q29_window_features" -> ((s, dir) => windowedFeatures(s, dir)),
    // ---- A8: distributed Pearson correlation matrix, long form
    "q30_corr_pairs" -> ((s, dir) =>
      CorrPrune.corrPairs(Tables.lineitem(s, dir),
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .withColumn("corr", round(col("corr"), 4))
        .orderBy(col("col_a"), col("col_b"))),
    // ---- L1/L2: PORTABLE stratified 60/20/20 split (md5-rank keep rule —
    //      membership a pure function of the data, hash-oracled): counts
    //      AND the membership-sensitive id sum per stratum
    "q31_split_counts" -> ((s, dir) =>
      // project BEFORE tagging: the split is a pure function of
      // (label, key), and tagged()'s eager checkpoint materializes every
      // column it is handed — the full event row would ride the range
      // shuffle and the checkpoint for nothing
      StratifiedSplit.tagged(
          Tables.events(s, dir).select(col("event_type"), col("event_id")),
          "event_type", "event_id")
        .groupBy(col("split"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("event_id")).as("sum_ids"))
        .orderBy(col("split"), col("event_type"))),
    // ---- L3+L5+L6: logistic regression on windowed features, metric table
    // ---- L3+L5+L6: logistic-regression metrics — pinned-long GD fit
    //      (PinnedLogit: exact integer margins, 1e-9-pinned sigmoid,
    //      weighted-distinct driver fit) + integer confusion/midrank-AUC
    //      scoring, oracled by the unrolled SQL twin. The spark.ml LBFGS
    //      path stays as Models.fitLogisticRegression (q48, MLSpec).
    "q32_lr_metrics" -> ((s, dir) => {
      // feats feed the fit collect AND the scoring pass — persist once
      val feats = windowedFeatures(s, dir).persist()
      val cols = Seq("n_click", "n_error", "n_purchase", "n_signup", "n_view")
      try graft.ml.PinnedLogit.metricsReport(feats, cols, "label")
      finally feats.unpersist(blocking = false)
    }),
    // ---- L4+L8: random forest feature importance, descending (rows-only)
    "q33_rf_importance" -> ((s, dir) => {
      val feats = windowedFeatures(s, dir)
      val cols = Seq("n_click", "n_error", "n_purchase", "n_signup", "n_view")
      // weighted sufficient-statistics fit (see q32): 100 trees over the
      // distinct feature vectors instead of the full corpus
      val train = Models.assemble(Models.compressWeighted(feats, cols, "label"), cols, "label")
      val model = Models.fitRandomForest(train, weightCol = Some("weight"))
      Models.rfImportance(s, model, cols)
    }),
    // ---- L9: isolation forest anomaly flags on lineitem measures (rows-only)
    // ---- L9: isolation-forest PINNED summary contract. No SQL oracle is
    //      possible BY CONSTRUCTION: the ensemble subsamples with Spark's
    //      partition-seeded RNG (engine-private), so another engine can't
    //      reproduce tree structure — but the summary below is exactly
    //      reproducible within the engine for a fixed input layout
    //      (seed-pinned; IFSummarySpec pins rerun-identity and the
    //      contamination/quantile tolerances)
    "q34_iforest" -> ((s, dir) => {
      val scored = IsolationForest.fitPredict(Tables.lineitem(s, dir),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
      // one ARRAY percentile, not three scalars: each scalar percentile
      // is its own TypedImperativeAggregate with its own per-task value
      // map and its own single-task final merge over the corpus-sized
      // distinct set — the array form shares one buffer (measured 1.7 s
      // off this query at sf0.1)
      scored.agg(
          count(lit(1)).as("n_total"),
          sum(col("is_anomaly")).cast("long").as("n_flagged"),
          expr("percentile(anomaly_score, array(0.5, 0.9, 0.99))").as("__p"),
          round(max(col("anomaly_score")), 4).as("score_max"))
        .select(col("n_total"), col("n_flagged"),
          round(element_at(col("__p"), 1), 4).as("score_p50"),
          round(element_at(col("__p"), 2), 4).as("score_p90"),
          round(element_at(col("__p"), 3), 4).as("score_p99"),
          col("score_max"))
    }),
    // ---- L10: PCA(k=2) projection of the embedding corpus (rows-only)
    // ---- L10 PCA — pinned-long power iteration (PinnedPca): exact
    //      integer eigen-recurrence, oracled by the unrolled SQL twin
    //      (was spark.ml SVD, rows-only)
    "q35_pca" -> ((s, dir) =>
      graft.ml.PinnedPca.project(Tables.embeddings(s, dir), "vec_id", "embedding", 2)
        .select(col("vec_id"),
          round(element_at(col("pc"), 1), 4).as("pc1"),
          round(element_at(col("pc"), 2), 4).as("pc2"))
        .orderBy(col("vec_id"))),
    // ---- multimodal ingest: binary payload + byte length + digest (oracled)
    "q36_media_ingest" -> ((s, dir) =>
      graft.multimodal.Multimodal.ingestFromDocuments(Tables.documents(s, dir), "doc_id", "text")
        .select(col("media_id"), col("kind"),
          length(col("payload")).as("n_bytes"),
          md5(col("payload")).as("payload_md5"))
        .orderBy(col("media_id"))),
    // ---- multimodal batch feature extraction (stubbed decode; rows-only)
    "q37_media_features" -> ((s, dir) =>
      graft.multimodal.Multimodal.extractFeatures(
          graft.multimodal.Multimodal.ingestFromDocuments(Tables.documents(s, dir), "doc_id", "text"))
        .groupBy(col("kind"))
        .agg(count(lit(1)).as("n"),
          round(avg(col("mean_byte")), 4).as("avg_mean_byte"),
          round(avg(col("byte_entropy")), 4).as("avg_entropy"))
        .orderBy(col("kind"))),
    // ---- multimodal frame sampling (rows-only)
    "q38_frame_sample" -> ((s, dir) =>
      graft.multimodal.Multimodal.frameSample(
          graft.multimodal.Multimodal.ingestFromDocuments(Tables.documents(s, dir), "doc_id", "text"),
          frameBytes = 16, stride = 4)
        .select(col("media_id"), col("n_frames"), col("n_kept"),
          length(col("sampled")).as("sampled_bytes"))
        .orderBy(col("media_id"))),
    // ---- streaming: time-tumbling windowed agg (W2's semantic upgrade),
    //      genuine streaming execution (AvailableNow), batch-equivalent
    //      result — DuckDB-oracled via date_trunc
    "q39_stream_window" -> ((s, dir) => {
      val path = s"${dir.stripSuffix("/")}/events.parquet"
      val schema = ParquetReader.read(s, path).schema
      graft.streaming.StreamingOps.runToMemory(s, src =>
          graft.streaming.StreamingOps.windowedCounts(
            Tables.normalizeTs(src, "ts"),
            "ts", "event_type", "value", "1 hour"),
          dir.stripSuffix("/"), "events.parquet", schema)
        .orderBy(col("window_start"), col("event_type"))
    }),
    // ---- streaming: stateful per-shard template mining via
    //      flatMapGroupsWithState (rows-only)
    "q40_stream_mine" -> ((s, dir) => {
      val path = s"${dir.stripSuffix("/")}/documents.parquet"
      val schema = ParquetReader.read(s, path).schema
      graft.streaming.StreamingOps.runToMemory(s, src => {
          import s.implicits._
          val lines = src.select(pmod(col("doc_id"), lit(4)).cast("int").as("shard"),
            col("text")).as[(Int, String)]
          graft.streaming.StreamingOps.streamingMine(lines).toDF("shard", "t")
            .select(col("shard"), col("t.*"))
        }, dir.stripSuffix("/"), "documents.parquet", schema, outputMode = "append")
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_clusters"), sum(col("size")).as("mass"))
        .orderBy(col("shard"))
    }),
    // ---- SQL-string entry surface: the engine's tables queried via
    //      spark.sql with the SAME text the DuckDB oracle runs
    "q41_sql_surface" -> ((s, dir) =>
      withTempViews(s, "events" -> Tables.events(s, dir))(s.sql("""SELECT event_type, count(*) AS n,
               round((CAST(sum(CAST(round((value) * 1000000) AS BIGINT) div 1000000000) AS DOUBLE) * 1000000000.0 + CAST(sum(CAST(round((value) * 1000000) AS BIGINT) % 1000000000) AS DOUBLE)) / 100.0 / count(*)) / 10000.0 AS avg_value
               FROM events WHERE user_id % 2 = 0
               GROUP BY event_type ORDER BY event_type"""))),
    // ---- distribution stats: exact percentiles + distinct counts per source
    "q42_distribution_stats" -> ((s, dir) =>
      Tables.documents(s, dir)
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n"),
          countDistinct(col("lang")).as("n_langs"),
          round(expr("percentile(n_chars, 0.5)"), 4).as("p50_chars"),
          round(expr("percentile(n_chars, 0.9)"), 4).as("p90_chars"))
        .orderBy(col("source"))),
    // ---- dedup APPLICATION: survivors after exact-group pruning
    "q43_dedup_apply" -> ((s, dir) =>
      Dedup.dropExactDuplicates(Tables.documents(s, dir), "doc_id", "text")
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))),
    // ---- gap-based sessionization (30-min gap) + per-session stats
    "q44_sessionize" -> ((s, dir) =>
      Temporal.sessionize(Tables.events(s, dir), "user_id", "ts", 1800L)
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
             dsum(col("value"), 4).as("session_value"))
        .orderBy(col("user_id"), col("session_id"))),
    // ---- as-of join: each event matched to the user's latest prior order
    "q45_asof_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(col("user_id"), col("ts"), col("event_id"))
      val ord = Tables.orders(s, dir)
        .filter(col("o_custkey") <= 150)
        // orders carries TIMESTAMP_NTZ; events is TimestampType. The native
        // merge requires identical ts types (raw-micros ordering) — cast is
        // identity under the session's pinned UTC zone.
        .select(col("o_custkey").as("user_id"),
          col("o_orderdate").cast("timestamp").as("ts"), col("o_orderkey"))
      // native whole-operator node (AsOfJoinPlan/Exec, ladder rung (c)):
      // same contract as Temporal.asOfJoin, hash-checked by the oracle
      graft.plans.AsOfJoin.asOf(s, ev, ord, "user_id", "ts", "event_id", "o_orderkey")
        .select(col("user_id"), col("event_id"), col("asof_o_orderkey"))
        .orderBy(col("user_id"), col("event_id"))
    }),
    // ---- as-of join with a staleness bound (pandas merge_asof tolerance):
    //      matches staler than the bound are nulled; same single-shuffle
    //      plan. The bound (730 Ms ≈ 23.1 y) deliberately lands inside the
    //      staleness distribution of this corpus (events 2024, orders
    //      1995-2001) so the output is a real keep/null mix.
    "q56_asof_tolerance" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(col("user_id"), col("ts"), col("event_id"))
      val ord = Tables.orders(s, dir)
        .filter(col("o_custkey") <= 150)
        .select(col("o_custkey").as("user_id"), col("o_orderdate").as("ts"),
          col("o_orderkey"))
      Temporal.asOfJoinTolerance(ev, ord, "user_id", "ts", "event_id", "o_orderkey",
          toleranceSeconds = 730000000L)
        .select(col("user_id"), col("event_id"), col("asof_o_orderkey"))
        .orderBy(col("user_id"), col("event_id"))
    }),
    // ---- hierarchical aggregation: ROLLUP over (returnflag, linestatus)
    "q46_rollup" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
             dsum(col("l_extendedprice"), 2).as("sum_price"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)),
    // ---- CUBE over (returnflag, linestatus): all four grouping levels
    "q57_cube" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
             dsum(col("l_quantity"), 2).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)),
    // ---- E1/E2 END-TO-END over actual log FILES: recursive container_*
    //      scan → P1-P4 clean → parallel mining → broadcast match →
    //      E3 failure distribution — the reference's whole program as one
    //      query (`process_logs_v10.py:86-179`). Rows-only (mining ids
    //      are synthetic); the golden-count spec pins the semantics.
    "q47_log_pipeline" -> ((s, dir) => {
      val raw = graft.logs.LogSource.readLogDir(s, logCorpusDir(s, dir))
      val cleaned = raw.select(LogLines.clean(col("value")).as("line"))
      val templates = TemplateMining.mineParallel(cleaned, "line").collect().toSeq
      val tree = TemplateMining.treeFromTemplates(templates)
      val matched = TemplateMining.matchLines(cleaned, "line", tree)
      EventMatrix.failureDistribution(matched, "eventId")
    }),
    // ---- L7: |LR coefficient| feature importance, descending (rows-only;
    //      reference prints it as a first-class output, v9:391-403)
    // ---- L7+L8 LR importance from the pinned-GD fit (oracled; the
    //      spark.ml LBFGS path stays spec-covered in MLSpec)
    "q48_lr_importance" -> ((s, dir) => {
      val cols = Seq("n_click", "n_error", "n_purchase", "n_signup", "n_view")
      graft.ml.PinnedLogit.importanceReport(windowedFeatures(s, dir), cols, "label")
    }),
    // ---- stream-stream INTERVAL self-join (watermarked both sides,
    //      bounded state): error events preceded by a click of the same
    //      user within 1 hour — genuine streaming execution, DuckDB-
    //      oracled as the equivalent batch range join (single-file source
    //      → one micro-batch → watermarking drops nothing)
    "q50_stream_join" -> ((s, dir) => {
      val path = s"${dir.stripSuffix("/")}/events.parquet"
      val schema = ParquetReader.read(s, path).schema
      graft.streaming.StreamingOps.runToMemory(s, src => {
          val ev = Tables.normalizeTs(src, "ts")
          val errors = ev.filter(col("event_type") === "error")
            .select(col("user_id").as("euser"), col("ts").as("ets"), col("event_id"))
          val clicks = ev.filter(col("event_type") === "click")
            .select(col("user_id").as("cuser"), col("ts").as("cts"))
          graft.streaming.StreamingOps.streamIntervalJoin(
              errors, clicks, "euser", "cuser", "ets", "cts",
              maxLagSeconds = 3600, watermark = "1 hour")
            .select(col("euser").as("user_id"), col("event_id"))
        }, dir.stripSuffix("/"), "events.parquet", schema, outputMode = "append")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("user_id"))
    }),
    // ---- STREAMING gap sessionization: the same session_window aggregate
    //      as q53 but through the micro-batch engine with mergeable session
    //      state — the canonical stateful streaming operator. Oracled by
    //      the q53 gap walk (single-file source → one micro-batch, complete
    //      mode → nothing dropped).
    "q58_stream_session" -> ((s, dir) => {
      val path = s"${dir.stripSuffix("/")}/events.parquet"
      val schema = ParquetReader.read(s, path).schema
      graft.streaming.StreamingOps.runToMemory(s, src => {
          val ev = Tables.normalizeTs(src, "ts")
          ev.groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
            .agg(count(lit(1)).as("n_events"), dsum(col("value"), 4).as("session_value"))
            .select(col("user_id"), col("w.start").as("session_start"),
              col("n_events"), col("session_value"))
        }, dir.stripSuffix("/"), "events.parquet", schema, outputMode = "complete")
        .orderBy(col("user_id"), col("session_start"))
    }),
    // ---- TF-IDF top terms per document (smoothed idf; exact double
    //      arithmetic on integer counts — deterministic, oracled)
    "q54_tfidf" -> ((s, dir) =>
      graft.text.TfIdf.topTerms(Tables.documents(s, dir), "doc_id", "text", 3)
        .orderBy(col("doc_id"), col("rn"))),
    // ---- gap sessionization via Spark's NATIVE session_window (the
    //      time-window twin of q44's lag/sum formulation — one aggregate,
    //      mergeable session state, the same operator Structured
    //      Streaming uses for streaming sessions). Oracle = the explicit
    //      gap walk with the >= gap boundary (session_window treats an
    //      exactly-gap-separated event as a NEW session).
    "q53_session_window" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value"), 4).as("session_value"))
        .select(col("user_id"), col("w.start").as("session_start"),
          col("n_events"), col("session_value"))
        .orderBy(col("user_id"), col("session_start"))),
    // ---- winnowing document fingerprints — substring-level near-dup
    //      keys (SIGMOD'03 guarantee: shared substrings of length ≥
    //      w+k−1 share a fingerprint). Mod-p polynomial gram hash =
    //      portable arithmetic, so the fingerprints are hash-oracled in
    //      SQL; the spec additionally pins the winnowing guarantee.
    "q52_winnow_fp" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          TextAnalysis.winnowingFingerprints(col("text")).as("fps"))
        .select(col("doc_id"), size(col("fps")).as("n_fps"),
          element_at(col("fps"), 1).as("min_fp"))
        .orderBy(col("doc_id"))),
    // ---- the LLM-corpus CURATION pipeline as ONE oracled query:
    //      language-id + quality scoring + token counting → keep English
    //      docs above the quality/length floor → exact-dedup survivors →
    //      per-source corpus stats. Composes q20/q21/q22/q43's operators
    //      end to end — every stage one codegen'd projection or one keyed
    //      shuffle, so the whole pipeline is a single scan + two shuffles
    //      (dedup window, final aggregate) at any scale.
    "q55_curate" -> ((s, dir) => {
      val scored = Tables.documents(s, dir).select(
        col("doc_id"), col("source"), col("text"),
        LangId.markerLangId(col("text")).as("lang_pred"),
        TextAnalysis.qualityScore(col("text")).as("quality"),
        TextAnalysis.wsTokenCount(col("text")).as("ws_tokens"))
      val kept = scored.filter(
        col("lang_pred") === "en" && col("quality") >= 0.65 && col("ws_tokens") >= 20)
      Dedup.dropExactDuplicates(kept, "doc_id", "text")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
             sum(col("ws_tokens")).as("n_tokens"),
             davg(col("quality"), 4).as("avg_quality"))
        .orderBy(col("source"))
    }),
    // ---- sketch twin of q42: approx distinct + sketch percentiles per
    //      source — kilobytes of mergeable state per partition instead
    //      of shuffling distinct keys / sorting groups. PORTABLE forms
    //      (md5 HLL + fixed-width histogram quantiles, both mergeable
    //      and order-independent) so the estimates are DuckDB-oracled;
    //      the HLL++/KLL natives stay the library fast path.
    "q51_sketch_stats" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val hq = Sketches.histogramQuantiles(docs, "source", "n_chars", 64L, Seq(0.5, 0.9))
      Sketches.hllPortable(docs, "source", "lang")
        .select(col("key").as("source"), col("approx_distinct"))
        .join(hq.filter(col("p") === 0.5)
          .select(col("key").as("source"), col("estimate").as("p50_chars")), "source")
        .join(hq.filter(col("p") === 0.9)
          .select(col("key").as("source"), col("estimate").as("p90_chars")), "source")
        .orderBy(col("source"))
    }),
    // ---- M1 as a NATIVE CATALYST AGGREGATE: per-source template mining
    //      in ONE two-phase GROUP BY via graft_mine — partial trees
    //      map-side, kilobyte tree state through the shuffle. Rows-only
    //      (cluster splits are merge-order-dependent); mass conservation
    //      is the spec'd invariant (MineAggSpec).
    "q49_group_mine" -> ((s, dir) =>
      withTempViews(s, "documents" -> Tables.documents(s, dir))(s.sql("""WITH mined AS (
                 SELECT source, graft_mine(text) AS ts
                 FROM documents GROUP BY source)
               SELECT source, size(ts) AS n_clusters,
                      aggregate(ts, CAST(0 AS BIGINT), (acc, x) -> acc + x.size) AS mass
               FROM mined ORDER BY source"""))),
  )

  /** Run `query` (a `spark.sql` over the given temp views) and drop the
    * views once it returns. The DataFrame is analyzed by then, so it
    * keeps its rows while the caller's session keeps no view pointing at
    * this `dir`. */
  private def withTempViews(s: SparkSession, views: (String, DataFrame)*)(
      query: => DataFrame): DataFrame = {
    views.foreach { case (name, df) => df.createOrReplaceTempView(name) }
    try query finally views.foreach { case (name, _) => s.catalog.dropTempView(name) }
  }

  /** Materialize the documents table as a `container_NN.log` directory —
    * the on-disk corpus shape the reference's E1/E2 program consumes. The
    * write is DISTRIBUTED (spark text write; the follow-up rename touches
    * file metadata only, never row data) and cached behind a ready marker
    * per sf dir AND per documents listing (the digest of its files' paths,
    * lengths and modification times), so repeated queries reuse it and a
    * table rewritten at the same path gets a corpus of its own. Building
    * one deletes the dir's corpora of older listings. */
  private def logCorpusDir(s: SparkSession, dir: String): String = {
    val docs = Tables.documents(s, dir)
    val prefix = s"graft_logcorpus_${dir.replaceAll("[^A-Za-z0-9]", "_")}_"
    val listing = ParquetReader.listingDigest(docs).take(16)
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    val root = new java.io.File(tmp, prefix + listing)
    val marker = new java.io.File(root, "_GRAFT_READY")
    if (!marker.exists()) {
      // exactly prefix + 16 hex: a longer slug sharing this prefix is
      // another dir's corpus
      val stale = (java.util.regex.Pattern.quote(prefix) + "[0-9a-f]{16}").r
      tmp.listFiles().filter(f => f != root && stale.matches(f.getName))
        .foreach(f => org.apache.commons.io.FileUtils.deleteDirectory(f))
      docs
        .select(concat(lit("2015-10-17 15:37:56,547 INFO [main] worker.Task: "),
          col("text")).as("value"))
        .repartition(4)
        .write.mode("overwrite").text(root.getAbsolutePath)
      root.listFiles().filter(_.getName.startsWith("part-")).sortBy(_.getName)
        .zipWithIndex.foreach { case (f, i) =>
          val dst = new java.io.File(root, f"container_$i%02d.log")
          // a silently-failed rename would leave part-* names the
          // container_*.log glob never matches — and the ready marker
          // below would then pin an empty corpus forever
          require(f.renameTo(dst), s"rename ${f.getName} -> ${dst.getName} failed") }
      marker.createNewFile()
    }
    root.getAbsolutePath
  }

  /** The (bands, rows-per-band) candidates q337's LSH planner costs —
    * shared with its generated oracle so the embedded probability
    * literals match. */
  private val LshConfigs: Seq[(Int, Int)] =
    Seq((8, 4), (16, 2), (32, 4), (64, 3))

  /** Paired (header total, recomputed lineitem net) frame shared by the
    * agreement/measurement-error queries (q324/q327): `x` =
    * `o_totalprice`, `y` = `Σ l_extendedprice·(1−l_discount)` with the
    * per-row term 6-dp-quantized BEFORE the sum (exact long sums — no
    * order-dependent double addition). */
  private def orderNetPairs(s: SparkSession, dir: String): DataFrame = {
    val net = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg((sum(round(col("l_extendedprice") * (lit(1) - col("l_discount"))
        * lit(1000000)).cast("long")).cast("double") / 1e6).as("y"))
    Tables.orders(s, dir)
      .join(net, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_totalprice").as("x"), col("y"))
  }

  /** The q209/q210 LOO target-encoded score frame, shared by the
    * calibration-decomposition queries (q325/q326). */
  private def looScored(s: SparkSession, dir: String): DataFrame =
    graft.ml.Encoding.targetEncodeLoo(
      Tables.events(s, dir)
        .withColumn("cat", concat_ws("_", col("event_type"),
          (dayofweek(col("ts")) - 1).cast("string"))),
      "cat", col("value") > 50)

  /** E1-stage-9 feature prep shared by the ML queries: count-based
    * tumbling windows (size 5, event_id order) over the event stream,
    * per-type counts as features, max-pooled binary label
    * (`process_logs_v9.py:267-271` semantics on the testdata schema). */
  private def windowedFeatures(s: SparkSession, dir: String): DataFrame =
    Positional.tumbling(
        Tables.events(s, dir).select(col("event_id"), col("event_type"), col("value")),
        Seq(col("event_id")), 5)
      .groupBy(col("window_id"))
      .agg(
        count(when(col("event_type") === "click", 1)).as("n_click"),
        count(when(col("event_type") === "error", 1)).as("n_error"),
        count(when(col("event_type") === "purchase", 1)).as("n_purchase"),
        count(when(col("event_type") === "signup", 1)).as("n_signup"),
        count(when(col("event_type") === "view", 1)).as("n_view"),
        max(when(col("event_type") === "error" && col("value") > 300, 1).otherwise(0)).as("label"))
      .orderBy(col("window_id"))

  /** The ≥ 0.8 3-gram-Jaccard edge list over documents as DuckDB CTEs
    * ending in `e0(u, v)` with u < v — the shared candidate block of the
    * q139/q156 graph oracles (same shingle/raw-threshold contract as the
    * q397/q402 oracles and Dedup.ngramJaccardPairs). */
  private val NgramEdgeCtes: String =
    """t AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
           FROM documents),
         sh AS (
           SELECT doc_id, unnest(list_distinct(
             list_transform(range(len(toks) - 2),
               i -> array_to_string(toks[i+1:i+3], ' ')))) AS tok
           FROM t),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         shared AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
           FROM sh a JOIN sh b ON a.tok = b.tok AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         e0 AS (
           SELECT id_a AS u, id_b AS v FROM shared
           JOIN sizes sa ON sa.doc_id = id_a
           JOIN sizes sb ON sb.doc_id = id_b
           WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.8)"""

  /** UNROLLED synchronous k-core peel as plain SQL — `rounds` fixed
    * peel rounds over the e0 edge list (each: degree aggregate + both-
    * endpoints-survive filter). The peel is a monotone fixpoint, so any
    * round past convergence is an exact no-op — `rounds` only needs to
    * exceed the data's peel depth (dup graphs peel in a handful; the
    * engine asserts convergence, and a too-shallow unroll shows up as a
    * hash mismatch, never a silent wrong-pass). */
  private def kcoreOracleSql(rounds: Int, k: Int): String = {
    // every per-round CTE MATERIALIZED: each round references the
    // previous one three times, and DuckDB's default CTE inlining would
    // otherwise grow the plan 3^rounds (observed as an fd-exhaustion
    // crash re-opening the parquet scan thousands of times)
    val peels = (1 to rounds).map { i =>
      s"""d$i AS MATERIALIZED (SELECT id, count(*) AS deg FROM (
             SELECT u AS id FROM e${i - 1} UNION ALL SELECT v FROM e${i - 1})
           GROUP BY 1),
         e$i AS MATERIALIZED (SELECT u, v FROM e${i - 1}
           WHERE u IN (SELECT id FROM d$i WHERE deg >= $k)
             AND v IN (SELECT id FROM d$i WHERE deg >= $k))"""
    }.mkString(",\n         ")
    s"""WITH ${NgramEdgeCtes.replace("e0 AS (", "e0 AS MATERIALIZED (")},
         $peels
         SELECT id, count(*) AS core_degree FROM (
           SELECT u AS id FROM e$rounds UNION ALL SELECT v FROM e$rounds)
         GROUP BY 1 ORDER BY id"""
  }

  /** UNROLLED deterministic label propagation (the engine's Leung-style
    * degree-seeded variant, LabelPropagation.run): seed = argmax over
    * the closed neighborhood by (degree, self-first, smallest id), then
    * `rounds` synchronous histogram-argmax rounds by (count, smallest
    * label) — both argmaxes realized as struct max exactly like the
    * Spark plan, so every tie breaks identically. */
  private def lpaOracleSql(rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      s"""l$i AS (
           SELECT u AS id, -((max(struct_pack(c := cnt, nl := -label))).nl) AS label
           FROM (SELECT und.u, l.label, count(*) AS cnt
                 FROM und JOIN l${i - 1} l ON l.id = und.v
                 GROUP BY 1, 2)
           GROUP BY 1)"""
    }.mkString(",\n         ")
    s"""WITH $NgramEdgeCtes,
         und AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
         deg AS (SELECT u AS id, count(*) AS deg FROM und GROUP BY 1),
         cand AS (
           SELECT und.u, und.v, d.deg, CAST(0 AS BIGINT) AS self
           FROM und JOIN deg d ON d.id = und.v
           UNION ALL
           SELECT id, id, deg, CAST(1 AS BIGINT) FROM deg),
         l0 AS (
           SELECT u AS id,
                  -((max(struct_pack(d := deg, s := self, nv := -v))).nv) AS label
           FROM cand GROUP BY 1),
         $steps
         SELECT id, label FROM l$rounds ORDER BY id"""
  }

  /** Full-precision double literal for builder-authored SQL: DuckDB
    * parses bare `0.85` as DECIMAL (whose arithmetic diverges from the
    * engine's IEEE doubles), so every pinned constant is emitted via
    * Scala's shortest-round-trip toString under an explicit DOUBLE
    * cast. */
  private def dlit(x: Double): String = s"CAST(${x} AS DOUBLE)"

  /** The event-sequence edge list (consecutive users within an
    * event_type's (ts, event_id) order) as DuckDB CTEs ending in
    * `e(src, dst)` — the q97/q180 graph. */
  private val EventEdgeCtes: String =
    """ed AS (SELECT user_id,
                lag(user_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS prev_user
              FROM events),
         e AS MATERIALIZED (
           SELECT DISTINCT prev_user AS src, user_id AS dst FROM ed
           WHERE prev_user IS NOT NULL AND prev_user <> user_id),
         deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM e GROUP BY 1)"""

  /** One unrolled pinned-long power iteration (PageRank.totalRank12's
    * grid; see PageRank's rounding-convention scaladoc): contribution
    * aggregate `c_i`, its exact-long total `s_i`, and the damped update
    * `r_i` built by `update` from (contrib, csum) SQL fragments. */
  private def prIterCtes(iters: Int,
                         update: (Int, String, String) => String): String =
    (1 to iters).map { i =>
      s"""c$i AS MATERIALIZED (
           SELECT e.dst AS node,
                  CAST(sum(CAST(round(CAST(r.r12 AS DOUBLE) / deg.deg) AS BIGINT)) AS BIGINT) AS contrib
           FROM e JOIN r${i - 1} r ON r.node = e.src JOIN deg ON deg.src = e.src
           GROUP BY 1),
         s$i AS (SELECT coalesce(CAST(sum(contrib) AS BIGINT), 0) AS csum FROM c$i),
         r$i AS MATERIALIZED (${update(i, s"coalesce(c.contrib, 0)", s"s$i.csum")})"""
    }.mkString(",\n         ")

  /** Unrolled pinned-long PageRank twin of graph.PageRank.run — exact
    * integer recurrence, so rows+schema+hash-matchable despite 10 float
    * iterations. `floor(x + 0.5)` mirrors the engine's driver-side
    * math.round; bare `round` mirrors Spark's column round (ties away
    * from zero). */
  private def pagerankOracleSql(iters: Int, damping: Double): String =
    uniformPrSqlOver(EventEdgeCtes, "node", iters, damping)

  /** The uniform-start pinned recurrence over any `e(src, dst)` edge
    * block — shared by the q97 user graph and the q174 token graph
    * (node keys may be any equatable type; the walk never does
    * arithmetic on them). */
  private def uniformPrSqlOver(edgeCtes: String, outName: String,
                               iters: Int, damping: Double): String = {
    val t12 = graft.graph.PageRank.totalRank12(iters, damping)
    val update = (i: Int, contrib: String, csum: String) =>
      s"""SELECT n.node,
            CAST(floor(${dlit((1.0 - damping) * 1e12)} / nn.nd + 0.5) AS BIGINT)
            + CAST(round(${dlit(damping)} * CAST($contrib +
                CAST(floor(CAST(${t12(i - 1)} - $csum AS DOUBLE) / nn.nd + 0.5) AS BIGINT)
                AS DOUBLE)) AS BIGINT) AS r12
          FROM nodes n CROSS JOIN s$i CROSS JOIN nn
          LEFT JOIN c$i c ON c.node = n.node"""
    s"""WITH $edgeCtes,
         nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),
         nn AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM nodes),
         r0 AS MATERIALIZED (
           SELECT node, CAST(floor(${dlit(1e12)} / nn.nd + 0.5) AS BIGINT) AS r12
           FROM nodes CROSS JOIN nn),
         ${prIterCtes(iters, update)}
         SELECT node AS $outName, round(CAST(r12 AS DOUBLE) / 1e12 * 1000, 4) AS rank_x1000
         FROM r$iters ORDER BY rank_x1000 DESC, $outName LIMIT 20"""
  }

  /** q174's adjacent-token co-occurrence edges: consecutive distinct
    * tokens within a document's position order. */
  private val TokenEdgeCtes: String =
    """t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
              FROM documents),
         tk AS (SELECT doc_id, u.pos, u.token FROM (
           SELECT doc_id, unnest(list_transform(range(1, len(toks) + 1),
             i -> struct_pack(pos := i, token := toks[i]))) AS u
           FROM t)),
         pr0 AS (SELECT token,
                   lag(token) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
                 FROM tk),
         e AS MATERIALIZED (
           SELECT DISTINCT prev AS src, token AS dst FROM pr0
           WHERE prev IS NOT NULL AND prev <> token),
         deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM e GROUP BY 1)"""

  /** Unrolled pinned-long PERSONALIZED PageRank twin
    * (graph.PersonalizedPageRank.run): teleport and dangling mass land
    * on the seed distribution, every term grid-pinned like the engine. */
  private def pprOracleSql(seeds: Seq[Long], iters: Int, damping: Double): String = {
    val t12 = graft.graph.PageRank.totalRank12(iters, damping)
    val p12 = math.round(1e12 / seeds.distinct.size)
    val seedList = seeds.distinct.map(s => s"CAST($s AS BIGINT)").mkString(", ")
    val update = (i: Int, contrib: String, csum: String) =>
      s"""SELECT n.node, n.p12,
            CAST(round(${dlit(1.0 - damping)} * n.p12) AS BIGINT)
            + CAST(round(${dlit(damping)} * CAST($contrib +
                CAST(round(CAST(${t12(i - 1)} - $csum AS DOUBLE) * n.p12 / 1e12) AS BIGINT)
                AS DOUBLE)) AS BIGINT) AS r12
          FROM nodes n CROSS JOIN s$i
          LEFT JOIN c$i c ON c.node = n.node"""
    s"""WITH $EventEdgeCtes,
         nodes AS MATERIALIZED (
           SELECT node, CASE WHEN node IN ($seedList) THEN $p12 ELSE 0 END AS p12
           FROM (SELECT src AS node FROM e UNION SELECT dst FROM e
                 UNION SELECT unnest([$seedList]))),
         r0 AS MATERIALIZED (SELECT node, p12, p12 AS r12 FROM nodes),
         ${prIterCtes(iters, update)}
         SELECT node, round(CAST(r12 AS DOUBLE) / 1e12 * 1000, 4) AS rank_x1000
         FROM r$iters ORDER BY rank_x1000 DESC, node LIMIT 20"""
  }

  /** Unrolled pinned-long power-iteration PCA twin of
    * [[graft.ml.PinnedPca.project]] (k = 2) over the embeddings table —
    * the same integer eigen-recurrence, iteration by iteration; every
    * per-round CTE MATERIALIZED against DuckDB's inlining blowup. Keep
    * the op sequence in lockstep with the Scala loop. */
  private def pinnedPcaSql(iters: Int): String = {
    def comp1Iter(i: Int): String =
      s"""w1_$i AS MATERIALIZED (
           SELECT cm.j, CAST(sum(CAST(round(cm.c * v.v9) AS BIGINT)) AS BIGINT) AS w9
           FROM cm JOIN v1_${i - 1} v ON cm.jk = v.j GROUP BY 1),
         n1_$i AS (SELECT sqrt(CAST(sum(CAST(w9 AS HUGEINT) * w9) AS DOUBLE)) AS nrm FROM w1_$i),
         v1_$i AS MATERIALIZED (
           SELECT j, CAST(round(CAST(w9 AS DOUBLE) / nrm * 1e9) AS BIGINT) AS v9
           FROM w1_$i CROSS JOIN n1_$i)"""
    def comp2Iter(i: Int): String =
      s"""w2r_$i AS MATERIALIZED (
           SELECT cm.j, CAST(sum(CAST(round(cm.c * v.v9) AS BIGINT)) AS BIGINT) AS w9
           FROM cm JOIN v2_${i - 1} v ON cm.jk = v.j GROUP BY 1),
         d2_$i AS (SELECT CAST(sum(CAST(round(CAST(w.w9 AS DOUBLE) * u.v9 / 1e9) AS BIGINT)) AS BIGINT) AS dot9
           FROM w2r_$i w JOIN v1_$iters u ON u.j = w.j),
         w2_$i AS MATERIALIZED (
           SELECT w.j, w.w9 - CAST(round(CAST(d.dot9 AS DOUBLE) * u.v9 / 1e9) AS BIGINT) AS w9
           FROM w2r_$i w JOIN v1_$iters u ON u.j = w.j CROSS JOIN d2_$i d),
         n2_$i AS (SELECT sqrt(CAST(sum(CAST(w9 AS HUGEINT) * w9) AS DOUBLE)) AS nrm FROM w2_$i),
         v2_$i AS MATERIALIZED (
           SELECT j, CAST(round(CAST(w9 AS DOUBLE) / nrm * 1e9) AS BIGINT) AS v9
           FROM w2_$i CROSS JOIN n2_$i)"""
    s"""WITH x9 AS MATERIALIZED (
           SELECT vec_id AS id, u.j, CAST(round(u.x * 1e9) AS BIGINT) AS x9
           FROM (SELECT vec_id, unnest(list_transform(range(1, len(v) + 1),
                   i -> struct_pack(j := i - 1, x := v[i]))) AS u
                 FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings))),
         nn AS (SELECT CAST(count(DISTINCT id) AS DOUBLE) AS nd FROM x9),
         m AS MATERIALIZED (
           SELECT j, CAST(round(CAST(sum(CAST(x9 AS HUGEINT)) AS DOUBLE) / nd) AS BIGINT) AS m9
           FROM x9 CROSS JOIN nn GROUP BY j, nd),
         cx AS MATERIALIZED (
           SELECT id, x9.j, x9 - m9 AS c9 FROM x9 JOIN m ON x9.j = m.j),
         cm AS MATERIALIZED (
           SELECT a.j AS j, b.j AS jk,
                  CAST(sum(CAST(a.c9 AS HUGEINT) * b.c9) AS DOUBLE) / 1e18 / nd AS c
           FROM cx a JOIN cx b ON a.id = b.id CROSS JOIN nn GROUP BY 1, 2, nd),
         dimn AS (SELECT CAST(max(j) + 1 AS DOUBLE) AS dim FROM cm),
         js AS (SELECT DISTINCT j FROM m),
         v1_0 AS MATERIALIZED (
           SELECT j, CAST(round(1e9 / sqrt(dim)) AS BIGINT) AS v9
           FROM js CROSS JOIN dimn),
         ${(1 to iters).map(comp1Iter).mkString(",\n         ")},
         v2_0 AS MATERIALIZED (SELECT j, v9 FROM v1_0),
         ${(1 to iters).map(comp2Iter).mkString(",\n         ")},
         pr1 AS (SELECT cx.id,
                   CAST(sum(CAST(round(CAST(c9 AS DOUBLE) * v.v9 / 1e9) AS BIGINT)) AS BIGINT) AS s9
                 FROM cx JOIN v1_$iters v ON cx.j = v.j GROUP BY 1),
         pr2 AS (SELECT cx.id,
                   CAST(sum(CAST(round(CAST(c9 AS DOUBLE) * v.v9 / 1e9) AS BIGINT)) AS BIGINT) AS s9
                 FROM cx JOIN v2_$iters v ON cx.j = v.j GROUP BY 1)
         SELECT p1.id AS vec_id,
                round(CAST(p1.s9 AS DOUBLE) / 1e9, 4) AS pc1,
                round(CAST(p2.s9 AS DOUBLE) / 1e9, 4) AS pc2
         FROM pr1 p1 JOIN pr2 p2 ON p1.id = p2.id ORDER BY vec_id"""
  }

  /** Unrolled pinned-long GD logistic-regression twin of
    * [[graft.ml.PinnedLogit.metricsReport]] over the q29 windowed
    * features: exact integer margins/gradients on weighted distinct
    * rows, 1e-9-pinned sigmoid (the only transcendental), integer
    * confusion counts and doubled-midrank AUC. */
  /** The unrolled pinned-GD fit CTE block shared by the q32 metrics and
    * q48 importance twins — WITH-body through `b$iters` (the fitted
    * 1e-12-grid coefficient row). */
  private def pinnedLogitFitCtes(iters: Int, lr: Double): String = {
    val fs = Seq("n_click", "n_error", "n_purchase", "n_signup", "n_view")
    def z12(b: String) =
      s"$b.b0 + " + fs.zipWithIndex.map { case (f, j) => s"$b.b${j + 1} * $f" }.mkString(" + ")
    def p9(b: String) =
      s"CAST(round(1e9 / (1.0 + exp(-(CAST(${z12(b)} AS DOUBLE) / 1e12)))) AS BIGINT)"
    val iterCtes = (1 to iters).map { i =>
      val resid = s"CAST(w AS HUGEINT) * (label * 1000000000 - ${p9("b")})"
      val gcols = (s"CAST(sum($resid) AS HUGEINT) AS g0" +:
        fs.zipWithIndex.map { case (f, j) =>
          s"CAST(sum($resid * $f) AS HUGEINT) AS g${j + 1}" }).mkString(",\n             ")
      val bcols = (0 to fs.size).map { j =>
        s"b.b$j + CAST(round(${dlit(lr)} * CAST(g.g$j AS DOUBLE) * 1e3 / nn.nd) AS BIGINT) AS b$j"
      }.mkString(",\n             ")
      s"""g$i AS (SELECT
             $gcols
           FROM ws CROSS JOIN b${i - 1} b),
         b$i AS MATERIALIZED (SELECT
             $bcols
           FROM b${i - 1} b CROSS JOIN g$i g CROSS JOIN nn)"""
    }.mkString(",\n         ")
    val featCases = fs.map(f =>
      s"count(CASE WHEN event_type = '${f.stripPrefix("n_")}' THEN 1 END) AS $f")
      .mkString(",\n             ")
    s"""feats AS MATERIALIZED (
           SELECT window_id,
             $featCases,
             max(CASE WHEN event_type = 'error' AND value > 300 THEN 1 ELSE 0 END) AS label
           FROM (SELECT (row_number() OVER (ORDER BY event_id) - 1) // 5 AS window_id,
                        event_type, value
                 FROM events) t
           GROUP BY window_id),
         ws AS MATERIALIZED (
           SELECT ${fs.mkString(", ")}, CAST(label AS BIGINT) AS label,
                  CAST(count(*) AS BIGINT) AS w
           FROM feats GROUP BY ${(1 to fs.size + 1).mkString(", ")}),
         nn AS (SELECT CAST(sum(w) AS DOUBLE) AS nd FROM ws),
         b0 AS (SELECT ${(0 to fs.size).map(j => s"CAST(0 AS BIGINT) AS b$j").mkString(", ")}),
         $iterCtes"""
  }

  private val LogitFeatures =
    Seq("n_click", "n_error", "n_purchase", "n_signup", "n_view")

  /** q161 twin: unrolled pinned-stump boosting
    * ([[graft.ml.PinnedGbt]]) over the q29 windowed features. Per round:
    * melt the weighted rows, score every (feature, threshold) stump by
    * the exact-integer variance-reduction gain (one double conversion at
    * the comparison), pick the (gain DESC, f, t) argmax, pin the leaf
    * deltas and the round's gain to long grids, update predictions.
    * Importance = per-feature share of total pinned gain. */
  private def pinnedGbtImportanceSql(iters: Int, lr: Double): String = {
    val fs = LogitFeatures
    def melt(ws: String) = fs.map(f =>
      s"""SELECT '$f' AS f, CAST($f AS BIGINT) AS xv, w,
                label * 1000000000000 - p12 AS r12 FROM $ws""")
      .mkString("\n           UNION ALL ")
    val pick = fs.map(f => s"WHEN '$f' THEN CAST($f AS BIGINT)").mkString(" ")
    val rounds = (1 to iters).map { i =>
      s"""m$i AS (
           ${melt(s"ws${i - 1}")}),
         c$i AS (
           SELECT th.f, th.t,
             sum(CASE WHEN m.xv <= th.t
                 THEN CAST(m.w AS HUGEINT) * m.r12 ELSE 0 END) AS sl,
             CAST(sum(CASE WHEN m.xv <= th.t THEN m.w ELSE 0 END) AS BIGINT) AS wl,
             sum(CAST(m.w AS HUGEINT) * m.r12) AS s,
             CAST(sum(m.w) AS BIGINT) AS wt
           FROM m$i m JOIN th ON th.f = m.f GROUP BY 1, 2),
         b$i AS MATERIALIZED (
           SELECT f, t,
             CAST(round(${dlit(lr)} * CAST(sl AS DOUBLE) / wl) AS BIGINT) AS vl,
             CAST(round(${dlit(lr)} * CAST(s - sl AS DOUBLE) / (wt - wl)) AS BIGINT) AS vr,
             CAST(round(gain / 1e12) AS BIGINT) AS g12
           FROM (SELECT *,
                   CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE) / wl
                     + CAST(s - sl AS DOUBLE) * CAST(s - sl AS DOUBLE) / (wt - wl)
                     - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / wt AS gain
                 FROM c$i WHERE wl > 0 AND wt - wl > 0)
           ORDER BY gain DESC, f, t LIMIT 1),
         ws$i AS MATERIALIZED (
           SELECT ${fs.mkString(", ")}, label, w,
             p12 + CASE WHEN (CASE b.f $pick END) <= b.t
                   THEN b.vl ELSE b.vr END AS p12
           FROM ws${i - 1} CROSS JOIN b$i b)"""
    }.mkString(",\n         ")
    val featCases = fs.map(f =>
      s"count(CASE WHEN event_type = '${f.stripPrefix("n_")}' THEN 1 END) AS $f")
      .mkString(",\n             ")
    s"""WITH feats AS MATERIALIZED (
           SELECT window_id,
             $featCases,
             max(CASE WHEN event_type = 'error' AND value > 300 THEN 1 ELSE 0 END) AS label
           FROM (SELECT (row_number() OVER (ORDER BY event_id) - 1) // 5 AS window_id,
                        event_type, value
                 FROM events) t
           GROUP BY window_id),
         ws AS MATERIALIZED (
           SELECT ${fs.mkString(", ")}, CAST(label AS BIGINT) AS label,
                  CAST(count(*) AS BIGINT) AS w
           FROM feats GROUP BY ${(1 to fs.size + 1).mkString(", ")}),
         tv AS (${fs.map(f => s"SELECT '$f' AS f, CAST($f AS BIGINT) AS t FROM ws")
        .mkString("\n           UNION ALL ")}),
         th AS (SELECT f, t FROM (
             SELECT DISTINCT f, t, max(t) OVER (PARTITION BY f) AS mx FROM tv)
           WHERE t < mx),
         pz AS (SELECT CAST(round(1e12 * CAST(sum(w * label) AS DOUBLE) / sum(w)) AS BIGINT) AS p12
                FROM ws),
         ws0 AS MATERIALIZED (
           SELECT ${fs.mkString(", ")}, label, w, pz.p12 FROM ws CROSS JOIN pz),
         $rounds,
         gains AS (${(1 to iters).map(i => s"SELECT f, g12 FROM b$i")
        .mkString("\n           UNION ALL ")}),
         agg AS (SELECT f, sum(g12) AS gf FROM gains GROUP BY 1),
         tot AS (SELECT sum(g12) AS gt FROM gains)
         SELECT feature, importance FROM (
           SELECT ff.f AS feature,
                  CASE WHEN tot.gt > 0
                    THEN round(CAST(coalesce(agg.gf, 0) AS DOUBLE)
                               / CAST(tot.gt AS DOUBLE), 6)
                    ELSE 0.0 END AS importance
           FROM (VALUES ${fs.map(f => s"('$f')").mkString(", ")}) ff(f)
           LEFT JOIN agg ON agg.f = ff.f CROSS JOIN tot)
         ORDER BY importance DESC, feature"""
  }

  /** q306 twin: unrolled pinned rank-2 ALS ([[graft.ml.PinnedAls]]) over
    * the customer×part co-purchase counts. Per half-step: exact HUGEINT
    * Gram/moment sums, λ added to the diagonal in double, closed-form
    * 2×2 solve, 1e-6 grid pin; readout = latent cosine to the minimum
    * item id, top-k by (cos desc, item). */
  private def pinnedAlsSql(lambda: Double, sweeps: Int, k: Int): String = {
    val lam = dlit(lambda)
    def half(fTab: String, joinK: String, groupK: String, outTab: String) =
      s"""${outTab}_s AS (
           SELECT r.$groupK AS g,
             sum(CAST(f.v1 AS HUGEINT) * f.v1) AS a11,
             sum(CAST(f.v1 AS HUGEINT) * f.v2) AS a12,
             sum(CAST(f.v2 AS HUGEINT) * f.v2) AS a22,
             sum(CAST(r.rt AS HUGEINT) * f.v1) AS b1,
             sum(CAST(r.rt AS HUGEINT) * f.v2) AS b2
           FROM r JOIN $fTab f ON f.k = r.$joinK GROUP BY 1),
         $outTab AS MATERIALIZED (
           SELECT g AS k,
             CAST(round((a22d * b1d - a12d * b2d) / det * 1e6) AS BIGINT) AS v1,
             CAST(round((a11d * b2d - a12d * b1d) / det * 1e6) AS BIGINT) AS v2
           FROM (SELECT *, a11d * a22d - a12d * a12d AS det FROM (
             SELECT g, CAST(a11 AS DOUBLE) / 1e12 + $lam AS a11d,
                    CAST(a12 AS DOUBLE) / 1e12 AS a12d,
                    CAST(a22 AS DOUBLE) / 1e12 + $lam AS a22d,
                    CAST(b1 AS DOUBLE) / 1e6 AS b1d,
                    CAST(b2 AS DOUBLE) / 1e6 AS b2d
             FROM ${outTab}_s)))"""
    val rounds = (1 to sweeps).map { s =>
      half(s"if${s - 1}", "it", "u", s"uf$s") + ",\n         " +
        half(s"uf$s", "u", "it", s"if$s")
    }.mkString(",\n         ")
    s"""WITH r AS MATERIALIZED (
           SELECT o.o_custkey AS u, l.l_partkey AS it,
                  CAST(count(*) AS BIGINT) AS rt
           FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
           GROUP BY 1, 2),
         if0 AS MATERIALIZED (
           SELECT it AS k, CAST(1000000 AS BIGINT) AS v1,
                  CAST((it % 1000 + 1) * 1000 AS BIGINT) AS v2
           FROM (SELECT DISTINCT it FROM r)),
         $rounds,
         an AS (SELECT * FROM if$sweeps
                WHERE k = (SELECT min(k) FROM if$sweeps))
         SELECT item, round(c, 4) AS sim FROM (
           SELECT f.k AS item,
             (CAST(f.v1 AS DOUBLE) * a.v1 + CAST(f.v2 AS DOUBLE) * a.v2)
             / (sqrt(CAST(f.v1 AS DOUBLE) * f.v1 + CAST(f.v2 AS DOUBLE) * f.v2)
                * sqrt(CAST(a.v1 AS DOUBLE) * a.v1 + CAST(a.v2 AS DOUBLE) * a.v2)) AS c
           FROM if$sweeps f CROSS JOIN an a WHERE f.k <> a.k)
         ORDER BY c DESC, item LIMIT $k"""
  }

  private def pinnedLogitSql(iters: Int, lr: Double): String = {
    val z12 = s"b.b0 + " + LogitFeatures.zipWithIndex
      .map { case (f, j) => s"b.b${j + 1} * $f" }.mkString(" + ")
    s"""WITH ${pinnedLogitFitCtes(iters, lr)},
         sc AS MATERIALIZED (
           SELECT label, w, $z12 AS z12 FROM ws CROSS JOIN b$iters b),
         cts AS (SELECT
             CAST(sum(CASE WHEN label = 1 AND z12 > 0 THEN w ELSE 0 END) AS BIGINT) AS tp,
             CAST(sum(CASE WHEN label = 0 AND z12 > 0 THEN w ELSE 0 END) AS BIGINT) AS fp,
             CAST(sum(CASE WHEN label = 1 AND z12 <= 0 THEN w ELSE 0 END) AS BIGINT) AS fn,
             CAST(sum(w) AS BIGINT) AS n,
             CAST(sum(CASE WHEN (label = 1) = (z12 > 0) THEN w ELSE 0 END) AS BIGINT) AS corr
           FROM sc),
         gr AS (SELECT z12, CAST(sum(w) AS BIGINT) AS cnt,
                  CAST(sum(CASE WHEN label = 1 THEN w ELSE 0 END) AS BIGINT) AS npos
                FROM sc GROUP BY 1),
         cum AS (SELECT cnt, npos,
                   coalesce(sum(cnt) OVER (ORDER BY z12
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
                 FROM gr),
         au AS (SELECT CAST(sum(npos * (cb * 2 + cnt + 1)) AS BIGINT) AS rp2,
                       CAST(sum(npos) AS BIGINT) AS np,
                       CAST(sum(cnt - npos) AS BIGINT) AS nneg
                FROM cum)
         SELECT metric, value FROM (
           SELECT 'precision' AS metric,
             CASE WHEN tp + fp = 0 THEN 0.0 ELSE CAST(tp AS DOUBLE) / (tp + fp) END AS value FROM cts
           UNION ALL SELECT 'recall',
             CASE WHEN tp + fn = 0 THEN 0.0 ELSE CAST(tp AS DOUBLE) / (tp + fn) END FROM cts
           UNION ALL SELECT 'accuracy',
             CASE WHEN n = 0 THEN 0.0 ELSE CAST(corr AS DOUBLE) / n END FROM cts
           UNION ALL SELECT 'auc',
             CASE WHEN np > 0 AND nneg > 0
               THEN CAST(rp2 - np * (np + 1) AS DOUBLE) / (${dlit(2.0)} * np * nneg) END FROM au)
         ORDER BY metric"""
  }

  /** q48 twin: |coefficient| importance from the same unrolled fit. */
  private def pinnedLogitImportanceSql(iters: Int, lr: Double): String = {
    val rows = LogitFeatures.zipWithIndex.map { case (f, j) =>
      s"SELECT '$f' AS feature, CAST(abs(b${j + 1}) AS DOUBLE) / 1e12 AS importance FROM b$iters"
    }
    s"""WITH ${pinnedLogitFitCtes(iters, lr)}
         SELECT feature, importance FROM (
           ${rows.mkString("\n           UNION ALL ")})
         ORDER BY importance DESC, feature"""
  }

  /** Unrolled pinned-long HITS twin of [[graft.graph.Hits.authorities]]
    * over the per-user top-2 event-type bipartite graph — the M = EᵀE
    * formulation: exact integer M·a folds and h² = aᵀ(Ma), grid-pinned
    * intermediate, exact closing L2 normalization (the q35 v-step). */
  private def hitsOracleSql(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""ar$i AS MATERIALIZED (
           SELECT m.i, sum(CAST(m.m AS HUGEINT) * a.a9) AS ar
           FROM m JOIN a${i - 1} a ON a.i = m.j GROUP BY 1),
         h2$i AS (SELECT sum(CAST(a.a9 AS HUGEINT) * r.ar) AS h2
                  FROM ar$i r JOIN a${i - 1} a ON a.i = r.i),
         w$i AS MATERIALIZED (
           SELECT i, CAST(round(CAST(ar AS DOUBLE) / sqrt(CAST(h2 AS DOUBLE)) * 1e9) AS BIGINT) AS w9
           FROM ar$i CROSS JOIN h2$i),
         n2$i AS (SELECT sum(CAST(w9 AS HUGEINT) * w9) AS n2 FROM w$i),
         a$i AS MATERIALIZED (
           SELECT i, CAST(round(CAST(w9 AS DOUBLE) / sqrt(CAST(n2 AS DOUBLE)) * 1e9) AS BIGINT) AS a9
           FROM w$i CROSS JOIN n2$i)"""
    }.mkString(",\n         ")
    s"""WITH cnt AS (SELECT user_id, event_type, count(*) AS n
           FROM events GROUP BY 1, 2),
         rk AS (SELECT user_id, event_type,
                  row_number() OVER (PARTITION BY user_id ORDER BY n DESC, event_type) AS r
                FROM cnt),
         e AS MATERIALIZED (SELECT user_id AS u, event_type AS i FROM rk WHERE r <= 2),
         m AS MATERIALIZED (
           SELECT a.i AS i, b.i AS j, CAST(count(*) AS BIGINT) AS m
           FROM e a JOIN e b ON a.u = b.u GROUP BY 1, 2),
         a0 AS MATERIALIZED (SELECT DISTINCT i, CAST(1000000000 AS BIGINT) AS a9 FROM m),
         $rounds
         SELECT i AS item, round(CAST(a9 AS DOUBLE) / 1e9, 6) AS authority
         FROM a$iters ORDER BY item"""
  }

  /** Unrolled k-truss support peel (graph.KTruss.truss, k = 4) over the
    * co-purchase graph — per round: wedge-closure triangles, 3-way edge
    * support, `>= k-2` filter. The peel is a monotone fixpoint, so
    * rounds past convergence are exact no-ops (the q139 argument). */
  private def ktrussOracleSql(rounds: Int, k: Int): String = {
    val peel = (1 to rounds).map { i =>
      s"""tri$i AS MATERIALIZED (
           SELECT x.a AS ta, x.b AS tb, y.b AS tc
           FROM e${i - 1} x JOIN e${i - 1} y ON y.a = x.b
           JOIN e${i - 1} z ON z.a = x.a AND z.b = y.b),
         e$i AS MATERIALIZED (
           SELECT u AS a, v AS b FROM (
             SELECT ta AS u, tb AS v FROM tri$i
             UNION ALL SELECT tb, tc FROM tri$i
             UNION ALL SELECT ta, tc FROM tri$i)
           GROUP BY 1, 2 HAVING count(*) >= ${k - 2})"""
    }.mkString(",\n         ")
    s"""WITH inst AS (SELECT DISTINCT a.l_orderkey AS o, a.l_partkey AS ea, b.l_partkey AS eb
           FROM lineitem a JOIN lineitem b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
         e0 AS MATERIALIZED (
           SELECT ea AS a, eb AS b FROM inst GROUP BY ea, eb HAVING count(*) >= 2),
         $peel
         SELECT CAST($k AS INTEGER) AS k,
                (SELECT count(*) FROM e$rounds) AS n_edges,
                (SELECT count(DISTINCT v) FROM
                  (SELECT a AS v FROM e$rounds UNION ALL SELECT b FROM e$rounds)) AS n_nodes"""
  }

  /** Unrolled greedy k-center twin of [[graft.sim.KCenter.greedy]]:
    * pinned-long squared distances (per-term 1e-9 grid, exact sums), k−1
    * argmax steps each MATERIALIZED (the center row and the shrinking
    * min-distance frame). */
  private def kcenterOracleSql(k: Int): String = {
    val d9 = """CAST(list_sum(list_transform(range(1, len(e.v) + 1),
             t -> CAST(round((e.v[t] - c.v[t]) * (e.v[t] - c.v[t]) * 1e9) AS BIGINT))) AS BIGINT)"""
    val steps = (2 to k).map { i =>
      s"""c$i AS MATERIALIZED (
           SELECT e.id, e.v, d.d9 FROM emb e JOIN d${i - 1} d ON d.id = e.id
           ORDER BY d.d9 DESC, e.id LIMIT 1),
         d$i AS MATERIALIZED (
           SELECT e.id, least(d.d9, $d9) AS d9
           FROM emb e JOIN d${i - 1} d ON d.id = e.id CROSS JOIN c$i c)"""
    }.mkString(",\n         ")
    val out = (s"SELECT 1 AS step, id, CAST(NULL AS DOUBLE) AS radius FROM c1" +:
      (2 to k).map(i =>
        s"SELECT $i, id, round(sqrt(CAST(d9 AS DOUBLE) / 1e9), 6) FROM c$i"))
      .mkString("\n           UNION ALL ")
    s"""WITH emb AS MATERIALIZED (
           SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
         c1 AS MATERIALIZED (SELECT id, v FROM emb ORDER BY id LIMIT 1),
         d1 AS MATERIALIZED (
           SELECT e.id, $d9 AS d9 FROM emb e CROSS JOIN c1 c),
         $steps
         SELECT step, id, radius FROM (
           $out)
         ORDER BY step"""
  }

  /** Unrolled MMR twin of [[graft.sim.KCenter]]'s Mmr.rerank over the
    * label-0 pinned centroid: pool = cosine top-`poolSize`, then `k`
    * greedy argmax steps of `λ·rel − (1−λ)·max-sim-to-selected`, each
    * MATERIALIZED; double constants via [[dlit]] so `1−λ` carries the
    * engine's exact IEEE value. */
  private def mmrOracleSql(poolSize: Int, k: Int, lambda: Double): String = {
    val steps = (2 to k).map { i =>
      s"""s$i AS MATERIALIZED (
           SELECT p.id, p.v, p.sim,
             ${dlit(lambda)} * p.sim - ${dlit(1 - lambda)} *
               (SELECT max(list_cosine_similarity(p.v, s.v)) FROM sel${i - 1} s) AS score
           FROM pool p
           WHERE p.id NOT IN (SELECT id FROM sel${i - 1})
           ORDER BY score DESC, p.id LIMIT 1),
         sel$i AS MATERIALIZED (
           SELECT id, v FROM sel${i - 1} UNION ALL SELECT id, v FROM s$i)"""
    }.mkString(",\n         ")
    val out = (s"SELECT 1 AS rank, id, sim, score FROM s1" +:
      (2 to k).map(i => s"SELECT $i, id, sim, score FROM s$i"))
      .mkString("\n           UNION ALL ")
    s"""WITH emb AS MATERIALIZED (
           SELECT vec_id AS id, embedding::DOUBLE[] AS v, label FROM embeddings),
         ex AS (SELECT u.j, CAST(round(u.x * 1e9) AS BIGINT) AS x9 FROM (
             SELECT unnest(list_transform(range(1, len(v) + 1),
               i -> struct_pack(j := i, x := v[i]))) AS u
             FROM emb WHERE label = 0)),
         cen AS MATERIALIZED (
           SELECT j, CAST(round(CAST(sum(CAST(x9 AS HUGEINT)) AS DOUBLE) / count(*)) AS BIGINT) AS m9
           FROM ex GROUP BY j),
         cvec AS MATERIALIZED (
           SELECT list(CAST(m9 AS DOUBLE) / 1e9 ORDER BY j) AS cv FROM cen),
         scored AS (SELECT e.id, e.v, list_cosine_similarity(e.v, c.cv) AS sim
                    FROM emb e CROSS JOIN cvec c),
         pool AS MATERIALIZED (
           SELECT id, v, sim FROM (
             SELECT *, row_number() OVER (ORDER BY sim DESC, id) AS rn FROM scored)
           WHERE rn <= $poolSize),
         s1 AS MATERIALIZED (
           SELECT id, v, sim, ${dlit(lambda)} * sim - ${dlit(1 - lambda)} * 0.0 AS score
           FROM pool ORDER BY score DESC, id LIMIT 1),
         sel1 AS MATERIALIZED (SELECT id, v FROM s1),
         $steps
         SELECT rank, id, round(sim, 6) AS relevance, round(score, 6) AS mmr_score
         FROM ($out)
         ORDER BY rank"""
  }

  /** Isotonic-calibration twin of [[graft.ml.Isotonic.calibrate]] over
    * the q222 LOO-target-encoded score: PAV expressed by the classical
    * MINIMAX identity `iso(i) = max_{j≤i} min_{k≥i} avg(y over [j..k])`
    * — no sequential pooling needed, and the optimal (j,k) block IS the
    * PAV pool, so the emitted division is the identical integer ratio.
    * B² interval rows over ≤ |cats| bins — trivial. */
  private def isotonicOracleSql: String =
    s"""WITH ev AS (
           SELECT event_type || '_' || CAST(dayofweek(ts) AS VARCHAR) AS cat,
                  CASE WHEN value > 50 THEN 1 ELSE 0 END AS y
           FROM events),
         st AS (SELECT cat, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS s
                FROM ev GROUP BY 1),
         gl AS (SELECT CAST(sum(y) AS DOUBLE) / count(*) AS prior FROM ev),
         scored AS (
           SELECT round(round((st.s - ev.y + ${dlit(10.0)} * gl.prior)
                    / (st.n - 1 + ${dlit(10.0)}), 6), 3) AS bin_score,
                  CAST(ev.y AS BIGINT) AS y
           FROM ev JOIN st USING (cat) CROSS JOIN gl),
         bins AS MATERIALIZED (
           SELECT bin_score, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS pos
           FROM scored GROUP BY 1),
         idx AS MATERIALIZED (
           SELECT bin_score, n, pos, row_number() OVER (ORDER BY bin_score) AS i
           FROM bins),
         cum AS MATERIALIZED (
           SELECT i, bin_score, n, pos,
                  CAST(sum(n) OVER (ORDER BY i) AS BIGINT) AS cn,
                  CAST(sum(pos) OVER (ORDER BY i) AS BIGINT) AS cp
           FROM idx),
         a AS MATERIALIZED (
           SELECT j.i AS j, k.i AS k,
                  CAST(k.cp - coalesce(jm.cp, 0) AS DOUBLE)
                    / (k.cn - coalesce(jm.cn, 0)) AS av
           FROM cum j JOIN cum k ON k.i >= j.i
           LEFT JOIN cum jm ON jm.i = j.i - 1),
         mrun AS MATERIALIZED (
           SELECT j, k AS i,
                  min(av) OVER (PARTITION BY j ORDER BY k DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mn
           FROM a),
         iso AS (SELECT i, max(mn) AS iso FROM mrun GROUP BY 1)
         SELECT c.bin_score, c.n, c.pos,
                round(CAST(c.pos AS DOUBLE) / c.n, 6) AS rate,
                round(iso.iso, 6) AS iso_rate
         FROM idx c JOIN iso ON iso.i = c.i
         ORDER BY c.bin_score"""

  /** Unrolled pinned-long spherical k-means twin of
    * [[graft.sim.Similarity.kmeansAssign]] (k clusters, `iters` Lloyd
    * rounds): 1e-6-grid coordinates, 1e-9-grid normalized centroids,
    * exact integer dot/mean/normalization pieces — the q97/q35 pattern
    * on Lloyd's loop. Final readout mirrors the q98 entry (counts +
    * exact-integer avg of the 4-dp sims). */
  private def kmeansOracleSql(k: Int, iters: Int): String = {
    val simExpr = """CASE WHEN nv.nv12 > 0
             THEN CAST(d.dot9 AS DOUBLE) / sqrt(CAST(nv.nv12 AS DOUBLE)) / 1e3
             ELSE 0.0 END"""
    def asgCte(i: Int, cent: String): String =
      s"""dt$i AS (SELECT x.id, c.c,
             CAST(sum(CAST(round(CAST(c.c9 * x.x6 AS DOUBLE) / 1e6) AS BIGINT)) AS BIGINT) AS dot9
           FROM x6 x JOIN $cent c ON c.t = x.t GROUP BY 1, 2),
         asg$i AS MATERIALIZED (
           SELECT id, CAST(-((m).nc) AS INTEGER) AS cluster, (m).s AS sim FROM (
             SELECT d.id, max(struct_pack(s := $simExpr, nc := -d.c)) AS m
             FROM dt$i d JOIN nv12 nv ON nv.id = d.id
             GROUP BY 1) z)"""
    val rounds = (1 to iters).map { i =>
      s"""${asgCte(i, s"cent${i - 1}")},
         up$i AS (SELECT a.cluster AS c, x.t,
             CAST(round(CAST(sum(CAST(x.x6 AS HUGEINT)) AS DOUBLE) / count(*)) AS BIGINT) AS m6
           FROM asg$i a JOIN x6 x ON x.id = a.id GROUP BY 1, 2),
         n2$i AS (SELECT c, CAST(sum(m6 * m6) AS BIGINT) AS n2 FROM up$i GROUP BY 1),
         cent$i AS MATERIALIZED (
           SELECT p.c, p.t, coalesce(u.c9, p.c9) AS c9 FROM cent${i - 1} p
           LEFT JOIN (SELECT up.c, up.t,
               CASE WHEN n2.n2 > 0
                 THEN CAST(round(CAST(up.m6 AS DOUBLE) / sqrt(CAST(n2.n2 AS DOUBLE)) * 1e9) AS BIGINT)
                 ELSE up.m6 * 1000 END AS c9
             FROM up$i up JOIN n2$i n2 USING (c)) u
           ON u.c = p.c AND u.t = p.t)"""
    }.mkString(",\n         ")
    s"""WITH x6 AS MATERIALIZED (
           SELECT vec_id AS id, u.t, CAST(round(u.x * 1e6) AS BIGINT) AS x6
           FROM (SELECT vec_id, unnest(list_transform(range(1, len(v) + 1),
                   i -> struct_pack(t := i - 1, x := v[i]))) AS u
                 FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings))),
         nv12 AS MATERIALIZED (
           SELECT id, CAST(sum(x6 * x6) AS BIGINT) AS nv12 FROM x6 GROUP BY 1),
         fk AS (SELECT id, CAST(row_number() OVER (ORDER BY id) - 1 AS INTEGER) AS c
                FROM (SELECT DISTINCT id FROM x6 ORDER BY id LIMIT $k)),
         ig AS (SELECT f.c, x.t, x.x6 FROM fk f JOIN x6 x ON x.id = f.id),
         in2 AS (SELECT c, CAST(sum(x6 * x6) AS BIGINT) AS n2 FROM ig GROUP BY 1),
         cent0 AS MATERIALIZED (
           SELECT ig.c, ig.t,
             CASE WHEN in2.n2 > 0
               THEN CAST(round(CAST(ig.x6 AS DOUBLE) / sqrt(CAST(in2.n2 AS DOUBLE)) * 1e9) AS BIGINT)
               ELSE ig.x6 * 1000 END AS c9
           FROM ig JOIN in2 USING (c)),
         $rounds,
         ${asgCte(iters + 1, s"cent$iters")}
         SELECT cluster, CAST(count(*) AS BIGINT) AS n,
                round(CAST(sum(CAST(round(round(sim, 4) * 1e4) AS BIGINT)) AS DOUBLE)
                  / count(*) / 1e4, 4) AS avg_sim
         FROM asg${iters + 1} GROUP BY 1 ORDER BY cluster"""
  }

  /** Unrolled twin of [[graft.sim.Similarity.ivfTopKPinned]]: the q98
    * pinned-Lloyd recurrence over the data side (`vec_id >= 5`), then
    * list assignment by the same sim argmax, probe selection by exact
    * integer dot9 rank, candidate join, and the q23 cosine top-k. */
  private def ivfOracleSql(k: Int, iters: Int, nProbe: Int,
                           topK: Int): String = {
    val simExpr = """CASE WHEN nv.nv12 > 0
             THEN CAST(d.dot9 AS DOUBLE) / sqrt(CAST(nv.nv12 AS DOUBLE)) / 1e3
             ELSE 0.0 END"""
    def asgCte(i: Int, cent: String): String =
      s"""dt$i AS (SELECT x.id, c.c,
             CAST(sum(CAST(round(CAST(c.c9 * x.x6 AS DOUBLE) / 1e6) AS BIGINT)) AS BIGINT) AS dot9
           FROM x6 x JOIN $cent c ON c.t = x.t GROUP BY 1, 2),
         asg$i AS MATERIALIZED (
           SELECT id, CAST(-((m).nc) AS INTEGER) AS cluster, (m).s AS sim FROM (
             SELECT d.id, max(struct_pack(s := $simExpr, nc := -d.c)) AS m
             FROM dt$i d JOIN nv12 nv ON nv.id = d.id
             GROUP BY 1) z)"""
    val rounds = (1 to iters).map { i =>
      s"""${asgCte(i, s"cent${i - 1}")},
         up$i AS (SELECT a.cluster AS c, x.t,
             CAST(round(CAST(sum(CAST(x.x6 AS HUGEINT)) AS DOUBLE) / count(*)) AS BIGINT) AS m6
           FROM asg$i a JOIN x6 x ON x.id = a.id GROUP BY 1, 2),
         n2$i AS (SELECT c, CAST(sum(m6 * m6) AS BIGINT) AS n2 FROM up$i GROUP BY 1),
         cent$i AS MATERIALIZED (
           SELECT p.c, p.t, coalesce(u.c9, p.c9) AS c9 FROM cent${i - 1} p
           LEFT JOIN (SELECT up.c, up.t,
               CASE WHEN n2.n2 > 0
                 THEN CAST(round(CAST(up.m6 AS DOUBLE) / sqrt(CAST(n2.n2 AS DOUBLE)) * 1e9) AS BIGINT)
                 ELSE up.m6 * 1000 END AS c9
             FROM up$i up JOIN n2$i n2 USING (c)) u
           ON u.c = p.c AND u.t = p.t)"""
    }.mkString(",\n         ")
    s"""WITH dd AS MATERIALIZED (
           SELECT vec_id AS id, embedding::DOUBLE[] AS v
           FROM embeddings WHERE vec_id >= 5),
         qq AS MATERIALIZED (
           SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < 5),
         x6 AS MATERIALIZED (
           SELECT id, u.t, CAST(round(u.x * 1e6) AS BIGINT) AS x6
           FROM (SELECT id, unnest(list_transform(range(1, len(v) + 1),
                   i -> struct_pack(t := i - 1, x := v[i]))) AS u
                 FROM dd)),
         nv12 AS MATERIALIZED (
           SELECT id, CAST(sum(x6 * x6) AS BIGINT) AS nv12 FROM x6 GROUP BY 1),
         fk AS (SELECT id, CAST(row_number() OVER (ORDER BY id) - 1 AS INTEGER) AS c
                FROM (SELECT DISTINCT id FROM x6 ORDER BY id LIMIT $k)),
         ig AS (SELECT f.c, x.t, x.x6 FROM fk f JOIN x6 x ON x.id = f.id),
         in2 AS (SELECT c, CAST(sum(x6 * x6) AS BIGINT) AS n2 FROM ig GROUP BY 1),
         cent0 AS MATERIALIZED (
           SELECT ig.c, ig.t,
             CASE WHEN in2.n2 > 0
               THEN CAST(round(CAST(ig.x6 AS DOUBLE) / sqrt(CAST(in2.n2 AS DOUBLE)) * 1e9) AS BIGINT)
               ELSE ig.x6 * 1000 END AS c9
           FROM ig JOIN in2 USING (c)),
         $rounds,
         ${asgCte(iters + 1, s"cent$iters")},
         qx6 AS (
           SELECT qid, u.t, CAST(round(u.x * 1e6) AS BIGINT) AS x6
           FROM (SELECT qid, unnest(list_transform(range(1, len(qv) + 1),
                   i -> struct_pack(t := i - 1, x := qv[i]))) AS u
                 FROM qq)),
         qdt AS (SELECT x.qid, c.c,
             CAST(sum(CAST(round(CAST(c.c9 * x.x6 AS DOUBLE) / 1e6) AS BIGINT)) AS BIGINT) AS dot9
           FROM qx6 x JOIN cent$iters c ON c.t = x.t GROUP BY 1, 2),
         probe AS (
           SELECT qid, c FROM (
             SELECT qid, c,
                    row_number() OVER (PARTITION BY qid ORDER BY dot9 DESC, c) AS pr
             FROM qdt) z
           WHERE pr <= $nProbe),
         cand AS (
           SELECT p.qid, a.id FROM probe p
           JOIN asg${iters + 1} a ON a.cluster = p.c),
         scored AS (
           SELECT c.qid, c.id, list_cosine_similarity(q.qv, d.v) AS sim
           FROM cand c JOIN qq q ON q.qid = c.qid JOIN dd d ON d.id = c.id),
         ranked AS (
           SELECT qid, id, sim,
                  row_number() OVER (PARTITION BY qid ORDER BY sim DESC, id) AS rn
           FROM scored)
         SELECT qid, id, round(sim, 4) AS sim, rn
         FROM ranked WHERE rn <= $topK ORDER BY qid, rn"""
  }

  /** Unrolled twin of [[graft.sim.ProductQuantize.trainPinned]] +
    * [[graft.sim.ProductQuantize.msePinnedReport]]: per-subspace pinned
    * Lloyd on the 1e-6 grid (init = first `k` vectors by id sliced per
    * subspace, assignment = exact-integer squared-distance argmin with
    * lowest-code ties, update = `round(sum/count)` back onto the grid),
    * readout = exact integer error sums divided once at the end. */
  private def pqOracleSql(m: Int, k: Int, iters: Int): String = {
    def dtCte(i: Int, cent: String): String =
      s"""dt$i AS (
           SELECT x.id, x.sub, c.c,
                  sum(CAST((x.x6 - c.c6) * (x.x6 - c.c6) AS HUGEINT)) AS d2
           FROM xs x JOIN $cent c ON c.sub = x.sub AND c.p = x.p
           GROUP BY 1, 2, 3)"""
    val rounds = (1 to iters).map { i =>
      s"""${dtCte(i, s"cent${i - 1}")},
         asg$i AS MATERIALIZED (
           SELECT id, sub, (mm).c AS c FROM (
             SELECT id, sub, min(struct_pack(d2 := d2, c := c)) AS mm
             FROM dt$i GROUP BY 1, 2) z),
         cent$i AS MATERIALIZED (
           SELECT p0.sub, p0.c, p0.p, coalesce(u.c6, p0.c6) AS c6
           FROM cent${i - 1} p0 LEFT JOIN (
             SELECT a.sub, a.c, x.p,
                    CAST(round(CAST(sum(CAST(x.x6 AS HUGEINT)) AS DOUBLE)
                      / count(*)) AS BIGINT) AS c6
             FROM asg$i a JOIN xs x ON x.id = a.id AND x.sub = a.sub
             GROUP BY 1, 2, 3) u
           ON u.sub = p0.sub AND u.c = p0.c AND u.p = p0.p)"""
    }.mkString(",\n         ")
    s"""WITH x6 AS (
           SELECT vec_id AS id, u.t, CAST(round(u.x * 1e6) AS BIGINT) AS x6
           FROM (SELECT vec_id, unnest(list_transform(range(1, len(v) + 1),
                   i -> struct_pack(t := i - 1, x := v[i]))) AS u
                 FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings))),
         sd AS (SELECT (max(t) + 1) // $m AS subdim FROM x6),
         xs AS MATERIALIZED (
           SELECT id, t // (SELECT subdim FROM sd) AS sub,
                  t % (SELECT subdim FROM sd) AS p, x6
           FROM x6),
         fk AS (SELECT id, CAST(row_number() OVER (ORDER BY id) - 1 AS INTEGER) AS c
                FROM (SELECT DISTINCT id FROM xs ORDER BY id LIMIT $k)),
         cent0 AS MATERIALIZED (
           SELECT x.sub, f.c, x.p, x.x6 AS c6
           FROM fk f JOIN xs x ON x.id = f.id),
         $rounds,
         ${dtCte(iters + 1, s"cent$iters")},
         fin AS (SELECT id, sub, min(d2) AS d2 FROM dt${iters + 1} GROUP BY 1, 2)
         SELECT CAST(sub AS INTEGER) AS sub,
                round(CAST(sum(d2) AS DOUBLE) / count(*) / 1e12
                  / (SELECT subdim FROM sd), 6) AS mse
         FROM fin GROUP BY sub ORDER BY sub"""
  }

  /** Unrolled GLOBAL-GREEDY binary segmentation twin of
    * [[graft.analyze.Changepoint.binarySegmentation]]: `maxBreaks`
    * rounds, each splitting the per-key segment with the largest
    * absolute SSE reduction (fractional `minGain` gate); every SSE is
    * one double expression of exact integer prefix sums, argmins/argmax
    * realized as struct min/max with the engine's exact tie order. */
  private def binsegOracleSql(maxBreaks: Int, minGain: Double): String = {
    def sse(a: String, b: String): String =
      s"""(CAST($b.pss - $a.pss AS DOUBLE) / 1e12
         - (CAST($b.ps - $a.ps AS DOUBLE) / 1e6) * (CAST($b.ps - $a.ps AS DOUBLE) / 1e6)
           / ($b.idx - $a.idx))"""
    val steps = (1 to maxBreaks).map { r =>
      s"""bounds$r AS (SELECT k, b FROM br${r - 1}
           UNION ALL SELECT k, CAST(0 AS BIGINT) FROM kn
           UNION ALL SELECT k, n FROM kn),
         segs$r AS MATERIALIZED (
           SELECT k, lo, hi FROM (
             SELECT k, b AS lo, lead(b) OVER (PARTITION BY k ORDER BY b) AS hi
             FROM bounds$r)
           WHERE hi IS NOT NULL AND hi - lo >= 2),
         cand$r AS (
           SELECT s.k, s.lo, pt.idx AS t,
             ${sse("plo", "pt")} + ${sse("pt", "phi")} AS s2,
             ${sse("plo", "phi")} AS tot
           FROM segs$r s
           JOIN pre plo ON plo.k = s.k AND plo.idx = s.lo
           JOIN pre phi ON phi.k = s.k AND phi.idx = s.hi
           JOIN pre pt ON pt.k = s.k AND pt.idx > s.lo AND pt.idx < s.hi),
         best$r AS (
           SELECT k, lo, tot, (m).s2 AS s2, (m).t AS t FROM (
             SELECT k, lo, tot, min(struct_pack(s2 := s2, t := t)) AS m
             FROM cand$r GROUP BY 1, 2, 3) z),
         pick$r AS (
           SELECT k, (m).t AS t FROM (
             SELECT k, max(struct_pack(red := tot - s2, nlo := -lo, t := t)) AS m
             FROM best$r
             WHERE tot > 0 AND (tot - s2) / tot >= ${dlit(minGain)}
             GROUP BY 1) z),
         br$r AS MATERIALIZED (
           SELECT k, b FROM br${r - 1} UNION ALL SELECT k, t FROM pick$r)"""
    }.mkString(",\n         ")
    s"""WITH daily AS MATERIALIZED (
           SELECT event_type AS k, date_trunc('day', ts) AS day,
                  CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS y6
           FROM events GROUP BY 1, 2),
         idx AS MATERIALIZED (
           SELECT k, day, y6,
                  CAST(row_number() OVER (PARTITION BY k ORDER BY day) AS BIGINT) AS i
           FROM daily),
         pre AS MATERIALIZED (
           SELECT k, i AS idx,
                  CAST(sum(y6) OVER (PARTITION BY k ORDER BY i) AS BIGINT) AS ps,
                  sum(CAST(y6 AS HUGEINT) * y6) OVER (PARTITION BY k ORDER BY i) AS pss
           FROM idx
           UNION ALL
           SELECT DISTINCT k, CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS HUGEINT)
           FROM idx),
         kn AS (SELECT k, CAST(max(i) AS BIGINT) AS n FROM idx GROUP BY 1),
         br0 AS (SELECT k, i AS b FROM idx WHERE false),
         $steps
         SELECT b.k AS event_type, d.day AS break_day
         FROM br$maxBreaks b JOIN idx d ON d.k = b.k AND d.i = b.b + 1
         ORDER BY event_type, break_day"""
  }

  /** The unrolled BPE TRAINING rounds (text.BpeTrainer.trainOnHistogram
    * over the corpus word histogram): per round, adjacent-pair counts
    * (overlaps included — every position votes), the (freq desc, pair
    * asc) argmax as `b$r`, and the LEFT-TO-RIGHT NON-OVERLAPPING merge
    * realized by the gaps-and-islands alternation (consecutive matches
    * — possible only when left = right — keep odd ranks-in-run). Ends
    * with piece state `s$numMerges` and merge rows `b1..b$numMerges`. */
  private def bpeTrainCtes(numMerges: Int, maxVocabWords: Int): String = {
    val rounds = (1 to numMerges).map { r =>
      s"""pr$r AS MATERIALIZED (
           SELECT w, c, pos, sym,
                  lead(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt,
                  row_number() OVER (PARTITION BY w ORDER BY pos) AS o
           FROM s${r - 1}),
         b$r AS MATERIALIZED (
           SELECT sym AS l, nxt AS r, CAST(sum(c) AS BIGINT) AS f
           FROM pr$r WHERE nxt IS NOT NULL GROUP BY 1, 2
           ORDER BY f DESC, l, r LIMIT 1),
         mm$r AS MATERIALIZED (
           SELECT w, o FROM (
             SELECT w, o, row_number() OVER (PARTITION BY w, o - rn ORDER BY o) AS rin
             FROM (SELECT p.w, p.o,
                     row_number() OVER (PARTITION BY p.w ORDER BY p.o) AS rn
                   FROM pr$r p CROSS JOIN b$r b
                   WHERE p.sym = b.l AND p.nxt = b.r) z) z2
           WHERE rin % 2 = 1),
         s$r AS MATERIALIZED (
           SELECT p.w, p.c, p.pos,
                  CASE WHEN m.o IS NOT NULL THEN b.l || b.r ELSE p.sym END AS sym
           FROM pr$r p CROSS JOIN b$r b
           LEFT JOIN mm$r m ON m.w = p.w AND m.o = p.o
           LEFT JOIN mm$r m2 ON m2.w = p.w AND m2.o = p.o - 1
           WHERE m2.o IS NULL)"""
    }.mkString(",\n         ")
    s"""wc AS MATERIALIZED (
           SELECT w, CAST(count(*) AS BIGINT) AS c FROM (
             SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
             FROM documents)
           WHERE len(w) > 0 GROUP BY 1
           ORDER BY c DESC, w LIMIT $maxVocabWords),
         s0 AS MATERIALIZED (
           SELECT w, c, u.pos, u.sym FROM (
             SELECT w, c, unnest(list_transform(range(1, len(w) + 1),
               i -> struct_pack(pos := i, sym := w[i]))) AS u
             FROM wc)),
         $rounds"""
  }

  /** q76 twin: the merge table itself. */
  private def bpeMergesOracleSql(numMerges: Int): String = {
    val rows = (1 to numMerges).map(r =>
      s"""SELECT CAST(${r - 1} AS BIGINT) AS rank, l AS "left", r AS "right", f AS freq FROM b$r""")
      .mkString("\n           UNION ALL ")
    s"""WITH ${bpeTrainCtes(numMerges, 50000)}
         SELECT rank, "left", "right", freq FROM (
           $rows)
         ORDER BY rank"""
  }

  /** q84 twin: encode-side fertility. The ENCODE loop differs from
    * training-time merging (BpeEncoder.encodeWord: repeatedly merge the
    * single lowest-rank pair, FIRST position on rank ties) — unrolled to
    * `encodeRounds` single-merge rounds per distinct word (rounds past
    * the fixpoint are no-ops), then per-doc piece sums. */
  private def bpeFertilityOracleSql(numMerges: Int, encodeRounds: Int): String = {
    val enc = (1 to encodeRounds).map { j =>
      s"""ep$j AS MATERIALIZED (
           SELECT w, pos, sym,
                  lead(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt,
                  row_number() OVER (PARTITION BY w ORDER BY pos) AS o
           FROM e${j - 1}),
         eb$j AS (SELECT w, (min(struct_pack(rk := mt.rk, o := p.o))).o AS bo
                  FROM ep$j p JOIN mt ON mt.l = p.sym AND mt.r = p.nxt
                  GROUP BY w),
         e$j AS MATERIALIZED (
           SELECT p.w, p.pos,
                  CASE WHEN eb.bo = p.o THEN p.sym || p.nxt ELSE p.sym END AS sym
           FROM ep$j p LEFT JOIN eb$j eb ON eb.w = p.w
           WHERE eb.bo IS NULL OR p.o <> eb.bo + 1)"""
    }.mkString(",\n         ")
    val mtRows = (1 to numMerges).map(r =>
      s"SELECT CAST(${r - 1} AS BIGINT) AS rk, l, r FROM b$r")
      .mkString("\n           UNION ALL ")
    s"""WITH ${bpeTrainCtes(numMerges, 50000)},
         mt AS MATERIALIZED (
           $mtRows),
         dw AS MATERIALIZED (
           SELECT doc_id, u AS w FROM (
             SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS u
             FROM documents)
           WHERE len(u) > 0),
         e0 AS MATERIALIZED (
           SELECT w, u.pos, u.sym FROM (
             SELECT w, unnest(list_transform(range(1, len(w) + 1),
               i -> struct_pack(pos := i, sym := w[i]))) AS u
             FROM (SELECT DISTINCT w FROM dw))),
         $enc,
         pc AS (SELECT w, CAST(count(*) AS BIGINT) AS np
                FROM e$encodeRounds GROUP BY 1),
         agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
                        CAST(sum(np) AS BIGINT) AS n_subwords
                 FROM dw JOIN pc USING (w) GROUP BY 1)
         SELECT d.doc_id,
                coalesce(a.n_words, 0) AS n_words,
                coalesce(a.n_subwords, 0) AS n_subwords,
                CASE WHEN coalesce(a.n_words, 0) > 0
                  THEN round(CAST(a.n_subwords AS DOUBLE) / a.n_words, 4) END AS fertility
         FROM (SELECT DISTINCT doc_id FROM documents) d
         LEFT JOIN agg a USING (doc_id)
         ORDER BY d.doc_id"""
  }

  /** One unrolled pinned-integer Viterbi block (text.UnigramLm's DP):
    * positions 1..`maxLen` over the distinct-word frame `wrd`, exact
    * 1e9-grid log-prob sums from `$lp(piece, lp9)`, ties to the
    * smallest split (max struct (s9, −j)), then the `maxLen`-step
    * backtrace emitting one row per piece instance as `pcs_$tag`. */
  private def unigramViterbiCtes(tag: String, lp: String,
                                 maxLen: Int, pieceLen: Int): String = {
    val dp = (1 to maxLen).map { i =>
      val cands = (math.max(0, i - pieceLen) until i).map { j =>
        val prev = if (j == 0) s"${tag}b0" else s"${tag}b$j"
        s"""SELECT p.w, p.s9 AS prev, l.lp9, CAST($j AS BIGINT) AS j
           FROM $prev p JOIN $lp l ON l.piece = substr(p.w, ${j + 1}, ${i - j})
           WHERE len(p.w) >= $i"""
      }.mkString("\n             UNION ALL ")
      s"""${tag}b$i AS MATERIALIZED (
           SELECT w, (m).s9 AS s9, CAST(-((m).nj) AS BIGINT) AS bk FROM (
             SELECT w, max(struct_pack(s9 := prev + lp9, nj := -j)) AS m FROM (
             $cands) cand GROUP BY 1) z)"""
    }.mkString(",\n         ")
    val bt = (1 to maxLen).map(i =>
      s"SELECT w, CAST($i AS BIGINT) AS i, bk FROM ${tag}b$i")
      .mkString("\n           UNION ALL ")
    val chain = (1 to maxLen).map { s =>
      s"""${tag}c$s AS MATERIALIZED (
           SELECT c.w, bt.bk AS i,
                  substr(c.w, CAST(bt.bk + 1 AS INT), CAST(c.i - bt.bk AS INT)) AS piece
           FROM ${tag}c${s - 1} c JOIN ${tag}bt bt ON bt.w = c.w AND bt.i = c.i
           WHERE c.i > 0)"""
    }.mkString(",\n         ")
    val pcs = (1 to maxLen).map(s => s"SELECT w, piece FROM ${tag}c$s")
      .mkString("\n           UNION ALL ")
    s"""${tag}b0 AS (SELECT w, CAST(0 AS BIGINT) AS s9 FROM wrd),
         $dp,
         ${tag}bt AS MATERIALIZED (
           $bt),
         ${tag}c0 AS (SELECT w, CAST(len(w) AS BIGINT) AS i FROM wrd WHERE len(w) > 0),
         $chain,
         pcs_$tag AS MATERIALIZED (
           $pcs)"""
  }

  /** The unigram-LM EM fit as unrolled CTEs (text.UnigramLm.fit):
    * substring seed (top `vocabSize` by (freq, piece) + every single
    * char), then `rounds` EM rounds of pinned-Viterbi counts and the
    * ×10-grid mass update (the ε floor is exactly +1 on that grid).
    * Ends with `inv$rounds`, `t$rounds` and the last counts
    * `cn$rounds`. */
  private def unigramFitCtes(rounds: Int, vocabSize: Int, pieceLen: Int,
                             maxLen: Int): String = {
    val em = (1 to rounds).map { r =>
      s"""lp$r AS MATERIALIZED (
           SELECT piece, CAST(round(ln(CAST(m10 AS DOUBLE) / t) * 1e9) AS BIGINT) AS lp9
           FROM inv${r - 1} CROSS JOIN t${r - 1}),
         ${unigramViterbiCtes(s"v$r", s"lp$r", maxLen, pieceLen)},
         cn$r AS MATERIALIZED (
           SELECT piece, CAST(sum(wc) AS BIGINT) AS c
           FROM pcs_v$r JOIN wrd USING (w) GROUP BY 1),
         inv$r AS MATERIALIZED (
           SELECT piece, m10 FROM (
             SELECT p.piece,
               coalesce(cn.c, 0) * 10 + CASE WHEN len(p.piece) = 1 THEN 1 ELSE 0 END AS m10
             FROM inv${r - 1} p LEFT JOIN cn$r cn USING (piece))
           WHERE m10 > 0),
         t$r AS (SELECT CAST(sum(m10) AS BIGINT) AS t FROM inv$r)"""
    }.mkString(",\n         ")
    s"""wrd AS MATERIALIZED (
           SELECT w, CAST(count(*) AS BIGINT) AS wc FROM (
             SELECT unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS w
             FROM documents)
           WHERE len(w) > 0 GROUP BY 1),
         sfq AS MATERIALIZED (
           SELECT piece, CAST(sum(wc) AS BIGINT) AS f FROM (
             SELECT unnest(flatten(list_transform(range(1, len(w) + 1),
                 i -> list_transform(range(1, least($pieceLen, len(w) - i + 1) + 1),
                   l -> substr(w, CAST(i AS INT), CAST(l AS INT)))))) AS piece,
                 wc
             FROM wrd)
           GROUP BY 1),
         inv0 AS MATERIALIZED (
           SELECT piece, f * 10 AS m10 FROM (
             SELECT piece, f FROM (
               SELECT piece, f FROM sfq ORDER BY f DESC, piece LIMIT $vocabSize)
             UNION
             SELECT piece, f FROM sfq WHERE len(piece) = 1)),
         t0 AS (SELECT CAST(sum(m10) AS BIGINT) AS t FROM inv0),
         $em"""
  }

  /** q293 twin: the trained inventory's top pieces. */
  private def unigramLmOracleSql(rounds: Int, vocabSize: Int, pieceLen: Int,
                                 maxLen: Int, topK: Int): String =
    s"""WITH ${unigramFitCtes(rounds, vocabSize, pieceLen, maxLen)}
         SELECT piece, cnt AS "count", round(CAST(m10 AS DOUBLE) / t, 6) AS prob
         FROM (SELECT i.piece, coalesce(cn.c, 0) AS cnt, i.m10
               FROM inv$rounds i LEFT JOIN cn$rounds cn USING (piece))
         CROSS JOIN t$rounds
         ORDER BY cnt DESC, piece LIMIT $topK"""

  /** q304 twin: a fourth Viterbi pass under the final inventory, then
    * the exact-integer fertility moments. */
  private def unigramFertilityOracleSql(rounds: Int, vocabSize: Int,
                                        pieceLen: Int, maxLen: Int): String =
    s"""WITH ${unigramFitCtes(rounds, vocabSize, pieceLen, maxLen)},
         lpF AS MATERIALIZED (
           SELECT piece, CAST(round(ln(CAST(m10 AS DOUBLE) / t) * 1e9) AS BIGINT) AS lp9
           FROM inv$rounds CROSS JOIN t$rounds),
         ${unigramViterbiCtes("vf", "lpF", maxLen, pieceLen)},
         np AS (SELECT w, CAST(count(*) AS BIGINT) AS np FROM pcs_vf GROUP BY 1)
         SELECT CAST(count(*) AS BIGINT) AS n_words,
                CAST(sum(wc) AS BIGINT) AS total_words,
                CAST(sum(wc * np.np) AS BIGINT) AS total_pieces,
                round(CAST(sum(wc * np.np) AS DOUBLE) / sum(wc), 4) AS pieces_per_word,
                CASE WHEN sum(wc * np.np) > 0
                  THEN round(CAST(sum(wc * len(w)) AS DOUBLE) / sum(wc * np.np), 4) END
                  AS chars_per_piece
         FROM wrd JOIN np USING (w)"""

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "q293_unigram_lm" -> unigramLmOracleSql(3, 512, 4, 12, 50),
    "q304_unigram_fertility" -> unigramFertilityOracleSql(3, 512, 4, 12),
    "q222_isotonic" -> isotonicOracleSql,
    "q202_binseg" -> binsegOracleSql(4, 0.02),
    "q76_bpe_merges" -> bpeMergesOracleSql(30),
    "q84_bpe_fertility" -> bpeFertilityOracleSql(30, 12),
    "q98_kmeans" -> kmeansOracleSql(8, 5),
    "q181_pq" -> pqOracleSql(8, 16, 5),
    "q28_ann_ivf" -> ivfOracleSql(16, 5, 4, 5),
    // SCC by mutual reachability over the recursive transitive closure
    // (graph.Scc labels = component minimum id): x and y share an SCC
    // iff both directed reaches hold; top-20 sizes mirror the entry
    "q179_scc" ->
      s"""WITH RECURSIVE ed AS (SELECT user_id,
                lag(user_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS prev_user
              FROM events),
         e AS (SELECT DISTINCT prev_user AS u, user_id AS v FROM ed
               WHERE prev_user IS NOT NULL AND prev_user <> user_id),
         nodes AS (SELECT u AS id FROM e UNION SELECT v FROM e),
         reach(a, b) AS (
           SELECT u, v FROM e
           UNION
           SELECT reach.a, e.v FROM reach JOIN e ON e.u = reach.b),
         mutual AS (SELECT r1.a AS x, r1.b AS y
                    FROM reach r1 JOIN reach r2 ON r2.a = r1.b AND r2.b = r1.a),
         comp AS (SELECT n.id,
                    least(n.id, coalesce(min(m.y), n.id)) AS component
                  FROM nodes n LEFT JOIN mutual m ON m.x = n.id
                  GROUP BY n.id)
         SELECT component, CAST(count(*) AS BIGINT) AS size
         FROM comp GROUP BY 1
         ORDER BY size DESC, component LIMIT 20""",
    "q35_pca" -> pinnedPcaSql(40),
    "q32_lr_metrics" -> pinnedLogitSql(100, 0.5),
    "q48_lr_importance" -> pinnedLogitImportanceSql(100, 0.5),
    "q161_gbt_importance" -> pinnedGbtImportanceSql(10, 0.3),
    "q306_als_neighbors" -> pinnedAlsSql(0.1, 5, 15),
    "q247_hits" -> hitsOracleSql(20),
    "q288_ktruss" -> ktrussOracleSql(12, 4),
    "q227_kcenter" -> kcenterOracleSql(16),
    "q233_mmr" -> mmrOracleSql(30, 10, 0.7),
    "q139_kcore" -> kcoreOracleSql(16, 2),
    "q156_lpa" -> lpaOracleSql(5),
    "q97_pagerank" -> pagerankOracleSql(10, 0.85),
    "q180_ppr" -> pprOracleSql(Seq(0L, 1L, 2L), 10, 0.85),
    "q174_textrank" -> uniformPrSqlOver(TokenEdgeCtes, "token", 10, 0.85),
    "q251_anova" ->
      """WITH q AS (SELECT l_returnflag AS cls, CAST(round(l_quantity * 100) AS BIGINT) AS vq FROM lineitem),
         per AS (SELECT cls, count(*) AS nc, sum(CAST(vq AS HUGEINT)) AS sc,
                        sum(CAST(vq AS HUGEINT) * CAST(vq AS HUGEINT)) AS qc
                 FROM q GROUP BY 1),
         t AS (SELECT count(*) AS k, CAST(sum(nc) AS BIGINT) AS n,
                      CAST(sum(sc) AS DOUBLE) AS s, CAST(sum(qc) AS DOUBLE) AS qq,
                      CAST(sum(CAST(round(CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE) / nc) AS BIGINT)) AS BIGINT) AS b
               FROM per)
         SELECT k, n,
                round(CASE WHEN k >= 2 AND n > k AND (qq - b) > 0
                      THEN (greatest(b - s * s / n, 0) / (k - 1)) / ((qq - b) / (n - k)) END, 6) AS f_stat,
                round(CASE WHEN (qq - s * s / n) > 0
                      THEN greatest(b - s * s / n, 0) / (qq - s * s / n) END, 6) AS eta_sq
         FROM t""",
    "q252_levene" ->
      """WITH q AS (SELECT l_returnflag AS cls, CAST(round(l_quantity * 100) AS BIGINT) AS xq FROM lineitem),
         m AS (SELECT cls, xq AS medq FROM (
                 SELECT cls, xq, row_number() OVER (PARTITION BY cls ORDER BY xq) AS rn,
                        count(*) OVER (PARTITION BY cls) AS nc FROM q)
               WHERE rn = (nc + 1) // 2),
         z AS (SELECT q.cls, abs(q.xq - m.medq) AS vq FROM q JOIN m ON q.cls = m.cls),
         per AS (SELECT cls, count(*) AS nc, sum(CAST(vq AS HUGEINT)) AS sc,
                        sum(CAST(vq AS HUGEINT) * CAST(vq AS HUGEINT)) AS qc
                 FROM z GROUP BY 1),
         t AS (SELECT count(*) AS k, CAST(sum(nc) AS BIGINT) AS n,
                      CAST(sum(sc) AS DOUBLE) AS s, CAST(sum(qc) AS DOUBLE) AS qq,
                      CAST(sum(CAST(round(CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE) / nc) AS BIGINT)) AS BIGINT) AS b
               FROM per)
         SELECT k, n,
                round(CASE WHEN k >= 2 AND n > k AND (qq - b) > 0
                      THEN (greatest(b - s * s / n, 0) / (k - 1)) / ((qq - b) / (n - k)) END, 6) AS f_stat,
                round(CASE WHEN (qq - s * s / n) > 0
                      THEN greatest(b - s * s / n, 0) / (qq - s * s / n) END, 6) AS eta_sq
         FROM t""",
    "q253_jarque_bera" ->
      """WITH q AS (SELECT CAST(round(value * 100) AS BIGINT) AS v FROM events),
         t AS (SELECT count(*) AS n,
                      CAST(sum(CAST(v AS HUGEINT)) AS DOUBLE) AS s1,
                      CAST(sum(CAST(v AS HUGEINT) * CAST(v AS HUGEINT)) AS DOUBLE) AS s2,
                      CAST(sum(CAST(v AS HUGEINT) * CAST(v AS HUGEINT) * CAST(v AS HUGEINT)) AS DOUBLE) AS s3,
                      CAST(sum(CAST(v AS HUGEINT) * CAST(v AS HUGEINT) * CAST(v AS HUGEINT) * CAST(v AS HUGEINT)) AS DOUBLE) AS s4
               FROM q),
         c AS (SELECT n, s1 / n AS m,
                      s2 / n - (s1 / n) * (s1 / n) AS m2,
                      s3 / n - (s1 / n) * s2 / n * 3 + (s1 / n) * (s1 / n) * (s1 / n) * 2 AS m3,
                      s4 / n - (s1 / n) * s3 / n * 4 + (s1 / n) * (s1 / n) * s2 / n * 6 - (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) * 3 AS m4
               FROM t)
         SELECT n,
                round(CASE WHEN n >= 2 AND m2 > 0 THEN m3 / pow(m2, 1.5) END, 6) AS skewness,
                round(CASE WHEN n >= 2 AND m2 > 0 THEN m4 / (m2 * m2) - 3 END, 6) AS kurtosis_excess,
                round(CASE WHEN n >= 2 AND m2 > 0
                      THEN n / 6 * ((m3 / pow(m2, 1.5)) * (m3 / pow(m2, 1.5)) + (m4 / (m2 * m2) - 3) * (m4 / (m2 * m2) - 3) / 4) END, 4) AS jb
         FROM c""",
    "q254_ljung_box" ->
      """WITH daily AS (SELECT date_trunc('day', ts) AS day,
                      CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS yq
               FROM events GROUP BY 1),
         idx AS (SELECT day, yq, row_number() OVER (ORDER BY day) AS t FROM daily),
         tot AS (SELECT count(*) AS n, sum(CAST(yq AS HUGEINT)) AS s FROM idx),
         cent AS (SELECT t, n, CAST(n AS HUGEINT) * CAST(yq AS HUGEINT) - s AS c FROM idx CROSS JOIN tot),
         den AS (SELECT sum(c * c) AS d FROM cent),
         num AS (SELECT l.k AS lag, max(a.n) AS n, sum(a.c * b.c) AS nu
                 FROM generate_series(1, 7) l(k)
                 JOIN cent a ON true
                 JOIN cent b ON a.t + l.k = b.t
                 GROUP BY 1),
         rk AS (SELECT lag, n,
                       CAST(round(CASE WHEN d > 0 THEN CAST(nu AS DOUBLE) / CAST(d AS DOUBLE) END * 1e12) AS BIGINT) AS r12
                FROM num CROSS JOIN den)
         SELECT CAST(lag AS BIGINT) AS lag, n AS n_days,
                round(r12 / 1e12, 6) AS r,
                round(CAST(n AS DOUBLE) * CAST(n + 2 AS DOUBLE) *
                      sum((r12 / 1e12) * (r12 / 1e12) / CAST(n - lag AS DOUBLE))
                        OVER (ORDER BY lag ROWS UNBOUNDED PRECEDING), 4) AS q_stat
         FROM rk ORDER BY lag""",
    "q255_durbin_watson" ->
      """WITH daily AS (SELECT date_trunc('day', ts) AS day,
                      CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS yq
               FROM events GROUP BY 1),
         idx AS (SELECT yq, row_number() OVER (ORDER BY day) AS t FROM daily),
         mom AS (SELECT count(*) AS n,
                        CAST(sum(CAST(t AS HUGEINT)) AS DOUBLE) AS st,
                        CAST(sum(CAST(yq AS HUGEINT)) AS DOUBLE) AS sy,
                        CAST(sum(CAST(t AS HUGEINT) * CAST(yq AS HUGEINT)) AS DOUBLE) AS sty,
                        CAST(sum(CAST(t AS HUGEINT) * CAST(t AS HUGEINT)) AS DOUBLE) AS stt
                 FROM idx),
         resid AS (SELECT t, n,
                          CAST(round(CAST(yq AS DOUBLE)
                            - (sy - ((n * sty - st * sy) / (n * stt - st * st)) * st) / n
                            - ((n * sty - st * sy) / (n * stt - st * st)) * CAST(t AS DOUBLE)) AS BIGINT) AS e
                   FROM idx CROSS JOIN mom),
         lagd AS (SELECT n, e, lag(e, 1) OVER (ORDER BY t) AS eprev FROM resid),
         s AS (SELECT n, sum(CAST(e AS HUGEINT) * CAST(e AS HUGEINT)) AS see,
                      sum(CASE WHEN eprev IS NOT NULL
                          THEN CAST(e - eprev AS HUGEINT) * CAST(e - eprev AS HUGEINT)
                          ELSE 0 END) AS sdd
               FROM lagd GROUP BY 1)
         SELECT s.n AS n_days,
                round((m.n * m.sty - m.st * m.sy) / (m.n * m.stt - m.st * m.st) / 1e6, 6) AS slope_per_day,
                round(CASE WHEN see > 0 THEN CAST(sdd AS DOUBLE) / CAST(see AS DOUBLE) END, 6) AS dw
         FROM s CROSS JOIN mom m""",
    "q256_vmeasure" ->
      """WITH base AS (SELECT event_type AS c,
                ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 8 AS k
              FROM events),
         cells AS (SELECT c, k, count(*) AS o FROM base GROUP BY 1, 2),
         byc AS (SELECT c, CAST(sum(o) AS BIGINT) AS nc FROM cells GROUP BY 1),
         byk AS (SELECT k, CAST(sum(o) AS BIGINT) AS nk FROM cells GROUP BY 1),
         cs AS (SELECT CAST(sum(o) AS BIGINT) AS n,
                       CAST(sum(CAST(round(CASE WHEN o > 0 THEN CAST(o AS DOUBLE) * ln(CAST(o AS DOUBLE)) ELSE 0.0 END * 1e6) AS BIGINT)) AS BIGINT) AS o6
                FROM cells),
         cc AS (SELECT CAST(sum(CAST(round(CASE WHEN nc > 0 THEN CAST(nc AS DOUBLE) * ln(CAST(nc AS DOUBLE)) ELSE 0.0 END * 1e6) AS BIGINT)) AS BIGINT) AS c6 FROM byc),
         kk AS (SELECT CAST(sum(CAST(round(CASE WHEN nk > 0 THEN CAST(nk AS DOUBLE) * ln(CAST(nk AS DOUBLE)) ELSE 0.0 END * 1e6) AS BIGINT)) AS BIGINT) AS k6 FROM byk),
         h AS (SELECT n,
                      (CASE WHEN n > 0 THEN CAST(n AS DOUBLE) * ln(CAST(n AS DOUBLE)) ELSE 0.0 END - c6 / 1e6) / n AS hc,
                      (CASE WHEN n > 0 THEN CAST(n AS DOUBLE) * ln(CAST(n AS DOUBLE)) ELSE 0.0 END - k6 / 1e6) / n AS hk,
                      (CAST(k6 AS DOUBLE) - CAST(o6 AS DOUBLE)) / 1e6 / n AS hck,
                      (CAST(c6 AS DOUBLE) - CAST(o6 AS DOUBLE)) / 1e6 / n AS hkc
               FROM cs CROSS JOIN cc CROSS JOIN kk),
         hv AS (SELECT n, hc, hk,
                       CASE WHEN hc > 0 THEN 1.0 - hck / hc ELSE 1.0 END AS hom,
                       CASE WHEN hk > 0 THEN 1.0 - hkc / hk ELSE 1.0 END AS com
                FROM h)
         SELECT n, round(hc, 6) AS h_class, round(hk, 6) AS h_cluster,
                round(hom, 6) AS homogeneity, round(com, 6) AS completeness,
                round(CASE WHEN hom + com > 0 THEN 2.0 * hom * com / (hom + com) ELSE 0.0 END, 6) AS v_measure
         FROM hv""",
    "q257_rich_club" ->
      """WITH it AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem),
         e AS (SELECT x.i AS a, y.i AS b FROM it x JOIN it y ON x.g = y.g AND x.i < y.i
               GROUP BY 1, 2 HAVING count(*) >= 2),
         ends AS (SELECT a AS v FROM e UNION ALL SELECT b FROM e),
         deg AS (SELECT v, count(*) AS d FROM ends GROUP BY 1),
         ks AS (SELECT k FROM generate_series(1, 12) t(k)),
         nk AS (SELECT k, CAST(sum(nv) AS BIGINT) AS n_k
                FROM (SELECT d, count(*) AS nv FROM deg GROUP BY 1) h CROSS JOIN ks
                WHERE d > k GROUP BY 1),
         emin AS (SELECT least(da.d, db.d) AS md
                  FROM e JOIN deg da ON e.a = da.v JOIN deg db ON e.b = db.v),
         ek AS (SELECT k, CAST(sum(ne) AS BIGINT) AS e_k
                FROM (SELECT md, count(*) AS ne FROM emin GROUP BY 1) h CROSS JOIN ks
                WHERE md > k GROUP BY 1)
         SELECT CAST(ks.k AS BIGINT) AS k,
                coalesce(nk.n_k, 0) AS n_k, coalesce(ek.e_k, 0) AS e_k,
                round(CASE WHEN coalesce(nk.n_k, 0) >= 2
                      THEN 2.0 * coalesce(ek.e_k, 0) / (CAST(nk.n_k AS DOUBLE) * (nk.n_k - 1)) END, 6) AS phi
         FROM ks LEFT JOIN nk ON ks.k = nk.k LEFT JOIN ek ON ks.k = ek.k
         ORDER BY k""",
    "q258_l_diversity" ->
      """WITH base AS (SELECT event_type AS q0, date_trunc('day', ts) AS q1,
                floor(value / 100) AS q2, user_id % 10 AS s FROM events),
         cells AS (SELECT q0, q1, q2, s, count(*) AS n FROM base GROUP BY 1, 2, 3, 4),
         cls AS (SELECT q0, q1, q2, count(*) AS l, CAST(sum(n) AS BIGINT) AS rws
                 FROM cells GROUP BY 1, 2, 3)
         SELECT count(*) AS n_classes, CAST(sum(rws) AS BIGINT) AS n_rows,
                min(l) AS l_min,
                CAST(sum(CASE WHEN l < 3 THEN 1 ELSE 0 END) AS BIGINT) AS classes_below_l,
                CAST(sum(CASE WHEN l < 3 THEN rws ELSE 0 END) AS BIGINT) AS rows_below_l
         FROM cls""",
    "q259_srm" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
         v AS (SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 4 AS variant FROM u),
         byv AS (SELECT variant, count(*) AS o FROM v GROUP BY 1),
         t AS (SELECT CAST(sum(o) AS BIGINT) AS n_units, count(*) AS n_variants,
                      sum(CAST(o AS HUGEINT) * CAST(o AS HUGEINT)) AS oo
               FROM byv)
         SELECT n_units, n_variants,
                round(4.0 * CAST(oo AS DOUBLE) / n_units - CAST(n_units AS DOUBLE), 4) AS chi2,
                CAST(3 AS BIGINT) AS dof,
                (4.0 * CAST(oo AS DOUBLE) / n_units - CAST(n_units AS DOUBLE)) > 16.266 AS srm_flag
         FROM t""",
    "q260_sprt" ->
      """WITH units AS (SELECT user_id AS unit, min(ts) AS t0,
                max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS x
              FROM events GROUP BY 1),
         walk AS (SELECT count(*) OVER w AS t,
                         CAST(sum(x) OVER w AS BIGINT) AS cv
                  FROM units WINDOW w AS (ORDER BY t0, unit ROWS UNBOUNDED PRECEDING)),
         lv AS (SELECT t, cv * 154150679827 + (t - cv) * (-74107972154) AS llr12 FROM walk),
         crossed AS (SELECT t AS stop_t, llr12 AS stop_llr FROM lv
                     WHERE llr12 >= 2772588722240 OR llr12 <= -1558144618047
                     ORDER BY t LIMIT 1),
         last AS (SELECT t AS n_units, llr12 AS last_llr FROM lv ORDER BY t DESC LIMIT 1)
         SELECT CAST(n_units AS BIGINT) AS n_units,
                CASE WHEN stop_llr IS NULL THEN 'continue'
                     WHEN stop_llr >= 2772588722240 THEN 'accept_h1'
                     ELSE 'accept_h0' END AS decision,
                CAST(coalesce(stop_t, n_units) AS BIGINT) AS n_at_decision,
                round(CAST(coalesce(stop_llr, last_llr) AS DOUBLE) / 1e12, 6) AS llr_final
         FROM last LEFT JOIN crossed ON true""",
    "q261_ad_uniformity" ->
      """WITH q AS (SELECT user_id,
                ((('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT + 0.5) / 4294967296.0) AS u
              FROM events),
         f AS (SELECT u, user_id FROM q WHERE u > 0 AND u < 1),
         r AS (SELECT u, row_number() OVER (ORDER BY u, user_id) AS i FROM f),
         t AS (SELECT count(*) AS n,
                      sum(CAST(round((2 * i - 1) * ln(u) * 1e9) AS BIGINT)) AS a9,
                      sum(CAST(round((2 * i - 1) * ln(1.0 - u) * 1e9) AS BIGINT)) AS b9,
                      sum(CAST(round(ln(1.0 - u) * 1e9) AS BIGINT)) AS c9
               FROM r)
         SELECT n,
                round(-CAST(n AS DOUBLE)
                  - CAST(CAST(a9 AS HUGEINT) + 2 * CAST(n AS HUGEINT) * CAST(c9 AS HUGEINT) - CAST(b9 AS HUGEINT) AS DOUBLE)
                    / 1e9 / n, 4) AS a_sq
         FROM t""",
    "q262_rrf" ->
      """WITH docs AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
           FROM documents),
         post AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS tok FROM docs),
         tf AS (SELECT doc_id, dl, tok, count(*) AS tf FROM post GROUP BY 1, 2, 3),
         consts AS (
           SELECT count(*) AS n_docs, avg(dl) AS avgdl
           FROM (SELECT DISTINCT doc_id, dl FROM tf)),
         q AS (
           SELECT doc_id AS qid, unnest(list_distinct(toks[1:8])) AS tok
           FROM docs WHERE doc_id % 97 = 0),
         dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
         bscored AS (
           SELECT q.qid, tf.doc_id,
             sum(CAST(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * tf * 2.2 /
                 (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
                 AS DECIMAL(27,12))) AS score_d
           FROM tf
           JOIN q ON tf.tok = q.tok
           JOIN dfreq ON tf.tok = dfreq.tok
           CROSS JOIN consts
           GROUP BY 1, 2),
         bm AS (
           SELECT qid, doc_id, rank FROM (
             SELECT qid, doc_id,
               row_number() OVER (PARTITION BY qid ORDER BY score_d DESC, doc_id) AS rank
             FROM bscored) WHERE rank <= 10),
         od AS (SELECT doc_id, unnest(list_distinct(toks)) AS tok FROM docs),
         oscored AS (SELECT q.qid, od.doc_id, count(*) AS score
                     FROM q JOIN od ON q.tok = od.tok GROUP BY 1, 2),
         ov AS (
           SELECT qid, doc_id, rank FROM (
             SELECT qid, doc_id,
               row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rank
             FROM oscored) WHERE rank <= 10),
         allr AS (
           SELECT qid, doc_id, CAST(round(1e12 / (60 + rank)) AS BIGINT) AS c12 FROM bm
           UNION ALL
           SELECT qid, doc_id, CAST(round(1e12 / (60 + rank)) AS BIGINT) AS c12 FROM ov),
         f AS (SELECT qid, doc_id, count(*) AS n_runs, CAST(sum(c12) AS BIGINT) AS s12
               FROM allr GROUP BY 1, 2),
         fr AS (SELECT qid, doc_id, n_runs, s12,
                  row_number() OVER (PARTITION BY qid ORDER BY s12 DESC, doc_id) AS rank
                FROM f)
         SELECT qid, doc_id, n_runs, round(s12 / 1e12, 6) AS rrf_score,
                CAST(rank AS BIGINT) AS rank
         FROM fr WHERE rank <= 10 ORDER BY qid, rank""",
    "q263_dirichlet_ql" ->
      """WITH docs AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
           FROM documents),
         post AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS tok FROM docs),
         tf AS (SELECT doc_id, dl, tok, count(*) AS tf FROM post GROUP BY 1, 2, 3),
         tot AS (SELECT CAST(sum(dl) AS BIGINT) AS t
                 FROM (SELECT DISTINCT doc_id, dl FROM tf)),
         q AS (SELECT doc_id AS qid, unnest(list_distinct(toks[1:8])) AS tok
               FROM docs WHERE doc_id % 97 = 0),
         cf AS (SELECT tok, CAST(sum(tf) AS BIGINT) AS cf FROM tf GROUP BY 1),
         qc AS (SELECT q.qid, count(*) AS nq,
                       CAST(sum(CAST(round(ln(2000.0 * (CAST(cf.cf AS DOUBLE) / CAST(t AS DOUBLE))) * 1e12) AS BIGINT)) AS BIGINT) AS aq12
                FROM q JOIN cf ON q.tok = cf.tok CROSS JOIN tot GROUP BY 1),
         sparse AS (SELECT q.qid, tf.doc_id, max(tf.dl) AS dl,
                       CAST(sum(CAST(round(ln(1.0 + CAST(tf.tf AS DOUBLE) /
                           (2000.0 * (CAST(cf.cf AS DOUBLE) / CAST(t AS DOUBLE)))) * 1e12) AS BIGINT)) AS BIGINT) AS s12
                    FROM tf JOIN q ON tf.tok = q.tok
                    JOIN cf ON tf.tok = cf.tok CROSS JOIN tot
                    GROUP BY 1, 2),
         scored AS (SELECT s.qid, s.doc_id,
                       qc.aq12 - qc.nq * CAST(round(ln(CAST(s.dl AS DOUBLE) + 2000.0) * 1e12) AS BIGINT) + s.s12 AS score12
                    FROM sparse s JOIN qc ON s.qid = qc.qid),
         r AS (SELECT qid, doc_id, score12,
                 row_number() OVER (PARTITION BY qid ORDER BY score12 DESC, doc_id) AS rank
               FROM scored)
         SELECT qid, doc_id, CAST(rank AS BIGINT) AS rank,
                round(CAST(score12 AS DOUBLE) / 1e12, 4) AS score
         FROM r WHERE rank <= 10 ORDER BY qid, rank""",
    "q264_confusion" ->
      """WITH c AS (
           SELECT CAST(sum(CASE WHEN value > 75 AND event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                  CAST(sum(CASE WHEN value > 75 AND event_type <> 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                  CAST(sum(CASE WHEN NOT value > 75 AND event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS fn,
                  CAST(sum(CASE WHEN NOT value > 75 AND event_type <> 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS tn
           FROM events)
         SELECT tp, fp, fn, tn,
                round(CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE) / (tp + fp) END, 6) AS precision,
                round(CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE) / (tp + fn) END, 6) AS recall,
                round(CASE WHEN tp * 2 + fp + fn > 0 THEN 2.0 * tp / (tp * 2 + fp + fn) END, 6) AS f1,
                round(CASE WHEN (tp + fn) > 0 AND (tn + fp) > 0
                      THEN (CAST(tp AS DOUBLE) / (tp + fn) + CAST(tn AS DOUBLE) / (tn + fp)) / 2 END, 6) AS balanced_acc,
                round(CASE WHEN sqrt(CAST(tp + fp AS DOUBLE) * CAST(tp + fn AS DOUBLE) * CAST(tn + fp AS DOUBLE) * CAST(tn + fn AS DOUBLE)) > 0
                      THEN (CAST(tp AS DOUBLE) * CAST(tn AS DOUBLE) - CAST(fp AS DOUBLE) * CAST(fn AS DOUBLE)) /
                           sqrt(CAST(tp + fp AS DOUBLE) * CAST(tp + fn AS DOUBLE) * CAST(tn + fp AS DOUBLE) * CAST(tn + fn AS DOUBLE)) END, 6) AS mcc
         FROM c""",
    "q265_fd_audit" ->
      """WITH f1 AS (
           SELECT 'o_orderkey->o_orderdate' AS fd, count(*) AS n_lhs,
                  CAST(sum(CASE WHEN nr > 1 THEN 1 ELSE 0 END) AS BIGINT) AS violating_lhs,
                  max(nr) AS max_rhs_per_lhs
           FROM (SELECT l, count(*) AS nr FROM
                 (SELECT DISTINCT o_orderkey AS l, o_orderdate AS r FROM orders) GROUP BY 1)),
         f2 AS (
           SELECT 'o_custkey->o_orderstatus' AS fd, count(*) AS n_lhs,
                  CAST(sum(CASE WHEN nr > 1 THEN 1 ELSE 0 END) AS BIGINT) AS violating_lhs,
                  max(nr) AS max_rhs_per_lhs
           FROM (SELECT l, count(*) AS nr FROM
                 (SELECT DISTINCT o_custkey AS l, o_orderstatus AS r FROM orders) GROUP BY 1)),
         f3 AS (
           SELECT 'l_orderkey->l_shipdate' AS fd, count(*) AS n_lhs,
                  CAST(sum(CASE WHEN nr > 1 THEN 1 ELSE 0 END) AS BIGINT) AS violating_lhs,
                  max(nr) AS max_rhs_per_lhs
           FROM (SELECT l, count(*) AS nr FROM
                 (SELECT DISTINCT l_orderkey AS l, l_shipdate AS r FROM lineitem) GROUP BY 1)),
         u AS (SELECT * FROM f1 UNION ALL SELECT * FROM f2 UNION ALL SELECT * FROM f3)
         SELECT fd, n_lhs, violating_lhs, max_rhs_per_lhs,
                violating_lhs = 0 AS holds
         FROM u ORDER BY fd""",
    "q266_fk_audit" ->
      """WITH c1 AS (SELECT DISTINCT l_orderkey AS v FROM lineitem WHERE l_orderkey IS NOT NULL),
         p1 AS (SELECT DISTINCT o_orderkey AS v FROM orders WHERE o_orderkey IS NOT NULL),
         r1 AS (SELECT 'lineitem.l_orderkey<=orders' AS ind, (SELECT count(*) FROM c1) AS n_child_values,
                       (SELECT count(*) FROM c1 WHERE v NOT IN (SELECT v FROM p1)) AS missing_in_parent),
         c2 AS (SELECT DISTINCT l_partkey AS v FROM lineitem WHERE l_partkey IS NOT NULL),
         p2 AS (SELECT DISTINCT p_partkey AS v FROM part WHERE p_partkey IS NOT NULL),
         r2 AS (SELECT 'lineitem.l_partkey<=part' AS ind, (SELECT count(*) FROM c2) AS n_child_values,
                       (SELECT count(*) FROM c2 WHERE v NOT IN (SELECT v FROM p2)) AS missing_in_parent),
         c3 AS (SELECT DISTINCT o_custkey AS v FROM orders WHERE o_custkey IS NOT NULL),
         p3 AS (SELECT DISTINCT c_custkey AS v FROM customer WHERE c_custkey IS NOT NULL),
         r3 AS (SELECT 'orders.o_custkey<=customer' AS ind, (SELECT count(*) FROM c3) AS n_child_values,
                       (SELECT count(*) FROM c3 WHERE v NOT IN (SELECT v FROM p3)) AS missing_in_parent),
         c4 AS (SELECT DISTINCT user_id AS v FROM events WHERE user_id IS NOT NULL),
         p4 AS (SELECT DISTINCT c_custkey AS v FROM customer WHERE c_custkey IS NOT NULL),
         r4 AS (SELECT 'events.user_id<=customer' AS ind, (SELECT count(*) FROM c4) AS n_child_values,
                       (SELECT count(*) FROM c4 WHERE v NOT IN (SELECT v FROM p4)) AS missing_in_parent),
         u AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2 UNION ALL SELECT * FROM r3 UNION ALL SELECT * FROM r4)
         SELECT ind, CAST(n_child_values AS BIGINT) AS n_child_values,
                CAST(missing_in_parent AS BIGINT) AS missing_in_parent,
                round(CASE WHEN n_child_values > 0
                      THEN CAST(n_child_values - missing_in_parent AS DOUBLE) / n_child_values
                      ELSE 1.0 END, 6) AS coverage,
                missing_in_parent = 0 AS holds
         FROM u ORDER BY ind""",
    "q267_rake" ->
      """WITH docs AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ts FROM documents),
         tok AS (SELECT doc_id, i - 1 AS pos, ts[i] AS tok
                 FROM docs, unnest(range(1, len(ts) + 1)) r(i)),
         st AS (SELECT doc_id, pos, tok,
                       (tok IN ('the', 'a', 'of', 'and', 'to', 'in', 'is') OR tok = '') AS stop
                FROM tok),
         run AS (SELECT doc_id, pos, tok, stop,
                        sum(CASE WHEN stop THEN 0 ELSE 1 END)
                          OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS nsrank
                 FROM st),
         isl AS (SELECT doc_id, pos - nsrank AS isl, pos, tok FROM run WHERE NOT stop),
         ph AS (SELECT list(tok ORDER BY pos) AS ws FROM isl GROUP BY doc_id, isl),
         ph2 AS (SELECT ws, array_to_string(ws, ' ') AS phrase FROM ph WHERE len(ws) <= 3),
         wstat AS (SELECT w, CAST(round(CAST(sum(len) AS DOUBLE) / count(*) * 1e9) AS BIGINT) AS ws9
                   FROM (SELECT unnest(ws) AS w, len(ws) AS len FROM ph2) GROUP BY 1),
         sc AS (SELECT phrase,
                       CAST(CAST(count(*) AS DOUBLE) / len(string_split(phrase, ' ')) AS BIGINT) AS n_occur,
                       CAST(sum(ws9) AS BIGINT) AS s9
                FROM (SELECT phrase, unnest(ws) AS w FROM ph2) p
                JOIN wstat USING (w) GROUP BY 1)
         SELECT phrase, n_occur, round(CAST(s9 AS DOUBLE) / n_occur / 1e9, 6) AS score
         FROM sc ORDER BY score DESC, phrase LIMIT 25""",
    "q268_simpsons" ->
      """WITH e AS (SELECT event_type AS st, value,
                ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 = 0 AS arm
              FROM events),
         cells AS (SELECT st,
                       CAST(sum(CASE WHEN arm THEN 1 ELSE 0 END) AS BIGINT) AS na,
                       CAST(sum(CASE WHEN NOT arm THEN 1 ELSE 0 END) AS BIGINT) AS nb,
                       sum(CASE WHEN arm THEN CAST(CAST(round(value * 1000000) AS BIGINT) AS HUGEINT) ELSE 0 END) AS sa,
                       sum(CASE WHEN NOT arm THEN CAST(CAST(round(value * 1000000) AS BIGINT) AS HUGEINT) ELSE 0 END) AS sb
                   FROM e GROUP BY 1),
         per AS (SELECT st, CASE WHEN na > 0 AND nb > 0
                       THEN CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb END AS diff
                 FROM cells),
         pooled AS (SELECT CASE WHEN sum(na) > 0 AND sum(nb) > 0
                       THEN CAST(sum(sa) AS DOUBLE) / sum(na) - CAST(sum(sb) AS DOUBLE) / sum(nb) END AS pd
                    FROM cells)
         SELECT count(*) AS n_strata,
                round(max(pd) / 1e6, 6) AS pooled_diff,
                CAST(sum(CASE WHEN diff IS NOT NULL AND diff <> 0 AND pd <> 0
                    AND sign(diff) = sign(pd) THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
                CAST(sum(CASE WHEN diff IS NOT NULL AND diff <> 0 AND pd <> 0
                    AND sign(diff) <> sign(pd) THEN 1 ELSE 0 END) AS BIGINT) AS n_reversed,
                CAST(sum(CASE WHEN diff IS NOT NULL AND diff <> 0 AND pd <> 0
                    AND sign(diff) <> sign(pd) THEN 1 ELSE 0 END) AS BIGINT) >
                CAST(sum(CASE WHEN diff IS NOT NULL AND diff <> 0 AND pd <> 0
                    AND sign(diff) = sign(pd) THEN 1 ELSE 0 END) AS BIGINT) AS paradox
         FROM per CROSS JOIN pooled""",
    "q269_lof" ->
      """WITH p AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
                    ORDER BY vec_id LIMIT 1024),
         pr AS (SELECT a.id, b.id AS nb,
                       CAST(round((1.0 - list_cosine_similarity(a.v, b.v)) * 1e12) AS BIGINT) AS d
                FROM p a JOIN p b ON a.id <> b.id),
         knn AS (SELECT id, nb, d FROM (
                   SELECT id, nb, d, row_number() OVER (PARTITION BY id ORDER BY d, nb) AS rn
                   FROM pr) WHERE rn <= 10),
         kd AS (SELECT id, max(d) AS kd FROM knn GROUP BY 1),
         lrd AS (SELECT k.id,
                       CAST(round(10 * 1e12 /
                         (CAST(greatest(sum(greatest(k.d, kb.kd)), 10000000) AS DOUBLE) / 1e12)) AS BIGINT) AS lrd12
                 FROM knn k JOIN kd kb ON k.nb = kb.id GROUP BY 1),
         nl AS (SELECT k.id, CAST(sum(lr.lrd12) AS BIGINT) AS nlsum
                FROM knn k JOIN lrd lr ON k.nb = lr.id GROUP BY 1)
         SELECT nl.id AS id,
                round(CAST(kd.kd AS DOUBLE) / 1e12, 6) AS kdist,
                round(CAST(lrd.lrd12 AS DOUBLE) / 1e12, 4) AS lrd,
                round(CAST(nl.nlsum AS DOUBLE) / 10 / lrd.lrd12, 4) AS lof
         FROM nl JOIN lrd USING (id) JOIN kd USING (id)
         ORDER BY lof DESC, id LIMIT 20""",
    "q270_bootstrap_ci" ->
      """WITH units AS (
           SELECT user_id AS unit,
                  CAST(sum(CASE WHEN event_type = 'purchase'
                       THEN CAST(round(value * 1000000) AS BIGINT) ELSE 0 END) AS BIGINT) AS vq
           FROM events GROUP BY 1),
         bs AS (SELECT CAST(i AS INT) AS b FROM unnest(range(1, 101)) r(i)),
         fan AS (SELECT b, vq,
                        ('0x' || substr(md5(CAST(unit AS VARCHAR) || ':' || CAST(b AS VARCHAR)), 1, 8))::BIGINT
                          / 4294967296.0 AS u
                 FROM units CROSS JOIN bs),
         wts AS (SELECT b, vq,
                        CASE WHEN u < 0.367879441 THEN 0
                             WHEN u < 0.735758882 THEN 1
                             WHEN u < 0.919698603 THEN 2
                             WHEN u < 0.981011843 THEN 3
                             WHEN u < 0.996340153 THEN 4
                             WHEN u < 0.999405815 THEN 5
                             WHEN u < 0.999916758 THEN 6
                             ELSE 7 END AS w
                 FROM fan),
         res AS (SELECT b, CAST(sum(w) AS BIGINT) AS nw,
                        sum(CAST(w * vq AS HUGEINT)) AS sw
                 FROM wts GROUP BY 1),
         m AS (SELECT b, CAST(round(CASE WHEN nw > 0
                       THEN CAST(sw AS DOUBLE) / nw / 1e6 END * 1e9) AS BIGINT) AS m9
               FROM res),
         mr AS (SELECT m9, row_number() OVER (ORDER BY m9, b) AS r
                FROM m WHERE m9 IS NOT NULL),
         bounds AS (SELECT count(*) AS n_resamples,
                           max(CASE WHEN r = 3 THEN m9 END) AS lo9,
                           max(CASE WHEN r = 98 THEN m9 END) AS hi9
                    FROM mr),
         obs AS (SELECT count(*) AS n_units, sum(CAST(vq AS HUGEINT)) AS s FROM units)
         SELECT n_units, n_resamples,
                round(CAST(s AS DOUBLE) / n_units / 1e6, 6) AS mean_obs,
                round(CAST(lo9 AS DOUBLE) / 1e9, 6) AS ci_lo,
                round(CAST(hi9 AS DOUBLE) / 1e9, 6) AS ci_hi
         FROM obs CROSS JOIN bounds""",
    "q271_pr_curve" ->
      """WITH grid AS (SELECT unnest([10.0, 25.0, 50.0, 75.0, 90.0]) AS threshold),
         c AS (SELECT threshold,
                      CAST(sum(CASE WHEN value >= threshold AND event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                      CAST(sum(CASE WHEN value >= threshold AND event_type <> 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                      CAST(sum(CASE WHEN value < threshold AND event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS fn
               FROM events CROSS JOIN grid GROUP BY 1)
         SELECT threshold, tp, fp, fn,
                round(CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE) / (tp + fp) END, 6) AS precision,
                round(CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE) / (tp + fn) END, 6) AS recall,
                round(CASE WHEN tp * 2 + fp + fn > 0 THEN 2.0 * tp / (tp * 2 + fp + fn) END, 6) AS f1
         FROM c ORDER BY threshold""",
    "q272_lorenz" ->
      """WITH units AS (
           SELECT user_id AS unit,
                  CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS vq
           FROM events GROUP BY 1),
         ranked AS (SELECT vq, row_number() OVER (ORDER BY vq, unit) AS r FROM units),
         tot AS (SELECT count(*) AS n, sum(CAST(vq AS HUGEINT)) AS s FROM ranked),
         dec AS (SELECT (r * 10 + n - 1) // n AS decile, vq
                 FROM ranked CROSS JOIN tot),
         byd AS (SELECT decile, count(*) AS n_units, sum(CAST(vq AS HUGEINT)) AS ds
                 FROM dec GROUP BY 1),
         cum AS (SELECT decile, n_units,
                        sum(ds) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS cum
                 FROM byd)
         SELECT CAST(decile AS BIGINT) AS decile, n_units,
                round(CASE WHEN s > 0 THEN CAST(cum AS DOUBLE) / CAST(s AS DOUBLE) END, 6) AS cum_share
         FROM cum CROSS JOIN tot ORDER BY decile""",
    "q273_fim_split" ->
      """WITH a AS (
           SELECT doc_id AS id, text AS t, length(text) AS n_chars
           FROM documents WHERE regexp_matches(text, '^[ -~]*$')),
         c AS (SELECT id, t, n_chars,
                      ('0x' || substr(md5(CAST(id AS VARCHAR) || ':a'), 1, 8))::BIGINT % (n_chars + 1) AS c1,
                      ('0x' || substr(md5(CAST(id AS VARCHAR) || ':b'), 1, 8))::BIGINT % (n_chars + 1) AS c2
               FROM a),
         s AS (SELECT id, t, n_chars, least(c1, c2) AS lo, greatest(c1, c2) AS hi FROM c)
         SELECT id, n_chars, lo AS pre_len, hi - lo AS mid_len,
                n_chars - hi AS suf_len,
                md5(substr(t, 1, CAST(lo AS INT)) || '<FIM>' ||
                    substr(t, CAST(hi AS INT) + 1, CAST(n_chars - hi AS INT)) || '<MID>' ||
                    substr(t, CAST(lo AS INT) + 1, CAST(hi - lo AS INT))) AS psm_md5
         FROM s ORDER BY id""",
    "q274_anisotropy" ->
      """WITH v AS (
           SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         nn AS (SELECT v,
                       sqrt(CAST(list_sum(list_transform(v, x -> CAST(round(x * x * 1e12) AS BIGINT))) AS DOUBLE) / 1e12) AS nrm
                FROM v),
         f AS (SELECT v, nrm FROM nn WHERE nrm > 0),
         comp AS (SELECT i - 1 AS d,
                         CAST(round(v[i] / nrm * 1e9) AS BIGINT) AS c9
                  FROM f, unnest(range(1, len(v) + 1)) r(i)),
         dims AS (SELECT d, sum(CAST(c9 AS HUGEINT)) AS s9 FROM comp GROUP BY 1),
         agg AS (SELECT count(*) AS dim, sum(s9 * s9) AS ss FROM dims),
         n AS (SELECT count(*) AS n FROM f)
         SELECT n, dim,
                round(CASE WHEN n >= 2
                      THEN (CAST(ss AS DOUBLE) / 1e18 - n) / (CAST(n AS DOUBLE) * (n - 1)) END, 6) AS mean_cos
         FROM n CROSS JOIN agg""",
    "q275_dp_counts" ->
      """WITH c AS (SELECT event_type AS category, count(*) AS c FROM events GROUP BY 1),
         u AS (SELECT category, c,
                      ((('0x' || substr(md5(category || ':r7'), 1, 8))::BIGINT) + 0.5) / 4294967296.0 AS u
               FROM c)
         SELECT category,
                round(c + (-sign(u - 0.5) * ln(1.0 - 2.0 * abs(u - 0.5)) / 1.0), 3) AS noisy_count,
                1.0 AS epsilon
         FROM u ORDER BY category""",
    "q276_shapley" ->
      """WITH users AS (
           SELECT user_id,
                  max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS a,
                  max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS b,
                  max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS c,
                  max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
           FROM events GROUP BY 1),
         conv AS (SELECT * FROM users WHERE conv = 1),
         cells AS (
           SELECT
             CAST(sum(CASE WHEN a=0 AND b=0 AND c=0 THEN 1 ELSE 0 END) AS BIGINT) AS n000,
             CAST(sum(CASE WHEN a=1 AND b=0 AND c=0 THEN 1 ELSE 0 END) AS BIGINT) AS n100,
             CAST(sum(CASE WHEN a=0 AND b=1 AND c=0 THEN 1 ELSE 0 END) AS BIGINT) AS n010,
             CAST(sum(CASE WHEN a=0 AND b=0 AND c=1 THEN 1 ELSE 0 END) AS BIGINT) AS n001,
             CAST(sum(CASE WHEN a=1 AND b=1 AND c=0 THEN 1 ELSE 0 END) AS BIGINT) AS n110,
             CAST(sum(CASE WHEN a=1 AND b=0 AND c=1 THEN 1 ELSE 0 END) AS BIGINT) AS n101,
             CAST(sum(CASE WHEN a=0 AND b=1 AND c=1 THEN 1 ELSE 0 END) AS BIGINT) AS n011,
             CAST(sum(CASE WHEN a=1 AND b=1 AND c=1 THEN 1 ELSE 0 END) AS BIGINT) AS n111
           FROM conv),
         v AS (SELECT n000 AS v0, n000 + n100 AS va, n000 + n010 AS vb, n000 + n001 AS vc,
                      n000 + n100 + n010 + n110 AS vab,
                      n000 + n100 + n001 + n101 AS vac,
                      n000 + n010 + n001 + n011 AS vbc,
                      n000 + n100 + n010 + n001 + n110 + n101 + n011 + n111 AS vabc
               FROM cells),
         ch AS (SELECT unnest(['A', 'B', 'C']) AS channel)
         SELECT channel,
                round(CASE channel
                  WHEN 'A' THEN CAST(va - v0 AS DOUBLE) / 3 + CAST(vab - vb AS DOUBLE) / 6 + CAST(vac - vc AS DOUBLE) / 6 + CAST(vabc - vbc AS DOUBLE) / 3
                  WHEN 'B' THEN CAST(vb - v0 AS DOUBLE) / 3 + CAST(vab - va AS DOUBLE) / 6 + CAST(vbc - vc AS DOUBLE) / 6 + CAST(vabc - vac AS DOUBLE) / 3
                  ELSE CAST(vc - v0 AS DOUBLE) / 3 + CAST(vac - va AS DOUBLE) / 6 + CAST(vbc - vb AS DOUBLE) / 6 + CAST(vabc - vab AS DOUBLE) / 3
                END, 6) AS shapley,
                vabc AS n_converted
         FROM ch CROSS JOIN v ORDER BY channel""",
    "q277_forecast_eval" ->
      """WITH daily AS (SELECT date_trunc('day', ts) AS day,
                      CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS yq
               FROM events GROUP BY 1),
         idx AS (SELECT yq, row_number() OVER (ORDER BY day) AS t FROM daily),
         na AS (SELECT count(*) AS na FROM idx),
         cutf AS (SELECT t, yq, CAST(floor(na * 0.8) AS BIGINT) AS cut FROM idx CROSS JOIN na),
         mom AS (SELECT count(*) AS n,
                        CAST(sum(CAST(t AS HUGEINT)) AS DOUBLE) AS st,
                        CAST(sum(CAST(yq AS HUGEINT)) AS DOUBLE) AS sy,
                        CAST(sum(CAST(t AS HUGEINT) * CAST(yq AS HUGEINT)) AS DOUBLE) AS sty,
                        CAST(sum(CAST(t AS HUGEINT) * CAST(t AS HUGEINT)) AS DOUBLE) AS stt
                 FROM cutf WHERE t <= cut),
         test AS (SELECT yq,
                         CAST(round((sy - ((n * sty - st * sy) / (n * stt - st * st)) * st) / n
                           + ((n * sty - st * sy) / (n * stt - st * st)) * CAST(t AS DOUBLE)) AS BIGINT) AS fq
                  FROM cutf CROSS JOIN mom WHERE t > cut),
         s AS (SELECT count(*) AS n_test,
                      sum(CAST(abs(yq - fq) AS HUGEINT)) AS sae,
                      CAST(sum(CASE WHEN yq <> 0
                          THEN CAST(round(CAST(abs(yq - fq) AS DOUBLE) / CAST(abs(yq) AS DOUBLE) * 1e9) AS BIGINT)
                          ELSE 0 END) AS BIGINT) AS mape9,
                      CAST(sum(CASE WHEN yq <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS nz,
                      CAST(sum(CASE WHEN abs(yq) + abs(fq) > 0
                          THEN CAST(round(2.0 * CAST(abs(yq - fq) AS DOUBLE) / CAST(abs(yq) + abs(fq) AS DOUBLE) * 1e9) AS BIGINT)
                          ELSE 0 END) AS BIGINT) AS smape9,
                      CAST(sum(CASE WHEN abs(yq) + abs(fq) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS ns
               FROM test)
         SELECT mom.n AS n_train, n_test,
                round(CAST(sae AS DOUBLE) / n_test / 1e6, 6) AS mae,
                round(CASE WHEN nz > 0 THEN CAST(mape9 AS DOUBLE) / nz / 1e9 END, 6) AS mape,
                round(CASE WHEN ns > 0 THEN CAST(smape9 AS DOUBLE) / ns / 1e9 END, 6) AS smape
         FROM s CROSS JOIN mom""",
    "q278_powerlaw" ->
      """WITH it AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem),
         e AS (SELECT x.i AS a, y.i AS b FROM it x JOIN it y ON x.g = y.g AND x.i < y.i
               GROUP BY 1, 2 HAVING count(*) >= 2),
         ends AS (SELECT a AS v FROM e UNION ALL SELECT b FROM e),
         deg AS (SELECT v, count(*) AS d FROM ends GROUP BY 1),
         alln AS (SELECT count(*) AS n_nodes FROM deg),
         tail AS (SELECT count(*) AS n_tail,
                         CAST(sum(CAST(round(ln(CAST(d AS DOUBLE) / 1.5) * 1e9) AS BIGINT)) AS BIGINT) AS l9
                  FROM deg WHERE d >= 2)
         SELECT n_nodes, n_tail,
                round(CASE WHEN l9 > 0
                      THEN 1.0 + CAST(n_tail AS DOUBLE) / (CAST(l9 AS DOUBLE) / 1e9) END, 6) AS alpha,
                round(CASE WHEN l9 > 0 AND n_tail > 0
                      THEN (CAST(n_tail AS DOUBLE) / (CAST(l9 AS DOUBLE) / 1e9)) / sqrt(CAST(n_tail AS DOUBLE)) END, 6) AS alpha_se
         FROM alln CROSS JOIN tail""",
    "q279_hubness" ->
      """WITH p AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
                    ORDER BY vec_id LIMIT 1024),
         pr AS (SELECT a.id, b.id AS nb,
                       CAST(round((1.0 - list_cosine_similarity(a.v, b.v)) * 1e12) AS BIGINT) AS d
                FROM p a JOIN p b ON a.id <> b.id),
         knn AS (SELECT id, nb FROM (
                   SELECT id, nb, row_number() OVER (PARTITION BY id ORDER BY d, nb) AS rn
                   FROM pr) WHERE rn <= 10),
         nk AS (SELECT nb AS id, count(*) AS cnt FROM knn GROUP BY 1),
         fl AS (SELECT coalesce(nk.cnt, 0) AS c FROM p LEFT JOIN nk ON p.id = nk.id),
         t AS (SELECT count(*) AS n,
                      CAST(sum(CAST(c AS HUGEINT)) AS DOUBLE) AS s1,
                      CAST(sum(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS DOUBLE) AS s2,
                      CAST(sum(CAST(c AS HUGEINT) * CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS DOUBLE) AS s3,
                      max(c) AS max_nk,
                      CAST(sum(CASE WHEN c = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nz
               FROM fl)
         SELECT n, CAST(10 AS BIGINT) AS k, CAST(max_nk AS BIGINT) AS max_nk,
                round(CAST(nz AS DOUBLE) / n, 6) AS pct_antihubs,
                round(CASE WHEN s2 / n - (s1 / n) * (s1 / n) > 0
                      THEN (s3 / n - (s1 / n) * s2 / n * 3 + (s1 / n) * (s1 / n) * (s1 / n) * 2)
                           / pow(s2 / n - (s1 / n) * (s1 / n), 1.5) END, 6) AS skewness
         FROM t""",
    "q280_calinski" ->
      """WITH comps AS (
           SELECT label AS c, i - 1 AS d,
                  CAST(round(CAST(embedding[i] AS DOUBLE) * 1e6) AS BIGINT) AS x6
           FROM embeddings, unnest(range(1, len(embedding) + 1)) r(i)),
         percd AS (SELECT c, d, count(*) AS nc,
                          sum(CAST(x6 AS HUGEINT)) AS s,
                          sum(CAST(x6 AS HUGEINT) * CAST(x6 AS HUGEINT)) AS q
                   FROM comps GROUP BY 1, 2),
         perd AS (SELECT d, CAST(sum(nc) AS BIGINT) AS n, count(*) AS k,
                         sum(s) AS sd, sum(q) AS qd,
                         CAST(sum(CAST(round(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / nc) AS BIGINT)) AS HUGEINT) AS bd
                  FROM percd GROUP BY 1),
         t AS (SELECT max(n) AS n, max(k) AS k, count(*) AS dim,
                      sum(bd - CAST(round(CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE) / n) AS BIGINT)) AS ssb,
                      sum(qd - bd) AS ssw
               FROM perd)
         SELECT n, k, dim,
                round(CASE WHEN k >= 2 AND n > k AND ssw > 0
                      THEN (CAST(greatest(ssb, 0) AS DOUBLE) / (k - 1)) /
                           (CAST(ssw AS DOUBLE) / (n - k)) END, 4) AS ch
         FROM t""",
    "q281_permutation_test" ->
      """WITH units AS (
           SELECT user_id AS unit,
                  CAST(sum(CASE WHEN event_type = 'purchase'
                       THEN CAST(round(value * 1000000) AS BIGINT) ELSE 0 END) AS BIGINT) AS vq
           FROM events GROUP BY 1),
         obs AS (
           SELECT CAST(round(CASE WHEN n1 > 0 AND n0 > 0
                  THEN (CAST(s1 AS DOUBLE) / n1 - CAST(s0 AS DOUBLE) / n0) / 1e6 END * 1e9) AS BIGINT) AS obs9
           FROM (SELECT
                   CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                   CAST(sum(CASE WHEN arm <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
                   sum(CASE WHEN arm = 0 THEN CAST(vq AS HUGEINT) ELSE 0 END) AS s1,
                   sum(CASE WHEN arm <> 0 THEN CAST(vq AS HUGEINT) ELSE 0 END) AS s0
                 FROM (SELECT vq, ('0x' || substr(md5(CAST(unit AS VARCHAR)), 1, 8))::BIGINT % 2 AS arm
                       FROM units))),
         bs AS (SELECT CAST(i AS INT) AS b FROM unnest(range(1, 201)) r(i)),
         perms AS (
           SELECT b,
                  CAST(round(CASE WHEN n1 > 0 AND n0 > 0
                  THEN (CAST(s1 AS DOUBLE) / n1 - CAST(s0 AS DOUBLE) / n0) / 1e6 END * 1e9) AS BIGINT) AS d9
           FROM (SELECT b,
                   CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                   CAST(sum(CASE WHEN arm <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
                   sum(CASE WHEN arm = 0 THEN CAST(vq AS HUGEINT) ELSE 0 END) AS s1,
                   sum(CASE WHEN arm <> 0 THEN CAST(vq AS HUGEINT) ELSE 0 END) AS s0
                 FROM (SELECT vq, b,
                         ('0x' || substr(md5(CAST(unit AS VARCHAR) || ':' || CAST(b AS VARCHAR)), 1, 8))::BIGINT % 2 AS arm
                       FROM units CROSS JOIN bs)
                 GROUP BY 1)),
         s AS (SELECT count(*) AS n_perms,
                      CAST(sum(CASE WHEN abs(d9) >= abs(obs9) THEN 1 ELSE 0 END) AS BIGINT) AS ge,
                      max(obs9) AS o9
               FROM perms CROSS JOIN obs),
         nu AS (SELECT count(*) AS n_units FROM units)
         SELECT n_units, n_perms,
                round(CAST(o9 AS DOUBLE) / 1e9, 6) AS diff_obs,
                round(CAST(ge + 1 AS DOUBLE) / (n_perms + 1), 6) AS p_value
         FROM nu CROSS JOIN s""",
    "q282_gamma_somers" ->
      """WITH daily AS (
           SELECT CAST(ts AS DATE) AS day, count(*) AS x,
                  CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS vq
           FROM events GROUP BY 1),
         dm AS (SELECT day, x,
                       CAST(round(CAST(vq AS DOUBLE) / x * 1000) AS BIGINT) AS y
                FROM daily),
         pr AS (SELECT a.x AS x1, a.y AS y1, b.x AS x2, b.y AS y2
                FROM dm a JOIN dm b ON a.day < b.day),
         agg AS (SELECT count(*) AS n0,
                   CAST(sum(CASE WHEN x1 <> x2 AND y1 <> y2 AND (x2 > x1) = (y2 > y1) THEN 1 ELSE 0 END) AS BIGINT) AS c,
                   CAST(sum(CASE WHEN x1 <> x2 AND y1 <> y2 AND (x2 > x1) <> (y2 > y1) THEN 1 ELSE 0 END) AS BIGINT) AS d,
                   CAST(sum(CASE WHEN x1 = x2 THEN 1 ELSE 0 END) AS BIGINT) AS tx,
                   CAST(sum(CASE WHEN x1 <> x2 AND y1 = y2 THEN 1 ELSE 0 END) AS BIGINT) AS ty
                 FROM pr),
         nd AS (SELECT count(*) AS n_days FROM dm)
         SELECT n_days, c AS concordant, d AS discordant, tx AS ties_x, ty AS ties_y,
                round(CASE WHEN c + d > 0 THEN CAST(c - d AS DOUBLE) / (c + d) END, 6) AS gamma,
                round(CASE WHEN c + d + ty > 0 THEN CAST(c - d AS DOUBLE) / (c + d + ty) END, 6) AS somers_d_yx
         FROM nd CROSS JOIN agg""",
    "q283_kruskal_wallis" ->
      """WITH q AS (SELECT l_returnflag AS g,
                  CAST(round(l_quantity * 1000000) AS BIGINT) AS v FROM lineitem),
         cells AS (SELECT v, g, count(*) AS cnt FROM q GROUP BY 1, 2),
         byv AS (SELECT v, CAST(sum(cnt) AS BIGINT) AS ct FROM cells GROUP BY 1),
         r AS (SELECT v, ct,
                 2 * COALESCE(sum(ct) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 + ct + 1 AS r2
               FROM byv),
         cls AS (SELECT g, CAST(sum(cnt) AS BIGINT) AS n_i,
                        sum(CAST(cnt AS HUGEINT) * r2) AS s2
                 FROM cells JOIN r USING (v) GROUP BY 1),
         pin AS (SELECT n_i,
                   CAST(round(CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) /
                     (4.0 * n_i)) AS HUGEINT) AS u
                 FROM cls),
         tie AS (SELECT sum(CAST(ct AS HUGEINT) * ct * ct - ct) AS tie3 FROM r),
         agg AS (SELECT count(*) AS k, CAST(sum(n_i) AS BIGINT) AS n,
                        sum(u) AS su FROM pin)
         SELECT k, n,
                round(12.0 / (CAST(n AS DOUBLE) * (n + 1)) * CAST(su AS DOUBLE)
                  - 3.0 * (n + 1), 4) AS h,
                round(CASE WHEN 1.0 - CAST(tie3 AS DOUBLE) /
                        (CAST(n AS DOUBLE) * n * n - n) > 0
                  THEN (12.0 / (CAST(n AS DOUBLE) * (n + 1)) * CAST(su AS DOUBLE)
                        - 3.0 * (n + 1)) /
                       (1.0 - CAST(tie3 AS DOUBLE) /
                        (CAST(n AS DOUBLE) * n * n - n)) END, 4) AS h_adj
         FROM agg CROSS JOIN tie""",
    "q284_friedman" ->
      """WITH cr AS (SELECT CAST(ts AS DATE) AS b, event_type AS t,
                  count(*) AS v FROM events GROUP BY 1, 2),
         grid AS (SELECT b, t FROM (SELECT DISTINCT b FROM cr)
                  CROSS JOIN (SELECT DISTINCT t FROM cr)),
         cells AS (SELECT grid.b, grid.t, COALESCE(cr.v, 0) AS v
                   FROM grid LEFT JOIN cr ON grid.b = cr.b AND grid.t = cr.t),
         bybv AS (SELECT b, v, count(*) AS ct FROM cells GROUP BY 1, 2),
         r AS (SELECT b, v,
                 2 * COALESCE(sum(ct) OVER (PARTITION BY b ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 + ct + 1 AS r2
               FROM bybv),
         rc AS (SELECT cells.b, cells.t, r.r2
                FROM cells JOIN r ON cells.b = r.b AND cells.v = r.v),
         nk AS (SELECT count(DISTINCT b) AS n, count(DISTINCT t) AS k,
                       sum(CAST(r2 AS HUGEINT) * r2) AS sr2sq FROM rc),
         sj AS (SELECT t, CAST(sum(r2) AS HUGEINT) AS s2 FROM rc GROUP BY 1),
         num AS (SELECT sum((s2 - CAST(n AS HUGEINT) * (k + 1)) *
                            (s2 - CAST(n AS HUGEINT) * (k + 1))) AS sdev
                 FROM sj CROSS JOIN nk)
         SELECT n AS n_blocks, k,
                round(CASE WHEN CAST(sr2sq AS DOUBLE) -
                    CAST(n AS DOUBLE) * k * (k + 1) * (k + 1) > 0
                  THEN (k - 1) * CAST(sdev AS DOUBLE) /
                       (CAST(sr2sq AS DOUBLE) -
                        CAST(n AS DOUBLE) * k * (k + 1) * (k + 1)) END, 4) AS q
         FROM nk CROSS JOIN num""",
    "q285_t_closeness" ->
      """WITH base AS (SELECT c.c_mktsegment AS q0, o.o_orderstatus AS q1,
                  o.o_orderpriority AS s
                FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
         cells AS (SELECT q0, q1, s, count(*) AS c FROM base GROUP BY 1, 2, 3),
         gl AS (SELECT s, CAST(sum(c) AS BIGINT) AS g FROM cells GROUP BY 1),
         nall AS (SELECT CAST(sum(c) AS BIGINT) AS ntot FROM cells),
         ctot AS (SELECT q0, q1, CAST(sum(c) AS BIGINT) AS n FROM cells GROUP BY 1, 2),
         per AS (SELECT cells.q0, cells.q1, max(ctot.n) AS n, max(nall.ntot) AS ntot,
                   sum(abs(CAST(cells.c AS HUGEINT) * nall.ntot -
                           CAST(gl.g AS HUGEINT) * ctot.n)) AS sum_abs,
                   CAST(sum(gl.g) AS BIGINT) AS g_present
                 FROM cells
                 JOIN ctot ON cells.q0 = ctot.q0 AND cells.q1 = ctot.q1
                 JOIN gl ON cells.s = gl.s
                 CROSS JOIN nall
                 GROUP BY 1, 2),
         t AS (SELECT n,
                 (CAST(sum_abs AS DOUBLE) +
                  CAST(ntot - g_present AS DOUBLE) * n) /
                 (2.0 * CAST(n AS DOUBLE) * ntot) AS t
               FROM per)
         SELECT count(*) AS n_classes, CAST(sum(n) AS BIGINT) AS n_rows,
                round(max(t), 6) AS t_max,
                CAST(sum(CASE WHEN t > 0.2 THEN 1 ELSE 0 END) AS BIGINT) AS classes_above_t,
                CAST(sum(CASE WHEN t > 0.2 THEN n ELSE 0 END) AS BIGINT) AS rows_above_t
         FROM t""",
    "q286_fs_weights" ->
      """WITH m AS (
           SELECT 'name' AS field, CAST(c_name AS VARCHAR) AS v FROM customer
           UNION ALL
           SELECT 'nation', CAST(c_nationkey AS VARCHAR) FROM customer
           UNION ALL
           SELECT 'segment', CAST(c_mktsegment AS VARCHAR) FROM customer
           UNION ALL
           SELECT 'bal_band', CAST(CAST(floor(c_acctbal / 1000) AS BIGINT) AS VARCHAR) FROM customer),
         hist AS (SELECT field, v, count(*) AS c FROM m
                  WHERE v IS NOT NULL GROUP BY 1, 2),
         agg AS (SELECT field, CAST(sum(c) AS BIGINT) AS n,
                        count(*) AS n_distinct,
                        sum(CAST(c AS HUGEINT) * (c - 1)) AS agree2
                 FROM hist GROUP BY 1)
         SELECT field, n, n_distinct,
                round(CAST(agree2 AS DOUBLE) / (CAST(n AS DOUBLE) * (n - 1)), 8) AS u_prob,
                round(CASE WHEN agree2 > 0 THEN log2(0.95 /
                  (CAST(agree2 AS DOUBLE) / (CAST(n AS DOUBLE) * (n - 1)))) END, 4) AS w_agree,
                round(CASE WHEN CAST(agree2 AS DOUBLE) / (CAST(n AS DOUBLE) * (n - 1)) < 1
                  THEN log2(0.05 / (1.0 - CAST(agree2 AS DOUBLE) /
                       (CAST(n AS DOUBLE) * (n - 1)))) END, 4) AS w_disagree
         FROM agg ORDER BY field""",
    "q287_bfs_hops" ->
      """WITH inst AS (SELECT DISTINCT a.l_orderkey AS o, a.l_partkey AS ea, b.l_partkey AS eb
              FROM lineitem a JOIN lineitem b
                ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
         e AS (SELECT ea, eb FROM inst GROUP BY ea, eb HAVING count(*) >= 2),
         ends AS (SELECT ea AS x, eb AS y FROM e UNION SELECT eb, ea FROM e),
         src AS (SELECT min(x) AS s FROM ends),
         rec AS (
           WITH RECURSIVE reach(id, hop) AS (
             SELECT s, 0 FROM src
             UNION
             SELECT ends.y, reach.hop + 1
             FROM reach JOIN ends ON ends.x = reach.id
             WHERE reach.hop < 10)
           SELECT id, min(hop) AS hop FROM reach GROUP BY 1),
         hist AS (SELECT hop, count(*) AS n_nodes FROM rec GROUP BY 1),
         unreached AS (SELECT -1 AS hop, count(*) AS n_nodes
                       FROM (SELECT DISTINCT x FROM ends) nodes
                       LEFT JOIN rec ON nodes.x = rec.id
                       WHERE rec.id IS NULL
                       HAVING count(*) > 0)
         SELECT hop, n_nodes FROM hist
         UNION ALL SELECT hop, n_nodes FROM unreached
         ORDER BY hop""",
    "q289_dbscan" ->
      """WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
                FROM embeddings),
         p AS (SELECT a.id AS ia, b.id AS ib
               FROM e a JOIN e b ON a.id < b.id
               WHERE list_distance(a.v, b.v) <= 1.15),
         degs AS (SELECT id, count(*) AS d
                  FROM (SELECT ia AS id FROM p UNION ALL SELECT ib FROM p)
                  GROUP BY 1),
         cores AS (SELECT e.id FROM e LEFT JOIN degs ON e.id = degs.id
                   WHERE COALESCE(degs.d, 0) + 1 >= 4),
         ce AS (SELECT p.ia AS a, p.ib AS b FROM p
                JOIN cores x ON p.ia = x.id JOIN cores y ON p.ib = y.id),
         sym AS (SELECT a AS x, b AS y FROM ce UNION SELECT b, a FROM ce),
         comp AS (
           WITH RECURSIVE reach(id, lbl) AS (
             SELECT id, id FROM cores
             UNION
             SELECT sym.y, reach.lbl FROM reach JOIN sym ON sym.x = reach.id)
           SELECT id, min(lbl) AS cluster FROM reach GROUP BY 1),
         borders AS (
           SELECT nb.id, min(comp.cluster) AS cluster
           FROM (SELECT ia AS id, ib AS nb FROM p
                 UNION ALL SELECT ib, ia FROM p) nb
           JOIN cores ON nb.nb = cores.id
           JOIN comp ON nb.nb = comp.id
           WHERE nb.id NOT IN (SELECT id FROM cores)
           GROUP BY 1),
         lab AS (SELECT id, 'core' AS role, cluster FROM comp
                 UNION ALL SELECT id, 'border', cluster FROM borders)
         SELECT e.id, COALESCE(lab.role, 'noise') AS role,
                COALESCE(lab.cluster, -1) AS cluster
         FROM e LEFT JOIN lab ON e.id = lab.id
         ORDER BY e.id""",
    "q290_item_cf" ->
      """WITH it AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem),
         supp AS (SELECT a.i AS a, b.i AS b, count(*) AS support
                  FROM it a JOIN it b ON a.g = b.g AND a.i < b.i
                  GROUP BY 1, 2 HAVING count(*) >= 2),
         deg AS (SELECT i, count(*) AS c FROM it GROUP BY 1),
         pinned AS (SELECT supp.a, supp.b, supp.support,
                      CAST(round(CAST(supp.support AS DOUBLE) * 1e12 /
                        sqrt(CAST(da.c AS DOUBLE) * db.c)) AS BIGINT) AS s12
                    FROM supp JOIN deg da ON supp.a = da.i
                    JOIN deg db ON supp.b = db.i)
         SELECT a, b, support, round(CAST(s12 AS DOUBLE) / 1e12, 6) AS cosine
         FROM pinned ORDER BY s12 DESC, a, b LIMIT 20""",
    "q291_stl_decompose" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
                  CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS yq
                FROM events GROUP BY 1),
         wt AS (SELECT day, yq,
                  CAST(sum(yq) OVER (ORDER BY day
                    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT) AS wsum,
                  count(*) OVER (ORDER BY day
                    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS wn
                FROM daily),
         ft AS (SELECT day, yq, wsum,
                  CAST(round(CAST(wsum AS DOUBLE) / 7) AS BIGINT) AS trend6,
                  7 * yq - wsum AS d
                FROM wt WHERE wn = 7),
         seas AS (SELECT dayofweek(day) AS dow,
                    CAST(round(CAST(sum(d) AS DOUBLE) / (7.0 * count(*))) AS BIGINT) AS season6
                  FROM ft GROUP BY 1)
         SELECT ft.day, round(yq / 1e6, 6) AS y,
                round(trend6 / 1e6, 6) AS trend,
                round(season6 / 1e6, 6) AS seasonal,
                round((yq - trend6 - season6) / 1e6, 6) AS resid
         FROM ft JOIN seas ON dayofweek(ft.day) = seas.dow
         ORDER BY ft.day""",
    "q292_mantel_haenszel" ->
      """WITH base AS (SELECT CAST(ts AS DATE) AS day,
                  event_type = 'purchase' AS o,
                  ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 AS arm
                FROM events),
         cells AS (SELECT day,
                  CAST(sum(CASE WHEN arm = 0 AND o THEN 1 ELSE 0 END) AS BIGINT) AS a,
                  CAST(sum(CASE WHEN arm = 0 AND NOT o THEN 1 ELSE 0 END) AS BIGINT) AS b,
                  CAST(sum(CASE WHEN arm <> 0 AND o THEN 1 ELSE 0 END) AS BIGINT) AS c,
                  CAST(sum(CASE WHEN arm <> 0 AND NOT o THEN 1 ELSE 0 END) AS BIGINT) AS d
                FROM base GROUP BY 1),
         terms AS (SELECT
                  CASE WHEN n > 1 THEN a ELSE 0 END AS a_eff,
                  CASE WHEN n > 1 THEN CAST(round(CAST(a AS DOUBLE) * d / n * 1e8) AS BIGINT) ELSE 0 END AS ad8,
                  CASE WHEN n > 1 THEN CAST(round(CAST(b AS DOUBLE) * c / n * 1e8) AS BIGINT) ELSE 0 END AS bc8,
                  CASE WHEN n > 1 THEN CAST(round(CAST(a + b AS DOUBLE) * (a + c) / n * 1e8) AS BIGINT) ELSE 0 END AS e8,
                  CASE WHEN n > 1 THEN CAST(round(CAST(a + b AS DOUBLE) * (c + d) * (a + c) * (b + d) / (n * n * (n - 1)) * 1e8) AS BIGINT) ELSE 0 END AS v8
                FROM (SELECT a, b, c, d,
                        CAST(a + b + c + d AS DOUBLE) AS n FROM cells)),
         agg AS (SELECT count(*) AS n_strata,
                  CAST(sum(a_eff) AS BIGINT) AS sum_a,
                  CAST(sum(ad8) AS BIGINT) AS sad, CAST(sum(bc8) AS BIGINT) AS sbc,
                  CAST(sum(e8) AS BIGINT) AS se, CAST(sum(v8) AS BIGINT) AS sv
                 FROM terms)
         SELECT n_strata, sum_a,
                round(CASE WHEN sbc > 0
                  THEN CAST(sad AS DOUBLE) / sbc END, 6) AS or_mh,
                round(CASE WHEN sv > 0
                  THEN (CAST(sum_a AS DOUBLE) - CAST(se AS DOUBLE) / 1e8) *
                       (CAST(sum_a AS DOUBLE) - CAST(se AS DOUBLE) / 1e8) /
                       (CAST(sv AS DOUBLE) / 1e8) END, 4) AS cmh
         FROM agg""",
    "q294_holt" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
                  CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS yq
                FROM events GROUP BY 1),
         idx AS (SELECT day, yq,
                  CAST(row_number() OVER (ORDER BY day) AS INT) AS t FROM daily),
         rec AS (
           WITH RECURSIVE r(t, l, b) AS (
             SELECT 1,
                    (SELECT yq FROM idx WHERE t = 1),
                    (SELECT yq FROM idx WHERE t = 2) -
                    (SELECT yq FROM idx WHERE t = 1)
             UNION ALL
             SELECT i.t,
                    CAST(round(0.3 * i.yq + (1.0 - 0.3) * (r.l + r.b)) AS BIGINT),
                    CAST(round(0.2 * (CAST(round(0.3 * i.yq + (1.0 - 0.3) * (r.l + r.b)) AS BIGINT) - r.l)
                         + (1.0 - 0.2) * r.b) AS BIGINT)
             FROM r JOIN idx i ON i.t = r.t + 1)
           SELECT * FROM r)
         SELECT i.day, round(i.yq / 1e6, 6) AS y,
                round(cur.l / 1e6, 6) AS level,
                round(cur.b / 1e6, 6) AS trend,
                round((prev.l + prev.b) / 1e6, 6) AS fitted
         FROM rec cur JOIN rec prev ON prev.t = cur.t - 1
         JOIN idx i ON i.t = cur.t
         WHERE cur.t >= 2 ORDER BY i.day""",
    "q295_er_clusters" ->
      """WITH base AS (
           SELECT doc_id, substr(lower(trim(text)), 1, 40) AS rec
           FROM documents),
         roster AS (
           SELECT doc_id::BIGINT AS rid, rec AS name FROM base
           UNION ALL
           SELECT doc_id + 10000000,
             substr(rec, 1, 24) || substr(rec, 26, 1) || substr(rec, 25, 1)
               || substr(rec, 27, 40)
           FROM base WHERE doc_id % 2 = 0),
         keyed AS (
           SELECT rid, name,
             row_number() OVER (ORDER BY name, rid) AS rn
           FROM roster),
         pairs AS (
           SELECT a.rid AS ra, b.rid AS rb,
             jaro_winkler_similarity(a.name, b.name) AS sim
           FROM keyed a JOIN keyed b
             ON b.rn > a.rn AND b.rn <= a.rn + 4),
         p AS (SELECT DISTINCT least(ra, rb) AS a, greatest(ra, rb) AS b
               FROM pairs WHERE sim >= 0.92),
         sym AS (SELECT a AS x, b AS y FROM p UNION SELECT b, a FROM p),
         nodes AS (SELECT DISTINCT x AS id FROM sym),
         comp AS (
           WITH RECURSIVE reach(id, lbl) AS (
             SELECT id, id FROM nodes
             UNION
             SELECT sym.y, reach.lbl FROM reach JOIN sym ON sym.x = reach.id)
           SELECT id, min(lbl) AS cluster FROM reach GROUP BY 1)
         SELECT cluster, count(*) AS n_members,
                CAST(sum(CASE WHEN id < 10000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
                CAST(sum(CASE WHEN id >= 10000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_dirty
         FROM comp GROUP BY 1 ORDER BY 1""",
    "q296_page_trend" ->
      """WITH cr AS (SELECT CAST(ts AS DATE) AS b, event_type AS t,
                  count(*) AS v FROM events GROUP BY 1, 2),
         tr AS (SELECT t, CAST(row_number() OVER (ORDER BY t) AS BIGINT) AS j
                FROM (SELECT DISTINCT t FROM cr)),
         grid AS (SELECT b, j, t FROM (SELECT DISTINCT b FROM cr) CROSS JOIN tr),
         cells AS (SELECT grid.b, grid.j, COALESCE(cr.v, 0) AS v
                   FROM grid LEFT JOIN cr ON grid.b = cr.b AND grid.t = cr.t),
         bybv AS (SELECT b, v, count(*) AS ct FROM cells GROUP BY 1, 2),
         r AS (SELECT b, v,
                 2 * COALESCE(sum(ct) OVER (PARTITION BY b ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 + ct + 1 AS r2
               FROM bybv),
         rc AS (SELECT cells.b, cells.j, r.r2
                FROM cells JOIN r ON cells.b = r.b AND cells.v = r.v),
         agg AS (SELECT count(DISTINCT b) AS n, count(DISTINCT j) AS k,
                        sum(CAST(j AS HUGEINT) * r2) AS l2 FROM rc)
         SELECT n AS n_blocks, k,
                round(CAST(l2 AS DOUBLE) / 2, 1) AS l,
                round(CASE WHEN CAST(n AS DOUBLE) * k * k * (k + 1) * (k + 1) * (k - 1) / 144 > 0
                  THEN (CAST(l2 AS DOUBLE) / 2 -
                        CAST(n AS DOUBLE) * k * (k + 1) * (k + 1) / 4) /
                       sqrt(CAST(n AS DOUBLE) * k * k * (k + 1) * (k + 1) * (k - 1) / 144)
                  END, 4) AS z
         FROM agg""",
    "q297_nelson_aalen" ->
      """WITH u AS (SELECT user_id, min(ts) AS t0,
                min(CASE WHEN event_type = 'purchase' THEN ts END) AS tp,
                max(ts) AS tl
              FROM events GROUP BY 1),
         dd AS (SELECT CASE WHEN tp IS NOT NULL THEN date_diff('day', CAST(t0 AS DATE), CAST(tp AS DATE))
                            ELSE date_diff('day', CAST(t0 AS DATE), CAST(tl AS DATE)) END AS dur,
                       CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS death
                FROM u),
         g AS (SELECT dur AS t, count(*) AS m, CAST(sum(death) AS BIGINT) AS d FROM dd GROUP BY 1),
         r AS (SELECT t, d, CAST(sum(m) OVER (ORDER BY t DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_risk FROM g),
         dl AS (SELECT t, d, n_risk,
                  CAST(round(CAST(d AS DOUBLE) / n_risk * 1e9) AS BIGINT) AS h9
                FROM r WHERE d > 0),
         c AS (SELECT t, d, n_risk,
                 CAST(sum(h9) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ch9
               FROM dl)
         SELECT t, d, n_risk, round(ch9 / 1e9, 6) AS cum_haz,
                round(exp(-(ch9 / 1e9)), 6) AS na_surv
         FROM c ORDER BY t""",
    "q298_cochran_q" ->
      """WITH inc AS (SELECT DISTINCT user_id AS u, event_type AS t FROM events),
         ct AS (SELECT CAST(sum(cj) AS HUGEINT) AS n,
                       sum(CAST(cj AS HUGEINT) * cj) AS scj2
                FROM (SELECT t, count(*) AS cj FROM inc GROUP BY 1)),
         rt AS (SELECT count(*) AS n_users,
                       sum(CAST(ri AS HUGEINT) * ri) AS sri2
                FROM (SELECT u, count(*) AS ri FROM inc GROUP BY 1)),
         kk AS (SELECT count(DISTINCT t) AS k FROM inc)
         SELECT n_users, k,
                round(CASE WHEN k * CAST(n AS DOUBLE) - CAST(sri2 AS DOUBLE) > 0
                  THEN (k - 1) * (k * CAST(scj2 AS DOUBLE) -
                         CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) /
                       (k * CAST(n AS DOUBLE) - CAST(sri2 AS DOUBLE)) END, 4) AS q
         FROM rt CROSS JOIN ct CROSS JOIN kk""",
    "q299_mcnemar" ->
      """WITH span AS (SELECT min(CAST(ts AS DATE)) AS d0,
                  max(CAST(ts AS DATE)) AS d1 FROM events),
         per AS (SELECT user_id AS u,
                  max(CASE WHEN CAST(ts AS DATE) <= d0 +
                        CAST(floor(date_diff('day', d0, d1) / 2) AS INT)
                        AND event_type = 'purchase' THEN 1 ELSE 0 END) AS p1,
                  max(CASE WHEN CAST(ts AS DATE) > d0 +
                        CAST(floor(date_diff('day', d0, d1) / 2) AS INT)
                        AND event_type = 'purchase' THEN 1 ELSE 0 END) AS p2
                FROM events CROSS JOIN span GROUP BY 1)
         SELECT count(*) AS n_units,
                CAST(sum(CASE WHEN p1 = 1 AND p2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
                CAST(sum(CASE WHEN p1 = 0 AND p2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
                round(CASE WHEN sum(CASE WHEN p1 <> p2 THEN 1 ELSE 0 END) > 0
                  THEN CAST(sum(CASE WHEN p1 = 1 AND p2 = 0 THEN 1 ELSE 0 END) -
                            sum(CASE WHEN p1 = 0 AND p2 = 1 THEN 1 ELSE 0 END) AS DOUBLE) *
                       CAST(sum(CASE WHEN p1 = 1 AND p2 = 0 THEN 1 ELSE 0 END) -
                            sum(CASE WHEN p1 = 0 AND p2 = 1 THEN 1 ELSE 0 END) AS DOUBLE) /
                       CAST(sum(CASE WHEN p1 <> p2 THEN 1 ELSE 0 END) AS DOUBLE) END, 4) AS chi2
         FROM per""",
    "q300_runs_test" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
                  CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS yq
                FROM events GROUP BY 1),
         ds AS (SELECT day, yq - lag(yq) OVER (ORDER BY day) AS d FROM daily),
         f AS (SELECT day, CASE WHEN d > 0 THEN 1 ELSE -1 END AS s
               FROM ds WHERE d IS NOT NULL AND d <> 0),
         r AS (SELECT s, CASE WHEN lag(s) OVER (ORDER BY day) IS NULL
                     OR lag(s) OVER (ORDER BY day) <> s THEN 1 ELSE 0 END AS chg
               FROM f),
         agg AS (SELECT
                  CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
                  CAST(sum(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
                  CAST(sum(chg) AS BIGINT) AS runs
                 FROM r)
         SELECT n_pos, n_neg, runs,
                round(CASE WHEN (2.0 * n_pos * n_neg / (CAST(n_pos AS DOUBLE) + n_neg) + 1 - 1) *
                        (2.0 * n_pos * n_neg / (CAST(n_pos AS DOUBLE) + n_neg) + 1 - 2) /
                        (CAST(n_pos AS DOUBLE) + n_neg - 1) > 0
                  THEN (CAST(runs AS DOUBLE) -
                        (2.0 * n_pos * n_neg / (CAST(n_pos AS DOUBLE) + n_neg) + 1)) /
                       sqrt((2.0 * n_pos * n_neg / (CAST(n_pos AS DOUBLE) + n_neg) + 1 - 1) *
                            (2.0 * n_pos * n_neg / (CAST(n_pos AS DOUBLE) + n_neg) + 1 - 2) /
                            (CAST(n_pos AS DOUBLE) + n_neg - 1)) END, 4) AS z
         FROM agg""",
    "q301_grubbs" ->
      """WITH a AS (SELECT count(*) AS n,
                  CAST(min(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS mn,
                  CAST(max(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS mx,
                  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sx,
                  CAST(sum(CAST(value AS DECIMAL(18,6)) *
                           CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sxx
                FROM events)
         SELECT n, round(mn, 6) AS vmin, round(mx, 6) AS vmax,
                round(CASE WHEN n > 1 AND
                    (sxx - sx * sx / n) / (n - 1) > 0
                  THEN greatest(mx - sx / n, sx / n - mn) /
                       sqrt((sxx - sx * sx / n) / (n - 1)) END, 4) AS g
         FROM a""",
    "q302_cronbach" ->
      """WITH cells AS (SELECT user_id AS u, event_type AS t, count(*) AS x
                FROM events GROUP BY 1, 2),
         nu AS (SELECT count(DISTINCT u) AS n FROM cells),
         kk AS (SELECT count(DISTINCT t) AS k FROM cells),
         items AS (SELECT CAST((SELECT n FROM nu) AS HUGEINT) *
                     sum(CAST(x AS HUGEINT) * x) -
                     sum(CAST(x AS HUGEINT)) * sum(CAST(x AS HUGEINT)) AS vj
                   FROM cells GROUP BY t),
         si AS (SELECT sum(vj) AS svj FROM items),
         tot AS (SELECT CAST((SELECT n FROM nu) AS HUGEINT) *
                   sum(CAST(ti AS HUGEINT) * ti) -
                   sum(CAST(ti AS HUGEINT)) * sum(CAST(ti AS HUGEINT)) AS vt
                 FROM (SELECT u, CAST(sum(x) AS BIGINT) AS ti
                       FROM cells GROUP BY 1))
         SELECT n AS n_users, k,
                round(CASE WHEN vt > 0 AND k > 1
                  THEN k / (k - 1.0) *
                       (1.0 - CAST(svj AS DOUBLE) / CAST(vt AS DOUBLE)) END, 4) AS alpha
         FROM nu CROSS JOIN kk CROSS JOIN si CROSS JOIN tot""",
    "q303_dup_threshold_sweep" ->
      """WITH t AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
           FROM documents),
         sh AS (
           SELECT doc_id, unnest(list_distinct(
             list_transform(range(len(toks) - 2),
               i -> array_to_string(toks[i+1:i+3], ' ')))) AS tok
           FROM t),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         shared AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
           FROM sh a JOIN sh b ON a.tok = b.tok AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         pairs AS (
           SELECT id_a, id_b, round(c * 1.0 / (sa.n + sb.n - c), 4) AS j
           FROM shared
           JOIN sizes sa ON sa.doc_id = id_a
           JOIN sizes sb ON sb.doc_id = id_b
           WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.6),
         grid AS (SELECT CAST(unnest([0.6, 0.7, 0.8, 0.9]) AS DOUBLE) AS tau),
         hit AS (SELECT tau, id_a, id_b FROM pairs CROSS JOIN grid
                 WHERE j >= tau),
         np AS (SELECT tau, count(*) AS n_pairs FROM hit GROUP BY 1),
         nd AS (SELECT tau, count(*) AS n_docs FROM (
                  SELECT DISTINCT tau, id FROM (
                    SELECT tau, id_a AS id FROM hit
                    UNION ALL SELECT tau, id_b FROM hit))
                GROUP BY 1)
         SELECT grid.tau, COALESCE(np.n_pairs, 0) AS n_pairs,
                COALESCE(nd.n_docs, 0) AS n_docs
         FROM grid LEFT JOIN np ON grid.tau = np.tau
         LEFT JOIN nd ON grid.tau = nd.tau
         ORDER BY grid.tau""",
    "q305_diameter_sweep" ->
      """WITH inst AS (SELECT DISTINCT a.l_orderkey AS o, a.l_partkey AS ea, b.l_partkey AS eb
              FROM lineitem a JOIN lineitem b
                ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
         e AS (SELECT ea, eb FROM inst GROUP BY ea, eb HAVING count(*) >= 2),
         ends AS (SELECT ea AS x, eb AS y FROM e UNION SELECT eb, ea FROM e),
         src AS (SELECT min(x) AS s FROM ends),
         d1 AS (
           WITH RECURSIVE r(id, hop) AS (
             SELECT s, 0 FROM src
             UNION
             SELECT ends.y, r.hop + 1 FROM r JOIN ends ON ends.x = r.id
             WHERE r.hop < 16)
           SELECT id, min(hop) AS hop FROM r GROUP BY 1),
         far AS (SELECT id, hop FROM d1 ORDER BY hop DESC, id LIMIT 1),
         d2 AS (
           WITH RECURSIVE r2(id, hop) AS (
             SELECT id, 0 FROM far
             UNION
             SELECT ends.y, r2.hop + 1 FROM r2 JOIN ends ON ends.x = r2.id
             WHERE r2.hop < 16)
           SELECT id, min(hop) AS hop FROM r2 GROUP BY 1)
         SELECT (SELECT s FROM src) AS source,
                (SELECT hop FROM far) AS ecc_source,
                (SELECT id FROM far) AS far_node,
                (SELECT max(hop) FROM d2) AS ecc_far""",
    "q307_weibull_fit" ->
      """WITH u AS (SELECT user_id, min(ts) AS t0,
                min(CASE WHEN event_type = 'purchase' THEN ts END) AS tp
              FROM events GROUP BY 1),
         dd AS (SELECT date_diff('day', CAST(t0 AS DATE), CAST(tp AS DATE)) AS dur
                FROM u WHERE tp IS NOT NULL),
         dd2 AS (SELECT dur FROM dd WHERE dur > 0),
         nn AS (SELECT count(*) AS n FROM dd2),
         g AS (SELECT dur AS t, count(*) AS c FROM dd2 GROUP BY 1),
         rk AS (SELECT t, c,
                  COALESCE(sum(c) OVER (ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
                FROM g),
         obs AS (SELECT
                  CAST(round(ln(CAST(t AS DOUBLE)) * 1e9) AS BIGINT) AS x9,
                  CAST(round(ln(-ln(1.0 - (CAST(i AS DOUBLE) - 0.3) / (n + 0.4)))
                    * 1e9) AS BIGINT) AS y9
                 FROM rk CROSS JOIN nn, unnest(range(CAST(cb + 1 AS BIGINT), CAST(cb + c + 1 AS BIGINT))) r(i)),
         agg AS (SELECT count(*) AS ne,
                  sum(CAST(x9 AS HUGEINT)) AS sx, sum(CAST(y9 AS HUGEINT)) AS sy,
                  sum(CAST(x9 AS HUGEINT) * x9) AS sxx,
                  sum(CAST(x9 AS HUGEINT) * y9) AS sxy
                 FROM obs)
         SELECT ne AS n_events,
                round(CASE WHEN CAST(ne AS DOUBLE) * (CAST(sxx AS DOUBLE) / 1e18) -
                        (CAST(sx AS DOUBLE) / 1e9) * (CAST(sx AS DOUBLE) / 1e9) > 0
                  THEN (CAST(ne AS DOUBLE) * (CAST(sxy AS DOUBLE) / 1e18) -
                        (CAST(sx AS DOUBLE) / 1e9) * (CAST(sy AS DOUBLE) / 1e9)) /
                       (CAST(ne AS DOUBLE) * (CAST(sxx AS DOUBLE) / 1e18) -
                        (CAST(sx AS DOUBLE) / 1e9) * (CAST(sx AS DOUBLE) / 1e9))
                  END, 4) AS shape,
                round(CASE WHEN CAST(ne AS DOUBLE) * (CAST(sxx AS DOUBLE) / 1e18) -
                        (CAST(sx AS DOUBLE) / 1e9) * (CAST(sx AS DOUBLE) / 1e9) > 0
                  THEN exp(-(((CAST(sy AS DOUBLE) / 1e9) -
                        ((CAST(ne AS DOUBLE) * (CAST(sxy AS DOUBLE) / 1e18) -
                          (CAST(sx AS DOUBLE) / 1e9) * (CAST(sy AS DOUBLE) / 1e9)) /
                         (CAST(ne AS DOUBLE) * (CAST(sxx AS DOUBLE) / 1e18) -
                          (CAST(sx AS DOUBLE) / 1e9) * (CAST(sx AS DOUBLE) / 1e9))) *
                         (CAST(sx AS DOUBLE) / 1e9)) / ne) /
                       ((CAST(ne AS DOUBLE) * (CAST(sxy AS DOUBLE) / 1e18) -
                         (CAST(sx AS DOUBLE) / 1e9) * (CAST(sy AS DOUBLE) / 1e9)) /
                        (CAST(ne AS DOUBLE) * (CAST(sxx AS DOUBLE) / 1e18) -
                         (CAST(sx AS DOUBLE) / 1e9) * (CAST(sx AS DOUBLE) / 1e9))))
                  END, 4) AS scale
         FROM agg""",
    "q308_hodges_lehmann" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
                  CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS yq
                FROM events GROUP BY 1),
         w AS (SELECT a.yq + b.yq AS w2 FROM daily a JOIN daily b
               ON a.day <= b.day),
         r AS (SELECT w2, row_number() OVER (ORDER BY w2) AS rn FROM w),
         nd AS (SELECT count(*) AS n FROM daily),
         mm AS (SELECT n, n * (n + 1) // 2 AS m FROM nd),
         mid AS (SELECT r.w2 FROM r CROSS JOIN mm
                 WHERE (m % 2 = 1 AND rn = m // 2 + 1)
                    OR (m % 2 = 0 AND (rn = m // 2 OR rn = m // 2 + 1)))
         SELECT (SELECT n FROM nd) AS n_days, (SELECT m FROM mm) AS n_pairs,
                round(avg(CAST(w2 AS DOUBLE)) / 2e6, 6) AS hl
         FROM mid""",
    "q309_wilson_ci" ->
      """WITH v AS (SELECT user_id,
                  CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 = 0
                       THEN 'A' ELSE 'B' END AS arm,
                  max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS c
                FROM events GROUP BY 1, 2),
         s AS (SELECT arm, count(*) AS n, CAST(sum(c) AS BIGINT) AS conv
               FROM v GROUP BY 1),
         ab AS (SELECT a.n AS n_a, a.conv AS conv_a, b.n AS n_b, b.conv AS conv_b
                FROM s a, s b WHERE a.arm = 'A' AND b.arm = 'B'),
         c1 AS (SELECT *, CAST(conv_a AS DOUBLE) / n_a AS pa,
                          CAST(conv_b AS DOUBLE) / n_b AS pb FROM ab),
         c2 AS (SELECT *,
                  (pa + (1.96 * 1.96) / (2 * CAST(n_a AS DOUBLE))) /
                    (1.0 + (1.96 * 1.96) / CAST(n_a AS DOUBLE)) AS ctr_a,
                  1.96 * sqrt(pa * (1.0 - pa) / CAST(n_a AS DOUBLE) +
                    (1.96 * 1.96) / (4 * CAST(n_a AS DOUBLE) * CAST(n_a AS DOUBLE))) /
                    (1.0 + (1.96 * 1.96) / CAST(n_a AS DOUBLE)) AS hf_a,
                  (pb + (1.96 * 1.96) / (2 * CAST(n_b AS DOUBLE))) /
                    (1.0 + (1.96 * 1.96) / CAST(n_b AS DOUBLE)) AS ctr_b,
                  1.96 * sqrt(pb * (1.0 - pb) / CAST(n_b AS DOUBLE) +
                    (1.96 * 1.96) / (4 * CAST(n_b AS DOUBLE) * CAST(n_b AS DOUBLE))) /
                    (1.0 + (1.96 * 1.96) / CAST(n_b AS DOUBLE)) AS hf_b
                FROM c1),
         c3 AS (SELECT *, ctr_a - hf_a AS lo_a, ctr_a + hf_a AS hi_a,
                          ctr_b - hf_b AS lo_b, ctr_b + hf_b AS hi_b,
                          pa - pb AS diff FROM c2)
         SELECT n_a, conv_a, round(lo_a, 6) AS lo_a, round(hi_a, 6) AS hi_a,
                n_b, conv_b, round(lo_b, 6) AS lo_b, round(hi_b, 6) AS hi_b,
                round(diff, 6) AS diff,
                round(diff - sqrt((pa - lo_a) * (pa - lo_a) +
                  (hi_b - pb) * (hi_b - pb)), 6) AS diff_lo,
                round(diff + sqrt((hi_a - pa) * (hi_a - pa) +
                  (pb - lo_b) * (pb - lo_b)), 6) AS diff_hi
         FROM c3""",
    "q310_eb_shrinkage" ->
      """WITH per AS (SELECT user_id AS unit, count(*) AS n,
                  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS x
                FROM events GROUP BY 1),
         p9 AS (SELECT unit, n, x,
                  CAST(round(CAST(x AS DOUBLE) / n * 1e9) AS BIGINT) AS p9
                FROM per),
         mom AS (SELECT count(*) AS m, sum(CAST(p9 AS HUGEINT)) AS sp,
                        sum(CAST(p9 AS HUGEINT) * p9) AS spp FROM p9),
         calc AS (SELECT CAST(m AS DOUBLE) AS m,
                    CAST(sp AS DOUBLE) / 1e9 / CAST(m AS DOUBLE) AS mu,
                    CAST(spp AS DOUBLE) / 1e18 / CAST(m AS DOUBLE) -
                      (CAST(sp AS DOUBLE) / 1e9 / CAST(m AS DOUBLE)) *
                      (CAST(sp AS DOUBLE) / 1e9 / CAST(m AS DOUBLE)) AS vr
                  FROM mom),
         pri AS (SELECT mu, vr, mu * (1.0 - mu) / vr - 1 AS s FROM calc)
         SELECT unit, n, x, round(p9 / 1e9, 6) AS raw_rate,
                round(CASE WHEN vr > 0 AND s > 0
                  THEN (x + mu * s) / (n + mu * s + (1.0 - mu) * s)
                  ELSE p9 / 1e9 END, 6) AS shrunk_rate
         FROM p9 CROSS JOIN pri
         ORDER BY unit""",
    "q311_dickey_fuller" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
                  CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS yq
                FROM events GROUP BY 1),
         obs AS (SELECT lag(yq) OVER (ORDER BY day) AS x,
                        yq - lag(yq) OVER (ORDER BY day) AS dy
                 FROM daily QUALIFY x IS NOT NULL),
         mom AS (SELECT count(*) AS n,
                  sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(dy AS HUGEINT)) AS sy,
                  sum(CAST(x AS HUGEINT) * dy) AS sxy,
                  sum(CAST(x AS HUGEINT) * x) AS sxx,
                  sum(CAST(dy AS HUGEINT) * dy) AS syy
                 FROM obs),
         c AS (SELECT n,
                 CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
                   CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS den,
                 CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
                   CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS sxyc,
                 CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) -
                   CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS syyc
               FROM mom)
         SELECT n AS n_obs,
                round(CASE WHEN den > 0 THEN sxyc / den END, 6) AS beta,
                round(CASE WHEN den > 0 AND n > 2
                        AND syyc - (sxyc / den) * sxyc > 0
                  THEN (sxyc / den) /
                       sqrt((syyc - (sxyc / den) * sxyc) /
                            (CAST(n AS DOUBLE) - 2) / den) END, 4) AS t_stat
         FROM c""",
    "q312_ccf" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day, count(*) AS x,
                  CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS y
                FROM events GROUP BY 1),
         idx AS (SELECT x, y, row_number() OVER (ORDER BY day) AS t FROM daily),
         lags AS (SELECT CAST(i AS INT) AS lag
                  FROM unnest(range(-7, 8)) r(i)),
         j AS (SELECT lags.lag, a.x, b.y AS y2
               FROM idx a CROSS JOIN lags
               JOIN idx b ON a.t + lags.lag = b.t),
         m AS (SELECT lag, count(*) AS n,
                 sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y2 AS HUGEINT)) AS sy,
                 sum(CAST(x AS HUGEINT) * y2) AS sxy,
                 sum(CAST(x AS HUGEINT) * x) AS sxx,
                 sum(CAST(y2 AS HUGEINT) * y2) AS syy
               FROM j GROUP BY 1)
         SELECT lag, n,
                round(CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
                        CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
                       AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) -
                        CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
                  THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
                        CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
                       sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
                         CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
                        (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) -
                         CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) END, 6) AS r
         FROM m ORDER BY lag""",
    "q313_hash_collisions" ->
      """WITH toks AS (
           SELECT tok, count(*) AS occ FROM (
             SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
             FROM documents)
           WHERE length(tok) > 0 GROUP BY 1),
         tb AS (SELECT tok, occ,
                  ('0x' || substr(md5(tok), 1, 8))::BIGINT % 1024 AS b
                FROM toks),
         pb AS (SELECT b, count(*) AS nt FROM tb GROUP BY 1),
         jn AS (SELECT tb.occ, pb.nt FROM tb JOIN pb ON tb.b = pb.b)
         SELECT (SELECT count(*) FROM tb) AS n_tokens,
                CAST(sum(occ) AS BIGINT) AS n_occurrences,
                (SELECT count(*) FROM pb) AS n_buckets_used,
                (SELECT max(nt) FROM pb) AS max_bucket_load,
                CAST(sum(CASE WHEN nt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS colliding_tokens,
                round(CAST(sum(CASE WHEN nt > 1 THEN occ ELSE 0 END) AS DOUBLE) /
                      sum(occ), 6) AS colliding_occ_frac
         FROM jn""",
    "q314_burrows_delta" ->
      """WITH toks AS (
           SELECT source AS src, tok, count(*) AS c FROM (
             SELECT source, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
             FROM documents)
           WHERE length(tok) > 0 GROUP BY 1, 2),
         totals AS (SELECT src, CAST(sum(c) AS BIGINT) AS tot FROM toks GROUP BY 1),
         top AS (SELECT tok FROM (SELECT tok, CAST(sum(c) AS BIGINT) AS f
                                  FROM toks GROUP BY 1)
                 ORDER BY f DESC, tok LIMIT 30),
         ns AS (SELECT count(*) AS n FROM totals),
         rf AS (SELECT totals.src, top.tok,
                  CAST(round(CAST(COALESCE(toks.c, 0) AS DOUBLE) /
                    totals.tot * 1e9) AS BIGINT) AS rf9
                FROM totals CROSS JOIN top
                LEFT JOIN toks ON toks.src = totals.src AND toks.tok = top.tok),
         stats AS (SELECT tok,
                     CAST(s1 AS DOUBLE) / n AS mu,
                     sqrt(CAST(s2 AS DOUBLE) / n -
                       (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)) AS sigma
                   FROM (SELECT tok, sum(CAST(rf9 AS HUGEINT)) AS s1,
                           sum(CAST(rf9 AS HUGEINT) * rf9) AS s2
                         FROM rf GROUP BY 1) CROSS JOIN ns),
         z AS (SELECT rf.src, rf.tok,
                 CAST(round((CAST(rf9 AS DOUBLE) - mu) / sigma * 1e6) AS BIGINT) AS z6
               FROM rf JOIN stats ON rf.tok = stats.tok
               WHERE sigma > 0)
         SELECT a.src AS source_a, b.src AS source_b,
                count(*) AS k_eff,
                round(CAST(sum(abs(a.z6 - b.z6)) AS DOUBLE) / count(*) / 1e6, 4) AS delta
         FROM z a JOIN z b ON a.tok = b.tok AND a.src < b.src
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "q315_smd_balance" ->
      """WITH per AS (SELECT user_id AS unit, count(*) AS n_events,
                  CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS value6,
                  count(DISTINCT CAST(ts AS DATE)) AS active_days,
                  CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 = 0
                       THEN 1 ELSE 0 END AS arm1
                FROM events GROUP BY 1),
         melted AS (
           SELECT arm1, 'n_events' AS covariate, n_events AS x FROM per
           UNION ALL SELECT arm1, 'value6', value6 FROM per
           UNION ALL SELECT arm1, 'active_days', active_days FROM per),
         cells AS (SELECT covariate, arm1, count(*) AS n,
                     sum(CAST(x AS HUGEINT)) AS sx,
                     sum(CAST(x AS HUGEINT) * x) AS sxx
                   FROM melted GROUP BY 1, 2),
         j AS (SELECT a.covariate, a.n AS n1, a.sx AS sx1, a.sxx AS sxx1,
                      b.n AS n0, b.sx AS sx0, b.sxx AS sxx0
               FROM cells a JOIN cells b
                 ON a.covariate = b.covariate AND a.arm1 = 1 AND b.arm1 = 0),
         c AS (SELECT covariate, n1, n0,
                 CAST(sx1 AS DOUBLE) / n1 AS m1, CAST(sx0 AS DOUBLE) / n0 AS m0,
                 CASE WHEN n1 > 1 THEN (CAST(sxx1 AS DOUBLE) -
                   CAST(sx1 AS DOUBLE) * CAST(sx1 AS DOUBLE) / n1) / (n1 - 1) END AS v1,
                 CASE WHEN n0 > 1 THEN (CAST(sxx0 AS DOUBLE) -
                   CAST(sx0 AS DOUBLE) * CAST(sx0 AS DOUBLE) / n0) / (n0 - 1) END AS v0
               FROM j)
         SELECT covariate, n1, n0, round(m1, 4) AS mean1, round(m0, 4) AS mean0,
                round(CASE WHEN sqrt((v1 + v0) / 2) > 0
                  THEN (m1 - m0) / sqrt((v1 + v0) / 2) END, 4) AS smd,
                CAST(CASE WHEN abs(CASE WHEN sqrt((v1 + v0) / 2) > 0
                  THEN (m1 - m0) / sqrt((v1 + v0) / 2) END) > 0.1
                  THEN 1 ELSE 0 END AS BIGINT) AS flagged
         FROM c ORDER BY covariate""",
    "q316_l_moments" ->
      """WITH g AS (SELECT CAST(round(value * 1000000) AS BIGINT) AS v,
                  count(*) AS c
                FROM events GROUP BY 1),
         r AS (SELECT v, c,
                 COALESCE(sum(c) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
               FROM g),
         ws AS (SELECT v, c, cb,
                 CAST(c AS HUGEINT) AS w0,
                 (CAST(cb + c AS HUGEINT) * (cb + c - 1) // 2 -
                  CAST(cb AS HUGEINT) * (cb - 1) // 2) AS w1,
                 (CAST(cb + c AS HUGEINT) * (cb + c - 1) * (cb + c - 2) // 6 -
                  CAST(cb AS HUGEINT) * (cb - 1) * (cb - 2) // 6) AS w2,
                 (CAST(cb + c AS HUGEINT) * (cb + c - 1) * (cb + c - 2) * (cb + c - 3) // 24 -
                  CAST(cb AS HUGEINT) * (cb - 1) * (cb - 2) * (cb - 3) // 24) AS w3
               FROM r),
         agg AS (SELECT CAST(sum(c) AS BIGINT) AS n,
                  sum(CAST(v AS HUGEINT) * w0) AS s0,
                  sum(CAST(v AS HUGEINT) * w1) AS s1,
                  sum(CAST(v AS HUGEINT) * w2) AS s2,
                  sum(CAST(v AS HUGEINT) * w3) AS s3
                 FROM ws),
         b AS (SELECT n,
                 CAST(s0 AS DOUBLE) / n AS b0,
                 CASE WHEN n > 1 THEN CAST(s1 AS DOUBLE) / (CAST(n AS DOUBLE) * (n - 1)) END AS b1,
                 CASE WHEN n > 2 THEN CAST(s2 AS DOUBLE) / (CAST(n AS DOUBLE) * (n - 1) * (n - 2) / 2) END AS b2,
                 CASE WHEN n > 3 THEN CAST(s3 AS DOUBLE) / (CAST(n AS DOUBLE) * (n - 1) * (n - 2) * (n - 3) / 6) END AS b3
               FROM agg),
         l AS (SELECT n, b0 / 1e6 AS l1,
                 (2.0 * b1 - b0) / 1e6 AS l2,
                 (6.0 * b2 - 6.0 * b1 + b0) / 1e6 AS l3,
                 (20.0 * b3 - 30.0 * b2 + 12.0 * b1 - b0) / 1e6 AS l4
               FROM b)
         SELECT n, round(l1, 6) AS l1, round(l2, 6) AS l2,
                round(CASE WHEN abs(l1) > 0 THEN l2 / l1 END, 6) AS l_cv,
                round(CASE WHEN abs(l2) > 0 THEN l3 / l2 END, 6) AS tau3,
                round(CASE WHEN abs(l2) > 0 THEN l4 / l2 END, 6) AS tau4
         FROM l""",
    "q317_control_chart" ->
      """WITH q AS (SELECT CAST(ts AS DATE) AS day,
                  CAST(round(value * 1000000) AS BIGINT) AS vq FROM events),
         days AS (SELECT day, count(*) AS n,
                    sum(CAST(vq AS HUGEINT)) AS s FROM q GROUP BY 1),
         tot AS (SELECT count(*) AS nn, sum(CAST(vq AS HUGEINT)) AS ss,
                        sum(CAST(vq AS HUGEINT) * vq) AS sqq FROM q),
         scored AS (SELECT day, n,
                      CASE WHEN (CAST(sqq AS DOUBLE) -
                          CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE) / CAST(nn AS DOUBLE)) /
                          (CAST(nn AS DOUBLE) - 1) > 0
                        THEN (CAST(s AS DOUBLE) / n -
                              CAST(ss AS DOUBLE) / CAST(nn AS DOUBLE)) /
                             (sqrt((CAST(sqq AS DOUBLE) -
                                CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE) / CAST(nn AS DOUBLE)) /
                                (CAST(nn AS DOUBLE) - 1)) / sqrt(CAST(n AS DOUBLE)))
                      END AS z
                    FROM days CROSS JOIN tot),
         summary AS (SELECT count(*) AS n_days,
                       CAST(sum(CASE WHEN abs(z) > 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
                     FROM scored),
         worst AS (SELECT day AS worst_day FROM scored
                   WHERE abs(z) > 3 ORDER BY abs(z) DESC, day LIMIT 1)
         SELECT n_days, nn AS n_events,
                round(CAST(ss AS DOUBLE) / CAST(nn AS DOUBLE) / 1e6, 6) AS grand_mean,
                round(sqrt((CAST(sqq AS DOUBLE) -
                  CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE) / CAST(nn AS DOUBLE)) /
                  (CAST(nn AS DOUBLE) - 1)) / 1e6, 6) AS sigma,
                n_violations,
                (SELECT worst_day FROM worst) AS worst_day
         FROM summary CROSS JOIN tot""",
    "q318_prefix_cache" ->
      """WITH t AS (SELECT string_split_regex(lower(trim(text)), '\s+') AS toks
                FROM documents),
         tl AS (SELECT toks, len(toks) AS lenn FROM t),
         tot AS (SELECT CAST(sum(lenn) AS BIGINT) AS total_tokens,
                        count(*) AS n_docs FROM tl),
         ks AS (SELECT unnest([8, 16, 32]) AS k),
         pre AS (SELECT ks.k,
                   array_to_string(toks[1:ks.k], ' ') AS p,
                   least(lenn, ks.k) AS plen
                 FROM tl CROSS JOIN ks),
         grp AS (SELECT k, p, plen, count(*) AS sz FROM pre GROUP BY 1, 2, 3),
         agg AS (SELECT k,
                   CAST(sum(CASE WHEN sz > 1 THEN 1 ELSE 0 END) AS BIGINT) AS shared_groups,
                   CAST(sum(CASE WHEN sz > 1 THEN sz ELSE 0 END) AS BIGINT) AS docs_in_shared,
                   CAST(sum((sz - 1) * plen) AS BIGINT) AS saved_tokens
                 FROM grp GROUP BY 1)
         SELECT k, n_docs, shared_groups, docs_in_shared, saved_tokens,
                round(CAST(saved_tokens AS DOUBLE) / total_tokens, 6) AS saved_frac
         FROM agg CROSS JOIN tot ORDER BY k""",
    "q319_negbin_fit" ->
      """WITH per AS (SELECT user_id AS u, count(*) AS x FROM events GROUP BY 1),
         a AS (SELECT count(*) AS n, sum(CAST(x AS HUGEINT)) AS sx,
                      sum(CAST(x AS HUGEINT) * x) AS sxx FROM per),
         c AS (SELECT n, CAST(sx AS DOUBLE) / n AS m,
                 CASE WHEN n > 1 THEN (CAST(sxx AS DOUBLE) -
                   CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) / (CAST(n AS DOUBLE) - 1) END AS v
               FROM a)
         SELECT n AS n_units, round(m, 4) AS mean,
                round(CASE WHEN m > 0 THEN v / m END, 4) AS dispersion,
                round(CASE WHEN v > m THEN m * m / (v - m) END, 6) AS r,
                round(CASE WHEN v > m THEN m / v END, 6) AS p
         FROM c""",
    "q320_dunns_test" ->
      """WITH q AS (SELECT l_returnflag AS g,
                  CAST(round(l_quantity * 1000000) AS BIGINT) AS v FROM lineitem),
         cells AS (SELECT v, g, count(*) AS cnt FROM q GROUP BY 1, 2),
         byv AS (SELECT v, CAST(sum(cnt) AS BIGINT) AS ct FROM cells GROUP BY 1),
         r AS (SELECT v, ct,
                 2 * COALESCE(sum(ct) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 + ct + 1 AS r2
               FROM byv),
         cls AS (SELECT g, CAST(sum(cnt) AS BIGINT) AS n_i,
                        sum(CAST(cnt AS HUGEINT) * r2) AS s2
                 FROM cells JOIN r USING (v) GROUP BY 1),
         tot AS (SELECT CAST(sum(ct) AS BIGINT) AS n,
                        sum(CAST(ct AS HUGEINT) * ct * ct - ct) AS tie3 FROM r)
         SELECT a.g AS g1, b.g AS g2, a.n_i AS n1, b.n_i AS n2,
                round(CAST(a.s2 AS DOUBLE) / (2.0 * a.n_i), 4) AS mean_rank_1,
                round(CAST(b.s2 AS DOUBLE) / (2.0 * b.n_i), 4) AS mean_rank_2,
                round(CASE WHEN sqrt((CAST(n AS DOUBLE) * (n + 1) / 12.0
                        - CAST(tie3 AS DOUBLE) / (12.0 * (n - 1)))
                        * (1.0 / a.n_i + 1.0 / b.n_i)) > 0
                  THEN (CAST(a.s2 AS DOUBLE) / (2.0 * a.n_i)
                        - CAST(b.s2 AS DOUBLE) / (2.0 * b.n_i))
                     / sqrt((CAST(n AS DOUBLE) * (n + 1) / 12.0
                        - CAST(tie3 AS DOUBLE) / (12.0 * (n - 1)))
                        * (1.0 / a.n_i + 1.0 / b.n_i)) END, 4) + 0.0 AS z
         FROM cls a JOIN cls b ON a.g < b.g CROSS JOIN tot
         ORDER BY 1, 2""",
    "q321_jonckheere" ->
      """WITH q AS (SELECT CAST(o_orderpriority AS VARCHAR) AS g,
                  CAST(round(o_totalprice * 1000000) AS BIGINT) AS v FROM orders),
         cells AS (SELECT g, v, count(*) AS cnt FROM q GROUP BY 1, 2),
         byv AS (SELECT v, CAST(sum(cnt) AS BIGINT) AS ct FROM cells GROUP BY 1),
         grps AS (SELECT DISTINCT g FROM cells),
         grid AS (SELECT b.v, gr.g, COALESCE(c.cnt, 0) AS cnt
                  FROM byv b CROSS JOIN grps gr
                  LEFT JOIN cells c ON c.g = gr.g AND c.v = b.v),
         pre AS (SELECT v, g, cnt,
                   COALESCE(sum(cnt) OVER (PARTITION BY g ORDER BY v
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
                 FROM grid),
         pre2 AS (SELECT v, g, cnt, below,
                   COALESCE(sum(below) OVER (PARTITION BY v ORDER BY g
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS lsum,
                   COALESCE(sum(cnt) OVER (PARTITION BY v ORDER BY g
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tsum
                 FROM pre),
         jt AS (SELECT sum(CAST(cnt AS HUGEINT) *
                  (2 * CAST(lsum AS HUGEINT) + tsum)) AS jt2 FROM pre2),
         ns AS (SELECT g, CAST(sum(cnt) AS BIGINT) AS n_i FROM cells GROUP BY 1),
         gt AS (SELECT count(*) AS k, sum(CAST(n_i AS HUGEINT)) AS s1,
                  sum(CAST(n_i AS HUGEINT) * n_i) AS s2,
                  sum(CAST(n_i AS HUGEINT) * (n_i - 1) * (2 * n_i + 5)) AS t25,
                  sum(CAST(n_i AS HUGEINT) * (n_i - 1) * (n_i - 2)) AS t3,
                  sum(CAST(n_i AS HUGEINT) * (n_i - 1)) AS t2 FROM ns),
         vt AS (SELECT sum(CAST(ct AS HUGEINT) * (ct - 1) * (2 * ct + 5)) AS vt25,
                  sum(CAST(ct AS HUGEINT) * (ct - 1) * (ct - 2)) AS vt3,
                  sum(CAST(ct AS HUGEINT) * (ct - 1)) AS vt2 FROM byv)
         SELECT k, CAST(s1 AS BIGINT) AS n,
                round(CAST(jt2 AS DOUBLE) / 2.0, 1) AS jt,
                round(CAST(s1 * s1 - s2 AS DOUBLE) / 2.0 / 2.0, 1) AS e_jt,
                round(CASE WHEN (CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) - 1) * (2 * CAST(s1 AS DOUBLE) + 5)
                        - CAST(vt25 AS DOUBLE) - CAST(t25 AS DOUBLE)) / 72.0
                      + CAST(vt3 AS DOUBLE) * CAST(t3 AS DOUBLE)
                        / (36.0 * CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) - 1) * (CAST(s1 AS DOUBLE) - 2))
                      + CAST(vt2 AS DOUBLE) * CAST(t2 AS DOUBLE)
                        / (8.0 * CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) - 1)) > 0
                  THEN (CAST(jt2 AS DOUBLE) - CAST(s1 * s1 - s2 AS DOUBLE) / 2.0)
                     / (2.0 * sqrt((CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) - 1) * (2 * CAST(s1 AS DOUBLE) + 5)
                        - CAST(vt25 AS DOUBLE) - CAST(t25 AS DOUBLE)) / 72.0
                      + CAST(vt3 AS DOUBLE) * CAST(t3 AS DOUBLE)
                        / (36.0 * CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) - 1) * (CAST(s1 AS DOUBLE) - 2))
                      + CAST(vt2 AS DOUBLE) * CAST(t2 AS DOUBLE)
                        / (8.0 * CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) - 1)))) END, 4) + 0.0 AS z
         FROM jt CROSS JOIN gt CROSS JOIN vt""",
    "q322_fleiss_kappa" ->
      """WITH st AS (
           SELECT doc_id, CASE WHEN n_chars >= 200 THEN 'good' ELSE 'bad' END AS cat FROM documents
           UNION ALL
           SELECT doc_id, CASE WHEN length(text) - length(replace(text, '.', '')) >= 3
             THEN 'good' ELSE 'bad' END FROM documents
           UNION ALL
           SELECT doc_id, CASE WHEN text LIKE '% the %' THEN 'good' ELSE 'bad' END FROM documents),
         cells AS (SELECT doc_id, cat, count(*) AS cnt FROM st GROUP BY 1, 2),
         subj AS (SELECT doc_id, sum(CAST(cnt AS HUGEINT) * cnt) AS sq FROM cells GROUP BY 1),
         sa AS (SELECT count(*) AS n, sum(sq) AS ssq FROM subj),
         ct AS (SELECT cat, CAST(sum(cnt) AS BIGINT) AS c_j FROM cells GROUP BY 1),
         ca AS (SELECT count(*) AS k, sum(CAST(c_j AS HUGEINT) * c_j) AS csq FROM ct)
         SELECT n AS n_subjects, CAST(3 AS BIGINT) AS n_raters, k AS n_categories,
                round((CAST(ssq AS DOUBLE) - CAST(n AS DOUBLE) * 3)
                  / (CAST(n AS DOUBLE) * 3 * 2), 6) AS p_bar,
                round(CAST(csq AS DOUBLE) / (CAST(n AS DOUBLE) * 3) / (CAST(n AS DOUBLE) * 3), 6) AS p_e,
                round(CASE WHEN CAST(csq AS DOUBLE) / (CAST(n AS DOUBLE) * 3) / (CAST(n AS DOUBLE) * 3) < 1
                  THEN ((CAST(ssq AS DOUBLE) - CAST(n AS DOUBLE) * 3) / (CAST(n AS DOUBLE) * 3 * 2)
                        - CAST(csq AS DOUBLE) / (CAST(n AS DOUBLE) * 3) / (CAST(n AS DOUBLE) * 3))
                     / (1.0 - CAST(csq AS DOUBLE) / (CAST(n AS DOUBLE) * 3) / (CAST(n AS DOUBLE) * 3)) END, 6) AS kappa
         FROM sa CROSS JOIN ca""",
    "q323_icc" ->
      """WITH q AS (SELECT user_id AS g, CAST(round(value * 1000000) AS BIGINT) AS yq FROM events),
         rows_ AS (SELECT count(*) AS n_r, sum(CAST(yq AS HUGEINT) * yq) AS ssq FROM q),
         cls AS (SELECT g, count(*) AS n_i, CAST(sum(yq) AS BIGINT) AS s_i FROM q GROUP BY 1),
         pin AS (SELECT n_i,
                   CAST(round(CAST(s_i AS DOUBLE) * CAST(s_i AS DOUBLE) / CAST(n_i AS DOUBLE)) AS HUGEINT) AS u,
                   CAST(n_i AS HUGEINT) * n_i AS n2, CAST(s_i AS HUGEINT) AS s_i
                 FROM cls),
         ga AS (SELECT count(*) AS g_n, CAST(sum(n_i) AS BIGINT) AS n,
                       sum(u) AS su, sum(n2) AS sn2, sum(s_i) AS s FROM pin)
         SELECT n, g_n AS n_groups,
                round((CAST(su AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                  / (CAST(g_n AS DOUBLE) - 1) / 1e12, 6) AS msb,
                round((CAST(ssq AS DOUBLE) - CAST(su AS DOUBLE))
                  / (CAST(n AS DOUBLE) - CAST(g_n AS DOUBLE)) / 1e12, 6) AS msw,
                round(CASE WHEN (CAST(su AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(g_n AS DOUBLE) - 1)
                        + ((CAST(n AS DOUBLE) - CAST(sn2 AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(g_n AS DOUBLE) - 1) - 1)
                          * (CAST(ssq AS DOUBLE) - CAST(su AS DOUBLE)) / (CAST(n AS DOUBLE) - CAST(g_n AS DOUBLE)) <> 0
                  THEN ((CAST(su AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(g_n AS DOUBLE) - 1)
                        - (CAST(ssq AS DOUBLE) - CAST(su AS DOUBLE)) / (CAST(n AS DOUBLE) - CAST(g_n AS DOUBLE)))
                     / ((CAST(su AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(g_n AS DOUBLE) - 1)
                        + ((CAST(n AS DOUBLE) - CAST(sn2 AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(g_n AS DOUBLE) - 1) - 1)
                          * (CAST(ssq AS DOUBLE) - CAST(su AS DOUBLE)) / (CAST(n AS DOUBLE) - CAST(g_n AS DOUBLE))) END, 6) AS icc1
         FROM ga CROSS JOIN rows_""",
    "q324_lin_ccc" ->
      """WITH net AS (SELECT l_orderkey,
                  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 1000000) AS BIGINT)) AS DOUBLE) / 1e6 AS y
                FROM lineitem GROUP BY 1),
         p AS (SELECT o_totalprice AS x, y FROM orders JOIN net ON o_orderkey = l_orderkey),
         q AS (SELECT CAST(round(x * 1000000) AS BIGINT) AS x,
                      CAST(round(y * 1000000) AS BIGINT) AS y FROM p),
         m AS (SELECT count(*) AS n, sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
                      sum(CAST(x AS HUGEINT) * x) AS sxx, sum(CAST(y AS HUGEINT) * y) AS syy,
                      sum(CAST(x AS HUGEINT) * y) AS sxy FROM q),
         c AS (SELECT n,
                 CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS vx,
                 CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS vy,
                 CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS cxy,
                 (CAST(sx AS DOUBLE) - CAST(sy AS DOUBLE)) / CAST(n AS DOUBLE) AS dm
               FROM m)
         SELECT n,
                round(CASE WHEN vx > 0 AND vy > 0 THEN cxy / sqrt(vx * vy) END, 6) AS pearson_r,
                round(CASE WHEN cxy / sqrt(vx * vy) <> 0
                  THEN (2.0 * cxy / (vx + vy + n * dm * dm)) / (cxy / sqrt(vx * vy)) END, 6) AS c_b,
                round(CASE WHEN vx + vy + n * dm * dm > 0
                  THEN 2.0 * cxy / (vx + vy + n * dm * dm) END, 6) AS ccc
         FROM c""",
    "q325_brier_decomp" ->
      """WITH yy AS (SELECT event_id, concat(event_type, '_', CAST(dayofweek(ts) AS VARCHAR)) AS cat,
                   CASE WHEN value > 50 THEN 1 ELSE 0 END AS y
             FROM events),
         s AS (SELECT cat, count(*) AS n, CAST(sum(y) AS BIGINT) AS sy FROM yy GROUP BY 1),
         g AS (SELECT CAST(sum(y) AS DOUBLE) / count(*) AS prior FROM yy),
         scored AS (SELECT yy.event_id, yy.y,
               round((s.sy - yy.y + 10.0 * g.prior) / (s.n - 1 + 10.0), 6) AS enc
             FROM yy JOIN s ON yy.cat = s.cat, g),
         base AS (SELECT CAST(round(enc * 1000000) AS BIGINT) AS sq, y FROM scored),
         b AS (SELECT least(sq // 100000, 9) AS bin, sq, y FROM base),
         bins AS (SELECT bin, count(*) AS n_k, sum(CAST(sq AS HUGEINT)) AS sp,
                    CAST(sum(y) AS BIGINT) AS sy,
                    sum((CAST(sq AS HUGEINT) - CAST(y AS HUGEINT) * 1000000)
                      * (CAST(sq AS HUGEINT) - CAST(y AS HUGEINT) * 1000000)) AS e2
                  FROM b GROUP BY 1),
         tot AS (SELECT CAST(sum(n_k) AS BIGINT) AS n, CAST(sum(sy) AS BIGINT) AS syt,
                        sum(e2) AS e2t FROM bins),
         pinned AS (SELECT
                 CAST(round(n_k * (CAST(sp AS DOUBLE) / n_k / 1e6 - CAST(sy AS DOUBLE) / n_k)
                   * (CAST(sp AS DOUBLE) / n_k / 1e6 - CAST(sy AS DOUBLE) / n_k) * 1e12) AS HUGEINT) AS rel12,
                 CAST(round(n_k * (CAST(sy AS DOUBLE) / n_k - CAST(t.syt AS DOUBLE) / t.n)
                   * (CAST(sy AS DOUBLE) / n_k - CAST(t.syt AS DOUBLE) / t.n) * 1e12) AS HUGEINT) AS res12
               FROM bins, tot t),
         agg AS (SELECT sum(rel12) AS rel, sum(res12) AS res FROM pinned)
         SELECT t.n, round(CAST(t.e2t AS DOUBLE) / t.n / 1e12, 6) AS brier,
                round(CAST(rel AS DOUBLE) / t.n / 1e12, 6) AS reliability,
                round(CAST(res AS DOUBLE) / t.n / 1e12, 6) AS resolution,
                round((CAST(t.syt AS DOUBLE) / t.n) * (1.0 - CAST(t.syt AS DOUBLE) / t.n), 6) AS uncertainty
         FROM agg CROSS JOIN tot t""",
    "q326_hosmer_lemeshow" ->
      """WITH yy AS (SELECT event_id, concat(event_type, '_', CAST(dayofweek(ts) AS VARCHAR)) AS cat,
                   CASE WHEN value > 50 THEN 1 ELSE 0 END AS y
             FROM events),
         s AS (SELECT cat, count(*) AS n, CAST(sum(y) AS BIGINT) AS sy FROM yy GROUP BY 1),
         g AS (SELECT CAST(sum(y) AS DOUBLE) / count(*) AS prior FROM yy),
         scored AS (SELECT yy.event_id, yy.y,
               round((s.sy - yy.y + 10.0 * g.prior) / (s.n - 1 + 10.0), 6) AS enc
             FROM yy JOIN s ON yy.cat = s.cat, g),
         base AS (SELECT CAST(round(enc * 1000000) AS BIGINT) AS sq, y FROM scored),
         bins AS (SELECT least(sq // 100000, 9) AS bin, count(*) AS n,
                    CAST(sum(y) AS BIGINT) AS obs_pos, sum(CAST(sq AS HUGEINT)) AS ep6
                  FROM base GROUP BY 1)
         SELECT CAST(bin AS BIGINT) AS bin, n, obs_pos,
                round(CAST(ep6 AS DOUBLE) / 1e6, 4) AS exp_pos,
                n - obs_pos AS obs_neg,
                round(CAST(n AS DOUBLE) - CAST(ep6 AS DOUBLE) / 1e6, 4) AS exp_neg,
                round(CASE WHEN CAST(ep6 AS DOUBLE) / 1e6 > 0 AND CAST(n AS DOUBLE) - CAST(ep6 AS DOUBLE) / 1e6 > 0
                  THEN (CAST(obs_pos AS DOUBLE) - CAST(ep6 AS DOUBLE) / 1e6)
                       * (CAST(obs_pos AS DOUBLE) - CAST(ep6 AS DOUBLE) / 1e6)
                       / (CAST(ep6 AS DOUBLE) / 1e6)
                     + (CAST(n AS DOUBLE) - CAST(obs_pos AS DOUBLE) - (CAST(n AS DOUBLE) - CAST(ep6 AS DOUBLE) / 1e6))
                       * (CAST(n AS DOUBLE) - CAST(obs_pos AS DOUBLE) - (CAST(n AS DOUBLE) - CAST(ep6 AS DOUBLE) / 1e6))
                       / (CAST(n AS DOUBLE) - CAST(ep6 AS DOUBLE) / 1e6) END, 4) AS contrib
         FROM bins ORDER BY bin""",
    "q327_deming" ->
      """WITH net AS (SELECT l_orderkey,
                  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 1000000) AS BIGINT)) AS DOUBLE) / 1e6 AS y
                FROM lineitem GROUP BY 1),
         p AS (SELECT o_totalprice AS x, y FROM orders JOIN net ON o_orderkey = l_orderkey),
         q AS (SELECT CAST(round(x * 1000000) AS BIGINT) AS x,
                      CAST(round(y * 1000000) AS BIGINT) AS y FROM p),
         m AS (SELECT count(*) AS n, sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
                      sum(CAST(x AS HUGEINT) * x) AS sxx, sum(CAST(y AS HUGEINT) * y) AS syy,
                      sum(CAST(x AS HUGEINT) * y) AS sxy FROM q),
         c AS (SELECT n, CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
                 CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS vx,
                 CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS vy,
                 CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS cxy
               FROM m),
         f AS (SELECT n, sxd, syd, vx, vy, cxy,
                 CASE WHEN cxy <> 0
                   THEN (vy - 1.0 * vx + sqrt((vy - 1.0 * vx) * (vy - 1.0 * vx) + 4.0 * cxy * cxy))
                        / (2.0 * cxy) END AS b
               FROM c)
         SELECT n, round(b, 6) AS slope,
                round((syd - b * sxd) / CAST(n AS DOUBLE) / 1e6, 6) AS intercept,
                round(CASE WHEN vx > 0 AND vy > 0 THEN cxy / sqrt(vx * vy) END, 6) AS pearson_r
         FROM f""",
    "q328_breusch_pagan" ->
      """WITH q AS (SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS x,
                  CAST(round(o_totalprice * 1000000) AS BIGINT) AS y FROM orders),
         m AS (SELECT count(*) AS n, sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
                      sum(CAST(x AS HUGEINT) * x) AS sxx, sum(CAST(x AS HUGEINT) * y) AS sxy FROM q),
         f AS (SELECT n, sx,
                 (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                   / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS b,
                 (CAST(sy AS DOUBLE) - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                   / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                   * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS a
               FROM m),
         r AS (SELECT q.x,
                 CAST(round(((CAST(q.y AS DOUBLE) - f.a - f.b * CAST(q.x AS DOUBLE)) / 1e6)
                   * ((CAST(q.y AS DOUBLE) - f.a - f.b * CAST(q.x AS DOUBLE)) / 1e6) * 1e4) AS BIGINT) AS u
               FROM q, f),
         aux AS (SELECT count(*) AS n, sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(u AS HUGEINT)) AS su,
                        sum(CAST(x AS HUGEINT) * x) AS sxx, sum(CAST(u AS HUGEINT) * u) AS suu,
                        sum(CAST(x AS HUGEINT) * u) AS sxu FROM r),
         c AS (SELECT n,
                 CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS vx,
                 CAST(n AS DOUBLE) * CAST(suu AS DOUBLE) - CAST(su AS DOUBLE) * CAST(su AS DOUBLE) AS vu,
                 CAST(n AS DOUBLE) * CAST(sxu AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(su AS DOUBLE) AS cxu
               FROM aux)
         SELECT c.n, round(f.b / 1000000.0, 6) AS slope,
                round(CAST(c.n AS DOUBLE) * (CASE WHEN vx > 0 AND vu > 0 THEN cxu * cxu / (vx * vu) END), 4) AS lm_stat,
                round(CASE WHEN vx > 0 AND vu > 0 THEN cxu * cxu / (vx * vu) END, 6) AS r2_aux
         FROM c, f""",
    "q329_chow" ->
      """WITH q AS (SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS x,
                  CAST(round(o_totalprice * 1000000) AS BIGINT) AS y,
                  CASE WHEN o_orderdate < TIMESTAMP '1998-01-01' THEN 1 ELSE 0 END AS seg
             FROM orders),
         segs AS (SELECT seg, count(*) AS n, sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
                      sum(CAST(x AS HUGEINT) * x) AS sxx, sum(CAST(y AS HUGEINT) * y) AS syy,
                      sum(CAST(x AS HUGEINT) * y) AS sxy
                  FROM q GROUP BY 1),
         wide AS (SELECT
                 CAST(sum(CASE WHEN seg = 1 THEN n ELSE 0 END) AS BIGINT) AS n1,
                 CAST(sum(CASE WHEN seg = 0 THEN n ELSE 0 END) AS BIGINT) AS n2,
                 max(CASE WHEN seg = 1 THEN sx END) AS sx1, max(CASE WHEN seg = 1 THEN sy END) AS sy1,
                 max(CASE WHEN seg = 1 THEN sxx END) AS sxx1, max(CASE WHEN seg = 1 THEN syy END) AS syy1,
                 max(CASE WHEN seg = 1 THEN sxy END) AS sxy1,
                 max(CASE WHEN seg = 0 THEN sx END) AS sx2, max(CASE WHEN seg = 0 THEN sy END) AS sy2,
                 max(CASE WHEN seg = 0 THEN sxx END) AS sxx2, max(CASE WHEN seg = 0 THEN syy END) AS syy2,
                 max(CASE WHEN seg = 0 THEN sxy END) AS sxy2
               FROM segs),
         e AS (SELECT n1, n2,
                 CASE WHEN CAST(sxx1 AS DOUBLE) - CAST(sx1 AS DOUBLE) * CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE) > 0
                   THEN (CAST(syy1 AS DOUBLE) - CAST(sy1 AS DOUBLE) * CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE))
                     - (CAST(sxy1 AS DOUBLE) - CAST(sx1 AS DOUBLE) * CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE))
                       * (CAST(sxy1 AS DOUBLE) - CAST(sx1 AS DOUBLE) * CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE))
                       / (CAST(sxx1 AS DOUBLE) - CAST(sx1 AS DOUBLE) * CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE))
                   ELSE CAST(syy1 AS DOUBLE) - CAST(sy1 AS DOUBLE) * CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE) END AS s1,
                 CASE WHEN CAST(sxx2 AS DOUBLE) - CAST(sx2 AS DOUBLE) * CAST(sx2 AS DOUBLE) / CAST(n2 AS DOUBLE) > 0
                   THEN (CAST(syy2 AS DOUBLE) - CAST(sy2 AS DOUBLE) * CAST(sy2 AS DOUBLE) / CAST(n2 AS DOUBLE))
                     - (CAST(sxy2 AS DOUBLE) - CAST(sx2 AS DOUBLE) * CAST(sy2 AS DOUBLE) / CAST(n2 AS DOUBLE))
                       * (CAST(sxy2 AS DOUBLE) - CAST(sx2 AS DOUBLE) * CAST(sy2 AS DOUBLE) / CAST(n2 AS DOUBLE))
                       / (CAST(sxx2 AS DOUBLE) - CAST(sx2 AS DOUBLE) * CAST(sx2 AS DOUBLE) / CAST(n2 AS DOUBLE))
                   ELSE CAST(syy2 AS DOUBLE) - CAST(sy2 AS DOUBLE) * CAST(sy2 AS DOUBLE) / CAST(n2 AS DOUBLE) END AS s2,
                 CASE WHEN CAST(sxx1 + sxx2 AS DOUBLE) - CAST(sx1 + sx2 AS DOUBLE) * CAST(sx1 + sx2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE) > 0
                   THEN (CAST(syy1 + syy2 AS DOUBLE) - CAST(sy1 + sy2 AS DOUBLE) * CAST(sy1 + sy2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
                     - (CAST(sxy1 + sxy2 AS DOUBLE) - CAST(sx1 + sx2 AS DOUBLE) * CAST(sy1 + sy2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
                       * (CAST(sxy1 + sxy2 AS DOUBLE) - CAST(sx1 + sx2 AS DOUBLE) * CAST(sy1 + sy2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
                       / (CAST(sxx1 + sxx2 AS DOUBLE) - CAST(sx1 + sx2 AS DOUBLE) * CAST(sx1 + sx2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
                   ELSE CAST(syy1 + syy2 AS DOUBLE) - CAST(sy1 + sy2 AS DOUBLE) * CAST(sy1 + sy2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE) END AS sp
               FROM wide)
         SELECT n1, n2, round(sp / 1e12, 4) AS ssr_pooled,
                round((s1 + s2) / 1e12, 4) AS ssr_within,
                round(CASE WHEN s1 + s2 > 0
                  THEN ((sp - s1 - s2) / 2.0) / ((s1 + s2) / (CAST(n1 + n2 AS DOUBLE) - 4)) END, 4) AS f_stat
         FROM e""",
    "q330_rmst" ->
      """WITH u AS (SELECT user_id, min(ts) AS t0,
                min(CASE WHEN event_type = 'purchase' THEN ts END) AS tp,
                max(ts) AS tl
              FROM events GROUP BY 1),
         dd AS (SELECT CASE WHEN tp IS NOT NULL THEN date_diff('day', CAST(t0 AS DATE), CAST(tp AS DATE))
                            ELSE date_diff('day', CAST(t0 AS DATE), CAST(tl AS DATE)) END AS dur,
                       CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS death
                FROM u),
         g AS (SELECT dur AS t, count(*) AS m, CAST(sum(death) AS BIGINT) AS d FROM dd GROUP BY 1),
         r AS (SELECT t, d, CAST(sum(m) OVER (ORDER BY t DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_risk FROM g),
         dl AS (SELECT t, d, n_risk FROM r WHERE d > 0),
         s AS (SELECT list(CAST(1 AS DOUBLE) - CAST(d AS DOUBLE) / n_risk ORDER BY t) AS fs,
                      list(t ORDER BY t) AS ts, list(d ORDER BY t) AS ds FROM dl),
         e AS (SELECT ts[i] AS t, ds[i] AS d,
                      round(list_reduce(list_prepend(CAST(1 AS DOUBLE), fs[1:i]), (a, b) -> a * b), 6) AS surv
               FROM s, unnest(range(1, len(ts) + 1)) r(i)),
         st AS (SELECT t, surv,
                  least(coalesce(lead(t) OVER (ORDER BY t), 60), 60) AS tn
                FROM e WHERE t < 60),
         c AS (SELECT sum(CAST(round(surv * (tn - t) * 1e9) AS BIGINT)) AS s9 FROM st),
         h AS (SELECT COALESCE(least(min(t), 60), 60) AS t1,
                      COALESCE(CAST(sum(d) AS BIGINT), 0) AS nd FROM e)
         SELECT CAST(60 AS BIGINT) AS tau, nd AS n_deaths,
                round((CAST(t1 AS DOUBLE) * 1e9 + COALESCE(s9, 0)) / 1e9, 4) AS rmst_days
         FROM h CROSS JOIN c""",
    "q331_bayes_ab" ->
      s"""WITH un AS (SELECT user_id,
                max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS converted
              FROM events GROUP BY 1),
         v AS (SELECT CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 = 0
                      THEN 'A' ELSE 'B' END AS variant, converted
               FROM un),
         st AS (SELECT variant, count(*) AS n, CAST(sum(converted) AS BIGINT) AS conv
                FROM v GROUP BY 1),
         ab AS (SELECT
                  (SELECT n FROM st WHERE variant = 'A') AS n_a,
                  (SELECT conv FROM st WHERE variant = 'A') AS conv_a,
                  (SELECT n FROM st WHERE variant = 'B') AS n_b,
                  (SELECT conv FROM st WHERE variant = 'B') AS conv_b),
         p AS (SELECT n_a, n_b, conv_a, conv_b,
                 CAST(conv_a AS DOUBLE) + 1.0 AS ala,
                 CAST(n_a - conv_a AS DOUBLE) + 1.0 AS bea,
                 CAST(conv_b AS DOUBLE) + 1.0 AS alb,
                 CAST(n_b - conv_b AS DOUBLE) + 1.0 AS beb
               FROM ab),
         f AS (SELECT n_a, n_b, conv_a, conv_b,
                 alb / (alb + beb) - ala / (ala + bea) AS lift,
                 sqrt(ala * bea / ((ala + bea) * (ala + bea) * ((ala + bea) + 1))
                    + alb * beb / ((alb + beb) * (alb + beb) * ((alb + beb) + 1))) AS sd
               FROM p)
         SELECT n_a, n_b, conv_a, conv_b,
                round(lift, 6) AS lift_mean,
                round(lift - 1.959963984540054 * sd, 6) AS ci_lo,
                round(lift + 1.959963984540054 * sd, 6) AS ci_hi,
                round(${graft.functions.Phi.sql("(lift / sd)")}, 4) AS p_b_beats_a
         FROM f""",
    "q332_rdd" ->
      """WITH q AS (SELECT CAST(round((value - 50.0) * 1000000) AS BIGINT) AS x,
                  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
                  CASE WHEN value >= 50.0 THEN 1 ELSE 0 END AS side
             FROM events WHERE value >= 25.0 AND value < 75.0),
         sides AS (SELECT side, count(*) AS n, sum(CAST(x AS HUGEINT)) AS sx,
                      CAST(sum(y) AS BIGINT) AS sy,
                      sum(CAST(x AS HUGEINT) * x) AS sxx, sum(CAST(x AS HUGEINT) * y) AS sxy
                   FROM q GROUP BY 1),
         wide AS (SELECT
                 CAST(sum(CASE WHEN side = 0 THEN n ELSE 0 END) AS BIGINT) AS n1,
                 CAST(sum(CASE WHEN side = 1 THEN n ELSE 0 END) AS BIGINT) AS n2,
                 max(CASE WHEN side = 0 THEN sx END) AS sx1, max(CASE WHEN side = 0 THEN sy END) AS sy1,
                 max(CASE WHEN side = 0 THEN sxx END) AS sxx1, max(CASE WHEN side = 0 THEN sxy END) AS sxy1,
                 max(CASE WHEN side = 1 THEN sx END) AS sx2, max(CASE WHEN side = 1 THEN sy END) AS sy2,
                 max(CASE WHEN side = 1 THEN sxx END) AS sxx2, max(CASE WHEN side = 1 THEN sxy END) AS sxy2
               FROM sides),
         e AS (SELECT n1, n2,
                 (CAST(sy1 AS DOUBLE) - (CAST(n1 AS DOUBLE) * CAST(sxy1 AS DOUBLE) - CAST(sx1 AS DOUBLE) * CAST(sy1 AS DOUBLE))
                   / (CAST(n1 AS DOUBLE) * CAST(sxx1 AS DOUBLE) - CAST(sx1 AS DOUBLE) * CAST(sx1 AS DOUBLE))
                   * CAST(sx1 AS DOUBLE)) / CAST(n1 AS DOUBLE) AS il,
                 (CAST(sy2 AS DOUBLE) - (CAST(n2 AS DOUBLE) * CAST(sxy2 AS DOUBLE) - CAST(sx2 AS DOUBLE) * CAST(sy2 AS DOUBLE))
                   / (CAST(n2 AS DOUBLE) * CAST(sxx2 AS DOUBLE) - CAST(sx2 AS DOUBLE) * CAST(sx2 AS DOUBLE))
                   * CAST(sx2 AS DOUBLE)) / CAST(n2 AS DOUBLE) AS ir
               FROM wide)
         SELECT n1 AS n_left, n2 AS n_right,
                round(il, 6) AS int_left, round(ir, 6) AS int_right,
                round(ir - il, 6) AS effect
         FROM e""",
    "q333_mcf" ->
      """WITH u AS (SELECT user_id AS u, min(ts) AS t0, max(ts) AS tl FROM events GROUP BY 1),
         fu AS (SELECT date_diff('day', CAST(t0 AS DATE), CAST(tl AS DATE)) AS fu, count(*) AS m FROM u GROUP BY 1),
         ev AS (SELECT date_diff('day', CAST(u.t0 AS DATE), CAST(e.ts AS DATE)) AS t, count(*) AS d
                FROM events e JOIN u ON e.user_id = u.u
                WHERE e.event_type = 'purchase' GROUP BY 1),
         days AS (SELECT t FROM ev UNION SELECT fu AS t FROM fu),
         ra AS (SELECT d.t, COALESCE(f.m, 0) AS m FROM days d LEFT JOIN fu f ON f.fu = d.t),
         rk AS (SELECT t, CAST(sum(m) OVER (ORDER BY t DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_risk FROM ra),
         tb AS (SELECT ev.t, ev.d, rk.n_risk,
                  CAST(round(CAST(ev.d AS DOUBLE) / rk.n_risk * 1e9) AS BIGINT) AS h9
                FROM ev JOIN rk ON ev.t = rk.t)
         SELECT t, d, n_risk,
                round(CAST(sum(h9) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 1e9, 6) AS mcf
         FROM tb ORDER BY t""",
    "q334_good_turing" ->
      """WITH t AS (SELECT string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents),
         toks AS (SELECT array_to_string(toks[i:i+2], ' ') AS tok
                  FROM t, unnest(range(1, len(toks) - 1)) r(i)),
         cnts AS (SELECT tok, count(*) AS r FROM toks GROUP BY 1),
         nr AS (SELECT r, count(*) AS n_r FROM cnts GROUP BY 1),
         tot AS (SELECT sum(CAST(r AS HUGEINT) * n_r) AS n,
                        CAST(sum(CASE WHEN r = 1 THEN n_r ELSE 0 END) AS BIGINT) AS n1 FROM nr),
         nxt AS (SELECT r - 1 AS r, n_r AS n_next FROM nr)
         SELECT nr.r, nr.n_r,
                round(CAST(nr.r + 1 AS DOUBLE) * n_next / nr.n_r, 6) AS r_star,
                CAST(n AS BIGINT) AS total_tokens,
                round(CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE), 6) AS p_unseen
         FROM nr LEFT JOIN nxt ON nxt.r = nr.r CROSS JOIN tot
         WHERE nr.r <= 5 ORDER BY nr.r""",
    "q335_script_mix" ->
      """WITH per AS (SELECT lang, CAST(length(text) AS BIGINT) AS nc,
                  CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS BIGINT) AS latin,
                  CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS digit,
                  CAST(length(text) - length(regexp_replace(text, '\s', '', 'g')) AS BIGINT) AS space,
                  CASE WHEN length(regexp_replace(text, '[^\x00-\x7F]', '', 'g')) < length(text) THEN 1 ELSE 0 END AS na
             FROM documents)
         SELECT lang, count(*) AS n_docs, CAST(sum(nc) AS BIGINT) AS n_chars,
                round(CAST(sum(latin) AS DOUBLE) / CAST(sum(nc) AS BIGINT), 6) AS latin_frac,
                round(CAST(sum(digit) AS DOUBLE) / CAST(sum(nc) AS BIGINT), 6) AS digit_frac,
                round(CAST(sum(space) AS DOUBLE) / CAST(sum(nc) AS BIGINT), 6) AS space_frac,
                round(CAST(sum(nc) - sum(latin) - sum(digit) - sum(space) AS DOUBLE) / CAST(sum(nc) AS BIGINT), 6) AS other_frac,
                CAST(sum(na) AS BIGINT) AS nonascii_docs
         FROM per GROUP BY 1 ORDER BY 1""",
    "q336_capture_recapture" ->
      """WITH hflag AS (SELECT doc_id FROM (
             SELECT doc_id, count(*) OVER (PARTITION BY md5(substr(text, 1, 64))) AS n
             FROM documents) WHERE n > 1),
         tflag AS (SELECT doc_id FROM (
             SELECT doc_id, count(*) OVER (PARTITION BY md5(substr(reverse(text), 1, 64))) AS n
             FROM documents) WHERE n > 1),
         a AS (SELECT count(*) AS n_a FROM hflag),
         b AS (SELECT count(*) AS n_b FROM tflag),
         m AS (SELECT count(*) AS m FROM hflag JOIN tflag USING (doc_id)),
         u AS (SELECT count(*) AS u FROM (SELECT doc_id FROM hflag UNION SELECT doc_id FROM tflag))
         SELECT n_a, n_b, m AS overlap, u AS union_flagged,
                round(CAST(n_a + 1 AS DOUBLE) * CAST(n_b + 1 AS DOUBLE) / CAST(m + 1 AS DOUBLE) - 1.0, 1) AS chapman_total,
                round(greatest(CAST(n_a + 1 AS DOUBLE) * CAST(n_b + 1 AS DOUBLE) / CAST(m + 1 AS DOUBLE) - 1.0 - CAST(u AS DOUBLE), 0.0), 1) AS missed_est
         FROM a, b, m, u""",
    "q337_lsh_curve" -> graft.dedup.LshCurve.oracleSql(LshConfigs),
    "q338_woe_iv" ->
      """WITH cells AS (SELECT event_type AS cat, count(*) AS n,
                  CAST(sum(CASE WHEN value > 50 THEN 1 ELSE 0 END) AS BIGINT) AS pos
             FROM events GROUP BY 1),
         c2 AS (SELECT cat, n, pos, n - pos AS neg FROM cells),
         tot AS (SELECT CAST(sum(pos) AS BIGINT) AS tp, CAST(sum(neg) AS BIGINT) AS tn FROM c2),
         terms AS (SELECT cat, n, pos, neg,
                  CASE WHEN pos > 0 AND neg > 0 AND tp > 0 AND tn > 0
                    THEN ln((CAST(pos AS DOUBLE) / tp) / (CAST(neg AS DOUBLE) / tn)) END AS woe_raw,
                  CAST(pos AS DOUBLE) / tp - CAST(neg AS DOUBLE) / tn AS dpr
                FROM c2, tot),
         p AS (SELECT cat, n, pos, neg, round(woe_raw, 6) AS woe,
                 round(dpr * woe_raw, 6) AS iv_term,
                 CAST(round(dpr * woe_raw * 1e12) AS BIGINT) AS iv12
               FROM terms),
         tt AS (SELECT CAST(sum(iv12) AS BIGINT) AS s12 FROM p)
         SELECT cat, n, pos, neg, woe, iv_term,
                round(CAST(s12 AS DOUBLE) / 1e12, 6) AS iv_total
         FROM p, tt ORDER BY cat""",
    "q339_fairness" ->
      """WITH g AS (SELECT
             CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 = 0 THEN 'A' ELSE 'B' END AS grp,
             CASE WHEN value > 75 THEN 1 ELSE 0 END AS d,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
           FROM events),
         cells AS (SELECT grp, count(*) AS n, CAST(sum(d) AS BIGINT) AS selected,
                  CAST(sum(d * y) AS BIGINT) AS tp, CAST(sum(d * (1 - y)) AS BIGINT) AS fp,
                  CAST(sum(y) AS BIGINT) AS pos
                FROM g GROUP BY 1),
         c2 AS (SELECT grp, n, selected, tp, fp, pos,
                  round(CAST(selected AS DOUBLE) / n, 6) AS sel_rate FROM cells),
         ref AS (SELECT max(sel_rate) AS ref_rate FROM c2)
         SELECT grp, n, selected, sel_rate,
                round(CASE WHEN pos > 0 THEN CAST(tp AS DOUBLE) / pos END, 6) AS tpr,
                round(CASE WHEN n - pos > 0 THEN CAST(fp AS DOUBLE) / (n - pos) END, 6) AS fpr,
                round(CASE WHEN ref_rate > 0 THEN sel_rate / ref_rate END, 4) AS dp_ratio
         FROM c2, ref ORDER BY grp""",
    "q340_matrix_profile" ->
      """WITH daily AS (SELECT event_type AS g, CAST(ts AS DATE) AS day,
                  CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS vq
                FROM events GROUP BY 1, 2),
         idx AS (SELECT g, date_diff('day', min(day) OVER (PARTITION BY g), day) AS di, vq FROM daily),
         memb AS (SELECT g, di - k.k AS i, k.k AS k, vq
                  FROM idx CROSS JOIN (SELECT unnest(range(0, 7)) AS k) k
                  WHERE di - k.k >= 0),
         stats AS (SELECT g, i, count(*) AS m, sum(CAST(vq AS HUGEINT)) AS sw,
                          sum(CAST(vq AS HUGEINT) * vq) AS sww
                   FROM memb GROUP BY 1, 2),
         sts AS (SELECT * FROM stats WHERE m = 7),
         fl AS (SELECT memb.g, memb.i, memb.k, memb.vq
                FROM memb JOIN sts ON sts.g = memb.g AND sts.i = memb.i),
         dots AS (SELECT a.g, a.i AS ia, b.i AS ib, sum(CAST(a.vq AS HUGEINT) * b.vq) AS sab
                  FROM fl a JOIN fl b ON a.g = b.g AND a.k = b.k AND abs(a.i - b.i) >= 7
                  GROUP BY 1, 2, 3),
         d2 AS (SELECT d.g, d.ia,
                 CASE WHEN CAST(sa.sww AS DOUBLE) / 7.0 - (CAST(sa.sw AS DOUBLE) / 7.0) * (CAST(sa.sw AS DOUBLE) / 7.0) > 0
                       AND CAST(sb.sww AS DOUBLE) / 7.0 - (CAST(sb.sw AS DOUBLE) / 7.0) * (CAST(sb.sw AS DOUBLE) / 7.0) > 0
                   THEN 2.0 * 7.0 * (1.0 -
                     (CAST(d.sab AS DOUBLE) / 7.0 - (CAST(sa.sw AS DOUBLE) / 7.0) * (CAST(sb.sw AS DOUBLE) / 7.0))
                     / sqrt((CAST(sa.sww AS DOUBLE) / 7.0 - (CAST(sa.sw AS DOUBLE) / 7.0) * (CAST(sa.sw AS DOUBLE) / 7.0))
                          * (CAST(sb.sww AS DOUBLE) / 7.0 - (CAST(sb.sw AS DOUBLE) / 7.0) * (CAST(sb.sw AS DOUBLE) / 7.0)))) END AS dd
                FROM dots d
                JOIN sts sa ON sa.g = d.g AND sa.i = d.ia
                JOIN sts sb ON sb.g = d.g AND sb.i = d.ib),
         nn AS (SELECT g, ia, min(dd) AS nnd FROM d2 GROUP BY 1, 2),
         pick AS (SELECT g, ia, nnd,
                    row_number() OVER (PARTITION BY g ORDER BY nnd DESC NULLS LAST, ia) AS rk
                  FROM nn),
         cnt AS (SELECT g, count(*) AS n_windows FROM sts GROUP BY 1)
         SELECT p.g AS event_type, c.n_windows,
                CAST(p.ia AS BIGINT) AS discord_start,
                round(p.nnd, 4) AS discord_d2
         FROM pick p JOIN cnt c ON c.g = p.g WHERE p.rk = 1 ORDER BY 1""",
    "q341_periodogram" ->
      """WITH daily AS (SELECT event_type AS g, CAST(ts AS DATE) AS day,
                  CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS vq
                FROM events GROUP BY 1, 2),
         cen AS (SELECT g, date_diff('day', min(day) OVER (PARTITION BY g), day) AS di,
                        count(*) OVER (PARTITION BY g) AS n,
                        sum(vq) OVER (PARTITION BY g) AS s, vq
                 FROM daily),
         yp AS (SELECT g, di, n * vq - s AS yp FROM cen),
         terms AS (SELECT g, pp.p,
                  CAST(round(CAST(yp AS DOUBLE) * cos(6.283185307179586 * di / pp.p) / 1e6) AS BIGINT) AS c6,
                  CAST(round(CAST(yp AS DOUBLE) * sin(6.283185307179586 * di / pp.p) / 1e6) AS BIGINT) AS s6
                FROM yp CROSS JOIN (SELECT unnest(range(2, 15)) AS p) pp),
         pw AS (SELECT g, p, CAST(sum(c6) AS BIGINT) AS cp, CAST(sum(s6) AS BIGINT) AS sp
                FROM terms GROUP BY 1, 2),
         pw2 AS (SELECT g, p, CAST(cp AS HUGEINT) * cp + CAST(sp AS HUGEINT) * sp AS pow FROM pw),
         tot AS (SELECT g, p, pow, sum(pow) OVER (PARTITION BY g) AS tt FROM pw2)
         SELECT g AS event_type, CAST(p AS BIGINT) AS period,
                round(CASE WHEN tt > 0 THEN CAST(pow AS DOUBLE) / CAST(tt AS DOUBLE) END, 6) AS power_share
         FROM tot ORDER BY 1, 2""",
    "q342_croston" ->
      """WITH daily AS (SELECT l_partkey AS k, CAST(l_shipdate AS DATE) AS day,
                  CAST(sum(CAST(round(l_quantity * 1000000) AS BIGINT)) AS BIGINT) AS xq
                FROM lineitem GROUP BY 1, 2),
         nz AS (SELECT * FROM daily WHERE xq > 0),
         sq AS (SELECT k, day, xq,
                  CAST(row_number() OVER (PARTITION BY k ORDER BY day) AS BIGINT) AS t,
                  CAST(date_diff('day', lag(day) OVER (PARTITION BY k ORDER BY day), day) AS BIGINT) AS gap,
                  count(*) OVER (PARTITION BY k) AS n
                FROM nz),
         f AS (SELECT * FROM sq WHERE n >= 5),
         terms AS (SELECT k, n,
                  CAST(round((CAST(xq AS DOUBLE) / 1e6) *
                    (CASE WHEN (CASE WHEN t = 1 THEN n - 1 ELSE n - t + 1 END) > 50 THEN 0.0
                          ELSE 1.0 / CAST((CAST(1 AS BIGINT) << CAST((CASE WHEN t = 1 THEN n - 1 ELSE n - t + 1 END) AS INT)) AS DOUBLE) END)
                    * 1e12) AS BIGINT) AS z12,
                  CASE WHEN t >= 2 THEN CAST(round(CAST(gap AS DOUBLE) *
                    (CASE WHEN (CASE WHEN t = 2 THEN n - 2 ELSE n - t + 1 END) > 50 THEN 0.0
                          ELSE 1.0 / CAST((CAST(1 AS BIGINT) << CAST((CASE WHEN t = 2 THEN n - 2 ELSE n - t + 1 END) AS INT)) AS DOUBLE) END)
                    * 1e12) AS BIGINT) END AS p12
                FROM f)
         SELECT k, CAST(max(n) AS BIGINT) AS n_demands,
                round(CAST(sum(z12) AS DOUBLE) / 1e12, 6) AS z_hat,
                round(CAST(sum(p12) AS DOUBLE) / 1e12, 6) AS p_hat,
                round(CASE WHEN sum(p12) > 0
                  THEN CAST(sum(z12) AS DOUBLE) / CAST(sum(p12) AS DOUBLE) END, 6) AS forecast
         FROM terms GROUP BY 1 ORDER BY 1""",
    "q343_allen" ->
      """WITH per AS (SELECT user_id,
                  min(CASE WHEN event_type = 'view' THEN ts END) AS as_,
                  max(CASE WHEN event_type = 'view' THEN ts END) AS ae,
                  min(CASE WHEN event_type = 'purchase' THEN ts END) AS bs,
                  max(CASE WHEN event_type = 'purchase' THEN ts END) AS be
             FROM events GROUP BY 1),
         f AS (SELECT * FROM per WHERE as_ IS NOT NULL AND bs IS NOT NULL),
         r AS (SELECT CASE
                 WHEN as_ = bs AND ae = be THEN 'equals'
                 WHEN ae < bs THEN 'before'
                 WHEN be < as_ THEN 'after'
                 WHEN ae = bs THEN 'meets'
                 WHEN be = as_ THEN 'met_by'
                 WHEN as_ = bs AND ae < be THEN 'starts'
                 WHEN as_ = bs THEN 'started_by'
                 WHEN ae = be AND as_ > bs THEN 'finishes'
                 WHEN ae = be THEN 'finished_by'
                 WHEN as_ > bs AND ae < be THEN 'during'
                 WHEN as_ < bs AND ae > be THEN 'contains'
                 WHEN as_ < bs THEN 'overlaps'
                 ELSE 'overlapped_by' END AS relation
               FROM f)
         SELECT relation, count(*) AS n_units FROM r GROUP BY 1 ORDER BY 1""",
    "q344_welch_anova" ->
      """WITH q AS (SELECT event_type AS cls, CAST(round(value * 100) AS BIGINT) AS vq FROM events),
         per0 AS (SELECT cls, count(*) AS nc, sum(CAST(vq AS HUGEINT)) AS sc,
                        sum(CAST(vq AS HUGEINT) * CAST(vq AS HUGEINT)) AS qc
                  FROM q GROUP BY 1),
         pc AS (SELECT nc, CAST(sc AS DOUBLE) / nc AS m,
                       (CAST(qc AS DOUBLE) - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE) / nc) / (nc - 1) AS v
                FROM per0),
         pw AS (SELECT nc, m, CAST(round((nc / v) * 1e12) AS BIGINT) AS w12
                FROM pc WHERE nc >= 2 AND v > 0),
         tot AS (SELECT count(*) AS k, CAST(sum(nc) AS BIGINT) AS n,
                       CAST(sum(w12) AS BIGINT) AS sw12,
                       CAST(sum(CAST(round((w12 / 1e12) * m * 1e6) AS BIGINT)) AS BIGINT) AS swm6
                 FROM pw),
         terms AS (SELECT t.k, t.n, t.sw12, t.swm6,
                  CAST(round((w12 / 1e12) * (m - (swm6 / 1e6) / (sw12 / 1e12)) * (m - (swm6 / 1e6) / (sw12 / 1e12)) * 1e9) AS BIGINT) AS t9,
                  CAST(round((1.0 - CAST(w12 AS DOUBLE) / sw12) * (1.0 - CAST(w12 AS DOUBLE) / sw12) / (nc - 1) * 1e15) AS BIGINT) AS l15
                FROM pw, tot t),
         ag AS (SELECT k, n, CAST(sum(t9) AS BIGINT) AS num9, CAST(sum(l15) AS BIGINT) AS lam15
                FROM terms GROUP BY 1, 2)
         SELECT k, n,
                round(CASE WHEN k >= 2 THEN
                  ((num9 / 1e9) / (k - 1)) /
                  (1.0 + 2.0 * (k - 2) * ((lam15 / 1e15) / CAST(k * k - 1 AS DOUBLE))) END, 6) AS f_stat,
                CAST(k - 1 AS BIGINT) AS df1,
                round(CASE WHEN k >= 2 AND lam15 > 0 THEN
                  CAST(k * k - 1 AS DOUBLE) * 1e15 / (3.0 * lam15) END, 4) AS df2
         FROM ag""",
    "q345_bartlett" ->
      """WITH q AS (SELECT event_type AS cls, CAST(round(value * 100) AS BIGINT) AS vq FROM events),
         per0 AS (SELECT cls, count(*) AS nc, sum(CAST(vq AS HUGEINT)) AS sc,
                        sum(CAST(vq AS HUGEINT) * CAST(vq AS HUGEINT)) AS qc
                  FROM q GROUP BY 1),
         pc AS (SELECT nc,
                       (CAST(qc AS DOUBLE) - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE) / nc) / (nc - 1) AS v
                FROM per0),
         f AS (SELECT * FROM pc WHERE nc >= 2 AND v > 0),
         t AS (SELECT count(*) AS k, CAST(sum(nc) AS BIGINT) AS n,
                      CAST(sum(CAST(round((nc - 1) * v) AS BIGINT)) AS BIGINT) AS ssw0,
                      CAST(sum(CAST(round((nc - 1) * ln(v) * 1e6) AS BIGINT)) AS BIGINT) AS slnv6,
                      CAST(sum(CAST(round(1e15 / (nc - 1)) AS BIGINT)) AS BIGINT) AS sinv15
               FROM f)
         SELECT k, n,
                round(CASE WHEN k >= 2 AND n > k THEN
                  (CAST(n - k AS DOUBLE) * ln(CAST(ssw0 AS DOUBLE) / CAST(n - k AS DOUBLE)) - slnv6 / 1e6)
                  / (1.0 + (sinv15 / 1e15 - 1.0 / CAST(n - k AS DOUBLE)) / (3.0 * (k - 1))) END, 6) AS bartlett_t,
                CAST(k - 1 AS BIGINT) AS df
         FROM t""",
    "q346_cochran_armitage" ->
      s"""WITH q AS (SELECT CAST(least(floor(value / 100), 4) AS BIGINT) AS t,
                  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
             FROM events),
         cells AS (SELECT t, count(*) AS nj, CAST(sum(y) AS BIGINT) AS rj FROM q GROUP BY 1),
         a AS (SELECT count(*) AS k, CAST(sum(nj) AS BIGINT) AS n, CAST(sum(rj) AS BIGINT) AS r,
                      sum(CAST(t AS HUGEINT) * nj) AS stn,
                      sum(CAST(t AS HUGEINT) * t * nj) AS st2n,
                      sum(CAST(t AS HUGEINT) * rj) AS str_ FROM cells),
         a2 AS (SELECT k, n, r, CAST(n AS DOUBLE) AS nd, CAST(r AS DOUBLE) AS rd,
                       CAST(stn AS DOUBLE) AS stnd, CAST(st2n AS DOUBLE) AS st2nd,
                       CAST(str_ AS DOUBLE) AS strd FROM a),
         z AS (SELECT k, n, r AS cases,
                 CASE WHEN k >= 2 AND rd * (nd - rd) / (nd * nd * (nd - 1)) * (nd * st2nd - stnd * stnd) > 0
                   THEN (strd - rd * stnd / nd) /
                        sqrt(rd * (nd - rd) / (nd * nd * (nd - 1)) * (nd * st2nd - stnd * stnd)) END AS z0
               FROM a2)
         SELECT k, n, cases, round(z0, 6) AS z,
                round(2.0 * (1.0 - ${graft.functions.Phi.sql("abs(z0)")}), 4) AS p_two
         FROM z""",
    "q347_spectral_entropy" ->
      s"""WITH daily AS (SELECT event_type AS g, CAST(ts AS DATE) AS day,
                  CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS vq
                FROM events GROUP BY 1, 2),
         cen AS (SELECT g, date_diff('day', min(day) OVER (PARTITION BY g), day) AS di,
                        count(*) OVER (PARTITION BY g) AS n,
                        sum(vq) OVER (PARTITION BY g) AS s, vq
                 FROM daily),
         yp AS (SELECT g, di, n * vq - s AS yp FROM cen),
         terms AS (SELECT g, pp.p,
                  CAST(round(CAST(yp AS DOUBLE) * cos(6.283185307179586 * di / pp.p) / 1e6) AS BIGINT) AS c6,
                  CAST(round(CAST(yp AS DOUBLE) * sin(6.283185307179586 * di / pp.p) / 1e6) AS BIGINT) AS s6
                FROM yp CROSS JOIN (SELECT unnest(range(2, 15)) AS p) pp),
         pw AS (SELECT g, p, CAST(sum(c6) AS BIGINT) AS cp, CAST(sum(s6) AS BIGINT) AS sp
                FROM terms GROUP BY 1, 2),
         pw2 AS (SELECT g, p, CAST(cp AS HUGEINT) * cp + CAST(sp AS HUGEINT) * sp AS pow FROM pw),
         tt AS (SELECT g, p, pow, sum(pow) OVER (PARTITION BY g) AS tot FROM pw2),
         sh AS (SELECT g, p, CASE WHEN tot > 0 THEN round(CAST(pow AS DOUBLE) / CAST(tot AS DOUBLE), 6) ELSE 0.0 END AS sh FROM tt),
         e AS (SELECT g,
                 CAST(sum(CAST(round((CASE WHEN sh > 0 THEN -sh * ln(sh) ELSE 0.0 END) * 1e12) AS BIGINT)) AS BIGINT) AS e12
               FROM sh GROUP BY 1),
         pk AS (SELECT g, p, sh,
                  row_number() OVER (PARTITION BY g ORDER BY sh DESC, p ASC) AS rn
                FROM sh)
         SELECT e.g AS event_type,
                round(e12 / 1e12 / ${math.log(13.0)}, 6) AS spec_entropy,
                CAST(pk.p AS BIGINT) AS peak_period, pk.sh AS peak_share
         FROM e JOIN pk ON pk.g = e.g AND pk.rn = 1
         ORDER BY 1""",
    "q348_fligner_killeen" ->
      s"""WITH q AS (SELECT event_type AS cls, CAST(round(value * 100) AS BIGINT) AS xq FROM events),
         m AS (SELECT cls, xq AS medq FROM (
                 SELECT cls, xq, row_number() OVER (PARTITION BY cls ORDER BY xq) AS rn,
                        count(*) OVER (PARTITION BY cls) AS nc FROM q)
               WHERE rn = (nc + 1) // 2),
         z AS (SELECT q.cls, abs(q.xq - m.medq) AS dv FROM q JOIN m ON q.cls = m.cls),
         cells AS (SELECT dv, cls, count(*) AS cnt FROM z GROUP BY 1, 2),
         byv AS (SELECT dv, CAST(sum(cnt) AS BIGINT) AS ct FROM cells GROUP BY 1),
         tot AS (SELECT CAST(sum(ct) AS BIGINT) AS nn FROM byv),
         rk AS (SELECT dv, ct,
                  2 * coalesce(sum(ct) OVER (ORDER BY dv ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + ct + 1 AS r2
                FROM byv),
         pc AS (SELECT dv, ct, 0.5 + r2 / (4.0 * (nn + 1)) AS p FROM rk, tot),
         sc AS (SELECT dv, ct, CAST(round(${graft.functions.Probit.sql("p")} * 1e9) AS BIGINT) AS a9 FROM pc),
         g AS (SELECT CAST(sum(ct) AS BIGINT) AS n,
                      sum(CAST(ct AS HUGEINT) * CAST(a9 AS HUGEINT)) AS s9,
                      sum(CAST(ct AS HUGEINT) * CAST(a9 AS HUGEINT) * CAST(a9 AS HUGEINT)) AS q18
               FROM sc),
         per AS (SELECT cls, CAST(sum(cnt) AS BIGINT) AS nj,
                        sum(CAST(cnt AS HUGEINT) * CAST(a9 AS HUGEINT)) AS sj9
                 FROM cells JOIN sc USING (dv) GROUP BY 1),
         ag AS (SELECT n, s9, q18, count(*) AS k,
                  CAST(sum(CAST(round(nj * (CAST(sj9 AS DOUBLE) / nj - CAST(s9 AS DOUBLE) / n) * (CAST(sj9 AS DOUBLE) / nj - CAST(s9 AS DOUBLE) / n) / 1e12) AS BIGINT)) AS BIGINT) AS num6
                FROM per, g GROUP BY 1, 2, 3)
         SELECT k, n,
                round(CASE WHEN k >= 2 AND n > 1
                        AND (CAST(q18 AS DOUBLE) - CAST(s9 AS DOUBLE) * CAST(s9 AS DOUBLE) / n) / (n - 1) > 0
                      THEN CAST(num6 AS DOUBLE) * 1e12 /
                           ((CAST(q18 AS DOUBLE) - CAST(s9 AS DOUBLE) * CAST(s9 AS DOUBLE) / n) / (n - 1)) END, 4) AS fk_stat,
                CAST(k - 1 AS BIGINT) AS df
         FROM ag""",
    "q349_mood_median" ->
      """WITH q AS (SELECT event_type AS cls, CAST(round(value * 1000000) AS BIGINT) AS v FROM events),
         byv AS (SELECT v, count(*) AS ct FROM q GROUP BY 1),
         tot AS (SELECT CAST(sum(ct) AS BIGINT) AS nn FROM byv),
         cum AS (SELECT v, ct, sum(ct) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM byv),
         med AS (SELECT v AS medv FROM cum, tot
                 WHERE cum >= (nn + 1) // 2 AND cum - ct < (nn + 1) // 2),
         per AS (SELECT cls, count(*) AS nj,
                        CAST(sum(CASE WHEN v > medv THEN 1 ELSE 0 END) AS BIGINT) AS gj
                 FROM q, med GROUP BY 1),
         marg AS (SELECT CAST(sum(nj) AS BIGINT) AS n, CAST(sum(gj) AS BIGINT) AS g, count(*) AS k FROM per),
         ag AS (SELECT k, n, g, medv,
                  CAST(sum(CAST(round(CASE WHEN g > 0 AND g < n THEN
                    ((gj - CAST(nj AS DOUBLE) * g / n) * (gj - CAST(nj AS DOUBLE) * g / n) / (CAST(nj AS DOUBLE) * g / n)
                     + (nj - gj - CAST(nj AS DOUBLE) * (n - g) / n) * (nj - gj - CAST(nj AS DOUBLE) * (n - g) / n) / (CAST(nj AS DOUBLE) * (n - g) / n)) * 1e9 END) AS BIGINT)) AS BIGINT) AS t9
                FROM per, marg, med GROUP BY 1, 2, 3, 4)
         SELECT k, n, round(CAST(medv AS DOUBLE) / 1e6, 6) AS median,
                round(CASE WHEN k >= 2 AND g > 0 AND g < n THEN CAST(t9 AS DOUBLE) / 1e9 END, 4) AS chi2,
                CAST(k - 1 AS BIGINT) AS df
         FROM ag""",
    "q350_lilliefors" ->
      s"""WITH q AS (SELECT CAST(round(value * 1000000) AS BIGINT) AS vq FROM events),
         byv AS (SELECT vq, count(*) AS ct FROM q GROUP BY 1),
         tot AS (SELECT CAST(sum(ct) AS BIGINT) AS n,
                        sum(CAST(vq AS HUGEINT) * ct) AS s,
                        sum(CAST(vq AS HUGEINT) * CAST(vq AS HUGEINT) * ct) AS qq
                 FROM byv),
         cum AS (SELECT vq, ct, sum(ct) OVER (ORDER BY vq ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM byv),
         zz AS (SELECT n, s, qq, ct, cum,
                  (vq - CAST(s AS DOUBLE) / n) /
                    sqrt((CAST(qq AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / (n - 1)) AS z
                FROM cum, tot),
         gaps AS (SELECT n, s, qq,
                    round(CASE WHEN n >= 2 AND CAST(qq AS DOUBLE) * n > CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                      THEN greatest(abs(CAST(cum AS DOUBLE) / n - ${graft.functions.Phi.sql("z")}),
                                    abs(${graft.functions.Phi.sql("z")} - CAST(cum - ct AS DOUBLE) / n)) END, 9) AS gap
                  FROM zz),
         ag AS (SELECT n, s, qq, max(gap) AS d0 FROM gaps GROUP BY 1, 2, 3)
         SELECT n,
                round(CAST(s AS DOUBLE) / n / 1e6, 6) AS mean,
                round(CASE WHEN n >= 2 THEN sqrt((CAST(qq AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / (n - 1)) / 1e6 END, 6) AS sd,
                round(CASE WHEN n >= 2 AND CAST(qq AS DOUBLE) * n > CAST(s AS DOUBLE) * CAST(s AS DOUBLE) THEN d0 END, 6) AS d_stat,
                round(CASE WHEN n >= 2 AND CAST(qq AS DOUBLE) * n > CAST(s AS DOUBLE) * CAST(s AS DOUBLE) THEN d0 * sqrt(CAST(n AS DOUBLE)) END, 4) AS sqrt_n_d
         FROM ag""",
    "q351_cell_residuals" ->
      """WITH q AS (SELECT event_type AS a, CAST(least(floor(value / 100), 4) AS BIGINT) AS b FROM events),
         cells AS (SELECT a, b, count(*) AS o FROM q GROUP BY 1, 2),
         rm AS (SELECT a, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY 1),
         cm AS (SELECT b, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY 1),
         tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
         grid AS (SELECT a, b, CAST(coalesce(o, 0) AS BIGINT) AS o, r, c, n
                  FROM rm CROSS JOIN cm CROSS JOIN tot LEFT JOIN cells USING (a, b))
         SELECT a, b, o,
                round(CAST(r AS DOUBLE) * c / n, 4) AS e,
                round(CASE WHEN CAST(r AS DOUBLE) * c / n * (1.0 - CAST(r AS DOUBLE) / n) * (1.0 - CAST(c AS DOUBLE) / n) > 0
                      THEN (o - CAST(r AS DOUBLE) * c / n) /
                           sqrt(CAST(r AS DOUBLE) * c / n * (1.0 - CAST(r AS DOUBLE) / n) * (1.0 - CAST(c AS DOUBLE) / n)) END, 4) AS std_resid
         FROM grid ORDER BY 1, 2""",
    "q352_ols_influence" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
                  CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS yq
                FROM events GROUP BY 1),
         d0 AS (SELECT min(day) AS day0 FROM daily),
         xd AS (SELECT day, date_diff('day', day0, day) AS x, yq FROM daily, d0),
         mom AS (SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
                        sum(CAST(yq AS HUGEINT)) AS sy,
                        sum(CAST(x AS HUGEINT) * yq) AS sxy,
                        sum(CAST(x AS HUGEINT) * x) AS sxx,
                        sum(CAST(yq AS HUGEINT) * yq) AS syy
                 FROM xd),
         b AS (SELECT day, x, yq, n, sx, sy, sxy, sxx, syy,
                 CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n AS sxc,
                 (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n) /
                   (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) AS beta
               FROM xd, mom),
         c AS (SELECT day, x, yq, n, sx, sy, sxy, sxx, syy, sxc, beta,
                 1.0 / n + (x - CAST(sx AS DOUBLE) / n) * (x - CAST(sx AS DOUBLE) / n) / sxc AS h,
                 yq - ((CAST(sy AS DOUBLE) - beta * CAST(sx AS DOUBLE)) / n + beta * x) AS e,
                 ((CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n) -
                  beta * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)) / (n - 2) AS s2
               FROM b),
         d AS (SELECT day, yq, n, sxc, h, e, s2,
                 e * e * h / (2.0 * s2 * (1.0 - h) * (1.0 - h)) AS dcook
               FROM c)
         SELECT day, round(CAST(yq AS DOUBLE) / 1e6, 6) AS daily_value,
                round(CASE WHEN n >= 2 AND sxc > 0 THEN h END, 6) AS leverage,
                round(CASE WHEN n >= 2 AND sxc > 0 THEN e / 1e6 END, 4) AS resid,
                round(CASE WHEN n >= 3 AND sxc > 0 AND s2 > 0 THEN dcook END, 6) AS cooks_d,
                CASE WHEN n >= 3 AND sxc > 0 AND s2 > 0 THEN dcook > 4.0 / n END AS influential
         FROM d ORDER BY day""",
    "q353_vdw" ->
      s"""WITH q AS (SELECT event_type AS cls, CAST(round(value * 1000000) AS BIGINT) AS v FROM events),
         cells AS (SELECT v, cls, count(*) AS cnt FROM q GROUP BY 1, 2),
         byv AS (SELECT v, CAST(sum(cnt) AS BIGINT) AS ct FROM cells GROUP BY 1),
         tot AS (SELECT CAST(sum(ct) AS BIGINT) AS nn FROM byv),
         rk AS (SELECT v, ct,
                  2 * coalesce(sum(ct) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + ct + 1 AS r2
                FROM byv),
         pc AS (SELECT v, ct, r2 / (2.0 * (nn + 1)) AS p FROM rk, tot),
         sc AS (SELECT v, ct, CAST(round(${graft.functions.Probit.sql("p")} * 1e9) AS BIGINT) AS a9 FROM pc),
         g AS (SELECT CAST(sum(ct) AS BIGINT) AS n,
                      sum(CAST(ct AS HUGEINT) * CAST(a9 AS HUGEINT) * CAST(a9 AS HUGEINT)) AS q18
               FROM sc),
         per AS (SELECT cls, CAST(sum(cnt) AS BIGINT) AS nj,
                        sum(CAST(cnt AS HUGEINT) * CAST(a9 AS HUGEINT)) AS sj9
                 FROM cells JOIN sc USING (v) GROUP BY 1),
         ag AS (SELECT n, q18, count(*) AS k,
                  CAST(sum(CAST(round(CAST(sj9 AS DOUBLE) * CAST(sj9 AS DOUBLE) / nj / 1e12) AS BIGINT)) AS BIGINT) AS num6
                FROM per, g GROUP BY 1, 2)
         SELECT k, n,
                round(CASE WHEN k >= 2 AND n > 1 AND q18 > 0
                      THEN CAST(num6 AS DOUBLE) * 1e12 / (CAST(q18 AS DOUBLE) / (n - 1)) END, 4) AS vdw_stat,
                CAST(k - 1 AS BIGINT) AS df
         FROM ag""",
    "q354_ad_ksample" ->
      """WITH q AS (SELECT event_type AS cls, CAST(round(value * 1000000) AS BIGINT) AS v FROM events),
         cells AS (SELECT v, cls, count(*) AS cnt FROM q GROUP BY 1, 2),
         byv AS (SELECT v, CAST(sum(cnt) AS BIGINT) AS ct FROM cells GROUP BY 1),
         tot AS (SELECT CAST(sum(ct) AS BIGINT) AS nn FROM byv),
         ctot AS (SELECT cls, CAST(sum(cnt) AS BIGINT) AS ni FROM cells GROUP BY 1),
         bb AS (SELECT v, ct,
                  2 * sum(ct) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - ct AS b2
                FROM byv),
         grid AS (SELECT byv.v, ctot.cls, ctot.ni, coalesce(cells.cnt, 0) AS li
                  FROM byv CROSS JOIN ctot
                  LEFT JOIN cells ON cells.v = byv.v AND cells.cls = ctot.cls),
         g2 AS (SELECT v, cls, ni, li,
                  2 * sum(li) OVER (PARTITION BY cls ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - li AS m2
                FROM grid),
         tm AS (SELECT nn, cls,
                  CAST(round(CASE WHEN CAST(b2 AS DOUBLE) * (2.0 * nn - b2) - CAST(nn AS DOUBLE) * ct > 0 THEN
                    ct * ((CAST(nn AS DOUBLE) * m2 - CAST(ni AS DOUBLE) * b2) * (CAST(nn AS DOUBLE) * m2 - CAST(ni AS DOUBLE) * b2) /
                          (CAST(b2 AS DOUBLE) * (2.0 * nn - b2) - CAST(nn AS DOUBLE) * ct)) / ni * 1e6 END) AS BIGINT) AS t6
                FROM g2 JOIN bb USING (v), tot),
         ag AS (SELECT nn, count(DISTINCT cls) AS k, CAST(sum(t6) AS BIGINT) AS s6 FROM tm GROUP BY 1)
         SELECT k, nn AS n,
                round(CASE WHEN k >= 2 AND s6 IS NOT NULL
                      THEN CAST(nn - 1 AS DOUBLE) / (CAST(nn AS DOUBLE) * nn) * (CAST(s6 AS DOUBLE) / 1e6) END, 4) AS a2_akn,
                CAST(k - 1 AS BIGINT) AS mean_h0
         FROM ag""",
    "q355_pettitt" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
                  CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS yq
                FROM events GROUP BY 1),
         byv AS (SELECT yq, count(*) AS ct FROM daily GROUP BY 1),
         rk AS (SELECT yq,
                  2 * coalesce(sum(ct) OVER (ORDER BY yq ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + ct + 1 AS r2
                FROM byv),
         nd AS (SELECT count(*) AS nd FROM daily),
         u AS (SELECT day, nd,
                 sum(r2) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) -
                 row_number() OVER (ORDER BY day) * (nd + 1) AS ut
               FROM daily JOIN rk USING (yq), nd),
         mx AS (SELECT max(abs(ut)) AS k2 FROM u),
         ag AS (SELECT nd, k2, min(day) AS break_day FROM u, mx WHERE abs(ut) = k2 GROUP BY 1, 2)
         SELECT nd AS n_days, CAST(k2 AS BIGINT) AS k_stat, break_day,
                round(least(1.0, 2.0 * exp(-6.0 * CAST(k2 AS DOUBLE) * k2 /
                  (CAST(nd AS DOUBLE) * nd * nd + CAST(nd AS DOUBLE) * nd))), 6) AS p_approx
         FROM ag""",
    "q356_qq_normal" ->
      s"""WITH q AS (SELECT CAST(round(value * 1000000) AS BIGINT) AS vq FROM events),
         byv AS (SELECT vq, count(*) AS ct FROM q GROUP BY 1),
         tot AS (SELECT CAST(sum(ct) AS BIGINT) AS n,
                        sum(CAST(vq AS HUGEINT) * ct) AS s,
                        sum(CAST(vq AS HUGEINT) * CAST(vq AS HUGEINT) * ct) AS qq
                 FROM byv),
         cum AS (SELECT vq, ct, sum(ct) OVER (ORDER BY vq ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM byv),
         probs AS (SELECT n, s, qq, CAST(pp.i AS BIGINT) AS i,
                          (CAST(pp.i AS BIGINT) * n + 9) // 10 AS pos
                   FROM tot CROSS JOIN (SELECT unnest(range(1, 10)) AS i) pp),
         j AS (SELECT n, s, qq, i, vq, CAST(i AS DOUBLE) / 10 AS pd
               FROM probs JOIN cum ON cum.cum >= probs.pos AND cum.cum - cum.ct < probs.pos)
         SELECT round(CAST(i AS DOUBLE) / 10, 4) AS p,
                round(CAST(vq AS DOUBLE) / 1e6, 6) AS sample_q,
                round(CASE WHEN n >= 2 THEN
                  (CAST(s AS DOUBLE) / n + sqrt((CAST(qq AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / (n - 1)) * ${graft.functions.Probit.sql("pd")}) / 1e6 END, 6) AS theoretical_q,
                round(CASE WHEN n >= 2 THEN
                  (vq - (CAST(s AS DOUBLE) / n + sqrt((CAST(qq AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / (n - 1)) * ${graft.functions.Probit.sql("pd")})) / 1e6 END, 6) AS gap
         FROM j ORDER BY 1""",
    "q357_int_transform" ->
      s"""WITH per AS (SELECT user_id, CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS tq FROM events GROUP BY 1),
         byv AS (SELECT tq, count(*) AS ct FROM per GROUP BY 1),
         tot AS (SELECT CAST(sum(ct) AS BIGINT) AS nn FROM byv),
         rk AS (SELECT tq,
                  2 * coalesce(sum(ct) OVER (ORDER BY tq ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + ct + 1 AS r2
                FROM byv),
         pc AS (SELECT tq, (r2 - 0.75) / (2.0 * nn + 0.5) AS p FROM rk, tot),
         sc AS (SELECT tq, round(${graft.functions.Probit.sql("p")}, 6) AS int_score FROM pc)
         SELECT user_id, round(CAST(tq AS DOUBLE) / 1e6, 6) AS total, int_score
         FROM per JOIN sc USING (tq) ORDER BY user_id""",
    "q358_rayleigh" ->
      graft.analyze.Circular.rayleighOracleSql("events", "ts"),
    "q359_circ_hours" ->
      graft.analyze.Circular.hourlySummaryOracleSql("events", "event_type", "ts"),
    "q360_kuiper" ->
      graft.analyze.Circular.kuiperOracleSql("events", "ts"),
    "q361_circ_linear" ->
      graft.analyze.Circular.circularLinearOracleSql("events", "ts", "value"),
    "q362_cliffs_delta" ->
      """WITH q AS (SELECT CAST(round(value * 1000000) AS BIGINT) AS v,
                CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 = 0 THEN 1 ELSE 0 END AS s1
              FROM events),
         byv AS (SELECT v, CAST(sum(s1) AS BIGINT) AS c1, count(*) AS ct FROM q GROUP BY 1),
         c AS (SELECT v, c1, ct - c1 AS c2,
                 CAST(coalesce(sum(ct - c1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS c2lt
               FROM byv),
         agg AS (SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2,
                        sum(CAST(c1 AS HUGEINT) * c2lt * 2 + CAST(c1 AS HUGEINT) * c2) AS u1x2
                 FROM c)
         SELECT n1, n2,
           round(CAST(u1x2 AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2 * 2), 6) + 0.0 AS a_vd,
           round((CAST(u1x2 AS DOUBLE) - CAST(n1 AS DOUBLE) * n2) / (CAST(n1 AS DOUBLE) * n2), 6) + 0.0 AS cliffs_delta,
           CASE WHEN abs((CAST(u1x2 AS DOUBLE) - CAST(n1 AS DOUBLE) * n2) / (CAST(n1 AS DOUBLE) * n2)) < 0.147 THEN 'negligible'
                WHEN abs((CAST(u1x2 AS DOUBLE) - CAST(n1 AS DOUBLE) * n2) / (CAST(n1 AS DOUBLE) * n2)) < 0.33 THEN 'small'
                WHEN abs((CAST(u1x2 AS DOUBLE) - CAST(n1 AS DOUBLE) * n2) / (CAST(n1 AS DOUBLE) * n2)) < 0.474 THEN 'medium'
                ELSE 'large' END AS magnitude
         FROM agg""",
    "q363_brunner_munzel" ->
      """WITH q AS (SELECT CAST(round(value * 1000000) AS BIGINT) AS v,
                CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 = 0 THEN 1 ELSE 0 END AS s1
              FROM events),
         byv AS (SELECT v, CAST(sum(s1) AS BIGINT) AS c1, count(*) AS ct FROM q GROUP BY 1),
         c AS (SELECT v, c1, ct, ct - c1 AS c2 FROM byv),
         ranked AS (SELECT v, c1, c2,
                 2 * CAST(coalesce(sum(ct) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) + ct + 1 AS r2,
                 2 * CAST(coalesce(sum(c1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) + c1 + 1 AS r21,
                 2 * CAST(coalesce(sum(c2) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) + c2 + 1 AS r22
               FROM c),
         agg AS (SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2,
                        sum(CAST(c1 AS HUGEINT) * r2) AS sr1x2,
                        sum(CAST(c2 AS HUGEINT) * r2) AS sr2x2,
                        sum(CAST(c1 AS HUGEINT) * (r2 - r21)) AS sd1x2,
                        sum(CAST(c2 AS HUGEINT) * (r2 - r22)) AS sd2x2,
                        sum(CAST(c1 AS HUGEINT) * (r2 - r21) * (r2 - r21)) AS sdd1x4,
                        sum(CAST(c2 AS HUGEINT) * (r2 - r22) * (r2 - r22)) AS sdd2x4
                 FROM ranked),
         t AS (SELECT n1, n2,
                 CAST(n1 AS DOUBLE) AS n1d, CAST(n2 AS DOUBLE) AS n2d,
                 CAST(sr1x2 AS DOUBLE) / (CAST(n1 AS DOUBLE) * 2) AS rbar1,
                 CAST(sr2x2 AS DOUBLE) / (CAST(n2 AS DOUBLE) * 2) AS rbar2,
                 (CAST(sdd1x4 AS DOUBLE) - CAST(sd1x2 AS DOUBLE) * CAST(sd1x2 AS DOUBLE) / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) * 4 - 4) AS v1,
                 (CAST(sdd2x4 AS DOUBLE) - CAST(sd2x2 AS DOUBLE) * CAST(sd2x2 AS DOUBLE) / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) * 4 - 4) AS v2
               FROM agg)
         SELECT n1, n2,
           round((rbar2 - (n2d + 1) / 2) / n1d, 6) AS p_hat,
           round(CASE WHEN n1 >= 2 AND n2 >= 2 AND n1d * v1 + n2d * v2 > 0
             THEN n1d * n2d * (rbar2 - rbar1) / ((n1d + n2d) * sqrt(n1d * v1 + n2d * v2)) END, 4) + 0.0 AS w,
           round(CASE WHEN n1 >= 2 AND n2 >= 2 AND n1d * v1 + n2d * v2 > 0
             THEN (n1d * v1 + n2d * v2) * (n1d * v1 + n2d * v2)
                / ((n1d * v1) * (n1d * v1) / (n1d - 1) + (n2d * v2) * (n2d * v2) / (n2d - 1)) END, 2) + 0.0 AS df
         FROM t""",
    "q364_yuen" ->
      """WITH q AS (SELECT CAST(round(value * 1000000) AS BIGINT) AS v,
                CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 = 0 THEN 1 ELSE 0 END AS arm
              FROM events),
         byv AS (SELECT arm, v, count(*) AS ct FROM q GROUP BY 1, 2),
         cum AS (SELECT arm, v, ct,
                 CAST(coalesce(sum(ct) OVER (PARTITION BY arm ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cumlt,
                 CAST(sum(ct) OVER (PARTITION BY arm) AS BIGINT) AS n
               FROM byv),
         c2 AS (SELECT arm, v, ct, cumlt, cumlt + ct AS cum, n, (n * 1) // 5 AS g FROM cum),
         per AS (SELECT arm, max(n) AS n, max(g) AS g,
                  sum(CAST(v AS HUGEINT) * greatest(0, least(cum, n - g) - greatest(cumlt, g))) AS tsum,
                  sum(CAST(v AS HUGEINT) * v * greatest(0, least(cum, n - g) - greatest(cumlt, g))) AS tss,
                  min(CASE WHEN cum >= g + 1 THEN v END) AS vlo,
                  min(CASE WHEN cum >= n - g THEN v END) AS vhi
                FROM c2 GROUP BY arm),
         w AS (SELECT arm, n, g, n - g * 2 AS h, tsum,
                 tsum + CAST(g AS HUGEINT) * vlo + CAST(g AS HUGEINT) * vhi AS wsum,
                 tss + CAST(g AS HUGEINT) * vlo * vlo + CAST(g AS HUGEINT) * vhi * vhi AS wss
               FROM per),
         piv AS (SELECT
                  max(CASE WHEN arm = 1 THEN n END) AS n1, max(CASE WHEN arm = 0 THEN n END) AS n2,
                  max(CASE WHEN arm = 1 THEN h END) AS h1, max(CASE WHEN arm = 0 THEN h END) AS h2,
                  max(CASE WHEN arm = 1 THEN tsum END) AS ts1, max(CASE WHEN arm = 0 THEN tsum END) AS ts2,
                  max(CASE WHEN arm = 1 THEN wsum END) AS ws1, max(CASE WHEN arm = 0 THEN wsum END) AS ws2,
                  max(CASE WHEN arm = 1 THEN wss END) AS wq1, max(CASE WHEN arm = 0 THEN wss END) AS wq2
                FROM w),
         t AS (SELECT n1, n2, h1, h2,
                 CAST(ts1 AS DOUBLE) / h1 / 1e6 AS tm1, CAST(ts2 AS DOUBLE) / h2 / 1e6 AS tm2,
                 (CAST(wq1 AS DOUBLE) - CAST(ws1 AS DOUBLE) * CAST(ws1 AS DOUBLE) / n1) / (CAST(h1 AS DOUBLE) * (h1 - 1)) / 1e12 AS d1,
                 (CAST(wq2 AS DOUBLE) - CAST(ws2 AS DOUBLE) * CAST(ws2 AS DOUBLE) / n2) / (CAST(h2 AS DOUBLE) * (h2 - 1)) / 1e12 AS d2
               FROM piv)
         SELECT n1, n2, h1, h2, round(tm1, 6) AS tm1, round(tm2, 6) AS tm2,
           round(CASE WHEN h1 >= 2 AND h2 >= 2 AND d1 + d2 > 0 THEN (tm1 - tm2) / sqrt(d1 + d2) END, 4) + 0.0 AS t,
           round(CASE WHEN h1 >= 2 AND h2 >= 2 AND d1 + d2 > 0 THEN (d1 + d2) * (d1 + d2) / (d1 * d1 / (h1 - 1) + d2 * d2 / (h2 - 1)) END, 2) + 0.0 AS df
         FROM t""",
    "q365_alexander_govern" ->
      """WITH q AS (SELECT event_type AS cls, CAST(round(value * 100) AS BIGINT) AS vq FROM events),
         per0 AS (SELECT cls, count(*) AS nc, sum(CAST(vq AS HUGEINT)) AS sc, sum(CAST(vq AS HUGEINT) * vq) AS qc FROM q GROUP BY 1),
         per1 AS (SELECT nc, CAST(sc AS DOUBLE) / nc AS m,
                   (CAST(qc AS DOUBLE) - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE) / nc) / (nc - 1) AS v
                 FROM per0 WHERE nc >= 2),
         per2 AS (SELECT nc, m, v / nc AS se2 FROM per1 WHERE v > 0),
         per AS (SELECT nc, m, se2, CAST(round((1.0 / se2) * 1e12) AS BIGINT) AS w12 FROM per2),
         tot AS (SELECT count(*) AS k, CAST(sum(w12) AS BIGINT) AS sw12,
                        CAST(sum(CAST(round((w12 / 1e12) * m * 1e6) AS BIGINT)) AS BIGINT) AS swm6
                 FROM per),
         zs AS (SELECT k, c + (c*c*c + c*3) / b - (c*c*c*c*c*c*c*4 + c*c*c*c*c*33 + c*c*c*240 + c*855) / (b*b*10 + b*(c*c*c*c)*8 + b*1000) AS z
                FROM (SELECT k,
                        (CAST(nc - 1 AS DOUBLE) - 0.5) * (CAST(nc - 1 AS DOUBLE) - 0.5) * 48 AS b,
                        sign((m - (swm6 / 1e6) / (sw12 / 1e12)) / sqrt(se2))
                          * sqrt((CAST(nc - 1 AS DOUBLE) - 0.5)
                              * ln(1.0 + ((m - (swm6 / 1e6) / (sw12 / 1e12)) / sqrt(se2)) * ((m - (swm6 / 1e6) / (sw12 / 1e12)) / sqrt(se2)) / CAST(nc - 1 AS DOUBLE))) AS c
                      FROM per, tot)),
         zp AS (SELECT k, CAST(round((round(z * 1e9) / 1e9) * (round(z * 1e9) / 1e9) * 1e9) AS BIGINT) AS zsq9 FROM zs)
         SELECT k, CAST(k - 1 AS BIGINT) AS df,
                round(CASE WHEN k >= 2 THEN CAST(sum(zsq9) AS DOUBLE) / 1e9 END, 6) AS a_stat
         FROM zp GROUP BY k""",
    "q366_quade" ->
      """WITH cell AS (SELECT CAST(ts AS DATE) AS b, event_type AS t,
                 CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS x
               FROM events GROUP BY 1, 2),
         kk AS (SELECT count(DISTINCT t) AS k FROM cell),
         complete AS (SELECT b, t, x FROM
                        (SELECT b, t, x, count(*) OVER (PARTITION BY b) AS bc FROM cell), kk
                      WHERE bc = kk.k),
         ranked AS (SELECT b, t, x,
                 2 * (count(*) OVER (PARTITION BY b ORDER BY x RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
                   + (count(*) OVER (PARTITION BY b ORDER BY x RANGE BETWEEN CURRENT ROW AND CURRENT ROW)) + 1 AS r2
               FROM complete),
         spread AS (SELECT b, max(x) - min(x) AS d FROM ranked GROUP BY 1),
         q2 AS (SELECT b,
                 2 * (count(*) OVER (ORDER BY d RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
                   + (count(*) OVER (ORDER BY d RANGE BETWEEN CURRENT ROW AND CURRENT ROW)) + 1 AS q2
               FROM spread),
         s4 AS (SELECT r.t, kk.k, q2.q2 * (r.r2 - kk.k - 1) AS s4
                FROM ranked r JOIN q2 USING (b), kk),
         pert AS (SELECT t, k, sum(CAST(s4 AS HUGEINT)) AS sj4,
                         sum(CAST(s4 AS HUGEINT) * s4) AS aj4, count(*) AS nb
                  FROM s4 GROUP BY 1, 2),
         agg AS (SELECT k, max(nb) AS n, sum(aj4) AS a4,
                        sum(CAST(sj4 AS HUGEINT) * sj4) AS b4
                 FROM pert GROUP BY k)
         SELECT CAST(n AS BIGINT) AS n_blocks, CAST(k AS BIGINT) AS k,
           round(CASE WHEN CAST(n AS DOUBLE) * CAST(a4 AS DOUBLE) - CAST(b4 AS DOUBLE) > 0
             THEN (CAST(n AS DOUBLE) - 1) * CAST(b4 AS DOUBLE)
                / (CAST(n AS DOUBLE) * CAST(a4 AS DOUBLE) - CAST(b4 AS DOUBLE)) END, 6) + 0.0 AS f_stat,
           CAST(k - 1 AS BIGINT) AS df1, CAST((n - 1) * (k - 1) AS BIGINT) AS df2
         FROM agg""",
    "q367_ansari_bradley" ->
      """WITH q AS (SELECT CAST(round(value * 1000000) AS BIGINT) AS v,
                CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 = 0 THEN 1 ELSE 0 END AS s1
              FROM events),
         byv AS (SELECT v, CAST(sum(s1) AS BIGINT) AS c1, count(*) AS ct FROM q GROUP BY 1),
         pos AS (SELECT v, c1, ct,
                 CAST(coalesce(sum(ct) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) + 1 AS l,
                 CAST(coalesce(sum(ct) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) + ct AS r,
                 CAST(sum(ct) OVER () AS BIGINT) AS nn
               FROM byv),
         sc AS (SELECT c1, ct,
                 CAST(round(CAST(
                   (CASE WHEN least(r, (nn + 1) // 2) >= l
                      THEN (l + least(r, (nn + 1) // 2)) * (least(r, (nn + 1) // 2) - l + 1) ELSE 0 END
                  + CASE WHEN r >= greatest(l, (nn + 1) // 2 + 1)
                      THEN ((nn + 1) * 2 - greatest(l, (nn + 1) // 2 + 1) - r) * (r - greatest(l, (nn + 1) // 2 + 1) + 1) ELSE 0 END)
                 AS DOUBLE) * 1e6 / ct) AS BIGINT) AS a6
               FROM pos),
         agg AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
                        CAST(sum(ct) - sum(c1) AS BIGINT) AS n2,
                        CAST(sum(ct) AS BIGINT) AS n,
                        sum(CAST(c1 AS HUGEINT) * a6) AS sa1,
                        sum(CAST(ct AS HUGEINT) * a6) AS sa,
                        sum(CAST(ct AS HUGEINT) * a6 * a6) AS saa
                 FROM sc),
         x AS (SELECT n1, n2, n,
                 CAST(n1 AS DOUBLE) AS n1d, CAST(n2 AS DOUBLE) AS n2d, CAST(n AS DOUBLE) AS nd,
                 CAST(sa1 AS DOUBLE) / 2e6 AS astat,
                 CAST(sa AS DOUBLE) / 2e6 AS sbar2,
                 CAST(saa AS DOUBLE) / 4e12 AS saad
               FROM agg)
         SELECT n1, n2,
           round(astat, 1) AS ab_stat,
           round(CASE WHEN n1 >= 1 AND n2 >= 1
                       AND n1d * n2d / (nd * (nd - 1)) * (saad - sbar2 * sbar2 / nd) > 0
             THEN (astat - n1d * sbar2 / nd)
                / sqrt(n1d * n2d / (nd * (nd - 1)) * (saad - sbar2 * sbar2 / nd)) END, 4) + 0.0 AS z
         FROM x""",
    "q368_krippendorff" ->
      """WITH uc AS (SELECT user_id AS u, event_type AS c, count(*) AS nuc FROM events GROUP BY 1, 2),
         peru AS (SELECT u, CAST(sum(nuc) AS BIGINT) AS nu,
                         sum(CAST(nuc AS HUGEINT) * nuc) AS squc
                  FROM uc GROUP BY 1 HAVING sum(nuc) >= 2),
         marg AS (SELECT CAST(sum(nc) AS BIGINT) AS nn, sum(CAST(nc AS HUGEINT) * nc) AS sqc
                  FROM (SELECT c, CAST(sum(nuc) AS BIGINT) AS nc
                        FROM uc JOIN peru USING (u) GROUP BY 1)),
         dosum AS (SELECT count(*) AS n_units,
                          CAST(sum(CAST(round(CAST(CAST(nu AS HUGEINT) * nu - squc AS DOUBLE) * 1e9 / (nu - 1)) AS BIGINT)) AS BIGINT) AS do9
                   FROM peru)
         SELECT CAST(n_units AS BIGINT) AS n_units, nn AS n_ratings,
           round(CASE WHEN (CAST(nn AS DOUBLE) * nn - CAST(sqc AS DOUBLE)) / (nn - 1) > 0
             THEN 1.0 - (CAST(do9 AS DOUBLE) / 1e9) * (CAST(nn AS DOUBLE) - 1)
                      / (CAST(nn AS DOUBLE) * nn - CAST(sqc AS DOUBLE)) END, 6) + 0.0 AS alpha
         FROM dosum, marg""",
    "q369_kendall_w" ->
      """WITH cell AS (SELECT CAST(ts AS DATE) AS b, event_type AS t,
                 CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS x
               FROM events GROUP BY 1, 2),
         kk AS (SELECT count(DISTINCT t) AS k FROM cell),
         complete AS (SELECT b, t, x FROM
                        (SELECT b, t, x, count(*) OVER (PARTITION BY b) AS bc FROM cell), kk
                      WHERE bc = kk.k),
         ranked AS (SELECT b, t, x,
                 2 * (count(*) OVER (PARTITION BY b ORDER BY x RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
                   + (count(*) OVER (PARTITION BY b ORDER BY x RANGE BETWEEN CURRENT ROW AND CURRENT ROW)) + 1 AS r2,
                 (count(*) OVER (PARTITION BY b ORDER BY x RANGE BETWEEN CURRENT ROW AND CURRENT ROW)) AS teq
               FROM complete),
         ties AS (SELECT sum(CAST(teq AS HUGEINT) * teq - 1) AS tsum,
                         count(DISTINCT b) AS n FROM ranked),
         pert AS (SELECT t, CAST(sum(r2) AS BIGINT) AS r2j FROM ranked GROUP BY 1),
         disp AS (SELECT n, kk.k AS k, tsum,
                    sum((CAST(r2j AS HUGEINT) - CAST(n AS HUGEINT) * (kk.k + 1))
                      * (CAST(r2j AS HUGEINT) - CAST(n AS HUGEINT) * (kk.k + 1))) AS s4
                  FROM pert, ties, kk GROUP BY 1, 2, 3)
         SELECT CAST(n AS BIGINT) AS n_blocks, CAST(k AS BIGINT) AS k,
           round(CASE WHEN CAST(n AS DOUBLE) * n * k * (CAST(k AS DOUBLE) * k - 1) - CAST(n AS DOUBLE) * CAST(tsum AS DOUBLE) > 0
             THEN CAST(s4 AS DOUBLE) * 3
                / (CAST(n AS DOUBLE) * n * k * (CAST(k AS DOUBLE) * k - 1) - CAST(n AS DOUBLE) * CAST(tsum AS DOUBLE)) END, 6) AS w,
           round(CAST(n AS DOUBLE) * (k - 1) * (CASE WHEN CAST(n AS DOUBLE) * n * k * (CAST(k AS DOUBLE) * k - 1) - CAST(n AS DOUBLE) * CAST(tsum AS DOUBLE) > 0
             THEN CAST(s4 AS DOUBLE) * 3
                / (CAST(n AS DOUBLE) * n * k * (CAST(k AS DOUBLE) * k - 1) - CAST(n AS DOUBLE) * CAST(tsum AS DOUBLE)) END), 4) AS chi2,
           CAST(k - 1 AS BIGINT) AS df
         FROM disp""",
    "q370_bland_altman" ->
      """WITH a AS (SELECT user_id AS u,
                 CAST(sum(CAST(round(value * 1e6) AS BIGINT)) AS DOUBLE) / count(*) / 1e6 AS m
               FROM events WHERE ts < TIMESTAMP '2024-01-16' GROUP BY 1),
         b AS (SELECT user_id AS u,
                 CAST(sum(CAST(round(value * 1e6) AS BIGINT)) AS DOUBLE) / count(*) / 1e6 AS m
               FROM events WHERE ts >= TIMESTAMP '2024-01-16' GROUP BY 1),
         d AS (SELECT CAST(round(a.m * 1e6) AS BIGINT) - CAST(round(b.m * 1e6) AS BIGINT) AS dq
               FROM a JOIN b USING (u)),
         m AS (SELECT count(*) AS n, sum(CAST(dq AS HUGEINT)) AS sd1,
                      sum(CAST(dq AS HUGEINT) * dq) AS sdd FROM d),
         t AS (SELECT CAST(n AS BIGINT) AS n,
                 CAST(sd1 AS DOUBLE) / n / 1e6 AS mean,
                 sqrt((CAST(sdd AS DOUBLE) - CAST(sd1 AS DOUBLE) * CAST(sd1 AS DOUBLE) / n) / (n - 1)) / 1e6 AS sd
               FROM m),
         within AS (SELECT round(CAST(sum(CASE WHEN CAST(dq AS DOUBLE) / 1e6 >= t.mean - t.sd * 1.96
                                   AND CAST(dq AS DOUBLE) / 1e6 <= t.mean + t.sd * 1.96 THEN 1 ELSE 0 END) AS DOUBLE)
                      / count(*), 6) AS pct_within
                    FROM d, t)
         SELECT t.n, round(t.mean, 6) + 0.0 AS mean_diff,
                round(CASE WHEN t.n >= 2 THEN t.sd END, 6) AS sd_diff,
                round(CASE WHEN t.n >= 2 THEN t.mean - t.sd * 1.96 END, 6) + 0.0 AS loa_lower,
                round(CASE WHEN t.n >= 2 THEN t.mean + t.sd * 1.96 END, 6) + 0.0 AS loa_upper,
                within.pct_within
         FROM t, within""",
    "q384_label_noise" ->
      """WITH t AS (
           SELECT doc_id, lang AS declared,
                  string_split_regex(lower(trim(text)), '\s+') AS toks
           FROM documents),
         s AS (
           SELECT doc_id, declared,
             len(list_filter(toks, x -> list_contains(['the','a','of','and','is','to'], x))) AS s_en,
             len(list_filter(toks, x -> list_contains(['le','la','les','et','est','une'], x))) AS s_fr,
             len(list_filter(toks, x -> list_contains(['el','los','las','es','una','y'], x))) AS s_es,
             len(list_filter(toks, x -> list_contains(['der','die','das','und','ist','ein'], x))) AS s_de,
             len(list_filter(toks, x -> list_contains(['的','是','了','在','和','有'], x))) AS s_zh
           FROM t),
         p AS (SELECT declared,
           CASE
             WHEN s_en = greatest(s_en, s_fr, s_es, s_de, s_zh) AND s_en > 0 THEN 'en'
             WHEN s_fr = greatest(s_en, s_fr, s_es, s_de, s_zh) AND s_fr > 0 THEN 'fr'
             WHEN s_es = greatest(s_en, s_fr, s_es, s_de, s_zh) AND s_es > 0 THEN 'es'
             WHEN s_de = greatest(s_en, s_fr, s_es, s_de, s_zh) AND s_de > 0 THEN 'de'
             WHEN s_zh = greatest(s_en, s_fr, s_es, s_de, s_zh) AND s_zh > 0 THEN 'zh'
             ELSE 'und'
           END AS predicted
           FROM s),
         cells AS (SELECT declared, predicted, count(*) AS n FROM p GROUP BY 1, 2),
         totals AS (SELECT declared, CAST(sum(n) AS BIGINT) AS tot FROM cells GROUP BY 1)
         SELECT cells.declared, cells.predicted, CAST(cells.n AS BIGINT) AS n,
                round(CAST(cells.n AS DOUBLE) / tot, 6) AS share
         FROM cells JOIN totals USING (declared)
         ORDER BY declared, predicted""",
    "q382_hoeffding_d" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
                 CAST(sum(CAST(round(value * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 AS rev,
                 CAST(count(*) AS DOUBLE) AS cnt
               FROM events GROUP BY 1),
         base AS (SELECT CAST(round(rev * 1000000) AS BIGINT) AS x,
                         CAST(round(cnt * 1000000) AS BIGINT) AS y FROM daily),
         ranked AS (SELECT x, y, row_number() OVER (ORDER BY x, y) AS rid,
                 CAST(count(*) OVER (ORDER BY x RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS DOUBLE)
                   + (CAST(count(*) OVER (ORDER BY x RANGE BETWEEN CURRENT ROW AND CURRENT ROW) AS DOUBLE) + 1) / 2 AS r,
                 CAST(count(*) OVER (ORDER BY y RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS DOUBLE)
                   + (CAST(count(*) OVER (ORDER BY y RANGE BETWEEN CURRENT ROW AND CURRENT ROW) AS DOUBLE) + 1) / 2 AS s
               FROM base),
         qcnt AS (SELECT a.rid, a.r, a.s,
                   CAST(sum(CASE WHEN b.x IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS q
                  FROM ranked a LEFT JOIN base b ON b.x < a.x AND b.y < a.y
                  GROUP BY 1, 2, 3),
         terms AS (SELECT count(*) AS n,
                 sum(CAST(q AS HUGEINT) * (q - 1)) AS d1,
                 sum(CAST(CAST(r * 2 - 2 AS BIGINT) AS HUGEINT) * CAST(r * 2 - 4 AS BIGINT)
                   * CAST(s * 2 - 2 AS BIGINT) * CAST(s * 2 - 4 AS BIGINT)) AS d2x16,
                 sum(CAST(CAST(r * 2 - 4 AS BIGINT) AS HUGEINT) * CAST(s * 2 - 4 AS BIGINT) * q) AS d3x4
               FROM qcnt)
         SELECT CAST(n AS BIGINT) AS n,
           round(CASE WHEN n >= 5 THEN
             ((CAST(n AS DOUBLE) - 2) * (CAST(n AS DOUBLE) - 3) * CAST(d1 AS DOUBLE)
              + CAST(d2x16 AS DOUBLE) / 16
              - (CAST(n AS DOUBLE) - 2) * (CAST(d3x4 AS DOUBLE) / 4) * 2) * 30
             / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1) * (CAST(n AS DOUBLE) - 2)
              * (CAST(n AS DOUBLE) - 3) * (CAST(n AS DOUBLE) - 4)) END, 6) + 0.0 AS d_stat
         FROM terms""",
    "q383_distance_corr" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
                 CAST(sum(CAST(round(value * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 AS rev,
                 CAST(count(*) AS DOUBLE) AS cnt
               FROM events GROUP BY 1),
         ids AS (SELECT CAST(round(rev * 1000000) AS BIGINT) AS x,
                        CAST(round(cnt * 1000000) AS BIGINT) AS y,
                        row_number() OVER (ORDER BY CAST(round(rev * 1000000) AS BIGINT), CAST(round(cnt * 1000000) AS BIGINT)) AS i
                 FROM daily),
         pairs AS (SELECT a.i AS i, b.i AS j,
                          abs(a.x - b.x) AS dxq, abs(a.y - b.y) AS dyq
                   FROM ids a CROSS JOIN ids b),
         rm AS (SELECT i, CAST(sum(CAST(dxq AS HUGEINT)) AS DOUBLE) / count(*) AS mxi,
                       CAST(sum(CAST(dyq AS HUGEINT)) AS DOUBLE) / count(*) AS myi
                FROM pairs GROUP BY 1),
         cm AS (SELECT j, CAST(sum(CAST(dxq AS HUGEINT)) AS DOUBLE) / count(*) AS mxj,
                       CAST(sum(CAST(dyq AS HUGEINT)) AS DOUBLE) / count(*) AS myj
                FROM pairs GROUP BY 1),
         gm AS (SELECT CAST(sum(CAST(dxq AS HUGEINT)) AS DOUBLE) / count(*) AS mx,
                       CAST(sum(CAST(dyq AS HUGEINT)) AS DOUBLE) / count(*) AS my,
                       count(*) AS nsq
                FROM pairs),
         centered AS (SELECT nsq,
                 CAST(dxq AS DOUBLE) - mxi - mxj + mx AS ac,
                 CAST(dyq AS DOUBLE) - myi - myj + my AS bc
               FROM pairs JOIN rm USING (i) JOIN cm USING (j), gm),
         agg AS (SELECT max(nsq) AS nsq,
                 sum(CAST(CAST(round(ac * bc / 1e6) AS BIGINT) AS HUGEINT)) AS sab6,
                 sum(CAST(CAST(round(ac * ac / 1e6) AS BIGINT) AS HUGEINT)) AS saa6,
                 sum(CAST(CAST(round(bc * bc / 1e6) AS BIGINT) AS HUGEINT)) AS sbb6
               FROM centered),
         t AS (SELECT CAST(nsq AS DOUBLE) AS nsq,
                 CAST(sab6 AS DOUBLE) / CAST(nsq AS DOUBLE) AS dcov2,
                 CAST(saa6 AS DOUBLE) / CAST(nsq AS DOUBLE) AS dvx,
                 CAST(sbb6 AS DOUBLE) / CAST(nsq AS DOUBLE) AS dvy
               FROM agg)
         SELECT CAST(sqrt(nsq) AS BIGINT) AS n,
           round(sign(dcov2) * sqrt(abs(dcov2)) / 1e3, 6) + 0.0 AS dcov,
           round(sqrt(dvx) / 1e3, 6) AS dvar_x,
           round(sqrt(dvy) / 1e3, 6) AS dvar_y,
           round(CASE WHEN dvx > 0 AND dvy > 0
             THEN sign(dcov2) * sqrt(abs(dcov2)) / sqrt(sqrt(dvx * dvy)) END, 6) + 0.0 AS dcor
         FROM t""",
    "q380_exp_gaps" ->
      """WITH g0 AS (SELECT epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) AS g
               FROM events),
         gaps AS (SELECT g FROM g0 WHERE g IS NOT NULL),
         byv AS (SELECT g, count(*) AS ct FROM gaps GROUP BY 1),
         tot AS (SELECT CAST(sum(ct) AS BIGINT) AS n, sum(CAST(g AS HUGEINT) * ct) AS s FROM byv),
         cumt AS (SELECT g, ct,
                 CAST(sum(ct) OVER (ORDER BY g ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
               FROM byv),
         t AS (SELECT n, s,
                 round(CASE WHEN n >= 2 AND s > 0 THEN greatest(
                   abs(CAST(cum AS DOUBLE) / n - (1.0 - exp(-CAST(g AS DOUBLE) / (CAST(s AS DOUBLE) / n)))),
                   abs((1.0 - exp(-CAST(g AS DOUBLE) / (CAST(s AS DOUBLE) / n))) - CAST(cum - ct AS DOUBLE) / n)) END, 9) AS gap
               FROM cumt, tot),
         m AS (SELECT n, s, max(gap) AS d0 FROM t GROUP BY 1, 2)
         SELECT n AS n_gaps,
           round(CAST(s AS DOUBLE) / n / 1e6, 4) AS mean_gap_sec,
           round(CASE WHEN n >= 2 AND s > 0 THEN d0 END, 6) AS d_stat,
           round(CASE WHEN n >= 2 AND s > 0 THEN d0 * sqrt(CAST(n AS DOUBLE)) END, 4) AS sqrt_n_d
         FROM m""",
    "q381_twonn" ->
      """WITH p AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
         -- PINNED cosine (mirrors graft_cosine_pinned): per-term products
         -- on the 1e-9 integer grid, exact sums, one closing double — the
         -- neighbor order cannot diverge between engines by construction
         pc AS (SELECT a.id, b.id AS nb,
                  CAST(list_sum(list_transform(range(1, len(a.v) + 1),
                    i -> CAST(round(a.v[i] * b.v[i] * 1e9) AS BIGINT))) AS DOUBLE)
                  / sqrt(CAST(list_sum(list_transform(range(1, len(a.v) + 1),
                      i -> CAST(round(a.v[i] * a.v[i] * 1e9) AS BIGINT))) AS DOUBLE)
                    * CAST(list_sum(list_transform(range(1, len(b.v) + 1),
                      i -> CAST(round(b.v[i] * b.v[i] * 1e9) AS BIGINT))) AS DOUBLE)) AS cos
                FROM p a JOIN p b ON a.id <> b.id),
         pr AS (SELECT id, nb,
                       CAST(round((1.0 - cos) * 1e9) AS BIGINT) AS d
                FROM pc),
         top2 AS (SELECT id,
                    min(CASE WHEN rn = 1 THEN d END) AS r1,
                    min(CASE WHEN rn = 2 THEN d END) AS r2
                  FROM (SELECT id, d, row_number() OVER (PARTITION BY id ORDER BY d, nb) AS rn FROM pr)
                  WHERE rn <= 2 GROUP BY 1),
         mu AS (SELECT CASE WHEN r1 > 0 AND r2 IS NOT NULL
                  THEN CAST(round(ln(CAST(r2 AS DOUBLE) / r1) * 1e9) AS BIGINT) END AS l9
                FROM top2),
         agg AS (SELECT CAST(sum(CASE WHEN l9 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_used,
                        CAST(sum(CASE WHEN l9 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
                        sum(CAST(coalesce(l9, 0) AS HUGEINT)) AS sl9
                 FROM mu)
         SELECT n_used, n_dropped,
           round(CASE WHEN n_used >= 1 AND sl9 > 0
             THEN CAST(n_used AS DOUBLE) / (CAST(sl9 AS DOUBLE) / 1e9) END, 4) AS id_mle
         FROM agg""",
    "q376_seasonal_mk" ->
      """WITH daily AS (SELECT date_trunc('day', ts) AS day,
                 CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS yq
               FROM events GROUP BY 1),
         d2 AS (SELECT day, yq, dayofweek(day) AS wd FROM daily),
         s AS (SELECT CAST(sum(CASE WHEN b.yq > a.yq THEN 1 WHEN b.yq < a.yq THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
               FROM d2 a JOIN d2 b ON a.wd = b.wd AND a.day < b.day),
         strat AS (SELECT CAST(sum(ns) AS BIGINT) AS n_days,
                          CAST(sum(ns * (ns - 1) * (ns * 2 + 5)) AS BIGINT) AS vraw
                   FROM (SELECT wd, count(*) AS ns FROM d2 GROUP BY 1)),
         ties AS (SELECT CAST(coalesce(sum(t * (t - 1) * (t * 2 + 5)), 0) AS BIGINT) AS tsum
                  FROM (SELECT wd, yq, count(*) AS t FROM d2 GROUP BY 1, 2) WHERE t >= 2)
         SELECT n_days, s_stat,
           round(CAST(vraw - tsum AS DOUBLE) / 18.0, 4) AS var_s,
           round(CASE WHEN CAST(vraw - tsum AS DOUBLE) / 18.0 > 0
             THEN CAST(s_stat AS DOUBLE) - sign(s_stat) END
             / sqrt(CAST(vraw - tsum AS DOUBLE) / 18.0), 4) + 0.0 AS z
         FROM s, strat, ties""",
    "q377_bartels_rvn" ->
      """WITH daily AS (SELECT date_trunc('day', ts) AS day,
                 CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS yq
               FROM events GROUP BY 1),
         ranked AS (SELECT day,
                 2 * (count(*) OVER (ORDER BY yq RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
                   + (count(*) OVER (ORDER BY yq RANGE BETWEEN CURRENT ROW AND CURRENT ROW)) + 1 AS r2
               FROM daily),
         lagged AS (SELECT r2, lead(r2) OVER (ORDER BY day) AS r2next FROM ranked),
         agg AS (SELECT count(*) AS n, sum(CAST(r2 AS HUGEINT)) AS sr,
                        sum(CAST(r2 AS HUGEINT) * r2) AS srr,
                        sum(CASE WHEN r2next IS NOT NULL
                          THEN CAST(r2 - r2next AS HUGEINT) * (r2 - r2next) ELSE 0 END) AS sd4
                 FROM lagged),
         t AS (SELECT CAST(n AS BIGINT) AS n, CAST(n AS DOUBLE) AS nd,
                 CAST(srr AS DOUBLE) - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE) / CAST(n AS DOUBLE) AS ssd,
                 CAST(sd4 AS DOUBLE) AS sd4d
               FROM agg),
         g AS (SELECT n, nd, ssd, sd4d / ssd AS rvn,
                 (nd - 2) * 4 * (nd * nd * 5 - nd * 2 - 9)
                   / ((nd * (nd + 1) * ((nd - 1) * (nd - 1))) * 5) AS varr
               FROM t)
         SELECT n AS n_days,
           round(CASE WHEN ssd > 0 THEN rvn END, 6) AS rvn,
           round(CASE WHEN ssd > 0 AND varr > 0 THEN (rvn - 2) / sqrt(varr) END, 4) + 0.0 AS z
         FROM g""",
    "q378_cox_stuart" ->
      """WITH daily AS (SELECT date_trunc('day', ts) AS day,
                 CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS yq
               FROM events GROUP BY 1),
         idx AS (SELECT yq, row_number() OVER (ORDER BY day) AS i,
                        CAST(count(*) OVER () AS BIGINT) AS n
                 FROM daily),
         pairs AS (SELECT x.n AS n, y.yq - x.yq AS d
                   FROM idx x JOIN idx y ON y.i = x.i + (x.n + 1) // 2)
         SELECT CAST(max(n) AS BIGINT) AS n_days,
           CAST(sum(CASE WHEN d <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs,
           CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_rises,
           round(CASE WHEN sum(CASE WHEN d <> 0 THEN 1 ELSE 0 END) > 0
             THEN CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) * 2 - sum(CASE WHEN d <> 0 THEN 1 ELSE 0 END) AS DOUBLE)
                / sqrt(CAST(sum(CASE WHEN d <> 0 THEN 1 ELSE 0 END) AS DOUBLE)) END, 4) + 0.0 AS z
         FROM pairs""",
    "q379_token_burstiness" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok FROM documents),
         perdoc AS (SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY 1, 2),
         nd AS (SELECT count(DISTINCT doc_id) AS d FROM documents),
         pertok AS (SELECT tok, CAST(sum(tf) AS BIGINT) AS cf, count(*) AS df,
                           sum(CAST(tf AS HUGEINT) * tf) AS tf2
                    FROM perdoc GROUP BY 1)
         SELECT tok AS token, cf, CAST(df AS BIGINT) AS df,
           round(CASE WHEN cf > 0 THEN
             (CAST(tf2 AS DOUBLE) / nd.d - (CAST(cf AS DOUBLE) / nd.d) * (CAST(cf AS DOUBLE) / nd.d))
               / (CAST(cf AS DOUBLE) / nd.d) END, 6) AS vmr,
           round(CAST(cf AS DOUBLE) / df, 6) AS eb
         FROM pertok, nd ORDER BY cf DESC, token LIMIT 20""",
    "q375_lexical_conc" ->
      """WITH tok AS (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok FROM documents),
         c AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY 1),
         agg AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_tokens, count(*) AS vocab,
                        sum(CAST(cnt AS HUGEINT) * cnt) AS m2,
                        sum(CAST(cnt AS HUGEINT) * (CAST(cnt AS HUGEINT) - 1)) AS coinc
                 FROM c)
         SELECT n_tokens, CAST(vocab AS BIGINT) AS vocab,
           round((CAST(m2 AS DOUBLE) - CAST(n_tokens AS DOUBLE)) / (CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE)) * 1e4, 4) AS yule_k,
           round(CASE WHEN n_tokens >= 2 THEN CAST(coinc AS DOUBLE) / (CAST(n_tokens AS DOUBLE) * (CAST(n_tokens AS DOUBLE) - 1)) END, 9) AS simpson_d,
           round(CASE WHEN n_tokens >= 2 AND vocab >= 1 THEN ln(CAST(vocab AS DOUBLE)) / ln(CAST(n_tokens AS DOUBLE)) END, 6) AS herdan_c
         FROM agg""",
    "q388_turning_points" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
                 CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS yq
               FROM events GROUP BY 1),
         lagd AS (SELECT yq, lag(yq) OVER (ORDER BY day) AS p,
                         lead(yq) OVER (ORDER BY day) AS f
                  FROM daily),
         t AS (SELECT count(*) AS n,
                 CAST(sum(CASE WHEN p IS NOT NULL AND f IS NOT NULL
                   AND ((yq > p AND yq > f) OR (yq < p AND yq < f))
                   THEN 1 ELSE 0 END) AS BIGINT) AS t_points
               FROM lagd)
         SELECT CAST(n AS BIGINT) AS n_days, t_points,
           round((CAST(n AS DOUBLE) - 2) * 2 / 3, 4) AS expected,
           round(CASE WHEN n >= 3 AND (CAST(n AS DOUBLE) * 16 - 29) / 90 > 0
             THEN (t_points - (CAST(n AS DOUBLE) - 2) * 2 / 3)
                / sqrt((CAST(n AS DOUBLE) * 16 - 29) / 90) END, 4) + 0.0 AS z
         FROM t""",
    "q389_diff_sign" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
                 CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS yq
               FROM events GROUP BY 1),
         lagd AS (SELECT yq, lag(yq) OVER (ORDER BY day) AS p FROM daily),
         t AS (SELECT count(*) AS n,
                 CAST(sum(CASE WHEN p IS NOT NULL AND yq > p THEN 1 ELSE 0 END) AS BIGINT) AS n_rises
               FROM lagd)
         SELECT CAST(n AS BIGINT) AS n_days, n_rises,
           round((CAST(n AS DOUBLE) - 1) / 2, 4) AS expected,
           round(CASE WHEN n >= 2 AND (CAST(n AS DOUBLE) + 1) / 12 > 0
             THEN (n_rises - (CAST(n AS DOUBLE) - 1) / 2)
                / sqrt((CAST(n AS DOUBLE) + 1) / 12) END, 4) + 0.0 AS z
         FROM t""",
    "q391_nb_langid" ->
      """WITH base AS (SELECT doc_id AS id, lang AS label,
                string_split_regex(lower(trim(text)), '\s+') AS ts FROM documents),
         train AS (SELECT * FROM base WHERE id % 5 < 4),
         test AS (SELECT * FROM base WHERE id % 5 >= 4),
         tokcnt AS (SELECT label, t, count(*) AS c FROM (
                      SELECT label, unnest(ts) AS t FROM train) GROUP BY 1, 2),
         classtot AS (SELECT label, CAST(sum(c) AS BIGINT) AS tot FROM tokcnt GROUP BY 1),
         vocab AS (SELECT count(DISTINCT t) AS v FROM tokcnt),
         priors AS (SELECT label, count(*) AS nd FROM train GROUP BY 1),
         ntrain AS (SELECT count(*) AS n FROM train),
         classes AS (SELECT ct.label AS cls,
                       CAST(round(ln(CAST(pr.nd AS DOUBLE) / nt.n) * 1e6) AS BIGINT) AS prior6,
                       CAST(round(ln(1.0 / (ct.tot + vo.v)) * 1e6) AS BIGINT) AS dflt6,
                       ct.tot + vo.v AS denom
                     FROM classtot ct CROSS JOIN vocab vo
                     JOIN priors pr ON pr.label = ct.label CROSS JOIN ntrain nt),
         weights AS (SELECT tc.label AS cls, tc.t,
                       CAST(round(ln(CAST(tc.c + 1 AS DOUBLE) / cl.denom) * 1e6) AS BIGINT) AS w6
                     FROM tokcnt tc JOIN classes cl ON cl.cls = tc.label),
         occ AS (SELECT id, label, unnest(ts) AS t FROM test),
         scored AS (SELECT o.id, o.label, c.cls,
                      CAST(any_value(c.prior6) + sum(coalesce(w.w6, c.dflt6)) AS BIGINT) AS score6
                    FROM occ o CROSS JOIN classes c
                    LEFT JOIN weights w ON w.cls = c.cls AND w.t = o.t
                    GROUP BY 1, 2, 3),
         best AS (SELECT label, CASE WHEN cls = label THEN 1 ELSE 0 END AS ok FROM (
                    SELECT id, label, cls,
                      row_number() OVER (PARTITION BY id ORDER BY score6 DESC, cls) AS rn
                    FROM scored) WHERE rn = 1)
         SELECT label, count(*) AS n_docs, CAST(sum(ok) AS BIGINT) AS n_correct,
           round(CAST(sum(ok) AS DOUBLE) / count(*), 4) AS accuracy
         FROM best GROUP BY 1 ORDER BY label""",
    "q392_dsir" ->
      """WITH occ AS (SELECT doc_id AS id, lang = 'en' AS is_t,
                ('0x' || substr(md5(t), 1, 8))::BIGINT % 512 AS b
              FROM (SELECT doc_id, lang, unnest(
                      string_split_regex(lower(trim(text)), '\s+')) AS t
                    FROM documents)),
         db AS (SELECT id, is_t, b, count(*) AS n FROM occ GROUP BY 1, 2, 3),
         tgt AS (SELECT b, CAST(sum(n) AS BIGINT) AS ct FROM db WHERE is_t GROUP BY 1),
         raw AS (SELECT b, CAST(sum(n) AS BIGINT) AS cr FROM db GROUP BY 1),
         tots AS (SELECT CAST(sum(CASE WHEN is_t THEN n ELSE 0 END) AS BIGINT) AS tt,
                         CAST(sum(n) AS BIGINT) AS tr FROM db),
         w AS (SELECT raw.b,
                 CAST(round(ln(CAST(coalesce(tgt.ct, 0) + 1 AS DOUBLE) / (tots.tt + 512)) * 1e6) AS BIGINT)
                 - CAST(round(ln(CAST(raw.cr + 1 AS DOUBLE) / (tots.tr + 512)) * 1e6) AS BIGINT) AS w6
               FROM raw LEFT JOIN tgt ON raw.b = tgt.b CROSS JOIN tots)
         SELECT db.id AS id, CAST(sum(db.n) AS BIGINT) AS n_tokens,
           round(CAST(sum(db.n * w.w6) AS DOUBLE) / 1e6, 4) AS log_w,
           round(CAST(sum(db.n * w.w6) AS DOUBLE) / 1e6 / CAST(sum(db.n) AS BIGINT), 6) AS log_w_per_tok
         FROM db JOIN w ON db.b = w.b
         GROUP BY 1 ORDER BY log_w DESC, id LIMIT 25""",
    // split leakage: the q59 inverted-index pair CTEs at tau=0.8, pairs
    // typed by the q391 hash split, 3-row grid-anchored rollups
    "q411_split_leakage" ->
      """WITH t AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
           FROM documents),
         sh AS (
           SELECT doc_id, unnest(list_distinct(
             list_transform(range(len(toks) - 2),
               i -> array_to_string(toks[i+1:i+3], ' ')))) AS tok
           FROM t),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         shared AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
           FROM sh a JOIN sh b ON a.tok = b.tok AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         pj AS (SELECT id_a, id_b FROM shared
                JOIN sizes sa ON sa.doc_id = id_a
                JOIN sizes sb ON sb.doc_id = id_b
                WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.8),
         typed AS (SELECT id_a, id_b,
             CASE WHEN id_a % 5 >= 4 AND id_b % 5 >= 4 THEN 'test_test'
                  WHEN id_a % 5 < 4 AND id_b % 5 < 4 THEN 'train_train'
                  ELSE 'train_test' END AS pair_type
           FROM pj),
         counts AS (SELECT pair_type, count(*) AS n_pairs FROM typed GROUP BY 1),
         hits AS (SELECT pair_type, count(*) AS n_test_docs_hit FROM (
             SELECT DISTINCT pair_type, id FROM (
               SELECT pair_type, unnest([id_a, id_b]) AS id FROM typed)
             WHERE id % 5 >= 4) GROUP BY 1),
         grid AS (SELECT unnest(['test_test', 'train_test', 'train_train']) AS pair_type)
         SELECT g.pair_type,
           CAST(coalesce(c.n_pairs, 0) AS BIGINT) AS n_pairs,
           CAST(coalesce(h.n_test_docs_hit, 0) AS BIGINT) AS n_test_docs_hit
         FROM grid g LEFT JOIN counts c USING (pair_type)
         LEFT JOIN hits h USING (pair_type)
         ORDER BY pair_type""",
    // per-source cap: md5-hash rank, keep rn <= 15 (exercised at every
    // sf: the smallest gated corpus holds 25 docs per source)
    "q412_cap_per_source" ->
      """WITH h AS (SELECT source, doc_id,
                ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS h32
              FROM documents),
         r AS (SELECT source, doc_id,
                 row_number() OVER (PARTITION BY source ORDER BY h32, doc_id) AS rn
               FROM h)
         SELECT source, doc_id FROM r WHERE rn <= 15
         ORDER BY source, doc_id""",
    // portable HLL p=12: 60-bit md5 hash, low 12 bits = register index,
    // rho = first-'1' rank of the high 48 bits, harmonic denominator as
    // the EXACT integer sum(2^(49-v)) + empties*2^49, published
    // alpha*m^2/Z with linear-counting small-range branch
    "q414_hll_portable" -> {
      val m = 4096; val maxRho = 49
      val aNum = 0.7213 / (1.0 + 1.079 / m) * m * m * math.pow(2.0, maxRho)
      s"""WITH r0 AS (
           SELECT event_type,
                  ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
           FROM events WHERE user_id IS NOT NULL),
         regs AS (
           SELECT event_type, h & ${m - 1} AS idx,
                  max(CASE WHEN strpos(lpad(bin(h >> 12), 48, '0'), '1') = 0
                           THEN $maxRho
                           ELSE strpos(lpad(bin(h >> 12), 48, '0'), '1') END) AS v
           FROM r0 GROUP BY 1, 2),
         fold AS (
           SELECT event_type, CAST(count(*) AS BIGINT) AS nset,
                  sum(1::BIGINT << CAST($maxRho - v AS INTEGER)) AS ip
           FROM regs GROUP BY 1),
         est AS (
           SELECT event_type, nset,
                  CAST($aNum AS DOUBLE)
                    / CAST(ip + ($m - nset) * ${1L << maxRho} AS DOUBLE) AS raw
           FROM fold)
         SELECT event_type, nset AS registers_set,
                round(CASE WHEN raw <= ${2.5 * m} AND nset < $m
                      THEN ${m.toDouble} * ln(${m.toDouble} / CAST($m - nset AS DOUBLE))
                      ELSE raw END, 1) AS approx_distinct
         FROM est ORDER BY event_type"""
    },
    // portable HLL rollup: per-day register frames max-merged per type
    // (the mergeable-union twin), same p=12 constants as q414
    "q195_hll_rollup" -> {
      val m = 4096; val maxRho = 49
      val aNum = 0.7213 / (1.0 + 1.079 / m) * m * m * math.pow(2.0, maxRho)
      s"""WITH r0 AS (
           SELECT event_type, date_trunc('day', ts) AS day,
                  ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
           FROM events WHERE user_id IS NOT NULL),
         daily AS (
           SELECT event_type, day, h & ${m - 1} AS idx,
                  max(CASE WHEN strpos(lpad(bin(h >> 12), 48, '0'), '1') = 0
                           THEN $maxRho
                           ELSE strpos(lpad(bin(h >> 12), 48, '0'), '1') END) AS v
           FROM r0 GROUP BY 1, 2, 3),
         merged AS (SELECT event_type, idx, max(v) AS v FROM daily GROUP BY 1, 2),
         ndays AS (SELECT event_type, count(DISTINCT day) AS n_days FROM r0 GROUP BY 1),
         fold AS (
           SELECT event_type, CAST(count(*) AS BIGINT) AS nset,
                  sum(1::BIGINT << CAST($maxRho - v AS INTEGER)) AS ip
           FROM merged GROUP BY 1),
         est AS (
           SELECT event_type, nset,
                  CAST($aNum AS DOUBLE)
                    / CAST(ip + ($m - nset) * ${1L << maxRho} AS DOUBLE) AS raw
           FROM fold)
         SELECT e.event_type, n.n_days,
                round(CASE WHEN raw <= ${2.5 * m} AND nset < $m
                      THEN ${m.toDouble} * ln(${m.toDouble} / CAST($m - nset AS DOUBLE))
                      ELSE raw END, 1) AS approx_distinct_users
         FROM est e JOIN ndays n USING (event_type) ORDER BY event_type"""
    },
    // portable HLL pairwise overlap: per-type estimates, register-union
    // estimates per pair, inclusion-exclusion intersection clamped at 0
    "q235_hll_overlap" -> {
      val m = 4096; val maxRho = 49
      val aNum = 0.7213 / (1.0 + 1.079 / m) * m * m * math.pow(2.0, maxRho)
      def estCase(nsetRef: String, rawRef: String) =
        s"""round(CASE WHEN $rawRef <= ${2.5 * m} AND $nsetRef < $m
                  THEN ${m.toDouble} * ln(${m.toDouble} / CAST($m - $nsetRef AS DOUBLE))
                  ELSE $rawRef END, 1)"""
      s"""WITH r0 AS (
           SELECT event_type,
                  ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
           FROM events WHERE user_id IS NOT NULL),
         regs AS (
           SELECT event_type, h & ${m - 1} AS idx,
                  max(CASE WHEN strpos(lpad(bin(h >> 12), 48, '0'), '1') = 0
                           THEN $maxRho
                           ELSE strpos(lpad(bin(h >> 12), 48, '0'), '1') END) AS v
           FROM r0 GROUP BY 1, 2),
         fold AS (
           SELECT event_type, CAST(count(*) AS BIGINT) AS nset,
                  sum(1::BIGINT << CAST($maxRho - v AS INTEGER)) AS ip
           FROM regs GROUP BY 1),
         perkey AS (
           SELECT event_type,
                  ${estCase("nset",
                    s"CAST($aNum AS DOUBLE) / CAST(ip + ($m - nset) * ${1L << maxRho} AS DOUBLE)")}
                    AS est
           FROM fold),
         pairs AS (
           SELECT a.event_type AS type_a, b.event_type AS type_b,
                  a.est AS est_a, b.est AS est_b
           FROM perkey a JOIN perkey b ON a.event_type < b.event_type),
         uregs AS (
           SELECT p.type_a, p.type_b, r.idx, max(r.v) AS v
           FROM regs r JOIN pairs p
             ON r.event_type = p.type_a OR r.event_type = p.type_b
           GROUP BY 1, 2, 3),
         ufold AS (
           SELECT type_a, type_b, CAST(count(*) AS BIGINT) AS nset,
                  sum(1::BIGINT << CAST($maxRho - v AS INTEGER)) AS ip
           FROM uregs GROUP BY 1, 2),
         uu AS (
           SELECT type_a, type_b,
                  ${estCase("nset",
                    s"CAST($aNum AS DOUBLE) / CAST(ip + ($m - nset) * ${1L << maxRho} AS DOUBLE)")}
                    AS est_union
           FROM ufold)
         SELECT p.type_a, p.type_b, p.est_a, p.est_b, u.est_union,
                greatest(round(p.est_a + p.est_b - u.est_union, 1), 0.0)
                  AS est_intersect
         FROM pairs p JOIN uu u USING (type_a, type_b)
         ORDER BY type_a, type_b"""
    },
    // portable sketch stats: md5-HLL distinct langs + fixed-width (64)
    // histogram-sketch p50/p90 of n_chars, linear interpolation in-bin
    "q51_sketch_stats" -> {
      val m = 4096; val maxRho = 49
      val aNum = 0.7213 / (1.0 + 1.079 / m) * m * m * math.pow(2.0, maxRho)
      s"""WITH r0 AS (
           SELECT source, ('0x' || substr(md5(lang), 1, 15))::BIGINT AS h
           FROM documents WHERE lang IS NOT NULL),
         regs AS (
           SELECT source, h & ${m - 1} AS idx,
                  max(CASE WHEN strpos(lpad(bin(h >> 12), 48, '0'), '1') = 0
                           THEN $maxRho
                           ELSE strpos(lpad(bin(h >> 12), 48, '0'), '1') END) AS v
           FROM r0 GROUP BY 1, 2),
         fold AS (
           SELECT source, CAST(count(*) AS BIGINT) AS nset,
                  sum(1::BIGINT << CAST($maxRho - v AS INTEGER)) AS ip
           FROM regs GROUP BY 1),
         hd AS (
           SELECT source,
                  round(CASE WHEN CAST($aNum AS DOUBLE)
                               / CAST(ip + ($m - nset) * ${1L << maxRho} AS DOUBLE)
                               <= ${2.5 * m} AND nset < $m
                        THEN ${m.toDouble} * ln(${m.toDouble} / CAST($m - nset AS DOUBLE))
                        ELSE CAST($aNum AS DOUBLE)
                               / CAST(ip + ($m - nset) * ${1L << maxRho} AS DOUBLE)
                        END, 1) AS approx_distinct
           FROM fold),
         bins AS (
           SELECT source, CAST(floor(n_chars / 64.0) AS BIGINT) AS b,
                  count(*) AS cnt
           FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2),
         tot AS (SELECT source, sum(cnt) AS n FROM bins GROUP BY 1),
         cum AS (
           SELECT source, b, cnt,
                  sum(cnt) OVER (PARTITION BY source ORDER BY b) AS cum
           FROM bins),
         qq AS (
           SELECT c.source, p.p, ceil(p.p * t.n) AS target, c.b, c.cnt, c.cum
           FROM cum c JOIN tot t USING (source),
                (VALUES (0.5::DOUBLE), (0.9::DOUBLE)) p(p)
           WHERE c.cum >= ceil(p.p * t.n) AND c.cum - c.cnt < ceil(p.p * t.n)),
         est AS (
           SELECT source, p,
                  round(b * 64 + 64.0 * (target - (cum - cnt)) / cnt, 2) AS estimate
           FROM qq)
         SELECT h.source, h.approx_distinct, p50.estimate AS p50_chars,
                p90.estimate AS p90_chars
         FROM hd h
         JOIN (SELECT source, estimate FROM est WHERE p = 0.5) p50 USING (source)
         JOIN (SELECT source, estimate FROM est WHERE p = 0.9) p90 USING (source)
         ORDER BY source"""
    },
    // exact duplicated spans: every 20-token window md5'd, >=2-doc dup
    // filter, per-doc island coalescing (new span when the gap exceeds
    // the window length), 1-based inclusive token positions
    "q415_dup_spans" -> {
      val w = 20
      s"""WITH t AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS l
           FROM documents),
         wins AS (
           SELECT doc_id, i,
                  md5(array_to_string(l[i:i + ${w - 1}], ' ')) AS fp
           FROM t, unnest(range(1, len(l) - ${w - 2})) r(i)
           WHERE len(l) >= $w),
         dup AS (SELECT fp FROM wins GROUP BY fp
                 HAVING count(DISTINCT doc_id) >= 2),
         hits AS (SELECT w.doc_id, w.i FROM wins w JOIN dup USING (fp)),
         lagged AS (
           SELECT doc_id, i,
                  lag(i) OVER (PARTITION BY doc_id ORDER BY i) AS prev
           FROM hits),
         isl AS (
           SELECT doc_id, i,
                  sum(CASE WHEN prev IS NULL OR i > prev + $w THEN 1 ELSE 0 END)
                    OVER (PARTITION BY doc_id ORDER BY i) AS grp
           FROM lagged)
         SELECT doc_id, min(i) AS span_start, max(i) + ${w - 1} AS span_end,
                count(*) AS n_windows
         FROM isl GROUP BY doc_id, grp
         ORDER BY doc_id, span_start"""
    },
    // removal pass: duplicated windows cut everywhere but the min-doc
    // owner, spans coalesced, kept tokens re-joined in position order
    "q416_dedup_spans_apply" -> {
      val w = 20
      // coalesce(text,'') keeps a null-text doc present with one ("")
      // token — mirrors removeDuplicatedSpans' coalesce on the Spark side
      s"""WITH t AS (
           SELECT doc_id,
                  string_split_regex(lower(trim(coalesce(text, ''))), '\\s+') AS l
           FROM documents),
         wins AS (
           SELECT doc_id, i,
                  md5(array_to_string(l[i:i + ${w - 1}], ' ')) AS fp
           FROM t, unnest(range(1, len(l) - ${w - 2})) r(i)
           WHERE len(l) >= $w),
         own AS (
           SELECT fp, min(doc_id) AS owner, count(DISTINCT doc_id) AS nd
           FROM wins GROUP BY fp),
         rem AS (
           SELECT w.doc_id, w.i FROM wins w JOIN own USING (fp)
           WHERE nd >= 2 AND w.doc_id <> owner),
         lagged AS (
           SELECT doc_id, i,
                  lag(i) OVER (PARTITION BY doc_id ORDER BY i) AS prev
           FROM rem),
         isl AS (
           SELECT doc_id, i,
                  sum(CASE WHEN prev IS NULL OR i > prev + $w THEN 1 ELSE 0 END)
                    OVER (PARTITION BY doc_id ORDER BY i) AS grp
           FROM lagged),
         spans AS (
           SELECT doc_id, min(i) AS s, max(i) + ${w - 1} AS e
           FROM isl GROUP BY doc_id, grp),
         tok AS (
           SELECT doc_id, i AS tpos, l[i] AS tok
           FROM t, unnest(range(1, len(l) + 1)) r(i)),
         kept AS (
           SELECT k.doc_id, k.tpos, k.tok
           FROM tok k LEFT JOIN spans s
             ON k.doc_id = s.doc_id AND k.tpos BETWEEN s.s AND s.e
           WHERE s.doc_id IS NULL),
         sizes AS (SELECT doc_id, CAST(len(l) AS BIGINT) AS n_tokens FROM t),
         cleaned AS (
           SELECT doc_id, count(*) AS n_kept,
                  string_agg(tok, ' ' ORDER BY tpos) AS cleaned_text
           FROM kept GROUP BY doc_id)
         SELECT s.doc_id, s.n_tokens,
                s.n_tokens - coalesce(c.n_kept, 0) AS n_removed,
                coalesce(c.cleaned_text, '') AS cleaned_text
         FROM sizes s LEFT JOIN cleaned c USING (doc_id)
         ORDER BY s.doc_id"""
    },
    // DSIR: hashed unigram+bigram buckets (portable md5-32 mod 1024),
    // Laplace-smoothed target/raw log ratio pinned at 12 dp, exact
    // integer per-doc sums, deterministic top-100
    "q413_dsir" ->
      """WITH t AS (
           SELECT doc_id, lang = 'en' AS is_t,
                  string_split_regex(lower(trim(text)), '\s+') AS l
           FROM documents),
         uni AS (SELECT doc_id, is_t, unnest(l) AS g FROM t),
         bi AS (SELECT doc_id, is_t, l[i] || ' ' || l[i+1] AS g
                FROM t, unnest(range(1, len(l))) r(i)),
         f AS (SELECT doc_id, is_t,
                      ('0x' || substr(md5(g), 1, 8))::BIGINT % 1024 AS b
               FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),
         bt AS (SELECT b, sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS ct,
                       count(*) AS cr
                FROM f GROUP BY b),
         tot AS (SELECT sum(ct) AS ctt, sum(cr) AS crt FROM bt),
         lam AS (SELECT b,
                   CAST(round(ln(((ct + 0.5) / (ctt + 512.0)) /
                              ((cr + 0.5) / (crt + 512.0))) * 1e12) AS BIGINT) AS lam12
                 FROM bt, tot),
         dw AS (SELECT f.doc_id,
                       max(CASE WHEN f.is_t THEN 1 ELSE 0 END) AS in_target,
                       sum(lam.lam12) AS logw12
                FROM f JOIN lam ON lam.b = f.b
                GROUP BY f.doc_id),
         rk AS (SELECT doc_id, CAST(in_target AS BIGINT) AS in_target,
                       round(logw12 / 1e12, 4) AS logw,
                       row_number() OVER (ORDER BY logw12 DESC, doc_id) AS rank
                FROM dw)
         SELECT doc_id, in_target, logw, rank FROM rk
         WHERE rank <= 100 ORDER BY rank""",
    // truncation waste: exact integer token sums per source at L=64
    "q409_truncation_waste" ->
      """WITH d AS (SELECT source,
                CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS dl
              FROM documents)
         SELECT source, count(*) AS n_docs,
           CAST(sum(CASE WHEN dl > 64 THEN 1 ELSE 0 END) AS BIGINT) AS n_truncated,
           CAST(sum(dl) AS BIGINT) AS tokens_total,
           CAST(sum(CASE WHEN dl < 64 THEN dl ELSE 64 END) AS BIGINT) AS tokens_kept,
           CAST(sum(dl) - sum(CASE WHEN dl < 64 THEN dl ELSE 64 END) AS BIGINT) AS tokens_cut,
           round(CAST(sum(dl) - sum(CASE WHEN dl < 64 THEN dl ELSE 64 END) AS DOUBLE)
             / sum(dl), 4) AS waste_frac,
           round(CAST(sum(CASE WHEN dl > 64 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 4) AS trunc_frac
         FROM d GROUP BY 1 ORDER BY source""",
    // NB margin calibration: the q391 pinned-score CTEs, then best vs
    // runner-up integer margin, exact-rank deciles, per-bucket accuracy
    "q410_nb_calibration" ->
      """WITH base AS (SELECT doc_id AS id, lang AS label,
                string_split_regex(lower(trim(text)), '\s+') AS ts FROM documents),
         train AS (SELECT * FROM base WHERE id % 5 < 4),
         test AS (SELECT * FROM base WHERE id % 5 >= 4),
         tokcnt AS (SELECT label, t, count(*) AS c FROM (
                      SELECT label, unnest(ts) AS t FROM train) GROUP BY 1, 2),
         classtot AS (SELECT label, CAST(sum(c) AS BIGINT) AS tot FROM tokcnt GROUP BY 1),
         vocab AS (SELECT count(DISTINCT t) AS v FROM tokcnt),
         priors AS (SELECT label, count(*) AS nd FROM train GROUP BY 1),
         ntrain AS (SELECT count(*) AS n FROM train),
         classes AS (SELECT ct.label AS cls,
                       CAST(round(ln(CAST(pr.nd AS DOUBLE) / nt.n) * 1e6) AS BIGINT) AS prior6,
                       CAST(round(ln(1.0 / (ct.tot + vo.v)) * 1e6) AS BIGINT) AS dflt6,
                       ct.tot + vo.v AS denom
                     FROM classtot ct CROSS JOIN vocab vo
                     JOIN priors pr ON pr.label = ct.label CROSS JOIN ntrain nt),
         weights AS (SELECT tc.label AS cls, tc.t,
                       CAST(round(ln(CAST(tc.c + 1 AS DOUBLE) / cl.denom) * 1e6) AS BIGINT) AS w6
                     FROM tokcnt tc JOIN classes cl ON cl.cls = tc.label),
         occ AS (SELECT id, label, unnest(ts) AS t FROM test),
         scored AS (SELECT o.id, o.label, c.cls,
                      CAST(any_value(c.prior6) + sum(coalesce(w.w6, c.dflt6)) AS BIGINT) AS score6
                    FROM occ o CROSS JOIN classes c
                    LEFT JOIN weights w ON w.cls = c.cls AND w.t = o.t
                    GROUP BY 1, 2, 3),
         rk AS (SELECT id, label, cls, score6,
                  row_number() OVER (PARTITION BY id ORDER BY score6 DESC, cls) AS rn
                FROM scored),
         pd AS (SELECT a.id,
                  CASE WHEN a.cls = a.label THEN 1 ELSE 0 END AS ok,
                  a.score6 - coalesce(b.score6, a.score6) AS margin6
                FROM rk a LEFT JOIN rk b ON b.id = a.id AND b.rn = 2
                WHERE a.rn = 1),
         n AS (SELECT count(*) AS nr FROM pd),
         rkd AS (SELECT ok, margin6,
                   CAST(ceil(row_number() OVER (ORDER BY margin6, id) * 10
                     / CAST(nr AS DOUBLE)) AS INTEGER) AS bucket
                 FROM pd CROSS JOIN n)
         SELECT bucket, count(*) AS n_docs,
           round(CAST(min(margin6) AS DOUBLE) / 1e6, 6) AS margin_lo,
           round(CAST(max(margin6) AS DOUBLE) / 1e6, 6) AS margin_hi,
           round(CAST(sum(ok) AS DOUBLE) / count(*), 4) AS accuracy
         FROM rkd GROUP BY 1 ORDER BY bucket""",
    // boilerplate prefixes: first-k-token key, one group aggregate
    "q408_boilerplate" ->
      """WITH t AS (SELECT source,
                array_to_string(string_split_regex(lower(trim(text)), '\s+')[1:8], ' ') AS prefix
              FROM documents)
         SELECT source, prefix, count(*) AS n_docs
         FROM t GROUP BY 1, 2 HAVING count(*) >= 2
         ORDER BY n_docs DESC, source, prefix LIMIT 20""",
    // bucketed hubness: q390's assignment chain feeding q279's N_k
    // moment algebra
    "q407_hubness_bucketed" ->
      """WITH p AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
         seeds AS (SELECT id AS sid, v AS sv FROM p ORDER BY id LIMIT 16),
         asg AS (SELECT id, sid AS cluster FROM (
             SELECT p.id, s.sid,
               row_number() OVER (PARTITION BY p.id ORDER BY
                 CAST(round((1.0 - list_cosine_similarity(p.v, s.sv)) * 1e6) AS BIGINT), s.sid) AS rn
             FROM p CROSS JOIN seeds s) WHERE rn = 1),
         pr AS (SELECT a.id, b.id AS nb,
                  CAST(round((1.0 - list_cosine_similarity(a.v, b.v)) * 1e12) AS BIGINT) AS d
                FROM p a JOIN asg ca ON a.id = ca.id
                JOIN asg cb ON ca.cluster = cb.cluster AND cb.id <> a.id
                JOIN p b ON b.id = cb.id),
         knn AS (SELECT id, nb FROM (
                   SELECT id, nb, row_number() OVER (PARTITION BY id ORDER BY d, nb) AS rn
                   FROM pr) WHERE rn <= 10),
         nk AS (SELECT nb AS id, count(*) AS cnt FROM knn GROUP BY 1),
         fl AS (SELECT coalesce(nk.cnt, 0) AS c FROM p LEFT JOIN nk ON p.id = nk.id),
         t AS (SELECT count(*) AS n,
                      CAST(sum(CAST(c AS HUGEINT)) AS DOUBLE) AS s1,
                      CAST(sum(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS DOUBLE) AS s2,
                      CAST(sum(CAST(c AS HUGEINT) * CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS DOUBLE) AS s3,
                      max(c) AS max_nk,
                      CAST(sum(CASE WHEN c = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nz
               FROM fl)
         SELECT n, CAST(10 AS BIGINT) AS k, CAST(max_nk AS BIGINT) AS max_nk,
                round(CAST(nz AS DOUBLE) / n, 6) AS pct_antihubs,
                round(CASE WHEN s2 / n - (s1 / n) * (s1 / n) > 0
                      THEN (s3 / n - (s1 / n) * s2 / n * 3 + (s1 / n) * (s1 / n) * (s1 / n) * 2)
                           / pow(s2 / n - (s1 / n) * (s1 / n), 1.5) END, 6) AS skewness
         FROM t""",
    // corpus digest: canonical chr(1)-joined row string (nulls chr(2)),
    // two 60-bit md5 slices, commutative exact sums
    "q406_corpus_digest" ->
      """WITH h AS (
           SELECT md5(concat_ws(chr(1),
             coalesce(CAST(doc_id AS VARCHAR), chr(2)),
             coalesce(text, chr(2)),
             coalesce(lang, chr(2)),
             coalesce(source, chr(2)),
             coalesce(CAST(n_chars AS VARCHAR), chr(2)))) AS h
           FROM documents)
         SELECT count(*) AS n_rows,
           CAST(sum(('0x' || substr(h, 1, 15))::BIGINT::HUGEINT) AS VARCHAR) AS digest_lo,
           CAST(sum(('0x' || substr(h, 17, 15))::BIGINT::HUGEINT) AS VARCHAR) AS digest_hi
         FROM h""",
    // k-dist deciles: q390's bucketed chain to the exact k-th neighbor
    // distance, rank-selected deciles
    "q403_kdist_profile" ->
      """WITH p AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
         seeds AS (SELECT id AS sid, v AS sv FROM p ORDER BY id LIMIT 16),
         asg AS (SELECT id, sid AS cluster FROM (
             SELECT p.id, s.sid,
               row_number() OVER (PARTITION BY p.id ORDER BY
                 CAST(round((1.0 - list_cosine_similarity(p.v, s.sv)) * 1e6) AS BIGINT), s.sid) AS rn
             FROM p CROSS JOIN seeds s) WHERE rn = 1),
         pr AS (SELECT a.id, b.id AS nb,
                  CAST(round((1.0 - list_cosine_similarity(a.v, b.v)) * 1e12) AS BIGINT) AS d
                FROM p a JOIN asg ca ON a.id = ca.id
                JOIN asg cb ON ca.cluster = cb.cluster AND cb.id <> a.id
                JOIN p b ON b.id = cb.id),
         kd AS (SELECT id, d AS kd FROM (
                  SELECT id, d, row_number() OVER (PARTITION BY id ORDER BY d, nb) AS rn
                  FROM pr) WHERE rn = 10),
         rk AS (SELECT kd, row_number() OVER (ORDER BY kd, id) AS r,
                       count(*) OVER () AS n
                FROM kd),
         dec AS (SELECT CAST(i AS INT) AS decile FROM unnest(range(1, 10)) t(i))
         SELECT decile, round(CAST(kd AS DOUBLE) / 1e12, 6) AS kdist
         FROM rk JOIN dec ON r = CAST(ceil(decile * n / 10.0) AS BIGINT)
         ORDER BY decile""",
    // Pettitt: doubled-rank exact U_t off two day-bounded windows
    "q404_pettitt" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
                 CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS yq
               FROM events GROUP BY 1),
         ranked AS (SELECT day, yq,
                      rank() OVER (ORDER BY yq) AS minr,
                      count(*) OVER (PARTITION BY yq) AS ceq
                    FROM daily),
         u AS (SELECT t, n,
                 CAST(s2 - t * (n + 1) AS BIGINT) AS ut
               FROM (SELECT row_number() OVER (ORDER BY day) AS t,
                       count(*) OVER () AS n,
                       CAST(sum(2 * (minr - 1) + ceq + 1) OVER (ORDER BY day
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS s2
                     FROM ranked)
               WHERE t < n),
         stats AS (SELECT max(n) AS n_days, max(abs(ut)) AS k_stat FROM u)
         SELECT s.n_days, s.k_stat, min(u.t) AS t_change,
           round(2.0 * exp(-6.0 * CAST(s.k_stat AS DOUBLE) * s.k_stat /
             CAST(s.n_days * s.n_days * s.n_days + s.n_days * s.n_days AS DOUBLE)), 6) AS p_approx
         FROM u CROSS JOIN stats s
         WHERE abs(u.ut) = s.k_stat
         GROUP BY 1, 2""",
    // Kruskal-Wallis: doubled average ranks off the distinct-value fold,
    // exact rank sums, tie-corrected close
    "q405_kruskal" ->
      """WITH q AS (SELECT l_returnflag AS cls,
                CAST(round(l_quantity * 100) AS BIGINT) AS vq FROM lineitem),
         gv AS (SELECT cls, vq, count(*) AS c FROM q GROUP BY 1, 2),
         byv AS (SELECT vq, CAST(sum(c) AS BIGINT) AS ceq FROM gv GROUP BY 1),
         r2 AS (SELECT vq, ceq,
                  2 * CAST(coalesce(sum(ceq) OVER (ORDER BY vq
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                  + ceq + 1 AS r2
                FROM byv),
         perg AS (SELECT cls, CAST(sum(c) AS BIGINT) AS nj,
                    sum(CAST(c AS HUGEINT) * r2.r2) AS sr2
                  FROM gv JOIN r2 USING (vq) GROUP BY 1),
         ties AS (SELECT sum(CAST(ceq AS HUGEINT) * ceq * ceq - ceq) AS tsum FROM r2),
         top AS (SELECT count(*) AS k, CAST(sum(nj) AS BIGINT) AS n,
                   sum(CAST(round(CAST(sr2 AS DOUBLE) * CAST(sr2 AS DOUBLE)
                     / 4.0 / nj * 1e6) AS HUGEINT)) AS rr6
                 FROM perg)
         SELECT k, n,
           round(CASE WHEN k >= 2 AND n > 1
             THEN 12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1))
               * (CAST(rr6 AS DOUBLE) / 1e6) - 3.0 * (CAST(n AS DOUBLE) + 1) END, 6) AS h_stat,
           round(CASE WHEN k >= 2 AND n > 1
             AND 1.0 - CAST(tsum AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - CAST(n AS DOUBLE)) > 0
             THEN (12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1))
               * (CAST(rr6 AS DOUBLE) / 1e6) - 3.0 * (CAST(n AS DOUBLE) + 1))
               / (1.0 - CAST(tsum AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - CAST(n AS DOUBLE))) END, 6) AS h_tied,
           CAST(k - 1 AS BIGINT) AS df
         FROM top CROSS JOIN ties""",
    // embed disagreement: inverted-index jaccard candidates at the text
    // threshold, pair-joined embeddings, rounded-cosine gate
    "q402_embed_disagree" ->
      """WITH t AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
           FROM documents),
         sh AS (
           SELECT doc_id, unnest(list_distinct(
             list_transform(range(len(toks) - 2),
               i -> array_to_string(toks[i+1:i+3], ' ')))) AS tok
           FROM t),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         shared AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
           FROM sh a JOIN sh b ON a.tok = b.tok AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         pj AS (SELECT id_a, id_b, round(c * 1.0 / (sa.n + sb.n - c), 4) AS jaccard
                FROM shared
                JOIN sizes sa ON sa.doc_id = id_a
                JOIN sizes sb ON sb.doc_id = id_b
                WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.8)
         SELECT id_a, id_b, jaccard,
                round(CAST(list_cosine_similarity(ea.v, eb.v) AS DOUBLE), 4) AS cosine
         FROM pj
         JOIN (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings) ea ON ea.vec_id = id_a
         JOIN (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings) eb ON eb.vec_id = id_b
         WHERE round(CAST(list_cosine_similarity(ea.v, eb.v) AS DOUBLE), 4) < 0.995
         ORDER BY cosine, id_a, id_b""",
    // temperature mix: exact group token totals, one pow per group
    // pinned to 1e9, integer-normalized weights
    "q401_temperature_mix" ->
      """WITH d AS (SELECT source,
                CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS toks
              FROM documents),
         totals AS (SELECT source, CAST(sum(toks) AS BIGINT) AS group_size
                    FROM d GROUP BY 1),
         tt AS (SELECT CAST(sum(group_size) AS BIGINT) AS t FROM totals),
         pinned AS (SELECT source, group_size, t,
                      CAST(round(pow(CAST(group_size AS DOUBLE) / t, 0.3) * 1e9) AS BIGINT) AS p9
                    FROM totals CROSS JOIN tt),
         norm AS (SELECT CAST(sum(p9) AS BIGINT) AS sp9 FROM pinned)
         SELECT source, group_size,
                round(CAST(group_size AS DOUBLE) / t, 6) AS raw_share,
                round(CAST(p9 AS DOUBLE) / sp9, 6) AS weight,
                round((CAST(p9 AS DOUBLE) / sp9) /
                  (CAST(group_size AS DOUBLE) / t), 6) AS epochs
         FROM pinned CROSS JOIN norm ORDER BY source""",
    // JL distortion: hash-seeded ±1 signs, per-term 9-dp pins, exact
    // integer distance algebra, consecutive-id pair sample
    "q400_jl_distortion" ->
      """WITH xs AS (SELECT vec_id AS id, u.d AS d, u.x AS x FROM (
             SELECT vec_id, unnest(list_transform(range(1, len(embedding) + 1),
               i -> struct_pack(d := i - 1, x := CAST(embedding[i] AS DOUBLE)))) AS u
             FROM embeddings)),
         dims AS (SELECT CAST(i AS INT) AS j FROM unnest(range(0, 16)) r(i)),
         terms AS (SELECT id, j,
             CAST(round(CASE WHEN ('0x' || substr(md5(CAST(j AS VARCHAR) || ':' ||
                 CAST(d AS VARCHAR) || ':jl9'), 1, 8))::BIGINT % 2 = 0
               THEN 1 ELSE -1 END * x * 1e9) AS BIGINT) AS t9
           FROM xs CROSS JOIN dims),
         proj AS (SELECT id, j,
             CAST(round(CAST(sum(t9) AS DOUBLE) / 1e9 / sqrt(16.0) * 1e9) AS BIGINT) AS y9
           FROM terms GROUP BY 1, 2),
         dproj AS (SELECT a.id,
             sum(CAST(a.y9 - b.y9 AS HUGEINT) * (a.y9 - b.y9)) AS dy2
           FROM proj a JOIN proj b ON b.id = a.id + 1 AND b.j = a.j
           GROUP BY 1),
         dorig AS (SELECT a.id,
             CAST(sum(CAST(round((a.x - b.x) * (a.x - b.x) * 1e9) AS BIGINT)) AS BIGINT) AS dx2_9
           FROM xs a JOIN xs b ON b.id = a.id + 1 AND b.d = a.d
           GROUP BY 1),
         ratios AS (SELECT CAST(round((CAST(dy2 AS DOUBLE) / 1e18) /
               (CAST(dx2_9 AS DOUBLE) / 1e9) * 1e6) AS BIGINT) AS r6
           FROM dproj JOIN dorig USING (id) WHERE dx2_9 > 0)
         SELECT count(*) AS n_pairs,
                round(avg(r6) / 1e6, 6) AS mean_ratio,
                round(CAST(min(r6) AS DOUBLE) / 1e6, 6) AS min_ratio,
                round(CAST(max(r6) AS DOUBLE) / 1e6, 6) AS max_ratio
         FROM ratios""",
    // seasonal-naive MASE: weekly-phase source index by integer ceil-div,
    // exact |err| sums, one double division pair at the close
    "q398_mase" ->
      """WITH daily AS (SELECT date_trunc('day', ts) AS day,
                 CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS yq
               FROM events GROUP BY 1),
         idx AS (SELECT row_number() OVER (ORDER BY day) AS t, yq FROM daily),
         nn AS (SELECT count(*) AS na FROM idx),
         wc AS (SELECT t, yq, CAST(floor(na * 0.8) AS BIGINT) AS h
                FROM idx CROSS JOIN nn),
         scale AS (SELECT count(*) AS n_scale,
                          CAST(sum(abs(w.yq - p.yq)) AS BIGINT) AS sad
                   FROM wc w JOIN idx p ON p.t + 7 = w.t
                   WHERE w.t <= w.h),
         test AS (SELECT w.yq, s.yq AS fq, w.h
                  FROM (SELECT t, yq, h,
                          t - 7 * CAST(floor(CAST(t - h + 7 - 1 AS DOUBLE) / 7) AS BIGINT) AS src
                        FROM wc WHERE t > h) w
                  JOIN idx s ON s.t = w.src)
         SELECT max(h) AS n_train, count(*) AS n_test,
                round(CAST(sum(abs(yq - fq)) AS DOUBLE) / count(*) / 1e6, 6) AS mae,
                round(CASE WHEN max(sc.n_scale) > 0
                  THEN CAST(max(sc.sad) AS DOUBLE) / max(sc.n_scale) / 1e6 END, 6) AS scale_mae,
                round(CASE WHEN max(sc.n_scale) > 0 AND max(sc.sad) > 0
                  THEN (CAST(sum(abs(yq - fq)) AS DOUBLE) / count(*)) /
                       (CAST(max(sc.sad) AS DOUBLE) / max(sc.n_scale)) END, 6) AS mase
         FROM test CROSS JOIN scale sc""",
    // Page-Hinkley: per-day pinned 6-dp terms, cumulative sums/mins over
    // the day-bounded frame, first alarm above the pinned threshold
    "q399_page_hinkley" ->
      """WITH daily AS (SELECT date_trunc('day', ts) AS day,
                 CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS yq
               FROM events GROUP BY 1),
         terms AS (SELECT
             row_number() OVER (ORDER BY day) AS t,
             yq,
             CAST(sum(yq) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cs
           FROM daily),
         t6 AS (SELECT t,
             CAST(round(CAST(yq AS DOUBLE) - CAST(cs AS DOUBLE) / t - 0.0) AS BIGINT) AS term6
           FROM terms),
         ph AS (SELECT t, m6 - min(m6) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph6
                FROM (SELECT t, CAST(sum(term6) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS m6
                      FROM t6))
         SELECT count(*) AS n_days,
                round(CAST(max(ph6) AS DOUBLE) / 1e6, 6) AS ph_max,
                min(CASE WHEN ph6 > 500000000 THEN t END) AS t_alarm,
                coalesce(max(CASE WHEN ph6 > 500000000 THEN 1 ELSE 0 END), 0) = 1 AS drifted
         FROM ph""",
    // dedup impact: per-τ recursive-CTE components over the inverted-index
    // jaccard graph, removed = non-min members, exact token sums
    "q397_dedup_impact" ->
      """WITH RECURSIVE t AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
           FROM documents),
         sh AS (
           SELECT doc_id, unnest(list_distinct(
             list_transform(range(len(toks) - 2),
               i -> array_to_string(toks[i+1:i+3], ' ')))) AS tok
           FROM t),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         shared AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
           FROM sh a JOIN sh b ON a.tok = b.tok AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         jac AS (
           -- floor cut on the UNROUNDED ratio (mirrors the prefix-join's
           -- raw >= taus.min cut inside repJaccardGraph), grid tests on
           -- the 4-dp ROUNDED value (mirrors ngramJaccardPairs' rounded
           -- output that dedupImpact filters per tau) — same split as
           -- the q303 sweep oracle
           SELECT id_a, id_b, round(c * 1.0 / (sa.n + sb.n - c), 4) AS j
           FROM shared
           JOIN sizes sa ON sa.doc_id = id_a
           JOIN sizes sb ON sb.doc_id = id_b
           WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.7),
         grid AS (SELECT unnest([0.7, 0.8, 0.9]) AS tau),
         sym AS (
           SELECT g.tau, id_a AS u, id_b AS v FROM jac CROSS JOIN grid g WHERE j >= g.tau
           UNION ALL
           SELECT g.tau, id_b, id_a FROM jac CROSS JOIN grid g WHERE j >= g.tau),
         reach AS (
           SELECT g.tau, t.doc_id AS id, t.doc_id AS r FROM t CROSS JOIN grid g
           UNION
           SELECT sym.tau, sym.u, reach.r FROM sym
           JOIN reach ON reach.tau = sym.tau AND reach.id = sym.v),
         comp AS (SELECT tau, id, min(r) AS component FROM reach GROUP BY 1, 2),
         ntoks AS (SELECT doc_id AS id, CAST(len(toks) AS BIGINT) AS ntok FROM t),
         tot AS (SELECT count(*) AS nd, CAST(sum(ntok) AS BIGINT) AS tt FROM ntoks),
         rem AS (SELECT c.tau, CAST(count(*) AS BIGINT) AS n_removed,
                        CAST(sum(nt.ntok) AS BIGINT) AS tok_removed
                 FROM comp c JOIN ntoks nt USING (id)
                 WHERE c.id <> c.component GROUP BY 1)
         SELECT CAST(g.tau AS DOUBLE) AS tau, tot.nd AS n_docs,
                coalesce(rem.n_removed, 0) AS n_removed,
                coalesce(rem.tok_removed, 0) AS tokens_removed,
                round(CAST(coalesce(rem.tok_removed, 0) AS DOUBLE) / tot.tt, 6) AS pct_tokens
         FROM grid g CROSS JOIN tot LEFT JOIN rem ON rem.tau = g.tau
         ORDER BY tau""",
    // DP quantile: rank/length integers exact, each transcendental pinned
    // to a 1e6 long before the integer score sum, argmax tie by rank
    "q396_dp_quantile" ->
      """WITH per AS (SELECT user_id AS unit,
                CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS vq
              FROM events GROUP BY 1),
         ranked AS (SELECT vq, row_number() OVER (ORDER BY vq, unit) AS i FROM per),
         nn AS (SELECT count(*) AS n FROM per),
         lagged AS (SELECT a.i, a.vq, b.vq AS nxt
                    FROM ranked a JOIN ranked b ON b.i = a.i + 1
                    WHERE b.vq > a.vq),
         scored AS (SELECT i, vq, nxt,
             CAST(round(0.5 * -abs(CAST(i AS DOUBLE) - 0.5 * n) / 2.0 * 1e6) AS BIGINT)
           + CAST(round(ln(CAST(nxt - vq AS DOUBLE) / 1e6) * 1e6) AS BIGINT)
           + CAST(round(-ln(-ln((('0x' || substr(md5(CAST(i AS VARCHAR) || ':r9'), 1, 8))::BIGINT + 0.5)
                / 4294967296.0)) * 1e6) AS BIGINT) AS score6
           FROM lagged CROSS JOIN nn),
         win AS (SELECT vq, nxt FROM scored ORDER BY score6 DESC, i LIMIT 1),
         fb AS (SELECT min(vq) AS lo, max(vq) AS hi FROM per)
         SELECT nn.n AS n_units, CAST(0.5 AS DOUBLE) AS epsilon,
                CAST(0.5 AS DOUBLE) AS q,
                round(coalesce(CAST(win.vq + win.nxt AS DOUBLE) / 2.0,
                  CAST(fb.lo AS DOUBLE)) / 1e6, 6) AS dp_value
         FROM fb LEFT JOIN win ON TRUE CROSS JOIN nn""",
    // BCa bootstrap: q270's resample machinery + exact power sums for
    // the acceleration; Φ/Φ⁻¹ via the shared A&S fragments
    "q395_bootstrap_bca" ->
      s"""WITH units AS (
           SELECT user_id AS unit,
                  CAST(sum(CASE WHEN event_type = 'purchase'
                       THEN CAST(round(value * 1000000) AS BIGINT) ELSE 0 END) AS BIGINT) AS vq
           FROM events GROUP BY 1),
         bs AS (SELECT CAST(i AS INT) AS b FROM unnest(range(1, 101)) r(i)),
         fan AS (SELECT b, vq,
                        ('0x' || substr(md5(CAST(unit AS VARCHAR) || ':' || CAST(b AS VARCHAR)), 1, 8))::BIGINT
                          / 4294967296.0 AS u
                 FROM units CROSS JOIN bs),
         wts AS (SELECT b, vq, CASE WHEN u < 0.367879441 THEN 0
                             WHEN u < 0.735758882 THEN 1
                             WHEN u < 0.919698603 THEN 2
                             WHEN u < 0.981011843 THEN 3
                             WHEN u < 0.996340153 THEN 4
                             WHEN u < 0.999405815 THEN 5
                             WHEN u < 0.999916758 THEN 6
                             ELSE 7 END AS w
                 FROM fan),
         res AS (SELECT b, CAST(sum(w) AS BIGINT) AS nw,
                        sum(CAST(w * vq AS HUGEINT)) AS sw
                 FROM wts GROUP BY 1),
         mv AS (SELECT b, m9 FROM (
                  SELECT b, CAST(round(CASE WHEN nw > 0
                        THEN CAST(sw AS DOUBLE) / nw / 1e6 END * 1e9) AS BIGINT) AS m9
                  FROM res) WHERE m9 IS NOT NULL),
         obs AS (SELECT count(*) AS n_units,
                        sum(CAST(vq AS HUGEINT)) AS s1,
                        sum(CAST(vq AS HUGEINT) * vq) AS s2,
                        sum(CAST(vq AS HUGEINT) * vq * vq) AS s3
                 FROM units),
         o9 AS (SELECT CAST(round(CAST(s1 AS DOUBLE) / n_units / 1e6 * 1e9) AS BIGINT) AS o9
                FROM obs),
         z0p AS (SELECT count(*) AS nb,
                        CAST(sum(CASE WHEN m9 < o9 THEN 1 ELSE 0 END) AS BIGINT) AS below
                 FROM mv CROSS JOIN o9),
         cst AS (SELECT n_units, s1, nb, below,
                   CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                     / CAST(n_units AS DOUBLE) AS c2,
                   CAST(s3 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s1 AS DOUBLE)
                     / CAST(n_units AS DOUBLE) * 3
                     + CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                     / (CAST(n_units AS DOUBLE) * CAST(n_units AS DOUBLE)) * 2 AS c3,
                   CAST(below AS DOUBLE) / nb AS pb
                 FROM obs CROSS JOIN z0p),
         cz AS (SELECT n_units, s1, nb,
                  CASE WHEN c2 > 0 THEN c3 / (pow(c2, 1.5) * 6.0) ELSE 0.0 END AS a,
                  CASE WHEN below > 0 AND below < nb
                    THEN ${graft.functions.Probit.sql("pb")} END AS z0
                FROM cst),
         ad AS (SELECT n_units, s1, nb, a, z0,
                  z0 + (z0 + -1.959964) / (1.0 - a * (z0 + -1.959964)) AS xlo,
                  z0 + (z0 + 1.959964) / (1.0 - a * (z0 + 1.959964)) AS xhi
                FROM cz),
         -- explicit z0 NULL gate (mirrors Bootstrap.meanCiBca): the
         -- undefined-z0 case must yield NULL ranks, not rely on
         -- greatest/least NULL-skipping semantics
         rk AS (SELECT n_units, s1, nb, a, z0,
                  CASE WHEN z0 IS NOT NULL THEN
                    least(greatest(CAST(ceil(${graft.functions.Phi.sql("xlo")} * nb) AS BIGINT), 1), nb) END AS rlo,
                  CASE WHEN z0 IS NOT NULL THEN
                    least(greatest(CAST(ceil(${graft.functions.Phi.sql("xhi")} * nb) AS BIGINT), 1), nb) END AS rhi
                FROM ad),
         mr AS (SELECT m9, row_number() OVER (ORDER BY m9, b) AS r FROM mv)
         SELECT max(n_units) AS n_units, max(nb) AS n_resamples,
                round(CAST(max(s1) AS DOUBLE) / max(n_units) / 1e6, 6) AS mean_obs,
                round(max(z0), 4) AS z0,
                round(max(a), 6) AS accel,
                round(CAST(max(CASE WHEN r = rlo THEN m9 END) AS DOUBLE) / 1e9, 6) AS ci_lo,
                round(CAST(max(CASE WHEN r = rhi THEN m9 END) AS DOUBLE) / 1e9, 6) AS ci_hi
         FROM mr CROSS JOIN rk""",
    // winnow pairs: the q52 fingerprint chain, df-capped inverted-index
    // self-join, exact integer pair counts
    "q393_winnow_pairs" ->
      """WITH t AS (SELECT doc_id, lower(text) AS lt FROM documents),
         g AS (SELECT doc_id, lt, greatest(len(lt) - 4, 0) AS n FROM t),
         h AS (
           SELECT doc_id, n,
             list_transform(range(1, n + 1), i ->
               (((((((unicode(lt[i])::BIGINT * 1000003 + unicode(lt[i+1])) % 2147483647)
                  * 1000003 + unicode(lt[i+2])) % 2147483647)
                  * 1000003 + unicode(lt[i+3])) % 2147483647)
                  * 1000003 + unicode(lt[i+4])) % 2147483647) AS hs
           FROM g),
         m AS (
           SELECT doc_id,
             CASE WHEN n = 0 THEN []::BIGINT[]
                  WHEN n >= 4 THEN list_distinct(list_transform(
                    range(1, n - 4 + 2), s -> list_min(hs[s:s+3])))
                  ELSE [list_min(hs)] END AS fps
           FROM h),
         fpx AS (SELECT doc_id, len(fps) AS nf, unnest(fps) AS fp FROM m),
         keepfp AS (SELECT fp FROM (SELECT fp, count(*) AS c FROM fpx GROUP BY 1)
                    WHERE c <= 50),
         rare AS (SELECT f.doc_id, f.nf, f.fp FROM fpx f JOIN keepfp USING (fp)),
         pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                  CAST(count(*) AS BIGINT) AS n_shared,
                  any_value(a.nf) AS nfa, any_value(b.nf) AS nfb
                FROM rare a JOIN rare b ON a.fp = b.fp AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
         SELECT id_a, id_b, n_shared,
           round(CAST(n_shared AS DOUBLE) / least(nfa, nfb), 4) AS containment
         FROM pr WHERE n_shared >= 3
         ORDER BY n_shared DESC, id_a, id_b LIMIT 30""",
    "q394_mattr" ->
      """WITH ts AS (SELECT doc_id AS id,
                string_split_regex(lower(trim(text)), '\s+') AS ts FROM documents),
         pos AS (SELECT id, u.p AS j, u.t AS tok FROM (
                   SELECT id, unnest(list_transform(range(1, len(ts) + 1),
                     i -> struct_pack(p := i, t := ts[i]))) AS u
                   FROM ts)),
         lagged AS (SELECT id, j,
                      coalesce(lag(j) OVER (PARTITION BY id, tok ORDER BY j), 0) AS prev,
                      count(*) OVER (PARTITION BY id) AS n
                    FROM pos),
         contrib AS (SELECT id, n, prev,
                       greatest(0, least(j, n - 50 + 1) -
                         greatest(j - 50 + 1, prev + 1, 1) + 1) AS wins
                     FROM lagged),
         agg AS (SELECT id, CAST(max(n) AS BIGINT) AS n_tokens,
                   CAST(sum(CASE WHEN prev = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_types,
                   CAST(sum(wins) AS BIGINT) AS dsum
                 FROM contrib GROUP BY 1)
         SELECT id, n_tokens, n_types,
           round(CAST(n_types AS DOUBLE) / n_tokens, 6) AS ttr,
           round(CASE WHEN n_tokens >= 50
             THEN CAST(dsum AS DOUBLE) / (50 * (n_tokens - 50 + 1))
             ELSE CAST(n_types AS DOUBLE) / n_tokens END, 6) AS mattr
         FROM agg ORDER BY id""",
    "q390_lof_bucketed" ->
      """WITH p AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
         seeds AS (SELECT id AS sid, v AS sv FROM p ORDER BY id LIMIT 16),
         asg AS (SELECT id, sid AS cluster FROM (
             SELECT p.id, s.sid,
               row_number() OVER (PARTITION BY p.id ORDER BY
                 CAST(round((1.0 - list_cosine_similarity(p.v, s.sv)) * 1e6) AS BIGINT), s.sid) AS rn
             FROM p CROSS JOIN seeds s) WHERE rn = 1),
         pr AS (SELECT a.id, b.id AS nb,
                  CAST(round((1.0 - list_cosine_similarity(a.v, b.v)) * 1e12) AS BIGINT) AS d
                FROM p a JOIN asg ca ON a.id = ca.id
                JOIN asg cb ON ca.cluster = cb.cluster AND cb.id <> a.id
                JOIN p b ON b.id = cb.id),
         knn AS (SELECT id, nb, d FROM (
                   SELECT id, nb, d, row_number() OVER (PARTITION BY id ORDER BY d, nb) AS rn
                   FROM pr) WHERE rn <= 10),
         kd AS (SELECT id, max(d) AS kd FROM knn GROUP BY 1),
         lrd AS (SELECT k.id, count(*) AS nk,
                       CAST(round(count(*) * 1e12 /
                         (CAST(greatest(sum(greatest(k.d, kb.kd)), 10000000) AS DOUBLE) / 1e12)) AS BIGINT) AS lrd12
                 FROM knn k JOIN kd kb ON k.nb = kb.id GROUP BY 1),
         nl AS (SELECT k.id, CAST(sum(lr.lrd12) AS BIGINT) AS nlsum
                FROM knn k JOIN lrd lr ON k.nb = lr.id GROUP BY 1)
         SELECT nl.id AS id,
                round(CAST(kd.kd AS DOUBLE) / 1e12, 6) AS kdist,
                round(CAST(lrd.lrd12 AS DOUBLE) / 1e12, 4) AS lrd,
                round(CAST(nl.nlsum AS DOUBLE) / lrd.nk / lrd.lrd12, 4) AS lof
         FROM nl JOIN lrd USING (id) JOIN kd USING (id)
         ORDER BY lof DESC, id LIMIT 20""",
    "q386_siegel_slope" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
                 CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS yq
               FROM events GROUP BY 1),
         slopes AS (SELECT a.day AS d1, b.day AS d2,
                 CAST(b.yq - a.yq AS DOUBLE) / date_diff('day', a.day, b.day) / 1e6 AS sl
               FROM daily a JOIN daily b ON a.day <> b.day),
         perday AS (SELECT d1, sl AS med FROM (
                 SELECT d1, sl,
                   row_number() OVER (PARTITION BY d1 ORDER BY sl, d2) AS rn,
                   count(*) OVER (PARTITION BY d1) AS np
                 FROM slopes) WHERE rn = (np + 1) // 2),
         final AS (SELECT med, row_number() OVER (ORDER BY med, d1) AS rn,
                          count(*) OVER () AS n
                   FROM perday)
         SELECT CAST(n AS BIGINT) AS n_days, round(med, 6) + 0.0 AS slope
         FROM final WHERE rn = (n + 1) // 2""",
    "q387_stl_strength" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
                 CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS yq
               FROM events GROUP BY 1),
         wt AS (SELECT day, yq,
                 CAST(sum(yq) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT) AS wsum,
                 count(*) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS wn
               FROM daily),
         ft AS (SELECT day, yq, CAST(round(CAST(wsum AS DOUBLE) / 7) AS BIGINT) AS trend6,
                 7 * yq - wsum AS d
               FROM wt WHERE wn = 7),
         seas AS (SELECT dayofweek(day) AS dow,
                   CAST(round(CAST(sum(d) AS DOUBLE) / (7.0 * count(*))) AS BIGINT) AS season6
                 FROM ft GROUP BY 1),
         comp AS (SELECT yq - trend6 - season6 AS r, yq - season6 AS tr, yq - trend6 AS sr
                  FROM ft JOIN seas ON dayofweek(ft.day) = seas.dow),
         m AS (SELECT count(*) AS n,
                 sum(CAST(r AS HUGEINT)) AS s_r, sum(CAST(r AS HUGEINT) * r) AS q_r,
                 sum(CAST(tr AS HUGEINT)) AS s_tr, sum(CAST(tr AS HUGEINT) * tr) AS q_tr,
                 sum(CAST(sr AS HUGEINT)) AS s_sr, sum(CAST(sr AS HUGEINT) * sr) AS q_sr
               FROM comp),
         v AS (SELECT CAST(n AS BIGINT) AS n, CAST(n AS DOUBLE) AS nd,
                 (CAST(q_r AS DOUBLE) - CAST(s_r AS DOUBLE) * CAST(s_r AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1) AS vr,
                 (CAST(q_tr AS DOUBLE) - CAST(s_tr AS DOUBLE) * CAST(s_tr AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1) AS vtr,
                 (CAST(q_sr AS DOUBLE) - CAST(s_sr AS DOUBLE) * CAST(s_sr AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1) AS vsr
               FROM m)
         SELECT n AS n_days,
           round(CASE WHEN n >= 2 AND vtr > 0 THEN greatest(0.0, 1.0 - vr / vtr) END, 6) AS f_trend,
           round(CASE WHEN n >= 2 AND vsr > 0 THEN greatest(0.0, 1.0 - vr / vsr) END, 6) AS f_seasonal
         FROM v""",
    "q385_lepage" ->
      """WITH q AS (SELECT CAST(round(value * 1000000) AS BIGINT) AS v,
                CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 = 0 THEN 1 ELSE 0 END AS s1
              FROM events),
         byv AS (SELECT v, CAST(sum(s1) AS BIGINT) AS c1, count(*) AS ct FROM q GROUP BY 1),
         pos AS (SELECT v, c1, ct,
                 2 * CAST(coalesce(sum(ct) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) + ct + 1 AS r2,
                 CAST(coalesce(sum(ct) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) + 1 AS l,
                 CAST(coalesce(sum(ct) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) + ct AS r,
                 CAST(sum(ct) OVER () AS BIGINT) AS nn
               FROM byv),
         sc AS (SELECT c1, ct, r2,
                 CAST(round(CAST(
                   (CASE WHEN least(r, (nn + 1) // 2) >= l
                      THEN (l + least(r, (nn + 1) // 2)) * (least(r, (nn + 1) // 2) - l + 1) ELSE 0 END
                  + CASE WHEN r >= greatest(l, (nn + 1) // 2 + 1)
                      THEN ((nn + 1) * 2 - greatest(l, (nn + 1) // 2 + 1) - r) * (r - greatest(l, (nn + 1) // 2 + 1) + 1) ELSE 0 END)
                 AS DOUBLE) * 1e6 / ct) AS BIGINT) AS a6
               FROM pos),
         agg AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
                        CAST(sum(ct) - sum(c1) AS BIGINT) AS n2,
                        CAST(sum(ct) AS BIGINT) AS n,
                        sum(CAST(c1 AS HUGEINT) * r2) AS r1x2,
                        sum(CAST(ct AS HUGEINT) * ct * ct - ct) AS tie3,
                        sum(CAST(c1 AS HUGEINT) * a6) AS sa1,
                        sum(CAST(ct AS HUGEINT) * a6) AS sa,
                        sum(CAST(ct AS HUGEINT) * a6 * a6) AS saa
                 FROM sc),
         t AS (SELECT n1, n2,
                 CAST(n1 AS DOUBLE) AS n1d, CAST(n2 AS DOUBLE) AS n2d, CAST(n AS DOUBLE) AS nd,
                 CAST(r1x2 AS DOUBLE) / 2.0 - CAST(n1 AS DOUBLE) * (n1 + 1) / 2.0 AS u1,
                 CAST(tie3 AS DOUBLE) AS tie3d,
                 CAST(sa1 AS DOUBLE) / 2e6 AS astat,
                 CAST(sa AS DOUBLE) / 2e6 AS sbar2,
                 CAST(saa AS DOUBLE) / 4e12 AS saad
               FROM agg),
         g AS (SELECT n1, n2,
                 n1d * n2d / 12.0 * ((nd + 1) - tie3d / (nd * (nd - 1))) AS vw,
                 (u1 - n1d * n2d / 2.0) AS numw,
                 n1d * n2d / (nd * (nd - 1)) * (saad - sbar2 * sbar2 / nd) AS va,
                 (astat - n1d * sbar2 / nd) AS numa
               FROM t)
         SELECT n1, n2,
           round(CASE WHEN n1 >= 1 AND n2 >= 1 AND vw > 0 THEN numw / sqrt(vw) END, 4) + 0.0 AS z_w,
           round(CASE WHEN n1 >= 1 AND n2 >= 1 AND va > 0 THEN numa / sqrt(va) END, 4) + 0.0 AS z_ab,
           round(CASE WHEN n1 >= 1 AND n2 >= 1 AND vw > 0 AND va > 0
             THEN (numw / sqrt(vw)) * (numw / sqrt(vw)) + (numa / sqrt(va)) * (numa / sqrt(va)) END, 4) AS lepage
         FROM g""",
    "q374_cucconi" ->
      """WITH q AS (SELECT CAST(round(value * 1000000) AS BIGINT) AS v,
                CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 = 0 THEN 1 ELSE 0 END AS s1
              FROM events),
         byv AS (SELECT v, CAST(sum(s1) AS BIGINT) AS c1, count(*) AS ct FROM q GROUP BY 1),
         ranked AS (SELECT v, c1, ct,
                 2 * CAST(coalesce(sum(ct) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) + ct + 1 AS r2,
                 CAST(sum(ct) OVER () AS BIGINT) AS nn
               FROM byv),
         agg AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
                        CAST(sum(ct) - sum(c1) AS BIGINT) AS n2,
                        max(nn) AS n,
                        sum(CAST(c1 AS HUGEINT) * r2 * r2) AS sr4,
                        sum(CAST(c1 AS HUGEINT) * ((nn + 1) * 2 - r2) * ((nn + 1) * 2 - r2)) AS sc4
                 FROM ranked),
         t AS (SELECT n1, n2,
                 CAST(n1 AS DOUBLE) AS n1d, CAST(n2 AS DOUBLE) AS n2d, CAST(n AS DOUBLE) AS nd,
                 CAST(sr4 AS DOUBLE) AS sr4d, CAST(sc4 AS DOUBLE) AS sc4d
               FROM agg),
         g AS (SELECT n1, n2,
                 (sr4d * 1.5 - n1d * (nd + 1) * (nd * 2 + 1))
                   / sqrt(n1d * n2d * (nd + 1) * (nd * 2 + 1) * (nd * 8 + 11) / 5) AS u,
                 (sc4d * 1.5 - n1d * (nd + 1) * (nd * 2 + 1))
                   / sqrt(n1d * n2d * (nd + 1) * (nd * 2 + 1) * (nd * 8 + 11) / 5) AS v,
                 (nd * nd - 4) * 2 / ((nd * 2 + 1) * (nd * 8 + 11)) - 1 AS rho
               FROM t)
         SELECT n1, n2,
           round(CASE WHEN n1 >= 1 AND n2 >= 1 THEN u END, 4) + 0.0 AS u,
           round(CASE WHEN n1 >= 1 AND n2 >= 1 THEN v END, 4) + 0.0 AS v,
           round(CASE WHEN n1 >= 1 AND n2 >= 1 AND rho * rho < 1.0
             THEN (u * u + v * v - u * v * rho * 2) / ((1.0 - rho * rho) * 2) END, 4) AS c_stat
         FROM g""",
    "q371_ratio_delta" ->
      """WITH per AS (SELECT user_id AS u,
                 CAST(sum(CAST(round((CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END) * 1000000) AS BIGINT)) AS BIGINT) AS xq,
                 CAST(sum(CAST(round(1.0 * 1000000) AS BIGINT)) AS BIGINT) AS yq
               FROM events GROUP BY 1),
         m AS (SELECT count(*) AS n,
                 sum(CAST(xq AS HUGEINT)) AS sx, sum(CAST(yq AS HUGEINT)) AS sy,
                 sum(CAST(xq AS HUGEINT) * xq) AS sxx, sum(CAST(yq AS HUGEINT) * yq) AS syy,
                 sum(CAST(xq AS HUGEINT) * yq) AS sxy
               FROM per),
         t AS (SELECT CAST(n AS BIGINT) AS n, CAST(n AS DOUBLE) AS nd,
                 CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
                 CAST(sxx AS DOUBLE) AS sxxd, CAST(syy AS DOUBLE) AS syyd,
                 CAST(sxy AS DOUBLE) AS sxyd, sy AS syr
               FROM m),
         g AS (SELECT n, nd, syr, sxd / syd AS r, syd / nd AS ybar,
                 (sxxd - sxd * sxd / nd) / (nd - 1) AS vx,
                 (syyd - syd * syd / nd) / (nd - 1) AS vy,
                 (sxyd - sxd * syd / nd) / (nd - 1) AS cxy
               FROM t),
         f AS (SELECT n, syr, r, sqrt((vx - cxy * r * 2 + vy * r * r) / (nd * ybar * ybar)) AS se FROM g)
         SELECT n AS n_units, round(r, 6) AS ratio,
           round(CASE WHEN n >= 2 AND syr > 0 THEN se END, 6) AS se,
           round(CASE WHEN n >= 2 AND syr > 0 THEN r - se * 1.959964 END, 6) + 0.0 AS ci_lo,
           round(CASE WHEN n >= 2 AND syr > 0 THEN r + se * 1.959964 END, 6) + 0.0 AS ci_hi
         FROM f""",
    "q372_ratio_jackknife" ->
      """WITH per AS (SELECT user_id AS u,
                 CAST(sum(CAST(round((CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END) * 1000000) AS BIGINT)) AS BIGINT) AS xq,
                 CAST(sum(CAST(round(1.0 * 1000000) AS BIGINT)) AS BIGINT) AS yq
               FROM events GROUP BY 1),
         tot AS (SELECT count(*) AS n, sum(CAST(xq AS HUGEINT)) AS sx, sum(CAST(yq AS HUGEINT)) AS sy FROM per),
         -- degenerate-replicate guard mirrors Experiment.ratioJackknife:
         -- a unit holding the ENTIRE denominator makes its leave-one-out
         -- division 0-denominator — drop it from the moment sums and
         -- count the survivors (nrep)
         reps AS (SELECT n, sx, sy, count(*) AS nrep,
                   sum(CAST(r12 AS HUGEINT)) AS sr, sum(CAST(r12 AS HUGEINT) * r12) AS srr
                  FROM (SELECT n, sx, sy,
                          CAST(round((CAST(sx AS DOUBLE) - xq) / (CAST(sy AS DOUBLE) - yq) * 1e12) AS BIGINT) AS r12
                        FROM per, tot
                        WHERE CAST(sy AS DOUBLE) - yq <> 0)
                  GROUP BY 1, 2, 3),
         f AS (SELECT CAST(n AS BIGINT) AS n, nrep,
                 CAST(sy AS DOUBLE) AS syd,
                 CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE) AS r,
                 sqrt((CAST(n AS DOUBLE) - 1) / CAST(n AS DOUBLE)
                   * (CAST(srr AS DOUBLE) - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE) / CAST(n AS DOUBLE))) / 1e12 AS se
               FROM reps)
         SELECT n AS n_units,
           round(CASE WHEN syd <> 0 THEN r END, 6) AS ratio,
           round(CASE WHEN n >= 2 AND nrep = n THEN se END, 6) AS se_jack,
           round(CASE WHEN n >= 2 AND nrep = n THEN r - se * 1.959964 END, 6) + 0.0 AS ci_lo,
           round(CASE WHEN n >= 2 AND nrep = n THEN r + se * 1.959964 END, 6) + 0.0 AS ci_hi
         FROM f""",
    "q373_post_strat" ->
      """WITH per AS (SELECT event_type AS s,
                 CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 = 0 THEN 1 ELSE 0 END AS arm,
                 count(*) AS nc,
                 sum(CAST(round(value * 1000000) AS BIGINT)::HUGEINT) AS sc,
                 sum(CAST(round(value * 1000000) AS BIGINT)::HUGEINT * CAST(round(value * 1000000) AS BIGINT)) AS qc
               FROM events GROUP BY 1, 2),
         wide AS (SELECT s,
                   max(CASE WHEN arm = 1 THEN nc END) AS n1, max(CASE WHEN arm = 1 THEN sc END) AS s1,
                   max(CASE WHEN arm = 1 THEN qc END) AS q1,
                   max(CASE WHEN arm = 0 THEN nc END) AS n0, max(CASE WHEN arm = 0 THEN sc END) AS s0,
                   max(CASE WHEN arm = 0 THEN qc END) AS q0
                  FROM per GROUP BY 1
                  HAVING max(CASE WHEN arm = 1 THEN nc END) IS NOT NULL
                     AND max(CASE WHEN arm = 0 THEN nc END) IS NOT NULL),
         tot AS (SELECT CAST(sum(n1 + n0) AS BIGINT) AS nn,
                        CAST(sum(n1) AS BIGINT) AS nt1, CAST(sum(n0) AS BIGINT) AS nt0,
                        sum(s1) AS st1, sum(s0) AS st0, count(*) AS n_strata
                 FROM wide),
         terms AS (SELECT n_strata, nn, nt1, nt0, st1, st0,
                    CAST(sum(CAST(round(
                      ((n1 + n0) / CAST(nn AS DOUBLE))
                      * (CAST(s1 AS DOUBLE) / n1 / 1e6 - CAST(s0 AS DOUBLE) / n0 / 1e6) * 1e12) AS BIGINT)) AS BIGINT) AS dps12,
                    CAST(sum(CAST(round(
                      ((n1 + n0) / CAST(nn AS DOUBLE)) * ((n1 + n0) / CAST(nn AS DOUBLE))
                      * ((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n1) / (n1 - 1) / 1e12 / n1
                       + (CAST(q0 AS DOUBLE) - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE) / n0) / (n0 - 1) / 1e12 / n0) * 1e12) AS BIGINT)) AS BIGINT) AS vps12
                   FROM wide, tot GROUP BY 1, 2, 3, 4, 5, 6)
         SELECT n_strata, nt1 AS n_1, nt0 AS n_0,
           round(CAST(st1 AS DOUBLE) / nt1 / 1e6 - CAST(st0 AS DOUBLE) / nt0 / 1e6, 6) + 0.0 AS delta_raw,
           round(CAST(dps12 AS DOUBLE) / 1e12, 6) + 0.0 AS delta_ps,
           round(CASE WHEN vps12 >= 0 THEN sqrt(CAST(vps12 AS DOUBLE) / 1e12) END, 6) AS se_ps
         FROM terms""",
    "q218_jsd" ->
      """WITH s AS (SELECT event_type AS cat,
                CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 = 0 THEN 1 ELSE 0 END AS b
              FROM events),
         g AS (SELECT cat, CAST(sum(b) AS BIGINT) AS n_base,
                      CAST(count(*) - sum(b) AS BIGINT) AS n_cur FROM s GROUP BY 1),
         t AS (SELECT CAST(sum(n_base) AS DOUBLE) AS tb, CAST(sum(n_cur) AS DOUBLE) AS tc FROM g),
         terms AS (SELECT cat, n_base, n_cur,
                CAST(round(((CASE WHEN n_base > 0 THEN (n_base / tb) * ln((n_base / tb) / ((n_base / tb + n_cur / tc) / 2.0)) ELSE 0.0 END
                           + CASE WHEN n_cur > 0 THEN (n_cur / tc) * ln((n_cur / tc) / ((n_base / tb + n_cur / tc) / 2.0)) ELSE 0.0 END) * 0.5) * 1e12) AS BIGINT) AS t12
              FROM g, t)
         SELECT cat, n_base, n_cur, round(t12 / 1e12, 6) + 0.0 AS jsd_term,
                (SELECT round(CAST(sum(t12) AS DOUBLE) / 1e12, 6) FROM terms) + 0.0 AS jsd_nats
         FROM terms ORDER BY cat""",
    "q219_assortativity" ->
      """WITH inst AS (SELECT DISTINCT a.l_orderkey AS o, a.l_partkey AS ea, b.l_partkey AS eb
              FROM lineitem a JOIN lineitem b
                ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
         e AS (SELECT ea, eb FROM inst GROUP BY ea, eb HAVING count(*) >= 2),
         ends AS (SELECT ea AS x, eb AS y FROM e UNION ALL SELECT eb, ea FROM e),
         deg AS (SELECT x AS v, count(*) AS d FROM ends GROUP BY 1),
         pairs AS (SELECT dx.d AS di, dy.d AS dj
              FROM ends JOIN deg dx ON ends.x = dx.v JOIN deg dy ON ends.y = dy.v),
         m AS (SELECT count(*) AS n_ends,
                      sum(CAST(di AS HUGEINT)) AS sx, sum(CAST(dj AS HUGEINT)) AS sy,
                      sum(CAST(di AS HUGEINT) * di) AS sxx, sum(CAST(dj AS HUGEINT) * dj) AS syy,
                      sum(CAST(di AS HUGEINT) * dj) AS sxy
               FROM pairs)
         SELECT n_ends,
                round(CASE WHEN (CAST(n_ends AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
                            AND (CAST(n_ends AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
                      THEN (CAST(n_ends AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                         / sqrt((CAST(n_ends AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                              * (CAST(n_ends AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) END, 6) + 0.0 AS assortativity
         FROM m""",
    "q220_adamic_adar" ->
      """WITH inst AS (SELECT DISTINCT a.l_orderkey AS o, a.l_partkey AS ea, b.l_partkey AS eb
              FROM lineitem a JOIN lineitem b
                ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
         e AS (SELECT ea, eb FROM inst GROUP BY ea, eb HAVING count(*) >= 2),
         ends AS (SELECT ea AS z, eb AS nb FROM e UNION ALL SELECT eb, ea FROM e),
         deg AS (SELECT z, count(*) AS d FROM ends GROUP BY 1),
         w AS (SELECT p.u, p.v, deg.d
              FROM (SELECT a.z, a.nb AS u, b.nb AS v FROM ends a JOIN ends b
                      ON a.z = b.z AND a.nb < b.nb) p
              JOIN deg ON deg.z = p.z),
         aa AS (SELECT u, v, count(*) AS common,
                       sum(CAST(round(1e12 / ln(CAST(d AS DOUBLE))) AS HUGEINT)) AS s12
                FROM w GROUP BY 1, 2),
         sel AS (SELECT aa.u, aa.v, aa.common,
                        round(CAST(s12 AS DOUBLE) / 1e12, 6) + 0.0 AS aa_score
                 FROM aa LEFT JOIN e ON aa.u = e.ea AND aa.v = e.eb
                 WHERE e.ea IS NULL)
         SELECT * FROM sel ORDER BY aa_score DESC, u, v LIMIT 20""",
    "q221_zipf" ->
      """WITH tok AS (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok FROM documents),
         c AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY 1),
         r AS (SELECT row_number() OVER (ORDER BY cnt DESC, tok) AS rnk, cnt FROM c),
         t AS (SELECT CAST(round(ln(CAST(rnk AS DOUBLE)) * 1e12) AS BIGINT) AS x12,
                      CAST(round(ln(CAST(cnt AS DOUBLE)) * 1e12) AS BIGINT) AS y12
               FROM r WHERE rnk <= 1000),
         m AS (SELECT count(*) AS n_terms,
                      sum(CAST(x12 AS HUGEINT)) AS sx, sum(CAST(y12 AS HUGEINT)) AS sy,
                      sum(CAST(x12 AS HUGEINT) * x12) AS sxx, sum(CAST(y12 AS HUGEINT) * y12) AS syy,
                      sum(CAST(x12 AS HUGEINT) * y12) AS sxy
               FROM t)
         SELECT n_terms,
                round(CASE WHEN (CAST(n_terms AS DOUBLE) * (CAST(sxx AS DOUBLE) / 1e24) - (CAST(sx AS DOUBLE) / 1e12) * (CAST(sx AS DOUBLE) / 1e12)) > 0
                      THEN (CAST(n_terms AS DOUBLE) * (CAST(sxy AS DOUBLE) / 1e24) - (CAST(sx AS DOUBLE) / 1e12) * (CAST(sy AS DOUBLE) / 1e12))
                         / (CAST(n_terms AS DOUBLE) * (CAST(sxx AS DOUBLE) / 1e24) - (CAST(sx AS DOUBLE) / 1e12) * (CAST(sx AS DOUBLE) / 1e12)) END, 6) + 0.0 AS slope,
                round(CASE WHEN (CAST(n_terms AS DOUBLE) * (CAST(sxx AS DOUBLE) / 1e24) - (CAST(sx AS DOUBLE) / 1e12) * (CAST(sx AS DOUBLE) / 1e12)) > 0
                      THEN ((CAST(sy AS DOUBLE) / 1e12) - ((CAST(n_terms AS DOUBLE) * (CAST(sxy AS DOUBLE) / 1e24) - (CAST(sx AS DOUBLE) / 1e12) * (CAST(sy AS DOUBLE) / 1e12))
                         / (CAST(n_terms AS DOUBLE) * (CAST(sxx AS DOUBLE) / 1e24) - (CAST(sx AS DOUBLE) / 1e12) * (CAST(sx AS DOUBLE) / 1e12))) * (CAST(sx AS DOUBLE) / 1e12)) / CAST(n_terms AS DOUBLE) END, 6) + 0.0 AS intercept,
                round(CASE WHEN (CAST(n_terms AS DOUBLE) * (CAST(sxx AS DOUBLE) / 1e24) - (CAST(sx AS DOUBLE) / 1e12) * (CAST(sx AS DOUBLE) / 1e12)) > 0
                            AND (CAST(n_terms AS DOUBLE) * (CAST(syy AS DOUBLE) / 1e24) - (CAST(sy AS DOUBLE) / 1e12) * (CAST(sy AS DOUBLE) / 1e12)) > 0
                      THEN (CAST(n_terms AS DOUBLE) * (CAST(sxy AS DOUBLE) / 1e24) - (CAST(sx AS DOUBLE) / 1e12) * (CAST(sy AS DOUBLE) / 1e12))
                         * (CAST(n_terms AS DOUBLE) * (CAST(sxy AS DOUBLE) / 1e24) - (CAST(sx AS DOUBLE) / 1e12) * (CAST(sy AS DOUBLE) / 1e12))
                         / ((CAST(n_terms AS DOUBLE) * (CAST(sxx AS DOUBLE) / 1e24) - (CAST(sx AS DOUBLE) / 1e12) * (CAST(sx AS DOUBLE) / 1e12))
                          * (CAST(n_terms AS DOUBLE) * (CAST(syy AS DOUBLE) / 1e24) - (CAST(sy AS DOUBLE) / 1e12) * (CAST(sy AS DOUBLE) / 1e12))) END, 6) + 0.0 AS r2
         FROM m""",
    "q248_cvm_test" ->
      """WITH q AS (SELECT CAST(round(value * 1000000) AS BIGINT) AS vq,
                CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END AS s1 FROM events),
         byv AS (SELECT vq, CAST(sum(s1) AS BIGINT) AS a1, CAST(sum(1 - s1) AS BIGINT) AS a2 FROM q GROUP BY 1),
         cum AS (SELECT vq, a1, a2,
                CAST(sum(a1) OVER (ORDER BY vq ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c1,
                CAST(sum(a2) OVER (ORDER BY vq ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c2
               FROM byv),
         tot AS (SELECT CAST(sum(s1) AS BIGINT) AS n1, CAST(count(*) - sum(s1) AS BIGINT) AS n2 FROM q),
         m AS (SELECT tot.n1, tot.n2,
                sum(CAST(a1 + a2 AS HUGEINT)
                  * (c1 * tot.n2 - c2 * tot.n1) * (c1 * tot.n2 - c2 * tot.n1)) AS s
               FROM cum, tot GROUP BY 1, 2)
         SELECT n1, n2,
                round(CAST(s AS DOUBLE) / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE)
                    * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)), 6) + 0.0 AS cvm_t
         FROM m""",
    "q249_modularity" ->
      """WITH t AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
           FROM documents),
         sh AS (
           SELECT doc_id, unnest(list_distinct(
             list_transform(range(len(toks) - 2),
               i -> array_to_string(toks[i+1:i+3], ' ')))) AS tok
           FROM t),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         shared AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
           FROM sh a JOIN sh b ON a.tok = b.tok AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         e AS (
           SELECT id_a AS s, id_b AS d
           FROM shared
           JOIN sizes sa ON sa.doc_id = id_a
           JOIN sizes sb ON sb.doc_id = id_b
           WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.9),
         att AS (SELECT doc_id AS id, source AS comm FROM documents),
         tg AS (SELECT e.s, e.d, a1.comm AS cs, a2.comm AS cd
               FROM e JOIN att a1 ON e.s = a1.id JOIN att a2 ON e.d = a2.id),
         deg AS (SELECT comm, count(*) AS dc
               FROM (SELECT cs AS comm FROM tg UNION ALL SELECT cd FROM tg) GROUP BY 1),
         d2 AS (SELECT count(*) AS n_comm, sum(CAST(dc AS HUGEINT) * dc) AS sdc2 FROM deg),
         mm AS (SELECT count(*) AS m,
                CAST(sum(CASE WHEN cs = cd THEN 1 ELSE 0 END) AS BIGINT) AS intra_edges FROM tg)
         SELECT m, n_comm, intra_edges,
                round(CASE WHEN m > 0
                      THEN CAST(intra_edges AS DOUBLE) / CAST(m AS DOUBLE)
                         - CAST(sdc2 AS DOUBLE) / (4.0 * CAST(m AS DOUBLE) * CAST(m AS DOUBLE)) END, 6) + 0.0 AS modularity
         FROM mm, d2""",
    "q250_gumbel" ->
      """WITH mx AS (SELECT event_type AS g, CAST(ts AS DATE) AS day,
                max(CAST(round(value * 1000000) AS BIGINT)) AS mq
              FROM events GROUP BY 1, 2),
         m AS (SELECT g, count(*) AS n, sum(CAST(mq AS HUGEINT)) AS s,
                      sum(CAST(mq AS HUGEINT) * mq) AS ss
               FROM mx GROUP BY 1)
         SELECT g AS event_type, CAST(n AS BIGINT) AS n_blocks,
                round(CASE WHEN n > 1 AND (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1) > 0
                      THEN (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                          - 0.5772156649015329 * (sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1)) * 0.7796968012336293)) / 1e6 END, 4) + 0.0 AS mu,
                round(CASE WHEN n > 1 AND (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1) > 0
                      THEN (sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1)) * 0.7796968012336293) / 1e6 END, 4) + 0.0 AS beta,
                round(CASE WHEN n > 1 AND (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1) > 0
                      THEN ((CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                          - 0.5772156649015329 * (sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1)) * 0.7796968012336293))
                          - (sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1)) * 0.7796968012336293)
                            * ln(-ln(1.0 - 1.0 / 30.0))) / 1e6 END, 4) + 0.0 AS return_level
         FROM m ORDER BY 1""",
    "q243_silhouette" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         ex AS (SELECT vec_id, label, i - 1 AS dim, v[i] AS x
               FROM e, unnest(range(1, len(v) + 1)) r(i)),
         cent AS (SELECT label AS clab, dim,
                round((CAST(sum(CAST(round((x) * 1000000) AS BIGINT) // 1000000000) AS DOUBLE) * 1000000000.0
                     + CAST(sum(CAST(round((x) * 1000000) AS BIGINT) % 1000000000) AS DOUBLE)) / 100.0 / count(*)) / 10000.0 + 0.0 AS c
               FROM ex GROUP BY 1, 2),
         d2 AS (SELECT ex.vec_id, ex.label, cent.clab,
                CAST(sum(CAST(round((x - c) * (x - c) * 1e12) AS BIGINT)) AS BIGINT) AS d2q
               FROM ex JOIN cent ON ex.dim = cent.dim GROUP BY 1, 2, 3),
         per AS (SELECT vec_id, label,
                min(CASE WHEN clab = label THEN d2q END) AS aq,
                min(CASE WHEN clab <> label THEN d2q END) AS bq
               FROM d2 GROUP BY 1, 2),
         s AS (SELECT label,
                CASE WHEN bq IS NULL THEN 0
                     ELSE CAST(round(CASE WHEN greatest(sqrt(CAST(aq AS DOUBLE) / 1e12), sqrt(CAST(bq AS DOUBLE) / 1e12)) > 0
                          THEN (sqrt(CAST(bq AS DOUBLE) / 1e12) - sqrt(CAST(aq AS DOUBLE) / 1e12))
                             / greatest(sqrt(CAST(aq AS DOUBLE) / 1e12), sqrt(CAST(bq AS DOUBLE) / 1e12))
                          ELSE 0.0 END * 1e12) AS BIGINT) END AS silq
               FROM per)
         SELECT label, count(*) AS n,
                round(CAST(sum(silq) AS DOUBLE) / 1e12 / CAST(count(*) AS DOUBLE), 6) + 0.0 AS mean_silhouette
         FROM s GROUP BY 1 ORDER BY 1""",
    "q244_adjusted_rand" ->
      """WITH cells AS (SELECT lang AS a, source AS b, count(*) AS o FROM documents GROUP BY 1, 2),
         sij AS (SELECT sum(CAST(o AS HUGEINT) * (o - 1) // 2) AS sij, CAST(sum(o) AS BIGINT) AS n FROM cells),
         sa AS (SELECT sum(CAST(ai AS HUGEINT) * (ai - 1) // 2) AS sa
                FROM (SELECT CAST(sum(o) AS BIGINT) AS ai FROM cells GROUP BY a)),
         sb AS (SELECT sum(CAST(bj AS HUGEINT) * (bj - 1) // 2) AS sb
                FROM (SELECT CAST(sum(o) AS BIGINT) AS bj FROM cells GROUP BY b))
         SELECT n,
                round(CASE WHEN (CAST(sa AS DOUBLE) + CAST(sb AS DOUBLE)) / 2.0
                              - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE) / CAST(CAST(n AS HUGEINT) * (n - 1) // 2 AS DOUBLE) <> 0
                      THEN (CAST(sij AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE) / CAST(CAST(n AS HUGEINT) * (n - 1) // 2 AS DOUBLE))
                         / ((CAST(sa AS DOUBLE) + CAST(sb AS DOUBLE)) / 2.0
                              - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE) / CAST(CAST(n AS HUGEINT) * (n - 1) // 2 AS DOUBLE)) END, 6) + 0.0 AS ari
         FROM sij, sa, sb""",
    "q245_local_clustering" ->
      """WITH t AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
           FROM documents),
         sh AS (
           SELECT doc_id, unnest(list_distinct(
             list_transform(range(len(toks) - 2),
               i -> array_to_string(toks[i+1:i+3], ' ')))) AS tok
           FROM t),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         shared AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
           FROM sh a JOIN sh b ON a.tok = b.tok AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         e AS (
           SELECT id_a AS s, id_b AS d
           FROM shared
           JOIN sizes sa ON sa.doc_id = id_a
           JOIN sizes sb ON sb.doc_id = id_b
           WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.9),
         deg AS (SELECT id, count(*) AS deg
                FROM (SELECT s AS id FROM e UNION ALL SELECT d FROM e) GROUP BY 1),
         w AS (SELECT e1.s AS a, e1.d AS b, e2.d AS c
               FROM e e1 JOIN e e2 ON e1.d = e2.s),
         tri AS (SELECT w.a, w.b, w.c FROM w JOIN e ON w.a = e.s AND w.c = e.d),
         pn AS (SELECT id, count(*) AS triangles
               FROM (SELECT a AS id FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri) GROUP BY 1)
         SELECT deg.id, deg.deg, CAST(coalesce(pn.triangles, 0) AS BIGINT) AS triangles,
                round(CAST(coalesce(pn.triangles, 0) AS DOUBLE) * 2
                    / CAST(deg.deg * (deg.deg - 1) AS DOUBLE), 6) + 0.0 AS lcc
         FROM deg LEFT JOIN pn USING (id) WHERE deg.deg >= 2 ORDER BY id""",
    "q246_seasonality_scan" ->
      """WITH daily AS (SELECT event_type AS g, CAST(ts AS DATE) AS day,
                CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS vq
              FROM events GROUP BY 1, 2),
         mn AS (SELECT g, min(day) AS d0 FROM daily GROUP BY 1),
         idx AS (SELECT daily.g, (day - d0) AS di, vq FROM daily JOIN mn USING (g)),
         pp AS (SELECT g, di, vq, p FROM idx, unnest(range(2, 15)) r(p)),
         byc AS (SELECT g, p, di % p AS b, count(*) AS nb, sum(CAST(vq AS HUGEINT)) AS sb
               FROM pp GROUP BY 1, 2, 3),
         tot AS (SELECT g, count(*) AS n, sum(CAST(vq AS HUGEINT)) AS s,
                      sum(CAST(vq AS HUGEINT) * vq) AS qq
               FROM daily GROUP BY 1),
         uq AS (SELECT byc.g, p, n, s, qq,
                CAST(round(CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)
                     / (CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) / CAST(nb AS DOUBLE) * 1e12) AS BIGINT) AS u
               FROM byc JOIN tot ON byc.g = tot.g),
         ag AS (SELECT g, p, n, s, qq, CAST(sum(u) AS BIGINT) AS ssbq FROM uq GROUP BY 1, 2, 3, 4, 5)
         SELECT g AS event_type, CAST(p AS BIGINT) AS period,
                round(CASE WHEN CAST(qq AS DOUBLE) / (CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) - 1.0 / CAST(n AS DOUBLE) > 0
                      THEN (CAST(ssbq AS DOUBLE) / 1e12 - 1.0 / CAST(n AS DOUBLE))
                         / (CAST(qq AS DOUBLE) / (CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) - 1.0 / CAST(n AS DOUBLE)) END, 6) + 0.0 AS strength
         FROM ag ORDER BY 1, 2""",
    "q239_avg_precision" ->
      """WITH q AS (SELECT CAST(round(value / 100 * 1000000) AS BIGINT) AS sq,
                CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y FROM events),
         b AS (SELECT sq, count(*) AS cnt, CAST(sum(y) AS BIGINT) AS pos FROM q GROUP BY 1),
         c AS (SELECT sq, cnt, pos,
                CAST(sum(cnt) OVER (ORDER BY sq DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
                CAST(sum(pos) OVER (ORDER BY sq DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumpos,
                CAST(sum(pos) OVER () AS BIGINT) AS p_total
              FROM b),
         a AS (SELECT CAST(sum(cnt) AS BIGINT) AS n, CAST(sum(pos) AS BIGINT) AS np,
                max(p_total) AS p_total,
                CAST(sum(CASE WHEN pos > 0
                     THEN CAST(round(CAST(pos AS DOUBLE) * CAST(cumpos AS DOUBLE)
                            / (CAST(p_total AS DOUBLE) * CAST(cum AS DOUBLE)) * 1e12) AS BIGINT)
                     ELSE 0 END) AS HUGEINT) AS ap_pico
               FROM c)
         SELECT n, np AS n_pos,
                round(CASE WHEN p_total > 0 THEN CAST(ap_pico AS DOUBLE) / 1e12 END, 6) + 0.0 AS avg_precision
         FROM a""",
    "q240_kendall_tau" ->
      """WITH daily AS (SELECT event_type AS g, CAST(ts AS DATE) AS day,
                CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS vq
              FROM events GROUP BY 1, 2),
         p AS (SELECT a.g, a.vq AS v1, b.vq AS v2
               FROM daily a JOIN daily b ON a.g = b.g AND a.day < b.day),
         agg AS (SELECT g,
                CAST(sum(CASE WHEN v2 > v1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
                CAST(sum(CASE WHEN v2 < v1 THEN 1 ELSE 0 END) AS BIGINT) AS d,
                CAST(sum(CASE WHEN v2 = v1 THEN 1 ELSE 0 END) AS BIGINT) AS ty,
                count(*) AS n0
               FROM p GROUP BY 1),
         nd AS (SELECT g, count(*) AS n_days FROM daily GROUP BY 1)
         SELECT agg.g AS event_type, nd.n_days, c AS concordant, d AS discordant,
                round(CASE WHEN sqrt(CAST(n0 AS DOUBLE) * (CAST(n0 AS DOUBLE) - CAST(ty AS DOUBLE))) > 0
                      THEN CAST(c - d AS DOUBLE)
                         / sqrt(CAST(n0 AS DOUBLE) * (CAST(n0 AS DOUBLE) - CAST(ty AS DOUBLE))) END, 6) + 0.0 AS tau_b
         FROM agg JOIN nd USING (g) ORDER BY 1""",
    "q241_bh_fdr" ->
      """WITH q AS (SELECT event_type AS g, CAST(round(value * 1000000) AS BIGINT) AS vq,
                CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 = 0 THEN 1 ELSE 0 END AS a1
              FROM events),
         m AS (SELECT g, CAST(sum(a1) AS BIGINT) AS n1, CAST(count(*) - sum(a1) AS BIGINT) AS n2,
                sum(CASE WHEN a1 = 1 THEN CAST(vq AS HUGEINT) ELSE 0 END) AS s1,
                sum(CASE WHEN a1 = 0 THEN CAST(vq AS HUGEINT) ELSE 0 END) AS s2,
                sum(CASE WHEN a1 = 1 THEN CAST(vq AS HUGEINT) * vq ELSE 0 END) AS ss1,
                sum(CASE WHEN a1 = 0 THEN CAST(vq AS HUGEINT) * vq ELSE 0 END) AS ss2
               FROM q GROUP BY 1),
         sc AS (SELECT g, n1, n2,
                CASE WHEN n1 > 1 AND n2 > 1
                      AND (CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1) / CAST(n1 AS DOUBLE)
                        + (CAST(ss2 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1) / CAST(n2 AS DOUBLE) > 0
                     THEN (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
                        / sqrt((CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1) / CAST(n1 AS DOUBLE)
                             + (CAST(ss2 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1) / CAST(n2 AS DOUBLE))
                     END AS z
               FROM m),
         pp AS (SELECT g, n1, n2, z,
                CAST(round(2.0 * (1.0 - (1.0 - exp(-abs(z) * abs(z) / 2.0) / 2.5066282746310002
                     * ((1.0 / (1.0 + 0.2316419 * abs(z))) * (0.319381530 + (1.0 / (1.0 + 0.2316419 * abs(z))) * (-0.356563782 + (1.0 / (1.0 + 0.2316419 * abs(z))) * (1.781477937 + (1.0 / (1.0 + 0.2316419 * abs(z))) * (-1.821255978 + (1.0 / (1.0 + 0.2316419 * abs(z))) * 1.330274429))))))) * 1e12) AS BIGINT) AS pq
               FROM sc),
         rk AS (SELECT g, n1, n2, z, pq,
                CAST(sum(CASE WHEN pq IS NOT NULL THEN 1 ELSE 0 END) OVER () AS BIGINT) AS m_tested,
                CASE WHEN pq IS NOT NULL THEN row_number() OVER (ORDER BY pq ASC NULLS LAST, g) END AS p_rank
               FROM pp),
         fl AS (SELECT *, (pq IS NOT NULL AND pq * m_tested <= p_rank * 50000000000) AS pass FROM rk),
         kk AS (SELECT *, max(CASE WHEN pass THEN p_rank END) OVER () AS k FROM fl)
         SELECT g AS event_type, n1, n2, round(z, 4) + 0.0 AS z,
                round(CAST(pq AS DOUBLE) / 1e12, 6) + 0.0 AS p,
                CAST(p_rank AS BIGINT) AS p_rank,
                CAST(CASE WHEN p_rank IS NOT NULL AND k IS NOT NULL AND p_rank <= k THEN 1 ELSE 0 END AS BIGINT) AS rejected
         FROM kk ORDER BY 1""",
    "q242_theil" ->
      """WITH base AS (SELECT source AS g, CAST(round(n_chars * 1000000) AS BIGINT) AS vq
              FROM documents WHERE n_chars > 0),
         sums AS (SELECT g, count(*) AS n, sum(CAST(vq AS HUGEINT)) AS s FROM base GROUP BY 1),
         t AS (SELECT base.g,
                CAST(round((CAST(vq AS DOUBLE) * CAST(n AS DOUBLE) / CAST(s AS DOUBLE))
                     * ln(CAST(vq AS DOUBLE) * CAST(n AS DOUBLE) / CAST(s AS DOUBLE)) * 1e12) AS BIGINT) AS t_pico,
                n
               FROM base JOIN sums ON base.g = sums.g)
         SELECT g AS source, CAST(max(n) AS BIGINT) AS n,
                round(CAST(sum(CAST(t_pico AS HUGEINT)) AS DOUBLE) / 1e12 / CAST(max(n) AS DOUBLE), 6) + 0.0 AS theil
         FROM t GROUP BY 1 ORDER BY 1""",
    "q238_skyline" ->
      """WITH base AS (SELECT o_orderkey,
                CAST(round(o_totalprice * 1000000) AS BIGINT) AS x_q,
                CAST(round((CAST(epoch_us(date_trunc('microseconds', o_orderdate)) AS DOUBLE) / 1e6) * 1000000) AS BIGINT) AS y_q
              FROM orders),
         grp AS (SELECT x_q, max(y_q) AS ymax FROM base GROUP BY 1),
         surv AS (SELECT x_q, ymax AS y_q FROM (
                SELECT x_q, ymax,
                       max(ymax) OVER (ORDER BY x_q DESC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hiy
                FROM grp)
              WHERE hiy IS NULL OR hiy < ymax)
         SELECT b.o_orderkey, b.x_q, b.y_q
         FROM base b JOIN surv USING (x_q, y_q)
         ORDER BY x_q DESC, o_orderkey""",
    "q237_simpson" ->
      """WITH tok AS (SELECT source AS g, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok FROM documents),
         c AS (SELECT g, tok, count(*) AS cnt FROM tok GROUP BY 1, 2),
         m AS (SELECT g, CAST(sum(cnt) AS BIGINT) AS n_tokens,
                      sum(CAST(cnt AS HUGEINT) * (cnt - 1)) AS cc
               FROM c GROUP BY 1),
         s AS (SELECT g AS source, n_tokens,
                      round(CASE WHEN n_tokens > 1
                            THEN CAST(cc AS DOUBLE) / (CAST(n_tokens AS DOUBLE) * (CAST(n_tokens AS DOUBLE) - 1)) END, 6) + 0.0 AS simpson
               FROM m)
         SELECT source, n_tokens, simpson,
                round(CASE WHEN simpson > 0 THEN 1.0 / simpson END, 4) + 0.0 AS inv_simpson
         FROM s ORDER BY source""",
    "q236_decay_popularity" ->
      """WITH a AS (SELECT max(epoch_us(date_trunc('microseconds', ts))) AS amax FROM events),
         t AS (SELECT event_type,
                CAST(round(pow(2.0, -(CAST(amax - epoch_us(date_trunc('microseconds', ts)) AS DOUBLE) / (86400000000.0 * 7))) * 1e6) AS BIGINT) AS t6
              FROM events, a)
         SELECT event_type, count(*) AS n_events,
                round(CAST(sum(CAST(t6 AS HUGEINT)) AS DOUBLE) / 1e6, 4) + 0.0 AS decayed_score
         FROM t GROUP BY event_type ORDER BY event_type""",
    "q234_wasserstein" ->
      """WITH s AS (SELECT CAST(round(value * 1000000) AS BIGINT) AS v,
                CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 = 0 THEN 0 ELSE 1 END AS arm
              FROM events),
         byv AS (SELECT v,
                CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
                CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS d2
              FROM s GROUP BY 1),
         t AS (SELECT CAST(sum(d1) AS BIGINT) AS n_base, CAST(sum(d2) AS BIGINT) AS n_cur FROM byv),
         cum AS (SELECT v,
                sum(d1) OVER (ORDER BY v) AS c1,
                sum(d2) OVER (ORDER BY v) AS c2,
                lead(v) OVER (ORDER BY v) - v AS gap
              FROM byv),
         m AS (SELECT sum(CAST(gap AS HUGEINT) * abs(CAST(c1 AS HUGEINT) * (SELECT n_cur FROM t) - CAST(c2 AS HUGEINT) * (SELECT n_base FROM t))) AS sm
               FROM cum WHERE gap IS NOT NULL)
         SELECT n_base, n_cur,
                round(CAST(sm AS DOUBLE) / (CAST(n_base AS DOUBLE) * CAST(n_cur AS DOUBLE) * 1e6), 6) + 0.0 AS w1
         FROM m, t""",
    "q232_cusum" ->
      """WITH daily AS (SELECT event_type AS g, date_trunc('day', ts) AS day,
                CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS q
              FROM events GROUP BY 1, 2),
         m AS (SELECT g, count(*) AS n_days,
                      CAST(sum(CAST(q AS HUGEINT)) AS DOUBLE) / count(*) AS mu,
                      sqrt(greatest(CAST(sum(CAST(q AS HUGEINT) * q) AS DOUBLE) / count(*)
                        - (CAST(sum(CAST(q AS HUGEINT)) AS DOUBLE) / count(*)) * (CAST(sum(CAST(q AS HUGEINT)) AS DOUBLE) / count(*)), 0.0)) AS sigma
               FROM daily GROUP BY 1),
         sy AS (SELECT daily.g, day, n_days, sigma,
                       CAST(round(CAST(q AS DOUBLE) - mu - 0.5 * sigma) AS BIGINT) AS y,
                       CAST(round(4.0 * sigma) AS BIGINT) AS hq
                FROM daily JOIN m ON m.g = daily.g),
         pp AS (SELECT g, day, n_days, sigma, hq,
                       sum(y) OVER (PARTITION BY g ORDER BY day) AS p
                FROM sy),
         st AS (SELECT g, day, n_days, sigma, hq, p,
                       p - least(CAST(0 AS BIGINT), coalesce(min(p) OVER (PARTITION BY g ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), CAST(0 AS BIGINT))) AS s_t
                FROM pp)
         SELECT g AS event_type, n_days,
                round(CASE WHEN sigma > 0 THEN CAST(max(s_t) AS DOUBLE) / sigma END, 4) + 0.0 AS s_max,
                min(CASE WHEN s_t >= hq AND hq > 0 THEN day END) AS alarm_day
         FROM st GROUP BY g, n_days, sigma ORDER BY event_type""",
    "q229_markov_entropy" ->
      """WITH l AS (
           SELECT user_id, event_type,
             lag(event_type) OVER w AS pt,
             epoch_us(date_trunc('microseconds', ts)) -
               epoch_us(lag(date_trunc('microseconds', ts)) OVER w) AS gap
           FROM events
           WINDOW w AS (PARTITION BY user_id
                        ORDER BY date_trunc('microseconds', ts), event_id)),
         c AS (
           SELECT pt AS from_type, event_type AS to_type, count(*) AS cnt
           FROM l WHERE pt IS NOT NULL AND gap <= 1800000000
           GROUP BY 1, 2),
         byfrom AS (
           SELECT from_type, CAST(sum(cnt) AS BIGINT) AS ns,
                  sum(CAST(round((CASE WHEN cnt > 0 THEN cnt * ln(CAST(cnt AS DOUBLE)) ELSE 0.0 END) * 1e6) AS HUGEINT)) AS sxl6
           FROM c GROUP BY 1),
         h AS (
           SELECT from_type, ns,
                  round(((CASE WHEN ns > 0 THEN ns * ln(CAST(ns AS DOUBLE)) ELSE 0.0 END) - CAST(sxl6 AS DOUBLE) / 1e6)
                        / CAST(ns AS DOUBLE), 6) + 0.0 AS h_next
           FROM byfrom),
         t AS (
           SELECT CAST(sum(ns) AS BIGINT) AS n,
                  sum(CAST(round(h_next * CAST(ns AS DOUBLE) * 1e6) AS HUGEINT)) AS h6
           FROM h)
         SELECT from_type, ns AS n, h_next,
                (SELECT round(CAST(h6 AS DOUBLE) / 1e6 / CAST(n AS DOUBLE), 6) FROM t) + 0.0 AS h_cond
         FROM h ORDER BY from_type""",
    "q230_vocab_richness" ->
      """WITH tok AS (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok FROM documents),
         c AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY 1),
         m AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_tokens, count(*) AS vocab,
                      CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
                      CAST(sum(CASE WHEN cnt = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
               FROM c)
         SELECT n_tokens, vocab, f1, f2,
                round(CAST(vocab AS DOUBLE) + CAST(f1 AS DOUBLE) * (CAST(f1 AS DOUBLE) - 1) / (2.0 * (CAST(f2 AS DOUBLE) + 1)), 2) + 0.0 AS chao1,
                round(CAST(f1 AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) + 0.0 AS gt_unseen_mass
         FROM m""",
    "q231_dispersion" ->
      """WITH daily AS (SELECT event_type, date_trunc('day', ts) AS day, count(*) AS c
              FROM events GROUP BY 1, 2),
         m AS (SELECT event_type, count(*) AS n_days,
                      sum(CAST(c AS HUGEINT)) AS s, sum(CAST(c AS HUGEINT) * c) AS ss
               FROM daily GROUP BY 1)
         SELECT event_type, n_days,
                round(CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE), 4) + 0.0 AS mean_daily,
                round(CASE WHEN CAST(s AS DOUBLE) > 0
                      THEN (CAST(ss AS DOUBLE) / CAST(n_days AS DOUBLE)
                          - (CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE)) * (CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE)))
                         / (CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE)) END, 4) + 0.0 AS dispersion
         FROM m ORDER BY event_type""",
    "q228_mojibake" ->
      """WITH a AS (SELECT source,
                len(text) - len(regexp_replace(text, '[ÃÂâ�]', '', 'g')) AS art
              FROM documents)
         SELECT source, count(*) AS n_docs,
                CAST(sum(CASE WHEN art > 0 THEN 1 ELSE 0 END) AS BIGINT) AS affected_docs,
                CAST(sum(art) AS BIGINT) AS artifact_chars,
                round(CAST(sum(CASE WHEN art > 0 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) + 0.0 AS affected_rate
         FROM a GROUP BY source ORDER BY source""",
    "q226_substring_dup" ->
      """WITH d AS (SELECT doc_id AS doc, source AS src,
                string_split_regex(lower(trim(text)), '\s+') AS toks
              FROM documents),
         w AS (SELECT doc, src,
                md5(array_to_string(toks[CAST(i AS INT):CAST(i AS INT) + 19], ' ')) AS fp
              FROM (SELECT doc, src, toks, unnest(range(1, len(toks) - 18)) AS i
                    FROM d WHERE len(toks) >= 20)
              WHERE ('0x' || substr(md5(toks[CAST(i AS INT)]), 1, 2))::BIGINT % 4 = 0),
         dupfp AS (SELECT fp FROM w GROUP BY fp HAVING count(DISTINCT doc) >= 2),
         wins AS (SELECT src, count(*) AS n_windows FROM w GROUP BY 1),
         dups AS (SELECT src, count(*) AS dup_windows FROM w
                  WHERE fp IN (SELECT fp FROM dupfp) GROUP BY 1),
         docs AS (SELECT source AS src, count(*) AS n_docs FROM documents GROUP BY 1)
         SELECT docs.src AS source, n_docs,
                coalesce(n_windows, 0) AS n_windows,
                coalesce(dup_windows, 0) AS dup_windows,
                CASE WHEN coalesce(n_windows, 0) > 0
                     THEN round(CAST(coalesce(dup_windows, 0) AS DOUBLE) / n_windows, 6) + 0.0 END AS dup_ratio
         FROM docs LEFT JOIN wins ON wins.src = docs.src
                   LEFT JOIN dups ON dups.src = docs.src
         ORDER BY source""",
    "q223_source_cosine" ->
      """WITH c AS (SELECT source AS src, tok, count(*) AS cnt FROM (
                SELECT source, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
                FROM documents) GROUP BY 1, 2),
         norms AS (SELECT src, sum(CAST(cnt AS HUGEINT) * cnt) AS nrm FROM c GROUP BY 1),
         dots AS (SELECT a.src AS sa, b.src AS sb, sum(CAST(a.cnt AS HUGEINT) * b.cnt) AS dot
              FROM c a JOIN c b ON a.tok = b.tok AND a.src < b.src
              GROUP BY 1, 2)
         SELECT sa AS source_a, sb AS source_b,
                round(CAST(dot AS DOUBLE) / sqrt(CAST(na.nrm AS DOUBLE) * CAST(nb.nrm AS DOUBLE)), 6) + 0.0 AS cosine
         FROM dots JOIN norms na ON na.src = dots.sa JOIN norms nb ON nb.src = dots.sb
         ORDER BY source_a, source_b""",
    "q224_assoc_rules" ->
      """WITH b AS (SELECT DISTINCT user_id AS e, event_type AS item FROM events),
         n AS (SELECT count(DISTINCT e) AS nb FROM b),
         supp AS (SELECT item, count(*) AS s FROM b GROUP BY 1),
         pairs AS (SELECT a.item AS item_a, c.item AS item_b, count(*) AS supp_ab
              FROM b a JOIN b c ON a.e = c.e AND a.item < c.item
              GROUP BY 1, 2 HAVING count(*) >= 2),
         directed AS (SELECT item_a AS antecedent, item_b AS consequent, supp_ab FROM pairs
                UNION ALL SELECT item_b, item_a, supp_ab FROM pairs),
         r AS (SELECT d.antecedent, d.consequent, d.supp_ab, sa.s AS supp_a,
                      round(CAST(d.supp_ab AS DOUBLE) / CAST(sa.s AS DOUBLE), 6) + 0.0 AS confidence,
                      round(CAST(d.supp_ab AS DOUBLE) * CAST(n.nb AS DOUBLE) / (CAST(sa.s AS DOUBLE) * CAST(sb.s AS DOUBLE)), 6) + 0.0 AS lift
               FROM directed d
               JOIN supp sa ON sa.item = d.antecedent
               JOIN supp sb ON sb.item = d.consequent
               CROSS JOIN n)
         SELECT * FROM r ORDER BY lift DESC, antecedent, consequent""",
    "q225_infogain" ->
      """WITH src AS (SELECT event_type,
                CAST(dayofweek(ts) AS VARCHAR) AS dow,
                CASE WHEN value > 50 THEN 1 ELSE 0 END AS y
              FROM events),
         f AS (SELECT 'event_type' AS feature, event_type AS v, y FROM src
               UNION ALL SELECT 'dow', dow, y FROM src),
         byv AS (SELECT feature, v, count(*) AS nv, CAST(sum(y) AS BIGINT) AS pv
                 FROM f GROUP BY 1, 2),
         agg AS (SELECT feature,
                        CAST(sum(nv) AS BIGINT) AS n, CAST(sum(pv) AS BIGINT) AS pos,
                        sum(CAST(round(((CASE WHEN nv > 0 THEN nv * ln(CAST(nv AS DOUBLE)) ELSE 0.0 END)
                                      - (CASE WHEN pv > 0 THEN pv * ln(CAST(pv AS DOUBLE)) ELSE 0.0 END)
                                      - (CASE WHEN nv - pv > 0 THEN (nv - pv) * ln(CAST(nv - pv AS DOUBLE)) ELSE 0.0 END)) * 1e6) AS HUGEINT)) AS c6
                 FROM byv GROUP BY 1),
         ent AS (SELECT feature, n,
                        round(((CASE WHEN n > 0 THEN n * ln(CAST(n AS DOUBLE)) ELSE 0.0 END)
                             - (CASE WHEN pos > 0 THEN pos * ln(CAST(pos AS DOUBLE)) ELSE 0.0 END)
                             - (CASE WHEN n - pos > 0 THEN (n - pos) * ln(CAST(n - pos AS DOUBLE)) ELSE 0.0 END)) / CAST(n AS DOUBLE), 6) + 0.0 AS h_label,
                        round(CAST(c6 AS DOUBLE) / 1e6 / CAST(n AS DOUBLE), 6) + 0.0 AS h_cond
                 FROM agg)
         SELECT feature, n, h_label, h_cond, round(h_label - h_cond, 6) + 0.0 AS info_gain
         FROM ent ORDER BY feature""",
    "q147_melt" ->
      """WITH u AS (SELECT metric, val FROM (
           UNPIVOT (SELECT l_quantity, l_extendedprice, l_discount, l_tax FROM lineitem)
           ON l_quantity, l_extendedprice, l_discount, l_tax INTO NAME metric VALUE val))
         SELECT metric, count(*) AS n,
           round((CAST(sum(CAST(round((val) * 1000000) AS BIGINT) // 1000000000) AS DOUBLE) * 1000000000.0 + CAST(sum(CAST(round((val) * 1000000) AS BIGINT) % 1000000000) AS DOUBLE)) / 10000.0) / 100.0 AS total,
           min(val) AS vmin, max(val) AS vmax
         FROM u GROUP BY 1 ORDER BY 1""",
    "q148_kfold" ->
      """WITH f AS (SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 5 AS fold, n_chars FROM documents)
         SELECT fold, count(*) AS n,
           round((CAST(sum(CAST(round((n_chars) * 1000000) AS BIGINT) // 1000000000) AS DOUBLE) * 1000000000.0 + CAST(sum(CAST(round((n_chars) * 1000000) AS BIGINT) % 1000000000) AS DOUBLE)) / 100.0 / count(*)) / 10000.0 AS mean_val
         FROM f GROUP BY 1 ORDER BY 1""",
    "q149_ewma" -> {
      val lags = (1 to 10).map(k => s"lag(vq, $k) OVER w AS v$k").mkString(", ")
      val terms = "vq * 1024 + " +
        (1 to 10).map(k => s"coalesce(v$k, 0) * ${1L << (10 - k)}").mkString(" + ")
      s"""WITH q AS (SELECT user_id, event_id, ts, value, CAST(round(value * 1000000) AS BIGINT) AS vq FROM events),
         l AS (SELECT user_id, event_id, value, vq, $lags,
               least(row_number() OVER w, 11) AS m
               FROM q WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         SELECT user_id, event_id, value,
           round(CAST($terms AS DOUBLE) / CAST(2048 - (1 << CAST(11 - m AS INTEGER)) AS DOUBLE) / 1000000.0, 4) AS ewma
         FROM l ORDER BY user_id, event_id"""
    },
    "q150_attribution" ->
      """WITH p AS (SELECT user_id, min(ts) AS conv_ts FROM events WHERE event_type = 'purchase' GROUP BY 1),
         t AS (SELECT e.user_id, e.event_type AS channel, e.ts, e.event_id
               FROM events e JOIN p ON e.user_id = p.user_id
               WHERE e.ts < p.conv_ts AND e.event_type <> 'purchase'),
         r AS (SELECT channel,
                      row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn_a,
                      row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn_d
               FROM t)
         SELECT channel,
                CAST(sum(CASE WHEN rn_a = 1 THEN 1 ELSE 0 END) AS BIGINT) AS first_touch,
                CAST(sum(CASE WHEN rn_d = 1 THEN 1 ELSE 0 END) AS BIGINT) AS last_touch
         FROM r WHERE rn_a = 1 OR rn_d = 1 GROUP BY 1 ORDER BY 1""",
    "q151_readability" ->
      """WITH c AS (SELECT doc_id,
           len(string_split_regex(lower(trim(text)), '\s+')) AS wd,
           greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), len(string_split_regex(lower(trim(text)), '\s+'))) AS sy,
           greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS st
           FROM documents)
         SELECT doc_id, CAST(wd AS BIGINT) AS n_words, CAST(sy AS BIGINT) AS n_syllables, CAST(st AS BIGINT) AS n_sentences,
           round(206.835 - 1.015 * (CAST(wd AS DOUBLE) / st) - 84.6 * (CAST(sy AS DOUBLE) / wd), 4) AS flesch,
           CASE WHEN round(206.835 - 1.015 * (CAST(wd AS DOUBLE) / st) - 84.6 * (CAST(sy AS DOUBLE) / wd), 4) >= 60 THEN 'easy'
                WHEN round(206.835 - 1.015 * (CAST(wd AS DOUBLE) / st) - 84.6 * (CAST(sy AS DOUBLE) / wd), 4) >= 30 THEN 'medium'
                ELSE 'hard' END AS band
         FROM c ORDER BY doc_id""",
    "q152_freq_pairs" ->
      """WITH b AS (SELECT DISTINCT user_id AS e, event_type AS item FROM events)
         SELECT l.item AS item_a, r.item AS item_b, count(*) AS support
         FROM b l JOIN b r ON l.e = r.e AND l.item < r.item
         GROUP BY 1, 2 HAVING count(*) >= 2
         ORDER BY support DESC, item_a, item_b""",
    "q153_entry_paths" ->
      """WITH r AS (SELECT user_id AS u, event_type AS t,
                row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
              FROM events),
         p AS (SELECT u, string_agg(t, '>' ORDER BY rn) AS path FROM r WHERE rn <= 3 GROUP BY u)
         SELECT path, count(*) AS n_users FROM p GROUP BY 1 ORDER BY n_users DESC, path""",
    "q154_mad_outliers" ->
      """WITH q AS (SELECT event_type AS g, event_id AS tie, CAST(round(value * 1000000) AS BIGINT) AS vq FROM events),
         r AS (SELECT *, row_number() OVER (PARTITION BY g ORDER BY vq, tie) AS rn, count(*) OVER (PARTITION BY g) AS n FROM q),
         m AS (SELECT g, vq AS med FROM r WHERE rn = (n + 1) // 2),
         d AS (SELECT q.g, q.tie, abs(q.vq - m.med) AS dev, m.med FROM q JOIN m ON q.g = m.g),
         r2 AS (SELECT *, row_number() OVER (PARTITION BY g ORDER BY dev, tie) AS rn, count(*) OVER (PARTITION BY g) AS n FROM d),
         md AS (SELECT g, dev AS mad FROM r2 WHERE rn = (n + 1) // 2)
         SELECT d.g AS event_type, count(*) AS n,
                CAST(max(d.med) AS DOUBLE) / 1000000.0 AS median,
                CAST(max(md.mad) AS DOUBLE) / 1000000.0 AS mad,
                CAST(sum(CASE WHEN d.dev > 3 * md.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
         FROM d JOIN md ON d.g = md.g GROUP BY 1 ORDER BY 1""",
    "q155_expectations" ->
      """WITH a AS (SELECT count(*) AS n,
           sum(CASE WHEN user_id IS NOT NULL THEN 0 ELSE 1 END) AS f1,
           sum(CASE WHEN value >= 0 AND value <= 100 THEN 0 ELSE 1 END) AS f2,
           sum(CASE WHEN event_type IN ('view','click','purchase','signup','error') THEN 0 ELSE 1 END) AS f3,
           sum(CASE WHEN json_extract_string(props, '$.k') IS NOT NULL THEN 0 ELSE 1 END) AS f4,
           sum(CASE WHEN ts >= TIMESTAMP '2015-01-01' AND ts < TIMESTAMP '2035-01-01' THEN 0 ELSE 1 END) AS f5
           FROM events),
         u AS (SELECT 'r1_user_not_null' AS rule, n, f1 AS n_failed FROM a
           UNION ALL SELECT 'r2_value_range', n, f2 FROM a
           UNION ALL SELECT 'r3_type_domain', n, f3 FROM a
           UNION ALL SELECT 'r4_props_has_k', n, f4 FROM a
           UNION ALL SELECT 'r5_ts_bounds', n, f5 FROM a)
         SELECT rule, CAST(n AS BIGINT) AS n_checked, CAST(n_failed AS BIGINT) AS n_failed,
                round(CAST(n - n_failed AS DOUBLE) / n, 6) AS pass_rate
         FROM u ORDER BY rule""",
    "q157_prefixspan" ->
      """WITH nu AS (SELECT count(DISTINCT user_id) AS n FROM events),
         s1 AS (SELECT event_type AS pattern, CAST(count(DISTINCT user_id) AS BIGINT) AS freq FROM events GROUP BY 1),
         s2 AS (SELECT a.event_type || '>' || b.event_type AS pattern,
                       CAST(count(DISTINCT a.user_id) AS BIGINT) AS freq
                FROM events a JOIN events b ON a.user_id = b.user_id
                     AND (a.ts < b.ts OR (a.ts = b.ts AND a.event_id < b.event_id))
                GROUP BY 1),
         allp AS (SELECT * FROM s1 UNION ALL SELECT * FROM s2)
         SELECT pattern, freq FROM allp, nu WHERE freq >= ceil(0.4 * n)
         ORDER BY freq DESC, pattern""",
    "q217_audience_overlap" ->
      """WITH tu AS (SELECT DISTINCT event_type AS t, user_id AS u FROM events),
         sizes AS (SELECT t, count(*) AS n FROM tu GROUP BY 1),
         inter AS (SELECT a.t AS ta, b.t AS tb, count(*) AS both
               FROM tu a JOIN tu b ON a.u = b.u AND a.t < b.t
               GROUP BY 1, 2)
         SELECT i.ta, i.tb, CAST(i.both AS BIGINT) AS both,
                round(CAST(i.both AS DOUBLE) / (sa.n + sb.n - i.both), 6) AS jaccard
         FROM inter i JOIN sizes sa ON i.ta = sa.t JOIN sizes sb ON i.tb = sb.t
         ORDER BY i.ta, i.tb""",
    "q215_cohens_kappa" ->
      """WITH j AS (SELECT CASE WHEN value > 50 THEN 1 ELSE 0 END AS a,
                CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50 THEN 1 ELSE 0 END AS b
              FROM events),
         t AS (SELECT count(*) AS n,
                 CAST(sum(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n11,
                 CAST(sum(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n10,
                 CAST(sum(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n01,
                 CAST(sum(CASE WHEN a = 0 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n00
               FROM j)
         SELECT n, n11, n10, n01, n00,
                round(CASE WHEN (CAST(n11 + n10 AS DOUBLE) / n) * (CAST(n11 + n01 AS DOUBLE) / n)
                         + (1.0 - CAST(n11 + n10 AS DOUBLE) / n) * (1.0 - CAST(n11 + n01 AS DOUBLE) / n) <> 1.0
                      THEN (CAST(n11 + n00 AS DOUBLE) / n
                          - ((CAST(n11 + n10 AS DOUBLE) / n) * (CAST(n11 + n01 AS DOUBLE) / n)
                           + (1.0 - CAST(n11 + n10 AS DOUBLE) / n) * (1.0 - CAST(n11 + n01 AS DOUBLE) / n)))
                         / (1.0 - ((CAST(n11 + n10 AS DOUBLE) / n) * (CAST(n11 + n01 AS DOUBLE) / n)
                                 + (1.0 - CAST(n11 + n10 AS DOUBLE) / n) * (1.0 - CAST(n11 + n01 AS DOUBLE) / n))) END, 6) + 0.0 AS kappa
         FROM t""",
    "q216_cohens_d" ->
      """WITH units AS (SELECT user_id AS unit,
                CAST(sum(CASE WHEN event_type = 'purchase' THEN CAST(round(value * 1000000) AS BIGINT) ELSE 0 END) AS BIGINT) AS mq,
                CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 = 0 THEN 1 ELSE 0 END AS arm1
              FROM events GROUP BY user_id),
         a AS (SELECT CAST(sum(arm1) AS BIGINT) AS n1, CAST(count(*) - sum(arm1) AS BIGINT) AS n2,
                      sum(CASE WHEN arm1 = 1 THEN CAST(mq AS HUGEINT) ELSE 0 END) AS s1,
                      sum(CASE WHEN arm1 = 0 THEN CAST(mq AS HUGEINT) ELSE 0 END) AS s2,
                      sum(CASE WHEN arm1 = 1 THEN CAST(mq AS HUGEINT) * mq ELSE 0 END) AS ss1,
                      sum(CASE WHEN arm1 = 0 THEN CAST(mq AS HUGEINT) * mq ELSE 0 END) AS ss2
               FROM units)
         SELECT n1, n2,
                round(CASE WHEN sqrt(((CAST(n1 AS DOUBLE) - 1) * ((CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n1) / (n1 - 1))
                                   + (CAST(n2 AS DOUBLE) - 1) * ((CAST(ss2 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / n2) / (n2 - 1)))
                                  / (CAST(n1 + n2 AS DOUBLE) - 2)) > 0
                      THEN (CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2)
                         / sqrt(((CAST(n1 AS DOUBLE) - 1) * ((CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n1) / (n1 - 1))
                               + (CAST(n2 AS DOUBLE) - 1) * ((CAST(ss2 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / n2) / (n2 - 1)))
                              / (CAST(n1 + n2 AS DOUBLE) - 2)) END, 6) + 0.0 AS cohens_d
         FROM a""",
    "q213_mann_whitney" ->
      """WITH q AS (SELECT CAST(round(value * 1000000) AS BIGINT) AS v,
                CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 = 0 THEN 1 ELSE 0 END AS s1
              FROM events),
         byv AS (SELECT v, CAST(sum(s1) AS BIGINT) AS c1, count(*) AS ct FROM q GROUP BY 1),
         ranked AS (SELECT v, c1, ct,
                2 * CAST(coalesce(sum(ct) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) + ct + 1 AS r2
              FROM byv),
         agg AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
                        CAST(sum(ct) - sum(c1) AS BIGINT) AS n2,
                        sum(CAST(c1 AS HUGEINT) * r2) AS r1x2,
                        sum(CAST(ct AS HUGEINT) * ct * ct - ct) AS tie3
                 FROM ranked)
         SELECT n1, n2,
                round(CAST(r1x2 AS DOUBLE) / 2.0 - CAST(n1 AS DOUBLE) * (n1 + 1) / 2.0, 1) AS u1,
                round(CASE WHEN CAST(n1 AS DOUBLE) * n2 / 12.0 * ((CAST(n1 + n2 AS DOUBLE) + 1) - CAST(tie3 AS DOUBLE) / (CAST(n1 + n2 AS DOUBLE) * (CAST(n1 + n2 AS DOUBLE) - 1))) > 0
                      THEN (CAST(r1x2 AS DOUBLE) / 2.0 - CAST(n1 AS DOUBLE) * (n1 + 1) / 2.0 - CAST(n1 AS DOUBLE) * n2 / 2.0)
                         / sqrt(CAST(n1 AS DOUBLE) * n2 / 12.0 * ((CAST(n1 + n2 AS DOUBLE) + 1) - CAST(tie3 AS DOUBLE) / (CAST(n1 + n2 AS DOUBLE) * (CAST(n1 + n2 AS DOUBLE) - 1)))) END, 4) + 0.0 AS z
         FROM agg""",
    "q214_spearman" ->
      """WITH base AS (SELECT CAST(round(value * 1000000) AS BIGINT) AS x,
                CAST(round(CAST(epoch_us(ts) // 1000000 AS DOUBLE) * 1000000) AS BIGINT) AS y
              FROM events),
         rxv AS (SELECT x AS v, count(*) AS cnt FROM base GROUP BY 1),
         rx AS (SELECT v AS x, 2 * CAST(coalesce(sum(cnt) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) + cnt + 1 AS rx FROM rxv),
         ryv AS (SELECT y AS v, count(*) AS cnt FROM base GROUP BY 1),
         ry AS (SELECT v AS y, 2 * CAST(coalesce(sum(cnt) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) + cnt + 1 AS ry FROM ryv),
         j AS (SELECT rx.rx, ry.ry FROM base JOIN rx ON base.x = rx.x JOIN ry ON base.y = ry.y),
         m AS (SELECT count(*) AS n,
                 sum(CAST(rx AS HUGEINT)) AS sa, sum(CAST(ry AS HUGEINT)) AS sb,
                 sum(CAST(rx AS HUGEINT) * rx) AS saa, sum(CAST(ry AS HUGEINT) * ry) AS sbb,
                 sum(CAST(rx AS HUGEINT) * ry) AS sab
               FROM j)
         SELECT n,
                round(CASE WHEN (CAST(n AS DOUBLE) * CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)) > 0
                            AND (CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)) > 0
                      THEN (CAST(n AS DOUBLE) * CAST(sab AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
                         / sqrt((CAST(n AS DOUBLE) * CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
                              * (CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))) END, 6) + 0.0 AS spearman_rho
         FROM m""",
    "q211_trimmed_mean" ->
      """WITH q AS (SELECT event_type AS g, event_id AS tie, CAST(round(value * 1000000) AS BIGINT) AS vq FROM events),
         r AS (SELECT g, vq, row_number() OVER (PARTITION BY g ORDER BY vq, tie) AS rn,
                      count(*) OVER (PARTITION BY g) AS n
               FROM q),
         f AS (SELECT g, vq, n, CAST(floor(n * 0.05) AS BIGINT) AS k FROM r
               WHERE rn > CAST(floor(n * 0.05) AS BIGINT) AND rn <= n - CAST(floor(n * 0.05) AS BIGINT))
         SELECT g AS event_type, count(*) AS n_kept,
                round(CAST(sum(vq) AS DOUBLE) / 100.0 / count(*)) / 10000.0 AS trimmed_mean
         FROM f GROUP BY 1 ORDER BY 1""",
    "q212_ks_test" ->
      """WITH q AS (SELECT CAST(round(value * 1000000) AS BIGINT) AS vq,
                CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END AS s1 FROM events),
         byv AS (SELECT vq, CAST(sum(s1) AS BIGINT) AS a1, CAST(sum(1 - s1) AS BIGINT) AS a2 FROM q GROUP BY 1),
         cum AS (SELECT vq,
                CAST(sum(a1) OVER (ORDER BY vq ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c1,
                CAST(sum(a2) OVER (ORDER BY vq ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c2
               FROM byv),
         tot AS (SELECT CAST(sum(s1) AS BIGINT) AS n1, CAST(count(*) - sum(s1) AS BIGINT) AS n2 FROM q),
         mx AS (SELECT tot.n1, tot.n2, max(abs(CAST(c1 AS HUGEINT) * tot.n2 - CAST(c2 AS HUGEINT) * tot.n1)) AS m
               FROM cum, tot GROUP BY tot.n1, tot.n2)
         SELECT n1, n2,
                round(CAST(m AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)), 6) AS d,
                round(CAST(m AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
                    * sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE)), 4) AS ks_z
         FROM mx""",
    "q208_logrank" ->
      """WITH u AS (SELECT user_id, min(ts) AS t0,
                min(CASE WHEN event_type = 'purchase' THEN ts END) AS tp, max(ts) AS tl
              FROM events GROUP BY 1),
         dd AS (SELECT CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 = 0 THEN 1 ELSE 0 END AS arm1,
                       CASE WHEN tp IS NOT NULL THEN date_diff('day', CAST(t0 AS DATE), CAST(tp AS DATE))
                            ELSE date_diff('day', CAST(t0 AS DATE), CAST(tl AS DATE)) END AS dur,
                       CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS death
                FROM u),
         g AS (SELECT dur AS t, count(*) AS m, CAST(sum(death) AS BIGINT) AS d,
                      CAST(sum(arm1) AS BIGINT) AS m1, CAST(sum(arm1 * death) AS BIGINT) AS d1
               FROM dd GROUP BY 1),
         r AS (SELECT t, d, d1,
                      CAST(sum(m) OVER (ORDER BY t DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS nt,
                      CAST(sum(m1) OVER (ORDER BY t DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n1t
               FROM g),
         terms AS (SELECT d1,
                      CAST(round(CAST(d AS DOUBLE) * n1t / nt * CAST(1000000000 AS DOUBLE)) AS BIGINT) AS e9,
                      CAST(round((CASE WHEN nt > 1
                          THEN CAST(d AS DOUBLE) * (CAST(n1t AS DOUBLE) / nt) * (1.0 - CAST(n1t AS DOUBLE) / nt)
                             * CAST(nt - d AS DOUBLE) / (nt - 1) ELSE 0.0 END) * CAST(1000000000 AS DOUBLE)) AS BIGINT) AS v9
                   FROM r WHERE d > 0)
         SELECT CAST(sum(d1) AS BIGINT) AS o1,
                round(CAST(sum(e9) AS DOUBLE) / CAST(1000000000 AS DOUBLE), 4) AS e1,
                round(CASE WHEN CAST(sum(v9) AS DOUBLE) > 0
                      THEN (CAST(sum(d1) AS DOUBLE) - CAST(sum(e9) AS DOUBLE) / 1000000000.0)
                         * (CAST(sum(d1) AS DOUBLE) - CAST(sum(e9) AS DOUBLE) / 1000000000.0)
                         / (CAST(sum(v9) AS DOUBLE) / 1000000000.0) END, 4) + 0.0 AS chi2
         FROM terms""",
    "q209_calibration" ->
      """WITH yy AS (SELECT event_id, concat(event_type, '_', CAST(dayofweek(ts) AS VARCHAR)) AS cat,
                   CASE WHEN value > 50 THEN 1 ELSE 0 END AS y
             FROM events),
         s AS (SELECT cat, count(*) AS n, CAST(sum(y) AS BIGINT) AS sy FROM yy GROUP BY 1),
         g AS (SELECT CAST(sum(y) AS DOUBLE) / count(*) AS prior FROM yy),
         scored AS (SELECT yy.event_id, yy.y,
               round((s.sy - yy.y + 10.0 * g.prior) / (s.n - 1 + 10.0), 6) AS enc
             FROM yy JOIN s ON yy.cat = s.cat, g),
         base AS (SELECT CAST(round(enc * 1000000) AS BIGINT) AS sq, y FROM scored),
         b AS (SELECT least(sq // 100000, 9) AS bin, sq, y,
                      CAST(sq - y * 1000000 AS HUGEINT) * (sq - y * 1000000) AS e2
               FROM base),
         tot AS (SELECT CAST(sum(e2) AS DOUBLE) / count(*) / 1000000000000.0 AS brier FROM b)
         SELECT CAST(bin AS BIGINT) AS bin, count(*) AS n,
                round(CAST(sum(sq) AS DOUBLE) / count(*) / 1000000.0, 6) AS mean_score,
                round(CAST(sum(y) AS DOUBLE) / count(*), 6) AS obs_rate,
                round(tot.brier, 6) AS brier
         FROM b, tot GROUP BY bin, tot.brier ORDER BY bin""",
    "q210_lift" ->
      """WITH yy AS (SELECT event_id, concat(event_type, '_', CAST(dayofweek(ts) AS VARCHAR)) AS cat,
                   CASE WHEN value > 50 THEN 1 ELSE 0 END AS y
             FROM events),
         s AS (SELECT cat, count(*) AS n, CAST(sum(y) AS BIGINT) AS sy FROM yy GROUP BY 1),
         g AS (SELECT CAST(sum(y) AS DOUBLE) / count(*) AS prior FROM yy),
         scored AS (SELECT yy.event_id, yy.y,
               round((s.sy - yy.y + 10.0 * g.prior) / (s.n - 1 + 10.0), 6) AS enc
             FROM yy JOIN s ON yy.cat = s.cat, g),
         base AS (SELECT event_id AS id, CAST(round(enc * 1000000) AS BIGINT) AS sq, y FROM scored),
         nn AS (SELECT count(*) AS nn, CAST(sum(y) AS BIGINT) AS resp_total FROM base),
         r AS (SELECT id, sq, y, row_number() OVER (ORDER BY sq DESC, id) AS rn FROM base),
         d AS (SELECT ((rn - 1) * 10) // nn.nn + 1 AS decile, count(*) AS dn, CAST(sum(y) AS BIGINT) AS responders
               FROM r, nn GROUP BY 1)
         SELECT CAST(d.decile AS BIGINT) AS decile, dn AS n, responders,
                round(CAST(responders AS DOUBLE) / dn, 6) AS response_rate,
                round(CAST(responders AS DOUBLE) / dn / (CAST(nn.resp_total AS DOUBLE) / nn.nn), 4) AS lift,
                round(CAST(sum(responders) OVER (ORDER BY d.decile) AS DOUBLE) / nn.resp_total, 6) AS cum_capture
         FROM d, nn ORDER BY decile""",
    "q205_cuped" ->
      """WITH units AS (SELECT user_id AS unit,
                CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN CAST(round(value * 1000000) AS BIGINT) ELSE 0 END) AS BIGINT) AS xq,
                CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN CAST(round(value * 1000000) AS BIGINT) ELSE 0 END) AS BIGINT) AS yq,
                CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 = 0 THEN 'A' ELSE 'B' END AS variant
              FROM events GROUP BY user_id),
         m AS (SELECT count(*) AS n,
                 sum(CAST(xq AS HUGEINT)) AS sx, sum(CAST(yq AS HUGEINT)) AS sy,
                 sum(CAST(xq AS HUGEINT) * xq) AS sxx, sum(CAST(xq AS HUGEINT) * yq) AS sxy, sum(CAST(yq AS HUGEINT) * yq) AS syy,
                 CAST(sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS na,
                 sum(CASE WHEN variant = 'A' THEN CAST(xq AS HUGEINT) ELSE 0 END) AS sxa,
                 sum(CASE WHEN variant = 'A' THEN CAST(yq AS HUGEINT) ELSE 0 END) AS sya
               FROM units)
         SELECT n, na AS n_a, n - na AS n_b,
           round(CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
                 THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) END, 6) + 0.0 AS theta,
           round(CAST(sya AS DOUBLE) / na / 1000000.0, 4) AS mean_y_a,
           round(CAST(sy - sya AS DOUBLE) / (n - na) / 1000000.0, 4) AS mean_y_b,
           round(CAST(sya AS DOUBLE) / na / 1000000.0
               - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                * (CAST(sxa AS DOUBLE) / na / 1000000.0 - CAST(sx AS DOUBLE) / n / 1000000.0), 4) AS mean_adj_a,
           round(CAST(sy - sya AS DOUBLE) / (n - na) / 1000000.0
               - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                * (CAST(sx - sxa AS DOUBLE) / (n - na) / 1000000.0 - CAST(sx AS DOUBLE) / n / 1000000.0), 4) AS mean_adj_b,
           round(CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
                       AND (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
                 THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                    * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                    / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                     * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) END, 6) + 0.0 AS var_reduction
         FROM m""",
    "q206_power" ->
      """WITH units AS (SELECT user_id AS unit,
                max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS conv,
                CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 = 0 THEN 'A' ELSE 'B' END AS variant
              FROM events GROUP BY user_id),
         a AS (SELECT CAST(sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS na,
                      CAST(sum(CASE WHEN variant = 'A' THEN conv ELSE 0 END) AS BIGINT) AS ca,
                      CAST(sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS nb,
                      CAST(sum(CASE WHEN variant = 'B' THEN conv ELSE 0 END) AS BIGINT) AS cb
               FROM units)
         SELECT na AS n_a, nb AS n_b,
                round(CAST(ca AS DOUBLE) / na, 6) AS rate_a,
                round(CAST(cb AS DOUBLE) / nb, 6) AS rate_b,
                CASE WHEN CAST(cb AS DOUBLE) / nb - CAST(ca AS DOUBLE) / na <> 0 THEN
                  CAST(ceil((1.959964 + 0.841621) * (1.959964 + 0.841621)
                    * (CAST(ca AS DOUBLE) / na * (1.0 - CAST(ca AS DOUBLE) / na)
                     + CAST(cb AS DOUBLE) / nb * (1.0 - CAST(cb AS DOUBLE) / nb))
                    / ((CAST(cb AS DOUBLE) / nb - CAST(ca AS DOUBLE) / na) * (CAST(cb AS DOUBLE) / nb - CAST(ca AS DOUBLE) / na))) AS BIGINT) END AS n_required_per_arm
         FROM a""",
    "q207_did" ->
      """WITH c AS (SELECT
           CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16' AND ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 = 0 THEN CAST(round(value * 1000000) AS BIGINT) ELSE 0 END) AS BIGINT) AS stpre,
           CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16' AND ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ntpre,
           CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16' AND ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 = 0 THEN CAST(round(value * 1000000) AS BIGINT) ELSE 0 END) AS BIGINT) AS stpost,
           CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16' AND ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ntpost,
           CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16' AND ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 <> 0 THEN CAST(round(value * 1000000) AS BIGINT) ELSE 0 END) AS BIGINT) AS scpre,
           CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16' AND ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS ncpre,
           CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16' AND ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 <> 0 THEN CAST(round(value * 1000000) AS BIGINT) ELSE 0 END) AS BIGINT) AS scpost,
           CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16' AND ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS ncpost
           FROM events)
         SELECT round(CAST(stpre AS DOUBLE) / ntpre / 1000000.0, 4) AS treat_pre,
                round(CAST(stpost AS DOUBLE) / ntpost / 1000000.0, 4) AS treat_post,
                round(CAST(scpre AS DOUBLE) / ncpre / 1000000.0, 4) AS control_pre,
                round(CAST(scpost AS DOUBLE) / ncpost / 1000000.0, 4) AS control_post,
                round((CAST(stpost AS DOUBLE) / ntpost / 1000000.0 - CAST(stpre AS DOUBLE) / ntpre / 1000000.0)
                    - (CAST(scpost AS DOUBLE) / ncpost / 1000000.0 - CAST(scpre AS DOUBLE) / ncpre / 1000000.0), 4) AS did
         FROM c""",
    "q203_partial_corr" ->
      """WITH per AS (SELECT user_id,
                CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS DOUBLE) AS x,
                CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS DOUBLE) AS y,
                CAST(count(*) AS DOUBLE) AS z
              FROM events GROUP BY 1),
         q AS (SELECT CAST(round(x * 1000000) AS BIGINT) AS x, CAST(round(y * 1000000) AS BIGINT) AS y, CAST(round(z * 1000000) AS BIGINT) AS z FROM per),
         m AS (SELECT count(*) AS n,
                 sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy, sum(CAST(z AS HUGEINT)) AS sz,
                 sum(CAST(x AS HUGEINT) * x) AS sxx, sum(CAST(y AS HUGEINT) * y) AS syy, sum(CAST(z AS HUGEINT) * z) AS szz,
                 sum(CAST(x AS HUGEINT) * y) AS sxy, sum(CAST(x AS HUGEINT) * z) AS sxz, sum(CAST(y AS HUGEINT) * z) AS syz
               FROM q),
         r AS (SELECT n,
                 CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
                       AND (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
                   THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                      / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                           * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) END AS rxy,
                 CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
                       AND (CAST(n AS DOUBLE) * CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE)) > 0
                   THEN (CAST(n AS DOUBLE) * CAST(sxz AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sz AS DOUBLE))
                      / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                           * (CAST(n AS DOUBLE) * CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE))) END AS rxz,
                 CASE WHEN (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
                       AND (CAST(n AS DOUBLE) * CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE)) > 0
                   THEN (CAST(n AS DOUBLE) * CAST(syz AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sz AS DOUBLE))
                      / sqrt((CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
                           * (CAST(n AS DOUBLE) * CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE))) END AS ryz
               FROM m)
         SELECT n, round(rxy, 6) AS r_xy, round(rxz, 6) AS r_xz, round(ryz, 6) AS r_yz,
                round(CASE WHEN (1.0 - rxz * rxz) * (1.0 - ryz * ryz) > 0
                      THEN (rxy - rxz * ryz) / sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz)) END, 6) + 0.0 AS r_xy_given_z
         FROM r""",
    "q204_theil_sen" ->
      """WITH daily AS (SELECT event_type AS g, date_trunc('day', ts) AS day,
                CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS yq
              FROM events GROUP BY 1, 2),
         pairs AS (SELECT a.g, a.day AS d1, b.day AS d2,
                CAST(b.yq - a.yq AS DOUBLE) / date_diff('day', CAST(a.day AS DATE), CAST(b.day AS DATE)) / 1000000.0 AS slope,
                CAST(sign(CAST(b.yq - a.yq AS DOUBLE)) AS BIGINT) AS sgn
              FROM daily a JOIN daily b ON a.g = b.g AND a.day < b.day),
         med AS (SELECT g, slope AS ts_slope FROM (
                   SELECT g, slope, row_number() OVER (PARTITION BY g ORDER BY slope, d1, d2) AS rn,
                          count(*) OVER (PARTITION BY g) AS np
                   FROM pairs) WHERE rn = (np + 1) // 2),
         mk AS (SELECT g, CAST(sum(sgn) AS BIGINT) AS s_stat FROM pairs GROUP BY 1),
         nd AS (SELECT g, count(*) AS n_days FROM daily GROUP BY 1)
         SELECT mk.g AS event_type, nd.n_days, round(med.ts_slope, 6) AS ts_slope, mk.s_stat,
                round(CASE WHEN CAST(nd.n_days AS DOUBLE) * (nd.n_days - 1) * (2 * nd.n_days + 5) / 18.0 > 0
                      THEN CAST(mk.s_stat - sign(mk.s_stat) AS DOUBLE)
                         / sqrt(CAST(nd.n_days AS DOUBLE) * (nd.n_days - 1) * (2 * nd.n_days + 5) / 18.0) END, 4) + 0.0 AS mk_z
         FROM mk JOIN med ON mk.g = med.g JOIN nd ON mk.g = nd.g
         ORDER BY event_type""",
    "q201_chisq_independence" ->
      """WITH cells AS (SELECT event_type AS a, dayofweek(ts) AS b, count(*) AS o FROM events GROUP BY 1, 2),
         rm AS (SELECT a, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY 1),
         cm AS (SELECT b, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY 1),
         t AS (SELECT CAST(sum(o) AS BIGINT) AS n, count(DISTINCT a) AS nr, count(DISTINCT b) AS nc FROM cells),
         terms AS (SELECT t.n, t.nr, t.nc,
                CAST(round(((CAST(o AS DOUBLE) * t.n - CAST(r AS DOUBLE) * c)
                          * (CAST(o AS DOUBLE) * t.n - CAST(r AS DOUBLE) * c)
                          / (CAST(r AS DOUBLE) * c * t.n)
                          - CAST(r AS DOUBLE) * c / t.n)
                         * CAST(1000000000 AS DOUBLE)) AS BIGINT) AS t9
              FROM cells JOIN rm ON cells.a = rm.a JOIN cm ON cells.b = cm.b, t),
         agg AS (SELECT n, nr, nc,
                CAST(sum(t9) AS DOUBLE) / CAST(1000000000 AS DOUBLE) + CAST(n AS DOUBLE) AS chi2d
              FROM terms GROUP BY n, nr, nc)
         SELECT n, nr AS n_rows, nc AS n_cols,
                round(chi2d, 4) AS chi2,
                (nr - 1) * (nc - 1) AS dof,
                round(sqrt(greatest(chi2d, 0.0) / (n * (least(nr, nc) - 1))), 4) AS cramers_v
         FROM agg""",
    "q199_scd2_asof" ->
      """SELECT c_custkey, c_name,
                CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100.0 ELSE c_acctbal END AS c_acctbal,
                c_mktsegment
         FROM customer WHERE c_custkey % 13 <> 0
         UNION ALL
         SELECT c_custkey, c_name, c_acctbal, c_mktsegment
         FROM customer WHERE c_custkey % 13 = 0
         ORDER BY c_custkey""",
    "q200_daily_quartiles" ->
      """WITH q AS (SELECT date_trunc('day', ts) AS day, event_id, CAST(round(value * 1000000) AS BIGINT) AS vq FROM events),
         r AS (SELECT day, vq,
                      row_number() OVER (PARTITION BY day ORDER BY vq, event_id) AS rn,
                      count(*) OVER (PARTITION BY day) AS n
               FROM q)
         SELECT day, max(n) AS n,
                CAST(max(CASE WHEN rn = ceil(n / 4) THEN vq END) AS DOUBLE) / 1000000.0 AS q1,
                CAST(max(CASE WHEN rn = ceil(n / 2) THEN vq END) AS DOUBLE) / 1000000.0 AS q2,
                CAST(max(CASE WHEN rn = ceil(n * 3 / 4) THEN vq END) AS DOUBLE) / 1000000.0 AS q3
         FROM r GROUP BY day ORDER BY day""",
    "q198_seasonality" ->
      """WITH q AS (SELECT event_type, dayofweek(ts) AS dow, CAST(round(value * 1000000) AS BIGINT) AS vq FROM events),
         d AS (SELECT event_type, CAST(dow AS BIGINT) AS dow, CAST(sum(vq) AS BIGINT) AS sq, count(*) AS n FROM q GROUP BY 1, 2),
         o AS (SELECT event_type, CAST(sum(vq) AS BIGINT) AS tq, count(*) AS tn FROM q GROUP BY 1)
         SELECT d.event_type, d.dow, d.n,
                round(CAST(d.sq AS DOUBLE) / d.n / (CAST(o.tq AS DOUBLE) / o.tn), 6) AS season_index
         FROM d JOIN o ON d.event_type = o.event_type
         ORDER BY d.event_type, d.dow""",
    "q197_changepoint" ->
      """WITH daily AS (SELECT event_type AS k, date_trunc('day', ts) AS day,
                CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS yq
              FROM events GROUP BY 1, 2),
         pre AS (SELECT k, day, yq,
                row_number() OVER w AS t,
                sum(CAST(yq AS HUGEINT)) OVER (PARTITION BY k ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sa,
                sum(CAST(yq AS HUGEINT) * yq) OVER (PARTITION BY k ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS saa,
                count(*) OVER (PARTITION BY k) AS n,
                sum(CAST(yq AS HUGEINT)) OVER (PARTITION BY k) AS ta,
                sum(CAST(yq AS HUGEINT) * yq) OVER (PARTITION BY k) AS taa,
                lead(day, 1) OVER w AS next_day
              FROM daily WINDOW w AS (PARTITION BY k ORDER BY day)),
         cands AS (SELECT k, next_day, t,
                CAST(t AS DOUBLE) AS nl, CAST(n - t AS DOUBLE) AS nr,
                CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) / CAST(t AS DOUBLE)
                  + CAST(taa - saa AS DOUBLE) - CAST(ta - sa AS DOUBLE) * CAST(ta - sa AS DOUBLE) / CAST(n - t AS DOUBLE) AS sse,
                CAST(sa AS DOUBLE) / CAST(t AS DOUBLE) / 1000000.0 AS mb,
                CAST(ta - sa AS DOUBLE) / CAST(n - t AS DOUBLE) / 1000000.0 AS ma
              FROM pre WHERE t < n),
         best AS (SELECT k, next_day, sse, mb, ma,
                row_number() OVER (PARTITION BY k ORDER BY sse, t) AS rk
              FROM cands)
         SELECT k AS event_type, next_day AS break_day,
                round(mb * 10000.0) / 10000.0 AS mean_before,
                round(ma * 10000.0) / 10000.0 AS mean_after,
                round(sse / 1000000000000.0 * 10000.0) / 10000.0 AS sse
         FROM best WHERE rk = 1 ORDER BY event_type""",
    "q196_dedup_provenance" ->
      """WITH fps AS (
           SELECT doc_id,
                  md5(array_to_string(list_sort(list_distinct(
                    string_split_regex(lower(trim(text)), '\s+'))), ' ')) AS fp
           FROM documents),
         g AS (SELECT fp, min(doc_id) AS keep_id, list_sort(list(doc_id)) AS all_ids
               FROM fps GROUP BY fp HAVING count(*) >= 2)
         SELECT keep_id, array_to_string(all_ids[2:], ',') AS dropped_ids,
                CAST(len(all_ids) - 1 AS BIGINT) AS n_dropped
         FROM g ORDER BY keep_id""",
    "q194_window_surface" ->
      """WITH r AS (SELECT event_id, event_type, value,
                round(percent_rank() OVER w, 6) AS pct_rank,
                round(cume_dist() OVER w, 6) AS cume,
                first_value(value) OVER (PARTITION BY event_type ORDER BY value, event_id ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS prev_val,
                last_value(value) OVER (PARTITION BY event_type ORDER BY value, event_id ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS next_val,
                coalesce(lead(value, 1) OVER w, -1.0) AS lead_or_default
              FROM events
              WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id))
         SELECT * FROM r WHERE event_id % 100 = 0 ORDER BY event_id""",
    "q193_retrieval_eval" ->
      """WITH q AS (SELECT doc_id AS qid, unnest(list_distinct(string_split_regex(lower(trim(text)), '\s+')[1:5])) AS token
               FROM documents WHERE doc_id % 25 = 0),
         d AS (SELECT doc_id AS doc, unnest(list_distinct(string_split_regex(lower(trim(text)), '\s+'))) AS token
               FROM documents),
         s AS (SELECT qid, doc, count(*) AS score FROM q JOIN d ON q.token = d.token GROUP BY 1, 2),
         r AS (SELECT qid, doc, row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc) AS rank FROM s),
         t AS (SELECT qid, rank FROM r WHERE rank <= 10 AND doc = qid),
         g AS (SELECT qid, CAST(round(CAST(1000000000 AS DOUBLE) / rank) AS BIGINT) AS mrr9,
                      CAST(round(CAST(1000000000 AS DOUBLE) * (CASE rank WHEN 1 THEN 1.0 WHEN 2 THEN 0.630929754
                        WHEN 3 THEN 0.5 WHEN 4 THEN 0.430676558 WHEN 5 THEN 0.386852807
                        WHEN 6 THEN 0.356207187 WHEN 7 THEN 0.333333333 WHEN 8 THEN 0.315464877
                        WHEN 9 THEN 0.301029996 WHEN 10 THEN 0.289064826 END)) AS BIGINT) AS ndcg9
               FROM t),
         n AS (SELECT count(*) AS n_queries FROM documents WHERE doc_id % 25 = 0),
         a AS (SELECT CAST(count(*) AS BIGINT) AS hits,
                      CAST(coalesce(sum(mrr9), 0) AS BIGINT) AS m,
                      CAST(coalesce(sum(ndcg9), 0) AS BIGINT) AS nd FROM g)
         SELECT n.n_queries,
                round(CAST(a.m AS DOUBLE) / n.n_queries / 1000000000.0, 6) AS mrr,
                round(CAST(a.hits AS DOUBLE) / n.n_queries, 6) AS recall_at_k,
                round(CAST(a.nd AS DOUBLE) / n.n_queries / 1000000000.0, 6) AS ndcg
         FROM n, a""",
    "q192_keyframes" ->
      """WITH f AS (
           SELECT doc_id AS media_id, i AS frame_idx,
                  substr(text, CAST(i * 64 + 1 AS INTEGER), 64) AS frame
           FROM documents, unnest(range(0, CAST(ceil(length(text) / 64.0) AS BIGINT))) r(i)),
         cells AS (
           SELECT media_id, frame_idx, j,
                  CASE WHEN length(frame) = 0 THEN 0
                       ELSE ord(substr(frame, CAST((j * length(frame)) // 64 AS INTEGER) + 1, 1)) END AS cell
           FROM f, unnest(range(0, 64)) s(j)),
         tot AS (SELECT media_id, frame_idx, sum(cell) AS total FROM cells GROUP BY 1, 2),
         bits AS (SELECT c.media_id, c.frame_idx, c.j,
                         CASE WHEN c.cell * 64 > t.total THEN 1 ELSE 0 END AS b
                  FROM cells c JOIN tot t ON c.media_id = t.media_id AND c.frame_idx = t.frame_idx),
         keys AS (SELECT media_id, frame_idx,
                         CAST(sum(CASE WHEN j // 16 = 0 THEN CAST(b AS BIGINT) << CAST(j % 16 AS INTEGER) ELSE 0 END) AS BIGINT) AS k0,
                         CAST(sum(CASE WHEN j // 16 = 1 THEN CAST(b AS BIGINT) << CAST(j % 16 AS INTEGER) ELSE 0 END) AS BIGINT) AS k1,
                         CAST(sum(CASE WHEN j // 16 = 2 THEN CAST(b AS BIGINT) << CAST(j % 16 AS INTEGER) ELSE 0 END) AS BIGINT) AS k2,
                         CAST(sum(CASE WHEN j // 16 = 3 THEN CAST(b AS BIGINT) << CAST(j % 16 AS INTEGER) ELSE 0 END) AS BIGINT) AS k3
                  FROM bits GROUP BY 1, 2),
         l AS (SELECT media_id, frame_idx, k0, k1, k2, k3,
                      lag(k0) OVER w AS p0, lag(k1) OVER w AS p1,
                      lag(k2) OVER w AS p2, lag(k3) OVER w AS p3
               FROM keys WINDOW w AS (PARTITION BY media_id ORDER BY frame_idx)),
         h AS (SELECT media_id, frame_idx, k0, k1, k2, k3,
                      CASE WHEN p0 IS NULL THEN 64
                           ELSE bit_count(xor(k0, p0)) + bit_count(xor(k1, p1)) + bit_count(xor(k2, p2)) + bit_count(xor(k3, p3)) END AS hamming
               FROM l)
         SELECT media_id, frame_idx, k0, k1, k2, k3, CAST(hamming AS BIGINT) AS hamming
         FROM h WHERE hamming > 10 OR frame_idx = 0
         ORDER BY media_id, frame_idx""",
    "q190_dead_letter" ->
      """SELECT CASE WHEN NOT coalesce(json_extract_string(props, '$.k') IS NOT NULL, false) THEN 'props_k'
                     WHEN NOT coalesce(value >= 0 AND value <= 100, false) THEN 'value_range'
                     WHEN NOT coalesce(ts >= TIMESTAMP '2015-01-01' AND ts < TIMESTAMP '2035-01-01', false) THEN 'ts_bounds'
                     ELSE 'ok' END AS reject_reason, count(*) AS n
         FROM events GROUP BY 1 ORDER BY 1""",
    "q191_disorder_audit" ->
      """WITH s AS (SELECT user_id, event_id, epoch_us(ts) AS tus,
                max(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_max
              FROM events),
         b AS (SELECT CASE WHEN prior_max > tus THEN prior_max - tus ELSE 0 END AS backstep, event_id FROM s),
         l AS (SELECT backstep, row_number() OVER (ORDER BY backstep, event_id) AS rn, count(*) OVER () AS n FROM b WHERE backstep > 0),
         p AS (SELECT coalesce(max(CASE WHEN rn = least(CAST(ceil((n + 1) * 0.99) AS BIGINT), n) THEN backstep END), 0) AS p99b FROM l)
         SELECT (SELECT count(*) FROM b) AS n_events,
                (SELECT CAST(sum(CASE WHEN backstep > 0 THEN 1 ELSE 0 END) AS BIGINT) FROM b) AS n_disordered,
                (SELECT round(CAST(max(backstep) AS DOUBLE) / 1000000.0, 6) FROM b) AS max_backstep_sec,
                round(CAST(p99b AS DOUBLE) / 1000000.0, 6) AS p99_backstep_sec
         FROM p""",
    "q187_lang_rebalance" ->
      """WITH counts AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
         sh AS (SELECT * FROM (VALUES ('en', 0.4), ('de', 0.15), ('es', 0.15), ('fr', 0.15), ('zh', 0.15)) s(lang, share)),
         j AS (SELECT c.lang, c.n, CAST(sh.share AS DOUBLE) AS share FROM counts c JOIN sh ON c.lang = sh.lang),
         m AS (SELECT min(floor(n / share)) AS m FROM j),
         q AS (SELECT lang, CAST(round(share * m.m) AS BIGINT) AS k FROM j, m),
         r AS (SELECT doc_id, d.lang,
                      row_number() OVER (PARTITION BY d.lang
                        ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT, doc_id) AS rn
               FROM documents d)
         SELECT r.doc_id, r.lang FROM r JOIN q ON r.lang = q.lang WHERE rn <= q.k ORDER BY doc_id""",
    "q188_token_budget" ->
      """WITH d AS (SELECT doc_id,
           round((
             least(len(string_split_regex(lower(trim(text)), '\s+')), 50) / 50.0
             + (1.0 - len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) * 1.0
                    / greatest(length(text), 1))
             + len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                   t -> list_contains(['the','a','of','and','to','in','is'], t))) * 1.0
               / greatest(len(string_split_regex(lower(trim(text)), '\s+')), 1)
           ) / 3.0, 4) AS q,
           CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS n_tokens
           FROM documents),
         c AS (SELECT doc_id, n_tokens,
                      sum(n_tokens) OVER (ORDER BY q DESC, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
               FROM d)
         SELECT doc_id, n_tokens FROM c WHERE cum <= 10000 ORDER BY doc_id""",
    "q189_churn_labels" ->
      """WITH uw AS (SELECT DISTINCT user_id AS "user", date_trunc('week', ts) AS week FROM events),
         h AS (SELECT max(week) AS hh FROM uw),
         l AS (SELECT "user", week, row_number() OVER (PARTITION BY "user" ORDER BY week) AS na,
                      lead(week, 1) OVER (PARTITION BY "user" ORDER BY week) AS nxt
               FROM uw)
         SELECT "user", week, CAST(na AS BIGINT) AS n_weeks_active_so_far,
                (nxt IS NULL OR date_diff('day', CAST(week AS DATE), CAST(nxt AS DATE)) > 7) AS churned
         FROM l, h WHERE week < hh ORDER BY "user", week""",
    "q184_sql_lateral" ->
      """SELECT token, count(*) AS n
         FROM (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS token FROM documents) t
         WHERE length(token) >= 6
           AND EXISTS (SELECT 1 FROM events e WHERE e.user_id = t.doc_id % 100 AND e.event_type = 'purchase')
         GROUP BY token ORDER BY n DESC, token LIMIT 20""",
    "q185_pareto" ->
      """WITH per AS (SELECT event_type, CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS vq FROM events GROUP BY 1),
         tot AS (SELECT sum(vq) AS tq FROM per),
         c AS (SELECT event_type, vq,
                      CAST(sum(vq) OVER (ORDER BY vq DESC, event_type ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
                      CAST(coalesce(sum(vq) OVER (ORDER BY vq DESC, event_type ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prevcum
               FROM per)
         SELECT event_type,
                round(CAST(vq AS DOUBLE) / 10000.0) / 100.0 AS revenue,
                round(CAST(cum AS DOUBLE) / tq, 6) AS cum_share,
                CAST(prevcum AS DOUBLE) / tq < 0.8 AS in_top80
         FROM c, tot ORDER BY cum_share""",
    "q186_slo_burn" ->
      """SELECT date_trunc('day', ts) AS day, count(*) AS n,
         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS errors,
         round(CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS error_rate,
         round(CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS DOUBLE) / count(*) / 0.01, 4) AS burn_rate,
         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS DOUBLE) / count(*) > 0.01 AS burning
         FROM events GROUP BY 1 ORDER BY 1""",
    "q182_growth_accounting" ->
      """WITH ud AS (SELECT DISTINCT user_id AS u, date_trunc('day', ts) AS day FROM events),
         fd AS (SELECT u, min(day) AS fd FROM ud GROUP BY 1),
         d AS (SELECT day, count(*) AS n_active,
                      CAST(sum(CASE WHEN day = fd THEN 1 ELSE 0 END) AS BIGINT) AS n_new
               FROM ud JOIN fd ON ud.u = fd.u GROUP BY 1)
         SELECT day, n_active, n_new, n_active - n_new AS n_returning,
                CAST(sum(n_new) OVER (ORDER BY day) AS BIGINT) AS cum_users
         FROM d ORDER BY day""",
    "q183_rfm" ->
      """WITH per AS (SELECT user_id AS u, max(epoch_us(ts)) AS last_ts, count(*) AS freq,
                CAST(sum(CASE WHEN event_type = 'purchase' THEN CAST(round(value * 1000000) AS BIGINT) ELSE 0 END) AS BIGINT) AS mon
              FROM events GROUP BY 1),
         q AS (SELECT u,
                      ((row_number() OVER (ORDER BY last_ts, u) - 1) * 5) // (count(*) OVER ()) + 1 AS r,
                      ((row_number() OVER (ORDER BY freq, u) - 1) * 5) // (count(*) OVER ()) + 1 AS f,
                      ((row_number() OVER (ORDER BY mon, u) - 1) * 5) // (count(*) OVER ()) + 1 AS m
               FROM per)
         SELECT CAST(r AS BIGINT) AS r, CAST(f AS BIGINT) AS f, CAST(m AS BIGINT) AS m, count(*) AS n_users
         FROM q GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""",
    "q178_conformal" ->
      """WITH base AS (SELECT event_type AS g, event_id AS id, CAST(round(value * 1000000) AS BIGINT) AS vq, event_id % 2 AS par FROM events),
         calib AS (SELECT * FROM base WHERE par = 0),
         ev AS (SELECT * FROM base WHERE par = 1),
         pred AS (SELECT g, CAST(sum(vq) AS BIGINT) AS sv, count(*) AS nc FROM calib GROUP BY 1),
         scored AS (SELECT c.g, c.id, abs(c.vq * p.nc - p.sv) AS resn, p.nc FROM calib c JOIN pred p ON c.g = p.g),
         r AS (SELECT g, resn, row_number() OVER (PARTITION BY g ORDER BY resn, id) AS rn, nc FROM scored),
         qh AS (SELECT g, resn AS qn FROM r WHERE rn = CAST(ceil((nc + 1) * 0.9) AS BIGINT))
         SELECT e.g AS event_type, max(p.nc) AS n_calib,
                round(max(CAST(p.sv AS DOUBLE) / p.nc) / 1000000.0, 4) AS pred,
                round(max(CAST(q.qn AS DOUBLE) / p.nc) / 1000000.0, 4) AS qhat,
                round(CAST(sum(CASE WHEN abs(e.vq * p.nc - p.sv) <= q.qn THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS coverage
         FROM ev e JOIN pred p ON e.g = p.g JOIN qh q ON e.g = q.g
         GROUP BY 1 ORDER BY 1""",
    "q175_target_encode" ->
      """WITH y AS (SELECT event_id, event_type, CASE WHEN value > 50 THEN 1 ELSE 0 END AS y FROM events),
         s AS (SELECT event_type, count(*) AS n, CAST(sum(y) AS BIGINT) AS sy FROM y GROUP BY 1),
         g AS (SELECT CAST(sum(y) AS DOUBLE) / count(*) AS prior FROM y)
         SELECT y.event_id, y.event_type,
                round((s.sy - y.y + 10.0 * g.prior) / (s.n - 1 + 10.0), 6) AS target_enc
         FROM y JOIN s ON y.event_type = s.event_type, g ORDER BY y.event_id""",
    "q176_k_anonymity" ->
      """WITH c AS (SELECT count(*) AS n
           FROM events
           GROUP BY event_type, date_trunc('day', ts), CAST(round(value * 1000000) AS BIGINT) // 100000000)
         SELECT CAST(sum(n) AS BIGINT) AS n_rows, count(*) AS n_classes,
                min(n) AS k_min,
                CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT) AS classes_below_k,
                CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT) AS rows_below_k
         FROM c""",
    "q177_temporal_split" ->
      """WITH r AS (SELECT ts, row_number() OVER (ORDER BY ts, event_id) AS rn, count(*) OVER () AS n FROM events),
         s AS (SELECT ts, CASE WHEN rn <= CAST(floor(n * 0.8) AS BIGINT) THEN 'train' ELSE 'test' END AS split FROM r)
         SELECT CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
                CAST(sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS n_test,
                max(CASE WHEN split = 'train' THEN ts END) AS train_end,
                min(CASE WHEN split = 'test' THEN ts END) AS test_start,
                max(CASE WHEN split = 'train' THEN ts END) <= min(CASE WHEN split = 'test' THEN ts END) AS no_leakage
         FROM s""",
    "q171_benford" ->
      """WITH d AS (SELECT CAST(substr(CAST(CAST(round(value * 1000000) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
           FROM events WHERE value > 0),
         g AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
         t AS (SELECT sum(n) AS tot FROM g)
         SELECT digit, n, round(CAST(n AS DOUBLE) / tot, 4) AS share,
           CAST(CASE digit WHEN 1 THEN 0.30103 WHEN 2 THEN 0.176091 WHEN 3 THEN 0.124939
            WHEN 4 THEN 0.09691 WHEN 5 THEN 0.079181 WHEN 6 THEN 0.066947
            WHEN 7 THEN 0.057992 WHEN 8 THEN 0.051153 WHEN 9 THEN 0.045757 END AS DOUBLE) AS benford
         FROM g, t ORDER BY digit""",
    "q172_gini" ->
      """WITH q AS (SELECT event_type AS g, event_id AS tie, CAST(round(value * 1000000) AS BIGINT) AS vq FROM events),
         r AS (SELECT g, vq, row_number() OVER (PARTITION BY g ORDER BY vq, tie) AS i FROM q),
         s AS (SELECT g AS event_type, count(*) AS n, sum(CAST(vq AS HUGEINT)) AS sx,
                      sum(CAST(i AS HUGEINT) * vq) AS six FROM r GROUP BY 1)
         SELECT event_type, n,
           round(CASE WHEN sx > 0 THEN (2.0 * CAST(six AS DOUBLE) - CAST(n + 1 AS DOUBLE) * CAST(sx AS DOUBLE))
                                       / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE)) END, 4) + 0.0 AS gini
         FROM s ORDER BY 1""",
    "q173_session_stats" ->
      """WITH o AS (SELECT user_id, ts,
                  CASE WHEN lag(ts) OVER w IS NULL OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS ns
              FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         s AS (SELECT user_id, ts, sum(ns) OVER (PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS session_id FROM o),
         g AS (SELECT user_id, session_id, min(ts) AS st, max(ts) AS en, count(*) AS n FROM s GROUP BY 1, 2)
         SELECT date_trunc('day', st) AS day, count(*) AS n_sessions,
                round(CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS bounce_rate,
                round(CAST(sum(epoch_us(en) - epoch_us(st)) AS DOUBLE) / count(*) / 1000000.0, 2) AS mean_duration_sec
         FROM g GROUP BY 1 ORDER BY 1""",
    "q167_trend_lines" ->
      """WITH m AS (SELECT event_type, min(epoch_us(ts) // 1000000) AS t0 FROM events GROUP BY 1),
         q AS (SELECT e.event_type, epoch_us(e.ts) // 1000000 - m.t0 AS xc, CAST(round(value * 1000000) AS BIGINT) AS yq
               FROM events e JOIN m ON e.event_type = m.event_type),
         s AS (SELECT event_type, count(*) AS n, sum(CAST(xc AS HUGEINT)) AS sx, sum(CAST(yq AS HUGEINT)) AS sy,
                      sum(CAST(xc AS HUGEINT) * yq) AS sxy, sum(CAST(xc AS HUGEINT) * xc) AS sxx
               FROM q GROUP BY 1)
         SELECT event_type, n,
           round(CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <> 0
                 THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * 86400.0 / 1000000.0 END, 6) + 0.0 AS slope_per_day,
           round(CAST(sy AS DOUBLE) / n / 1000000.0, 6) AS mean_val
         FROM s ORDER BY 1""",
    "q168_cohort_ltv" ->
      """WITH c AS (SELECT user_id, date_trunc('week', min(ts)) AS cohort_week FROM events GROUP BY 1),
         r AS (SELECT c.cohort_week,
                      date_diff('day', CAST(c.cohort_week AS DATE), CAST(date_trunc('week', e.ts) AS DATE)) // 7 AS week_k,
                      CAST(round(e.value * 1000000) AS BIGINT) AS vq
               FROM events e JOIN c ON e.user_id = c.user_id WHERE e.event_type = 'purchase'),
         g AS (SELECT cohort_week, CAST(week_k AS BIGINT) AS week_k, sum(vq) AS rq FROM r GROUP BY 1, 2)
         SELECT CAST(cohort_week AS DATE) AS cohort_week, week_k,
                round(CAST(rq AS DOUBLE) / 10000.0) / 100.0 AS revenue,
                round(CAST(sum(rq) OVER (PARTITION BY cohort_week ORDER BY week_k) AS DOUBLE) / 10000.0) / 100.0 AS cum_revenue
         FROM g ORDER BY 1, 2""",
    "q169_autocorr" ->
      """WITH daily AS (SELECT event_type, date_trunc('day', ts) AS day, sum(CAST(round(value * 1000000) AS BIGINT)) AS yq FROM events GROUP BY 1, 2),
         p AS (SELECT event_type, yq, lag(yq, 1) OVER (PARTITION BY event_type ORDER BY day) AS yprev FROM daily),
         f AS (SELECT * FROM p WHERE yprev IS NOT NULL),
         s AS (SELECT event_type, count(*) AS n, sum(CAST(yq AS HUGEINT)) AS sa, sum(CAST(yprev AS HUGEINT)) AS sb,
                      sum(CAST(yq AS HUGEINT) * yprev) AS sab, sum(CAST(yq AS HUGEINT) * yq) AS saa,
                      sum(CAST(yprev AS HUGEINT) * yprev) AS sbb
               FROM f GROUP BY 1)
         SELECT event_type, n AS n_days,
           round(CASE WHEN CAST(n AS DOUBLE) * CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) > 0
                       AND CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) > 0
                 THEN (CAST(n AS DOUBLE) * CAST(sab AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
                    / sqrt((CAST(n AS DOUBLE) * CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
                         * (CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))) END, 6) + 0.0 AS autocorr
         FROM s ORDER BY 1""",
    "q170_join_size" ->
      """WITH a AS (SELECT l_orderkey AS key, count(*) AS ca FROM lineitem GROUP BY 1),
         b AS (SELECT o_orderkey AS key, count(*) AS cb FROM orders GROUP BY 1),
         j AS (SELECT coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb FROM a FULL OUTER JOIN b ON a.key = b.key)
         SELECT CAST(sum(ca) AS BIGINT) AS n_left, CAST(sum(cb) AS BIGINT) AS n_right,
                CAST(sum(CASE WHEN ca > 0 AND cb > 0 THEN 1 ELSE 0 END) AS BIGINT) AS matched_keys,
                CAST(sum(CASE WHEN cb = 0 THEN 1 ELSE 0 END) AS BIGINT) AS left_only_keys,
                CAST(sum(CASE WHEN ca = 0 THEN 1 ELSE 0 END) AS BIGINT) AS right_only_keys,
                CAST(sum(CAST(ca AS HUGEINT) * cb) AS BIGINT) AS est_inner_rows,
                CAST(max(ca * cb) AS BIGINT) AS max_key_contrib
         FROM j""",
    "q162_stream_expectations" ->
      """SELECT date_trunc('day', ts) AS window_start, count(*) AS n_checked,
         CAST(sum(CASE WHEN value >= 0 AND value <= 100 THEN 0 ELSE 1 END) AS BIGINT) AS fail_value_range,
         CAST(sum(CASE WHEN event_type IN ('view','click','purchase','signup','error') THEN 0 ELSE 1 END) AS BIGINT) AS fail_type_domain
         FROM events GROUP BY 1 ORDER BY 1""",
    "q163_interval_overlap" ->
      """WITH act AS (SELECT user_id, date_trunc('day', ts) AS day,
                epoch_us(min(ts)) // 1000000 AS a_start,
                epoch_us(max(ts)) // 1000000 AS a_end
              FROM events GROUP BY 1, 2),
         err AS (SELECT event_id, epoch_us(ts) // 1000000 - 1800 AS b_start,
                        epoch_us(ts) // 1000000 + 1800 AS b_end
                 FROM events WHERE event_type = 'error')
         SELECT act.user_id, count(*) AS n_overlaps
         FROM act JOIN err ON act.a_start <= err.b_end AND err.b_start <= act.a_end
         GROUP BY 1 ORDER BY 1""",
    "q164_incremental_agg" ->
      """SELECT event_type AS key, count(*) AS n,
         round((CAST(sum(CAST(round((value) * 1000000) AS BIGINT) // 1000000000) AS DOUBLE) * 1000000000.0 + CAST(sum(CAST(round((value) * 1000000) AS BIGINT) % 1000000000) AS DOUBLE)) / 100.0) / 10000.0 AS total,
         min(value) AS vmin, max(value) AS vmax
         FROM events GROUP BY 1 ORDER BY 1""",
    "q165_matryoshka" -> {
      def dot(t: String, d: String) = {
        val prod = t match {
          case "ab" => "va[i] * vb[i]"
          case "aa" => "va[i] * va[i]"
          case _ => "vb[i] * vb[i]"
        }
        s"list_reduce(list_prepend(CAST(0 AS DOUBLE), [$prod for i in range(1, $d + 1)]), (x, y) -> x + y)"
      }
      def cosSql(d: String) =
        s"(${dot("ab", d)}) / (sqrt(${dot("aa", d)}) * sqrt(${dot("bb", d)}))"
      val dims = Seq(4, 8, 16)
      val sel = dims.map(d =>
        s"SELECT $d AS dim, CAST(round(abs((${cosSql(d.toString)}) - cf) * 1000000000) AS BIGINT) AS dq, cq FROM p")
        .mkString(" UNION ALL ")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         p AS (SELECT a.v AS va, b.v AS vb,
                 (${cosSql("len(va)")}) AS cf,
                 CAST(round((${cosSql("len(va)")}) * 1000000000) AS BIGINT) AS cq
               FROM e a JOIN e b ON a.vec_id % 2 = 0 AND b.vec_id = a.vec_id + 1),
         u AS ($sel)
         SELECT dim, count(*) AS n_pairs,
           round(CAST(sum(dq) AS DOUBLE) / count(*) / 100000.0) / 10000.0 AS mean_abs_dcos,
           round(CAST(sum(cq) AS DOUBLE) / count(*) / 100000.0) / 10000.0 AS mean_cos_full
         FROM u GROUP BY 1 ORDER BY 1"""
    },
    "q158_oov_rate" ->
      """WITH tok AS (SELECT source, unnest(string_split_regex(lower(trim(text)), '\s+')) AS token FROM documents),
         v AS (SELECT token FROM (SELECT token, count(*) AS c FROM tok GROUP BY 1 ORDER BY c DESC, token LIMIT 30)),
         j AS (SELECT t.source, CASE WHEN v.token IS NULL THEN 1 ELSE 0 END AS oov
               FROM tok t LEFT JOIN v ON t.token = v.token)
         SELECT source, count(*) AS n_tokens, CAST(sum(oov) AS BIGINT) AS n_oov,
                round(CAST(sum(oov) AS DOUBLE) / count(*), 6) AS oov_rate
         FROM j GROUP BY 1 ORDER BY 1""",
    "q159_vocab_growth" ->
      """WITH mx AS (SELECT max(doc_id) AS mx FROM documents),
         tok AS (SELECT (doc_id * 10) // (mx + 1) AS bucket, unnest(string_split_regex(lower(trim(text)), '\s+')) AS token FROM documents, mx),
         f AS (SELECT token, min(bucket) AS first_bucket FROM tok GROUP BY 1),
         c AS (SELECT first_bucket, count(*) AS new_tokens FROM f GROUP BY 1),
         d AS (SELECT i AS bucket FROM unnest(range(0, 10)) r(i))
         SELECT d.bucket, CAST(coalesce(c.new_tokens, 0) AS BIGINT) AS new_tokens,
                CAST(sum(coalesce(c.new_tokens, 0)) OVER (ORDER BY d.bucket) AS BIGINT) AS vocab_size
         FROM d LEFT JOIN c ON d.bucket = c.first_bucket ORDER BY d.bucket""",
    "q160_kaplan_meier" ->
      """WITH u AS (SELECT user_id, min(ts) AS t0,
                min(CASE WHEN event_type = 'purchase' THEN ts END) AS tp,
                max(ts) AS tl
              FROM events GROUP BY 1),
         dd AS (SELECT CASE WHEN tp IS NOT NULL THEN date_diff('day', CAST(t0 AS DATE), CAST(tp AS DATE))
                            ELSE date_diff('day', CAST(t0 AS DATE), CAST(tl AS DATE)) END AS dur,
                       CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS death
                FROM u),
         g AS (SELECT dur AS t, count(*) AS m, CAST(sum(death) AS BIGINT) AS d FROM dd GROUP BY 1),
         r AS (SELECT t, d, CAST(sum(m) OVER (ORDER BY t DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_risk FROM g),
         dl AS (SELECT t, d, n_risk FROM r WHERE d > 0),
         s AS (SELECT list(CAST(1 AS DOUBLE) - CAST(d AS DOUBLE) / n_risk ORDER BY t) AS fs,
                      list(t ORDER BY t) AS ts, list(d ORDER BY t) AS ds,
                      list(n_risk ORDER BY t) AS ns FROM dl),
         e AS (SELECT ts[i] AS t, ds[i] AS d, ns[i] AS n_risk,
                      list_reduce(list_prepend(CAST(1 AS DOUBLE), fs[1:i]), (a, b) -> a * b) AS surv
               FROM s, unnest(range(1, len(ts) + 1)) r(i))
         SELECT t, d, n_risk, round(surv, 6) AS surv FROM e ORDER BY t""",
    "q140_ab_test" ->
      """WITH v AS (
           SELECT user_id,
                  CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 = 0
                       THEN 'A' ELSE 'B' END AS variant,
                  CAST(sum(CASE WHEN event_type = 'purchase' THEN CAST(round(value * 1000000) AS BIGINT) ELSE 0 END) AS DOUBLE) / 1000000.0 AS metric,
                  max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS converted
           FROM events GROUP BY 1, 2),
         s AS (SELECT variant, count(*) AS n, CAST(sum(converted) AS BIGINT) AS conv,
                      CAST(sum(CAST(metric AS DECIMAL(18,6))) AS DOUBLE) AS sx,
                      CAST(sum(CAST(metric AS DECIMAL(24,6)) * CAST(metric AS DECIMAL(14,6))) AS DOUBLE) AS sxx
               FROM v GROUP BY 1),
         ab AS (SELECT a.n AS n_a, b.n AS n_b, a.conv AS conv_a, b.conv AS conv_b,
                       a.sx AS sx_a, b.sx AS sx_b, a.sxx AS sxx_a, b.sxx AS sxx_b
                FROM s a, s b WHERE a.variant = 'A' AND b.variant = 'B'),
         t AS (SELECT *,
                      CASE WHEN n_a > 1 THEN (sxx_a - sx_a * sx_a / n_a) / (n_a - 1) END AS va,
                      CASE WHEN n_b > 1 THEN (sxx_b - sx_b * sx_b / n_b) / (n_b - 1) END AS vb,
                      CAST(conv_a * (n_b - conv_b) - conv_b * (n_a - conv_a) AS DOUBLE) AS det,
                      CAST(n_a * n_b AS DOUBLE) * CAST((conv_a + conv_b) * (n_a + n_b - conv_a - conv_b) AS DOUBLE) AS den
               FROM ab)
         SELECT n_a, n_b, conv_a, conv_b,
                round(CAST(conv_a AS DOUBLE) / n_a, 4) AS rate_a,
                round(CAST(conv_b AS DOUBLE) / n_b, 4) AS rate_b,
                round(sx_a / n_a, 4) AS mean_a,
                round(sx_b / n_b, 4) AS mean_b,
                round(CASE WHEN va / n_a + vb / n_b > 0
                      THEN (sx_a / n_a - sx_b / n_b) / sqrt(va / n_a + vb / n_b) END, 4) + 0.0 AS welch_t,
                round(CASE WHEN den > 0 THEN CAST(n_a + n_b AS DOUBLE) * det * det / den END, 4) + 0.0 AS chi2
         FROM t""",
    "q141_window_funnel" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY 1),
         d AS (SELECT user_id, t1, t1 + INTERVAL 1 DAY AS dl FROM s1),
         s2 AS (SELECT e.user_id, min(e.ts) AS t2, d.dl
                FROM events e JOIN d ON e.user_id = d.user_id
                WHERE e.event_type = 'click' AND e.ts > d.t1 AND e.ts <= d.dl
                GROUP BY e.user_id, d.dl),
         s3 AS (SELECT e.user_id, min(e.ts) AS t3
                FROM events e JOIN s2 ON e.user_id = s2.user_id
                WHERE e.event_type = 'purchase' AND e.ts > s2.t2 AND e.ts <= s2.dl
                GROUP BY e.user_id),
         c AS (SELECT CAST(1 AS BIGINT) AS step_idx, 'view' AS step, (SELECT count(*) FROM s1) AS n_users
               UNION ALL SELECT 2, 'click', (SELECT count(*) FROM s2)
               UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM s3))
         SELECT step_idx, step, n_users,
                round(CAST(n_users AS DOUBLE) / nullif(lag(n_users) OVER (ORDER BY step_idx), 0), 4) AS conversion
         FROM c ORDER BY step_idx""",
    "q142_embed_drift" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         c AS (SELECT vec_id % 2 AS half, i - 1 AS dim, v[i] AS x
               FROM e, unnest(range(1, len(v) + 1)) r(i)),
         m AS (SELECT half, dim,
                      round((CAST(sum(CAST(round((x) * 1000000) AS BIGINT) // 1000000000) AS DOUBLE) * 1000000000.0 + CAST(sum(CAST(round((x) * 1000000) AS BIGINT) % 1000000000) AS DOUBLE)) / 100.0 / count(*)) / 10000.0
                        + 0.0 AS mean
               FROM c GROUP BY 1, 2),
         j AS (SELECT a.dim AS dim, a.mean AS mean_base, b.mean AS mean_cur
               FROM m a JOIN m b ON a.dim = b.dim AND a.half = 0 AND b.half = 1),
         q AS (SELECT
                 CAST(sum(CAST(round((mean_base * mean_cur) * 1000000000000.0) AS BIGINT)) AS DOUBLE) / 1000000000000.0 AS dot,
                 CAST(sum(CAST(round((mean_base * mean_base) * 1000000000000.0) AS BIGINT)) AS DOUBLE) / 1000000000000.0 AS na,
                 CAST(sum(CAST(round((mean_cur * mean_cur) * 1000000000000.0) AS BIGINT)) AS DOUBLE) / 1000000000000.0 AS nb
               FROM j)
         SELECT j.dim, j.mean_base, j.mean_cur,
                round(j.mean_cur - j.mean_base, 4) + 0.0 AS delta,
                round(CASE WHEN q.na > 0 AND q.nb > 0
                      THEN q.dot / (sqrt(q.na) * sqrt(q.nb)) END, 6) + 0.0 AS centroid_cos
         FROM j, q ORDER BY dim""",
    "q143_histogram" ->
      """WITH q AS (SELECT event_type, CAST(round(value * 1000000) AS BIGINT) AS vq FROM events),
         b AS (SELECT min(vq) AS minq, max(vq) AS maxq FROM q),
         g AS (SELECT event_type, ((vq - minq) * 20) // (maxq - minq + 1) AS bin,
                      count(*) AS n, minq, maxq
               FROM q, b GROUP BY event_type, 2, minq, maxq)
         SELECT event_type, bin, n,
                CAST(minq + ((maxq - minq + 1) * bin) // 20 AS DOUBLE) / 1000000.0 AS bin_lo,
                CAST(minq + ((maxq - minq + 1) * (bin + 1)) // 20 AS DOUBLE) / 1000000.0 AS bin_hi
         FROM g ORDER BY event_type, bin""",
    "q144_quantile_norm" ->
      """WITH d AS (SELECT doc_id, source,
                  round((
                    least(len(string_split_regex(lower(trim(text)), '\s+')), 50) / 50.0
                    + (1.0 - len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) * 1.0
                           / greatest(length(text), 1))
                    + len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                          t -> list_contains(['the','a','of','and','to','in','is'], t))) * 1.0
                      / greatest(len(string_split_regex(lower(trim(text)), '\s+')), 1)
                  ) / 3.0, 4) AS quality
           FROM documents),
         r AS (SELECT doc_id, source, quality,
                      row_number() OVER (PARTITION BY source ORDER BY quality, doc_id) AS rk,
                      count(*) OVER (PARTITION BY source) AS ng
               FROM d),
         g AS (SELECT quality AS gv, row_number() OVER (ORDER BY quality, doc_id) AS idx FROM d),
         n AS (SELECT count(*) AS nn FROM d),
         x AS (SELECT doc_id, source, quality,
                      CASE WHEN ng > 1
                           THEN 1 + ((rk - 1) * (nn - 1) * 2 + (ng - 1)) // ((ng - 1) * 2)
                           ELSE (nn + 1) // 2 END AS idx
               FROM r, n)
         SELECT x.doc_id, x.source, x.quality, g.gv AS quality_norm
         FROM x JOIN g ON x.idx = g.idx ORDER BY x.doc_id""",
    "q145_phash_neardup" ->
      """WITH docs AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 10000000,
                  concat(substr(text, 1, length(text) // 2), 'z',
                         substr(text, length(text) // 2 + 2))
           FROM documents WHERE doc_id % 5 = 0),
         m AS (SELECT doc_id AS id, text, length(text) AS len FROM docs),
         cells AS (SELECT id, i,
                          CASE WHEN len = 0 THEN 0
                               ELSE ord(substr(text, CAST((i * len) // 64 AS INTEGER) + 1, 1)) END AS cell
                   FROM m, unnest(range(0, 64)) r(i)),
         tot AS (SELECT id, sum(cell) AS total FROM cells GROUP BY 1),
         bits AS (SELECT c.id, c.i,
                         CASE WHEN c.cell * 64 > t.total THEN 1 ELSE 0 END AS b
                  FROM cells c JOIN tot t ON c.id = t.id),
         keys AS (SELECT id,
                         CAST(sum(CASE WHEN i // 16 = 0 THEN CAST(b AS BIGINT) << CAST(i % 16 AS INTEGER) ELSE 0 END) AS BIGINT) AS k0,
                         CAST(sum(CASE WHEN i // 16 = 1 THEN CAST(b AS BIGINT) << CAST(i % 16 AS INTEGER) ELSE 0 END) AS BIGINT) AS k1,
                         CAST(sum(CASE WHEN i // 16 = 2 THEN CAST(b AS BIGINT) << CAST(i % 16 AS INTEGER) ELSE 0 END) AS BIGINT) AS k2,
                         CAST(sum(CASE WHEN i // 16 = 3 THEN CAST(b AS BIGINT) << CAST(i % 16 AS INTEGER) ELSE 0 END) AS BIGINT) AS k3
                  FROM bits GROUP BY 1)
         SELECT a.id AS id_a, b.id AS id_b,
                CAST(bit_count(xor(a.k0, b.k0)) + bit_count(xor(a.k1, b.k1))
                   + bit_count(xor(a.k2, b.k2)) + bit_count(xor(a.k3, b.k3)) AS BIGINT) AS hamming
         FROM keys a JOIN keys b ON a.id < b.id
         WHERE (a.k0 = b.k0 OR a.k1 = b.k1 OR a.k2 = b.k2 OR a.k3 = b.k3)
           AND bit_count(xor(a.k0, b.k0)) + bit_count(xor(a.k1, b.k1))
             + bit_count(xor(a.k2, b.k2)) + bit_count(xor(a.k3, b.k3)) <= 3
         ORDER BY id_a, id_b""",
    "q146_zorder" -> {
      val terms = (0 until 16).flatMap(i => Seq(
        s"(((x >> $i) & 1) << ${2 * i})",
        s"(((y >> $i) & 1) << ${2 * i + 1})")).mkString(" + ")
      s"""WITH t AS (SELECT o_orderkey, o_custkey % 65536 AS x,
                            o_orderkey % 65536 AS y FROM orders)
         SELECT o_orderkey, x, y, CAST($terms AS BIGINT) AS z
         FROM t ORDER BY z, o_orderkey LIMIT 100"""
    },
    "q01_pricing_agg" ->
      """SELECT l_returnflag, l_linestatus,
         round((CAST(sum(CAST(round((l_quantity) * 1000000) AS BIGINT) // 1000000000) AS DOUBLE) * 1000000000.0 + CAST(sum(CAST(round((l_quantity) * 1000000) AS BIGINT) % 1000000000) AS DOUBLE)) / 10000.0) / 100.0::DOUBLE AS sum_qty,
         round((CAST(sum(CAST(round((l_extendedprice) * 1000000) AS BIGINT) // 1000000000) AS DOUBLE) * 1000000000.0 + CAST(sum(CAST(round((l_extendedprice) * 1000000) AS BIGINT) % 1000000000) AS DOUBLE)) / 10000.0) / 100.0::DOUBLE AS sum_base_price,
         round((CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)) * 1000000) AS BIGINT) // 1000000000) AS DOUBLE) * 1000000000.0 + CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)) * 1000000) AS BIGINT) % 1000000000) AS DOUBLE)) / 10000.0) / 100.0::DOUBLE AS sum_disc_price,
         round((CAST(sum(CAST(round((l_quantity) * 1000000) AS BIGINT) // 1000000000) AS DOUBLE) * 1000000000.0 + CAST(sum(CAST(round((l_quantity) * 1000000) AS BIGINT) % 1000000000) AS DOUBLE)) / 100.0 / count(*)) / 10000.0 AS avg_qty,
         round((CAST(sum(CAST(round((l_extendedprice) * 1000000) AS BIGINT) // 1000000000) AS DOUBLE) * 1000000000.0 + CAST(sum(CAST(round((l_extendedprice) * 1000000) AS BIGINT) % 1000000000) AS DOUBLE)) / 100.0 / count(*)) / 10000.0 AS avg_price,
         count(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "q02_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
         FROM lineitem
         WHERE l_quantity >= 45 AND l_returnflag = 'R'
         ORDER BY l_orderkey, l_linenumber""",
    "q03_join_agg" ->
      """SELECT n_name, round((CAST(sum(CAST(round((o_totalprice) * 1000000) AS BIGINT) // 1000000000) AS DOUBLE) * 1000000000.0 + CAST(sum(CAST(round((o_totalprice) * 1000000) AS BIGINT) % 1000000000) AS DOUBLE)) / 10000.0) / 100.0::DOUBLE AS revenue, count(*) AS n_orders
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name
         ORDER BY n_name""",
    "q04_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",
    "q05_distinct_sort" ->
      "SELECT DISTINCT event_type FROM events ORDER BY event_type",
    "q06_event_counts" ->
      """SELECT event_type, count(*) AS cnt FROM events
         GROUP BY event_type HAVING count(*) > 0 ORDER BY event_type""",
    "q07_window_rownum" ->
      """SELECT user_id, event_id, rn FROM (
           SELECT user_id, event_id,
                  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
           FROM events) t
         WHERE rn <= 3
         ORDER BY user_id, rn""",
    "q08_tumbling_window" ->
      """SELECT window_id, round((CAST(sum(CAST(round((value) * 1000000) AS BIGINT) // 1000000000) AS DOUBLE) * 1000000000.0 + CAST(sum(CAST(round((value) * 1000000) AS BIGINT) % 1000000000) AS DOUBLE)) / 100.0) / 10000.0::DOUBLE AS sum_value,
                max(value) AS max_value, count(*) AS n
         FROM (SELECT (row_number() OVER (ORDER BY event_id) - 1) // 5 AS window_id, value
               FROM events) t
         GROUP BY window_id
         ORDER BY window_id""",
    "q09_pivot" ->
      """SELECT user_id,
         count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
         count(CASE WHEN event_type = 'error' THEN 1 END) AS error,
         count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
         count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
         count(CASE WHEN event_type = 'view' THEN 1 END) AS view
         FROM events GROUP BY user_id ORDER BY user_id""",
    "q10_extract_cast" ->
      """SELECT event_id,
         try_cast(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) AS k,
         CASE WHEN value > 50 THEN 1 ELSE 0 END AS big
         FROM events ORDER BY event_id""",
    "q11_clean_text" ->
      """SELECT doc_id,
         trim(regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(text, '^\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2},\d{3}', '', 'g'),
               '\b(INFO|ERROR|WARN|DEBUG|TRACE)\b', '', 'g'),
             '\[\w+\]', '', 'g'),
           '\s+', ' ', 'g')) AS clean_text
         FROM documents ORDER BY doc_id""",
    "q12_corr" ->
      """WITH r AS (
           -- cent-scaled exact longs (values are 2 dp; round() lands
           -- within 1e-9 of the integer, so the cast is exact); the
           -- p2*p2 sum splits div/mod 1e6 to mirror the engine's
           -- long-range-safe formulation, and every integer-to-double
           -- conversion below is textually identical to the engine's
           SELECT l_returnflag,
             CAST(round(l_quantity * 100) AS BIGINT) AS q2,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS p2
           FROM lineitem),
         m AS (
           SELECT l_returnflag, count(*) AS n,
             sum(q2) AS sq2, sum(p2) AS sp2,
             sum(q2 * p2) AS sqp4, sum(q2 * q2) AS sqq4,
             sum((p2 * p2) // 1000000) AS spp_hi,
             sum((p2 * p2) % 1000000) AS spp_lo
           FROM r GROUP BY l_returnflag),
         d AS (
           SELECT l_returnflag, n,
             CAST(sq2 AS DOUBLE) / 100.0 AS sq,
             CAST(sp2 AS DOUBLE) / 100.0 AS sp,
             CAST(sqp4 AS DOUBLE) / 10000.0 AS sqp,
             CAST(sqq4 AS DOUBLE) / 10000.0 AS sqq,
             (CAST(spp_hi AS DOUBLE) * 1000000.0 + CAST(spp_lo AS DOUBLE))
               / 10000.0 AS spp
           FROM m)
         SELECT l_returnflag,
           round((n * sqp - sq * sp) /
             (sqrt(n * sqq - sq * sq) * sqrt(n * spp - sp * sp)), 4) AS corr_qty_price,
           round(sqrt((n * sqq - sq * sq) / (n * (n - 1.0))), 4) AS sd_qty,
           n
         FROM d ORDER BY l_returnflag""",
    "q13_union" ->
      """SELECT o_orderkey, 'high' AS bucket FROM orders WHERE o_totalprice > 450000
         UNION ALL
         SELECT o_orderkey, 'low' AS bucket FROM orders WHERE o_totalprice < 20000
         ORDER BY o_orderkey""",
    "q14_anti_join" ->
      """SELECT c_custkey, c_name FROM customer c
         WHERE NOT EXISTS (
           SELECT 1 FROM orders o
           WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000)
         ORDER BY c_custkey""",
    "q15_top_revenue" ->
      """SELECT o_orderkey,
         round((CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)) * 1000000) AS BIGINT) // 1000000000) AS DOUBLE) * 1000000000.0 + CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)) * 1000000) AS BIGINT) % 1000000000) AS DOUBLE)) / 10000.0) / 100.0::DOUBLE AS revenue
         FROM customer
         JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
         GROUP BY o_orderkey
         ORDER BY revenue DESC, o_orderkey
         LIMIT 10""",
    // deterministic J1: digit-token masking key, dense ids by template
    // order, equi-join + counts — both engines compute the identical
    // pure string transform
    "q17b_match_counts_exact" ->
      """WITH lines AS (
           SELECT array_to_string(list_transform(
                    string_split_regex(trim(text), '\s+'),
                    t -> CASE WHEN regexp_matches(t, '\d') THEN '<*>' ELSE t END),
                  ' ') AS template
           FROM documents),
         tmpl AS (
           SELECT template, row_number() OVER (ORDER BY template) AS event_id
           FROM (SELECT DISTINCT template FROM lines))
         SELECT t.event_id, l.template, count(*) AS cnt
         FROM lines l JOIN tmpl t USING (template)
         GROUP BY 1, 2 ORDER BY event_id""",
    "q18_dedup_exact" ->
      """WITH fps AS (
           SELECT doc_id,
                  md5(array_to_string(list_sort(list_distinct(
                    string_split_regex(lower(trim(text)), '\s+'))), ' ')) AS fp
           FROM documents)
         SELECT fp, count(*) AS n_docs, min(doc_id) AS keep_id
         FROM fps GROUP BY fp HAVING count(*) >= 2 ORDER BY fp""",
    "q19_token_jaccard" ->
      """WITH toks AS (
           SELECT doc_id, unnest(list_distinct(
             string_split_regex(lower(trim(text)), '\s+'))) AS tok
           FROM documents),
         sizes AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY 1),
         shared AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
           FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
         SELECT id_a, id_b,
                round(c * 1.0 / (sa.n + sb.n - c), 4) AS jaccard
         FROM shared
         JOIN sizes sa ON sa.doc_id = id_a
         JOIN sizes sb ON sb.doc_id = id_b
         WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.95
         ORDER BY id_a, id_b""",
    "q59_ngram_jaccard" ->
      """WITH t AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
           FROM documents),
         sh AS (
           SELECT doc_id, unnest(list_distinct(
             list_transform(range(len(toks) - 2),
               i -> array_to_string(toks[i+1:i+3], ' ')))) AS tok
           FROM t),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         shared AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
           FROM sh a JOIN sh b ON a.tok = b.tok AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
         SELECT id_a, id_b,
                round(c * 1.0 / (sa.n + sb.n - c), 4) AS jaccard
         FROM shared
         JOIN sizes sa ON sa.doc_id = id_a
         JOIN sizes sb ON sb.doc_id = id_b
         WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.8
         ORDER BY id_a, id_b""",
    "q60_neardup_clusters" ->
      """WITH RECURSIVE t AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
           FROM documents),
         sh AS (
           SELECT doc_id, unnest(list_distinct(
             list_transform(range(len(toks) - 2),
               i -> array_to_string(toks[i+1:i+3], ' ')))) AS tok
           FROM t),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         shared AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
           FROM sh a JOIN sh b ON a.tok = b.tok AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         edges AS (
           SELECT id_a, id_b FROM shared
           JOIN sizes sa ON sa.doc_id = id_a
           JOIN sizes sb ON sb.doc_id = id_b
           WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.8),
         sym AS (
           SELECT id_a AS u, id_b AS v FROM edges
           UNION ALL
           SELECT id_b, id_a FROM edges),
         reach AS (
           SELECT doc_id AS id, doc_id AS r FROM sizes
           UNION
           SELECT sym.u, reach.r FROM sym JOIN reach ON reach.id = sym.v)
         SELECT id AS doc_id, min(r) AS component
         FROM reach GROUP BY id ORDER BY doc_id""",
    "q68_neardup_apply" ->
      """WITH RECURSIVE t AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
           FROM documents),
         sh AS (
           SELECT doc_id, unnest(list_distinct(
             list_transform(range(len(toks) - 2),
               i -> array_to_string(toks[i+1:i+3], ' ')))) AS tok
           FROM t),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         shared AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
           FROM sh a JOIN sh b ON a.tok = b.tok AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         edges AS (
           SELECT id_a, id_b FROM shared
           JOIN sizes sa ON sa.doc_id = id_a
           JOIN sizes sb ON sb.doc_id = id_b
           WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.8),
         sym AS (
           SELECT id_a AS u, id_b AS v FROM edges
           UNION ALL
           SELECT id_b, id_a FROM edges),
         reach AS (
           SELECT doc_id AS id, doc_id AS r FROM sizes
           UNION
           SELECT sym.u, reach.r FROM sym JOIN reach ON reach.id = sym.v),
         comp AS (SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id),
         j AS (SELECT c.doc_id, c.component, d.n_chars
               FROM comp c JOIN documents d USING (doc_id)),
         ranked AS (
           SELECT doc_id, component, n_chars,
                  row_number() OVER (PARTITION BY component
                    ORDER BY n_chars DESC, doc_id) AS rn
           FROM j)
         SELECT doc_id, component, n_chars,
                CAST(rn = 1 AS BIGINT) AS keep
         FROM ranked ORDER BY doc_id""",
    "q67_mix_weights" ->
      """WITH d AS (
           SELECT doc_id, source,
                  len(string_split_regex(lower(trim(text)), '\s+')) AS toks
           FROM documents),
         t AS (SELECT source, CAST(sum(toks) AS BIGINT) AS group_size
               FROM d GROUP BY 1),
         b AS (SELECT CAST(sum(group_size) AS DOUBLE) / count(*) AS budget FROM t),
         w AS (SELECT source, group_size,
                      least(CAST(1.0 AS DOUBLE), budget / group_size) AS weight
               FROM t, b),
         k AS (SELECT d.source, d.toks, w.weight
               FROM d JOIN w USING (source)
               WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                       / 4294967296.0 < weight)
         SELECT w.source,
                (SELECT count(*) FROM d WHERE d.source = w.source) AS n_docs,
                w.group_size AS n_tokens,
                (SELECT count(*) FROM k WHERE k.source = w.source) AS kept_docs,
                CAST((SELECT coalesce(sum(toks), 0) FROM k WHERE k.source = w.source)
                     AS BIGINT) AS kept_tokens,
                round(w.weight, 4) AS weight
         FROM w ORDER BY w.source""",
    "q66_embed_centroid" ->
      """WITH e AS (SELECT label, embedding::DOUBLE[] AS v FROM embeddings),
         n AS (SELECT label,
                      sqrt(list_sum(list_transform(v, x -> x * x))) AS norm, v
               FROM e),
         c AS (SELECT label, norm, i - 1 AS dim, v[i] AS x
               FROM n, unnest(range(1, len(v) + 1)) r(i))
         SELECT label, dim, count(*) AS n_vecs,
                round((CAST(sum(CAST(round((x) * 1000000) AS BIGINT) // 1000000000) AS DOUBLE) * 1000000000.0 + CAST(sum(CAST(round((x) * 1000000) AS BIGINT) % 1000000000) AS DOUBLE)) / 100.0 / count(*)) / 10000.0
                  + 0.0 AS centroid,
                round((CAST(sum(CAST(round((norm) * 1000000) AS BIGINT) // 1000000000) AS DOUBLE) * 1000000000.0 + CAST(sum(CAST(round((norm) * 1000000) AS BIGINT) % 1000000000) AS DOUBLE)) / 100.0 / count(*)) / 10000.0
                  + 0.0 AS avg_norm
         FROM c GROUP BY label, dim ORDER BY label, dim""",
    "q65_contamination" ->
      """WITH t AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
           FROM documents),
         sh AS (
           SELECT doc_id, unnest(list_distinct(
             list_transform(range(len(toks) - 1),
               i -> array_to_string(toks[i+1:i+2], ' ')))) AS g
           FROM t),
         probes AS (SELECT * FROM sh WHERE doc_id % 7 = 0),
         psize AS (SELECT doc_id AS pid, count(*) AS ps FROM probes GROUP BY 1),
         hits AS (
           SELECT c.doc_id, p.doc_id AS probe_id, count(*) AS shared_ngrams
           FROM sh c JOIN probes p ON c.g = p.g AND c.doc_id <> p.doc_id
           GROUP BY 1, 2)
         SELECT doc_id, probe_id, shared_ngrams,
                round(shared_ngrams * 1.0 / ps, 4) AS containment
         FROM hits JOIN psize ON pid = probe_id
         WHERE shared_ngrams * 1.0 / ps >= 0.3
         ORDER BY doc_id, probe_id""",
    "q64_shard_export" ->
      """SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 16 AS shard,
                count(*) AS n_docs,
                CAST(sum(length(text)) AS BIGINT) AS n_bytes,
                min(doc_id) AS min_key,
                max(doc_id) AS max_key
         FROM documents
         GROUP BY 1 ORDER BY shard""",
    "q63_rep_filter" ->
      """WITH t AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS l
           FROM documents),
         u AS (SELECT doc_id, unnest(l) AS tok FROM t),
         uc AS (SELECT doc_id, tok, count(*) AS c FROM u GROUP BY 1, 2),
         ua AS (SELECT doc_id, sum(c) AS n, count(*) AS nd, max(c) AS top
                FROM uc GROUP BY 1),
         b AS (SELECT doc_id, l[i] || ' ' || l[i+1] AS bg
               FROM t, unnest(range(1, len(l))) r(i)),
         bc AS (SELECT doc_id, bg, count(*) AS c FROM b GROUP BY 1, 2),
         ba AS (SELECT doc_id, max(c) AS topb FROM bc GROUP BY 1)
         SELECT ua.doc_id, CAST(n AS BIGINT) AS n_tokens,
                round(CAST(nd AS DOUBLE) / n, 4) AS distinct_frac,
                round(CAST(top AS DOUBLE) / n, 4) AS top_token_frac,
                round(CAST(topb AS DOUBLE) / (n - 1), 4) AS top_bigram_frac
         FROM ua LEFT JOIN ba ON ua.doc_id = ba.doc_id
         ORDER BY ua.doc_id""",
    "q62_heavy_hitters" ->
      """WITH t AS (
           SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
           FROM documents)
         SELECT tok, count(*) AS cnt FROM t GROUP BY tok
         HAVING count(*) > (SELECT count(*) FROM t) / 32
         ORDER BY cnt DESC, tok""",
    "q61_range_join" ->
      """SELECT a.event_id, a.user_id,
                count(b.ts) AS n_window,
                round((CAST(sum(CAST(round((b.value) * 1000000) AS BIGINT) // 1000000000) AS DOUBLE) * 1000000000.0 + CAST(sum(CAST(round((b.value) * 1000000) AS BIGINT) % 1000000000) AS DOUBLE)) / 100.0) / 10000.0::DOUBLE AS sum_window
         FROM events a
         LEFT JOIN events b
           ON a.user_id = b.user_id
          AND b.ts >= a.ts - INTERVAL 1 HOUR AND b.ts < a.ts
         GROUP BY a.event_id, a.user_id
         ORDER BY a.event_id""",
    "q20_token_stats" ->
      """SELECT doc_id,
         len(string_split_regex(lower(trim(text)), '\s+')) AS ws_tokens,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS bpe_tokens
         FROM documents ORDER BY doc_id""",
    "q21_quality_score" ->
      """SELECT doc_id,
         round((
           least(len(string_split_regex(lower(trim(text)), '\s+')), 50) / 50.0
           + (1.0 - len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) * 1.0
                  / greatest(length(text), 1))
           + len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                 t -> list_contains(['the','a','of','and','to','in','is'], t))) * 1.0
             / greatest(len(string_split_regex(lower(trim(text)), '\s+')), 1)
         ) / 3.0, 4) AS quality
         FROM documents ORDER BY doc_id""",
    "q77_curate_pack" ->
      """WITH q AS (
           SELECT doc_id, source,
           round((
             least(len(string_split_regex(lower(trim(text)), '\s+')), 50) / 50.0
             + (1.0 - len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) * 1.0
                    / greatest(length(text), 1))
             + len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                   t -> list_contains(['the','a','of','and','to','in','is'], t))) * 1.0
               / greatest(len(string_split_regex(lower(trim(text)), '\s+')), 1)
           ) / 3.0, 4) AS quality
           FROM documents),
         b AS (
           SELECT doc_id, source FROM (
             SELECT doc_id, source,
               ntile(5) OVER (PARTITION BY source ORDER BY quality, doc_id) AS bucket
             FROM q)
           WHERE bucket > 1),
         t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS l
               FROM documents),
         u AS (SELECT doc_id, unnest(l) AS tok FROM t),
         uc AS (SELECT doc_id, tok, count(*) AS c FROM u GROUP BY 1, 2),
         ua AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n, max(c) AS top
                FROM uc GROUP BY 1),
         rep AS (SELECT doc_id, n AS n_tokens FROM ua
                 WHERE round(CAST(top AS DOUBLE) / n, 4) <= 0.2),
         tok2 AS (SELECT doc_id, unnest(l) AS tk, generate_subscripts(l, 1) - 1 AS ord
                  FROM t),
         ch AS (SELECT doc_id, ord // 8 AS pos, md5(string_agg(tk, ' ' ORDER BY ord)) AS h
                FROM tok2 GROUP BY 1, 2),
         dup AS (SELECT h FROM ch GROUP BY h HAVING count(DISTINCT doc_id) > 1),
         cda AS (SELECT ch.doc_id, count(*) AS nc,
                        CAST(sum(CASE WHEN dup.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS dc
                 FROM ch LEFT JOIN dup ON ch.h = dup.h GROUP BY 1),
         cdk AS (SELECT doc_id FROM cda WHERE round(CAST(dc AS DOUBLE) / nc, 4) < 0.3),
         sv AS (SELECT b.doc_id, b.source, rep.n_tokens
                FROM b JOIN rep USING (doc_id) JOIN cdk USING (doc_id)),
         p AS (SELECT doc_id, source, n_tokens,
                 CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
               FROM sv)
         SELECT doc_id, source, n_tokens,
                off // 2048 AS seq_id, off % 2048 AS seq_offset
         FROM p ORDER BY doc_id""",
    "q78_c4_stats" ->
      """WITH d AS (SELECT doc_id, coalesce(trim(text), '') AS t FROM documents)
         SELECT doc_id,
         CASE WHEN regexp_matches(t, '[.!?"]$') THEN 1 ELSE 0 END AS ends_terminal,
         len(regexp_extract_all(t, '[.!?]+')) AS n_sentences,
         CAST(len(regexp_extract_all(t, '\S+')) AS BIGINT) AS n_words,
         round(len(regexp_extract_all(t, '\S')) * 1.0
               / greatest(len(regexp_extract_all(t, '\S+')), 1), 4) AS mean_word_len,
         round(len(regexp_extract_all(t, '[A-Za-z]')) * 1.0
               / greatest(len(regexp_extract_all(t, '\S')), 1), 4) AS alpha_frac,
         CASE WHEN contains(t, '{') THEN 1 ELSE 0 END AS has_brace,
         CASE WHEN contains(lower(t), 'lorem ipsum') THEN 1 ELSE 0 END AS has_lorem
         FROM d ORDER BY doc_id""",
    "q79_lm_score" ->
      """WITH c AS (SELECT doc_id,
                regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t FROM documents),
         tri AS (SELECT doc_id, substr(t, CAST(i AS INT), 3) AS tri
                 FROM c, LATERAL (SELECT unnest(range(1, length(t) - 1)) AS i)
                 WHERE length(t) >= 3),
         model AS (SELECT tri, count(*) AS n_tri FROM tri GROUP BY tri),
         pre AS (SELECT substr(tri, 1, 2) AS pre, sum(n_tri) AS n_prefix
                 FROM model GROUP BY 1),
         m AS (SELECT tri, n_tri, n_prefix
               FROM model JOIN pre ON substr(model.tri, 1, 2) = pre.pre),
         s AS (SELECT t.doc_id,
                 round(CAST(sum(CAST(n_tri * 1.0 / n_prefix AS DECIMAL(30,12))) AS DOUBLE)
                   / count(*), 6) AS lm_score
               FROM tri t JOIN m USING (tri) GROUP BY t.doc_id)
         SELECT d.doc_id, s.lm_score
         FROM documents d LEFT JOIN s USING (doc_id) ORDER BY doc_id""",
    "q80_epoch_shuffle" ->
      """SELECT doc_id,
         row_number() OVER (
           ORDER BY md5('1:' || CAST(doc_id AS VARCHAR)), doc_id) - 1 AS pos
         FROM documents ORDER BY doc_id""",
    "q81_group_sample" ->
      """WITH r AS (
           SELECT doc_id, source,
                  row_number() OVER (PARTITION BY source
                    ORDER BY md5('0:' || CAST(doc_id AS VARCHAR)), doc_id) AS smp_rank
           FROM documents)
         SELECT doc_id, source, smp_rank FROM r
         WHERE smp_rank <= 50 ORDER BY source, smp_rank""",
    "q82_quant_error" ->
      """WITH comps AS (
           SELECT CAST(i - 1 AS INT) AS dim, (embedding::DOUBLE[])[CAST(i AS INT)] AS x
           FROM embeddings, LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i)),
         cal AS (SELECT dim, max(abs(x)) / 127.0 AS scale FROM comps GROUP BY dim),
         qerr AS (
           SELECT c.dim, cal.scale,
             abs(c.x - (CASE WHEN cal.scale = 0 THEN 0
                        ELSE least(greatest(round(c.x / cal.scale, 0), -127.0), 127.0)
                        END) * cal.scale) AS err
           FROM comps c JOIN cal ON c.dim = cal.dim)
         SELECT dim, round(any_value(scale), 6) AS scale,
           round(CAST(sum(CAST(err AS DECIMAL(30,12))) AS DOUBLE) / count(*), 6) AS mae
         FROM qerr GROUP BY dim ORDER BY dim""",
    "q83_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv, label AS qlbl
                    FROM embeddings WHERE vec_id < 5),
         d AS (SELECT vec_id, embedding::DOUBLE[] AS v, label AS lbl
               FROM embeddings WHERE vec_id >= 5),
         scored AS (
           SELECT qid, vec_id, lbl, list_cosine_similarity(qv, v) AS sim
           FROM q CROSS JOIN d WHERE lbl <> qlbl),
         ranked AS (
           SELECT qid, vec_id AS id, lbl, sim,
                  row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
           FROM scored)
         SELECT qid, id, lbl, round(sim, 4) AS sim, rn
         FROM ranked WHERE rn <= 5 ORDER BY qid, rn""",
    "q85_dup_ngrams" ->
      """WITH t AS (
           SELECT string_split_regex(lower(trim(text)), '\s+') AS toks
           FROM documents),
         sh AS (
           SELECT unnest(list_transform(range(len(toks) - 4),
             i -> array_to_string(toks[i+1:i+5], ' '))) AS g
           FROM t),
         c AS (SELECT g, count(*) AS c FROM sh GROUP BY 1)
         SELECT CAST(sum(c) AS BIGINT) AS total_ngrams,
                CAST(count(*) AS BIGINT) AS distinct_ngrams,
                CAST(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_ngrams,
                CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup_occurrences,
                round(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) * 1.0 / sum(c), 4) AS dup_frac
         FROM c""",
    "q86_length_buckets" ->
      """WITH d AS (
           SELECT doc_id,
                  CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS n_tokens
           FROM documents),
         b AS (
           SELECT doc_id, n_tokens, n_tokens // 16 AS bucket,
                  (row_number() OVER (PARTITION BY n_tokens // 16 ORDER BY doc_id) - 1) // 32
                    AS batch_seq
           FROM d)
         SELECT doc_id, n_tokens, bucket, batch_seq,
                CAST(max(n_tokens) OVER (PARTITION BY bucket, batch_seq) - n_tokens AS BIGINT)
                  AS pad
         FROM b ORDER BY doc_id""",
    "q87_source_divergence" ->
      """WITH st AS (
           SELECT source, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
           FROM documents),
         c1 AS (SELECT source, tok, CAST(count(*) AS DECIMAL(18,0)) AS cnt_st
                FROM st GROUP BY 1, 2),
         t AS (SELECT tok, CAST(sum(cnt_st) AS DECIMAL(18,0)) AS cnt_t
               FROM c1 GROUP BY 1),
         s AS (SELECT source, CAST(sum(cnt_st) AS DECIMAL(18,0)) AS total_s
               FROM c1 GROUP BY 1),
         c AS (SELECT CAST(sum(total_s) AS DECIMAL(18,0)) AS total_c FROM s),
         j AS (
           SELECT c1.source, s.total_s, c.total_c,
                  sum(abs(cnt_st * total_c - cnt_t * total_s)) AS a_s,
                  sum(cnt_t) AS seen_c
           FROM c1 JOIN t USING (tok) JOIN s USING (source) CROSS JOIN c
           GROUP BY 1, 2, 3)
         SELECT source, CAST(total_s AS BIGINT) AS n_tokens,
                round(CAST(a_s + (total_c - seen_c) * total_s AS DOUBLE)
                      / (2.0 * CAST(total_s AS DOUBLE) * CAST(total_c AS DOUBLE)), 6)
                  AS tv_dist
         FROM j ORDER BY source""",
    "q75_seq_pack" ->
      """WITH d AS (
           SELECT doc_id,
                  CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS n_tokens
           FROM documents),
         p AS (
           SELECT doc_id, n_tokens,
                  CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                    AS global_offset
           FROM d)
         SELECT doc_id, n_tokens, global_offset,
                global_offset // 2048 AS seq_id,
                global_offset % 2048 AS seq_offset
         FROM p ORDER BY doc_id""",
    "q74_stream_heavy_hitters" ->
      """WITH t AS (
           SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
           FROM documents)
         SELECT tok, count(*) AS cnt FROM t GROUP BY tok
         HAVING count(*) > (SELECT count(*) FROM t) / 32
         ORDER BY cnt DESC, tok""",
    "q73_semantic_dedup" ->
      """WITH RECURSIVE e AS (
           SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
         cd AS (
           SELECT label AS clabel, i - 1 AS dim,
                  round((CAST(sum(CAST(round((v[i]) * 1000000) AS BIGINT) // 1000000000) AS DOUBLE) * 1000000000.0 + CAST(sum(CAST(round((v[i]) * 1000000) AS BIGINT) % 1000000000) AS DOUBLE)) / 100.0 / count(*)) / 10000.0 AS c
           FROM e, unnest(range(1, len(v) + 1)) r(i)
           GROUP BY label, i),
         cent AS (SELECT clabel, list(c ORDER BY dim) AS cv FROM cd GROUP BY clabel),
         asg AS (
           SELECT vec_id, v, clabel,
                  row_number() OVER (PARTITION BY vec_id
                    ORDER BY list_cosine_similarity(v, cv) DESC, clabel) AS rn
           FROM e CROSS JOIN cent),
         best AS (SELECT vec_id, v, clabel AS cluster FROM asg WHERE rn = 1),
         edges AS (
           SELECT a.vec_id AS u, b.vec_id AS w
           FROM best a JOIN best b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
           WHERE list_cosine_similarity(a.v, b.v) >= 0.4),
         sym AS (SELECT u, w FROM edges UNION ALL SELECT w, u FROM edges),
         reach AS (
           SELECT DISTINCT u AS id, u AS r FROM sym
           UNION
           SELECT sym.u, reach.r FROM sym JOIN reach ON reach.id = sym.w),
         comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
         SELECT b.vec_id, CAST(b.cluster AS BIGINT) AS cluster,
                coalesce(comp.component, b.vec_id) AS component,
                CAST(CASE WHEN coalesce(comp.component, b.vec_id) = b.vec_id
                     THEN 1 ELSE 0 END AS BIGINT) AS keep
         FROM best b LEFT JOIN comp ON comp.id = b.vec_id
         ORDER BY vec_id""",
    "q72_bloom_join" ->
      """SELECT p_brand,
           CAST(round((CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)) * 1000000) AS BIGINT) // 1000000000) AS DOUBLE) * 1000000000.0 + CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)) * 1000000) AS BIGINT) % 1000000000) AS DOUBLE)) / 10000.0) / 100.0
                AS DOUBLE) AS revenue,
           count(*) AS n_items
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE p_size = 1
         GROUP BY p_brand ORDER BY p_brand""",
    "q69_chunk_dedup" ->
      """WITH t AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS l
           FROM documents),
         tok AS (
           SELECT doc_id, unnest(l) AS tk, generate_subscripts(l, 1) - 1 AS ord
           FROM t),
         ch AS (
           SELECT doc_id, ord // 8 AS pos, md5(string_agg(tk, ' ' ORDER BY ord)) AS h
           FROM tok GROUP BY 1, 2),
         dup AS (
           SELECT h FROM ch GROUP BY h HAVING count(DISTINCT doc_id) > 1),
         agg AS (
           SELECT ch.doc_id, count(*) AS n_chunks,
                  CAST(sum(CASE WHEN dup.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS dup_chunks
           FROM ch LEFT JOIN dup ON ch.h = dup.h GROUP BY 1)
         SELECT doc_id, n_chunks, dup_chunks,
                round(CAST(dup_chunks AS DOUBLE) / n_chunks, 4) AS dup_frac,
                CAST(CASE WHEN round(CAST(dup_chunks AS DOUBLE) / n_chunks, 4) < 0.3
                     THEN 1 ELSE 0 END AS BIGINT) AS keep
         FROM agg ORDER BY doc_id""",
    "q70_pii_scrub" ->
      """WITH base AS (
           SELECT event_id,
             'uid ' || user_id
             || CASE WHEN event_id % 3 = 0
                THEN ' mail u' || user_id || '@ex' || (event_id % 100) || '.org'
                ELSE '' END
             || CASE WHEN event_id % 4 = 0
                THEN ' from 10.' || (user_id % 256) || '.0.' || (event_id % 256)
                ELSE '' END
             || CASE WHEN event_id % 5 = 0
                THEN ' call ' || (event_id % 90 + 10) || '-' || (user_id % 900 + 100)
                     || '-555-' || (event_id % 9000 + 1000)
                ELSE ' done' END
             AS text
           FROM events)
         ,staged AS (
           SELECT event_id, text,
             regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g') AS after_email
           FROM base),
         staged2 AS (
           SELECT event_id, text, after_email,
             regexp_replace(after_email,
               '\b\d{2}-\d{3}-\d{3}-\d{4}\b', '[PHONE]', 'g') AS after_phone
           FROM staged)
         SELECT event_id,
           CAST(len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(after_email,
             '\b\d{2}-\d{3}-\d{3}-\d{4}\b')) AS BIGINT) AS n_phone,
           CAST(len(regexp_extract_all(after_phone,
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ip,
           regexp_replace(after_phone,
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g') AS scrubbed
         FROM staged2 ORDER BY event_id""",
    "q71_quality_cut" ->
      """WITH q AS (
           SELECT doc_id, source,
           round((
             least(len(string_split_regex(lower(trim(text)), '\s+')), 50) / 50.0
             + (1.0 - len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) * 1.0
                    / greatest(length(text), 1))
             + len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                   t -> list_contains(['the','a','of','and','to','in','is'], t))) * 1.0
               / greatest(len(string_split_regex(lower(trim(text)), '\s+')), 1)
           ) / 3.0, 4) AS quality
           FROM documents)
         SELECT doc_id, source, CAST(bucket AS BIGINT) AS bucket,
                CAST(CASE WHEN bucket > 1 THEN 1 ELSE 0 END AS BIGINT) AS keep
         FROM (SELECT doc_id, source,
                 ntile(5) OVER (PARTITION BY source ORDER BY quality, doc_id) AS bucket
               FROM q)
         ORDER BY doc_id""",
    "q22_lang_id" ->
      """WITH t AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
           FROM documents),
         s AS (
           SELECT doc_id,
             len(list_filter(toks, x -> list_contains(['the','a','of','and','is','to'], x))) AS s_en,
             len(list_filter(toks, x -> list_contains(['le','la','les','et','est','une'], x))) AS s_fr,
             len(list_filter(toks, x -> list_contains(['el','los','las','es','una','y'], x))) AS s_es,
             len(list_filter(toks, x -> list_contains(['der','die','das','und','ist','ein'], x))) AS s_de,
             len(list_filter(toks, x -> list_contains(['的','是','了','在','和','有'], x))) AS s_zh
           FROM t)
         SELECT doc_id,
           CASE
             WHEN s_en = greatest(s_en, s_fr, s_es, s_de, s_zh) AND s_en > 0 THEN 'en'
             WHEN s_fr = greatest(s_en, s_fr, s_es, s_de, s_zh) AND s_fr > 0 THEN 'fr'
             WHEN s_es = greatest(s_en, s_fr, s_es, s_de, s_zh) AND s_es > 0 THEN 'es'
             WHEN s_de = greatest(s_en, s_fr, s_es, s_de, s_zh) AND s_de > 0 THEN 'de'
             WHEN s_zh = greatest(s_en, s_fr, s_es, s_de, s_zh) AND s_zh > 0 THEN 'zh'
             ELSE 'und'
           END AS lang_pred
         FROM s ORDER BY doc_id""",
    // trigram lang-id: a 1- or 3-char profile gram scores iff it is a
    // substring of the lowercased text (= membership in the trigram set);
    // strictly-greater scan in profile order == first-max CASE chain
    "q27_trigram_langid" ->
      """WITH t AS (SELECT doc_id, lower(text) AS lt FROM documents),
         s AS (
           SELECT doc_id,
             len(list_filter(['th ','the',' th','ing','ion','and',' an','ed ',' of','of '], g -> contains(lt, g))) AS s_en,
             len(list_filter(['es ',' de','de ','le ',' le','ent','que',' qu','ait','ion'], g -> contains(lt, g))) AS s_fr,
             len(list_filter([' de','de ','os ',' la','la ','ión','ent','ar ',' co','es '], g -> contains(lt, g))) AS s_es,
             len(list_filter(['en ','er ','ch ',' de','der','ein','sch','ie ','und',' un'], g -> contains(lt, g))) AS s_de,
             len(list_filter(['的','是','了','在','和'], g -> contains(lt, g))) AS s_zh
           FROM t)
         SELECT doc_id,
           CASE
             WHEN s_en = greatest(s_en, s_fr, s_es, s_de, s_zh) AND s_en > 0 THEN 'en'
             WHEN s_fr = greatest(s_en, s_fr, s_es, s_de, s_zh) AND s_fr > 0 THEN 'fr'
             WHEN s_es = greatest(s_en, s_fr, s_es, s_de, s_zh) AND s_es > 0 THEN 'es'
             WHEN s_de = greatest(s_en, s_fr, s_es, s_de, s_zh) AND s_de > 0 THEN 'de'
             WHEN s_zh = greatest(s_en, s_fr, s_es, s_de, s_zh) AND s_zh > 0 THEN 'zh'
             ELSE 'und'
           END AS lang_pred
         FROM s ORDER BY doc_id""",
    "q23_ann_brute" ->
      """WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
                    FROM embeddings WHERE vec_id < 5),
         d AS (SELECT vec_id, embedding::DOUBLE[] AS v
               FROM embeddings WHERE vec_id >= 5),
         scored AS (
           SELECT qid, vec_id, list_cosine_similarity(qv, v) AS sim
           FROM q CROSS JOIN d),
         ranked AS (
           SELECT qid, vec_id AS id, sim,
                  row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
           FROM scored)
         SELECT qid, id, round(sim, 4) AS sim, rn
         FROM ranked WHERE rn <= 5 ORDER BY qid, rn""",
    // portable MinHash+LSH: 60-bit md5-prefix shingle hash, the published
    // (a,b) affine family mod 2^61-1 (HUGEINT arithmetic — exactly the
    // fold affineMod61 computes), 8 bands of 8 rows keyed by the decimal
    // CSV of the band slice, agreement/64 estimate at 4 dp
    "q24_minhash_lsh" ->
      s"""WITH t AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS l
           FROM documents WHERE text IS NOT NULL),
         tok AS (SELECT DISTINCT doc_id, unnest(l) AS g FROM t),
         x AS (SELECT doc_id, ('0x' || substr(md5(g), 1, 15))::BIGINT AS x FROM tok),
         ab AS (SELECT * FROM (VALUES ${graft.dedup.Dedup.minHashAbSqlValues}) v(s, a, b)),
         sig AS (
           SELECT doc_id, s,
                  min(((a::HUGEINT * x::HUGEINT + b) % 2305843009213693951)::BIGINT) AS h
           FROM x CROSS JOIN ab GROUP BY doc_id, s),
         bnd AS (
           SELECT doc_id, s // 8 AS band,
                  string_agg(h::VARCHAR, ',' ORDER BY s) AS bucket
           FROM sig GROUP BY doc_id, s // 8),
         cand AS (
           SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM bnd a JOIN bnd b
             ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
         est AS (
           SELECT c.id_a, c.id_b,
                  round(sum(CASE WHEN sa.h = sb.h THEN 1 ELSE 0 END) / 64.0, 4) AS est_jaccard
           FROM cand c
           JOIN sig sa ON sa.doc_id = c.id_a
           JOIN sig sb ON sb.doc_id = c.id_b AND sb.s = sa.s
           GROUP BY c.id_a, c.id_b)
         SELECT id_a, id_b, est_jaccard FROM est
         WHERE est_jaccard >= 0.9 ORDER BY id_a, id_b""",
    // portable SimHash: 60-bit md5-prefix token hashes, majority bit
    // votes, 4x15-bit pigeonhole chunks, bit_count(xor) verification
    "q25_simhash" ->
      """WITH t AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS l
           FROM documents WHERE text IS NOT NULL),
         tok AS (SELECT doc_id, unnest(l) AS tk FROM t),
         th AS (SELECT doc_id, ('0x' || substr(md5(tk), 1, 15))::BIGINT AS h FROM tok),
         bits AS (
           SELECT doc_id, b,
                  CASE WHEN sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) > 0
                       THEN 1::BIGINT ELSE 0::BIGINT END AS bit
           FROM th CROSS JOIN (SELECT unnest(range(60)) AS b) r
           GROUP BY doc_id, b),
         fp AS (SELECT doc_id, CAST(sum(bit * (1::BIGINT << b)) AS BIGINT) AS h
                FROM bits GROUP BY doc_id),
         ch AS (
           SELECT doc_id, h, c AS chunk_idx, (h >> (c * 15)) & 32767 AS chunk_val
           FROM fp CROSS JOIN (SELECT unnest(range(4)) AS c) r),
         cand AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                  bit_count(xor(a.h, b.h)) AS hd
           FROM ch a JOIN ch b ON a.chunk_idx = b.chunk_idx
             AND a.chunk_val = b.chunk_val AND a.doc_id < b.doc_id)
         SELECT id_a, id_b, CAST(min(hd) AS INT) AS hamming
         FROM cand WHERE hd <= 3
         GROUP BY id_a, id_b ORDER BY id_a, id_b""",
    // portable sign-LSH: 28-bit md5-prefix hyperplane components centered
    // on zero, EXACT integer dot products over the 1e-6 vector grid, 8
    // bands x 4 bits, exact cosine verification
    "q26_embed_neardup" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         ev AS (
           SELECT vec_id, i - 1 AS d, CAST(round(v[i] * 1000000) AS BIGINT) AS v6
           FROM e, unnest(range(1, len(v) + 1)) r(i)),
         pl AS (
           SELECT p, d,
                  ('0x' || substr(md5(p::VARCHAR || '_' || d::VARCHAR), 1, 7))::BIGINT
                    - 134217728 AS w
           FROM (SELECT unnest(range(32)) AS p) pp
           CROSS JOIN (SELECT unnest(range((SELECT max(len(v)) FROM e))) AS d) dd),
         dot AS (
           SELECT ev.vec_id, pl.p, sum(ev.v6 * pl.w) AS s
           FROM ev JOIN pl ON pl.d = ev.d
           GROUP BY ev.vec_id, pl.p),
         bk AS (
           SELECT vec_id, p // 4 AS band,
                  CAST(sum((CASE WHEN s >= 0 THEN 1 ELSE 0 END)
                           * (1 << (3 - (p % 4)))) AS BIGINT) AS bucket
           FROM dot GROUP BY vec_id, p // 4),
         cand AS (
           SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
           FROM bk a JOIN bk b
             ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
         cs AS (
           SELECT c.id_a, c.id_b, list_cosine_similarity(ea.v, eb.v) AS cos0
           FROM cand c
           JOIN e ea ON ea.vec_id = c.id_a
           JOIN e eb ON eb.vec_id = c.id_b)
         SELECT id_a, id_b, round(cos0, 4) AS cos FROM cs
         WHERE cos0 >= 0.2 ORDER BY id_a, id_b""",
    // portable count-min: bucket_j(k) = first 8 md5 hex chars of "j:k"
    // mod width; estimate = min over the 5 rows of the bucket counts
    "q166_cms_estimates" ->
      """WITH ks AS (
           SELECT event_type::VARCHAR AS k FROM events
           WHERE event_type IS NOT NULL),
         j AS (SELECT unnest(range(5)) AS j),
         cnts AS (
           SELECT j.j,
                  ('0x' || substr(md5(j.j::VARCHAR || ':' || ks.k), 1, 8))::BIGINT
                    % 2048 AS bucket,
                  count(*) AS cnt
           FROM ks CROSS JOIN j GROUP BY 1, 2),
         probes AS (
           SELECT unnest(['view','click','purchase','signup','error']) AS key),
         pb AS (
           SELECT p.key, j.j,
                  ('0x' || substr(md5(j.j::VARCHAR || ':' || p.key), 1, 8))::BIGINT
                    % 2048 AS bucket
           FROM probes p CROSS JOIN j)
         SELECT pb.key,
                min(coalesce(c.cnt, 0)) AS estimate,
                (SELECT count(*) FROM ks) AS total
         FROM pb LEFT JOIN cnts c ON c.j = pb.j AND c.bucket = pb.bucket
         GROUP BY pb.key ORDER BY pb.key""",
    "q29_window_features" ->
      """SELECT window_id,
         count(CASE WHEN event_type = 'click' THEN 1 END) AS n_click,
         count(CASE WHEN event_type = 'error' THEN 1 END) AS n_error,
         count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
         count(CASE WHEN event_type = 'signup' THEN 1 END) AS n_signup,
         count(CASE WHEN event_type = 'view' THEN 1 END) AS n_view,
         max(CASE WHEN event_type = 'error' AND value > 300 THEN 1 ELSE 0 END) AS label
         FROM (SELECT (row_number() OVER (ORDER BY event_id) - 1) // 5 AS window_id,
                      event_type, value
               FROM events) t
         GROUP BY window_id ORDER BY window_id""",
    "q30_corr_pairs" ->
      """WITH m AS (
           SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(CAST(l_quantity AS DECIMAL(19,6))) AS DOUBLE) AS s0,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(19,6))) AS DOUBLE) AS s1,
             CAST(sum(CAST(l_discount AS DECIMAL(19,6))) AS DOUBLE) AS s2,
             CAST(sum(CAST(l_tax AS DECIMAL(19,6))) AS DOUBLE) AS s3,
             CAST(sum(CAST(l_quantity AS DECIMAL(19,6)) * CAST(l_quantity AS DECIMAL(19,6))) AS DOUBLE) AS ss0,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(19,6)) * CAST(l_extendedprice AS DECIMAL(19,6))) AS DOUBLE) AS ss1,
             CAST(sum(CAST(l_discount AS DECIMAL(19,6)) * CAST(l_discount AS DECIMAL(19,6))) AS DOUBLE) AS ss2,
             CAST(sum(CAST(l_tax AS DECIMAL(19,6)) * CAST(l_tax AS DECIMAL(19,6))) AS DOUBLE) AS ss3,
             CAST(sum(CAST(l_quantity AS DECIMAL(19,6)) * CAST(l_extendedprice AS DECIMAL(19,6))) AS DOUBLE) AS sp01,
             CAST(sum(CAST(l_quantity AS DECIMAL(19,6)) * CAST(l_discount AS DECIMAL(19,6))) AS DOUBLE) AS sp02,
             CAST(sum(CAST(l_quantity AS DECIMAL(19,6)) * CAST(l_tax AS DECIMAL(19,6))) AS DOUBLE) AS sp03,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(19,6)) * CAST(l_discount AS DECIMAL(19,6))) AS DOUBLE) AS sp12,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(19,6)) * CAST(l_tax AS DECIMAL(19,6))) AS DOUBLE) AS sp13,
             CAST(sum(CAST(l_discount AS DECIMAL(19,6)) * CAST(l_tax AS DECIMAL(19,6))) AS DOUBLE) AS sp23
           FROM lineitem),
         p AS (
           SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
                  n, sp01 AS sp, s0 AS sa, s1 AS sb, ss0 AS ssa, ss1 AS ssb FROM m
           UNION ALL SELECT 'l_quantity', 'l_discount', n, sp02, s0, s2, ss0, ss2 FROM m
           UNION ALL SELECT 'l_quantity', 'l_tax', n, sp03, s0, s3, ss0, ss3 FROM m
           UNION ALL SELECT 'l_extendedprice', 'l_discount', n, sp12, s1, s2, ss1, ss2 FROM m
           UNION ALL SELECT 'l_extendedprice', 'l_tax', n, sp13, s1, s3, ss1, ss3 FROM m
           UNION ALL SELECT 'l_discount', 'l_tax', n, sp23, s2, s3, ss2, ss3 FROM m)
         SELECT col_a, col_b,
           round((n * sp - sa * sb) /
             (sqrt(n * ssa - sa * sa) * sqrt(n * ssb - sb * sb)), 4) AS corr
         FROM p ORDER BY col_a, col_b""",
    "q31_split_counts" ->
      """WITH e AS (
           SELECT event_id, event_type,
             ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))::BIGINT
               / 4294967296.0 AS u
           FROM events),
         r AS (
           SELECT event_id, event_type,
             row_number() OVER (PARTITION BY event_type ORDER BY u, event_id) AS rk,
             count(*) OVER (PARTITION BY event_type) AS n
           FROM e),
         s AS (
           SELECT event_id, event_type,
             CASE WHEN rk <= floor(n * 0.6 + 0.5) THEN 'train'
                  WHEN rk <= floor(n * (0.6 + 0.2) + 0.5) THEN 'val'
                  ELSE 'test' END AS split
           FROM r)
         SELECT split, event_type, count(*) AS n,
                CAST(sum(event_id) AS BIGINT) AS sum_ids
         FROM s GROUP BY 1, 2 ORDER BY 1, 2""",
    "q36_media_ingest" ->
      """SELECT doc_id AS media_id,
         ['image','audio','video'][(doc_id % 3 + 1)::int] AS kind,
         octet_length(encode(text)) AS n_bytes,
         md5(text) AS payload_md5
         FROM documents ORDER BY media_id""",
    // media features roll up BYTE statistics of the ingested payloads —
    // the corpus is ASCII, so byte i of the UTF-8 payload is
    // ord(char i) (the q145 contract); entropy mirrors the Scala loop
    // term by term: -Σ (c/n)·ln(c/n)/ln(2)
    "q37_media_features" ->
      """WITH m AS (
           SELECT doc_id,
                  ['image','audio','video'][CAST(doc_id % 3 AS INTEGER) + 1] AS kind,
                  text, length(text) AS n
           FROM documents),
         byt AS (
           SELECT doc_id, kind, n,
                  ord(substr(text, CAST(i AS INTEGER) + 1, 1)) AS b
           FROM m, unnest(range(n)) r(i)),
         hist AS (
           SELECT doc_id, kind, n, b, count(*) AS c
           FROM byt GROUP BY doc_id, kind, n, b),
         feat AS (
           SELECT doc_id, kind,
                  sum(b * c) * 1.0 / greatest(n, 1) AS mean_byte,
                  -sum((c * 1.0 / n) * ln(c * 1.0 / n) / ln(2)) AS entropy
           FROM hist GROUP BY doc_id, kind, n)
         SELECT kind, count(*) AS n,
                round(avg(mean_byte), 4) AS avg_mean_byte,
                round(avg(entropy), 4) AS avg_entropy
         FROM feat GROUP BY kind ORDER BY kind""",
    // frame sampling: every output is an integer function of the
    // payload's UTF-8 byte length (frames of 16 bytes, keep every 4th;
    // the last frame is partial, counted only when its index ≡ 0 mod 4)
    "q38_frame_sample" ->
      """WITH m AS (SELECT doc_id AS media_id, octet_length(encode(text)) AS len
              FROM documents),
         f AS (SELECT media_id, len,
                 CAST(ceil(len / 16.0) AS INTEGER) AS n_frames FROM m),
         k AS (SELECT media_id, len, n_frames,
                 CAST(ceil(n_frames / 4.0) AS INTEGER) AS n_kept FROM f)
         SELECT media_id, n_frames, n_kept,
           CAST(CASE WHEN n_frames = 0 THEN 0
             WHEN (n_frames - 1) % 4 = 0
               THEN (n_kept - 1) * 16 + (len - (n_frames - 1) * 16)
             ELSE n_kept * 16 END AS INTEGER) AS sampled_bytes
         FROM k ORDER BY media_id""",
    "q39_stream_window" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
         count(*) AS n, round((CAST(sum(CAST(round((value) * 1000000) AS BIGINT) // 1000000000) AS DOUBLE) * 1000000000.0 + CAST(sum(CAST(round((value) * 1000000) AS BIGINT) % 1000000000) AS DOUBLE)) / 100.0) / 10000.0::DOUBLE AS sum_value
         FROM events
         GROUP BY date_trunc('hour', ts), event_type
         ORDER BY window_start, event_type""",
    "q41_sql_surface" ->
      """SELECT event_type, count(*) AS n,
         round((CAST(sum(CAST(round((value) * 1000000) AS BIGINT) // 1000000000) AS DOUBLE) * 1000000000.0 + CAST(sum(CAST(round((value) * 1000000) AS BIGINT) % 1000000000) AS DOUBLE)) / 100.0 / count(*)) / 10000.0 AS avg_value
         FROM events WHERE user_id % 2 = 0
         GROUP BY event_type ORDER BY event_type""",
    "q42_distribution_stats" ->
      """SELECT source, count(*) AS n, count(DISTINCT lang) AS n_langs,
         round(quantile_cont(n_chars, 0.5), 4) AS p50_chars,
         round(quantile_cont(n_chars, 0.9), 4) AS p90_chars
         FROM documents GROUP BY source ORDER BY source""",
    "q43_dedup_apply" ->
      """SELECT doc_id, source FROM (
           SELECT doc_id, source, row_number() OVER (
             PARTITION BY md5(array_to_string(list_sort(list_distinct(
               string_split_regex(lower(trim(text)), '\s+'))), ' '))
             ORDER BY doc_id) AS rk
           FROM documents) t
         WHERE rk = 1 ORDER BY doc_id""",
    // session_id must be CAST to BIGINT: DuckDB's sum(INTEGER) yields
    // HUGEINT, which pandas renders as float64 ("0.0" vs Spark's "0") —
    // a dtype-only hash mismatch invisible to row/schema checks.
    "q44_sessionize" ->
      """WITH g AS (
           SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 1800000000
                  THEN 1 ELSE 0 END AS ns
           FROM events),
         s AS (
           SELECT user_id, value,
             CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) - 1
                  AS BIGINT) AS session_id
           FROM g)
         SELECT user_id, session_id, count(*) AS n_events,
                round((CAST(sum(CAST(round((value) * 1000000) AS BIGINT) // 1000000000) AS DOUBLE) * 1000000000.0 + CAST(sum(CAST(round((value) * 1000000) AS BIGINT) % 1000000000) AS DOUBLE)) / 100.0) / 10000.0::DOUBLE AS session_value
         FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id""",
    // n_tokens: sum(INTEGER-ish) in DuckDB yields HUGEINT → pandas float64;
    // CAST to BIGINT to match Spark's long (same class of failure as q44)
    "q55_curate" ->
      """WITH t AS (
           SELECT doc_id, source, text,
                  string_split_regex(lower(trim(text)), '\s+') AS toks
           FROM documents),
         scored AS (
           SELECT doc_id, source, text, toks,
             round((least(len(toks), 50) / 50.0
               + (1.0 - len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) * 1.0
                      / greatest(length(text), 1))
               + len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is'], x))) * 1.0
                 / greatest(len(toks), 1)) / 3.0, 4) AS quality,
             len(toks) AS ws_tokens,
             len(list_filter(toks, x -> list_contains(['the','a','of','and','is','to'], x))) AS s_en,
             len(list_filter(toks, x -> list_contains(['le','la','les','et','est','une'], x))) AS s_fr,
             len(list_filter(toks, x -> list_contains(['el','los','las','es','una','y'], x))) AS s_es,
             len(list_filter(toks, x -> list_contains(['der','die','das','und','ist','ein'], x))) AS s_de,
             len(list_filter(toks, x -> list_contains(['的','是','了','在','和','有'], x))) AS s_zh
           FROM t),
         langed AS (
           SELECT *, CASE
             WHEN s_en = greatest(s_en, s_fr, s_es, s_de, s_zh) AND s_en > 0 THEN 'en'
             WHEN s_fr = greatest(s_en, s_fr, s_es, s_de, s_zh) AND s_fr > 0 THEN 'fr'
             WHEN s_es = greatest(s_en, s_fr, s_es, s_de, s_zh) AND s_es > 0 THEN 'es'
             WHEN s_de = greatest(s_en, s_fr, s_es, s_de, s_zh) AND s_de > 0 THEN 'de'
             WHEN s_zh = greatest(s_en, s_fr, s_es, s_de, s_zh) AND s_zh > 0 THEN 'zh'
             ELSE 'und' END AS lang_pred
           FROM scored),
         kept AS (
           SELECT * FROM langed
           WHERE lang_pred = 'en' AND quality >= 0.65 AND ws_tokens >= 20),
         dedup AS (
           SELECT *, row_number() OVER (
             PARTITION BY md5(array_to_string(list_sort(list_distinct(toks)), ' '))
             ORDER BY doc_id) AS rk
           FROM kept)
         SELECT source, count(*) AS n_docs,
                CAST(sum(ws_tokens) AS BIGINT) AS n_tokens,
                round((CAST(sum(CAST(round((quality) * 1000000) AS BIGINT) // 1000000000) AS DOUBLE) * 1000000000.0 + CAST(sum(CAST(round((quality) * 1000000) AS BIGINT) % 1000000000) AS DOUBLE)) / 100.0 / count(*)) / 10000.0 AS avg_quality
         FROM dedup WHERE rk = 1
         GROUP BY source ORDER BY source""",
    "q54_tfidf" ->
      """WITH toks AS (
           SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
           FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
         dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         n AS (SELECT count(*) AS n FROM documents),
         weighted AS (
           SELECT doc_id, term,
                  tf * (ln((n.n + 1.0) / (df + 1.0)) + 1.0) AS tfidf_raw
           FROM tf JOIN dfreq USING (term) CROSS JOIN n),
         ranked AS (
           SELECT doc_id, term,
                  row_number() OVER (PARTITION BY doc_id ORDER BY tfidf_raw DESC, term) AS rn,
                  tfidf_raw
           FROM weighted)
         SELECT doc_id, term, rn, round(tfidf_raw, 4) AS tfidf
         FROM ranked WHERE rn <= 3 ORDER BY doc_id, rn""",
    // winnowing: per-position mod-p polynomial gram hashes (k=5),
    // sliding-window (w=4) minima, distinct values. Every intermediate
    // ≤ p·B < 2^52 — exact in BIGINT; mirrors the UDF step for step.
    "q52_winnow_fp" ->
      """WITH t AS (SELECT doc_id, lower(text) AS lt FROM documents),
         g AS (SELECT doc_id, lt, greatest(len(lt) - 4, 0) AS n FROM t),
         h AS (
           SELECT doc_id, n,
             list_transform(range(1, n + 1), i ->
               (((((((unicode(lt[i])::BIGINT * 1000003 + unicode(lt[i+1])) % 2147483647)
                  * 1000003 + unicode(lt[i+2])) % 2147483647)
                  * 1000003 + unicode(lt[i+3])) % 2147483647)
                  * 1000003 + unicode(lt[i+4])) % 2147483647) AS hs
           FROM g),
         m AS (
           SELECT doc_id,
             CASE WHEN n = 0 THEN []::BIGINT[]
                  WHEN n >= 4 THEN list_distinct(list_transform(
                    range(1, n - 4 + 2), s -> list_min(hs[s:s+3])))
                  ELSE [list_min(hs)] END AS fps
           FROM h)
         SELECT doc_id, len(fps) AS n_fps, list_min(fps) AS min_fp
         FROM m ORDER BY doc_id""",
    "q53_session_window" ->
      """WITH g AS (
           SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) >= 1800000000
                  THEN 1 ELSE 0 END AS ns
           FROM events),
         s AS (
           SELECT user_id, ts, value,
             sum(ns) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
           FROM g)
         SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
                round((CAST(sum(CAST(round((value) * 1000000) AS BIGINT) // 1000000000) AS DOUBLE) * 1000000000.0 + CAST(sum(CAST(round((value) * 1000000) AS BIGINT) % 1000000000) AS DOUBLE)) / 100.0) / 10000.0::DOUBLE AS session_value
         FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""",
    // streaming twin of q53: same session semantics, same oracle shape
    "q58_stream_session" ->
      """WITH g AS (
           SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) >= 1800000000
                  THEN 1 ELSE 0 END AS ns
           FROM events),
         s AS (
           SELECT user_id, ts, value,
             sum(ns) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
           FROM g)
         SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
                round((CAST(sum(CAST(round((value) * 1000000) AS BIGINT) // 1000000000) AS DOUBLE) * 1000000000.0 + CAST(sum(CAST(round((value) * 1000000) AS BIGINT) % 1000000000) AS DOUBLE)) / 100.0) / 10000.0::DOUBLE AS session_value
         FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""",
    "q50_stream_join" ->
      """SELECT e.user_id, count(*) AS n_pairs
         FROM events e JOIN events c
           ON e.user_id = c.user_id
          AND e.event_type = 'error' AND c.event_type = 'click'
          AND c.ts >= e.ts - INTERVAL 1 HOUR AND c.ts <= e.ts
         GROUP BY e.user_id ORDER BY e.user_id""",
    "q45_asof_join" ->
      """WITH u AS (
           SELECT user_id AS k, ts AS t, event_id AS lv, NULL::BIGINT AS rv, 1 AS side
           FROM events
           UNION ALL
           SELECT o_custkey, o_orderdate, NULL::BIGINT, o_orderkey, 0
           FROM orders WHERE o_custkey <= 150),
         w AS (
           SELECT k, t, lv, side,
             last_value(rv IGNORE NULLS) OVER (
               PARTITION BY k ORDER BY t, side, rv ASC NULLS FIRST
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS matched_rv
           FROM u)
         SELECT k AS user_id, lv AS event_id, matched_rv AS asof_o_orderkey
         FROM w WHERE side = 1 ORDER BY user_id, event_id""",
    "q56_asof_tolerance" ->
      """WITH u AS (
           SELECT user_id AS k, ts AS t, event_id AS lv, NULL::BIGINT AS rv,
                  NULL::TIMESTAMP AS rt, 1 AS side
           FROM events
           UNION ALL
           SELECT o_custkey, o_orderdate, NULL::BIGINT, o_orderkey, o_orderdate, 0
           FROM orders WHERE o_custkey <= 150),
         w AS (
           SELECT k, t, lv, side,
             last_value(rv IGNORE NULLS) OVER (
               PARTITION BY k ORDER BY t, side, rv ASC NULLS FIRST
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS matched_rv,
             last_value(rt IGNORE NULLS) OVER (
               PARTITION BY k ORDER BY t, side, rv ASC NULLS FIRST
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS matched_t
           FROM u)
         SELECT k AS user_id, lv AS event_id,
                CASE WHEN matched_t IS NOT NULL
                      AND epoch_us(t) - epoch_us(matched_t) <= 730000000000000
                     THEN matched_rv END AS asof_o_orderkey
         FROM w WHERE side = 1 ORDER BY user_id, event_id""",
    "q46_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
         round((CAST(sum(CAST(round((l_extendedprice) * 1000000) AS BIGINT) // 1000000000) AS DOUBLE) * 1000000000.0 + CAST(sum(CAST(round((l_extendedprice) * 1000000) AS BIGINT) % 1000000000) AS DOUBLE)) / 10000.0) / 100.0::DOUBLE AS sum_price
         FROM lineitem
         GROUP BY ROLLUP(l_returnflag, l_linestatus)
         ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""",
    "q57_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
         round((CAST(sum(CAST(round((l_quantity) * 1000000) AS BIGINT) // 1000000000) AS DOUBLE) * 1000000000.0 + CAST(sum(CAST(round((l_quantity) * 1000000) AS BIGINT) % 1000000000) AS DOUBLE)) / 10000.0) / 100.0::DOUBLE AS sum_qty
         FROM lineitem
         GROUP BY CUBE(l_returnflag, l_linestatus)
         ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""",
    // salting is semantically invisible: the oracle is the PLAIN join
    "q88_salted_join" ->
      """SELECT c_mktsegment, count(*) AS n_events,
         round((CAST(sum(CAST(round((value) * 1000000) AS BIGINT) // 1000000000) AS DOUBLE) * 1000000000.0 + CAST(sum(CAST(round((value) * 1000000) AS BIGINT) % 1000000000) AS DOUBLE)) / 100.0) / 10000.0::DOUBLE AS sum_value
         FROM events JOIN customer ON user_id = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "q89_sorted_neighbors" ->
      """WITH k AS (
           SELECT doc_id, substr(lower(trim(text)), 1, 24) AS sk,
                  substr(lower(trim(text)), 1, 120) AS cmp
           FROM documents),
         r AS (
           SELECT doc_id, cmp,
                  row_number() OVER (ORDER BY sk, doc_id) AS rn
           FROM k)
         SELECT least(a.doc_id, b.doc_id) AS id_a,
                greatest(a.doc_id, b.doc_id) AS id_b,
                CAST(levenshtein(a.cmp, b.cmp) AS BIGINT) AS dist
         FROM r a JOIN r b ON b.rn BETWEEN a.rn + 1 AND a.rn + 3
         WHERE levenshtein(a.cmp, b.cmp) <= 25
         ORDER BY id_a, id_b""",
    // dirty input constructed identically (a → a + combining acute U+0301,
    // i.e. chr(769)); nfc_normalize must recompose it to precomposed á
    "q90_unicode_norm" ->
      """WITH d AS (
           SELECT doc_id, replace(text, 'a', 'a' || chr(769)) AS dirty
           FROM documents)
         SELECT doc_id, length(dirty) AS len_dirty,
                length(nfc_normalize(dirty)) AS len_norm,
                md5(nfc_normalize(dirty)) AS norm_md5
         FROM d ORDER BY doc_id""",
    "q91_event_deltas" ->
      """SELECT user_id, event_id,
         epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS prev_gap_us,
         lead(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_event_id,
         round(percent_rank() OVER (PARTITION BY user_id ORDER BY value, event_id), 4) AS pr_value,
         round(cume_dist() OVER (PARTITION BY user_id ORDER BY value, event_id), 4) AS cd_value
         FROM events ORDER BY user_id, event_id""",
    "q92_grouping_sets" ->
      """WITH e AS (
           SELECT event_type, user_id % 7 AS user_bucket, value FROM events)
         SELECT event_type, user_bucket,
                CAST(grouping(event_type) AS BIGINT) AS g_type,
                CAST(grouping(user_bucket) AS BIGINT) AS g_bucket,
                count(*) AS n,
                round((CAST(sum(CAST(round((value) * 1000000) AS BIGINT) // 1000000000) AS DOUBLE) * 1000000000.0 + CAST(sum(CAST(round((value) * 1000000) AS BIGINT) % 1000000000) AS DOUBLE)) / 100.0) / 10000.0::DOUBLE AS sum_value
         FROM e GROUP BY GROUPING SETS ((event_type), (user_bucket), ())
         ORDER BY g_type, g_bucket,
                  event_type ASC NULLS FIRST, user_bucket ASC NULLS FIRST""",
    "q111_star_join" ->
      """SELECT n_name,
         round((CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)) * 1000000) AS BIGINT) // 1000000000) AS DOUBLE) * 1000000000.0 + CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)) * 1000000) AS BIGINT) % 1000000000) AS DOUBLE)) / 10000.0) / 100.0::DOUBLE AS revenue,
         count(*) AS n_items
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
         GROUP BY n_name ORDER BY n_name""",
    "q112_containment_pairs" ->
      """WITH t AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
           FROM documents),
         sh AS (
           SELECT doc_id, unnest(list_distinct(
             list_transform(range(len(toks) - 2),
               i -> array_to_string(toks[i+1:i+3], ' ')))) AS tok
           FROM t),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         shared AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
           FROM sh a JOIN sh b ON a.tok = b.tok AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
         SELECT id_a, id_b,
                round(c * 1.0 / least(sa.n, sb.n), 4) AS containment
         FROM shared
         JOIN sizes sa ON sa.doc_id = id_a
         JOIN sizes sb ON sb.doc_id = id_b
         WHERE c * 1.0 / least(sa.n, sb.n) >= 0.9
         ORDER BY id_a, id_b""",
    "q113_corpus_diff" ->
      """WITH v1 AS (SELECT doc_id, text FROM documents),
         v2 AS (
           SELECT doc_id,
             CASE WHEN doc_id % 11 = 0 THEN text || ' [v2 edit]' ELSE text END AS text
           FROM documents WHERE doc_id % 13 <> 0
           UNION ALL
           SELECT doc_id + 1000000, 'new: ' || text
           FROM documents WHERE doc_id % 17 = 0),
         o AS (SELECT doc_id, md5(text) AS oh FROM v1),
         c AS (SELECT doc_id, md5(text) AS ch FROM v2)
         SELECT coalesce(o.doc_id, c.doc_id) AS doc_id,
           CASE WHEN o.doc_id IS NULL THEN 'added'
                WHEN c.doc_id IS NULL THEN 'removed'
                WHEN oh = ch THEN 'unchanged'
                ELSE 'changed' END AS status
         FROM o FULL OUTER JOIN c ON o.doc_id = c.doc_id
         ORDER BY doc_id""",
    "q114_novelty" ->
      """WITH t AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
           FROM documents),
         sh AS (
           SELECT doc_id, unnest(list_distinct(
             list_transform(range(len(toks) - 2),
               i -> array_to_string(toks[i+1:i+3], ' ')))) AS g
           FROM t),
         ref AS (SELECT DISTINCT g FROM sh WHERE doc_id % 7 = 0),
         m AS (
           SELECT s.doc_id, count(*) AS n_ngrams,
                  count(*) FILTER (WHERE r.g IS NULL) AS n_novel
           FROM sh s LEFT JOIN ref r ON s.g = r.g
           GROUP BY 1)
         SELECT d.doc_id,
           coalesce(n_ngrams, 0) AS n_ngrams,
           coalesce(n_novel, 0) AS n_novel,
           CASE WHEN coalesce(n_ngrams, 0) > 0
                THEN round(n_novel * 1.0 / n_ngrams, 4) END AS novelty
         FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id
         ORDER BY d.doc_id""",
    "q115_sentence_dedup" ->
      """WITH t AS (
           SELECT doc_id, string_split_regex(text, '[.!?]+\s+') AS arr
           FROM documents),
         u AS (
           SELECT doc_id, trim(unnest(arr)) AS sentence,
                  generate_subscripts(arr, 1) AS pos
           FROM t),
         s AS (SELECT * FROM u WHERE sentence <> ''),
         k AS (
           SELECT doc_id,
             row_number() OVER (PARTITION BY sentence ORDER BY doc_id, pos) AS rn
           FROM s),
         m AS (
           SELECT doc_id, count(*) AS n_sentences,
                  count(*) FILTER (WHERE rn = 1) AS n_kept
           FROM k GROUP BY 1)
         SELECT d.doc_id,
           coalesce(n_sentences, 0) AS n_sentences,
           coalesce(n_kept, 0) AS n_kept,
           CASE WHEN coalesce(n_sentences, 0) > 0
                THEN round((n_sentences - n_kept) * 1.0 / n_sentences, 4)
           END AS dup_frac
         FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id
         ORDER BY d.doc_id""",
    "q116_bm25" ->
      """WITH docs AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
           FROM documents),
         post AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS tok FROM docs),
         tf AS (SELECT doc_id, dl, tok, count(*) AS tf FROM post GROUP BY 1, 2, 3),
         consts AS (
           SELECT count(*) AS n_docs, avg(dl) AS avgdl
           FROM (SELECT DISTINCT doc_id, dl FROM tf)),
         q AS (
           SELECT doc_id AS qid, unnest(list_distinct(toks[1:8])) AS tok
           FROM docs WHERE doc_id % 97 = 0),
         dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
         scored AS (
           SELECT q.qid, tf.doc_id,
             sum(CAST(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * tf * 2.2 /
                 (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
                 AS DECIMAL(27,12))) AS score_d
           FROM tf
           JOIN q ON tf.tok = q.tok
           JOIN dfreq ON tf.tok = dfreq.tok
           CROSS JOIN consts
           GROUP BY 1, 2),
         r AS (
           SELECT qid, doc_id,
             row_number() OVER (PARTITION BY qid ORDER BY score_d DESC, doc_id) AS rank,
             score_d
           FROM scored)
         SELECT qid, doc_id, rank, round(score_d, 4)::DOUBLE AS score
         FROM r WHERE rank <= 10 ORDER BY qid, doc_id""",
    "q117_funnel" ->
      """WITH e AS (
           SELECT user_id AS u, event_type AS et, date_trunc('microseconds', ts) AS t
           FROM events),
         s1 AS (SELECT u, min(t) AS tk FROM e WHERE et = 'view' GROUP BY 1),
         s2 AS (
           SELECT e.u, min(e.t) AS tk FROM e JOIN s1 ON e.u = s1.u
           WHERE e.et = 'click' AND e.t > s1.tk GROUP BY 1),
         s3 AS (
           SELECT e.u, min(e.t) AS tk FROM e JOIN s2 ON e.u = s2.u
           WHERE e.et = 'purchase' AND e.t > s2.tk GROUP BY 1),
         c AS (
           SELECT 1::BIGINT AS step_idx, 'view' AS step, count(*) AS n_users FROM s1
           UNION ALL
           SELECT 2::BIGINT, 'click', count(*) FROM s2
           UNION ALL
           SELECT 3::BIGINT, 'purchase', count(*) FROM s3)
         SELECT step_idx, step, n_users,
           round(n_users * 1.0 / NULLIF(lag(n_users) OVER (ORDER BY step_idx), 0), 4) AS conversion
         FROM c ORDER BY step_idx""",
    "q118_retention" ->
      """WITH wk AS (
           SELECT DISTINCT user_id AS u,
             (datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7)::BIGINT AS wk
           FROM events),
         c AS (SELECT u, min(wk) AS cohort_week FROM wk GROUP BY 1)
         SELECT cohort_week, wk.wk - c.cohort_week AS offset_weeks,
                count(*) AS n_users
         FROM wk JOIN c ON wk.u = c.u
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "q119_pmi" ->
      """WITH dt AS (
           SELECT doc_id AS id, unnest(list_distinct(
             string_split_regex(lower(trim(text)), '\s+'))) AS tok
           FROM documents),
         n AS (SELECT count(*) AS n_docs FROM documents),
         top AS (
           SELECT tok, count(*) AS df FROM dt GROUP BY 1
           ORDER BY df DESC, tok LIMIT 60),
         iv AS (SELECT dt.id, dt.tok FROM dt JOIN top ON dt.tok = top.tok),
         p AS (
           SELECT a.tok AS tok_a, b.tok AS tok_b, count(*) AS n_pair
           FROM iv a JOIN iv b ON a.id = b.id AND a.tok < b.tok
           GROUP BY 1, 2 HAVING count(*) >= 20)
         SELECT tok_a, tok_b, n_pair,
           round(ln(n_docs * n_pair * 1.0 / (ta.df * tb.df)), 4) AS pmi
         FROM p
         JOIN top ta ON ta.tok = tok_a
         JOIN top tb ON tb.tok = tok_b
         CROSS JOIN n
         ORDER BY pmi DESC, tok_a, tok_b LIMIT 40""",
    "q120_blocklist" ->
      """WITH dt AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
           FROM documents),
         pr AS (SELECT toks FROM dt WHERE doc_id % 89 = 0),
         ph AS (
           SELECT DISTINCT phrase FROM (
             SELECT array_to_string(toks[1:2], ' ') AS phrase FROM pr
             UNION ALL
             SELECT toks[3] FROM pr)
           WHERE phrase IS NOT NULL AND phrase <> ''),
         g AS (
           SELECT doc_id, unnest(toks) AS gram FROM dt
           UNION ALL
           SELECT doc_id, array_to_string(toks[i:i+1], ' ')
           FROM dt, unnest(range(1, len(toks))) AS t(i)),
         h AS (
           SELECT doc_id, count(*) AS n_hits,
                  count(DISTINCT gram) AS n_distinct_phrases
           FROM g JOIN ph ON g.gram = ph.phrase
           GROUP BY 1)
         SELECT d.doc_id, coalesce(n_hits, 0) AS n_hits,
                coalesce(n_distinct_phrases, 0) AS n_distinct_phrases,
                coalesce(n_hits, 0) > 0 AS blocked
         FROM documents d LEFT JOIN h ON d.doc_id = h.doc_id
         ORDER BY d.doc_id""",
    "q121_scd2" ->
      """WITH base AS (
           SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer),
         v2 AS (
           SELECT c_custkey, c_name,
             CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100.0 ELSE c_acctbal END
               AS c_acctbal,
             c_mktsegment
           FROM base WHERE c_custkey % 13 <> 0),
         v3 AS (
           SELECT c_custkey, c_name, c_acctbal,
             CASE WHEN c_custkey % 5 = 0 THEN 'CHANGED' ELSE c_mktsegment END
               AS c_mktsegment
           FROM v2),
         s AS (
           SELECT *, 1::BIGINT AS v FROM base
           UNION ALL SELECT *, 2::BIGINT FROM v2
           UNION ALL SELECT *, 3::BIGINT FROM v3),
         l AS (
           SELECT *,
             lag(c_name) OVER w AS pn, lag(c_acctbal) OVER w AS pb,
             lag(c_mktsegment) OVER w AS ps,
             (row_number() OVER w) AS rn
           FROM s WINDOW w AS (PARTITION BY c_custkey ORDER BY v)),
         o AS (
           SELECT * FROM l
           WHERE rn = 1 OR pn IS DISTINCT FROM c_name
              OR pb IS DISTINCT FROM c_acctbal
              OR ps IS DISTINCT FROM c_mktsegment)
         SELECT c_custkey, c_name, c_acctbal, c_mktsegment,
                v AS valid_from,
                lead(v) OVER (PARTITION BY c_custkey ORDER BY v) AS valid_to
         FROM o ORDER BY c_custkey, valid_from""",
    "q122_rolling_window" ->
      """SELECT event_id,
           count(*) OVER w AS n_window,
           round((CAST(sum(CAST(round((value) * 1000000) AS BIGINT) // 1000000000) OVER w AS DOUBLE) * 1000000000.0 + CAST(sum(CAST(round((value) * 1000000) AS BIGINT) % 1000000000) OVER w AS DOUBLE)) / 100.0) / 10000.0 AS sum_window
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY date_trunc('microseconds', ts)
                      RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
         ORDER BY event_id""",
    "q123_cdc_apply" ->
      """WITH base AS (
           SELECT c_custkey, 0::BIGINT AS v, 'insert' AS op, c_name, c_acctbal
           FROM customer),
         ch AS (
           SELECT c_custkey, 1::BIGINT, 'delete', c_name, c_acctbal
           FROM customer WHERE c_custkey % 9 = 0
           UNION ALL
           SELECT c_custkey, 2::BIGINT, 'update', c_name, c_acctbal + 50.0
           FROM customer WHERE c_custkey % 4 = 0
           UNION ALL
           SELECT c_custkey, 3::BIGINT, 'insert', c_name, 0.0
           FROM customer WHERE c_custkey % 17 = 0),
         s AS (SELECT * FROM base UNION ALL SELECT * FROM ch),
         w AS (
           SELECT c_custkey,
             max_by(struct_pack(op := op, c_name := c_name, c_acctbal := c_acctbal),
                    v) AS win
           FROM s GROUP BY 1)
         SELECT c_custkey, win.c_name AS c_name, win.c_acctbal AS c_acctbal
         FROM w WHERE win.op <> 'delete'
         ORDER BY c_custkey""",
    "q125_diversity" ->
      """WITH t AS (
           SELECT source, string_split_regex(lower(trim(text)), '\s+') AS toks
           FROM documents),
         g AS (
           SELECT source, unnest(
             list_transform(range(len(toks) - 2),
               i -> array_to_string(toks[i+1:i+3], ' '))) AS gram
           FROM t),
         p AS (SELECT source, gram, count(*) AS c FROM g GROUP BY 1, 2),
         r AS (
           SELECT source, CAST(sum(c) AS BIGINT) AS n_ngrams,
                  count(*) AS n_distinct
           FROM p GROUP BY 1),
         d AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1)
         SELECT d.source, n_docs,
           coalesce(n_ngrams, 0) AS n_ngrams,
           coalesce(n_distinct, 0) AS n_distinct,
           CASE WHEN coalesce(n_ngrams, 0) > 0
                THEN round(n_distinct * 1.0 / n_ngrams, 6) END AS ttr
         FROM d LEFT JOIN r ON d.source = r.source
         ORDER BY d.source""",
    "q126_time_to_convert" ->
      """WITH e AS (
           SELECT user_id AS u, event_type AS et, date_trunc('microseconds', ts) AS t
           FROM events),
         s1 AS (SELECT u, min(t) AS t0 FROM e WHERE et = 'view' GROUP BY 1),
         s2 AS (
           SELECT e.u, s1.t0, min(e.t) AS tk FROM e JOIN s1 ON e.u = s1.u
           WHERE e.et = 'click' AND e.t > s1.t0 GROUP BY 1, 2),
         s3 AS (
           SELECT e.u, s2.t0, min(e.t) AS tk FROM e JOIN s2 ON e.u = s2.u
           WHERE e.et = 'purchase' AND e.t > s2.tk GROUP BY 1, 2),
         d AS (SELECT (epoch_us(tk) - epoch_us(t0)) / 1e6 AS dt FROM s3)
         SELECT count(*) AS n_converted,
           round(quantile_cont(dt, 0.5), 3) AS p50_s,
           round(quantile_cont(dt, 0.9), 3) AS p90_s
         FROM d""",
    "q127_transitions" ->
      """WITH l AS (
           SELECT user_id, event_type,
             lag(event_type) OVER w AS pt,
             epoch_us(date_trunc('microseconds', ts)) -
               epoch_us(lag(date_trunc('microseconds', ts)) OVER w) AS gap
           FROM events
           WINDOW w AS (PARTITION BY user_id
                        ORDER BY date_trunc('microseconds', ts), event_id)),
         c AS (
           SELECT pt AS from_type, event_type AS to_type, count(*) AS n
           FROM l WHERE pt IS NOT NULL AND gap <= 1800000000
           GROUP BY 1, 2)
         SELECT from_type, to_type, n,
           round(n * 1.0 / sum(n) OVER (PARTITION BY from_type), 4) AS p
         FROM c ORDER BY from_type, to_type""",
    "q128_ppl_band" ->
      """WITH c AS (SELECT doc_id, source,
                regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t FROM documents),
         tri AS (SELECT doc_id, substr(t, CAST(i AS INT), 3) AS tri
                 FROM c, LATERAL (SELECT unnest(range(1, length(t) - 1)) AS i)
                 WHERE length(t) >= 3),
         model AS (SELECT tri, count(*) AS n_tri FROM tri GROUP BY tri),
         pre AS (SELECT substr(tri, 1, 2) AS pre, sum(n_tri) AS n_prefix
                 FROM model GROUP BY 1),
         m AS (SELECT tri, n_tri, n_prefix
               FROM model JOIN pre ON substr(model.tri, 1, 2) = pre.pre),
         s AS (SELECT t.doc_id,
                 round(CAST(sum(CAST(n_tri * 1.0 / n_prefix AS DECIMAL(30,12))) AS DOUBLE)
                   / count(*), 6) AS lm_score
               FROM tri t JOIN m USING (tri) GROUP BY t.doc_id),
         b AS (
           SELECT c.source, s.lm_score,
             ntile(3) OVER (PARTITION BY c.source
                            ORDER BY s.lm_score, s.doc_id) AS bucket
           FROM s JOIN c ON s.doc_id = c.doc_id
           WHERE s.lm_score IS NOT NULL)
         SELECT source, count(*) AS n_kept,
           CAST(round(avg(CAST(lm_score AS DECIMAL(18,6))), 6) AS DOUBLE) AS mean_score
         FROM b WHERE bucket = 2
         GROUP BY source ORDER BY source""",
    "q129_preference_pairs" ->
      """WITH q AS (
           SELECT doc_id, source,
           round((
             least(len(string_split_regex(lower(trim(text)), '\s+')), 50) / 50.0
             + (1.0 - len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) * 1.0
                    / greatest(length(text), 1))
             + len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                   t -> list_contains(['the','a','of','and','to','in','is'], t))) * 1.0
               / greatest(len(string_split_regex(lower(trim(text)), '\s+')), 1)
           ) / 3.0, 4) AS quality
           FROM documents),
         c AS (
           SELECT source, doc_id AS chosen_id, quality AS chosen_score,
             row_number() OVER (PARTITION BY source
                                ORDER BY quality DESC, doc_id) AS rn
           FROM q),
         r AS (
           SELECT source, doc_id AS rejected_id, quality AS rejected_score,
             row_number() OVER (PARTITION BY source
                                ORDER BY quality, doc_id DESC) AS rn
           FROM q),
         n AS (SELECT source, count(*) AS cnt FROM q GROUP BY 1)
         SELECT c.source, chosen_id, rejected_id, chosen_score, rejected_score,
           round(chosen_score - rejected_score, 4) AS margin
         FROM c JOIN r ON c.source = r.source AND c.rn = 1 AND r.rn = 1
         JOIN n ON n.source = c.source AND n.cnt >= 2
         ORDER BY c.source""",
    "q130_gap_fill" ->
      """WITH e AS (
           SELECT user_id, date_trunc('microseconds', ts) AS t, event_id, value
           FROM events WHERE user_id <= 30),
         b AS (
           SELECT user_id,
             (epoch_us(t) // 3600000000) * 3600 AS bucket_s, t, event_id, value
           FROM e),
         o AS (
           SELECT user_id, bucket_s, value, TRUE AS seen FROM (
             SELECT user_id, bucket_s, value,
               row_number() OVER (PARTITION BY user_id, bucket_s
                                  ORDER BY t DESC, event_id DESC) AS rn
             FROM b) WHERE rn = 1),
         rng AS (SELECT user_id, min(bucket_s) AS lo, max(bucket_s) AS hi
                 FROM o GROUP BY 1),
         spine AS (
           SELECT user_id, unnest(range(lo, hi + 3600, 3600)) AS bucket_s
           FROM rng),
         j AS (
           SELECT s.user_id, s.bucket_s, o.value,
                  coalesce(o.seen, FALSE) AS observed
           FROM spine s LEFT JOIN o USING (user_id, bucket_s))
         SELECT user_id, bucket_s,
           round(last_value(value IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY bucket_s
             ROWS UNBOUNDED PRECEDING), 4) AS value,
           observed
         FROM j ORDER BY user_id, bucket_s""",
    "q131_survivorship" ->
      """WITH s AS (
           SELECT c_custkey, 1 AS v,
             CASE WHEN c_custkey % 3 = 0 THEN c_name END AS c_name,
             c_acctbal, c_mktsegment
           FROM customer
           UNION ALL
           SELECT c_custkey, 2, c_name, NULL, c_mktsegment || '_V2'
           FROM customer WHERE c_custkey % 2 = 0
           UNION ALL
           SELECT c_custkey, 3, NULL, c_acctbal + 7.0, NULL
           FROM customer WHERE c_custkey % 5 = 0)
         SELECT c_custkey,
           arg_max(c_name, v) FILTER (WHERE c_name IS NOT NULL) AS c_name,
           arg_max(c_acctbal, v) FILTER (WHERE c_acctbal IS NOT NULL) AS c_acctbal,
           arg_max(c_mktsegment, v) FILTER (WHERE c_mktsegment IS NOT NULL)
             AS c_mktsegment
         FROM s GROUP BY c_custkey ORDER BY c_custkey""",
    "q132_triangles" ->
      """WITH t AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
           FROM documents),
         sh AS (
           SELECT doc_id, unnest(list_distinct(
             list_transform(range(len(toks) - 2),
               i -> array_to_string(toks[i+1:i+3], ' ')))) AS tok
           FROM t),
         sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         shared AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
           FROM sh a JOIN sh b ON a.tok = b.tok AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         e AS (
           SELECT id_a AS s, id_b AS d
           FROM shared
           JOIN sizes sa ON sa.doc_id = id_a
           JOIN sizes sb ON sb.doc_id = id_b
           WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.9),
         w AS (
           SELECT e1.s AS a, e1.d AS b, e2.d AS c
           FROM e e1 JOIN e e2 ON e1.d = e2.s),
         tri AS (
           SELECT count(*) AS n_triangles
           FROM w JOIN e ON w.a = e.s AND w.c = e.d)
         SELECT (SELECT count(*) FROM e)::BIGINT AS n_edges,
                n_triangles
         FROM tri""",
    "q133_dataset_card" ->
      """WITH b AS (
           SELECT source, lang,
             len(string_split_regex(lower(trim(text)), '\s+'))::BIGINT AS n_toks,
             round((
               least(len(string_split_regex(lower(trim(text)), '\s+')), 50) / 50.0
               + (1.0 - len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) * 1.0
                      / greatest(length(text), 1))
               + len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                     t -> list_contains(['the','a','of','and','to','in','is'], t))) * 1.0
                 / greatest(len(string_split_regex(lower(trim(text)), '\s+')), 1)
             ) / 3.0, 4) AS q,
             md5(text) AS h
           FROM documents),
         main AS (
           SELECT source, count(*) AS n_docs,
             CAST(sum(n_toks) AS BIGINT) AS n_tokens,
             round((CAST(sum(CAST(round((q) * 1000000) AS BIGINT) // 1000000000) AS DOUBLE) * 1000000000.0 + CAST(sum(CAST(round((q) * 1000000) AS BIGINT) % 1000000000) AS DOUBLE)) / 100.0 / count(*)) / 10000.0 AS mean_quality,
             round(quantile_cont(CAST(round(q * 1000000) AS BIGINT), 0.5)
               / 100.0) / 10000.0 AS p50_quality
           FROM b GROUP BY 1),
         dd AS (
           SELECT source, round(1.0 - count(DISTINCT h) * 1.0 / count(*), 4)
             AS dup_frac
           FROM b GROUP BY 1),
         lm AS (
           SELECT source, lang AS top_lang FROM (
             SELECT source, lang,
               row_number() OVER (PARTITION BY source
                                  ORDER BY count(*) DESC, lang) AS rn
             FROM b GROUP BY source, lang) WHERE rn = 1)
         SELECT main.source, n_docs, n_tokens, mean_quality, p50_quality,
                dup_frac, top_lang
         FROM main JOIN dd ON main.source = dd.source
         JOIN lm ON main.source = lm.source
         ORDER BY main.source""",
    "q138_source_overlap" ->
      """WITH roster AS (
           SELECT source, text FROM documents
           UNION ALL
           SELECT 'mirror', text FROM documents WHERE doc_id % 7 = 0),
         d AS (
           SELECT DISTINCT CAST(source AS VARCHAR) AS src, md5(text) AS h
           FROM roster WHERE text IS NOT NULL),
         sizes AS (SELECT src, count(*) AS n FROM d GROUP BY 1),
         sh AS (
           SELECT a.src AS source_a, b.src AS source_b, count(*) AS shared
           FROM d a JOIN d b ON a.h = b.h AND a.src < b.src
           GROUP BY 1, 2)
         SELECT source_a, source_b, shared, sa.n AS n_a, sb.n AS n_b,
                round(shared * 1.0 / (sa.n + sb.n - shared), 4) AS jaccard
         FROM sh
         JOIN sizes sa ON sa.src = source_a
         JOIN sizes sb ON sb.src = source_b
         ORDER BY 1, 2""",
    "q137_skew_report" ->
      """WITH s AS (
           SELECT CAST(user_id AS VARCHAR) AS k, count(*) AS c
           FROM events GROUP BY 1),
         top AS (
           SELECT k, c FROM (
             SELECT k, c, row_number() OVER (ORDER BY c DESC, k) AS rn
             FROM s) WHERE rn = 1)
         SELECT CAST(sum(s.c) AS BIGINT) AS n_rows,
                count(*) AS n_keys,
                CAST(round(avg(CAST(s.c AS DECIMAL(18,6))), 4) AS DOUBLE)
                  AS mean_sz,
                round(quantile_cont(s.c, 0.5), 4) AS p50_sz,
                round(quantile_cont(s.c, 0.99), 4) AS p99_sz,
                CAST(max(s.c) AS BIGINT) AS max_sz,
                any_value(top.k) AS top_key,
                CAST(any_value(top.c) AS BIGINT) AS top_n,
                round(max(s.c) * count(*) * 1.0 / sum(s.c), 4) AS skew_ratio
         FROM s CROSS JOIN top""",
    "q136_rolling_anomaly" ->
      """WITH e AS (
           SELECT user_id, epoch_us(date_trunc('microseconds', ts)) AS tus,
                  value
           FROM events),
         r AS (
           SELECT user_id, tus, value,
             count(value) OVER w AS n,
             (CAST(sum(CAST(round((value) * 1000000) AS BIGINT) // 1000000000) OVER w AS DOUBLE) * 1000000000.0 + CAST(sum(CAST(round((value) * 1000000) AS BIGINT) % 1000000000) OVER w AS DOUBLE)) / 1000000.0 AS s1,
             (CAST(sum(CAST(round((value * value) * 1000000) AS BIGINT) // 1000000000) OVER w AS DOUBLE) * 1000000000.0 + CAST(sum(CAST(round((value * value) * 1000000) AS BIGINT) % 1000000000) OVER w AS DOUBLE)) / 1000000.0 AS s2
           FROM e
           WINDOW w AS (PARTITION BY user_id ORDER BY tus
                        RANGE BETWEEN 21600000000 PRECEDING
                              AND 1 PRECEDING)),
         v AS (
           SELECT user_id, tus, value, n, s1,
             CASE WHEN n > 1 THEN (s2 - s1*s1/n)/(n-1) END AS var
           FROM r)
         SELECT user_id, tus AS ts_us, value,
           round((value - s1/n) / sqrt(var), 4) AS z
         FROM v
         WHERE n >= 2 AND var > 0
           AND abs((value - s1/n) / sqrt(var)) >= 3.0
         ORDER BY user_id, ts_us, value""",
    "q134_record_linkage" ->
      """WITH base AS (
           SELECT doc_id, substr(lower(trim(text)), 1, 40) AS rec
           FROM documents),
         roster AS (
           SELECT doc_id::BIGINT AS rid, rec AS name FROM base
           UNION ALL
           SELECT doc_id + 10000000,
             substr(rec, 1, 24) || substr(rec, 26, 1) || substr(rec, 25, 1)
               || substr(rec, 27, 40)
           FROM base WHERE doc_id % 2 = 0),
         keyed AS (
           SELECT rid, name,
             row_number() OVER (ORDER BY name, rid) AS rn
           FROM roster),
         pairs AS (
           SELECT a.rid AS ra, b.rid AS rb,
             jaro_winkler_similarity(a.name, b.name) AS sim
           FROM keyed a JOIN keyed b
             ON b.rn > a.rn AND b.rn <= a.rn + 4)
         SELECT least(ra, rb) AS id_a, greatest(ra, rb) AS id_b,
                round(sim, 4) AS sim
         FROM pairs WHERE sim >= 0.92
         ORDER BY 1, 2""",
    "q110_nfc_dedup" ->
      """WITH d AS (
           SELECT doc_id,
             CASE WHEN doc_id % 2 = 0
                  THEN replace(text, 'a', 'a' || chr(769))
                  ELSE replace(text, 'a', chr(225)) END AS text
           FROM documents),
         fp AS (
           SELECT md5(array_to_string(list_sort(list_distinct(
                    string_split_regex(lower(trim(text)), '\s+'))), ' ')) AS fp,
                  md5(array_to_string(list_sort(list_distinct(
                    string_split_regex(lower(trim(nfc_normalize(text))), '\s+'))), ' ')) AS cfp
           FROM d)
         SELECT count(DISTINCT fp) AS raw_groups,
                count(DISTINCT cfp) AS canon_groups
         FROM fp""",
    "q108_weighted_sample" ->
      """WITH q AS (
           SELECT doc_id, source,
           round((
             least(len(string_split_regex(lower(trim(text)), '\s+')), 50) / 50.0
             + (1.0 - len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) * 1.0
                    / greatest(length(text), 1))
             + len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                   t -> list_contains(['the','a','of','and','to','in','is'], t))) * 1.0
               / greatest(len(string_split_regex(lower(trim(text)), '\s+')), 1)
           ) / 3.0, 4) AS quality
           FROM documents),
         keyed AS (
           SELECT doc_id, source, quality,
             pow((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 1)
                   / 4294967296.0,
                 1.0 / quality) AS es_key
           FROM q WHERE quality > 0),
         r AS (
           SELECT doc_id, source,
             row_number() OVER (PARTITION BY source
               ORDER BY es_key DESC, doc_id) AS smp_rank
           FROM keyed)
         SELECT doc_id, source, CAST(smp_rank AS BIGINT) AS smp_rank
         FROM r WHERE smp_rank <= 10 ORDER BY doc_id""",
    "q109_psi_drift" ->
      """WITH base AS (SELECT value FROM events WHERE event_id % 2 = 0),
         cur AS (SELECT value FROM events WHERE event_id % 2 = 1),
         cuts AS (
           SELECT quantile_cont(value,
             [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS cuts
           FROM base),
         bb AS (
           SELECT len(list_filter(cuts, c -> c < value)) AS bucket, count(*) AS n_base
           FROM base, cuts GROUP BY 1),
         cc AS (
           SELECT len(list_filter(cuts, c -> c < value)) AS bucket, count(*) AS n_cur
           FROM cur, cuts GROUP BY 1),
         j AS (
           SELECT coalesce(bb.bucket, cc.bucket) AS bucket,
                  coalesce(n_base, 0) AS n_base, coalesce(n_cur, 0) AS n_cur
           FROM bb FULL JOIN cc ON bb.bucket = cc.bucket),
         t AS (SELECT sum(n_base) AS tb, sum(n_cur) AS tc FROM j)
         SELECT CAST(bucket AS INT) AS bucket,
                CAST(n_base AS BIGINT) AS n_base, CAST(n_cur AS BIGINT) AS n_cur,
                round((greatest(n_cur * 1.0 / tc, 0.000001)
                       - greatest(n_base * 1.0 / tb, 0.000001))
                      * ln(greatest(n_cur * 1.0 / tc, 0.000001)
                           / greatest(n_base * 1.0 / tb, 0.000001)), 4) AS psi_term
         FROM j, t ORDER BY bucket""",
    "q106_char_entropy" ->
      """WITH ch AS (
           SELECT doc_id, unnest(string_split(text, '')) AS ch
           FROM documents),
         hist AS (
           SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY doc_id, ch)
         SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_chars,
                round(log2(sum(c)) - sum(c * log2(c)) / sum(c), 4) AS entropy_bits
         FROM hist GROUP BY doc_id ORDER BY doc_id""",
    "q107_hopping_window" ->
      """WITH h AS (
           SELECT value, unnest([
             make_timestamp((epoch_us(ts) // 300000000) * 300000000),
             make_timestamp((epoch_us(ts) // 300000000) * 300000000 - 300000000)
           ]) AS window_start
           FROM events)
         SELECT window_start, count(*) AS n,
                round((CAST(sum(CAST(round((value) * 1000000) AS BIGINT) // 1000000000) AS DOUBLE) * 1000000000.0 + CAST(sum(CAST(round((value) * 1000000) AS BIGINT) % 1000000000) AS DOUBLE)) / 100.0) / 10000.0::DOUBLE AS sum_value
         FROM h GROUP BY window_start ORDER BY window_start""",
    "q105_impute" ->
      """WITH h AS (
           SELECT event_id, event_type,
             CASE WHEN event_id % 13 = 0 THEN NULL ELSE value END AS value
           FROM events),
         m AS (
           SELECT event_type,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(value) AS mean_v
           FROM h GROUP BY event_type)
         SELECT event_id, h.event_type,
                round(coalesce(value, mean_v), 4) AS value_i,
                CAST(CASE WHEN value IS NULL THEN 1 ELSE 0 END AS BIGINT) AS was_null
         FROM h JOIN m ON h.event_type = m.event_type
         ORDER BY event_id""",
    "q103_profile" ->
      """SELECT * FROM (
           SELECT 'event_id' AS col_name, count(*) - count(event_id) AS n_nulls,
                  count(DISTINCT event_id) AS n_distinct FROM events
           UNION ALL SELECT 'ts', count(*) - count(ts), count(DISTINCT ts) FROM events
           UNION ALL SELECT 'user_id', count(*) - count(user_id), count(DISTINCT user_id) FROM events
           UNION ALL SELECT 'event_type', count(*) - count(event_type), count(DISTINCT event_type) FROM events
           UNION ALL SELECT 'value', count(*) - count(value), count(DISTINCT value) FROM events
           UNION ALL SELECT 'props', count(*) - count(props), count(DISTINCT props) FROM events
         ) ORDER BY col_name""",
    "q104_zscore" ->
      """WITH st AS (
           SELECT event_type, count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sx,
             CAST(sum(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sxx
           FROM events GROUP BY event_type)
         SELECT event_id, e.event_type,
           round((value - sx / n) / sqrt((sxx - sx * sx / n) / (n - 1)), 4) AS z,
           CAST(CASE WHEN abs((value - sx / n) / sqrt((sxx - sx * sx / n) / (n - 1))) > 3
                THEN 1 ELSE 0 END AS BIGINT) AS is_outlier
         FROM events e JOIN st ON e.event_type = st.event_type
         ORDER BY event_id""",
    "q102_topk_native" ->
      """WITH r AS (
           SELECT event_type, value, event_id,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value DESC, event_id) AS rn
           FROM events)
         SELECT event_type, CAST(rn AS BIGINT) AS rn,
                round(value, 4) AS value, event_id
         FROM r WHERE rn <= 3 ORDER BY event_type, rn""",
    "q101_json_extract" ->
      """WITH d AS (
           SELECT event_id,
             CASE WHEN event_id % 97 = 0 THEN '}' || props ELSE props END AS p
           FROM events),
         -- json_extract only ever sees valid JSON or NULL: some DuckDB
         -- versions evaluate both CASE branches vectorized, so
         -- json_extract(p, ...) behind CASE WHEN json_valid(p) still
         -- errors on the invalid rows ("Malformed JSON at byte 0")
         v AS (
           SELECT event_id,
             TRY_CAST(json_extract(
               CASE WHEN json_valid(p) THEN p END, '$.k') AS BIGINT) AS k
           FROM d)
         SELECT event_id, k,
           -- k_bucket = -1 on ANY null k (invalid JSON, missing key, or a
           -- non-integer value), mirroring the Spark side's isNull branch;
           -- TRY_CAST so a non-integer value nulls instead of erroring
           -- (from_json's behavior)
           CASE WHEN k IS NULL THEN -1 ELSE k % 10 END AS k_bucket
         FROM v ORDER BY event_id""",
    "q99_chunk_windows" ->
      """WITH t AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
           FROM documents),
         sized AS (
           SELECT doc_id, toks,
             CASE WHEN len(toks) <= 32 THEN 1
                  ELSE CAST(ceil((len(toks) - 32) / 24.0) AS INT) + 1 END AS n_chunks
           FROM t WHERE len(toks) >= 1),
         w AS (
           SELECT doc_id, toks,
                  unnest(generate_series(0, n_chunks - 1)) AS chunk_idx
           FROM sized)
         SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
                CAST(len(list_slice(toks, chunk_idx*24 + 1, chunk_idx*24 + 32)) AS BIGINT) AS n_chunk_tokens,
                array_to_string(list_slice(toks, chunk_idx*24 + 1, chunk_idx*24 + 32), ' ') AS chunk
         FROM w ORDER BY doc_id, chunk_idx""",
    "q100_upsert" ->
      """WITH base AS (SELECT * FROM customer WHERE c_custkey % 3 <> 0),
         upd AS (
           SELECT c_custkey, c_name,
                  round(c_acctbal + 1000, 2) AS c_acctbal,
                  'REFRESHED' AS c_mktsegment
           FROM customer WHERE c_custkey % 2 = 0)
         SELECT coalesce(u.c_custkey, b.c_custkey) AS c_custkey,
                CASE WHEN u.c_custkey IS NOT NULL THEN u.c_name ELSE b.c_name END AS c_name,
                round(CASE WHEN u.c_custkey IS NOT NULL THEN u.c_acctbal ELSE b.c_acctbal END, 2) AS c_acctbal,
                CASE WHEN u.c_custkey IS NOT NULL THEN u.c_mktsegment ELSE b.c_mktsegment END AS c_mktsegment
         FROM base b FULL JOIN upd u ON b.c_custkey = u.c_custkey
         ORDER BY c_custkey""",
    "q94_incremental_dedup" ->
      """WITH f AS (
           SELECT doc_id, source,
             md5(array_to_string(list_sort(list_distinct(
               string_split_regex(lower(trim(text)), '\s+'))), ' ')) AS fp
           FROM documents),
         fresh AS (SELECT * FROM f WHERE doc_id % 5 = 0),
         corpus AS (SELECT DISTINCT fp FROM f WHERE doc_id % 5 <> 0),
         novel AS (SELECT fresh.* FROM fresh ANTI JOIN corpus USING (fp)),
         r AS (SELECT doc_id, source,
                 row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rk
               FROM novel)
         SELECT doc_id, source FROM r WHERE rk = 1 ORDER BY doc_id""",
    // streaming is semantically invisible: the oracle is the batch join
    "q95_stream_enrich" ->
      """SELECT event_id, user_id, c_mktsegment
         FROM events JOIN customer ON user_id = c_custkey
         ORDER BY event_id""",
    "q96_seq_assembly" ->
      """SELECT user_id, count(*) AS n_turns,
         string_agg(event_type, ',' ORDER BY ts, event_id) AS seq
         FROM events GROUP BY user_id ORDER BY user_id""",
    "q93_winsorize" ->
      """WITH cuts AS (
           SELECT event_type,
                  quantile_cont(value, 0.05) AS lo,
                  quantile_cont(value, 0.95) AS hi
           FROM events GROUP BY event_type)
         SELECT event_id, e.event_type,
                round(least(greatest(value, lo), hi), 4) AS value_w
         FROM events e JOIN cuts ON e.event_type = cuts.event_type
         ORDER BY event_id""",
  )
}
