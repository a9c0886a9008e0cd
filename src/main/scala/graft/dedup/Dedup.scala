package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.text.TextAnalysis

/** Deduplication operators for a training-data pipeline, each designed
  * around its 100 TB shuffle shape:
  *
  *  - '''exact''' ([[exactGroups]]): one hash-shuffle on a 32-byte digest —
  *    the cheapest possible dedup; digest grouping keys are uniform, so no
  *    skew.
  *  - '''MinHash + LSH''' ([[minHashSignatures]], [[lshCandidatePairs]]):
  *    signatures computed in one linear pass per row (single UDF — no
  *    numHashes× row explosion, no re-evaluated nested HOFs), then only
  *    (band, bucket) keys shuffle; candidate pairs carry ids only.
  *  - '''SimHash''' ([[simHash64]], [[simHashPairs]]): 64-bit fingerprint
  *    per row; Hamming-≤k pairs found by the 4×16-bit pigeonhole band join
  *    (exact for k ≤ 3), `bit_count(a xor b)` verification.
  *  - '''n-gram Jaccard''' ([[tokenJaccardPairs]]): exact similarity join
  *    with AllPairs/PPJoin prefix filtering — blocking only on each
  *    document's rarest `|d|−⌈τ·|d|⌉+1` tokens under a global
  *    document-frequency order, ids-only candidate shuffle, length filter,
  *    `array_intersect` verification.
  *  - '''embedding near-dup''' ([[embeddingNearDupPairs]]): random
  *    hyperplane signatures bucket the vectors; exact cosine verifies
  *    within buckets.
  */
object Dedup {

  /** Widen a narrow input before a row-explosive stage. A small single-file
    * scan arrives as ONE partition; if the downstream join is planned as
    * broadcast, the whole pair explosion runs on that one task (observed:
    * minutes of single-core time while 31 cores idle). A cheap up-front
    * repartition restores parallelism; inputs that are already wide (the
    * 100 TB case) pass through untouched.
    *
    * DETERMINISTIC hash repartition on the UNIQUE id column, not
    * round-robin: the multi-branch dedup pipelines recompute this
    * subtree per branch (and Spark retries stages on failure), so row
    * placement must be a pure function of the data — round-robin
    * placement depends on task scheduling order, the same class of
    * nondeterminism that flipped the round-1 q44 hash gate. The id key
    * (never content) keeps placement uniform even when most documents
    * are identical. */
  private def spread(df: DataFrame, idCol: String): DataFrame =
    // size-based gate (Spread.widen), NOT rdd.getNumPartitions: split
    // counting lies for single-row-group files (a 10 MB one-row-group
    // parquet slices into ~32 byte-ranges of which one emits every row)
    // and the .rdd conversion costs a physical-planning pass per call
    graft.operators.Spread.widen(df, col(idCol))

  // ---------------------------------------------------------------- exact

  /** Exact (canonicalized) duplicate groups: documents sharing the sorted
    * distinct token-set fingerprint. Returns one row per group with
    * `n_docs >= 2`, the representative (min id) and the fingerprint. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), TextAnalysis.setFingerprint(col(textCol)).as("fp"))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("keep_id"))
      .filter(col("n_docs") >= 2)

  /** Apply exact dedup: keep one representative (min id) per canonical
    * fingerprint group, drop the rest. A semi-join-free formulation: rank
    * within the fingerprint and keep rank 1 — one shuffle on the digest. */
  def dropExactDuplicates(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(TextAnalysis.setFingerprint(col(textCol)))
      .orderBy(col(idCol))
    df.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .drop("__rk")
  }

  /** INCREMENTAL exact dedup: keep the rows of `fresh` whose canonical
    * fingerprint does not already exist in `corpus`, and one
    * representative (min id) per fingerprint within `fresh` itself.
    *
    * The production shape of dedup: a pipeline never re-deduplicates the
    * whole corpus when a new crawl lands — it anti-joins the new batch
    * against the existing fingerprint index. Scale shape: `corpus` is
    * reduced to DISTINCT 32-char digests before the anti-join (the only
    * thing that shuffles from the corpus side — at 100 TB the digest
    * index is ~3 orders of magnitude smaller than the text), and the
    * within-batch dedup is one window on the digest. Persist the digest
    * index as a table and successive batches never rescan the corpus. */
  def incrementalExact(fresh: DataFrame, corpus: DataFrame,
                       idCol: String, textCol: String): DataFrame = {
    val fFp = fresh.withColumn("__fp", TextAnalysis.setFingerprint(col(textCol)))
    val known = corpus.select(TextAnalysis.setFingerprint(col(textCol)).as("__fp"))
      .distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__fp")).orderBy(col(idCol))
    fFp.join(known, Seq("__fp"), "left_anti")
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .drop("__rk", "__fp")
  }

  // ------------------------------------------------------------- shingles

  /** Word n-gram shingles (space-joined), empty array when the document is
    * shorter than `n` tokens.
    *
    * IMPORTANT: `toks` must be a MATERIALIZED column (a plain attribute),
    * not a nested expression — higher-order functions are interpreted, so
    * a nested expression here would be re-evaluated once per shingle
    * position (and once per seed when composed under another `transform`),
    * turning a linear scan into billions of regex splits. Callers stage
    * the token array with a `select` first. */
  def shinglesOfTokens(toks: Column, n: Int): Column =
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))

  // -------------------------------------------------------------- minhash

  /** Stable 64-bit string hash (FNV-1a) + splitmix64 seed mixing. */
  private def fnv1a64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h ^= s.charAt(i).toLong; h *= 0x100000001b3L; i += 1 }
    h
  }
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  // ---------------------------------------------- portable (md5) family
  //
  // The fnv/mix family above is the FAST path: one string fold + 64
  // cheap mixes per shingle. It is deterministic across JVMs but not
  // reproducible in ANSI SQL, which kept the sketch queries out of the
  // DuckDB correctness gate. The md5 family below is the PORTABLE path
  // (the q64/q80/q148 shard/shuffle/fold discipline): every hash is
  // `('0x' || substr(md5(x), 1, k))::BIGINT`-derivable, so the whole
  // MinHash/SimHash/sign-LSH pipeline has an exact SQL twin. Callers
  // pick via the `portable` flag; the default stays fast.

  /** Portable 60-bit string hash: the first 15 hex chars of md5, i.e.
    * `('0x' || substr(md5(s), 1, 15))::BIGINT` — non-negative, < 2^60. */
  private[graft] def md5Hash60(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var h = 0L
    var i = 0
    while (i < 7) { h = (h << 8) | (d(i) & 0xFFL); i += 1 }
    (h << 4) | ((d(7) & 0xF0L) >>> 4)
  }

  /** Portable 28-bit string hash: the first 7 hex chars of md5. */
  private[graft] def md5Hash28(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    (((d(0) & 0xFFL) << 20) | ((d(1) & 0xFFL) << 12) |
      ((d(2) & 0xFFL) << 4) | ((d(3) & 0xF0L) >>> 4))
  }

  /** The Mersenne prime 2^61 - 1: the modulus of the portable MinHash
    * hash family — large enough that min-collisions are negligible,
    * small enough that `a*x + b` stays inside DuckDB's HUGEINT. */
  private[graft] val P61: Long = (1L << 61) - 1

  /** `(a*x + b) mod (2^61-1)` for `a, x, b` in `[0, 2^61)`, exactly as
    * HUGEINT arithmetic computes it: the 122-bit product folds via
    * 2^64 ≡ 8 and 2^61 ≡ 1 (mod p). Pure integer math — bit-identical
    * on both engines by construction. */
  private[graft] def affineMod61(a: Long, x: Long, b: Long): Long = {
    val hi = Math.multiplyHigh(a, x) // product < 2^122 ⇒ hi is its top 58 bits
    val lo = a * x                   // wrapped low 64 bits (unsigned view)
    var t = 8L * hi + (lo & P61) + (lo >>> 61)
    while (t >= P61) t -= P61
    var r = t + b                    // t < p, b < p ⇒ r < 2p < 2^63, no overflow
    if (r >= P61) r -= P61
    r
  }

  /** The 64 published (a, b) pairs of the portable MinHash family —
    * a fixed splitmix64 stream reduced into the mod-(2^61-1) field.
    * [[minHashAbSqlValues]] renders the same table into the oracle SQL,
    * so both engines hash with literally the same constants. */
  private[graft] val MinHashAB: Array[(Long, Long)] =
    Array.tabulate(64) { s =>
      ((mix64(1000L + s) >>> 3) % (P61 - 1) + 1, // a in [1, p-1]
        (mix64(2000L + s) >>> 3) % P61)          // b in [0, p-1]
    }

  /** The (s, a, b) table as a SQL VALUES body for the DuckDB oracle. */
  private[graft] def minHashAbSqlValues: String =
    MinHashAB.zipWithIndex
      .map { case ((a, b), s) => s"($s, $a, $b)" }.mkString(", ")

  def minHashSignatures(df: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = 64, shingleN: Int = 3,
                        portable: Boolean = false): DataFrame = {
    require(!portable || numHashes <= MinHashAB.length,
      s"portable family publishes ${MinHashAB.length} (a,b) pairs; numHashes=$numHashes")
    val src = spread(df, idCol)
    // One Scala UDF computes shingles + all minima in a single pass per
    // row. Composed built-in higher-order functions are interpreted and
    // re-evaluate nested expressions per lambda element (numHashes ×
    // positions × regex splits — observed 1000× slowdowns), and staged
    // select columns can be re-inlined by CollapseProject; the UDF keeps
    // the work linear and partition-invariant.
    val sigUdf = udf { (toks: Seq[String]) =>
      if (toks == null || toks.length < shingleN) null
      else {
        val seen = new scala.collection.mutable.HashSet[String]
        val sig = Array.fill(numHashes)(Long.MaxValue)
        var i = 0
        while (i + shingleN <= toks.length) {
          val g = toks.slice(i, i + shingleN).mkString(" ")
          if (seen.add(g)) {
            if (portable) {
              val x = md5Hash60(g)
              var s = 0
              while (s < numHashes) {
                val ab = MinHashAB(s)
                val h = affineMod61(ab._1, x, ab._2)
                if (h < sig(s)) sig(s) = h
                s += 1
              }
            } else {
              val base = fnv1a64(g)
              var s = 0
              while (s < numHashes) {
                val h = mix64(base + s.toLong * 0x9e3779b97f4a7c15L)
                if (h < sig(s)) sig(s) = h
                s += 1
              }
            }
          }
          i += 1
        }
        sig
      }
    }
    src.select(col(idCol).as("id"), TextAnalysis.tokens(col(textCol)).as("toks"))
      .select(col("id"), sigUdf(col("toks")).as("sig"))
      .filter(col("sig").isNotNull)
  }

  /** LSH banding: split the signature into `bands` bands, hash each band,
    * self-join on (band, bucket). Returns distinct candidate `(id_a, id_b)`
    * pairs (a < b). Only band keys shuffle; signature arrays stay columnar.
    *
    * `bands` must divide the signature length exactly — a trailing short
    * band would slice past the array end, hash identically for EVERY row,
    * and silently degenerate that band into an all-pairs cross product.
    *
    * Buckets of size 1 (the vast majority on a non-adversarial corpus)
    * are dropped before the self-join: a cheap partial-aggregated count
    * on the join key removes them without touching the candidate
    * explosion, and AQE keeps the count join co-partitioned with the
    * self-join's own (band, bucket) exchange. */
  def lshCandidatePairs(signatures: DataFrame, bands: Int,
                        knownSigLen: Int = -1,
                        portable: Boolean = false): DataFrame = {
    // pass knownSigLen when the caller fixed the signature length (the
    // pipeline always has: numHashes) — the probe is an extra job over
    // the signature subtree for callers whose frame isn't cached yet
    val sigLen = if (knownSigLen > 0) knownSigLen else {
      val first = signatures.select(size(col("sig")).as("n")).limit(1).collect()
      if (first.isEmpty) {
        return signatures.select(col("id").as("id_a"), col("id").as("id_b")).limit(0)
      }
      first.head.getInt(0)
    }
    require(sigLen % bands == 0,
      s"bands=$bands must divide the signature length $sigLen exactly")
    val rowsPerBand = sigLen / bands
    // fast path: xxhash64 folds each band slice to a long key (smallest
    // shuffle). Portable path: the slice rendered as a decimal CSV
    // string — both engines print longs identically, so the bucket key
    // (and therefore the candidate set) is SQL-reproducible; the wider
    // key is the price of the oracle, which is why it's not the default.
    def bandKey(b: Column, slc: Column): Column =
      if (portable) concat_ws(",", slc)
      else xxhash64(concat_ws(",", slc), b)
    val banded = signatures.select(
      col("id"),
      posexplode(transform(
        sequence(lit(0), lit(bands - 1)),
        b => bandKey(b, slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))))))
      .toDF("id", "band", "bucket")
    val multi = banded.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("__bn"))
      .filter(col("__bn") >= 2)
      .drop("__bn")
    val pruned = banded.join(multi, Seq("band", "bucket"))
    val a = pruned.alias("a")
    val b = pruned.alias("b")
    a.join(b, col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
              col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** Estimated Jaccard from two MinHash signatures (fraction of agreeing
    * components). Uses the native codegen'd agreement count — the
    * `zip_with`/`filter` built-in formulation runs interpreted and
    * allocates two arrays per pair, which dominates verification cost at
    * millions of candidates. `graft_sig_agree` is a session built-in via
    * [[graft.GraftExtensions]]. */
  def minHashJaccard(sigA: Column, sigB: Column): Column =
    call_function(graft.functions.SigAgreeCount.Name, sigA, sigB).cast("double") /
      size(sigA).cast("double")

  /** Full MinHash-LSH near-dup pipeline: signatures → identical-signature
    * pre-collapse → banded candidates over one representative per group →
    * signature-estimated Jaccard filter → group expansion.
    *
    * The pre-collapse is semantically EXACT: two rows with the same
    * signature estimate Jaccard 1.0, so within-group pairs are emitted
    * directly (1.0 ≥ any threshold) and cross-group pairs carry the
    * representative pair's estimate. On a dense corpus (many identical or
    * near-identical documents) this shrinks the quadratic band self-join
    * by the square of the duplication factor — the difference between a
    * banded join and an accidental all-pairs explosion at 100 TB. */
  def minHashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      numHashes: Int = 64, shingleN: Int = 3, bands: Int = 16,
                      threshold: Double = 0.7,
                      portable: Boolean = false): DataFrame = {
    require(numHashes % bands == 0,
      s"bands=$bands must divide numHashes=$numHashes exactly")
    val sigs = minHashSignatures(df, idCol, textCol, numHashes, shingleN, portable)
    // Collapse key: md5 digest of the signature (128-bit — collisions
    // negligible, same contract as the set-level digests elsewhere).
    // rep assignment via a window MIN over the digest — one hash
    // shuffle, no join, and WindowExec spills, so a duplicate-heavy
    // group never builds an in-memory id array the way collect_list
    // would. The frame is PERSISTED: banding, verification re-joins and
    // expansion all branch from it, and without the cache every branch
    // re-runs the signature UDF over the corpus (exchange reuse can't
    // fire across the non-canonical spread()). The cache is the
    // similarity working set (id + numHashes longs + rep per doc), tiny
    // relative to the text it summarizes.
    val withRep = sigs
      .withColumn("gk", md5(concat_ws(",", transform(col("sig"), _.cast("string")))))
      .withColumn("rep", min(col("id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("gk"))))
      .select(col("id"), col("sig"), col("rep"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val reps = withRep.filter(col("id") === col("rep")).select(col("id"), col("sig"))
    val mem = withRep.select(col("rep"), col("id").as("member"))
    // within-group pairs: identical signatures, estimate exactly 1.0
    val within = mem.alias("x")
      .join(mem.alias("y"), col("x.rep") === col("y.rep") && col("x.member") < col("y.member"))
      .select(col("x.member").as("id_a"), col("y.member").as("id_b"),
        lit(1.0).as("est_jaccard"))
    // cross-group pairs: LSH over representatives only, then expand
    val repPairs = lshCandidatePairs(reps, bands, knownSigLen = numHashes,
        portable = portable)
      .join(reps.toDF("id_a", "sig_a"), "id_a")
      .join(reps.toDF("id_b", "sig_b"), "id_b")
      .withColumn("est_jaccard", round(minHashJaccard(col("sig_a"), col("sig_b")), 4))
      .filter(col("est_jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("est_jaccard"))
    val cross = repPairs
      .join(mem.toDF("id_a", "ma"), "id_a")
      .join(mem.toDF("id_b", "mb"), "id_b")
      .select(least(col("ma"), col("mb")).as("id_a"),
        greatest(col("ma"), col("mb")).as("id_b"), col("est_jaccard"))
    // identical-signature pairs estimate J = 1.0 ≥ any legal threshold
    within.unionAll(cross)
      .select(col("id_a"), col("id_b"), col("est_jaccard"))
  }

  // ------------------------------------------------------- n-gram jaccard

  /** Exact token-set Jaccard similarity pairs with PREFIX FILTERING (the
    * AllPairs/PPJoin bound): under a global token order (by ascending
    * document frequency), two sets with Jaccard ≥ τ must share a token
    * inside both prefixes of length `|d| − ⌈τ·|d|⌉ + 1`. Blocking on
    * prefix tokens only — the globally rarest tokens of each document —
    * keeps the inverted-index join selective even when the vocabulary is
    * tiny and every pair shares SOME token (the naive token join is
    * quadratic there). Verification joins the two full sorted token
    * arrays and computes `array_intersect` per candidate — no second
    * exploded aggregation. Exact: no candidate with Jaccard ≥ τ is lost. */
  def tokenJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        threshold: Double): DataFrame =
    jaccardPairsOfSets(df, idCol,
      shingleSet(TextAnalysis.tokens(col(textCol)), 1), threshold)

  /** Exact Jaccard pairs over word n-GRAM shingle sets — substring-aware
    * near-dup detection (reordered documents share token sets but not
    * shingle sets). Same prefix-filtered plan as [[tokenJaccardPairs]];
    * the "vocabulary" is the shingle space. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int, threshold: Double): DataFrame =
    jaccardPairsOfSets(df, idCol,
      shingleSet(TextAnalysis.tokens(col(textCol)), n), threshold)

  /** The sorted distinct shingle set as ONE native codegen pass
    * ([[graft.functions.ShingleSet]]) — the declarative
    * `array_sort(array_distinct(transform(...)))` evaluates its lambda
    * interpreted per shingle position and pays an interpreted comparator
    * per sort compare (measured ~4 s per materialization at sf0.1, the
    * hottest projection of q59/q60/q68). `n = 1` degenerates to the
    * sorted distinct token set itself — with ONE null divergence from
    * `array_sort(array_distinct(toks))`: a null array ELEMENT is
    * rewritten to the empty-string shingle (concat_ws semantics), not
    * retained as null. Safe for every in-repo caller
    * ([[graft.text.TextAnalysis.tokens]] never yields null elements);
    * a general `array<string>` caller with containsNull inputs must
    * strip nulls first. */
  private def shingleSet(toks: Column, n: Int): Column =
    call_function(graft.functions.ShingleSet.Name, toks, lit(n))

  /** `(id, set)` rows with empty sets dropped, not paired: Jaccard over
    * two empty sets is 0/0 — and without this filter the exact-group
    * pre-collapse would emit such docs as 1.0 pairs while an
    * explode-based formulation (the oracle, an inverted index) never
    * sees them at all. */
  private def docSetsOf(df: DataFrame, idCol: String, setExpr: Column): DataFrame =
    spread(df, idCol).select(col(idCol).as("id"), setExpr.as("set"))
      .filter(size(col("set")) > 0)

  /** Small-corpus fast-path probe (`graft.jaccard.localMaxDocs`, default
    * 16384, 0 disables): when the corpus fits under the gate — checked
    * by a `limit(max+1)` collect, never a full count — and ids are
    * integral, return the (id, set) rows for the in-memory
    * [[LocalJaccard]] replay of the identical algorithm. The distributed
    * prefix-filter plan is ~15 fixed-latency exchanges; under the gate
    * the whole input is megabytes and one process beats the stage floor
    * by ~4× (the KCore localFinishEdges / ConnectedComponents
    * driver-union-find precedent). Above the gate: None, distributed
    * plan untouched. Outputs are bit-identical either way (spec-pinned
    * both paths). */
  private def collectIfSmall(docSets: DataFrame)
      : Option[Array[(Long, Array[String])]] = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val max = docSets.sparkSession.conf
      .getOption("graft.jaccard.localMaxDocs").map(_.toInt).getOrElse(16384)
    if (max <= 0) return None
    val integral = docSets.schema("id").dataType match {
      case LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    }
    if (!integral) return None
    // NOTE: this probe costs one bounded CollectLimit job per invocation
    // at ANY scale — intentional: CollectLimit is incremental (first
    // partitions only), so above the gate the probe touches ~max+1 rows
    // and the distributed plan then runs untouched.
    val rows = docSets
      .select(col("id").cast("long").as("id"), col("set"))
      .limit(max + 1).collect()
    if (rows.length > max)
      None
    else
      Some(rows.map(r => (r.getLong(0), r.getSeq[String](1).toArray)))
  }

  /** `(id_a, id_b, sim)` rows as a LocalRelation built DIRECTLY from
    * internal rows — the `Seq[Tuple3].toDF` encoder path converts via
    * runtime reflection per row, which profiled as ~1 s of driver gap on
    * q19's 190 k-pair result (the single largest remaining cost of the
    * local fast path). A GenericInternalRow carries the three primitives
    * straight into the plan; LocalTableScan's one codegen'd unsafe
    * projection replaces the per-row encoder walk. */
  private def localPairsDf(df: DataFrame, simName: String,
                           rows: Seq[(Long, Long, Double)]): DataFrame = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, GenericInternalRow}
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val attrs = Seq(
      AttributeReference("id_a", LongType, nullable = false)(),
      AttributeReference("id_b", LongType, nullable = false)(),
      AttributeReference(simName, DoubleType, nullable = false)())
    val data: Seq[InternalRow] = rows.map { case (a, b, s) =>
      new GenericInternalRow(Array[Any](a, b, s)): InternalRow
    }
    org.apache.spark.sql.graftbridge.GraftSqlBridge.ofRows(
      df.sparkSession, LocalRelation(attrs, data))
  }

  /** Core of the exact-Jaccard join, parameterized by the set expression
    * (distinct sorted array of join units — tokens, shingles, …). */
  def jaccardPairsOfSets(df: DataFrame, idCol: String, setExpr: Column,
                         threshold: Double): DataFrame = {
    val docSets = docSetsOf(df, idCol, setExpr)
    val local = collectIfSmall(docSets)
    if (local.isDefined) {
      val idType = docSets.schema("id").dataType
      return localPairsDf(df, "jaccard",
          LocalJaccard.jaccardPairs(local.get, threshold))
        .select(col("id_a").cast(idType).as("id_a"),
          col("id_b").cast(idType).as("id_b"),
          round(col("jaccard"), 4).as("jaccard"))
    }
    val (repPairs, mem) = repJaccardGraph(df, idCol, setExpr, threshold)
    // within-group pairs (identical sets ⇒ J = 1.0) and the rep-pair
    // member expansion — the d² blowup lives HERE, after the join,
    // never inside it
    val within = mem.alias("x")
      .join(mem.alias("y"), col("x.rep") === col("y.rep") && col("x.member") < col("y.member"))
      .select(col("x.member").as("id_a"), col("y.member").as("id_b"),
        lit(1.0).as("jaccard"))
    val cross = repPairs
      .join(mem.toDF("id_a", "ma"), "id_a")
      .join(mem.toDF("id_b", "mb"), "id_b")
      .select(least(col("ma"), col("mb")).as("id_a"),
        greatest(col("ma"), col("mb")).as("id_b"), col("jaccard"))
    // identical-set pairs have J = 1.0 ≥ any legal threshold
    within.unionAll(cross)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Near-duplicate CLUSTERS instead of pairs: connected components of
    * the ≥ `threshold` Jaccard graph. Pair-wise dropping is wrong on
    * transitive chains (a~b, b~c with a̸~c: dropping one side of each
    * pair can drop b twice or keep a AND c) — cluster-then-keep-one is
    * the standard corpus-dedup contract.
    *
    * Scale shape: [[ConnectedComponents]] star contraction runs on the
    * REPRESENTATIVE graph only — exact-duplicate group members inherit
    * the label through their rep afterwards, so a duplication factor d
    * shrinks the iterated edge set by d² and the iteration never sees
    * the member expansion. Labels are component-minimum ids, and since
    * each rep is already the minimum of its exact group, the label is
    * the smallest `idCol` in the whole cluster — so `id == component`
    * selects the canonical keeper. Docs with empty sets are excluded
    * (no Jaccard is defined for them); ids must be long-castable (the
    * star contraction's contract). */
  def jaccardComponentsOfSets(df: DataFrame, idCol: String, setExpr: Column,
                              threshold: Double): DataFrame = {
    val localSets = docSetsOf(df, idCol, setExpr)
    val local = collectIfSmall(localSets)
    if (local.isDefined) {
      val spark = df.sparkSession
      import spark.implicits._
      val idType = localSets.schema("id").dataType
      return LocalJaccard.jaccardComponents(local.get, threshold)
        .toDF(idCol, "component")
        .select(col(idCol).cast(idType).as(idCol), col("component"))
    }
    val (repPairs, mem) = repJaccardGraph(df, idCol, setExpr, threshold)
    val cc = ConnectedComponents
      .components(repPairs.select(col("id_a"), col("id_b")), "id_a", "id_b")
      .withColumnRenamed("id", "rep")
    // left join: a rep with no ≥ τ neighbor is its own component (its
    // exact-group members still cluster with it through `mem`)
    mem.join(cc, Seq("rep"), "left")
      .select(col("member").as(idCol),
        coalesce(col("component"), col("rep")).as("component"))
  }

  /** Duplicate-mass THRESHOLD SWEEP — the tuning readout over
    * [[ngramJaccardPairs]]: how many near-dup pairs (and how many
    * distinct documents) survive each candidate threshold, from ONE
    * pair computation at the loosest τ (the LSH-parameter / dedup-
    * aggressiveness curve an operator reads before committing a τ —
    * fixing τ first and re-running per value would pay the pair join
    * once per point). Thresholds compare against the 4-dp ROUNDED
    * similarity (the pair output's own contract, mirrored by the
    * oracle). Output per τ: `(tau, n_pairs, n_docs)` ascending.
    *
    * Scale shape: the pair machinery's prefix-filtered join at
    * `taus.min` (keep it ≥ ~0.6 — the prefix filter's selectivity IS
    * the τ; a very loose floor re-opens the candidate space), then a
    * |pairs|×|grid| broadcast fan-out and two grid-bounded aggregates. */
  def jaccardThresholdSweep(df: DataFrame, idCol: String, textCol: String,
                            n: Int, taus: Seq[Double]): DataFrame = {
    require(taus.nonEmpty && taus == taus.sorted, "taus must be ascending")
    val spark = df.sparkSession
    import spark.implicits._
    // the pair frame feeds TWO aggregates (n_pairs and n_docs) — without
    // materialization each one re-executes the whole prefix-filter
    // candidate pipeline (measured 8.9 s → 4.0 s at sf0.1). The frame is
    // pair-list-sized (bounded by the near-dup mass, tiny next to the
    // corpus), so an eager local checkpoint is safe at any scale.
    val pairs = ngramJaccardPairs(df, idCol, textCol, n, taus.min)
      .localCheckpoint(true)
    val grid = broadcast(taus.toDF("tau"))
    val hit = pairs.crossJoin(grid).where(col("jaccard") >= col("tau"))
    val nPairs = hit.groupBy(col("tau")).agg(count(lit(1)).as("n_pairs"))
    val nDocs = hit.select(col("tau"), explode(array(col("id_a"), col("id_b")))
        .as("id")).distinct()
      .groupBy(col("tau")).agg(count(lit(1)).as("n_docs"))
    // grid-anchored left joins: a τ that kills every pair still reports
    // its zero row (the sweep's whole point is seeing where the curve
    // dies)
    grid.join(nPairs, Seq("tau"), "left").join(nDocs, Seq("tau"), "left")
      .select(col("tau"), coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"))
      .orderBy(col("tau"))
  }

  /** Dedup IMPACT report — what each candidate threshold actually costs:
    * for every `τ` in `taus`, cluster the ≥ τ n-gram-Jaccard graph
    * (connected components over the shared pair frame, keep-min-id per
    * cluster) and report the REMOVED mass: `(tau, n_docs, n_removed,
    * tokens_removed, pct_tokens)` ascending by τ — the
    * docs-vs-tokens trade curve an operator reads next to
    * [[jaccardThresholdSweep]]'s pair curve before committing a τ.
    *
    * Scale shape: ONE prefix-filtered pair computation at `taus.min`
    * (checkpointed — pair-list-sized), then per-τ star-contraction over
    * the FILTERED edge subset only (each is a subgraph of the τmin
    * graph, so iterated edge sets only shrink); token counts are one
    * corpus projection joined id-keyed. */
  def dedupImpact(df: DataFrame, idCol: String, textCol: String,
                  n: Int, taus: Seq[Double]): DataFrame = {
    require(taus.nonEmpty && taus == taus.sorted, "taus must be ascending")
    val spark = df.sparkSession
    import spark.implicits._
    // small-corpus branch: pairs once in memory, per-τ union-find local
    // (pair-bounded), and exactly TWO corpus-touching jobs — the token
    // projection's totals and one broadcast-joined removed-mass rollup —
    // instead of per-τ distributed component runs (profiled 27 jobs →
    // ~5 at sf0.1; outputs identical, the τ filter compares the same
    // Spark-rounded 4-dp similarity)
    val localRows =
      collectIfSmall(docSetsOf(df, idCol,
        shingleSet(TextAnalysis.tokens(col(textCol)), n)))
    if (localRows.isDefined) {
      val localPairs = LocalJaccard.jaccardPairs(localRows.get, taus.min).map {
        case (a, b, j) => (a, b, java.math.BigDecimal.valueOf(j)
          .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue())
      }
      val toks = df.select(col(idCol).cast("long").as("id"),
          graft.text.TextAnalysis.wsTokenCount(col(textCol)).cast("long").as("ntok"))
        .localCheckpoint(true) // totals AND the rollup join
      val totals = toks.agg(count(lit(1)).as("nd"), sum(col("ntok")).as("tt")).head()
      val nDocs = totals.getLong(0); val totTok = totals.getLong(1)
      val removedPerTau = taus.map { tau =>
        tau -> LocalJaccard.removedByKeepMin(
          localPairs.collect { case (a, b, j) if j >= tau => (a, b) })
      }
      val removedDf = removedPerTau
        .flatMap { case (t, ids) => ids.map(id => (t, id)) }
        .toDF("tau", "id")
      val sums = toks.join(broadcast(removedDf), "id")
        .groupBy(col("tau"))
        .agg(count(lit(1)).as("n_removed"), sum(col("ntok")).as("tok_removed"))
        .collect().map(r => r.getDouble(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      return taus.map { tau =>
        val (nr, tr) = sums.getOrElse(tau, (0L, 0L))
        (tau, nDocs, nr, tr)
      }.toDF("tau", "n_docs", "n_removed", "tokens_removed")
        .select(col("tau"), col("n_docs"), col("n_removed"),
          col("tokens_removed"),
          round(col("tokens_removed").cast("double") / lit(totTok), 6)
            .as("pct_tokens"))
        .orderBy(col("tau"))
    }
    val pairs = ngramJaccardPairs(df, idCol, textCol, n, taus.min)
      .localCheckpoint(true)
    val toks = df.select(col(idCol).cast("long").as("id"),
        graft.text.TextAnalysis.wsTokenCount(col(textCol)).cast("long").as("ntok"))
      .localCheckpoint(true) // consumed by the totals AND every τ's join
    val totals = toks.agg(count(lit(1)).as("nd"), sum(col("ntok")).as("tt")).head()
    val nDocs = totals.getLong(0); val totTok = totals.getLong(1)
    val perTau = taus.map { tau =>
      val cc = ConnectedComponents.components(
        pairs.filter(col("jaccard") >= tau).select(col("id_a"), col("id_b")),
        "id_a", "id_b")
      // removed = non-minimum members of each cluster (keep-min-id)
      val removed = cc.filter(col("id") =!= col("component")).select(col("id"))
      removed.join(toks, "id")
        .agg(count(lit(1)).as("n_removed"), sum(col("ntok")).as("tok_removed"))
        .select(lit(tau).as("tau"), lit(nDocs).as("n_docs"),
          coalesce(col("n_removed"), lit(0L)).as("n_removed"),
          coalesce(col("tok_removed"), lit(0L)).as("tokens_removed"),
          round(coalesce(col("tok_removed"), lit(0L)).cast("double") /
            lit(totTok), 6).as("pct_tokens"))
    }
    perTau.reduce(_ unionAll _).orderBy(col("tau"))
  }

  /** SPLIT-LEAKAGE audit — test-set contamination via NEAR-DUPLICATES
    * (Lee et al. 2022 found benchmark test splits near-dup-leaked into
    * train; the temporal-split audit catches time leakage, this catches
    * content leakage): under the hash split `pmod(id, splitMod) >=
    * splitMod-1 -> test`, classify every n-gram-Jaccard >= `threshold`
    * pair as train_train / train_test / test_test and report, per type,
    * the pair count and the distinct TEST docs it touches — the
    * train_test row is the contamination (evaluate on those docs and
    * the model has seen the answer). Always three rows (a zero row is
    * the audit PASSING), ascending by pair_type.
    *
    * Scale shape: one prefix-filtered pair computation (checkpointed —
    * pair-list-sized, the sweep precedent: two consumers would re-run
    * the candidate pipeline); both rollups are 3-row-bounded. */
  def splitLeakageReport(df: DataFrame, idCol: String, textCol: String,
                         n: Int, threshold: Double,
                         splitMod: Int = 5): DataFrame = {
    require(splitMod >= 2, s"need splitMod >= 2: $splitMod")
    val spark = df.sparkSession
    import spark.implicits._
    val pairs = ngramJaccardPairs(df, idCol, textCol, n, threshold)
      .localCheckpoint(true)
    def isTest(c: Column) = pmod(c, lit(splitMod)) >= splitMod - 1
    val typed = pairs.select(col("id_a"), col("id_b"),
      when(isTest(col("id_a")) && isTest(col("id_b")), lit("test_test"))
        .when(!isTest(col("id_a")) && !isTest(col("id_b")), lit("train_train"))
        .otherwise(lit("train_test")).as("pair_type"))
    val counts = typed.groupBy(col("pair_type"))
      .agg(count(lit(1)).as("n_pairs"))
    val hits = typed
      .select(col("pair_type"), explode(array(col("id_a"), col("id_b"))).as("id"))
      .filter(isTest(col("id"))).distinct()
      .groupBy(col("pair_type")).agg(count(lit(1)).as("n_test_docs_hit"))
    val grid = broadcast(
      Seq("test_test", "train_test", "train_train").toDF("pair_type"))
    grid.join(counts, Seq("pair_type"), "left")
      .join(hits, Seq("pair_type"), "left")
      .select(col("pair_type"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_test_docs_hit"), lit(0L)).as("n_test_docs_hit"))
      .orderBy(col("pair_type"))
  }

  /** Text/embedding DISAGREEMENT audit — the broken-embedding detector:
    * documents whose TEXT is near-identical (n-gram Jaccard ≥ `tauText`)
    * but whose embeddings sit far apart (cosine < `tauCos`) are, with
    * overwhelming likelihood, pipeline bugs — stale vectors, shuffled
    * ids, mixed model versions — not semantics. Returns the offending
    * pairs `(id_a, id_b, jaccard, cosine)` ordered by (cosine asc,
    * id_a, id_b): the most damning first.
    *
    * Scale shape: candidate pairs come from the prefix-filtered Jaccard
    * join (ids-only shuffles); embeddings attach to the PAIR LIST by two
    * id-keyed joins (pair-bounded, broadcast when small) — never an
    * embedding×embedding join. */
  def embeddingDisagreement(docs: DataFrame, embs: DataFrame,
                            idCol: String, textCol: String,
                            vecIdCol: String, vecCol: String, n: Int,
                            tauText: Double, tauCos: Double): DataFrame = {
    val pairs = ngramJaccardPairs(docs, idCol, textCol, n, tauText)
    val vecs = embs.select(col(vecIdCol).cast("long").as("vid"),
      col(vecCol).as("vv"))
    pairs
      .join(vecs.select(col("vid").as("id_a"), col("vv").as("va")), "id_a")
      .join(vecs.select(col("vid").as("id_b"), col("vv").as("vb")), "id_b")
      .select(col("id_a"), col("id_b"), col("jaccard"),
        round(graft.sim.Similarity.cosine(col("va"), col("vb")), 4).as("cosine"))
      .filter(col("cosine") < tauCos)
      .orderBy(col("cosine"), col("id_a"), col("id_b"))
  }

  /** [[jaccardComponentsOfSets]] over word n-gram shingle sets — the
    * clustering companion of [[ngramJaccardPairs]]. */
  def ngramJaccardComponents(df: DataFrame, idCol: String, textCol: String,
                             n: Int, threshold: Double): DataFrame =
    jaccardComponentsOfSets(df, idCol,
      shingleSet(TextAnalysis.tokens(col(textCol)), n), threshold)

  /** Rep-level ≥ τ Jaccard graph: returns `(repPairs, mem)` where
    * `repPairs(id_a, id_b, jaccard)` joins one representative per
    * distinct set and `mem(rep, member)` maps each rep to its
    * exact-duplicate group members. Shared core of the pair join and
    * the clustering path. */
  private def repJaccardGraph(df: DataFrame, idCol: String, setExpr: Column,
                              threshold: Double): (DataFrame, DataFrame) = {
    val docSets = docSetsOf(df, idCol, setExpr)
    // EXACT-GROUP PRE-COLLAPSE: documents with the SAME distinct token set
    // have pairwise Jaccard exactly 1.0 among themselves and identical
    // similarity to everything else, so the quadratic join only needs ONE
    // representative per set; member pairs are expanded back afterwards.
    // On a corpus with duplication factor d this shrinks the join by d².
    // Grouping is by the set VALUE — exact, no fingerprint collisions.
    // Group key: md5 digest of the canonical set (the same contract as
    // exactGroups' setFingerprint — 128-bit collisions are negligible).
    // Two scale hazards shape this:
    //  - membership is a JOIN back on the digest, never a
    //    collect_list(ids) per group — on exactly the corpora the
    //    collapse exists for (heavy duplication), a per-group id array
    //    is one unbounded aggregation-buffer row;
    //  - the digest is a compact string, so the membership join
    //    broadcasts the (digest, rep) side and never hashes array keys.
    // newline separator: set elements are whitespace-split tokens or
    // space-joined shingles — neither can contain a newline, so the key
    // is unambiguous for both (a SPACE separator would collide across
    // shingle boundaries: ["a b","c"] vs ["a","b c"])
    val keyed = docSets.withColumn("gk", md5(concat_ws("\n", col("set"))))
    // rep assignment via a window MIN over the digest: one hash shuffle,
    // no join, and WindowExec spills — a duplicate-heavy group never
    // builds an in-memory id array the way collect_list would.
    //
    // PERSISTED: this subtree feeds dfreq, withArrays and mem, and the
    // downstream self-joins branch 4× more — unpersisted, the whole
    // tokenize→shingle→digest→window pipeline re-runs ~9× (measured
    // 15.7 s for a 256-pair join at sf0.1; 2.9 s persisted). The cache
    // is one row per input doc (id, rep, set) — the dedup working set —
    // and MEMORY_AND_DISK spills it at corpus scale, against the
    // alternative of re-reading and re-shingling the corpus per branch.
    val withRep = keyed.withColumn("rep",
        min(col("id")).over(org.apache.spark.sql.expressions.Window.partitionBy(col("gk"))))
      .select(col("id"), col("rep"), col("set"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val reps = withRep.filter(col("id") === col("rep")).select(col("id"), col("set"))
    val mem = withRep.select(col("rep"), col("id").as("member"))
    // global rarity rank per token (ascending document frequency, over
    // representatives — any consistent global order is correct for the
    // prefix bound). Tokens are then carried as dense INTS everywhere
    // downstream: int equi-join keys for the prefix block, sorted-int-
    // merge verification — no string hashing or array allocation in the
    // hot pair loop. The rank is assigned DISTRIBUTED (range shuffle +
    // per-partition offsets, [[graft.operators.Positional.withRowIndex]])
    // — a shingle vocabulary grows with the corpus, so the obvious
    // `row_number().over(Window.orderBy(...))` is a single-task sort of
    // every distinct shingle at 100 TB. Int cast documented: the rank is
    // a compact join/merge key; a vocabulary beyond 2^31 would switch
    // SortedOverlapCount to longs before it overflows this cast.
    val dfreq = graft.operators.Positional.withRowIndex(
      reps.select(explode(col("set")).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("df")),
      Seq(col("df"), col("tok")), "__vrk")
      .select(col("tok"), (col("__vrk") + 1).cast("int").as("rk"))
    // no broadcast hint: vocabulary size is data-dependent (tiny here, can
    // be huge at corpus scale) — AQE picks broadcast when it fits
    // PERSISTED: consumed 4× downstream (both sides of the prefix
    // self-join, both re-attach joins). One int array per REP — smaller
    // than the corpus by the duplication factor and by tokens→ints.
    val withArrays = reps.select(col("id"), explode(col("set")).as("tok"))
      .join(dfreq, "tok")
      .groupBy(col("id"))
      .agg(sort_array(collect_list(col("rk"))).as("toks"),
           count(lit(1)).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // probing prefix: |d| - ceil(τ·|d|) + 1 rarest-first tokens, with the
    // 0-based position of each prefix token retained for the PPJoin bound.
    // ceil over (x − ε): if n·τ in double lands an ulp ABOVE the exact
    // rational (e.g. integer-valued products), a too-high ceil would
    // SHORTEN the prefix below the lossless bound; the epsilon can only
    // lengthen it (strictly more candidates — safe)
    val prefixLen = (col("n") - ceil(col("n") * threshold - 1e-9) + 1).cast("int")
    val prefixes = withArrays.select(col("id"), col("n"),
      posexplode(slice(col("toks"), lit(1), prefixLen)))
      .toDF("id", "n", "pos", "tok")
    // Candidate generation shuffles (id, n, pos) ONLY — arrays re-attach
    // afterwards. Two map-side cuts run inside the join:
    //  - length filter: J ≥ τ requires τ·max(|A|,|B|) ≤ min(|A|,|B|);
    //  - PPJoin positional bound: for the FIRST shared token (positions
    //    pa, pb in the common global order) overlap ≤ min(na−pa, nb−pb),
    //    which must reach minoverlap = ⌈τ/(1+τ)·(na+nb)⌉. Filtering every
    //    matched row by this bound is lossless: a qualifying pair always
    //    survives via its first shared prefix token.
    // NO ceil, and an epsilon RELAXATION: the bound must be conservative
    // against float noise. ceil((na+nb)·t/(1+t)) computed in double can
    // land one ABOVE the true rational ceiling (e.g. t=0.16, na+nb=203 →
    // 28.000000000000004 → ceil 29 while the exact bound is 28), silently
    // dropping boundary pairs that verification would keep. Comparing the
    // integer remainder directly against the real-valued bound minus 1e-9
    // admits at worst a few extra candidates — which verification then
    // scores exactly — and can never lose a qualifying pair.
    val minOverlap = (col("a.n") + col("b.n")) * threshold / (1 + threshold) - 1e-9
    val cands = prefixes.alias("a")
      .join(prefixes.alias("b"),
        col("a.tok") === col("b.tok") && col("a.id") < col("b.id") &&
        // length filter carries the same epsilon relaxation (τ·max in
        // double can exceed the exact rational bound by an ulp)
        col("a.n").cast("double") >= col("b.n") * threshold - 1e-9 &&
        col("b.n").cast("double") >= col("a.n") * threshold - 1e-9 &&
        least(col("a.n") - col("a.pos"), col("b.n") - col("b.pos")).cast("double") >= minOverlap)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    // No dropDuplicates BEFORE verification: a candidate appears at most
    // prefix-length times, and verifying a few duplicate pairs map-side is
    // far cheaper than shuffling the full candidate set to dedup it.
    val docSide = withArrays.select(col("id"), col("toks"), col("n"))
    // bounded merge: the 3-arg graft_sorted_overlap carries the SAME
    // ε-relaxed minOverlap bound into the merge loop and bails the moment
    // the remaining-suffix length can't reach it (the PPJoin suffix
    // filter applied per merge step) — lossless for the ≥ τ filter, and
    // it kills the typical false candidate in a few steps instead of
    // walking both arrays end to end, which was the dominant cost of the
    // verification stage
    val repPairs = cands
      .join(docSide.toDF("id_a", "toks_a", "na"), "id_a")
      .join(docSide.toDF("id_b", "toks_b", "nb"), "id_b")
      .withColumn("c", call_function(graft.functions.SortedOverlapCount.Name,
        col("toks_a"), col("toks_b"),
        (col("na") + col("nb")) * threshold / (1 + threshold) - 1e-9))
      .withColumn("jaccard", col("c").cast("double") /
        (col("na") + col("nb") - col("c")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
      .dropDuplicates("id_a", "id_b")
    (repPairs, mem)
  }

  // ---------------------------------------------------- containment pairs

  /** Exact all-pairs OVERLAP-COEFFICIENT join: pairs with
    * `|A ∩ B| / min(|A|, |B|) >= threshold` over word n-gram shingle
    * sets. The subset-duplicate detector Jaccard structurally misses: a
    * short document fully quoted inside a much longer one has Jaccard
    * `|A|/|B| ≈ 0` but containment 1.0 — the boilerplate-inclusion /
    * quote-expansion case every corpus dedup pass needs alongside q59's
    * symmetric near-dup join. */
  def ngramContainmentPairs(df: DataFrame, idCol: String, textCol: String,
                            n: Int, threshold: Double): DataFrame =
    containmentPairsOfSets(df, idCol,
      shingleSet(TextAnalysis.tokens(col(textCol)), n), threshold)

  /** Core of the exact containment join. ASYMMETRIC prefix filtering:
    * because the required overlap `⌈τ·min(|A|,|B|)⌉` depends only on the
    * SMALLER set, the smaller side of every qualifying pair must share a
    * token inside its own rarest-first prefix of length
    * `|A| − ⌈τ·|A|⌉ + 1` (the suffix beyond it holds `⌈τ·|A|⌉ − 1 <
    * minoverlap` tokens) — so only PREFIXES probe, while the index side
    * posts ALL tokens (a containment join has no length filter: the
    * partner may be arbitrarily larger, which is exactly the pair it
    * exists to find). The corpus-sized posting list is int ranks only,
    * and the join fans out on the probe side's globally-rarest tokens —
    * hot tokens never probe. Verification reuses the 3-arg bounded merge
    * ([[graft.functions.SortedOverlapCount]]) with
    * `minoverlap = τ·min(na,nb)`; the exact-group pre-collapse and
    * member expansion are the same d²-reduction as the Jaccard path. */
  def containmentPairsOfSets(df: DataFrame, idCol: String, setExpr: Column,
                             threshold: Double): DataFrame = {
    val docSets = docSetsOf(df, idCol, setExpr)
    val local = collectIfSmall(docSets)
    if (local.isDefined) {
      val idType = docSets.schema("id").dataType
      return localPairsDf(df, "containment",
          LocalJaccard.containmentPairs(local.get, threshold))
        .select(col("id_a").cast(idType).as("id_a"),
          col("id_b").cast(idType).as("id_b"),
          round(col("containment"), 4).as("containment"))
    }
    // exact-group pre-collapse (same contract as repJaccardGraph: members
    // of one group have identical sets, so identical containment to
    // everything — one representative joins, members expand afterwards)
    val keyed = docSets.withColumn("gk", md5(concat_ws("\n", col("set"))))
    val withRep = keyed.withColumn("rep",
        min(col("id")).over(org.apache.spark.sql.expressions.Window.partitionBy(col("gk"))))
      .select(col("id"), col("rep"), col("set"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val reps = withRep.filter(col("id") === col("rep")).select(col("id"), col("set"))
    val mem = withRep.select(col("rep"), col("id").as("member"))
    // global rarity rank, distributed (see repJaccardGraph) — any
    // consistent total order is correct for the prefix bound
    val dfreq = graft.operators.Positional.withRowIndex(
      reps.select(explode(col("set")).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("df")),
      Seq(col("df"), col("tok")), "__vrk")
      .select(col("tok"), (col("__vrk") + 1).cast("int").as("rk"))
    val withArrays = reps.select(col("id"), explode(col("set")).as("tok"))
      .join(dfreq, "tok")
      .groupBy(col("id"))
      .agg(sort_array(collect_list(col("rk"))).as("toks"),
           count(lit(1)).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // probe prefix: |d| − ⌈τ·|d|⌉ + 1 rarest tokens (ε under the ceil —
    // a float ceil landing an ulp high may only LENGTHEN the prefix)
    val prefixLen = (col("n") - ceil(col("n") * threshold - 1e-9) + 1).cast("int")
    val probes = withArrays.select(col("id"), col("n"),
      posexplode(slice(col("toks"), lit(1), prefixLen)))
      .toDF("id", "n", "pos", "tok")
    // index side: EVERY token with its position (for the suffix bound)
    val postings = withArrays.select(col("id"), col("n"),
      posexplode(col("toks"))).toDF("id", "n", "pos", "tok")
    // the probe is the smaller set of the pair (ties broken by id so each
    // pair is generated from exactly one side); minoverlap = τ·na − ε,
    // with the index-side suffix bound nb − pb ≥ minoverlap applied
    // map-side (the probe-side bound is the prefix cut itself)
    val minOverlap = col("a.n") * threshold - 1e-9
    val cands = probes.alias("a")
      .join(postings.alias("b"),
        col("a.tok") === col("b.tok") &&
        (col("a.n") < col("b.n") ||
          (col("a.n") === col("b.n") && col("a.id") < col("b.id"))) &&
        least(col("a.n") - col("a.pos"), col("b.n") - col("b.pos"))
          .cast("double") >= minOverlap)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    // no dropDuplicates before verification: measured at sf0.1 the
    // candidate multiplicity is ~1.02 (68.6k raw vs 67.2k distinct) —
    // the probe prefix and the map-side suffix bound already make pairs
    // near-unique, and the extra exchange costs more than the few
    // duplicate bounded merges it saves (same finding as the Jaccard path)
    val docSide = withArrays.select(col("id"), col("toks"), col("n"))
    val repPairs = cands
      .join(docSide.toDF("id_a", "toks_a", "na"), "id_a")
      .join(docSide.toDF("id_b", "toks_b", "nb"), "id_b")
      .withColumn("c", call_function(graft.functions.SortedOverlapCount.Name,
        col("toks_a"), col("toks_b"), col("na") * threshold - 1e-9))
      .withColumn("containment",
        col("c").cast("double") / col("na").cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("containment"))
      .dropDuplicates("id_a", "id_b")
    // member expansion: identical sets ⇒ containment 1.0 within a group,
    // and every member inherits its rep's cross-group containment
    val within = mem.alias("x")
      .join(mem.alias("y"), col("x.rep") === col("y.rep") && col("x.member") < col("y.member"))
      .select(col("x.member").as("id_a"), col("y.member").as("id_b"),
        lit(1.0).as("containment"))
    val cross = repPairs
      .join(mem.toDF("id_a", "ma"), "id_a")
      .join(mem.toDF("id_b", "mb"), "id_b")
      .select(least(col("ma"), col("mb")).as("id_a"),
        greatest(col("ma"), col("mb")).as("id_b"), col("containment"))
    within.unionAll(cross)
      .select(col("id_a"), col("id_b"), round(col("containment"), 4).as("containment"))
  }

  // -------------------------------------------------------------- simhash

  /** 64-bit SimHash over whitespace tokens (FNV-1a token hashes, bit-vote
    * aggregation). Deterministic across JVMs. */
  val simHash64: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (toks: Seq[String]) =>
      if (toks == null || toks.isEmpty) 0L
      else {
        val votes = new Array[Int](64)
        toks.foreach { t =>
          var h = 0xcbf29ce484222325L // FNV-1a 64
          var i = 0
          while (i < t.length) { h ^= t.charAt(i).toLong; h *= 0x100000001b3L; i += 1 }
          var b = 0
          while (b < 64) { if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1; b += 1 }
        }
        var out = 0L
        var b = 0
        while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
        out
      }
    }

  /** Portable SimHash sibling of [[simHash64]]: a 60-BIT fingerprint
    * whose per-token hash is [[md5Hash60]] — every step (md5-prefix
    * hash, bit votes, 4×15-bit pigeonhole chunks, `bit_count(xor)`)
    * has an exact ANSI/DuckDB twin, so the pair query joins the
    * correctness gate. 60 bits instead of 64 keeps every intermediate
    * strictly positive and below 2^61 (no engine-specific overflow or
    * sign-bit semantics anywhere in the SQL). */
  val simHash60: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (toks: Seq[String]) =>
      if (toks == null || toks.isEmpty) 0L
      else {
        val votes = new Array[Int](60)
        toks.foreach { t =>
          val h = md5Hash60(t)
          var b = 0
          while (b < 60) { if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1; b += 1 }
        }
        var out = 0L
        var b = 0
        while (b < 60) { if (votes(b) > 0) out |= (1L << b); b += 1 }
        out
      }
    }

  /** Hamming-distance ≤ `maxDist` SimHash pairs. Blocking: split the
    * fingerprint into 4 equal chunks — any pair within distance 3 agrees
    * on ≥1 chunk (pigeonhole), so the chunk equi-join is lossless for
    * `maxDist <= 3`. Verification: `bit_count(a ^ b)`. Fast path: the
    * 64-bit FNV-family [[simHash64]] (16-bit chunks); `portable = true`
    * switches to the SQL-reproducible 60-bit md5 family ([[simHash60]],
    * 15-bit chunks) — same blocking guarantee, oracle-checkable. */
  def simHashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxDist: Int = 3, portable: Boolean = false): DataFrame = {
    require(maxDist <= 3, "4-chunk pigeonhole blocking is only exact for maxDist <= 3")
    val (hashUdf, chunkBits) =
      if (portable) (simHash60, 15) else (simHash64, 16)
    val hashed = spread(df, idCol).select(col(idCol).as("id"),
      hashUdf(TextAnalysis.tokens(col(textCol))).as("h"))
    val chunked = hashed.select(col("id"), col("h"),
      posexplode(array((0 until 4).map(i =>
        shiftright(col("h"), i * chunkBits)
          .bitwiseAND(lit((1L << chunkBits) - 1))): _*)))
      .toDF("id", "h", "chunk_idx", "chunk_val")
    val a = chunked.alias("a")
    val b = chunked.alias("b")
    // Filter BEFORE deduplicating: the Hamming cut runs map-side inside
    // the candidate join's output, so only the tiny surviving pair set is
    // shuffled for dedup. (The old distinct()-then-filter order shuffled
    // the ENTIRE candidate explosion once more just to drop most of it.)
    a.join(b, col("a.chunk_idx") === col("b.chunk_idx") &&
              col("a.chunk_val") === col("b.chunk_val") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.h").bitwiseXOR(col("b.h"))).as("hamming"))
      .filter(col("hamming") <= maxDist)
      .groupBy(col("id_a"), col("id_b"))
      .agg(min(col("hamming")).as("hamming"))
  }

  // --------------------------------------------------- embedding near-dup

  /** Fixed-seed random hyperplanes for sign-LSH. */
  private def hyperplanes(dim: Int, nPlanes: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new java.util.Random(seed)
    Array.fill(nPlanes)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Portable integer hyperplanes: component `(p, d)` is the 28-bit
    * md5-prefix of `"p_d"` shifted to be symmetric around zero —
    * `('0x' || substr(md5(p || '_' || d), 1, 7))::BIGINT - 2^27` in SQL.
    * Uniform (not Gaussian) components: for SIGN-LSH only the induced
    * hyperplane direction matters, and any coordinate-symmetric
    * distribution gives an unbiased locality-sensitive family. */
  private def portablePlanes(dim: Int, nPlanes: Int): Array[Array[Long]] =
    Array.tabulate(nPlanes)(p =>
      Array.tabulate(dim)(d => md5Hash28(s"${p}_${d}") - (1L << 27)))

  /** Near-duplicate embedding pairs: sign-LSH bands bucket the vectors
    * (recall < 1 — documented trade; raise `bands` for recall, `bitsPerBand`
    * for precision), exact cosine verifies.
    *
    * `portable = true` swaps the seeded-Gaussian hyperplanes for
    * [[portablePlanes]] and computes each plane dot product in EXACT
    * integer arithmetic over the 1e-6-pinned vector grid (|v6| ≤ ~2^21,
    * |w| < 2^27, dim ≤ 2^13 ⇒ the sum is < 2^61 — overflow-free in both
    * engines), so the bucket assignment — and therefore the whole
    * output — is reproducible in ANSI SQL. The float fast path stays
    * the default (`seed` is ignored when portable). */
  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                            threshold: Double, bands: Int = 8, bitsPerBand: Int = 4,
                            seed: Long = 42L, portable: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    val dimRow = df.select(size(col(vecCol))).limit(1).collect()
    if (dimRow.isEmpty) {
      return df.select(col(idCol).as("id_a"), col(idCol).as("id_b"),
        lit(0.0).as("cos")).limit(0)
    }
    val dim = dimRow.head.getInt(0)
    val sigUdf = if (portable) {
      val planes = spark.sparkContext.broadcast(portablePlanes(dim, bands * bitsPerBand))
      udf { (v: Seq[Float]) =>
        val ps = planes.value
        val bits = ps.map { p =>
          var dot = 0L; var i = 0
          val n = math.min(p.length, v.length)
          // half-away-from-zero 1e-6 grid — `CAST(round(x*1e6) AS BIGINT)`
          while (i < n) {
            val x = v(i).toDouble * 1e6
            val v6 = if (x >= 0) math.round(x) else -math.round(-x)
            dot += p(i) * v6; i += 1
          }
          if (dot >= 0) 1 else 0
        }
        bits.grouped(bitsPerBand).map(_.foldLeft(0)((acc, b) => (acc << 1) | b)).toArray
      }
    } else {
      val planes = spark.sparkContext.broadcast(hyperplanes(dim, bands * bitsPerBand, seed))
      udf { (v: Seq[Float]) =>
        val ps = planes.value
        val bits = ps.map { p =>
          var dot = 0.0; var i = 0
          while (i < v.length) { dot += p(i) * v(i); i += 1 }
          if (dot >= 0) 1 else 0
        }
        bits.grouped(bitsPerBand).map(_.foldLeft(0)((acc, b) => (acc << 1) | b)).toArray
      }
    }
    // candidate pairs shuffle ids only (vectors re-attached after distinct)
    val banded = spread(df, idCol).select(col(idCol).as("id"), posexplode(sigUdf(col(vecCol))))
      .toDF("id", "band", "bucket")
    val a = banded.alias("a")
    val b = banded.alias("b")
    val cands = a.join(b, col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val vecs = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    cands
      .join(vecs.toDF("id_a", "va"), "id_a")
      .join(vecs.toDF("id_b", "vb"), "id_b")
      .withColumn("cos", graft.sim.Similarity.cosine(col("va"), col("vb")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos"))
  }
}
