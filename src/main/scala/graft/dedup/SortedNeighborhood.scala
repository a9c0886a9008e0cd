package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.Positional

/** Sorted-neighborhood blocking (Hernández & Stolfo, SIGMOD '95) for
  * edit-distance near-dup detection — the classic entity-resolution
  * complement to the set-similarity joins in [[Dedup]]: Jaccard blocking
  * is blind to small CHARACTER-level edits inside tokens (typos, OCR
  * noise), which is exactly what bounded Levenshtein distance catches.
  *
  * Scale shape: one RANGE shuffle (the distributed row index over the
  * sort key — never a single-task global window), then a self equi-join
  * on integer index offsets `1..w`. Work is O(n·w) candidate pairs
  * regardless of corpus size or key skew: each row meets exactly its `w`
  * successors in sort order. The expensive O(len²) Levenshtein verifier
  * runs only on those n·w candidates, map-side, inside codegen.
  *
  * The trade (documented, standard): recall is bounded by the blocking —
  * two near-identical documents whose sort keys land further than `w`
  * apart are not compared. Multi-pass with a second key (e.g. reversed
  * prefix) is the standard recall fix; compose two calls and union.
  */
object SortedNeighborhood {

  /** Candidate pairs `(id_a, id_b, dist)` with `dist = levenshtein` over
    * the first `cmpPrefixLen` chars of the canonicalized text, for pairs
    * within `window` positions of each other in `(sortKey, id)` order,
    * keeping `dist <= maxDist`.
    *
    * `sortKeyExpr` must be deterministic; ties break on `idCol` so the
    * order (and thus the result) is total and engine-reproducible. The
    * prefix cap bounds the per-pair verifier at `cmpPrefixLen²` character
    * ops — edit distance on unbounded documents is quadratic in length,
    * so a 100 TB corpus pins the comparison to a fixed-cost prefix (the
    * standard sorted-neighborhood practice; raise the cap for fidelity). */
  def editDistancePairs(df: DataFrame, idCol: String, sortKeyExpr: Column,
                        cmpExpr: Column, window: Int, maxDist: Int): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    val keyed = Positional.withRowIndex(
      df.select(col(idCol).as("id"), sortKeyExpr.as("__sk"), cmpExpr.as("__cmp")),
      Seq(col("__sk"), col("id")), "__rn")
      .select(col("id"), col("__cmp"), col("__rn"))
    // each row meets its `window` successors: explode the offset, join on
    // the shifted integer index — a uniform int equi-join, no skew
    val probes = keyed.select(col("id"), col("__cmp"),
      explode(sequence(col("__rn") + 1, col("__rn") + window)).as("__rn"))
    // 3-arg levenshtein = banded DP, O(maxDist·len) per pair instead of
    // O(len²) (returns -1 above the bound — exactly the pairs we drop);
    // at 120-char prefixes this is the dominant per-pair cost
    probes.alias("a")
      .join(keyed.alias("b"), col("a.__rn") === col("b.__rn"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        levenshtein(col("a.__cmp"), col("b.__cmp"), maxDist).as("dist"))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
      // a pair can meet once per pass only (offsets are distinct), but
      // normalize orientation for the caller
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"), col("dist"))
  }

  /** Blocked RECORD-LINKAGE pairs scored by Jaro-Winkler similarity:
    * `(id_a, id_b, sim)` with `sim >= minSim`, for pairs within `window`
    * positions of each other in `(sortKey, id)` order — the MDM / entity-
    * resolution fuzzy name matcher. Same sorted-neighborhood blocking
    * (and the same bounded-recall trade) as [[editDistancePairs]]; the
    * scorer is the native codegen [[graft.functions.JaroWinkler]]
    * expression, which weights shared prefixes the way human-entered
    * name/address typos warrant (Winkler 1990) where raw edit distance
    * treats all positions alike. `sim` rounded to 4 dp. */
  def jaroWinklerPairs(df: DataFrame, idCol: String, sortKeyExpr: Column,
                       cmpExpr: Column, window: Int, minSim: Double): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    val keyed = Positional.withRowIndex(
      df.select(col(idCol).as("id"), sortKeyExpr.as("__sk"), cmpExpr.as("__cmp")),
      Seq(col("__sk"), col("id")), "__rn")
      .select(col("id"), col("__cmp"), col("__rn"))
    val probes = keyed.select(col("id"), col("__cmp"),
      explode(sequence(col("__rn") + 1, col("__rn") + window)).as("__rn"))
    probes.alias("a")
      .join(keyed.alias("b"), col("a.__rn") === col("b.__rn"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        call_function(graft.functions.JaroWinkler.Name,
          col("a.__cmp"), col("b.__cmp")).as("sim"))
      .filter(col("sim") >= minSim)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"),
        round(col("sim"), 4).as("sim"))
  }
}
