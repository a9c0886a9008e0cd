package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Keyed range (interval) join — "for each left row, the right rows of the
  * same key whose timestamp falls in a window ending at the left row's
  * timestamp". The training-pipeline shape: per-event trailing-window
  * context (events in the last hour, orders in the last week) joined
  * WITHOUT a quadratic blow-up.
  *
  * Why not the naive plan: `l JOIN r ON l.key = r.key AND r.ts BETWEEN
  * l.ts - w AND l.ts` equi-joins on the key alone and applies the range as
  * a post-filter — every left row of a key meets every right row of that
  * key first, O(|L_k|·|R_k|) per key. A hot key (one user with 1e8 events
  * in 100 TB) is a task that never finishes.
  *
  * The binned plan joins on `(key, bin)` where `bin = floor(ts / w)`:
  * a right row at time `rt` can only serve left rows with `lt ∈ (rt,
  * rt + w]`, i.e. left bins `floor(rt/w)` and `floor(rt/w) + 1` — so the
  * right side is replicated into exactly those TWO bins and the exact
  * range predicate runs inside the equi-join. Each (left, right) pair
  * meets at most once (a left row has one bin), so no post-dedup. Work
  * per task is bounded by bin occupancy, never key cardinality: the hot
  * key's history spreads over its time bins, and AQE's skew splitting
  * applies because the carrier is a plain equi sort-merge/shuffled-hash
  * join on (key, bin).
  *
  * Reference behavior: trailing-window context assembly, the set-oriented
  * form of the reference's per-entity rolling loops
  * (process_logs_v8.py:243-261 builds per-template rolling counts
  * row-by-row in pandas).
  */
object RangeJoin {

  /** Per-left-row aggregate over same-key right rows in the trailing
    * window `[l.ts - windowSeconds, l.ts)` (left-exclusive: a row is not
    * its own context). Output: `idCol, keyCol, n_window, dsum_window` —
    * one row per left row; zero-match rows kept with `n_window = 0` and a
    * null sum. The sum is exact DECIMAL (order-invariant at any core
    * count); callers round/cast at the edge.
    *
    * Two shuffles total: the (key, bin) equi-join, then the per-left-id
    * partial-merged aggregate — no window function, no per-key buffering.
    *
    * Bin arithmetic is exact integer `div` on epoch micros (positive
    * epochs; pre-1970 timestamps would need floor-div).
    */
  def trailingAgg(left: DataFrame, right: DataFrame,
                  keyCol: String, tsCol: String, idCol: String, valCol: String,
                  windowSeconds: Long): DataFrame = {
    val w = windowSeconds * 1000000L // micros, the native TimestampType unit

    val l = left.select(col(idCol), col(keyCol),
        unix_micros(col(tsCol)).as("lt"))
      .withColumn("bin", expr(s"lt div ${w}L")).alias("l")
    // replicate each right row into the two left bins it can reach
    val r = right.select(col(keyCol),
        unix_micros(col(tsCol)).as("rt"), col(valCol))
      .withColumn("rbin", expr(s"rt div ${w}L"))
      .withColumn("bin", explode(array(col("rbin"), col("rbin") + lit(1L))))
      .drop("rbin").alias("r")

    l.join(r,
        col(s"l.$keyCol") === col(s"r.$keyCol") &&
          col("l.bin") === col("r.bin") &&
          col("r.rt") >= col("l.lt") - lit(w) && col("r.rt") < col("l.lt"),
        "left_outer")
      .groupBy(col(s"l.$idCol").as(idCol), col(s"l.$keyCol").as(keyCol))
      .agg(count(col("r.rt")).as("n_window"),
           // exact long split sum (graft.operators.ExactAgg): order-
           // invariant, engine-portable rounding at 4 dp
           graft.operators.ExactAgg.dsum(col(s"r.$valCol"), 4).as("dsum_window"))
  }
}
