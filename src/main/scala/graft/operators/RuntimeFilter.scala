package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Bloom

/** Explicit bloom runtime-filter join: prune the fact side AT ITS SCAN
  * with a bloom filter built over the (post-filter) dimension keys, then
  * join. See [[graft.functions.Bloom]] for the scale argument; this is
  * the composable operator form.
  *
  * The build side is aggregated distributed (bounded bits/8-byte state
  * per partial), then the ONE resulting blob is collected and embedded
  * as a literal in the fact-side predicate — the same
  * materialize-then-inject step Spark's InjectRuntimeFilter/DPP perform,
  * made explicit. Build cost is one pass over the dim; the blob is
  * ~numBits/8 bytes regardless of dim size.
  */
object RuntimeFilter {

  /** The bloom blob over `keys(df)` as a literal Column. Eager: runs the
    * build-side aggregate now. */
  def bloomLiteral(dim: DataFrame, dimKey: String,
                   numBits: Int = 1 << 22, k: Int = 5): Column = {
    val blob = dim
      .select(xxhash64(col(dimKey)).as("h"))
      .agg(call_function(Bloom.AggName, col("h"), lit(numBits), lit(k)).as("b"))
      .head().getAs[Array[Byte]](0)
    lit(blob)
  }

  /** Fact rows that might join `dim` on the key — no false negatives,
    * FP fraction ~(1 - e^{-kn/m})^k of non-joining rows. */
  def prune(fact: DataFrame, factKey: String, dim: DataFrame, dimKey: String,
            numBits: Int = 1 << 22, k: Int = 5): DataFrame = {
    fact.filter(call_function(Bloom.ContainsName,
      bloomLiteral(dim, dimKey, numBits, k), xxhash64(col(factKey))))
  }

  /** Bloom-pruned inner equi-join: exactly `fact JOIN dim` (the bloom
    * only removes rows the join would drop anyway), but non-joining fact
    * rows die at the scan instead of crossing the join's shuffle. */
  def prunedJoin(fact: DataFrame, factKey: String,
                 dim: DataFrame, dimKey: String,
                 numBits: Int = 1 << 22, k: Int = 5): DataFrame =
    prune(fact, factKey, dim, dimKey, numBits, k)
      .join(dim, col(factKey) === col(dimKey))
}
