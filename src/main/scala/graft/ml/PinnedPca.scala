package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PCA by PINNED-LONG power iteration — the oracle-exact replacement
  * for the spark.ml SVD path on embedding columns: every quantity the
  * eigen-iteration touches lives on an integer grid (coordinates and
  * centered coordinates at 1e-9, covariance cross-products as exact
  * integer sums, each iteration's matrix-vector product / Gram-Schmidt
  * projection / normalization rounding back to the grid), so components
  * and projections are an exact integer recurrence — identical on any
  * IEEE engine, any partitioning, and expressible as an unrolled SQL
  * twin (the q97 PageRank pattern applied to eigenvectors).
  *
  * Algorithm: mean-center, form the Gram/covariance matrix `C` (scale
  * constants don't move eigenVECTORS — `C` is normalized by `n` only to
  * keep pinned magnitudes bounded at any corpus size), then for each
  * component run `iters` power iterations with deflation by explicit
  * re-orthogonalization against the previously-found components.
  * Components come out ordered by explained variance (power iteration
  * converges to the dominant remaining eigenvector), matching the
  * spark.ml contract the spec pins; the SIGN is pinned by the
  * deterministic all-equal start vector rather than left to LAPACK's
  * mood.
  *
  * Scale shape: the per-row explode and the (dim × dim)-keyed
  * cross-product aggregate are the only corpus-sized stages (map-side
  * partial sums; the shuffle carries dim² part-sums). The iteration
  * state is dim doubles per component — k×dim DRIVER state, the
  * [[graft.sim.Similarity.kmeansAssign]] precedent — and projections
  * are one broadcast join back over the centered rows. */
object PinnedPca {

  /** Ties away from zero (SQL `round`), vs math.round's floor(x+0.5). */
  private def ra(x: Double): Long =
    if (x >= 0) math.round(x) else -math.round(-x)

  /** `(idCol, pc)` with `pc` an `array<double>` of the `k` leading
    * component projections of the (mean-centered) vectors, pinned to
    * the 1e-9 grid. `iters` power iterations per component. */
  def project(df: DataFrame, idCol: String, vecCol: String, k: Int,
              iters: Int = 40): DataFrame = {
    require(k >= 1 && iters >= 1, s"need k, iters >= 1: $k, $iters")
    val spark = df.sparkSession
    import spark.implicits._
    def d38(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    // coordinates on the 1e-9 grid, one exploded (id, j, x9) frame —
    // persisted: it feeds the mean, the cross-products and the
    // projection join
    val x9 = graft.operators.Spread.widen(
        df.select(col(idCol).cast("long").as("id"),
          col(vecCol).cast("array<double>").as("v")), col("id"))
      .select(col("id"), posexplode(col("v")).as(Seq("j", "x")))
      .select(col("id"), col("j"),
        round(col("x") * lit(1e9)).cast("long").as("x9"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nRows = x9.select(col("id")).distinct().count()
    require(nRows >= 2, s"need >= 2 vectors, got $nRows")
    // pinned per-dimension mean (exact integer sum, one rounded division)
    val mean9 = x9.groupBy(col("j"))
      .agg(round(sum(d38(col("x9"))).cast("double") / lit(nRows.toDouble))
        .cast("long").as("m9"))
    val cx = x9.join(broadcast(mean9), "j")
      .select(col("id"), col("j"), (col("x9") - col("m9")).as("c9"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // covariance cross-products: exact integer sums over the corpus
    // (the only dim²-keyed shuffle), normalized to real units (/1e18)
    // and by n (magnitude bound at any corpus size). The per-row
    // PRODUCT runs in LONG (the PinnedAls precedent): two centred 1e-9
    // grid coordinates multiply to |c9|² ≈ 9e18 at |c9| ≈ 3e9, which is
    // about 2^63 — no headroom there. Unit-normalized embeddings stay
    // well below it (this corpus: |x| < 0.6, so |c9| < 1.2e9 and
    // products < 1.5e18), but past |c9| ≈ 3.04e9 the non-ANSI long
    // multiply wraps SILENTLY and yields a wrong covariance, not an
    // error. Only the cross-row SUM needs decimal width, so each row
    // pays one long multiply + one decimal add instead of two
    // long→decimal conversions + a decimal multiply + the add —
    // profiled 8.9 CPU-s → see OPTIMIZATION_r14.md (this was the
    // hottest stage of the query, 512 k products at sf0.1).
    val cRows = cx.alias("a").join(cx.alias("b"), col("a.id") === col("b.id"))
      .groupBy(col("a.j").as("j"), col("b.j").as("jk"))
      .agg(sum(d38(col("a.c9") * col("b.c9"))).as("s"))
      .select(col("j"), col("jk"),
        (col("s").cast("double") / lit(1e18) / lit(nRows.toDouble)).as("c"))
      .collect()
    val dim = cRows.map(_.getInt(0)).max + 1
    val cMat = Array.ofDim[Double](dim, dim)
    cRows.foreach(r => cMat(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
    // pinned power iteration with deflation-by-orthogonalization; the
    // IDENTICAL op sequence is emitted by the SQL twin generator
    // (SparkEntry.pinnedPcaSql) — keep them in lockstep
    val comps = Array.ofDim[Long](k, dim)
    val v0 = ra(1e9 / math.sqrt(dim.toDouble))
    var c = 0
    while (c < k) {
      var v = Array.fill(dim)(v0)
      var it = 0
      while (it < iters) {
        val w = new Array[Long](dim)
        var j = 0
        while (j < dim) {
          var s = 0L
          var l = 0
          while (l < dim) { s += ra(cMat(j)(l) * v(l)); l += 1 }
          w(j) = s
          j += 1
        }
        // Gram-Schmidt against every previously-found component
        var p = 0
        while (p < c) {
          val u = comps(p)
          var dot9 = 0L
          var j2 = 0
          while (j2 < dim) { dot9 += ra(w(j2).toDouble * u(j2) / 1e9); j2 += 1 }
          j2 = 0
          while (j2 < dim) {
            w(j2) -= ra(dot9.toDouble * u(j2) / 1e9); j2 += 1
          }
          p += 1
        }
        var n2 = BigInt(0)
        var j3 = 0
        while (j3 < dim) { n2 += BigInt(w(j3)) * BigInt(w(j3)); j3 += 1 }
        val nd = math.sqrt(n2.toDouble)
        j3 = 0
        while (j3 < dim) { v(j3) = ra(w(j3).toDouble / nd * 1e9); j3 += 1 }
        it += 1
      }
      comps(c) = v
      c += 1
    }
    // projections: one broadcast join of the k×dim component table onto
    // the centered rows; per-term pin, exact per-(id, comp) sums
    val vRows = for (cc <- 0 until k; j <- 0 until dim)
      yield (cc, j, comps(cc)(j))
    val vDf = broadcast(vRows.toDF("comp", "j", "v9"))
    val proj = cx.join(vDf, "j")
      .select(col("id"), col("comp"),
        round(col("c9").cast("double") * col("v9") / lit(1e9)).cast("long").as("t9"))
      .groupBy(col("id"), col("comp"))
      .agg(sum(col("t9")).as("s9"))
      .select(col("id"), col("comp"),
        // t9 carries c·v at the 1e-9 grid (1e18 of the two grids, one
        // /1e9 in the pin) — a single /1e9 lands in real units
        (col("s9").cast("double") / 1e9).as("p"))
    proj.groupBy(col("id"))
      .agg(array_sort(collect_list(struct(col("comp"), col("p")))).as("cp"))
      .select(col("id").as(idCol),
        transform(col("cp"), e => e.getField("p")).as("pc"))
  }
}
