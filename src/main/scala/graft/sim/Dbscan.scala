package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Density-based clustering (DBSCAN, Ester et al. 1996) over an
  * embedding column — the shape-agnostic alternative to
  * [[Similarity.kmeansAssign]]: clusters are density-connected regions
  * (any shape, count discovered not chosen) and sparse points become
  * explicit NOISE — for corpus curation that reads as "dense semantic
  * modes worth mixing, and the long tail that belongs to no mode".
  *
  * Relational formulation:
  *
  *  1. '''candidate pairs''' — each point lands in a grid cell of width
  *     `eps` on its first two coordinates; one side fans out to its 3×3
  *     neighbor cells, the other keeps its home cell, so an equi-join on
  *     the cell key yields every pair with `|Δx₀|, |Δx₁| ≤ eps` exactly
  *     once (a necessary condition for `‖a−b‖ ≤ eps` — a pure prune,
  *     never a miss). For near-normalized vectors with a large `eps` the
  *     2-coordinate grid prunes modestly — at corpus scale the candidate
  *     generator composes with the IVF/sign-LSH bucketing already in
  *     [[Similarity]]/[[graft.dedup.Dedup]] (same SemDeDup trade);
  *     correctness here never depends on the prune, only the join size.
  *  2. '''verify''' — exact 64-dim squared distance (sequential
  *     `aggregate` fold, deterministic summation order) against `eps²`.
  *  3. '''cores''' — neighbor count (self included) `≥ minPts`.
  *  4. '''clusters''' — connected components over CORE-CORE eps-edges
  *     ([[graft.dedup.ConnectedComponents]], min-id labels); an isolated
  *     core is its own cluster (label = its id).
  *  5. '''borders''' — non-core points adopt the MINIMUM cluster label
  *     among their core neighbors (the deterministic tie-break for the
  *     classically order-dependent border assignment); everything else
  *     is noise, cluster −1.
  *
  * Scale shape: one cell-keyed shuffle for candidates, one id-keyed
  * neighbor-count aggregate, CC on the (much smaller) core-core edge
  * set, one broadcast-sized label decoration back. Output is one row
  * per point: `(id, role, cluster)`, role ∈ {core, border, noise}.
  */
object Dbscan {

  /** Squared Euclidean distance between two float-array columns — the
    * native codegen'd expression (left-to-right accumulation; a
    * `zip_with`+`aggregate` fold would be CodegenFallback and drop the
    * whole verify stage to interpreted mode). */
  private def sqDist(a: Column, b: Column): Column =
    call_function(graft.functions.SqEuclidean.Name, a, b)

  def cluster(df: DataFrame, idCol: String, vecCol: String,
              eps: Double, minPts: Int): DataFrame = {
    require(eps > 0, s"eps must be positive: $eps")
    require(minPts >= 1, s"minPts must be >= 1: $minPts")
    val pts = graft.operators.Spread.widen(
      df.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"),
        floor(element_at(col(vecCol), 1).cast("double") / eps).as("cx"),
        floor(element_at(col(vecCol), 2).cast("double") / eps).as("cy")),
      col("id"))
    val probe = pts.select(col("id"), col("v"),
        explode(sequence(lit(-1), lit(1))).as("dx"), col("cx"), col("cy"))
      .select(col("id"), col("v"), (col("cx") + col("dx")).as("cx"),
        explode(sequence(lit(-1), lit(1))).as("dy"), col("cy"))
      .select(col("id"), col("v"), col("cx"), (col("cy") + col("dy")).as("cy"))
    val pairs = probe.alias("a")
      .join(pts.alias("b"), col("a.cx") === col("b.cx") &&
        col("a.cy") === col("b.cy") && col("a.id") < col("b.id"))
      .where(sqDist(col("a.v"), col("b.v")) <= lit(eps * eps))
      .select(col("a.id").as("ia"), col("b.id").as("ib"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val degrees = pairs.select(col("ia").as("id"))
      .unionAll(pairs.select(col("ib").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("__d"))
    val cores = pts.select(col("id"))
      .join(degrees, Seq("id"), "left")
      .where(coalesce(col("__d"), lit(0L)) + 1 >= minPts)
      .select(col("id"))
    val coreEdges = pairs
      .join(cores.select(col("id").as("ia")), "ia")
      .join(cores.select(col("id").as("ib")), "ib")
      .select(col("ia").as("a"), col("ib").as("b"))
    val comps = graft.dedup.ConnectedComponents
      .components(coreEdges, "a", "b")
      .select(col("id"), col("component"))
    // isolated cores (no core neighbor) label themselves
    val coreLabels = cores.join(comps, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("cluster"))
    val borderLabels = pairs
      .select(col("ia").as("id"), col("ib").as("nb"))
      .unionAll(pairs.select(col("ib").as("id"), col("ia").as("nb")))
      .join(cores.select(col("id").as("nb")), "nb")
      .join(coreLabels.select(col("id").as("nb"), col("cluster")), "nb")
      .join(cores.select(col("id"), lit(1).as("__is_core")), Seq("id"), "left_anti")
      .groupBy(col("id")).agg(min(col("cluster")).as("cluster"))
    val labeled = coreLabels.select(col("id"), lit("core").as("role"), col("cluster"))
      .unionAll(borderLabels.select(col("id"), lit("border").as("role"),
        col("cluster")))
    pts.select(col("id"))
      .join(labeled, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("role"), lit("noise")).as("role"),
        coalesce(col("cluster"), lit(-1L)).as("cluster"))
      .orderBy(col("id"))
  }
}
