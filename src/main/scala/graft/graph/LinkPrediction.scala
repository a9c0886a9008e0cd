package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Structural graph statistics on an undirected edge list — degree
  * assortativity (Newman 2002: do hubs attach to hubs?) and Adamic-Adar
  * link prediction (Adamic & Adar 2003: which non-adjacent pairs share
  * the most — rarest — neighbors?). Completes the co-occurrence-graph
  * family next to triangles ([[Triangles]]) and k-core ([[KCore]]).
  *
  * Scale shape: everything is edge-list relational algebra — degree is
  * one count-aggregate over directed edge ends, assortativity one more
  * join + moment aggregate (exact DECIMAL sums, double only in the final
  * closed form), and Adamic-Adar expands wedges per CENTER node from its
  * sorted neighbor array (the same in-row pair lambda as the
  * co-occurrence builder), so the only shuffles are the neighbor-list
  * aggregate and the (u,v)-keyed score sum. Hub nodes make the wedge
  * expansion quadratic in their degree by definition — at corpus scale
  * callers cap or sample super-hub neighborhoods first (the standard
  * LSH-style guard); here the graphs are co-basket graphs whose degree
  * is bounded by catalog co-occurrence, not corpus size.
  *
  * Determinism: Adamic-Adar's per-wedge weight `1/ln(deg z)` is quantized
  * to a 12-dp long BEFORE the sum (deg is an integer, so the quantized
  * term is engine-identical), making the score an exact integer sum —
  * the top-k cut has no float-boundary risk and ties break on (u, v).
  */
object LinkPrediction {

  /** Distinct co-occurrence edges `(a, b)` with `a < b` from (group,
    * item) rows, kept only when the pair co-occurs in ≥ `minSupport`
    * groups: one shuffle on the group key, pair expansion inside the row
    * over the sorted distinct-item array (groups are basket-sized, so
    * the quadratic is per-row and tiny), then a pair-keyed support
    * count. `minSupport` is the density throttle that keeps the graph's
    * degree CO-OCCURRENCE-bounded, not corpus-bounded: at support 1 a
    * large basket corpus yields a near-clique of single-coincidence
    * edges whose wedge expansion is quadratic in a degree that grows
    * with corpus size — at support ≥ 2 the noise edges (the vast
    * majority under sparse random co-occurrence) vanish and downstream
    * wedge counts stay flat as the corpus scales. */
  def coOccurrenceEdges(df: DataFrame, groupCol: String,
                        itemCol: String, minSupport: Long = 1L): DataFrame = {
    // Self-join formulation, everything inside whole-stage codegen.
    // HashPartitioning(g) satisfies the dedup aggregate's
    // ClusteredDistribution(g, i) AND both join sides' requirement, so
    // dropDuplicates and the equi-join add no exchanges of their own. A
    // collect_set + native-pair-explode variant was measured SLOWER
    // (3.9 s vs 2.7 s at sf0.1): ObjectHashAggregate's per-group array
    // buffers plus per-pair struct boxing feed the support count generic
    // rows, where the join's UnsafeRow output keeps the count agg
    // codegen'd. Scale: the per-basket quadratic is identical by
    // definition, but here a pathological hot basket is an
    // AQE-splittable skewed JOIN key, not one unsplittable aggregation
    // buffer row.
    // NOTE on the dedup aggregate's two consumers (self-join probe +
    // build sides): AQE reuses the repartition EXCHANGE but replays the
    // dedup aggregate once per consumer. A post-dedup re-exchange that
    // every consumer reads (the ItemSimilarity.topPairs shape, where
    // FOUR consumers make it pay) was tried here in round 14 and
    // REVERTED: with only two consumers the extra shuffle's stage
    // barrier cost more wall than the replay it saved — paired 6-run
    // A/B medians at sf0.1 read 0.90–0.94× across the seven
    // coOccurrenceEdges callers (q219/q220/q257/q278/q287/q288/q305),
    // and the replayed dedup overlaps on otherwise-idle cores anyway.
    val it = df.select(col(groupCol).as("g"), col(itemCol).as("i"))
      .repartition(col("g"))
      .dropDuplicates("g", "i")
    it.alias("x").join(it.alias("y"),
        col("x.g") === col("y.g") && col("x.i") < col("y.i"))
      .groupBy(col("x.i").as("a"), col("y.i").as("b"))
      .agg(count(lit(1)).as("__supp"))
      .where(col("__supp") >= minSupport)
      .select(col("a"), col("b"))
  }

  /** Both orientations of a distinct `(a, b)` edge list: 2|E| directed
    * ends `(x, y)`. In-row explode, NOT a union of two projections: a
    * union makes the edge list a two-consumer subtree, and every
    * consumer of an aggregate re-runs the aggregate (exchange reuse
    * dedupes the shuffle write, never the post-shuffle agg) — profiled
    * as the support aggregate replaying once per orientation (2×1.2 M
    * rows, q220 r13). The explode keeps the whole derivation a
    * single-consumer chain: one narrow row-doubling map, zero extra
    * plan subtrees. */
  private def directedEnds(edges: DataFrame): DataFrame =
    edges
      .select(explode(array(
        struct(col("a").as("x"), col("b").as("y")),
        struct(col("b").as("x"), col("a").as("y")))).as("e"))
      .select(col("e.x").as("x"), col("e.y").as("y"))

  /** Degree assortativity coefficient: Pearson correlation of the degree
    * pairs at the two ends of every directed edge end (each undirected
    * edge counted in both orientations, the standard convention). One
    * row `(n_ends, assortativity)`; moments are exact DECIMAL sums, the
    * closed form runs in double over those exact integers. NULL when the
    * graph is degree-regular (zero variance). */
  def degreeAssortativity(edges: DataFrame): DataFrame = {
    // SINGLE-CONSUMER chain, no checkpoint, no broadcasts: with the
    // explode-form directedEnds the end list is derived from the edge
    // aggregation exactly once by construction, and the two end degrees
    // are WINDOW counts over the (edge-bounded) end list rather than a
    // degree-table broadcast join. The round-13 shape (eager edge
    // checkpoint + two broadcast degree joins) ran the derivation once
    // too, but paid a materialization barrier plus two broadcast-build
    // jobs — 10 jobs, 1.1 s of driver gaps at sf0.1, and a committed
    // 0.78× bench REGRESSION vs the round-12 union form (VERDICT r13
    // item 2). Here everything is one action: derivation → explode →
    // two edge-bounded window shuffles → moment aggregate. deg(x) =
    // count of directed ends anchored at x = the window count over x;
    // same for y. At 100 TB both window shuffles carry 2|E| rows of two
    // node ids — edge-bounded, AQE-sized.
    val w = org.apache.spark.sql.expressions.Window
    val pairs = directedEnds(edges)
      .select(
        count(lit(1)).over(w.partitionBy(col("x"))).as("di"),
        count(lit(1)).over(w.partitionBy(col("y"))).as("dj"))
    def d19(c: Column) = c.cast("decimal(19,0)")
    pairs.agg(
        count(lit(1)).as("n_ends"),
        sum(d19(col("di"))).as("__sx"), sum(d19(col("dj"))).as("__sy"),
        sum(d19(col("di")) * d19(col("di"))).as("__sxx"),
        sum(d19(col("dj")) * d19(col("dj"))).as("__syy"),
        sum(d19(col("di")) * d19(col("dj"))).as("__sxy"))
      .select(col("n_ends"), round({
        val n = col("n_ends").cast("double")
        val sx = col("__sx").cast("double"); val sy = col("__sy").cast("double")
        val cov = n * col("__sxy").cast("double") - sx * sy
        val va = n * col("__sxx").cast("double") - sx * sx
        val vb = n * col("__syy").cast("double") - sy * sy
        when(va > 0 && vb > 0, cov / sqrt(va * vb))
      }, 6).as("assortativity"))
  }

  /** Adamic-Adar link prediction: top-`k` NON-adjacent pairs by
    * `AA(u,v) = Σ_{z ∈ N(u)∩N(v)} 1/ln(deg z)` — common neighbors,
    * discounted by how promiscuous each shared neighbor is. Wedges are
    * expanded per center z from its sorted neighbor array; each wedge
    * carries the 12-dp-quantized weight of ITS CENTER, so the (u,v) sum
    * is exact and the ranking deterministic. Existing edges are removed
    * by marker rows fused into the score aggregate (same (u, v) key —
    * set-equivalent to a left-anti join, one fewer pass). Output
    * `(u, v, common, aa_score)` ordered by score desc, then (u, v). */
  def adamicAdar(edges: DataFrame, k: Int): DataFrame = {
    // The edge list is consumed exactly TWICE — the neighbor-list
    // aggregate (single explode chain, see directedEnds) and the
    // adjacency-marker rows below — the structural minimum for AA
    // (edges are both the wedge source and the exclusion set). The
    // round-13 shape consumed it three times (two union orientations +
    // a left-anti probe side) and replayed the support aggregate per
    // consumer (profiled 3×1.2 M rows at sf0.1); checkpointing was
    // measured slower still (the barrier serialized the overlap).
    //
    // Non-adjacency exclusion is FUSED into the wedge-score aggregate:
    // wedge pairs and edges share the (u, v) key with u < v on both
    // sides (SortedPairs emits a < b; the edge list is a < b distinct),
    // so a marker row per edge and a `max(flag) = 0` filter after the
    // existing groupBy is exactly the left-anti join — minus its
    // broadcast build job and its third replay of the edge derivation.
    val e = edges
    val nbrs = directedEnds(e)
      .groupBy(col("x").as("z"))
      .agg(sort_array(collect_set(col("y"))).as("ns"))
      .where(size(col("ns")) >= 2)
    val wedges = nbrs
      .select(
        round(lit(1e12) / log(size(col("ns")).cast("double"))).cast("long")
          .as("__w12"),
        explode(call_function(
          graft.functions.SortedPairs.Name, col("ns"))).as("p"))
      .select(col("p.a").as("u"), col("p.b").as("v"), col("__w12"),
        lit(0).as("__edge"))
    val marked = wedges.unionAll(
      e.select(col("a").as("u"), col("b").as("v"), lit(0L).as("__w12"),
        lit(1).as("__edge")))
    marked.groupBy(col("u"), col("v"))
      .agg(count(when(col("__edge") === 0, 1)).as("common"),
        sum(col("__w12")).as("__s12"),
        max(col("__edge")).as("__adj"))
      .where(col("__adj") === 0)
      .select(col("u"), col("v"), col("common"),
        round(col("__s12").cast("double") / 1e12, 6).as("aa_score"))
      .orderBy(desc("aa_score"), col("u"), col("v"))
      .limit(k)
  }
}
