package graft.mine

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions.col

/** DataFrame-level mining operators (M1-M4 in SURVEY.md §2.6) and the
  * broadcast template matcher (J1, §2.4).
  *
  * Two execution modes, mirroring SURVEY §4.3:
  *
  *  - '''exact''': the algorithm is order-dependent, so reference-faithful
  *    output requires a total order on ONE partition. That is inherently a
  *    sequential tail — used for fidelity tests and small corpora, never
  *    the scale path.
  *  - '''parallel''': one tree per partition (embarrassingly parallel over
  *    the 100 TB scan), then a log-depth `treeReduce` of partition trees.
  *    Each tree is O(#clusters) — kilobytes, not data-sized — so the
  *    reduction moves trivial state. Cluster IDs are synthetic in this
  *    mode; (template, size) content is the stable surface.
  *
  * Matching (assignment of lines to a FIXED mined template set) is the
  * embarrassingly-parallel half of the pipeline: the tree is broadcast
  * once per executor and probed per line — a broadcast join in spirit,
  * with the prefix-tree probe playing the hash lookup.
  */
object TemplateMining {

  /** Exact (reference-faithful) mining: global sort on `order`, single
    * partition, one tree. */
  def mineExact(lines: DataFrame, lineCol: String, order: Seq[Column],
                config: DrainConfig = DrainConfig()): Dataset[EventTemplate] = {
    val spark = lines.sparkSession
    import spark.implicits._
    lines
      .select((col(lineCol).as("line") +: order.zipWithIndex.map { case (c, i) => c.as(s"__o$i") }): _*)
      .repartition(1)
      .sortWithinPartitions(order.indices.map(i => col(s"__o$i")): _*)
      .select(col("line")).as[String]
      .mapPartitions { it =>
        val tree = config.newTree()
        it.foreach(l => tree.addLogMessage(if (l == null) "" else l))
        tree.clusters.iterator
      }
  }

  /** Parallel mining: per-partition trees merged pairwise. `repartitionTo`
    * (0 = keep input partitioning) controls the fan-in; at cluster scale
    * the input partitioning (one task per scan split) is what you want. */
  def mineParallel(lines: DataFrame, lineCol: String,
                   config: DrainConfig = DrainConfig(),
                   repartitionTo: Int = 0): Dataset[EventTemplate] = {
    val spark = lines.sparkSession
    import spark.implicits._
    val src = if (repartitionTo > 0) lines.repartition(repartitionTo) else lines
    val trees = src.select(col(lineCol)).as[String].rdd
      .mapPartitions { it =>
        val tree = config.newTree()
        it.foreach(l => tree.addLogMessage(if (l == null) "" else l))
        Iterator.single(tree)
      }
    val merged =
      if (trees.getNumPartitions == 0) config.newTree()
      else trees.treeReduce((a, b) => a.merge(b), depth = 3)
    spark.createDataset(merged.clusters)
  }

  /** Build a probe tree from a mined template table (e.g. a persisted
    * `Dataset[EventTemplate]` — M4's batch state store). Clusters are
    * restored VERBATIM: ids, sizes and templates survive a
    * save → restore → match round-trip unchanged. */
  def treeFromTemplates(templates: Seq[EventTemplate], config: DrainConfig = DrainConfig()): DrainTree = {
    val tree = config.newTree()
    templates.sortBy(_.eventId).foreach(tree.restore)
    tree
  }

  /** J1 as a DETERMINISTIC equi-join on a precomputed eventId key — the
    * oracle-able variant SURVEY §2.4 promises. The template key is the
    * line with digit-bearing tokens masked to `<*>` (Drain's
    * `parametrizeNumericTokens` as a pure, order-independent string
    * transform: no similarity clustering, so two engines agree exactly);
    * the template table assigns dense ids in template order; matching is
    * a broadcast equi-join on the key. Returns `(event_id, template,
    * cnt)` ordered by id. The single-partition row_number window runs on
    * the DISTINCT-template frame only — bounded by template-vocabulary
    * size, never corpus-sized. */
  def exactMatchCounts(lines: DataFrame, lineCol: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val tmpl = array_join(
      transform(split(trim(col(lineCol)), "\\s+"),
        t => when(t.rlike("\\d"), lit("<*>")).otherwise(t)), " ")
    val keyed = lines.select(tmpl.as("template"))
    val templates = keyed.distinct()
      .withColumn("event_id", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("template")))
        .cast("long"))
    keyed.join(broadcast(templates), "template")
      .groupBy(col("event_id"), col("template"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("event_id"))
  }

  /** J1: assign each line its owning template id by probing a broadcast
    * tree. Unmatched lines keep a null `eventId` (total function —
    * SURVEY.md §2.8). Output = input columns + `eventId`. */
  def matchLines(lines: DataFrame, lineCol: String, tree: DrainTree): DataFrame = {
    val spark = lines.sparkSession
    val bc = spark.sparkContext.broadcast(tree)
    val matchUdf = org.apache.spark.sql.functions.udf { (s: String) =>
      val id = bc.value.matchLine(if (s == null) "" else s)
      if (id < 0) None else Some(id)
    }
    lines.withColumn("eventId", matchUdf(col(lineCol)))
  }
}

/** Mining configuration — reference defaults (`drain3.ini`, mirrored at
  * `process_logs_v10.py:8-17`): tree depth 4, similarity 0.4, 100
  * children per node. DELIBERATE DEVIATION: the reference caps clusters
  * at 10000 (`max_clusters=10000`) with LRU eviction; the engine defaults
  * to UNBOUNDED (`maxClusters = 0`) because the LRU touch makes a bounded
  * tree mutate on probe — unsafe for the broadcast matcher's concurrent
  * executor threads. Behavior is identical until the 10001st cluster (its
  * corpora mine ~1.1k); set `maxClusters = 10000` explicitly for
  * reference-faithful eviction in single-threaded mining. */
case class DrainConfig(
    depth: Int = 4,
    simTh: Double = 0.4,
    maxChildren: Int = 100,
    maxClusters: Int = 0,
    parametrizeNumericTokens: Boolean = true) {
  def newTree(): DrainTree =
    new DrainTree(depth, simTh, maxChildren, maxClusters,
      parametrizeNumericTokens = parametrizeNumericTokens)
}
