package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Strongly-connected components of a DIRECTED graph — the cyclic-flow
  * sibling of [[graft.dedup.ConnectedComponents]] (which ignores
  * direction): user A→B→A interaction loops, mutual-citation rings,
  * template call cycles. Completes the graph family (CC, LPA, PageRank,
  * triangles, k-core).
  *
  * Two rungs, same contract as KCore/CC/LPA:
  *  - LOCAL FINISHER (the common case — a similarity/interaction graph
  *    that fits ≤2^17 edges): iterative Kosaraju (two explicit-stack DFS
  *    passes — no recursion, so a path graph can't blow the JVM stack);
  *  - DISTRIBUTED: FW-BW with trimming (Fleischer 2000; McLendon 2005):
  *    iteratively TRIM trivial SCCs (no in- or no out-edges inside the
  *    remainder — each is its own component), then take the minimum
  *    remaining id as pivot, BFS the forward and backward reachable sets
  *    by edge-frame joins (lineage truncated per wave), emit F∩B as one
  *    SCC, remove, repeat. Each round removes at least the pivot's SCC;
  *    rounds = #(nontrivial SCCs) + trim sweeps — fine for review-scale
  *    graphs, and anything smaller hits the local rung anyway.
  *
  * Output labels are the component's MINIMUM node id — deterministic
  * under any partitioning; the spec pins local ≡ distributed.
  */
object Scc {

  /** `(id, component)` for every node appearing in `edges` (directed
    * `src → dst`; self-loops dropped — a single node is trivially its
    * own SCC). */
  def components(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e0 = edges
      .select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull)
      .distinct()
    val localMax = spark.conf.getOption("graft.scc.localFinishEdges")
      .map(_.toLong).getOrElse(1L << 17)
    if (e0.count() <= localMax) return localKosaraju(e0)

    var g = truncate(e0.filter(col("u") =!= col("v")))
    val labeled = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val selfLoopNodes = e0.filter(col("u") === col("v")).select(col("u").as("id"))
    var remaining = g.select(col("u").as("id"))
      .unionAll(g.select(col("v").as("id")))
      .unionAll(selfLoopNodes).distinct()
    remaining = truncate(remaining)
    var n = remaining.count()
    while (n > 0) {
      // trim: nodes with no outgoing or no incoming edge in the remainder
      // are singleton SCCs
      val outs = g.select(col("u").as("id")).distinct()
      val ins = g.select(col("v").as("id")).distinct()
      val nontrivial = outs.join(ins, "id")
      val trivial = remaining.join(nontrivial, Seq("id"), "left_anti")
      if (trivial.count() > 0) {
        labeled += trivial.withColumn("component", col("id"))
        remaining = truncate(remaining.join(trivial, Seq("id"), "left_anti"))
        g = truncate(
          g.join(trivial.toDF("u"), Seq("u"), "left_anti")
            .join(trivial.toDF("v"), Seq("v"), "left_anti"))
        n = remaining.count()
      } else {
        val pivot = remaining.agg(min(col("id"))).head().getLong(0)
        val fwd = reach(g, pivot, "u", "v")
        val bwd = reach(g, pivot, "v", "u")
        val scc = fwd.join(bwd, "id")
        labeled += scc.withColumn("component", lit(pivot))
        remaining = truncate(remaining.join(scc, Seq("id"), "left_anti"))
        g = truncate(
          g.join(scc.toDF("u"), Seq("u"), "left_anti")
            .join(scc.toDF("v"), Seq("v"), "left_anti"))
        n = remaining.count()
      }
    }
    labeled.reduceOption(_ unionAll _)
      .map(lbls =>
        // components are labeled by pivot/self id; normalize to the MIN id
        // in each component so local ≡ distributed exactly
        lbls.groupBy(col("component")).agg(min(col("id")).as("__m"))
          .join(lbls, "component")
          .select(col("id"), col("__m").as("component")))
      .getOrElse(Seq.empty[(Long, Long)].toDF("id", "component"))
      .orderBy(col("id"))
  }

  /** BFS reachable set from `from` following `a`→`b` edges. */
  private def reach(g: DataFrame, from: Long, a: String, b: String): DataFrame = {
    val spark = g.sparkSession
    import spark.implicits._
    var visited = truncate(Seq(from).toDF("id"))
    var frontier = visited
    var grew = true
    while (grew) {
      val next = g.join(frontier.withColumnRenamed("id", a), a)
        .select(col(b).as("id")).distinct()
        .join(visited, Seq("id"), "left_anti")
      val c = next.count()
      if (c == 0) grew = false
      else {
        frontier = truncate(next)
        visited = truncate(visited.unionAll(frontier).distinct())
      }
    }
    visited
  }

  /** Iterative Kosaraju on a collected edge list. */
  private def localKosaraju(e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val pairs = e.as[(Long, Long)].collect()
    val nodes = (pairs.map(_._1) ++ pairs.map(_._2)).distinct.sorted
    val fwd = pairs.filter(p => p._1 != p._2).groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2) }
    val rev = pairs.filter(p => p._1 != p._2).groupBy(_._2)
      .map { case (k, v) => k -> v.map(_._1) }
    // pass 1: finish order via explicit-stack DFS on the forward graph
    val seen = scala.collection.mutable.HashSet.empty[Long]
    val order = scala.collection.mutable.ArrayBuffer.empty[Long]
    nodes.foreach { s =>
      if (!seen.contains(s)) {
        val stack = scala.collection.mutable.Stack[(Long, Int)]((s, 0))
        seen += s
        while (stack.nonEmpty) {
          val (node, i) = stack.pop()
          val succ = fwd.getOrElse(node, Array.empty[Long])
          var j = i
          while (j < succ.length && seen.contains(succ(j))) j += 1
          if (j < succ.length) {
            stack.push((node, j + 1)); stack.push((succ(j), 0)); seen += succ(j)
          } else order += node
        }
      }
    }
    // pass 2: reverse-graph DFS in reverse finish order
    val comp = scala.collection.mutable.HashMap.empty[Long, Long]
    order.reverseIterator.foreach { s =>
      if (!comp.contains(s)) {
        val members = scala.collection.mutable.ArrayBuffer.empty[Long]
        val stack = scala.collection.mutable.Stack[Long](s)
        comp(s) = s
        while (stack.nonEmpty) {
          val node = stack.pop(); members += node
          rev.getOrElse(node, Array.empty[Long]).foreach { p =>
            if (!comp.contains(p)) { comp(p) = s; stack.push(p) }
          }
        }
        val m = members.min // normalize label to the component minimum
        members.foreach(comp(_) = m)
      }
    }
    comp.toSeq.sortBy(_._1).toDF("id", "component")
  }

  private def truncate(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint()
}
