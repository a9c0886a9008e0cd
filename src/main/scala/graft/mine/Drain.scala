package graft.mine

import scala.collection.mutable

/** A mined event template: the engine's `Dataset[EventTemplate]` row
  * (SURVEY.md §1.1 "Cluster / event template"). */
case class EventTemplate(eventId: Long, size: Long, template: String)

/** Online log-template mining — a from-scratch Scala implementation of the
  * Drain fixed-depth-prefix-tree clustering algorithm (He, Zhu, He, Lyu:
  * "Drain: An Online Log Parsing Approach with Fixed Depth Tree", ICWS
  * 2017), with the streaming refinements popularized by the open-source
  * Drain3 library that the reference drives (`process_logs_v10.py:59-81`,
  * M1 in SURVEY.md §2.6):
  *
  *  - level 0 of the tree keys on token count, levels 1..depth-2 key on the
  *    leading tokens (digit-bearing tokens routed through the `<*>` child;
  *    a `maxChildren` cap funnels overflow tokens into `<*>`);
  *  - leaves hold candidate clusters; the best candidate by position-wise
  *    token similarity wins if it clears `simTh`, else a new cluster is
  *    born;
  *  - a match generalizes the stored template: positions that disagree
  *    become the `<*>` wildcard;
  *  - `maxClusters > 0` bounds state with LRU eviction (stale ids are
  *    lazily skipped during matching, like the original).
  *
  * The structure is deliberately driver/executor-agnostic and
  * Java-serializable: exact mode runs one tree over a totally-ordered
  * single partition (bit-for-bit reference fidelity); parallel mode runs
  * one tree per partition and [[DrainTree.merge]]s them pairwise (the
  * 100 TB path — see [[TemplateMining]]).
  */
final class DrainTree(
    val depth: Int = 4,
    val simTh: Double = 0.4,
    val maxChildren: Int = 100,
    val maxClusters: Int = 0,
    val paramStr: String = "<*>",
    val parametrizeNumericTokens: Boolean = true) extends Serializable {

  import DrainTree.{Cluster, Node}

  /** Token levels below the token-count level: `depth - 2` as in the paper
    * (depth counts the root and the leaf cluster list). */
  private val maxNodeDepth = depth - 2

  private val root = new Node
  private var counter = 0L

  /** Access-ordered when `maxClusters > 0`, so that eviction is
    * least-recently-USED, not least-recently-created. Unbounded trees keep
    * insertion order: an access-ordered `get` relinks the map, and a
    * broadcast tree is probed by every executor thread at once. */
  private val idToCluster = new java.util.LinkedHashMap[java.lang.Long, Cluster](64, 0.75f, maxClusters > 0) {
    override def removeEldestEntry(e: java.util.Map.Entry[java.lang.Long, Cluster]): Boolean =
      maxClusters > 0 && size() > maxClusters
  }

  def clusterCount: Int = idToCluster.size()

  def nextId(): Long = { counter += 1; counter }

  private def tokenize(content: String): Array[String] = {
    val t = content.trim
    if (t.isEmpty) Array.empty[String] else t.split("\\s+")
  }

  private def hasNumbers(s: String): Boolean = {
    var i = 0
    while (i < s.length) { if (Character.isDigit(s.charAt(i))) return true; i += 1 }
    false
  }

  /** Position-wise similarity of a stored template vs incoming tokens.
    * Wildcard positions are skipped (and counted as matches only when
    * `includeParams` — the read-only `matchLine` path). Returns
    * (similarity, wildcardCount). */
  private def seqDistance(template: Array[String], tokens: Array[String],
                          includeParams: Boolean): (Double, Int) = {
    var sim = 0; var params = 0; var i = 0
    while (i < template.length) {
      if (template(i) == paramStr) params += 1
      else if (template(i) == tokens(i)) sim += 1
      i += 1
    }
    val total = if (includeParams) sim + params else sim
    (total.toDouble / template.length, params)
  }

  private def fastMatch(candidateIds: mutable.ArrayBuffer[Long], tokens: Array[String],
                        includeParams: Boolean): Cluster = {
    var best: Cluster = null
    var bestSim = -1.0
    var bestParams = -1
    var i = 0
    while (i < candidateIds.length) {
      val c = idToCluster.get(candidateIds(i)) // stale (evicted) ids skip
      if (c != null && c.templateTokens.length == tokens.length) {
        val (sim, params) = seqDistance(c.templateTokens, tokens, includeParams)
        if (sim > bestSim || (sim == bestSim && params > bestParams)) {
          bestSim = sim; bestParams = params; best = c
        }
      }
      i += 1
    }
    if (bestSim >= simTh) best else null
  }

  private def treeSearch(tokens: Array[String], includeParams: Boolean): Cluster = {
    val lenNode = root.children.getOrElse(tokens.length.toString, null)
    if (lenNode == null) return null
    if (tokens.isEmpty)
      return if (lenNode.clusterIds.nonEmpty) idToCluster.get(lenNode.clusterIds.head) else null
    var cur = lenNode
    var depthNow = 1
    var i = 0
    var done = false
    while (!done && i < tokens.length) {
      if (depthNow >= maxNodeDepth || depthNow == tokens.length) done = true
      else {
        val token = tokens(i)
        var next = cur.children.getOrElse(token, null)
        if (next == null) next = cur.children.getOrElse(paramStr, null)
        if (next == null) return null
        cur = next
        depthNow += 1
        i += 1
      }
    }
    fastMatch(cur.clusterIds, tokens, includeParams)
  }

  private def addSeqToPrefixTree(cluster: Cluster): Unit = {
    val tokens = cluster.templateTokens
    val lenNode = root.children.getOrElseUpdate(tokens.length.toString, new Node)
    if (tokens.isEmpty) { lenNode.clusterIds = mutable.ArrayBuffer(cluster.id); return }
    var cur = lenNode
    var depthNow = 1
    var i = 0
    var done = false
    while (!done) {
      if (depthNow >= maxNodeDepth || depthNow >= tokens.length) {
        // leaf: drop stale ids, then register
        val alive = cur.clusterIds.filter(id => idToCluster.containsKey(id))
        alive += cluster.id
        cur.clusterIds = alive
        done = true
      } else {
        val token = tokens(i)
        cur.children.get(token) match {
          case Some(next) => cur = next
          case None =>
            if (parametrizeNumericTokens && hasNumbers(token)) {
              cur = cur.children.getOrElseUpdate(paramStr, new Node)
            } else if (cur.children.contains(paramStr)) {
              if (cur.children.size < maxChildren) {
                val n = new Node; cur.children(token) = n; cur = n
              } else cur = cur.children(paramStr)
            } else {
              if (cur.children.size + 1 < maxChildren) {
                val n = new Node; cur.children(token) = n; cur = n
              } else if (cur.children.size + 1 == maxChildren) {
                val n = new Node; cur.children(paramStr) = n; cur = n
              } else cur = cur.children.getOrElseUpdate(paramStr, new Node)
            }
        }
        depthNow += 1
        i += 1
      }
    }
  }

  /** Position-wise generalization: positions where the incoming tokens
    * disagree with the template become wildcards. */
  private def generalize(tokens: Array[String], template: Array[String]): Array[String] = {
    val out = template.clone()
    var i = 0
    while (i < template.length) {
      if (tokens(i) != template(i)) out(i) = paramStr
      i += 1
    }
    out
  }

  /** M1: online update with one line. Returns (clusterId, changeType) where
    * changeType ∈ cluster_created | cluster_template_changed | none. */
  def addLogMessage(content: String): (Long, String) = addWeighted(content, 1L)

  /** Weighted update — identical routing/similarity semantics, but the
    * matched/created cluster's size grows by `weight`. Lets [[merge]]
    * replay a whole cluster in one step. */
  def addWeighted(content: String, weight: Long): (Long, String) = {
    val tokens = tokenize(content)
    val matched = treeSearch(tokens, includeParams = false)
    if (matched == null) {
      val c = new Cluster(nextId(), tokens, weight)
      idToCluster.put(c.id, c)
      addSeqToPrefixTree(c)
      (c.id, "cluster_created")
    } else {
      val newTemplate = generalize(tokens, matched.templateTokens)
      val changed = !java.util.Arrays.equals(
        newTemplate.asInstanceOf[Array[AnyRef]],
        matched.templateTokens.asInstanceOf[Array[AnyRef]])
      if (changed) matched.templateTokens = newTemplate
      matched.size += weight
      idToCluster.get(matched.id) // LRU touch
      (matched.id, if (changed) "cluster_template_changed" else "none")
    }
  }

  /** J1: read-only probe — which cluster owns this line? Wildcards count
    * as matching positions (the Drain3 `match()` semantics). Returns the
    * cluster id or -1 (the engine keeps unmatched lines with a null event
    * id — SURVEY.md §2.8). Thread-safe ONLY if `maxClusters == 0`: the
    * cluster map is then insertion-ordered and a probe writes nothing. */
  def matchLine(content: String): Long = {
    val tokens = tokenize(content)
    val c = treeSearch(tokens, includeParams = true)
    if (c == null) -1L else c.id
  }

  /** Snapshot of mined clusters, ascending id (matches the reference's
    * `template_miner.drain.clusters` dump order, `process_logs_v10.py:149`). */
  def clusters: Seq[EventTemplate] = {
    val out = mutable.ArrayBuffer.empty[EventTemplate]
    val it = idToCluster.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val c = e.getValue
      out += EventTemplate(c.id, c.size, c.templateTokens.mkString(" "))
    }
    out.sortBy(_.eventId).toSeq
  }

  /** M4 state restore: insert a persisted cluster VERBATIM — no similarity
    * search, no generalization — reconstructing the tree from a saved
    * `Dataset[EventTemplate]` (the batch analog of the reference's
    * `drain3_state.bin` snapshot, `process_logs_v10.py:39,120`). */
  def restore(t: EventTemplate): Unit = {
    val c = new Cluster(t.eventId, tokenize(t.template), t.size)
    idToCluster.put(c.id, c)
    addSeqToPrefixTree(c)
    if (t.eventId > counter) counter = t.eventId
  }

  /** Parallel-mode combine: replay `other`'s clusters (ascending id, so the
    * replay order is the order they were first seen in that partition) into
    * this tree, weight-preserving. Commutative up to cluster ids and
    * borderline-similarity template splits; the golden/property tests bound
    * the divergence (SURVEY.md §7.4). */
  def merge(other: DrainTree): DrainTree = {
    other.clusters.foreach { t => addWeighted(t.template, t.size) }
    this
  }

  def totalSize: Long = {
    var s = 0L
    val it = idToCluster.values().iterator()
    while (it.hasNext) s += it.next().size
    s
  }
}

object DrainTree {
  private[mine] final class Node extends Serializable {
    val children: mutable.HashMap[String, Node] = mutable.HashMap.empty
    var clusterIds: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty
  }

  private[mine] final class Cluster(
      val id: Long,
      var templateTokens: Array[String],
      var size: Long) extends Serializable
}
