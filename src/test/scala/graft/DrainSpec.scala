package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.mine.{DrainConfig, DrainTree, EventTemplate, TemplateMining}

/** Golden + property tests for the Drain mining core (SURVEY.md §5.2).
  *
  * Golden: the reference committed `event_matrix.csv` — the cluster dump
  * of a run over the 1,282-line `hadoop_logs.txt` sample with library
  * defaults and raw (unpreprocessed) lines (`process_logs_v6.py:30`,
  * dump format `process_logs_v6.py:112-125`). Exact-mode mining must
  * reproduce its (id, size, template) rows bit-for-bit.
  */
object GoldenFixture {
  val logsPath = "/root/reference/hadoop_logs.txt"
  val goldenPath = "/root/reference/event_matrix.csv"

  def available: Boolean =
    new java.io.File(logsPath).isFile && new java.io.File(goldenPath).isFile

  def lines(): Seq[String] = {
    val src = scala.io.Source.fromFile(logsPath, "UTF-8")
    try src.getLines().toVector finally src.close()
  }

  /** Parse the v4/v6 stringified-LogCluster dump: one CSV field per row,
    * `ID=<n> : size=<n> : <template>`, CSV-quoted when it contains commas. */
  def golden(): Seq[EventTemplate] = {
    val src = scala.io.Source.fromFile(goldenPath, "UTF-8")
    val raw = try src.getLines().toVector finally src.close()
    val pat = """ID=(\d+)\s*: size=(\d+)\s*: (.*)""".r
    raw.drop(1).map { line =>
      val unq =
        if (line.startsWith("\"") && line.endsWith("\""))
          line.substring(1, line.length - 1).replace("\"\"", "\"")
        else line
      unq match {
        case pat(id, size, tpl) => EventTemplate(id.toLong, size.toLong, tpl.trim)
        case other => sys.error(s"unparseable golden row: $other")
      }
    }
  }
}

class DrainGoldenSpec extends AnyFunSuite {

  test("exact-mode tree reproduces the reference cluster dump (id, template) bit-for-bit") {
    assume(GoldenFixture.available)
    val tree = DrainConfig().newTree()
    GoldenFixture.lines().foreach(tree.addLogMessage)
    val mined = tree.clusters
    val golden = GoldenFixture.golden()
    assert(tree.totalSize == 1282L, "every line must be absorbed")
    assert(mined.size == golden.size,
      s"cluster count mined=${mined.size} golden=${golden.size}")
    mined.zip(golden).foreach { case (m, g) =>
      assert(m.eventId == g.eventId, s"cluster id mismatch: mined=$m golden=$g")
      assert(m.template == g.template, s"template mismatch at id ${m.eventId}:\n mined : ${m.template}\n golden: ${g.template}")
    }
  }

  /** The committed artifact accumulated state across the reference's manual
    * run history (drain3_state.bin persisted between executions): golden
    * total mass is 12,850 = 10 × 1,282 + 30. Ten replays of the sample
    * reproduce every cluster size except ids 1-4, whose +30 surplus came
    * from an extra partial run over a file not committed to the repo. */
  test("10 replays reproduce golden sizes (clusters 5..100 exact; 1-4 carry the known +30)") {
    assume(GoldenFixture.available)
    val tree = DrainConfig().newTree()
    (1 to 10).foreach(_ => GoldenFixture.lines().foreach(tree.addLogMessage))
    val golden = GoldenFixture.golden().map(t => t.eventId -> t).toMap
    val diffs = tree.clusters.flatMap { m =>
      val g = golden(m.eventId)
      if (g.size != m.size) Some(m.eventId -> (g.size - m.size)) else None
    }.toMap
    assert(diffs == Map(1L -> 10L, 2L -> 12L, 3L -> 5L, 4L -> 3L),
      s"unexpected size residue vs golden: $diffs")
  }

  test("exact-mode via the DataFrame operator matches the in-memory tree") {
    assume(GoldenFixture.available)
    val spark = TestSession.spark
    import spark.implicits._
    val df = GoldenFixture.lines().zipWithIndex.toDF("line", "idx")
    val mined = TemplateMining.mineExact(df, "line", Seq($"idx")).collect().sortBy(_.eventId)
    val tree = DrainConfig().newTree()
    GoldenFixture.lines().foreach(tree.addLogMessage)
    assert(mined.toSeq == tree.clusters)
  }

  test("parallel mode preserves mass and approximates the exact cluster set") {
    assume(GoldenFixture.available)
    val spark = TestSession.spark
    import spark.implicits._
    val df = GoldenFixture.lines().toDF("line")
    val mined = TemplateMining.mineParallel(df.repartition(8), "line").collect()
    assert(mined.map(_.size).sum == 1282L, "no line lost or double-counted")
    val exactCount = GoldenFixture.golden().size
    val ratio = mined.length.toDouble / exactCount
    assert(ratio > 0.5 && ratio < 2.0,
      s"parallel cluster count ${mined.length} diverges wildly from exact $exactCount")
  }
}

class DrainPropertySpec extends AnyFunSuite {

  private def mkLines(n: Int): Seq[String] =
    (0 until n).map(i => s"worker ${i % 7} finished task ${i} in ${i % 13} ms status ${if (i % 5 == 0) "FAIL" else "OK"}")

  test("merge preserves total size (mass conservation)") {
    val (a, b) = (DrainConfig().newTree(), DrainConfig().newTree())
    val lines = mkLines(500)
    lines.take(250).foreach(a.addLogMessage)
    lines.drop(250).foreach(b.addLogMessage)
    val merged = a.merge(b)
    assert(merged.totalSize == 500L)
  }

  test("merge is commutative on (template,size) mass up to generalization") {
    val lines = mkLines(400)
    def tree(ls: Seq[String]) = { val t = DrainConfig().newTree(); ls.foreach(t.addLogMessage); t }
    val ab = tree(lines.take(200)).merge(tree(lines.drop(200)))
    val ba = tree(lines.drop(200)).merge(tree(lines.take(200)))
    assert(ab.totalSize == ba.totalSize)
    assert(ab.clusterCount == ba.clusterCount)
  }

  test("matchLine finds the owning cluster for trained lines; total on garbage") {
    val t = DrainConfig().newTree()
    val lines = mkLines(100)
    lines.foreach(t.addLogMessage)
    assert(lines.forall(l => t.matchLine(l) > 0))
    assert(t.matchLine("completely unrelated line shape") == -1L)
    assert(t.matchLine("") == -1L)
  }

  test("probing an unbounded tree writes nothing: its serialized form is unchanged") {
    // a broadcast tree is probed by every executor thread at once, so a
    // probe must not relink the cluster map (an access-ordered map does,
    // and its iteration order, which serialization records, moves)
    val t = DrainConfig().newTree()
    val lines = Seq("alpha one", "beta two three", "gamma four five six")
    lines.foreach(t.addLogMessage)
    def bytes: Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream
      val oos = new java.io.ObjectOutputStream(out)
      oos.writeObject(t); oos.close()
      out.toByteArray
    }
    val before = bytes
    assert(lines.forall(l => t.matchLine(l) > 0))
    assert(t.matchLine(lines.head) > 0)
    assert(java.util.Arrays.equals(bytes, before), "a probe changed the tree's serialized form")
  }

  test("LRU cap bounds cluster state") {
    val t = new DrainTree(maxClusters = 10)
    (0 until 100).foreach(i => t.addLogMessage(s"unique_shape_$i with tail ${"x" * (i % 3)} ${"y" * (i % 7)} ${"z" * (i % 11)} pad$i end"))
    assert(t.clusterCount <= 10)
  }
}

class TemplateMiningSpec extends AnyFunSuite {
  test("exactMatchCounts: deterministic digit-mask equi-join — mass " +
       "conserved, ids dense by template order, partitioning-invariant") {
    val spark = TestSession.spark
    import spark.implicits._
    val rows = Seq(
      "task 17 started on host 3", "task 99 started on host 12",
      "task 5 started on host 3", "idle heartbeat ok",
      "idle heartbeat ok", "shutdown requested by admin")
    val df = rows.toDF("text")
    val got = TemplateMining.exactMatchCounts(df, "text")
      .as[(Long, String, Long)].collect().toSeq
    // 3 templates: digit tokens collapse the task lines into one
    assert(got.map(_._2) == got.map(_._2).sorted, "ids follow template order")
    assert(got.map(_._1) == (1L to got.length).toSeq, "dense ids")
    assert(got.map(_._3).sum == rows.length, "every line counted once")
    val byTemplate = got.map(g => g._2 -> g._3).toMap
    assert(byTemplate("task <*> started on host <*>") == 3L)
    assert(byTemplate("idle heartbeat ok") == 2L)
    // order-independence: same result from any partitioning
    val re = TemplateMining.exactMatchCounts(df.repartition(5), "text")
      .as[(Long, String, Long)].collect().toSeq
    assert(re == got)
  }
}
