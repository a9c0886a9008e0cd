package logbench

import java.io.File
import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.logs.{LogLines, LogSource}
import graft.mine.{EventTemplate, TemplateMining}
import graft.operators.EventMatrix
import graft.sources.Sinks

/** `query_mix`: the interactive surface, where per-job and per-task cost
  * dominates. One pass is a cycle over a fixed sample of oracled
  * `SparkEntry.queries`, with incremental log-batch ingests against a
  * persisted template table spread through it. The seed draws the batches;
  * the sample and the cycle order are fixed. */
final class QueryMix(spark: SparkSession, tr: Tracer, runDir: File, seed: Long,
                     dataDir: String) extends Workload {
  import QueryMix._

  private val resultDir = new File(runDir, "results")
  private val batchRoot = new File(runDir, "batches")
  private val stateRoot = new File(runDir, "state")
  private val digests = mutable.Map.empty[String, String]
  private var batch = 0
  private var stateVersion = -1
  private var ingested = 0L

  def inputs: Map[String, Any] = Map("data_dir" -> dataDir, "queries" -> sample.size,
    "batches_per_cycle" -> cycle.count(_.isEmpty), "batch_lines" -> BatchLines)

  def logLinesPerPass: Double = cycle.count(_.isEmpty) * BatchLines.toDouble

  /** The first cycle already ran in [[prepare]]. */
  override def warmupPasses: Int = 1

  /** Run each query once, keep the digest of its result, and write the
    * same rows as parquet for the DuckDB oracle check: every later run must
    * reproduce the digest. */
  override def prepare(check: Check): Unit = {
    resultDir.mkdirs()
    sample.foreach { case (name, _) =>
      check.op {
        val t0 = System.nanoTime()
        val df = graft.SparkEntry.queries(name)(spark, dataDir)
        val rows = df.collect()
        val dt = (System.nanoTime() - t0) / 1e9
        digests(name) = Check.digest(df.columns.toSeq, rows)
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
          .coalesce(1).write.mode("overwrite").parquet(new File(resultDir, name).getPath)
        dt
      }
    }
    val sql = sample.map { case (name, _) =>
      s"${Json.str(name)}:${Json.str(graft.SparkEntry.oracleSql(name))}"
    }.mkString("{", ",", "}")
    java.nio.file.Files.writeString(new File(resultDir, "oracle_sql.json").toPath, sql)
    // the first batch seeds the template state the mix's ingests extend
    check.op(ingest(check))
  }

  def pass(p: Int, check: Check): Seq[Double] =
    cycle.map {
      case Some((name, layer)) => check.op {
        val r = Query.run(spark, tr, name, layer, dataDir)
        check.time {
          val d = Check.digest(r.columns, r.rows)
          check.that(s"$name reproduces its oracle-checked result", digests.get(name).contains(d))
        }
        r.seconds
      }
      case None => check.op(ingest(check))
    }

  /** One incremental batch: load the template state, match the new lines,
    * mine the unmatched ones, and persist the union as the next state. */
  private def ingest(check: Check): Double = {
    val b = batch
    batch += 1
    val dir = new File(batchRoot, s"batch-$b")
    val lines = Corpus.writeBatch(new File(dir, "container_01.log"), seed, b, BatchLines)
    val t0 = System.nanoTime()
    val cleaned = tr.span("logs", "LogLines.clean", logInput = true) {
      LogSource.readLogDir(spark, dir.getPath).select(LogLines.clean(col("value")).as("line"))
    }
    val known: Seq[EventTemplate] =
      if (stateVersion < 0) Nil
      else {
        val state = tr.span("sources", "Sinks.loadTemplates") {
          Sinks.loadTemplates(spark, new File(stateRoot, s"v$stateVersion").getPath)
        }
        val c0 = System.nanoTime()
        val ts = tr.span("mine", "collect") { state.collect().toSeq }
        tr.count("mine.collect_s", (System.nanoTime() - c0) / 1e9)
        ts
      }
    val c1 = System.nanoTime()
    val tree = tr.span("mine", "TemplateMining.treeFromTemplates") { TemplateMining.treeFromTemplates(known) }
    tr.count("mine.collect_s", (System.nanoTime() - c1) / 1e9)
    if (tr.active) tr.count("mine.tree_kb", Check.serializedBytes(tree) / 1024.0)
    val matched = tr.span("mine", "TemplateMining.matchLines", logInput = true) {
      TemplateMining.matchLines(cleaned, "line", tree)
    }
    val hits = tr.span("operators", "EventMatrix.counts", logInput = true) {
      EventMatrix.counts(matched, "eventId").collect()
        .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0)) -> r.getLong(1)).toMap
    }
    val unmatched = hits.getOrElse(-1L, 0L)
    val fresh = tr.span("mine", "TemplateMining.mineParallel", logInput = true) {
      TemplateMining.mineParallel(matched.filter(col("eventId").isNull), "line").collect().toSeq
    }
    val maxId = if (known.isEmpty) 0L else known.map(_.eventId).max
    val union = known.map(t => t.copy(size = t.size + hits.getOrElse(t.eventId, 0L))) ++
      fresh.map(t => t.copy(eventId = t.eventId + maxId))
    val next = new File(stateRoot, s"v${stateVersion + 1}").getPath
    tr.span("sources", "Sinks.saveTemplates") {
      import spark.implicits._
      Sinks.saveTemplates(spark.createDataset(union), next)
    }
    val dt = (System.nanoTime() - t0) / 1e9
    stateVersion += 1
    ingested += lines
    tr.gauge("mine.templates", union.size)
    tr.count("mine.matched_lines", lines - unmatched)
    tr.count("mine.lines", lines)
    check.time {
      check.equal(s"batch $b matched + unmatched lines", hits.values.sum, lines)
      check.equal(s"batch $b mined sizes", fresh.map(_.size).sum, unmatched)
      check.equal(s"template state size after batch $b", union.map(_.size).sum, ingested)
      check.that(s"template state after batch $b within the vocabulary", union.size <= Corpus.trueTemplates)
      // the previous state is no longer read
      if (stateVersion >= 2) deleteTree(new File(stateRoot, s"v${stateVersion - 2}"))
      deleteTree(dir)
    }
    dt
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

object QueryMix {
  val BatchLines = 3000

  /** The fixed sample, each query with the layer its execution is charged
    * to (packages outside the seven layers — dedup, graph — and plain
    * DataFrame queries count as `operators`). The split follows the
    * committed sf0.1 bench (`BENCH_FULL.json`, seconds in brackets): ten
    * floor queries, under 1 s there, and five heavier ones, over 1 s there,
    * one each from the join, window, dedup, graph and ML families. All
    * fifteen have DuckDB oracle SQL. */
  val floor: Seq[(String, String)] = Seq(
    "q04_topk" -> "operators",            // 0.23
    "q06_event_counts" -> "operators",    // 0.40
    "q11_clean_text" -> "logs",           // 0.47
    "q41_sql_surface" -> "operators",     // 0.31
    "q264_confusion" -> "analyze",        // 0.19
    "q301_grubbs" -> "analyze",           // 0.21
    "q03_join_agg" -> "operators",        // 0.76
    "q14_anti_join" -> "operators",       // 0.42
    "q07_window_rownum" -> "operators",   // 0.59
    "q18_dedup_exact" -> "operators")     // 0.41
  val heavy: Seq[(String, String)] = Seq(
    "q111_star_join" -> "operators",          // 1.29, join
    "q08_tumbling_window" -> "operators",     // 1.31, window
    "q416_dedup_spans_apply" -> "operators",  // 1.98, dedup
    "q132_triangles" -> "operators",          // 1.12, graph
    "q209_calibration" -> "ml")               // 1.03, ML
  val sample: Seq[(String, String)] = floor ++ heavy

  /** Batch ingests per cycle. */
  val Ingests = 5

  /** One cycle: two floor queries then a heavy one, five times over, with
    * the ingests spread evenly between the queries (`None` stands for an
    * ingest). */
  val cycle: Seq[Option[(String, String)]] = {
    val queries = floor.grouped(2).zip(heavy).flatMap { case (f, h) => f :+ h }.toSeq
    queries.zipWithIndex.flatMap { case (q, i) =>
      val due = (i + 1) * Ingests / queries.size - i * Ingests / queries.size
      Some(q) +: Seq.fill(due)(None)
    }
  }
}
