package logbench

import java.io.File

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.analyze.{CorrPrune, StratifiedSplit}
import graft.logs.{LogLines, LogSource}
import graft.mine.TemplateMining
import graft.ml.Models
import graft.operators.{EventMatrix, Positional}
import graft.sources.Sinks

/** `log_pipeline`: the paper's whole program over a generated corpus, one
  * pass per operation: scan → clean → mine → persist / reload the template
  * state → collect → tree → match → counts → 5-line tumbling features over
  * the top events plus the FATAL target → correlation pruning → stratified
  * split → logistic regression → binary metrics. The pass ends with the
  * registered form of the same pipeline (`q47_log_pipeline`, through
  * `SparkEntry.queries`) over a documents table cut from the corpus. */
final class LogPipeline(spark: SparkSession, tr: Tracer, runDir: File, seed: Long,
                        lines: Int, files: Int) extends Workload {
  private val corpusDir = new File(runDir, "corpus")
  private val docsDir = new File(runDir, "docs")
  private val stateRoot = new File(runDir, "state")
  val truth: Corpus.Truth = Corpus.write(corpusDir, seed, lines, files)
  val docs: Long = writeDocs()
  /** Mined template count may differ from the generated vocabulary by this share. */
  val templateTolerance = 0.02
  private val topEvents = 8

  def inputs: Map[String, Any] = Map("lines" -> truth.lines, "files" -> truth.files,
    "decoys" -> truth.decoys, "fatal_lines" -> truth.fatalLines,
    "continuation_lines" -> truth.continuationLines, "true_templates" -> Corpus.trueTemplates,
    "windows" -> truth.windows, "positive_windows" -> truth.positiveWindows, "documents" -> docs)

  def logLinesPerPass: Double = truth.lines.toDouble

  /** Every 20th line of each container file as a `documents` table for the
    * registry query. */
  private def writeDocs(): Long = {
    import spark.implicits._
    val files = Corpus.containerFiles(corpusDir)
    val texts = files.flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().zipWithIndex.collect { case (l, i) if i % 20 == 0 => l }.toVector
      finally src.close()
    }
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(new File(docsDir, "documents.parquet").getPath)
    texts.size.toLong
  }

  def pass(p: Int, check: Check): Seq[Double] = Seq(check.op(run(p, check)))

  private def run(p: Int, check: Check): Double = {
    val t0 = System.nanoTime()
    val raw = tr.span("logs", "LogSource.readLogDir", logInput = true) {
      LogSource.readLogDir(spark, corpusDir.getPath)
    }
    val cleaned = tr.span("logs", "LogLines.clean", logInput = true) {
      raw.select(col("file"), monotonically_increasing_id().as("pos"),
        LogLines.clean(col("value")).as("line"))
    }
    // Spark fuses scan + clean into the mining stage; the traced run times
    // the logs layer alone with a noop-sink action over the cleaned lines
    if (tr.active) tr.span("logs", "noop-sink probe", logInput = true, probe = true) {
      cleaned.write.mode("overwrite").format("noop").save()
    }
    val mined = tr.span("mine", "TemplateMining.mineParallel", logInput = true) {
      TemplateMining.mineParallel(cleaned, "line")
    }
    val statePath = new File(stateRoot, s"templates-$p").getPath
    tr.span("sources", "Sinks.saveTemplates") { Sinks.saveTemplates(mined, statePath) }
    val state = tr.span("sources", "Sinks.loadTemplates") { Sinks.loadTemplates(spark, statePath) }
    val c0 = System.nanoTime()
    val (templates, tree) = tr.span("mine", "collect + treeFromTemplates") {
      val ts = state.collect().toSeq
      (ts, TemplateMining.treeFromTemplates(ts))
    }
    tr.count("mine.collect_s", (System.nanoTime() - c0) / 1e9)
    if (tr.active) tr.count("mine.tree_kb", Check.serializedBytes(tree) / 1024.0)
    val matched = tr.span("mine", "TemplateMining.matchLines", logInput = true) {
      TemplateMining.matchLines(cleaned, "line", tree)
    }
    if (tr.active) tr.span("mine", "noop-sink probe", logInput = true, probe = true) {
      matched.write.mode("overwrite").format("noop").save()
    }
    val dist = tr.span("operators", "EventMatrix.failureDistribution", logInput = true) {
      EventMatrix.failureDistribution(matched, "eventId").collect()
    }
    val fatalIds = templates.filter(_.template.startsWith("FATAL ")).map(_.eventId).toSet
    val cnt = dist.map(r => (if (r.isNullAt(0)) -1L else r.getLong(0)) -> r.getLong(1)).toMap
    val unmatched = cnt.getOrElse(-1L, 0L)
    tr.gauge("mine.templates", templates.size)
    tr.count("mine.matched_lines", truth.lines - unmatched)
    tr.count("mine.lines", truth.lines)
    check.time {
      check.equal("sum of event counts", cnt.values.sum, truth.lines)
      check.equal("sum of mined template sizes", templates.map(_.size).sum, truth.lines)
      check.within("mined templates", templates.size, Corpus.trueTemplates, templateTolerance)
      check.equal("FATAL line count", fatalIds.toSeq.map(cnt.getOrElse(_, 0L)).sum, truth.fatalLines)
    }

    val top = cnt.toSeq.filter { case (id, _) => id >= 0 && !fatalIds(id) }
      .sortBy { case (id, c) => (-c, id) }.take(topEvents).map(_._1)
    val eventCols = top.map(id => s"e$id")
    val windows = tr.span("operators", "Positional.tumbling", logInput = true) {
      val flagged = matched.select(
        (Seq(col("file"), col("pos")) ++
          top.map(id => when(col("eventId") === id, 1.0).otherwise(0.0).as(s"e$id")) :+
          coalesce(col("eventId").isin(fatalIds.toSeq: _*), lit(false)).cast("int").as("fatal")): _*)
      Positional.tumbling(flagged, Seq(col("file"), col("pos")), 5)
        .groupBy(col("window_id"))
        .agg(max(col("fatal")).as("label"), eventCols.map(c => sum(col(c)).as(c)): _*)
    }
    val pruned = tr.span("analyze", "CorrPrune.prune") { CorrPrune.prune(windows, eventCols, 0.9) }
    val kept = eventCols.filter(pruned.columns.contains)
    val assembled = tr.span("ml", "Models.assemble") { Models.assemble(pruned, kept, "label") }
    val (train, test) = tr.span("analyze", "StratifiedSplit.twoWay") {
      StratifiedSplit.twoWay(assembled, "label", "window_id", 0.8)
    }
    val model = tr.span("ml", "Models.fitLogisticRegression") { Models.fitLogisticRegression(train, maxIter = 10) }
    val metrics = tr.span("ml", "Models.binaryMetrics") { Models.binaryMetrics(model.transform(test)).collect() }
    check.time {
      def byLabel(df: org.apache.spark.sql.DataFrame): Map[Double, Long] =
        df.groupBy("label").count().collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
      val (tr0, te0) = (byLabel(train), byLabel(test))
      val pos = truth.positiveWindows
      val neg = truth.windows - pos
      val trainPos = math.floor(pos * 0.8 + 0.5).toLong
      val trainNeg = math.floor(neg * 0.8 + 0.5).toLong
      check.equal("train positive windows", tr0.getOrElse(1.0, 0L), trainPos)
      check.equal("train negative windows", tr0.getOrElse(0.0, 0L), trainNeg)
      check.equal("test positive windows", te0.getOrElse(1.0, 0L), pos - trainPos)
      check.equal("test negative windows", te0.getOrElse(0.0, 0L), neg - trainNeg)
      check.equal("binary metrics rows", metrics.count(r => r.getString(0) != "auc"), 3L)
      check.that("metrics in [0, 1]", metrics.forall(r => r.isNullAt(1) || (r.getDouble(1) >= 0 && r.getDouble(1) <= 1)))
    }

    val q47 = Query.run(spark, tr, "q47_log_pipeline", "mine", docsDir.getPath)
    check.time {
      check.equal("q47 sum of counts", q47.rows.map(_.getLong(1)).sum, docs)
    }
    (System.nanoTime() - t0) / 1e9 - check.takeSeconds()
  }
}

/** One registry query. The `entry` layer covers the `SparkEntry.queries`
  * lookup, the query closure that builds the DataFrame, and planning to the
  * executed plan. Spark jobs that the closure runs while it builds (parquet
  * footer reads, and eager work such as q47's mining) are charged, with the
  * wall time they cover, to `layer`, the layer whose operator the query
  * runs; so is the execution. */
final case class QueryRun(columns: Seq[String], rows: Array[Row], seconds: Double)

object Query {
  def run(spark: SparkSession, tr: Tracer, name: String, layer: String, dir: String): QueryRun = {
    val t0 = System.nanoTime()
    val df = tr.span("entry", s"SparkEntry.queries($name)", eager = layer) {
      SparkEntry.queries(name)(spark, dir)
    }
    val planS = tr.span("entry", s"$name executedPlan", eager = layer) {
      val p0 = System.nanoTime()
      df.queryExecution.executedPlan
      (System.nanoTime() - p0) / 1e9
    }
    val rows = tr.span(layer, s"$name execute") { df.collect() }
    val dt = (System.nanoTime() - t0) / 1e9
    tr.count("entry.plan_s", planS)
    if (tr.active) {
      val ex = Check.exchanges(df.queryExecution.executedPlan)
      tr.count("entry.exchanges", ex.values.sum.toDouble)
      tr.note(name, ex)
    }
    QueryRun(df.columns.toSeq, rows, dt)
  }
}
