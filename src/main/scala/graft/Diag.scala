package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.ListenerBusDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions.{col, concat, lit}
import scala.collection.mutable

import graft.dedup.{ChunkDedup, Dedup, SubstringDedup}
import graft.sources.Tables

/** Diagnostics main, not part of the driver contract:
  *
  * {{{
  *   graft.Diag profile <q,...> [sfDir]
  *   graft.Diag plans <outDir> [q,...] [sfDir]
  *   graft.Diag scale [rep] [sfDir]
  * }}}
  *
  * `sfDir` defaults to `SPARK_GRAFT_SF_DIR`, then sf0.1; `plans` with no
  * names (or `''`) dumps every registered query. Each mode is a function
  * of a session; `main` only parses the arguments and owns the session. */
object Diag {
  private val Usage =
    "usage: Diag profile <q,...> [sfDir] | plans <outDir> [q,...] [sfDir] | scale [rep] [sfDir]"

  def main(args: Array[String]): Unit = {
    def sfDir(i: Int): String = args.lift(i)
      .getOrElse(sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    def names(i: Int): Seq[String] =
      args.lift(i).toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    val mode: SparkSession => Unit = args.toSeq match {
      case Seq("profile", _, _*) => profile(_, names(1), sfDir(2))
      case Seq("plans", outDir, _*) => plans(_, outDir, names(2), sfDir(3))
      case Seq("scale", _*) => scale(_, args.lift(1).fold(10)(_.toInt), sfDir(2))
      case _ => sys.error(Usage)
    }
    val spark = GraftSession.builder("graft-diag").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try mode(spark) finally spark.stop()
  }

  final case class Job(id: Int, site: String, tasks: Int, start: Long, end: Long)
  final case class Stage(id: Int, name: String, tasks: Int, wallMs: Long,
                         cpuMs: Long, runMs: Long, inRows: Long, outRows: Long,
                         shuffleReadBytes: Long, shuffleWriteBytes: Long,
                         shuffleWriteRows: Long)

  /** Jobs and completed stages of one measured window (see `measure`). */
  final class RunMetrics extends SparkListener {
    val jobs = mutable.LinkedHashMap.empty[Int, Job]
    val stages = mutable.ArrayBuffer.empty[Stage]
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val site = Option(e.properties)
        .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("?")
      jobs(e.jobId) = Job(e.jobId, site, e.stageInfos.map(_.numTasks).sum, e.time, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(end = e.time))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      stages += Stage(si.stageId, si.name.takeWhile(_ != '\n'), si.numTasks,
        (for { a <- si.completionTime; b <- si.submissionTime } yield a - b).getOrElse(-1L),
        m.executorCpuTime / 1000000L, m.executorRunTime,
        m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead,
        m.outputMetrics.recordsWritten + m.shuffleWriteMetrics.recordsWritten,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleWriteMetrics.recordsWritten)
    }
  }

  /** Runs `body` with a [[RunMetrics]] listening. The bus is drained before
    * the listener is added, so no earlier event lands in the window, and
    * again before it is read; the listener is removed when `body` ends. */
  private def measure[T](spark: SparkSession)(body: => T): (T, RunMetrics) = {
    val sc = spark.sparkContext
    val metrics = new RunMetrics
    ListenerBusDrain(sc)
    sc.addSparkListener(metrics)
    try {
      val out = body
      ListenerBusDrain(sc)
      (out, metrics)
    } finally sc.removeSparkListener(metrics)
  }

  private def lookup(names: Seq[String]): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = SparkEntry.queries
    val unknown = names.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    names.map(n => n -> all(n))
  }

  /** Where each named query's seconds go: runs it the way a `Bench` child
    * does (warm pass, then the timed run at `sfDir`) and prints both walls,
    * every job of the timed run (wall, gap after the previous job, tasks,
    * call site), the whole-stage codegen classes it compiled, and its 15
    * busiest stages. After the warm pass a query should compile next to
    * nothing; a high count means the codegen cache is thrashing (see
    * `GraftSession`). With `SPARK_GRAFT_BENCH_WARM_DIR` set to `sfDir` the
    * two walls are a cold/warm pair. Returns each query's metrics. */
  def profile(spark: SparkSession, names: Seq[String], sfDir: String): Seq[(String, RunMetrics)] = {
    require(names.nonEmpty, Usage)
    lookup(names).map { case (name, fn) =>
      val warmS = QueryRun.warm(fn(spark, _))
      val cg0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val cgNs0 = CodeGenerator.compileTime
      val ((total, failure), m) = measure(spark)(QueryRun.timed(fn(spark, sfDir)))
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0
      val compileS = (CodeGenerator.compileTime - cgNs0) / 1e9
      QueryRun.hygiene(spark)
      val warm = warmS.fold("-")(s => f"$s%.3f s")
      println(f"%nPROFILE $name  sf=$sfDir  warm=$warm  total=$total%.3f s" +
        failure.fold("")(e => s"  FAILED: ${e.getMessage}"))
      println(f"${"job"}%4s ${"secs"}%8s ${"gap"}%8s ${"tasks"}%6s  site")
      var prevEnd = 0L
      m.jobs.values.foreach { j =>
        val gap = if (prevEnd == 0L) 0.0 else (j.start - prevEnd) / 1e3
        prevEnd = j.end
        println(f"${j.id}%4d ${(j.end - j.start) / 1e3}%8.3f $gap%8.3f ${j.tasks}%6d  ${j.site}")
      }
      val jobSum = m.jobs.values.map(j => (j.end - j.start) / 1e3).sum
      println(f"jobs=${m.jobs.size}  jobSum=$jobSum%.3f s  driverGaps=${total - jobSum}%.3f s")
      println(f"codegen: $compiled classes compiled, $compileS%.3f s compile time")
      println(f"%n${"stage"}%6s ${"wall"}%7s ${"cpu"}%7s ${"run"}%7s ${"tasks"}%6s ${"inRows"}%9s ${"outRows"}%9s  name")
      m.stages.sortBy(-_.runMs).take(15).foreach { s =>
        println(f"${s.id}%6d ${s.wallMs / 1e3}%7.3f ${s.cpuMs / 1e3}%7.3f ${s.runMs / 1e3}%7.3f ${s.tasks}%6d ${s.inRows}%9d ${s.outRows}%9d  ${s.name.take(60)}")
      }
      (name, m)
    }
  }

  /** Writes `explainString(FormattedMode)` of each named query (every
    * registered query when `names` is empty) to `<outDir>/<query>.txt`, so
    * plan-shape claims are checkable without running Spark. A query whose
    * plan fails to build is reported and skipped. */
  def plans(spark: SparkSession, outDir: String, names: Seq[String], sfDir: String): Unit = {
    val queries = if (names.isEmpty) SparkEntry.queries.toSeq.sortBy(_._1) else lookup(names)
    val dir = Files.createDirectories(Paths.get(outDir))
    queries.foreach { case (name, fn) =>
      try {
        val out = dir.resolve(s"$name.txt")
        Files.writeString(out, fn(spark, sfDir).queryExecution.explainString(FormattedMode))
        println(s"[plans] wrote $out")
      } catch { case e: Exception =>
        System.err.println(s"[plans] $name failed: ${e.getMessage}")
      }
    }
  }

  /** Scale probe for the flagship dedup chain: q24 MinHash-LSH, q69 chunk
    * dedup and the q415/q416 substring-dedup chain over the `sfDir`
    * documents corpus at 1x and at a synthetic `rep`x replication (doc_id
    * re-keyed deterministically at runtime, text untouched, built in-plan
    * from the parquet input on every run, nothing persisted). Prints wall
    * seconds and total shuffle bytes and rows per run, so shuffle-byte
    * scaling is observable. */
  def scale(spark: SparkSession, rep: Int, sfDir: String): Unit = {
    // `k` replicas of the corpus: doc_id re-keyed per replica, and each
    // replica's text given `tokens`, each suffixed with the replica number.
    // One unique token breaks EXACT-duplicate groups across replicas (a
    // replica pair still reads ~n/(n+2) token Jaccard, so the ≥0.9 MinHash
    // output legitimately grows quadratically in replica count — a data
    // property, reported as such; the claim under test is the BAND/DIGEST
    // shuffle, which must stay linear). Four push a pair's Jaccard to
    // ~n/(n+8) < 0.9 for the ~23-token docs here, so the ≥0.9 OUTPUT stays
    // ~1×-sized and the q24 run measures the band/signature shuffle alone.
    def replicas(tokens: String*)(k: Int): DataFrame = {
      val d = Tables.documents(spark, sfDir)
      if (k == 1) d
      else d.crossJoin(
          spark.range(0, k).select(col("id").cast("long").as("__r")))
        .withColumn("doc_id", col("doc_id") * k + col("__r"))
        .withColumn("text",
          concat(col("text") +: tokens.flatMap(t => Seq(lit(s" $t"), col("__r"))): _*))
        .drop("__r")
    }
    val docsAt: Int => DataFrame = replicas("xqz")
    val minHash: DataFrame => DataFrame = d => Dedup.minHashLshPairs(d, "doc_id",
      "text", numHashes = 64, shingleN = 1, bands = 8, threshold = 0.9, portable = true)
    // the replicated corpus must not ride the LocalJaccard-style small
    // gates; none of these four operators has one, so no conf is needed.
    val runs = Seq[(String, DataFrame => DataFrame, Int => DataFrame)](
      ("q24_minhash", minHash, docsAt),
      ("q69_chunk_dedup", d => ChunkDedup.docDupStats(d, "doc_id", "text", 8, 0.3), docsAt),
      ("q415_dup_spans", d => SubstringDedup.duplicatedSpans(d, "doc_id", "text", 20), docsAt),
      ("q416_spans_apply",
        d => SubstringDedup.removeDuplicatedSpans(d, "doc_id", "text", 20), docsAt),
      ("q24_minhash_disj", minHash, replicas("xqza", "yqwb", "zqec", "wqrd") _))
    for ((name, fn, corpus) <- runs; k <- Seq(1, rep)) {
      // a missing warm corpus must be visible, not silently skew the
      // 1x vs rep x comparison by charging codegen to the 1x run
      if (QueryRun.warm(dir => fn(Tables.documents(spark, dir))).isEmpty)
        System.err.println(s"[scale] WARM PASS FAILED for $name (${QueryRun.warmDir})" +
          " — 1x wall will include codegen cost")
      QueryRun.hygiene(spark)
      val ((dt, failure), m) = measure(spark)(QueryRun.timed(fn(corpus(k))))
      failure.foreach(e => throw e)
      val read = m.stages.map(_.shuffleReadBytes).sum
      val write = m.stages.map(_.shuffleWriteBytes).sum
      println(f"[scale] $name%-18s x$k%-3d wall=$dt%7.2f s shufWrite=${write / 1048576.0}%9.2f MiB shufRead=${read / 1048576.0}%9.2f MiB shufRows=${m.stages.map(_.shuffleWriteRows).sum}%,d")
    }
  }
}
