package logbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics

import graft.GraftSession

trait Workload {
  /** Untimed work between input generation and warm-up. */
  def prepare(check: Check): Unit = ()
  /** One complete pass over the workload's inputs; returns op latencies. */
  def pass(p: Int, check: Check): Seq[Double]
  def logLinesPerPass: Double
  /** Untimed passes before the timed ones. */
  def warmupPasses: Int = 2
  def inputs: Map[String, Any]
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case s: Seq[_] => s.map(value).mkString("[", ",", "]")
    case null => "null"
    case o => str(o.toString)
  }
}

/** JVM side of the benchmark: one workload, one seed, closed loop with one
  * client. Prints one `LOGBENCH_RESULT {json}` line with raw samples; the
  * Python runner turns it into the metrics.
  *
  * Args: --workload W --seed N --seconds S --trace 0|1 --run-dir D, and
  * --lines N --files N for `log_pipeline` or --data-dir D for `query_mix`. */
object Main {
  /** Timed passes always run, even past `--seconds`. */
  private val MinTimed = 2

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val runDir = new File(opt("run-dir"))
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = GraftSession.builder("logbench")
      .config("spark.sql.warehouse.dir", new File(runDir, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tr = new Tracer(spark, traced)
    val check = new Check
    val w: Workload = workload match {
      case "log_pipeline" =>
        new LogPipeline(spark, tr, runDir, seed, opt("lines").toInt, opt("files").toInt)
      case "query_mix" =>
        new QueryMix(spark, tr, runDir, seed, opt("data-dir"))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    w.prepare(check)

    // warm-up: a fixed number of whole passes (see README: passes keep
    // speeding up for longer than the run budget allows, so the residual
    // trend over the timed passes is reported instead)
    val warm = (1 to w.warmupPasses).map { i =>
      val t0 = System.nanoTime()
      w.pass(-i, check)
      (System.nanoTime() - t0) / 1e9 - check.takeSeconds()
    }
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    // timed: closed loop, whole passes; the last one starts only if it fits
    val ops = mutable.ArrayBuffer.empty[Double]
    val passes = mutable.ArrayBuffer.empty[Double]
    val tracedPasses = mutable.ArrayBuffer.empty[Int]
    val tracedWall = mutable.ArrayBuffer.empty[Double]
    val untracedWall = mutable.ArrayBuffer.empty[Double]
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val jit = ManagementFactory.getCompilationMXBean
    val t0 = System.nanoTime()
    var p = 0
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (p < MinTimed || elapsed + passes.takeRight(2).sum / 2 <= seconds) {
      // a traced run alternates untraced and traced passes: the difference is the overhead
      tr.active = traced && p % 2 == 1
      val gc0 = gcBeans.map(_.getCollectionTime).sum
      val gcn0 = gcBeans.map(_.getCollectionCount).sum
      val jit0 = jit.getTotalCompilationTime
      val cg0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val ms0 = System.currentTimeMillis()
      val s0 = System.nanoTime()
      tr.beginPass(p)
      val o = w.pass(p, check)
      val wall = (System.nanoTime() - s0) / 1e9 - check.takeSeconds()
      tr.count("jvm.gc_s", (gcBeans.map(_.getCollectionTime).sum - gc0) / 1000.0)
      tr.count("jvm.gc_count", (gcBeans.map(_.getCollectionCount).sum - gcn0).toDouble)
      tr.count("jvm.jit_s", (jit.getTotalCompilationTime - jit0) / 1000.0)
      tr.count("jvm.codegen_count", (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0).toDouble)
      tr.endPass(ms0, (wall * 1e9).toLong)
      if (tr.active) { tracedPasses += p; tracedWall += wall } else untracedWall += wall
      tr.active = false
      ops ++= o
      passes += o.filterNot(_.isNaN).sum
      p += 1
    }
    val measuredS = elapsed

    // live heap: the context cleaner drops broadcast and shuffle blocks only
    // after their references are collected, so collect, let it run, repeat;
    // then read what the heap pools held after the last collection
    spark.catalog.clearCache()
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    val heapMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).flatMap(p => Option(p.getCollectionUsage))
      .map(_.getUsed).sum / 1048576.0

    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed,
      "setup_s" -> setupS, "warmup_passes" -> warm.size, "warmup_s" -> warm.toSeq,
      "measured_s" -> measuredS, "op_s" -> ops.toSeq, "pass_s" -> passes.toSeq,
      "heap_live_mb" -> heapMb, "attempted" -> check.attempted, "failed" -> check.failed,
      "errors" -> check.errors.toSeq.take(20), "inputs" -> w.inputs)
    if (traced) {
      val mean = (xs: Seq[Double]) => xs.sum / xs.size
      val m = mutable.LinkedHashMap.empty[String, Double]
      m ++= tr.layerMetrics(tracedPasses.toSeq, w.logLinesPerPass)
      m("mine.match_ratio") = tr.counterMean(tracedPasses.toSeq, "mine.matched_lines") /
        tr.counterMean(tracedPasses.toSeq, "mine.lines")
      Seq("mine.templates", "mine.tree_kb", "mine.collect_s", "entry.plan_s",
          "entry.exchanges", "jvm.gc_s", "jvm.gc_count", "jvm.jit_s", "jvm.codegen_count")
        .foreach(k => m(k) = tr.counterMean(tracedPasses.toSeq, k))
      val tracedMean = mean(tracedWall.toSeq)
      m("trace.pass_s") = tracedMean
      m("trace.untraced_pass_s") = mean(untracedWall.toSeq)
      m("trace.overhead_s") = tracedMean - mean(untracedWall.toSeq)
      m("trace.unattributed_s") = tracedMean - Layers.all.map(l => m(s"$l.wall_s")).sum
      result("trace") = m.toMap
      result("trace_json") = new File(runDir, "trace.json").getPath
      java.nio.file.Files.writeString(new File(runDir, "trace.json").toPath,
        s"""{"workload":${Json.str(workload)},"seed":$seed,"metrics":${Json.value(m.toMap)},"trace":${tr.json()}}""")
    }
    spark.stop()
    println("LOGBENCH_RESULT " + Json.value(result.toMap))
  }
}
