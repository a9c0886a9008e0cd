package logbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** The engine's modules as the benchmark sees them. */
object Layers {
  val all: Seq[String] = Seq("logs", "mine", "operators", "analyze", "ml", "sources", "entry")
}

/** One call into a layer: the benchmark brackets each public call it makes.
  * A span with an `eager` layer is charged to that layer instead if any
  * Spark job ran inside it (a query closure that executes while it builds
  * its DataFrame). */
final case class Span(id: Int, name: String, layer: String, parent: Int, pass: Int,
                      startMs: Long, endMs: Long, wallNs: Long, probe: Boolean, eager: String)

/** Spark work attributed through the `logbench.*` local properties that the
  * open span set on the driver thread when the job was submitted. */
final class JobRec(var layer: String, val span: Int, val pass: Int, val probe: Boolean,
                   val logInput: Boolean, val startMs: Long, val stageIds: Seq[Int]) {
  @volatile var endMs: Long = -1L
}

final class StageAcc {
  val tasks = new AtomicLong
  val cpuNs = new AtomicLong
  val shuffleBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val outputBytes = new AtomicLong
  val recordsRead = new AtomicLong
  @volatile var completed = false
  @volatile var scansFiles = false
}

/** Listener the benchmark attaches itself; no engine code changes. */
final class LayerListener extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageAcc]()
  private val events = new AtomicLong

  def eventCount: Long = events.get()

  private def stage(id: Int): StageAcc = stages.computeIfAbsent(id, _ => new StageAcc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String): Option[String] = p.flatMap(x => Option(x.getProperty(k)))
    jobs.put(e.jobId, new JobRec(prop("logbench.layer").getOrElse("none"),
      prop("logbench.span").map(_.toInt).getOrElse(-1), prop("logbench.pass").map(_.toInt).getOrElse(-1),
      prop("logbench.probe").contains("1"), prop("logbench.logInput").contains("1"),
      e.time, e.stageIds))
    events.incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    events.incrementAndGet()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = stage(e.stageInfo.stageId)
    s.completed = true
    s.scansFiles = e.stageInfo.rddInfos.exists(_.name.contains("FileScanRDD"))
    events.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stage(e.stageId)
    s.tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      s.cpuNs.addAndGet(m.executorCpuTime + m.executorDeserializeCpuTime)
      s.shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
      s.spillBytes.addAndGet(m.diskBytesSpilled)
      s.outputBytes.addAndGet(m.outputMetrics.bytesWritten)
      s.recordsRead.addAndGet(m.inputMetrics.recordsRead)
    }
    events.incrementAndGet()
  }

  /** Block until every started job has ended and no event arrived for a
    * short quiet period (the listener bus is asynchronous). */
  def drain(timeoutMs: Long = 20000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var last = -1L
    while (System.currentTimeMillis() < deadline &&
           (last != eventCount || jobs.values.asScala.exists(_.endMs < 0))) {
      last = eventCount
      Thread.sleep(100)
    }
  }
}

/** Spans around the benchmark's calls into each layer. While a pass is not
  * traced a span only runs its body; in a traced pass it records the span and
  * tags the Spark jobs submitted inside it, so the listener can attribute
  * them. The listener is attached only in a traced run (`enabled`). */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  val listener: Option[LayerListener] =
    if (enabled) { val l = new LayerListener; sc.addSparkListener(l); Some(l) } else None
  /** Whether the current pass is traced. */
  var active = false
  val spans = mutable.ArrayBuffer.empty[Span]
  /** Named counters measured at layer boundaries, per pass. */
  val counters = mutable.Map.empty[(Int, String), Double]
  /** Plan fingerprint per query, from the traced passes. */
  val fingerprints = mutable.LinkedHashMap.empty[String, Map[String, Int]]
  private var nextId = 1
  private var pass = -1
  private var passSpan = 0

  /** Open a pass (one complete unit of work: a pipeline run or a mix cycle). */
  def beginPass(p: Int): Unit = if (active) {
    pass = p
    passSpan = nextId
    nextId += 1
    sc.setLocalProperty("logbench.pass", p.toString)
  }

  def endPass(startMs: Long, wallNs: Long): Unit = if (active) {
    spans += Span(passSpan, s"pass-$pass", "pass", 0, pass, startMs, startMs + wallNs / 1000000, wallNs,
      probe = false, eager = "")
    sc.setLocalProperty("logbench.pass", null)
  }

  def note(query: String, exchanges: Map[String, Int]): Unit = fingerprints(query) = exchanges

  /** Add to a per-pass counter. */
  def count(name: String, v: Double): Unit = if (active) counters((pass, name)) = counters.getOrElse((pass, name), 0.0) + v

  /** Set a per-pass value (the last one in the pass wins). */
  def gauge(name: String, v: Double): Unit = if (active) counters((pass, name)) = v

  def span[T](layer: String, name: String, logInput: Boolean = false, probe: Boolean = false,
              eager: String = "")(body: => T): T =
    if (!active) body
    else {
      require(Layers.all.contains(layer), s"unknown layer $layer")
      require(eager.isEmpty || Layers.all.contains(eager), s"unknown layer $eager")
      val id = nextId
      nextId += 1
      sc.setLocalProperty("logbench.layer", layer)
      sc.setLocalProperty("logbench.span", id.toString)
      sc.setLocalProperty("logbench.logInput", if (logInput) "1" else "0")
      sc.setLocalProperty("logbench.probe", if (probe) "1" else "0")
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val dt = System.nanoTime() - t0
        spans += Span(id, name, layer, passSpan, pass, ms0, System.currentTimeMillis(), dt, probe, eager)
        Seq("logbench.layer", "logbench.span", "logbench.logInput", "logbench.probe")
          .foreach(sc.setLocalProperty(_, null))
      }
    }

  /** Split each span with an `eager` layer that ran Spark jobs: the jobs,
    * and the wall time they cover, go to that layer; the rest of the span
    * (driver-side work with no job running) stays where it was. */
  private def resolveEager(l: LayerListener): Unit = {
    val bySpan = l.jobs.values.asScala.groupBy(_.span)
    val split = spans.toSeq.filter(_.eager.nonEmpty).flatMap { s =>
      bySpan.get(s.id).map { js =>
        js.foreach(_.layer = s.eager)
        val coveredNs = math.min(s.wallNs,
          coveredMs(js.toSeq.map(j => (j.startMs, j.endMs)), s.startMs, s.endMs) * 1000000L)
        nextId += 1
        s.id -> Seq(s.copy(wallNs = s.wallNs - coveredNs),
          s.copy(id = nextId - 1, name = s.name + " (jobs)", layer = s.eager, wallNs = coveredNs))
      }
    }.toMap
    val kept = spans.toSeq.flatMap(s => split.getOrElse(s.id, Seq(s)))
    spans.clear()
    spans ++= kept
  }

  /** Milliseconds of [from, to] during which at least one interval runs. */
  private def coveredMs(intervals: Seq[(Long, Long)], from: Long, to: Long): Long = {
    val iv = intervals.filter { case (a, b) => b >= 0 && b > from && a < to }
      .map { case (a, b) => (math.max(a, from), math.min(b, to)) }.sortBy(_._1)
    var covered = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (a, b) =>
      if (a > curE) { covered += curE - curS; curS = a; curE = b } else curE = math.max(curE, b)
    }
    covered + curE - curS
  }

  /** Per-layer metrics, averaged over the traced passes so that layer wall
    * times plus the unattributed remainder add up to the traced pass time. */
  def layerMetrics(passes: Seq[Int], logLinesPerPass: Double): Map[String, Double] = {
    val l = listener.get
    l.drain()
    resolveEager(l)
    val n = passes.size.toDouble
    val ps = passes.toSet
    val jobs = l.jobs.values.asScala.toSeq.filter(j => ps(j.pass))
    val out = mutable.LinkedHashMap.empty[String, Double]
    Layers.all.foreach { layer =>
      val sp = spans.filter(s => s.layer == layer && ps(s.pass)).toSeq
      val js = jobs.filter(_.layer == layer)
      val st = js.flatMap(_.stageIds).distinct.flatMap(id => Option(l.stages.get(id)))
      def sum(f: StageAcc => Long): Double = st.map(f).sum.toDouble
      // time inside the layer's spans while none of its jobs ran
      val gapMs = sp.map { s =>
        math.max(0.0, s.wallNs / 1e6 - coveredMs(js.map(j => (j.startMs, j.endMs)), s.startMs, s.endMs))
      }.sum
      out(s"$layer.wall_s") = sp.map(_.wallNs).sum / 1e9 / n
      out(s"$layer.jobs") = js.size / n
      out(s"$layer.stages") = st.count(_.completed) / n
      out(s"$layer.tasks") = sum(_.tasks.get) / n
      out(s"$layer.cpu_s") = sum(_.cpuNs.get) / 1e9 / n
      out(s"$layer.shuffle_mb") = sum(_.shuffleBytes.get) / 1048576.0 / n
      out(s"$layer.spill_mb") = sum(_.spillBytes.get) / 1048576.0 / n
      out(s"$layer.driver_gap_s") = gapMs / 1000.0 / n
    }
    val scanStages = jobs.filter(j => j.logInput && !j.probe).flatMap(_.stageIds).distinct
      .flatMap(id => Option(l.stages.get(id))).filter(_.scansFiles)
    out("logs.scan_ratio") = scanStages.map(_.recordsRead.get).sum / (logLinesPerPass * n)
    val srcStages = jobs.filter(_.layer == "sources").flatMap(_.stageIds).distinct.flatMap(id => Option(l.stages.get(id)))
    out("sources.write_mb") = srcStages.map(_.outputBytes.get).sum / 1048576.0 / n
    out.toMap
  }

  def counterMean(passes: Seq[Int], name: String): Double =
    passes.map(p => counters.getOrElse((p, name), 0.0)).sum / passes.size

  /** Spans and attributed jobs as JSON, written when the run ends. */
  def json(): String = {
    def q(s: String) = Json.str(s)
    val sp = spans.map(s =>
      s"""{"id":${s.id},"name":${q(s.name)},"layer":${q(s.layer)},"parent":${s.parent},"pass":${s.pass},""" +
      s""""start_ms":${s.startMs},"end_ms":${s.endMs},"wall_s":${s.wallNs / 1e9},"probe":${s.probe}}""")
    val js = listener.toSeq.flatMap(_.jobs.asScala.toSeq.sortBy(_._1).map { case (id, j) =>
      s"""{"job":$id,"layer":${q(j.layer)},"span":${j.span},"pass":${j.pass},"probe":${j.probe},"start_ms":${j.startMs},"end_ms":${j.endMs},"stages":${j.stageIds.size}}"""
    })
    val fp = fingerprints.map { case (k, v) =>
      q(k) + ":" + v.toSeq.sorted.map { case (a, b) => s"${q(a)}:$b" }.mkString("{", ",", "}")
    }
    s"""{"spans":[${sp.mkString(",")}],"jobs":[${js.mkString(",")}],"plans":{${fp.mkString(",")}}}"""
  }
}
