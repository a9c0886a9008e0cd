package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import scala.collection.mutable

/** Per-job profiler for a single registered query: runs the query like
  * Bench's child mode (sf0.001 warm pass, then the target SF timed) with
  * a listener that prints every Spark job's wall time, task count and
  * call site — the attribution tool for "where do this query's seconds
  * go": one dominant stage, or a long tail of per-job scheduling floor.
  * It also prints how many whole-stage codegen classes the timed run
  * compiled and their compile time: after the warm pass a query should
  * compile next to nothing, so a high count means the codegen cache is
  * thrashing again (see GraftSession).
  *
  * Usage: `graft.Profile <queryName> [sfDir]` (env SPARK_GRAFT_SF_DIR
  * also honored). Diagnostic only — not part of the driver contract.
  */
object Profile {
  private final class JobTimer extends SparkListener {
    case class J(id: Int, desc: String, var tasks: Int = 0,
                 var start: Long = 0L, var end: Long = 0L)
    case class S(id: Int, name: String, tasks: Int, wallMs: Long,
                 cpuMs: Long, runMs: Long, inRows: Long, outRows: Long)
    val jobs = mutable.LinkedHashMap.empty[Int, J]
    val stages = mutable.ArrayBuffer.empty[S]
    var enabled = false
    override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
      val site = Option(e.properties)
        .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("?")
      jobs(e.jobId) = J(e.jobId, site, e.stageInfos.map(_.numTasks).sum,
        e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.get(e.jobId).foreach(_.end = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (enabled) {
        val si = e.stageInfo
        val m = si.taskMetrics
        stages += S(si.stageId, si.name.takeWhile(_ != '\n'), si.numTasks,
          (for {a <- si.completionTime; b <- si.submissionTime} yield a - b)
            .getOrElse(-1L),
          m.executorCpuTime / 1000000L, m.executorRunTime,
          m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead,
          m.outputMetrics.recordsWritten + m.shuffleWriteMetrics.recordsWritten)
      }
  }

  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error("usage: Profile <query> [sfDir]"))
    val sfDir = args.lift(1).orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse("/root/testdata/sf0.1")
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_BENCH_WARM_DIR", "/root/testdata/sf0.001")
    val spark = GraftSession.builder("graft-profile").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fn = SparkEntry.queries(name)
    if (new java.io.File(warmDir).isDirectory)
      try fn(spark, warmDir).write.mode("overwrite").format("noop").save()
      catch { case _: Throwable => () }
    val timer = new JobTimer
    spark.sparkContext.addSparkListener(timer)
    timer.enabled = true
    val cg0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val cgNs0 = CodeGenerator.compileTime
    val t0 = System.nanoTime()
    fn(spark, sfDir).write.mode("overwrite").format("noop").save()
    val total = (System.nanoTime() - t0) / 1e9
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0
    val compileS = (CodeGenerator.compileTime - cgNs0) / 1e9
    timer.enabled = false
    // listener bus is async — give it a moment to drain before reading
    Thread.sleep(500)
    var prevEnd = 0L
    println(f"%nPROFILE $name  sf=$sfDir  total=$total%.3f s")
    println(f"${"job"}%4s ${"secs"}%8s ${"gap"}%8s ${"tasks"}%6s  site")
    timer.jobs.values.foreach { j =>
      val secs = (j.end - j.start) / 1e3
      val gap = if (prevEnd == 0L) 0.0 else (j.start - prevEnd) / 1e3
      prevEnd = j.end
      println(f"${j.id}%4d $secs%8.3f $gap%8.3f ${j.tasks}%6d  ${j.desc}")
    }
    val jobSum = timer.jobs.values.map(j => (j.end - j.start) / 1e3).sum
    println(f"jobs=${timer.jobs.size}  jobSum=$jobSum%.3f s  driverGaps=${total - jobSum}%.3f s")
    println(f"codegen: $compiled classes compiled, $compileS%.3f s compile time")
    println(f"%n${"stage"}%6s ${"wall"}%7s ${"cpu"}%7s ${"run"}%7s ${"tasks"}%6s ${"inRows"}%9s ${"outRows"}%9s  name")
    timer.stages.sortBy(-_.runMs).take(15).foreach { s =>
      println(f"${s.id}%6d ${s.wallMs / 1e3}%7.3f ${s.cpuMs / 1e3}%7.3f ${s.runMs / 1e3}%7.3f ${s.tasks}%6d ${s.inRows}%9d ${s.outRows}%9d  ${s.name.take(60)}")
    }
    spark.stop()
  }
}
