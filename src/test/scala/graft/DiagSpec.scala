package graft

import java.nio.file.{Files, Path}
import java.util.Comparator
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** The `Diag` modes, called on the shared test session. */
class DiagSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))

  test("plans writes one formatted physical plan per named query") {
    val dir = Files.createTempDirectory("graft-diag-plans")
    try {
      Diag.plans(spark, dir.toString, Seq("q02_filter_project", "q04_topk"), TestSession.sf)
      val files = Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSeq.sorted
      assert(files == Seq("q02_filter_project.txt", "q04_topk.txt"))
      files.foreach { f =>
        assert(Files.readString(dir.resolve(f)).contains("== Physical Plan =="), f)
      }
    } finally deleteTree(dir)
    assert(!Files.exists(dir))
  }

  test("profile counts the jobs a listener sees around the same noop write, then detaches") {
    val name = "q02_filter_project"
    val Seq((profiledName, metrics)) = Diag.profile(spark, Seq(name), TestSession.sf)
    assert(profiledName == name)
    val profiledJobs = metrics.jobs.size
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      QueryRun.noop(SparkEntry.queries(name)(spark, TestSession.sf))
      ListenerBusDrain(sc)
    } finally sc.removeSparkListener(listener)
    assert(jobs.get > 0)
    assert(profiledJobs == jobs.get)
    // the profile's listener left the context: the write above never reached it
    assert(metrics.jobs.size == profiledJobs)
  }
}
