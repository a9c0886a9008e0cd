package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.classic
import org.apache.spark.sql.functions.col
import org.scalatest.concurrent.Eventually
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._
import scala.jdk.CollectionConverters._

class GraftSessionSpec extends AnyFunSuite with Eventually {
  lazy val spark = TestSession.spark

  test("a second round over more plans than Spark's default codegen cache compiles nothing") {
    // 150 distinct plans; their literals are inlined into the generated
    // code, so each compiles classes of its own. Together they exceed
    // Spark's 100-entry default, where an LRU cycled over them misses on
    // every lookup, and fit GraftSession's cap. The cache is JVM-wide and
    // sized on first use, so this also proves the static conf reached it.
    def compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def round(): Unit = (1 to 150).foreach { i =>
      spark.range(10).select((col("id") * i + i).as("x")).filter(col("x") > i).collect()
    }
    val c0 = compiled
    round()
    val firstRound = compiled - c0
    assert(firstRound > 100 && firstRound < GraftSession.CodegenCacheEntries)
    round()
    assert(compiled - c0 - firstRound == 0)
  }

  test("the status store keeps at most the retention bound of SQL executions and stages") {
    val bound = GraftSession.RetainedUiEntries
    val stageIds = new ConcurrentLinkedQueue[Int]
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stageIds.add(e.stageInfo.stageId)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      (1 to bound + 20).foreach(_ => spark.range(3).count())
      val sqlStore = spark.asInstanceOf[classic.SparkSession].sharedState.statusStore
      val tracker = spark.sparkContext.statusTracker
      // the listener bus and the store's cleanup triggers are asynchronous
      eventually(timeout(30.seconds), interval(200.millis)) {
        assert(stageIds.size > bound)
        assert(sqlStore.executionsCount() <= bound)
        assert(stageIds.asScala.count(id => tracker.getStageInfo(id).isDefined) <= bound)
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
