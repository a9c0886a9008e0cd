package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One-shot scale probe for the flagship dedup chain (VERDICT round-12
  * item 5): runs q24 MinHash-LSH, q69 chunk dedup and the q415/q416
  * substring-dedup chain over the sf0.1 documents corpus at 1× and at a
  * synthetic REP× replication (doc_id re-keyed deterministically at
  * runtime, text untouched — built in-plan from the parquet input on
  * every run, nothing persisted), recording wall seconds and total
  * shuffle read/write bytes per run so the shuffle-byte SCALING is
  * observable. Diagnostic only — not part of the driver contract.
  *
  * Usage: SPARK_GRAFT_SCALE_REP=10 runMain graft.ScaleProbe */
object ScaleProbe {
  private final class Bytes extends SparkListener {
    @volatile var read = 0L
    @volatile var write = 0L
    @volatile var rows = 0L
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val m = e.stageInfo.taskMetrics
      read += m.shuffleReadMetrics.totalBytesRead
      write += m.shuffleWriteMetrics.bytesWritten
      rows += m.shuffleWriteMetrics.recordsWritten
    }
    def reset(): Unit = { read = 0L; write = 0L; rows = 0L }
  }

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val rep = sys.env.getOrElse("SPARK_GRAFT_SCALE_REP", "10").toInt
    val spark = GraftSession.builder("graft-scale-probe").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val metrics = new Bytes
    spark.sparkContext.addSparkListener(metrics)

    def docsAt(k: Int): DataFrame = {
      val d = graft.sources.Tables.documents(spark, dir)
      if (k == 1) d
      else d.crossJoin(
          spark.range(0, k).select(col("id").cast("long").as("__r")))
        .withColumn("doc_id", col("doc_id") * k + col("__r"))
        // one replica-unique trailing token breaks EXACT-duplicate
        // groups across replicas (a replica pair still reads ~n/(n+2)
        // token Jaccard, so the ≥0.9 MinHash output legitimately grows
        // quadratically in replica count — a data property, reported
        // as such; the claim under test is the BAND/DIGEST shuffle,
        // which must stay linear)
        .withColumn("text", concat(col("text"), lit(" xqz"), col("__r")))
        .drop("__r")
    }
    // Dissimilar-replica corpus for the q24 INFRASTRUCTURE probe: four
    // replica-unique trailing tokens push a replica pair's token
    // Jaccard to ~n/(n+8) < 0.9 for the ~23-token docs here (each side
    // adds four tokens the other lacks, so the union is n+8), so the
    // ≥ 0.9 OUTPUT stays ~1×-sized and what's measured is the
    // band/signature shuffle alone. The default replica (one unique
    // token, still ≥ 0.9 similar) keeps its quadratic output BY
    // DESIGN — that run measures output growth as a data property.
    def docsDisjointAt(k: Int): DataFrame = {
      val d = graft.sources.Tables.documents(spark, dir)
      if (k == 1) d
      else d.crossJoin(
          spark.range(0, k).select(col("id").cast("long").as("__r")))
        .withColumn("doc_id", col("doc_id") * k + col("__r"))
        .withColumn("text", concat(col("text"),
          lit(" xqza"), col("__r"), lit(" yqwb"), col("__r"),
          lit(" zqec"), col("__r"), lit(" wqrd"), col("__r")))
        .drop("__r")
    }
    // the replicated corpus must not ride the LocalJaccard-style small
    // gates; none of these four operators has one, so no conf is needed.
    val runs = Seq[(String, DataFrame => DataFrame)](
      ("q24_minhash", d => graft.dedup.Dedup.minHashLshPairs(d, "doc_id",
        "text", numHashes = 64, shingleN = 1, bands = 8, threshold = 0.9,
        portable = true)),
      ("q69_chunk_dedup", d => graft.dedup.ChunkDedup.docDupStats(
        d, "doc_id", "text", 8, 0.3)),
      ("q415_dup_spans", d => graft.dedup.SubstringDedup.duplicatedSpans(
        d, "doc_id", "text", 20)),
      ("q416_spans_apply", d => graft.dedup.SubstringDedup.removeDuplicatedSpans(
        d, "doc_id", "text", 20)))
    // warm corpus from the same env var Bench honors (never hardcoded:
    // on another machine a missing path must be VISIBLE, not silently
    // skew the 1× vs REP× comparison by charging codegen to the 1× run)
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_BENCH_WARM_DIR", "/root/testdata/sf0.001")
    val disjointRun: (String, DataFrame => DataFrame) =
      ("q24_minhash_disj", d => graft.dedup.Dedup.minHashLshPairs(d, "doc_id",
        "text", numHashes = 64, shingleN = 1, bands = 8, threshold = 0.9,
        portable = true))
    val allRuns = runs.map((_, docsAt _)) :+ ((disjointRun, docsDisjointAt _))
    for (((name, fn), corpus) <- allRuns; k <- Seq(1, rep)) {
      // warm pass at the smallest SF so codegen/JIT stays out of the window
      try fn(graft.sources.Tables.documents(spark, warmDir))
        .write.mode("overwrite").format("noop").save()
      catch { case e: Throwable =>
        System.err.println(s"[scale] WARM PASS FAILED for $name ($warmDir): " +
          s"${e.getMessage} — 1x wall will include codegen cost") }
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      System.gc()
      metrics.reset()
      val t0 = System.nanoTime()
      fn(corpus(k)).write.mode("overwrite").format("noop").save()
      val dt = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // listener drain
      println(f"[scale] $name%-18s x$k%-3d wall=$dt%7.2f s shufWrite=${metrics.write / 1048576.0}%9.2f MiB shufRead=${metrics.read / 1048576.0}%9.2f MiB shufRows=${metrics.rows}%,d")
    }
    spark.stop()
  }
}
