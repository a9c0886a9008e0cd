package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** How the run mains (`Bench`, `Verify`, `Diag`) execute a query: the noop
  * write that materializes it, the warm pass before a timed run, and the
  * hygiene between queries. */
private[graft] object QueryRun {
  /** Data set of the warm pass: the smallest scale factor by default. */
  val warmDir: String =
    sys.env.getOrElse("SPARK_GRAFT_BENCH_WARM_DIR", "/root/testdata/sf0.001")

  /** Materializes every result row through the full plan; `count()` would
    * let Catalyst elide final sorts and column projects. */
  def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  /** Wall seconds of building and materializing `df`, and its failure, if
    * any: a crashed query must show as a failure, never as a fast time. */
  def timed(df: => DataFrame): (Double, Option[Throwable]) = {
    val t0 = System.nanoTime()
    val failure =
      try { noop(df); None }
      catch { case e: Throwable => Some(e) }
    ((System.nanoTime() - t0) / 1e9, failure)
  }

  /** Runs `at(warmDir)` once, so the timed run at the target scale measures
    * data-proportional work, not the query's first whole-stage codegen
    * and JIT (cold vs warm measured ~1 s of fixed cost per query). The
    * wall seconds, or `None` when `warmDir` is absent or the pass failed;
    * the timed run reports a failure of the query itself. */
  def warm(at: String => DataFrame): Option[Double] =
    if (!new java.io.File(warmDir).isDirectory) None
    else timed(at(warmDir)) match {
      case (secs, None) => Some(secs)
      case _ => None
    }

  /** Drops the caches a query leaked and nudges the ContextCleaner, outside
    * any timed window, so a run of many queries in one JVM never piles
    * their shuffle and broadcast debt into one stall late in the run. */
  def hygiene(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    System.gc()
  }
}
