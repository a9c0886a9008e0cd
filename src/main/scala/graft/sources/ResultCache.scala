package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame

/** Content-addressed result cache: materialize a DataFrame keyed by the
  * SEMANTIC hash of its logical plan, so the identical query (however it
  * was spelled — Catalyst normalizes) is computed once and re-read
  * thereafter. The batch engine's answer to a BI layer re-issuing the
  * same rollup hourly.
  *
  * Contract: the key addresses the PLAN, not the input bytes — the cache
  * is only sound over immutable inputs. That is exactly what
  * [[Versioned]] provides (a version's file list never changes), so the
  * intended composition is `ResultCache.through(expensive(Versioned.read
  * (spark, root, Some(v))), dir)`: new data → new version → new plan →
  * new cache key, automatic invalidation by construction.
  *
  * Scale shape: a hit costs a manifest-free parquet read of the
  * materialized result (usually orders of magnitude smaller than its
  * input); a miss adds one parquet write to the query it was going to
  * run anyway. The `_SUCCESS` marker gates visibility, so a writer that
  * died mid-materialization is retried, never half-read.
  */
object ResultCache {

  /** Read-through: returns the cached result, materializing on miss. */
  def through(df: DataFrame, cacheDir: String): DataFrame = {
    val spark = df.sparkSession
    val key = f"plan-${df.semanticHash()}%08x"
    val path = Paths.get(cacheDir, key)
    if (!Files.exists(path.resolve("_SUCCESS")))
      df.write.mode("overwrite").parquet(path.toString)
    ParquetReader.read(spark, path.toString)
  }

  /** True iff a result for this plan is already materialized. */
  def isCached(df: DataFrame, cacheDir: String): Boolean =
    Files.exists(
      Paths.get(cacheDir, f"plan-${df.semanticHash()}%08x", "_SUCCESS"))
}
