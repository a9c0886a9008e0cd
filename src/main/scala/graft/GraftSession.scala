package graft

import org.apache.spark.sql.SparkSession

/** Session factory with scale-aware defaults.
  *
  * Local runs use `local[N]` but every knob is chosen as it would be on a
  * multi-executor cluster: AQE on (runtime shuffle coalescing + skew-join
  * splitting), shuffle partitions sized to cores rather than the 200
  * default, and a broadcast threshold large enough that every dimension
  * table in the star schema (region/nation/customer/supplier/part at any
  * reasonable SF) broadcasts instead of shuffling.
  */
object GraftSession {
  /** Entries of Spark's JVM-wide cache of compiled generated classes
    * (`spark.sql.codegen.cache.maxEntries`, default 100). A workload that
    * re-runs the same plan shapes reuses their classes only if its
    * distinct-class working set fits: an LRU cycled over a working set
    * just above its capacity misses on every lookup, recompiles every
    * class with Janino and JIT-compiles it again. Measured with an
    * unbounded cache, distinct classes compiled per JVM: the benchmark's
    * `log_pipeline` ~120 per pass (130 after 2 passes, then ~10 new per
    * pass, 150 over a 15 s run), its `query_mix` 263 over a whole run
    * (260 in the first cycle, 0 new from the third on), and one pass of
    * all 415 registry queries at sf0.001 (the EntrySpec loop) 3,838, none
    * of them repeated within the pass, so no cap would help it. 512
    * covers both benchmark working sets with about 2x headroom; at
    * the default the pipeline recompiled ~100-116 classes per pass and
    * the mix ~260 per cycle. A cached entry held 26-43 KB of live heap
    * (heap difference between cap 100 and an unbounded cache over the
    * extra entries held), so the worst-case ceiling is ~512 x 43 KB
    * = 22 MB. */
  private[graft] val CodegenCacheEntries = 512

  /** Stages and SQL executions the status store keeps. The engine runs
    * with the UI off and nothing reads the store, yet by default it keeps
    * 1,000 of each, plan strings and graphs included, on the heap. With
    * the 512-entry codegen cache, live heap after a benchmark run (seed 1)
    * read, at the defaults / stages bounded / executions bounded:
    * `query_mix` 94.6 / 92.4 / 91.1 MB, `log_pipeline` 86.9 / 85.2 /
    * 84.8 MB. Bounding both keeps each workload under its heap with
    * Spark's defaults for cache and store (paired medians 88.7 vs 90.5 MB
    * and 83.5 vs 84.4 MB). Bounding jobs as well moved neither workload
    * (-0.3 / +0.2 MB, within run-to-run spread), so it is left alone. */
  private[graft] val RetainedUiEntries = 50

  def builder(appName: String = "graft"): SparkSession.Builder = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    SparkSession.builder()
      .appName(appName)
      // graft-native expressions/aggregates as session built-ins
      .withExtensions(new GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      // TypedImperativeAggregate (graft_topk, drain-mine, sketches) runs
      // through ObjectHashAggregateExec, whose hash map falls back to
      // SORT-based aggregation after only 128 distinct groups per task by
      // default — a per-group bounded-heap aggregate over thousands of
      // groups would degrade to the very sort it exists to avoid. The
      // buffers are small (k-element heaps / fixed sketches), so a large
      // map is safe: fall back only at 4M groups per task.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", (4 * 1024 * 1024).toString)
      // Parallelism floors for SMALL inputs; inert at scale. The default
      // 4 MB file-open cost makes a 20 MB parquet scan at most ~5 splits
      // (and AQE's 1 MB min partition size coalesces CPU-heavy shuffle
      // stages the same way), so on a 32-core node most of the machine
      // idles through stages whose work-per-byte is high (shingle
      // expansion, wedge counting, array merges). 256 KB floors let tiny
      // stages use the cores; at 100 TB every split/partition is far
      // above either floor, so production plans are untouched.
      .config("spark.sql.files.openCostInBytes", (256L * 1024).toString)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", (256L * 1024).toString)
      // testdata parquet has shipped both TIMESTAMP(NANOS) (read as long,
      // converted in graft.sources.Tables) and timestamp[us] without
      // timezone. Disable NTZ inference so the latter reads as plain
      // TIMESTAMP under the pinned UTC session; Tables.normalizeTs handles
      // whatever type still arrives.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // ANSI mode pinned, not left to Spark's default (true in 4.x, but
      // SPARK_ANSI_SQL_MODE=false flips it): the pinned-integer operators
      // (PinnedAls Gram sums, PinnedPca products) multiply and sum in
      // `long`, and ANSI makes an overflow there throw
      // ARITHMETIC_OVERFLOW instead of wrapping into a wrong answer.
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.ui.retainedStages", RetainedUiEntries.toString)
      .config("spark.sql.ui.retainedExecutions", RetainedUiEntries.toString)
  }
}
