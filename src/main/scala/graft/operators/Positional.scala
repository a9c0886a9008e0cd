package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{count, element_at, lit, monotonically_increasing_id, spark_partition_id, typedLit}
import org.apache.spark.sql.types.LongType

/** Positional (row-index) operators — W1/W2 in SURVEY.md §2.5.
  *
  * The reference's windowing is positional, not temporal: pandas RangeIndex
  * order, `Window_ID = row_index // 5` (`process_logs_v9.py:267-271`). A
  * naive Spark translation is `row_number().over(Window.orderBy(...))` with
  * no partition key — which collapses the whole dataset onto ONE task and
  * dies at scale. Instead:
  *
  *   repartitionByRange(order) → sortWithinPartitions(order)
  *     → per-partition offsets + in-partition position
  *
  * Range partitioning gives a total order across partitions; a tiny
  * counts-per-partition job turns in-partition positions into a globally
  * contiguous 0-based index, never concentrating data on a single task.
  * This is the 100 TB-safe form of a global row number.
  */
object Positional {

  /** Append a contiguous global 0-based `idxName` column following the
    * total order given by `order` (must be a deterministic, ideally unique,
    * key list).
    *
    * All-DataFrame formulation (an earlier `rdd.zipWithIndex` version left
    * Tungsten for a Row round-trip and de-codegen'd every downstream
    * consumer): the sorted frame is PERSISTED, a 1-row-per-partition count
    * aggregate turns into driver-side offsets, and the index is
    * `offset(pid) + position-in-partition`. The persist is correctness,
    * not cache-warming — range partition bounds are SAMPLED per execution,
    * so the offsets must come from the same materialization the index
    * reads (zipWithIndex paid the same second pass; this form trades it
    * for the working-set cache, which spills under memory pressure).
    * Position-in-partition derives from `monotonically_increasing_id`'s
    * documented layout (partition id << 33 | consecutive in-partition
    * counter), pinned by EntrySpec's contiguity property. */
  def withRowIndex(df: DataFrame, order: Seq[Column], idxName: String = "row_idx"): DataFrame =
    withRowIndexCounted(df, order, idxName)._1

  /** [[withRowIndex]] plus the TOTAL row count — free from the same
    * per-partition counts job, so callers needing both (rank cuts,
    * fraction boundaries) never pay a separate `count()` pass. */
  def withRowIndexCounted(df: DataFrame, order: Seq[Column],
                          idxName: String = "row_idx"): (DataFrame, Long) = {
    val sorted = df.repartitionByRange(order: _*).sortWithinPartitions(order: _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val counts = sorted.groupBy(spark_partition_id().as("__pid"))
      .agg(count(lit(1)).as("__c"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    val offsets: Map[Int, Long] = counts.map { case (p, c) =>
      val o = acc; acc += c; (p, o)
    }.toMap
    // empty input: no partitions produced rows — element_at never
    // evaluates, but typedLit of an empty map still needs a type
    if (offsets.isEmpty)
      return (sorted.withColumn(idxName, lit(0L)).limit(0), 0L)
    (sorted.withColumn(idxName,
      element_at(typedLit(offsets), spark_partition_id()) +
        (monotonically_increasing_id() -
          (spark_partition_id().cast(LongType) * lit(1L << 33)))), acc)
  }

  /** W2: count-based tumbling window id — `windowId = rowIdx / size`
    * (`process_logs_v9.py:267`). Compose with `groupBy("window_id")` for
    * the reference's feature-sum / label-max aggregations; that groupBy is
    * a normal two-phase hash aggregate (map-side partials), so the only
    * scale-sensitive step is the range shuffle in [[withRowIndex]]. */
  def tumbling(df: DataFrame, order: Seq[Column], size: Long,
               windowCol: String = "window_id"): DataFrame = {
    import org.apache.spark.sql.functions.{col, floor, lit}
    withRowIndex(df, order, "__row_idx")
      .withColumn(windowCol, floor(col("__row_idx") / lit(size)).cast(LongType))
      .drop("__row_idx")
  }

  /** Count-based SLIDING windows: window `w` covers rows
    * `[w·step, w·step + size)`. Each row explodes into its owning windows
    * (≤ ⌈size/step⌉ of them) — the standard row-multiplication trade of
    * overlapped windows; the downstream aggregation stays a two-phase
    * hash agg. `step == size` degenerates to [[tumbling]]. Integer
    * arithmetic only (`div`), so window ids are exact at any index. */
  def sliding(df: DataFrame, order: Seq[Column], size: Long, step: Long,
              windowCol: String = "window_id"): DataFrame = {
    import org.apache.spark.sql.functions.{explode, expr, greatest, lit, sequence}
    require(size > 0 && step > 0 && step <= size,
      s"need 0 < step <= size for full coverage, got size=$size step=$step")
    withRowIndex(df, order, "__row_idx")
      .withColumn(windowCol, explode(sequence(
        greatest(lit(0L), expr(s"(__row_idx - ${size - step}) div $step")),
        expr(s"__row_idx div $step"))))
      .drop("__row_idx")
  }
}
