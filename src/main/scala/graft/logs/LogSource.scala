package graft.logs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Log corpus sources — S1 in SURVEY.md §2.1 (S2, one flat file, is
  * `spark.read.text(path)` under the same order keys).
  *
  * The reference walks a directory tree keeping files named
  * `container_*.log` and reads each line in file order
  * (`process_logs_v10.py:86-111`). The engine expresses the same corpus as
  * ONE datasource scan: `recursiveFileLookup` + `pathGlobFilter` do the
  * walk and the filename predicate INSIDE the file listing (no driver
  * loop, no per-file jobs), `input_file_name()` preserves provenance, and
  * multi-file union semantics (J3) fall out of the scan.
  *
  * Ordering: Spark partitions do not globally preserve file order, so the
  * order key is made EXPLICIT — `(file, line_no)` with per-file line
  * numbers from a window over `monotonically_increasing_id()` (ids
  * increase with (partition, offset), and text splits of one file are
  * ordered by partition id, so the per-file ordering is faithful —
  * SURVEY.md §4.3 "line ordering").
  */
object LogSource {

  /** S1: recursive directory scan with a filename predicate. */
  def readLogDir(spark: SparkSession, dir: String,
                 glob: String = "container_*.log"): DataFrame =
    spark.read
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", glob)
      .text(dir)
      .withColumn("file", input_file_name())

  /** W1: explicit `(file, line_no)` order key (1-based within each file).
    * One reducer per file — right for container-log trees (many modest
    * files); for a SINGLE huge file use [[orderedLines]], which range-
    * shuffles instead of funneling the file through one task. */
  def lineNumbered(raw: DataFrame): DataFrame =
    raw.withColumn("line_no",
      row_number().over(Window.partitionBy(col("file"))
        .orderBy(monotonically_increasing_id())))

  /** Scale-safe GLOBAL line index following (file, in-file position)
    * order: range partition + zipWithIndex via
    * [[graft.operators.Positional.withRowIndex]] — no per-file reducer,
    * so one multi-terabyte file parallelizes like any other input. Use
    * when the corpus is a few huge files rather than many container
    * logs; the index is the mining/windowing order key. */
  def orderedLines(raw: DataFrame, idxName: String = "line_idx"): DataFrame =
    graft.operators.Positional.withRowIndex(
      raw.withColumn("__scan_pos", monotonically_increasing_id()),
      Seq(col("file"), col("__scan_pos")), idxName)
      .drop("__scan_pos")
}
