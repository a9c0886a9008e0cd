package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}

import graft.mine.EventTemplate

/** Sinks — S4/S5 in SURVEY.md §2.1.
  *
  *  - S4: header CSV of a result table. `single = true` mirrors the
  *    reference's one-file `to_csv` (`process_logs_v10.py:160`) via
  *    `coalesce(1)` — correct for small summaries (cluster tables), never
  *    for data-sized outputs, where the default many-part write stands.
  *  - S5: mining state persisted as a plain parquet `Dataset[EventTemplate]`
  *    — the engine-native, schema-full replacement for the reference's
  *    opaque `drain3_state.bin` blob: resumable (restore + continue
  *    mining), queryable, and versionable by path.
  */
object Sinks {

  /** `s` as a JSON string literal: quote, backslash and every control
    * character (< 0x20) escaped, so text with a tab or CR in it still
    * parses. */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def writeCsv(df: DataFrame, path: String, single: Boolean = true): Unit = {
    val out = if (single) df.coalesce(1) else df
    out.write.mode("overwrite").option("header", "true").csv(path)
  }

  /** JSONL corpus sink — the interchange format of large-scale
    * training-data pipelines (one JSON document per line; splittable,
    * append-friendly, schema-on-read). Many-part by default: JSONL
    * outputs are data-sized. */
  def writeJsonl(df: DataFrame, path: String, single: Boolean = false): Unit = {
    val out = if (single) df.coalesce(1) else df
    out.write.mode("overwrite").json(path)
  }

  /** JSONL corpus source; pass `schema` to skip the inference scan (at
    * 100 TB, inference is a full extra pass — always pin the schema). */
  def readJsonl(spark: SparkSession, path: String,
                schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    val r = spark.read
    schema.fold(r)(s => r.schema(s)).json(path)
  }

  /** Columnar ORC sink/source — the second splittable columnar format
    * next to parquet (predicate pushdown, column pruning, and zlib/zstd
    * come free from the Spark datasource; at 100 TB the choice between
    * parquet and ORC is an ecosystem decision, not an engine one). */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** HIVE-PARTITIONED parquet layout (`path/col=value/part-*.parquet`) —
    * the table layout that makes partition PRUNING possible: a filter on
    * the partition column eliminates whole directories at PLANNING time
    * (the scan's `PartitionFilters`, checked by StorageLayoutSpec), so a
    * per-source/per-date query reads a fraction of a 100 TB table and
    * never opens the rest. Choose low-cardinality, always-filtered
    * columns (source, date); high-cardinality partitioning produces the
    * small-file problem [[compact]] exists to fix. */
  def writePartitioned(df: DataFrame, path: String, partitionCols: String*): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)

  /** Z-ORDERED layout: range-partition + sort the table by the Morton
    * interleave of two dimension keys ([[graft.functions.ZValue]]), so
    * every output file covers a small rectangle of (xCol, yCol) space
    * and its parquet min/max statistics prune scans filtered on EITHER
    * column — hive-partitioning ([[writePartitioned]]) handles ONE
    * coarse dimension; z-ordering is the layout for two selective ones
    * (the lakehouse OPTIMIZE ZORDER BY).
    *
    * Both columns must be non-negative integers (bucketize/rank first
    * otherwise). One range shuffle (sampled bounds, skew-proof) + an
    * in-partition sort; the z column itself never hits disk. */
  def writeZOrdered(df: DataFrame, path: String, xCol: String, yCol: String,
                    nFiles: Int): Unit = {
    df.withColumn("__z", org.apache.spark.sql.functions.call_function(
        graft.functions.ZValue.Name,
        org.apache.spark.sql.functions.col(xCol).cast("long"),
        org.apache.spark.sql.functions.col(yCol).cast("long")))
      .repartitionByRange(nFiles, org.apache.spark.sql.functions.col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }

  /** Parquet source. The default read goes through [[ParquetReader]],
    * which infers the schema once and reuses it while the files are
    * unchanged. `mergeSchema = true` is for layouts whose files were
    * written under EVOLVED schemas (new nullable columns appear over a
    * corpus' life; the merged read presents the union, nulls where
    * absent); it reads every footer, every time. */
  def readParquet(spark: SparkSession, path: String,
                  mergeSchema: Boolean = false): DataFrame =
    if (mergeSchema) spark.read.option("mergeSchema", "true").parquet(path)
    else ParquetReader.read(spark, path)

  /** Small-file COMPACTION: rewrite a directory into ~`targetBytes`
    * files. Streaming ingest and high-cardinality partitioned writes
    * both produce thousands of KB-sized files; at scan time every file
    * costs a task plus footer/open overhead, so a 100 TB table of small
    * files is scan-bound on metadata, not data. One pass: size the
    * output file count from the input bytes, round-robin repartition
    * (uniform output sizes — a range partition would sort for nothing),
    * rewrite to a sibling dir. Returns the output file count. */
  def compact(spark: SparkSession, inPath: String, outPath: String,
              targetBytes: Long = 128L * 1024 * 1024): Int = {
    val df = ParquetReader.read(spark, inPath)
    // size from the ACTUAL on-disk bytes, not optimizedPlan.stats: the
    // plan statistic is the uncompressed in-memory estimate — several
    // times the parquet size — which would undershoot targetBytes per
    // output file. The file listing is already driver-resident from the
    // scan; re-statting it is metadata-only.
    val hadoopConf = spark.sessionState.newHadoopConf()
    val inputBytes = df.inputFiles.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      p.getFileSystem(hadoopConf).getFileStatus(p).getLen
    }.sum
    val nFiles = math.max(1,
      (inputBytes / math.max(targetBytes, 1L)).toInt + 1)
    df.repartition(nFiles).write.mode("overwrite").parquet(outPath)
    nFiles
  }

  /** S6 — chart sinks. The engine is headless: rendering is presentation,
    * not query semantics, so the sink emits the CHART DATA CONTRACT — a
    * `chart.json` spec naming the chart kind, axes and title next to a
    * single-file header CSV of the series — which any plotting frontend
    * (the reference uses matplotlib) renders 1:1. Covers the reference's
    * chart surface:
    *  - failure-distribution bar chart (`data_display.py:4-17`,
    *    `process_logs_v10.py:186-214`; v10 labels every 5th event id,
    *    recorded as `xtickEvery`);
    *  - PCA scatter colored by class label (`process_logs_v10.py:441-449`):
    *    `writeChartData(proj, path, "scatter", "pc1", "pc2", Some("label"))`.
    */
  def writeChartData(df: DataFrame, path: String, kind: String,
                     x: String, y: String, color: Option[String] = None,
                     title: String = "", xtickEvery: Int = 0): Unit = {
    require(Set("bar", "scatter", "line").contains(kind), s"unknown chart kind $kind")
    writeCsv(df, s"$path/data")
    // JSON-escape every interpolated string: a title/column containing a
    // quote or backslash must not produce an unparseable spec
    val colorField = color.map(c => s""","color":${jsonString(c)}""").getOrElse("")
    val spec = s"""{"kind":${jsonString(kind)},"x":${jsonString(x)},"y":${jsonString(y)}""" +
      s"""$colorField,"title":${jsonString(title)},"xtickEvery":$xtickEvery}"""
    val dir = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.writeString(dir.resolve("chart.json"), spec)
  }

  /** The reference's E3 bar chart over a `(event, cnt)` distribution. */
  def chartFailureBar(dist: DataFrame, path: String): Unit =
    writeChartData(dist, path, "bar", dist.columns(0), dist.columns(1),
      title = "Distribution Des Événements", xtickEvery = 5)

  def saveTemplates(templates: Dataset[EventTemplate], path: String): Unit =
    templates.write.mode("overwrite").parquet(path)

  /** Reads the state [[saveTemplates]] wrote. Its schema is the
    * `EventTemplate` encoder's, so it is given, not inferred: the read
    * runs no schema-inference job. */
  def loadTemplates(spark: SparkSession, path: String): Dataset[EventTemplate] =
    spark.read.schema(Encoders.product[EventTemplate].schema).parquet(path)
      .as(Encoders.product[EventTemplate])
}
