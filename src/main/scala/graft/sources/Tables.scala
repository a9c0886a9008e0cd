package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Parquet table loader for the star-schema testdata layout
  * (`<dir>/<table>.parquet`).
  *
  * Reads go through [[ParquetReader]]: Catalyst's parquet source keeps
  * predicate pushdown, column pruning and partition coalescing, and a
  * table whose files have not changed is opened with its known schema,
  * without the schema-inference job. Only the schema is remembered, never
  * data: at 100 TB the scan must stream, and pushdown into the scan is
  * worth more than a driver-pinned cache.
  *
  * The testdata's time columns have shipped in several physical forms
  * across regenerations — TIMESTAMP(NANOS) (read as long under
  * `spark.sql.legacy.parquet.nanosAsLong=true`, see [[graft.GraftSession]])
  * and `timestamp[us]` without timezone (TIMESTAMP_NTZ unless NTZ
  * inference is disabled). Per the reference's coercion principle
  * (SURVEY.md §1.2: input type drift is absorbed by the loader, never an
  * error downstream) [[normalizeTs]] dispatches on the OBSERVED type and
  * restores plain TIMESTAMP — a codegen'd projection, no UDF, pushdown on
  * all other columns unaffected.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Timestamp columns per table (TESTDATA.md / FIXTURES.md §8 schemas). */
  private val tsColumns: Map[String, Seq[String]] = Map(
    "events" -> Seq("ts"),
    "orders" -> Seq("o_orderdate"),
    "lineitem" -> Seq("l_shipdate"))

  def load(spark: SparkSession, dir: String, table: String): DataFrame = {
    val raw = ParquetReader.read(spark, s"${dir.stripSuffix("/")}/$table.parquet")
    tsColumns.getOrElse(table, Nil).foldLeft(raw)(normalizeTs)
  }

  /** Coerce a time column to plain TIMESTAMP whatever physical type the
    * parquet read produced. Long = nanosecond epoch (the nanosAsLong read
    * path); NTZ = `timestamp[us]` without timezone, identical micros-since-
    * epoch internal representation under the pinned UTC session. Missing
    * column or already-TIMESTAMP is a no-op. */
  def normalizeTs(df: DataFrame, c: String): DataFrame =
    if (!df.schema.fieldNames.contains(c)) df
    else df.schema(c).dataType match {
      // INTEGER division (`div`), never `/`: nanosecond longs exceed 2^53,
      // so the double round-trip of `/` loses up to ~128 ns and can flip
      // the truncated microsecond vs an engine that divides exactly.
      case LongType => df.withColumn(c, timestamp_micros(expr(s"$c div 1000")))
      case TimestampNTZType => df.withColumn(c, col(c).cast(TimestampType))
      case _ => df
    }

  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def events(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "events")
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}
