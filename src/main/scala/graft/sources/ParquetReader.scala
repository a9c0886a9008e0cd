package graft.sources

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.types.StructType

/** The engine's parquet reader: every batch parquet read goes through
  * [[read]].
  *
  * Spark infers a parquet table's schema on every `spark.read.parquet`,
  * and the inference (`ParquetUtils.inferSchema` →
  * `mergeSchemasInParallel`) runs a whole Spark job to read one footer —
  * the fixed cost of an interactive call that opens a table, paid again
  * for tables whose files never change. The reader infers a table's
  * schema once and reads it thereafter with `spark.read.schema(known)`,
  * which runs no job and leaves the scan exactly as before (pushdown,
  * pruning and partition discovery are the datasource's, not the
  * schema's).
  *
  * A known schema holds only for the files it was inferred from. Its key
  * is the read's paths plus every explicitly set session setting whose
  * name contains `parquet` (`spark.sql.legacy.parquet.nanosAsLong` and
  * `spark.sql.parquet.inferTimestampNTZ.enabled` change the inferred
  * types), and it is stored with a digest of the leaf files' paths,
  * lengths and modification times. The digest is taken from the file
  * index Spark builds for the read itself, so a hit lists no more than a
  * plain read does; if the listing differs (an overwrite, an append, a
  * deleted file), the reader infers again. A path that no longer exists
  * raises the same `PATH_NOT_FOUND` error a plain read raises.
  *
  * Only schemas are kept, never data, and at most `MaxEntries` of
  * them (least recently used evicted).
  */
object ParquetReader {

  /** Known schemas kept. A registry pass touches ~10 tables per data
    * directory; the rest are result-cache and version reads. */
  private val MaxEntries = 256

  private final case class Key(paths: Seq[String], settings: Seq[(String, String)])
  private final case class Known(listing: String, schema: StructType)

  private val known = new java.util.LinkedHashMap[Key, Known](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Key, Known]): Boolean =
      size() > MaxEntries
  }

  /** `spark.read.parquet(paths*)`, given the known schema while its key
    * and listing still hold. */
  def read(spark: SparkSession, paths: String*): DataFrame = {
    val key = Key(paths, spark.conf.getAll.toSeq.filter(_._1.contains("parquet")).sorted)
    val hit = known.synchronized(Option(known.get(key))).flatMap { k =>
      val df = spark.read.schema(k.schema).parquet(paths: _*)
      if (listingDigest(df) == k.listing) Some(df) else None
    }
    hit.getOrElse {
      val df = spark.read.parquet(paths: _*)
      val k = Known(listingDigest(df), df.schema)
      known.synchronized(known.put(key, k))
      df
    }
  }

  /** SHA-256 over the path, length and modification time of every leaf
    * file the frame's file-source scans list (hex). Metadata only: it
    * reads the listing the frame's file index already holds. A frame
    * without such a scan is an error, not the digest of no files. */
  def listingDigest(df: DataFrame): String = {
    val indexes = df.queryExecution.analyzed.collect {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r.location
    }.collect { case index: PartitioningAwareFileIndex => index }
    require(indexes.nonEmpty, s"no file-source scan in ${df.queryExecution.analyzed}")
    val files = indexes.flatMap(_.allFiles())
      .map(f => s"${f.getPath}\t${f.getLen}\t${f.getModificationTime}\n")
      .sorted
    val md = MessageDigest.getInstance("SHA-256")
    files.foreach(line => md.update(line.getBytes(StandardCharsets.UTF_8)))
    md.digest().map(b => f"$b%02x").mkString
  }
}
