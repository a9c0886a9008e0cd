package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.jdk.CollectionConverters._

/** Versioned parquet table with snapshot isolation and time travel — the
  * lakehouse-lite commit protocol (Delta/Iceberg's core idea re-expressed
  * minimally): data files are IMMUTABLE and anonymous; what exists is
  * defined solely by a manifest, and a version becomes visible in exactly
  * one atomic rename.
  *
  * Layout:
  * {{{
  *   <root>/data/<uuid>/part-*.parquet   immutable, never listed directly
  *   <root>/_manifests/v<N>.manifest     newline-separated relative paths
  * }}}
  *
  * Invariants the spec pins:
  *  - readers NEVER list `data/` — an interrupted writer's orphan files
  *    are invisible until a manifest names them (consistency);
  *  - a manifest is staged to a temp file and RENAMED into place
  *    (atomic on POSIX) — no reader can observe a half-written version;
  *  - appends re-list the parent version's files — old versions stay
  *    readable forever (time travel), storage is shared structurally.
  *
  * Scale shape: the manifest is O(files), read on the driver once per
  * query; the data path is ordinary distributed parquet scan/write with
  * all pushdowns intact (`ParquetReader.read(spark, files*)`). Local-FS rename
  * semantics stand in for an object store's conditional PUT.
  */
object Versioned {

  private def manifestDir(root: String): Path = Paths.get(root, "_manifests")

  private def manifestPath(root: String, v: Int): Path =
    manifestDir(root).resolve(f"v$v%06d.manifest")

  /** Committed version numbers, ascending; empty for a fresh root. */
  def versions(root: String): Seq[Int] = {
    val dir = manifestDir(root)
    if (!Files.isDirectory(dir)) return Seq.empty
    Files.list(dir).iterator().asScala
      .map(_.getFileName.toString)
      .collect { case s if s.startsWith("v") && s.endsWith(".manifest") =>
        s.stripPrefix("v").stripSuffix(".manifest").toInt }
      .toSeq.sorted
  }

  private def readManifest(root: String, v: Int): Seq[String] =
    Files.readString(manifestPath(root, v), StandardCharsets.UTF_8)
      .linesIterator.filter(_.nonEmpty).toSeq

  /** Write `df` as a new version. `mode` is `"append"` (parent's files +
    * the new ones) or `"overwrite"` (new files only). Returns the new
    * version number. */
  def commit(df: DataFrame, root: String, mode: String = "append"): Int = {
    require(mode == "append" || mode == "overwrite", s"bad mode: $mode")
    val uuid = java.util.UUID.randomUUID().toString
    val dataDir = Paths.get(root, "data", uuid)
    df.write.parquet(dataDir.toString)
    val newFiles = Files.list(dataDir).iterator().asScala
      .map(_.getFileName.toString)
      .filter(n => n.endsWith(".parquet"))
      .toSeq.sorted
      .map(n => s"data/$uuid/$n")
    val prior = versions(root)
    val parentFiles =
      if (mode == "overwrite" || prior.isEmpty) Seq.empty
      else readManifest(root, prior.last)
    val v = prior.lastOption.getOrElse(-1) + 1
    Files.createDirectories(manifestDir(root))
    // stage + atomic rename: the version exists either fully or not at all
    val tmp = manifestDir(root).resolve(s".tmp-$uuid")
    Files.writeString(tmp, (parentFiles ++ newFiles).mkString("\n"),
      StandardCharsets.UTF_8)
    Files.move(tmp, manifestPath(root, v), StandardCopyOption.ATOMIC_MOVE)
    v
  }

  /** Read a version (default: latest). Empty-file versions return an
    * empty frame only if the manifest is empty — which cannot happen via
    * [[commit]] (parquet writes at least one part file). */
  def read(spark: SparkSession, root: String,
           version: Option[Int] = None): DataFrame = {
    val vs = versions(root)
    require(vs.nonEmpty, s"no committed versions under $root")
    val v = version.getOrElse(vs.last)
    require(vs.contains(v), s"version $v not in $vs")
    val files = readManifest(root, v).map(rel => Paths.get(root, rel).toString)
    ParquetReader.read(spark, files: _*)
  }
}
