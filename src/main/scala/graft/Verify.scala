package graft
import java.nio.file.{Files, Paths}

import graft.sources.Sinks.jsonString

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // the library session (GraftExtensions: native expressions AND custom
    // plan strategies — a plain builder could not plan AsOfJoinPlan)
    val spark = GraftSession.builder("graft-verify").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // local-iteration subset (comma-separated query names); unset = all,
    // which is what the driver runs
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    def keep(name: String): Boolean = only.forall(_.contains(name))
    // dump-only mode: write the COMPLETE oracle_sql.json (ignoring the
    // subset filter) without executing queries — feeds tools/twin_bench.py
    val dumpOnly = sys.env.get("SPARK_GRAFT_ORACLE_DUMP_ONLY").contains("1")
    // every failure is RECORDED, not just logged: a green wall with silent
    // omissions would pass a "zero err" gate while queries crash
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter(kv => !dumpOnly && keep(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        failures(name) = msg.linesIterator.take(3).mkString(" ").take(500)
        System.err.println(s"[verify] $name failed: $msg")
      }
      QueryRun.hygiene(spark)
    }
    // every control char escaped: a tab or CR in builder-authored SQL would
    // otherwise make the driver's json.load fail and silently zero the
    // round's correctness
    val json = SparkEntry.oracleSql.filter(kv => dumpOnly || keep(kv._1))
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // self-describing failure record (empty object on a clean run)
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"),
      failures.map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}"))
    if (failures.nonEmpty)
      System.err.println(s"[verify] ${failures.size} queries FAILED: ${failures.keys.mkString(", ")}")
    spark.stop()
  }
}
