package graft

import java.nio.file.{Files, Path}
import java.util.Comparator
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame, Encoders}
import org.apache.spark.sql.functions.{col, concat, lit}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

import graft.mine.EventTemplate
import graft.sources.{ParquetReader, Sinks, Tables}

/** [[ParquetReader]] reads a table with its known schema while the table's
  * files are unchanged, and infers again whenever the files or the
  * session's parquet settings differ. */
class ParquetReaderSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  private def withTempDir[T](body: Path => T): T = {
    val dir = Files.createTempDirectory("graft-parquet-reader")
    try body(dir)
    finally deleteTree(dir)
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))

  /** Spark jobs started while `body` runs, counted once the listener bus
    * has delivered every event. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      ListenerBusDrain(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def documents(n: Int, word: String): DataFrame =
    spark.range(n).select(col("id").as("doc_id"),
      concat(lit(s"$word task "), col("id"), lit(" done")).as("text"),
      lit("src").as("source"))

  test("a second Tables.load runs no Spark job and reads what an inferred read reads") {
    withTempDir { dir =>
      documents(50, "alpha").write.parquet(s"$dir/documents.parquet")
      val (_, first) = jobsDuring(Tables.load(spark, dir.toString, "documents"))
      assert(first >= 1, "the first open infers the schema with a job")
      val (again, jobs) = jobsDuring(Tables.load(spark, dir.toString, "documents"))
      assert(jobs == 0)
      val plain = spark.read.parquet(s"$dir/documents.parquet")
      assert(again.schema == plain.schema)
      assert(rows(again) == rows(plain))
    }
    // a testdata table whose time column the loader normalizes
    Tables.load(spark, TestSession.sf, "events")
    val (events, jobs) = jobsDuring(Tables.load(spark, TestSession.sf, "events"))
    assert(jobs == 0)
    val plain = Tables.normalizeTs(
      spark.read.parquet(s"${TestSession.sf}/events.parquet"), "ts")
    assert(events.schema == plain.schema)
    assert(rows(events) == rows(plain))
  }

  test("a path overwritten with a different schema is read with the new schema") {
    withTempDir { dir =>
      val p = s"$dir/documents.parquet"
      spark.range(5).select(col("id").as("a"), lit("x").as("b")).write.parquet(p)
      assert(Tables.load(spark, dir.toString, "documents").columns.toSeq == Seq("a", "b"))
      spark.range(7).select(col("id").as("a"), (col("id") * 1.5).as("c"))
        .write.mode("overwrite").parquet(p)
      val df = Tables.load(spark, dir.toString, "documents")
      assert(df.schema == spark.read.parquet(p).schema)
      assert(df.columns.toSeq == Seq("a", "c"))
      assert(rows(df) == rows(spark.read.parquet(p)))
    }
  }

  test("each session reads with the types its own parquet settings infer") {
    withTempDir { dir =>
      // written outside Spark: no Spark schema in the footer, so the
      // session settings decide the types
      val p = s"$dir/t.parquet"
      val schema = MessageTypeParser.parseMessageType(
        "message m { required int64 ts (TIMESTAMP(NANOS,true)); " +
          "required int64 local (TIMESTAMP(MICROS,false)); }")
      val w = ExampleParquetWriter.builder(new HPath(s"$p/part-0.parquet"))
        .withType(schema).build()
      try w.write(new SimpleGroupFactory(schema).newGroup()
        .append("ts", 1500000000000000000L).append("local", 1500000000000000L))
      finally w.close()
      def session(nanosAsLong: Boolean, ntz: Boolean) = {
        val s = spark.newSession()
        s.conf.set("spark.sql.legacy.parquet.nanosAsLong", nanosAsLong.toString)
        s.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", ntz.toString)
        s
      }
      def types(df: DataFrame) = df.schema.fields.map(_.dataType).toSeq
      val base = session(nanosAsLong = true, ntz = false)
      assert(types(ParquetReader.read(base, p)) == Seq(LongType, TimestampType))
      assert(types(ParquetReader.read(base, p)) == Seq(LongType, TimestampType))
      val ntz = session(nanosAsLong = true, ntz = true)
      assert(types(ParquetReader.read(ntz, p)) == Seq(LongType, TimestampNTZType))
      val noNanos = session(nanosAsLong = false, ntz = false)
      val e = intercept[AnalysisException](ParquetReader.read(noNanos, p))
      assert(e.getCondition == "PARQUET_TYPE_ILLEGAL")
    }
  }

  test("loadTemplates round-trips saveTemplates output without a schema job") {
    withTempDir { dir =>
      val p = s"$dir/state"
      val state = Seq(EventTemplate(1L, 3L, "open <*> file"), EventTemplate(2L, 1L, "close"))
      Sinks.saveTemplates(spark.createDataset(state)(Encoders.product[EventTemplate]), p)
      val (loaded, jobs) = jobsDuring(Sinks.loadTemplates(spark, p))
      assert(jobs == 0)
      assert(loaded.collect().sortBy(_.eventId).toSeq == state)
    }
  }

  test("a missing path raises the same AnalysisException as a plain read") {
    withTempDir { dir =>
      val p = s"$dir/gone.parquet"
      def plainError = intercept[AnalysisException](spark.read.parquet(p))
      val never = intercept[AnalysisException](ParquetReader.read(spark, p))
      assert(never.getCondition == plainError.getCondition)
      assert(never.getMessage == plainError.getMessage)
      // also once the reader knows the path's schema
      spark.range(3).write.parquet(p)
      ParquetReader.read(spark, p)
      deleteTree(java.nio.file.Paths.get(p))
      val deleted = intercept[AnalysisException](ParquetReader.read(spark, p))
      assert(deleted.getCondition == "PATH_NOT_FOUND")
      assert(deleted.getMessage == plainError.getMessage)
    }
  }

  test("q47's log corpus follows a documents table rewritten at the same path") {
    withTempDir { dir =>
      val corpusPrefix = "graft_logcorpus_" + dir.toString.replaceAll("[^A-Za-z0-9]", "_")
      val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
      val q47 = SparkEntry.queries("q47_log_pipeline")
      def total(): Long = q47(spark, dir.toString).collect().map(_.getLong(1)).sum
      documents(20, "alpha").write.parquet(s"$dir/documents.parquet")
      assert(total() == 20L)
      documents(35, "beta").write.mode("overwrite").parquet(s"$dir/documents.parquet")
      assert(total() == 35L)
      // the corpus of the first listing went when the second was built
      val corpora = tmp.listFiles().filter(_.getName.startsWith(corpusPrefix))
      assert(corpora.length == 1, corpora.map(_.getName).mkString(", "))
      deleteTree(corpora.head.toPath) // the cache of a dir about to go
    }
  }
}
