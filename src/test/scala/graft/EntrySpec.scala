package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object TestSession {
  lazy val spark: SparkSession = GraftSession.builder("graft-test")
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()
  val sf: String = "/root/testdata/sf0.001"
}

class EntrySpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  test("entry (flagship) returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every registered query runs and returns rows at sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, TestSession.sf).count()
      assert(n > 0, s"query $name returned no rows")
    }
  }

  test("the SQL-surface queries leave no temp view in the caller's session") {
    val fresh = spark.newSession()
    Seq("q41_sql_surface", "q92_grouping_sets", "q184_sql_lateral", "q49_group_mine")
      .foreach { name =>
        val df = SparkEntry.queries(name)(fresh, TestSession.sf)
        val views = fresh.catalog.listTables().collect().filter(_.isTemporary).map(_.name)
        assert(views.isEmpty, s"$name left temp views: ${views.mkString(", ")}")
        assert(df.count() > 0, s"$name returned no rows once its views were dropped")
      }
  }

  test("every oracle key has a matching query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle entries without queries: $missing")
  }
}

class LogLinesSpec extends AnyFunSuite {
  import graft.logs.LogLines
  lazy val spark = TestSession.spark

  test("clean strips ts/level/thread and collapses whitespace (P1-P4)") {
    import spark.implicits._
    val raw = Seq(
      "2015-10-17 15:37:56,547 INFO [main] org.apache.hadoop.mapreduce.v2.app.MRAppMaster: Created MRAppMaster for application appattempt_1445062781478_0011_000001",
      "Container killed on request. Exit code is 137",
      "   spaced    out   ").toDF("value")
    val out = raw.select(LogLines.clean($"value").as("c")).as[String].collect()
    assert(out(0) == "org.apache.hadoop.mapreduce.v2.app.MRAppMaster: Created MRAppMaster for application appattempt_1445062781478_0011_000001")
    assert(out(1) == "Container killed on request. Exit code is 137")
    assert(out(2) == "spaced out")
  }

  test("clean is idempotent (property, P1-P4)") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, TestSession.sf)
      .select($"text").limit(50)
    val once = docs.select(LogLines.clean($"text").as("c"))
    val twice = once.select(LogLines.clean($"c").as("c"))
    assert(once.as[String].collect().toSeq == twice.as[String].collect().toSeq)
  }

  test("structure parses timestamped lines, keeps continuations") {
    import spark.implicits._
    val raw = Seq(
      "2015-10-17 15:37:56,547 INFO [main] org.apache.hadoop.mapreduce.v2.app.MRAppMaster: Created MRAppMaster",
      "Container killed on request. Exit code is 137").toDF("value")
    val rows = LogLines.structure(raw).collect()
    assert(rows(0).getAs[String]("level") == "INFO")
    assert(rows(0).getAs[String]("thread") == "main")
    assert(rows(0).getAs[String]("logger") == "org.apache.hadoop.mapreduce.v2.app.MRAppMaster")
    assert(rows(0).getAs[String]("message") == "Created MRAppMaster")
    assert(rows(0).getAs[java.sql.Timestamp]("ts") != null)
    assert(rows(1).getAs[java.sql.Timestamp]("ts") == null)
    assert(rows(1).getAs[String]("message") == "Container killed on request. Exit code is 137")
  }
}

class PositionalSpec extends AnyFunSuite {
  import graft.operators.Positional
  import org.apache.spark.sql.functions._
  lazy val spark = TestSession.spark

  test("withRowIndex is a contiguous 0-based index in key order, any partitioning") {
    import spark.implicits._
    val df = (0L until 1000L).map(i => (i * 7 % 1000, s"v$i")).toDF("k", "v")
      .repartition(7) // scramble
    val idx = Positional.withRowIndex(df, Seq($"k"), "idx")
    val got = idx.select($"k", $"idx").collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._2)
    assert(got.map(_._2).toSeq == (0L until 1000L).toSeq)
    assert(got.map(_._1).toSeq == got.map(_._1).sorted.toSeq)
  }

  test("tumbling assigns size-5 windows") {
    import spark.implicits._
    val df = (0L until 23L).toDF("k")
    val w = Positional.tumbling(df, Seq($"k"), 5)
    val counts = w.groupBy($"window_id").count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(counts == Map(0L -> 5L, 1L -> 5L, 2L -> 5L, 3L -> 5L, 4L -> 3L))
  }

  test("sliding: every row lands in exactly its owning windows (property)") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    for ((size, step) <- Seq((5L, 1L), (6L, 3L), (7L, 7L))) {
      val n = 40 + rnd.nextInt(30)
      val df = (0L until n.toLong).toDF("k")
      val got = Positional.sliding(df, Seq($"k"), size, step)
        .select($"k", $"window_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val expect = (for {
        i <- 0L until n.toLong
        w <- 0L to i / step if i < w * step + size && i >= w * step
      } yield (i, w)).toSet
      assert(got == expect, s"size=$size step=$step: sym diff ${(got diff expect) ++ (expect diff got)}")
    }
  }

  test("sliding(size=4, step=2) overlaps windows; step==size reduces to tumbling") {
    import spark.implicits._
    val df = (0L until 10L).toDF("k")
    val counts = Positional.sliding(df, Seq($"k"), 4, 2)
      .groupBy($"window_id").count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(counts == Map(0L -> 4L, 1L -> 4L, 2L -> 4L, 3L -> 4L, 4L -> 2L), s"$counts")
    val slid = Positional.sliding(df, Seq($"k"), 5, 5)
      .select($"k", $"window_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val tumb = Positional.tumbling(df, Seq($"k"), 5)
      .select($"k", $"window_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(slid == tumb)
  }
}
