package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.plans.AsOfJoin

/** The native whole-operator as-of join (AsOfJoinPlan/Exec): brute-force
  * equivalence on adversarial random data, plan shape (one merge node, no
  * window, co-partitioned exchanges), and degenerate inputs. */
class AsOfPlanSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  test("AsOfJoinExec equals the brute-force latest-prior match on random data") {
    import spark.implicits._
    val rnd = new scala.util.Random(193)
    // dense key+ts collisions: same generator contract as the union-trick
    // property test, so both formulations are held to the same reference
    val left = (1 to 800).map { i =>
      (rnd.nextInt(12).toLong, rnd.nextInt(1000).toLong, i.toLong) }
    val right = (1 to 300).map { j =>
      (rnd.nextInt(12).toLong, rnd.nextInt(1000).toLong, (1000 + j).toLong) }
    val l = left.toDF("k", "t", "lv")
    val r = right.toDF("k", "t", "rv")
    val joined = AsOfJoin.asOf(spark, l, r, "k", "t", "lv", "rv")
    assert(joined.columns.toSeq == Seq("k", "t", "lv", "asof_rv"))
    val got = joined.select($"lv", $"asof_rv").collect()
      .map(x => x.getLong(0) -> Option(x.get(1)).map(_.asInstanceOf[Long])).toMap
    left.foreach { case (k, t, lv) =>
      val expect = right.filter(e => e._1 == k && e._2 <= t) match {
        case Seq() => None
        case ms => Some(ms.maxBy(e => (e._2, e._3))._3)
      }
      assert(got(lv) == expect, s"left $lv: expected $expect got ${got(lv)}")
    }
  }

  test("native as-of plan is one merge node — no window, no union") {
    import spark.implicits._
    val l = Seq((1L, 10L, 1L)).toDF("k", "t", "lv")
    val r = Seq((1L, 5L, 7L)).toDF("k", "t", "rv")
    val plan = AsOfJoin.asOf(spark, l, r, "k", "t", "lv", "rv")
      .queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"), s"expected AsOfJoinExec in:\n$plan")
    assert(!plan.contains("Window"), s"no window expected in:\n$plan")
    assert(!plan.contains("Union"), s"no union expected in:\n$plan")
  }

  test("native as-of agrees with the union-trick formulation across 32 real partitions (AQE off)") {
    import spark.implicits._
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // enough keys that every shuffle partition carries many key boundaries
      val rnd = new scala.util.Random(31)
      val left = (1 to 50000).map { i =>
        (rnd.nextInt(500).toLong, rnd.nextInt(10000).toLong, i.toLong) }
      val right = (1 to 20000).map { j =>
        (rnd.nextInt(500).toLong, rnd.nextInt(10000).toLong, (100000 + j).toLong) }
      val l = left.toDF("k", "t", "lv").repartition(7) // ragged input partitioning
      val r = right.toDF("k", "t", "rv").repartition(13)
      val native = graft.plans.AsOfJoin.asOf(spark, l, r, "k", "t", "lv", "rv")
        .select($"lv", $"asof_rv").collect()
        .map(x => x.getLong(0) -> Option(x.get(1))).toMap
      val union = graft.operators.Temporal.asOfJoin(l, r, "k", "t", "lv", "rv")
        .select($"lv", $"asof_rv").collect()
        .map(x => x.getLong(0) -> Option(x.get(1))).toMap
      assert(native.size == left.size)
      assert(native == union)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("native as-of join is type-generic: string keys, timestamp ts, string values") {
    import spark.implicits._
    val l = Seq(("alpha", "2024-01-01 10:00:00", 1L),
                ("alpha", "2024-01-01 12:00:00", 2L),
                ("beta",  "2024-01-01 11:00:00", 3L))
      .toDF("k", "ts", "lv").withColumn("t", $"ts".cast("timestamp")).drop("ts")
    val r = Seq(("alpha", "2024-01-01 09:30:00", "early"),
                ("alpha", "2024-01-01 11:30:00", "late"),
                ("beta",  "2024-01-01 11:30:00", "future"))
      .toDF("k", "ts", "rv").withColumn("t", $"ts".cast("timestamp")).drop("ts")
    val got = graft.plans.AsOfJoin.asOf(spark, l, r, "k", "t", "lv", "rv")
      .orderBy($"lv").collect().map(x => Option(x.getString(3))).toSeq
    // alpha@10:00 ← early; alpha@12:00 ← late; beta@11:00 ← nothing prior
    assert(got == Seq(Some("early"), Some("late"), None))
  }

  test("a null-ts right row is skipped, not a merge blocker") {
    import spark.implicits._
    // null ts sorts FIRST within its key (Ascending default): if the merge
    // treated it as "in the future" it would block every valid right row
    // behind it and all three left rows would come back null
    val l = Seq((1L, 10L, 1L), (1L, 20L, 2L), (1L, 30L, 3L)).toDF("k", "t", "lv")
    val r = Seq((1L, Some(5L), 100L), (1L, None, 999L), (1L, Some(15L), 200L))
      .toDF("k", "t", "rv")
    val got = AsOfJoin.asOf(spark, l, r, "k", "t", "lv", "rv")
      .orderBy($"lv").collect().map(x => Option(x.get(3))).toSeq
    assert(got == Seq(Some(100L), Some(200L), Some(200L)))
    // and the union-trick formulation agrees on the same input
    val union = graft.operators.Temporal.asOfJoin(l, r, "k", "t", "lv", "rv")
      .orderBy($"lv").collect().map(x => Option(x.get(3))).toSeq
    assert(union == got)
  }

  test("mismatched key/ts types are an analysis error, not a silent wrong answer") {
    import spark.implicits._
    val l = Seq((1L, 10L, 1L)).toDF("k", "t", "lv")
    val rStrKey = Seq(("1", 5L, 7L)).toDF("k", "t", "rv")
    intercept[IllegalArgumentException] {
      AsOfJoin.asOf(spark, l, rStrKey, "k", "t", "lv", "rv")
    }
    val rTsType = Seq((1L, "2024-01-01 00:00:00", 7L)).toDF("k", "ts", "rv")
      .withColumn("t", $"ts".cast("timestamp")).drop("ts")
    intercept[IllegalArgumentException] {
      AsOfJoin.asOf(spark, l, rTsType, "k", "t", "lv", "rv")
    }
  }

  test("asOf never double-registers the strategy on an extensions-built session") {
    import spark.implicits._
    val l = Seq((1L, 10L, 1L)).toDF("k", "t", "lv")
    val r = Seq((1L, 5L, 7L)).toDF("k", "t", "rv")
    AsOfJoin.asOf(spark, l, r, "k", "t", "lv", "rv").collect()
    // GraftSession injects the strategy via injectPlannerStrategy, the one
    // path that installs it; the experimental list stays untouched
    assert(!spark.experimental.extraStrategies.contains(graft.plans.AsOfJoinStrategy),
      "strategy registered twice: extension injection + experimental list")
  }

  test("asOf on a session built without the extensions fails and names them") {
    // create() always builds a new session on the running context, with
    // only the extensions its own builder names: here none
    val bare = org.apache.spark.sql.SparkSession.builder().create()
    try {
      import bare.implicits._
      val l = Seq((1L, 10L, 1L)).toDF("k", "t", "lv")
      val r = Seq((1L, 5L, 7L)).toDF("k", "t", "rv")
      val e = intercept[IllegalArgumentException] {
        AsOfJoin.asOf(bare, l, r, "k", "t", "lv", "rv")
      }
      assert(e.getMessage.contains("spark.sql.extensions=graft.GraftExtensions"))
      assert(bare.experimental.extraStrategies.isEmpty)
    } finally {
      org.apache.spark.sql.SparkSession.setDefaultSession(spark)
      org.apache.spark.sql.SparkSession.setActiveSession(spark)
    }
  }

  test("native as-of join: empty right side, unmatched keys, self-join") {
    import spark.implicits._
    val l = Seq((1L, 10L, 1L), (2L, 20L, 2L)).toDF("k", "t", "lv")
    val empty = Seq.empty[(Long, Long, Long)].toDF("k", "t", "rv")
    val gotEmpty = AsOfJoin.asOf(spark, l, empty, "k", "t", "lv", "rv").collect()
    assert(gotEmpty.length == 2 && gotEmpty.forall(_.isNullAt(3)))

    val r = Seq((9L, 1L, 5L)).toDF("k", "t", "rv") // key matches nothing
    val gotMiss = AsOfJoin.asOf(spark, l, r, "k", "t", "lv", "rv").collect()
    assert(gotMiss.length == 2 && gotMiss.forall(_.isNullAt(3)))

    // self-join: duplicate attribute ids must be re-aliased internally
    val df = Seq((1L, 10L, 100L), (1L, 20L, 200L)).toDF("k", "t", "v")
    val self = AsOfJoin.asOf(spark, df.withColumnRenamed("v", "lv"),
      df.withColumnRenamed("v", "rv"), "k", "t", "lv", "rv")
      .orderBy($"t").collect()
    assert(self.map(r => Option(r.get(3))).toSeq == Seq(Some(100L), Some(200L)))
  }
}
