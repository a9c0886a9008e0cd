package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.TopK

/** Native graft_topk aggregate vs the ranking-window brute force. */
class TopKSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import spark.implicits._

  private def viaTopK(df: org.apache.spark.sql.DataFrame, k: Int) = {
    df.groupBy("g")
      .agg(call_function(TopK.Name, col("v"), col("id"), lit(k)).as("top"))
      .select(col("g"), posexplode(col("top")))
      .select(col("g"), (col("pos") + 1).as("rn"),
        col("col.value").as("v"), col("col.tag").as("id"))
  }

  private def viaWindow(df: org.apache.spark.sql.DataFrame, k: Int) = {
    val w = Window.partitionBy("g").orderBy(col("v").desc, col("id"))
    df.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("g"), col("rn"), col("v"), col("id"))
  }

  test("topk equals the ranking window, including ties, any partitioning") {
    // values with deliberate ties (v = i/7 collides), 4 groups
    val rows = (1 to 500).map(i => (s"g${i % 4}", (i % 7).toDouble, i.toLong))
    for (parts <- Seq(1, 13)) {
      val df = rows.toDF("g", "v", "id").repartition(parts)
      val a = viaTopK(df, 5).orderBy("g", "rn").collect().toSeq
      val b = viaWindow(df, 5).orderBy("g", "rn").collect().toSeq
      assert(a == b, s"parts=$parts")
    }
  }

  test("topk with k larger than the group returns the whole group sorted") {
    val df = Seq(("a", 1.0, 1L), ("a", 3.0, 2L), ("b", 2.0, 3L)).toDF("g", "v", "id")
    val got = viaTopK(df, 10).orderBy("g", "rn")
      .as[(String, Int, Double, Long)].collect().toSeq
    assert(got == Seq(("a", 1, 3.0, 2L), ("a", 2, 1.0, 1L), ("b", 1, 2.0, 3L)))
  }

  test("topk resolves in SQL text through GraftExtensions") {
    Seq(("a", 5.0, 9L)).toDF("g", "v", "id").createOrReplaceTempView("tk")
    val got = spark.sql(
      s"SELECT ${TopK.Name}(v, id, 2) AS top FROM tk GROUP BY g").head
    assert(got.getSeq[org.apache.spark.sql.Row](0).head.getDouble(0) == 5.0)
  }

  test("topk has a total order on NaN: NaN ranks largest, never poisons the heap") {
    // regression: raw >/== comparisons let a NaN admitted during heap
    // fill squat at the head and reject every later candidate; the
    // window form (Spark sort: NaN greatest) must stay the semantics.
    val nan = Double.NaN
    // NaN arrives FIRST (heap fills with it), then real values that must
    // still displace nothing-but-rank-below-it; also ties around -0.0/0.0
    val rows = Seq(
      ("a", nan, 1L), ("a", 5.0, 2L), ("a", 7.0, 3L), ("a", 6.0, 4L),
      ("a", nan, 5L), ("a", -0.0, 6L), ("a", 0.0, 7L))
    for (parts <- Seq(1, 4)) {
      val df = rows.toDF("g", "v", "id").repartition(parts)
      val got = viaTopK(df, 4).orderBy("rn")
        .as[(String, Int, Double, Long)].collect().toSeq
      // NaN first (tag ASC breaks the NaN tie), then 7, 6
      assert(got.map(_._4) == Seq(1L, 5L, 3L, 4L), s"parts=$parts got=$got")
      assert(got.take(2).forall(_._3.isNaN), s"parts=$parts got=$got")
    }
    // -0.0 vs 0.0 tie: Spark sorts them equal, so tag ASC decides
    val z = Seq(("a", 0.0, 9L), ("a", -0.0, 8L)).toDF("g", "v", "id")
    val gotZ = viaTopK(z, 1).as[(String, Int, Double, Long)].collect().toSeq
    assert(gotZ.map(_._4) == Seq(8L), s"got=$gotZ")
  }

  test("heap-rank id contract: non-integral id columns are rejected at plan time") {
    import spark.implicits._
    val strIds = Seq(("q1", "docA", 0.5)).toDF("qid", "id", "sim")
    val e = intercept[IllegalArgumentException] {
      TopK.requireIntegralId(strIds, "id", "testCaller")
    }
    assert(e.getMessage.contains("testCaller") && e.getMessage.contains("string"))
    // integral types pass silently
    TopK.requireIntegralId(Seq(("q1", 7L, 0.5)).toDF("qid", "id", "sim"), "id", "t")
    TopK.requireIntegralId(Seq(("q1", 7, 0.5)).toDF("qid", "id", "sim"), "id", "t")
  }

  test("topk ignores null values and tags") {
    val df = Seq(("a", Some(1.0), Some(1L)), ("a", None, Some(2L)),
      ("a", Some(9.0), None)).toDF("g", "v", "id")
    val got = viaTopK(df, 3).collect()
    assert(got.length == 1 && got.head.getAs[Double]("v") == 1.0)
  }
}
