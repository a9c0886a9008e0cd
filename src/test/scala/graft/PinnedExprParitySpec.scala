package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.functions.{PinnedKmeansBest, PinnedSeedArgmin}

/** Interpreted-vs-codegen parity for the session's new native
  * expressions: production plans run the generated code, so the
  * `nullSafeEval` path would otherwise go unexercised — and a silent
  * divergence there would only surface the day a plan falls back to
  * interpreted mode. Each test evaluates the same inputs through a
  * DataFrame (whole-stage codegen) and through direct `eval` on
  * catalyst rows, and also pins the documented tie/NaN semantics. */
class PinnedExprParitySpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  private def lit2d(xss: Seq[Seq[Long]]) =
    org.apache.spark.sql.catalyst.expressions.Literal.create(
      xss, org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType, false), false))

  test("PinnedKmeansBest: eval matches the codegen'd DataFrame path") {
    import spark.implicits._
    val cents: Seq[Seq[Long]] =
      Seq(Seq(1000000000L, 0L), Seq(0L, 1000000000L), Seq(707106781L, 707106781L))
    val rows = Seq(
      (1L, Seq(900000L, 100000L), 820000000000L),
      (2L, Seq(100000L, 900000L), 820000000000L),
      (3L, Seq(500000L, 500000L), 500000000000L),
      (4L, Seq(0L, 0L), 0L)) // degenerate: nv12 = 0 -> cluster 0, sim 0.0
    val df = rows.toDF("id", "v6", "nv12")
      .select(col("id"), call_function(PinnedKmeansBest.Name,
        col("v6"), col("nv12"), typedlit(cents)).as("m"))
      .select(col("id"), col("m.cluster"), col("m.sim"))
    val viaCodegen = df.collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    val viaEval = rows.map { case (id, v6, nv12) =>
      val e = PinnedKmeansBest(
        org.apache.spark.sql.catalyst.expressions.Literal.create(v6,
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType, false)),
        org.apache.spark.sql.catalyst.expressions.Literal(nv12),
        lit2d(cents))
      val r = e.eval(null).asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
      (id, r.getInt(0), r.getDouble(1))
    }
    assert(viaCodegen == viaEval)
    assert(viaCodegen.find(_._1 == 4L).get._2 == 0) // degenerate -> cluster 0
    assert(viaCodegen.find(_._1 == 1L).get._2 == 0)
    assert(viaCodegen.find(_._1 == 2L).get._2 == 1)
  }

  test("PinnedSeedArgmin: eval matches codegen; ties break to the smaller seed id") {
    import spark.implicits._
    // seed 7 and seed 9 are IDENTICAL vectors: every point ties between
    // them and must pick 7 (ascending-id seed order, strict improvement)
    val sids: Seq[Long] = Seq(7L, 9L, 11L)
    val svs: Seq[Seq[Double]] = Seq(Seq(1.0, 0.0), Seq(1.0, 0.0), Seq(0.0, 1.0))
    val rows = Seq(
      (1L, Seq(0.9f, 0.1f)),
      (2L, Seq(0.1f, 0.9f)),
      (3L, Seq(0.0f, 0.0f))) // zero norm: NaN cosine -> d6 = 0 everywhere -> seed 7
    val df = rows.toDF("id", "v")
      .select(col("id"), call_function(PinnedSeedArgmin.Name,
        col("v"), typedlit(sids), typedlit(svs)).as("sid"))
    val viaCodegen = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val viaEval = rows.map { case (id, v) =>
      val e = PinnedSeedArgmin(
        org.apache.spark.sql.catalyst.expressions.Literal.create(v,
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType, false)),
        org.apache.spark.sql.catalyst.expressions.Literal.create(sids,
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType, false)),
        org.apache.spark.sql.catalyst.expressions.Literal.create(svs,
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType, false), false)))
      (id, e.eval(null).asInstanceOf[Long])
    }
    assert(viaCodegen == viaEval)
    assert(viaCodegen.find(_._1 == 1L).get._2 == 7L) // tie -> smaller sid
    assert(viaCodegen.find(_._1 == 2L).get._2 == 11L)
    assert(viaCodegen.find(_._1 == 3L).get._2 == 7L) // NaN -> d6 0 -> first seed
  }
}
