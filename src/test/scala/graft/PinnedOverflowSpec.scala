package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ml.{PinnedAls, PinnedPca}

/** The pinned-integer operators multiply and sum in `long`. Outside their
  * envelope they must fail with Spark's ANSI overflow error, never return
  * rows computed from a wrapped value. */
class PinnedOverflowSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  private def assertOverflows(body: => Any): Unit = {
    val e = intercept[Exception](body)
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(t => Option(t.getMessage).exists(_.contains("ARITHMETIC_OVERFLOW"))),
      s"expected ARITHMETIC_OVERFLOW, got $e")
  }

  test("GraftSession pins ANSI mode") {
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
  }

  test("PinnedAls: a rating whose Gram term passes 2^63 throws instead of wrapping") {
    import spark.implicits._
    // rating 1e13 times the initial factor 1e6 (1.0 on the 1e-6 grid) is
    // 1e19 > 2^63 ≈ 9.22e18 in the first half-step's Σ r·v
    val ratings = Seq((1L, 10L, 10000000000000L), (1L, 11L, 1L), (2L, 10L, 1L))
      .toDF("user", "item", "rating")
    assertOverflows(PinnedAls.itemFactors(ratings, 0.1, 1).collect())
  }

  test("PinnedPca: a centred coordinate product past 2^63 throws instead of wrapping") {
    import spark.implicits._
    // coordinates ±5 centre to |c9| = 5e9 on the 1e-9 grid; c9² = 2.5e19
    val emb = Seq((1L, Seq(5.0, 0.0)), (2L, Seq(-5.0, 0.1)), (3L, Seq(0.0, -0.1)))
      .toDF("id", "vec")
    assertOverflows(PinnedPca.project(emb, "id", "vec", 1).collect())
  }
}
