package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import java.sql.Timestamp

import graft.analyze.RobustStats
import graft.sim.IntrinsicDim

/** Exponential-gap Lilliefors and TwoNN intrinsic dimension. */
class GapDimSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  private def at(sec: Long) =
    new Timestamp(Timestamp.valueOf("2024-01-01 00:00:00").getTime + sec * 1000)

  test("exp-gap lilliefors: genuinely exponential gaps fit, regular gaps don't") {
    import spark.implicits._
    val rnd = new scala.util.Random(43)
    // one user, exponential inter-arrivals (inverse-CDF sampling)
    var t = 0L
    val expo = (0 until 400).map { _ =>
      t += math.max(1, math.rint(-600 * math.log(rnd.nextDouble())).toLong)
      (1L, at(t))
    }
    val re = RobustStats.lillieforsExponential(expo.toDF("u", "ts"),
      col("u"), col("ts")).head
    assert(re.getAs[Long]("n_gaps") == 399L)
    assert(re.getAs[Double]("sqrt_n_d") < 1.2,
      s"exponential gaps must pass: ${re}")
    // metronome arrivals: every 600 s exactly — wildly non-exponential
    val tick = (0 until 400).map(i => (1L, at(i * 600L)))
    val rt = RobustStats.lillieforsExponential(tick.toDF("u", "ts"),
      col("u"), col("ts")).head
    assert(rt.getAs[Double]("sqrt_n_d") > 5.0)
  }

  test("exp-gap lilliefors: gaps never cross user boundaries") {
    import spark.implicits._
    // two users, each with 3 events — 4 gaps total, none spanning users
    val rows = Seq((1L, at(0)), (1L, at(10)), (1L, at(30)),
      (2L, at(5)), (2L, at(6)), (2L, at(106)))
    val r = RobustStats.lillieforsExponential(rows.toDF("u", "ts"),
      col("u"), col("ts")).head
    assert(r.getAs[Long]("n_gaps") == 4L)
    // mean of {10, 20, 1, 100} seconds
    assert(math.abs(r.getAs[Double]("mean_gap_sec") - 32.75) < 1e-9)
  }

  test("twonn under the cosine metric tracks DIRECTION-space dimension") {
    import spark.implicits._
    val rnd = new scala.util.Random(47)
    // cosine distance lives on the unit sphere: k free direction dims
    // span the (k−1)-sphere, so the estimate must grow with k and sit
    // in the right neighborhood at both ends
    def cloud(freeDims: Int) = (0 until 400).map { i =>
      val v = Array.tabulate(16)(j =>
        if (j < freeDims) (rnd.nextGaussian() * 0.3 + 1.0).toFloat else 0.0f)
      (i.toLong, v)
    }
    def id(freeDims: Int): Double =
      IntrinsicDim.twoNn(cloud(freeDims).toDF("vec_id", "embedding"),
        "vec_id", "embedding").head.getAs[Double]("id_mle")
    val id2 = id(2)   // circle arc: ~1-d manifold
    val id9 = id(9)   // 8-sphere patch: high-d manifold
    assert(id2 > 0.4 && id2 < 2.2, s"2 free dims should read ~1-d, got $id2")
    assert(id9 > 3.5, s"9 free dims should read clearly higher, got $id9")
    assert(id9 > id2 * 2)
  }

  test("pinned cosine: adversarial near-ties resolve identically to the integer reference") {
    import spark.implicits._
    // b and c are built so their UNPINNED cosines to a differ only in
    // the last ulps (a sub-1e-15 perturbation on one component): the
    // exact engine-side accumulation order decides which is "nearer" on
    // a plain double fold. The pinned cosine must instead equal the
    // integer-reference value exactly — for every pair, on every
    // partitioning — so the neighbor order is a theorem, not a race.
    val base = Array.tabulate(16)(j => (0.1f * (j % 5) + 0.05f))
    val b = base.clone(); b(3) = b(3) + 1e-7f
    val c = base.clone(); c(7) = c(7) + 1e-7f
    val rows = Seq((1L, base), (2L, b), (3L, c)).toDF("id", "v")
    def ref(x: Array[Float], y: Array[Float]): Double = {
      var d = 0L; var nx = 0L; var ny = 0L
      var i = 0
      while (i < 16) {
        d += graft.functions.PinnedCosine.q9(x(i).toDouble * y(i).toDouble)
        nx += graft.functions.PinnedCosine.q9(x(i).toDouble * x(i).toDouble)
        ny += graft.functions.PinnedCosine.q9(y(i).toDouble * y(i).toDouble)
        i += 1
      }
      d.toDouble / math.sqrt(nx.toDouble * ny.toDouble)
    }
    val got = rows.alias("a").join(rows.alias("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("ia"), col("b.id").as("ib"),
        call_function(graft.functions.PinnedCosine.Name,
          col("a.v"), col("b.v")).as("cos"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val vecs = Map(1L -> base, 2L -> b, 3L -> c)
    got.foreach { case ((ia, ib), cos) =>
      assert(cos == ref(vecs(ia), vecs(ib)), s"pair ($ia,$ib) not bit-equal")
    }
    // and the estimator built on it is partition-invariant
    val r1 = IntrinsicDim.twoNn(rows.toDF("vec_id", "embedding"),
      "vec_id", "embedding").head
    val r32 = IntrinsicDim.twoNn(rows.repartition(32).toDF("vec_id", "embedding"),
      "vec_id", "embedding").head
    assert(r1 == r32)
  }

  test("twonn drops exact duplicates and reports them") {
    import spark.implicits._
    val v = Array.fill(8)(0.3f)
    val pts = Seq((1L, v), (2L, v), (3L, v)) ++
      (4 to 20).map(i => (i.toLong,
        Array.tabulate(8)(j => (0.1 * ((i + j) % 7) + 0.1).toFloat)))
    val r = IntrinsicDim.twoNn(pts.toDF("vec_id", "embedding"),
      "vec_id", "embedding").head
    // the three identical vectors have r1 = 0 → dropped
    assert(r.getAs[Long]("n_dropped") >= 3L)
  }
}
