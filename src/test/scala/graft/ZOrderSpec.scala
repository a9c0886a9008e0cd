package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.functions.ZValue
import graft.sources.{Sinks, Tables}

/** Z-order layout: the native Morton-interleave expression and the
  * file-level min/max tightening that makes z-ordered parquet prunable
  * on either dimension. */
class ZOrderSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  test("interleave: known vectors and bit-level structure") {
    // x=1010b on even bits, y=0110b on odd bits → 1101100b = 108
    assert(ZValue.interleave(10L, 6L) == 108L)
    assert(ZValue.interleave(0L, 0L) == 0L)
    assert(ZValue.interleave(1L, 0L) == 1L)
    assert(ZValue.interleave(0L, 1L) == 2L)
    // full 32-bit range: top x bit lands on bit 62, top y bit on 63
    assert(ZValue.interleave(0x80000000L, 0L) == 0x4000000000000000L)
    assert(ZValue.interleave(0L, 0x80000000L) == (1L << 63))
    // reference: per-bit reassembly for a spread of values
    for (x <- Seq(0L, 3L, 77L, 65535L, 123456789L); y <- Seq(0L, 5L, 40000L)) {
      var expect = 0L
      (0 until 32).foreach { i =>
        expect |= ((x >> i) & 1L) << (2 * i)
        expect |= ((y >> i) & 1L) << (2 * i + 1)
      }
      assert(ZValue.interleave(x, y) == expect, s"($x, $y)")
    }
    intercept[IllegalArgumentException](ZValue.interleave(-1L, 0L))
  }

  test("graft_zvalue resolves in SQL and matches the static computation") {
    import spark.implicits._
    val got = Seq((10L, 6L), (255L, 255L), (1000L, 1L))
      .toDF("x", "y")
      .selectExpr("x", "y", s"${ZValue.Name}(x, y) AS z")
      .as[(Long, Long, Long)].collect()
    got.foreach { case (x, y, z) => assert(z == ZValue.interleave(x, y)) }
  }

  test("writeZOrdered tightens per-file min/max ranges on BOTH dimensions") {
    val dir = java.nio.file.Files.createTempDirectory("zorder").toString
    // COMPARABLE dimension domains (both mod 128): z-ordering splits on
    // the interleaved high bits, so a dimension whose domain is much
    // narrower than the other's contributes no high bits and gets no
    // clustering — normalize scales before z-ordering, here and at 100 TB
    val df = Tables.orders(spark, TestSession.sf)
      .select(col("o_orderkey"), (col("o_custkey") % 128).as("x"),
        (col("o_orderkey") % 128).as("y"))
    val nFiles = 16
    Sinks.writeZOrdered(df, s"$dir/zorder", "x", "y", nFiles)
    df.repartition(nFiles).write.mode("overwrite").parquet(s"$dir/plain")
    // footprint = Σ over files of (max − min): the span a min/max zone
    // map would have to admit for a point predicate on that column
    def footprint(path: String, c: String): Long = {
      val files = new java.io.File(path).listFiles()
        .filter(_.getName.endsWith(".parquet"))
      assert(files.length >= nFiles - 1, s"expected ~$nFiles files at $path")
      files.map { f =>
        val r = spark.read.parquet(f.getPath)
          .agg(min(col(c)).cast("long"), max(col(c)).cast("long")).head()
        r.getLong(1) - r.getLong(0)
      }.sum
    }
    val (zx, px) = (footprint(s"$dir/zorder", "x"), footprint(s"$dir/plain", "x"))
    val (zy, py) = (footprint(s"$dir/zorder", "y"), footprint(s"$dir/plain", "y"))
    // round-robin files each span ~the full domain; z-ordered files cover
    // rectangles — materially tighter on both dimensions at once
    assert(zx * 2 < px, s"x: zorder=$zx plain=$px")
    assert(zy * 2 < py, s"y: zorder=$zy plain=$py")
    // the layout is a permutation: nothing lost or duplicated
    assert(spark.read.parquet(s"$dir/zorder").count() == df.count())
  }
}
