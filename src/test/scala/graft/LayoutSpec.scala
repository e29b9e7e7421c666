package graft

import org.apache.spark.sql.functions._
import graft.sources.Layout

/** Physical layout: z-order clustering (Layout). The z-value
  * arithmetic is also under the q89 oracle; here the SPATIAL claim is
  * measured directly — a z-ordered write must make every file narrow in
  * EVERY interleaved dimension, which single-column sorting cannot do. */
class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("interleave places bit i of column j at position i*ncols+j") {
    // a=0b10, b=0b01, bits=2 → z = (a₀<<0)|(b₀<<1)|(a₁<<2)|(b₁<<3) = 6
    val out = Seq((2L, 1L)).toDF("a", "b")
      .select(Layout.interleave(Seq(col("a"), col("b")), 2).as("z"))
      .head.getLong(0)
    assert(out == 6L)
    // bits × cols > 62 is a loud failure, not silent truncation
    intercept[IllegalArgumentException] {
      Layout.interleave(Seq(col("a"), col("b")), 32)
    }
  }

  test("zorderValue quantizes in pure long arithmetic; NULLs land at 0") {
    // x spans [0,3] so at bits=2 the quantizer is the identity —
    // __zval is the hand-computable interleave of (x, 3-x)
    val df = Seq[(java.lang.Long, java.lang.Long)](
      (0L, 3L), (1L, 2L), (2L, 1L), (3L, 0L), (null, 3L))
      .toDF("x", "y")
    val z = Layout.zorderValue(df, Seq("x", "y"), bits = 2)
      .select("x", "__zval").collect()
      .map(r => Option(r.get(0)) -> r.getLong(1)).toMap
    // x=0,y=3: y bits at odd positions → 0b1010 = 10; x=3,y=0 → 0b0101=5
    assert(z(Some(0L)) == 10L)
    assert(z(Some(3L)) == 5L)
    // x=1(01),y=2(10): bit0(x)=1<<0, bit0(y)=0, bit1(x)=0, bit1(y)=1<<3 → 9
    assert(z(Some(1L)) == 9L)
    assert(z(Some(2L)) == 6L)
    // NULL x quantizes to 0: z = interleave(0, q(y=3)=3) = 0b1010 = 10
    assert(z(None) == 10L)
  }

  test("z-ordered files are narrow in BOTH dimensions; a 1-column sort is not") {
    // two independent uniform keys — the adversarial case for
    // single-key layout (sorting by x leaves y full-range in every file)
    val n = 4096
    val df = spark.range(n.toLong).select(
      (col("id") % 64).as("x"), expr("id DIV 64").as("y"))
    def fileRanges(path: String): Seq[(Long, Long)] = {
      val files = new java.io.File(path).listFiles()
        .filter(f => f.getName.endsWith(".parquet")).map(_.toString).toSeq
      files.map { f =>
        val r = spark.read.parquet(f)
          .agg(max("x") - min("x"), max("y") - min("y")).head
        (r.getLong(0), r.getLong(1))
      }
    }
    val zdir = java.nio.file.Files.createTempDirectory("graft-z").toString + "/t"
    Reference.writeZOrdered(df, zdir, Seq("x", "y"), numFiles = 16, bits = 6)
    val zr = fileRanges(zdir)
    assert(zr.size > 8, s"expected ~16 files, got ${zr.size}")
    // rows survive the layout change
    assert(spark.read.parquet(zdir).count() == n)
    // 16 files over a 64×64 z-grid → each file covers ~a 16×16 tile;
    // allow 2× slack for range-partition boundaries crossing tiles
    val (xa, ya) = (zr.map(_._1).sum / zr.size, zr.map(_._2).sum / zr.size)
    assert(xa <= 32, s"mean per-file x-range $xa — z-order not clustering x")
    assert(ya <= 32, s"mean per-file y-range $ya — z-order not clustering y")
    // the single-key baseline: sorted by x alone, y stays full-range
    val xdir = java.nio.file.Files.createTempDirectory("graft-x").toString + "/t"
    df.repartitionByRange(16, col("x")).sortWithinPartitions("x")
      .write.parquet(xdir)
    val yb = fileRanges(xdir).map(_._2).sum / 16
    assert(yb >= 48, s"baseline y-range $yb should be ~full-domain (63)")
  }
}
