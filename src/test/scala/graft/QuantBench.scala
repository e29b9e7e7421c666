package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sim.Ann

/** Measures what int8 scalar quantization actually buys at growing
  * corpus sizes: on-disk parquet bytes (the scan-volume proxy — at
  * 100 TB the embedding scan IS the cost) and brute-force top-k wall
  * for the float-cosine path (q25's plan) vs the integer-grid path
  * (q113's plan), same 25-query probe set. The quantized corpus is
  * written once (build-side, off the clock — the codebook + quantize
  * pass amortizes like any index build).
  *
  * Vectors: dim-64 closed-form FULL-PRECISION floats in [-1, 1]
  * (xxhash64 scaled by 2⁻⁶³, no UDF). Full precision matters for the
  * bytes claim: a low-cardinality fixture (first attempt: 10⁴ distinct
  * values/dim) lets parquet dictionary-encode the FLOAT side too and
  * understates the ratio at 1.8× — real embeddings are near-unique
  * floats and effectively incompressible.
  *
  *   sbt "Test/runMain graft.QuantBench [runs] [vecN ...]"
  */
object QuantBench {
  private val DIM = 64

  private def vecs(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).toDF("vec_id")
      .withColumn("embedding", expr(
        s"""transform(sequence(0, ${DIM - 1}),
           |  j -> cast(cast(xxhash64(vec_id, j) as double)
           |            / 9.223372036854776e18 as float))"""
          .stripMargin))

  /** CLUSTERED UNIT-NORM vectors — the shape real embeddings have and
    * the uniform-random fixture above deliberately lacks (its recall
    * numbers are the disclosed worst-case floor): vector i = center
    * (i mod `clusters`) + per-vector noise — centers are UNIFORM in
    * [-1, 1] per coordinate (xxhash64 / 2⁶³), noise ±0.2 per
    * coordinate (r12 ADVICE: an earlier wording claimed ±1 centers;
    * between-cluster separation is the uniform-difference kind, not
    * saturated corners — the pinned floors were measured on THIS
    * geometry) — then L2-normalized, all closed-form xxhash64 (no
    * UDF, deterministic).
    * Within-cluster cosines ≈ 1, cross-cluster ≈ random, so the float
    * top-10 of any query is its own cluster's members and recall
    * measures whether a quantized/pruned probe keeps finding THEM.
    * Unit norm matters: the quantized paths rank by integer L2, the
    * float path by cosine, and only on the unit sphere do the two
    * orders coincide — un-normalized vectors add a metric gap that
    * caps recall near 0.7 for EVERY layout at once (measured while
    * building this fixture), hiding the quantization signal. */
  private[graft] def clusteredVecs(spark: SparkSession, n: Long,
      clusters: Int): DataFrame =
    spark.range(n).toDF("vec_id")
      .withColumn("__raw", expr(
        s"""transform(sequence(0, ${DIM - 1}),
           |  j -> cast(xxhash64(vec_id % $clusters, j) as double)
           |         / 9.223372036854776e18
           |    + 0.2 * cast(xxhash64(vec_id, j) as double)
           |      / 9.223372036854776e18)"""
          .stripMargin))
      .withColumn("embedding", expr(
        """transform(__raw, x -> cast(x / sqrt(aggregate(__raw,
          |  cast(0.0 as double), (a, y) -> a + y * y)) as float))"""
          .stripMargin))
      .drop("__raw")

  private def dirBytes(p: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isFile) f.length
      else Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L)
    walk(new java.io.File(p))
  }

  def main(args: Array[String]): Unit = {
    val runs = args.headOption.flatMap(_.toIntOption).getOrElse(2)
    val scales =
      if (args.drop(1).nonEmpty) args.drop(1).toSeq.map(_.toLong)
      else Seq(100000L, 300000L, 1000000L)
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val load = scala.util.Try(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg"))).trim).getOrElse("?")
    println(s"[quant] loadavg at start: $load")

    val tmp = java.nio.file.Files.createTempDirectory("graft-quant")
    try {
      for (n <- scales) {
        val fPath = s"$tmp/float$n"
        vecs(spark, n).write.parquet(fPath)
        val fl = spark.read.parquet(fPath)
        // build side, off the clock: codebook + quantize + write
        val qPath = s"$tmp/q$n"
        val tb0 = System.nanoTime()
        Ann.quantizeInt8(fl, "embedding", Ann.int8Params(fl, "embedding"))
          .select("vec_id", "qvec").write.parquet(qPath)
        val buildS = (System.nanoTime() - tb0) / 1e9
        val qv = spark.read.parquet(qPath)
        val fB = dirBytes(fPath); val qB = dirBytes(qPath)
        println(f"[quant] n=$n%-9d floatMB=${fB / 1048576.0}%8.1f " +
          f"int8MB=${qB / 1048576.0}%8.1f ratio=${fB.toDouble / qB}%5.2f " +
          f"(quantize+write $buildS%6.3f s, one-time)")

        def measure(mode: String, run: () => Long): Unit = {
          val samples = (1 to runs).map { _ =>
            val t0 = System.nanoTime()
            val rows = run()
            spark.catalog.clearCache()
            ((System.nanoTime() - t0) / 1e9, rows)
          }
          println(f"[quant] n=$n%-9d mode=$mode%-6s " +
            f"min=${samples.map(_._1).min}%7.3f rows=${samples.head._2} " +
            s"samples=${samples.map(s => f"${s._1}%.3f").mkString(",")}")
        }
        // PQ build side, off the clock like the SQ8 build: codebooks fit
        // on a BOUNDED sample (the documented codebook practice — fit
        // quality saturates far below corpus size; the fit must not
        // scale with n), then the whole corpus encodes to m-byte codes
        val pqPath = s"$tmp/pq$n"
        val tp0 = System.nanoTime()
        val cb = Ann.pqCodebooks(
          fl.filter(col("vec_id") % ((n / 50000L) max 1L) === 0),
          "vec_id", "embedding", m = 8, ksub = 256)
        Ann.encodePq(fl, "embedding", cb, "codes")
          .select("vec_id", "codes").write.parquet(pqPath)
        val pqBuildS = (System.nanoTime() - tp0) / 1e9
        val pq = spark.read.parquet(pqPath)
        val pqB = dirBytes(pqPath)
        println(f"[quant] n=$n%-9d pqMB=${pqB / 1048576.0}%8.1f " +
          f"ratio_vs_float=${fB.toDouble / pqB}%5.2f " +
          f"ratio_vs_int8=${qB.toDouble / pqB}%5.2f " +
          f"(fit+encode+write $pqBuildS%6.3f s, one-time)")

        measure("float", () => Ann.bruteForceTopK(
          fl.filter(col("vec_id") % (n / 25) === 0), fl,
          "vec_id", "embedding", "vec_id", "embedding", k = 10).count())
        measure("int8", () => Ann.quantizedTopK(
          qv.filter(col("vec_id") % (n / 25) === 0), qv,
          "vec_id", "qvec", "vec_id", "qvec", k = 10).count())
        measure("pq", () => Ann.pqTopKEncoded(
          fl.filter(col("vec_id") % (n / 25) === 0), pq, cb,
          "vec_id", "embedding", "vec_id", "codes", k = 10).count())

        // recall@10 against the float-cosine ground truth — the quality
        // half of each compression's trade (the byte/wall halves are
        // above). Both quantized rankings are EXACT under their own
        // metric; recall measures how much of the float answer that
        // metric preserves. READ THE NUMBER IN CONTEXT: this corpus is
        // uniform-random vectors, the recall WORST case — the float
        // top-10 is a noise-ranking of near-ties (all cosines ≈ 0.3)
        // and there is no cluster structure for PQ codebooks to learn,
        // so the measured 0.59 (int8) / 0.22 (pq at m=8, ksub=256) are
        // floors, not expectations for real embeddings (FAISS reports
        // the same cliff on random data). The recall that matters for
        // DEDUP — identical/near-identical vectors — is deterministic
        // (same codes → ADC floor) and spec-pinned in GraphDedupSpec's
        // planted-duplicate cases; raise m for finer grids when
        // retrieval (not dedup) is the workload.
        val qs = fl.filter(col("vec_id") % (n / 25) === 0)
        val truth = Ann.bruteForceTopK(qs, fl, "vec_id", "embedding",
          "vec_id", "embedding", k = 10).select("query_id", "neighbor_id")
        val nTruth = truth.count().toDouble
        def recall(hits: DataFrame): Double = hits
          .select("query_id", "neighbor_id")
          .join(truth, Seq("query_id", "neighbor_id"), "left_semi")
          .count() / nTruth
        val rSq8 = recall(Ann.quantizedTopK(
          qv.filter(col("vec_id") % (n / 25) === 0), qv,
          "vec_id", "qvec", "vec_id", "qvec", k = 10))
        val rPq = recall(Ann.pqTopKEncoded(qs, pq, cb,
          "vec_id", "embedding", "vec_id", "codes", k = 10))
        println(f"[quant] n=$n%-9d recall@10 vs float: int8=$rSq8%.3f " +
          f"pq=$rPq%.3f (m=8, ksub=256)")
        spark.catalog.clearCache()
      }

      // ---- clustered recall (round 12): the nprobe → recall@10 curve
      // on CLUSTERED vectors for the three persisted quantized
      // layouts. The uniform-random recalls above are the disclosed
      // worst-case floor (no structure to preserve); these fixtures
      // have the structure real embeddings have, so they are the
      // numbers to size nprobe from (recorded in SCALE.md; floors
      // pinned in GraphDedupSpec so a codebook/probe regression trips
      // a test). Two regimes:
      //   - ALIGNED (clusters = nlist): every natural cluster sits
      //     inside one k-means cell, so pruning is FREE — the curve is
      //     flat from nprobe=1 and the table's story is each metric's
      //     recall, not the cell count's. Residuals ≈ the
      //     within-cluster noise, exactly the structure the residual
      //     train step exists to encode (nlist ≪ clusters leaves
      //     between-cluster offsets in the residuals and PQR degrades
      //     to raw PQ — measured while building the spec fixture).
      //   - OVER-PARTITIONED (nlist ≫ clusters — the realistic 100-TB
      //     setting, where nlist is thousands): k-means SPLITS each
      //     natural cluster across ~nlist/clusters cells, a query's
      //     true neighbors straddle them, and recall climbs with
      //     nprobe — the curve readers size nprobe from.
      def recallCurve(label: String, clusters: Int, nlist: Int,
          ksub: Int, probes: Seq[Int], m: Int = 8): Unit = {
        val cn = 100000L
        val cPath = s"$tmp/clustered-$label"
        clusteredVecs(spark, cn, clusters).write.parquet(cPath)
        val cv = spark.read.parquet(cPath)
        val cqs = cv.filter(col("vec_id") % (cn / 25) === 0)
        val cTruth = Ann.bruteForceTopK(cqs, cv, "vec_id", "embedding",
          "vec_id", "embedding", k = 10).select("query_id", "neighbor_id")
          .cache()
        val cN = cTruth.count().toDouble
        def cRecall(hits: DataFrame): Double = hits
          .select("query_id", "neighbor_id")
          .join(cTruth, Seq("query_id", "neighbor_id"), "left_semi")
          .count() / cN
        val sq8Idx = s"$tmp/cl-$label-sq8"; val pqIdx = s"$tmp/cl-$label-pq"
        val pqrIdx = s"$tmp/cl-$label-pqr"
        val tb1 = System.nanoTime()
        Ann.writeIvfIndex(cv, "vec_id", "embedding", sq8Idx, nlist,
          layout = Ann.IvfLayout.Sq8)
        Ann.writeIvfIndex(cv, "vec_id", "embedding", pqIdx, nlist,
          layout = Ann.IvfLayout.Pq(m, ksub))
        Ann.writeIvfIndex(cv, "vec_id", "embedding", pqrIdx, nlist,
          layout = Ann.IvfLayout.PqResidual(m, ksub))
        println(f"[quant] clustered-$label n=$cn builds (sq8+pq+pqr, " +
          f"clusters=$clusters, nlist=$nlist, m=$m, ksub=$ksub): " +
          f"${(System.nanoTime() - tb1) / 1e9}%6.1f s one-time")
        for (np <- probes) {
          val rS = cRecall(Ann.ivfIndexTopKAuto(spark, sq8Idx, cqs,
            "vec_id", "embedding", k = 10, nprobe = np))
          val rP = cRecall(Ann.ivfIndexTopKAuto(spark, pqIdx, cqs,
            "vec_id", "embedding", k = 10, nprobe = np))
          val rR = cRecall(Ann.ivfIndexTopKAuto(spark, pqrIdx, cqs,
            "vec_id", "embedding", k = 10, nprobe = np))
          println(f"[quant] clustered-$label n=$cn recall@10 " +
            f"nprobe=$np%-3d sq8=$rS%.3f pq=$rP%.3f pqr=$rR%.3f")
        }
        cTruth.unpersist()
        ()
      }
      recallCurve("aligned", clusters = 64, nlist = 64, ksub = 256,
        probes = Seq(1, 4, 16, 64))
      recallCurve("overpart", clusters = 16, nlist = 64, ksub = 64,
        probes = Seq(1, 2, 4, 8, 16, 32, 64))
      // the m-SWEEP point (round-13 verdict #6): does PQ/residual-PQ's
      // memory win over SQ8 ever buy retrieval-grade recall on
      // clustered data? m=16 (dsub=4) × ksub=256 is the finest grid
      // the 64-dim fixture supports at byte codes — codes are 16 B/vec
      // vs SQ8's 64 B (still 4×). Same regime as `overpart` so the two
      // tables differ only in code geometry.
      recallCurve("overpart-m16", clusters = 16, nlist = 64, ksub = 256,
        probes = Seq(4, 16, 64), m = 16)
    } finally {
      spark.stop()
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(tmp.toFile)
    }
  }
}
