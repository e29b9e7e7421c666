package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.Similarity

/** Similarity search over embedding columns (Array[Float]).
  *
  * Baseline: brute-force cosine top-k — a broadcast of the (small) query
  * set against the full corpus, scored in codegen (zip_with/aggregate dot
  * product), ranked by a per-query window. Scale path: LSH bucketing by
  * random-hyperplane signs cuts the candidate set; both share the scoring
  * tail.
  */
object Ann {

  /** Shared exact-scoring tail: cosine (4dp, deterministic), per-query
    * rank window with id tie-break, top-k — ONE implementation so the
    * three entry points cannot drift (they once disagreed on
    * excludeSelf). Candidates must carry (query_id, __qv, neighbor_id,
    * __cv). */
  private def scoreAndRank(candidates: DataFrame, k: Int,
      excludeSelf: Boolean): DataFrame = {
    val filtered =
      if (excludeSelf) candidates.filter(col("query_id") =!= col("neighbor_id"))
      else candidates
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id"))
    filtered
      .withColumn("score", round(Similarity.cosine(col("__qv"), col("__cv")), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "score", "rank")
  }

  /** The query side shared by every entry point: the id IS the query's
    * identity, so duplicate query rows (a twice-ingested batch — routine
    * input for a dedup library) collapse to one. Without this a dup id
    * doubles every candidate row and row_number hands identical
    * (query, neighbor) pairs consecutive ranks — top-k then holds each
    * neighbor twice and only ~k/2 distinct ones survive. */
  private def queryProjection(queries: DataFrame,
      qId: String, qVec: String): DataFrame =
    queries.select(col(qId).as("query_id"), col(qVec).as("__qv"))
      .dropDuplicates("query_id")

  /** Cosine-scored top-k join: every row of `queries` gets its k nearest
    * `corpus` rows. Queries are broadcast (the common case: few probes
    * against a huge corpus); the corpus is never collected.
    *
    * Deterministic: scores rounded to 4dp, ties broken by corpus id.
    */
  def bruteForceTopK(
      queries: DataFrame, corpus: DataFrame,
      qId: String, qVec: String, cId: String, cVec: String,
      k: Int, excludeSelf: Boolean = true): DataFrame = {

    val q = broadcast(queryProjection(queries, qId, qVec))
    val c = corpus.select(col(cId).as("neighbor_id"), col(cVec).as("__cv"))
    scoreAndRank(q.crossJoin(c), k, excludeSelf)
  }

  /** Random-hyperplane LSH signature: `bits` sign bits packed into a
    * long. Hyperplanes are pseudo-random but deterministic — plane(b,d)
    * comes from a splitmix64 mix of the (bit, dimension) index, generated
    * INSIDE the UDF loop. A Column-side formulation (dim × bits literal
    * plane expressions) exceeds codegen method limits at production
    * embedding dims (768×12 ≈ 9k expression nodes), so the tight
    * primitive loop is the scalable shape here. Row-local, no shuffle. */
  private val hyperplaneSigUdf = udf { (vec: Seq[Float], bits: Int) =>
    if (vec == null) 0L
    else {
      var sig = 0L
      var b = 0
      while (b < bits) {
        var dot = 0.0
        var d = 0
        while (d < vec.length) {
          var z = b * 7919L + d + 0x9e3779b97f4a7c15L
          z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
          z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
          z = z ^ (z >>> 31)
          // plane component in [-1, 1]
          dot += vec(d) * ((z % 10000L).toDouble / 10000.0)
          d += 1
        }
        if (dot >= 0) sig |= (1L << b)
        b += 1
      }
      sig
    }
  }

  /** LSH-bucketed ANN: candidates must share a signature bucket in at
    * least one of `tables` independent hash tables, then exact cosine
    * ranks them. Never a cross product — per table the corpus is hashed
    * row-local and candidates meet through a broadcast bucket join,
    * which is the 100 TB path.
    *
    * Recall is a dial, not a guarantee: P[one-table collision] =
    * (1 − θ/π)^bits for a pair at angle θ, OR-ed across tables —
    * identical vectors (θ = 0) collide in EVERY table deterministically;
    * a 0.97-cosine pair at bits=12/tables=3 lands together ≈ 98% of the
    * time; low-similarity pairs effectively never do (by design — they
    * are not "near"). All tables pack into one 64-bit signature with
    * disjoint bit ranges, same scheme as [[cosineNearDupsLSH]].
    *
    * API note: the inert `dim` parameter was REMOVED from this signature
    * (round 7) — a pre-round-7 positional call `(…, k, dim, bits)` now
    * binds `(k, bits, tables)`. The `bits*tables <= 64` require rejects
    * realistic dims loudly; this library has no external callers yet, so
    * no deprecated forwarding overload is kept. */
  def lshTopK(
      queries: DataFrame, corpus: DataFrame,
      qId: String, qVec: String, cId: String, cVec: String,
      k: Int, bits: Int = 12, tables: Int = 3,
      excludeSelf: Boolean = true): DataFrame = {
    require(bits >= 1 && tables >= 1 && bits * tables <= 64,
      s"bits*tables must be in [1,64] (one 64-bit signature holds all " +
        s"tables' bit ranges); got bits=$bits tables=$tables " +
        s"(${bits * tables} bits)")
    val bucketMask = if (bits == 64) -1L else (1L << bits) - 1
    def banded(df: DataFrame, vecCol: String): DataFrame = df
      .withColumn("__sig", hyperplaneSigUdf(col(vecCol), lit(bits * tables)))
      .withColumn("__b", explode(array((0 until tables).map(t =>
        struct(lit(t).as("__table"),
          shiftrightunsigned(col("__sig"), t * bits)
            .bitwiseAND(lit(bucketMask)).as("__bucket"))): _*)))
      .withColumn("__table", col("__b.__table"))
      .withColumn("__bucket", col("__b.__bucket"))
      .drop("__b", "__sig")
    // the query vector rides the (tiny, broadcast) query table only —
    // the bucket-join output and the dedup exchange carry it for free
    // via re-attach, so each candidate row ships ONE embedding (__cv),
    // not two. __cv itself cannot leave the candidate stream: fetching
    // it after the dedup would mean re-shuffling the whole corpus.
    val qp = queryProjection(queries, qId, qVec)
    val qVecs = broadcast(qp)
    val q = broadcast(banded(qp, "__qv").drop("__qv"))
    // rebalance before the signature kernel (r16): bits·tables·dim
    // splitmix hashes per row is the q26 rebalance class — a one-file
    // corpus otherwise signs on ONE core; no-op on multi-file corpora
    val c = banded(graft.operators.Ops.rebalance(
      corpus.select(col(cId).as("neighbor_id"), col(cVec).as("__cv"))), "__cv")
    // a pair meeting in several tables must still score/rank ONCE; the
    // dedup shuffles only the candidate set (collisions), never the corpus
    val cand = q.join(c, Seq("__table", "__bucket"))
      .dropDuplicates("query_id", "neighbor_id")
      .join(qVecs, Seq("query_id"))
    scoreAndRank(cand, k, excludeSelf)
  }

  /** Persist an IVF index for reuse across query batches — the
    * build-once / query-many workflow every production ANN deployment
    * runs (FAISS-style, but as a data LAYOUT instead of a native
    * structure): k-means centroids in a tiny `centroids/` table and the
    * corpus in `assigned/`, hive-PARTITIONED BY the cell id. A probe
    * filters on `__cell`, so Spark prunes whole cell directories at the
    * scan — each query batch reads nprobe/nlist of the corpus bytes,
    * which is the property that makes IVF work at 100 TB. */
  /** `quantize = true` builds the FAISS-IVF-SQ8 configuration: cells
    * store int8 GRIDS (one quarter of the float bytes — the QuantBench
    * 3.8× parquet measurement — which at 100 TB is the difference in
    * what a probe's pruned cell scan reads) plus the [[int8Params]]
    * codebook as a third index table; probes quantize the QUERY under
    * the stored codebook and rank by the exact integer grid distance
    * ([[quantizedTopK]]'s contract) via [[ivfIndexTopKQuantized]].
    * The float and quantized layouts are distinct index formats — the
    * manifest records which one was built and each probe entry point
    * refuses the other's layout loudly (scoring float cosine against
    * grids, or grids against floats, would be silently wrong). */
  def writeIvfIndex(corpus: DataFrame, cId: String, cVec: String,
      path: String, nlist: Int = 16, seed: Long = 42L,
      quantize: Boolean = false): Unit = {
    ivf(corpus.sparkSession, path).rebuild()
    // deterministic quantized-integer k-means (Cluster.fitCentroids's
    // engine-portable contract) — the cell layout is replayable from
    // (data, nlist, seed) alone, so the index build itself sits under
    // the cross-engine oracle, not just the probe
    val scale = 10000
    // ONE decode of the corpus for the whole build (r16): the fit's
    // regime probe + collect, the assignment/write pass and (SQ8) the
    // params aggregation are separate actions that each re-scanned and
    // re-decoded the source — 3-4 serial decodes of what is often one
    // file at gate SF, and 3-4 full corpus reads at any scale (the
    // standard iterative-fit cache, MLlib k-means discipline), released
    // when the build returns.
    val base = corpus.select(col(cId), col(cVec))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    val qcents = graft.sim.Cluster.fitCentroidsQ(
      base, cId, cVec, nlist, seed, iters = 4, scale = scale)
    val centsQDf = corpus.sparkSession
      .createDataFrame(qcents).toDF("cid", "qcv")
    // cell assignment in the SAME integer space the fit ran in: argmin
    // of Σ(qvᵢ−qcᵢ)², ties to the smaller cell. Rows with a NULL /
    // wrong-dimension vector keep a NULL cell: they land in the hive
    // null-partition directory — visible for quarantine, never probed —
    // instead of failing the whole 100-TB build.
    val corpusQ = base.select(col(cId).as("neighbor_id"),
        col(cVec).as("__cv"))
      .withColumn("__qv", transform(col("__cv"),
        x => floor(x.cast("double") * scale).cast("long")))
    val assigned0 = graft.sim.Cluster
      .clusterAssign(corpusQ, "neighbor_id", "__qv", centsQDf, "cid", "qcv")
      .withColumn("__cell", col("cluster_id").cast("int"))
    val assigned =
      if (!quantize) assigned0.select("neighbor_id", "__cv", "__cell")
      else {
        // the codebook is fit on the SAME corpus the cells store, and
        // persisted as the index's third table — a probe quantizing its
        // queries under any other params would sit on a different grid
        val params = int8Params(base, cVec)
        params.coalesce(1).write.mode("overwrite").parquet(s"$path/params")
        quantizeInt8(assigned0, "__cv", params, "qvec")
          .select("neighbor_id", "qvec", "__cell")
      }
    // row count observed ON the write itself (r15: the Observation API
    // replaces the former footer-count read-back job — one less Spark
    // job per build, same number)
    val obs = org.apache.spark.sql.Observation()
    assigned
      // one output dir (and typically one file) per cell. observe ABOVE
      // the exchange (r16, the r15 advice): below it the metric ran in
      // the shuffle map stage, where a fetch-failure retry re-runs map
      // tasks and double-counts (the accumulator-in-transformation
      // caveat); in the result stage each task counts once.
      .repartition(col("__cell"))
      .observe(obs, count(lit(1)).as("rows"))
      .write.mode("overwrite").partitionBy("__cell").parquet(s"$path/assigned")
    // centroids table carries both spaces: __centroid (double) feeds the
    // probe's cell ranking, __qcentroid (quantized longs) is the
    // integer-exact artifact oracle checks read
    corpus.sparkSession.createDataFrame(
        qcents.map { case (c, qv) =>
          (c.toInt, qv.map(_.toDouble / scale), qv)
        })
      .toDF("__cell", "__centroid", "__qcentroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    // the certificate, written LAST (rows observed on the write job)
    ivf(corpus.sparkSession, path).write(buildCert(
      observedRows(obs, corpus.sparkSession, s"$path/assigned"), nlist,
      quant = if (quantize) 1 else 0))
    } finally { base.unpersist(false); () }
  }

  /** The certified row total off a build's Observation, bounded (r16,
    * the r15 advice): `Observation.get` blocks forever if the metrics
    * event was dropped from the listener bus — rare, but this number is
    * persisted into the manifest and steers every later compaction, so
    * the build must not hang on it. On timeout fall back to the exact
    * footer count of the just-written table (the pre-r15 read-back —
    * one extra job, only on the anomaly path). */
  private def observedRows(obs: org.apache.spark.sql.Observation,
      spark: org.apache.spark.sql.SparkSession, writtenPath: String): Long = {
    import scala.concurrent.ExecutionContext.Implicits.global
    try scala.concurrent.Await.result(
      scala.concurrent.Future(obs.get("rows").asInstanceOf[Long]),
      scala.concurrent.duration.Duration(30, "s"))
    catch { case _: java.util.concurrent.TimeoutException =>
      spark.read.parquet(writtenPath).count()
    }
  }

  /** The IVF index as a lifecycle artifact ([[graft.engine.LayoutFs]]):
    * `assigned/` partitioned by `__cell`, keyed on `neighbor_id`,
    * streamed epochs under `stream/`. */
  private[graft] def ivf(spark: org.apache.spark.sql.SparkSession,
      path: String) =
    new graft.engine.LayoutFs.Artifact(spark, path, "IVF index",
      "writeIvfIndex / the ann_index sink", "neighbor_id", Seq("assigned"),
      Seq("stream"))

  /** A build's certificate. `quant` encodes the LAYOUT: 0 float cells,
    * 1 int8 scalar grids (SQ8), 2 product-quantized codes (PQ, with
    * `pq_m`/`pq_ksub`/`pq_res` recording the code geometry a probe must
    * reuse verbatim). `geom_id` is a fresh geometry identity per
    * (re)build (nanoTime: two rebuilds in one millisecond still
    * differ), PRESERVED by append and compaction — the streaming
    * writer's per-batch tripwire against an out-of-band retrain
    * (version/built_ms change on every compaction too). */
  private def buildCert(rows: Long, nlist: Int, quant: Int, pqM: Int = 0,
      pqKsub: Int = 0, pqRes: Int = 0) =
    graft.engine.LayoutFs.Manifest(rows, geometry = Seq(
      "nlist" -> nlist.toLong, "quant" -> quant.toLong,
      "pq_m" -> pqM.toLong, "pq_ksub" -> pqKsub.toLong,
      "pq_res" -> pqRes.toLong, "geom_id" -> System.nanoTime()))

  /** The typed view of an IVF certificate. Pre-quantization
    * certificates (no `quant`) read as the float layout, pre-PQ ones
    * (no `pq_*`) with no code geometry. */
  private[graft] case class IvfManifest(cert: graft.engine.LayoutFs.Manifest) {
    private def g(k: String): Long = cert.geom(k).getOrElse(0L)
    def nlist: Int = g("nlist").toInt
    def rows: Long = cert.rows
    def version: Long = cert.version
    def quant: Int = g("quant").toInt
    def pqM: Int = g("pq_m").toInt
    def pqKsub: Int = g("pq_ksub").toInt
    def pqRes: Int = g("pq_res").toInt
    def geomId: Long = g("geom_id")
    def streamMarks: Map[String, Long] = cert.streamMarks
    /** A purge's replaced `__cell=N/name` files, in dead-file grace. */
    def deadFiles: Seq[String] = cert.deadFiles.getOrElse("assigned", Nil)
    def layoutName: String = quant match {
      case 0 => "FLOAT"; case 1 => "int8-QUANTIZED (SQ8)"
      case _ => "PRODUCT-QUANTIZED (PQ)"
    }
    def probeName: String = quant match {
      case 0 => "ivfIndexTopK"; case 1 => "ivfIndexTopKQuantized"
      case _ => "ivfIndexTopKPq"
    }
  }

  /** An index dir's certificate; None when absent or not an IVF one. */
  private[graft] def readManifest(
      spark: org.apache.spark.sql.SparkSession, path: String)
      : Option[IvfManifest] =
    ivf(spark, path).manifest().filter(_.geom("nlist").isDefined)
      .map(IvfManifest(_))

  /** Shared probe-side index opener: existence, torn-build / staleness
    * guards (manifest written LAST; centroid table must agree with its
    * nlist), and the float-vs-quantized LAYOUT check — scoring float
    * cosine against int8 grids (or grids against floats) would be
    * silently wrong, so each probe entry point names the right one.
    * Cost: one tiny-file read + a count on the nlist-row centroid
    * table; the 100-TB assigned/ table is never touched by the check. */
  private def openIvfIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, probe: String, wantQuant: Int)
      : (DataFrame, DataFrame, IvfManifest) = {
    val art = ivf(spark, path)
    // name a wrong path / not-an-index directory instead of surfacing a
    // bare parquet PATH_NOT_FOUND from one of the two sub-reads
    def requireTable(t: String): Unit =
      require(art.fs.exists(art.at(t)),
        s"$probe: '$path' is not a complete IVF index (missing $t/ — " +
          "build one with writeIvfIndex or the ann_index sink)")
    Seq("assigned", "centroids").foreach(requireTable)
    // a long-lived JVM (the API server) must never silently probe a
    // dir someone rebuilt under it — both torn states fail loudly, and
    // the whole open runs in the version-stable bracket
    art.open(probe) { cert =>
    val mf = IvfManifest(cert)
    // the three layouts are distinct index FORMATS — scoring float
    // cosine against grids, grids against floats, or ADC against
    // either would be silently wrong, so each probe entry point names
    // the one that matches the manifest
    require(mf.quant == wantQuant,
      s"$probe: '$path' is a ${mf.layoutName} index — probe it with " +
        s"${mf.probeName} (ranking one layout's cells under another " +
        "layout's metric would be silently wrong)")
    // quantized layouts have a third table — checked AFTER the layout
    // test (a float dir should say FLOAT, not "missing params/")
    wantQuant match {
      case 1 => requireTable("params"); case 2 => requireTable("pq")
      case _ =>
    }
    val centDfRaw = spark.read.parquet(s"$path/centroids")
    val nCent = centDfRaw.count()
    require(nCent == mf.nlist,
      s"$probe: '$path' is torn — manifest says nlist=${mf.nlist} but " +
        s"centroids/ has $nCent rows (index rebuilt out-of-band " +
        "mid-probe?); rebuild with writeIvfIndex")
    // STREAMED epochs (appendIvfIndexStream) probe alongside the built
    // table — a two-table union, each side pruned on __cell
    // independently — until compactIvfIndex folds them in; then the
    // tombstones are suppressed AFTER the union, so the takedown
    // covers built and still-streaming rows alike across all three
    // layouts.
    //
    // NOT rebalanced (r16, A/B'd and rejected): wrapping the assigned
    // frame in Ops.rebalance kept DPP alive (PartitionFilters still
    // carried the dynamicpruning subquery) but regressed every probe
    // line cold — q60 1.27 → 1.68, q116 1.42 → 1.71, q127 1.96 → 2.22,
    // q136 1.44 → 1.62 s (back-to-back, clean) — the probe-side serial
    // stage is dominated by the pruned cells' parquet DECODE, which an
    // exchange after the scan cannot parallelize (the q01/q128 lesson);
    // at corpus scale the cells split into many tasks by themselves.
    val live = art.suppress(
      art.withLiveEpochs(art.liveTable("assigned", cert), "stream",
        cert.streamMarks),
      art.tombstoneSnapshot())
    (centDfRaw, live, mf)
    }
  }

  /** Rank each query's nprobe nearest cells by float centroid distance:
    * (query_id, __qv raw, __cell) probe rows — the cell keys drive the
    * partition-pruned assigned/ scan in both probe flavors. */
  private def probeCells(queries: DataFrame, qId: String, qVec: String,
      centDfRaw: DataFrame, nprobe: Int): DataFrame = {
    val centDf = broadcast(centDfRaw)
    val q = queryProjection(queries, qId, qVec)
    val qd = q.withColumn("__qvd", transform(col("__qv"), x => x.cast("double")))
    // fused native Σ(a−b)² (r16): the aggregate(zip_with) spelling ran
    // interpreted per element — bit-identical, see L2Dist2Expr
    val dist2 = graft.functions.NativeExpressions.l2Dist2(
      col("__qvd"), col("__centroid"))
    val probeW = Window.partitionBy(col("query_id")).orderBy(col("__d2"), col("__cell"))
    qd.crossJoin(centDf)
      .withColumn("__d2", dist2)
      .withColumn("__pr", row_number().over(probeW))
      .filter(col("__pr") <= nprobe)
      .select("query_id", "__qv", "__cell")
  }

  /** Query a persisted IVF index: pick each query's nprobe nearest
    * centroids (tiny broadcast), then join the probes against the
    * partitioned corpus — the `__cell` keys drive partition pruning so
    * only probed cell directories are read. Exact cosine re-ranks the
    * probed cells' vectors (the [[bruteForceTopK]] scoring contract). */
  def ivfIndexTopK(spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, qId: String, qVec: String,
      k: Int, nprobe: Int = 4, excludeSelf: Boolean = true): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val (centDfRaw, assigned, _) =
      openIvfIndex(spark, path, "ivfIndexTopK", wantQuant = 0)
    val probes = probeCells(queries, qId, qVec, centDfRaw, nprobe)
    scoreAndRank(probes.join(assigned, Seq("__cell")), k, excludeSelf)
  }

  /** Probe an int8-quantized IVF index (writeIvfIndex `quantize =
    * true`): cells rank by float centroid distance as usual, the QUERY
    * vectors quantize under the index's own persisted codebook, and
    * candidates rank by the exact integer grid distance —
    * [[quantizedTopK]]'s contract, so an exhaustive probe
    * (nprobe = nlist) must reproduce the brute-force quantized answer
    * (the q25 ≡ q60 discipline, on the quantized pair q113 ≡ q116).
    * Output: (query_id, neighbor_id, d2q, rank). */
  def ivfIndexTopKQuantized(spark: org.apache.spark.sql.SparkSession,
      path: String, queries: DataFrame, qId: String, qVec: String,
      k: Int, nprobe: Int = 4, excludeSelf: Boolean = true): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val (centDfRaw, assigned, _) =
      openIvfIndex(spark, path, "ivfIndexTopKQuantized", wantQuant = 1)
    val params = spark.read.parquet(s"$path/params")
    val probes = probeCells(queries, qId, qVec, centDfRaw, nprobe)
    val probesQ = quantizeInt8(probes, "__qv", params, "__qq")
      .select("query_id", "__qq", "__cell")
    rankByGridDistance(
      probesQ.join(assigned.withColumnRenamed("qvec", "__qc"), Seq("__cell")),
      k, excludeSelf)
  }

  /** Embedding near-duplicate pairs within a blocking column: exact
    * cosine ≥ threshold, id_a < id_b. */
  def cosineNearDups(df: DataFrame, idCol: String, vecCol: String,
      blockCol: String, threshold: Double): DataFrame = {
    val g = df.select(col(idCol).as("id"), col(blockCol).as("block"), col(vecCol).as("v"))
    val a = g.alias("a"); val b = g.alias("b")
    a.join(b, col("a.block") === col("b.block") && col("a.id") < col("b.id"))
      .withColumn("cos", round(Similarity.cosine(col("a.v"), col("b.v")), 4))
      .filter(col("cos") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("cos"))
  }

  /** Embedding near-dup pairs WITHOUT a blocking column — the common
    * LLM-data case where no natural key exists. Candidates must share a
    * random-hyperplane signature bucket (row-local sig, ONE shuffle on
    * the bucket key, never all-pairs), then exact cosine verifies.
    * Recall: high-cosine pairs agree on most hyperplane signs — P[same
    * `bits`-bit bucket] = (1 − θ/π)^bits; with the default 8 bits a
    * 0.95-cosine pair lands together ≈ 44% of the time per table, so
    * `tables` independent signatures are OR-ed to push recall up
    * (3 tables → ≈ 83%). A candidate-generation dial, not a guarantee —
    * unlike the simhash pigeonhole bound. */
  def cosineNearDupsLSH(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, bits: Int = 8, tables: Int = 3): DataFrame = {
    // all tables pack into ONE 64-bit signature (disjoint bit ranges);
    // beyond 64 the shifts alias mod 64 and tables silently share bits,
    // degrading recall with no error — fail loudly instead (the YAML
    // near_dups step exposes both knobs)
    require(bits >= 1 && tables >= 1 && bits * tables <= 64,
      s"bits*tables must be in [1,64] (one 64-bit signature holds all " +
        s"tables' bit ranges); got bits=$bits tables=$tables " +
        s"(${bits * tables} bits)")
    val base = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    // per-table signature: reuse hyperplaneSig with disjoint bit ranges
    // (table t uses bits [t*bits, (t+1)*bits) of one wide signature)
    val wide = base.withColumn("__sig", hyperplaneSigUdf(col("v"), lit(bits * tables)))
    // bits=64 (legal: one table over the full signature) would make
    // (1L << 64) - 1 overflow to 0 via Scala's mod-64 shift, collapsing
    // every row into bucket 0 — i.e. a silent O(n²) self-join
    val bucketMask = if (bits == 64) -1L else (1L << bits) - 1
    val banded = wide.select(col("id"), col("v"),
      explode(array((0 until tables).map(t =>
        struct(lit(t).as("table"),
          shiftrightunsigned(col("__sig"), t * bits)
            .bitwiseAND(lit(bucketMask)).as("bucket"))): _*)).as("b"))
      .select(col("id"), col("v"), col("b.table"), col("b.bucket"))
    // the bucket join carries ONLY (table, bucket, id) — vectors never
    // enter that shuffle; candidates dedup on the narrow pair (one pair
    // can meet in several tables) and vectors re-attach for the few
    // survivors (same shape as minhashNearDups)
    val slim = banded.select("id", "table", "bucket")
    val a = slim.alias("a"); val b = slim.alias("b")
    val pairs = a.join(b.hint("shuffle_hash"),
        col("a.table") === col("b.table") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    pairs
      .join(base.select(col("id").as("id_a"), col("v").as("va")), "id_a")
      .join(base.select(col("id").as("id_b"), col("v").as("vb")), "id_b")
      .withColumn("cos", round(Similarity.cosine(col("va"), col("vb")), 4))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  /** LSH-routed variant of [[semanticContaminationFlags]] — the scale
    * path for test sets past the one-row-broadcast bound (~10⁵
    * vectors): both sides band into `tables` hyperplane bucket tables
    * (one 64-bit signature, disjoint bit ranges — the
    * [[cosineNearDupsLSH]] scheme), candidates meet through a bucket
    * join against the BROADCAST test side, and exact cosine verifies
    * every candidate, so there are NO false flags — only possible
    * misses. Recall is the usual LSH dial: an IDENTICAL vector shares
    * every bucket deterministically (θ = 0); a 0.95-cosine pair at the
    * default bits=12/tables=3 is caught ≈ 87% of the time; raise
    * `tables` (or lower `bits`) to push recall for near-threshold
    * leakage. `max_cos_q` carries the max verified candidate cosine
    * for FLAGGED rows (a lower bound of the true max) and NULL for
    * clean rows — sub-threshold candidates are discarded before the
    * verdict aggregate so the candidate stream stays minimal.
    *
    * Scale shape: the corpus never shuffles for candidate generation
    * (row-local signature + explode against broadcast test buckets);
    * only candidate rows reach the verdict distinct. The per-row flag
    * re-attaches through the q68 verdict-join pattern: the flagged-id
    * set is bounded by actual contamination, broadcast when it is
    * small (the normal case — a mostly-dirty corpus keeps the shuffled
    * join, which is then the right plan anyway). */
  def semanticContaminationFlagsLsh(corpus: DataFrame, idCol: String,
      vecCol: String, testSet: DataFrame, testVecCol: String,
      threshold: Double, bits: Int = 12, tables: Int = 3): DataFrame = {
    require(threshold >= -1.0 && threshold <= 1.0,
      s"cosine threshold must be in [-1, 1], got $threshold")
    require(bits >= 1 && tables >= 1 && bits * tables <= 64,
      s"bits*tables must be in [1,64]; got bits=$bits tables=$tables")
    val bucketMask = if (bits == 64) -1L else (1L << bits) - 1
    def banded(df: DataFrame, vc: String): DataFrame = df
      .withColumn("__sig", hyperplaneSigUdf(col(vc), lit(bits * tables)))
      .select(df.columns.map(col) :+
        explode(array((0 until tables).map(t =>
          struct(lit(t).as("__table"),
            shiftrightunsigned(col("__sig"), t * bits)
              .bitwiseAND(lit(bucketMask)).as("__bucket"))): _*)).as("__b"): _*)
      .select(df.columns.map(col) :+ col("__b.__table") :+ col("__b.__bucket"): _*)
    val tests = broadcast(banded(
      testSet.filter(col(testVecCol).isNotNull)
        .select(col(testVecCol).as("__tv")), "__tv"))
    val cand = banded(
      corpus.select(col(idCol).as("__cid"), col(vecCol).as("__cv")), "__cv")
      .join(tests, Seq("__table", "__bucket"))
      .withColumn("__cos", round(Similarity.cosine(col("__cv"), col("__tv")), 4))
    val verdicts = graft.engine.CacheScope.cache(
      cand.filter(col("__cos") >= threshold)
        .groupBy(col("__cid")).agg(max(col("__cos")).as("max_cos_q")))
    // count-gated broadcast (the q68/contaminatedIds decision, same
    // rationale): the verdict set is data-dependent, so hint broadcast
    // only when it is provably executor-safe
    val n = verdicts.count()
    val side = if (n <= 1000000L) broadcast(verdicts) else verdicts
    corpus.join(side, col(idCol) === col("__cid"), "left")
      .withColumn("contaminated", col("__cid").isNotNull)
      .drop("__cid")
  }

  /** Semantic decontamination: flag corpus rows whose embedding has
    * cosine ≥ `threshold` with ANY held-out/benchmark vector — the
    * embedding-space analogue of the n-gram overlap check
    * (TextAnalysis.contaminationFlags), catching paraphrased benchmark
    * leakage that token n-grams miss (cf. the contamination audits in
    * GPT-3 §4 / PaLM §7, done on n-grams; embedding variants are the
    * natural extension once a corpus is embedded anyway).
    *
    * Output: every corpus row as (idCol, max_cos_q, contaminated) —
    * max cosine over the test set rounded to 4dp (the library-wide
    * cross-engine contract), flag = max_cos_q ≥ threshold. NULL corpus
    * vectors (and dimension mismatches, which cosine NULLs out via
    * zip_with padding) yield NULL max_cos_q and contaminated = false:
    * an unembeddable row is unknown, not dirty — drop-if-unknown is a
    * caller policy, not this operator's.
    *
    * 100-TB shape: benchmark sets are bounded by construction (the same
    * declared-small contract as the Bloom prefilter's test grams), so
    * the test vectors ride ONE one-row broadcast (collect_list →
    * crossJoin) and each corpus row computes its max row-local — the
    * corpus NEVER shuffles (PlanQualitySpec pins the no-Exchange
    * shape). Per-row cost is |test| dot products; for test sets past
    * ~10⁵ vectors route through [[lshTopK]](k=1) + threshold instead —
    * the bucket join trades exactness of max_cos for sublinear work. */
  def semanticContaminationFlags(corpus: DataFrame, idCol: String,
      vecCol: String, testSet: DataFrame, testVecCol: String,
      threshold: Double): DataFrame = {
    require(threshold >= -1.0 && threshold <= 1.0,
      s"cosine threshold must be in [-1, 1], got $threshold")
    val tests = broadcast(testSet
      .filter(col(testVecCol).isNotNull)
      .select(transform(col(testVecCol), x => x.cast("double")).as("__tv"))
      .agg(collect_list(col("__tv")).as("__tests")))
    // array_max skips NULL entries, so one bad-dimension test vector
    // cannot NULL every row's max — only an all-NULL cosine set does
    val maxCos = array_max(transform(col("__tests"),
      tv => Similarity.cosine(col(vecCol), tv)))
    corpus.crossJoin(tests)
      .withColumn("max_cos_q", round(maxCos, 4))
      .withColumn("contaminated",
        coalesce(col("max_cos_q") >= threshold, lit(false)))
      .drop("__tests")
  }

  // ------------------------------------------------- int8 quantization
  /** Per-dimension [min, max] of a vector column — the scalar-
    * quantization codebook (FAISS SQ8's train step). A dims-sized
    * declared-small artifact: persist it next to the quantized corpus;
    * [[quantizeInt8]] and any future batch MUST quantize with the SAME
    * params or their grids are incomparable. One posexplode exchange
    * keyed by dimension (dims cells, map-side combined); min/max are
    * exactly associative so the result is partitioning-independent. */
  def int8Params(df: DataFrame, vecCol: String): DataFrame =
    df.filter(col(vecCol).isNotNull)
      .select(posexplode(col(vecCol)).as(Seq("pos", "__v")))
      .filter(col("__v").isNotNull)
      .groupBy("pos")
      .agg(min(col("__v").cast("double")).as("mn"),
        max(col("__v").cast("double")).as("mx"))

  /** Scalar int8 quantization of an embedding column against an
    * [[int8Params]] codebook: per dimension
    * `q = clamp(floor((x − mn)·255 / (mx − mn)), 0, 255)` (a
    * degenerate dimension, mx = mn, maps to 0). This is the 4× memory
    * cut that keeps 100 TB of float32 embeddings scannable: the grid
    * values live in [0, 255], so parquet bit-packs the column to ~9
    * bits/element on disk and every downstream comparison runs in
    * exact integer arithmetic (an external SQL oracle replays the
    * quantization bit for bit — the float part is one fixed IEEE
    * expression both engines evaluate identically, the q70 floor
    * discipline). The codebook rides a one-row broadcast (the
    * clusterAssign pattern); quantization itself is row-local, no
    * shuffle. NULL vectors stay NULL; NULL ELEMENTS and dimensions
    * beyond the codebook quantize to NULL elements (malformed
    * embeddings are data, not errors — [[quantizedTopK]] surfaces
    * them as unrankable, never as a guessed distance). */
  def quantizeInt8(df: DataFrame, vecCol: String, params: DataFrame,
      outCol: String = "qvec"): DataFrame = {
    // keyed by pos, NOT positional: a codebook with a gap (a dimension
    // NULL in every row, or a user-persisted params table missing a
    // pos) must leave exactly that dimension NULL — a pos-sorted array
    // indexed by ordinal would silently misalign every later dimension
    // against its neighbor's [mn, mx]
    val p = broadcast(params
      .select(col("pos").cast("int").as("__pos"),
        struct(col("mn").cast("double").as("mn"),
          col("mx").cast("double").as("mx")).as("__mm"))
      .agg(map_from_entries(collect_list(struct(col("__pos"), col("__mm"))))
        .as("__pm")))
    val q = transform(col(vecCol), (x, i) => {
      val pr = element_at(col("__pm"), i.cast("int"))
      when(x.isNotNull && pr.isNotNull,
        when(pr.getField("mx") === pr.getField("mn"), lit(0L))
          .otherwise(least(lit(255L), greatest(lit(0L),
            floor(((x.cast("double") - pr.getField("mn")) * 255.0)
              / (pr.getField("mx") - pr.getField("mn"))).cast("long"))))
        .cast("int"))
    })
    df.crossJoin(p)
      .withColumn(outCol, when(col(vecCol).isNotNull, q))
      .drop("__pm")
  }

  /** Brute-force top-k over int8-quantized vectors: rank by the exact
    * integer grid distance d2q = Σ(qa_d − qb_d)² ascending (ties by
    * neighbor id). The metric is L2 in the per-dimension NORMALIZED
    * space — each axis is stretched by 255/range before the squares —
    * i.e. range-weighted L2, the standard scalar-quantization ANN
    * contract (FAISS SQ8 ranks on reconstructions of the same grid).
    * Identical vectors quantize identically at d2q = 0, so planted-
    * duplicate recall is certain; the recall-vs-float-cosine gap on
    * near-but-not-identical pairs is the quantization error the 4×
    * memory cut buys (spec-measured). Pairs whose grids don't align
    * (NULL elements, mismatched dims) get NULL d2q and are EXCLUDED
    * from ranking — unknown ≠ near. Queries broadcast and dedupe by id
    * (the [[bruteForceTopK]] contract); d2q is exact long arithmetic,
    * so ranking replays in any 64-bit engine. */
  def quantizedTopK(queries: DataFrame, corpus: DataFrame,
      qId: String, qVec: String, cId: String, cVec: String,
      k: Int, excludeSelf: Boolean = true): DataFrame = {
    val q = broadcast(queries
      .select(col(qId).as("query_id"), col(qVec).as("__qq"))
      .dropDuplicates("query_id"))
    val c = corpus.select(col(cId).as("neighbor_id"), col(cVec).as("__qc"))
    rankByGridDistance(q.crossJoin(c), k, excludeSelf)
  }

  /** Shared integer-grid scoring tail — ONE implementation for the
    * brute-force ([[quantizedTopK]]) and persisted-index
    * ([[ivfIndexTopKQuantized]]) probes, the scoreAndRank discipline:
    * the q113 ≡ q116 shared-oracle contract holds BY CONSTRUCTION only
    * while the two entry points cannot drift on the distance, the
    * NULL-grid exclusion, the tie-break, or excludeSelf. Candidates
    * must carry (query_id, __qq, neighbor_id, __qc). */
  private def rankByGridDistance(candidates: DataFrame, k: Int,
      excludeSelf: Boolean): DataFrame = {
    val filtered =
      if (excludeSelf) candidates.filter(col("query_id") =!= col("neighbor_id"))
      else candidates
    // fused native exact-long Σ(a−b)² (r16, GridDist2Expr) — the
    // aggregate(zip_with) spelling ran interpreted per element
    val d2 = graft.functions.NativeExpressions.gridDist2(
      col("__qq"), col("__qc"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("d2q").asc, col("neighbor_id"))
    filtered
      .withColumn("d2q", d2)
      .filter(col("d2q").isNotNull)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "d2q", "rank")
  }

  // ------------------------------------------- product quantization (PQ)
  /** Fit PQ codebooks: the embedding's `dim` dimensions split into `m`
    * contiguous subspaces of dsub = dim/m, and each subspace gets its
    * own `ksub`-centroid codebook from the SAME deterministic
    * quantized-integer k-means the IVF coarse quantizer uses
    * ([[Cluster.fitCentroidsQ]] — seeded md5 init over the row ids, so
    * every subspace seats the same init ROWS, integer argmin, floor-
    * division updates; the whole fit replays as CTE towers in an
    * external SQL engine). This is the FAISS-IVFPQ train step (Jégou
    * et al. 2011, "Product Quantization for Nearest Neighbor Search"),
    * the actual 100-TB workhorse: codes are m BYTES per vector vs
    * dim·4 float bytes — 32× at (m=8, dim=64) where SQ8 manages ~4×.
    *
    * The corpus must have ONE embedding dimension (loud otherwise —
    * subspace boundaries on ragged vectors would be meaningless) and m
    * must divide it. Rows with NULL vectors or NULL elements sit out
    * of the fit (the fitCentroidsQ contract) and later encode to NULL
    * codes. Returns driver-side (sub, cid, coordinates·10⁴) — m·ksub
    * rows of dsub longs, the declared-small artifact. */
  private[graft] def fitPqQ(corpus: DataFrame, cId: String, cVec: String,
      m: Int, ksub: Int, seed: Long, iters: Int,
      preQuantized: Boolean = false)
      : IndexedSeq[(Int, Long, IndexedSeq[Long])] = {
    require(m >= 1, s"PQ needs m >= 1 subspaces, got $m")
    require(ksub >= 1 && ksub <= 256,
      s"PQ needs ksub in [1, 256] (codes are one byte), got $ksub")
    val dims = corpus.filter(col(cVec).isNotNull)
      .select(size(col(cVec)).as("d")).distinct()
      .collect().map(_.getInt(0)).sorted
    require(dims.length == 1,
      s"PQ needs one uniform embedding dimension, got ${dims.toSeq}")
    val dim = dims.head
    require(dim % m == 0,
      s"PQ subspace count m=$m must divide the embedding dimension $dim")
    val dsub = dim / m
    val books = (0 until m).map { s =>
      val sliced = corpus.select(col(cId),
        slice(col(cVec), s * dsub + 1, dsub).as("__sv"))
      Cluster.fitCentroidsQ(sliced, cId, "__sv", ksub, seed, iters,
        scale = PqScale, preQuantized = preQuantized)
    }
    // fail at BUILD time, not first probe, when the subspaces seated
    // UNEVEN centroid counts (null elements concentrated in some slice
    // left it fewer valid rows than ksub) — the uniform-size contract
    // collectPqCodebooks re-enforces on the read path. A uniformly
    // smaller book (tiny corpus < ksub everywhere) stays legal.
    val sizes = books.map(_.size).distinct
    require(sizes.length == 1,
      s"PQ: subspace codebooks seated ${books.map(_.size)} centroids — " +
        "uneven slices (null elements concentrated in some subspace?); " +
        "lower ksub or clean the corpus")
    books.zipWithIndex.flatMap { case (b, s) =>
      b.map { case (cid, qc) => (s, cid, qc) }
    }
  }

  /** The PQ family's ONE quantization scale: encode (primitive UDF
    * loop), the query-side ADC grids, and the per-subspace k-means fits
    * must all place values on the same floor(x·scale) integer grid —
    * three spellings, one constant, so they cannot drift. */
  private val PqScale = 10000

  /** [[fitPqQ]] as a persistable (sub, cid, qcv) DataFrame — the PQ
    * index's codebook table ([[writeIvfIndexPq]] stores it as pq/). */
  def pqCodebooks(corpus: DataFrame, cId: String, cVec: String,
      m: Int = 8, ksub: Int = 256, seed: Long = 42L,
      iters: Int = 4): DataFrame =
    corpus.sparkSession.createDataFrame(fitPqQ(corpus, cId, cVec, m,
      ksub, seed, iters)).toDF("sub", "cid", "qcv")

  /** Collect a (sub, cid, qcv) codebook table into the plan-literal
    * geometry the row-local encode/ADC expressions consume:
    * (m, dsub, cb[sub][cid] = quantized centroid). Declared-small with
    * a loud cap — m·ksub·dsub longs ride into every task as one typed
    * literal (the classifyStream weight-literal discipline). */
  private def collectPqCodebooks(codebooks: DataFrame)
      : (Int, Int, Seq[Seq[Seq[Long]]]) = {
    val rows = codebooks
      .select(col("sub").cast("int"), col("cid").cast("long"),
        col("qcv").cast("array<bigint>"))
      .collect()
    require(rows.nonEmpty, "PQ: empty codebook table")
    val bySub = rows.groupBy(_.getInt(0))
    val m = bySub.keySet.max + 1
    require(bySub.keySet == (0 until m).toSet,
      s"PQ: codebook table is torn — subspaces ${bySub.keySet.toSeq.sorted} " +
        s"are not contiguous from 0")
    val cb = (0 until m).map { s =>
      val cents = bySub(s).sortBy(_.getLong(1))
      require(cents.map(_.getLong(1)).toSeq == cents.indices.map(_.toLong),
        s"PQ: subspace $s centroid ids are not 0..${cents.length - 1}")
      cents.map(_.getSeq[Long](2).toIndexedSeq.toSeq).toSeq
    }
    val dsubs = cb.flatMap(_.map(_.length)).distinct
    require(dsubs.length == 1,
      s"PQ: codebook sub-vector lengths disagree: $dsubs")
    // uniform centroid COUNT across subspaces is part of the layout
    // contract: the ADC grids are sized by one ksub, so a ragged book
    // (a subspace that seated fewer centroids — fewer valid rows than
    // ksub in that slice) would make codes ≥ the short grid index out
    // of bounds and silently drop those candidates from ranking (or
    // throw under ANSI element_at). Fail at the codebook boundary with
    // the actionable cause instead.
    val ksubs = cb.map(_.length).distinct
    require(ksubs.length == 1,
      s"PQ: subspace codebook sizes disagree ($ksubs) — some subspace " +
        "seated fewer centroids than ksub (fewer valid rows than ksub " +
        "in that slice); lower ksub or clean the corpus, then rebuild")
    val total = m.toLong * cb.head.length * dsubs.head
    require(total <= 2000000L,
      s"PQ: codebook is $total longs — too large to ride as a plan " +
        "literal (cap 2M ≈ 16 MB); reduce m/ksub")
    (m, dsubs.head, cb)
  }

  /** The per-subspace integer distance Σ(qv[s·dsub+j] − c[j])² between
    * a materialized quantized-vector COLUMN and a literal centroid —
    * the QUERY side's ADC arithmetic. The corpus-side encode computes
    * the same sums in its primitive UDF loop ([[encodePq]] — two
    * spellings since the 19× encode rewrite, sharing [[PqScale]] and
    * pinned against each other by the q121/q122 oracles, which replay
    * both sides from the floats). Exact long math: quantized
    * coordinates are ≤ ~10⁵ in magnitude, so each term < 2⁴⁰ and a
    * dsub-term sum stays far under 2⁵³. */
  private def pqSubDist(qv: Column, s: Column, dsub: Int,
      cent: Column): Column =
    aggregate(sequence(lit(0), lit(dsub - 1)), lit(0L), (a, j) => {
      val d = element_at(qv, (s * dsub + j + 1).cast("int")) -
        element_at(cent, (j + 1).cast("int"))
      a + d * d
    })

  /** Attach PQ codes: per subspace the argmin centroid (ties to the
    * smaller cid — the clusterAssign tie-break), as one int array
    * column of m entries in [0, ksub). Row-local — the codebook rides
    * in the encoder's closure, the corpus never shuffles. Rows with a
    * NULL vector, a NULL element, or a non-codebook dimension get
    * NULL codes (malformed embeddings are data, not errors — ranking
    * later excludes them, never guesses).
    *
    * The argmin is a tight primitive UDF loop, NOT a Column
    * transform/aggregate tower, deliberately (the hyperplaneSig
    * rationale): higher-order functions do not enter codegen, and the
    * per-row work here is m·ksub·dsub integer ops (16k at the m=8/
    * ksub=256 defaults) — QuantBench measured the interpreted-
    * expression spelling at ~0.44 ms/vector, which is the BUILD cost
    * of the whole PQ index at corpus scale. The loop computes the
    * identical integer arithmetic (strict <, ascending k → smallest
    * cid on ties), so the oracle replay is unchanged. */
  def encodePq(df: DataFrame, vecCol: String, codebooks: DataFrame,
      outCol: String = "codes"): DataFrame = {
    val (m, dsub, cb) = collectPqCodebooks(codebooks)
    val cbArr: Array[Array[Array[Long]]] =
      cb.map(_.map(_.toArray).toArray).toArray
    val bc = df.sparkSession.sparkContext.broadcast(cbArr)
    val mm = m; val ds = dsub
    // Seq[Double], and the Column cast below is to array<double>:
    // float → double widening is exact, so floor(x·10⁴) sees the same
    // value the Column spelling (and the oracle's CAST(… AS DOUBLE[]))
    // sees — a float-side cast would re-quantize double corpora
    val enc = udf { (v: Seq[Double]) =>
      if (v == null || v.length != mm * ds) null
      else {
        val qv = new Array[Long](v.length)
        var i = 0
        while (i < v.length) {
          qv(i) = math.floor(v(i) * PqScale).toLong
          i += 1
        }
        pqArgmin(bc.value, mm, ds, qv)
      }
    }
    // NULL-element vectors must yield NULL codes, and a Scala UDF over
    // a primitive-element array cannot see per-element nulls reliably —
    // the guard stays Column-side (cheap: one pass, short-circuits on
    // the first null element)
    val valid = col(vecCol).isNotNull &&
      size(col(vecCol)) === lit(m * dsub) &&
      !exists(col(vecCol), x => x.isNull)
    df.withColumn(outCol,
      when(valid, enc(col(vecCol).cast("array<double>"))))
  }

  /** The ONE code-assignment loop (strict <, ascending k → smallest
    * cid on ties) shared by the float encoder ([[encodePq]]) and the
    * residual encoder ([[encodePqResidual]]). */
  private def pqArgmin(books: Array[Array[Array[Long]]], m: Int,
      dsub: Int, qv: Array[Long]): Array[Int] = {
    val codes = new Array[Int](m)
    var s = 0
    while (s < m) {
      val cents = books(s)
      var best = -1
      var bestD = Long.MaxValue
      var k = 0
      while (k < cents.length) {
        val c = cents(k)
        var d = 0L
        var j = 0
        while (j < dsub) {
          val t = qv(s * dsub + j) - c(j)
          d += t * t
          j += 1
        }
        if (d < bestD) { bestD = d; best = k }
        k += 1
      }
      codes(s) = best
      s += 1
    }
    codes
  }

  /** [[encodePq]] for RESIDUAL vectors: the row's cell id looks up the
    * coarse centroid (both on the floor(x·10⁴) grid), the residual
    * qv − qc[cell] is exact integer subtraction, and the codes come
    * from the same [[pqArgmin]] under residual-space codebooks.
    * NULL/ragged vectors or a NULL cell → NULL codes. */
  private def encodePqResidual(df: DataFrame, vecCol: String,
      cellCol: String, coarse: IndexedSeq[IndexedSeq[Long]],
      codebooks: DataFrame, outCol: String): DataFrame = {
    val (m, dsub, cb) = collectPqCodebooks(codebooks)
    val cbArr: Array[Array[Array[Long]]] =
      cb.map(_.map(_.toArray).toArray).toArray
    val coarseArr: Array[Array[Long]] = coarse.map(_.toArray).toArray
    val bc = df.sparkSession.sparkContext.broadcast((cbArr, coarseArr))
    val mm = m; val ds = dsub
    val enc = udf { (v: Seq[Double], cell: Int) =>
      val (books, cents) = bc.value
      if (v == null || v.length != mm * ds ||
          cell < 0 || cell >= cents.length) null
      else {
        val qc = cents(cell)
        val rv = new Array[Long](v.length)
        var i = 0
        while (i < v.length) {
          rv(i) = math.floor(v(i) * PqScale).toLong - qc(i)
          i += 1
        }
        pqArgmin(books, mm, ds, rv)
      }
    }
    val valid = col(vecCol).isNotNull && col(cellCol).isNotNull &&
      size(col(vecCol)) === lit(m * dsub) &&
      !exists(col(vecCol), x => x.isNull)
    df.withColumn(outCol, when(valid,
      enc(col(vecCol).cast("array<double>"), col(cellCol).cast("int"))))
  }

  /** Attach the query-side ADC (asymmetric distance computation)
    * lookup tables: per subspace, the integer distance from the
    * query's sub-vector to EVERY centroid — an m × ksub long grid per
    * query, computed row-local under the same literal codebook the
    * encode used. A candidate's distance is then m array lookups
    * ([[rankByAdc]]), never a re-scan of the codebook. */
  /** The m × ksub ADC grid over a MATERIALIZED quantized-vector column
    * — shared by the raw-space query side ([[withAdc]]) and the
    * residual probe rows ([[ivfIndexTopKPq]]'s pq_res branch). */
  private def adcGrid(qv: Column, m: Int, dsub: Int, ksub: Int,
      cbLit: Column): Column =
    transform(sequence(lit(0), lit(m - 1)), s =>
      transform(sequence(lit(0), lit(ksub - 1)), k =>
        pqSubDist(qv, s, dsub,
          element_at(element_at(cbLit, (s + 1).cast("int")),
            (k + 1).cast("int")))))

  private def withAdc(queries: DataFrame, vecCol: String,
      m: Int, dsub: Int, cb: Seq[Seq[Seq[Long]]],
      outCol: String): DataFrame = {
    val cbLit = typedlit(cb)
    val qv = col("__pq_qv")
    val valid = col(vecCol).isNotNull &&
      size(col(vecCol)) === lit(m * dsub) && !exists(qv, x => x.isNull)
    queries
      .withColumn("__pq_qv", transform(col(vecCol),
        x => floor(x.cast("double") * PqScale).cast("long")))
      .withColumn(outCol,
        when(valid, adcGrid(qv, m, dsub, cb.head.length, cbLit)))
      .drop("__pq_qv")
  }

  /** Shared ADC scoring tail (the scoreAndRank/rankByGridDistance
    * discipline — ONE implementation so the brute-force and persisted-
    * index probes cannot drift): candidates carry (query_id, __adc,
    * neighbor_id, __codes); distance = Σ_s __adc[s][__codes[s]], exact
    * long arithmetic; NULL codes or NULL ADC (malformed vectors) rank
    * nowhere. Ties by neighbor id. */
  private def rankByAdc(candidates: DataFrame, m: Int, k: Int,
      excludeSelf: Boolean): DataFrame = {
    val filtered =
      if (excludeSelf) candidates.filter(col("query_id") =!= col("neighbor_id"))
      else candidates
    val d2 = aggregate(sequence(lit(0), lit(m - 1)), lit(0L), (a, s) =>
      a + element_at(element_at(col("__adc"), (s + 1).cast("int")),
        element_at(col("__codes"), (s + 1).cast("int")) + 1))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("d2pq").asc, col("neighbor_id"))
    filtered
      .withColumn("d2pq",
        when(col("__adc").isNotNull && col("__codes").isNotNull, d2))
      .filter(col("d2pq").isNotNull)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "d2pq", "rank")
  }

  /** Brute-force top-k under product quantization: fit the codebooks on
    * the corpus, encode it, and rank every query's candidates by the
    * exact integer ADC distance (ascending, ties by neighbor id) — the
    * PQ analogue of [[quantizedTopK]] and the semantics a persisted
    * IVF-PQ index probed exhaustively must reproduce (the q25 ≡ q60 /
    * q113 ≡ q116 discipline). The metric is the PQ approximation of
    * quantized L2: each sub-vector snaps to its nearest codeword and
    * the query measures to the codeword, not the original — the
    * controlled error that buys m-bytes-per-vector storage. Identical
    * vectors share codes, so their mutual ADC distance equals the
    * query-to-own-codeword floor — planted-duplicate recall is
    * certain at rank 1 (spec-pinned). Deterministic for fixed
    * (data, m, ksub, seed); replays in any 64-bit engine. */
  def pqTopK(queries: DataFrame, corpus: DataFrame,
      qId: String, qVec: String, cId: String, cVec: String,
      k: Int, m: Int = 8, ksub: Int = 256, seed: Long = 42L,
      iters: Int = 4, excludeSelf: Boolean = true): DataFrame = {
    // ONE decode of the corpus (r16, the writeIvfIndexPq note): the
    // inline codebook fit runs a dims probe plus m agg+collect pairs,
    // each of which re-scanned the source; the caller's final action
    // then reads the cache once more for the encode.
    val base = graft.engine.CacheScope.cache(corpus.select(col(cId), col(cVec)))
    val cb = pqCodebooks(base, cId, cVec, m, ksub, seed, iters)
    val coded = encodePq(
      base.select(col(cId).as("__nid"), col(cVec).as("__cv")),
      "__cv", cb, "__pqcodes").drop("__cv")
    pqTopKEncoded(queries, coded, cb, qId, qVec, "__nid", "__pqcodes",
      k, excludeSelf)
  }

  /** Rank against a PRE-ENCODED corpus under a persisted codebook table
    * — the flat (non-IVF) query-many path: encode + write the codes
    * once ([[pqCodebooks]] → [[encodePq]]), then every query batch
    * scans m bytes per vector instead of dim·4. Exactly [[pqTopK]]'s
    * semantics (pqTopK routes through here), provided the codes were
    * produced under the SAME codebook table — the codebook is the
    * model, the SQ8-params/pq-manifest discipline. */
  def pqTopKEncoded(queries: DataFrame, codedCorpus: DataFrame,
      codebooks: DataFrame, qId: String, qVec: String,
      cId: String, codesCol: String, k: Int,
      excludeSelf: Boolean = true): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val (m, dsub, cbSeq) = collectPqCodebooks(codebooks)
    val c = codedCorpus.select(col(cId).as("neighbor_id"),
      col(codesCol).as("__codes"))
    val q = broadcast(withAdc(queryProjection(queries, qId, qVec),
      "__qv", m, dsub, cbSeq, "__adc").drop("__qv"))
    rankByAdc(q.crossJoin(c), m, k, excludeSelf)
  }

  /** Persist an IVF-PQ index — the FAISS-IVFPQ configuration and the
    * natural completion of the quantized family: the coarse k-means
    * cell layout of [[writeIvfIndex]] (partition-pruned probes), cells
    * storing m-BYTE PQ codes instead of vectors (16–32× smaller scans
    * than float, vs SQ8's ~4×), plus the per-subspace codebooks as the
    * index's pq/ table. Probes rank by integer ADC under the STORED
    * codebooks ([[ivfIndexTopKPq]]); the manifest records quant=2 and
    * the code geometry, and every other probe refuses the layout
    * loudly. Same torn-build discipline as the float/SQ8 builds
    * (manifest retracted first, re-issued last). */
  /** `residual = true` builds the TRUE FAISS-IVFPQ configuration: the
    * PQ codebooks fit on (and the codes encode) the integer RESIDUALS
    * qv − qc[cell] instead of the raw vectors. Residuals concentrate
    * around zero inside every cell, so a fixed codebook budget spends
    * its codewords on the within-cell structure the ADC actually ranks
    * — the quality step that makes IVFPQ the production configuration
    * (Jégou et al. §IV). Both quantized grids share [[PqScale]], so
    * the residual is EXACT long subtraction and the whole train/encode
    * replays in an external SQL engine (the q125 oracle: coarse tower
    * → residual CTE → per-subspace towers). The manifest records
    * pq_res = 1; [[ivfIndexTopKPq]] dispatches on it — raw-space and
    * residual-space codes are incomparable geometries. */
  def writeIvfIndexPq(corpus: DataFrame, cId: String, cVec: String,
      path: String, nlist: Int = 16, seed: Long = 42L,
      m: Int = 8, ksub: Int = 256, residual: Boolean = false): Unit = {
    ivf(corpus.sparkSession, path).rebuild()
    val scale = 10000
    // ONE decode of the corpus for the whole build (r16, the
    // writeIvfIndex note, and much bigger here): the coarse fit's
    // probe + collect, fitPqQ's dims probe plus its m per-subspace
    // agg + collect pairs, and the encode/write pass are all separate
    // actions — the raw-space PQ build re-scanned the source ~12×.
    val base = corpus.select(col(cId), col(cVec))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    // coarse quantizer: the same fit + integer-space cell assignment as
    // the float/SQ8 layouts — one cell geometry across all three
    val qcents = graft.sim.Cluster.fitCentroidsQ(
      base, cId, cVec, nlist, seed, iters = 4, scale = scale)
    val centsQDf = corpus.sparkSession
      .createDataFrame(qcents).toDF("cid", "qcv")
    val corpusQ = base.select(col(cId).as("neighbor_id"),
        col(cVec).as("__cv"))
      .withColumn("__qv", transform(col("__cv"),
        x => floor(x.cast("double") * scale).cast("long")))
    // the RESIDUAL path caches the assignment for the build: fitPqQ's
    // dims probe, its per-subspace agg+collect pairs, and the final
    // encode are all separate ACTIONS over this frame, and each would
    // otherwise recompute the full assignment subtree (the residual
    // build spent a measured 10.4 s at sf0.1 mostly re-assigning the
    // corpus 9×). The raw-space path
    // fits its codebooks on `corpus` directly and runs exactly ONE
    // action over this frame (the coded write), so caching there would
    // be pure overhead — a corpus-sized materialization with zero
    // reuse (r12 review).
    val assigned0raw = graft.sim.Cluster
      .clusterAssign(corpusQ, "neighbor_id", "__qv", centsQDf, "cid", "qcv")
      .withColumn("__cell", col("cluster_id").cast("int"))
    val assigned0 =
      if (residual) assigned0raw.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else assigned0raw
    val obsPq = org.apache.spark.sql.Observation()
    try {
    // PQ codebooks fit on the SAME corpus the cells store, persisted as
    // the third table — a probe building ADC under any other codebook
    // would score a different geometry (the SQ8 params/ contract)
    val coarseByCell = qcents.map(_._2)
    val cb =
      if (!residual) pqCodebooks(base, cId, cVec, m, ksub, seed)
      else {
        // integer residuals: coarse centroids ride a plan literal (the
        // declared-small nlist × dim table), subtraction is exact on
        // the shared grid; rows with no cell (NULL/ragged vectors)
        // yield NULL residuals and sit out of the fit
        val coarseLit = typedlit(coarseByCell.map(_.toSeq))
        val res = assigned0
          .filter(col("__cell").isNotNull)
          .select(col("neighbor_id"),
            zip_with(col("__qv"),
              element_at(coarseLit, col("__cell") + 1),
              (a, b) => a - b).as("__rv"))
        corpus.sparkSession.createDataFrame(
            fitPqQ(res, "neighbor_id", "__rv", m, ksub, seed, iters = 4,
              preQuantized = true))
          .toDF("sub", "cid", "qcv")
      }
    cb.coalesce(1).write.mode("overwrite").parquet(s"$path/pq")
    val coded =
      if (!residual) encodePq(assigned0.select("neighbor_id", "__cv", "__cell"),
        "__cv", cb, "codes")
      else encodePqResidual(assigned0.select("neighbor_id", "__cv", "__cell"),
        "__cv", "__cell", coarseByCell, cb, "codes")
    coded
      .select("neighbor_id", "codes", "__cell")
      // observe ABOVE the exchange — the writeIvfIndex retry note
      .repartition(col("__cell"))
      .observe(obsPq, count(lit(1)).as("rows"))
      .write.mode("overwrite").partitionBy("__cell").parquet(s"$path/assigned")
    } finally { if (residual) { assigned0.unpersist(); () } }
    corpus.sparkSession.createDataFrame(
        qcents.map { case (c, qv) =>
          (c.toInt, qv.map(_.toDouble / scale), qv)
        })
      .toDF("__cell", "__centroid", "__qcentroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    // observed on the coded write (the writeIvfIndex Observation note)
    ivf(corpus.sparkSession, path).write(buildCert(
      observedRows(obsPq, corpus.sparkSession, s"$path/assigned"), nlist,
      quant = 2, pqM = m, pqKsub = ksub, pqRes = if (residual) 1 else 0))
    } finally { base.unpersist(false); () }
  }

  /** Encode a batch under a persisted index's STORED geometry — the
    * shared core of [[appendIvfIndex]] and the streaming append sink
    * ([[graft.streaming.EventStream.appendIvfIndexStream]]): the
    * increment path exact and near-dup dedup already had
    * (incrementalDedup / the q107 band-index append) and the ANN index
    * lacked — a new embedding batch no longer forces a full rebuild.
    * Cells assign under the stored centroids (the build's
    * integer-space argmin), payloads encode under the stored codebook
    * for quantized layouts (SQ8 params / PQ codebooks — batch
    * statistics would put the rows on a DIFFERENT grid than the cells
    * they join). Geometry always comes FROM the manifest — there are
    * no tuning parameters to drift (the YAML sink cross-checks any
    * declared options and refuses mismatches loudly). Works for all
    * three layouts.
    *
    * Semantics: for the FLOAT layout an exhaustive probe after an
    * append still equals brute-force cosine over corpus ∪ batch (the
    * cells only partition; scoring reads true vectors). For quantized
    * layouts the batch lands on the ORIGINAL build's grid/codewords —
    * deliberately: comparability across increments IS the index
    * contract (FAISS adds to a trained index the same way); re-train
    * (rebuild) when the embedding distribution drifts. Returns
    * (neighbor_id, payload, __cell) rows in the layout's own payload
    * column, plus the manifest. Torn-index states refuse loudly
    * before any table read (the openIvfIndex contract). */
  /** Load and validate a persisted index's geometry (manifest +
    * centroids), with the append family's torn-index refusals —
    * shared by the per-call encode path and the streaming sink's
    * once-at-start load. */
  private[graft] def loadIndexGeometry(
      spark: org.apache.spark.sql.SparkSession, path: String,
      caller: String): (IvfManifest, DataFrame) = {
    val m = IvfManifest(ivf(spark, path).certified(caller))
    val c = spark.read.parquet(s"$path/centroids")
    require(c.count() == m.nlist,
      s"$caller: '$path' is torn — manifest says nlist=${m.nlist} " +
        s"but centroids/ disagrees; rebuild with writeIvfIndex")
    // quantized layouts carry a codebook table the batch must encode
    // under — name a torn index and the rebuild remedy BEFORE the
    // parquet read (openIvfIndex's contract; r11 ADVICE: a bare
    // PATH_NOT_FOUND here broke the index family's loud-refusal rule)
    val extraTable = m.quant match {
      case 1 => Some("params"); case 2 => Some("pq"); case _ => None
    }
    extraTable.foreach { t =>
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      require(fs.exists(new org.apache.hadoop.fs.Path(s"$path/$t")),
        s"$caller: '$path' is a ${m.layoutName} index missing " +
          s"its $t/ table — torn build; rebuild with writeIvfIndex " +
          "before appending")
    }
    (m, c)
  }

  private[graft] def encodeUnderStoredGeometry(batch: DataFrame,
      cId: String, cVec: String, path: String, caller: String,
      pre: Option[(IvfManifest, DataFrame)] = None,
      preExtra: Option[DataFrame] = None)
      : (DataFrame, IvfManifest) = {
    val spark = batch.sparkSession
    // `pre` = (manifest, centroids) validated and cached by a
    // long-running caller (the streaming sink loads geometry once at
    // stream start — the per-batch torn checks would otherwise repeat
    // a count job per trigger; the caller keeps its own geom_id
    // tripwire against out-of-band retrains)
    val (mf, centDf) =
      pre.getOrElse(loadIndexGeometry(spark, path, caller))
    val scale = 10000
    val centsQ = centDf.select(col("__cell").cast("long").as("cid"),
      col("__qcentroid").as("qcv"))
    val batchQ = batch.select(col(cId).as("neighbor_id"),
        col(cVec).as("__cv"))
      .withColumn("__qv", transform(col("__cv"),
        x => floor(x.cast("double") * scale).cast("long")))
    val assigned0 = graft.sim.Cluster
      .clusterAssign(batchQ, "neighbor_id", "__qv", centsQ, "cid", "qcv")
      .withColumn("__cell", col("cluster_id").cast("int"))
    val rows = mf.quant match {
      case 0 => assigned0.select("neighbor_id", "__cv", "__cell")
      case 1 =>
        // preExtra = the codebook table a long-running caller loaded
        // (and persisted) once at stream start — the per-call read is
        // the batch-append path
        val params = preExtra.getOrElse(
          spark.read.parquet(s"$path/params"))
        quantizeInt8(assigned0, "__cv", params, "qvec")
          .select("neighbor_id", "qvec", "__cell")
      case _ =>
        val cb = preExtra.getOrElse(spark.read.parquet(s"$path/pq"))
        if (mf.pqRes == 0)
          encodePq(assigned0.select("neighbor_id", "__cv", "__cell"),
              "__cv", cb, "codes")
            .select("neighbor_id", "codes", "__cell")
        else {
          // residual layout: the batch encodes against the STORED
          // coarse centroids' residual space, like the build
          val coarse = centDf
            .select(col("__cell").cast("int"), col("__qcentroid"))
            .collect().sortBy(_.getInt(0))
            .map(_.getSeq[Long](1).toIndexedSeq).toIndexedSeq
          encodePqResidual(
              assigned0.select("neighbor_id", "__cv", "__cell"),
              "__cv", "__cell", coarse, cb, "codes")
            .select("neighbor_id", "codes", "__cell")
        }
    }
    (rows, mf)
  }

  /** Append a batch to a persisted IVF index under its EXISTING
    * geometry ([[encodeUnderStoredGeometry]]): staged per cell, swapped
    * into the cell partitions, the certificate re-issued with the new
    * row count (geometry identity and stream marks carried unchanged —
    * an append extends, never retrains). Row accounting is
    * incremental: the encode is row-preserving (NULL/ragged vectors
    * keep a NULL cell, they are written, never dropped), so the new
    * total is certified + batch — an O(batch) count instead of
    * re-listing every footer of a 100-TB table per append. Duplicate
    * ids are the CALLER's contract (append kept rows — run the
    * incremental dedup gate first, the q107 discipline); an append
    * never dedups. */
  def appendIvfIndex(batch: DataFrame, cId: String, cVec: String,
      path: String): Unit = {
    val art = ivf(batch.sparkSession, path)
    art.writer("appendIvfIndex", compacting = false) {
      val (rows, mf) =
        encodeUnderStoredGeometry(batch, cId, cVec, path, "appendIvfIndex")
      val stagedP = art.stage("assigned", "append")
      rows.repartition(col("__cell"))
        .write.mode("overwrite").partitionBy("__cell")
        .parquet(stagedP.toString)
      art.swap(Seq("assigned" -> stagedP),
        mf.cert.next(rows = mf.rows + batch.select(col(cId)).count()))
    }
  }

  /** DELETE — the index lifecycle's takedown verb: a 100-TB
    * training-data pipeline must honor removals WITHOUT a rebuild.
    * Tombstone semantics, LSM-style: the ids append to a tiny
    * `deletes/` table (declared-small — takedowns are bounded by
    * legal/ops reality, not corpus scale), every probe anti-joins it
    * BROADCAST (openIvfIndex — one shared filter across all three
    * layouts, covering built AND still-streaming rows), and the next
    * [[compactIvfIndex]] purges the tombstoned rows physically. Until
    * that purge the bytes remain on disk — callers with hard-erasure
    * deadlines run the fold as part of the takedown. Ids absent from
    * the index are legal (a takedown list replayed twice is
    * routine). */
  def deleteFromIvfIndex(ids: DataFrame, idCol: String,
      path: String): Unit =
    ivf(ids.sparkSession, path).deleteIds(ids, idCol, "deleteFromIvfIndex")

  /** Fold the streamed epoch partitions (`path/stream`, written by
    * [[graft.streaming.EventStream.appendIvfIndexStream]]) into the
    * main `assigned/` table, and purge tombstoned rows
    * ([[deleteFromIvfIndex]]): one rewrite off the hot path — the
    * LSM-style compaction that keeps the steady-state probe a
    * two-table union at worst and a single table after.
    *
    * TWO SHAPES. Without tombstones — the continuous-operation case —
    * the fold is APPEND-ONLY: streamed rows stage per cell and swap IN
    * as new cell files, no existing file is ever read or deleted, and
    * the folded epoch dirs are RETAINED under the freshly-written
    * watermark (grace) until the NEXT fold's resurrected-epoch sweep
    * collects them — so a probe that listed them pre-fold finishes
    * against intact files while post-mark probes skip them
    * (RaceSoakSpec holds 20 folds under a probing thread with zero
    * errors). Cost is O(streamed rows). WITH tombstones the fold is
    * CELL-SCOPED: it rewrites only the cell partitions the snapshot
    * touches or a tombstoned row lives in (untouched cells keep their
    * exact files, spec-pinned); the replaced cell files enter the
    * dead-file grace list. Finding the tombstoned cells costs one
    * column-pruned scan of the id column — only when tombstones exist.
    *
    * Safe beside a LIVE stream: the fold operates on the epoch dirs
    * listed at entry, and a later REPLAY of a folded epoch is skipped
    * by the sink against the watermark. Epochs at/below their tag's
    * watermark found at entry — the previous fold's graced dirs, or a
    * replay that raced a compaction — are deleted WITHOUT folding
    * (folding again would make the duplication permanent).
    *
    * Returns the count of tombstone-matched rows physically purged —
    * 0 for a fold-only run — so compliance receipts (the YAML
    * takedown/compact surface) can record the purge without a second
    * scan. The count is one extra partition-pruned job over the
    * touched cells, run only when tombstones exist. */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Long = {
    val art = ivf(spark, path)
    val verb = "compactIvfIndex"
    // tombstone snapshot: purge + clear exactly these files
    val delFiles = art.tombstoneFiles()
    if (!art.fs.exists(art.at("stream")) && delFiles.isEmpty) {
      // nothing to fold or purge — still a maintenance ENTRY
      art.collectDeadStandalone()
      0L
    } else {
      art.certified(verb)
      art.writer(verb, compacting = true)(foldAndPurge(art, delFiles))
    }
  }

  /** [[compactIvfIndex]]'s body, under the `compacting` marker. */
  private def foldAndPurge(art: graft.engine.LayoutFs.Artifact,
      delFiles: Seq[org.apache.hadoop.fs.Path]): Long = {
    val spark = art.spark
    val path = art.path
    val fs = art.fs
    val mf = art.collectDead(art.certified("compactIvfIndex"))
    // the stream snapshot, three bins: file-less crash husks (swept),
    // epochs at/below their tag's watermark (deleted without folding)
    // and genuinely new epochs (folded)
    val (files, husks) = art.streamEpochs("stream")
      .partition(e => graft.engine.LayoutFs.hasVisibleParquetFile(fs, e._3))
    val (resurrected, live) = files.partition { case (tag, ep, _) =>
      mf.streamMarks.get(tag).exists(ep <= _) }
    (husks ++ resurrected).foreach(e => fs.delete(e._3, true))
    def sweepEmpties(): Unit = { art.sweepStreamHusks(); art.sweepDeletes() }
    val marks = mf.streamMarks ++
      live.groupBy(_._1).view.mapValues(_.map(_._2).max).map {
        case (tag, mx) => tag -> math.max(mx, mf.streamMarks.getOrElse(tag, -1L))
      }
    def streamed = art.readEpochs("stream", live).drop("__epoch", "__stream")
    if (live.isEmpty && delFiles.isEmpty) { sweepEmpties(); return 0L }
    if (delFiles.isEmpty) {
      // APPEND-ONLY FOLD: stage the streamed rows per cell (the long
      // part, certificate intact) and swap them in as new cell files
      val stagedP = art.stage("assigned", "fold")
      streamed.repartition(col("__cell"))
        .write.mode("overwrite").partitionBy("__cell")
        .parquet(stagedP.toString)
      val folded =
        if (graft.engine.LayoutFs.hasVisibleParquetFile(fs, stagedP))
          spark.read.parquet(stagedP.toString).count()
        else 0L
      art.swap(Seq("assigned" -> stagedP),
        mf.next(rows = mf.rows + folded, streamMarks = marks))
      sweepEmpties()
      return 0L
    }
    val dels = art.tombstoneIds(delFiles)
    // the touched partition set: cells streamed rows land in (from the
    // directory names — no data read), plus cells holding a tombstoned
    // row (one id-column-only scan)
    val streamCells: Set[String] = live.flatMap { case (_, _, p) =>
      fs.listStatus(p).toSeq.filter(_.isDirectory)
        .map(_.getPath.getName).filter(_.startsWith("__cell="))
    }.toSet
    val delCells: Set[String] = spark.read.parquet(s"$path/assigned")
      .join(broadcast(dels), col("neighbor_id") === col("__del_id"),
        "left_semi")
      .select("__cell").distinct().collect()
      .map(r => "__cell=" + (if (r.isNullAt(0)) NullPartitionName
        else r.get(0).toString)).toSet
    val touched = streamCells ++ delCells
    if (touched.isEmpty) {
      // tombstones matching nothing in assigned/ and no streamed rows
      art.consumeTombstones(delFiles, dels)
      sweepEmpties()
      return 0L
    }
    val touchedVals = touched.map(_.stripPrefix("__cell="))
    val intCells = touchedVals.filter(_ != NullPartitionName).map(_.toInt).toSeq
    val inTouched: Column = {
      val in = if (intCells.nonEmpty) col("__cell").isin(intCells: _*)
        else lit(false)
      if (touchedVals.contains(NullPartitionName)) in || col("__cell").isNull
      else in
    }
    // stage the merged TOUCHED cells first (the long part); the
    // main-table read is partition-pruned to the touched cells
    val mainTouched = spark.read.parquet(s"$path/assigned")
      .filter(inTouched)
    val merged0 =
      if (live.isEmpty) mainTouched else mainTouched.unionByName(streamed)
    // the purge receipt count: tombstone-matched rows about to be
    // dropped from the touched cells ∪ folded epochs
    val purged = merged0.join(broadcast(dels),
      col("neighbor_id") === col("__del_id"), "left_semi").count()
    val stagedP = art.stage("assigned", "compact")
    merged0.join(broadcast(dels), col("neighbor_id") === col("__del_id"),
        "left_anti")
      .repartition(col("__cell"))
      .write.mode("overwrite").partitionBy("__cell")
      .parquet(stagedP.toString)
    // incremental row accounting — O(touched), never a full-table
    // count: certified − touched cells' old rows + staged rows
    val mainTouchedCount = mainTouched.count()
    val stagedCount =
      if (graft.engine.LayoutFs.hasVisibleParquetFile(fs, stagedP))
        spark.read.parquet(stagedP.toString).count()
      else 0L // every touched row tombstoned — nothing staged
    // the touched cells' PRE-SWAP files become the dead-file grace list
    val deadNow: Seq[String] = touched.toSeq.flatMap { cellDir =>
      val cd = art.at(s"assigned/$cellDir")
      if (!fs.exists(cd)) Nil
      else fs.listStatus(cd).toSeq
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
        .map(st => s"$cellDir/${st.getPath.getName}")
    }
    art.swap(Seq("assigned" -> stagedP), mf.next(
      rows = mf.rows - mainTouchedCount + stagedCount, streamMarks = marks,
      deadFiles = if (deadNow.isEmpty) Map.empty else Map("assigned" -> deadNow)))
    art.consumeTombstones(delFiles, dels)
    sweepEmpties()
    purged
  }

  /** RAW membership view of a persisted index — assigned/ minus the
    * dead-file grace, ∪ live stream epochs, with NO tombstone
    * suppression: the takedown receipts measure "ids matched" against
    * exactly what the artifact physically holds as live rows
    * (tombstones must not mask a match they are about to purge), and
    * a purge's replaced files must not count as membership either.
    * Version-stable like the probe openers. */
  private[graft] def openAssignedRaw(
      spark: org.apache.spark.sql.SparkSession, path: String)
      : DataFrame = {
    val art = ivf(spark, path)
    art.open("openAssignedRaw") { m =>
      art.withLiveEpochs(art.liveTable("assigned", m), "stream",
        m.streamMarks)
    }
  }

  /** Hive's directory name for a NULL partition value — the quarantine
    * cell malformed embeddings land in (writeIvfIndex's NULL-cell
    * contract). */
  private val NullPartitionName = "__HIVE_DEFAULT_PARTITION__"

  /** Auto-compaction policy: fold when the stream/ backlog crosses a
    * declared threshold — `afterEpochs` (unfolded epoch count ≥ N) or
    * `afterRowsPct` (streamed rows ≥ X% of the certified main-table
    * rows) — or when the tombstone backlog reaches `afterDeletesPct`
    * of the certified total. Checked at append / stream-batch / delete
    * boundaries by the YAML `ann_index` sink (`compact_after_epochs` /
    * `compact_after_rows_pct` / `purge_after_deletes_pct`) and the
    * streaming sink ([[graft.engine.LayoutFs.Artifact.autoCompact]]).
    *
    * Cost model: the epoch check is pure directory listing (no data
    * read, no Spark job) — safe every batch. The rows_pct check adds
    * a footer-only count of the live epoch dirs (O(stream files),
    * bounded by the backlog the policy exists to cap). A triggered
    * fold costs O(streamed + touched cells), so the policy's amortized
    * cost per streamed row is a constant factor, while its absence
    * lets probe-side union reads degrade without bound. Returns true
    * when a fold ran. */
  def maybeCompactIvfIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, afterEpochs: Option[Int] = None,
      afterRowsPct: Option[Double] = None,
      afterDeletesPct: Option[Double] = None): Boolean =
    ivf(spark, path).autoCompact(afterEpochs = afterEpochs,
      afterRowsPct = afterRowsPct, afterDeletesPct = afterDeletesPct) {
      compactIvfIndex(spark, path); ()
    }

  /** Probe a persisted IVF-PQ index: cells rank by float centroid
    * distance (the shared probeCells), each query builds its ADC grid
    * under the index's OWN pq/ codebooks, and candidates in the probed
    * cells rank by exact integer ADC — [[pqTopK]]'s contract, so an
    * exhaustive probe (nprobe = nlist) must reproduce the brute-force
    * PQ answer (spec- and oracle-pinned, the q113 ≡ q116 shape).
    * Output: (query_id, neighbor_id, d2pq, rank). At scale a probe
    * reads nprobe/nlist of the CODE bytes — the two compressions
    * (partition pruning × 32× code shrink) multiply. */
  def ivfIndexTopKPq(spark: org.apache.spark.sql.SparkSession,
      path: String, queries: DataFrame, qId: String, qVec: String,
      k: Int, nprobe: Int = 4, excludeSelf: Boolean = true): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val (centDfRaw, assigned, mf) =
      openIvfIndex(spark, path, "ivfIndexTopKPq", wantQuant = 2)
    val cb = spark.read.parquet(s"$path/pq")
    val (m, dsub, cbSeq) = collectPqCodebooks(cb)
    val probes = probeCells(queries, qId, qVec, centDfRaw, nprobe)
    val cand =
      if (mf.pqRes == 0) {
        // raw-space codes: the ADC grid depends on the query alone —
        // it rides the (tiny, broadcast) query side and probes
        // re-attach it by query id so the candidate join stays narrow
        val qAdc = broadcast(withAdc(queryProjection(queries, qId, qVec),
          "__qv", m, dsub, cbSeq, "__adc").drop("__qv"))
        probes.drop("__qv").join(qAdc, Seq("query_id"))
          .join(assigned.withColumnRenamed("codes", "__codes"),
            Seq("__cell"))
      } else {
        // RESIDUAL codes: the grid depends on (query, probed cell) —
        // each probe row subtracts its cell's coarse centroid (exact
        // long arithmetic on the shared grid) and builds its own ADC.
        // Still queries × nprobe rows: tiny, and the per-row grid is
        // the same m·ksub·dsub work the raw path does once per query.
        val coarse = centDfRaw
          .select(col("__cell").cast("int"), col("__qcentroid"))
          .collect().sortBy(_.getInt(0))
          .map(_.getSeq[Long](1).toSeq).toSeq
        val coarseLit = typedlit(coarse)
        val cbLit = typedlit(cbSeq)
        val valid = col("__qv").isNotNull &&
          size(col("__qv")) === lit(m * dsub) &&
          !exists(col("__qv"), x => x.isNull)
        probes
          .withColumn("__pq_rqv", zip_with(
            transform(col("__qv"),
              x => floor(x.cast("double") * PqScale).cast("long")),
            element_at(coarseLit, col("__cell") + 1),
            (a, b) => a - b))
          .withColumn("__adc", when(valid,
            adcGrid(col("__pq_rqv"), m, dsub, cbSeq.head.length, cbLit)))
          .drop("__qv", "__pq_rqv")
          .join(assigned.withColumnRenamed("codes", "__codes"),
            Seq("__cell"))
      }
    rankByAdc(cand, m, k, excludeSelf)
  }

  /** Manifest-dispatched probe across the three index layouts — the
    * manifest is the AUTHORITY for which metric ranks the hits (float
    * cosine / SQ8 integer grid / PQ ADC): routing on anything
    * caller-side would turn a stale flag into the wrong metric (each
    * single-layout entry point refuses the others loudly for exactly
    * that reason; this one routes instead). Output keeps the layout's
    * native metric column (`score` / `d2q` / `d2pq`) plus
    * (query_id, neighbor_id, rank) — renaming would hide which metric
    * ranked the hits. A missing manifest refuses loudly BEFORE any
    * table read (the openIvfIndex torn-build contract). Shared by the
    * API `_knn` route and the streaming ingest probe. */
  def ivfIndexTopKAuto(spark: org.apache.spark.sql.SparkSession,
      path: String, queries: DataFrame, qId: String, qVec: String,
      k: Int, nprobe: Int = 4, excludeSelf: Boolean = true): DataFrame = {
    val mf = IvfManifest(ivf(spark, path).certified("ivfIndexTopKAuto"))
    mf.quant match {
      case 1 => ivfIndexTopKQuantized(spark, path, queries, qId, qVec,
        k, nprobe, excludeSelf)
      case 2 => ivfIndexTopKPq(spark, path, queries, qId, qVec,
        k, nprobe, excludeSelf)
      case _ => ivfIndexTopK(spark, path, queries, qId, qVec,
        k, nprobe, excludeSelf)
    }
  }
}
