package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding-space clustering for corpus curation: nearest-centroid
  * assignment and cluster-balanced sampling (cap each cluster's
  * contribution — the diversity-enforcement step of modern data
  * curation pipelines, cf. cluster-based dedup/selection in SemDeDup
  * §2 and DataComp-LM-style pool balancing).
  *
  * The 100-TB shape: centroid sets are SMALL by construction (a
  * codebook of thousands at most — the same declared-small artifact
  * rule as the IVF centroid table, SCALE.md), so assignment never
  * shuffles the corpus. The centroids ride a one-row broadcast
  * (collect_list → crossJoin) and each row computes its argmin in a
  * row-local higher-order fold; balanced sampling adds the one
  * window-pruned exchange capPerKey always costs. */
object Cluster {

  /** Add `cluster_id` (+ `cluster_d2`, squared euclidean) — each row's
    * nearest centroid from `centroids(cidCol, cvecCol)`, ties broken by
    * smaller centroid id (deterministic). Vector arrays may be any
    * numeric type (cast to double per element). Rows whose vector is
    * NULL or whose length disagrees with every centroid get NULL
    * cluster columns — malformed embeddings are data, not errors. An
    * EMPTY codebook likewise yields NULL for every row (no centroid can
    * win); validate codebook non-emptiness upstream if that should be
    * fatal — this operator stays lazy (no job at plan build). */
  def clusterAssign(df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, cidCol: String, cvecCol: String): DataFrame = {
    // one-row broadcast of the sorted codebook: array order IS the
    // tie-break (the fold keeps the earliest on equal distance), so
    // sort by centroid id — collect_list order is not deterministic
    val cents = broadcast(centroids
      .select(struct(col(cidCol).cast("long").as("cid"),
        transform(col(cvecCol), x => x.cast("double")).as("cv")).as("__c"))
      .agg(array_sort(collect_list(col("__c"))).as("__cents")))
    val vecD = transform(col(vecCol), x => x.cast("double"))
    // the "no centroid won yet" state is a NULL cid, not a sentinel id:
    // any long is a legitimate centroid id (this codebase itself uses
    // negative ids in fixtures), so a magic value would silently
    // swallow a real centroid
    val zero = struct(lit(null).cast("long").as("cid"),
      lit(Double.MaxValue).as("d2"))
    val best = aggregate(col("__cents"), zero, (acc, c) => {
      // length mismatches (and NULL elements) yield NULL d2 → the
      // strict < keeps acc, so a bad-dimension centroid can never win.
      // Fused native Σ(a−b)² (r16, L2Dist2Expr — bit-identical to the
      // former aggregate(zip_with) spelling): the nested interpreted
      // lambdas cost k·dim expression evals per ROW on every
      // assignment pass (builds, appends, q70)
      val d2 = graft.functions.NativeExpressions.l2Dist2(
        vecD, c.getField("cv"))
      when(d2 < acc.getField("d2"),
        struct(c.getField("cid").as("cid"), d2.as("d2"))).otherwise(acc)
    })
    df.crossJoin(cents)
      .withColumn("__best", when(col(vecCol).isNotNull, best))
      .withColumn("cluster_id", col("__best.cid"))
      .withColumn("cluster_d2",
        when(col("__best.cid").isNotNull, col("__best.d2")))
      .drop("__cents", "__best")
  }

  /** Fit a seeded k-means codebook over `df`'s vectors and return it as
    * a (cid, cv) DataFrame — feed to [[clusterAssign]] / persist for
    * reuse. Deterministic in (data, k, seed) — and, unlike a
    * float-space Lloyd's, ENGINE-portable: every update runs in
    * quantized integer space (coordinates as `floor(x·10⁴)` longs, the
    * q70 distance trick), so the fixed seeded iterations replay
    * bit-exactly in any engine with 64-bit integers (the driver's
    * DuckDB oracle unrolls them as CTE blocks, the q97 BPE pattern).
    *
    *  - init: the k rows ranked first by (md5(seed‖id), id) — a seeded
    *    deterministic draw, the hashSplit bucket trick; cid = rank.
    *  - assign: integer argmin of Σ(qvᵢ−qcᵢ)², ties to the smaller cid
    *    (exact in [[clusterAssign]]'s double fold — quantized
    *    coordinates keep every product under 2⁵³).
    *  - update: per-dimension floor-division of member sums (empty
    *    clusters keep their centroid, so k never silently shrinks).
    *
    * The per-iteration collect is k·dim longs — the declared-small
    * one-row-per-round artifact (the bpeTrain / k-means-iteration
    * pattern); the training frame is cached once (quantized) and
    * scanned once per iteration with a broadcast codebook, never
    * shuffling beyond the k·dim-cell partial agg. At corpus scale the
    * caller fits on a bounded sample (the standard codebook practice —
    * quality saturates far below corpus size) and assigns the full
    * corpus afterwards with [[clusterAssign]], so the cache is
    * sample-sized, not 100 TB. `iters` is a FIXED budget, not a
    * convergence test: convergence checks compare floats and would
    * fork engines. */
  def fitCentroids(df: DataFrame, idCol: String, vecCol: String, k: Int,
      seed: Long = 42L, iters: Int = 4, scale: Int = 10000,
      localThreshold: Int = 65536): DataFrame = {
    val spark = df.sparkSession
    spark.createDataFrame(
        fitCentroidsQ(df, idCol, vecCol, k, seed, iters, scale,
          localThreshold)
          .map { case (cid, qc) => (cid, qc.map(_.toDouble / scale)) })
      .toDF("cid", "cv")
  }

  /** The integer-space fit behind [[fitCentroids]]: the final quantized
    * centroids as driver-side (cid, coordinates·scale) pairs. Exposed
    * so index builders (IVF) can assign cells in the SAME integer space
    * the fit ran in — re-deriving them from the double codebook would
    * round-trip through a division. */
  /** `preQuantized = true` takes `vecCol` as ALREADY-integer long
    * arrays (residual vectors — differences of two quantized grids are
    * exact integers; re-quantizing them through a double division
    * would round-trip off the grid) and skips the floor(x·scale)
    * transform; everything else — seeded init, integer argmin,
    * floor-division updates, null filtering — is identical, so the
    * oracle towers replay both modes with one spelling. */
  private[graft] def fitCentroidsQ(df: DataFrame, idCol: String,
      vecCol: String, k: Int, seed: Long, iters: Int,
      scale: Int, localThreshold: Int = 65536,
      preQuantized: Boolean = false): IndexedSeq[(Long, IndexedSeq[Long])] = {
    require(k >= 1, s"fitCentroids needs k >= 1, got $k")
    require(iters >= 1, s"fitCentroids needs iters >= 1, got $iters")
    val spark = df.sparkSession
    // NULL ids are excluded from the FIT in both regimes: the seeded
    // init ranks by md5(seed‖id), and a NULL id hashes to NULL — every
    // NULL-id row would tie at (NULL, NULL) and seed centroids
    // NONDETERMINISTICALLY, forking the oracle replay. (Rows with NULL
    // ids can still be ASSIGNED later — clusterAssign never reads the
    // id.) Vectors containing NULL ELEMENTS are excluded too (r10
    // ADVICE): assignment already sits them out (a NULL term NULLs the
    // whole d2, so they can never win a cluster), but the md5 init
    // ranking would happily SEAT one as a centroid — and a null-seat
    // centroid never attracts members, so its boxed-null coordinates
    // survive every update and NPE in fitCentroids' unquantize (and in
    // writeIvfIndex, which consumes the same codebook). One
    // filter here keeps both regimes consistent with the scaladoc's
    // "NULL elements sit out" promise; the DuckDB oracle CTE carries
    // the same list_filter predicate.
    val quant: Column =
      if (preQuantized) col(vecCol).cast("array<bigint>")
      else transform(col(vecCol),
        x => floor(x.cast("double") * scale).cast("long"))
    val qdf0 = df.filter(col(vecCol).isNotNull && col(idCol).isNotNull)
      .select(col(idCol).cast("long").as("__id"), quant.as("__qv"))
      .filter(!exists(col("__qv"), x => x.isNull))
    // regime split, the bpeTrain pattern: the iterations are strictly
    // sequential, and at the typical codebook-fit scale (a bounded
    // sample) 1 + 2·iters Spark job round-trips are nearly all
    // scheduler/plan latency — measured as q60_ann_ivf_build spending
    // 3.7 of its 5.8 s inside a 2000-row fit. One cheap aggregate
    // probes rows AND the widest dimension (the bpeTrain count-then-
    // collect split — never a speculative 65k-row collect whose only
    // outcome is "too big"); when rows·dims fits the driver budget, the
    // sample collects once and the loop below runs the identical
    // integer arithmetic (fitLocalQ — equality with the distributed
    // regime is pinned by GraphDedupSpec), so the oracle replay cannot
    // tell the regimes apart. Otherwise the per-iteration Spark jobs
    // run over a cached quantized frame — the regime for a sample that
    // outgrows the driver.
    val st = qdf0.agg(count(lit(1)), max(size(col("__qv")))).head()
    val n = st.getLong(0)
    val maxDim = if (st.isNullAt(1)) 0L else st.getInt(1).toLong
    // 16M quantized longs ≈ 128 MB primitive (a few × boxed during the
    // one-pass decode) — the declared-small driver budget
    if (n <= localThreshold && n * math.max(maxDim, 1L) <= 16000000L)
      return fitLocalQ(qdf0.collect().map(r =>
        (r.getLong(0), r.getSeq[java.lang.Long](1).toIndexedSeq)), k, seed, iters)
    // the quantized frame feeds the init pass PLUS one assignment + one
    // moment aggregation per iteration — without a cache that is
    // 1 + 2·iters re-reads and re-quantizations of the source.
    val qdf = qdf0
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // seeded init: k rows by (60-bit md5 hash, id) — TakeOrderedAndProject,
      // never a global sort; collect order IS the cid order
      val h = conv(substring(md5(concat(lit(seed.toString),
        col("__id").cast("string"))), 1, 15), 16, 10).cast("long")
      var cents: IndexedSeq[(Long, IndexedSeq[Long])] =
        qdf.withColumn("__h", h).orderBy(col("__h"), col("__id")).limit(k)
          .select("__qv").collect()
          .zipWithIndex.map { case (r, i) =>
            (i.toLong, r.getSeq[Long](0).toIndexedSeq)
          }.toIndexedSeq
      require(cents.nonEmpty, "fitCentroids: no non-null vectors to fit")
      for (_ <- 1 to iters) {
        val centsDf = spark.createDataFrame(cents).toDF("cid", "cv")
        // rows whose dimension matches no centroid assign NULL and sit out
        val assigned = clusterAssign(qdf, "__id", "__qv", centsDf, "cid", "cv")
          .filter(col("cluster_id").isNotNull)
        val stats = assigned
          .select(col("cluster_id"),
            posexplode(col("__qv")).as(Seq("__pos", "__q")))
          .groupBy("cluster_id", "__pos")
          .agg(sum("__q").as("__s"), count(lit(1)).as("__n"))
          .collect()
          .groupBy(_.getLong(0))
          .map { case (cid, rows) =>
            cid -> rows.map(r => r.getInt(1) ->
              java.lang.Math.floorDiv(r.getLong(2), r.getLong(3))).toMap
          }
        cents = cents.map { case (cid, old) =>
          stats.get(cid) match {
            case Some(byPos) => (cid, old.indices.map(byPos))
            case None        => (cid, old) // empty cluster keeps its centroid
          }
        }
      }
      cents
    } finally qdf.unpersist(false)
  }

  /** The 60-bit md5 init hash, driver-side: byte-for-byte the
    * distributed spelling `conv(substring(md5(concat(seed, id)), 1, 15),
    * 16, 10)` — md5 hex is lowercase on both sides and 15 hex digits fit
    * a long exactly. */
  private def initHash60(seed: Long, id: Long): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest((seed.toString + id.toString)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.lang.Long.parseLong(
      d.map(b => f"$b%02x").mkString.substring(0, 15), 16)
  }

  /** Driver-regime Lloyd's over an already-collected quantized sample —
    * the SAME integer arithmetic as the distributed loop in
    * [[fitCentroidsQ]], statement for statement:
    *  - init: rank by (initHash60, id), take k, cid = rank;
    *  - assign: left-to-right strict-< argmin of Σ(qᵢ−cᵢ)² over the
    *    cid-ordered codebook (every term an exact integer < 2⁵³, so the
    *    double fold the distributed expression runs and the primitive
    *    loop here are the same numbers); rows/centroids with a
    *    mismatched dimension or a NULL element never win and sit out —
    *    mirroring zip_with's NULL padding semantics;
    *  - update: per-dimension floorDiv of member sums; empty clusters
    *    keep their centroid.
    * Equality of the two regimes is pinned by GraphDedupSpec. */
  private def fitLocalQ(rows: Array[(Long, IndexedSeq[java.lang.Long])],
      k: Int, seed: Long, iters: Int): IndexedSeq[(Long, IndexedSeq[Long])] = {
    require(rows.nonEmpty, "fitCentroids: no non-null vectors to fit")
    // prim = the unboxed vector for math. Null-element vectors are
    // filtered out in fitCentroidsQ before either regime runs (r10
    // ADVICE — a null init seat NPEs every consumer), so prim = null is
    // defensive only: it keeps this private loop total if a future
    // caller feeds it unfiltered rows.
    val prepped = rows.map { case (id, raw) =>
      val prim = if (raw.contains(null)) null
        else { val a = new Array[Long](raw.length)
          var i = 0; while (i < raw.length) { a(i) = raw(i); i += 1 }; a }
      (id, raw, prim)
    }
    val init = prepped
      .map { case (id, raw, prim) => (initHash60(seed, id), id, raw, prim) }
      .sortBy { case (h, id, _, _) => (h, id) }
      .take(k)
    var cents: IndexedSeq[(IndexedSeq[java.lang.Long], Array[Long])] =
      init.map { case (_, _, raw, prim) => (raw, prim) }.toIndexedSeq
    for (_ <- 1 to iters) {
      val sums = cents.map { case (_, prim) =>
        if (prim == null) null else new Array[Long](prim.length) }
      val counts = new Array[Long](cents.length)
      prepped.foreach { case (_, _, qv) =>
        if (qv != null) {
          var bestIdx = -1
          var bestD2 = Double.MaxValue
          var ci = 0
          while (ci < cents.length) {
            val cv = cents(ci)._2
            if (cv != null && cv.length == qv.length) {
              var d2 = 0.0
              var j = 0
              while (j < qv.length) {
                val d = (qv(j) - cv(j)).toDouble; d2 += d * d; j += 1
              }
              if (d2 < bestD2) { bestD2 = d2; bestIdx = ci }
            }
            ci += 1
          }
          if (bestIdx >= 0) {
            val s = sums(bestIdx)
            var j = 0
            while (j < qv.length) { s(j) += qv(j); j += 1 }
            counts(bestIdx) += 1
          }
        }
      }
      cents = cents.zipWithIndex.map { case ((raw, prim), i) =>
        if (counts(i) == 0L) (raw, prim) // empty cluster keeps its centroid
        else {
          val nc = Array.tabulate(prim.length)(j =>
            java.lang.Math.floorDiv(sums(i)(j), counts(i)))
          (nc.toIndexedSeq.map(Long.box), nc)
        }
      }
    }
    cents.zipWithIndex.map { case ((raw, prim), i) =>
      (i.toLong,
        if (prim != null) prim.toIndexedSeq
        // a null-element seat surfaces exactly as the distributed
        // collect would hand it back (boxed nulls in the coordinate seq)
        else raw.asInstanceOf[IndexedSeq[Long]])
    }
  }

  /** Cluster-balanced sample: assign, then keep at most `nPerCluster`
    * rows per cluster (deterministic md5-bucket order, salt re-rolls) —
    * bounds any one embedding region's contribution to the mix, the
    * cluster-level analogue of per-source caps. Unassignable rows
    * (NULL cluster) are KEPT: dropping them silently would make a batch
    * of malformed embeddings vanish from the corpus. */
  def balancedSample(df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, cidCol: String, cvecCol: String,
      nPerCluster: Int, salt: String = ""): DataFrame = {
    val assigned = clusterAssign(df, idCol, vecCol, centroids, cidCol, cvecCol)
    val ok = assigned.filter(col("cluster_id").isNotNull)
    graft.operators.Ops.capPerKey(ok, "cluster_id", idCol, nPerCluster, salt)
      .unionByName(assigned.filter(col("cluster_id").isNull))
  }
}
