package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.{Similarity, Tools}
import graft.graph.ConnectedComponents

/** Deduplication operators for large-scale training-data pipelines: exact,
  * fingerprint, MinHash+LSH, SimHash, n-gram Jaccard. All pure DataFrame
  * transforms designed so the expensive parts (signatures) are computed
  * row-local inside codegen and only candidate generation shuffles.
  */
object Dedup {

  // --------------------------------------------------------------- exact
  /** Exact dedup by content hash: one row per distinct key, keeping the
    * minimum id, plus the duplicate count. NULL texts hash to one NULL
    * group here (SQL GROUP BY semantics, matching the external oracle);
    * [[exactDedup]] deliberately does NOT treat that group as duplicates. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol).cast("binary")).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count("*").as("dup_count"))

  /** Drop exact duplicates, keeping the row with the minimal id per
    * content hash (deterministic, unlike dropDuplicates). Rows with NULL
    * text are all kept: a missing document is not a duplicate of every
    * other missing document (grouping them would silently drop all but
    * one of potentially millions of unrelated rows). */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    keepMinPerKey(df, idCol, md5(col(textCol).cast("binary")))

  /** The survivor rule shared by the exact-key dedup family
    * ([[exactDedup]], [[fingerprintDedup]], UrlTools.urlDedup): keep
    * the min-id row per non-NULL key; NULL-key rows (missing text, a
    * URL that does not normalize) are ALL kept. ONE implementation —
    * the key-expression changes, the keeper contract cannot drift. */
  private[graft] def keepMinPerKey(df: DataFrame, idCol: String,
      key: Column): DataFrame = {
    val keyed = df.withColumn("__dedup_key", key)
    val nn = keyed.filter(col("__dedup_key").isNotNull)
    // ONE key exchange (r15): rank() = 1 over (key, id asc) keeps every
    // row whose id IS the group minimum — identical to the former
    // groupBy(min id) + semi-join shape including duplicate-id
    // multiplicity (rank, not row_number: several copies of the min-id
    // row all tie at rank 1 and all survive, exactly as the semi-join
    // kept them), for two fewer exchanges and ONE evaluation of the
    // (often regex-heavy) key expression instead of two — the semi-join
    // shape referenced `nn` twice, so fingerprint() ran per row per
    // side. WindowGroupLimit prunes each group to its leading ties
    // before the sort completes (the keepBestPerKey plan shape).
    // NULL ids reproduce the semi-join contract too (r16, the r15
    // advice): min() ignored NULLs and a NULL id never equi-joined, so
    // NULL-id rows in a keyed group were DROPPED and an all-NULL-id
    // group vanished — nulls_last keeps them off rank 1 in mixed
    // groups, and the isNotNull conjunct drops the all-NULL groups the
    // window would otherwise rank first.
    val w = Window.partitionBy(col("__dedup_key"))
      .orderBy(col(idCol).asc_nulls_last)
    nn.withColumn("__rk", rank().over(w))
      .filter(col("__rk") === 1 && col(idCol).isNotNull)
      .drop("__rk")
      .unionByName(keyed.filter(col("__dedup_key").isNull))
      .drop("__dedup_key")
  }

  /** Quality-aware survivor rule: keep the row with the HIGHEST
    * `scoreCol` per non-NULL key (ties → min id; NULL scores sort
    * last, so an all-NULL-score group still keeps its min id) — "keep
    * the canonical best", the survivor policy real curation pipelines
    * want once a quality score exists (a crawl dup and its cleaner
    * mirror are the same key; min-id keeps whichever was ingested
    * first, this keeps the better one). NULL-key rows are ALL kept,
    * the family-wide contract.
    *
    * ONE shuffle on the key; WindowGroupLimit prunes each group to its
    * single survivor before the per-partition sort completes (the
    * capPerKey plan shape), so a million-row duplicate group never
    * materializes sorted. */
  private[graft] def keepBestPerKey(df: DataFrame, idCol: String,
      key: Column, scoreCol: String): DataFrame = {
    val keyed = df.withColumn("__dedup_key", key)
    val nn = keyed.filter(col("__dedup_key").isNotNull)
    val w = Window.partitionBy(col("__dedup_key"))
      .orderBy(col(scoreCol).desc_nulls_last, col(idCol))
    nn.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .drop("__rk")
      .unionByName(keyed.filter(col("__dedup_key").isNull))
      .drop("__dedup_key")
  }

  /** [[exactDedup]] / [[fingerprintDedup]] with the keep-best survivor
    * rule — `method` picks the key family, `scoreCol` the quality
    * column (keep max, ties → min id). */
  def dedupKeepBest(df: DataFrame, idCol: String, textCol: String,
      scoreCol: String, method: String = "exact"): DataFrame = {
    val key = method match {
      case "exact"       => md5(col(textCol).cast("binary"))
      case "fingerprint" => fingerprint(col(textCol))
      case other => sys.error(
        s"dedupKeepBest: unknown method '$other' (exact | fingerprint)")
    }
    keepBestPerKey(df, idCol, key, scoreCol)
  }

  // --------------------------------------------------------- fingerprint
  /** Normalized fingerprint key (OpenRefine-style): normalize → tokens →
    * distinct → sort → join → md5. Near-identical docs that differ only
    * in punctuation/case/word order collapse to one key. */
  def fingerprint(c: Column): Column =
    // array_join, NOT concat_ws: concat_ws quietly turns a null token
    // array into "" (colliding every missing doc with every EMPTY doc),
    // while array_join propagates the null — and measures ~30% faster
    // than an explicit when()-guard around the whole expression
    md5(array_join(sort_array(array_distinct(Tools.tokenize(Tools.normalize(c)))), " ")
      .cast("binary"))

  /** Drop fingerprint duplicates keeping the min id per key — the same
    * NULL-text contract as [[exactDedup]] (null docs are each kept). */
  def fingerprintDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    keepMinPerKey(df, idCol, fingerprint(col(textCol)))

  // --------------------------------------------------------- incremental
  /** Incremental dedup — the daily-crawl shape: dedup a NEW `batch`
    * against an already-deduped `corpus` WITHOUT re-touching corpus
    * rows. Returns the batch rows that survive: (1) whose content key
    * (exact md5 or normalized fingerprint, per `method`) appears
    * nowhere in the corpus, and (2) keeping the min-id row per key
    * within the batch itself ([[keepMinPerKey]] — NULL-text rows all
    * kept, as everywhere in this family). Appending the result to the
    * corpus preserves the corpus's dedup invariant, so a 100-TB corpus
    * is never re-deduped from scratch — each increment costs only the
    * increment.
    *
    * Scale shape, `bloomFpp = None`: the corpus contributes ONLY its
    * key column (computed map-side from the scanned text, 32 bytes a
    * row) to one anti-join exchange. With `bloomFpp = Some(p)` the
    * plan inverts around the sides' sizes (batch ≪ corpus, the premise
    * of incremental): a Bloom filter over the BATCH's keys broadcasts,
    * corpus keys that miss it — for a mostly-novel corpus, all but the
    * true overlaps — drop MAP-SIDE before any exchange, and the
    * anti-join right side shrinks to true hits + an fpp-sized trickle
    * the exact key equality then discards. Output is IDENTICAL (the
    * Bloom has no false negatives; the final join is exact on the full
    * key) — same contract as decontamination's `prefilter: bloom`
    * (q53/q68), and the corpus-side shuffle becomes corpus-INDEPENDENT:
    * ~|batch keys| + p·|corpus|. The filter build costs one bounded
    * action over the batch (the small side by definition). */
  def incrementalDedup(batch: DataFrame, corpus: DataFrame, idCol: String,
      textCol: String, method: String = "exact",
      bloomFpp: Option[Double] = None): DataFrame = {
    val keyOf: Column => Column = method match {
      case "exact"       => c => md5(c.cast("binary"))
      case "fingerprint" => c => fingerprint(c)
      case other => sys.error(
        s"incrementalDedup: unknown method '$other' (exact | fingerprint)")
    }
    val corpusKeys = corpus
      .select(keyOf(col(textCol)).as("__ik")).filter(col("__ik").isNotNull)
    val seen = bloomFpp match {
      case None => corpusKeys
      case Some(fpp) =>
        require(fpp > 0 && fpp < 1, s"bloom fpp must be in (0, 1), got $fpp")
        val bKeys = batch
          .select(xxhash64(keyOf(col(textCol))).as("__kh"))
          .filter(col("__kh").isNotNull)
        val n = bKeys.count()
        if (n == 0) corpusKeys.limit(0) // all-NULL batch: nothing can match
        else {
          // build on the raw key stream (put is idempotent; dups only
          // oversize → lower effective fpp), coalesced for the same
          // bit-array-merge reason as testGramBloom (measured there)
          val bf = bKeys.coalesce(8).stat.bloomFilter("__kh", n, fpp)
          val bcast = batch.sparkSession.sparkContext.broadcast(bf)
          val might = udf { (h: Long) => bcast.value.mightContainLong(h) }
          corpusKeys.filter(might(xxhash64(col("__ik"))))
        }
    }
    val novel = batch.withColumn("__ik", keyOf(col(textCol)))
      .join(seen, Seq("__ik"), "left_anti")
      .drop("__ik")
    keepMinPerKey(novel, idCol, keyOf(col(textCol)))
  }

  // ------------------------------------------------------------- MinHash
  /** MinHash signature over an already-hashed (array<long>) element set:
    * k hash functions, minhash_i = min over elements of mix(h, i).
    * One UDF pass — a tight primitive loop (k·|set| splitmix64 mixes per
    * row); the naive alternative (k separate transform+array_min column
    * expressions) generates code too large for whole-stage codegen and
    * falls back to slow interpreted eval. Row-local — no shuffle. */
  private val minhashUdf = udf { (hs: Seq[Long], k: Int) =>
    val out = new Array[Long](k)
    java.util.Arrays.fill(out, Long.MaxValue)
    hs.foreach { h0 =>
      var i = 0
      while (i < k) {
        var z = h0 + 0x9e3779b97f4a7c15L * (i + 1)
        z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
        z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
        z = z ^ (z >>> 31)
        if (z < out(i)) out(i) = z
        i += 1
      }
    }
    out.toSeq
  }
  def minhashSignature(hashedSet: Column, k: Int): Column =
    minhashUdf(hashedSet, lit(k))

  /** LSH banding: signature array → (band_idx, band_hash) pairs. Docs
    * sharing any band hash are candidate near-duplicates. */
  def lshBands(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map(b =>
      struct(lit(b).as("band"),
        xxhash64(concat_ws(",", slice(sig, b * rowsPerBand + 1, rowsPerBand)), lit(b))
          .as("bucket"))): _*)

  private def fnv64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h ^= s.charAt(i); h *= 0x100000001b3L; i += 1 }
    h
  }

  /** Sorted distinct hashed word-k-shingles of a token array in ONE pass.
    * A Column-side composition (transform over sliced token windows)
    * inlines the tokenization into the lambda and re-runs it per shingle
    * index — O(tokens²) regex work per row; this UDF is the single-pass
    * replacement. Fewer-than-k tokens hash the whole token string; an
    * empty token array yields no shingles, so empty docs never share a
    * phantom "" shingle. */
  private val shingleHashUdf = udf { (toks: Seq[String], k: Int) =>
    if (toks == null) null
    else if (toks.isEmpty) Seq.empty[Long]
    else if (toks.length < k) Seq(fnv64(toks.mkString(" ")))
    else {
      val set = scala.collection.mutable.SortedSet.empty[Long]
      var i = 0
      val sb = new java.lang.StringBuilder
      while (i + k <= toks.length) {
        sb.setLength(0)
        var j = 0
        while (j < k) { if (j > 0) sb.append(' '); sb.append(toks(i + j)); j += 1 }
        set += fnv64(sb.toString)
        i += 1
      }
      set.toSeq
    }
  }

  /** MinHash-LSH candidate pairs verified with true Jaccard.
    *
    * Pipeline: shingle → signature (row-local) → explode bands → self-join
    * on (band, bucket) → distinct pairs → verify true n-gram Jaccard ≥
    * threshold. At scale the band join is the only shuffle and buckets are
    * naturally balanced by the hash; AQE splits skewed buckets.
    *
    * The input is spread with [[graft.operators.Ops.rebalance]] before
    * the shingle kernel, which is the expensive scan-level stage: one
    * unsplittable file would otherwise sign every row on one core. The
    * spread is a no-op on an input that is already parallel. The shingle
    * frame is the one materialization point: the band join and the
    * verify join both read it.
    *
    * @return (id_a, id_b, jaccard) with id_a < id_b
    */
  def minhashNearDups(
      df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.6): DataFrame =
    // shingle sets as sorted hashed longs: set semantics survive, every
    // downstream compare/intersect runs on primitives instead of strings
    lshPairs(graft.engine.CacheScope.cache(
        graft.operators.Ops.rebalance(df).select(col(idCol).as("id"),
          shingleHash(col(textCol), shingleSize).as("shingles"))
        .filter(size(col("shingles")) > 0)),
      numHashes, bands, threshold)

  /** The pair pipeline of the minhash family over a frame that already
    * holds its shingles: (id, shingles), shingle sets non-empty. The
    * caller caches that frame, since it is read twice here: by the band
    * join and by the verify join. */
  private def lshPairs(base: DataFrame, numHashes: Int, bands: Int,
      threshold: Double): DataFrame = {
    // bands > numHashes would make every band slice EMPTY (one global
    // bucket → the full n²/2 cross product); a non-divisor would
    // silently drop trailing hashes
    require(bands >= 1 && numHashes % bands == 0,
      s"bands must divide numHashes (got bands=$bands, numHashes=$numHashes)")
    val rowsPerBand = numHashes / bands
    // band join carries ONLY (band, bucket, id): the wide shingle arrays
    // never enter the shuffle; candidates dedup on the narrow pair
    val banded = base
      .withColumn("sig", minhashSignature(col("shingles"), numHashes))
      .select(col("id"), explode(lshBands(col("sig"), bands, rowsPerBand)).as("b"))
      .select(col("id"), col("b.band"), col("b.bucket"))
    val a = banded.alias("a"); val b = banded.alias("b")
    val pairs = a.join(b,
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    // verify: re-attach the shingle sets for the surviving few pairs
    // (shingle arrays are SORTED — the kernel builds a SortedSet — so
    // withJaccard's native merge scan applies)
    withJaccard(pairs
        .join(base.select(col("id").as("id_a"), col("shingles").as("sh_a")), "id_a")
        .join(base.select(col("id").as("id_b"), col("shingles").as("sh_b")), "id_b"),
        "sh_a", "sh_b")
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Full near-dup dedup: LSH pairs → connected components → keep min id
    * per cluster — or, with `keepScore`, the max-score row per cluster
    * (ties → min id), the same quality-aware survivor rule as
    * [[dedupKeepBest]] lifted to NEAR-dup clusters. Signature knobs
    * pass through to [[minhashNearDups]] so callers composing this with
    * the incremental family can hold ONE similarity criterion.
    *
    * One materialization point: the input is spread with
    * [[graft.operators.Ops.rebalance]] (a no-op on an already parallel
    * input) and cached once with its shingle set as a column. The band
    * join, the Jaccard verify, connected components and the survivor
    * anti-join all read that one frame, and so does whatever the caller
    * builds on the result. Connected components runs its rounds while
    * this plan is built, so without the cache every one of its jobs, and
    * then the caller's write, would re-run the upstream plan (in a
    * recipe: the scan, the scrub and the quality kernel) from scratch. */
  def minhashDedup(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.6, keepScore: Option[String] = None,
      shingleSize: Int = 3, numHashes: Int = 64,
      bands: Int = 16): DataFrame =
    minhashDedupNoSpread(graft.operators.Ops.rebalance(df), idCol, textCol,
      threshold, keepScore, shingleSize, numHashes, bands)

  /** [[minhashDedup]] over an input the caller has already spread, or
    * chosen not to: the incremental near-dup family passes its batch
    * survivors, a post-join frame that [[graft.operators.Ops.rebalance]]
    * would repartition a second time. */
  private[graft] def minhashDedupNoSpread(df: DataFrame, idCol: String,
      textCol: String, threshold: Double, keepScore: Option[String] = None,
      shingleSize: Int, numHashes: Int, bands: Int): DataFrame = {
    val base = graft.engine.CacheScope.cache(
      df.withColumn(ShingleCol, shingleHash(col(textCol), shingleSize)))
    val pairs = lshPairs(base.select(col(idCol).as("id"), col(ShingleCol).as("shingles"))
        .filter(size(col("shingles")) > 0),
      numHashes, bands, threshold)
    (keepScore match {
      case None => keepMinPerCluster(base, idCol, pairs)
      case Some(s) => keepBestPerCluster(base, idCol, pairs, s)
    }).drop(ShingleCol)
  }

  /** The shingle-set column [[minhashDedup]]'s cached input carries. */
  private[graft] val ShingleCol = "__minhash_sh"

  /** Shingle frame shared by the incremental near-dup family: one row
    * per input row, (out, sh) with sh the sorted hashed shingle set. */
  private def shingleFrame(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, out: String): DataFrame =
    df.select(col(idCol).as(out), shingleHash(col(textCol), shingleSize).as("sh"))

  /** The sorted hashed word-k-shingle set of a raw text Column — the
    * row-local kernel behind the whole minhash family, exposed for the
    * streaming ingest gate (EventStream.nearDupFlagsStream), which must
    * sign rows with EXACTLY the batch family's arithmetic or its flags
    * would silently diverge from the index. */
  private[graft] def shingleHash(text: Column, shingleSize: Int): Column =
    shingleHashUdf(Tools.tokenize(Tools.normalize(text)), lit(shingleSize))

  /** Band rows of a shingle frame: (id[, sh], band, bucket) — one row
    * per (doc, band). keepSh trades exchange width for a single scan
    * (the bloom path); the narrow variant is the candidate-join side. */
  private def bandFrame(base: DataFrame, id: String, numHashes: Int,
      bands: Int, keepSh: Boolean): DataFrame = {
    val rowsPerBand = numHashes / bands
    val sig = base.withColumn("sig", minhashSignature(col("sh"), numHashes))
    val cols = (if (keepSh) Seq(col(id), col("sh")) else Seq(col(id))) :+
      explode(lshBands(col("sig"), bands, rowsPerBand)).as("b")
    sig.select(cols: _*)
      .select((if (keepSh) Seq(col(id), col("sh")) else Seq(col(id))) ++
        Seq(col("b.band"), col("b.bucket")): _*)
  }

  /** Verdict assembly shared by the direct and indexed incremental
    * near-dup paths: collapse multi-band candidate rows to pairs,
    * re-attach the batch shingles, exact-verify Jaccard, roll up per
    * batch doc, and left-join back onto EVERY batch id (shingle-less
    * rows kept with zero dups and NULL score). `cand` carries
    * (__bid, __cid, sh) with sh the CORPUS side's shingles. */
  private def nearDupVerdicts(batch: DataFrame, bBase: DataFrame,
      cand: DataFrame, idCol: String, threshold: Double): DataFrame = {
    val verified = withJaccard(cand
        .groupBy(col("__bid"), col("__cid"))
        .agg(first(col("sh")).as("sh_c"))
        .join(bBase.select(col("__bid"), col("sh").as("sh_b")), "__bid"),
        "sh_b", "sh_c")
      .filter(col("jaccard") >= threshold)
    val hits = verified.groupBy(col("__bid"))
      .agg(count(lit(1)).as("n_corpus_dups"), max(col("jaccard")).as("max_jaccard"))
    batch.select(col(idCol)).distinct()
      .join(hits, col(idCol) === col("__bid"), "left")
      .select(col(idCol),
        coalesce(col("n_corpus_dups"), lit(0L)).as("n_corpus_dups"),
        col("max_jaccard"))
      .withColumn("kept", col("n_corpus_dups") === 0)
  }

  /** Incremental NEAR-dup verdicts — [[incrementalDedup]]'s sibling for
    * the case exact keys cannot catch: does an already-near-deduped
    * corpus contain a near-duplicate (word-shingle Jaccard ≥
    * `threshold`) of each new-batch doc? One row per batch doc:
    * (id, n_corpus_dups, max_jaccard, kept) with kept = no verified
    * corpus match; batch rows yielding no shingles (NULL/blank text)
    * are kept with n_corpus_dups = 0 and NULL max_jaccard (unknown ≠
    * dirty, the family contract). Candidates come from the
    * [[minhashNearDups]] LSH band join run ACROSS the two frames, and
    * every candidate is verified with true Jaccard on the exact shingle
    * sets — the bands only bound the comparison set, they never decide.
    *
    * Scale shape (corpus = the 100-TB side, batch = the increment):
    * - `bloomFpp = None`: the corpus contributes one narrow
    *   (band, bucket, id) exchange (24 B a row, the minhashNearDups
    *   discipline — shingle arrays never enter the candidate shuffle);
    *   colliding corpus ids — dup-volume-sized by construction — are
    *   then persisted, counted, and broadcast when small (the q68
    *   count-gated pattern: a blindly-planned SMJ would have written
    *   the corpus-side exchange before AQE could flip it), so the
    *   second corpus pass fetches verify-side shingles map-side.
    * - `bloomFpp = Some(p)`: a Bloom filter over the BATCH's band
    *   buckets broadcasts (sized by one bounded count over the batch —
    *   the small side by the incremental premise), corpus band rows
    *   that miss it drop MAP-SIDE carrying their shingles with them, so
    *   the corpus is scanned ONCE and its only exchange is true bucket
    *   collisions plus an fpp trickle the exact band equality then
    *   discards. Output is IDENTICAL (no false negatives; the verify
    *   join decides) — the q53/q68 two-plans-one-contract shape.
    *
    * Appending `kept` rows (after a within-batch [[minhashDedup]])
    * preserves the corpus's near-dup invariant at LSH recall, so each
    * increment costs only the increment — never a corpus re-pairing. */
  def incrementalNearDups(batch: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, shingleSize: Int = 3,
      numHashes: Int = 64, bands: Int = 16, threshold: Double = 0.6,
      bloomFpp: Option[Double] = None): DataFrame = {
    require(bands >= 1 && numHashes % bands == 0,
      s"bands must divide numHashes (got bands=$bands, numHashes=$numHashes)")
    def shingled(df: DataFrame, out: String) =
      shingleFrame(df, idCol, textCol, shingleSize, out)
    def withBands(base: DataFrame, id: String, keepSh: Boolean) =
      bandFrame(base, id, numHashes, bands, keepSh)
    // batch is the small side by premise: cache it once — it feeds the
    // band explode, the (bloom path's) filter build, and the verify
    // join.
    // rebalance the batch BEFORE the signing kernel (r16): the batch
    // usually arrives as one small file / micro-batch = one partition,
    // so the shingle + 64-hash minhash kernel (the q26 rebalance class)
    // runs on one core without it; no-op on already-parallel batches
    val bBase = graft.engine.CacheScope.cache(
      shingled(graft.operators.Ops.rebalance(batch), "__bid")
        .filter(size(col("sh")) > 0))
    val bBands = withBands(bBase, "__bid", keepSh = false)
    // candidate (batch, corpus, corpus-shingles) triples, one per
    // band-colliding pair — the physical strategy differs per path but
    // the set is identical up to bloom false positives, which the exact
    // (band, bucket) join below discards
    // the corpus side pays the same signing kernel — spread it too
    // (no-op on real multi-file corpora, the Ops.rebalance contract)
    val corpusR = graft.operators.Ops.rebalance(corpus)
    val cand = bloomFpp match {
      case None =>
        // narrow corpus band exchange, then a count-gated fetch of the
        // few colliding docs' shingles (second corpus scan, map-side
        // semi when the hit set broadcasts)
        val cBands = withBands(shingled(corpusR, "__cid")
          .filter(size(col("sh")) > 0), "__cid", keepSh = false)
        val hitIds0 = graft.engine.CacheScope.cache(cBands
          .join(bBands.select("band", "bucket").distinct(),
            Seq("band", "bucket"), "left_semi")
          .select("__cid").distinct())
        val nHits = hitIds0.count()
        val hitIds = if (nHits <= 1000000L) broadcast(hitIds0) else hitIds0
        val cFetch = shingled(corpusR, "__cid")
          .join(hitIds, Seq("__cid"), "left_semi")
        bBands.join(withBands(cFetch, "__cid", keepSh = true),
          Seq("band", "bucket"))
      case Some(fpp) =>
        require(fpp > 0 && fpp < 1, s"bloom fpp must be in (0, 1), got $fpp")
        // bucket longs already encode their band (lshBands seeds the
        // hash with the band index), so the filter keys on the bucket
        // value alone; the join below still matches band exactly
        val bBuckets = bBands.select(col("bucket"))
        val n = bBuckets.count()
        if (n == 0) bBands.limit(0)
          .withColumn("__cid", lit(null).cast("long"))
          .withColumn("sh", lit(null).cast("array<bigint>"))
        else {
          val bf = bBuckets.coalesce(8).stat.bloomFilter("bucket", n, fpp)
          val bcast = batch.sparkSession.sparkContext.broadcast(bf)
          val might = udf { (h: Long) => bcast.value.mightContainLong(h) }
          val cHits = withBands(shingled(corpusR, "__cid")
              .filter(size(col("sh")) > 0), "__cid", keepSh = true)
            .filter(might(col("bucket")))
          bBands.join(cHits, Seq("band", "bucket"))
        }
    }
    nearDupVerdicts(batch, bBase, cand, idCol, threshold)
  }

  /** Persisted near-dup BAND INDEX — the production regime for
    * [[incrementalNearDups]] at corpus scale. IncNearBench (SCALE.md)
    * showed the direct operator's scaling term is corpus SIGNING
    * (shingle + minhash compute, re-run on every call), not the
    * exchange — so, exactly like `Ann.writeIvfIndex`, the corpus-side
    * work is computed ONCE into a layout probes reuse: `shingles/`
    * (id, sorted shingle hashes) and `bands/` (id, band, bucket), with
    * a certificate written LAST carrying the signature parameters (a
    * probe re-deriving them from its own defaults could silently
    * band-mismatch the index). Appending a kept batch means signing
    * ONLY the batch and appending its rows to both tables — each
    * increment costs the increment. The lifecycle (certificate, writer
    * markers, staged swaps, tombstones, stream epochs, grace) is
    * [[graft.engine.LayoutFs]]'s. */
  def writeNearDupIndex(corpus: DataFrame, idCol: String, textCol: String,
      path: String, shingleSize: Int = 3, numHashes: Int = 64,
      bands: Int = 16): Unit = {
    require(bands >= 1 && numHashes % bands == 0,
      s"bands must divide numHashes (got bands=$bands, numHashes=$numHashes)")
    val art = bandIndex(corpus.sparkSession, path)
    art.rebuild()
    val base = shingleFrame(corpus, idCol, textCol, shingleSize, "__cid")
      .filter(size(col("sh")) > 0)
    base.write.mode("overwrite").parquet(s"$path/shingles")
    // recompute from the written table, not the input: ONE signing pass
    // over the corpus total, and the two tables cannot disagree
    val written = corpus.sparkSession.read.parquet(s"$path/shingles")
    bandFrame(written, "__cid", numHashes, bands, keepSh = false)
      .write.mode("overwrite").parquet(s"$path/bands")
    art.write(graft.engine.LayoutFs.Manifest(written.count(),
      geometry = Seq("shingle_size" -> shingleSize.toLong,
        "num_hashes" -> numHashes.toLong, "bands" -> bands.toLong)))
  }

  private val StreamTables = Seq("shingles", "bands")

  /** The band index as a lifecycle artifact: `shingles/` + `bands/`
    * keyed on `__cid`, streamed epochs under `stream_shingles/` and
    * `stream_bands/`. */
  private[graft] def bandIndex(spark: org.apache.spark.sql.SparkSession,
      path: String) =
    new graft.engine.LayoutFs.Artifact(spark, path, "near-dup band index",
      "writeNearDupIndex", "__cid", StreamTables,
      StreamTables.map(t => s"stream_$t"))

  private def signature(m: graft.engine.LayoutFs.Manifest)
      : Option[(Int, Int, Int, Long)] =
    for (s <- m.geom("shingle_size"); h <- m.geom("num_hashes");
         b <- m.geom("bands"))
      yield (s.toInt, h.toInt, b.toInt, m.rows)

  /** The certificate's (shingle_size, num_hashes, bands, rows); None
    * when absent. */
  private[graft] def readNearDupManifest(
      spark: org.apache.spark.sql.SparkSession, path: String)
      : Option[(Int, Int, Int, Long)] =
    bandIndex(spark, path).manifest().flatMap(signature)

  /** [[readNearDupManifest]] read patiently, refusing loudly when the
    * index is not certified. */
  private[graft] def nearDupSignature(
      spark: org.apache.spark.sql.SparkSession, path: String,
      verb: String): (Int, Int, Int, Long) =
    signature(bandIndex(spark, path).certified(verb)).getOrElse(
      throw new IllegalStateException(s"$verb: the manifest at '$path' " +
        "carries no band signature — not a near-dup band index; " +
        "rebuild with writeNearDupIndex"))

  /** DELETE for the band index — the takedown verb: tombstoned corpus
    * ids append to `deletes/` and every [[incrementalNearDupsIndexed]]
    * probe anti-joins them, so a removed document stops vetoing new
    * near-duplicates immediately, without re-signing the corpus.
    * Physical purge at the next [[compactNearDupIndex]] (or rebuild).
    * Idempotent; unknown ids are legal. Terminality is scoped to the
    * PRE-PURGE window: while its tombstone stands, a re-appended id
    * stays suppressed probe-side and the next purge removes the
    * re-added rows too — but a purge CONSUMES tombstones that matched
    * nothing still live, after which a plain re-append resurrects the
    * id (and a rebuild always does: the new corpus is the caller's
    * authority on membership). Callers needing a permanent ban keep
    * their own denylist and filter at ingest. */
  def deleteFromNearDupIndex(ids: DataFrame, idCol: String,
      path: String): Unit =
    bandIndex(ids.sparkSession, path)
      .deleteIds(ids, idCol, "deleteFromNearDupIndex")

  /** APPEND for the band index — extend, never re-sign: the batch is
    * signed under the certificate's STORED (shingle_size, num_hashes,
    * bands) — never caller defaults — staged, and swapped into both
    * tables, so each increment costs the increment. The signing pass
    * runs ONCE (the batch frame is persisted across the two table
    * writes; derivation is deterministic, so an evicted partition
    * recomputes identically and the tables cannot disagree). Row
    * accounting is incremental: certified + batch. Duplicate ids are
    * the CALLER's contract (append kept rows — run the incremental
    * dedup gate first, the q107 discipline); an append never dedups. */
  def appendToNearDupIndex(batch: DataFrame, idCol: String,
      textCol: String, path: String): Unit = {
    val spark = batch.sparkSession
    val verb = "appendToNearDupIndex"
    val (shingleSize, numHashes, bands, _) =
      nearDupSignature(spark, path, verb)
    val art = bandIndex(spark, path)
    art.writer(verb, compacting = false) {
      val base = shingleFrame(batch, idCol, textCol, shingleSize, "__cid")
        .filter(size(col("sh")) > 0)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val n = base.count()
        if (n > 0) {
          val stagedSh = art.stage("shingles", "append")
          val stagedBd = art.stage("bands", "append")
          base.write.mode("overwrite").parquet(stagedSh.toString)
          bandFrame(base, "__cid", numHashes, bands, keepSh = false)
            .write.mode("overwrite").parquet(stagedBd.toString)
          val m = art.certified(verb)
          art.swap(Seq("shingles" -> stagedSh, "bands" -> stagedBd),
            m.next(rows = m.rows + n))
        }
      } finally { base.unpersist(); () }
    }
  }

  /** The one table-open point for the band index's probe readers:
    * main table ∪ live streamed epochs, version-stable
    * ([[graft.engine.LayoutFs.Artifact.open]]) — a probe landing
    * between a stream batch and its fold sees the union, and after
    * the fold the same rows from the main table; the verdicts cannot
    * depend on WHEN the fold ran. `excludeEpoch` carves out one
    * (tag, epoch) partition: the self-growing admit gate probes a
    * batch against everything EXCEPT its own epoch's previous
    * incarnation, so an at-least-once replay recomputes the same
    * verdicts instead of being vetoed by itself. `suppressDeletes`
    * applies the takedown anti-join inside the bracket from the eager
    * tombstone snapshot. */
  private[graft] def openNearDupTable(
      spark: org.apache.spark.sql.SparkSession, path: String,
      table: String,
      excludeEpoch: Option[(String, Long)] = None,
      suppressDeletes: Boolean = false): DataFrame = {
    val art = bandIndex(spark, path)
    art.open(s"openNearDupTable($table)") { m =>
      val unioned = art.withLiveEpochs(art.liveTable(table, m),
        s"stream_$table", m.streamMarks, excludeEpoch)
      if (suppressDeletes) art.suppress(unioned, art.tombstoneSnapshot())
      else unioned
    }
  }

  /** One micro-batch of the band-index STREAM append
    * ([[graft.streaming.EventStream.appendNearDupIndexStream]]'s
    * core; package-visible so the replay spec drives the exact
    * at-least-once cases). The batch signs under the certificate's
    * STORED signature — `pre` is the stream-start (shingleSize,
    * numHashes, bands), re-checked against the current certificate
    * every batch as the mid-stream-rebuild tripwire — and lands in
    * `stream_shingles/` + `stream_bands/` partitioned by
    * (__stream=checkpoint-tag, __epoch): dynamic partition overwrite
    * makes an at-least-once replay rewrite its own epoch rather than
    * duplicate it, a FOLDED epoch's replay is skipped against the
    * watermark (and taken back by the post-write re-verify if a fold
    * won the race — the appendIvfBatch discipline, both sides), and
    * the data files carry exactly the main tables' schema so the fold
    * is a plain append. The certificate stays untouched (rows
    * accounting happens at the fold); duplicate ids across epochs are
    * the caller's contract — dedup at ingest first, or use the admit
    * gate. */
  private[graft] def appendNearDupStreamBatch(batch: DataFrame,
      path: String, idCol: String, textCol: String, tag: String,
      epoch: Long, pre: (Int, Int, Int)): Unit = {
    require(tag.matches("[0-9a-zA-Z]+"),
      s"appendNearDupStreamBatch: stream tag '$tag' must be " +
        "alphanumeric (manifest mark keys are)")
    val spark = batch.sparkSession
    val art = bandIndex(spark, path)
    val (ss, nh, nb, _) =
      nearDupSignature(spark, path, "appendNearDupIndexStream")
    require((ss, nh, nb) == pre,
      s"appendNearDupIndexStream: the index at $path was REBUILT " +
        s"mid-stream with a different signature (($ss, $nh, $nb) != " +
        s"stream-start $pre) — rows signed under the old parameters " +
        "must not mix in; restart the stream against the new index")
    // PATIENT: an absent-mid-swap certificate read as "no marks" would
    // skip the take-back exactly when a fold is running
    def folded = art.manifestPatient()
      .exists(_.streamMarks.get(tag).exists(epoch <= _))
    if (folded) return
    if (batch.isEmpty) return
    val base = shingleFrame(batch, idCol, textCol, ss, "__cid")
      .filter(size(col("sh")) > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      if (base.count() > 0) {
        def land(df: DataFrame, table: String): Unit =
          df.withColumn("__stream", lit(tag))
            .withColumn("__epoch", lit(epoch))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__stream", "__epoch")
            .parquet(s"$path/stream_$table")
        land(base, "shingles")
        land(bandFrame(base, "__cid", nh, nb, keepSh = false), "bands")
        // post-write re-verify: a fold that banked this epoch's
        // previous dir between our marks read and our writes has its
        // rows in the main tables already — take the re-created dirs
        // back (the fold's entry collection closes the same race from
        // its side)
        if (folded) StreamTables.foreach { t =>
          art.fs.delete(
            art.at(s"stream_$t/__stream=$tag/__epoch=$epoch"), true)
        }
      }
    } finally { base.unpersist(); () }
  }

  /** COMPACT for the band index — the stream fold AND the physical
    * tombstone purge. Streamed epochs ([[appendNearDupStreamBatch]])
    * fold FIRST: their data files carry exactly the main tables'
    * schema, so the fold stages and swaps them in — O(streamed rows),
    * the main tables' existing files untouched — recording each tag's
    * max folded epoch as its watermark. The folded epoch dirs are
    * RETAINED under that watermark for one fold cycle (probe grace):
    * probes in flight across the fold finish against intact files,
    * post-mark probes skip them, and the next fold's entry collection
    * deletes them. The purge is then FILE-scoped the way the ANN fold
    * is cell-scoped: it locates the files actually holding a
    * tombstoned row (one id-column-only scan over
    * `_metadata.file_path`), stages ONLY those files' survivors, and
    * swaps them in — so a bounded takedown against a 100-TB index
    * costs O(touched files), not O(index). Tombstone files and epoch
    * dirs are snapshotted at entry: a delete or epoch landing mid-fold
    * survives to the next one, still suppressed/visible probe-side
    * meanwhile ([[openNearDupTable]] unions live epochs).
    *
    * Returns the count of tombstone-matched DOCS physically purged —
    * 0 for a fold-only run — so compliance receipts (the YAML
    * takedown/compact surface) can record the purge; the count rides
    * the purge's existing shingles-side job, no extra scan. */
  def compactNearDupIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Long = {
    val art = bandIndex(spark, path)
    val verb = "compactNearDupIndex"
    val delFiles = art.tombstoneFiles()
    val marks0 = art.manifestPatient().map(_.streamMarks).getOrElse(Map.empty)
    // GRACE COLLECTION: epoch dirs a PREVIOUS fold banked were retained
    // under the watermark for probes in flight across that fold; a
    // full fold cycle later, collect them — this also sweeps
    // replay-resurrected dirs the sink's own re-verify lost the race on
    StreamTables.foreach { t =>
      art.streamEpochs(s"stream_$t").foreach { case (tg, ep, d) =>
        if (marks0.get(tg).exists(ep <= _)) { art.fs.delete(d, true); () }
      }
    }
    art.sweepStreamHusks()
    val epochsSh = art.liveEpochs("stream_shingles", marks0)
    val epochsBd = art.liveEpochs("stream_bands", marks0)
    if (delFiles.isEmpty && epochsSh.isEmpty && epochsBd.isEmpty) {
      // nothing to fold or purge — still a maintenance ENTRY
      art.collectDeadStandalone()
      art.sweepDeletes()
      return 0L
    }
    nearDupSignature(spark, path, verb)
    art.writer(verb, compacting = true) {
      var m = art.collectDead(art.certified(verb))
      // STEP 1 — fold the streamed epoch SNAPSHOT. Only epochs
      // data-bearing in BOTH tables fold: a shingles-only or bands-only
      // epoch is a crash remnant torn between the sink's two writes
      // (necessarily its tag's NEWEST epoch — the crashed batch
      // committed no offset), and folding the half that landed while
      // marking the epoch would permanently block the restarted
      // stream's healing replay. Torn epochs stay below the mark: the
      // replay overwrites both dirs and the next fold takes them;
      // meanwhile they are probe-invisible (verdicts need both tables).
      // They are never DELETED here — the "torn" dir may be a LIVE
      // batch mid-write between its two table writes.
      val keys = epochsSh.map(e => (e._1, e._2)).toSet
        .intersect(epochsBd.map(e => (e._1, e._2)).toSet)
      if (keys.nonEmpty) {
        def staged(table: String,
            eps: Seq[(String, Long, org.apache.hadoop.fs.Path)])
            : org.apache.hadoop.fs.Path = {
          val stagedP = art.stage(table, "fold")
          val cols = spark.read.parquet(s"$path/$table")
            .columns.toIndexedSeq.map(col)
          art.readEpochs(s"stream_$table",
              eps.filter(e => keys((e._1, e._2))))
            .select(cols: _*)
            .write.mode("overwrite").parquet(stagedP.toString)
          stagedP
        }
        val stagedSh = staged("shingles", epochsSh)
        val stagedBd = staged("bands", epochsBd)
        // accounting from the staged footprint — it counts exactly
        // what swaps in
        val folded = spark.read.parquet(stagedSh.toString).count()
        val marks = m.streamMarks ++ keys.groupBy(_._1).map {
          case (tag, es) =>
            tag -> math.max(es.map(_._2).max, m.streamMarks.getOrElse(tag, -1L))
        }
        m = art.swap(Seq("shingles" -> stagedSh, "bands" -> stagedBd),
          m.next(rows = m.rows + folded, streamMarks = marks))
        art.sweepStreamHusks()
      }
      // STEP 2 — the file-scoped tombstone purge, now covering the
      // freshly folded rows too (the doomed-file scan runs on the
      // post-fold tables)
      if (delFiles.isEmpty) 0L
      else art.purgeFiles(m, delFiles, art.tombstoneIds(delFiles))
    }
  }

  /** Auto-purge policy for the band index: fold when the tombstone
    * backlog crosses `afterDeletes` rows or `afterDeletesPct` of the
    * certified total (checked by the YAML `neardup_index` delete mode),
    * or when the STREAM backlog reaches `afterEpochs` live epochs
    * (checked by the streaming sinks after each micro-batch lands) —
    * [[graft.engine.LayoutFs.Artifact.autoCompact]]. Returns true
    * when a fold ran. */
  def maybeCompactNearDupIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, afterDeletes: Option[Long] = None,
      afterDeletesPct: Option[Double] = None,
      afterEpochs: Option[Int] = None): Boolean =
    bandIndex(spark, path).autoCompact(afterEpochs = afterEpochs,
      afterDeletes = afterDeletes, afterDeletesPct = afterDeletesPct) {
      compactNearDupIndex(spark, path); ()
    }

  /** [[incrementalNearDups]] against a PERSISTED index: verdicts are
    * identical (GraphDedupSpec pins parity), but the corpus side is a
    * narrow parquet read of pre-computed bands plus a count-gated fetch
    * of colliding docs' shingles — per-batch cost independent of corpus
    * size. Signature parameters come FROM the manifest (never from
    * caller defaults — a drifted probe would silently miss every
    * near-dup); a missing manifest fails loudly (incomplete or
    * pre-manifest build). Tombstoned ids ([[deleteFromNearDupIndex]])
    * are filtered at the band scan — sufficient AND cheapest: pairs,
    * hit ids, and the shingle fetch all derive from it, so a deleted
    * doc can never resurface downstream. */
  def incrementalNearDupsIndexed(batch: DataFrame, indexPath: String,
      idCol: String, textCol: String, threshold: Double = 0.6,
      bloomFpp: Option[Double] = None): DataFrame =
    incrementalNearDupsIndexedImpl(batch, indexPath, idCol, textCol,
      threshold, bloomFpp, excludeEpoch = None)

  /** [[incrementalNearDupsIndexed]] with one streamed (tag, epoch)
    * partition carved OUT of the corpus side — the self-growing admit
    * gate ([[graft.streaming.EventStream.nearDupAdmitStream]]) probes
    * each micro-batch against everything except its OWN epoch's
    * previous incarnation, so an at-least-once replay recomputes the
    * same verdicts instead of being vetoed by itself. */
  private[graft] def incrementalNearDupsIndexedImpl(batch: DataFrame,
      indexPath: String, idCol: String, textCol: String,
      threshold: Double, bloomFpp: Option[Double],
      excludeEpoch: Option[(String, Long)]): DataFrame = {
    val spark = batch.sparkSession
    val (shingleSize, numHashes, bands, _) =
      nearDupSignature(spark, indexPath, "incrementalNearDupsIndexed")
    // rebalance before the signing kernel, as in the direct path (r16)
    val bBase = graft.engine.CacheScope.cache(
      shingleFrame(graft.operators.Ops.rebalance(batch),
          idCol, textCol, shingleSize, "__bid")
        .filter(size(col("sh")) > 0))
    val bBands = bandFrame(bBase, "__bid", numHashes, bands, keepSh = false)
    // each open is version-stable internally (openNearDupTable's
    // snapshot bracket); cross-table consistency needs no shared
    // snapshot because every maintenance verb preserves LOGICAL
    // content (a fold moves rows main-ward, a purge erases rows the
    // tombstone anti-join already suppressed), so a shingles open at
    // version v and a bands open at v+1 read the same document set.
    // Tombstone suppression on the BAND scan is sufficient AND rides
    // inside the bands open's own bracket: pairs, hit ids, and the
    // shingle fetch all derive from it
    val cBands0 = openNearDupTable(spark, indexPath, "bands",
      excludeEpoch, suppressDeletes = true)
    val cBands = bloomFpp match {
      case None => cBands0
      case Some(fpp) =>
        require(fpp > 0 && fpp < 1, s"bloom fpp must be in (0, 1), got $fpp")
        val bBuckets = bBands.select(col("bucket"))
        val n = bBuckets.count()
        if (n == 0) cBands0.limit(0)
        else {
          val bf = bBuckets.coalesce(8).stat.bloomFilter("bucket", n, fpp)
          val bcast = spark.sparkContext.broadcast(bf)
          val might = udf { (h: Long) => bcast.value.mightContainLong(h) }
          cBands0.filter(might(col("bucket")))
        }
    }
    // the pair set feeds BOTH the hit-id derivation and the candidate
    // join — without a cache the corpus band scan + join runs twice
    val pairs = graft.engine.CacheScope.cache(
      bBands.join(cBands, Seq("band", "bucket"))
        .select(col("__bid"), col("__cid")).distinct())
    // colliding corpus docs' shingles fetch map-side when the hit set
    // broadcasts (the count-gated pattern — collisions are dup-volume-
    // sized by construction)
    val hitIds0 = graft.engine.CacheScope.cache(
      pairs.select("__cid").distinct())
    val nHits = hitIds0.count()
    val hitIds = if (nHits <= 1000000L) broadcast(hitIds0) else hitIds0
    val cShingles = openNearDupTable(spark, indexPath, "shingles",
        excludeEpoch)
      .join(hitIds, Seq("__cid"), "left_semi")
    val cand = pairs.join(cShingles, "__cid")
    nearDupVerdicts(batch, bBase, cand, idCol, threshold)
  }

  /** Drop-variant of [[incrementalNearDups]]: the batch rows safe to
    * append to the corpus — no verified corpus near-dup, then
    * [[minhashDedup]] WITHIN the survivors (two batch copies of one new
    * doc must not both survive; corpus rows are never touched). The
    * signature parameters govern BOTH passes — one similarity
    * criterion, vs-corpus and within-batch alike. The within-batch pass
    * does not spread its input again: the verdicts already spread the
    * batch, and the survivors are a post-join frame. */
  def incrementalNearDedup(batch: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, shingleSize: Int = 3,
      numHashes: Int = 64, bands: Int = 16, threshold: Double = 0.6,
      bloomFpp: Option[Double] = None): DataFrame = {
    val verdicts = incrementalNearDups(batch, corpus, idCol, textCol,
      shingleSize, numHashes, bands, threshold, bloomFpp)
    val novel = batch.join(
      verdicts.filter(!col("kept")).select(col(idCol)), Seq(idCol), "left_anti")
    minhashDedupNoSpread(novel, idCol, textCol, threshold,
      shingleSize = shingleSize, numHashes = numHashes, bands = bands)
  }

  /** Cross-source duplicate-overlap matrix — the "how much of source A
    * is already in source B" audit that decides which corpus to dedup
    * against which (C4-vs-CommonCrawl-style containment questions). One
    * row per co-occurring ordered source pair:
    * (source_a, source_b, n_shared, n_a, n_b, overlap_bp) where
    * n_shared counts DISTINCT content keys (exact md5 or normalized
    * fingerprint per `method`) present in both sources, n_a/n_b the
    * sources' distinct-key totals, and overlap_bp =
    * n_shared·10⁴ div min(n_a, n_b) — containment of the smaller side,
    * exact integer basis points (the skewStats arithmetic). Pairs
    * sharing nothing are absent. A NULL source is its own group
    * (ordered first — the domainStats never-silently-drop contract);
    * NULL-text rows yield no key and sit out.
    *
    * Scale shape: ONE distinct exchange builds the (source, key) table
    * (map-side combined, 32 B keys); the matrix self-join re-shuffles
    * that table — cached across its two sides and the totals pass —
    * on the key, where a key shared by s sources fans out to at most
    * s²/2 pairs. The output and the per-key fan-out are both bounded by
    * the SOURCE cardinality squared: this operator is for declared-few
    * sources (crawl snapshots, dataset names — tens to hundreds); for
    * high-cardinality keys (per-domain) use `domainStats` + joins
    * instead. Totals ride one small broadcast. */
  def sourceOverlap(df: DataFrame, sourceCol: String, textCol: String,
      method: String = "exact"): DataFrame = {
    val keyOf: Column => Column = method match {
      case "exact"       => c => md5(c.cast("binary"))
      case "fingerprint" => c => fingerprint(c)
      case other => sys.error(
        s"sourceOverlap: unknown method '$other' (exact | fingerprint)")
    }
    val keys = graft.engine.CacheScope.cache(
      df.select(col(sourceCol).as("source"), keyOf(col(textCol)).as("__k"))
        .filter(col("__k").isNotNull).distinct())
    val totals = broadcast(
      keys.groupBy(col("source")).agg(count(lit(1)).as("n")))
    val a = keys.alias("a"); val b = keys.alias("b")
    // NULL sorts first so the NULL group pairs deterministically (a
    // plain < would silently drop every pair touching it)
    val ordered = (col("a.source").isNull && col("b.source").isNotNull) ||
      (col("a.source") < col("b.source"))
    a.join(b, col("a.__k") === col("b.__k") && ordered)
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared")) // keys pre-distinct per source
      .join(totals.select(col("source").as("__sa"), col("n").as("n_a")),
        col("source_a") <=> col("__sa"), "left")
      .join(totals.select(col("source").as("__sb"), col("n").as("n_b")),
        col("source_b") === col("__sb"), "left")
      .select(col("source_a"), col("source_b"), col("n_shared"),
        col("n_a"), col("n_b"),
        expr("(n_shared * 10000L) div least(n_a, n_b)").as("overlap_bp"))
  }

  /** NEAR-dup cross-source overlap — [[sourceOverlap]]'s sibling for
    * the duplication exact keys cannot see (the real C4-vs-CommonCrawl
    * audit: how much of source A already exists in source B as a NEAR
    * duplicate). One row per ordered co-occurring source pair:
    * (source_a, source_b, n_docs_a_in_b, n_a, share_bp) where
    * n_docs_a_in_b counts DISTINCT source-a docs with a VERIFIED
    * (word-shingle Jaccard ≥ `threshold`, exact — the bands only bound
    * the comparison set) partner in source_b, n_a is source-a's
    * comparable universe (docs yielding shingles — NULL/blank rows
    * cannot near-dup anything and sit out of both sides), and
    * share_bp = n_docs_a_in_b·10⁴ div n_a in exact integer basis
    * points (the skewStats arithmetic). The measure is ASYMMETRIC by
    * design — both directions of a pair are emitted; pairs sharing
    * nothing are absent. A NULL source is its own group (the
    * domainStats never-silently-drop contract).
    *
    * Scale shape (the [[minhashNearDups]] discipline, cross-source):
    * ONE narrow (band, bucket, id, source) exchange per side of the
    * self-join — shingle arrays never enter the candidate shuffle;
    * candidates dedup on the id pair and re-attach shingles for the
    * surviving few; the verify is the exact sorted-intersect Jaccard.
    * Same-source collisions drop INSIDE the band join (the audit is
    * cross-source; within-source duplication is [[minhashDedup]]'s
    * job), so the candidate volume is bounded by true cross-source
    * duplication + the band fpp trickle.
    *
    * Mega-group discipline: EXACT copies collapse per
    * (source, shingle set) BEFORE banding — one representative row
    * carrying its distinct-doc count. The matrix counts docs, and
    * every exact copy of a doc matches exactly what the doc matches,
    * so the collapse is semantics-preserving while bounding an exact
    * boilerplate group's pair volume by sources²/2 instead of g²/2
    * (the audit's common worst case — one page replicated millions of
    * times across a handful of crawls — goes from quadratic to flat;
    * CrossNearBench stage-profiled the uncollapsed regime at 31.7M
    * candidate rows for 6k copies at 300k docs). NEAR-but-not-exact
    * mega-groups (g mutually-similar DISTINCT texts) keep their g²/2
    * verified pairs — that is real duplication structure the audit is
    * asked to count; cap or pre-dedup upstream if a corpus is shaped
    * like that. The final matrix is source-cardinality-squared —
    * declared-few sources, the sourceOverlap contract. */
  def crossSourceNearDupOverlap(df: DataFrame, idCol: String,
      textCol: String, sourceCol: String, shingleSize: Int = 3,
      numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.6): DataFrame = {
    require(bands >= 1 && numHashes % bands == 0,
      s"bands must divide numHashes (got bands=$bands, numHashes=$numHashes)")
    val rowsPerBand = numHashes / bands
    val base = graft.engine.CacheScope.cache(collapseBySource(df.select(
        col(idCol).as("id"), col(sourceCol).as("src"),
        shingleHash(col(textCol), shingleSize).as("grams"))
      .filter(size(col("grams")) > 0)))
    // the band exchange carries the 16-byte rep key, never the shingles
    val banded = base
      .withColumn("sig", minhashSignature(col("grams"), numHashes))
      .select(col("id"), col("src"),
        explode(lshBands(col("sig"), bands, rowsPerBand)).as("b"))
      .select(col("id"), col("src"), col("b.band"), col("b.bucket"))
    val a = banded.alias("a"); val b = banded.alias("b")
    // rep < rep dedups the unordered candidate; the DIRECTIONS are
    // re-expanded after the verify (one verified pair feeds both
    // (sa → sb) and (sb → sa) rows). NULL-safe inequality keeps the
    // NULL source a real group instead of silently dropping its pairs.
    // shuffle_hash pins (the q24/q112/cosineNearDupsLSH discipline):
    // every side here is corpus-sized and UDF-derived, so the static
    // planner under-estimates it and would BROADCAST — a plan AQE
    // cannot reverse at runtime and the fatal-at-scale shape
    // (PlanQualitySpec pins the shuffle join).
    val pairs = a.join(b.hint("shuffle_hash"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id") && !(col("a.src") <=> col("b.src")))
      .select(col("a.id").as("id_a"), col("a.src").as("src_a"),
        col("b.id").as("id_b"), col("b.src").as("src_b"))
      .distinct()
    def attach(s: String) = base.select(col("id").as(s"id_$s"),
      col("grams").as(s"grams_$s"), col("cnt").as(s"cnt_$s")).hint("shuffle_hash")
    val verified = withJaccard(
        pairs.join(attach("a"), "id_a").join(attach("b"), "id_b"),
        "grams_a", "grams_b")
      .filter(col("jaccard") >= threshold)
    sourceShares(verified, base)
  }

  /** The exact-copy collapse of the cross-source audits: one
    * representative row per (source, gram set), (src, grams, cnt, id)
    * with cnt the distinct docs it speaks for. `id` is a deterministic
    * 128-bit key of the group — md5 over the struct's JSON (r11 ADVICE:
    * a 64-bit key has a non-negligible birthday collision probability at
    * billions of groups, and a collision here silently MERGES two
    * distinct groups, corrupting doc counts with no error; 128 bits puts
    * the bound past 2⁶⁰ groups). The key rides as 16-byte BINARY (unhex
    * of the md5 hex — the 32-char string costs a measured ~25% extra
    * band shuffle at 1M docs). `raw` carries (id, src, grams). */
  private def collapseBySource(raw: DataFrame): DataFrame = raw
    .groupBy(col("src"), col("grams"))
    .agg(countDistinct(col("id")).as("cnt"))
    .withColumn("id", unhex(md5(to_json(struct(col("src"), col("grams"))))))

  /** The share matrix of the cross-source audits from verified rep pairs
    * (id_a, src_a, cnt_a, id_b, src_b, cnt_b): every pair counts in both
    * directions, `reps` ([[collapseBySource]] rows) gives each source's
    * comparable universe n_a, and share_bp = n_docs_a_in_b·10⁴ div n_a.
    * The totals ride one small broadcast. */
  private def sourceShares(verified: DataFrame, reps: DataFrame): DataFrame = {
    val dirs = verified
      .select(col("src_a").as("source_a"), col("src_b").as("source_b"),
        col("id_a").as("__rep"), col("cnt_a").as("__cnt"))
      .unionByName(verified
        .select(col("src_b").as("source_a"), col("src_a").as("source_b"),
          col("id_b").as("__rep"), col("cnt_b").as("__cnt")))
      // a rep matched by SEVERAL partner reps still speaks for its cnt
      // docs once per direction — dedup before the sum
      .distinct()
    val totals = broadcast(reps.groupBy(col("src").as("__sa"))
      .agg(sum(col("cnt")).as("n_a")))
    dirs.groupBy(col("source_a"), col("source_b"))
      .agg(sum(col("__cnt")).as("n_docs_a_in_b"))
      .join(totals, col("source_a") <=> col("__sa"), "left")
      .select(col("source_a"), col("source_b"), col("n_docs_a_in_b"),
        col("n_a"), expr("(n_docs_a_in_b * 10000L) div n_a").as("share_bp"))
  }

  /** Cross-source CONTAINMENT overlap — [[crossSourceNearDupOverlap]]'s
    * asymmetric-duplication sibling, for the subset duplication Jaccard
    * structurally misses across sources (a short doc quoted WHOLE
    * inside another crawl's long doc has containment 1.0 but Jaccard
    * only |A|/|B| — far below any near-dup threshold once sizes
    * diverge; exactly the gap [[containmentPairs]] closes within a
    * block, measured cross-source here). One row per ordered
    * co-occurring source pair:
    * (source_a, source_b, n_docs_a_in_b, n_a, share_bp) where
    * n_docs_a_in_b counts DISTINCT source-a docs with a VERIFIED
    * partner in source_b — n-word-shingle containment
    * |A∩B|·10⁴ div min(|A|,|B|) ≥ `thresholdBp`, exact long
    * arithmetic — n_a is source-a's comparable universe (docs yielding
    * shingles), share_bp = n_docs_a_in_b·10⁴ div n_a. The min-side
    * containment relation is symmetric, so a verified pair feeds both
    * directions (each reporting its own side's doc share); pairs
    * sharing nothing are absent; a NULL source is its own group.
    *
    * Scale shape — [[setSimJoin]]'s containment measure (the one
    * containmentPairs runs) under the [[collapseBySource]] exact-copy
    * collapse:
    *   - exact copies collapse per (source, shingle set) BEFORE
    *     anything runs (one 128-bit rep carrying its distinct-doc
    *     count — the q123 mega-group bound: a page replicated millions
    *     of times across a handful of crawls costs sources²/2 pairs,
    *     not copies²/2);
    *   - candidates are the min-side PREFIX × full POSTINGS join (for
    *     C(A,B) ≥ t the smaller set must share one of its first
    *     |S| − ceil(t·|S|) + 1 sorted grams — exact pigeonhole recall,
    *     not an LSH dial), cross-source only, gram keys 8 B;
    *   - `maxDocFreq` removes grams held by more than `cap` collapsed
    *     groups from the UNIVERSE itself (prefix, postings, intersects
    *     and denominators all see one consistent filtered universe —
    *     containmentPairs' boilerplate-blind discipline; frequency
    *     counts collapsed (source, shingle-set) GROUPS because posting
    *     fan-out is what the cap bounds; reps left gramless sit out);
    *   - verified candidates re-attach shingles for the exact
    *     merge-scan intersect; the matrix is source²-bounded
    *     (declared-few sources, the sourceOverlap contract).
    * NEAR-but-not-exact mega-groups keep their quadratic verified
    * pairs — real duplication structure the audit must count (the
    * crossSourceNearDupOverlap caveat applies verbatim). */
  def crossSourceContainmentOverlap(df: DataFrame, idCol: String,
      textCol: String, sourceCol: String, n: Int = 3,
      thresholdBp: Long = 9000L, maxDocFreq: Option[Int] = None)
      : DataFrame = {
    requireContainment("crossSourceContainmentOverlap", thresholdBp, maxDocFreq)
    val (verified, reps) = setSimJoin(collapseBySource(df.select(
          col(idCol).as("id"), col(sourceCol).as("src"),
          shingleHash(col(textCol), n).as("grams"))
        .filter(size(col("grams")) > 0)),
      Containment(thresholdBp), maxDocFreq, apart = Some("src"))
    sourceShares(verified, reps)
  }

  /** [[incrementalNearDedup]] against a persisted index — drop verdicted
    * rows, then [[minhashDedup]] within the survivors with the INDEX
    * MANIFEST's signature parameters, so the vs-corpus and within-batch
    * criteria cannot drift. As in [[incrementalNearDedup]], the
    * survivors are not spread a second time. */
  def incrementalNearDedupIndexed(batch: DataFrame, indexPath: String,
      idCol: String, textCol: String, threshold: Double = 0.6,
      bloomFpp: Option[Double] = None): DataFrame = {
    val (shingleSize, numHashes, bands, _) = nearDupSignature(
      batch.sparkSession, indexPath, "incrementalNearDedupIndexed")
    val verdicts = incrementalNearDupsIndexed(batch, indexPath, idCol,
      textCol, threshold, bloomFpp)
    val novel = batch.join(
      verdicts.filter(!col("kept")).select(col(idCol)), Seq(idCol), "left_anti")
    minhashDedupNoSpread(novel, idCol, textCol, threshold,
      shingleSize = shingleSize, numHashes = numHashes, bands = bands)
  }

  /** The survivor rule shared by the cluster-dedup family ([[minhashDedup]],
    * [[embeddingDedup]]): connected components over the candidate pairs,
    * keep the minimum id per cluster — ONE implementation so the two
    * methods' advertised "same keep-min contract" cannot drift. */
  private def keepMinPerCluster(df: DataFrame, idCol: String,
      pairs: DataFrame): DataFrame = {
    val comps = ConnectedComponents.run(pairs.select("id_a", "id_b"))
    val losers = comps.filter(col("node") =!= col("comp"))
      .select(col("node").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Quality-aware cluster survivor: per connected component keep the
    * max-`scoreCol` row (ties → min id; NULL scores last). Rows that
    * never paired are all kept — they have no cluster. One window
    * exchange over the (small) clustered subset only; the un-paired
    * bulk of the corpus passes through an anti join untouched. */
  private def keepBestPerCluster(df: DataFrame, idCol: String,
      pairs: DataFrame, scoreCol: String): DataFrame = {
    val comps = ConnectedComponents.run(pairs.select("id_a", "id_b"))
    val inComp = df.join(comps, df(idCol) === comps("node")).drop("node")
    val w = Window.partitionBy(col("comp"))
      .orderBy(col(scoreCol).desc_nulls_last, col(idCol))
    val best = inComp.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1).drop("__rk", "comp")
    df.join(comps, df(idCol) === comps("node"), "left_anti")
      .unionByName(best)
  }

  /** Semantic dedup over an embedding column — the SemDeDup shape (Abbas
    * et al. 2023, arXiv:2303.09540): bucket by LSH instead of k-means
    * cells (same role — bound the comparison set; an LSH bucket join is
    * one shuffle and needs no model fit), exact-cosine-verify candidates
    * at `threshold`, connected components over the surviving pairs, keep
    * the minimum id per cluster. Identical vectors collide in every LSH
    * table, so exact-duplicate recall is certain; near-duplicate recall
    * follows the cosineNearDupsLSH table/bit dials.
    * Same keep-min contract as [[minhashDedup]] (or keep-best via
    * `keepScore`). */
  def embeddingDedup(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, bits: Int = 8, tables: Int = 3,
      keepScore: Option[String] = None): DataFrame = {
    val pairs = graft.sim.Ann.cosineNearDupsLSH(df, idCol, vecCol,
      threshold, bits, tables)
    keepScore match {
      case None => keepMinPerCluster(df, idCol, pairs)
      case Some(s) => keepBestPerCluster(df, idCol, pairs, s)
    }
  }

  // -------------------------------------------------------------- SimHash
  /** 64-bit SimHash of a token array: per-token 64-bit hash votes on each
    * bit; bit set where the vote sum is positive. UDF (per-bit loop), but
    * row-local — no shuffle. */
  private val simhashUdf = udf { (tokens: Seq[String]) =>
    if (tokens == null || tokens.isEmpty) 0L
    else {
      val votes = new Array[Int](64)
      tokens.foreach { t =>
        val h = scala.util.hashing.MurmurHash3.stringHash(t, 0).toLong << 32 |
          (scala.util.hashing.MurmurHash3.stringHash(t, 1).toLong & 0xffffffffL)
        var i = 0
        while (i < 64) {
          if (((h >>> i) & 1L) == 1L) votes(i) += 1 else votes(i) -= 1
          i += 1
        }
      }
      var out = 0L
      var i = 0
      while (i < 64) { if (votes(i) > 0) out |= (1L << i); i += 1 }
      out
    }
  }
  def simhash64(tokens: Column): Column = simhashUdf(tokens)

  /** 60-bit SimHash with an md5-based token hash: the top 15 hex chars
    * of md5(token) as the per-token hash (md5 is computable in any SQL
    * engine — `('0x' || substr(md5(t),1,15))::BIGINT` in DuckDB matches
    * bit-for-bit), so this variant is ORACLE-CHECKABLE end to end where
    * the murmur3 one is Spark-only. 60 bits keep the value inside a
    * signed long; bands divide 60. Slower than murmur3 (MessageDigest
    * per token) — the default stays murmur3. */
  private val simhashMd5Udf = udf { (tokens: Seq[String]) =>
    if (tokens == null || tokens.isEmpty) 0L
    else {
      val md = java.security.MessageDigest.getInstance("MD5")
      val votes = new Array[Int](60)
      tokens.foreach { t =>
        val h = Tools.md5Top60(
          md.digest(t.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
        md.reset()
        var i = 0
        while (i < 60) {
          if (((h >>> i) & 1L) == 1L) votes(i) += 1 else votes(i) -= 1
          i += 1
        }
      }
      var out = 0L
      var i = 0
      while (i < 60) { if (votes(i) > 0) out |= (1L << i); i += 1 }
      out
    }
  }
  def simhash60Md5(tokens: Column): Column = simhashMd5Udf(tokens)

  /** Hamming distance between two 64-bit signatures (codegen:
    * bit_count(xor)). */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs: block on `bands` equal-width sub-bands of
    * the 64-bit signature, then verify the full hamming distance. The
    * pigeonhole guarantee: a pair within hamming distance ≤ bands-1 has
    * at least one band with ZERO differing bits, so banding is
    * total-recall up to that bound — `maxHamming < bands` is REQUIRED so
    * the operator never silently under-recalls (more bands = wider
    * guarantee but shorter band keys = more candidate collisions). */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, bands: Int = 4, algo: String = "murmur3"): DataFrame = {
    // "md5" trades hash speed for cross-engine reproducibility (60-bit
    // signature an external SQL oracle can recompute); "murmur3" is the
    // fast 64-bit production default
    val nBits = algo match {
      case "murmur3" => 64
      case "md5"     => 60
      case other => sys.error(s"simhash algo must be murmur3 or md5, got $other")
    }
    require(bands >= 2 && nBits % bands == 0, s"bands must divide $nBits, got $bands")
    require(maxHamming < bands,
      s"banding recall guarantee requires maxHamming < bands " +
        s"(got maxHamming=$maxHamming, bands=$bands): a pair at distance " +
        s">= bands can differ in every band and be missed")
    val width = nBits / bands
    val mask = if (width == 64) -1L else (1L << width) - 1
    val toks = Tools.tokenize(Tools.normalize(col(textCol)))
    val sig = df.select(col(idCol).as("id"),
      (if (algo == "md5") simhash60Md5(toks) else simhash64(toks)).as("sig"))
    val banded = sig.select(col("id"), col("sig"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          shiftrightunsigned(col("sig"), b * width).bitwiseAND(lit(mask)).as("key"))): _*))
        .as("b"))
      .select(col("id"), col("sig"), col("b.band"), col("b.key"))
    val a = banded.alias("a"); val b = banded.alias("b")
    a.join(b, col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .distinct()
      .withColumn("hamming", hamming64(col("sig_a"), col("sig_b")))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  // ------------------------------------------------- n-gram Jaccard pairs
  /** Near-dup pairs within a blocking key (e.g. source, length band) by
    * character n-gram Jaccard: (id_a, id_b, jaccard) with id_a < id_b,
    * where jaccard = |A∩B| / |A∪B| over the sorted distinct hashed
    * n-grams of the normalized texts (64-bit collisions are negligible),
    * rounded to 4 decimals and kept when ≥ `threshold`. Candidates come
    * from [[setSimJoin]]'s prefix filter, so cost tracks similarity, not
    * block size; the exact intersect decides every pair. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      blockCol: String, n: Int = 3, threshold: Double = 0.5): DataFrame =
    setSimJoin(df.select(col(idCol).as("id"), col(blockCol).as("block"),
      charGramHash(col(textCol), n).as("grams")), Jaccard(threshold))._1

  // ------------------------------------------------ duplication weights
  /** SOFT dedup: instead of dropping duplicates, stamp every row with
    * its content-group size and the proportional down-weight
    * `weight_bp = 10⁴ div dup_count` — each duplicate group then
    * contributes one document's worth of total sampling mass (up to
    * the div floor), the frequency-reweighting alternative to hard
    * removal used when duplicates carry signal (popular ≠ redundant —
    * hard dedup erases the popularity prior, down-weighting keeps it
    * bounded). Compose with the `sample` step's rate column or a
    * training loader's per-example weights.
    *
    * Keys: `exact` = md5 of the raw text (the [[exactGroups]] key);
    * `fingerprint` = md5 of sorted distinct normalized tokens (the
    * [[fingerprint]] key — order/casing/punctuation-blind). NULL texts
    * keep (NULL, NULL) — the family's NULL-key contract: a missing doc
    * is not a duplicate of every other missing doc, and unknown ≠
    * down-weighted. ONE content-key exchange (a count window, no join
    * back); weight arithmetic is exact long division, so every weight
    * replays externally. */
  def duplicationWeights(df: DataFrame, idCol: String, textCol: String,
      method: String = "exact"): DataFrame = {
    val key = method match {
      case "exact"       => md5(col(textCol).cast("binary"))
      case "fingerprint" => fingerprint(col(textCol))
      case other => sys.error(
        s"duplicationWeights: method must be exact or fingerprint, got $other")
    }
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("__k"))
    // NULL-text rows route AROUND the window, not through it: their
    // output is unconditionally (NULL, NULL), but partitionBy would
    // still hash every NULL key into ONE task — a straggler/OOM hazard
    // when a big corpus has a real missing-text fraction (the
    // keepMinPerKey split, same reason)
    val keyed = df.withColumn("__k", key)
    keyed.filter(col("__k").isNotNull)
      .withColumn("dup_count", count(lit(1)).over(w))
      .withColumn("weight_bp", expr("10000 div dup_count"))
      .unionByName(keyed.filter(col("__k").isNull)
        .withColumn("dup_count", lit(null).cast("long"))
        .withColumn("weight_bp", lit(null).cast("long")))
      .drop("__k")
  }

  // ------------------------------------------------- containment pairs
  /** Near-SUBSET duplication within a blocking key: pairs whose n-gram
    * CONTAINMENT |A∩B| / min(|A|,|B|) clears `thresholdBp` basis
    * points. This is the asymmetric-duplication detector Jaccard
    * structurally misses: a short doc quoted whole inside a long one
    * (syndicated article + commentary, a chunk re-packed into a larger
    * shard, quoted boilerplate) has containment 1.0 but Jaccard only
    * |A|/|B| — far below any near-dup threshold once sizes diverge.
    *
    * Candidates come from [[setSimJoin]]'s min-side prefix × full
    * postings join (exact pigeonhole recall). `maxDocFreq` REMOVES grams
    * whose block-level document frequency exceeds the cap from the gram
    * universe itself before anything else runs (boilerplate-blind
    * containment — the C4 line-dedup spirit applied to the similarity
    * space): boilerplate grams shared by half the block would otherwise
    * fan the candidate join toward all-pairs, and merely dropping them
    * from the postings side would silently lose pairs whose short
    * prefix IS a hot gram (a high threshold makes the prefix a single
    * gram — the spec's exact-dup-plus-boilerplate case caught exactly
    * that). The result is exact with respect to the filtered metric;
    * docs left gramless by the filter sit out.
    *
    * `unit` picks the gram universe, and at scale the choice IS the
    * plan: `"word"` (n-word shingles, the minhash unit — DEFAULT for
    * document corpora) has a universe ∝ vocabulary^n, so posting lists
    * stay short and cost tracks gram volume; `"char"` (n-char grams,
    * the short-string/fuzzy-name unit, q24's) has a universe bounded
    * by alphabet^n — a few thousand distinct trigrams corpus-wide — so
    * beyond ~10³-doc blocks most grams sit in most docs and the
    * prefix × postings join degenerates toward block² (ContainBench
    * measured the uncapped char path OOMing local[32] at 100k
    * synthetic docs; the word path sweeps linearly). Use char only on
    * small blocks or with `maxDocFreq`.
    *
    * containment_bp = inter·10⁴ div min(|A|,|B|) in exact long
    * arithmetic (hash-stable across engines). Docs with no grams
    * (NULL / blank; in char mode also shorter than n after normalize —
    * word mode folds short docs into one whole-text shingle, the
    * minhash contract) sit out — containment over an empty set is
    * undefined, not 0 or 1. Output: (id_a, id_b, containment_bp) with
    * id_a < id_b. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      blockCol: String, n: Int = 3, thresholdBp: Long = 9000L,
      maxDocFreq: Option[Int] = None, unit: String = "word"): DataFrame = {
    requireContainment("containmentPairs", thresholdBp, maxDocFreq)
    val gramSet = unit match {
      // shingleHash already returns the sorted distinct hash set
      case "word" => shingleHash(col(textCol), n)
      case "char" => charGramHash(col(textCol), n)
      case other => sys.error(
        s"containmentPairs: unit must be word or char, got $other")
    }
    setSimJoin(df.select(col(idCol).as("id"), col(blockCol).as("block"),
        gramSet.as("grams")).filter(size(col("grams")) > 0),
      Containment(thresholdBp), maxDocFreq)._1
  }

  private def requireContainment(op: String, thresholdBp: Long,
      maxDocFreq: Option[Int]): Unit = {
    require(thresholdBp >= 1 && thresholdBp <= 10000,
      s"$op: thresholdBp must be in [1, 10000], got $thresholdBp")
    maxDocFreq.foreach(cap => require(cap >= 1,
      s"$op: maxDocFreq must be >= 1, got $cap"))
  }

  // ------------------------------------ exact set-similarity join kernel
  /** What [[setSimJoin]] verifies. The calling operator fixes it; no user
    * knob picks it. */
  private sealed trait Measure
  /** 4-decimal rounded Jaccard ≥ t: prefix × prefix, rarest-first prefix
    * order, PPJoin size and position filters. */
  private final case class Jaccard(t: Double) extends Measure {
    /** the threshold every candidate-stage bound prunes against (see
      * [[setSimJoin]]): the verify keeps ROUNDED scores ≥ t */
    val teff: Double = t - 5e-5
  }
  /** Min-side containment |A∩B|·10⁴ div min(|A|,|B|) ≥ bp: own-size
    * prefix × full postings, sorted-hash prefix order, no PPJoin filter. */
  private final case class Containment(bp: Long) extends Measure

  /** Sorted distinct xxhash64 character n-grams of the normalized text:
    * the char gram universe (q24, containment's `unit = "char"`). */
  private def charGramHash(text: Column, n: Int): Column =
    sort_array(array_distinct(transform(
      Tools.charNgrams(Tools.normalize(text), n), s => xxhash64(s))))

  /** |A∩B| / |A∪B| rounded to 4 decimals from the intersect size: the
    * Jaccard every verify in this file emits. */
  private def roundedJaccard(inter: Column, a: Column, b: Column): Column =
    round(inter / (size(a) + size(b) - inter), 4)

  /** Adds the exact intersect size of two sorted gram-set columns
    * (`__inter`, the native merge scan) and [[roundedJaccard]] over it
    * (`jaccard`). Two projections on purpose: one Column would spell the
    * intersect twice. */
  private def withJaccard(df: DataFrame, a: String, b: String): DataFrame =
    df.withColumn("__inter", graft.functions.NativeExpressions
        .sortedIntersectCount(col(a), col(b)).cast("double"))
      .withColumn("jaccard", roundedJaccard(col("__inter"), col(a), col(b)))

  /** min/max of two set sizes: Jaccard's upper bound, spelled once so the
    * candidate filter and the verify filter agree on every boundary. */
  private def sizeRatio(a: Column, b: Column): Column =
    least(a, b).cast("double") / greatest(a, b)

  /** Document frequencies of a gram frame's universe as a count-gated
    * driver map — the rarest-first prefix order's input (r15
    * optimization). ONE bounded action: limit(cap+1) caps what the
    * driver ever holds; a result under the cap is necessarily the
    * COMPLETE df table, over it returns None and the caller keeps the
    * sorted-hash prefix order (both orders are exact — the verify join
    * decides every pair; the order is purely a candidate-volume dial).
    * `g` must expose an array column named `grams`. */
  private def gramDfMap(g: DataFrame): Option[Map[Long, Long]] = {
    val dfCap = 1 << 22
    val rows = g.select(explode(col("grams")).as("__g"))
      .groupBy("__g").agg(count(lit(1)).as("__df"))
      .limit(dfCap + 1).collect()
    if (rows.length <= dfCap)
      Some(rows.map(r => (r.getLong(0), r.getLong(1))).toMap)
    else None
  }

  /** The first `prefLenOf(|grams|)` grams in ascending (document
    * frequency, gram) order — Bayardo's canonical prefix order: the
    * prefix then holds each doc's RAREST grams, so the candidate join
    * meets only through rare grams instead of fanning out on
    * boilerplate (the sorted-hash order is a RANDOM order; at sf0.1
    * the q24 candidate set measured 622k pairs from 5k docs under it).
    * The pigeonhole is order-independent: under any one global total
    * order, if no common gram sat in both prefixes, all |A∩B| common
    * grams would fit in one suffix of size ceil(t·|X|)−1 < |A∩B|. */
  private def rarestPrefixUdf(spark: org.apache.spark.sql.SparkSession,
      m: Map[Long, Long], prefLenOf: Int => Int)
      : org.apache.spark.sql.expressions.UserDefinedFunction = {
    val bc = spark.sparkContext.broadcast(m)
    udf { grams: Seq[Long] =>
      if (grams == null) Seq.empty[Long]
      else {
        val k = prefLenOf(grams.length)
        if (k <= 0) Seq.empty[Long]
        else {
          val dfm = bc.value
          grams.sortBy(gr => (dfm.getOrElse(gr, 0L), gr)).take(k)
        }
      }
    }
  }

  /** The one exact prefix-filtered set-similarity join (Bayardo et al.,
    * "Scaling Up All Pairs Similarity Search", WWW'07; one kernel for
    * several measures as in Vernica, Carey and Li, SIGMOD'10) behind
    * [[ngramJaccardPairs]], [[containmentPairs]] and
    * [[crossSourceContainmentOverlap]].
    *
    * `g0` holds one row per set: `id`, `grams` (sorted distinct longs),
    * an optional `block` equality key, and payload columns re-attached to
    * both sides of every verified pair. `apart` names a payload column
    * whose values must differ, NULL-safely, across a pair (q128's
    * cross-source rule). Returns the verified pairs — (id_a, id_b, each
    * payload column suffixed _a then _b, score) with the score
    * `jaccard` or `containment_bp` — and the cached set frame the pairs
    * were drawn from (after the `maxDocFreq` filter).
    *
    *  1. `maxDocFreq` removes grams held by more than `cap` sets of a
    *     block (of the whole frame without one) from the universe
    *     itself, so prefixes, postings, intersects and denominators all
    *     see one consistent filtered universe; sets left gramless sit
    *     out. Payload is kept per set: two sets that collapse to the same
    *     filtered grams stay separate rows.
    *  2. One cache point: the set frame feeds the prefix index, the
    *     postings and both re-attach joins, so each reads it once.
    *  3. Prefixes (pigeonhole): a pair clearing the threshold shares at
    *     least one gram of a prefix under one global gram order.
    *     Jaccard: J(A,B) ≥ t implies |A∩B| ≥ ceil(t·|A|), so every
    *     qualifying B shares one of A's first |A| − ceil(t·|A|) + 1
    *     grams; both sides are prefixes, met in rarest-first order
    *     ([[rarestPrefixUdf]]) with the sorted-hash order as fallback.
    *     Containment: only the SMALLER set is constrained, so each set's
    *     own-size prefix (valid when it IS the min side) meets the FULL
    *     postings of the partner, both directions at once. Its quota is
    *     integer-exact — ceil(a·b/10⁴) = (a·b + 9999) div 10⁴. The
    *     rarest-first order and the positional filter were A/B'd for
    *     containment and REVERTED (r15): its prefix is already short
    *     (len/10 at 9000 bp), candidates are verify-bounded, and the
    *     extra per-meeting-row work measured q112 1.55 → 2.0–2.9 s.
    *  4. One candidate equi-join on (block, gram), `shuffle_hash`
    *     pinned: the prefix and posting frames are corpus-sized and
    *     UDF-derived, so the static planner under-estimates them and
    *     would broadcast — a plan AQE cannot reverse, and the
    *     fatal-at-scale shape the PlanQualitySpec guards catch. The
    *     distinct pairs then re-attach the grams through two pinned
    *     joins and one merge-scan intersect decides each pair exactly.
    *
    * Jaccard's candidate stage prunes against the EFFECTIVE threshold
    * teff = t − 5e-5 (r16, the r15 advice): the verify admits pairs
    * whose ROUNDED jaccard clears t, i.e. true J down to t − 5e-5, and a
    * borderline pair pruned against t itself could lose its only
    * meeting row. teff only lengthens prefixes and lowers `required`,
    * so pruning stays one-sided. Inside the candidate join it runs the
    * PPJoin filters (Xiao et al., WWW'08 — exact, they drop meeting
    * ROWS before the distinct exchange, never a pair the verify keeps):
    *  - size ratio: J ≤ min/max sizes ([[sizeRatio]], as in the verify);
    *  - position: a qualifying pair's FIRST common gram sits in both
    *    prefixes and every common gram ranks after it on BOTH sides, so
    *    |A∩B| ≤ 1 + min(|A|−1−posA, |B|−1−posB) at that meeting. Rows
    *    whose bound cannot reach the equivalent-overlap requirement
    *    ceil(t(|A|+|B|)/(1+t)) drop (the 1e-9 relaxation keeps the
    *    double ceil from ever exceeding the exact requirement). Later
    *    meetings of a true pair may fail the bound: its first meeting's
    *    row survives and distinct keeps the pair. */
  private def setSimJoin(g0: DataFrame, m: Measure,
      maxDocFreq: Option[Int] = None, apart: Option[String] = None)
      : (DataFrame, DataFrame) = {
    val block = Some("block").filter(g0.columns.contains)
    val carried = "id" +: g0.columns.toSeq.filterNot(c => c == "id" || block.contains(c))
    val payload = carried.filterNot(Set("id", "grams"))
    val gf = maxDocFreq match {
      case None => g0
      case Some(cap) =>
        val keys = g0.columns.toSeq.filterNot(_ == "grams").map(col)
        val ex = g0.select(keys :+ explode(col("grams")).as("pg"): _*)
        val dfKey = block.toSeq :+ "pg"
        val hot = ex.groupBy(dfKey.map(col): _*)
          .agg(count(lit(1)).as("__df")).filter(col("__df") > cap)
          .select(dfKey.map(col): _*)
        ex.join(hot, dfKey, "left_anti")
          .groupBy(keys: _*)
          .agg(sort_array(collect_list(col("pg"))).as("grams"))
          .filter(size(col("grams")) > 0)
    }
    val g = graft.engine.CacheScope.cache(gf)
    val side = (col("id") +: block.toSeq.map(col)) ++ apart.map(col)
    val (pref, partner) = m match {
      case j: Jaccard =>
        val teff = j.teff
        // rarestPrefixUdf's length spells the SAME double-ceil arithmetic
        // as this Column, so the two prefix orders never disagree on a
        // boundary
        val prefLen = (size(col("grams")) -
          ceil(lit(teff) * size(col("grams"))) + 1).cast("int")
        val prefix = gramDfMap(g).map(dfm => rarestPrefixUdf(g.sparkSession,
            dfm, len => (len - math.ceil(teff * len) + 1).toInt)(col("grams")))
          .getOrElse(slice(col("grams"), lit(1), prefLen))
        val p = g.select(side ++ Seq(size(col("grams")).as("sz"),
          posexplode(prefix).as(Seq("pos", "pg"))): _*)
        (p, p)
      case Containment(bp) =>
        (g.select(side :+ explode(slice(col("grams"), lit(1),
            expr(s"cast(size(grams) - (cast(size(grams) as bigint) * $bp" +
              " + 9999) div 10000 + 1 as int)"))).as("pg"): _*),
          g.select(side :+ explode(col("grams")).as("pg"): _*))
    }
    val pa = pref.alias("pa")
    val pb = partner.hint("shuffle_hash").alias("pb")
    val (pairRule, lo, hi) = m match {
      case j @ Jaccard(t) =>
        val teff = j.teff
        val required = ceil(lit(teff / (1.0 + teff)) *
          (col("pa.sz") + col("pb.sz")) - 1e-9)
        val ubound = lit(1) + least(col("pa.sz") - 1 - col("pa.pos"),
          col("pb.sz") - 1 - col("pb.pos"))
        (Seq(col("pa.id") < col("pb.id"),
            sizeRatio(col("pa.sz"), col("pb.sz")) >= t, ubound >= required),
          col("pa.id"), col("pb.id"))
      case _: Containment =>
        (Seq(col("pa.id") =!= col("pb.id")),
          least(col("pa.id"), col("pb.id")), greatest(col("pa.id"), col("pb.id")))
    }
    val on = block.map(b => col(s"pa.$b") === col(s"pb.$b")).toSeq ++
      Seq(col("pa.pg") === col("pb.pg")) ++ pairRule ++
      apart.map(s => !(col(s"pa.$s") <=> col(s"pb.$s")))
    val cand = pa.join(pb, on.reduce(_ && _))
      .select(lo.as("id_a"), hi.as("id_b"))
      .distinct()
    def attach(s: String) =
      g.select(carried.map(c => col(c).as(s"${c}_$s")): _*).hint("shuffle_hash")
    val (ga, gb) = (col("grams_a"), col("grams_b"))
    val pairs = cand.join(attach("a"), "id_a").join(attach("b"), "id_b")
    val (kept, interType, score, value, min) = m match {
      case Jaccard(t) => (pairs.filter(sizeRatio(size(ga), size(gb)) >= t),
        "double", "jaccard", roundedJaccard(col("__inter"), ga, gb), lit(t))
      case Containment(bp) => (pairs, "long", "containment_bp",
        expr("__inter * 10000 div " +
          "least(cast(size(grams_a) as bigint), cast(size(grams_b) as bigint))"),
        lit(bp))
    }
    val verified = kept
      .withColumn("__inter", graft.functions.NativeExpressions
        .sortedIntersectCount(ga, gb).cast(interType))
      .withColumn(score, value)
      .filter(col(score) >= min)
    (verified.select((Seq("id_a", "id_b") ++ payload.map(_ + "_a") ++
      payload.map(_ + "_b") :+ score).map(col): _*), g)
  }
}
