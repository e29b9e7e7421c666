package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed linear classification over sparse integer features — the
  * fastText-style quality/language gate of large-scale curation
  * pipelines (CCNet's fastText language filter, the "quality
  * classifier" stage of GPT-3/LLaMA-style web filtering — both are
  * linear models over hashed bag-of-words features; Joulin et al. 2016,
  * arXiv:1607.01759 establish that linear + feature hashing is the
  * right operating point at corpus scale).
  *
  * The trainer is a BATCH perceptron run entirely in 64-bit integer
  * arithmetic: features are token COUNTS, weights are integer sums of
  * per-epoch update batches, and the update rule per epoch is
  *
  *   margin_i = Σ_f w_f · x_{i,f}          (exact long arithmetic)
  *   mis      = { i : y_i · margin_i ≤ 0 }  (classic perceptron rule —
  *                                           a zero margin counts as
  *                                           wrong, so epoch 1 over
  *                                           all-zero weights updates
  *                                           on EVERY doc)
  *   w_f     += Σ_{i ∈ mis} y_i · x_{i,f}
  *
  * Batch (not online) updates make the fit a pure function of the SET
  * of training rows: no row-order dependence, so the result is
  * identical across partitionings, retries, and engines — the same
  * determinism contract as the quantized-integer k-means
  * ([[graft.sim.Cluster.fitCentroids]]) and BPE training, and like
  * those the fixed epochs unroll as CTE blocks in an external SQL
  * oracle. The bias rides as feature [[biasFeat]] (= −1, below any
  * hash bucket and any vector dimension), so no term in the
  * arithmetic is special-cased.
  *
  * Scale shape (the 100-TB story): the weight vector is bounded by the
  * feature-hash bucket count (or the embedding dimension) — a
  * declared-small artifact that BROADCASTS; per epoch the cached
  * feature triples are scanned once through two map-side-combinable
  * aggregations (one doc-id exchange for margins, one feat exchange
  * for the update batch) plus one ≤-buckets-row collect. Epochs are a
  * FIXED budget, not a convergence test (float convergence checks fork
  * engines; a fixed budget replays). Like the k-means fit, a
  * sample-sized training set (the normal case — labeled data is the
  * scarce side) takes the driver-side regime: one collect, identical
  * integer arithmetic, zero per-epoch scheduler latency; regime
  * equality is spec-pinned. SCORING the full corpus is one
  * broadcast-join + doc-id aggregation — no iteration, no driver. */
object LinearClassifier {

  /** The bias term's feature id: −1 sits below every md5 hash bucket
    * (nonnegative) and every vector dimension (0-based), so it can
    * never collide with a real feature. */
  val biasFeat: Long = -1L

  // ------------------------------------------------------------ features
  /** Hashed bag-of-words triples (id, feat, x): tokens of the (by
    * default lowercased) text — [[graft.functions.Tools.tokenize]], the
    * vocabTopK spelling — hashed by the engine-portable 60-bit md5 into
    * `buckets` feature ids, counted per doc; plus one bias triple
    * (id, −1, 1) per non-NULL-text doc. NULL-text and NULL-id rows are
    * excluded (they can still be SCORED — [[scorePerceptron]] surfaces
    * them as NULL margin, unknown ≠ verdict). Blank/token-less docs
    * keep their bias triple: "no tokens" is evidence, not absence.
    *
    * `binary = true` switches to PRESENCE features (x = 1 per distinct
    * bucket — the set-of-words variant): raw counts make full-batch
    * perceptron updates overshoot when a few hot shared tokens carry
    * counts in the tens per doc (each misclassified doc pushes a hot
    * weight by its whole count, and the batch sums those — measured on
    * the driver fixture: count features oscillate at ~50–67% while
    * presence features converge to the planted separator in 2
    * epochs). The flag is part of the MODEL — scoring must use the
    * same value. */
  def textFeatures(df: DataFrame, idCol: String, textCol: String,
      buckets: Int, lowercase: Boolean = true,
      binary: Boolean = false): DataFrame = {
    require(buckets >= 2, s"textFeatures: buckets must be >= 2, got $buckets")
    val c = if (lowercase) lower(col(textCol)) else col(textCol)
    val base = df
      .filter(col(textCol).isNotNull && col(idCol).isNotNull)
      .select(col(idCol).cast("long").as("id"),
        graft.functions.Tools.tokenize(c).as("__toks"))
    val hashed = base
      .select(col("id"), explode(col("__toks")).as("__tok"))
      .select(col("id"),
        pmod(conv(substring(md5(col("__tok")), 1, 15), 16, 10).cast("long"),
          lit(buckets.toLong)).as("feat"))
      .groupBy("id", "feat")
      .agg((if (binary) least(count(lit(1)), lit(1L)) else count(lit(1))).as("x"))
    hashed.unionByName(base.select(col("id"),
      lit(biasFeat).as("feat"), lit(1L).as("x")))
  }

  // ----------------------------------------------------------------- fit
  /** Batch-perceptron fit over prepared triples. `feats` carries
    * (id, feat, x) — [[textFeatures]] output or any
    * custom integer featurization; `docs` carries (id, y) with y
    * EXACTLY ±1 (anything else fails loudly — a 0/1 label silently
    * breaks the sign arithmetic) and UNIQUE non-NULL ids (a duplicated
    * id would double-count its updates, and replay engines would fork
    * on which copy "wins" — fail loudly instead). Returns the weight
    * table (feat, w): every feature of every fit doc appears (epoch 1
    * touches all of them), including zero-crossing weights — the exact
    * table an unrolled SQL replay produces.
    *
    * Regimes (the bpeTrain / fitCentroids split): triples counts at or
    * under `localThreshold` collect once and run the identical
    * arithmetic driver-side (sequential epochs over a sample-sized
    * labeled set are scheduler latency, not compute — the q60-build
    * lesson); larger fits iterate over the cached frames with a
    * broadcast weight table, one doc-id + one feat exchange per epoch.
    * Regime equality is pinned by LinearClassifierSpec. */
  def fitPerceptron(feats: DataFrame, docs: DataFrame, epochs: Int = 3,
      localThreshold: Long = 1L << 20): DataFrame = {
    require(epochs >= 1, s"fitPerceptron: epochs must be >= 1, got $epochs")
    val spark = feats.sparkSession
    // NULL triples sit out EXPLICITLY (filtered after the cast): the
    // built-in featurizers never emit them, but fitPerceptron accepts
    // custom feats frames, and without this filter the two regimes
    // would diverge (the joins drop NULL ids silently, the collected
    // loop would NPE)
    val fc0 = feats
      .select(col("id").cast("long").as("id"),
        col("feat").cast("long").as("feat"), col("x").cast("long").as("x"))
      .filter(col("id").isNotNull && col("feat").isNotNull &&
        col("x").isNotNull)
    val dc0 = docs
      .select(col("id").cast("long").as("id"), col("y").cast("long").as("y"))
      .filter(col("id").isNotNull)
    // cached for the fit: the probe agg below and every epoch read them
    val fc = fc0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dc = dc0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // validation is REGIME-LOCAL (r15: one fewer Spark job on the
      // sample-sized path): the local regime validates the collected
      // arrays driver-side with the same loud messages; the
      // distributed regime keeps the aggregation. Both check the same
      // three contracts — nonempty, unique ids, labels exactly ±1.
      val nTriples = fc.count()
      val w: Map[Long, Long] =
        if (nTriples <= localThreshold) {
          val docsArr = dc.collect().map { r =>
            val y = if (r.isNullAt(1)) Long.MinValue else r.getLong(1)
            (r.getLong(0), y)
          }
          val nDocs = docsArr.length.toLong
          require(nDocs > 0, "fitPerceptron: no rows to fit")
          val nDup = nDocs - docsArr.iterator.map(_._1).toSet.size
          require(nDup == 0,
            s"fitPerceptron: ids must be unique ($nDup duplicated)")
          val nBad = docsArr.count { case (_, y) => y != 1L && y != -1L }
          require(nBad == 0,
            s"fitPerceptron: labels must be exactly +1/-1 ($nBad rows are not)")
          fitLocal(fc.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))),
            docsArr, epochs)
        } else {
          val st = dc.agg(count(lit(1)), countDistinct(col("id")),
            sum(when(col("y").isNull || abs(col("y")) =!= 1, 1L).otherwise(0L))).head()
          val nDocs = st.getLong(0)
          require(nDocs > 0, "fitPerceptron: no rows to fit")
          require(st.getLong(1) == nDocs,
            s"fitPerceptron: ids must be unique (${nDocs - st.getLong(1)} duplicated)")
          require(st.getLong(2) == 0,
            s"fitPerceptron: labels must be exactly +1/-1 (${st.getLong(2)} rows are not)")
          fitDistributed(fc, dc, epochs)
        }
      spark.createDataFrame(w.toSeq).toDF("feat", "w")
    } finally { fc.unpersist(false); dc.unpersist(false) }
  }

  /** One Spark job per epoch: margins (doc-id exchange) → misclassified
    * set → per-feature update batch (feat exchange) → ≤-features-row
    * collect. The weight table broadcasts every epoch. */
  private def fitDistributed(fc: DataFrame, dc: DataFrame,
      epochs: Int): Map[Long, Long] = {
    val spark = fc.sparkSession
    var w = Map.empty[Long, Long]
    for (_ <- 1 to epochs) {
      val wDf = spark.createDataFrame(w.toSeq).toDF("feat", "w")
      // epoch 1: w is empty → the inner join is empty → every doc's
      // left-joined margin coalesces to 0 → y·0 ≤ 0 → all docs update,
      // exactly the local loop's (and the SQL replay's) behavior
      val margins = fc.join(broadcast(wDf), Seq("feat"))
        .groupBy("id").agg(sum(col("x") * col("w")).as("__m"))
      val mis = dc.join(margins, Seq("id"), "left")
        .filter(col("y") * coalesce(col("__m"), lit(0L)) <= 0)
        .select("id", "y")
      val deltas = fc.join(mis, Seq("id"))
        .groupBy("feat").agg(sum(col("y") * col("x")).as("dw"))
        .collect()
      w = deltas.foldLeft(w) { case (acc, r) =>
        val f = r.getLong(0)
        acc.updated(f, acc.getOrElse(f, 0L) + r.getLong(1))
      }
    }
    w
  }

  /** Driver-regime epochs over collected triples — the SAME integer
    * arithmetic as [[fitDistributed]] statement for statement; batch
    * semantics (deltas applied after the full pass) make row order
    * irrelevant, so the two regimes agree bit for bit. */
  private def fitLocal(triples: Array[(Long, Long, Long)],
      docs: Array[(Long, Long)], epochs: Int): Map[Long, Long] = {
    val byDoc = triples.groupBy(_._1)
    val w = scala.collection.mutable.HashMap.empty[Long, Long]
    for (_ <- 1 to epochs) {
      val deltas = scala.collection.mutable.HashMap.empty[Long, Long]
      docs.foreach { case (id, y) =>
        val fs = byDoc.getOrElse(id, Array.empty[(Long, Long, Long)])
        var margin = 0L
        fs.foreach { case (_, f, x) => margin += x * w.getOrElse(f, 0L) }
        if (y * margin <= 0)
          fs.foreach { case (_, f, x) =>
            deltas.update(f, deltas.getOrElse(f, 0L) + y * x)
          }
      }
      deltas.foreach { case (f, d) => w.update(f, w.getOrElse(f, 0L) + d) }
    }
    w.toMap
  }

  // --------------------------------------------------------------- score
  /** Attach (margin, pred) to `df` from a fitted weight table: margin =
    * Σ w_f·x_f over the row's triples (exact long), pred = +1 iff
    * margin > 0 else −1 (the fit treats 0 as the negative side, scoring
    * agrees). Rows with no triples — NULL text / NULL id — surface NULL
    * margin and NULL pred, never a guessed class. The weight table
    * broadcasts; the only exchange is the doc-id margin aggregation.
    *
    * Unlike the FIT (which requires unique ids), scoring tolerates
    * duplicate ids — but their triples merge under one id, so the
    * duplicates share one pooled margin. Dedup upstream if per-ROW
    * scores are wanted for duplicated ids. */
  def scorePerceptron(df: DataFrame, idCol: String, feats: DataFrame,
      weights: DataFrame): DataFrame = {
    // a MULTICLASS weight table is detectable from its shape — summing
    // margins over every pairwise vector would be silently meaningless,
    // so refuse it here rather than trust the caller's routing
    require(!weights.columns.contains("label_a"),
      "scorePerceptron: this weight table carries pairwise labels — a " +
        "trainTextClassifierMulti model; score it with " +
        "scoreTextClassifierMulti (multi: true in the YAML step)")
    val w = broadcast(weights.select(col("feat").cast("long").as("feat"),
      col("w").cast("long").as("w")))
    val margins = feats
      .join(w, Seq("feat"))
      .groupBy("id").agg(sum(col("x") * col("w")).as("margin"))
    df.join(margins, df(idCol).cast("long") === margins("id"), "left")
      // drop by REFERENCE: the caller's own id column may be named "id"
      // too, and a by-name drop would take both
      .drop(margins("id"))
      .withColumn("pred",
        when(col("margin") > 0, 1).when(col("margin").isNotNull, -1))
  }

  // ---------------------------------------------------------- front doors
  /** Train a text classifier: hashed-bag-of-words features + batch
    * perceptron. `labelCol` must hold exactly ±1. */
  def trainTextClassifier(df: DataFrame, idCol: String, textCol: String,
      labelCol: String, buckets: Int = 4096, epochs: Int = 3,
      lowercase: Boolean = true, binary: Boolean = false,
      localThreshold: Long = 1L << 20): DataFrame =
    fitPerceptron(
      textFeatures(df, idCol, textCol, buckets, lowercase, binary),
      df.filter(col(textCol).isNotNull)
        .select(col(idCol).as("id"), col(labelCol).as("y")),
      epochs, localThreshold)

  /** Score every row of `df` under a [[trainTextClassifier]] weight
    * table. `buckets`/`lowercase`/`binary` MUST match the training
    * call — the hash space and feature form are part of the model
    * (persist them next to the weights; the YAML step carries them
    * together). */
  def scoreTextClassifier(df: DataFrame, idCol: String, textCol: String,
      weights: DataFrame, buckets: Int = 4096,
      lowercase: Boolean = true, binary: Boolean = false): DataFrame =
    scorePerceptron(df, idCol,
      textFeatures(df, idCol, textCol, buckets, lowercase, binary), weights)

  // ------------------------------------------------- multiclass (OvO)
  /** MULTICLASS text classification by one-vs-ONE decomposition: one
    * batch perceptron per unordered class pair, trained on that pair's
    * docs only. One-vs-one, not one-vs-all, deliberately: each OvA
    * subproblem is 1/k vs (k−1)/k imbalanced, and a full-batch
    * integer perceptron on an imbalanced noisy split oscillates
    * (measured on the q117 fixture — the 'prose'-vs-rest split never
    * settled while every BALANCED pairwise split converged to exactly
    * the label-noise set, the q110 behavior). Pairwise splits are
    * balanced whenever classes are, which is the regime this trainer
    * is stable in.
    *
    * Returns (label_a, label_b, feat, w): label_a < label_b
    * lexicographically and the pair's perceptron scores +1 = label_a
    * (so the whole table IS the model — k(k−1)/2 declared-small
    * weight vectors). The shared triples frame is featurized and
    * cached ONCE; each pairwise fit reuses it through a broadcast
    * semi-join on the pair's doc ids (a pure optimization: triples
    * outside the pair's doc set can never reach an update batch —
    * the margin/delta joins key on the pair's docs — so the slice
    * fits the same weights, spec-pinned against the local regime).
    * Labels must be non-NULL over the fit docs and ids unique
    * (loud, validated ONCE for all pairs). */
  def trainTextClassifierMulti(df: DataFrame, idCol: String,
      textCol: String, labelCol: String, buckets: Int = 4096,
      epochs: Int = 3, lowercase: Boolean = true, binary: Boolean = false,
      localThreshold: Long = 1L << 20): DataFrame = {
    val feats = textFeatures(df, idCol, textCol, buckets, lowercase, binary)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val docs = df.filter(col(textCol).isNotNull && col(idCol).isNotNull)
      .select(col(idCol).cast("long").as("id"),
        col(labelCol).cast("string").as("__lb"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val st = docs.agg(count(lit(1)), countDistinct(col("id")),
        sum(when(col("__lb").isNull, 1L).otherwise(0L))).head()
      require(st.getLong(0) > 0, "trainTextClassifierMulti: no rows to fit")
      require(st.getLong(1) == st.getLong(0),
        s"trainTextClassifierMulti: ids must be unique " +
          s"(${st.getLong(0) - st.getLong(1)} duplicated)")
      require(st.getLong(2) == 0,
        s"trainTextClassifierMulti: labels must be non-NULL " +
          s"(${st.getLong(2)} NULL rows) — unknown is not a class")
      val classes = docs.select("__lb").distinct()
        .collect().map(_.getString(0)).sorted.toSeq
      require(classes.size >= 2,
        s"trainTextClassifierMulti: need >= 2 classes, got $classes")
      require(classes.size <= 64,
        s"trainTextClassifierMulti: ${classes.size} classes is " +
          s"${classes.size * (classes.size - 1) / 2} pairwise models — " +
          "cap is 64 classes; hash/bucket the label space first")
      val spark = df.sparkSession
      val nTriples = feats.count()
      if (nTriples <= localThreshold) {
        // driver regime, COLLECTED ONCE: k(k−1)/2 fitPerceptron calls
        // would each re-collect and re-validate the full shared triples
        // frame (2,016 full collects at the 64-class cap); one transfer
        // feeds every pairwise fitLocal — the identical arithmetic,
        // regime equality inherited from the binary spec pin
        val triples = feats.collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        val labeled = docs.collect().map(r => (r.getLong(0), r.getString(1)))
        classes.combinations(2).map { case Seq(a, b) =>
          val pair = labeled.collect {
            case (id, lb) if lb == a => (id, 1L)
            case (id, lb) if lb == b => (id, -1L)
          }
          spark.createDataFrame(
              fitLocal(triples, pair, epochs).toSeq).toDF("feat", "w")
            .withColumn("label_a", lit(a)).withColumn("label_b", lit(b))
        }.reduce(_.unionByName(_))
          .select("label_a", "label_b", "feat", "w")
      } else classes.combinations(2).map { case Seq(a, b) =>
        val pair = docs.filter(col("__lb").isin(a, b))
          .select(col("id"),
            when(col("__lb") === a, 1L).otherwise(-1L).as("y"))
        // the k²-scan tax fix (r10 verdict #2): routing each pair
        // through fitPerceptron re-persisted a projection of the shared
        // triples, re-ran a full count + label validation per pair, and
        // — the measured cost — aggregated margins over the WHOLE
        // cached triples frame k(k−1)/2 times (4.3–5.3× the binary
        // fit's shuffle at k=4, SCALE.md). Validation is already done
        // ONCE above on the shared docs frame (ids unique, labels
        // non-NULL; pair labels are ±1 literals by construction), so
        // call the epoch loop directly on the pair's SEMI-JOINED slice:
        // the pair's doc-id set (~2/k of the docs) broadcasts when the
        // total doc count is provably driver-safe, making the filter
        // map-side — each pairwise epoch then exchanges ~2/k of the
        // triples instead of all of them, k²/2 full scans → ~k
        // binary-fit equivalents. Past the broadcast gate the semi-join
        // shuffles (correct, and at that labeled-set scale the shuffle
        // is the right plan anyway).
        val ids = pair.select("id")
        val idSide = if (st.getLong(0) <= 4000000L) broadcast(ids) else ids
        val pairFeats = feats.join(idSide, Seq("id"), "left_semi")
        spark.createDataFrame(fitDistributed(pairFeats, pair, epochs).toSeq)
          .toDF("feat", "w")
          .withColumn("label_a", lit(a)).withColumn("label_b", lit(b))
      }.reduce(_.unionByName(_))
        .select("label_a", "label_b", "feat", "w")
    } finally { feats.unpersist(false); docs.unpersist(false) }
  }

  /** Score under a [[trainTextClassifierMulti]] weight table:
    * every row gets each pair's margin (one broadcast join — the
    * pairs × features table is still declared-small), each pair votes
    * for its winner (margin > 0 → label_a, else label_b — the binary
    * pred contract), and `pred_label` is the majority vote with ties
    * broken toward the lexicographically smallest label
    * (deterministic). `n_votes` carries the winner's count: k−1 is a
    * UNANIMOUS winner (it won every one of its pairs — maximum
    * confidence), while a Condorcet cycle leaves the leaders at
    * (k−1)/2 — filter LOW n_votes for confidence, never the
    * unanimous rows. NULL text / NULL id rows surface NULL pred_label + NULL
    * n_votes. buckets/lowercase/binary MUST match training — the
    * feature space is the model. */
  def scoreTextClassifierMulti(df: DataFrame, idCol: String,
      textCol: String, weights: DataFrame, buckets: Int = 4096,
      lowercase: Boolean = true, binary: Boolean = false): DataFrame = {
    require(weights.columns.contains("label_a"),
      "scoreTextClassifierMulti: this weight table has no pairwise " +
        "labels — a binary trainTextClassifier model; score it with " +
        "scoreTextClassifier")
    val feats = textFeatures(df, idCol, textCol, buckets, lowercase, binary)
    val w = broadcast(weights.select(col("label_a"), col("label_b"),
      col("feat").cast("long").as("feat"), col("w").cast("long").as("w")))
    val margins = feats.join(w, Seq("feat"))
      .groupBy("id", "label_a", "label_b")
      .agg(sum(col("x") * col("w")).as("__m"))
    val votes = margins
      .withColumn("__winner",
        when(col("__m") > 0, col("label_a")).otherwise(col("label_b")))
      .groupBy("id", "__winner").agg(count(lit(1)).as("n_votes"))
    val wnd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id"))
      .orderBy(col("n_votes").desc, col("__winner").asc)
    val best = votes
      .withColumn("__rn", org.apache.spark.sql.functions.row_number().over(wnd))
      .filter(col("__rn") === 1)
      .select(col("id"), col("__winner").as("pred_label"), col("n_votes"))
    df.join(best, df(idCol).cast("long") === best("id"), "left")
      .drop(best("id"))
  }
}
