package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Top-k similarity-search join — the Spark-native replacement for the
  * reference's Elasticsearch msearch join, *the* matching operator
  * (/root/reference/code/recipes.py:2120-2376; query templates in
  * conf/recipes/matching.yml:11-49).
  *
  * Design (SURVEY.md §2.4.3): instead of per-row network searches against
  * an ES index, build the "index" as DataFrames —
  *   1. tokenize the right side into postings (token → doc),
  *   2. candidate generation = explode left tokens, equi-join the
  *      postings, one shuffle on token. Fuzzy mode (edit-distance-1
  *      recall, mirroring `fuzziness: 1`) first expands each distinct
  *      query token over the term dictionary — the corpus vocabulary,
  *      as Lucene's FuzzyQuery does (FuzzyMatch.vocabPairs) — and only
  *      then reads postings, so no posting is ever variant-exploded,
  *   3. score candidates by IDF-weighted token overlap (deterministic;
  *      ES BM25 values are NOT reproduced — the reference's own pipeline
  *      re-scores from raw fields downstream and only thresholds the
  *      recomputed score, matching.yml:52-54, so candidate recall is the
  *      contract, not score values),
  *   4. top-k per left row via window rank.
  *
  * Downstream contract preserved: `hit_`-prefixed right columns,
  * `matchid_hit_matches_unfiltered` (total candidate count),
  * `hit_max_score`, keep_unmatched (docs/recipes.md:198-204).
  *
  * Scale: postings/candidates shuffle on short token strings; IDF table is
  * tiny (vocab-sized) and broadcast; stopword-like tokens can be capped
  * with `maxDocFreq` to bound skew (the classic hot-token guard), and AQE
  * splits whatever skew remains.
  */
object MatchJoin {

  /** Row-local term-frequency kernel: token array → (token → count) map
    * (BM25's tf), exploded into postings rows. O(tokens) per row with
    * one hash map — the declarative alternatives either shuffle the
    * full postings table on (doc, token) or re-scan the array per
    * distinct token. */
  private val tfMapUdf = udf { ts: Seq[String] =>
    if (ts == null) Map.empty[String, Long]
    else {
      val m = scala.collection.mutable.HashMap.empty[String, Long]
      ts.foreach { t => m.update(t, m.getOrElse(t, 0L) + 1L) }
      m.toMap
    }
  }

  /** @param left          query side
    * @param right         corpus side ("the index")
    * @param leftTokens    array-of-string column on left (analyzed field)
    * @param rightTokens   array-of-string column on right
    * @param leftId        unique left row id
    * @param rightId       unique right row id
    * @param k             hits per left row (reference default size=10)
    * @param keepUnmatched keep left rows with no hit (hit cols null)
    * @param fuzzy         also match tokens at edit distance 1
    *                      (FuzzyMatch.vocabPairs over the vocabulary)
    * @param maxDocFreq    drop tokens appearing in more right docs than
    *                      this (0 = no cap) — skew guard at scale
    * @param scoring       "idf" (reference contract: candidate recall,
    *                      deterministic IDF-sum scores) or "bm25"
    *                      (Okapi/ES-shaped: tf saturation + doc-length
    *                      norm; same candidate set, ES-like score ORDER)
    * @param k1            BM25 tf-saturation knob (ES default 1.2)
    * @param b             BM25 length-normalization knob (ES default 0.75)
    */
  def topK(
      left: DataFrame, right: DataFrame,
      leftTokens: String, rightTokens: String,
      leftId: String, rightId: String,
      k: Int = 10,
      keepUnmatched: Boolean = false,
      fuzzy: Boolean = false,
      maxDocFreq: Long = 0L,
      scoring: String = "idf",
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(scoring == "idf" || scoring == "bm25",
      s"match scoring must be idf or bm25, got '$scoring'")
    val bm25 = scoring == "bm25"

    // ---- postings: token → right doc. BM25 also needs the term
    // frequency and the FULL document length (duplicates included) —
    // both computed row-locally by one kernel (a groupBy on (rid, tok)
    // would pre-shuffle the whole postings table a second time; the
    // higher-order-function spelling runs interpreted per token — the
    // same measured reason the winnow/gram kernels are UDFs).
    val postingsRaw =
      if (!bm25)
        right.select(col(rightId).as("__rid"),
          explode(array_distinct(col(rightTokens))).as("__tok"),
          lit(1L).as("__tf"), lit(0L).as("__dl"))
      else
        right.select(col(rightId).as("__rid"),
            size(col(rightTokens)).cast("long").as("__dl"),
            explode(tfMapUdf(col(rightTokens))).as(Seq("__tok", "__tf")))
          .select(col("__rid"), col("__tok"), col("__tf").cast("long").as("__tf"),
            col("__dl"))
    val postings = if (maxDocFreq > 0) {
      val hot = postingsRaw.groupBy("__tok").agg(count("*").as("__df"))
        .filter(col("__df") > maxDocFreq).select("__tok")
      postingsRaw.join(broadcast(hot), Seq("__tok"), "left_anti")
    } else postingsRaw

    // ---- per-token weight table (vocab-sized). idf: log((N+1)/(df+1))+1
    // quantized to integer 1e-4 units — integer sums are order-
    // independent, so the aggregated score is bit-deterministic across
    // partitionings (and engines). bm25: the Okapi idf
    // ln(1 + (N-df+0.5)/(df+0.5)) stays a DOUBLE here; quantization
    // happens per candidate row AFTER the tf/length factor (each row's
    // inputs are fixed, so the floor is still order-independent).
    // N and avgdl ride the plan as a broadcast one-row aggregate: no
    // eager count() job at plan-construction time.
    val nDocs = broadcast(right.agg(
      countDistinct(col(rightId)).cast("double").as("__n"),
      (sum(size(col(rightTokens)).cast("long")) /
        countDistinct(col(rightId))).as("__avgdl")))
    val idf = postings.groupBy("__tok")
      .agg(count("*").as("__df"))
      .crossJoin(nDocs)
      .withColumn("__idf",
        if (!bm25)
          floor((log((col("__n") + 1) / (col("__df") + 1)) + 1) * 10000).cast("long")
        else
          log(lit(1.0) + (col("__n") - col("__df") + 0.5) / (col("__df") + 0.5)))
      .select("__tok", "__idf", "__avgdl")

    // ---- left tokens
    // distinct: left ids need not be unique rows (YAML `match` steps key
    // by content-derived ids, so duplicate rows can share an id) —
    // without it a duplicated row's tokens are emitted twice and its
    // hit_score doubles (same guard MatchQuery carries). Clustered on
    // the token: both the exact postings join and the fuzzy fan-out read
    // it in place.
    val qtokBase = left.select(col(leftId).as("__lid"),
      explode(array_distinct(col(leftTokens))).as("__qtok"))
      .repartition(col("__qtok"))
      .distinct()
    // shuffle-hash pinned on purpose: Catalyst's size estimate for an
    // exploded postings table ignores row multiplication, so the static
    // planner can broadcast a "small-looking" postings side that is
    // really GBs (AQE cannot demote a statically planned broadcast); and
    // without the hint preferSortMergeJoin adds a full sort of the
    // largest intermediate. ~1s slower at sf0.1 than planner-chosen
    // broadcast, but safe at any scale.
    val cand0 =
      if (!fuzzy)
        // IDF rides the postings side (vocab-sized broadcast onto the
        // postings table) so the candidate stream — orders of magnitude
        // larger than postings — needs no second join pass
        qtokBase.withColumn("__tok", col("__qtok"))
          .join(postings.join(broadcast(idf), Seq("__tok")).hint("shuffle_hash"),
            Seq("__tok"))
      else {
        // fuzzy expansion over the term dictionary: ONE delete-variant
        // meet of the distinct query tokens × the IDF table (the corpus
        // vocabulary, each term carrying its weight), fanned out to the
        // left rows. The (lid, tok) distinct counts a doc token ONCE per
        // left row even when several query tokens reach it; it runs
        // under the token clustering the postings join needs anyway, and
        // that join comes after it, so duplicate right ids keep their
        // multiplicity, as in the exact branch.
        val pairs = FuzzyMatch.vocabPairs(
          qtokBase.select(col("__qtok").as("__q")).distinct(),
          idf.withColumnRenamed("__tok", "__w"), maxDist = 1)
        qtokBase.join(pairs, col("__qtok") === col("__q"))
          .select(col("__lid"), col("__w").as("__tok"), col("__idf"), col("__avgdl"))
          .repartition(col("__tok"))
          .distinct()
          .join(postings.hint("shuffle_hash"), Seq("__tok"))
      }

    // ---- score: sum of per-token weights (each left token counts once
    // per right doc). idf mode: the pre-quantized IDF long. bm25: the
    // Okapi tf/length factor is applied per candidate row, THEN
    // quantized to 1e-4 integer units — every input (idf, tf, dl,
    // avgdl) is fixed per row, so the floor is order-independent and
    // the integer sum stays bit-deterministic across partitionings.
    // (lid, tok) is unique in both branches (the exact token sets are
    // array_distinct'ed before exploding; the fuzzy stream dedups before
    // its postings join), so no (lid, tok, rid) distinct — and no
    // exchange on it — is needed: the __lid exchange below is the only
    // one between the postings join and the top-K windows.
    // the two k1/b products fold in Scala; the oracle's SQL spells the
    // same folds (1.2*(1-0.75), 1.2*0.75) so both engines hit identical
    // doubles in identical operation order
    val weight =
      if (!bm25) col("__idf")
      else floor(col("__idf") *
        (col("__tf") * lit(k1 + 1.0)) /
        (col("__tf") + lit(k1 * (1.0 - b)) + lit(k1 * b) * col("__dl") / col("__avgdl")) *
        10000).cast("long")
    val scored = cand0
      .select(col("__lid"), col("__rid"), weight.as("__w"))
      .repartition(col("__lid"))
      .groupBy("__lid", "__rid")
      .agg(sum("__w").as("hit_score"))

    // ---- top-k + hit metadata. Both windows read the aggregation's
    // __lid partitioning directly (the r16 repartition above), so the
    // pair table is never re-shuffled here — one sort serves the stats
    // and rank windows. The tempting alternative — stats via
    // groupBy + join-back so WindowGroupLimit prunes harder — was
    // re-measured in r6 AND r16 and REJECTED both times: uncached, the
    // double reference executes the candidate pipeline twice (r16:
    // q39 2.0 → 2.9 s; AQE stage reuse did not close it); with a
    // cache of the pair table it trades the stats pass for an O(pairs)
    // materialization — q39 2.0 → 1.5 s locally but
    // q29's hot-token pair volume paid 2.4 → 2.9 s, and caching the
    // biggest intermediate is the wrong 100-TB shape (guide §5).
    val w = Window.partitionBy(col("__lid"))
      .orderBy(col("hit_score").desc, col("__rid"))
    val stats = Window.partitionBy(col("__lid"))
    val topk = scored
      .withColumn("matchid_hit_matches_unfiltered", count(lit(1)).over(stats))
      .withColumn("hit_max_score", max(col("hit_score")).over(stats))
      .withColumn("hit_rank", row_number().over(w))
      .filter(col("hit_rank") <= k)

    // ---- attach right columns with hit_ prefix (unnest contract)
    val reserved = Set("score", "rank", "max_score")
    require(!right.columns.exists(reserved.contains),
      s"right-side columns named ${reserved.mkString("/")} collide with " +
        "computed hit_* metadata — rename them before the match join")
    val hitCols = right.columns.map(c => col(c).as(s"hit_$c"))
    val rightHits = right.select(hitCols.toSeq: _*)
    val withHits = topk.join(rightHits,
      topk("__rid") === rightHits(s"hit_$rightId"))

    val joined = left.join(withHits, left(leftId) === withHits("__lid"),
      if (keepUnmatched) "left" else "inner")
    joined.drop("__lid", "__rid")
  }
}
