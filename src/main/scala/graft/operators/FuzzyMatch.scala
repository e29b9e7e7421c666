package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed approximate-dictionary matching — the scale-out
  * re-expression of the reference's Levenshtein-automaton matcher
  * (/root/reference/code/automata.py:152-191, cached per vocab at
  * code/recipes.py:2158-2173).
  *
  * Method: deletion-neighborhood blocking (FastSS / SymSpell family,
  * public domain technique). Two strings within edit distance d share at
  * least one common "delete-≤d variant", so:
  *   1. explode queries and vocabulary into their delete-variants,
  *   2. equi-join on the variant (broadcast when the vocab is small —
  *      the referential-join case; shuffle join otherwise),
  *   3. verify candidates with the true Levenshtein distance,
  *   4. keep, per query, the first word at minimal distance in
  *      lexicographic order — the same winner the reference's automaton
  *      finds walking a sorted vocabulary (distance 0 preferred, then 1,
  *      code/recipes.py:2200-2204).
  *
  * Steps 1-3 are [[vocabPairs]], the ONE fuzzy expansion every matcher
  * shares (bestMatch here, MatchJoin.topK and MatchQuery's fuzzy
  * clauses): it runs over the term dictionary — distinct query tokens ×
  * distinct vocabulary tokens — as Lucene's FuzzyQuery expands a term
  * against the dictionary before it reads any postings. The search joins
  * fan the resulting (query token, vocabulary token) pairs out to their
  * rows and postings afterwards, so the variant blow-up is paid once per
  * distinct token, never per posting.
  *
  * Everything is DataFrame ops: at 100 TB the variant join shuffles on
  * short variant strings and AQE handles skew; no per-executor automaton
  * state is needed.
  */
object FuzzyMatch {

  /** SQL expression producing the distinct delete-≤d variant array of
    * column `c`. Uses only codegen'd builtins; its one engine caller is
    * [[vocabPairs]], so the blocking invariant — distance-d pairs share
    * a delete-≤d variant — lives in exactly one expression (package-
    * visible for the recall property spec). */
  private[operators] def deleteVariants(cn: String, d: Int): org.apache.spark.sql.Column = {
    require(d >= 1 && d <= 2, s"maxDist must be 1 or 2, got $d")
    val self = array(col(cn))
    val d1 = expr(
      s"transform(sequence(1, length(`$cn`)), i -> concat(substring(`$cn`, 1, i-1), substring(`$cn`, i+1)))")
    val v1 = array_distinct(concat(self, d1))
    if (d == 1) v1
    else {
      val d2 = expr(
        s"""flatten(transform(
              transform(sequence(1, length(`$cn`)), i -> concat(substring(`$cn`, 1, i-1), substring(`$cn`, i+1))),
              s -> transform(sequence(1, length(s)), j -> concat(substring(s, 1, j-1), substring(s, j+1)))))""")
      array_distinct(concat(v1, d2))
    }
  }

  /** The fuzzy expansion over the term dictionary: every (query token,
    * vocabulary token) pair within edit distance `maxDist`, found by ONE
    * delete-variant meet over the two token sets (steps 1-3 above).
    *
    * @param queries single-column DataFrame `__q` (distinct tokens)
    * @param vocab   DataFrame keyed by the distinct token column `__w`;
    *                its other columns are a per-term payload (a search
    *                join's IDF weight — what a term dictionary stores
    *                beside each term) that rides along with every pair
    * @return distinct (`__q`, `__w`, `__dist`, payload…) rows, `__dist`
    *         ≤ maxDist
    */
  def vocabPairs(
      queries: DataFrame,
      vocab: DataFrame,
      maxDist: Int,
      broadcastVocab: Boolean = false): DataFrame = {
    val qv = queries.select(col("__q"), explode(deleteVariants("__q", maxDist)).as("__v"))
    val wvRaw = vocab.select(col("*"), explode(deleteVariants("__w", maxDist)).as("__v"))
    val wv = if (broadcastVocab) broadcast(wvRaw) else wvRaw
    // verify BEFORE the distinct: pairs sharing several variants (every
    // exact pair shares all of them) collapse after the cheap filter
    qv.join(wv, "__v")
      .withColumn("__dist", levenshtein(col("__q"), col("__w")))
      .filter(col("__dist") <= maxDist)
      .drop("__v")
      .distinct()
  }

  /** Best fuzzy match of each query against the vocabulary.
    *
    * @param queries single-column DataFrame `__q` (distinct, non-null)
    * @param vocab   single-column DataFrame `__w` (distinct, non-null)
    * @return columns `__q`, `__match`, `__dist` — one row per query that
    *         has a match within maxDist
    */
  def bestMatch(
      queries: DataFrame,
      vocab: DataFrame,
      maxDist: Int = 1,
      broadcastVocab: Boolean = true): DataFrame =
    vocabPairs(queries, vocab, maxDist, broadcastVocab)
      // winner = min (dist, word) — lexicographic tie-break like the
      // sorted-vocab automaton walk
      .groupBy(col("__q"))
      .agg(min(struct(col("__dist"), col("__w"))).as("__best"))
      .select(col("__q"), col("__best.__w").as("__match"), col("__best.__dist").as("__dist"))
}
