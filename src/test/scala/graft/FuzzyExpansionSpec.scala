package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.operators.{MatchJoin, MatchQuery}
import graft.operators.MatchQuery.{Clause, Spec}

/** The fuzzy match joins expand query tokens over the corpus vocabulary
  * (FuzzyMatch.vocabPairs) and only then read postings. Their results
  * must equal a brute-force reference that never uses delete-variants:
  * a cross join of query tokens with the corpus tokens, filtered by
  * levenshtein ≤ d. Seeded inputs carry duplicate left ids (repeated and
  * differing rows), duplicate right ids, empty and NULL token arrays and
  * one hot token. */
class FuzzyExpansionSpec extends SparkSpec {
  import spark.implicits._

  private val Compared = Seq("lid", "hit_rid", "hit_score",
    "matchid_hit_matches_unfiltered", "hit_max_score", "hit_rank")

  private def inputs(seed: Int): (DataFrame, DataFrame) = {
    val rnd = new scala.util.Random(seed)
    // a 4-letter alphabet keeps distance-1/2 neighbours dense
    def word(): String = (1 to 2 + rnd.nextInt(4)).map(_ => "abcd"(rnd.nextInt(4))).mkString
    def toks(): Seq[String] =
      if (rnd.nextInt(5) == 0) Seq("hot", word()) else Seq.fill(1 + rnd.nextInt(3))(word())
    val l = (1 to 24).map(i => (i.toLong, i.toLong % 17, toks())) ++ Seq(
      (100L, 3L, toks()),                // a second, different row for lid 3
      (101L, 5L, Seq.empty[String]),     // empty array beside real rows of lid 5
      (102L, 40L, null),                 // NULL array
      (103L, 41L, Seq("hott")))          // one typo away from the hot token
    val dup = l.take(2).map { case (_, lid, t) => (200L + lid, lid, t) } // repeated rows
    val r = (1 to 30).map(i => (i.toLong, toks())) ++ Seq(
      (7L, toks()),                      // duplicate right ids: differing
      (8L, Seq("hot")), (8L, Seq("hot")), // and repeated rows
      (50L, Seq.empty[String]), (51L, null)) ++
      (60 to 75).map(i => (i.toLong, Seq("hot", "hot", word()))) // the hot token
    ((l ++ dup).toDF("row", "lid", "toks"), r.toDF("rid", "toks"))
  }

  /** Each left row's tokens replaced by every corpus token within `d` of
    * one of them — brute force, no delete-variants. */
  private def expanded(left: DataFrame, right: DataFrame, d: Int): DataFrame = {
    val vocab = right.select(explode(col("toks")).as("w")).distinct()
    val reach = left.select(col("row"), explode(col("toks")).as("q"))
      .crossJoin(vocab)
      .filter(levenshtein(col("q"), col("w")) <= d)
      .groupBy("row").agg(collect_set(col("w")).as("reach"))
    left.join(reach, Seq("row"), "left")
      .select(col("row"), col("lid"),
        coalesce(col("reach"), typedLit(Seq.empty[String])).as("toks"))
  }

  private def sorted(df: DataFrame): Seq[Row] =
    df.select(Compared.map(col): _*).collect().toSeq.sortBy(_.toString)

  test("MatchJoin.topK(fuzzy) equals the exact join over brute-force expanded tokens (idf, bm25)") {
    for (seed <- Seq(3, 19); scoring <- Seq("idf", "bm25")) {
      val (left, right) = inputs(seed)
      val got = MatchJoin.topK(left, right, "toks", "toks", "lid", "rid",
        k = 4, fuzzy = true, scoring = scoring)
      // the exact path scores (lid, tok) pairs through the postings with
      // the same weights — given the brute-force reach, the fuzzy join
      // must land on identical rows
      val want = MatchJoin.topK(expanded(left, right, 1), right, "toks", "toks",
        "lid", "rid", k = 4, scoring = scoring)
      val (g, w) = (sorted(got), sorted(want))
      assert(g.nonEmpty && g.map(_.getLong(0)).distinct.size > 10,
        s"seed $seed $scoring: too few matches to compare")
      assert(g == w, s"seed $seed $scoring: fuzzy ${g.diff(w).take(5)} vs " +
        s"reference ${w.diff(g).take(5)}")
    }
  }

  /** A one-clause MatchQuery by brute force: every (lid, query token) ×
    * posting pair within `d`, deduped on (lid, rid, tok), summed over
    * the clause's quantized IDF, ranked per lid, attached to every left
    * and right row of the pair's ids. */
  private def matchQueryRef(left: DataFrame, right: DataFrame, d: Int, k: Int): DataFrame = {
    val postings = right.select(col("rid"), explode(array_distinct(col("toks"))).as("tok"))
    val n = right.agg(countDistinct(col("rid"))).head().getLong(0).toDouble
    val w = postings.groupBy("tok").agg(count(lit(1)).as("df"))
      .select(col("tok"),
        floor((log((lit(n) + 1) / (col("df") + 1)) + 1) * 10000).cast("long").as("w"))
    val scored = left.select(col("lid"), explode(col("toks")).as("q")).distinct()
      .crossJoin(postings)
      .filter(levenshtein(col("q"), col("tok")) <= d)
      .select("lid", "rid", "tok").distinct()
      .join(w, "tok")
      .groupBy("lid", "rid").agg(sum("w").as("hit_score"))
    val stats = Window.partitionBy("lid")
    val topk = scored
      .withColumn("matchid_hit_matches_unfiltered", count(lit(1)).over(stats))
      .withColumn("hit_max_score", max("hit_score").over(stats))
      .withColumn("hit_rank", row_number().over(
        stats.orderBy(col("hit_score").desc, col("rid"))))
      .filter(col("hit_rank") <= k)
    // one output row per (left row, right row): duplicate ids repeat
    left.select("lid").join(topk, "lid")
      .join(right.select(col("rid")), "rid")
      .withColumnRenamed("rid", "hit_rid")
  }

  test("MatchQuery fuzzy clauses at fuzziness 1 and 2 equal the brute-force reference") {
    for (seed <- Seq(3, 19); d <- Seq(1, 2)) {
      val (left, right) = inputs(seed)
      val got = MatchQuery.run(left, right,
        Spec(Seq(Clause("toks", "toks", fuzziness = d)), k = 4), "lid", "rid")
      val (g, w) = (sorted(got), sorted(matchQueryRef(left, right, d, k = 4)))
      assert(g.nonEmpty, s"seed $seed d=$d: nothing matched")
      assert(g == w, s"seed $seed d=$d: fuzzy ${g.diff(w).take(5)} vs " +
        s"reference ${w.diff(g).take(5)}")
    }
  }
}
