package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.{Similarity, Tools}
import graft.operators.MatchJoin
import graft.graph.ConnectedComponents

/** The flagship end-to-end pipeline: person-record matching — the
  * reference's main use case (dataprep → ES match join → re-scoring →
  * decision → dedup clusters; conf/recipes/matching.yml +
  * docs/dataprep.md:30-56).
  *
  * Shape preserved from the reference:
  *  - dataprep derives the matchid_* column convention (normalized name
  *    tokens, yyyymmdd birth-date string, normalized city);
  *  - candidates come from the top-k token match join (§2.4.3 — the
  *    ES-msearch replacement);
  *  - the decision score is RECOMPUTED from raw fields downstream
  *    (matching.yml:66-106): per-field similarities combined with fixed
  *    weights, thresholded, best candidate kept per left row
  *    (keep matchid_hit_score > 0.1 then rank, matching.yml:52-63);
  *  - matched pairs feed connected components for dedup clusters
  *    (the `clique` step).
  *
  * Everything is composed DataFrame plans: one shuffle for candidates
  * (token key), windows for ranking, broadcast for the tiny IDF table —
  * the same plan scales to the full-corpus sizes the reference targets.
  * The one exception is [[matchBest]]'s result, which is materialized:
  * the matched pairs have two consumers (the clusters and the linked
  * output), and a lazy plan would run dataprep, the match join, the
  * re-scoring and the decision window once for each of them.
  */
object Matching {

  /** Dataprep: source columns → matchid_* convention. Numeric ids unify
    * to long; string/uuid ids pass through unchanged — an unconditional
    * long cast would null (or, under ANSI, crash on) every non-numeric
    * id and silently corrupt all downstream matching. */
  def dataprep(df: DataFrame, idCol: String, firstCol: String,
      lastCol: String, dateStrCol: String, cityCol: String): DataFrame = {
    val idTyped = df.schema(idCol).dataType match {
      case _: org.apache.spark.sql.types.NumericType => col(idCol).cast("long")
      case _ => col(idCol)
    }
    df.select(
      idTyped.as("matchid_id"),
      Tools.normalize(col(firstCol)).as("matchid_name_first"),
      Tools.normalize(col(lastCol)).as("matchid_name_last"),
      col(dateStrCol).as("matchid_date_birth_str"),
      Tools.normalize(col(cityCol)).as("matchid_location_city"))
      .withColumn("matchid_name_match",
        concat_ws(" ", col("matchid_name_first"), col("matchid_name_last")))
      .withColumn("matchid_name_tokens", Tools.tokenize(col("matchid_name_match")))
  }

  /** Per-field similarity scores + combined decision score
    * (matching.yml:66-106 shape; weights fixed, levNorm = the
    * levenshtein_norm workhorse; date: exact → 1, one edit (digit typo /
    * day swap) → 0.7, else 0). */
  def score(df: DataFrame): DataFrame =
    df.withColumn("matchid_hit_score_name",
        Similarity.levNorm(col("matchid_name_match"), col("hit_matchid_name_match")))
      .withColumn("matchid_hit_score_date",
        when(col("matchid_date_birth_str") === col("hit_matchid_date_birth_str"), lit(1.0))
          .when(levenshtein(col("matchid_date_birth_str"), col("hit_matchid_date_birth_str")) <= 2, lit(0.7))
          .otherwise(lit(0.0)))
      .withColumn("matchid_hit_score_city",
        when(col("matchid_location_city") === col("hit_matchid_location_city"), lit(1.0))
          .otherwise(Similarity.levNorm(col("matchid_location_city"), col("hit_matchid_location_city"))))
      .withColumn("matchid_hit_score", round(
        lit(0.5) * col("matchid_hit_score_name") +
          lit(0.3) * col("matchid_hit_score_date") +
          lit(0.2) * col("matchid_hit_score_city"), 4))
      .withColumn("confiance", floor(col("matchid_hit_score") * 100).cast("int"))

  /** Full pipeline: candidates → re-score → threshold → best per left.
    *
    * The result is materialized (an eager local checkpoint, the lineage
    * cut ConnectedComponents.run uses for its label rounds): the call
    * runs the whole match once, and [[clusters]], the join back onto the
    * pairs and any later action read those rows instead of re-running
    * it — so the clusters and the written pairs come from one
    * evaluation. It holds at most one row per left record; its blocks
    * are released by Spark's ContextCleaner once the DataFrame is
    * dropped.
    * @param fuzzy widen candidate recall to edit-distance-1 tokens
    *              (the ES `fuzziness: 1` analogue) */
  def matchBest(left: DataFrame, right: DataFrame, k: Int = 5,
      fuzzy: Boolean = false, threshold: Double = 0.1): DataFrame = {
    val hits = MatchJoin.topK(left, right,
      "matchid_name_tokens", "matchid_name_tokens",
      "matchid_id", "matchid_id", k = k, fuzzy = fuzzy)
    val scored = score(hits).filter(col("matchid_hit_score") > threshold)
    val w = Window.partitionBy(col("matchid_id"))
      .orderBy(col("matchid_hit_score").desc, col("hit_matchid_id"))
    scored.withColumn("decision_rank", row_number().over(w))
      .filter(col("decision_rank") === 1)
      .drop("decision_rank")
      .localCheckpoint(eager = true)
  }

  /** Dedup clusters over accepted matches: connected components labeled
    * with the min member id (the `clique` step after matching). */
  def clusters(matches: DataFrame): DataFrame =
    ConnectedComponents.run(
      matches.select(col("matchid_id").as("src"), col("hit_matchid_id").as("dst")))

  // ------------------------------------------------- synthetic person data
  // Deterministic person-record derivation from the customer table — a
  // civil-state-like fixture (seeded typos mirror FIXTURES.md §3) whose
  // derivation is also expressible in the DuckDB oracle.
  private val firstNames = Seq("aline", "bruno", "celine", "david", "emma",
    "farid", "gina", "hugo", "ines", "jules", "karim", "lea", "marc", "nora", "omar")
  private val lastNames = Seq("martin", "bernard", "dubois", "thomas", "robert",
    "richard", "petit", "durand", "leroy", "moreau", "simon", "laurent",
    "lefebvre", "michel", "garcia", "blanc", "bertrand", "roux", "vincent", "fournier")

  /** Synthetic names get a numeric shard suffix (k % prime) so token
    * cardinality scales with the data instead of staying at the base
    * list's 15/20 values — with a constant-size vocabulary every name
    * token is a hot key and the candidate join degenerates
    * quadratically at larger scale factors (the classic blocking-key
    * cardinality lesson). */
  private def pick(names: Seq[String], k: Column, shard: Int): Column =
    concat(
      element_at(array(names.map(lit): _*), (k % names.length).cast("int") + 1),
      (k % shard).cast("string"))

  private def birthStr(k: Column, dayShift: Int = 0): Column =
    format_string("%04d%02d%02d",
      (lit(1950) + k % 49).cast("int"), (lit(1) + k % 12).cast("int"),
      (lit(1) + (k + dayShift) % 28).cast("int"))

  /** Left side: one person per customer. */
  def personsFrom(customer: DataFrame, nation: DataFrame): DataFrame = {
    val k = col("c_custkey")
    customer.join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"))
      .select(k.as("pid"),
        pick(firstNames, k, 89).as("first_name"),
        pick(lastNames, k, 97).as("last_name"),
        birthStr(k).as("birth_str"),
        col("n_name").as("city"))
  }

  /** Right side ("registry"): same persons under shifted ids with seeded
    * perturbations — every 7th surname loses its 3rd char, every 11th
    * birth date moves a day. */
  def registryFrom(customer: DataFrame, nation: DataFrame): DataFrame = {
    val k = col("c_custkey")
    val last = pick(lastNames, k, 97)
    customer.join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"))
      .select((k + 1000000).as("pid"),
        pick(firstNames, k, 89).as("first_name"),
        when(k % 7 === 0,
          concat(substring(last, 1, 2), last.substr(lit(4), length(last))))
          .otherwise(last).as("last_name"),
        when(k % 11 === 0, birthStr(k, dayShift = 1)).otherwise(birthStr(k)).as("birth_str"),
        col("n_name").as("city"))
  }
}
