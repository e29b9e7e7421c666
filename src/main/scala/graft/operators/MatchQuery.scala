package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Bool-query semantics for the match join — the interpreter for the
  * reference's ES query templates (must / should / minimum_should_match /
  * per-clause fuzziness / span_first — and NESTED bool trees, which the
  * shipped matching template uses: conf/recipes/matching.yml:11-49;
  * SURVEY.md §7.3).
  *
  * Each leaf clause matches one left token-array field against one right
  * token-array field. A candidate (left row, right row) pair satisfies
  *   - a leaf when the clause has at least one token match,
  *   - a bool node when EVERY `must` child is satisfied and at least
  *     `minimumShouldMatch` `should` children are (ES default: 1 when
  *     there are no musts, else 0),
  * and scores the quantized-IDF sum over all matching leaves
  * (deterministic integer units, same contract as MatchJoin).
  * `firstPosition` restricts the right side to its FIRST token — the
  * span_first analogue (name-starts-with semantics).
  *
  * Plan shape: one token equi-join per leaf (each a candidate
  * generator, unioned), one groupBy over (left, right) with the
  * satisfied-leaf set, a plan-side boolean-tree filter, and a top-k
  * window — all shuffles on small keys; IDF tables broadcast; the tree
  * evaluation is pure codegen over the collected set.
  */
object MatchQuery {

  /** One leaf clause over token-array fields. */
  case class Clause(
      leftTokens: String, rightTokens: String,
      required: Boolean = false,
      fuzziness: Int = 0,
      firstPosition: Boolean = false,
      boost: Double = 1.0)

  /** Flat spec — kept for the simple case; compiled to a one-level tree. */
  case class Spec(
      clauses: Seq[Clause],
      minimumShouldMatch: Int = 1,
      k: Int = 10)

  // ---- recursive bool tree (the ES template shape)
  sealed trait Node
  /** idx identifies the leaf in the satisfied-set column. */
  final case class Leaf(idx: Int, clause: Clause) extends Node
  /** minimumShouldMatch = -1 → ES default (1 without musts, else 0). */
  final case class BoolNode(
      must: Seq[Node] = Nil,
      should: Seq[Node] = Nil,
      minimumShouldMatch: Int = -1) extends Node

  case class TreeSpec(root: Node, k: Int = 10)

  def leaves(n: Node): Seq[Leaf] = n match {
    case l: Leaf => Seq(l)
    case b: BoolNode => (b.must ++ b.should).flatMap(leaves)
  }

  /** Plan-side tree evaluation over the collected satisfied-leaf set —
    * pure Column logic, stays in codegen. */
  private def satisfied(n: Node, set: Column): Column = n match {
    case Leaf(i, _) => array_contains(set, i)
    case BoolNode(must, should, msm0) =>
      // an explicit minimum_should_match is NOT clamped: ES semantics say
      // msm greater than the number of should clauses can never match,
      // and clamping would admit pairs the reference engine rejects
      val msm =
        if (msm0 >= 0) msm0
        else if (must.nonEmpty) 0
        else math.min(1, should.size)
      val mOk = must.map(satisfied(_, set)).foldLeft(lit(true))(_ && _)
      val sCnt = should.map(c => when(satisfied(c, set), 1).otherwise(0))
        .foldLeft(lit(0))(_ + _)
      mOk && (sCnt >= lit(msm))
  }

  // fuzzy clauses expand over the term dictionary with the ONE shared
  // helper (FuzzyMatch.vocabPairs) so the recall invariant can't drift
  // between the three matchers

  def run(left: DataFrame, right: DataFrame, spec: Spec,
      leftId: String, rightId: String): DataFrame = {
    val ls = spec.clauses.zipWithIndex.map { case (c, i) => Leaf(i, c) }
    val (must, should) = ls.partition(_.clause.required)
    // all-must flat specs keep their old semantics: the default msm only
    // applies when optional clauses exist
    val msm = if (should.isEmpty) 0 else spec.minimumShouldMatch
    runTree(left, right,
      TreeSpec(BoolNode(must, should, msm), spec.k),
      leftId, rightId)
  }

  /** @param maxDocFreq drop tokens appearing in more right docs than
    *   this (0 = no cap) — the hot-token skew guard, same contract as
    *   MatchJoin.topK */
  def runTree(left: DataFrame, right: DataFrame, spec: TreeSpec,
      leftId: String, rightId: String,
      keepUnmatched: Boolean = false,
      maxDocFreq: Long = 0L): DataFrame = {
    val ls = leaves(spec.root)
    require(ls.nonEmpty, "at least one clause")
    require(ls.map(_.idx).distinct.size == ls.size, "leaf idx must be unique")
    // Corpus size rides the plan as a broadcast one-row aggregate (same
    // pattern as MatchJoin): no eager count() job — and no extra full
    // corpus scan — before the query's own action runs.
    val nDocs = broadcast(right.agg(
      countDistinct(col(rightId)).cast("double").as("__n")))

    // postings + document frequencies build ONCE per distinct right
    // field shape and left field: the shipped templates aim several
    // clauses at the same field (match + span_first over the name), and
    // per-leaf rebuilds would execute the full corpus explode + df
    // aggregate once per leaf. Reusing the SAME DataFrame object keeps
    // identical attribute ids, so the exchanges canonicalize equal and
    // the runtime executes the subtree once (the self-reference
    // re-aliasing pitfall MatchJoin documents). The per-leaf boost is
    // applied to the memoized pre-boost df table — a vocab-sized map.
    val postingsCache =
      scala.collection.mutable.Map.empty[(String, Boolean), (DataFrame, DataFrame)]
    def postingsFor(rightTokens: String, firstPosition: Boolean): (DataFrame, DataFrame) =
      postingsCache.getOrElseUpdate((rightTokens, firstPosition), {
        val rTokens =
          if (firstPosition) slice(array_distinct(col(rightTokens)), 1, 1)
          else array_distinct(col(rightTokens))
        val postingsRaw = right.select(col(rightId).as("__rid"),
          explode(rTokens).as("__tok"))
        val postings = if (maxDocFreq > 0) {
          val hot = postingsRaw.groupBy("__tok").agg(count(lit(1)).as("__hdf"))
            .filter(col("__hdf") > maxDocFreq).select("__tok")
          postingsRaw.join(broadcast(hot), Seq("__tok"), "left_anti")
        } else postingsRaw
        val dfCounts = postings.groupBy("__tok").agg(count(lit(1)).as("__df"))
        (postings, dfCounts)
      })
    val qtokCache = scala.collection.mutable.Map.empty[String, DataFrame]
    // distinct: left ids need not be unique rows (the YAML template
    // join keys by content hash, so duplicate rows share an id) —
    // without it a duplicated row's tokens are emitted twice and its
    // hit_score doubles. Clustered on the token: both the exact postings
    // join and a fuzzy clause's fan-out read it in place.
    def qtokFor(leftTokens: String): DataFrame =
      qtokCache.getOrElseUpdate(leftTokens,
        left.select(col(leftId).as("__lid"),
          explode(array_distinct(col(leftTokens))).as("__qtok"))
          .repartition(col("__qtok"))
          .distinct())

    // per-leaf candidate scores (lid, rid, leafIdx, score)
    val perLeaf = ls.map { case Leaf(idx, cl) =>
      val (postings, dfCounts) = postingsFor(cl.rightTokens, cl.firstPosition)
      val idf = dfCounts
        .crossJoin(nDocs)
        .withColumn("__idf",
          floor((log((col("__n") + 1) / (col("__df") + 1)) + 1) * 10000 * cl.boost)
            .cast("long"))
        .select("__tok", "__idf")
      val qtok = qtokFor(cl.leftTokens)
      val cand =
        if (cl.fuzziness <= 0)
          // shuffle-hash pinned for the same reason as MatchJoin: the
          // static planner under-estimates an exploded postings table and
          // a statically-planned broadcast cannot be demoted by AQE
          qtok.withColumn("__tok", col("__qtok"))
            .join(postings.hint("shuffle_hash"), Seq("__tok"))
            .select("__lid", "__rid", "__tok")
            .join(broadcast(idf), Seq("__tok"))
        else {
          // blocking depth matches the clause's fuzziness (ES caps at 2):
          // delete-1 variants alone would silently miss most distance-2
          // pairs while the levenshtein filter admits them. The meet runs
          // over distinct query tokens × the clause's IDF table (the
          // field vocabulary, each term carrying its weight); the pairs
          // fan out to the left rows and, through the postings, to the
          // docs. The (lid, tok) stream moves once, onto the token
          // clustering the postings join needs, and the (lid, rid, tok)
          // dedup runs in place after it.
          val pairs = FuzzyMatch.vocabPairs(
            qtok.select(col("__qtok").as("__q")).distinct(),
            idf.withColumnRenamed("__tok", "__w"), cl.fuzziness)
          qtok.join(pairs, col("__qtok") === col("__q"))
            .select(col("__lid"), col("__w").as("__tok"), col("__idf"))
            .repartition(col("__tok"))
            .join(postings.hint("shuffle_hash"), Seq("__tok"))
            .select("__lid", "__rid", "__tok", "__idf").distinct()
        }
      cand.groupBy("__lid", "__rid")
        .agg(sum("__idf").as("__cscore"))
        .withColumn("__leaf", lit(idx))
    }

    val all = perLeaf.reduce(_ unionByName _)
    val agg = all.groupBy("__lid", "__rid")
      .agg(sum("__cscore").as("hit_score"),
        collect_set("__leaf").as("__satisfied"))
      .filter(satisfied(spec.root, col("__satisfied")))

    val stats = Window.partitionBy(col("__lid"))
    val w = stats.orderBy(col("hit_score").desc, col("__rid"))
    val topk = agg
      .withColumn("matchid_hit_matches_unfiltered", count(lit(1)).over(stats))
      .withColumn("hit_max_score", max(col("hit_score")).over(stats))
      .withColumn("hit_rank", row_number().over(w))
      .filter(col("hit_rank") <= spec.k)

    val reserved = Set("score", "rank", "max_score")
    require(!right.columns.exists(reserved.contains),
      s"right-side columns named ${reserved.mkString("/")} collide with " +
        "computed hit_* metadata — rename them before the match join")
    val hitCols = right.columns.map(c => col(c).as(s"hit_$c"))
    val withHits = topk.join(right.select(hitCols.toSeq: _*),
      topk("__rid") === col(s"hit_$rightId"))
    left.join(withHits, left(leftId) === withHits("__lid"),
        if (keepUnmatched) "left" else "inner")
      .drop("__lid", "__rid", "__satisfied")
  }

  // ------------------------------------------------ ES template compiler
  /** Compile the reference's ES query-template YAML (already parsed to
    * java maps/lists) into a TreeSpec + the left/right token columns each
    * leaf needs. The template's `match` keys name RIGHT (index) fields;
    * their values name LEFT columns whose row value is substituted
    * (replace_dict, recipes.py:2285-2286). Supported constructs:
    * bool/must/should/minimum_should_match, match (plain or
    * {query, fuzziness}), span_first(match(span_term), end: 1),
    * function_score/query wrappers, top-level size. Anything else fails
    * at compile time.
    *
    * Returns (spec, leaf field pairs as (leftCol, rightField)); the
    * caller maps field names to token-array columns (tokenizing string
    * columns) and rewrites the Clause columns accordingly.
    */
  def compileTemplate(template: Any): (TreeSpec, Int) = {
    import scala.jdk.CollectionConverters._
    var k = 10
    def asMap(a: Any): Map[String, Any] = a match {
      case m: java.util.Map[_, _] => m.asScala.map { case (kk, v) => kk.toString -> v }.toMap
      case other => sys.error(s"es-template: expected mapping, got $other")
    }
    def asList(a: Any): Seq[Any] = a match {
      case l: java.util.List[_] => l.asScala.toSeq
      case null => Nil
      case one => Seq(one) // ES allows a single clause instead of a list
    }
    val nextIdx = new java.util.concurrent.atomic.AtomicInteger(0)

    def leaf(rightField: String, leftCol: String, fuzziness: Int,
        firstPosition: Boolean): Leaf =
      Leaf(nextIdx.getAndIncrement(),
        Clause(leftTokens = leftCol, rightTokens = rightField,
          fuzziness = fuzziness, firstPosition = firstPosition))

    def parseMatch(a: Any, firstPosition: Boolean = false): Leaf = {
      val m = asMap(a)
      require(m.size == 1, s"es-template: match must have one field, got ${m.keys}")
      val (field, v) = m.head
      v match {
        case s: String => leaf(field, s, 0, firstPosition)
        case mm: java.util.Map[_, _] =>
          val vm = asMap(mm)
          val q = vm.getOrElse("query",
            sys.error(s"es-template: match on $field needs a query")).toString
          val fz = vm.get("fuzziness") match {
            case Some(null) => sys.error(
              s"es-template: fuzziness on $field is blank — give it a value or drop it")
            case Some(a) => a.toString match {
              case "auto" | "AUTO" => 1
              case n => n.toIntOption.getOrElse(sys.error(
                s"es-template: fuzziness on $field must be an integer or auto, got '$n'"))
            }
            case None => 0
          }
          // ES itself caps fuzziness at 2, and the deletion blocking
          // only guarantees recall up to d=2 — reject anything beyond
          // at compile time rather than silently under-matching
          require(fz >= 0 && fz <= 2,
            s"es-template: fuzziness on $field must be 0..2 (ES max), got $fz")
          leaf(field, q, fz, firstPosition)
        case other => sys.error(s"es-template: bad match value $other")
      }
    }

    def parseNode(a: Any): Node = {
      val m = asMap(a)
      require(m.size == 1, s"es-template: clause must have one key, got ${m.keys}")
      m.head match {
        case ("bool", b) =>
          val bm = asMap(b)
          val unknown = bm.keySet -- Set("must", "should", "minimum_should_match")
          require(unknown.isEmpty, s"es-template: unsupported bool keys $unknown")
          BoolNode(
            must = asList(bm.getOrElse("must", null)).map(parseNode),
            should = asList(bm.getOrElse("should", null)).map(parseNode),
            minimumShouldMatch = bm.get("minimum_should_match") match {
              case Some(null) => sys.error("es-template: " +
                "minimum_should_match is blank — give it a value or drop it")
              case Some(v) => v.toString.toIntOption.getOrElse(sys.error(
                s"es-template: minimum_should_match must be an integer, got '$v'"))
              case None => -1
            })
        case ("match", v) => parseMatch(v)
        case ("span_first", v) =>
          val sm = asMap(v)
          require(sm.get("end").forall(e =>
              e != null && e.toString.toIntOption.contains(1)),
            "es-template: span_first supports end: 1 (first-token semantics)")
          val inner = asMap(sm.getOrElse("match",
            sys.error("es-template: span_first needs a match")))
          val term = inner.getOrElse("span_term",
            sys.error("es-template: span_first match must wrap span_term"))
          parseMatch(term, firstPosition = true)
        case (other, _) =>
          sys.error(s"es-template: unsupported clause '$other' — supported: " +
            "bool, match, span_first(span_term, end: 1)")
      }
    }

    // unwrap {size, query}, {function_score: {query: …}} wrappers
    def unwrap(a: Any): Node = {
      val m = asMap(a)
      if (m.contains("size")) k = m("size") match {
        case null => sys.error(
          "es-template: size is blank — give it a value or drop it")
        case v => v.toString.toIntOption.getOrElse(
          sys.error(s"es-template: size must be an integer, got '$v'"))
      }
      if (m.contains("bool")) parseNode(a)
      else if (m.contains("function_score")) unwrap(asMap(m("function_score"))("query"))
      else if (m.contains("query")) unwrap(m("query"))
      else if (m.contains("match") || m.contains("span_first")) parseNode(a)
      else sys.error(s"es-template: cannot interpret keys ${m.keys}")
    }

    val root = unwrap(template)
    (TreeSpec(root, k), nextIdx.get())
  }
}
