package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** String-similarity functions used by fuzzy joins and match scoring —
  * the Spark re-expression of the reference's jellyfish-based helpers
  * (/root/reference/code/tools.py:157-227) and the Levenshtein automaton
  * matcher (/root/reference/code/automata.py). Plain Levenshtein uses
  * Spark's codegen'd builtin; Damerau-Levenshtein and Jaro-Winkler are
  * small Scala UDFs (no builtin exists).
  */
object Similarity {

  // -------------------------------------------------- Damerau-Levenshtein
  /** Unrestricted Damerau-Levenshtein distance (insert/delete/substitute/
    * transpose), matching jellyfish.damerau_levenshtein_distance used by
    * tools.levenshtein (tools.py:173-196). */
  def damerau(a: String, b: String): Int = {
    if (a == null || b == null) return Int.MaxValue
    val la = a.length; val lb = b.length
    if (la == 0) return lb
    if (lb == 0) return la
    val inf = la + lb
    // charcode → last row where it was seen in `a`
    val lastA = scala.collection.mutable.Map.empty[Char, Int]
    val d = Array.ofDim[Int](la + 2, lb + 2)
    d(0)(0) = inf
    for (i <- 0 to la) { d(i + 1)(0) = inf; d(i + 1)(1) = i }
    for (j <- 0 to lb) { d(0)(j + 1) = inf; d(1)(j + 1) = j }
    for (i <- 1 to la) {
      var lastMatchCol = 0
      for (j <- 1 to lb) {
        val i1 = lastA.getOrElse(b.charAt(j - 1), 0)
        val j1 = lastMatchCol
        val cost = if (a.charAt(i - 1) == b.charAt(j - 1)) { lastMatchCol = j; 0 } else 1
        d(i + 1)(j + 1) = math.min(
          math.min(d(i)(j) + cost,                 // substitute / match
            math.min(d(i + 1)(j) + 1,              // insert
              d(i)(j + 1) + 1)),                   // delete
          d(i1)(j1) + (i - i1 - 1) + 1 + (j - j1 - 1)) // transpose
      }
      lastA(a.charAt(i - 1)) = i
    }
    d(la + 1)(lb + 1)
  }

  /** Column API — backed by the native codegen'd Catalyst expression
    * (NativeExpressions.DamerauLevenshteinExpr), not a UDF. */
  def damerauLevenshtein(a: Column, b: Column): Column =
    NativeExpressions.damerauNative(a, b)

  // ------------------------------------------------------------ lev_norm
  /** levenshtein_norm(a,b) = (100 - 100*d / (1 + min(len a, len b))) / 100,
    * clamped at 0, rounded 2dp — THE workhorse of match scoring
    * (tools.py:213-227, used all over conf/recipes/matching.yml). The
    * reference takes max over list×list pairs; `levNormMax` covers that.
    *
    * TWO metrics exist BY DESIGN — do not mix them in one scoring
    * pipeline: the Column-API default here is plain Levenshtein (Spark
    * builtin, codegen'd, DuckDB-oracle-expressible — used by the
    * SparkEntry queries); `metric="damerau"` is the reference's
    * jellyfish behavior, and it is what the SQL-registered
    * `levenshtein_norm` (Registry) and the PyExpr recipe translator use
    * for verbatim-recipe parity. A transposition ('marhta'→'martha')
    * scores 0.86 under damerau but 0.71 under plain. */
  def levNorm(a: Column, b: Column, metric: String = "levenshtein"): Column = {
    val d = metric match {
      case "damerau" => damerauLevenshtein(a, b).cast("double")
      case _         => levenshtein(a, b).cast("double")
    }
    val norm = (lit(100.0) - lit(100.0) * d / (lit(1.0) + least(length(a), length(b)))) / lit(100.0)
    round(greatest(norm, lit(0.0)), 2)
  }

  /** Max pairwise levNorm over two string arrays (reference list handling,
    * tools.py:213-227). */
  def levNormMax(as_ : Column, bs: Column, metric: String = "levenshtein"): Column =
    array_max(flatten(transform(as_, a =>
      transform(bs, b => levNorm(a, b, metric)))))

  // --------------------------------------------------------- Jaro-Winkler
  /** Jaro similarity. */
  def jaro(a: String, b: String): Double = {
    val la = a.length; val lb = b.length
    if (la == 0 && lb == 0) return 1.0
    if (la == 0 || lb == 0) return 0.0
    val matchDist = math.max(math.max(la, lb) / 2 - 1, 0)
    val aMatched = new Array[Boolean](la)
    val bMatched = new Array[Boolean](lb)
    var matches = 0
    for (i <- 0 until la) {
      val lo = math.max(0, i - matchDist)
      val hi = math.min(lb - 1, i + matchDist)
      var j = lo
      var done = false
      while (j <= hi && !done) {
        if (!bMatched(j) && a.charAt(i) == b.charAt(j)) {
          aMatched(i) = true; bMatched(j) = true; matches += 1; done = true
        }
        j += 1
      }
    }
    if (matches == 0) return 0.0
    var k = 0; var transpositions = 0
    for (i <- 0 until la if aMatched(i)) {
      while (!bMatched(k)) k += 1
      if (a.charAt(i) != b.charAt(k)) transpositions += 1
      k += 1
    }
    val m = matches.toDouble
    (m / la + m / lb + (m - transpositions / 2.0) / m) / 3.0
  }

  /** Jaro-Winkler similarity: prefix scaling 0.1 over ≤4 common prefix
    * chars, boost only above 0.7 — jellyfish's semantics
    * (tools.jw rounds to 2dp, tools.py:157-171). */
  def jaroWinkler(a: String, b: String): Double = {
    if (a == null || b == null) return 0.0
    val j = jaro(a, b)
    if (j <= 0.7) return j
    var prefix = 0
    val max4 = math.min(4, math.min(a.length, b.length))
    while (prefix < max4 && a.charAt(prefix) == b.charAt(prefix)) prefix += 1
    j + prefix * 0.1 * (1.0 - j)
  }

  /** jw rounded to 2dp — the scalar kernel shared by the Column UDF and
    * the SQL registry. */
  def jwRounded(a: String, b: String): Double =
    math.round(jaroWinkler(a, b) * 100.0) / 100.0

  private val jwUdf = udf { (a: String, b: String) => jwRounded(a, b) }
  /** jw(a,b) rounded to 2dp (tools.py:157-171). */
  def jw(a: Column, b: Column): Column = jwUdf(a, b)

  /** Scalar twin of [[levNorm]](metric="damerau") for the SQL registry:
    * damerau-normalized similarity in [0,1] at 2dp; NULL in → NULL out,
    * the same propagation the Column spelling has (an earlier SQL copy
    * returned 0.0 for null and silently diverged). */
  def levNormDamerau(a: String, b: String): Option[Double] =
    if (a == null || b == null) None
    else {
      val d = damerau(a, b).toDouble
      val norm = (100.0 - 100.0 * d / (1.0 + math.min(a.length, b.length))) / 100.0
      Some(math.round(math.max(norm, 0.0) * 100.0) / 100.0)
    }

  private val jwMaxUdf = udf { (as_ : Seq[String], bs: Seq[String]) =>
    if (as_ == null || bs == null || as_.isEmpty || bs.isEmpty) 0.0
    else {
      var best = 0.0
      for (a <- as_; b <- bs) { val v = jaroWinkler(a, b); if (v > best) best = v }
      math.round(best * 100.0) / 100.0
    }
  }
  /** Max pairwise JW over two string arrays. */
  def jwMax(as_ : Column, bs: Column): Column = jwMaxUdf(as_, bs)

  // ----------------------------------------------------- vector similarity
  /** Cosine similarity of two numeric arrays. Backed by the fused
    * native expression (NativeExpressions.CosineSimExpr, r16): one
    * unboxed pass instead of five interpreted higher-order traversals
    * per pair — bit-identical values and NULL contract (the expression's
    * scaladoc carries the equivalence argument). */
  def cosine(a: Column, b: Column): Column = NativeExpressions.cosineSim(a, b)
}
