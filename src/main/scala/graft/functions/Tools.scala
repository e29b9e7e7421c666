package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar function library — the engine's equivalent of the reference's
  * `eval` surface (/root/reference/code/tools.py). Everything here is a
  * `Column => Column` combinator so expressions stay inside Catalyst and
  * whole-stage codegen; Scala UDFs are used only where no builtin
  * composition exists (accent stripping, char n-grams, edit distances).
  *
  * Null/empty discipline: the reference treats the empty string as
  * "missing" (SURVEY.md §1.2); helpers here preserve that — see
  * `emptyToNull`.
  */
object Tools {

  // ---------------------------------------------------------------- nulls
  def emptyToNull(c: Column): Column = when(c === lit(""), lit(null)).otherwise(c)

  // ------------------------------------------------------------- barriers
  /** Identity barrier for a BOOLEAN verdict column (r15 optimization):
    * returns its input unchanged (NULL included — boxed Boolean) but
    * marked non-deterministic, so Catalyst will not inline the
    * producing expression into downstream filter predicates or
    * duplicate it across collapsed projections. Filter pushdown
    * through a projection substitutes the full producing expression
    * into the predicate, and a verdict built from an expensive kernel
    * chain (shingle → 64-hash minhash → 16 band slices → membership
    * probe) re-evaluates that chain once per reference — measured 13.3
    * → 0.6 s at sf0.1 on the near-dup ingest gate's shape. The guide's
    * "mark expensive UDFs non-deterministic" technique applied to a
    * JVM expression tree; value-wise a no-op, so results are
    * bit-identical. */
  private val opaqueBoolUdf =
    udf { (b: java.lang.Boolean) => b }.asNondeterministic()
  def opaqueBool(c: Column): Column = opaqueBoolUdf(c)

  /** Top 60 bits of an md5 digest as a positive Long — the first 15 hex
    * chars (bytes 0-6 plus the high nibble of byte 7). THE engine-
    * portable hash of the md5-simhash and winnowing kernels: an external
    * SQL oracle reproduces it as
    * `('0x' || substr(md5(x), 1, 15))::BIGINT`. Keep the two sides in
    * lock-step — changing this changes every oracle built on it. */
  def md5Top60(digest: Array[Byte]): Long = {
    var h = 0L
    var i = 0
    while (i < 7) { h = (h << 8) | (digest(i) & 0xffL); i += 1 }
    (h << 4) | ((digest(7) & 0xffL) >>> 4)
  }

  // ------------------------------------------------------------ normalize
  /** Strip diacritics: NFD-decompose then drop combining marks.
    * Mirrors tools.normalize's unidecode step
    * (/root/reference/code/tools.py:142-155); same result as DuckDB
    * `strip_accents` for Latin scripts. */
  /** Scalar accent-strip kernel — the ONE definition; the Column UDF and
    * the SQL registry both delegate here. */
  def stripAccentsStr(s: String): String =
    if (s == null) null
    else java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFD)
      .replaceAll("\\p{M}+", "")

  private val stripAccentsUdf = udf { (s: String) => stripAccentsStr(s) }
  def stripAccents(c: Column): Column = stripAccentsUdf(c)

  /** Full normalize: lower → de-accent → non-alphanumerics to spaces →
    * squash whitespace → trim (tools.py:142-155). */
  def normalize(c: Column): Column =
    trim(regexp_replace(
      regexp_replace(stripAccents(lower(c)), "[^0-9a-z]+", " "),
      "\\s+", " "))

  /** Scalar twin of [[normalize]] for the SQL registry — MUST stay in
    * lock-step with the Column spelling above step by step (a
    * PropertiesSpec parity test compares the two on random accented
    * input). */
  def normalizeStr(s: String): String =
    if (s == null) null
    else stripAccentsStr(s.toLowerCase)
      .replaceAll("[^0-9a-z]+", " ")
      .replaceAll("\\s+", " ")
      .trim

  /** Whitespace tokenizer (tools.py:121-127) with Python `str.split()`
    * semantics: empty/blank input → empty array, and NO empty tokens
    * ever. Edge whitespace is stripped with a regex (not `trim`, which
    * removes only spaces — a doc ending in "\n" would otherwise emit a
    * phantom "" token that inflates counts and pollutes vocabularies). */
  def tokenize(c: Column): Column = {
    val stripped = regexp_replace(c, "^\\s+|\\s+$", "")
    when(c.isNull, lit(null))
      .when(stripped === "", array().cast("array<string>"))
      .otherwise(split(stripped, "\\s+"))
  }

  /** Java regex `\s`: the characters [[tokenize]] splits on. */
  def isRegexSpace(ch: Char): Boolean = ch == ' ' || ch == '\t' ||
    ch == '\n' || ch == '\u000B' || ch == '\f' || ch == '\r'

  /** Scalar twin of [[tokenize]] in one pass, without regexes: the
    * maximal runs of non-`\s` chars. It keeps one quirk of the regex
    * strip: Java's `$` also matches before a final line terminator, so
    * the whitespace ahead of a trailing U+0085/U+2028/U+2029 (line
    * terminators that are not `\s`) is stripped and that char joins the
    * last token. NULL -> null. PropertiesSpec pins the parity. */
  def tokenizeStr(s: String): Array[String] = {
    if (s == null) return null
    val n = s.length
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < n) {
      while (i < n && isRegexSpace(s.charAt(i))) i += 1
      val from = i
      while (i < n && !isRegexSpace(s.charAt(i))) i += 1
      if (i > from) out += s.substring(from, i)
    }
    if (out.length >= 2 && isRegexSpace(s.charAt(n - 2)) &&
        "\u0085\u2028\u2029".indexOf(s.charAt(n - 1)) >= 0) {
      val last = out.remove(out.length - 1)
      out(out.length - 1) += last
    }
    out.toArray
  }

  /** Character n-grams of one string (tools.py:109-113): substrings of
    * length n; strings shorter than n yield an empty array. */
  /** Scalar n-gram kernel — the one definition behind the Column UDF and
    * the SQL registry. */
  def charNgramsStr(s: String, n: Int): Seq[String] =
    if (s == null) null
    else (0 to s.length - n).map(i => s.substring(i, i + n))

  private val charNgramsUdf = udf { (s: String, n: Int) => charNgramsStr(s, n) }
  def charNgrams(c: Column, n: Int): Column = charNgramsUdf(c, lit(n))

  /** n-grams for several sizes, flattened — the reference's default is
    * n=[2,3] for the `ngram` operator (code/recipes.py:1972-1987). */
  def charNgramsMulti(c: Column, ns: Seq[Int]): Column =
    flatten(array(ns.map(n => charNgrams(c, n)): _*))

  // ------------------------------------------------------------- hashing
  def sha1Hex(c: Column): Column = sha1(c.cast("binary"))
  def sha256Hex(c: Column): Column = sha2(c.cast("binary"), 256)
  /** Row id hash — reference uses blake3 (tools.py:100-107); ids only need
    * to be stable within a run, so a 64-bit xxhash is the scale-friendly
    * choice (8 bytes vs 32, codegen'd). */
  def rowHash(cs: Column*): Column = xxhash64(cs: _*)

  // ---------------------------------------------------------------- geo
  /** Parse WKT "POINT(lon lat)" → struct(lat, lon) (tools.py:65-69).
    * Malformed WKT → NULL fields: regexp_extract yields "" on a
    * non-match, and under ANSI a plain cast of "" would kill the job —
    * try_cast keeps the reference's failure-is-missing behavior. */
  def geopoint(wkt: Column): Column = {
    val re = "POINT\\s*\\(\\s*(-?[0-9.]+)\\s+(-?[0-9.]+)\\s*\\)"
    struct(
      regexp_extract(wkt, re, 2).try_cast("double").as("lat"),
      regexp_extract(wkt, re, 1).try_cast("double").as("lon"))
  }

  /** Haversine great-circle distance in km, rounded to 1 decimal — the
    * reference returns geodesic km at 1dp (tools.py:74-78). Pure Column
    * arithmetic: stays in codegen, also expressible 1:1 in the DuckDB
    * oracle. */
  def haversineKm(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column = {
    val r = lit(6371.0088)
    val dLat = radians(lat2 - lat1)
    val dLon = radians(lon2 - lon1)
    val a = pow(sin(dLat / 2), 2) +
      cos(radians(lat1)) * cos(radians(lat2)) * pow(sin(dLon / 2), 2)
    round(r * lit(2) * asin(sqrt(a)), 1)
  }

  /** Scalar twin of [[haversineKm]] for the SQL registry — identical
    * operand order so the two spellings agree bit-for-bit (PropertiesSpec
    * pins the parity). */
  def haversineKmScalar(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double = {
    val r = 6371.0088
    val dLat = math.toRadians(lat2 - lat1)
    val dLon = math.toRadians(lon2 - lon1)
    val a = math.pow(math.sin(dLat / 2), 2) +
      math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) *
        math.pow(math.sin(dLon / 2), 2)
    math.round(r * 2 * math.asin(math.sqrt(a)) * 10.0) / 10.0
  }

  // ------------------------------------------------------------ casts
  /** `""` → null, else try-cast to long; invalid → null
    * (to_integer, code/recipes.py:1916-1927 with global-intended
    * semantics per SURVEY §4). */
  def toInteger(c: Column): Column = emptyToNull(c).try_cast("long")

  /** `""` → naValue, else try-cast to double (to_float,
    * code/recipes.py:1955-1970). */
  def toFloat(c: Column, naValue: Option[Double] = None): Column = {
    val base = emptyToNull(c).try_cast("double")
    naValue.map(v => when(c === "", lit(v)).otherwise(base)).getOrElse(base)
  }

  /** String → timestamp with format, null on failure — pandas
    * `errors='coerce'` (parsedate, code/recipes.py:2448-2459). */
  def parsedate(c: Column, fmt: String): Column = try_to_timestamp(c, lit(fmt))

  /** float_val: 0.0 on failure (tools.py:25-29). */
  def floatVal(c: Column): Column = coalesce(c.try_cast("double"), lit(0.0))
}
