package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Tools

/** Text-analysis operators for training-data pipelines: token counting,
  * quality scoring, language identification, document fingerprinting.
  * Pure Column arithmetic (codegen'd) everywhere except the winnowing
  * kernel, which is a justified row-local UDF (see its Scaladoc); all of
  * it is expressible 1:1 in the DuckDB oracle and runs at scan speed
  * over 100 TB.
  */
object TextAnalysis {

  // ----------------------------------------------------------- counting
  /** Whitespace token count; blank → 0. */
  def tokenCount(c: Column): Column = size(Tools.tokenize(c))

  /** A BPE-ish subword count heuristic: alphanumeric runs + individual
    * non-space punctuation marks (approximates tokenizer token counts
    * without a vocab). RE2-compatible pattern — no lookarounds — so the
    * identical regex runs in the DuckDB oracle; whitespace is the
    * EXPLICIT six-char class (not \s) because Java's \s includes
    * vertical tab while RE2's does not. */
  val subwordPattern = "[A-Za-z0-9]+|[^A-Za-z0-9 \\t\\n\\x0B\\f\\r]"
  def subwordCount(c: Column): Column =
    size(regexp_extract_all(c, lit(subwordPattern), lit(0)))

  // ------------------------------------------------------------ quality
  /** Ratio of punctuation chars to total chars (0 for empty). */
  def punctRatio(c: Column): Column =
    when(length(c) === 0, lit(0.0)).otherwise(
      (length(c) - length(regexp_replace(c, "[\\p{Punct}]", ""))).cast("double") /
        length(c).cast("double"))

  /** Ratio of uppercase letters to total chars (0 for empty). */
  def upperRatio(c: Column): Column =
    when(length(c) === 0, lit(0.0)).otherwise(
      (length(c) - length(regexp_replace(c, "[A-Z]", ""))).cast("double") /
        length(c).cast("double"))

  /** Mean word length over whitespace tokens (0 when no tokens). */
  def meanWordLen(c: Column): Column = {
    val toks = Tools.tokenize(c)
    when(size(toks) === 0, lit(0.0)).otherwise(
      aggregate(toks, lit(0), (acc, t) => acc + length(t)).cast("double") /
        size(toks).cast("double"))
  }

  /** Stopword hit ratio: fraction of tokens that are in the given
    * stopword list. */
  def stopwordRatio(c: Column, stopwords: Seq[String]): Column = {
    val toks = Tools.tokenize(lower(c))
    val sw = array(stopwords.map(lit): _*)
    when(size(toks) === 0, lit(0.0)).otherwise(
      size(filter(toks, t => array_contains(sw, t))).cast("double") /
        size(toks).cast("double"))
  }

  /** Composite quality score in [0,1]: favors mid-length docs with low
    * punctuation density and some stopwords (C4/Gopher-style heuristic
    * rules, simplified). */
  def qualityScore(c: Column, stopwords: Seq[String]): Column = {
    val lenScore = least(length(c).cast("double") / lit(500.0), lit(1.0))
    val punct = punctRatio(c)
    val sw = stopwordRatio(c, stopwords)
    round(greatest(lit(0.0),
      lit(0.4) * lenScore + lit(0.3) * (lit(1.0) - least(punct * 5, lit(1.0))) +
        lit(0.3) * least(sw * 4, lit(1.0))), 4)
  }

  // ------------------------------------------------------------- lang id
  /** Stopword vocabularies for the five testdata languages. Tiny on
    * purpose: the heuristic is distinct-stopword voting, not a model. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "it", "that", "for"),
    "fr" -> Seq("le", "la", "les", "de", "des", "et", "un", "une", "est", "que"),
    "es" -> Seq("el", "la", "los", "de", "y", "un", "una", "es", "que", "en"),
    "de" -> Seq("der", "die", "das", "und", "ein", "eine", "ist", "zu", "den", "von"))

  /** Language-ID heuristic: CJK chars → zh; else the language with the
    * most distinct stopword hits, ties broken in fixed order
    * en > fr > es > de (deterministic, oracle-expressible). */
  def langId(c: Column): Column = {
    val toks = array_distinct(Tools.tokenize(lower(c)))
    def hits(lang: String): Column =
      size(array_intersect(toks, array(stopwords(lang).map(lit): _*)))
    val (en, fr, es, de) = (hits("en"), hits("fr"), hits("es"), hits("de"))
    // NULL text: every when-condition is null → would fall through to
    // the otherwise branch and count missing docs as German
    when(c.isNull, lit(null).cast("string"))
      .when(c.rlike("[\\x{4e00}-\\x{9fff}]"), lit("zh"))
      .when(en >= fr && en >= es && en >= de, lit("en"))
      .when(fr >= es && fr >= de, lit("fr"))
      .when(es >= de, lit("es"))
      .otherwise(lit("de"))
  }

  /** Unicode-SCRIPT character mix — the routing signal upstream of
    * [[langId]] (script decides tokenizer/pipeline before any language
    * model runs; CommonCrawl pipelines cut or route on script share).
    * Counts characters per script via EXPLICIT codepoint ranges — not
    * a regex library's `\p{script=}` tables, whose Unicode versions
    * differ across engines — so any engine replays the counts
    * identically. Pure `length(x) - length(regexp_replace(...))`
    * Column arithmetic: row-local, codegen'd, no UDF, no shuffle.
    * Scripts counted: latin, cyrillic, greek, arabic, CJK (BMP unified
    * ideographs), plus ASCII digits (script-neutral, excluded from
    * `main_script`). `main_script` = the max-count script, ties to the
    * earlier listed; all-zero → "unknown"; NULL text → NULL counts and
    * NULL main_script. */
  val scriptRanges: Seq[(String, String)] = Seq(
    "latin" -> "A-Za-z",
    "cyrillic" -> "\\u0400-\\u04FF",
    "greek" -> "\\u0370-\\u03FF",
    "arabic" -> "\\u0600-\\u06FF",
    "cjk" -> "\\u4E00-\\u9FFF",
    "digit" -> "0-9")

  def scriptCount(c: Column, range: String): Column =
    length(c) - length(regexp_replace(c, s"[$range]", ""))

  /** `df` plus `n_<script>` counts and `main_script` (see
    * [[scriptRanges]]). */
  def withScriptMix(df: DataFrame, textCol: String): DataFrame = {
    val t0 = col(textCol)
    val counts = scriptRanges.map { case (n, r) => n -> scriptCount(t0, r) }
    val letters = counts.filter(_._1 != "digit")
    val m = greatest(letters.map(_._2): _*)
    val pick = letters.foldRight(lit("unknown")) { case ((n, cnt), el) =>
      when(cnt === m, lit(n)).otherwise(el)
    }
    val main = when(t0.isNull, lit(null).cast("string"))
      .when(letters.map(_._2).reduce(_ + _) === 0, lit("unknown"))
      .otherwise(pick)
    counts.foldLeft(df) { case (d, (n, cnt)) => d.withColumn(s"n_$n", cnt) }
      .withColumn("main_script", main)
  }

  // ----------------------------------------- winnowing fingerprints
  /** Row-local winnowing kernel. A UDF on purpose, with the measurement
    * that justifies it: the declarative spelling — transform(sequence)
    * grams -> transform md5 hashes -> transform(slice+array_min) window
    * minima — ran ~1 ms PER WINDOW: higher-order functions execute
    * interpreted (no codegen), and CollapseProject inlines the hash
    * array into the window lambda, recomputing every md5 once per
    * window position (O(len^2) digests; minutes for 500 small docs).
    * This loop is O(len*w) with one MessageDigest per row:
    * milliseconds for the same input. */
  private val winnowUdf = udf { (s: String, k: Int, w: Int) =>
    if (s == null) null
    else if (s.length < k) Array.empty[Long]
    else {
      val md = java.security.MessageDigest.getInstance("MD5")
      val n = s.length - k + 1
      val hs = new Array[Long](n)
      var i = 0
      while (i < n) {
        hs(i) = Tools.md5Top60(md.digest(s.substring(i, i + k)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)))
        md.reset()
        i += 1
      }
      // window minima: windows start at 0 .. n-w (a doc with fewer than
      // w grams gets ONE window holding everything); dedupe preserving
      // first-seen order so output is deterministic
      val windows = math.max(n - w + 1, 1)
      val seen = new java.util.LinkedHashSet[java.lang.Long]()
      i = 0
      while (i < windows) {
        var m = Long.MaxValue
        var j = i
        val end = math.min(i + w, n)
        while (j < end) { if (hs(j) < m) m = hs(j); j += 1 }
        seen.add(m)
        i += 1
      }
      val out = new Array[Long](seen.size)
      val it = seen.iterator()
      i = 0
      while (it.hasNext) { out(i) = it.next(); i += 1 }
      out
    }
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken:
    * "Winnowing: Local Algorithms for Document Fingerprinting",
    * SIGMOD 2003) as exploded (id, fingerprint) rows — the join-ready
    * shape: near-dup candidates are ids sharing a fingerprint (one
    * equi-join on `fp`, same scale shape as the minhash band join).
    *
    * Hash every character k-gram of the normalized text, slide a window
    * of `w` consecutive hashes, keep each window's minimum, dedupe.
    * Guarantees: any shared substring of length >= k + w - 1 contributes
    * at least one common fingerprint; no shared substring shorter than
    * k is ever detected. The per-gram hash is the top 60 bits of md5,
    * engine-portable: `('0x' || substr(md5(g),1,15))::BIGINT` in an
    * external SQL oracle matches bit-for-bit. Work is row-local and
    * linear in text length — no shuffle at all (fingerprints are
    * deduped per doc in the kernel, so the explode needs no distinct),
    * and the operator scans at full parallelism at any scale. */
  def winnow(df: DataFrame, idCol: String, textCol: String,
      k: Int = 5, w: Int = 4): DataFrame = {
    require(k >= 2 && w >= 1, s"need k >= 2 and w >= 1, got k=$k w=$w")
    df.select(col(idCol).as("id"),
        explode(winnowUdf(Tools.normalize(col(textCol)), lit(k), lit(w))).as("fp"))
  }

  // ------------------------------------------------- decontamination
  /** Row-local distinct word-n-gram kernel. A UDF for the same reason
    * as the winnow kernel: the declarative spelling
    * `transform(sequence(...), i -> concat_ws(slice(toks, i, n)))` runs
    * interpreted AND CollapseProject inlines the tokenizer alias into
    * the lambda, re-splitting the text once per gram position. This
    * loop tokenizes once and is O(tokens · n); grams are deduped here
    * so the downstream explode needs no distinct. Input is
    * pre-normalized text (single-space separated). */
  private val wordNgramsUdf = udf { (s: String, n: Int) =>
    if (s == null) null
    else {
      val toks = s.split(' ').filter(_.nonEmpty)
      if (toks.length < n) Array.empty[String]
      else {
        val seen = new java.util.LinkedHashSet[String]()
        var i = 0
        while (i <= toks.length - n) {
          val sb = new StringBuilder(toks(i))
          var j = i + 1
          while (j < i + n) { sb.append(' ').append(toks(j)); j += 1 }
          seen.add(sb.toString)
          i += 1
        }
        val out = new Array[String](seen.size)
        seen.toArray(out)
        out
      }
    }
  }

  /** Distinct word n-grams of a pre-normalized (single-space-separated)
    * text column, as an array column — the raw kernel, for callers that
    * need gram counts rather than exploded rows (repetition stats). */
  def distinctWordNgrams(c: Column, n: Column): Column = wordNgramsUdf(c, n)

  /** Distinct word n-grams of each document's normalized text, exploded
    * to (id, gram) rows — the join-ready shape decontamination uses. */
  def wordNgrams(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    require(n >= 1, s"need n >= 1, got n=$n")
    df.select(col(idCol),
      explode(wordNgramsUdf(Tools.normalize(col(textCol)), lit(n))).as("gram"))
  }

  /** Benchmark decontamination (the n-gram-overlap check every serious
    * training-data pipeline runs before training — e.g. GPT-3 appendix C
    * / PaLM-style 13-gram overlap): a train document is CONTAMINATED if
    * it shares at least one word n-gram (default n=13) with any document
    * of the test/benchmark set. Returns `train` with a `contaminated`
    * boolean appended.
    *
    * Scale shape: both sides explode to deduped (id, gram) rows — narrow,
    * no shuffle; the test side reduces to DISTINCT grams (benchmark sets
    * are tiny next to the corpus, so this is the small side and AQE
    * broadcasts it); the semi-join keys on a 64-bit gram hash (8 bytes a
    * gram in the shuffle instead of ~13× the corpus text as strings) —
    * one shuffle of the train grams at worst, never all-pairs; the
    * verdict re-attaches to train rows by id. A hot gram (boilerplate present in
    * both sets) only fans out within the semi-join and collapses to one
    * id — no pair explosion. */
  def contaminationFlags(train: DataFrame, test: DataFrame,
      idCol: String, textCol: String, n: Int = 13,
      testTextCol: Option[String] = None,
      bloomFpp: Option[Double] = None): DataFrame = {
    // the flag rides the join under a fresh name so a pre-existing
    // `contaminated` column on train can't make the coalesce ambiguous;
    // the final withColumn then REPLACES any such column
    val bad = contaminatedIds(train, test, idCol, textCol, n, testTextCol,
        bloomFpp)
      .withColumn("__graft_contaminated", lit(true))
    train.join(bad, Seq(idCol), "left")
      .withColumn("contaminated", coalesce(col("__graft_contaminated"), lit(false)))
      .drop("__graft_contaminated")
  }

  /** Per-document novelty / memorization-risk score: the fraction of a
    * doc's DISTINCT word n-grams that occur in no other document —
    * `novelty = (n_grams − n_shared)/n_grams` at exact 4 decimals.
    * Low novelty marks boilerplate-heavy or near-duplicated docs whose
    * text a model is most likely to memorize verbatim (the n-gram
    * overlap statistic behind Lee et al. 2022's dedup-reduces-
    * memorization result) — rank or threshold on it the way q90/q81
    * consume any score column. Docs too short for a single n-gram get
    * (0, 0, NULL): unscorable, not perfectly novel.
    *
    * Scale shape: grams travel as xxhash64 longs (8 B); the doc-
    * frequency agg is map-side combined on the gram hash; the ≥2-doc
    * gram set semi-joins back on the same key (one reused shuffle
    * family); ONE doc-id exchange aggregates both counters. The ratio
    * rounds in integer space (the q59 half-away trick), so both
    * engines emit the identical double.
    *
    * Collision tolerance: doc frequency is counted over the 64-bit gram
    * HASH, so an xxhash64 collision merges two distinct grams and can
    * only INFLATE n_shared (deflate novelty) — the bias direction that
    * is conservative for "flag low-novelty docs", but note this is a
    * RANKING score, not a boolean flag, so a collision nudges the
    * ranking itself. Magnitude: among D distinct grams expect ≈D²/2⁶⁵
    * colliding pairs — ~3·10⁻⁸ of grams even at D = 10¹² (a ~100 TB
    * corpus), i.e. orders of magnitude below the 4th decimal the score
    * is rounded to for any doc with more than a handful of grams. The
    * driver oracle (q99) counts gram STRINGS and has stayed hash-green
    * at every tested SF — collisions are a theoretical tail, accepted
    * for 8 B/gram instead of ~100 B/gram at scale. */
  def noveltyScores(df: DataFrame, idCol: String, textCol: String,
      n: Int = 13): DataFrame = {
    val grams = wordNgrams(df, idCol, textCol, n)
      .select(col(idCol), xxhash64(col("gram")).as("__g"))
    val gramsP = graft.engine.CacheScope.cache(grams)
    val shared = gramsP.groupBy("__g").agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= 2)
      .select(col("__g"), lit(true).as("__hot"))
    val per = gramsP.join(shared, Seq("__g"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("__ng"), count(col("__hot")).as("__ns"))
    df.select(col(idCol)).join(per, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__ng"), lit(0L)).cast("int").as("n_grams"),
        coalesce(col("__ns"), lit(0L)).cast("int").as("n_shared"),
        expr(
          """CASE WHEN __ng > 0 THEN
            |  CAST(((__ng - __ns) * 10000 * 2 + __ng) DIV (__ng * 2)
            |    AS DOUBLE) / 10000.0
            |END""".stripMargin).as("novelty"))
  }

  /** Contamination REPORT, keyed by TEST document — the audit artifact
    * a pipeline publishes next to the decontaminated corpus ("which
    * benchmark items leaked, and how badly"): one row per test doc with
    *   - `n_contaminating_docs`  distinct corpus docs sharing ≥1 word
    *                             n-gram with this test doc
    *   - `n_shared_grams`        distinct leaked grams of this test doc
    *   - `contaminated`          n_contaminating_docs > 0
    * Clean test docs appear with zeros (a report that silently omits
    * clean items can't distinguish "clean" from "not checked").
    *
    * Scale shape: same exploded-gram meeting as [[contaminationFlags]],
    * but an INNER join keyed on the 64-bit gram hash with BOTH ids kept,
    * then a two-key distinct aggregate per test id. The test side is the
    * bounded benchmark set, so per-test-doc fan-out is capped by that
    * side; a boilerplate gram hot on the CORPUS side fans out only into
    * the per-test-doc distinct — counts, never pair materialization
    * beyond the aggregate's partial buffers. With `bloomFpp` set, the
    * same broadcast Bloom filter as the flag/drop paths prunes clean
    * corpus grams map-side, making the corpus-side shuffle
    * corpus-independent; the report is identical because the exact join
    * still decides every hit (false positives can't survive an inner
    * join on the true gram hash). Counts aggregate gram HASHES — an
    * xxhash64 collision would merge two grams (same conservative
    * tolerance the flag path documents). */
  def contaminationReport(train: DataFrame, test: DataFrame,
      idCol: String, textCol: String, n: Int = 13,
      testIdCol: Option[String] = None,
      testTextCol: Option[String] = None,
      bloomFpp: Option[Double] = None): DataFrame = {
    val tid = testIdCol.getOrElse(idCol)
    val ttext = testTextCol.getOrElse(textCol)
    val testGrams = test
      .select(col(tid).as("test_id"),
        explode(wordNgramsUdf(Tools.normalize(col(ttext)), lit(n))).as("gram"))
      .select(col("test_id"), xxhash64(col("gram")).as("__gram_h"))
    val trainGrams0 = wordNgrams(train, idCol, textCol, n)
      .select(col(idCol).as("__train_id"), xxhash64(col("gram")).as("__gram_h"))
    val trainGrams = bloomFpp match {
      case None => trainGrams0
      case Some(fpp) => testGramBloom(test, ttext, n, fpp) match {
        case None => trainGrams0.limit(0)
        case Some(bf) =>
          val bcast = train.sparkSession.sparkContext.broadcast(bf)
          val might = udf { (h: Long) => bcast.value.mightContainLong(h) }
          trainGrams0.filter(might(col("__gram_h")))
      }
    }
    val hits = trainGrams.join(testGrams, Seq("__gram_h"))
      .groupBy("test_id")
      .agg(count_distinct(col("__train_id")).as("n_contaminating_docs"),
        count_distinct(col("__gram_h")).as("n_shared_grams"))
    test.select(col(tid).as("test_id")).distinct()
      .join(hits, Seq("test_id"), "left")
      .select(col("test_id"),
        coalesce(col("n_contaminating_docs"), lit(0L)).as("n_contaminating_docs"),
        coalesce(col("n_shared_grams"), lit(0L)).as("n_shared_grams"))
      .withColumn("contaminated", col("n_contaminating_docs") > 0)
  }

  /** Decontaminated train set: train rows sharing no word n-gram with
    * the test set (the drop-variant of [[contaminationFlags]]). */
  def decontaminate(train: DataFrame, test: DataFrame,
      idCol: String, textCol: String, n: Int = 13,
      testTextCol: Option[String] = None,
      bloomFpp: Option[Double] = None): DataFrame =
    train.join(contaminatedIds(train, test, idCol, textCol, n, testTextCol,
        bloomFpp),
      Seq(idCol), "left_anti")

  /** `bloomFpp = Some(p)` turns on the BLOOM PREFILTER: output stays
    * IDENTICAL (the exact semi-join still decides membership), but the
    * 100-TB plan changes — a Bloom filter over the test set's gram
    * hashes is broadcast to every executor, and corpus grams that miss
    * it (for a mostly-clean corpus, essentially all of them) are
    * dropped MAP-SIDE before any shuffle. The semi-join then carries
    * only true hits plus an fpp-sized trickle of false positives,
    * which the exact join removes — so the corpus-side shuffle shrinks
    * from EVERY gram to ~(hits + fpp · grams) while the result
    * hash-matches the unfiltered plan (q53 vs q68 share one oracle).
    *
    * The filter is the declared-small driver artifact (SCALE.md):
    * test/benchmark sets are bounded by design, and at 1% fpp the bits
    * run ~1.2 MB per million distinct test grams. The test gram set is
    * computed three times (size, build, exact verify) — benchmark-sized
    * work, the price of keeping the CORPUS side single-pass. */
  private def contaminatedIds(train: DataFrame, test: DataFrame,
      idCol: String, textCol: String, n: Int,
      testTextCol: Option[String],
      bloomFpp: Option[Double] = None): DataFrame = {
    // grams meet as 64-bit hashes, not strings: at n=13 the exploded
    // train side is ~13× the corpus text if shuffled verbatim, 8 bytes a
    // gram once hashed. An xxhash64 collision marks one extra doc
    // contaminated — negligible (and conservative) for decontamination.
    // The test side needs only a text column (benchmark sets needn't
    // share the train schema); ids never leave the train side.
    // the DISTINCT stays on the verify-join side, where it shrinks the
    // one unavoidable test-side shuffle (and, for small benchmark sets,
    // keeps the relation under the broadcast threshold)
    val testGrams = test
      .select(explode(wordNgramsUdf(
        Tools.normalize(col(testTextCol.getOrElse(textCol))), lit(n))).as("gram"))
      .select(xxhash64(col("gram")).as("__gram_h")).distinct()
    val trainGrams = wordNgrams(train, idCol, textCol, n)
      .select(col(idCol), xxhash64(col("gram")).as("__gram_h"))
    bloomFpp match {
      case None =>
        trainGrams
          .join(testGrams, Seq("__gram_h"), "left_semi")
          .select(idCol).distinct()
      case Some(fpp) =>
        testGramBloom(test, testTextCol.getOrElse(textCol), n, fpp) match {
          case None => train.select(col(idCol)).limit(0)
          case Some(bf) =>
            val bcast = train.sparkSession.sparkContext.broadcast(bf)
            val might = udf { (h: Long) => bcast.value.mightContainLong(h) }
            // cached: the count below materializes the id set once and
            // the caller's verdict join reads the cached rows instead of
            // re-scanning the whole corpus for the grams (a second
            // 100-TB pass)
            val ids = graft.engine.CacheScope.cache(
              trainGrams.filter(might(col("__gram_h")))
                .join(testGrams, Seq("__gram_h"), "left_semi")
                .select(idCol).distinct())
            // The id set is data-dependent, so it can't be broadcast
            // blindly — but the static planner's alternative is worse in
            // a way the 3-point DecontamBench sweep exposed: it plans
            // the caller's verdict join as SMJ, and although AQE flips
            // it to broadcast once the id stage materializes, the
            // CORPUS-side exchange is already written by then
            // (AQEShuffleRead local saves the network read, not the
            // 100-TB disk write — measured as the bloom path's shuffle
            // bytes growing ∝ corpus, 254→568 MB for 1M→3M docs). The
            // bloom path is already eager at plan build (filter sizing +
            // build), so ONE more bounded action is in contract: count
            // the cached ids and hint broadcast only under 1M rows
            // (≲ tens of MB hashed — executor-safe); a genuinely huge
            // verdict set (mostly-contaminated corpus) keeps the
            // shuffled join, which is then the right plan anyway.
            val n_ = ids.count()
            if (n_ <= 1000000L) broadcast(ids) else ids
        }
    }
  }

  /** The Bloom filter over a STATIC test set's word-n-gram hashes — the
    * shared engine behind the batch `prefilter: bloom` path and the
    * streaming ingest filter ([[graft.streaming.EventStream
    * .contaminationFlagsStream]]); one tuning spot so the two cannot
    * drift. None when the test set yields no grams.
    *
    * Sizing and build run on the RAW (non-distinct) gram stream: both
    * are plain aggregates with no distinct exchange — BloomFilter.put
    * is idempotent, and overcounting duplicates only oversizes the
    * filter, i.e. LOWERS its effective fpp. The build is coalesced
    * because the aggregate merges one FULL bit-array per partition;
    * measured 192 MB of pure filter traffic at 32 partitions for a
    * 6 MiB filter (DecontamBench) — 8 partitions keeps the explode
    * parallel enough for a benchmark-sized test set while bounding the
    * merge at 8 × filter size. */
  private[graft] def testGramBloom(test: DataFrame, textCol: String,
      n: Int, fpp: Double): Option[org.apache.spark.util.sketch.BloomFilter] = {
    require(fpp > 0 && fpp < 1, s"bloom fpp must be in (0, 1), got $fpp")
    val raw = test
      .select(explode(wordNgramsUdf(
        Tools.normalize(col(textCol)), lit(n))).as("gram"))
      .select(xxhash64(col("gram")).as("__gram_h"))
    val nGrams = raw.count()
    if (nGrams == 0) None
    else Some(raw.coalesce(8).stat.bloomFilter("__gram_h", nGrams, fpp))
  }

  /** The EXACT counterpart of [[testGramBloom]]: the test set's distinct
    * gram hashes as one sorted long array (8 B a gram — a 1M-gram
    * benchmark suite is 8 MB, the declared-small artifact bound), for
    * broadcast binary-search membership. None when the set is empty.
    *
    * Exists because "a Bloom at vanishing fpp" is NOT a substitute for
    * exactness: Spark's BloomFilter uses 32-bit double hashing
    * (h1 + i·h2), whose false-positive floor sits ORDERS above a tiny
    * requested fpp — measured in this repo: one observed FP among 51
    * probes against a 1 384-gram filter BUILT AT fpp = 1e-9 (bitSize
    * 62 912; the q71 sf0.001 off-by-one, round 9). Anything that must
    * hash-match an exact oracle checks membership here; the Bloom stays
    * for genuinely approximate prefilter duty where an exact verify
    * step follows or conservatism is the contract. */
  private[graft] def testGramSet(test: DataFrame, textCol: String,
      n: Int): Option[Array[Long]] = {
    val hs = test
      .select(explode(wordNgramsUdf(
        Tools.normalize(col(textCol)), lit(n))).as("gram"))
      .select(xxhash64(col("gram")).as("__gram_h"))
      .distinct().collect().map(_.getLong(0))
    if (hs.isEmpty) None
    else { java.util.Arrays.sort(hs); Some(hs) }
  }

  /** C4-style boilerplate line removal (Raffel et al. 2020 §2.2 — the
    * "three-sentence span" dedup simplified to lines, the common
    * production variant): a line occurring in more than `maxDocFreq`
    * DISTINCT documents is boilerplate (cookie banners, nav text,
    * license headers) and is dropped from every document; each document
    * is reassembled from its surviving lines in original order. Docs
    * whose lines all vanish stay in the output with empty text (the
    * downstream length/quality filter is the right place to drop them).
    *
    * Scale shape: explode is narrow; the line-frequency aggregate and
    * the anti-join both key on the line hash (one shuffle each, hot
    * boilerplate lines are exactly what the aggregate bounds); the
    * reassembly groups by doc id. No broadcast of anything
    * data-dependent. */
  def dedupLines(df: DataFrame, idCol: String, textCol: String,
      maxDocFreq: Long = 1L): DataFrame = {
    require(maxDocFreq >= 1, s"maxDocFreq must be >= 1, got $maxDocFreq")
    val lines = df
      .select(col(idCol).as("id"), posexplode(split(col(textCol), "\n")))
      .withColumnRenamed("pos", "__pos").withColumnRenamed("col", "__line")
    val hot = lines.groupBy("__line")
      .agg(countDistinct(col("id")).as("__df"))
      .filter(col("__df") > maxDocFreq)
      .select("__line")
    val kept = lines.join(hot, Seq("__line"), "left_anti")
    val rebuilt = kept
      .groupBy("id")
      .agg(concat_ws("\n",
        transform(array_sort(collect_list(struct(col("__pos"), col("__line")))),
          s => s.getField("__line"))).as(textCol))
    // keep every input doc (empty text when all lines were boilerplate)
    df.select(col(idCol).as("id")).distinct()
      .join(rebuilt, Seq("id"), "left")
      .select(col("id").as(idCol), coalesce(col(textCol), lit("")).as(textCol))
  }

  /** Exact duplicated-SPAN removal (the ExactSubstr contract of Lee et
    * al. 2021, "Deduplicating Training Data Makes Language Models
    * Better", arXiv:2107.06499, re-expressed relationally): any token
    * n-gram occurring MORE THAN ONCE in the entire corpus — across
    * documents or twice inside one — marks its n token positions as
    * duplicated, and every document is rebuilt from its unmarked tokens
    * in original order. This is EXACTLY "remove every duplicated token
    * span of length ≥ n": a span of length m ≥ n occurring twice makes
    * each of its length-n windows duplicated (so all m positions are
    * covered), and conversely every covered position sits inside a
    * length-n duplicated span. The paper builds a corpus-wide suffix
    * array — a single-node construction; the n-gram-anchor formulation
    * is the shuffle-bounded distributed equivalent at fixed minimum
    * span length, which is how the contract is stated anyway.
    *
    * Operates on the NORMALIZED token stream (the dedup-canonical form
    * every other text-dedup op here keys on); the output text is the
    * surviving normalized tokens rejoined — span removal is defined on
    * tokens, so reconstructing raw-text offsets would add a
    * position-mapping layer without changing what trains on the result.
    *
    * Scale shape: the per-doc gram kernel is row-local (one md5 per
    * position, single pass); grams meet as 60-bit hashes — 8 bytes a
    * gram in every exchange, never strings. The occurrence count is a
    * map-side-combinable aggregate on the hash; the semi-join back
    * re-uses the same key (one shuffle each). Coverage explodes only
    * DUPLICATED occurrences — n rows per dup gram, linear in the
    * duplicated volume, and the distinct collapses them per (doc, pos).
    * A boilerplate gram repeated k times costs k·n coverage rows —
    * linear, no pair blowup (contrast all-pairs span matching).
    * Reassembly groups by doc id. Nothing data-dependent broadcasts. */
  def exactSubstrDedup(df: DataFrame, idCol: String, textCol: String,
      n: Int = 10): DataFrame = {
    require(n >= 2, s"need span length n >= 2, got n=$n")
    // 60-bit md5 gram hash, engine-portable (same contract as winnow):
    // ('0x' || substr(md5(gram), 1, 15))::BIGINT in an oracle. A
    // collision falsely marks one span duplicated — conservative for
    // dedup and vanishing at 2^60 over corpus-sized gram counts.
    val gramHashUdf = udf { (ts: Seq[String], nn: Int) =>
      if (ts == null || ts.length < nn) Seq.empty[Long]
      else {
        val md = java.security.MessageDigest.getInstance("MD5")
        (0 to ts.length - nn).map { i =>
          md.reset()
          Tools.md5Top60(md.digest(ts.slice(i, i + nn).mkString(" ")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)))
        }
      }
    }
    // cached narrow frame: tokens + per-position hashes feed FOUR plan
    // branches (count agg, dup semi-join, token explode, final ntok) —
    // without the cache each branch re-runs the md5 kernel corpus-wide
    val toks = graft.engine.CacheScope.cache(df
      .select(col(idCol).as("id"),
        coalesce(Tools.tokenize(Tools.normalize(col(textCol))),
          array().cast("array<string>")).as("__toks"))
      .withColumn("__ghs", gramHashUdf(col("__toks"), lit(n))))
    val gramPos = toks.select(col("id"), posexplode(col("__ghs")))
      .withColumnRenamed("pos", "__pos").withColumnRenamed("col", "__h")
    val dup = gramPos.groupBy("__h").agg(count(lit(1)).as("__c"))
      .filter(col("__c") > 1).select("__h")
    val covered = gramPos.join(dup, Seq("__h"), "left_semi")
      .select(col("id"),
        explode(sequence(col("__pos"), col("__pos") + lit(n - 1))).as("__p"))
      .distinct()
    val tokPos = toks.select(col("id"), posexplode(col("__toks")))
      .withColumnRenamed("pos", "__p").withColumnRenamed("col", "__tok")
    val rebuilt = tokPos.join(covered, Seq("id", "__p"), "left_anti")
      .groupBy("id")
      .agg(concat_ws(" ",
        transform(array_sort(collect_list(struct(col("__p"), col("__tok")))),
          s => s.getField("__tok"))).as("__clean"),
        count(lit(1)).as("__nk"))
    // every input doc survives (empty text when fully duplicated) — the
    // downstream length filter is the right place to drop hollow docs
    toks.select(col("id"), size(col("__toks")).as("__nt"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("__clean"), lit("")).as(textCol),
        // LONG counters (r8 ADVICE): an int would silently wrap on a
        // >2.1B-token document; the token counts are longs upstream
        coalesce(col("__nk"), lit(0L)).as("n_kept"),
        (col("__nt").cast("long") - coalesce(col("__nk"), lit(0L))).as("n_removed"))
  }

  /** Near-duplicate pairs by winnowing-fingerprint overlap: pairs of
    * docs sharing at least one fingerprint, scored by overlap ratio
    * |F(a) ∩ F(b)| / min(|F(a)|, |F(b)|) and kept at ≥ `threshold` —
    * the containment-style score MOSS-like dedup uses (a near-copy of a
    * short doc embedded in a long one still scores high).
    *
    * Scale shape is the minhash band join: candidates meet through ONE
    * equi-join keyed on the fingerprint value carrying only (fp, id) —
    * never all-pairs — then pair counts aggregate and per-doc totals
    * re-attach (fingerprint-count table, corpus-cardinality-sized).
    * A hot fingerprint (boilerplate shared by thousands of docs) is the
    * skew to watch: `maxDocFreq` drops fingerprints more frequent than
    * the cap, the same stopword guard as the match join. */
  def winnowNearDups(df: DataFrame, idCol: String, textCol: String,
      k: Int = 5, w: Int = 4, threshold: Double = 0.5,
      maxDocFreq: Long = 0L): DataFrame = {
    // cached narrow (id, fp) frame: the plan fans out to the pair join's
    // two sides, the per-doc counts, and (optionally) the hot-fp set —
    // without it each branch re-runs the md5 kernel over the whole corpus
    val fps = graft.engine.CacheScope.cache(winnow(df, idCol, textCol, k, w))
    val kept = if (maxDocFreq > 0) {
      val hot = fps.groupBy("fp").agg(count(lit(1)).as("__df"))
        .filter(col("__df") > maxDocFreq).select("fp")
      // NO broadcast: the hot set's size is data-dependent (boilerplate-
      // heavy corpora can push it past any broadcast limit); a shuffle
      // anti-join is scale-safe and AQE still broadcasts it when small
      fps.join(hot, Seq("fp"), "left_anti")
    } else fps
    val counts = kept.groupBy("id").agg(count(lit(1)).as("nfp"))
    val a = kept.alias("a"); val b = kept.alias("b")
    val overlaps = a.join(b.hint("shuffle_hash"),
        col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("shared"))
    overlaps
      .join(counts.select(col("id").as("id_a"), col("nfp").as("nfp_a")), Seq("id_a"))
      .join(counts.select(col("id").as("id_b"), col("nfp").as("nfp_b")), Seq("id_b"))
      .withColumn("overlap", round(
        col("shared").cast("double") / least(col("nfp_a"), col("nfp_b")), 4))
      .filter(col("overlap") >= threshold)
      .select("id_a", "id_b", "overlap")
  }
}
