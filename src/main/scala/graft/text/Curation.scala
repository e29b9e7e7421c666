package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.util.CollationSupport
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.Tools

/** Corpus-curation operators a large-scale training-data pipeline runs
  * between raw scrape and tokenizer: fixed-window chunking, Gopher-style
  * quality rules, MassiveText repetition statistics, PII scrubbing, and
  * corpus vocabulary extraction.
  *
  * Everything is per-row Column arithmetic (whole-stage codegen'd, scan
  * speed at any scale) except [[vocabTopK]] (one map-side-combined
  * aggregate) and two row-local kernels, for the same measured reason
  * as the winnow/gram kernels in [[TextAnalysis]]: the chunk kernel
  * (higher-order-function spellings run interpreted and CollapseProject
  * re-splits the text once per window) and the Gopher kernel (a Column
  * spelling names the text ~15 times, and each name becomes a copy of
  * the whole upstream expression once a filter is pushed through a
  * projection). All regex patterns are
  * RE2-compatible (no lookarounds) so the identical pattern runs in an
  * external SQL oracle.
  */
object Curation {

  // ------------------------------------------------------------ chunking
  /** Row-local chunk kernel: token windows of `size` starting every
    * `stride` tokens; emission stops with the first window that reaches
    * the document's end (so a doc never ends in a tail chunk fully
    * contained in its predecessor). <= size tokens -> ONE chunk; zero
    * tokens -> none. Tokenizes once per row, O(tokens * size/stride). */
  private val chunkUdf = udf { (s: String, size: Int, stride: Int) =>
    if (s == null) Array.empty[(String, Int)]
    else {
      val toks = s.trim.split("\\s+").filter(_.nonEmpty)
      val n = toks.length
      if (n == 0) Array.empty[(String, Int)]
      else {
        val out = scala.collection.mutable.ArrayBuffer.empty[(String, Int)]
        var start = 0
        var done = false
        while (!done) {
          val end = math.min(start + size, n)
          // token count rides along — re-splitting chunk_text downstream
          // would double the operator's string work
          out += ((toks.slice(start, end).mkString(" "), end - start))
          done = end >= n
          start += stride
        }
        out.toArray
      }
    }
  }

  /** Overlapping token-window chunks, the RAG/pretraining shard shape:
    * (id, chunk_id, chunk_text, n_tok) with chunk_id the 0-based window
    * index. Row-local and narrow — no shuffle at all; output volume is
    * ~size/stride x the input, the expected cost of overlap. */
  def chunk(df: DataFrame, idCol: String, textCol: String,
      size: Int = 64, stride: Int = 32): DataFrame = {
    require(size >= 1, s"chunk size must be >= 1, got $size")
    require(stride >= 1 && stride <= size,
      s"stride must be in [1, size], got stride=$stride size=$size")
    df.select(col(idCol),
        posexplode(chunkUdf(col(textCol), lit(size), lit(stride)))
          .as(Seq("chunk_id", "__c")))
      .select(col(idCol), col("chunk_id"),
        col("__c._1").as("chunk_text"), col("__c._2").as("n_tok"))
  }

  // ------------------------------------------------- repetition statistics
  /** MassiveText-style within-document repetition statistics (Rae et al.
    * 2021, "Scaling Language Models" appendix A1.1): the fraction of
    * duplicate lines and duplicate word n-grams (n=2,3) in each
    * document. High values mark boilerplate/spam for the quality filter.
    * Pure row-local arithmetic; the gram distinct-count rides the same
    * kernel decontamination uses. */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val c = col(textCol)
    val lines = split(c, "\n")
    val nLines = size(lines)
    val dupLine = when(c.isNull, lit(null).cast("double"))
      .when(length(c) === 0, lit(0.0))
      .otherwise(
        (nLines - size(array_distinct(lines))).cast("double") / nLines.cast("double"))
    // single-space re-join of the SAME token array the count uses, so
    // the gram kernel and the total can never disagree on tokenization
    val toks = Tools.tokenize(c)
    val nTok = size(toks)
    val spaced = concat_ws(" ", toks)
    def dupGram(n: Int): Column = {
      val total = greatest(nTok - lit(n - 1), lit(0))
      val distinct = size(TextAnalysis.distinctWordNgrams(spaced, lit(n)))
      when(c.isNull, lit(null).cast("double"))
        .when(total === 0, lit(0.0))
        .otherwise((total - distinct).cast("double") / total.cast("double"))
    }
    df.select(col(idCol),
      round(dupLine, 4).as("dup_line_frac"),
      round(dupGram(2), 4).as("dup_2gram_frac"),
      round(dupGram(3), 4).as("dup_3gram_frac"))
  }

  // ------------------------------------------------------ Gopher quality
  /** Default stopword list for the stop-hit rule (Gopher uses a similar
    * tiny English list). */
  val gopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** One document's Gopher metrics and verdict. The field names are
    * [[gopherQuality]]'s output columns. */
  final case class Gopher(n_words: Int, mean_word_len: Double,
      symbol_ratio: Double, bullet_frac: Double, ellipsis_frac: Double,
      alpha_frac: Double, stop_hits: Int, keep: Boolean)

  /** Gopher-style quality rules (Rae et al. 2021 appendix A1.1) for ONE
    * document, in one pass over its text: one tokenization, one line
    * split. The only definition behind [[gopherQuality]] and
    * [[gopherKeep]], so the two cannot drift. The metrics:
    * - `n_words`: [[Tools.tokenize]]'s token count;
    * - `mean_word_len`: non-`\s` code points per word;
    * - `symbol_ratio`: ('#'s + non-overlapping "..."s) per word;
    * - `bullet_frac`: lines ("\n"-split, trailing empties kept) whose
    *   first non-space char is '-', '*' or '•';
    * - `ellipsis_frac`: lines ending in "..." before trailing spaces, or
    *   before one final line terminator (Java regex `$`);
    * - `alpha_frac`: words holding an ASCII letter;
    * - `stop_hits`: distinct stopwords among the words under Spark's
    *   `lower` (`icuLower`: its ICU case mapping, as the session has).
    * The ratios are 0 without words and round HALF_UP to 4 places the
    * way Spark's `round` does. `keep` is the conjunction of the rules
    * on the rounded values, at the published defaults (adapted to word
    * counts): minWords <= words <= maxWords, mean word length in [3,10],
    * symbol ratio <= 0.1, <= 90% bullet lines, <= 30% ellipsis lines,
    * >= 80% alphabetic words, >= 2 distinct stopwords. NULL text ->
    * null. PropertiesSpec pins bit-equality with the Column spelling the
    * SQL oracle mirrors. */
  def gopherStr(s: String, minWords: Int, maxWords: Int,
      stopwords: Set[String], icuLower: Boolean): Gopher = {
    if (s == null) return null
    val words = Tools.tokenizeStr(s)
    val nWords = words.length
    var alphaWords = 0
    val hits = scala.collection.mutable.HashSet.empty[String]
    words.foreach { w =>
      if (w.exists(ch => (ch >= 'a' && ch <= 'z') || (ch >= 'A' && ch <= 'Z')))
        alphaWords += 1
      if (stopwords.nonEmpty) {
        val u = UTF8String.fromString(w)
        val lw = (if (icuLower) CollationSupport.Lower.execBinaryICU(u)
          else CollationSupport.Lower.execBinary(u)).toString
        if (stopwords.contains(lw)) hits += lw
      }
    }
    var spaces, hashes, ellipses = 0
    var i = 0
    while (i < s.length) {
      val ch = s.charAt(i)
      if (Tools.isRegexSpace(ch)) spaces += 1
      else if (ch == '#') hashes += 1
      else if (s.startsWith("...", i)) { ellipses += 1; i += 2 }
      i += 1
    }
    val lines = s.split("\n", -1)
    var bullets, ellipsisLines = 0
    lines.foreach { l =>
      var from = 0
      while (from < l.length && l.charAt(from) == ' ') from += 1
      if (from < l.length && "-*•".indexOf(l.charAt(from)) >= 0) bullets += 1
      var end = l.length
      while (end > 0 && l.charAt(end - 1) == ' ') end -= 1
      if (l.startsWith("...", end - 3) || (end >= 4 &&
          "\r\u0085\u2028\u2029".indexOf(l.charAt(end - 1)) >= 0 &&
          l.startsWith("...", end - 4))) ellipsisLines += 1
    }
    def perWord(x: Double) = if (nWords == 0) 0.0 else x / nWords
    def round4(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue
    val meanLen = round4(perWord(s.codePointCount(0, s.length) - spaces))
    val symbolRatio = round4(perWord(hashes + ellipses))
    val bulletFrac = round4(bullets.toDouble / lines.length)
    val ellipsisFrac = round4(ellipsisLines.toDouble / lines.length)
    val alphaFrac = round4(perWord(alphaWords))
    Gopher(nWords, meanLen, symbolRatio, bulletFrac, ellipsisFrac, alphaFrac,
      hits.size,
      keep = nWords >= minWords && nWords <= maxWords &&
        meanLen >= 3.0 && meanLen <= 10.0 && symbolRatio <= 0.1 &&
        bulletFrac <= 0.9 && ellipsisFrac <= 0.3 && alphaFrac >= 0.8 &&
        hits.size >= 2)
  }

  /** [[gopherStr]] at fixed rules, with the session's case mapping. */
  private def gopherAt(minWords: Int, maxWords: Int,
      stopwords: Seq[String]): String => Gopher = {
    val sw = stopwords.toSet
    val icu = SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)
    s => gopherStr(s, minWords, maxWords, sw, icu)
  }

  /** The Gopher metrics and `keep` verdict ([[gopherStr]]) per row:
    * (id, n_words, mean_word_len, symbol_ratio, bullet_frac,
    * ellipsis_frac, alpha_frac, stop_hits, keep). One kernel call per
    * row, projected once; NULL text -> NULL metrics and a NULL keep. */
  def gopherQuality(df: DataFrame, idCol: String, textCol: String,
      minWords: Int = 50, maxWords: Int = 100000,
      stopwords: Seq[String] = gopherStopwords): DataFrame = {
    val g = udf(gopherAt(minWords, maxWords, stopwords)).withName("gopher")
    df.select(col(idCol), g(col(textCol)).as("__g"))
      .select(col(idCol), col("__g.*"))
  }

  /** [[gopherQuality]]'s `keep` alone, as ONE boolean Column over the
    * text: one kernel call per row, no metric frame. NULL text yields a
    * NULL verdict, which `filter` drops. For the streaming gate and
    * predicates over a plain column; to filter a frame whose text is
    * computed upstream, use [[gopherFilter]]. */
  def gopherKeep(c: Column, minWords: Int = 50, maxWords: Int = 100000,
      stopwords: Seq[String] = gopherStopwords): Column = {
    val g = gopherAt(minWords, maxWords, stopwords)
    udf((s: String) => Option(g(s)).map(_.keep)).withName("gopher_keep")(c)
  }

  /** The rows of `df` whose text passes every Gopher rule
    * ([[gopherKeep]]), columns and their order untouched. The verdict is
    * projected behind [[Tools.opaqueBool]] and filtered above it: a
    * plain `df.filter(gopherKeep(...))` is pushed below the projection
    * that computes the text, inlining that expression (a PII scrub, an
    * HTML extraction) into the predicate, so it runs twice per row. */
  def gopherFilter(df: DataFrame, textCol: String, minWords: Int = 50,
      maxWords: Int = 100000,
      stopwords: Seq[String] = gopherStopwords): DataFrame = {
    val keep = "__gopher_keep"
    df.withColumn(keep, Tools.opaqueBool(
        gopherKeep(col(textCol), minWords, maxWords, stopwords)))
      .filter(col(keep)).drop(keep)
  }

  // -------------------------------------------------------- PII scrubbing
  /** RE2-compatible PII patterns. Phones require a leading '+' and no
    * dots, so they never overlap emails or IPs; emails and IPs can both
    * match one span when an email's local part is itself IPv4-shaped
    * ("10.0.0.1@x.com" counts once in each category) — acceptable for
    * scrub accounting, and the scrub itself replaces the span once
    * (email first). */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Pattern = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val phonePattern = "\\+[0-9][0-9() -]{6,}[0-9]"

  /** Redact emails, IPv4 addresses, and international-format phone
    * numbers to typed placeholders — the pre-training scrub every public
    * corpus pipeline applies. One chained regexp_replace: codegen'd,
    * row-local, scan speed. */
  def scrubPii(c: Column): Column = {
    val noEmail = regexp_replace(c, emailPattern, "<EMAIL>")
    val noIp = regexp_replace(noEmail, ipv4Pattern, "<IP>")
    regexp_replace(noIp, phonePattern, "<PHONE>")
  }

  /** Per-category PII match counts (on the RAW text — run before
    * [[scrubPii]]). */
  def piiStats(c: Column): (Column, Column, Column) = (
    size(regexp_extract_all(c, lit(emailPattern), lit(0))),
    size(regexp_extract_all(c, lit(ipv4Pattern), lit(0))),
    size(regexp_extract_all(c, lit(phonePattern), lit(0))))

  // ----------------------------------------------- HTML text extraction
  /** HTML → text: step 0 of every web-corpus pipeline (C4 and CCNet
    * both begin from markup-stripped text). The trafilatura-class tag
    * handling is reduced to a deterministic, RE2-portable regexp
    * tower — a pure codegen'd Column chain, row-local, ZERO shuffles at
    * any corpus size, and an oracle can replay it in any engine.
    *
    * Pipeline order matters and is part of the contract:
    * 1. comments, then <script>/<style>/<head> BLOCKS die whole —
    *    before tag stripping, so a '<' inside inline JS can't desync
    *    the tag pattern and head metadata never leaks into text;
    * 2. closing block-level tags and <br> become newlines (paragraph
    *    structure survives extraction — Gopher's bullet/ellipsis line
    *    rules downstream need real lines);
    * 3. every remaining tag is stripped;
    * 4. the five core entities decode, `&amp;` LAST so double-encoded
    *    text ("&amp;lt;") stays literal — the HTML5 spec's own
    *    double-escape semantics;
    * 5. whitespace normalizes: spaces/tabs collapse, blank space
    *    around newlines trims, newline runs collapse to one, ends trim.
    * Non-HTML text passes through with only whitespace normalization
    * (an extractor, not a validator); NULL stays NULL. */
  def extractHtmlText(c: Column): Column = {
    val noComment = regexp_replace(c, "(?s)<!--.*?-->", "")
    val noScript = regexp_replace(noComment, "(?is)<script\\b.*?</script>", "")
    val noStyle = regexp_replace(noScript, "(?is)<style\\b.*?</style>", "")
    val noHead = regexp_replace(noStyle, "(?is)<head\\b.*?</head>", "")
    val blocks = regexp_replace(noHead,
      "(?i)</(?:p|div|li|h[1-6]|tr|table|ul|ol|blockquote|section|article|header|footer)>|<br\\s*/?>",
      "\n")
    val noTags = regexp_replace(blocks, "<[^>]*>", "")
    val ent = regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(regexp_replace(noTags,
        "&nbsp;", " "), "&lt;", "<"), "&gt;", ">"),
        "&quot;", "\""), "&#39;|&apos;", "'"), "&amp;", "&")
    val ws = regexp_replace(regexp_replace(regexp_replace(ent,
      "[ \\t]+", " "), " *\\n *", "\n"), "\\n+", "\n")
    regexp_replace(ws, "^\\s+|\\s+$", "")
  }

  /** The <title> content (entities decoded, whitespace collapsed);
    * empty string when the document has none — same regexp contract as
    * [[extractHtmlText]]. */
  def htmlTitle(c: Column): Column = {
    val t = regexp_extract(c, "(?is)<title[^>]*>(.*?)</title>", 1)
    val ent = regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(regexp_replace(t,
        "&nbsp;", " "), "&lt;", "<"), "&gt;", ">"),
        "&quot;", "\""), "&#39;|&apos;", "'"), "&amp;", "&")
    regexp_replace(regexp_replace(ent, "\\s+", " "), "^ +| +$", "")
  }

  // ------------------------------------------- LM quality (CCNet-style)
  /** Unigram language-model score per document — the public stand-in for
    * CCNet-style perplexity filtering (Wenzek et al. 2020 train a 5-gram
    * KenLM on Wikipedia and bucket documents by perplexity; a unigram LM
    * keeps the same shape — reference corpus → per-token log-probs →
    * mean per doc — with oracle-checkable arithmetic). Returns
    * (id, n_tok, logprob) where logprob is the mean base-10 log of each
    * token's Laplace-smoothed probability (cnt+1)/(total+V); higher =
    * more typical of the reference corpus. Docs with no tokens keep a
    * NULL logprob (the caller's length filter owns those).
    *
    * Determinism: each vocab entry's log is quantized ONCE to integer
    * 1e-4 units in the LM table; per-doc aggregation then sums longs
    * (order-free) and divides at the end — bit-identical across
    * partitionings, the match join's IDF trick. Across ENGINES the
    * guarantee is probabilistic: two libms may differ by an ulp on
    * log10, which flips floor() only when log10(p)*1e4 lands within
    * ~1e-12 of an integer — measure-zero in practice but not impossible
    * on an adversarial vocabulary.
    *
    * Scale shape: the LM build is one map-side-combined count (vocab-
    * sized result); scoring explodes tokens (narrow) and equi-joins the
    * LM on token — vocab tables are MBs for natural language, so the
    * join broadcasts under AQE; if a tokenizer explodes the vocab past
    * broadcast range it degrades to a shuffle join on the token key and
    * AQE's skew split handles the Zipf head. One shuffle for the per-doc
    * mean, keyed on the doc id. */
  /** Unigram LM (token → count) over a reference corpus — the build side
    * of [[unigramLogProb]]. One map-side-combined aggregate; the result
    * is vocab-sized regardless of corpus size. */
  def unigramLm(df: DataFrame, textCol: String,
      lowercase: Boolean = true): DataFrame = {
    val c = if (lowercase) lower(col(textCol)) else col(textCol)
    df.select(explode(Tools.tokenize(c)).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
  }

  def unigramLogProb(df: DataFrame, idCol: String, textCol: String,
      lm: DataFrame, lowercase: Boolean = true): DataFrame = {
    require(lm.columns.toSeq.contains("token") && lm.columns.toSeq.contains("cnt"),
      s"lm needs (token, cnt) columns, got ${lm.columns.mkString(", ")}")
    // the LM feeds two consumers (totals + the per-token table); cache
    // the VOCAB-SIZED aggregate so a derived LM pipeline (a full corpus
    // scan when built by unigramLm) doesn't execute twice — the same
    // double-execution hazard the match join documents.
    val lmP = graft.engine.CacheScope.cache(lm)
    // corpus totals ride the plan as a broadcast one-row aggregate (no
    // eager action at plan-build); an EMPTY reference LM would silently
    // null every score, so the totals row fails the job loudly instead.
    // __chk MUST be consumed downstream — Catalyst's ColumnPruning drops
    // unreferenced project aliases regardless of side effects, which
    // would optimize an un-consumed assert_true clean out of the plan.
    val totals = broadcast(lmP.agg(
        sum(col("cnt")).as("__total"), count(lit(1)).as("__v"))
      .select(col("__total"), col("__v"),
        assert_true(col("__v") > 0,
          lit("unigramLogProb: the reference LM has no tokens")).as("__chk")))
    val qlm = lmP.crossJoin(totals).select(col("token"),
      floor(log10((col("cnt") + 1).cast("double") / (col("__total") + col("__v")))
        * 10000).cast("long").as("__qlp"))
    val c = if (lowercase) lower(col(textCol)) else col(textCol)
    // explode_outer keeps token-free docs as a single null-token row, so
    // ONE per-id aggregation serves every doc — no distinct + join-back
    val toks = df.select(col(idCol), explode_outer(Tools.tokenize(c)).as("token"))
    // left join: out-of-vocabulary tokens take the Laplace floor 1/(total+V)
    val oov = floor(log10(lit(1.0) / (col("__total") + col("__v"))) * 10000)
      .cast("long")
    // the trailing __chk coalesce arm keeps the empty-LM assert alive in
    // the plan while never evaluating it on the happy path (coalesce is
    // lazy; with a non-empty LM either __qlp or oov is non-null first).
    // On an EMPTY LM both are null — __qlp has no match and oov's
    // log10(1/(null+0)) nulls — so evaluation reaches the assert and the
    // job fails loudly. The null-token branch reads __chk directly: the
    // assert yields null on success, which is exactly that branch's value.
    val chk = col("__chk").cast("long")
    toks
      // STATIC broadcast of the quantized LM: the vocab table is the
      // declared-small artifact (natural-language vocab = MBs at any
      // corpus size — same class as codebooks/centroids). Relying on
      // AQE's late SMJ→BHJ flip instead lets the static planner put an
      // exchange under the corpus token stream, and that write is
      // already materialized by flip time — measured 510 MB of shuffle
      // for a 1M-doc corpus (LmDbg harness, round 9; the q68 verdict
      // join pathology). With the hint the token stream never leaves
      // its scan stage; only the per-doc aggregate shuffles.
      .join(broadcast(qlm), Seq("token"), "left")
      .crossJoin(totals)
      .select(col(idCol),
        when(col("token").isNull, chk)
          .otherwise(coalesce(col("__qlp"), oov, chk)).as("__qlp"))
      .groupBy(idCol)
      // count(col) skips nulls: token-free docs score (0, NULL)
      .agg(count(col("__qlp")).cast("int").as("n_tok"),
        sum(col("__qlp")).as("__s"), count(col("__qlp")).as("__n"))
      // the 4-decimal rounding happens in INTEGER space: the quantized
      // sum is already ×10⁴, so round-half-away(s/n) over longs IS the
      // 4dp result, and the one trailing /10⁴ is exact. The former
      // double spelling round(s/n/10⁴, 4) sat on engine-specific
      // half-boundary behavior — 11 of 5,000 docs at sf0.1 differed
      // from the DuckDB oracle in the last decimal. Operands are made
      // positive first so integer division truncates identically in
      // every engine.
      .withColumn("logprob", round(expr(
        """CASE WHEN __n > 0 THEN
          |  CAST(CASE WHEN __s < 0 THEN -(((-__s)*2 + __n) DIV (__n*2))
          |       ELSE ((__s*2 + __n) DIV (__n*2)) END AS DOUBLE) / 10000.0
          |END""".stripMargin), 4))
      .drop("__s", "__n")
  }

  /** Bigram LM (w_prev, w → count) over a reference corpus — the build
    * side of [[bigramLogProb]]. Adjacent-token pairs per doc, one
    * map-side-combined aggregate; the result is bounded by distinct
    * ADJACENT pairs (vocab-bounded for a declared-small reference
    * corpus — wiki-sized, the CCNet reference-LM contract — not built
    * over the 100-TB corpus being scored). */
  /** Adjacent-element pairs of a string array as array<struct<a, b>> —
    * the overlapping zip [[bigramLm]] and [[bpeTrain]] share. Safe on
    * short arrays: below 2 elements it yields an EMPTY array — never
    * `sequence(1, 0)`, which generates DESCENDING and would index
    * element 0 (an ANSI error). One definition so the guard cannot be
    * fixed in one consumer and silently missed in the other. */
  private def adjacentPairs(toks: Column): Column =
    when(size(toks) >= 2,
      transform(sequence(lit(1), size(toks) - 1),
        i => struct(element_at(toks, i).as("a"),
          element_at(toks, i + 1).as("b"))))
      .otherwise(array().cast("array<struct<a:string,b:string>>"))

  def bigramLm(df: DataFrame, textCol: String,
      lowercase: Boolean = true): DataFrame = {
    val c = if (lowercase) lower(col(textCol)) else col(textCol)
    df.select(explode(adjacentPairs(Tools.tokenize(c))).as("p"))
      .groupBy(col("p.a").as("w_prev"), col("p.b").as("w"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Interpolated bigram LM score — [[unigramLogProb]] at order 2:
    * p(w_i | w_{i-1}) = λ·c(w_{i-1},w_i)/c(w_{i-1}·) + μ·p_uni(w_i)
    * with μ = 1−λ and p_uni the Laplace-smoothed unigram (cnt+1)/(T+V);
    * the first token of a doc scores pure p_uni. λ arrives in basis
    * points so both engines derive the double THE SAME WAY (int ratio →
    * one correctly-rounded division — never `1 - λ`, whose result
    * differs from a literal `0.1` in the last ulp).
    *
    * Every log is quantized in LM-TABLE space (per distinct pair /
    * word), exactly the q59 discipline: the corpus-side joins pick
    * precomputed longs, per-doc sums are order-free, and the 4-decimal
    * mean rounds in integer space. Unseen pairs fall back to μ·p_uni
    * (the λ-term is zero); OOV words take the μ-scaled Laplace floor.
    *
    * Scale shape: two LM-sized builds (pair table + its history
    * marginal), both static-broadcast to the token stream (the
    * declared-small reference-LM contract, q59's measured lesson); the
    * corpus explodes tokens row-local and shuffles once on the doc id
    * for the mean. */
  def bigramLogProb(df: DataFrame, idCol: String, textCol: String,
      uniLm: DataFrame, biLm: DataFrame, lambdaBp: Int = 9000,
      lowercase: Boolean = true): DataFrame = {
    // λ = 1 (pure bigram) would put log10(0) = -Inf on every unseen
    // pair and OOV word — Long.MinValue after the floor-cast, a silent
    // score poison. Interpolation exists to keep the distribution
    // proper; demand a non-zero unigram share.
    require(lambdaBp >= 0 && lambdaBp <= 9999,
      s"bigramLogProb: lambdaBp must be in [0, 9999], got $lambdaBp")
    require(uniLm.columns.toSeq.contains("token") && uniLm.columns.toSeq.contains("cnt"),
      s"uniLm needs (token, cnt), got ${uniLm.columns.mkString(", ")}")
    require(Seq("w_prev", "w", "cnt").forall(biLm.columns.toSeq.contains),
      s"biLm needs (w_prev, w, cnt), got ${biLm.columns.mkString(", ")}")
    val lam = lit(lambdaBp / 10000.0)
    val mu = lit((10000 - lambdaBp) / 10000.0)
    val uniP = graft.engine.CacheScope.cache(uniLm)
    val biP = graft.engine.CacheScope.cache(biLm)
    val totals = broadcast(uniP.agg(
        sum(col("cnt")).as("__total"), count(lit(1)).as("__v"))
      .select(col("__total"), col("__v"),
        assert_true(col("__v") > 0,
          lit("bigramLogProb: the unigram LM has no tokens")).as("__chk")))
    val pUni = (col("cnt") + 1).cast("double") / (col("__total") + col("__v"))
    // per-word longs: first-token log p_uni AND the μ-scaled fallback
    val quni = uniP.crossJoin(totals).select(col("token"),
      floor(log10(pUni) * 10000).cast("long").as("__qu"),
      floor(log10(mu * pUni) * 10000).cast("long").as("__qu_mix"))
    // per-pair longs: full interpolation (history marginal from the
    // pair table itself; the unigram term joins by the pair's SECOND
    // word — LM-sized work, never corpus-sized)
    val hist = biP.groupBy("w_prev").agg(sum(col("cnt")).as("__hcnt"))
    val qbi = biP.join(hist, Seq("w_prev"))
      .join(uniP.select(col("token").as("w"), col("cnt").as("__ucnt")),
        Seq("w"), "left")
      .crossJoin(totals)
      .select(col("w_prev"), col("w"),
        floor(log10(
          lam * (col("cnt").cast("double") / col("__hcnt")) +
          mu * ((coalesce(col("__ucnt"), lit(0L)) + 1).cast("double") /
            (col("__total") + col("__v"))))
          * 10000).cast("long").as("__qb"))
    val c = if (lowercase) lower(col(textCol)) else col(textCol)
    val oovFirst = floor(log10(lit(1.0) / (col("__total") + col("__v")))
      * 10000).cast("long")
    val oovMix = floor(log10(mu / (col("__total") + col("__v")))
      * 10000).cast("long")
    val chk = col("__chk").cast("long")
    df.select(col(idCol), Tools.tokenize(c).as("__arr"))
      .select(col(idCol), col("__arr"),
        posexplode_outer(col("__arr")).as(Seq("__i", "w")))
      .withColumn("w_prev",
        when(col("__i") >= 1, element_at(col("__arr"), col("__i"))))
      .drop("__arr")
      .join(broadcast(qbi), Seq("w_prev", "w"), "left")
      .join(broadcast(quni), quni("token") === col("w"), "left")
      .crossJoin(totals)
      .select(col(idCol),
        when(col("w").isNull, chk) // token-free doc: null row, null score
          .otherwise(when(col("w_prev").isNull,
            coalesce(col("__qu"), oovFirst, chk))
          .otherwise(coalesce(col("__qb"), col("__qu_mix"), oovMix, chk)))
          .as("__qlp"))
      .groupBy(idCol)
      .agg(count(col("__qlp")).cast("int").as("n_tok"),
        sum(col("__qlp")).as("__s"), count(col("__qlp")).as("__n"))
      .withColumn("logprob", round(expr(
        """CASE WHEN __n > 0 THEN
          |  CAST(CASE WHEN __s < 0 THEN -(((-__s)*2 + __n) DIV (__n*2))
          |       ELSE ((__s*2 + __n) DIV (__n*2)) END AS DOUBLE) / 10000.0
          |END""".stripMargin), 4))
      .drop("__s", "__n")
  }

  /** DSIR-style importance weights (Xie et al. 2023, arXiv:2302.03169,
    * "Data Selection for Language Models via Importance Resampling"):
    * score each doc by how much more likely its tokens are under a
    * TARGET-domain unigram LM than under the raw REFERENCE LM —
    * log w(x) = Σ_t [log p_target(t) − log p_ref(t)] — the importance
    * statistic behind domain-targeted pretraining selection. The
    * paper's hashed n-gram features reduce to unigrams at n = 1; both
    * LMs are (token, cnt) tables (typically [[unigramLm]]). The log
    * quantization contract is [[unigramLogProb]]'s exactly —
    * floor(log10 · 10⁴) longs with a Laplace OOV floor per LM — so the
    * weight is a LONG in 10⁻⁴ log10 units and every engine computes it
    * bit-identically (the q59 playbook). Token-free docs get NULL
    * weight (nothing to score — rank them last, don't fake a zero).
    *
    * Scale: both LMs are vocab-sized aggregates (declared-small);
    * totals ride one-row broadcasts; the token stream joins the two
    * LM tables (AQE broadcasts them) and aggregates per doc — one
    * doc-id shuffle, map-side combined. */
  def dsirWeights(df: DataFrame, idCol: String, textCol: String,
      targetLm: DataFrame, referenceLm: DataFrame,
      lowercase: Boolean = true): DataFrame = {
    Seq("target" -> targetLm, "reference" -> referenceLm).foreach { case (n, lm) =>
      require(lm.columns.toSeq.contains("token") && lm.columns.toSeq.contains("cnt"),
        s"dsirWeights: $n LM needs (token, cnt) columns, got ${lm.columns.mkString(", ")}")
    }
    val lmT = graft.engine.CacheScope.cache(targetLm)
    val lmR = graft.engine.CacheScope.cache(referenceLm)
    // per-LM totals as one-row broadcasts, with unigramLogProb's
    // empty-LM assert (and the same keep-the-assert-alive coalesce
    // plumbing — ColumnPruning drops unreferenced side effects)
    def totalsOf(lm: DataFrame, tag: String) = broadcast(lm.agg(
        sum(col("cnt")).as(s"__total_$tag"), count(lit(1)).as(s"__v_$tag"))
      .select(col(s"__total_$tag"), col(s"__v_$tag"),
        assert_true(col(s"__v_$tag") > 0,
          lit(s"dsirWeights: the ${if (tag == "t") "target" else "reference"} " +
            "LM has no tokens")).as(s"__chk_$tag")))
    val totT = totalsOf(lmT, "t")
    val totR = totalsOf(lmR, "r")
    def qlpOf(lm: DataFrame, tot: DataFrame, tag: String) =
      lm.crossJoin(tot).select(col("token"),
        floor(log10((col("cnt") + 1).cast("double") /
            (col(s"__total_$tag") + col(s"__v_$tag"))) * 10000)
          .cast("long").as(s"__qlp_$tag"))
    val qT = qlpOf(lmT, totT, "t")
    val qR = qlpOf(lmR, totR, "r")
    def oovOf(tag: String) =
      floor(log10(lit(1.0) / (col(s"__total_$tag") + col(s"__v_$tag"))) * 10000)
        .cast("long")
    val c = if (lowercase) lower(col(textCol)) else col(textCol)
    val toks = df.select(col(idCol), explode_outer(Tools.tokenize(c)).as("token"))
    val chk = coalesce(col("__chk_t").cast("long"), col("__chk_r").cast("long"))
    toks
      // static broadcasts for the same reason as unigramLogProb's qlm
      // join (vocab-sized declared-small tables; AQE's flip is too late
      // to save the token-stream exchange write)
      .join(broadcast(qT), Seq("token"), "left")
      .join(broadcast(qR), Seq("token"), "left")
      .crossJoin(totT).crossJoin(totR)
      .select(col(idCol),
        when(col("token").isNull, chk)
          .otherwise(coalesce(col("__qlp_t"), oovOf("t"), chk) -
            coalesce(col("__qlp_r"), oovOf("r"), chk)).as("__w"))
      .groupBy(idCol)
      .agg(count(col("__w")).cast("int").as("n_tok"),
        sum(col("__w")).as("dsir_logw_q"))
  }

  /** Deterministic DSIR selection: the k highest-importance docs
    * (weight desc, id asc — a total order; NULL-weight token-free docs
    * rank last and never displace a scored doc). The paper resamples
    * with Gumbel noise; top-k is the deterministic variant of the same
    * ranking statistic — and the only one an independent oracle can
    * replay (Gumbel keys need exp/log on engine-specific doubles,
    * exactly what the quantized-integer playbook exists to avoid).
    * TakeOrdered physicalizes as per-partition heaps + a k-row driver
    * merge — never a global sort. */
  def dsirSelect(df: DataFrame, idCol: String, textCol: String,
      targetLm: DataFrame, referenceLm: DataFrame, k: Int,
      lowercase: Boolean = true): DataFrame = {
    require(k >= 1, s"dsirSelect needs k >= 1, got $k")
    dsirWeights(df, idCol, textCol, targetLm, referenceLm, lowercase)
      .orderBy(col("dsir_logw_q").desc_nulls_last, col(idCol))
      .limit(k)
  }

  // -------------------------------------------------- vocabulary top-k
  /** Corpus-wide token frequency top-k — the tokenizer-training /
    * vocabulary-audit primitive. Tie-broken (count desc, token asc) so
    * the result is deterministic.
    *
    * Scale shape: explode is narrow; the count is ONE shuffle with
    * map-side partial aggregation (the combiner collapses each
    * partition to its local vocab before anything moves — for natural
    * language, KBs per partition regardless of corpus size); the top-k
    * is TakeOrdered over the vocab-sized aggregate (per-partition heaps
    * + a driver merge of k-row slices), never a global sort. */
  def vocabTopK(df: DataFrame, textCol: String, k: Int = 1000,
      lowercase: Boolean = true): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val c = if (lowercase) lower(col(textCol)) else col(textCol)
    df.select(explode(Tools.tokenize(c)).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc)
      .limit(k)
  }

  /** Tokenizer-vocabulary coverage audit — the pre-training validation
    * step: per doc, how much of its token stream a vocabulary covers.
    * One row per input doc: (id, n_tokens, n_oov, oov_bp) with oov_bp =
    * n_oov·10⁴ div n_tokens in exact integer basis points; docs
    * yielding no tokens keep a row with zeros and a NULL oov_bp (a
    * no-token doc has no coverage to report — NULL, not 0 or 10⁴, the
    * unknown ≠ verdict contract).
    *
    * Scale shape: the vocabulary is the declared-small artifact (a
    * tokenizer vocab — [[vocabTopK]] / [[bpeVocab]] output) and
    * BROADCASTS; the token stream is flagged map-side and
    * partial-aggregates into ONE doc-id exchange — no token ever
    * shuffles. Token spelling is vocabTopK's exactly (lowercase +
    * tokenize, no empty-token filter), so a vocabulary built there
    * covers precisely what this audits. */
  def vocabCoverage(df: DataFrame, idCol: String, textCol: String,
      vocab: DataFrame, symCol: String = "token",
      lowercase: Boolean = true): DataFrame = {
    val c = if (lowercase) lower(col(textCol)) else col(textCol)
    val toks = df.select(col(idCol), explode(Tools.tokenize(c)).as("__tok"))
    val v = broadcast(vocab
      .select(col(symCol).cast("string").as("__tok")).distinct()
      .withColumn("__in", lit(1)))
    val per = toks.join(v, Seq("__tok"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov"))
    df.select(col(idCol)).distinct()
      .join(per, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"))
      .withColumn("oov_bp",
        when(col("n_tokens") > 0, expr("(n_oov * 10000L) div n_tokens")))
  }

  // --------------------------------------------------------- BPE training
  /** Separator between BPE symbols inside a word's state string — '~'
    * is outside the normalized alphabet `[0-9a-z ]`, so a symbol
    * boundary can never be confused with symbol content (and '~' is a
    * regex-literal char, so both engines split on it verbatim). */
  val bpeSep = "~"

  /** Train `merges` BPE merge rounds over the corpus (Sennrich et al.
    * 2016) and return the ordered merge table — the tokenizer-training
    * primitive on top of which [[vocabTopK]]'s word counts become a
    * subword vocabulary. Round semantics (identical in the q97 oracle,
    * which replays every round in DuckDB):
    *   - pair counts are the ADJACENT-SYMBOL zip per word, weighted by
    *     word frequency (overlapping: "aaa" holds two (a,a) pairs);
    *   - the winner is max count, ties broken by (left, right)
    *     ascending — a total order both engines collate identically on
    *     the lowercase-alnum alphabet;
    *   - the merge applies LEFT-TO-RIGHT, rescanning against the newly
    *     merged symbol ("abab" + (a,b) → [ab, ab]; "aaa" + (a,a) →
    *     [aa, a]) — the reference BPE scan, expressed as one
    *     sequential fold both engines run as a row-local lambda
    *     ([[bpeMergeApply]]).
    *
    * The 100-TB shape: the corpus is touched ONCE (token explode →
    * map-side-combined word-frequency agg, the [[vocabTopK]] shuffle);
    * every merge round then runs on the WORD table — vocabulary-sized
    * by Heaps' law, millions of rows at web scale, not corpus-sized.
    * From there the rounds run in one of two regimes, split on the
    * word-table row count (the standard industrial split — a real 32k-
    * merge vocabulary is 32k strictly SEQUENTIAL rounds, and 32k Spark
    * jobs is days of scheduler latency even on a warm cluster):
    *   - `≤ localThreshold` rows: the whole word table collects ONCE
    *     and the merge loop runs driver-side ([[bpeTrainLocal]] —
    *     incremental pair-count maintenance + a lazy-invalidation
    *     heap, so 32k rounds touch only the words each merge changes).
    *     1M words ≈ tens of MB: the same declared-small budget as a
    *     collected codebook. Bit-identical to the distributed regime
    *     by construction (same counts, same (cnt desc, pair asc)
    *     winner — the alphabet is normalized ASCII, where JVM string
    *     order and Spark's UTF-8 binary order coincide) and pinned so
    *     by CurationSpec, while q97 (forced distributed) and q100
    *     (default, local) keep BOTH regimes under the driver oracle.
    *   - above it: per-round Spark jobs over the cached word table,
    *     each round's winning pair (ONE row) collected exactly like a
    *     k-means iteration collects centroid stats — the regime for a
    *     word table that outgrows the driver.
    * Stops early when no adjacent pair is left to merge. */
  def bpeTrain(df: DataFrame, textCol: String, merges: Int,
      localThreshold: Long = 1000000L): DataFrame = {
    require(merges >= 1, s"bpeTrain needs merges >= 1, got $merges")
    val spark = df.sparkSession
    val words = df
      .select(explode(Tools.tokenize(Tools.normalize(col(textCol)))).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(rtrim(regexp_replace(col("w"), "(.)", "$1" + bpeSep), bpeSep)
        .as("s"), col("freq"))
    var cur = words.cache()
    if (cur.count() <= localThreshold) {
      val collected = try cur.collect()
        .map(r => (r.getString(0).split(bpeSep), r.getLong(1)))
        finally cur.unpersist()
      return resultDf(spark, bpeTrainLocal(collected, merges))
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    try {
      for (r <- 0 until merges) {
        val best = cur
          .select(col("freq"),
            explode(adjacentPairs(split(col("s"), bpeSep))).as("p"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(sum(col("freq")).as("cnt"))
          .orderBy(col("cnt").desc, col("a"), col("b"))
          .limit(1).collect()
        if (best.isEmpty) return resultDf(spark, out.toSeq)
        val (a, b, cnt) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        out += ((r, a, b, a + b, cnt))
        if (r < merges - 1) { // the last winner needs no merged table
          // localCheckpoint, not cache: each round's table derives from
          // the last, and a cached-only chain accretes one nested plan
          // per round — by a few dozen rounds the lineage string alone
          // OOMs the driver (AQE re-explains the full tree per stage).
          // Eager localCheckpoint cuts the plan to a LogicalRDD each
          // round (the GraphX/Pregel iteration pattern); superseded
          // checkpoint blocks are freed by the ContextCleaner once the
          // previous round's reference drops.
          val next = cur.select(bpeMergeApply(col("s"), a, b).as("s"), col("freq"))
            .localCheckpoint(true)
          cur.unpersist()
          cur = next
        }
      }
      resultDf(spark, out.toSeq)
    } finally cur.unpersist()
  }

  private def resultDf(spark: org.apache.spark.sql.SparkSession,
      rows: Seq[(Int, String, String, String, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("round", "pair_left", "pair_right", "merged", "cnt")
  }

  /** Driver-side merge loop over a collected word-frequency table —
    * the many-merges regime of [[bpeTrain]] (semantics identical to
    * the distributed rounds; see the contract there). Not a naive
    * rescan: pair counts are maintained INCREMENTALLY (a merge
    * re-scans only the words that contain its pair, found through a
    * pair→words index), and the winner comes off a lazy-invalidation
    * max-heap — a snapshot (cnt, a, b) is pushed on every count
    * change and popped entries are discarded unless they still equal
    * the live count, so each round costs O(changed words · log)
    * instead of O(vocabulary). This is what makes 32k sequential
    * merges minutes of driver CPU rather than 32k cluster jobs.
    *
    * Stale tolerance: the pair→words index is add-only per round; a
    * listed word that no longer contains the pair nets zero (its
    * pairs are subtracted and re-added unchanged). The winning pair
    * itself cannot survive its own merge round (left-to-right rescan
    * eliminates every adjacency — the PropertiesSpec pair-elimination
    * property), so its stale heap snapshots all invalidate. */
  private def bpeTrainLocal(words: Array[(Array[String], Long)],
      merges: Int): Seq[(Int, String, String, String, Long)] = {
    import scala.collection.mutable
    val syms = words.map(w => mutable.ArrayBuffer.from(w._1))
    val freq = words.map(_._2)
    val pairCnt = mutable.HashMap.empty[(String, String), Long]
    val pairWords = mutable.HashMap.empty[(String, String), mutable.HashSet[Int]]
    // max by cnt, ties by (a, b) ASCENDING — the exact Spark
    // (cnt desc, a, b) order; safe on the normalized ASCII alphabet
    val ord: Ordering[(Long, String, String)] =
      new Ordering[(Long, String, String)] {
        override def compare(x: (Long, String, String), y: (Long, String, String)): Int = {
          val c = java.lang.Long.compare(x._1, y._1)
          if (c != 0) c
          else {
            val ca = y._2.compareTo(x._2)
            if (ca != 0) ca else y._3.compareTo(x._3)
          }
        }
      }
    val heap = mutable.PriorityQueue.empty[(Long, String, String)](ord)
    def scanPairs(i: Int, sign: Long, register: Boolean): Unit = {
      val s = syms(i)
      var j = 0
      while (j < s.length - 1) {
        val p = (s(j), s(j + 1))
        val c = pairCnt.getOrElse(p, 0L) + sign * freq(i)
        if (c <= 0L) pairCnt.remove(p)
        else {
          pairCnt(p) = c
          heap.enqueue((c, p._1, p._2))
        }
        if (register) pairWords.getOrElseUpdate(p, mutable.HashSet.empty) += i
        j += 1
      }
    }
    for (i <- words.indices) scanPairs(i, +1L, register = true)
    val out = mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    var r = 0
    var dry = false
    while (r < merges && !dry) {
      // pop until a snapshot matches the live count (every live count
      // has a snapshot — one is pushed at the moment it is set)
      var winner: Option[(Long, String, String)] = None
      while (winner.isEmpty && heap.nonEmpty) {
        val t = heap.dequeue()
        if (pairCnt.get((t._2, t._3)).contains(t._1)) winner = Some(t)
      }
      winner match {
        case None => dry = true // no adjacent pair left anywhere
        case Some((cnt, a, b)) =>
          out += ((r, a, b, a + b, cnt))
          if (r < merges - 1) {
            val affected = pairWords.remove((a, b))
              .map(_.toArray).getOrElse(Array.empty)
            java.util.Arrays.sort(affected) // determinism of index adds
            for (i <- affected) {
              scanPairs(i, -1L, register = false)
              val s = syms(i)
              val merged = new mutable.ArrayBuffer[String](s.length)
              var j = 0
              while (j < s.length) {
                if (merged.nonEmpty && merged.last == a && s(j) == b)
                  merged(merged.length - 1) = a + b
                else merged += s(j)
                j += 1
              }
              syms(i) = merged
              scanPairs(i, +1L, register = true)
            }
          }
          r += 1
      }
    }
    out.toSeq
  }

  /** The finished tokenizer artifact: base symbols (the corpus's
    * distinct normalized characters, ids in symbol order) followed by
    * [[bpeTrain]]'s merged symbols in training order — the (id, token)
    * table a serving stack loads. Both pieces are declared-small
    * (≤ 36-char normalized alphabet; `merges` rows), so the table
    * assembles driver-side like the merge table itself; the corpus
    * work is bpeTrain's one scan plus one distinct-char aggregate.
    *
    * Identity contract: `tok_id` is the key, `symbol` is NOT unique —
    * two rounds' merges can concatenate to the same string (e.g.
    * (a,bc) then (ab,c) both spell "abc"; a token's identity is its
    * merge SEQUENCE, which is why segmentation applies the merge list
    * in order rather than matching vocab strings). A loader that wants
    * a symbol→id map must keep the FIRST (lowest tok_id) occurrence —
    * that is the entry [[bpeMergeApply]]'s in-order scan can actually
    * produce; later duplicates are unreachable strings. Base symbols
    * can never collide with merges (1 char vs ≥ 2). */
  def bpeVocab(df: DataFrame, textCol: String, merges: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val mergeRows = bpeTrain(df, textCol, merges).collect()
      .map(r => (r.getInt(0), r.getString(3)))
    val baseChars = df
      .select(explode(Tools.tokenize(Tools.normalize(col(textCol)))).as("w"))
      .select(explode(split(col("w"), "")).as("ch"))
      .filter(col("ch") =!= "").distinct()
      .collect().map(_.getString(0)).sorted
    val rows = baseChars.zipWithIndex.map { case (c, i) =>
      (i.toLong, c, "base")
    } ++ mergeRows.sortBy(_._1).map { case (r, sym) =>
      ((baseChars.length + r).toLong, sym, "merge")
    }
    rows.toSeq.toDF("tok_id", "symbol", "kind")
  }

  /** Apply ONE merge (a, b) → a+b to a [[bpeSep]]-joined symbol string:
    * a sequential fold where the merge fires whenever the accumulated
    * string's LAST symbol is `a` and the incoming symbol is `b` — when
    * it fires the separator is simply omitted, because removing the
    * trailing `a` and appending `a+b` IS appending bare `b`. The
    * suffix test anchors on a leading separator (or the whole string),
    * so a symbol merely ENDING in `a` can never false-positive. */
  def bpeMergeApply(s: Column, a: String, b: String): Column =
    aggregate(split(s, bpeSep), lit(""), (acc, x) =>
      when(acc === "", x).otherwise(concat(acc,
        when((acc === a || acc.endsWith(bpeSep + a)) && x === b, lit(""))
          .otherwise(lit(bpeSep)),
        x)))

  /** `a div b` in LONG arithmetic (Catalyst IntegralDivide) — `/` on
    * Columns is DOUBLE division, inexact past 2^53. */
  private def ldiv(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      new org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        org.apache.spark.sql.GraftBridge.expression(a),
        org.apache.spark.sql.GraftBridge.expression(b)))

  /** Tokenize the corpus with a TRAINED vocabulary — the inference
    * side that completes train ([[bpeTrain]]) → artifact ([[bpeVocab]])
    * → ENCODE. Trains `merges` rounds (collecting the declared-small
    * merge table exactly like [[bpeVocab]] does), then segments every
    * document row-locally through [[graft.functions.BpeCodec]] (the
    * merges applied strictly in order, bit-identical to the
    * [[bpeMergeApply]] fold). Output per input row:
    *   - `n_words`    — normalized word count (INT);
    *   - `n_chars_sym`— pre-merge symbol count = summed word lengths;
    *   - `n_subwords` — post-merge token count (what a trainer bills);
    *   - `compression_bp` — chars-per-token in basis points,
    *     `n_chars_sym·10000 div n_subwords` in pure LONG arithmetic
    *     (the tokenizer-fertility dial; NULL for wordless docs);
    *   - `toks`       — the space-joined subword SEQUENCE (order
    *     preserved across words), '' for wordless docs.
    * NULL/blank text rows stay in the output with zero counts — a
    * curation pipeline filters on the counts, it does not lose rows.
    *
    * 100-TB shape: training cost is [[bpeTrain]]'s (one corpus scan +
    * vocab-sized rounds); encoding is ONE row-local scan pass — no
    * shuffle, no join — with per-executor distinct-word memoization
    * ([[graft.functions.BpeCodec]]), so encode cost is ∝ corpus tokens
    * for the scan plus ∝ vocabulary for the actual merge work. */
  def bpeEncode(df: DataFrame, idCol: String, textCol: String,
      merges: Int, localThreshold: Long = 1000000L): DataFrame = {
    val mergeList = bpeTrain(df.select(col(textCol)), textCol, merges,
        localThreshold)
      .collect().sortBy(_.getInt(0))
      .map(r => (r.getString(1), r.getString(2))).toSeq
    // layered selects, NOT one: the word/segmentation arrays feed 5
    // output columns each, and higher-order exprs run interpreted
    // (CodegenFallback) — inlined, the tokenize+segment tree would
    // re-evaluate per consumer. CollapseProject's expensive-expression
    // guard keeps multi-use non-cheap aliases as separate projections,
    // so each array materializes ONCE per row.
    val words = coalesce(Tools.tokenize(Tools.normalize(col(textCol))),
      array().cast("array<string>"))
    val segCol = transform(col("__bpe_w"), w =>
      graft.functions.NativeExpressions.bpeSegmentWord(w, mergeList, bpeSep))
    val nChars = aggregate(col("__bpe_w"), lit(0L), (acc, w) =>
      acc + length(w).cast("long"))
    val nSub = aggregate(col("__bpe_s"), lit(0L), (acc, s) =>
      acc + size(split(s, bpeSep)).cast("long"))
    df.select(col(idCol), words.as("__bpe_w"))
      .select(col(idCol), col("__bpe_w"), segCol.as("__bpe_s"))
      .select(col(idCol), col("__bpe_w"), col("__bpe_s"),
        nChars.as("__bpe_nc"), nSub.as("__bpe_ns"))
      .select(col(idCol),
        size(col("__bpe_w")).cast("int").as("n_words"),
        col("__bpe_nc").as("n_chars_sym"),
        col("__bpe_ns").as("n_subwords"),
        when(col("__bpe_ns") > 0,
          ldiv(col("__bpe_nc") * 10000L, col("__bpe_ns")))
          .as("compression_bp"),
        array_join(transform(col("__bpe_s"),
          s => replace(s, lit(bpeSep), lit(" "))), " ").as("toks"))
  }

  // ------------------------------------------------------ sequence packing
  /** GPT-style concat-and-chunk sequence packing: within each `shardCol`
    * partition, documents ordered by `idCol` are conceptually
    * concatenated and split every `budget` tokens; a document belongs to
    * the sequence containing its FIRST token (long documents straddle
    * boundaries and the downstream tokenizer consumes the overflow —
    * exactly the concat-then-chunk contract pre-training pipelines use,
    * so utilization is 100% by construction). Output: one row per
    * non-empty document with (`n_tokens`, shard-local `seq_id`,
    * `seq_offset` = position of the doc's first token inside its
    * sequence). Empty/NULL documents pack nowhere and are dropped.
    *
    * Scale shape: ONE shuffle on `shardCol`, then a per-shard running
    * sum — parallelism equals shard cardinality, so shard by
    * source/lang/input-file the way a real pipeline does (or pre-bucket
    * by a hash of the id when a corpus lacks natural shards). The
    * within-shard order dependency is inherent to packing, not to this
    * implementation; there is no global sort anywhere. */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
      budget: Int, shardCol: String): DataFrame = {
    require(budget >= 1, s"packSequences: budget must be >= 1, got $budget")
    // the output schema owns these names; an id/shard column reusing one
    // would alias-collide inside the plan — fail loudly up front
    val reserved = Set("n_tokens", "tok_start", "seq_id", "seq_offset")
    Seq(idCol, shardCol).filter(reserved).foreach { c =>
      sys.error(s"packSequences: column '$c' collides with a reserved " +
        s"output column (${reserved.mkString(", ")}) — rename it first")
    }
    val W = org.apache.spark.sql.expressions.Window
    val w = W.partitionBy(col(shardCol)).orderBy(col(idCol))
      .rowsBetween(W.unboundedPreceding, -1)
    df.select(col(idCol), col(shardCol),
        TextAnalysis.tokenCount(col(textCol)).cast("long").as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .withColumn("tok_start",
        coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col(idCol), col(shardCol), col("n_tokens"),
        expr(s"tok_start DIV $budget").as("seq_id"),
        expr(s"tok_start % $budget").as("seq_offset"))
  }

  /** Exact top-fraction selection — "keep the best X% by quality score"
    * (the FineWeb-Edu / classifier-threshold curation step): exactly
    * k = n·bp div 10000 rows survive (bp = frac in basis points,
    * quantized at plan build; n = rows with a non-NULL score), ranked
    * by (score desc, id asc) — a total order, so any engine reproduces
    * the same set. NULL-score rows are excluded from both n and the
    * output: an unscorable row cannot be "top X%"; score it or keep it
    * by policy upstream.
    *
    * The 100-TB shape — and why this is NOT a global sort or a driver
    * top-k: dsirSelect's TakeOrdered is right for k ≈ 100, but
    * k = 10% of a corpus cannot visit the driver. Here the threshold
    * comes from a score HISTOGRAM (map-side-combined groupBy on the
    * score — bounded by the quantization grid, the library-wide
    * integer-score contract, so the cumulative window over DISTINCT
    * scores is a declared-small single partition), and the corpus is
    * then filtered row-local against the broadcast threshold row. Only
    * rows AT the boundary score enter a rank window (partitioned by
    * the score value → one partition holding just the tie group) to
    * fill the remaining k − (rows above) slots by min id. Adversarial
    * degenerate case: a corpus where a large fraction shares ONE score
    * makes that tie group a single partition — inherent to the exact-k
    * contract; pre-quantize finer or accept ties-inclusive selection
    * upstream if that bites. */
  def selectTopFraction(df: DataFrame, idCol: String, scoreCol: String,
      frac: Double): DataFrame = {
    require(frac >= 0 && frac <= 1, s"frac must be in [0, 1], got $frac")
    val bp = math.round(frac * 10000)
    val scored = df.filter(col(scoreCol).isNotNull)
    val hist = scored.groupBy(col(scoreCol).as("__s"))
      .agg(count(lit(1)).as("__c"))
    val wDesc = org.apache.spark.sql.expressions.Window
      .orderBy(col("__s").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = hist.withColumn("__cum", sum(col("__c")).over(wDesc))
    val totals = broadcast(cum.agg(max(col("__cum")).as("__n")))
    // the boundary row: first score (desc) whose cumulative count
    // reaches k; __above = rows strictly better than it
    val thr = broadcast(cum.crossJoin(totals)
      .withColumn("__k", expr("(__n * " + bp + ") DIV 10000"))
      .filter(col("__cum") >= col("__k"))
      .orderBy(col("__s").desc).limit(1)
      .select(col("__s").as("__thr"), (col("__cum") - col("__c")).as("__above"),
        col("__k")))
    val withThr = scored.crossJoin(thr)
    val above = withThr.filter(col(scoreCol) > col("__thr"))
    // ties at the threshold: min ids fill the remaining slots; the
    // window partitions by the (single) boundary score value, so only
    // the tie group sorts
    val tieW = org.apache.spark.sql.expressions.Window
      .partitionBy(col(scoreCol)).orderBy(col(idCol))
    val ties = withThr.filter(col(scoreCol) === col("__thr"))
      .withColumn("__r", row_number().over(tieW))
      .filter(col("__r") <= col("__k") - col("__above"))
      .drop("__r")
    // k = 0 (empty input or frac rounding to nothing) leaves thr empty
    // → both branches empty → empty result, no special case
    above.unionByName(ties).drop("__thr", "__above", "__k")
  }

  /** Per-group [[selectTopFraction]]: keep the best X% WITHIN each
    * `keyCol` group (per-language / per-domain quality cuts — a global
    * cut starves low-scoring languages entirely; this holds the
    * fraction in every group). Same exact-k contract per group:
    * k_g = n_g·bp div 10000 rows by (score desc, id), NULL scores
    * excluded, NULL keys form one ordinary group.
    *
    * Scale shape — strictly better than the global variant: the
    * (key, score) histogram is map-side combined, its cumulative
    * window partitions BY KEY (no single-partition stage anywhere),
    * the per-key threshold table is keys-sized and broadcasts, and
    * only boundary ties rank. */
  def selectTopFractionByKey(df: DataFrame, keyCol: String, idCol: String,
      scoreCol: String, frac: Double): DataFrame = {
    require(frac >= 0 && frac <= 1, s"frac must be in [0, 1], got $frac")
    val bp = math.round(frac * 10000)
    val W = org.apache.spark.sql.expressions.Window
    val scored = df.filter(col(scoreCol).isNotNull)
    val hist = scored.groupBy(col(keyCol).as("__k"), col(scoreCol).as("__s"))
      .agg(count(lit(1)).as("__c"))
    val byKey = W.partitionBy(col("__k"))
    val cum = hist
      .withColumn("__cum", sum(col("__c")).over(
        byKey.orderBy(col("__s").desc).rowsBetween(W.unboundedPreceding, 0)))
      .withColumn("__n", sum(col("__c")).over(byKey))
      .withColumn("__kq", expr("(__n * " + bp + ") DIV 10000"))
    val thr = broadcast(cum.filter(col("__cum") >= col("__kq"))
      .withColumn("__r", row_number().over(byKey.orderBy(col("__s").desc)))
      .filter(col("__r") === 1)
      .select(col("__k"), col("__s").as("__thr"),
        (col("__cum") - col("__c")).as("__above"), col("__kq")))
    val withThr = scored.join(thr, col(keyCol) <=> col("__k"), "inner")
    val above = withThr.filter(col(scoreCol) > col("__thr"))
    val ties = withThr.filter(col(scoreCol) === col("__thr"))
      .withColumn("__r", row_number().over(
        W.partitionBy(col("__k"), col(scoreCol)).orderBy(col(idCol))))
      .filter(col("__r") <= col("__kq") - col("__above"))
      .drop("__r")
    above.unionByName(ties).drop("__k", "__thr", "__above", "__kq")
  }

  /** Exact rank-quantile BUCKETING — the CCNet-style head/middle/tail
    * split (perplexity terciles routing docs to different treatments),
    * generalized: `fracs` are ascending cumulative cut fractions
    * (e.g. 1/3, 2/3), and every scored row gets `bucket` b = the
    * number of cuts strictly below its rank, ranked (score desc, id) —
    * so bucket ≤ j holds EXACTLY k_j = n·bp_j div 10000 rows, the
    * [[selectTopFraction]] contract at every boundary at once (that
    * operator is the one-cut filter special case; this one labels
    * instead of filtering). NULL scores keep their rows with a NULL
    * bucket — routing is a policy choice downstream, unscorable ≠
    * droppable. Optional `labels` adds `bucket_label`.
    *
    * Scale shape, inherited from [[selectTopFraction]]: score
    * HISTOGRAM (map-side combined, cumulative window over DISTINCT
    * scores — declared-small by the integer-score contract), broadcast
    * back; a score group whose whole rank range (lo, hi] falls inside
    * one bucket labels ROW-LOCALLY from the broadcast table; only the
    * ≤ |fracs| score groups STRADDLING a cut rank their ties (window
    * partitioned by that score value). No global sort at any size. */
  def rankBuckets(df: DataFrame, idCol: String, scoreCol: String,
      fracs: Seq[Double], labels: Seq[String] = Nil): DataFrame = {
    require(fracs.nonEmpty, "rankBuckets: need at least one cut fraction")
    require(fracs == fracs.sorted && fracs.forall(f => f > 0 && f < 1),
      s"rankBuckets: fracs must be ascending inside (0, 1), got $fracs")
    require(labels.isEmpty || labels.size == fracs.size + 1,
      s"rankBuckets: need ${fracs.size + 1} labels, got ${labels.size}")
    val bps = fracs.map(f => math.round(f * 10000))
    require(bps.distinct.size == bps.size,
      s"rankBuckets: fracs collide at basis-point precision: $fracs")
    val W = org.apache.spark.sql.expressions.Window
    // bucket of rank r = #{cuts k_j < r}
    def bkt(ks: Column, r: Column): Column = size(filter(ks, k => k < r))
    val scored = df.filter(col(scoreCol).isNotNull)
    val hist = scored.groupBy(col(scoreCol).as("__s"))
      .agg(count(lit(1)).as("__c"))
    val cum = hist.withColumn("__cum", sum(col("__c")).over(
      W.orderBy(col("__s").desc).rowsBetween(W.unboundedPreceding, 0)))
    val totals = broadcast(cum.agg(max(col("__cum")).as("__n")))
    val scoreTbl = broadcast(cum.crossJoin(totals)
      // the cut ranks, in LONG arithmetic (the shared DIV discipline)
      .withColumn("__ks", expr(
        s"transform(array(${bps.mkString(",")}), bp -> (__n * bp) DIV 10000)"))
      .withColumn("__lo", col("__cum") - col("__c"))
      .withColumn("__blo", bkt(col("__ks"), col("__lo") + 1))
      .withColumn("__bhi", bkt(col("__ks"), col("__cum")))
      .select(col("__s"), col("__lo"), col("__ks"), col("__blo"), col("__bhi")))
    val joined = scored.join(scoreTbl, col(scoreCol) === col("__s"))
    val const = joined.filter(col("__blo") === col("__bhi"))
      .withColumn("bucket", col("__blo").cast("int"))
    val straddle = joined.filter(col("__blo") =!= col("__bhi"))
      .withColumn("__r", col("__lo") + row_number().over(
        W.partitionBy(col(scoreCol)).orderBy(col(idCol))))
      .withColumn("bucket", bkt(col("__ks"), col("__r")).cast("int"))
      .drop("__r")
    val out = const.unionByName(straddle)
      .drop("__s", "__lo", "__ks", "__blo", "__bhi")
      .unionByName(df.filter(col(scoreCol).isNull)
        .withColumn("bucket", lit(null).cast("int")))
    if (labels.isEmpty) out
    // a when-chain, not element_at(array, bucket+1): ANSI ElementAt
    // declares itself non-nullable over a non-null array literal, so a
    // NULL bucket (unscored row) NPEs the optimizer's local-relation
    // projection; the when-chain is honestly nullable
    else out.withColumn("bucket_label",
      labels.zipWithIndex.foldLeft(lit(null).cast("string")) {
        case (el, (lbl, j)) => when(col("bucket") === j, lit(lbl)).otherwise(el)
      })
  }

  /** Token-budget shard assignment for exporting a finished training
    * mix: rows land in `buckets` deterministic md5 buckets (the
    * engine-portable salted bucket every curation op uses), and within
    * each bucket an exclusive running token sum in id order cuts a new
    * shard every `budget` tokens — `shard_id` is "bucket-local" (e.g.
    * "3-0", "3-1", …). Docs stay WHOLE (unlike [[packSequences]], which
    * splits at token granularity): a doc longer than the budget simply
    * owns its shard and the next doc starts a fresh count. Feed
    * `partitionBy(shard_id)` on any sink to lay the mix out as
    * ~budget-token files.
    *
    * Scale: ONE exchange on the bucket column; the running sum is a
    * per-bucket window (buckets size the parallelism — use ≥ executor
    * cores × a few); no global order anywhere. All arithmetic is
    * row-local hashing + long division, so the layout is reproducible
    * across runs and engines. */
  def assignShards(df: DataFrame, idCol: String, textCol: String,
      budget: Long, buckets: Int = 64, salt: String = ""): DataFrame = {
    require(budget >= 1, s"assignShards: budget must be >= 1, got $budget")
    require(buckets >= 1, s"assignShards: buckets must be >= 1, got $buckets")
    val bucket = pmod(conv(substring(md5(concat(lit(salt),
        coalesce(col(idCol).cast("string"), lit("")))), 1, 15), 16, 10)
      .cast("long"), lit(buckets.toLong))
    val W = org.apache.spark.sql.expressions.Window
    val w = W.partitionBy(col("__bucket")).orderBy(col(idCol))
      .rowsBetween(W.unboundedPreceding, -1)
    df.withColumn("__bucket", bucket)
      .withColumn("n_tokens",
        coalesce(TextAnalysis.tokenCount(col(textCol)).cast("long"), lit(0L)))
      .withColumn("__start", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("shard_id", concat(col("__bucket").cast("string"), lit("-"),
        expr(s"__start DIV $budget").cast("string")))
      .drop("__bucket", "__start")
  }

  /** Fill-in-the-middle (FIM) transformation — the code-model
    * pretraining augmentation (Bavarian et al., arXiv:2207.14255): a
    * `rate` fraction of documents is rewritten PSM-style as
    * `<PRE>prefix<SUF>suffix<MID>middle`, teaching the model to infill
    * between a prefix and suffix. Everything is derived from salted
    * md5 hashes of the id (the library-wide deterministic-curation
    * discipline — rand() would unmake the mix on every retry/engine):
    * selection by the `sel`-tagged bucket < rate·10⁴, the two cut
    * positions by the `c1`/`c2`-tagged hashes mod (len+1), ordered so
    * lo ≤ hi. Untransformed and NULL-text rows pass through unchanged
    * with `fim = false`. Adds `fim` + `text_fim`; row-local Column
    * arithmetic, no UDF, no shuffle. Character-level cuts by design
    * (the paper's context-level FIM): token-boundary cuts are a
    * pre-tokenized pipeline's variant, out of scope here. */
  def fimTransform(df: DataFrame, idCol: String, textCol: String,
      rate: Double = 0.5, salt: String = ""): DataFrame = {
    require(rate >= 0 && rate <= 1, s"fim rate must be in [0, 1], got $rate")
    val t = col(textCol)
    def h(tag: String) = conv(substring(md5(concat(lit(salt + tag),
      col(idCol).cast("string"))), 1, 15), 16, 10).cast("long")
    val n1 = length(t).cast("long") + 1
    val c1 = pmod(h("c1"), n1)
    val c2 = pmod(h("c2"), n1)
    val lo = least(c1, c2)
    val hi = greatest(c1, c2)
    val fim = (pmod(h("sel"), lit(10000L)) < math.round(rate * 10000)) &&
      t.isNotNull
    df.withColumn("fim", fim)
      .withColumn("text_fim", when(fim, concat(
        lit("<PRE>"), t.substr(lit(1), lo.cast("int")),
        lit("<SUF>"), t.substr((hi + 1).cast("int"),
          (length(t).cast("long") - hi).cast("int")),
        lit("<MID>"), t.substr((lo + 1).cast("int"), (hi - lo).cast("int"))))
        .otherwise(t))
  }

  /** The manifest for an [[assignShards]] layout: one row per shard
    * with doc count, token total, and the id range — the index a
    * training loader reads instead of listing 10⁶ files. */
  def shardManifest(sharded: DataFrame, idCol: String): DataFrame =
    sharded.groupBy("shard_id").agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_tokens")).as("n_tokens"),
      min(col(idCol)).as("min_id"),
      max(col(idCol)).as("max_id"))
}
