package graft

import org.apache.spark.sql.functions._
import graft.text.Curation

class CurationSpec extends SparkSpec {
  import spark.implicits._
  import Curation.{bpeMergeApply, bpeSep}

  /** Reference segmentation for `bpeEncode`: normalize → per-word
    * symbol string → the [[Curation.bpeMergeApply]] fold of every merge
    * in training order → count subword symbols. Unrolled Column
    * expressions, fine for the handful of merges a spec trains. */
  private def bpeTokenCount(c: org.apache.spark.sql.Column,
      merges: Seq[(String, String)]): org.apache.spark.sql.Column =
    aggregate(
      transform(functions.Tools.tokenize(functions.Tools.normalize(c)), w =>
        size(split(merges.foldLeft(
          rtrim(regexp_replace(w, "(.)", "$1" + bpeSep), bpeSep)) {
          case (acc, (a, b)) => bpeMergeApply(acc, a, b)
        }, bpeSep))),
      lit(0), (s0, n) => s0 + n)

  // ------------------------------------------------------------ chunking
  test("chunk windows tokens with overlap and stops at the end") {
    val df = Seq((1L, "a b c d e f g h i j")).toDF("id", "text")
    val out = Curation.chunk(df, "id", "text", size = 4, stride = 2)
      .orderBy("chunk_id").collect()
      .map(r => (r.getInt(1), r.getString(2), r.getInt(3)))
    // 10 tokens, size 4, stride 2: windows at 0,2,4,6 — the window at 6
    // reaches the end, so no start-8 tail chunk (it would be a suffix of
    // the previous one)
    assert(out.toSeq == Seq(
      (0, "a b c d", 4), (1, "c d e f", 4), (2, "e f g h", 4), (3, "g h i j", 4)))
  }

  test("chunk: short doc -> one chunk; ragged tail kept; empty/null -> none") {
    val df = Seq((1L, "a b"), (2L, "a b c d e"), (3L, ""), (4L, null))
      .toDF("id", "text")
    val out = Curation.chunk(df, "id", "text", size = 4, stride = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(out == Set((1L, 0, "a b"), (2L, 0, "a b c d"), (2L, 1, "e")))
  }

  test("chunk rejects a stride larger than the window") {
    intercept[IllegalArgumentException] {
      Curation.chunk(Seq((1L, "a")).toDF("id", "text"), "id", "text",
        size = 4, stride = 5)
    }
  }

  // ------------------------------------------------------ repetition
  test("repetitionStats measures duplicate lines and n-grams") {
    val df = Seq(
      (1L, "x\ny\nx"),            // 3 lines, 2 distinct -> 1/3 dup
      (2L, "a b a b a"),          // 2-grams: ab ba ab ba -> 2/4 dup
      (3L, "all distinct words"), // no repetition
      (4L, "")).toDF("id", "text")
    val m = Curation.repetitionStats(df, "id", "text").collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(m(1L)._1 == 0.3333)
    assert(m(2L)._2 == 0.5)
    assert(m(3L) == ((0.0, 0.0, 0.0)))
    assert(m(4L) == ((0.0, 0.0, 0.0))) // empty: no tokens, no dup
  }

  test("repetitionStats: doc shorter than n -> 0, null -> null") {
    val df = Seq((1L, "one"), (2L, null)).toDF("id", "text")
    val rows = Curation.repetitionStats(df, "id", "text").collect()
    val one = rows.find(_.getLong(0) == 1L).get
    assert(one.getDouble(2) == 0.0 && one.getDouble(3) == 0.0)
    val nul = rows.find(_.getLong(0) == 2L).get
    assert(nul.isNullAt(1) && nul.isNullAt(2) && nul.isNullAt(3))
  }

  // --------------------------------------------------------- Gopher
  test("gopherQuality flags short, symbol-heavy, and stopword-free docs") {
    val good = ("the data " * 30).trim // 60 words, the/data alternating
    val df = Seq(
      (1L, good + " of it"),                 // passes every rule
      (2L, "too short of the doc"),          // n_words < 30
      (3L, ("of " + "### " * 8 + "the " + "word " * 60).trim), // 24 hashes / 70 words > 0.1
      (4L, ("zz " * 80).trim)                // no stopwords
    ).toDF("id", "text")
    val m = Curation.gopherQuality(df, "id", "text", minWords = 30)
      .collect().map(r => r.getLong(0) -> r.getBoolean(8)).toMap
    assert(m == Map(1L -> true, 2L -> false, 3L -> false, 4L -> false))
  }

  test("gopherQuality: bullet and ellipsis line fractions") {
    // bullet lines need enough long alpha words that the OTHER rules
    // (mean word length >= 3, alpha fraction >= 0.8) still pass
    val bullets = (Seq("the words be of") ++
      Seq.fill(9)("- alpha bravo charlie delta")).mkString("\n")
    val out = Curation.gopherQuality(Seq((1L, bullets)).toDF("id", "text"),
      "id", "text", minWords = 1).collect()(0)
    assert(out.getDouble(4) == 0.9)  // bullet_frac: 9 of 10 lines
    assert(out.getBoolean(8))        // exactly at the <= 0.9 threshold
    val dots = "the be words...\nof that plain"
    val out2 = Curation.gopherQuality(Seq((1L, dots)).toDF("id", "text"),
      "id", "text", minWords = 1).collect()(0)
    assert(out2.getDouble(5) == 0.5) // ellipsis_frac
    assert(!out2.getBoolean(8))      // 0.5 > 0.3 threshold
  }

  test("gopherKeep filter selects exactly gopherQuality's keep=true rows") {
    // the row-local predicate and the metric frame share one builder —
    // this pins the CONTRACT so a future split can't drift them
    val df = Seq(
      (1L, ("the data " * 30).trim + " of it"),
      (2L, "too short of the doc"),
      (3L, ("of " + "### " * 8 + "the " + "word " * 60).trim),
      (4L, ("zz " * 80).trim),
      (5L, null: String) // NULL keep: dropped by BOTH spellings
    ).toDF("id", "text")
    val viaFrame = Curation.gopherQuality(df, "id", "text", minWords = 30)
      .filter(col("keep")).select("id").collect().map(_.getLong(0)).sorted
    val viaPred = df.filter(Curation.gopherKeep(col("text"), minWords = 30))
      .select("id").collect().map(_.getLong(0)).sorted
    assert(viaFrame.toSeq == viaPred.toSeq && viaPred.toSeq == Seq(1L))
  }

  test("gopherQuality: null text -> null metrics and null keep") {
    val out = Curation.gopherQuality(
      Seq((1L, null: String)).toDF("id", "text"), "id", "text").collect()(0)
    assert(out.isNullAt(1) && out.isNullAt(7) && out.isNullAt(8))
  }

  // ------------------------------------------------------ bigram LM
  test("bigramLogProb: every interpolation branch matches the JVM-mirrored arithmetic") {
    // ref "aa bb aa cc": uni aa:2 bb:1 cc:1 (T=4, V=3); bigrams
    // (aa,bb):1 (bb,aa):1 (aa,cc):1; hist aa:2 bb:1. Docs exercise all
    // four branches: first-token unigram, seen pair, unseen pair with
    // in-vocab word, OOV word; plus the empty doc.
    val ref = Seq((0L, "aa bb aa cc")).toDF("doc_id", "text")
    val docs = Seq((1L, "aa bb"), (2L, "bb aa cc"), (3L, ""), (4L, "zz zz"))
      .toDF("doc_id", "text")
    val uni = Curation.unigramLm(ref, "text")
    val bi = Curation.bigramLm(ref, "text")
    val out = Curation.bigramLogProb(docs, "doc_id", "text", uni, bi,
      lambdaBp = 9000)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), if (r.isNullAt(2)) null else r.getDouble(2))).toMap
    val (lam, mu, tv) = (9000 / 10000.0, (10000 - 9000) / 10000.0, 7.0)
    def q(p: Double) = math.floor(math.log10(p) * 10000).toLong
    def pu(c: Long) = (c + 1).toDouble / tv
    def mean(qs: Seq[Long]): Double = {
      val s = qs.sum; val n = qs.size.toLong
      (if (s < 0) -(((-s) * 2 + n) / (n * 2)) else (s * 2 + n) / (n * 2))
        .toDouble / 10000.0
    }
    assert(out(1L) == ((2, mean(Seq(
      q(pu(2)),                       // aa first
      q(lam * (1.0 / 2) + mu * pu(1)) // (aa,bb) seen
    )))))
    assert(out(2L) == ((3, mean(Seq(
      q(pu(1)),
      q(lam * (1.0 / 1) + mu * pu(2)), // (bb,aa)
      q(lam * (1.0 / 2) + mu * pu(1))  // (aa,cc)
    )))))
    assert(out(3L) == ((0, null))) // token-free: nothing to score
    assert(out(4L) == ((2, mean(Seq(
      q(1.0 / tv), // OOV first token: Laplace floor
      q(mu / tv)   // unseen pair, OOV word: μ-scaled floor
    )))))
  }

  test("bigramLogProb rejects λ = 1 (log10(0) poison) and λ out of range") {
    val df = Seq((1L, "a b")).toDF("doc_id", "text")
    val uni = Curation.unigramLm(df, "text")
    val bi = Curation.bigramLm(df, "text")
    for (bad <- Seq(10000, -1, 12345)) {
      val e = intercept[IllegalArgumentException] {
        Curation.bigramLogProb(df, "doc_id", "text", uni, bi, lambdaBp = bad)
      }
      assert(e.getMessage.contains("lambdaBp"))
    }
  }

  // ------------------------------------------------------------- BPE
  test("bpeTrain learns the hand-computed merge sequence") {
    // corpus: "low"×5 "lower"×2 "newest"×6 "widest"×3 — the classic
    // Sennrich example family. Most frequent pairs: (e,s) 9, (s,t) 9,
    // (t? ...) — tie between (e,s) and (s,t) breaks by pair asc → (e,s)
    // first, then (es,t) 9, then (l,o) 7, (lo,w) 7, ...
    val docs = Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
    val df = docs.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("id", "text")
    // NOTE: word FREQUENCIES here come from distinct words (each doc is
    // one word), so freq(low)=5 etc. — same arithmetic as the corpus
    val out = Curation.bpeTrain(df, "text", merges = 4)
      .orderBy("round").collect()
      .map(r => (r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    assert(out.toSeq == Seq(
      ("e", "s", "es", 9L), ("es", "t", "est", 9L),
      ("l", "o", "lo", 7L), ("lo", "w", "low", 7L)))
  }

  test("bpeVocab: base alphabet in symbol order, merges appended in training order") {
    val docs = Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
    val df = docs.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("id", "text")
    val out = Curation.bpeVocab(df, "text", merges = 4)
      .orderBy("tok_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val base = "deilnorstw".map(_.toString) // the fixture's 10 chars sorted
    assert(out.take(10).toSeq == base.zipWithIndex.map { case (c, i) =>
      (i.toLong, c, "base")
    })
    assert(out.drop(10).toSeq == Seq(
      (10L, "es", "merge"), (11L, "est", "merge"),
      (12L, "lo", "merge"), (13L, "low", "merge")))
  }

  test("bpeTrain: driver-side merge loop ≡ distributed rounds, deep merges") {
    // the regime split must be invisible: the local incremental-heap
    // loop (default for small word tables) and the per-round Spark
    // jobs (localThreshold = 0) must emit the IDENTICAL merge table —
    // on the hand fixture, on real documents, and DEEP (40 rounds on
    // sf0.001 exercises early-stop-free long runs where the lazy heap
    // does real invalidation work and merged symbols re-form pairs)
    def table(df: org.apache.spark.sql.DataFrame, merges: Int,
        thr: Long): Seq[(Int, String, String, String, Long)] =
      Curation.bpeTrain(df, "text", merges, localThreshold = thr)
        .orderBy("round").collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2),
          r.getString(3), r.getLong(4))).toSeq
    val fix = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest"))
      .zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("id", "text")
    assert(table(fix, 6, 1000000L) == table(fix, 6, 0L))
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val local = table(docs, 40, 1000000L)
    assert(local == table(docs, 40, 0L))
    assert(local.size == 40, s"expected 40 full rounds, got ${local.size}")
    // early stop: a corpus whose words exhaust their pairs ends the
    // table early in BOTH regimes ("ab" has 1 pair, then none)
    val tiny = Seq((1L, "ab")).toDF("id", "text")
    assert(table(tiny, 5, 1000000L) == table(tiny, 5, 0L))
    assert(table(tiny, 5, 1000000L).size == 1)
  }

  test("bpeEncode: native codec ≡ Column fold; counts, fertility, stream, edges") {
    import spark.implicits._
    // the discriminating sequential-order case: a later merge (y,z)
    // re-forms the string "yz" that the EARLIER merge (x,yz) wanted —
    // strict training-order application must NOT fire (x,yz) after its
    // pass already ran; rank-priority encoding would (and would emit
    // "xyz"). Codec and fold must both answer the sequential form.
    val codec = new graft.functions.BpeCodec(Seq("x" -> "yz", "y" -> "z"), "~")
    assert(codec.segment("xyz") == "x~yz")
    assert(codec.segment("yzx") == "yz~x")
    assert(codec.segment("aaa") == "a~a~a") // no merge applies at all
    val aa = new graft.functions.BpeCodec(Seq("a" -> "a"), "~")
    assert(aa.segment("aaa") == "aa~a") // left-to-right rescan
    // real corpus: n_subwords must equal the unrolled bpeMergeApply
    // fold (bpeTokenCount) under the SAME trained merges, and the
    // token stream with separators dropped must rebuild the
    // normalized text exactly
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val mergeList = Curation.bpeTrain(docs.select("text"), "text", 8)
      .orderBy("round").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val enc = Curation.bpeEncode(docs, "doc_id", "text", merges = 8)
    val fold = docs.select(col("doc_id"),
      bpeTokenCount(col("text"), mergeList).cast("long").as("n_fold"),
      functions.Tools.normalize(col("text")).as("norm"))
    val j = enc.join(fold, "doc_id").cache()
    try {
      assert(j.filter(col("n_subwords") =!= col("n_fold")).count() == 0)
      assert(j.filter(col("norm").isNotNull &&
        translate(col("toks"), " ", "") =!= translate(col("norm"), " ", ""))
        .count() == 0)
    } finally { j.unpersist(); () }
    // NULL / blank / live rows: zero counts stay in the output,
    // fertility only where tokens exist (ab ab -> 2 words, 2 subwords
    // under the single (a,b) merge, 4 chars -> 20000 bp)
    val edge = Seq((1L, null.asInstanceOf[String]), (2L, "  "),
      (3L, "ab ab")).toDF("doc_id", "text")
    val rows = Curation.bpeEncode(edge, "doc_id", "text", merges = 1)
      .orderBy("doc_id").collect()
    assert(rows.map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
      r.getLong(3), if (r.isNullAt(4)) -1L else r.getLong(4),
      r.getString(5))).toSeq ==
      Seq((1L, 0, 0L, 0L, -1L, ""), (2L, 0, 0L, 0L, -1L, ""),
        (3L, 2, 4L, 2L, 20000L, "ab ab")))
  }

  test("bpeTrain: winning-pair counts never increase round over round") {
    // a merged pair's successors (x, ab)/(ab, y) can count at most the
    // merged pair's own occurrences, and untouched pairs are unchanged
    // — so the max is non-increasing. A violation means the fold and
    // the counting disagree about what a round consumed.
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val cnts = Curation.bpeTrain(df, "text", merges = 6)
      .orderBy("round").collect().map(_.getLong(4))
    assert(cnts.zip(cnts.tail).forall { case (a, b) => a >= b },
      s"counts increased: ${cnts.toSeq}")
  }

  test("bpeMergeApply: rescan and overlap semantics") {
    val df = Seq(("a~b~a~b", 1), ("a~a~a", 2), ("x~ab~c", 3), ("ba~b", 4))
      .toDF("s", "k")
    val out = df.select(col("k"), Curation.bpeMergeApply(col("s"), "a", "b").as("m"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(out(1) == "ab~ab") // left-to-right with rescan
    assert(out(2) == "a~a~a") // (a,b) never fires on a-runs
    assert(out(3) == "x~ab~c") // symbol 'ab' is not the PAIR a,b
    assert(out(4) == "ba~b")  // 'ba' ends in 'a' but is one symbol
    val aa = df.filter(col("k") === 2)
      .select(Curation.bpeMergeApply(col("s"), "a", "a")).head.getString(0)
    assert(aa == "aa~a")      // odd run merges greedily left-to-right
  }

  test("bpeTokenCount applies trained merges at inference") {
    val df = Seq((1L, "newest widest low")).toDF("id", "text")
    val merges = Seq("e" -> "s", "es" -> "t", "l" -> "o")
    // newest -> n,e,w,est (4); widest -> w,i,d,est (4); low -> lo,w (2)
    val n = df.select(bpeTokenCount(col("text"), merges)).head.getInt(0)
    assert(n == 10)
  }

  // ------------------------------------------------------------- PII
  test("scrubPii redacts emails, IPs, and phones to typed placeholders") {
    val df = Seq(
      "write bob.smith+x@corp.example.org today",
      "server at 192.168.0.17 and 10.0.0.1.",
      "call +33 1 42 60 38 21 or +1(555)123-4567 now",
      "no pii here").toDF("text")
    val out = df.select(Curation.scrubPii(col("text"))).as[String].collect()
    assert(out(0) == "write <EMAIL> today")
    assert(out(1) == "server at <IP> and <IP>.")
    assert(out(2) == "call <PHONE> or <PHONE> now")
    assert(out(3) == "no pii here")
  }

  test("piiStats counts per category without double-counting one span") {
    val df = Seq("a@b.co at 1.2.3.4 call +12345678900").toDF("text")
    val (e, i, p) = Curation.piiStats(col("text"))
    val r = df.select(e, i, p).collect()(0)
    assert((r.getInt(0), r.getInt(1), r.getInt(2)) == ((1, 1, 1)))
  }

  test("scrubPii on dotted version strings: 3 parts untouched, >=4 parts over-match as IP") {
    val out = Seq("pkg v1.2.3 ok", "pkg 1.2.3.4.5 ok").toDF("text")
      .select(Curation.scrubPii(col("text"))).as[String].collect()
    assert(out(0) == "pkg v1.2.3 ok")
    // the first 4 dotted runs of a 5-part version match the IPv4 shape
    // (\b holds between digit and dot) — the documented over-match
    assert(out(1) == "pkg <IP>.5 ok")
  }

  // ------------------------------------------------------- LM scoring
  test("unigramLogProb scores docs under a reference LM, OOV takes the Laplace floor") {
    // LM corpus: a:2 b:2 c:1, total=5, V=3 -> denom 8
    // qlp(a)=qlp(b)=floor(log10(3/8)*1e4)=-4260, qlp(c)=floor(log10(2/8)*1e4)=-6021
    // OOV floor: floor(log10(1/8)*1e4)=-9031
    val corpus = Seq((1L, "a a b"), (2L, "b c")).toDF("id", "text")
    val lm = Curation.unigramLm(corpus, "text")
    val out = Curation.unigramLogProb(
      Seq((1L, "a a b"), (2L, "b c"), (3L, "z"), (4L, "")).toDF("id", "text"),
      "id", "text", lm).collect()
      .map(r => r.getLong(0) -> (r.getInt(1),
        if (r.isNullAt(2)) Double.NaN else r.getDouble(2))).toMap
    assert(out(1L)._1 == 3 && out(1L)._2 == -0.426) // 3*-4260/3/1e4
    assert(out(2L)._1 == 2 && math.abs(out(2L)._2 - -0.51405) < 1e-3)
    assert(out(3L)._1 == 1 && out(3L)._2 == -0.9031) // pure OOV doc
    assert(out(4L)._1 == 0 && out(4L)._2.isNaN)      // token-free doc
  }

  test("unigramLogProb fails LOUDLY on an EMPTY reference LM (guard must survive column pruning)") {
    val emptyLm = Seq.empty[(String, Long)].toDF("token", "cnt")
    def allMsgs(t: Throwable): String =
      if (t == null) "" else s"${t.getMessage} | ${allMsgs(t.getCause)}"
    // tokened docs reach the assert through the OOV coalesce arm
    val e = intercept[Exception] {
      Curation.unigramLogProb(Seq((1L, "hello world")).toDF("id", "text"),
        "id", "text", emptyLm).collect()
    }
    assert(allMsgs(e).contains("reference LM has no tokens"), allMsgs(e))
    // token-FREE docs reach it through the null-token branch
    val e2 = intercept[Exception] {
      Curation.unigramLogProb(Seq((1L, "")).toDF("id", "text"),
        "id", "text", emptyLm).collect()
    }
    assert(allMsgs(e2).contains("reference LM has no tokens"), allMsgs(e2))
  }

  test("unigramLogProb rejects an LM without (token, cnt) columns") {
    intercept[IllegalArgumentException] {
      Curation.unigramLogProb(Seq((1L, "a")).toDF("id", "text"),
        "id", "text", Seq(("a", 1L)).toDF("word", "cnt"))
    }
  }

  // --------------------------------------- edge-whitespace tokenization
  test("edge whitespace (\\n, \\t) produces no phantom tokens anywhere") {
    import graft.functions.Tools
    val toks = Seq("\tab cd\n").toDF("text")
      .select(Tools.tokenize(col("text"))).as[Seq[String]].collect()(0)
    assert(toks == Seq("ab", "cd"))
    // gopher: a trailing newline must not deflate alpha_frac below 0.8
    val g = Curation.gopherQuality(Seq((1L, "ab cd\n")).toDF("id", "text"),
      "id", "text", minWords = 1).collect()(0)
    assert(g.getInt(1) == 2 && g.getDouble(6) == 1.0)
    // repetition: a duplicate-free doc with edge whitespace scores 0
    val r = Curation.repetitionStats(
      Seq((1L, "\tunique words here\n")).toDF("id", "text"), "id", "text")
      .collect()(0)
    assert((r.getDouble(1), r.getDouble(2), r.getDouble(3)) == ((0.0, 0.0, 0.0)))
    // vocab: no "" token from trailing newlines
    val v = Curation.vocabTopK(Seq("aa\n", "aa\n", "bb\n").toDF("text"), "text", k = 10)
      .collect().map(r0 => (r0.getString(0), r0.getLong(1)))
    assert(v.toSeq == Seq(("aa", 2L), ("bb", 1L)))
    // chunk: whitespace-only doc emits nothing, edge whitespace stripped
    val ch = Curation.chunk(Seq((1L, "\n"), (2L, " x y\n")).toDF("id", "text"),
      "id", "text", size = 8, stride = 4).collect()
    assert(ch.length == 1 && ch(0).getString(2) == "x y" && ch(0).getInt(3) == 2)
  }

  // ------------------------------------------------------------ vocab
  test("vocabCoverage: per-doc OOV accounting, token-less docs NULL, broadcast vocab") {
    import spark.implicits._
    val docs = Seq(
      (1L, "Alpha beta ALPHA"),   // fully covered (lowercased)
      (2L, "alpha gamma delta"),  // 2 of 3 OOV → 6666 bp (floor div)
      (3L, ""),                   // no tokens → (0, 0, NULL)
      (4L, null: String))
      .toDF("doc_id", "text")
    val vocab = Seq("alpha", "beta").toDF("token")
    val out = Curation.vocabCoverage(docs, "doc_id", "text", vocab)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), Option(r.get(3))))).toMap
    assert(out(1L) == ((3L, 0L, Some(0L))))
    assert(out(2L) == ((3L, 2L, Some(6666L))))
    assert(out(3L) == ((0L, 0L, None)))
    assert(out(4L) == ((0L, 0L, None)))
    // the vocab must BROADCAST into the token join — the corpus token
    // stream feeds it straight from the explode, never via a sort-merge
    // (the vocab's own tiny distinct exchange is fine)
    val plan = Curation.vocabCoverage(docs, "doc_id", "text", vocab)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin [__tok"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("vocabTopK counts lowercased tokens with deterministic tie-break") {
    val df = Seq("b a", "a B", "c b a").toDF("text")
    val out = Curation.vocabTopK(df, "text", k = 2).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    // a=3, b=3 (one as B), c=1; tie at 3 broken token-asc
    assert(out.toSeq == Seq(("a", 3L), ("b", 3L)))
  }

  test("vocabTopK is TakeOrdered, not a global sort") {
    val plan = Curation.vocabTopK(Seq("a b").toDF("text"), "text", k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"expected TakeOrdered in:\n$plan")
  }

  // ----------------------------------------------------- sequence packing
  test("packSequences: concat-and-chunk per shard; straddlers keep start") {
    val df = Seq(
      (1L, "a b c", "en"),    // start 0   → seq 0, off 0
      (2L, "d e", "en"),      // start 3   → seq 0, off 3
      (3L, "f g h i", "en"),  // start 5, straddles the 6-boundary → seq 0, off 5
      (4L, "j", "en"),        // start 9   → seq 1, off 3
      (5L, "", "en"),         // empty: dropped, consumes no budget
      (6L, null, "en"),       // null: dropped
      (7L, "x y", "fr")       // other shard packs independently from 0
    ).toDF("doc_id", "text", "lang")
    val out = Curation.packSequences(df, "doc_id", "text",
        budget = 6, shardCol = "lang")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(out == Set(
      (1L, "en", 3L, 0L, 0L), (2L, "en", 2L, 0L, 3L),
      (3L, "en", 4L, 0L, 5L), (4L, "en", 1L, 1L, 3L),
      (7L, "fr", 2L, 0L, 0L)))
  }

  test("packSequences plans ONE exchange (shard shuffle), no global sort") {
    val df = Seq((1L, "a", "en")).toDF("doc_id", "text", "lang")
    val plan = Curation.packSequences(df, "doc_id", "text", 512, "lang")
      .queryExecution.executedPlan.toString
    // the only Exchange is hashpartitioning on the shard column; a
    // rangepartitioning exchange would mean a global sort snuck in
    assert(plan.contains("hashpartitioning(lang"), plan)
    assert(!plan.contains("rangepartitioning"), plan)
  }

  test("packSequences rejects a non-positive budget") {
    val df = Seq((1L, "a", "en")).toDF("doc_id", "text", "lang")
    intercept[IllegalArgumentException] {
      Curation.packSequences(df, "doc_id", "text", 0, "lang")
    }
  }

  test("packSequences fails loudly when id/shard collides with an output name") {
    val df = Seq((1L, "a", "en")).toDF("seq_id", "text", "lang")
    val e = intercept[RuntimeException] {
      Curation.packSequences(df, "seq_id", "text", 8, "lang")
    }
    assert(e.getMessage.contains("reserved"), e.getMessage)
  }

  test("rankBuckets: exact-k at every cut, straddle ties by id, NULL scores labeled NULL") {
    import graft.text.Curation
    // 9 rows all sharing ONE score — the fully-straddling worst case:
    // both cuts land inside the single tie group, ranks come from id
    val flat = (1L to 9L).map(i => (i, 5L)).toDF("id", "s")
    val out = Curation.rankBuckets(flat, "id", "s", Seq(1.0 / 3, 2.0 / 3),
      labels = Seq("head", "middle", "tail"))
      .collect().map(r => r.getLong(0) ->
        ((r.getAs[Int]("bucket"), r.getAs[String]("bucket_label")))).toMap
    // k1 = 9·3333 div 10⁴ = 2, k2 = 9·6667 div 10⁴ = 6 → 2 / 4 / 3
    assert((1L to 2L).forall(out(_) == ((0, "head"))), out.toString)
    assert((3L to 6L).forall(out(_) == ((1, "middle"))), out.toString)
    assert((7L to 9L).forall(out(_) == ((2, "tail"))), out.toString)
    // distinct scores + a NULL: scored rows bucket by rank (desc), the
    // NULL row survives with NULL bucket and label. n=3 exposes the
    // floor contract: k₁ = 3·3333 div 10⁴ = 0, so the head bucket is
    // EMPTY (same DIV arithmetic as selectTopFraction — a 3-row corpus
    // has no exact tercile head), k₂ = 2 → middle gets ranks 1-2.
    val mixed = Seq((1L, Some(30L)), (2L, Some(20L)), (3L, Some(10L)),
      (4L, None)).toDF("id", "s")
    val m = Curation.rankBuckets(mixed, "id", "s", Seq(1.0 / 3, 2.0 / 3),
      labels = Seq("head", "middle", "tail")).collect()
      .map(r => r.getLong(0) -> Option(r.getAs[Integer]("bucket"))).toMap
    assert(m == Map(1L -> Some(1), 2L -> Some(1), 3L -> Some(2), 4L -> None),
      m.toString)
    // config errors are loud
    intercept[IllegalArgumentException] {
      Curation.rankBuckets(flat, "id", "s", Seq(0.7, 0.3))
    }
    intercept[IllegalArgumentException] {
      Curation.rankBuckets(flat, "id", "s", Seq(0.5), labels = Seq("only"))
    }
  }

  test("withScriptMix counts explicit codepoint ranges; priority argmax; YAML step") {
    import graft.text.TextAnalysis
    val df = Seq(
      (1L, "abc де 的的 123"),      // latin 3, cyr 2, cjk 2, digit 3
      (2L, "ωωω ωω"),               // greek only
      (3L, "...! 42"),              // no letters → unknown
      (4L, null.asInstanceOf[String]))
      .toDF("id", "text")
    val out = TextAnalysis.withScriptMix(df, "text").collect()
      .map(r => r.getLong(0) -> ((Option(r.getAs[Integer]("n_latin")),
        Option(r.getAs[Integer]("n_cyrillic")), Option(r.getAs[Integer]("n_cjk")),
        Option(r.getAs[Integer]("n_digit")), Option(r.getAs[String]("main_script")))))
      .toMap
    assert(out(1L) == ((Some(3), Some(2), Some(2), Some(3), Some("latin"))))
    assert(out(2L)._5 == Some("greek"))
    assert(out(3L) == ((Some(0), Some(0), Some(0), Some(2), Some("unknown"))))
    assert(out(4L) == ((None, None, None, None, None)))
    // tie between two scripts breaks to the earlier listed (latin)
    val tie = TextAnalysis.withScriptMix(
      Seq((1L, "aб")).toDF("id", "text"), "text").head
    assert(tie.getAs[String]("main_script") == "latin")
    // YAML steps wire both new operators
    val tmp = java.nio.file.Files.createTempDirectory("graft-sm").toString
    Seq((1L, "abc", 30L), (2L, "де", 20L), (3L, "x", 10L))
      .toDF("id", "text", "q").write.mode("overwrite").parquet(tmp)
    val conf = graft.conf.RecipeConf.load(
      s"""datasets:
         |  docs: {path: $tmp, format: parquet}
         |recipes:
         |  route:
         |    input: docs
         |    steps:
         |      - script_mix: {text: text}
         |      - score_buckets: {id: id, score: q, fracs: [0.34, 0.67],
         |                        labels: [head, middle, tail]}
         |""".stripMargin)
    val rows = graft.conf.RecipeConf.run(spark, conf, "route").collect()
      .map(r => r.getAs[Long]("id") ->
        ((r.getAs[String]("main_script"), r.getAs[String]("bucket_label")))).toMap
    assert(rows(1L) == (("latin", "head")))
    assert(rows(2L) == (("cyrillic", "middle")))
    assert(rows(3L) == (("latin", "tail")))
  }

  test("fimTransform: PSM pieces reassemble the original; selection/cuts deterministic; NULLs pass") {
    import graft.text.Curation
    val docs = (1L to 200L).map(i => (i, Some(s"doc $i body ${"x" * (i % 17).toInt}")))
      .toDF("id", "text")
    val out = Curation.fimTransform(docs, "id", "text", rate = 0.5, salt = "v1")
      .collect().map(r => (r.getLong(0), r.getBoolean(r.fieldIndex("fim")),
        r.getString(r.fieldIndex("text")), r.getString(r.fieldIndex("text_fim"))))
    val Psm = "(?s)^<PRE>(.*)<SUF>(.*)<MID>(.*)$".r
    out.foreach { case (id, fim, orig, tf) =>
      if (fim) tf match {
        // prefix + middle + suffix must be EXACTLY the original text
        case Psm(pre, suf, mid) => assert(pre + mid + suf == orig, s"id=$id")
        case _ => fail(s"id=$id: fim row without PSM shape: $tf")
      } else assert(tf == orig, s"id=$id: untransformed row must pass through")
    }
    // ~half selected, deterministically (same salt → same set)
    val nFim = out.count(_._2)
    assert(nFim > 60 && nFim < 140, s"rate 0.5 selected $nFim of 200")
    val again = Curation.fimTransform(docs, "id", "text", rate = 0.5, salt = "v1")
      .filter(col("fim")).select("id").collect().map(_.getLong(0)).toSet
    assert(again == out.filter(_._2).map(_._1).toSet)
    // NULL text: never transformed, passes through NULL
    val n = Curation.fimTransform(
      Seq((1L, Option.empty[String])).toDF("id", "text"), "id", "text", 1.0)
      .head
    assert(!n.getBoolean(n.fieldIndex("fim")) && n.isNullAt(n.fieldIndex("text_fim")))
    // rate 1.0 transforms every non-null row; rate 0 none
    assert(Curation.fimTransform(docs, "id", "text", 1.0).filter(col("fim"))
      .count() == 200)
    assert(Curation.fimTransform(docs, "id", "text", 0.0).filter(col("fim"))
      .count() == 0)
    intercept[IllegalArgumentException](
      Curation.fimTransform(docs, "id", "text", 1.5))
  }

  test("conversation stats: shape verdicts, per-side volume, flatten; malformed = NULL") {
    import graft.text.Conversations
    val rows = Seq(
      // canonical: system + 1 pair → well-formed
      (1L, """[{"role":"system","content":"be nice"},
             |{"role":"user","content":"hi"},
             |{"role":"assistant","content":"hello!"}]""".stripMargin.replace("\n", "")),
      // dangling user turn → NOT well-formed
      (2L, """[{"role":"user","content":"hi"},{"role":"assistant","content":"yo"},
             |{"role":"user","content":"gone"}]""".stripMargin.replace("\n", "")),
      // assistant speaks first → NOT well-formed
      (3L, """[{"role":"assistant","content":"hi"},{"role":"user","content":"?"}]"""),
      // unknown role → NOT well-formed
      (4L, """[{"role":"tool","content":"x"},{"role":"user","content":"y"}]"""),
      // empty turn list → NOT well-formed (nothing to train on)
      (5L, "[]"),
      // malformed JSON → NULL everything
      (6L, "not json"),
      // missing content field: parses, counts 0 chars for that side
      (7L, """[{"role":"user"},{"role":"assistant","content":"ab"}]"""))
      .toDF("id", "convo")
    val out = Conversations.withConversationStats(rows, "convo").collect()
      .map(r => r.getLong(0) -> r).toMap
    def wf(i: Long) = Option(out(i).getAs[java.lang.Boolean]("well_formed"))
      .map(_.booleanValue)
    assert(wf(1L) == Some(true) && wf(2L) == Some(false) &&
      wf(3L) == Some(false) && wf(4L) == Some(false) && wf(5L) == Some(false))
    assert(wf(6L) == None)
    assert(wf(7L) == Some(true))
    assert(out(1L).getAs[Int]("n_turns") == 3 &&
      out(1L).getAs[Int]("n_user") == 1 && out(1L).getAs[Int]("n_assistant") == 1)
    assert(out(1L).getAs[Long]("n_chars_user") == 2L &&
      out(1L).getAs[Long]("n_chars_assistant") == 6L)
    assert(out(1L).getAs[String]("text") ==
      "system: be nice\nuser: hi\nassistant: hello!")
    // missing content: flatten renders the bare role, volume counts 0
    assert(out(7L).getAs[Long]("n_chars_user") == 0L)
    assert(out(7L).getAs[String]("text") == "user\nassistant: ab")
    assert(out(6L).isNullAt(out(6L).fieldIndex("n_turns")))
    assert(out(6L).isNullAt(out(6L).fieldIndex("text")))
    // the YAML step wires the same stats
    val tmp = java.nio.file.Files.createTempDirectory("graft-convo").toString
    rows.write.mode("overwrite").parquet(tmp)
    val conf = graft.conf.RecipeConf.load(
      s"""datasets:
         |  sft: {path: $tmp, format: parquet}
         |recipes:
         |  shape:
         |    input: sft
         |    steps:
         |      - conversation: {json: convo}
         |""".stripMargin)
    val kept = graft.conf.RecipeConf.run(spark, conf, "shape")
      .filter(col("well_formed"))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L, 7L), kept.toString)
  }

  // ------------------------------------------------------ URL curation
  test("normalizeUrl applies every canonicalization rule; non-URLs go NULL") {
    import graft.text.UrlTools
    val cases = Seq(
      // scheme+host lowered, www/default-port/fragment/tracking gone,
      // params sorted, path case KEPT
      ("HTTPS://WWW.Ex.COM:443/Path/It?utm_source=x&b=2&a=1#frag",
        "https://ex.com/Path/It?a=1&b=2"),
      // explicit non-default port kept; http's :80 is the default
      ("http://ex.com:8080/x", "http://ex.com:8080/x"),
      ("http://ex.com:80/x", "http://ex.com/x"),
      // empty path → /; bare query keeps its params
      ("https://Ex.com", "https://ex.com/"),
      ("https://ex.com?b=2&a=1", "https://ex.com/?a=1&b=2"),
      // ALL params tracking → no query at all
      ("https://ex.com/p?utm_campaign=c&fbclid=f&gclid=g", "https://ex.com/p"),
      // non-http schemes normalize too (no default-port rule)
      ("FTP://Files.Ex.org/a.txt", "ftp://files.ex.org/a.txt"),
      // a newline inside the fragment still strips (Java '.' excludes
      // \n without (?s) — messy web data hits this)
      ("https://ex.com/p#a\nb", "https://ex.com/p"),
      // userinfo is dropped; stacked www. prefixes strip to a FIXED POINT
      ("https://bob:pw@www.www.Ex.com/q", "https://ex.com/q"),
      // not URLs → NULL
      ("no scheme here", null),
      ("", null))
    val out = cases.zipWithIndex.map { case ((in, _), i) => (i.toLong, in) }
      .toDF("id", "url")
      .select(col("id"), UrlTools.normalizeUrl(col("url")).as("n"))
      .orderBy("id").collect().map(r => r.getString(1))
    cases.map(_._2).zip(out).zipWithIndex.foreach { case ((want, got), i) =>
      assert(got == want, s"case $i: got '$got' want '$want'")
    }
    // NULL propagates
    val nullOut = Seq((1L, Option.empty[String])).toDF("id", "url")
      .select(UrlTools.normalizeUrl(col("url"))).head
    assert(nullOut.isNullAt(0))
  }

  test("registeredDomain honours multi-part public suffixes") {
    import graft.text.UrlTools
    val out = Seq(
      (1L, "https://a.b.Example.co.uk/x"),
      (2L, "https://www.example.com/x"),
      (3L, "http://deep.sub.example.org?q=1"),
      (4L, "http://localhost/x"),
      (5L, "oops"))
      .toDF("id", "url")
      .select(col("id"), UrlTools.registeredDomain(col("url")).as("d"))
      .orderBy("id").collect().map(r => Option(r.getString(1)))
    assert(out.toSeq == Seq(Some("example.co.uk"), Some("example.com"),
      Some("example.org"), Some("localhost"), None))
  }

  test("urlDedup keeps min id per canonical URL; malformed URLs all survive") {
    import graft.text.UrlTools
    val df = Seq(
      (3L, "https://www.ex.com/a?utm_source=t"), // same canonical as id 1
      (1L, "HTTPS://EX.com:443/a"),
      (2L, "https://ex.com/b"),
      (7L, "not a url"),
      (8L, "also not a url"))
      .toDF("id", "url")
    val kept = UrlTools.urlDedup(df, "id", "url")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L, 2L, 7L, 8L)) // 3 dropped; malformed kept
  }

  test("domainStats: per-domain docs/urls/weight; malformed volume under NULL") {
    import graft.text.UrlTools
    val df = Seq(
      // ex.com: 3 docs over 2 canonical urls (ids 1+2 share one)
      (1L, "https://www.ex.com/a?utm_source=t", 10L),
      (2L, "HTTPS://EX.com:443/a", 20L),
      (3L, "https://sub.ex.com/b", 30L),
      (4L, "http://other.org/x", 5L),
      (5L, "not a url", 7L))
      .toDF("id", "url", "w")
    val out = UrlTools.domainStats(df, "url", "w").collect()
      .map(r => Option(r.getString(0)) ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_urls"), r.getAs[Long]("w_sum"))))
      .toMap
    assert(out(Some("ex.com")) == ((3L, 2L, 60L)), out.toString)
    assert(out(Some("other.org")) == ((1L, 1L, 5L)))
    // malformed: counted (never silently dropped), but 0 distinct urls
    assert(out(None) == ((1L, 0L, 7L)))
  }

  test("blocklistFilter drops blocked registered domains incl. subdomains; NULL-domain rows survive") {
    import graft.text.UrlTools
    val df = Seq(
      (1L, "https://ex.com/a"),
      (2L, "https://deep.sub.ex.com/b"), // subdomain of a blocked domain
      (3L, "https://ok.org/c"),
      (4L, "https://shop.Blocked.co.uk/d"), // multi-part suffix
      (5L, "not a url"))
      .toDF("id", "url")
    // list side is messy on purpose: padding + case must not matter
    val blocked = Seq("  EX.com ", "blocked.CO.UK", "unused.net").toDF("domain")
    val kept = UrlTools.blocklistFilter(df, "url", blocked, "domain")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(3L, 5L), kept.toString)
    // the YAML step wires the same cut
    val tmp = java.nio.file.Files.createTempDirectory("graft-bl").toString
    df.write.mode("overwrite").parquet(s"$tmp/docs")
    blocked.write.mode("overwrite").parquet(s"$tmp/blocked")
    val conf = graft.conf.RecipeConf.load(
      s"""datasets:
         |  docs: {path: $tmp/docs, format: parquet}
         |  blocked: {path: $tmp/blocked, format: parquet}
         |recipes:
         |  cut:
         |    input: docs
         |    steps:
         |      - blocklist: {url: url, dataset: blocked, domain: domain}
         |""".stripMargin)
    val out = graft.conf.RecipeConf.run(spark, conf, "cut")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(out == Seq(3L, 5L))
  }

  test("extractHtmlText: blocks die whole, structure becomes lines, entities decode once") {
    import graft.text.Curation
    val html = "<html><head><title> T &amp;1 </title><style>p{x:y}</style></head>" +
      "<body><script>if (a<b) c();</script><h1>Head</h1>" +
      "<p>one &amp;lt; two</p><!-- c --><div>a&nbsp;b</div>plain <b>bold</b> tail</body></html>"
    val df = Seq((1L, html), (2L, "just  text \n\n here"), (3L, null.asInstanceOf[String]))
      .toDF("id", "h")
      .select(col("id"), Curation.extractHtmlText(col("h")).as("text"),
        Curation.htmlTitle(col("h")).as("title"))
    val m = df.collect().map(r => r.getLong(0) ->
      ((Option(r.getString(1)), Option(r.getString(2))))).toMap
    // the script's bare '<' must not desync tag stripping (blocks die
    // first); "&amp;lt;" decodes ONCE to the literal text "&lt;"
    assert(m(1L) == ((Some("Head\none &lt; two\na b\nplain bold tail"),
      Some("T &1"))), m(1L).toString)
    // non-HTML text: whitespace normalization only; no title
    assert(m(2L) == ((Some("just text\nhere"), Some(""))), m(2L).toString)
    assert(m(3L) == ((None, None)))
    // the YAML step wires the same pair
    val tmp = java.nio.file.Files.createTempDirectory("graft-html").toString
    Seq((1L, html)).toDF("id", "h").write.mode("overwrite").parquet(tmp)
    val conf = graft.conf.RecipeConf.load(
      s"""datasets:
         |  pages: {path: $tmp, format: parquet}
         |recipes:
         |  extract:
         |    input: pages
         |    steps:
         |      - html_extract: {html: h, text: body}
         |""".stripMargin)
    val out = graft.conf.RecipeConf.run(spark, conf, "extract").collect().head
    assert(out.getAs[String]("body").startsWith("Head\n"))
    assert(out.getAs[String]("html_title") == "T &1")
  }

  test("dsirWeights: hand-checked quantized importance; OOV floor; NULL for empty docs") {
    import graft.text.Curation
    // target LM: {a: 2, b: 1}  total=3 v=2 → denom 5
    //   qlp(a) = floor(log10(3/5)·1e4) = -2219, qlp(b) = floor(log10(2/5)·1e4) = -3980
    //   oov    = floor(log10(1/5)·1e4) = -6990
    // reference LM: {a: 1, b: 1, z: 1}  total=3 v=3 → denom 6
    //   qlp(a|b|z) = floor(log10(2/6)·1e4) = -4772, oov = floor(log10(1/6)·1e4) = -7782
    val target = Seq((10L, "a a b")).toDF("doc_id", "text")
    val ref = Seq((20L, "a b z")).toDF("doc_id", "text")
    val tLm = Curation.unigramLm(target, "text")
    val rLm = Curation.unigramLm(ref, "text")
    val docs = Seq(
      (1L, "a b"),   // (-2219 - -4772) + (-3980 - -4772) = 2553 + 792 = 3345
      (2L, "z"),     // target-OOV: -6990 - -4772 = -2218
      (3L, "q"),     // OOV in BOTH: -6990 - -7782 = 792
      (4L, ""),      // token-free → NULL weight
      (5L, "a a"))   // 2·2553 = 5106
      .toDF("doc_id", "text")
    val w = Curation.dsirWeights(docs, "doc_id", "text", tLm, rLm)
    assert(w.columns.toSeq == Seq("doc_id", "n_tok", "dsir_logw_q"))
    val m = w.collect().map(r => r.getLong(0) ->
      ((r.getInt(1), Option(r.get(2)).map(_.asInstanceOf[Long])))).toMap
    assert(m(1L) == ((2, Some(3345L))), m.toString)
    assert(m(2L) == ((1, Some(-2218L))), m.toString)
    assert(m(3L) == ((1, Some(792L))), m.toString)
    assert(m(4L) == ((0, None)), m.toString)
    assert(m(5L) == ((2, Some(5106L))), m.toString)
    // selection: weight desc with id tie-break; NULL weight ranks last
    val top = Curation.dsirSelect(docs, "doc_id", "text", tLm, rLm, k = 3)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(top == Seq(5L, 1L, 3L), top.toString)
    // an empty LM fails the job loudly, never silent NULL scores
    val err = intercept[Exception] {
      Curation.dsirWeights(docs, "doc_id", "text",
        tLm.filter(lit(false)), rLm).collect()
    }
    assert(err.getMessage != null)
  }

  test("selectTopFraction: exact k, boundary ties by min id, NULLs excluded, no global sort") {
    // scores: 90 → ids 1..3; 80 → ids 4..7; 70 → ids 8..10; NULL → 11
    val df = Seq(
      (1L, Some(90L)), (2L, Some(90L)), (3L, Some(90L)),
      (4L, Some(80L)), (5L, Some(80L)), (6L, Some(80L)), (7L, Some(80L)),
      (8L, Some(70L)), (9L, Some(70L)), (10L, Some(70L)),
      (11L, None)).toDF("id", "score")
    // frac 0.5 of 10 scored rows → k=5: all of 90 (3) + the two min-id
    // ties at the 80 boundary
    val top = Curation.selectTopFraction(df, "id", "score", 0.5)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(top == Seq(1L, 2L, 3L, 4L, 5L), top.toString)
    // frac 1.0 keeps every scored row, never the NULL
    assert(Curation.selectTopFraction(df, "id", "score", 1.0).count() == 10)
    // frac small enough that k floors to 0 → empty
    assert(Curation.selectTopFraction(df, "id", "score", 0.04).count() == 0)
    // k lands exactly on a score-group edge → no tie fill needed
    assert(Curation.selectTopFraction(df, "id", "score", 0.3)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
    // empty input stays empty; frac out of range rejects
    assert(Curation.selectTopFraction(df.limit(0), "id", "score", 0.5).count() == 0)
    intercept[IllegalArgumentException](
      Curation.selectTopFraction(df, "id", "score", 1.5))
    // the plan must not globally sort the corpus (no range partitioning
    // over the row set): the corpus meets only the broadcast threshold
    // row; the only TakeOrdered is the limit=1 threshold pick on the
    // histogram side
    val p = Curation.selectTopFraction(df, "id", "score", 0.5)
      .queryExecution.executedPlan.toString
    assert(!p.contains("rangepartitioning"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.replace("TakeOrderedAndProject(limit=1,", "").contains("TakeOrdered"),
      s"a corpus-sized driver top-k crept in:\n$p")
  }

  test("selectTopFractionByKey holds the fraction per group; NULL keys are a group") {
    // 'en': 8 rows scores 1..8 → k=4 keeps 5,6,7,8; 'fr': 4 rows all
    // score 9 (one tie group) → k=2 keeps min ids 21,22; NULL key: 2
    // rows → k=1 keeps the higher score
    val df = (
      (1L to 8L).map(i => (i, Some("en"), Some(i))) ++
      (21L to 24L).map(i => (i, Some("fr"), Some(9L))) ++
      Seq((31L, None, Some(5L)), (32L, None, Some(7L))) ++
      Seq((41L, Some("en"), None))  // NULL score: excluded from en's n
    ).toDF("id", "k", "score")
    val got = Curation.selectTopFractionByKey(df, "k", "id", "score", 0.5)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(5L, 6L, 7L, 8L, 21L, 22L, 32L), got.toString)
    // a global cut at the same frac would NOT hold per-group fractions:
    // per-group must keep exactly half of each group's scored rows
    val by = Curation.selectTopFractionByKey(df, "k", "id", "score", 0.5)
      .groupBy("k").count().collect()
      .map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(by == Map(Some("en") -> 4L, Some("fr") -> 2L, None -> 1L), by.toString)
    // no single-partition stage anywhere: every exchange/window keys on
    // the group (the improvement over the global variant's histogram)
    val p = Curation.selectTopFractionByKey(df, "k", "id", "score", 0.5)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange SinglePartition"), p)
    assert(!p.contains("rangepartitioning"), p)
    intercept[IllegalArgumentException](
      Curation.selectTopFractionByKey(df, "k", "id", "score", -0.1))
  }

  test("assignShards cuts per-bucket token-budget shards; manifest rolls them up") {
    // one bucket so the running sum is easy to reason about: 4 docs of
    // 3 tokens each, budget 5 → starts 0,3,6,9 → shards 0,0,1,1
    val df = Seq((1L, "a b c"), (2L, "d e f"), (3L, "g h i"), (4L, "j k l"))
      .toDF("id", "text")
    val sh = Curation.assignShards(df, "id", "text", budget = 5L, buckets = 1)
    val byDoc = sh.collect().map(r => r.getLong(0) -> r.getAs[String]("shard_id")).toMap
    assert(byDoc == Map(1L -> "0-0", 2L -> "0-0", 3L -> "0-1", 4L -> "0-1"), byDoc.toString)
    val mf = Curation.shardManifest(sh, "id").collect()
      .map(r => r.getAs[String]("shard_id") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"),
          r.getAs[Long]("min_id"), r.getAs[Long]("max_id"))).toMap
    assert(mf == Map("0-0" -> (2L, 6L, 1L, 2L), "0-1" -> (2L, 6L, 3L, 4L)), mf.toString)
    // docs stay whole: a doc bigger than the budget owns its shard and
    // the NEXT doc starts a new one
    val big = Seq((1L, ("w " * 9).trim), (2L, "x y")).toDF("id", "text")
    val bs = Curation.assignShards(big, "id", "text", budget = 5L, buckets = 1)
      .collect().map(r => r.getLong(0) -> r.getAs[String]("shard_id")).toMap
    assert(bs == Map(1L -> "0-0", 2L -> "0-1"), bs.toString)
    // buckets spread deterministically; reruns agree
    val spread = Curation.assignShards(df, "id", "text", 5L, buckets = 8, salt = "v1")
    assert(spread.collect().map(r => r.getLong(0) -> r.getAs[String]("shard_id")).toMap ==
      Curation.assignShards(df, "id", "text", 5L, buckets = 8, salt = "v1")
        .collect().map(r => r.getLong(0) -> r.getAs[String]("shard_id")).toMap)
    intercept[IllegalArgumentException](
      Curation.assignShards(df, "id", "text", budget = 0L))
  }
}
