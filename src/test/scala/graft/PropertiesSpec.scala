package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import graft.functions.{Similarity, Tools}
import graft.dedup.Dedup

/** Property tests (SURVEY.md §5 test plan): invariants of the string
  * metrics and normalizers. Pure-JVM properties run per-sample; Column
  * properties batch generated rows through one Spark job. */
class PropertiesSpec extends SparkSpec {

  /** Minimal forAll over ScalaCheck Gens (the scalatest-scalacheck
    * bridge isn't in the offline dependency set): 200 samples each. */
  private def forAll[A, B](ga: Gen[A], gb: Gen[B])(f: (A, B) => Unit): Unit =
    (1 to 200).foreach { i =>
      val seed = org.scalacheck.rng.Seed(i.toLong)
      f(ga.pureApply(Gen.Parameters.default, seed),
        gb.pureApply(Gen.Parameters.default, seed.next))
    }
  private def forAll[A, B, C](ga: Gen[A], gb: Gen[B], gc: Gen[C])(f: (A, B, C) => Unit): Unit =
    (1 to 200).foreach { i =>
      val seed = org.scalacheck.rng.Seed(i.toLong)
      f(ga.pureApply(Gen.Parameters.default, seed),
        gb.pureApply(Gen.Parameters.default, seed.next),
        gc.pureApply(Gen.Parameters.default, seed.next.next))
    }
  import spark.implicits._

  private val word = Gen.listOf(Gen.alphaNumChar).map(_.mkString)
  private val accented = Gen.listOf(Gen.oneOf(
    ('a' to 'z') ++ Seq('é', 'à', 'ü', 'ñ', 'ç', ' ', '-', '!', '7'))).map(_.mkString)

  test("damerau: identity, symmetry, non-negative, ≤ max length") {
    forAll(word, word) { (a, b) =>
      val d = Similarity.damerau(a, b)
      assert(d == Similarity.damerau(b, a))
      assert(d >= 0 && d <= math.max(a.length, b.length))
      assert(Similarity.damerau(a, a) == 0)
    }
  }

  test("damerau: triangle inequality") {
    forAll(word, word, word) { (a, b, c) =>
      assert(Similarity.damerau(a, c) <=
        Similarity.damerau(a, b) + Similarity.damerau(b, c))
    }
  }

  test("jaro-winkler ∈ [0,1]; 1 iff equal non-empty; symmetric") {
    forAll(word, word) { (a, b) =>
      val j = Similarity.jaroWinkler(a, b)
      assert(j >= 0.0 && j <= 1.0)
      assert(math.abs(j - Similarity.jaroWinkler(b, a)) < 1e-12)
      if (a.nonEmpty) assert(Similarity.jaroWinkler(a, a) == 1.0)
    }
  }

  test("normalize is idempotent and produces only [0-9a-z ] (batched)") {
    val samples = Gen.listOfN(200, accented).sample.get
    val df = samples.toDF("s")
      .withColumn("n1", Tools.normalize(col("s")))
      .withColumn("n2", Tools.normalize(Tools.normalize(col("s"))))
    val rowsOut = df.collect()
    rowsOut.foreach { r =>
      val (n1, n2) = (r.getAs[String]("n1"), r.getAs[String]("n2"))
      assert(n1 == n2, s"not idempotent on ${r.getAs[String]("s")}")
      assert(n1.matches("[0-9a-z ]*"), s"bad chars in $n1")
      assert(!n1.startsWith(" ") && !n1.endsWith(" "))
    }
  }

  test("levNorm ∈ [0,1] and 1.0 for equal strings (batched)") {
    val samples = Gen.listOfN(200, Gen.zip(word, word)).sample.get
    val df = samples.toDF("a", "b")
      .withColumn("s", Similarity.levNorm(col("a"), col("b")))
      .withColumn("self", Similarity.levNorm(col("a"), col("a")))
    df.collect().foreach { r =>
      val s = r.getAs[Double]("s")
      assert(s >= 0.0 && s <= 1.0)
      assert(r.getAs[Double]("self") == 1.0)
    }
  }

  test("fingerprint is invariant under token order, case, punctuation (batched)") {
    val base = Gen.listOfN(50, Gen.nonEmptyListOf(Gen.oneOf(
      "alpha", "beta", "gamma", "delta")).map(_.distinct)).sample.get
    val df = base.map { toks =>
      (toks.mkString(" "), scala.util.Random.shuffle(toks).mkString(", ").toUpperCase)
    }.toDF("a", "b")
      .withColumn("fa", Dedup.fingerprint(col("a")))
      .withColumn("fb", Dedup.fingerprint(col("b")))
    df.collect().foreach { r =>
      assert(r.getAs[String]("fa") == r.getAs[String]("fb"))
    }
  }

  test("SQL-registered scalars match their Column twins (batched parity)") {
    graft.functions.Registry.register(spark)
    import graft.functions.{Similarity, Tools}
    val strs = (1 to 100).map { i =>
      val seed = org.scalacheck.rng.Seed(i.toLong)
      (accented.pureApply(Gen.Parameters.default, seed),
        accented.pureApply(Gen.Parameters.default, seed.next))
    }
    val df = strs.toDF("a", "b")
    df.selectExpr("a", "b",
        "graft_normalize(a) AS sn", "graft_jw(a, b) AS sj",
        "levenshtein_norm(a, b) AS sl")
      .withColumn("cn", Tools.normalize(col("a")))
      .withColumn("cj", Similarity.jw(col("a"), col("b")))
      .withColumn("cl", Similarity.levNorm(col("a"), col("b"), "damerau"))
      .collect().foreach { r =>
        assert(r.getString(2) == r.getString(5), s"normalize drift on ${r.getString(0)}")
        assert(r.getDouble(3) == r.getDouble(6), s"jw drift on ${r.getString(0)}")
        assert(r.getDouble(4) == r.getDouble(7), s"levnorm drift on ${r.getString(0)}")
      }
    val pts = Seq((48.85, 2.35, 40.71, -74.0), (0.0, 0.0, 0.0, 0.0))
      .toDF("x1", "y1", "x2", "y2")
    pts.selectExpr("x1", "y1", "x2", "y2", "graft_distance_km(x1, y1, x2, y2) AS s")
      .withColumn("c", graft.functions.Tools.haversineKm(
        col("x1"), col("y1"), col("x2"), col("y2")))
      .collect().foreach(r => assert(r.getDouble(4) == r.getDouble(5)))
  }

  // ------------------------------------------------ curation invariants
  private val tokenList =
    Gen.listOf(Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString))

  test("chunk: stride=size partitions the tokens exactly; overlap covers every token (batched)") {
    import graft.text.Curation
    val docs = (1 to 100).map { i =>
      val seed = org.scalacheck.rng.Seed(i.toLong)
      (i.toLong, tokenList.pureApply(Gen.Parameters.default, seed).mkString(" "))
    }
    val df = docs.toDF("id", "text")
    // stride == size: chunks concatenate back to the tokenized text
    // (collect_list has no order guarantee — sort by chunk_id in the
    // aggregate, the TextAnalysis.dedupLines reassembly pattern)
    val exact = Curation.chunk(df, "id", "text", size = 4, stride = 4)
      .groupBy("id").agg(concat_ws(" ",
        transform(array_sort(collect_list(struct(col("chunk_id"), col("chunk_text")))),
          s => s.getField("chunk_text"))).as("re"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    docs.foreach { case (id, text) =>
      val toks = text.split("\\s+").filter(_.nonEmpty).mkString(" ")
      assert(exact.getOrElse(id, "") == toks, s"id=$id")
    }
    // overlapping: every token index is inside >= 1 chunk, n_tok <= size
    val over = Curation.chunk(df, "id", "text", size = 5, stride = 2)
      .groupBy("id").agg(sum(col("n_tok")).as("s"), max(col("n_tok")).as("m"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    docs.foreach { case (id, text) =>
      val n = text.split("\\s+").count(_.nonEmpty)
      if (n > 0) {
        val (sumTok, maxTok) = over(id)
        assert(maxTok <= 5 && sumTok >= n, s"id=$id n=$n got $sumTok/$maxTok")
      } else assert(!over.contains(id))
    }
  }

  test("packSequences matches the sequential reference packing (batched)") {
    import graft.text.Curation
    // docs with known token counts ("w" repeated n times) over a few
    // shards; empties interleaved. One Spark job per budget.
    val nTok = Gen.chooseNum(0, 9)
    val shard = Gen.oneOf("en", "fr", "de")
    val docs = (1 to 300).map { i =>
      val seed = org.scalacheck.rng.Seed(i.toLong)
      val n = nTok.pureApply(Gen.Parameters.default, seed)
      val s = shard.pureApply(Gen.Parameters.default, seed.next)
      (i.toLong, Seq.fill(n)("w").mkString(" "), s, n.toLong)
    }
    val df = docs.map { case (id, t, s, _) => (id, t, s) }
      .toDF("doc_id", "text", "lang")
    for (budget <- Seq(1, 7, 64)) {
      val got = Curation.packSequences(df, "doc_id", "text", budget, "lang")
        .collect().map(r => r.getLong(0) ->
          (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      // sequential reference: per shard in id order, exclusive cumsum
      val expect = docs.filter(_._4 > 0).groupBy(_._3).flatMap { case (_, ds) =>
        var acc = 0L
        ds.sortBy(_._1).map { case (id, _, _, n) =>
          val row = id -> (n, acc / budget, acc % budget)
          acc += n; row
        }
      }
      assert(got.keySet == expect.keySet, s"budget=$budget")
      expect.foreach { case (id, e) =>
        assert(got(id) == e, s"budget=$budget id=$id got=${got(id)} want=$e")
      }
      // structural invariant independent of the reference: offsets live
      // inside the budget
      got.values.foreach { case (_, _, off) =>
        assert(off >= 0 && off < budget)
      }
    }
  }

  test("bpeMergeApply: content-preserving, pair-eliminating, JVM-reference-equal (batched)") {
    import graft.text.Curation
    // random short lowercase words over a 3-letter alphabet (dense
    // pair collisions), random pairs of 1-2 char symbols. Invariants:
    // (1) removing separators reproduces the word (merging never edits
    // content); (2) no adjacent (a,b) pair survives the round (the
    // fold fires wherever last==a ∧ next==b, and a merged symbol can
    // never equal `a` again because b is non-empty); (3) the Column
    // fold equals a JVM reference scan (Sennrich i+=2 with rescan).
    val wordG = Gen.chooseNum(1, 12).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString))
    val symG = Gen.chooseNum(1, 2).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString))
    val cases = (1 to 300).map { i =>
      val seed = org.scalacheck.rng.Seed(i.toLong)
      val w = wordG.pureApply(Gen.Parameters.default, seed)
      val a = symG.pureApply(Gen.Parameters.default, seed.next)
      val b = symG.pureApply(Gen.Parameters.default, seed.next.next)
      (i.toLong, w.mkString("~"), a, b) // chars joined as initial symbols
    }
    def jvmFold(s: String, a: String, b: String): String = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      s.split("~").foreach { x =>
        if (out.nonEmpty && out.last == a && x == b)
          out(out.length - 1) = a + b
        else out += x
      }
      out.mkString("~")
    }
    // group by pair so each distinct (a,b) runs as ONE Spark job
    cases.groupBy(c => (c._3, c._4)).foreach { case ((a, b), cs) =>
      val df = cs.map(c => (c._1, c._2)).toDF("id", "s")
      val got = df.select(col("id"), Curation.bpeMergeApply(col("s"), a, b))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      cs.foreach { case (id, s, _, _) =>
        val g = got(id)
        assert(g.replace("~", "") == s.replace("~", ""), s"content drift: $s -> $g")
        assert(!g.split("~").toSeq.sliding(2).exists(p =>
          p.length == 2 && p(0) == a && p(1) == b),
          s"pair ($a,$b) survived in $g")
        assert(g == jvmFold(s, a, b), s"fold mismatch: $s -> $g vs ${jvmFold(s, a, b)}")
      }
    }
  }

  test("scrubPii is idempotent; repetition/gopher fractions stay in [0,1] (batched)") {
    import graft.text.Curation
    val messy = Gen.listOf(Gen.oneOf(
      Seq("bob@x.org", "10.0.0.1", "+3312345678", "word", "1.2.3.4.5",
        "a.b", "#", "...", "-", "\n", "the"))).map(_.mkString(" "))
    val docs = (1 to 100).map { i =>
      val seed = org.scalacheck.rng.Seed(i.toLong)
      (i.toLong, messy.pureApply(Gen.Parameters.default, seed))
    }
    val df = docs.toDF("id", "text")
    val once = df.select(col("id"), Curation.scrubPii(col("text")).as("s1"))
    val twice = once.select(col("id"), col("s1"),
      Curation.scrubPii(col("s1")).as("s2"))
    twice.collect().foreach { r =>
      assert(r.getString(1) == r.getString(2), s"not idempotent: ${r.getString(1)}")
    }
    val rep = Curation.repetitionStats(df, "id", "text").collect()
    rep.foreach { r =>
      Seq(1, 2, 3).foreach { i =>
        val v = r.getDouble(i)
        assert(v >= 0.0 && v <= 1.0, s"fraction out of range: $v")
      }
    }
    val gq = Curation.gopherQuality(df, "id", "text").collect()
    gq.foreach { r =>
      Seq(4, 5, 6).foreach { i => // bullet/ellipsis/alpha fractions
        val v = r.getDouble(i)
        assert(v >= 0.0 && v <= 1.0, s"fraction out of range: $v")
      }
    }
  }

  /** The Column spelling of the Gopher rules, metric for metric the one
    * the SQL oracle mirrors: the parity reference for
    * Curation.gopherStr. */
  private def gopherColumns(c: Column, minWords: Int, maxWords: Int,
      stopwords: Seq[String]): Seq[Column] = {
    val toks = Tools.tokenize(c)
    val nWords = when(c.isNull, lit(null).cast("int")).otherwise(size(toks))
    val meanLen = when(nWords === 0, lit(0.0)).otherwise(
      length(regexp_replace(c, "\\s", "")).cast("double") / nWords.cast("double"))
    val hashes = length(c) - length(regexp_replace(c, "#", ""))
    val ellipses = (length(c) - length(regexp_replace(c, "\\.\\.\\.", ""))) / lit(3)
    val symbolRatio = when(nWords === 0, lit(0.0)).otherwise(
      (hashes + ellipses).cast("double") / nWords.cast("double"))
    val lines = split(c, "\n")
    val nLines = size(lines)
    val bulletFrac = when(nLines === 0, lit(0.0)).otherwise(
      size(filter(lines, l => ltrim(l).rlike("^[-*•]"))).cast("double") /
        nLines.cast("double"))
    val ellipsisFrac = when(nLines === 0, lit(0.0)).otherwise(
      size(filter(lines, l => rtrim(l).rlike("\\.\\.\\.$"))).cast("double") /
        nLines.cast("double"))
    val alphaFrac = when(nWords === 0, lit(0.0)).otherwise(
      size(filter(toks, t => t.rlike("[A-Za-z]"))).cast("double") /
        nWords.cast("double"))
    val stopHits = when(c.isNull, lit(null).cast("int")).otherwise(
      size(array_intersect(
        array_distinct(Tools.tokenize(lower(c))), array(stopwords.map(lit): _*))))
    val m = Seq(
      "n_words" -> nWords,
      "mean_word_len" -> round(meanLen, 4),
      "symbol_ratio" -> round(symbolRatio, 4),
      "bullet_frac" -> round(bulletFrac, 4),
      "ellipsis_frac" -> round(ellipsisFrac, 4),
      "alpha_frac" -> round(alphaFrac, 4),
      "stop_hits" -> stopHits)
    val v = m.toMap
    val keep = v("n_words").between(minWords, maxWords) &&
      v("mean_word_len").between(3.0, 10.0) &&
      v("symbol_ratio") <= 0.1 &&
      v("bullet_frac") <= 0.9 &&
      v("ellipsis_frac") <= 0.3 &&
      v("alpha_frac") >= 0.8 &&
      v("stop_hits") >= 2
    m.map { case (n, e) => e.as(n) } :+ keep.as("keep")
  }

  test("Gopher kernel is bit-equal to the Column spelling, metrics and keep (batched)") {
    import graft.text.Curation
    val adversarial = Seq(null, "", " ", "\t\n \r\n", "\u000B\f", "\u00A0",
      "a \u2028", "a b \u0085", "the a\t\u2029", "  \u2028", "a\u2028", "x \r\n",
      "one\r\ntwo...\r\nthree... \r\n", "end... ", "end...\r", "end...\u2028 ",
      "end... \u2029", "....\n......\n.....", "# ## ### a#b",
      "  • x\n\t- y\n   * z\n-\n•", "\t• tabbed\n \t* mixed",
      "😀 emoji 𝔘𝔫𝔦 the a 😀😀", "İstanbul İ i\u0307 the A",
      "ẞ STRAẞE ß the THE a", "ΟΔΟΣ ΣΟΦΟΣ the a", "\uA7C0 \u2C2F the",
      "\n\n\n", "the\nthe\na\n", "a\u00A0b the\u00A0a",
      "the data of " * 20, "the a word word word")
    val piece = Gen.oneOf(Seq("the", "The", "THE", "a", "A", "of", "be", "İ", "ẞ",
      "ß", "ΣΟΦΟΣ", "word", "x1", "42", "#", "...", "....", "......", "-", "*",
      "•", "😀", "𝔘", " ", "  ", "\t", "\n", "\r\n", "\u000B", "\f", "\u00A0",
      "\u0085", "\u2028", "\u2029", "... ", "end..."))
    val random = (1 to 300).map { i =>
      val seed = org.scalacheck.rng.Seed(i.toLong)
      Gen.listOf(piece).map(_.mkString(if (i % 2 == 0) " " else ""))
        .pureApply(Gen.Parameters.default, seed)
    }
    val docs = (adversarial ++ random).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    def bits(r: org.apache.spark.sql.Row): Seq[Any] = r.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case v => v
    }
    val rules = Seq((50, 100000, Curation.gopherStopwords),
      // U+A7C0/U+2C2F lowercase only under ICU's newer Unicode tables
      (3, 12, Seq("the", "a", "ß", "i\u0307", "i", "σοφος", "σοφοσ", "ΟΔΟΣ",
        "\uA7C1", "\u2C5F")))
    val icuKey = "spark.sql.icu.caseMappings.enabled"
    val icu0 = spark.conf.getOption(icuKey)
    try for (icu <- Seq("true", "false"); (lo, hi, sw) <- rules) {
      spark.conf.set(icuKey, icu)
      val ref = docs.select(col("id") +: gopherColumns(col("text"), lo, hi, sw): _*)
        .collect().map(r => r.getLong(0) -> bits(r)).toMap
      val got = Curation.gopherQuality(docs, "id", "text", lo, hi, sw)
        .collect().map(r => r.getLong(0) -> bits(r)).toMap
      val keeps = docs.select(col("id"),
          Curation.gopherKeep(col("text"), lo, hi, sw).as("keep"))
        .collect().map(r => r.getLong(0) -> r.get(1)).toMap
      val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got.keySet == ref.keySet)
      ref.foreach { case (id, want) =>
        assert(got(id) == want,
          s"icu=$icu rules=($lo,$hi): metrics drift on ${texts(id)}")
        assert(keeps(id) == want.last,
          s"icu=$icu rules=($lo,$hi): keep drift on ${texts(id)}")
      }
      assert(ref.values.exists(_.last == true) && ref.values.exists(_.last == false),
        s"rules ($lo,$hi) must land docs on both sides of keep")
    } finally icu0.fold(spark.conf.unset(icuKey))(spark.conf.set(icuKey, _))
    // the tokenizer twin on its own
    docs.select(col("text"), Tools.tokenize(col("text")).as("t")).collect()
      .foreach { r =>
        val want = Option(r.getSeq[String](1)).map(_.toSeq)
        assert(Option(Tools.tokenizeStr(r.getString(0))).map(_.toSeq) == want,
          s"tokenize drift on ${r.getString(0)}")
      }
  }

  test("URL canonicalization is idempotent and domain-stable over generated URLs") {
    import graft.text.UrlTools
    // structured random URLs covering every rule at once: mixed-case
    // scheme/host, stacked www. prefixes, userinfo, default/explicit
    // ports, mixed-case paths, shuffled tracking + real params, fragments
    val label = Gen.choose(1, 3).flatMap(n =>
      Gen.listOfN(n, Gen.alphaChar).map(_.mkString))
    val gUrl: Gen[String] = for {
      scheme <- Gen.oneOf("http", "HTTP", "https", "HTTPS", "ftp")
      user <- Gen.oneOf("", "alice@", "bob:secret@")
      www <- Gen.oneOf("", "www.", "WWW.www.")
      h1 <- label; h2 <- label
      tld <- Gen.oneOf("com", "org", "co.uk", "net", "CO.UK")
      port <- Gen.oneOf("", ":80", ":443", ":8080")
      segs <- Gen.listOf(label).map(_.take(3))
      params <- Gen.someOf(Seq("b=2", "a=1", "utm_source=x", "fbclid=y",
        "Zz=3")).map(_.toList)
      frag <- Gen.oneOf("", "#Top", "#s1")
    } yield s"$scheme://$user$www$h1.$h2.$tld$port" +
      (if (segs.isEmpty) "" else segs.mkString("/", "/", "")) +
      (if (params.isEmpty) "" else params.mkString("?", "&", "")) + frag
    val urls = (1 to 300).map { i =>
      gUrl.pureApply(Gen.Parameters.default, org.scalacheck.rng.Seed(i.toLong))
    }
    import spark.implicits._
    val out = urls.toDF("url")
      .select(col("url"),
        UrlTools.normalizeUrl(col("url")).as("n1"),
        UrlTools.normalizeUrl(UrlTools.normalizeUrl(col("url"))).as("n2"),
        UrlTools.registeredDomain(col("url")).as("d1"),
        UrlTools.registeredDomain(UrlTools.normalizeUrl(col("url"))).as("d2"))
      .collect()
    out.foreach { r =>
      val (u, n1, n2) = (r.getString(0), r.getString(1), r.getString(2))
      assert(n1 != null, s"well-formed URL must normalize: $u")
      // the canonical form is a FIXED POINT — re-normalizing changes nothing
      assert(n1 == n2, s"not idempotent: $u -> $n1 -> $n2")
      // the registered domain survives canonicalization unchanged
      assert(r.getString(3) == r.getString(4),
        s"domain drifted: $u -> ${r.getString(3)} vs ${r.getString(4)}")
      // invariants of the canonical form itself
      assert(!n1.contains("#") && !n1.contains("@"),
        s"fragment/userinfo leaked: $u -> $n1")
      assert(!n1.contains("utm_") && !n1.contains("fbclid"),
        s"tracking param leaked: $u -> $n1")
    }
  }

  test("selectTopFraction equals the brute-force top-k under (score desc, id) (batched)") {
    // random score multisets (heavy ties by design: scores drawn from a
    // small range) × random fracs — the engine's histogram + threshold +
    // tie-rank plan must reproduce the in-memory sorted prefix exactly
    val sizes = Gen.choose(0, 60)
    val fracs = Gen.oneOf(0.0, 0.04, 0.25, 0.5, 0.77, 1.0)
    (1 to 30).foreach { i =>
      val seed = org.scalacheck.rng.Seed(i.toLong)
      val n = sizes.pureApply(Gen.Parameters.default, seed)
      val frac = fracs.pureApply(Gen.Parameters.default, seed.next)
      val rnd = new scala.util.Random(i)
      val rows = (1L to n).map(id =>
        (id, if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(5).toLong)))
      val df = rows.toDF("id", "score")
      val got = graft.text.Curation.selectTopFraction(df, "id", "score", frac)
        .collect().map(_.getLong(0)).sorted.toSeq
      val scored = rows.collect { case (id, Some(s)) => (id, s) }
      val k = (scored.size.toLong * math.round(frac * 10000)) / 10000
      val want = scored.sortBy { case (id, s) => (-s, id) }
        .take(k.toInt).map(_._1).sorted.toSeq
      assert(got == want, s"n=$n frac=$frac: got=$got want=$want")
    }
  }

  test("rankBuckets equals the brute-force bucketing under (score desc, id) (batched)") {
    // the q90 contract as a property: for random heavy-tie score
    // multisets (with NULLs) and random cut sets, every scored row's
    // bucket must equal #{cuts below its global rank} — which also
    // forces bucket ≤ j to hold exactly k_j rows at every cut
    val sizes = Gen.choose(0, 60)
    val cutSets = Gen.oneOf(Seq(0.5), Seq(1.0 / 3, 2.0 / 3),
      Seq(0.1, 0.2, 0.9), Seq(0.25, 0.5, 0.75))
    (1 to 25).foreach { i =>
      val seed = org.scalacheck.rng.Seed(i.toLong)
      val n = sizes.pureApply(Gen.Parameters.default, seed)
      val cuts = cutSets.pureApply(Gen.Parameters.default, seed.next)
      val rnd = new scala.util.Random(i)
      val rows = (1L to n).map(id =>
        (id, if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(5).toLong)))
      val got = graft.text.Curation.rankBuckets(
          rows.toDF("id", "score"), "id", "score", cuts)
        .collect().map(r => r.getLong(0) -> Option(r.getAs[Integer]("bucket")))
        .toMap
      val scored = rows.collect { case (id, Some(s)) => (id, s) }
      val ks = cuts.map(f =>
        scored.size.toLong * math.round(f * 10000) / 10000)
      val want = scored.sortBy { case (id, s) => (-s, id) }.zipWithIndex
        .map { case ((id, _), idx) =>
          id -> Some(Integer.valueOf(ks.count(_ < idx + 1)))
        }.toMap ++ rows.collect { case (id, None) => id -> None }
      assert(got == want, s"i=$i n=$n cuts=$cuts: got=$got want=$want")
    }
  }

  test("z-order interleave round-trips every quantized coordinate (batched)") {
    import graft.sources.Layout
    // decode-in-test inverse: bit i·ncols+j of z is bit i of coord j —
    // if the interleave misplaces any bit for any (bits, ncols), some
    // generated point fails to round-trip
    for (bits <- Seq(3, 8, 10); ncols <- Seq(2, 3)) {
      val rnd = new scala.util.Random(bits * 31 + ncols)
      val max = (1L << bits) - 1
      val pts = (0 until 200).map { i =>
        (i.toLong, Seq.fill(ncols)(rnd.nextLong().abs % (max + 1)))
      }
      val df = pts.map { case (id, cs) => (id, cs.head, cs(1), cs.lift(2).getOrElse(0L)) }
        .toDF("id", "c0", "c1", "c2")
      val cols = (0 until ncols).map(j => col(s"c$j"))
      val z = df.select(col("id"), Layout.interleave(cols, bits).as("z"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      pts.foreach { case (id, cs) =>
        val decoded = (0 until ncols).map { j =>
          (0 until bits).foldLeft(0L) { (acc, i) =>
            acc | (((z(id) >> (i * ncols + j)) & 1L) << i)
          }
        }
        assert(decoded == cs, s"bits=$bits ncols=$ncols id=$id: " +
          s"z=${z(id)} decoded=$decoded want=$cs")
      }
    }
  }

  test("stratifiedSplit quotas: every stratum gets exactly floor(n_s·cum_bp/10000) cuts (batched)") {
    val weights = Seq(
      Seq("a" -> 0.5, "b" -> 0.5),
      Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05),
      Seq("x" -> 0.33, "y" -> 0.33, "z" -> 0.34))
    (1 to 15).foreach { i =>
      val rnd = new scala.util.Random(i)
      val splits = weights(i % weights.size)
      val rows = (1L to (10 + rnd.nextInt(200))).map(id =>
        (id, s"s${rnd.nextInt(4)}"))
      val df = rows.toDF("id", "k")
      val got = graft.operators.Ops.stratifiedSplit(df, "k", "id", s"salt$i", splits)
        .groupBy("k", "split").count().collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      val cumBp = splits.scanLeft(0L) { case (acc, (_, w)) =>
        acc + math.round(w * 10000) }.tail
      rows.groupBy(_._2).foreach { case (stratum, rs) =>
        val nS = rs.size.toLong
        val quotas = cumBp.map(bp => nS * bp / 10000)
        val perSplit = splits.map(_._1).zip(
          quotas.zip(0L +: quotas.init).map { case (hi, lo) => hi - lo })
        // last split takes the remainder
        val want = (perSplit.init :+
          (splits.last._1 -> (nS - quotas.init.lastOption.getOrElse(0L)))).toMap
        splits.map(_._1).foreach { name =>
          assert(got.getOrElse((stratum, name), 0L) == want(name),
            s"i=$i stratum=$stratum: got=${got.filter(_._1._1 == stratum)} want=$want")
        }
      }
    }
  }

  test("incrementalNearDups: no false flags, certain clone recall, verdict consistency (batched)") {
    // 8 generated cases with DISJOINT vocabularies (cross-case Jaccard
    // is exactly 0, so one union-frame run covers them all); small
    // shared vocab per case makes natural overlap — including pairs
    // near the threshold — frequent. One exact corpus clone is planted
    // into each case's batch: identical shingle sets give identical
    // signatures, so clone recall is CERTAIN, not probabilistic.
    val rnd = new scala.util.Random(7)
    final case class Doc(id: Long, text: String)
    val cases = (0 until 8).map { k =>
      val v = (0 until 12).map(i => s"w${k}x$i")
      def doc(i: Int, base: Long) = Doc(base + i,
        Seq.fill(4 + rnd.nextInt(7))(v(rnd.nextInt(v.size))).mkString(" "))
      val corpus = (0 until 20).map(i => doc(i, k * 1000L))
      val batch = (0 until 8).map(i => doc(i, k * 1000L + 500)) :+
        Doc(k * 1000L + 599, corpus(rnd.nextInt(corpus.size)).text)
      (batch, corpus)
    }
    val batchDf = cases.flatMap(_._1).map(d => (d.id, d.text)).toDF("doc_id", "text")
    val corpusDf = cases.flatMap(_._2).map(d => (d.id, d.text)).toDF("doc_id", "text")
    val out = Dedup.incrementalNearDups(batchDf, corpusDf, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double]),
          r.getBoolean(3)))).toMap
    def shingles(text: String): Set[String] = {
      val t = text.split("\\s+").filter(_.nonEmpty).toSeq
      if (t.isEmpty) Set.empty
      else if (t.length < 3) Set(t.mkString(" "))
      else t.sliding(3).map(_.mkString(" ")).toSet
    }
    // the engine's exact arithmetic: double division rounded to 4dp
    // HALF_UP (Spark round) before the threshold compare
    def jac4(a: Set[String], b: Set[String]): Double = {
      val i = (a & b).size.toDouble
      if (a.isEmpty || b.isEmpty) 0.0
      else BigDecimal(i / (a.size + b.size - i))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    for ((batch, corpus) <- cases; d <- batch) {
      val ex = corpus.map(c => jac4(shingles(d.text), shingles(c.text)))
      val exHits = ex.filter(_ >= 0.6)
      val (n, mx, kept) = out(d.id)
      assert(kept == (n == 0L), s"doc ${d.id}")
      // bands only bound the comparison set — never a flag the
      // exhaustive truth lacks
      assert(n <= exHits.size, s"doc ${d.id}: engine $n > exhaustive ${exHits.size}")
      if (n > 0)
        assert(mx.get >= 0.6 && mx.get <= exHits.max,
          s"doc ${d.id}: max ${mx.get} vs exhaustive ${exHits.max}")
      if (ex.contains(1.0)) { // planted (or accidental) exact clone
        assert(n >= 1L, s"doc ${d.id}: clone missed")
        assert(mx.get == 1.0, s"doc ${d.id}: clone max ${mx.get}")
      }
    }
  }

  test("sourceOverlap equals brute force on generated frames (batched)") {
    // 10 cases union into one frame (case-tagged sources and texts keep
    // them disjoint); JVM brute force recomputes the whole matrix
    val rnd = new scala.util.Random(11)
    val rows = (0 until 10).flatMap { k =>
      val texts = (0 until 6).map(i => s"t${k}x$i")
      (0 until 40).map { _ =>
        (s"c${k}s${rnd.nextInt(4)}", texts(rnd.nextInt(texts.size))) }
    }
    val out = Dedup.sourceOverlap(rows.toDF("source", "text"), "source", "text")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    val keys = rows.distinct // distinct (source, text); md5 is injective here
    val tot = keys.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val pairCnt = scala.collection.mutable.Map.empty[(String, String), Long]
    for ((_, ss) <- keys.groupBy(_._2); a <- ss.map(_._1); b <- ss.map(_._1)
         if a < b)
      pairCnt((a, b)) = pairCnt.getOrElse((a, b), 0L) + 1L
    assert(out.keySet == pairCnt.keySet,
      s"pair sets differ: extra=${out.keySet -- pairCnt.keySet} " +
        s"missing=${pairCnt.keySet -- out.keySet}")
    for (((a, b), n) <- pairCnt) {
      val (ns, na, nb, bp) = out((a, b))
      assert(ns == n && na == tot(a) && nb == tot(b), s"($a,$b)")
      assert(bp == n * 10000L / math.min(na, nb), s"($a,$b) bp $bp")
    }
  }

  test("perceptron fit is a pure function of the row SET (partitioning/order invariant)") {
    // batch updates must make the fit independent of physical layout —
    // the determinism the oracle replay and retries both rely on
    val rnd = new scala.util.Random(23)
    val vocab = Vector("data", "spark", "rowx", "keyz", "good", "spam", "href")
    val rows = (1L to 120L).map { i =>
      val len = 3 + rnd.nextInt(8)
      val marker = if (i % 2 == 0) " alpha signal" else " beta noise"
      (i, Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" ") + marker,
        if (i % 13 == 0) -(if (i % 2 == 0) 1L else -1L)
        else (if (i % 2 == 0) 1L else -1L))
    }
    def weights(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      graft.ml.LinearClassifier.trainTextClassifier(df, "id", "text", "y",
          buckets = 64, epochs = 3, binary = true, localThreshold = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val base = rows.toDF("id", "text", "y")
    val w1 = weights(base.repartition(7))
    val w2 = weights(base.repartition(3, col("id")))
    val w3 = weights(spark.createDataFrame(
      spark.sparkContext.parallelize(rnd.shuffle(rows), 5))
      .toDF("id", "text", "y"))
    assert(w1 == w2 && w2 == w3,
      "fit must not depend on partitioning or row order")
    // ... and the driver regime agrees with all of them (binary pin is
    // one fixture; this pins it across layouts)
    val wLocal = graft.ml.LinearClassifier.trainTextClassifier(base,
        "id", "text", "y", buckets = 64, epochs = 3, binary = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(wLocal == w1)
  }

  test("containment (word unit) matches brute force on generated corpora") {
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    for (seed <- Seq(3, 17, 41)) {
      val rnd = new scala.util.Random(seed)
      // lengths from 1 so the short-doc whole-text-shingle fold is LIVE
      // on both sides (3+ would leave that branch dead code)
      val docs = (1L to 35L).map { i =>
        val len = 1 + rnd.nextInt(11)
        (i, Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "), "b")
      }
      val got = Dedup.containmentPairs(docs.toDF("id", "text", "blk"),
          "id", "text", "blk", n = 3, thresholdBp = 6000L)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
      // brute force over distinct STRING word shingles (short docs fold
      // to one whole-text shingle — the minhash contract)
      def sh(t: String): Set[String] = {
        val toks = t.split(" ").toSeq
        if (toks.length < 3) Set(toks.mkString(" "))
        else toks.sliding(3).map(_.mkString(" ")).toSet
      }
      val want = (for {
        a <- docs; b <- docs if a._1 < b._1
        sa = sh(a._2); sb = sh(b._2)
        bp = sa.intersect(sb).size.toLong * 10000L / math.min(sa.size, sb.size)
        if bp >= 6000L
      } yield (a._1, b._1) -> bp).toMap
      assert(got == want, s"seed $seed: got ${got.size}, want ${want.size}")
    }
  }

  test("n-gram Jaccard matches brute force on generated corpora, rounding band included") {
    // docs are random edits of a few stems, so similarities spread over
    // the whole [0, 1] range; two planted pairs sit at true J = 2/3
    // (5 char 3-grams each, 4 shared), which rounds to 0.6667 and must
    // be KEPT at threshold 0.6667 (pruning against t itself would lose
    // them)
    val rnd = new scala.util.Random(23)
    val stems = Vector("kestrel harbor lantern", "violet quarry",
      "amber tundra mosaic")
    def edit(s: String): String = {
      val cs = s.toCharArray
      (0 until rnd.nextInt(4)).foreach(_ =>
        cs(rnd.nextInt(cs.length)) = ('a' + rnd.nextInt(26)).toChar)
      new String(cs)
    }
    val docs = (1L to 30L).map(i =>
        (i, edit(stems(rnd.nextInt(stems.size))), s"b${i % 2}")) ++
      Seq((31L, "abcdefg", "b1"), (32L, "abcdefx", "b1"),
        (33L, "pqrstuv", "b0"), (34L, "pqrstuw", "b0"),
        (35L, "ab", "b0"), (36L, "", "b1")) // no grams: sit out
    def grams(t: String): Set[String] =
      Tools.charNgramsStr(Tools.normalizeStr(t), 3).toSet
    for (t <- Seq(0.5, 0.6667, 0.8)) {
      val got = Dedup.ngramJaccardPairs(docs.toDF("id", "text", "blk"),
          "id", "text", "blk", n = 3, threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val want = (for {
        a <- docs; b <- docs if a._1 < b._1 && a._3 == b._3
        ga = grams(a._2); gb = grams(b._2) if ga.nonEmpty && gb.nonEmpty
        i = ga.intersect(gb).size
        j = BigDecimal(i.toDouble / (ga.size + gb.size - i))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        if j >= t
      } yield (a._1, b._1) -> j).toMap
      assert(got == want, s"threshold $t: extra=${got.toSet -- want.toSet} " +
        s"missing=${want.toSet -- got.toSet}")
      if (t == 0.6667)
        assert(want.get((31L, 32L)).contains(0.6667) &&
          want.get((33L, 34L)).contains(0.6667), want.toString)
    }
  }

  test("cross-source containment matrix matches brute force, with and without maxDocFreq") {
    val vocab = Vector("aa", "bb", "cc", "dd")
    val srcs = Vector(Option("s1"), Option("s2"), Option("s3"), None)
    val rnd = new scala.util.Random(5)
    val docs = (1L to 40L).map { i =>
      val len = 1 + rnd.nextInt(7)
      (i, srcs(rnd.nextInt(srcs.size)),
        Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    def sh(t: String): Set[String] = {
      val toks = t.split(" ").toSeq
      if (toks.length < 3) Set(toks.mkString(" "))
      else toks.sliding(3).map(_.mkString(" ")).toSet
    }
    // exact copies collapse per (source, set); cnt = docs per rep
    val reps0 = docs.groupBy(d => (d._2, sh(d._3))).toSeq
      .map { case ((s, g), ds) => (s, g, ds.size.toLong) }
    for (cap <- Seq(None, Some(3))) {
      val hot = cap.fold(Set.empty[String]) { c =>
        reps0.flatMap(_._2).groupBy(identity)
          .collect { case (g, occ) if occ.size > c => g }.toSet }
      val reps = reps0.map { case (s, g, n) => (s, g -- hot, n) }
        .filter(_._2.nonEmpty).zipWithIndex
      def bp(a: Set[String], b: Set[String]) =
        a.intersect(b).size.toLong * 10000L / math.min(a.size, b.size)
      val matched = for {
        ((sa, ga, na), ia) <- reps; ((sb, gb, _), ib) <- reps
        if ia != ib && sa != sb && bp(ga, gb) >= 6000L
      } yield (sa, sb, ia, na)
      val nA = reps.groupBy(_._1._1).view.mapValues(_.map(_._1._3).sum).toMap
      val want = matched.distinct.groupBy(m => (m._1, m._2)).map {
        case ((sa, sb), ms) =>
          val n = ms.map(_._4).sum
          (sa, sb) -> (n, nA(sa), n * 10000L / nA(sa))
      }
      val got = Dedup.crossSourceContainmentOverlap(
          docs.toDF("id", "src", "text"), "id", "text", "src",
          thresholdBp = 6000L, maxDocFreq = cap)
        .collect().map(r => (Option(r.getString(0)), Option(r.getString(1))) ->
          (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      assert(hot.nonEmpty || cap.isEmpty, "the cap must remove something")
      assert(want.nonEmpty, s"cap $cap: no pair to compare")
      assert(got == want, s"cap $cap: got $got, want $want")
    }
  }

  test("quantizeInt8 grid values stay in [0, 255] for any finite input; non-finite fails loudly, not silently") {
    import graft.sim.Ann
    val rnd = new scala.util.Random(9)
    val finite = (1L to 60L).map(i =>
      (i, Seq.fill(6)((rnd.nextFloat() - 0.5f) * math.pow(10, rnd.nextInt(8)).toFloat)))
    val df = finite.toDF("id", "v")
    val q = Ann.quantizeInt8(df, "v", Ann.int8Params(df, "v"))
      .select("qvec").collect().flatMap(_.getSeq[Integer](0))
    assert(q.forall(x => x == null || (x >= 0 && x <= 255)), "grid bound")
    // non-finite embeddings: record the CURRENT contract so a change is
    // deliberate — NaN propagates through the quantize arithmetic and
    // the ANSI long cast rejects it loudly (never a silent wrong cell)
    val bad = Seq((1L, Seq(Float.NaN, 1.0f))).toDF("id", "v")
    val params = Seq((0, 0.0, 1.0), (1, 0.0, 1.0)).toDF("pos", "mn", "mx")
    val res = scala.util.Try(
      Ann.quantizeInt8(bad, "v", params).select("qvec").collect())
    res match {
      case scala.util.Failure(_) => () // loud — acceptable
      case scala.util.Success(rows) =>
        val cell = rows.head.getSeq[Integer](0).head
        assert(cell == null || (cell >= 0 && cell <= 255),
          s"NaN must not produce an out-of-grid cell, got $cell")
    }
  }
}
