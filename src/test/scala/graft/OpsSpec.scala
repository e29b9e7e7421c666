package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.Ops
import graft.functions.Tools

/** Mirrors the reference's per-operator unit tests
  * (/root/reference/tests/test_recipes.py — the only executable spec of
  * edge semantics; see FIXTURES.md §1). */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  test("fillna fills nulls and creates missing columns (test_recipes.py:48-60)") {
    val df = Seq((Some(1), Some("x")), (None, None)).toDF("A", "B")
    val out = Ops.fillna(df, Map("A" -> 0, "B" -> "", "C" -> "new"))
    assert(rows(out.orderBy("A")) == Seq(Seq(0, "", "new"), Seq(1, "x", "new")))
  }

  test("keep projects and filters (test_recipes.py:265-275)") {
    val df = Seq((1, "a", true), (2, "b", false)).toDF("A", "B", "C")
    val out = Ops.keep(df, Seq("A", "B"), Some("C"))
    assert(rows(out) == Seq(Seq(1, "a")))
  }

  test("rename (test_recipes.py:63-68)") {
    val df = Seq((1, "a")).toDF("A", "B")
    assert(Ops.rename(df, Map("A" -> "AA")).columns.toSeq == Seq("AA", "B"))
  }

  test("map copy and array-of-columns (test_recipes.py:71-77)") {
    val df = Seq((1, "a")).toDF("A", "B")
    // the YAML `map` step: a column name copies, a list builds an array
    val args = new org.yaml.snakeyaml.Yaml()
      .load[java.util.Map[String, Any]]("{C: A, D: [A, A]}")
    val map = graft.conf.RecipeConf.compileStep(spark,
      graft.conf.RecipeConf.ProjectConf(Map.empty, Map.empty), "map", args)
    assert(rows(map(df)) == Seq(Seq(1, "a", 1, Seq(1, 1))))
  }

  test("to_integer: empty → null, invalid → null, valid parses (test_recipes.py:97-151)") {
    val df = Seq("1", "", "foo", "-5").toDF("A")
    val out = Ops.toInteger(df, Seq("A"))
    assert(col1[Any](out, "A") == Seq(1L, null, null, -5L))
  }

  test("to_float: empty → na_value (test_recipes.py:117-151)") {
    val df = Seq("1.5", "", "x").toDF("A")
    val out = Ops.toFloat(df, Seq("A"), naValue = Some(0.5))
    assert(col1[Any](out, "A") == Seq(1.5, 0.5, null))
  }

  test("parsedate coerces failures to null (test_recipes.py:197-201)") {
    val df = Seq("2020-01-02", "nope").toDF("A")
    val out = Ops.parsedate(df, Seq("A"), "yyyy-MM-dd")
    val vs = col1[Any](out, "A")
    assert(vs(0) != null && vs(1) == null)
  }

  test("normalize strips accents and case (test_recipes.py:204-209)") {
    val df = Seq("été", "naïve", "Ho! La;la?").toDF("A")
    assert(col1[String](Ops.normalize(df, Seq("A")), "A") ==
      Seq("ete", "naive", "ho la la"))
  }

  test("replace applies ordered regex chain (test_recipes.py:285-289)") {
    val df = Seq("abc123def45").toDF("A")
    val out = Ops.replace(df, Seq("A"), Seq("[0-9]+" -> "NUM", "NUMdef" -> "D"))
    assert(col1[String](out, "A") == Seq("abcDNUM"))
  }

  test("replace maps over array columns") {
    val df = Seq(Seq("a1", "b2")).toDF("A")
    val out = Ops.replace(df, Seq("A"), Seq("[0-9]" -> ""))
    assert(col1[Seq[String]](out, "A") == Seq(Seq("a", "b")))
  }

  test("nest → unnest round trip with prefix (test_recipes.py:246-259)") {
    val df = Seq((1, "x")).toDF("A", "B")
    val nested = Ops.nest(df, Seq("A", "B"), "n")
    assert(nested.columns.toSeq == Seq("n"))
    val schema = StructType(Seq(StructField("A", IntegerType), StructField("B", StringType)))
    val back = Ops.unnest(nested, "n", schema, prefix = "p_")
    assert(rows(back) == Seq(Seq(1, "x")))
    assert(back.columns.toSeq == Seq("p_A", "p_B"))
  }

  test("unfold explodes arrays, keeps empty lists with fill (test_recipes.py:339-380)") {
    val df = Seq((1, Seq("a", "b")), (2, Seq.empty[String])).toDF("A", "L")
    val out = Ops.unfold(df, "L", fillNa = "")
    assert(rows(out.orderBy("A", "L")) ==
      Seq(Seq(1, "a"), Seq(1, "b"), Seq(2, "")))
  }

  test("ngram produces char n-grams (test_recipes.py:299-307)") {
    val df = Seq("hello").toDF("A")
    val out = Ops.ngram(df, Seq("A"), Seq(2))
    assert(col1[Seq[String]](out, "A") == Seq(Seq("he", "el", "ll", "lo")))
  }

  test("unfold on numeric arrays keeps NULL instead of retyping to string") {
    val df = Seq((1, Seq(10L, 20L)), (2, Seq.empty[Long])).toDF("k", "ids")
    val out = Ops.unfold(df, "ids") // default fillNa="" must not apply
    assert(out.schema("ids").dataType == org.apache.spark.sql.types.LongType)
    val m = out.collect().map(r => (r.getInt(0), if (r.isNullAt(1)) null else r.getLong(1)))
    assert(m.count(_._1 == 1) == 2 && m.contains((2, null)))
    // a numeric fillNa does fill
    val filled = Ops.unfold(df, "ids", fillNa = -1L)
    assert(filled.filter(col("k") === 2).head().getLong(1) == -1L)
  }

  test("selectColumns resolves regex and explicit names") {
    val df = Seq((1, 2, 3)).toDF("ab", "ac", "x")
    assert(Ops.selectColumns(df, Seq("a.*")) == Seq("ab", "ac"))
    assert(Ops.selectColumns(df, Seq("x", "ab")) == Seq("x", "ab"))
    assert(Ops.selectColumns(df, Nil) == Seq("ab", "ac", "x"))
  }

  test("selectColumns: misspelled plain name fails loudly, empty-match regex stays silent") {
    val df = Seq((1, 2, 3)).toDF("ab", "ac", "x")
    // pandas KeyError parity: a plain identifier must name a column
    val e = intercept[RuntimeException] { Ops.selectColumns(df, Seq("abb")) }
    assert(e.getMessage.contains("'abb' not found"), e.getMessage)
    // reference regex parity: a pattern matching nothing is legal
    assert(Ops.selectColumns(df, Seq("z.*")) == Nil)
  }

  test("shuffle preserves each column's multiset") {
    val df = (1 to 20).map(i => (i, ('a' + i % 5).toChar.toString)).toDF("A", "B")
    val out = Ops.shuffleCols(df, Seq("A", "B"))
    assert(col1[Int](out, "A").sorted == (1 to 20))
    assert(col1[String](out, "B").sorted == col1[String](df, "B").sorted)
  }

  test("hashSplit assigns deterministic, salt-sensitive, well-proportioned splits") {
    val df = (1L to 10000L).toDF("id")
    val splits = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)
    val s1 = Ops.hashSplit(df, "id", "v1", splits)
    val s2 = Ops.hashSplit(df, "id", "v1", splits)
    // deterministic: two plans, identical assignment
    assert(s1.collect().map(r => r.getLong(0) -> r.getString(1)).toMap ==
      s2.collect().map(r => r.getLong(0) -> r.getString(1)).toMap)
    // proportions close to the weights (md5 is uniform)
    val counts = s1.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(counts("train") - 9000) < 150, counts.toString)
    assert(math.abs(counts("val") - 500) < 100 && math.abs(counts("test") - 500) < 100)
    // a different salt re-rolls assignments
    val s3 = Ops.hashSplit(df, "id", "v2", splits)
    val moved = s1.withColumnRenamed("split", "a")
      .join(s3.withColumnRenamed("split", "b"), "id")
      .filter(col("a") =!= col("b")).count()
    assert(moved > 500)
    // weights must sum to 1; no shuffle in the plan (row-local)
    intercept[IllegalArgumentException](
      Ops.hashSplit(df, "id", "v1", Seq("a" -> 0.5, "b" -> 0.2)))
    assert(!s1.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("epochsMix repeats sources by factor: whole copies exact, fractional deterministic, <1 downsamples") {
    val df = (1L to 3000L).toDF("id")
      .withColumn("k", when(col("id") % 3 === 0, lit("wiki"))
        .when(col("id") % 3 === 1, lit("web")).otherwise(lit("books")))
    val out = Ops.epochsMix(df, "k", "id",
      Seq("wiki" -> 2.5, "web" -> 0.25), salt = "v1")
    val counts = out.groupBy("k").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // wiki: 2 whole copies + ~50% a third → ≈2500; web ≈250 of 1000;
    // books unlisted → default 1.0, every row exactly once
    assert(math.abs(counts("wiki") - 2500) < 120, counts.toString)
    assert(math.abs(counts("web") - 250) < 60, counts.toString)
    assert(counts("books") == 1000)
    // whole copies are EXACT per id: every wiki id appears 2 or 3 times,
    // epoch indexes are 0..n-1
    val wiki = out.filter(col("k") === "wiki").groupBy("id")
      .agg(count(lit(1)).as("n"), max("epoch").as("me"), min("epoch").as("mi"))
      .collect()
    assert(wiki.forall(r => r.getAs[Long]("n") >= 2 && r.getAs[Long]("n") <= 3))
    assert(wiki.forall(r => r.getAs[Int]("mi") == 0 &&
      r.getAs[Int]("me") == r.getAs[Long]("n") - 1))
    // deterministic across plans; row-local (no exchange)
    assert(out.count() == Ops.epochsMix(df, "k", "id",
      Seq("wiki" -> 2.5, "web" -> 0.25), salt = "v1").count())
    assert(!out.queryExecution.executedPlan.toString.contains("Exchange"))
    // factor 0 drops the source entirely
    assert(Ops.epochsMix(df, "k", "id", Seq("web" -> 0.0), salt = "v1")
      .filter(col("k") === "web").count() == 0)
    intercept[IllegalArgumentException](
      Ops.epochsMix(df, "k", "id", Seq("wiki" -> -1.0)))
  }

  test("capPerKey bounds each key deterministically; sampleByKey honors per-key rates") {
    val df = (1L to 1000L).toDF("id")
      .withColumn("k", when(col("id") <= 800, lit("big")).otherwise(lit("small")))
    val capped = Ops.capPerKey(df, "k", "id", n = 50)
    val by = capped.groupBy("k").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(by == Map("big" -> 50L, "small" -> 50L))
    // deterministic survivor set
    assert(Ops.capPerKey(df, "k", "id", n = 50).collect().map(_.getLong(0)).sorted.toSeq ==
      capped.collect().map(_.getLong(0)).sorted.toSeq)
    // WindowGroupLimit prunes hot keys before the full sort
    assert(capped.queryExecution.executedPlan.toString.contains("WindowGroupLimit"))

    val sampled = Ops.sampleByKey(df, "k", "id", Seq("big" -> 0.1), defaultRate = 1.0)
    val sb = sampled.groupBy("k").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sb("small") == 200L) // default rate 1.0 keeps everything
    assert(math.abs(sb("big") - 80L) < 40, sb.toString) // ~10% of 800
    // row-local: no shuffle
    assert(!sampled.queryExecution.executedPlan.toString.contains("Exchange"))
    intercept[IllegalArgumentException](
      Ops.sampleByKey(df, "k", "id", Seq("big" -> 1.5)))
  }

  test("sampleByWeight: bp keep rates, NULL keeps, out-of-range raises, salt re-rolls") {
    val df = (1L to 1000L).toDF("id")
      .withColumn("w", when(col("id") <= 300, lit(10000L))
        .when(col("id") <= 600, lit(0L))
        .when(col("id") <= 900, lit(5000L))
        .otherwise(lit(null).cast("long")))
    val kept = Ops.sampleByWeight(df, "id", "w").collect().map(_.getLong(0))
    assert((1L to 300L).forall(kept.contains), "weight 10000 keeps every row")
    assert(!kept.exists(i => i > 300 && i <= 600), "weight 0 drops every row")
    val half = kept.count(i => i > 600 && i <= 900)
    assert(math.abs(half - 150) < 60, s"~half of the 5000bp band, got $half")
    assert((901L to 1000L).forall(kept.contains), "NULL weights keep (unknown)")
    // deterministic per salt; a new salt re-rolls the 5000bp band
    val again = Ops.sampleByWeight(df, "id", "w").collect().map(_.getLong(0))
    assert(kept.sorted.toSeq == again.sorted.toSeq)
    val rerolled = Ops.sampleByWeight(df, "id", "w", salt = "v2")
      .collect().map(_.getLong(0)).filter(i => i > 600 && i <= 900).toSet
    assert(rerolled != kept.filter(i => i > 600 && i <= 900).toSet)
    // row-local: no shuffle
    assert(!Ops.sampleByWeight(df, "id", "w")
      .queryExecution.executedPlan.toString.contains("Exchange"))
    val bad = df.withColumn("w", when(col("id") === 5, lit(10001L))
      .otherwise(col("w")))
    val e = intercept[Exception] {
      Ops.sampleByWeight(bad, "id", "w").count()
    }
    assert(e.getMessage.contains("10000"), e.getMessage)
  }

  test("curation ops treat null ids consistently (one shared bucket, never dropped)") {
    val df = (1L to 50L).toDF("v")
      .withColumn("id", when(col("v") <= 45, col("v")).otherwise(lit(null)))
      .withColumn("k", lit("only"))
    // sampleByKey at rate 1.0 keeps every row, null ids included —
    // null buckets would silently drop them
    assert(Ops.sampleByKey(df, "k", "id", Nil, defaultRate = 1.0).count() == 50)
    // hashSplit assigns null-id rows all to the SAME split (one bucket)
    val nullSplits = Ops.hashSplit(df, "id", "s",
        Seq("a" -> 0.5, "b" -> 0.5))
      .filter(col("id").isNull).select("split").distinct().count()
    assert(nullSplits == 1)
    // capPerKey still bounds the key with nulls present
    assert(Ops.capPerKey(df, "k", "id", n = 10).count() == 10)
  }

  test("stratifiedSplit holds exact per-stratum quotas, tiny strata included") {
    // 1000 'big' + 40 'rare': hashSplit only gets the proportions right
    // in expectation; the stratified variant must cut EXACTLY at
    // floor(n_s · cum_bp / 10000) in every stratum
    val df = (1L to 1040L).toDF("id")
      .withColumn("k", when(col("id") <= 1000, lit("big")).otherwise(lit("rare")))
    val splits = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)
    val out = Ops.stratifiedSplit(df, "k", "id", "v1", splits)
    val by = out.groupBy("k", "split").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(by == Map(
      ("big", "train") -> 900L, ("big", "val") -> 50L, ("big", "test") -> 50L,
      ("rare", "train") -> 36L, ("rare", "val") -> 2L, ("rare", "test") -> 2L),
      by.toString)
    // deterministic + salt-sensitive, same contract as hashSplit
    val again = Ops.stratifiedSplit(df, "k", "id", "v1", splits)
    assert(out.collect().map(r => r.getLong(0) -> r.getString(2)).toMap ==
      again.collect().map(r => r.getLong(0) -> r.getString(2)).toMap)
    val moved = out.withColumnRenamed("split", "a")
      .join(Ops.stratifiedSplit(df, "k", "id", "v2", splits)
        .withColumnRenamed("split", "b"), "id")
      .filter(col("a") =!= col("b")).count()
    assert(moved > 20)
    // floor, never round: a 3-row stratum at 90/5/5 gives 2/0/1 (the
    // last split takes the remainder; val's quota floors to 0)
    val tiny = Seq((1L, "t"), (2L, "t"), (3L, "t")).toDF("id", "k")
    val tb = Ops.stratifiedSplit(tiny, "k", "id", "", splits)
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(tb == Map("train" -> 2L, "test" -> 1L), tb.toString)
    // NULL strata form one ordinary stratum; weights must sum to 1
    val withNull = df.withColumn("k",
      when(col("id") % 100 === 0, lit(null: String)).otherwise(col("k")))
    assert(Ops.stratifiedSplit(withNull, "k", "id", "", splits).count() == 1040)
    intercept[IllegalArgumentException](
      Ops.stratifiedSplit(df, "k", "id", "", Seq("a" -> 0.5)))
    // every exchange keys on the stratum alone (rank + count share the
    // one window partitioning; AQE prints the plan twice, so pin the
    // key-family set rather than counting lines)
    val p = out.queryExecution.executedPlan.toString
    val fams = "Exchange hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
      .map(_.split(",\\s*").toSeq.dropRight(1)
        .map(_.replaceAll("#\\d+L?", "").trim).sorted.mkString(","))
      .toSet
    assert(fams == Set("k"), s"stratifiedSplit must shuffle on the stratum only: $fams in:\n$p")
  }

  test("sampleToTemperature equalizes at T=1, rebalances at T=2, rejects non-powers") {
    val df = (1L to 1200L).toDF("id")
      .withColumn("k", when(col("id") <= 1000, lit("en"))
        .when(col("id") <= 1100, lit("fr")).otherwise(lit("de")))
    // T=1: every key's expected count = n_min (100 here)
    val t1 = Ops.sampleToTemperature(df, "k", "id", temperature = 1.0)
      .groupBy("k").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(t1("de") == 100L, "rarest key must keep 100%")
    assert(math.abs(t1("en") - 100L) < 40 && math.abs(t1("fr") - 100L) < 40, t1.toString)
    // T=2: en keeps ~sqrt(100/1000)=31.6%, fr ~sqrt(100/1100)=95.3%... of
    // their own sizes → expected ~316 / ~105 / 100
    val t2 = Ops.sampleToTemperature(df, "k", "id", temperature = 2.0)
      .groupBy("k").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(t2("de") == 100L)
    assert(math.abs(t2("en") - 316L) < 60, t2.toString)
    assert(t2("en") > t1("en"), "larger T must preserve more of the skew")
    // deterministic membership; salt re-rolls
    assert(Ops.sampleToTemperature(df, "k", "id", 2.0).collect().map(_.getLong(0)).sorted.toSeq ==
      Ops.sampleToTemperature(df, "k", "id", 2.0).collect().map(_.getLong(0)).sorted.toSeq)
    // non-power-of-two temperatures would need libm pow → loud reject
    intercept[IllegalArgumentException](
      Ops.sampleToTemperature(df, "k", "id", temperature = 3.0))
    intercept[IllegalArgumentException](
      Ops.sampleToTemperature(df, "k", "id", temperature = 0.5))
    // NULL keys are their own group (null-safe join), never dropped
    val withNull = df.withColumn("k",
      when(col("id") % 2 === 0, lit(null: String)).otherwise(lit("x")))
    assert(Ops.sampleToTemperature(withNull, "k", "id", 1.0)
      .filter(col("k").isNull).count() > 0)
    // the corpus joins the KB-sized count table by broadcast — no
    // corpus-side hashpartitioning exchange
    val p = Ops.sampleToTemperature(df, "k", "id", 2.0)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("rebalance widens an under-split scan; NO-OP when already parallel") {
    val one = spark.range(0, 1000, 1, numPartitions = 1).toDF("id")
    val r = Ops.rebalance(one, target = 8)
    assert(r.rdd.getNumPartitions == 8)
    assert(r.count() == 1000)
    // already at/above target: the SAME plan comes back — no exchange
    val wide = spark.range(0, 1000, 1, numPartitions = 16).toDF("id")
    val w = Ops.rebalance(wide, target = 8)
    assert(w eq wide)
    assert(!w.queryExecution.executedPlan.toString.contains("Exchange"))
    // default target = session parallelism
    assert(Ops.rebalance(one).rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)
    // already spread by a repartition to at least the target, row-local
    // work above it: no second exchange
    val spread = r.filter(col("id") % 2 === 0)
    assert(Ops.rebalance(spread, target = 8) eq spread)
    assert(Ops.rebalance(spread, target = 16).rdd.getNumPartitions == 16)
  }

  test("rebalance on WIDE frames: estimated-small lands at exactly the " +
      "target; estimated-large stays untouched (r12 review pin)") {
    // a post-aggregate frame: scan-level static counts lie under AQE,
    // so the wide branch decides by size estimate. Estimated-small →
    // an explicit repartition(goal) — a FIXED width AQE must not
    // coalesce away (the REBALANCE hint sized output by bytes and
    // merged byte-small CPU-heavy frames back to ~1 partition, and it
    // ignored an explicit target; both regressions this test pins out)
    val agg = spark.range(0, 1000, 1, numPartitions = 4).toDF("id")
      .groupBy((col("id") % 97).as("k")).count()
    val est = agg.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(est <= BigInt(8) * 128L * 1024 * 1024,
      s"fixture must sit under the small-estimate gate, est=$est")
    val r = Ops.rebalance(agg, target = 8)
    assert(r.rdd.getNumPartitions == 8,
      s"explicit target not honored on a wide frame: ${r.rdd.getNumPartitions}")
    assert(r.count() == 97)
    // estimated-large (a join's product estimate): left UNTOUCHED —
    // the operator must never buy a full-data exchange on a frame the
    // optimizer thinks is big
    val a = spark.range(0, 100000).toDF("id")
    val big = a.join(a.withColumnRenamed("id", "id2"),
      col("id") === col("id2") % 100000)
    assert(big.queryExecution.optimizedPlan.stats.sizeInBytes >
      BigInt(8) * 128L * 1024 * 1024, "fixture must exceed the gate")
    assert(Ops.rebalance(big, target = 8) eq big)
  }

  test("snapshotDiff classifies added/removed/changed/unchanged; null-safe") {
    val oldV = Seq((1L, Some("a"), "en"), (2L, Some("b"), "en"),
      (3L, None, "fr"), (4L, Some("d"), "en"))
      .toDF("id", "text", "lang")
    val newV = Seq((1L, Some("a"), "en"),   // identical
      (2L, Some("B"), "en"),                // text changed
      (3L, None, "fr"),                     // NULL == NULL: unchanged
      (5L, Some("e"), "de"))                // new id
      .toDF("id", "text", "lang")
    val got = Ops.snapshotDiff(oldV, newV, "id", Seq("text", "lang"))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq(1L -> "unchanged", 2L -> "changed",
      3L -> "unchanged", 4L -> "removed", 5L -> "added"))
    // a NULL turning into a value is a change, not a silent match
    val n2 = Seq((3L, Some("now set"), "fr")).toDF("id", "text", "lang")
    assert(Ops.snapshotDiff(oldV.filter(col("id") === 3), n2, "id",
      Seq("text", "lang")).collect()(0).getString(1) == "changed")
  }

  test("skewStats ranks heavy hitters with exact-bp share; no global sort") {
    // 100 rows of 'hot', 10 of 'warm', 1 each of 5 cold keys:
    // total=115, nkeys=7, mean=16
    val df = (Seq.fill(100)("hot") ++ Seq.fill(10)("warm") ++
      Seq("c1", "c2", "c3", "c4", "c5")).toDF("k")
    val top = Ops.skewStats(df, "k", n = 3).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    // share_bp = cnt*10000 div 115; vs_mean_bp = cnt*10000 div 16
    assert(top == Seq((1, "hot", 100L, 8695L, 62500L),
      (2, "warm", 10L, 869L, 6250L), (3, "c1", 1L, 86L, 625L)))
    // ties + NULL keys: NULLs profile first among equal counts
    val withNull = df.union(Seq.fill(10)(null.asInstanceOf[String]).toDF("k"))
    val r2 = Ops.skewStats(withNull, "k", n = 3).collect()
    assert(r2(1).isNullAt(1) && r2(2).getString(1) == "warm",
      r2.mkString(";")) // (warm=10, null=10) tie → NULL first
    // the corpus side shuffles ONCE (the count agg); ranking runs on
    // the key-sized table via TakeOrdered, never a global corpus sort
    val p = Ops.skewStats(df, "k", n = 3).queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), p)
  }
}
