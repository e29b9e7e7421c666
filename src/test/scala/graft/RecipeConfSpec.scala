package graft

import java.nio.file.Files
import graft.conf.RecipeConf

/** YAML-driven recipe: load conf → compile → run — the reference's main
  * interface (recipes.py:976-1139). */
class RecipeConfSpec extends SparkSpec {

  private val dir = Files.createTempDirectory("graft-conf").toString

  test("yaml recipe end-to-end: csv in → steps → parquet out") {
    Files.writeString(java.nio.file.Paths.get(s"$dir/people.csv"),
      "name;age;city\nJosé GARCIA;34;Paris\nAnn Lee;;Lyon\nBOB;x;Nice\n")
    val yaml =
      s"""datasets:
         |  people:
         |    path: $dir/people.csv
         |    format: csv
         |  out:
         |    path: $dir/out
         |    format: parquet
         |recipes:
         |  prep:
         |    input: people
         |    steps:
         |      - map: {orig_name: name}
         |      - normalize: [name]
         |      - to_integer: [age]
         |      - fillna: {age: -1}
         |      - eval: {name_len: "length(name)", is_adult: "age >= 18"}
         |      - keep:
         |          select: [name, orig_name, age, name_len, is_adult, city]
         |          where: "age != 0"
         |    output: out
         |""".stripMargin
    val conf = RecipeConf.load(yaml)
    val out = RecipeConf.run(spark, conf, "prep")
    val back = spark.read.parquet(s"$dir/out").orderBy("name").collect()
    assert(back.length == 3)
    val jose = back.find(_.getAs[String]("orig_name") == "José GARCIA").get
    assert(jose.getAs[String]("name") == "jose garcia")
    assert(jose.getAs[Long]("age") == 34L)
    val bob = back.find(_.getAs[String]("orig_name") == "BOB").get
    assert(bob.getAs[Long]("age") == -1L) // invalid cast → null → fillna
    assert(!bob.getAs[Boolean]("is_adult"))
  }

  test("eval onError=string writes Ooops error cells instead of failing (recipes.py:1644-1695)") {
    import spark.implicits._
    Files.writeString(java.nio.file.Paths.get(s"$dir/ev.csv"),
      "v\n12\nx\n7\n")
    val conf = RecipeConf.load(
      s"""datasets:
         |  ev: {path: $dir/ev.csv, format: csv, options: {sep: ","}}
         |recipes:
         |  r:
         |    input: ev
         |    steps:
         |      - eval:
         |          onError: string
         |          doubled: "cast(v as int) * 2"
         |""".stripMargin)
    val out = RecipeConf.run(spark, conf, "r").orderBy("v")
    val vals = out.select("doubled").as[String].collect().toSeq.sorted
    assert(vals.count(_.startsWith("Ooops:")) == 1) // the 'x' row
    assert(vals.contains("24") && vals.contains("14"))
    // default policy: same recipe without onError fails the job (ANSI)
    val strict = RecipeConf.load(
      s"""datasets:
         |  ev: {path: $dir/ev.csv, format: csv, options: {sep: ","}}
         |recipes:
         |  r: {input: ev, steps: [{eval: {doubled: "cast(v as int) * 2"}}]}
         |""".stripMargin)
    intercept[Exception](RecipeConf.run(spark, strict, "r").collect())
  }

  test("sub-recipe steps compose; join step enriches from another dataset") {
    Files.writeString(java.nio.file.Paths.get(s"$dir/cities.csv"),
      "city;dep\nparis;75\nlyon;69\n")
    Files.writeString(java.nio.file.Paths.get(s"$dir/persons2.csv"),
      "name;city\nana;Paris\nben;Lyons\n")
    val yaml =
      s"""datasets:
         |  persons2: {path: $dir/persons2.csv, format: csv}
         |  cities: {path: $dir/cities.csv, format: csv}
         |recipes:
         |  clean_city:
         |    input: persons2
         |    steps:
         |      - normalize: [city]
         |  enrich:
         |    input: persons2
         |    steps:
         |      - clean_city
         |      - join:
         |          dataset: cities
         |          fuzzy: {city: city}
         |          select: {dep: dep}
         |""".stripMargin
    val conf = RecipeConf.load(yaml)
    val out = RecipeConf.run(spark, conf, "enrich")
    val m = out.collect().map(r => r.getAs[String]("name") ->
      (r.getAs[String]("city_match"), r.getAs[String]("dep"))).toMap
    assert(m("ana") == ("paris", "75"))
    assert(m("ben") == ("lyon", "69")) // "lyons" → fuzzy dist 1 → lyon
  }

  test("connectors resolve dataset paths; groupby/match/clique steps compile") {
    Files.writeString(java.nio.file.Paths.get(s"$dir/sales.csv"),
      "grp;amt\ng1;10\ng1;20\ng2;5\n")
    val yaml =
      s"""connectors:
         |  local: {path: $dir}
         |datasets:
         |  sales: {connector: local, table: sales.csv, format: csv}
         |recipes:
         |  summary:
         |    input: sales
         |    steps:
         |      - to_integer: [amt]
         |      - groupby:
         |          select: [grp]
         |          agg: {amt: sum}
         |""".stripMargin
    val conf = RecipeConf.load(yaml)
    assert(conf.datasets("sales").path == s"$dir/sales.csv")
    val out = RecipeConf.run(spark, conf, "summary")
    assert(rows(out.orderBy("grp")) == Seq(Seq("g1", 30L), Seq("g2", 5L)))
  }

  test("match step honors max_doc_freq (the hot-token skew guard) from YAML") {
    import spark.implicits._
    // "the" appears in every right doc (df=3); the other tokens are
    // discriminative (df=1)
    Seq((1L, Seq("the", "zebra")), (2L, Seq("the", "apple")),
        (3L, Seq("the", "pear")))
      .toDF("rid", "rtoks").write.mode("overwrite").parquet(s"$dir/mdf-right")
    Seq((10L, Seq("the", "zebra")))
      .toDF("lid", "ltoks").write.mode("overwrite").parquet(s"$dir/mdf-left")
    def yaml(knob: String) =
      s"""datasets:
         |  l: {path: $dir/mdf-left, format: parquet}
         |  r: {path: $dir/mdf-right, format: parquet}
         |recipes:
         |  matched:
         |    input: l
         |    steps:
         |      - match: {dataset: r, left_tokens: ltoks, right_tokens: rtoks,
         |                left_id: lid, right_id: rid$knob}
         |""".stripMargin
    // uncapped: the stopword reaches every doc → 3 hits
    val all = RecipeConf.run(spark, RecipeConf.load(yaml("")), "matched")
    assert(all.count() == 3)
    // max_doc_freq: 2 drops "the" (df=3) from the postings → only the
    // discriminative "zebra" generates a candidate
    val capped = RecipeConf.run(
      spark, RecipeConf.load(yaml(", max_doc_freq: 2")), "matched")
    assert(capped.select("hit_rid").as[Long].collect().toSeq == Seq(1L))
    // scoring: bm25 routes through the Okapi path (same hits, and the
    // exact-set doc outranks the stopword-only overlaps strictly)
    val bm = RecipeConf.run(
      spark, RecipeConf.load(yaml(", scoring: bm25")), "matched")
    assert(bm.count() == 3)
    val top = bm.orderBy("hit_rank").select("hit_rid").as[Long].collect()
    assert(top.head == 1L, top.toSeq.toString)
    // a typo'd scoring mode fails loudly at run time
    val e = intercept[Exception] {
      RecipeConf.run(spark, RecipeConf.load(yaml(", scoring: tfidf")), "matched")
    }
    assert(e.getMessage.contains("scoring"), e.getMessage)
  }

  test("asof_join and range_join recipe steps run from YAML") {
    Files.writeString(java.nio.file.Paths.get(s"$dir/pts.csv"), "k;t\n1;10\n1;20\n")
    Files.writeString(java.nio.file.Paths.get(s"$dir/quotes.csv"), "k;t;px\n1;5;99\n1;15;101\n")
    Files.writeString(java.nio.file.Paths.get(s"$dir/ivls.csv"), "k;s;e;tag\n1;8;12;in\n")
    // csv reads all-string: write typed parquet for the right sides
    import org.apache.spark.sql.functions.col
    val qDir = s"$dir/quotes_t"; val iDir = s"$dir/ivls_t"
    graft.sources.Sources.csv(spark, s"$dir/quotes.csv")
      .select(col("k").cast("long"), col("t").cast("long"), col("px").cast("long"))
      .write.mode("overwrite").parquet(qDir)
    graft.sources.Sources.csv(spark, s"$dir/ivls.csv")
      .select(col("k").cast("long"), col("s").cast("long"),
        col("e").cast("long"), col("tag")).write.mode("overwrite").parquet(iDir)
    val conf2 = RecipeConf.load(
      s"""datasets:
         |  pts: {path: $dir/pts.csv, format: csv}
         |  quotes_t: {path: $qDir, format: parquet}
         |  ivls_t: {path: $iDir, format: parquet}
         |recipes:
         |  enriched:
         |    input: pts
         |    steps:
         |      - to_integer: [k, t]
         |      - asof_join: {dataset: quotes_t, key: k, ts: t, select: [px]}
         |      - range_join: {dataset: ivls_t, key: k, ts: t, start: s, end: e, bin_width: 10}
         |""".stripMargin)
    val out = RecipeConf.run(spark, conf2, "enriched").orderBy("t").collect()
    // t=10 is inside [8,12]; t=20 falls outside → dropped by the range join
    assert(out.length == 1)
    assert(out(0).getAs[Long]("asof_px") == 99L) // latest quote at-or-before 10
    assert(out(0).getAs[String]("ivl_tag") == "in")
  }

  test("upsert output mode merges by key, new rows win") {
    import graft.sources.Sinks
    import spark.implicits._
    val path = s"$dir/upsert_tbl"
    Sinks.parquet(Seq((1L, "old1"), (2L, "old2")).toDF("_id", "v"), path)
    Sinks.upsert(Seq((2L, "new2"), (3L, "new3")).toDF("_id", "v"), path, "_id")
    val m = spark.read.parquet(path).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m == Map(1L -> "old1", 2L -> "new2", 3L -> "new3"))
  }

  test("the reference's french_name_normalize recipe runs verbatim (name.yml:1-30)") {
    import spark.implicits._
    // reference input: *_src name columns, string or list-typed
    Seq(("José", "GARCIA LOPEZ"), ("Jean Pierre Marie", "LE GRAND"))
      .toDF("matchid_name_first_src", "matchid_name_last_src")
      .write.mode("overwrite").parquet(s"$dir/persons_names")
    // steps below are copied 1:1 from conf/recipes/name.yml (python
    // expressions and all) — only dataset wiring is ours
    val yaml =
      s"""datasets:
         |  persons_names: {path: $dir/persons_names, format: parquet}
         |recipes:
         |  french_name_normalize:
         |    input: persons_names
         |    steps:
         |      - eval:
         |        - matchid_name_first: matchid_name_first_src if (type(matchid_name_first_src)==list) else [matchid_name_first_src]
         |        - matchid_name_last: matchid_name_last_src if (type(matchid_name_last_src)==list) else [matchid_name_last_src]
         |      - normalize:
         |          select: matchid_name_(last|first)$$
         |      - eval:
         |        - matchid_name_first: list(OrderedDict.fromkeys(matchid_name_first))
         |        - matchid_name_last: list(OrderedDict.fromkeys(matchid_name_last))
         |      - eval:
         |        - matchid_name_norm: list(set().union(matchid_name_last,matchid_name_first))
         |        - matchid_name_match: str(" ").join(list(matchid_name_norm))
         |        - matchid_name_tokens: tokenize(matchid_name_match)
         |        - matchid_name_first_first: re.sub(r'(\\S\\s+\\S+)\\s+.*',r'\\1',str(matchid_name_first[0])) if (len(matchid_name_first)>0) else ""
         |        - matchid_name_first_second: str(matchid_name_first[1]) if (len(matchid_name_first)>1) else ""
         |        - matchid_name_last_first: str(matchid_name_last[0]) if (len(matchid_name_last)>0) else ""
         |        - matchid_name_last_second: str(matchid_name_last[1]) if (len(matchid_name_last)>1) else ""
         |        - matchid_name_last_match: matchid_name_last_first
         |        - matchid_name_first_match: matchid_name_first_first
         |        - matchid_name_len: len(matchid_name_tokens)
         |      - replace:
         |          select: matchid_name_.*match$$
         |          regex:
         |            - (^|\\s)(le|du|de|de la)($$|\\s): '\\1\\2'
         |""".stripMargin
    val out = RecipeConf.run(spark, RecipeConf.load(yaml), "french_name_normalize")
      .orderBy("matchid_name_first_src").collect()
    val jose = out(1); val jp = out(0)
    def seqOf(r: org.apache.spark.sql.Row, c: String) = r.getSeq[String](r.fieldIndex(c))
    assert(seqOf(jose, "matchid_name_first") == Seq("jose"))
    assert(seqOf(jose, "matchid_name_last") == Seq("garcia lopez"))
    assert(jose.getAs[String]("matchid_name_match") == "garcia lopez jose")
    assert(jose.getAs[Int]("matchid_name_len") == 3)
    assert(jose.getAs[String]("matchid_name_first_first") == "jose")
    assert(jose.getAs[String]("matchid_name_first_second") == "")
    // composed first name keeps its first two words (the re.sub rule)
    assert(jp.getAs[String]("matchid_name_first_first") == "jean pierre")
    assert(jp.getAs[String]("matchid_name_first_match") == "jean pierre")
    // the particle rule glues 'le ' onto the surname in *_match cols only
    assert(jp.getAs[String]("matchid_name_last_match") == "legrand")
    assert(jp.getAs[String]("matchid_name_last_first") == "le grand")
    assert(jp.getAs[Int]("matchid_name_len") == 5)
  }

  test("eval list entries apply in insertion order (reference dict order)") {
    import spark.implicits._
    Seq(1L).toDF("v").write.mode("overwrite").parquet(s"$dir/ordered_in")
    // 6 chained entries, each reading the previous one — scrambled order
    // (the old unordered-Map conversion kicked in past 4 entries) fails
    val yaml =
      s"""datasets:
         |  oin: {path: $dir/ordered_in, format: parquet}
         |recipes:
         |  chain:
         |    input: oin
         |    steps:
         |      - eval:
         |        - a: v + 1
         |        - b: a + 1
         |        - c: b + 1
         |        - d: c + 1
         |        - e: d + 1
         |        - f: e + 1
         |""".stripMargin
    val r = RecipeConf.run(spark, RecipeConf.load(yaml), "chain").head()
    assert(r.getAs[Long]("f") == 7L)
  }

  test("eval list entries with multiple keys fail loudly (YAML indent slip)") {
    import spark.implicits._
    Seq(1L).toDF("v").write.mode("overwrite").parquet(s"$dir/multikey_in")
    // one indentation level off merges two intended entries into ONE
    // multi-key map — silently dropping all but the first expression
    // would be data loss, so the parser must reject it by name
    val yaml =
      s"""datasets:
         |  mkin: {path: $dir/multikey_in, format: parquet}
         |recipes:
         |  slip:
         |    input: mkin
         |    steps:
         |      - eval:
         |        - {a: v + 1, b: v + 2}
         |""".stripMargin
    val e = intercept[Exception](
      RecipeConf.run(spark, RecipeConf.load(yaml), "slip").collect())
    assert(e.getMessage.contains("exactly one") && e.getMessage.contains("b"))
  }

  test("the reference's full scoring chain runs verbatim (matching.yml:58-106)") {
    import org.apache.spark.sql.functions.{lit, array, typedLit}
    // one perfect match and one partial match, with every column the
    // scoring recipes read (left + hit_ sides)
    def row(last: String, lastMatch: String, hitLast: String, hitLastMatch: String,
        hitToks: Seq[String], city: String, cc: String, hist: Seq[String],
        dep: String, country: String, ccode: String, geo: String,
        sex: String, hitSex: String) =
      spark.range(1).select(
        typedLit(Seq("jean")).as("matchid_name_first"),
        typedLit(Seq(last)).as("matchid_name_last"),
        typedLit(Seq("dupont", "jean")).as("matchid_name_tokens"),
        lit("jean").as("matchid_name_first_match"),
        lit(lastMatch).as("matchid_name_last_match"),
        lit(1.0).as("matchid_name_first_freq"), lit(1.0).as("matchid_name_last_freq"),
        typedLit(Seq("jean")).as("hit_matchid_name_first"),
        typedLit(Seq(hitLast)).as("hit_matchid_name_last"),
        typedLit(hitToks).as("hit_matchid_name_tokens"),
        lit("jean").as("hit_matchid_name_first_match"),
        lit(hitLastMatch).as("hit_matchid_name_last_match"),
        lit(1.0).as("hit_matchid_name_first_freq"), lit(1.0).as("hit_matchid_name_last_freq"),
        lit(2L).as("matchid_hit_matches_unfiltered"),
        lit("paris").as("matchid_location_city"), lit(city).as("hit_matchid_location_city"),
        lit("paris").as("matchid_location_city_src"), lit(city).as("hit_matchid_location_city_src"),
        lit("france").as("matchid_location_country"), lit(country).as("hit_matchid_location_country"),
        lit("75056").as("matchid_location_citycode"), lit(cc).as("hit_matchid_location_citycode"),
        typedLit(Seq("75056")).as("matchid_location_citycode_history"),
        typedLit(hist).as("hit_matchid_location_citycode_history"),
        lit("75").as("matchid_location_depcode"), lit(dep).as("hit_matchid_location_depcode"),
        lit("FR").as("matchid_location_countrycode"), lit(ccode).as("hit_matchid_location_countrycode"),
        lit("POINT(2.3522 48.8566)").as("matchid_location_city_geopoint_2d"),
        lit(geo).as("hit_matchid_location_city_geopoint_2d"),
        lit("19800612").as("matchid_date_birth_str"), lit("19800612").as("hit_matchid_date_birth_str"),
        lit(sex).as("matchid_sex"), lit(hitSex).as("hit_matchid_sex"),
        lit(if (hitLast == last) "A" else "B").as("which"))
    val perfect = row("dupont", "dupont", "dupont", "dupont", Seq("dupont", "jean"),
      "paris", "75056", Seq("75056"), "75", "france", "FR", "POINT(2.3522 48.8566)", "1", "1")
    val partial = row("dupont", "dupont", "durand", "durand", Seq("durand", "jean"),
      "lyon", "69123", Seq("69123"), "69", "italie", "IT", "POINT(4.8357 45.764)", "1", "2")
    perfect.unionByName(partial).write.mode("overwrite").parquet(s"$dir/matched")

    // recipes below are copied 1:1 from conf/recipes/matching.yml:58-106
    // (every python expression verbatim); only dataset wiring is ours
    val yaml =
      s"""datasets:
         |  matched: {path: $dir/matched, format: parquet}
         |recipes:
         |  scoring:
         |    steps:
         |      - scoring_name_lev:
         |      - scoring_location:
         |      - scoring_date:
         |      - scoring_sex:
         |      - scoring_final:
         |  scoring_name_lev:
         |    steps:
         |      - eval:
         |        - matchid_hit_freq: max(matchid_name_first_freq,hit_matchid_name_first_freq,matchid_name_last_freq,hit_matchid_name_last_freq)*matchid_hit_matches_unfiltered
         |        - matchid_hit_score_name_lv_nn: max(levenshtein_norm(matchid_name_last,hit_matchid_name_last),levenshtein_norm(matchid_name_last_match,hit_matchid_name_last_match))
         |        - matchid_hit_score_name_lv_pp: max(levenshtein_norm(matchid_name_first_match,hit_matchid_name_first_match),levenshtein_norm(matchid_name_first,hit_matchid_name_first))
         |        - matchid_hit_score_name_lv_np: round(levenshtein_norm(matchid_name_first,hit_matchid_name_last)*levenshtein_norm(matchid_name_last,hit_matchid_name_first),2)
         |        - matchid_hit_score_name_tokens: round(len([x for x in matchid_name_tokens if x in hit_matchid_name_tokens])*1.0 /max(1,min(len(matchid_name_tokens),len(hit_matchid_name_tokens))),2)
         |        - matchid_hit_score_name: round(max(matchid_hit_score_name_lv_nn*matchid_hit_score_name_lv_pp,0.7*matchid_hit_score_name_lv_np,0.7*matchid_hit_score_name_tokens),2)
         |  scoring_location:
         |    steps:
         |      - eval:
         |        - matchid_hit_score_location_lv_city: levenshtein_norm(matchid_location_city,hit_matchid_location_city)
         |        - matchid_hit_score_location_lv_city_src: levenshtein_norm(matchid_location_city_src,hit_matchid_location_city_src)
         |        - matchid_hit_score_location_lv_country: levenshtein_norm(matchid_location_country,hit_matchid_location_country)
         |        - matchid_hit_score_location_citycode_history: 1 if (len([x for x in matchid_location_citycode_history if x in hit_matchid_location_citycode_history])>0) else 0
         |        - matchid_hit_score_location_citycode: 1 if ((len(matchid_location_citycode)>0) & (matchid_location_citycode == hit_matchid_location_citycode)) else 0
         |        - matchid_hit_score_location_depcode: 1 if (matchid_location_depcode == hit_matchid_location_depcode) else 0
         |        - matchid_hit_score_location_countrycode: 1 if (matchid_location_countrycode == hit_matchid_location_countrycode) else 0
         |        - matchid_hit_distance: distance(matchid_location_city_geopoint_2d,hit_matchid_location_city_geopoint_2d)
         |        - matchid_hit_score_location_distance: 0 if (matchid_hit_distance == "") else round(100*40/(40+matchid_hit_distance))/100
         |        - matchid_hit_score_location: round(0.5*max(matchid_hit_score_location_citycode,matchid_hit_score_location_citycode_history,max(matchid_hit_score_location_lv_city,matchid_hit_score_location_lv_city_src),matchid_hit_score_location_distance)+0.25*max(matchid_hit_score_location_depcode, matchid_hit_score_location_citycode_history)+0.25*max(matchid_hit_score_location_countrycode,matchid_hit_score_location_lv_country,matchid_hit_score_location_citycode_history),2)
         |  scoring_date:
         |    steps:
         |      - eval:
         |        - matchid_hit_score_date: round((levenshtein_norm(matchid_date_birth_str,hit_matchid_date_birth_str)**2)*(0.9 if re.search('0101$$',matchid_date_birth_str) else 1) ,2)
         |  scoring_sex:
         |    steps:
         |      - eval:
         |        - matchid_hit_score_sex: 1 if (float_val(matchid_sex) == float_val(hit_matchid_sex)) else 0
         |  scoring_final:
         |    steps:
         |      - eval:
         |        - matchid_hit_score: round(1.0*matchid_hit_score_name*matchid_hit_score_date*(0.2+0.8*matchid_hit_score_location)*(0.5*(1.0+matchid_hit_score_sex)),2)
         |        - scoring_version: str("scoring_lev")
         |        - confiance: round(100*matchid_hit_score)
         |  score_all:
         |    input: matched
         |    steps:
         |      - scoring
         |""".stripMargin
    val out = RecipeConf.run(spark, RecipeConf.load(yaml), "score_all")
      .collect().map(r => r.getAs[String]("which") -> r).toMap
    val a = out("A"); val b = out("B")
    // perfect match: every component saturates
    assert(a.getAs[Double]("matchid_hit_score_name") == 1.0)
    assert(a.getAs[Double]("matchid_hit_score_location") == 1.0)
    assert(a.getAs[Double]("matchid_hit_score_date") == 1.0)
    assert(a.getAs[Long]("matchid_hit_score_sex") == 1L)
    assert(a.getAs[Double]("matchid_hit_score") == 1.0)
    assert(a.getAs[Long]("confiance") == 100L)
    assert(a.getAs[String]("scoring_version") == "scoring_lev")
    assert(a.getAs[Double]("matchid_hit_freq") == 2.0)
    // partial match: dupont↔durand = 3 edits over min-len 6 → 0.57;
    // token overlap 1/2 → 0.7·0.5 = 0.35 < 0.57
    assert(b.getAs[Double]("matchid_hit_score_name") == 0.57)
    assert(b.getAs[Long]("matchid_hit_score_sex") == 0L)
    val dist = b.getAs[Double]("matchid_hit_distance")
    assert(dist > 380 && dist < 400) // paris↔lyon great-circle km
    val locB = b.getAs[Double]("matchid_hit_score_location")
    assert(locB > 0.05 && locB < 0.3)
    val scoreB = b.getAs[Double]("matchid_hit_score")
    assert(scoreB > 0 && scoreB < 0.5)
    assert(b.getAs[Long]("confiance") == math.round(scoreB * 100))
  }

  test("the reference's ES-template join runs verbatim (matching.yml:8-48)") {
    import spark.implicits._
    Seq(("dupont", "jean", "19800612", "paris", "france"))
      .toDF("matchid_name_last_match", "matchid_name_first_match",
        "matchid_date_birth_str", "matchid_location_city", "matchid_location_country")
      .write.mode("overwrite").parquet(s"$dir/esj_left")
    Seq(
      // exact name+date, everything agrees → best hit
      (1L, "dupont jean", "19800612", "paris", "france"),
      // name at edit distance 1 (fuzziness: auto), date exact → hit
      (2L, "dupond jean", "19800612", "lyon", "france"),
      // name unrelated → both must-branches fail → excluded
      (3L, "martin luc", "19800612", "paris", "france"),
      // name exact but date >1 edit away → both branches fail → excluded
      (4L, "dupont jean", "19991231", "paris", "france"),
      // name exact, date at edit distance 1 (fuzziness: 1) → hit
      (5L, "dupont jean", "19800613", "paris", "france"))
      .toDF("_id", "matchid_name_match", "matchid_date_birth_str",
        "matchid_location_city", "matchid_location_country")
      .write.mode("overwrite").parquet(s"$dir/esj_right")
    // the query template below is copied 1:1 from matching.yml:11-48
    val yaml =
      s"""datasets:
         |  persons: {path: $dir/esj_left, format: parquet}
         |  matchid: {path: $dir/esj_right, format: parquet}
         |recipes:
         |  match_es:
         |    input: persons
         |    steps:
         |      - join:
         |          type: elasticsearch
         |          dataset: matchid
         |          query:
         |            size: 10
         |            query:
         |              bool:
         |                must:
         |                  - bool:
         |                      should:
         |                        - bool:
         |                            must:
         |                              - match:
         |                                  matchid_name_match:
         |                                    query: matchid_name_last_match
         |                                    fuzziness: auto
         |                              - match:
         |                                  matchid_date_birth_str: matchid_date_birth_str
         |                        - bool:
         |                            must:
         |                              - match:
         |                                  matchid_name_match: matchid_name_last_match
         |                              - match:
         |                                  matchid_date_birth_str:
         |                                    query: matchid_date_birth_str
         |                                    fuzziness: 1
         |                      minimum_should_match: 1
         |                should:
         |                  - bool:
         |                      should:
         |                        - span_first:
         |                            match:
         |                              span_term:
         |                                  matchid_name_match: matchid_name_last_match
         |                            end: 1
         |                        - match:
         |                            matchid_name_match: matchid_name_first_match
         |                        - match:
         |                            matchid_location_city: matchid_location_city
         |                        - match:
         |                            matchid_location_country: matchid_location_country
         |                      minimum_should_match: 2
         |""".stripMargin
    val out = RecipeConf.run(spark, RecipeConf.load(yaml), "match_es").collect()
    val hits = out.map(_.getAs[Long]("hit__id")).toSet
    assert(hits == Set(1L, 2L, 5L),
      s"expected the fuzzy-name and fuzzy-date hits only, got $hits")
    val byId = out.map(r => r.getAs[Long]("hit__id") -> r).toMap
    assert(byId(1L).getAs[Int]("hit_rank") == 1) // everything-agrees doc ranks first
    assert(out.forall(_.getAs[Long]("matchid_hit_matches_unfiltered") == 3L))
    // the downstream contract columns are all present
    assert(out.head.schema.fieldNames.count(_.startsWith("hit_")) >= 6)

    // unfold: False keeps the bucket shape — one row, rank-ordered hits
    val bucketYaml = yaml.replace("dataset: matchid",
      "dataset: matchid\n          unfold: False")
    val buckets = RecipeConf.run(spark, RecipeConf.load(bucketYaml), "match_es").collect()
    assert(buckets.length == 1)
    val hitArr = buckets.head.getSeq[org.apache.spark.sql.Row](
      buckets.head.fieldIndex("hits"))
    assert(hitArr.length == 3)
    assert(hitArr.map(_.getAs[Int]("hit_rank")) == Seq(1, 2, 3))
    assert(hitArr.head.getAs[Long]("hit__id") == 1L)
  }

  test("the reference's ENTIRE matching recipe runs verbatim end-to-end (matching.yml:1-56)") {
    import org.apache.spark.sql.functions.{lit, typedLit}
    // left: one person, names as arrays (the name.yml output shape)
    spark.range(1).select(
      lit("p1").as("person_id"),
      typedLit(Seq("jean")).as("matchid_name_first"),
      typedLit(Seq("dupont")).as("matchid_name_last"),
      typedLit(Seq("dupont", "jean")).as("matchid_name_tokens"),
      lit(1.0).as("matchid_name_first_freq"), lit(1.0).as("matchid_name_last_freq"),
      lit("jean").as("matchid_name_first_match"),
      lit("19800612").as("matchid_date_birth_str"),
      lit("paris").as("matchid_location_city"), lit("paris").as("matchid_location_city_src"),
      lit("france").as("matchid_location_country"),
      lit("75056").as("matchid_location_citycode"),
      typedLit(Seq("75056")).as("matchid_location_citycode_history"),
      lit("75").as("matchid_location_depcode"), lit("FR").as("matchid_location_countrycode"),
      lit("POINT(2.3522 48.8566)").as("matchid_location_city_geopoint_2d"),
      lit("1").as("matchid_sex"))
      .write.mode("overwrite").parquet(s"$dir/full_left")
    // right: the civil-state index — one perfect doc, one 1-edit name
    // variant, one unrelated doc
    def doc(id: Long, nameMatch: String, last: String, lastMatch: String,
        toks: Seq[String]) =
      spark.range(1).select(
        lit(id).as("_id"),
        lit(nameMatch).as("matchid_name_match"),
        typedLit(Seq("jean")).as("matchid_name_first"),
        typedLit(Seq(last)).as("matchid_name_last"),
        typedLit(toks).as("matchid_name_tokens"),
        lit(1.0).as("matchid_name_first_freq"), lit(1.0).as("matchid_name_last_freq"),
        lit("jean").as("matchid_name_first_match"), lit(lastMatch).as("matchid_name_last_match"),
        lit("19800612").as("matchid_date_birth_str"),
        lit("paris").as("matchid_location_city"), lit("paris").as("matchid_location_city_src"),
        lit("france").as("matchid_location_country"),
        lit("75056").as("matchid_location_citycode"),
        typedLit(Seq("75056")).as("matchid_location_citycode_history"),
        lit("75").as("matchid_location_depcode"), lit("FR").as("matchid_location_countrycode"),
        lit("POINT(2.3522 48.8566)").as("matchid_location_city_geopoint_2d"),
        lit("1").as("matchid_sex"))
    doc(1L, "dupont jean", "dupont", "dupont", Seq("dupont", "jean"))
      .unionByName(doc(2L, "dupond jean", "dupond", "dupond", Seq("dupond", "jean")))
      .unionByName(doc(3L, "martin luc", "martin", "martin", Seq("martin", "luc")))
      .write.mode("overwrite").parquet(s"$dir/full_right")

    // recipes below: matching.yml:1-56 steps verbatim (the commented-out
    // diff/pause steps omitted), scoring recipes as in the scoring e2e
    val yaml =
      s"""datasets:
         |  persons: {path: $dir/full_left, format: parquet}
         |  matchid: {path: $dir/full_right, format: parquet}
         |recipes:
         |  matching:
         |    input: persons
         |    steps:
         |      - eval:
         |        - matchid_name_last_match: next(s for s in matchid_name_last if s) if (type(matchid_name_last)==list) else matchid_name_last
         |        - matchid_name_first_match: next(s for s in matchid_name_first if s) if (type(matchid_name_first)==list) else matchid_name_first
         |      - join:
         |          type: elasticsearch
         |          dataset: matchid
         |          query:
         |            size: 10
         |            query:
         |              bool:
         |                must:
         |                  - bool:
         |                      should:
         |                        - bool:
         |                            must:
         |                              - match:
         |                                  matchid_name_match:
         |                                    query: matchid_name_last_match
         |                                    fuzziness: auto
         |                              - match:
         |                                  matchid_date_birth_str: matchid_date_birth_str
         |                        - bool:
         |                            must:
         |                              - match:
         |                                  matchid_name_match: matchid_name_last_match
         |                              - match:
         |                                  matchid_date_birth_str:
         |                                    query: matchid_date_birth_str
         |                                    fuzziness: 1
         |                      minimum_should_match: 1
         |                should:
         |                  - bool:
         |                      should:
         |                        - span_first:
         |                            match:
         |                              span_term:
         |                                  matchid_name_match: matchid_name_last_match
         |                            end: 1
         |                        - match:
         |                            matchid_name_match: matchid_name_first_match
         |                        - match:
         |                            matchid_location_city: matchid_location_city
         |                        - match:
         |                            matchid_location_country: matchid_location_country
         |                      minimum_should_match: 2
         |      - scoring:
         |      - keep:
         |          select: (.*id|.*diff.*|matchid_hit_score($$|_[a-z]*))$$
         |          where: matchid_hit_score>0.1
         |  scoring:
         |    steps:
         |      - scoring_name_lev:
         |      - scoring_location:
         |      - scoring_date:
         |      - scoring_sex:
         |      - scoring_final:
         |  scoring_name_lev:
         |    steps:
         |      - eval:
         |        - matchid_hit_freq: max(matchid_name_first_freq,hit_matchid_name_first_freq,matchid_name_last_freq,hit_matchid_name_last_freq)*matchid_hit_matches_unfiltered
         |        - matchid_hit_score_name_lv_nn: max(levenshtein_norm(matchid_name_last,hit_matchid_name_last),levenshtein_norm(matchid_name_last_match,hit_matchid_name_last_match))
         |        - matchid_hit_score_name_lv_pp: max(levenshtein_norm(matchid_name_first_match,hit_matchid_name_first_match),levenshtein_norm(matchid_name_first,hit_matchid_name_first))
         |        - matchid_hit_score_name_lv_np: round(levenshtein_norm(matchid_name_first,hit_matchid_name_last)*levenshtein_norm(matchid_name_last,hit_matchid_name_first),2)
         |        - matchid_hit_score_name_tokens: round(len([x for x in matchid_name_tokens if x in hit_matchid_name_tokens])*1.0 /max(1,min(len(matchid_name_tokens),len(hit_matchid_name_tokens))),2)
         |        - matchid_hit_score_name: round(max(matchid_hit_score_name_lv_nn*matchid_hit_score_name_lv_pp,0.7*matchid_hit_score_name_lv_np,0.7*matchid_hit_score_name_tokens),2)
         |  scoring_location:
         |    steps:
         |      - eval:
         |        - matchid_hit_score_location_lv_city: levenshtein_norm(matchid_location_city,hit_matchid_location_city)
         |        - matchid_hit_score_location_lv_city_src: levenshtein_norm(matchid_location_city_src,hit_matchid_location_city_src)
         |        - matchid_hit_score_location_lv_country: levenshtein_norm(matchid_location_country,hit_matchid_location_country)
         |        - matchid_hit_score_location_citycode_history: 1 if (len([x for x in matchid_location_citycode_history if x in hit_matchid_location_citycode_history])>0) else 0
         |        - matchid_hit_score_location_citycode: 1 if ((len(matchid_location_citycode)>0) & (matchid_location_citycode == hit_matchid_location_citycode)) else 0
         |        - matchid_hit_score_location_depcode: 1 if (matchid_location_depcode == hit_matchid_location_depcode) else 0
         |        - matchid_hit_score_location_countrycode: 1 if (matchid_location_countrycode == hit_matchid_location_countrycode) else 0
         |        - matchid_hit_distance: distance(matchid_location_city_geopoint_2d,hit_matchid_location_city_geopoint_2d)
         |        - matchid_hit_score_location_distance: 0 if (matchid_hit_distance == "") else round(100*40/(40+matchid_hit_distance))/100
         |        - matchid_hit_score_location: round(0.5*max(matchid_hit_score_location_citycode,matchid_hit_score_location_citycode_history,max(matchid_hit_score_location_lv_city,matchid_hit_score_location_lv_city_src),matchid_hit_score_location_distance)+0.25*max(matchid_hit_score_location_depcode, matchid_hit_score_location_citycode_history)+0.25*max(matchid_hit_score_location_countrycode,matchid_hit_score_location_lv_country,matchid_hit_score_location_citycode_history),2)
         |  scoring_date:
         |    steps:
         |      - eval:
         |        - matchid_hit_score_date: round((levenshtein_norm(matchid_date_birth_str,hit_matchid_date_birth_str)**2)*(0.9 if re.search('0101$$',matchid_date_birth_str) else 1) ,2)
         |  scoring_sex:
         |    steps:
         |      - eval:
         |        - matchid_hit_score_sex: 1 if (float_val(matchid_sex) == float_val(hit_matchid_sex)) else 0
         |  scoring_final:
         |    steps:
         |      - eval:
         |        - matchid_hit_score: round(1.0*matchid_hit_score_name*matchid_hit_score_date*(0.2+0.8*matchid_hit_score_location)*(0.5*(1.0+matchid_hit_score_sex)),2)
         |        - scoring_version: str("scoring_lev")
         |        - confiance: round(100*matchid_hit_score)
         |""".stripMargin
    val out = RecipeConf.run(spark, RecipeConf.load(yaml), "matching").collect()
    // doc 3 never makes it out of the join; docs 1 and 2 survive the
    // score threshold
    assert(out.length == 2)
    val byDoc = out.map(r => r.getAs[Long]("hit__id") -> r).toMap
    assert(byDoc(1L).getAs[Double]("matchid_hit_score") == 1.0)
    // dupont↔dupond: 1 damerau edit over min-len 6 → name 0.86, all else
    // perfect → final 0.86
    assert(byDoc(2L).getAs[Double]("matchid_hit_score") == 0.86)
    // confiance is computed by scoring_final but (correctly) dropped by
    // the keep regex — like the reference
    // the keep step's regex projection: ids + score columns only
    val cols = out.head.schema.fieldNames.toSet
    assert(cols.contains("person_id") && cols.contains("hit__id"))
    assert(cols.contains("matchid_hit_score_name") && cols.contains("matchid_hit_score_sex"))
    assert(!cols.contains("matchid_hit_score_name_lv_nn")) // deep columns dropped
    assert(!cols.contains("matchid_name_match"))
  }

  test("the reference's french_citycode recipe runs verbatim (location.yml:119-156)") {
    import spark.implicits._
    // referential: the french_citycodes CSV (all-string, ; separated)
    Files.writeString(java.nio.file.Paths.get(s"$dir/citycodes.csv"),
      "insee_code;insee_code_history;name;newest_name;dep_code;newest_dep_code;population;surface;geopoint_2d\n" +
        "75056;[\"75056\",\"75100\"];paris;paris;75;75;2148000;105;POINT(2.3522 48.8566)\n" +
        "97409;[\"97409\"];saint denis;saint denis;974;974;150000;143;\n")
    Seq(
      ("75056", "PARIS"),       // direct hit
      ("98405", "ST DENIS"),    // réunion mapping 98405 → 97409 (replace chain)
      ("99123", "FOREIGNTOWN")) // foreign → blanked → no match → fallbacks
      .toDF("matchid_location_citycode_src", "matchid_location_city_src")
      .write.mode("overwrite").parquet(s"$dir/citycode_left")
    // steps copied 1:1 from location.yml:119-156
    val yaml =
      s"""datasets:
         |  persons_cc: {path: $dir/citycode_left, format: parquet}
         |  french_citycodes: {path: $dir/citycodes.csv, format: csv}
         |recipes:
         |  french_citycode:
         |    input: persons_cc
         |    steps:
         |      - eval:
         |          - matchid_location_citycode: matchid_location_citycode if ('matchid_location_citycode' in row.keys()) else matchid_location_citycode_src
         |      - replace:
         |          select: matchid_location_citycode$$
         |          regex:
         |            - ^9.352$$: ''
         |            - ^985(..)$$: '976\\1'
         |            - ^98405: '97409'
         |            - ^98(2|3|4).*$$: ''
         |            - ^99.*$$: ''
         |      - join:
         |          dataset: french_citycodes
         |          type: in_memory
         |          strict:
         |            matchid_location_citycode: insee_code
         |          select:
         |            matchid_location_citycode_history: insee_code_history
         |            matchid_location_city: name
         |            matchid_location_city_alter: newest_name
         |            matchid_location_depcode: dep_code
         |            matchid_location_depcode_alter: newest_dep_code
         |            matchid_location_city_population: population
         |            matchid_location_city_surface: surface
         |            matchid_location_city_geopoint_2d: geopoint_2d
         |      - eval:
         |          - matchid_location_city: matchid_location_city_src if ('matchid_location_city' not in row.keys()) else (matchid_location_city_src if (matchid_location_city=="") else matchid_location_city )
         |          - matchid_location_depcode: str("99") if ('matchid_location_depcode' not in row.keys()) else ( str("99") if (matchid_location_depcode == "") else matchid_location_depcode)
         |          - matchid_location_citycode_history: list([]) if (matchid_location_citycode_history=="") else json.loads(matchid_location_citycode_history)
         |      - eval:
         |          - matchid_location_latitude: geopoint(matchid_location_city_geopoint_2d)[0] if ('POINT' in matchid_location_city_geopoint_2d) else matchid_location_country_latitude if ("matchid_location_country_latitude" in row.keys()) else 90
         |          - matchid_location_longitude: geopoint(matchid_location_city_geopoint_2d)[1] if ('POINT' in matchid_location_city_geopoint_2d) else matchid_location_country_longitude if ("matchid_location_country_latitude" in row.keys()) else 90
         |      - to_float:
         |          select: ^matchid_location_(latitude|longitude)$$
         |          na_value: 90
         |      - to_integer:
         |          select: .*(surface|population)$$
         |""".stripMargin
    val out = RecipeConf.run(spark, RecipeConf.load(yaml), "french_citycode")
      .collect().map(r => r.getAs[String]("matchid_location_citycode_src") -> r).toMap
    val paris = out("75056")
    assert(paris.getAs[String]("matchid_location_city") == "paris")
    assert(paris.getAs[String]("matchid_location_depcode") == "75")
    assert(paris.getSeq[String](paris.fieldIndex("matchid_location_citycode_history"))
      == Seq("75056", "75100")) // json.loads of the history cell
    assert(paris.getAs[Double]("matchid_location_latitude") == 48.8566)
    assert(paris.getAs[Long]("matchid_location_city_population") == 2148000L)
    val reunion = out("98405")
    assert(reunion.getAs[String]("matchid_location_citycode") == "97409") // replace mapping
    assert(reunion.getAs[String]("matchid_location_city") == "saint denis")
    assert(reunion.getAs[Double]("matchid_location_latitude") == 90.0) // no geopoint
    val foreign = out("99123")
    assert(foreign.getAs[String]("matchid_location_citycode") == "") // blanked
    assert(foreign.getAs[String]("matchid_location_city") == "FOREIGNTOWN") // src fallback
    assert(foreign.getAs[String]("matchid_location_depcode") == "99")
    assert(foreign.getSeq[String](foreign.fieldIndex("matchid_location_citycode_history")).isEmpty)
  }

  test("the reference's french_city+dep fuzzy recipe runs verbatim (location.yml:3-75)") {
    import spark.implicits._
    Files.writeString(java.nio.file.Paths.get(s"$dir/city2dep.csv"),
      "norm_name;CODEISO3;dep_code\nsaint denis;FRA;93\nparis;FRA;75\n")
    Files.writeString(java.nio.file.Paths.get(s"$dir/citycodes_f.csv"),
      "norm_name;dep_code;CODEISO3;insee_code;insee_code_history;name;newest_name;newest_dep_code;population;surface;geopoint_2d\n" +
        "saint denis;93;FRA;93066;[\"93066\"];saint denis;saint denis;93;110000;5;POINT(2.3535 48.9362)\n" +
        "paris;75;FRA;75056;[\"75056\"];paris;paris;75;2148000;105;POINT(2.3522 48.8566)\n")
    Seq(
      ("St Denis", "FRA", ""),    // st→saint replace rule, then exact
      ("Pariss", "FRA", "75"),    // 1-edit fuzzy → paris (dep from input)
      ("PARIS 14 ART", "FRA", "")) // arrondissement rule strips the tail
      .toDF("matchid_location_city_src", "matchid_location_countrycode",
        "matchid_location_depcode")
      .write.mode("overwrite").parquet(s"$dir/cd_left")
    // french_city_norm (location.yml:3-28, abridged to the rules these
    // fixtures exercise) + french_city+dep (29-75) steps verbatim
    val yaml =
      s"""datasets:
         |  persons_cd: {path: $dir/cd_left, format: parquet}
         |  french_city2dep_fuzzy: {path: $dir/city2dep.csv, format: csv}
         |  french_citycodes_fuzzy: {path: $dir/citycodes_f.csv, format: csv}
         |recipes:
         |  french_city_norm:
         |    steps:
         |      - replace:
         |          select: matchid_location_city_norm
         |          regex:
         |            - ^\\s*(lyon|marseille|paris)(\\s.*|\\s*\\d\\d*.*|.*art.*|.*arr.*)$$: '\\1'
         |            - (^|\\s)ste(\\s|$$): '\\1sainte\\2'
         |            - (^|\\s)st(\\s|$$): '\\1saint\\2'
         |            - \\s+: ' '
         |  french_city+dep:
         |    input: persons_cd
         |    steps:
         |      - map:
         |          matchid_location_city_norm: matchid_location_city_src
         |      - normalize:
         |          select: matchid_location_city_norm
         |      - french_city_norm:
         |      - join:
         |          type : in_memory
         |          dataset: french_city2dep_fuzzy
         |          strict:
         |            matchid_location_city_norm: norm_name
         |            matchid_location_countrycode: CODEISO3
         |          select:
         |            matchid_location_depcode_ref: dep_code
         |      - eval:
         |          - matchid_location_depcode: matchid_location_depcode_ref if (matchid_location_depcode_ref != "") else matchid_location_depcode
         |      - join:
         |          type : in_memory
         |          dataset: french_citycodes_fuzzy
         |          fuzzy:
         |            matchid_location_city_norm: norm_name
         |          strict:
         |            matchid_location_depcode: dep_code
         |            matchid_location_countrycode: CODEISO3
         |          select:
         |            matchid_location_citycode: insee_code
         |            matchid_location_citycode_history: insee_code_history
         |            matchid_location_city: name
         |            matchid_location_city_alter: newest_name
         |            matchid_location_depcode_alter: newest_dep_code
         |            matchid_location_city_population: population
         |            matchid_location_city_surface: surface
         |            matchid_location_city_geopoint_2d: geopoint_2d
         |      - delete:
         |          select: matchid_location_city_norm.*|matchid_location_depcode_ref
         |      - eval:
         |          - matchid_location_city: matchid_location_city_src if ('matchid_location_city' not in row.keys()) else (matchid_location_city_src if (matchid_location_city=="") else matchid_location_city )
         |          - matchid_location_depcode: str("99") if ('matchid_location_depcode' not in row.keys()) else ( str("99") if (matchid_location_depcode == "") else matchid_location_depcode)
         |          - matchid_location_citycode_history: list([]) if (matchid_location_citycode_history=="") else json.loads(matchid_location_citycode_history)
         |      - eval:
         |          - matchid_location_latitude: geopoint(matchid_location_city_geopoint_2d)[0] if ('POINT' in matchid_location_city_geopoint_2d) else matchid_location_country_latitude if ("matchid_location_country_latitude" in row.keys()) else 90
         |          - matchid_location_longitude: geopoint(matchid_location_city_geopoint_2d)[1] if ('POINT' in matchid_location_city_geopoint_2d) else matchid_location_country_longitude if ("matchid_location_country_latitude" in row.keys()) else 90
         |      - to_float:
         |          select: ^matchid_location_(latitude|longitude)$$
         |          na_value: 90
         |""".stripMargin
    val out = RecipeConf.run(spark, RecipeConf.load(yaml), "french_city+dep")
      .collect().map(r => r.getAs[String]("matchid_location_city_src") -> r).toMap
    val sd = out("St Denis")
    assert(sd.getAs[String]("matchid_location_depcode") == "93") // via city2dep
    assert(sd.getAs[String]("matchid_location_citycode") == "93066")
    assert(sd.getAs[String]("matchid_location_city") == "saint denis")
    assert(sd.getAs[Double]("matchid_location_latitude") == 48.9362)
    val pariss = out("Pariss")
    assert(pariss.getAs[String]("matchid_location_citycode") == "75056") // fuzzy dist 1
    assert(pariss.getAs[String]("matchid_location_depcode") == "75")
    val arr = out("PARIS 14 ART")
    assert(arr.getAs[String]("matchid_location_citycode") == "75056") // tail stripped
    assert(arr.getSeq[String](arr.fieldIndex("matchid_location_citycode_history")) == Seq("75056"))
  }

  test("the reference's db_date recipe runs verbatim (date.yml:1-24)") {
    import spark.implicits._
    Seq("1985-06-12T08:30", "1985-06-45", "1985-14-12")
      .toDF("matchid_date_birth_src")
      .write.mode("overwrite").parquet(s"$dir/dates_left")
    // steps copied 1:1 from date.yml:1-24 — the replace chain clamps
    // invalid day/month components, then %Y%m%d parses
    val yaml =
      s"""datasets:
         |  dts: {path: $dir/dates_left, format: parquet}
         |recipes:
         |  db_date:
         |    input: dts
         |    steps:
         |      - map:
         |          matchid_date_birth: matchid_date_birth_src
         |      - replace:
         |          select: matchid_date_birth$$
         |          regex:
         |            - '^(\\d{4})-(\\d{2})-(\\d{2}).*$$': '\\1/\\2/\\3'
         |            - /(3[2-9]|[4-9][0-9])$$: /31
         |            - /(1[3-9])/: /12/
         |            - /[2-9]([1-9])/: /0\\1/
         |            - /[2-9]0/: /01/
         |            - (\\d{4})/02/(30|31): \\1/03/01
         |            - (1900|(\\d{2})([02468][26]|[13579][048]|\\d[13579]))/02/29: \\1/02/28
         |            - (04|06|09|11)/31\\$$: \\1/30
         |            - /00: /01
         |            - /: ''
         |      - map:
         |          matchid_date_birth_str: matchid_date_birth
         |      - parsedate :
         |          select: matchid_date_birth$$
         |          format: "%Y%m%d"
         |""".stripMargin
    val out = RecipeConf.run(spark, RecipeConf.load(yaml), "db_date")
      .collect().map(r => r.getAs[String]("matchid_date_birth_src") ->
        (r.getAs[String]("matchid_date_birth_str"), r.getAs[java.sql.Timestamp]("matchid_date_birth")))
      .toMap
    assert(out("1985-06-12T08:30")._1 == "19850612") // time tail stripped
    assert(out("1985-06-12T08:30")._2.toString.startsWith("1985-06-12"))
    assert(out("1985-06-45")._1 == "19850631")  // day clamped to 31 (as shipped)
    assert(out("1985-14-12")._1 == "19851212")  // month clamped to 12
    // day 31 in june is invalid → coerce-to-null like pandas
    assert(out("1985-06-45")._2 == null)
  }

  test("map array form, dataset select + multi-file regex, before/after deps") {
    import spark.implicits._
    Files.writeString(java.nio.file.Paths.get(s"$dir/part_a.csv"), "x;y;z\n1;a;p\n")
    Files.writeString(java.nio.file.Paths.get(s"$dir/part_b.csv"), "x;y;z\n2;b;q\n")
    Files.writeString(java.nio.file.Paths.get(s"$dir/unrelated.txt"), "nope\n")
    val yaml =
      s"""datasets:
         |  parts:
         |    path: $dir
         |    format: csv
         |    regex: part_.*\\.csv
         |    select: [x, y]
         |  staged: {path: $dir/staged_out, format: parquet}
         |  final: {path: $dir/final_out, format: parquet}
         |recipes:
         |  stage:
         |    input: parts
         |    steps:
         |      - map: {pair: [x, y]}
         |    output: staged
         |  main:
         |    input: staged
         |    before: [stage]
         |    after: [archive &]
         |    steps:
         |      - keep: {select: [x, pair]}
         |    output: final
         |  archive:
         |    input: final
         |    steps:
         |      - map: {archived: x}
         |    output: staged
         |""".stripMargin
    val conf = RecipeConf.load(yaml)
    // regex matched only the two part files; select pruned z; the map
    // array form built pair = [x, y]
    RecipeConf.run(spark, conf, "main")
    val out = spark.read.parquet(s"$dir/final_out").orderBy("x").collect()
    assert(out.length == 2)
    assert(out(0).schema.fieldNames.toSeq == Seq("x", "pair"))
    assert(out(0).getSeq[String](1) == Seq("1", "a"))
    // the after-dep re-wrote staged with the archived column ('&' stripped)
    assert(spark.read.parquet(s"$dir/staged_out").columns.contains("archived"))
  }

  test("structured input: dataset + filter recipe + select (recipes.py:1032-1037)") {
    Files.writeString(java.nio.file.Paths.get(s"$dir/finput.csv"),
      "name;age;junk\nana;30;x\nben;-1;y\ncleo;44;z\n")
    val conf = RecipeConf.load(
      s"""datasets:
         |  fin: {path: $dir/finput.csv, format: csv}
         |recipes:
         |  valid_only:
         |    steps:
         |      - to_integer: [age]
         |      - keep: {where: "age >= 0"}
         |  grown:
         |    input:
         |      dataset: fin
         |      filter: valid_only
         |      select: [name, age]
         |    steps:
         |      - keep: {where: "age >= 40"}
         |""".stripMargin)
    val out = RecipeConf.run(spark, conf, "grown").collect()
    assert(out.map(_.getAs[String]("name")).toSeq == Seq("cleo"))
    assert(out.head.schema.fieldNames.toSeq == Seq("name", "age")) // junk pruned at read
  }

  test("step-level sub-recipe cycles fail at compile with the chain named") {
    import spark.implicits._
    Seq((1L, "x")).toDF("id", "v").write.mode("overwrite").parquet(s"$dir/cyc_in")
    val conf = RecipeConf.load(
      s"""datasets:
         |  cd: {path: $dir/cyc_in, format: parquet}
         |recipes:
         |  a:
         |    input: cd
         |    steps:
         |      - b: {}
         |  b:
         |    steps:
         |      - a: {}
         |""".stripMargin)
    val e = intercept[RuntimeException] { RecipeConf.run(spark, conf, "a") }
    assert(e.getMessage.contains("sub-recipe cycle"), e.getMessage)
  }

  test("blank knobs and typo'd values fail loudly (rates:, onError, unknown datasets)") {
    import spark.implicits._
    Seq((1L, "en")).toDF("id", "lang").write.mode("overwrite").parquet(s"$dir/blank_in")
    def conf(step: String) = RecipeConf.load(
      s"""datasets:
         |  bd: {path: $dir/blank_in, format: parquet}
         |recipes:
         |  r:
         |    input: bd
         |    steps:
         |      - $step
         |""".stripMargin)
    // `rates:` written but left blank = Some(null), not a silent keep-all
    val e1 = intercept[RuntimeException] {
      RecipeConf.run(spark, conf("sample: {key: lang, id: id, rates: }"), "r")
    }
    assert(e1.getMessage.contains("rates"), e1.getMessage)
    val e2 = intercept[RuntimeException] {
      RecipeConf.run(spark, conf("eval: {out: \"1\", onError: strings}"), "r")
    }
    assert(e2.getMessage.contains("onError"), e2.getMessage)
    // typed knobs: unparseable numeric/bool values name the step and
    // the knob, never an anonymous NumberFormatException
    val e4 = intercept[RuntimeException] {
      RecipeConf.run(spark,
        conf("chunk: {id: id, text: lang, size: tiny}"), "r")
    }
    assert(e4.getMessage.contains("chunk: 'size' must be an integer, got 'tiny'"),
      e4.getMessage)
    val e5 = intercept[RuntimeException] {
      RecipeConf.run(spark,
        conf("near_dups: {id: id, text: lang, threshold: high}"), "r")
    }
    assert(e5.getMessage.contains("near_dups: 'threshold' must be a number"),
      e5.getMessage)
    val e6 = intercept[RuntimeException] {
      RecipeConf.run(spark,
        conf("vocab: {text: lang, lowercase: yep}"), "r")
    }
    assert(e6.getMessage.contains("vocab: 'lowercase' must be true/false"),
      e6.getMessage)
    // a knob written but left BLANK is an error, not a silent default
    val e7 = intercept[RuntimeException] {
      RecipeConf.run(spark, conf("chunk: {id: id, text: lang, size: }"), "r")
    }
    assert(e7.getMessage.contains("chunk: 'size' is blank"), e7.getMessage)
    // ...including STRING knobs (a blank method was an anonymous NPE)
    val e8 = intercept[RuntimeException] {
      RecipeConf.run(spark, conf("dedup: {id: id, text: lang, method: }"), "r")
    }
    assert(e8.getMessage.contains("dedup: 'method' is blank"), e8.getMessage)
    // ...and numeric values INSIDE user mappings (split weights)
    val e9 = intercept[RuntimeException] {
      RecipeConf.run(spark,
        conf("split: {id: id, splits: {train: heavy}}"), "r")
    }
    assert(e9.getMessage.contains("split: weight for 'train' must be a number"),
      e9.getMessage)
    // unknown top-level input dataset names the recipe and known names
    val badIn = RecipeConf.load(
      s"""datasets:
         |  bd: {path: $dir/blank_in, format: parquet}
         |recipes:
         |  r2: {input: nope, steps: [{keep: {select: [id]}}]}
         |""".stripMargin)
    val e3 = intercept[RuntimeException] { RecipeConf.run(spark, badIn, "r2") }
    assert(e3.getMessage.contains("unknown input dataset 'nope'"), e3.getMessage)
  }

  test("before/after dependency cycles fail fast instead of overflowing") {
    Files.writeString(java.nio.file.Paths.get(s"$dir/cyc.csv"), "v\n1\n")
    val conf = RecipeConf.load(
      s"""datasets:
         |  c: {path: $dir/cyc.csv, format: csv}
         |recipes:
         |  a: {input: c, before: [b], steps: []}
         |  b: {input: c, before: [a], steps: []}
         |""".stripMargin)
    val e = intercept[IllegalArgumentException](RecipeConf.run(spark, conf, "a"))
    assert(e.getMessage.contains("dependency cycle"))
  }

  test("index sink from YAML writes docs + postings (the ES-bulk analogue)") {
    import spark.implicits._
    Seq((1L, "red apple pie"), (2L, "green pear tart"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/idx_in")
    val conf = RecipeConf.load(
      s"""datasets:
         |  raw_docs: {path: $dir/idx_in, format: parquet}
         |  the_index:
         |    path: $dir/idx_out
         |    format: index
         |    options: {id: doc_id, analyzed: toks}
         |recipes:
         |  build_index:
         |    input: raw_docs
         |    steps:
         |      - eval: {toks: "split(text, ' ')"}
         |    output: the_index
         |""".stripMargin)
    RecipeConf.run(spark, conf, "build_index")
    val docs = spark.read.parquet(s"$dir/idx_out/docs")
    val postings = spark.read.parquet(s"$dir/idx_out/postings")
    assert(docs.count() == 2 && docs.columns.contains("_id"))
    assert(postings.filter($"token" === "pie").head().getAs[Long]("_id") == 1L)
    // and the index format reads back as the docs table
    assert(RecipeConf.read(spark, conf.datasets("the_index")).count() == 2)
  }

  test("ann_index sink from YAML persists a queryable IVF layout") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    (0L until 40L).map(i => (i, Seq.fill(8)(rnd.nextFloat())))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/ann_in")
    val conf = RecipeConf.load(
      s"""datasets:
         |  vectors: {path: $dir/ann_in, format: parquet}
         |  the_ann:
         |    path: $dir/ann_out
         |    format: ann_index
         |    options: {id: vec_id, vec: embedding, nlist: "4"}
         |recipes:
         |  build_ann: {input: vectors, steps: [], output: the_ann}
         |""".stripMargin)
    RecipeConf.run(spark, conf, "build_ann")
    // cell-partitioned corpus + centroids on disk, queryable end-to-end
    assert(spark.read.parquet(s"$dir/ann_out/centroids").count() == 4)
    val q = spark.read.parquet(s"$dir/ann_in").limit(3)
    val hits = graft.sim.Ann.ivfIndexTopKAuto(spark, s"$dir/ann_out",
      q, "vec_id", "embedding", k = 2, nprobe = 2)
    assert(hits.count() == 6) // 3 queries × k=2

    // the QUERY side from YAML: ann_topk probes the persisted index;
    // with nprobe = nlist it is exhaustive, so it must agree exactly
    // with brute force over the same corpus (method: brute)
    val qconf = RecipeConf.load(
      s"""datasets:
         |  vectors: {path: $dir/ann_in, format: parquet}
         |  the_ann:
         |    path: $dir/ann_out
         |    format: ann_index
         |    options: {id: vec_id, vec: embedding, nlist: "4"}
         |recipes:
         |  probe:
         |    input: vectors
         |    steps:
         |      - ann_topk: {id: vec_id, vec: embedding, k: 2,
         |                   index: the_ann, nprobe: 4}
         |  brute:
         |    input: vectors
         |    steps:
         |      - ann_topk: {id: vec_id, vec: embedding, k: 2, dataset: vectors}
         |  hashed:
         |    input: vectors
         |    steps:
         |      - ann_topk: {id: vec_id, vec: embedding, k: 2,
         |                   dataset: vectors, method: lsh, bits: 4, tables: 3}
         |""".stripMargin)
    val fromIndex = RecipeConf.run(spark, qconf, "probe")
    val brute = RecipeConf.run(spark, qconf, "brute")
    assert(fromIndex.count() == 80) // 40 queries × k=2
    assert(fromIndex.exceptAll(brute).isEmpty,
      "exhaustive IVF probe from YAML diverges from brute force")
    // the LSH path returns a subset of true neighbors with exact scores
    val lsh = RecipeConf.run(spark, qconf, "hashed")
    assert(lsh.count() > 0 && lsh.join(
      graft.sim.Ann.bruteForceTopK(q.sparkSession.read.parquet(s"$dir/ann_in"),
        q.sparkSession.read.parquet(s"$dir/ann_in"),
        "vec_id", "embedding", "vec_id", "embedding", k = 40),
      Seq("query_id", "neighbor_id", "score"), "left_anti").isEmpty)
    // wrong-format index dataset is named at compile
    val bad = RecipeConf.load(
      s"""datasets:
         |  vectors: {path: $dir/ann_in, format: parquet}
         |recipes:
         |  p: {input: vectors, steps: [{ann_topk: {id: vec_id, vec: embedding, index: vectors}}]}
         |""".stripMargin)
    val e = intercept[IllegalArgumentException] { RecipeConf.run(spark, bad, "p") }
    assert(e.getMessage.contains("must name an ann_index dataset"), e.getMessage)

    // the int8 layout end-to-end from YAML: quantize: true sink, then
    // ann_topk probes it exhaustively under the layout its manifest
    // records — must equal the brute-force quantized ranking
    val qc = RecipeConf.load(
      s"""datasets:
         |  vectors: {path: $dir/ann_in, format: parquet}
         |  the_ann_q:
         |    path: $dir/ann_out_q
         |    format: ann_index
         |    options: {id: vec_id, vec: embedding, nlist: "4", quantize: "true"}
         |recipes:
         |  build: {input: vectors, steps: [], output: the_ann_q}
         |  probe:
         |    input: vectors
         |    steps:
         |      - ann_topk: {id: vec_id, vec: embedding, k: 2,
         |                   index: the_ann_q, nprobe: 4}
         |""".stripMargin)
    RecipeConf.run(spark, qc, "build")
    val vq = graft.sim.Ann.quantizeInt8(
      spark.read.parquet(s"$dir/ann_in"), "embedding",
      graft.sim.Ann.int8Params(spark.read.parquet(s"$dir/ann_in"), "embedding"))
    val directQ = graft.sim.Ann.quantizedTopK(vq, vq,
      "vec_id", "qvec", "vec_id", "qvec", k = 2)
    val probedQ = RecipeConf.run(spark, qc, "probe")
    assert(probedQ.exceptAll(directQ).isEmpty && directQ.exceptAll(probedQ).isEmpty,
      "YAML quantized probe diverges from brute-force quantized")

    // the IVF-PQ layout end-to-end from YAML: quantize: pq sink with
    // explicit code geometry, then ann_topk probes it exhaustively —
    // must equal the brute-force PQ ranking
    val pc = RecipeConf.load(
      s"""datasets:
         |  vectors: {path: $dir/ann_in, format: parquet}
         |  the_ann_pq:
         |    path: $dir/ann_out_pq
         |    format: ann_index
         |    options: {id: vec_id, vec: embedding, nlist: "4",
         |              quantize: "pq", pq_m: "4", pq_ksub: "8"}
         |recipes:
         |  build: {input: vectors, steps: [], output: the_ann_pq}
         |  probe:
         |    input: vectors
         |    steps:
         |      - ann_topk: {id: vec_id, vec: embedding, k: 2,
         |                   index: the_ann_pq, nprobe: 4}
         |""".stripMargin)
    RecipeConf.run(spark, pc, "build")
    val vecs = spark.read.parquet(s"$dir/ann_in")
    val directPq = graft.sim.Ann.pqTopK(vecs, vecs,
      "vec_id", "embedding", "vec_id", "embedding", k = 2, m = 4, ksub = 8)
    val probedPq = RecipeConf.run(spark, pc, "probe")
    assert(probedPq.exceptAll(directPq).isEmpty &&
      directPq.exceptAll(probedPq).isEmpty,
      "YAML PQ probe diverges from brute-force PQ")
  }

  test("ann_index append from YAML extends the index; drifted geometry options refuse loudly") {
    import org.apache.spark.sql.functions.col
    val vecs = spark.read.parquet(s"$dir/ann_in")
    vecs.filter(col("vec_id") % 2 === 0)
      .write.mode("overwrite").parquet(s"$dir/ann_half")
    vecs.filter(col("vec_id") % 2 =!= 0)
      .write.mode("overwrite").parquet(s"$dir/ann_rest")
    val conf = RecipeConf.load(
      s"""datasets:
         |  half: {path: $dir/ann_half, format: parquet}
         |  rest: {path: $dir/ann_rest, format: parquet}
         |  all: {path: $dir/ann_in, format: parquet}
         |  idx:
         |    path: $dir/ann_app_idx
         |    format: ann_index
         |    options: {id: vec_id, vec: embedding, nlist: "4"}
         |  idx_drift:
         |    path: $dir/ann_app_idx
         |    format: ann_index
         |    options: {id: vec_id, vec: embedding, nlist: "8"}
         |recipes:
         |  build: {input: half, steps: [], output: idx}
         |  extend: {input: rest, steps: [], output: idx}
         |  drift: {input: rest, steps: [], output: idx_drift}
         |  probe:
         |    input: all
         |    steps:
         |      - ann_topk: {id: vec_id, vec: embedding, k: 2, index: idx,
         |                   nprobe: 4}
         |""".stripMargin)
    RecipeConf.run(spark, conf, "build")
    RecipeConf.run(spark, conf, "extend", mode = "append")
    // after the append the index answers over the WHOLE corpus: an
    // exhaustive probe equals brute-force cosine over all vectors
    val probed = RecipeConf.run(spark, conf, "probe")
    val direct = graft.sim.Ann.bruteForceTopK(vecs, vecs,
      "vec_id", "embedding", "vec_id", "embedding", k = 2)
    assert(probed.exceptAll(direct).isEmpty && direct.exceptAll(probed).isEmpty,
      "appended YAML index diverges from brute force over the union")
    assert(graft.sim.Ann.readManifest(spark, s"$dir/ann_app_idx")
      .exists(m => m.version == 1L && m.rows == vecs.count()))
    // a dataset block declaring different geometry cannot append
    val eDrift = intercept[RuntimeException](
      RecipeConf.run(spark, conf, "drift", mode = "append"))
    assert(eDrift.getMessage.contains("drifted"), eDrift.getMessage)
    // mode=compact folds STREAMED epoch partitions into the main
    // table through the same YAML that owns the build/append — the
    // full index lifecycle is recipe-driven. Plant one streamed epoch
    // via the sink's per-batch body, fold it, and the exhaustive
    // probe must still equal brute force (now over corpus + the
    // streamed rows) with the watermark recorded.
    val idxPath = s"$dir/ann_app_idx"
    val extra = vecs.limit(3).select(
      (col("vec_id") + 10000).as("vec_id"), col("embedding"))
    graft.streaming.EventStream.appendIvfBatch(extra, idxPath,
      "vec_id", "embedding", tag = "yamlck", epoch = 0,
      pre = graft.sim.Ann.loadIndexGeometry(spark, idxPath, "spec"))
    RecipeConf.run(spark, conf, "extend", mode = "compact")
    // the folded epoch lingers one fold cycle (r15 probe grace,
    // marks-invisible); a second compact's entry collection removes it
    RecipeConf.run(spark, conf, "extend", mode = "compact")
    val fs = new org.apache.hadoop.fs.Path(idxPath).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$idxPath/stream")),
      "YAML compact left the stream/ table behind")
    val all2 = vecs.unionByName(extra)
    val probed2 = RecipeConf.run(spark, conf, "probe")
    val direct2 = graft.sim.Ann.bruteForceTopK(vecs, all2,
      "vec_id", "embedding", "vec_id", "embedding", k = 2)
    assert(probed2.exceptAll(direct2).isEmpty &&
      direct2.exceptAll(probed2).isEmpty,
      "compacted YAML index diverges from brute force over the union")
    assert(graft.sim.Ann.readManifest(spark, idxPath)
      .exists(m => m.streamMarks == Map("yamlck" -> 0L) &&
        m.rows == all2.count()))
  }

  test("ann_index compact_after policy folds at the declared threshold, " +
      "not below; mode=delete tombstones through the recipe") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val vecs = (0L until 40L).map(i => (i, Seq.fill(8)(rnd.nextFloat())))
      .toDF("vec_id", "embedding")
    val idxPath = s"$dir/ann_auto_idx"
    vecs.write.mode("overwrite").parquet(s"$dir/ann_auto_in")
    vecs.limit(2).select((col("vec_id") + 20000).as("vec_id"),
        col("embedding"))
      .write.mode("overwrite").parquet(s"$dir/ann_auto_batch")
    vecs.orderBy("vec_id").limit(1).select("vec_id")
      .write.mode("overwrite").parquet(s"$dir/ann_auto_del")
    val conf = RecipeConf.load(
      s"""datasets:
         |  all: {path: $dir/ann_auto_in, format: parquet}
         |  batch: {path: $dir/ann_auto_batch, format: parquet}
         |  delids: {path: $dir/ann_auto_del, format: parquet}
         |  idx:
         |    path: $idxPath
         |    format: ann_index
         |    options: {id: vec_id, vec: embedding, nlist: "4",
         |              compact_after_epochs: "2"}
         |recipes:
         |  build: {input: all, steps: [], output: idx}
         |  extend: {input: batch, steps: [], output: idx}
         |  takedown: {input: delids, steps: [], output: idx}
         |""".stripMargin)
    RecipeConf.run(spark, conf, "build")
    // plant ONE streamed epoch — below the declared threshold of 2,
    // so the append boundary's policy check must NOT fold it
    val pre = graft.sim.Ann.loadIndexGeometry(spark, idxPath, "spec")
    val extra = vecs.limit(3).select(
      (col("vec_id") + 10000).as("vec_id"), col("embedding"))
    graft.streaming.EventStream.appendIvfBatch(extra, idxPath,
      "vec_id", "embedding", tag = "autock", epoch = 0, pre = pre)
    RecipeConf.run(spark, conf, "extend", mode = "append")
    val fs = new org.apache.hadoop.fs.Path(idxPath).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$idxPath/stream")),
      "policy folded below its threshold")
    // second epoch crosses the threshold: the NEXT append boundary
    // folds the backlog
    graft.streaming.EventStream.appendIvfBatch(extra, idxPath,
      "vec_id", "embedding", tag = "autock", epoch = 1, pre = pre)
    RecipeConf.run(spark, conf, "extend", mode = "append")
    // the fold's evidence is the watermark (the folded dirs linger one
    // cycle as probe grace), and the graced dirs must not re-trip the
    // policy at the next boundary
    assert(graft.sim.Ann.readManifest(spark, idxPath)
        .exists(_.streamMarks == Map("autock" -> 1L)),
      "append boundary did not fold a backlog past compact_after_epochs")
    assert(!graft.sim.Ann.maybeCompactIvfIndex(spark, idxPath,
        afterEpochs = Some(1)),
      "graced (already-folded) dirs re-tripped the epoch policy")
    // mode=delete routes the input frame's ids into the tombstone
    // table; the probe suppresses them immediately
    RecipeConf.run(spark, conf, "takedown", mode = "delete")
    val victim = vecs.orderBy("vec_id").limit(1)
      .select("vec_id").collect()(0).getLong(0)
    val probed = graft.sim.Ann.ivfIndexTopKAuto(spark, idxPath,
      vecs.filter(col("vec_id") === victim), "vec_id", "embedding",
      k = 1, nprobe = 4, excludeSelf = false)
    assert(probed.filter(col("neighbor_id") === victim).isEmpty,
      "a YAML-tombstoned id is still probe-visible")
  }

  test("neardup_index sink from YAML persists a probe-able band layout") {
    import spark.implicits._
    // corpus of distinct docs + one known text the batch will collide on
    ((1L to 30L).map(i => (i, s"corpus document number $i about topic ${i % 5}")) :+
      (99L, "the quick brown fox jumps over the lazy dog"))
      .toDF("id", "text").write.mode("overwrite").parquet(s"$dir/nd_corpus")
    Seq((1L, "the quick brown fox jumps over the lazy dog"), // corpus dup
        (2L, "an entirely novel batch document about nothing"))
      .toDF("id", "text").write.mode("overwrite").parquet(s"$dir/nd_batch")
    val conf = RecipeConf.load(
      s"""datasets:
         |  corpus: {path: $dir/nd_corpus, format: parquet}
         |  batch: {path: $dir/nd_batch, format: parquet}
         |  nd_idx:
         |    path: $dir/nd_idx
         |    format: neardup_index
         |    options: {id: id, text: text}
         |recipes:
         |  build: {input: corpus, steps: [], output: nd_idx}
         |  probe:
         |    input: batch
         |    steps:
         |      - dedup: {method: incremental_near, id: id, text: text,
         |                index: nd_idx}
         |""".stripMargin)
    RecipeConf.run(spark, conf, "build")
    // manifest written last certifies the build; tables are on disk
    assert(graft.dedup.Dedup.readNearDupManifest(spark, s"$dir/nd_idx")
      .exists(_._4 == 31L))
    val kept = RecipeConf.run(spark, conf, "probe")
      .collect().map(_.getAs[Long]("id")).toSeq
    assert(kept == Seq(2L), kept.toString) // 1 is a corpus near-dup
    // wrong-format index dataset is named at compile
    val bad = RecipeConf.load(
      s"""datasets:
         |  batch: {path: $dir/nd_batch, format: parquet}
         |recipes:
         |  p: {input: batch, steps: [{dedup: {method: incremental_near,
         |      id: id, text: text, index: batch}}]}
         |""".stripMargin)
    val e = intercept[IllegalArgumentException] { RecipeConf.run(spark, bad, "p") }
    assert(e.getMessage.contains("must name a neardup_index dataset"), e.getMessage)
  }

  test("ann_index purge_after_deletes_pct: the tombstone backlog folds " +
      "once it crosses the declared share of the certified total") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 40L).map(i => (i, Seq.fill(8)(rnd.nextFloat())))
      .toDF("vec_id", "embedding")
    val idxPath = s"$dir/ann_pct_idx"
    vecs.write.mode("overwrite").parquet(s"$dir/ann_pct_in")
    def conf(ids: Seq[Long]) = {
      ids.toDF("vec_id").write.mode("overwrite")
        .parquet(s"$dir/ann_pct_del")
      RecipeConf.load(
        s"""datasets:
           |  all: {path: $dir/ann_pct_in, format: parquet}
           |  delids: {path: $dir/ann_pct_del, format: parquet}
           |  idx:
           |    path: $idxPath
           |    format: ann_index
           |    options: {id: vec_id, vec: embedding, nlist: "4",
           |              purge_after_deletes_pct: "5"}
           |recipes:
           |  build: {input: all, steps: [], output: idx}
           |  takedown: {input: delids, steps: [], output: idx}
           |""".stripMargin)
    }
    RecipeConf.run(spark, conf(Nil), "build")
    val fs = new org.apache.hadoop.fs.Path(idxPath).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // one tombstone = 2.5% of 40 — below the 5% threshold: the
    // backlog stays, the probe suppresses meanwhile
    RecipeConf.run(spark, conf(Seq(0L)), "takedown", mode = "delete")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$idxPath/deletes")),
      "pct policy purged below its threshold")
    // two more rows cross 5% (3/40 = 7.5%): the delete boundary folds,
    // consuming the tombstones and erasing the rows physically
    RecipeConf.run(spark, conf(Seq(1L, 2L)), "takedown", mode = "delete")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$idxPath/deletes")),
      "pct policy did not purge past its threshold")
    // reader-visible view: the replaced files ride the dead-file
    // grace one maintenance cycle (openAssignedRaw excludes them)
    assert(graft.sim.Ann.openAssignedRaw(spark, idxPath)
      .filter(col("neighbor_id") <= 2L).isEmpty,
      "purge left tombstoned rows in assigned/")
  }

  test("takedown sink cascades one id frame across artifacts; neardup " +
      "append refuses drift; index purge_after_deletes folds at threshold") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, array_distinct, split}
    val tpl = "the quick brown fox jumps over the lazy dog again and again"
    val docs = ((1L to 8L).map(i =>
        (i, s"corpus document number $i about census topic ${i % 3} " +
          "with a few more words")) :+ (9L, tpl)).toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet(s"$dir/td_docs")
    Seq(9L).toDF("doc_id").write.mode("overwrite").parquet(s"$dir/td_ids")
    val docIdx = s"$dir/td_docidx"
    val bandIdx = s"$dir/td_bandidx"
    graft.sources.Sinks.indexed(
      docs.withColumn("toks", array_distinct(split(col("text"), " "))),
      docIdx, Some("doc_id"), "toks")
    graft.dedup.Dedup.writeNearDupIndex(docs, "doc_id", "text", bandIdx)
    val conf = RecipeConf.load(
      s"""datasets:
         |  ids: {path: $dir/td_ids, format: parquet}
         |  batch: {path: $dir/td_docs, format: parquet}
         |  bandw:
         |    path: $bandIdx
         |    format: neardup_index
         |    options: {id: doc_id, text: text, num_hashes: "32"}
         |  td:
         |    path: unused
         |    format: takedown
         |    options: {id: doc_id, index: $docIdx, neardup_index: $bandIdx}
         |  td_none: {path: unused, format: takedown, options: {id: doc_id}}
         |  docw:
         |    path: $docIdx
         |    format: index
         |    options: {id: doc_id, analyzed: toks, purge_after_deletes: "3"}
         |  docw50:
         |    path: $docIdx
         |    format: index
         |    options: {id: doc_id, analyzed: toks, purge_after_deletes_pct: "50"}
         |  docw10:
         |    path: $docIdx
         |    format: index
         |    options: {id: doc_id, analyzed: toks, purge_after_deletes_pct: "10"}
         |recipes:
         |  takedown: {input: ids, steps: [], output: td}
         |  bad_takedown: {input: ids, steps: [], output: td_none}
         |  bad_append: {input: batch, steps: [], output: bandw}
         |  del_doc: {input: ids, steps: [], output: docw}
         |  del_doc50: {input: ids, steps: [], output: docw50}
         |  del_doc10: {input: ids, steps: [], output: docw10}
         |""".stripMargin)
    // a takedown with no target artifact is a loud refusal
    val e0 = intercept[IllegalArgumentException](
      RecipeConf.run(spark, conf, "bad_takedown", mode = "delete"))
    assert(e0.getMessage.contains("target artifact"), e0.getMessage)
    // an append whose declared signature drifts from the manifest's
    // stored parameters refuses instead of silently band-mismatching
    val e1 = intercept[RuntimeException](
      RecipeConf.run(spark, conf, "bad_append", mode = "append"))
    assert(e1.getMessage.contains("drifted signature"), e1.getMessage)
    // ONE cascading run tombstones doc 9 in BOTH artifacts
    RecipeConf.run(spark, conf, "takedown", mode = "delete")
    assert(graft.sources.Sources.indexedTable(spark, docIdx, "docs")
      .filter(col("_id") === 9L).isEmpty, "doc store still serves doc 9")
    val clone = Seq((100L, tpl)).toDF("doc_id", "text")
    assert(graft.dedup.Dedup.incrementalNearDupsIndexed(
        clone, bandIdx, "doc_id", "text")
      .select("kept").collect().head.getBoolean(0),
      "band index still vetoes against the taken-down doc")
    // purge_after_deletes=3 at the index delete boundary: the takedown
    // left one tombstone row and the first del_doc run adds a second —
    // below the threshold the backlog stays; the next run's two more
    // rows cross it and the purge runs
    val fs = new org.apache.hadoop.fs.Path(docIdx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    RecipeConf.run(spark, conf, "del_doc", mode = "delete")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$docIdx/deletes")),
      "policy purged below its threshold")
    Seq(9L, 4L).toDF("doc_id").write.mode("overwrite")
      .parquet(s"$dir/td_ids")
    RecipeConf.run(spark, conf, "del_doc", mode = "delete")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$docIdx/deletes")),
      "policy did not purge past its threshold")
    // the purge was physical in the reader-visible view (the raw dir
    // keeps the replaced files one grace cycle): 9 and 4 gone from
    // docs/ and postings/ in step
    val Seq(docsV, postsV) = graft.sources.Sources.indexedTables(
      spark, docIdx, Seq("docs", "postings"), suppressDeletes = false)
    assert(docsV.filter(col("_id").isin(9L, 4L)).isEmpty,
      "docs/ kept purged rows")
    assert(postsV.filter(col("_id").isin(9L, 4L)).isEmpty,
      "postings/ purged out of step with docs/")
    assert(docsV.count() == 7)
    // purge_after_deletes_pct at the same boundary (r15): tombstones ≥
    // X% of the MANIFEST-certified total (7 docs). One tombstone ≈ 14%:
    // below a 50% threshold the backlog stays; past a 10% one it purges
    Seq(5L).toDF("doc_id").write.mode("overwrite").parquet(s"$dir/td_ids")
    RecipeConf.run(spark, conf, "del_doc50", mode = "delete")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$docIdx/deletes")),
      "pct policy purged below its threshold")
    RecipeConf.run(spark, conf, "del_doc10", mode = "delete")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$docIdx/deletes")),
      "pct policy did not purge past its threshold")
    assert(graft.sources.Sources.indexedTable(spark, docIdx, "docs",
      suppressDeletes = false).count() == 6)
    assert(graft.sources.Sinks.readIndexedManifest(spark, docIdx)
      .map(_._1) == Some(6L), "certified total out of step with the purge")
  }

  test("takedown receipts: evidence rows across the suppress-then-purge " +
      "sequence on all three artifacts (r14 verdict #5)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, array_distinct, split}
    val tpl = "the quick brown fox jumps over the lazy dog again and again"
    val docs = (1L to 4L).map(i =>
        (i, s"$tpl variant $i")).toDF("doc_id", "text")
      .withColumn("toks", array_distinct(split(col("text"), " ")))
    val docIdx = s"$dir/rc_docidx"
    val bandIdx = s"$dir/rc_bandidx"
    val annIdx = s"$dir/rc_annidx"
    val rdir = s"$dir/rc_receipts"
    graft.sources.Sinks.indexed(docs, docIdx, Some("doc_id"), "toks")
    graft.dedup.Dedup.writeNearDupIndex(
      docs.select("doc_id", "text"), "doc_id", "text", bandIdx)
    val emb = (1L to 4L).map(i =>
        (i, Array.tabulate(4)(d => (i + d).toFloat)))
      .toDF("doc_id", "embedding")
    graft.sim.Ann.writeIvfIndex(emb, "doc_id", "embedding", annIdx,
      nlist = 2)
    // one real id, one unknown — the receipt must document both
    Seq(2L, 99L).toDF("doc_id").write.mode("overwrite")
      .parquet(s"$dir/rc_ids")
    val conf = RecipeConf.load(
      s"""datasets:
         |  ids: {path: $dir/rc_ids, format: parquet}
         |  td:
         |    path: unused
         |    format: takedown
         |    options:
         |      id: doc_id
         |      index: $docIdx
         |      neardup_index: $bandIdx
         |      ann_index: $annIdx
         |      receipts: $rdir
         |  docw:
         |    path: $docIdx
         |    format: index
         |    options: {id: doc_id, analyzed: toks, receipts: $rdir}
         |  bandw:
         |    path: $bandIdx
         |    format: neardup_index
         |    options: {id: doc_id, text: text, receipts: $rdir}
         |  annw:
         |    path: $annIdx
         |    format: ann_index
         |    options: {id: doc_id, vec: embedding, receipts: $rdir}
         |recipes:
         |  forget: {input: ids, steps: [], output: td}
         |  purge_doc: {input: ids, steps: [], output: docw}
         |  purge_band: {input: ids, steps: [], output: bandw}
         |  purge_ann: {input: ids, steps: [], output: annw}
         |""".stripMargin)
    RecipeConf.run(spark, conf, "forget", mode = "delete")
    val r1 = spark.read.parquet(rdir)
      .select("target", "state", "ids_submitted", "ids_matched",
        "rows_purged")
      .collect().map(r => (r.getString(0), r.getString(1),
        Option(r.get(2)), Option(r.get(3)), Option(r.get(4)))).toSet
    assert(r1 == Set(
      ("index", "suppressed", Some(2L), Some(1L), None),
      ("neardup_index", "suppressed", Some(2L), Some(1L), None),
      ("ann_index", "suppressed", Some(2L), Some(1L), None)),
      s"takedown receipts wrong: $r1")
    // the paths ride along (the evidence must name the artifact)
    assert(spark.read.parquet(rdir).select("path").as[String]
      .collect().toSet == Set(docIdx, bandIdx, annIdx))
    // the purge: each artifact's YAML compact mode appends its own
    // receipt with the physically-removed count
    Seq("purge_doc", "purge_band", "purge_ann").foreach(r =>
      RecipeConf.run(spark, conf, r, mode = "compact"))
    val r2 = spark.read.parquet(rdir)
      .filter(col("state") === "purged")
      .select("target", "ids_submitted", "rows_purged")
      .collect().map(r => (r.getString(0), Option(r.get(1)),
        Option(r.get(2)))).toSet
    assert(r2 == Set(
      ("index", None, Some(1L)),
      ("neardup_index", None, Some(1L)),
      ("ann_index", None, Some(1L))),
      s"purge receipts wrong: $r2")
    assert(spark.read.parquet(rdir).count() == 6)
    // a SINGLE-artifact delete mode leaves the same evidence row the
    // cascade does (the purged ids are gone, so matched reads 0)
    val confOne = RecipeConf.load(
      s"""datasets:
         |  ids: {path: $dir/rc_ids, format: parquet}
         |  bandd:
         |    path: $bandIdx
         |    format: neardup_index
         |    options: {id: doc_id, receipts: $rdir}
         |recipes:
         |  del_one: {input: ids, steps: [], output: bandd}
         |""".stripMargin)
    RecipeConf.run(spark, confOne, "del_one", mode = "delete")
    val one = spark.read.parquet(rdir)
      .filter(col("state") === "suppressed" &&
        col("target") === "neardup_index")
      .select("ids_submitted", "ids_matched").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(one == Seq((2L, 0L), (2L, 1L)),
      s"single-delete receipt wrong: $one")
    // and the purge actually happened (the receipt is evidence, not
    // decoration)
    // reader-visible membership: the openers exclude a purge's
    // dead-file grace (the raw dirs keep those files one cycle)
    assert(graft.sources.Sources.indexedTable(spark, docIdx, "docs",
        suppressDeletes = false)
      .filter(col("_id") === 2L).isEmpty)
    assert(graft.dedup.Dedup.openNearDupTable(spark, bandIdx, "shingles")
      .filter(col("__cid") === 2L).isEmpty)
    assert(graft.sim.Ann.openAssignedRaw(spark, annIdx)
      .filter(col("neighbor_id") === 2L).isEmpty)
  }

  test("cluster step assigns and caps from YAML, codebook or fitted") {
    import spark.implicits._
    // one NULL embedding rides along: the fitted path must not crash on
    // it (the assign side gives it a NULL cluster)
    (0 until 30).map(i => (i.toLong, Some(Seq((i % 3) * 4.0f, (i % 3) * 4.0f))))
      .toDF("id", "v")
      .unionByName(Seq((99L, Option.empty[Seq[Float]])).toDF("id", "v"))
      .write.mode("overwrite").parquet(s"$dir/clu_in")
    Seq((0L, Seq(0.0, 0.0)), (1L, Seq(4.0, 4.0)), (2L, Seq(8.0, 8.0)))
      .toDF("cid", "cv").write.mode("overwrite").parquet(s"$dir/clu_cents")
    val conf = RecipeConf.load(
      s"""datasets:
         |  docs: {path: $dir/clu_in, format: parquet}
         |  book: {path: $dir/clu_cents, format: parquet}
         |recipes:
         |  assign:
         |    input: docs
         |    steps: [{cluster: {id: id, vec: v, dataset: book}}]
         |  capped:
         |    input: docs
         |    steps: [{cluster: {id: id, vec: v, dataset: book, cap: 4}}]
         |  fitted:
         |    input: docs
         |    steps: [{cluster: {id: id, vec: v, k: 3, cap: 4}}]
         |  badcap:
         |    input: docs
         |    steps: [{cluster: {id: id, vec: v, k: 3, cap: lots}}]
         |""".stripMargin)
    val a = RecipeConf.run(spark, conf, "assign").collect()
    assert(a.length == 31)
    assert(a.filter(_.getAs[Long]("id") != 99L)
      .forall(r => r.getAs[Long]("cluster_id") == r.getAs[Long]("id") % 3))
    assert(a.find(_.getAs[Long]("id") == 99L).get
      .isNullAt(a.head.fieldIndex("cluster_id")))
    // per-cluster cap holds for a named codebook and for fitted k-means;
    // the NULL-embedding row survives both uncapped
    for (recipe <- Seq("capped", "fitted")) {
      val c = RecipeConf.run(spark, conf, recipe)
      assert(c.count() == 13, recipe) // 3 clusters × cap 4 + the NULL row
      assert(c.filter("cluster_id IS NOT NULL")
        .groupBy("cluster_id").count().collect()
        .forall(_.getAs[Long]("count") == 4L), recipe)
    }
    val e = intercept[RuntimeException](RecipeConf.run(spark, conf, "badcap"))
    assert(e.getMessage.contains("'cap' must be an integer"), e.getMessage)
  }

  test("multimodal steps run the media operators from YAML") {
    import spark.implicits._
    graft.multimodal.Multimodal.synthesizeImages(
        Seq(5L, 6L).toDF("k"), "k", w = 4, h = 2)
      .write.mode("overwrite").parquet(s"$dir/media_in")
    graft.multimodal.Multimodal.synthesizeAudio(
        Seq(5L, 6L).toDF("k"), "k", sampleRate = 1000, nSamples = 4)
      .write.mode("overwrite").parquet(s"$dir/audio_in")
    graft.multimodal.Multimodal.synthesizeVideos(
        Seq(5L, 6L).toDF("k"), "k", w = 4, h = 2, nFrames = 4)
      .write.mode("overwrite").parquet(s"$dir/video_in")
    val conf = RecipeConf.load(
      s"""datasets:
         |  media: {path: $dir/media_in, format: parquet}
         |  audio: {path: $dir/audio_in, format: parquet}
         |  video: {path: $dir/video_in, format: parquet}
         |recipes:
         |  stats:  {input: media, steps: [{image_stats: {}}]}
         |  astats: {input: audio, steps: [{audio_stats: {}}]}
         |  vstats: {input: video, steps: [{video_stats: {every: 2}}]}
         |  dedupm: {input: media, steps: [{media_dedup: {}}]}
         |  frames: {input: media, steps: [{sample_frames: {every_ms: 10}}]}
         |""".stripMargin)
    val st = RecipeConf.run(spark, conf, "stats").orderBy("media_id").collect()
    assert(st.length == 2 && st(0).getAs[Int]("img_width") == 4)
    val au = RecipeConf.run(spark, conf, "astats").orderBy("media_id").collect()
    assert(au.length == 2 && au(0).getAs[Long]("n_samples") == 4)
    val vs = RecipeConf.run(spark, conf, "vstats").orderBy("media_id", "frame_idx")
      .collect()
    assert(vs.length == 4) // 2 videos × sampled frames {0, 2}
    assert(vs(0).getAs[Int]("n_frames") == 4 && vs(0).getAs[Int]("vid_width") == 4)
    assert(RecipeConf.run(spark, conf, "dedupm").count() == 2) // distinct payloads
    // duration_ms is NULL for images → explode_outer keeps one NULL-frame row
    assert(RecipeConf.run(spark, conf, "frames").count() == 2)
    // a non-media input names the missing columns at compile
    Seq((1L, "x")).toDF("id", "text")
      .write.mode("overwrite").parquet(s"$dir/not_media")
    val bad = RecipeConf.load(
      s"""datasets:
         |  nm: {path: $dir/not_media, format: parquet}
         |recipes:
         |  p: {input: nm, steps: [{image_stats: {}}]}
         |""".stripMargin)
    val e = intercept[IllegalArgumentException] { RecipeConf.run(spark, bad, "p") }
    assert(e.getMessage.contains("missing media column"), e.getMessage)
  }

  test("dedup and near_dups recipe steps run the training-data operators from YAML") {
    import spark.implicits._
    Seq((1L, "the quick brown fox", "x"), (2L, "the quick brown fox", "x"),
        (3L, "a completely different text", "x"))
      .toDF("doc_id", "text", "blk")
      .write.mode("overwrite").parquet(s"$dir/dd_in")
    val conf = RecipeConf.load(
      s"""datasets:
         |  dd: {path: $dir/dd_in, format: parquet}
         |recipes:
         |  drop_exact:
         |    input: dd
         |    steps:
         |      - dedup: {id: doc_id, text: text, method: exact}
         |  sim_pairs:
         |    input: dd
         |    steps:
         |      - near_dups: {id: doc_id, text: text, method: simhash, max_hamming: 3}
         |  winnow_pairs:
         |    input: dd
         |    steps:
         |      - near_dups: {id: doc_id, text: text, method: winnow, threshold: 0.9}
         |  ngram_pairs:
         |    input: dd
         |    steps:
         |      - near_dups: {id: doc_id, text: text, method: ngram, block: blk, threshold: 0.9}
         |""".stripMargin)
    val kept = RecipeConf.run(spark, conf, "drop_exact")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L)) // min id survives the duplicate pair
    val pairs = RecipeConf.run(spark, conf, "sim_pairs").collect()
    assert(pairs.exists(r => r.getAs[Long]("id_a") == 1L && r.getAs[Long]("id_b") == 2L
      && r.getAs[Int]("hamming") == 0))
    // winnow: the identical pair overlaps fully; the unrelated doc pairs
    // with nobody at threshold 0.9
    val wp = RecipeConf.run(spark, conf, "winnow_pairs").collect()
    assert(wp.length == 1)
    assert(wp.head.getAs[Long]("id_a") == 1L && wp.head.getAs[Long]("id_b") == 2L
      && wp.head.getAs[Double]("overlap") == 1.0)
    // ngram: char-trigram Jaccard within the block, the same one pair
    val ng = RecipeConf.run(spark, conf, "ngram_pairs").collect()
    assert(ng.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
      r.getAs[Double]("jaccard"))).toSeq == Seq((1L, 2L, 1.0)))
  }

  test("diff and skew recipe steps run from YAML") {
    import spark.implicits._
    Seq((1L, "same"), (2L, "old text"), (3L, "gone"))
      .toDF("id", "text").write.mode("overwrite").parquet(s"$dir/sd_old")
    Seq((1L, "same"), (2L, "new text"), (4L, "born"))
      .toDF("id", "text").write.mode("overwrite").parquet(s"$dir/sd_new")
    val conf = RecipeConf.load(
      s"""datasets:
         |  oldv: {path: $dir/sd_old, format: parquet}
         |  newv: {path: $dir/sd_new, format: parquet}
         |recipes:
         |  d: {input: newv, steps: [{diff: {dataset: oldv, id: id, compare: [text]}}]}
         |  s: {input: newv, steps: [{skew: {key: text, n: 2}}]}
         |""".stripMargin)
    val d = RecipeConf.run(spark, conf, "d").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(d == Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "added"))
    val s = RecipeConf.run(spark, conf, "s")
    assert(s.columns.toSeq ==
      Seq("rank", "key", "cnt", "share_bp", "vs_mean_bp"))
    assert(s.count() == 2)
  }

  test("curation steps (chunk, quality, repetition, scrub, vocab) run from YAML") {
    import spark.implicits._
    val good = ("the data " * 30).trim + " of it"
    Seq((1L, good), (2L, "too short, and mail bob@x.org here"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/cur_in")
    val conf = RecipeConf.load(
      s"""datasets:
         |  cd: {path: $dir/cur_in, format: parquet}
         |recipes:
         |  chunks:
         |    input: cd
         |    steps:
         |      - chunk: {id: doc_id, text: text, size: 16, stride: 8}
         |  qfilter:
         |    input: cd
         |    steps:
         |      - quality: {id: doc_id, text: text, min_words: 30}
         |  reps:
         |    input: cd
         |    steps:
         |      - repetition: {id: doc_id, text: text}
         |  scrubbed:
         |    input: cd
         |    steps:
         |      - scrub: {select: [text]}
         |  vocab50:
         |    input: cd
         |    steps:
         |      - vocab: {text: text, k: 3}
         |  bpe4:
         |    input: cd
         |    steps:
         |      - bpe: {text: text, merges: 4}
         |""".stripMargin)
    val chunks = RecipeConf.run(spark, conf, "chunks")
    assert(chunks.columns.toSeq == Seq("doc_id", "chunk_id", "chunk_text", "n_tok"))
    assert(chunks.filter("doc_id = 1").count() > 1)
    // quality filter keeps only the long stopword-bearing doc
    assert(RecipeConf.run(spark, conf, "qfilter")
      .select("doc_id").as[Long].collect().toSeq == Seq(1L))
    val rep = RecipeConf.run(spark, conf, "reps")
      .filter("doc_id = 1").collect()(0)
    assert(rep.getAs[Double]("dup_2gram_frac") > 0.9) // "the data" repeated
    val sc = RecipeConf.run(spark, conf, "scrubbed")
      .filter("doc_id = 2").select("text").as[String].collect()(0)
    assert(sc == "too short, and mail <EMAIL> here")
    val v = RecipeConf.run(spark, conf, "vocab50").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(v.take(2).toSeq == Seq(("data", 30L), ("the", 30L)))
    val bpe = RecipeConf.run(spark, conf, "bpe4")
    assert(bpe.columns.toSeq ==
      Seq("round", "pair_left", "pair_right", "merged", "cnt"))
    assert(bpe.count() == 4)
    val vconf = RecipeConf.load(
      s"""datasets:
         |  cd: {path: $dir/cur_in, format: parquet}
         |recipes:
         |  bv: {input: cd, steps: [{bpe: {text: text, merges: 4, vocab: true}}]}
         |""".stripMargin)
    val bv = RecipeConf.run(spark, vconf, "bv")
    assert(bv.columns.toSeq == Seq("tok_id", "symbol", "kind"))
    assert(bv.filter("kind = 'merge'").count() == 4)
    val econf = RecipeConf.load(
      s"""datasets:
         |  cd: {path: $dir/cur_in, format: parquet}
         |recipes:
         |  be: {input: cd, steps: [{bpe: {text: text, merges: 4, encode: true, id: doc_id}}]}
         |""".stripMargin)
    val be = RecipeConf.run(spark, econf, "be")
    assert(be.columns.toSeq == Seq("doc_id", "n_words", "n_chars_sym",
      "n_subwords", "compression_bp", "toks"))
    // every input row survives encoding; subwords never exceed base
    // symbols, and the learned merges compress somewhere
    assert(be.count() == spark.read.parquet(s"$dir/cur_in").count())
    assert(be.filter("n_subwords > n_chars_sym").count() == 0)
    assert(be.filter("n_subwords < n_chars_sym").count() > 0)
  }

  test("quality filter judges each row by its own text: shared and NULL ids") {
    import spark.implicits._
    val good = ("the data " * 30).trim + " of it"
    // rows 1a/1b share an id, only 1a passes; the NULL-id row passes
    Seq((Some(1L), "1a " + good), (Some(1L), "1b too short"),
        (None, "nul " + good), (Some(2L), "2 short"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/qid_in")
    val conf = RecipeConf.load(
      s"""datasets:
         |  qd: {path: $dir/qid_in, format: parquet}
         |recipes:
         |  q: {input: qd, steps: [{quality: {id: doc_id, text: text, min_words: 30}}]}
         |""".stripMargin)
    val kept = RecipeConf.run(spark, conf, "q").select("text").as[String]
      .collect().map(_.split(" ")(0)).sorted.toSeq
    assert(kept == Seq("1a", "nul"), s"got $kept")
  }

  test("a full curation pipeline composes from one YAML recipe") {
    import spark.implicits._
    val good = ("the data " * 40).trim + " of it all"
    // 8 docs: two exact duplicates of `good`, one contaminated with the
    // heldout doc's text, one too short, one PII-bearing long doc
    val pii = good + " mail bob@x.org now"
    Seq((1L, good), (2L, good), (3L, good + " zq7 wv8 xk9 jm4"),
        (4L, "too short"), (5L, pii),
        (6L, ("value table " * 40).trim + " of the rest"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/pipe_in")
    Seq((100L, "zq7 wv8 xk9 jm4")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/pipe_heldout")
    val conf = RecipeConf.load(
      s"""datasets:
         |  corpus: {path: $dir/pipe_in, format: parquet}
         |  heldout: {path: $dir/pipe_heldout, format: parquet}
         |recipes:
         |  curate:
         |    input: corpus
         |    steps:
         |      - scrub: {select: [text]}
         |      - quality: {id: doc_id, text: text, min_words: 30}
         |      - dedup: {id: doc_id, text: text, method: exact}
         |      - decontaminate: {dataset: heldout, id: doc_id, text: text, n: 4}
         |      - split: {id: doc_id, salt: v1, splits: {train: 0.8, val: 0.2}}
         |""".stripMargin)
    val out = RecipeConf.run(spark, conf, "curate").collect()
    val ids = out.map(_.getAs[Long]("doc_id")).toSet
    // 4 dropped by quality (short), 2 by exact dedup (min-id keeps 1),
    // 3 by decontamination (shares the heldout 4-gram)
    assert(ids == Set(1L, 5L, 6L), s"got $ids")
    // the PII doc survived but scrubbed
    val t5 = out.find(_.getAs[Long]("doc_id") == 5L).get.getAs[String]("text")
    assert(t5.endsWith("mail <EMAIL> now"))
    // every survivor carries a split assignment
    assert(out.forall(r => Set("train", "val")(r.getAs[String]("split"))))
  }

  test("lm_score step trains on a named reference dataset with its own text column") {
    import spark.implicits._
    Seq((1L, "aa bb"), (2L, "zz")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/lm_in")
    Seq("aa aa bb", "bb cc").toDF("body")
      .write.mode("overwrite").parquet(s"$dir/lm_ref")
    val conf = RecipeConf.load(
      s"""datasets:
         |  docs: {path: $dir/lm_in, format: parquet}
         |  ref: {path: $dir/lm_ref, format: parquet}
         |recipes:
         |  scorem:
         |    input: docs
         |    steps:
         |      - lm_score: {id: doc_id, text: text, dataset: ref, lm_text: body}
         |""".stripMargin)
    val out = RecipeConf.run(spark, conf, "scorem").collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // in-vocab doc scores above the pure-OOV doc
    assert(out(1L) > out(2L))
    assert(out(2L) == -0.9031) // Laplace floor: floor(log10(1/8)*1e4)/1e4
    val conf2 = RecipeConf.load(
      s"""datasets:
         |  docs: {path: $dir/lm_in, format: parquet}
         |  ref: {path: $dir/lm_ref, format: parquet}
         |recipes:
         |  scoreb:
         |    input: docs
         |    steps:
         |      - lm_score: {id: doc_id, text: text, dataset: ref, lm_text: body,
         |                   order: 2, lambda_bp: 9000}
         |""".stripMargin)
    val out2 = RecipeConf.run(spark, conf2, "scoreb").collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // "aa bb" rides the seen (aa,bb) bigram; the single-token OOV doc
    // has only a FIRST token, which order 2 scores pure-unigram — so
    // its score must EQUAL the order-1 run (the first-token contract)
    assert(out2(1L) > out2(2L))
    assert(out2(2L) == out(2L))
    val e = intercept[RuntimeException] {
      RecipeConf.run(spark, RecipeConf.load(
        s"""datasets:
           |  docs: {path: $dir/lm_in, format: parquet}
           |recipes:
           |  bad: {input: docs, steps: [{lm_score: {id: doc_id, text: text, order: 3}}]}
           |""".stripMargin), "bad")
    }
    assert(e.getMessage.contains("'order' must be 1 or 2"))
  }

  test("split step assigns every row to a declared split from YAML") {
    import spark.implicits._
    (1L to 100L).toDF("id").write.mode("overwrite").parquet(s"$dir/split_in")
    val conf = RecipeConf.load(
      s"""datasets:
         |  si: {path: $dir/split_in, format: parquet}
         |recipes:
         |  assign:
         |    input: si
         |    steps:
         |      - split: {id: id, salt: v1, splits: {train: 0.8, test: 0.2}}
         |  curate:
         |    input: si
         |    steps:
         |      - eval: {k: "case when id <= 80 then 'big' else 'small' end"}
         |      - cap: {key: k, id: id, n: 10}
         |      - sample: {key: k, id: id, rates: {big: 0.5}, default: 1.0}
         |""".stripMargin)
    val out = RecipeConf.run(spark, conf, "assign")
    val by = out.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(by.keySet == Set("train", "test") && by.values.sum == 100L)
    assert(by("train") > by("test"))
    // cap bounds both keys at 10, then the 0.5 rate thins 'big' further
    val cur = RecipeConf.run(spark, conf, "curate")
      .groupBy("k").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cur("small") == 10L && cur("big") <= 10L)
  }

  test("round-9 curation steps: stratified split, temperature mix, incremental dedup, semantic decontam") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, concat, lit, when}
    // 80 'en' + 20 'fr' rows
    (1L to 100L).toDF("id")
      .withColumn("lang", when(col("id") <= 80, lit("en")).otherwise(lit("fr")))
      .withColumn("text", concat(lit("doc number "), col("id").cast("string")))
      .write.mode("overwrite").parquet(s"$dir/r9_docs")
    // corpus for incremental dedup: contains doc number 7's text
    Seq((900L, "doc number 7"), (901L, "somewhere else entirely"))
      .toDF("id", "text").write.mode("overwrite").parquet(s"$dir/r9_corpus")
    // embeddings + a benchmark vector equal to row 1's
    Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)), (3L, Seq(0.9f, 0.1f)))
      .toDF("id", "v").write.mode("overwrite").parquet(s"$dir/r9_vecs")
    // a two-word vocabulary for the oov step
    Seq("doc", "number").toDF("token")
      .write.mode("overwrite").parquet(s"$dir/r9_vocab")
    Seq(Tuple1(Seq(1.0f, 0.0f))).toDF("bv")
      .write.mode("overwrite").parquet(s"$dir/r9_bench")
    val conf = RecipeConf.load(
      s"""datasets:
         |  docs: {path: $dir/r9_docs, format: parquet}
         |  corpus: {path: $dir/r9_corpus, format: parquet}
         |  vecs: {path: $dir/r9_vecs, format: parquet}
         |  bench: {path: $dir/r9_bench, format: parquet}
         |  vcb: {path: $dir/r9_vocab, format: parquet}
         |recipes:
         |  strat:
         |    input: docs
         |    steps:
         |      - split: {id: id, salt: v1, stratify_by: lang,
         |                splits: {train: 0.9, val: 0.05, test: 0.05}}
         |  temp:
         |    input: docs
         |    steps:
         |      - sample: {key: lang, id: id, temperature: 2}
         |  epochs:
         |    input: docs
         |    steps:
         |      - sample: {key: lang, id: id, epochs: {fr: 3}, salt: v1}
         |  inc:
         |    input: docs
         |    steps:
         |      - dedup: {method: incremental, id: id, text: text,
         |                dataset: corpus, prefilter: bloom}
         |  incnear:
         |    input: docs
         |    steps:
         |      - dedup: {method: incremental_near, id: id, text: text,
         |                dataset: corpus, prefilter: bloom}
         |  ovl:
         |    input: docs
         |    steps:
         |      - eval: {t3: "case when id % 2 = 0 then 'x' else text end"}
         |      - overlap: {source: lang, text: t3}
         |  ovln:
         |    input: docs
         |    steps:
         |      - eval: {t5: "case when id % 2 = 0 then 'shared boiler plate page replicated verbatim' else text end"}
         |      - overlap: {mode: neardup, id: id, source: lang, text: t5}
         |  ovlc:
         |    input: docs
         |    steps:
         |      - eval: {t6: "case when id = 1 then 'alpha beta gamma delta epsilon' when id = 99 then 'intro words here alpha beta gamma delta epsilon tail words continue onward further' else text end"}
         |      - overlap: {mode: containment, id: id, source: lang,
         |                  text: t6, threshold_bp: 8000}
         |  oovr:
         |    input: docs
         |    steps:
         |      - oov: {id: id, text: text, dataset: vcb}
         |  best:
         |    input: docs
         |    steps:
         |      - eval: {t2: "case when id <= 50 then 'dup' else text end"}
         |      - dedup: {id: id, text: t2, keep: best, score: id}
         |  sem:
         |    input: vecs
         |    steps:
         |      - semantic_decontaminate: {id: id, vec: v, dataset: bench,
         |                                 test_vec: bv, threshold: 0.95,
         |                                 mode: flag}
         |  semlsh:
         |    input: vecs
         |    steps:
         |      - semantic_decontaminate: {id: id, vec: v, dataset: bench,
         |                                 test_vec: bv, threshold: 0.9999,
         |                                 method: lsh, mode: drop}
         |  top:
         |    input: docs
         |    steps:
         |      - select_top: {id: id, score: id, frac: 0.1}
         |  topby:
         |    input: docs
         |    steps:
         |      - select_top: {id: id, score: id, frac: 0.1, by: lang}
         |  shards:
         |    input: docs
         |    steps:
         |      - shard: {id: id, text: text, budget: 20, buckets: 4}
         |""".stripMargin)
    // exact per-stratum quotas: en 72/4/4, fr 18/1/1
    val st = RecipeConf.run(spark, conf, "strat")
      .groupBy("lang", "split").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(st == Map(("en", "train") -> 72L, ("en", "val") -> 4L, ("en", "test") -> 4L,
      ("fr", "train") -> 18L, ("fr", "val") -> 1L, ("fr", "test") -> 1L), st.toString)
    // temperature 2: fr (rarest) keeps all 20; en thins toward sqrt(20/80)=50%
    val tm = RecipeConf.run(spark, conf, "temp")
      .groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(tm("fr") == 20L, tm.toString)
    assert(tm("en") < 60L && tm("en") > 20L, tm.toString)
    // epochs 3 for fr: every fr row exactly 3×, en untouched at default 1
    val ep = RecipeConf.run(spark, conf, "epochs")
      .groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ep == Map("en" -> 80L, "fr" -> 60L), ep.toString)
    // incremental: doc 7 is already in the corpus → dropped; 99 others kept
    val inc = RecipeConf.run(spark, conf, "inc")
    assert(inc.count() == 99L)
    assert(inc.filter(col("id") === 7L).count() == 0)
    // incremental_near: 'doc number 7' is a shingle-identical corpus
    // near-dup → dropped; the 99 pairwise-distinct others all survive
    // the within-batch pass too
    val incn = RecipeConf.run(spark, conf, "incnear")
    assert(incn.count() == 99L)
    assert(incn.filter(col("id") === 7L).count() == 0)
    // oov: every 'doc number N' doc covers doc+number, N is OOV →
    // uniformly (3 tokens, 1 oov, 3333 bp)
    val oovr = RecipeConf.run(spark, conf, "oovr").collect()
    assert(oovr.length == 100)
    assert(oovr.forall(r => r.getLong(1) == 3L && r.getLong(2) == 1L &&
      r.getLong(3) == 3333L), oovr.take(3).mkString(";"))
    // overlap: the eval collapses every even id to one shared key, so
    // en/fr share exactly that one; en keys = 1 + 40 odd, fr = 1 + 10
    val ovl = RecipeConf.run(spark, conf, "ovl").collect()
    assert(ovl.length == 1)
    assert((ovl(0).getString(0), ovl(0).getString(1), ovl(0).getLong(2),
      ovl(0).getLong(3), ovl(0).getLong(4)) == (("en", "fr", 1L, 41L, 11L)),
      ovl(0).toString)
    // overlap mode neardup: every even id carries one shared boilerplate
    // (Jaccard 1.0 cross-source); odd 'doc number N' docs are pairwise
    // distinct — en evens 40 of 80, fr evens 10 of 20, both 5000 bp
    val ovln = RecipeConf.run(spark, conf, "ovln").collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(ovln == Map(
      ("en", "fr") -> ((40L, 80L, 5000L)),
      ("fr", "en") -> ((10L, 20L, 5000L))), ovln.toString)
    // overlap mode containment: en doc 1 is a 5-word quote reproduced
    // whole inside fr doc 99's 13-word page — containment 10^4 bp at a
    // Jaccard of only 3/11, the pair the neardup mode cannot see
    val ovlc = RecipeConf.run(spark, conf, "ovlc").collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(ovlc == Map(
      ("en", "fr") -> ((1L, 80L, 125L)),
      ("fr", "en") -> ((1L, 20L, 500L))), ovlc.toString)
    // keep-best: ids 1..50 collapse to one 'dup' group whose BEST
    // (max score=id) survivor is id 50; 51..100 stay distinct
    val best = RecipeConf.run(spark, conf, "best")
      .collect().map(_.getAs[Long]("id")).sorted.toSeq
    assert(best == (50L to 100L), best.toString)
    // semantic flag: row 1 identical (1.0), row 3 at cos ≈ 0.994 → both
    // contaminated at 0.95; the orthogonal row 2 is clean
    val sem = RecipeConf.run(spark, conf, "sem")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Boolean]("contaminated")).toMap
    assert(sem == Map(1L -> true, 2L -> false, 3L -> true), sem.toString)
    // lsh-routed drop: the identical vector (row 1) is certainly
    // recalled and dropped; rows 2/3 survive at the 0.9999 threshold
    val semLsh = RecipeConf.run(spark, conf, "semlsh")
      .collect().map(_.getAs[Long]("id")).sorted.toSeq
    assert(semLsh == Seq(2L, 3L), semLsh.toString)
    // select_top with score = id: exactly the 10 highest ids
    val topIds = RecipeConf.run(spark, conf, "top")
      .collect().map(_.getAs[Long]("id")).sorted.toSeq
    assert(topIds == (91L to 100L), topIds.toString)
    // per-group: 10% of en's 80 (73..80) and of fr's 20 (99..100)
    val topBy = RecipeConf.run(spark, conf, "topby")
      .collect().map(_.getAs[Long]("id")).sorted.toSeq
    assert(topBy == ((73L to 80L) ++ Seq(99L, 100L)), topBy.toString)
    // shard: every row gets a bucket-local shard id; manifest-ready cols
    val sh = RecipeConf.run(spark, conf, "shards")
    assert(sh.count() == 100)
    assert(sh.columns.contains("shard_id") && sh.columns.contains("n_tokens"))
  }

  test("decontaminate step: benchmark set with differently-named columns via test_text") {
    import spark.implicits._
    Seq((1L, "alpha beta gamma delta"), (2L, "one two three four"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/train_in")
    // held-out set carries ONLY a text column, under its own name
    Seq("alpha beta gamma epsilon").toDF("prompt")
      .write.mode("overwrite").parquet(s"$dir/bench_in")
    val conf = RecipeConf.load(
      s"""datasets:
         |  tr: {path: $dir/train_in, format: parquet}
         |  bench: {path: $dir/bench_in, format: parquet}
         |recipes:
         |  flagit:
         |    input: tr
         |    steps:
         |      - decontaminate: {dataset: bench, id: doc_id, text: text,
         |                        n: 2, mode: flag, test_text: prompt}
         |  dropit:
         |    input: tr
         |    steps:
         |      - decontaminate: {dataset: bench, id: doc_id, text: text,
         |                        n: 2, test_text: prompt}
         |  bloomy:
         |    input: tr
         |    steps:
         |      - decontaminate: {dataset: bench, id: doc_id, text: text,
         |                        n: 2, mode: flag, test_text: prompt,
         |                        prefilter: bloom, fpp: 0.05}
         |  badpre:
         |    input: tr
         |    steps:
         |      - decontaminate: {dataset: bench, id: doc_id, text: text,
         |                        prefilter: cuckoo}
         |""".stripMargin)
    val flags = RecipeConf.run(spark, conf, "flagit").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("contaminated")).toMap
    assert(flags == Map(1L -> true, 2L -> false))
    val kept = RecipeConf.run(spark, conf, "dropit").collect()
    assert(kept.map(_.getAs[Long]("doc_id")).toSeq == Seq(2L))
    // the bloom prefilter computes the same flags through the
    // broadcast-filter plan
    val bflags = RecipeConf.run(spark, conf, "bloomy").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("contaminated")).toMap
    assert(bflags == flags)
    // an unknown prefilter fails with a named error
    val e = intercept[RuntimeException](RecipeConf.run(spark, conf, "badpre"))
    assert(e.getMessage.contains("unknown prefilter 'cuckoo'"), e.getMessage)
  }

  test("a missing step knob and an unknown dataset fail with named errors") {
    val conf = RecipeConf.load(
      s"""datasets:
         |  p: {path: $dir/people.csv, format: csv}
         |recipes:
         |  nods:
         |    input: p
         |    steps:
         |      - decontaminate: {dataset: nope, id: name, text: name}
         |  nokey:
         |    input: p
         |    steps:
         |      - cap: {key: city}
         |""".stripMargin)
    val e1 = intercept[RuntimeException](RecipeConf.run(spark, conf, "nods"))
    assert(e1.getMessage.contains("decontaminate: unknown dataset 'nope'"), e1.getMessage)
    val e2 = intercept[RuntimeException](RecipeConf.run(spark, conf, "nokey"))
    assert(e2.getMessage.contains("cap: 'id' required"), e2.getMessage)
  }

  test("env interpolation and exec rejection") {
    val conf = RecipeConf.load(
      "datasets:\n  d: {path: ${GRAFT_TEST_PATH}/x, format: parquet}\nrecipes: {}",
      env = Map("GRAFT_TEST_PATH" -> "/data"))
    assert(conf.datasets("d").path == "/data/x")
    // an UNSET variable must fail naming itself, not silently become ""
    // (s3a://${BUCKTE}/data writing to s3a:///data is the failure mode)
    val eMissing = intercept[RuntimeException] {
      RecipeConf.load(
        "datasets:\n  d: {path: ${GRAFT_UNSET_VAR}/x, format: parquet}\nrecipes: {}",
        env = Map.empty)
    }
    assert(eMissing.getMessage.contains("GRAFT_UNSET_VAR"), eMissing.getMessage)
    val bad = RecipeConf.load(
      s"""datasets:
         |  p: {path: $dir/people.csv, format: csv}
         |recipes:
         |  r:
         |    input: p
         |    steps:
         |      - exec: "df.drop()"
         |""".stripMargin)
    val e = intercept[RuntimeException] {
      RecipeConf.run(spark, bad, "r")
    }
    assert(e.getMessage.contains("not supported"))
  }

  test("round-10 dedup keep: weight — soft dedup through YAML") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    Seq((1L, "dup body"), (2L, "dup body"), (3L, "solo"))
      .toDF("id", "text").write.mode("overwrite").parquet(s"$dir/sw_docs")
    val conf = RecipeConf.load(
      s"""datasets:
         |  docs: {path: $dir/sw_docs, format: parquet}
         |recipes:
         |  w:
         |    input: docs
         |    steps:
         |      - dedup: {id: id, text: text, keep: weight}
         |  bad:
         |    input: docs
         |    steps:
         |      - dedup: {id: id, text: text, keep: weight, method: minhash}
         |""".stripMargin)
    val out = RecipeConf.run(spark, conf, "w")
    assert(out.count() == 3, "soft dedup drops nothing")
    val w1 = out.filter(col("id") === 1L).select("weight_bp").head().getLong(0)
    val w3 = out.filter(col("id") === 3L).select("weight_bp").head().getLong(0)
    assert(w1 == 5000L && w3 == 10000L)
    val err = intercept[Exception] { RecipeConf.run(spark, conf, "bad") }
    assert(err.getMessage.contains("weight"), err.getMessage)
  }

  test("round-10 classify step: fit → persisted weights → score round trip") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, concat, lit, when}
    (1L to 40L).toDF("id")
      .withColumn("text", when(col("id") % 2 === 0,
          concat(lit("good solid prose item "), col("id").cast("string")))
        .otherwise(concat(lit("bad spam junk item "), col("id").cast("string"))))
      .withColumn("y", when(col("id") % 2 === 0, 1L).otherwise(-1L))
      .write.mode("overwrite").parquet(s"$dir/cls_docs")
    val fitConf = RecipeConf.load(
      s"""datasets:
         |  docs: {path: $dir/cls_docs, format: parquet}
         |recipes:
         |  fitw:
         |    input: docs
         |    steps:
         |      - classify: {id: id, text: text, label: y, buckets: 64,
         |                   epochs: 3, binary: true}
         |""".stripMargin)
    val w = RecipeConf.run(spark, fitConf, "fitw")
    assert(w.columns.toSeq == Seq("feat", "w"))
    w.write.mode("overwrite").parquet(s"$dir/cls_w")
    val scoreConf = RecipeConf.load(
      s"""datasets:
         |  docs: {path: $dir/cls_docs, format: parquet}
         |  weights: {path: $dir/cls_w, format: parquet}
         |recipes:
         |  sc:
         |    input: docs
         |    steps:
         |      - classify: {id: id, text: text, dataset: weights,
         |                   buckets: 64, binary: true}
         |""".stripMargin)
    val scored = RecipeConf.run(spark, scoreConf, "sc")
    assert(scored.filter(col("pred") =!= col("y").cast("int")).count() == 0,
      "disjoint class vocabularies must separate through the YAML round trip")
    // both label and dataset — ambiguous — must fail loudly
    val both = RecipeConf.load(
      s"""datasets:
         |  docs: {path: $dir/cls_docs, format: parquet}
         |  weights: {path: $dir/cls_w, format: parquet}
         |recipes:
         |  bad:
         |    input: docs
         |    steps:
         |      - classify: {id: id, text: text, label: y, dataset: weights}
         |  lax:
         |    input: docs
         |    steps:
         |      - classify: {id: id, text: text, dataset: weights}
         |""".stripMargin)
    val err = intercept[Exception] { RecipeConf.run(spark, both, "bad") }
    assert(err.getMessage.contains("classify"), err.getMessage)
    // score mode with buckets/binary omitted — the silent-mis-scoring
    // hazard — must fail loudly too
    val lax = intercept[Exception] { RecipeConf.run(spark, both, "lax") }
    assert(lax.getMessage.contains("explicitly"), lax.getMessage)
    // multiclass (one-vs-one) through the same step: three disjoint
    // vocabularies round-trip fit → persist → predict
    (1L to 60L).toDF("id")
      .withColumn("text", when(col("id") % 3 === 0,
          concat(lit("solid factual writing "), col("id").cast("string")))
        .when(col("id") % 3 === 1,
          concat(lit("flashy promo pitch "), col("id").cast("string")))
        .otherwise(concat(lit("casual chat message "), col("id").cast("string"))))
      .withColumn("lb", when(col("id") % 3 === 0, "fact")
        .when(col("id") % 3 === 1, "promo").otherwise("chat"))
      .write.mode("overwrite").parquet(s"$dir/cls_m_docs")
    val mConf = RecipeConf.load(
      s"""datasets:
         |  docs: {path: $dir/cls_m_docs, format: parquet}
         |recipes:
         |  fitm:
         |    input: docs
         |    steps:
         |      - classify: {id: id, text: text, label: lb, multi: true,
         |                   buckets: 64, epochs: 3, binary: true}
         |""".stripMargin)
    val mw = RecipeConf.run(spark, mConf, "fitm")
    assert(mw.columns.toSeq == Seq("label_a", "label_b", "feat", "w"))
    mw.write.mode("overwrite").parquet(s"$dir/cls_m_w")
    val mScore = RecipeConf.load(
      s"""datasets:
         |  docs: {path: $dir/cls_m_docs, format: parquet}
         |  weights: {path: $dir/cls_m_w, format: parquet}
         |recipes:
         |  sc:
         |    input: docs
         |    steps:
         |      - classify: {id: id, text: text, dataset: weights,
         |                   multi: true, buckets: 64, binary: true}
         |""".stripMargin)
    val mPred = RecipeConf.run(spark, mScore, "sc")
    // the NULL guard first: a broken join would NULL every pred_label
    // and the =!= filter below would vacuously pass
    assert(mPred.filter(col("pred_label").isNull).count() == 0)
    assert(mPred.filter(col("pred_label") =!= col("lb")).count() == 0,
      "multiclass YAML round trip must separate the three vocabularies")
  }
}
