package graft

import org.apache.spark.sql.functions._
import graft.operators.{FuzzyMatch, GroupByOp, Joins}

class GroupByJoinSpec extends SparkSpec {
  import spark.implicits._

  private def gdf = Seq(("g1", 1), ("g1", 2), ("g2", 3)).toDF("grp", "v")

  test("groupby agg sum keeps column name (test_recipes.py:292-296)") {
    val out = GroupByOp.agg(gdf, Seq("grp"), Seq(("v", "sum")))
    assert(rows(out.orderBy("grp")) == Seq(Seq("g1", 3L), Seq("g2", 3L)))
  }

  test("groupby agg list collects values") {
    val out = GroupByOp.agg(gdf, Seq("grp"), Seq(("v", "list")))
    assert(col1[scala.collection.Seq[Int]](out.orderBy("grp"), "v").map(_.sorted.toSeq) ==
      Seq(Seq(1, 2), Seq(3)))
  }

  test("groupby transform broadcasts agg back as {col}_{fn} (test_recipes.py:328-336)") {
    val out = GroupByOp.transformAgg(gdf, Seq("grp"), Seq(("v", "avg")))
    assert(out.columns.contains("v_avg"))
    assert(rows(out.orderBy("grp", "v")) ==
      Seq(Seq("g1", 1, 1.5), Seq("g1", 2, 1.5), Seq("g2", 3, 3.0)))
  }

  test("groupby rank is dense descending (test_recipes.py:356-364)") {
    val df = Seq(("g", 10), ("g", 10), ("g", 5)).toDF("grp", "v")
    val out = GroupByOp.rank(df, Seq("grp"), Seq("v"))
    assert(col1[Int](out.orderBy(col("v").desc), "v_rank") == Seq(1, 1, 2))
  }

  test("strict join enriches with renamed right columns, drops right keys") {
    val left = Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "x")
    val ref = Seq((1, "one"), (2, "two")).toDF("k", "label")
    val out = Joins.strictJoin(left, ref,
      keys = Map("id" -> "k"), select = Map("label" -> "name"))
    assert(out.columns.toSeq == Seq("id", "x", "name"))
    assert(rows(out.orderBy("id")) ==
      Seq(Seq(1, "a", "one"), Seq(2, "b", "two"), Seq(3, "c", null)))
  }

  test("fuzzy best-match: distance 0 preferred, then lexicographic at distance 1") {
    val q = Seq("pariss", "lyon", "zzz").toDF("__q")
    val v = Seq("paris", "parisa", "lyon", "nice").toDF("__w")
    val out = FuzzyMatch.bestMatch(q, v, maxDist = 1)
    val m = out.collect().map(r => r.getString(0) -> (r.getString(1), r.getInt(2))).toMap
    assert(m("lyon") == ("lyon", 0))
    // both "paris" and "parisa" are at distance 1 → lexicographic winner
    assert(m("pariss") == ("paris", 1))
    assert(!m.contains("zzz"))
  }

  test("fuzzy best-match at distance 2 (double-deletion variants)") {
    val q = Seq("marseill", "marseila", "mrseille").toDF("__q") // d=1, d=2, d=2
    val v = Seq("marseille", "paris").toDF("__w")
    val out = FuzzyMatch.bestMatch(q, v, maxDist = 2)
    val m = out.collect().map(r => r.getString(0) -> (r.getString(1), r.getInt(2))).toMap
    assert(m("marseill") == ("marseille", 1))
    assert(m("marseila") == ("marseille", 2))
    assert(m("mrseille") == ("marseille", 1))
  }

  test("fuzzyJoin attaches {col}_match and right-side columns") {
    val left = Seq(("1", "marseile"), ("2", "unknownx")).toDF("id", "city")
    val ref = Seq(("marseille", "13"), ("paris", "75")).toDF("name", "dep")
    val out = Joins.fuzzyJoin(left, ref,
      fuzzy = Map("city" -> "name"), select = Map("dep" -> "dep"))
    val m = out.collect().map(r =>
      r.getAs[String]("id") -> (r.getAs[String]("city_match"), r.getAs[String]("dep"))).toMap
    assert(m("1") == ("marseille", "13"))
    assert(m("2") == (null, null))
  }

  test("asofJoin picks the latest right row at-or-before each left ts") {
    val left = Seq((1L, 10L, 5L), (1L, 20L, 6L), (2L, 15L, 7L), (3L, 5L, 8L))
      .toDF("k", "t", "lid")
    val right = Seq((1L, 10L, "a"), (1L, 15L, "b"), (1L, 25L, "c"), (2L, 1L, "d"))
      .toDF("k", "t", "v")
    val out = Joins.asofJoin(left, right, key = "k", ts = "t", rightCols = Seq("v"))
    val m = out.collect().map(r => r.getAs[Long]("lid") -> r.getAs[String]("asof_v")).toMap
    assert(m(5L) == "a") // same-instant right row matches (inclusive)
    assert(m(6L) == "b") // latest at-or-before 20 is ts=15
    assert(m(7L) == "d")
    assert(m(8L) == null) // key 3 has no right rows → left join keeps it
    assert(out.columns.toSeq == Seq("k", "t", "lid", "asof_v"))
    // inner drops the unmatched left row
    val inner = Joins.asofJoin(left, right, "k", "t", Seq("v"), how = "inner")
    assert(inner.count() == 3)
    // same-(key,ts) right duplicates: highest tieBreak wins
    val dup = Seq((1L, 10L, "x", 1L), (1L, 10L, "y", 2L)).toDF("k", "t", "v", "seq")
    val tb = Joins.asofJoin(left.filter($"lid" === 5L), dup, "k", "t", Seq("v"),
      tieBreak = Some("seq"))
    assert(tb.collect().head.getAs[String]("asof_v") == "y")
  }

  test("asofJoin tie-break works on non-numeric columns (no silent long cast)") {
    val left = Seq((1L, 10L, 5L)).toDF("k", "t", "lid")
    // string tie-break: a long cast would null both and leave the winner
    // to partition order
    val dup = Seq((1L, 10L, "x", "2024-01-01"), (1L, 10L, "y", "2024-06-01"))
      .toDF("k", "t", "v", "updated")
    val out = Joins.asofJoin(left, dup, "k", "t", Seq("v"),
      tieBreak = Some("updated"))
    assert(out.collect().head.getAs[String]("asof_v") == "y") // latest updated wins
  }

  test("asofJoin carries a legitimately-NULL right value (no fall-through)") {
    // the right row at ts=15 has v = NULL; a left row at ts=20 must get
    // that NULL, NOT the older non-null "a" showing through — the carry
    // is keyed on the right-row struct, which is non-null whenever a
    // right row exists
    val left = Seq((1L, 20L, 1L), (1L, 12L, 2L)).toDF("k", "t", "lid")
    val right = Seq((1L, 10L, Some("a")), (1L, 15L, None))
      .toDF("k", "t", "v")
    val out = Joins.asofJoin(left, right, key = "k", ts = "t", rightCols = Seq("v"))
    val m = out.collect().map(r => r.getAs[Long]("lid") -> r.getAs[String]("asof_v")).toMap
    assert(m(1L) == null) // latest right row (ts=15) carries its NULL value
    assert(m(2L) == "a")  // ts=12 still sees the ts=10 row
    // and inner-how keeps the NULL-valued match (a match DID happen)
    val inner = Joins.asofJoin(left, right, "k", "t", Seq("v"), how = "inner")
    assert(inner.count() == 2)
  }

  test("asofJoin ignores right rows with NULL ts or key (SQL comparison semantics)") {
    val left = Seq((1L, 5L, 1L)).toDF("k", "t", "lid")
    val right = Seq((Some(1L), Some(3L), "ok"), (Some(1L), None, "null-ts"),
        (None, Some(1L), "null-key"))
      .toDF("k", "t", "v")
    val out = Joins.asofJoin(left, right, "k", "t", Seq("v"))
    // the NULL-ts row would otherwise sort first and be carried over "ok"
    assert(out.head().getAs[String]("asof_v") == "ok")
  }

  test("pointInIntervalJoin matches each point-in-range pair exactly once") {
    val pts = Seq((1L, 0L, "p0"), (1L, 10L, "p10"), (1L, 25L, "p25"),
        (2L, 10L, "q10")).toDF("k", "t", "pid")
    // interval spanning several bins (binWidth=10 → bins 0,1,2), an
    // exact-end point, and a key with no intervals
    val ivls = Seq((1L, 0L, 25L, "A"), (1L, 11L, 19L, "B")).toDF("k", "s", "e", "iid")
    val out = Joins.pointInIntervalJoin(pts, ivls, key = "k", ts = "t",
      start = "s", end = "e", binWidth = 10L)
    val pairs = out.collect().map(r =>
      (r.getAs[String]("pid"), r.getAs[String]("ivl_iid"))).toSet
    assert(pairs == Set(("p0", "A"), ("p10", "A"), ("p25", "A"))) // p25 = inclusive end
    assert(out.count() == 3) // multi-bin interval A produced no duplicate pairs
  }
}
