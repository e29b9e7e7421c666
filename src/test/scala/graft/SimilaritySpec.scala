package graft

import org.apache.spark.sql.functions._
import graft.functions.{Similarity, Tools}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("native damerau expression matches the Scala function, handles nulls, codegens") {
    import graft.functions.NativeExpressions
    val df = Seq(("ca", "abc"), ("ab", "ba"), (null, "x")).toDF("a", "b")
    val out = df.select(NativeExpressions.damerauNative(col("a"), col("b")).as("d"))
    assert(col1[Any](out, "d") == Seq(2, 1, null))
    // SQL registration resolves to the native expression
    NativeExpressions.register(spark)
    assert(spark.sql("SELECT damerau_levenshtein('kitten', 'sitting') AS d")
      .head.getInt(0) == 3)
    // survives inside a wider expression (whole-stage codegen path)
    val wide = df.na.drop().select(
      (NativeExpressions.damerauNative(col("a"), col("b")) + length(col("a"))).as("x"))
    assert(col1[Int](wide, "x") == Seq(4, 3))
  }

  test("damerau-levenshtein counts transpositions as 1") {
    assert(Similarity.damerau("ab", "ba") == 1)
    assert(Similarity.damerau("abc", "abc") == 0)
    assert(Similarity.damerau("abc", "acb") == 1)
    assert(Similarity.damerau("ca", "abc") == 2) // unrestricted DL (OSA would say 3)
    assert(Similarity.damerau("kitten", "sitting") == 3)
    assert(Similarity.damerau("", "abc") == 3)
  }

  test("jaro-winkler matches known values (2dp, jellyfish semantics)") {
    def jw2(a: String, b: String) = math.round(Similarity.jaroWinkler(a, b) * 100) / 100.0
    assert(jw2("MARTHA", "MARHTA") == 0.96)
    assert(jw2("DIXON", "DICKSONX") == 0.81)
    assert(jw2("abc", "abc") == 1.0)
    assert(jw2("abc", "xyz") == 0.0)
  }

  test("levNorm is the reference's scoring formula, clamped to [0,1]") {
    val df = Seq(("martha", "marhta"), ("abc", "zzzzzz")).toDF("a", "b")
    val out = df.select(Similarity.levNorm(col("a"), col("b")).as("s")).collect().map(_.getDouble(0))
    // lev(martha, marhta)=2 → (100 - 100*2/7)/100 = 0.71
    assert(out(0) == 0.71)
    assert(out(1) >= 0.0 && out(1) <= 1.0)
  }

  test("levNormMax takes max over list pairs (tools.py:213-227)") {
    val df = Seq((Seq("jean", "pierre"), Seq("pierr"))).toDF("a", "b")
    val out = df.select(Similarity.levNormMax(col("a"), col("b")).as("s"))
    assert(col1[Double](out, "s").head == 0.83) // pierre~pierr: (100-100/6)/100
  }

  test("cosine of identical vectors is 1, orthogonal is 0") {
    val df = Seq(
      (Seq(1.0f, 0.0f), Seq(1.0f, 0.0f)),
      (Seq(1.0f, 0.0f), Seq(0.0f, 1.0f))).toDF("a", "b")
    val out = col1[Double](df.select(round(Similarity.cosine(col("a"), col("b")), 6).as("c")), "c")
    assert(out == Seq(1.0, 0.0))
  }

  test("geopoint parses WKT and haversine is sane (Paris→Lyon ≈ 392 km)") {
    val df = Seq("POINT(4.8357 45.7640)").toDF("wkt")
    val out = df.select(Tools.geopoint(col("wkt")).as("p"))
      .select(Tools.haversineKm(col("p.lat"), col("p.lon"), lit(48.8566), lit(2.3522)).as("d"))
    val d = col1[Double](out, "d").head
    assert(d > 380 && d < 400)
  }

  test("fused native vector kernels match their higher-order spellings bit for bit") {
    import graft.functions.NativeExpressions
    // the r16 rewrite's contract: CosineSimExpr / L2Dist2Expr /
    // GridDist2Expr must reproduce the aggregate(zip_with) Column
    // spellings exactly — values AND the NULL/edge contract
    def hofCosine(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) = {
      val ad = transform(a, x => x.cast("double"))
      val bd = transform(b, x => x.cast("double"))
      def dot(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
        aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0), (acc, v) => acc + v)
      dot(ad, bd) / (sqrt(dot(ad, ad)) * sqrt(dot(bd, bd)))
    }
    val rows = Seq(
      (Seq[java.lang.Float](1f, 2f, 3f), Seq[java.lang.Float](4f, 5f, 6f)),   // plain
      (Seq[java.lang.Float](0.1f, -0.2f, 0.3f), Seq[java.lang.Float](0.1f, -0.2f, 0.3f)), // self
      (Seq[java.lang.Float](1f, 2f), Seq[java.lang.Float](1f, 2f, 3f)),        // length mismatch
      (Seq[java.lang.Float](1f, null, 3f), Seq[java.lang.Float](1f, 2f, 3f)))  // null element
      .toDF("a", "b")
    val both = rows.select(
      NativeExpressions.cosineSim(col("a"), col("b")).as("nat"),
      hofCosine(col("a"), col("b")).as("hof"),
      NativeExpressions.l2Dist2(
        transform(col("a"), x => x.cast("double")),
        transform(col("b"), x => x.cast("double"))).as("natL2"),
      aggregate(zip_with(transform(col("a"), x => x.cast("double")),
        transform(col("b"), x => x.cast("double")), (p, q) => (p - q) * (p - q)),
        lit(0.0), (acc, v) => acc + v).as("hofL2")).collect()
    both.foreach { r =>
      def d(i: Int): Option[Double] = if (r.isNullAt(i)) None else Some(r.getDouble(i))
      // NaN == NaN must compare equal here: compare raw bits
      def bits(o: Option[Double]) = o.map(java.lang.Double.doubleToRawLongBits)
      assert(bits(d(0)) == bits(d(1)), s"cosine: ${d(0)} vs ${d(1)}")
      assert(bits(d(2)) == bits(d(3)), s"l2: ${d(2)} vs ${d(3)}")
    }
    // ANSI parity on the division: a zero-norm side throws
    // DIVIDE_BY_ZERO under both spellings (the fused kernel returns
    // (dot, na, nb) and leaves the division to stock Sqrt/Divide for
    // exactly this reason)
    val zero = Seq((Seq(0f, 0f), Seq(1f, 2f))).toDF("a", "b")
    intercept[ArithmeticException] {
      zero.select(NativeExpressions.cosineSim(col("a"), col("b"))).collect()
    }
    intercept[ArithmeticException] {
      zero.select(hofCosine(col("a"), col("b"))).collect()
    }

    // integer grid distance: exact long arithmetic + the NULL contract
    val g = Seq(
      (Seq[java.lang.Long](1L, 5L, -3L), Seq[java.lang.Long](2L, 2L, 2L)),
      (Seq[java.lang.Long](1L), Seq[java.lang.Long](1L, 2L)),
      (Seq[java.lang.Long](1L, null), Seq[java.lang.Long](1L, 2L)))
      .toDF("a", "b")
    val gOut = g.select(
      NativeExpressions.gridDist2(col("a"), col("b")).as("nat"),
      aggregate(zip_with(col("a"), col("b"), (p, q) => (p - q) * (p - q)),
        lit(0L), (acc, v) => acc + v).as("hof")).collect()
    gOut.foreach { r =>
      def l(i: Int): Option[Long] = if (r.isNullAt(i)) None else Some(r.getLong(i))
      assert(l(0) == l(1), s"grid: ${l(0)} vs ${l(1)}")
    }
    assert(gOut.head.getLong(0) == 1 + 9 + 25)
  }

  test("normalize/tokenize/ngrams primitives") {
    val df = Seq("Été, l'avant-garde!").toDF("s")
    assert(col1[String](df.select(Tools.normalize(col("s")).as("n")), "n").head ==
      "ete l avant garde")
    val toks = df.select(Tools.tokenize(Tools.normalize(col("s"))).as("t"))
    assert(col1[scala.collection.Seq[String]](toks, "t").head.toSeq ==
      Seq("ete", "l", "avant", "garde"))
    val grams = df.select(Tools.charNgrams(lit("abcd"), 3).as("g"))
    assert(col1[scala.collection.Seq[String]](grams, "g").head.toSeq == Seq("abc", "bcd"))
    // shorter than n → empty (tools.py:109-113 range semantics)
    assert(col1[scala.collection.Seq[String]](
      df.select(Tools.charNgrams(lit("ab"), 3).as("g")), "g").head.isEmpty)
  }
}
