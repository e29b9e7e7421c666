package graft

import org.apache.spark.sql.functions._
import graft.ml.LinearClassifier

/** Batch-perceptron classifier: hand-computed update arithmetic, the
  * zero-margin rule, regime equality, end-to-end text/vector fits, and
  * the loud-failure contracts. */
class LinearClassifierSpec extends SparkSpec {
  import spark.implicits._

  private def weightMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("fitPerceptron: hand-computed batch updates, zero-crossing weights kept") {
    // doc 1 (+1): feature 10 ×2; doc 2 (−1): feature 11 ×3; bias on both.
    val feats = Seq((1L, 10L, 2L), (1L, -1L, 1L), (2L, 11L, 3L), (2L, -1L, 1L))
      .toDF("id", "feat", "x")
    val docs = Seq((1L, 1L), (2L, -1L)).toDF("id", "y")
    // epoch 1: w = 0 → both docs update: w10 = +2, w11 = −3, bias = +1−1 = 0.
    // epoch 2: margins +4 / −9 → both correct → no update.
    val w = weightMap(LinearClassifier.fitPerceptron(feats, docs, epochs = 2))
    assert(w === Map(10L -> 2L, 11L -> -3L, -1L -> 0L))
  }

  test("fitPerceptron: zero margin counts as misclassified") {
    val feats = Seq((1L, -1L, 1L)).toDF("id", "feat", "x")
    val docs = Seq((1L, 1L)).toDF("id", "y")
    // epoch 1: margin 0 → update (bias +1); epoch 2: margin 1 → correct.
    val w = weightMap(LinearClassifier.fitPerceptron(feats, docs, epochs = 2))
    assert(w === Map(-1L -> 1L))
  }

  test("regimes agree: driver-side and distributed fits are identical") {
    val docs = spark.range(60).select(col("id"),
      when(col("id") % 2 === 0, "alpha beta gamma common")
        .otherwise("delta epsilon zeta common").as("text"),
      when(col("id") % 2 === 0, 1L).otherwise(-1L).as("y"))
    val local = LinearClassifier.trainTextClassifier(docs, "id", "text", "y",
      buckets = 64, epochs = 3)
    val dist = LinearClassifier.trainTextClassifier(docs, "id", "text", "y",
      buckets = 64, epochs = 3, localThreshold = 0L)
    assert(weightMap(local) === weightMap(dist))
  }

  test("text classifier separates disjoint vocabularies; NULL text scores NULL") {
    val docs = spark.range(80).select(col("id"),
      when(col("id") === 79, lit(null).cast("string"))
        .when(col("id") % 2 === 0, concat(lit("good wiki prose number "), col("id")))
        .otherwise(concat(lit("spam casino click number "), col("id"))).as("text"),
      when(col("id") % 2 === 0, 1L).otherwise(-1L).as("y"))
    val w = LinearClassifier.trainTextClassifier(docs, "id", "text", "y",
      buckets = 256, epochs = 4)
    val scored = LinearClassifier.scoreTextClassifier(docs, "id", "text", w,
      buckets = 256)
    val wrong = scored.filter(col("text").isNotNull &&
      col("pred") =!= col("y").cast("int")).count()
    assert(wrong === 0, "disjoint class vocabularies must separate")
    val nullRow = scored.filter(col("id") === 79)
      .select("margin", "pred").head()
    assert(nullRow.isNullAt(0) && nullRow.isNullAt(1))
  }

  test("binary features: repeated tokens count once; counts mode keeps multiplicity") {
    val df = Seq((1L, "spark spark spark")).toDF("id", "text")
    val bin = LinearClassifier.textFeatures(df, "id", "text", buckets = 16,
      binary = true).filter(col("feat") =!= LinearClassifier.biasFeat)
    assert(bin.select("x").as[Long].collect().toSeq === Seq(1L))
    val cnt = LinearClassifier.textFeatures(df, "id", "text", buckets = 16)
      .filter(col("feat") =!= LinearClassifier.biasFeat)
    assert(cnt.select("x").as[Long].collect().toSeq === Seq(3L))
  }

  test("one-vs-one multiclass: recovers three disjoint-marker classes; deterministic tie-break") {
    val docs = spark.range(90).select(col("id"),
      when(col("id") === 89, lit(null).cast("string"))
        .when(col("id") % 3 === 0, concat(lit("alpha quality writing piece "), col("id")))
        .when(col("id") % 3 === 1, concat(lit("beta advertising clickbait piece "), col("id")))
        .otherwise(concat(lit("gamma neutral reference piece "), col("id"))).as("text"),
      when(col("id") % 3 === 0, "good").when(col("id") % 3 === 1, "ads")
        .otherwise("ref").as("lb"))
    val w = LinearClassifier.trainTextClassifierMulti(docs, "id", "text", "lb",
      buckets = 128, epochs = 3, binary = true)
    // model shape: 3 pairs, label_a < label_b everywhere
    val pairs = w.select("label_a", "label_b").distinct().collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs == Set(("ads", "good"), ("ads", "ref"), ("good", "ref")))
    assert(w.filter(col("label_a") >= col("label_b")).count() == 0)
    val scored = LinearClassifier.scoreTextClassifierMulti(docs, "id", "text",
      w, buckets = 128, binary = true)
    assert(scored.filter(col("text").isNotNull &&
      col("pred_label") =!= col("lb")).count() == 0,
      "disjoint class vocabularies must separate")
    val nullRow = scored.filter(col("id") === 89).head()
    assert(nullRow.isNullAt(nullRow.fieldIndex("pred_label")) &&
      nullRow.isNullAt(nullRow.fieldIndex("n_votes")))
    // every decided row carries the unanimous 2-vote count here
    assert(scored.filter(col("text").isNotNull)
      .select("n_votes").distinct().collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("multiclass loud failures: NULL labels, one class, class-count cap") {
    val one = Seq((1L, "text a", "only"), (2L, "text b", "only"))
      .toDF("id", "text", "lb")
    val eOne = intercept[IllegalArgumentException] {
      LinearClassifier.trainTextClassifierMulti(one, "id", "text", "lb")
    }
    assert(eOne.getMessage.contains(">= 2 classes"), eOne.getMessage)
    val withNull = Seq((1L, "text a", "x"), (2L, "text b", null: String))
      .toDF("id", "text", "lb")
    val eNull = intercept[IllegalArgumentException] {
      LinearClassifier.trainTextClassifierMulti(withNull, "id", "text", "lb")
    }
    assert(eNull.getMessage.contains("non-NULL"), eNull.getMessage)
    val tooMany = spark.range(70).select(col("id"),
      concat(lit("doc "), col("id")).as("text"),
      concat(lit("c"), col("id")).as("lb"))
    val eCap = intercept[IllegalArgumentException] {
      LinearClassifier.trainTextClassifierMulti(tooMany, "id", "text", "lb")
    }
    assert(eCap.getMessage.contains("cap is 64"), eCap.getMessage)
  }

  test("loud failures: non-±1 labels, duplicate ids, bad epochs") {
    val feats = Seq((1L, 10L, 1L)).toDF("id", "feat", "x")
    val bad = intercept[IllegalArgumentException] {
      LinearClassifier.fitPerceptron(feats, Seq((1L, 0L)).toDF("id", "y"))
    }
    assert(bad.getMessage.contains("+1/-1"))
    val dup = intercept[IllegalArgumentException] {
      LinearClassifier.fitPerceptron(feats,
        Seq((1L, 1L), (1L, 1L)).toDF("id", "y"))
    }
    assert(dup.getMessage.contains("unique"))
    assertThrows[IllegalArgumentException] {
      LinearClassifier.fitPerceptron(feats, Seq((1L, 1L)).toDF("id", "y"),
        epochs = 0)
    }
  }

  test("scoring plan: weights broadcast, no sort-merge join, one doc-id exchange") {
    val docs = spark.range(50).select(col("id"),
      concat(lit("token "), col("id")).as("text"),
      when(col("id") % 2 === 0, 1L).otherwise(-1L).as("y"))
    val w = LinearClassifier.trainTextClassifier(docs, "id", "text", "y",
      buckets = 32, epochs = 1)
    val plan = LinearClassifier.scoreTextClassifier(docs, "id", "text", w,
      buckets = 32).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"weights must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"no cartesian:\n$plan")
  }
}
