package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.CacheScope

/** Cache discipline: operator caches belong to whoever runs the actions.
  * A plain AnyFunSuite, not a SparkSpec: SparkSpec runs each case in a
  * scope of its own, and these cases open (or avoid) the scope
  * themselves. */
class CacheScopeSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def cacheManager =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
  private def docs = (1 to 40).map(i =>
      (i.toLong, s"alpha beta gamma delta epsilon zeta eta theta $i"))
    .toDF("id", "text")

  test("inside a scope a count-gated cache is built once and read by the caller's action") {
    spark.catalog.clearCache()
    val corpus = (1L to 20L).map(i => (i, Seq(1f, i.toFloat, 0f))).toDF("id", "v")
    val test = Seq(Tuple1(Seq(1f, 1f, 0f))).toDF("tv")
    CacheScope.run {
      val flags = graft.sim.Ann.semanticContaminationFlagsLsh(
        corpus, "id", "v", test, "tv", threshold = 0.99)
      val gated = flags.queryExecution.withCachedData
        .collect { case r: InMemoryRelation => r.cacheBuilder }
      assert(gated.size == 1, flags.queryExecution.withCachedData)
      assert(gated.head.isCachedColumnBuffersLoaded,
        "the count gate did not materialize the verdict cache")
      val hits = flags.filter(col("contaminated"))
      assert(hits.collect().nonEmpty)
      val read = collect(hits.queryExecution.executedPlan) {
        case s: InMemoryTableScanExec => s.relation.cacheBuilder }
      assert(read.exists(_ eq gated.head),
        s"the caller's action did not read the gated cache:\n" +
          hits.queryExecution.executedPlan)
    }
    assert(cacheManager.isEmpty)
  }

  test("closing a scope releases every entry, also when the body throws") {
    spark.catalog.clearCache()
    CacheScope.run {
      graft.dedup.Dedup.minhashNearDups(docs, "id", "text").count()
      graft.dedup.Dedup.ngramJaccardPairs(docs.withColumn("b", lit(1)),
        "id", "text", "b").count()
      val lm = graft.text.Curation.unigramLm(docs, "text")
      graft.text.Curation.unigramLogProb(docs, "id", "text", lm).count()
      graft.text.TextAnalysis.winnowNearDups(docs, "id", "text").count()
      assert(!cacheManager.isEmpty)
    }
    assert(cacheManager.isEmpty, "the scope left entries behind")
    val e = intercept[IllegalStateException] {
      CacheScope.run {
        CacheScope.cache(docs).count()
        graft.dedup.Dedup.minhashNearDups(docs, "id", "text").count()
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage == "body failed")
    assert(cacheManager.isEmpty, "a failed scope left entries behind")
  }

  test("a nested scope joins the outer one") {
    spark.catalog.clearCache()
    CacheScope.run {
      val inner = CacheScope.run(CacheScope.cache(docs))
      assert(inner.storageLevel == StorageLevel.MEMORY_AND_DISK,
        "the inner scope released an entry the outer scope owns")
      assert(inner.count() == 40)
    }
    assert(cacheManager.isEmpty)
  }

  test("scopes on two threads share an equal plan's entry until the last one closes") {
    spark.catalog.clearCache()
    val joined = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val other = new java.util.concurrent.FutureTask[Long](() =>
      CacheScope.run {
        val mine = CacheScope.cache(docs)
        joined.countDown()
        release.await()
        mine.count()
      })
    CacheScope.run {
      assert(CacheScope.cache(docs).count() == 40)
      new Thread(other).start()
      joined.await()
    }
    assert(docs.storageLevel == StorageLevel.MEMORY_AND_DISK,
      "the first scope to close released an entry another scope holds")
    release.countDown()
    assert(other.get() == 40)
    assert(cacheManager.isEmpty, "the last scope to close left the entry behind")
  }

  test("outside any scope an entry stays cached") {
    spark.catalog.clearCache()
    try {
      val cached = CacheScope.cache(docs)
      assert(cached.count() == 40)
      assert(cached.storageLevel == StorageLevel.MEMORY_AND_DISK)
      assert(!cacheManager.isEmpty)
    } finally spark.catalog.clearCache()
  }

  test("src/main registers no QueryExecutionListener and drains the listener bus " +
      "only to read what a listener recorded") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), root.toAbsolutePath)
    // the bridge defines the drain; Profile reads its own job listener
    val drainers = Set("GraftSparkBridge.scala", "Profile.scala")
    val walk = java.nio.file.Files.walk(root)
    val offenders =
      try walk.iterator().asScala.toSeq
        .filter(_.toString.endsWith(".scala"))
        .flatMap { p =>
          val txt = UncalledDefSpec.stripComments(
            new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
          val name = p.getFileName.toString
          Seq("QueryExecutionListener" -> true,
              "drainListenerBus" -> !drainers(name))
            .collect { case (w, banned) if banned && txt.contains(w) => s"$p: $w" }
        }
      finally walk.close()
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
