package graft

import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.text.Curation

/** Cache discipline: operators that cache an internal frame
  * (minhashNearDups, ngramJaccardPairs, unigramLogProb) must release it
  * once the caller's action completes — a long-lived session (API
  * server, repeated recipe runs) must not accumulate MEMORY_AND_DISK
  * entries run after run. */
class AutoUnpersistSpec extends SparkSpec {
  import spark.implicits._

  // the QueryExecutionListener fires asynchronously after the action
  private def awaitEmptyCache(timeoutMs: Long = 30000): Boolean = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val deadline = System.currentTimeMillis + timeoutMs
    while (System.currentTimeMillis < deadline) {
      if (classic.sharedState.cacheManager.isEmpty) return true
      Thread.sleep(100)
    }
    false
  }

  test("operator-internal caches are released after the consuming action") {
    // other suites may have BUILT plans they never executed (explain-only
    // tests): their caches are registered but unconsumed — drain them so
    // this spec measures only its own three operators
    graft.engine.AutoUnpersist.releaseAll()
    spark.catalog.clearCache()
    val docs = (1 to 40).map(i =>
        (i.toLong, s"alpha beta gamma delta epsilon zeta eta theta $i"))
      .toDF("id", "text")
    // every AutoUnpersist call site, each followed by one action
    Dedup.minhashNearDups(docs, "id", "text").count()
    Dedup.ngramJaccardPairs(docs.withColumn("b", lit(1)), "id", "text", "b")
      .count()
    val lm = Curation.unigramLm(docs, "text")
    Curation.unigramLogProb(docs, "id", "text", lm).count()
    graft.text.TextAnalysis.winnowNearDups(docs, "id", "text").count()
    assert(awaitEmptyCache(),
      "cacheManager still holds entries 30s after the consuming actions")
    assert(graft.engine.AutoUnpersist.pendingCount == 0)
  }

  test("persist → act → register: the operator's own action never releases the entry") {
    // semanticContaminationFlagsLsh persists its verdicts, counts them
    // (the broadcast gate), THEN registers them. A slow listener holds
    // the count's completion event in the bus past the registration: a
    // registration that does not drain first is released by that stale
    // event and the caller's action recomputes the verdicts
    graft.engine.AutoUnpersist.releaseAll()
    spark.catalog.clearCache()
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"persist-act-register-${System.nanoTime}"
    val ours = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val slow = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          ours.add(e.jobId)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (ours.contains(e.jobId)) Thread.sleep(200)
    }
    val corpus = (1L to 20L).map(i => (i, Seq(1f, i.toFloat, 0f))).toDF("id", "v")
    val test = Seq(Tuple1(Seq(1f, 1f, 0f))).toDF("tv")
    sc.addSparkListener(slow)
    sc.setJobGroup(group, "persist-act-register ordering")
    val flags = try graft.sim.Ann.semanticContaminationFlagsLsh(
      corpus, "id", "v", test, "tv", threshold = 0.99)
    finally {
      sc.clearJobGroup()
      org.apache.spark.GraftSparkBridge.drainListenerBus(sc, 30000L)
      sc.removeSparkListener(slow)
    }
    assert(graft.engine.AutoUnpersist.pendingCount == 1,
      "the verdict cache was released by the operator's own count")
    assert(flags.filter(col("contaminated")).count() >= 1)
    assert(awaitEmptyCache(),
      "cacheManager still holds entries 30s after the consuming action")
    assert(graft.engine.AutoUnpersist.pendingCount == 0)
  }

  test("never-executed plans cannot grow the registry past its bound") {
    import org.apache.spark.sql.functions.lit
    graft.engine.AutoUnpersist.releaseAll()
    // plan-only registrations (no action ever runs them) — the shape a
    // recipe leaves behind when a LATER step fails at compile
    (1 to 80).foreach { i =>
      graft.engine.AutoUnpersist.cache(
        (1 to 3).toDF("v").withColumn("tag", lit(i)))
    }
    assert(graft.engine.AutoUnpersist.pendingCount <= 64,
      s"registry grew to ${graft.engine.AutoUnpersist.pendingCount}")
    graft.engine.AutoUnpersist.releaseAll()
    spark.catalog.clearCache()
  }
}
