package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.operators.MatchJoin
import graft.pipeline.Matching

/** End-to-end pipeline checks on the sf0.001 driver data. */
class MatchingPipelineSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def persons(): (DataFrame, DataFrame) = {
    val customer = Tables.t(spark, dir, "customer")
    val nation = Tables.t(spark, dir, "nation")
    (Matching.dataprep(Matching.personsFrom(customer, nation),
      "pid", "first_name", "last_name", "birth_str", "city"),
      Matching.dataprep(Matching.registryFrom(customer, nation),
        "pid", "first_name", "last_name", "birth_str", "city"))
  }

  /** The linked output: the pairs joined to their cluster labels, as
    * SparkEntry.entry writes them. */
  private def linked(matches: DataFrame): DataFrame = {
    val comps = Matching.clusters(matches)
      .withColumnRenamed("node", "matchid_id").withColumnRenamed("comp", "cluster_id")
    matches.join(comps, Seq("matchid_id"), "left")
      .select("matchid_id", "hit_matchid_id", "matchid_hit_score",
        "matchid_hit_score_name", "matchid_hit_score_date", "confiance", "cluster_id")
  }

  /** What the queries completed since the last [[take]] executed: the
    * rows their file scans produced and the `__lid` exchanges (the match
    * join's one candidate shuffle) that wrote data. Plans inside cached
    * relations are walked too; a node shared by several queries counts
    * once. */
  private object Executed extends QueryExecutionListener with AdaptiveSparkPlanHelper {
    private val nodes = java.util.Collections.synchronizedMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      visit(qe.executedPlan)
    def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      visit(qe.executedPlan)
    private def visit(p: SparkPlan): Unit = collectWithSubqueries(p) { case n => n }.foreach {
      case s: FileSourceScanExec => nodes.put(s, true)
      case e: ShuffleExchangeExec if lidKeyed(e) => nodes.put(e, true)
      case m: InMemoryTableScanExec => visit(m.relation.cachedPlan)
      case _ =>
    }
    private def lidKeyed(e: ShuffleExchangeExec): Boolean = e.outputPartitioning match {
      case h: HashPartitioning => h.expressions.flatMap(_.references.map(_.name)) == Seq("__lid")
      case _ => false
    }
    /** (file-scan rows, executed `__lid` exchanges); resets both. */
    def take(): (Long, Int) = {
      org.apache.spark.GraftSparkBridge.drainListenerBus(spark.sparkContext, 30000L)
      nodes.synchronized {
        import scala.jdk.CollectionConverters._
        val ns = nodes.keySet.asScala.toSeq
        nodes.clear()
        (ns.collect { case s: FileSourceScanExec => s.metrics("numOutputRows").value }.sum,
          ns.count {
            case e: ShuffleExchangeExec => e.metrics("dataSize").value > 0
            case _ => false
          })
      }
    }
  }

  test("matchBest runs the match once for the clusters and the linked output") {
    val (left, right) = persons()
    Executed.take()
    spark.listenerManager.register(Executed)
    try {
      val matches = Matching.matchBest(left, right, k = 5, fuzzy = true)
      val (matchRows, matchLid) = Executed.take()
      val out = linked(matches).collect()
      val (restRows, restLid) = Executed.take()
      assert(out.nonEmpty)
      // the call itself evaluates the match (the inputs are scanned, the
      // candidate exchange runs once); the clusters, the join back onto
      // the pairs and the collect read the materialized pairs — no input
      // scan, no second match join
      assert(matchRows > 0 && matchLid == 1 && restRows == 0 && restLid == 0,
        s"matchBest: $matchRows input rows scanned, $matchLid __lid exchanges; " +
          s"clusters + output: $restRows input rows scanned, $restLid __lid exchanges")
    } finally spark.listenerManager.unregister(Executed)
  }

  test("the materialized pairs equal the lazy topK → score → decision composition") {
    val (left, right) = persons()
    val hits = MatchJoin.topK(left, right, "matchid_name_tokens", "matchid_name_tokens",
      "matchid_id", "matchid_id", k = 5, fuzzy = true)
    val w = Window.partitionBy(col("matchid_id"))
      .orderBy(col("matchid_hit_score").desc, col("hit_matchid_id"))
    val reference = Matching.score(hits).filter(col("matchid_hit_score") > 0.1)
      .withColumn("decision_rank", row_number().over(w))
      .filter(col("decision_rank") === 1).drop("decision_rank")
    def sorted(df: DataFrame) = df.collect().map(_.mkString("|")).sorted.toSeq
    val got = sorted(linked(Matching.matchBest(left, right, k = 5, fuzzy = true)))
    val want = sorted(linked(reference))
    assert(got.nonEmpty && got == want,
      s"${got.size} rows vs ${want.size} reference rows; first differences: " +
        (got.diff(want).take(3) ++ want.diff(got).take(3)).mkString("; "))
  }

  test("entry flagship returns matched, scored, clustered rows") {
    val out = SparkEntry.entry(spark)
    val n = out.count()
    assert(n > 0)
    assert(out.columns.contains("confiance") && out.columns.contains("cluster_id"))
  }

  test("fuzzy matching recovers the perturbed registry twin for most persons") {
    val (left, right) = persons()
    val matches = Matching.matchBest(left, right, k = 5, fuzzy = true)
    val total = left.count()
    // the registry twin of person k has pid k + 1000000
    val correct = matches
      .filter(col("hit_matchid_id") === col("matchid_id") + 1000000).count()
    assert(correct.toDouble / total > 0.9,
      s"only $correct/$total matched their twin")
    // perturbed surnames (every 7th) should still match via fuzzy recall
    val perturbedCorrect = matches
      .filter(col("matchid_id") % 7 === 0)
      .filter(col("hit_matchid_id") === col("matchid_id") + 1000000).count()
    val perturbedTotal = left.filter(col("matchid_id") % 7 === 0).count()
    assert(perturbedCorrect.toDouble / perturbedTotal > 0.8,
      s"only $perturbedCorrect/$perturbedTotal perturbed matched")
  }
}
