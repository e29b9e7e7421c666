package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.sum
import graft.pipeline.Matching
import graft.operators.MatchJoin

/** match_bulk: link two seeded person files in bulk, the SparkEntry.entry
  * shape — dataprep → matchBest(fuzzy) → clusters → linked output written
  * to parquet. One operation = the whole pipeline over both files. The
  * traced run then breaks one pipeline down by public call and runs the
  * request path ([[ApiLeg]]): live matching and search over the REST API,
  * the same use served one request at a time. */
final class MatchBulk(ctx: Ctx) extends Workload {
  import MatchBulk._
  private val spark = ctx.spark
  private var dir = ""
  private var nLeft = 0L
  private var nRight = 0L
  private lazy val truth: Set[(Long, Long)] =
    readCsv(ctx.input("truth.csv"), "left_id LONG, right_id LONG").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private def readCsv(path: String, ddl: String): DataFrame =
    spark.read.option("header", "true").option("sep", ";").schema(ddl).csv(path)

  def prepare(rep: Int): Unit = {
    dir = ctx.freshDir(s"match_bulk/rep$rep")
    Seq("left", "right").foreach { side =>
      readCsv(ctx.input(s"$side.csv"), PersonDdl).write.parquet(s"$dir/$side")
    }
    nLeft = spark.read.parquet(s"$dir/left").count()
    nRight = spark.read.parquet(s"$dir/right").count()
  }

  private def prepped(side: String): DataFrame = Matching.dataprep(
    spark.read.parquet(s"$dir/$side"), "id", "first_name", "last_name", "birth_str", "city")

  private def linked(matches: DataFrame, comps0: DataFrame): DataFrame = {
    val comps = comps0.withColumnRenamed("node", "matchid_id")
      .withColumnRenamed("comp", "cluster_id")
    matches.join(comps, Seq("matchid_id"), "left")
      .select("matchid_id", "hit_matchid_id", "matchid_hit_score",
        "matchid_hit_score_name", "matchid_hit_score_date", "confiance", "cluster_id")
  }

  /** The pipeline exactly as a user composes it. */
  private def pipeline(out: String): Unit = {
    val matches = Matching.matchBest(prepped("left"), prepped("right"), k = K, fuzzy = true)
    linked(matches, Matching.clusters(matches)).write.mode("overwrite").parquet(out)
  }

  /** The same pipeline with each public call's result materialized under
    * its own span, so its jobs are attributed to it. The persisted
    * dataprep, topK and score results are substituted into matchBest's
    * identical plans by the cache manager; the matched pairs are not
    * persisted, so the clusters and the write each run matchBest's
    * ranking again, as the untouched pipeline does. */
  private def tracedPipeline(t: Tracer, out: String): Unit = {
    val (l, r) = t.span("pipeline.Matching.dataprep") {
      val l = prepped("left").persist(); val r = prepped("right").persist()
      l.count(); r.count(); (l, r)
    }
    val hits = t.span("operators.MatchJoin.topK") {
      val h = MatchJoin.topK(l, r, "matchid_name_tokens", "matchid_name_tokens",
        "matchid_id", "matchid_id", k = K, fuzzy = true).persist()
      h.count(); h
    }
    // the candidate volume before the top-K cut, outside any span
    candidatePairs = hits.select("matchid_id", "matchid_hit_matches_unfiltered").distinct()
      .agg(sum("matchid_hit_matches_unfiltered")).head().getLong(0)
    t.span("pipeline.Matching.score") {
      val s = Matching.score(hits).persist(); s.count()
    }
    val matches = Matching.matchBest(l, r, k = K, fuzzy = true)
    val comps = t.span("graph.ConnectedComponents.run")(Matching.clusters(matches))
    t.span("sources.parquet_write") {
      linked(matches, comps).write.mode("overwrite").parquet(out)
    }
    spark.catalog.clearCache()
  }
  private var candidatePairs = 0L
  private var accepted = 0L

  /** Checks one written output: recall/precision against the truth, the
    * digest identical across operations and across runs of this seed. */
  private var firstPin: Option[String] = None
  private def check(out: String): Seq[String] = {
    val rows = spark.read.parquet(out).select("matchid_id", "hit_matchid_id",
      "matchid_hit_score", "cluster_id").collect()
    accepted = rows.length
    val pairs = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val hit = pairs.count(truth.contains).toDouble
    val recall = hit / truth.size
    val precision = if (pairs.isEmpty) 0.0 else hit / pairs.size
    val digest = Stats.sha256(rows.map(_.mkString(",")).sorted)
    val pinned = f"recall=$recall%.6f precision=$precision%.6f digest=$digest"
    val floor =
      if (recall >= MinRecall && precision >= MinPrecision) Nil
      else Seq(f"recall $recall%.4f / precision $precision%.4f below " +
        f"$MinRecall / $MinPrecision")
    val same = firstPin match {
      case None => firstPin = Some(pinned); ctx.pin("match_bulk", pinned)
      case Some(p) if p == pinned => Nil
      case Some(p) => Seq(s"output changed within the run: '$p' then '$pinned'")
    }
    floor ++ same
  }

  private var ops = 0
  private def out = s"$dir/out$ops"
  def op(): Unit = { ops += 1; pipeline(out) }
  def check(): Seq[String] = check(out)

  /** The traced breakdown of one pipeline, then the request-path leg. */
  def trace(t: Tracer): Outcome = {
    scannedRows = t.opScannedRows
    ops += 1
    val broken = scala.util.Try(tracedPipeline(t, out))
      .fold(e => Seq(s"traced pipeline threw: $e"), _ => check(out))
    Outcome.of(Seq(broken)).merge(api.run(t))
  }
  private var scannedRows = 0L
  private lazy val api = new ApiLeg(ctx)

  def layers(t: Tracer): Map[String, Double] = {
    def self(n: String) = t.selfS(n)
    val topTasks = t.tasksOf(t.jobsOf("operators.MatchJoin.topK"))
    val ccJobs = t.jobsOf("graph.ConnectedComponents.run", inclusive = true)
    val opJobs = t.jobsOf("bench.op", inclusive = true)
    val opSpan = t.spansNamed("bench.op").head
    val busyMs = Tracer.unionMs(opJobs.map(j => (j.startMs, j.endMs)))
    Map(
      "pipeline.Matching.dataprep.self_s" -> self("pipeline.Matching.dataprep"),
      "operators.MatchJoin.topK.self_s" -> self("operators.MatchJoin.topK"),
      "operators.MatchJoin.topK.executor_cpu_s" -> topTasks.map(_.cpuNs).sum / 1e9,
      "operators.MatchJoin.topK.shuffle_write_bytes" ->
        topTasks.map(_.shuffleWrite).sum.toDouble,
      "operators.MatchJoin.topK.candidate_pairs" -> candidatePairs.toDouble,
      "operators.MatchJoin.topK.candidates_per_record" -> candidatePairs.toDouble / nLeft,
      "pipeline.Matching.score.self_s" -> self("pipeline.Matching.score"),
      "pipeline.Matching.accept_ratio" -> accepted.toDouble / candidatePairs,
      "graph.ConnectedComponents.run.self_s" -> self("graph.ConnectedComponents.run"),
      "graph.ConnectedComponents.run.jobs" -> ccJobs.size.toDouble,
      "graph.ConnectedComponents.run.shuffle_write_bytes" ->
        t.tasksOf(ccJobs).map(_.shuffleWrite).sum.toDouble,
      "sources.parquet_write.self_s" -> self("sources.parquet_write"),
      "sources.parquet_write.bytes_written" ->
        t.tasksOf(t.jobsOf("sources.parquet_write")).map(_.bytesWritten).sum.toDouble,
      "sources.scan_rows_per_input_row" -> scannedRows.toDouble / (nLeft + nRight),
      "spark.driver_gap_s" -> (opSpan.seconds - busyMs / 1e3)) ++ api.layers(t)
  }

  def layerNames: Seq[String] = MatchBulk.layerNames

  override def close(): Unit = api.close()
}

object MatchBulk {
  val K = 5
  /** Floors every seed clears with margin; the exact values are pinned per
    * seed on top of these. */
  val MinRecall = 0.8
  val MinPrecision = 0.6
  val PersonDdl = "id LONG, first_name STRING, last_name STRING, birth_str STRING, city STRING"
  val layerNames = Seq(
    "pipeline.Matching.dataprep.self_s",
    "operators.MatchJoin.topK.self_s",
    "operators.MatchJoin.topK.executor_cpu_s",
    "operators.MatchJoin.topK.shuffle_write_bytes",
    "operators.MatchJoin.topK.candidate_pairs",
    "operators.MatchJoin.topK.candidates_per_record",
    "pipeline.Matching.score.self_s",
    "pipeline.Matching.accept_ratio",
    "graph.ConnectedComponents.run.self_s",
    "graph.ConnectedComponents.run.jobs",
    "graph.ConnectedComponents.run.shuffle_write_bytes",
    "sources.parquet_write.self_s",
    "sources.parquet_write.bytes_written",
    "sources.scan_rows_per_input_row",
    "spark.driver_gap_s") ++ ApiLeg.layerNames
}
