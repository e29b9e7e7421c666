package graft.perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import graft.api.ApiServer
import graft.conf.RecipeConf

/** curate_recipe: the recipe author's path — a YAML project is PUT to
  * `/api/conf`, then `PUT /api/recipes/curate/run` is polled until the
  * job is done. The recipe is scrub → quality → dedup minhash →
  * decontaminate → split, written to a parquet sink. One operation = one
  * PUT-to-done cycle. The traced run then runs the recipe step by step
  * and the artifact lifecycle ([[ArtifactLeg]]): incremental near-dup
  * admission, takedowns and compaction of the persisted indexes a curated
  * corpus is served from. */
final class CurateRecipe(ctx: Ctx) extends Workload {
  import CurateRecipe._
  private val spark = ctx.spark
  private val http = HttpClient.newHttpClient()
  private var dir = ""
  private var api: ApiServer = _
  private var nDocs = 0L

  def prepare(rep: Int): Unit = {
    dir = ctx.freshDir(s"curate_recipe/rep$rep")
    Seq("corpus", "heldout").foreach { t =>
      spark.read.schema("id STRING, text STRING").json(ctx.input(s"$t.jsonl"))
        .write.parquet(s"$dir/$t")
    }
    nDocs = spark.read.parquet(s"$dir/corpus").count()
  }

  private def yaml: String =
    s"""datasets:
       |  corpus: {path: $dir/corpus, format: parquet}
       |  heldout: {path: $dir/heldout, format: parquet}
       |  curated: {path: $dir/curated, format: parquet}
       |recipes:
       |  curate:
       |    input: corpus
       |    steps:
       |$StepsYaml
       |    output: curated
       |""".stripMargin

  private def send(method: String, path: String, body: String = ""): (Int, String) = {
    val r = http.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${api.actualPort}/api$path"))
      .method(method, HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  /** PUT the project, start the run, poll its status until "done". */
  private def putToDone(): Unit = {
    if (api == null) api = new ApiServer(spark, RecipeConf.load("datasets: {}\nrecipes: {}")).start()
    val n0 = System.nanoTime()
    val (c1, b1) = send("PUT", "/conf/bench", yaml)
    require(c1 == 200, s"PUT /conf/bench: $c1 $b1")
    val (c2, b2) = send("PUT", "/recipes/curate/run")
    require(c2 == 202, s"PUT /recipes/curate/run: $c2 $b2")
    var status = ""
    while (!status.contains("\"done\"")) {
      Thread.sleep(PollMs)
      status = send("GET", "/recipes/curate/status")._2
      require(!status.contains("failed"), s"curate run failed: $status")
    }
    observedMs = Stats.ms(n0)
  }

  private var firstPin: Option[String] = None
  def check(): Seq[String] = {
    val rows = spark.read.parquet(s"$dir/curated").select("id", "split").collect()
      .map(r => s"${r.getString(0)},${r.getString(1)}")
    val pinned = s"rows=${rows.length} digest=${Stats.sha256(rows.sorted)}"
    // every stage must have removed something and kept most of the corpus
    val sane = if (rows.length > nDocs / 2 && rows.length < nDocs) Nil
      else Seq(s"curated ${rows.length} of $nDocs docs")
    sane ++ (firstPin match {
      case None => firstPin = Some(pinned); ctx.pin("curate_recipe", pinned)
      case Some(p) if p == pinned => Nil
      case Some(p) => Seq(s"output changed within the run: '$p' then '$pinned'")
    })
  }

  def op(): Unit = putToDone()

  /** The traced breakdown of the recipe, then the artifact leg. */
  def trace(t: Tracer): Outcome = {
    statusLagMs = statusLag()
    val steps = scala.util.Try(tracedSteps(t))
      .fold(e => Seq(s"traced steps threw: $e"), _ => Nil)
    Outcome.of(Seq(steps)).merge(artifacts.run(t))
  }
  private lazy val artifacts = new ArtifactLeg(ctx)

  /** The last operation's PUT-to-done time minus the run time the server
    * logged for it. */
  private def statusLag(): Double = {
    val log = send("GET", "/recipes/curate/log")._2
    """done in ([0-9.]+) s""".r.findFirstMatchIn(log)
      .fold(observedMs)(m => observedMs - m.group(1).toDouble * 1e3)
  }
  private var observedMs = 0.0

  // ------------------------------------------------------------- tracing
  private var statusLagMs = 0.0
  private val rows = scala.collection.mutable.Map.empty[String, (Long, Long)]
  private var confirmedPerCandidate = 0.0

  /** The recipe again, step by step: each step compiled with
    * RecipeConf.compileStep and materialized under its own span. */
  private def tracedSteps(t: Tracer): Unit = {
    val conf = t.span("conf.RecipeConf.load")(RecipeConf.load(yaml, Map.empty))
    val recipe = conf.recipes("curate")
    val input = RecipeConf.read(spark, conf.datasets("corpus"))
    t.span("conf.RecipeConf.compileRecipe") {
      RecipeConf.compileRecipe(spark, conf, recipe)(input).queryExecution.analyzed
    }
    var df: DataFrame = input
    var nIn = nDocs
    recipe.steps.zip(StepNames).foreach { case ((op, args), name) =>
      if (name == "dedup.minhash") confirmedPerCandidate = t.span("bench.minhash_candidates") {
        val confirmed = graft.dedup.Dedup.minhashNearDups(df, "id", "text",
          threshold = DedupThreshold).count()
        val candidates = graft.dedup.Dedup.minhashNearDups(df, "id", "text",
          threshold = 0.0).count()
        confirmed.toDouble / math.max(candidates, 1L)
      }
      df = t.span(name) {
        val out = RecipeConf.compileStep(spark, conf, op, args)(df)
          .persist(StorageLevel.MEMORY_AND_DISK)
        val nOut = out.count()
        rows(name) = (nIn, nOut); nIn = nOut
        out
      }
    }
    spark.catalog.clearCache()
  }

  def layers(t: Tracer): Map[String, Double] = {
    val perStep = StepNames.flatMap { s =>
      val tasks = t.tasksOf(t.jobsOf(s))
      Seq(
        s"$s.self_s" -> t.selfS(s),
        s"$s.rows_in" -> rows(s)._1.toDouble,
        s"$s.rows_out" -> rows(s)._2.toDouble,
        s"$s.shuffle_write_bytes" -> tasks.map(_.shuffleWrite).sum.toDouble,
        s"$s.spill_bytes" -> tasks.map(_.spill).sum.toDouble)
    }
    perStep.toMap ++ Map(
      "conf.RecipeConf.load.self_s" -> t.selfS("conf.RecipeConf.load"),
      "conf.RecipeConf.compileRecipe.self_s" -> t.selfS("conf.RecipeConf.compileRecipe"),
      "dedup.minhash.confirmed_per_candidate" -> confirmedPerCandidate,
      "api.status_lag_ms" -> statusLagMs) ++ artifacts.layers(t)
  }

  def layerNames: Seq[String] = CurateRecipe.layerNames

  override def close(): Unit = if (api != null) api.stop()
}

object CurateRecipe {
  val PollMs = 20L
  val DedupThreshold = 0.7
  val StepNames = Seq("text.scrub", "text.quality", "dedup.minhash",
    "text.decontaminate", "operators.split")
  val StepsYaml: String =
    s"""      - scrub: {select: [text]}
       |      - quality: {id: id, text: text, min_words: 25}
       |      - dedup: {id: id, text: text, method: minhash, threshold: $DedupThreshold}
       |      - decontaminate: {dataset: heldout, id: id, text: text, n: 8}
       |      - split: {id: id, salt: perfbench, splits: {train: 0.8, val: 0.1, test: 0.1}}""".stripMargin
  val layerNames: Seq[String] =
    StepNames.flatMap(s => Seq("self_s", "rows_in", "rows_out", "shuffle_write_bytes",
      "spill_bytes").map(q => s"$s.$q")) ++ Seq(
      "conf.RecipeConf.load.self_s", "conf.RecipeConf.compileRecipe.self_s",
      "dedup.minhash.confirmed_per_candidate", "api.status_lag_ms") ++
      ArtifactLeg.layerNames
}
