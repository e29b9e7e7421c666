package graft.perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.functions.{col, split}
import graft.api.ApiServer
import graft.conf.RecipeConf
import graft.pipeline.Matching

/** The request path, run in match_bulk's traced run: validation-frontend
  * traffic against the REST server from one client that waits for each
  * reply (a closed loop): `_search` on a document index, `_knn` on an
  * ann_index, a live matching recipe `apply` on a posted 30-row CSV chunk
  * and `_update` of a decision, in the seeded script's order. The
  * server's handler threads carry no job group, so a request's jobs are
  * the jobs started while it was in flight. Then the public functions the
  * routes call are timed directly, each call under its own span. One
  * operation = one request or one direct call; each is checked. */
final class ApiLeg(ctx: Ctx) {
  import ApiLeg._
  private val spark = ctx.spark
  private val json = new ObjectMapper()
  private val http = HttpClient.newHttpClient()
  private var api: ApiServer = _
  private lazy val dir = ctx.freshDir("api")
  private def input(f: String) = ctx.input(s"api/$f")
  private def csv(f: String, ddl: String) = spark.read.option("header", "true")
    .option("sep", ";").schema(ddl).csv(input(f))

  private def build(): Unit = {
    graft.sources.Sinks.indexed(
      csv("docs.csv", "id LONG, text STRING").withColumn("tokens", split(col("text"), " ")),
      s"$dir/docs", idCol = Some("id"), analyzedCol = "tokens")
    graft.sim.Ann.writeIvfIndex(
      spark.read.schema("id LONG, v ARRAY<FLOAT>").json(input("vecs.jsonl")),
      "id", "v", s"$dir/vecs", nlist = NList)
    Matching.dataprep(csv("registry.csv", MatchBulk.PersonDdl),
      "id", "first_name", "last_name", "birth_str", "city").write.parquet(s"$dir/registry")
    csv("decisions.csv", "_id LONG, decision STRING, score DOUBLE")
      .write.parquet(s"$dir/decisions")
  }

  private lazy val conf = RecipeConf.load(
    s"""datasets:
       |  docs: {path: $dir/docs, format: index}
       |  vecs: {path: $dir/vecs, format: ann_index}
       |  registry: {path: $dir/registry, format: parquet}
       |  decisions: {path: $dir/decisions, format: parquet}
       |recipes:
       |  live:
       |    input: registry
       |    steps:
       |      - normalize: [first_name, last_name, city]
       |      - eval:
       |          matchid_name_tokens: "split(concat_ws(' ', first_name, last_name), ' ')"
       |      - match:
       |          dataset: registry
       |          left_tokens: matchid_name_tokens
       |          right_tokens: matchid_name_tokens
       |          left_id: id
       |          right_id: matchid_id
       |          size: 1
       |""".stripMargin, Map.empty)

  private lazy val chunks: Seq[JsonNode] = lines("chunks.jsonl")
  private def lines(f: String): Seq[JsonNode] =
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get(input(f))).asScala.toSeq
      .map(json.readTree)

  private def send(method: String, path: String, body: String): (Int, String) = {
    val r = http.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${api.actualPort}/api$path"))
      .method(method, HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  /** One request of the script: (op, start ms, end ms, problems). */
  private def request(req: JsonNode): Req = {
    val op = req.get("op").asText
    val (method, path, body) = op match {
      case "search" => ("POST", s"/datasets/docs/_search?size=10&q=${req.get("q").asText}", "")
      case "knn" => ("POST", s"/datasets/vecs/_knn?k=5&vector=${req.get("vector").asText}", "")
      case "apply" => ("PUT", "/recipes/live/apply?size=30",
        chunks(req.get("chunk").asInt).get("body").asText)
      case _ => ("POST", s"/datasets/decisions/_update/${req.get("id").asLong}",
        s"""{"doc": {"decision": "${req.get("value").asText}"}}""")
    }
    val t0 = System.currentTimeMillis(); val n0 = System.nanoTime()
    val (code, text) = send(method, path, body)
    val ms = Stats.ms(n0)
    val problems =
      if (code != 200) Seq(s"$op: HTTP $code ${text.take(200)}")
      else scala.util.Try(checkReply(op, req, json.readTree(text)))
        .fold(e => Seq(s"$op: unreadable reply: $e"), identity)
    Req(op, t0, System.currentTimeMillis(), ms, problems)
  }

  private val firstApply = scala.collection.mutable.Map.empty[Int, Seq[(String, String)]]
  private def checkReply(op: String, req: JsonNode, rows: JsonNode): Seq[String] = op match {
    case "search" =>
      val want = req.get("expect").asLong
      if (rows.elements.asScala.exists(_.get("_id").asLong == want)) Nil
      else Seq(s"search '${req.get("q").asText}': doc $want not returned")
    case "knn" =>
      val want = req.get("expect").asLong
      if (rows.size > 0 && rows.get(0).get("neighbor_id").asLong == want) Nil
      else Seq(s"knn: rank 1 is not vector $want")
    case "apply" =>
      val c = req.get("chunk").asInt
      val truth = chunks(c).get("truth")
      val pairs = rows.elements.asScala.map(r =>
        (r.get("id").asText, r.get("hit_matchid_id").asText)).toSeq.sorted
      val right = pairs.count { case (id, hit) => truth.path(id).asText == hit }
      val was = firstApply.getOrElseUpdate(c, pairs)
      (if (was == pairs) Nil else Seq(s"apply chunk $c: answer changed")) ++
        (if (right >= MinApplyLinked * truth.size) Nil
         else Seq(s"apply chunk $c: $right of ${truth.size} linked to their registry row"))
    case _ =>
      if (rows.path("result").asText == "updated") Nil else Seq("update not acknowledged")
  }

  /** The value each id was last given must read back from the table. */
  private def readBack(script: Seq[JsonNode]): Seq[String] = {
    val last = script.filter(_.get("op").asText == "update")
      .map(r => r.get("id").asLong -> r.get("value").asText).toMap
    val stored = spark.read.parquet(s"$dir/decisions").select("_id", "decision").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    last.collect { case (id, v) if !stored.get(id).contains(v) =>
      s"_update of $id to '$v' reads back '${stored.getOrElse(id, "<missing>")}'"
    }.toSeq
  }

  private var timed: Seq[Req] = Nil
  private val direct = scala.collection.mutable.Map.empty[String, Seq[Double]]

  def run(t: Tracer): Outcome = {
    build()
    api = new ApiServer(spark, conf).start()
    val script = lines("requests.jsonl")
    val reqs = script.map(r => r.get("phase").asText -> request(r))
    timed = reqs.collect { case ("timed", r) => r }
    val requests = Outcome.of(reqs.map(_._2.problems) :+ readBack(script))
    requests.merge(directCalls(t))
  }

  /** The public functions behind the routes, called directly with the
    * routes' arguments, each call timed under its own span and checked
    * after it. */
  private def directCalls(t: Tracer): Outcome = {
    import spark.implicits._
    def timedCalls[T](name: String)(call: Int => T)(check: (Int, T) => Seq[String])
        : Seq[Seq[String]] = {
      val rs = (0 until DirectCalls).map { i =>
        val n0 = System.nanoTime()
        val r = scala.util.Try(t.span(name)(call(i)))
        (Stats.ms(n0), r.fold(e => Seq(s"$name threw: $e"), check(i, _)))
      }
      direct(name) = rs.map(_._1)
      rs.map(_._2)
    }
    val opened = timedCalls("sources.Sources.indexedTables") { _ =>
      graft.sources.Sources.indexedTables(spark, s"$dir/docs", Seq("postings", "docs"))
    } { (_, tables) =>
      if (tables.size == 2) Nil else Seq(s"indexedTables opened ${tables.size} tables")
    }
    val chunkFiles = chunks.indices.map { c =>
      val f = java.nio.file.Paths.get(s"$dir/chunk-$c.csv")
      java.nio.file.Files.writeString(f, chunks(c).get("body").asText)
      f.toString
    }
    val compiled = timedCalls("conf.RecipeConf.compileRecipe") { i =>
      val in = graft.sources.Sources.csv(spark, chunkFiles(i % chunks.size), sep = ";")
      RecipeConf.compileRecipe(spark, conf, conf.recipes("live"))(in.limit(30)).collect()
    } { (_, rows) => if (rows.nonEmpty) Nil else Seq("live recipe returned no rows") }
    val upserted = timedCalls("sources.Sinks.upsertPartial") { i =>
      graft.sources.Sinks.upsertPartial(Seq((i + 1L, s"direct-$i")).toDF("_id", "decision"),
        s"$dir/decisions", "_id")
    } { (i, _) =>
      val back = spark.read.parquet(s"$dir/decisions").filter($"_id" === i + 1L)
        .select("decision").as[String].collect().toSeq
      if (back == Seq(s"direct-$i")) Nil else Seq(s"upsertPartial of ${i + 1} reads back $back")
    }
    Outcome.of(opened ++ compiled ++ upserted)
  }

  def layers(t: Tracer): Map[String, Double] = {
    t.drain()
    val byOp = timed.groupBy(_.op)
    def perReq(op: String)(f: (Req, Seq[Tracer.Job]) => Double): Double =
      Stats.median(byOp.getOrElse(op, Nil).map(r => f(r, t.jobsBetween(r.t0Ms, r.t1Ms))))
    val perOp = Ops.flatMap { op =>
      Seq(
        s"spark.jobs_per_request.$op" -> perReq(op)((_, js) => js.size.toDouble),
        s"spark.tasks_per_request.$op" -> perReq(op)((_, js) => t.tasksOf(js).size.toDouble),
        s"spark.driver_share.$op" -> perReq(op) { (r, js) =>
          val wall = (r.t1Ms - r.t0Ms).max(1L)
          val busy = Tracer.unionMs(t.tasksOf(js).map(k => (k.launchMs, k.finishMs)))
          1.0 - busy.min(wall).toDouble / wall
        },
        s"api.$op.p50_ms" -> Stats.median(byOp.getOrElse(op, Nil).map(_.ms)))
    }
    val upsertCalls = t.spansNamed("sources.Sinks.upsertPartial").size.max(1)
    perOp.toMap ++ Map(
      "sources.Sources.indexedTables.open_p50_ms" ->
        Stats.median(direct("sources.Sources.indexedTables")),
      "conf.RecipeConf.compileRecipe.p50_ms" ->
        Stats.median(direct("conf.RecipeConf.compileRecipe")),
      "sources.Sinks.upsertPartial.p50_ms" -> Stats.median(direct("sources.Sinks.upsertPartial")),
      "sources.Sinks.upsertPartial.bytes_written_per_update" ->
        t.tasksOf(t.jobsOf("sources.Sinks.upsertPartial")).map(_.bytesWritten).sum.toDouble /
          upsertCalls)
  }

  def close(): Unit = if (api != null) api.stop()
}

object ApiLeg {
  final case class Req(op: String, t0Ms: Long, t1Ms: Long, ms: Double, problems: Seq[String])
  val NList = 8
  /** Direct calls per public function. */
  val DirectCalls = 5
  /** Share of a live chunk's rows the apply route must link to the
    * registry row they were perturbed from. */
  val MinApplyLinked = 0.5
  val Ops = Seq("search", "knn", "apply", "update")
  val layerNames: Seq[String] =
    Ops.flatMap(op => Seq(s"spark.jobs_per_request.$op", s"spark.tasks_per_request.$op",
      s"spark.driver_share.$op", s"api.$op.p50_ms")) ++ Seq(
      "sources.Sources.indexedTables.open_p50_ms",
      "conf.RecipeConf.compileRecipe.p50_ms",
      "sources.Sinks.upsertPartial.p50_ms",
      "sources.Sinks.upsertPartial.bytes_written_per_update")
}
