package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files
import graft.api.ApiServer
import graft.conf.RecipeConf

/** Drive the REST surface over a real recipe project (api.py parity:
  * dataset listing/sampling, recipe test + async run, jobs). */
class ApiServerSpec extends SparkSpec {

  private val dir = Files.createTempDirectory("graft-api").toString
  private lazy val client = HttpClient.newHttpClient()

  private def get(url: String) = client.send(
    HttpRequest.newBuilder(URI.create(url)).GET().build(),
    HttpResponse.BodyHandlers.ofString())
  // java.net.http follows no redirects by default; name it for clarity
  private def getNoRedirect(url: String) = get(url)
  private def getHdr(url: String, headers: (String, String)*) = {
    val b = HttpRequest.newBuilder(URI.create(url)).GET()
    headers.foreach { case (k, v) => b.header(k, v) }
    client.send(b.build(), HttpResponse.BodyHandlers.ofString())
  }
  private def getAuth(url: String, bearer: String) = client.send(
    HttpRequest.newBuilder(URI.create(url))
      .header("Authorization", s"Bearer $bearer").GET().build(),
    HttpResponse.BodyHandlers.ofString())
  private def send(method: String, url: String) = client.send(
    HttpRequest.newBuilder(URI.create(url))
      .method(method, HttpRequest.BodyPublishers.noBody()).build(),
    HttpResponse.BodyHandlers.ofString())
  private def sendBody(method: String, url: String, body: String,
      headers: Seq[(String, String)] = Nil) = {
    val b = HttpRequest.newBuilder(URI.create(url))
      .method(method, HttpRequest.BodyPublishers.ofString(body))
    headers.foreach { case (k, v) => b.header(k, v) }
    client.send(b.build(), HttpResponse.BodyHandlers.ofString())
  }

  test("datasets, sample, test, run, jobs round trip over HTTP") {
    Files.writeString(java.nio.file.Paths.get(s"$dir/in.csv"),
      "name;age\nana;30\nben;41\ncleo;x\n")
    val conf = RecipeConf.load(
      s"""datasets:
         |  in: {path: $dir/in.csv, format: csv}
         |  out: {path: $dir/out, format: parquet}
         |recipes:
         |  clean:
         |    input: in
         |    steps:
         |      - to_integer: [age]
         |      - fillna: {age: -1}
         |    output: out
         |""".stripMargin)
    val api = new ApiServer(spark, conf).start()
    val base = s"http://localhost:${api.actualPort}/api"
    try {
      val ds = get(s"$base/datasets")
      assert(ds.statusCode() == 200 && ds.body() == """["in","out"]""")

      val sample = send("POST", s"$base/datasets/in?size=2")
      assert(sample.statusCode() == 200)
      assert(sample.body().contains(""""name":"ana""""))
      assert(!sample.body().contains("cleo")) // size honored

      val test = send("PUT", s"$base/recipes/clean/test")
      assert(test.statusCode() == 200)
      assert(test.body().contains(""""age":-1""")) // 'x' → null → -1

      val run = send("PUT", s"$base/recipes/clean/run")
      assert(run.statusCode() == 202 && run.body().contains("\"job\""))
      api.awaitJobs()
      val jobs = get(s"$base/jobs")
      assert(jobs.body().contains(""""status": "done""""))
      assert(spark.read.parquet(s"$dir/out").count() == 3)

      assert(get(s"$base/nope").statusCode() == 404)
    } finally api.stop()
  }

  test("conf CRUD merges uploaded projects into the live conf") {
    Files.writeString(java.nio.file.Paths.get(s"$dir/p.csv"), "a;b\n1;x\n")
    val api = new ApiServer(spark,
      RecipeConf.load("datasets: {}\nrecipes: {}")).start()
    val base = s"http://localhost:${api.actualPort}/api"
    try {
      assert(get(s"$base/datasets").body() == "[]")
      val yaml =
        s"""datasets:
           |  pdata: {path: $dir/p.csv, format: csv}
           |recipes:
           |  pclean:
           |    input: pdata
           |    steps:
           |      - rename: {a: id}
           |""".stripMargin
      val up = sendBody("PUT", s"$base/conf/proj1", yaml)
      assert(up.statusCode() == 200 && up.body().contains(""""recipes": 1"""))
      // merged into the live conf: dataset + recipe now serve requests
      assert(get(s"$base/datasets").body() == """["pdata"]""")
      assert(get(s"$base/recipes").body() == """["pclean"]""")
      assert(get(s"$base/conf").body().contains(""""projects": ["proj1"]"""))
      assert(get(s"$base/conf/proj1").body() == yaml) // raw yaml back
      val t = send("PUT", s"$base/recipes/pclean/test")
      assert(t.statusCode() == 200 && t.body().contains(""""id":"1""""))
      // bad yaml is rejected, conf untouched
      assert(sendBody("PUT", s"$base/conf/bad", "recipes:\n  r1: {steps: 3}")
        .statusCode() == 500)
      assert(get(s"$base/conf").body().contains(""""projects": ["proj1"]"""))
      // runtime dataset delete is revived by re-declaring it in a project
      assert(send("DELETE", s"$base/datasets/pdata").statusCode() == 200)
      assert(get(s"$base/datasets").body() == "[]")
      sendBody("PUT", s"$base/conf/proj1", yaml) // re-declares pdata
      assert(get(s"$base/datasets").body() == """["pdata"]""")
      // delete unmerges
      assert(send("DELETE", s"$base/conf/proj1").statusCode() == 200)
      assert(get(s"$base/datasets").body() == "[]")
    } finally api.stop()
  }

  test("apiKey gates every route: 401 without the bearer token") {
    val api = new ApiServer(spark,
      RecipeConf.load("datasets: {}\nrecipes: {}"), apiKey = Some("s3cret")).start()
    val base = s"http://localhost:${api.actualPort}/api"
    try {
      assert(get(s"$base/datasets").statusCode() == 401)
      assert(sendBody("GET", s"$base/datasets", "",
        Seq("Authorization" -> "Bearer wrong")).statusCode() == 401)
      val ok = sendBody("GET", s"$base/datasets", "",
        Seq("Authorization" -> "Bearer s3cret"))
      assert(ok.statusCode() == 200 && ok.body() == "[]")
      assert(sendBody("GET", s"$base/jobs", "",
        Seq("X-API-Key" -> "s3cret")).statusCode() == 200)
    } finally api.stop()
  }

  test("upload store + live-chunk apply run a recipe on posted data (api.py:940-963)") {
    val conf = RecipeConf.load(
      s"""datasets:
         |  whatever: {path: $dir/unused.csv, format: csv}
         |recipes:
         |  livetrim:
         |    input: whatever
         |    steps:
         |      - to_integer: [age]
         |      - keep: {select: [name, age], where: "age > 18"}
         |""".stripMargin)
    val api = new ApiServer(spark, conf).start()
    val base = s"http://localhost:${api.actualPort}/api"
    try {
      // upload CRUD
      assert(get(s"$base/upload").body() == "[]")
      val up = sendBody("POST", s"$base/upload/people.csv", "name;age\nana;30\n")
      assert(up.statusCode() == 200 && up.body().contains("\"ok\""))
      assert(get(s"$base/upload").body() == """["people.csv"]""")
      // traversal attempt: %2F decodes to '/', the normalized path no
      // longer matches the upload route → 404, nothing stored; a weird
      // but flat name is sanitized by safeName
      assert(sendBody("POST", s"$base/upload/..%2Fevil.txt", "x").statusCode() == 404)
      sendBody("POST", s"$base/upload/we$$ird.csv", "x")
      assert(get(s"$base/upload").body() == """["people.csv","we_ird.csv"]""")
      assert(send("DELETE", s"$base/upload/people.csv").statusCode() == 200)
      assert(send("DELETE", s"$base/upload/we$$ird.csv").statusCode() == 200)
      assert(get(s"$base/upload").body() == "[]")

      // live apply: recipe runs on the POSTED chunk, not its declared
      // input (which doesn't even exist on disk)
      val live = sendBody("PUT", s"$base/recipes/livetrim/apply",
        "name;age\nana;30\nkid;7\nben;41\n")
      assert(live.statusCode() == 200)
      assert(live.body().contains(""""name":"ana"""") && live.body().contains("ben"))
      assert(!live.body().contains("kid")) // filtered by the where clause
    } finally api.stop()
  }

  test("_update upserts one doc into a parquet dataset (api.py:784-811)") {
    import spark.implicits._
    val path = s"$dir/decisions"
    Seq((1L, "pending", 0.5), (2L, "pending", 0.8))
      .toDF("_id", "decision", "score")
      .write.mode("overwrite").parquet(path)
    val conf = RecipeConf.load(
      s"datasets:\n  decisions: {path: $path, format: parquet}\nrecipes: {}")
    val api = new ApiServer(spark, conf).start()
    val base = s"http://localhost:${api.actualPort}/api"
    try {
      // ES-style {"doc": ...} envelope; _id comes from the path and is
      // cast to the table's id type (long here)
      val r = sendBody("POST", s"$base/datasets/decisions/_update/2",
        """{"doc": {"decision": "validated", "score": 0.97}}""")
      assert(r.statusCode() == 200 && r.body().contains("\"updated\""))
      val rows = spark.read.parquet(path).collect()
        .map(x => x.getAs[Long]("_id") -> x.getAs[String]("decision")).toMap
      assert(rows == Map(1L -> "pending", 2L -> "validated"))
      // new id → insert (upsert), flat body accepted too
      val ins = sendBody("POST", s"$base/datasets/decisions/_update/3",
        """{"decision": "rejected", "score": 0.1}""")
      assert(ins.statusCode() == 200)
      val all = spark.read.parquet(path)
      assert(all.count() == 3)
      assert(all.filter($"_id" === 3L).head().getAs[String]("decision") == "rejected")
      // PARTIAL body (the normal ES _update usage): posted fields
      // overwrite, every other stored column is KEPT — not nulled
      val part = sendBody("POST", s"$base/datasets/decisions/_update/1",
        """{"doc": {"decision": "validated"}}""")
      assert(part.statusCode() == 200)
      val row1 = spark.read.parquet(path).filter($"_id" === 1L).head()
      assert(row1.getAs[String]("decision") == "validated")
      assert(row1.getAs[Double]("score") == 0.5) // untouched, not NULL
      // a partial body can also ADD a column; other rows get NULL there
      val add = sendBody("POST", s"$base/datasets/decisions/_update/2",
        """{"doc": {"reviewer": "alice"}}""")
      assert(add.statusCode() == 200)
      val after = spark.read.parquet(path)
      assert(after.filter($"_id" === 2L).head().getAs[String]("reviewer") == "alice")
      assert(after.filter($"_id" === 2L).head().getAs[String]("decision") == "validated")
      assert(after.filter($"_id" === 3L).head().getAs[String]("reviewer") == null)
      // non-parquet datasets refuse, like the reference's
      // "not an elasticsearch dataset" guard
      val csvConf = RecipeConf.load(
        s"datasets:\n  c: {path: $dir/x.csv, format: csv}\nrecipes: {}")
      val api2 = new ApiServer(spark, csvConf).start()
      try assert(sendBody("POST",
        s"http://localhost:${api2.actualPort}/api/datasets/c/_update/1",
        """{"a": 1}""").statusCode() == 403)
      finally api2.stop()
    } finally api.stop()
  }

  test("OAuth authorization-code flow end-to-end against a fake provider (api.py:188-267)") {
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    // fake provider: /token exchanges any code; /userinfo answers a
    // github-shaped payload — the network the sandbox doesn't have
    val provider = HttpServer.create(new java.net.InetSocketAddress("localhost", 0), 0)
    @volatile var tokenForm = ""
    def answer(ex: HttpExchange, body: String): Unit = {
      val b = body.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(200, b.length); ex.getResponseBody.write(b); ex.close()
    }
    provider.createContext("/token", (ex: HttpExchange) => {
      tokenForm = new String(ex.getRequestBody.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      answer(ex, """{"access_token": "at-xyz", "token_type": "bearer"}""")
    })
    provider.createContext("/userinfo", (ex: HttpExchange) => {
      val auth = ex.getRequestHeaders.getFirst("Authorization")
      if (auth == "Bearer at-xyz")
        answer(ex, """{"id": "42", "login": "ada", "email": "ada@math.org"}""")
      else { ex.sendResponseHeaders(401, -1); ex.close() }
    })
    provider.start()
    val purl = s"http://localhost:${provider.getAddress.getPort}"
    val api = new ApiServer(spark, RecipeConf.load("datasets: {}\nrecipes: {}"),
      apiKey = Some("secret-key"),
      oauth = Map("fake" -> graft.api.OAuthProvider(
        id = "client-1", secret = "shh", authorizeUrl = s"$purl/auth",
        tokenUrl = s"$purl/token", userinfoUrl = s"$purl/userinfo"))).start()
    val base = s"http://localhost:${api.actualPort}/api"
    try {
      // provider list is public
      assert(get(s"$base/authorize").body().contains("\"fake\""))
      // step 1: authorize → 302 with client_id, redirect_uri, state
      val authResp = getNoRedirect(s"$base/authorize/fake")
      assert(authResp.statusCode() == 302)
      val loc = authResp.headers().firstValue("Location").get
      assert(loc.startsWith(s"$purl/auth?") && loc.contains("client_id=client-1"))
      val state = loc.split("state=")(1).split("&")(0)
      // step 2: the provider redirects the browser back with a code
      val cb = get(s"$base/callback/fake?code=the-code&state=$state")
      assert(cb.statusCode() == 200, cb.body())
      assert(cb.body().contains("\"ada\""))
      assert(tokenForm.contains("code=the-code") && tokenForm.contains("client_secret=shh"))
      val token = cb.body().split("\"token\": \"")(1).split("\"")(0)
      // the issued session bearer opens protected routes (no api key)
      val who = getAuth(s"$base/login", token)
      assert(who.statusCode() == 200 && who.body().contains("\"ada\""))
      assert(getAuth(s"$base/datasets", token).statusCode() == 200)
      // CSRF hardening on the callback: a replayed state is rejected
      // (single-use nonce), as are a missing and a forged one — a
      // provider-looking redirect cannot mint a session without the
      // unguessable state this server issued; garbage tokens stay out
      assert(get(s"$base/callback/fake?code=x&state=$state").statusCode() == 401)
      assert(get(s"$base/callback/fake?code=x").statusCode() == 401)
      assert(get(s"$base/callback/fake?code=x&state=forged-nonce").statusCode() == 401)
      assert(getAuth(s"$base/datasets", "bogus").statusCode() == 401)
      // logout invalidates the session
      assert(getAuth(s"$base/logout", token).statusCode() == 200)
      assert(getAuth(s"$base/datasets", token).statusCode() == 401)
    } finally { api.stop(); provider.stop(0) }
  }

  test("repeated recipe runs leave no cached tables behind (cache discipline)") {
    import spark.implicits._
    Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
        (3L, "something else entirely here"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/cache_in")
    val conf = RecipeConf.load(
      s"""datasets:
         |  cin:  {path: $dir/cache_in, format: parquet}
         |  cout: {path: $dir/cache_out, format: parquet}
         |recipes:
         |  pairs:
         |    input: cin
         |    steps:
         |      - near_dups: {id: doc_id, text: text, method: minhash}
         |    output: cout
         |""".stripMargin)
    spark.catalog.clearCache()
    val api = new ApiServer(spark, conf).start()
    val base = s"http://localhost:${api.actualPort}/api"
    // the request or job owns its caches and releases them before it
    // answers (or reports done), so no wait is needed
    val cacheManager = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    try {
      (1 to 3).foreach { _ =>
        assert(send("PUT", s"$base/recipes/pairs/run").statusCode() == 202)
        api.awaitJobs()
        assert(cacheManager.isEmpty, "cacheManager holds entries after an API recipe run")
      }
      val tested = send("PUT", s"$base/recipes/pairs/test")
      assert(tested.statusCode() == 200, tested.body())
      assert(tested.body().contains("jaccard"), tested.body())
      assert(cacheManager.isEmpty, "cacheManager holds entries after a /test request")
      val applied = sendBody("PUT", s"$base/recipes/pairs/apply",
        "doc_id;text\n1;alpha beta gamma delta\n2;alpha beta gamma delta\n")
      assert(applied.statusCode() == 200, applied.body())
      assert(applied.body().contains("jaccard"), applied.body())
      assert(cacheManager.isEmpty, "cacheManager holds entries after an /apply request")
    } finally api.stop()
  }

  test("overlapping requests each get their own reply") {
    val api = new ApiServer(spark,
      RecipeConf.load("datasets: {}\nrecipes: {}")).start()
    val base = s"http://localhost:${api.actualPort}/api"
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      // every route runs on one server context; each 404 echoes its own
      // path, so a reply that reached another request shows at once
      val replies = (1 to 8).map { t =>
        pool.submit(new java.util.concurrent.Callable[Seq[(String, Int, String)]] {
          def call() = (1 to 40).map { i =>
            val r = get(s"$base/nowhere/$t-$i")
            (s"$t-$i", r.statusCode(), r.body())
          }
        })
      }.flatMap(_.get().toSeq)
      val wrong = replies.filterNot { case (p, code, body) =>
        code == 404 && body.contains(s"/nowhere/$p\"") }
      assert(wrong.isEmpty, wrong.take(5).mkString("\n"))
    } finally { pool.shutdownNow(); api.stop() }
  }

  test("forwarded proto/host headers shape redirect_uri only with trustProxyHeaders") {
    def mk(trust: Boolean) = new ApiServer(spark,
      RecipeConf.load("datasets: {}\nrecipes: {}"),
      oauth = Map("fake" -> graft.api.OAuthProvider(
        id = "c", secret = "s", authorizeUrl = "http://localhost:1/auth",
        tokenUrl = "http://localhost:1/token",
        userinfoUrl = "http://localhost:1/ui")),
      trustProxyHeaders = trust).start()
    val hdrs = Seq("X-Forwarded-Proto" -> "https",
      "X-Forwarded-Host" -> "evil.example")
    val api = mk(trust = false)
    try {
      // default: client-supplied forwarding headers must NOT reach the
      // OAuth redirect_uri (open-redirect / code-theft vector)
      val loc = getHdr(s"http://localhost:${api.actualPort}/api/authorize/fake",
        hdrs: _*).headers().firstValue("Location").get
      assert(!loc.contains("evil.example"), loc)
      assert(loc.contains(java.net.URLEncoder.encode(
        s"http://localhost:${api.actualPort}/api/callback/fake", "UTF-8")), loc)
    } finally api.stop()
    val trusted = mk(trust = true)
    try {
      // behind a declared proxy the forwarded values are authoritative
      val loc = getHdr(s"http://localhost:${trusted.actualPort}/api/authorize/fake",
        hdrs: _*).headers().firstValue("Location").get
      assert(loc.contains(java.net.URLEncoder.encode(
        "https://evil.example/api/callback/fake", "UTF-8")), loc)
    } finally trusted.stop()
  }

  test("recipe yaml/status/log and dataset yaml/delete (api.py:840-935)") {
    Files.writeString(java.nio.file.Paths.get(s"$dir/logsrc.csv"), "v\n1\n2\n")
    val api = new ApiServer(spark,
      RecipeConf.load("datasets: {}\nrecipes: {}")).start()
    val base = s"http://localhost:${api.actualPort}/api"
    try {
      val yaml =
        s"""datasets:
           |  logsrc: {path: $dir/logsrc.csv, format: csv, options: {sep: ","}}
           |  logout: {path: $dir/logout, format: parquet}
           |recipes:
           |  logjob:
           |    input: logsrc
           |    steps:
           |      - to_integer: [v]
           |    output: logout
           |""".stripMargin
      sendBody("PUT", s"$base/conf/logproj", yaml)
      // yaml: the declaring project's source comes back
      assert(get(s"$base/recipes/logjob/yaml").body() == yaml)
      assert(get(s"$base/datasets/logsrc/yaml").body().contains("format: csv"))
      // status lifecycle: down → up/terminal → done; log has the lifecycle
      assert(get(s"$base/recipes/logjob/status").body().contains("\"down\""))
      send("PUT", s"$base/recipes/logjob/run")
      api.awaitJobs()
      assert(get(s"$base/recipes/logjob/status").body().contains("\"done\""))
      val log = get(s"$base/recipes/logjob/log")
      assert(log.statusCode() == 200)
      assert(log.body().contains("started") && log.body().contains("done in"))
      // dataset delete tombstones it out of the live conf
      assert(send("DELETE", s"$base/datasets/logsrc").statusCode() == 200)
      assert(!get(s"$base/datasets").body().contains("logsrc"))

      // live tail: while a (deliberately slow) job runs, the log route
      // streams SSE — and other routes stay responsive because handlers
      // run on a pool, not the dispatcher thread
      spark.udf.register("graft_test_slow",
        (x: Long) => { Thread.sleep(2000); x })
      Files.writeString(java.nio.file.Paths.get(s"$dir/slow.csv"), "v\n1\n2\n")
      sendBody("PUT", s"$base/conf/slowproj",
        s"""datasets:
           |  slowsrc: {path: $dir/slow.csv, format: csv, options: {sep: ","}}
           |  slowout: {path: $dir/slowout, format: parquet}
           |recipes:
           |  slowjob:
           |    input: slowsrc
           |    steps:
           |      - eval: {w: "graft_test_slow(cast(v as bigint))"}
           |    output: slowout
           |""".stripMargin)
      send("PUT", s"$base/recipes/slowjob/run")
      val tailFut = client.sendAsync(
        HttpRequest.newBuilder(URI.create(s"$base/recipes/slowjob/log")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      Thread.sleep(500) // tail is now open against the running job
      // other routes answer WHILE the tail holds its connection (pool
      // executor — the default dispatcher thread would deadlock here)
      assert(get(s"$base/jobs").statusCode() == 200)
      val tail = tailFut.get(60, java.util.concurrent.TimeUnit.SECONDS)
      assert(tail.headers().firstValue("Content-Type").orElse("")
        .startsWith("text/event-stream"))
      assert(tail.body().contains("data: ") && tail.body().contains("event: close"))
      api.awaitJobs()
      assert(get(s"$base/recipes/slowjob/status").body().contains("\"done\""))
    } finally api.stop()
  }

  test("the cascading takedown verb runs as an API job and every " +
      "search surface forgets the doc in one request") {
    import spark.implicits._
    import graft.sources.Sinks
    val tpl = "the quick brown fox jumps over the lazy dog again and again"
    val docIdx = s"$dir/tdapi_doc"
    val bandIdx = s"$dir/tdapi_band"
    val docs = Seq(
      (1L, tpl, Seq("quick", "brown", "fox")),
      (2L, "census records inside parquet files",
        Seq("census", "records", "parquet")))
      .toDF("id", "text", "toks")
    Sinks.indexed(docs, docIdx, Some("id"), "toks")
    graft.dedup.Dedup.writeNearDupIndex(
      docs.select("id", "text"), "id", "text", bandIdx)
    Seq(1L).toDF("id").write.mode("overwrite")
      .parquet(s"$dir/tdapi_ids")
    val conf = RecipeConf.load(
      s"""datasets:
         |  corpus: {path: $docIdx, format: index}
         |  ids: {path: $dir/tdapi_ids, format: parquet}
         |  rcpt: {path: $dir/tdapi_receipts, format: parquet}
         |  td:
         |    path: unused
         |    format: takedown
         |    options:
         |      id: id
         |      index: $docIdx
         |      neardup_index: $bandIdx
         |      receipts: $dir/tdapi_receipts
         |recipes:
         |  forget: {input: ids, steps: [], output: td}
         |""".stripMargin)
    val api = new ApiServer(spark, conf).start()
    val base = s"http://localhost:${api.actualPort}/api"
    try {
      val pre = send("POST",
        s"$base/datasets/corpus/_search?q=quick+brown&size=5")
      assert(pre.statusCode() == 200 && pre.body().contains(""""id":1"""),
        pre.body())
      // ONE recipe run tombstones the doc across BOTH artifacts
      val run = send("PUT", s"$base/recipes/forget/run")
      assert(run.statusCode() == 202, run.body())
      api.awaitJobs()
      val post = send("POST",
        s"$base/datasets/corpus/_search?q=quick+brown&size=5")
      assert(post.statusCode() == 200 &&
        !post.body().contains(""""id":1"""), post.body())
      // the surviving doc still serves — the takedown was surgical
      val other = send("POST",
        s"$base/datasets/corpus/_search?q=census&size=5")
      assert(other.body().contains(""""id":2"""), other.body())
      // the band index forgot in the same run: a fresh clone of the
      // taken-down doc is no longer vetoed
      assert(graft.dedup.Dedup.incrementalNearDupsIndexed(
          Seq((50L, tpl)).toDF("id", "text"), bandIdx, "id", "text")
        .select("kept").collect().head.getBoolean(0),
        "band index still vetoes against the taken-down doc")
      // the takedown left its compliance receipts, and they read over
      // the same HTTP surface as any dataset (r14 verdict #5)
      val rcpt = send("POST", s"$base/datasets/rcpt?size=10")
      assert(rcpt.statusCode() == 200, rcpt.body())
      assert(rcpt.body().contains(""""state":"suppressed"""") &&
        rcpt.body().contains(""""target":"neardup_index"""") &&
        rcpt.body().contains(""""target":"index"""") &&
        rcpt.body().contains(""""ids_submitted":1""") &&
        rcpt.body().contains(""""ids_matched":1"""), rcpt.body())
    } finally api.stop()
  }

  test("_search proxy scores token queries against the native index") {
    import spark.implicits._
    import graft.sources.Sinks
    val idxDir = s"$dir/idx"
    Sinks.indexed(Seq(
        (1L, "red apple pie", Seq("red", "apple", "pie")),
        (2L, "red apple tart", Seq("red", "apple", "tart")),
        (3L, "green pear pie", Seq("green", "pear", "pie")))
        .toDF("id", "text", "toks"),
      idxDir, idCol = Some("id"), analyzedCol = "toks")
    val conf = RecipeConf.load(
      s"datasets:\n  corpus: {path: $idxDir, format: index}\nrecipes: {}")
    val api = new ApiServer(spark, conf).start()
    val base = s"http://localhost:${api.actualPort}/api"
    try {
      val r = send("POST", s"$base/datasets/corpus/_search?q=red+apple&size=2")
      assert(r.statusCode() == 200)
      // docs 1 and 2 match both tokens; doc 3 matches none
      assert(r.body().contains(""""id":1""") && r.body().contains(""""id":2"""))
      assert(!r.body().contains(""""id":3"""))
      val pie = send("POST", s"$base/datasets/corpus/_search?q=pie&size=10")
      assert(pie.body().contains(""""id":3"""))
      assert(send("POST", s"$base/datasets/corpus/_search").statusCode() == 400)
      // a taken-down doc (index-sink takedown verb) neither scores nor
      // surfaces — the _search route reads through the tombstone-aware
      // shared reader
      Sinks.deleteFromIndexed(Seq(1L).toDF("id"), "id", idxDir)
      val afterDel = send("POST",
        s"$base/datasets/corpus/_search?q=red+apple&size=5")
      assert(!afterDel.body().contains(""""id":1""") &&
        afterDel.body().contains(""""id":2"""), afterDel.body())
      // a _search landing inside a purge's certificate-retraction
      // window rides it out on the patient manifest read — the
      // reader-atomicity claim, exercised over real HTTP (r14 verdict
      // #1's done-criterion at the API surface)
      val store = Sinks.store(spark, idxDir)
      val saved = store.manifest().get
      store.retract()
      val reissue = new Thread(() => {
        Thread.sleep(400)
        store.write(saved)
      })
      reissue.start()
      val during = send("POST",
        s"$base/datasets/corpus/_search?q=pie&size=10")
      reissue.join()
      assert(during.statusCode() == 200 &&
        during.body().contains(""""id":3"""),
        s"a mid-window _search did not ride out the retraction: " +
          s"${during.statusCode()} ${during.body()}")
    } finally api.stop()
  }

  test("_search stays 200-and-exact under live takedown PURGES — the " +
      "reader-atomicity claim end-to-end over HTTP (r15)") {
    import spark.implicits._
    import graft.sources.Sinks
    val idxDir = s"$dir/idxsoak"
    // 12 docs sharing "base"; each takedown shrinks the base result
    // set by exactly one id, and suppression is immediate at the
    // delete — so DURING the purge there is ONE correct answer (the
    // post-delete set) and every concurrent _search must serve it
    Sinks.indexed((1L to 12L).map(i =>
        (i, s"doc $i", Seq("base", s"tok$i"))).toDF("id", "text", "toks"),
      idxDir, idCol = Some("id"), analyzedCol = "toks")
    val conf = RecipeConf.load(
      s"datasets:\n  corpus: {path: $idxDir, format: index}\nrecipes: {}")
    val api = new ApiServer(spark, conf).start()
    val base = s"http://localhost:${api.actualPort}/api"
    def ids(body: String): Set[Long] =
      """"id":(\d+)""".r.findAllMatchIn(body).map(_.group(1).toLong).toSet
    try {
      for (i <- 1L to 8L) {
        Sinks.deleteFromIndexed(Seq(i).toDF("id"), "id", idxDir)
        val expect = ((i + 1) to 12L).toSet
        val purger = new Thread(() => {
          graft.sources.Sinks.compactIndexed(spark, idxDir); ()
        })
        purger.start()
        var n = 0
        while (purger.isAlive) {
          val r = send("POST", s"$base/datasets/corpus/_search?q=base&size=20")
          assert(r.statusCode() == 200,
            s"iteration $i: _search failed mid-purge: ${r.statusCode()} " +
              r.body())
          assert(ids(r.body()) == expect,
            s"iteration $i: mid-purge _search served ${ids(r.body())}, " +
              s"expected $expect")
          n += 1
        }
        purger.join()
        assert(n >= 1, s"iteration $i: no _search overlapped the purge")
        val after = send("POST",
          s"$base/datasets/corpus/_search?q=base&size=20")
        assert(ids(after.body()) == expect, after.body())
      }
      // the trailing grace collects on the next entry without
      // changing the served answer
      val pre = ids(send("POST",
        s"$base/datasets/corpus/_search?q=base&size=20").body())
      Sinks.compactIndexed(spark, idxDir)
      assert(Sinks.store(spark, idxDir).manifest().get.deadFiles.values.flatten.isEmpty)
      val post = ids(send("POST",
        s"$base/datasets/corpus/_search?q=base&size=20").body())
      assert(post == pre, s"grace collection changed _search: $post != $pre")
    } finally api.stop()
  }

  test("_profile returns per-column stats; exact=true flips the distinct mode") {
    import spark.implicits._
    val pDir = s"$dir/profds"
    Seq((1L, Some("a")), (2L, Some("a")), (3L, None))
      .toDF("id", "s").write.mode("overwrite").parquet(pDir)
    val conf = RecipeConf.load(
      s"datasets:\n  d: {path: $pDir, format: parquet}\nrecipes: {}")
    val api = new ApiServer(spark, conf).start()
    val base = s"http://localhost:${api.actualPort}/api"
    try {
      val r = send("POST", s"$base/datasets/d/_profile?exact=true")
      assert(r.statusCode() == 200, r.body())
      assert(r.body().contains(""""col_name":"id"""") &&
        r.body().contains(""""n_rows":3"""), r.body())
      // the mode + cost caveat ride in the response envelope
      assert(r.body().startsWith("""{"mode":"exact","note":"exact distincts plan an Expand"""),
        r.body())
      // the string column: 1 null, 1 distinct, no numeric range
      assert(r.body().contains(""""col_name":"s","dtype":"string","n_rows":3,"n_nulls":1,"n_distinct":1"""),
        r.body())
      // approx mode answers too (same shape; HLL exact at this size)
      val a = send("POST", s"$base/datasets/d/_profile")
      assert(a.statusCode() == 200 && a.body().contains(""""n_distinct":3"""))
      assert(a.body().startsWith("""{"mode":"approx","note":"n_distinct is approximate"""),
        a.body())
      // unknown dataset → not this route
      assert(send("POST", s"$base/datasets/nope/_profile").statusCode() == 404)
    } finally api.stop()
  }

  test("_knn searches vectors: brute force on plain datasets, IVF probe on ann_index") {
    import spark.implicits._
    // 2-D unit vectors at distinct angles — nearest-by-cosine is
    // nearest-by-angle, so the expected ranking is unambiguous
    val emb = (0 until 20).map { i =>
      val a = i * math.Pi / 40
      (i.toLong, Array(math.cos(a).toFloat, math.sin(a).toFloat))
    }.toDF("vid", "v")
    emb.write.mode("overwrite").parquet(s"$dir/knn-emb")
    graft.sim.Ann.writeIvfIndex(emb, "vid", "v", s"$dir/knn-idx", nlist = 4)
    val conf = RecipeConf.load(
      s"""datasets:
         |  emb: {path: $dir/knn-emb, format: parquet}
         |  idx: {path: $dir/knn-idx, format: ann_index}
         |recipes: {}
         |""".stripMargin)
    val api = new ApiServer(spark, conf).start()
    val base = s"http://localhost:${api.actualPort}/api"
    try {
      // query points exactly along vector 7's angle → top hit vid 7
      val a7 = 7 * math.Pi / 40
      val vec = f"${math.cos(a7)}%.6f,${math.sin(a7)}%.6f"
      val bf = send("POST", s"$base/datasets/emb/_knn?vector=$vec&k=3&id=vid&vec=v")
      assert(bf.statusCode() == 200, bf.body())
      assert(bf.body().startsWith("""[{"neighbor_id":7"""), bf.body())
      // exhaustive probe of the persisted index (nprobe = nlist) must
      // agree with brute force exactly
      val ivf = send("POST", s"$base/datasets/idx/_knn?vector=$vec&k=3&nprobe=4")
      assert(ivf.statusCode() == 200, ivf.body())
      assert(ivf.body() == bf.body(), s"ivf=${ivf.body()} bf=${bf.body()}")
      // method=lsh (the indexless corpus-scale path): the query IS
      // corpus vector 7, and an identical vector collides in every
      // table — its top-1 is deterministic and must agree with brute
      val lsh = send("POST",
        s"$base/datasets/emb/_knn?vector=$vec&k=1&id=vid&vec=v&method=lsh")
      assert(lsh.statusCode() == 200, lsh.body())
      assert(lsh.body().startsWith("""[{"neighbor_id":7"""), lsh.body())
      // a typo'd method is a 400 client fault, not a 500
      assert(send("POST",
        s"$base/datasets/emb/_knn?vector=$vec&k=1&id=vid&vec=v&method=cosine")
        .statusCode() == 400)
      // an explicit method on an ann_index dataset is refused, not
      // silently ignored in favour of the IVF probe
      assert(send("POST",
        s"$base/datasets/idx/_knn?vector=$vec&k=1&method=lsh")
        .statusCode() == 400)
      // a PQ-layout index dispatches by its manifest (float probe
      // would refuse the layout → a 500): exhaustive probe returns
      // hits ranked by the ADC metric (d2pq column, top hit still 7 —
      // the identical vector shares every code, the ADC floor)
      graft.sim.Ann.writeIvfIndex(emb, "vid", "v", s"$dir/knn-idx-pq",
        nlist = 4, layout = graft.sim.Ann.IvfLayout.Pq(2, 8))
      val confPq = RecipeConf.load(
        s"""datasets:
           |  idxpq: {path: $dir/knn-idx-pq, format: ann_index}
           |recipes: {}
           |""".stripMargin)
      val apiPq = new ApiServer(spark, confPq).start()
      try {
        val pq = send("POST",
          s"http://localhost:${apiPq.actualPort}/api/datasets/idxpq/_knn" +
            s"?vector=$vec&k=3&nprobe=4")
        assert(pq.statusCode() == 200, pq.body())
        assert(pq.body().startsWith("""[{"neighbor_id":7"""), pq.body())
        assert(pq.body().contains("d2pq"), pq.body())
      } finally apiPq.stop()
      // guards: missing/garbled vector; brute force without columns named
      assert(send("POST", s"$base/datasets/emb/_knn?k=3&id=vid&vec=v").statusCode() == 400)
      assert(send("POST", s"$base/datasets/emb/_knn?vector=a,b&id=vid&vec=v").statusCode() == 400)
      assert(send("POST", s"$base/datasets/emb/_knn?vector=$vec&k=3").statusCode() == 400)
      // knob typos are 400s on EVERY knob-bearing route, not 500 server
      // faults (the shared intKnob policy)
      assert(send("POST", s"$base/datasets/emb/_knn?vector=$vec&k=abc&id=vid&vec=v")
        .statusCode() == 400)
      assert(send("POST", s"$base/datasets/emb?size=abc").statusCode() == 400)
      assert(send("POST", s"$base/datasets/emb?size=0").statusCode() == 400)
      assert(send("POST", s"$base/datasets/emb?seed=xyz").statusCode() == 400)
    } finally api.stop()
  }

  test("_knn probes an out-of-band-rebuilt index fresh; a torn rebuild is a loud fault") {
    import spark.implicits._
    val emb = (0 until 20).map { i =>
      val a = i * math.Pi / 40
      (i.toLong, Array(math.cos(a).toFloat, math.sin(a).toFloat))
    }.toDF("vid", "v")
    graft.sim.Ann.writeIvfIndex(emb, "vid", "v", s"$dir/knn-idx-oob", nlist = 4)
    val conf = RecipeConf.load(
      s"datasets:\n  idx: {path: $dir/knn-idx-oob, format: ann_index}\nrecipes: {}")
    val api = new ApiServer(spark, conf).start()
    val base = s"http://localhost:${api.actualPort}/api"
    try {
      val a7 = 7 * math.Pi / 40
      val vec = f"${math.cos(a7)}%.6f,${math.sin(a7)}%.6f"
      val before = send("POST", s"$base/datasets/idx/_knn?vector=$vec&k=3&nprobe=4")
      assert(before.statusCode() == 200, before.body())
      assert(before.body().startsWith("""[{"neighbor_id":7"""), before.body())
      // out-of-band rebuild UNDER the live server with a different
      // layout (nlist 2): the long-lived JVM must probe the NEW index —
      // exhaustive nprobe=2 over the rebuilt cells still ranks vid 7
      // first, so a stale-cell probe (or a cached old layout) cannot
      // produce this body
      graft.sim.Ann.writeIvfIndex(emb, "vid", "v", s"$dir/knn-idx-oob", nlist = 2)
      val after = send("POST", s"$base/datasets/idx/_knn?vector=$vec&k=3&nprobe=2")
      assert(after.statusCode() == 200, after.body())
      assert(after.body().startsWith("""[{"neighbor_id":7"""), after.body())
      // a rebuild that died before the manifest (torn build) must fail
      // the probe loudly, never serve silently from half-written state
      assert(new java.io.File(s"$dir/knn-idx-oob/_MANIFEST.json").delete())
      val torn = send("POST", s"$base/datasets/idx/_knn?vector=$vec&k=3&nprobe=2")
      assert(torn.statusCode() != 200, torn.body())
    } finally api.stop()
  }

  test("recipe test/apply: a size typo is a 400, not a 500") {
    import spark.implicits._
    Seq((1L, "a")).toDF("id", "t").write.mode("overwrite")
      .parquet(s"$dir/knob-in")
    val conf = RecipeConf.load(
      s"""datasets:
         |  src: {path: $dir/knob-in, format: parquet}
         |recipes:
         |  r: {input: src, steps: [{keep: [id]}]}
         |""".stripMargin)
    val api = new ApiServer(spark, conf).start()
    val base = s"http://localhost:${api.actualPort}/api"
    try {
      assert(send("PUT", s"$base/recipes/r/test?size=abc").statusCode() == 400)
      assert(send("PUT", s"$base/recipes/r/test?size=-3").statusCode() == 400)
      assert(sendBody("PUT", s"$base/recipes/r/apply?size=abc", "id\n1")
        .statusCode() == 400)
      // and the happy path still answers rows
      assert(send("PUT", s"$base/recipes/r/test?size=5").statusCode() == 200)
    } finally api.stop()
  }
}
