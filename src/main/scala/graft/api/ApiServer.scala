package graft.api

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent.TrieMap
import scala.concurrent.{ExecutionContext, Future}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession
import graft.conf.RecipeConf
import graft.conf.RecipeConf.ProjectConf
import graft.engine.CacheScope

/** REST layer mirroring the reference's API surface
  * (/root/reference/code/api.py) over the conf-driven engine:
  *
  *   GET  /api/datasets                 — list datasets (api.py:542-576)
  *   POST /api/datasets/{name}?size=n   — sample rows (api.py:578-623)
  *   GET  /api/recipes                  — list recipes (api.py:814-826)
  *   PUT  /api/recipes/{name}/run       — async job (api.py:1000-1015)
  *   PUT  /api/recipes/{name}/test      — one test chunk, JSON rows
  *                                        (api.py:975-999; default 30,
  *                                        conf/conf.yml:23)
  *   GET  /api/jobs                     — running/finished jobs
  *                                        (api.py:1040-1074)
  *   GET/POST/DELETE /api/upload[/{f}]  — uploaded-file store
  *                                        (api.py:315-368)
  *   PUT  /api/recipes/{name}/apply     — run the recipe on the POSTED
  *                                        chunk instead of its declared
  *                                        input (live test, api.py:940-963)
  *   POST /api/datasets/{ds}/_knn      — vector top-k: IVF-index probe
  *                                        for ann_index datasets, exact
  *                                        brute-force cosine otherwise
  *   POST /api/datasets/{ds}/_update/{id} — single-doc upsert, the
  *                                        validation frontend's write
  *                                        path (api.py:784-811)
  *   GET  /api/conf                     — configured elements (api.py:288-311)
  *   GET/PUT/DELETE /api/conf/{project} — project YAML CRUD; a PUT body is
  *                                        parsed and its datasets/recipes
  *                                        merged into the live conf
  *                                        (api.py:371-530)
  *
  * Auth: the reference gates every route behind login_required with
  * users/roles in a db (api.py:151-287, security.py). This engine keeps
  * the same always-authenticated model via a single static bearer token:
  * pass `apiKey=Some(k)` and every request must carry `Authorization:
  * Bearer k` or `X-API-Key: k`, else 401. `apiKey=None` = open (dev
  * mode, like the reference's `no_auth` deployments).
  *
  * Jobs are Futures over a Spark action (the reference forks OS
  * processes; Spark's scheduler replaces that, recipes.py:2489-2513).
  * Built on the JDK HttpServer — zero extra dependencies.
  */
/** OAuth2 provider endpoints + client credentials (api.py:236-267,
  * oauth.py). One GENERIC authorization-code shape instead of the
  * reference's per-provider subclasses — facebook/google/github all fit
  * it; the URLs come from configuration. `userField` names the userinfo
  * JSON field used as the username (github: "login"; google: "email"). */
case class OAuthProvider(id: String, secret: String,
    authorizeUrl: String, tokenUrl: String, userinfoUrl: String,
    scope: String = "email", userField: String = "login")

class ApiServer(spark: SparkSession, conf: ProjectConf, port: Int = 0,
    apiKey: Option[String] = None,
    uploadDir: Option[String] = None,
    oauth: Map[String, OAuthProvider] = Map.empty,
    frontendUrl: Option[String] = None,
    // honor X-Forwarded-Proto/-Host when building the OAuth redirect_uri.
    // Off by default: the headers are client-supplied, so honoring them
    // without a proxy in front lets any caller steer the redirect_uri to
    // an arbitrary host/scheme. Set true only behind a TLS-terminating
    // proxy that overwrites them.
    trustProxyHeaders: Boolean = false) {

  private implicit val ec: ExecutionContext = ExecutionContext.global
  private val jobSeq = new AtomicLong(0)
  private val jobs = TrieMap.empty[Long, String] // id → status
  private val jobRecipes = TrieMap.empty[Long, String] // id → recipe
  // per-recipe log buffer (latest run wins) — the reference's log files
  // + SSE tail (api.py:880-935); grows only while a run is live
  private val logs = TrieMap.empty[String, StringBuilder]
  // datasets deleted at runtime (DELETE /datasets/{n}) — overlay tombstones
  private val deletedDatasets = TrieMap.empty[String, Unit]

  private def logLine(recipe: String, msg: String): Unit = {
    val sb = logs.getOrElseUpdate(recipe, new StringBuilder)
    sb.synchronized { sb.append(msg).append('\n') }
  }

  private lazy val uploads: java.nio.file.Path = uploadDir
    .map(d => java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d)))
    .getOrElse(java.nio.file.Files.createTempDirectory("graft-upload"))

  // path-traversal guard for upload names (secure_filename analogue);
  // all-dot names ('.', '..') would resolve to the store itself or its
  // parent — rejected outright
  private def safeName(f: String): String = {
    val s = f.replaceAll("[^A-Za-z0-9._-]", "_")
    if (s.isEmpty || s.forall(_ == '.')) "_" else s
  }

  // project name → (store sequence, raw yaml, parsed conf); the live
  // conf is the ctor conf overlaid with every stored project in STORE
  // ORDER (TrieMap iteration is hash-ordered — folding it raw would
  // make "last write wins" arbitrary when two projects declare the
  // same name)
  private val projectSeq = new AtomicLong(0)
  private val projects = TrieMap.empty[String, (Long, String, ProjectConf)]
  private def projectsOrdered: Seq[(String, String, ProjectConf)] =
    projects.toSeq.sortBy(_._2._1).map { case (n, (_, y, p)) => (n, y, p) }
  private def current: ProjectConf = {
    val merged = projectsOrdered.foldLeft(conf) {
      case (acc, (_, _, p)) =>
        ProjectConf(acc.datasets ++ p.datasets, acc.recipes ++ p.recipes)
    }
    ProjectConf(merged.datasets -- deletedDatasets.keys, merged.recipes)
  }

  private val server = HttpServer.create(new InetSocketAddress(port), 0)

  def actualPort: Int = server.getAddress.getPort

  /** Sets the request's reply; [[handle]] sends it once the request's
    * cache scope has closed. */
  private def respond(code: Int, body: String,
      ctype: String = "application/json"): Unit =
    reply.set((code, body, ctype))
  // the reply of the request on this handler thread. Not an exchange
  // attribute: the JDK keeps those on the shared "/api" context, so
  // overlapping requests would read each other's replies
  private val reply = new ThreadLocal[(Int, String, String)]

  private def jsonRows(df: org.apache.spark.sql.DataFrame, limit: Int): String =
    "[" + df.limit(limit).toJSON.collect().mkString(",") + "]"

  private def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** Positive-integer query knob; None = client typo, and the caller
    * answers 400 — a bad knob is the client's fault, never a 500 server
    * fault (the same policy every knob-bearing route follows). */
  private def intKnob(params: Map[String, String], name: String,
      default: Int): Option[Int] =
    params.get(name).fold(Option(default))(_.toIntOption).filter(_ >= 1)

  // constant-time compare: plain String equality short-circuits on the
  // first differing byte and leaks key-prefix length via timing
  private def tokenEq(expected: String, presented: String): Boolean =
    java.security.MessageDigest.isEqual(
      expected.getBytes("UTF-8"), presented.getBytes("UTF-8"))

  // OAuth session store: issued bearer token → username. In-memory like
  // the reference's flask-login session (a restart logs everyone out).
  private val sessions = TrieMap.empty[String, String]
  // outstanding state nonces for the authorization-code round trip.
  // Each carries its creation time: the authorize route is (by protocol)
  // unauthenticated, so without an expiry an anonymous loop of
  // GET /authorize/{p} grows the map until the server OOMs.
  private val oauthStates = TrieMap.empty[String, (String, Long)] // state → (provider, createdMs)
  private val oauthStateTtlMs = 10 * 60 * 1000L
  private def newToken(): String = {
    val b = new Array[Byte](24)
    new java.security.SecureRandom().nextBytes(b)
    java.util.Base64.getUrlEncoder.withoutPadding.encodeToString(b)
  }

  private def bearerOf(ex: HttpExchange): Option[String] =
    Option(ex.getRequestHeaders.getFirst("Authorization"))
      .filter(_.startsWith("Bearer ")).map(_.stripPrefix("Bearer "))

  private def sessionUser(ex: HttpExchange): Option[String] =
    bearerOf(ex).flatMap(sessions.get)

  private def authorized(ex: HttpExchange): Boolean = apiKey.forall { k =>
    val h = ex.getRequestHeaders
    Option(h.getFirst("Authorization")).exists(v => tokenEq(s"Bearer $k", v)) ||
      Option(h.getFirst("X-API-Key")).exists(v => tokenEq(k, v)) ||
      sessionUser(ex).isDefined // an OAuth login is as good as the key
  }

  /** Minimal JSON string-field extraction for the two tiny OAuth
    * payloads (token + userinfo) — full parsing would drag a Spark job
    * into the login path. */
  private def jsonField(body: String, field: String): Option[String] = {
    val m = java.util.regex.Pattern
      .compile("\"" + java.util.regex.Pattern.quote(field) +
        "\"\\s*:\\s*\"((?:[^\"\\\\]|\\\\.)*)\"")
      .matcher(body)
    if (m.find()) Some(m.group(1).replace("\\\"", "\"").replace("\\\\", "\\"))
    else {
      // numeric values: GitHub/Facebook userinfo carry `"id": 12345`
      // unquoted — without this branch the id fallback can never match
      val n = java.util.regex.Pattern
        .compile("\"" + java.util.regex.Pattern.quote(field) +
          "\"\\s*:\\s*(-?[0-9]+(?:\\.[0-9]+)?)")
        .matcher(body)
      if (n.find()) Some(n.group(1)) else None
    }
  }

  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")

  private def callbackUrl(ex: HttpExchange, provider: String): String = {
    // behind a TLS-terminating proxy the registered callback is https —
    // honor the standard forwarding headers so the redirect_uri sent to
    // the provider (and echoed in the token exchange) matches it. Gated
    // on trustProxyHeaders: forwarded headers are client-controlled.
    val fwd = (h: String) =>
      if (trustProxyHeaders) Option(ex.getRequestHeaders.getFirst(h)) else None
    val proto = fwd("X-Forwarded-Proto").getOrElse("http")
    val host = fwd("X-Forwarded-Host")
      .orElse(Option(ex.getRequestHeaders.getFirst("Host")))
      .getOrElse(s"localhost:$actualPort")
    s"$proto://$host/api/callback/$provider"
  }

  /** The authorization-code callback (api.py:250-267, oauth.py):
    * validate state, exchange the code at the provider's token URL
    * (form-encoded POST, JSON answer), fetch userinfo with the access
    * token, then issue a server-side session bearer. With a frontend
    * configured, 302 back to it (the reference's redirect); otherwise
    * answer JSON so API clients get the token directly. */
  private def handleOAuthCallback(ex: HttpExchange, provider: String,
      params: Map[String, String]): Unit = {
    import java.net.http.{HttpClient, HttpRequest, HttpResponse}
    val pr = oauth(provider)
    val stateOk = params.get("state")
      .exists(s => oauthStates.remove(s).exists { case (p, t) =>
        p == provider && System.currentTimeMillis() - t <= oauthStateTtlMs })
    if (params.get("code").isEmpty || !stateOk) {
      respond(401, """{"error": "oauth: missing code or bad state"}""")
      return
    }
    val http = HttpClient.newHttpClient()
    val form = Seq(
      "code" -> params("code"), "grant_type" -> "authorization_code",
      "client_id" -> pr.id, "client_secret" -> pr.secret,
      "redirect_uri" -> callbackUrl(ex, provider))
      .map { case (k, v) => s"$k=${enc(v)}" }.mkString("&")
    val tok = http.send(HttpRequest.newBuilder(java.net.URI.create(pr.tokenUrl))
        .header("Content-Type", "application/x-www-form-urlencoded")
        .header("Accept", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(form)).build(),
      HttpResponse.BodyHandlers.ofString())
    jsonField(tok.body(), "access_token") match {
      case None => respond(401, """{"error": "oauth: no access_token"}""")
      case Some(at) =>
        val ui = http.send(HttpRequest.newBuilder(java.net.URI.create(pr.userinfoUrl))
            .header("Authorization", s"Bearer $at")
            .header("Accept", "application/json").GET().build(),
          HttpResponse.BodyHandlers.ofString())
        val user = jsonField(ui.body(), pr.userField)
          .orElse(jsonField(ui.body(), "email"))
          .orElse(jsonField(ui.body(), "id"))
        user match {
          case None => respond(401, """{"error": "oauth: no user in userinfo"}""")
          case Some(u) =>
            val session = newToken()
            sessions.put(session, u)
            frontendUrl match {
              case Some(f) =>
                ex.getResponseHeaders.set("Location", f)
                ex.getResponseHeaders.add("Set-Cookie",
                  s"graft_token=$session; Path=/; HttpOnly")
                respond(302, s"""{"user": ${q(u)}, "token": ${q(session)}}""")
              case None =>
                respond(200, s"""{"user": ${q(u)}, "token": ${q(session)}}""")
            }
        }
    }
  }

  /** One request in one [[CacheScope]]; the reply goes out after it
    * closes, so a client holding the response finds the request's
    * operator caches released. */
  private def handle(ex: HttpExchange): Unit = try {
    CacheScope.run(route(ex))
    reply.get match {
      case null => // the SSE tail wrote and closed its own stream
      case (code, body, ctype) =>
        val bytes = body.getBytes(StandardCharsets.UTF_8)
        ex.getResponseHeaders.set("Content-Type", ctype)
        ex.sendResponseHeaders(code, bytes.length)
        ex.getResponseBody.write(bytes)
        ex.close()
    }
  } finally reply.remove()

  private def route(ex: HttpExchange): Unit = try {
    val path = ex.getRequestURI.getPath.stripSuffix("/")
    val method = ex.getRequestMethod
    // split the RAW query on &/= BEFORE decoding, then decode each part
    // exactly once — getQuery pre-decodes, so an encoded '&' in a value
    // (q=a%26b) would split into bogus params, and the old second decode
    // in _search threw on legitimate '%' values
    val query = Option(ex.getRequestURI.getRawQuery).getOrElse("")
    val params = query.split("&").filter(_.contains("="))
      .map { p =>
        val Array(k, v) = p.split("=", 2)
        java.net.URLDecoder.decode(k, "UTF-8") ->
          java.net.URLDecoder.decode(v, "UTF-8")
      }.toMap
    val cfg = current

    // ---- auth acquisition routes, reachable WITHOUT credentials
    // (api.py:188-267): provider list, the OAuth authorization-code
    // round trip, current-user probe, logout
    (method, path.split("/").drop(2).toList) match {
      case ("GET", List("authorize")) =>
        respond(200, s"""{"providers": ${
          oauth.keys.toSeq.sorted.map(q).mkString("[", ",", "]")}}""")
        return
      case ("GET", List("authorize", p)) if oauth.contains(p) =>
        val pr = oauth(p)
        val state = newToken()
        // prune expired nonces on every issue — keeps the map bounded by
        // the (rate-limited-by-TTL) number of live login attempts
        val nowMs = System.currentTimeMillis()
        oauthStates.filterInPlace { case (_, (_, t)) => nowMs - t <= oauthStateTtlMs }
        oauthStates.put(state, (p, nowMs))
        val loc = s"${pr.authorizeUrl}?client_id=${enc(pr.id)}" +
          s"&redirect_uri=${enc(callbackUrl(ex, p))}" +
          s"&response_type=code&scope=${enc(pr.scope)}&state=$state"
        ex.getResponseHeaders.set("Location", loc)
        respond(302, s"""{"redirect": ${q(loc)}}""")
        return
      case ("GET", List("callback", p)) if oauth.contains(p) =>
        handleOAuthCallback(ex, p, params)
        return
      case ("GET", List("login")) =>
        sessionUser(ex) match {
          case Some(u) => respond(200, s"""{"user": ${q(u)}}""")
          case None if authorized(ex) => // static key, or open dev mode
            respond(200, """{"user": "admin"}""")
          case None => respond(401, """{"error": "unauthorized"}""")
        }
        return
      case (_, List("logout")) =>
        bearerOf(ex).foreach(sessions.remove)
        respond(200, """{"logout": "ok"}""")
        return
      case _ => ()
    }

    if (!authorized(ex)) {
      respond(401, """{"error": "unauthorized"}""")
      return
    }

    (method, path.split("/").drop(2).toList) match {
      case ("GET", List("datasets")) =>
        respond(200, cfg.datasets.keys.toSeq.sorted
          .map(q).mkString("[", ",", "]"))

      case ("GET", List("recipes")) =>
        respond(200, cfg.recipes.keys.toSeq.sorted
          .map(q).mkString("[", ",", "]"))

      case ("GET", List("conf")) =>
        respond(200,
          s"""{"projects": ${projects.keys.toSeq.sorted.map(q).mkString("[", ",", "]")}, """ +
            s""""datasets": ${cfg.datasets.keys.toSeq.sorted.map(q).mkString("[", ",", "]")}, """ +
            s""""recipes": ${cfg.recipes.keys.toSeq.sorted.map(q).mkString("[", ",", "]")}}""")

      case ("GET", List("conf", project)) if projects.contains(project) =>
        respond(200, projects(project)._2, ctype = "application/yaml")

      case ("PUT" | "POST", List("conf", project)) =>
        val yaml = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        val parsed = RecipeConf.load(yaml) // reject bad yaml before storing
        projects(project) = (projectSeq.incrementAndGet(), yaml, parsed)
        // re-declaring a runtime-deleted dataset revives it — a
        // tombstone records a delete, not a permanent ban
        parsed.datasets.keys.foreach(deletedDatasets.remove)
        respond(200, s"""{"project": ${q(project)}, """ +
          s""""datasets": ${parsed.datasets.size}, "recipes": ${parsed.recipes.size}}""")

      case ("DELETE", List("conf", project)) if projects.contains(project) =>
        projects.remove(project)
        respond(200, s"""{"deleted": ${q(project)}}""")

      case ("POST", List("datasets", name)) if cfg.datasets.contains(name) =>
        val sizeOpt = intKnob(params, "size", 500) // connector.sample default
        val seedOpt = params.get("seed").fold(Option(42L))(_.toLongOption)
        if (sizeOpt.isEmpty || seedOpt.isEmpty)
          respond(400,
            """{"error": "size must be a positive integer, seed an integer"}""")
        else {
          val df0 = RecipeConf.read(spark, cfg.datasets(name))
          // random=true mirrors the reference's function_score
          // random_score sampling wrapper (api.py:596-599)
          val df = if (params.get("random").contains("true"))
            df0.orderBy(org.apache.spark.sql.functions.rand(seedOpt.get))
          else df0
          respond(200, jsonRows(df, sizeOpt.get))
        }

      // per-column profile — the aggregate companion of the sample
      // endpoint (row/null/distinct counts + numeric ranges feed the
      // same dataset-inspection UI the sample rows do). Distincts are
      // approx (HLL) unless exact=true: a profile click on a corpus-
      // sized dataset must not plan an Expand over every column.
      case ("POST", List("datasets", name, "_profile"))
          if cfg.datasets.contains(name) =>
        val exact = params.get("exact").contains("true")
        val prof = graft.sources.Profile.profile(
          RecipeConf.read(spark, cfg.datasets(name)), exact)
        // mode + cost caveat ride IN the response (SCALE.md's Expand
        // curve, surfaced where the API consumer decides): exact mode
        // plans an Expand that replicates every row per profiled
        // column, so its cost multiplies with column count — the
        // wrapper keeps `rows` as the same per-column objects
        val note =
          if (exact) "exact distincts plan an Expand (rows x columns replication); cost grows with column count - use the approx default on large datasets"
          else "n_distinct is approximate (HLL++, ~2% typical error); pass exact=true for exact distincts on small datasets"
        respond(200, s"""{"mode":${q(if (exact) "exact" else "approx")},""" +
          s""""note":${q(note)},"rows":${jsonRows(prof, 1000)}}""") // one row per input column

      // search proxy over a native index dataset (docs + postings,
      // Sinks.indexed) — the ES _search analogue (api.py:750-781):
      // IDF-scored token query, top-k docs back as JSON
      case ("POST", List("datasets", name, "_search"))
          if cfg.datasets.get(name).exists(_.format == "index") =>
        import org.apache.spark.sql.functions._
        val ds = cfg.datasets(name)
        val sizeOpt = intKnob(params, "size", 10)
        // params are already decoded exactly once at parse time; '+' in
        // a raw query string means space
        val toks = params.getOrElse("q", "").replace('+', ' ')
          .split("\\s+").filter(_.nonEmpty).toSeq
        if (sizeOpt.isEmpty)
          respond(400, """{"error": "size must be a positive integer"}""")
        else if (toks.isEmpty) respond(400, """{"error": "q required"}""")
        else {
          // tombstone-aware reads (Sinks.deleteFromIndexed): a
          // taken-down doc neither scores nor surfaces. ONE version
          // bracket for both tables — separate opens could straddle
          // an append and match a posting whose doc fetch misses
          val Seq(postings, docs) = graft.sources.Sources.indexedTables(
            spark, ds.path, Seq("postings", "docs"))
          // corpus size rides the plan (no separate eager count job)
          val n = broadcast(docs.agg(count(lit(1)).cast("double").as("n")))
          // IDF over the QUERY tokens only — each token's df is counted
          // from its own postings rows, so filtering first gives the
          // identical weights without aggregating (and broadcasting) the
          // entire vocabulary on every request
          val qPostings = postings.filter(col("token").isin(toks: _*))
          val idf = qPostings.groupBy("token").agg(count(lit(1)).as("df"))
            .crossJoin(n)
            .withColumn("w", log((col("n") + 1) / (col("df") + 1)) + 1)
          val hits = qPostings
            .join(broadcast(idf), Seq("token"))
            .groupBy("_id").agg(round(sum("w"), 4).as("_score"))
            .orderBy(col("_score").desc, col("_id"))
            .limit(sizeOpt.get)
            .join(docs, Seq("_id"))
          respond(200, jsonRows(hits.orderBy(col("_score").desc, col("_id")), sizeOpt.get))
        }

      // vector-search proxy — the ANN counterpart of _search for the
      // validation frontend. An `ann_index` dataset probes its persisted
      // IVF index (broadcast centroids, partition-pruned cell reads —
      // the 100-TB shape; float / SQ8 / PQ layouts dispatch by the
      // index's own manifest); any other dataset scores
      // exact brute-force cosine over id/vec columns named in the
      // request (correct at any size, and the right plan for corpora
      // small enough that an index would not pay back its probe setup).
      //   POST /datasets/{n}/_knn?vector=0.1,0.2,...&k=10[&nprobe=4]
      //   POST /datasets/{n}/_knn?vector=...&id=doc_id&vec=embedding
      //     [&method=brute|lsh]  (lsh = multi-table hyperplane buckets,
      //     the corpus-scale path when no IVF index is persisted)
      case ("POST", List("datasets", name, "_knn"))
          if cfg.datasets.contains(name) =>
        import spark.implicits._
        val ds = cfg.datasets(name)
        // same 400-with-message treatment as a bad vector — a client
        // typo in a knob must not surface as a 500 server fault
        val kOpt = intKnob(params, "k", 10)
        val nprobeOpt = intKnob(params, "nprobe", 4)
        val vec = scala.util.Try(params.getOrElse("vector", "")
          .split(",").map(_.trim).filter(_.nonEmpty).map(_.toFloat))
          .getOrElse(Array.empty[Float])
        if (vec.isEmpty)
          respond(400,
            """{"error": "vector required (comma-separated floats)"}""")
        else if (kOpt.isEmpty || nprobeOpt.isEmpty)
          respond(400,
            """{"error": "k and nprobe must be positive integers"}""")
        else if (!Seq("brute", "lsh").contains(
            params.getOrElse("method", "brute")))
          // same 400 treatment: a typo'd knob is a client fault
          respond(400, """{"error": "unknown method (brute | lsh)"}""")
        else if (ds.format == "ann_index" && params.contains("method"))
          // an ann_index probe IS the IVF path — silently ignoring an
          // explicit method request would hand back results the client
          // did not ask for
          respond(400,
            """{"error": "method applies to plain datasets; an """ +
              """ann_index dataset always probes its IVF index"}""")
        else {
          val k = kOpt.get
          val queries = Seq((0L, vec)).toDF("query_id", "__q")
          val hits = (ds.format, params.get("id"), params.get("vec")) match {
            case ("ann_index", _, _) =>
              // dispatch on the index's OWN layout (manifest quant) via
              // the shared Ann.ivfIndexTopKAuto — the manifest is the
              // authority; routing by anything client-side would turn a
              // stale flag into a 500. Scores keep each layout's native
              // metric column (cosine `score` / integer `d2q` /
              // `d2pq`) — renaming them would hide which metric ranked
              // the hits.
              Some(graft.sim.Ann.ivfIndexTopKAuto(spark, ds.path,
                queries, "query_id", "__q", k,
                nprobe = nprobeOpt.get, excludeSelf = false))
            // method=lsh mirrors the YAML ann_topk step's other scale
            // path (multi-table hyperplane buckets); default stays
            // exact brute force
            case (_, Some(idCol), Some(vecCol))
                if params.get("method").contains("lsh") =>
              Some(graft.sim.Ann.lshTopK(queries,
                RecipeConf.read(spark, ds), "query_id", "__q",
                idCol, vecCol, k, excludeSelf = false))
            case (_, Some(idCol), Some(vecCol)) =>
              Some(graft.sim.Ann.bruteForceTopK(queries,
                RecipeConf.read(spark, ds), "query_id", "__q",
                idCol, vecCol, k, excludeSelf = false))
            case _ => None
          }
          hits match {
            case Some(h) =>
              // each layout ranks under its own metric column (cosine
              // `score` / integer `d2q` / `d2pq`) — keep whichever the
              // probe produced; renaming would hide the metric
              val metric = h.columns
                .find(c => c == "score" || c == "d2q" || c == "d2pq")
                .getOrElse("score")
              respond(200, jsonRows(
                h.select("neighbor_id", metric, "rank").orderBy("rank"), k))
            case None => respond(400,
              """{"error": "id and vec column params required unless """ +
                """the dataset is an ann_index"}""")
          }
        }

      case ("PUT", List("recipes", name, "test")) if cfg.recipes.contains(name) =>
        intKnob(params, "size", 30) match { // test_chunk_size default
          case None => respond(400,
            """{"error": "size must be a positive integer"}""")
          case Some(n) =>
            val df = RecipeConf.run(spark, cfg, name, testLimit = Some(n))
            respond(200, jsonRows(df, n))
        }

      case ("PUT", List("recipes", name, "run")) if cfg.recipes.contains(name) =>
        val id = jobSeq.incrementAndGet()
        jobs(id) = "running"
        jobRecipes(id) = name
        // bounded job history: ids are monotonic, retain the newest 1000
        // (a scheduler PUTting /run every minute would otherwise grow the
        // maps without limit for the server's whole life). Jobs still
        // RUNNING are exempt — pruning one mid-run would break its
        // status endpoint and orphan the Future's final status write.
        val cutoff = id - 1000
        if (cutoff > 0) jobs.keys
          .filter(k => k <= cutoff && !jobs.get(k).contains("running"))
          // jobRecipes goes FIRST: the status lookup walks jobRecipes →
          // jobs, so a half-pruned id should vanish from the recipe
          // index rather than resolve to a fabricated terminal status
          .foreach { k => jobRecipes.remove(k); jobs.remove(k) }
        // reset the log IN PLACE: a live SSE tail holds a reference to
        // this builder — swapping in a fresh one would leave the tail
        // streaming a dead buffer (the tail detects the shrink and
        // resyncs from offset 0)
        val sb = logs.getOrElseUpdate(name, new StringBuilder)
        sb.synchronized(sb.setLength(0))
        logLine(name, s"job $id: recipe $name started")
        Future {
          val t0 = System.nanoTime()
          // log BEFORE flipping status: readers treat not-running as
          // "the log is complete"
          try {
            CacheScope.run(RecipeConf.run(spark, cfg, name))
            logLine(name, f"job $id: done in ${(System.nanoTime() - t0) / 1e9}%.2f s")
            jobs(id) = "done"
          } catch {
            case e: Throwable =>
              logLine(name, s"job $id: failed: ${e.getMessage}")
              jobs(id) = s"failed: ${e.getMessage}"
          }
        }
        respond(202, s"""{"job": $id, "recipe": ${q(name)}}""")

      // ---- recipe introspection: yaml / status / log with SSE tail
      // (api.py:840-935)
      case ("GET", List("recipes", name, "yaml")) if cfg.recipes.contains(name) =>
        // the LAST-stored project declaring the recipe — the one whose
        // definition the live conf actually executes; ctor-conf recipes
        // have no stored source
        projectsOrdered.reverse.collectFirst {
          case (_, yaml, p) if p.recipes.contains(name) => yaml
        } match {
          case Some(y) => respond(200, y, ctype = "text/plain")
          case None => respond(404, """{"error": "no stored yaml for recipe"}""")
        }

      case ("GET", List("recipes", name, "status")) if cfg.recipes.contains(name) =>
        val st = jobRecipes.toSeq.filter(_._2 == name).map(_._1).sorted.lastOption
          .map(id => jobs.get(id) match {
            // the prune removes the two maps non-atomically — an id read
            // from jobRecipes can be gone from jobs for a moment. The
            // pruned job's terminal status could have been "failed: …",
            // so fabricating "done" here would briefly report a failure
            // as success; answer neutrally instead
            case Some("running") => "up"
            case Some(st) => st
            case None => "unknown"
          })
          .getOrElse("down")
        respond(200, s"""{"recipe": ${q(name)}, "status": ${q(st)}}""")

      case ("GET", List("recipes", name, "log")) if cfg.recipes.contains(name) =>
        val running = jobRecipes.toSeq.filter(_._2 == name).map(_._1)
          .exists(id => jobs.get(id).contains("running"))
        val buf = logs.get(name)
        if (!running) // finished (or never ran): full log as plain text
          respond(200, buf.map(b => b.synchronized(b.toString)).getOrElse(""),
            ctype = "text/plain")
        else {
          // SSE tail while the job is live: stream what's there, poll for
          // more, close after 5 s of silence (reference's tailLog)
          ex.getResponseHeaders.set("Content-Type", "text/event-stream")
          ex.sendResponseHeaders(200, 0)
          val out = ex.getResponseBody
          def sse(data: String): Unit = {
            out.write(("event: message\n" +
              data.linesIterator.map("data: " + _).mkString("\n") + "\n\n")
              .getBytes(StandardCharsets.UTF_8))
            out.flush()
          }
          var sent = 0
          var quiet = 0
          while (quiet < 5) {
            val snapshot = buf.map(b => b.synchronized(b.toString)).getOrElse("")
            // a shrink means a new run reset the buffer in place — resync
            // from the top so the new run's log streams from its start
            if (snapshot.length < sent) sent = 0
            if (snapshot.length > sent) {
              sse(snapshot.substring(sent)); sent = snapshot.length; quiet = 0
            } else {
              val stillRunning = jobRecipes.toSeq.filter(_._2 == name).map(_._1)
                .exists(id => jobs.get(id).contains("running"))
              if (!stillRunning) quiet = 5 else { quiet += 1; Thread.sleep(1000) }
            }
          }
          // final snapshot: the job flips to done BEFORE appending its
          // last log line — without this the "done in X s" line is lost
          val last = logs.get(name).map(b => b.synchronized(b.toString)).getOrElse("")
          if (last.length > sent) sse(last.substring(sent))
          out.write("event: close\ndata: end\n\n".getBytes(StandardCharsets.UTF_8))
          ex.close()
        }

      // ---- dataset yaml + delete (ops surface for the frontend)
      case ("GET", List("datasets", name, "yaml")) if cfg.datasets.contains(name) =>
        val d = cfg.datasets(name)
        val opts = if (d.options.isEmpty) ""
          else d.options.map { case (k, v) => s"      $k: $v" }.mkString("\n    options:\n", "\n", "")
        respond(200,
          s"""datasets:
             |  $name:
             |    path: ${d.path}
             |    format: ${d.format}$opts
             |""".stripMargin, ctype = "text/plain")

      case ("DELETE", List("datasets", name)) if cfg.datasets.contains(name) =>
        deletedDatasets(name) = ()
        respond(200, s"""{"deleted": ${q(name)}}""")

      case ("GET", List("jobs")) =>
        respond(200, jobs.toSeq.sortBy(_._1)
          .map { case (id, st) => s"""{"job": $id, "status": ${q(st)}}""" }
          .mkString("[", ",", "]"))

      // ---- uploaded-file store (api.py:315-368)
      case ("GET", List("upload")) =>
        val files = Option(uploads.toFile.listFiles()).getOrElse(Array.empty)
          .filter(_.isFile).map(_.getName).sorted.toSeq
        respond(200, files.map(q).mkString("[", ",", "]"))

      case ("POST" | "PUT", List("upload", file)) =>
        val name = safeName(file)
        java.nio.file.Files.write(uploads.resolve(name),
          ex.getRequestBody.readAllBytes())
        respond(200, s"""{"upload_status": {${q(name)}: "ok"}}""")

      case ("DELETE", List("upload", file)) =>
        val p = uploads.resolve(safeName(file))
        if (java.nio.file.Files.deleteIfExists(p))
          respond(200, s"""{"file": ${q(safeName(file))}, "status": "deleted"}""")
        else respond(404, s"""{"file": ${q(safeName(file))}, "status": "not found"}""")

      // ---- live chunk: run the recipe on the POSTED csv instead of its
      // declared input — the tutorial's first interaction (api.py:940-963)
      case ("PUT" | "POST", List("recipes", name, "apply")) if cfg.recipes.contains(name) =>
        graft.functions.Registry.register(spark)
        val tmp = java.nio.file.Files.createTempFile("graft-live", ".csv")
        java.nio.file.Files.write(tmp, ex.getRequestBody.readAllBytes())
        try {
          intKnob(params, "size", 30) match { // test_chunk_size
            case None => respond(400,
              """{"error": "size must be a positive integer"}""")
            case Some(n) =>
              val input = graft.sources.Sources.csv(spark, tmp.toString,
                sep = params.getOrElse("sep", ";"))
              val out = RecipeConf.compileRecipe(spark, cfg,
                cfg.recipes(name))(input.limit(n))
              respond(200, jsonRows(out, n))
          }
        } finally java.nio.file.Files.deleteIfExists(tmp)

      // ---- single-doc upsert — how the validation frontend stores human
      // match decisions (api.py:784-811). Body = the doc as JSON (an ES
      // {"doc": {...}} envelope is unwrapped). Routed to Sinks.upsert.
      case ("POST", List("datasets", name, "_update", id)) if cfg.datasets.contains(name) =>
        val ds = cfg.datasets(name)
        if (ds.format != "parquet")
          respond(403, """{"error": "only parquet datasets support _update"}""")
        else {
          import org.apache.spark.sql.functions.lit
          val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
          import spark.implicits._
          val parsed = spark.read.json(spark.createDataset(Seq(body)))
          val doc = if (parsed.columns.contains("doc")) parsed.select("doc.*") else parsed
          val idCol = ds.options.getOrElse("id", "_id")
          // match the existing table's id type so the merge key aligns
          val idType = scala.util.Try(spark.read.parquet(ds.path).schema(idCol).dataType)
            .getOrElse(org.apache.spark.sql.types.StringType)
          val typed = doc.withColumn(idCol, lit(id).cast(idType))
          // ES _update semantics (api.py:784-811): the body is a PARTIAL
          // doc — posted fields overwrite, every other stored field is
          // kept. The overlay read happens inside the sink's per-path
          // lock (upsertPartial), so concurrent updates cannot capture a
          // file listing another update's commit is about to delete.
          graft.sources.Sinks.upsertPartial(typed, ds.path, idCol)
          respond(200, s"""{"_id": ${q(id)}, "result": "updated"}""")
        }

      case _ =>
        respond(404, s"""{"error": "not found", "path": ${q(path)}}""")
    }
  } catch {
    case e: Throwable =>
      respond(500, s"""{"error": ${q(String.valueOf(e.getMessage))}}""")
  }

  // handlers must NOT share the dispatcher thread: the SSE log tail
  // holds its connection open for seconds, and with the default (null)
  // executor that would block every other request until the tail closes
  private val httpPool = java.util.concurrent.Executors.newCachedThreadPool()

  def start(): ApiServer = {
    server.createContext("/api", (ex: HttpExchange) => handle(ex))
    server.setExecutor(httpPool)
    server.start()
    this
  }

  def stop(): Unit = { server.stop(0); httpPool.shutdownNow() }

  def awaitJobs(timeoutMs: Long = 60000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (jobs.values.exists(_ == "running") && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
  }
}
