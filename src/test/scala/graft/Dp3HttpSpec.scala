package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.scalatest.funsuite.AnyFunSuite

import graft.api.{Dp3Http, Dp3Service}
import graft.model.EventsCatalog
import graft.util.JobLog

/** End-to-end HTTP surface over localhost against the sf0.001 catalog —
  * the reference's route table (server/routes/routes.go:49-72) driven
  * through real sockets. */
class Dp3HttpSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"
  private lazy val cat = new EventsCatalog(dir)
  private lazy val svc = new Dp3Service(cat, s => cat.messages(s))

  private lazy val http = {
    val h = new Dp3Http(svc, spark).start()
    sys.addShutdownHook(h.stop())
    h
  }
  private lazy val base = s"http://127.0.0.1:${http.boundPort}"
  private lazy val client = HttpClient.newHttpClient()

  private def get(path: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(s"$base$path")).GET()
      .build(), HttpResponse.BodyHandlers.ofString())

  private def post(path: String, body: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(s"$base$path"))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  test("GET / identifies the service") {
    val r = get("/")
    assert(r.statusCode() == 200 && r.body() == "dp3")
  }

  test("POST query returns NDJSON rows; skeleton strips payload") {
    val r = post("/databases/default/query",
      """{"query": "from p3 click limit 3;"}""")
    assert(r.statusCode() == 200, r.body())
    val lines = r.body().linesIterator.toSeq
    assert(lines.length == 3)
    assert(lines.forall(l => l.startsWith("{") && l.contains("\"topic\"")))
    assert(lines.head.contains("\"k\"")) // payload present on full query
    // planner order keys never leak onto the wire
    assert(lines.forall(l => !l.contains("_mj") && !l.contains("emit_")))

    val sk = post("/databases/default/query",
      """{"query": "from p3 click limit 3;", "skeleton": true}""")
    val skLines = sk.body().linesIterator.toSeq
    assert(skLines.length == 3)
    assert(skLines.forall(l => !l.contains("\"k\"") && l.contains("\"seq\"")))
  }

  test("neighbors over HTTP: the DEFAULT server is the reference's " +
      "parity surface (parses but errors, executor.go:206-207); the " +
      "extension runs end to end only when opted in") {
    // out of the box a client probing feature support observes the
    // reference's accepted-query set: 400 with the reference's message
    val parity = post("/databases/default/query",
      """{"query": "from p3 click neighbors error;"}""")
    assert(parity.statusCode() == 400, parity.body())
    assert(parity.body().contains("neighbors joins are not implemented"),
      parity.body())
    // opted in (strictParity = false), the extension executes
    val h2 = new Dp3Http(svc, spark, strictParity = false).start()
    try {
      val b2 = s"http://127.0.0.1:${h2.boundPort}"
      def post2(path: String, body: String): HttpResponse[String] =
        client.send(HttpRequest.newBuilder(URI.create(s"$b2$path"))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
          HttpResponse.BodyHandlers.ofString())
      val r = post2("/databases/default/query",
        """{"query": "from p3 click neighbors error;"}""")
      assert(r.statusCode() == 200, r.body())
      val lines = r.body().linesIterator.toSeq
      assert(lines.nonEmpty)
      // both sides emit: every matched error carries its nearest click
      assert(lines.exists(_.contains("\"click\"")) &&
        lines.exists(_.contains("\"error\"")), lines.take(3).toString)
      // explain executes (physical plan rows; the dp3 sexp below)
      val ex = post2("/databases/default/query",
        """{"query": "explain from p3 click neighbors error;"}""")
      assert(ex.statusCode() == 200, ex.body())
      // the deployment-wide ql force-strict property wins over an
      // opted-in constructor
      System.setProperty("graft.ql.strictParity", "true")
      try {
        val forced = post2("/databases/default/query",
          """{"query": "from p3 click neighbors error;"}""")
        assert(forced.statusCode() == 400, forced.body())
      } finally System.clearProperty("graft.ql.strictParity")
    } finally h2.stop()
    // the dp3-style plan sexp renders the dir like precedes/succeeds
    val q = graft.ql.Parser.parse("from p3 click neighbors error;")
      .asInstanceOf[graft.ql.Query]
    val sexp = graft.plan.PlanShape.render(q, Seq("p3"))
    assert(sexp.contains("[asof (neighbors full)"), sexp)
  }

  test("explain request answers in-band exec stats read back from " +
      "the result MCAP (query.go:53-90 round trip)") {
    val r = post("/databases/default/query",
      """{"query": "from p3 click limit 3;", "explain": true}""")
    assert(r.statusCode() == 200, r.body())
    assert(r.headers().firstValue("Content-Type").orElse("")
      .startsWith("application/json"))
    val body = r.body()
    assert(body.startsWith("""{"explain":{"nodes":["""), body)
    assert(body.contains("\"rows\":") && body.contains("\"time_ms\":"))
    // QL-level explain still answers plan rows, explain flag or not
    val plan = post("/databases/default/query",
      """{"query": "explain from p3 click limit 3;", "explain": true}""")
    assert(plan.statusCode() == 200, plan.body())
    assert(plan.body().linesIterator.next().contains("plan"))
  }

  test("query errors map to 400 with the parse message") {
    val noSemi = post("/databases/default/query",
      """{"query": "from p3 click"}""")
    assert(noSemi.statusCode() == 400)
    assert(noSemi.body().contains("semicolon"))
    val bad = post("/databases/default/query",
      """{"query": "from p3 click where nope;"}""")
    assert(bad.statusCode() == 400, bad.body())
  }

  test("catalog listings: topics and producers") {
    val topics = get("/databases/default/topics")
    assert(topics.statusCode() == 200)
    assert(topics.body().linesIterator.exists(_.contains("click")))
    val producers = get("/databases/default/producers")
    assert(producers.body().linesIterator.exists(_.contains("p3")))
  }

  test("statistics endpoint honors granularity") {
    val r = get("/databases/default/statistics?granularity=3600000000000"
      + "&groupByProducer=true")
    assert(r.statusCode() == 200)
    assert(r.body().linesIterator.nonEmpty)
    val missing = get("/databases/default/statistics")
    assert(missing.statusCode() == 400)
  }

  test("statrange accepts GET params and the reference's POST body") {
    val viaGet = get("/statrange?granularity=60000000000")
    assert(viaGet.statusCode() == 200)
    assert(viaGet.body().linesIterator.nonEmpty)
    val viaPost = post("/statrange",
      """{"granularity": 60000000000, "producer": "p3"}""")
    assert(viaPost.statusCode() == 200)
    assert(viaPost.body().linesIterator.size
      <= viaGet.body().linesIterator.size)
    // the per-field face (the reference serves statistics for every
    // schema field): numeric/text params select it
    val fields = get("/statrange?granularity=3600000000000" +
      "&numeric=value,k&text=props&topic=click")
    assert(fields.statusCode() == 200)
    val line = fields.body().linesIterator.next()
    assert(line.contains("\"field\"") && line.contains("\"field_type\""),
      line)
  }

  test("unknown route is a JSON 404") {
    val r = get("/nope")
    assert(r.statusCode() == 404 && r.body().contains("error"))
  }

  test("import appends monotonic ingest versions to the layout") {
    import java.nio.file.Files
    val tmp = Files.createTempDirectory("graft-http-import").toString
    val w = new graft.mcap.Mcap.Writer()
    w.writeSchema(graft.mcap.Mcap.SchemaRec(1, "pkg/test", "ros1msg",
      "int16 count".getBytes))
    w.writeChannel(graft.mcap.Mcap.ChannelRec(0, 1, "imported", "ros1"))
    for (t <- 1L to 6L)
      w.writeMessage(graft.mcap.Mcap.MessageRec(0, t, t, t,
        Array[Byte](t.toByte, 0)))
    Files.write(java.nio.file.Paths.get(s"$tmp/dev.mcap"), w.finish())

    val target = graft.api.Dp3Http.ImportTarget(
      s"$tmp/data", s"$tmp/stats", s"$tmp/control")
    val h2 = new Dp3Http(svc, spark, importTarget = Some(target)).start()
    val b2 = s"http://127.0.0.1:${h2.boundPort}"
    def postTo(path: String, body: String): HttpResponse[String] =
      client.send(HttpRequest.newBuilder(URI.create(s"$b2$path"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
    try {
      val req = s"""{"producer": "dev", "path": "$tmp/dev.mcap"}"""
      val r1 = postTo("/databases/default/import", req)
      assert(r1.statusCode() == 200 && r1.body() == """{"version":1}""",
        r1.body())
      val r2 = postTo("/databases/default/import", req)
      assert(r2.body() == """{"version":2}""")

      val data = spark.read.parquet(s"$tmp/data")
      assert(data.count() == 12) // 6 messages x 2 versions
      assert(data.select("producer").distinct().collect()
        .map(_.getString(0)).toSeq == Seq("dev"))
      val control = spark.read.parquet(s"$tmp/control")
      assert(control.select("ingest_version").collect()
        .map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))

      assert(postTo("/databases/default/import",
        """{"producer": "dev"}""").statusCode() == 400)
      assert(postTo("/databases/default/import",
        s"""{"producer": "dev", "path": "$tmp/nope.mcap"}""")
        .statusCode() == 400)
      // import not configured on the main server -> 400
      assert(post("/databases/default/import", req).statusCode() == 400)
    } finally h2.stop()
  }

  test("the query route executes truncate statements like the " +
      "reference (empty result, data hidden)") {
    // fresh service: truncation masks are per-service state and must
    // not leak into the shared fixtures
    val fcat = new EventsCatalog(dir)
    val fsvc = new Dp3Service(fcat, s => fcat.messages(s))
    val h2 = new Dp3Http(fsvc, spark).start()
    val b2 = s"http://127.0.0.1:${h2.boundPort}"
    def postAt(body: String): HttpResponse[String] =
      client.send(HttpRequest.newBuilder(
        URI.create(s"$b2/databases/default/query"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
    try {
      assert(postAt("""{"query": "from p5 error limit 1;"}""")
        .body().linesIterator.size == 1)
      val t = postAt("""{"query": "truncate p5 error now;"}""")
      assert(t.statusCode() == 200 && t.body().isEmpty, t.body())
      assert(postAt("""{"query": "from p5 error;"}""")
        .body().linesIterator.isEmpty)
      // other tables unaffected
      assert(postAt("""{"query": "from p5 click limit 1;"}""")
        .body().linesIterator.size == 1)
    } finally h2.stop()
  }

  test("shared-key auth guards mutating routes only, like the " +
      "reference middleware") {
    val h2 = new Dp3Http(svc, spark, sharedKey = Some("sekrit")).start()
    val b2 = s"http://127.0.0.1:${h2.boundPort}"
    def req(path: String, auth: Option[String], body: String = "")
        : HttpResponse[String] = {
      var b = HttpRequest.newBuilder(URI.create(s"$b2$path"))
      auth.foreach(t => b = b.header("Authorization", t))
      val built = if (body.isEmpty) b.GET()
        else b.POST(HttpRequest.BodyPublishers.ofString(body))
      client.send(built.build(), HttpResponse.BodyHandlers.ofString())
    }
    try {
      // reads stay open (reference wraps ONLY delete + imports)
      assert(req("/databases/default/topics", None).statusCode() == 200)
      // mutating routes: missing/malformed/wrong token -> 401
      val del = "/delete?producer=p0&topic=click&start=1&end=2"
      assert(req(del, None).statusCode() == 401)
      assert(req(del, Some("Bearer wrong")).statusCode() == 401)
      assert(req(del, Some("sekrit")).statusCode() == 401) // no Bearer
      assert(req(del, Some("Bearer sekrit")).statusCode() == 200)
      assert(req("/databases/default/import", None,
        """{"producer": "x", "path": "/nope"}""").statusCode() == 401)
      assert(req("/databases/default/producers/x/import", None,
        "junk").statusCode() == 401)
    } finally h2.stop()
  }

  test("CORS middleware: allowed origins get the allow headers, the " +
      "import preflight short-circuits 200 before auth") {
    val h2 = new Dp3Http(svc, spark, sharedKey = Some("sekrit"),
      allowedOrigins = Seq("http://ok.example")).start()
    val b2 = s"http://127.0.0.1:${h2.boundPort}"
    def send(method: String, path: String, origin: Option[String])
        : HttpResponse[String] = {
      var b = HttpRequest.newBuilder(URI.create(s"$b2$path"))
        .method(method, HttpRequest.BodyPublishers.noBody())
      origin.foreach(o => b = b.header("Origin", o))
      client.send(b.build(), HttpResponse.BodyHandlers.ofString())
    }
    try {
      // preflight on the streamed-import route: 200 with allow headers,
      // NO auth required (middleware order: CORS answers before the
      // shared-key check, mw/middleware.go:42-45 vs routes.go:68-69)
      val pre = send("OPTIONS", "/databases/default/producers/x/import",
        Some("http://ok.example"))
      assert(pre.statusCode() == 200, pre.body())
      assert(pre.headers().firstValue("Access-Control-Allow-Origin")
        .orElse("") == "http://ok.example")
      assert(pre.headers().firstValue("Access-Control-Allow-Methods")
        .orElse("").contains("OPTIONS"))
      // unlisted origin: request still served, but no allow headers
      val other = send("OPTIONS",
        "/databases/default/producers/x/import",
        Some("http://evil.example"))
      assert(other.statusCode() == 200)
      assert(!other.headers().firstValue("Access-Control-Allow-Origin")
        .isPresent)
      // routes that never registered OPTIONS answer 405 (mux method
      // matching); ordinary requests still carry the origin echo
      assert(send("OPTIONS", "/databases/default/topics",
        Some("http://ok.example")).statusCode() == 405)
      val r = send("GET", "/databases/default/topics",
        Some("http://ok.example"))
      assert(r.statusCode() == 200)
      assert(r.headers().firstValue("Access-Control-Allow-Origin")
        .orElse("") == "http://ok.example")
      // every response carries a fresh request id (WithRequestID)
      val id1 = r.headers().firstValue("X-Request-ID").orElse("")
      val id2 = send("GET", "/", None).headers()
        .firstValue("X-Request-ID").orElse("")
      assert(id1.length == 36 && id2.length == 36 && id1 != id2)
    } finally h2.stop()
  }

  test("multiple logical databases: the {db} segment routes, unknown " +
      "names 404, listings show every database") {
    import spark.implicits._
    def dbOf(rows: Seq[(String, String, Long, Long, Double)],
        name: String): graft.api.Dp3Http.Database = {
      val df = rows.toDF("producer", "topic", "time", "seq", "value")
      val cat = new graft.model.TopicMapCatalog(Map("shared" -> df))
      graft.api.Dp3Http.Database(
        new Dp3Service(cat, _ => df, databaseName = name))
    }
    // same topic, same producer, DISJOINT data — the db segment is the
    // only thing separating the answers
    val red = dbOf(Seq(("dev", "shared", 10L, 1L, 1.0),
      ("dev", "shared", 20L, 2L, 2.0)), "red")
    val blue = dbOf(Seq(("dev", "shared", 30L, 3L, 3.0),
      ("dev", "shared", 40L, 4L, 4.0),
      ("dev", "shared", 50L, 5L, 5.0)), "blue")
    val h2 = new Dp3Http(red.svc, spark,
      databases = Map("red" -> red, "blue" -> blue)).start()
    val b2 = s"http://127.0.0.1:${h2.boundPort}"
    def getAt(path: String): HttpResponse[String] =
      client.send(HttpRequest.newBuilder(URI.create(s"$b2$path")).GET()
        .build(), HttpResponse.BodyHandlers.ofString())
    def postAt(path: String, body: String): HttpResponse[String] =
      client.send(HttpRequest.newBuilder(URI.create(s"$b2$path"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
    try {
      val q = """{"query": "from dev shared;"}"""
      val rRed = postAt("/databases/red/query", q)
      val rBlue = postAt("/databases/blue/query", q)
      assert(rRed.statusCode() == 200 && rBlue.statusCode() == 200)
      assert(rRed.body().linesIterator.size == 2, rRed.body())
      assert(rBlue.body().linesIterator.size == 3, rBlue.body())
      // unknown database -> 404 (reference: database not found)
      val missing = postAt("/databases/green/query", q)
      assert(missing.statusCode() == 404, missing.body())
      assert(getAt("/databases/green/topics").statusCode() == 404)
      // the listing names every configured database
      val listing = getAt("/databases").body().linesIterator.toSeq
      assert(listing == Seq("""{"database":"blue"}""",
        """{"database":"red"}"""))
      // un-namespaced export picks its database from the body
      val exRed = postAt("/export",
        """{"topics": {"shared": 0}, "format": "ndjson", "database": "red"}""")
      val exBlue = postAt("/export",
        """{"topics": {"shared": 0}, "format": "ndjson", "database": "blue"}""")
      assert(exRed.body().linesIterator.size == 2, exRed.body())
      assert(exBlue.body().linesIterator.size == 3, exBlue.body())
    } finally h2.stop()
  }

  test("streaming import accepts the MCAP byte stream as the request " +
      "body") {
    import java.nio.file.Files
    val tmp = Files.createTempDirectory("graft-http-stream").toString
    val w = new graft.mcap.Mcap.Writer()
    w.writeSchema(graft.mcap.Mcap.SchemaRec(1, "pkg/test", "ros1msg",
      "int16 count".getBytes))
    w.writeChannel(graft.mcap.Mcap.ChannelRec(0, 1, "streamed", "ros1"))
    for (t <- 1L to 4L)
      w.writeMessage(graft.mcap.Mcap.MessageRec(0, t, t, t,
        Array[Byte](t.toByte, 0)))
    val mcap = w.finish()

    val target = graft.api.Dp3Http.ImportTarget(
      s"$tmp/data", s"$tmp/stats", s"$tmp/control")
    val icat = new graft.model.IngestedCatalog(
      s"$tmp/data", s"$tmp/stats", s"$tmp/control")
    val isvc = new Dp3Service(icat, s => icat.messages(s),
      Some(graft.api.IngestStore(icat)))
    val h2 = new Dp3Http(isvc, spark, importTarget = Some(target)).start()
    val b2 = s"http://127.0.0.1:${h2.boundPort}"
    def postBytes(path: String, body: Array[Byte])
        : HttpResponse[String] =
      client.send(HttpRequest.newBuilder(URI.create(s"$b2$path"))
        .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build(),
        HttpResponse.BodyHandlers.ofString())
    try {
      // reference: POST /databases/{db}/producers/{p}/import with the
      // raw file as the body (import_stream.go) — no shared filesystem
      val r1 = postBytes("/databases/default/producers/streamer/import",
        mcap)
      assert(r1.statusCode() == 200 && r1.body() == """{"version":1}""",
        r1.body())
      // the rows are immediately queryable under the path's producer
      val q = client.send(HttpRequest.newBuilder(
        URI.create(s"$b2/databases/default/query"))
        .POST(HttpRequest.BodyPublishers.ofString(
          """{"query": "from streamer streamed;"}""")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(q.statusCode() == 200, q.body())
      assert(q.body().linesIterator.size == 4)
      // corrupt magic -> 400, nothing appended
      val bad = postBytes(
        "/databases/default/producers/streamer/import",
        "not an mcap".getBytes)
      assert(bad.statusCode() == 400, bad.body())
      assert(icat.messages(spark).count() == 4)
      // no spool files left behind
      val spool = java.nio.file.Paths.get(s"$tmp/import-spool")
      assert(!Files.exists(spool)
        || !Files.list(spool).findAny().isPresent)
    } finally h2.stop()
  }

  test("stop() shuts the request pool down and its threads end") {
    import scala.jdk.CollectionConverters._
    val h = new Dp3Http(svc, spark).start()
    def poolThreads = Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(_.getName.startsWith(h.threadPrefix))
    val r = client.send(HttpRequest.newBuilder(
      URI.create(s"http://127.0.0.1:${h.boundPort}/")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    assert(r.statusCode() == 200)
    val running = poolThreads
    assert(running.nonEmpty)
    h.stop()
    running.foreach(_.join(10000))
    assert(poolThreads.isEmpty, poolThreads.map(_.getName))
  }

  test("every Spark job a /query request launches names its route or " +
      "plan step") {
    val (base, resident) = TestSpark.smallStore("graft-http-desc")
    // over the driver budget the statfilter runs its Spark face
    val cat = TestSpark.ingestedCatalog(base, fieldStats = true)
    cat.statFilterBudget = 0L
    def descsOf(c: graft.model.IngestedCatalog): Seq[String] = {
      val h = new Dp3Http(new Dp3Service(c, s => c.messages(s),
        Some(graft.api.IngestStore(c))), spark).start()
      try {
        val (r, jobs) = JobLog.record(spark.sparkContext) {
          client.send(HttpRequest.newBuilder(URI.create(
            s"http://127.0.0.1:${h.boundPort}/databases/default/query"))
            .POST(HttpRequest.BodyPublishers.ofString(
              """{"query": "from p0 click where click.value > 3;"}"""))
            .build(), HttpResponse.BodyHandlers.ofString())
        }
        assert(r.statusCode() == 200, r.body())
        assert(r.body().linesIterator.size == 1)
        val descs = jobs.map(_.desc)
        assert(descs.nonEmpty && descs.forall(_.nonEmpty), descs)
        assert(descs.forall(d => d.startsWith("http:")
          || d.startsWith("plan:")), descs)
        descs
      } finally h.stop()
    }
    val descs = descsOf(cat)
    assert(descs.contains("http:query") && descs.contains(
      "plan:statfilter"), descs)
    // within the budget the first query loads the resident tier, and the
    // statfilter itself launches no job
    val loaded = descsOf(resident)
    assert(loaded.contains("http:query") && loaded.contains(
      "plan:statcache") && !loaded.contains("plan:statfilter"), loaded)
  }

  test("warm /query requests launch 1 / 2 / 2 / 3 / 3 jobs for scan / " +
      "filter / merge / star / asof; no unlimited answer range-" +
      "partitions, and each data file scan runs in one stage") {
    val (_, cat) = TestSpark.robotStore("graft-http-budget")
    val ssvc = new Dp3Service(cat, s => cat.messages(s),
      Some(graft.api.IngestStore(cat)))
    val h = new Dp3Http(ssvc, spark).start()
    val (a, b) = (300L * 1000000000L, 900L * 1000000000L)
    val budget = Seq(
      "scan" -> (s"from p1 between $a and $b imu limit 200;", 1),
      "filter" -> ("from p1 imu where imu.value > 2.5;", 2),
      "merge" -> (s"from p1 between $a and $b imu, odom;", 2),
      "star" -> (s"from * between $a and $b gps, diag;", 3),
      "asof" -> (s"from p1 between $a and $b gps precedes imu " +
        "by less than 500 milliseconds;", 3))
    def send(ql: String): Int = {
      val r = client.send(HttpRequest.newBuilder(URI.create(
        s"http://127.0.0.1:${h.boundPort}/databases/default/query"))
        .POST(HttpRequest.BodyPublishers.ofString(
          s"""{"query": "$ql"}""")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 200, r.body())
      r.body().linesIterator.size
    }
    try {
      // warm: the producer list, coverage and statfilter tier are
      // cached from here
      budget.foreach { case (_, (ql, _)) => send(ql) }
      val seen = budget.map { case (cls, (ql, _)) =>
        val (rows, jobs) = JobLog.record(spark.sparkContext)(send(ql))
        assert(rows > 0, cls)
        val scans = jobs.flatMap(_.fileScans)
        val ranged = !ql.contains("limit") && ssvc.query(spark, ql)
          .queryExecution.executedPlan.toString.toLowerCase
          .contains("rangepartitioning")
        (cls, jobs.size, scans.nonEmpty && scans.distinct == scans, ranged)
      }
      assert(seen.map(s => s._1 -> s._2) ==
        budget.map { case (cls, (_, n)) => cls -> n }, seen)
      assert(seen.forall(_._3), seen)
      assert(!seen.exists(_._4), seen)
      // the filter's budget holds with its scan pruned by the statfilter
      assert(TestSpark.timePruned(ssvc.query(spark, budget(1)._2._1)))
    } finally h.stop()
  }
}
