package graft.api

import java.net.InetSocketAddress
import java.net.URLDecoder
import java.nio.charset.StandardCharsets.UTF_8

import scala.util.matching.Regex

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Thin HTTP shim over [[Dp3Service]] — the reference's route table
  * (reference: server/routes/routes.go:49-72) on the JDK's built-in
  * `com.sun.net.httpserver`, zero added dependencies:
  *
  *   GET  /                                   → "dp3"
  *   POST /export                             → MCAP bytes; with the
  *     reference's topics-as-version-map body (export.go:17), the
  *     follow/tail contract: delta since those versions + X-Topics
  *     header with the new ones, 202 when nothing advanced, and
  *     "format": "ndjson" for line output
  *   GET|POST /statrange                      → NDJSON stat records
  *   GET  /databases                          → NDJSON
  *   POST /databases/{db}/query               → NDJSON rows (QL body)
  *   GET  /databases/{db}/topics              → NDJSON
  *   GET  /databases/{db}/tables              → NDJSON
  *   GET  /databases/{db}/producers           → NDJSON
  *   GET  /databases/{db}/schemas/{hash}      → one JSON record / 404
  *   GET  /databases/{db}/statistics          → NDJSON
  *   GET  /databases/{db}/statistics/available→ NDJSON
  *   GET|POST /delete                         → range delete
  *   POST /databases/{db}/import              → batch MCAP import
  *   POST /databases/{db}/producers/{p}/import→ MCAP bytes as the body
  *     (reference: import_stream.go — for clients with no shared
  *     filesystem); 400 on corrupt magic
  *
  * The reference's own routes are explicitly "loose and uncommitted"
  * demo APIs (routes.go:14-17), so this shim keeps the same posture:
  * request fields use the reference's JSON names (query.go QueryRequest,
  * statrange.go StatRangeRequest, delete.go), responses are one JSON
  * document per row (what mcap.ToJSON streams per message).
  *
  * Frames serialize through `df.toJSON.toLocalIterator` — one
  * partition resident driver-side at a time, streamed chunked to the
  * socket; the executors do all the query work, exactly the
  * reference's one-response-one-writer shape. An unlimited QL answer
  * within [[graft.plan.Planner.emitBudget]] is ONE partition, so it
  * costs one result job and is driver-resident whole while it streams;
  * a larger one keeps its range partitions. Local frames (stat requests
  * folded on the driver) serialize with no Spark job.
  * `/import` requires an
  * [[Dp3Http.ImportTarget]] (the ingest directory triple) and appends
  * one ingest version per request via `Ingest.importMcap`; continuous
  * ingest keeps using the streaming pipeline directly.
  *
  * Request bodies are the reference's flat JSON objects; the field
  * extractors below parse exactly that shape (string/bool/long/
  * string-array members) rather than pulling in a JSON library.
  *
  * MULTI-DATABASE: the `/databases/{db}/...` segment resolves against
  * the `databases` map (name → service + import layout) like the
  * reference's per-database routing (routes.go:51-60); with no map the
  * primary service binds its own name. Unknown names 404. The
  * un-namespaced routes (/export, /statrange, /delete) accept the
  * reference's optional "database" body field and default to the
  * primary.
  */
object Dp3Http {
  /** Ingest layout the /import route appends to (data + stat partials
    * + control table — the startWithStats directory triple).
    * `fieldStats` mirrors `Ingest.startWithStats`: a store maintaining
    * per-field partials must configure it here too, or imported
    * versions break the stats tier's coverage and scan pruning turns
    * off (exact but unpruned). */
  final case class ImportTarget(dataDir: String, statsDir: String,
      controlDir: String,
      fieldStats: Option[(String, Seq[String], Seq[String])] = None)

  /** One logical database: a service plus its optional import layout.
    * The reference serves several per deployment, namespaced by the
    * `/databases/{db}/...` path segment (routes.go:51-60,
    * doc/paper/dp3.tex:397-400). */
  final case class Database(svc: Dp3Service,
      importTarget: Option[ImportTarget] = None)

  /** 401 carrier for the shared-key middleware. */
  private[api] final class Unauthorized(msg: String)
      extends RuntimeException(msg)
}

final class Dp3Http(svc: Dp3Service, spark: SparkSession,
    host: String = "127.0.0.1", port: Int = 0,
    importTarget: Option[Dp3Http.ImportTarget] = None,
    databases: Map[String, Dp3Http.Database] = Map.empty,
    sharedKey: Option[String] = None,
    allowedOrigins: Seq[String] = Nil,
    strictParity: Boolean = true) {
  // `strictParity` defaults TRUE on THIS face only: the HTTP route
  // table is the wire-compatibility surface, and a client probing
  // feature support against it should observe the reference's
  // accepted-query set out of the box (`neighbors` parses but errors,
  // server/executor/executor.go:206-207). The engine's `neighbors`
  // extension stays on by default at the library/planner faces; a
  // deployment that wants it over HTTP passes strictParity = false.
  // The deployment-wide `graft.ql.strictParity` system property forces
  // strict everywhere, this face included, never the reverse.
  private def effectiveStrict: Boolean =
    graft.ql.Parser.strictParityDefault || strictParity

  /** The reference's demo auth on MUTATING routes only — delete and
    * both imports (routes.go:63-69, mw.WithSharedKeyAuth): with a key
    * configured they require `Authorization: Bearer <key>`, else 401
    * "invalid token"; reads stay open, and no key = no auth, exactly
    * the middleware's behavior. */
  private def requireAuth(ex: HttpExchange): Unit =
    sharedKey.foreach { key =>
      val token = Option(ex.getRequestHeaders.getFirst("Authorization"))
        .map(_.split(" ", 2))
        .collect { case Array("Bearer", t) => t }
      if (!token.contains(key))
        throw new Dp3Http.Unauthorized("invalid token")
    }

  /** name → database. With no explicit map, the primary service binds
    * its own configured name — one logical database, the common case.
    * Unknown names 404 like the reference's "database not found". */
  private val dbs: Map[String, Dp3Http.Database] =
    if (databases.nonEmpty) databases
    else Map(svc.databaseName -> Dp3Http.Database(svc, importTarget))

  private def dbFor(name: String): Dp3Http.Database =
    dbs.getOrElse(name, throw new NoSuchElementException(
      s"no such database: $name"))

  /** Databases named in un-namespaced request bodies (/export,
    * /statrange, /delete carry an optional "database" field in the
    * reference's request shapes); absent → the primary service. */
  private def dbForBody(body: String): Dp3Service =
    strField(body, "database").map(n => dbFor(n).svc).getOrElse(svc)

  private val server = HttpServer.create(new InetSocketAddress(host, port), 0)

  /** Request handler threads, named after this server's bound port
    * (`dp3-http-<port>-<n>`) so a thread dump tells servers apart. */
  private[graft] val threadPrefix = s"dp3-http-${server.getAddress.getPort}-"
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(4,
    new java.util.concurrent.ThreadFactory {
      private val n = new java.util.concurrent.atomic.AtomicInteger()
      def newThread(r: Runnable): Thread =
        new Thread(r, threadPrefix + n.incrementAndGet())
    })
  server.setExecutor(pool)

  /** Bound port (after construction; useful with port = 0). */
  def boundPort: Int = server.getAddress.getPort

  def start(): Dp3Http = { server.start(); this }

  /** Stops accepting requests and shuts the handler pool down (its
    * threads would otherwise outlive the server and keep the JVM up). */
  def stop(): Unit = { server.stop(0); pool.shutdown() }

  // --- request parsing ---------------------------------------------------

  private def unescape(s: String): String = {
    val b = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case '"'  => b += '"'; i += 2
          case '\\' => b += '\\'; i += 2
          case '/'  => b += '/'; i += 2
          case 'n'  => b += '\n'; i += 2
          case 't'  => b += '\t'; i += 2
          case 'r'  => b += '\r'; i += 2
          case 'u' if i + 5 < s.length =>
            b += Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar
            i += 6
          case other => b += other; i += 2
        }
      } else { b += c; i += 1 }
    }
    b.result()
  }

  private def escape(s: String): String =
    s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\t' => "\\t"
      case '\r' => "\\r"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  private def strField(body: String, key: String): Option[String] =
    ("\"" + Regex.quote(key) + "\"\\s*:\\s*\"((?:[^\"\\\\]|\\\\.)*)\"").r
      .findFirstMatchIn(body).map(m => unescape(m.group(1)))

  private def boolField(body: String, key: String): Option[Boolean] =
    ("\"" + Regex.quote(key) + "\"\\s*:\\s*(true|false)").r
      .findFirstMatchIn(body).map(_.group(1) == "true")

  private def longField(body: String, key: String): Option[Long] =
    ("\"" + Regex.quote(key) + "\"\\s*:\\s*(-?\\d+)").r
      .findFirstMatchIn(body).map(_.group(1).toLong)

  /** `"key": {"a": 1, "b": 2}` — the reference ExportRequest's Topics
    * map (topic → last-seen version, export.go:17). */
  private def verMapField(body: String, key: String)
      : Option[Map[String, Long]] =
    ("\"" + Regex.quote(key) + "\"\\s*:\\s*\\{([^}]*)\\}").r
      .findFirstMatchIn(body).map { m =>
        "\"((?:[^\"\\\\]|\\\\.)*)\"\\s*:\\s*(\\d+)".r
          .findAllMatchIn(m.group(1))
          .map(g => unescape(g.group(1)) -> g.group(2).toLong).toMap
      }

  private def strArrayField(body: String, key: String)
      : Option[Seq[String]] =
    ("\"" + Regex.quote(key) + "\"\\s*:\\s*\\[([^\\]]*)\\]").r
      .findFirstMatchIn(body).map { m =>
        "\"((?:[^\"\\\\]|\\\\.)*)\"".r.findAllMatchIn(m.group(1))
          .map(g => unescape(g.group(1))).toSeq
      }

  private def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getQuery).map {
      _.split("&").toSeq.flatMap { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => Some(k -> URLDecoder.decode(v, "UTF-8"))
          case Array(k)    => Some(k -> "")
          case _           => None
        }
      }.toMap
    }.getOrElse(Map.empty)

  // --- response writing --------------------------------------------------

  private def respond(ex: HttpExchange, status: Int, contentType: String,
      body: Array[Byte]): Unit = {
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(status, if (body.isEmpty) -1 else body.length.toLong)
    if (body.nonEmpty) ex.getResponseBody.write(body)
    ex.close()
  }

  private def respondText(ex: HttpExchange, status: Int, s: String): Unit =
    respond(ex, status, "text/plain; charset=utf-8", s.getBytes(UTF_8))

  private def respondError(ex: HttpExchange, status: Int,
      msg: String): Unit =
    respond(ex, status, "application/json",
      s"""{"error":"${escape(msg)}"}""".getBytes(UTF_8))

  /** Stream a frame as NDJSON — one partition driver-resident at a
    * time (the whole answer for a QL answer the planner emits as one
    * partition), chunked transfer (length 0 = unknown). A frame the
    * optimizer reduces to a local relation (a stat request folded on
    * the driver, with the route's `where`s) is serialized by the
    * optimizer itself:
    * `to_json(struct(*))` over it folds to a local relation too, so its
    * collect launches no job, where `toJSON.toLocalIterator` would run
    * one per partition. Both write each row with Spark's JSON
    * generator under the session's options, so the bytes are equal.
    * Only a frame whose leaves are all local is optimized here: any
    * other goes straight to `toJSON`, which plans it once. */
  private def respondNdjson(ex: HttpExchange, df: DataFrame): Unit = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.functions.{col, struct, to_json}
    val qe = df.queryExecution
    val local = qe.analyzed.collectLeaves()
      .forall(_.isInstanceOf[LocalRelation]) &&
      qe.optimizedPlan.isInstanceOf[LocalRelation]
    val lines =
      if (local) df.select(to_json(struct(col("*")))).collect().iterator
        .map(_.getString(0))
      else df.toJSON.toLocalIterator().asScala
    ex.getResponseHeaders.set("Content-Type", "application/x-ndjson")
    ex.sendResponseHeaders(200, 0)
    val out = ex.getResponseBody
    lines.foreach { line =>
      out.write(line.getBytes(UTF_8)); out.write('\n')
    }
    ex.close()
  }

  private def readBody(ex: HttpExchange): String =
    new String(ex.getRequestBody.readAllBytes(), UTF_8)

  // --- routing -----------------------------------------------------------

  /** The route a request path names, with its parameters elided — the
    * `http:<route>` job description of the Spark jobs it launches. */
  private def routeOf(segs: Seq[String]): String = segs match {
    case Seq("databases", _, "producers", _, "import") => "producer_import"
    case Seq("databases", _, "schemas", _)             => "schemas"
    case Seq("databases", _, rest @ _*) if rest.nonEmpty =>
      rest.mkString("/")
    case Seq()  => "root"
    case other  => other.mkString("/")
  }

  private def handle(ex: HttpExchange): Unit = {
    val path = ex.getRequestURI.getPath.stripSuffix("/")
    val segs = path.split("/").filter(_.nonEmpty).toSeq
    graft.util.JobDesc(spark.sparkContext, s"http:${routeOf(segs)}") {
      route(ex, path, segs)
    }
  }

  private def route(ex: HttpExchange, path: String,
      segs: Seq[String]): Unit = {
    // The reference's router-level middleware chain (routes.go:39-42):
    // WithRequestID tags every request with a fresh uuid (echoed in a
    // response header so clients can quote it in bug reports), and
    // WithCORSAllowedOrigins answers a matching Origin with the allow
    // headers (mw/middleware.go:31-49). Both run before any handler —
    // in particular a preflight OPTIONS short-circuits to 200 BEFORE
    // shared-key auth, exactly the reference's middleware order on the
    // streamed-import route (the only one registering OPTIONS,
    // routes.go:68-69; other routes answer OPTIONS 405 like mux's
    // method matcher).
    ex.getResponseHeaders.set("X-Request-ID",
      java.util.UUID.randomUUID().toString)
    Option(ex.getRequestHeaders.getFirst("Origin"))
      .filter(allowedOrigins.contains).foreach { o =>
        ex.getResponseHeaders.set("Access-Control-Allow-Origin", o)
        ex.getResponseHeaders.set("Access-Control-Allow-Methods",
          "GET, POST, OPTIONS")
      }
    try {
      (ex.getRequestMethod, segs) match {
        case ("OPTIONS", Seq("databases", _, "producers", _, "import")) =>
          respond(ex, 200, "text/plain", Array.emptyByteArray)

        // the root route registers no method filter in the reference,
        // so its preflight also reaches the CORS middleware's 200
        case ("OPTIONS", Seq()) =>
          respond(ex, 200, "text/plain", Array.emptyByteArray)

        case ("OPTIONS", _) =>
          respondError(ex, 405, "method not allowed")
        case (_, Seq()) => respondText(ex, 200, "dp3")

        case ("GET", Seq("databases")) =>
          // every configured logical database, not just the primary
          val body = dbs.keys.toSeq.sorted
            .map(n => s"""{"database":"${escape(n)}"}""")
            .mkString("", "\n", "\n")
          respond(ex, 200, "application/x-ndjson", body.getBytes(UTF_8))

        case ("POST", Seq("databases", db, "query")) =>
          val body = readBody(ex)
          val ql = strField(body, "query").getOrElse(
            throw new IllegalArgumentException("missing query"))
          // the reference requires the terminator before parsing
          // (server/routes/query.go:152-155)
          if (!ql.trim.endsWith(";"))
            throw new IllegalArgumentException(
              "queries must be terminated with a semicolon")
          val skeleton = boolField(body, "skeleton").getOrElse(false)
          val explainReq = boolField(body, "explain").getOrElse(false)
          val mcapReq = boolField(body, "mcap").getOrElse(false)
          graft.ql.Parser.parse(ql, effectiveStrict) match {
            // the reference's query route executes truncate statements
            // too, answering an empty result (query.go:163-180)
            case _: graft.ql.TruncateStmt =>
              dbFor(db).svc.truncate(spark, ql)
              respond(ex, 200, "application/x-ndjson",
                Array.emptyByteArray)
            // raw MCAP output ("mcap": true): the reference's primary
            // serialization; with "explain" the stream carries the
            // in-band "query" Metadata record for the CLIENT to
            // decode (executor.go:87-94 — the CLI's --explain path)
            case _: graft.ql.Query if mcapReq =>
              respond(ex, 200, "application/octet-stream",
                dbFor(db).svc.queryMcapAuto(spark, ql,
                  explain = explainReq))
            // request-level explain (QueryRequest.Explain): answer the
            // per-node exec stats read back from the result MCAP's
            // metadata record (query.go:53-90). A QL-level `explain`
            // keeps its plan-rows answer below.
            case q: graft.ql.Query if explainReq && !q.explain =>
              respond(ex, 200, "application/json",
                dbFor(db).svc.queryExplainJson(spark, ql)
                  .getBytes(UTF_8))
            case _ =>
              respondNdjson(ex, dbFor(db).svc.query(spark, ql, skeleton))
          }

        case ("GET", Seq("databases", db, "topics")) =>
          respondNdjson(ex, dbFor(db).svc.topics(spark))

        case ("GET", Seq("databases", db, "producers")) =>
          respondNdjson(ex, dbFor(db).svc.producersList(spark))

        case ("GET", Seq("databases", db, "tables")) =>
          val p = queryParams(ex)
          respondNdjson(ex, dbFor(db).svc.tables(spark, p.get("producer"),
            p.get("topic"), p.get("historical").contains("true")))

        case ("GET", Seq("databases", db, "schemas", hash)) =>
          val row = dbFor(db).svc.schemaFor(spark, hash)
          val json = s"""{"hash":"${escape(hash)}","name":"${
            escape(row.getAs[String]("schema_name"))}","encoding":"${
            escape(row.getAs[String]("schema_encoding"))}"}"""
          respond(ex, 200, "application/json", json.getBytes(UTF_8))

        case ("GET", Seq("databases", db, "statistics", "available")) =>
          val p = queryParams(ex)
          val numeric = p.get("numeric").toSeq
            .flatMap(_.split(",")).filter(_.nonEmpty)
          val text = p.get("text").toSeq
            .flatMap(_.split(",")).filter(_.nonEmpty)
          respondNdjson(ex,
            dbFor(db).svc.statisticsAvailable(spark, numeric, text))

        case ("GET", Seq("databases", db, "statistics")) =>
          val p = queryParams(ex)
          val gran = p.get("granularity").map(_.toLong).getOrElse(
            throw new IllegalArgumentException("missing granularity"))
          respondNdjson(ex, dbFor(db).svc.statistics(spark, gran,
            groupByProducer = p.get("groupByProducer").contains("true"),
            topics = p.get("topic").toSeq,
            producers = p.get("producer").toSeq,
            startNs = p.get("start").map(_.toLong).getOrElse(0L),
            endNs = p.get("end").map(_.toLong).getOrElse(Long.MaxValue)))

        case (_, Seq("statrange")) =>
          // GET with query params or POST with the reference's JSON
          // body (statrange.go:15-22)
          val p = queryParams(ex)
          val body = if (ex.getRequestMethod == "POST") readBody(ex) else ""
          def field(k: String): Option[String] =
            p.get(k).orElse(strField(body, k))
          def num(k: String): Option[Long] =
            p.get(k).map(_.toLong).orElse(longField(body, k))
          val gran = num("granularity").getOrElse(
            throw new IllegalArgumentException("missing granularity"))
          val statSvc = field("database").map(n => dbFor(n).svc)
            .getOrElse(svc)
          // `numeric`/`text` select the per-FIELD face (the
          // reference's statrange serves every schema field —
          // statistics.go:305-313); without them the value-column
          // face answers, as before
          val numeric = field("numeric").toSeq
            .flatMap(_.split(",")).filter(_.nonEmpty)
          val text = field("text").toSeq
            .flatMap(_.split(",")).filter(_.nonEmpty)
          // the value-column face restricts topic/producer before its
          // fold or rollup; on the per-field face topic is a grouping
          // key, so Catalyst pushes the post-filter through the rollup
          // to the tier scan — passing it to statRangeFields AS WELL
          // (the first cut) stacked two identical predicates there
          val start = num("start").getOrElse(0L)
          val end = num("end").getOrElse(Long.MaxValue)
          val df =
            if (numeric.nonEmpty || text.nonEmpty)
              Seq("topic", "producer").foldLeft(statSvc.statRangeFields(
                  spark, gran, numeric, text, topic = None,
                  startNs = start, endNs = end)) { (f, k) =>
                field(k).fold(f)(v =>
                  f.where(org.apache.spark.sql.functions.col(k) === v))
              }
            else statSvc.statistics(spark, gran, groupByProducer = true,
              topics = field("topic").toSeq,
              producers = field("producer").toSeq,
              startNs = start, endNs = end)
          respondNdjson(ex, df)

        case ("POST", Seq("databases", db, "producers", producer,
            "import")) =>
          requireAuth(ex)
          // reference: server/routes/import_stream.go — the MCAP byte
          // stream IS the request body (no shared filesystem needed);
          // same versioned append path as the {producer, path} form.
          // The body spools to a server-side file first: ingest is a
          // distributed parquet write, and executors re-read the input,
          // so it must live somewhere addressable, not in one socket.
          val target = dbFor(db).importTarget.getOrElse(
            throw new IllegalArgumentException(
              s"import is not configured on database $db"))
          val bytes = ex.getRequestBody.readAllBytes()
          if (bytes.length < 8
              || !bytes.take(8).sameElements(graft.mcap.Mcap.Magic))
            throw new IllegalArgumentException("not an MCAP file")
          val spoolDir = java.nio.file.Paths.get(target.dataDir)
            .toAbsolutePath.getParent.resolve("import-spool")
          java.nio.file.Files.createDirectories(spoolDir)
          val spool = java.nio.file.Files.createTempFile(
            spoolDir, "import-", ".mcap")
          try {
            java.nio.file.Files.write(spool, bytes)
            val v = graft.streaming.Ingest.importMcap(spark, producer,
              spool.toString, target.dataDir, target.statsDir,
              target.controlDir, target.fieldStats)
            respond(ex, 200, "application/json",
              s"""{"version":$v}""".getBytes(UTF_8))
          } finally java.nio.file.Files.deleteIfExists(spool)

        case ("POST", Seq("databases", db, "import")) =>
          requireAuth(ex)
          // reference: server/routes/import.go:31-59 — JSON
          // {producer, path}, 400 on missing fields/unreadable file
          val target = dbFor(db).importTarget.getOrElse(
            throw new IllegalArgumentException(
              s"import is not configured on database $db"))
          val body = readBody(ex)
          val v = graft.streaming.Ingest.importMcap(spark,
            strField(body, "producer").getOrElse(""),
            strField(body, "path").getOrElse(""),
            target.dataDir, target.statsDir, target.controlDir,
            target.fieldStats)
          respond(ex, 200, "application/json",
            s"""{"version":$v}""".getBytes(UTF_8))

        case ("POST", Seq("export")) =>
          val body = readBody(ex)
          val dataCols = strArrayField(body, "dataCols").getOrElse(Nil)
          // the reference's ExportRequest names its database in the
          // body (export.go:15); absent → the primary service
          val expSvc = dbForBody(body)
          verMapField(body, "topics") match {
            // the reference's follow/tail shape: topics is a map of
            // last-seen versions (export.go:17); answer with the delta
            // and an X-Topics header carrying the new versions to poll
            // with (export.go:57-67). 202 = nothing new (export.go:69-71
            // signals "poll again" the same way) — decided from the
            // control table alone, no data scan.
            case Some(since) =>
              val topics = since.keys.toSeq.sorted
              if (topics.isEmpty)
                throw new IllegalArgumentException("missing topics")
              val (delta, latest) = expSvc.exportSince(spark, topics,
                since,
                producer = strField(body, "producer"),
                startNs = longField(body, "start").getOrElse(0L),
                endNs = longField(body, "end").getOrElse(Long.MaxValue))
              val header = latest.toSeq.sortBy(_._1).map { case (t, v) =>
                s""""${escape(t)}":$v""" }.mkString("{", ",", "}")
              ex.getResponseHeaders.set("X-Topics", header)
              val advanced = latest.exists { case (t, v) =>
                v > since.getOrElse(t, 0L) }
              if (!advanced)
                respond(ex, 202, "application/json", Array.emptyByteArray)
              else if (strField(body, "format").contains("ndjson")) {
                ex.getResponseHeaders.set("Content-Type",
                  "application/x-ndjson")
                ex.sendResponseHeaders(200, 0)
                val out = ex.getResponseBody
                import scala.jdk.CollectionConverters._
                graft.export.Export.ndjson(delta, dataCols)
                  .toLocalIterator().asScala.foreach { line =>
                    out.write(line.getBytes(UTF_8)); out.write('\n')
                  }
                ex.close()
              } else
                respond(ex, 200, "application/octet-stream",
                  graft.export.Export.mcap(delta, dataCols))
            case None =>
              val topics = strArrayField(body, "topics").getOrElse(
                throw new IllegalArgumentException("missing topics"))
              val bytes = expSvc.exportMcap(spark, topics, dataCols)
              respond(ex, 200, "application/octet-stream", bytes)
          }

        case (_, Seq("delete")) =>
          requireAuth(ex)
          val p = queryParams(ex)
          val body = if (ex.getRequestMethod == "POST") readBody(ex) else ""
          def field(k: String): Option[String] =
            p.get(k).orElse(strField(body, k))
          def num(k: String): Option[Long] =
            p.get(k).map(_.toLong).orElse(longField(body, k))
          field("database").map(n => dbFor(n).svc).getOrElse(svc).delete(
            field("producer").getOrElse(""),
            field("topic").getOrElse(""),
            num("start").getOrElse(0L),
            num("end").getOrElse(0L))
          respond(ex, 200, "application/json", "{}".getBytes(UTF_8))

        case _ => respondError(ex, 404, s"no route for $path")
      }
    } catch {
      case e @ (_: IllegalArgumentException
          | _: graft.ql.Parser.ParseError
          // unreadable import path etc. — the reference's BadRequest
          | _: org.apache.spark.sql.AnalysisException) =>
        respondError(ex, 400, Option(e.getMessage).getOrElse("bad request"))
      case e: Dp3Http.Unauthorized =>
        respondError(ex, 401, e.getMessage)
      case e: NoSuchElementException =>
        respondError(ex, 404, Option(e.getMessage).getOrElse("not found"))
      case e: Throwable =>
        respondError(ex, 500, Option(e.getMessage).getOrElse(
          e.getClass.getSimpleName))
    }
  }

  server.createContext("/", (ex: HttpExchange) => handle(ex))
}
