package graft.cli

import java.io.PrintStream
import java.net.URI
import java.net.URLEncoder
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** dp3-style command line — the reference's CLI verbs as a thin HTTP
  * client over [[graft.api.Dp3Http]] (reference: cli/cmd/query.go,
  * import.go, export.go, statrange.go, client.go; default server URL
  * `http://localhost:8089`, cli/cmd/root.go:84). Zero dependencies:
  * hand-rolled flag parsing over a fixed verb set, `java.net.http`
  * for transport.
  *
  *   dp3 query '<ql;>' [--skeleton|--explain]  NDJSON rows / NodeStats
  *   dp3 topics | producers | tables | databases
  *   dp3 statrange --granularity N [--start N --end N --topic T --producer P]
  *   dp3 statistics --granularity N [--group-by-producer]
  *   dp3 import --producer P <file.mcap>
  *   dp3 export --topics a,b [--output out.mcap]
  *   dp3 tail --topics a,b [--producer P] [--polls N] [--interval-ms M]
  *   dp3 delete --producer P --topic T --start N --end N
  *
  * Global flags: `--server-url URL` (default http://localhost:8089),
  * `--database DB` (default "default"), `--shared-key K` (bearer token
  * for servers running the reference's demo auth).
  *
  * `tail` is the reference's follow mode (cli/cmd/tail.go:51-82): poll
  * /export with a topic → last-seen-version map, print each NDJSON
  * delta, adopt the X-Topics versions, repeat. The reference's
  * `server` verb lives Spark-side (construct a SparkSession +
  * `Dp3Service` + `Dp3Http` and block) — it needs a JVM with Spark on
  * the classpath, not an HTTP client, so it is deliberately not routed
  * through this binary's verbs. (The library-level face of the same
  * poll is `graft.api.Dp3Service.exportSince`.)
  */
/** Contract a CLI plugin jar implements (the JVM mirror of the
  * reference's Go-plugin `PluginCmd` symbol, cli/cmd/root.go:50-80):
  * declare an implementation via the standard
  * `META-INF/services/graft.cli.CliPlugin` ServiceLoader entry inside
  * a jar installed under `<configDir>/plugins/<name>/`. The verb
  * becomes dispatchable as `dp3 <verb> ...`. */
trait CliPlugin {
  /** the verb this plugin answers to */
  def verb: String
  def run(args: Seq[String], out: PrintStream, err: PrintStream): Int
}

object Dp3Cli {

  def main(args: Array[String]): Unit =
    sys.exit(run(args, Console.out, Console.err))

  /** `~/.dp3`, like the reference (cli/cmd/root.go:44-48); the
    * `dp3.config.dir` system property overrides for tests/sandboxes. */
  private[cli] def configDir: java.nio.file.Path =
    sys.props.get("dp3.config.dir").map(java.nio.file.Paths.get(_))
      .getOrElse(java.nio.file.Paths.get(
        System.getProperty("user.home"), ".dp3"))

  /** Discover installed plugin verbs: every jar anywhere under
    * `<configDir>/plugins/` is offered to ServiceLoader (the
    * reference walks the same tree for `.so` files and looks up
    * `PluginCmd`; on the JVM the service registry IS that symbol
    * table). A missing directory means nothing to load.
    * Also hands back the URLClassLoader so the
    * dispatcher can close it once the plugin verb finishes — keeping
    * it open for the process lifetime leaks a file handle per jar and
    * keeps the jars locked on some platforms. The walk stream is
    * closed eagerly here for the same reason. */
  private[cli] def loadPluginsWithLoader(err: PrintStream)
      : (Map[String, CliPlugin], Option[java.net.URLClassLoader]) = {
    val dir = configDir.resolve("plugins")
    if (!java.nio.file.Files.isDirectory(dir)) return (Map.empty, None)
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(dir)
    val jars =
      try walk.iterator().asScala
        .filter(p => p.toString.endsWith(".jar"))
        .map(_.toUri.toURL).toArray
      finally walk.close()
    if (jars.isEmpty) return (Map.empty, None)
    val loader = new java.net.URLClassLoader(jars,
      getClass.getClassLoader)
    try {
      val verbs = java.util.ServiceLoader.load(classOf[CliPlugin], loader)
        .iterator().asScala.map(p => p.verb -> p).toMap
      (verbs, Some(loader))
    } catch {
      case e: Throwable =>
        err.println(s"plugin load failed: ${e.getMessage}")
        try loader.close() catch { case _: Throwable => }
        (Map.empty, None)
    }
  }

  /** Testable entry: returns the exit code instead of exiting. */
  def run(args: Array[String], out: PrintStream,
      err: PrintStream): Int = {
    // split "--flag value" pairs from positionals; boolean flags have
    // no value (fixed set, like the reference's cobra definitions)
    val boolFlags = Set("--skeleton", "--explain",
      "--group-by-producer", "--historical")
    val flags = scala.collection.mutable.Map[String, String]()
    val positional = scala.collection.mutable.Buffer[String]()
    var i = 0
    while (i < args.length) {
      val a = args(i)
      if (a.startsWith("--")) {
        if (boolFlags.contains(a)) { flags(a) = "true"; i += 1 }
        else if (i + 1 < args.length) { flags(a) = args(i + 1); i += 2 }
        else { err.println(s"missing value for $a"); return 2 }
      } else { positional += a; i += 1 }
    }
    val base = flags.getOrElse("--server-url", "http://localhost:8089")
      .stripSuffix("/")
    val db = flags.getOrElse("--database", "default")
    val client = HttpClient.newHttpClient()

    // --shared-key sends the reference's demo bearer token; the server
    // checks it on mutating routes only (mw.WithSharedKeyAuth)
    def authed(b: HttpRequest.Builder): HttpRequest.Builder =
      flags.get("--shared-key")
        .fold(b)(k => b.header("Authorization", s"Bearer $k"))

    def get(path: String): HttpResponse[Array[Byte]] =
      client.send(authed(HttpRequest.newBuilder(URI.create(s"$base$path")))
        .GET().build(), HttpResponse.BodyHandlers.ofByteArray())

    def post(path: String, body: String): HttpResponse[Array[Byte]] =
      client.send(authed(HttpRequest.newBuilder(URI.create(s"$base$path")))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofByteArray())

    def printOrFail(r: HttpResponse[Array[Byte]]): Int =
      if (r.statusCode() == 200) {
        val s = new String(r.body(), UTF_8)
        if (s.nonEmpty) out.println(s.stripSuffix("\n"))
        0
      } else {
        err.println(s"HTTP ${r.statusCode()}: ${new String(r.body(), UTF_8)}")
        1
      }

    def esc(s: String): String =
      s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c => c.toString
      }

    def qp(pairs: (String, Option[String])*): String = {
      val kv = pairs.collect { case (k, Some(v)) =>
        s"$k=${URLEncoder.encode(v, "UTF-8")}" }
      if (kv.isEmpty) "" else kv.mkString("?", "&", "")
    }

    var pluginRegistry: Map[String, CliPlugin] = Map.empty
    var pluginLoader: Option[java.net.URLClassLoader] = None

    try positional.toList match {
      case "query" :: ql :: Nil if flags.contains("--explain") =>
        // CLIENT-SIDE explain decode (reference: cli/cmd/query.go's
        // explain flag): request the raw MCAP stream with the
        // instrumented run's in-band "query" Metadata record and
        // parse the NodeStats out of the STREAM here — the transport
        // carries the stats exactly as the reference's executor
        // emits them (server/executor/executor.go:87-94), and the
        // client, not the server, does the unwrapping.
        val r = post(s"/databases/$db/query",
          s"""{"query": "${esc(ql)}", "mcap": true, "explain": true}""")
        if (r.statusCode() != 200) {
          err.println(s"HTTP ${r.statusCode()}: ${
            new String(r.body(), UTF_8)}")
          1
        } else {
          graft.mcap.Mcap.readMetadata(r.body())
            .find(_.name == "query").flatMap(_.kv.get("context")) match {
            case Some(ctx) => out.println(ctx); 0
            case None =>
              err.println(
                "result stream carried no \"query\" metadata record")
              1
          }
        }

      case "query" :: ql :: Nil =>
        val skeleton = flags.contains("--skeleton")
        printOrFail(post(s"/databases/$db/query",
          s"""{"query": "${esc(ql)}", "skeleton": $skeleton}"""))

      case "databases" :: Nil => printOrFail(get("/databases"))
      case "topics" :: Nil => printOrFail(get(s"/databases/$db/topics"))
      case "producers" :: Nil =>
        printOrFail(get(s"/databases/$db/producers"))
      case "tables" :: Nil =>
        printOrFail(get(s"/databases/$db/tables" + qp(
          "producer" -> flags.get("--producer"),
          "topic" -> flags.get("--topic"),
          "historical" -> flags.get("--historical"))))

      case "statrange" :: Nil =>
        printOrFail(get("/statrange" + qp(
          "granularity" -> flags.get("--granularity"),
          "start" -> flags.get("--start"),
          "end" -> flags.get("--end"),
          "topic" -> flags.get("--topic"),
          "producer" -> flags.get("--producer"))))

      case "statistics" :: Nil =>
        printOrFail(get(s"/databases/$db/statistics" + qp(
          "granularity" -> flags.get("--granularity"),
          "groupByProducer" -> flags.get("--group-by-producer"),
          "topic" -> flags.get("--topic"),
          "producer" -> flags.get("--producer"),
          "start" -> flags.get("--start"),
          "end" -> flags.get("--end"))))

      case "import" :: path :: Nil =>
        flags.get("--producer") match {
          case None => err.println("import requires --producer"); 2
          case Some(producer) =>
            // resolve like the reference: the server opens the path, so
            // hand it an absolute one (cli/cmd/import.go reads the file
            // client-side; our server and CLI share a filesystem)
            val abs = Paths.get(path).toAbsolutePath.toString
            printOrFail(post(s"/databases/$db/import",
              s"""{"producer": "${esc(producer)}", "path": "${esc(abs)}"}"""))
        }

      case "export" :: Nil =>
        flags.get("--topics") match {
          case None => err.println("export requires --topics"); 2
          case Some(ts) =>
            val topics = ts.split(",").filter(_.nonEmpty)
            val body = topics.map(t => s""""${esc(t)}"""")
              .mkString("""{"topics": [""", ", ", "]}")
            val r = post("/export", body)
            if (r.statusCode() != 200) {
              err.println(s"HTTP ${r.statusCode()}: ${
                new String(r.body(), UTF_8)}")
              1
            } else flags.get("--output") match {
              case Some(f) =>
                Files.write(Paths.get(f), r.body()); 0
              case None => out.write(r.body()); out.flush(); 0
            }
        }

      case "tail" :: Nil =>
        // the reference's follow mode (cli/cmd/tail.go:51-82): keep a
        // topic → last-seen-version map, POST it to /export, print the
        // NDJSON delta, adopt the X-Topics versions, repeat. --polls
        // bounds the loop (default: forever, like the reference);
        // --interval-ms is the 202 backoff (reference: 500 ms).
        flags.get("--topics") match {
          case None => err.println("tail requires --topics"); 2
          case Some(ts) =>
            val topics = ts.split(",").filter(_.nonEmpty).toSeq
            val polls = flags.get("--polls").map(_.toInt)
              .getOrElse(Int.MaxValue)
            val interval = flags.get("--interval-ms").map(_.toLong)
              .getOrElse(500L)
            var seen = topics.map(_ -> 0L).toMap
            var n = 0
            var rc = 0
            // an interrupt (embedding caller shutting the loop down)
            // is a clean stop, not an error — a follow loop has no
            // natural end otherwise
            while (n < polls && rc == 0
                && !Thread.currentThread().isInterrupted) try {
              val tmap = seen.toSeq.sortBy(_._1).map { case (t, v) =>
                s""""${esc(t)}": $v""" }.mkString("{", ", ", "}")
              val producer = flags.get("--producer")
                .map(p => s""", "producer": "${esc(p)}"""").getOrElse("")
              val r = post("/export",
                s"""{"format": "ndjson", "topics": $tmap$producer}""")
              r.statusCode() match {
                case 200 | 202 =>
                  val s = new String(r.body(), UTF_8)
                  if (s.nonEmpty) { out.print(s); out.flush() }
                  // adopt the server's versions AFTER printing: the
                  // body is exactly the (last-seen, latest] interval
                  r.headers().firstValue("X-Topics").ifPresent { h =>
                    seen = seen ++
                      "\"((?:[^\"\\\\]|\\\\.)*)\"\\s*:\\s*(\\d+)".r
                        .findAllMatchIn(h)
                        .map(g => g.group(1).replace("\\\"", "\"")
                          .replace("\\\\", "\\") -> g.group(2).toLong)
                  }
                  if (r.statusCode() == 202 && n + 1 < polls)
                    Thread.sleep(interval)
                case other =>
                  err.println(s"HTTP $other: ${
                    new String(r.body(), UTF_8)}")
                  rc = 1
              }
              n += 1
            } catch { case _: InterruptedException => n = polls }
            rc
        }

      case "delete" :: Nil =>
        printOrFail(get("/delete" + qp(
          "producer" -> flags.get("--producer"),
          "topic" -> flags.get("--topic"),
          "start" -> flags.get("--start"),
          "end" -> flags.get("--end"))))

      // the reference's plugin verb group (cli/cmd/plugin.go — the
      // bare verb is an empty cobra command; install copies the
      // artifact into <configDir>/plugins/<name>/, cli/cmd/install.go)
      case "plugin" :: Nil => 0

      case "plugin" :: "install" :: name :: filepath :: Nil =>
        val src = java.nio.file.Paths.get(filepath)
        if (!java.nio.file.Files.isReadable(src)) {
          err.println(s"cannot read $filepath"); 1
        } else {
          val dst = configDir.resolve("plugins").resolve(name)
          java.nio.file.Files.createDirectories(dst)
          java.nio.file.Files.copy(src, dst.resolve(src.getFileName),
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          0
        }

      case verb :: rest if {
        // installed plugin verbs dispatch like builtins; the registry
        // loads lazily (one walk of <configDir>/plugins) only after no
        // builtin matched
        val (reg, ldr) = loadPluginsWithLoader(err)
        pluginRegistry = reg; pluginLoader = ldr
        pluginRegistry.contains(verb)
      } =>
        // close the loader once dispatch completes — plugin classes
        // load lazily during run(), so closing earlier would break them
        try pluginRegistry(verb).run(rest, out, err)
        finally pluginLoader.foreach(l =>
          try l.close() catch { case _: Throwable => })

      case other =>
        // the guard above may have opened the plugin loader and then
        // not matched — release it before reporting the unknown verb
        pluginLoader.foreach(l =>
          try l.close() catch { case _: Throwable => })
        err.println(
          s"""unknown command: ${other.mkString(" ")}
             |usage: dp3 [--server-url URL] [--database DB] <verb>
             |  query '<ql;>' [--skeleton|--explain]
             |  databases | topics | producers | tables
             |  statrange --granularity N [--start N --end N --topic T --producer P]
             |  statistics --granularity N [--group-by-producer]
             |  import --producer P <file.mcap>
             |  export --topics a,b [--output out.mcap]
             |  tail --topics a,b [--producer P] [--polls N] [--interval-ms M]
             |  delete --producer P --topic T --start N --end N
             |  plugin | plugin install <name> <file.jar>  (+ installed verbs)""".stripMargin)
        2
    } catch {
      case e: java.net.ConnectException =>
        err.println(s"cannot reach $base: ${e.getMessage}")
        1
    }
  }
}
