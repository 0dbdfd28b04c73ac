package graft

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.api.{Dp3Http, Dp3Service}
import graft.cli.Dp3Cli
import graft.model.EventsCatalog

/** CLI verbs end-to-end: Dp3Cli → HTTP → Dp3Service over the sf0.001
  * catalog (reference verb surface: cli/cmd/). */
class Dp3CliSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"
  private lazy val cat = new EventsCatalog(dir)
  private lazy val svc = new Dp3Service(cat, s => cat.messages(s))

  private lazy val tmp =
    Files.createTempDirectory("graft-cli").toString
  private lazy val http = {
    val h = new Dp3Http(svc, spark, importTarget = Some(
      Dp3Http.ImportTarget(s"$tmp/data", s"$tmp/stats",
        s"$tmp/control"))).start()
    sys.addShutdownHook(h.stop())
    h
  }

  /** run the CLI with the test server's URL prepended; returns
    * (exit code, stdout, stderr) */
  private def cli(args: String*): (Int, String, String) = {
    val outB = new ByteArrayOutputStream()
    val errB = new ByteArrayOutputStream()
    val code = Dp3Cli.run(
      (Seq("--server-url", s"http://127.0.0.1:${http.boundPort}")
        ++ args).toArray,
      new PrintStream(outB, true, "UTF-8"),
      new PrintStream(errB, true, "UTF-8"))
    (code, outB.toString("UTF-8"), errB.toString("UTF-8"))
  }

  test("query prints one NDJSON line per row; skeleton strips payload") {
    val (code, out, _) = cli("query", "from p3 click limit 3;")
    assert(code == 0)
    val lines = out.linesIterator.toSeq
    assert(lines.length == 3 && lines.forall(_.contains("\"topic\"")))
    val (c2, out2, _) =
      cli("query", "from p3 click limit 3;", "--skeleton")
    assert(c2 == 0)
    assert(out2.linesIterator.forall(l => !l.contains("\"k\"")))
  }

  test("query --explain decodes the NodeStats from the MCAP stream " +
      "client-side") {
    // the server answers "mcap": true with the raw stream carrying
    // the in-band "query" Metadata record (executor.go:87-94); the
    // CLI must parse the record out of the STREAM itself — transport
    // and decode both exercised end to end.
    val (code, out, errS) =
      cli("query", "from p3 click limit 3;", "--explain")
    assert(code == 0, errS)
    val lines = out.linesIterator.toSeq
    assert(lines.length == 1, s"one NodeStats JSON line: $out")
    // the NodeStats triple of the instrumented run: every node
    // reports node name, rows/bytes out, elapsed time
    assert(lines.head.startsWith("""{"nodes":["""), out)
    for (f <- Seq("\"node\"", "\"rows\"", "\"bytes\"", "\"time_ms\""))
      assert(lines.head.contains(f), out)
  }

  test("bad query exits non-zero with the server's message") {
    val (code, _, err) = cli("query", "from p3 click")
    assert(code == 1 && err.contains("semicolon"))
  }

  test("listings and statistics verbs") {
    val (c1, topics, _) = cli("topics")
    assert(c1 == 0 && topics.contains("click"))
    val (c2, producers, _) = cli("producers")
    assert(c2 == 0 && producers.contains("p3"))
    val (c3, stats, _) =
      cli("statistics", "--granularity", "3600000000000")
    assert(c3 == 0 && stats.linesIterator.nonEmpty)
    val (c4, sr, _) = cli("statrange", "--granularity", "60000000000",
      "--producer", "p3")
    assert(c4 == 0 && sr.linesIterator.nonEmpty)
  }

  test("import + export round-trip through the CLI") {
    val w = new graft.mcap.Mcap.Writer()
    w.writeSchema(graft.mcap.Mcap.SchemaRec(1, "pkg/t", "ros1msg",
      "int16 c".getBytes))
    w.writeChannel(graft.mcap.Mcap.ChannelRec(0, 1, "cli-topic", "ros1"))
    for (t <- 1L to 3L)
      w.writeMessage(graft.mcap.Mcap.MessageRec(0, t, t, t,
        Array[Byte](t.toByte, 0)))
    Files.write(Paths.get(s"$tmp/in.mcap"), w.finish())

    val (ci, outI, errI) =
      cli("import", s"$tmp/in.mcap", "--producer", "cli-dev")
    assert(ci == 0, errI)
    assert(outI.trim == """{"version":1}""")
    assert(new graft.model.IngestedCatalog(s"$tmp/data", s"$tmp/stats",
      s"$tmp/control").messages(spark).count() == 3)

    // export a topic from the main catalog to a file; bytes parse as MCAP
    val outFile = s"$tmp/out.mcap"
    val (ce, _, errE) =
      cli("export", "--topics", "click", "--output", outFile)
    assert(ce == 0, errE)
    val msgs = graft.mcap.Mcap.read(
      Files.readAllBytes(Paths.get(outFile))).toSeq
    assert(msgs.nonEmpty && msgs.forall(_.topic == "click"))

    val (cm, _, errM) = cli("import", s"$tmp/in.mcap")
    assert(cm == 2 && errM.contains("--producer"))
  }

  test("unknown verb prints usage and exits 2") {
    val (code, _, err) = cli("frobnicate")
    assert(code == 2 && err.contains("usage:"))
  }

  test("plugin install copies the jar; installed verbs dispatch via " +
      "ServiceLoader") {
    // sandboxed config dir (reference uses ~/.dp3; the property
    // override exists exactly for this)
    val conf = Files.createTempDirectory("graft-cli-conf")
    val prev = sys.props.get("dp3.config.dir")
    sys.props("dp3.config.dir") = conf.toString
    try {
      // bare `plugin` is a no-op success, like the reference's empty
      // cobra command (cli/cmd/plugin.go)
      assert(cli("plugin")._1 == 0)
      // build a plugin jar: only the ServiceLoader registration —
      // the class itself resolves from the test classpath (the same
      // parent-delegation a real plugin jar relies on for spark jars)
      val jar = conf.resolve("greet.jar")
      val jos = new java.util.jar.JarOutputStream(
        Files.newOutputStream(jar))
      jos.putNextEntry(new java.util.zip.ZipEntry(
        "META-INF/services/graft.cli.CliPlugin"))
      jos.write("graft.TestGreetPlugin\n".getBytes("UTF-8"))
      jos.closeEntry(); jos.close()
      val (ic, _, _) = cli("plugin", "install", "greet", jar.toString)
      assert(ic == 0)
      assert(Files.exists(
        conf.resolve("plugins").resolve("greet").resolve("greet.jar")))
      // the installed verb now dispatches like a builtin
      val (code, out, _) = cli("greet", "world")
      assert(code == 0 && out.contains("hello world"), out)
      // missing source file fails cleanly
      assert(cli("plugin", "install", "x", "/nope.jar")._1 == 1)
    } finally {
      prev match {
        case Some(v) => sys.props("dp3.config.dir") = v
        case None => sys.props -= "dp3.config.dir"
      }
    }
  }

  test("tail follows imports: v1 rows first, then exactly the v2 " +
      "delta, in stream order") {
    // a store-backed server whose data arrives exclusively via /import
    val base = Files.createTempDirectory("graft-cli-tail").toString
    def mcapBytes(times: Seq[Long]): Array[Byte] = {
      val w = new graft.mcap.Mcap.Writer()
      w.writeSchema(graft.mcap.Mcap.SchemaRec(1, "pkg/t", "ros1msg",
        "int16 c".getBytes))
      w.writeChannel(graft.mcap.Mcap.ChannelRec(0, 1, "tail-topic",
        "ros1"))
      times.foreach(t => w.writeMessage(
        graft.mcap.Mcap.MessageRec(0, t, t, t, Array[Byte](1, 0))))
      w.finish()
    }
    val icat = new graft.model.IngestedCatalog(
      s"$base/data", s"$base/stats", s"$base/control")
    val tailSvc = new Dp3Service(icat, s => icat.messages(s),
      Some(graft.api.IngestStore(icat)))
    val h = new Dp3Http(tailSvc, spark, importTarget = Some(
      Dp3Http.ImportTarget(s"$base/data", s"$base/stats",
        s"$base/control"))).start()
    try {
      def cliAt(args: String*): (Int, String, String) = {
        val outB = new ByteArrayOutputStream()
        val errB = new ByteArrayOutputStream()
        val code = Dp3Cli.run(
          (Seq("--server-url", s"http://127.0.0.1:${h.boundPort}")
            ++ args).toArray,
          new PrintStream(outB, true, "UTF-8"),
          new PrintStream(errB, true, "UTF-8"))
        (code, outB.toString("UTF-8"), errB.toString("UTF-8"))
      }
      Files.write(Paths.get(s"$base/v1.mcap"), mcapBytes(Seq(1L, 2L, 3L)))
      Files.write(Paths.get(s"$base/v2.mcap"), mcapBytes(Seq(10L, 11L)))
      val (c1, o1, e1) = cliAt("import", s"$base/v1.mcap",
        "--producer", "dev1")
      assert(c1 == 0, e1)
      assert(o1.trim == """{"version":1}""")

      // the tail loop runs concurrently, like the reference's follow
      // mode; the test thread imports v2 mid-follow and then stops the
      // loop (interrupt = clean stop)
      val outB = new ByteArrayOutputStream()
      val errB = new ByteArrayOutputStream()
      @volatile var rc = -1
      val t = new Thread(() => {
        rc = Dp3Cli.run(Array(
          "--server-url", s"http://127.0.0.1:${h.boundPort}",
          "tail", "--topics", "tail-topic", "--interval-ms", "100"),
          new PrintStream(outB, true, "UTF-8"),
          new PrintStream(errB, true, "UTF-8"))
      })
      t.start()
      def linesNow = outB.toString("UTF-8").linesIterator.toSeq
      def waitFor(n: Int): Unit = {
        val deadline = System.nanoTime() + 60L * 1000000000L
        while (linesNow.size < n && System.nanoTime() < deadline)
          Thread.sleep(100)
        assert(linesNow.size >= n,
          s"timed out at ${linesNow.size}/$n lines; stderr: $errB")
      }
      waitFor(3)
      val (c2, o2, e2) = cliAt("import", s"$base/v2.mcap",
        "--producer", "dev1")
      assert(c2 == 0, e2)
      assert(o2.trim == """{"version":2}""")
      waitFor(5)
      t.interrupt()
      t.join(30000)
      assert(!t.isAlive && rc == 0, s"tail rc=$rc stderr: $errB")

      // exactly once: v1's three rows, then only the v2 delta — no
      // re-emission of v1 on later polls — each batch in stream order
      val times = linesNow.map { l =>
        // decimal-seconds wire format: secs.nanos9
        val m = "\"log_time\":(\\d+)\\.(\\d{9})".r
          .findFirstMatchIn(l).get
        m.group(1).toLong * 1000000000L + m.group(2).toLong
      }
      assert(times == Seq(1L, 2L, 3L, 10L, 11L))
    } finally h.stop()
  }
}
