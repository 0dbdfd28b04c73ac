package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.SparkSession

/** One read request of the serve mix: how to send it and how to check
  * the response against the generated input. The expected answer is
  * computed on first use, outside any timed region. */
final class Req(val cls: String, val ql: Option[String],
    val send: Client => HttpResult,
    expected: => HttpResult => Option[String]) {
  lazy val check: HttpResult => Option[String] = expected
}

/** The `serve` workload: read-only dp3 traffic over HTTP against a store
  * ingested at set-up. */
object Serve {
  val Classes = Seq("scan", "filter", "merge", "star", "asof", "statrange",
    "statistics")
  val Producers = 8
  val SpanNs: Long = 90L * RobotLog.NsPerMin
  val Versions = 3

  /** The log's consecutive time slices, one per version. */
  def slices: Seq[(Long, Long)] = (0 until Versions).map { v =>
    val w = SpanNs / Versions
    (RobotLog.T0 + v * w, RobotLog.T0 + (v + 1) * w)
  }

  private def query(cls: String, ql: String)(
      expected: => HttpResult => Option[String]): Req =
    new Req(cls, Some(ql),
      _.post("/databases/default/query", Json.obj(Seq("query" -> ql))),
      expected)

  private def rowsCheck(expected: Seq[Answers.Key])(r: HttpResult)
      : Option[String] = {
    val got = Answers.digest(Answers.responseKeys(r))
    val want = Answers.digest(expected)
    if (got == want) None
    else Some(s"rows/hash ${got._1}/${got._2} != expected ${want._1}/${want._2}")
  }

  private def binsCheck(expected: Map[(String, String, Long), Long])(
      r: HttpResult): Option[String] = {
    val got = Answers.responseBins(r)
    if (got == expected) None
    else Some(s"${got.size} bins (sum ${got.values.sum}) != expected " +
      s"${expected.size} bins (sum ${expected.values.sum})")
  }

  /** `perClass` seeded instances of each request class, with their
    * expected answers. */
  def requests(log: Vector[Msg], seed: Long, perClass: Int): Vector[Req] = {
    val r = new SplittableRandom(seed * 31 + 7)
    val min = RobotLog.NsPerMin
    def producer() = RobotLog.producerName(r.nextInt(Producers))
    def start(windowMin: Int) =
      RobotLog.T0 + r.nextInt((SpanNs / min).toInt - windowMin) * min
    def one(cls: String, j: Int): Req = cls match {
      case "scan" =>
        val p = producer(); val a = start(10); val b = a + 10 * min
        query(cls, s"from $p between $a and $b imu limit 200;")(
          rowsCheck(Answers.merged(log, Seq(p), Seq("imu"), Some((a, b)),
            limit = Some(200))))
      case "filter" =>
        val p = producer(); val x = 2.5 + 0.1 * j
        query(cls, s"from $p imu where imu.value > $x;")(
          rowsCheck(Answers.merged(log, Seq(p), Seq("imu"), None,
            _.value > x)))
      case "merge" =>
        val p = producer(); val a = start(10); val b = a + 10 * min
        query(cls, s"from $p between $a and $b imu, odom;")(
          rowsCheck(Answers.merged(log, Seq(p), Seq("imu", "odom"),
            Some((a, b)))))
      case "star" =>
        val a = start(5); val b = a + 5 * min
        query(cls, s"from * between $a and $b gps, diag;")(
          rowsCheck(Answers.merged(log,
            (0 until Producers).map(RobotLog.producerName).sorted,
            Seq("gps", "diag"), Some((a, b)))))
      case "asof" =>
        val p = producer(); val a = start(20); val b = a + 20 * min
        val thrMs = 500
        lazy val (lefts, total) = Answers.asof(log, p, "gps", "imu", (a, b),
          thrMs * 1000000L)
        query(cls, s"from $p between $a and $b gps precedes imu " +
            s"by less than $thrMs milliseconds;")({ res: HttpResult =>
          val keys = Answers.responseKeys(res)
          val gotLefts = keys.filter(_._2 == "gps")
          if (keys.size == total && gotLefts == lefts) None
          else Some(s"asof ${keys.size} rows/${gotLefts.size} lefts != " +
            s"expected $total/${lefts.size}")
        })
      case "statrange" =>
        // 1 min, 10 min and 1 h requests over growing windows
        val (gMin, windowMin, p, t) = j % 3 match {
          case 0 => (1, 30, Some(producer()), Some("imu"))
          case 1 => (10, 60, Some(producer()), None)
          case _ => (60, (SpanNs / min).toInt - 30, None, Some("imu"))
        }
        val a = start(windowMin); val b = a + windowMin * min
        val g = gMin * min
        val body = Seq("granularity" -> g, "start" -> a, "end" -> b) ++
          p.map("producer" -> _) ++ t.map("topic" -> _)
        new Req(cls, None, _.post("/statrange", Json.obj(body)),
          binsCheck(Answers.bins(log, Answers.tierWidth(g), (a, b), p, t)))
      case "statistics" =>
        val a = start(60); val b = a + 60 * min
        val g = 10 * min
        val t = Seq("gps", "odom", "diag")(j % 3)
        new Req(cls, None, _.get("/databases/default/statistics", Seq(
            "granularity" -> g.toString, "groupByProducer" -> "true",
            "topic" -> t, "start" -> a.toString, "end" -> b.toString)),
          binsCheck(Answers.bins(log, Answers.tierWidth(g), (a, b), None,
            Some(t))))
    }
    for (cls <- Classes.toVector; j <- 0 until perClass) yield one(cls, j)
  }

  /** Seeded rounds over the request instances: each round sends one
    * instance of every class (instances rotate), in a fresh order, so
    * every class keeps an equal share however many rounds run. */
  def schedule(reqs: Vector[Req], seed: Long): Iterator[Vector[Req]] = {
    val r = new SplittableRandom(seed * 17 + 3)
    val byClass = Classes.map(c => reqs.filter(_.cls == c))
    Iterator.from(0).map { round =>
      byClass.map(qs => qs(round % qs.size)).toVector
        .map(q => (r.nextLong(), q)).sortBy(_._1).map(_._2)
    }
  }
}

final class ServeState(val store: LogStore, val log: Vector[Msg],
    val http: graft.api.Dp3Http, val client: Client,
    val reqs: Vector[Req], val sched: Iterator[Vector[Req]],
    val ingested: Int, val storeAfterTrigger: (Long, Long),
    val optimized: Seq[graft.streaming.Ingest.OptimizeReport])

/** The serve workload's set-up and loop. Set-up is the ingest path: the
  * generated log lands as `Serve.Versions` files and one `AvailableNow`
  * trigger ingests them, one version each (dedup, data, stat and
  * per-field stat partials, control rows). `Ingest.optimize` compacts the
  * data, a `Dp3Http` starts over the store and one producer's `diag`
  * table is truncated. The loop is one client sending rounds of the
  * seeded request mix. */
final class ServeWorkload(b: Bench) extends Workload[ServeState] {
  type State = ServeState
  val PerClass = 3
  val nominalCycleS = 7.0
  private def truncated(seed: Long) =
    RobotLog.producerName(Math.floorMod(seed, Serve.Producers.toLong).toInt)

  /** Land the slices (one file, so one version, each) and ingest them
    * with one `AvailableNow` trigger. Returns the messages. */
  private def ingest(store: LogStore, rec: Recorder): Vector[Msg] = {
    val vs = Serve.slices
    val msgs = vs.map { case (from, to) =>
      val m = RobotLog.window(b.seed, Serve.Producers, from, to)
      rec.run("bench", "land", read = false)(store.land(m))(_ => None)
      m
    }
    rec.run("streaming", "trigger", read = false)(store.trigger()) { ps =>
      val rows = ps.map(_.numInputRows).sum
      Some(s"${ps.size} versions of $rows rows, landed ${vs.size} of " +
        s"${msgs.map(_.size).sum}").filter(_ =>
          ps.size != vs.size || rows != msgs.map(_.size).sum)
    }
    msgs.flatten.toVector
  }

  def setup(dir: String, rec: Recorder): State = {
    val store = new LogStore(b.spark, dir)
    val landed = ingest(store, rec)
    val afterTrigger = LogStore.du(store.data) match { case (b0, f0) =>
      Seq(store.stats, store.fstats, store.control).map(LogStore.du)
        .foldLeft((b0, f0)) { case ((x, y), (u, v)) => (x + u, y + v) } }
    val optimized = rec.run("streaming", "optimize", read = false)(
      graft.streaming.Ingest.optimize(b.spark, store.data))(_ => None)
    val http = store.http(store.service())
    val client = new Client(s"http://127.0.0.1:${http.boundPort}")
    val t = truncated(b.seed)
    rec.run("api", "truncate", read = false)(client.post(
      "/databases/default/query",
      Json.obj(Seq("query" -> s"truncate $t diag now;"))))(_ => None)
    val log = RobotLog.distinct(landed)
    val visible = log.filterNot(m => m.producer == t && m.topic == "diag")
    val reqs = Serve.requests(visible, b.seed, PerClass)
    new ServeState(store, visible, http, client, reqs,
      Serve.schedule(reqs, b.seed), log.size, afterTrigger,
      optimized.getOrElse(Nil))
  }

  /** The control table (every version) must account for every visible
    * message; then one request of each class. */
  def warmUp(st: State, rec: Recorder): Unit = {
    rec.run("api", "warmup.tables", read = false)(st.client.get(
        "/databases/default/tables", Seq("historical" -> "true"))) { r =>
      val n = r.lines.flatMap(Json.field(_, "msg_count")).map(_.toLong).sum
      Some(s"control counts $n messages, expected ${st.log.size}")
        .filter(_ => n != st.log.size)
    }
    st.reqs.groupBy(_.cls).values.map(_.head).foreach { q =>
      rec.run("api", s"warmup.${q.cls}", read = false)(q.send(st.client))(
        q.check)
    }
  }

  def prepare(st: State): Unit = st.reqs.foreach(_.check)

  /** One round: every request class once, in a seeded order. */
  def cycle(st: State, rec: Recorder, i: Int): Unit =
    st.sched.next().foreach { q =>
      rec.run("api", q.cls, read = true)(q.send(st.client))(q.check)
    }

  /** Instance 0 of every class, in class order: the same requests on
    * every call. */
  def reads(st: State, rec: Recorder): Unit =
    Serve.Classes.flatMap(c => st.reqs.find(_.cls == c)).foreach { q =>
      rec.run("api", q.cls, read = true)(q.send(st.client))(q.check)
    }

  def close(st: State): Unit = st.http.stop()

  /** Distinct messages per second of trigger wall time. */
  private def ingestPerS(st: State, setupRec: Recorder): Double =
    st.ingested / (setupRec.total("trigger") / 1000)

  /** Store bytes (checkpoint included, landing files excluded) per
    * distinct message ingested. */
  def storeBytesPerItem(st: State): Double =
    (st.store.du()._1 - st.store.du(st.store.in)._1).toDouble / st.ingested

  def detail(st: State, setupRec: Recorder, rec: Recorder)
      : Seq[(String, Any)] =
    Serve.Classes.map(c => s"${c}_p50_ms" -> rec.p50(c).getOrElse(0.0)) ++
      Seq("ingest_msgs_per_s" -> ingestPerS(st, setupRec),
        "trigger_ms" -> setupRec.total("trigger"),
        "optimize_ms" -> setupRec.total("optimize"),
        "messages" -> st.log.size,
        "per_class_n" -> Serve.Classes.map(c => c -> rec.of(c).size).toMap)

  /** The ingest path's metrics, all from the traced set-up. */
  def layers(st: State, traces: Seq[OpTrace], loop: Seq[OpTrace],
      tracer: Tracer): Seq[(String, Double)] = {
    val ps = tracer.progress.map(_.progress).filter(_.numInputRows > 0).toSeq
    def dur(keys: String*) = Stats.median(ps.map(p =>
      keys.map(k => Option(p.durationMs.get(k)).map(_.toDouble)
        .getOrElse(0.0)).sum))
    val v = Serve.Versions.toDouble
    Seq(
      "streaming.trigger_ms" -> dur("triggerExecution"),
      "streaming.add_batch_ms" -> dur("addBatch"),
      "streaming.planning_ms" -> dur("queryPlanning"),
      "streaming.commit_ms" -> dur("commitOffsets", "walCommit"),
      "streaming.jobs_per_version" ->
        traces.filter(_.op.cls == "trigger").map(_.jobs.size).sum / v,
      "streaming.state_rows" -> ps.lastOption.map(_.stateOperators
        .map(_.numRowsTotal).sum.toDouble).getOrElse(0.0),
      "streaming.bytes_per_version" -> st.storeAfterTrigger._1 / v,
      "streaming.files_per_version" -> st.storeAfterTrigger._2 / v,
      "streaming.checkpoint_bytes" -> st.store.du(st.store.checkpoint)._1
        .toDouble,
      "streaming.optimize_ms" -> Metrics.msOf(traces, "optimize"),
      "streaming.optimize_bytes_rewritten" ->
        st.optimized.map(_.bytesBefore).sum.toDouble,
      "model.data_files" -> LogStore.dataFiles(st.store.data).toDouble,
      "api.truncate_ms" -> Metrics.msOf(traces, "truncate"))
  }

  def qlTexts(st: State): Seq[String] = st.reqs.flatMap(_.ql)
}
