package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.api.{Dp3Http, Dp3Service, IngestStore}
import graft.model.IngestedCatalog

/** `/statrange` and `/statistics` on an ingest store served from the
  * driver-resident partials ([[graft.stats.StatRollup]]): the same rows
  * and NDJSON bytes as the Spark face, no Spark job when warm, one
  * `plan:statcache` job per committed manifest. */
class StatRollupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val S = 1000000000L
  private val Min = 60L * S

  private def service(cat: IngestedCatalog) =
    new Dp3Service(cat, s => cat.messages(s), Some(IngestStore(cat)))

  /** A catalog over the store under `base` that the Spark face serves:
    * its budget admits no stats bytes. */
  private def sparkFaced(base: String): IngestedCatalog = {
    val cat = TestSpark.ingestedCatalog(base)
    cat.statRollupBudget = 0L
    cat
  }

  private def isLocal(df: DataFrame) =
    df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  /** `send` against a server over `svc`, stopped afterwards. */
  private def withHttp(svc: Dp3Service)(send: Dp3Http => Seq[String])
      : Seq[String] = {
    val http = new Dp3Http(svc, spark).start()
    try send(http) finally http.stop()
  }

  private lazy val client = HttpClient.newHttpClient()

  /** The NDJSON lines of a GET (or, with a body, POST) to `path`. */
  private def lines(http: Dp3Http, path: String,
      body: Option[String] = None): Seq[String] = {
    val b = HttpRequest.newBuilder(
      URI.create(s"http://127.0.0.1:${http.boundPort}$path"))
    val r = client.send(body.fold(b.GET())(x =>
        b.POST(HttpRequest.BodyPublishers.ofString(x))).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(r.statusCode() == 200, r.body())
    r.body().linesIterator.toSeq
  }

  test("the driver fold answers the Spark face's rows and NDJSON bytes") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-rollup")
      .toString
    val rnd = new scala.util.Random(11)
    // over ~6 days, so 4096-min bins are several; values spanning sign
    // folds, zero, sub-MinValue magnitudes and non-finite samples
    def value(): Double = rnd.nextInt(10) match {
      case 0 => Double.NaN
      case 1 => 0.0
      case 2 => 1e-12
      case 3 => -math.exp(rnd.nextGaussian() * 2)
      case 4 => math.round(rnd.nextDouble() * 1e7) / 1e7
      case _ => math.exp(rnd.nextGaussian() * 2)
    }
    def rows(seq0: Long) = for {
      p <- Seq("p0", "p1"); t <- Seq("click", "view")
      i <- 0 until 60
    } yield (p, t, (rnd.nextInt(9000) * Min) + rnd.nextInt(60) * S,
      seq0 + i, value())
    val fixed = Seq(
      // a bucket whose values are all NaN (bucket 2), and one whose
      // only value is infinite (bucket 100)
      ("p0", "view", 2 * Min + S, 1000L, Double.NaN),
      ("p0", "view", 2 * Min + 2 * S, 1001L, Double.NaN),
      ("p1", "view", 100 * Min, 1002L, Double.PositiveInfinity),
      ("p0", "click", 10 * S, 1003L, 1.5))
    val v1 = (rows(0L) ++ fixed)
      .toDF("producer", "topic", "time", "seq", "value")
    // version 2 writes into the buckets version 1 wrote
    val v2 = (rows(2000L) ++ Seq(("p0", "click", 20 * S, 3000L, 2.5),
        ("p0", "view", 2 * Min + 3 * S, 3001L, Double.NaN)))
      .toDF("producer", "topic", "time", "seq", "value")
    TestSpark.ingest(base, 1L, v1)
    Thread.sleep(5)
    val between = System.currentTimeMillis() * 1000000L
    Thread.sleep(5)
    TestSpark.ingest(base, 2L, v2)
    val drv = service(TestSpark.ingestedCatalog(base))
    val spk = service(sparkFaced(base))

    var compared = 0
    def same(face: Dp3Service => DataFrame): Unit = {
      val (a, b) = (face(drv), face(spk))
      assert(isLocal(a) && !isLocal(b))
      assert(a.schema == b.schema)
      val order = a.columns.filter(Set("producer", "topic", "start_ns"))
        .map(col)
      val (got, want) = (a.collect().toSeq,
        b.orderBy(order: _*).collect().toSeq)
      assert(got == want, s"driver fold diverged:\n$got\nvs\n$want")
      compared += got.size
    }
    val ranges = Seq((0L, Long.MaxValue),
      // bins overlapping the range only in part at both ends
      (30 * Min + 30 * S, 5000 * Min + 17 * S),
      (1000000000L * Min, 1000000001L * Min)) // no partial: empty
    for (truncated <- Seq(false, true)) {
      if (truncated) Seq(drv, spk).foreach(
        _.truncate(spark, s"truncate p0 click $between;"))
      for (g <- Seq(1L, 64L, 4096L).map(_ * Min); (s, e) <- ranges) {
        same(_.statRange(spark, g, s, e))
        for (byProducer <- Seq(true, false))
          same(_.statistics(spark, g, byProducer, startNs = s, endNs = e))
      }
      for (byProducer <- Seq(true, false);
           (ts, ps) <- Seq((Seq("click"), Nil), (Nil, Seq("p1")),
             (Seq("view"), Seq("p0", "p1"))))
        same(_.statistics(spark, 64 * Min, byProducer, ts, ps,
          ranges(1)._1, ranges(1)._2))
    }
    assert(compared > 2000, compared)
    // the truncation hid version 1 of p0/click from both faces
    assert(drv.statRange(spark, Min).where(col("producer") === "p0"
        && col("topic") === "click" && col("start_ns") === 0L)
      .select("msg_count").as[Long].collect().toSeq == Seq(1L))
    // the all-NaN bin: null mean and min, NaN quantiles
    val nan = drv.statRange(spark, Min).where(col("producer") === "p0"
      && col("topic") === "view" && col("start_ns") === 2 * Min).head()
    assert(nan.getAs[Long]("msg_count") == 3L &&
      nan.getAs[Long]("num_count") == 0L)
    assert(nan.isNullAt(nan.fieldIndex("num_mean"))
      && nan.isNullAt(nan.fieldIndex("num_min")))
    assert(nan.getAs[Double]("p50").isNaN)

    // HTTP: the same NDJSON lines, with the route's topic/producer
    // restrictions composed onto the local frame
    val (rs, re) = ranges(1)
    val requests = Seq[(String, Option[String])](
      ("/statrange?granularity=60000000000", None),
      (s"/statrange?granularity=${64 * Min}&start=$rs&end=$re&topic=view",
        None),
      ("/statrange", Some(s"""{"granularity": ${4096 * Min}, """ +
        s""""start": $rs, "end": $re, "producer": "p1", """ +
        """"topic": "click"}""")),
      (s"/databases/default/statistics?granularity=${64 * Min}" +
        "&groupByProducer=true&topic=click&producer=p0", None),
      (s"/databases/default/statistics?granularity=${Min}" +
        s"&groupByProducer=false&topic=view&start=$rs&end=$re", None))
    def answers(svc: Dp3Service) = withHttp(svc) { http =>
      requests.flatMap { case (path, body) =>
        val ls = lines(http, path, body)
        assert(ls.nonEmpty, path)
        (path + "\n") +: ls.sorted
      }
    }
    assert(answers(drv) == answers(spk))
  }

  test("warm stat requests launch no Spark job; the first after an " +
      "append runs one plan:statcache job; over budget the Spark face " +
      "serves") {
    import spark.implicits._
    val (base, cat) = TestSpark.smallStore("graft-statcache")
    val svc = service(cat)
    val sc = spark.sparkContext
    val g = 3600L * S
    def msgs(df: DataFrame) = df.select("msg_count").as[Long].collect().sum
    def range() = svc.statRange(spark, g)
    def stats() = svc.statistics(spark, g, groupByProducer = false)

    val (cold, coldJobs) = JobLog.record(sc)(msgs(range()))
    assert(cold == 3L)
    assert(coldJobs.map(_.desc) == Seq("plan:statcache"))
    // warm: the service, and the HTTP routes writing its frames
    for (face <- Seq(() => range(), () => stats())) {
      val (n, jobs) = JobLog.record(sc)(face().collect())
      assert(n.nonEmpty)
      assert(jobs.isEmpty, jobs.map(_.desc))
    }
    val (body, httpJobs) = JobLog.record(sc)(withHttp(svc) { http =>
      lines(http, s"/statrange?granularity=$g&topic=click&producer=p0") ++
        lines(http, s"/databases/default/statistics?granularity=$g" +
          "&groupByProducer=true&topic=click")
    })
    assert(body.size == 4)
    assert(httpJobs.isEmpty, httpJobs.map(_.desc))

    // a commit invalidates the rollup: one load, and the new rows
    TestSpark.ingest(base, 2L, Seq(("p1", "click", 130L * S, 4L, 5.0))
      .toDF("producer", "topic", "time", "seq", "value"),
      fieldStats = true)
    val (after, loadJobs) = JobLog.record(sc)(msgs(range()))
    assert(after == 4L)
    assert(loadJobs.map(_.desc) == Seq("plan:statcache"))
    val (_, warmJobs) = JobLog.record(sc)(stats().collect())
    assert(warmJobs.isEmpty, warmJobs.map(_.desc))

    // over the budget: the Spark face, with the same rows
    val folded = range().collect().toSeq
    cat.statRollupBudget = 0L
    val (planned, sparkJobs) = JobLog.record(sc)(
      range().orderBy("producer", "topic", "start_ns").collect().toSeq)
    assert(!isLocal(range()))
    assert(sparkJobs.nonEmpty)
    assert(!sparkJobs.map(_.desc).contains("plan:statcache"))
    assert(planned == folded)
  }
}
