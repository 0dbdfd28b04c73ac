package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cli.Dp3Server
import graft.streaming.Ingest

/** `Dp3Server --ingest-dir`'s construction ([[Dp3Server.ingestService]])
  * serves the store it is given as it was kept. */
class Dp3ServerSpec extends AnyFunSuite {
  import TestSpark.timePruned
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val H = 3600L * 1000000000L

  /** Two hour-buckets under `base`: only the first holds props 'alpha'.
    * One ingest version, with per-field partials when `fieldStats`. */
  private def store(tag: String, fieldStats: Boolean): String = {
    val base = Files.createTempDirectory(tag).toString
    Ingest.appendVersion(Seq(
        ("p0", "click", 1L * H + 5L, 1L, 1.0, "alpha"),
        ("p0", "click", 1L * H + 9L, 2L, 2.0, "beta"),
        ("p0", "click", 9L * H + 5L, 3L, 3.0, "beta"),
        ("p0", "click", 9L * H + 9L, 4L, 4.0, "gamma"))
        .toDF("producer", "topic", "time", "seq", "value", "props")
        .withColumn("day", expr("time div 86400000000000")),
      0L, s"$base/data", s"$base/stats", Some(s"$base/control"),
      Some((s"$base/fstats", Seq("value"), Seq("props")))
        .filter(_ => fieldStats))
    base
  }

  /** A one-message MCAP file on topic `click`. */
  private def mcap(): String = {
    val f = Files.createTempFile("graft-server", ".mcap")
    val w = new graft.mcap.Mcap.Writer()
    w.writeSchema(graft.mcap.Mcap.SchemaRec(1, "pkg/t", "ros1msg",
      "int16 c".getBytes))
    w.writeChannel(graft.mcap.Mcap.ChannelRec(0, 1, "click", "ros1"))
    w.writeMessage(graft.mcap.Mcap.MessageRec(0, 1L, 2L * H, 2L * H,
      Array[Byte](1, 0)))
    Files.write(f, w.finish())
    f.toString
  }

  test("an ingest store kept with per-field partials is served with " +
      "them: text predicates prune, and an /import commits the " +
      "version's field partials") {
    val base = store("graft-server-fstats", fieldStats = true)
    val (svc, target) = Dp3Server.ingestService(spark, base)
    assert(target.fieldStats.map { case (d, n, t) => (new Path(d), n, t) }
      .contains((new Path(s"$base/fstats"), Seq("value"), Seq("props"))),
      target.fieldStats)
    val q = svc.query(spark, "from p0 click where click.props = 'alpha';")
    assert(timePruned(q))
    assert(q.select("seq").as[Long].collect().toSeq == Seq(1L))
    Ingest.importMcap(spark, "p0", mcap(), target.dataDir,
      target.statsDir, target.controlDir, target.fieldStats)
    val m = Ingest.log(spark, Map("data" -> target.dataDir)).committed("read")
    assert(m.filesOf("fstats").nonEmpty)
    assert(Ingest.gaps(m, "fstats").isEmpty, "an import left a version " +
      "without field partials")
  }

  test("an ingest store kept without per-field partials, or never " +
      "committed, is served without them") {
    val (_, plain) = Dp3Server.ingestService(spark,
      store("graft-server-plain", fieldStats = false))
    assert(plain.fieldStats.isEmpty)
    val fresh = Files.createTempDirectory("graft-server-fresh").toString
    val (_, none) = Dp3Server.ingestService(spark, fresh)
    assert(none.fieldStats.isEmpty)
  }
}
