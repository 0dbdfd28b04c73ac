package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.streaming.Ingest
import graft.tools.Inspect

/** Incremental compaction (`Ingest.optimize`): only small-file
  * partitions rewrite, data is bit-identical, untouched partitions
  * keep their listed files, and the rewritten files carry disjoint time
  * ranges (the row-group-pruning contract). The reference's analogue
  * is the WAL manager's per-table incremental merge
  * (server/treemgr/treemgr.go:821-961). Stores are built through
  * `Ingest.appendVersion`, one ingest version per batch.
  */
class OptimizeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val day = 86400000000000L

  /** A fresh store with each batch of (producer, topic, time, seq,
    * value) rows appended as the next ingest version. */
  private def store(batches: Seq[Seq[(String, String, Long, Long, Double)]])
      : String = {
    val base = Files.createTempDirectory("graft-opt").toString
    batches.zipWithIndex.foreach { case (b, i) => TestSpark.ingest(base,
      i + 1L, b.toDF("producer", "topic", "time", "seq", "value")) }
    base
  }

  private def rows(base: String): Seq[String] =
    TestSpark.ingestedCatalog(base).messages(spark)
      .collect().map(_.toString).sorted.toSeq

  /** The listed data files of partition (topic, day), with bytes. */
  private def files(base: String, topic: String, d: Long)
      : Set[graft.util.DataFile] =
    TestSpark.ingestedCatalog(base).manifest(spark).filesOf("data")
      .filter(f => Ingest.topicOf(f) == topic && f.part("day") == d).toSet

  test("optimize rewrites only small-file partitions, exactly") {
    // hot partition: 6 micro-batch appends of 1 row each, spread over
    // the day so time slicing is observable; cold partition: one file,
    // must not be touched
    val base = store((0 until 6).map(i =>
      Seq(("p0", "click", 1L * day + i * (day / 8) + 1L, i.toLong, i * 1.0))) :+
      Seq(("p1", "error", 2L * day + 9L, 99L, 9.0)))
    val before = rows(base)
    val hotBefore = files(base, "click", 1L)
    val coldBefore = files(base, "error", 2L)
    assert(hotBefore.size == 6 && coldBefore.size == 1)

    // target half the partition bytes per file → 2 output slices
    val hotBytes = hotBefore.toSeq.map(_.bytes).sum
    val report = Ingest.optimize(spark, s"$base/data",
      maxFilesPerPartition = 4, targetBytesPerFile = (hotBytes + 1) / 2)
    assert(report.map(r => (r.topic, r.day, r.filesBefore,
      r.targetFiles)) == Seq(("click", 1L, 6, 2)))

    // data unchanged, cold partition's files untouched, hot shrunk
    assert(rows(base) == before)
    assert(files(base, "error", 2L) == coldBefore)
    val hotAfter = files(base, "click", 1L)
    assert(hotAfter.size == 2 && hotAfter.intersect(hotBefore).isEmpty)

    // each rewritten file covers a disjoint time slice (footer check)
    val rg = Inspect.rowGroups(spark, s"$base/data")
      .where(col("topic") === "click").collect()
    assert(rg.length == 2)
    val spans = rg.map(r => (r.getAs[Long]("time_min"),
      r.getAs[Long]("time_max"))).sortBy(_._1)
    assert(spans.sliding(2).forall {
      case Array((_, aMax), (bMin, _)) => aMax < bMin
      case _ => true
    })

    // second pass: nothing left to do
    assert(Ingest.optimize(spark, s"$base/data",
      maxFilesPerPartition = 4).isEmpty)
  }

  test("optimize compacts a dp3-style topic whose partition directory " +
      "name is escaped") {
    val base = store((0 until 6).map(i =>
      Seq(("p0", "/imu", 1L * day + i * 1000L, i.toLong, i * 1.0))))
    val before = rows(base)
    assert(files(base, "/imu", 1L).size == 6)
    val report = Ingest.optimize(spark, s"$base/data",
      maxFilesPerPartition = 4)
    assert(report.map(r => (r.topic, r.day, r.filesBefore)) ==
      Seq(("/imu", 1L, 6)))
    assert(files(base, "/imu", 1L).size == 1)
    assert(rows(base) == before)
  }

  test("property: random append histories optimize to the same data, " +
      "idempotently, cold partitions untouched") {
    val rnd = new scala.util.Random(20260813L)
    for (trial <- 0 until 3) {
      val topics = Seq("click", "error", "view")
      // random micro-batch history: 1-row appends scattered over
      // partitions, with some repeated identity keys
      val appended = (0 until 12 + rnd.nextInt(10)).map { i =>
        val t = topics(rnd.nextInt(topics.length))
        val d = 1L + rnd.nextInt(3)
        val time = d * day + rnd.nextInt(86400) * 1000000000L
        val seq = rnd.nextInt(8).toLong // collisions are duplicates
        ("p" + rnd.nextInt(3), t, time, seq, i * 1.0)
      }
      val base = store(appended.grouped(3).toSeq)
      val threshold = 1 + rnd.nextInt(4)
      val before = TestSpark.ingestedCatalog(base).messages(spark)
        .dropDuplicates("producer", "topic", "time", "seq")
        .collect().map(_.toString).sorted.toSeq
      val parts = TestSpark.ingestedCatalog(base).manifest(spark)
        .filesOf("data").groupBy(f => (Ingest.topicOf(f), f.part("day")))
      val cold = parts.filter(_._2.size <= threshold)
      val report = Ingest.optimize(spark, s"$base/data",
        maxFilesPerPartition = threshold)
      // rewritten set = exactly the partitions over the threshold
      assert(report.map(r => (r.topic, r.day)).toSet ==
        parts.filter(_._2.size > threshold).keySet)
      // hot partitions post-state: dedup'd data identical
      val after = rows(base)
      assert(after == before, s"trial $trial data drift")
      // cold partitions keep their exact files
      cold.foreach { case ((t, d), fs) =>
        assert(files(base, t, d) == fs.toSet) }
      // a second pass finds nothing (thresholds unchanged)
      assert(Ingest.optimize(spark, s"$base/data",
        maxFilesPerPartition = threshold).isEmpty)
    }
  }

  test("optimize keeps the newest copy of a key two versions wrote: a " +
      "truncation of the older version hides none of them") {
    def batch(base: Double) = (0 until 50).map(i =>
      ("p0", "click", 1L * day + i * 1000L, i.toLong, base + i))
    val base = store(Seq(batch(0.0), batch(1000.0)))
    Ingest.optimize(spark, s"$base/data", maxFilesPerPartition = 1)
    val visible = graft.streaming.Lifecycle.applyTruncations(
      TestSpark.ingestedCatalog(base).messages(spark),
      Seq(("p0", "click", 1L)).toDF("producer", "topic", "min_version"),
      versionCol = "ingest_version")
    assert(visible.select("seq", "value").as[(Long, Double)].collect()
      .toMap == (0 until 50).map(i => i.toLong -> (1000.0 + i)).toMap)
  }

  test("optimize dedups on the identity key like the reference's merge") {
    // the same row appended by 5 "batches"
    val base = store(Seq.fill(5)(Seq(("p0", "click", 1L * day + 5L, 1L, 1.0))))
    Ingest.optimize(spark, s"$base/data", maxFilesPerPartition = 2)
    assert(TestSpark.ingestedCatalog(base).messages(spark).count() == 1)
  }
}
