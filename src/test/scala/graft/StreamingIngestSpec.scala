package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.streaming.{Ingest, Lifecycle}

/** Structured-Streaming ingest: watermarked dedup on the dp3 identity
  * key and day-partitioned layout (reference WAL/merge semantics:
  * server/treemgr/treemgr.go:821-961).
  */
class StreamingIngestSpec extends AnyFunSuite {
  import TestSpark.timePruned
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("streaming ingest dedups on (producer, topic, time, seq)") {
    val base = Files.createTempDirectory("graft-ingest").toString
    val in = s"$base/in"; val out = s"$base/out"; val cp = s"$base/cp"

    val day = 86400000000000L
    val rows = Seq(
      ("p0", "click", 1L * day + 5L, 1L, 1.0),
      ("p0", "click", 1L * day + 5L, 1L, 1.0), // in-batch duplicate
      ("p0", "click", 2L * day + 7L, 2L, 2.0),
      ("p1", "error", 1L * day + 9L, 3L, 3.0)
    ).toDF("producer", "topic", "time", "seq", "value")
    rows.write.parquet(in)

    val stream = spark.readStream.schema(rows.schema).parquet(in)
    val q = Ingest.start(spark, stream, out, cp)
    q.awaitTermination(120000)

    val got = spark.read.parquet(out)
    assert(got.count() == 3)
    assert(got.select("day").distinct().count() == 2)
    // partition layout is (topic, day)
    assert(new java.io.File(out).listFiles()
      .exists(_.getName.startsWith("topic=")))
  }

  test("pipeline ops run streaming-native: quality gate, scrub, dedup") {
    // the curation stages are row-local projections + a keyed
    // dropDuplicates, so the SAME operators run unmodified over a
    // stream — curation-at-ingest rather than as a batch afterthought
    val base = Files.createTempDirectory("graft-scur").toString
    val in = s"$base/in"; val out = s"$base/out"; val cp = s"$base/cp"
    val body = (1 to 30).map(i => s"w$i").mkString(" ")
    val rows = Seq(
      (0L, s"$body mail a@b.io"),
      (1L, s"$body mail a@b.io"), // exact dup
      (2L, "too short")           // fails the quality gate
    ).toDF("doc_id", "text")
    rows.write.parquet(in)
    val stream = spark.readStream.schema(rows.schema).parquet(in)
    val curated = graft.pipeline.TextOps.piiFeatures(
        graft.pipeline.TextOps.qualityFeatures(stream)
          .where(col("n_tokens") >= 25))
      .withColumn("fp", graft.pipeline.TextOps.fingerprint(col("text")))
      .dropDuplicates("fp")
    val q = curated.writeStream.format("parquet")
      .option("checkpointLocation", cp).option("path", out)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = spark.read.parquet(out).collect()
    assert(got.length == 1) // dup collapsed, short doc gated
    assert(got.head.getAs[Long]("n_emails") == 1L)
    assert(got.head.getAs[String]("redacted").endsWith("[EMAIL]"))
  }

  test("streaming stat-tier maintenance: partials merge to the truth") {
    val base = Files.createTempDirectory("graft-stats").toString
    val in = s"$base/in"; val out = s"$base/out"
    val stats = s"$base/stats"; val cp = s"$base/cp"
    val control = s"$base/control"

    val rows = Seq(
      ("p0", "click", 10L * 1000000000L, 1L, 1.0),
      ("p0", "click", 20L * 1000000000L, 2L, 3.0),
      ("p0", "click", 70L * 1000000000L, 3L, 5.0)
    ).toDF("producer", "topic", "time", "seq", "value")
    rows.write.parquet(in)

    val stream = spark.readStream.schema(rows.schema).parquet(in)
    val q = Ingest.startWithStats(spark, stream, out, stats, cp,
      controlDir = Some(control))
    q.awaitTermination(120000)

    import graft.stats.StatTiers
    val served = StatTiers.mergePartials(spark.read.parquet(stats))
    val direct = StatTiers.base(rows, 60L * 1000000000L)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("producer", "topic", "bucket", "msg_count", "num_min",
        "num_max").orderBy("bucket").collect().toSeq
    assert(key(served) == key(direct))

    // every row, stat partial, and control entry carries the batch's
    // ingest version — the reference's versionstore counter
    val data = spark.read.parquet(out)
    assert(data.columns.contains("ingest_version"))
    val ctl = spark.read.parquet(control)
    assert(ctl.columns.toSet.contains("ingest_version"))
    assert(ctl.select("producer", "topic").distinct().count() == 1)
    assert(ctl.agg(sum("msg_count")).head().getLong(0) == 3L)
  }

  test("ingested per-field stats drive trigram statfilter pruning " +
      "end to end") {
    val base = Files.createTempDirectory("graft-fstats").toString
    val in = s"$base/in"; val out = s"$base/out"
    val stats = s"$base/stats"; val fstats = s"$base/fstats"
    val cp = s"$base/cp"; val control = s"$base/control"

    // two hour-buckets: only the first contains props 'alpha'
    val H = 3600L * 1000000000L
    val rows = Seq(
      ("p0", "click", 1L * H + 5L, 1L, 1.0, "alpha"),
      ("p0", "click", 1L * H + 9L, 2L, 2.0, "beta"),
      ("p0", "click", 9L * H + 5L, 3L, 3.0, "beta"),
      ("p0", "click", 9L * H + 9L, 4L, 4.0, "gamma")
    ).toDF("producer", "topic", "time", "seq", "value", "props")
    rows.write.parquet(in)
    val stream = spark.readStream.schema(rows.schema).parquet(in)
    Ingest.startWithStats(spark, stream, out, stats, cp,
      controlDir = Some(control),
      fieldStats = Some((fstats, Seq("value"), Seq("props"))))
      .awaitTermination(120000)

    // the stored per-field partials carry text min/max + trigram words
    val fcols = spark.read.parquet(fstats).columns.toSet
    assert(Set("props__tmin", "props__tmax", "props__trgm0",
      "props__trgm1", "value__min", "value__max").subsetOf(fcols))

    val cat = new graft.model.IngestedCatalog(out, stats, control,
      fieldStatsDir = Some(fstats))
    val svc = new graft.api.Dp3Service(cat, s => cat.messages(s),
      Some(graft.api.IngestStore(cat)))
    // trigram-backed string equality: only the alpha bucket survives
    val q = svc.query(spark,
      "from p0 click where click.props = 'alpha';")
    assert(timePruned(q))
    assert(q.select("seq").collect().map(_.getLong(0)).toSeq == Seq(1L))
    // numeric pruning from the same table
    val qn = svc.query(spark, "from p0 click where click.value > 3.5;")
    assert(timePruned(qn))
    assert(qn.select("seq").collect().map(_.getLong(0)).toSeq == Seq(4L))

    // the same stored table serves per-field /statrange: summary rows
    // only, and the answer equals the raw-aggregation fallback
    val served = svc.statRangeFields(spark, H,
      numericFields = Seq("value"), textFields = Seq("props"))
    val bare = new graft.api.Dp3Service(cat, s => cat.messages(s))
      .statRangeFields(spark, H,
        numericFields = Seq("value"), textFields = Seq("props"))
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select("producer", "topic", "start_ns", "field", "num_min",
        "num_max", "text_min", "text_max")
      .collect().map(_.toSeq).toSet
    assert(key(served) == key(bare) && served.count() > 0)
  }

  test("replayed ingest version is exactly-once: a half-committed " +
      "attempt scrubs and rewrites, a committed one no-ops — slashy " +
      "topics included") {
    val base = Files.createTempDirectory("graft-replay").toString
    val (out, stats, control) =
      (s"$base/out", s"$base/stats", s"$base/control")
    def batchDf(seqBase: Long) = Seq(
      ("p0", "click", 10L * 1000000000L, seqBase, 1.0),
      // a topic with '/' — partition-dir escaping must round-trip
      // through the scrub's input_file_name-derived directory paths
      ("p0", "/veh/pose", 20L * 1000000000L, seqBase + 1, 3.0),
      ("p0", "/veh/pose", 100000L * 1000000000L, seqBase + 2, 5.0)
    ).toDF("producer", "topic", "time", "seq", "value")
      .withColumn("day", expr("time div 86400000000000"))
    Ingest.appendVersion(batchDf(1L), 1L, out, stats, Some(control))
    Ingest.appendVersion(batchDf(10L), 2L, out, stats, Some(control))
    def snapshot() = (
      spark.read.parquet(out)
        .select("producer", "topic", "time", "seq", "ingest_version")
        .collect().map(_.toString).sorted.toSeq,
      spark.read.parquet(stats).collect().map(_.toString).sorted.toSeq,
      spark.read.parquet(control)
        .drop("ingest_time_ns") // wall-clock stamp, legitimately varies
        .collect().map(_.toString).sorted.toSeq)
    val committed = snapshot()
    assert(committed._1.size == 6)
    // committed replay (crash AFTER the commit point, before the
    // checkpoint commit): intent gone, ledger has v2 — must no-op
    Ingest.appendVersion(batchDf(10L), 2L, out, stats, Some(control))
    assert(snapshot() == committed,
      "a committed replay must change nothing")
    // half-committed replay: resurrect the intent marker — as if the
    // attempt crashed between its writes and the commit point — and
    // re-deliver. The scrub must remove BOTH versions' duplicates of
    // v2 rows (data, stat partials, control) before rewriting, ending
    // at exactly one copy; the day=1 partition of /veh/pose is wholly
    // owned by v2, exercising the delete-outright branch
    val fs = new org.apache.hadoop.fs.Path(out).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // plant the debris a real crash leaves: the replayed attempt's
    // DATA write landed (duplicate v2 rows on disk), sidecars did not
    batchDf(10L).withColumn("ingest_version", lit(2L))
      .write.mode("append").partitionBy("topic", "day").parquet(out)
    assert(spark.read.parquet(out).count() == 9,
      "the planted duplicates must be visible before the heal")
    fs.mkdirs(new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(out), "_ingest_intent_v2"))
    Ingest.appendVersion(batchDf(10L), 2L, out, stats, Some(control))
    assert(snapshot() == committed,
      "a half-committed replay must scrub then rewrite to one copy")
    // a scrub of a version with no rows is a no-op (idempotence face)
    Ingest.scrubVersion(spark, 99L, out, stats, Some(control), None)
    assert(snapshot() == committed)
    // and the store still answers correctly through the catalog path
    assert(spark.read.parquet(out)
      .where(col("topic") === "/veh/pose").count() == 4)
  }

  test("scrub crash windows heal: a stranded sidecar trash sibling, a " +
      "completed-but-unflipped sidecar tmp, a half-swapped partition " +
      "dir, and an empty first-version root — no silent history " +
      "loss, no crash loop") {
    import org.apache.hadoop.fs.Path
    val base = Files.createTempDirectory("graft-scrubheal").toString
    val (out, stats, control) =
      (s"$base/out", s"$base/stats", s"$base/control")
    def batchDf(seqBase: Long) = Seq(
      ("p0", "click", 10L * 1000000000L, seqBase, 1.0),
      ("p0", "/veh/pose", 20L * 1000000000L, seqBase + 1, 3.0),
      ("p0", "/veh/pose", 100000L * 1000000000L, seqBase + 2, 5.0)
    ).toDF("producer", "topic", "time", "seq", "value")
      .withColumn("day", expr("time div 86400000000000"))
    Ingest.appendVersion(batchDf(1L), 1L, out, stats, Some(control))
    Ingest.appendVersion(batchDf(10L), 2L, out, stats, Some(control))
    def snapshot() = (
      spark.read.parquet(out)
        .select("producer", "topic", "time", "seq", "ingest_version")
        .collect().map(_.toString).sorted.toSeq,
      spark.read.parquet(stats).collect().map(_.toString).sorted.toSeq,
      spark.read.parquet(control).drop("ingest_time_ns")
        .collect().map(_.toString).sorted.toSeq)
    val committed = snapshot()
    val fs = new Path(out).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def resurrectIntent(): Unit = fs.mkdirs(
      new Path(new Path(out), "_ingest_intent_v2"))

    // (1) sidecar mid-swap, tmp lost: live stats sit ONLY in the trash
    // sibling (the crash between the flip's two renames). A bare
    // absent-root return here permanently stranded v1's partials and
    // rebuilt the sidecar with only v2's.
    assert(fs.rename(new Path(stats), new Path(stats + ".scrub-trash")))
    resurrectIntent()
    Ingest.appendVersion(batchDf(10L), 2L, out, stats, Some(control))
    assert(snapshot() == committed,
      "trash-sibling heal must restore every version's sidecar history")
    assert(!fs.exists(new Path(stats + ".scrub-trash")))

    // (2) sidecar mid-swap, tmp present: live renamed away with the
    // rewrite's tmp still on disk. The heal restores the TRASH (the
    // full original) and re-runs this call's filter-rewrite, never
    // completing the tmp — the rewrite is version-parameterized, so a
    // crashed attempt's tmp could carry a different version's filter.
    // Here the tmp deliberately filters the WRONG version (1, not the
    // replay's 2): a tmp-completing heal would strand v2's partials
    // and keep v1's stale copy; restore-and-rerun is invariant to it.
    spark.read.parquet(stats).where(col("ingest_version") =!= 1L)
      .write.parquet(stats + ".scrub")
    assert(fs.rename(new Path(stats), new Path(stats + ".scrub-trash")))
    resurrectIntent()
    Ingest.appendVersion(batchDf(10L), 2L, out, stats, Some(control))
    assert(snapshot() == committed,
      "trash-restore heal must re-run this call's rewrite, never " +
        "complete a crashed tmp whose version may differ")
    assert(!fs.exists(new Path(stats + ".scrub")) &&
      !fs.exists(new Path(stats + ".scrub-trash")))

    // (3) data-tree mid-swap: one live partition dir sits ONLY under
    // the shared .swap_old park root (the crash between original->
    // park and rewritten->live). The old delete-then-rename shape
    // lost the remainder here.
    val topicDir = fs.listStatus(new Path(out))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("topic="))
      .head.getPath
    val dayDir = fs.listStatus(topicDir)
      .filter(_.getPath.getName.startsWith("day=")).head.getPath
    val parked = new Path(new Path(new Path(out), ".swap_old"),
      s"${topicDir.getName}/${dayDir.getName}")
    fs.mkdirs(parked.getParent)
    assert(fs.rename(dayDir, parked))
    resurrectIntent()
    Ingest.appendVersion(batchDf(10L), 2L, out, stats, Some(control))
    assert(snapshot() == committed,
      "a half-swapped partition must heal from .swap_old, then re-scrub")
    assert(!fs.exists(new Path(new Path(out), ".swap_old")))

    // (4) first-version crash before any data committed: the root
    // holds ONLY the intent marker — the scrub must treat the
    // unreadable tree as nothing-to-scrub (an uncaught
    // UNABLE_TO_INFER_SCHEMA here crash-looped the stream), and the
    // rewrite must land v1 exactly once
    val (out2, stats2, control2) =
      (s"$base/out2", s"$base/stats2", s"$base/control2")
    fs.mkdirs(new Path(new Path(out2), "_ingest_intent_v1"))
    Ingest.appendVersion(batchDf(1L), 1L, out2, stats2, Some(control2))
    assert(spark.read.parquet(out2).count() == 3)
    assert(spark.read.parquet(control2)
      .select("ingest_version").distinct().collect()
      .map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("import into a fieldStats store pads missing fields with typed " +
      "nulls: coverage provable, pruning exact") {
    val base = Files.createTempDirectory("graft-fpad").toString
    val (out, stats, fstats, control) = (s"$base/out", s"$base/stats",
      s"$base/fstats", s"$base/control")
    // the MCAP carries only the raw payload — no decoded props column,
    // and importMcap synthesizes a null value column
    val w = new graft.mcap.Mcap.Writer()
    w.writeSchema(graft.mcap.Mcap.SchemaRec(1, "pkg/t", "ros1msg",
      "int16 c".getBytes))
    w.writeChannel(graft.mcap.Mcap.ChannelRec(0, 1, "click", "ros1"))
    for (t <- 1L to 3L)
      w.writeMessage(graft.mcap.Mcap.MessageRec(0, t, t, t,
        Array[Byte](t.toByte, 0)))
    Files.write(java.nio.file.Paths.get(s"$base/in.mcap"), w.finish())

    val v = Ingest.importMcap(spark, "p0", s"$base/in.mcap", out, stats,
      control, fieldStats = Some((fstats, Seq("value"), Seq("props"))))
    assert(v == 1L)
    // the partials carry the declared field shapes with null stats —
    // "no finite values", which the statfilter must treat as keep
    val p = spark.read.parquet(fstats)
    assert(Set("props__tmin", "props__trgm0", "value__min")
      .subsetOf(p.columns.toSet))
    val row = p.where(col("ingest_version") === 1L).collect().head
    assert(row.isNullAt(row.fieldIndex("props__tmin")))

    // coverage is provable (the version wrote partials), pruning
    // engages, and a stats-backed filter stays EXACT: null stats keep
    // the bucket, the row predicate decides
    val cat = new graft.model.IngestedCatalog(out, stats, control,
      fieldStatsDir = Some(fstats))
    val svc = new graft.api.Dp3Service(cat, s => cat.messages(s),
      Some(graft.api.IngestStore(cat)))
    assert(svc.query(spark,
      "from p0 click where click.value > 0.5;").count() == 0)
    assert(svc.query(spark, "from p0 click;").count() == 3)
  }

  test("watermarked windowed aggregation equals the batch base tier") {
    // the canonical Structured-Streaming shape (event-time window +
    // watermark, append mode): 60 s windows over the message stream
    // must finalize to exactly the batch tier's buckets — the
    // streaming counterpart of StatTiers.base for engines that want
    // push-based tiers instead of the foreachBatch partials
    val base = Files.createTempDirectory("graft-winagg").toString
    val in = s"$base/in"; val out = s"$base/out"; val cp = s"$base/cp"
    val rows = Seq(
      ("p0", "click", 10L * 1000000000L, 1L, 1.0),
      ("p0", "click", 20L * 1000000000L, 2L, 3.0),
      ("p0", "click", 70L * 1000000000L, 3L, 5.0),
      ("p1", "view", 75L * 1000000000L, 4L, 7.0),
      // watermark pusher so the windows above finalize
      ("p9", "noise", 4000L * 1000000000L, 9L, 0.0)
    ).toDF("producer", "topic", "time", "seq", "value")
    rows.write.parquet(in)
    val stream = spark.readStream.schema(rows.schema).parquet(in)
      .withColumn("ts", timestamp_micros(expr("time div 1000")))
      .withWatermark("ts", "10 seconds")
    val agg = stream
      .groupBy(col("producer"), col("topic"),
        window(col("ts"), "60 seconds").as("w"))
      .agg(count(lit(1)).as("msg_count"), min("value").as("num_min"),
        max("value").as("num_max"))
      .select(col("producer"), col("topic"),
        (unix_timestamp(col("w.start")) * 1000000000L).as("bucket_ns"),
        col("msg_count"), col("num_min"), col("num_max"))
    agg.writeStream.format("parquet")
      .option("checkpointLocation", cp).option("path", out)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination(120000)

    val got = spark.read.parquet(out)
      .where(col("producer") =!= "p9")
      .select("producer", "topic", "bucket_ns", "msg_count",
        "num_min", "num_max")
      .collect().map(_.toSeq).toSet
    val want = graft.stats.StatTiers.base(
        rows.where(col("producer") =!= "p9"), 60L * 1000000000L)
      .select(col("producer"), col("topic"),
        (col("bucket") * col("width_ns")).as("bucket_ns"),
        col("msg_count"), col("num_min"), col("num_max"))
      .collect().map(_.toSeq).toSet
    assert(got == want && got.nonEmpty)
  }

  test("range deletes and truncation masks") {
    val msgs = Seq(
      ("p0", "t", 100L, 1L), ("p0", "t", 200L, 2L), ("p0", "t", 300L, 3L),
      ("p1", "t", 100L, 4L)
    ).toDF("producer", "topic", "time", "seq")
    val ranges = Seq(("p0", "t", 150L, 250L))
      .toDF("producer", "topic", "start_ns", "end_ns")
    val afterDelete = Lifecycle.applyDeletes(msgs, ranges)
    assert(afterDelete.select("seq").collect().map(_.getLong(0)).toSet ==
      Set(1L, 3L, 4L))

    val truncs = Seq(("p0", "t", 2L)).toDF("producer", "topic",
      "min_version")
    val afterTrunc = Lifecycle.applyTruncations(msgs, truncs)
    assert(afterTrunc.select("seq").collect().map(_.getLong(0)).toSet ==
      Set(3L, 4L))
  }
}
