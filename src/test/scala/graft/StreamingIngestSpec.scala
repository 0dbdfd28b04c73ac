package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.streaming.{Ingest, Lifecycle}
import graft.util.JobLog

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
    val stats = s"$base/stats"; val control = s"$base/control"

    val day = 86400000000000L
    val rows = Seq(
      ("p0", "click", 1L * day + 5L, 1L, 1.0),
      ("p0", "click", 1L * day + 5L, 1L, 1.0), // in-batch duplicate
      ("p0", "click", 2L * day + 7L, 2L, 2.0),
      ("p1", "error", 1L * day + 9L, 3L, 3.0)
    ).toDF("producer", "topic", "time", "seq", "value")
    rows.write.parquet(in)

    val stream = spark.readStream.schema(rows.schema).parquet(in)
    Ingest.startWithStats(spark, stream, out, stats, cp,
      controlDir = Some(control)).awaitTermination(120000)

    val got = new graft.model.IngestedCatalog(out, stats, control)
      .messages(spark)
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
    val cat = new graft.model.IngestedCatalog(out, stats, control)
    val served = StatTiers.mergePartials(cat.stats(spark))
    val direct = StatTiers.base(rows, 60L * 1000000000L)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("producer", "topic", "bucket", "msg_count", "num_min",
        "num_max").orderBy("bucket").collect().toSeq
    assert(key(served) == key(direct))

    // every row, stat partial, and control entry carries the batch's
    // ingest version — the reference's versionstore counter
    val data = cat.messages(spark)
    assert(data.columns.contains("ingest_version"))
    val ctl = cat.control(spark)
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

    val cat = new graft.model.IngestedCatalog(out, stats, control,
      fieldStatsDir = Some(fstats))
    // the stored per-field partials carry text min/max + trigram words
    val fcols = cat.fieldStats.get(spark).columns.toSet
    assert(Set("props__tmin", "props__tmax", "props__trgm0",
      "props__trgm1", "value__min", "value__max").subsetOf(fcols))

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

  /** (producer, topic, time, seq) rows of ingest version `v`, with a
    * slashy topic whose partition directory name is escaped. */
  private def batchDf(seqBase: Long) = Seq(
    ("p0", "click", 10L * 1000000000L, seqBase, 1.0),
    ("p0", "/veh/pose", 20L * 1000000000L, seqBase + 1, 3.0),
    ("p0", "/veh/pose", 100000L * 1000000000L, seqBase + 2, 5.0)
  ).toDF("producer", "topic", "time", "seq", "value")
    .withColumn("day", expr("time div 86400000000000"))

  /** Data, stat-partial and control rows of a store, sorted (the
    * control rows' wall-clock stamp dropped). */
  private def snapshot(cat: graft.model.IngestedCatalog) = (
    cat.messages(spark)
      .select("producer", "topic", "time", "seq", "ingest_version")
      .collect().map(_.toString).sorted.toSeq,
    cat.stats(spark).collect().map(_.toString).sorted.toSeq,
    cat.control(spark).drop("ingest_time_ns")
      .collect().map(_.toString).sorted.toSeq)

  // exactly one copy across data, stats and control; slashy topics
  // round-trip
  test("replay after a crash at written, staged or committed") {
    val clean = Files.createTempDirectory("graft-replay").toString
    def append(base: String, v: Long) = Ingest.appendVersion(
      batchDf(v * 10L), v, s"$base/out", s"$base/stats",
      Some(s"$base/control"))
    def cat(base: String) = new graft.model.IngestedCatalog(
      s"$base/out", s"$base/stats", s"$base/control")
    append(clean, 1L); append(clean, 2L)
    val want = snapshot(cat(clean))
    assert(want._1.size == 6 && want._3.size == 4)
    // a replay of a committed version is a no-op
    append(clean, 2L)
    assert(snapshot(cat(clean)) == want)
    assert(cat(clean).messages(spark)
      .where(col("topic") === "/veh/pose").count() == 4)
    for (point <- Seq("written", "staged", "committed")) {
      val base = Files.createTempDirectory(s"graft-replay-$point").toString
      append(base, 1L)
      graft.util.Maint.crashHook = (v, p) =>
        if (v == "appendVersion" && p == point)
          throw new IllegalStateException(s"crash at $p")
      try intercept[IllegalStateException](append(base, 2L))
      finally graft.util.Maint.crashHook = (_, _) => ()
      append(base, 2L) // the stream's replay of the same batch
      assert(snapshot(cat(base)) == want, s"crash at $point")
    }
  }

  test("the catalog's four faces read the schemas the directory-read " +
      "layout gave: names, order and types") {
    val base = Files.createTempDirectory("graft-schemas").toString
    val in = s"$base/in"
    val rows = Seq(
      ("p0", "click", 3600L * 1000000000L + 5L, 1L, 1.0, "alpha"),
      ("p0", "/veh/pose", 9L * 3600L * 1000000000L, 2L, 2.0, "beta"))
      .toDF("producer", "topic", "time", "seq", "value", "props")
    rows.write.parquet(in)
    Ingest.startWithStats(spark,
      spark.readStream.schema(rows.schema).parquet(in), s"$base/out",
      s"$base/stats", s"$base/cp", Some(s"$base/control"),
      Some((s"$base/fstats", Seq("value"), Seq("props"))))
      .awaitTermination(120000)
    val cat = new graft.model.IngestedCatalog(s"$base/out",
      s"$base/stats", s"$base/control", Some(s"$base/fstats"))
    // as `spark.read.parquet(<dir>)` read each tree before the manifest
    // layout (partition columns last, `day` an int)
    assert(cat.messages(spark).schema.toDDL == "producer STRING,time " +
      "BIGINT,seq BIGINT,value DOUBLE,props STRING,ts_watermark " +
      "TIMESTAMP,ingest_version BIGINT,topic STRING,day INT")
    assert(cat.stats(spark).schema.toDDL == "producer STRING,topic " +
      "STRING,bucket BIGINT,msg_count BIGINT,num_count BIGINT,num_min " +
      "DOUBLE,num_max DOUBLE,num_sum DECIMAL(38,6),min_time BIGINT," +
      "max_time BIGINT,sketch MAP<INT, BIGINT>,width_ns BIGINT," +
      "ingest_version BIGINT")
    assert(cat.fieldStats.get(spark).schema.toDDL == "producer STRING," +
      "topic STRING,bucket BIGINT,value__count BIGINT,value__min DOUBLE," +
      "value__max DOUBLE,value__sum DECIMAL(38,6),value__sketch MAP<INT, " +
      "BIGINT>,props__tmin STRING,props__tmax STRING,props__trgm0 BIGINT," +
      "props__trgm1 BIGINT,msg_count BIGINT,min_time BIGINT,max_time " +
      "BIGINT,width_ns BIGINT,ingest_version BIGINT")
    assert(cat.control(spark).schema.toDDL == "producer STRING,topic " +
      "STRING,msg_count BIGINT,min_time BIGINT,max_time BIGINT," +
      "ingest_version BIGINT,ingest_time_ns BIGINT")
    assert(cat.messages(spark).count() == 2)
  }

  test("a data dir holding parquet but no manifest fails every face " +
      "loudly") {
    val base = Files.createTempDirectory("graft-premanifest").toString
    batchDf(1L).withColumn("ingest_version", lit(1L))
      .write.partitionBy("topic", "day").parquet(s"$base/out")
    val cat = new graft.model.IngestedCatalog(
      s"$base/out", s"$base/stats", s"$base/control")
    val faces: Seq[() => Any] = Seq(() => cat.messages(spark),
      () => cat.stats(spark), () => cat.control(spark),
      () => cat.producers(spark, Seq("click")),
      () => Ingest.optimize(spark, s"$base/out"),
      () => Ingest.appendVersion(batchDf(1L), 2L, s"$base/out",
        s"$base/stats", Some(s"$base/control")))
    for (f <- faces) {
      val e = intercept[IllegalArgumentException](f())
      assert(e.getMessage.contains("built before the manifest layout"),
        e.getMessage)
    }
  }

  test("every job of appendVersion, importMcap and optimize is named " +
      "ingest:<verb>:<step>") {
    val base = Files.createTempDirectory("graft-ingest-jobs").toString
    val (out, stats, control) =
      (s"$base/out", s"$base/stats", s"$base/control")
    val w = new graft.mcap.Mcap.Writer()
    w.writeSchema(graft.mcap.Mcap.SchemaRec(1, "pkg/t", "ros1msg",
      "int16 c".getBytes))
    w.writeChannel(graft.mcap.Mcap.ChannelRec(0, 1, "click", "ros1"))
    for (t <- 1L to 3L)
      w.writeMessage(graft.mcap.Mcap.MessageRec(0, t, t, t,
        Array[Byte](t.toByte, 0)))
    Files.write(java.nio.file.Paths.get(s"$base/in.mcap"), w.finish())
    val sc = spark.sparkContext
    val (_, jobs) = JobLog.record(sc) {
      Ingest.appendVersion(batchDf(1L), 1L, out, stats, Some(control))
      Ingest.appendVersion(batchDf(10L), 2L, out, stats, Some(control))
      Ingest.importMcap(spark, "p1", s"$base/in.mcap", out, stats, control)
      Ingest.optimize(spark, out, maxFilesPerPartition = 1)
    }
    val descs = jobs.map(_.desc)
    assert(descs.nonEmpty && descs.forall(_.nonEmpty), descs)
    for (verb <- Seq("appendVersion", "importMcap", "optimize"))
      assert(descs.exists(_.startsWith(s"ingest:$verb:")), descs)
    assert(descs.forall(_.matches("ingest:[A-Za-z]+:[a-z]+")), descs)
  }

  test("stream batches and /import share one ingest-version counter: a " +
      "batch after an import lands with its stat partials") {
    val base = Files.createTempDirectory("graft-mixed").toString
    val (in, out, stats, control, cp) = (s"$base/in", s"$base/out",
      s"$base/stats", s"$base/control", s"$base/cp")
    val sec = 1000000000L
    def land(rows: Seq[(String, String, Long, Long, Double)]): Unit =
      rows.toDF("producer", "topic", "time", "seq", "value").coalesce(1)
        .write.mode("append").parquet(in)
    def trigger(): Unit = {
      val q = Ingest.startWithStats(spark, spark.readStream
          .schema(spark.read.parquet(in).schema).parquet(in),
        out, stats, cp, Some(control))
      q.awaitTermination(120000)
      q.exception.foreach(e => throw e)
    }
    land(Seq(("p0", "click", 10 * sec, 1L, 1.0),
      ("p0", "click", 20 * sec, 2L, 2.0)))
    trigger() // batch 0
    val w = new graft.mcap.Mcap.Writer()
    w.writeSchema(graft.mcap.Mcap.SchemaRec(1, "pkg/t", "ros1msg",
      "int16 c".getBytes))
    w.writeChannel(graft.mcap.Mcap.ChannelRec(0, 1, "click", "ros1"))
    for (t <- 1L to 3L)
      w.writeMessage(graft.mcap.Mcap.MessageRec(0, t, 25 * sec + t,
        25 * sec + t, Array[Byte](t.toByte, 0)))
    Files.write(java.nio.file.Paths.get(s"$base/in.mcap"), w.finish())
    assert(Ingest.importMcap(spark, "p1", s"$base/in.mcap", out, stats,
      control) == 2L)
    land(Seq(("p0", "click", 30 * sec, 3L, 3.0),
      ("p2", "view", 40 * sec, 4L, 4.0)))
    trigger() // batch 1: its own version, never a "replay" of the import
    val cat = new graft.model.IngestedCatalog(out, stats, control)
    val msgs = cat.messages(spark)
    assert(msgs.count() == 7)
    assert(msgs.where(col("producer") =!= "p1")
      .select("seq", "ingest_version").as[(Long, Long)].collect().toSet ==
      Set((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L)))
    assert(cat.stats(spark).where(col("ingest_version") === 3L)
      .select("producer").as[String].collect().toSet == Set("p0", "p2"))
    // a replay of the committed batch 1 is still a no-op
    Ingest.appendVersion(msgs.where(col("seq") === 3L)
        .select("producer", "topic", "time", "seq", "value", "day"), 1L,
      out, stats, Some(control))
    assert(cat.messages(spark).count() == 7)
  }

  test("a stream batch re-delivered after its commit (the checkpoint " +
      "commit lost) writes nothing and the stream goes on") {
    val base = Files.createTempDirectory("graft-redeliver").toString
    val (in, out, stats, cp) = (s"$base/in", s"$base/out",
      s"$base/stats", s"$base/cp")
    val rows = Seq(("p0", "click", 10L * 1000000000L, 1L, 1.0))
      .toDF("producer", "topic", "time", "seq", "value")
    rows.write.parquet(in)
    def trigger(): Unit = {
      val q = Ingest.startWithStats(spark,
        spark.readStream.schema(rows.schema).parquet(in), out, stats, cp)
      q.awaitTermination(120000)
      q.exception.foreach(e => throw e)
    }
    trigger()
    // the crash window: the store committed batch 0, the checkpoint
    // did not, so the restarted query runs batch 0 again
    Files.delete(java.nio.file.Paths.get(s"$cp/commits/0"))
    Files.deleteIfExists(java.nio.file.Paths.get(s"$cp/commits/.0.crc"))
    trigger()
    val cat = new graft.model.IngestedCatalog(out, stats, s"$base/none")
    assert(cat.messages(spark).count() == 1)
    assert(cat.manifest(spark).version == 1L)
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
    val cat = new graft.model.IngestedCatalog(out, stats, control,
      fieldStatsDir = Some(fstats))
    val p = cat.fieldStats.get(spark)
    assert(Set("props__tmin", "props__trgm0", "value__min")
      .subsetOf(p.columns.toSet))
    val row = p.where(col("ingest_version") === 1L).collect().head
    assert(row.isNullAt(row.fieldIndex("props__tmin")))

    // coverage is provable (the version wrote partials), pruning
    // engages, and a stats-backed filter stays EXACT: null stats keep
    // the bucket, the row predicate decides
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
