package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{IntegerType, StructType}

import graft.util.{DataFile, JobDesc, Maint, Manifest, ManifestLog}

/** Structured-Streaming ingest — dp3's WAL/merge lifecycle re-expressed
  * (reference: server/wal/walmgr.go:85-137 batches inserts,
  * server/treemgr/treemgr.go:821-961 merges them with dedup on
  * (log_time, sequence), server/mcap/filter_merge_iterator.go:14-37).
  *
  * Spark gives the WAL discipline for free: the checkpoint IS the WAL,
  * micro-batches ARE the insert batches, and a replay-safe manifest
  * commit per batch ([[appendVersion]]) replaces the reference's
  * single-writer-per-table worker pool.
  *
  * The store ([[startWithStats]], [[importMcap]]) is ONE [[ManifestLog]]
  * whose manifest lives at `<dataDir>/_manifest` — dp3's versioned root
  * (server/versionstore/versionstore.go:22-60). It lists four trees,
  * each in the directory its caller names and each with the manifest
  * version that wrote a file innermost:
  *   - `data`: `<dataDir>/topic=<t>/day=<d>/v=<v>/` — parquet
  *     partitioned by (topic, day), the analogue of the reference's
  *     time-partitioned tree. A scan of one (producer, topic,
  *     time-range) reads only that topic's listed files and prunes row
  *     groups via parquet min/max on `time`;
  *   - `stats`, `fstats`, `control`: `<dir>/v=<v>/` — the base-tier
  *     stat partials, the per-field partials and the (producer, topic)
  *     registry rows.
  * The header holds each tree's read schema and qualified directory,
  * the `ingested <N>` high-water mark, the `batch <id>` of the newest
  * committed stream micro-batch, and per committed ingest version the
  * trees it wrote. Every verb commits once: an ingest version's
  * data, partials and control rows become visible together, and a
  * reader sees the store before or after a verb, never a mix. Readers
  * ([[graft.model.IngestedCatalog]]) read only listed files with the
  * header's schema and never mutate storage.
  */
object Ingest {

  private val Trees = Map("data" -> Seq("topic", "day"), "stats" -> Nil,
    "fstats" -> Nil, "control" -> Nil)

  /** In-batch + cross-batch dedup on the dp3 identity key
    * (producer, topic, time, seq). dropDuplicatesWithinWatermark is
    * what actually bounds the dedup state: plain dropDuplicates with a
    * watermark on a column OUTSIDE the key set would retain every key
    * forever and OOM a long-running ingest. */
  def dedupe(stream: DataFrame): DataFrame =
    stream
      .withColumn("ts_watermark", timestamp_micros(
        expr("time div 1000")))
      .withWatermark("ts_watermark", "10 minutes")
      .dropDuplicatesWithinWatermark("producer", "topic", "time", "seq")

  /** Ingest with stat-tier maintenance: every micro-batch appends its
    * data AND its base-tier partial aggregates (the reference computes
    * per-leaf statistics at write time exactly like this —
    * server/treemgr/writer.go:184-203). Partials are merged at read
    * (StatTiers.tierFromPartials); associativity makes append-only
    * maintenance exact, no read-modify-write of the stats table.
    *
    * Every batch is one INGEST VERSION (the header's `ingested` mark
    * + 1, the counter [[importMcap]] shares) — the analogue of the
    * reference's versionstore counter
    * (server/versionstore/versionstore.go:22-60). Data rows, stat
    * partials, and the control table all carry it, so truncation (hide
    * everything at or below a version) masks data AND statistics
    * exactly, with no re-aggregation.
    *
    * `controlDir`, when set, maintains the (producer, topic) registry
    * per version — the reference's rootmap table
    * (server/rootmap/sqlrootmap.go:427-461). Producer discovery
    * (`from *`) and truncate-timestamp→version resolution then read
    * this kilobyte-scale table instead of scanning event data. */
  /** `fieldStats`, when set to (dir, numericFields, textFields), also
    * maintains PER-FIELD base-tier partials there — min/max/sum/sketch
    * per numeric field, min/max + trigram signature words per text
    * field ([[graft.stats.StatTiers.baseFields]]). These are the
    * write-time statistics the statfilter prunes scans with
    * ([[graft.stats.StatFilter]]; `Dp3Service` picks them up through
    * its store) — the reference computes exactly this per leaf at
    * write time (server/treemgr/writer.go:184-203,
    * server/nodestore/statistics.go:305-313,359). */
  def startWithStats(spark: SparkSession, stream: DataFrame,
      outDir: String, statsDir: String, checkpointDir: String,
      controlDir: Option[String] = None,
      fieldStats: Option[(String, Seq[String], Seq[String])] = None)
      : StreamingQuery = {
    val deduped = dedupe(stream)
      .withColumn("day", expr("time div 86400000000000"))
    deduped.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        appendVersion(batch, batchId, outDir, statsDir, controlDir,
          fieldStats)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Append stream micro-batch `batchId` as one ingest version: data
    * rows, base-tier stat partials, per-field partials and control
    * rows, all stamped with the next ingest version, written as the
    * next manifest version and committed ONCE. `batch` must carry the
    * canonical columns + `day`.
    *
    * REPLAY-SAFE (the file sink's `_spark_metadata` idiom):
    * `foreachBatch` is at-least-once, so a crash between the commit and
    * the checkpoint commit re-delivers this batch. The header records
    * the newest committed `batchId`; a batch at or below it is a replay
    * of a committed batch: it is drained (so the stream's dedup state
    * commits) and writes nothing. The replay key is the batch id, never
    * the ingest version, so [[importMcap]] versions in between never
    * mask a later batch. A crash before the commit leaves only unlisted
    * files, which the next verb's open drops. */
  private[graft] def appendVersion(batch: DataFrame, batchId: Long,
      outDir: String, statsDir: String,
      controlDir: Option[String],
      fieldStats: Option[(String, Seq[String], Seq[String])] = None)
      : Unit =
    append("appendVersion", batch, Some(batchId), outDir, statsDir,
      controlDir, fieldStats)

  /** The shared body of the stream and /import faces: appends `batch`
    * as ingest version `ingested` + 1 and returns it, or None when
    * `batchId` is a committed replay. */
  private def append(verb: String, batch: DataFrame, batchId: Option[Long],
      outDir: String, statsDir: String, controlDir: Option[String],
      fieldStats: Option[(String, Seq[String], Seq[String])])
      : Option[Long] = {
    val spark = batch.sparkSession
    val store = log(spark, Map("data" -> outDir, "stats" -> statsDir) ++
      controlDir.map("control" -> _) ++ fieldStats.map("fstats" -> _._1))
    newest(spark, outDir, store, verb)
    val prev = store.open(verb)
    val replay = for (id <- batchId; m <- prev; b <- mark(m, "batch"))
      yield b >= id
    if (replay.contains(true)) {
      // the rows are committed, but the stream's stateful dedup still
      // commits its state per batch: a batch left unread fails the query
      JobDesc(spark.sparkContext, s"ingest:$verb:replay") {
        batch.write.format("noop").mode("overwrite").save()
      }
      return None
    }
    val version = prev.flatMap(mark(_, "ingested")).getOrElse(0L) + 1
    val next = prev.fold(0L)(_.version) + 1
    val b = batch.withColumn("ingest_version", lit(version))
    b.persist()
    try {
      val src = b.drop("day", "ts_watermark")
      val trees = Seq("data" -> b,
        "stats" -> graft.stats.StatTiers.base(src, 60L * 1000000000L)
          .withColumn("ingest_version", lit(version))) ++
        fieldStats.map { case (_, numFields, textFields) =>
          // a batch may lack some declared fields (e.g. a raw MCAP
          // import with no decoded payload columns): record them as
          // typed nulls so the partials keep ONE schema across versions
          // and the statfilter sees "no finite values" for the bucket —
          // null min/max keeps the bucket (never a wrong prune) while
          // the version still writes partials, so it leaves no
          // coverage gap
          val padded = textFields.filterNot(src.columns.contains)
            .foldLeft(numFields.filterNot(src.columns.contains)
              .foldLeft(src)((d, f) =>
                d.withColumn(f, lit(null).cast("double"))))((d, f) =>
              d.withColumn(f, lit(null).cast("string")))
          "fstats" -> graft.stats.StatTiers.baseFields(padded,
              60L * 1000000000L, numFields, textFields)
            .withColumn("ingest_version", lit(version))
        } ++
        controlDir.map(_ => "control" -> b.groupBy("producer", "topic")
          .agg(count(lit(1)).as("msg_count"),
            min(col("time")).as("min_time"),
            max(col("time")).as("max_time"))
          .withColumn("ingest_version", lit(version))
          .withColumn("ingest_time_ns",
            lit(System.currentTimeMillis() * 1000000L)))
      val written = trees.map { case (t, rows) =>
        (t, rows.schema, JobDesc(spark.sparkContext, s"ingest:$verb:$t") {
          store.write(next, t, rows)
        })
      }
      // the header: what it held, each written tree's read schema,
      // the new `ingested` mark, the stream's batch mark and the trees
      // this version wrote
      val marks = Seq(Seq("ingested", version.toString)) ++
        batchId.map(id => Seq("batch", id.toString))
      val kept = prev.fold(Seq.empty[Seq[String]])(_.header.filterNot(l =>
        marks.exists(_.head == l.head) || written.exists(_._1 == l.head)))
      val wrote = written.collect { case (t, _, fs) if fs.nonEmpty => t }
      store.commit(verb, prev,
        kept ++ written.map { case (t, s, _) =>
          Seq(t, readSchema(prev, t, s).json) } ++ marks ++
          Seq("version" +: version.toString +: wrote)
            .filter(_ => wrote.nonEmpty),
        prev.fold(Seq.empty[DataFile])(_.files) ++ written.flatMap(_._3))
      Some(version)
    } finally b.unpersist()
  }

  /** `tree`'s read schema after a write of rows shaped `written`: the
    * columns as Spark reads them back (nullable; the data tree's `day`
    * partition is an int), after the columns earlier versions wrote. A
    * column that changes type fails loudly. */
  private def readSchema(prev: Option[Manifest], tree: String,
      written: StructType): StructType = {
    val now = StructType(written.map(f => f.copy(nullable = true,
      dataType = if (tree == "data" && f.name == "day") IntegerType
        else f.dataType)))
    prev.filter(_.header.exists(_.head == tree)).map(_.schema(tree))
      .fold(now) { was =>
        val clash = now.filter(f => was.find(_.name == f.name)
          .exists(_.dataType.catalogString != f.dataType.catalogString))
        require(clash.isEmpty, s"ingest: $tree columns " +
          s"${clash.map(_.name).mkString(", ")} changed type")
        StructType(was ++ now.filterNot(f => was.fieldNames.contains(f.name)))
      }
  }

  /** The ingest store whose trees live in `dirs` (`data` is the store
    * root, which holds `_manifest`). */
  private def log(spark: SparkSession, dirs: Map[String, String])
      : ManifestLog =
    new ManifestLog(new Path(dirs("data")),
      spark.sparkContext.hadoopConfiguration, Trees,
      dirs.map { case (t, d) => t -> new Path(d) })

  /** The newest manifest of `store` (None: never written); fails loudly
    * on a data dir that holds parquet but no manifest. */
  private def newest(spark: SparkSession, dataDir: String,
      store: ManifestLog, face: String): Option[Manifest] = {
    val m = store.latest
    if (m.isEmpty) {
      val root = new Path(dataDir)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      require(!fs.exists(root) || !fs.listStatus(root).exists { st =>
          val n = st.getPath.getName
          n.startsWith("topic=") || n.endsWith(".parquet")
        }, s"ingest $face: $dataDir holds a store built before the " +
          "manifest layout — rebuild it with this version")
    }
    m
  }

  /** The newest manifest of the store in `dirs`, or a loud failure. */
  private[graft] def committed(spark: SparkSession,
      dirs: Map[String, String], face: String): Manifest =
    newest(spark, dirs("data"), log(spark, dirs), face).getOrElse(
      throw new IllegalArgumentException(s"ingest $face: no manifest " +
        s"under ${dirs("data")} — not an ingest store"))

  /** The files of `tree` in `m` that `keep` selects, read with the
    * header's schema. */
  private[graft] def read(spark: SparkSession, dirs: Map[String, String],
      m: Manifest, tree: String, keep: DataFile => Boolean): DataFrame = {
    require(m.header.exists(_.head == tree),
      s"ingest: the store under ${dirs("data")} has no $tree tree")
    log(spark, dirs).read(spark, tree, m.schema(tree),
      m.filesOf(tree).filter(keep))
  }

  /** A header mark: `ingested` (the newest committed ingest version)
    * or `batch` (the newest committed stream batch id). */
  private def mark(m: Manifest, name: String): Option[Long] =
    m.header.collectFirst { case Seq(`name`, n) => n.toLong }

  /** The ingest versions that wrote data but no `tree` files. */
  private[graft] def gaps(m: Manifest, tree: String): Seq[Long] =
    m.header.collect { case "version" +: v +: ts
      if ts.contains("data") && !ts.contains(tree) => v.toLong }

  /** A data file's topic, unescaped from its partition directory. */
  private[graft] def topicOf(f: DataFile): String =
    ExternalCatalogUtils.unescapePathName(f.value("topic"))

  /** Batch MCAP import — the reference's `POST /databases/{db}/import`
    * verb (reference: server/routes/import.go:31-59 opens the named
    * file and hands it to treemgr.Receive under the request's
    * producer): parse the MCAP at `path`, override the producer,
    * dedup within the file on the dp3 identity key, and append ONE new
    * ingest version (data + stat partials + control row) in one
    * commit. The version is the header's `ingested` mark + 1 — the
    * one monotonic counter the streaming path shares, read from the
    * manifest with no Spark job. Returns the version written.
    * `fieldStats` mirrors `startWithStats`: a store maintaining
    * per-field partials must pass the same triple here, or the imported
    * version lacks field partials and the statfilter's coverage check
    * (Dp3Service.statSource) turns scan pruning off for its tables —
    * still exact, just unpruned — until it is truncated away. */
  def importMcap(spark: SparkSession, producer: String, path: String,
      outDir: String, statsDir: String, controlDir: String,
      fieldStats: Option[(String, Seq[String], Seq[String])] = None)
      : Long = {
    require(producer.nonEmpty, "missing producer")
    require(path.nonEmpty, "missing path")
    val loaded = graft.mcap.Mcap.load(spark, path)
      .withColumn("producer", lit(producer))
      .dropDuplicates("producer", "topic", "time", "seq")
      .withColumn("day", expr("time div 86400000000000"))
    // stat partials aggregate `value`; raw MCAP rows carry only the
    // binary payload, so record NaN-skipped nulls (counts and time
    // bounds stay exact; numeric stats appear once a decode step
    // projects a value column)
    val batch =
      if (loaded.columns.contains("value")) loaded
      else loaded.withColumn("value", lit(null).cast("double"))
    append("importMcap", batch, None, outDir, statsDir,
      Some(controlDir), fieldStats).get
  }

  /** One rewritten partition in an [[optimize]] pass. */
  final case class OptimizeReport(topic: String, day: Long,
      filesBefore: Int, bytesBefore: Long, targetFiles: Int)

  /** INCREMENTAL compaction in place. Streaming ingest appends one file
    * per micro-batch per partition, so hot (topic, day) partitions
    * accumulate small files. `optimize` picks only partitions whose
    * file count exceeds `maxFilesPerPartition` from the MANIFEST (no
    * listing, no data read — the same incremental-merge decision the
    * reference's WAL manager makes per table, server/treemgr/
    * treemgr.go:821-961), rewrites just their listed files as the next
    * manifest version and commits once; every other partition keeps
    * its files, listed exactly as they were.
    *
    * Output files per partition = ceil(bytes / targetBytesPerFile),
    * split by CONTIGUOUS TIME SLICES of the day (not a hash) so each
    * rewritten file covers a disjoint time range and parquet row-group
    * min/max pruning of time predicates stays sharp.
    *
    * Like the reference's merges, this assumes the single-maintainer
    * discipline: no concurrent append. Returns the rewritten-partition
    * report (empty = store already optimal). */
  def optimize(spark: SparkSession, dir: String,
      maxFilesPerPartition: Int = 4,
      targetBytesPerFile: Long = 128L << 20): Seq[OptimizeReport] = {
    val store = log(spark, committed(spark, Map("data" -> dir), "optimize")
      .dirs.map { case (t, d) => t -> new Path(new Path(dir), d).toString })
    val prev = store.open("optimize").get
    val parts = prev.filesOf("data")
      .groupBy(f => (f.value("topic"), f.part("day")))
    val targets = parts.collect { case ((t, d), fs)
        if fs.size > maxFilesPerPartition =>
      val bytes = fs.map(_.bytes).sum
      OptimizeReport(topicOf(fs.head), d, fs.size, bytes,
        Maint.sizedFileCount(bytes, targetBytesPerFile))
    }.toSeq.sortBy(r => (r.topic, r.day))
    if (targets.isEmpty) return Nil
    val redo = parts.collect { case (_, fs)
      if fs.size > maxFilesPerPartition => fs }.flatten.toSeq
    // deterministic slice → shuffle-partition placement: give each
    // (partition, slice) a salt int whose Spark hash occupies its own
    // slot of an EXPLICITLY-sized repartition (explicit numPartitions
    // keeps AQE from coalescing; injective placement makes the output
    // file count exact and keeps per-file time spans disjoint)
    val total = targets.map(_.targetFiles).sum
    val found = new Array[Int](total)
    val used = new Array[Boolean](total)
    var x = 0
    var filled = 0
    while (filled < total) {
      val slot = Math.floorMod(org.apache.spark.unsafe.hash
        .Murmur3_x86_32.hashInt(x, 42), total)
      if (!used(slot)) { used(slot) = true; found(filled) = x
        filled += 1 }
      x += 1
    }
    var gid = 0
    val sliceRows = targets.flatMap { r =>
      (0 until r.targetFiles).map { s =>
        val row = (r.topic, r.day, s.toLong, found(gid)); gid += 1; row
      }
    }
    val slices = spark.createDataFrame(sliceRows)
      .toDF("topic", "day", "_slice", "_gid")
    val nSlices = spark.createDataFrame(
      targets.map(r => (r.topic, r.day, r.targetFiles)))
      .toDF("topic", "day", "_n_slices")
    val dayNs = 86400000000000L
    // the slice id is a contiguous time range within the day so each
    // output file covers a disjoint time interval. Of an identity key
    // that several versions wrote, the NEWEST copy survives: a
    // truncation then hides the row only when it hides every copy.
    val rows = store.read(spark, "data", prev.schema("data"), redo)
      .withColumn("_copy", row_number().over(Window
        .partitionBy("producer", "topic", "time", "seq")
        .orderBy(col("ingest_version").desc)))
      .where(col("_copy") === 1)
      .join(broadcast(nSlices), Seq("topic", "day"))
      .withColumn("_slice", least(col("_n_slices") - 1,
        floor((col("time") - col("day") * dayNs)
          * col("_n_slices") / dayNs)))
      .join(broadcast(slices), Seq("topic", "day", "_slice"))
      .repartition(total, col("_gid"))
      .sortWithinPartitions(col("time"), col("seq"))
      .drop("_copy", "_n_slices", "_slice", "_gid")
    val written = JobDesc(spark.sparkContext, "ingest:optimize:data") {
      store.write(prev.version + 1, "data", rows)
    }
    store.commit("optimize", Some(prev), prev.header,
      prev.files.diff(redo) ++ written)
    targets
  }
}

/** Lifecycle operations: range deletes and truncation, as data-masking
  * tables applied at read (reference: deletes are masked-leaf inserts
  * resolved at read, server/tree/tree.go:147-207; truncation is a
  * version watermark, server/tree/iterator.go:175).
  */
object Lifecycle {

  /** Apply delete ranges: drop rows of (producer, topic) falling in
    * [start_ns, end_ns). `ranges` columns: producer, topic, start_ns,
    * end_ns. Broadcast anti-join — the ranges table is control-plane
    * tiny next to the data. */
  def applyDeletes(messages: DataFrame, ranges: DataFrame): DataFrame =
    messages.join(
      broadcast(ranges),
      messages("producer") === ranges("producer")
        && messages("topic") === ranges("topic")
        && messages("time") >= ranges("start_ns")
        && messages("time") < ranges("end_ns"),
      "left_anti")

  /** Truncate: hide everything at or below the version watermark for a
    * (producer, topic). `truncations` columns: producer, topic,
    * min_version. `versionCol` names the message column holding the
    * ingest version (reference: server/rootmap/rootmap.go:24-79 —
    * truncation is by ingest version, not event time); ingested layouts
    * carry `ingest_version`, while catalogs without ingest metadata use
    * the `seq` sequence number as the stand-in version. */
  def applyTruncations(messages: DataFrame, truncations: DataFrame,
      versionCol: String = "seq"): DataFrame =
    messages.join(
      broadcast(truncations),
      messages("producer") === truncations("producer")
        && messages("topic") === truncations("topic")
        && messages(versionCol) <= truncations("min_version"),
      "left_anti")

  /** Execute a parsed `truncate <producer> <topic> [now|ts];`
    * statement against a message frame (reference semantics: data
    * ingested at or before the watermark becomes invisible —
    * server/rootmap/sqlrootmap.go:372-404; with event-time as the
    * ingest clock this is the delete range [0, ts)). Returns the
    * masked frame; `now` (asOf = None) empties the table. */
  def applyTruncateStatement(spark: org.apache.spark.sql.SparkSession,
      messages: DataFrame, stmt: graft.ql.TruncateStmt): DataFrame = {
    import spark.implicits._
    val upper = stmt.asOf.getOrElse(Long.MaxValue)
    val ranges = Seq((stmt.producer, stmt.topic, 0L, upper))
      .toDF("producer", "topic", "start_ns", "end_ns")
    applyDeletes(messages, ranges)
  }
}
