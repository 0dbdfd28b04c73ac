package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured-Streaming ingest — dp3's WAL/merge lifecycle re-expressed
  * (reference: server/wal/walmgr.go:85-137 batches inserts,
  * server/treemgr/treemgr.go:821-961 merges them with dedup on
  * (log_time, sequence), server/mcap/filter_merge_iterator.go:14-37).
  *
  * Spark gives the WAL discipline for free: the checkpoint IS the WAL,
  * micro-batches ARE the insert batches, and exactly-once file-sink
  * semantics replace the single-writer-per-table worker pool.
  *
  * Layout: parquet partitioned by (topic, day) — the analogue of the
  * reference's time-partitioned tree. At 100 TB a scan of one
  * (producer, topic, time-range) prunes to the matching day partitions
  * via partition values and to row groups via parquet min/max on
  * `time`, which the writer keeps clustered by sorting within
  * partitions before write.
  */
object Ingest {

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

  /** Start the ingest pipeline: canonical message stream → dedup →
    * day-partitioned parquet. */
  def start(spark: SparkSession, stream: DataFrame, outDir: String,
      checkpointDir: String): StreamingQuery = {
    val deduped = dedupe(stream)
      .withColumn("day", expr("time div 86400000000000"))
    deduped.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .partitionBy("topic", "day")
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Ingest with stat-tier maintenance: every micro-batch appends its
    * data AND its base-tier partial aggregates (the reference computes
    * per-leaf statistics at write time exactly like this —
    * server/treemgr/writer.go:184-203). Partials are merged at read
    * (StatTiers.tierFromPartials); associativity makes append-only
    * maintenance exact, no read-modify-write of the stats table.
    *
    * Every batch is one INGEST VERSION (monotonic, = batchId + 1) —
    * the analogue of the reference's versionstore counter
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
        appendVersion(batch, batchId + 1, outDir, statsDir, controlDir,
          fieldStats)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Append one ingest version: data rows, base-tier stat partials,
    * and the control-table row all stamped with `version` — the shared
    * body of the streaming micro-batch path and the batch /import
    * verb. `batch` must carry the canonical columns + `day`.
    *
    * REPLAY-SAFE: `foreachBatch` is at-least-once, so a crash between
    * any write below and the checkpoint commit re-delivers this
    * version — plain appends would silently duplicate data rows,
    * DOUBLE the stat partials, and double-count the control registry.
    * The protocol (the replay safety [[CorpusDedup.appendBatch]] gets
    * from its sidecars' manifest commits, here kept by an intent marker
    * because the data tree is not partitioned by version):
    *
    *   1. an INTENT marker (`_ingest_intent_v<N>` under the data root,
    *      a metadata-only touch) brackets the writes — created first,
    *      deleted after the LAST write;
    *   2. on entry, a surviving intent marks a half-committed prior
    *      attempt: [[scrubVersion]] removes every row of this version
    *      from all trees, then the writes rerun cleanly;
    *   3. no intent + the version already present in the commit ledger
    *      (the kilobyte-scale control table when kept, else the stat
    *      partials — both written after the data) = the prior attempt
    *      fully committed and only the checkpoint commit was lost:
    *      skip, the replay is a no-op.
    *
    * The ledger probe only fires for the FIRST version after a
    * (re)start: within one process, batch N's checkpoint commits
    * before batch N+1 starts, so later versions are provably fresh
    * (tracked per data root in [[appendedHighWater]]) and the happy
    * path costs two filesystem metadata calls. */
  private[graft] def appendVersion(batch: DataFrame, version: Long,
      outDir: String, statsDir: String,
      controlDir: Option[String],
      fieldStats: Option[(String, Seq[String], Seq[String])] = None)
      : Unit = {
    import org.apache.hadoop.fs.Path
    val spark = batch.sparkSession
    val intent = new Path(new Path(outDir), s"_ingest_intent_v$version")
    val fs = intent.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val provenFresh = appendedHighWater.synchronized {
      appendedHighWater.get(outDir).exists(_ < version)
    }
    if (!provenFresh) {
      if (fs.exists(intent))
        scrubVersion(spark, version, outDir, statsDir, controlDir,
          fieldStats.map(_._1))
      else if (hasVersion(spark, controlDir.getOrElse(statsDir),
          version)) {
        appendedHighWater.synchronized {
          appendedHighWater(outDir) = version }
        return // fully committed — the replay is a no-op
      }
    }
    fs.mkdirs(intent)
    val b = batch.withColumn("ingest_version", lit(version))
    b.persist()
    b.write.mode("append").partitionBy("topic", "day")
      .parquet(outDir)
    graft.stats.StatTiers.base(b.drop("day", "ts_watermark"),
        60L * 1000000000L)
      .withColumn("ingest_version", lit(version))
      .write.mode("append").parquet(statsDir)
    fieldStats.foreach { case (dir, numFields, textFields) =>
      // a batch may lack some declared fields (e.g. a raw MCAP import
      // with no decoded payload columns): record them as typed nulls so
      // the partials keep ONE schema across versions and the statfilter
      // sees "no finite values" for the bucket — null min/max keeps the
      // bucket (never a wrong prune) while the version still writes
      // partials, so the coverage witness stays provable
      val src = b.drop("day", "ts_watermark")
      val padded = textFields.filterNot(src.columns.contains)
        .foldLeft(numFields.filterNot(src.columns.contains)
          .foldLeft(src)((d, f) =>
            d.withColumn(f, lit(null).cast("double"))))((d, f) =>
          d.withColumn(f, lit(null).cast("string")))
      graft.stats.StatTiers.baseFields(padded,
          60L * 1000000000L, numFields, textFields)
        .withColumn("ingest_version", lit(version))
        .write.mode("append").parquet(dir)
    }
    controlDir.foreach { cd =>
      b.groupBy("producer", "topic")
        .agg(count(lit(1)).as("msg_count"),
          min(col("time")).as("min_time"),
          max(col("time")).as("max_time"))
        .withColumn("ingest_version", lit(version))
        .withColumn("ingest_time_ns",
          lit(System.currentTimeMillis() * 1000000L))
        .write.mode("append").parquet(cd)
    }
    b.unpersist()
    fs.delete(intent, true) // commit point for the replay protocol
    appendedHighWater.synchronized {
      appendedHighWater(outDir) = version }
    ()
  }

  /** per-process append high-water per data root — see the replay
    * protocol in [[appendVersion]] */
  private val appendedHighWater =
    scala.collection.mutable.Map[String, Long]()

  /** True iff any row stamped `version` exists under `dir` (absent
    * tree = absent version) — the commit-ledger probe. */
  private def hasVersion(spark: SparkSession, dir: String,
      version: Long): Boolean =
    try {
      !spark.read.parquet(dir)
        .where(col("ingest_version") === version).isEmpty
    } catch {
      case _: org.apache.spark.sql.AnalysisException => false
    }

  /** Heal a half-committed ingest attempt: remove EVERY row stamped
    * `version` from the data tree and each present sidecar, leaving
    * the store exactly as if the attempt never ran. Idempotent (a
    * crash mid-scrub re-scrubs on the next replay); single-writer
    * discipline assumed, like [[optimize]]. */
  def scrubVersion(spark: SparkSession, version: Long, outDir: String,
      statsDir: String, controlDir: Option[String],
      fieldStatsDir: Option[String]): Unit = {
    scrubPartitionedVersion(spark, outDir, version)
    scrubSidecarVersion(spark, statsDir, version)
    fieldStatsDir.foreach(scrubSidecarVersion(spark, _, version))
    controlDir.foreach(scrubSidecarVersion(spark, _, version))
  }

  /** Remove `version` rows from the (topic, day)-partitioned data
    * tree. Affected partition DIRECTORIES enumerate from the dirty
    * files' own paths (`input_file_name` — never hand-built: topic
    * values escape in dir names, and dp3 topics carry '/'), the
    * pushed version filter prunes the probe to the replay's own files
    * via row-group stats, and each affected partition rewrites under
    * a temp tree then swaps via metadata renames ([[optimize]]'s
    * write-new-then-flip; untouched partitions keep their files). A
    * partition the version wholly owned has no rewritten remainder:
    * its original just stays parked until the commit delete.
    *
    * Crash-safe: an original partition dir is NEVER deleted before
    * the scrub commits — each swap renames it under [[SwapOldDir]]
    * (`.swap_old`, shared with [[optimize]]; delete-then-rename was
    * unrecoverable: a crash between the two
    * left the remainder's only copy in a tmp tree the next attempt's
    * entry delete destroys). Entry recovery restores any original
    * whose live dir went missing mid-swap, so every crash window
    * replays from a complete tree. */
  private def scrubPartitionedVersion(spark: SparkSession, dir: String,
      version: Long): Unit = {
    import org.apache.hadoop.fs.Path
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return
    val tmp = new Path(root, ".scrub_tmp")
    val trashRoot = new Path(root, SwapOldDir)
    // heal a prior crashed swap (this verb's OR optimize's — both
    // park under the shared .swap_old) BEFORE touching tmp: a parked
    // original whose live counterpart is missing goes back (version
    // rows included — the re-probe below finds them dirty again)
    healParkedPartitions(fs, root, trashRoot)
    fs.delete(tmp, true)
    val dirtyDirs =
      try {
        spark.read.parquet(dir)
          .where(col("ingest_version") === version)
          .select(input_file_name().as("_f")).distinct()
          .collect().map(r => new Path(
            new java.net.URI(r.getString(0))).getParent)
          .distinct.toSeq
      } catch {
        // zero readable parquet files under a root the intent marker
        // itself created (first-version crash before any data commit):
        // nothing to scrub — an uncaught UNABLE_TO_INFER_SCHEMA here
        // crash-looped the stream on replay. ONLY that condition is
        // benign: any other analysis failure (missing ingest_version
        // column, schema-merge conflict) means the store is not in
        // the shape the scrub assumes, and silently skipping it would
        // let the subsequent append duplicate the replayed version's
        // rows — rethrow.
        case e: org.apache.spark.sql.AnalysisException
            if e.getCondition == "UNABLE_TO_INFER_SCHEMA" =>
          return
      }
    if (dirtyDirs.isEmpty) return
    // basePath keeps the partition columns while reading ONLY the
    // affected partition directories
    spark.read.option("basePath", dir)
      .parquet(dirtyDirs.map(_.toString): _*)
      .where(col("ingest_version") =!= version)
      .write.partitionBy("topic", "day").parquet(tmp.toString)
    for (d <- dirtyDirs) {
      // tmp mirrors the live layout with Spark's OWN escaping — match
      // the rewritten counterpart by the (topic=..., day=...) dir names
      val src = new Path(new Path(tmp, d.getParent.getName), d.getName)
      val keep = new Path(new Path(trashRoot, d.getParent.getName),
        d.getName)
      graft.util.Maint.swapPartitionDir(fs, d, src, keep,
        "scrubVersion")
    }
    graft.util.Maint.step("scrubVersion", "partitions-swapped")
    fs.delete(trashRoot, true) // commit: originals now disposable
    fs.delete(tmp, true)
    graft.util.Maint.step("scrubVersion", "committed")
    ()
  }

  /** Parked-original directory shared by the partition-swapping
    * maintenance verbs ([[scrubVersion]]'s data-tree face,
    * [[optimize]]): an original partition dir is NEVER deleted before
    * its verb commits — it parks here, and [[healParkedPartitions]]
    * at either verb's entry restores any original whose live dir went
    * missing mid-swap. One shared name so each verb heals the other's
    * crashes too (single-maintainer discipline — the verbs never run
    * concurrently). */
  private val SwapOldDir = ".swap_old"

  /** Restore the recoverable state after a crashed partition swap:
    * every dir under `trashRoot` is an original renamed away mid-swap
    * — if its live counterpart exists the swap completed (the parked
    * copy is disposable), if not the original goes back. Deletes the
    * park root after healing. */
  private def healParkedPartitions(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path,
      trashRoot: org.apache.hadoop.fs.Path): Unit =
    graft.util.Maint.healParked(fs, root, trashRoot,
      "healParkedPartitions")

  /** Remove `version` rows from one unpartitioned sidecar tree (stat
    * partials, field partials, control): filter-rewrite under a temp
    * sibling, then flip — sidecars are versions × buckets, small next
    * to data, and Spark refuses to overwrite a path its own plan
    * reads. No-op only on a sidecar that was genuinely never written:
    * an absent live tree WITH a surviving sibling is this verb's own
    * mid-swap crash state (the fail-loudly/heal rule for
    * write-new-then-flip verbs — a bare return there reported a
    * successful heal while every prior version's history sat stranded
    * in the trash sibling forever, and the rerun recreated the
    * sidecar with only the current version's rows). Heal is uniform:
    * live absent + trash present ⇒ restore trash → root, discard any
    * tmp, and re-run THIS call's filter-rewrite. Never complete a
    * crashed attempt's tmp — the rewrite is VERSION-parameterized, so
    * a tmp built by a different version's crashed scrub is not this
    * call's filtered tree (completing a crashed tmp is only safe for
    * parameter-free rewrites; trash always holds the full original,
    * so restore-and-rerun is always correct). live absent + tmp
    * present + trash ABSENT is unreachable under this protocol (the
    * trash outlives the tmp) ⇒ fail loudly rather than guess. */
  private def scrubSidecarVersion(spark: SparkSession, dir: String,
      version: Long): Unit = {
    import org.apache.hadoop.fs.Path
    import graft.util.Maint
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = root.suffix(".scrub")
    val trash = root.suffix(".scrub-trash")
    // Maint's heal rule IS this verb's: live absent + trash present ⇒
    // restore and re-run THIS call's filter-rewrite (a crashed
    // attempt's tmp may carry a DIFFERENT version's rewrite — never
    // complete it); orphan tmp ⇒ loud; truly never written ⇒ no-op
    if (!Maint.healAtEntry(fs, root, tmp, trash, "scrubVersion",
        live = fs.exists(root)))
      return // never written — nothing to scrub
    Maint.cleanSiblings(fs, tmp, trash, "scrubVersion")
    spark.read.parquet(dir)
      .where(col("ingest_version") =!= version)
      .write.parquet(tmp.toString)
    Maint.flipNow(fs, root, tmp, trash, "scrubVersion")
    ()
  }

  /** Batch MCAP import — the reference's `POST /databases/{db}/import`
    * verb (reference: server/routes/import.go:31-59 opens the named
    * file and hands it to treemgr.Receive under the request's
    * producer): parse the MCAP at `path`, override the producer,
    * dedup within the file on the dp3 identity key, and append ONE new
    * ingest version (data + stat partials + control row). The version
    * is the control table's max + 1 — the same monotonic counter the
    * streaming path keeps via batchId, resolved from the kilobyte-scale
    * control table, not a data scan. Returns the version written.
    * `fieldStats` mirrors `startWithStats`: a store maintaining
    * per-field partials must pass the same triple here, or the imported
    * version lacks field partials and the statfilter's coverage check
    * (Dp3Service.statSource) turns scan pruning off store-wide — still
    * exact, just unpruned — until stats catch up. */
  def importMcap(spark: SparkSession, producer: String, path: String,
      outDir: String, statsDir: String, controlDir: String,
      fieldStats: Option[(String, Seq[String], Seq[String])] = None)
      : Long = {
    require(producer.nonEmpty, "missing producer")
    require(path.nonEmpty, "missing path")
    val version = 1L + (try {
      spark.read.parquet(controlDir)
        .agg(max(col("ingest_version"))).head() match {
          case r if r.isNullAt(0) => 0L
          case r => r.getLong(0)
        }
    } catch { case _: org.apache.spark.sql.AnalysisException => 0L })
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
    appendVersion(batch, version, outDir, statsDir, Some(controlDir),
      fieldStats)
    version
  }

  /** Tail a table: a genuine streaming read over the ingested layout —
    * the reference emulates tailing by re-polling /export with
    * last-seen versions (server/cli/cmd/tail.go:51-82,
    * server/routes/export.go:56-67); Structured Streaming's file
    * source IS that loop, with exactly-once progress tracking. */
  def tail(spark: SparkSession, dir: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.readStream.schema(schema).parquet(dir)

  /** Batch-mode compaction/merge of an ingested directory — the
    * analogue of the reference's tree merge with duplicate resolution
    * (server/tree/merge.go:199-295): last-writer-wins per identity key,
    * clustered by time within each partition for row-group pruning. */
  def compact(spark: SparkSession, dir: String, outDir: String): Unit = {
    spark.read.parquet(dir)
      .dropDuplicates("producer", "topic", "time", "seq")
      .repartition(col("topic"), col("day"))
      .sortWithinPartitions(col("time"), col("seq"))
      .write
      .partitionBy("topic", "day")
      .mode("overwrite")
      .parquet(outDir)
  }

  /** One rewritten partition in an [[optimize]] pass. */
  final case class OptimizeReport(topic: String, day: Long,
      filesBefore: Int, bytesBefore: Long, targetFiles: Int)

  /** INCREMENTAL compaction in place — the 100 TB shape of [[compact]].
    * Streaming ingest appends one file per micro-batch per partition,
    * so hot (topic, day) partitions accumulate small files; rewriting
    * the whole store per maintenance pass (what `compact` does) is a
    * full-data job. `optimize` instead picks only partitions whose
    * file count exceeds `maxFilesPerPartition` from the FILE LISTING
    * (metadata, no data read — the same incremental-merge decision the
    * reference's WAL manager makes per table, server/treemgr/
    * treemgr.go:821-961), rewrites just those via dynamic partition
    * overwrite, and leaves every other partition's files untouched.
    *
    * Output files per partition = ceil(bytes / targetBytesPerFile),
    * split by CONTIGUOUS TIME SLICES of the day (not a hash) so each
    * rewritten file covers a disjoint time range and parquet row-group
    * min/max pruning of time predicates stays sharp.
    *
    * Like the reference's merges, this assumes the single-maintainer
    * discipline: no concurrent append to the partitions being
    * rewritten. Returns the rewritten-partition report (empty = store
    * already optimal). */
  def optimize(spark: SparkSession, dir: String,
      maxFilesPerPartition: Int = 4,
      targetBytesPerFile: Long = 128L << 20): Seq[OptimizeReport] = {
    import org.apache.hadoop.fs.Path
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // heal a prior crashed swap (this verb's or the scrub's — shared
    // park root) BEFORE the listing, so the stats see a complete tree
    healParkedPartitions(fs, root, new Path(root, SwapOldDir))
    val rootPrefix = fs.makeQualified(root).toString
    val it = fs.listFiles(root, true)
    val parts = scala.collection.mutable.Map[(String, Long),
      (Int, Long)]().withDefaultValue((0, 0L))
    while (it.hasNext) {
      val s = it.next()
      val p = s.getPath.toString
      val name = s.getPath.getName
      // skip hidden files AND anything under a hidden dir BELOW the
      // root (.swap_old, a crashed pass's .scrub_tmp/.optimize_tmp) —
      // Spark's reads ignore those trees, so the stats must too (the
      // prefix strip keeps a dotted PARENT of the store path benign)
      if (name.endsWith(".parquet") && !name.startsWith("_")
          && !name.startsWith(".")
          && !p.stripPrefix(rootPrefix).contains("/.")) {
        for {
          t <- "topic=([^/]+)/".r.findFirstMatchIn(p).map(_.group(1))
          d <- "day=(-?\\d+)/".r.findFirstMatchIn(p).map(_.group(1).toLong)
        } {
          val (n, b) = parts((t, d))
          parts((t, d)) = (n + 1, b + s.getLen)
        }
      }
    }
    val targets = parts.collect { case ((t, d), (n, b))
        if n > maxFilesPerPartition =>
      OptimizeReport(t, d, n, b,
        math.max(1, math.ceil(b.toDouble / targetBytesPerFile).toInt))
    }.toSeq.sortBy(r => (r.topic, r.day))
    if (targets.nonEmpty) {
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
      // rewrite into a temp dir, then swap partition directories via
      // metadata-only renames — the reference's merge writes new nodes
      // and flips the root the same way (never overwrite-in-place;
      // a crash mid-pass leaves every partition either old or new).
      // NOTE: rename is atomic on HDFS/local FS; on S3 it is a copy.
      val tmp = new Path(root, ".optimize_tmp")
      fs.delete(tmp, true)
      // partition filter prunes the scan to the target partitions;
      // the slice id is a contiguous time range within the day so each
      // output file covers a disjoint time interval
      spark.read.parquet(dir)
        .where(targets.map(r => col("topic") === r.topic
          && col("day") === r.day).reduce(_ || _))
        .dropDuplicates("producer", "topic", "time", "seq")
        .join(broadcast(nSlices), Seq("topic", "day"))
        .withColumn("_slice", least(col("_n_slices") - 1,
          floor((col("time") - col("day") * dayNs)
            * col("_n_slices") / dayNs)))
        .join(broadcast(slices), Seq("topic", "day", "_slice"))
        .repartition(total, col("_gid"))
        .sortWithinPartitions(col("time"), col("seq"))
        .drop("_n_slices", "_slice", "_gid")
        .write
        .partitionBy("topic", "day")
        .parquet(tmp.toString)
      // mirror whatever partition dirs Spark wrote under tmp back into
      // the store (no hand-built path escaping). PARK the original,
      // never delete-then-rename: a crash between the two would leave
      // the partition's only copy in a tmp tree the next pass's entry
      // delete destroys — parked originals survive until the commit
      // delete, and healParkedPartitions restores any mid-swap loss
      val trashRoot = new Path(root, SwapOldDir)
      for (topicDir <- fs.listStatus(tmp) if topicDir.isDirectory;
           dayDir <- fs.listStatus(topicDir.getPath)
             if dayDir.isDirectory) {
        val dst = new Path(new Path(root, topicDir.getPath.getName),
          dayDir.getPath.getName)
        val keep = new Path(new Path(trashRoot,
          topicDir.getPath.getName), dayDir.getPath.getName)
        graft.util.Maint.swapPartitionDir(fs, dst, dayDir.getPath,
          keep, "optimize")
      }
      graft.util.Maint.step("optimize", "partitions-swapped")
      fs.delete(trashRoot, true) // commit: originals now disposable
      fs.delete(tmp, true)
      graft.util.Maint.step("optimize", "committed")
    }
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
