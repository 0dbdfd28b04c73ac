package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{IntegerType, LongType, StructType}

import graft.pipeline.Sampling
import graft.util.{DataFile, JobDesc, Maint, Manifest, ManifestLog}

/** Incremental training-shard maintenance — the streaming tail of the
  * dataloader chain: as new curated/deduplicated documents arrive
  * (e.g. [[CorpusDedup]] survivors), their id sequences extend the
  * persisted [[graft.export.Export.writeSequenceShards]] layout so a
  * dataloader always reads a complete, current shard set without ever
  * re-packing the whole corpus.
  *
  * Layout under `rootDir` ([[ManifestLog]]):
  *   - `_manifest/<v>`: the newest manifest is the store — the frozen
  *     packing contract (seqLen, nBuckets, eosId, salt, segSize), the
  *     read schemas of both trees, and their live files with bytes.
  *   - `docs/version=<b>/v=<v>/`: (doc_id, <idsCol>, pk, lane, n) —
  *     the accepted per-document id sequences of batch `b`, clustered
  *     by (lane, pk) within files so a lane rebuild's pushed lane-IN
  *     and pk bound prune row groups.
  *   - `shards/pack_bucket=<lane>/seq_seg=<seq_idx div segSize>/v=<v>/`:
  *     the writeSequenceShards rows (seq_idx, n_docs, starts, ids)
  *     with every `ids` exactly seqLen long. Bounded sequence ranges
  *     per segment are what make SUFFIX rebuilds possible (below);
  *     [[read]] drops the bucketing columns, so consumers see the
  *     writeSequenceShards schema unchanged.
  *
  * Incrementality contract: lane membership is the salted hash of the
  * doc id ([[Sampling.laneOf]]) and within-lane order is (hash, id) —
  * a pure function of the ACCEPTED SET, not of arrival order — so the
  * shard store after N batches is BIT-IDENTICAL to batch
  * `packSequences` + `writeSequenceShards` over the concatenated
  * accepted history (spec-pinned over random multi-batch splits).
  * A new document splices into the middle of its lane's stream by
  * hash order — but everything strictly BEFORE the first spliced
  * position is bit-stable, so a batch rewrites only each touched
  * lane's TOUCHED SUFFIX, not its history: one metadata pass (the
  * stored `pk`/`n` columns — the ids arrays are never read) derives
  * per lane the first affected sequence, the first doc whose span
  * reaches it and that doc's token offset; the heavy re-pack
  * ([[Sampling.packSequencesSuffix]]) then reads ONLY the suffix
  * docs (pushed pk lower bound on the (lane, pk)-clustered files),
  * the boundary segment's bit-stable prefix rows carry over from
  * its listed files (< segSize rows per lane), and segments strictly
  * before the boundary keep their exact files (spec-pinned). Untouched
  * lanes keep everything. Per-batch cost is O(touched suffixes) on
  * the data plane + O(touched-lane metadata) on the control plane.
  * Size nBuckets so one lane's SUFFIX fits a rebuild comfortably —
  * lanes are hash-uniform, and nBuckets scales with the cluster (the
  * [[Sampling.packSequences]] lane discipline).
  *
  * Crash safety: every verb writes fresh files and commits them with
  * one new manifest — a batch's docs and its rebuilt segments become
  * visible together, and a crash at any point leaves either the old
  * or the new store live (the next verb drops the unlisted leftovers).
  * Replay ∘ appendBatch = appendBatch: a replayed batch's manifest
  * drops the listed docs of its `version`, re-derives the same lane
  * set from the same rows and rewrites the same segments with
  * identical content. Single-writer, like every maintenance face here.
  *
  * Readers resolve the newest manifest once and read only its listed
  * files, so a read that overlaps [[appendBatch]] or [[compactDocs]]
  * plans over either the pre- or the post-commit store, never a mix
  * (spec-pinned at every protocol point). A frame planned before a
  * commit and run after it reads the files it planned or fails loudly
  * on one the commit deleted. Reads never rename or delete.
  */
object SequenceShards {

  private val Trees =
    Map("docs" -> Seq("version"), "shards" -> Seq("pack_bucket", "seq_seg"))

  /** Append one batch of (id, id-sequence) rows and bring every
    * affected lane's shards current. Returns the affected lane ids.
    *
    * `version` must be issued monotonically and reused on retry (the
    * streaming face passes batchId + 1). Documents with empty id
    * sequences are dropped, matching [[Sampling.packSequences]]. */
  def appendBatch(spark: SparkSession, batch: DataFrame, version: Long,
      rootDir: String, seqLen: Int, nBuckets: Int, eosId: Long,
      idCol: String = "doc_id", idsCol: String = "bpe_ids",
      salt: String = "graft", segSize: Int = 8192): Seq[Long] = {
    require(segSize >= 1, s"segSize must be >= 1: $segSize")
    require(!salt.exists(c => c == '\t' || c == '\n'),
      "salt must not contain a tab or a newline")
    val verb = "sequenceShards"
    val sc = spark.sparkContext
    val log = manifestLog(spark, rootDir)
    val prev = log.open(verb)
    val next = prev.fold(0L)(_.version) + 1
    // the packing contract is STORE STATE, not a per-call argument
    // (the writeBm25Index stored-nBuckets discipline / the frozen-quantizer
    // rule): a drifted nBuckets would route ids to lanes that
    // disagree with the stored `lane` values — the rebuild's filter
    // and packSequences' re-derivation would silently diverge — a
    // drifted seqLen/eosId/salt would splice incompatible sequences
    // into surviving lanes, and a drifted segSize would misaddress
    // the boundary segments the suffix carry-over reads. The first
    // commit freezes the contract; later appends fail loudly on any
    // mismatch.
    val contract =
      Seq(seqLen, nBuckets, eosId, salt, segSize).map(_.toString)
    prev.foreach(m => require(m.line("contract") == contract,
      s"sequenceShards: packing contract drift — store $rootDir " +
        "was built with (seqLen, nBuckets, eosId, salt, segSize) " +
        s"= (${m.line("contract").mkString(", ")}), this append passed " +
        s"(${contract.mkString(", ")})"))
    // 1. the batch's rows, laned, plus the metadata columns the
    //    suffix math reads WITHOUT touching the ids arrays: `pk`
    //    (the in-lane order key) and `n` (token count). Empty
    //    sequences dropped (nothing to emit — packSequences drops
    //    them too, and a docs row that can never contribute would
    //    still force its lane to rewrite).
    val laned = batch
      .select(col(idCol), col(idsCol))
      .where(size(col(idsCol)) >= 1)
      .withColumn("pk", Sampling.hashBucket(col(idCol), salt))
      .withColumn("lane", Sampling.laneOf(col(idCol), nBuckets, salt))
      .withColumn("n", size(col(idsCol)).cast("long"))
    // 2. the batch's docs files, rows clustered by (lane, pk) so the
    //    metadata pass pushes lane-IN and the suffix read pushes a
    //    pk lower bound onto row-group pruning. The affected-lane set
    //    (step 3) rides THIS job as an observed metric — collect_set
    //    is ≤ nBuckets longs and retry-idempotent — instead of a
    //    separate distinct().collect() job that re-computed the batch
    //    source per micro-batch.
    val laneObs = org.apache.spark.sql.Observation()
    val batchDocs = JobDesc(sc, "shards:appendBatch:docs") {
      log.write(next, "docs", laned.withColumn("version", lit(version))
        .observe(laneObs, collect_set(col("lane")).as("_lanes"))
        .repartition(col("lane"))
        .sortWithinPartitions(col("lane"), col("pk")))
    }
    // 3. affected lanes: ≤ nBuckets ints observed off the write above
    val lanes = laneObs.get.apply("_lanes") match {
      case s: scala.collection.Seq[_] =>
        s.map(_.asInstanceOf[Long]).toArray.sorted
      case other => throw new IllegalStateException(
        s"sequenceShards: unexpected observed lane metric: $other")
    }
    if (lanes.isEmpty) return Nil
    val laneVals = lanes.map(l => l: Any)
    // a replay replaces its version's docs, never duplicates them
    val docsFiles = prev.fold(Seq.empty[DataFile])(_.filesOf("docs")
      .filter(_.part("version") != version)) ++ batchDocs
    val docsSchema = prev.fold(laned.schema.add("version", LongType))(
      _.schema("docs"))
    def docs = listed(spark, rootDir, "docs", docsSchema, docsFiles)
      .where(col("lane").isin(laneVals: _*))
    // 4. suffix control plane — ONE metadata pass over the affected
    //    lanes' history (lane, pk, id, n, version; never the ids
    //    arrays) derives per lane: the splice offset (first NEW
    //    doc's start in the merged stream — everything strictly
    //    before it is bit-stable), the first affected sequence
    //    _min_seq, the first doc whose span reaches that sequence
    //    (rebuilds must start there: a long doc can cross the
    //    boundary), its start offset _base, and the lane's new
    //    total _tot (the trailing-partial filter needs the global
    //    end). ≤ nBuckets rows collect to the driver.
    import org.apache.spark.sql.expressions.Window
    val mw = Window.partitionBy(col("lane"))
      .orderBy(col("pk"), col("_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val lw = Window.partitionBy(col("lane"))
    val ctlLocal = JobDesc(sc, "shards:appendBatch:ctl") {
      val ctl = docs
        .select(col("lane"), col("pk"), col(idCol).as("_id"), col("n"),
          col("version"))
        .withColumn("_endm", sum(col("n") + lit(1L)).over(mw))
        .withColumn("_startm", col("_endm") - col("n") - lit(1L))
        .withColumn("_splice", min(when(col("version") === lit(version),
          col("_startm"))).over(lw))
        .withColumn("_totm", max(col("_endm")).over(lw))
        // _b0 = _min_seq * seqLen, the first affected sequence's start
        .withColumn("_b0",
          col("_splice") - pmod(col("_splice"), lit(seqLen.toLong)))
        .withColumn("_min_seq", expr(s"_b0 div ${seqLen}"))
        .where(col("_endm") > col("_b0"))
        .groupBy(col("lane"))
        .agg(min(struct(col("pk"), col("_id"), col("_startm")))
            .as("_first"),
          min(col("_min_seq")).as("_min_seq"),
          min(col("_totm")).as("_tot"))
        .select(col("lane"), col("_first.pk").as("_pk0"),
          col("_first._id").as("_id0"),
          col("_first._startm").as("_base"),
          col("_min_seq"), col("_tot"))
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(ctl.collect().toSeq.asJava, ctl.schema)
    }
    val ctlRows = ctlLocal.collect() // a local relation: no job
    // 5. the heavy (ids-array) read is bounded by the touched
    //    suffixes: a coarse pushed pk lower bound prunes row groups,
    //    the broadcast ctl join cuts each lane exactly at its first
    //    rebuilt doc
    val minPk = ctlRows.map(_.getString(1)).min
    val (shardsWritten, shardsSchema) =
      JobDesc(sc, "shards:appendBatch:shards") {
        val suffixDocs = docs
          .where(col("pk") >= lit(minPk))
          .join(broadcast(ctlLocal.select(col("lane"), col("_pk0"),
            col("_id0"))), Seq("lane"))
          .where(col("pk") > col("_pk0") ||
            (col("pk") === col("_pk0") && col(idCol) >= col("_id0")))
          .select(col(idCol), col(idsCol))
        val packed = Sampling.packSequencesSuffix(suffixDocs, seqLen,
          nBuckets, eosId,
          ctlLocal.select(col("lane").as("pack_bucket"), col("_base"),
            col("_tot"), col("_min_seq")),
          idCol, idsCol, salt)
        val rebuilt = graft.export.Export.sequenceShardFrame(packed)
        // 6. carry the boundary segment's bit-stable prefix rows over
        //    from its listed files ([[carriedRows]]); lanes spliced at
        //    sequence 0 carry nothing, and a batch of only those skips
        //    the read entirely
        val fresh =
          if (prev.isEmpty || !ctlRows.exists(_.getLong(4) > 0L)) rebuilt
          else rebuilt.unionByName(carriedRows(spark, rootDir, prev.get,
            ctlLocal, laneVals, ctlRows, segSize))
        (log.write(next, "shards", fresh
            .withColumn("seq_seg", expr(s"seq_idx div ${segSize}"))
            .repartition(col("pack_bucket"), col("seq_seg"))
            .sortWithinPartitions(col("pack_bucket"), col("seq_seg"),
              col("seq_idx"))),
          rebuilt.drop("pack_bucket").schema
            .add("pack_bucket", IntegerType).add("seq_seg", IntegerType))
      }
    // 7. one commit: segments from each touched lane's boundary on are
    //    replaced by the rebuilt ones, everything else keeps its exact
    //    files
    val boundary =
      ctlRows.map(r => r.getLong(0) -> r.getLong(4) / segSize).toMap
    val keptShards = prev.fold(Seq.empty[DataFile])(_.filesOf("shards")
      .filterNot(f => boundary.get(f.part("pack_bucket"))
        .exists(f.part("seq_seg") >= _)))
    val header = prev.fold(Seq("contract" +: contract,
        Seq("docs", docsSchema.json),
        Seq("shards", shardsSchema.json)))(_.header)
    log.commit(verb, prev, header, docsFiles ++ keptShards ++ shardsWritten)
    lanes.toSeq
  }

  /** Compact the `docs` sidecar: [[appendBatch]] adds files under one
    * `version=N` partition per batch forever, so a long history pays
    * listing and footer overhead proportional to batch count on EVERY
    * metadata pass and suffix read (the [[CorpusDedup]] sidecar
    * disease). Fold the listed docs of versions STRICTLY OLDER than the
    * newest into the second-newest version's partition — the
    * fold-only-committed rule: the newest batch's stream checkpoint
    * may not have committed, and its replay replaces exactly
    * `version=N`, which must still see every older doc. Rows are only
    * MOVED (collapsing `version` to keepV is invisible — the metadata
    * pass reads `version` only to mark the CURRENT batch's rows).
    *
    * One manifest commit swaps the folded files in for their sources,
    * so a crash can never expose a duplicate doc row (which would
    * double its (n+1) contribution and shift every downstream offset
    * in its lane). Output files sized ceil(bytes/target) from the
    * manifest's byte counts and range-clustered (lane, pk) so the
    * metadata pass's lane-IN and the suffix read's pk bound keep their
    * row-group prunes. A fresh dir is a no-op; one built before the
    * manifest layout fails loudly, untouched ([[ManifestLog.open]]).
    * Single-writer with respect to appendBatch, like every compaction
    * here. */
  def compactDocs(spark: SparkSession, rootDir: String,
      targetBytesPerFile: Long = 128L << 20): Unit = {
    val verb = "compactDocs"
    val log = manifestLog(spark, rootDir)
    val prev = log.open(verb) match {
      case Some(m) => m
      case None => return
    }
    val docs = prev.filesOf("docs")
    val versions = docs.map(_.part("version")).distinct.sorted
    if (versions.length <= 2) return // nothing strictly-older to fold
    val keepV = versions.init.last
    val (fold, keep) = docs.partition(_.part("version") <= keepV)
    val nFiles = Maint.sizedFileCount(fold.map(_.bytes).sum,
      targetBytesPerFile)
    val folded = JobDesc(spark.sparkContext, "shards:compactDocs:docs") {
      log.write(prev.version + 1, "docs",
        listed(spark, rootDir, "docs", prev.schema("docs"), fold)
          .withColumn("version", lit(keepV))
          .repartitionByRange(nFiles, col("lane"), col("pk"))
          .sortWithinPartitions(col("lane"), col("pk")))
    }
    log.commit(verb, Some(prev), prev.header,
      keep ++ prev.filesOf("shards") ++ folded)
  }

  /** The boundary-segment carry-over read — step 6 of
    * [[appendBatch]], its plan shape spec-gated: each lane's boundary
    * segment is DRIVER-known, so the read lists exactly those
    * segments' files from the manifest, and the scan carries STATIC
    * isin PARTITION filters (pack_bucket × the distinct K0 set) as the
    * semantic contract — a per-lane exact (lane AND seg) disjunction
    * would be depth-nBuckets, the expression wall. The broadcast ctl
    * join cuts the small remainder exactly (≤ segSize rows per lane
    * survive). */
  private[graft] def carriedRows(spark: SparkSession, rootDir: String,
      m: Manifest, ctlLocal: DataFrame, laneVals: Seq[Any],
      ctlRows: Array[Row], segSize: Int): DataFrame = {
    val k0 = ctlRows.filter(_.getLong(4) > 0L)
      .map(r => r.getLong(0) -> r.getLong(4) / segSize).toMap
    listed(spark, rootDir, "shards", m.schema("shards"),
        m.filesOf("shards").filter(f =>
          k0.get(f.part("pack_bucket")).contains(f.part("seq_seg"))))
      .where(col("pack_bucket").isin(laneVals: _*) &&
        col("seq_seg").isin(k0.values.toSeq.distinct.sorted
          .map(k => k: Any): _*))
      .withColumn("pack_bucket", col("pack_bucket").cast("long"))
      .join(broadcast(ctlLocal.select(
        col("lane").as("pack_bucket"),
        expr(s"_min_seq div ${segSize}").as("_k0"),
        col("_min_seq"))), Seq("pack_bucket"))
      .where(col("seq_seg").cast("long") === col("_k0") &&
        col("seq_idx") < col("_min_seq"))
      .select(col("pack_bucket"), col("seq_idx"), col("n_docs"),
        col("starts"), col("ids"))
  }

  /** Start the streaming shard maintenance ([[appendBatch]] per
    * micro-batch; the [[CorpusDedup.start]] checkpoint/replay
    * contract — at-least-once foreachBatch + idempotent appends =
    * effectively-exactly-once shard state). Like every maintenance
    * face here, sidecar compaction stays CALLER-scheduled: run
    * [[compactDocs]] between micro-batch commits (e.g. every N
    * batches, the StreamMaintProbe cadence) to keep the docs
    * file count — and with it each append's metadata-pass read —
    * bounded. */
  def start(spark: SparkSession, stream: DataFrame, rootDir: String,
      seqLen: Int, nBuckets: Int, eosId: Long, checkpointDir: String,
      idCol: String = "doc_id", idsCol: String = "bpe_ids",
      salt: String = "graft", segSize: Int = 8192): StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        appendBatch(spark, batch, batchId + 1, rootDir, seqLen,
          nBuckets, eosId, idCol, idsCol, salt, segSize)
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()

  /** The current shard store as a frame (the dataloader's read face):
    * identical schema to [[graft.export.Export.writeSequenceShards]]
    * output (the internal `seq_seg` bucketing column is dropped). */
  def read(spark: SparkSession, rootDir: String): DataFrame = {
    val m = manifestLog(spark, rootDir).committed("read")
    shards(spark, rootDir, m, m.filesOf("shards"))
  }

  /** One epoch's COMPLETE visit order over the store — the dataloader
    * consumes this directly: every sequence stamped with `lane_ord`
    * (which shard to visit when, [[Sampling.epochLaneOrder]]'s
    * driver-side permutation under the store's frozen nBuckets/salt)
    * and `epoch_pos` (the within-shard order,
    * [[Sampling.epochShuffle]]); iterating by (lane_ord, epoch_pos)
    * reads each training sequence exactly once per epoch in a
    * seed-deterministic pseudo-random order with NO RNG state — any
    * worker re-derives any epoch's slice, and a resumed job re-derives
    * the exact order it crashed in. Row-local + one lane window over
    * the stored shards; the manifest's packing contract supplies
    * nBuckets and salt so a caller can never shuffle under a drifted
    * lane domain. */
  def readEpoch(spark: SparkSession, rootDir: String, epoch: Long)
      : DataFrame = {
    val m = manifestLog(spark, rootDir).committed("readEpoch")
    val (nLanes, salt) = packing(m)
    stampEpoch(shards(spark, rootDir, m, m.filesOf("shards")), nLanes,
      salt, epoch)
  }

  /** One WORKER's slice of [[readEpoch]] — the distributed-dataloader
    * sharding face. Worker w of W owns the lanes at 0-BASED visit
    * positions ≡ w (mod W) of the epoch's driver-derived lane
    * permutation (equivalently `(lane_ord - 1) % numWorkers ==
    * worker` over the 1-based `lane_ord` stamp — worker 1 of 3 owns
    * lane_ord 2, 5, 8, …), so the W slices PARTITION the epoch
    * exactly: whole lanes move, within-lane ranks don't, and every
    * row carries the SAME `lane_ord`/`epoch_pos` the full read
    * stamps. Round-robin over the VISIT order (not raw lane ids)
    * keeps each worker's lane count within one of the others under
    * any permutation.
    *
    * Scale: the worker's lane set is DRIVER-known (the permutation is
    * control-plane, nLanes ints), so the worker reads ONLY its own
    * lanes' files — picked from the manifest and read under the store
    * `basePath` (so the partition columns survive) with the manifest's
    * schema, which keeps the read to ~1/W of the store with no
    * listing beyond those files and no schema-inference job. The
    * redundant isin filter stays on top as the semantic contract (and
    * the plan gate). No RNG state and no coordination: any worker
    * re-derives any epoch's slice independently, and a resumed worker
    * re-derives the exact order it crashed in. Workers past the lane
    * count (numWorkers > nLanes) get empty slices — size
    * numWorkers ≤ nLanes for useful balance. */
  def readEpochSlice(spark: SparkSession, rootDir: String, epoch: Long,
      worker: Int, numWorkers: Int): DataFrame = {
    require(numWorkers >= 1, s"numWorkers must be >= 1: $numWorkers")
    require(worker >= 0 && worker < numWorkers,
      s"worker must be in [0, $numWorkers): $worker")
    val m = manifestLog(spark, rootDir).committed("readEpochSlice")
    val (nLanes, salt) = packing(m)
    val mine = Sampling.epochLaneOrder(nLanes, epoch, salt).zipWithIndex
      .collect { case (l, i) if i % numWorkers == worker => l }
    val slice = shards(spark, rootDir, m, m.filesOf("shards")
        .filter(f => mine.contains(f.part("pack_bucket"))))
      .where(col("pack_bucket").isin(mine.map(l => l: Any): _*))
    stampEpoch(slice, nLanes, salt, epoch)
  }

  /** The shared epoch stamp: within-lane `epoch_pos`
    * ([[Sampling.epochShuffle]]) + the row-local `lane_ord` visit
    * position — [[readEpoch]] applies it to the full read,
    * [[readEpochSlice]] to the worker's pruned read. */
  private def stampEpoch(df: DataFrame, nLanes: Int, salt: String,
      epoch: Long): DataFrame =
    Sampling.epochShuffle(df, epoch, "pack_bucket", Seq("seq_idx"),
        salt)
      .withColumn("lane_ord", Sampling.epochLaneOrderCol(
        col("pack_bucket"), nLanes, epoch, salt))

  /** The frozen packing contract's lane domain: (nBuckets, salt). */
  private def packing(m: Manifest): (Int, String) = {
    val c = m.line("contract")
    (c(1).toInt, c(3))
  }

  /** The store at `rootDir`; its read faces resolve the newest manifest
    * once each ([[ManifestLog.committed]]). */
  private def manifestLog(spark: SparkSession, rootDir: String) =
    new ManifestLog(new Path(rootDir), spark.sparkContext.hadoopConfiguration,
      Trees, kind = "sequence-shard store")

  /** `files` of `tree`, read with `schema` under the tree's basePath
    * (its partition columns survive): no schema-inference job, and no
    * listing beyond the files named. */
  private def listed(spark: SparkSession, rootDir: String, tree: String,
      schema: StructType, files: Seq[DataFile]): DataFrame =
    manifestLog(spark, rootDir).read(spark, tree, schema, files)

  /** Shard files as the writeSequenceShards rows plus `pack_bucket`. */
  private def shards(spark: SparkSession, rootDir: String, m: Manifest,
      files: Seq[DataFile]): DataFrame =
    listed(spark, rootDir, "shards", m.schema("shards"), files)
      .drop("seq_seg")

  /** Store summary — ONE row per live lane: `(lane, n_segments,
    * n_files, bytes, n_sequences, seq_max)`. The nBuckets sizing
    * feedback (the [[graft.tools.Inspect]] discipline applied to
    * this store): segment/file/byte counts come from the manifest
    * (no listing), and sequence counts ride a count-shaped scan over
    * the listed shard files (grouping keys are DIRECTORY columns and
    * the only data column touched is the int64 `seq_idx` — the
    * ids/starts pages are never read). Admin verb for the
    * "size nBuckets so one lane's SUFFIX rebuilds comfortably"
    * contract: lane-byte skew or runaway per-lane segment counts
    * show up here before an append pays for them. Every column is a
    * non-null long. Reads one manifest, like [[read]]. */
  def stats(spark: SparkSession, rootDir: String): DataFrame = {
    import spark.implicits._
    val m = manifestLog(spark, rootDir).committed("stats")
    val files = m.filesOf("shards")
    val layout = files.groupBy(_.part("pack_bucket")).toSeq.map {
        case (lane, fl) => (lane, fl.map(_.part("seq_seg")).distinct.size
          .toLong, fl.size.toLong, fl.map(_.bytes).sum) }
      .toDF("lane", "n_segments", "n_files", "bytes")
    val seqs = shards(spark, rootDir, m, files)
      .groupBy(col("pack_bucket").cast("long").as("lane"))
      .agg(count(lit(1)).as("n_sequences"),
        max("seq_idx").as("seq_max"))
    layout.join(seqs, Seq("lane"), "left")
      .na.fill(Map("n_sequences" -> 0L, "seq_max" -> -1L))
      .orderBy("lane")
  }
}
