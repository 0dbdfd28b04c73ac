package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.pipeline.Sampling
import graft.util.Maint

/** Incremental training-shard maintenance — the streaming tail of the
  * dataloader chain: as new curated/deduplicated documents arrive
  * (e.g. [[CorpusDedup]] survivors), their id sequences extend the
  * persisted [[graft.export.Export.writeSequenceShards]] layout so a
  * dataloader always reads a complete, current shard set without ever
  * re-packing the whole corpus.
  *
  * Layout under `rootDir`:
  *   - `docs`: (doc_id, <idsCol>, lane, version) — the accepted
  *     per-document id sequences, version-partitioned (the
  *     [[CorpusDedup.appendBatch]] replay discipline: a retried batch
  *     dynamic-overwrites exactly its own partition) and clustered by
  *     `lane` within each version's files so a lane rebuild's pushed
  *     lane-IN predicate prunes row groups.
  *   - `shards`: the writeSequenceShards rows bucketed one level
  *     deeper — `pack_bucket=<lane>/seq_seg=<seq_idx div segSize>/`
  *     directories, rows (seq_idx, n_docs, starts, ids) with every
  *     `ids` exactly seqLen long. Bounded sequence ranges per file
  *     are what make SUFFIX rebuilds possible (below); [[read]]
  *     drops the bucketing column, so consumers see the
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
  * disk (< segSize rows per lane), and segment dirs strictly before
  * the boundary keep their exact files (spec-pinned). Untouched
  * lanes keep everything. Per-batch cost is O(touched suffixes) on
  * the data plane + O(touched-lane metadata) on the control plane.
  * Size nBuckets so one lane's SUFFIX fits a rebuild comfortably —
  * lanes are hash-uniform, and nBuckets scales with the cluster (the
  * [[Sampling.packSequences]] lane discipline).
  *
  * Crash safety: the docs write is a version-partitioned dynamic
  * overwrite (replay replaces, never duplicates); the shard rewrite
  * is derived state — rebuilt (lane, segment) dirs land under a temp
  * tree and swap in via [[Maint]]'s park protocol (originals under
  * `.swap_old` until the commit delete; [[Maint.healParked]] at
  * entry restores any original whose live dir vanished mid-swap).
  * Replay ∘ appendBatch = appendBatch: a replayed batch re-derives
  * the same lane set from the same rows and rewrites the same dirs
  * with identical content. Single-writer, like every maintenance
  * face here.
  *
  * READER exposure: the per-dir swap loop is atomic per rename, not
  * per batch — a read that overlaps [[appendBatch]] can see a lane
  * segment absent (parked, not yet replaced) or a mix of pre- and
  * post-batch segments across lanes, silently returning fewer or
  * inconsistent sequences. The contract is therefore single-writer
  * AND reads-do-not-overlap-maintenance: a dataloader either reads
  * between batches (the [[start]] foreachBatch cadence makes that
  * natural — reads between micro-batch commits observe a complete
  * store) or snapshots the tree first. [[read]]/[[readEpoch]]/
  * [[readEpochSlice]] do not pin a consistent lane set themselves.
  */
object SequenceShards {

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
    import org.apache.hadoop.fs.Path
    require(segSize >= 1, s"segSize must be >= 1: $segSize")
    val verb = "sequenceShards"
    val root = new Path(rootDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val shardsRoot = new Path(root, "shards")
    val trashRoot = new Path(root, ".swap_old")
    val tmp = new Path(root, ".shards_tmp")
    // the packing contract is STORE STATE, not a per-call argument
    // (the writeBm25Index stored-nBuckets discipline / the frozen-quantizer
    // rule): a drifted nBuckets would route ids to lanes that
    // disagree with the stored `lane` values — the rebuild's filter
    // and packSequences' re-derivation would silently diverge — a
    // drifted seqLen/eosId/salt would splice incompatible sequences
    // into surviving lanes, and a drifted segSize would misaddress
    // the boundary segments the suffix carry-over reads. First
    // append freezes the contract; later appends fail loudly on any
    // mismatch.
    val meta = new Path(root, "meta")
    if (!fs.exists(meta)) {
      import spark.implicits._
      Seq((seqLen, nBuckets, eosId, salt, segSize))
        .toDF("seq_len", "n_buckets", "eos_id", "salt", "seg_size")
        .coalesce(1).write.mode("overwrite").parquet(meta.toString)
    } else {
      // fingerprint-cached control read (graft.util.ControlCache):
      // the stored tuple is frozen store state, so steady-state
      // appends validate against the cached copy instead of paying a
      // one-row Spark job per micro-batch; any rewrite of the meta
      // dir (fresh UUID part names) misses the fingerprint and
      // reloads
      val vals = storedMetaVals(spark, fs, meta)
      // a pre-segmented store (4-column meta, flat lane dirs, docs
      // without pk/n) must hit the designed loud message, not an
      // opaque index-out-of-bounds
      require(vals.length >= 5,
        s"sequenceShards: store $rootDir carries a pre-seq_seg meta " +
          s"layout (${vals.length} fields) — rebuild the store with " +
          "this version before appending (the segmented layout is " +
          "not an in-place upgrade)")
      val stored = (vals(0).asInstanceOf[Int], vals(1).asInstanceOf[Int],
        vals(2).asInstanceOf[Long], vals(3).asInstanceOf[String],
        vals(4).asInstanceOf[Int])
      require(stored == ((seqLen, nBuckets, eosId, salt, segSize)),
        s"sequenceShards: packing contract drift — store $rootDir " +
          "was built with (seqLen, nBuckets, eosId, salt, segSize) " +
          s"= $stored, this append passed " +
          s"(${(seqLen, nBuckets, eosId, salt, segSize)})")
    }
    // heal a prior crashed swap BEFORE anything reads the shard tree
    // (two-level: lane/segment dirs)
    Maint.healParked(fs, shardsRoot, trashRoot, verb)
    // and heal a crashed [[compactDocs]] BEFORE the version overwrite
    // below: writing into an absent docs root would CREATE a fresh
    // single-version tree and the metadata pass would silently pack a
    // truncated history — the silent-wrong state the flip protocol
    // exists to prevent (live absent + only an orphan tmp throws)
    Maint.healAtEntry(fs, new Path(root, "docs"),
      new Path(root, ".docs-compact"), new Path(root, ".docs-trash"),
      "compactDocs", live = fs.exists(new Path(root, "docs")))
    fs.delete(tmp, true)
    Maint.step(verb, "cleaned")
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
    // 2. version-partitioned dynamic overwrite (the writeVersioned
    //    replay contract), rows clustered by (lane, pk) so the
    //    metadata pass pushes lane-IN and the suffix read pushes a
    //    pk lower bound onto row-group pruning. The affected-lane set
    //    (step 3) rides THIS job as an observed metric — collect_set
    //    is ≤ nBuckets longs and retry-idempotent — instead of a
    //    separate distinct().collect() job that re-computed the batch
    //    source per micro-batch.
    val laneObs = org.apache.spark.sql.Observation()
    laned.withColumn("version", lit(version))
      .observe(laneObs, collect_set(col("lane")).as("_lanes"))
      .repartition(col("lane"))
      .sortWithinPartitions(col("lane"), col("pk"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("version")
      .parquet(s"$rootDir/docs")
    Maint.step(verb, "docs-written")
    // 3. affected lanes: ≤ nBuckets ints observed off the write above
    val lanes = laneObs.get.apply("_lanes") match {
      case s: scala.collection.Seq[_] =>
        s.map(_.asInstanceOf[Long]).toArray.sorted
      case other => throw new IllegalStateException(
        s"sequenceShards: unexpected observed lane metric: $other")
    }
    if (lanes.isEmpty) return Nil
    val laneVals = lanes.map(l => l: Any)
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
    val ctl = spark.read.parquet(s"$rootDir/docs")
      .where(col("lane").isin(laneVals: _*))
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
    val ctlRows = ctl.collect()
    val ctlLocal = {
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(ctlRows.toSeq.asJava, ctl.schema)
    }
    // 5. the heavy (ids-array) read is bounded by the touched
    //    suffixes: a coarse pushed pk lower bound prunes row groups,
    //    the broadcast ctl join cuts each lane exactly at its first
    //    rebuilt doc
    val minPk = ctlRows.map(_.getString(1)).min
    val suffixDocs = spark.read.parquet(s"$rootDir/docs")
      .where(col("lane").isin(laneVals: _*))
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
    //    from disk (K0*segSize <= seq_idx < _min_seq — fewer than
    //    segSize rows per lane): they live in the one segment dir
    //    the swap must replace. The lane and boundary-segment ids
    //    are DRIVER-known, so the read carries STATIC isin partition
    //    filters (pack_bucket × the distinct K0 set — pruned before
    //    any row is read; a per-lane exact (lane AND seg) disjunction
    //    would be depth-nBuckets, the expression wall) and the
    //    broadcast ctl join cuts the small remainder exactly. All
    //    boundaries at sequence 0 (fresh lanes) carry nothing — skip
    //    the read entirely.
    val anyCarry = ctlRows.exists(_.getLong(4) > 0L)
    val fresh =
      if (!fs.exists(shardsRoot) || !anyCarry) rebuilt
      else rebuilt.unionByName(carriedRows(spark,
        shardsRoot.toString, ctlLocal, laneVals, ctlRows, segSize))
    fresh
      .withColumn("seq_seg", expr(s"seq_idx div ${segSize}"))
      .repartition(col("pack_bucket"), col("seq_seg"))
      .sortWithinPartitions(col("pack_bucket"), col("seq_seg"),
        col("seq_idx"))
      .write.partitionBy("pack_bucket", "seq_seg")
      .parquet(tmp.toString)
    Maint.step(verb, "built")
    // 7. swap the rebuilt (lane, segment) dirs in under the park
    //    protocol — segment dirs strictly before each lane's
    //    boundary are absent from tmp and keep their exact files.
    //    Batched ([[Maint.swapPartitionDirsUnder]]): ONE listing pass
    //    of the live tree replaces the per-segment exists/mkdirs
    //    round trips, same per-dir park-then-promote protocol and
    //    crash windows.
    Maint.swapPartitionDirsUnder(fs, shardsRoot, tmp, trashRoot, verb)
    Maint.step(verb, "lanes-swapped")
    fs.delete(trashRoot, true) // commit: originals now disposable
    fs.delete(tmp, true)
    Maint.step(verb, "committed")
    lanes.toSeq
  }

  /** Compact the `docs` sidecar: [[appendBatch]] leaves one
    * `version=N` partition per batch forever, so a long history pays
    * file-listing and footer overhead proportional to batch count on
    * EVERY metadata pass and suffix read (the [[CorpusDedup]] sidecar
    * disease). Fold all docs of versions STRICTLY OLDER than the
    * newest into the second-newest version's partition — the
    * fold-only-committed rule: the newest batch's stream checkpoint
    * may not have committed, and its replay dynamic-overwrites
    * exactly `version=N`, which must still see every older doc. Rows
    * are only MOVED (collapsing `version` to keepV is invisible —
    * the metadata pass reads `version` only to mark the CURRENT
    * batch's rows, and the current partition is untouched).
    *
    * Protocol: whole-root write-new-then-FLIP, not the cheap
    * rename-parts fold — a crash-window DUPLICATE doc row would
    * double its (n+1) contribution and shift every downstream offset
    * in its lane, silently changing sequence content. [[appendBatch]]
    * guards the mid-swap state at ITS entry (an absent docs tree with
    * a surviving maintenance sibling heals or throws — it can never
    * read as an empty history). Output files sized
    * ceil(bytes/target) and range-clustered (version, lane, pk) so
    * the metadata pass's lane-IN and the suffix read's pk bound keep
    * their file/row-group prunes. Single-writer with respect to
    * appendBatch, like every compaction here. */
  def compactDocs(spark: SparkSession, rootDir: String,
      targetBytesPerFile: Long = 128L << 20): Unit = {
    import org.apache.hadoop.fs.Path
    val root = new Path(rootDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = new Path(root, "docs")
    val tmp = new Path(root, ".docs-compact")
    val trash = new Path(root, ".docs-trash")
    if (!Maint.healAtEntry(fs, live, tmp, trash, "compactDocs",
        live = fs.exists(live)))
      return // store never written — nothing to fold
    Maint.cleanSiblings(fs, tmp, trash, "compactDocs")
    val docs = spark.read.parquet(live.toString)
    val versions = docs.select(col("version").cast("long"))
      .distinct().collect().map(_.getLong(0)).sorted
    if (versions.length <= 2) return // nothing strictly-older to fold
    val maxV = versions.last
    val keepV = versions.init.last
    val nFiles = Maint.sizedFileCount(
      Maint.parquetBytes(fs,
        versions.map(v => new Path(live, s"version=$v")).toSeq),
      targetBytesPerFile)
    docs
      .withColumn("version",
        when(col("version").cast("long") < maxV, lit(keepV))
          .otherwise(col("version").cast("long")))
      .repartitionByRange(nFiles, col("version"), col("lane"),
        col("pk"))
      .sortWithinPartitions(col("version"), col("lane"), col("pk"))
      .write.partitionBy("version").parquet(tmp.toString)
    Maint.flipNow(fs, live, tmp, trash, "compactDocs")
    ()
  }

  /** The boundary-segment carry-over read — step 6 of
    * [[appendBatch]], its plan shape spec-gated: the lane and
    * boundary-segment ids are DRIVER-known, so the scan carries
    * STATIC isin PARTITION filters (pack_bucket × the distinct K0
    * set — directories pruned before any row is read; a per-lane
    * exact (lane AND seg) disjunction would be depth-nBuckets, the
    * expression wall), and the broadcast ctl join cuts the small
    * remainder exactly (≤ segSize rows per lane survive). */
  private[graft] def carriedRows(spark: SparkSession,
      shardsDir: String, ctlLocal: DataFrame, laneVals: Seq[Any],
      ctlRows: Array[org.apache.spark.sql.Row], segSize: Int)
      : DataFrame = {
    import org.apache.hadoop.fs.Path
    val k0s = ctlRows.map(r => r.getLong(4) / segSize)
      .distinct.sorted.map(k => k: Any)
    // each lane's EXACT boundary-segment dir is driver-known — read
    // the dirs explicitly under the store basePath so the carry-over
    // read LISTS only the boundary segments (partition discovery
    // walks every dir handed to it; the isin partition filters prune
    // what's READ, not what's listed — the readEpochSlice lesson).
    // Lanes spliced at sequence 0 carry nothing and are skipped.
    val root = new Path(shardsDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = ctlRows.filter(_.getLong(4) > 0L).map(r =>
        new Path(root,
          s"pack_bucket=${r.getLong(0)}/seq_seg=${r.getLong(4) / segSize}"))
      .distinct.filter(fs.exists).map(_.toString)
    val base =
      if (dirs.isEmpty) spark.read.parquet(shardsDir)
      else spark.read.option("basePath", shardsDir).parquet(dirs: _*)
    base
      .where(col("pack_bucket").isin(laneVals: _*) &&
        col("seq_seg").isin(k0s: _*))
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
    * version history — and with it each append's metadata-pass
    * listing cost — bounded. */
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
  def read(spark: SparkSession, rootDir: String): DataFrame =
    spark.read.parquet(s"$rootDir/shards").drop("seq_seg")

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
    * the stored shards; the store's packing contract (`meta`)
    * supplies nBuckets and salt so a caller can never shuffle under a
    * drifted lane domain. */
  def readEpoch(spark: SparkSession, rootDir: String, epoch: Long)
      : DataFrame = {
    val (nLanes, salt) = packingMeta(spark, rootDir)
    stampEpoch(read(spark, rootDir), nLanes, salt, epoch)
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
    * lane directories — the owned `pack_bucket=` paths are
    * enumerated driver-side and handed to the reader explicitly
    * (under the store `basePath`, so the partition columns survive),
    * which keeps both the FILE LISTING and the read to ~1/W of the
    * store: a bare root read would re-list every lane's tree per
    * worker during partition discovery even though the isin filter
    * prunes what's read afterward. The redundant isin filter stays
    * on top as the semantic contract (and the plan gate). No RNG
    * state and no coordination: any worker re-derives any epoch's
    * slice independently, and a resumed worker re-derives the exact
    * order it crashed in. Workers past the lane count
    * (numWorkers > nLanes) get empty slices — size
    * numWorkers ≤ nLanes for useful balance. */
  def readEpochSlice(spark: SparkSession, rootDir: String, epoch: Long,
      worker: Int, numWorkers: Int): DataFrame = {
    import org.apache.hadoop.fs.Path
    require(numWorkers >= 1, s"numWorkers must be >= 1: $numWorkers")
    require(worker >= 0 && worker < numWorkers,
      s"worker must be in [0, $numWorkers): $worker")
    val (nLanes, salt) = packingMeta(spark, rootDir)
    val mine = Sampling.epochLaneOrder(nLanes, epoch, salt).zipWithIndex
      .collect { case (l, i) if i % numWorkers == worker => l }
    val shards = new Path(s"$rootDir/shards")
    val fs = shards.getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // only lanes that exist on disk: an owned-but-never-written lane
    // has no dir, and the reader errors on a missing input path
    val owned = mine.map(l => new Path(shards, s"pack_bucket=$l"))
      .filter(fs.exists).map(_.toString)
    val slice =
      if (owned.isEmpty)
        // degenerate (empty store or numWorkers > live lanes): fall
        // back to the full-listing read — there is nothing to prune
        read(spark, rootDir)
          .where(col("pack_bucket").isin(mine.map(l => l: Any): _*))
      else
        spark.read.option("basePath", shards.toString)
          .parquet(owned: _*)
          .where(col("pack_bucket").isin(mine.map(l => l: Any): _*))
          .drop("seq_seg")
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

  /** The store's frozen packing contract off `meta`: (nBuckets,
    * salt) — the lane domain every epoch order is derived under.
    * Fingerprint-cached ([[graft.util.ControlCache]]): the serve
    * faces (`readEpoch`/`readEpochSlice`) otherwise pay a one-row
    * Spark job per call for a value the store contract freezes. */
  private def packingMeta(spark: SparkSession, rootDir: String)
      : (Int, String) = {
    import org.apache.hadoop.fs.Path
    val meta = new Path(new Path(rootDir), "meta")
    val fs = meta.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m = storedMetaVals(spark, fs, meta)
    (m(1).asInstanceOf[Int], m(3).asInstanceOf[String])
  }

  /** The frozen packing contract's raw meta row, fingerprint-cached:
    * one loader for the append contract check and the serve faces.
    * Returned untyped because the READ faces accept the pre-seq_seg
    * 4-field layout (they consume only n_buckets and salt) while the
    * append face requires all 5 fields and fails loudly otherwise. */
  private def storedMetaVals(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      meta: org.apache.hadoop.fs.Path): Seq[Any] =
    graft.util.ControlCache.cached(fs, meta) {
      spark.read.parquet(meta.toString).head().toSeq
    }

  /** Store summary — ONE row per live lane: `(lane, n_segments,
    * n_files, bytes, n_sequences, seq_max)`. The nBuckets sizing
    * feedback (the [[graft.tools.Inspect]] discipline applied to
    * this tree): segment/file/byte counts come from a driver
    * listing (metadata only, hidden maintenance siblings skipped —
    * what reads see), and sequence counts ride a count-shaped scan
    * over the partitioned tree (grouping keys are DIRECTORY columns
    * and the only data column touched is the int64 `seq_idx` — the
    * ids/starts pages are never read). Admin verb for the
    * "size nBuckets so one lane's SUFFIX rebuilds comfortably"
    * contract: lane-byte skew or runaway per-lane segment counts
    * show up here before an append pays for them. Every column is a
    * non-null long (`seq_max` = -1 for a listed lane with no
    * readable rows). Same reader exposure as [[read]] — don't
    * overlap maintenance. */
  def stats(spark: SparkSession, rootDir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    val shards = new Path(s"$rootDir/shards")
    val fs = shards.getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val perLane = fs.listStatus(shards).toSeq
      .filter(s => s.isDirectory &&
        s.getPath.getName.startsWith("pack_bucket="))
      .map { ld =>
        val lane = ld.getPath.getName.stripPrefix("pack_bucket=")
          .toLong
        val segs = fs.listStatus(ld.getPath).toSeq
          .filter(s => s.isDirectory &&
            s.getPath.getName.startsWith("seq_seg="))
        val files = segs.flatMap(sd => fs.listStatus(sd.getPath).toSeq
          .filter(f => f.isFile &&
            f.getPath.getName.endsWith(".parquet") &&
            !f.getPath.getName.startsWith("_") &&
            !f.getPath.getName.startsWith(".")))
        (lane, segs.size.toLong, files.size.toLong,
          files.map(_.getLen).sum)
      }
    val layout = perLane
      .toDF("lane", "n_segments", "n_files", "bytes")
    val seqs = spark.read.parquet(shards.toString)
      .groupBy(col("pack_bucket").cast("long").as("lane"))
      .agg(count(lit(1)).as("n_sequences"),
        max("seq_idx").as("seq_max"))
    // a listed lane with no readable rows (e.g. its only segment
    // parked mid-maintenance) reports 0 sequences and seq_max = -1 —
    // both columns stay non-null so consumers read the documented
    // all-long shape
    layout.join(seqs, Seq("lane"), "left")
      .na.fill(Map("n_sequences" -> 0L, "seq_max" -> -1L))
      .orderBy("lane")
  }
}
