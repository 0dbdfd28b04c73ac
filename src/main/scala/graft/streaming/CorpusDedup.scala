package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.pipeline.{Bloom, TextOps}
import graft.util.{DataFile, JobDesc, Maint, Manifest, ManifestLog}

/** Streaming incremental corpus dedup — the production face of the
  * batch cross-corpus operators: a document stream is deduplicated
  * against everything already ACCEPTED into the corpus, and survivors
  * append along with two mergeable sidecars so the next batch never
  * re-reads corpus text:
  *
  *   - `tierDir`: per-version bloom-word partials keyed by bucket
  *     (nBuckets × nWords longs per version — kilobytes; bit_or-merged
  *     at read, the stat-tier discipline). The prefilter that answers
  *     "definitely new" from a broadcastable table.
  *   - `fpDir`: (doc_id, _fp, version) — the exact-confirm side. Only
  *     bloom HITS (true dups + the false-positive fraction) probe this
  *     table, and the join reads fingerprints, never text.
  *
  * Result contract: a document is accepted iff its content fingerprint
  * was not accepted before — within the batch, the smallest id wins
  * (deterministic canonical copy). Equivalent to running
  * [[graft.pipeline.Dedup.exact]] over the concatenated history, but
  * each batch costs |batch| work + a hit-fraction fingerprint join —
  * never a corpus scan.
  *
  * Sidecar layout: every sidecar (`tierDir`, `fpDir`, and the
  * near-dup `postingsDir` and semantic `vecDir`) is a [[ManifestLog]]
  * store with one tree, `rows/version=<N>/v=<mv>/part-*.parquet`; the
  * newest `_manifest/<mv>` lists the live files with their bytes and
  * stores the row schema. Every write is one manifest commit: readers
  * see the pre- or the post-commit rows, never a mix or a duplicate,
  * and a crash leaves unlisted files the next verb deletes. Reads
  * only list and read. `corpusDir` stays plain `version=`-partitioned
  * parquet, overwritten per version.
  *
  * 100 TB shape: the tier grows one kilobyte-scale partial per batch
  * (compact by folding the bit_or-merged row set when versions pile
  * up — [[compactTier]]); the fingerprint table is the only
  * corpus-sized sidecar and is touched only on the hit fraction,
  * shuffled by `_fp`. Batch work never depends on corpus size.
  *
  * Reference note: dp3's ingest dedups on the message identity key at
  * write time (wal/walmgr.go batch merge); this extends the same
  * write-time discipline to CONTENT identity for document corpora.
  */
object CorpusDedup {

  /** Start the streaming dedup: each micro-batch is deduped in-batch
    * (min id per fingerprint), then against the accepted corpus via
    * the tier + fingerprint sidecars; survivors land in `corpusDir`
    * under the batch's version partition.
    *
    * Restart semantics: foreachBatch is at-least-once, so a crashed
    * batch replays with the SAME batchId. [[appendBatch]] is
    * idempotent per version — the accepted set is computed against
    * strictly OLDER versions only (a replay never sees its own partial
    * writes, so it re-derives the identical survivor set), the corpus
    * write is a dynamic overwrite of its version partition, and each
    * sidecar commit replaces the files its manifest lists for the
    * version (a replay replaces its own rows with identical content
    * rather than appending duplicates). Replay ∘ appendBatch =
    * appendBatch, which together with the checkpointed offsets gives
    * effectively-exactly-once corpus contents. */
  def start(spark: SparkSession, stream: DataFrame, corpusDir: String,
      tierDir: String, fpDir: String, checkpointDir: String,
      nBuckets: Int = 1024, nWords: Int = 4, kHashes: Int = 4,
      idCol: String = "doc_id", textCol: String = "text")
      : StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        appendBatch(spark, batch, batchId + 1, corpusDir, tierDir,
          fpDir, nBuckets, nWords, kHashes, idCol, textCol)
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Each sidecar's one tree. */
  private val Rows = "rows"

  private def sidecar(spark: SparkSession, dir: String): ManifestLog =
    new ManifestLog(new Path(dir), spark.sparkContext.hadoopConfiguration,
      Map(Rows -> Seq("version")))

  /** `files` of a sidecar, read with the manifest's schema under the
    * tree's basePath (`version` survives as a long): no
    * schema-inference job, and no listing beyond the files named. */
  private def rows(spark: SparkSession, dir: String, m: Manifest,
      files: Seq[DataFile]): DataFrame =
    sidecar(spark, dir).read(spark, Rows, m.schema(Rows), files)

  /** The append faces' read: the sidecar's rows of versions strictly
    * older than `version` from the newest manifest — None when there
    * are none (no corpus yet). A replay never sees its own version's
    * rows, so it re-derives the same survivors. Lists and reads only;
    * fails loudly on a dir built before the manifest layout. */
  private def older(spark: SparkSession, dir: String, version: Long,
      face: String): Option[DataFrame] = {
    val m = sidecar(spark, dir).latest
    if (m.isEmpty) {
      val p = new Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      require(!fs.exists(p) || !fs.listStatus(p).exists { st =>
          val n = st.getPath.getName
          n.startsWith("version=") || n.endsWith(".parquet")
        }, s"$face: $dir holds a sidecar built before the manifest " +
          "layout — rebuild it with this version")
    }
    m.flatMap { m =>
      val files = m.filesOf(Rows).filter(_.part("version") < version)
      if (files.isEmpty) None else Some(rows(spark, dir, m, files))
    }
  }

  /** The append faces' sidecar write: `df`'s rows become `version`'s
    * files in one commit that drops the files the newest manifest
    * lists for `version` — a replay replaces them, never duplicates
    * them. `step` names the sidecar in the job description and the
    * commit's [[Maint.step]] verb. */
  private def commitVersion(spark: SparkSession, dir: String, verb: String,
      step: String, version: Long, df: DataFrame): Unit = {
    val log = sidecar(spark, dir)
    val prev = log.open(s"$verb:$step")
    val data = df.withColumn("version", lit(version))
    val written = JobDesc(spark.sparkContext, s"dedup:$verb:$step") {
      log.write(prev.fold(0L)(_.version) + 1, Rows, data)
    }
    log.commit(s"$verb:$step", prev,
      prev.fold(Seq(Seq(Rows, data.schema.json)))(_.header),
      prev.fold(Seq.empty[DataFile])(_.filesOf(Rows)
        .filter(_.part("version") != version)) ++ written)
  }

  /** The corpus write: a dynamic partition overwrite of exactly
    * `version=N`, so a retried batch replaces its own partition. */
  private def writeCorpus(spark: SparkSession, verb: String, version: Long,
      df: DataFrame, corpusDir: String): Unit =
    JobDesc(spark.sparkContext, s"dedup:$verb:corpus") {
      df.withColumn("version", lit(version))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("version")
        .parquet(corpusDir)
    }

  /** bit_or of each bloom word — the tier partial's merge. */
  private def bloomOr(nWords: Int): Seq[Column] =
    (0 until nWords).map(x => expr(s"bit_or(bloom_w$x)").as(s"bloom_w$x"))

  /** One micro-batch (also the batch-import face): in-batch canonical
    * copy, corpus-membership filter, then the corpus write and one
    * commit per sidecar. Returns the number of accepted documents.
    *
    * Idempotent per `version`: the membership state is read with
    * `version < N` from the sidecars' manifests (a crashed attempt's
    * own writes are invisible to its replay — without this a bloom
    * false positive could find its OWN fingerprint from the failed
    * attempt and silently drop the document); the corpus write
    * overwrites `version=N` and each sidecar commit replaces the
    * files it lists for version N, so a replay replaces rather than
    * duplicates. Callers outside the streaming path must issue
    * versions monotonically and reuse the same version when retrying
    * a failed append. */
  def appendBatch(spark: SparkSession, batch0: DataFrame, version: Long,
      corpusDir: String, tierDir: String, fpDir: String,
      nBuckets: Int = 1024, nWords: Int = 4, kHashes: Int = 4,
      idCol: String = "doc_id", textCol: String = "text"): Long = {
    val verb = "appendBatch"
    val sc = spark.sparkContext
    // in-batch exact dedup: deterministic canonical copy (min id per
    // fingerprint) — Dedup.canonicalPerFingerprint, the ONE copy of
    // the contract this and Curate.curate share (skew-safe grouped
    // argmin, never a window over the content key, never a semi-join
    // back; see the helper's doc)
    val batch = graft.pipeline.Dedup.canonicalPerFingerprint(batch0,
      TextOps.fingerprint(col(textCol)), idCol)
    val (survivors, tierPin) =
      older(spark, tierDir, version, verb) match {
        case Some(rows) =>
          // the fingerprints commit before the tier, so older tier rows
          // imply older fingerprints
          val fps = older(spark, fpDir, version, verb).getOrElse(
            throw new IllegalStateException(s"$verb: $tierDir has rows " +
              s"older than version $version but $fpDir has none"))
          val (s, p) = JobDesc(sc, s"dedup:$verb:prefilter") {
            Bloom.dedupAgainstTier(batch,
              rows.select(col("bloom_bucket") +:
                (0 until nWords).map(n => col(s"bloom_w$n")): _*),
              fps.select(col("_fp")), nBuckets, nWords, kHashes, textCol)
          }
          (s, Some(p))
        case None => (batch, None)
      }
    // one computation of the accepted set feeds all three writes. Lazy
    // pin: the count below is the single next consumer and
    // materializes the cache in its own job (the pinLazy discipline) —
    // the tier pin is released only AFTER that, or the count would
    // recompute through the released prefilter. Pinning plans the
    // frame, which already runs its shuffle stages
    val (pinned, pin) = JobDesc(sc, s"dedup:$verb:accept") {
      graft.pipeline.Dedup.pinLazy(Bloom.withBloomWords(survivors,
        nBuckets, nWords, kHashes, textCol))
    }
    try {
      // release the prefilter the moment the accepted set is
      // materialized (finally: also on failure)
      val n = JobDesc(sc, s"dedup:$verb:accept") {
        try pinned.count() finally tierPin.foreach(_.release())
      }
      if (n > 0) {
        writeCorpus(spark, verb, version,
          pinned.select(batch0.columns.map(col): _*), corpusDir)
        commitVersion(spark, fpDir, verb, "fp", version,
          pinned.select(col(idCol), col("_fp")))
        val words = bloomOr(nWords)
        commitVersion(spark, tierDir, verb, "tier", version,
          pinned.groupBy(col("bloom_bucket")).agg(words.head, words.tail: _*))
      }
      n
    } finally pin.release()
  }

  /** Streaming NEAR-duplicate corpus dedup — the shingle-Jaccard face
    * of [[appendBatch]]: drop every batch document within Jaccard
    * `threshold` of anything already ACCEPTED, using a persisted
    * shingle inverted index instead of re-shingling corpus text
    * ([[graft.pipeline.Dedup.crossCorpusPairs]] notes the ref side's
    * exploded index is "the thing to persist between batches" in
    * production — this is that sidecar).
    *
    * `postingsDir` rows: (bucket, sh, ref_id, nb, version) — one row
    * per accepted document per distinct k-shingle, `nb` the document's
    * shingle-set size frozen at accept time, committed per `version`
    * (idempotent replay, same discipline as [[appendBatch]]). Rows are
    * clustered by (`bucket` = hash(sh) mod nBuckets, `sh`) within each
    * version's files, and the read path pushes
    * `bucket IN (batch's buckets)` so parquet row-group min/max stats
    * prune postings the batch cannot touch.
    *
    * 100 TB shape (the round-11 review found the old plan shuffled the
    * corpus-sized postings table every batch): the batch side of the
    * candidate join is BROADCAST — a micro-batch's exploded shingles
    * are small by definition (size micro-batches accordingly; the
    * broadcast is the contract) — so postings stream map-side through
    * a BroadcastHashJoin with NO exchange on the corpus-sized side,
    * and only true candidate pairs enter the downstream aggregate.
    * [[NearDupPlan]] is the spec-gated plan builder.
    *
    * Semantics: EXACT `crossCorpusPairs(batch, accepted)` at
    * `maxDf = MaxValue` — each batch's survivors are what the batch
    * operator would keep against the accepted-so-far corpus (the spec
    * pins this equivalence over random multi-batch histories).
    * In-batch near-dups are deliberately NOT collapsed (the corpus
    * boundary is this verb's job, [[graft.pipeline.Curate
    * .dedupAgainstCorpus]]'s contract); run the batch through
    * [[graft.pipeline.Curate.dedupNearDup]] first if needed.
    *
    * `maxDf` is the hot-shingle guard, applied to the CURRENT
    * postings df (corpus side): shingles indexed by more than `maxDf`
    * accepted documents are dropped from candidate generation and
    * intersection counting, while `na`/`nb` stay the frozen set
    * sizes. This deliberately DIVERGES from the batch operator's
    * post-cap sizes — an incremental index cannot retroactively
    * re-size accepted documents as shingles become hot — and is the
    * standard recall-preserving approximation (a shingle shared by
    * hundreds of documents carries no dedup signal; dropping it can
    * only lower measured Jaccard, so `threshold` remains a lower
    * bound on true similarity of dropped docs).
    *
    * Hotness needs no sidecar and no full-index aggregate: a batch
    * shingle's df IS its postings row count, and only BATCH shingles
    * can generate candidates — so df is computed from the map-side
    * postings stream matched against the batch's distinct shingles
    * (one broadcast row per shingle, partial-aggregated before the
    * kilobyte-scale exchange), never via `postings.groupBy(sh)` over
    * the whole corpus-sized index. */
  def appendBatchNearDup(spark: SparkSession, batch0: DataFrame,
      version: Long, corpusDir: String, postingsDir: String,
      k: Int = 3, threshold: Double = 0.5,
      maxDf: Int = Int.MaxValue, nBuckets: Int = 256,
      idCol: String = "doc_id", textCol: String = "text"): Long = {
    import graft.pipeline.Dedup
    val verb = "appendBatchNearDup"
    val sc = spark.sparkContext
    if (maxDf != Int.MaxValue)
      require(maxDf >= 1, s"maxDf must be >= 1 (got $maxDf)")
    // one pinned frame of (id, distinct-shingle array, size): feeds
    // the candidate join's batch side, the survivor filter, and the
    // postings append — the jaccardPairs pin discipline
    // lazy pin: the first consumer is single either way (the bucket-set
    // collect when a corpus exists, else the survivor count) and
    // materializes the cache in its own job
    val (arr, pin) = JobDesc(sc, s"dedup:$verb:batch") {
      Dedup.pinLazy(graft.util.Spread.ensure(
          batch0.select(col(idCol).as("_id"), col(textCol)), Seq(col("_id")))
        .select(col("_id"),
          TextOps.tokens(lower(col(textCol))).as("_toks"))
        .select(col("_id"),
          Dedup.shinglesOfTokens(col("_toks"), k).as("_arr"))
        .withColumn("_na", size(col("_arr"))))
    }
    try {
      val flagged: DataFrame =
        older(spark, postingsDir, version, verb) match {
          case None =>
            arr.select(col("_id")).limit(0) // typed-empty: no corpus yet
          case Some(rows) =>
            // the batch's bucket set, collected driver-side (≤ nBuckets
            // ints off the pinned frame): pushed as a row predicate so
            // the (bucket, sh)-clustered postings files prune row
            // groups the batch cannot match
            val batchBuckets = JobDesc(sc, s"dedup:$verb:buckets") {
              arr.select(explode(col("_arr")).as("sh"))
                .select(pmod(xxhash64(col("sh")), lit(nBuckets.toLong))
                  .as("bucket"))
                .distinct().collect().map(_.getLong(0))
            }
            val postings = rows
              .where(col("bucket").isin(batchBuckets: _*))
              .select(col("sh"), col("ref_id"), col("nb"))
            NearDupPlan.flagged(arr, postings, maxDf, threshold)
        }
      val survivors = arr.join(broadcast(flagged), Seq("_id"), "left_anti")
      // lazy: the count is the single next consumer (pinLazy rule)
      val (pinnedSurv, survPin) =
        JobDesc(sc, s"dedup:$verb:accept")(Dedup.pinLazy(survivors))
      try {
        val n = JobDesc(sc, s"dedup:$verb:accept")(pinnedSurv.count())
        if (n > 0) {
          writeCorpus(spark, verb, version,
            batch0.join(broadcast(pinnedSurv.select(
              col("_id").as(idCol))), Seq(idCol), "left_semi"),
            corpusDir)
          commitVersion(spark, postingsDir, verb, "postings", version,
            pinnedSurv.select(col("_id").as("ref_id"),
                col("_na").as("nb"), explode(col("_arr")).as("sh"))
              .withColumn("bucket",
                pmod(xxhash64(col("sh")), lit(nBuckets.toLong)))
              // cluster by (bucket, sh) so the next batch's pushed
              // bucket-IN predicate skips row groups on min/max stats
              .repartition(col("bucket"))
              .sortWithinPartitions(col("bucket"), col("sh")))
        }
        n
      } finally survPin.release()
    } finally pin.release()
  }

  /** The near-dup candidate plan, factored out so its physical shape
    * is spec-gateable (StreamingCorpusDedupSpec asserts the
    * corpus-sized `postings` side is NEVER shuffled: every join is a
    * BroadcastHashJoin with postings streaming, and the only
    * exchanges carry matched/aggregated rows).
    *
    * `arr` is the pinned batch frame (_id, _arr, _na); `postings` the
    * (sh, ref_id, nb) index rows. Returns the distinct `_id`s within
    * `threshold` Jaccard of an accepted document. */
  private[graft] object NearDupPlan {
    def flagged(arr: DataFrame, postings: DataFrame, maxDf: Int,
        threshold: Double): DataFrame = {
      val newSide0 = arr.select(col("_id"), col("_na"),
        explode(col("_arr")).as("sh"))
      val newSide =
        if (maxDf == Int.MaxValue) newSide0
        else {
          // df of a batch shingle == its postings row count; one
          // broadcast row per distinct batch shingle keeps the match
          // map-side and 1:1, and the partial aggregate shrinks the
          // exchange to ≤ |batch shingles| rows
          val batchSh = arr.select(explode(col("_arr")).as("sh"))
            .distinct()
          val hot = postings.join(broadcast(batchSh), Seq("sh"))
            .groupBy(col("sh")).agg(count(lit(1)).as("_df"))
            .where(col("_df") > maxDf).select("sh")
          // dropping hot shingles from the BATCH side is equivalent
          // to the old postings-side cap: a pair's intersection rows
          // exist only where both sides hold the shingle
          newSide0.join(broadcast(hot), Seq("sh"), "left_anti")
        }
      // the jaccardPairs length-filter bound, applied at the join:
      // J >= t forces min/max set-size ratio >= t (t - 1e-6 slack
      // keeps the round-to-6 threshold boundary exact), so
      // size-mismatched candidates never cost aggregate rows
      val tSlack = threshold - 1e-6
      val sizeOk =
        if (tSlack <= 0) lit(true)
        else col("p.nb").cast("double") >= lit(tSlack) * col("n._na") &&
          col("n._na").cast("double") >= lit(tSlack) * col("p.nb")
      postings.as("p")
        .join(broadcast(newSide.as("n")),
          col("p.sh") === col("n.sh") && sizeOk)
        .groupBy(col("n._id").as("_id"), col("p.ref_id").as("ref_id"))
        .agg(count(lit(1)).as("_c"), min(col("n._na")).as("na"),
          min(col("p.nb")).as("nb"))
        .where(round(col("_c").cast("double")
          / (col("na") + col("nb") - col("_c")), 6) >= threshold)
        .select(col("_id")).distinct()
    }
  }

  /** Streaming SEMANTIC corpus dedup — the embedding face of
    * [[appendBatchNearDup]]: drop every batch vector within cosine
    * `threshold` of anything already ACCEPTED, using a persisted
    * accepted-vector sidecar instead of re-reading corpus embeddings.
    *
    * `vecDir` rows: (_rv, _rnrm, cell, version) — one row per
    * accepted vector with its norm frozen at accept time, committed
    * per `version` (idempotent replay, the sidecar discipline shared
    * with [[appendBatch]]), rows clustered by
    * `cell` within each version's files so the read path's pushed
    * `cell IN (batch cells)` predicate prunes row groups the batch
    * cannot touch (the coarse-quantizer analogue of the postings
    * bucket prune).
    *
    * `cents` is the FROZEN coarse quantizer
    * ([[graft.pipeline.Similarity.trainIvfCentroids]] on a sample,
    * persisted once): cell assignment must agree across every batch
    * or the cell-equi candidate join loses pairs, so the quantizer is
    * an input, never retrained per batch.
    *
    * Semantics: EXACT [[graft.pipeline.Curate
    * .dedupSemanticAgainstCorpus]] against the accepted-so-far corpus
    * with the same cell pruning (the spec pins this equivalence over
    * random multi-batch histories). In-batch paraphrases are
    * deliberately NOT collapsed — run the batch through
    * [[graft.pipeline.Curate.dedupSemantic]] first if needed, the
    * same contract as the lexical face.
    *
    * 100 TB shape: the batch side of the candidate join is BROADCAST
    * (micro-batches are small by definition — the broadcast is the
    * contract), so the corpus-sized sidecar STREAMS map-side through
    * one BroadcastHashJoin with ZERO exchange on the corpus side
    * ([[SemanticPlan]] is the spec-gated plan builder), and the only
    * shuffled rows are the flagged-id aggregate's. Batch cost is
    * |batch| × |probed cells|, never corpus size. */
  def appendBatchSemantic(spark: SparkSession, batch0: DataFrame,
      version: Long, corpusDir: String, vecDir: String,
      cents: Seq[Seq[Double]], threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): Long = {
    import graft.pipeline.{Dedup, Similarity}
    val verb = "appendBatchSemantic"
    val sc = spark.sparkContext
    require(cents.nonEmpty,
      "appendBatchSemantic needs a trained coarse quantizer (cents)")
    // one pinned frame of (id, vector, norm, cell): feeds the
    // candidate join's broadcast side, the survivor filter, and the
    // sidecar append. Lazy: the first consumer is single either way
    // (the cell-set collect when a corpus exists, else the survivor
    // count) and materializes the cache in its own job
    val (arr, pin) = JobDesc(sc, s"dedup:$verb:batch") {
      Dedup.pinLazy(Similarity.assignCells(
          batch0.select(col(idCol).as("_id"), col(vecCol).as("_v")),
          cents, "_v")
        .withColumn("_nrm", Similarity.norm(col("_v"))))
    }
    try {
      val flagged: DataFrame =
        older(spark, vecDir, version, verb) match {
          case None =>
            arr.select(col("_id")).limit(0) // typed-empty: no corpus yet
          case Some(rows) =>
            // the batch's cell set, collected driver-side (≤ kCells
            // ints off the pinned frame): pushed as a row predicate so
            // the cell-clustered sidecar files prune row groups
            val batchCells = JobDesc(sc, s"dedup:$verb:cells") {
              arr.select(col("cell")).distinct().collect().map(_.getInt(0))
            }
            val accepted = rows
              .where(col("cell").isin(batchCells.map(c => c: Any): _*))
              .select(col("_rv"), col("_rnrm"), col("cell"))
            SemanticPlan.flagged(arr, accepted, threshold)
        }
      val survivors = arr.join(broadcast(flagged), Seq("_id"), "left_anti")
      // lazy: the count is the single next consumer (pinLazy rule)
      val (pinnedSurv, survPin) =
        JobDesc(sc, s"dedup:$verb:accept")(Dedup.pinLazy(survivors))
      try {
        val n = JobDesc(sc, s"dedup:$verb:accept")(pinnedSurv.count())
        if (n > 0) {
          writeCorpus(spark, verb, version,
            batch0.join(broadcast(pinnedSurv.select(
              col("_id").as(idCol))), Seq(idCol), "left_semi"),
            corpusDir)
          commitVersion(spark, vecDir, verb, "vec", version,
            pinnedSurv.select(col("_v").as("_rv"),
                col("_nrm").as("_rnrm"), col("cell"))
              // cluster by cell so the next batch's pushed cell-IN
              // predicate skips row groups on min/max stats
              .repartition(col("cell"))
              .sortWithinPartitions(col("cell")))
        }
        n
      } finally survPin.release()
    } finally pin.release()
  }

  /** The semantic candidate plan, factored out so its physical shape
    * is spec-gateable (StreamingSemanticDedupSpec asserts the
    * corpus-sized `accepted` side is NEVER shuffled: the candidate
    * join is a BroadcastHashJoin with the sidecar streaming, and the
    * only exchange carries flagged ids).
    *
    * `arr` is the pinned batch frame (_id, _v, _nrm, cell);
    * `accepted` the sidecar rows (_rv, _rnrm, cell). Returns the
    * distinct `_id`s within cosine `threshold` of an accepted
    * vector — the identical round-to-6 cosine the batch operator
    * ([[graft.pipeline.Similarity.crossCosinePairs]]) computes. */
  private[graft] object SemanticPlan {
    import graft.pipeline.Similarity
    def flagged(arr: DataFrame, accepted: DataFrame,
        threshold: Double): DataFrame =
      accepted
        .join(broadcast(arr), Seq("cell"))
        .where(round(Similarity.dot(col("_v"), col("_rv"))
          / (col("_nrm") * col("_rnrm")), 6) >= threshold)
        .select(col("_id")).distinct()
  }

  /** Start the streaming semantic dedup ([[appendBatchSemantic]] per
    * micro-batch; same checkpoint/replay contract as [[start]]). */
  def startSemantic(spark: SparkSession, stream: DataFrame,
      corpusDir: String, vecDir: String, checkpointDir: String,
      cents: Seq[Seq[Double]], threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding")
      : StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        appendBatchSemantic(spark, batch, batchId + 1, corpusDir,
          vecDir, cents, threshold, idCol, vecCol)
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Start the streaming near-dup dedup ([[appendBatchNearDup]] per
    * micro-batch; same checkpoint/replay contract as [[start]]). */
  def startNearDup(spark: SparkSession, stream: DataFrame,
      corpusDir: String, postingsDir: String, checkpointDir: String,
      k: Int = 3, threshold: Double = 0.5,
      maxDf: Int = Int.MaxValue, nBuckets: Int = 256,
      idCol: String = "doc_id", textCol: String = "text")
      : StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        appendBatchNearDup(spark, batch, batchId + 1, corpusDir,
          postingsDir, k, threshold, maxDf, nBuckets, idCol, textCol)
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()

  /** THE sidecar maintenance commit, shared by the five maintenance
    * verbs: open the newest manifest, write the rewritten rows as
    * manifest version `v+1`'s files, and commit once — readers see the
    * old rows or the new, never both, so no crash can duplicate or
    * lose a row, and the next verb deletes whatever a crash left
    * unlisted. `fold`: rewrite the files of versions STRICTLY OLDER
    * than the newest as the second-newest version and keep the
    * newest's exact files (nothing to do below three versions) — the
    * newest version's stream batch may not have committed its
    * checkpoint, and its replay re-reads `version < N`, which must
    * still see every older row. Otherwise every listed file is
    * rewritten with its `version`. `shape` re-clusters the rows into
    * `nFiles` output files, sized from the rewritten files' manifest
    * bytes ([[Maint.sizedFileCount]]). A dir with no manifest (never
    * written, or built before the manifest layout) is left untouched.
    * Single-writer with respect to the append faces. */
  private def rewrite(spark: SparkSession, dir: String, verb: String,
      targetBytesPerFile: Long, fold: Boolean)(
      shape: (DataFrame, Int) => DataFrame): Unit = {
    val log = sidecar(spark, dir)
    if (log.latest.isEmpty) return
    val prev = log.open(verb).get
    val files = prev.filesOf(Rows)
    val versions = files.map(_.part("version")).distinct.sorted
    val (redo, version) =
      if (!fold) (files, col("version"))
      else if (versions.length <= 2) return
      else (files.filter(_.part("version") < versions.last),
        lit(versions.init.last))
    val nFiles = Maint.sizedFileCount(redo.map(_.bytes).sum,
      targetBytesPerFile)
    val written = JobDesc(spark.sparkContext, s"dedup:$verb:rows") {
      log.write(prev.version + 1, Rows, shape(
        rows(spark, dir, prev, redo).withColumn("version", version), nFiles))
    }
    log.commit(verb, Some(prev), prev.header, files.diff(redo) ++ written)
  }

  /** Compact the tier sidecar: after many batches the tier holds one
    * partial row-set per version; fold the versions strictly older
    * than the newest to ONE bit_or-merged row per bucket in one file
    * (≤ nBuckets rows, as the second-newest version), in one commit
    * ([[rewrite]]). Membership answers are unchanged — bit_or is
    * associative — and the next batch's prefilter reads one row per
    * bucket instead of one per (bucket, version). */
  def compactTier(spark: SparkSession, tierDir: String,
      nWords: Int = 4): Unit =
    rewrite(spark, tierDir, "compactTier", 128L << 20, fold = true) {
      (rows, _) =>
        val words = bloomOr(nWords)
        rows.groupBy(col("bloom_bucket"), col("version"))
          .agg(words.head, words.tail: _*).coalesce(1)
    }

  /** Compact the fingerprint sidecar: [[appendBatch]] adds files under
    * one `version=N` per batch forever, so a long-lived stream
    * accumulates thousands of small files and every batch's
    * membership join pays the listing and footer overhead. Fold the
    * fingerprints of versions strictly older than the newest into the
    * second-newest version in one commit ([[rewrite]]): the fold moves
    * rows, never drops, alters or duplicates one. Output files are
    * SIZED (`ceil(bytes / target)`, the Ingest.optimize rule) and
    * range-clustered by `_fp`, so the fold never collapses the
    * sidecar's scan parallelism to one AQE-coalesced task's worth of
    * files. */
  def compactFp(spark: SparkSession, fpDir: String,
      targetBytesPerFile: Long = 128L << 20): Unit =
    rewrite(spark, fpDir, "compactFp", targetBytesPerFile, fold = true) {
      (rows, nFiles) =>
        // membership probes are a semi-join on _fp (no pushed range
        // predicate), so even spread is all the layout needs
        rows.repartitionByRange(nFiles, col("_fp"))
    }

  /** Compact the shingle-postings sidecar: fold the postings of
    * versions strictly older than the newest into the second-newest
    * version in one commit ([[rewrite]]), so long
    * [[appendBatchNearDup]] histories keep flat per-batch listing
    * overhead. Output files are SIZED (`ceil(bytes / target)`) and
    * range-clustered by (`bucket`, `sh`): each file is a contiguous
    * slab, so the next batch's pushed bucket-IN predicate prunes whole
    * files on footer min/max, as the append layout prunes row groups
    * (an unsized fold let AQE collapse the sidecar to 1-2 files and
    * the candidate joins to 1-2 tasks). */
  def compactPostings(spark: SparkSession, postingsDir: String,
      targetBytesPerFile: Long = 128L << 20): Unit =
    rewrite(spark, postingsDir, "compactPostings", targetBytesPerFile,
        fold = true) { (rows, nFiles) =>
      rows.repartitionByRange(nFiles, col("bucket"), col("sh"))
        .sortWithinPartitions(col("bucket"), col("sh"))
    }

  /** Compact the accepted-vector sidecar: fold the vectors of versions
    * strictly older than the newest into the second-newest version in
    * one commit ([[rewrite]]), so long [[appendBatchSemantic]]
    * histories keep flat per-batch listing overhead. Output files are
    * SIZED (`ceil(bytes / target)`) and range-clustered by (cell,
    * norm), so the pushed cell-IN predicate prunes whole files while
    * scan parallelism survives the fold. */
  def compactVectors(spark: SparkSession, vecDir: String,
      targetBytesPerFile: Long = 128L << 20): Unit =
    rewrite(spark, vecDir, "compactVectors", targetBytesPerFile,
        fold = true) { (rows, nFiles) =>
      rows.repartitionByRange(nFiles, col("cell"), col("_rnrm"))
        .sortWithinPartitions(col("cell"))
    }

  /** Re-quantize the accepted-vector sidecar under a NEW coarse
    * quantizer — the streaming face of
    * [[graft.pipeline.Similarity.retrainIvfIndex]] (which likewise
    * commits the new quantizer and every reassigned row in one
    * manifest commit), and the
    * maintenance step [[appendBatchSemantic]]'s frozen-quantizer
    * contract defers to under distribution drift (stale cells stop
    * pruning; they never break correctness). STOPPED-STREAM,
    * single-writer: every batch after this must pass the new `cents`,
    * or cell assignments disagree and the candidate join loses pairs
    * — the coordinated swap is the point. Vectors, frozen norms and
    * `version` survive verbatim (membership answers cannot change,
    * and checkpoint-replay's `version < N` reads still see every
    * accepted vector); only `cell` is recomputed. Every row is
    * rewritten, cell-clustered like the append path writes it, and
    * one commit lists only the new files ([[rewrite]]). */
  def requantizeVectors(spark: SparkSession, vecDir: String,
      cents: Seq[Seq[Double]]): Unit = {
    require(cents.nonEmpty, "requantizeVectors needs a quantizer")
    rewrite(spark, vecDir, "requantizeVectors", 128L << 20, fold = false) {
      (rows, _) =>
        graft.pipeline.Similarity.assignCells(rows.drop("cell"), cents, "_rv")
          .repartition(col("version"), col("cell"))
          .sortWithinPartitions(col("version"), col("cell"))
    }
  }

  /** The live rows of a sidecar — every file the newest manifest lists,
    * `version` as a long; None when it was never committed. Lists and
    * reads only. */
  private[graft] def sidecarRows(spark: SparkSession,
      dir: String): Option[DataFrame] =
    sidecar(spark, dir).latest.map(m => rows(spark, dir, m, m.filesOf(Rows)))
}
