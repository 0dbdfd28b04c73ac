package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{Dedup, TextOps}
import graft.streaming.CorpusDedup
import graft.util.JobLog

/** Streaming incremental corpus dedup: accept-first-occurrence over a
  * micro-batched document stream, equivalent to batch exact dedup over
  * the concatenated history but never re-scanning corpus text. */
class StreamingCorpusDedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** A sidecar's live rows, through its read face. */
  private def side(dir: String) = CorpusDedup.sidecarRows(spark, dir).get

  private def dirs(): (String, String, String, String) = {
    val base = Files.createTempDirectory("graft-corpusdedup").toString
    (s"$base/corpus", s"$base/tier", s"$base/fp", s"$base/ckpt")
  }

  test("appendBatch accepts first occurrences only, across batches " +
      "and within a batch") {
    val (corpus, tier, fp, _) = dirs()
    val b1 = Seq((1L, "alpha beta"), (2L, "gamma delta"),
      (7L, "alpha beta")) // in-batch dup of 1 — min id wins
      .toDF("doc_id", "text")
    assert(CorpusDedup.appendBatch(spark, b1, 1L, corpus, tier, fp)
      == 2L)
    val b2 = Seq((10L, "gamma delta"), // cross-batch dup of 2
      (11L, "epsilon zeta"),
      (12L, "epsilon zeta"), // in-batch dup of 11
      (13L, "alpha beta")) // cross-batch dup of 1
      .toDF("doc_id", "text")
    assert(CorpusDedup.appendBatch(spark, b2, 2L, corpus, tier, fp)
      == 1L)
    // `version` is a partition column now — reads back as Integer
    val accepted = spark.read.parquet(corpus)
      .select(col("doc_id"), col("version").cast("long")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(accepted == Map(1L -> 1L, 2L -> 1L, 11L -> 2L))
    // sidecars carry one fingerprint row per accepted doc and one
    // tier partial per (bucket, version)
    val fps = side(fp)
    assert(fps.count() == 3 && fps.select("doc_id").as[Long]
      .collect().toSet == Set(1L, 2L, 11L))
    val tierRows = side(tier)
    assert(tierRows.select(col("version").cast("long")).distinct()
      .as[Long].collect().toSet == Set(1L, 2L))
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }

  test("streaming run over MemoryStream equals batch exact dedup of " +
      "the concatenated history") {
    val (corpus, tier, fp, ckpt) = dirs()
    implicit val sqlCtx = spark.sqlContext
    // 60 docs across 3 batches, every 3rd a copy of an earlier text
    def text(i: Int) = s"document number ${i % 40} body"
    val all = (0 until 60).map(i => (i.toLong, text(i)))
    val stream = MemoryStream[(Long, String)]
    all.grouped(20).foreach(stream.addData(_))
    val q = CorpusDedup.start(spark,
      stream.toDF().toDF("doc_id", "text"),
      corpus, tier, fp, ckpt)
    q.awaitTermination()
    val streamed = spark.read.parquet(corpus)
      .select("doc_id").as[Long].collect().toSet
    // ground truth: batch exact dedup keeps min id per fingerprint
    val truth = Dedup.exact(all.toDF("doc_id", "text"))
      .select("keep_id").as[Long].collect().toSet
    assert(streamed == truth,
      s"streamed=$streamed truth=$truth")
    // the accepted set carries exactly one row per distinct text
    assert(streamed.size == all.map(_._2).distinct.size)
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }

  test("compactTier folds version partials to one row per bucket " +
      "without changing membership answers") {
    val (corpus, tier, fp, _) = dirs()
    (1L to 4L).foreach { v =>
      val b = (v * 100L until v * 100L + 10L)
        .map(i => (i, s"doc $i body")).toDF("doc_id", "text")
      CorpusDedup.appendBatch(spark, b, v, corpus, tier, fp)
    }
    val before = side(tier).count()
    CorpusDedup.compactTier(spark, tier)
    val after = side(tier)
    assert(after.count() <= before)
    // versions STRICTLY older than the newest fold into ONE version
    // partition with one row per bucket; the newest version's
    // partials stay separate so a replay of its (possibly-
    // uncommitted) batch still sees history
    assert(after.where(col("version") < 4L).select("version")
      .distinct().collect().map(_.get(0).toString.toLong).toSeq
      == Seq(3L), // partition cols re-read as Integer (CLAUDE.md)
      "committed versions fold into the second-newest partition")
    assert(after.where(col("version") < 4L).groupBy("bloom_bucket")
      .count().agg(max("count")).head().getLong(0) == 1L,
      "one merged row per bucket among committed versions")
    // REPLAY of the newest version against the compacted tier is
    // still idempotent: before the fix, compaction folded version 4
    // into itself, the replay's `version < 4` read came back empty,
    // and every historical duplicate was re-accepted
    assert(CorpusDedup.appendBatch(spark,
      (400L until 410L).map(i => (i, s"doc $i body"))
        .toDF("doc_id", "text"), 4L, corpus, tier, fp) == 10L)
    assert(spark.read.parquet(corpus).groupBy("doc_id").count()
      .where(col("count") > 1).count() == 0, "no duplicate corpus rows")
    // dedup answers are unchanged against the compacted tier: dups of
    // every prior version still drop, a new doc still lands
    val probe = Seq((900L, "doc 101 body"), (901L, "doc 401 body"),
      (902L, "genuinely new body")).toDF("doc_id", "text")
    assert(CorpusDedup.appendBatch(spark, probe, 9L, corpus, tier, fp)
      == 1L)
    assert(spark.read.parquet(corpus).where(col("doc_id") === 902L)
      .count() == 1)
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }

  test("property: random batch histories accept exactly the " +
      "first-occurrence set") {
    // seeded random histories: ids unique across the history, texts
    // drawn from a small universe so cross-batch and in-batch dups
    // are frequent; the accepted set must always be min-id-per-text
    val rnd = new scala.util.Random(20260813L)
    for (trial <- 1 to 5) {
      val (corpus, tier, fp, _) = dirs()
      val nDocs = 20 + rnd.nextInt(40)
      val texts = (0 until 8 + rnd.nextInt(10)).map(i => s"body $i")
      val docs = (0 until nDocs).map(i =>
        (i.toLong, texts(rnd.nextInt(texts.size))))
      // random partition into 1..5 batches, order preserved
      val nBatches = 1 + rnd.nextInt(5)
      val cuts = (Seq(0, docs.size) ++
        Seq.fill(nBatches - 1)(rnd.nextInt(docs.size + 1)))
        .distinct.sorted
      cuts.sliding(2).zipWithIndex.foreach { case (Seq(a, b), v) =>
        val batch = docs.slice(a, b)
        if (batch.nonEmpty)
          CorpusDedup.appendBatch(spark,
            batch.toDF("doc_id", "text"), v + 1L, corpus, tier, fp)
      }
      val accepted = spark.read.parquet(corpus)
        .select("doc_id").as[Long].collect().toSet
      val want = docs.groupBy(_._2).values.map(_.map(_._1).min).toSet
      assert(accepted == want, s"trial $trial: got $accepted want $want")
    }
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }

  test("tier partials merge: a batch of pure duplicates accepts " +
      "nothing and appends no tier rows") {
    val (corpus, tier, fp, _) = dirs()
    val b1 = (0L until 30L).map(i => (i, s"text $i")).toDF("doc_id", "text")
    assert(CorpusDedup.appendBatch(spark, b1, 1L, corpus, tier, fp)
      == 30L)
    val dups = (100L until 130L).map(i => (i, s"text ${i - 100}"))
      .toDF("doc_id", "text")
    assert(CorpusDedup.appendBatch(spark, dups, 2L, corpus, tier, fp)
      == 0L)
    assert(spark.read.parquet(corpus).count() == 30)
    assert(side(tier)
      .select(col("version").cast("long")).distinct()
      .as[Long].collect().toSet == Set(1L))
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }

  test("replaying a batch with the same version is idempotent " +
      "(foreachBatch is at-least-once)") {
    val (corpus, tier, fp, _) = dirs()
    val b1 = Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
    assert(CorpusDedup.appendBatch(spark, b1, 1L, corpus, tier, fp)
      == 2L)
    val b2 = Seq((10L, "gamma"), (11L, "alpha")).toDF("doc_id", "text")
    assert(CorpusDedup.appendBatch(spark, b2, 2L, corpus, tier, fp)
      == 1L)
    def snapshot() = (
      spark.read.parquet(corpus).select("doc_id").as[Long]
        .collect().sorted.toSeq,
      side(fp).select("doc_id").as[Long]
        .collect().sorted.toSeq,
      side(tier).count())
    val before = snapshot()
    // crash-replay: same batch, same version, state already committed
    assert(CorpusDedup.appendBatch(spark, b2, 2L, corpus, tier, fp)
      == 1L)
    assert(snapshot() == before,
      "replay must replace its own version partitions, not append")
    assert(before._1 == Seq(1L, 2L, 10L))
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }

  test("replay heals a partial crash (corpus written, sidecars not)") {
    val (corpus, tier, fp, _) = dirs()
    val b1 = Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
    CorpusDedup.appendBatch(spark, b1, 1L, corpus, tier, fp)
    val b2 = Seq((10L, "gamma"), (11L, "alpha")).toDF("doc_id", "text")
    // crash version 2 after its corpus and fingerprint files are
    // written, before the fingerprint commit: corpus rows remain, both
    // sidecars still end at version 1
    graft.util.Maint.crashHook = (v, p) =>
      if (v == "appendBatch:fp" && p == "written")
        throw new IllegalStateException("crash")
    try intercept[IllegalStateException](
      CorpusDedup.appendBatch(spark, b2, 2L, corpus, tier, fp))
    finally graft.util.Maint.crashHook = (_, _) => ()
    assert(side(fp).select(col("version")).distinct().as[Long]
      .collect().toSeq == Seq(1L))
    assert(CorpusDedup.appendBatch(spark, b2, 2L, corpus, tier, fp)
      == 1L)
    // corpus has no duplicates and all three stores agree again
    val docs = spark.read.parquet(corpus).select("doc_id").as[Long]
      .collect().sorted.toSeq
    assert(docs == Seq(1L, 2L, 10L), s"got $docs")
    assert(side(fp).select("doc_id").as[Long]
      .collect().sorted.toSeq == Seq(1L, 2L, 10L))
    // and the healed sidecars dedup the next batch correctly
    assert(CorpusDedup.appendBatch(spark,
      Seq((20L, "gamma"), (21L, "delta")).toDF("doc_id", "text"),
      3L, corpus, tier, fp) == 1L)
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }

  test("compactFp folds fingerprint partitions without changing " +
      "membership answers, and replay after a fold still heals") {
    val (corpus, tier, fp, _) = dirs()
    // four batches; each later batch re-offers an earlier text so
    // every membership path (bloom hit -> fp confirm) does real work
    val texts = Seq("alpha", "beta", "gamma", "delta", "epsilon")
    (0 until 4).foreach { i =>
      val b = Seq((i * 10L, texts(i)), (i * 10L + 1, texts(i + 1)),
        (i * 10L + 2, texts(0))) // dup of batch 0 from batch 1 on
        .toDF("doc_id", "text")
      CorpusDedup.appendBatch(spark, b, i + 1L, corpus, tier, fp)
    }
    val fpSetBefore = side(fp)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val nPartsBefore = side(fp)
      .select(col("version").cast("long")).distinct().count()
    assert(nPartsBefore == 4L)
    CorpusDedup.compactFp(spark, fp)
    // fold-only-committed: versions 1-3 collapse into version=3, the
    // newest (4) stays untouched for its possibly-uncommitted replay
    val byVersion = side(fp)
      .select(col("version").cast("long")).distinct()
      .as[Long].collect().sorted.toSeq
    assert(byVersion == Seq(3L, 4L), s"got $byVersion")
    assert(side(fp).select("doc_id").as[Long]
      .collect().sorted.toSeq == fpSetBefore,
      "the fold must move fingerprints, never drop or alter one")
    // membership answers unchanged: a batch of pure re-offers
    // accepts nothing
    assert(CorpusDedup.appendBatch(spark,
      Seq((100L, texts(0)), (101L, texts(4))).toDF("doc_id", "text"),
      5L, corpus, tier, fp) == 0L)
    // and a fresh text still lands
    assert(CorpusDedup.appendBatch(spark,
      Seq((110L, "zeta")).toDF("doc_id", "text"),
      6L, corpus, tier, fp) == 1L)
    // replay of the newest pre-fold version is still idempotent:
    // its `version < 4` read sees the folded rows
    val b4 = Seq((30L, texts(3)), (31L, texts(4)),
      (32L, texts(0))).toDF("doc_id", "text")
    assert(CorpusDedup.appendBatch(spark, b4, 4L, corpus, tier, fp)
      == 1L) // same survivor set as the original version-4 run
    sweep()
  }

  test("compactFp is a no-op below three versions and survives a " +
      "missing dir") {
    val (corpus, tier, fp, _) = dirs()
    CorpusDedup.compactFp(spark, fp) // no dir yet: must not throw
    CorpusDedup.appendBatch(spark,
      Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text"),
      1L, corpus, tier, fp)
    CorpusDedup.appendBatch(spark,
      Seq((3L, "c")).toDF("doc_id", "text"),
      2L, corpus, tier, fp)
    CorpusDedup.compactFp(spark, fp)
    assert(side(fp)
      .select(col("version").cast("long")).distinct()
      .as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    sweep()
  }

  // --- near-dup face ------------------------------------------------------

  /** A sidecar's live files, from its newest manifest. */
  private def manifestFiles(dir: String): Seq[graft.util.DataFile] =
    new graft.util.ManifestLog(new org.apache.hadoop.fs.Path(dir),
      spark.sparkContext.hadoopConfiguration, Map("rows" -> Seq("version")))
      .latest.get.files

  private def sweep(): Unit =
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))

  /** deterministic corpus: families of near-identical sentences —
    * variants within a family share all but the last token (jaccard
    * 5/7 ≈ 0.71 at k=3), while every token is family-specific so
    * cross-family jaccard is 0 */
  private def famText(f: Int, v: Int) =
    s"f$f-a f$f-b f$f-c f$f-d f$f-e f$f-g f$f-h v$v"

  test("appendBatchNearDup over random batch histories equals the " +
      "batch cross-corpus dedup applied iteratively") {
    val (corpus, _, _, _) = dirs()
    val postings = corpus + "-postings"
    val rnd = new scala.util.Random(11)
    // 48 docs in 8 families of 6 variants, shuffled into 4 batches
    val docs = rnd.shuffle(
      (for (f <- 0 until 8; v <- 0 until 6)
        yield ((f * 100 + v).toLong, famText(f, v))).toList)
    val batches = docs.grouped(12).toSeq
    var acceptedTruth = Vector.empty[(Long, String)]
    batches.zipWithIndex.foreach { case (b, i) =>
      val batch = b.toDF("doc_id", "text")
      val got = CorpusDedup.appendBatchNearDup(spark, batch,
        version = i + 1L, corpus, postings, k = 3, threshold = 0.5)
      // ground truth: the BATCH operator against the accepted-so-far
      // corpus text (which the streaming path never re-reads)
      val expected =
        if (acceptedTruth.isEmpty) b.map(_._1).toSet
        else {
          val (kept, pin) = graft.pipeline.Curate.dedupAgainstCorpus(
            batch, acceptedTruth.toDF("doc_id", "text"),
            k = 3, threshold = 0.5)
          val ids = kept.select("doc_id").as[Long].collect().toSet
          pin.release()
          ids
        }
      assert(got == expected.size, s"batch $i: $got vs $expected")
      acceptedTruth = acceptedTruth ++ b.filter(d => expected(d._1))
    }
    val streamed = spark.read.parquet(corpus)
      .select("doc_id").as[Long].collect().toSet
    assert(streamed == acceptedTruth.map(_._1).toSet)
    // later-batch variants of already-accepted families were dropped
    // (so the corpus is well under the 48 offered), but same-batch
    // variants both survive — the boundary-only contract
    assert(streamed.size >= 8 && streamed.size < 48, streamed.toString)
    sweep()
  }

  test("appendBatchNearDup replay with the same version is idempotent") {
    val (corpus, _, _, _) = dirs()
    val postings = corpus + "-postings"
    val b1 = Seq((1L, famText(1, 0)), (2L, famText(2, 0)))
      .toDF("doc_id", "text")
    assert(CorpusDedup.appendBatchNearDup(spark, b1, 1L, corpus,
      postings) == 2L)
    val b2 = Seq((10L, famText(1, 3)), (11L, famText(3, 0)))
      .toDF("doc_id", "text")
    assert(CorpusDedup.appendBatchNearDup(spark, b2, 2L, corpus,
      postings) == 1L) // 10 is a near-dup of 1
    def snapshot() = (
      spark.read.parquet(corpus).select("doc_id").as[Long]
        .collect().sorted.toSeq,
      side(postings).count())
    val before = snapshot()
    assert(CorpusDedup.appendBatchNearDup(spark, b2, 2L, corpus,
      postings) == 1L)
    assert(snapshot() == before,
      "replay must replace its version partitions, not append")
    assert(before._1 == Seq(1L, 2L, 11L))
    sweep()
  }

  test("near-dup candidate plan never shuffles the corpus-sized " +
      "postings side (broadcast batch, map-side df)") {
    // the round-11 review found the old plan shuffle-hash-joined the
    // ENTIRE postings table per batch and ran a full-index groupBy
    // for maxDf — at 100 TB every micro-batch paid a corpus-sized
    // shuffle. Gate the fix: postings may only ever STREAM through
    // BroadcastHashJoins (batch side broadcast), and the only
    // exchanges carry matched/aggregated rows.
    val (corpus, _, _, _) = dirs()
    val postingsDir = corpus + "-postings"
    val b1 = (0L until 20L)
      .map(i => (i, famText((i % 4).toInt, (i % 6).toInt)))
      .toDF("doc_id", "text")
    CorpusDedup.appendBatchNearDup(spark, b1, 1L, corpus, postingsDir)
    val batch = Seq((100L, famText(0, 5)), (101L, famText(7, 0)))
      .toDF("doc_id", "text")
    val (arr, pin) = Dedup.pinNow(batch
      .select(col("doc_id").as("_id"),
        TextOps.tokens(lower(col("text"))).as("_toks"))
      .select(col("_id"),
        Dedup.shinglesOfTokens(col("_toks"), 3).as("_arr"))
      .withColumn("_na", size(col("_arr"))))
    try {
      val postings = side(postingsDir)
        .where(col("version") < 2)
        .select(col("sh"), col("ref_id"), col("nb"))
      for (maxDf <- Seq(Int.MaxValue, 3)) {
        val p = CorpusDedup.NearDupPlan
          .flagged(arr, postings, maxDf, 0.5)
          .queryExecution.executedPlan.toString
        assert(!p.contains("SortMergeJoin"), p)
        assert(!p.contains("ShuffledHashJoin"), p)
        assert(p.contains("BroadcastHashJoin"), p)
        // the pinned batch frame is a LogicalRDD, so every FileScan
        // in the plan IS a postings pass: one for the candidate
        // join, plus one map-side df pass when capped — never more
        val scans = p.linesIterator.count(_.contains("FileScan"))
        assert(scans == (if (maxDf == Int.MaxValue) 1 else 2),
          s"expected postings passes, got $scans:\n$p")
      }
    } finally { pin.release(); sweep() }
  }

  test("appendBatchNearDup pushes the batch's bucket set into the " +
      "postings scan") {
    // the postings files are clustered by (bucket, sh); a pushed
    // bucket-IN predicate lets parquet row-group stats skip postings
    // the batch cannot match. Verify the filter reaches the read
    // path end-to-end (results unchanged is covered by the
    // equivalence tests above).
    val (corpus, _, _, _) = dirs()
    val postingsDir = corpus + "-postings"
    val b1 = Seq((1L, famText(1, 0)), (2L, famText(2, 0)))
      .toDF("doc_id", "text")
    assert(CorpusDedup.appendBatchNearDup(spark, b1, 1L, corpus,
      postingsDir, nBuckets = 8) == 2L)
    // a batch whose shingles cover few buckets: its postings read
    // must carry a bucket filter (pushed to parquet), and the rows
    // it admits are exactly the buckets the batch hashes into
    val written = side(postingsDir)
    assert(written.columns.contains("bucket"))
    val b2 = Seq((10L, famText(1, 3))).toDF("doc_id", "text")
    assert(CorpusDedup.appendBatchNearDup(spark, b2, 2L, corpus,
      postingsDir, nBuckets = 8) == 0L) // near-dup of doc 1: dropped
    sweep()
  }

  test("compactPostings folds committed version partitions without " +
      "changing membership, keeps replay idempotent, and preserves " +
      "the no-shuffle plan shape") {
    val (corpus, _, _, _) = dirs()
    val postings = corpus + "-postings"
    // four batches: each re-offers an earlier family so every
    // membership path (bucket prune -> candidate join -> jaccard) does
    // real work, and each brings a new family that must be accepted
    (0 until 4).foreach { i =>
      val b = Seq(
        ((i * 10).toLong, famText(i, 0)),       // new family: accepted
        ((i * 10 + 1).toLong, famText(0, i + 1))) // near-dup of doc 0
        .toDF("doc_id", "text")
      CorpusDedup.appendBatchNearDup(spark, b, i + 1L, corpus,
        postings, k = 3, threshold = 0.5)
    }
    val acceptedBefore = spark.read.parquet(corpus)
      .select("doc_id").as[Long].collect().sorted.toSeq
    // batch 0 accepted both its docs (empty corpus); later batches
    // accepted only their new family
    assert(acceptedBefore == Seq(0L, 1L, 10L, 20L, 30L))
    def postingRows() = side(postings)
      .select("bucket", "sh", "ref_id", "nb")
      .collect().map(_.toString).sorted.toSeq
    val rowsBefore = postingRows()
    CorpusDedup.compactPostings(spark, postings)
    // versions 1-3 collapse into version=3; newest (4) stays for its
    // possibly-uncommitted replay
    assert(side(postings)
      .select(col("version").cast("long")).distinct()
      .as[Long].collect().sorted.toSeq == Seq(3L, 4L))
    // the fold moves postings rows, never drops, alters, or DUPLICATES
    // one (a duplicated posting inflates the intersection count and
    // silently drops non-near-dup documents)
    assert(postingRows() == rowsBefore)
    // membership answers unchanged: near-dups of every pre-fold
    // family still drop, a new family still lands
    assert(CorpusDedup.appendBatchNearDup(spark,
      Seq((100L, famText(3, 5)), (101L, famText(7, 0)))
        .toDF("doc_id", "text"),
      5L, corpus, postings, k = 3, threshold = 0.5) == 1L)
    // replay of the newest pre-fold version is still idempotent: its
    // `version < 4` read sees the folded rows
    val b4 = Seq((30L, famText(3, 0)), (31L, famText(0, 4)))
      .toDF("doc_id", "text")
    assert(CorpusDedup.appendBatchNearDup(spark, b4, 4L, corpus,
      postings, k = 3, threshold = 0.5) == 1L)
    // the compacted layout still satisfies the no-corpus-shuffle plan
    // gate: postings only ever STREAM through BroadcastHashJoins
    val batch = Seq((200L, famText(0, 5))).toDF("doc_id", "text")
    val (arr, pin) = Dedup.pinNow(batch
      .select(col("doc_id").as("_id"),
        TextOps.tokens(lower(col("text"))).as("_toks"))
      .select(col("_id"),
        Dedup.shinglesOfTokens(col("_toks"), 3).as("_arr"))
      .withColumn("_na", size(col("_arr"))))
    try {
      val posts = side(postings)
        .where(col("version") < 10)
        .select(col("sh"), col("ref_id"), col("nb"))
      val p = CorpusDedup.NearDupPlan
        .flagged(arr, posts, Int.MaxValue, 0.5)
        .queryExecution.executedPlan.toString
      assert(!p.contains("SortMergeJoin") &&
        !p.contains("ShuffledHashJoin") &&
        p.contains("BroadcastHashJoin"), p)
      assert(p.linesIterator.count(_.contains("FileScan")) == 1, p)
    } finally pin.release()
    sweep()
  }

  test("compactPostings emits ceil(bytes/target) range-clustered " +
      "files — the sized fold, never one AQE-coalesced blob") {
    import org.apache.hadoop.fs.Path
    val (corpus, _, _, _) = dirs()
    val postings = corpus + "-postings"
    (0 until 4).foreach { v =>
      val b = (0 until 40).map { j =>
        val id = v * 1000L + j
        (id, s"family $id ${(0 until 12).map(w => s"w${id}x$w")
          .mkString(" ")}")
      }.toDF("doc_id", "text")
      CorpusDedup.appendBatchNearDup(spark, b, v + 1L, corpus,
        postings, k = 3, threshold = 0.5)
    }
    // the folded versions' bytes, from the manifest
    def files(v: Long) = manifestFiles(postings).filter(_.part("version") == v)
    val foldedBytes = (1L to 3L).flatMap(files).map(_.bytes).sum
    val target = 4096L
    val nExp = graft.util.Maint.sizedFileCount(foldedBytes, target)
    assert(nExp > 2, s"fixture too small: $foldedBytes bytes")
    def rows() = side(postings)
      .select("bucket", "sh", "ref_id", "nb")
      .collect().map(_.toString).sorted.toSeq
    val before = rows()
    CorpusDedup.compactPostings(spark, postings,
      targetBytesPerFile = target)
    assert(files(3L).length == nExp,
      s"fold emitted ${files(3L).length} files, sizing says $nExp")
    assert(rows() == before, "the sized fold changed posting rows")
    sweep()
  }

  test("compactPostings is a no-op below three versions, survives a " +
      "missing dir, and leaves a sidecar built before the manifest " +
      "layout untouched, which the append face refuses loudly") {
    val (corpus, _, _, _) = dirs()
    val postings = corpus + "-postings"
    CorpusDedup.compactPostings(spark, postings) // no dir: must not throw
    (0 until 2).foreach { i =>
      CorpusDedup.appendBatchNearDup(spark,
        Seq(((i * 10).toLong, famText(i, 0))).toDF("doc_id", "text"),
        i + 1L, corpus, postings)
    }
    CorpusDedup.compactPostings(spark, postings)
    assert(side(postings)
      .select(col("version").cast("long")).distinct()
      .as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    // the pre-manifest layout: version-partitioned parquet at the root.
    // Reading it as an empty corpus would accept every duplicate
    val legacy = corpus + "-legacy"
    side(postings).drop("version").withColumn("version", lit(1L))
      .write.partitionBy("version").parquet(legacy)
    def tree() = {
      import scala.jdk.CollectionConverters._
      val root = java.nio.file.Paths.get(legacy)
      Files.walk(root).iterator().asScala.map(root.relativize(_).toString)
        .toSeq.sorted
    }
    val before = tree()
    val exCompact = intercept[IllegalArgumentException] {
      CorpusDedup.compactPostings(spark, legacy)
    }
    assert(exCompact.getMessage.contains("built before the manifest layout"))
    assert(tree() == before, "the compaction touched a pre-manifest dir")
    val ex = intercept[IllegalArgumentException] {
      CorpusDedup.appendBatchNearDup(spark,
        Seq((50L, famText(0, 3))).toDF("doc_id", "text"),
        3L, corpus, legacy)
    }
    assert(ex.getMessage.contains("built before the manifest layout"))
    assert(tree() == before)
    sweep()
  }

  test("appendBatchNearDup maxDf drops hot shingles from candidate " +
      "generation") {
    val (corpus, _, _, _) = dirs()
    val postings = corpus + "-postings"
    // 12 accepted docs all sharing one boilerplate line; a later doc
    // shares ONLY that line with them — uncapped it pairs with all 12
    // (jaccard of the shared shingle set is below threshold though),
    // and capped the hot shingles never reach the join at all
    val boiler = (0L until 12L).map(i =>
      (i, s"common header line x$i y$i z$i")).toDF("doc_id", "text")
    assert(CorpusDedup.appendBatchNearDup(spark, boiler, 1L, corpus,
      postings, k = 3, threshold = 0.1, maxDf = 4) == 12L)
    val b2 = Seq(
      // genuine near-dup of doc 0: shares its two RARE shingles
      // (capped jaccard 2/6 = 0.333) — must still be caught
      (100L, "common header line x0 y0 z9"),
      // linked to the corpus ONLY through the hot boilerplate shingle:
      // uncapped jaccard 1/9 = 0.111 >= 0.1 would FLAG it; the cap
      // removes the hot shingle from the join, so it survives — the
      // observable difference the maxDf knob makes
      (101L, "common header line only plus unrelated tail tokens"))
      .toDF("doc_id", "text")
    val got = CorpusDedup.appendBatchNearDup(spark, b2, 2L, corpus,
      postings, k = 3, threshold = 0.1, maxDf = 4)
    val kept = spark.read.parquet(corpus)
      .where(col("version") === 2).select("doc_id").as[Long]
      .collect().toSet
    // 100 dropped (rare-shingle overlap with doc 0), 101 kept (only
    // the hot boilerplate shingle links it, and the cap removed it)
    assert(got == 1L && kept == Set(101L), s"got=$got kept=$kept")
    sweep()
  }

  // --- job naming and the append budget ----------------------------------

  test("every Spark job the three append faces and the five maintenance " +
      "verbs launch carries a dedup:<verb>:<step> description") {
    val base = Files.createTempDirectory("graft-dedupjobs").toString
    def vec(i: Long): Seq[Float] =
      (0 until 4).map(d => math.sin(i * (0.7 + 0.13 * d) + d).toFloat)
    def vecs(ids: Seq[Long]) = ids.map(i => (i, vec(i))).toDF("vec_id",
      "embedding")
    val cents = graft.pipeline.Similarity.trainIvfCentroids(
      vecs(0L until 8L), k = 2, iters = 2)
    val (_, jobs) = JobLog.record(spark.sparkContext) {
      (1L to 4L).foreach { v =>
        val b = Seq((v * 10, "doc zero body"), (v * 10 + 1, s"doc $v body"))
          .toDF("doc_id", "text")
        CorpusDedup.appendBatch(spark, b, v, s"$base/corpus", s"$base/tier",
          s"$base/fp", nBuckets = 16, nWords = 2)
        CorpusDedup.appendBatchNearDup(spark, b, v, s"$base/ncorpus",
          s"$base/postings")
        CorpusDedup.appendBatchSemantic(spark, vecs(Seq(v * 10, v * 10 + 1)),
          v, s"$base/scorpus", s"$base/vec", cents, threshold = 0.9999)
      }
      CorpusDedup.compactTier(spark, s"$base/tier", nWords = 2)
      CorpusDedup.compactFp(spark, s"$base/fp")
      CorpusDedup.compactPostings(spark, s"$base/postings")
      CorpusDedup.compactVectors(spark, s"$base/vec")
      CorpusDedup.requantizeVectors(spark, s"$base/vec", cents)
    }
    val verbs = Seq("appendBatch", "appendBatchNearDup",
      "appendBatchSemantic", "compactTier", "compactFp", "compactPostings",
      "compactVectors", "requantizeVectors")
    val descs = jobs.map(_.desc)
    assert(descs.filterNot(d =>
      verbs.exists(v => d.startsWith(s"dedup:$v:"))).isEmpty, descs)
    assert(verbs.filterNot(v => descs.exists(_.startsWith(s"dedup:$v:")))
      .isEmpty, descs)
    sweep()
  }

  test("append job budget: a warm second appendBatch launches a pinned " +
      "number of jobs, with no schema-inference and no leaf-listing job") {
    def batch(v: Long) = (0L until 40L).map(i =>
      (v * 1000 + i, s"doc ${i % 30} body text")).toDF("doc_id", "text")
    def append(base: String, v: Long) = CorpusDedup.appendBatch(spark,
      batch(v), v, s"$base/corpus", s"$base/tier", s"$base/fp",
      nBuckets = 16, nWords = 2)
    val warm = Files.createTempDirectory("graft-dedupwarm").toString
    append(warm, 1L); append(warm, 2L)
    val base = Files.createTempDirectory("graft-dedupbudget").toString
    append(base, 1L)
    val (n, jobs) = JobLog.record(spark.sparkContext)(append(base, 2L))
    assert(n == 0L) // every text of batch 2 was accepted in batch 1
    assert(!jobs.exists(_.desc.startsWith("Listing leaf files")),
      jobs.map(_.desc))
    // four for the bloom prefilter and four for the accepted set (a
    // batch of only duplicates writes nothing); the sidecar reads take
    // the manifest's schema, so neither adds a schema-inference job
    assert(jobs.map(_.desc).groupBy(identity).view.mapValues(_.size)
      .toMap == Map("dedup:appendBatch:prefilter" -> 4,
        "dedup:appendBatch:accept" -> 4),
      jobs.map(j => s"${j.desc}/${j.stages}"))
    sweep()
  }
}
