package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

import graft.export.Export
import graft.pipeline.{Dedup, Sampling, TextOps}
import graft.streaming.{CorpusDedup, SequenceShards}
import graft.util.JobLog

/** The incremental dataloader tail: streamed shard maintenance must be
  * indistinguishable from batch packSequences + writeSequenceShards
  * over the concatenated accepted history — the
  * StreamingCorpusDedupSpec equivalence discipline applied to the
  * pack/export stage. */
class StreamingSequenceShardsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val SeqLen = 8
  private val Lanes = 4

  private def mkDocs(ids: Seq[Long]): DataFrame =
    ids.map(i => (i,
      Array.tabulate((i % 7).toInt + 1)(j => (i + j).toInt)))
      .toDF("doc_id", "bpe_ids")

  private def root(): String =
    java.nio.file.Files.createTempDirectory("seqshards").toString + "/s"

  private def rows(df: DataFrame): Seq[String] =
    df.select(col("pack_bucket").cast("long"), col("seq_idx"),
        col("n_docs"), col("starts").cast("array<int>"),
        col("ids").cast("array<int>"))
      .collect().map(_.toString).sorted.toSeq

  /** The store's live manifest. */
  private def manifest(dir: String): graft.util.Manifest =
    new graft.util.ManifestLog(new org.apache.hadoop.fs.Path(dir),
      spark.sparkContext.hadoopConfiguration, Map.empty).latest.get

  /** Every file under `dir` (relative path, length, mtime). */
  private def files(dir: String): Seq[(String, Long, Long)] = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) Nil
    else {
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala.toSeq
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(p => (root.relativize(p).toString, p.toFile.length,
          p.toFile.lastModified)).sorted
      finally s.close()
    }
  }

  private def batchEquivalent(ids: Seq[Long]): Seq[String] = {
    val dir = root()
    Export.writeSequenceShards(
      Sampling.packSequences(mkDocs(ids), SeqLen, Lanes, eosId = 0L),
      dir)
    rows(spark.read.parquet(dir))
  }

  test("streamed shard state after N batches equals the batch pack " +
      "over the concatenated history; only affected lanes rewrite; " +
      "a replayed batch is a no-op") {
    val dir = root()
    val all = 0L until 60L
    val splits = Seq(all.slice(0, 25), all.slice(25, 45),
      all.slice(45, 60))
    splits.zipWithIndex.foreach { case (ids, i) =>
      SequenceShards.appendBatch(spark, mkDocs(ids), i + 1L, dir,
        SeqLen, Lanes, eosId = 0L)
    }
    val want = batchEquivalent(all)
    assert(rows(SequenceShards.read(spark, dir)) == want,
      "streamed ≠ batch over the same accepted set")

    // untouched lanes keep their EXACT files: a single-doc batch
    // touches one lane; every other lane dir's listing is unchanged
    def listing(): Map[String, Seq[(String, Long, Long)]] =
      new java.io.File(s"$dir/shards").list().toSeq
        .filter(_.startsWith("pack_bucket="))
        .map(l => l -> files(s"$dir/shards/$l")).toMap
    val before = listing()
    val affected = SequenceShards.appendBatch(spark, mkDocs(Seq(1000L)),
      4L, dir, SeqLen, Lanes, eosId = 0L)
    assert(affected.size == 1, s"one doc must touch one lane: $affected")
    val after = listing()
    val touched = s"pack_bucket=${affected.head}"
    assert((before.keySet - touched).forall(l =>
      before(l) == after(l)),
      "an untouched lane's files changed")
    assert(rows(SequenceShards.read(spark, dir)) ==
      batchEquivalent(all :+ 1000L))

    // replay of the newest version: identical state after
    val snap = rows(SequenceShards.read(spark, dir))
    SequenceShards.appendBatch(spark, mkDocs(Seq(1000L)), 4L, dir,
      SeqLen, Lanes, eosId = 0L)
    assert(rows(SequenceShards.read(spark, dir)) == snap,
      "replay must replace, never duplicate")
    // docs sidecar: the replayed version's partition holds one copy
    assert(spark.read.parquet(s"$dir/docs")
      .where(col("version") === 4L).count() == 1L)

    // the packing contract is store state: an append under a drifted
    // nBuckets (lane routing would silently diverge from the stored
    // lane values) fails loudly
    val drift = intercept[IllegalArgumentException] {
      SequenceShards.appendBatch(spark, mkDocs(Seq(2000L)), 5L, dir,
        SeqLen, Lanes + 1, eosId = 0L)
    }
    assert(drift.getMessage.contains("packing contract drift"))

    // readEpoch: one stamped frame carries the complete epoch visit
    // order — (lane_ord, epoch_pos) ranges over every sequence exactly
    // once, lane_ord is constant per lane and covers the visited lanes
    // injectively, and a rebuild reproduces the identical order
    val e1 = SequenceShards.readEpoch(spark, dir, epoch = 1)
      .select("pack_bucket", "seq_idx", "lane_ord", "epoch_pos")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    val total = SequenceShards.read(spark, dir).count()
    assert(e1.length == total)
    assert(e1.map(r => (r._3, r._4)).distinct.length == e1.length,
      "(lane_ord, epoch_pos) must identify each sequence uniquely")
    e1.groupBy(_._1).foreach { case (_, g) =>
      assert(g.map(_._3).distinct.length == 1, "lane_ord varies in lane")
      assert(g.map(_._4).sorted.toSeq == (1L to g.size).toSeq,
        "epoch_pos not a within-lane permutation")
    }
    val e1again = SequenceShards.readEpoch(spark, dir, epoch = 1)
      .select("pack_bucket", "seq_idx", "lane_ord", "epoch_pos")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(e1again.sorted.toSeq == e1.sorted.toSeq)
    val e2 = SequenceShards.readEpoch(spark, dir, epoch = 2)
      .select("pack_bucket", "seq_idx", "lane_ord", "epoch_pos")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(e2.sorted.toSeq != e1.sorted.toSeq,
      "epochs must genuinely reorder")
  }

  test("suffix rebuilds: a spliced doc rewrites only a contiguous " +
      "segment SUFFIX of its lane — segments strictly before the " +
      "splice keep their exact files, the boundary segment's stable " +
      "prefix rows carry over, and rows stay bit-identical to the " +
      "batch pack") {
    val dir = root()
    val all = 0L until 80L
    // seqLen 4, 2 lanes, segSize 4: ~40 docs/lane at ~5 positions
    // each -> ~50 sequences/lane over ~12 segment dirs
    SequenceShards.appendBatch(spark, mkDocs(all), 1L, dir,
      seqLen = 4, nBuckets = 2, eosId = 0L, segSize = 4)
    def segListing(lane: Long): Map[Long, Seq[(String, Long, Long)]] =
      files(s"$dir/shards/pack_bucket=$lane")
        .groupBy(_._1.takeWhile(_ != '/').stripPrefix("seq_seg=").toLong)
    val before = (0L until 2L).map(l => l -> segListing(l)).toMap
    Thread.sleep(5) // ensure a rebuilt file's mtime can never tie
    val affected = SequenceShards.appendBatch(spark,
      mkDocs(Seq(2045L)), 2L, dir, seqLen = 4, nBuckets = 2,
      eosId = 0L, segSize = 4)
    assert(affected.size == 1, s"one doc must touch one lane: $affected")
    val lane = affected.head
    (0L until 2L).filterNot(_ == lane).foreach(l =>
      assert(segListing(l) == before(l), s"untouched lane $l changed"))
    val b = before(lane)
    val a = segListing(lane)
    val changed = (b.keySet ++ a.keySet)
      .filter(k => b.get(k) != a.get(k)).toSeq.sorted
    assert(changed.nonEmpty, "the touched lane rewrote nothing")
    assert(changed == (changed.min to a.keySet.max),
      s"changed segments are not a contiguous suffix: $changed " +
        s"of ${a.keySet.toSeq.sorted}")
    assert(changed.min > 0,
      "no stable prefix — the splice landed in segment 0; pick a " +
        "doc id whose lane position is later")
    // the bit-identical contract survives the partial rewrite
    val want = {
      val bdir = root()
      Export.writeSequenceShards(
        Sampling.packSequences(mkDocs(all :+ 2045L), 4, 2, eosId = 0L),
        bdir)
      rows(spark.read.parquet(bdir))
    }
    assert(rows(SequenceShards.read(spark, dir)) == want,
      "suffix-rebuilt store diverged from the batch pack")
  }

  test("carried-row read prunes partitions STATICALLY: the shards " +
      "scan carries pack_bucket and seq_seg PartitionFilters — a " +
      "batch never scans the whole store for its boundary rows") {
    val dir = root()
    SequenceShards.appendBatch(spark, mkDocs(0L until 80L), 1L, dir,
      seqLen = 4, nBuckets = 2, eosId = 0L, segSize = 4)
    // a synthetic ctl frame in appendBatch's shape (index 4 =
    // _min_seq): lane 0 boundary at segment 2, lane 1 at segment 2
    val ctl = Seq((0L, "00000000", 0L, 37L, 9L, 120L),
        (1L, "00000000", 0L, 41L, 8L, 130L))
      .toDF("lane", "_pk0", "_id0", "_base", "_min_seq", "_tot")
    val df = SequenceShards.carriedRows(spark, dir, manifest(dir), ctl,
      Seq(0L, 1L), ctl.collect(), 4)
    val plan = df.queryExecution.executedPlan.toString
    assert("""PartitionFilters: \[[^\]]*pack_bucket""".r
      .findFirstIn(plan).isDefined,
      s"pack_bucket not in PartitionFilters:\n$plan")
    assert("""PartitionFilters: \[[^\]]*seq_seg""".r
      .findFirstIn(plan).isDefined,
      s"seq_seg not in PartitionFilters:\n$plan")
    // the LISTING is bounded to the boundary-segment files too: the
    // relation is built from the manifest's (lane, K0) files, so its
    // file set never mentions any other segment (discovery on a bare
    // root would walk the whole store every batch)
    val boundaryDirs = Seq("pack_bucket=0/seq_seg=2/",
      "pack_bucket=1/seq_seg=2/")
    assert(df.inputFiles.nonEmpty &&
      df.inputFiles.forall(f => boundaryDirs.exists(f.contains)),
      s"carried-row read listed beyond the boundary segments: " +
        s"${df.inputFiles.toSeq}")
    // and the filtered read stays consistent with the full-scan face
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expect = spark.read.parquet(s"$dir/shards")
      .select(col("pack_bucket").cast("long"), col("seq_idx"),
        col("seq_seg").cast("long"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .filter { case (l, s, seg) =>
        seg == (if (l == 0L) 9L / 4 else 8L / 4) &&
          s < (if (l == 0L) 9L else 8L) }
      .map(t => (t._1, t._2)).toSet
    assert(got == expect, s"carried rows diverged: $got vs $expect")
  }

  test("compactDocs folds version partitions without changing the " +
      "store: later appends pack bit-identically over the folded " +
      "history, replay stays idempotent, and a dir with no manifest " +
      "is left untouched") {
    val dir = root()
    val all = 0L until 60L
    Seq(all.slice(0, 20), all.slice(20, 40), all.slice(40, 60))
      .zipWithIndex.foreach { case (ids, i) =>
        SequenceShards.appendBatch(spark, mkDocs(ids), i + 1L, dir,
          SeqLen, Lanes, eosId = 0L)
      }
    def versionDirs(): Set[String] =
      new java.io.File(s"$dir/docs").list().toSet
        .filter(_.startsWith("version="))
    assert(versionDirs() == Set("version=1", "version=2", "version=3"))
    val newest = manifest(dir).filesOf("docs")
      .filter(_.part("version") == 3L)
    SequenceShards.compactDocs(spark, dir)
    // fold-only-committed: versions < max fold into the second-newest;
    // the newest keeps its exact files
    assert(versionDirs() == Set("version=2", "version=3"))
    assert(manifest(dir).filesOf("docs")
      .filter(_.part("version") == 3L) == newest)
    assert(rows(SequenceShards.read(spark, dir)) == batchEquivalent(all))
    // later appends pack bit-identically over the folded history
    SequenceShards.appendBatch(spark, mkDocs(Seq(1000L)), 4L, dir,
      SeqLen, Lanes, eosId = 0L)
    val want = batchEquivalent(all :+ 1000L)
    assert(rows(SequenceShards.read(spark, dir)) == want)
    // replay of the newest version after a fold stays idempotent
    SequenceShards.appendBatch(spark, mkDocs(Seq(1000L)), 4L, dir,
      SeqLen, Lanes, eosId = 0L)
    assert(rows(SequenceShards.read(spark, dir)) == want)
    // idempotent (<= 2 versions: nothing strictly-older)
    SequenceShards.compactDocs(spark, dir)
    val settled = files(dir)
    SequenceShards.compactDocs(spark, dir)
    assert(files(dir) == settled)
    assert(rows(SequenceShards.read(spark, dir)) == want)
    // no-op on a never-written store: nothing is created
    SequenceShards.compactDocs(spark, s"$dir-neverwritten")
    assert(!new java.io.File(s"$dir-neverwritten").exists)
  }

  test("readEpochSlice shards the epoch read: the W slices partition " +
      "readEpoch exactly with identical lane_ord/epoch_pos stamps, " +
      "worker w owns exactly the visit positions ≡ w (mod W), the " +
      "scan carries a static pack_bucket PartitionFilter (a worker " +
      "reads only its own lane dirs), and bad worker indices fail " +
      "loudly") {
    val dir = root()
    SequenceShards.appendBatch(spark, mkDocs(0L until 60L), 1L, dir,
      SeqLen, Lanes, eosId = 0L)
    def stamped(df: DataFrame): Set[(Int, Long, Long, Long)] =
      df.select("pack_bucket", "seq_idx", "lane_ord", "epoch_pos")
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
    val full = stamped(SequenceShards.readEpoch(spark, dir, epoch = 3))
    val W = 3
    val slices = (0 until W).map(w => stamped(
      SequenceShards.readEpochSlice(spark, dir, epoch = 3, w, W)))
    assert(slices.map(_.size).sum == full.size,
      "slices overlap or drop rows")
    assert(slices.reduce(_ ++ _) == full,
      "slice union must equal the full epoch read, stamps included")
    slices.zipWithIndex.foreach { case (sl, w) =>
      assert(sl.forall(r => (r._3 - 1) % W == w),
        s"worker $w holds a foreign visit position")
    }
    // static partition pruning: the slice's scan filters pack_bucket
    // at the directory level (the carriedRows gate's discipline)
    val plan = SequenceShards.readEpochSlice(spark, dir, 3, 1, W)
      .queryExecution.executedPlan.toString
    assert("""PartitionFilters: \[[^\]]*pack_bucket""".r
      .findFirstIn(plan).isDefined,
      s"pack_bucket not in PartitionFilters:\n$plan")
    // and the LISTING itself is bounded to the worker's lanes: the
    // relation is built from the owned lane dirs, so its file set
    // never mentions a foreign lane (a bare root read would re-list
    // the whole store per worker during partition discovery)
    val ownedLanes = graft.pipeline.Sampling
      .epochLaneOrder(Lanes, epoch = 3).zipWithIndex
      .collect { case (l, i) if i % W == 1 => s"pack_bucket=$l/" }
    val listed = SequenceShards.readEpochSlice(spark, dir, 3, 1, W)
      .inputFiles
    assert(listed.nonEmpty &&
      listed.forall(f => ownedLanes.exists(f.contains)),
      s"slice listed foreign lane files: ${listed.toSeq}")
    // ONE exchange total (the epoch_pos window's hash by lane) — the
    // lane_ord stamp is row-local and the slice filter is scan-side
    assert(plan.linesIterator
      .count(_.contains("Exchange hashpartitioning")) == 1, plan)
    // numWorkers > nLanes: trailing workers own nothing, harmlessly
    assert(stamped(SequenceShards.readEpochSlice(spark, dir, 3,
      Lanes + 1, Lanes + 2)).isEmpty)
    intercept[IllegalArgumentException] {
      SequenceShards.readEpochSlice(spark, dir, 3, -1, W)
    }
    intercept[IllegalArgumentException] {
      SequenceShards.readEpochSlice(spark, dir, 3, W, W)
    }
    intercept[IllegalArgumentException] {
      SequenceShards.readEpochSlice(spark, dir, 3, 0, 0)
    }
  }

  test("stats summarizes the live store per lane — manifest-derived " +
      "segment/file/byte counts agree with the filesystem, sequence " +
      "counts and seq_max agree with the read face") {
    val dir = root()
    SequenceShards.appendBatch(spark, mkDocs(0L until 60L), 1L, dir,
      SeqLen, Lanes, eosId = 0L)
    val got = SequenceShards.stats(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    val byLane = SequenceShards.read(spark, dir)
      .groupBy(col("pack_bucket").cast("long"))
      .agg(count(lit(1)), max("seq_idx"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1),
        r.getLong(2)))).toMap
    assert(got.keySet == byLane.keySet, "stats lane set != live lanes")
    byLane.foreach { case (lane, (n, mx)) =>
      val (nSegs, nFiles, bytes, nSeqs, seqMax) = got(lane)
      assert(nSeqs == n && seqMax == mx,
        s"lane $lane sequence stats diverge from the read face")
      val pq = files(s"$dir/shards/pack_bucket=$lane")
        .filter(f => f._1.endsWith(".parquet") &&
          !f._1.split('/').last.startsWith("."))
      assert(nSegs == pq.map(_._1.takeWhile(_ != '/')).distinct.size,
        s"lane $lane segment count")
      assert(nFiles == pq.length && bytes == pq.map(_._2).sum,
        s"lane $lane file/byte stats diverge from the listing")
    }
  }

  test("start() drives a non-default segSize store (the streaming " +
      "face forwards the full packing contract) and the streamed " +
      "state equals the batch pack; a pre-manifest store fails " +
      "loudly at every face but compactDocs, which leaves it " +
      "untouched; hashBucketLocal is the byte-identical driver twin " +
      "of hashBucket") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = root()
    implicit val sqlCtx = spark.sqlContext
    val all = (0L until 30L)
    val stream = MemoryStream[(Long, Array[Int])]
    all.grouped(15).foreach(g =>
      stream.addData(g.map(i => (i,
        Array.tabulate((i % 7).toInt + 1)(j => (i + j).toInt)))))
    // segSize 4 would throw on every micro-batch if the streaming
    // face silently passed its own default through to appendBatch
    SequenceShards.start(spark, stream.toDF().toDF("doc_id", "bpe_ids"),
        dir, SeqLen, Lanes, eosId = 0L, s"$dir-ckpt", segSize = 4)
      .awaitTermination()
    assert(rows(SequenceShards.read(spark, dir)) == batchEquivalent(all),
      "streamed (segSize=4) ≠ batch pack")
    // a store built before the manifest layout (meta table, shard
    // and docs trees, no manifest): every face fails with the designed
    // message, and none of them — compactDocs included — touches it
    val legacy = root()
    Seq((SeqLen, Lanes, 0L, "graft", 8192))
      .toDF("seq_len", "n_buckets", "eos_id", "salt", "seg_size")
      .coalesce(1).write.parquet(s"$legacy/meta")
    Export.writeSequenceShards(
      Sampling.packSequences(mkDocs(all), SeqLen, Lanes, eosId = 0L),
      s"$legacy/shards")
    mkDocs(all).withColumn("version", lit(1L))
      .write.partitionBy("version").parquet(s"$legacy/docs")
    val before = files(legacy)
    val faces = Seq[() => Any](
      () => SequenceShards.appendBatch(spark, mkDocs(Seq(1L)), 2L, legacy,
        SeqLen, Lanes, eosId = 0L),
      () => SequenceShards.read(spark, legacy),
      () => SequenceShards.readEpoch(spark, legacy, 1L),
      () => SequenceShards.readEpochSlice(spark, legacy, 1L, 0, 2),
      () => SequenceShards.stats(spark, legacy))
    faces.foreach { face =>
      val e = intercept[IllegalArgumentException](face())
      assert(e.getMessage.contains("before the manifest layout"),
        e.getMessage)
    }
    SequenceShards.compactDocs(spark, legacy)
    assert(files(legacy) == before, "a face changed a pre-manifest store")
    // the probe's driver-side pk derivation must agree with the
    // engine's lane/pk column bit-for-bit
    val ids = Seq("0", "17", "900000000042", "doc-x")
    val engine = ids.toDF("id")
      .select(Sampling.hashBucket(col("id"), "graft"))
      .collect().map(_.getString(0)).toSeq
    assert(engine == ids.map(Sampling.hashBucketLocal(_, "graft")),
      "hashBucketLocal diverged from hashBucket")
  }

  test("reads that overlap an append see the pre-batch or the " +
      "post-batch store at every point the append passes, and a frame " +
      "planned before the append either reads one of them or throws") {
    val dir = root()
    val W = 3
    def append(ids: Seq[Long], v: Long): Unit = {
      SequenceShards.appendBatch(spark, mkDocs(ids), v, dir, seqLen = 4,
        nBuckets = 2, eosId = 0L, segSize = 4)
      ()
    }
    append(0L until 80L, 1L)
    def observe(): Seq[Seq[String]] =
      rows(SequenceShards.read(spark, dir)) +: (0 until W).map(w =>
        rows(SequenceShards.readEpochSlice(spark, dir, 1L, w, W)))
    val pre = observe()
    val early = SequenceShards.read(spark, dir) +: (0 until W).map(w =>
      SequenceShards.readEpochSlice(spark, dir, 1L, w, W))
    val seen =
      scala.collection.mutable.ArrayBuffer[(String, Seq[Seq[String]])]()
    graft.util.Maint.crashHook = (v, p) =>
      if (v == "sequenceShards") seen += p -> observe()
    // mid-lane splices: the batch rewrites segments that already exist
    try append(Seq(2045L, 3001L, 4077L), 2L)
    finally graft.util.Maint.crashHook = (_, _) => ()
    val post = observe()
    val key = "\\[(\\d+),(\\d+),".r
    def byKey(rs: Seq[String]) =
      rs.map(r => key.findFirstIn(r).get -> r).toMap
    assert(byKey(pre.head).exists { case (k, r) =>
      byKey(post.head).get(k).exists(_ != r) },
      "the batch rewrote no existing sequence")
    assert(seen.nonEmpty, "appendBatch passed no protocol point")
    seen.foreach { case (point, got) =>
      val whole = got == pre || got == post
      assert(whole,
        s"a read at '$point' saw neither the pre- nor the post-batch store")
    }
    early.zip(post).zip(pre).foreach { case ((df, after), before) =>
      scala.util.Try(rows(df)).foreach { got =>
        val whole = got == before || got == after
        assert(whole, "a frame planned before the append read a mixed store")
      }
    }
  }

  /** Run `verb` with a crash injected at protocol point `point`. */
  private def crashAt(verb: String, point: String)(run: => Any): Unit = {
    val boom = new RuntimeException(s"injected crash: $verb@$point")
    graft.util.Maint.crashHook = (v, p) =>
      if (v == verb && p == point) throw boom
    try assert(intercept[RuntimeException](run) eq boom)
    finally graft.util.Maint.crashHook = (_, _) => ()
  }

  test("reads do no mutation: each state a crash can leave reads as " +
      "the clean store with the listing unchanged, and the next verb " +
      "leaves only the live files and one manifest") {
    val W = 2
    def faces(dir: String): Seq[Seq[String]] =
      Seq(rows(SequenceShards.read(spark, dir)),
        rows(SequenceShards.readEpoch(spark, dir, 1L)),
        SequenceShards.stats(spark, dir).collect().map(_.toString).toSeq) ++
        (0 until W).map(w =>
          rows(SequenceShards.readEpochSlice(spark, dir, 1L, w, W)))
    def onlyLive(dir: String): Unit = {
      val live = manifest(dir).files.map(_.path).toSet
      val stored = files(dir).map(_._1).filter(p => p.endsWith(".parquet") &&
        !p.split('/').last.startsWith("."))
      assert(stored.toSet == live, stored)
      assert(new java.io.File(s"$dir/_manifest").list()
        .count(_.forall(_.isDigit)) == 1)
      assert(new java.io.File(dir).list().toSet ==
        Set("_manifest", "docs", "shards"))
    }
    def build(dir: String): Unit =
      Seq(0L until 20L, 20L until 40L, 40L until 60L).zipWithIndex
        .foreach { case (ids, i) =>
          SequenceShards.appendBatch(spark, mkDocs(ids), i + 1L, dir,
            SeqLen, Lanes, eosId = 0L)
        }
    // an uncommitted v+1: an append crashed between its writes and
    // its commit
    val dir = root()
    build(dir)
    val clean = faces(dir)
    crashAt("sequenceShards", "written") {
      SequenceShards.appendBatch(spark, mkDocs(Seq(1000L, 2001L)), 4L,
        dir, SeqLen, Lanes, eosId = 0L)
    }
    val next = manifest(dir).version + 1
    assert(files(dir).exists(_._1.contains(s"/v=$next/")))
    val before = files(dir).map(f => (f._1, f._2))
    assert(faces(dir) == clean)
    assert(files(dir).map(f => (f._1, f._2)) == before,
      "a read face changed the directory")
    SequenceShards.appendBatch(spark, mkDocs(Seq(1000L, 2001L)), 4L, dir,
      SeqLen, Lanes, eosId = 0L)
    onlyLive(dir)
    assert(rows(SequenceShards.read(spark, dir)) ==
      batchEquivalent((0L until 60L) :+ 1000L :+ 2001L))
    // a committed v+1 beside the undeleted manifest v and the files
    // only v lists: a compaction crashed right after its commit
    val dir2 = root()
    build(dir2)
    val superseded = manifest(dir2).files
    crashAt("compactDocs", "committed") {
      SequenceShards.compactDocs(spark, dir2)
    }
    assert(new java.io.File(s"$dir2/_manifest").list()
      .count(_.forall(_.isDigit)) == 2)
    assert(superseded.forall(f => new java.io.File(s"$dir2/${f.path}").exists))
    val before2 = files(dir2).map(f => (f._1, f._2))
    assert(faces(dir2) == clean)
    assert(files(dir2).map(f => (f._1, f._2)) == before2,
      "a read face changed the directory")
    SequenceShards.compactDocs(spark, dir2)
    onlyLive(dir2)
    assert(faces(dir2) == clean)
  }

  test("every Spark job appendBatch and compactDocs launch names its " +
      "verb and step") {
    val dir = root()
    val jobs = Seq(0L until 20L, 20L until 40L, 40L until 60L)
      .zipWithIndex.flatMap { case (ids, i) =>
        JobLog.record(spark.sparkContext) {
          SequenceShards.appendBatch(spark, mkDocs(ids), i + 1L, dir,
            SeqLen, Lanes, eosId = 0L)
        }._2
      }
    val (_, compactJobs) = JobLog.record(spark.sparkContext) {
      SequenceShards.compactDocs(spark, dir)
    }
    assert(jobs.nonEmpty && compactJobs.nonEmpty)
    assert(jobs.forall(_.desc.startsWith("shards:appendBatch:")),
      jobs.map(_.desc))
    assert(compactJobs.forall(_.desc.startsWith("shards:compactDocs:")),
      compactJobs.map(_.desc))
  }

  test("epoch-slice job budget: a warm readEpochSlice collect launches " +
      "no schema-inference and no leaf-listing job") {
    val dir = root()
    SequenceShards.appendBatch(spark, mkDocs(0L until 60L), 1L, dir,
      SeqLen, Lanes, eosId = 0L)
    def sliceJobs() = JobLog.record(spark.sparkContext) {
      SequenceShards.readEpochSlice(spark, dir, 3L, 1, 3).collect()
    }._2
    sliceJobs()
    val warm = sliceJobs()
    assert(!warm.exists(_.desc.startsWith("Listing leaf files")),
      warm.map(_.desc))
    // the epoch_pos window's shuffle map stage and the result stage;
    // the parent layout paid a third, the parquet schema inference
    assert(warm.size == 2, warm.map(j => s"${j.desc}/${j.stages}"))
  }

  test("composes with streaming corpus dedup: survivors of each " +
      "batch feed the shard store, and the result equals the batch " +
      "pipeline (exact dedup -> pack) over the whole history") {
    val dir = root()
    val corpus = s"$dir-corpus"
    // deterministic token-id encoding shared by both pipelines
    def withIds(df: DataFrame): DataFrame =
      df.withColumn("bpe_ids",
        transform(TextOps.tokens(lower(col("text"))),
          t => pmod(xxhash64(t), lit(997L)).cast("int")))
    val texts = (0L until 40L).map { i =>
      // every third doc duplicates an earlier one's content
      val base = if (i % 3 == 2) i - 2 else i
      (i, s"doc $base alpha beta gamma delta token${base % 5}")
    }
    val batches = Seq(texts.slice(0, 15), texts.slice(15, 30),
      texts.slice(30, 40))
    batches.zipWithIndex.foreach { case (b, i) =>
      val v = i + 1L
      CorpusDedup.appendBatch(spark, b.toDF("doc_id", "text"), v,
        corpus, s"$dir-tier", s"$dir-fp", nBuckets = 16, nWords = 2)
      // the batch's ACCEPTED documents extend the shard store
      val survivors = spark.read.parquet(corpus)
        .where(col("version") === v).select("doc_id", "text")
      SequenceShards.appendBatch(spark, withIds(survivors), v, dir,
        SeqLen, Lanes, eosId = 0L)
    }
    // batch pipeline over the full history: canonical-copy exact
    // dedup (min id per content fingerprint — CorpusDedup.appendBatch's
    // contract over the concatenated stream), then pack
    val batchKept = Dedup.canonicalPerFingerprint(
      texts.toDF("doc_id", "text"),
      TextOps.fingerprint(col("text")), "doc_id")
    val packDir = root()
    Export.writeSequenceShards(
      Sampling.packSequences(withIds(batchKept), SeqLen, Lanes,
        eosId = 0L), packDir)
    assert(rows(SequenceShards.read(spark, dir)) ==
      rows(spark.read.parquet(packDir)),
      "streamed dedup→shards ≠ batch dedup→pack")
    // sweep any operator pins (caller-sweeps contract)
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }
}
