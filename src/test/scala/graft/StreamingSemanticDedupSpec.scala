package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{Curate, Dedup, Similarity}
import graft.streaming.CorpusDedup

/** Streaming incremental SEMANTIC corpus dedup: accept a vector iff
  * nothing already accepted sits within cosine threshold — equivalent
  * to the batch dedupSemanticAgainstCorpus applied iteratively, but
  * each batch reads the cell-pruned accepted-vector sidecar, never
  * corpus embeddings. */
class StreamingSemanticDedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** family f points in the e1–e2 plane at angle 0.35·f (cross-family
    * cosine ≤ cos 0.35 ≈ 0.94); variants v perturb the third
    * component by 0.001·v (within-family cosine ≥ 0.99999) — so
    * threshold 0.999 separates exactly along family lines. */
  private def famVec(f: Int, v: Int): Seq[Float] = {
    val th = f * 0.35
    Seq(math.cos(th).toFloat, math.sin(th).toFloat, 0.001f * v, 0f)
  }

  private val Threshold = 0.999

  private def dirs(): (String, String) = {
    val base = Files.createTempDirectory("graft-semdedup").toString
    (s"$base/corpus", s"$base/vecs")
  }

  /** frozen coarse quantizer, trained once on the family bases — the
    * production discipline (per-batch retraining would shift cells). */
  private lazy val cents: Seq[Seq[Double]] =
    Similarity.trainIvfCentroids(
      (0 until 8).map(f => (f.toLong, famVec(f, 0)))
        .toDF("vec_id", "embedding"), k = 2, iters = 3)

  /** A sidecar's live rows, through its read face. */
  private def live(dir: String) = CorpusDedup.sidecarRows(spark, dir).get

  private def sweep(): Unit =
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))

  test("compactVectors emits ceil(bytes/target) range-clustered files " +
      "— never one AQE-coalesced blob that collapses downstream scan " +
      "parallelism — and membership rows survive the sized fold") {
    import org.apache.hadoop.fs.Path
    val (corpus, vecs) = dirs()
    // ~400 mutually-far 8-dim vectors (pairwise cosine ≈ 0): every
    // batch row is accepted, so the folded sidecar has real bytes
    def vecOf(i: Long): Seq[Float] =
      (0 until 8).map(d => math.sin(i * (0.7 + 0.13 * d) + d).toFloat)
    val cents8 = Similarity.trainIvfCentroids(
      (0L until 32L).map(i => (i, vecOf(i))).toDF("vec_id", "embedding"),
      k = 4, iters = 2)
    (0 until 4).foreach { v =>
      val b = (0 until 100).map { j =>
        val id = v * 1000L + j; (id, vecOf(id))
      }.toDF("vec_id", "embedding")
      CorpusDedup.appendBatchSemantic(spark, b, v + 1L, corpus, vecs,
        cents8, threshold = 0.9999)
    }
    // the folded versions' files and bytes, from the manifest
    def files(v: Long) = new graft.util.ManifestLog(new Path(vecs),
      spark.sparkContext.hadoopConfiguration, Map("rows" -> Seq("version")))
      .latest.get.files.filter(_.part("version") == v)
    val foldedBytes = (1L to 3L).flatMap(files).map(_.bytes).sum
    val target = 2048L
    val nExp = graft.util.Maint.sizedFileCount(foldedBytes, target)
    assert(nExp > 2, s"fixture too small to exercise sizing: " +
      s"$foldedBytes bytes")
    def rows() = live(vecs)
      .select("_rv", "_rnrm", "cell")
      .collect().map(_.toString).sorted.toSeq
    val before = rows()
    CorpusDedup.compactVectors(spark, vecs, targetBytesPerFile = target)
    assert(files(3L).length == nExp,
      s"fold emitted ${files(3L).length} files, sizing says $nExp")
    assert(rows() == before, "the sized fold changed membership rows")
    sweep()
  }

  test("appendBatchSemantic accepts first occurrences across batches; " +
      "in-batch paraphrases both survive (the corpus-boundary contract)") {
    val (corpus, vecs) = dirs()
    val b1 = Seq((1L, famVec(0, 0)), (2L, famVec(2, 0)),
      (3L, famVec(0, 1))) // in-batch near-dup of 1 — NOT collapsed
      .toDF("vec_id", "embedding")
    assert(CorpusDedup.appendBatchSemantic(spark, b1, 1L, corpus, vecs,
      cents, Threshold) == 3L)
    val b2 = Seq(
      (10L, famVec(0, 2)), // cross-batch paraphrase of 1 — dropped
      (11L, famVec(4, 0))) // new family — accepted
      .toDF("vec_id", "embedding")
    assert(CorpusDedup.appendBatchSemantic(spark, b2, 2L, corpus, vecs,
      cents, Threshold) == 1L)
    val accepted = spark.read.parquet(corpus)
      .select("vec_id").as[Long].collect().toSet
    assert(accepted == Set(1L, 2L, 3L, 11L))
    // sidecar carries one row per accepted vector with frozen norm
    val side = live(vecs)
    assert(side.count() == 4)
    assert(side.columns.toSet ==
      Set("_rv", "_rnrm", "cell", "version"))
    sweep()
  }

  test("appendBatchSemantic over random batch histories equals the " +
      "batch semantic dedup applied iteratively") {
    val (corpus, vecs) = dirs()
    val rnd = new scala.util.Random(17)
    val docs = rnd.shuffle(
      (for (f <- 0 until 8; v <- 0 until 6)
        yield ((f * 100 + v).toLong, famVec(f, v))).toList)
    val batches = docs.grouped(12).toSeq
    var acceptedTruth = Vector.empty[(Long, Seq[Float])]
    batches.zipWithIndex.foreach { case (b, i) =>
      val batch = b.toDF("vec_id", "embedding")
      val got = CorpusDedup.appendBatchSemantic(spark, batch,
        version = i + 1L, corpus, vecs, cents, Threshold)
      // ground truth: the BATCH operator against the accepted-so-far
      // corpus (which the streaming path never re-reads), same cells
      val expected =
        if (acceptedTruth.isEmpty) b.map(_._1).toSet
        else Curate.dedupSemanticAgainstCorpus(
            Similarity.assignCells(batch, cents),
            Similarity.assignCells(
              acceptedTruth.toDF("vec_id", "embedding"), cents),
            Threshold, Some("cell"))
          .select("vec_id").as[Long].collect().toSet
      assert(got == expected.size, s"batch $i: $got vs $expected")
      acceptedTruth = acceptedTruth ++ b.filter(d => expected(d._1))
    }
    val streamed = spark.read.parquet(corpus)
      .select("vec_id").as[Long].collect().toSet
    assert(streamed == acceptedTruth.map(_._1).toSet)
    // later-batch paraphrases of accepted families were dropped, but
    // same-batch paraphrases both survive — boundary-only semantics
    assert(streamed.size >= 8 && streamed.size < 48, streamed.toString)
    sweep()
  }

  test("requantizeVectors rewrites the sidecar consistently under a " +
      "new quantizer; appends after the swap match batch ground truth") {
    val (corpus, vecs) = dirs()
    CorpusDedup.appendBatchSemantic(spark,
      Seq((1L, famVec(0, 0)), (2L, famVec(2, 0)), (3L, famVec(4, 0)))
        .toDF("vec_id", "embedding"),
      1L, corpus, vecs, cents, Threshold)
    CorpusDedup.appendBatchSemantic(spark,
      Seq((10L, famVec(6, 0)), (11L, famVec(0, 1))) // 11 ~ 1: dropped
        .toDF("vec_id", "embedding"),
      2L, corpus, vecs, cents, Threshold)
    val before = live(vecs)
      .select(col("_rv"), col("_rnrm"), col("version"))
      .collect().map(_.toString).sorted.toSeq
    // drift maintenance: a finer quantizer replaces the frozen one
    val cents2 = Similarity.trainIvfCentroids(
      (0 until 8).map(f => (f.toLong, famVec(f, 0)))
        .toDF("vec_id", "embedding"), k = 4, iters = 3)
    assert(cents2 != cents, "the probe needs a genuinely new quantizer")
    CorpusDedup.requantizeVectors(spark, vecs, cents2)
    val side = live(vecs)
    // vectors, frozen norms, and versions survive verbatim — only
    // `cell` is recomputed, and it must equal a fresh assignment of
    // the same vectors under the new quantizer
    assert(side.select(col("_rv"), col("_rnrm"), col("version"))
      .collect().map(_.toString).sorted.toSeq == before)
    val reassigned = Similarity.assignCells(
      side.withColumnRenamed("cell", "cell_old"), cents2, "_rv")
    assert(reassigned.where(col("cell") =!= col("cell_old"))
      .count() == 0)
    // the coordinated swap: batches now pass cents2 and must match
    // the BATCH operator's ground truth against the accepted history
    // under cents2's cells
    val history = spark.read.parquet(corpus)
      .select("vec_id", "embedding")
    val b3 = Seq(
      (20L, famVec(2, 1)), // paraphrase of accepted 2 — dropped
      (21L, famVec(7, 0))) // new family — accepted
      .toDF("vec_id", "embedding")
    val got = CorpusDedup.appendBatchSemantic(spark, b3, 3L, corpus,
      vecs, cents2, Threshold)
    val expected = graft.pipeline.Curate.dedupSemanticAgainstCorpus(
        Similarity.assignCells(b3, cents2),
        Similarity.assignCells(history, cents2), Threshold, Some("cell"))
      .select("vec_id").as[Long].collect().toSet
    assert(got == expected.size && expected == Set(21L),
      s"$got vs $expected")
    sweep()
  }

  test("compactVectors folds committed version partitions without " +
      "changing membership, and replay after a fold still works") {
    val (corpus, vecs) = dirs()
    // four batches: each brings one new family (accepted) and one
    // paraphrase of family 0 (dropped after batch 1)
    (0 until 4).foreach { i =>
      val b = Seq(((i * 10).toLong, famVec(i, 0)),
        ((i * 10 + 1).toLong, famVec(0, i + 1)))
        .toDF("vec_id", "embedding")
      CorpusDedup.appendBatchSemantic(spark, b, i + 1L, corpus, vecs,
        cents, Threshold)
    }
    assert(spark.read.parquet(corpus).select("vec_id").as[Long]
      .collect().sorted.toSeq == Seq(0L, 1L, 10L, 20L, 30L))
    def sideRows() = live(vecs)
      .select("_rv", "_rnrm", "cell")
      .collect().map(_.toString).sorted.toSeq
    val rowsBefore = sideRows()
    CorpusDedup.compactVectors(spark, vecs)
    // versions 1-3 collapse into version=3; the newest (4) stays for
    // its possibly-uncommitted replay
    assert(live(vecs)
      .select(col("version").cast("long")).distinct()
      .as[Long].collect().sorted.toSeq == Seq(3L, 4L))
    assert(sideRows() == rowsBefore,
      "the fold moves vectors, never drops or alters one")
    // membership unchanged: paraphrases of every pre-fold family
    // still drop, a new family still lands
    assert(CorpusDedup.appendBatchSemantic(spark,
      Seq((100L, famVec(3, 5)), (101L, famVec(6, 0)))
        .toDF("vec_id", "embedding"),
      5L, corpus, vecs, cents, Threshold) == 1L)
    // replay of the newest pre-fold version: its `version < 4` read
    // sees the folded rows, so the survivor set is unchanged
    assert(CorpusDedup.appendBatchSemantic(spark,
      Seq((30L, famVec(3, 0)), (31L, famVec(0, 4)))
        .toDF("vec_id", "embedding"),
      4L, corpus, vecs, cents, Threshold) == 1L)
    // no-op below three versions and on a missing dir
    CorpusDedup.compactVectors(spark, s"$vecs-nonexistent")
    sweep()
  }

  test("appendBatchSemantic replay with the same version is idempotent") {
    val (corpus, vecs) = dirs()
    val b1 = Seq((1L, famVec(0, 0)), (2L, famVec(2, 0)))
      .toDF("vec_id", "embedding")
    assert(CorpusDedup.appendBatchSemantic(spark, b1, 1L, corpus, vecs,
      cents, Threshold) == 2L)
    val b2 = Seq((10L, famVec(0, 3)), (11L, famVec(4, 0)))
      .toDF("vec_id", "embedding")
    assert(CorpusDedup.appendBatchSemantic(spark, b2, 2L, corpus, vecs,
      cents, Threshold) == 1L) // 10 is a paraphrase of 1
    def snapshot() = (
      spark.read.parquet(corpus).select("vec_id").as[Long]
        .collect().sorted.toSeq,
      live(vecs).count())
    val before = snapshot()
    assert(CorpusDedup.appendBatchSemantic(spark, b2, 2L, corpus, vecs,
      cents, Threshold) == 1L)
    assert(snapshot() == before,
      "replay must replace its version partitions, not append")
    assert(before._1 == Seq(1L, 2L, 11L))
    sweep()
  }

  test("semantic candidate plan never shuffles the corpus-sized " +
      "sidecar (broadcast batch, pushed cell set)") {
    val (corpus, vecs) = dirs()
    val b1 = (0 until 8).map(f => (f.toLong, famVec(f, 0)))
      .toDF("vec_id", "embedding")
    assert(CorpusDedup.appendBatchSemantic(spark, b1, 1L, corpus, vecs,
      cents, Threshold) == 8L)
    val batch = Seq((100L, famVec(0, 5)), (101L, famVec(3, 2)))
      .toDF("vec_id", "embedding")
    val (arr, pin) = Dedup.pinNow(
      Similarity.assignCells(
        batch.select(col("vec_id").as("_id"),
          col("embedding").as("_v")), cents, "_v")
        .withColumn("_nrm", Similarity.norm(col("_v"))))
    try {
      val batchCells = arr.select(col("cell")).distinct()
        .collect().map(_.getInt(0))
      val accepted = live(vecs)
        .where(col("version") < 2)
        .where(col("cell").isin(batchCells.map(c => c: Any): _*))
        .select(col("_rv"), col("_rnrm"), col("cell"))
      val p = CorpusDedup.SemanticPlan
        .flagged(arr, accepted, Threshold)
        .queryExecution.executedPlan.toString
      // the sidecar may only STREAM through a BroadcastHashJoin with
      // the batch side broadcast; the only exchange carries flagged ids
      assert(!p.contains("SortMergeJoin"), p)
      assert(!p.contains("ShuffledHashJoin"), p)
      assert(p.contains("BroadcastHashJoin"), p)
      // the pinned batch frame is a LogicalRDD, so every FileScan IS a
      // sidecar pass — exactly one
      assert(p.linesIterator.count(_.contains("FileScan")) == 1, p)
      // and the batch's cell set is pushed into the parquet read, so
      // (cell-clustered) row groups the batch cannot match are skipped
      assert("In\\(cell".r.findFirstIn(p).isDefined, p)
    } finally { pin.release(); sweep() }
  }
}
