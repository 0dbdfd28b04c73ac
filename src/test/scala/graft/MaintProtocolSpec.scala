package graft

import java.nio.file.{Files, Path => JPath}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Similarity
import graft.streaming.{CorpusDedup, Ingest}
import graft.util.Maint

/** The maintenance-protocol crash matrix: for EVERY crash point a
  * verb passes ([[graft.util.Maint.step]], fired by the shared
  * [[graft.util.Maint]] helpers and by [[graft.util.ManifestLog]]),
  * inject a crash at that point, then assert heal-or-loud —
  * re-running the verb restores a state whose answer equals the
  * never-crashed run's. One spec instead of a hand-written test per
  * (verb × window) because the points live in shared helpers: the
  * matrix ENUMERATES ITSELF by first recording which points a clean
  * run fires, then replaying the verb once per point with a throwing
  * hook.
  *
  * Each scenario supplies the verb's answer face. No protocol here may
  * leave a crash-window duplicate (a duplicate posting inflates a
  * Jaccard intersection, a duplicate fingerprint outlives every later
  * fold), so the CorpusDedup sidecars are compared as the exact sorted
  * multiset of their live rows, read through the store's own read
  * face, and so are the stored vector indexes (with their manifest
  * header: quantizer, codebook, append fingerprints) and the ingest
  * store's four trees (through `IngestedCatalog`); the BM25 verbs
  * compare the served ranking. */
class MaintProtocolSpec extends AnyFunSuite {
  private lazy val spark: SparkSession = TestSpark.spark
  import spark.implicits._

  private final case class CrashInjected(verb: String, point: String)
    extends RuntimeException(s"injected crash: $verb@$point")

  /** One verb under test: build pristine state under a base dir, run
    * the verb against it, read the verb's downstream answer. All three
    * take the scenario's base directory. */
  private final case class Scenario(
      verb: String,
      setup: String => Unit,
      run: String => Unit,
      answer: String => Seq[String],
      tidy: String => Unit = _ => ())

  private def copyTree(src: JPath, dst: JPath): Unit = {
    Files.walk(src).forEach { p =>
      val t = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t)
    }
  }

  private def freshCopy(pristine: JPath): String = {
    val d = Files.createTempDirectory("maintcrash")
    Files.delete(d)
    copyTree(pristine, d)
    d.toString
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Run the full matrix for one scenario: clean run for the expected
    * answer, a recording run to enumerate the steps this verb fires,
    * then one crash injection per step followed by a healing re-run
    * whose answer must equal the clean run's. */
  private def crashMatrix(sc: Scenario): Seq[String] = {
    val pristine = Files.createTempDirectory(s"maintpristine-${sc.verb}")
    sc.setup(pristine.toString)
    val clean = freshCopy(pristine)
    sc.run(clean)
    val expected = sc.answer(clean)
    assert(expected.nonEmpty, s"${sc.verb}: empty expected answer — " +
      "the scenario exercises nothing")
    // enumerate the steps a clean run fires
    val fired = scala.collection.mutable.ArrayBuffer[String]()
    Maint.crashHook = (v, p) => if (v == sc.verb) { fired += p; () }
    try sc.run(freshCopy(pristine))
    finally Maint.crashHook = (_, _) => ()
    assert(fired.nonEmpty,
      s"${sc.verb} fired no Maint steps — not routed through the helper")
    for (point <- fired.distinct) {
      val dir = freshCopy(pristine)
      Maint.crashHook = (v, p) =>
        if (v == sc.verb && p == point) throw CrashInjected(v, p)
      try {
        intercept[CrashInjected] { sc.run(dir) }
      } finally Maint.crashHook = (_, _) => ()
      // heal: re-running the verb must succeed and restore answers
      sc.run(dir)
      assert(sc.answer(dir) == expected,
        s"${sc.verb}: answers diverged after crash at '$point' + re-run")
      sc.tidy(dir)
    }
    fired.toSeq
  }

  // ---- exact-dedup sidecars (appendBatch history) -----------------------

  private def exactSetup(base: String): Unit = exactSetup(base, 4)

  /** The first `n` batches of [[exactSetup]]'s history. */
  private def exactSetup(base: String, n: Int): Unit =
    (0 until n).foreach { i =>
      val b = Seq((i * 10L, s"doc number $i alpha beta gamma"),
        (i * 10L + 1, s"doc number $i delta epsilon zeta"))
        .toDF("doc_id", "text")
      CorpusDedup.appendBatch(spark, b, i + 1L, s"$base/corpus",
        s"$base/tier", s"$base/fp", nBuckets = 16, nWords = 2)
    }

  /** A sidecar's exact answer: the sorted multiset of its live rows,
    * `version` included, through the read face. */
  private def sidecarAnswer(dir: String): Seq[String] =
    sortedRows(CorpusDedup.sidecarRows(spark, dir).get)

  /** A CorpusDedup verb's crash matrix: every point re-runs to the
    * clean rows, and a clean run passes its one commit point once. */
  private def sidecarMatrix(verb: String, setup: String => Unit,
      sidecar: String, run: String => Unit): Unit = {
    val fired = crashMatrix(Scenario(verb, setup, run,
      b => sidecarAnswer(s"$b/$sidecar")))
    assert(fired.count(_ == "committed") == 1, fired)
  }

  test("compactTier: crash at every step heals on re-run") {
    sidecarMatrix("compactTier", exactSetup, "tier",
      b => CorpusDedup.compactTier(spark, s"$b/tier", nWords = 2))
  }

  test("appendBatch into empty sidecars: a crash at every step of the " +
      "fp and the tier commit heals on replaying the batch") {
    for (sidecar <- Seq("fp", "tier"))
      sidecarMatrix(s"appendBatch:$sidecar", _ => (), sidecar,
        b => { exactSetup(b, 1); () })
  }

  test("compactFp: crash at every step heals on re-run") {
    sidecarMatrix("compactFp", exactSetup, "fp",
      b => CorpusDedup.compactFp(spark, s"$b/fp"))
  }

  // ---- near-dup postings sidecar ----------------------------------------

  /** Family `i`'s text: no shingle in common with another family's. */
  private def family(i: Int): String =
    (0 until 7).map(w => s"f$i-w$w").mkString(" ")

  /** Four batches of one new family each: four versions, so the fold
    * has strictly-older versions to fold. */
  private def nearDupSetup(base: String): Unit =
    (0 until 4).foreach { i =>
      val b = Seq((i * 10L, family(i))).toDF("doc_id", "text")
      CorpusDedup.appendBatchNearDup(spark, b, i + 1L,
        s"$base/corpus", s"$base/postings", k = 3, threshold = 0.5)
    }

  test("compactPostings: crash at every step heals on re-run") {
    sidecarMatrix("compactPostings", nearDupSetup, "postings",
      b => CorpusDedup.compactPostings(spark, s"$b/postings"))
  }

  // ---- semantic vector sidecar ------------------------------------------

  private def vecOf(seed: Int): Seq[Float] =
    (0 until 4).map(d => math.sin(seed * (0.7 + 0.13 * d) + d).toFloat)

  private lazy val semCents: Seq[Seq[Double]] =
    Similarity.trainIvfCentroids(
      (0 until 8).map(i => (i.toLong, vecOf(i))).toDF("vec_id",
        "embedding"), k = 2, iters = 2)

  private def semanticSetup(base: String): Unit =
    (0 until 4).foreach { i =>
      val b = Seq((i * 10L, vecOf(i)), (i * 10L + 1, vecOf(i + 100)))
        .toDF("vec_id", "embedding")
      CorpusDedup.appendBatchSemantic(spark, b, i + 1L,
        s"$base/corpus", s"$base/vec", semCents, threshold = 0.9999)
    }

  test("compactVectors: crash at every step heals on re-run") {
    sidecarMatrix("compactVectors", semanticSetup, "vec",
      b => CorpusDedup.compactVectors(spark, s"$b/vec"))
  }

  test("requantizeVectors: crash at every step heals on re-run") {
    val cents2 = Similarity.trainIvfCentroids(
      (0 until 8).map(i => (i.toLong, vecOf(i + 3))).toDF("vec_id",
        "embedding"), k = 3, iters = 2)
    sidecarMatrix("requantizeVectors", semanticSetup, "vec",
      b => CorpusDedup.requantizeVectors(spark, s"$b/vec", cents2))
  }

  // ---- sidecar crash states: reads never mutate, verbs leave it tidy ----

  /** Every file under `dir`, recursively: (relative path, length). */
  private def listing(dir: String): Seq[(String, Long)] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(dir)
    Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => (root.relativize(p).toString, Files.size(p))).toSeq.sorted
  }

  /** A tidy sidecar: the root holds only `_manifest/` and the `rows`
    * tree, `_manifest/` one manifest, and every data file under `rows`
    * is one the manifest lists. */
  private def assertTidy(dir: String): Unit = {
    val m = new graft.util.ManifestLog(new org.apache.hadoop.fs.Path(dir),
      spark.sparkContext.hadoopConfiguration,
      Map("rows" -> Seq("version"))).latest.get
    assert(new java.io.File(dir).list().toSet == Set("_manifest", "rows"))
    assert(new java.io.File(s"$dir/_manifest").list()
      .filterNot(_.startsWith(".")).toSeq == Seq(m.version.toString))
    assert(listing(dir).map(_._1).filter(_.endsWith(".parquet"))
      .filterNot(_.split('/').last.startsWith(".")).toSet ==
      m.files.map(_.path).toSet)
  }

  /** The two states a crash leaves in a sidecar — an append crashed at
    * `written` (an uncommitted manifest version's files) and a
    * compaction crashed at `committed` (manifest v+1 beside manifest v
    * and its superseded files). In each, the read face equals the
    * clean store's and changes no file, the next append accepts
    * exactly what it accepts on the clean store, and the sidecar ends
    * tidy. */
  private def crashStates(setup: String => Unit, sidecar: String,
      append: (String, Long) => Long, appendVerb: String,
      compact: String => Unit, compactVerb: String): Unit = {
    val pristine = Files.createTempDirectory("maintstates")
    setup(pristine.toString)
    def crashed(verb: String, point: String)(body: String => Unit)
        : String = {
      val d = freshCopy(pristine)
      Maint.crashHook = (v, p) =>
        if (v == verb && p == point) throw CrashInjected(v, p)
      try intercept[CrashInjected](body(d))
      finally Maint.crashHook = (_, _) => ()
      d
    }
    val cleanPre = freshCopy(pristine)
    val wantPre = sidecarAnswer(s"$cleanPre/$sidecar")
    val want = append(cleanPre, 5L)
    val cleanCompacted = freshCopy(pristine)
    compact(cleanCompacted)
    for ((dir, wantRead) <- Seq(
        crashed(appendVerb, "written")(d => { append(d, 5L); () }) ->
          wantPre,
        crashed(compactVerb, "committed")(compact) ->
          sidecarAnswer(s"$cleanCompacted/$sidecar"))) {
      val before = listing(s"$dir/$sidecar")
      assert(sidecarAnswer(s"$dir/$sidecar") == wantRead)
      assert(listing(s"$dir/$sidecar") == before,
        "the read face changed the sidecar's files")
      assert(append(dir, 5L) == want)
      assertTidy(s"$dir/$sidecar")
    }
  }

  test("fp sidecar crash states: reads never mutate, the next append " +
      "accepts what the clean store accepts, and leaves it tidy") {
    crashStates(exactSetup, "fp",
      (b, v) => CorpusDedup.appendBatch(spark,
        Seq((v * 10L, "doc number 1 alpha beta gamma"),
          (v * 10L + 1, s"fresh doc $v")).toDF("doc_id", "text"),
        v, s"$b/corpus", s"$b/tier", s"$b/fp", nBuckets = 16, nWords = 2),
      "appendBatch:fp",
      b => CorpusDedup.compactFp(spark, s"$b/fp"), "compactFp")
  }

  test("postings sidecar crash states: reads never mutate, the next " +
      "append accepts what the clean store accepts, and leaves it tidy") {
    crashStates(nearDupSetup, "postings",
      (b, v) => CorpusDedup.appendBatchNearDup(spark,
        Seq((v * 10L, family(1)), (v * 10L + 1, family(v.toInt)))
          .toDF("doc_id", "text"),
        v, s"$b/corpus", s"$b/postings", k = 3, threshold = 0.5),
      "appendBatchNearDup:postings",
      b => CorpusDedup.compactPostings(spark, s"$b/postings"),
      "compactPostings")
  }

  // ---- stored vector indexes (one ManifestLog store) --------------------

  private lazy val emb8: DataFrame = {
    val df = (0 until 8)
      .map(i => (i.toLong, vecOf(i), (i % 2).toLong))
      .toDF("vec_id", "embedding", "label")
    df.cache().count()
    df
  }

  /** An append batch: four new vectors, ids 8 to 11. */
  private lazy val batch4: DataFrame =
    (8 until 12).map(i => (i.toLong, vecOf(i), (i % 2).toLong))
      .toDF("vec_id", "embedding", "label")

  /** An overlapping batch: vectors 6 and 7 again, so the index holds
    * duplicate rows for a compaction to drop. */
  private def overlap: DataFrame = emb8.where(col("vec_id") >= 6)

  private def ivfSetup(base: String): Unit =
    Similarity.writeIvfIndex(emb8, s"$base/ivf", kCells = 2, iters = 2)

  private def pqSetup(base: String): Unit =
    Similarity.writePqIndex(emb8, s"$base/pq", dims = 4, m = 2)

  private def ivfPqSetup(base: String): Unit =
    Similarity.writeIvfPqIndex(emb8, s"$base/ivfpq", kCells = 2,
      dims = 4, m = 2, iters = 2)

  private def indexLog(dir: String) = new graft.util.ManifestLog(
    new org.apache.hadoop.fs.Path(dir),
    spark.sparkContext.hadoopConfiguration, Map("cells" -> Seq("cell")))

  /** A stored index's exact answer: the sorted multiset of its live
    * rows through the read face, then its manifest header (quantizer,
    * codebook, schema and append fingerprints). */
  private def indexAnswer(dir: String): Seq[String] =
    sortedRows(Similarity.indexRows(spark, dir).get) ++
      indexLog(dir).latest.get.header.map(_.mkString("\t"))

  /** A vector-index verb's crash matrix: every point re-runs to the
    * clean rows and header, and a clean run passes its one commit
    * point once. */
  private def vecMatrix(verb: String, setup: String => Unit, idx: String,
      run: String => Unit): Unit = {
    val fired = crashMatrix(Scenario(verb, setup, run,
      b => indexAnswer(s"$b/$idx")))
    assert(fired.count(_ == "committed") == 1, fired)
  }

  test("writeIvfIndex into an empty dir: crash at every step heals on " +
      "re-run") {
    vecMatrix("writeIvfIndex", _ => (), "ivf", ivfSetup)
  }

  test("compactIvfVectors: crash at every step heals on re-run") {
    vecMatrix("compactIvfVectors",
      b => { ivfSetup(b); Similarity.appendToIvfIndex(overlap, s"$b/ivf") },
      "ivf", b => Similarity.compactIvfVectors(spark, s"$b/ivf"))
  }

  test("retrainIvfIndex: crash at every step heals on re-run") {
    vecMatrix("retrainIvfIndex", ivfSetup, "ivf",
      b => Similarity.retrainIvfIndex(spark, s"$b/ivf", kCells = 3,
        iters = 2))
  }

  test("appendToIvfIndex: a crash at every step, then a re-run, gives " +
      "the clean rows with no duplicates") {
    vecMatrix("appendToIvfIndex", ivfSetup, "ivf",
      b => Similarity.appendToIvfIndex(batch4, s"$b/ivf"))
  }

  test("compactPqCodes: crash at every step heals on re-run") {
    vecMatrix("compactPqCodes",
      b => { pqSetup(b); Similarity.appendToPqIndex(overlap, s"$b/pq") },
      "pq", b => Similarity.compactPqCodes(spark, s"$b/pq"))
  }

  test("retrainPqIndex: crash at every step heals on re-run") {
    vecMatrix("retrainPqIndex", pqSetup, "pq",
      b => Similarity.retrainPqIndex(emb8.where(col("vec_id") =!= 2L),
        s"$b/pq"))
  }

  test("appendToPqIndex: a crash at every step, then a re-run, gives " +
      "the clean rows with no duplicates") {
    vecMatrix("appendToPqIndex", pqSetup, "pq",
      b => Similarity.appendToPqIndex(batch4, s"$b/pq"))
  }

  test("compactIvfPqCodes: crash at every step heals on re-run") {
    vecMatrix("compactIvfPqCodes",
      b => {
        ivfPqSetup(b)
        Similarity.appendToIvfPqIndex(overlap, s"$b/ivfpq")
      },
      "ivfpq", b => Similarity.compactIvfPqCodes(spark, s"$b/ivfpq"))
  }

  test("retrainIvfPqIndex: crash at every step heals on re-run") {
    vecMatrix("retrainIvfPqIndex", ivfPqSetup, "ivfpq",
      b => Similarity.retrainIvfPqIndex(emb8, s"$b/ivfpq", kCells = 3,
        iters = 2))
  }

  test("appendToIvfPqIndex: a crash at every step, then a re-run, " +
      "gives the clean rows with no duplicates") {
    vecMatrix("appendToIvfPqIndex", ivfPqSetup, "ivfpq",
      b => Similarity.appendToIvfPqIndex(batch4, s"$b/ivfpq"))
  }

  private def ivfServe(b: String): DataFrame =
    Similarity.ivfTopKFromIndex(spark, s"$b/ivf", vecOf(3), k = 20,
      nprobe = 2)

  private def ivfPqServe(b: String): DataFrame =
    Similarity.ivfPqTopKFromIndex(spark, s"$b/ivfpq", Seq(100L -> vecOf(3)),
      k = 20, nprobe = 2)

  /** A tidy index: the root holds only `_manifest/` and `cells/`,
    * `_manifest/` one manifest, and every data file under `cells` is one
    * the manifest lists. */
  private def assertTidyIndex(dir: String): Unit = {
    val m = indexLog(dir).latest.get
    assert(new java.io.File(dir).list().toSet == Set("_manifest", "cells"))
    assert(new java.io.File(s"$dir/_manifest").list()
      .filterNot(_.startsWith(".")).toSeq == Seq(m.version.toString))
    assert(listing(dir).map(_._1).filter(_.endsWith(".parquet"))
      .filterNot(_.split('/').last.startsWith(".")).toSet ==
      m.files.map(_.path).toSet)
  }

  /** The two states a crash leaves in a stored index — an append
    * crashed at `written` (an uncommitted version's files) and a retrain
    * crashed at `committed` (manifest v+1 beside manifest v and its
    * superseded files). In each, the serve answers as the clean store
    * does (before the append; after the retrain) and changes no file,
    * and the next verb leaves the index tidy. */
  private def indexCrashStates(setup: String => Unit, idx: String,
      serve: String => DataFrame, append: String => Unit,
      appendVerb: String, retrain: String => Unit, retrainVerb: String,
      next: String => Unit): Unit = {
    val pristine = Files.createTempDirectory("maintvecstates")
    setup(pristine.toString)
    def crashed(verb: String, run: String => Unit): String = {
      val d = freshCopy(pristine)
      Maint.crashHook = (v, p) =>
        if (v == verb && p == (if (verb == appendVerb) "written"
          else "committed")) throw CrashInjected(v, p)
      try intercept[CrashInjected](run(d))
      finally Maint.crashHook = (_, _) => ()
      d
    }
    val retrained = freshCopy(pristine)
    retrain(retrained)
    for ((dir, want) <- Seq(
        crashed(appendVerb, append) -> sortedRows(serve(freshCopy(pristine))),
        crashed(retrainVerb, retrain) -> sortedRows(serve(retrained)))) {
      val before = listing(s"$dir/$idx")
      assert(sortedRows(serve(dir)) == want)
      assert(Similarity.indexRows(spark, s"$dir/$idx").get.count() > 0)
      assert(listing(s"$dir/$idx") == before,
        "a read face changed the index's files")
      next(dir)
      assertTidyIndex(s"$dir/$idx")
    }
  }

  test("ivf index crash states: serves never mutate and answer as the " +
      "clean store, and the next verb leaves only _manifest/ and cells/") {
    indexCrashStates(ivfSetup, "ivf", ivfServe,
      b => Similarity.appendToIvfIndex(batch4, s"$b/ivf"),
      "appendToIvfIndex",
      b => Similarity.retrainIvfIndex(spark, s"$b/ivf", kCells = 3,
        iters = 2), "retrainIvfIndex",
      b => Similarity.compactIvfVectors(spark, s"$b/ivf"))
  }

  test("ivf-pq index crash states: serves never mutate and answer as " +
      "the clean store, and the next verb leaves only _manifest/ and " +
      "cells/") {
    indexCrashStates(ivfPqSetup, "ivfpq", ivfPqServe,
      b => Similarity.appendToIvfPqIndex(batch4, s"$b/ivfpq"),
      "appendToIvfPqIndex",
      b => Similarity.retrainIvfPqIndex(emb8, s"$b/ivfpq", kCells = 3,
        iters = 2), "retrainIvfPqIndex",
      b => Similarity.appendToIvfPqIndex(batch4, s"$b/ivfpq"))
  }

  /** Serves that overlap `verb` at every protocol point it passes (the
    * crash hook as an observer): a serve planned and run at the point,
    * and a frame planned BEFORE the verb and run at the point, each
    * equal the pre-verb or the post-verb answer, or throw. Returns the
    * points at which the fresh serve threw. */
  private def overlappingServes(verb: String, setup: String => Unit,
      run: String => Unit, serve: String => DataFrame): Seq[String] = {
    val pristine = Files.createTempDirectory(s"maintoverlap-$verb")
    setup(pristine.toString)
    val pre = sortedRows(serve(freshCopy(pristine)))
    val post = { val d = freshCopy(pristine); run(d); sortedRows(serve(d)) }
    assert(pre != post, s"$verb changes no answer: the test guards nothing")
    val dir = freshCopy(pristine)
    val planned = serve(dir)
    val seen = scala.collection.mutable.ArrayBuffer[
      (String, scala.util.Try[Seq[String]], scala.util.Try[Seq[String]])]()
    Maint.crashHook = (v, p) => if (v == verb) {
      seen += ((p, scala.util.Try(sortedRows(serve(dir))),
        scala.util.Try(sortedRows(planned))))
      ()
    }
    try run(dir) finally Maint.crashHook = (_, _) => ()
    assert(seen.nonEmpty, s"$verb passed no protocol point")
    for ((p, fresh, old) <- seen; t <- Seq(fresh, old))
      assert(t.fold(_ => true, a => a == pre || a == post),
        s"$verb: a serve at '$p' saw neither the pre- nor the post-verb " +
          "index")
    seen.collect { case (p, scala.util.Failure(_), _) => p }.toSeq
  }

  test("serves overlapping retrainIvfPqIndex and compactIvfVectors at " +
      "every protocol point see the old or the new index, and a fresh " +
      "serve never fails") {
    assert(overlappingServes("retrainIvfPqIndex", ivfPqSetup,
      b => Similarity.retrainIvfPqIndex(emb8, s"$b/ivfpq", kCells = 3,
        iters = 2), ivfPqServe).isEmpty)
    assert(overlappingServes("compactIvfVectors",
      b => { ivfSetup(b); Similarity.appendToIvfIndex(overlap, s"$b/ivf") },
      b => Similarity.compactIvfVectors(spark, s"$b/ivf"), ivfServe).isEmpty)
  }

  // ---- persisted BM25 index ---------------------------------------------

  private def bm25Docs = Seq((0L, "spark runs fast"),
    (1L, "spark and flink"), (2L, "ducks swim in ponds"),
    (3L, "spark flink stream")).toDF("doc_id", "text")

  private def bm25Setup(base: String): Unit = {
    graft.pipeline.Search.writeBm25Index(
      bm25Docs.where(col("doc_id") < 2), s"$base/bm25", nBuckets = 4)
    graft.pipeline.Search.appendToBm25Index(
      bm25Docs.where(col("doc_id") >= 2), s"$base/bm25")
  }

  /** answer face: the served ranking itself (exact rows after the
    * serve's own duplicate heal) plus the normalizer totals over the
    * manifest's distinct stats partials. */
  private def bm25Answer(base: String): Seq[String] = {
    val m = new graft.util.ManifestLog(
      new org.apache.hadoop.fs.Path(s"$base/bm25"),
      spark.sparkContext.hadoopConfiguration,
      Map("postings" -> Seq("bucket"))).latest.get
    val parts = m.header.filter(_.head == "stats").distinct
    sortedRows(graft.pipeline.Search.bm25TopKBatchFromIndex(spark,
      s"$base/bm25", Seq((1L, "spark flink"), (2L, "ducks")), k = 5)) :+
      s"n=${parts.map(_(2).toLong).sum} sumdl=${parts.map(_(3).toLong).sum}"
  }

  /** A BM25 verb's crash matrix: every point re-runs to the clean
    * answers, and a clean run passes its one commit point once. */
  private def bm25Matrix(verb: String, setup: String => Unit,
      run: String => Unit): Seq[String] = {
    val fired = crashMatrix(Scenario(verb, setup, run, bm25Answer))
    assert(fired.count(_ == "committed") == 1, fired)
    fired
  }

  test("compactBm25Index (postings flip): crash at every step heals " +
      "on re-run") {
    bm25Matrix("compactBm25Index", bm25Setup,
      b => graft.pipeline.Search.compactBm25Index(spark, s"$b/bm25"))
  }

  test("compactBm25Index (stats fold): crash at every step heals " +
      "on re-run") {
    // a replayed append: duplicate postings and a duplicate stats
    // partial, both collapsed by the fold
    bm25Matrix("compactBm25Index",
      b => {
        bm25Setup(b)
        graft.pipeline.Search.appendToBm25Index(
          bm25Docs.where(col("doc_id") >= 2), s"$b/bm25")
      },
      b => graft.pipeline.Search.compactBm25Index(spark, s"$b/bm25"))
  }

  test("compactBm25Buckets with the stats fold due: a crash at every " +
      "point heals on re-running the verb, then serves the clean " +
      "answers") {
    // two stats partials (build + append) and maxPartFiles = 1: the
    // run folds the touched buckets AND the stats in one commit
    val fired = bm25Matrix("compactBm25Buckets", bm25Setup,
      b => graft.pipeline.Search.compactBm25Buckets(spark, s"$b/bm25",
        maxPartFiles = 1))
    // the crash between the data write and the commit is enumerated
    assert(fired.contains("written") &&
      fired.indexOf("written") < fired.indexOf("committed"), fired)
  }

  test("appendToBm25Index: crash at every step heals on replaying " +
      "the append") {
    bm25Matrix("appendToBm25Index", bm25Setup,
      b => graft.pipeline.Search.appendToBm25Index(
        Seq((9L, "spark spark ducks")).toDF("doc_id", "text"),
        s"$b/bm25"))
  }

  test("writeBm25Index into an empty dir: crash at every step heals on " +
      "re-run") {
    bm25Matrix("writeBm25Index", _ => (),
      b => graft.pipeline.Search.writeBm25Index(bm25Docs, s"$b/bm25",
        nBuckets = 4))
  }

  test("writeBm25Index over an index: crash at every step heals on " +
      "re-run") {
    bm25Matrix("writeBm25Index", bm25Setup,
      b => graft.pipeline.Search.writeBm25Index(
        bm25Docs.where(col("doc_id") =!= 2L), s"$b/bm25", nBuckets = 3))
  }

  // ---- incremental sequence shards (one manifest per verb) --------------

  private def shardDocs(ids: Seq[Long]) = ids.map(i => (i,
    Array.tabulate((i % 5).toInt + 1)(j => (i + j).toInt)))
    .toDF("doc_id", "bpe_ids")

  /** Append `ids` as batch `v` of the shard store under `base`. */
  private def shardAppend(base: String, ids: Seq[Long], v: Long): Unit = {
    graft.streaming.SequenceShards.appendBatch(spark, shardDocs(ids), v,
      s"$base/sq", seqLen = 6, nBuckets = 3, eosId = 0L)
    ()
  }

  private def shardAnswer(base: String): Seq[String] =
    sortedRows(graft.streaming.SequenceShards.read(spark, s"$base/sq")
      .select(col("pack_bucket").cast("long"), col("seq_idx"),
        col("n_docs"), col("starts").cast("array<int>"),
        col("ids").cast("array<int>")))

  test("sequenceShards appendBatch: crash at every step heals on " +
      "replaying the batch (the stream's own recovery path)") {
    def setup(base: String): Unit = {
      shardAppend(base, 0L until 12L, 1L)
      shardAppend(base, 12L until 24L, 2L)
    }
    val fired = crashMatrix(Scenario("sequenceShards", setup,
      shardAppend(_, 24L until 36L, 3L), shardAnswer))
    assert(fired.count(_ == "committed") == 1, fired)
  }

  test("sequenceShards appendBatch into an empty dir: crash at every " +
      "step heals on replaying the batch") {
    val fired = crashMatrix(Scenario("sequenceShards", _ => (),
      shardAppend(_, 0L until 12L, 1L), shardAnswer))
    assert(fired.count(_ == "committed") == 1, fired)
  }

  test("sequenceShards compactDocs (docs sidecar flip): crash at " +
      "every step heals on re-run") {
    def setup(base: String): Unit =
      Seq(0L until 12L, 12L until 24L, 24L until 36L).zipWithIndex
        .foreach { case (ids, i) => shardAppend(base, ids, i + 1L) }
    // the answer carries BOTH faces a duplicate/lost doc row would
    // corrupt: the docs sidecar's content (offset inputs) and the
    // derived shard rows
    def answer(base: String): Seq[String] =
      sortedRows(spark.read.parquet(s"$base/sq/docs")
        .select(col("doc_id"), col("lane").cast("long"),
          col("pk"), col("n"))) ++ shardAnswer(base)
    val fired = crashMatrix(Scenario("compactDocs", setup,
      b => graft.streaming.SequenceShards.compactDocs(spark,
        s"$b/sq"),
      answer))
    assert(fired.count(_ == "committed") == 1, fired)
  }

  // ---- ingest store (one manifest at <data>/_manifest) ------------------

  private def ingestBatch(v: Int): DataFrame = (0 until 6).map { i =>
    ("t0", "p", (v * 100 + i).toLong * 1000000000L,
      (v * 1000 + i).toLong, i.toDouble)
  }.toDF("topic", "producer", "time", "seq", "value")

  private def storeSetup(base: String): Unit =
    (1 to 3).foreach(v =>
      TestSpark.ingest(base, v.toLong, ingestBatch(v), fieldStats = true))

  /** The ingest store's exact answer: the sorted row multisets of its
    * data, stat-partial, per-field-partial and control trees, read
    * through `IngestedCatalog` (the control rows' wall-clock stamp
    * dropped). */
  private def storeAnswer(base: String): Seq[String] = {
    val cat = TestSpark.ingestedCatalog(base, fieldStats = true)
    sortedRows(cat.messages(spark).select("topic", "producer", "time",
      "seq", "value", "ingest_version")) ++
      sortedRows(cat.stats(spark)) ++ sortedRows(cat.fieldStats.get(spark)) ++
      sortedRows(cat.control(spark).drop("ingest_time_ns"))
  }

  /** A tidy ingest store: the data dir holds only `_manifest/` (with one
    * manifest) and `topic=` directories, and every tree's directory
    * only the parquet files the manifest lists. */
  private def assertIngestTidy(base: String): Unit = {
    val m = TestSpark.ingestedCatalog(base, fieldStats = true)
      .manifest(spark)
    val top = new java.io.File(s"$base/data").list().toSeq
    assert(top.forall(n => n == "_manifest" || n.startsWith("topic=")), top)
    assert(new java.io.File(s"$base/data/_manifest").list()
      .filterNot(_.startsWith(".")).toSeq == Seq(m.version.toString))
    for (t <- Seq("data", "stats", "fstats", "control"))
      assert(listing(s"$base/$t").map(_._1).filter(_.endsWith(".parquet"))
        .filterNot(_.split('/').last.startsWith(".")).map(p => s"$t/$p")
        .toSet == m.filesOf(t).map(_.path).toSet, t)
  }

  private def ingestMatrix(verb: String, run: String => Unit): Unit = {
    val fired = crashMatrix(Scenario(verb, storeSetup, run, storeAnswer,
      assertIngestTidy))
    assert(fired.count(_ == "committed") == 1, fired)
  }

  // the re-run is the stream's replay of the batch
  test("appendVersion: crash at every step heals on replay") {
    ingestMatrix("appendVersion",
      TestSpark.ingest(_, 4L, ingestBatch(4), fieldStats = true))
  }

  test("optimize: crash at every step heals on re-run") {
    ingestMatrix("optimize",
      b => { Ingest.optimize(spark, s"$b/data", maxFilesPerPartition = 1); () })
  }

  /** importMcap's crash matrix over the store `setup` builds: a crash
    * at every point leaves the pre- or the post-import store, as the
    * commit point decides, and the retry (before the commit) or the next
    * verb (after it) leaves the post-import store, tidy. `answer` reads a
    * store, `tidy` checks one. */
  private def importMatrix(setup: String => Unit, answer: String => Seq[String],
      tidy: String => Unit): Unit = {
    val mcap = Files.createTempFile("maintimport", ".mcap")
    val w = new graft.mcap.Mcap.Writer()
    w.writeSchema(graft.mcap.Mcap.SchemaRec(1, "pkg/t", "ros1msg",
      "int16 c".getBytes))
    w.writeChannel(graft.mcap.Mcap.ChannelRec(0, 1, "t0", "ros1"))
    for (t <- 1L to 4L)
      w.writeMessage(graft.mcap.Mcap.MessageRec(0, t, t, t,
        Array[Byte](t.toByte, 0)))
    Files.write(mcap, w.finish())
    def run(b: String): Unit = { Ingest.importMcap(spark, "p9",
      mcap.toString, s"$b/data", s"$b/stats", s"$b/control",
      Some((s"$b/fstats", Seq("value"), Nil))); () }
    val pristine = Files.createTempDirectory("maintpristine-import")
    setup(pristine.toString)
    val pre = answer(freshCopy(pristine))
    val post = { val d = freshCopy(pristine); run(d); answer(d) }
    assert(pre != post)
    val fired = scala.collection.mutable.ArrayBuffer[String]()
    Maint.crashHook = (v, p) => if (v == "importMcap") { fired += p; () }
    try run(freshCopy(pristine)) finally Maint.crashHook = (_, _) => ()
    assert(fired.count(_ == "committed") == 1, fired)
    for (point <- fired.distinct) {
      val dir = freshCopy(pristine)
      Maint.crashHook = (v, p) =>
        if (v == "importMcap" && p == point) throw CrashInjected(v, p)
      try intercept[CrashInjected](run(dir))
      finally Maint.crashHook = (_, _) => ()
      val landed = fired.indexOf(point) >= fired.indexOf("committed")
      assert(answer(dir) == (if (landed) post else pre), point)
      if (landed) Ingest.optimize(spark, s"$dir/data",
        maxFilesPerPartition = Int.MaxValue)
      else run(dir)
      assert(answer(dir) == post, point)
      tidy(dir)
    }
  }

  test("importMcap: a crash at every step leaves the pre- or the " +
      "post-import store, as the commit point decides, and the retry or " +
      "the next verb leaves the post-import store tidy") {
    importMatrix(storeSetup, storeAnswer, assertIngestTidy)
  }

  /** A store's answer, empty while nothing is committed. */
  private def committedAnswer(base: String): Seq[String] =
    Ingest.log(spark, Map("data" -> s"$base/data")).latest
      .fold(Seq.empty[String])(_ => storeAnswer(base))

  /** A tidy store holding exactly one ingest version. */
  private def assertOneVersion(base: String): Unit = {
    assertIngestTidy(base)
    val m = TestSpark.ingestedCatalog(base, fieldStats = true)
      .manifest(spark)
    assert(m.header.collect { case "version" +: v +: _ => v } == Seq("1"),
      m.header)
  }

  // a crash inside a fresh store's first commit leaves only `v=1`
  // directories, which the replay's open drops
  test("the first appendVersion and the first importMcap into an empty " +
      "store: a crash at every step heals on replay, to a tidy store " +
      "holding that one version") {
    val fired = crashMatrix(Scenario("appendVersion", _ => (),
      TestSpark.ingest(_, 1L, ingestBatch(1), fieldStats = true),
      storeAnswer, assertOneVersion))
    assert(fired.count(_ == "committed") == 1, fired)
    importMatrix(_ => (), committedAnswer, assertOneVersion)
  }
}
