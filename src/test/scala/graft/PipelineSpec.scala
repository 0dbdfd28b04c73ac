package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.pipeline.{Curate, Dedup, Multimodal, Sampling, Similarity, TextOps}

/** Training-data pipeline operators on crafted micro-fixtures. */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** The live rows of the stored vector index at `dir`. */
  private def indexRows(dir: String) = Similarity.indexRows(spark, dir).get

  private def indexLog(dir: String) = new graft.util.ManifestLog(
    new org.apache.hadoop.fs.Path(dir),
    spark.sparkContext.hadoopConfiguration, Map("cells" -> Seq("cell")))

  /** The files the vector index at `dir` lists for `cells`. */
  private def cellFiles(dir: String, cells: Set[Int]): Set[String] =
    indexLog(dir).latest.get.files
      .filter(f => cells(f.part("cell").toInt))
      .map(f => new java.io.File(s"$dir/${f.path}").toURI.getPath).toSet

  /** The files a frame's plan scans. */
  private def scanned(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.inputFiles.map(f => new java.net.URI(f).getPath).toSet

  /** The stored serve's probe ranking, re-derived: unit centroids, dot
    * with the query, ties by cell id. */
  private def probesOf(cents: Seq[Seq[Double]], vec: Seq[Float],
      nprobe: Int): Seq[Int] = {
    def d(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum
    val q = vec.map(_.toDouble)
    cents.zipWithIndex.map { case (c, ci) =>
      val n = math.sqrt(d(c, c))
      (ci, d(q, if (n == 0.0) c else c.map(_ / n)))
    }.sortBy { case (ci, sc) => (-sc, ci) }.take(nprobe).map(_._1)
  }

  /** A fresh index holding `dir`'s header — its frozen quantizer and
    * codebook — and no rows. */
  private def emptyTwin(dir: String, tag: String): String = {
    val twin = java.nio.file.Files.createTempDirectory(tag).toString
    indexLog(twin).commit("emptyTwin", None, indexLog(dir).latest.get.header,
      Nil)
    twin
  }

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy cat"),   // near-dup of 0
    (2L, "completely different text about spark engines"),
    (3L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 0
    (4L, "a b")                                            // shorter than k
  ).toDF("doc_id", "text")

  test("exact dedup groups identical fingerprints") {
    val r = Dedup.exact(docs).collect()
    assert(r.length == 4) // 0&3 collapse
    val dup = r.find(_.getAs[Long]("n_copies") == 2L).get
    assert(dup.getAs[Long]("keep_id") == 0L)
  }

  test("jaccard pairs finds the near-duplicate") {
    val pairs = Dedup.jaccardPairs(docs, k = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
    assert(pairs.contains((0L, 3L))) // exact dup: jaccard 1.0
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("cross-corpus pairs only cross the boundary; the composed verb " +
      "drops flagged new docs") {
    // ref corpus = {0, 2}; fresh batch = {1, 3, 4}: 1 and 3 near-dup
    // the ref's 0, 4 is clean (and too short to shingle at all)
    val ref = docs.where(col("doc_id").isin(0L, 2L))
    val fresh = docs.where(col("doc_id").isin(1L, 3L, 4L))
    val pairs = Dedup.crossCorpusPairs(fresh, ref, k = 3,
      threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 0L), (3L, 0L)))
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))

    val (kept, pin) = Curate.dedupAgainstCorpus(fresh, ref, k = 3,
      threshold = 0.5)
    assert(kept.select("doc_id").collect().map(_.getLong(0)).toSet
      == Set(4L))
    pin.release()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("pq ADC retrieval ranks same-cluster vectors first, excludes " +
      "self, and is bit-deterministic") {
    val emb = Seq(
      (0L, Array(1.0f, 0.9f, 0.0f, 0.1f), 0),
      (1L, Array(0.9f, 1.0f, 0.1f, 0.0f), 0),
      (2L, Array(1.0f, 1.0f, 0.0f, 0.0f), 0),
      (3L, Array(0.0f, 0.1f, 1.0f, 0.9f), 1),
      (4L, Array(0.1f, 0.0f, 0.9f, 1.0f), 1),
      (5L, Array(0.0f, 0.0f, 1.0f, 1.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    def run() = Similarity.pqTopKBatch(emb, Seq(0L), k = 5, dims = 4,
        m = 2)
      .orderBy(col("adc_mu2").desc, col("vec_id").asc)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq
    val r = run()
    assert(r.length == 5 && r.forall(_._1 == 0L))
    val order = r.map(_._2)
    assert(!order.contains(0L)) // self excluded
    // same-codebook-cell vectors share the query's lookup rows: the
    // cluster-0 members outrank every cluster-1 member
    assert(order.take(2).toSet == Set(1L, 2L))
    assert(order.drop(2).toSet == Set(3L, 4L, 5L))
    // codes are quantized per cell, so equal-coded vectors tie exactly
    assert(r(0)._3 == r(1)._3)
    assert(r == run()) // bit-identical re-run (scores included)
  }

  test("persisted pq index serves identically to the inline ADC " +
      "pipeline and never rescans embeddings") {
    val emb = Seq(
      (0L, Array(1.0f, 0.9f, 0.0f, 0.1f), 0),
      (1L, Array(0.9f, 1.0f, 0.1f, 0.0f), 0),
      (2L, Array(1.0f, 1.0f, 0.0f, 0.0f), 0),
      (3L, Array(0.0f, 0.1f, 1.0f, 0.9f), 1),
      (4L, Array(0.1f, 0.0f, 0.9f, 1.0f), 1),
      (5L, Array(0.0f, 0.0f, 1.0f, 1.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val dir = java.nio.file.Files.createTempDirectory("pqidx").toString
    Similarity.writePqIndex(emb, dir, dims = 4, m = 2)
    val queries = Seq(
      0L -> Seq(1.0f, 0.9f, 0.0f, 0.1f),
      3L -> Seq(0.0f, 0.1f, 1.0f, 0.9f))
    val served = Similarity.pqTopKFromIndex(spark, dir, queries, k = 5)
    // stored-index serve == inline pipeline (codebook, codes, and the
    // driver-built LUT all reproduce the distributed integers exactly)
    val inline = Similarity.pqTopKBatch(emb, Seq(0L, 3L), k = 5,
      dims = 4, m = 2)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .orderBy(col("query_id"), col("adc_mu2").desc, col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq
    assert(rows(served) == rows(inline))
    // serving reads the m-codes-per-vector rows ONLY: one FileScan, of
    // the index's listed code files — raw embeddings never touched at
    // serve time
    val p = served.queryExecution.executedPlan.toString
    val scans = p.linesIterator.filter(_.contains("FileScan")).toSeq
    assert(scans.length == 1 && scans.head.contains("/cells/"),
      s"serve plan must scan codes only:\n$p")
    assert(scanned(served) == cellFiles(dir, Set(0)))
    // rebuild is bit-reproducible
    Similarity.writePqIndex(emb, dir, dims = 4, m = 2)
    assert(rows(Similarity.pqTopKFromIndex(spark, dir, queries, k = 5))
      == rows(inline))
    // incremental append: an index built on half the corpus and
    // appended with the rest serves the same ADC scores for the
    // appended vectors as the full-build index gives them (encoding
    // is a pure function of codebook + vector; the codebook itself
    // differs, so compare against a same-codebook rebuild)
    val dir3 = java.nio.file.Files.createTempDirectory("pqapp").toString
    Similarity.writePqIndex(emb.where(col("vec_id") < 3), dir3,
      dims = 4, m = 2)
    Similarity.appendToPqIndex(emb.where(col("vec_id") >= 3), dir3)
    val codes3 = indexRows(dir3)
      .orderBy("_vid", "_sub").collect().map(_.toString).toSeq
    // rebuild the codes with the SAME stored codebook via a second
    // append into a fresh index holding only that codebook
    val dir4 = emptyTwin(dir3, "pqapp2")
    Similarity.appendToPqIndex(emb, dir4)
    assert(indexRows(dir4)
      .orderBy("_vid", "_sub").collect().map(_.toString).toSeq
      == codes3, "append must encode exactly as a same-codebook build")
  }

  test("plain pq lifecycle: compaction heals overlapping appends back to " +
      "the exact pre-duplicate serve, retrain rebuilds bit-for-bit " +
      "in one commit, and the native integral-cell encode " +
      "matches the generic join face code-for-code") {
    val emb = Seq(
      (0L, Array(1.0f, 0.9f, 0.0f, 0.1f), 0),
      (1L, Array(0.9f, 1.0f, 0.1f, 0.0f), 0),
      (2L, Array(1.0f, 1.0f, 0.0f, 0.0f), 0),
      (3L, Array(0.0f, 0.1f, 1.0f, 0.9f), 1),
      (4L, Array(0.1f, 0.0f, 0.9f, 1.0f), 1),
      (5L, Array(0.0f, 0.0f, 1.0f, 1.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val queries = Seq(
      900L -> Seq(1.0f, 0.9f, 0.0f, 0.1f),
      901L -> Seq(0.0f, 0.1f, 1.0f, 0.9f))
    def serve(d: String): Seq[(Long, Long, Long)] =
      Similarity.pqTopKFromIndex(spark, d, queries, k = 4)
        .orderBy(col("query_id"), col("adc_mu2").desc, col("vec_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSeq
    def codeRows(d: String): Seq[String] =
      indexRows(d)
        .select(col("_vid"), col("_sub").cast("int"),
          col("_cell").cast("long"))
        .collect().map(_.toString).sorted.toSeq
    val dir = java.nio.file.Files.createTempDirectory("pqlife").toString
    Similarity.writePqIndex(emb, dir, dims = 4, m = 2)
    val before = serve(dir)
    val codesBefore = codeRows(dir)
    // an overlapping batch: vectors 4 and 5 commit a second time —
    // duplicate (_vid, _sub) rows double those vectors' ADC sums
    Similarity.appendToPqIndex(emb.where(col("vec_id") >= 4), dir)
    assert(codeRows(dir).size == codesBefore.size + 4,
      "the overlap must have duplicated code rows")
    // replaying that committed append is a no-op
    Similarity.appendToPqIndex(emb.where(col("vec_id") >= 4), dir)
    assert(codeRows(dir).size == codesBefore.size + 4,
      "a replayed append must add nothing")
    assert(serve(dir) != before,
      "duplicated code rows must shift the ADC scores — if they " +
        "don't, this spec guards nothing")
    Similarity.compactPqCodes(spark, dir)
    assert(codeRows(dir) == codesBefore,
      "compaction must restore the exact rows")
    assert(serve(dir) == before,
      "healed serve must equal pre-duplicate")
    // idempotent on a clean index; a missing index fails LOUDLY (a
    // silent no-op would report a 'successful' compaction of a typo'd
    // path)
    Similarity.compactPqCodes(spark, dir)
    assert(codeRows(dir) == codesBefore && serve(dir) == before,
      "compaction must be a no-op when clean")
    val eNoCodes = intercept[IllegalArgumentException] {
      Similarity.compactPqCodes(spark, s"$dir/definitely-missing")
    }
    assert(eNoCodes.getMessage.contains("no index"))
    // retrain == a fresh writePqIndex over the same rows, bit for bit;
    // geometry (dims, m) carries over from the STORED codebook, and
    // the trailing-slash dir pins the path normalization
    Similarity.retrainPqIndex(emb, dir + "/")
    val fresh = java.nio.file.Files.createTempDirectory("pqfresh")
      .toString
    Similarity.writePqIndex(emb, fresh, dims = 4, m = 2)
    def cbRows(d: String) = Similarity.indexCodebook(spark, d)
      .collect().map(_.toString).sorted.toSeq
    assert(cbRows(dir) == cbRows(fresh),
      "retrain codebook diverged from fresh build")
    assert(codeRows(dir) == codeRows(fresh),
      "retrain codes diverged from fresh build")
    assert(serve(dir) == serve(fresh),
      "retrain serve diverged from fresh build")
    val eNoIdx = intercept[IllegalArgumentException] {
      Similarity.retrainPqIndex(emb, s"$dir/definitely-missing")
    }
    assert(eNoIdx.getMessage.contains("no index"))
    // cross-face pin: numeric-STRING labels route the generic join
    // face; its codes must match the native integral face value for
    // value (ascending present-ids make the compiled first-minimum
    // equal min(struct)'s lower-cell tie)
    val dirS = java.nio.file.Files.createTempDirectory("pqstr").toString
    Similarity.writePqIndex(
      emb.withColumn("label", col("label").cast("string")), dirS,
      dims = 4, m = 2)
    assert(Similarity.indexCodebook(spark, dirS).schema("_cell")
      .dataType.typeName == "string",
      "string labels must persist a string-cell codebook (join face)")
    assert(codeRows(dirS) == codeRows(dir),
      "join-face (string cells) and native-face (int cells) codes " +
        "must be value-identical")
    assert(serve(dirS) == serve(dir),
      "join-face serve diverged from native-face serve")
  }

  test("composed ivf-pq index: stored serve equals inline " +
      "probe-then-ADC at every nprobe, scans only probed cell " +
      "partitions of the codes table") {
    val emb = Seq(
      (0L, Array(1.0f, 0.9f, 0.0f, 0.1f)),
      (1L, Array(0.9f, 1.0f, 0.1f, 0.0f)),
      (2L, Array(1.0f, 1.0f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 0.1f, 1.0f, 0.9f)),
      (4L, Array(0.1f, 0.0f, 0.9f, 1.0f)),
      (5L, Array(0.0f, 0.0f, 1.0f, 1.0f)),
      (6L, Array(0.5f, 0.5f, 0.5f, 0.5f)),
      (7L, Array(0.4f, 0.6f, 0.5f, 0.5f))
    ).toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivfpq").toString
    val kCells = 3
    Similarity.writeIvfPqIndex(emb, dir, kCells = kCells, dims = 4,
      m = 2, iters = 3)
    val queries = Seq(
      0L -> Seq(1.0f, 0.9f, 0.0f, 0.1f),
      3L -> Seq(0.0f, 0.1f, 1.0f, 0.9f))
    val cents = Similarity.readIvfCentroids(spark, dir)
    def probes(vec: Seq[Float], nprobe: Int): Seq[Int] =
      probesOf(cents, vec, nprobe)
    // vector -> coarse cell, from the stored codes
    val cellOf = indexRows(dir)
      .select(col("_vid"), col("cell").cast("int")).distinct()
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // RAW encode driver oracle (the residual test's discipline): every
    // stored code is the argmin integer-L2 PRESENT-cell sub-centroid
    // of the vector's µ subvector, ties to the lower cell id — pins
    // the native map-only encode against first principles, not just
    // self-consistency
    locally {
      def mu(x: Float): Long = math.floor(x.toDouble * 1000000.0).toLong
      val cbRows = Similarity.indexCodebook(spark, dir)
        .select(col("_i").cast("int"), col("_cell").cast("long"),
          col("_sub").cast("int"), col("_cmu").cast("long"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2),
          r.getLong(3)))
      val bySub = cbRows.groupBy(_._3).map { case (s, rs) =>
        s -> rs.groupBy(_._2).toSeq.sortBy(_._1).map { case (cid, cs) =>
          cid -> cs.sortBy(_._1).map(_._4) } }
      val stored = indexRows(dir)
        .select(col("_vid"), col("_sub").cast("int"),
          col("_cell").cast("long"))
        .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2))
        .toMap
      val vecs = emb.collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
      for ((vid, v) <- vecs; s <- 0 until 2) {
        val muv = (0 until 2).map(p => mu(v(s * 2 + p)))
        val best = bySub(s).map { case (cid, c) =>
          (cid, muv.zip(c).map { case (a, b) =>
            (a - b) * (a - b) }.sum) }
          .minBy { case (cid, d2) => (d2, cid) }._1
        assert(stored((vid, s)) == best,
          s"raw code vid=$vid sub=$s: stored ${stored((vid, s))} " +
            s"vs argmin $best")
      }
    }
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .orderBy(col("query_id"), col("adc_mu2").desc, col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq
    // inline reference: full-index ADC ranking (the PQ face over the
    // same stored codebook), restricted per query to ITS probed
    // cells, re-ranked, top-k
    val fullAdc = rows(Similarity.pqTopKFromIndex(spark, dir, queries,
      k = emb.count().toInt))
    for (nprobe <- 1 to kCells) {
      val served = Similarity.ivfPqTopKFromIndex(spark, dir, queries,
        k = 3, nprobe = nprobe)
      val expected = queries.flatMap { case (qid, vec) =>
        val p = probes(vec, nprobe).toSet
        fullAdc.filter { case (q, vid, _) =>
          q == qid && p.contains(cellOf(vid)) }
          .sortBy { case (_, vid, mu) => (-mu, vid) }.take(3)
      }.sortBy { case (q, vid, mu) => (q, -mu, vid) }
      assert(rows(served) == expected, s"nprobe=$nprobe")
      // plan gate: ONE FileScan, of codes, reading exactly the listed
      // files of the probed cells — unprobed cells never opened, raw
      // embeddings never read
      val p = served.queryExecution.executedPlan.toString
      val scans = p.linesIterator.filter(_.contains("FileScan")).toSeq
      assert(scans.length == 1 && scans.head.contains("/cells/"),
        s"nprobe=$nprobe serve plan:\n$p")
      assert(scanned(served) == cellFiles(dir,
        queries.flatMap(q => probes(q._2, nprobe)).toSet),
        s"nprobe=$nprobe plan:\n$p")
    }
    // rebuild is bit-reproducible (no RNG anywhere in the pipeline)
    Similarity.writeIvfPqIndex(emb, dir, kCells = kCells, dims = 4,
      m = 2, iters = 3)
    val again = rows(Similarity.ivfPqTopKFromIndex(spark, dir, queries,
      k = 3, nprobe = 2))
    assert(again == rows(Similarity.ivfPqTopKFromIndex(spark, dir,
      queries, k = 3, nprobe = 2)))
  }

  test("residual ivf-pq (IVFADC): stored codes are the argmin residual " +
      "quantization, serve matches a driver-side exact integer oracle " +
      "at every nprobe, and residual coding beats raw coding's " +
      "quantization error on a clustered corpus") {
    def mu(x: Float): Long = math.floor(x.toDouble * 1000000.0).toLong
    def muD(x: Double): Long = math.floor(x * 1000000.0).toLong
    // 3 clusters with within-cluster structure the residual codes can
    // exploit; 4 dims, m=2 subspaces
    val rnd = new scala.util.Random(13)
    val centers = Seq(
      Array(1.0f, 0.8f, 0.0f, 0.1f),
      Array(0.0f, 0.1f, 1.0f, 0.8f),
      Array(0.5f, 0.5f, 0.5f, 0.5f))
    val emb = (0 until 30).map { i =>
      val c = centers(i % 3)
      (i.toLong, c.map(x => x + (rnd.nextInt(5) - 2) * 0.03f))
    }.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivfpqr").toString
    Similarity.writeIvfPqIndex(emb, dir, kCells = 3, dims = 4, m = 2,
      iters = 3, residual = true, kSub = 3)
    // the stored quantizer, codebook and codes
    val cents = Similarity.readIvfCentroids(spark, dir)
    val cbRows = Similarity.indexCodebook(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2),
        r.getLong(3)))
    val codes = indexRows(dir)
      .select(col("_vid"), col("_sub"), col("_cell"),
        col("cell").cast("int"))
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getLong(2), r.getInt(3))).toMap
    val vecs = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    // encode correctness: every stored code is the argmin integer-L2
    // sub-centroid of the vector's µ-residual (ties to the lower id)
    val cbBySub = cbRows.groupBy(_._3).map { case (s, rs) =>
      s -> rs.groupBy(_._2).map { case (code, cs) =>
        code -> cs.sortBy(_._1).map(_._4) }.toMap }
    for ((vid, v) <- vecs; s <- 0 until 2) {
      val (code, cell) = codes((vid, s))
      val rv = (0 until 2).map(p =>
        mu(v(s * 2 + p)) - muD(cents(cell)(s * 2 + p)))
      val dists = cbBySub(s).toSeq.sortBy(_._1).map { case (j, c) =>
        (j, rv.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum) }
      val best = dists.minBy { case (j, d) => (d, j) }._1
      assert(code == best, s"vid $vid sub $s: stored $code vs $best")
    }
    // serve == driver-side exact integer oracle at every nprobe
    val queries = Seq(0L -> vecs(0L).toSeq, 1L -> vecs(1L).toSeq,
      900L -> Seq(0.9f, 0.9f, 0.1f, 0.0f))
    def probes(vec: Seq[Float], nprobe: Int): Seq[Int] =
      probesOf(cents, vec, nprobe)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .orderBy(col("query_id"), col("adc_mu2").desc, col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq
    for (nprobe <- 1 to 3) {
      val served = Similarity.ivfPqTopKFromIndex(spark, dir, queries,
        k = 4, nprobe = nprobe)
      val expected = queries.flatMap { case (qid, qv) =>
        val p = probes(qv, nprobe).toSet
        val qmu = qv.map(mu)
        vecs.keys.filter(vid => vid != qid
            && p.contains(codes((vid, 0))._2)).map { vid =>
          val cell = codes((vid, 0))._2
          val qc = cents(cell).zip(qmu)
            .map { case (c, qm) => muD(c) * qm }.sum
          val adc = qc + (0 until 2).map { s =>
            val code = codes((vid, s))._1
            cbBySub(s)(code).zipWithIndex.map { case (cmu, p2) =>
              qmu(s * 2 + p2) * cmu }.sum
          }.sum
          (qid, vid, adc)
        }.toSeq.sortBy { case (_, vid, adc) => (-adc, vid) }.take(4)
      }.sortBy { case (q, vid, adc) => (q, -adc, vid) }
      assert(rows(served) == expected, s"nprobe=$nprobe")
      val plan = served.queryExecution.executedPlan.toString
      val scans = plan.linesIterator.filter(_.contains("FileScan")).toSeq
      assert(scans.length == 1 && scans.head.contains("/cells/"), plan)
      assert(scanned(served) == cellFiles(dir,
        queries.flatMap(q => probes(q._2, nprobe)).toSet), plan)
    }
    // same code budget, raw vs residual: residual reconstruction must
    // land closer on a clustered corpus (the IVFADC point)
    val dirRaw = java.nio.file.Files.createTempDirectory("ivfpqw")
      .toString
    Similarity.writeIvfPqIndex(emb, dirRaw, kCells = 3, dims = 4,
      m = 2, iters = 3) // raw: codebook = per-coarse-cell means
    val rawCb = Similarity.indexCodebook(spark, dirRaw)
      .select(col("_i").cast("int"), col("_cell").cast("long"),
        col("_cmu").cast("long"))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    val rawCodes = indexRows(dirRaw)
      .select(col("_vid"), col("_sub").cast("int"),
        col("_cell").cast("long"))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2))
      .toMap
    def sq(x: Long) = x * x
    val errResidual = vecs.map { case (vid, v) =>
      (0 until 4).map { i =>
        val s = i / 2
        val (code, cell) = codes((vid, s))
        val recon = muD(cents(cell)(i)) + cbBySub(s)(code)(i % 2)
        sq(recon - mu(v(i)))
      }.sum
    }.sum
    val errRaw = vecs.map { case (vid, v) =>
      (0 until 4).map { i =>
        val code = rawCodes((vid, i / 2))
        sq(rawCb((i, code)) - mu(v(i)))
      }.sum
    }.sum
    assert(errResidual < errRaw,
      s"residual err $errResidual !< raw err $errRaw")
    // rebuild is bit-reproducible (deterministic k-means init + exact
    // integer means)
    Similarity.writeIvfPqIndex(emb, dir, kCells = 3, dims = 4, m = 2,
      iters = 3, residual = true, kSub = 3)
    val again = indexRows(dir)
      .select(col("_vid"), col("_sub"), col("_cell"))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2))
      .toMap
    assert(again == codes.map { case (k2, v) => k2 -> v._1 })
  }

  test("ivf-pq append encodes exactly as a same-table rebuild and " +
      "keeps the pruned serve, both encodings") {
    val emb = Seq(
      (0L, Array(1.0f, 0.9f, 0.0f, 0.1f)),
      (1L, Array(0.9f, 1.0f, 0.1f, 0.0f)),
      (2L, Array(1.0f, 1.0f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 0.1f, 1.0f, 0.9f)),
      (4L, Array(0.1f, 0.0f, 0.9f, 1.0f)),
      (5L, Array(0.0f, 0.0f, 1.0f, 1.0f)),
      (6L, Array(0.5f, 0.5f, 0.5f, 0.5f)),
      (7L, Array(0.4f, 0.6f, 0.5f, 0.5f))
    ).toDF("vec_id", "embedding")
    for (residual <- Seq(false, true)) {
      val dirA = java.nio.file.Files
        .createTempDirectory(s"ivfpqa$residual").toString
      Similarity.writeIvfPqIndex(emb.where(col("vec_id") < 4), dirA,
        kCells = 2, dims = 4, m = 2, iters = 2, residual = residual,
        kSub = 2)
      Similarity.appendToIvfPqIndex(emb.where(col("vec_id") >= 4), dirA)
      // rebuild face: the SAME stored header (quantizer, codebook,
      // residual flag) in a fresh index, every vector appended —
      // encoding is a pure function of (stored header, vector), so the
      // code rows must be identical
      val dirB = emptyTwin(dirA, s"ivfpqb$residual")
      Similarity.appendToIvfPqIndex(emb, dirB)
      def codeRows(d: String) = indexRows(d)
        .select(col("_vid"), col("_sub").cast("int"),
          col("_cell").cast("long"), col("cell").cast("int"))
        .collect().map(_.toString).sorted.toSeq
      assert(codeRows(dirA) == codeRows(dirB),
        s"residual=$residual: append diverged from rebuild")
      // the appended index still serves from the probed cell's listed
      // files only (k may exceed the one probed cell's population —
      // that's the nprobe recall knob, not an error)
      val qv = Seq(1.0f, 0.9f, 0.0f, 0.1f)
      val served = Similarity.ivfPqTopKFromIndex(spark, dirA,
        Seq(900L -> qv), k = 3, nprobe = 1)
      assert(served.count() >= 2, s"residual=$residual")
      assert(scanned(served) == cellFiles(dirA, probesOf(
        Similarity.readIvfCentroids(spark, dirA), qv, 1).toSet),
        s"residual=$residual")
      // wrong-dims vectors FAIL the append loudly (per-row guard) —
      // they must never silently encode as null/truncated codes
      val bad = Seq((99L, Array(1.0f, 2.0f))).toDF("vec_id", "embedding")
      val e = intercept[Exception] {
        Similarity.appendToIvfPqIndex(bad, dirA)
      }
      def rootMsg(t: Throwable): String =
        (Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
          .map(x => Option(x.getMessage).getOrElse(""))
          .mkString(" | "))
      assert(rootMsg(e).contains("dims"),
        s"residual=$residual: ${rootMsg(e)}")
    }
  }

  test("ivf-pq lifecycle: codes compaction heals overlapping appends " +
      "back to the exact pre-duplicate serve at every nprobe, and " +
      "retrain rebuilds bit-for-bit in one commit — both encodings") {
    val emb = Seq(
      (0L, Array(1.0f, 0.9f, 0.0f, 0.1f)),
      (1L, Array(0.9f, 1.0f, 0.1f, 0.0f)),
      (2L, Array(1.0f, 1.0f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 0.1f, 1.0f, 0.9f)),
      (4L, Array(0.1f, 0.0f, 0.9f, 1.0f)),
      (5L, Array(0.0f, 0.0f, 1.0f, 1.0f)),
      (6L, Array(0.5f, 0.5f, 0.5f, 0.5f)),
      (7L, Array(0.4f, 0.6f, 0.5f, 0.5f))
    ).toDF("vec_id", "embedding")
    val queries = Seq(
      900L -> Seq(1.0f, 0.9f, 0.0f, 0.1f),
      901L -> Seq(0.0f, 0.1f, 1.0f, 0.9f))
    def serveAll(d: String): Seq[Seq[(Long, Long, Long)]] =
      (1 to 2).map(np =>
        Similarity.ivfPqTopKFromIndex(spark, d, queries, k = 4,
            nprobe = np)
          .orderBy(col("query_id"), col("adc_mu2").desc, col("vec_id"))
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq)
    def codeRows(d: String): Seq[String] =
      indexRows(d)
        .select(col("_vid"), col("_sub").cast("int"),
          col("_cell").cast("long"), col("cell").cast("int"))
        .collect().map(_.toString).sorted.toSeq
    for (residual <- Seq(false, true)) {
      val dir = java.nio.file.Files
        .createTempDirectory(s"ivfpql$residual").toString
      Similarity.writeIvfPqIndex(emb, dir, kCells = 2, dims = 4, m = 2,
        iters = 2, residual = residual, kSub = 2)
      val before = serveAll(dir)
      val codesBefore = codeRows(dir)
      // an overlapping batch: vectors 4 to 7 commit a second time —
      // duplicate code rows double the duplicated vectors' ADC sums
      Similarity.appendToIvfPqIndex(emb.where(col("vec_id") >= 4), dir)
      assert(codeRows(dir).size == codesBefore.size + 8,
        s"residual=$residual: the overlap must have duplicated code rows")
      Similarity.compactIvfPqCodes(spark, dir)
      assert(codeRows(dir) == codesBefore,
        s"residual=$residual: compaction must restore the exact rows")
      assert(serveAll(dir) == before,
        s"residual=$residual: healed serve must equal pre-duplicate")
      // compaction is idempotent on a clean index
      Similarity.compactIvfPqCodes(spark, dir)
      assert(codeRows(dir) == codesBefore && serveAll(dir) == before,
        s"residual=$residual: compaction must be a no-op when clean")
      // a missing index fails LOUDLY — a silent no-op would report a
      // 'successful' compaction of a typo'd path
      val eNoCodes = intercept[IllegalArgumentException] {
        Similarity.compactIvfPqCodes(spark, s"$dir/definitely-missing")
      }
      assert(eNoCodes.getMessage.contains("no index"))
      val eNoVecs = intercept[IllegalArgumentException] {
        Similarity.compactIvfVectors(spark, s"$dir/definitely-missing")
      }
      assert(eNoVecs.getMessage.contains("no index"))
      // retrain (new kCells) == a fresh writeIvfPqIndex over the same
      // rows: the whole header (quantizer, codebook, residual flag,
      // schema) and the codes bit-for-bit; encoding params carry over
      // from the stored index, never from the caller. The dir rides
      // with a TRAILING SLASH, which the paths must normalize
      Similarity.retrainIvfPqIndex(emb, dir + "/", kCells = 3,
        iters = 2)
      val fresh = java.nio.file.Files
        .createTempDirectory(s"ivfpqf$residual").toString
      Similarity.writeIvfPqIndex(emb, fresh, kCells = 3, dims = 4,
        m = 2, iters = 2, residual = residual, kSub = 2)
      assert(indexLog(dir).latest.get.header ==
        indexLog(fresh).latest.get.header,
        s"residual=$residual: retrain header diverged from fresh build")
      assert(codeRows(dir) == codeRows(fresh),
        s"residual=$residual: retrain codes diverged from fresh build")
      assert(serveAll(dir) == serveAll(fresh),
        s"residual=$residual: retrain serve diverged from fresh build")
    }
  }

  test("residual ivf-pq build runs window-free: the codebook init is " +
      "a sorted-limit seed probe, never a row_number over the " +
      "exploded subvector corpus") {
    // a Window.partitionBy(_sub) has only m distinct keys — every
    // subvector row of each subspace would funnel through ONE reducer
    // just to pick kSub seeds. Gate the whole build's executed plans.
    val plans = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val emb = Seq(
        (0L, Array(1.0f, 0.9f, 0.0f, 0.1f)),
        (1L, Array(0.9f, 1.0f, 0.1f, 0.0f)),
        (2L, Array(0.0f, 0.1f, 1.0f, 0.9f)),
        (3L, Array(0.1f, 0.0f, 0.9f, 1.0f))
      ).toDF("vec_id", "embedding")
      val dir = java.nio.file.Files.createTempDirectory("ivfpqwf")
        .toString
      Similarity.writeIvfPqIndex(emb, dir, kCells = 2, dims = 4, m = 2,
        iters = 2, residual = true, kSub = 2)
      // fence: listener delivery is async but FIFO — once the marker
      // query's plan arrives, every build plan has been delivered
      spark.range(0L, 424243L).agg(count(lit(1))).collect()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      def snapshot() = {
        import scala.jdk.CollectionConverters._
        plans.synchronized { plans.asScala.toList }
      }
      while (!snapshot().exists(_.contains("424243"))
          && System.nanoTime() < deadline) Thread.sleep(50)
      val seen = snapshot()
      assert(seen.exists(_.contains("424243")), "listener fence timed out")
      val windowed = seen.filter(p =>
        p.contains("Window") && !p.contains("424243"))
      assert(windowed.isEmpty,
        s"residual build executed a Window:\n${windowed.mkString("\n---\n")}")
    } finally spark.listenerManager.unregister(listener)
  }

  test("line dedup: boilerplate df rule and global keep-first over " +
      "real multi-line docs — trimmed keys, original bytes, empty " +
      "lines survive") {
    val docs = Seq(
      (1L, "breaking news\nshare this article\n\nweather today"),
      (2L, "share this article\nsports recap"),
      // tab-indented + CRLF copy: the key strips WHITESPACE, not just
      // spaces — a space-only trim would let this furniture survive
      (3L, "\tshare this article\r\nlocal notes\nshare this article"),
      (4L, ""),
      (5L, "x\nx")).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3))).toSeq
    // df rule: "share this article" (whitespace-stripped — doc 3's
    // tab/CR-padded copy counts) sits in 3 distinct docs >
    // maxDocFreq 2 → every occurrence dropped; "x" repeats only
    // WITHIN doc 5 (df 1) → kept
    val boiler = rows(Dedup.removeBoilerplateLines(docs, maxDocFreq = 2))
    assert(boiler == Seq(
      (1L, "breaking news\n\nweather today", 3L, 1L),
      (2L, "sports recap", 1L, 1L),
      (3L, "local notes", 1L, 2L),
      (4L, "", 1L, 0L),
      (5L, "x\nx", 2L, 0L)))
    // global keep-first: one occurrence per distinct trimmed value
    // corpus-wide — (1,1) wins "share this article"; doc 5's second
    // "x" (a WITHIN-doc dup) also drops; empties always survive
    val first = rows(Dedup.dedupLinesGlobal(docs))
    assert(first == Seq(
      (1L, "breaking news\nshare this article\n\nweather today",
        4L, 0L),
      (2L, "sports recap", 1L, 1L),
      (3L, "local notes", 1L, 2L),
      (4L, "", 1L, 0L),
      (5L, "x", 1L, 1L)))
  }

  test("minhash lsh candidates include exact and near dups") {
    val pairs = Dedup.minhashLshCandidates(docs, k = 3, numHashes = 8,
      bands = 4).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 3L))) // identical signatures always collide
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("shingle df-cap bounds the pair blowup from a hot shingle") {
    // 12 docs all sharing one boilerplate line (one hot shingle each),
    // plus two genuine near-dups. Uncapped, the boilerplate alone
    // yields 12*11/2 = 66 joined pairs; capped at df<=4 the hot
    // shingle is dropped and only the genuine near-dup pair survives.
    val boiler = (0L until 12L).map(i =>
      (i, s"common header line x$i y$i z$i"))
    val dups = Seq(
      (100L, "alpha beta gamma delta epsilon zeta"),
      (101L, "alpha beta gamma delta epsilon eta"))
    val corpus = (boiler ++ dups).toDF("doc_id", "text")
    val cappedRows = Dedup.jaccardPairs(corpus, k = 3, threshold = 0.1,
      maxDf = 4).collect()
    val capped = cappedRows.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((100L, 101L)))
    // post-cap SIZES: both intersections and denominators are over the
    // capped universe (4 shingles each, 3 shared -> 3/5), pinning that
    // the capped-pin path carries post-cap set sizes, not raw ones
    assert(cappedRows.head.getAs[Double]("jaccard") == 0.6)
    // cross-corpus capping flows through the same capped pin: split
    // the same corpus and the boundary-crossing near-dup pair (and
    // nothing from the boilerplate herd) survives with the same value
    val cross = Dedup.crossCorpusPairs(
      corpus.where(col("doc_id") % 2 === 1),
      corpus.where(col("doc_id") % 2 === 0),
      k = 3, threshold = 0.1, maxDf = 4).collect()
    assert(cross.map(r => (r.getLong(0), r.getLong(1))).toSet
      == Set((101L, 100L)))
    assert(cross.head.getAs[Double]("jaccard") == 0.6)
    // uncapped the hot shingle alone materializes all 66 boilerplate
    // pairs (each at jaccard 1/7) — the cap is what removed them
    val uncapped = Dedup.jaccardPairs(corpus, k = 3, threshold = 0.1)
      .collect().length
    assert(uncapped >= 66)
    // same cap on the LSH path
    val lsh = Dedup.minhashLshCandidates(corpus, k = 3, numHashes = 8,
      bands = 4, maxDf = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == Set((100L, 101L)))
  }

  test("lsh bucket cap bounds pair blowup without touching signatures") {
    // 12 identical docs share every band bucket (12*11/2 = 66 pairs
    // per band before distinct); 2 near-dups collide in at least one
    // band on their own. Capping bucket size drops the hot buckets
    // wholesale while the small bucket survives.
    val herd = (0L until 12L).map(i =>
      (i, "identical boilerplate document body here"))
    val dups = Seq(
      (100L, "alpha beta gamma delta epsilon zeta"),
      (101L, "alpha beta gamma delta epsilon zeta"))
    val corpus = (herd ++ dups).toDF("doc_id", "text")
    val uncapped = Dedup.minhashLshCandidates(corpus, k = 3,
      numHashes = 8, bands = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.size == 66 + 1) // full herd clique + the dup pair
    val capped = Dedup.minhashLshCandidates(corpus, k = 3,
      numHashes = 8, bands = 4, maxBucket = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((100L, 101L)))
  }

  test("clustering converges past 20-round diameters (chain of 30)") {
    // a path graph 0-1-2-...-29: min-label needs to travel diameter 29;
    // the old fixed 20-round cap silently returned wrong labels here.
    val n = 30
    val ids = (0L until n.toLong).toDF("doc_id")
    val pairs = (0L until (n - 1).toLong).map(i => (i, i + 1))
      .toDF("id_a", "id_b")
    val got = Dedup.clusters(ids, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == n && got.values.forall(_ == 0L))
  }

  test("clustering round count: 2 on cliques, ~log2(diameter) on paths") {
    // the BSP loop's bench cost is fixed per-round job overhead, so a
    // regression that breaks the pointer-jump halving reads as quiet
    // wall-clock variance; pin the round count instead. A clique (the
    // near-dup common case: every node adjacent to the min) reaches
    // the fixpoint in round 1; round 2 is the confirming round, which
    // runs the cheap JUMP-ONLY plan because round 1's contraction
    // emptied the quotient graph (round 12).
    val cliqueIds = (0L until 8L).toDF("doc_id")
    val cliquePairs = (for {
      a <- 0L until 8L; b <- (a + 1) until 8L
    } yield (a, b)).toDF("id_a", "id_b")
    val (cdf, ch, cRounds) = Dedup.clustersCounted(cliqueIds, cliquePairs,
      localMaxEdges = 0)
    val cLabels = cdf.collect().map(r => r.getLong(0) -> r.getLong(1))
    ch.release()
    assert(cLabels.forall(_._2 == 0L), "clique collapses to min id 0")
    assert(cRounds == 2, s"clique must converge in 2 rounds: $cRounds")
    val n = 30
    val pathIds = (0L until n.toLong).toDF("doc_id")
    val pathPairs = (0L until (n - 1).toLong).map(i => (i, i + 1))
      .toDF("id_a", "id_b")
    val (pdf, ph, pRounds) = Dedup.clustersCounted(pathIds, pathPairs,
      localMaxEdges = 0)
    val labels = pdf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    ph.release()
    assert(labels.values.forall(_ == 0L))
    assert(pRounds <= 8, s"pointer jumping must halve depth: $pRounds")
    // the case the jump ALONE cannot halve: a path whose ids are
    // scrambled relative to the topology (the semantic near-dup graph
    // shape — labels don't align with structure, so label(label(n))
    // stops short-cutting). Edge contraction keeps it logarithmic: the
    // pre-contraction loop measured Θ(diameter) here.
    // fixed seed: a failure must replay deterministically across runs
    val perm = new scala.util.Random(42)
      .shuffle((0L until n.toLong).toList)
    val scrambledPairs = (0 until n - 1)
      .map(i => (perm(i), perm(i + 1))).toDF("id_a", "id_b")
    val (sdf, sh, sRounds) = Dedup.clustersCounted(pathIds, scrambledPairs,
      localMaxEdges = 0)
    val sLabels = sdf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    sh.release()
    assert(sLabels.values.forall(_ == 0L), "one component, min label 0")
    assert(sRounds <= 9,
      s"contraction must keep scrambled-id paths logarithmic: $sRounds")
  }

  test("soft-dedup weights: floor'd ppm of the cluster size, every doc kept") {
    val ids = Seq(0L, 1L, 2L, 3L, 4L, 5L).toDF("doc_id")
    val pairs = Seq((0L, 1L), (1L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val frame = Dedup.softDedupWeights(ids, pairs)
    // plan gate: the per-cluster count is a groupBy + join, never a
    // window over the cluster label — a viral mega-cluster is this
    // operator's hot key by construction, and a window would funnel
    // all its rows through ONE task's sort with no AQE skew handling
    val plan = frame.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"softDedupWeights must not window over the cluster label:\n$plan")
    val got = frame.collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("cluster"), r.getAs[Long]("n_dups"),
          r.getAs[Long]("weight_ppm"))).toMap
    assert(got.size == 6, "soft dedup drops nothing")
    // component {0,1,3}: n=3, floor(1e6/3)=333333; singleton {2}:
    // full weight; pair {4,5}: half weight
    assert(got(0L) == (0L, 3L, 333333L))
    assert(got(1L) == (0L, 3L, 333333L))
    assert(got(3L) == (0L, 3L, 333333L))
    assert(got(2L) == (2L, 1L, 1000000L))
    assert(got(4L) == (4L, 2L, 500000L))
    assert(got(5L) == (4L, 2L, 500000L))
  }

  test("corpus overlap: exact intersections and integer-ppm ratios per " +
      "group pair; disjoint pairs emit no row") {
    // k=1 shingles = distinct tokens: A={a,b,c,d}, B={c,d,e,f} share
    // {c,d}; C={x,y} is disjoint from both. Two docs per group prove
    // group-granular distinctness (duplicate tokens across docs
    // count once).
    val df = Seq(
      ("A", "a b c"), ("A", "b c d"),
      ("B", "c d e"), ("B", "d e f"),
      ("C", "x y")).toDF("source", "text")
      .withColumn("doc_id", monotonically_increasing_id())
    val rows = Dedup.corpusOverlap(df, k = 1).collect()
    assert(rows.length == 1, s"only A-B overlaps: ${rows.mkString(",")}")
    val r = rows.head
    assert(r.getAs[String]("group_a") == "A")
    assert(r.getAs[String]("group_b") == "B")
    assert(r.getAs[Long]("common") == 2L)        // {c, d}
    assert(r.getAs[Long]("union_size") == 6L)    // {a..f}
    assert(r.getAs[Long]("jaccard_ppm") == 333333L)  // floor(2e6/6)
    assert(r.getAs[Long]("cont_a_ppm") == 500000L)   // 2 of A's 4
    assert(r.getAs[Long]("cont_b_ppm") == 500000L)
  }

  test("sketch overlap: identical vocabularies match on every " +
      "component, disjoint ones emit nothing") {
    val df = Seq(
      ("A", "alpha beta gamma delta"), ("A", "beta gamma delta epsilon"),
      ("B", "alpha beta gamma delta"), ("B", "beta gamma delta epsilon"),
      ("C", "one two three four five")).toDF("source", "text")
      .withColumn("doc_id", monotonically_increasing_id())
    val rows = Dedup.corpusOverlapSketch(df, k = 2, numHashes = 16)
      .collect()
    // A and B carry the same shingle set -> every component ties;
    // C shares nothing with either -> below the 1/H resolution
    assert(rows.length == 1, rows.mkString(","))
    val r = rows.head
    assert(r.getAs[String]("group_a") == "A"
      && r.getAs[String]("group_b") == "B")
    assert(r.getAs[Long]("matches") == 16L)
    assert(r.getAs[Long]("est_jaccard_ppm") == 1000000L)
    // determinism: salted md5 minhash, no RNG
    val again = Dedup.corpusOverlapSketch(df, k = 2, numHashes = 16)
      .collect()
    assert(again.map(_.toString).sorted
      .sameElements(rows.map(_.toString).sorted))
  }

  test("leak-free split: near-duplicates never straddle splits") {
    // 5 exact-dup groups of 4 docs each; a doc-keyed split scatters
    // them (md5 of the id is uniform), a cluster-keyed split cannot
    val texts = Seq(
      "alpha beta gamma delta epsilon zeta", // distinct per group
      "one two three four five six seven",
      "red green blue yellow purple orange",
      "north south east west up down sideways",
      "spark catalyst tungsten codegen shuffle broadcast")
    val dup = (0 until 20).map(i => (i.toLong, texts(i % 5)))
      .toDF("doc_id", "text")
    val pairs = Dedup.jaccardPairs(dup, k = 3, threshold = 0.5)
    val labels = Dedup.clusters(dup.select("doc_id"), pairs)
    val split = Sampling.split(labels,
      Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1),
      idCol = "cluster")
    val byDoc = split.collect().map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[Long]("cluster"), r.getAs[String]("split"))).toMap
    assert(byDoc.size == 20, "every doc is assigned exactly one split")
    // every near-dup pair lands in the same split (the leak-free
    // property a doc-keyed split violates for some of these 30 pairs)
    val p = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(p.nonEmpty)
    p.foreach { case (a, b) =>
      assert(byDoc(a)._2 == byDoc(b)._2,
        s"near-dup pair ($a,$b) straddles splits: " +
          s"${byDoc(a)._2} vs ${byDoc(b)._2}")
    }
  }

  test("clustering: partitioned-join path matches the broadcast path") {
    // while the label table is provably small the loop broadcasts it
    // explicitly (pinned leaves carry no stats — without the hint every
    // round sort-merges); past `broadcastMaxIds` it keeps partitioned
    // joins for corpus-scale graphs. Same labels, same round count on
    // both paths — broadcast is a physical hint, never semantics.
    val n = 24
    val ids = (0L until n.toLong).toDF("doc_id")
    // fixed seed: a failure must replay deterministically across runs
    val perm = new scala.util.Random(42)
      .shuffle((0L until n.toLong).toList)
    val pairs = (0 until n - 1)
      .map(i => (perm(i), perm(i + 1))).toDF("id_a", "id_b")
    val (bdf, bh, bRounds) = Dedup.clustersCounted(ids, pairs,
      localMaxEdges = 0)
    val bLabels = bdf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    bh.release()
    val (pdf2, ph2, pRounds2) = Dedup.clustersCounted(ids, pairs,
      broadcastMaxIds = 0L, localMaxEdges = 0)
    val pLabels = pdf2.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    ph2.release()
    assert(pLabels == bLabels)
    assert(pRounds2 == bRounds,
      s"round count must not depend on the join strategy: " +
        s"$pRounds2 vs $bRounds")
  }

  test("local union-find path produces the BSP loop's exact labels") {
    // mixed topology under a seeded permutation: cliques, a long path,
    // a star, isolated nodes — the local path (driver union-find over
    // the fused bounded collect) must be label-for-label identical to
    // the distributed BSP loop, including 0 reported rounds
    val n = 200
    val perm = new scala.util.Random(13)
      .shuffle((0L until n.toLong).toList)
    val pairs = (
      (0 until 40).map(i => (perm(i), perm((i + 7) % 40))) ++ // tangle
      (40 until 99).map(i => (perm(i), perm(i + 1))) ++       // path
      (101 until 120).map(i => (perm(100), perm(i)))          // star
    ).toDF("id_a", "id_b")                                    // 120+ lone
    val ids = (0L until n.toLong).toDF("doc_id")
    val (ldf, lh, lRounds) = Dedup.clustersCounted(ids, pairs)
    val local = ldf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    lh.release()
    val (bdf, bh, bRounds) = Dedup.clustersCounted(ids, pairs,
      localMaxEdges = 0)
    val bsp = bdf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    bh.release()
    assert(lRounds == 0 && bRounds > 0)
    assert(local == bsp)
    // and past the bound the same call falls back to BSP
    val (fdf, fh, fRounds) = Dedup.clustersCounted(ids, pairs,
      localMaxEdges = 3)
    val fb = fdf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    fh.release()
    assert(fRounds > 0 && fb == bsp)
  }

  test("local path falls back to BSP when pairs reference unknown ids") {
    // pairs ⊆ ids×ids is the documented contract; outside it the BSP
    // loop's join semantics are the DEFINED (degenerate) behavior —
    // measured here: foreign endpoints surface as extra label rows
    // (0 -> 5, 7 -> 5) and the foreign min 0 never becomes an id's
    // label. Driver union-find would instead merge the whole
    // component under foreign 0, so the membership guard must reject
    // the fast path and keep BSP — the two calls below must agree
    // exactly, with the default call reporting BSP rounds, not 0.
    val ids = Seq(5L, 6L).toDF("doc_id")
    val pairs = Seq((0L, 5L), (7L, 5L), (7L, 6L)).toDF("id_a", "id_b")
    val (ldf, lh, lRounds) = Dedup.clustersCounted(ids, pairs)
    val viaGuard = ldf.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    lh.release()
    val (bdf, bh, _) = Dedup.clustersCounted(ids, pairs,
      localMaxEdges = 0)
    val bsp = bdf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    bh.release()
    assert(lRounds > 0, "membership guard must keep the BSP loop")
    assert(viaGuard == bsp)
    assert(viaGuard(5L) != 0L && viaGuard(6L) != 0L,
      s"a foreign endpoint must never become an id's label: $viaGuard")
  }

  test("local path string-id min matches Spark's UTF8 byte order") {
    // U+1F600 (emoji, UTF-16 surrogate pair starting D83D) vs U+E000
    // (private-use BMP char): java.lang.String.compareTo says the
    // emoji sorts FIRST (D83D < E000 as code units) while Spark's
    // min() on UTF8String bytes says U+E000 sorts first (EE.. < F0..,
    // code-point order). The local path must replicate Spark's order
    // or a driver-sized graph gets a different cluster label than the
    // BSP loop would emit.
    val emoji = new String(Character.toChars(0x1F600))
    val pua = "\uE000"
    assert(emoji.compareTo(pua) < 0) // the trap this test pins
    val ids = Seq(emoji, pua, "zz").toDF("doc_id")
    val pairs = Seq((emoji, pua)).toDF("id_a", "id_b")
    val (ldf, lh, lRounds) = Dedup.clustersCounted(ids, pairs)
    val local = ldf.collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    lh.release()
    val (bdf, bh, _) = Dedup.clustersCounted(ids, pairs,
      localMaxEdges = 0)
    val bsp = bdf.collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    bh.release()
    assert(lRounds == 0)
    assert(local(emoji) == pua && local(pua) == pua, s"got $local")
    assert(local == bsp)
  }

  test("clustering throws rather than returning unconverged labels") {
    val ids = (0L until 40L).toDF("doc_id")
    val pairs = (0L until 39L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException] {
      Dedup.clusters(ids, pairs, maxIters = 2, localMaxEdges = 0)
        .collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("near-dup clustering labels components with min id") {
    val ids = Seq(0L, 1L, 2L, 3L, 4L, 5L).toDF("doc_id")
    // component {0,1,3} via chain 0-1, 1-3; component {4,5}; 2 alone
    val pairs = Seq((0L, 1L), (1L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val got = Dedup.clusters(ids, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 0L, 1L -> 0L, 3L -> 0L, 2L -> 2L,
      4L -> 4L, 5L -> 4L))
  }

  test("persisted ivf index: unprobed cells prune at the partition " +
      "level; full probe covers the corpus; rebuild is deterministic") {
    // even ids cluster on e1, odd ids on e2; k-means init = the two
    // lowest ids (one per cluster), so training separates them
    val emb = (0L until 20L).map { i =>
      if (i % 2 == 0L) (i, Seq(1f, 0.01f * i, 0f, 0f))
      else (i, Seq(0.01f * i, 1f, 0f, 0f))
    }.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivfidx").toString
    Similarity.writeIvfIndex(emb, dir, kCells = 2, iters = 3)
    val q = Seq(1f, 0.05f, 0f, 0f)
    val top = Similarity.ivfTopKFromIndex(spark, dir, q, k = 5, nprobe = 1)
    // the unprobed cell must disappear BEFORE IO: the scan reads
    // exactly the probed cell's listed files
    val probed = probesOf(Similarity.readIvfCentroids(spark, dir), q, 1)
    assert(scanned(top) == cellFiles(dir, probed.toSet))
    assert(cellFiles(dir, Set(0, 1)).size > scanned(top).size)
    // the write clusters rows by cell: one file per cell
    assert(scanned(top).size == 1)
    assert(cellFiles(dir, Set(0, 1)).size == 2)
    val got = top.collect()
    assert(got.length == 5)
    assert(got.forall(_.getLong(0) % 2 == 0L),
      s"one-probe hits stay in the query's cluster: ${got.mkString(",")}")
    // full probe serves the whole index (brute-force degradation)
    val full = Similarity.ivfTopKFromIndex(spark, dir, q, k = 20,
      nprobe = 2).collect()
    assert(full.length == 20)
    assert(full.head.getLong(0) == got.head.getLong(0),
      "pruning must not change the winner when it lives in the probe set")
    // no-RNG contract: rebuilding the index reproduces the results
    Similarity.writeIvfIndex(emb, dir, kCells = 2, iters = 3)
    val again = Similarity.ivfTopKFromIndex(spark, dir, q, k = 5,
      nprobe = 1).collect()
    assert(again.map(_.toString).toSeq == got.map(_.toString).toSeq)
  }

  test("ivf index append: stored-quantizer assignment makes append " +
      "serve identically to a same-quantizer rebuild; compaction " +
      "heals duplicate appends") {
    val emb = (0L until 20L).map { i =>
      if (i % 2 == 0L) (i, Seq(1f, 0.01f * i, 0f, 0f))
      else (i, Seq(0.01f * i, 1f, 0f, 0f))
    }.toDF("vec_id", "embedding")
    val first = emb.where(col("vec_id") < 10)
    val rest = emb.where(col("vec_id") >= 10)
    val dir = java.nio.file.Files.createTempDirectory("ivfapp").toString
    Similarity.writeIvfIndex(first, dir, kCells = 2, iters = 3)
    Similarity.appendToIvfIndex(rest, dir)
    // rebuild face: same frozen quantizer over the concatenated data
    val dir2 = java.nio.file.Files.createTempDirectory("ivfapp2")
      .toString
    Similarity.writeIvfIndexWith(emb,
      Similarity.readIvfCentroids(spark, dir), dir2)
    val q = Seq(1f, 0.05f, 0f, 0f)
    def serve(d: String, nprobe: Int) =
      Similarity.ivfTopKFromIndex(spark, d, q, k = 20, nprobe = nprobe)
    for (np <- Seq(1, 2)) {
      assert(serve(dir, np).collect().map(_.toString).toSeq
        == serve(dir2, np).collect().map(_.toString).toSeq,
        s"append diverged from rebuild at nprobe=$np")
    }
    // cell pruning survives the append: the scan reads exactly the
    // probed cell's listed files, now two appends' worth
    assert(scanned(serve(dir, 1)) == cellFiles(dir,
      probesOf(Similarity.readIvfCentroids(spark, dir), q, 1).toSet))
    // a replayed append is a no-op; an overlapping one leaves double
    // rows, which compaction dedups on vec_id — serving returns to the
    // rebuilt answers
    Similarity.appendToIvfIndex(rest, dir)
    assert(indexRows(dir).count() == 20)
    Similarity.appendToIvfIndex(emb.where(col("vec_id") % 2 === 0), dir)
    assert(indexRows(dir).count() == 30)
    Similarity.compactIvfVectors(spark, dir)
    assert(indexRows(dir).count() == 20)
    for (np <- Seq(1, 2)) {
      assert(serve(dir, np).collect().map(_.toString).toSeq
        == serve(dir2, np).collect().map(_.toString).toSeq,
        s"compaction changed serving at nprobe=$np")
    }
  }

  test("ivf index retrain: rebuilt-in-place index equals a fresh " +
      "writeIvfIndex over the same rows, healing replayed appends") {
    val emb = (0L until 20L).map { i =>
      if (i % 2 == 0L) (i, Seq(1f, 0.01f * i, 0f, 0f))
      else (i, Seq(0.01f * i, 1f, 0f, 0f))
    }.toDF("vec_id", "embedding")
    val first = emb.where(col("vec_id") < 10)
    val rest = emb.where(col("vec_id") >= 10)
    val dir = java.nio.file.Files.createTempDirectory("ivfret").toString
    Similarity.writeIvfIndex(first, dir, kCells = 2, iters = 3)
    // two appends, the second overlapping the first — the retrain must
    // dedup BEFORE training or the doubled rows bias the centroid means
    Similarity.appendToIvfIndex(rest, dir)
    Similarity.appendToIvfIndex(emb.where(col("vec_id") % 2 === 0), dir)
    assert(indexRows(dir).count() == 30)
    Similarity.retrainIvfIndex(spark, dir, kCells = 2, iters = 3)
    assert(indexRows(dir).count() == 20)
    // no-RNG contract: retrain-in-place ≡ a fresh build over the
    // concatenated rows — centroids AND serving, bit for bit
    val dir3 = java.nio.file.Files.createTempDirectory("ivfret3")
      .toString
    Similarity.writeIvfIndex(emb, dir3, kCells = 2, iters = 3)
    assert(Similarity.readIvfCentroids(spark, dir)
      == Similarity.readIvfCentroids(spark, dir3))
    val q = Seq(1f, 0.05f, 0f, 0f)
    for (np <- Seq(1, 2)) {
      val a = Similarity.ivfTopKFromIndex(spark, dir, q, 20, np)
      val b = Similarity.ivfTopKFromIndex(spark, dir3, q, 20, np)
      assert(a.collect().map(_.toString).toSeq
        == b.collect().map(_.toString).toSeq,
        s"retrain diverged from fresh build at nprobe=$np")
      // cell pruning survives the retrain
      if (np == 1)
        assert(scanned(a) == cellFiles(dir,
          probesOf(Similarity.readIvfCentroids(spark, dir), q, 1).toSet))
    }
    // a missing index fails loudly, and the live dir is untouched
    val e = intercept[IllegalArgumentException] {
      Similarity.retrainIvfIndex(spark,
        dir + ".nosuch", kCells = 2)
    }
    assert(e.getMessage.contains("no index"))
  }

  test("mmr interleaves clusters where plain top-k returns near-copies") {
    // query along e1; cluster A (ids 1-4) at cos ~0.95 to q and
    // ~0.9999 to each other; cluster B (ids 5-8) at cos ~0.90 to q
    // and ~0.72 to A. Relevance-only top-4 = all of A; MMR at
    // lambda=0.5 pays the within-A redundancy after one pick, so the
    // second pick crosses to B; from the third pick on the max-sim
    // penalty is saturated for BOTH clusters (~0.9999 to their own
    // first pick), so relevance decides again and A resumes — the
    // exact greedy order is 1, 5, 2, 3.
    val rows =
      Seq((0L, Seq(1f, 0f, 0f, 0f))) ++
      (1 to 4).map(i => (i.toLong,
        Seq(0.95f, 0.312f, 0.001f * i, 0f))) ++
      (5 to 8).map(i => (i.toLong,
        Seq(0.90f, -0.436f, 0f, 0.001f * i)))
    val df = rows.toDF("vec_id", "embedding")
    val got = Similarity.mmrTopK(df, queryId = 0L, k = 4, poolSize = 8)
      .collect().sortBy(_.getAs[Int]("mmr_rank"))
      .map(_.getAs[Long]("vec_id"))
    val inA = (1L to 4L).toSet; val inB = (5L to 8L).toSet
    assert(inA.contains(got(0)), s"first pick is pure relevance: ${got.toSeq}")
    assert(inB.contains(got(1)),
      s"second pick must cross to the other cluster: ${got.toSeq}")
    assert(got.toSeq == Seq(1L, 5L, 2L, 3L),
      s"deterministic greedy order: ${got.toSeq}")
    // relevance-only ranking would keep all four A vectors
    val brute = Similarity.bruteForceTopK(df, queryId = 0L, k = 4)
      .collect().map(_.getLong(0))
    assert(brute.forall(inA), s"plain top-k is all near-copies: ${brute.toSeq}")
  }

  test("semantic dedup keeps one representative per embedding cluster") {
    // two semantic clusters inside one cell + an outlier; near-dup
    // vectors are paraphrase stand-ins (same direction, scaled)
    val emb = Seq(
      (0L, 0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, 0L, Array(2.0f, 0.02f, 0.0f)),  // ~cluster of 0
      (2L, 0L, Array(0.0f, 1.0f, 0.0f)),
      (3L, 0L, Array(0.0f, 3.0f, 0.01f)),  // ~cluster of 2
      (4L, 0L, Array(0.0f, 0.0f, 1.0f)),   // alone
      (5L, 1L, Array(1.0f, 0.0f, 0.0f))    // same direction as 0 but
                                           // another CELL: kept (the
                                           // cell prune is semantics)
    ).toDF("vec_id", "label", "embedding")
    val (kept, pin) = graft.pipeline.Curate.dedupSemantic(
      emb, threshold = 0.9, cellCol = Some("label"))
    val ids = kept.select("vec_id").collect().map(_.getLong(0)).toSet
    pin.release()
    assert(ids == Set(0L, 2L, 4L, 5L))
  }

  test("incremental semantic dedup drops only batch vectors near the " +
      "corpus") {
    val ref = Seq(
      (0L, 0L, Array(1.0f, 0.0f, 0.0f)),
      (2L, 0L, Array(0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "label", "embedding")
    val batch = Seq(
      (1L, 0L, Array(2.0f, 0.01f, 0.0f)), // ~ref 0: dropped
      (3L, 0L, Array(0.0f, 0.0f, 1.0f)),  // novel direction: kept
      (5L, 1L, Array(1.0f, 0.0f, 0.0f)),  // matches ref 0 but another
                                          // cell: kept (cell prune)
      (7L, 0L, Array(0.0f, 0.01f, 2.0f))  // ~batch 3 ONLY: kept — the
                                          // boundary contract, batch-
                                          // internal dups are
                                          // dedupSemantic's job
    ).toDF("vec_id", "label", "embedding")
    val kept = graft.pipeline.Curate.dedupSemanticAgainstCorpus(
      batch, ref, threshold = 0.9, cellCol = Some("label"))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(3L, 5L, 7L))
  }

  test("owned variants free their pinned blocks on release()") {
    // the library-caller contract: consume the frame, release the
    // handle, nothing stays pinned (no global sweep needed).
    // Earlier tests in this suite use the NON-owned variants, whose
    // contract is caller-sweeps — clear their leftovers first so the
    // emptiness assertions below measure only this test's pins.
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    def assertReleases(run: => (org.apache.spark.sql.DataFrame,
        Dedup.PinHandle)): Unit = {
      val (frame, handle) = run
      frame.count()
      assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
      handle.release()
      // blocking=false: the unpersist unregisters synchronously even
      // though block deletion is async
      assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    }
    assertReleases(Dedup.jaccardPairsOwned(docs, k = 3, threshold = 0.5))
    assertReleases(Dedup.minhashLshCandidatesOwned(docs, k = 3,
      numHashes = 8, bands = 4))
    assertReleases(Dedup.simhashPairsOwned(docs))
    assertReleases(Dedup.overlapPairsOwned(docs, w = 3))
  }

  test("simhash: identical docs identical hashes; near-dups close") {
    val hs = Dedup.simhash(docs).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(hs(0L).length == 32 && hs(0L).forall(c => c == '0' || c == '1'))
    assert(hs(0L) == hs(3L))
    def hamming(a: String, b: String) =
      a.zip(b).count { case (x, y) => x != y }
    assert(hamming(hs(0L), hs(1L)) < hamming(hs(0L), hs(2L)))
  }

  test("simhash pairs: exact dup at hamming 0, disjoint doc excluded") {
    val got = Dedup.simhashPairs(docs).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(got((0L, 3L)) == 0L) // identical text, identical signature
    assert(!got.keys.exists(p => p._1 == 2L || p._2 == 2L))
    // recall is exact for hamming <= bands-1: every reported pair's
    // distance recomputed from the signatures matches
    val sigs = Dedup.simhash(docs).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def hamming(a: String, b: String) =
      a.zip(b).count { case (x, y) => x != y }
    got.foreach { case ((a, b), h) =>
      assert(hamming(sigs(a), sigs(b)).toLong == h && h <= 3L)
    }
    // exhaustive check: NO pair within the hamming budget is missed
    val all = for {
      a <- sigs.keys; b <- sigs.keys if a < b
      if hamming(sigs(a), sigs(b)) <= 3
    } yield (a, b)
    assert(all.toSet == got.keySet)
  }

  test("simhash pairs bucket cap drops a degenerate herd wholesale") {
    val herd = (0L until 10L).map(i =>
      (i, "identical boilerplate document body here"))
    val dups = Seq(
      (100L, "alpha beta gamma delta epsilon zeta"),
      (101L, "alpha beta gamma delta epsilon zeta"))
    val corpus = (herd ++ dups).toDF("doc_id", "text")
    val capped = Dedup.simhashPairs(corpus, maxBucket = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((100L, 101L)))
  }

  test("overlap pairs find a shared passage at different offsets") {
    val passage = "one two three four five six"
    val corpus = Seq(
      (0L, s"intro words here $passage"),          // passage at offset 3
      (1L, s"$passage and a different tail part"), // passage at offset 0
      (2L, "nothing in common with the others at all whatsoever today")
    ).toDF("doc_id", "text")
    // w=5: the 6-token passage holds 2 distinct 5-token windows, both
    // shared between docs 0 and 1 despite different offsets
    val got = Dedup.overlapPairs(corpus, w = 5, minShared = 2L).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(got == Map((0L, 1L) -> 2L))
  }

  test("overlap pairs maxDf drops boilerplate windows wholesale") {
    // 12 docs all embedding the same boilerplate window -> 66 pairs
    // uncapped; with maxDf=4 the hot window is dropped and only the
    // genuine two-window pair survives
    val boiler = (0L until 12L).map(i =>
      (i, s"alpha beta gamma delta epsilon unique$i"))
    val dups = Seq(
      (100L, "p q r s t u tail"),
      (101L, "p q r s t u other"))
    val corpus = (boiler ++ dups).toDF("doc_id", "text")
    val uncapped = Dedup.overlapPairs(corpus, w = 5, minShared = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.size >= 66)
    val capped = Dedup.overlapPairs(corpus, w = 5, minShared = 1L,
      maxDf = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((100L, 101L)))
  }

  test("passage removal scrubs later occurrences, keeps the first") {
    val corpus = Seq(
      (0L, "intro words here one two three four five"), // passage @3
      (1L, "one two three four five and a tail"),       // passage @0
      (2L, "nothing shared with anybody else at all")
    ).toDF("doc_id", "text")
    val got = Dedup.removeSharedPassages(corpus, w = 5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // owner = min (doc, pos) = doc 0: untouched; doc 1 loses tokens 0-4
    assert(got(0L) == ((8L, 0L, "intro words here one two three four five")))
    assert(got(1L) == ((8L, 5L, "and a tail")))
    assert(got(2L) == ((7L, 0L, "nothing shared with anybody else at all")))
  }

  test("passage removal scrubs intra-doc repetition") {
    val corpus = Seq(
      (7L, "aa bb cc dd ee zz aa bb cc dd ee")).toDF("doc_id", "text")
    val r = Dedup.removeSharedPassages(corpus, w = 5).collect().head
    assert((r.getLong(1), r.getLong(2), r.getString(3)) ==
      ((11L, 5L, "aa bb cc dd ee zz")))
  }

  test("passage removal: short and empty docs pass through whole") {
    val corpus = Seq(
      (0L, "too short"), (1L, "too short"), (2L, "")
    ).toDF("doc_id", "text")
    val got = Dedup.removeSharedPassages(corpus, w = 5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(0L) == ((2L, 0L, "too short")))
    assert(got(1L) == ((2L, 0L, "too short"))) // dup but un-windowable
    assert(got(2L) == ((0L, 0L, "")))
  }

  test("passage removal can empty a fully-duplicated doc") {
    val corpus = Seq(
      (3L, "p q r s t"), (4L, "p q r s t")).toDF("doc_id", "text")
    val got = Dedup.removeSharedPassages(corpus, w = 5)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(got == Map(3L -> "p q r s t", 4L -> ""))
  }

  test("batch ivf topk equals per-query ivf topk") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 1),
      (1L, Array(0.9f, 0.1f, 0.0f), 1),
      (2L, Array(0.0f, 1.0f, 0.0f), 1),
      (3L, Array(0.0f, 0.9f, 0.1f), 2),
      (4L, Array(0.1f, 0.0f, 0.9f), 2),
      (5L, Array(0.0f, 0.1f, 1.0f), 2)
    ).toDF("vec_id", "embedding", "label")
    val batch = Similarity.ivfTopKBatch(emb, Seq(0L, 3L), k = 2).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"),
        r.getAs[Double]("cos_sim"))).toSet
    val singles = Seq(0L, 3L).flatMap { qid =>
      Similarity.ivfTopK(emb, qid, k = 2).collect()
        .map(r => (qid, r.getAs[Long]("vec_id"),
          r.getAs[Double]("cos_sim")))
    }.toSet
    assert(batch == singles && batch.nonEmpty)
    // cell pruning: query 0 (cell 1) never scores cell-2 rows
    assert(!batch.exists { case (q, v, _) => q == 0L && v >= 3L })
  }

  test("srp-lsh: deterministic planes, candidates subset of exact, " +
      "useful recall") {
    val emb = spark.read.parquet(
      "/root/testdata/sf0.001/embeddings.parquet")
    assert(Similarity.srpPlanes(4, 8) == Similarity.srpPlanes(4, 8))
    assert(Similarity.srpPlanes(4, 8).flatten.toSet == Set(1.0, -1.0))
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.cosineNearDupPairs(emb, 0.3, None)
      .select("id_a", "id_b"))
    val srp4 = pairs(Similarity.srpCandidatePairs(emb, dims = 64,
      nBits = 32, bands = 4, threshold = 0.3).select("id_a", "id_b"))
    assert(srp4.subsetOf(exact)) // exact filter: no false positives
    // recall follows SRP theory, p = 1 - angle/pi per bit: at cos 0.3
    // (p ~ 0.6) 8-bit bands recall ~6% while 2-bit bands recall
    // ~99.9% — band width is the knob, which the widths must show
    val srp16 = pairs(Similarity.srpCandidatePairs(emb, dims = 64,
      nBits = 32, bands = 16, threshold = 0.3).select("id_a", "id_b"))
    assert(srp16.subsetOf(exact))
    assert(srp4.subsetOf(srp16)) // narrower bands never lose pairs
    assert(srp16.size >= (exact.size * 9) / 10,
      s"srp16 ${srp16.size} vs exact ${exact.size}")
  }

  test("probed ivf: all-cells probe equals brute force, recall " +
      "grows with nprobe") {
    val emb = spark.read.parquet(
      "/root/testdata/sf0.001/embeddings.parquet")
    val nCells = emb.select("label").distinct().count().toInt
    val ids = Seq(0L, 1L, 2L)
    def keys(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id")))
      .toSet
    val brute = keys(Similarity.bruteForceTopKBatch(emb, ids, k = 5))
    // probing every cell IS brute force (graceful degradation)
    val all = keys(Similarity.ivfTopKProbedBatch(emb, ids, k = 5,
      nprobe = nCells))
    assert(all == brute)
    // recall vs brute is monotone in nprobe on this fixture
    val r1 = keys(Similarity.ivfTopKProbedBatch(emb, ids, k = 5,
      nprobe = 1)).intersect(brute).size
    val r3 = keys(Similarity.ivfTopKProbedBatch(emb, ids, k = 5,
      nprobe = 3)).intersect(brute).size
    assert(r1 <= r3 && r3 <= brute.size)
    // the data-side join stays a broadcast hash join on the cell key
    // (the queries x centroids probe cross-join is control-plane —
    // kilobytes — and allowed to nested-loop)
    val plan = Similarity.ivfTopKProbedBatch(emb, ids, k = 5, nprobe = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin [label"))
  }

  test("weighted sampling: 0 keeps none, 1 keeps all, monotone per id") {
    val docs = (1L to 200L).map(i => (i, "d")).toDF("doc_id", "text")
    def kept(w: Double) = Sampling.weighted(
      docs.withColumn("w", lit(w)), "w").collect()
      .map(_.getLong(0)).toSet
    assert(kept(0.0).isEmpty && kept(1.0).size == 200)
    val half = kept(0.5)
    assert(half.size > 60 && half.size < 140) // uniform-ish
    // raising the weight can only ADD ids (same hash, higher cutoff)
    assert(half.subsetOf(kept(0.8)))
    // clamping: out-of-range weights behave as 0/1
    assert(kept(-3.0).isEmpty && kept(7.0).size == 200)
  }

  test("repetition features: loops score high, unique text zero") {
    val docs = Seq(
      (1L, "spam spam spam spam spam spam"),      // one distinct 3-gram
      (2L, "all these words appear only once"),   // no repeats
      (3L, "ab")                                   // shorter than n
    ).toDF("doc_id", "text")
    val got = TextOps.repetitionFeatures(docs, n = 3).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3))).toMap
    assert(got(1L) == ((4L, 1L, 750000L))) // 3/4 duplicated
    assert(got(2L)._3 == 0L)
    assert(got(3L) == ((0L, 0L, 0L)))
  }

  test("gopherQualitySignals: bullets, ellipses, symbols, alpha " +
      "fraction, stopword hits, and the composite keep decision") {
    val keepText = Seq.fill(15)("the tree of life").mkString(" ")
    val docs = Seq(
      // toks: [-,buy,milk,-,sell,#,stock…,ok,then...] → 9 words,
      // charlen 37; 3 lines, 2 bullets, 2 ellipsis-enders; 3 symbol
      // hits; 6 alphabetic words; 0 of the 8 stopwords
      (1L, "- buy milk\n- sell # stock…\nok then..."),
      (2L, ""),
      (3L, keepText) // 60 words, mean 3.25, 'the'+'of' → keep
    ).toDF("doc_id", "text")
    val got = TextOps.gopherQualitySignals(docs).orderBy("doc_id")
      .collect()
    def row(r: org.apache.spark.sql.Row) =
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8),
        r.getBoolean(9))
    assert(row(got(0)) == ((9L,
      (29L * 2000000L + 9L) / 18L,    // mean word len 29/9
      (1L * 2000000L + 9L) / 18L,     // hash symbols 1/9
      (2L * 2000000L + 9L) / 18L,     // ellipsis symbols 2/9
      (2L * 2000000L + 3L) / 6L,      // bullet lines 2/3
      (2L * 2000000L + 3L) / 6L,      // ellipsis-ending lines 2/3
      (6L * 2000000L + 9L) / 18L,     // alpha 6/9
      0L, false)))
    assert(row(got(1)) == ((0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, false)))
    val d3 = row(got(2))
    assert(d3._1 == 60L && d3._2 == 3250000L && d3._8 == 2L && d3._9,
      d3.toString)
    // the keep decision is exact cross-multiplication, not the
    // rounded micro columns: 5 hashes in exactly 50 words sits ON
    // the 0.1 boundary — the paper removes only STRICTLY greater,
    // so keep; one more hash (6/51 > 0.1) flips it
    val boundary = Seq(
      (9L, Seq.fill(11)("the tree of life").mkString(" ")
        + " the # # # # #"),
      (10L, Seq.fill(11)("the tree of life").mkString(" ")
        + " the # # # # # #")
    ).toDF("doc_id", "text")
    val b = TextOps.gopherQualitySignals(boundary).orderBy("doc_id")
      .collect()
    assert(b(0).getBoolean(9), b(0).toString)  // exactly 0.1: keep
    assert(!b(1).getBoolean(9), b(1).toString) // past 0.1: remove
  }

  test("gopherSignals: dup lines, top-gram tie-break, dup-gram " +
      "coverage, degenerate inputs") {
    val docs = Seq(
      // 3 lines after trim/drop-empty: ["a b", "a b", "c d x"];
      // toks = [a,b,a,b,c,d,x], charlen = 13
      (1L, "a b\na b\n\n   \nc d x"),
      // 5-token cycle ×3: every 5-gram duplicated (11 grams × 9 ch);
      // bigram counts: "x y","y z","z w","w v" = 3, "v x" = 2 →
      // tie at 3 breaks to the byte-order-largest gram "z w"
      (2L, "x y z w v x y z w v x y z w v"),
      (3L, ""), // no lines, no tokens
      (4L, "hello") // 1 line, shorter than every n
    ).toDF("doc_id", "text")
    val cols = Seq("n_lines", "dup_line_micro6", "dup_line_char_micro6",
      "top2_char_micro6", "top3_char_micro6", "top4_char_micro6") ++
      (5 to 10).map(n => s"dup${n}_char_micro6")
    val got = TextOps.gopherSignals(docs).collect()
      .map(r => r.getLong(0) ->
        cols.map(c => r.getLong(r.fieldIndex(c))))
      .toMap

    val d1 = got(1L)
    assert(d1.head == 3L) // n_lines
    // dup lines: 2 of 3 occurrences; chars 6 of 11
    assert(d1(1) == 666667L && d1(2) == 545455L)
    // top2 "a b" ×2 → 6/13 half-up
    assert(d1(3) == 461538L)
    // no duplicated 5-grams
    assert(d1(6) == 0L)

    val d2 = got(2L)
    // top2: tie at count 3 → largest gram "z w", cover 9/29
    assert(d2(3) == 310345L)
    // dup5: all 11 occurrences duplicated, 99/29 > 1 (unclipped)
    assert(d2(6) == 3413793L)

    assert(got(3L) == cols.map(_ => 0L)) // empty text: all zeros
    val d4 = got(4L)
    assert(d4.head == 1L && d4.tail.forall(_ == 0L))
  }

  test("packBudget: docs never split, shards respect the start-window " +
      "rule, packing is deterministic") {
    val docs = (1L to 40L).map(i => (i, 100L + (i % 7) * 50L))
      .toDF("doc_id", "toks")
    val packed = Sampling.packBudget(docs, budget = 500L, nBuckets = 4,
      tokensCol = "toks")
    val rows = packed.select("doc_id", "pack_bucket", "pack_shard",
      "n_tokens").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length == 40) // every doc packed exactly once
    // within a bucket, shard ids are contiguous from 0 and the docs
    // assigned to a shard START inside its budget window
    rows.groupBy(_._2).foreach { case (_, bucketRows) =>
      val shards = bucketRows.map(_._3).distinct.sorted.toSeq
      assert(shards == Seq.tabulate(shards.length)(_.toLong))
    }
    // re-running yields the identical assignment (pure function)
    val again = Sampling.packBudget(docs, budget = 500L, nBuckets = 4,
      tokensCol = "toks").select("doc_id", "pack_shard").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == rows.map(r => (r._1, r._3)).toSet)
  }

  test("packSequences: exact-L sequences, EOS at doc boundaries, " +
      "trailing partial dropped, deterministic, one-shuffle plan") {
    // mirror hashBucket's ordering key locally (md5 first 8 hex)
    def pk(id: Long): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(s"graft:$id".getBytes("UTF-8")).take(4)
        .map(b => f"${b & 0xff}%02x").mkString
    }
    val corpus = Seq(
      (1L, Array(10, 11, 12)),
      (2L, Array.range(100, 107)),
      (3L, Array.empty[Int]), // empty sequence: contributes nothing
      (4L, Array(40)),
      (5L, Array.range(500, 511)))
    val docs = corpus.toDF("doc_id", "bpe_ids")
    val L = 5
    val eos = 999L
    val packed = Sampling.packSequences(docs, seqLen = L, nBuckets = 1,
      eosId = eos)
    // ONE shuffle end to end: the sequence assembly's aggregate keys
    // (pack_bucket, _s) are clustered by the lane window's
    // hashpartitioning(pack_bucket), so EnsureRequirements reuses the
    // lane exchange (executedPlan string pre-run — sparkPlan is
    // pre-EnsureRequirements and carries no exchanges at all)
    val planStr = packed.queryExecution.executedPlan.toString
    val nShuffles = "Exchange hashpartitioning".r
      .findAllIn(planStr).length
    assert(nShuffles == 1, s"expected 1 shuffle, got $nShuffles in\n" +
      planStr)
    val got = packed.collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getString(3),
        r.getString(4)))
      .sortBy(_._1)
    // expected stream: non-empty docs in (pk, id) order, each + EOS
    val ordered = corpus.filter(_._2.nonEmpty)
      .sortBy { case (id, _) => (pk(id), id) }
    val stream = ordered.flatMap { case (_, ids) =>
      ids.map(_.toLong) :+ eos }
    val nSeqs = stream.length / L // trailing partial dropped
    assert(got.length == nSeqs && nSeqs >= 3)
    got.foreach { case (s, _, _, csv) =>
      assert(csv.split(",").length == L) // EXACTLY seqLen ids each
      assert(csv == stream.slice(s.toInt * L, s.toInt * L + L)
        .mkString(","))
    }
    // n_docs = docs whose [o, o+n] token span intersects the
    // sequence, and starts_csv = those docs' in-sequence start
    // offsets (carried-over heads clamp to 0) in stream order — the
    // attention-mask-reset boundaries
    val offsets = ordered.map(_._2.length + 1)
      .scanLeft(0)(_ + _).init.zip(ordered)
    got.foreach { case (s, nDocs, starts, _) =>
      val lo = s.toInt * L
      val hi = lo + L - 1
      val overlapping = offsets.filter { case (o, (_, ids)) =>
        o <= hi && o + ids.length >= lo }
      assert(nDocs == overlapping.length,
        s"seq $s: n_docs $nDocs != ${overlapping.length}")
      val wantStarts = overlapping
        .map { case (o, _) => math.max(o - lo, 0) }.sorted
      assert(starts == wantStarts.mkString(","),
        s"seq $s: starts $starts != $wantStarts")
    }
    // pure function of (salt, ids): identical on a re-run
    val again = Sampling.packSequences(docs, seqLen = L, nBuckets = 1,
      eosId = eos).collect()
      .map(r => (r.getLong(1), r.getString(4))).toSet
    assert(again == got.map(g => (g._1, g._4)).toSet)
    // lanes partition the work: every lane emits exact-L sequences
    // from its own stream and empty docs still contribute nothing
    val multi = Sampling.packSequences(docs, seqLen = 3, nBuckets = 4,
      eosId = eos).collect()
    multi.foreach(r => assert(r.getString(4).split(",").length == 3))
    // degenerate inputs: a lane stream shorter than seqLen is all
    // trailing-partial (zero sequences), and an all-empty corpus
    // emits nothing rather than failing
    val tiny = Seq((1L, Array(7, 8))).toDF("doc_id", "bpe_ids")
    assert(Sampling.packSequences(tiny, seqLen = 10, nBuckets = 1,
      eosId = eos).count() == 0)
    val empty = Seq((1L, Array.empty[Int])).toDF("doc_id", "bpe_ids")
    assert(Sampling.packSequences(empty, seqLen = 4, nBuckets = 2,
      eosId = eos).count() == 0)
  }

  test("epochShuffle: each epoch is a deterministic per-lane " +
      "permutation, epochs differ, and over packSequences output the " +
      "pipeline still plans ONE exchange") {
    val docs = (0L until 120L).map(i =>
      (i, Array.tabulate((i % 5).toInt + 1)(j => (i + j).toInt)))
      .toDF("doc_id", "bpe_ids")
    val packed = Sampling.packSequences(docs, seqLen = 8, nBuckets = 4,
      eosId = 0L)
    val shuffled = Sampling.epochShuffle(packed, epoch = 7,
      "pack_bucket", Seq("seq_idx"))
    // the lane window's ClusteredDistribution is satisfied by
    // packSequences' hashpartitioning — no second exchange
    val plan = shuffled.queryExecution.executedPlan.toString
    assert(plan.linesIterator
      .count(_.contains("Exchange hashpartitioning")) == 1, plan)
    val rows = shuffled.select("pack_bucket", "seq_idx", "epoch_pos")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // permutation: within each lane, positions are exactly 1..n
    rows.groupBy(_._1).foreach { case (lane, g) =>
      assert(g.map(_._3).sorted.toSeq == (1L to g.size).toSeq,
        s"lane $lane positions not a permutation")
    }
    // deterministic: a rebuild reproduces the identical order
    val again = Sampling.epochShuffle(
        Sampling.packSequences(docs, seqLen = 8, nBuckets = 4,
          eosId = 0L), epoch = 7, "pack_bucket", Seq("seq_idx"))
      .select("pack_bucket", "seq_idx", "epoch_pos")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(again.sorted.toSeq == rows.sorted.toSeq)
    // epochs genuinely reorder: epoch 8 disagrees with epoch 7
    // somewhere (a fixed-point permutation across every lane would
    // mean the epoch salt does nothing)
    val e8 = Sampling.epochShuffle(packed, epoch = 8,
        "pack_bucket", Seq("seq_idx"))
      .select("pack_bucket", "seq_idx", "epoch_pos")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(e8.sorted.toSeq != rows.sorted.toSeq)
    // the non-null contract is ENFORCED: concat_ws silently skips
    // nulls, so an unguarded null key would alias distinct hash
    // inputs and break resume-reproducibility — the guard fails the
    // job loudly instead
    val nullKey = Seq((0L, java.lang.Long.valueOf(1L)),
      (0L, null.asInstanceOf[java.lang.Long]))
      .toDF("lane", "k")
    val ex = intercept[Exception] {
      Sampling.epochShuffle(nullKey, epoch = 1, "lane", Seq("k"))
        .collect()
    }
    assert(ex.getMessage != null)
  }

  test("epochLaneOrder: a deterministic permutation per epoch, " +
      "epochs differ, and the driver-side md5 rank equals the " +
      "engine's own md5 ordering") {
    val o7 = Sampling.epochLaneOrder(8, epoch = 7)
    assert(o7 == Sampling.epochLaneOrder(8, epoch = 7),
      "same epoch must reproduce the identical visit order")
    assert(o7.sorted == (0L until 8L), "not a permutation")
    assert(o7 != Sampling.epochLaneOrder(8, epoch = 8),
      "the epoch salt must actually reorder (8! >> collision odds)")
    // cross-face: the driver MessageDigest hex must rank exactly like
    // the engine's md5 (the oracle re-derives the order with SQL md5)
    val engine = (0L until 8L).toDF("lane")
      .select(col("lane"), md5(concat_ws(":", lit("graft"), lit("7"),
        col("lane").cast("string"))).as("h"))
      .orderBy(col("h"), col("lane"))
      .collect().map(_.getLong(0)).toSeq
    assert(engine == o7, "driver-side rank diverged from engine md5")
    // the column face stamps 1-based visit positions row-locally
    val stamped = (0L until 8L).toDF("lane")
      .withColumn("ord", Sampling.epochLaneOrderCol(col("lane"), 8, 7))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    o7.zipWithIndex.foreach { case (lane, i) =>
      assert(stamped(lane) == i + 1L)
    }
  }

  test("epochLaneOrderCol survives a production lane count: 4096 " +
      "lanes plan (no expression-depth wall) and execute, match the " +
      "driver permutation, out-of-domain lanes map to null, and the " +
      "stamp adds ZERO exchanges") {
    // the nLanes-deep when/otherwise fold this replaced dies with a
    // plan-time StackOverflowError near ~1000 branches — exactly the
    // lane counts a 100 TB shard store runs at; the array-literal
    // lookup is depth-1 regardless of nLanes
    val n = 4096
    val order = Sampling.epochLaneOrder(n, epoch = 3)
    val df = spark.range(-2L, n.toLong + 2L).toDF("lane")
      .withColumn("ord", Sampling.epochLaneOrderCol(col("lane"), n, 3))
    assert(!df.queryExecution.executedPlan.toString.contains("Exchange"),
      "the lane-order stamp must stay row-local (zero exchanges)")
    val got = df.collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    order.zipWithIndex.foreach { case (lane, i) =>
      assert(got(lane) == Some(i + 1L))
    }
    assert(got(-1L).isEmpty && got(-2L).isEmpty &&
      got(n.toLong).isEmpty && got(n.toLong + 1L).isEmpty,
      "lanes outside [0, nLanes) must map to null, never abort")
  }

  test("canonical-per-fingerprint dedup orders on the id ALONE: rows " +
      "carrying unorderable (map) columns dedup fine, null text keeps " +
      "its group") {
    // the min(struct(all columns)) shape this replaced required every
    // column to be orderable — a map-typed metadata column failed
    // analysis; min_by constrains only the id
    val df = Seq((2L, "a"), (1L, "a"), (3L, "b"))
      .toDF("doc_id", "text")
      .withColumn("meta", map(lit("k"), col("text")))
    val got = Dedup.canonicalPerFingerprint(df,
      TextOps.fingerprint(col("text")))
    assert(got.columns.toSeq == Seq("doc_id", "text", "meta"))
    val ids = got.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 3L)) // min id per fingerprint
    assert(got.where(col("doc_id") === 1L)
      .select(expr("meta['k']")).collect()(0).getString(0) == "a")
    val withNull = Seq((5L, null.asInstanceOf[String]), (6L, "x"))
      .toDF("doc_id", "text")
    assert(Dedup.canonicalPerFingerprint(withNull,
      TextOps.fingerprint(col("text"))).count() == 2)
    // the non-null-id precondition is ENFORCED: min_by skips null
    // orderings, so an unguarded all-null-id group would silently
    // collapse to an all-null row — the guard fails the job instead
    val nullId = Seq((java.lang.Long.valueOf(7L), "y"),
      (null.asInstanceOf[java.lang.Long], "y"))
      .toDF("doc_id", "text")
    val ex = intercept[Exception] {
      Dedup.canonicalPerFingerprint(nullId,
        TextOps.fingerprint(col("text"))).collect()
    }
    assert(ex.getMessage.contains("canonicalPerFingerprint") ||
      Option(ex.getCause).exists(
        _.getMessage.contains("canonicalPerFingerprint")))
  }

  test("curate: quality gate, canonical-copy dedup, stratified rates") {
    val body = (1 to 30).map(i => s"w$i").mkString(" ") // 30 tokens, 0 stops
    val corpus = Seq(
      (0L, body, "a"),                       // kept: canonical copy
      (1L, body, "a"),                       // dropped: dup of 0
      (2L, "too short", "a"),                // dropped: < 25 tokens
      (3L, ("the " * 30).trim, "a"),         // dropped: stopword ratio 1.0
      (4L, (1 to 30).map(i => s"x$i").mkString(" "), "gone") // stratum rate 0
    ).toDF("doc_id", "text", "source")
    val got = Curate.curate(corpus, minTokens = 25L,
      maxStopwordRatioMicro6 = 300000L, strataCol = "source",
      rates = Seq("gone" -> 0.0), default = 1.0).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(got == Set(0L))
  }

  test("dedupNearDup keeps one canonical copy per near-dup cluster " +
      "and releases every pin through its handle") {
    // sweep first: earlier tests may leave pins legitimately (the
    // non-Owned variants' contract is caller-sweeps)
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    val corpus = Seq(
      (1L, base), (2L, base + " iota"),     // near-dups: keep 1
      (5L, "completely different words entirely unrelated content"),
      (7L, base + " kappa")                 // also joins cluster 1
    ).toDF("doc_id", "text")
    val (kept, handle) = Curate.dedupNearDup(corpus, k = 3,
      threshold = 0.4)
    val ids = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 5L))
    handle.release()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "dedupNearDup must not leak pinned blocks past its handle")
  }

  test("curate: repetition gate drops degenerate loops") {
    val body = (1 to 30).map(i => s"w$i").mkString(" ")
    val loop = (("x y z ") * 12).trim // 36 tokens, 1 distinct 3-gram run
    val corpus = Seq((0L, body, "a"), (1L, loop, "a"))
      .toDF("doc_id", "text", "source")
    def run(maxDup: Long) = Curate.curate(corpus, minTokens = 25L,
      maxStopwordRatioMicro6 = 300000L, strataCol = "source",
      rates = Nil, default = 1.0, maxDupRatioMicro6 = maxDup)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(run(1000000L) == Set(0L, 1L)) // default: gate off
    assert(run(500000L) == Set(0L))      // loop exceeds 50% dup ratio
  }

  test("gopher repetition keep: exact integer thresholds, " +
      "strictly-greater removes, at-threshold kept") {
    import graft.functions.GopherFunctions
    def keep(text: String): Boolean =
      Seq((0L, text)).toDF("doc_id", "text")
        .select(GopherFunctions.gopherRepKeep(col("text"), "\n").as("k"))
        .collect()(0).getBoolean(0)
    def uline(i: Int) = (0 until 8).map(j => s"u${i}w$j").mkString(" ")
    // nothing repeats: every lane zero -> keep (and empty text keeps —
    // zero denominators have nothing to remove on)
    assert(keep((1 to 10).map(uline).mkString("\n")))
    assert(keep(""))
    // dup-line BOUNDARY: 3 of 10 lines share a value — dup_line_frac
    // exactly 0.30, and the paper removes on STRICTLY greater, so this
    // doc is kept; the dup value is kept short so the 0.20 char lane
    // stays clear (3*5 = 15 chars of ~345)
    val boundary = (Seq(uline(1), "aa bb", uline(2), "aa bb", uline(3),
      "aa bb") ++ (4 to 7).map(uline)).mkString("\n")
    assert(keep(boundary), "dup_line_frac exactly 0.30 must be kept")
    // one more duplicate line: 4 of 10 = 0.40 > 0.30 -> removed
    val over = (Seq(uline(1), "aa bb", uline(2), "aa bb", uline(3),
      "aa bb", "aa bb") ++ (4 to 6).map(uline)).mkString("\n")
    assert(!keep(over), "dup_line_frac 0.40 must be removed")
    // top-2-gram coverage: 'x y' repeated 40 times covers ~75% of the
    // char mass (far over 0.20) -> removed, even with zero dup lines
    assert(!keep(("x y " * 40).trim))
    // duplicated 10-gram char mass: two long identical word runs in
    // otherwise-distinct text
    val run10 = (1 to 10).map(i => s"r${i}w").mkString(" ")
    assert(!keep(Seq(run10, uline(1), run10).mkString(" ")))
  }

  test("curate gopherGate: the full Gopher rule set gates inline — " +
      "same rows as the pre-filtered composition, no added exchange") {
    import graft.functions.GopherFunctions
    import graft.pipeline.TextOps
    val rnd = new scala.util.Random(17)
    // 60-word docs that PASS the quality half: >= 2 canonical
    // stopwords, 4-7 char alpha words (mean length in [3, 10]), no
    // bullets/ellipses/hashes
    def goodText(d: Int): String =
      (TextOps.gopherStopwords ++ (0 until 52).map(j =>
        s"tok${d}x$j${('a' + rnd.nextInt(26)).toChar}")).mkString(" ")
    // trips ONLY the repetition half: 4 of 10 lines identical (0.40 >
    // 0.30) while the quality half passes (60 words, stopwords in the
    // unique lines, healthy word lengths)
    val repTrip = (Seq.fill(4)(
      "therefore bandana cascade muffin velvet lantern") ++
      (1 to 6).map(i => s"the canyon${i} and river${i} with stone${i}"))
      .mkString("\n")
    // trips ONLY the quality half: 60 distinct words, zero stopwords
    val qualityTrip = (0 until 60).map(j => s"zword${j}q").mkString(" ")
    val g0 = goodText(0) // materialized once: doc 5 must be an EXACT dup
    val corpus = Seq(
      (0L, g0, "a"),
      (1L, goodText(1), "a"),
      (2L, goodText(2), "a"),
      (3L, repTrip, "a"),
      (4L, qualityTrip, "a"),
      (5L, g0, "a") // exact dup of 0: dedup drops it
    ).toDF("doc_id", "text", "source")
    def run(df: org.apache.spark.sql.DataFrame, gate: Boolean) =
      Curate.curate(df, minTokens = 25L,
        maxStopwordRatioMicro6 = 300000L, strataCol = "source",
        rates = Nil, default = 1.0, gopherGate = gate)
    val got = run(corpus, gate = true)
    assert(got.collect().map(_.getAs[Long]("doc_id")).toSet
      == Set(0L, 1L, 2L),
      "rep trip, quality trip and the dup must all drop")
    // inline gate == filtering the corpus by the two keeps FIRST and
    // curating without the gate (both stages are row-local, so the
    // gate commutes with the quality features)
    val preIds = corpus
      .where(GopherFunctions.gopherRepKeep(col("text"), "\n"))
      .join(TextOps.gopherQualitySignals(corpus)
        .where(col("gopher_keep")).select("doc_id"),
        Seq("doc_id"), "left_semi")
      .select("doc_id")
    val ref = run(corpus.join(preIds, Seq("doc_id"), "left_semi"),
      gate = false)
    assert(got.collect().map(_.toString).sorted.toSeq
      == ref.collect().map(_.toString).sorted.toSeq)
    // the one-shuffle contract holds: the gate adds projections and a
    // filter, never an exchange
    def nExchanges(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.toString
        .linesIterator.count(_.contains("Exchange"))
    assert(nExchanges(run(corpus, gate = true))
      == nExchanges(run(corpus, gate = false)))
  }

  test("curate dedup is the skew-safe single-pass grouped min: no " +
      "window over the corpus fingerprint anywhere in the curate plan") {
    // a window over a CONTENT key with the doc text still in the row
    // is the hot-key single-task shape the repo forbids: on a
    // duplicate-heavy corpus (exactly what curate is for) one
    // mega-duplicate fingerprint funnels every full-text copy through
    // one task's sort, and windows get no AQE skew handling
    val body = (1 to 30).map(i => s"w$i").mkString(" ")
    val corpus = Seq((0L, body, "a"), (1L, body, "a"),
      (2L, body + " tail", "b")).toDF("doc_id", "text", "source")
    for (gate <- Seq(false, true)) {
      val df = Curate.curate(corpus, minTokens = 25L,
        maxStopwordRatioMicro6 = 300000L, strataCol = "source",
        rates = Nil, default = 1.0, gopherGate = gate)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Window"),
        s"curate (gopherGate=$gate) must not window over the corpus:" +
          s"\n$plan")
    }
  }

  test("cell centroids: exact micro-unit sums and means per dimension") {
    val emb = Seq(
      (0L, Array(1.0f, -0.5f), 1),
      (1L, Array(0.5f, 0.5f), 1),
      (2L, Array(-1.0f, 0.25f), 2)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.cellCentroids(emb).collect()
      .map(r => (r.getInt(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(got((1, 0L)) == ((2L, 1500000L, 750000L, 0.75)))
    assert(got((1, 1L)) == ((2L, 0L, 0L, 0.0)))
    // floor division: -1000000 / 1 stays exact; negative means floor
    assert(got((2, 0L)) == ((1L, -1000000L, -1000000L, -1.0)))
    assert(got((2, 1L)) == ((1L, 250000L, 250000L, 0.25)))
  }

  test("stratified sampling applies per-stratum rates deterministically") {
    val rows = (0L until 400L).map(i =>
      (i, if (i % 2 == 0) "big" else "rare")).toDF("doc_id", "source")
    val kept = Sampling.stratified(rows, "source",
      Seq("big" -> 0.25, "rare" -> 1.0)).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // every rare-stratum row survives; the big stratum thins to ~25%
    assert(kept.count(_._2 == "rare") == 200)
    val big = kept.count(_._2 == "big")
    assert(big > 20 && big < 80)
    // per-stratum membership == plain sample at the same rate (same
    // salt, same id hash -> identical decision)
    val plain = Sampling.sample(rows.where(col("source") === "big"), 0.25)
      .collect().map(_.getLong(0)).toSet
    assert(kept.filter(_._2 == "big").map(_._1).toSet == plain)
    // rate 0 drops a stratum wholesale
    val none = Sampling.stratified(rows, "source",
      Seq("big" -> 0.0, "rare" -> 0.0)).collect()
    assert(none.isEmpty)
    // re-run is bit-identical (determinism)
    val again = Sampling.stratified(rows, "source",
      Seq("big" -> 0.25, "rare" -> 1.0)).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(again.sorted.sameElements(kept.sorted))
  }

  test("temperature sampling: rarest stratum keeps all, others thin " +
      "toward the sqrt mixture") {
    // 400 "big" vs 100 "small": rate_big = sqrt(100/400) = 0.5, so
    // post-sample sizes head toward sqrt(100*400) = 200 vs 100 — the
    // τ=2 mixture
    val rows = (0L until 500L).map(i =>
      (i, if (i < 400) "big" else "small")).toDF("doc_id", "source")
    val kept = Sampling.temperatureSample(rows, "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(kept.count(_._2 == "small") == 100, "rarest stratum keeps all")
    val big = kept.count(_._2 == "big")
    assert(big > 160 && big < 240,
      s"big stratum should thin toward sqrt mixture (~200): $big")
    // rate 0.5 cutoff is exactly 2^31: membership == plain sample(0.5)
    val plain = Sampling.sample(rows.where(col("source") === "big"), 0.5)
      .collect().map(_.getLong(0)).toSet
    assert(kept.filter(_._2 == "big").map(_._1).toSet == plain)
    // determinism
    val again = Sampling.temperatureSample(rows, "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(again.sorted.sameElements(kept.sorted))
    // uniform strata degrade to identity (all tie at n_min)
    val uni = (0L until 90L).map(i => (i, s"s${i % 3}"))
      .toDF("doc_id", "source")
    assert(Sampling.temperatureSample(uni, "source").count() == 90L)
  }

  test("rebalance derives per-stratum rates from counts toward the " +
      "target mixture; binding stratum keeps all rows") {
    // 300 "web" vs 60 "code" rows; target web:code = 1:1 — code binds
    // the feasible total, keeps all 60, web downsamples toward 60
    val rows = (0L until 360L).map(i =>
      (i, if (i < 300L) "web" else "code")).toDF("doc_id", "source")
    val kept = Sampling.rebalance(rows, "source",
      Seq(("web", 1L), ("code", 1L))).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(kept.count(_._2 == "code") == 60)
    val web = kept.count(_._2 == "web")
    // hash-cutoff sampling at rate 60/300: binomial around 60
    assert(web > 35 && web < 90, s"web kept $web")
    // unlisted strata drop wholesale
    val drop = Sampling.rebalance(rows, "source", Seq(("code", 1L)))
      .collect()
    assert(drop.length == 60 && drop.forall(_.getString(1) == "code"))
    // re-run is bit-identical (determinism)
    val again = Sampling.rebalance(rows, "source",
      Seq(("web", 1L), ("code", 1L))).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(again.sorted.sameElements(kept.sorted))
    // infeasible mixture (empty stratum) errors instead of silently
    // returning an empty corpus
    intercept[IllegalArgumentException] {
      Sampling.rebalance(rows, "source",
        Seq(("web", 1L), ("papers", 1L)))
    }
  }

  test("pii features count and redact emails, ips, phones") {
    val rows = Seq(
      (0L, "mail a.b+c@sub.example.org and x@y.io twice"),
      (1L, "server at 192.168.0.1 port 80, not 1.2.3"),
      (2L, "call +12025550123 now"),
      (3L, "clean text, no pii at all"),
      (4L, "mixed: u@v.com from 10.0.0.7 dial +4915123456789")
    ).toDF("doc_id", "text")
    val got = TextOps.piiFeatures(rows).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_emails"), r.getAs[Long]("n_ipv4"),
          r.getAs[Long]("n_phones"), r.getAs[String]("redacted")))).toMap
    assert(got(0L)._1 == 2L
      && got(0L)._4 == "mail [EMAIL] and [EMAIL] twice")
    assert(got(1L)._2 == 1L // "1.2.3" is not an ipv4
      && got(1L)._4 == "server at [IP] port 80, not 1.2.3")
    assert(got(2L)._3 == 1L && got(2L)._4 == "call [PHONE] now")
    assert(got(3L) == ((0L, 0L, 0L, "clean text, no pii at all")))
    assert(got(4L) == ((1L, 1L, 1L, "mixed: [EMAIL] from [IP] dial [PHONE]")))
  }

  test("decontamination counts eval-overlapping n-grams per doc") {
    val train = Seq(
      (0L, "alpha beta gamma delta epsilon"), // grams: a b g, b g d, g d e
      (1L, "zeta eta theta iota"),            // no overlap
      (2L, "alpha beta gamma zeta eta"),      // 1 overlapping gram
      (3L, "a b")                             // shorter than n -> zeros
    ).toDF("doc_id", "text")
    val eval = Seq(
      (100L, "alpha beta gamma delta kappa")  // grams: a b g, b g d, ...
    ).toDF("doc_id", "text")
    val got = TextOps.decontaminate(train, eval, n = 3).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got(0L) == ((3L, 2L, 1L))) // "alpha beta gamma","beta gamma delta"
    assert(got(1L) == ((2L, 0L, 0L)))
    assert(got(2L) == ((3L, 1L, 1L)))
    assert(got(3L) == ((0L, 0L, 0L)))
  }

  test("brute-force and ivf topk agree inside one cell") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 1),
      (1L, Array(0.9f, 0.1f, 0.0f), 1),
      (2L, Array(0.0f, 1.0f, 0.0f), 1),
      (3L, Array(-1.0f, 0.0f, 0.1f), 1)
    ).toDF("vec_id", "embedding", "label")
    val brute = Similarity.bruteForceTopK(emb, 0L, 2).collect()
    assert(brute.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(brute.head.getDouble(1) > 0.99)
    val ivf = Similarity.ivfTopK(emb, 0L, 2).collect()
    assert(ivf.map(_.getLong(0)).toSeq == Seq(1L, 2L))
  }

  test("hash sampling and splits are partitioning-invariant and " +
      "exhaustive") {
    val corpus = spark.read.parquet(
      "/root/testdata/sf0.001/documents.parquet")
    val total = corpus.count()
    val s1 = Sampling.sample(corpus, 0.25)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val s2 = Sampling.sample(corpus.repartition(7), 0.25)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s1 == s2, "sample must not depend on partitioning")
    assert(s1.nonEmpty && s1.size < total)
    // a different salt draws an independent subset
    val other = Sampling.sample(corpus, 0.25, salt = "other")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(other != s1)

    val sp = Sampling.split(corpus,
      Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1))
    val counts = sp.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == total) // every row in exactly one split
    assert(counts.keySet == Set("train", "valid", "test"))
    assert(counts("train") > counts("valid")
      && counts("train") > counts("test"))
    assertThrows[IllegalArgumentException](
      Sampling.split(corpus, Seq("a" -> 0.5, "b" -> 0.4)))
  }

  test("batch topk equals per-query topk for every query") {
    val emb = spark.read.parquet(
      "/root/testdata/sf0.001/embeddings.parquet")
    val ids = Seq(0L, 1L, 2L)
    val batch = Similarity.bruteForceTopKBatch(emb, ids, k = 4)
      .collect().groupBy(_.getLong(0))
    ids.foreach { q =>
      val single = Similarity.bruteForceTopK(emb, q, 4).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val fromBatch = batch(q)
        .sortBy(r => (-r.getDouble(2), r.getLong(1)))
        .map(r => (r.getLong(1), r.getDouble(2))).toSeq
      assert(fromBatch == single, s"query $q")
    }
  }

  test("kmeans ivf quantizer: deterministic training, exact " +
      "nearest-centroid assignment") {
    val emb = spark.read.parquet(
      "/root/testdata/sf0.001/embeddings.parquet")
    val c1 = Similarity.trainIvfCentroids(emb, k = 4, iters = 3)
    val c2 = Similarity.trainIvfCentroids(emb, k = 4, iters = 3)
    assert(c1 == c2) // no RNG, exact decimal means: bit-reproducible
    assert(c1.length == 4 && c1.forall(_.length == 64))
    val assigned = Similarity.assignCells(emb, c1)
    // every row lands in its true argmax-cosine cell (replicated on
    // the driver with the same left-fold dot product)
    val unit = c1.map { c =>
      val n = math.sqrt(c.map(x => x * x).sum); c.map(_ / n)
    }
    assigned.select(col("vec_id"), col("embedding"), col("cell"))
      .collect().foreach { r =>
        val v = r.getSeq[Float](1).map(_.toDouble)
        val scores = unit.map(c =>
          v.zip(c).foldLeft(0.0) { case (a, (x, y)) => a + x * y })
        assert(r.getInt(2) == scores.indexOf(scores.max),
          s"vec ${r.getLong(0)}")
      }
    // all 4 cells populated on this data, and the trained cells plug
    // straight into ivfTopK
    assert(assigned.select("cell").distinct().count() == 4)
    val top = Similarity.ivfTopK(assigned, queryId = 0L, k = 5,
      cellCol = "cell")
    assert(top.count() == 5)
  }

  test("cosine near-dup pairs respects threshold") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f), 1),
      (1L, Array(0.999f, 0.01f), 1),
      (2L, Array(0.0f, 1.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val pairs = Similarity.cosineNearDupPairs(emb, 0.99, Some("label"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 1L)))
  }

  test("bloom tier merges across corpora; dedup equals the plain " +
      "anti-join with false positives confirmed away") {
    import graft.pipeline.Bloom
    // tier mergeability: tier(a ∪ b) == per-bucket bit_or of tiers
    val a = docs.where($"doc_id" < 2)
    val b = docs.where($"doc_id" >= 2)
    def tierMap(df: org.apache.spark.sql.DataFrame) =
      Bloom.bloomTier(df, nBuckets = 8, nWords = 2, kHashes = 2)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
        .toMap
    val whole = tierMap(docs)
    val merged = (tierMap(a).toSeq ++ tierMap(b).toSeq)
      .groupBy(_._1).map { case (k, v) =>
        k -> ((v.map(_._2._1).reduce(_ | _), v.map(_._2._2).reduce(_ | _)))
      }
    assert(whole == merged)

    // dedup: ref = {0, 2}; fresh = {1, 3, 4}. 3 is an exact copy of 0
    // (must drop); 1 and 4 are new texts (must survive). nWords = 1
    // with k = 4 crams 4 bits into 62 — false positives likely, and
    // the confirm join must still keep every non-identical doc.
    val ref = docs.where(col("doc_id").isin(0L, 2L))
    val fresh = docs.where(col("doc_id").isin(1L, 3L, 4L))
    val kept = Bloom.dedupAgainstCorpusBloom(fresh, ref,
      nBuckets = 4, nWords = 1, kHashes = 4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 4L))
    // definite-negative fast path: an empty ref tier keeps everything
    val keptAll = Bloom.dedupAgainstCorpusBloom(fresh,
      ref.where(lit(false)), nBuckets = 4, nWords = 1, kHashes = 4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptAll == Set(1L, 3L, 4L))
  }

  test("capPerKey thins over-cap keys to the cap, leaves the rest, " +
      "and is deterministic") {
    val d = Seq(
      (0L, "a"), (1L, "a"), (2L, "a"), (3L, "a"),
      (4L, "b"), (5L, "b")
    ).toDF("doc_id", "key")
    val out = Curate.capPerKey(d, "key", cap = 3)
    assert(out.columns.toSeq == Seq("doc_id", "key")) // order preserved
    val byKey = out.collect()
      .groupBy(_.getString(1)).map { case (k, v) =>
        (k, v.map(_.getLong(0)).toSet)
      }
    assert(byKey("b") == Set(4L, 5L)) // under cap: untouched
    assert(byKey("a").size == 3)
    // survivors are the 3 smallest md5('graft:'||id) of key a —
    // recompute the expected set independently
    val expected = Seq(0L, 1L, 2L, 3L).sortBy { id =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"graft:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 8)
    }.take(3).toSet
    assert(byKey("a") == expected)
    // re-run under a different partitioning: identical survivors
    val out2 = Curate.capPerKey(d.repartition(7), "key", cap = 3)
      .collect().map(_.getLong(0)).toSet
    assert(out2 == byKey("a") ++ byKey("b"))
    // plan gate for the over-cap-keys-only claim: exactly ONE window
    // node, fed by the over-cap SEMI join (never the whole corpus),
    // with the under-cap rows passing through the ANTI join untouched
    // — the corpus must not all flow through a window. The OPTIMIZED
    // logical plan is the stable surface (the executed plan prints
    // AQE initial+final twins plus WindowGroupLimit helpers).
    val plan = out.queryExecution.optimizedPlan.toString
    assert(plan.linesIterator.count(_.contains("Window [")) == 1,
      s"capPerKey must rank through exactly one window:\n$plan")
    assert(plan.contains("LeftSemi") && plan.contains("LeftAnti"),
      s"capPerKey must split over-/under-cap legs by semi/anti join:" +
        s"\n$plan")
  }

  test("decontaminateSemantic flags train vectors near eval, respects " +
      "cells, and leaves clean rows 0/null/false") {
    val train = Seq(
      (0L, Array(1.0f, 0.0f), 1),   // near both eval vectors in cell 1
      (1L, Array(0.0f, 1.0f), 1),   // clean (orthogonal)
      (2L, Array(1.0f, 0.0f), 2)    // identical direction, WRONG cell
    ).toDF("vec_id", "embedding", "label")
    val eval = Seq(
      (10L, Array(0.999f, 0.01f), 1),
      (11L, Array(0.95f, 0.05f), 1)
    ).toDF("vec_id", "embedding", "label")
    val r = Curate.decontaminateSemantic(train, eval, threshold = 0.9,
        cellCol = Some("label"))
      .orderBy("vec_id")
      .select("vec_id", "n_eval_hits", "max_eval_sim", "contaminated")
      .collect()
    assert(r.length == 3)
    assert(r(0).getLong(1) == 2L && r(0).getBoolean(3))
    assert(r(0).getDouble(2) > 0.99)
    assert(r(1).getLong(1) == 0L && r(1).isNullAt(2)
      && !r(1).getBoolean(3))
    // cell pruning: the identical-direction vector in another cell
    // never meets the eval set
    assert(r(2).getLong(1) == 0L && !r(2).getBoolean(3))
  }

  test("text quality features") {
    val r = TextOps.qualityFeatures(docs).where($"doc_id" === 0)
      .select("n_tokens", "n_stopwords", "stopword_ratio_micro6",
        "stopword_ratio").collect().head
    assert(r.getLong(0) == 9L)
    assert(r.getLong(1) == 2L) // "the" twice
    assert(r.getLong(2) == 222222L) // round(2/9 * 1e6) half-up, exact int
    assert(r.getDouble(3) == 222222L / 1e6) // derived double
  }

  test("langid picks en for english-markered text") {
    val r = TextOps.langId(Seq((0L, "the cat and the dog of the house"))
      .toDF("doc_id", "text")).select("lang_pred").collect().head
    assert(r.getString(0) == "en")
  }

  test("top ngrams ordering is (count desc, gram asc)") {
    val grams = TextOps.topNgrams(docs, n = 2, k = 3).collect()
    assert(grams.head.getString(0) == "brown fox") // ties broken by name
    assert(grams.head.getLong(1) == 3L)
  }

  test("rolling fingerprints are shift-invariant for shared passages") {
    val docs = Seq(
      (1L, "shared passage of tokens here plus suffix one"),
      (2L, "prefix words then shared passage of tokens here"))
      .toDF("doc_id", "text")
    val fps = docs
      .select(col("doc_id"), TextOps.tokens(lower(col("text"))).as("_t"))
      .select(col("doc_id"), TextOps.tokenHashes(col("_t")).as("_h"))
      .select(col("doc_id"),
        explode(TextOps.rollingFromHashes(col("_h"), 3)).as("fp"))
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(1)).toSet).toMap
    // the 5-token shared passage yields 3 identical window
    // fingerprints REGARDLESS of its offset in each document — the
    // property shingle-position hashes don't have
    assert((fps(1L) intersect fps(2L)).size == 3)
    // short docs produce no windows instead of erroring
    val short = Seq((3L, "one two")).toDF("doc_id", "text")
      .select(TextOps.rollingFromHashes(
        TextOps.tokenHashes(TextOps.tokens(col("text"))), 3).as("w"))
      .head().getSeq[Long](0)
    assert(short.isEmpty)
  }

  test("multimodal feature-extract, resize, frame-sample shapes") {
    val df = Multimodal.withPayload(Seq(
      (1L, "abcdefghijklmnopqrstuvwxyz"),
      (2L, "0123")).toDF("doc_id", "text"))
    val feats = Multimodal.extractFeatures(spark, df, dim = 8).collect()
    assert(feats.length == 2
      && feats.forall(_.features.length == 8)
      && feats.forall(_.features.forall(f => f >= 0f && f <= 1f)))
    // deterministic across runs
    assert(Multimodal.extractFeatures(spark, df, dim = 8).collect()
      .map(_.features.toSeq).toSeq
      == feats.map(_.features.toSeq).toSeq)
    val rs = Multimodal.resize(spark, df, width = 4, height = 3)
      .collect()
    assert(rs.forall(r => r.payload.length == 12
      && r.width == 4 && r.height == 3))
    // frame sampling: 26 bytes / frameSize 5 -> frames 0..5; every 2nd
    // kept -> original indices 0, 2, 4
    val frames = Multimodal.sampleFrames(spark, df.where(col("doc_id")
      === 1L), frameSize = 5, every = 2).collect().sortBy(_.frame_idx)
    assert(frames.map(_.frame_idx).toSeq == Seq(0, 2, 4))
    assert(frames.head.frame_payload.toSeq
      == "abcde".getBytes("UTF-8").toSeq)
  }

  test("ImageIoDecoder decodes real PNG/JPEG geometry and channels") {
    // synthesize genuine image bytes with the JDK encoder, decode with
    // the pipeline's codec: geometry must round-trip exactly
    val png = Multimodal.pngPayload(7, 5, seed = 42L)
    assert(Multimodal.sniffKind(png) == "png")
    val dec = new Multimodal.ImageIoDecoder
    val m = dec.decode(1L, png)
    assert((m.kind, m.width, m.height, m.channels) == ("png", 7, 5, 3))
    assert(m.byte_len == png.length.toLong)
    // JPEG through the same codec (different reader plugin)
    val img = new java.awt.image.BufferedImage(9, 4,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    val mj = dec.decode(2L, bos.toByteArray)
    assert((mj.kind, mj.width, mj.height, mj.channels)
      == ("jpeg", 9, 4, 3))
    // truncated payload degrades, never throws
    val mt = dec.decode(3L, png.take(16))
    assert(mt.kind == "png" && mt.width == 0 && mt.channels == 0)
    assert(dec.decode(4L, "not an image".getBytes).kind == "bin")
  }

  test("resizeImages rescales real pixels and re-encodes") {
    val df = Seq((1L, Multimodal.pngPayload(8, 6, seed = 7L)),
      (2L, Multimodal.pngPayload(3, 3, seed = 9L)))
      .toDF("doc_id", "payload")
    val out = Multimodal.resizeImages(spark, df, width = 4, height = 2)
      .collect().sortBy(_.doc_id)
    assert(out.forall(r => r.width == 4 && r.height == 2))
    // the re-encoded payload is itself a decodable PNG of the target
    // geometry — the decode->scale->encode loop is closed
    val dec = new Multimodal.ImageIoDecoder
    out.foreach { r =>
      val m = dec.decode(r.doc_id, r.payload)
      assert((m.kind, m.width, m.height) == ("png", 4, 2))
    }
    // nearest-neighbor on an upscale of a 1x1 image is constant color
    val one = Seq((3L, Multimodal.pngPayload(1, 1, seed = 5L)))
      .toDF("doc_id", "payload")
    val up = Multimodal.resizeImages(spark, one, 2, 2).collect().head
    val src = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(
        Multimodal.pngPayload(1, 1, seed = 5L)))
    val dst = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(up.payload))
    val expect = src.getRGB(0, 0)
    assert((0 until 2).forall(x => (0 until 2).forall(y =>
      dst.getRGB(x, y) == expect)))
    // the mapping is the textbook floor NN: dst(x,y) = src(x*sw/dw,
    // y*sh/dh) — pinned so the m_resize oracle's arithmetic stays true
    val big = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(
        Multimodal.pngPayload(8, 6, seed = 7L)))
    val down = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(out.head.payload))
    assert((0 until 4).forall(x => (0 until 2).forall(y =>
      down.getRGB(x, y) == big.getRGB(x * 8 / 4, y * 6 / 2))))
  }

  test("withImagePayload geometry derives from row fields end-to-end") {
    val df = Seq((10L, "abcd"), (11L, "ab")).toDF("doc_id", "text")
    val media = Multimodal.withImagePayload(spark, df, "doc_id",
      org.apache.spark.sql.functions.lit(1) +
        org.apache.spark.sql.functions.length(col("text")) % 13,
      org.apache.spark.sql.functions.lit(1) + (col("doc_id") % 11))
    val meta = Multimodal.decodeMeta(spark, media,
      new Multimodal.ImageIoDecoder).collect().sortBy(_.doc_id)
    assert(meta.map(m => (m.doc_id, m.width, m.height, m.channels))
      .toSeq == Seq((10L, 5, 11, 3), (11L, 3, 1, 3)))
  }

  test("wav payload/parse round-trips PCM geometry through real " +
      "RIFF bytes") {
    val wav = Multimodal.wavPayload(16000, 2, 100, seed = 7L)
    assert(Multimodal.sniffKind(wav) == "wav")
    assert(wav.length == 44 + 100 * 2 * 2)
    assert(Multimodal.parseWav(wav)
      == Some(("pcm_s16le", 16000, 2, 100L)))
    // determinism: same inputs, same bytes
    assert(wav.sameElements(Multimodal.wavPayload(16000, 2, 100, 7L)))
    // zero-length audio is a legal container
    assert(Multimodal.parseWav(Multimodal.wavPayload(8000, 1, 0, 1L))
      == Some(("pcm_s16le", 8000, 1, 0L)))
  }

  test("pcm feature vectors close the multimodal -> embedding -> " +
      "similarity-search path") {
    import spark.implicits._
    // docs 1 and 2 carry IDENTICAL audio; 3 and 4 differ
    val same = Multimodal.wavPayload(16000, 1, 400, seed = 42L)
    val df = Seq(
      (1L, same), (2L, same),
      (3L, Multimodal.wavPayload(16000, 1, 400, seed = 7L)),
      (4L, Multimodal.wavPayload(8000, 2, 300, seed = 9L)))
      .toDF("doc_id", "payload")
    val emb = Multimodal.pcmFeatureVector(spark, df, dim = 8)
    val vecs = emb.as[(Long, Array[Float])].collect().toMap
    assert(vecs.keySet == Set(1L, 2L, 3L, 4L))
    assert(vecs.values.forall(v =>
      v.length == 8 && v.forall(f => f >= 0f && f <= 1f)))
    assert(vecs(1L).toSeq == vecs(2L).toSeq) // same audio, same vector
    assert(vecs(1L).toSeq != vecs(3L).toSeq)
    // the vectors feed the ANN stack directly: doc 2 is doc 1's
    // nearest neighbor at cosine 1
    val top = Similarity.bruteForceTopK(emb, queryId = 1L, k = 1,
      idCol = "doc_id", vecCol = "embedding").collect()
    assert(top.length == 1 && top.head.getLong(0) == 2L
      && top.head.getDouble(1) == 1.0)
    // junk payloads degrade to the zero vector, never throw
    val junk = Seq((9L, "no audio".getBytes)).toDF("doc_id", "payload")
    assert(Multimodal.pcmFeatureVector(spark, junk, dim = 4)
      .as[(Long, Array[Float])].collect().head._2.toSeq
      == Seq(0f, 0f, 0f, 0f))
  }

  test("pixel stats match direct recompute of the deterministic " +
      "raster through the lossless PNG round-trip") {
    import spark.implicits._
    val df = Seq((2L, 3, 2), (3L, 1, 1)).toDF("doc_id", "_w", "_h")
    val media = Multimodal.withImagePayload(spark, df, "doc_id",
      col("_w"), col("_h"))
    val got = Multimodal.pixelStats(spark, media).collect().sortBy(_.doc_id)
    def expect(id: Long, w: Int, h: Int) = {
      val vs = for (y <- 0 until h; x <- 0 until w)
        yield (id + x * 31L + y * 131L) & 0xffffffL
      (id, (w * h).toLong, vs.map(v => (v >> 16) & 0xff).sum,
        vs.map(v => (v >> 8) & 0xff).sum, vs.map(_ & 0xffL).sum)
    }
    assert(got.map(p => (p.doc_id, p.n_px, p.sum_r, p.sum_g, p.sum_b))
      .toSeq == Seq(expect(2L, 3, 2), expect(3L, 1, 1)))
    val junk = Seq((9L, "not an image".getBytes)).toDF("doc_id", "payload")
    assert(Multimodal.pixelStats(spark, junk).collect().toSeq
      == Seq(Multimodal.PixelStats(9L, 0L, 0L, 0L, 0L)))
  }

  test("pcm feature extraction matches direct recompute of the " +
      "deterministic sample stream") {
    import spark.implicits._
    val df = Seq((5L, 7), (6L, 1), (7L, 250)).toDF("doc_id", "_n")
    val media = Multimodal.withAudioPayload(spark, df, "doc_id",
      org.apache.spark.sql.functions.lit(16000),
      org.apache.spark.sql.functions.lit(1) + (col("doc_id") % 2),
      col("_n"))
    val got = Multimodal.pcmFeatures(spark, media)
      .collect().sortBy(_.doc_id)
    // independent recompute of the Knuth-multiplicative sample values
    def expect(id: Long, n: Int, ch: Int) = {
      val vs = (0 until n * ch)
        .map(i => (((id + i) * 2654435761L >>> 16) & 0xffff).toShort.toInt)
      (id, (n * ch).toLong, vs.map(_.toLong).sum,
        vs.map(v => math.abs(v.toLong)).max,
        vs.sliding(2).count(p => p.size == 2 && (p(0) < 0) != (p(1) < 0))
          .toLong)
    }
    assert(got.map(f =>
        (f.doc_id, f.n_pcm, f.sum_pcm, f.peak_abs, f.zero_cross)).toSeq
      == Seq(expect(5L, 7, 2), expect(6L, 1, 1), expect(7L, 250, 2)))
    // non-WAV payload degrades to zeros, never throws
    val junk = Seq((9L, "not audio".getBytes)).toDF("doc_id", "payload")
    assert(Multimodal.pcmFeatures(spark, junk).collect().toSeq
      == Seq(Multimodal.AudioPcmFeatures(9L, 0L, 0L, 0L, 0L)))
  }

  test("video frame sampling reads stsz/mdat geometry and matches " +
      "direct recompute of the sampled spans") {
    import spark.implicits._
    val df = Seq((3L, 1), (4L, 15)).toDF("doc_id", "_n")
    val media = Multimodal.withVideoPayload(spark, df, "doc_id",
      org.apache.spark.sql.functions.lit(32),
      org.apache.spark.sql.functions.lit(16), col("_n"))
    val got = Multimodal.sampleVideoFrames(spark, media, every = 4)
      .collect().sortBy(f => (f.doc_id, f.frame_idx))
    def expect(id: Long, n: Int) =
      (0 until n by 4).map { f =>
        val bs = (0 until Multimodal.Mp4FrameBytes).map(j =>
          (((id + f * Multimodal.Mp4FrameBytes + j) * 2654435761L
            >>> 16) & 0xff).toLong)
        (id, f.toLong, bs.sum, bs.head)
      }
    assert(got.map(f =>
        (f.doc_id, f.frame_idx, f.byte_sum, f.first_byte)).toSeq
      == expect(3L, 1) ++ expect(4L, 15))
    // zero-frame container yields no rows; junk yields no rows
    val empty = Multimodal.withVideoPayload(spark,
      Seq((8L, 0)).toDF("doc_id", "_n"),
      "doc_id", org.apache.spark.sql.functions.lit(16),
      org.apache.spark.sql.functions.lit(16), col("_n"))
    assert(Multimodal.sampleVideoFrames(spark, empty, 1).count() == 0)
    val junk = Seq((9L, "not video".getBytes)).toDF("doc_id", "payload")
    assert(Multimodal.sampleVideoFrames(spark, junk, 1).count() == 0)
  }

  test("wav parser walks unknown chunks, honors odd-size padding, " +
      "and degrades on malformed input") {
    // hand-build: RIFF [ LIST(odd size -> pad byte) fmt data ]
    def chunk(id: String, body: Array[Byte]): Array[Byte] = {
      val b = java.nio.ByteBuffer
        .allocate(8 + body.length + (body.length & 1))
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put(id.getBytes("US-ASCII")); b.putInt(body.length); b.put(body)
      b.array()
    }
    val canonical = Multimodal.wavPayload(44100, 1, 3, 2L)
    val fmtAndData = canonical.drop(12) // fmt + data chunks verbatim
    val list = chunk("LIST", "INFOx".getBytes) // 5 bytes: odd, padded
    val reordered = java.nio.ByteBuffer
      .allocate(12 + list.length + fmtAndData.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    reordered.put("RIFF".getBytes("US-ASCII"))
    reordered.putInt(4 + list.length + fmtAndData.length)
    reordered.put("WAVE".getBytes("US-ASCII"))
    reordered.put(list); reordered.put(fmtAndData)
    assert(Multimodal.parseWav(reordered.array())
      == Some(("pcm_s16le", 44100, 1, 3L)))
    // truncated mid-chunk / foreign bytes / data-before-fmt: None
    assert(Multimodal.parseWav(canonical.take(30)).isEmpty)
    assert(Multimodal.parseWav("RIFFxxxxWAVE".getBytes).isEmpty)
    assert(Multimodal.parseWav("not audio at all".getBytes).isEmpty)
    val dataFirst = java.nio.ByteBuffer.allocate(12 + 8 + 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    dataFirst.put("RIFF".getBytes("US-ASCII")); dataFirst.putInt(16)
    dataFirst.put("WAVE".getBytes("US-ASCII"))
    dataFirst.put(chunk("data", Array[Byte](1, 2, 3, 4)))
    assert(Multimodal.parseWav(dataFirst.array()).isEmpty)
  }

  test("audio decode pipeline: row-field geometry round-trips and " +
      "non-wav payloads degrade in place") {
    val df = Seq((0L, "abcd"), (1L, "ab"), (2L, "abcdefg"))
      .toDF("doc_id", "text")
    val rate = org.apache.spark.sql.functions
      .when(col("doc_id") % 3 === 0, 8000)
      .when(col("doc_id") % 3 === 1, 16000).otherwise(44100)
    val media = Multimodal.withAudioPayload(spark, df, "doc_id", rate,
      org.apache.spark.sql.functions.lit(1) + (col("doc_id") % 2),
      org.apache.spark.sql.functions.lit(1) +
        org.apache.spark.sql.functions.length(col("text")) % 500)
    val meta = Multimodal.decodeAudioMeta(spark, media)
      .collect().sortBy(_.doc_id)
    assert(meta.map(m => (m.doc_id, m.kind, m.codec, m.sample_rate,
      m.channels, m.n_samples, m.duration_us, m.byte_len)).toSeq == Seq(
      (0L, "wav", "pcm_s16le", 8000, 1, 5L, 625L, 44L + 5 * 1 * 2),
      (1L, "wav", "pcm_s16le", 16000, 2, 3L, 187L, 44L + 3 * 2 * 2),
      (2L, "wav", "pcm_s16le", 44100, 1, 8L, 181L, 44L + 8 * 1 * 2)))
    // a text payload through the same decoder: sniffed kind, zeros
    val degraded = Multimodal.decodeAudioMeta(spark,
      Multimodal.withPayload(df)).collect().sortBy(_.doc_id).head
    assert(degraded.kind == "bin" && degraded.sample_rate == 0
      && degraded.n_samples == 0L)
  }

  test("mp4 payload/parse round-trips geometry through real ISO-BMFF " +
      "bytes") {
    val mp4 = Multimodal.mp4Payload(320, 240, nFrames = 30, seed = 7L)
    assert(Multimodal.sniffKind(mp4) == "mp4")
    // container framing arithmetic: fixed box overhead + mdat body
    assert(mp4.length
      == Multimodal.Mp4FixedBytes + 30 * Multimodal.Mp4FrameBytes)
    // 30 frames at 3000/90000 ticks = exactly 1 s
    assert(Multimodal.parseMp4(mp4)
      == Some(("isom", "avc1", 320, 240, 30L, 1000000L)))
    // determinism: same inputs, same bytes
    assert(mp4.sameElements(Multimodal.mp4Payload(320, 240, 30, 7L)))
    // zero-frame video is a legal container
    assert(Multimodal.parseMp4(Multimodal.mp4Payload(16, 16, 0, 1L))
      == Some(("isom", "avc1", 16, 16, 0L, 0L)))
  }

  test("mp4 parser handles largesize/to-eof boxes and degrades on " +
      "malformed input") {
    val canonical = Multimodal.mp4Payload(64, 48, 2, seed = 3L)
    // rewrite the trailing mdat header to the 64-bit largesize form:
    // size=1 escape + 8-byte size after the fourcc
    val mdatAt = canonical.length - 8 - 2 * Multimodal.Mp4FrameBytes
    assert(new String(canonical, mdatAt + 4, 4, "US-ASCII") == "mdat")
    val body = canonical.drop(mdatAt + 8)
    val large = java.nio.ByteBuffer.allocate(16 + body.length)
    large.putInt(1)
    large.put("mdat".getBytes("US-ASCII"))
    large.putLong(16L + body.length)
    large.put(body)
    val rewritten = canonical.take(mdatAt) ++ large.array()
    assert(Multimodal.parseMp4(rewritten)
      == Some(("isom", "avc1", 64, 48, 2L, 66666L)))
    // size=0 (to end of file) on the last box is also legal
    val toEof = canonical.clone()
    java.nio.ByteBuffer.wrap(toEof).putInt(mdatAt, 0)
    assert(Multimodal.parseMp4(toEof)
      == Some(("isom", "avc1", 64, 48, 2L, 66666L)))
    // truncated mid-box / foreign bytes / box overrunning file: None
    assert(Multimodal.parseMp4(canonical.take(40)).isEmpty)
    assert(Multimodal.parseMp4("not video at all".getBytes).isEmpty)
    val overrun = canonical.clone()
    java.nio.ByteBuffer.wrap(overrun)
      .putInt(mdatAt, canonical.length) // mdat claims more than exists
    assert(Multimodal.parseMp4(overrun).isEmpty)
  }

  test("frame sampling degrades to no rows on multi-track stsz " +
      "(ambiguous sample geometry)") {
    // a video+audio file carries one stsz per track; pairing the
    // LAST stsz seen with the mdat would sample frame spans with the
    // wrong track's sample size — wrong-but-plausible features. The
    // walker must degrade to None when more than one stsz appears.
    import spark.implicits._
    val canonical = Multimodal.mp4Payload(64, 48, 4, seed = 11L)
    val mdatAt =
      canonical.length - 8 - 4 * Multimodal.Mp4FrameBytes
    assert(new String(canonical, mdatAt + 4, 4, "US-ASCII") == "mdat")
    // a second top-level stsz (20 bytes: hdr + ver/flags + size=4,
    // count=2 — 8 bytes, fits the mdat, so only the multi-track
    // guard rejects it)
    val extra = java.nio.ByteBuffer.allocate(20)
    extra.putInt(20); extra.put("stsz".getBytes("US-ASCII"))
    extra.putInt(0); extra.putInt(4); extra.putInt(2)
    val twoTracks =
      canonical.take(mdatAt) ++ extra.array() ++ canonical.drop(mdatAt)
    assert(Multimodal.sniffKind(twoTracks) == "mp4")
    val df = Seq((1L, twoTracks), (2L, canonical))
      .toDF("doc_id", "payload")
    val rows = Multimodal.sampleVideoFrames(spark, df, 1).collect()
    // the single-track doc still samples; the ambiguous one degrades
    assert(rows.nonEmpty && rows.forall(_.doc_id == 2L))
  }

  test("container parsers never throw: every truncation and " +
      "single-byte corruption parses to Some or None") {
    // a 100 TB corpus always carries truncated and bit-rotted files;
    // the decode contract is degrade-in-place, never a stage kill
    val wav = Multimodal.wavPayload(16000, 2, 40, seed = 9L)
    val mp4 = Multimodal.mp4Payload(48, 32, 7, seed = 9L)
    (0 until wav.length).foreach { n =>
      Multimodal.parseWav(wav.take(n)) // must not throw
    }
    (0 until mp4.length).foreach { n =>
      Multimodal.parseMp4(mp4.take(n))
    }
    val rnd = new scala.util.Random(7)
    (0 until 500).foreach { _ =>
      val m = mp4.clone(); val w = wav.clone()
      m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte
      w(rnd.nextInt(w.length)) = rnd.nextInt(256).toByte
      Multimodal.parseMp4(m)
      Multimodal.parseWav(w)
    }
    // the FEATURE walkers (pcm16Span / mp4FrameGeom) hold the same
    // contract — fuzz them through their public Spark faces, all
    // variants in one job each so the degrade path runs inside tasks
    import spark.implicits._
    def variants(b: Array[Byte]): Seq[Array[Byte]] =
      (0 until b.length).map(b.take) ++ (0 until 500).map { _ =>
        val c = b.clone()
        c(rnd.nextInt(c.length)) = rnd.nextInt(256).toByte
        c
      }
    val wavDf = variants(wav).zipWithIndex
      .map { case (p, i) => (i.toLong, p) }.toDF("doc_id", "payload")
    val mp4Df = variants(mp4).zipWithIndex
      .map { case (p, i) => (i.toLong, p) }.toDF("doc_id", "payload")
    // counts just force execution; a throw inside a task fails here
    Multimodal.pcmFeatures(spark, wavDf).count()
    assert(Multimodal.sampleVideoFrames(spark, mp4Df, 2).count() >= 0)
    // adversarial depth: containers nested inside themselves cost
    // only 8 header bytes per level — an unbounded recursive walk
    // would StackOverflowError (an Error, past the degrade catch).
    // The walker's depth bound must reject this as malformed instead.
    val depth = 50000
    val ftyp = mp4.take(24) // the real ftyp box (sniff passes)
    val evil = new Array[Byte](ftyp.length + 8 * depth)
    System.arraycopy(ftyp, 0, evil, 0, ftyp.length)
    val bb = java.nio.ByteBuffer.wrap(evil)
    bb.position(ftyp.length)
    (0 until depth).foreach { i =>
      bb.putInt(8 * (depth - i)); bb.put("moov".getBytes("US-ASCII"))
    }
    assert(Multimodal.parseMp4(evil).isEmpty)
    val evilDf = Seq((1L, evil)).toDF("doc_id", "payload")
    assert(Multimodal.sampleVideoFrames(spark, evilDf, 1).count() == 0)
    // image feature/resize paths hold the same contract over real
    // PNG bytes (the JDK reader sees every truncation + corruption)
    val png = Multimodal.pngPayload(9, 7, seed = 9L)
    val pngDf = variants(png).zipWithIndex
      .map { case (p, i) => (i.toLong, p) }.toDF("doc_id", "payload")
    Multimodal.pixelStats(spark, pngDf).count()
    Multimodal.resizeImages(spark, pngDf, 3, 3).count()
  }

  test("video decode pipeline: row-field geometry round-trips and " +
      "non-mp4 payloads degrade in place") {
    val df = Seq((0L, "abcd"), (1L, "ab")).toDF("doc_id", "text")
    val media = Multimodal.withVideoPayload(spark, df, "doc_id",
      org.apache.spark.sql.functions.lit(16) * (lit(1) + col("doc_id") % 5),
      org.apache.spark.sql.functions.lit(16) * (lit(1) +
        org.apache.spark.sql.functions.length(col("text")) % 4),
      org.apache.spark.sql.functions.lit(1) +
        org.apache.spark.sql.functions.length(col("text")) % 240)
    val meta = Multimodal.decodeVideoMeta(spark, media)
      .collect().sortBy(_.doc_id)
    assert(meta.map(m => (m.doc_id, m.kind, m.brand, m.codec, m.width,
      m.height, m.n_frames, m.duration_us, m.byte_len)).toSeq == Seq(
      (0L, "mp4", "isom", "avc1", 16, 16, 5L, 166666L,
        Multimodal.Mp4FixedBytes + 5L * Multimodal.Mp4FrameBytes),
      (1L, "mp4", "isom", "avc1", 32, 48, 3L, 100000L,
        Multimodal.Mp4FixedBytes + 3L * Multimodal.Mp4FrameBytes)))
    // a text payload through the same decoder: sniffed kind, zeros
    val degraded = Multimodal.decodeVideoMeta(spark,
      Multimodal.withPayload(df)).collect().sortBy(_.doc_id).head
    assert(degraded.kind == "bin" && degraded.width == 0
      && degraded.n_frames == 0L)
  }

  test("multimodal stub decode is deterministic and partition-local") {
    val meta = Multimodal.decodeMeta(spark, Multimodal.withPayload(docs))
      .collect().sortBy(_.doc_id)
    assert(meta.length == 5)
    val m0 = meta.head
    assert(m0.byte_len == 43L)
    assert(m0.width == 32 + 't'.toInt % 32)
    assert(m0.checksum.length == 32)
    // identical payloads → identical metadata
    assert(m0.checksum == meta(3).checksum)
  }
}
