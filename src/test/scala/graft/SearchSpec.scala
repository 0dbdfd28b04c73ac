package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.pipeline.Search
import graft.util.JobLog

/** BM25 retrieval on crafted micro-fixtures: hand-computed ranking,
  * the batch ≡ single contract, idf ordering, and the scale-shape
  * guards (query-term filter before the first shuffle; broadcast
  * df/stats/query joins). */
class SearchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // df("spark") = 3, df("flink") = 1; doc 2 repeats "spark"
  private lazy val docs = Seq(
    (0L, "spark runs fast"),
    (1L, "spark and flink stream"),
    (2L, "spark spark spark engine"),
    (3L, "ducks swim in ponds"),
    (4L, "")
  ).toDF("doc_id", "text")

  test("single-term ranking follows tf with length normalization") {
    val r = Search.bm25TopK(docs, "spark", k = 10).collect()
    // only the three docs containing the term appear
    assert(r.map(_.getAs[Long]("doc_id")).toSet == Set(0L, 1L, 2L))
    // doc 2 (tf=3) outranks doc 0 (tf=1, short) outranks doc 1 (tf=1,
    // longer doc → stronger length penalty)
    assert(r.map(_.getAs[Long]("doc_id")).toSeq == Seq(2L, 0L, 1L))
    assert(r.forall(_.getAs[Long]("n_terms") == 1L))
    assert(r.forall(_.getAs[Long]("score_mu") > 0L))
  }

  test("rarer terms carry higher idf at equal tf") {
    // doc 1 holds both terms once each in the same document (same dl),
    // so the per-term scores differ only through df
    val both = Search.bm25TopKBatch(docs,
      Seq((10L, "spark"), (20L, "flink")), k = 10)
      .where(col("doc_id") === 1L)
      .collect().map(r => (r.getAs[Long]("query_id"),
        r.getAs[Long]("score_mu"))).toMap
    assert(both(20L) > both(10L)) // df 1 beats df 3
  }

  test("multi-term scores sum per matched term and rank the best doc " +
      "first; k truncates deterministically") {
    val r = Search.bm25TopK(docs, "spark flink", k = 2).collect()
    assert(r.length == 2)
    // doc 1 matches both terms (flink's high idf dominates)
    assert(r.head.getAs[Long]("doc_id") == 1L)
    assert(r.head.getAs[Long]("n_terms") == 2L)
  }

  test("batch over one query equals the single-query face") {
    val single = Search.bm25TopK(docs, "spark engine", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val batch = Search.bm25TopKBatch(docs, Seq((7L, "spark engine")), k = 3)
      .drop("query_id").orderBy(col("score_mu").desc, col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(single.toSeq == batch.toSeq)
  }

  test("unknown terms match nothing; empty query errors") {
    assert(Search.bm25TopK(docs, "zebra", k = 5).count() == 0L)
    intercept[IllegalArgumentException] {
      Search.bm25TopK(docs, "   ", k = 5)
    }
  }

  test("scale shape: term filter reaches the corpus side before the " +
      "first exchange, and df/stats/query maps broadcast") {
    val plan = Search.bm25TopKBatch(docs,
      Seq((1L, "spark"), (2L, "flink stream")), k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"))
    assert(!plan.contains("SortMergeJoin"),
      "corpus-side postings must never sort-merge against the tiny sides")
    // the isin() term filter sits under the generate/explode, i.e. in
    // the scan stage — look for the literal term set in a Filter above
    // the Generate but below any Exchange boundary marker ordering:
    // cheap structural proxy: the filter string appears in the plan
    assert(plan.contains("spark"))
  }

  test("tfidf keywords rank distinctive terms above ubiquitous ones") {
    val corpus = Seq(
      (0L, "common zebra common"),
      (1L, "common words only"),
      (2L, "common words again")
    ).toDF("doc_id", "text")
    val r = Search.tfidfTopTerms(corpus, k = 2).collect()
      .groupBy(_.getAs[Long]("doc_id"))
    // "common" appears in every doc → idf ln(4/4) = 0 → score 0;
    // "zebra" (df 1) tops doc 0 despite tf 1 vs common's tf 2
    assert(r(0L).head.getAs[String]("term") == "zebra")
    assert(r(0L).head.getAs[Long]("tfidf_mu") > 0L)
    assert(r(0L).find(_.getAs[String]("term") == "common")
      .get.getAs[Long]("tfidf_mu") == 0L)
    // k truncates: 2 keywords per doc max
    assert(r.values.forall(_.length <= 2))
  }

  test("lm scoring: repeated fluent bigrams beat unseen ones; short " +
      "docs score zeros; held-out scoring uses the train LM") {
    import graft.pipeline.TextOps
    val corpus = Seq(
      (0L, "the cat sat"),
      (1L, "the cat sat"),
      (2L, "the cat sat"),
      (3L, "sat zebra the"),  // bigrams never seen elsewhere
      (4L, "x")               // too short: zero bigrams
    ).toDF("doc_id", "text")
    val r = TextOps.lmScore(corpus).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("n_bigrams"), x.getAs[Long]("logprob_mu"),
          x.getAs[Long]("avg_logprob_mu"))).toMap
    assert(r(4L) == ((0L, 0L, 0L)))
    assert(r(0L) == r(1L) && r(1L) == r(2L))
    // the common sentence is much more probable than the rare one
    assert(r(0L)._3 > r(3L)._3)
    assert(r(3L)._2 < 0L) // log-probs are negative micro-units
    // held-out doc with an unseen bigram start falls back to 1/V mass
    val heldOut = Seq((9L, "unseen words here")).toDF("doc_id", "text")
    val h = TextOps.lmScore(heldOut, train = Some(corpus)).collect()
    assert(h.head.getAs[Long]("n_bigrams") == 2L)
    assert(h.head.getAs[Long]("logprob_mu") < 0L)
  }

  test("postings with terms=None build the full inverted index") {
    val idx = Search.postings(docs, None).collect()
    // 13 distinct (doc, term) pairs across the non-empty docs
    assert(idx.map(r => (r.getAs[Long]("doc_id"),
      r.getAs[String]("term"))).toSet.size == idx.length)
    assert(idx.filter(_.getAs[Long]("doc_id") == 2L)
      .find(_.getAs[String]("term") == "spark")
      .get.getAs[Long]("tf") == 3L)
  }

  test("hybrid RRF fuses lexical and vector arms with exact integers") {
    // vec query 9 = (1.0, 0.05): vector top-2 = doc 0, doc 3;
    // lexical top-2 for "spark" = doc 2 (tf 3), doc 0 (short)
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)),
      (3L, Array(0.9f, 0.1f)),
      (2L, Array(-1.0f, 0.0f)),
      (9L, Array(1.0f, 0.05f))
    ).toDF("vec_id", "embedding")
    val r = Search.hybridTopK(docs, emb, "spark", queryVecId = 9L,
      k = 10, kCand = 2).collect()
    assert(r.map(_.getAs[Long]("doc_id")).toSeq == Seq(0L, 2L, 3L))
    val byId = r.map(x => x.getAs[Long]("doc_id") ->
      x.getAs[Long]("rrf_mu")).toMap
    // doc 0 is in BOTH arms: 1e6 div (60+2) + 1e6 div (60+1)
    assert(byId(0L) == 1000000L / 62 + 1000000L / 61)
    assert(byId(2L) == 1000000L / 61) // lexical rank 1 only
    assert(byId(3L) == 1000000L / 62) // vector rank 2 only
    // the query's own vector never surfaces
    assert(!byId.contains(9L))
    // single-arm rows carry a null rank on the missing side
    assert(r.find(_.getAs[Long]("doc_id") == 2L).get.isNullAt(
      r.head.fieldIndex("vec_rank")))
  }

  // --- persisted index lifecycle -----------------------------------------

  private def tmpIdx(): String =
    java.nio.file.Files.createTempDirectory("bm25idx").toString + "/idx"

  private def serve(dir: String, qs: Seq[(Long, String)], k: Int) =
    Search.bm25TopKBatchFromIndex(spark, dir, qs, k)
      .collect().map(_.toString).sorted.toSeq

  private def inline(qs: Seq[(Long, String)], k: Int) =
    Search.bm25TopKBatch(docs, qs, k)
      .collect().map(_.toString).sorted.toSeq

  private val queries = Seq((1L, "spark flink"), (2L, "ducks engine"))

  /** The index's live manifest. */
  private def manifest(dir: String): graft.util.Manifest =
    new graft.util.ManifestLog(new org.apache.hadoop.fs.Path(dir),
      spark.sparkContext.hadoopConfiguration,
      Map("postings" -> Seq("bucket"))).latest.get

  /** The rows of the listed postings files (of `buckets`, default all). */
  private def storedPostings(dir: String,
      buckets: Int => Boolean = _ => true) =
    spark.read.parquet(manifest(dir).files
      .filter(f => buckets(f.part("bucket").toInt))
      .map(f => s"$dir/${f.path}"): _*)

  /** Listed files per bucket. */
  private def bucketFiles(dir: String): Map[Int, Seq[graft.util.DataFile]] =
    manifest(dir).files.groupBy(_.part("bucket").toInt)

  test("stored-index serve equals inline BM25 at every k") {
    val dir = tmpIdx()
    Search.writeBm25Index(docs, dir, nBuckets = 4)
    (1 to 6).foreach { k =>
      assert(serve(dir, queries, k) == inline(queries, k), s"k=$k")
    }
    // single-query face too
    val one = Search.bm25TopKFromIndex(spark, dir, "spark flink", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val oneInline = Search.bm25TopK(docs, "spark flink", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(one.toSeq == oneInline.toSeq)
  }

  test("append extends the index: build(evens) + append(odds) serves " +
      "exactly like inline over the whole corpus, before and after " +
      "compaction; a replayed duplicate append heals at serve AND at " +
      "compact") {
    val dir = tmpIdx()
    val evens = docs.where(col("doc_id") % 2 === 0)
    val odds = docs.where(col("doc_id") % 2 === 1)
    Search.writeBm25Index(evens, dir, nBuckets = 4)
    Search.appendToBm25Index(odds, dir)
    val want = inline(queries, 5)
    assert(serve(dir, queries, 5) == want, "append-extended serve")
    // a replayed append: identical postings rows + an identical stats
    // partial — the serve's dropDuplicates + stats distinct() heal it
    Search.appendToBm25Index(odds, dir)
    assert(serve(dir, queries, 5) == want, "replayed append at serve")
    // compaction heals the stored layout too (any-copy dedup + stats
    // fold to one row) and answers are unchanged
    Search.compactBm25Index(spark, dir)
    assert(serve(dir, queries, 5) == want, "post-compact serve")
    assert(manifest(dir).header.count(_.head == "stats") == 1,
      "stats partials fold to one exact row")
    val posts = storedPostings(dir)
    assert(posts.count() ==
      posts.dropDuplicates("term", "doc_id").count(),
      "compaction removed the replayed duplicates")
    // idempotent on a clean index; loud on a typo'd dir
    Search.compactBm25Index(spark, dir)
    assert(serve(dir, queries, 5) == want)
    val e = intercept[IllegalArgumentException] {
      Search.compactBm25Index(spark, s"$dir/definitely-missing")
    }
    assert(e.getMessage.contains("no BM25 index at"))
    // an append to a typo'd dir fails the same way and creates nothing
    intercept[IllegalArgumentException] {
      Search.appendToBm25Index(odds, s"$dir-definitely-missing")
    }
    assert(!new java.io.File(s"$dir-definitely-missing").exists())
  }

  test("postings folds are file-size-aware: compact emits " +
      "~ceil(bucketBytes/target) files per bucket (bounded write " +
      "tasks, never one task per bucket), the fresh build sizes from " +
      "corpus bytes, and answers are unchanged") {
    val base = tmpIdx()
    val corpusDir = s"$base-corpus"
    docs.write.parquet(corpusDir)
    val stored = spark.read.parquet(corpusDir)
    val dir = s"$base/bm25"
    // fresh build: parquet-backed input + a toy target makes the
    // estimated per-bucket split engage (corpus bytes >> target)
    Search.writeBm25Index(stored, dir, nBuckets = 4,
      targetBytesPerFile = 64L)
    def fileCounts(): Map[Int, Int] =
      bucketFiles(dir).map { case (b, fs) => b -> fs.size }
    val fresh = fileCounts()
    assert(fresh.values.max >= 2,
      s"fresh build never split a bucket: $fresh")
    val want = serve(dir, queries, 5)
    assert(want == inline(queries, 5))
    // compact: EXACT per-bucket sizing from the listed files' bytes —
    // every bucket's file count stays within its sizedFileCount cap
    // and at least one bucket genuinely splits at this target
    val preBytes = bucketFiles(dir).map { case (b, fs) =>
      b -> fs.map(_.bytes).sum }
    // the manifest's byte counts are the files' on-disk lengths
    bucketFiles(dir).values.flatten.foreach { f =>
      assert(new java.io.File(s"$dir/${f.path}").length == f.bytes, f)
    }
    Search.compactBm25Index(spark, dir, targetBytesPerFile = 512L)
    val post = fileCounts()
    post.foreach { case (b, n) =>
      val cap = graft.util.Maint.sizedFileCount(preBytes(b), 512L)
      assert(n >= 1 && n <= cap,
        s"bucket $b: $n files vs sized cap $cap")
    }
    assert(post.values.max >= 2, s"compact never split a bucket: $post")
    assert(serve(dir, queries, 5) == want, "post-compact answers")
  }

  test("hybrid from indexes equals inline hybridTopK at every k and " +
      "never scans corpus text or raw embeddings") {
    // inline face: emb INCLUDES the query row (9) and excludes it
    // from candidates; index face: the index is built WITHOUT row 9
    // and queried with its vector at nprobe = kCells (exhaustive over
    // the index) — the configurations are semantically identical
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)),
      (3L, Array(0.9f, 0.1f)),
      (2L, Array(-1.0f, 0.0f)),
      (9L, Array(1.0f, 0.05f))
    ).toDF("vec_id", "embedding")
    val bm25 = tmpIdx()
    val ivf = tmpIdx()
    graft.pipeline.Search.writeBm25Index(docs, bm25, nBuckets = 4)
    graft.pipeline.Similarity.writeIvfIndex(
      emb.where(col("vec_id") =!= 9L), ivf, kCells = 2, iters = 2)
    (1 to 4).foreach { k =>
      val fromIdx = Search.hybridTopKFromIndex(spark, bm25, ivf,
          "spark", Seq(1.0f, 0.05f), k, kCand = 2, nprobe = 2)
        .collect().map(_.toString).toSeq
      val inline = Search.hybridTopK(docs, emb, "spark",
          queryVecId = 9L, k, kCand = 2)
        .select("doc_id", "rrf_mu")
        .collect().map(_.toString).toSeq
      // the from-index face carries (doc_id, rrf_mu) + rank columns;
      // compare the fused ranking and scores
      val fromIdx2 = Search.hybridTopKFromIndex(spark, bm25, ivf,
          "spark", Seq(1.0f, 0.05f), k, kCand = 2, nprobe = 2)
        .select("doc_id", "rrf_mu")
        .collect().map(_.toString).toSeq
      assert(fromIdx2 == inline, s"k=$k: $fromIdx2 vs $inline")
      assert(fromIdx.nonEmpty)
    }
    // plan gate: only the two indexes' trees are scanned
    val plan = Search.hybridTopKFromIndex(spark, bm25, ivf, "spark",
        Seq(1.0f, 0.05f), 3, kCand = 2, nprobe = 2)
      .queryExecution.executedPlan.toString
    val scans = plan.linesIterator.filter(_.contains("FileScan")).toSeq
    assert(scans.nonEmpty, plan)
    assert(scans.forall(l => l.contains("/postings")
      || l.contains("/stats") || l.contains("/cells/")), plan)
  }

  test("stored-index serve never reads corpus text: the only " +
      "FileScans are the index's own trees, with the bucket partition " +
      "pruned and the term predicate pushed") {
    val dir = tmpIdx()
    Search.writeBm25Index(docs, dir, nBuckets = 4)
    val plan = Search.bm25TopKBatchFromIndex(spark, dir, queries, 3)
      .queryExecution.executedPlan.toString
    val scans = plan.linesIterator.filter(_.contains("FileScan")).toSeq
    assert(scans.nonEmpty, plan)
    assert(scans.forall(l => l.contains("/postings")
      || l.contains("/stats")), plan)
    // the scan reads only the listed files of the query's buckets, and
    // the term-IN predicate is pushed into it
    val postScan = scans.filter(_.contains("/postings"))
    assert(postScan.exists(_.contains("PushedFilters: [In(term")), plan)
    val b = Search.bucketOfTerm("ducks", 4).toInt
    val read = Search.bm25TopKBatchFromIndex(spark, dir,
      Seq((1L, "ducks")), 3).inputFiles.toSet
    val want = bucketFiles(dir)(b)
      .map(f => new java.io.File(s"$dir/${f.path}").toURI.getPath).toSet
    assert(want.size < manifest(dir).files.size)
    assert(read.map(f => new java.net.URI(f).getPath) == want, read)
  }

  test("scale shape: the serve plan scans the postings tree ONCE and " +
      "its dedup + df window share one term-keyed exchange (the df " +
      "groupBy+broadcast self-join re-executed the whole tf lineage — " +
      "column pruning defeats AQE exchange reuse)") {
    val dir = tmpIdx()
    Search.writeBm25Index(docs, dir, nBuckets = 4)
    // pre-run executedPlan prints the single initial tree (no AQE
    // twins yet) — the exchange-count gate rule
    val plan = Search.bm25TopKBatchFromIndex(spark, dir, queries, 3)
      .queryExecution.executedPlan.toString
    val postScans = plan.linesIterator
      .filter(l => l.contains("FileScan") && l.contains("/postings"))
      .size
    assert(postScans == 1, s"postings scanned $postScans times:\n$plan")
    // exactly one term-keyed exchange feeds dedup + the df window
    val termEx = plan.linesIterator
      .filter(_.contains("Exchange hashpartitioning(term")).size
    assert(termEx == 1, s"term exchanges = $termEx:\n$plan")
  }

  test("compactBm25Buckets folds ONLY over-threshold buckets — " +
      "untouched bucket dirs keep their exact files — and serving " +
      "equals inline before and after, duplicates healed") {
    val dir = tmpIdx()
    Search.writeBm25Index(docs.where(col("doc_id") < 2), dir,
      nBuckets = 4)
    val append = docs.where(col("doc_id") >= 2)
    Search.appendToBm25Index(append, dir)
    Search.appendToBm25Index(append, dir) // replayed duplicate
    def files(): Map[String, Set[String]] =
      bucketFiles(dir).map { case (b, fs) =>
        s"bucket=$b" -> fs.map(_.path).toSet }
    val before = files()
    // threshold 2: only buckets the appends actually touched (3
    // files: build + 2 appends) fold; build-only buckets (1 file)
    // keep their exact files
    val folded = Search.compactBm25Buckets(spark, dir,
      maxPartFiles = 2)
    val after = files()
    val foldedNames = folded.map(b => s"bucket=$b").toSet
    assert(folded.nonEmpty, "nothing folded — fixture too small")
    before.keys.foreach { b =>
      if (foldedNames(b)) {
        assert(after(b) != before(b), s"$b not rewritten")
        assert(after(b).size < before(b).size, s"$b not folded")
      } else
        assert(after(b) == before(b), s"untouched $b changed files")
    }
    // duplicates are GONE from the folded buckets' stored rows (an
    // append-only bucket below threshold legitimately keeps its
    // replay duplicates until IT crosses — serve heals them)
    val foldedRows = storedPostings(dir, folded.toSet)
    assert(foldedRows.count() ==
      foldedRows.dropDuplicates("term", "doc_id").count())
    // serve ≡ inline at every k (the replay healed at the fold)
    (1 to 6).foreach { k =>
      assert(serve(dir, queries, k) == inline(queries, k), s"k=$k")
    }
    // second fold is a no-op: nothing above threshold anymore
    assert(Search.compactBm25Buckets(spark, dir,
      maxPartFiles = 2).isEmpty)
    assert(files() == after)
  }

  /** Every file and directory under `dir` with its length. */
  private def listing(dir: String): Seq[(String, Long)] = {
    val root = java.nio.file.Paths.get(dir)
    val s = java.nio.file.Files.walk(root)
    try s.iterator().asScala.toSeq.map(p =>
        root.relativize(p).toString -> p.toFile.length).sorted
    finally s.close()
  }

  /** Run `verb` with a crash injected at protocol point `point`. */
  private def crashAt(verb: String, point: String)(run: => Unit): Unit = {
    val boom = new RuntimeException(s"injected crash: $verb@$point")
    graft.util.Maint.crashHook = (v, p) =>
      if (v == verb && p == point) throw boom
    try assert(intercept[RuntimeException](run) eq boom)
    finally graft.util.Maint.crashHook = (_, _) => ()
  }

  /** No file outside the live manifest's list, one manifest left. */
  private def onlyLive(dir: String): Unit = {
    val live = manifest(dir).files.map(_.path).toSet
    val parquet = listing(dir).map(_._1)
      .filter(p => p.endsWith(".parquet") && !p.split('/').last
        .startsWith("."))
    assert(parquet.toSet == live, parquet)
    assert(new java.io.File(s"$dir/_manifest").list()
      .count(_.forall(_.isDigit)) == 1)
  }

  test("serving never mutates the index: each state a crash can leave " +
      "serves the clean answers with the directory listing unchanged, " +
      "and the next verb removes the leftovers") {
    val evens = docs.where(col("doc_id") % 2 === 0)
    val odds = docs.where(col("doc_id") % 2 === 1)
    val want = inline(queries, 5)
    // an uncommitted write directory holding extra postings: an
    // append of a new doc crashed between its data write and commit
    val dir = tmpIdx()
    Search.writeBm25Index(evens, dir, nBuckets = 4)
    Search.appendToBm25Index(odds, dir)
    val extra = Seq((7L, "spark flink ducks")).toDF("doc_id", "text")
    crashAt("appendToBm25Index", "written") {
      Search.appendToBm25Index(extra, dir)
    }
    assert(new java.io.File(s"$dir/postings").list()
      .exists(b => new java.io.File(s"$dir/postings/$b/v=3").isDirectory))
    val before = listing(dir)
    assert(serve(dir, queries, 5) == want)
    assert(listing(dir) == before, "the serve changed the directory")
    Search.compactBm25Index(spark, dir)
    onlyLive(dir)
    assert(serve(dir, queries, 5) == want)
    // a committed manifest next to its undeleted predecessor and the
    // files only the predecessor lists: a compact crashed after commit
    val dir2 = tmpIdx()
    Search.writeBm25Index(evens, dir2, nBuckets = 4)
    Search.appendToBm25Index(odds, dir2)
    val superseded = manifest(dir2).files
    crashAt("compactBm25Index", "committed") {
      Search.compactBm25Index(spark, dir2)
    }
    assert(new java.io.File(s"$dir2/_manifest").list()
      .count(_.forall(_.isDigit)) == 2)
    assert(superseded.forall(f =>
      new java.io.File(s"$dir2/${f.path}").exists))
    val before2 = listing(dir2)
    assert(serve(dir2, queries, 5) == want)
    assert(listing(dir2) == before2, "the serve changed the directory")
    Search.appendToBm25Index(extra, dir2)
    onlyLive(dir2)
    assert(superseded.forall(f =>
      !new java.io.File(s"$dir2/${f.path}").exists))
    assert(serve(dir2, queries, 5) == Search.bm25TopKBatch(
      docs.union(extra), queries, 5).collect().map(_.toString).sorted.toSeq)
  }

  test("serve job budget on a 64-bucket index: a warm serve launches no " +
      "leaf-listing job, and the first serve after an append launches " +
      "no more jobs than a warm one") {
    // ~200 distinct terms: postings in more buckets than Spark's
    // parallel-listing threshold (32 paths)
    val wide = (0 until 100).map(i => (i.toLong, s"w$i w${i + 100} spark"))
      .toDF("doc_id", "text")
    val qs = Seq((1L, "spark w3"), (2L, "w150"))
    val dir = tmpIdx()
    Search.writeBm25Index(wide.where(col("doc_id") < 60), dir)
    assert(bucketFiles(dir).size > 32)
    def serveJobs() = JobLog.record(spark.sparkContext) {
      Search.bm25TopKBatchFromIndex(spark, dir, qs, 5).collect()
    }._2
    serveJobs()
    val warm = serveJobs()
    assert(warm.nonEmpty)
    assert(!warm.exists(_.desc.startsWith("Listing leaf files")),
      warm.map(_.desc))
    Search.appendToBm25Index(wide.where(col("doc_id") >= 60), dir)
    val first = serveJobs()
    assert(first.size <= warm.size,
      s"first ${first.map(_.desc)} vs warm ${warm.map(_.desc)}")
    assert(serve(dir, qs, 5) == Search.bm25TopKBatch(wide, qs, 5)
      .collect().map(_.toString).sorted.toSeq)
  }

  test("every Spark job the append and the bucket fold launch names " +
      "its verb and step") {
    val dir = tmpIdx()
    Search.writeBm25Index(docs.where(col("doc_id") < 2), dir, nBuckets = 4)
    val (_, appendJobs) = JobLog.record(spark.sparkContext) {
      Search.appendToBm25Index(docs.where(col("doc_id") >= 2), dir)
    }
    val (folded, foldJobs) = JobLog.record(spark.sparkContext) {
      Search.compactBm25Buckets(spark, dir, maxPartFiles = 1)
    }
    assert(folded.nonEmpty && appendJobs.nonEmpty && foldJobs.nonEmpty)
    assert(appendJobs.forall(_.desc.startsWith("bm25:appendToBm25Index:")),
      appendJobs.map(_.desc))
    assert(foldJobs.forall(_.desc.startsWith("bm25:compactBm25Buckets:")),
      foldJobs.map(_.desc))
  }

  test("driver-side bucketOfTerm equals the engine's " +
      "pmod(xxhash64(term), n) for fuzzed terms and every stored " +
      "bucket count") {
    val terms = Seq("spark", "flink", "", "a", "Zz9", "tök",
      "élève", "😀mix", "word word", "tab\tsep",
      "0", "-1", "xxhash", "the") ++
      (0 until 200).map(i => s"t$i${"x" * (i % 7)}")
    for (n <- Seq(1, 4, 64, 997)) {
      val engine = terms.toDF("term")
        .select(col("term"),
          pmod(xxhash64(col("term")), lit(n.toLong)).as("b"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      terms.foreach { t =>
        assert(graft.pipeline.Search.bucketOfTerm(t, n) == engine(t),
          s"term '$t' nBuckets $n")
      }
    }
  }
}
