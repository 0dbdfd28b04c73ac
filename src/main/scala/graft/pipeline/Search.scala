package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.util.{DataFile, JobDesc, Maint, Manifest, ManifestLog}

/** Full-text retrieval over a document corpus — Okapi BM25 ranking
  * (Robertson & Walker SIGIR'94; the Lucene-style `ln(1 + ...)`
  * positive idf) as a Spark-native batch operator. A training-data
  * pipeline uses this to pull topical subsets out of a web-scale
  * corpus ("all documents about X"), to build retrieval-augmented
  * training examples, and to audit what a corpus contains.
  *
  * Scale shape (the 100 TB story):
  *   - The per-document work (tokenize, explode) happens in the scan
  *     stage at full parallelism, and the query-term filter is applied
  *     BEFORE the first shuffle — only postings for query terms ever
  *     leave a task. For a q-term query the shuffled volume is
  *     O(docs containing a query term), not O(corpus tokens).
  *   - Everything small broadcasts: the per-term document frequencies
  *     (≤ q rows), the corpus length stats (1 row), and the
  *     query-id → term map. The corpus side never re-partitions.
  *   - The final ranking aggregates (doc, query) score rows — already
  *     reduced to candidates — and takes top-k per query with one
  *     window over those candidates (single-query face: TakeOrdered).
  *
  * Cross-engine exactness (the oracle discipline of this repo): each
  * per-(doc, term) BM25 contribution is computed as ONE identical IEEE
  * double expression on bit-identical integer inputs (tf, df, dl, N,
  * Σdl) in both engines, then quantized with `floor(x · 1e6)` to a
  * BIGINT *before* the cross-row sum — floating addition order can
  * never reorder, and rank ties break on doc id. The only libm call is
  * a single `ln` on an identical double.
  */
object Search {

  /** Postings for the given terms only: one row per (doc, term) with
    * the term frequency and the document token length. The building
    * block [[bm25TopKBatch]] runs on; exposed so callers can persist
    * the full inverted index (pass `terms = None`) and serve many
    * queries from it. */
  def postings(docs: DataFrame, terms: Option[Seq[String]],
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // tokens projected into a named column FIRST (lambda-CSE rule)
    val toks = docs
      .select(col(idCol).as("doc_id"),
        TextOps.tokens(lower(col(textCol))).as("_toks"))
      .withColumn("dl", size(col("_toks")).cast("long"))
    val exploded =
      toks.select(col("doc_id"), col("dl"), explode(col("_toks")).as("term"))
    val wanted = terms match {
      case Some(ts) => exploded.where(col("term").isin(ts: _*))
      case None => exploded
    }
    wanted.groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
  }

  /** Corpus-wide doc count and total token length — the BM25 length
    * normalizer. One map-side-combined aggregate to a single row. */
  def corpusLengthStats(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.select(size(TextOps.tokens(lower(col(textCol)))).cast("long")
        .as("dl"))
      .agg(count(lit(1)).as("n"), sum(col("dl")).as("sumdl"))

  /** Top-k BM25 retrieval for a batch of queries in ONE pass over the
    * corpus. Returns (query_id, doc_id, score_mu, n_terms): micro-unit
    * integer score (descending), number of query terms matched; ties
    * break to the lower doc id. k1/b are the standard Okapi defaults.
    *
    * A term shared by several queries is scored once per query via the
    * broadcast (query_id, term) map — the corpus-side posting rows are
    * built once for the union of all query terms. */
  def bm25TopKBatch(docs: DataFrame, queries: Seq[(Long, String)],
      k: Int, k1: Double = 1.2, b: Double = 0.75,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val (qdf, allTerms) = queryTermsDf(docs.sparkSession, queries)
    val tf = postings(docs, Some(allTerms), idCol, textCol)
    bm25Rank(tf, corpusLengthStats(docs, idCol, textCol), qdf, k, k1, b)
  }

  /** The broadcast (query_id, term) map plus the distinct term union —
    * ONE copy of the query tokenization, shared by the inline and
    * stored-index serves so their term sets can never diverge. */
  private def queryTermsDf(spark: org.apache.spark.sql.SparkSession,
      queries: Seq[(Long, String)]): (DataFrame, Seq[String]) = {
    require(queries.nonEmpty, "empty query batch")
    val qTerms: Seq[(Long, String)] = queries.flatMap { case (qid, q) =>
      q.toLowerCase.split("\\s+").filter(_.nonEmpty).distinct
        .map(t => (qid, t))
    }
    require(qTerms.nonEmpty, "queries tokenize to no terms")
    import spark.implicits._
    (qTerms.toDF("query_id", "term"), qTerms.map(_._2).distinct)
  }

  /** The BM25 scoring tail over already-built posting rows — ONE copy
    * of the ranking arithmetic shared by [[bm25TopKBatch]] (inline
    * postings) and [[bm25TopKBatchFromIndex]] (stored postings), so
    * stored-serve ≡ inline holds by construction. `tf` carries
    * (term, doc_id, dl, tf) for the query terms only; `stats` is the
    * one-row (n, sumdl) corpus normalizer. */
  private def bm25Rank(tf: DataFrame, stats: DataFrame, qdf: DataFrame,
      k: Int, k1: Double, b: Double): DataFrame = {
    // document frequency per term as a WINDOW over the posting rows,
    // not a groupBy + broadcast self-join: the dfq subtree was a
    // second full execution of tf's lineage (column pruning makes the
    // two subtrees structurally different, so AQE exchange reuse
    // never fires — the serve plan scanned the postings tree twice,
    // the inline face re-tokenized the whole corpus). The window
    // shuffles only the candidate rows once by term — and where tf
    // already ends in a term-keyed exchange (the stored-index serve
    // repartitions by term for its dedup), it rides that exchange for
    // free. df values are identical by construction: count of tf rows
    // per term.
    val withDf = tf.withColumn("df",
      count(lit(1)).over(Window.partitionBy(col("term"))))
    // ONE identical IEEE expression in both engines, floored to µ
    // BEFORE the per-doc sum (cross-row float addition is not
    // order-stable; a BIGINT sum is).
    val termScoreMu = floor(
      log(lit(1.0) +
        (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
        (col("tf") * lit(k1 + 1.0)) /
        (col("tf") + lit(k1) *
          (lit(1.0) - lit(b) + lit(b) *
            (col("dl") * col("n") / col("sumdl")))) *
        lit(1000000.0)).cast("long")
    val scored = withDf
      .crossJoin(broadcast(stats))
      .join(broadcast(qdf), Seq("term"))
      .withColumn("term_score_mu", termScoreMu)
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("term_score_mu")).as("score_mu"),
        count(lit(1)).as("n_terms"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_mu").desc, col("doc_id").asc)
    scored.withColumn("_rn", row_number().over(w))
      .where(col("_rn") <= k)
      .drop("_rn")
  }

  /** Per-document top-k keywords by smoothed TF-IDF — the standard
    * corpus-metadata tagger (topical labels, routing keys, index
    * summaries for a 100 TB corpus):
    *
    *   tfidf(d, t) = tf(d, t) · ln((N + 1) / (df(t) + 1))
    *
    * floored to BIGINT micro-units; top-k per doc, score-descending,
    * ties to the lexicographically smaller term.
    *
    * Scale shape: term frequencies come from the same one-shuffle
    * postings build as BM25; document frequencies are a vocabulary-
    * sized aggregate of those postings joined back ON THE TERM KEY
    * (vocabulary outgrows broadcast at corpus scale — this stays a
    * shuffle join by design, and AQE absorbs hot-term skew); the
    * final top-k window partitions by document over already-reduced
    * posting rows, never raw tokens. */
  def tfidfTopTerms(docs: DataFrame, k: Int, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val tf = postings(docs, None, idCol, textCol)
    val dfq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val scored = tf.join(dfq, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("tfidf_mu", floor(
        col("tf") * log((col("n") + lit(1.0)) / (col("df") + lit(1.0))) *
          lit(1000000.0)).cast("long"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf_mu").desc, col("term").asc)
    scored.withColumn("_rn", row_number().over(w))
      .where(col("_rn") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("tfidf_mu"))
  }

  /** Single-query face of [[bm25TopKBatch]]:
    * (doc_id, score_mu, n_terms), best first. */
  def bm25TopK(docs: DataFrame, query: String, k: Int,
      k1: Double = 1.2, b: Double = 0.75,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    bm25TopKBatch(docs, Seq((0L, query)), k, k1, b, idCol, textCol)
      .drop("query_id")
      .orderBy(col("score_mu").desc, col("doc_id").asc)

  /** Hybrid lexical + vector retrieval with reciprocal-rank fusion
    * (Cormack, Clarke & Büttcher, SIGIR 2009): fuse the BM25 top-kCand
    * and the cosine top-kCand by rank — rrf(d) = Σ 1/(kRrf + rank_d) —
    * the standard recipe for combining keyword and embedding search
    * without comparing their incomparable score scales. `query` is the
    * lexical face; `queryVecId` names the query's vector in `emb`
    * (the vector side excludes the query vector itself, as
    * [[Similarity.bruteForceTopK]] does).
    *
    * Cross-engine exactness: both input ranks are over already-exact
    * orderings (BIGINT BM25 micro-units; cosine rounded to 6 dp before
    * ranking — each verified by its own oracle), and each RRF term is
    * the pure integer division 1000000 div (kRrf + rank), so the fused
    * score is an exact BIGINT sum of exact BIGINTs.
    *
    * Scale shape: both arms end at kCand candidate rows, so the rank
    * windows and the full-outer fusion join run over ≤ 2·kCand narrow
    * rows (driver-light, broadcast-size) — the heavy work is the two
    * arms, each already shaped for scale. A missing arm contributes 0,
    * so lexical-only and vector-only hits still fuse. */
  def hybridTopK(docs: DataFrame, emb: DataFrame, query: String,
      queryVecId: Long, k: Int, kCand: Int = 50, kRrf: Int = 60,
      idCol: String = "doc_id", textCol: String = "text",
      vecIdCol: String = "vec_id", vecCol: String = "embedding")
      : DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    // the fused pool holds up to 2*kCand docs, so k may exceed kCand
    require(kCand >= 1, s"kCand must be >= 1: $kCand")
    require(kRrf >= 1, s"kRrf must be >= 1: $kRrf")
    val vec = Similarity.bruteForceTopK(emb, queryVecId, kCand,
      vecIdCol, vecCol)
    // the lex arm takes the BATCH face, not the sorted single-query
    // face: rrfFuse ranks with its own window, so the public face's
    // final orderBy would be a wasted range exchange + sort
    val lex = bm25TopKBatch(docs, Seq((0L, query)), kCand,
        idCol = idCol, textCol = textCol)
      .drop("query_id")
    rrfFuse(lex,
      vec.select(col(vecIdCol).as("doc_id"), col("cos_sim")),
      k, kRrf)
  }

  /** The reciprocal-rank fusion tail over the two candidate lists —
    * ONE copy shared by [[hybridTopK]] (inline arms) and
    * [[hybridTopKFromIndex]] (stored-index arms), so the fusion
    * arithmetic can never fork. `lex` carries (doc_id, score_mu);
    * `vecCand` carries (doc_id, cos_sim); both already exact-ordered
    * candidate lists ≤ kCand rows. */
  private def rrfFuse(lex: DataFrame, vecCand: DataFrame, k: Int,
      kRrf: Int): DataFrame = {
    // both arms are ≤ kCand rows by contract — coalesce(1) gives the
    // global rank windows and the fusion join SinglePartition
    // children, so NEITHER plans an exchange (SinglePartition
    // satisfies every required distribution): the whole fusion tail
    // fuses into the arms' final stages instead of spending 3-4
    // scheduler round trips on 100-row shuffles
    val lexRanked = lex.coalesce(1)
      .withColumn("lex_rank", row_number().over(
        Window.orderBy(col("score_mu").desc, col("doc_id").asc))
        .cast("long"))
      .select(col("doc_id"), col("lex_rank"))
    val vecRanked = vecCand.coalesce(1)
      .withColumn("vec_rank", row_number().over(
        Window.orderBy(col("cos_sim").desc, col("doc_id").asc))
        .cast("long"))
      .select(col("doc_id"), col("vec_rank"))
    lexRanked.join(vecRanked, Seq("doc_id"), "full_outer")
      .withColumn("rrf_mu",
        coalesce(expr(s"1000000L div (${kRrf}L + lex_rank)"), lit(0L)) +
          coalesce(expr(s"1000000L div (${kRrf}L + vec_rank)"), lit(0L)))
      .orderBy(col("rrf_mu").desc, col("doc_id").asc)
      .limit(k)
  }

  /** Hybrid retrieval served ENTIRELY from persisted indexes — the
    * 100 TB serving shape: the lexical arm reads only the
    * [[writeBm25Index]] layout (bucket-pruned postings + the stats
    * partials), the vector arm only the [[Similarity.writeIvfIndex]]
    * layout (the probed cells' listed files), and the fusion runs over
    * ≤ 2·kCand candidate rows — corpus text and raw embedding tables
    * are never scanned (spec-gated). Takes the serving-shape inputs
    * (a query string + an explicit query vector); `nprobe = kCells`
    * makes the vector arm exhaustive over the index, which is the
    * configuration spec-pinned ≡ [[hybridTopK]] for corpus queries
    * (the inline face excludes the query's own corpus row — build the
    * index without it for exact parity). */
  def hybridTopKFromIndex(spark: org.apache.spark.sql.SparkSession,
      bm25Dir: String, ivfDir: String, query: String,
      queryVec: Seq[Float], k: Int, kCand: Int = 50, kRrf: Int = 60,
      nprobe: Int = 1): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(kCand >= 1, s"kCand must be >= 1: $kCand")
    require(kRrf >= 1, s"kRrf must be >= 1: $kRrf")
    // batch face, unsorted — rrfFuse ranks with its own window (the
    // single-query face's orderBy is a wasted range exchange here)
    val lex = bm25TopKBatchFromIndex(spark, bm25Dir,
        Seq((0L, query)), kCand)
      .drop("query_id")
    val vec = Similarity.ivfTopKFromIndex(spark, ivfDir, queryVec,
        kCand, nprobe)
      .select(col("vec_id").as("doc_id"), col("cos_sim"))
    rrfFuse(lex, vec, k, kRrf)
  }

  // --- persisted BM25 index lifecycle ------------------------------------

  /** Persist a BM25 inverted index so serving never re-tokenizes the
    * corpus — the text-retrieval analogue of
    * [[Similarity.writeIvfIndex]]'s durable-layout discipline. Layout
    * ([[ManifestLog]]; writing over an index supersedes it):
    *
    *   - `dir/_manifest/<v>`: the newest manifest is the index — the
    *     bucket count (the partitioning contract appends must
    *     reproduce), the postings schema, the live postings files with
    *     their bucket and bytes, and one mergeable stats partial
    *     (batch_fp, n, sumdl) per build/append; the serve sums their
    *     `distinct`, so a replayed identical append's partial collapses
    *     (batch_fp is a deterministic content fingerprint).
    *   - `dir/postings/bucket=<b>/v=<v>/`: (term, doc_id, dl, tf) files
    *     that version v wrote, bucket = hash(term) mod nBuckets, sorted
    *     by term within files — a query's terms map to the listed files
    *     of their buckets (the IVF cell-prune shape) and the pushed
    *     term-IN prunes row groups inside them. Serve cost ∝ postings
    *     of the query's terms, never corpus size.
    *
    * 100 TB shape: the postings build is [[postings]]' one shuffle;
    * the bucket write emits ~ceil(bucketBytes/targetBytesPerFile)
    * files per bucket ([[sizedByBucket]] — sized from the input corpus
    * bytes here, from the manifest's bytes at [[compactBm25Index]]
    * time), so write-task size stays bounded by the target instead of
    * growing with corpus/nBuckets. */
  def writeBm25Index(docs: DataFrame, dir: String, nBuckets: Int = 64,
      idCol: String = "doc_id", textCol: String = "text",
      targetBytesPerFile: Long = 128L << 20): Unit = {
    require(nBuckets >= 1, s"nBuckets >= 1: $nBuckets")
    val log = manifestLog(docs.sparkSession, dir)
    indexBatch(docs, log, "writeBm25Index", log.open("writeBm25Index"),
      nBuckets, None, Nil, Nil, idCol, textCol, targetBytesPerFile)
  }

  /** Incrementally index new documents: postings rows land in their
    * term buckets under the STORED nBuckets (the quantizer-is-an-input
    * rule — a drifted bucket count would silently split a term across
    * buckets and halve its df), and one stats partial joins the
    * existing ones, all in one manifest commit. Idempotence contract:
    * a replayed append adds duplicate posting rows, which — unlike raw
    * vectors — CHANGE answers (rows count into df and duplicate per-(doc, term)
    * contributions); the serve path drops them with a candidate-sized
    * dropDuplicates and the compactions drop them from the stored
    * files. Callers must not append the same batch twice with
    * different content under the same doc ids. */
  def appendToBm25Index(newDocs: DataFrame, dir: String,
      idCol: String = "doc_id", textCol: String = "text",
      targetBytesPerFile: Long = 128L << 20): Unit = {
    val verb = "appendToBm25Index"
    val log = manifestLog(newDocs.sparkSession, dir)
    val prev = log.openCommitted(verb)
    val meta = Bm25Meta(prev)
    indexBatch(newDocs, log, verb, Some(prev), meta.nBuckets,
      Some(meta.schema), prev.files, meta.stats, idCol, textCol,
      targetBytesPerFile)
  }

  /** Compact a [[writeBm25Index]] layout after replayed appends:
    * any-copy dedup of full-row-identical duplicate postings (exact —
    * tokenization is deterministic) into freshly sized files, stats
    * partials collapsed to one summed row, one manifest commit.
    * Single-writer: no concurrent appends (a pre-compact append's
    * replay arriving after the fold would re-add its stats partial
    * with nothing left to collapse it against). */
  def compactBm25Index(spark: org.apache.spark.sql.SparkSession,
      dir: String, targetBytesPerFile: Long = 128L << 20): Unit =
    fold(spark, dir, "compactBm25Index", targetBytesPerFile)(
      (files, _) => (files.map(bucketOf).toSet, true))

  /** INCREMENTAL postings fold — [[compactBm25Index]]'s cost is
    * O(index) per fold; this verb folds ONLY buckets whose file count
    * in the manifest exceeds `maxPartFiles` (every append adds >= 1
    * file per touched bucket, so the file count is exactly the
    * accumulated-appends signal), making fold cost proportional to the
    * TOUCHED buckets, never the index. Returns the folded bucket ids.
    *
    * A term maps to exactly one bucket, so (term, doc_id) duplicates
    * never straddle buckets: each touched bucket rewrites to its own
    * deduped rows, and the manifest commit swaps them in for the
    * bucket's old files atomically. The whole-index fold remains
    * [[compactBm25Index]] — use it when most buckets are touched.
    * Single-writer, like every compaction here. Stats partials fold to
    * one row in the same commit when their count exceeds the same
    * threshold. */
  def compactBm25Buckets(spark: org.apache.spark.sql.SparkSession,
      dir: String, targetBytesPerFile: Long = 128L << 20,
      maxPartFiles: Int = 4): Seq[Int] = {
    require(maxPartFiles >= 1, s"maxPartFiles >= 1: $maxPartFiles")
    fold(spark, dir, "compactBm25Buckets", targetBytesPerFile) {
      (files, meta) => (files.groupBy(bucketOf).collect {
          case (b, fl) if fl.size > maxPartFiles => b }.toSet,
        meta.stats.size > maxPartFiles)
    }
  }

  /** Serve a query batch from a [[writeBm25Index]] layout — identical
    * results to [[bm25TopKBatch]] over the indexed corpus at every k
    * (spec-pinned; the scoring tail is literally shared). The plan
    * reads ONLY the index: the newest manifest's files of the query's
    * buckets with the term-IN pushed, and a one-row normalizer from
    * the manifest's stats partials — corpus text is never scanned or
    * re-tokenized (spec-gated). Read-only: it lists and reads, never
    * renames or deletes. */
  def bm25TopKBatchFromIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, queries: Seq[(Long, String)], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val (qdf, allTerms) = queryTermsDf(spark, queries)
    // the manifest is fingerprint-cached (ControlCache): a warm serve
    // costs one listing of `_manifest`, no Spark job, no tree walk
    val m = manifestLog(spark, dir).committed("bm25Serve")
    val meta = Bm25Meta(m)
    // the terms' bucket set, derived with the SAME engine function
    // that placed them — XxHash64Function IS what codegen emits for
    // xxhash64(string) (seed 42), called driver-side over |terms|
    // local strings (spec-pinned ≡ the engine column)
    val buckets = allTerms.map(t => bucketOfTerm(t, meta.nBuckets).toInt)
      .toSet
    val tf = readPostings(spark, dir, meta.schema,
        m.files.filter(f => buckets(bucketOf(f))))
      .where(col("term").isin(allTerms: _*))
      // one term-keyed exchange feeds BOTH the dedup below and
      // bm25Rank's df window (hashpartitioning(term) satisfies the
      // dedup's (term, doc_id) clustering — the packSequences
      // exchange-reuse discipline)
      .repartition(col("term"))
      // heal replayed-append duplicates (bit-identical rows) at
      // candidate size — |docs with a query term|, never the corpus
      .dropDuplicates("term", "doc_id")
      .select(col("term"), col("doc_id"), col("dl"), col("tf"))
    // the corpus normalizer: the distinct stats partials summed on the
    // driver, re-planned as a one-row LocalRelation
    val parts = meta.stats.distinct
    import spark.implicits._
    val stats = Seq((parts.map(_._2).sum, parts.map(_._3).sum))
      .toDF("n", "sumdl")
    bm25Rank(tf, stats, qdf, k, k1, b)
  }

  /** Single-query face of [[bm25TopKBatchFromIndex]] —
    * [[bm25TopK]]'s shape over the stored index. */
  def bm25TopKFromIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, query: String, k: Int, k1: Double = 1.2,
      b: Double = 0.75): DataFrame =
    bm25TopKBatchFromIndex(spark, dir, Seq((0L, query)), k, k1, b)
      .drop("query_id")
      .orderBy(col("score_mu").desc, col("doc_id").asc)

  /** The BM25 part of a [[Manifest]]: bucket count, postings file
    * schema and stats partials (batch_fp, n, sumdl). */
  private final case class Bm25Meta(nBuckets: Int, schema: StructType,
      stats: Seq[(Long, Long, Long)]) {
    def header: Seq[Seq[String]] =
      Seq(Seq("nbuckets", nBuckets.toString), Seq("schema", schema.json)) ++
        stats.map { case (fp, n, dl) =>
          Seq("stats", fp.toString, n.toString, dl.toString) }
  }

  private object Bm25Meta {
    def apply(m: Manifest): Bm25Meta =
      Bm25Meta(m.line("nbuckets").head.toInt, m.schema("schema"),
        m.header.filter(_.head == "stats")
          .map(l => (l(1).toLong, l(2).toLong, l(3).toLong)))
  }

  private def manifestLog(spark: org.apache.spark.sql.SparkSession,
      dir: String) =
    new ManifestLog(new Path(dir), spark.sparkContext.hadoopConfiguration,
      Map("postings" -> Seq("bucket")), kind = "BM25 index")

  private def bucketOf(f: DataFile): Int = f.part("bucket").toInt

  /** Index `docs` into the next version's write directory and commit
    * it alongside the `kept` files and stats partials. The stored
    * schema is the first write's, so appends read back as it did. */
  private def indexBatch(docs: DataFrame, log: ManifestLog, verb: String,
      prev: Option[Manifest], nBuckets: Int,
      schema: Option[StructType], keptFiles: Seq[DataFile],
      keptStats: Seq[(Long, Long, Long)], idCol: String,
      textCol: String, targetBytesPerFile: Long): Unit = {
    val sc = docs.sparkSession.sparkContext
    val partial = JobDesc(sc, s"bm25:$verb:stats") {
      val r = statsPartial(docs, idCol, textCol).head()
      // an empty batch sums to nulls: it adds nothing
      def at(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
      (at(0), at(1), at(2))
    }
    val rows = sizedByBucket(
      withBucket(postings(docs, None, idCol, textCol), nBuckets),
      estimatedFilesPerBucket(docs, nBuckets, targetBytesPerFile))
    val written = JobDesc(sc, s"bm25:$verb:postings") {
      log.write(prev.fold(0L)(_.version) + 1, "postings", rows)
    }
    log.commit(verb, prev,
      Bm25Meta(nBuckets, schema.getOrElse(rows.drop("bucket").schema),
        keptStats :+ partial).header, keptFiles ++ written)
  }

  /** The compactions: `due` picks the buckets to rewrite (their rows
    * deduplicated into freshly sized files) and whether the stats
    * partials fold to one row; both land in one commit, or none when
    * nothing is due. Returns the rewritten buckets. */
  private def fold(spark: org.apache.spark.sql.SparkSession, dir: String,
      verb: String, targetBytesPerFile: Long)(
      due: (Seq[DataFile], Bm25Meta) => (Set[Int], Boolean)): Seq[Int] = {
    val log = manifestLog(spark, dir)
    val prev = log.openCommitted(verb)
    val meta = Bm25Meta(prev)
    val (buckets, foldDue) = due(prev.files, meta)
    val (redo, keep) = prev.files.partition(f => buckets(bucketOf(f)))
    // per-bucket EXACT output sizing from the manifest's byte counts (an
    // unsized repartition(bucket) put a bucket's whole postings in ONE
    // task); a stop-word's bucket gets proportionally more files
    val bytes = redo.groupMapReduce(bucketOf)(_.bytes)(_ + _)
    val written = if (redo.isEmpty) Nil else
      JobDesc(spark.sparkContext, s"bm25:$verb:postings") {
        log.write(prev.version + 1, "postings", sizedByBucket(
            withBucket(readPostings(spark, dir, meta.schema, redo)
              .dropDuplicates("term", "doc_id"), meta.nBuckets),
            Array.tabulate(meta.nBuckets)(b => Maint.sizedFileCount(
              bytes.getOrElse(b, 0L), targetBytesPerFile).toLong)))
      }
    // the stats partials fold to one exact row (distinct first —
    // replayed appends wrote identical partials)
    val d = meta.stats.distinct
    if (redo.nonEmpty || foldDue)
      log.commit(verb, Some(prev), meta.copy(stats = if (!foldDue)
          meta.stats else Seq((d.map(_._1).min, d.map(_._2).sum,
          d.map(_._3).sum))).header, keep ++ written)
    buckets.toSeq.sorted
  }

  /** The listed postings files, read with the manifest's schema — no
    * schema-inference job, and no listing beyond the files named. */
  private def readPostings(spark: org.apache.spark.sql.SparkSession,
      dir: String, schema: StructType, files: Seq[DataFile]): DataFrame =
    spark.read.schema(schema).parquet(files.map(f => s"$dir/${f.path}"): _*)

  /** Posting rows plus their term's bucket. */
  private def withBucket(rows: DataFrame, nBuckets: Int): DataFrame =
    rows.withColumn("bucket",
      pmod(xxhash64(col("term")), lit(nBuckets.toLong)))

  /** Cluster posting rows into per-bucket sized write slots: terms
    * hash into `filesPerBucket(bucket)` salt slots within their
    * bucket, so the partitionBy("bucket") write emits
    * ~ceil(bucketBytes/target) files per bucket directory
    * ([[graft.util.Maint.sizedFileCount]] WITHIN bucket — the r19
    * sized-fold discipline) and write-task size stays bounded by the
    * target instead of growing with corpus/nBuckets. The degenerate
    * all-ones map keeps the unsized one-file-per-bucket shape (and
    * lets AQE coalesce tiny toy buckets into shared tasks). Hash
    * placement, not range: no sampling pass over the (expensive at
    * build time) child, and the within-file (bucket, term) sort keeps
    * the pushed term-IN row-group prune either way. */
  private def sizedByBucket(rows: DataFrame,
      filesPerBucket: Array[Long]): DataFrame = {
    if (filesPerBucket.forall(_ == 1L))
      rows.repartition(col("bucket"))
        .sortWithinPartitions(col("bucket"), col("term"))
    else {
      val total = filesPerBucket.sum
        .min(Int.MaxValue.toLong).max(1L).toInt
      rows.withColumn("_slot",
          pmod(xxhash64(col("term")),
            element_at(lit(filesPerBucket),
              col("bucket").cast("int") + lit(1))))
        .repartition(total, col("bucket"), col("_slot"))
        .sortWithinPartitions(col("bucket"), col("term"))
        .drop("_slot")
    }
  }

  /** Per-bucket output sizing for a FRESH postings write, where no
    * on-disk postings bytes exist yet: estimate from the input
    * corpus' file bytes (postings parquet is at most text-scale —
    * terms dictionary-encode — so this over-estimates toward more,
    * smaller files, the safe direction), hash-uniform across buckets.
    * In-memory frames (no input files) size to one file per bucket —
    * the toy shape. */
  private def estimatedFilesPerBucket(docs: DataFrame, nBuckets: Int,
      targetBytesPerFile: Long): Array[Long] = {
    val bytes =
      try {
        val conf = docs.sparkSession.sparkContext.hadoopConfiguration
        docs.inputFiles.map { f =>
          val p = new Path(f)
          p.getFileSystem(conf).getFileStatus(p).getLen
        }.sum
      } catch { case scala.util.control.NonFatal(_) => 0L }
    Array.fill(nBuckets)(Maint.sizedFileCount(
      bytes / math.max(nBuckets, 1), targetBytesPerFile).toLong)
  }

  /** A term's bucket id, computed DRIVER-SIDE with the identical
    * function whole-stage codegen emits for
    * `pmod(xxhash64(term), nBuckets)` — XxHash64Function over the
    * term's UTF-8 bytes at seed 42, then floorMod (the
    * mirror-SPARK's-semantics rule; spec-pinned against the engine
    * column over a fuzz set). Control-plane: turns the per-serve
    * bucket derivation from a Spark job into local arithmetic. */
  private[graft] def bucketOfTerm(term: String, nBuckets: Int): Long = {
    val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function
      .hash(org.apache.spark.unsafe.types.UTF8String.fromString(term),
        org.apache.spark.sql.types.StringType, 42L)
    java.lang.Math.floorMod(h, nBuckets.toLong)
  }

  /** One mergeable stats partial: doc count, total token length, and
    * a deterministic content fingerprint (order-free XOR fold of the
    * per-doc id hashes — bit_xor can never overflow where an ANSI
    * long sum of ~2^63 hashes aborts the job) — the identity that
    * lets the serve-time `distinct()` collapse a replayed append's
    * identical row. */
  private def statsPartial(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol).cast("string").as("_id"),
        size(TextOps.tokens(lower(col(textCol)))).cast("long").as("dl"))
      .agg(expr("bit_xor(xxhash64(_id))").as("batch_fp"),
        count(lit(1)).as("n"), sum(col("dl")).as("sumdl"))
}
