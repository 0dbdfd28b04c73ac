package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.pipeline.{Search, TextOps}
import graft.streaming.{CorpusDedup, SequenceShards}

final case class Doc(doc_id: Long, text: String)

/** Seeded document corpus: a Zipf-like vocabulary, 20–80 words per
  * document, and a planted share of exact duplicates (copies of an
  * earlier document's text under a new id). The generator knows which
  * documents are duplicates, so it knows what dedup must keep. */
final class Corpus(seed: Long) {
  val VocabSize = 3000
  val DupShare = 0.1
  private val rnd = new SplittableRandom(seed * 7919 + 11)
  val vocab: Array[String] = {
    val seen = mutable.LinkedHashSet[String]()
    while (seen.size < VocabSize)
      seen += Iterator.fill(3 + rnd.nextInt(7))(
        ('a' + rnd.nextInt(26)).toChar).mkString
    seen.toArray
  }
  // Zipf(1.1) cumulative weights over the vocabulary
  private val cdf: Array[Double] = {
    val w = (1 to VocabSize).map(r => 1.0 / math.pow(r, 1.1))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  }
  private val texts = mutable.ArrayBuffer[String]()
  private val accepted = mutable.HashSet[String]()

  def word(): String = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    vocab(math.min(if (i >= 0) i else -i - 1, VocabSize - 1))
  }

  /** Batch `v` of `n` documents, and how many of them dedup must keep:
    * those whose text no earlier document (by version, then id) had. */
  def batch(v: Long, n: Int): (Vector[Doc], Long) = {
    val docs = (0 until n).toVector.map { i =>
      val text =
        if (texts.nonEmpty && rnd.nextDouble() < DupShare)
          texts(rnd.nextInt(texts.size))
        else {
          val t = Iterator.fill(20 + rnd.nextInt(61))(word()).mkString(" ")
          texts += t
          t
        }
      Doc(v * 1000000L + i, text)
    }
    (docs, docs.count(d => accepted.add(d.text)).toLong)
  }

  /** A search query: two or three words from the vocabulary's middle
    * ranks, so every query matches some documents but not most. */
  def query(): String =
    Iterator.fill(2 + rnd.nextInt(2))(vocab(50 + rnd.nextInt(1000)))
      .mkString(" ")

  def acceptedCount: Long = accepted.size.toLong
}

final class CurateState(val root: String, val corpus: Corpus) {
  val corpusDir = s"$root/corpus"
  val tier = s"$root/tier"
  val fp = s"$root/fp"
  val bm25 = s"$root/bm25"
  val shards = s"$root/shards"
  var version = 1L
  val slices = mutable.ArrayBuffer[Array[Row]]()
  /** The queries of the traced run's read pass, drawn on first use. */
  var probes = Vector.empty[String]
}

/** The `curate` workload: a training-data job feeding batches through
  * the maintained stores — exact dedup (`CorpusDedup.appendBatch`), the
  * BM25 index (`Search.appendToBm25Index`), the sequence-shard store
  * (`SequenceShards.appendBatch` over `md5TokenIds`) — then searching
  * the index and reading one epoch as four dataloader workers. Each
  * loop cycle is one whole batch. */
class CurateWorkload(b: Bench) extends Workload[CurateState] {
  type State = CurateState
  val BatchDocs = 2000
  val Workers = 4
  val TopK = 10
  val CompactEvery = 2
  /** Searches per batch; the first after the appends misses
    * `ControlCache`. */
  val Searches = 5
  val nominalCycleS = 16.0
  private def spark: SparkSession = b.spark

  private def docsDF(docs: Seq[Doc]): DataFrame = spark.createDataFrame(docs)
  private def acceptedDF(st: State): DataFrame =
    spark.read.parquet(st.corpusDir).where(col("version") === st.version)
      .select("doc_id", "text")
  private def tokenIds(df: DataFrame): DataFrame =
    df.select(col("doc_id"), TextOps.md5TokenIds(col("text"), 997)
      .as("bpe_ids"))

  private def dedup(st: State, rec: Recorder): Unit = {
    val (docs, kept) = st.corpus.batch(st.version, BatchDocs)
    rec.run("streaming", "dedup", read = false)(
      CorpusDedup.appendBatch(spark, docsDF(docs), st.version, st.corpusDir,
        st.tier, st.fp)) { n =>
      Some(s"kept $n of ${docs.size}, planted truth says $kept")
        .filter(_ => n != kept)
    }
  }

  private def shardsAppend(st: State, rec: Recorder): Unit =
    rec.run("streaming", "shards_append", read = false)(
      SequenceShards.appendBatch(spark, tokenIds(acceptedDF(st)), st.version,
        st.shards, seqLen = 128, nBuckets = 8, eosId = 997L))(_ => None)

  private def search(st: State, rec: Recorder, cls: String,
      q: String): Unit =
    rec.run("pipeline", cls, read = true)(
      Search.bm25TopKFromIndex(spark, st.bm25, q, TopK).collect()) { rows =>
      val scores = rows.map(_.getAs[Long]("score_mu"))
      if (rows.length != TopK) Some(s"'$q': ${rows.length} rows, want $TopK")
      else if (scores.sliding(2).exists(p => p.length == 2 && p(1) > p(0)))
        Some(s"'$q': scores not in non-increasing order")
      else None
    }

  private def epochSlice(st: State, rec: Recorder, v: Long, w: Int): Unit = {
    rec.run("streaming", "epoch", read = true)(
      SequenceShards.readEpochSlice(spark, st.shards, v, w, Workers)
        .collect())(_ => None).foreach(st.slices += _)
    if (w == Workers - 1) {
      // the slices partition the store: disjoint, and together every
      // lane directory on disk
      val keys = st.slices.toSeq.map(_.map(r =>
        (r.getAs[Any]("pack_bucket").toString.toInt,
          r.getAs[Long]("seq_idx"))).toSet)
      val lanes = new java.io.File(st.shards, "shards").list().toSeq
        .filter(_.startsWith("pack_bucket=")).map(_.stripPrefix(
          "pack_bucket=").toInt).toSet
      val union = keys.flatten
      if (keys.map(_.size).sum != union.toSet.size ||
          union.map(_._1).toSet != lanes)
        rec.fail("epoch", s"slices of epoch $v do not partition " +
          s"the store (${keys.map(_.size)} rows, lanes ${lanes.size})")
      st.slices.clear()
    }
  }

  /** The steps of one batch, in order. */
  private def steps(st: State): Vector[Recorder => Unit] =
    Vector[Recorder => Unit](
      rec => dedup(st, rec),
      rec => rec.run("pipeline", "bm25_append", read = false)(
        Search.appendToBm25Index(acceptedDF(st), st.bm25))(_ => None),
      rec => shardsAppend(st, rec),
      rec => search(st, rec, "search_first", st.corpus.query())) ++
      Vector.fill(Searches - 1)(
        (rec: Recorder) => search(st, rec, "search", st.corpus.query())) ++
      (0 until Workers).map(w =>
        (rec: Recorder) => epochSlice(st, rec, st.version, w)) :+
      { (rec: Recorder) =>
        if (st.version % CompactEvery == 0)
          rec.run("pipeline", "compact", read = false)(
            Search.compactBm25Buckets(spark, st.bm25))(_ => None)
        st.version += 1
      }

  /** Generation and the first batch through all three stores. */
  def setup(dir: String, rec: Recorder): State = {
    val st = new CurateState(dir, new Corpus(b.seed))
    dedup(st, rec)
    rec.run("pipeline", "bm25_write", read = false)(
      Search.writeBm25Index(acceptedDF(st), st.bm25))(_ => None)
    shardsAppend(st, rec)
    st
  }

  def warmUp(st: State, rec: Recorder): Unit = {
    search(st, rec, "warmup.search", st.corpus.query())
    (0 until Workers).foreach(w => epochSlice(st, rec, st.version, w))
    st.version += 1
  }

  /** The reads of the last batch: the same searches on every call, then
    * its epoch. */
  def reads(st: State, rec: Recorder): Unit = {
    if (st.probes.isEmpty)
      st.probes = Vector.fill(Searches)(st.corpus.query())
    st.probes.foreach(search(st, rec, "search", _))
    (0 until Workers).foreach(w => epochSlice(st, rec, st.version - 1, w))
  }

  def prepare(st: State): Unit = ()

  /** One batch: every step, in order. */
  def cycle(st: State, rec: Recorder, i: Int): Unit =
    steps(st).foreach(_(rec))

  def close(st: State): Unit = ()

  /** Input documents per second of append time (dedup, BM25, shards). */
  private def docsPerS(rec: Recorder): Double = {
    val batches = rec.of("dedup").size
    batches * BatchDocs /
      (Seq("dedup", "bm25_append", "shards_append").map(rec.total).sum / 1000)
  }

  /** Bytes under every store root per accepted document. */
  def storeBytesPerItem(st: State): Double =
    LogStore.du(st.root)._1.toDouble / st.corpus.acceptedCount

  def detail(st: State, setupRec: Recorder, rec: Recorder)
      : Seq[(String, Any)] = {
    def p50(c: String) = rec.p50(c).getOrElse(0.0)
    Seq("curate_docs_per_s" -> docsPerS(rec),
      "search_p50_ms" -> Stats.median(
        (rec.of("search") ++ rec.of("search_first")).padTo(1, 0.0)),
      "search_first_ms" -> p50("search_first"),
      "epoch_read_p50_ms" -> p50("epoch"),
      "dedup_ms" -> p50("dedup"), "bm25_append_ms" -> p50("bm25_append"),
      "shards_append_ms" -> p50("shards_append"),
      "batches" -> rec.of("dedup").size, "kept" -> st.corpus.acceptedCount)
  }

  /** The pipeline's metrics, all from the traced loop batch. */
  def layers(st: State, setup: Seq[OpTrace], loop: Seq[OpTrace],
      tracer: Tracer): Seq[(String, Double)] = {
    def med(cls: String, f: OpTrace => Double) = {
      val xs = loop.filter(_.op.cls == cls).map(f)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    Seq(
      "streaming.dedup_append_ms" -> Metrics.msOf(loop, "dedup"),
      "streaming.dedup_jobs" -> Metrics.jobsOf(loop, "dedup"),
      "pipeline.bm25_append_ms" -> Metrics.msOf(loop, "bm25_append"),
      "pipeline.bm25_append_jobs" -> Metrics.jobsOf(loop, "bm25_append"),
      "streaming.shards_append_ms" -> Metrics.msOf(loop, "shards_append"),
      "streaming.shards_append_jobs" -> Metrics.jobsOf(loop, "shards_append"),
      "pipeline.search_jobs" -> Metrics.jobsOf(loop, "search"),
      "pipeline.search_exec_run_ms" -> med("search", _.execRunMs),
      "pipeline.search_input_bytes" ->
        med("search", _.jobs.map(_.inputBytes).sum.toDouble),
      "pipeline.index_files" ->
        LogStore.dataFiles(s"${st.bm25}/postings").toDouble,
      "pipeline.compact_ms" -> Metrics.msOf(loop, "compact"),
      "pipeline.search_first_jobs" -> Metrics.jobsOf(loop, "search_first"),
      "streaming.epoch_slice_jobs" -> Metrics.jobsOf(loop, "epoch"),
      "streaming.epoch_slice_input_bytes" ->
        med("epoch", _.jobs.map(_.inputBytes).sum.toDouble))
  }

  def qlTexts(st: State): Seq[String] = Nil
}
