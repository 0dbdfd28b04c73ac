package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mergeable Bloom-filter membership tier over content fingerprints —
  * the set-membership summary a 100 TB corpus keeps so that "is this
  * document already in the corpus?" does not need a join against the
  * corpus.
  *
  * Layout follows the repo's trigram-signature recipe
  * ([[graft.stats.Trigram]]): the bitset lives in plain LONG columns
  * aggregated with builtin `bit_or` (codegen'd HashAggregate primitive
  * buffers — no typed Aggregator, no array state), and every bit
  * position derives from md5 hex substrings so a SQL oracle rebuilds
  * the words bit-for-bit. Words hold [[BitsPerWord]] = 62 bits, not
  * 64: a shift into the sign bit is an overflow error in ANSI engines
  * (DuckDB rejects `1::BIGINT << 63`), and 62 keeps every per-row
  * value positive on both sides.
  *
  * The tier is keyed by a fingerprint-derived bucket, so it is
  * associatively mergeable across ingest batches (bit_or of words),
  * exactly like the stats tiers: nBuckets × nWords longs — kilobytes
  * to megabytes — broadcastable to every executor.
  *
  * Hash positions use hex chars 1..28 of the fingerprint (7 per
  * hash, k ≤ 4); the bucket uses chars 29..32 — disjoint substrings,
  * so bucket and bit positions are independent.
  */
object Bloom {

  /** 62, not 64 — see the class doc. */
  val BitsPerWord = 62

  /** Max hashes: 4 × 7 hex chars = 28 of the fingerprint's 32. */
  val MaxHashes = 4

  /** Bucket of a fingerprint column: last 4 hex chars mod nBuckets. */
  def bucketOf(fp: Column, nBuckets: Int): Column =
    pmod(conv(substring(fp, 29, 4), 16, 10).cast("long"),
      lit(nBuckets.toLong))

  /** Project fingerprint + bucket + per-row bloom words onto `docs`.
    * Emits `_fp`, `bloom_bucket`, `bloom_w0..bloom_w{nWords-1}`.
    * Positions are projected into named `_bp*` columns BEFORE the
    * word expressions reference them (the lambda-CSE discipline:
    * conv/md5 evaluate once per row, not once per word). */
  def withBloomWords(docs: DataFrame, nBuckets: Int, nWords: Int,
      kHashes: Int, textCol: String): DataFrame = {
    require(nWords >= 1, s"nWords >= 1: $nWords")
    require(kHashes >= 1 && kHashes <= MaxHashes,
      s"kHashes in [1, $MaxHashes]: $kHashes")
    require(nBuckets >= 1, s"nBuckets >= 1: $nBuckets")
    val m = (nWords * BitsPerWord).toLong
    val withFp = docs
      .withColumn("_fp", TextOps.fingerprint(col(textCol)))
      .withColumn("bloom_bucket", bucketOf(col("_fp"), nBuckets))
    val withPos = (0 until kHashes).foldLeft(withFp) { (d, j) =>
      d.withColumn(s"_bp$j",
        pmod(conv(substring(col("_fp"), 1 + 7 * j, 7), 16, 10)
          .cast("long"), lit(m)))
    }
    val withWords = (0 until nWords).foldLeft(withPos) { (d, w) =>
      d.withColumn(s"bloom_w$w",
        (0 until kHashes).map { j =>
          when(expr(s"_bp$j div $BitsPerWord") === w,
            expr(s"shiftleft(1L, cast(_bp$j % $BitsPerWord as int))"))
            .otherwise(lit(0L))
        }.reduce(_ bitwiseOR _))
    }
    (0 until kHashes).foldLeft(withWords)((d, j) => d.drop(s"_bp$j"))
  }

  /** The corpus membership tier: one row per bucket, words bit_or'd
    * across the bucket's documents. Mergeable: the tier of a union of
    * corpora is the per-bucket bit_or of their tiers. */
  def bloomTier(corpus: DataFrame, nBuckets: Int = 1024,
      nWords: Int = 4, kHashes: Int = 4,
      textCol: String = "text"): DataFrame =
    withBloomWords(corpus, nBuckets, nWords, kHashes, textCol)
      .groupBy(col("bloom_bucket"))
      .agg(expr("bit_or(bloom_w0)").as("bloom_w0"),
        (1 until nWords).map(w =>
          expr(s"bit_or(bloom_w$w)").as(s"bloom_w$w")): _*)

  /** Incremental EXACT dedup with a bloom prefilter: drop every
    * `newDocs` row whose content fingerprint already exists in
    * `refDocs`, without joining the full batch against the corpus.
    *
    * The tier answers definite-negatives for free: a row whose bits
    * are not all set in its bucket's words CANNOT be in the corpus
    * (no false negatives — same fingerprint ⇒ same bucket ⇒ same
    * bits) and passes straight through. Only bloom HITS — true
    * duplicates plus the false-positive fraction — reach the exact
    * fingerprint anti-join, so the join's probe side shrinks from
    * |batch| to ~|dups|. The confirm step makes the result exactly
    * equal to a plain fingerprint anti-join; the bloom only moves
    * work, never answers.
    *
    * 100 TB shape: the tier is nBuckets × nWords longs (megabytes at
    * nBuckets = 1M) built once per corpus version with one map-side
    * combinable aggregation, then broadcast; the exact confirm join
    * touches only the hit fraction. The lexical-similarity sibling is
    * [[Curate.dedupAgainstCorpus]]; this one is identity dedup.
    * Returns [[dedupAgainstTier]]'s frame and pin handle: consume,
    * then `release()`. */
  def dedupAgainstCorpusBloom(newDocs: DataFrame, refDocs: DataFrame,
      nBuckets: Int = 1024, nWords: Int = 4, kHashes: Int = 4,
      textCol: String = "text"): (DataFrame, Dedup.PinHandle) = {
    val tier = bloomTier(refDocs, nBuckets, nWords, kHashes, textCol)
    val refFps = refDocs
      .select(TextOps.fingerprint(col(textCol)).as("_fp")).distinct()
    dedupAgainstTier(newDocs, tier, refFps, nBuckets, nWords, kHashes,
      textCol)
  }

  /** [[dedupAgainstCorpusBloom]]'s core against a PREBUILT tier and
    * fingerprint table — the shape a maintained store uses (the
    * streaming ingest keeps both as append-only sidecars, so the
    * prefilter reads kilobytes of tier instead of re-aggregating the
    * corpus; see [[graft.streaming.CorpusDedup]]). `tier` rows are
    * (bloom_bucket, bloom_w0..) built with the SAME
    * nBuckets/nWords/kHashes — partials are fine, bit_or-merged here;
    * `refFps` is the corpus fingerprint column `_fp` (need not be
    * distinct). Returns the surviving rows and the [[Dedup.PinHandle]]
    * owning the pinned flagged batch: consume the frame, then
    * `release()` — a streaming loop invoking this per micro-batch
    * would otherwise accumulate pins for the life of the stream. */
  def dedupAgainstTier(newDocs: DataFrame, tier: DataFrame,
      refFps: DataFrame, nBuckets: Int = 1024, nWords: Int = 4,
      kHashes: Int = 4, textCol: String = "text")
      : (DataFrame, Dedup.PinHandle) = {
    val merged = tier.groupBy(col("bloom_bucket"))
      .agg(expr("bit_or(bloom_w0)").as("_tw0"),
        (1 until nWords).map(w =>
          expr(s"bit_or(bloom_w$w)").as(s"_tw$w")): _*)
    val nw = withBloomWords(newDocs, nBuckets, nWords, kHashes, textCol)
    val joined = nw.join(broadcast(merged), Seq("bloom_bucket"), "left")
    val hit = (0 until nWords).map { w =>
      (col(s"_tw$w").bitwiseAND(col(s"bloom_w$w")) === col(s"bloom_w$w"))
    }.reduce(_ && _) && col("_tw0").isNotNull
    // PIN the flagged batch: the clean/confirmed split consumes it
    // from two plans, and without the pin each consumer re-runs the
    // batch's fingerprint+bloom-word compute AND rebuilds the tier
    // broadcast — i.e. re-aggregates the corpus tier per consumer (the
    // plan audit measured 8 source scans for the union-shaped
    // d_bloom_dedup batch). The pin is batch-sized by definition —
    // this operator exists to keep the CORPUS out of the join, not the
    // batch. The caller releases the returned handle.
    val (flagged, pin) = Dedup.pinNow(joined.withColumn("_hit", hit))
    val clean = flagged.where(!col("_hit"))
    val confirmed = flagged.where(col("_hit"))
      .join(refFps.select(col("_fp")).distinct(), Seq("_fp"),
        "left_anti")
    (clean.unionByName(confirmed)
      .select(newDocs.columns.map(col): _*), pin)
  }
}
