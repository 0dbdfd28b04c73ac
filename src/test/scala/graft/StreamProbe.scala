package graft

import org.apache.spark.sql.functions._

import graft.streaming.CorpusDedup

/** Scale probe for the streaming corpus dedup (test-scope main, run
  * with `Test/runMain graft.StreamProbe [sfDir] [nBatches]`): feeds
  * the documents table through [[CorpusDedup.appendBatch]] in
  * id-range batches and prints per-batch wall seconds + accept
  * counts. The contract under test at scale is that BATCH COST STAYS
  * FLAT as the accepted corpus grows — each batch pays |batch| work
  * plus a bloom-hit-fraction fingerprint join, never a corpus scan —
  * so a super-linear trend across batches is the regression signal.
  * Every batch also carries planted copies of batch-0 text under
  * fresh ids, so the cross-batch reject path does real work. */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val nBatches = if (args.length > 1) args(1).toInt else 5
    // "exact" (default) probes appendBatch; "neardup" probes
    // appendBatchNearDup with the production maxDf guard — on the
    // near-dup-heavy scaled corpus the later batches are mostly
    // rejected near-copies, the worst case for the postings join
    // "drift" probes the requantize-under-drift maintenance story:
    // stream half the batches under a frozen quantizer, drift the
    // distribution, STOP, retrain on the accepted corpus
    // (retrainIvfIndex's trainer), requantizeVectors, resume with the
    // new quantizer — every batch's accept count must equal the batch
    // operator's ground truth under the cells in force, before AND
    // after the swap
    val mode = if (args.length > 2) args(2) else "exact"
    val spark = graft.util.LocalSession()
    val base = java.nio.file.Files
      .createTempDirectory("graft-streamprobe").toString
    if (mode == "semantic") { semanticProbe(spark, sfDir, nBatches, base); return }
    if (mode == "drift") { driftProbe(spark, sfDir, nBatches, base); return }
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").cache()
    val total = docs.count()
    // batch by hash of id so every batch draws uniformly from the
    // corpus (scaled testdata offsets ids by copy, so contiguous id
    // ranges would leave most batches empty)
    val batched = docs.withColumn("_b", pmod(
      xxhash64(col("doc_id")), lit(nBatches.toLong))).cache()
    // planted dups: a slice of batch 0 re-offered in every later
    // batch under fresh ids — these must all be rejected
    val planted = batched.where(col("_b") === 0
      && col("doc_id") % 10 === 0).drop("_b")
    var accepted = 0L
    (0 until nBatches).foreach { b =>
      val fresh = batched.where(col("_b") === b).drop("_b")
      val batch =
        if (b == 0) fresh
        else fresh.unionByName(planted.select(
          (col("doc_id") + 10000000L * b).as("doc_id"), col("text")))
      val t0 = System.nanoTime()
      val n =
        if (mode == "neardup")
          CorpusDedup.appendBatchNearDup(spark, batch, version = b + 1,
            s"$base/corpus", s"$base/postings", k = 3, threshold = 0.5,
            maxDf = 100)
        else
          CorpusDedup.appendBatch(spark, batch, version = b + 1,
            s"$base/corpus", s"$base/tier", s"$base/fp")
      val dt = (System.nanoTime() - t0) / 1e9
      accepted += n
      println(f"== batch $b: $dt%.2f s, accepted $n (corpus $accepted)")
    }
    docs.unpersist(blocking = true)
    batched.unpersist(blocking = true)
    require(spark.sparkContext.getPersistentRDDs.isEmpty,
      "appendBatch leaked pinned blocks")
    println(f"== total accepted $accepted of ~$total offered (+planted)")
    spark.stop()
  }

  /** Semantic-stream face of the probe: embedding batches through
    * [[CorpusDedup.appendBatchSemantic]] with a quantizer frozen from
    * batch 0 (the production discipline) and planted re-offers of
    * batch-0 vectors under fresh ids. Same contract under test: batch
    * cost flat as the accepted sidecar grows; every planted re-offer
    * rejected. */
  private def semanticProbe(spark: org.apache.spark.sql.SparkSession,
      sfDir: String, nBatches: Int, base: String): Unit = {
    import graft.pipeline.Similarity
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding").cache()
    val total = emb.count()
    val batched = emb.withColumn("_b", pmod(
      xxhash64(col("vec_id")), lit(nBatches.toLong))).cache()
    val cents = Similarity.trainIvfCentroids(
      batched.where(col("_b") === 0).drop("_b"), k = 10, iters = 3)
    val planted = batched.where(col("_b") === 0
      && col("vec_id") % 10 === 0).drop("_b")
    var accepted = 0L
    (0 until nBatches).foreach { b =>
      val fresh = batched.where(col("_b") === b).drop("_b")
      val batch =
        if (b == 0) fresh
        else fresh.unionByName(planted.select(
          (col("vec_id") + 10000000L * b).as("vec_id"),
          col("embedding")))
      val t0 = System.nanoTime()
      val n = CorpusDedup.appendBatchSemantic(spark, batch,
        version = b + 1, s"$base/corpus", s"$base/vecs", cents,
        threshold = 0.999)
      val dt = (System.nanoTime() - t0) / 1e9
      accepted += n
      println(f"== batch $b: $dt%.2f s, accepted $n (corpus $accepted)")
    }
    emb.unpersist(blocking = true)
    batched.unpersist(blocking = true)
    require(spark.sparkContext.getPersistentRDDs.isEmpty,
      "appendBatchSemantic leaked pinned blocks")
    println(f"== total accepted $accepted of ~$total offered (+planted)")
    spark.stop()
  }

  /** Requantize-under-drift face: the full maintenance lifecycle at
    * scale. Batches 0..h-1 stream under a quantizer frozen from batch
    * 0; batches h.. draw from a DRIFTED distribution (dims reversed —
    * a deterministic transform the frozen cells never trained on). At
    * the halfway point the stream STOPS, a new quantizer trains on
    * the accepted corpus (the [[graft.pipeline.Similarity
    * .retrainIvfIndex]] trainer), [[CorpusDedup.requantizeVectors]]
    * rewrites the sidecar, and the stream resumes passing the new
    * cents — the coordinated-swap contract. EVERY batch's accept
    * count is required to equal the batch operator's
    * ([[graft.pipeline.Curate.dedupSemanticAgainstCorpus]]) ground
    * truth against the accepted history under the cells in force —
    * so a requantize that mis-assigned one sidecar cell would lose a
    * candidate pair and fail loudly here, at scale, not just in the
    * spec's 5-vector case. Planted re-offers of PRE-drift accepted
    * vectors ride every post-swap batch: the new cells must still
    * catch them. */
  private def driftProbe(spark: org.apache.spark.sql.SparkSession,
      sfDir: String, nBatches: Int, base: String): Unit = {
    import graft.pipeline.{Curate, Similarity}
    require(nBatches >= 4, "drift probe needs >= 4 batches")
    val threshold = 0.999
    val (corpus, vecs) = (s"$base/corpus", s"$base/vecs")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding").cache()
    val total = emb.count()
    val batched = emb.withColumn("_b", pmod(
      xxhash64(col("vec_id")), lit(nBatches.toLong))).cache()
    val half = nBatches / 2
    def drifted(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("embedding", reverse(col("embedding")))
    var cents = Similarity.trainIvfCentroids(
      batched.where(col("_b") === 0).drop("_b"), k = 10, iters = 3)
    // pre-drift planted re-offers: batch-0 vectors under fresh ids,
    // offered in every POST-swap batch — the new cells must reject
    val planted = batched.where(col("_b") === 0
      && col("vec_id") % 10 === 0).drop("_b")
    var accepted = 0L
    var swapSec = -1.0
    (0 until nBatches).foreach { b =>
      val fresh0 = batched.where(col("_b") === b).drop("_b")
      val fresh = if (b >= half) drifted(fresh0) else fresh0
      val batch =
        if (b < half) fresh
        else fresh.unionByName(planted.select(
          (col("vec_id") + 10000000L * b).as("vec_id"),
          col("embedding")))
      if (b == half) {
        // STOP-stream maintenance: retrain on the accepted corpus,
        // requantize the sidecar, resume with the new quantizer
        val t0 = System.nanoTime()
        val newCents = Similarity.trainIvfCentroids(
          spark.read.parquet(corpus).select("vec_id", "embedding"),
          k = 10, iters = 3)
        require(newCents != cents,
          "drift probe needs a genuinely new quantizer")
        CorpusDedup.requantizeVectors(spark, vecs, newCents)
        cents = newCents
        swapSec = (System.nanoTime() - t0) / 1e9
        println(f"== swap at batch $b: retrain+requantize $swapSec%.2f s")
      }
      // ground truth BEFORE the append mutates the corpus: the batch
      // operator against the accepted history under the cells in force
      val expected =
        if (b == 0) batch.count()
        else Curate.dedupSemanticAgainstCorpus(
            Similarity.assignCells(batch, cents),
            Similarity.assignCells(
              spark.read.parquet(corpus).select("vec_id", "embedding"),
              cents),
            threshold, Some("cell")).count()
      val t0 = System.nanoTime()
      val n = CorpusDedup.appendBatchSemantic(spark, batch,
        version = b + 1, corpus, vecs, cents, threshold)
      val dt = (System.nanoTime() - t0) / 1e9
      require(n == expected,
        s"batch $b: streamed $n vs batch-operator $expected")
      accepted += n
      println(f"== batch $b${if (b >= half) " (drifted)" else ""}: " +
        f"$dt%.2f s, accepted $n == batch-operator truth " +
        f"(corpus $accepted)")
    }
    // every planted post-swap re-offer was rejected
    val plantedIds = planted.select("vec_id")
      .collect().map(_.getLong(0)).toSet
    val acceptedIds = spark.read.parquet(corpus).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    (half until nBatches).foreach { b =>
      val re = plantedIds.map(_ + 10000000L * b).intersect(acceptedIds)
      require(re.isEmpty, s"planted re-offers accepted in batch $b: $re")
    }
    emb.unpersist(blocking = true)
    batched.unpersist(blocking = true)
    require(spark.sparkContext.getPersistentRDDs.isEmpty,
      "drift probe leaked pinned blocks")
    println(f"== total accepted $accepted of ~$total offered " +
      f"(+planted); swap $swapSec%.2f s; every batch matched the " +
      "batch operator under its cells")
    spark.stop()
  }
}
