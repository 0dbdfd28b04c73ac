package graft

import org.apache.spark.sql.functions._

import graft.pipeline.{Bpe, Sampling}

/** Scale probe for `Sampling.packSequences` (encode → concat-and-chunk)
  * at 10× the bench corpus (/tmp/sf1 via tools/gen_scaled_docs.py).
  * The operator's cost model says work ∝ corpus tokens with one lane
  * exchange: per-doc offsets ride a lane window, the bounded explode
  * emits one slice per (doc × overlapped sequence), and the assembly
  * reuses the lane partitioning — so wall growth should track token
  * growth (~10×) with no straggler, and every emitted sequence must
  * still be EXACTLY seqLen ids at any scale (asserted in-probe, in
  * the same job that forces the assembly — `sum(length(ids_csv))`
  * keeps the collect_list from being pruned by the forcing aggregate,
  * the count()-forcing trap).
  *
  * Usage: Test/runMain graft.PackSeqProbe [bigDir] [refDir] [passes]
  */
object PackSeqProbe {
  def main(args: Array[String]): Unit = {
    val bigDir = if (args.length > 0) args(0) else "/tmp/sf1"
    val refDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val passes = if (args.length > 2) args(2).toInt else 2
    val spark = graft.util.LocalSession()

    val seqLen = 128
    for ((label, dir) <- Seq("ref" -> refDir, "big" -> bigDir)) {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "text")
      val nDocs = docs.count()
      // control-plane: train once per corpus (persisted in a real
      // pipeline), measure the data path (encode -> pack) per pass
      val merges = Bpe.train(docs, nMerges = 12)
      val vocab = Bpe.vocab(docs, merges)
      val walls = (1 to passes).map { _ =>
        val t0 = System.nanoTime()
        val r = Sampling.packSequences(
            Bpe.encodeIds(docs, merges, vocab),
            seqLen = seqLen, nBuckets = 32,
            eosId = vocab.length.toLong)
          .agg(count(lit(1)).as("n_seqs"),
            sum(col("n_docs")).as("frags"),
            min(size(split(col("ids_csv"), ","))).as("lmin"),
            max(size(split(col("ids_csv"), ","))).as("lmax"))
          .collect()(0)
        val dt = (System.nanoTime() - t0) / 1e9
        assert(r.getInt(2) == seqLen && r.getInt(3) == seqLen,
          s"sequence length drifted: ${r.getInt(2)}..${r.getInt(3)}")
        println(f"   $label ($nDocs docs): ${r.getLong(0)} seqs, " +
          f"${r.getLong(1)} doc-frags, $dt%.2f s")
        dt
      }
      println(f"== $label min wall ${walls.min}%.2f s over $nDocs docs")
    }
    spark.stop()
  }
}
