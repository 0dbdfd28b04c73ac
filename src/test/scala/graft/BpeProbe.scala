package graft

import org.apache.spark.sql.functions._

/** Phase-level timing for BPE training at scale: compares the
  * control-plane fast path (driver merge loop over the collected
  * distinct-word frame) against the distributed per-round loop on the
  * same corpus, and checks the merges agree — the Bench number is one
  * opaque wall figure, and the interesting scale question is how the
  * VOCABULARY (the training state) grows relative to the corpus.
  *
  * Usage: Test/runMain graft.BpeProbe [sfDir] [nMerges] [passes]
  */
object BpeProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val nMerges = if (args.length > 1) args(1).toInt else 24
    val passes = if (args.length > 2) args(2).toInt else 2
    val spark = graft.util.LocalSession()
    def sweep(): Unit = graft.util.LocalSession.sweep(spark)
    for (p <- 1 to passes) {
      val docs = model.Tables.load(spark, sfDir, "documents")
      val vocab = docs.select(explode(org.apache.spark.sql.functions
        .regexp_extract_all(lower(col("text")),
          lit(pipeline.Bpe.WordRe), lit(0))).as("w"))
        .distinct().count()
      var t0 = System.nanoTime()
      // force the fast path regardless of the default bound — on a
      // vocabulary past 2^17 the default would silently fall back and
      // this probe would compare the distributed loop to itself
      val local = pipeline.Bpe.train(docs, nMerges,
        localMaxVocab = Int.MaxValue)
      val tLocal = (System.nanoTime() - t0) / 1e9
      sweep()
      t0 = System.nanoTime()
      val dist = pipeline.Bpe.train(docs, nMerges, localMaxVocab = 0)
      val tDist = (System.nanoTime() - t0) / 1e9
      sweep()
      require(local == dist, s"merge tables diverged: $local vs $dist")
      println(f"pass $p: vocab=$vocab local=$tLocal%.2f s " +
        f"distributed=$tDist%.2f s (merges agree, n=${local.size})")
    }
    spark.stop()
  }
}
