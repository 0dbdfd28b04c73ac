package graft

import org.apache.spark.sql.functions._

/** Stage-level timing inside the jaccard-pairs phase: (a) the
  * tokenize+shingle scan stage alone (the interpreted-HOF candidate
  * for a native expression), (b) the full pair pipeline — so the
  * shingle stage's share is measured before anyone builds a native
  * shingle expression on a hunch.
  *
  * Usage: Test/runMain graft.ShingleProbe [sfDir] [passes]
  */
object ShingleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val passes = if (args.length > 1) args(1).toInt else 3
    val spark = graft.util.LocalSession()
    def sweep(): Unit = graft.util.LocalSession.sweep(spark)
    val docs = model.Tables.load(spark, sfDir, "documents")
    for (p <- 1 to passes) {
      var t0 = System.nanoTime()
      // the scan stage the pair pipelines pin: spread -> tokens ->
      // k-shingles (distinct) as arrays; forced through a grouped agg
      val n = graft.util.Spread.ensure(
          docs.select(col("doc_id"), col("text")), Seq(col("doc_id")))
        .select(col("doc_id"),
          pipeline.TextOps.tokens(lower(col("text"))).as("_toks"))
        .select(col("doc_id"),
          pipeline.Dedup.shinglesOfTokens(col("_toks"), 3).as("_arr"))
        .groupBy(col("doc_id") % 32).agg(sum(size(col("_arr"))))
        .count()
      val tShingle = (System.nanoTime() - t0) / 1e9
      sweep()
      t0 = System.nanoTime()
      val nPairs = pipeline.Dedup.jaccardPairs(docs, k = 3,
        threshold = 0.5, maxDf = 100)._1.count()
      val tPairs = (System.nanoTime() - t0) / 1e9
      sweep()
      println(f"pass $p: shingle-stage($n)=$tShingle%.2f s " +
        f"full-pairs($nPairs)=$tPairs%.2f s")
    }
    spark.stop()
  }
}
