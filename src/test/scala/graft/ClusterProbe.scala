package graft

import org.apache.spark.sql.functions._

/** Phase-level timing for the d_dedup_clusters pipeline: the Bench
  * number is one opaque wall figure and PlanProbe only sees the final
  * pinned read (the BSP loop runs eagerly during query construction),
  * so this breaks the time into (a) materializing the jaccard-pairs
  * edge input and (b) each BSP round, per warm pass.
  *
  * Usage: Test/runMain graft.ClusterProbe [sfDir] [passes]
  */
object ClusterProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val passes = if (args.length > 1) args(1).toInt else 2
    val spark = graft.util.LocalSession()
    def sweep(): Unit = graft.util.LocalSession.sweep(spark)
    for (p <- 1 to passes) {
      val docs = model.Tables.load(spark, sfDir, "documents")
      var t0 = System.nanoTime()
      val (pairs, pairsPin) = pipeline.Dedup.jaccardPairs(docs, k = 3,
        threshold = 0.5, maxDf = 100)
      // materialize the pair list once so the edge-pin phase below
      // times ONLY the explode+pin, mirroring what clusters() pays
      // beyond the pair pipeline itself
      val nPairs = pairs.count()
      val tPairs = (System.nanoTime() - t0) / 1e9
      t0 = System.nanoTime()
      val (labels, h, iters) = pipeline.Dedup.clustersCounted(
        docs.select("doc_id"), pairs)
      val tLoop = (System.nanoTime() - t0) / 1e9
      t0 = System.nanoTime()
      val n = labels.groupBy("cluster").count().count()
      val tRead = (System.nanoTime() - t0) / 1e9
      h.release(); pairsPin.release(); sweep()
      println(f"pass $p: pairs($nPairs)=$tPairs%.2f s " +
        f"loop($iters rounds)=$tLoop%.2f s read($n)=$tRead%.2f s")
    }
    spark.stop()
  }
}
