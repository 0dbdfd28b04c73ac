package graft

import org.apache.spark.sql.functions._

/** Fold-cost probe for the incremental BM25 postings compaction:
  * build a full-corpus index, append a SMALL batch (touching few
  * buckets), then time [[graft.pipeline.Search.compactBm25Buckets]]
  * (touched buckets only) against [[graft.pipeline.Search.compactBm25Index]]
  * (whole-root rewrite) from identical starting trees. The claim
  * under test: incremental fold cost tracks the TOUCHED buckets, not
  * the index size. Probe tool only.
  *
  * Usage: Test/runMain graft.BucketFoldProbe [sfDir] [nBuckets]
  */
object BucketFoldProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val nBuckets = if (args.length > 1) args(1).toInt else 64
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.pipeline.Search
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    // a few distinct short docs => the append touches FEW buckets
    import spark.implicits._
    val small = Seq(
      (900000001L, "alpha probe batch"),
      (900000002L, "alpha probe batch second"),
      (900000003L, "gamma fold")).toDF("doc_id", "text")
    def build(base: String): Unit = {
      Search.writeBm25Index(docs, s"$base/bm25", nBuckets = nBuckets)
      Search.appendToBm25Index(small, s"$base/bm25")
    }
    def bucketFiles(base: String): Map[Int, Int] = {
      new graft.util.ManifestLog(new org.apache.hadoop.fs.Path(
          s"$base/bm25"), spark.sparkContext.hadoopConfiguration,
          Map("postings" -> Seq("bucket")))
        .latest.get.files.groupBy(_.part("bucket").toInt)
        .map { case (b, fs) => b -> fs.size }
    }
    val c0 = graft.util.ProbeGuard.canaryCpu(spark, cpus.toInt)
    // tree A: incremental fold (threshold 1 => only the appended
    // buckets, which carry 2 files, fold)
    val a = s"/tmp/graft_bfold_probe_a_${System.nanoTime()}"
    build(a)
    val over = bucketFiles(a).count(_._2 > 1)
    val t0 = System.nanoTime()
    val folded = Search.compactBm25Buckets(spark, s"$a/bm25", maxPartFiles = 1)
    val incSec = (System.nanoTime() - t0) / 1e9
    // tree B: whole-root fold from the identical starting state
    val b = s"/tmp/graft_bfold_probe_b_${System.nanoTime()}"
    build(b)
    val t1 = System.nanoTime()
    Search.compactBm25Index(spark, s"$b/bm25")
    val fullSec = (System.nanoTime() - t1) / 1e9
    val c1 = graft.util.ProbeGuard.canaryCpu(spark, cpus.toInt)
    // equivalence: both trees serve identically
    val q = Seq((1L, "alpha probe"), (2L, "vector stream hash"))
    val sa = Search.bm25TopKBatchFromIndex(spark, s"$a/bm25", q, 5)
      .collect().map(_.toString).sorted.toSeq
    val sb = Search.bm25TopKBatchFromIndex(spark, s"$b/bm25", q, 5)
      .collect().map(_.toString).sorted.toSeq
    require(sa == sb, "incremental and whole-root folds diverged")
    println(f"[bfold-probe] nBuckets=$nBuckets%d overThreshold=$over%d " +
      f"folded=${folded.size}%d inc=$incSec%.2f s full=$fullSec%.2f s " +
      f"ratio=${fullSec / incSec}%.2f " +
      f"canary=${math.min(c0, c1)}%.2f " +
      f"load=${graft.util.ProbeGuard.loadavg()}%.2f")
    spark.stop()
  }
}
