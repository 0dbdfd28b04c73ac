package graft

import org.apache.spark.sql.functions._

import graft.pipeline.Similarity

/** Scale probe for the PLAIN (non-IVF) PQ index at 10× the bench
  * corpus (Test/runMain graft.PqProbe [bigDir] [passes]): the round-17
  * work items measured on the wall —
  *
  *   1. the build-encode A/B the dispatch decides: INTEGER label
  *      cells ride the native map-only `ResidualCode` argmin, the
  *      same rows with STRING labels ride the legacy join + two
  *      aggregations (the generic face) — value-identical codes,
  *      different plans, read the walls;
  *   2. the lifecycle verbs at scale: an overlapping append
  *      (duplicate (_vid, _sub) rows), `compactPqCodes` healing the
  *      serve back to the exact pre-overlap rows, and `retrainPqIndex`
  *      ≈ a fresh build in one commit.
  */
object PqProbe {
  def main(args: Array[String]): Unit = {
    val bigDir = if (args.length > 0) args(0) else "/tmp/sf1"
    val passes = if (args.length > 1) args(1).toInt else 2
    val spark = graft.util.LocalSession()
    val emb = spark.read.parquet(s"$bigDir/embeddings.parquet")
      .select("vec_id", "embedding", "label")
    val n = emb.count()
    val dims = emb.select(size(col("embedding"))).head().getInt(0)
    val cells = emb.select(countDistinct(col("label"))).head().getLong(0)
    println(s"== corpus $n vectors × $dims dims, $cells label cells")
    val embStr = emb.withColumn("label", col("label").cast("string"))
    def timed[A](what: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"   $what: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    def codes(d: String): Seq[String] =
      Similarity.indexRows(spark, d).get
        .select(col("_vid"), col("_sub").cast("int"),
          col("_cell").cast("long"))
        .collect().map(_.toString).sorted.toSeq
    var intDir: String = null
    for (p <- 1 to passes) {
      println(s"== pass $p")
      intDir = java.nio.file.Files.createTempDirectory("pqint").toString
      timed("build NATIVE (int cells)")(
        Similarity.writePqIndex(emb, intDir, dims = dims, m = 4))
      val strDir = java.nio.file.Files.createTempDirectory("pqstr")
        .toString
      timed("build JOIN-FACE (string cells)")(
        Similarity.writePqIndex(embStr, strDir, dims = dims, m = 4))
      require(codes(intDir) == codes(strDir),
        "native and join-face codes diverged")
      println("   codes value-identical across faces")
    }
    // lifecycle at scale, on the last native build
    val queries = emb.orderBy(col("vec_id")).limit(8)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toSeq
    def serve(): Seq[(Long, Long, Long)] =
      Similarity.pqTopKFromIndex(spark, intDir, queries, k = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSeq.sorted
    val before = serve()
    val codesBefore = codes(intDir)
    timed("overlapping append (half the corpus, already indexed)") {
      Similarity.appendToPqIndex(emb.where(col("vec_id") % 2 === 0),
        intDir)
    }
    require(codes(intDir).size > codesBefore.size, "overlap wrote rows")
    require(serve() != before, "overlap must shift ADC scores")
    timed("compactPqCodes")(Similarity.compactPqCodes(spark, intDir))
    require(codes(intDir) == codesBefore && serve() == before,
      "compaction must restore the exact pre-overlap rows and serve")
    println("   serve RESTORED to pre-overlap")
    timed("retrainPqIndex")(Similarity.retrainPqIndex(emb, intDir))
    require(serve() == before, "retrain over the same rows ≡ rebuild")
    println("   retrain serve ≡ fresh build")
    spark.stop()
  }
}
