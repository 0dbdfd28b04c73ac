package graft

import org.apache.spark.sql.functions._

import graft.pipeline.Similarity

/** Recall + serve-cost probe for the composed IVF-PQ index, raw vs
  * RESIDUAL encoding (Test/runMain graft.IvfPqProbe [sfDir] [kCells]
  * [m] [k]): build both layouts over the embeddings table, take
  * corpus vectors as queries, and measure recall@k against the exact
  * cosine ranking at nprobe ∈ {1, 2, 4, …, kCells}, plus warm serve
  * seconds. The numbers this prints back the two claims the operator
  * makes: (a) serve cost tracks the probed fraction (the probed cells'
  * code files), (b) residual coding buys recall at the same code
  * budget (the IVFADC point). */
object IvfPqProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val kCells = if (args.length > 1) args(1).toInt else 16
    val m = if (args.length > 2) args(2).toInt else 4
    val k = if (args.length > 3) args(3).toInt else 10
    val kSub = if (args.length > 4) args(4).toInt else 16
    val spark = graft.util.LocalSession()
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding").cache()
    val n = emb.count()
    val dims = emb.select(size(col("embedding"))).head().getInt(0)
    println(s"== corpus $n vectors × $dims dims; " +
      s"kCells=$kCells m=$m kSub=$kSub")
    val queries = emb.orderBy(col("vec_id")).limit(20)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toSeq
    // exact ground truth: cosine top-k per query, self excluded
    val exact = Similarity.bruteForceTopKBatch(emb,
        queries.map(_._1), k)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    def buildAndMeasure(label: String, residual: Boolean): Unit = {
      val dir = java.nio.file.Files
        .createTempDirectory(s"ivfpq-$label").toString
      val t0 = System.nanoTime()
      Similarity.writeIvfPqIndex(emb, dir, kCells = kCells,
        dims = dims, m = m, iters = 3, residual = residual,
        kSub = kSub)
      val tBuild = (System.nanoTime() - t0) / 1e9
      graft.util.LocalSession.sweep(spark)
      val probes = Iterator.iterate(1)(_ * 2)
        .takeWhile(_ < kCells).toSeq :+ kCells
      val lines = probes.map { np =>
        def once(): (Double, Map[Long, Set[Long]]) = {
          val t = System.nanoTime()
          val got = Similarity.ivfPqTopKFromIndex(spark, dir, queries,
              k, nprobe = np)
            .collect().map(r => r.getLong(0) -> r.getLong(1))
            .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
          ((System.nanoTime() - t) / 1e9, got)
        }
        val (a, got) = once()
        val (b, got2) = once()
        require(got == got2, s"non-deterministic serve at nprobe=$np")
        val recall = queries.map { case (q, _) =>
          val g = got.getOrElse(q, Set.empty)
          exact(q).intersect(g).size.toDouble / exact(q).size
        }.sum / queries.size
        f"  nprobe=$np%3d recall@$k=${recall}%.3f " +
          f"serve=${math.min(a, b)}%.2f s"
      }
      println(f"== $label: build $tBuild%.1f s")
      lines.foreach(println)
      // lifecycle at scale: an overlapping append (half the corpus
      // lands twice), the compaction heal, and a retrain — walls plus
      // the serve-restoration check the PipelineSpec pins at toy size
      val half = emb.where(col("vec_id") % 2 === 0)
      val np = math.min(2, kCells)
      def serveSet(): Map[Long, Set[Long]] =
        Similarity.ivfPqTopKFromIndex(spark, dir, queries, k,
            nprobe = np)
          .collect().map(r => r.getLong(0) -> r.getLong(1))
          .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
      val clean = serveSet()
      def codeRows(): Long =
        Similarity.indexRows(spark, dir).get.count()
      val rowsClean = codeRows()
      val nHalf = half.count()
      var t = System.nanoTime()
      Similarity.appendToIvfPqIndex(half, dir)
      val tAppend = (System.nanoTime() - t) / 1e9
      // the overlapping append must have actually duplicated rows, or
      // the heal check below passes vacuously (the PipelineSpec
      // contract at probe scale)
      require(codeRows() == rowsClean + nHalf * m,
        s"$label: overlapping append did not duplicate code rows")
      t = System.nanoTime()
      Similarity.compactIvfPqCodes(spark, dir)
      val tCompact = (System.nanoTime() - t) / 1e9
      require(codeRows() == rowsClean,
        s"$label: compaction must restore the exact code-row count")
      require(serveSet() == clean,
        s"$label: compaction must restore the pre-overlap serve")
      t = System.nanoTime()
      Similarity.retrainIvfPqIndex(emb, dir, kCells = kCells, iters = 3)
      val tRetrain = (System.nanoTime() - t) / 1e9
      graft.util.LocalSession.sweep(spark)
      println(f"  lifecycle: overlap-append $tAppend%.1f s, " +
        f"compact $tCompact%.1f s (serve restored), " +
        f"retrain $tRetrain%.1f s")
    }
    buildAndMeasure("raw", residual = false)
    buildAndMeasure("residual", residual = true)
    spark.stop()
  }
}
