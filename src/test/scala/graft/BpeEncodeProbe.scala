package graft

import org.apache.spark.sql.functions._

/** Scale probe for the BPE ENCODE path (the verdict-r13 gap): train R
  * merges on the corpus (control-plane fast path), then time
  * `Bpe.tokenCounts` — whose per-word encode is the native
  * lowest-rank-first loop ([[graft.functions.BpeTokenCount]]) — at
  * production-shaped merge counts. Optionally times the legacy
  * R-literal-replace chain on the same table for comparison: the
  * chain's cost grows linearly in R (every word pays R full-string
  * scans) and its single expression tree stops fitting whole-stage
  * codegen's 64KB method budget far below real vocab sizes, which is
  * exactly why the native loop exists.
  *
  * Usage: Test/runMain graft.BpeEncodeProbe [sfDir|synth] [R] [chainToo]
  *
  * `synth` replaces the corpus with a generated vocabulary-rich one
  * (the sf docs saturate their pair space under 100 merges — real
  * tokenizer tables only exist over a rich vocabulary).
  */
object BpeEncodeProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val r = if (args.length > 1) args(1).toInt else 1000
    val chainToo = args.length > 2 && args(2) == "chain"
    val spark = graft.util.LocalSession()
    def sweep(): Unit = graft.util.LocalSession.sweep(spark)
    val docs =
      if (sfDir != "synth") model.Tables.load(spark, sfDir, "documents")
      else {
        // 40k distinct Zipf-ish words over a 20-char alphabet, 50k
        // docs of 100 words: enough adjacent-pair diversity to train
        // thousands of ranks (deterministic — fixed seed)
        import spark.implicits._
        val rnd = new scala.util.Random(7)
        val alphabet = "abcdefghijklmnopqrst"
        val vocab = (0 until 40000).map(_ =>
          (0 until 3 + rnd.nextInt(10)).map(_ =>
            alphabet(rnd.nextInt(alphabet.length))).mkString).distinct
        val nv = vocab.length
        (0 until 50000).map { i =>
          val rd = new scala.util.Random(i)
          // Zipf-ish: square the uniform so low ids dominate
          (i.toLong, (0 until 100).map { _ =>
            val u = rd.nextDouble(); vocab(((u * u) * nv).toInt.min(nv - 1))
          }.mkString(" "))
        }.toDF("doc_id", "text")
      }
    var t0 = System.nanoTime()
    val merges = pipeline.Bpe.train(docs, r, localMaxVocab = Int.MaxValue)
    val tTrain = (System.nanoTime() - t0) / 1e9
    sweep()
    println(f"train R=$r: $tTrain%.2f s (got ${merges.size} merges)")
    def timeCounts(label: String, f: => org.apache.spark.sql.DataFrame)
        : Long = {
      // warm + timed; force through a grouped aggregate (the
      // count()-forcing trap: Catalyst would prune the whole encode)
      def once(): (Double, Long) = {
        val t = System.nanoTime()
        val s = f.agg(sum(col("bpe_tokens"))).collect()(0).getLong(0)
        ((System.nanoTime() - t) / 1e9, s)
      }
      val (a, sa) = once(); sweep()
      val (b, sb) = once(); sweep()
      require(sa == sb, s"$label: non-deterministic sums $sa vs $sb")
      println(f"$label: ${math.min(a, b)}%.2f s warm " +
        f"(first $a%.2f), total tokens $sa")
      sa
    }
    val nativeSum = timeCounts(s"native encode R=${merges.size}",
      pipeline.Bpe.tokenCounts(docs, merges))
    if (chainToo) try {
      // the legacy chain (rebuilt inline — tokenCounts now always
      // uses the native loop); identical results required. At real
      // table sizes this DIES before it is slow: a 1000-deep replace
      // tree overflows the driver stack in Catalyst's recursive
      // transforms (measured R=1000: StackOverflowError at plan
      // time), and past ~64KB of generated method the codegen falls
      // back interpreted — the probe reports rather than crashes.
      val chainSum = timeCounts(s"replace chain R=${merges.size}", {
        val words = docs.select(col("doc_id"),
          explode(regexp_extract_all(lower(col("text")),
            lit(pipeline.Bpe.WordRe), lit(0))).as("w"))
        val wordTok = words.select(col("w")).distinct()
          .withColumn("_nt", pipeline.Bpe.symbolCount(
            pipeline.Bpe.applyMerges(
              pipeline.Bpe.initEnc(col("w")), merges)).cast("long"))
        val perDoc = words.join(wordTok, Seq("w"))
          .groupBy(col("doc_id")).agg(sum(col("_nt")).as("_wt"))
        docs.select(col("doc_id"),
            size(regexp_extract_all(lower(col("text")),
              lit(pipeline.Bpe.PunctRe), lit(0))).cast("long").as("_np"))
          .join(perDoc, Seq("doc_id"), "left")
          .select(col("doc_id"),
            (coalesce(col("_wt"), lit(0L)) + col("_np"))
              .as("bpe_tokens"))
      })
      require(nativeSum == chainSum,
        s"native $nativeSum != chain $chainSum")
      println("native == chain on the full corpus")
    } catch {
      case e: StackOverflowError =>
        println(s"replace chain R=${merges.size}: UNPLANNABLE — " +
          s"StackOverflowError in Catalyst transform (the wall the " +
          s"native loop removes)")
    }
    spark.stop()
  }
}
