package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.CorpusDedup

/** Long-history probe for the streaming corpus-dedup faces: drive a
  * many-micro-batch run (the specs cover few-batch histories) and
  * measure per-batch wall clock vs batch index, with and without the
  * periodic sidecar compactions — the flat-per-batch-cost claim is a
  * plan-shape argument until this measures it.
  *
  * Usage:
  *   runMain graft.StreamMaintProbe <face> [docsParquet] [nBatches] [compactEvery]
  * face ∈ exact | neardup | semantic | all; compactEvery = 0 disables
  * maintenance (the baseline curve). Prints one line per batch
  * (face, mode, batch index, seconds, live sidecar version count)
  * and a per-decile mean summary per (face, mode).
  *
  * Probe tool only — the library never calls this; outputs land under
  * /tmp/graft_maint_probe.
  */
object StreamMaintProbe {
  def main(args: Array[String]): Unit = {
    val face = args.headOption.getOrElse("all")
    val docsPath =
      if (args.length > 1) args(1) else "/tmp/sf1/documents.parquet"
    val nBatches = if (args.length > 2) args(2).toInt else 60
    val compactEvery = if (args.length > 3) args(3).toInt else 10
    // fold target for the sized compactions, scaled DOWN with the
    // probe corpus exactly like the data is (default 1 MB here vs
    // 128 MB at production corpus scale): at the production default a
    // toy-scale fold is ceil(tiny/128MB) = 1 file, which re-measures
    // the small-file wall the r18 probe hit, not the production shape
    // where row-group splitting keeps scans parallel.
    val targetBytes =
      (if (args.length > 4) args(4).toLong else 1L) << 20
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val base = s"/tmp/graft_maint_probe_${System.nanoTime()}"

    def sweep(): Unit = {
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      spark.sharedState.cacheManager.clearCache()
    }
    // live `version` values of a manifest store's tree: the files its
    // newest manifest lists, not the dirs on disk
    def versionCount(root: String, tree: String): Int =
      new graft.util.ManifestLog(new org.apache.hadoop.fs.Path(root),
        spark.sparkContext.hadoopConfiguration, Map(tree -> Seq("version")))
        .latest.fold(0)(_.filesOf(tree).map(_.part("version")).distinct.size)

    // Deterministic hash split into batches: id RANGES are wrong for
    // the scaled corpus (ids sit at copy*1e6 offsets, so ranges make
    // most batches empty and a few 5000-doc spikes — the first probe
    // run measured exactly that artifact). Hashing spreads every batch
    // evenly and puts near-dup copies of one doc in DIFFERENT batches,
    // which is the realistic cross-batch-dup stream.
    val docs = spark.read.parquet(docsPath)
      .select(col("doc_id"), col("text"))
    def batchDf(i: Int): DataFrame =
      docs.where(pmod(xxhash64(col("doc_id")), lit(nBatches.toLong))
        === i.toLong)

    // Deterministic pseudo-random 8-dim vectors for the semantic face:
    // sin(id·cᵈ + d) components are pairwise uncorrelated across ids,
    // so cross-id cosine sits near 0 and every vector is ACCEPTED —
    // the sidecar grows one version per batch, which is the long-
    // history behavior this probe exists to measure (a dup-heavy
    // stream never grows the sidecar past batch 1).
    def vecBatch(i: Int): DataFrame =
      batchDf(i).select(col("doc_id").as("vec_id"),
        array((0 until 8).map(d =>
          sin(col("doc_id").cast("double") * lit(0.7 + 0.13 * d)
            + lit(d.toDouble)).cast("float")): _*).as("embedding"))

    def runFace(name: String, modes: Seq[Int])(
        append: (DataFrame, Long, String) => Long)(
        compact: String => Unit): Unit = {
      // warm the face's codegen/JIT/file-listing paths OUTSIDE the
      // timed curves, or the first mode absorbs warmup the second
      // never pays and the cross-mode comparison is biased
      (0 until 2).foreach { i =>
        val b = if (name == "semantic") vecBatch(i) else batchDf(i)
        append(b, i + 1L, s"$base/$name-warm"); sweep()
      }
      modes.foreach { every =>
        val mode = if (every > 0) s"compact$every" else "nocompact"
        val dir = s"$base/$name-$mode"
        // contamination evidence per CURVE (the Bench canary
        // discipline): the two modes run minutes apart, so a host
        // window shift between them would otherwise read as a
        // compaction effect — bracket each curve with both canaries
        // and print them next to its decile means
        val c0 = graft.util.ProbeGuard.canaryCpu(spark, cpus.toInt)
        val io0 = graft.util.ProbeGuard.canaryIo(spark, docsPath,
          "doc_id", cpus.toInt)
        val times = (0 until nBatches).map { i =>
          val b = if (name == "semantic") vecBatch(i) else batchDf(i)
          val t0 = System.nanoTime()
          append(b, i + 1L, dir)
          val dt = (System.nanoTime() - t0) / 1e9
          sweep()
          if (every > 0 && (i + 1) % every == 0) compact(dir)
          sweep()
          println(f"[probe] $name $mode batch=${i + 1}%d sec=$dt%.2f " +
            f"versions=${versionCount(s"$dir-side", "rows")}%d")
          dt
        }
        val c1 = graft.util.ProbeGuard.canaryCpu(spark, cpus.toInt)
        val io1 = graft.util.ProbeGuard.canaryIo(spark, docsPath,
          "doc_id", cpus.toInt)
        val dec = math.max(1, nBatches / 10)
        val means = times.grouped(dec).map(g => g.sum / g.size).toSeq
        println(s"[probe] $name $mode decile_means=" +
          means.map(m => f"$m%.2f").mkString(",") +
          f" canary=${math.min(c0, c1)}%.2f" +
          f" canary_io=${math.min(io0, io1)}%.2f" +
          f" load=${graft.util.ProbeGuard.loadavg()}%.2f")
      }
    }

    val modes = if (compactEvery > 0) Seq(0, compactEvery) else Seq(0)
    if (face == "exact" || face == "all")
      runFace("exact", modes) { (b, v, dir) =>
        CorpusDedup.appendBatch(spark, b, v, s"$dir-corpus",
          s"$dir-side", s"$dir-fp")
      } { dir =>
        CorpusDedup.compactTier(spark, s"$dir-side")
        CorpusDedup.compactFp(spark, s"$dir-fp", targetBytes)
      }
    if (face == "neardup" || face == "all")
      runFace("neardup", modes) { (b, v, dir) =>
        CorpusDedup.appendBatchNearDup(spark, b, v, s"$dir-corpus",
          s"$dir-side", k = 3, threshold = 0.5, maxDf = 200)
      } { dir =>
        CorpusDedup.compactPostings(spark, s"$dir-side", targetBytes)
      }
    if (face == "semantic" || face == "all") {
      val cents = graft.pipeline.Similarity.trainIvfCentroids(
        vecBatch(0).limit(2000), k = 8, iters = 5)
      runFace("semantic", modes) { (b, v, dir) =>
        CorpusDedup.appendBatchSemantic(spark, b, v, s"$dir-corpus",
          s"$dir-side", cents, threshold = 0.9999)
      } { dir =>
        CorpusDedup.compactVectors(spark, s"$dir-side", targetBytes)
      }
    }
    // shard-store face: prove appendBatch cost tracks the TOUCHED
    // SUFFIX, not lane history — build the store from the whole
    // corpus once, then time single-doc appends whose driver-chosen
    // pk splices EARLY in a lane (suffix ≈ the whole lane: rebuild +
    // rewrite everything after it) vs LATE (suffix ≈ one boundary
    // segment). If cost tracked lane history the two would read the
    // same; suffix-bound maintenance makes late ≪ early. A trailing
    // random-id curve shows steady-state per-append cost.
    if (face == "shards" || face == "all") {
      import graft.streaming.SequenceShards
      import spark.implicits._
      val store = s"$base/shards-store"
      val enc = docs.select(col("doc_id"),
        graft.pipeline.TextOps.md5TokenIds(col("text"), 997)
          .as("bpe_ids"))
      val c0 = graft.util.ProbeGuard.canaryCpu(spark, cpus.toInt)
      val tb = System.nanoTime()
      SequenceShards.appendBatch(spark, enc, 1L, store,
        seqLen = 128, nBuckets = 8, eosId = 997L, segSize = 256)
      val buildSec = (System.nanoTime() - tb) / 1e9
      sweep()
      def pkOf(id: Long): String =
        graft.pipeline.Sampling.hashBucketLocal(id.toString, "graft")
      // fresh ids far above the scaled corpus' copy*1e6 offsets,
      // ranked by their in-lane pack position
      val cand = (900000000000L until 900000003000L)
        .map(i => (i, pkOf(i))).sortBy(_._2)
      var v = 1L
      def appendOne(id: Long): Double = {
        v += 1
        val b = Seq((id, Array.tabulate(60)(j => j % 997)))
          .toDF("doc_id", "bpe_ids")
        val t0 = System.nanoTime()
        SequenceShards.appendBatch(spark, b, v, store,
          seqLen = 128, nBuckets = 8, eosId = 997L, segSize = 256)
        val dt = (System.nanoTime() - t0) / 1e9
        sweep(); dt
      }
      val early = cand.take(5).map { case (id, pk) =>
        val s = appendOne(id)
        println(f"[probe] shards early pk=$pk sec=$s%.2f"); s
      }
      val late = cand.takeRight(5).map { case (id, pk) =>
        val s = appendOne(id)
        println(f"[probe] shards late pk=$pk sec=$s%.2f"); s
      }
      // steady-state curve over arbitrary splice positions
      val curve = cand.slice(1000, 1020).map(c => appendOne(c._1))
      val c1 = graft.util.ProbeGuard.canaryCpu(spark, cpus.toInt)
      println(f"[probe] shards build=$buildSec%.2f " +
        f"early_mean=${early.sum / early.size}%.2f " +
        f"late_mean=${late.sum / late.size}%.2f " +
        "curve=" + curve.map(s => f"$s%.2f").mkString(",") +
        f" canary=${math.min(c0, c1)}%.2f" +
        f" load=${graft.util.ProbeGuard.loadavg()}%.2f")
      // compactDocs payoff: the appends above left one version
      // partition each (~30 live) — time appends against the long
      // history, fold it, time the same appends after. The data
      // plane is identical in both windows (same suffix work), so
      // the delta is the per-batch docs listing/footer overhead the
      // fold deletes — the thing that otherwise grows per batch
      // forever.
      def docVersions(): Int = versionCount(store, "docs")
      val preFold = cand.slice(1020, 1030).map(c => appendOne(c._1))
      // capture AFTER the pre-fold appends: this is the history the
      // fold actually folds (each append above added a version)
      val vPre = docVersions()
      val tf = System.nanoTime()
      SequenceShards.compactDocs(spark, store, targetBytes)
      val foldSec = (System.nanoTime() - tf) / 1e9
      sweep()
      val vPost = docVersions()
      val postFold = cand.slice(1030, 1040).map(c => appendOne(c._1))
      val c2 = graft.util.ProbeGuard.canaryCpu(spark, cpus.toInt)
      println(f"[probe] shards fold=$foldSec%.2f " +
        f"versions=$vPre%d->$vPost%d " +
        f"prefold_mean=${preFold.sum / preFold.size}%.2f " +
        f"postfold_mean=${postFold.sum / postFold.size}%.2f " +
        f" canary=${math.min(c1, c2)}%.2f" +
        f" load=${graft.util.ProbeGuard.loadavg()}%.2f")
    }
    spark.stop()
  }
}
