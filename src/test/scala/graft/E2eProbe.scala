package graft

/** Scale probe for the composed dataloader entry: times the WHOLE
  * registry fn (eager control-plane stages INCLUDED — PlanProbe calls
  * fn outside its clock, so its number misses the BPE training and
  * pin materialization jobs) at two corpus scales. Probe tool only.
  *
  * Usage: Test/runMain graft.E2eProbe [refDir] [bigDir]
  */
object E2eProbe {
  def main(args: Array[String]): Unit = {
    val ref = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val big = if (args.length > 1) args(1) else "/tmp/sf1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fn = SparkEntry.queries("t_e2e_dataloader")
    def sweep(): Unit = {
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      spark.sharedState.cacheManager.clearCache()
    }
    def once(dir: String): (Double, Long) = {
      val t0 = System.nanoTime()
      val out = fn(spark, dir)
      val n = out.count()
      val dt = (System.nanoTime() - t0) / 1e9
      // integrity: every packed sequence is exactly 128 ids
      val bad = out.where(org.apache.spark.sql.functions
        .expr("size(split(ids_csv, ',')) != 128")).count()
      require(bad == 0, s"$bad sequences not exactly 128 ids")
      sweep()
      (dt, n)
    }
    once(ref) // warm: codegen, file listings
    // the Bench self-defense, carried by the probe itself: canaries
    // bracket the timed legs (divide cross-window comparisons by
    // them — the sf1 chain read 28.85 s and 60.8 s in two host
    // windows on IDENTICAL code), each leg is min-of-three on
    // disagreement, and its spread is printed so a contaminated leg
    // names itself
    import graft.util.ProbeGuard
    val cCpu0 = ProbeGuard.canaryCpu(spark, cpus.toInt)
    val cIo0 = ProbeGuard.canaryIo(spark, s"$ref/orders.parquet",
      "o_custkey", cpus.toInt)
    def leg(dir: String): (Double, Double, Long) = {
      val counts = scala.collection.mutable.ArrayBuffer[Long]()
      val (sec, sp) = ProbeGuard.minOfThree(() => {
        val (dt, n) = once(dir); counts += n; dt
      })
      require(counts.distinct.size == 1,
        s"nondeterministic output size on $dir: $counts")
      (sec, sp, counts.head)
    }
    val (rSec, rSp, n1) = leg(ref)
    val (bSec, bSp, m1) = leg(big)
    val cCpu1 = ProbeGuard.canaryCpu(spark, cpus.toInt)
    val cIo1 = ProbeGuard.canaryIo(spark, s"$ref/orders.parquet",
      "o_custkey", cpus.toInt)
    println(f"[e2e-probe] ref($ref): $rSec%.2f s (sp=$rSp%.2f, " +
      f"$n1%d seqs)  big($big): $bSec%.2f s (sp=$bSp%.2f, $m1%d seqs)" +
      f"  ratio=${bSec / rSec}%.2f  canary=${math.min(cCpu0, cCpu1)}%.2f" +
      f"  canary_io=${math.min(cIo0, cIo1)}%.2f" +
      f"  load=${ProbeGuard.loadavg()}%.2f")
    // shard-writer leg: the big corpus's packed output lands as one
    // parquet shard per lane (the chain re-executes into the write —
    // total = chain + shard write, so the writer's own cost is the
    // delta vs the timed chain above).
    val shardDir = s"/tmp/graft_e2e_shards_${System.nanoTime()}"
    val t0 = System.nanoTime()
    graft.export.Export.writeSequenceShards(fn(spark, big), shardDir)
    val wdt = (System.nanoTime() - t0) / 1e9
    sweep()
    val fs = new org.apache.hadoop.fs.Path(shardDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val lanes = fs.listStatus(new org.apache.hadoop.fs.Path(shardDir))
      .filter(_.getPath.getName.startsWith("pack_bucket="))
    val filesPerLane = lanes.map(d => fs.listStatus(d.getPath)
      .count(_.getPath.getName.endsWith(".parquet")))
    require(filesPerLane.forall(_ == 1),
      s"expected one shard file per lane: ${filesPerLane.toSeq}")
    val rows = spark.read.parquet(shardDir).count()
    require(rows == m1, s"shards hold $rows rows, chain emitted $m1")
    println(f"[e2e-probe] shards($big): ${lanes.length}%d lanes, " +
      f"1 file each, $rows%d seqs, chain+write ${wdt}%.2f s")
    // epoch-read leg (r20): the dataloader's per-epoch consumption
    // off a PRE-BUILT shard store at both scales — the timed work is
    // readEpoch alone (stored shards + the within-lane epoch_pos
    // window + the row-local lane_ord stamp), forced through
    // Bench.forced so column pruning can never drop the window.
    // Stores assemble untimed, each through one appendBatch over the
    // corpus (md5-derived token ids, seqLen 128, 8 lanes — the
    // t_shards_read store shape).
    def store(dir: String): String = {
      val root = s"/tmp/graft_e2e_store_${System.nanoTime()}"
      graft.streaming.SequenceShards.appendBatch(spark,
        graft.model.Tables.load(spark, dir, "documents").select(
          org.apache.spark.sql.functions.col("doc_id"),
          graft.pipeline.TextOps.md5TokenIds(
            org.apache.spark.sql.functions.col("text"), 997)
            .as("bpe_ids")),
        1L, root, seqLen = 128, nBuckets = 8, eosId = 997L)
      sweep()
      root
    }
    val refStore = store(ref)
    val bigStore = store(big)
    val nBig = graft.streaming.SequenceShards.read(spark, bigStore).count()
    def epochLeg(root: String): (Double, Double) =
      ProbeGuard.minOfThree(() => {
        val e0 = System.nanoTime()
        graft.Bench.forced(graft.streaming.SequenceShards
          .readEpoch(spark, root, epoch = 1)).collect()
        val dt = (System.nanoTime() - e0) / 1e9
        sweep(); dt
      })
    val (reSec, reSp) = epochLeg(refStore)
    val (beSec, beSp) = epochLeg(bigStore)
    val cCpu2 = ProbeGuard.canaryCpu(spark, cpus.toInt)
    println(f"[e2e-probe] readEpoch ref: $reSec%.2f s (sp=$reSp%.2f)" +
      f"  big: $beSec%.2f s (sp=$beSp%.2f)  ratio=${beSec / reSec}%.2f" +
      f"  canary=$cCpu2%.2f  load=${ProbeGuard.loadavg()}%.2f")
    // worker-slice leg (r20 continuation): one worker's 1/W of the
    // same epoch off the big store — the slice reads only the
    // worker's own lanes' files, so its cost should track its ROW
    // SHARE of the full read, not the store size
    val nSlice = graft.streaming.SequenceShards
      .readEpochSlice(spark, bigStore, epoch = 1, worker = 1,
        numWorkers = 4).count()
    sweep()
    val (slSec, slSp) = ProbeGuard.minOfThree(() => {
      val e0 = System.nanoTime()
      graft.Bench.forced(graft.streaming.SequenceShards
        .readEpochSlice(spark, bigStore, epoch = 1, worker = 1,
          numWorkers = 4)).collect()
      val dt = (System.nanoTime() - e0) / 1e9
      sweep(); dt
    })
    println(f"[e2e-probe] readEpochSlice(1 of 4) big: $slSec%.2f s " +
      f"(sp=$slSp%.2f)  rows=$nSlice%d/$nBig%d " +
      f"(share=${nSlice.toDouble / nBig}%.2f)  vs full $beSec%.2f s " +
      f"(ratio=${slSec / beSec}%.2f)  load=${ProbeGuard.loadavg()}%.2f")
    spark.stop()
  }
}
