package graft

/** Job-count / input-bytes audit for composed registry entries whose
  * work is spread across EAGER control-plane jobs (pins, training
  * collects, maintenance verbs) plus the final plan — the shapes a
  * single explain() cannot audit. Registers a listener, runs the
  * entry end to end exactly like Bench (fn + forced collect), and
  * prints one line per job (description, stage count, input bytes,
  * wall ms) plus totals. Input bytes expose re-scanned sources: a
  * parquet source whose total read bytes exceed its on-disk size ×
  * expected-passes is an unpinned multi-consumer subtree.
  *
  * Usage: Test/runMain graft.JobAuditProbe <entry> [sfDir] [runs]
  * Probe tool only — the library never calls this. */
object JobAuditProbe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: JobAuditProbe <entry> [sfDir] [runs]")
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs = if (args.length > 2) args(2).toInt else 1
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fn = SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query '$name'"))
    def sweep(): Unit = {
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      spark.sharedState.cacheManager.clearCache()
    }
    // warm run: codegen, listings, serve-entry buildOnce
    Bench.forced(fn(spark, sfDir)).collect(); sweep()

    (0 until runs).foreach { r =>
      val (dt, jobs) = JobLog.record(spark.sparkContext) {
        val t0 = System.nanoTime()
        Bench.forced(fn(spark, sfDir)).collect()
        (System.nanoTime() - t0) / 1e9
      }
      jobs.foreach { j =>
        println(f"[jobaudit] run=$r job=${j.id}%3d stages=${j.stages}%2d" +
          f" inMB=${j.input / 1048576.0}%8.2f" +
          f" ms=${(j.tEnd - j.t0) / 1e6}%8.1f  ${j.desc.take(80)}")
      }
      println(f"[jobaudit] $name run=$r TOTAL jobs=${jobs.size}%d " +
        f"stages=${jobs.map(_.stages).sum}%d " +
        f"inMB=${jobs.map(_.input).sum / 1048576.0}%.2f wall=$dt%.2f s")
      sweep()
    }
    spark.stop()
  }
}
