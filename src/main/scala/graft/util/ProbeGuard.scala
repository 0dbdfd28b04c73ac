package graft.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The measurement self-defense shared by Bench and the scale probes
  * (StreamMaintProbe, BucketFoldProbe): fixed machine canaries and the
  * load probe; Bench's min-of-three tie-break lives in
  * [[graft.Bench.measure]]. Bench numbers on this class
  * of host drift 1.3-1.5x with host state on byte-identical code —
  * the r17/r18 phantom-regression lesson — so every probe that prints
  * a wall-clock number must carry its own contamination evidence
  * (canaries + spread), or a cross-round reader cannot tell
  * host drift from a code regression. One copy here; Bench delegates.
  */
object ProbeGuard {

  /** CPU canary: a FIXED, in-memory, CPU-bound workload (xxhash64
    * fold over a 256M-row range) — no file IO, no shuffle payload, no
    * data dependence. min-of-2 absorbs a JIT/GC blip; sustained
    * contention shows in both samples. */
  def canaryCpu(spark: SparkSession, partitions: Int): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 256000000L, 1L, partitions)
        .select(xxhash64(col("id")).as("h"))
        .agg(max(col("h"))).collect()
      (System.nanoTime() - t0) / 1e9
    }
    math.min(once(), once())
  }

  /** IO/scheduler canary: fixed parquet scan + one shuffle + agg —
    * the subsystems the CPU canary cannot certify (r13-vs-r14: +17%
    * on byte-identical code at a LOWER cpu canary, drift concentrated
    * in the shuffle-heavy family). */
  def canaryIo(spark: SparkSession, parquetPath: String,
      keyCol: String, partitions: Int): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.read.parquet(parquetPath)
        .repartition(partitions, col(keyCol))
        .groupBy(col(keyCol))
        .agg(count(lit(1)).as("c"))
        .agg(max(col("c"))).collect()
      (System.nanoTime() - t0) / 1e9
    }
    math.min(once(), once())
  }

  /** 1-minute load average — the machine-contention tell. */
  def loadavg(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.split(" ")(0).toDouble finally src.close()
    } catch { case _: Throwable => -1.0 }
}
