package perfbench

import org.apache.spark.sql.SparkSession

/** A workload: how to set it up from nothing and what one cycle of its
  * closed loop does. One client thread drives every cycle. */
trait Workload[State] {
  /** Build one state from nothing: generation, store build, server
    * start. Operations go through `rec` so they are checked and, in the
    * traced run, attributed. */
  def setup(dir: String, rec: Recorder): State
  /** Warm-up after set-up, before the loop: the first run of each
    * operation the loop makes. Counted in set-up time. */
  def warmUp(st: State, rec: Recorder): Unit
  /** Untimed preparation before the loop (expected answers). */
  def prepare(st: State): Unit
  /** One cycle of the loop — a whole unit of the workload's traffic.
    * `i` counts cycles from 0. */
  def cycle(st: State, rec: Recorder, i: Int): Unit
  def close(st: State): Unit
  /** Wall seconds one cycle takes on a 4-core machine: the run's
    * `--seconds` over this fixes how many cycles it makes. */
  def nominalCycleS: Double
  /** The read operations of one cycle, which leave the state as they
    * found it; the traced run makes this pass traced and untraced to
    * measure the tracing overhead. */
  def reads(st: State, rec: Recorder): Unit
  /** Bytes under the store root per stored item. */
  def storeBytesPerItem(st: State): Double
  /** Named end-to-end figures for the detail line. */
  def detail(st: State, setupRec: Recorder, rec: Recorder)
      : Seq[(String, Any)]
  /** Workload-specific per-layer metrics from the traced set-up and
    * loop. */
  def layers(st: State, setup: Seq[OpTrace], loop: Seq[OpTrace],
      tracer: Tracer): Seq[(String, Double)]
  /** QL texts the workload sends (for `ql.parse_us`). */
  def qlTexts(st: State): Seq[String]
}

/** Runs a workload. The loop's work is fixed: [[cycles]] whole cycles,
  * where `seconds` sizes the run through the workload's nominal cycle
  * length and never through the clock, so a faster program does the
  * same work as a slower one. Untraced: one set-up (timed from JVM
  * start through warm-up), then the cycles. Traced: the same set-up and
  * cycles with the listeners attached, then one read pass traced and
  * the same pass untraced, which give the tracing overhead. */
final class Bench(val spark: SparkSession, root: String, val seed: Long,
    seconds: Double, spansPath: String) {
  /** Cycles one run makes: `seconds` over the nominal cycle length,
    * rounded, and at least one. */
  def cycles[S](w: Workload[S]): Int =
    math.max(1, math.round(seconds / w.nominalCycleS).toInt)

  /** Between phases nothing may stay cached: a leaked pin would tax
    * every later operation. A leak is recorded as a failed operation. */
  def assertNoPersisted(phase: String, rec: Recorder): Unit = {
    val live = spark.sparkContext.getPersistentRDDs
    if (live.nonEmpty) {
      rec.fail("hygiene", s"$phase: ${live.size} persistent RDDs left")
      live.values.foreach(_.unpersist(blocking = true))
    }
  }

  private def setUp[S](w: Workload[S], rec: Recorder): S = {
    val st = Log.timed("set-up")(w.setup(s"$root/store", rec))
    assertNoPersisted("set-up", rec)
    Log.timed("warm-up")(w.warmUp(st, rec))
    st
  }

  def run[S](w: Workload[S], trace: Boolean): RunResult =
    if (!trace) {
      val setupRec = new Recorder
      val st = setUp(w, setupRec)
      val setupCpuS = Main.cpuNs() / 1e9
      val setupWallS = Main.uptimeS()
      w.prepare(st)
      val rec = new Recorder
      val (cycleS, cycleCpuS) = loop(w, st, rec, cycles(w)).unzip
      assertNoPersisted("loop", rec)
      val reads = rec.reads.map(_.ms)
      val all = setupRec.ops ++ rec.ops
      val res = RunResult(all.size, all.count(!_.ok),
        setupRec.failures ++ rec.failures, Seq(
          ("setup_s", setupCpuS, "s"),
          ("read_cpu_ms", classMean(rec, _.cpuMs), "ms"),
          ("cycle_cpu_s", Stats.median(cycleCpuS), "s"),
          ("store_bytes_per_item", w.storeBytesPerItem(st), "B/item")),
        Seq("setup_wall_s" -> setupWallS,
          "read_mean_ms" -> classMean(rec, _.ms),
          "cycle_s" -> Stats.median(cycleS),
          "loop_s" -> cycleS.sum, "cycles" -> cycleS.size,
          "cycle_s_each" -> cycleS, "cycle_cpu_s_each" -> cycleCpuS,
          "reads" -> reads.size,
          "req_p50_ms" -> Stats.median(reads),
          "req_max_ms" -> reads.max,
          "read_ms" -> rec.reads.map(o => s"${o.cls}:${o.ms.round}"),
          "req_per_s" -> reads.size / cycleS.sum,
          "failed_frac" -> all.count(!_.ok).toDouble / all.size) ++
          w.detail(st, setupRec, rec))
      w.close(st)
      res
    } else {
      val tracer = new Tracer(spark)
      val rec = new Recorder
      tracer.attach()
      val st = setUp(w, rec)
      w.prepare(st)
      val loopStart = rec.ops.size
      val loopStartMs = System.currentTimeMillis()
      val gc0 = Main.gcMs()
      val loopS = loop(w, st, rec, cycles(w)).map(_._1).sum
      val gcMs = Main.gcMs() - gc0
      val loopEnd = rec.ops.size
      val loopEndMs = System.currentTimeMillis()
      // trace overhead: the same read pass traced, then untraced
      w.reads(st, rec)
      tracer.detach()
      val untraced = new Recorder
      w.reads(st, untraced)
      assertNoPersisted("traced run", untraced)
      val (traces, violations) = tracer.attribute(rec.ops.toSeq)
      violations.foreach(rec.fail("trace", _))
      tracer.write(spansPath, traces)
      val setupTraces = traces.filter(_.op.startMs < loopStartMs)
      val loopTraces = traces.filter(t =>
        t.op.startMs >= loopStartMs && t.op.endMs <= loopEndMs)
      val cores = Runtime.getRuntime.availableProcessors
      val tracedMs = rec.ops.drop(loopEnd).filter(_.read).map(_.ms).sum
      val untracedMs = untraced.ops.map(_.ms).sum
      val got = (Metrics.classLayers(loopTraces) ++ Seq(
        "ql.parse_us" -> parseUs(w.qlTexts(st)),
        "spark.util" -> loopTraces.map(_.execRunMs).sum /
          (loopS * 1000 * cores),
        "jvm.gc_ms" -> gcMs.toDouble,
        "trace.overhead_frac" -> (tracedMs / untracedMs - 1)) ++
        w.layers(st, setupTraces, loopTraces, tracer)).toMap
      w.close(st)
      val all = rec.ops ++ untraced.ops
      RunResult(all.size, all.count(!_.ok),
        rec.failures ++ untraced.failures,
        Metrics.perLayer.map { case (name, unit) =>
          (name, got.getOrElse(name, 0.0), unit) },
        Seq("cycles" -> cycles(w), "loop_s" -> loopS,
          "traced_reads_s" -> tracedMs / 1000,
          "untraced_reads_s" -> untracedMs / 1000,
          "trace_violations" -> violations.size,
          "self_ms_by_layer" -> Metrics.selfByLayer(loopTraces),
          "not_measured" -> Metrics.notMeasured))
    }

  /** Mean of `f` over the reads, each read counted at its class's
    * median: one slow request moves its class's median little, and a
    * class weighs as much as its share of the reads. */
  private def classMean(rec: Recorder, f: Op => Double): Double =
    rec.reads.groupBy(_.cls).values.map(os =>
      Stats.median(os.map(f)) * os.size).sum / rec.reads.size

  /** Exactly `n` cycles; returns each cycle's wall and CPU seconds. */
  private def loop[S](w: Workload[S], st: S, rec: Recorder,
      n: Int): Seq[(Double, Double)] =
    (0 until n).map { i =>
      val c0 = Main.cpuNs()
      val t0 = System.nanoTime()
      w.cycle(st, rec, i)
      ((System.nanoTime() - t0) / 1e9, (Main.cpuNs() - c0) / 1e9)
    }

  /** Median microseconds inside `Parser.parse` per QL text, timed around
    * the public call after a warm-up. */
  private def parseUs(texts: Seq[String]): Double =
    if (texts.isEmpty) 0.0
    else {
      texts.foreach(graft.ql.Parser.parse)
      Stats.median((1 to 20).flatMap(_ => texts.map { q =>
        val t0 = System.nanoTime(); graft.ql.Parser.parse(q)
        (System.nanoTime() - t0) / 1e3
      }))
    }
}
