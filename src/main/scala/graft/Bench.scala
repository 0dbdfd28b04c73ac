package graft

/** Benchmark main: runs every registered query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line with per-query seconds.
  * Each query is forced by [[Bench.forced]] — an aggregate that
  * references EVERY output column — never a bare `count()`, which
  * Catalyst exploits to optimize pipelines out of their own
  * measurement (see [[forced]]). [[measure]] is the one per-entry
  * harness: timed runs plus the Spark jobs of the warm run, recorded
  * through [[graft.util.JobLog]] into `BENCH_DETAIL.json`.
  */
object Bench {
  import org.apache.spark.sql.{DataFrame, SparkSession}
  import graft.util.JobLog

  /** The forcing plan: hash every output column into a per-partition
    * max, collected (≤ numPartitions tiny rows). A bare `count()` is
    * NOT a valid benchmark forcing: column pruning drops every
    * non-key column, after which Catalyst join-eliminates left joins
    * on unique keys and constant-folds groupless aggregates — r10's
    * t_dsir benched a parquet count while its scoring subtree never
    * ran, and the same audit found t_lm_score / t_decontam /
    * t_semantic_decontam losing their score-attachment subtrees the
    * same way. Referencing all columns through the hash makes every
    * operator that produced them load-bearing; PlanQualitySpec gates
    * that no registry entry loses a file-backed leaf under THIS plan. */
  def forced(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    df.groupBy(spark_partition_id().as("_p"))
      .agg(max(xxhash64(df.columns.map(col): _*)).as("_h"))
  }
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = graft.util.LocalSession.defaultCores
    val spark = graft.util.LocalSession(cpus)
    // Warm the JVM before timing anything: file-listing caches, parquet
    // reader, whole-stage codegen compiler, shuffle + window machinery.
    // Without this the alphabetically-first heavy query absorbs several
    // seconds of one-time JIT/codegen cost that no other query pays.
    locally {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val r = spark.read.parquet(s"$sfDir/region.parquet")
      val n = spark.read.parquet(s"$sfDir/nation.parquet")
      n.join(r.hint("shuffle_hash"), n("n_regionkey") === r("r_regionkey"))
        .groupBy(n("n_regionkey")).agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("n_regionkey")).orderBy(col("c"))))
        .count()
    }
    // Machine canary: a FIXED, in-memory, CPU-bound workload — an
    // xxhash64 fold over a 256M-row range in 32 partitions; no file
    // IO, no shuffle payload, no data dependence — timed in the
    // UNTIMED region after warm-up and again after the last query.
    // Cross-round / cross-host comparisons normalize by this number
    // instead of inferring drift: r12's driver line read 124.6 s
    // where an idle judge replication measured 109.1 on the same
    // commit, and nothing in the line could prove the machine (not
    // the code) was the difference. min-of-2 absorbs a JIT/GC blip;
    // sustained contention shows in BOTH canary samples.
    // (workload shared with the scale probes via ProbeGuard — one
    // audited copy, so a probe's canary is comparable to the bench's)
    def canary(): Double =
      graft.util.ProbeGuard.canaryCpu(spark, cpus)
    // Second canary FACE: fixed parquet scan + one shuffle + agg.
    // The CPU canary cannot certify a run whose variance lives in the
    // filesystem, page cache, or task scheduling: round 14 ran
    // byte-identical code 17% SLOWER than round 13 at a LOWER cpu
    // canary, with the drift concentrated in the shuffle-heavy dedup
    // family. This face touches exactly those subsystems — parquet
    // footer + column IO on a fixed file, a 32-partition shuffle
    // write/read, task scheduling for two stages — so cross-round
    // total comparisons divide by BOTH canaries to attribute drift.
    def canaryIo(): Double =
      graft.util.ProbeGuard.canaryIo(spark, s"$sfDir/orders.parquet",
        "o_custkey", cpus)
    // 1-minute load average — the machine-contention tell. The r6
    // driver bench ran concurrently with a builder session and recorded
    // 54.9 s where an idle replication measures 19 s; emitting load
    // with the numbers makes a poisoned run self-identifying.
    def loadavg(): Double = graft.util.ProbeGuard.loadavg()
    // Sustained contention defeats measure's min-of-N guard (uniform
    // slowdown inflates every run equally), so don't start hot: wait
    // for the 1-min load to drop under cpus/4 before timing, up to a
    // bounded budget (another session's Spark job drains in well under
    // that). If the machine never settles, proceed anyway — the load
    // numbers + per-query spread flag the run as poisoned.
    val idleCap = sys.env.getOrElse("GRAFT_BENCH_IDLE_WAIT", "300").toInt
    val idleBar = cpus.toDouble / 4
    var waited = 0
    while (loadavg() > idleBar && waited < idleCap) {
      Thread.sleep(5000); waited += 5
    }
    val loadStart = loadavg()
    val canaryStart = canary()
    val canaryIoStart = canaryIo()
    // SPARK_GRAFT_ONLY=q_a,q_b restricts the run for local iteration
    // (the driver never sets it; mirrors Verify's filter)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val spreadBound =
      sys.env.getOrElse("GRAFT_BENCH_SPREAD_BOUND", "2.0").toDouble
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) => measure(spark, sfDir, name, fn, spreadBound) }
    val loadEnd = loadavg()
    val canaryEnd = canary()
    val canaryIoEnd = canaryIo()
    // The driver captures only the TAIL of stdout: the single JSON line
    // must stay compact at any registry size (r8-r10 all arrived
    // truncated -> parsed:null). See formatLine's doc for the byte
    // budget; the full 3-decimal per-query detail and the load/idle
    // metadata go to a sidecar file instead of stdout.
    // idle wait gave up AND the machine was still hot when timing
    // began: numbers are contention-inflated (~1.5x observed) — flag
    // the line so a later reader doesn't chase phantom regressions
    val poisoned = waited >= idleCap && loadStart > idleBar
    println(formatLine(results.map(m => (m.name, m.sec, m.spread)),
      sfDir, poisoned,
      math.min(canaryStart, canaryEnd),
      math.min(canaryIoStart, canaryIoEnd), spreadBound))
    val detail = detailJson(results, f"""{"idle_wait_sec":$waited,"load_start":$loadStart%.2f,"load_end":$loadEnd%.2f,"canary_start":$canaryStart%.3f,"canary_end":$canaryEnd%.3f,"canary_io_start":$canaryIoStart%.3f,"canary_io_end":$canaryIoEnd%.3f,"poisoned":$poisoned}""")
    // default sidecar lands IN THE REPO (the forked run's cwd), so the
    // full-resolution per-entry record — 3-decimal seconds, exact
    // spread floats, canaries, load — is committed with each round and
    // a reader never has to reconstruct which entries a hot host
    // contaminated from the 1-digit line encoding alone
    val sidecar = sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_DETAIL", "BENCH_DETAIL.json")
    try {
      val w = new java.io.PrintWriter(sidecar)
      try w.println(detail) finally w.close()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] sidecar write failed: ${e.getMessage}")
    }
    // plain {name: sec} twin of the stdout line's packed encoding —
    // readable by ANY consumer without the repo's decoder (the stdout
    // line stays packed for the driver's ~2 KB tail-capture budget;
    // this sidecar is where a reader goes for per-entry seconds)
    val decodedPath = sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_DECODED", "BENCH_DECODED.json")
    try {
      val w = new java.io.PrintWriter(decodedPath)
      try w.println(decodedJson(results.map(m => (m.name, m.sec))))
      finally w.close()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] decoded write failed: ${e.getMessage}")
    }
    spark.stop()
  }

  /** One registry entry's record: `sec` is the min over its timed runs
    * (-1 when any run failed), `spread` their max/min (-1 unmeasured),
    * and `jobs` the Spark jobs of the warm timed run (the second). */
  final case class Measured(name: String, sec: Double, spread: Double,
      jobs: Seq[JobLog.Job]) {
    /** Job count per job description, in launch order. */
    def jobCounts: Seq[(String, Int)] =
      jobs.map(_.desc).distinct.map(d => d -> jobs.count(_.desc == d))
    def stages: Int = jobs.map(_.stages).sum
    def inputBytes: Long = jobs.map(_.input).sum
  }

  /** The per-entry body of [[main]]: two timed runs of `fn` forced by
    * [[forced]], the clock wrapped around the fn call itself so eager
    * driver work (pins, training collects, maintenance verbs) that runs
    * at fn-call time is timed too. If the two runs disagree beyond
    * `spreadBound`, something stole the CPU mid-query: a third run
    * breaks the tie and the min of all three is reported rather than
    * letting a contention spike enter the scoreboard. A TRANSIENT
    * spike shows as a high spread on a clean min, while sustained
    * contention (which inflates all runs uniformly and sails through
    * the min) is flagged by [[main]]'s load fields and wait-for-idle
    * gate. An entry whose spread stays >= spreadBound even after the
    * tie-break run is a SUSPECT — its min is the best defensible
    * number, but a reader comparing rounds should rerun it.
    *
    * Every run is recorded through [[JobLog]] (the listener-bus drains
    * sit outside the clock); the warm run's jobs, stages and input
    * bytes are the entry's layer record. Job counts do not drift with
    * the host, so they settle what noisy seconds cannot. */
  def measure(spark: SparkSession, sfDir: String, name: String,
      fn: (SparkSession, String) => DataFrame,
      spreadBound: Double = 2.0): Measured = {
    def run(): (Double, Seq[JobLog.Job]) =
      try JobLog.record(spark.sparkContext) {
        val t0 = System.nanoTime()
        forced(fn(spark, sfDir)).collect() // ≤ numPartitions rows
        (System.nanoTime() - t0) / 1e9
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          (-1.0, Nil) // sentinel: failures must not masquerade as fast runs
      } finally releaseCaches(spark) // ALSO on failure: a query that
      // pinned the shingle frame and then threw must not leave blocks
      // taxing the next query's timed runs (untimed — dt is taken first)
    val (a, _) = run()
    val (b, warm) = run()
    val (v, runs) =
      if (a < 0 || b < 0) (-1.0, Seq(a, b).filter(_ >= 0))
      else if (math.max(a, b) > spreadBound * math.min(a, b)) {
        System.gc() // settle heap before the tie-break run
        val (c, _) = run()
        if (c < 0) (-1.0, Seq(a, b))
        else (math.min(math.min(a, b), c), Seq(a, b, c))
      } else (math.min(a, b), Seq(a, b))
    val spread =
      if (runs.size < 2 || runs.min <= 0) -1.0 else runs.max / runs.min
    Measured(name, v, spread, warm)
  }

  /** Registry entries drop their operators' pin handles (the harness
    * sweeps): free the blocks once the action completes, then FAIL
    * LOUDLY if anything is still pinned — a leak here silently taxes
    * every later query's time (the r4 bench doubled exactly this way). */
  private def releaseCaches(spark: SparkSession): Unit = {
    graft.util.LocalSession.sweep(spark)
    val leaked = spark.sparkContext.getPersistentRDDs
    require(leaked.isEmpty,
      s"persistent RDDs leaked past cleanup: ${leaked.keys.mkString(",")}")
    // Drain cross-query debris NOW, while the clock is stopped.
    // ContextCleaner only reclaims shuffle files / broadcasts when a
    // GC notices the weak refs — without this nudge that GC lands
    // inside a LATER query's timed region, and the cleaner's
    // unpersist/removeBroadcast RPCs compete with the measured work
    // (d_semantic_refined benched 10 s inside the full-registry run
    // vs 2.5 s isolated before this; spreads of 7x on mid-run
    // queries from the same mechanism).
    System.gc()
  }

  /** The `BENCH_DETAIL.json` body: per entry its 3-decimal seconds,
    * exact spread, and its warm run's layer record — `jobs` (count per
    * job description; "" is an unnamed job), `stages` and
    * `input_bytes` — then `meta` under `_meta`. */
  def detailJson(results: Seq[Measured], meta: String): String = {
    def esc(s: String): String = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    (results.map { m =>
      val jobs = m.jobCounts
        .map { case (d, n) => "\"" + esc(d) + "\":" + n }
        .mkString("{", ",", "}")
      "\"" + m.name + "\":" +
        f"""{"sec":${m.sec}%.3f,"spread":${m.spread}%.2f,""" +
        s""""jobs":$jobs,"stages":${m.stages},""" +
        s""""input_bytes":${m.inputBytes}}"""
    } :+ ("\"_meta\":" + meta)).mkString("{", ",", "}")
  }

  /** The `BENCH_DECODED.json` body: plain `{"name": sec}` at the
    * stdout line's 0.1 s resolution — kept a pure function so
    * BenchLineSpec can pin it equal to decode(encode(...)) of the
    * packed stdout fields at any registry size. */
  def decodedJson(results: Seq[(String, Double)]): String =
    results.map { case (k, v) =>
      "\"" + k + "\":" + (math.round(v * 10) / 10.0)
    }.mkString("{", ",", "}")

  /** One driver-parseable stdout line. Kept as a pure function so
    * BenchLineSpec can bound its length against the FULL query registry
    * without running anything.
    *
    * Two hard constraints, both learned from rounds 8-10 arriving as
    * `parsed: null`: the driver captures only the LAST ~2000 chars of
    * stdout (and sbt appends a ~73-char `[success]` trailer), so (a)
    * the whole line must stay under 1920 chars at the full registry
    * with worst-case value widths — BenchLineSpec enforces this — and
    * (b) the summary fields (`metric`/`value`/`unit`, spread, hot)
    * sit at the END of the line so even a head-truncated capture
    * still carries the totals for regex extraction. Per-query seconds
    * are 100 ms resolution (3 chars max); full 3-decimal detail plus
    * the load/idle-wait metadata go to the sidecar file, never
    * stdout.
    *
    * Self-defense fields (round 18 — two consecutive rounds lost
    * judge time to host-contaminated single entries): `sp` is one
    * spread digit PER ENTRY, zipped positionally with the decoded
    * names exactly like `s` ('-' unmeasured, else round(max/min run
    * ratio) capped at 9), and `suspects` counts entries whose final
    * spread still breached `spreadBound` after the min-of-three
    * tie-break — 0 means every per-query number is the min of
    * agreeing runs; >0 names (via `sp`) which entries to rerun before
    * reading a cross-round diff as a regression.
    *
    * `queries` is a COLUMNAR pair since round 12, with the seconds
    * PACKED since round 18:
    * `{"n":"<front-coded names>","s":"<2 base-36 chars per entry>"}` —
    * decode the names with [[decodeNames]], the seconds with
    * [[decodeSecs]] (or `tools/decode_bench.py`, which handles every
    * historical format), and zip positionally to recover the map. The
    * flat `{"name":sec}` object spent 4 framing chars per entry;
    * columnar framing costs 2; front-coding (first name verbatim,
    * then one base-36 shared-prefix-length char + the suffix per
    * name) removes the long common stems; and the fixed-width packed
    * seconds drop the array's 3-chars+comma per entry to 2 flat — at
    * the 121-entry registry the line measures ~1.3 KB flat-map,
    * ~1.15 KB columnar, ~0.75 KB front-coded names, and the r18 pack
    * bought back the bytes the per-entry spread digits spend.
    */
  def formatLine(
      results: Seq[(String, Double, Double)],
      sfDir: String,
      loadPoisoned: Boolean = false,
      canarySec: Double = -1.0,
      canaryIoSec: Double = -1.0,
      spreadBound: Double = 2.0): String = {
    // The line's budget is spent on NAMES (which the driver needs
    // verbatim): seconds are packed two base-36 chars per entry
    // ([[encodeSecs]], 0.1 s resolution) — the r18 switch from the
    // 3-chars+comma JSON array bought ~240 bytes at the full registry,
    // which pays for the per-entry spread digits below and leaves
    // ~12 entries of registry-growth headroom.
    val qs = "{\"n\":\"" + frontCode(results.map(_._1)) +
      "\",\"s\":\"" + encodeSecs(results.map(_._2)) + "\"}"
    // per-entry spread as ONE digit each, zipped positionally with the
    // names like `s`: '-' unmeasured, else round(spread) capped at 9 —
    // a digit >= round(spreadBound) marks THAT entry as
    // host-contaminated (its min survived up to three runs but the
    // runs disagreed), so a cross-round reader reruns the named entry
    // instead of chasing a phantom regression. One char per entry
    // keeps the full-registry line inside the tail-capture budget
    // where a per-entry float could not.
    def spDigit(s: Double): Char =
      if (s < 0) '-'
      else ('0' + math.min(math.floor(s + 0.5), 9.0).toInt).toChar
    val sp = results.map(r => spDigit(r._3)).mkString
    // suspects: entries whose FINAL spread still breaches the bound —
    // the self-defense headline (0 = every number is min-of-agreeing-
    // runs; >0 = rerun those entries before comparing rounds). Sub-
    // half-second entries are excluded: at that size a single
    // scheduler hiccup doubles the ratio while the absolute error is
    // bounded by the entry itself (a quiet full-registry run read 15
    // "suspects", most 0.3-0.9 s jitter flips — the field exists to
    // flag d_line_boilerplate-at-7x contamination, not task-launch
    // noise; the per-entry `sp` digits still carry every ratio).
    val nSuspect = results.count(r => r._3 >= spreadBound && r._2 >= 0.5)
    val total = results.map(_._2).sum
    // spread summarized: the single worst ratio, display-capped at 9
    // (any spread beyond ~2 is equally "rerun this one"); the
    // offending query's name and every per-query ratio live in the
    // sidecar — every byte here is a byte of query-name budget
    val spMax = math.min(results.map(_._3).maxOption.getOrElse(-1.0), 9.0)
    val sf = sfDir.split('/').lastOption.getOrElse(sfDir)
    val p = if (loadPoisoned) 1 else 0
    // "spread_max" kept by name (the driver/judge greps it). "hot"=1
    // means the idle-wait gave up while the 1-min load was still above
    // cpus/4 — numbers are contention-inflated. The load averages
    // themselves (2-decimal start/end + idle-wait seconds) live in the
    // sidecar's _meta entry: every byte here is query-name budget, and
    // the bench's own 32 threads dominate the end-load anyway.
    // "canary": the fixed CPU workload seconds; "canary_io": the fixed
    // parquet-scan + shuffle workload seconds (each the min of its
    // start/end samples) — divide two rounds' totals by BOTH canaries
    // to separate host drift from code drift: cpu-flat + io-slow means
    // filesystem/scheduler state, not a regression (the r13-vs-r14
    // lesson: +17% on byte-identical code at a LOWER cpu canary). The
    // decision procedure is WRITTEN DOWN as SURVEY §6's
    // canary-normalization rule (>1.3x drift on either canary =
    // host-dominated, attribute nothing to code without normalizing);
    // BenchLineSpec pins both fields present and positive.
    // -1 when not measured. Display caps (every byte here is
    // query-name budget): the canaries are FIXED sub-second
    // workloads — observed range 0.1-0.7 s across 20 rounds — so
    // anything past 9.99 says "host unusable" no louder with more
    // digits; the headline total prints at 0.1 s, the same
    // resolution the per-entry packed seconds already carry.
    val cS = if (canarySec < 0) canarySec else math.min(canarySec, 9.99)
    val cIo =
      if (canaryIoSec < 0) canaryIoSec else math.min(canaryIoSec, 9.99)
    f"""{"queries":$qs,"sp":"$sp","suspects":$nSuspect,"spread_max":$spMax%.0f,"hot":$p,"canary":$cS%.2f,"canary_io":$cIo%.2f,"sf":"$sf","metric":"total","unit":"sec","value":$total%.1f}"""
  }

  /** Pack per-query seconds as TWO base-36 chars each (deciseconds;
    * "--" for the failure sentinel): fixed width, no separators,
    * zipped positionally with the decoded names exactly like the old
    * JSON array. 0.1 s resolution matches the old sub-10 s display and
    * beats its whole-second resolution above; exact 3-decimal values
    * live in the sidecar.
    *
    * The top code point "zz" is an explicit SATURATION SENTINEL, not
    * a value: it means ">= 129.5 s" (exact value in the sidecar), so
    * the largest exactly-representable reading is "zy" = 129.4 s and a
    * 40 s → 200 s regression reads as saturated rather than
    * masquerading as a true 129.5 s measurement. Decode with
    * [[decodeSecs]] or `tools/decode_bench.py` (which prints
    * ">=129.5" for the sentinel). */
  def encodeSecs(vs: Seq[Double]): String =
    vs.map { v =>
      if (v < 0) "--"
      else {
        val ds = math.round(v * 10)
        if (ds >= 1295L) "zz" // saturated: >= 129.5 s
        else ("" + Character.forDigit((ds / 36L).toInt, 36)
          + Character.forDigit((ds % 36L).toInt, 36))
      }
    }.mkString

  /** Inverse of [[encodeSecs]] (to 0.1 s resolution; -1 for "--").
    * "zz" decodes to 129.5, which by the encoder's contract means
    * ">= 129.5 s" — a FLOOR, not a measurement; read the sidecar for
    * the exact value of a saturated entry. */
  def decodeSecs(coded: String): Seq[Double] = {
    require(coded.length % 2 == 0, s"odd packed-seconds length: $coded")
    coded.grouped(2).map {
      case "--" => -1.0
      case p =>
        (Character.digit(p.charAt(0), 36) * 36 +
          Character.digit(p.charAt(1), 36)) / 10.0
    }.toSeq
  }

  /** Front-code a name list: first name verbatim; every subsequent
    * entry is ONE base-36 char — the length of the prefix shared with
    * the PREVIOUS name, capped at 35 — followed by the remaining
    * suffix. Registry names are identifiers (no commas, never
    * starting with the separator), so splitting on ',' and reading
    * one leading length char per non-first entry is unambiguous; a
    * digit-leading suffix can't be misread because the length code is
    * always exactly one char. Sorted input compresses best (long
    * family stems like `q_stats_` collapse to a single char) but any
    * order round-trips. */
  def frontCode(names: Seq[String]): String = {
    val sb = new StringBuilder
    names.foldLeft(Option.empty[String]) { (prev, n) =>
      prev match {
        case None => sb.append(n)
        case Some(p) =>
          val lcp = math.min(
            n.zip(p).takeWhile { case (a, b) => a == b }.size, 35)
          sb.append(',').append(java.lang.Integer.toString(lcp, 36))
            .append(n.substring(lcp))
      }
      Some(n)
    }
    sb.toString
  }

  /** Inverse of [[frontCode]]. */
  def decodeNames(coded: String): Seq[String] =
    if (coded.isEmpty) Seq.empty
    else {
      val parts = coded.split(",", -1)
      parts.drop(1).scanLeft(parts.head) { (prev, part) =>
        val lcp = java.lang.Integer.parseInt(part.take(1), 36)
        prev.take(lcp) + part.drop(1)
      }.toSeq
    }
}
