package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What one workload run reports: the end-to-end metrics (untraced) or
  * the per-layer metrics (traced), plus human-readable detail. */
final case class RunResult(attempted: Int, failed: Int,
    failures: Seq[String], metrics: Seq[(String, Double, String)],
    detail: Seq[(String, Any)])

/** Entry point: `--workload <serve|curate> --seed <n> --seconds <s>
  * --trace <0|1> --root <fresh dir> --spans <file>`. Prints a host line,
  * a detail line and, last, the result object; a traced run writes its
  * spans to the `--spans` file. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val root = opt("root")
    val spans = opt("spans")
    require(Set("serve", "curate")(workload),
      s"unknown workload $workload")

    val load0 = loadAvg()
    val cpu0 = cpuTicks()
    val t0 = System.nanoTime()
    val spark = session(root)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val host = Seq("nproc" -> Runtime.getRuntime.availableProcessors,
      "load1_start" -> load0, "seed" -> seed, "workload" -> workload,
      "trace" -> trace, "session_start_s" -> sessionS,
      "jvm" -> System.getProperty("java.vm.version"),
      "spark" -> spark.version)
    var code = 0
    try {
      val bench = new Bench(spark, root, seed, seconds, spans)
      val res = workload match {
        case "serve" => bench.run(new ServeWorkload(bench), trace)
        case "curate" => bench.run(new CurateWorkload(bench), trace)
      }
      println(Json.obj(Seq("host" -> Json.Raw(Json.obj(host ++ Seq(
        "load1_end" -> loadAvg(), "steal_frac" -> stealFrac(cpu0),
        "jvm_uptime_s" -> uptimeS()))))))
      println(Json.obj(Seq("detail" -> Json.Raw(Json.obj(res.detail)),
        "failures" -> res.failures.take(20))))
      println(Json.obj(Seq(
        "correct" -> (res.failed == 0),
        "attempted" -> res.attempted,
        "failed" -> res.failed,
        "metrics" -> Json.Raw(Json.obj(res.metrics.map { case (n, v, u) =>
          n -> Json.Raw(Json.obj(Seq("value" -> v, "unit" -> u))) })))))
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        code = 1
    } finally {
      spark.stop()
    }
    System.out.flush()
    // Dp3Http.stop() leaves its request pool's threads alive, so the JVM
    // would not exit on its own: end it explicitly.
    System.exit(code)
  }

  def loadAvg(): Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** The machine's cumulative CPU ticks (user … steal) from /proc/stat,
    * empty where there is none. */
  private def cpuTicks(): Seq[Long] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().split("\\s+").drop(1).take(8)
        .map(_.toLong).toSeq
      finally src.close()
    } catch { case _: Exception => Nil }

  /** Share of CPU time the hypervisor took from this machine since
    * `from` — a run that competed with its neighbours shows it here. */
  private def stealFrac(from: Seq[Long]): Double = {
    val now = cpuTicks()
    if (from.size < 8 || now.size < 8) -1.0
    else {
      val d = now.zip(from).map { case (a, b) => a - b }
      d(7).toDouble / math.max(1L, d.sum)
    }
  }

  /** CPU time of the whole process (every thread, the JIT compilers and
    * the collector included) since it started. Time the hypervisor
    * steals from the machine is not in it. */
  def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Seconds since the JVM started. */
  def uptimeS(): Double = ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  private def session(root: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$root/hadoop-tmp")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
