package perfbench

/** The per-layer metric names the traced run reports, with units. Every
  * name is reported on every workload; a layer or request class a
  * workload does not exercise reads 0 there. */
object Metrics {
  val Classes: Seq[String] = Serve.Classes

  private val perClass: Seq[(String, String)] = Seq(
    "api.ttfb_ms" -> "ms", "api.body_ms" -> "ms", "api.rows" -> "count",
    "plan.actions" -> "count", "plan.catalyst_ms" -> "ms",
    "plan.driver_gap_ms" -> "ms", "spark.jobs" -> "count",
    "spark.tasks" -> "count", "spark.exec_run_ms" -> "ms",
    "spark.shuffle_bytes" -> "B", "model.input_bytes" -> "B")

  val global: Seq[(String, String)] = Seq("ql.parse_us" -> "us",
    "spark.util" -> "fraction", "jvm.gc_ms" -> "ms",
    "trace.overhead_frac" -> "fraction")

  val ingest: Seq[(String, String)] = Seq(
    "streaming.trigger_ms" -> "ms", "streaming.add_batch_ms" -> "ms",
    "streaming.planning_ms" -> "ms", "streaming.commit_ms" -> "ms",
    "streaming.jobs_per_version" -> "count", "streaming.state_rows" -> "count",
    "streaming.bytes_per_version" -> "B",
    "streaming.files_per_version" -> "count",
    "streaming.checkpoint_bytes" -> "B", "streaming.optimize_ms" -> "ms",
    "streaming.optimize_bytes_rewritten" -> "B", "model.data_files" -> "count",
    "api.delete_ms" -> "ms", "api.truncate_ms" -> "ms")

  val curate: Seq[(String, String)] = Seq(
    "streaming.dedup_append_ms" -> "ms", "streaming.dedup_jobs" -> "count",
    "pipeline.bm25_append_ms" -> "ms", "pipeline.bm25_append_jobs" -> "count",
    "streaming.shards_append_ms" -> "ms",
    "streaming.shards_append_jobs" -> "count",
    "pipeline.search_jobs" -> "count", "pipeline.search_exec_run_ms" -> "ms",
    "pipeline.search_input_bytes" -> "B", "pipeline.index_files" -> "count",
    "pipeline.compact_ms" -> "ms", "pipeline.search_first_jobs" -> "count",
    "streaming.epoch_slice_jobs" -> "count",
    "streaming.epoch_slice_input_bytes" -> "B")

  val perLayer: Seq[(String, String)] =
    (for (c <- Classes; (m, u) <- perClass) yield (s"$m.$c", u)) ++
      global ++ ingest ++ curate

  /** Metrics that cannot be taken from outside the library, and why. */
  val notMeasured: Seq[String] = Seq(
    "api.ttfb_ms splits the request at the response headers only: QL " +
      "parse, control lookups and the statfilter coverage check all run " +
      "before them and are not separable without spans inside Dp3Service",
    "ql.parse_us times Parser.parse on the same QL texts beside the " +
      "request, not the parse inside it",
    "api.delete_ms reads 0: no workload issues range deletes")

  private def med(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** Per-class medians over the HTTP requests of a traced pass. */
  def classLayers(traces: Seq[OpTrace]): Seq[(String, Double)] = {
    val api = traces.filter(t => t.op.layer == "api" && t.op.http.nonEmpty)
    Classes.flatMap { c =>
      val ts = api.filter(_.op.cls == c)
      def m(f: OpTrace => Double) = med(ts.map(f))
      Seq(
        s"api.ttfb_ms.$c" -> m(_.op.http.get.ttfbMs),
        s"api.body_ms.$c" -> m(_.op.http.get.bodyMs),
        s"api.rows.$c" -> m(_.op.http.get.lines.size.toDouble),
        s"plan.actions.$c" -> m(_.qes.size.toDouble),
        s"plan.catalyst_ms.$c" -> m(_.catalystMs),
        s"plan.driver_gap_ms.$c" -> m(t => t.wallMs - t.jobCoveredMs),
        s"spark.jobs.$c" -> m(_.jobs.size.toDouble),
        s"spark.tasks.$c" -> m(_.jobs.map(_.tasks).sum.toDouble),
        s"spark.exec_run_ms.$c" -> m(_.execRunMs),
        s"spark.shuffle_bytes.$c" -> m(_.jobs.map(_.shuffleBytes).sum.toDouble),
        s"model.input_bytes.$c" -> m(_.jobs.map(_.inputBytes).sum.toDouble))
    }
  }

  /** Total self time per layer over a traced pass: an operation's wall
    * minus its Catalyst and job time is its own layer's; Catalyst phases
    * are `plan`'s; time covered by running jobs is `spark`'s. */
  def selfByLayer(traces: Seq[OpTrace]): Map[String, Double] = {
    val own = traces.groupBy(_.op.layer).map { case (l, ts) =>
      l -> ts.map(t => math.max(0.0,
        t.wallMs - t.jobCoveredMs - t.catalystMs)).sum }
    own ++ Map("plan" -> traces.map(_.catalystMs).sum,
      "spark" -> traces.map(_.jobCoveredMs).sum)
  }

  /** Jobs of the operations of one class (medians per operation). */
  def jobsOf(traces: Seq[OpTrace], cls: String): Double =
    med(traces.filter(_.op.cls == cls).map(_.jobs.size.toDouble))

  def msOf(traces: Seq[OpTrace], cls: String): Double =
    med(traces.filter(_.op.cls == cls).map(_.wallMs))
}
