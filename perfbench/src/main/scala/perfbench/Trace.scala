package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One Spark job as the listener saw it, with its tasks' totals. */
final class JobRec(val id: Int, val startMs: Long, val execId: Option[Long]) {
  var endMs: Long = -1L
  var tasks = 0L
  var execRunMs = 0L
  var shuffleBytes = 0L
  var inputBytes = 0L
}

/** One QueryExecution: its id (jobs carry it as `spark.sql.execution.id`)
  * and its Catalyst phases (analysis, optimization, planning). */
final case class QeRec(id: Long, startMs: Long, endMs: Long,
    catalystMs: Double)

/** The per-operation attribution a trace produces. */
final case class OpTrace(op: Op, qes: Seq[QeRec], jobs: Seq[JobRec]) {
  def wallMs: Double = op.ms
  /** Op wall time covered by at least one running job. */
  def jobCoveredMs: Double = Tracer.unionMs(
    jobs.map(j => (math.max(j.startMs, op.startMs),
      math.min(j.endMs, op.endMs))))
  def catalystMs: Double = qes.map(_.catalystMs).sum
  def execRunMs: Double = jobs.map(_.execRunMs).sum.toDouble
}

/** Listener-based tracing from outside the library: a `SparkListener`
  * for jobs and tasks, a `QueryExecutionListener` for Catalyst phases,
  * a `StreamingQueryListener` for trigger progress. The loop's own
  * operations are the root spans; every job or QueryExecution that
  * starts inside an operation belongs to it (one client, one operation
  * at a time). Spans stay in memory until [[write]]. */
final class Tracer(spark: SparkSession) {
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.HashMap[Int, JobRec]()
  private val qes = mutable.ArrayBuffer[QeRec]()
  val progress =
    mutable.ArrayBuffer[StreamingQueryListener.QueryProgressEvent]()

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val exec = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong)
      val j = new JobRec(e.jobId, e.time, exec)
      jobs(e.jobId) = j
      e.stageIds.foreach(s => stageJob(s) = j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageJob.get(e.stageId).foreach { j =>
        j.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          j.execRunMs += m.executorRunTime
          j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten +
            m.shuffleReadMetrics.totalBytesRead
          j.inputBytes += m.inputMetrics.bytesRead
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def rec(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases.values
      if (ph.nonEmpty) Tracer.this.synchronized {
        qes += QeRec(qe.id, ph.map(_.startTimeMs).min, ph.map(_.endTimeMs).max,
          ph.map(_.durationMs).sum.toDouble)
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      rec(qe)
    override def onFailure(f: String, qe: QueryExecution,
        e: Exception): Unit = rec(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
      : Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized { progress += e }
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    org.apache.spark.BusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Attribute every recorded job and QueryExecution to the operation
    * it started in. Jobs that straddle an operation's end, or start
    * outside every operation, are returned as violations. */
  def attribute(ops: Seq[Op]): (Seq[OpTrace], Seq[String]) = synchronized {
    val sorted = ops.sortBy(_.startMs).toIndexedSeq
    val starts = sorted.map(_.startMs).toArray
    def owner(t: Long): Option[Int] = {
      // the last operation that started at or before t and had not ended
      val i = java.util.Arrays.binarySearch(starts, t) match {
        case k if k >= 0 =>
          var m = k; while (m + 1 < starts.length && starts(m + 1) == t) m += 1; m
        case k => -k - 2
      }
      Some(i).filter(x => x >= 0 && t <= sorted(x).endMs)
    }
    val byOp = mutable.HashMap[Int, (mutable.ArrayBuffer[QeRec],
      mutable.ArrayBuffer[JobRec])]()
    def slot(i: Int) = byOp.getOrElseUpdate(i,
      (mutable.ArrayBuffer(), mutable.ArrayBuffer()))
    val violations = mutable.ArrayBuffer[String]()
    qes.foreach(q => owner(q.startMs).foreach(i => slot(i)._1 += q))
    jobs.values.foreach { j =>
      owner(j.startMs) match {
        case Some(i) =>
          slot(i)._2 += j
          if (j.endMs < 0 || j.endMs > sorted(i).endMs + 1)
            violations += s"job ${j.id} straddles the end of " +
              s"${sorted(i).cls} (job end ${j.endMs}, op end ${sorted(i).endMs})"
        case None =>
          violations += s"job ${j.id} started outside every operation"
      }
    }
    (sorted.indices.map { i =>
      val (q, js) = byOp.getOrElse(i, (Nil, Nil))
      OpTrace(sorted(i), q.toSeq, js.toSeq)
    }, violations.toSeq)
  }

  /** Write the spans (operation → QueryExecution → job) as JSON lines,
    * with each span's self time: its duration minus the part covered by
    * its children. A QueryExecution's span runs from its first Catalyst
    * phase to the end of its last job. */
  def write(path: String, traces: Seq[OpTrace]): Unit = {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try traces.zipWithIndex.foreach { case (t, i) =>
      val opId = s"op$i"
      val byExec = t.jobs.groupBy(_.execId)
      val qeIds = t.qes.map(_.id).toSet
      def iv(js: Seq[JobRec]) = js.map(j => (j.startMs, j.endMs))
      val qeSpans = t.qes.map { q =>
        val qJobs = byExec.getOrElse(Some(q.id), Nil)
        (q, qJobs, (q.startMs, (q.endMs +: qJobs.map(_.endMs)).max))
      }
      val orphans = t.jobs.filterNot(_.execId.exists(qeIds))
      out.println(Json.obj(Seq("id" -> opId, "trace" -> opId,
        "layer" -> t.op.layer, "name" -> t.op.cls, "start_ms" -> t.op.startMs,
        "end_ms" -> t.op.endMs, "parent" -> null,
        "self_ms" -> math.max(0.0, t.op.ms -
          Tracer.unionMs(qeSpans.map(_._3) ++ iv(orphans))))))
      qeSpans.foreach { case (q, qJobs, (s, e)) =>
        out.println(Json.obj(Seq("id" -> s"qe${q.id}", "trace" -> opId,
          "layer" -> "plan", "name" -> "QueryExecution",
          "start_ms" -> s, "end_ms" -> e, "parent" -> opId,
          "catalyst_ms" -> q.catalystMs,
          "self_ms" -> ((e - s) - Tracer.unionMs(iv(qJobs))))))
        qJobs.foreach(j => writeJob(out, j, opId, s"qe${q.id}"))
      }
      orphans.foreach(j => writeJob(out, j, opId, opId))
    } finally out.close()
  }

  private def writeJob(out: java.io.PrintWriter, j: JobRec, trace: String,
      parent: String): Unit =
    out.println(Json.obj(Seq("id" -> s"job${j.id}", "trace" -> trace,
      "layer" -> "spark", "name" -> "job", "start_ms" -> j.startMs,
      "end_ms" -> j.endMs, "parent" -> parent, "tasks" -> j.tasks,
      "exec_run_ms" -> j.execRunMs, "shuffle_bytes" -> j.shuffleBytes,
      "input_bytes" -> j.inputBytes,
      "self_ms" -> (j.endMs - j.startMs).toDouble)))
}

object Tracer {
  /** Total length of a union of [start, end] intervals (ms). */
  def unionMs(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }
}
