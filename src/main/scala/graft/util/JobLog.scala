package graft.util

import org.apache.spark.{ListenerBusDrain, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** The job recorder: a listener that logs each Spark job's
  * description, stage count, input bytes, file scans and span, with the
  * listener bus drained before and after the recorded block so the log
  * holds exactly the jobs the block launched. [[graft.Bench.measure]]
  * records every registry entry's warm run with it; specs assert job
  * budgets and descriptions with it. */
object JobLog {
  final class Job(val id: Int, val desc: String, val t0: Long) {
    @volatile var stages = 0
    @volatile var input = 0L
    @volatile var tEnd = 0L
    /** The RDD ids of the file scans each completed stage ran, stage
      * by stage: a scan that a job re-executes (a range partitioner's
      * sampling pass, say) shows up twice. */
    @volatile var fileScans = Vector.empty[Int]
  }

  /** Runs `body` and returns its result with the jobs it launched, in
    * start order. */
  def record[T](sc: SparkContext)(body: => T): (T, Seq[Job]) = {
    val jobs = scala.collection.concurrent.TrieMap[Int, Job]()
    val stageToJob = scala.collection.concurrent.TrieMap[Int, Int]()
    val order = new java.util.concurrent.CopyOnWriteArrayList[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val d = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        jobs(e.jobId) = new Job(e.jobId, d, System.nanoTime())
        order.add(e.jobId)
        e.stageIds.foreach(s => stageToJob(s) = e.jobId)
      }
      override def onStageCompleted(
          e: SparkListenerStageCompleted): Unit =
        stageToJob.get(e.stageInfo.stageId).flatMap(jobs.get)
          .foreach { job =>
            job.stages += 1
            job.input += e.stageInfo.taskMetrics.inputMetrics.bytesRead
            job.tEnd = System.nanoTime()
            job.fileScans ++= e.stageInfo.rddInfos
              .filter(_.name == "FileScanRDD").map(_.id)
          }
    }
    // events queued before the block must not reach this listener
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      ListenerBusDrain(sc)
      import scala.jdk.CollectionConverters._
      (out, order.asScala.toSeq.map(jobs))
    } finally sc.removeSparkListener(listener)
  }
}
