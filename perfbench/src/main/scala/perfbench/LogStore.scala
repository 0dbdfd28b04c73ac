package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.api.{Dp3Http, Dp3Service, IngestStore}
import graft.model.IngestedCatalog
import graft.streaming.Ingest

/** An ingested robot-log store under `root` (the `Ingest.startWithStats`
  * directory set with control and per-field stats) plus its landing
  * directory. Each [[land]] + [[trigger]] pair commits one version. */
final class LogStore(spark: SparkSession, val root: String) {
  val in = s"$root/in"
  val data = s"$root/data"
  val stats = s"$root/stats"
  val fstats = s"$root/fstats"
  val control = s"$root/control"
  val checkpoint = s"$root/checkpoint"
  private val fieldStats = Some((fstats, Seq("value"), Seq("status")))
  private val schema = spark.createDataFrame(Seq.empty[Msg]).schema

  /** Land one file of messages: the next trigger ingests it as one
    * version. */
  def land(msgs: Seq[Msg]): Unit =
    spark.createDataFrame(msgs).coalesce(1).write.mode("append").parquet(in)

  /** Run one `AvailableNow` trigger over everything landed since the
    * last one, one version per landed file; returns the progress records
    * of the micro-batches it ran. */
  def trigger(): Seq[StreamingQueryProgress] = {
    val q = Ingest.startWithStats(spark,
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(in), data, stats, checkpoint,
      controlDir = Some(control), fieldStats = fieldStats)
    q.awaitTermination()
    q.exception.foreach(e => throw e)
    q.recentProgress.toSeq.filter(_.numInputRows > 0)
  }

  def catalog: IngestedCatalog =
    new IngestedCatalog(data, stats, control, fieldStatsDir = Some(fstats))

  /** A fresh service over the store, as a dp3 server process holds one. */
  def service(): Dp3Service = {
    val cat = catalog
    new Dp3Service(cat, s => cat.messages(s), Some(IngestStore(cat)))
  }

  def http(svc: Dp3Service): Dp3Http = new Dp3Http(svc, spark).start()

  /** Bytes and files under a subtree (hidden files included: the
    * checkpoint and maintenance leftovers are what the store costs). */
  def du(dir: String = root): (Long, Long) = LogStore.du(dir)
}

object LogStore {
  def du(dir: String): (Long, Long) = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) (0L, 0L)
    else {
      val s = java.nio.file.Files.walk(p)
      try {
        var bytes = 0L; var files = 0L
        s.filter(java.nio.file.Files.isRegularFile(_)).forEach { f =>
          bytes += java.nio.file.Files.size(f); files += 1 }
        (bytes, files)
      } finally s.close()
    }
  }

  /** Data parquet files a scan can see (hidden and `_` files excluded). */
  def dataFiles(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter { f =>
        val rel = p.relativize(f).toString
        rel.endsWith(".parquet") &&
          !rel.split('/').exists(x => x.startsWith(".") || x.startsWith("_"))
      }.count() finally s.close()
    }
  }
}
