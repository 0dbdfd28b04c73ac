package graft.util

import org.apache.spark.sql.SparkSession

/** The one local-mode session contract every main, probe and the test
  * harness runs under: `local[cores]` with as many shuffle partitions,
  * UTC session time (oracle-facing time columns are epoch values), AQE
  * on, parquet TIMESTAMP(NANOS) read as epoch longs (the events
  * table's `ts`, see [[graft.model.EventsCatalog]]) and no UI. */
object LocalSession {

  /** `SPARK_GRAFT_CPUS`, or the JVM's available processors when unset. */
  def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def apply(cores: Int = defaultCores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Unpersist every pinned RDD and clear the Dataset cache — the
    * harness sweep between registry entries or probe passes. Operators
    * hand their pins back as [[graft.pipeline.Dedup.PinHandle]]s; a
    * harness that drops them (the `SparkEntry` registry does) frees
    * the blocks here. */
  def sweep(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    spark.sharedState.cacheManager.clearCache()
  }
}
