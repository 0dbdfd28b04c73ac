package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** One shared local session for all suites. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // plan-shape gates read PushedFilters/ReadSchema from the plan
      // string; default 100-char metadata truncation hides the tail
      .config("spark.sql.maxMetadataStringLength", "2000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Whether a planned QL query's parquet scans carry the statfilter's
    * pushed `time` range — the mark of an engaged bucket skip, for
    * queries with no `between` (no other predicate bounds time). */
  def timePruned(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.linesIterator
      .filter(_.contains("PushedFilters"))
      .exists(_.contains("GreaterThanOrEqual(time,"))

  /** Append `df` (canonical columns) to the ingest store under `base`
    * as ingest version `v`, through `Ingest.appendVersion`: data, stat
    * partials and control rows, plus per-field `value` partials when
    * `fieldStats`. */
  def ingest(base: String, v: Long, df: DataFrame,
      fieldStats: Boolean = false): Unit =
    graft.streaming.Ingest.appendVersion(
      df.withColumn("day", org.apache.spark.sql.functions.expr(
        "time div 86400000000000")), v,
      s"$base/data", s"$base/stats", Some(s"$base/control"),
      Some((s"$base/fstats", Seq("value"), Seq.empty[String]))
        .filter(_ => fieldStats))

  /** The catalog of the ingest store under `base`, reading the
    * per-field partials when `fieldStats`. */
  def ingestedCatalog(base: String, fieldStats: Boolean = false)
      : graft.model.IngestedCatalog =
    new graft.model.IngestedCatalog(s"$base/data", s"$base/stats",
      s"$base/control", Some(s"$base/fstats").filter(_ => fieldStats))

  /** An ingested store under a fresh temp dir (returned with its
    * catalog): `p0`'s click table with three rows in version 1 —
    * (10 s, 1.0) and (20 s, 2.0) in base bucket 0, (70 s, 4.0) in
    * bucket 1 — plus the version's base-tier and per-field `value`
    * partials and control rows. */
  def smallStore(tag: String): (String, graft.model.IngestedCatalog) = {
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory(tag).toString
    ingest(base, 1L, Seq(("p0", "click", 10L * 1000000000L, 1L, 1.0),
      ("p0", "click", 20L * 1000000000L, 2L, 2.0),
      ("p0", "click", 70L * 1000000000L, 3L, 4.0))
      .toDF("producer", "topic", "time", "seq", "value"), fieldStats = true)
    (base, ingestedCatalog(base, fieldStats = true))
  }

  /** The reference's all-primitives fixture (reference:
    * server/executor/executor_test.go:327-388 prepTmgr2): topics t0..t9,
    * 5 messages each, every numeric field = message index c,
    * log_time = c + i*c, s = "hello". */
  def prepFixture(): DataFrame = {
    val rows = for {
      i <- 0 until 10
      c <- 0 until 5
    } yield {
      val t = (c + i * c).toLong
      (s"t$i", "device", t, t, c.toLong * 1000 + i, // seq unique
        c.toShort, c, c.toLong, c.toLong,
        c.toByte, c.toShort, c, c.toLong,
        c.toFloat, c.toDouble, "hello")
    }
    val s = spark
    import s.implicits._
    rows.toDF("topic", "producer", "time", "time_us", "seq",
      "u8", "u16", "u32", "u64", "i8", "i16", "i32", "i64",
      "f32", "f64", "s")
  }
}
