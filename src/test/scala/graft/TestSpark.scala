package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** One shared local session for all suites. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = graft.util.LocalSession(4)
    // plan-shape gates read PushedFilters/ReadSchema from the plan
    // string; default 100-char metadata truncation hides the tail
    s.conf.set("spark.sql.maxMetadataStringLength", "2000")
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Consume a pinning operator's frame with `use`, then release its
    * pin handle. */
  def consume[A](face: (DataFrame, graft.pipeline.Dedup.PinHandle))(
      use: DataFrame => A): A =
    try use(face._1) finally face._2.release()

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

  /** A robot-log ingest store under a fresh temp dir (returned with its
    * catalog): producers p0..p3, each with `imu`, `odom`, `gps` and
    * `diag` messages every 2, 3, 5 and 6 s over 30 min — so timestamps
    * collide across topics and producers — with seeded gaussian
    * `value`s and a unique `seq` per message, ingested as two versions
    * (the two 15-min halves) with per-field `value` partials. */
  def robotStore(tag: String): (String, graft.model.IngestedCatalog) = {
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory(tag).toString
    val rnd = new scala.util.Random(7)
    val rows = (for {
      p <- 0 until 4
      (t, every) <- Seq("imu" -> 2, "odom" -> 3, "gps" -> 5, "diag" -> 6)
      sec <- 0 until 1800 by every
    } yield (s"p$p", t, sec * 1000000000L, rnd.nextGaussian()))
      .zipWithIndex.map { case ((p, t, time, v), i) =>
        (p, t, time, i.toLong, v) }
    for (v <- 1 to 2)
      ingest(base, v.toLong, rows.filter(_._3 / 900000000000L == v - 1)
        .toDF("producer", "topic", "time", "seq", "value"),
        fieldStats = true)
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
