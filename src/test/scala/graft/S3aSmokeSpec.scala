package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.streaming.Ingest

/** Object-store smoke test for the "storage providers are inherited
  * from Hadoop FS" claim (reference: server/storage abstracts file vs
  * S3 the same way — the repo delegates to `fs.s3a` instead of
  * reimplementing a provider SPI).
  *
  * The build environment has zero egress, so this suite is SKIPPED
  * unless `GRAFT_S3A_URI` names a reachable bucket prefix, e.g.
  *
  * {{{
  * export GRAFT_S3A_URI=s3a://my-bucket/graft-smoke
  * export AWS_ACCESS_KEY_ID=... AWS_SECRET_ACCESS_KEY=...
  * # non-AWS endpoints (minio, ceph) additionally:
  * export GRAFT_S3A_ENDPOINT=http://localhost:9000
  * sbt "testOnly graft.S3aSmokeSpec"
  * }}}
  *
  * What it exercises when enabled: the exact code paths the file://
  * suites cover — streaming [[Ingest.startWithStats]] (checkpoint,
  * manifest and store trees on the object store) and [[graft.model.Catalog]]'s parquet FOOTER probe
  * (which reads the file directly through the SESSION Hadoop conf, the
  * round-11 fix — a bare `new Configuration()` has no s3a credentials
  * and this spec is what would catch that regression on a real store).
  */
class S3aSmokeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val uri = sys.env.get("GRAFT_S3A_URI")

  private def withS3a(testBody: String => Unit): Unit = uri match {
    case None => cancel("GRAFT_S3A_URI not set — s3a smoke skipped " +
      "(zero-egress environment)")
    case Some(base) =>
      require(base.startsWith("s3a://"), s"GRAFT_S3A_URI must be s3a://: $base")
      val conf = spark.sparkContext.hadoopConfiguration
      sys.env.get("GRAFT_S3A_ENDPOINT")
        .foreach(conf.set("fs.s3a.endpoint", _))
      // path-style access is what minio-style endpoints need; harmless
      // against AWS when an endpoint override is present
      if (sys.env.contains("GRAFT_S3A_ENDPOINT"))
        conf.set("fs.s3a.path.style.access", "true")
      testBody(s"$base/${System.nanoTime()}")
  }

  test("streaming ingest writes day-partitioned parquet on s3a") {
    withS3a { base =>
      import spark.implicits._
      val in = s"$base/in"; val out = s"$base/out"; val cp = s"$base/cp"
      val stats = s"$base/stats"; val control = s"$base/control"
      val day = 86400000000000L
      val rows = Seq(
        ("p0", "click", 1L * day + 5L, 1L, 1.0),
        ("p0", "click", 1L * day + 5L, 1L, 1.0), // in-batch duplicate
        ("p1", "error", 2L * day + 9L, 2L, 2.0)
      ).toDF("producer", "topic", "time", "seq", "value")
      rows.write.parquet(in)
      val stream = spark.readStream.schema(rows.schema).parquet(in)
      Ingest.startWithStats(spark, stream, out, stats, cp,
        controlDir = Some(control)).awaitTermination(300000)
      val got = new graft.model.IngestedCatalog(out, stats, control)
        .messages(spark)
      assert(got.count() == 2)
      assert(got.select("day").distinct().count() == 2)
    }
  }

  test("catalog footer probe reads parquet logical types through s3a") {
    withS3a { base =>
      import spark.implicits._
      // events-shaped table; ts written as µs timestamp (one of the
      // two footer encodings the probe distinguishes)
      Seq((7L, 1L, "click", java.sql.Timestamp.valueOf("2026-01-01 00:00:01"),
          1.5, """{"k": 3}"""))
        .toDF("event_id", "user_id", "event_type", "ts", "value", "props")
        .write.parquet(s"$base/events.parquet")
      // the probe must see the footer through the session conf (the
      // subsequent spark.read of the same path is the control)
      val cat = new graft.model.EventsCatalog(base)
      assert(cat.messages(spark).count() == 1)
    }
  }
}
