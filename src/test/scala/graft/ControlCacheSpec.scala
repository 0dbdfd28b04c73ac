package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.util.ControlCache

/** The fingerprint-keyed control-plane cache: a serve-path handle for
  * frozen layout tables (index meta rows, quantizer centroids) that
  * must NEVER survive a rewrite of the table it mirrors — every
  * supported writer emits fresh UUID part names, so the
  * name:len:mtime fingerprint misses and the loader re-runs. */
class ControlCacheSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fsOf(p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("cached value is reused while the dir is unchanged and " +
      "reloaded after any rewrite (fresh part names) or delete") {
    val dir = java.nio.file.Files
      .createTempDirectory("ctlcache").toString + "/meta"
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = fsOf(p)
    Seq((7, "a")).toDF("n", "s").coalesce(1)
      .write.mode("overwrite").parquet(dir)
    var loads = 0
    def read(): Int = ControlCache.cached(fs, p) {
      loads += 1
      spark.read.parquet(dir).head().getInt(0)
    }
    assert(read() == 7 && loads == 1)
    assert(read() == 7 && loads == 1) // steady state: no reload
    // rewrite in place — overwrite emits fresh UUID part names, so
    // the fingerprint misses and the NEW value is served
    Seq((9, "b")).toDF("n", "s").coalesce(1)
      .write.mode("overwrite").parquet(dir)
    assert(read() == 9 && loads == 2)
    assert(read() == 9 && loads == 2)
    // delete + recreate (the buildOnce serve-entry lifecycle)
    fs.delete(p, true)
    Seq((11, "c")).toDF("n", "s").coalesce(1)
      .write.mode("overwrite").parquet(dir)
    assert(read() == 11 && loads == 3)
  }

  test("the bm25 serve reflects an in-JVM index rewrite (cache can " +
      "never serve a stale bucket count or stale centroids)") {
    import graft.pipeline.{Search, Similarity}
    val base = java.nio.file.Files
      .createTempDirectory("ctlcache-idx").toString
    val docs = Seq((0L, "alpha beta"), (1L, "alpha gamma"))
      .toDF("doc_id", "text")
    Search.writeBm25Index(docs, s"$base/bm25", nBuckets = 2)
    val r1 = Search.bm25TopKBatchFromIndex(spark, s"$base/bm25",
      Seq((1L, "alpha")), k = 5).collect()
    assert(r1.length == 2)
    // rewrite the SAME path with a different bucket count and corpus:
    // a stale cached nBuckets would derive wrong bucket dirs and
    // silently drop postings
    Search.writeBm25Index(
      Seq((5L, "alpha alpha"), (6L, "delta")).toDF("doc_id", "text"),
      s"$base/bm25", nBuckets = 5)
    val r2 = Search.bm25TopKBatchFromIndex(spark, s"$base/bm25",
      Seq((1L, "alpha")), k = 5).collect()
    assert(r2.map(_.getAs[Long]("doc_id")).toSet == Set(5L))
    // same discipline for the IVF quantizer
    val emb = Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    Similarity.writeIvfIndex(emb, s"$base/ivf", kCells = 1, iters = 1)
    val c1 = Similarity.readIvfCentroids(spark, s"$base/ivf")
    assert(Similarity.readIvfCentroids(spark, s"$base/ivf") == c1)
    Similarity.writeIvfIndex(
      Seq((2L, Seq(0.6f, 0.8f))).toDF("vec_id", "embedding"),
      s"$base/ivf", kCells = 1, iters = 1)
    val c2 = Similarity.readIvfCentroids(spark, s"$base/ivf")
    assert(c1 != c2, "stale centroids served after a rewrite")
  }

  test("the same path on two filesystems is two cache entries") {
    // one local directory seen through two schemes: identical
    // fingerprints, but two tables as far as the cache is concerned
    val dir = java.nio.file.Files
      .createTempDirectory("ctlcache-fs").toString + "/meta"
    Seq((1, "a")).toDF("n", "s").coalesce(1).write.parquet(dir)
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    conf.set("fs.graftalt.impl", classOf[AltSchemeLocalFs].getName)
    val p = new org.apache.hadoop.fs.Path(dir)
    val local = new org.apache.hadoop.fs.Path(s"file://$dir")
      .getFileSystem(conf)
    val alt = new org.apache.hadoop.fs.Path(s"graftalt://$dir")
      .getFileSystem(conf)
    assert(alt.getUri.getScheme == "graftalt")
    assert(ControlCache.cached(local, p)("local") == "local")
    assert(ControlCache.cached(alt, p)("alt") == "alt")
    assert(ControlCache.cached(local, p)("reloaded") == "local")
  }
}

/** The local filesystem under a second scheme, `graftalt:` — the same
  * files reached through another FileSystem URI. */
final class AltSchemeLocalFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftalt:///")
}
