package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Similarity
import graft.util.JobLog

/** The stored vector index's job discipline: every eager job of its
  * verbs is named, and a warm serve runs only the serve's own scan —
  * the manifest header replaces the side-table reads and the
  * schema-inference job. */
class VectorIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def vecOf(i: Int): Seq[Float] =
    (0 until 4).map(d => math.sin(i * (0.7 + 0.13 * d) + d).toFloat)

  private lazy val emb: DataFrame =
    (0 until 12).map(i => (i.toLong, vecOf(i), (i % 2).toLong))
      .toDF("vec_id", "embedding", "label")

  private def tmp(tag: String): String =
    Files.createTempDirectory(tag).toString

  test("every Spark job the stored-index verbs launch names its verb " +
      "and step") {
    val first = emb.where(col("vec_id") < 8)
    val more = emb.where(col("vec_id") >= 8)
    val overlap = emb.where(col("vec_id") >= 6)
    val Seq(ivf, ivf2, pq, ivfPq, resid) =
      Seq("ivf", "ivf2", "pq", "ivfpq", "resid").map(t => tmp(s"vecjobs-$t"))
    val verbs: Seq[(String, () => Unit)] = Seq(
      "writeIvfIndex" -> (() =>
        Similarity.writeIvfIndex(first, ivf, kCells = 2, iters = 2)),
      "writeIvfIndexWith" -> (() => Similarity.writeIvfIndexWith(first,
        Similarity.readIvfCentroids(spark, ivf), ivf2)),
      "appendToIvfIndex" -> (() => Similarity.appendToIvfIndex(more, ivf)),
      "appendToIvfIndex" -> (() =>
        Similarity.appendToIvfIndex(overlap, ivf)),
      "compactIvfVectors" -> (() =>
        Similarity.compactIvfVectors(spark, ivf)),
      "retrainIvfIndex" -> (() =>
        Similarity.retrainIvfIndex(spark, ivf, kCells = 3, iters = 2)),
      "writePqIndex" -> (() =>
        Similarity.writePqIndex(first, pq, dims = 4, m = 2)),
      "appendToPqIndex" -> (() => Similarity.appendToPqIndex(overlap, pq)),
      "compactPqCodes" -> (() => Similarity.compactPqCodes(spark, pq)),
      "retrainPqIndex" -> (() => Similarity.retrainPqIndex(emb, pq)),
      "writeIvfPqIndex" -> (() => Similarity.writeIvfPqIndex(first, ivfPq,
        kCells = 2, dims = 4, m = 2, iters = 2)),
      "appendToIvfPqIndex" -> (() =>
        Similarity.appendToIvfPqIndex(overlap, ivfPq)),
      "compactIvfPqCodes" -> (() =>
        Similarity.compactIvfPqCodes(spark, ivfPq)),
      "retrainIvfPqIndex" -> (() => Similarity.retrainIvfPqIndex(emb, ivfPq,
        kCells = 3, iters = 2)),
      "writeIvfPqIndex" -> (() => Similarity.writeIvfPqIndex(first, resid,
        kCells = 2, dims = 4, m = 2, iters = 2, residual = true, kSub = 2)),
      "appendToIvfPqIndex" -> (() =>
        Similarity.appendToIvfPqIndex(overlap, resid)),
      "retrainIvfPqIndex" -> (() => Similarity.retrainIvfPqIndex(emb, resid,
        kCells = 3, iters = 2)))
    for ((verb, run) <- verbs) {
      val (_, jobs) = JobLog.record(spark.sparkContext)(run())
      assert(jobs.nonEmpty, verb)
      assert(jobs.forall(_.desc.startsWith(s"vec:$verb:")),
        s"$verb launched unnamed jobs: ${jobs.map(_.desc).mkString(", ")}")
    }
  }

  test("an append evaluates its batch once: the fingerprint and the " +
      "written rows share one evaluation") {
    val ivf = tmp("vecbatch-ivf"); val pq = tmp("vecbatch-pq")
    val ivfPq = tmp("vecbatch-ivfpq")
    val first = emb.where(col("vec_id") < 8)
    Similarity.writeIvfIndex(first, ivf, kCells = 2, iters = 2)
    Similarity.writePqIndex(first, pq, dims = 4, m = 2)
    Similarity.writeIvfPqIndex(first, ivfPq, kCells = 2, dims = 4, m = 2,
      iters = 2)
    val more = emb.where(col("vec_id") >= 8)
    val appends: Seq[(String, DataFrame => Unit)] = Seq(
      "appendToIvfIndex" -> (b => Similarity.appendToIvfIndex(b, ivf)),
      "appendToPqIndex" -> (b => Similarity.appendToPqIndex(b, pq)),
      "appendToIvfPqIndex" -> (b =>
        Similarity.appendToIvfPqIndex(b, ivfPq)))
    for ((verb, append) <- appends) {
      // every evaluation of the batch's lineage ticks once per row
      val acc = spark.sparkContext.longAccumulator(verb)
      val batch = spark.createDataFrame(
        more.rdd.map { r => acc.add(1); r }, more.schema)
      append(batch)
      assert(acc.value == more.count(), s"$verb evaluated its batch " +
        s"${acc.value.toDouble / more.count()} times")
    }
  }

  test("serve job budget: a warm ivfTopKFromIndex runs exactly 1 job " +
      "and a warm ivfPqTopKFromIndex exactly 5 — no schema-inference " +
      "job, no leaf listing, no side-table read") {
    val ivf = tmp("vecserve-ivf")
    val ivfPq = tmp("vecserve-ivfpq")
    Similarity.writeIvfIndex(emb, ivf, kCells = 2, iters = 2)
    Similarity.writeIvfPqIndex(emb, ivfPq, kCells = 2, dims = 4, m = 2,
      iters = 2)
    def ivfServe() = Similarity.ivfTopKFromIndex(spark, ivf, vecOf(3), k = 5,
      nprobe = 1).collect()
    def ivfPqServe() = Similarity.ivfPqTopKFromIndex(spark, ivfPq,
      Seq(100L -> vecOf(3), 101L -> vecOf(4)), k = 5, nprobe = 1).collect()
    ivfServe(); ivfPqServe()
    val (_, ivfJobs) = JobLog.record(spark.sparkContext)(ivfServe())
    def show(jobs: Seq[JobLog.Job]) =
      jobs.map(j => s"stages=${j.stages} in=${j.input}").mkString("; ")
    assert(ivfJobs.size == 1, show(ivfJobs))
    val (_, ivfPqJobs) = JobLog.record(spark.sparkContext)(ivfPqServe())
    assert(ivfPqJobs.size == 5, show(ivfPqJobs))
  }
}
