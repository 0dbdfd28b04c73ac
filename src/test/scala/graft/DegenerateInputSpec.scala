package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{IntervalJoin, Sessionize}
import graft.pipeline.{Dedup, Sampling, Similarity, TextOps}

/** Degenerate inputs: empty corpora and single rows must flow through
  * every operator family as empty/identity results — never a throw,
  * never a hang. At 100 TB these paths are real (an empty partition
  * after a filter, a producer with one message), and a driver-side
  * head() or reduce() on an empty frame is the classic way they die.
  */
class DegenerateInputSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def emptyDocs: DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType))))

  /** the row count of a pinning operator's frame, its pins released */
  private def rows(face: (DataFrame, Dedup.PinHandle)): Long =
    TestSpark.consume(face)(_.count())

  private def oneDoc: DataFrame =
    Seq((1L, "a single short document")).toDF("doc_id", "text")

  test("round-15 natives: gopher signals and BPE counts on null, " +
      "empty, separator-only, and non-ASCII inputs") {
    import graft.functions.{BpeTable, BpeTokenCount}
    // gopher: null text -> null struct fields (nullIntolerant), never
    // a throw; separator/whitespace-only text -> all zeros; code-point
    // lengths (not UTF-16 units) for non-ASCII
    val docs = Seq[(java.lang.Long, String)](
      (1L, null), (2L, ""), (3L, "\n \n\t\n"), (4L, "é é\né é"))
      .toDF("doc_id", "text")
    val g = TextOps.gopherSignals(docs).orderBy("doc_id").collect()
    assert(g(0).isNullAt(1), "null text must yield null signals")
    assert((1 to 12).forall(i => g(1).getLong(i) == 0L))
    // "\n \n\t\n": one trimmed segment " " -> empty after trim except
    // the tab segment "\t" which Spark trim KEEPS (trim strips ' '
    // only) -> 1 line, 0 tokens (\s+ eats everything)
    assert(g(2).getLong(1) == 1L
      && (2 to 12).forall(i => g(2).getLong(i) == 0L))
    // "é é\né é": 2 dup lines of cp-length 3; tokens [é,é,é,é] so
    // charlen 7 and the top bigram "é é" spans the line break — 3
    // windows × cp-length 3 = 9 covered chars (code points, not
    // UTF-16 units)
    assert(g(3).getLong(1) == 2L)
    assert(g(3).getLong(2) == 1000000L) // 2/2 dup lines
    assert(g(3).getLong(4) == (9L * 2000000L + 7L) / 14L)
    // BPE: empty merges table -> every word counts its code points;
    // empty word never reaches encode (WordRe can't match one), but
    // the loop handles it anyway
    val empty = new BpeTable(Seq.empty)
    assert(BpeTokenCount.encode("", empty).length == 0)
    assert(BpeTokenCount.encode("abc", empty).toSeq ==
      Seq("a", "b", "c"))
    val t = new BpeTable(Seq(("a", "b"), ("ab", "c")))
    assert(BpeTokenCount.encode("abcabc", t).toSeq ==
      Seq("abc", "abc"))
    // a pair listed twice keeps its FIRST (lowest) rank
    val dup = new BpeTable(Seq(("a", "b"), ("a", "b")))
    assert(BpeTokenCount.encode("ab", dup).toSeq == Seq("ab"))
  }

  test("round-12 additions: empty/singleton corpora flow through") {
    val withSrc = (df: DataFrame) => df.withColumn("source", lit("s0"))
    // overlap audits: one group (or none) -> no pair rows
    assert(rows(Dedup.corpusOverlap(withSrc(emptyDocs), k = 3)) == 0)
    assert(rows(Dedup.corpusOverlap(withSrc(oneDoc), k = 3)) == 0)
    assert(rows(Dedup.corpusOverlapSketch(withSrc(emptyDocs), k = 3,
      numHashes = 8)) == 0)
    assert(rows(Dedup.corpusOverlapSketch(withSrc(oneDoc), k = 3,
      numHashes = 8)) == 0)
    // soft dedup with no pairs: every doc a singleton at full weight
    val emptyPairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val w = TestSpark.consume(Dedup.softDedupWeights(
      oneDoc.select("doc_id"), emptyPairs))(_.collect())
    assert(w.length == 1 && w.head.getAs[Long]("weight_ppm") == 1000000L)
    // temperature sampling: empty corpus errors cleanly (no strata to
    // license a cutoff), singleton keeps its row (rarest stratum)
    intercept[IllegalArgumentException] {
      Sampling.temperatureSample(withSrc(emptyDocs), "source")
    }
    assert(Sampling.temperatureSample(withSrc(oneDoc), "source")
      .count() == 1)
    // mmr: pool of one candidate returns that candidate at rank 0
    val twoVecs = Seq((0L, Seq(1f, 0f)), (1L, Seq(0.9f, 0.1f)))
      .toDF("vec_id", "embedding")
    val m = Similarity.mmrTopK(twoVecs, queryId = 0L, k = 1,
      poolSize = 1).collect()
    assert(m.length == 1 && m.head.getAs[Long]("vec_id") == 1L)
  }

  test("review-pass guards: null strata, group-cardinality cap, " +
      "zero-norm index rows") {
    // a NULL stratum must not set the temperature baseline: n_min
    // comes from REAL strata only, and unlabeled rows drop (letting
    // a null group bind n_min would cut the genuinely-rarest stratum
    // while its own rows vanish anyway)
    val mixed = (0L until 40L).map(i =>
        (i, if (i < 4) null else if (i < 14) "rare" else "big"))
      .toDF("doc_id", "source")
    val kept = Sampling.temperatureSample(mixed, "source").collect()
      .map(r => Option(r.getString(1)))
    assert(!kept.contains(None), "null-stratum rows drop")
    assert(kept.count(_.contains("rare")) == 10,
      "the real rarest stratum keeps all rows despite the null group")
    // the exact overlap audit refuses high-cardinality group columns
    // at the ENTRY (quadratic-guard rule) and points to the sketch
    val manyGroups = (0L until 30L)
      .map(i => (s"g$i", i, "alpha beta gamma delta epsilon"))
      .toDF("source", "doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.corpusOverlap(manyGroups, k = 3, maxGroups = 10)
    }
    assert(e.getMessage.contains("corpusOverlapSketch"))
    // a zero vector stored in an IVF index must not surface as a NaN
    // top hit (Spark sorts NaN above every real score descending)
    val dir = java.nio.file.Files.createTempDirectory("ivfz").toString
    val withZero = Seq((0L, Seq(1f, 0f)), (1L, Seq(0.9f, 0.1f)),
      (2L, Seq(0f, 0f))).toDF("vec_id", "embedding")
    Similarity.writeIvfIndex(withZero, dir, kCells = 1, iters = 1)
    val top = Similarity.ivfTopKFromIndex(spark, dir, Seq(1f, 0f),
      k = 3, nprobe = 1).collect()
    assert(!top.exists(_.getLong(0) == 2L), "zero-norm row filtered")
    assert(top.head.getLong(0) == 0L, "the identical vector ranks first")
    intercept[IllegalArgumentException] {
      Similarity.ivfTopKFromIndex(spark, dir, Seq(0f, 0f), k = 1)
    }
    // retrain survives the zero vector (empty-cell centroids keep
    // their previous value — standard Lloyd's) and kCells > n; the
    // zero row is preserved in the index but stays filtered at serve
    Similarity.retrainIvfIndex(spark, dir, kCells = 5, iters = 2)
    val top2 = Similarity.ivfTopKFromIndex(spark, dir, Seq(1f, 0f),
      k = 3, nprobe = 5).collect()
    assert(!top2.exists(_.getLong(0) == 2L), "zero-norm row filtered")
    assert(top2.head.getLong(0) == 0L)
    assert(Similarity.indexRows(spark, dir).get.count() == 3)
  }

  test("dedup family: empty and singleton corpora") {
    assert(Dedup.exact(emptyDocs).count() == 0)
    assert(Dedup.exact(oneDoc).count() == 1)
    assert(rows(Dedup.jaccardPairs(emptyDocs, k = 3, threshold = 0.5))
      == 0)
    assert(rows(Dedup.jaccardPairs(oneDoc, k = 3, threshold = 0.5))
      == 0) // no pair from one doc
    assert(rows(Dedup.minhashLshCandidates(emptyDocs, k = 3,
      numHashes = 8, bands = 4)) == 0)
    assert(Dedup.simhash(oneDoc).count() == 1)
    assert(rows(Dedup.simhashPairs(oneDoc)) == 0)
    assert(rows(Dedup.overlapPairs(emptyDocs, w = 3)) == 0)
  }

  test("clusters: empty pair set labels every id with itself") {
    val ids = Seq(1L, 2L).toDF("doc_id")
    val noPairs = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("id_a", LongType),
        StructField("id_b", LongType))))
    val got = TestSpark.consume(Dedup.clusters(ids, noPairs))(_.collect())
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 1L), (2L, 2L)))
  }

  test("text ops: empty strings and empty corpora") {
    val empt = Seq((1L, ""), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val q = empt.select(col("doc_id"),
      TextOps.tokenCount(col("text")).as("n"))
    assert(q.where(col("n") > 0).count() == 0)
    assert(TextOps.topNgrams(emptyDocs, n = 2, k = 5).count() == 0)
    assert(TextOps.decontaminate(oneDoc, emptyDocs, n = 3)
      .where(col("contaminated") > 0).count() == 0)
  }

  test("sessionize and interval join: empty frames") {
    val noEvents = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("k", StringType),
        StructField("t", LongType), StructField("seq", LongType))))
    assert(Sessionize.assign(noEvents, Seq("k"), "t", gap = 10L)
      .count() == 0)
    assert(Sessionize.summarize(noEvents, Seq("k"), "t", gap = 10L)
      .count() == 0)
    val noIntervals = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("k", StringType),
        StructField("s", LongType), StructField("e", LongType))))
    val pts = Seq(("a", 5L)).toDF("k", "t")
    assert(IntervalJoin.pointInInterval(pts, noIntervals, Seq("k"),
      "t", "s", "e", bucketWidth = 8L).count() == 0)
    assert(IntervalJoin.pointInInterval(noEvents.select(col("k"),
      col("t")), noIntervals, Seq("k"), "t", "s", "e",
      bucketWidth = 8L).count() == 0)
  }

  test("sampling and similarity: empty frames") {
    assert(Sampling.sample(emptyDocs, fraction = 0.5).count() == 0)
    val noVecs = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)),
        StructField("label", IntegerType))))
    // a query id that matches nothing: empty result, no throw
    assert(Similarity.bruteForceTopK(noVecs, queryId = 1L, k = 3)
      .count() == 0)
    assert(Similarity.cosineNearDupPairs(noVecs, 0.9, Some("label"))
      .count() == 0)
  }
}
