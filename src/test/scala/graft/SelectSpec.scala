package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.pipeline.{Curate, Sampling, Select}

/** Data-selection and sequence-shaping operators on crafted
  * micro-fixtures: DSIR weight direction and determinism, the
  * per-stratum rank cut's exact floor arithmetic, and chunking's
  * coverage/no-redundant-tail contract. */
class SelectSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // target-flavored vocabulary {code compile scala} vs off-target
  // {duck pond swim}; doc 10 is pure target language, 12 pure off
  private lazy val docs = Seq(
    (10L, "code compile scala code compile", "tgt"),
    (11L, "code compile duck pond swim", "mix"),
    (12L, "duck pond swim duck pond swim", "off"),
    (13L, "", "off")
  ).toDF("doc_id", "text", "source")

  private lazy val target = docs.where($"source" === "tgt")

  /** a weights face's rows by doc id, its pins released */
  private def sorted(face: (org.apache.spark.sql.DataFrame,
      graft.pipeline.Dedup.PinHandle)) =
    TestSpark.consume(face)(_.orderBy("doc_id").collect().toSeq)

  test("dsir weights rank target-like docs above off-target docs") {
    val w = sorted(Select.dsirWeights(docs, target, buckets = 64))
      .map(r => r.getLong(0) ->
        (r.getAs[Long]("n_feats"), r.getAs[Long]("weight_mu"))).toMap
    assert(w(10L)._2 > w(11L)._2 && w(11L)._2 > w(12L)._2,
      s"expected weight(10) > weight(11) > weight(12): $w")
    // empty doc: zero features, zero weight — present, not dropped
    assert(w(13L) == (0L, 0L))
    // 5 unigrams + 4 bigrams
    assert(w(10L)._1 == 9L)
  }

  test("dsir weights are deterministic and salt-sensitive") {
    val a = sorted(Select.dsirWeights(docs, target, buckets = 64))
    val b = sorted(Select.dsirWeights(docs, target, buckets = 64))
    assert(a == b)
    val c = sorted(Select.dsirWeights(docs, target, buckets = 64,
      salt = "x"))
    // different hash planes -> different bucket collisions; the
    // DIRECTION survives even when exact values move
    val cm = c.map(r => r.getLong(0) -> r.getAs[Long]("weight_mu")).toMap
    assert(cm(10L) > cm(12L))
  }

  test("dsirSelect returns exactly k docs, best-first by weight") {
    val sel = Select.dsirSelect(docs, target, buckets = 64, k = 2)
      .select("doc_id").as[Long].collect().toSet
    assert(sel.size == 2 && sel.contains(10L),
      s"pure-target doc must be selected: $sel")
    assert(!sel.contains(12L), "pure off-target doc must not make k=2")
  }

  test("keepTopFraction keeps exactly floor(count*num/den) per stratum") {
    // stratum a: 5 rows scores 5..1; b: 3 rows all tied at 7
    val df = (Seq((1L, "a", 5L), (2L, "a", 4L), (3L, "a", 3L),
      (4L, "a", 2L), (5L, "a", 1L),
      (6L, "b", 7L), (7L, "b", 7L), (8L, "b", 7L)))
      .toDF("doc_id", "s", "score")
    val kept = Curate.keepTopFraction(df, "s", "score", 2, 5)
      .select("doc_id").as[Long].collect().toSet
    // a: floor(5*2/5)=2 -> top scores 5,4 = ids 1,2
    // b: floor(3*2/5)=1 -> tie broken by lowest id = 6
    assert(kept == Set(1L, 2L, 6L), s"got $kept")
  }

  test("keepTopFraction edges: full fraction keeps all, zero keeps none") {
    val df = Seq((1L, "a", 1L), (2L, "a", 2L)).toDF("doc_id", "s", "score")
    assert(Curate.keepTopFraction(df, "s", "score", 1, 1).count() == 2)
    assert(Curate.keepTopFraction(df, "s", "score", 0, 1).count() == 0)
  }

  test("chunk covers every token once past the overlap, no redundant tail") {
    // 10 tokens, maxLen 8, stride 4: windows [0,8) and [4,10) — the
    // start-8 window would be a pure suffix of [4,10) and must not emit
    val doc = Seq((1L, (0 until 10).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    val ch = Sampling.chunk(doc, maxLen = 8, stride = 4)
      .orderBy("chunk_idx").collect()
    assert(ch.map(_.getAs[Long]("chunk_start")).toSeq == Seq(0L, 4L))
    assert(ch.map(_.getAs[Long]("n_tokens")).toSeq == Seq(8L, 6L))
    assert(ch.map(_.getAs[Long]("chunk_idx")).toSeq == Seq(0L, 1L))
  }

  test("chunk: short docs yield one window; stride=maxLen partitions") {
    val doc = Seq((1L, "a b c"), (2L, "p q r s t u")).toDF("doc_id", "text")
    val one = Sampling.chunk(doc.where($"doc_id" === 1), 8, 4).collect()
    assert(one.length == 1 && one.head.getAs[Long]("n_tokens") == 3L)
    val part = Sampling.chunk(doc.where($"doc_id" === 2), 2, 2)
      .orderBy("chunk_idx").collect()
    assert(part.map(_.getAs[Long]("chunk_start")).toSeq == Seq(0L, 2L, 4L))
    assert(part.forall(_.getAs[Long]("n_tokens") == 2L))
  }

  test("chunkIds mirrors chunk's start-window rule over id sequences " +
      "and carries the window payload verbatim") {
    // 10 ids, maxLen 8, stride 4: windows [0,8) and [4,10) — the
    // start-8 window is a pure suffix of [4,10) and must not emit
    val doc = Seq(
      (1L, (100 until 110).toArray),
      (2L, Array(7, 8, 9)),      // short: one ragged window
      (3L, Array.empty[Int])     // empty: no windows
    ).toDF("doc_id", "bpe_ids")
    val ch = Sampling.chunkIds(doc.where($"doc_id" === 1),
        maxLen = 8, stride = 4)
      .orderBy("chunk_idx").collect()
    assert(ch.map(_.getAs[Long]("chunk_start")).toSeq == Seq(0L, 4L))
    assert(ch.map(_.getAs[Long]("n_ids")).toSeq == Seq(8L, 6L))
    assert(ch.map(_.getAs[String]("ids_csv")).toSeq == Seq(
      (100 until 108).mkString(","), (104 until 110).mkString(",")))
    val rest = Sampling.chunkIds(doc.where($"doc_id" > 1), 8, 4)
      .collect()
    assert(rest.length == 1 && rest.head.getAs[Long]("doc_id") == 2L
      && rest.head.getAs[String]("ids_csv") == "7,8,9")
    // the subword face agrees with the word face on window GEOMETRY
    // when the id sequence is the word sequence's length
    val text = Seq((9L, (0 until 10).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    val words = Sampling.chunk(text, 8, 4).orderBy("chunk_idx")
      .collect().map(r => (r.getAs[Long]("chunk_start"),
        r.getAs[Long]("n_tokens"))).toSeq
    val ids = Sampling.chunkIds(Seq((9L, (0 until 10).toArray))
        .toDF("doc_id", "bpe_ids"), 8, 4).orderBy("chunk_idx")
      .collect().map(r => (r.getAs[Long]("chunk_start"),
        r.getAs[Long]("n_ids"))).toSeq
    assert(words == ids)
  }

  test("scale shape: dsirSelect joins raw against MATERIALIZED winners " +
      "(no second scoring pipeline in the broadcast build)") {
    val plan = Select.dsirSelect(docs, target, buckets = 64, k = 2)
      .queryExecution.executedPlan.toString
    // the join-back's build side is the collected <=k-row top list, so
    // the plan must hold exactly ONE gram pass: one scan of the raw
    // frame, zero Generate (explode) nodes — the scoring pipeline ran
    // eagerly and only its winners remain, as a LocalTableScan
    assert(plan.contains("LocalTableScan"),
      s"winners must be a local relation, not a live pipeline:\n$plan")
    assert(!plan.contains("Generate"),
      s"no gram explode belongs in the selection join-back:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("scale shape: dsir gram passes are pinned once per corpus and " +
      "the lambda table broadcasts") {
    val before = spark.sparkContext.getPersistentRDDs.size
    val (w, pin) = Select.dsirWeights(docs, target, buckets = 64)
    // exactly two pinned aggregations: one per corpus (raw + target) —
    // the witness that scoring never re-runs the explode+md5 stage
    // (AQE exchange reuse proved best-effort: the round-9 formulation
    // executed FIVE gram passes in its TakeOrdered plan)
    assert(spark.sparkContext.getPersistentRDDs.size - before == 2,
      s"expected 2 pinned gram aggs, got ${
        spark.sparkContext.getPersistentRDDs.size - before}")
    val plan = w.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "the <=buckets-row lambda table must broadcast against raw grams")
    assert(!plan.contains("Generate"),
      s"no gram explode may survive into the consuming plan:\n$plan")
    pin.release()
  }

  test("dsirWeightsPred/dsirSelectPred are row-identical to the " +
      "two-corpus face when target = raw.where(pred)") {
    val pred = $"source" === "tgt"
    val a = sorted(Select.dsirWeights(docs, target, buckets = 64))
    val b = sorted(Select.dsirWeightsPred(docs, pred, buckets = 64))
    assert(a == b, s"pred face diverged:\n  two-corpus: $a\n  pred: $b")
    // salt threads through identically
    val a2 = sorted(Select.dsirWeights(docs, target, buckets = 64,
      salt = "x"))
    val b2 = sorted(Select.dsirWeightsPred(docs, pred, buckets = 64,
      salt = "x"))
    assert(a2 == b2)
    val selA = Select.dsirSelect(docs, target, buckets = 64, k = 2)
      .orderBy("doc_id").collect().toSeq
    val selB = Select.dsirSelectPred(docs, pred, buckets = 64, k = 2)
      .orderBy("doc_id").collect().toSeq
    assert(selA == selB)
  }

  test("scale shape: dsirWeightsPred holds ONE pinned gram agg and " +
      "no Generate in the consuming plan") {
    val before = spark.sparkContext.getPersistentRDDs.size
    val (w, pin) = Select.dsirWeightsPred(docs,
      $"source" === "tgt", buckets = 64)
    // the target corpus funds NO second gram pass: one pin total
    // (vs the two-corpus face's two), and the lambda table is a
    // driver-derived local relation broadcast against it
    assert(spark.sparkContext.getPersistentRDDs.size - before == 1,
      s"expected 1 pinned gram agg, got ${
        spark.sparkContext.getPersistentRDDs.size - before}")
    val plan = w.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "the <=buckets-row lambda table must broadcast against raw grams")
    assert(!plan.contains("Generate"),
      s"no gram explode may survive into the consuming plan:\n$plan")
    pin.release()
  }

  test("scale shape: chunk is a map-only stage (no exchange)") {
    val p = Sampling.chunk(docs, maxLen = 8, stride = 4)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"),
      s"chunking must not shuffle:\n$p")
  }

  test("chunk md5 fingerprints the window content") {
    val doc = Seq((1L, "x y z")).toDF("doc_id", "text")
    val md = Sampling.chunk(doc, 2, 2).orderBy("chunk_idx")
      .select("chunk_md5").as[String].collect()
    assert(md.toSeq == Seq(
      java.security.MessageDigest.getInstance("MD5").digest("x y".getBytes)
        .map("%02x".format(_)).mkString,
      java.security.MessageDigest.getInstance("MD5").digest("z".getBytes)
        .map("%02x".format(_)).mkString))
  }
}
