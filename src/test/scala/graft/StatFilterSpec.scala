package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ql._
import graft.stats.{StatFilter, StatTiers, Trigram}

/** Statistics-filter pruning contract, ported from the reference's
  * executor statfilter tests (server/executor/statfilter_test.go:
  * TestExpressionStatFilters 108-178, TestStringStatFilters 180-249,
  * TestFloat/IntegerStatFilters 255-330) plus the trigram signature
  * itself (server/util/trigram/trigram_test.go) and the end-to-end
  * no-false-negative property the whole mechanism rests on.
  */
class StatFilterSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Parse a QL where clause the way the reference's extractWhere does
    * (statfilter_test.go:91-107): compile the query, take the scan's
    * attached predicate. Single-alias queries keep the full Expr. */
  private def whereOf(query: String): Expr =
    Parser.parse(query) match {
      case q: Query => q.where.get
      case other    => fail(s"not a query: $other")
    }

  /** One tier "child" row per element: columns `field__min/max` from
    * the (lo, hi) pairs — the newChild fixture (statfilter_test.go:24-88). */
  private def numChildren(field: String, ranges: Seq[(Double, Double)])
      : DataFrame =
    ranges.toDF("_lo", "_hi")
      .select(col("_lo").as(s"${field}__min"), col("_hi").as(s"${field}__max"))

  private def evalFilter(tier: DataFrame, where: Expr): Seq[Boolean] =
    tier.select(StatFilter.compile(tier, where).as("k")).collect()
      .map(_.getBoolean(0)).toSeq

  // --- TestExpressionStatFilters (statfilter_test.go:108-178) ----------

  test("basic filter") {
    val tier = numChildren("int8", Seq((0, 5), (5, 10)))
    assert(evalFilter(tier,
      whereOf("from my-robot /topic where /topic.int8 > 5;"))
      == Seq(false, true))
  }

  test("or condition on one column") {
    val tier = numChildren("int8", Seq((0, 5), (2, 5)))
    assert(evalFilter(tier, whereOf(
      "from my-robot /topic where /topic.int8 > 5 or /topic.int8 < 2;"))
      == Seq(true, false))
  }

  test("or condition on two columns") {
    val tier = Seq((0.0, 5.0, 0.0, 5.0), (5.0, 10.0, 10.0, 20.0))
      .toDF("int8__min", "int8__max", "int16__min", "int16__max")
    assert(evalFilter(tier, whereOf(
      "from my-robot /topic where /topic.int8 > 5 or /topic.int16 < 2;"))
      == Seq(true, true))
  }

  test("and condition on two columns") {
    val tier = Seq((0.0, 5.0, 0.0, 5.0), (5.0, 10.0, 0.0, 2.0))
      .toDF("int8__min", "int8__max", "int16__min", "int16__max")
    assert(evalFilter(tier, whereOf(
      "from my-robot /topic where /topic.int8 > 5 and /topic.int16 < 2;"))
      == Seq(false, true))
  }

  // --- TestStringStatFilters (statfilter_test.go:180-249) --------------

  /** Children [a,e] [e,i] [i,o], signature over min+max only — exactly
    * the reference's newChild string fixture. */
  private lazy val strChildren: DataFrame =
    Seq(("a", "e"), ("e", "i"), ("i", "o"))
      .map { case (lo, hi) =>
        val m = Trigram.masksOfString(lo).zip(Trigram.masksOfString(hi))
          .map { case (a, b) => a | b }
        (lo, hi, m(0), m(1))
      }
      .toDF("s__tmin", "s__tmax", "s__trgm0", "s__trgm1")

  private val strCases = Seq(
    ("<", "e", Seq(true, false, false)),
    ("<=", "e", Seq(true, true, false)),
    (">", "e", Seq(false, true, true)),
    (">=", "e", Seq(true, true, true)),
    ("=", "e", Seq(true, true, false)),
    // "equal can exclude based on trigram": 'b' is inside [a,e] by
    // min/max but its trigrams were never observed
    ("=", "b", Seq(false, false, false)))

  for ((op, v, expected) <- strCases)
    test(s"string stat filter: $op '$v'") {
      assert(evalFilter(strChildren,
        whereOf(s"from my-robot /topic where /topic.s $op '$v';"))
        == expected)
    }

  // --- TestFloat/IntegerStatFilters (statfilter_test.go:255-330) -------

  private val numCases = Seq(
    ("<", Seq(true, false, false)),
    ("<=", Seq(true, true, false)),
    (">", Seq(false, true, true)),
    (">=", Seq(true, true, true)),
    ("=", Seq(true, true, false)))

  for ((op, expected) <- numCases) {
    test(s"float stat filter: $op 5.0") {
      val tier = numChildren("f64", Seq((0, 5), (5, 10), (10, 20)))
      assert(evalFilter(tier,
        whereOf(s"from my-robot /topic where /topic.f64 $op 5.0;"))
        == expected)
    }
    test(s"integer stat filter: $op 5") {
      val tier = numChildren("i32", Seq((0, 5), (5, 10), (10, 20)))
      assert(evalFilter(tier,
        whereOf(s"from my-robot /topic where /topic.i32 $op 5;"))
        == expected)
    }
  }

  // --- reference passthroughs and missing stats ------------------------

  test("!= and ~ pass through; unknown fields keep") {
    val tier = numChildren("i32", Seq((0, 5)))
    assert(evalFilter(tier,
      whereOf("from my-robot /topic where /topic.i32 != 99;")) == Seq(true))
    assert(evalFilter(strChildren,
      whereOf("from my-robot /topic where /topic.s ~ 'zzz';"))
      == Seq(true, true, true))
    // field with no stats columns → ErrNoStatsFound → keep
    assert(evalFilter(tier,
      whereOf("from my-robot /topic where /topic.other > 5;")) == Seq(true))
  }

  test("null per-bucket stats keep the bucket") {
    val tier = Seq((Option.empty[Double], Option.empty[Double]))
      .toDF("i32__min", "i32__max")
    assert(evalFilter(tier,
      whereOf("from my-robot /topic where /topic.i32 = 5;")) == Seq(true))
  }

  // --- trigram signature (trigram_test.go + cross-engine identity) -----

  test("Spark bitsOf equals driver-side bitsOfString") {
    val samples = Seq("{\"k\": 42}", "a", "", "hello world", "the quick brown fox")
    val got = samples.toDF("t").select(Trigram.bitsOf(col("t")))
      .collect().map(_.getSeq[Int](0).toSeq)
    samples.zip(got).foreach { case (s, sparkBits) =>
      assert(Trigram.bitsOfString(s) == sparkBits, s"for '$s'")
    }
  }

  test("signature containment: superset strings contain, disjoint don't") {
    // trigram_test.go:27-55 contract: sig(a+b) contains sig(a); a
    // signature does not contain trigrams never added
    val ab = Trigram.masksOfString("hello")
      .zip(Trigram.masksOfString("world")).map { case (a, b) => a | b }
    def contains(sig: Seq[Long], q: Seq[Long]): Boolean =
      sig.zip(q).forall { case (s, m) => (s & m) == m }
    assert(contains(ab, Trigram.masksOfString("hello")))
    assert(!contains(ab, Trigram.masksOfString("sphinx")))
  }

  test("native masksOf == builtin maskOf fold == driver-side " +
      "masksOfString") {
    val samples = Seq("{\"k\": 42}", "a", "", "hello world",
      "punctu-ation! & unicode: déjà vu")
    val builtin = samples.toDF("t")
      .select(Trigram.maskOf(Trigram.bitsOf(col("t")), 0).as("w0"),
        Trigram.maskOf(Trigram.bitsOf(col("t")), 1).as("w1"))
      .collect().map(r => Seq(r.getLong(0), r.getLong(1)))
    val native = samples.toDF("t")
      .select(Trigram.masksOf(col("t")).as("m"))
      .collect().map(_.getSeq[Long](0).toSeq)
    samples.indices.foreach { i =>
      assert(Trigram.masksOfString(samples(i)) == builtin(i),
        s"builtin for '${samples(i)}'")
      assert(builtin(i) == native(i), s"native for '${samples(i)}'")
    }
    // null propagates as null through the native expression
    val n = Seq(Option.empty[String]).toDF("t")
      .select(Trigram.masksOf(col("t"))).collect().head
    assert(n.isNullAt(0))
  }

  test("empty text contributes no trigrams") {
    assert(Trigram.bitsOfString("") == Seq.empty)
    val got = Seq("").toDF("t").select(Trigram.bitsOf(col("t")))
      .collect().head.getSeq[Int](0)
    assert(got.isEmpty)
  }

  // --- end-to-end: tier from real data, prune scan, no false negatives -

  private lazy val msgs: DataFrame =
    new graft.model.EventsCatalog("/root/testdata/sf0.001")
      .messages(spark)
      .select("producer", "topic", "time", "seq", "value", "props")
  private val W = 3600L * 1000000000L

  test("pruneScan: exact result, real pruning, no false negatives") {
    val tier = StatTiers.baseFields(msgs, W, Seq("value"), Seq("props"))
      .persist()
    try {
      val where = Cmp("/t", "props", Eq, StrLit("{\"k\": 42}"))
      // every bucket that truly contains the value survives the filter
      val withVal = msgs.where(col("props") === "{\"k\": 42}")
        .select(col("producer"), col("topic"),
          expr(s"time div ${W}L").as("bucket")).distinct()
      val surviving = StatFilter.qualifyingBuckets(tier, where)
      assert(withVal.join(surviving,
        Seq("producer", "topic", "bucket"), "left_anti").count() == 0)
      // the pruned scan retains every matching row and drops most others
      val pruned = StatFilter.pruneScan(msgs, tier, where, W)
      val exact = msgs.where(col("props") === "{\"k\": 42}").count()
      assert(pruned.where(col("props") === "{\"k\": 42}").count() == exact)
      assert(pruned.count() < msgs.count() / 10,
        "statfilter should prune the vast majority of buckets")
    } finally { tier.unpersist(); () }
  }

  test("pruned scan pushes qualifying time ranges into the parquet " +
      "reader") {
    // the statfilter's chunk-skip analogue is a PUSHED row-group
    // filter, not just a post-scan predicate — pin it at plan level
    val dir = java.nio.file.Files.createTempDirectory("graft-sfpush")
      .toString + "/msgs"
    msgs.write.parquet(dir)
    val scan = spark.read.parquet(dir)
    val tier = StatTiers.baseFields(scan, W, Seq("value"), Seq("props"))
    val where = Cmp("/t", "props", Eq, StrLit("{\"k\": 42}"))
    val pruned = StatFilter.pruneScan(scan, tier, where, W)
    val plan = pruned.queryExecution.executedPlan.toString
    val pushed = plan.linesIterator
      .filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("GreaterThanOrEqual(time")
      || pushed.contains("Or(And(GreaterThanOrEqual(time"), plan)
    // the ranges are the whole prune: no join re-reads the tier
    assert(!plan.contains("LeftSemi") && !plan.contains("BroadcastExchange"),
      plan)
  }

  test("scattered matches skip pruning entirely (selectivity gate)") {
    // a predicate whose qualifying buckets spread across the timeline
    // cannot reduce scan I/O: pruneScan must hand the scan back
    // UNCHANGED (no semi-join, no range predicate) instead of adding
    // plan weight — measured 0.10 s raw vs 0.58 s unconditionally
    // pruned at sf0.1
    val tier = StatTiers.baseFields(msgs, W, Seq("value"), Seq("props"))
    // value > -1 qualifies every bucket -> ranges ≈ whole timeline
    val everything = Cmp("/t", "value", Gt, FloatLit(-1.0))
    val pruned = StatFilter.pruneScan(msgs, tier, everything, W,
      maxRanges = 4)
    assert(pruned.queryExecution.analyzed.sameResult(
      msgs.queryExecution.analyzed))
  }

  test("property: no false negatives on random corpora and probes") {
    // the contract everything rests on: a bucket containing a row that
    // satisfies the predicate must survive the filter — for random
    // words, random bucket layouts, and every checkable operator
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val params = Gen.Parameters.default
    var seed = Seed(20260818L)
    val word = Gen.oneOf("ab", "cd", "ef", "gh", "ij", "kl")
    val genCase = for {
      n <- Gen.choose(4, 24)
      rows <- Gen.listOfN(n, for {
        b <- Gen.choose(0L, 3L) // bucket
        w <- word
        v <- Gen.choose(-5.0, 5.0)
      } yield (b, w, v))
      probe <- word
      op <- Gen.oneOf(Eq, Lt, Gt, Lte, Gte)
    } yield (rows, probe, op)
    for (c <- 1 to 30) {
      val (rows, probe, op) = genCase.pureApply(params, seed)
      seed = seed.next
      val df = rows.zipWithIndex.map { case ((b, w, v), i) =>
        ("p", "t", b * W + i, i.toLong, v, w)
      }.toDF("producer", "topic", "time", "seq", "value", "props")
      val tier = StatTiers.baseFields(df, W, Seq("value"), Seq("props"))
      val pred = Cmp("/t", "props", op, StrLit(probe))
      val surviving = StatFilter.qualifyingBuckets(tier, pred)
        .select("bucket").collect().map(_.getLong(0)).toSet
      val matching = rows.filter { case (_, w, _) =>
        op match {
          case Eq => w == probe; case Lt => w < probe
          case Gt => w > probe; case Lte => w <= probe
          case Gte => w >= probe; case _ => false
        }
      }.map(_._1).toSet
      assert(matching.subsetOf(surviving),
        s"case $c: op=$op probe=$probe rows=$rows " +
          s"missing=${matching.diff(surviving)}")
    }
  }

  test("rollup signature equals direct coarse signature") {
    // associativity: OR-merging 60 s signatures into 1 h equals
    // computing the 1 h signature from raw text
    val fine = StatTiers.baseFields(msgs, W / 60, Seq("value"), Seq("props"))
    val rolled = StatTiers.rollupFields(fine, 60L)
      .select(col("producer"), col("topic"), col("bucket"),
        col("props__trgm0").as("r0"), col("props__trgm1").as("r1"))
    val direct = StatTiers.baseFields(msgs, W, Seq("value"), Seq("props"))
      .select(col("producer"), col("topic"), col("bucket"),
        col("props__trgm0").as("d0"), col("props__trgm1").as("d1"))
    val diff = rolled.join(direct, Seq("producer", "topic", "bucket"))
      .where(col("r0") =!= col("d0") || col("r1") =!= col("d1")).count()
    assert(diff == 0)
  }
}
