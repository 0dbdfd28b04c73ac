package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.api.Dp3Service
import graft.model.EventsCatalog
import graft.TestSpark.timePruned

/** The facade mirroring the reference's endpoint set — one smoke per
  * verb over the sf0.001 events table. */
class Dp3ServiceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"
  private lazy val cat = new EventsCatalog(dir)
  private lazy val svc = new Dp3Service(cat, s => cat.messages(s))

  test("query endpoint") {
    assert(svc.query(spark, "from p3 click limit 5;").count() == 5)
  }

  test("explain query returns plan rows") {
    val df = svc.query(spark, "explain from p3 click;")
    assert(df.columns.toSeq == Seq("plan"))
  }

  test("skeleton query strips payload, keeps envelope and row sequence") {
    val full = svc.query(spark, "from p3 click limit 5;")
    val sk = svc.query(spark, "from p3 click limit 5;", skeleton = true)
    // payload columns gone, envelope intact
    assert(sk.columns.toSet == Set("producer", "topic", "time",
      "time_us", "seq"))
    assert(!sk.columns.exists(Set("value", "props", "k")))
    // identical row sequence to the full query's envelope
    val want = full.select("topic", "time", "seq").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val got = sk.select("topic", "time", "seq").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want && got.length == 5)
  }

  test("skeleton empties a binary data column in place") {
    import spark.implicits._
    val df = Seq(
      ("pX", "scan", 1L, 1L, Array[Byte](1, 2, 3)),
      ("pX", "scan", 2L, 2L, Array[Byte](4, 5)))
      .toDF("producer", "topic", "time", "seq", "data")
    val s2 = new Dp3Service(new graft.model.DataFrameCatalog(df),
      _ => df)
    val sk = s2.query(spark, "from pX scan;", skeleton = true)
    assert(sk.columns.contains("data"))
    val rows = sk.collect()
    assert(rows.length == 2)
    assert(rows.forall(_.getAs[Array[Byte]]("data").isEmpty))
  }

  test("ndjson serialization") {
    val rows = svc.queryNdjson(spark, "from p3 click limit 2;",
      Seq("value", "k")).collect()
    assert(rows.length == 2 && rows.head.startsWith("{\"topic\":"))
  }

  test("statrange honors granularity and errors below base") {
    val bins = svc.statRange(spark, 3600L * 1000000000L)
    assert(bins.count() > 0)
    // served width is the base tier (60 s ≤ 1 h < 3840 s)
    val w = bins.select((col("end_ns") - col("start_ns")).as("w"))
      .distinct().collect().map(_.getLong(0)).toSet
    assert(w == Set(60L * 1000000000L))
    assertThrows[IllegalArgumentException](
      svc.statRange(spark, 1000000000L))
  }

  test("statrange returns partially-overlapping boundary bins") {
    // a range straddling a bin boundary by half a bin on each side
    // must include BOTH boundary bins (reference overlap semantics)
    val full = svc.statRange(spark, 3600L * 1000000000L)
      .orderBy("start_ns").limit(2)
      .select("start_ns", "end_ns").collect()
    val (s0, e0) = (full(0).getLong(0), full(0).getLong(1))
    val e1 = full(1).getLong(1)
    val mid = svc.statRange(spark, 3600L * 1000000000L,
      startNs = (s0 + e0) / 2, endNs = e1 - 1)
    val starts = mid.select("start_ns").collect()
      .map(_.getLong(0)).toSet
    assert(starts.contains(s0), s"boundary bin $s0 missing: $starts")
  }

  test("statistics supports topic/time restriction") {
    val day = 86400L * 1000000000L
    val one = svc.statistics(spark, day, groupByProducer = false,
      topics = Seq("click"))
    assert(one.select("topic").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("click"))
  }

  test("truncation is visible to subsequent queries") {
    val fresh = new Dp3Service(cat, s => cat.messages(s))
    assert(fresh.query(spark, "from p5 error;").count() > 0)
    fresh.truncate(spark, "truncate p5 error now;")
    assert(fresh.query(spark, "from p5 error;").count() == 0)
    // other producers unaffected
    assert(fresh.query(spark, "from p6 error;").count() > 0)
  }

  test("statistics merges producers") {
    val merged = svc.statistics(spark, 86400L * 1000000000L,
      groupByProducer = false)
    assert(!merged.columns.contains("producer"))
    assert(merged.count() > 0)
  }

  test("available lists stats") {
    assert(svc.statisticsAvailable(spark, Seq("value"), Seq("props"))
      .count() > 0)
  }

  test("export merges topics in time order") {
    val e = svc.export(spark, Seq("click", "error")).limit(100)
      .select("time").collect().map(_.getLong(0))
    assert(e.sameElements(e.sorted))
  }

  test("store-backed truncation hides whole ingest versions from " +
      "data and stats") {
    import spark.implicits._
    import graft.stats.StatTiers
    val base = java.nio.file.Files.createTempDirectory("graft-trunc")
      .toString
    val v1 = Seq(("p0", "click", 10L * 1000000000L, 1L, 1.0),
      ("p0", "click", 20L * 1000000000L, 2L, 2.0))
      .toDF("producer", "topic", "time", "seq", "value")
    val v2 = Seq(("p0", "click", 70L * 1000000000L, 3L, 4.0))
      .toDF("producer", "topic", "time", "seq", "value")
    TestSpark.ingest(base, 1L, v1)
    Thread.sleep(5)
    val between = System.currentTimeMillis() * 1000000L
    Thread.sleep(5)
    TestSpark.ingest(base, 2L, v2)
    val cat = TestSpark.ingestedCatalog(base)
    val svc = new Dp3Service(cat, s => cat.messages(s),
      Some(graft.api.IngestStore(cat)))

    // a timestamp between the two ingests resolves to ingest version 1
    // via the control table (reference: sqlrootmap.go:372-404) — batch
    // 1 disappears from queries AND statistics, batch 2 survives
    svc.truncate(spark, s"truncate p0 click $between;")
    assert(svc.query(spark, "from p0 click;").count() == 1)
    val bins = svc.statRange(spark, 3600L * 1000000000L)
    assert(bins.agg(sum("msg_count")).head().getLong(0) == 1L)
    // `now` empties the table entirely
    svc.truncate(spark, "truncate p0 click now;")
    assert(svc.query(spark, "from p0 click;").count() == 0)
    assert(svc.statRange(spark, 3600L * 1000000000L).count() == 0)
  }

  test("statfilter-pruned scans compose as merge children with the " +
      "stream order intact") {
    import spark.implicits._
    import graft.stats.StatTiers
    val base = java.nio.file.Files.createTempDirectory("graft-statm")
      .toString
    val rows = Seq(
      ("p0", "click", 10L * 1000000000L, 1L, 1.0),
      ("p0", "view", 15L * 1000000000L, 2L, 9.0),
      ("p0", "click", 70L * 1000000000L, 3L, 4.0),
      ("p0", "view", 75L * 1000000000L, 4L, 9.0))
      .toDF("producer", "topic", "time", "seq", "value")
    TestSpark.ingest(base, 1L, rows)
    val cat = TestSpark.ingestedCatalog(base)
    val stored = new Dp3Service(cat, s => cat.messages(s),
      Some(graft.api.IngestStore(cat)))
    val bare = new Dp3Service(cat, s => cat.messages(s))
    // where binds to click only: the click scan prunes to its one
    // qualifying bucket; the view scan is untouched; the merged stream
    // keeps global time order
    val ql = "from p0 click, view where click.value > 3;"
    val got = stored.query(spark, ql)
      .select("topic", "time").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == bare.query(spark, ql)
      .select("topic", "time").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq)
    assert(got == Seq(("view", 15L * 1000000000L),
      ("click", 70L * 1000000000L), ("view", 75L * 1000000000L)))
    assert(timePruned(stored.query(spark, ql)))
  }

  test("store-backed statfilter prunes QL scans to qualifying buckets") {
    import spark.implicits._
    import graft.stats.StatTiers
    val base = java.nio.file.Files.createTempDirectory("graft-statf")
      .toString
    // bucket 0 (<=2.0) and bucket 1 (4.0): a value > 3 query must skip
    // bucket 0 via the stored min/max and still return bucket 1's row
    val v1 = Seq(("p0", "click", 10L * 1000000000L, 1L, 1.0),
      ("p0", "click", 20L * 1000000000L, 2L, 2.0))
      .toDF("producer", "topic", "time", "seq", "value")
    val v2 = Seq(("p0", "click", 70L * 1000000000L, 3L, 4.0))
      .toDF("producer", "topic", "time", "seq", "value")
    TestSpark.ingest(base, 1L, v1)
    TestSpark.ingest(base, 2L, v2)
    val cat = TestSpark.ingestedCatalog(base)
    val stored = new Dp3Service(cat, s => cat.messages(s),
      Some(graft.api.IngestStore(cat)))
    val bare = new Dp3Service(cat, s => cat.messages(s))

    val ql = "from p0 click where click.value > 3;"
    val pruned = stored.query(spark, ql)
    // results identical to the unpruned service — the statfilter only
    // proves absences (reference: statfilter skips chunks, the row
    // filter still runs, server/tree/iterator.go:173-199)
    assert(pruned.select("time", "seq").collect().toSeq
      == bare.query(spark, ql).select("time", "seq").collect().toSeq)
    assert(pruned.count() == 1)
    // and the plan really carries the bucket skip: the qualifying
    // buckets' time range pushed into the parquet scan
    assert(timePruned(pruned))
    // a query no stored stats can check is planned without the skip
    val untouched = stored.query(spark,
      "from p0 click where click.value != 3;")
    assert(!timePruned(untouched))
    assert(untouched.count() == 3)
  }

  test("statfilter pruning turns off when the tier does not cover " +
      "every ingest version") {
    import spark.implicits._
    import graft.stats.StatTiers
    val base = java.nio.file.Files.createTempDirectory("graft-statc")
      .toString
    // version 2 wrote data but NO per-field partials (field stats
    // enabled late, or an import that skipped them): its bucket is
    // absent from the tier,
    // and pruning against an under-covering tier would drop v2's rows
    // as "provably empty" — a false negative the reference never
    // produces (missing stats keep the chunk). The coverage witness
    // must detect the gap and keep the scan unpruned.
    val v1 = Seq(("p0", "click", 10L * 1000000000L, 1L, 1.0),
      ("p0", "click", 20L * 1000000000L, 2L, 2.0))
      .toDF("producer", "topic", "time", "seq", "value")
    val v2 = Seq(("p0", "click", 70L * 1000000000L, 3L, 4.0))
      .toDF("producer", "topic", "time", "seq", "value")
    TestSpark.ingest(base, 1L, v1, fieldStats = true)
    TestSpark.ingest(base, 2L, v2) // v2's partials missing on purpose
    val cat = TestSpark.ingestedCatalog(base, fieldStats = true)
    val stored = new Dp3Service(cat, s => cat.messages(s),
      Some(graft.api.IngestStore(cat)))

    // the only matching row (value 4.0) lives in the uncovered version:
    // it must surface, and the plan must NOT carry the bucket skip
    val got = stored.query(spark, "from p0 click where click.value > 3;")
    assert(got.count() == 1)
    assert(!timePruned(got))

    // truncating the uncovered version restores coverage (masks apply
    // to control and stats alike) — pruning re-engages on a fresh
    // service and stays exact
    val after = new Dp3Service(cat, s => cat.messages(s),
      Some(graft.api.IngestStore(cat)))
    after.truncate(spark, "truncate p0 click now;")
    assert(after.query(spark, "from p0 click where click.value > 3;")
      .count() == 0)
  }

  test("statrange plan is all-codegen and the store path matches the " +
      "raw path, quantiles included") {
    import spark.implicits._
    import graft.stats.StatTiers
    val base = java.nio.file.Files.createTempDirectory("graft-statq")
      .toString
    val rows = Seq(
      ("p0", "click", 10L * 1000000000L, 1L, 1.0),
      ("p0", "click", 20L * 1000000000L, 2L, 2.0),
      ("p0", "click", 30L * 1000000000L, 3L, Double.NaN),
      ("p0", "click", 70L * 1000000000L, 4L, 4.0),
      ("p0", "view", 15L * 1000000000L, 5L, -3.0))
      .toDF("producer", "topic", "time", "seq", "value")
    TestSpark.ingest(base, 1L, rows)
    val cat2 = TestSpark.ingestedCatalog(base)
    // over the driver budget: the store is served by the Spark face
    cat2.statRollupBudget = 0L
    val stored = new Dp3Service(cat2, s => cat2.messages(s),
      Some(graft.api.IngestStore(cat2)))
    val raw = new Dp3Service(cat2, s => cat2.messages(s))
    val gran = 3600L * 1000000000L
    val a = stored.statRange(spark, gran)
    val b = raw.statRange(spark, gran)
    // round-13 gate: the Spark serving faces never run the typed
    // aggregator (ObjectHashAggregate + kryo) or an interpreted
    // quantile UDF — both branches are codegen shapes
    for (df <- Seq(a, b, stored.statistics(spark, gran,
        groupByProducer = false))) {
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("HashAggregate"), p)
      assert(!p.contains("ObjectHashAggregate"), p)
      assert(!p.contains("ScalaUDF"), p)
    }
    // store-served records (rolled from map-face partials) are
    // identical to raw aggregation, quantile for quantile (NaN-safe
    // via boxed-Double Row equality; the NaN sample counts toward
    // msg_count but never wins a quantile)
    val got = a.orderBy("producer", "topic", "start_ns").collect().toSeq
    val want = b.orderBy("producer", "topic", "start_ns").collect().toSeq
    assert(got == want, s"store path diverged:\n$got\nvs\n$want")
    assert(got.nonEmpty)
    // and the quantiles agree with the map-face reference walk
    val mRow = StatTiers.base(rows.where(col("topic") === "click"
        && col("time") < 60L * 1000000000L), StatTiers.BaseWidthNs)
      .head()
    val m = Map(mRow.getMap[Int, Long](mRow.fieldIndex("sketch"))
      .toSeq: _*)
    val clickBin0 = got.find(r => r.getString(1) == "click"
      && r.getLong(2) == 0L).get
    val want50 = graft.stats.DDSketch.quantile(m, 0.5)
    val got50 = clickBin0.getDouble(clickBin0.fieldIndex("p50"))
    assert(got50 == want50, s"p50 $got50 vs $want50")
    assert(got.forall(r => !r.isNullAt(r.fieldIndex("p50"))))
  }

  test("statrange serves per-field records") {
    val bins = svc.statRangeFields(spark, 3600L * 1000000000L,
      numericFields = Seq("value", "k"), textFields = Seq("props"),
      topic = Some("click"))
    val fields = bins.select("field", "field_type").distinct()
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(fields == Set(("value", "numeric"), ("k", "numeric"),
      ("props", "text")))
    // numeric rows carry stats + sketch quantiles, text rows min/max
    val v = bins.where(col("field") === "value").limit(1).head()
    assert(!v.isNullAt(v.fieldIndex("num_mean"))
      && !v.isNullAt(v.fieldIndex("p50")))
    val p = bins.where(col("field") === "props").limit(1).head()
    assert(!p.isNullAt(p.fieldIndex("text_min"))
      && p.isNullAt(p.fieldIndex("num_count")))
  }

  test("statrange per-field serves TEXT-ONLY field sets with null " +
      "quantiles (round-13 regression: the quantile join must not " +
      "demand numeric fields)") {
    val bins = svc.statRangeFields(spark, 3600L * 1000000000L,
      numericFields = Nil, textFields = Seq("props"),
      topic = Some("click"))
    val rows = bins.limit(5).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[String]("field_type") == "text")
      assert(!r.isNullAt(r.fieldIndex("text_min")))
      assert(r.isNullAt(r.fieldIndex("p50"))
        && r.isNullAt(r.fieldIndex("p95")))
    }
  }

  test("catalog listings: topics, producers, tables") {
    val ts = svc.topics(spark).collect().map(_.getString(0)).toSeq
    assert(ts.contains("click") && ts.contains("error"))
    assert(ts == ts.sorted)
    val ps = svc.producersList(spark).collect().map(_.getString(0))
    assert(ps.contains("p3") && ps.length >= 10)
    val tbl = svc.tables(spark, producer = Some("p3"),
      topic = Some("click")).collect()
    assert(tbl.length == 1)
    assert(tbl.head.getAs[Long]("msg_count") > 0)
    assert(tbl.head.getAs[Long]("max_time")
      >= tbl.head.getAs[Long]("min_time"))
  }

  test("delete verb masks a time range from queries and stats") {
    val fresh = new Dp3Service(cat, s => cat.messages(s))
    val all = fresh.query(spark, "from p3 click;")
    val n0 = all.count()
    val bounds = all.agg(org.apache.spark.sql.functions.min("time"),
      org.apache.spark.sql.functions.max("time")).head()
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val mid = lo + (hi - lo) / 2
    fresh.delete("p3", "click", lo, mid)
    val n1 = fresh.query(spark, "from p3 click;").count()
    assert(n1 < n0 && n1 > 0)
    // deleted range is gone from the data actually returned
    val minLeft = fresh.query(spark, "from p3 click;")
      .agg(org.apache.spark.sql.functions.min("time")).head().getLong(0)
    assert(minLeft >= mid)
    // other producers untouched
    assert(fresh.query(spark, "from p5 click;").count() > 0)
    // reference-style validation
    assertThrows[IllegalArgumentException](
      fresh.delete("", "click", 0L, 1L))
    assertThrows[IllegalArgumentException](
      fresh.delete("p3", "click", 5L, 5L))
  }

  test("truncate statement masks data") {
    val before = cat.messages(spark)
      .where(col("producer") === "p3" && col("topic") === "click").count()
    val after = svc.truncate(spark, "truncate p3 click now;")
      .where(col("producer") === "p3" && col("topic") === "click").count()
    assert(before > 0 && after == 0)
  }

  test("a warm service plans QL without redundant Spark jobs") {
    val (_, cat) = TestSpark.smallStore("graft-jobs")
    // over the driver budget: the statfilter runs its Spark face
    cat.statFilterBudget = 0L
    val svc = new Dp3Service(cat, s => cat.messages(s),
      Some(graft.api.IngestStore(cat)))
    val sc = spark.sparkContext
    val ql = "from p0 click where click.value > 3;"
    // warm: coverage gaps and the producer list are cached from here
    assert(svc.query(spark, ql).count() == 1)
    assert(svc.query(spark, "from * click;").count() == 3)

    // a prunable where adds at most the one qualifying-bucket collect —
    // no schema read, no coverage job, no second tier read, no
    // broadcast
    val (_, bare) = JobLog.record(sc)(svc.query(spark, "from p0 click;"))
    val (df, planJobs) = JobLog.record(sc)(svc.query(spark, ql))
    val descs = planJobs.map(_.desc)
    assert(planJobs.size - bare.size <= 2, descs)
    assert(descs.count(_ == "plan:statfilter") == 1, descs)
    assert(!descs.contains("plan:coverage"), descs)
    assert(timePruned(df))
    // one producer: its index is 0, so no producer-index join
    assert(!df.queryExecution.executedPlan.toString
      .contains("BroadcastExchange"))
    assert(df.collect().length == 1)

    // a repeated `from *` plans with exactly the jobs of a query naming
    // its producer: the control-table lookup is cached
    val (star, starJobs) =
      JobLog.record(sc)(svc.query(spark, "from * click;"))
    assert(starJobs.size == bare.size, starJobs.map(_.desc))
    assert(star.count() == 3)
    // several producers keep the broadcast index join (O(1) plan)
    assert(svc.query(spark, "from p0, p1 click;").queryExecution
      .executedPlan.toString.contains("BroadcastExchange"))
  }

  test("the statfilter tier is resident: a warm pruned query launches " +
      "no plan:statfilter job, the first after an append one " +
      "plan:statcache load, and it answers what the Spark face does") {
    import spark.implicits._
    val S = 1000000000L
    val (base, cat) = TestSpark.smallStore("graft-resident")
    val spk = TestSpark.ingestedCatalog(base, fieldStats = true)
    spk.statFilterBudget = 0L
    def service(c: graft.model.IngestedCatalog) =
      new Dp3Service(c, s => c.messages(s), Some(graft.api.IngestStore(c)))
    val (svc, fallback) = (service(cat), service(spk))
    val sc = spark.sparkContext
    val qls = Seq("from p0 click where click.value > 3;",
      "from p0 click where click.value <= 2;",
      "from p0 click where click.value > 9;")
    def answer(s: Dp3Service, ql: String) = s.query(spark, ql)
      .select("time", "seq").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSeq
    val (_, cold) = JobLog.record(sc)(svc.query(spark, qls.head))
    assert(cold.map(_.desc) == Seq("plan:statcache"))
    for (ql <- qls) {
      // planning a warm query launches no job at all
      val (df, jobs) = JobLog.record(sc)(svc.query(spark, ql))
      assert(jobs.isEmpty, jobs.map(_.desc))
      assert(timePruned(df) == timePruned(fallback.query(spark, ql)), ql)
      assert(answer(svc, ql) == answer(fallback, ql), ql)
    }
    assert(answer(svc, qls.head) == Seq((70L * S, 3L)))
    assert(timePruned(svc.query(spark, qls.head)))
    val (_, spkJobs) = JobLog.record(sc)(fallback.query(spark, qls.head))
    assert(spkJobs.map(_.desc).count(_ == "plan:statfilter") == 1)
    // an append commits a new manifest: the next query loads it once
    TestSpark.ingest(base, 2L, Seq(("p0", "click", 130L * S, 4L, 5.0))
      .toDF("producer", "topic", "time", "seq", "value"), fieldStats = true)
    val (_, loads) = JobLog.record(sc)(svc.query(spark, qls.head))
    assert(loads.map(_.desc) == Seq("plan:statcache"))
    val (_, warm) = JobLog.record(sc)(svc.query(spark, qls.head))
    assert(warm.isEmpty, warm.map(_.desc))
    assert(answer(svc, qls.head) == Seq((70L * S, 3L), (130L * S, 4L)))
    assert(answer(svc, qls.head) == answer(fallback, qls.head))
  }

  test("the cached coverage witness follows appends and truncation on " +
      "one service") {
    import spark.implicits._
    val (base, cat) = TestSpark.smallStore("graft-covinv")
    val svc = new Dp3Service(cat, s => cat.messages(s),
      Some(graft.api.IngestStore(cat)))
    val ql = "from p0, p1 click where click.value > 3;"
    def times(df: org.apache.spark.sql.DataFrame) =
      df.select("time").collect().map(_.getLong(0)).toSeq
    // full coverage: pruning engaged
    val q1 = svc.query(spark, ql)
    assert(timePruned(q1))
    assert(times(q1) == Seq(70L * 1000000000L))
    // version 2 lands data and control rows for p1 but no per-field
    // partials:
    // the same service must see the gap and stop pruning
    TestSpark.ingest(base, 2L, Seq(("p1", "click", 130L * 1000000000L,
      4L, 5.0)).toDF("producer", "topic", "time", "seq", "value"))
    val q2 = svc.query(spark, ql)
    assert(!timePruned(q2))
    assert(times(q2) == Seq(70L * 1000000000L, 130L * 1000000000L))
    // truncating the uncovered version hides the gap: pruning returns
    svc.truncate(spark, "truncate p1 click now;")
    val q3 = svc.query(spark, ql)
    assert(timePruned(q3))
    assert(times(q3) == Seq(70L * 1000000000L))
  }

  test("a warm QL scan on an ingested store launches one job, and the " +
      "coverage check on a store with no gap version none") {
    val (_, cat) = TestSpark.smallStore("graft-scanjobs")
    val sc = spark.sparkContext
    def service = new Dp3Service(cat, s => cat.messages(s),
      Some(graft.api.IngestStore(cat)))
    val svc = service
    val ql = "from p0 click limit 2;"
    assert(svc.query(spark, ql).collect().length == 2)
    // no schema-inference or leaf-listing job: the manifest names the
    // files and their schema
    val (rows, jobs) = JobLog.record(sc)(svc.query(spark, ql).collect())
    assert(rows.length == 2)
    assert(jobs.size == 1, jobs.map(_.desc))
    // a cold service over a cold cache answers coverage from the
    // manifest header
    graft.util.ControlCache.clear()
    val (df, planJobs) = JobLog.record(sc)(service.query(spark,
      "from p0 click where click.value > 3;"))
    assert(!planJobs.map(_.desc).contains("plan:coverage"),
      planJobs.map(_.desc))
    assert(timePruned(df))
  }

  test("reads overlapping optimize and appendVersion at every protocol " +
      "point see the pre- or the post-verb store, or throw") {
    import spark.implicits._
    import scala.util.Try
    import graft.streaming.Ingest
    // two topics, so the store stays readable while one partition is
    // rewritten
    def batch(v: Int) = (0 until 4).map { i =>
      ("p0", if (i % 2 == 0) "click" else "view",
        (v * 100 + i * 20).toLong * 1000000000L, (v * 10 + i).toLong,
        (v + i).toDouble)
    }.toDF("producer", "topic", "time", "seq", "value")
      .withColumn("day", expr("time div 86400000000000"))
    def append(base: String, v: Int): Unit = Ingest.appendVersion(batch(v),
      v.toLong, s"$base/data", s"$base/stats", Some(s"$base/control"))
    def answer(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    def check(verb: String, run: String => Unit): Unit = {
      val base = java.nio.file.Files.createTempDirectory(
        s"graft-overlap-$verb").toString
      (1 to 3).foreach(append(base, _))
      val cat = new graft.model.IngestedCatalog(s"$base/data",
        s"$base/stats", s"$base/control")
      val svc = new Dp3Service(cat, s => cat.messages(s),
        Some(graft.api.IngestStore(cat)))
      // the stat reads are served from the driver-resident partials
      def reads() = {
        val stats = Seq(svc.statRange(spark, 3600L * 1000000000L),
          svc.statistics(spark, 3600L * 1000000000L,
            groupByProducer = true))
        stats.foreach(d => assert(d.queryExecution.optimizedPlan
          .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical
            .LocalRelation]))
        // the pruned query reads the resident statfilter tier
        Seq(svc.query(spark, "from p0 click;"),
          svc.query(spark, "from p0 click where click.value > 2;")) ++ stats
      }
      val pre = reads().map(answer)
      val planned = reads()
      assert(timePruned(planned(1)))
      val seen = scala.collection.mutable.ArrayBuffer[
        (String, Seq[Try[Seq[String]]], Seq[Try[Seq[String]]])]()
      graft.util.Maint.crashHook = (v, p) => if (v == verb) {
        seen += ((p, Try(reads()).fold(e => Seq.fill(4)(
          scala.util.Failure(e)), _.map(d => Try(answer(d)))),
          planned.map(d => Try(answer(d)))))
        ()
      }
      try run(base) finally graft.util.Maint.crashHook = (_, _) => ()
      val post = reads().map(answer)
      assert(seen.nonEmpty, s"$verb passed no protocol point")
      for ((p, fresh, old) <- seen; got <- Seq(fresh, old);
           (t, i) <- got.zipWithIndex)
        assert(t.fold(_ => true, a => a == pre(i) || a == post(i)),
          s"$verb: read $i at '$p' saw neither the pre- nor the " +
            "post-verb store")
    }
    check("optimize", b => {
      Ingest.optimize(spark, s"$b/data", maxFilesPerPartition = 1); () })
    check("appendVersion", append(_, 4))
  }

  test("a statfilter tier load that overlaps a commit keeps no rows of " +
      "the older manifest: the next pruned query sees the committed " +
      "version") {
    import spark.implicits._
    val S = 1000000000L
    spark.sparkContext.hadoopConfiguration.set("fs.hooked.impl",
      classOf[HookedLocalFs].getName)
    val base = "hooked://" +
      java.nio.file.Files.createTempDirectory("graft-tier-race")
    def version(v: Long, sec: Long, x: Double): Unit =
      TestSpark.ingest(base, v, Seq(("p0", "click", sec * S, v, x))
        .toDF("producer", "topic", "time", "seq", "value"),
        fieldStats = true)
    version(1L, 10L, 1.0)
    val cat = TestSpark.ingestedCatalog(base, fieldStats = true)
    val svc = new Dp3Service(cat, s => cat.messages(s),
      Some(graft.api.IngestStore(cat)))
    val ql = "from p0 click where click.value > 3;"
    def times() = svc.query(spark, ql).select("time").collect()
      .map(_.getLong(0)).toSeq
    // warm: version 1's tier is resident, and nothing qualifies
    assert(times().isEmpty)
    // version 2 commits between the manifest the tier call reads first
    // (the first listing of the manifest directory) and the
    // fingerprint its cache takes (the second)
    HookedLocalFs.arm("_manifest", 2)(version(2L, 130L, 5.0))
    val fired =
      try { cat.statFilterTier(spark); HookedLocalFs.fired }
      finally HookedLocalFs.disarm()
    assert(fired, "the commit did not overlap the tier load")
    assert(times() == Seq(130L * S))
    assert(timePruned(svc.query(spark, ql)))
  }
}
