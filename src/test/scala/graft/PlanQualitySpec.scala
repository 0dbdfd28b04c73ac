package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.export.Export
import graft.model.EventsCatalog
import graft.plan.Planner
import graft.stats.StatTiers
import graft.streaming.Lifecycle

/** Physical-plan quality gates: the properties that make these
  * operators survive a 100 TB scale-up must be visible in the plan —
  * filters pushed into the parquet scan, columns pruned out of
  * ReadSchema, small dimensions broadcast. If a refactor breaks one of
  * these, correctness tests stay green but the engine dies at scale;
  * this suite fails instead.
  */
class PlanQualitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"
  private lazy val planner = new Planner(new EventsCatalog(sfDir))

  private def plan(q: String): String =
    planner.plan(spark, q).queryExecution.executedPlan.toString

  test("QL scan pushes topic/producer/time filters into parquet") {
    val p = plan("from p3 between 1704672000000000000 and " +
      "1705276800000000000 click;")
    assert(p.contains("PushedFilters"))
    assert(p.contains("EqualTo(event_type,click)"), p)
    assert(p.contains("GreaterThanOrEqual(ts,"), p)
  }

  test("where-clause predicates reach the scan") {
    val p = plan("from p1 purchase where purchase.value > 150.0;")
    assert(p.contains("GreaterThan(value,150.0)"), p)
  }

  test("projection prunes unread columns out of ReadSchema") {
    val df = planner.plan(spark,
      "from p1 click;").select("time", "seq")
    val p = df.queryExecution.executedPlan.toString
    val readSchema = p.linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("props"), readSchema)
    assert(!readSchema.contains("value"), readSchema)
  }

  test("analytics joins broadcast the small dimensions") {
    val p = SparkEntry.queries("q5_region")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("grouped top-k ranks reduced group rows, never raw messages") {
    val p = SparkEntry.queries("q_stats_topk")(spark, sfDir)
      .queryExecution.executedPlan.toString
    // the window sits over the (topic, bucket, k) aggregate: counts
    // partial-combine map-side (two HashAggregate phases), and the
    // only rows that reach the rank are reduced group rows
    assert(p.contains("Window"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    val winIdx = p.indexOf("Window")
    assert(p.indexOf("HashAggregate", winIdx) >= 0,
      "window must consume the aggregate, not the scan: " + p)
  }

  test("distinct-count statistics partial-aggregate map-side") {
    val p = SparkEntry.queries("q_stats_distinct")(spark, sfDir)
      .queryExecution.executedPlan.toString
    // exact count_distinct plans as expand + two-phase aggregate;
    // no more than the distinct's own exchanges, nothing collected
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("semantic dedup pair stage joins on the cell key, not a cross " +
      "product") {
    val emb = graft.model.Tables.load(spark, sfDir, "embeddings")
    val p = graft.pipeline.Similarity.cosineNearDupPairs(emb,
        threshold = 0.3, cellCol = Some("label"))
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    val pc = graft.pipeline.Similarity.crossCosinePairs(
        emb.where(col("vec_id") % 2 === 1),
        emb.where(col("vec_id") % 2 === 0),
        threshold = 0.3, cellCol = Some("label"))
      .queryExecution.executedPlan.toString
    assert(!pc.contains("CartesianProduct"), pc)
    assert(!pc.contains("BroadcastNestedLoopJoin"), pc)
  }

  test("bench forcing keeps every pipeline intact — no registry " +
      "entry loses a file scan under Bench.forced") {
    // A bare count() is not a valid forcing: column pruning drops
    // every non-key column, Catalyst join-eliminates left joins on
    // unique keys (and constant-folds groupless aggregates), and the
    // bench silently measures a plan WITHOUT its own pipeline — the
    // r10 audit caught t_dsir this way, and this gate then found
    // t_lm_score / t_decontam / t_semantic_decontam losing their
    // score-attachment subtrees too. Bench.forced references every
    // output column through a hash, which makes elimination
    // impossible; this gate holds that invariant for ALL entries.
    //
    // FILE-backed leaves only: pinned/collected subtrees (LogicalRDD
    // / LocalRelation leaves) ran EAGERLY at frame construction, so
    // the bench times them regardless — eliminating one downstream is
    // benign. Losing a parquet scan means pipeline work the bench
    // claims to measure never runs.
    def fileLeaves(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collectLeaves().count {
        case _: org.apache.spark.sql.execution.datasources
          .LogicalRelation => true
        case _ => false
      }
    val pruned = scala.collection.mutable.SortedSet[String]()
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val df = fn(spark, sfDir)
      val full = fileLeaves(df)
      val forced = fileLeaves(Bench.forced(df))
      if (forced < full) pruned += s"$name ($full->$forced)"
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    assert(pruned.isEmpty,
      s"bench forcing optimizes pipelines away: ${pruned.mkString(",")}")
  }

  test("pinned pipelines scan their source once per genuine pass, " +
      "not once per consumer") {
    // the round-10 audit found multi-consumer subtrees silently
    // re-executing (SRP signatures 4x, PQ mu-rows 4x, bloom batch 8
    // source scans) because AQE exchange reuse never fired; these
    // gates hold the fixed shapes. Counts are FileScan occurrences of
    // the source file in the final plan — pinned/collected subtrees
    // ran eagerly and appear as cached-RDD / local leaves instead.
    def scans(q: String, file: String): Int = {
      val p = SparkEntry.queries(q)(spark, sfDir)
        .queryExecution.executedPlan.toString
      p.linesIterator.count(l => l.contains("FileScan")
        && l.contains(file))
    }
    // srp: pinned signatures; embeddings re-read only for the exact
    // cosine filter's two norm sides
    assert(scans("d_srp_neardup", "embeddings.parquet") <= 2)
    // pq: codebook collected (control-plane); mu-rows re-derived only
    // for encode + the query LUT (pushed-down to the query ids)
    assert(scans("s_topk_pq", "embeddings.parquet") <= 2)
    // bloom dedup: flagged batch pinned — the tier build and the
    // clean/confirmed split must not multiply source scans
    assert(scans("d_bloom_dedup", "documents.parquet") <= 2)
    // jaccard family (round-11 array-granularity pin): the tokenize+
    // shingle pipeline runs once into the pin, so the final pair plan
    // reads NO parquet at all — both join sides explode from the cache
    assert(scans("d_jaccard_pairs", "documents.parquet") == 0)
    // cross-corpus dedup re-reads the source only as the anti-join's
    // left (batch) side; the flagged set rides a broadcast of the
    // pinned pair pipeline, never a sort-merge of a second scan
    assert(scans("d_cross_dedup", "documents.parquet") <= 1)
    // e2e dataloader (r21 audit): the chain's ONE corpus read happens
    // into the mixture pin at fn-call time (JobAuditProbe measured
    // documents.parquet bytes read exactly once per run), and the BPE
    // model is collected control-plane — so the final pack plan reads
    // NO parquet at all; every leaf is the pinned RDD
    assert(scans("t_e2e_dataloader", ".parquet") == 0)
    val crossPlan = SparkEntry.queries("d_cross_dedup")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!crossPlan.contains("SortMergeJoin"), crossPlan)
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  test("stratified sampling filter reaches the scan's data filters") {
    // membership is a pure row-local string compare — at 100 TB the
    // rejected rows must die scan-adjacent (DataFilters in the scan's
    // codegen stage; md5 can never reach parquet row-group stats, so
    // PushedFilters staying empty is expected), with no shuffle other
    // than the presentation sort
    val p = SparkEntry.queries("t_stratified")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning"), p)
    val scan = p.linesIterator
      .find(_.contains("DataFilters")).getOrElse("")
    assert(scan.contains("substring(md5"), p)
  }

  test("decontamination broadcasts the eval gram universe") {
    // the eval side is benchmark-sized; the training side must stream
    // through a broadcast join, never shuffling gram text
    val p = SparkEntry.queries("t_decontam")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("batch ivf retrieval probes a broadcast hash join, not a loop") {
    // the cell equality must surface as an equi-join key: a
    // BroadcastNestedLoopJoin here means every row scores against
    // every query — quadratic at scale
    val p = SparkEntry.queries("s_topk_ivf_batch")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("cell centroids aggregate without any join") {
    val p = SparkEntry.queries("s_centroids")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join"), p)
  }

  test("overlap pairs self-join is shuffled-hash on the fp key") {
    val p = SparkEntry.queries("d_overlap_pairs")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("passage removal is aggregate-shaped: two corpus scans, one " +
      "window exchange, no pair join") {
    val df = SparkEntry.queries("d_passage_dedup")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    // occurrence branch + reconstruction branch — never per-consumer
    // re-execution beyond those two, and never a self-join
    assert(p.linesIterator.count(l => l.contains("FileScan")
      && l.contains("documents.parquet")) == 2, p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // exactly ONE Window stage (first-occurrence rank alone: rn > 1
    // implies the partition has >= 2 rows, so the count window the
    // first cut carried was a redundant second WindowExec pass).
    // NB: operator lines render as "+- Window [..." — a bare
    // startsWith("Window") counts zero and gates nothing
    assert("""[+:]- Window \[""".r.findAllIn(p).size == 1, p)
  }

  test("source overlap: id self-join shuffled-hash, sizes broadcast, " +
      "never sort-merge") {
    // the (group, shingle-id) pin carries no stats — without the
    // explicit hints Catalyst would sort-merge the kilobyte sizes
    // frame and the id self-join
    val p = SparkEntry.queries("d_source_overlap")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p.contains("ShuffledHashJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("sketch overlap's pair join runs over the collected signature " +
      "matrix — the corpus is never re-scanned") {
    // the G x H signature matrix collects into a local relation (one
    // corpus pass at build time); a plan that still reads parquet
    // would re-run the pass once per join consumer (AQE exchange
    // reuse is best-effort, the repo's five-gram-pass lesson)
    val p = SparkEntry.queries("d_source_overlap_est")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Scan parquet"), p)
    assert(!p.contains("FileScan"), p)
  }

  test("temperature sampling's data path is a row-local filter — " +
      "counts never join back") {
    // stratum counts are control-plane rows folded into literals at
    // plan time; the corpus-side plan must stay scan + filter (+ the
    // oracle-facing sort), with no aggregate or join on the data path
    val p = SparkEntry.queries("t_temperature")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("HashAggregate"), p)
  }

  test("pii scrub is a shuffle-free projection over the scan") {
    val p = SparkEntry.queries("t_pii")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("HashAggregate"), p)
    assert(!p.contains("Join"), p)
  }

  test("gopher signals are one compiled projection — at most the one " +
      "spread exchange, no join, no aggregate, one scan") {
    val p = SparkEntry.queries("t_quality_gopher")(spark, sfDir)
      .queryExecution.executedPlan.toString
    // AT MOST one hash exchange: Spread.ensure widening the narrow
    // scan to cluster parallelism before the native GopherSignals
    // projection — and legitimately ZERO when the scan already
    // arrives with cluster-parallel splits (Spread's probe contract)
    assert(p.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning") <= 1, p)
    assert(!p.contains("HashAggregate"), p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("Generate"), p) // no explode — per-row arrays
    assert(!p.contains("Window"), p)
    assert(p.sliding("FileScan".length).count(_ == "FileScan") == 1, p)
  }

  test("explainAnalyze reports the NodeStats triple: rows, bytes, time") {
    // scan + merge + as-of: shuffles (window by producer), scans, sorts
    val m = planner.explainAnalyze(spark,
      "from p1 click precedes error by less than 864000 seconds;")
    assert(m.nonEmpty)
    // tuples out: counted at aggregation/join/exchange nodes
    assert(m.exists(_.rows > 0), m.mkString("\n"))
    // bytes out: dataSize at the exchanges, filesSize at the scans
    assert(m.exists(_.bytes > 0), m.mkString("\n"))
    // elapsed: at least one materialization point records a timing
    // metric (>= 0 — a sub-ms stage legitimately reports 0 ms)
    assert(m.exists(_.timeMs >= 0), m.mkString("\n"))
    // the scan node itself carries bytes (file read volume)
    assert(m.exists(n => n.node.toLowerCase.contains("scan")
      && n.bytes > 0), m.mkString("\n"))
  }

  test("explain renders a formatted plan") {
    val e = planner.explain(spark, "from p1 click, error limit 5;")
    assert(e.contains("Physical Plan"))
  }

  test("explain flag returns the plan as a frame, not data") {
    val df = planner.run(spark, "explain from p1 click limit 5;")
    assert(df.columns.toSeq == Seq("plan"))
    assert(df.count() > 3)
    val data = planner.run(spark, "from p1 click limit 5;")
    assert(data.columns.contains("time"))
  }

  test("the driver's flagship entry() returns rows via the QL path, " +
      "not the fallback scan") {
    val df = SparkEntry.entry(spark)
    // the QL result carries the canonical message frame; the
    // fallback (a bare lineitem scan) would not — so this asserts
    // the REAL path worked, one failure earlier than the driver's
    // opaque rows>0 smoke check
    assert(df.columns.contains("topic"), df.columns.mkString(","))
    assert(df.count() > 0)
    spark.sharedState.cacheManager.clearCache() // entry() caches
  }

  test("ndjson export matches the dp3 row shape") {
    val m = new EventsCatalog(sfDir).messages(spark)
      .where(col("topic") === "click").limit(1)
    val row = Export.ndjson(m, Seq("value", "k")).collect().head
    assert(row.contains("\"topic\":\"click\""))
    assert(row.contains("\"sequence\":"))
    assert(row.contains("\"log_time\":"))
    assert(row.contains("\"data\":{"))
  }

  test("granularity contract: coarsest tier at least as fine") {
    // 1 hour request → 60 s tier (64x tier is 3840 s, too coarse)
    assert(StatTiers.pickTierWidth(3600L * 1000000000L)
      == 60L * 1000000000L)
    // exactly one tier width → that tier
    assert(StatTiers.pickTierWidth(3840L * 1000000000L)
      == 3840L * 1000000000L)
    // finer than base → "too granular", like the reference leaf guard
    val e = intercept[IllegalArgumentException](
      StatTiers.pickTierWidth(1000000000L))
    assert(e.getMessage.contains("too granular"))
  }

  test("columnar sketch serving stays in codegen primitive " +
      "aggregation with a shared rollup/window exchange") {
    // the round-12 rewrite exists precisely to avoid object
    // aggregation (typed Aggregator buffers) and the interpreted
    // per-bin quantile UDF; gate the shape so a refactor cannot
    // silently reintroduce either, and pin that the rollup's
    // coarse-key repartition is the ONLY exchange between the tier
    // build and the served quantiles (the aggregate and the window
    // both reuse it)
    val cat = new EventsCatalog(sfDir)
    val rows = StatTiers.sketchRows(cat.messages(spark),
      60L * 1000000000L)
    val served = StatTiers.serveQuantileRows(
      StatTiers.rollupSketchRows(rows, 60L), Seq(0.5, 0.95))
    val p = served.queryExecution.executedPlan.toString
    assert(!p.contains("ObjectHashAggregate"), p)
    assert(!p.contains("SortAggregate"), p)
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"), p)
    // exchanges: the 60 s tier build's own + the shared rollup
    // repartition — the window and final quantile aggregate add none
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 2, s"expected 2 exchanges, plan:\n$p")
    assert("Scan parquet".r.findAllIn(p).length == 1, p)
  }

  test("per-field tier is ONE aggregation, not one pass per field") {
    val cat = new EventsCatalog(sfDir)
    val tier = StatTiers.baseFields(cat.messages(spark),
      StatTiers.BaseWidthNs, Seq("value", "k"), Seq("props"))
    val p = tier.queryExecution.executedPlan.toString
    // a single hash-partition exchange on the grouping keys — adding
    // fields must never add shuffles (the 100 TB property)
    val exchanges = "Exchange hashpartitioning".r
      .findAllIn(p).length
    assert(exchanges == 1, s"expected 1 exchange, plan:\n$p")
    // one scan of the events table, not one per field
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected 1 scan, plan:\n$p")
    // the quantile-free unpivot adds NO further exchange
    val served = StatTiers.serveFields(tier, Seq("value", "k"),
      Seq("props"), quantiles = Nil)
    val sp = served.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(sp).length == 1,
      s"serveFields added a shuffle:\n$sp")
    // with quantiles the serve rides the columnar row face: exchanges
    // appear (window + join) but never a typed aggregator or an
    // interpreted UDF beyond the tier build's own sketchOf (round 13:
    // the per-bin quantile UDF is retired from the serving surface)
    val quant = StatTiers.serveFields(tier, Seq("value", "k"),
      Seq("props"))
    val qp = quant.queryExecution.executedPlan.toString
    assert(!qp.contains("ScalaUDF"), qp)
  }

  test("mcap export plan streams the query frame without extra sorts") {
    // jsonRows is a pure projection: no exchange, no sort beyond what
    // the input frame carries
    import spark.implicits._
    val df = Seq(("t", 1L, 10L, 1.0)).toDF("topic", "seq", "time",
      "value")
    val bytes = Export.mcap(df, Seq("value"))
    assert(graft.mcap.Mcap.read(bytes).toSeq.length == 1)
    // empty frame → valid MCAP with zero messages
    val empty = Export.mcap(df.where(lit(false)), Seq("value"))
    assert(graft.mcap.Mcap.read(empty).isEmpty)
  }

  test("truncate statement empties or time-bounds a table") {
    import spark.implicits._
    val msgs = Seq(("p0", "t", 100L, 1L), ("p0", "t", 200L, 2L))
      .toDF("producer", "topic", "time", "seq")
    val stmtNow = graft.ql.Parser.parse("truncate p0 t now;")
      .asInstanceOf[graft.ql.TruncateStmt]
    assert(Lifecycle.applyTruncateStatement(spark, msgs, stmtNow)
      .count() == 0)
    val stmtAt = graft.ql.Parser.parse("truncate p0 t 150;")
      .asInstanceOf[graft.ql.TruncateStmt]
    assert(Lifecycle.applyTruncateStatement(spark, msgs, stmtAt)
      .select("seq").collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("statrange with a store scans the stats table, never event data") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-store")
      .toString
    val msgs = Seq(
      ("p0", "click", 10L * 1000000000L, 1L, 1.0),
      ("p0", "click", 70L * 1000000000L, 2L, 3.0)
    ).toDF("producer", "topic", "time", "seq", "value")
    TestSpark.ingest(base, 1L, msgs)
    val cat = TestSpark.ingestedCatalog(base)
    val svc = new graft.api.Dp3Service(cat, s => cat.messages(s),
      Some(graft.api.IngestStore(cat)))
    // the serving path reads ONLY summary rows — this is the property
    // that makes a year-wide request at 100 TB sub-second. Within the
    // driver budget, the one `plan:statcache` load scans exactly the
    // stats files the manifest lists
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
      LogicalRelation}
    val scanned = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        qe.optimizedPlan.foreach {
          case l: LogicalRelation => l.relation match {
            case h: HadoopFsRelation => h.inputFiles.foreach(scanned.add)
            case _ => ()
          }
          case _ => ()
        }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val (rows, jobs) = try JobLog.record(spark.sparkContext)(
        svc.statRange(spark, 3600L * 1000000000L).collect())
      finally spark.listenerManager.unregister(listener)
    assert(jobs.map(_.desc) == Seq("plan:statcache"))
    import scala.jdk.CollectionConverters._
    def local(f: String) = new org.apache.hadoop.fs.Path(f).toUri.getPath
    val listed = cat.manifest(spark).filesOf("stats")
      .map(f => local(s"$base/${f.path}")).sorted
    assert(listed.nonEmpty)
    assert(scanned.asScala.toSeq.map(local).sorted == listed)
    assert(rows.map(_.getAs[Long]("msg_count")).sum == 2L)
    // over the budget the Spark face serves, and its plan still reads
    // the stats tree alone
    cat.statRollupBudget = 0L
    val bins = svc.statRange(spark, 3600L * 1000000000L)
    assert(bins.inputFiles.nonEmpty)
    assert(bins.inputFiles.forall(_.contains("/stats")),
      bins.inputFiles.mkString(", "))
    assert(bins.agg(sum("msg_count")).head().getLong(0) == 2L)
  }

  test("from * planning reads the control table, never event data") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-ctl")
      .toString
    TestSpark.ingest(base, 1L, Seq(("p0", "click", 1L, 1L, 1.0),
      ("p1", "click", 2L, 2L, 2.0))
      .toDF("producer", "topic", "time", "seq", "value"))
    val cat = TestSpark.ingestedCatalog(base)
    // the data files deliberately deleted: if producer discovery touched
    // event data, this would throw
    cat.manifest(spark).filesOf("data").foreach(f =>
      new java.io.File(s"$base/${f.path}").delete())
    assert(cat.producers(spark, Seq("click")) == Seq("p0", "p1"))
  }

  test("stats available lists field x stat combinations") {
    val m = new EventsCatalog(sfDir).messages(spark)
    val av = StatTiers.available(m, numericFields = Seq("value", "k"),
      textFields = Seq("props"))
    val stats = av.where(col("field") === "value")
      .select("stat").distinct().count()
    assert(stats == 8)
    assert(av.where(col("field") === "props")
      .select("stat").distinct().count() == 2)
  }
}
