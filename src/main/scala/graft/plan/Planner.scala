package graft.plan

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.MessageCatalog
import graft.ops.AsofJoin
import graft.ql._

/** Compiles a parsed dp3 query to a DataFrame (reference:
  * server/plan/plan.go:347-459 compiles to a Volcano node tree; here the
  * "physical plan" is Catalyst's problem).
  *
  * Pushdowns the reference implements by hand — where-clause splitting
  * per alias onto scans (plan.go:327-344), time-range pruning
  * (tree/iterator.go:148-199), descending scans (plan.go:503-510) — are
  * expressed declaratively: the per-alias filter becomes a `.where` on
  * the scan (Catalyst pushes it into the parquet reader), the time range
  * a range predicate (row-group pruning), and `desc` a sort direction.
  *
  * The planned frame carries three bookkeeping columns so dp3's exact
  * output stream order is reproducible at any scale:
  *   emit_time — stream position (= log time except for as-of lefts,
  *               which sit at their first matching right);
  *   _mj       — merge tie-break: producer-major, child-minor index
  *               (reference: merge_node.go:47-49);
  *   emit_side — 0 = left/scan, 1 = as-of right.
  *
  * The answer is one stream in that order, like dp3's merge node
  * (server/executor/merge_node.go:46-54). Without a `limit`, an answer
  * whose scans fit [[Planner.emitBudget]] is emitted through one
  * single-partition exchange and one sort task: a global sort would
  * range-partition instead, and the range partitioner's sampling job
  * re-executes the whole child stage. A larger answer keeps the global
  * sort, whose range partitions a consumer pulls one at a time. With a
  * `limit` the sort plans as one top-k job.
  *
  * Where a stat source backs a scanned field, the scan prunes to the
  * buckets that may match ([[graft.stats.StatFilter.pruneScan]]); a
  * resident tier answers that at plan time without a Spark job.
  */
final class Planner(catalog: MessageCatalog,
    stats: Option[Planner.StatSource] = None) extends Serializable {

  /** The stat source's coverage witness for one scan's tables.
    * Pruning with an unproven tier silently drops rows (see
    * [[Planner.StatSource]]'s coverage contract), so an exception from
    * the witness reads as "cannot prove" — pruning stays off. */
  private def coverageOk(spark: SparkSession, src: Planner.StatSource,
      producers: Seq[String], topic: String): Boolean =
    try src.coverage(spark, producers, topic)
    catch { case _: Exception => false }

  def plan(spark: SparkSession, input: String): DataFrame =
    Parser.parse(input) match {
      case q: Query => plan(spark, q)
      case _: TruncateStmt =>
        throw new IllegalArgumentException(
          "truncate is a lifecycle statement; use graft.streaming.Lifecycle")
    }

  /** Statement dispatch honoring the `explain` flag: an explain query
    * returns its formatted physical plan as a one-column frame instead
    * of data (reference: explain wraps every node with NodeStats and
    * returns stats as metadata — server/routes/query.go:53-90). */
  def run(spark: SparkSession, input: String): DataFrame =
    Parser.parse(input) match {
      case q: Query if q.explain =>
        import spark.implicits._
        plan(spark, q.copy(explain = false))
          .queryExecution
          .explainString(org.apache.spark.sql.execution.FormattedMode)
          .linesIterator.toSeq.toDF("plan")
      case q: Query => plan(spark, q)
      case _: TruncateStmt =>
        throw new IllegalArgumentException(
          "truncate is a lifecycle statement; use graft.streaming.Lifecycle")
    }

  def plan(spark: SparkSession, q: Query): DataFrame = {
    val topics = collectTopics(q.select)
    val producers: Seq[String] = q.from match {
      case AllProducers      => catalog.producers(spark, topics.map(_._1))
      case ProducerList(ns)  => ns
    }
    // split + validate the where clause (reference: plan.go:280-345)
    Planner.splitWhere(q.where,
      topics.map { case (t, a) => a.getOrElse(t) }.toSet)

    // The reference compiles one subtree per producer and merges them
    // (plan.go:347-459). A literal translation unions N plan branches —
    // fine for N=2, catastrophic for N=1500 (`from *` at scale): the
    // driver would analyze thousands of scan branches. Instead compile
    // ONE producer-pruned plan: scans filter producer IN (...), the
    // as-of join partitions its window BY producer, and the dp3
    // producer-major tie order is recovered arithmetically from the
    // producer's index in the from-list. Identical output order, O(1)
    // plan size in the number of producers. With one producer its
    // index is 0 and `_mj` is already final — no join, and no
    // broadcast job.
    val selected = buildSelect(spark, q, producers, q.select)
    val merged =
      if (producers.size == 1) selected
      else {
        val idxDf = spark.createDataFrame(
          producers.zipWithIndex.map { case (p, i) => (p, i.toLong) })
          .toDF("producer", "_pidx")
        selected.join(broadcast(idxDf), Seq("producer"))
          .withColumn("_mj", col("_pidx") * lit(1000000L) + col("_mj"))
          .drop("_pidx")
      }

    // seq as the final key makes the order total even when two
    // messages of one topic share a ns timestamp (limit/offset and
    // oracle comparisons need a deterministic window)
    val ord =
      if (q.descending)
        Seq(col("emit_time").desc, col("_mj").asc, col("emit_side").asc,
          col("seq").desc)
      else
        Seq(col("emit_time").asc, col("_mj").asc, col("emit_side").asc,
          col("seq").asc)
    // a single-partition child satisfies the sort's ordered
    // distribution: no range exchange, so no sampling job re-runs the
    // child stage (see the class doc)
    var out =
      if (q.limit.isEmpty && Planner.emitsWhole(spark, merged))
        merged.repartition(1).orderBy(ord: _*)
      else merged.orderBy(ord: _*)
    q.offset.foreach(o => out = out.offset(o.toInt))
    q.limit.foreach(n => out = out.limit(n.toInt))
    out

    // NB: the where-clause predicates were attached inside buildSelect;
    // reaching here means every alias resolved.
  }

  /** Renders Spark's formatted physical plan — the analogue of dp3's
    * `explain` (reference: server/executor/nodestats.go). */
  def explain(spark: SparkSession, input: String): String = {
    val df = plan(spark, input)
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
  }

  /** dp3's instrumented explain: run the query and report per-operator
    * counters matching the reference NodeStats triple — tuples out,
    * bytes out, elapsed time (server/executor/nodestats.go:13-94 records
    * tuples/bytes/time-to-first/last per node; Spark's SQL metrics are
    * the same instrument, for free). Per node:
    *
    *  - `rows`   — numOutputRows (-1 where Spark doesn't count, e.g.
    *               inside a fused codegen pipeline stage)
    *  - `bytes`  — dataSize where the plan materializes rows (shuffle /
    *               broadcast exchanges), else the scan's file bytes —
    *               the places bytes actually move, which is what the
    *               reference's bytesOut measures at every node because
    *               its Volcano tuples always carry payload bytes
    *  - `timeMs` — the node's largest timing metric (scanTime,
    *               pipelineTime, aggTime, sortTime, shuffle write…),
    *               normalized to milliseconds; -1 when untimed
    *
    * Spark only times MATERIALIZATION POINTS (codegen pipelines,
    * exchanges, sorts, scans), not every narrow operator — the -1 rows
    * are operators fused into a surrounding pipeline whose time shows
    * on the WholeStageCodegen node above them. */
  def explainAnalyze(spark: SparkSession, input: String)
      : Seq[Planner.NodeMetrics] = {
    val df = plan(spark, input)
    // execute THIS queryExecution (df.count() would instrument a new
    // plan and leave these metrics empty)
    df.queryExecution.toRdd.count()
    Planner.metricsOf(df)
  }

  // --- select-tree compilation -------------------------------------------

  private def buildSelect(spark: SparkSession, q: Query,
      producers: Seq[String], sel: Select): DataFrame = sel match {
    case e: Entity =>
      scanFrame(spark, q, producers, e)
        .withColumn("emit_time", col("time"))
        .withColumn("_mj", lit(0L))
        .withColumn("emit_side", lit(0))

    case m: MergeSel =>
      val children = flattenMerge(m)
      val frames = children.zipWithIndex.map {
        case (e: Entity, i) =>
          scanFrame(spark, q, producers, e)
            .withColumn("emit_time", col("time"))
            .withColumn("_mj", lit(i.toLong))
            .withColumn("emit_side", lit(0))
        case (a: AsofSel, i) =>
          buildSelect(spark, q, producers, a)
            .withColumn("_mj", lit(i.toLong))
        case (other, _) =>
          throw new IllegalStateException(s"unexpected merge child: $other")
      }
      frames.reduce(_.unionByName(_, allowMissingColumns = true))

    case a: AsofSel =>
      // `x succeeds y` ≡ as-of join with operands swapped
      // (reference: server/executor/executor.go:155-211). The join
      // partitions its window by producer: semantically identical to
      // the reference's one-plan-per-producer trees, but one parallel
      // operator instead of N sequential streams.
      val (lSel, rSel) = a.dir match {
        case Precedes | Neighbors => (a.left, a.right)
        case Succeeds             => (a.right, a.left)
      }
      val lFrame = stripOrder(buildSelect(spark, q, producers, lSel))
      val rFrame = stripOrder(buildSelect(spark, q, producers, rSel))
      val joined = a.dir match {
        case Neighbors =>
          // deliberate extension past the reference's surface — see
          // Ast.scala's Neighbors doc and AsofJoin.neighbors
          AsofJoin.neighbors(lFrame, rFrame, timeCol = "time",
            keys = Seq("producer"),
            thresholdNs = a.thresholdNs, immediate = a.immediate,
            tieCol = Some("seq"))
        case _ =>
          AsofJoin.join(lFrame, rFrame, timeCol = "time",
            keys = Seq("producer"),
            thresholdNs = a.thresholdNs, immediate = a.immediate,
            tieCol = Some("seq"))
      }
      joined.withColumn("_mj", lit(0L))
  }

  private def stripOrder(df: DataFrame): DataFrame =
    df.drop("emit_time", "_mj", "emit_side")

  private def scanFrame(spark: SparkSession, q: Query,
      producers: Seq[String], e: Entity): DataFrame = {
    // time bounds go through the catalog so it can express them on the
    // raw source column — the difference between a parquet row-group
    // prune and a full-file decode (see MessageCatalog.scanTopic)
    var df = catalog.scanTopic(spark, e.topic, q.between)
    val ofProducers =
      if (producers.size == 1) col("producer") === producers.head
      else col("producer").isin(producers: _*)
    df = df.where(ofProducers)
    val alias = e.alias.getOrElse(e.topic)
    whereFor(q, alias).foreach { pred =>
      df = df.where(compile(df, pred))
      // statistics-based chunk skip (reference: the iterator applies
      // the compiled statfilter while descending the tree,
      // server/tree/iterator.go:173-199): when a maintained stat tier
      // backs a field this predicate checks, prune the scan to the
      // buckets that may contain matches. Deriving the qualifying
      // ranges reads the summary table at plan time — the same
      // kilobyte-scale stats walk the reference performs. The row
      // filter above still applies; the statfilter only proves
      // absences, so an over-approximation (e.g. stale stats for
      // truncated versions) costs nothing but unpruned reads.
      // ... and only when the tier provably covers every unmasked row
      // (StatSource's coverage contract): a tier missing any ingest
      // version's partials would prune buckets it never accounted for,
      // silently dropping rows — the reference keeps chunks with
      // missing stats (ErrNoStatsFound => keep), and so do we, by
      // turning pruning off entirely when coverage can't be proven.
      // The tier is restricted to this scan's tables, so the ranges
      // carry no other producer's or topic's buckets.
      stats.foreach { src =>
        val tier = src.tier(spark)
        if (graft.stats.StatFilter.prunable(tier.columns.toSet, pred)
            && coverageOk(spark, src, producers, e.topic))
          df = graft.stats.StatFilter.pruneScan(df,
            tier.where(ofProducers && col("topic") === e.topic), pred,
            src.widthNs)
      }
    }
    df
  }

  private def whereFor(q: Query, alias: String): Option[Expr] =
    Planner.whereFor(q.where, alias)

  private def flattenMerge(sel: Select): Seq[Select] =
    Planner.flattenMerge(sel)

  private def collectTopics(sel: Select): Seq[(String, Option[String])] =
    Planner.collectTopics(sel)

  // --- where-clause compilation ------------------------------------------

  /** Compile a predicate against a scan frame, with the reference's
    * type-checking behavior: literal/field type mismatches are plan-time
    * errors (reference: server/executor/expression.go:253), integer
    * literals are accepted for float fields (expression.go:428-448), and
    * both regex operators are case-insensitive because the reference
    * lowercases pattern AND value (expression.go:1786,1795). */
  def compile(df: DataFrame, e: Expr): Column = e match {
    case AndExpr(cs)  => cs.map(compile(df, _)).reduce(_ && _)
    case OrExpr(ds)   => ds.map(compile(df, _)).reduce(_ || _)
    case GroupExpr(i) => compile(df, i)
    case Cmp(_, field, op, value) =>
      val c = resolveField(df, field)
      val dt = df.select(c).schema.head.dataType
      val lit0: Column = (value, dt) match {
        case (IntLit(v), _: ByteType | _: ShortType | _: IntegerType |
            _: LongType) => lit(v)
        case (IntLit(v), _: FloatType | _: DoubleType) => lit(v.toDouble)
        case (FloatLit(v), _: FloatType | _: DoubleType) => lit(v)
        case (StrLit(v), _: StringType) => lit(v)
        case (BoolLit(v), _: BooleanType) => lit(v)
        case _ => throw new IllegalArgumentException(
          s"type mismatch: field '$field' is $dt, literal is $value")
      }
      op match {
        case Eq  => c === lit0
        case Neq =>
          if (dt.isInstanceOf[BooleanType]) throw new IllegalArgumentException(
            "!= is not supported for booleans")
          c =!= lit0
        case Lt  => c < lit0
        case Gt  => c > lit0
        case Lte => c <= lit0
        case Gte => c >= lit0
        case Regex | RegexI =>
          (value, dt) match {
            case (StrLit(pat), _: StringType) =>
              lower(c).rlike(pat.toLowerCase)
            case _ => throw new IllegalArgumentException(
              s"regex match requires a string field and pattern, got $dt")
          }
      }
  }

  private def resolveField(df: DataFrame, field: String): Column = {
    if (df.columns.contains(field)) df(field)
    else {
      val head = field.takeWhile(_ != '.')
      if (df.columns.contains(head)) col(field) // nested struct path
      else throw new IllegalArgumentException(
        s"unknown field '$field' (have: ${df.columns.mkString(", ")})")
    }
  }
}

/** AST-level helpers shared by the DataFrame compiler and the plan
  * renderer (mirroring reference plan.go's pre-compile traversals). */
object Planner {

  /** The scanned bytes up to which an unlimited answer is emitted as
    * ONE partition: 1/16 of the smaller of `spark.driver.maxResultSize`
    * (0 = no cap) and the driver heap. One partition is one task
    * result, which the driver holds whole while a consumer drains it
    * and which must fit `maxResultSize`; the 16 leaves room for rows
    * that outgrow their compressed files. About 64 MiB at the default
    * 1 GiB cap. */
  def emitBudget(maxResultSize: Long, maxHeap: Long): Long =
    (if (maxResultSize > 0) math.min(maxResultSize, maxHeap)
     else maxHeap) / 16

  /** Whether `df`'s answer fits [[emitBudget]]: the listed bytes of
    * every leaf of its plan, read off the analyzed plan with no job. A
    * leaf of unknown size counts as the session's default size, i.e.
    * too big. */
  private[graft] def emitsWhole(spark: SparkSession, df: DataFrame)
      : Boolean = {
    val scanned = df.queryExecution.analyzed.collectLeaves()
      .map(_.stats.sizeInBytes).sum
    scanned <= emitBudget(spark.sparkContext.getConf.getSizeAsBytes(
      "spark.driver.maxResultSize", "1g"), Runtime.getRuntime.maxMemory)
  }

  /** Per-operator counters from an instrumented run — the reference
    * NodeStats triple (tuples out / bytes out / elapsed,
    * server/executor/nodestats.go:13-94). -1 = not measured at this
    * node (see [[Planner.explainAnalyze]]). */
  final case class NodeMetrics(node: String, rows: Long, bytes: Long,
      timeMs: Long)

  /** Walk an already-EXECUTED frame's physical plan and collect the
    * NodeStats triple per instrumented node (see [[Planner!.explainAnalyze]]
    * for the metric semantics). The caller must have run this exact
    * QueryExecution (toRdd / toLocalIterator / collect) — an
    * unexecuted plan reports empty or zero metrics. */
  def metricsOf(df: org.apache.spark.sql.DataFrame): Seq[NodeMetrics] = {
    def walk(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[NodeMetrics] = {
      val rows = p.metrics.get("numOutputRows").map(_.value).getOrElse(-1L)
      val bytes = p.metrics.get("dataSize")
        .orElse(p.metrics.get("filesSize")).map(_.value).getOrElse(-1L)
      // largest timing metric on the node; timing metrics are ms,
      // nsTiming ns (SQLMetrics.TIMING_METRIC / NS_TIMING_METRIC)
      val times = p.metrics.values.collect {
        case m if m.metricType == "timing"   => m.value
        case m if m.metricType == "nsTiming" => m.value / 1000000L
      }
      val timeMs = if (times.isEmpty) -1L else times.max
      val own =
        if (rows < 0 && bytes < 0 && timeMs < 0) Seq.empty
        else Seq(NodeMetrics(p.nodeName, rows, bytes, timeMs))
      // AQE wraps materialized stages in QueryStageExec, whose inner
      // plan is a member, not a child — descend explicitly
      val below = p match {
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          walk(q.plan)
        case _ => p.children.flatMap(walk)
      }
      own ++ below
    }
    val executed = df.queryExecution.executedPlan
    // unwrap AQE final plan if present
    val root = executed match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case other => other
    }
    walk(root)
  }

  /** JSON rendering of the NodeStats triples — the payload of the
    * in-band "query" metadata record (the analogue of the reference's
    * util.Context JSON under the "context" key,
    * server/routes/query.go:73-76). */
  def metricsJson(ms: Seq[NodeMetrics]): String = {
    def esc(s: String): String = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    ms.map(m => s"""{"node":"${esc(m.node)}","rows":${m.rows},""" +
        s""""bytes":${m.bytes},"time_ms":${m.timeMs}}""")
      .mkString("""{"nodes":[""", ",", "]}")
  }

  /** A maintained per-field stat tier backing statfilter scan pruning:
    * `tier` yields rows keyed (producer, topic, bucket) carrying
    * `field__min/max` (numeric) / `field__tmin/tmax/trgm*` (text)
    * columns at bucket width `widthNs` — append-only partials are fine
    * (a bucket qualifies if ANY of its partials might match, which is
    * exactly how the row-level OR evaluates).
    *
    * COVERAGE CONTRACT: pruning is only sound when the tier vouches for
    * EVERY row the scan can see — a bucket with data but no tier row
    * (or a tier row merged from only SOME of the bucket's ingest
    * versions) would be pruned as provably empty when it is merely
    * unaccounted for, silently dropping rows. The reference never does
    * this: missing statistics keep the chunk (ErrNoStatsFound => keep,
    * server/executor/statfilter.go). `coverage` is the witness the
    * planner consults before pruning a scan of `producers` × `topic`
    * — return true only when every unmasked data version of those
    * tables has stat partials in this tier (Dp3Service verifies this
    * against its control table; see its statSource). The default
    * asserts coverage, which is correct for tiers derived from the
    * very frame being scanned, but a PARTIAL tier supplied here with
    * the default witness corrupts results — callers who cannot prove
    * coverage must pass `(_, _, _) => false` (pruning off). */
  final case class StatSource(tier: SparkSession => DataFrame,
      widthNs: Long,
      coverage: (SparkSession, Seq[String], String) => Boolean =
        (_, _, _) => true)

  private[plan] def flattenMerge(sel: Select): Seq[Select] = sel match {
    case MergeSel(l, r) => flattenMerge(l) ++ flattenMerge(r)
    case other          => Seq(other)
  }

  private[plan] def collectTopics(sel: Select)
      : Seq[(String, Option[String])] = sel match {
    case Entity(t, a)   => Seq((t, a))
    case MergeSel(l, r) => collectTopics(l) ++ collectTopics(r)
    case AsofSel(l, r, _, _, _, _) =>
      collectTopics(l) ++ collectTopics(r)
  }

  private[plan] def collectAliases(e: Expr): Set[String] = e match {
    case Cmp(a, _, _, _) => Set(a)
    case AndExpr(cs)     => cs.flatMap(collectAliases).toSet
    case OrExpr(ds)      => ds.flatMap(collectAliases).toSet
    case GroupExpr(i)    => collectAliases(i)
  }

  /** Per-alias predicate: the disjuncts that reference exactly this
    * alias, re-joined under Or (reference splitExpression,
    * plan.go:327-344). */
  private[plan] def whereFor(where: Option[Expr], alias: String)
      : Option[Expr] =
    where.flatMap { e =>
      val disjuncts = e match {
        case OrExpr(ds) => ds
        case other      => Seq(other)
      }
      val mine = disjuncts.filter(d => collectAliases(d) == Set(alias))
      if (mine.isEmpty) None
      else if (mine.size == 1) Some(mine.head)
      else Some(OrExpr(mine))
    }

  /** Validate the whole where clause: every top-level disjunct names
    * exactly one alias; every alias resolves to a scan. Returns the
    * per-alias split (reference: plan.go:280-345,524-557). */
  private[plan] def splitWhere(where: Option[Expr],
      known: Set[String]): Map[String, Expr] = {
    val byAlias: Map[String, Seq[Expr]] = where match {
      case None => Map.empty
      case Some(e) =>
        val disjuncts = e match {
          case OrExpr(ds) => ds
          case other      => Seq(other)
        }
        disjuncts.groupBy { d =>
          val aliases = collectAliases(d)
          if (aliases.size != 1) throw new IllegalArgumentException(
            s"expression subtree references more than one alias: " +
              aliases.mkString(", "))
          aliases.head
        }
    }
    byAlias.keySet.diff(known).headOption.foreach { a =>
      throw new IllegalArgumentException(s"unresolved table alias: $a")
    }
    byAlias.map { case (a, ds) =>
      a -> (if (ds.size == 1) ds.head else OrExpr(ds))
    }
  }
}
