package graft.stats

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ql._

/** Statistics-based scan pruning — the reference's executor statfilter
  * (server/executor/statfilter.go) re-expressed over per-field stat
  * tiers: a dp3 where clause compiles to a keep/drop predicate on
  * summary rows, where TRUE means "this bucket may contain matches"
  * and FALSE means "provably empty, skip it". Semantics per op mirror
  * the reference exactly:
  *
  *  - string `=`  — trigram-signature containment AND min <= s <= max
  *                  (statfilter.go:112-131: a missing query trigram bit
  *                  proves the chunk clean even inside the min/max span)
  *  - numeric `=` — min <= x <= max (int compares through int64 casts
  *                  of the stored doubles, statfilter.go:87-99)
  *  - `<`  keep if s > min;  `<=` keep if s >= min
  *  - `>`  keep if s < max;  `>=` keep if s <= max
  *  - `!=`, `~`, `~*`, booleans — passthrough (statfilter.go:446-455)
  *  - missing statistics — keep (ErrNoStatsFound => true, no false
  *    negatives ever)
  *
  * And/Or compose recursively like compileAndFilter/compileOrFilter.
  *
  * 100 TB shape: the tier is kilobytes per bucket, so the qualifying
  * bucket set is control-plane data. [[pruneScan]] collects it once
  * (the caller restricts the tier to the scanned producers and topic)
  * and applies it as one time-range predicate that Catalyst pushes
  * into the parquet reader — the row-group analogue of dp3's chunk
  * skip.
  */
object StatFilter {

  /** Compile a per-alias where Expr to a bucket keep/drop predicate
    * against a per-field tier's columns ([[StatTiers.baseFields]]
    * naming: `field__min/max` numeric, `field__tmin/tmax` +
    * `field__trgm0/1` signature words for text). */
  def compile(tier: DataFrame, e: Expr): Column = {
    val cols = tier.columns.toSet
    def go(e: Expr): Column = e match {
      case AndExpr(cs)  => cs.map(go).reduce(_ && _)
      case OrExpr(ds)   => ds.map(go).reduce(_ || _)
      case GroupExpr(i) => go(i)
      case Cmp(_, field, op, value) => cmpFilter(cols, field, op, value)
    }
    go(e)
  }

  /** Missing per-bucket stats keep the bucket (a null min/max means the
    * bucket recorded no finite values for the field — never prune). */
  private def keepNull(c: Column): Column = coalesce(c, lit(true))

  private def cmpFilter(cols: Set[String], field: String, op: CmpOp,
      value: Lit): Column = {
    def has(suffix: String) = cols.contains(s"${field}__$suffix")
    (op, value) match {
      // the reference passes these through unexamined
      case (Neq, _) | (Regex, _) | (RegexI, _) => lit(true)
      case (_, StrLit(s)) if has("tmin") =>
        val tmin = col(s"${field}__tmin")
        val tmax = col(s"${field}__tmax")
        op match {
          case Eq =>
            // signature containment = two codegen'd bitwise ANDs over
            // the stored words (q & sig == q per word) — no arrays, no
            // higher-order functions in the filter path
            val sigOk =
              if (!has("trgm0")) lit(true)
              else Trigram.masksOfString(s).zipWithIndex.map {
                case (0L, _) => lit(true)
                case (m, w) => keepNull(
                  col(s"${field}__trgm$w").bitwiseAND(lit(m)) === lit(m))
              }.reduce(_ && _)
            sigOk && keepNull(lit(s) >= tmin && lit(s) <= tmax)
          case Lt  => keepNull(lit(s) > tmin)
          case Gt  => keepNull(lit(s) < tmax)
          case Lte => keepNull(lit(s) >= tmin)
          case Gte => keepNull(lit(s) <= tmax)
          case _   => lit(true)
        }
      case (_, IntLit(x)) if has("min") =>
        // int64 comparisons against int64-cast doubles, like the
        // reference's int filters (statfilter.go:87-99)
        val lo = col(s"${field}__min").cast("long")
        val hi = col(s"${field}__max").cast("long")
        op match {
          case Eq  => keepNull(lit(x) >= lo && lit(x) <= hi)
          case Lt  => keepNull(lit(x) > lo)
          case Gt  => keepNull(lit(x) < hi)
          case Lte => keepNull(lit(x) >= lo)
          case Gte => keepNull(lit(x) <= hi)
          case _   => lit(true)
        }
      case (_, FloatLit(x)) if has("min") =>
        val lo = col(s"${field}__min")
        val hi = col(s"${field}__max")
        op match {
          case Eq  => keepNull(lit(x) >= lo && lit(x) <= hi)
          case Lt  => keepNull(lit(x) > lo)
          case Gt  => keepNull(lit(x) < hi)
          case Lte => keepNull(lit(x) >= lo)
          case Gte => keepNull(lit(x) <= hi)
          case _   => lit(true)
        }
      // booleans and fields without statistics pass through
      case _ => lit(true)
    }
  }

  /** Whether a where clause can prune anything against this tier's
    * columns — i.e. some comparison targets a stats-backed field with
    * a stats-checkable op. When false, [[pruneScan]] would keep every
    * bucket and only add plan noise; callers skip it. */
  def prunable(tierCols: Set[String], e: Expr): Boolean = e match {
    // AND drops a bucket when ANY conjunct proves it empty; OR only
    // when EVERY disjunct can (an unbacked disjunct compiles to
    // always-true and keeps all buckets)
    case AndExpr(cs)  => cs.exists(prunable(tierCols, _))
    case OrExpr(ds)   => ds.forall(prunable(tierCols, _))
    case GroupExpr(i) => prunable(tierCols, i)
    case Cmp(_, field, op, value) =>
      val checkableOp = op match {
        case Eq | Lt | Gt | Lte | Gte => true
        case _                        => false
      }
      val backed = value match {
        case StrLit(_)              => tierCols.contains(s"${field}__tmin")
        case IntLit(_) | FloatLit(_) => tierCols.contains(s"${field}__min")
        case BoolLit(_)             => false
      }
      checkableOp && backed
  }

  /** The columns of a per-field tier that [[compile]] can read — every
    * field's `__min`/`__max` and `__tmin`/`__tmax`/`__trgm<w>` — plus
    * the keys and `ingest_version` (the truncation mask): a resident
    * tier holds no sketch, sum or count. */
  def tierColumns(columns: Seq[String]): Seq[String] = {
    val keys = Set("producer", "topic", "bucket", "ingest_version")
    val stat = raw".+__(min|max|tmin|tmax|trgm\d+)".r
    columns.filter(c => keys(c) || stat.matches(c))
  }

  /** Qualifying (producer, topic, bucket) rows of a tier under a where
    * clause — the buckets a scan must still visit. */
  def qualifyingBuckets(tier: DataFrame, where: Expr): DataFrame =
    tier.where(compile(tier, where))
      .select(col("producer"), col("topic"), col("bucket"))

  /** Qualifying time ranges [start, end) in ns: the distinct
    * qualifying buckets coalesced into maximal runs. One driver-side
    * collect of the bucket column — control-plane summary rows, no
    * shuffle (dedup and sort happen on the driver). On a resident tier
    * (a local frame, [[graft.model.IngestedCatalog.statFilterTier]])
    * the filter folds into a local relation and the collect launches
    * no job; on a Spark tier it is one small job under the
    * `plan:statfilter` job description. */
  def qualifyingRanges(tier: DataFrame, where: Expr, widthNs: Long)
      : Seq[(Long, Long)] = {
    val ids = graft.util.JobDesc(tier.sparkSession.sparkContext,
        "plan:statfilter") {
      tier.where(compile(tier, where)).select(col("bucket"))
        .collect().map(_.getLong(0))
    }.distinct.sorted
    ids.foldLeft(Vector.empty[(Long, Long)]) { (acc, b) =>
      val (s, e) = (b * widthNs, (b + 1) * widthNs)
      acc.lastOption match {
        case Some((ls, le)) if s <= le => acc.init :+ ((ls, math.max(le, e)))
        case _                         => acc :+ ((s, e))
      }
    }
  }

  /** Prune a raw message scan to the time ranges of the buckets that
    * may contain matches: an ORed time-range predicate on `timeCol`
    * that Catalyst pushes into the parquet scan (row-group skip — dp3's
    * chunk skip). The caller applies the actual row predicate as well —
    * the statfilter only proves absences, exactly like the reference
    * (its executor filters rows after the chunk skip) — which is why no
    * per-(producer, topic, bucket) join follows the ranges: it would
    * drop only rows the row predicate already drops, and read no fewer
    * bytes. Restrict `tier` to the scanned producers and topic first,
    * or other tables' buckets widen the ranges.
    *
    * SELECTIVITY GATE: when the qualifying buckets coalesce into more
    * than `maxRanges` time ranges, the matches are scattered across
    * the timeline and pruning cannot reduce scan I/O — the pushed row
    * predicate already handles scattered lookups, and a long OR of
    * ranges would only add plan weight. Measured at sf0.1 on a
    * time-clustered layout with a uniformly-scattered probe (~1% of
    * buckets kept but spread over the whole month): raw pushed filter
    * 0.10 s vs unconditional pruning 0.58 s. So: scattered → the scan
    * returns UNCHANGED; clustered (few ranges) → the ranges apply;
    * nothing qualifies → provably empty.
    *
    * COVERAGE CONTRACT: the tier must vouch for EVERY row in `scan` —
    * "no qualifying tier row" reads as "provably empty", so a bucket
    * with data but no tier row (or a tier row merged from only some of
    * the bucket's ingest versions) is silently dropped: a false
    * negative the reference never produces (missing stats keep the
    * chunk, ErrNoStatsFound => keep). Callers who cannot prove the
    * tier covers every unmasked version must not call this at all —
    * the planner consults [[graft.plan.Planner.StatSource]]'s
    * `coverage` witness and skips pruning when coverage is unproven
    * (Dp3Service checks the scanned tables' ingest versions against
    * the stats table before letting a scan prune).
    *
    * The tier is read once here (the range collect). In a real
    * deployment the tier is a STORED summary table written at ingest
    * (the reference's nodestore statistics); if deriving the tier on
    * the fly, persist it first. A store's tier within the driver budget
    * is resident, like the reference's in-memory inner nodes, and the
    * walk runs on the driver with no Spark job; a Spark tier costs one
    * small job at plan time regardless of outcome. Either way the walk
    * visits every bucket of the scanned tables, so the tier width
    * should be chosen coarse enough that buckets hold many rows; a tier
    * with ~1 row per bucket (sparse data under a fine width) makes the
    * walk cost comparable to just scanning. */
  def pruneScan(scan: DataFrame, tier: DataFrame, where: Expr,
      widthNs: Long, timeCol: String = "time", maxRanges: Int = 64)
      : DataFrame = {
    val ranges = qualifyingRanges(tier, where, widthNs)
    if (ranges.isEmpty) scan.where(lit(false))
    else if (ranges.size > maxRanges) scan
    else scan.where(ranges.map { case (s, e) =>
      col(timeCol) >= s && col(timeCol) < e
    }.reduce(_ || _))
  }
}
