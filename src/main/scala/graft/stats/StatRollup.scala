package graft.stats

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** The base-tier stat partials of one committed ingest-store version,
  * resident on the driver — dp3 serves stat ranges "mostly from RAM"
  * out of its inner-node statistics (doc/paper/dp3.tex:406-413). The
  * partials are collected once per committed manifest
  * ([[graft.model.IngestedCatalog.statRollup]]); [[serve]] then folds a
  * /statrange or /statistics request with no Spark job.
  *
  * The fold is [[StatTiers.serveFromPartials]] done on the driver, with
  * the same arithmetic, so both faces answer equal rows:
  *   - Long sums of the counts, min/max of the finite values;
  *   - the exact sum of the decimal(28,6) partial sums, rounded once to
  *     double (Spark's `Decimal.toDouble` is the exact value's
  *     `doubleValue`);
  *   - quantiles by [[DDSketch.quantiles]]' rank walk
  *     (`max(0, ceil(p·(total−1)))`, the first key whose running count
  *     exceeds it) — the walk [[StatTiers.serveQuantileRows]] runs as a
  *     window — and [[DDSketch.bucketValue]], the one key→value
  *     function of every face. */
final class StatRollup private (
    tables: Map[(String, String), Array[StatRollup.Partial]]) {
  import StatRollup._

  /** The served records of the bins of `widthNs` built from the base
    * buckets in [`loBucket`, `hiBucket`) that overlap [`startNs`,
    * `endNs`), in [[schema]]'s layout, ordered by key and start. Only
    * the (producer, topic) tables `keep` selects count, and a table's
    * partials at or below its `hidden` version are left out (the
    * truncation mask). `byProducer = false` merges producers per
    * topic. */
  def serve(widthNs: Long, loBucket: Long, hiBucket: Long, startNs: Long,
      endNs: Long, byProducer: Boolean, keep: ((String, String)) => Boolean,
      hidden: Map[(String, String), Long]): Seq[Row] = {
    val factor = widthNs / StatTiers.BaseWidthNs
    val bins = mutable.HashMap[(String, String, Long), Bin]()
    for ((table @ (p, t), parts) <- tables if keep(table)) {
      val hide = hidden.getOrElse(table, Long.MinValue)
      // the table is bucket-sorted: start at its first partial at or
      // after loBucket
      var i = 0
      var j = parts.length
      while (i < j) {
        val mid = (i + j) >>> 1
        if (parts(mid).bucket < loBucket) i = mid + 1 else j = mid
      }
      while (i < parts.length && parts(i).bucket < hiBucket) {
        val e = parts(i)
        // `bucket div factor`: integer division truncating like Spark's
        if (e.version > hide) bins.getOrElseUpdate(
          (if (byProducer) p else "", t, e.bucket / factor), new Bin).add(e)
        i += 1
      }
    }
    bins.toSeq
      .map { case ((p, t, bin), acc) => (p, t, bin * widthNs, acc) }
      .filter { case (_, _, start, _) =>
        start < endNs && start + widthNs > startNs }
      .sortBy { case (p, t, start, _) => (p, t, start) }
      .map { case (p, t, start, acc) =>
        val sumD = Option(acc.numSum).map(d => Double.box(d.doubleValue))
        Row.fromSeq((if (byProducer) Seq(p) else Nil) ++ Seq(t, start,
          start + widthNs, acc.msgCount, acc.numCount,
          boxed(acc.numMin), boxed(acc.numMax), sumD.orNull,
          sumD.filter(_ => acc.numCount != 0)
            .map(s => Double.box(s.doubleValue / acc.numCount.toDouble))
            .orNull) ++
          DDSketch.quantiles(acc.kb, acc.c, StatTiers.DefaultQuantiles))
      }
  }
}

object StatRollup {

  /** One stored partial: its base bucket, the ingest version that wrote
    * it, the non-sketch stats (min/max NaN and sum null when the bucket
    * held no finite value — the partial columns are null then) and the
    * sketch as key-sorted (kb, c) arrays. */
  private[stats] final class Partial(val bucket: Long, val version: Long,
      val msgCount: Long, val numCount: Long, val numMin: Double,
      val numMax: Double, val numSum: java.math.BigDecimal,
      val kb: Array[Int], val c: Array[Long])

  /** One served bin's running merge. */
  private final class Bin {
    var msgCount = 0L
    var numCount = 0L
    var numMin = Double.NaN
    var numMax = Double.NaN
    var numSum: java.math.BigDecimal = null
    // the merged sketch, key-ascending; never mutated in place, so a
    // bin of one partial shares its arrays
    var kb = Array.emptyIntArray
    var c = Array.emptyLongArray

    def add(e: Partial): Unit = {
      msgCount += e.msgCount
      numCount += e.numCount
      if (!e.numMin.isNaN && (numMin.isNaN || e.numMin < numMin))
        numMin = e.numMin
      if (!e.numMax.isNaN && (numMax.isNaN || e.numMax > numMax))
        numMax = e.numMax
      if (e.numSum != null)
        numSum = if (numSum == null) e.numSum else numSum.add(e.numSum)
      if (kb.isEmpty) { kb = e.kb; c = e.c }
      else if (e.kb.nonEmpty) {
        // sorted merge, equal keys summed
        val k = new Array[Int](kb.length + e.kb.length)
        val n = new Array[Long](k.length)
        var (i, j, o) = (0, 0, 0)
        while (i < kb.length || j < e.kb.length) {
          if (j == e.kb.length || (i < kb.length && kb(i) < e.kb(j))) {
            k(o) = kb(i); n(o) = c(i); i += 1
          } else if (i == kb.length || e.kb(j) < kb(i)) {
            k(o) = e.kb(j); n(o) = e.c(j); j += 1
          } else {
            k(o) = kb(i); n(o) = c(i) + e.c(j); i += 1; j += 1
          }
          o += 1
        }
        kb = java.util.Arrays.copyOf(k, o)
        c = java.util.Arrays.copyOf(n, o)
      }
    }
  }

  private def boxed(d: Double): java.lang.Double =
    if (d.isNaN) null else Double.box(d)

  /** The stats-tree partials `partials` (the base-tier layout of
    * [[StatTiers.base]] plus `ingest_version`), collected and indexed by
    * (producer, topic), each table sorted by bucket. */
  def apply(partials: DataFrame): StatRollup = {
    val rows = partials.select("producer", "topic", "bucket",
      "ingest_version", "msg_count", "num_count", "num_min", "num_max",
      "num_sum", "sketch").collect()
    def dbl(r: Row, i: Int) = if (r.isNullAt(i)) Double.NaN else r.getDouble(i)
    def long(r: Row, i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    new StatRollup(rows.groupBy(r => (r.getString(0), r.getString(1)))
      .map { case (table, rs) =>
        table -> rs.map { r =>
          val sk = (if (r.isNullAt(9)) Map.empty[Int, Long]
            else r.getMap[Int, Long](9)).toArray.sortBy(_._1)
          new Partial(r.getLong(2), r.getLong(3), long(r, 4), long(r, 5),
            dbl(r, 6), dbl(r, 7), r.getDecimal(8), sk.map(_._1),
            sk.map(_._2))
        }.sortBy(_.bucket)
      })
  }

  /** The served layout, the schema of [[StatTiers.serveFromPartials]]'s
    * frame: the keys (producer when `byProducer`, topic), the bin, the
    * merged stats and one column (`p<100·q>`) per quantile of
    * [[StatTiers.DefaultQuantiles]]. */
  def schema(byProducer: Boolean): StructType =
    StructType(
      (if (byProducer) Seq(StructField("producer", StringType)) else Nil) ++
      Seq(StructField("topic", StringType)) ++
      Seq("start_ns", "end_ns", "msg_count", "num_count")
        .map(StructField(_, LongType)) ++
      Seq("num_min", "num_max", "num_sum_d", "num_mean")
        .map(StructField(_, DoubleType)) ++
      StatTiers.DefaultQuantiles.map(q =>
        StructField(s"p${(q * 100).toInt}", DoubleType, nullable = false)))
}
