package graft.stats

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** DDSketch-style mergeable quantile sketch (reference:
  * server/nodestore/statistics.go:40-96,129-155 uses DDSketch with
  * relative accuracy 0.01; the paper for the algorithm is Masson,
  * Rim & Lee, "DDSketch: A Fast and Fully-Mergeable Quantile Sketch
  * with Relative-Error Guarantees", VLDB 2019 — public).
  *
  * The sketch is a logarithmic histogram: positive value x lands in
  * bucket ceil(log_gamma(x)); negatives are sign-folded to negative
  * keys; zero (and |x| below the smallest representable bucket) has the
  * dedicated key 0. Merging two sketches is pointwise addition of
  * bucket counts — exactly associative, which is what makes the
  * multigranular stat tiers rebuildable bottom-up at any scale: 100 TB
  * of raw data reduces to per-bucket maps once, and every coarser tier
  * is a map-merge of 64 children, never a re-scan
  * (reference tree rollup: server/tree/tree.go:214-258).
  *
  * NaN/Inf are skipped, mirroring statistics.go:108-127.
  */
object DDSketch extends Serializable {

  /** relative accuracy 0.01 — matches statistics.go:130 */
  val Alpha = 0.01
  val Gamma: Double = (1 + Alpha) / (1 - Alpha)
  /** ln γ, the divisor of the key function on every face (the
    * columnar [[graft.stats.StatTiers.sketchKey]] takes it as a
    * literal) */
  val LogGamma: Double = StrictMath.log(Gamma)
  /** |x| below this maps to the zero bucket (shared with the
    * columnar [[graft.stats.StatTiers.sketchKey]] face) */
  val MinValue = 1e-9

  /** A value's key — THE value→key function of every face:
    * [[graft.stats.StatTiers.sketchKey]] is its column form.
    * `StrictMath.log`, because Spark's `log` is `StrictMath.log` in both
    * its interpreted and its generated code; `math.log` (a JIT
    * intrinsic) puts some values within an ulp of a boundary γ^k in the
    * neighbouring bucket. */
  def bucketOf(x: Double): Int = {
    if (x.isNaN || x.isInfinite) return Int.MinValue // sentinel: skip
    val a = math.abs(x)
    if (a < MinValue) 0
    else {
      val k = math.ceil(StrictMath.log(a) / LogGamma).toInt
      // shift by 1 so bucket 0 stays reserved for zero; sign-fold
      if (x > 0) k + 1073741824 else -(k + 1073741824)
    }
  }

  /** A key's representative value — THE key→value function of every
    * face: [[graft.stats.StatTiers.sketchKeyValue]] is its column form
    * and the driver fold ([[StatRollup]]) calls it. `StrictMath.pow`,
    * because Spark's `pow` is `StrictMath.pow` in both its interpreted
    * and its generated code; `math.pow` (`java.lang.Math.pow`, a JIT
    * intrinsic) differs from it in the last bit for some keys. */
  def bucketValue(key: Int): Double = {
    if (key == 0) 0.0
    else {
      val k = math.abs(key) - 1073741824
      val v = 2.0 * StrictMath.pow(Gamma, k) / (Gamma + 1)
      if (key > 0) v else -v
    }
  }

  def add(sketch: Map[Int, Long], x: Double): Map[Int, Long] = {
    val b = bucketOf(x)
    if (b == Int.MinValue) sketch
    else sketch.updated(b, sketch.getOrElse(b, 0L) + 1L)
  }

  def mergeMaps(a: Map[Int, Long], b: Map[Int, Long]): Map[Int, Long] =
    if (a.size < b.size) mergeMaps(b, a)
    else b.foldLeft(a) { case (acc, (k, v)) =>
      acc.updated(k, acc.getOrElse(k, 0L) + v)
    }

  /** Quantile estimate: walk sign-ordered buckets to rank q*(n-1). */
  def quantile(sketch: Map[Int, Long], q: Double): Double = {
    // ordering by key is ordering by value: negative keys ascend toward
    // zero, then zero, then positive keys ascend
    val sorted = sketch.toArray.sortBy(_._1)
    quantiles(sorted.map(_._1), sorted.map(_._2), Seq(q)).head
  }

  /** Quantile estimates of a sketch given as key-ascending (kb, c)
    * arrays — THE rank walk of every face: for each q, the value of
    * the first key whose running count exceeds rank
    * max(0, ceil(q·(n−1))) (the window cumsum of
    * [[graft.stats.StatTiers.serveQuantileRows]]); NaN when the sketch
    * counts nothing. */
  def quantiles(kb: Array[Int], c: Array[Long], qs: Seq[Double])
      : Seq[Double] = {
    val total = c.sum
    qs.map { q =>
      if (total == 0) Double.NaN
      else {
        val rank = math.max(0L, math.ceil(q * (total - 1)).toLong)
        var acc = c(0)
        var i = 0
        while (acc <= rank && i < kb.length - 1) {
          i += 1
          acc += c(i)
        }
        bucketValue(kb(i))
      }
    }
  }

  // --- Spark typed aggregators ------------------------------------------

  /** Mutable aggregation state. The first formulation used
    * `Map[Int, Long]` with `updated` per row — one immutable-map
    * allocation (plus boxing) per VALUE, measured ~30 µs/update inside
    * the sort-based object aggregate on q_stats_fields (70 s of task
    * time for 1.2M updates at sf0.1). Object-hash/sort aggregation
    * keeps buffers as raw JVM objects and only serializes them at the
    * partial-output boundary, so a mutable map + kryo buffer encoder
    * is the right trade: O(1) in-place updates, serialization cost
    * proportional to GROUPS (not rows) at the shuffle. */
  type Buf = scala.collection.mutable.HashMap[Int, Long]
  private def bufAdd(b: Buf, k: Int, n: Long): Buf = {
    b.update(k, b.getOrElse(k, 0L) + n); b
  }
  private def bufMerge(a: Buf, b: Buf): Buf =
    if (a.size < b.size) bufMerge(b, a)
    else b.foldLeft(a) { case (acc, (k, v)) => bufAdd(acc, k, v) }

  /** values → sketch */
  final class SketchAgg extends Aggregator[Double, Buf, Map[Int, Long]] {
    override def zero: Buf = new Buf
    override def reduce(b: Buf, x: Double): Buf = {
      val k = bucketOf(x)
      if (k == Int.MinValue) b else bufAdd(b, k, 1L)
    }
    override def merge(a: Buf, b: Buf): Buf = bufMerge(a, b)
    override def finish(b: Buf): Map[Int, Long] = b.toMap
    override def bufferEncoder: Encoder[Buf] = Encoders.kryo[Buf]
    override def outputEncoder: Encoder[Map[Int, Long]] =
      ExpressionEncoder[Map[Int, Long]]()
  }

  /** sketches → merged sketch (tier rollup) */
  final class MergeAgg extends Aggregator[Map[Int, Long], Buf,
      Map[Int, Long]] {
    override def zero: Buf = new Buf
    override def reduce(b: Buf, s: Map[Int, Long]): Buf =
      s.foldLeft(b) { case (acc, (k, v)) => bufAdd(acc, k, v) }
    override def merge(a: Buf, b: Buf): Buf = bufMerge(a, b)
    override def finish(b: Buf): Map[Int, Long] = b.toMap
    override def bufferEncoder: Encoder[Buf] = Encoders.kryo[Buf]
    override def outputEncoder: Encoder[Map[Int, Long]] =
      ExpressionEncoder[Map[Int, Long]]()
  }
}
