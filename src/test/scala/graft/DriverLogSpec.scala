package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{Select, TextOps}

/** The driver derivations that replace Spark expressions —
  * `TextOps.trainLangId`'s micro-unit log probabilities and
  * `Select.dsirWeightsPred`'s lambda table — must equal Spark's
  * `floor(log(q) * 1e6)` bit for bit over the same quotients. Spark's
  * `log` is `StrictMath.log`; `Math.log` differs from it in the last ulp
  * on some inputs, which moves a floor whose ln sits on a micro-unit
  * boundary. The boundary quotients are exact: `p / q` rounds to a
  * double next to exp(-k / 1e6) whose floor a one-ulp change of ln
  * would flip. */
class DriverLogSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def mu(l: Double): Long = math.floor(l * 1000000.0).toLong

  /** (p, q) with q ≤ 2^31 and `p.toDouble / q == y`, from the
    * continued fraction of `y` ∈ [0.5, 1) = m / 2^53. */
  private def ratioOf(y: Double): Option[(Long, Long)] = {
    val m = (java.lang.Double.doubleToLongBits(y) & ((1L << 52) - 1)) |
      (1L << 52)
    val cap = 1L << 31
    @annotation.tailrec
    def cf(n: Long, d: Long, p0: Long, q0: Long, p1: Long, q1: Long)
        : (Long, Long) =
      if (d == 0) (p1, q1)
      else {
        val a = n / d
        if (q1 != 0 && a > (cap - q0) / q1) (p1, q1)
        else cf(d, n - a * d, p1, q1, a * p1 + p0, a * q1 + q0)
      }
    Some(cf(m, 1L << 53, 0L, 1L, 1L, 0L))
      .filter { case (p, q) => q > 0 && p.toDouble / q == y }
  }

  /** Quotients on a micro-unit boundary of ln, as exact (p, q). */
  private lazy val boundary: Seq[(Long, Long)] = (1 to 50000).flatMap { k =>
    val x = StrictMath.exp(-k / 1e6)
    Seq(Math.nextDown(x), x, Math.nextUp(x))
  }.filter { y =>
    val l = StrictMath.log(y)
    mu(Math.nextUp(l)) != mu(l) || mu(Math.nextDown(l)) != mu(l)
  }.flatMap(ratioOf)

  test("trainLangId's mu6 equals Spark's floor(log(q) * 1e6) bit for bit") {
    val s = spark
    import s.implicits._
    assert(boundary.size > 3000) // the boundary set is not vacuous
    val rnd = new scala.util.Random(7)
    // (count, total): (c + 1) / d is the smoothed probability quotient
    val rows = Seq.fill(2000) {
      val d = 1L + rnd.nextInt(100000); (rnd.nextLong(d), d)
    } ++ boundary.map { case (p, q) => (p - 1, q) }
    val spk = rows.toDF("c", "d").select(col("c"), col("d"),
      floor(log((col("c") + lit(1.0)) / col("d")) * lit(1000000.0))
        .cast("long"))
    val bad = spk.collect().filter(r =>
      TextOps.mu6((r.getLong(0) + 1.0) / r.getLong(1)) != r.getLong(2))
    assert(bad.isEmpty,
      s"${bad.length} of ${rows.size} differ, e.g. ${bad.take(3).mkString}")
  }

  test("dsirWeightsPred's lamMu equals dsirWeights' Spark lam_mu bit for " +
      "bit") {
    val s = spark
    import s.implicits._
    val bl = 2L
    val rnd = new scala.util.Random(11)
    val grid = Seq.fill(2000) {
      val (cr, ct) = (rnd.nextLong(5000L), rnd.nextLong(5000L))
      (cr, ct, cr + rnd.nextLong(1000000L), ct + rnd.nextLong(1000000L))
    }
    // totals of 2^20 - bl make both inner quotients exact, so the
    // outer one is p / q rounded
    val n = (1L << 20) - bl
    val rows = grid ++ boundary.map { case (p, q) => (q - 1, p - 1, n, n) }
    val spk = rows.toDF("cr", "ct", "nr", "nt").select(col("cr"),
      col("ct"), col("nr"), col("nt"),
      floor(log(((col("ct") + lit(1.0)) / (col("nt") + lit(bl))) /
          ((col("cr") + lit(1.0)) / (col("nr") + lit(bl)))) *
        lit(1000000.0)).cast("long"))
    val bad = spk.collect().filter(r => Select.lamMu(r.getLong(0),
      r.getLong(1), r.getLong(2), r.getLong(3), bl) != r.getLong(4))
    assert(bad.isEmpty,
      s"${bad.length} of ${rows.size} differ, e.g. ${bad.take(3).mkString}")
  }
}
