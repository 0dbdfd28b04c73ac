package perfbench

import java.util.SplittableRandom

/** One generated robot-log message (the canonical ingest columns). */
final case class Msg(producer: String, topic: String, time: Long, seq: Long,
    value: Double, k: Long, status: String)

/** Seeded robot-log generator: `producers` robots publishing four topics
  * at unequal rates over a simulated span, with a small share of
  * re-delivered duplicates. Everything derives from the seed, so the
  * same seed gives the same messages in the same order. */
object RobotLog {
  val NsPerSec = 1000000000L
  val NsPerMin = 60L * NsPerSec
  /** 2026-01-01T00:00:00Z: the whole span sits inside one UTC day. */
  val T0: Long = 1767225600L * NsPerSec
  /** Topic → mean period in seconds. */
  val Topics: Seq[(String, Double)] =
    Seq("imu" -> 1.0, "odom" -> 2.0, "gps" -> 4.0, "diag" -> 20.0)
  val Statuses = Array("ok", "ok", "ok", "ok", "ok", "ok", "warn", "warn",
    "error", "stale")
  val DupShare = 0.01

  def producerName(i: Int): String = s"robot$i"

  /** Messages with event time in [fromNs, toNs) for every producer and
    * topic, plus re-delivered copies, in a seeded order. Message
    * identity (time, seq) depends only on (seed, producer, topic, i), so
    * consecutive windows of one seed stitch into one log. */
  def window(seed: Long, producers: Int, fromNs: Long, toNs: Long)
      : Vector[Msg] = {
    val out = Vector.newBuilder[Msg]
    for (p <- 0 until producers; ((topic, period), ti) <- Topics.zipWithIndex) {
      val periodNs = (period * NsPerSec).toLong
      val first = math.max(0L, (fromNs - T0) / periodNs - 1)
      val last = (toNs - T0) / periodNs + 1
      var i = first
      while (i <= last) {
        val r = new SplittableRandom(mix(seed, p, ti, i))
        // jitter inside the slot keeps per-topic order and unique times
        val t = T0 + i * periodNs + r.nextLong(periodNs / 2)
        if (t >= fromNs && t < toNs) {
          val m = Msg(producerName(p), topic, t,
            (p.toLong * 8 + ti) * 100000000L + i,
            math.round(gaussian(r) * 1e6) / 1e6, r.nextLong(1000),
            Statuses(r.nextInt(Statuses.length)))
          out += m
          if (r.nextDouble() < DupShare) out += m
        }
        i += 1
      }
    }
    val v = out.result()
    // interleave producers and topics the way a multiplexed feed does
    val r = new SplittableRandom(seed ^ fromNs)
    v.map(m => (r.nextLong(), m)).sortBy(_._1).map(_._2)
  }

  private def mix(seed: Long, p: Int, t: Int, i: Long): Long = {
    var h = seed * 0x9E3779B97F4A7C15L + p * 0xBF58476D1CE4E5B9L
    h = (h ^ (h >>> 31)) + t * 0x94D049BB133111EBL + i
    h ^ (h >>> 29)
  }

  private def gaussian(r: SplittableRandom): Double = {
    val u = math.max(r.nextDouble(), 1e-12)
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  /** Distinct messages on the dp3 identity key, the deduplicated log. */
  def distinct(msgs: Seq[Msg]): Vector[Msg] = {
    val seen = scala.collection.mutable.HashSet[(String, String, Long, Long)]()
    msgs.iterator.filter(m => seen.add((m.producer, m.topic, m.time, m.seq)))
      .toVector
  }
}
