package perfbench

import scala.util.hashing.MurmurHash3

/** Expected answers, computed by the benchmark from the generated input
  * in plain Scala — a second implementation of dp3's query semantics
  * that shares no code (and no engine) with the system under test. */
object Answers {
  type Key = (String, String, Long, Long) // producer, topic, time, seq

  def keyOf(m: Msg): Key = (m.producer, m.topic, m.time, m.seq)

  def render(k: Key): String = s"${k._1}|${k._2}|${k._3}|${k._4}"

  /** Count and order-sensitive hash of a row-key sequence. */
  def digest(keys: Seq[Key]): (Int, Int) =
    (keys.size, MurmurHash3.orderedHash(keys.map(render)))

  /** The row keys of an NDJSON query response, in response order. */
  def responseKeys(r: HttpResult): Seq[Key] = r.lines.map { l =>
    (Json.field(l, "producer").getOrElse("?"),
      Json.field(l, "topic").getOrElse("?"),
      Json.field(l, "time").map(_.toLong).getOrElse(-1L),
      Json.field(l, "seq").map(_.toLong).getOrElse(-1L))
  }

  /** `from <producers> [between a and b] t1, t2, ... [where] [limit n]`:
    * rows ordered by (time, producer's position in the from-list, topic's
    * position in the select list, seq) — dp3's merge order. */
  def merged(log: Seq[Msg], producers: Seq[String], topics: Seq[String],
      between: Option[(Long, Long)], pred: Msg => Boolean = _ => true,
      limit: Option[Int] = None): Seq[Key] = {
    val pIdx = producers.zipWithIndex.toMap
    val tIdx = topics.zipWithIndex.toMap
    val rows = log.filter(m => pIdx.contains(m.producer) &&
        tIdx.contains(m.topic) &&
        between.forall { case (a, b) => m.time >= a && m.time < b } &&
        pred(m))
      .sortBy(m => (m.time, pIdx(m.producer), tIdx(m.topic), m.seq))
      .map(keyOf)
    limit.fold(rows)(rows.take)
  }

  /** `from p between a and b L precedes R by less than thr`: dp3's
    * as-of automaton run sequentially per producer — each right matches
    * the latest left at or before it when within `thr`; a matched left is
    * emitted once. Returns (matched left keys in time order, total rows). */
  def asof(log: Seq[Msg], producer: String, left: String, right: String,
      between: (Long, Long), thrNs: Long): (Seq[Key], Int) = {
    val (a, b) = between
    val events = log.filter(m => m.producer == producer &&
        (m.topic == left || m.topic == right) && m.time >= a && m.time < b)
      .map(m => (m, if (m.topic == left) 0 else 1))
      .sortBy { case (m, side) => (m.time, side, m.seq) }
    var last: Option[Msg] = None
    val lefts = scala.collection.mutable.LinkedHashSet[Key]()
    var rights = 0
    events.foreach {
      case (m, 0) => last = Some(m)
      case (m, _) => last.foreach { l =>
        if (m.time < l.time + thrNs) { lefts += keyOf(l); rights += 1 }
      }
    }
    (lefts.toSeq, lefts.size + rights)
  }

  /** msg_count per (producer, topic, bin start) over the bins of width
    * `widthNs` overlapping [a, b), optionally for one producer or topic. */
  def bins(log: Seq[Msg], widthNs: Long, between: (Long, Long),
      producer: Option[String], topic: Option[String])
      : Map[(String, String, Long), Long] = {
    val (a, b) = between
    val lo = Math.floorDiv(a, widthNs) * widthNs
    val hi = Math.floorDiv(b + widthNs - 1, widthNs) * widthNs
    log.filter(m => m.time >= lo && m.time < hi &&
        producer.forall(_ == m.producer) && topic.forall(_ == m.topic))
      .groupBy(m => (m.producer, m.topic,
        Math.floorDiv(m.time, widthNs) * widthNs))
      .map { case (k, ms) => k -> ms.size.toLong }
  }

  /** The stat tier a granularity is served from: 60 s leaves, branching
    * factor 64, the coarsest tier no wider than the request. */
  def tierWidth(granularityNs: Long): Long = {
    var w = RobotLog.NsPerMin
    while (w * 64 <= granularityNs) w *= 64
    w
  }

  def responseBins(r: HttpResult): Map[(String, String, Long), Long] =
    r.lines.map { l =>
      ((Json.field(l, "producer").getOrElse("?"),
        Json.field(l, "topic").getOrElse("?"),
        Json.field(l, "start_ns").map(_.toLong).getOrElse(-1L)),
        Json.field(l, "msg_count").map(_.toLong).getOrElse(-1L))
    }.groupMapReduce(_._1)(_._2)(_ + _)
}
