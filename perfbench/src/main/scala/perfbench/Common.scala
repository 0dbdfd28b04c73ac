package perfbench

import java.io.ByteArrayOutputStream
import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable.ArrayBuffer

/** Percentiles and medians over recorded samples. */
object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (q in [0, 1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/** Minimal JSON writing for the result lines (flat maps of numbers,
  * strings and nested maps). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Already-rendered JSON, embedded as is. */
  final case class Raw(json: String)

  def value(v: Any): String = v match {
    case null => "null"
    case Raw(j) => j
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kvs: Seq[(String, Any)]): String =
    kvs.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  private def fieldRe(key: String) =
    ("\"" + java.util.regex.Pattern.quote(key) +
      "\":(\"(?:[^\"\\\\]|\\\\.)*\"|[-0-9.eE+]+|true|false|null)").r

  /** One top-level scalar field of a flat JSON object, raw (strings
    * keep their quotes stripped). */
  def field(line: String, key: String): Option[String] =
    fieldRe(key).findFirstMatchIn(line).map { m =>
      val v = m.group(1)
      if (v.startsWith("\"")) v.substring(1, v.length - 1) else v
    }
}

/** One HTTP exchange as the client saw it. */
final case class HttpResult(status: Int, ttfbMs: Double, bodyMs: Double,
    body: String) {
  lazy val lines: Seq[String] = body.split('\n').toSeq.filter(_.nonEmpty)
}

/** A closed-loop client: one request in flight, one keep-alive
  * connection (the JDK reuses it while each body is read to the end). */
final class Client(base: String) {
  def get(path: String, params: Seq[(String, String)] = Nil): HttpResult = {
    val q = if (params.isEmpty) "" else params.map { case (k, v) =>
      s"$k=${URLEncoder.encode(v, UTF_8)}" }.mkString("?", "&", "")
    exchange("GET", path + q, None)
  }

  def post(path: String, body: String): HttpResult =
    exchange("POST", path, Some(body))

  private def exchange(method: String, path: String,
      body: Option[String]): HttpResult = {
    val t0 = System.nanoTime()
    val c = URI.create(base + path).toURL.openConnection()
      .asInstanceOf[HttpURLConnection]
    c.setRequestMethod(method)
    c.setConnectTimeout(10000)
    c.setReadTimeout(170000)
    body.foreach { b =>
      c.setDoOutput(true)
      c.setRequestProperty("Content-Type", "application/json")
      val out = c.getOutputStream
      out.write(b.getBytes(UTF_8)); out.close()
    }
    val status = c.getResponseCode
    val t1 = System.nanoTime()
    val in = Option(if (status < 400) c.getInputStream else c.getErrorStream)
    val buf = new ByteArrayOutputStream()
    in.foreach { s => s.transferTo(buf); s.close() }
    val t2 = System.nanoTime()
    HttpResult(status, (t1 - t0) / 1e6, (t2 - t1) / 1e6, buf.toString(UTF_8))
  }
}

/** One timed operation of a workload loop. `read` marks what the
  * request metrics count; `ok` is false for an error, a refusal or a
  * wrong answer. `ms` is wall time and `cpuMs` the CPU time of the whole
  * process (every thread) while it ran. `startMs`/`endMs` are
  * wall-clock bounds for the trace; `http` is the client's view of an
  * HTTP exchange. */
final case class Op(layer: String, cls: String, read: Boolean, ms: Double,
    cpuMs: Double, ok: Boolean, detail: String, startMs: Long, endMs: Long,
    http: Option[HttpResult])

/** Everything one pass of a workload loop recorded. */
final class Recorder {
  val ops = ArrayBuffer[Op]()

  /** Time `body` as one operation, then check its result (outside the
    * timing). An exception, an HTTP error or a failed check marks the
    * operation failed. */
  def run[T](layer: String, cls: String, read: Boolean)(body: => T)(
      check: T => Option[String]): Option[T] = {
    val s = System.currentTimeMillis()
    val c0 = Main.cpuNs()
    val t0 = System.nanoTime()
    val res = try Right(body) catch { case e: Exception => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    val cpuMs = (Main.cpuNs() - c0) / 1e6
    val e = System.currentTimeMillis()
    val http = res.toOption.collect { case h: HttpResult => h }
    val err = res match {
      case Left(ex) => Some(ex.toString)
      case Right(h: HttpResult) if h.status != 200 =>
        Some(s"HTTP ${h.status}: ${h.body.take(200)}")
      case Right(v) => check(v)
    }
    ops += Op(layer, cls, read, ms, cpuMs, err.isEmpty, err.getOrElse(""),
      s, e, http)
    res.toOption
  }

  def fail(cls: String, detail: String): Unit = {
    val now = System.currentTimeMillis()
    ops += Op("bench", cls, read = false, 0.0, 0.0, ok = false, detail, now,
      now, None)
  }

  def failures: Seq[String] =
    ops.toSeq.filterNot(_.ok).map(o => s"${o.cls}: ${o.detail}")
  def reads: Seq[Op] = ops.toSeq.filter(_.read)
  def of(cls: String): Seq[Double] = ops.toSeq.filter(_.cls == cls).map(_.ms)
  def p50(cls: String): Option[Double] =
    Some(of(cls)).filter(_.nonEmpty).map(Stats.median)
  def total(cls: String): Double = of(cls).sum
}

/** Progress lines on stderr (stdout carries only the result lines). */
object Log {
  def apply(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def timed[T](what: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    apply(f"$what: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    r
  }
}
