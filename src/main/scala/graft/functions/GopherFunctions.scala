package graft.functions

import java.nio.charset.StandardCharsets
import java.util.regex.Pattern

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression,
  GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression computing ALL Gopher repetition signals
  * (Rae et al. 2021, Table A1) for one document in a single compiled
  * pass: duplicate-line count/char mass, top {2,3,4}-gram coverage,
  * duplicate {5..10}-gram coverage — each as an exact half-up integer
  * micro-unit ratio (the cross-engine rule).
  *
  * The builtin composition (9 per-n `array_sort`s over gram arrays +
  * filter/zip_with/aggregate run walks) is semantically identical but
  * runs INTERPRETED — higher-order functions have no codegen — and was
  * the registry's heaviest entry by 4x (67 s of CPU for 5k documents
  * at sf0.1; a two-lane rolling-hash variant was WORSE at 91 s, the
  * per-fold-step struct allocation dominating). This expression hands
  * the whole document to one static method inside whole-stage codegen:
  * token split, per-n gram counting over open-addressed string maps,
  * and the micro-unit arithmetic all in compiled JVM code.
  *
  * Semantics mirror the SQL composition (and the DuckDB oracle)
  * exactly:
  *   - tokens: explicit-whitespace-class (`[ \t\n\x0B\f\r]+`) splits
  *     of `UTF8String.toLowerCase` (Spark's `lower`), empties
  *     dropped — never `\s`, whose Java and RE2 readings disagree on
  *     U+000B;
  *   - lines: `lineSep` splits of the RAW text, trimmed of ' ' only
  *     (Spark `trim`), empties dropped;
  *   - `length` counts CODE POINTS (Spark/DuckDB `length`);
  *   - top-gram count ties break to the UTF-8-BYTE-largest gram
  *     (`UTF8String.compare` — engines compare strings as unsigned
  *     bytes; Java's `String.compareTo` orders UTF-16 units and
  *     disagrees on supplementary-plane text, so it is NOT used);
  *   - ratios: `(num·2e6 + den) div (den·2)` in non-negative longs.
  */
case class GopherSignals(child: Expression, lineSep: String)
    extends UnaryExpression {

  override def dataType: DataType = GopherSignals.schema
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure(
        s"${GopherFunctions.name} expects string, got ${child.dataType}")

  override def nullSafeEval(s: Any): Any =
    GopherSignals.compute(s.asInstanceOf[UTF8String], lineSep)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val sepRef = ctx.addReferenceObj("gopherLineSep", lineSep,
      "java.lang.String")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.GopherSignals.compute($c, $sepRef)")
  }

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

object GopherSignals {

  val fieldNames: Seq[String] =
    Seq("n_lines", "dup_line_micro6", "dup_line_char_micro6") ++
      Seq(2, 3, 4).map(n => s"top${n}_char_micro6") ++
      (5 to 10).map(n => s"dup${n}_char_micro6")

  val schema: StructType =
    StructType(fieldNames.map(StructField(_, LongType, nullable = false)))

  // the explicit whitespace class, not `\s`: Java's `\s` equals this
  // set exactly, but the DuckDB oracle's RE2 `\s` lacks U+000B — both
  // faces embed the identical explicit class (the line-key pinning
  // rule applied to tokenization)
  private val Ws = Pattern.compile("[ \\t\\n\\x0B\\f\\r]+")

  /** line separators are per-operator constants — one compiled pattern
    * each, shared across tasks */
  private val sepCache =
    new java.util.concurrent.ConcurrentHashMap[String, Pattern]()
  private def sepPattern(sep: String): Pattern = {
    val got = sepCache.get(sep)
    if (got != null) got
    else sepCache.computeIfAbsent(sep,
      s => Pattern.compile(Pattern.quote(s)))
  }

  /** Spark `trim`: strip ' ' (0x20) from both ends — Java's
    * `String.trim` also strips control chars and would diverge. */
  private def trimSpaces(s: String): String = {
    var a = 0
    var b = s.length
    while (a < b && s.charAt(a) == ' ') a += 1
    while (b > a && s.charAt(b - 1) == ' ') b -= 1
    if (a == 0 && b == s.length) s else s.substring(a, b)
  }

  private def cpLen(s: String): Long =
    s.codePointCount(0, s.length).toLong

  /** exact half-up num/den in 1e-6 units, non-negative longs */
  private def micro(num: Long, den: Long): Long =
    if (den <= 0L) 0L else (num * 2000000L + den) / (den * 2L)

  /** UTF-8 unsigned-byte order — Spark's string comparison */
  private def utf8Gt(a: String, b: String): Boolean =
    UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) > 0

  /** Called from generated code — one pass per document. */
  def compute(text: UTF8String, lineSep: String): InternalRow = {
    val c = counts(text, lineSep)
    val out = new Array[Long](12)
    out(0) = c(0)
    out(1) = micro(c(1), c(0))
    out(2) = micro(c(3), c(2))
    var n = 2
    while (n <= 10) {
      out(1 + n) = micro(c(3 + n), c(4))
      n += 1
    }
    new GenericInternalRow(out.map(v => v: Any))
  }

  /** The published REMOVAL decision over the same counts — Rae et al.
    * Table A1's repetition half, removal on STRICTLY greater than each
    * threshold, decided on EXACT integer cross-products, never the
    * half-up micro columns ([[compute]]'s quantization maps true
    * ratios a hair past a boundary onto the boundary value — the
    * gopher_keep fidelity rule from the quality half). Lines stand in
    * for paragraphs at the chosen `lineSep` granularity (the 12
    * signals carry no separate paragraph lane). Zero denominators
    * keep (0/0 ratios have nothing to remove on). Called from
    * generated code. */
  def repKeep(text: UTF8String, lineSep: String): Boolean = {
    val c = counts(text, lineSep)
    val nLines = c(0); val dupLines = c(1)
    val lChars = c(2); val dupLineChars = c(3)
    val charLen = c(4)
    dupLines * 10L <= nLines * 3L && // dup line frac      <= 0.30
    dupLineChars * 5L <= lChars &&   // dup line char frac <= 0.20
    c(5) * 5L <= charLen &&          // top 2-gram         <= 0.20
    c(6) * 50L <= charLen * 9L &&    // top 3-gram         <= 0.18
    c(7) * 25L <= charLen * 4L &&    // top 4-gram         <= 0.16
    c(8) * 20L <= charLen * 3L &&    // dup 5-gram chars   <= 0.15
    c(9) * 50L <= charLen * 7L &&    // dup 6-gram chars   <= 0.14
    c(10) * 100L <= charLen * 13L && // dup 7-gram chars   <= 0.13
    c(11) * 25L <= charLen * 3L &&   // dup 8-gram chars   <= 0.12
    c(12) * 100L <= charLen * 11L && // dup 9-gram chars   <= 0.11
    c(13) * 10L <= charLen           // dup 10-gram chars  <= 0.10
  }

  /** raw numerators/denominators of the 12 signals, one pass:
    * [0]=nLines [1]=dupLines [2]=lineChars [3]=dupLineChars
    * [4]=charLen [3+n]=top-n-gram char mass (n=2..4) / duplicated
    * n-gram char mass (n=5..10) */
  private def counts(text: UTF8String, lineSep: String): Array[Long] = {
    val out = new Array[Long](14)

    // --- lines ---------------------------------------------------------
    val rawParts = sepPattern(lineSep).split(text.toString, -1)
    val lineCounts = new java.util.HashMap[String, Array[Long]]()
    var nLines = 0L
    var lChars = 0L
    var li = 0
    while (li < rawParts.length) {
      val l = trimSpaces(rawParts(li))
      if (l.nonEmpty) {
        nLines += 1L
        lChars += cpLen(l)
        val slot = lineCounts.get(l)
        if (slot == null) lineCounts.put(l, Array(1L, cpLen(l)))
        else slot(0) += 1L
      }
      li += 1
    }
    var dupLines = 0L
    var dupLineChars = 0L
    val lcIt = lineCounts.values().iterator()
    while (lcIt.hasNext) {
      val slot = lcIt.next()
      if (slot(0) > 1L) {
        dupLines += slot(0)
        dupLineChars += slot(0) * slot(1)
      }
    }
    out(0) = nLines
    out(1) = dupLines
    out(2) = lChars
    out(3) = dupLineChars

    // --- tokens ----------------------------------------------------------
    val lowParts = Ws.split(text.toLowerCase.toString, -1)
    var t = 0
    var nToks = 0
    while (t < lowParts.length) {
      if (lowParts(t).nonEmpty) nToks += 1
      t += 1
    }
    val toks = new Array[String](nToks)
    val lens = new Array[Long](nToks)
    var charLen = 0L
    t = 0
    var k = 0
    while (t < lowParts.length) {
      if (lowParts(t).nonEmpty) {
        toks(k) = lowParts(t)
        lens(k) = cpLen(lowParts(t))
        charLen += lens(k)
        k += 1
      }
      t += 1
    }
    if (nToks > 0) charLen += (nToks - 1).toLong
    out(4) = charLen

    // --- per-n gram counting ---------------------------------------------
    // slot = (count, gram code-point length); gram identity is the
    // exact joined string — no hashing caveat, and the JVM pays ~100ns
    // per gram where the interpreted HOF walk paid microseconds.
    var n = 2
    while (n <= 10) {
      val wins = nToks - n + 1
      if (wins > 0) {
        val counts =
          new java.util.HashMap[String, Array[Long]](wins * 2)
        var i = 0
        while (i < wins) {
          val sb = new java.lang.StringBuilder(16 * n)
          var j = 0
          var glen = (n - 1).toLong
          while (j < n) {
            if (j > 0) sb.append(' ')
            sb.append(toks(i + j))
            glen += lens(i + j)
            j += 1
          }
          val g = sb.toString
          val slot = counts.get(g)
          if (slot == null) counts.put(g, Array(1L, glen))
          else slot(0) += 1L
          i += 1
        }
        if (n <= 4) {
          // top gram: max count, ties to the UTF-8-byte-largest value
          var bestCnt = -1L
          var bestGram: String = null
          var bestLen = 0L
          val it = counts.entrySet().iterator()
          while (it.hasNext) {
            val e = it.next()
            val c = e.getValue()(0)
            if (c > bestCnt ||
                (c == bestCnt && utf8Gt(e.getKey, bestGram))) {
              bestCnt = c
              bestGram = e.getKey
              bestLen = e.getValue()(1)
            }
          }
          out(3 + n) = bestCnt * bestLen
        } else {
          var dupChars = 0L
          val it = counts.values().iterator()
          while (it.hasNext) {
            val slot = it.next()
            if (slot(0) > 1L) dupChars += slot(0) * slot(1)
          }
          out(3 + n) = dupChars
        }
      }
      n += 1
    }
    out
  }
}

/** The composite Gopher repetition KEEP decision as one native
  * boolean — [[GopherSignals]]' counting pass feeding the exact
  * integer cross-product thresholds ([[GopherSignals.repKeep]])
  * instead of the quantized micro ratios. This is the inline-gate
  * face [[graft.pipeline.Curate.curate]] composes into its quality
  * stage: row-local, one compiled pass, no struct materialized. */
case class GopherRepKeep(child: Expression, lineSep: String)
    extends UnaryExpression {

  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure(
        s"${GopherFunctions.repKeepName} expects string, " +
          s"got ${child.dataType}")

  override def nullSafeEval(s: Any): Any =
    GopherSignals.repKeep(s.asInstanceOf[UTF8String], lineSep)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val sepRef = ctx.addReferenceObj("gopherLineSep", lineSep,
      "java.lang.String")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.GopherSignals.repKeep($c, $sepRef)")
  }

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

/** Registration + Column-level API (the [[TextFunctions]] pattern). */
object GopherFunctions {

  val name = "graft_gopher_signals"

  /** The SQL-facing builder, shared with [[GraftExtensions]]: the
    * second argument is the line separator and must be a FOLDABLE
    * string (it parameterizes the compiled expression, like a
    * format string). Validated here with real messages — a bare
    * `exprs(1).eval` would throw an internal IndexOutOfBounds /
    * unresolved-expression error at a SQL user instead of an
    * analysis-time complaint. */
  def build(exprs: Seq[Expression]): Expression = {
    if (exprs.length != 2)
      throw new IllegalArgumentException(
        s"$name expects (text, lineSep), got ${exprs.length} argument" +
          s"${if (exprs.length == 1) "" else "s"}")
    val sep = exprs(1)
    if (sep.dataType != org.apache.spark.sql.types.StringType
        || !sep.foldable)
      throw new IllegalArgumentException(
        s"$name: lineSep must be a string literal, got $sep")
    val sepVal = sep.eval(InternalRow.empty)
    if (sepVal == null)
      throw new IllegalArgumentException(s"$name: lineSep is null")
    GopherSignals(exprs.head,
      sepVal.asInstanceOf[UTF8String].toString)
  }

  val repKeepName = "graft_gopher_rep_keep"

  /** [[build]]'s validation for the boolean keep face */
  def buildRepKeep(exprs: Seq[Expression]): Expression = {
    if (exprs.length != 2)
      throw new IllegalArgumentException(
        s"$repKeepName expects (text, lineSep), got ${exprs.length} " +
          s"argument${if (exprs.length == 1) "" else "s"}")
    val sep = exprs(1)
    if (sep.dataType != org.apache.spark.sql.types.StringType
        || !sep.foldable)
      throw new IllegalArgumentException(
        s"$repKeepName: lineSep must be a string literal, got $sep")
    val sepVal = sep.eval(InternalRow.empty)
    if (sepVal == null)
      throw new IllegalArgumentException(s"$repKeepName: lineSep is null")
    GopherRepKeep(exprs.head,
      sepVal.asInstanceOf[UTF8String].toString)
  }

  def register(spark: SparkSession): Unit = {
    SessionFunctions.ensure(spark, name)(build)
    SessionFunctions.ensure(spark, repKeepName)(buildRepKeep)
  }

  /** struct of all 12 Gopher repetition signals, codegen'd */
  def gopherSignals(text: Column, lineSep: String): Column = {
    register(SparkSession.active)
    call_function(name, text, lit(lineSep))
  }

  /** the composite repetition keep, codegen'd — exact integer
    * thresholds over the same one-pass counts */
  def gopherRepKeep(text: Column, lineSep: String): Column = {
    register(SparkSession.active)
    call_function(repKeepName, text, lit(lineSep))
  }
}
