package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression,
  UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression computing a text value's 96-bit trigram
  * signature as its two 48-bit words ([[graft.stats.Trigram]] layout)
  * in ONE pass — padded char trigrams, md5 prefix mod 96, OR into the
  * word masks. The builtin composition (`transform` + two `aggregate`
  * folds over a bits array) is semantically identical but runs
  * interpreted — higher-order functions have no codegen — and pays
  * per-element lambda contexts, boxing, and a second pass for the
  * second word. This expression stays inside whole-stage codegen and
  * hands the whole row to one static loop (the md5 itself dominates;
  * the win is shedding the lambda machinery around it). Measured on
  * the sf0.1 statfilter probe (q_stats_trgm, 100k rows, local[32]):
  * ~1.0 s with the interpreted fold vs ~0.64 s with this expression.
  *
  * Bit derivation is IDENTICAL to `Trigram.bitsOfString` (the probe
  * side of the statfilter): md5 of the trigram's UTF-8 bytes, first 4
  * bytes as an unsigned 32-bit value, mod 96. Windows are UTF-16 code
  * units like the driver-side probe — consistent for all BMP text (the
  * repo's data is ASCII; astral-plane text would window differently
  * from code-point-based engines, a documented non-goal).
  */
case class TrigramMasks(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType,
    containsNull = false)
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure(
        s"${TextFunctions.trgmName} expects string, got ${child.dataType}")

  override def nullSafeEval(s: Any): Any =
    TrigramMasks.compute(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TrigramMasks.compute($c)")

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(newChild)
}

object TrigramMasks {

  /** MessageDigest is stateful and not thread-safe; one per task
    * thread, reset per trigram. */
  private val digest = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest =
      MessageDigest.getInstance("MD5")
  }

  /** Compute both signature words. Called from generated code —
    * must stay a static, allocation-light loop. */
  def compute(s: UTF8String): ArrayData = {
    var w0 = 0L
    var w1 = 0L
    val str = s.toString
    if (str.nonEmpty) {
      val pad = "  " + str + " "
      val md = digest.get()
      var i = 0
      val last = pad.length - 3
      while (i <= last) {
        md.reset()
        val d = md.digest(
          pad.substring(i, i + 3).getBytes(StandardCharsets.UTF_8))
        val v = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
          ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
        val bit = (v % 96L).toInt
        if (bit < 48) w0 |= 1L << bit
        else w1 |= 1L << (bit - 48)
        i += 1
      }
    }
    new GenericArrayData(Array(w0, w1))
  }
}

/** Registration + Column-level API (the [[VectorFunctions]] pattern). */
object TextFunctions {

  val trgmName = "graft_trgm_masks"

  def register(spark: SparkSession): Unit =
    SessionFunctions.ensure(spark, trgmName)(
      exprs => TrigramMasks(exprs.head))

  /** array<long> of the two 48-bit signature words, codegen'd. */
  def trgmMasks(text: Column): Column = {
    register(SparkSession.active)
    call_function(trgmName, text)
  }
}
