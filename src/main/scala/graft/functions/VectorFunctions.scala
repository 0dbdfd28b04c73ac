package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** Native Catalyst expression for the embedding dot product — the hot
  * scalar of every similarity operator. A `zip_with`+`aggregate`
  * composition is semantically identical but runs interpreted
  * (higher-order functions have no codegen); this expression generates
  * a tight primitive loop inside whole-stage codegen — measured ~4x
  * on the sf0.1 near-dup self-join.
  *
  * Accumulation is a left-to-right IEEE double fold in index order —
  * bit-identical to the `aggregate()` formulation it replaces, so
  * oracle parity is unaffected.
  *
  * Elements must be non-null FLOAT or DOUBLE (embedding vectors).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(e: Expression) = e.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure(
        s"graft_dot expects array<float>/array<double>, got " +
          s"${left.dataType} and ${right.dataType}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val lf = elemType(left) == FloatType
    val rf = elemType(right) == FloatType
    var acc = 0.0
    var i = 0
    while (i < n) {
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      acc += xv * yv
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    def get(arr: String, dt: DataType, i: String): String = dt match {
      case FloatType => s"(double) $arr.getFloat($i)"
      case _         => s"$arr.getDouble($i)"
    }
    val lt = elemType(left); val rt = elemType(right)
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += ${get(a, lt, i)} * ${get(b, rt, i)};
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(newLeft, newRight)
}

/** Micro-unit-quantized dot product — the CROSS-ENGINE-EXACT variant
  * of [[DotProduct]] for decisions that must hash identically on any
  * engine (the SRP sign bit): every element is first quantized to an
  * integer via `floor(x · 1e6)` (floor of an identical IEEE double is
  * unambiguous — the s_centroids lesson), and the accumulator is a
  * plain BIGINT sum, associative and order-free. A double-fold dot
  * differs across engines only by ~1e-15 non-associativity, but a
  * SIGN read off it can flip — this expression closes that window.
  *
  * Overflow contract: |floor(x·1e6) · floor(w·1e6)| ≤ ~1e13 per
  * element for unit-scale embeddings, so vectors up to ~1e5 dims fit
  * a signed 64-bit accumulator with 10^1.8 to spare. */
case class DotQuantized(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(e: Expression) = e.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure(
        s"graft_dotq expects array<float>/array<double>, got " +
          s"${left.dataType} and ${right.dataType}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val lf = elemType(left) == FloatType
    val rf = elemType(right) == FloatType
    var acc = 0L
    var i = 0
    while (i < n) {
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      acc += math.floor(xv * 1e6).toLong * math.floor(yv * 1e6).toLong
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    def get(arr: String, dt: DataType, i: String): String = dt match {
      case FloatType => s"(double) $arr.getFloat($i)"
      case _         => s"$arr.getDouble($i)"
    }
    val lt = elemType(left); val rt = elemType(right)
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += (long) java.lang.Math.floor(${get(a, lt, i)} * 1.0E6)
         |    * (long) java.lang.Math.floor(${get(b, rt, i)} * 1.0E6);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(newLeft, newRight)
}

/** A trained per-subspace residual codebook in the form the native
  * encoder consumes — `[sub][code][pos]` integer micro-unit
  * sub-centroids as an expression reference object (kSub × m × subDim
  * longs: control-plane kilobytes, the [[graft.functions.BpeTable]]
  * discipline). */
final class ResidualCodebook(val cb: Array[Array[Array[Long]]],
    val ids: Array[Array[Long]]) extends Serializable {

  /** dense ids 0..k-1 per subspace — the residual trainer's layout
    * (code ids dense from 0 by construction); the explicit-ids
    * constructor serves the raw coarse-cell codebook, whose code ids
    * are the PRESENT cells and may have gaps */
  def this(cb: Array[Array[Array[Long]]]) =
    this(cb, cb.map(sub => Array.tabulate(sub.length)(_.toLong)))

  require(cb.length == ids.length &&
    cb.indices.forall(s => cb(s).length == ids(s).length),
    "ResidualCodebook: ids must parallel the centroid arrays")

  // fail-loudly at construction, not as an opaque index error inside
  // generated code: a subspace with zero centroids means the stored
  // codebook is corrupt (or the training corpus was empty) — the
  // control-plane-table discipline every builder shares
  require(cb.indices.forall(s => cb(s).nonEmpty),
    s"ResidualCodebook: subspace(s) ${cb.indices.filter(cb(_).isEmpty)
      .mkString(",")} have no centroids — corrupt or empty codebook")

  /** content fingerprint — identifies this codebook in the session
    * function registry */
  lazy val fingerprint: String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val buf = java.nio.ByteBuffer.allocate(8)
    def put(v: Long): Unit = {
      buf.clear(); buf.putLong(v); md.update(buf.array())
    }
    cb.indices.foreach { s =>
      cb(s).indices.foreach { j =>
        cb(s)(j).foreach(put)
        put(ids(s)(j))
        md.update(0.toByte)
      }
      md.update(1.toByte)
    }
    md.digest().take(6).map(x => f"${x & 0xff}%02x").mkString
  }
}

/** Native argmin-L2 residual code — the per-row hot loop of the
  * IVFADC build/append path ([[graft.pipeline.Similarity]]): given
  * the subspace index and the µ-residual subvector, return the id of
  * the nearest sub-centroid by exact integer L2, FIRST minimum
  * winning (ties to the lower code id — the
  * `array_position(dists, array_min(dists))` contract of the HOF
  * composition this replaces). Higher-order functions have no
  * codegen, and the interpreted transform/aggregate argmin was the
  * one flagged hot spot left in the index build: r15 measured the
  * residual sf1 build at 50 s vs 29 s raw, with the tax scaling as
  * kSub × subDim per row per TRAINING ITERATION (production kSub is
  * 256, not the probe's 16). This expression runs the whole argmin
  * in one compiled static loop inside whole-stage codegen.
  *
  * Arithmetic bound: residual components are differences of
  * floor(x·1e6) longs (|·| ≲ 4e6 for unit-scale embeddings), so each
  * squared term is ≲ 1.6e13 and a subDim-length sum stays far inside
  * a signed 64-bit accumulator — the identical math of the HOF fold,
  * term for term. */
case class ResidualCode(left: Expression, right: Expression,
    cb: ResidualCodebook) extends BinaryExpression {

  // left = subspace index (int), right = µ-residual subvector
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = left.dataType == IntegerType &&
      (right.dataType match {
        case ArrayType(LongType, _) => true
        case _ => false
      })
    if (ok)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure(
        s"${VectorFunctions.residualCodeName} expects (int, " +
          s"array<bigint>), got ${left.dataType} and ${right.dataType}")
  }

  override def nullSafeEval(s: Any, rv: Any): Any =
    ResidualCode.code(s.asInstanceOf[Int],
      rv.asInstanceOf[ArrayData], cb)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("residualCodebook", cb,
      classOf[ResidualCodebook].getName)
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.ResidualCode.code($a, $b, $cbRef)")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(newLeft, newRight)
}

object ResidualCode {

  /** Called from generated code. Centroids ride in ascending-id
    * order, so the strict `<` keeps the FIRST (lowest-id) minimum. */
  def code(sub: Int, rv: ArrayData, table: ResidualCodebook): Long = {
    val cents = table.cb(sub)
    var best = 0
    var bestD = java.lang.Long.MAX_VALUE
    var j = 0
    while (j < cents.length) {
      val c = cents(j)
      var d = 0L
      var p = 0
      while (p < c.length) {
        val x = rv.getLong(p) - c(p)
        d += x * x
        p += 1
      }
      if (d < bestD) { bestD = d; best = j }
      j += 1
    }
    table.ids(sub)(best)
  }
}

/** Registration + Column-level API for the custom expressions. */
object VectorFunctions {

  val name = "graft_dot"
  val nameQ = "graft_dotq"

  private val info = new ExpressionInfo(classOf[DotProduct].getName, name)

  /** one-time, idempotent per-session registration */
  def register(spark: SparkSession): Unit = {
    SessionFunctions.ensure(spark, name)(
      exprs => DotProduct(exprs(0), exprs(1)))
    SessionFunctions.ensure(spark, nameQ)(
      exprs => DotQuantized(exprs(0), exprs(1)))
  }

  /** dot(a, b) through the codegen'd native expression */
  def dotF(a: Column, b: Column): Column = {
    register(SparkSession.active)
    call_function(name, a, b)
  }

  /** micro-unit-quantized integer dot(a, b) — cross-engine exact */
  def dotQ(a: Column, b: Column): Column = {
    register(SparkSession.active)
    call_function(nameQ, a, b)
  }

  val residualCodeName = "graft_residual_code"

  /** the session-registry name for this exact codebook (the codebook
    * travels in the builder closure, so the name must identify it —
    * the BpeFunctions fingerprinting discipline) */
  def residualCodeNameFor(table: ResidualCodebook): String =
    residualCodeName + "_" + table.fingerprint

  def registerResidualCode(spark: SparkSession,
      table: ResidualCodebook): String = {
    val fname = residualCodeNameFor(table)
    SessionFunctions.ensure(spark, fname) { exprs =>
      if (exprs.length != 2)
        throw new IllegalArgumentException(
          s"$fname expects (sub, residual), got ${exprs.length} " +
            s"argument${if (exprs.length == 1) "" else "s"}")
      ResidualCode(exprs(0), exprs(1), table)
    }
  }

  /** argmin-L2 residual code id under `cb` ([sub][code][pos] µ-unit
    * sub-centroids, dense ids), codegen'd — see [[ResidualCode]] */
  def residualCode(sub: Column, rv: Column,
      cb: Seq[Seq[Array[Long]]]): Column =
    residualCodeWith(sub, rv,
      new ResidualCodebook(cb.map(_.toArray).toArray))

  /** [[residualCode]] with an explicit [[ResidualCodebook]] — the raw
    * coarse-cell face, whose code ids are the PRESENT cells */
  def residualCodeWith(sub: Column, rv: Column,
      table: ResidualCodebook): Column = {
    val fname = registerResidualCode(SparkSession.active, table)
    call_function(fname, sub, rv)
  }
}

/** `SparkSessionExtensions` hook so deployments can install the
  * function fleet-wide via
  * `spark.sql.extensions=graft.functions.GraftExtensions`
  * instead of calling register() in code. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((FunctionIdentifier(VectorFunctions.name),
      new ExpressionInfo(classOf[DotProduct].getName,
        VectorFunctions.name),
      (exprs: Seq[Expression]) => DotProduct(exprs(0), exprs(1))))
    e.injectFunction((FunctionIdentifier(VectorFunctions.nameQ),
      new ExpressionInfo(classOf[DotQuantized].getName,
        VectorFunctions.nameQ),
      (exprs: Seq[Expression]) => DotQuantized(exprs(0), exprs(1))))
    e.injectFunction((FunctionIdentifier(TextFunctions.trgmName),
      new ExpressionInfo(classOf[TrigramMasks].getName,
        TextFunctions.trgmName),
      (exprs: Seq[Expression]) => TrigramMasks(exprs.head)))
    e.injectFunction((FunctionIdentifier(GopherFunctions.name),
      new ExpressionInfo(classOf[GopherSignals].getName,
        GopherFunctions.name),
      (exprs: Seq[Expression]) => GopherFunctions.build(exprs)))
    e.injectFunction((FunctionIdentifier(GopherFunctions.repKeepName),
      new ExpressionInfo(classOf[GopherRepKeep].getName,
        GopherFunctions.repKeepName),
      (exprs: Seq[Expression]) => GopherFunctions.buildRepKeep(exprs)))
  }
}
