package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** The native vector expressions: the codegen'd double dot product
  * and its integer-quantized sibling (`graft_dotq`) — the SRP sign
  * source whose whole point is being bit-identical across engines,
  * execution modes, and fold orders. */
class VectorFunctionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def refDotQ(a: Seq[Double], b: Seq[Double]): Long =
    a.zip(b).map { case (x, y) =>
      math.floor(x * 1e6).toLong * math.floor(y * 1e6).toLong
    }.sum

  test("dotQ equals the per-element floor(x*1e6) BIGINT sum, codegen " +
      "and interpreted alike") {
    val rnd = new scala.util.Random(23)
    val rows = (0 until 200).map { i =>
      val a = Seq.fill(16)(rnd.nextGaussian() * 3)
      val b = Seq.fill(16)(if (rnd.nextBoolean()) 1.0 else -1.0)
      (i.toLong, a, b)
    }
    val df = rows.toDF("id", "a", "b")
    val got = df.select(col("id"),
        VectorFunctions.dotQ(col("a"), col("b")).as("q"))
      .as[(Long, Long)].collect().toMap
    rows.foreach { case (id, a, b) =>
      assert(got(id) == refDotQ(a, b), s"id=$id")
    }
    // float input arrays quantize the WIDENED double — same contract
    // as the double dot (embeddings ship as array<float>)
    val f = Seq((1L, Seq(0.5f, -1.25f), Seq(1.0, 1.0)))
      .toDF("id", "a", "b")
    val fq = f.select(VectorFunctions.dotQ(col("a"), col("b")))
      .as[Long].head()
    assert(fq == refDotQ(Seq(0.5f.toDouble, -1.25f.toDouble),
      Seq(1.0, 1.0)))
  }

  test("graft functions register once per session: building a column " +
      "twice keeps the first builder") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import graft.functions.TextFunctions
    val registry = spark.sessionState.functionRegistry
    val id = FunctionIdentifier(TextFunctions.trgmName)
    def entry() = (registry.lookupFunction(id).get,
      registry.lookupFunctionBuilder(id).get)
    TextFunctions.trgmMasks(lit("abc"))
    val (info, builder) = entry()
    TextFunctions.trgmMasks(lit("abd"))
    // a re-registration would install a fresh ExpressionInfo (the
    // builder lambda captures nothing, so it alone cannot tell)
    assert(entry()._1 eq info)
    assert(entry()._2 eq builder)
  }

  test("dotQ sign decisions are fold-order free: integer sum equals " +
      "the reversed and shuffled accumulation") {
    // the double fold this replaced differed by ~1e-15 under
    // reordering — enough to flip a sign read off it; the integer
    // sum is exactly associative, so every ordering agrees
    val rnd = new scala.util.Random(5)
    (0 until 100).foreach { _ =>
      val a = Seq.fill(64)(rnd.nextGaussian() * 1e-3) // near zero
      val w = Seq.fill(64)(if (rnd.nextBoolean()) 1.0 else -1.0)
      val terms = a.zip(w).map { case (x, y) =>
        math.floor(x * 1e6).toLong * math.floor(y * 1e6).toLong
      }
      assert(terms.sum == terms.reverse.sum
        && terms.sum == rnd.shuffle(terms).sum)
    }
  }

  test("dotQ rejects non-array inputs at analysis time") {
    val df = Seq((1L, Seq(1.0))).toDF("id", "a")
    val e = intercept[Exception] {
      df.select(VectorFunctions.dotQ(col("id"), col("a"))).collect()
    }
    assert(e.getMessage.contains("graft_dotq")
      || e.getMessage.toLowerCase.contains("type"))
  }
}
