package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

import graft.stats.DDSketch

/** DDSketch accuracy + mergeability (the property the stat tiers rely
  * on — reference: server/nodestore/statistics.go:129-155).
  */
class DDSketchSpec extends AnyFunSuite {

  private def sketchOf(xs: Seq[Double]): Map[Int, Long] =
    xs.foldLeft(Map.empty[Int, Long])(DDSketch.add)

  test("quantiles within 1% relative error") {
    val rnd = new Random(42)
    val xs = Seq.fill(20000)(math.exp(rnd.nextGaussian() * 2)) // heavy tail
    val sorted = xs.sorted
    val sk = sketchOf(xs)
    for (q <- Seq(0.25, 0.5, 0.75, 0.9, 0.95, 0.99)) {
      val exact = sorted(math.ceil(q * (xs.size - 1)).toInt)
      val est = DDSketch.quantile(sk, q)
      assert(math.abs(est - exact) / exact <= 0.0101,
        s"q=$q exact=$exact est=$est")
    }
  }

  test("merge is exactly associative") {
    val rnd = new Random(7)
    val a = Seq.fill(5000)(rnd.nextDouble() * 100 - 50)
    val b = Seq.fill(3000)(rnd.nextGaussian() * 10)
    assert(DDSketch.mergeMaps(sketchOf(a), sketchOf(b)) == sketchOf(a ++ b))
  }

  test("negative values and zero route to sign-folded buckets") {
    val sk = sketchOf(Seq(-5.0, -0.5, 0.0, 0.5, 5.0))
    assert(DDSketch.quantile(sk, 0.0) < 0)
    assert(math.abs(DDSketch.quantile(sk, 0.5)) < 1e-9)
    assert(DDSketch.quantile(sk, 1.0) > 0)
  }

  test("NaN and Inf are skipped like the reference") {
    val sk = sketchOf(Seq(1.0, Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, 2.0))
    assert(sk.values.sum == 2L)
  }

  test("NaN values are skipped through the Spark aggregation path too") {
    val spark = TestSpark.spark
    import spark.implicits._
    import graft.stats.StatTiers
    // a null or NaN must NOT become a phantom 0.0 sample in the sketch
    val df = Seq(("p", "t", 1L, 1L, 1.0), ("p", "t", 2L, 2L, Double.NaN),
      ("p", "t", 3L, 3L, 2.0))
      .toDF("producer", "topic", "time", "seq", "value")
    val sk = StatTiers.base(df, 1000L)
      .select("sketch").collect().head.getMap[Int, Long](0)
    assert(sk.values.sum == 2L, sk)
    assert(!sk.contains(0), s"phantom zero bucket: $sk")
  }

  test("columnar row-form sketch pipeline equals the map-form sketch " +
      "bucket for bucket and quantile for quantile") {
    // the serving path runs the row form (codegen HashAggregate +
    // window cumsum); the map form (typed aggregator + interpreted
    // quantile walk) is the stored-tier face. They must be the SAME
    // sketch: same keys, same counts, same quantiles — over values
    // spanning sign folds, the zero bucket, sub-MinValue magnitudes,
    // NaN/Inf/null skips, and multi-bucket merges.
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, explode}
    import graft.stats.StatTiers
    val rnd = new Random(19)
    val rows = (0 until 4000).map { i =>
      val v: java.lang.Double = rnd.nextInt(12) match {
        case 0 => 0.0
        case 1 => rnd.nextDouble() * 1e-10 // below MinValue
        case 2 => -math.exp(rnd.nextGaussian() * 3)
        case 3 => Double.NaN
        case 4 => Double.PositiveInfinity
        case 5 => null
        case _ => math.exp(rnd.nextGaussian() * 3)
      }
      ("p" + (i % 2), "t", i.toLong * 700L, i.toLong, v)
    }
    val df = rows.toDF("producer", "topic", "time", "seq", "value")
    val widthNs = 10000L
    // bucket-for-bucket: row form == exploded map form
    val rowForm = StatTiers
      .rollupSketchRows(StatTiers.sketchRows(df, widthNs), 4L)
      .select("producer", "topic", "bucket", "kb", "c")
      .as[(String, String, Long, Int, Long)].collect().toSet
    val mapForm = StatTiers.rollup(StatTiers.base(df, widthNs), 4L)
      .select(col("producer"), col("topic"), col("bucket"),
        explode(col("sketch")))
      .as[(String, String, Long, Int, Long)].collect().toSet
    assert(rowForm == mapForm)
    // quantile-for-quantile: window-cumsum walk == DDSketch.quantile
    val qs = Seq(0.25, 0.5, 0.9, 0.99)
    val served = StatTiers.serveQuantileRows(
        StatTiers.rollupSketchRows(StatTiers.sketchRows(df, widthNs), 4L),
        qs)
      .collect().map(r => ((r.getString(0), r.getString(1),
        r.getLong(2)), qs.indices.map(i => r.getDouble(4 + i)))).toMap
    val sketches = StatTiers.rollup(StatTiers.base(df, widthNs), 4L)
      .select(col("producer"), col("topic"), col("bucket"), col("sketch"))
      .collect().map(r => ((r.getString(0), r.getString(1),
        r.getLong(2)), r.getMap[Int, Long](3)))
    assert(sketches.nonEmpty)
    sketches.foreach { case (key, m0) =>
      val m = Map(m0.toSeq: _*)
      if (m.nonEmpty) {
        val got = served(key)
        qs.zipWithIndex.foreach { case (q, i) =>
          val want = DDSketch.quantile(m, q)
          // exact: both faces map the selected key to its value with
          // StrictMath.pow (bucketValue and Spark's pow)
          assert(got(i) == want, s"$key q=$q: ${got(i)} vs $want")
        }
      } else assert(!served.contains(key))
    }
  }

  test("bucketValue equals Spark's sketchKeyValue bit for bit for key " +
      "0 and every |k| <= 3000, in generated and in interpreted code") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.{col, when}
    import graft.stats.StatTiers
    val offset = 1073741824
    val keys = 0 +: (-3000 to 3000).flatMap(k =>
      Seq(k + offset, -(k + offset)))
    def values(df: DataFrame): Map[Int, Double] =
      df.select(col("kb"), StatTiers.sketchKeyValue(col("kb"))).collect()
        .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    // generated code: the keys are a column of a range scan
    val id = col("id")
    val generated = values(spark.range(keys.size).select(
      when(id === 0, 0)
        .when(id <= 6001, id - 3001 + offset)
        .otherwise(-(id - 9002 + offset)).cast("int").as("kb")))
    // interpreted: the optimizer evaluates a projection of a local
    // relation on the driver
    val interpreted = values(keys.toDF("kb"))
    for (got <- Seq(generated, interpreted)) {
      assert(got.keySet == keys.toSet)
      val off = keys.filter(k => java.lang.Double.doubleToRawLongBits(
        got(k)) != java.lang.Double.doubleToRawLongBits(
        DDSketch.bucketValue(k)))
      if (off.nonEmpty) fail(s"${off.size} keys differ, e.g. " +
        off.take(3).map(k => s"$k: ${got(k)} vs ${DDSketch.bucketValue(k)}")
          .mkString(", "))
    }
  }

  test("bucketOf equals Spark's sketchKey at every boundary gamma^k and " +
      "one ulp either side, |k| <= 3000, in generated and in " +
      "interpreted code") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.col
    import graft.stats.StatTiers
    val xs = (-3000 to 3000).flatMap { k =>
      val b = StrictMath.pow(DDSketch.Gamma, k)
      Seq(math.nextDown(b), b, math.nextUp(b))
    }.flatMap(x => Seq(x, -x))
    def keys(df: DataFrame): Seq[(Double, Int)] =
      df.select(col("x"), StatTiers.sketchKey(col("x"))).collect()
        .map(r => r.getDouble(0) -> r.getInt(1)).toSeq
    // generated code: a projection over an RDD scan; interpreted: the
    // optimizer evaluates a projection of a local relation on the driver
    val generated = keys(spark.sparkContext.parallelize(xs, 4).toDF("x"))
    val interpreted = keys(xs.toDF("x"))
    for (got <- Seq(generated, interpreted)) {
      assert(got.map(_._1) == xs)
      val off = got.filter { case (x, k) => DDSketch.bucketOf(x) != k }
      if (off.nonEmpty) fail(s"${off.size} of ${xs.size} values differ, " +
        "e.g. " + off.take(3).map { case (x, k) =>
          s"$x: ${DDSketch.bucketOf(x)} vs $k" }.mkString(", "))
    }
  }

  test("tier rollup equals direct aggregation (spark)") {
    val spark = TestSpark.spark
    import graft.stats.StatTiers
    import org.apache.spark.sql.functions._
    val df = TestSpark.prepFixture()
      .withColumnRenamed("f64", "value")
    val t0 = StatTiers.base(df, 2L)   // 2 ns buckets
    val t1 = StatTiers.rollup(t0, 4L) // 8 ns buckets
    val direct = StatTiers.base(df, 8L)
    val got = t1.select("producer", "topic", "bucket", "msg_count",
      "num_min", "num_max").orderBy("topic", "bucket").collect().toSeq
    val want = direct.select("producer", "topic", "bucket", "msg_count",
      "num_min", "num_max").orderBy("topic", "bucket").collect().toSeq
    assert(got == want)
    // sketches merge exactly too
    val gotSk = t1.select("topic", "bucket", "sketch")
      .orderBy("topic", "bucket")
      .collect().map(_.getMap[Int, Long](2).toMap).toSeq
    val wantSk = direct.select("topic", "bucket", "sketch")
      .orderBy("topic", "bucket")
      .collect().map(_.getMap[Int, Long](2).toMap).toSeq
    assert(gotSk == wantSk)
  }

  test("per-field tier rollup equals direct aggregation") {
    val spark = TestSpark.spark
    import graft.stats.StatTiers
    val df = TestSpark.prepFixture()
    val numeric = Seq("f64", "i32")
    val text = Seq("s")
    val t0 = StatTiers.baseFields(df, 2L, numeric, text)
    val t1 = StatTiers.rollupFields(t0, 4L)
    val direct = StatTiers.baseFields(df, 8L, numeric, text)
    def flat(t: org.apache.spark.sql.DataFrame) =
      StatTiers.serveFields(t, numeric, text, quantiles = Seq(0.5))
        .orderBy("producer", "topic", "start_ns", "field")
        .collect().toSeq
    assert(flat(t1) == flat(direct))
    // flat records carry both field types with the right population
    val fields = flat(t1).map(r => (r.getAs[String]("field"),
      r.getAs[String]("field_type"))).distinct.toSet
    assert(fields == Set(("f64", "numeric"), ("i32", "numeric"),
      ("s", "text")))
  }
}
