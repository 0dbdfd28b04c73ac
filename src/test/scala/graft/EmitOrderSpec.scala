package graft

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.api.{Dp3Service, IngestStore}
import graft.plan.Planner
import graft.ql.{Parser, Query}

/** The service's answer is dp3's one time-ordered stream: for every
  * query shape the emitted row sequence equals a driver-side sort of
  * the same rows by the planner's order keys (`emit_time`, `_mj`,
  * `emit_side`, `seq`; `emit_time` and `seq` descending under `desc`),
  * sliced by offset and limit. */
class EmitOrderSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val store = TestSpark.robotStore("graft-emit-order")
  private lazy val svc = {
    val cat = store._2
    new Dp3Service(cat, s => cat.messages(s), Some(IngestStore(cat)))
  }

  private val (a, b) = (300L * 1000000000L, 900L * 1000000000L)

  /** The planner's order columns the service drops. */
  private val orderCols = Seq("emit_time", "_mj", "emit_side")

  /** The rows of `ql` without its limit and offset, with the order
    * keys, sorted on the driver, then sliced like the query. */
  private def driverSorted(ql: String): Seq[Row] = {
    val q = Parser.parse(ql).asInstanceOf[Query]
    val all = new Planner(store._2)
      .plan(spark, q.copy(limit = None, offset = None))
    val keys = orderCols :+ "seq"
    val out = all.columns.filterNot(orderCols.contains)
    val rows = all.select((keys ++ out).map(all.col): _*).collect().toSeq
    def key(r: Row) = keys.indices.map(r.getAs[Number](_).longValue)
    // the keys order every row: no two rows tie
    assert(rows.map(key).distinct.size == rows.size, ql)
    val sign = if (q.descending) -1L else 1L
    val sorted = rows.sortBy { r =>
      val Seq(t, mj, side, seq) = key(r)
      (sign * t, mj, side, sign * seq)
    }.map(r => Row.fromSeq(r.toSeq.drop(keys.size)))
    val from = q.offset.getOrElse(0L).toInt
    sorted.slice(from, q.limit.fold(sorted.size)(n => from + n.toInt))
  }

  for ((shape, ql) <- Seq(
    "merge" -> s"from p1 between $a and $b imu, odom;",
    "star over an unsorted producer list" ->
      s"from p3, p1 between $a and $b gps, diag;",
    "from *" -> s"from * between $a and $b gps, diag;",
    "asof" -> (s"from p1 between $a and $b gps precedes imu " +
      "by less than 500 milliseconds;"),
    "desc" -> s"from p2, p0 between $a and $b imu, odom desc;",
    "offset without limit" ->
      s"from p1 between $a and $b imu, odom offset 7;",
    "limit and offset" ->
      s"from p1 between $a and $b imu, odom limit 20 offset 7;"))
    test(s"$shape: the service emits the driver-side sort of its rows") {
      val want = driverSorted(ql)
      assert(want.nonEmpty)
      val got = svc.query(spark, ql)
      assert(got.columns.toSeq == new Planner(store._2).plan(spark, ql)
        .columns.filterNot(orderCols.contains).toSeq)
      assert(got.collect().toSeq == want, ql)
    }

  test("an unlimited answer within the emit budget sorts in one task; " +
      "over it the global sort keeps its range partitions and the order") {
    val ql = s"from p3, p1 between $a and $b gps, diag;"
    def physical(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.toString.toLowerCase
    val within = new Planner(store._2).plan(spark, ql)
    assert(physical(within).contains("singlepartition"))
    assert(!physical(within).contains("rangepartitioning"))
    // an RDD's rows are a leaf of unknown size: too big for one task
    val msgs = store._2.messages(spark)
    val over = new Planner(new graft.model.DataFrameCatalog(
      spark.createDataFrame(msgs.rdd, msgs.schema))).plan(spark, ql)
    assert(physical(over).contains("rangepartitioning"))
    assert(!physical(over).contains("singlepartition"))
    assert(over.drop(orderCols: _*).collect().toSeq == driverSorted(ql))
    // 1/16 of the smaller of the result cap (0 = none) and the heap
    val (gib, heap) = (1L << 30, 3L << 30)
    assert(Planner.emitBudget(gib, heap) == 64L * (1 << 20))
    assert(Planner.emitBudget(0L, heap) == heap / 16)
    assert(Planner.emitBudget(8 * gib, heap) == heap / 16)
  }
}
