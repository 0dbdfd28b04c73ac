package graft

/** Plan diagnostics for one registry query: run it (warm-up + timed
  * pass), then print the instrumented NodeStats triples and the
  * formatted plan. The perf-iteration companion to Bench — where
  * Bench answers "how long", this answers "where did it go".
  *
  * Usage: runMain graft.PlanProbe <query> [sfDir]
  */
object PlanProbe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: PlanProbe <query> [sfDir]")
    val name = args(0)
    val sfDir =
      if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = graft.util.LocalSession()
    val fn = SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query '$name'"))
    def sweep(): Unit = graft.util.LocalSession.sweep(spark)
    // warm pass (JIT, codegen, file listings) — forced through the
    // full-column hash like Bench: a bare count() lets Catalyst
    // join-eliminate/prune exactly the subtrees being diagnosed, so
    // their codegen and shuffles would NOT be warm and the timed
    // pass would misattribute first-run cost to them
    Bench.forced(fn(spark, sfDir)).collect(); sweep()
    val df = fn(spark, sfDir)
    val t0 = System.nanoTime()
    df.queryExecution.toRdd.count()
    val dt = (System.nanoTime() - t0) / 1e9
    println(f"== $name on $sfDir: $dt%.3f s (warm, single pass)")
    graft.plan.Planner.metricsOf(df).foreach { m =>
      println(f"${m.timeMs}%8d ms ${m.rows}%12d rows " +
        f"${m.bytes}%14d B  ${m.node}")
    }
    System.err.println(df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode))
    sweep()
    spark.stop()
  }
}
