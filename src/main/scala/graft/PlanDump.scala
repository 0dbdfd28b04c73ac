package graft

/** Dump the executed `.explain("formatted")` plan of registry
  * entries to files — the optimization-round evidence artifact
  * (`plans/rNN/<query>_{before,after}.txt`). One JVM for the whole
  * list; each entry is executed once (via `queryExecution.toRdd`,
  * never a fresh `count()` — a count plan lets Catalyst
  * join-eliminate the subtrees being documented) so AQE's final
  * plan, not the initial twin, is what prints.
  *
  * Usage: runMain graft.PlanDump <outDir> <suffix> <query> [query...]
  * writes <outDir>/<query>_<suffix>.txt for each.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: PlanDump <outDir> <suffix> <query> [query...]")
    val outDir = new java.io.File(args(0)); outDir.mkdirs()
    val suffix = args(1)
    val names = args.drop(2).toSeq
    val sfDir =
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.util.LocalSession()
    for (name <- names) {
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query '$name'"))
      spark.sparkContext.setJobDescription(s"plandump: $name")
      val df = fn(spark, sfDir)
      df.queryExecution.toRdd.count()
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val f = new java.io.File(outDir, s"${name}_$suffix.txt")
      val w = new java.io.PrintWriter(f, "UTF-8")
      try {
        w.println(s"== $name ($suffix) on $sfDir ==")
        w.println(txt)
      } finally w.close()
      println(s"[plandump] wrote $f")
      graft.util.LocalSession.sweep(spark)
    }
    spark.stop()
  }
}
