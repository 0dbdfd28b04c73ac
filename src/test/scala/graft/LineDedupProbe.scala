package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale probe for the corpus-level line editors
  * (`Dedup.removeBoilerplateLines` / `Dedup.dedupLinesGlobal`) at 10×
  * the bench corpus — the two worst cases the registry's word-granular
  * faces can't reach:
  *
  *   1. a boilerplate line planted in EVERY doc (df ≈ corpus): the
  *      hot-key anti-join and the per-doc rebuild agg see the
  *      pathological df distribution;
  *   2. a blank-line-heavy corpus (two whitespace-only lines per token
  *      boundary): the blank-line bypass carries most of the row
  *      volume — if blanks ever re-entered the key joins, every
  *      separator would pile onto the one '' reducer.
  *
  * Prints warm per-pass walls at sfRef (default sf0.1) and sfBig
  * (default /tmp/sf1, 10× docs via tools/gen_scaled_docs.py) so the
  * growth ratio is read directly: sub-quadratic = ratio ≲ docs ratio.
  *
  * Usage: Test/runMain graft.LineDedupProbe [bigDir] [refDir] [passes]
  */
object LineDedupProbe {
  def main(args: Array[String]): Unit = {
    val bigDir = if (args.length > 0) args(0) else "/tmp/sf1"
    val refDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val passes = if (args.length > 2) args(2).toInt else 2
    val spark = graft.util.LocalSession()
    import graft.pipeline.Dedup

    val bp = "subscribe to our newsletter today"

    // every-doc boilerplate + word-granular lines: df(bp) == corpus
    def withBoilerplate(docs: DataFrame): DataFrame =
      docs.select(col("doc_id"),
        concat(lit(bp + "\n"),
          regexp_replace(col("text"), " ", "\n")).as("text"))

    // two whitespace-only lines per token boundary — blanks dominate
    // the exploded row volume
    def blankHeavy(docs: DataFrame): DataFrame =
      docs.select(col("doc_id"),
        regexp_replace(col("text"), " ", "\n \n\t\n").as("text"))

    def run(dir: String): Unit = {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "text")
      val n = docs.count()
      val maxDf = n / 2
      def time(label: String)(df: => DataFrame): Unit = {
        for (p <- 1 to passes) {
          val t0 = System.nanoTime()
          Bench.forced(df).collect()
          val dt = (System.nanoTime() - t0) / 1e9
          println(f"[$dir] $label pass $p: $dt%.2f s")
        }
      }
      time(s"boilerplate(everydoc, maxDf=$maxDf)") {
        Dedup.removeBoilerplateLines(withBoilerplate(docs), maxDf)
      }
      time("linededup(everydoc-bp)") {
        Dedup.dedupLinesGlobal(withBoilerplate(docs))
      }
      time(s"boilerplate(blank-heavy, maxDf=$maxDf)") {
        Dedup.removeBoilerplateLines(blankHeavy(docs), maxDf)
      }
      time("linededup(blank-heavy)") {
        Dedup.dedupLinesGlobal(blankHeavy(docs))
      }
      // semantics spot-checks at this scale: the planted line is gone
      // from every doc, and blanks survive the bypass
      val healed = Dedup.removeBoilerplateLines(withBoilerplate(docs),
        maxDf)
      val leaked = healed.where(col("text_kept").contains(bp)).count()
      require(leaked == 0L, s"boilerplate survived in $leaked docs")
      val blanks = Dedup.dedupLinesGlobal(blankHeavy(docs))
        .select(min(col("n_lines_kept")).as("m")).collect()(0).getLong(0)
      require(blanks >= 1L, "blank lines must survive global dedup")
      println(s"[$dir] docs=$n boilerplate-leak=0 ok, blank-keep ok")
    }

    run(refDir)
    run(bigDir)
    spark.stop()
  }
}
