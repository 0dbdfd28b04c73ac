package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.pipeline.Curate

/** Scale probe for the GATED curate pipeline (`Curate.curate` with
  * `gopherGate = true`) at 10× the bench corpus under the
  * DUPLICATE-HEAVY distribution curation exists for: every
  * `doc_id % 5 == 0` doc is rewritten to ONE shared template page —
  * a single content fingerprint carrying ~20% of the corpus (the
  * empty-doc/template hot key), on top of the near-dup cliques
  * /tmp/sf1 carries by construction. Round 17 replaced the
  * fingerprint window (single-task sort on the hot key, no AQE skew
  * handling) with the narrow groupBy-min + semi-join; this probe
  * reads the growth ratio directly — sub-linear-per-doc ⇒ no
  * straggler task dominating the wall.
  *
  * The template passes BOTH gate halves by construction (≥50 words,
  * ≥2 canonical stopwords, healthy word lengths, no repetition-rule
  * trips), so the mega-fingerprint actually REACHES the dedup stage;
  * non-template docs get the registry's stopword-rich even-id prefix
  * (the t_curate_gopher planting discipline) so a realistic fraction
  * flows through too.
  *
  * Usage: Test/runMain graft.CurateProbe [bigDir] [refDir] [passes]
  */
object CurateProbe {
  def main(args: Array[String]): Unit = {
    val bigDir = if (args.length > 0) args(0) else "/tmp/sf1"
    val refDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val passes = if (args.length > 2) args(2).toInt else 2
    val spark = graft.util.LocalSession()

    val aug = "the data and the model with that have to be of use. "
    // 52 distinct 5-7 char words + leading stopwords: passes word
    // count (≥50), mean word length, stopword (≥2), symbol/bullet and
    // every repetition lane (all 2-grams distinct)
    val template = ("the model with " + (0 until 52)
      .map(i => s"tmpl${i}word").mkString(" "))

    def dupHeavy(docs: DataFrame): DataFrame =
      docs.select(col("doc_id"), col("source"),
        when(col("doc_id") % 5 === 0, lit(template))
          .otherwise(concat(
            when(col("doc_id") % 2 === 0, lit(aug)).otherwise(lit("")),
            col("text"))).as("text"))

    def run(dir: String): Long = {
      val docs = dupHeavy(spark.read
        .parquet(s"$dir/documents.parquet")
        .select("doc_id", "text", "source"))
      // force through a grouped aggregate (the count()-forcing trap)
      Curate.curate(docs, minTokens = 25L,
          maxStopwordRatioMicro6 = 300000L, strataCol = "source",
          rates = Seq("src0" -> 0.5, "src1" -> 0.25, "src2" -> 0.0),
          default = 0.75, gopherGate = true)
        .groupBy(col("source")).agg(count(lit(1)).as("n"))
        .collect().map(_.getLong(1)).sum
    }

    for ((label, dir) <- Seq("ref" -> refDir, "big" -> bigDir)) {
      val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
      val walls = (1 to passes).map { _ =>
        val t0 = System.nanoTime()
        val kept = run(dir)
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"   $label ($nDocs docs): kept $kept, $dt%.2f s")
        dt
      }
      println(f"== $label min wall ${walls.min}%.2f s over $nDocs docs")
    }
    spark.stop()
  }
}
