package graft

import org.apache.spark.sql.functions._

import graft.pipeline.TextOps

/** Scratch profiler for the naive-Bayes language-ID entry: times each
  * phase separately (test-scope main; not part of the library). */
object LangIdProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val spark = graft.util.LocalSession()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    def t[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"== $name: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    // warm
    docs.count()
    val tri = docs.select(col("doc_id"),
        concat(lit(" "), lower(col("text")), lit(" ")).as("_pad"))
      .select(col("doc_id"), col("_pad"),
        split(col("_pad"), "").as("_chars"))
      .select(col("doc_id"),
        explode(TextOps.charTrigramsOf("_pad", "_chars")).as("g"))
    t("trigram explode + count")(tri.groupBy("g").count()
      .agg(count(lit(1))).head())
    t("trigram explode + count (2nd)")(tri.groupBy("g").count()
      .agg(count(lit(1))).head())
    val model = t("trainLangId")(TextOps.trainLangId(docs))
    t("grams collect")(println(model.grams.count()))
    t("langs collect")(model.langs.collect().foreach(println))
    val scored = TextOps.langIdScore(docs, model)
    t("langIdScore run 1")(scored.groupBy("lang_pred").count()
      .collect().foreach(println))
    t("langIdScore run 2")(scored.groupBy("lang_pred").count().count())
    spark.stop()
  }
}
