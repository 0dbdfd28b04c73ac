package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data selection via importance resampling (DSIR, Xie et al.,
  * NeurIPS 2023): score every raw-corpus document by how much it looks
  * like a small TARGET corpus (the domain you want more of) relative
  * to the raw distribution, then keep the best-scoring documents.
  * This is the standard pretraining-data selection recipe when you
  * have a high-quality seed set and a web-scale raw pool.
  *
  * Features are hashed unigram+bigram counts in `buckets` bins (the
  * paper's hashed n-gram feature space); each bin carries the smoothed
  * log-likelihood ratio
  *
  *   lambda(b) = ln( ((ct(b)+1)/(nt+B)) / ((cr(b)+1)/(nr+B)) )
  *
  * between the target and raw gram distributions, and a document's
  * importance weight is the sum of lambda over its feature
  * occurrences.
  *
  * Cross-engine exactness (the repo rule): the bucket hash is
  * md5-derived so DuckDB rebuilds it verbatim; each lambda is ONE `ln`
  * of an identical IEEE quotient of exact integer-derived doubles,
  * floored to BIGINT micro-units BEFORE any cross-row sum; per-doc
  * weights are BIGINT sums. Nothing float crosses a row boundary.
  *
  * 100 TB shape: both gram-distribution aggregations reduce to at most
  * `buckets` rows (map-side combined — gram text itself never leaves
  * the scan stage except as a 4-byte bucket id), the lambda table is
  * at most `buckets` rows and BROADCASTS, and scoring is one broadcast
  * join + one per-doc aggregation — ONE shuffle over (id, lambda)
  * pairs end to end. The target corpus is the small seed set by
  * construction; the raw pool streams.
  */
object Select {

  /** Hashed feature bucket of a gram: first 8 md5 hex digits of
    * "salt:gram" as a uniform 32-bit value, mod `buckets`. */
  def featureBucket(gram: Column, buckets: Int, salt: String): Column =
    conv(substring(md5(concat(lit(salt + ":"), gram)), 1, 8), 16, 10)
      .cast("long") % buckets

  /** (id, gram) pairs: whitespace unigrams + adjacent bigrams of the
    * lowercased text. Token array and bigram array are projected as
    * named columns BEFORE the explode (the lambda-CSE trap), and the
    * input spreads to cluster parallelism first — the explode + per-
    * gram md5 otherwise runs inside the row-group-bounded scan task
    * ([[graft.util.Spread]]; measured ~4x on the documents table). */
  private def grams(df: DataFrame, idCol: String, textCol: String)
      : DataFrame =
    gramsWith(df, idCol, textCol, None)

  /** [[grams]] optionally carrying a per-document boolean `_t` (the
    * target-membership flag of [[dsirWeightsPred]]) through the
    * explode — the flag rides the ONE gram pass instead of funding a
    * second tokenize+hash pass over the target subset. */
  private def gramsWith(df: DataFrame, idCol: String, textCol: String,
      flag: Option[Column]): DataFrame = {
    val keep = Seq(col(idCol).as("_id"), col(textCol).as("_text")) ++
      flag.map(_.as("_t"))
    val tagged = flag.map(_ => Seq(col("_t"))).getOrElse(Nil)
    graft.util.Spread.ensure(df.select(keep: _*), Seq(col("_id")))
      .select(col("_id") +: tagged :+
        TextOps.tokens(lower(col("_text"))).as("_toks"): _*)
      .where(size(col("_toks")) >= 1)
      .withColumn("_bi",
        when(size(col("_toks")) >= 2, expr(
          """transform(sequence(1, size(_toks) - 1),
             i -> concat(element_at(_toks, i), ' ',
                         element_at(_toks, i + 1)))"""))
          .otherwise(array().cast("array<string>")))
      .select(col("_id") +: tagged :+
        explode(concat(col("_toks"), col("_bi"))).as("_gram"): _*)
  }

  /** Per-document DSIR importance weights of `raw` against `target`.
    * Output: (idCol, n_feats, weight_mu) — feature-occurrence count
    * and the importance weight in exact micro-units (BIGINT). Docs
    * with no tokens carry zeros rather than dropping out.
    *
    * The per-corpus (doc, bucket) gram aggregations are PINNED (eager
    * cache materialization at construction): bucket counts, totals,
    * lambdas, and scoring all consume the same subtree, and relying on
    * Catalyst/AQE exchange reuse to run it once proved false — the
    * round-9 formulation's TakeOrdered plan executed FIVE gram passes
    * (3 raw + 2 target, measured 4.7 s warm at sf0.1 vs ~1.5 s for
    * one pass; AQE stage reuse never fired across the cr/totals/
    * scoring consumers). One pinned pass per corpus is deterministic
    * where reuse is best-effort. The frame comes with the
    * [[Dedup.PinHandle]] owning the two pinned gram aggregations —
    * release after the LAST consumption of the returned frame (it
    * recomputes from lineage afterwards). */
  def dsirWeights(raw: DataFrame, target: DataFrame, buckets: Int,
      idCol: String = "doc_id", textCol: String = "text",
      salt: String = "dsir"): (DataFrame, Dedup.PinHandle) = {
    require(buckets >= 2, s"buckets must be >= 2: $buckets")
    // ONE gram pass per corpus, pinned; everything below reads caches
    // of at most |docs|·|distinct buckets| narrow rows
    val (rawDoc, rawPin) = Dedup.pinNow(
      grams(raw, idCol, textCol)
        .withColumn("_b", featureBucket(col("_gram"), buckets, salt))
        .groupBy(col("_id"), col("_b"))
        .agg(count(lit(1)).as("_cnt")))
    val (ct, ctPin) = Dedup.pinNow(
      grams(target, idCol, textCol)
        .withColumn("_b", featureBucket(col("_gram"), buckets, salt))
        .groupBy(col("_b")).agg(count(lit(1)).as("ct")))
    val cr = rawDoc.groupBy(col("_b"))
      .agg(sum(col("_cnt")).as("cr"))
    // totals derive from the bucket tables — no second pass over text.
    // Pinned leaves carry no size statistics, so every ≤buckets-row
    // side is broadcast EXPLICITLY (the planner would otherwise assume
    // worst-case sizes and sort-merge a 1024-row join).
    val totals = cr.agg(sum(col("cr")).as("nr"))
      .crossJoin(ct.agg(sum(col("ct")).as("nt")))
    // lambda only needs buckets that occur in raw (weights sum over
    // raw doc grams, and every such gram's bucket is in `cr`)
    val lam = cr.join(broadcast(ct), Seq("_b"), "left")
      .crossJoin(broadcast(totals))
      .withColumn("lam_mu", floor(
        log(((coalesce(col("ct"), lit(0L)) + lit(1.0)) /
              (col("nt") + lit(buckets.toLong))) /
            ((col("cr") + lit(1.0)) /
              (col("nr") + lit(buckets.toLong)))) * lit(1000000.0))
        .cast("long"))
      .select(col("_b"), col("lam_mu"))
    // each of the _cnt occurrences of a bucket contributes lam_mu, so
    // the per-occurrence sum is the exact integer product sum
    val perDoc = rawDoc
      .join(broadcast(lam), Seq("_b"))
      .groupBy(col("_id"))
      .agg(sum(col("_cnt")).as("_nf"),
        sum(col("_cnt") * col("lam_mu")).as("_w"))
    // the id stitch restores zero-token docs; both sides are
    // corpus-sized, so a shuffle join is the correct shape at scale
    // (AQE broadcasts the reduced right side at bench scale)
    val out = raw.select(col(idCol))
      .join(perDoc, raw(idCol) === perDoc("_id"), "left")
      .select(col(idCol),
        coalesce(col("_nf"), lit(0L)).as("n_feats"),
        coalesce(col("_w"), lit(0L)).as("weight_mu"))
    (out, new Dedup.PinHandle(() => {
      rawPin.release(); ctPin.release(); ()
    }))
  }

  /** [[dsirWeights]] for the common case where the target corpus IS
    * `raw.where(targetPred)` — the in-corpus seed-slice shape. Result
    * is row-identical to
    * `dsirWeights(raw, raw.where(targetPred), buckets)`; the shape is
    * not: the membership flag rides the single raw gram pass, so the
    * target's tokenize + md5 pass disappears entirely, and the
    * per-bucket (cr, ct) table — at most `buckets` rows by
    * construction — collects ONCE and the lambda table derives in
    * plain driver Scala ([[lamMu]]: the identical IEEE quotients
    * through StrictMath.log, the function Spark's `log` evaluates —
    * the control-plane rule). One gram pass, one
    * control-plane collect, one scoring join: the two-corpus face
    * pays two gram passes and re-aggregates its pins per broadcast
    * consumer. The frame comes with the pin handle owning the single
    * gram aggregation — release after the last consumption. */
  def dsirWeightsPred(raw: DataFrame, targetPred: Column,
      buckets: Int, idCol: String = "doc_id", textCol: String = "text",
      salt: String = "dsir"): (DataFrame, Dedup.PinHandle) = {
    require(buckets >= 2, s"buckets must be >= 2: $buckets")
    val spark = raw.sparkSession
    // ONE gram pass, flag riding along; a null predicate counts as
    // false (matching `where(targetPred)` dropping null rows)
    val (rawDoc, rawPin) = Dedup.pinNow(
      gramsWith(raw, idCol, textCol, Some(targetPred))
        .withColumn("_b", featureBucket(col("_gram"), buckets, salt))
        .groupBy(col("_id"), col("_t"), col("_b"))
        .agg(count(lit(1)).as("_cnt")))
    // the whole lambda derivation is control-plane: ≤ buckets rows of
    // exact integer counts, collected once
    val bRows = rawDoc.groupBy(col("_b"))
      .agg(sum(col("_cnt")).as("cr"),
        sum(when(col("_t"), col("_cnt")).otherwise(lit(0L))).as("ct"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val nr = bRows.map(_._2).sum
    val nt = bRows.map(_._3).sum
    val lamRows = bRows.map { case (b, cr, ct) =>
      org.apache.spark.sql.Row(b, lamMu(cr, ct, nr, nt, buckets.toLong))
    }
    val lamSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("_b",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("lam_mu",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val lam = spark.createDataFrame(
      java.util.Arrays.asList(lamRows: _*), lamSchema)
    val perDoc = rawDoc
      .join(broadcast(lam), Seq("_b"))
      .groupBy(col("_id"))
      .agg(sum(col("_cnt")).as("_nf"),
        sum(col("_cnt") * col("lam_mu")).as("_w"))
    val out = raw.select(col(idCol))
      .join(perDoc, raw(idCol) === perDoc("_id"), "left")
      .select(col(idCol),
        coalesce(col("_nf"), lit(0L)).as("n_feats"),
        coalesce(col("_w"), lit(0L)).as("weight_mu"))
    (out, rawPin)
  }

  /** One bucket's `lam_mu` on the driver — the identical expression
    * tree to [[dsirWeights]]' Spark face: one ln of a quotient of
    * exact-integer-derived doubles, floored to micro-units
    * ([[TextOps.mu6]]). */
  private[graft] def lamMu(cr: Long, ct: Long, nr: Long, nt: Long,
      bl: Long): Long =
    TextOps.mu6(((ct + 1.0) / (nt + bl)) / ((cr + 1.0) / (nr + bl)))

  /** [[dsirSelect]] on the [[dsirWeightsPred]] single-pass shape —
    * row-identical to `dsirSelect(raw, raw.where(targetPred), …)`. */
  def dsirSelectPred(raw: DataFrame, targetPred: Column, buckets: Int,
      k: Int, idCol: String = "doc_id", textCol: String = "text",
      salt: String = "dsir"): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val (w, pin) = dsirWeightsPred(raw, targetPred, buckets,
      idCol, textCol, salt)
    val top = w.orderBy(col("weight_mu").desc, col(idCol).asc)
      .limit(k)
    val spark = raw.sparkSession
    val rows = java.util.Arrays.asList(top.collect(): _*)
    pin.release()
    val local = spark.createDataFrame(rows, top.schema)
    raw.join(broadcast(local), Seq(idCol))
  }

  /** Importance SELECTION: the `k` raw documents most like the target
    * distribution (deterministic resampling face — weight descending,
    * id ascending tie-break). Returns the selected documents with
    * their weights appended.
    *
    * The global top-k runs as TakeOrdered over the narrow
    * (id, weight) frame — k is a corpus budget (thousands), never the
    * corpus; document payloads join back by id AFTER selection. */
  def dsirSelect(raw: DataFrame, target: DataFrame, buckets: Int,
      k: Int, idCol: String = "doc_id", textCol: String = "text",
      salt: String = "dsir"): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val (w, pin) = dsirWeights(raw, target, buckets, idCol,
      textCol, salt)
    val top = w.orderBy(col("weight_mu").desc, col(idCol).asc)
      .limit(k)
    // MATERIALIZE the winners before the join-back: k is a corpus
    // budget (thousands) and the rows are three narrow columns —
    // control-plane by construction. Leaving `top` lazy re-executes
    // the entire scoring pipeline inside the broadcast build (measured
    // 12x the weights query). Collected, the join-back plan is one
    // scan of `raw` against a LocalRelation broadcast — and the gram
    // pins release here, since nothing lazy still needs them.
    val spark = raw.sparkSession
    val rows = java.util.Arrays.asList(top.collect(): _*)
    pin.release()
    val local = spark.createDataFrame(rows, top.schema)
    raw.join(broadcast(local), Seq(idCol))
  }
}
