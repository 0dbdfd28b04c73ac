package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** One-call corpus curation — the composition a training-data pipeline
  * actually runs, wired from the individually-verified operators:
  *
  *   1. quality gate   ([[TextOps.qualityFeatures]] thresholds)
  *   2. exact dedup    (keep the LOWEST id per content fingerprint —
  *                      the deterministic "canonical copy" rule)
  *   3. mixture shaping ([[Sampling.stratified]] per-stratum rates)
  *
  * Scale shape: stage 1 is shuffle-free column math; stage 2 is ONE
  * map-side-combined grouped min over the full-row struct (id
  * leading) keyed on the 16-byte fingerprint — NEVER a window over
  * the fingerprint: windows get no AQE skew handling nor partial
  * aggregation, and on the duplicate-heavy corpora curation exists
  * for, a mega-duplicate fingerprint — empty docs, template pages —
  * would funnel every full-text copy through ONE task's sort, where
  * the agg's map-side combine reduces that key to one row per input
  * partition before the exchange. Stage 3 is a row-local filter that
  * composes into stage 2's output without another exchange. Total:
  * one shuffle end to end, nothing driver-side.
  */
object Curate {

  /** Returns the curated corpus: original columns plus the quality
    * features, only canonical (lowest-id) copies, thinned per stratum.
    * `maxDupRatioMicro6` additionally gates on the duplicated-n-gram
    * ratio ([[TextOps.repetitionFeatures]] at n = 3) — the degenerate-
    * text filter; the default (1 000 000 = every ratio) disables it
    * without costing the n-gram projection a thing when Catalyst
    * prunes the constant-true predicate. `gopherGate = true` composes
    * the FULL published Gopher rule set into the same stage — the
    * quality half's composite keep ([[TextOps.gopherQualityKeep]],
    * exact integer cross-products) AND the repetition half's native
    * one-pass keep ([[graft.functions.GopherRepKeep]]) — as row-local
    * column math: the whole rule set rides stage 1's projection and
    * the pipeline keeps its one-shuffle contract (PlanShapeSpec pins
    * the exchange count; lines split on `lineSep`).
    */
  def curate(docs: DataFrame, minTokens: Long,
      maxStopwordRatioMicro6: Long, strataCol: String,
      rates: Seq[(String, Double)], default: Double = 1.0,
      maxDupRatioMicro6: Long = 1000000L,
      gopherGate: Boolean = false, lineSep: String = "\n",
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val gated0 = TextOps.qualityFeatures(docs, textCol)
      .where(col("n_tokens") >= minTokens &&
        col("stopword_ratio_micro6") <= maxStopwordRatioMicro6)
    // the repetition gate stays INLINE column math (same integer
    // micro-unit ratio as TextOps.repetitionFeatures) — a join against
    // the feature frame would add a shuffle and break this pipeline's
    // one-shuffle contract. Grams project into named columns first
    // (the lambda-CSE trap).
    val quality =
      if (maxDupRatioMicro6 >= 1000000L) gated0
      else gated0
        .withColumn("_rtoks", TextOps.tokens(lower(col(textCol))))
        .withColumn("_rgrams",
          when(size(col("_rtoks")) >= 3, TextOps.wordNgrams("_rtoks", 3))
            .otherwise(array().cast("array<string>")))
        .withColumn("_rdup", when(size(col("_rgrams")) === 0, lit(0L))
          .otherwise(expr(
            "((size(_rgrams) - size(array_distinct(_rgrams))) " +
              "* 2000000L + size(_rgrams)) div (size(_rgrams) * 2L)")))
        .where(col("_rdup") <= maxDupRatioMicro6)
        .drop("_rtoks", "_rgrams", "_rdup")
    // the Gopher gate is the same inline discipline: counts project
    // into named _gq_* columns, the composite keep filters, helpers
    // drop — no join, no exchange, and the repetition half is ONE
    // compiled native pass per row
    val gated =
      if (!gopherGate) quality
      else TextOps.gopherQualityCounts(quality, textCol, lineSep)
        .where(TextOps.gopherQualityKeep &&
          graft.functions.GopherFunctions.gopherRepKeep(col(textCol),
            lineSep))
        .drop(TextOps.gopherQualityCountCols: _*)
    // exact dedup, skew-safe AND single-pass (see the object doc and
    // Dedup.canonicalPerFingerprint — the ONE copy of the canonical-
    // copy contract this and CorpusDedup.appendBatch share): the
    // grouped argmin's partial aggregation collapses a mega-duplicate
    // fingerprint MAP-SIDE, and the expensive gate stages above
    // evaluate ONCE — the first cut of this fix was an agg+semi-join,
    // which re-executed the whole gated subtree per consumer (the
    // multi-consumer-subtree rule; measured 2.5× on the gopher-gated
    // face at sf0.1).
    val deduped = Dedup.canonicalPerFingerprint(gated,
      TextOps.fingerprint(col(textCol)), idCol)
    Sampling.stratified(deduped, strataCol, rates, default, idCol)
  }

  /** One-call NEAR-duplicate corpus dedup: exact shingle-Jaccard pairs
    * at `threshold` → connected components → keep only each cluster's
    * canonical (minimum-id) copy. The fuzzy companion to [[curate]]'s
    * exact fingerprint dedup — paraphrased boilerplate and
    * near-identical scrapes collapse to one representative.
    *
    * Pin lifetimes: the pair pipeline's shingle blocks are released
    * HERE (the BSP loop inside clusters runs eagerly, so the pairs are
    * fully consumed by the time it returns); the returned frame reads
    * the final label cache, whose handle the caller owns — consume,
    * then `release()` (the [[Dedup.clusters]] contract). */
  def dedupNearDup(docs: DataFrame, k: Int, threshold: Double,
      maxDf: Int = Int.MaxValue, idCol: String = "doc_id",
      textCol: String = "text"): (DataFrame, Dedup.PinHandle) = {
    val (pairs, pairsPin) = Dedup.jaccardPairs(docs, k, threshold,
      idCol, textCol, maxDf = maxDf)
    val (labels, labelsPin) = Dedup.clusters(
      docs.select(col(idCol)), pairs, idCol)
    pairsPin.release() // consumed by the eager BSP loop above
    val canonical = labels.where(col(idCol) === col("cluster"))
      .select(col(idCol))
    (docs.join(canonical, Seq(idCol), "left_semi"), labelsPin)
  }

  /** One-call INCREMENTAL dedup: drop every document of `newDocs`
    * within shingle-Jaccard `threshold` of the existing `refDocs`
    * corpus — the fresh-crawl-against-curated-corpus verb
    * ([[Dedup.crossCorpusPairs]] composed to its common use). The
    * batch's internal near-dups are [[dedupNearDup]]'s job; this one
    * only enforces the corpus boundary. Returns the surviving newDocs
    * rows plus the pin owning the pair pipeline's shingle blocks —
    * consume the frame, then `release()`. */
  def dedupAgainstCorpus(newDocs: DataFrame, refDocs: DataFrame, k: Int,
      threshold: Double, maxDf: Int = Int.MaxValue,
      idCol: String = "doc_id", textCol: String = "text")
      : (DataFrame, Dedup.PinHandle) = {
    val (pairs, pin) = Dedup.crossCorpusPairs(newDocs, refDocs, k,
      threshold, idCol, textCol, maxDf = maxDf)
    // broadcast the flagged-id set EXPLICITLY: `pairs` descends from a
    // pinned LogicalRDD leaf, which carries no size statistics, so
    // Catalyst plans a worst-case sort-merge anti-join that shuffles
    // the whole batch scan. The set is ≤ the (already thresholded)
    // pair count and the batch is the SMALL side of an incremental
    // dedup by design; no distinct — the anti-join doesn't need one
    // and the exchange it would add costs a whole extra stage.
    val flagged = broadcast(pairs.select(col("new_id").as(idCol)))
    (newDocs.join(flagged, Seq(idCol), "left_anti"), pin)
  }

  /** One-call SEMANTIC dedup — the SemDeDup shape (Abbas et al. 2023,
    * arXiv:2303.09540): embedding-cosine near-duplicate pairs within
    * coarse cells → connected components → keep one representative
    * (min id) per semantic cluster. Where [[dedupNearDup]] collapses
    * lexical near-copies via shingles, this collapses PARAPHRASES —
    * documents whose embeddings agree even when their text does not.
    *
    * 100 TB shape: the pair stage is
    * [[Similarity.cosineNearDupPairs]] — pairs only materialize
    * within a cell (the coarse-quantizer discipline; feed
    * [[Similarity.assignCells]] output as `cellCol`), so the join is
    * an equi-join on the cell key, never a full cross product. The
    * component/canonical stages reuse the pointer-jumping BSP.
    * Returns surviving rows + the pin owning the final label cache —
    * consume the frame, then `release()`. */
  def dedupSemantic(emb: DataFrame, threshold: Double,
      cellCol: Option[String], idCol: String = "vec_id",
      vecCol: String = "embedding"): (DataFrame, Dedup.PinHandle) = {
    val pairs = Similarity.cosineNearDupPairs(emb, threshold, cellCol,
      idCol, vecCol)
    val (labels, labelsPin) = Dedup.clusters(
      emb.select(col(idCol)), pairs, idCol)
    val canonical = labels.where(col(idCol) === col("cluster"))
      .select(col(idCol))
    (emb.join(canonical, Seq(idCol), "left_semi"), labelsPin)
  }

  /** Keep at most `cap` documents per key — the per-host / per-domain
    * cap every web-corpus curation runs (one scrape mirror must not
    * dominate the corpus). Survivors are the `cap` smallest
    * `md5(salt:id)` values within the key: a deterministic unbiased
    * per-key sample, engine- and partitioning-independent (same
    * discipline as [[Sampling.sample]]).
    *
    * 100 TB shape: the corpus does NOT all flow through a window.
    * One map-side-combinable count finds the over-cap keys (few, by
    * Zipf — they broadcast); under-cap keys pass through an anti-join
    * untouched; only rows of over-cap keys are ranked. A pathological
    * single key still sorts in one task — pre-thin such keys with
    * [[Sampling.sample]] if one key alone exceeds a task's memory. */
  def capPerKey(docs: DataFrame, keyCol: String, cap: Int,
      idCol: String = "doc_id", salt: String = "graft"): DataFrame = {
    require(cap >= 1, s"cap must be >= 1: $cap")
    val over = docs.groupBy(col(keyCol))
      .agg(count(lit(1)).as("_kn"))
      .where(col("_kn") > cap)
      .select(col(keyCol))
    val pass = docs.join(over, Seq(keyCol), "left_anti")
    val w = Window.partitionBy(col(keyCol))
      .orderBy(Sampling.hashBucket(col(idCol), salt), col(idCol))
    val thinned = docs.join(over, Seq(keyCol), "left_semi")
      .withColumn("_rk", row_number().over(w))
      .where(col("_rk") <= cap)
      .drop("_rk")
    pass.unionByName(thinned).select(docs.columns.map(col): _*)
  }

  /** Semantic decontamination: score every training vector against the
    * eval/benchmark embedding set — the embedding face of
    * [[TextOps.decontaminate]]'s n-gram overlap (catches paraphrased
    * benchmark leakage that lexical overlap misses; Yang et al. 2023,
    * arXiv:2311.04850 motivate embedding-level decontamination).
    * Returns `trainEmb` plus `n_eval_hits` (eval vectors within cosine
    * `threshold`), `max_eval_sim` (highest such similarity, null when
    * clean), and the `contaminated` flag — filter on it to drop, keep
    * it to audit.
    *
    * 100 TB shape: pairs only materialize across the train×eval
    * boundary within coarse cells ([[Similarity.crossCosinePairs]] —
    * |train|·|evalCell| work, never a cross product), the per-train
    * aggregate is map-side combinable, and the final join is
    * broadcastable (flagged ids ≤ eval-set reach, not corpus size). */
  def decontaminateSemantic(trainEmb: DataFrame, evalEmb: DataFrame,
      threshold: Double, cellCol: Option[String],
      idCol: String = "vec_id", vecCol: String = "embedding")
      : DataFrame = {
    val pairs = Similarity.crossCosinePairs(trainEmb, evalEmb,
      threshold, cellCol, idCol, vecCol)
    val hits = pairs.groupBy(col("new_id").as(idCol))
      .agg(count(lit(1)).as("n_eval_hits"),
        max(col("cos_sim")).as("max_eval_sim"))
    trainEmb.join(hits, Seq(idCol), "left")
      .withColumn("n_eval_hits", coalesce(col("n_eval_hits"), lit(0L)))
      .withColumn("contaminated", col("n_eval_hits") > 0)
  }

  /** One-call INCREMENTAL semantic dedup: drop every vector of
    * `newEmb` within cosine `threshold` of the existing curated
    * `refEmb` corpus — [[dedupAgainstCorpus]]'s embedding sibling
    * ([[Similarity.crossCosinePairs]] composed to its common use; the
    * batch's internal paraphrases are [[dedupSemantic]]'s job). A
    * plain anti-join, no pin to manage. */
  def dedupSemanticAgainstCorpus(newEmb: DataFrame, refEmb: DataFrame,
      threshold: Double, cellCol: Option[String],
      idCol: String = "vec_id", vecCol: String = "embedding")
      : DataFrame = {
    val pairs = Similarity.crossCosinePairs(newEmb, refEmb, threshold,
      cellCol, idCol, vecCol)
    newEmb.join(pairs.select(col("new_id").as(idCol)), Seq(idCol),
      "left_anti")
  }

  /** Keep the best `num/den` fraction of EACH stratum by score — the
    * per-domain quality thresholding step of curation pipelines
    * (absolute thresholds over-prune clean domains and under-prune
    * noisy ones; a per-domain rank cut adapts the bar to each domain's
    * score distribution). Keeps exactly floor(count_s · num / den)
    * rows per stratum: rank by (score desc, id asc) and keep while
    * rank · den <= count · num — pure 64-bit integer arithmetic, so
    * the kept set is engine-exact when `scoreCol` is (the repo's
    * micro-unit scores are).
    *
    * 100 TB shape: one exchange on the stratum column feeds both the
    * rank and the count window (same partitioning, one sort). A
    * stratum sorts distributedly and spills, never through the driver;
    * at extreme per-domain volumes swap in an approximate quantile
    * cutoff — this operator is the exact face.
    */
  def keepTopFraction(docs: DataFrame, strataCol: String,
      scoreCol: String, num: Long, den: Long,
      idCol: String = "doc_id"): DataFrame = {
    require(den > 0 && num >= 0 && num <= den,
      s"fraction must be 0 <= num/den <= 1: $num/$den")
    val part = Window.partitionBy(col(strataCol))
    val ord = part.orderBy(col(scoreCol).desc, col(idCol).asc)
    docs.withColumn("_rk", row_number().over(ord))
      .withColumn("_cnt", count(lit(1)).over(part))
      .where(col("_rk") * lit(den) <= col("_cnt") * lit(num))
      .drop("_rk", "_cnt")
  }
}
