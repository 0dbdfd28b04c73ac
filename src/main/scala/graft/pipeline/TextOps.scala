package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines.
  * All are single-pass, shuffle-free per-row column expressions
  * (whole-stage-codegen'd) except the corpus-level n-gram counts, which
  * is one explode + one aggregation.
  *
  * Everything is deterministic and engine-portable (plain string
  * arithmetic + md5), so results are oracle-checkable bit-for-bit.
  */
object TextOps {

  /** whitespace tokens, empty strings dropped */
  def tokens(text: Column): Column =
    filter(split(text, " "), t => t =!= "")

  /** Deterministic md5 token-id encoding: whitespace tokens of the
    * LOWERCASED text mapped into [0, vocab) via the first 32 md5
    * bits. Not a real tokenizer (that's [[Bpe]]) — this exists for
    * the demo/oracle entries and probes that need a cross-engine-
    * exact id sequence with no training state, and the formula lives
    * here ONCE (its DuckDB twin is the registry's
    * md5IdsPackPrefixSql; drift between the copies silently breaks
    * probe/serve agreement on lane and pack order). */
  def md5TokenIds(text: Column, vocab: Int): Column =
    transform(tokens(lower(text)), t =>
      pmod(conv(substring(md5(t), 1, 8), 16, 10).cast("long"),
        lit(vocab.toLong)).cast("int"))

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish regex tokenizer: maximal runs of word chars, or single
    * non-space punctuation — the usual pre-tokenization split. The
    * whitespace exclusion is the explicit class (the [[Bpe.PunctRe]]
    * pinning: Java `\s` and RE2 `\s` disagree on U+000B). */
  val TokenRegex = "[a-zA-Z0-9_]+|[^a-zA-Z0-9_ \\t\\n\\x0B\\f\\r]"

  def regexTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(TokenRegex), lit(0)))

  /** Occurrences of `needle` in `hay` via replace-length arithmetic —
    * exact, no regex engine variance. */
  def occurrences(hay: Column, needle: String): Column =
    ((length(hay) - length(regexp_replace(hay, java.util.regex.Pattern
      .quote(needle), ""))) / needle.length).cast("long")

  /** shared with the DuckDB oracle generator — single source */
  val stopwords: Seq[String] =
    Seq("the", "a", "and", "of", "to", "in", "is", "on", "for", "with")

  /** Round num/den to 6 decimals in pure integer math (half-up), then
    * divide the exact micro-units integer by 1e6 in double. Both engines
    * perform the same single IEEE division of identical integers, so the
    * result is bit-identical — `round(double, 6)` is not (last-ULP
    * disagreements between engines flip the 6th decimal). */
  /** The ratio num/den as an exact half-up-rounded integer count of
    * micro-units (1e-6). Pure 64-bit integer arithmetic — bit-identical
    * across engines, safe to hash in cross-engine comparisons where a
    * double's last ULP is not. */
  private def microUnits(num: String, den: String): Column =
    expr(s"(($num) * 2000000L + $den) div ($den * 2L)")

  /** [[microUnits]] with the zero/negative-denominator guard — the
    * one definition newer operators share (a rounding-rule change
    * lands here once, the HALF_UP/HALF_EVEN lesson) */
  private[pipeline] def microUnitsGuarded(num: String,
      den: String): Column = expr(
    s"""case when ($den) <= 0L then 0L
        else (($num) * 2000000L + ($den)) div (($den) * 2L) end""")

  /** Quality-scoring features: length, token count, average token
    * length, stopword ratio. Ratios come in two forms: `_micro6` exact
    * integer micro-units (cross-engine hashable) and the derived double
    * (human-facing; last-ULP may differ between engines). */
  def qualityFeatures(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val toks = tokens(t)
    val stops = filter(toks, x => x.isin(stopwords: _*))
    df.withColumn("n_chars_m", length(t).cast("long"))
      .withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("n_stopwords", size(stops).cast("long"))
      .withColumn("stopword_ratio_micro6",
        microUnits("n_stopwords", "n_tokens").cast("long"))
      .withColumn("avg_token_len_micro6",
        microUnits("n_chars_m - (n_tokens - 1)", "n_tokens").cast("long"))
      .withColumn("stopword_ratio",
        col("stopword_ratio_micro6").cast("double") / lit(1000000.0d))
      .withColumn("avg_token_len",
        col("avg_token_len_micro6").cast("double") / lit(1000000.0d))
  }

  /** Marker-word language ID — the classic n-gram/stopword heuristic,
    * deterministic argmax with fixed language order for ties. */
  /** shared with the DuckDB oracle generator — single source */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" the ", " and ", " of "),
    "fr" -> Seq(" le ", " la ", " et "),
    "es" -> Seq(" el ", " los ", " y "),
    "de" -> Seq(" der ", " und ", " die "),
    "zh" -> Seq(" de ", " shi ", " bu ")
  )

  def langId(df: DataFrame, textCol: String = "text"): DataFrame = {
    val padded = concat(lit(" "), lower(col(textCol)), lit(" "))
    val scored = langMarkers.foldLeft(df.withColumn("_pad", padded)) {
      case (acc, (lang, markers)) =>
        acc.withColumn(s"score_$lang",
          markers.map(m => occurrences(col("_pad"), m))
            .reduce(_ + _))
    }
    // deterministic argmax: first language (in langMarkers order) whose
    // score equals the max
    val maxScore = greatest(langMarkers.map { case (l, _) =>
      col(s"score_$l") }: _*)
    // left-priority argmax: first language in langMarkers order wins ties
    val pickLeft = langMarkers.reverse.foldLeft(lit("und"): Column) {
      case (elseCol, (lang, _)) =>
        when(col(s"score_$lang") === maxScore && maxScore > 0, lit(lang))
          .otherwise(elseCol)
    }
    scored.withColumn("lang_pred", pickLeft).drop("_pad")
  }

  /** Content fingerprint: md5 of the lowercased, space-normalized text —
    * the exact-dedup key. */
  def fingerprint(text: Column): Column = md5(lower(trim(text)))

  // --- trainable language ID (char-trigram naive Bayes) -----------------

  /** Character trigrams over PRE-PROJECTED padded-string and
    * char-array columns (project `' ' || lower(text) || ' '` AND its
    * `split(_, "")` char array into named columns first — the
    * lambda-CSE rule, see [[tokenHashes]]): one entry per position,
    * the fastText-style character-n-gram feature space.
    *
    * Windows are built from O(1) array lookups: `substring(p, i, 3)`
    * inside the lambda is O(i) per call (UTF8String re-scans for the
    * char→byte offset every time), which made extraction O(n²) per
    * document — measured 6.1 s for t_langid_model at sf0.1 vs 2.3
    * after this change. The guard matters for sub-1-char texts:
    * Spark's `sequence(1, 0)` is DESCENDING ([1, 0]), not empty, so
    * an unguarded bound would emit junk windows exactly where DuckDB
    * `generate_series` emits none. */
  def charTrigramsOf(padCol: String, charsCol: String): Column = expr(
    s"""CASE WHEN length($padCol) >= 3 THEN
          transform(sequence(1, length($padCol) - 2),
            i -> concat(element_at($charsCol, i),
                        element_at($charsCol, i + 1),
                        element_at($charsCol, i + 2)))
        ELSE CAST(array() AS ARRAY<STRING>) END""")

  /** `floor(1e6 · ln(x))`: the driver face of Spark's
    * `floor(log(x) * 1000000.0)`, bit for bit. Spark's `log` is
    * `StrictMath.log` (fdlibm) in codegen and interpreted eval alike;
    * `Math.log` may be a JIT intrinsic that differs from it in the last
    * ulp, enough to move a floor that sits on a micro-unit boundary. */
  private[graft] def mu6(x: Double): Long =
    math.floor(StrictMath.log(x) * 1000000.0).toLong

  /** A trained naive-Bayes language model: `grams` = (g, lang, mu) —
    * integer micro-unit log P(trigram | lang) for OBSERVED pairs —
    * and `langs` = (lang, prior_mu, fallback_mu), the doc-frequency
    * prior and the unseen-trigram (add-one smoothed) penalty. Both
    * are control-plane tables (the trigram space is bounded by
    * charset³, not corpus size): persist them like IVF centroids and
    * score any corpus without retraining. */
  final case class NbLangModel(grams: DataFrame, langs: DataFrame)

  /** Train the naive-Bayes model on a LABELED sample (`langCol`):
    * add-one smoothing over the observed trigram vocabulary V,
    *
    *   mu(g, l)    = floor(1e6 · ln((C(g,l) + 1) / (C(·,l) + V)))
    *   fallback(l) = floor(1e6 · ln(      1      / (C(·,l) + V)))
    *   prior(l)    = floor(1e6 · ln(N_l / N))
    *
    * — every logarithm is ONE `ln` of an identical IEEE quotient of
    * exact integers, floored to BIGINT micro-units before anything
    * crosses a row boundary (the [[lmScore]] discipline), so the
    * model and every score are engine-exact. Two count aggregations
    * (map-side combined) and a kilobyte-scale join tree — training is
    * one pass over the sample. */
  def trainLangId(train: DataFrame, langCol: String = "lang",
      textCol: String = "text",
      maxVocab: Int = 2000000): NbLangModel = {
    require(maxVocab >= 1, s"maxVocab >= 1: $maxVocab")
    val spark = train.sparkSession
    val tg = train
      .select(col(langCol).as("lang"),
        concat(lit(" "), lower(col(textCol)), lit(" ")).as("_pad"))
      .select(col("lang"), col("_pad"),
        split(col("_pad"), "").as("_chars"))
      .select(col("lang"),
        explode(charTrigramsOf("_pad", "_chars")).as("g"))
    // TWO Spark jobs total — one corpus trigram aggregation, one
    // per-lang doc count — and every derived model quantity computes
    // in plain Scala off the collected counts (control-plane: vocab ≤
    // charset³ · |langs|). The first cut derived grams/langs as lazy
    // Spark frames over these roots: each broadcast build downstream
    // re-ran the corpus aggregation (exchange reuse is best-effort —
    // measured 4 passes, 6.1 s at sf0.1) and even after collecting
    // the counts, materializing the control-plane frames cost ~1.6 s
    // of job overhead PER SCORING CALL. Driver math is exact-identical
    // to the Spark expressions it replaces: [[mu6]] takes the same
    // IEEE quotients through StrictMath.log, the function Spark's
    // `log` evaluates in generated and interpreted code alike.
    // `maxVocab` guards the collect: "bounded by charset³" fails on
    // CJK/unicode corpora where distinct char trigrams scale with the
    // corpus — past the cap, train on a sample or a restricted
    // charset rather than silently pulling a corpus-sized vocabulary
    // into the driver (every unbounded collect gets its guard wired
    // at the ENTRY — the working-notes rule)
    val cgl = tg.groupBy(col("g"), col("lang"))
      .agg(count(lit(1)).as("c"))
      .limit(maxVocab + 1)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    if (cgl.length > maxVocab)
      throw new IllegalArgumentException(
        s"trainLangId: (trigram, lang) vocabulary exceeds " +
          s"maxVocab=$maxVocab — the model is control-plane by " +
          "contract; train on a sample or restrict the charset")
    val docCounts = train.groupBy(col(langCol).as("lang"))
      .agg(count(lit(1)).as("nl"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val n = docCounts.map(_._2).sum
    val tot = cgl.groupBy(_._2).map { case (l, rs) =>
      l -> rs.map(_._3).sum }
    val v = cgl.map(_._1).distinct.length.toLong
    val gramRows = cgl.map { case (g, l, c) =>
      Row(g, l, mu6((c + 1.0) / (tot(l) + v)))
    }
    val gramSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("g",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("lang",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("mu",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val langRows = docCounts.map { case (l, nl) =>
      Row(l, mu6(nl.toDouble / n),
        mu6(1.0 / (tot.getOrElse(l, 0L) + v)))
    }
    val langSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("lang",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("prior_mu",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("fallback_mu",
        org.apache.spark.sql.types.LongType, nullable = false)))
    NbLangModel(
      spark.createDataFrame(
        java.util.Arrays.asList(gramRows: _*), gramSchema),
      spark.createDataFrame(
        java.util.Arrays.asList(langRows: _*), langSchema))
  }

  /** Score documents under a trained model and pick the argmax
    * language (ties: lexicographically first — deterministic):
    * returns (idCol, lang_pred, score_mu).
    *
    * Shape: the control-plane model pivots WIDE driver-side — one
    * local-relation row per vocabulary gram with one mu column per
    * language, fallbacks pre-filled for unobserved (g, lang) — so the
    * scan explodes doc trigrams once, left-joins the broadcast gram
    * row (a miss takes every lang's fallback), and ONE codegen'd
    * HashAggregate computes all |langs| per-doc sums together; the
    * argmax is a row-local fold. The first cut crossed every
    * occurrence with the |langs| table and ranked through a window —
    * ×|langs| join volume and a corpus-wide window for nothing
    * (measured 3.2 s warm at sf0.1 vs 1.3 for this shape). Empty
    * documents score priors only. */
  def langIdScore(docs: DataFrame, model: NbLangModel,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    val langRows = model.langs.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    require(langRows.nonEmpty, "empty language model")
    val muMap = model.grams.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .groupBy(_._1)
      .map { case (g, rs) => g -> rs.map(r => r._2 -> r._3).toMap }
    val wideRows = muMap.toSeq.sortBy(_._1).map { case (g, m) =>
      org.apache.spark.sql.Row.fromSeq(g +: langRows.map {
        case (l, _, fb) => m.getOrElse(l, fb)
      })
    }
    val schema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("g",
        org.apache.spark.sql.types.StringType) +:
      langRows.map { case (l, _, _) =>
        org.apache.spark.sql.types.StructField(s"_mu_$l",
          org.apache.spark.sql.types.LongType, nullable = false)
      })
    val wide = spark.createDataFrame(
      java.util.Arrays.asList(wideRows: _*), schema)
    val dg = docs
      .select(col(idCol).as("_id"),
        concat(lit(" "), lower(col(textCol)), lit(" ")).as("_pad"))
      .select(col("_id"), col("_pad"),
        split(col("_pad"), "").as("_chars"))
      .select(col("_id"),
        explode(charTrigramsOf("_pad", "_chars")).as("g"))
    val sumAggs = langRows.map { case (l, _, fb) =>
      sum(coalesce(col(s"`_mu_$l`"), lit(fb))).as(s"_s_$l")
    }
    val sums = dg.join(broadcast(wide), Seq("g"), "left")
      .groupBy(col("_id"))
      .agg(sumAggs.head, sumAggs.tail: _*)
    val scored = docs.select(col(idCol).as("_id"))
      .join(sums, Seq("_id"), "left")
      .select(col("_id") +: langRows.map { case (l, p, _) =>
        (coalesce(col(s"`_s_$l`"), lit(0L)) + lit(p)).as(s"_sc_$l")
      }: _*)
    val scoreCols = langRows.map { case (l, _, _) => col(s"`_sc_$l`") }
    val maxS =
      if (scoreCols.length == 1) scoreCols.head
      else greatest(scoreCols: _*)
    // left-priority argmax: the lexicographically first language in
    // sorted order wins ties (the langId pickLeft pattern)
    val pick = langRows.reverse.foldLeft(lit(langRows.last._1): Column) {
      case (elseCol, (l, _, _)) =>
        when(col(s"`_sc_$l`") === maxS, lit(l)).otherwise(elseCol)
    }
    scored.select(col("_id").as(idCol), pick.as("lang_pred"),
      maxS.as("score_mu"))
  }

  // --- rolling (Rabin-style polynomial) fingerprints --------------------

  /** Polynomial-hash base/modulus — both under 2^30/2^31 so the
    * rolling step `acc*B + x` stays far inside Long on every engine. */
  val RollB = 1000003L
  val RollM = 1000000007L

  /** Per-token 60-bit hashes reduced mod [[RollM]] — PROJECT THIS into
    * a named column before windowing (md5 per token is expensive; an
    * inlined subtree would re-evaluate per window — the lambda-CSE
    * trap, see Dedup.shinglesOfTokens). */
  def tokenHashes(toks: Column): Column =
    tokenHashesFromMd5s(tokenMd5s(toks))

  /** Rolling fingerprints over every `w`-token window: window i holds
    * the left-fold `((0·B + h_i)·B + h_{i+1}…) mod M` — the
    * shift-resistant chunk identity used for partial-overlap document
    * dedup (a shared passage yields identical window fingerprints at
    * ANY offset, which shingle-set Jaccard also gives but with
    * per-window O(1) updates in a streaming implementation; here the
    * per-window fold over a bound array attribute is codegen-cheap).
    * Engine-portable: the identical fold runs in DuckDB list_reduce
    * (oracle `t_rolling_fp`). */
  def rollingFromHashes(th: Column, w: Int): Column =
    rollingWith(th, w, RollB, RollM)

  /** The one fold both lanes share, parameterized on (base, modulus):
    * any future fix to the window arithmetic (the `size >= w` guard
    * against Spark's DESCENDING `sequence(1, 0)`, the pmod overflow
    * envelope) lands in exactly one place. */
  private def rollingWith(th: Column, w: Int, b: Long, m: Long)
      : Column = {
    require(w >= 1, "window >= 1")
    when(size(th) >= w,
      transform(sequence(lit(0), size(th) - w),
        i => aggregate(slice(th, i + lit(1), lit(w)), lit(0L),
          (acc, x) => pmod(acc * lit(b) + x, lit(m)))))
      .otherwise(array().cast("array<long>"))
  }

  /** Independent second fingerprint lane (different base AND modulus,
    * fed by a DISJOINT md5 substring). A single ~30-bit rolling lane
    * collides at birthday scale ~√M ≈ 31k windows — fine for
    * candidate GENERATION (a collision costs one false candidate the
    * exact filter drops) but not for operators whose fingerprint
    * equality directly EDITS data ([[Dedup.removeSharedPassages]]):
    * there a collision silently deletes unrelated text. Keying on
    * both lanes puts collisions past 2^59. */
  val RollB2 = 1000033L
  val RollM2 = 999999937L

  /** md5 hex strings per token — project ONCE, derive both hash lanes
    * from the bound attribute (the lambda-CSE rule: md5 inlined in two
    * lanes would run twice per token). */
  def tokenMd5s(toks: Column): Column = transform(toks, t => md5(t))

  /** Lane-1 per-token hashes from pre-projected md5 strings —
    * identical values to [[tokenHashes]]. */
  def tokenHashesFromMd5s(ms: Column): Column =
    tokenHashesWith(ms, 1, RollM)

  /** Lane-2 per-token hashes: hex chars 16-30 of the same md5 (disjoint
    * bits from lane 1) mod [[RollM2]]. */
  def tokenHashes2FromMd5s(ms: Column): Column =
    tokenHashesWith(ms, 16, RollM2)

  private def tokenHashesWith(ms: Column, offset: Int, m: Long)
      : Column =
    transform(ms, s =>
      pmod(conv(substring(s, offset, 15), 16, 10).cast("long"), lit(m)))

  /** Lane-2 rolling fingerprints — the [[rollingFromHashes]] fold with
    * ([[RollB2]], [[RollM2]]); products stay < 2^50, far inside Long
    * on both engines. */
  def rollingFromHashes2(th: Column, w: Int): Column =
    rollingWith(th, w, RollB2, RollM2)

  /** Word n-grams over a BOUND token-array attribute (project the
    * tokens into a named column first — the lambda-CSE trap, see
    * [[tokenHashes]]). */
  def wordNgrams(toksCol: String, n: Int): Column = expr(
    s"""transform(sequence(0, size($toksCol) - $n),
        i -> concat_ws(' ', slice($toksCol, i + 1, $n)))""")

  /** Repetition features per document — the standard degenerate-text
    * signal (template spam, decoding loops, boilerplate stuffing):
    * the fraction of n-gram OCCURRENCES that are repeats of an
    * earlier n-gram in the same document, `1 - distinct/total`, in
    * exact half-up micro-units (the cross-engine integer-ratio rule).
    * Shuffle-free: two sizes over one bound n-gram projection per row.
    * Documents shorter than n tokens score 0 (nothing repeats). */
  def repetitionFeatures(df: DataFrame, n: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(n >= 1, "n >= 1")
    df.select(col(idCol), tokens(lower(col(textCol))).as("_toks"))
      .withColumn("_grams",
        when(size(col("_toks")) >= n, wordNgrams("_toks", n))
          .otherwise(array().cast("array<string>")))
      .select(col(idCol),
        size(col("_grams")).cast("long").as("n_grams"),
        size(array_distinct(col("_grams"))).cast("long")
          .as("n_distinct"))
      .withColumn("dup_ratio_micro6",
        when(col("n_grams") === 0L, lit(0L)).otherwise(expr(
          "((n_grams - n_distinct) * 2000000L + n_grams) " +
            "div (n_grams * 2L)")))
  }

  /** Gopher-style repetition signals (Rae et al. 2021, "Scaling
    * Language Models", Table A1 — the repetition rules every large
    * corpus pipeline applies; re-derived from the published
    * definitions, with the conventions documented here):
    *
    *   - `n_lines`, `dup_line_micro6`, `dup_line_char_micro6`: lines
    *     are `lineSep` segments, trimmed, empties dropped; a line
    *     occurrence is "duplicated" when its value appears more than
    *     once in the document, and ALL its occurrences count (by
    *     number of lines and by character mass respectively).
    *   - `top{2,3,4}_char_micro6`: characters covered by the single
    *     most frequent word n-gram (`count × gram length`) over the
    *     normalized char length (token lengths + single-space
    *     separators). Count ties break to the byte-order-LARGEST gram
    *     (both engines compare strings as unsigned bytes — the
    *     oracle's `ORDER BY c DESC, g DESC`).
    *   - `dup{5..10}_char_micro6`: characters covered by all n-grams
    *     occurring more than once (`count × length` summed; window
    *     overlaps are not deduplicated, so the ratio may exceed 1e6 —
    *     the unclipped coverage convention of the public
    *     re-implementations).
    *
    * Tokens are WHITESPACE-regex splits of the lowercased text (not
    * the single-space [[tokens]]), so lines never leak into grams;
    * ratios are exact half-up integer micro-units (the cross-engine
    * rule).
    *
    * All 12 signals come from ONE native codegen expression
    * ([[graft.functions.GopherSignals]]) — a single compiled pass per
    * document. The builtin composition (9 per-n `array_sort`s + run
    * walks over gram arrays) is semantically identical but runs
    * interpreted (HOFs have no codegen) and measured 67 s of CPU for
    * 5k sf0.1 documents; the native pass is ~30x less. The struct is
    * bound in its own projection and the 12 field reads live in a
    * SECOND select — CollapseProject keeps expensive
    * multiply-referenced projections apart, and whole-stage codegen's
    * subexpression elimination would cover a collapse anyway.
    *
    * 100 TB shape: zero shuffle past the input spread — one compiled
    * projection at full parallelism, O(tokens · n_max) per document;
    * no explode, no pair join, no window. The input is spread to
    * cluster parallelism first ([[graft.util.Spread.ensure]]):
    * parquet row-group counts, not data volume, bound scan
    * parallelism, and a narrow scan runs the whole per-row stage on
    * one core. */
  def gopherSignals(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", lineSep: String = "\n"): DataFrame = {
    val bound = graft.util.Spread.ensure(df, Seq(col(idCol)))
      .select(col(idCol),
        graft.functions.GopherFunctions
          .gopherSignals(col(textCol), lineSep).as("_g"))
    bound.select(col(idCol) +:
      graft.functions.GopherSignals.fieldNames
        .map(f => col(s"_g.$f").as(f)): _*)
  }

  /** The 8 stopwords Gopher's "must contain ≥ 2" rule checks (Rae et
    * al. 2021, Table A1) — shared with the DuckDB oracle generator */
  val gopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher-style QUALITY signals — the non-repetition half of Rae et
    * al. Table A1 ([[gopherSignals]] covers the repetition half):
    *
    *   - `n_words`, `mean_word_len_micro6`: whitespace-regex words of
    *     the lowercased text (the [[gopherSignals]] token convention);
    *   - `hash_word_ratio_micro6` / `ellipsis_word_ratio_micro6`:
    *     '#' occurrences over words, and ellipsis ('…' or '...')
    *     occurrences over words — TWO ratios, because the published
    *     rule removes on "a symbol-to-word ratio greater than 0.1
    *     for EITHER the hash symbol or the ellipsis" (a combined sum
    *     wrongly filters a doc at 0.08 + 0.08);
    *   - `bullet_frac_micro6` / `ellipsis_frac_micro6`: fraction of
    *     trimmed non-empty lines starting with a bullet ('-', '*',
    *     '•') / ending with an ellipsis;
    *   - `alpha_frac_micro6`: fraction of words containing at least
    *     one [a-z] after lowercasing;
    *   - `n_stop_hits`: how many of the 8 canonical stopwords occur;
    *   - `gopher_keep`: the published composite — 50 ≤ words ≤ 100k,
    *     mean word length in [3, 10], each symbol ratio ≤ 0.1,
    *     bullet lines ≤ 0.9, ellipsis lines ≤ 0.3, ≥ 80% alphabetic
    *     words, ≥ 2 stopword hits. The paper REMOVES on strictly
    *     GREATER than each threshold, so a value exactly AT one is
    *     kept — and the decision compares EXACT integer
    *     cross-products (10·count vs words), not the rounded micro
    *     columns: half-up quantization maps ratios in
    *     (0.0999995, 0.1000005) onto the same micro value, which
    *     would misdecide true ratios a hair past the line.
    *
    * Ratios are exact half-up integer micro-units; every count is an
    * integer both engines agree on (occurrence counts via the
    * replace-length trick; '…' is one code point to `length` on both
    * engines). Row-local and shuffle-free past the input spread;
    * per-row work is a handful of small-array lambdas, far below the
    * repetition suite's sorted-lane walks — measured fine without a
    * native expression. */
  def gopherQualitySignals(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", lineSep: String = "\n"): DataFrame = {
    val c = gopherQualityCounts(
      graft.util.Spread.ensure(df, Seq(col(idCol))), textCol, lineSep)
    c.select(col(idCol), col("_gq_nw").as("n_words"),
      microUnitsGuarded("_gq_charlen - (_gq_nw - 1)", "_gq_nw")
        .as("mean_word_len_micro6"),
      microUnitsGuarded("_gq_nhash", "_gq_nw")
        .as("hash_word_ratio_micro6"),
      microUnitsGuarded("_gq_nellsym", "_gq_nw")
        .as("ellipsis_word_ratio_micro6"),
      microUnitsGuarded("_gq_nbullet", "_gq_nlines")
        .as("bullet_frac_micro6"),
      microUnitsGuarded("_gq_nell", "_gq_nlines")
        .as("ellipsis_frac_micro6"),
      microUnitsGuarded("_gq_nalpha", "_gq_nw").as("alpha_frac_micro6"),
      col("_gq_nstop").as("n_stop_hits"),
      gopherQualityKeep.as("gopher_keep"))
  }

  /** the [[gopherQualitySignals]] counting stages as ADDED `_gq_*`
    * columns, input columns preserved — shared with
    * [[Curate.curate]]'s inline Gopher gate so the decision logic has
    * exactly one source. Two projection stages: the token/line arrays
    * bind in their own named columns FIRST (the lambda-CSE rule: a
    * split referenced from several lambdas re-evaluates per reference
    * unless projected). */
  private[pipeline] def gopherQualityCounts(df: DataFrame,
      textCol: String, lineSep: String): DataFrame = {
    val sepRe = java.util.regex.Pattern.quote(lineSep)
    val s1 = df
      .withColumn("_gq_toks",
        filter(split(lower(col(textCol)), "[ \\t\\n\\x0B\\f\\r]+"),
          t => t =!= ""))
      .withColumn("_gq_lns",
        filter(transform(split(col(textCol), sepRe), x => trim(x)),
          x => x =!= ""))
    s1.withColumn("_gq_nw", size(col("_gq_toks")).cast("long"))
      .withColumn("_gq_charlen",
        length(concat_ws(" ", col("_gq_toks"))).cast("long"))
      .withColumn("_gq_nhash", occurrences(col(textCol), "#"))
      .withColumn("_gq_nellsym",
        occurrences(col(textCol), "…") + occurrences(col(textCol), "..."))
      .withColumn("_gq_nlines", size(col("_gq_lns")).cast("long"))
      // left/right (not substring with negative pos): both engines
      // return the whole string when it is shorter than the ask, so
      // 1-2 char lines can never false-match an ellipsis
      .withColumn("_gq_nbullet",
        expr("""size(filter(_gq_lns, x -> left(x, 1) IN ('-', '*', '•')))""")
          .cast("long"))
      .withColumn("_gq_nell",
        expr("""size(filter(_gq_lns,
            x -> right(x, 1) = '…' OR right(x, 3) = '...'))""")
          .cast("long"))
      .withColumn("_gq_nalpha",
        expr("""size(filter(_gq_toks, t -> t rlike '[a-z]'))""")
          .cast("long"))
      .withColumn("_gq_nstop", gopherStopwords.map(w =>
        when(array_contains(col("_gq_toks"), w), lit(1L))
          .otherwise(lit(0L))).reduce(_ + _))
      .drop("_gq_toks", "_gq_lns")
  }

  /** every `_gq_*` column [[gopherQualityCounts]] adds (gate callers
    * drop them after filtering) */
  private[pipeline] val gopherQualityCountCols: Seq[String] =
    Seq("_gq_nw", "_gq_charlen", "_gq_nhash", "_gq_nellsym",
      "_gq_nlines", "_gq_nbullet", "_gq_nell", "_gq_nalpha", "_gq_nstop")

  /** the published quality-composite KEEP over the `_gq_*` counts —
    * removal on strictly GREATER than each threshold, decided on EXACT
    * integer cross-products, never the rounded micro columns: half-up
    * quantization maps ratios in (0.0999995, 0.1000005) onto the same
    * micro value, which would misdecide true ratios a hair past the
    * line. Mean word length is (charlen - (words-1)) / words in
    * [3, 10]. */
  private[pipeline] def gopherQualityKeep: Column =
    (col("_gq_nw") >= 50L && col("_gq_nw") <= 100000L &&
      (col("_gq_charlen") - (col("_gq_nw") - 1L))
        >= lit(3L) * col("_gq_nw") &&
      (col("_gq_charlen") - (col("_gq_nw") - 1L))
        <= lit(10L) * col("_gq_nw") &&
      col("_gq_nhash") * 10L <= col("_gq_nw") &&
      col("_gq_nellsym") * 10L <= col("_gq_nw") &&
      col("_gq_nbullet") * 10L <= lit(9L) * col("_gq_nlines") &&
      col("_gq_nell") * 10L <= lit(3L) * col("_gq_nlines") &&
      col("_gq_nalpha") * 5L >= lit(4L) * col("_gq_nw") &&
      col("_gq_nstop") >= 2L)

  /** Corpus-wide top-k n-gram counts (word n-grams). One explode + one
    * agg; at 100 TB this is the canonical map-side-combine shape. */
  /** Bigram language-model fluency scoring — the CCNet/KenLM-style
    * quality signal: train an add-one-smoothed bigram LM on `train`
    * (default: the scored corpus itself) and score every document by
    * its total and per-bigram-average log-probability. Degenerate or
    * machine-generated text scores far from the corpus mode, which is
    * exactly what LM-perplexity corpus filters threshold on.
    *
    *   P(w2 | w1) = (C(w1 w2) + 1) / (C(w1 ·) + V)
    *
    * with C(w1 ·) the bigram-start count and V the train vocabulary.
    *
    * Cross-engine exactness: each bigram's log-probability is ONE
    * `ln` of an identical IEEE quotient of exact integers, floored to
    * BIGINT micro-units BEFORE the per-doc sum; the per-bigram average
    * is a floor of the identical IEEE quotient of two BIGINTs. Nothing
    * float crosses a row boundary.
    *
    * 100 TB shape: the LM is two count aggregations (map-side
    * combined; the unigram table derives from the bigram table, no
    * second pass over text); scoring is one shuffle join on the gram
    * key (AQE handles hot-gram skew) + one per-doc aggregation. The
    * only driver-side value is V (one long). Docs under 2 tokens score
    * zeros rather than dropping out. */
  def lmScore(docs: DataFrame, train: Option[DataFrame] = None,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val tr = train.getOrElse(docs)
    // NB deliberately NOT spread: A/B'd at sf0.1 (round 11) — spreading
    // the three tokenize branches measured 4.4 -> 4.9 s warm; the
    // added exchanges cost more stage latency than the single-task
    // scan stages they parallelize (train and score branches overlap
    // on idle cores as-is)
    def toks(df: DataFrame): DataFrame =
      df.select(col(idCol).as("_id"), tokens(lower(col(textCol))).as("_toks"))
    def bigrams(df: DataFrame): DataFrame =
      toks(df).where(size(col("_toks")) >= 2)
        .withColumn("_p", explode(expr(
          """transform(sequence(1, size(_toks) - 1),
             i -> struct(element_at(_toks, i) AS w1,
                         element_at(_toks, i + 1) AS w2))""")))
        .select(col("_id"), col("_p.w1").as("w1"), col("_p.w2").as("w2"))
    // NB deliberately NOT pinned: the multiply-consumed subtree here is
    // plain tokenization, and caching corpus-sized token arrays costs
    // MORE than recomputing them (A/B at sf0.1: pinned toks 0.82 s vs
    // re-tokenize 0.29 s — the cache write serializes every token,
    // roughly the same byte volume the extra scans read). The pin
    // discipline pays for expensive-per-row or heavily-reduced
    // subtrees (md5 gram aggs, signatures, bloom words), not for cheap
    // maps over the raw corpus.
    val bg = bigrams(tr).groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("cb"))
    val ug = bg.groupBy(col("w1")).agg(sum(col("cb")).as("cu"))
    val vocab = toks(tr).select(explode(col("_toks")).as("_t"))
      .agg(countDistinct(col("_t")).as("v"))
    val scored = bigrams(docs)
      .join(bg, Seq("w1", "w2"), "left")
      .join(ug, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .withColumn("_mu", floor(
        log((coalesce(col("cb"), lit(0L)) + lit(1.0)) /
          (coalesce(col("cu"), lit(0L)) + col("v"))) *
          lit(1000000.0)).cast("long"))
      .groupBy(col("_id"))
      .agg(sum(col("_mu")).as("_lp"), count(lit(1)).as("_nb"))
    docs.select(col(idCol))
      .join(scored, docs(idCol) === scored("_id"), "left")
      .select(col(idCol),
        coalesce(col("_nb"), lit(0L)).as("n_bigrams"),
        coalesce(col("_lp"), lit(0L)).as("logprob_mu"))
      .withColumn("avg_logprob_mu",
        when(col("n_bigrams") === 0L, lit(0L))
          .otherwise(floor(col("logprob_mu").cast("double") /
            col("n_bigrams")).cast("long")))
  }

  def topNgrams(df: DataFrame, n: Int, k: Int, textCol: String = "text")
      : DataFrame =
    df.select(tokens(lower(col(textCol))).as("_toks"))
      .where(size(col("_toks")) >= n)
      .select(explode(wordNgrams("_toks", n)).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("gram").asc)
      .limit(k)

  /** Benchmark decontamination: per training document, how many of its
    * DISTINCT word n-grams also occur anywhere in the eval set — the
    * standard overlap check run before training on scraped data (the
    * GPT-3/PaLM-style "n-gram collision with a benchmark" filter).
    *
    * Output per training doc: `n_grams` (distinct n-grams), `n_overlap`
    * (of them, how many hit the eval universe), `contaminated`
    * (0/1 long — all-integer so the result is oracle-exact). Documents
    * shorter than n tokens carry zeros.
    *
    * 100 TB shape: the eval side is a benchmark suite — thousands of
    * documents, millions of distinct n-grams at most — so its distinct
    * gram universe is aggregated (map-side combine) and BROADCAST; the
    * training side streams through one explode + one broadcast join +
    * one per-doc aggregation, never shuffling gram text. If the eval
    * set outgrows broadcast, drop the hint and the same plan runs as a
    * shuffled join. */
  def decontaminate(train: DataFrame, eval: DataFrame, n: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    def grams(df: DataFrame): DataFrame =
      df.select(col(idCol).as("_id"),
          tokens(lower(col(textCol))).as("_toks"))
        .where(size(col("_toks")) >= n)
        .select(col("_id"),
          explode(array_distinct(wordNgrams("_toks", n))).as("gram"))
    val evalGrams = grams(eval).select("gram").distinct()
      .withColumn("_hit", lit(1L))
    val perDoc = grams(train)
      .join(broadcast(evalGrams), Seq("gram"), "left")
      .groupBy(col("_id"))
      .agg(count(lit(1)).as("_n_grams"),
        sum(coalesce(col("_hit"), lit(0L))).as("_n_overlap"))
    train.select(col(idCol))
      .join(perDoc, train(idCol) === perDoc("_id"), "left")
      .select(col(idCol),
        coalesce(col("_n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("_n_overlap"), lit(0L)).as("n_overlap"))
      .withColumn("contaminated",
        (col("n_overlap") > 0).cast("long"))
  }

  // --- PII detection / redaction ---------------------------------------

  /** PII patterns, shared with the DuckDB oracle — deliberately the
    * RE2-compatible subset (character classes + greedy quantifiers, no
    * backreferences or lookaround) so Java regex (Spark) and RE2
    * (DuckDB, and most scale-out scrubbers) match identically. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhoneRe = "\\+\\d{9,14}"

  /** Per-document PII surface: match counts per category plus the
    * redacted text (emails -> [EMAIL], then IPv4 -> [IP], then
    * E.164-ish phones -> [PHONE]; counts are taken on the ORIGINAL
    * text, and the replacement order prevents one category's
    * placeholder from feeding another's pattern). Shuffle-free,
    * whole-stage-codegen'd — the shape of every at-scale scrubbing
    * pass. */
  def piiFeatures(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    def n(re: String) =
      size(regexp_extract_all(t, lit(re), lit(0))).cast("long")
    df.withColumn("n_emails", n(EmailRe))
      .withColumn("n_ipv4", n(Ipv4Re))
      .withColumn("n_phones", n(PhoneRe))
      .withColumn("redacted",
        regexp_replace(
          regexp_replace(
            regexp_replace(t, EmailRe, "[EMAIL]"),
            Ipv4Re, "[IP]"),
          PhoneRe, "[PHONE]"))
  }

  /** Corpus composition: per (source, language) document counts plus
    * char and token totals — the first report any training-data
    * pipeline produces, and the denominator for mixture weighting.
    * One map-side-combined aggregation; all-integer outputs, so the
    * result is oracle-exact across engines. */
  def corpusStats(df: DataFrame, sourceCol: String = "source",
      langCol: String = "lang", textCol: String = "text",
      charsCol: String = "n_chars"): DataFrame =
    df.groupBy(col(sourceCol), col(langCol))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col(charsCol)).as("total_chars"),
        sum(tokenCount(col(textCol)).cast("long")).as("total_tokens"),
        min(col(charsCol)).as("min_chars"),
        max(col(charsCol)).as("max_chars"))
}
