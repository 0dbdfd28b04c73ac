package graft.pipeline

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.util.JobDesc

/** Deduplication operators for training-data pipelines, from exact to
  * approximate. All hashing is md5-based and salt-deterministic so
  * results are engine-portable (oracle-checkable) AND stable across
  * re-runs at 100 TB — no RNG, no JVM hash seeds.
  *
  * Scale shapes:
  *  - exact: one hash-shuffle on the fingerprint (map-side combine).
  *  - shingle-Jaccard: inverted-index self-join — explode shingles,
  *    join on shingle, count per pair. Exact, and the standard scalable
  *    formulation (pairs only materialize when they share a shingle).
  *  - MinHash/LSH: per-row signature (no shuffle), then one groupBy per
  *    band — candidate pairs are limited to same-bucket rows; at 100 TB
  *    this is the only formulation that avoids the quadratic join.
  *  - SimHash: per-row 32-bit signature via explode over bit positions
  *    (map-side combine), near-dups = equal signatures (or banded
  *    prefixes).
  */
object Dedup {

  /** Exact dedup: keep the smallest id per content fingerprint. */
  def exact(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    df.select(TextOps.fingerprint(col(textCol)).as("fp"), col(idCol))
      .groupBy("fp")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** In-place exact dedup keeping the FULL canonical row (minimum id)
    * per content fingerprint — the single-pass shape Curate.curate and
    * CorpusDedup.appendBatch share (one copy of the contract: the
    * canonical row is decided by the id alone, and the two faces can
    * never drift). ONE map-side-combined grouped `min_by(struct(all
    * columns), id)` keyed on the fingerprint, NEVER a window over the
    * content key (a mega-duplicate fingerprint — empty docs, template
    * pages — funnels every full-text copy through one task's sort,
    * where the agg's partial aggregation collapses it to ≤ one row per
    * input partition before the exchange) and NEVER a semi-join back
    * (a second consumer re-executes the whole upstream subtree — the
    * measured 2.5× double-gate wrong turn). `min_by` rather than
    * `min(struct(id leading))`: the ordering constraint then sits on
    * the ID ALONE, so rows may carry unorderable columns (maps) that a
    * whole-row struct min rejects at analysis. Requires unique
    * non-null ids — ENFORCED, not just documented: `min_by` SKIPS
    * null orderings, so a fingerprint group whose rows all carried a
    * null id would silently collapse to an all-null row (the window
    * shape this replaced kept a real row); a bad batch must fail, not
    * corrupt. The guard is a short-circuiting `coalesce` around the
    * ordering column — one null check per row, zero extra jobs. A
    * null-FINGERPRINT group (null text) is still kept. */
  def canonicalPerFingerprint(df: DataFrame, fp: Column,
      idCol: String = "doc_id"): DataFrame = {
    val cols = df.columns
    val guardedId = coalesce(col(idCol),
      raise_error(lit(s"canonicalPerFingerprint: null $idCol — the " +
        "canonical-copy contract needs non-null unique ids"))
        .cast(df.schema(idCol).dataType))
    df.withColumn("_fp", fp)
      .groupBy(col("_fp"))
      .agg(min_by(struct(cols.map(col): _*), guardedId).as("_row"))
      .select(cols.map(c => col("_row").getField(c).as(c)): _*)
  }

  /** Word k-shingles of an already-materialized token array, distinct.
    * Takes the TOKEN COLUMN, not the text: inlining the tokenizer here
    * would re-evaluate the split+filter subtree in `size(toks)` AND
    * once per lambda element (Catalyst cannot CSE across a lambda
    * boundary) — measured 20x slower on the documents table. Callers
    * project the token array in a prior select; CollapseProject keeps
    * the two projections apart because the column is expensive and
    * multiply-referenced. */
  def shinglesOfTokens(toks: Column, k: Int): Column = {
    val grams = transform(sequence(lit(0), size(toks) - k),
      i => concat_ws(" ", slice(toks, i + lit(1), lit(k))))
    when(size(toks) >= k, array_distinct(grams))
      .otherwise(array().cast("array<string>"))
  }

  /** Word k-shingles of the lowercased text, distinct, as an array.
    * Single-column convenience — for hot paths use [[shinglesOfTokens]]
    * over a pre-projected token array (see the CSE note there). */
  def shingles(text: Column, k: Int): Column =
    shinglesOfTokens(TextOps.tokens(lower(text)), k)

  /** Spread a narrow frame before expensive per-row work — see
    * [[graft.util.Spread]] for the full rationale (row-group-bounded
    * scan parallelism; AQE-safe probe).
    *
    * Measured: forcing the repartition branch unconditionally on the
    * sf0.1 dedup trio gives 6.9 s vs 7.5 s with the probe enabled —
    * i.e. the always-exchange path is within run-to-run noise of the
    * probed path (the shuffled columns are a narrow id+text
    * projection), so skipping the probe on non-scan-rooted plans costs
    * nothing measurable while avoiding AQE's eager-execution trap.
    * (Probe + repartition now shared as [[graft.util.Spread]].) */
  private[pipeline] def spread(df: DataFrame, byCol: String): DataFrame =
    graft.util.Spread.ensure(df, Seq(col(byCol)))

  private def withShingles(df: DataFrame, k: Int, idCol: String,
      textCol: String): DataFrame =
    spread(df.select(col(idCol).as("_id"), col(textCol)), "_id")
      .select(col("_id"), TextOps.tokens(lower(col(textCol))).as("_toks"))
      .select(col("_id"), explode(shinglesOfTokens(col("_toks"), k)).as("sh"))

  /** Per-doc distinct shingle ARRAYS (one row per doc) — the
    * pre-explode granularity the Jaccard family pins: the expensive
    * tokenize+shingle work runs once into a doc-count-sized cache
    * (5k array rows instead of 260k exploded rows at sf0.1), and each
    * consumer explodes from the cache in codegen. */
  private def shingleArrays(df: DataFrame, k: Int, idCol: String,
      textCol: String): DataFrame =
    spread(df.select(col(idCol).as("_id"), col(textCol)), "_id")
      .select(col("_id"), TextOps.tokens(lower(col(textCol))).as("_toks"))
      .select(col("_id"), shinglesOfTokens(col("_toks"), k).as("_arr"))

  /** Apply the `maxDf` shingle-universe cap at ARRAY granularity and
    * attach the POST-cap set size as `_n`, so every exploded row can
    * carry its own Jaccard denominator — which kills the separate
    * per-doc size aggregates and the post-pair-agg size joins.
    *
    * Two paths, picked by ONE tiny probe job over the pinned array
    * cache (control-plane, like the hot-set broadcast itself):
    *  - hot set empty (a clean corpus at any scale): the input pin is
    *    reused as-is with `_n = size(_arr)` — zero extra work.
    *  - hot set non-empty: explode → broadcast ANTI-join → re-collect
    *    per doc into a SECOND pin carrying post-cap arrays + sizes;
    *    the raw pin is released the moment the capped one is
    *    materialized. Everything stays distributed — the rejected
    *    alternative (collect the hot set and fold it into a literal
    *    `array_except` argument) rebuilds a hash set of the hot
    *    array PER ROW and died at the sf1 probe: 10k hot shingles ×
    *    50k docs ≈ 214 s of task time in the explode stage alone,
    *    and a driver-side literal of the hot set cannot scale to the
    *    boilerplate volume of a real web corpus anyway. */
  /** Hot-set rows beyond this stay a distributed frame instead of a
    * driver collect. The hot set is ≤ exploded-rows / maxDf by
    * construction, and in practice it is boilerplate (tiny); the cap
    * only guards the pathological corpus where it is not. */
  private val MaxHotCollect = 100000

  /** Pin the raw shingle-array frame and apply the `maxDf` cap — the
    * two are FUSED (round 13): with a cap requested, the pin is
    * materialized lazily BY the hot-set aggregation itself (its
    * single consumer at that point), and the hot set is COLLECTED
    * from that same job (bounded — see [[MaxHotCollect]]) so the
    * anti-join rebuild reads a local relation instead of re-running
    * the explode+aggregate as a broadcast build. The old shape paid
    * three passes before the pair join (pinNow count, probe agg,
    * broadcast re-agg); this one pays one, or two when a rebuild is
    * needed. Semantics unchanged; PipelineSpec's cap tests pin them. */
  private def capArrays(raw: DataFrame, maxDf: Int,
      sideCols: Seq[String] = Nil): (DataFrame, PinHandle) = {
    if (maxDf == Int.MaxValue) {
      // no cap: the first consumers are the two concurrent self-join
      // sides, so the eager pinNow (contention rationale) stays
      val (arr, h) = pinNow(raw)
      (arr.withColumn("_n", size(col("_arr"))), h)
    } else {
      require(maxDf >= 2, s"maxDf must be >= 2 (got $maxDf): " +
        "a shingle needs at least 2 docs to generate a pair")
      val (arr, rdd) = pin(raw)
      val handle = new PinHandle(() => {
        rdd.unpersist(blocking = false); ()
      })
      val hot = arr.select(explode(col("_arr")).as("sh"))
        .groupBy(col("sh")).agg(count(lit(1)).as("_df"))
        .where(col("_df") > maxDf)
        .select(col("sh"))
      // ONE job: materializes the pin AND returns the hot set
      val hotRows = hot.limit(MaxHotCollect + 1).collect()
      if (hotRows.isEmpty)
        (arr.withColumn("_n", size(col("_arr"))), handle)
      else {
        val keyCols = (Seq("_id") ++ sideCols).map(col)
        val hotDf =
          if (hotRows.length <= MaxHotCollect)
            raw.sparkSession.createDataFrame(
              java.util.Arrays.asList(hotRows: _*), hot.schema)
          else hot // pathological boilerplate volume: stay distributed
        val capped = arr
          .select(keyCols :+ explode(col("_arr")).as("sh"): _*)
          .join(broadcast(hotDf), Seq("sh"), "left_anti")
          .groupBy(keyCols: _*)
          .agg(collect_list(col("sh")).as("_arr"),
            count(lit(1)).as("_n"))
        val (pinned, h2) = pinNow(capped)
        handle.release() // superseded by the capped pin
        (pinned, h2)
      }
    }
  }

  /** Drop shingles whose document frequency exceeds `maxDf` — the
    * production guard against the O(f²) pair blowup on boilerplate: one
    * shingle shared by f documents produces f² candidate rows in the
    * inverted-index self-join before any threshold applies, which at
    * 100 TB is fatal for e.g. a common header line. Near-universal
    * shingles also carry no dedup signal (same argument as stopword
    * removal), so both intersections AND set sizes are computed over
    * the capped shingle universe — jaccard stays a consistent set
    * similarity over the reduced vocabulary.
    *
    * The HOT set (`df > maxDf`) is tiny by construction — that is the
    * whole point of the cap — so it is the side we aggregate and
    * broadcast: one map-side-combined count over distinct shingles,
    * then a broadcast ANTI-join against the exploded shingles. The
    * anti-join adds zero shuffles (the r4 shape semi-joined the full
    * exploded set against the kept majority — two extra full shuffles
    * of shingle text that removed nothing when the corpus was cold). */
  private def capDf(sh: DataFrame, maxDf: Int): DataFrame = {
    if (maxDf != Int.MaxValue)
      require(maxDf >= 2, s"maxDf must be >= 2 (got $maxDf): " +
        "a shingle needs at least 2 docs to generate a pair")
    capHot(sh, "sh", maxDf)
  }

  /** Drop rows whose `keyCol` value occurs more than `cap` times — the
    * shared all-pairs-blowup guard: the HOT key set is tiny by
    * construction, so it is the side aggregated (map-side combine) and
    * broadcast into an ANTI-join (zero extra shuffles of the big side).
    * Used for shingle document frequency, LSH band buckets, and rolling
    * window fingerprints alike. */
  private def capHot(df: DataFrame, keyCol: String, cap: Int): DataFrame =
    if (cap == Int.MaxValue) df
    else {
      val hot = df.groupBy(col(keyCol))
        .agg(count(lit(1)).as("_df"))
        .where(col("_df") > cap)
        .select(keyCol)
      df.join(broadcast(hot), Seq(keyCol), "left_anti")
    }

  /** Exact n-gram-Jaccard near-duplicate pairs via inverted index:
    * returns (id_a, id_b, jaccard) for pairs ≥ threshold.
    *
    * `hashJoin = true` (default) forces a shuffled-hash self-join —
    * ~2x over sort-merge because sorting both sides by a long string
    * key is pure overhead for an equi-join feeding an aggregation.
    * For heavily skewed corpora (a shingle shared by millions of
    * docs) the build-side map of a hot partition can exceed executor
    * memory; pass hashJoin = false there to let sort-merge spill —
    * though with such skew the O(f²) pair blowup, not the join
    * strategy, is the real problem and `maxDf` is the production
    * answer (see [[capDf]]).
    *
    * The shingle pipeline is referenced by THREE downstream subtrees
    * (hot-set job, both self-join sides), and only bit-identical
    * exchanges get reused — everything else would re-run the
    * tokenize+shingle work per reference. The per-doc shingle ARRAY
    * frame is pinned once instead (MEMORY_AND_DISK, spills rather
    * than OOMs at scale; doc-count-sized, so far smaller than the
    * exploded rows), each consumer explodes from the cache, and rows
    * carry their post-cap set size so the Jaccard denominator needs
    * no size aggregates or joins (see [[capArrays]]);
    * the returned frame is therefore CACHE-BACKED: it comes with the
    * [[PinHandle]] owning the blocks — consume, then `release()`. */
  def jaccardPairs(df: DataFrame, k: Int, threshold: Double,
      idCol: String = "doc_id", textCol: String = "text",
      hashJoin: Boolean = true, maxDf: Int = Int.MaxValue)
      : (DataFrame, PinHandle) = {
    val (capped, handle) =
      capArrays(shingleArrays(df, k, idCol, textCol), maxDf)
    // each exploded row carries its doc's POST-cap set size, so the
    // Jaccard denominator is available straight out of the intersect
    // aggregation — no separate size aggregates, no size joins
    val aSide = capped.select(col("_id"), col("_n").as("na"),
      explode(col("_arr")).as("sh"))
    val bSide = capped.select(col("_id"), col("_n").as("nb"),
      explode(col("_arr")).as("sh"))
    val left = if (hashJoin) aSide.hint("shuffle_hash") else aSide
    val a = left.as("a"); val b = bSide.as("b")
    // length filter (the classic prefix-family size bound): J >= t
    // forces min(na,nb)/max(na,nb) >= t, so size-mismatched pairs
    // can be dropped AT THE JOIN, before they cost candidate rows in
    // the pair shuffle and intersect aggregation. The bound runs at
    // t - 1e-6: the final predicate is round(j, 6) >= t, which can
    // admit true j down to t - 5e-7, and the slack guarantees the
    // filtered plan never drops a pair the unfiltered one keeps.
    val tSlack = threshold - 1e-6
    val sizeOk =
      if (tSlack <= 0) lit(true)
      else col("b.nb").cast("double") >= lit(tSlack) * col("a.na") &&
        col("a.na").cast("double") >= lit(tSlack) * col("b.nb")
    val pairs = a.join(b, col("a.sh") === col("b.sh")
        && col("a._id") < col("b._id") && sizeOk)
      .groupBy(col("a._id").as("id_a"), col("b._id").as("id_b"))
      .agg(count(lit(1)).as("c"), min(col("na")).as("na"),
        min(col("nb")).as("nb"))
      .withColumn("jaccard", round(col("c").cast("double")
        / (col("na") + col("nb") - col("c")), 6))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
    (pairs, handle)
  }

  /** Incremental (cross-corpus) near-duplicate pairs: documents of
    * `newDocs` within shingle-Jaccard `threshold` of any document in
    * `refDocs` — dedup of a fresh crawl batch against an
    * already-curated corpus, the standard incremental-ingest shape (the
    * in-corpus variant is [[jaccardPairs]]).
    *
    * 100 TB shape: the same inverted-index discipline, but candidates
    * only materialize ACROSS the corpus boundary (new × ref, never
    * within either side), so adding a batch costs |batch|-driven work,
    * not |corpus|². `maxDf` caps shingle document frequency over BOTH
    * sides together — boilerplate is hot regardless of which corpus it
    * sits in. In production the ref side's exploded shingle index is
    * the thing to persist between batches; here both sides derive from
    * their frames. Returns (new_id, ref_id, jaccard) and the
    * [[PinHandle]] owning the pinned two-sided shingle blocks: consume
    * the frame, then `release()`. */
  def crossCorpusPairs(newDocs: DataFrame, refDocs: DataFrame,
      k: Int, threshold: Double, idCol: String = "doc_id",
      textCol: String = "text", hashJoin: Boolean = true,
      maxDf: Int = Int.MaxValue): (DataFrame, PinHandle) = {
    // one pinned frame for both sides: the hot set must be counted
    // over BOTH corpora together (boilerplate is hot regardless of
    // which side it sits in), and each side explodes from the cache.
    // Sizes ride the exploded rows, so the cross-corpus id collision
    // (each side numbers its own docs) never needs side-keyed size
    // frames — na/nb come off the join's own sides.
    val both = shingleArrays(newDocs, k, idCol, textCol)
        .withColumn("_side", lit(1))
      .unionByName(shingleArrays(refDocs, k, idCol, textCol)
        .withColumn("_side", lit(0)))
    val (capped, handle) = capArrays(both, maxDf, Seq("_side"))
    val newSide = capped.where(col("_side") === 1)
      .select(col("_id"), col("_n").as("na"), explode(col("_arr")).as("sh"))
    val refSide = capped.where(col("_side") === 0)
      .select(col("_id"), col("_n").as("nb"), explode(col("_arr")).as("sh"))
    val left = if (hashJoin) newSide.hint("shuffle_hash") else newSide
    // the same length-filter join bound as [[jaccardPairs]]
    // (J >= t forces min/max set-size ratio >= t; t - 1e-6 slack
    // keeps the round-to-6 threshold boundary exact)
    val tSlack = threshold - 1e-6
    val sizeOk =
      if (tSlack <= 0) lit(true)
      else col("b.nb").cast("double") >= lit(tSlack) * col("a.na") &&
        col("a.na").cast("double") >= lit(tSlack) * col("b.nb")
    val pairs = left.as("a").join(refSide.as("b"),
        col("a.sh") === col("b.sh") && sizeOk)
      .groupBy(col("a._id").as("new_id"), col("b._id").as("ref_id"))
      .agg(count(lit(1)).as("c"), min(col("na")).as("na"),
        min(col("nb")).as("nb"))
      .withColumn("jaccard", round(col("c").cast("double")
        / (col("na") + col("nb") - col("c")), 6))
      .where(col("jaccard") >= threshold)
      .select(col("new_id"), col("ref_id"), col("jaccard"))
    (pairs, handle)
  }

  /** Between-source corpus overlap audit: for every pair of corpus
    * groups (default: the `source` column), the exact size of their
    * shared k-shingle vocabulary plus integer-ppm Jaccard and
    * directional containments — "how much of source A also appears in
    * source B", the standard curation question before mixing crawls
    * (and the source-level view of dataset contamination).
    *
    * Shape: one shuffle builds the DISTINCT (group, shingle-id) index
    * (group-granular, so each shingle appears at most once per group);
    * the pair join then fans out at most |groups| rows per shingle —
    * candidate volume is bounded by |vocabulary| x G^2, independent of
    * document count, which is why the exact computation scales where
    * doc-granular pair joins need LSH. Shingle identity is its 60-bit
    * md5 prefix (the repo-wide fingerprint discipline, engine-exact):
    * the index pin, the distinct, and the pair join all carry 8-byte
    * ids instead of shingle text — at sf0.1 that halved the joined
    * exchange and cut serve wall ~35%, and at 100 TB shuffling
    * shingle text is the difference between an index and a copy of
    * the corpus. Sizes attach via an explicit broadcast (G rows; the
    * index pin carries no stats, so Catalyst would otherwise
    * sort-merge kilobytes). All reported ratios are floor'd integer
    * ppm over exact counts — no cross-engine float (working-notes
    * rule: cross-row math that feeds the hash compare stays in
    * integers).
    *
    * Returns (group_a, group_b, common, union_size, jaccard_ppm,
    * cont_a_ppm, cont_b_ppm), one row per unordered group pair with at
    * least one shared shingle, and the [[PinHandle]] owning the pinned
    * (group, shingle) index blocks: consume the frame, then
    * `release()`. */
  def corpusOverlap(df: DataFrame, k: Int,
      groupCol: String = "source", textCol: String = "text",
      idCol: String = "doc_id", maxGroups: Int = 1000)
      : (DataFrame, PinHandle) = {
    val spark = df.sparkSession
    val (gsh, handle) = pinNow(
      groupShingles(df, k, groupCol, textCol, idCol)
        .select(col("_g"),
          conv(substring(md5(col("sh")), 1, 15), 16, 10)
            .cast("long").as("sid"))
        .distinct())
    // G control-plane size rows, collected once. This is where the
    // quadratic guard wires in (working-notes rule: at the ENTRY, not
    // just available elsewhere): the pair join fans out up to G rows
    // per shingle, so the exact audit is only exact-AND-cheap while G
    // is small — past the cap the caller wants [[corpusOverlapSketch]],
    // whose cost is G x numHashes instead of |vocab| x G^2. The
    // collected local relation also keeps the two size joins from
    // re-aggregating the pinned index once per side (exchange reuse
    // is best-effort, never a plan invariant).
    val sizeRows = gsh.groupBy(col("_g")).agg(count(lit(1)).as("n"))
      .collect()
    if (sizeRows.length > maxGroups) {
      handle.release()
      throw new IllegalArgumentException(
        s"corpusOverlap: ${sizeRows.length} groups exceeds " +
          s"maxGroups=$maxGroups — the exact pair join is " +
          s"|vocab| x G^2; use corpusOverlapSketch for large G")
    }
    val sizes = spark.createDataFrame(
      java.util.Arrays.asList(sizeRows: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("_g",
          gsh.schema("_g").dataType),
        org.apache.spark.sql.types.StructField("n",
          org.apache.spark.sql.types.LongType))))
    val pairs = gsh.as("a").hint("shuffle_hash")
      .join(gsh.as("b"), col("a.sid") === col("b.sid")
        && col("a._g") < col("b._g"))
      .groupBy(col("a._g").as("group_a"), col("b._g").as("group_b"))
      .agg(count(lit(1)).as("common"))
    pairs
      .join(broadcast(sizes.as("sa")), col("group_a") === col("sa._g"))
      .join(broadcast(sizes.as("sb")), col("group_b") === col("sb._g"))
      .select(col("group_a"), col("group_b"), col("common"),
        (col("sa.n") + col("sb.n") - col("common")).as("union_size"),
        expr("common * 1000000L div (sa.n + sb.n - common)")
          .as("jaccard_ppm"),
        expr("common * 1000000L div sa.n").as("cont_a_ppm"),
        expr("common * 1000000L div sb.n").as("cont_b_ppm")) -> handle
  }

  /** Exploded (group, shingle) rows — the ONE tokenize/shingle
    * pipeline shared by the exact and sketch overlap faces, so their
    * notions of "shingle" can never silently diverge. Spread by DOC
    * id, not group: tokenize/shingle parallelism must scale with the
    * corpus — G partitions would cap the expensive stage at |groups|
    * tasks regardless of cluster size. */
  private def groupShingles(df: DataFrame, k: Int, groupCol: String,
      textCol: String, idCol: String): DataFrame =
    spread(df.select(col(groupCol).as("_g"), col(idCol).as("_did"),
        col(textCol)), "_did")
      .select(col("_g"), TextOps.tokens(lower(col(textCol))).as("_toks"))
      .select(col("_g"), explode(shinglesOfTokens(col("_toks"), k)).as("sh"))

  /** Sketch face of [[corpusOverlap]]: MinHash-ESTIMATED pairwise
    * group Jaccard from `numHashes` per-group signature components —
    * P(component match) = J, so matches/numHashes is an unbiased
    * estimate with std-error ~sqrt(J(1-J)/numHashes). The exact audit
    * joins a \|vocab\| x G index; this one reduces the whole corpus
    * pass to a G x numHashes signature matrix (min-aggregates with
    * map-side combine — signature partial-mins shuffle, never shingle
    * text), which is the shape that survives when G grows from 20
    * sources to 10^5 crawl domains. The matrix is control-plane sized
    * (the [[Similarity.trainIvfCentroids]] discipline), so it
    * collects into a LOCAL relation — the pair join below can never
    * re-execute the corpus scan (AQE exchange reuse is best-effort;
    * a two-consumer plan would pay the pass twice), and a local
    * relation carries exact stats so Catalyst broadcasts it.
    *
    * Components are universal-hash derived from ONE md5 per shingle:
    * base = the shingle md5's first 32 bits reduced mod the Mersenne
    * prime p = 2^31 − 1, component i = (A_i·base + B_i) mod p with
    * md5-derived constants in [1, p) — the Carter-Wegman family. The
    * mod is LOAD-BEARING: without it a positive-multiplier affine
    * map is order-preserving in base, every component's min picks
    * the same globally-min-hashed shingle, and the 64 "independent"
    * permutations collapse to one (caught by the sf0.01 oracle row
    * count: 190 pairs → 5). Products stay under 2^62, inside signed
    * 64-bit on any engine (DuckDB ERRORS on BIGINT overflow where
    * the JVM wraps — the bound sidesteps both). The first cut
    * evaluated 64 FULL md5 calls per exploded shingle row and
    * measured 32 s at the 50k-doc probe — hash count, not data
    * volume, dominated; one md5 into a NAMED column (the
    * working-notes CSE rule) + 64 integer multiply-add-mods brings
    * the corpus pass back to scan cost.
    * Duplicate shingles across a group's docs don't perturb a min,
    * so no distinct pass is needed. Returns (group_a, group_b,
    * matches, est_jaccard_ppm) for pairs with at least one matching
    * component (est >= 1/H; pairs below that resolution emit
    * nothing), and the [[PinHandle]] owning the pinned signature
    * matrix. Two paths, picked by the MEASURED group count (one tiny
    * count over the G-row signature frame, which the pin materializes
    * anyway):
    *
    *  - G ≤ `maxLocalGroups`: the matrix collects into a LOCAL
    *    relation (exact stats → Catalyst broadcasts it; the pair join
    *    can never re-run the corpus pass) and the pin is released
    *    before returning — the handle is a no-op.
    *  - G > `maxLocalGroups` (10^5 crawl domains): G × numHashes rows
    *    would be a multi-million-row LocalRelation — driver memory
    *    plus per-task serialization. The component rows instead
    *    explode DISTRIBUTED from the pinned signature frame and the
    *    pair join runs as a shuffle-hash self-join (pinned leaves
    *    carry no stats, so the hint — not Catalyst's worst-case
    *    sort-merge — picks the join). The caller must consume the
    *    result, then `release()`. */
  def corpusOverlapSketch(df: DataFrame, k: Int,
      numHashes: Int = 64, groupCol: String = "source",
      textCol: String = "text", idCol: String = "doc_id",
      maxLocalGroups: Int = 10000): (DataFrame, PinHandle) = {
    require(numHashes >= 1 && numHashes <= 512,
      s"numHashes must be in [1, 512]: $numHashes")
    require(maxLocalGroups >= 1,
      s"maxLocalGroups must be >= 1: $maxLocalGroups")
    val spark = df.sparkSession
    val sh = groupShingles(df, k, groupCol, textCol, idCol)
      // ONE md5 per shingle row, bound to a named column so the 64
      // component expressions reference it instead of re-hashing
      .select(col("_g"),
        pmod(conv(substring(md5(col("sh")), 1, 8), 16, 10)
          .cast("long"), lit(MinhashPrime)).as("_b"))
    val sigCols = (0 until numHashes).map { i =>
      val (a, b) = minhashConsts(i)
      min(pmod(lit(a) * col("_b") + lit(b), lit(MinhashPrime)))
        .as(s"_h$i")
    }
    // Pin the G-row matrix: the group-cardinality probe below AND
    // (on the large-G path) both self-join sides read it without
    // re-running the corpus pass (exchange reuse is best-effort).
    // lazy pin: the group-count probe is the single next consumer and
    // materializes the matrix in its own job (the pinLazy discipline)
    val (sig, handle) = pinLazy(
      sh.groupBy(col("_g")).agg(sigCols.head, sigCols.tail: _*))
    val nGroups = sig.count()
    def pairsOf(comp: DataFrame, hinted: Boolean): DataFrame = {
      val a = if (hinted) comp.as("a").hint("shuffle_hash")
              else comp.as("a")
      a.join(comp.as("b"), col("a.i") === col("b.i")
          && col("a.h") === col("b.h") && col("a._g") < col("b._g"))
        .groupBy(col("a._g").as("group_a"), col("b._g").as("group_b"))
        .agg(count(lit(1)).as("matches"))
        .withColumn("est_jaccard_ppm",
          expr(s"matches * 1000000L div ${numHashes}L"))
    }
    if (nGroups <= maxLocalGroups) {
      val rows = sig.collect().flatMap { r =>
        (0 until numHashes).map(i => Row(r.get(0), i, r.getLong(i + 1)))
      }
      handle.release()
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("_g",
          sig.schema.head.dataType),
        org.apache.spark.sql.types.StructField("i",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("h",
          org.apache.spark.sql.types.LongType)))
      val comp = spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), schema)
      (pairsOf(comp, hinted = false), new PinHandle(() => ()))
    } else {
      val comp = sig.select(col("_g"), explode(array(
        (0 until numHashes).map(i =>
          struct(lit(i).as("i"), col(s"_h$i").as("h"))): _*)).as("c"))
        .select(col("_g"), col("c.i").as("i"), col("c.h").as("h"))
      (pairsOf(comp, hinted = true), handle)
    }
  }

  /** The Carter-Wegman modulus for [[corpusOverlapSketch]]: the
    * Mersenne prime 2^31 − 1. */
  val MinhashPrime: Long = 2147483647L

  /** Universal-hash constants for [[corpusOverlapSketch]] component
    * `i`: md5-derived (A_i, B_i) with A_i in [1, p) and B_i in
    * [0, p), p = [[MinhashPrime]]. A_i·base + B_i < 2^62 stays
    * inside a signed 64-bit value on every engine (DuckDB ERRORS on
    * BIGINT overflow where the JVM wraps — staying under the bound
    * sidesteps both). Public so the paired oracle SQL can inline the
    * identical literals. */
  def minhashConsts(i: Int): (Long, Long) = {
    def h(tag: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$tag:$i".getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.map("%02x".format(_)).mkString.take(15), 16) % MinhashPrime
    }
    (h("graft-mh-a").max(1L), h("graft-mh-b"))
  }

  /** MinHash + LSH candidate pairs: `numHashes` signature components in
    * `bands` bands; rows sharing any band bucket are candidates.
    * Deterministic (salted md5), so checkable against any engine.
    *
    * Shape: explode shingles once, compute all hash components as
    * min-aggregates over the exploded rows (map-side combine — one
    * shuffle of tiny partial mins, never of shingle text). The naive
    * alternative (array_min over a per-row transform, once per hash
    * column) re-evaluates the shingle array 8x after Catalyst's
    * project collapse inlines it — measured 15x slower at sf0.1. */
  /** `maxDf` caps the shingle universe the signatures are computed
    * over (a semantics choice, matched by the oracle); `maxBucket`
    * guards the pair blowup at the level it actually happens — a
    * band bucket of n rows emits n² candidate pairs regardless of why
    * the signatures collided, so buckets larger than `maxBucket` are
    * dropped wholesale (the same broadcast-anti-join shape as
    * [[capDf]], but over (band, bucket) keys — docs × bands rows, far
    * cheaper than exploded shingle text). Returns the candidates and
    * the [[PinHandle]] owning the pinned exploded-shingle blocks:
    * consume the frame, then `release()`. */
  def minhashLshCandidates(df: DataFrame, k: Int, numHashes: Int,
      bands: Int, idCol: String = "doc_id", textCol: String = "text",
      maxDf: Int = Int.MaxValue, maxBucket: Int = Int.MaxValue)
      : (DataFrame, PinHandle) = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    // pinned for the same reason as in jaccardPairs (hot-set agg +
    // signature agg both consume it); result is cache-backed
    val (sh0, handle) = pinNow(withShingles(df, k, idCol, textCol))
    val sh = capDf(sh0, maxDf)
    val sigCols = (0 until numHashes).map(i =>
      min(md5(concat(lit(s"$i:"), col("sh")))).as(s"_h$i"))
    val withSig = sh.groupBy(col("_id"))
      .agg(sigCols.head, sigCols.tail: _*)
    val banded = (0 until bands).foldLeft(withSig) { (acc, b) =>
      val parts = (0 until rowsPerBand)
        .map(r => col(s"_h${b * rowsPerBand + r}"))
      acc.withColumn(s"_band$b", md5(concat_ws("|", parts: _*)))
    }
    // one row per (band, bucket, id); same-bucket rows pair up
    val buckets0 = banded.select(col("_id"),
      explode(array((0 until bands).map(b =>
        concat_ws("#", lit(b.toString), col(s"_band$b"))): _*)).as("bkt"))
    val buckets =
      if (maxBucket == Int.MaxValue) buckets0
      else {
        require(maxBucket >= 2,
          s"maxBucket must be >= 2 (got $maxBucket)")
        capHot(buckets0, "bkt", maxBucket)
      }
    val a = buckets.as("a"); val b2 = buckets.as("b")
    val cands = a
      .join(b2, col("a.bkt") === col("b.bkt") && col("a._id") < col("b._id"))
      .select(col("a._id").as("id_a"), col("b._id").as("id_b"))
      .distinct()
    (cands, handle)
  }

  /** Shared-passage near-duplicate pairs via rolling window
    * fingerprints: documents sharing >= `minShared` DISTINCT w-token
    * window fingerprints ([[TextOps.rollingFromHashes]]) are paired
    * with the shared-window count. This is SUBSTRING-level dedup — a
    * passage copied between otherwise-different documents yields
    * identical window fingerprints at ANY offset, which whole-document
    * fingerprints miss and shingle-set Jaccard only surfaces when the
    * shared fraction is large.
    *
    * 100 TB shape: same inverted-index discipline as [[jaccardPairs]] —
    * one row per distinct (doc, window-fp), `maxDf` drops
    * boilerplate windows shared by more than maxDf docs (the O(f²)
    * guard, broadcast anti-join), shuffled-hash self-join on the
    * 8-byte fp key (cheaper still than Jaccard's string shingles), one
    * pair aggregation. The exploded fp frame feeds the hot-set agg and
    * both join sides, so it is pinned eagerly; the result comes with
    * the [[PinHandle]] owning those blocks: consume the frame, then
    * `release()`. */
  def overlapPairs(df: DataFrame, w: Int, minShared: Long = 1L,
      idCol: String = "doc_id", textCol: String = "text",
      hashJoin: Boolean = true, maxDf: Int = Int.MaxValue)
      : (DataFrame, PinHandle) = {
    require(w >= 1, "window >= 1")
    val fps0 = spread(df.select(col(idCol).as("_id"), col(textCol)), "_id")
      .select(col("_id"), TextOps.tokens(lower(col(textCol))).as("_toks"))
      .select(col("_id"), TextOps.tokenHashes(col("_toks")).as("_th"))
      .select(col("_id"), explode(array_distinct(
        TextOps.rollingFromHashes(col("_th"), w))).as("fp"))
    val (fps, handle) = pinNow(fps0)
    val capped = capHot(fps, "fp", maxDf)
    val left = if (hashJoin) capped.hint("shuffle_hash") else capped
    val a = left.as("a"); val b = capped.as("b")
    val pairs = a
      .join(b, col("a.fp") === col("b.fp") && col("a._id") < col("b._id"))
      .groupBy(col("a._id").as("id_a"), col("b._id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
    (pairs, handle)
  }

  /** Passage-level duplicate-text REMOVAL (the "deduplicate training
    * data" operator of Lee et al. 2021, ExactSubstr-style): every
    * `w`-token window whose rolling fingerprint occurs more than once
    * in the corpus — across documents OR repeated inside one — keeps
    * its FIRST occurrence (min (doc, pos)) and is scrubbed everywhere
    * else; documents are re-emitted with the covered token positions
    * deleted. [[overlapPairs]] DETECTS shared passages pairwise; this
    * is the companion that actually edits the corpus (boilerplate
    * headers, license blocks, decoding loops).
    *
    * Shape — aggregate, never pair-join, so no quadratic guard is
    * needed: occurrences (id, pos, fp) are corpus-token-proportional
    * and take ONE hash shuffle on the fingerprint (a single window
    * computes the first-occurrence rank; `rn > 1` alone marks
    * removals — an occurrence-count window would be redundant AND a
    * second WindowExec pass, see the inline note); coverage
    * explodes only REMOVED occurrences (duplication-proportional) and
    * re-aggregates per doc; reconstruction joins the per-doc covered
    * set (≤ one row per doc) back on the id and rebuilds the text
    * row-locally — `array_except` is hash-set backed (O(n + c) per
    * doc, order-preserving) and tokens are O(1) `element_at` lookups
    * off the bound array. A boilerplate window with millions of
    * occurrences costs only its own narrow occurrence rows in one
    * window partition — linear, unlike the pair generators where hot
    * keys explode quadratically. The corpus is tokenized twice (scan
    * is cheaper than caching token arrays — measured 0.29 vs 0.82 s).
    *
    * Fingerprints key on TWO independent rolling lanes (disjoint md5
    * bits, different base/modulus): one ~30-bit lane collides at
    * birthday scale ~31k windows, and here a collision DELETES
    * unrelated text rather than costing a filtered candidate — the
    * paired key pushes that past 2^59 (see TextOps.RollB2).
    *
    * Returns one row per input doc: (idCol, n_tokens, n_removed,
    * text_dedup) — text rebuilt from surviving lowercased tokens
    * joined by single spaces (the lexical family's canonical token
    * stream); docs shorter than `w` tokens pass through whole. */
  def removeSharedPassages(df: DataFrame, w: Int = 8,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(w >= 1, "window >= 1")
    val base = spread(df.select(col(idCol).as("_id"), col(textCol)), "_id")
      .select(col("_id"), TextOps.tokens(lower(col(textCol))).as("_toks"))
    // occurrence frame: both fingerprint lanes from ONE md5 projection
    val occ = base
      .select(col("_id"), TextOps.tokenMd5s(col("_toks")).as("_ms"))
      .select(col("_id"),
        TextOps.tokenHashesFromMd5s(col("_ms")).as("_h1"),
        TextOps.tokenHashes2FromMd5s(col("_ms")).as("_h2"))
      .select(col("_id"), posexplode(zip_with(
        TextOps.rollingFromHashes(col("_h1"), w),
        TextOps.rollingFromHashes2(col("_h2"), w),
        (a, b) => struct(a.as("f1"), b.as("f2")))).as(Seq("_pos", "_fp")))
      .select(col("_id"), col("_pos"),
        col("_fp.f1").as("_f1"), col("_fp.f2").as("_f2"))
    // row_number > 1 alone selects every non-first occurrence — a
    // partition count would be redundant (rn > 1 implies >= 2 rows)
    // AND cost a second WindowExec pass (unordered count + ordered
    // row_number don't fuse into one Window operator)
    val part = Window.partitionBy("_f1", "_f2")
    val removed = occ
      .withColumn("_rn", row_number().over(
        part.orderBy(col("_id"), col("_pos"))))
      .where(col("_rn") > 1)
    val covered = removed
      .select(col("_id"),
        explode(sequence(col("_pos"), col("_pos") + lit(w - 1))).as("_tp"))
      .groupBy("_id")
      .agg(sort_array(collect_set(col("_tp"))).as("_cov"))
    base.join(covered, Seq("_id"), "left")
      .withColumn("_cov2", coalesce(col("_cov"), array().cast("array<int>")))
      .select(col("_id").as(idCol),
        size(col("_toks")).cast("long").as("n_tokens"),
        size(col("_cov2")).cast("long").as("n_removed"),
        concat_ws(" ", transform(
          array_except(
            when(size(col("_toks")) === 0, array().cast("array<int>"))
              .otherwise(sequence(lit(0), size(col("_toks")) - 1)),
            col("_cov2")),
          i => element_at(col("_toks"), i + lit(1)))).as("text_dedup"))
  }

  /** (id, pos, line, key) rows for the line-granular corpus editors:
    * `lineSep` segments of the RAW text in document order, keyed by
    * their value stripped of leading/trailing WHITESPACE — not just
    * ' ': with lineSep = "\n" a CRLF corpus leaves '\r' on every line
    * and tab-indented boilerplate never matches its clean twin under a
    * space-only trim, so the furniture survives exactly where the
    * operator is sold to remove it. The class is the EXPLICIT set
    * `[ \t\n\x0B\f\r]`, never a bare `\s`: Java's `\s` includes
    * U+000B (vertical tab) while RE2's — the oracle engine's — does
    * not, so a `\s` trim gives a \x0B-padded line different keys on
    * the two engines (the oracle SQL embeds the identical explicit
    * class). Trailing empties survive the split (`limit = -1`) so
    * reconstruction is exact. */
  private def lineRows(df: DataFrame, lineSep: String, idCol: String,
      textCol: String): DataFrame = {
    val sepRe = java.util.regex.Pattern.quote(lineSep)
    val ws = "[ \\t\\n\\x0B\\f\\r]"
    spread(df.select(col(idCol).as("_id"), col(textCol)), "_id")
      .select(col("_id"),
        posexplode(split(col(textCol), sepRe, -1))
          .as(Seq("_pos", "_line")))
      .withColumn("_key",
        regexp_replace(col("_line"), s"^$ws+|$ws+$$", ""))
  }

  /** rebuild (idCol, text_kept, n_lines_kept, n_lines_removed) from
    * the surviving line rows — original order, original bytes,
    * rejoined with `lineSep`; docs whose every line was removed come
    * back as empty text, never dropped rows */
  private def rebuildLines(df: DataFrame, kept: DataFrame,
      lineSep: String, idCol: String, textCol: String): DataFrame = {
    val sepRe = java.util.regex.Pattern.quote(lineSep)
    val rebuilt = kept.groupBy(col("_id"))
      .agg(concat_ws(lineSep, transform(
          array_sort(collect_list(struct(col("_pos"), col("_line")))),
          s => s.getField("_line"))).as("text_kept"),
        count(lit(1)).as("n_lines_kept"))
    df.select(col(idCol).as("_id"),
        size(split(col(textCol), sepRe, -1)).cast("long").as("_nt"))
      .join(rebuilt, Seq("_id"), "left")
      .select(col("_id").as(idCol),
        coalesce(col("text_kept"), lit("")).as("text_kept"),
        coalesce(col("n_lines_kept"), lit(0L)).as("n_lines_kept"),
        (col("_nt") - coalesce(col("n_lines_kept"), lit(0L)))
          .as("n_lines_removed"))
  }

  /** Corpus-level boilerplate-line removal — the CCNet/RefinedWeb
    * line-frequency rule (Wenzek et al. 2020; Penedo et al. 2023):
    * a line whose trimmed value occurs in MORE than `maxDocFreq`
    * distinct documents is navigation/header/license furniture, not
    * content, and every occurrence is dropped; whitespace-only lines
    * are structure and always kept. Returns one row per input doc:
    * (idCol, text_kept, n_lines_kept, n_lines_removed), text rebuilt
    * in original order with original bytes.
    *
    * 100 TB shape: one explode, one map-side-combined distinct-doc
    * count per line key, one hash ANTI-join back on the key (the hot
    * set is NOT broadcast — its size is bounded only by
    * total-lines / maxDocFreq, corpus-proportional in the worst
    * case; AQE's skew handling covers hot boilerplate keys), one
    * per-doc rebuild aggregation. No pair join, no quadratic guard
    * needed — the df count is linear in line occurrences. */
  def removeBoilerplateLines(docs: DataFrame, maxDocFreq: Long,
      lineSep: String = "\n", idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(maxDocFreq >= 1, s"maxDocFreq >= 1: $maxDocFreq")
    val rows = lineRows(docs, lineSep, idCol, textCol)
    // blank lines bypass the key join entirely: they can never match
    // (the hot/winner side filters them) but hash to the ONE ''
    // partition — at corpus scale every paragraph separator would
    // pile onto a single straggler reducer
    val content = rows.where(col("_key") =!= "")
    val blanks = rows.where(col("_key") === "")
      .select(col("_id"), col("_pos"), col("_line"))
    val hot = content
      .groupBy(col("_key"))
      .agg(count_distinct(col("_id")).as("_df"))
      .where(col("_df") > maxDocFreq)
      .select(col("_key"))
    val kept = content.join(hot, Seq("_key"), "left_anti")
      .select(col("_id"), col("_pos"), col("_line"))
      .unionByName(blanks)
    rebuildLines(docs, kept, lineSep, idCol, textCol)
  }

  /** Corpus-GLOBAL line dedup — CCNet's hashed-line dedup proper:
    * every duplicated line keeps exactly its FIRST occurrence in the
    * corpus order (min (doc, pos), the [[removeSharedPassages]]
    * convention) and is dropped everywhere else, including repeats
    * INSIDE one document; whitespace-only lines always survive.
    * Same output shape as [[removeBoilerplateLines]].
    *
    * 100 TB shape: the winner per line key is a map-side-combined
    * `min(struct(id, pos))` aggregate — skew-safe where a
    * row_number window would pile a hot boilerplate key into one
    * partition — joined back on the key (each row meets exactly one
    * winner row). */
  def dedupLinesGlobal(docs: DataFrame, lineSep: String = "\n",
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val rows = lineRows(docs, lineSep, idCol, textCol)
    // blank lines bypass the key join (the removeBoilerplateLines
    // skew note)
    val content = rows.where(col("_key") =!= "")
    val blanks = rows.where(col("_key") === "")
      .select(col("_id"), col("_pos"), col("_line"))
    val winners = content
      .groupBy(col("_key"))
      .agg(min(struct(col("_id"), col("_pos"))).as("_w"))
    val kept = content.join(winners, Seq("_key"), "left")
      .where(struct(col("_id"), col("_pos")) === col("_w"))
      .select(col("_id"), col("_pos"), col("_line"))
      .unionByName(blanks)
    rebuildLines(docs, kept, lineSep, idCol, textCol)
  }

  /** Ownership handle for pinned cache blocks. Every pinning operator
    * has ONE face returning `(DataFrame, PinHandle)`: the frame reads
    * the pinned blocks, so the caller consumes it, then calls
    * `release()` — the blocks are freed the moment the result is
    * consumed. A harness that drops the handle (the `SparkEntry`
    * registry) frees the blocks with [[graft.util.LocalSession.sweep]]. */
  final class PinHandle private[pipeline] (release0: () => Unit) {
    def release(): Unit = release0()
  }

  /** Pin a DataFrame: cache its rows as an RDD and rebuild an O(1)-plan
    * frame on top, returning the RDD handle so the caller can free the
    * blocks the moment the round is superseded. Unlike
    * `localCheckpoint` this keeps lineage (an executor loss recomputes
    * instead of failing the job) and gives us an explicit `unpersist`
    * — the r4 loop leaked every round's checkpoint blocks until the
    * ContextCleaner got around to them, degrading the whole session.
    *
    * The plan CUT (rebuilding a leaf frame over the RDD) is the point:
    * [[clusters]]' round-N plan would otherwise contain round-N-1's
    * full lineage, growing analysis time linearly and making Catalyst's
    * cache-plan matching load-bearing. [[pinLazy]] and [[pinNow]] are
    * its handle faces. */
  private def pin(df: DataFrame): (DataFrame, RDD[Row]) = {
    val rdd = df.rdd.persist(StorageLevel.MEMORY_AND_DISK)
    (df.sparkSession.createDataFrame(rdd, df.schema), rdd)
  }

  /** [[pin]] as a handle, WITHOUT eager materialization: for loop
    * states whose first (and only concurrent) consumer is a
    * control-plane collect — that job materializes the cache and the
    * eager count would be a second pass for nothing (the capArrays
    * fusion discipline). Use [[pinNow]] when several stages of one
    * query read the pin concurrently. */
  private[graft] def pinLazy(df: DataFrame): (DataFrame, PinHandle) = {
    val (f, rdd) = pin(df)
    (f, new PinHandle(() => { rdd.unpersist(blocking = false); () }))
  }

  /** pin + materialize NOW. A lazily-pinned frame that is a leaf of
    * several concurrent stages of the same query (broadcast job + both
    * self-join sides) gets computed by every stage at once — redundant
    * work plus block-manager lock contention (measured multi-second
    * outliers). One cheap eager job up front makes every downstream
    * read a cache hit.
    *
    * Storage is `RDD[Row]` pinning ([[pin]]), NOT Tungsten columnar
    * `df.persist` — this was A/B-measured at sf0.1 on a quiesced
    * 32-core box (SPARK_GRAFT_ONLY=d_dedup_clusters,
    * d_jaccard_pairs,d_minhash_lsh): rows 7.0 s total (clusters 3.2,
    * jaccard 2.5, minhash 1.3) vs columnar 12.1 s (6.5 / 3.8 / 1.8).
    * Columnar loses despite smaller blocks because every downstream
    * read pays ColumnarToRow decompression + batch iteration per pass,
    * and the exploded shingle frame is consumed FOUR times per query
    * by row-oriented operators (hash-join build/probe, aggregation) —
    * the repeated decode costs more than the InternalRow↔Row
    * conversion the RDD path pays once at cache-write time. */
  private[graft] def pinNow(df: DataFrame): (DataFrame, PinHandle) = {
    val (f, rdd) = pin(df)
    rdd.count()
    (f, new PinHandle(() => { rdd.unpersist(blocking = false); () }))
  }

  /** Connected-component clustering of near-duplicate pairs: every id
    * is labeled with the smallest id reachable through the pair graph
    * (the cluster representative to keep). Iterative min-label
    * propagation with pointer-jumping (label <- label(label)) AND
    * per-round edge contraction (edges rewritten to current labels),
    * so convergence takes O(log diameter) rounds, not O(diameter),
    * regardless of id placement — same family as the "large/small
    * star" contraction algorithms (Kiveris et al., SoCC 2014). The
    * jump alone is NOT enough: it only doubles progress when label
    * values align with the topology (see the contraction comment in
    * the loop — the sf0.1 semantic graph measured Θ(diameter)=18
    * rounds without contraction, 7 with). Runs to FULL convergence
    * (changed == 0); `maxIters` is a runaway-graph safety valve that
    * THROWS rather than silently returning wrong labels (log2 of any
    * real diameter fits comfortably in the default 50).
    *
    * ONE label job per round: the previous label rides along
    * as `_old`, so the convergence count is a predicate on the same
    * scan that materializes the round's pinned cache — no extra join,
    * no separate count job. (Non-final rounds add one small edge-
    * contraction job over pinned frames — 2r−1 jobs total, and the
    * contraction is what keeps r logarithmic.) Superseded rounds are
    * unpersisted immediately. The returned frame reads the final
    * round's cached blocks and comes with the [[PinHandle]] owning
    * them: consume the frame, then `release()`.
    *
    * The round is FUSED into two parallel joins feeding one
    * aggregation (r6 hardening): neighbor-min, identity, and
    * pointer-jump (label <- label(label)) candidates are unioned and
    * reduced by a single min-per-node — ~3 sequential stage waves per
    * round instead of the previous 5 (propagate-join, groupBy,
    * left-join, jump-join chain). The BSP loop is many SMALL jobs, so
    * scheduler/block-manager latency — not data — dominates each
    * round; on a loaded machine the r6 driver bench amplified that
    * fixed overhead ~6x, which is exactly the tax a busy 1000-executor
    * cluster pays. While the label table is provably small (counted
    * once at entry — it has exactly one row per input id in every
    * round) the loop broadcasts it EXPLICITLY in all joins, collapsing
    * each round to a single shuffle (the candidate min-agg); pinned
    * leaves carry no stats, so without the hint Catalyst sort-merges
    * and even AQE's conversion first pays the shuffle write it then
    * bypasses (round 12; see `broadcastMaxIds`). Convergence is
    * unchanged:
    * stability of the fused min implies every neighbor's label equals
    * the node's across each (symmetric) edge, i.e. component-uniform
    * labels, so no earlier exit exists. The jump uses the PREVIOUS
    * round's labels (vs post-propagate in the unfused shape) — same
    * fixpoint, still O(log diameter) rounds.
    *
    * Contract: every id appearing in `pairs` must appear in `ids`
    * (pairs are produced from the same corpus frame).
    *
    * Measured cost shape at sf0.1 (5k docs): the dominant term is
    * MATERIALIZING THE PAIRS INPUT into the pinned edge cache (~2.5 s
    * of jaccard pipeline), then 2 BSP rounds (one reaches the
    * fixpoint; the confirming round runs the cheap jump-only plan
    * once the contraction empties the quotient — see the loop) of
    * fixed small-job overhead — overhead that amortizes away at real
    * data sizes, where per-round work is data-bound. Counting fused
    * labels vs `_old` is exactly the right termination test (see
    * above). */
  def clusters(ids: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id", maxIters: Int = 50,
      localMaxEdges: Int = 1 << 18)
      : (DataFrame, PinHandle) = {
    val (df, h, _) = clustersCounted(ids, pairs, idCol, maxIters,
      localMaxEdges = localMaxEdges)
    (df, h)
  }

  /** [[clusters]] plus the number of BSP rounds executed (the
    * final changed==0 confirming round included). Exposed so specs can
    * PIN the expected round count: the loop's cost at bench scale is
    * fixed per-round job overhead, so an accidental extra round (e.g.
    * a regression that breaks the contraction doubling) shows up as
    * quiet wall-clock variance long before it shows up as wrong
    * labels. Near-clique dedup graphs converge in 2 rounds (one
    * reaches the fixpoint — every node adjacent to its component
    * min — one confirms, on the cheap jump-only plan); a diameter-d
    * component needs ~log2(d)+2 REGARDLESS of how ids are placed on
    * the topology (see the contraction note in the loop).
    *
    * CONTROL-PLANE FAST PATH (`localMaxEdges`, round 13): a connected-
    * components problem whose edge list fits the driver is a
    * control-plane computation, not a distributed one — the BSP
    * loop's cost at that size is pure per-round scheduler latency
    * (~1.4 s of small jobs at sf0.1 for 2 rounds + contraction). The
    * edge pin's materialization is FUSED with a bounded
    * `limit(n+1).collect()` probe (the capArrays discipline: the same
    * action caches the blocks and returns the rows), so the size check
    * costs zero extra actions on either path. Counts here are per
    * action, not per Spark job: `limit(n+1).collect()` goes through
    * Spark's incremental take, which can launch more than one job (the
    * Bench ledger at sf0.1 records 2 `dedup:clusters:edges` jobs for
    * d_dedup_clusters). At or under the bound the
    * labels come from driver union-find (min-id per component —
    * identical labels by construction, spec-pinned equivalent; a
    * membership guard keeps BSP for graphs violating pairs ⊆ ids×ids,
    * see [[localComponents]]) joined back as a broadcast local
    * relation; past it — corpus-scale
    * graphs, where per-round work is data-bound and the loop is the
    * right shape — the already-pinned edges feed the unchanged BSP
    * loop. `localMaxEdges` bounds the DOUBLED edge rows (2 per pair);
    * `localMaxEdges = 0` disables the probe entirely (specs pinning
    * BSP round counts force this). The local path reports 0 rounds. */
  private[graft] def clustersCounted(ids: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id", maxIters: Int = 50,
      broadcastMaxIds: Long = 1L << 20,
      localMaxEdges: Int = 1 << 18)
      : (DataFrame, PinHandle, Int) = {
    val sc = ids.sparkSession.sparkContext
    // both edge directions from ONE evaluation of the pairs DAG: a
    // union of two selects re-runs the (expensive) upstream pair
    // pipeline per branch; exploding a 2-struct array doubles the rows
    // in a single pass instead.
    var (edges, edgesRdd) = pin(
      pairs.select(explode(array(
          struct(col("id_a").as("src"), col("id_b").as("dst")),
          struct(col("id_b").as("src"), col("id_a").as("dst")))).as("_e"))
        .select(col("_e.src").as("src"), col("_e.dst").as("dst")))
    // control-plane fast path: one fused job materializes the edge pin
    // AND probes its size; a driver-sized edge list short-circuits the
    // whole loop (see the scaladoc). Ordering is required to replicate
    // the engines' min() on the id type — unsupported types keep BSP.
    val localOrd: Option[Ordering[Any]] =
      ids.schema(idCol).dataType match {
        case org.apache.spark.sql.types.LongType =>
          Some(Ordering.by((x: Any) => x.asInstanceOf[Long]))
        case org.apache.spark.sql.types.IntegerType =>
          Some(Ordering.by((x: Any) => x.asInstanceOf[Int]))
        case org.apache.spark.sql.types.StringType =>
          // Spark's min() on strings compares UTF8String BYTES
          // (code-point order); java.lang.String.compareTo compares
          // UTF-16 code units, which disagrees whenever supplementary-
          // plane characters mix with U+E000..U+FFFF. Compare the
          // UTF-8 bytes unsigned — the engines' exact order.
          Some(new Ordering[Any] {
            def compare(a: Any, b: Any): Int = {
              val xa = a.asInstanceOf[String]
                .getBytes(java.nio.charset.StandardCharsets.UTF_8)
              val xb = b.asInstanceOf[String]
                .getBytes(java.nio.charset.StandardCharsets.UTF_8)
              java.util.Arrays.compareUnsigned(xa, xb)
            }
          })
        case _ => None
      }
    if (localMaxEdges > 0 && localOrd.isDefined) {
      // clamp: a force-everything Int.MaxValue must not overflow the
      // +1 into a negative limit
      val probe = JobDesc(sc, "dedup:clusters:edges")(edges
        .limit(if (localMaxEdges == Int.MaxValue) localMaxEdges
               else localMaxEdges + 1).collect())
      if (probe.length <= localMaxEdges) {
        JobDesc(sc, "dedup:clusters:local")(
            localComponents(ids, probe, idCol, localOrd.get)) match {
          case Some(res) =>
            edgesRdd.unpersist(blocking = false)
            return res
          case None => // foreign/null endpoints: BSP's join semantics
                       // (drop the edge) are the defined behavior
        }
      }
      // over the bound (or precondition miss): the probe still warmed
      // the pin; fall through to the unchanged BSP loop over it
    }
    var (labels, labelsRdd) = pin(
      ids.select(col(idCol).as("id"), col(idCol).as("label")))
    // Eager materialization of the label pin (pinNow's contention
    // rationale: round 1 reads it from THREE concurrent stages —
    // neighbor join, identity scan, jump self-join), and the count is
    // the broadcast proof: a pinned leaf carries no Catalyst stats, so
    // without an explicit hint every labels join sort-merges through
    // two exchanges per round — pure scheduler latency at bench scale,
    // and AQE's broadcast conversion still pays the shuffle write it
    // later bypasses. The label frame is exactly one row per input id
    // FOREVER (rounds replace values, never add rows), so one count at
    // entry licenses the hint for every round. Past `broadcastMaxIds`
    // (corpus-scale graphs — labels are doc-count-sized) the loop
    // keeps the partitioned joins: a 100 TB label table cannot ride a
    // broadcast, and there the per-round work is data-bound anyway.
    val bcastLabels =
      JobDesc(sc, "dedup:clusters:labels")(labelsRdd.count()) <=
        broadcastMaxIds
    def asBcast(df: DataFrame): DataFrame =
      if (bcastLabels) broadcast(df) else df
    val idT = labels.schema("label").dataType
    var changed = 1L
    var iter = 0
    var graphEmpty = false
    while (changed > 0) {
      if (iter >= maxIters)
        throw new IllegalStateException(
          s"Dedup.clusters did not converge in $maxIters rounds " +
            s"($changed labels still changing) — pathological graph?")
      val nullOld = lit(null).cast(idT).as("old")
      // candidate labels from three sources, reduced by ONE min-agg:
      //  - neighbor: min label among adjacent nodes
      //  - identity: the node's own label (also carries _old for the
      //    convergence count — every node has exactly one such row, so
      //    max(old) recovers it through the agg)
      //  - jump: label(label(n)) — follows the representative chain so
      //    non-representative nodes keep learning the improving min
      //
      // Once the CONTRACTED graph is empty (quotient fully collapsed;
      // only representative chains remain to flatten), the neighbor
      // source is gone and min(self, jump) = jump — label(label(n)) ≤
      // label(n) because label(m) ≤ m for every m (labels start as own
      // ids and only min-reduce). The remaining rounds therefore run a
      // JUMP-ONLY plan: one self-join instead of the 3-way union DAG —
      // same labels, same round count, smaller job. (Round 12; an
      // earlier attempt to SKIP these rounds entirely was wrong — the
      // quotient can collapse while non-representatives still lag.)
      val round =
        if (graphEmpty)
          labels.as("x").join(asBcast(labels.as("y")),
              col("x.label") === col("y.id"))
            .select(col("x.id").as("node"),
              col("y.label").as("label"), col("x.label").as("_old"))
        else {
          val neigh = edges.join(asBcast(labels), edges("dst") === labels("id"))
            .select(edges("src").as("node"), labels("label").as("cand"),
              nullOld)
          val self = labels.select(col("id").as("node"),
            col("label").as("cand"), col("label").as("old"))
          val jump = labels.as("x").join(asBcast(labels.as("y")),
              col("x.label") === col("y.id"))
            .select(col("x.id").as("node"), col("y.label").as("cand"),
              nullOld)
          neigh.union(self).union(jump)
            .groupBy(col("node"))
            .agg(min(col("cand")).as("label"), max(col("old")).as("_old"))
        }
      val (pinned, rdd) = pin(round)
      // materializes the cache AND counts convergence in one job
      changed = JobDesc(sc, "dedup:clusters:round")(
        pinned.where(col("label") =!= col("_old")).count())
      labelsRdd.unpersist(blocking = false)
      labels = pinned.select(col("node").as("id"), col("label"))
      labelsRdd = rdd
      iter += 1
      // EDGE CONTRACTION (the round-10 fix): rewrite every edge to the
      // endpoints' current labels and drop self-loops. Without it the
      // jump only doubles progress when label values happen to align
      // with the topology (the spec's ordered path); on a graph whose
      // ids are random relative to structure — the semantic near-dup
      // graph at sf0.1: 624 components, diameter 24 — the loop
      // measured Θ(diameter) = 18 rounds where contraction + jump
      // takes 7 (clique 2, path-30 7; simulated AND spec-pinned).
      // Each contraction shrinks the frontier graph geometrically
      // (parallel duplicate edges are harmless to a min-agg and
      // bounded by |E|, so no dedup shuffle); the second per-round
      // action reads only pinned frames, and skipping it on the
      // confirming round keeps the job count at 2r-1.
      if (changed > 0 && !graphEmpty) {
        val (cEdges, cRdd) = pin(
          edges.join(asBcast(labels.as("ls")), edges("src") === col("ls.id"))
            .join(asBcast(labels.as("ld")), edges("dst") === col("ld.id"))
            .select(col("ls.label").as("src"), col("ld.label").as("dst"))
            .where(col("src") =!= col("dst")))
        // the materializing count doubles as the quotient-collapse
        // test that switches later rounds to the jump-only plan
        val remaining = JobDesc(sc, "dedup:clusters:contract")(cRdd.count())
        edgesRdd.unpersist(blocking = false)
        edges = cEdges
        edgesRdd = cRdd
        if (remaining == 0) graphEmpty = true
      }
    }
    edgesRdd.unpersist(blocking = false)
    val rddHandle = labelsRdd
    (labels.select(col("id").as(idCol), col("label").as("cluster")),
      new PinHandle(() => { rddHandle.unpersist(blocking = false); () }),
      iter)
  }

  /** Driver-side min-label connected components over a collected edge
    * list (the [[clustersCounted]] fast path): union-find with path
    * compression, then min-id per component under the SAME ordering
    * the engines' `min()` applies — identical labels to the BSP loop
    * by construction. "By construction" needs pairs ⊆ ids×ids:
    * outside that contract the BSP loop's join semantics produce a
    * DIFFERENT (degenerate) answer than union-find — measured:
    * foreign endpoints surface as extra label rows carrying a
    * neighbor's label, but a foreign id never becomes an ids-row's
    * label and doesn't transitively connect its neighbors, while
    * union-find would merge the whole component under it and could
    * elect a non-id as the min. The membership check is FUSED into
    * the labels pin's forcing action (zero extra actions): the broadcast
    * map relation carries EVERY endpoint node (self-labels included)
    * so a join hit marks membership, and the one forcing aggregate
    * both materializes the cache and counts distinct hit ids — fewer
    * hits than endpoint nodes means a foreign endpoint, the pin is
    * dropped and the caller keeps the BSP loop, whose join semantics
    * ARE the defined behavior (a null endpoint bails the same way
    * before any job). Ids outside every edge label themselves via
    * `coalesce`. The returned frame is pinned like the BSP result so
    * multi-consumer callers and the plan-shape gates see the
    * identical contract. */
  private def localComponents(ids: DataFrame, edgeRows: Array[Row],
      idCol: String, ord: Ordering[Any])
      : Option[(DataFrame, PinHandle, Int)] = {
    import scala.collection.mutable
    val parent = mutable.HashMap.empty[Any, Any]
    def find(x: Any): Any = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    var i = 0
    while (i < edgeRows.length) {
      val e = edgeRows(i)
      val a = e.get(0); val b = e.get(1)
      if (a == null || b == null) return None
      if (!parent.contains(a)) parent(a) = a
      if (!parent.contains(b)) parent(b) = b
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(rb) = ra
      i += 1
    }
    val spark = ids.sparkSession
    val idT = ids.schema(idCol).dataType
    val minOf = mutable.HashMap.empty[Any, Any]
    parent.keysIterator.foreach { n =>
      val r = find(n)
      val cur = minOf.get(r)
      if (cur.isEmpty || ord.lt(n, cur.get)) minOf(r) = n
    }
    // EVERY endpoint node ships (self-labels included): a join hit is
    // the membership witness the fused guard counts
    val mapping = parent.keysIterator.map(n => (n, minOf(find(n)))).toSeq
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", idT),
      org.apache.spark.sql.types.StructField("_lbl", idT)))
    import scala.jdk.CollectionConverters._
    val mapDf = spark.createDataFrame(
      mapping.map { case (n, l) => Row(n, l) }.asJava, schema)
    val (pinned, labelsRdd) = pin(
      ids.select(col(idCol).as("id"))
        .join(broadcast(mapDf), Seq("id"), "left")
        .select(col("id"),
          coalesce(col("_lbl"), col("id")).as("cluster"),
          col("_lbl").isNotNull.as("_hit")))
    // ONE action: materializes the pin AND counts distinct member
    // endpoints (count_distinct skips the null the hit-less `when`
    // leaves, and collapses duplicate ids rather than overcounting).
    // One action, not one job: the Bench ledger at sf0.1 records 4
    // `dedup:clusters:local` jobs for d_dedup_clusters
    val hits = pinned
      .agg(count_distinct(when(col("_hit"), col("id"))))
      .collect()(0).getLong(0)
    if (hits < parent.size) {
      labelsRdd.unpersist(blocking = false)
      return None
    }
    Some((pinned.select(col("id").as(idCol), col("cluster")),
      new PinHandle(() => { labelsRdd.unpersist(blocking = false); () }),
      0))
  }

  /** Soft dedup: instead of DROPPING near-duplicates, keep every
    * document and down-weight it by its near-dup cluster size —
    * weight_ppm = floor(1e6 / |cluster|), so each duplicate cluster
    * contributes ~one document's worth of sampling mass in total (the
    * "repetition discounting" alternative to hard dedup when
    * borderline near-dups carry signal). Composes [[clusters]] with a
    * map-side-combined groupBy-count per cluster label joined back to
    * the final pinned label frame (no join back to the CORPUS — the
    * label frame already has one row per doc, and rows stay narrow).
    * Weights are integer ppm
    * (working-notes rule: no cross-engine float on the hash), ready
    * to divide into [[Sampling.weighted]]'s keep-probability or to
    * scale a loss/sampling prior downstream.
    *
    * Returns (idCol, cluster, n_dups, weight_ppm) and the
    * [[PinHandle]] owning the final label blocks: consume the frame,
    * then `release()`. */
  def softDedupWeights(ids: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id"): (DataFrame, PinHandle) = {
    val (labels, handle) = clusters(ids, pairs, idCol)
    // groupBy-count + equi-join, NEVER a window over the cluster
    // label: a viral near-dup mega-cluster is this operator's hot key
    // by construction, and a window funnels all its rows through one
    // task's sort with no AQE skew handling — the agg combines
    // map-side and the join is AQE-skew-splittable. No broadcast
    // hint: the counts side has one row per CLUSTER (≈ corpus-sized
    // on a mostly-unique corpus) — not provably small, and the
    // pinned-leaf rule licenses hints only for provably-small sides.
    val counts = labels.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_dups"))
    (labels.join(counts, Seq("cluster"))
      .select(col(idCol), col("cluster"), col("n_dups"))
      .withColumn("weight_ppm", expr("1000000L div n_dups")),
      handle)
  }

  /** 32-bit SimHash over word tokens, returned as a '0'/'1' string (bit
    * 0 first) — string form keeps it portable and bandable by substring.
    * Bit b of token t = bit (3 - b%4) of hex digit b/4 of md5(t),
    * equivalently bit (4L - 1 - b) of the value of the md5's first
    * L = ceil(bits/4) hex digits.
    *
    * Shape: one row per (doc, token) with the md5 prefix packed into a
    * single long, then ONE groupBy with `bits` conditional bit-sums in
    * codegen'd HashAggregate primitive buffers. The earlier formulation
    * exploded tokens × bits rows (32× row blowup) through TWO
    * aggregations (per-(doc,bit) sums, then collect_list per doc); the
    * repo's trigram lesson (bitset-in-longs beats row explosion)
    * applies here too. A/B at sf0.1 (500 docs, idle machine,
    * min-of-runs): explode 0.56 s / packed 0.54 s for `d_simhash`,
    * 1.77 s / 1.74 s for `d_simhash_pairs` — within run noise at this
    * corpus size (the join dominates pairs; the scan dominates
    * signatures), kept for the structural change: aggregation input
    * shrinks 32× and the second shuffle disappears, which is what
    * matters when tokens × 32 stops fitting the shuffle tier.
    * Signatures are bit-identical (the oracle hash-matches unchanged).
    *
    * bits <= 60 keeps the packed prefix (4L bits) inside a signed
    * 64-bit long — wider signatures would need a second word, and the
    * pairs path caps at 63 bits anyway for its popcount. */
  def simhash(df: DataFrame, bits: Int = 32, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(bits > 0 && bits <= 60,
      s"bits=$bits: the packed md5 prefix must fit a signed 64-bit long")
    val hexDigits = (bits + 3) / 4
    val toks = spread(df.select(col(idCol).as("_id"), col(textCol)), "_id")
      .select(col("_id"),
        explode(array_distinct(TextOps.tokens(lower(col(textCol)))))
          .as("tok"))
      .select(col("_id"),
        conv(substring(md5(col("tok")), 1, hexDigits), 16, 10)
          .cast("long").as("_v"))
    val counts = (0 until bits).map(b =>
      sum(expr(s"(_v >> ${4 * hexDigits - 1 - b}) & 1")).as(s"_c$b"))
    val chars = (0 until bits).map(b =>
      // majority of ±1 votes > 0  ⇔  2 * set-count > token count
      when(col(s"_c$b") * 2 > col("_n"), lit("1")).otherwise(lit("0")))
    toks.groupBy(col("_id"))
      .agg(counts.head, (counts.tail :+ count(lit(1)).as("_n")): _*)
      .select(col("_id").as("doc_id"), concat(chars: _*).as("simhash"))
  }

  /** SimHash near-duplicate pairs: banded candidate generation over
    * [[simhash]] signatures + an EXACT Hamming-distance filter.
    *
    * Recall is exact, not approximate: with `bands` equal-width bands, a
    * pair within Hamming distance `bands - 1` has fewer differing bits
    * than bands, so by pigeonhole at least one band is identical and
    * the pair surfaces as a candidate. `maxHamming` is therefore capped
    * at `bands - 1`; raising it requires more bands (narrower band
    * keys), the standard recall/candidate-volume dial.
    *
    * 100 TB shape: one row per (doc, band) — docs × bands, never docs² —
    * shuffled by band bucket; `maxBucket` drops degenerate buckets
    * wholesale (an n-row bucket emits n² candidates no matter why the
    * signatures collided) via the same broadcast-anti-join as [[capDf]].
    * The signature frame is tiny (one 32-char row per doc) but feeds
    * BOTH self-join sides, so it is pinned eagerly; the result comes
    * with the [[PinHandle]] owning those blocks: consume the frame,
    * then `release()`. */
  def simhashPairs(df: DataFrame, bits: Int = 32, bands: Int = 4,
      maxHamming: Int = 3, idCol: String = "doc_id",
      textCol: String = "text", maxBucket: Int = Int.MaxValue)
      : (DataFrame, PinHandle) = {
    require(bits % bands == 0, "bands must divide bits")
    // the exact-Hamming filter below rides conv(sig, 2, 10) cast to
    // BIGINT: a 64-bit signature can exceed Long.MaxValue, which nulls
    // out (non-ANSI) or errors (ANSI) — either way wrong. [[simhash]]'s
    // packed md5 prefix caps at 60 bits, the binding bound.
    require(bits <= 60,
      s"bits=$bits: signatures above 60 bits overflow the packed " +
        "md5 prefix (and 64 would overflow the Hamming popcount)")
    if (maxBucket != Int.MaxValue)
      require(maxBucket >= 2,
        s"maxBucket must be >= 2 (got $maxBucket)")
    require(maxHamming <= bands - 1,
      s"maxHamming=$maxHamming needs > $bands bands for exact recall " +
        s"(pigeonhole: at most bands-1=${bands - 1} differing bits " +
        "guarantee an identical band)")
    val w = bits / bands
    val (sig, handle) = pinNow(simhash(df, bits, idCol, textCol))
    val buckets0 = sig.select(col("doc_id"), col("simhash"),
      explode(array((0 until bands).map(b => concat_ws("#",
        lit(b.toString),
        expr(s"substr(simhash, ${b * w + 1}, $w)"))): _*)).as("bkt"))
    val buckets = capHot(buckets0, "bkt", maxBucket)
    val a = buckets.as("a"); val b = buckets.as("b")
    val pairs = a
      .join(b, col("a.bkt") === col("b.bkt")
        && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.simhash").as("_sa"), col("b.simhash").as("_sb"))
      .distinct()
      // Hamming via popcount(xor) on the numeric signature, not a
      // 32-iteration per-pair array comparison: the candidate set is
      // quadratic in bucket size, so the per-pair cost is the knob that
      // matters (conv + xor + bit_count stay in whole-stage codegen)
      .withColumn("hamming", expr(
        s"bit_count(cast(conv(_sa, 2, 10) as bigint) " +
          s"^ cast(conv(_sb, 2, 10) as bigint))").cast("long"))
      .where(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
    (pairs, handle)
  }
}
