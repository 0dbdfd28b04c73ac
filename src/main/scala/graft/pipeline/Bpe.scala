package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.JobDesc

/** Byte-pair-encoding subword tokenizer (Sennrich, Haddow & Birch,
  * "Neural Machine Translation of Rare Words with Subword Units",
  * ACL 2016 — the public algorithm behind GPT/Llama-style token
  * budgets): train a merges table on-corpus, encode by applying the
  * merges, count subword tokens. Whitespace/regex token counts
  * diverge 2-4× from BPE counts on code/CJK, so packing and chunk
  * budgets built on them misstate real training cost —
  * [[Sampling.packBudget]] takes a `tokensCol`, and this module
  * supplies the honest one.
  *
  * Determinism (the repo-wide rule): training has no RNG — the merge
  * at each rank is the (count, pair) argmax with ties broken by
  * binary string order — and encoding is a FIXED sequence of literal
  * string replaces, so the merges table and every token count are
  * bit-identical across engines, runs, and partitionings (the
  * t_tokens_bpe oracle re-derives both in DuckDB).
  *
  * Representation: a word's symbol sequence is one string with every
  * symbol wrapped in single spaces and adjacent symbols separated by
  * two — `" h  e  l  l  o "`. Merging pair (a, b) is then the literal
  * replace `" a  b " → " ab "`: the surrounding single spaces pin
  * symbol boundaries exactly (no prefix of a longer symbol can
  * match), the replaced text regenerates the wrapped form, and
  * left-to-right non-overlapping replacement — the semantics of both
  * Spark's and DuckDB's `replace` — gives the standard greedy pairing
  * (`a a a` → `aa a`). No regex, no lookaround, no per-engine
  * metacharacter hazards.
  *
  * Merges apply in RANK ORDER (rank 0 first, one global replace per
  * rank), which equals the reference lowest-rank-present-first loop
  * for any SELF-TRAINED table: a merge's output symbol exists only
  * after its rank, so every later pair involving it carries a higher
  * rank by construction — rank-order application can never skip a
  * pair the reference would take (BpeSpec pins the equivalence
  * against a literal reference implementation on random words).
  *
  * Scale shapes:
  *  - training: rounds over the DISTINCT-word frame (Zipf: vocabulary
  *    ≪ corpus), one count-weighted pair argmax per round (map-side
  *    combined, one kilobyte-scale collect), state pinned per round
  *    and the superseded round released at once — the BSP loop
  *    discipline. At 100 TB train on a sample: the merges table is
  *    control-plane rows, persisted and reused like IVF centroids.
  *  - encoding: the R-replace fold runs once per DISTINCT word (not
  *    per occurrence), then one shuffle join on the word key attaches
  *    counts to occurrences. The fold itself is a chain of literal
  *    `replace` builtins — whole-stage codegen, no UDF, no lambda.
  */
object Bpe {

  /** lowercase word tokens that BPE merges operate over; anything
    * matching [[PunctRe]] stays a single token (the usual
    * pre-tokenization split, cf. [[TextOps.TokenRegex]]). The
    * whitespace exclusion is the EXPLICIT class, never `\s` — Java's
    * `\s` includes U+000B where RE2's (the oracle engine's) does not,
    * so a bare `\s` would tokenize a vertical tab differently per
    * engine (identical semantics to `\s` under Java, so this is a
    * pinning, not a behavior change). */
  val WordRe = "[a-z0-9_]+"
  val PunctRe = "[^a-z0-9_ \\t\\n\\x0B\\f\\r]"

  /** a word as its initial wrapped symbol sequence: every character a
    * symbol — `"abc"` → `" a  b  c "` */
  def initEnc(w: Column): Column =
    concat(lit(" "), rtrim(regexp_replace(w, "(.)", "$1  ")), lit(" "))

  /** the literal (search, replacement) pair that merges (a, b) in the
    * wrapped form — shared with the oracle SQL generator */
  def mergePattern(a: String, b: String): (String, String) =
    (s" $a  $b ", s" $a$b ")

  /** apply a merges table in rank order — a codegen'd chain of
    * literal replaces */
  def applyMerges(enc: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(enc) { case (acc, (a, b)) =>
      val (pat, rep) = mergePattern(a, b)
      replace(acc, lit(pat), lit(rep))
    }

  /** symbols in a wrapped sequence = BPE tokens of the word */
  def symbolCount(enc: Column): Column = size(split(trim(enc), "  "))

  /** Train `nMerges` merges on the corpus: each round merges the
    * most frequent adjacent symbol pair (occurrence-weighted over all
    * word occurrences; ties by binary string order of (a, b)).
    * Returns the ranked merges — a control-plane table to persist
    * alongside the corpus. Stops early when no pair remains.
    *
    * CONTROL-PLANE FAST PATH (`localMaxVocab`, the clustersCounted
    * discipline): training state is the DISTINCT-word frame, which
    * Zipf keeps vocabulary-sized at any corpus scale — when it fits
    * the driver, each distributed round is one Spark job of pure
    * scheduler latency around kilobytes of work. The base pin's
    * materialization is FUSED with a bounded `limit(n+1).collect()`
    * probe (zero extra jobs either way); at or under the bound the
    * merge loop runs in plain Scala over the collected (enc, f) rows
    * — exact-equivalent by construction: pair counts are order-free
    * Long sums, the argmax tie-break compares UTF-8 bytes unsigned
    * (the engines' binary string order; symbols here are ASCII but
    * the comparator doesn't rely on it), and Java's literal
    * left-to-right non-overlapping `String.replace` is the same
    * contract as Spark's `replace` builtin (spec-pinned on
    * merge-run-heavy corpora). Past the bound the warmed pin feeds
    * the unchanged distributed loop. `localMaxVocab = 0` disables
    * the probe (specs pinning the distributed path force this). */
  def train(docs: DataFrame, nMerges: Int, textCol: String = "text",
      localMaxVocab: Int = 1 << 17): Seq[(String, String)] = {
    require(nMerges >= 0, s"nMerges >= 0: $nMerges")
    val sc = docs.sparkSession.sparkContext
    val base = docs
      .select(explode(regexp_extract_all(lower(col(textCol)),
        lit(WordRe), lit(0))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
      .withColumn("enc", initEnc(col("w")))
    // one job per round: each round's state is pinned LAZILY and
    // materialized BY the pair-argmax collect (its only consumer),
    // the capArrays fusion discipline. The superseded PARENT pin is
    // released only AFTER that collect has materialized the child —
    // releasing it at child-creation time (the first cut) made every
    // round's argmax recompute through the whole unpersisted chain
    // (O(rounds²) total work; the pinNow shape never hit this because
    // its eager count materialized the child before the release).
    var (wf, pin) = Dedup.pinLazy(base)
    if (localMaxVocab > 0) {
      // the +1 distinguishes at-bound from over-bound; clamp so a
      // force-everything Int.MaxValue doesn't overflow to a negative
      // limit
      val probe = JobDesc(sc, "bpe:train:vocab")(wf
        .limit(if (localMaxVocab == Int.MaxValue) localMaxVocab
               else localMaxVocab + 1).collect())
      if (probe.length <= localMaxVocab) {
        pin.release()
        return trainLocal(
          probe.map(r => (r.getString(2), r.getLong(1))), nMerges)
      }
      // over the bound: the probe still (partially) warmed the pin;
      // fall through to the distributed loop over it
    }
    var prevPin: Option[Dedup.PinHandle] = None
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(String, String)]
    try {
      var done = false
      while (!done && merges.size < nMerges) {
        val top = JobDesc(sc, "bpe:train:round")(wf
          .select(col("f"), split(trim(col("enc")), "  ").as("s"))
          .where(size(col("s")) >= 2)
          .select(col("f"), explode(expr(
            "transform(sequence(1, size(s) - 1), " +
              "i -> struct(element_at(s, i) AS a, " +
              "element_at(s, i + 1) AS b))")).as("p"))
          .select(col("f"), col("p.a").as("a"), col("p.b").as("b"))
          .groupBy(col("a"), col("b")).agg(sum(col("f")).as("c"))
          .orderBy(col("c").desc, col("a").asc, col("b").asc)
          .limit(1).collect())
        // wf's pin is materialized now — its parent is safe to drop
        prevPin.foreach(_.release())
        prevPin = None
        if (top.isEmpty) done = true
        else {
          val (a, b) = (top(0).getString(0), top(0).getString(1))
          merges += ((a, b))
          val (pat, rep) = mergePattern(a, b)
          val (nwf, npin) = Dedup.pinLazy(
            wf.withColumn("enc", replace(col("enc"), lit(pat), lit(rep))))
          prevPin = Some(pin)
          wf = nwf; pin = npin
        }
      }
      merges.toSeq
    } finally {
      prevPin.foreach(_.release())
      pin.release()
    }
  }

  /** The [[train]] merge loop over collected (enc, f) rows — plain
    * Scala, exact-equivalent to the distributed rounds (see the
    * fast-path note on [[train]]). Iteration order of the count map
    * never matters: the argmax comparator (count desc, then a, then b
    * by unsigned UTF-8 bytes — the engines' binary string order) is
    * total. */
  /** UTF-8 unsigned byte order — the engines' binary string order
    * (Java's `String.compareTo` orders UTF-16 units and disagrees on
    * supplementary-plane text, so it is never used for parity) */
  private def byteLt(x: String, y: String): Boolean =
    java.util.Arrays.compareUnsigned(
      x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      y.getBytes(java.nio.charset.StandardCharsets.UTF_8)) < 0

  private def trainLocal(rows: Array[(String, Long)], nMerges: Int)
      : Seq[(String, String)] = {
    import scala.collection.mutable
    var encs = rows
    val merges = mutable.ArrayBuffer.empty[(String, String)]
    var done = false
    while (!done && merges.size < nMerges) {
      val counts = mutable.HashMap.empty[(String, String), Long]
      encs.foreach { case (enc, f) =>
        val s = enc.trim.split("  ")
        var i = 0
        while (i < s.length - 1) {
          val k = (s(i), s(i + 1))
          counts(k) = counts.getOrElse(k, 0L) + f
          i += 1
        }
      }
      if (counts.isEmpty) done = true
      else {
        var best: ((String, String), Long) = null
        counts.foreach { kv =>
          if (best == null) best = kv
          else {
            val c = java.lang.Long.compare(kv._2, best._2)
            if (c > 0 || (c == 0 && {
              (byteLt(kv._1._1, best._1._1)
                || (kv._1._1 == best._1._1
                  && byteLt(kv._1._2, best._1._2)))
            })) best = kv
          }
        }
        merges += best._1
        val (pat, rep) = mergePattern(best._1._1, best._1._2)
        encs = encs.map { case (enc, f) => (enc.replace(pat, rep), f) }
      }
    }
    merges.toSeq
  }

  /** Vocabulary for [[encodeIds]]: base symbols first — every distinct
    * non-whitespace code point of the lowercased corpus (the explicit
    * class `[^ \t\n\x0B\f\r]`, pinned identically in the oracle SQL —
    * Java's `\s` and RE2's disagree on U+000B), in UTF-8 byte order —
    * then each merge's output symbol in rank order (first production
    * wins when two merge paths emit the same symbol, e.g. (a,bc) and
    * (ab,c)). A token's id is its position. Deterministic end to end:
    * the char set is a distinct-collect (control-plane — distinct
    * code points are bounded by Unicode, not the corpus), the driver
    * sort compares UTF-8 bytes unsigned (the engines' binary order),
    * and merges are already ranked. Persist alongside the merges
    * table like IVF centroids. */
  def vocab(docs: DataFrame, merges: Seq[(String, String)],
      textCol: String = "text"): Seq[String] = {
    val base = docs.select(explode(regexp_extract_all(lower(col(textCol)),
        lit("[^ \\t\\n\\x0B\\f\\r]"), lit(0))).as("c"))
      .distinct().collect().map(_.getString(0))
      .sortWith(byteLt).toSeq
    val seen = scala.collection.mutable.LinkedHashSet[String](base: _*)
    merges.foreach { case (a, b) => seen += (a + b) }
    seen.toSeq
  }

  /** Per-document BPE token IDS under a trained (merges, vocab) pair —
    * the sequence face of [[tokenCounts]] and the honest input for
    * sequence-length-exact packing ([[Sampling.chunk]]/`packBudget`
    * consume real subword sequences, not whitespace proxies). Output:
    * (idCol, bpe_ids array<int>), tokens in document order — word
    * tokens expand to their subword-symbol ids, punctuation chars map
    * directly; sum(size) ≡ [[tokenCounts]]' bpe_tokens (spec-pinned).
    * Out-of-vocabulary symbols (a vocab not built on this corpus)
    * emit -1. Same self-trained-table precondition as [[tokenCounts]].
    *
    * Scale shape: ONE row-local compiled projection
    * ([[graft.functions.BpeEncodeIds]]), zero shuffle — the output is
    * already corpus × tokens sized, so re-encoding occurrences in
    * place beats a distinct-word join that would need a per-doc
    * sorted collect + flatten (two extra exchanges) to restore
    * document order. */
  def encodeIds(docs: DataFrame, merges: Seq[(String, String)],
      vocabTokens: Seq[String], idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
      graft.functions.BpeFunctions.bpeIds(col(textCol), merges,
        vocabTokens).as("bpe_ids"))

  /** Decode per-document id sequences back to token strings under a
    * trained vocab — the inverse of [[encodeIds]] and the inspection
    * face for packed sequences ([[Sampling.packSequences]] output is
    * opaque id csv without it). Whitespace is not represented in the
    * id space, so the decode reconstructs the WHITESPACE-STRIPPED
    * lowercased normal form; the pinned roundtrip identity is
    * decode(encode(text)) == array_join(regexp_extract_all(
    * lower(text), WordRe|PunctRe), "") (t_bpe_roundtrip hashes it
    * cross-engine). Out-of-range ids (OOV -1, special tokens like an
    * EOS) decode to U+FFFD — decode stays total. Output:
    * (idCol, decoded string). Row-local compiled projection
    * ([[graft.functions.BpeDecodeIds]]), zero shuffle. */
  def decodeIds(df: DataFrame, vocabTokens: Seq[String],
      idCol: String = "doc_id", idsCol: String = "bpe_ids"): DataFrame =
    df.select(col(idCol),
      graft.functions.BpeFunctions.bpeDecode(col(idsCol), vocabTokens)
        .as("decoded"))

  /** BPE token count per document under a trained merges table:
    * sum over the document's word occurrences of the word's subword
    * count, plus one per non-word (punctuation) character. The encode
    * runs once per DISTINCT word; occurrences attach through one join
    * on the word key. Output: (idCol, bpe_tokens).
    *
    * PRECONDITION: `merges` must be a SELF-TRAINED table ([[train]]'s
    * output, where every pair's symbols exist before the pair's rank).
    * The native encode applies the lowest-PRESENT-rank pair first,
    * which equals the documented rank-order replace chain only under
    * that property — a hand-supplied table where a later merge first
    * produces a symbol an earlier pair references would diverge, so
    * [[graft.functions.BpeTable]] rejects such tables at
    * construction.
    *
    * The per-word encode is the NATIVE loop
    * ([[graft.functions.BpeTokenCount]]): the [[applyMerges]] replace
    * chain is codegen-clean at the oracle's R=12 but overflows the
    * JVM's 64KB method limit at production merge counts (30k-100k),
    * and pays R full-string scans per word either way; the native
    * loop is O(merges-applied × symbols) per word with O(1) hash rank
    * lookups, independent of table size (BpeSpec pins the
    * equivalence; the replace chain stays as the oracle-SQL face). */
  def tokenCounts(docs: DataFrame, merges: Seq[(String, String)],
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val words = docs.select(col(idCol),
      explode(regexp_extract_all(lower(col(textCol)),
        lit(WordRe), lit(0))).as("w"))
    val wordTok = words.select(col("w")).distinct()
      .withColumn("_nt",
        graft.functions.BpeFunctions.bpeCount(col("w"), merges))
    val perDoc = words.join(wordTok, Seq("w"))
      .groupBy(col(idCol)).agg(sum(col("_nt")).as("_wt"))
    docs.select(col(idCol),
        size(regexp_extract_all(lower(col(textCol)), lit(PunctRe),
          lit(0))).cast("long").as("_np"))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        (coalesce(col("_wt"), lit(0L)) + col("_np")).as("bpe_tokens"))
  }
}
