package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression,
  UnaryExpression}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** A trained BPE merges table in the form the encode loop consumes:
  * pair → rank, plus the merged symbol per rank. Broadcast to
  * executors as an expression reference object — at production vocab
  * sizes (30k-100k merges) this is a few MB of strings, control-plane
  * scale.
  *
  * Keys use a '\u0000' separator: merge symbols come from
  * [[graft.pipeline.Bpe.WordRe]] words (no NUL can appear in a
  * symbol), so the key is injective. */
final class BpeTable(merges: Seq[(String, String)]) extends Serializable {
  // Validate the SELF-TRAINED-TABLE precondition at construction: the
  // lowest-present-rank encode loop equals rank-order replace
  // application only when no pair references a multi-character symbol
  // that is first produced by a LATER (or equal-rank) merge — e.g.
  // [(ab,c), (a,b)] on "abc": the loop merges (a,b) then takes the
  // now-present rank-0 pair (ab,c), while the rank-order chain's
  // rank-0 replace had already run and found nothing. Tables trained
  // by [[graft.pipeline.Bpe.train]] satisfy this by construction (a
  // merge's output exists only after its rank); a hand-supplied table
  // violating it would SILENTLY count differently than the documented
  // replace-chain semantics, so fail loudly here instead. A
  // multi-character element no merge ever produces is a harmless
  // no-op pair (it can never be present) and stays allowed.
  locally {
    val firstProd = new java.util.HashMap[String, Integer]()
    merges.zipWithIndex.foreach { case ((a, b), r) =>
      firstProd.putIfAbsent(a + b, Integer.valueOf(r))
    }
    merges.zipWithIndex.foreach { case ((a, b), r) =>
      Seq(a, b).foreach { s =>
        if (s.codePointCount(0, s.length) > 1) {
          val p = firstProd.get(s)
          require(p == null || p.intValue() < r,
            s"BpeTable: the pair at rank $r references symbol '$s' " +
              s"first produced at rank $p — lowest-rank-first " +
              "encoding would diverge from rank-order replace " +
              "application; BPE merge tables must be self-trained " +
              "(every pair's symbols exist before the pair's rank)")
        }
      }
    }
  }

  @transient private lazy val ranks: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](merges.size * 2)
    var r = 0
    merges.foreach { case (a, b) =>
      // first (lowest) rank wins if a pair is listed twice — a
      // self-trained table never repeats a pair
      m.putIfAbsent(a + "\u0000" + b, Integer.valueOf(r))
      r += 1
    }
    m
  }
  def rankOf(a: String, b: String): Int = {
    val got = ranks.get(a + "\u0000" + b)
    if (got == null) Int.MaxValue else got.intValue()
  }
  def size: Int = merges.size

  /** content fingerprint — identifies this table in the session
    * function registry ([[BpeFunctions.countNameFor]]) */
  lazy val fingerprint: String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    merges.foreach { case (a, b) =>
      md.update(a.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.update(0.toByte)
      md.update(b.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.update(1.toByte)
    }
    md.digest().take(6).map(x => f"${x & 0xff}%02x").mkString
  }
}

/** Native BPE subword count — the encode that survives production
  * merge counts. [[graft.pipeline.Bpe.applyMerges]] folds R literal
  * `replace`s into ONE expression tree: codegen-clean at the oracle's
  * R=12, but a real tokenizer carries 30k-100k merges — a chain that
  * deep overflows the JVM's 64KB method limit into interpreted
  * fallback (or fails to compile at all), and every word pays R
  * full-string scans whether or not a pattern occurs. This expression
  * runs the reference encode loop instead: split the word into
  * symbols, repeatedly merge the LOWEST-RANK adjacent pair present
  * (all occurrences, left-to-right — exactly one `replace` step),
  * until no pair has a rank. Per word that is
  * O(merges-applied × symbols) with O(1) hash rank lookups —
  * independent of table size.
  *
  * Equivalence to the rank-order replace chain (BpeSpec pins it on
  * random words at several R, including past the codegen-chain
  * scale): merging pair p never creates an adjacency of any
  * lower-rank pair — p's output symbol exists only after p's rank,
  * and every pair involving it carries a higher rank in a
  * self-trained table — so applying the lowest present rank first
  * takes exactly the replaces the rank-order chain takes, skipping
  * only no-op scans. Left-to-right non-overlapping merge-all within
  * a step is the `replace` builtin's contract ("a a a" → "aa a").
  */
case class BpeTokenCount(child: Expression, table: BpeTable)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure(
        s"${BpeFunctions.countName} expects string, got ${child.dataType}")

  override def nullSafeEval(s: Any): Any =
    BpeTokenCount.count(s.asInstanceOf[UTF8String], table)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val tableRef = ctx.addReferenceObj("bpeTable", table,
      classOf[BpeTable].getName)
    defineCodeGen(ctx, ev,
      c => s"graft.functions.BpeTokenCount.count($c, $tableRef)")
  }

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

object BpeTokenCount {

  /** The reference encode loop over a symbol array. Exposed for spec
    * use ([[count]] is its length): symbols after all applicable
    * merges, starting from per-code-point symbols (the
    * [[graft.pipeline.Bpe.initEnc]] split — `regexp_replace(w,
    * "(.)", ...)` matches code points). */
  def encode(word: String, table: BpeTable): Array[String] = {
    // initial symbols: one per code point
    val n0 = word.codePointCount(0, word.length)
    var syms = new Array[String](n0)
    var i = 0
    var k = 0
    while (i < word.length) {
      val cp = word.codePointAt(i)
      val len = Character.charCount(cp)
      syms(k) = word.substring(i, i + len)
      i += len
      k += 1
    }
    var nSyms = n0
    var done = nSyms < 2
    while (!done) {
      // lowest-rank adjacent pair present
      var best = Int.MaxValue
      i = 0
      while (i < nSyms - 1) {
        val r = table.rankOf(syms(i), syms(i + 1))
        if (r < best) best = r
        i += 1
      }
      if (best == Int.MaxValue) done = true
      else {
        // merge ALL occurrences left-to-right, non-overlapping (the
        // `replace` builtin's contract)
        val out = new Array[String](nSyms)
        var w = 0
        i = 0
        while (i < nSyms) {
          if (i < nSyms - 1 &&
              table.rankOf(syms(i), syms(i + 1)) == best) {
            out(w) = syms(i) + syms(i + 1)
            i += 2
          } else {
            out(w) = syms(i)
            i += 1
          }
          w += 1
        }
        syms = out
        nSyms = w
        done = nSyms < 2
      }
    }
    java.util.Arrays.copyOf(syms, nSyms)
  }

  /** Called from generated code. */
  def count(word: UTF8String, table: BpeTable): Long =
    encode(word.toString, table).length.toLong
}

/** A BPE vocabulary in the form the id-encode consumes: token string →
  * dense id by position in `tokens` (first occurrence wins — a
  * well-formed vocab never repeats). Built by
  * [[graft.pipeline.Bpe.vocab]] (base symbols in UTF-8 byte order,
  * then merge outputs in rank order); a few MB of strings at
  * production vocab sizes, control-plane scale like [[BpeTable]]. */
final class BpeVocab(val tokens: Seq[String]) extends Serializable {
  @transient private lazy val ids: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](tokens.size * 2)
    var i = 0
    tokens.foreach { t =>
      m.putIfAbsent(t, Integer.valueOf(i))
      i += 1
    }
    m
  }

  /** dense id, or -1 for an out-of-vocabulary token (a vocab built on
    * the encoded corpus never misses — see Bpe.vocab) */
  def idOf(tok: String): Int = {
    val got = ids.get(tok)
    if (got == null) -1 else got.intValue()
  }

  @transient private lazy val arr: Array[String] = tokens.toArray
  /** vocab size off the materialized array — `tokens` may be
    * List-backed, where per-call `.size` is an O(vocab) traversal
    * (a per-id bounds check in the decode loop would go quadratic) */
  def size: Int = arr.length
  /** token string for a dense id — the decode direction */
  def tokenAt(id: Int): String = arr(id)

  /** content fingerprint — identifies this vocab in the session
    * function registry ([[BpeFunctions.idsNameFor]]) */
  lazy val fingerprint: String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    tokens.foreach { t =>
      md.update(t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.update(0.toByte)
    }
    md.digest().take(6).map(x => f"${x & 0xff}%02x").mkString
  }
}

/** Native per-document BPE token IDS — the sequence face of
  * [[BpeTokenCount]] (whose count equals this array's length, summed
  * over the document — spec-pinned). One compiled pass per document:
  * pre-tokenize the lowercased text with the
  * [[graft.pipeline.Bpe.WordRe]]|[[graft.pipeline.Bpe.PunctRe]]
  * alternation (document order preserved — Java regex alternation is
  * leftmost-first, the same contract as Spark's `regexp_extract_all`
  * the word/punct counting faces use), run the reference encode loop
  * per word token, and map every symbol (and every punctuation
  * one-char token) through the broadcast vocab. Out-of-vocabulary
  * symbols emit -1 rather than failing: the id face must stay total
  * for vocab/corpus mismatches a curation pipeline can produce.
  *
  * Scale shape: row-local and shuffle-free — the id sequence is the
  * OUTPUT (corpus × tokens sized), so re-encoding each word
  * occurrence in place beats the distinct-word-join alternative,
  * which would pay a join plus a per-doc sorted collect + flatten
  * (two extra exchanges) only to avoid the cheap native re-encode.
  * Mirrors Spark's engine semantics, not Java's:
  * `UTF8String.toLowerCase` for lower(), code-point tokens. */
case class BpeEncodeIds(child: Expression, table: BpeTable,
    vocab: BpeVocab) extends UnaryExpression {

  override def dataType: DataType =
    ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure(
        s"${BpeFunctions.idsName} expects string, got ${child.dataType}")

  override def nullSafeEval(s: Any): Any =
    BpeEncodeIds.ids(s.asInstanceOf[UTF8String], table, vocab)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val tableRef = ctx.addReferenceObj("bpeTable", table,
      classOf[BpeTable].getName)
    val vocabRef = ctx.addReferenceObj("bpeVocab", vocab,
      classOf[BpeVocab].getName)
    defineCodeGen(ctx, ev,
      c => s"graft.functions.BpeEncodeIds.ids($c, $tableRef, $vocabRef)")
  }

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

object BpeEncodeIds {

  /** word-or-punct pre-tokenizer — the same alternation the counting
    * faces feed `regexp_extract_all` (leftmost-alternative-first on
    * both paths; a word token always starts with a word char) */
  private val TokenRe = java.util.regex.Pattern.compile(
    graft.pipeline.Bpe.WordRe + "|" + graft.pipeline.Bpe.PunctRe)

  private def isWordStart(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == '_'

  /** Called from generated code. */
  def ids(text: UTF8String, table: BpeTable, vocab: BpeVocab)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val lower = text.toLowerCase.toString // Spark lower(), not Java's
    val m = TokenRe.matcher(lower)
    val buf = new scala.collection.mutable.ArrayBuilder.ofInt
    while (m.find()) {
      val tok = m.group()
      if (isWordStart(tok.charAt(0))) {
        val syms = BpeTokenCount.encode(tok, table)
        var i = 0
        while (i < syms.length) {
          buf += vocab.idOf(syms(i))
          i += 1
        }
      } else buf += vocab.idOf(tok)
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
      buf.result())
  }
}

/** Native BPE id-sequence DECODE — the inverse of [[BpeEncodeIds]]:
  * map every id through the broadcast vocab and concatenate the token
  * strings. Whitespace is not represented in the id space (the
  * pre-tokenizer extracts word/punct tokens), so the decode
  * reconstructs the WHITESPACE-STRIPPED lowercased normal form —
  * exactly `array_join(regexp_extract_all(lower(text), WordRe "|"
  * PunctRe), "")`, the pinned roundtrip identity (t_bpe_roundtrip; an
  * inspection/debugging face for packed sequences, not a text
  * restorer). Total function: out-of-range ids (OOV's -1, a foreign
  * vocab, a special token like packSequences' EOS) decode to U+FFFD
  * REPLACEMENT CHARACTER rather than failing — decode must stay total
  * on streams a curation pipeline can produce. Row-local, zero
  * shuffle, same reference-object state discipline as the encode
  * (a vocab-sized lookup table never belongs in the expression tree —
  * the depth rule). */
case class BpeDecodeIds(child: Expression, vocab: BpeVocab)
    extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(IntegerType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult
          .TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult
          .TypeCheckFailure(
            s"${BpeFunctions.decodeName} expects array<int>, got $other")
    }

  override def nullSafeEval(ids: Any): Any =
    BpeDecodeIds.decode(
      ids.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      vocab)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val vocabRef = ctx.addReferenceObj("bpeVocab", vocab,
      classOf[BpeVocab].getName)
    defineCodeGen(ctx, ev,
      c => s"graft.functions.BpeDecodeIds.decode($c, $vocabRef)")
  }

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

object BpeDecodeIds {

  /** Called from generated code. */
  def decode(ids: org.apache.spark.sql.catalyst.util.ArrayData,
      vocab: BpeVocab): UTF8String = {
    val n = ids.numElements()
    val sz = vocab.size // hoisted: never a per-id accessor call
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < n) {
      if (ids.isNullAt(i)) sb.append('\uFFFD')
      else {
        val id = ids.getInt(i)
        if (id >= 0 && id < sz) sb.append(vocab.tokenAt(id))
        else sb.append('\uFFFD')
      }
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }
}

/** Registration + Column-level API. The merges table travels in the
  * BUILDER closure, so the registered name must IDENTIFY the table:
  * a fixed name would make the last registration win for any later
  * SQL-text or re-analysis resolution — counts from the wrong
  * tokenizer with no error. The name therefore carries a content
  * fingerprint of the merges (md5 of the joined pairs): registration
  * is idempotent per table, distinct tables coexist in the session
  * registry, and a SQL-text user addresses a specific tokenizer by
  * its fingerprinted name. */
object BpeFunctions {

  val countName = "graft_bpe_count"

  /** the session-registry name for this exact merges table */
  def countNameFor(table: BpeTable): String =
    countName + "_" + table.fingerprint

  def register(spark: SparkSession, table: BpeTable): String = {
    val name = countNameFor(table)
    SessionFunctions.ensure(spark, name) { exprs =>
      // validate arity with a real message (the GopherFunctions.build
      // discipline): a SQL-text caller with the wrong argument count
      // must get an analysis-time complaint, never an internal
      // NoSuchElementException from a bare exprs.head (the child's
      // string type is checked by checkInputDataTypes)
      if (exprs.length != 1)
        throw new IllegalArgumentException(
          s"$name expects exactly one argument (word), " +
            s"got ${exprs.length}")
      BpeTokenCount(exprs.head, table)
    }
  }

  /** BPE subword count of one word under `merges`, codegen'd; rank
    * lookups are O(1) regardless of table size. */
  def bpeCount(word: Column, merges: Seq[(String, String)]): Column = {
    val name = register(SparkSession.active, new BpeTable(merges))
    call_function(name, word)
  }

  val idsName = "graft_bpe_ids"

  /** the session-registry name for this exact (merges, vocab) pair */
  def idsNameFor(table: BpeTable, vocab: BpeVocab): String =
    idsName + "_" + table.fingerprint + "_" + vocab.fingerprint

  def registerIds(spark: SparkSession, table: BpeTable,
      vocab: BpeVocab): String = {
    val name = idsNameFor(table, vocab)
    SessionFunctions.ensure(spark, name) { exprs =>
      if (exprs.length != 1)
        throw new IllegalArgumentException(
          s"$name expects exactly one argument (text), " +
            s"got ${exprs.length}")
      BpeEncodeIds(exprs.head, table, vocab)
    }
  }

  /** BPE token-id sequence of one document under (merges, vocab),
    * codegen'd — see [[BpeEncodeIds]]. */
  def bpeIds(text: Column, merges: Seq[(String, String)],
      vocabTokens: Seq[String]): Column = {
    val name = registerIds(SparkSession.active, new BpeTable(merges),
      new BpeVocab(vocabTokens))
    call_function(name, text)
  }

  val decodeName = "graft_bpe_decode"

  /** the session-registry name for this exact vocab */
  def decodeNameFor(vocab: BpeVocab): String =
    decodeName + "_" + vocab.fingerprint

  def registerDecode(spark: SparkSession, vocab: BpeVocab): String = {
    val name = decodeNameFor(vocab)
    SessionFunctions.ensure(spark, name) { exprs =>
      if (exprs.length != 1)
        throw new IllegalArgumentException(
          s"$name expects exactly one argument (ids array), " +
            s"got ${exprs.length}")
      BpeDecodeIds(exprs.head, vocab)
    }
  }

  /** Decoded token string of one id sequence under `vocabTokens`,
    * codegen'd — see [[BpeDecodeIds]]. */
  def bpeDecode(ids: Column, vocabTokens: Seq[String]): Column = {
    val name = registerDecode(SparkSession.active,
      new BpeVocab(vocabTokens))
    call_function(name, ids)
  }
}
