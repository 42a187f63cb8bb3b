package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass per-document text statistics.
  *
  * The composed-builtin formulations of the corpus text-quality queries
  * (reference: quality filtering over document streams, cf.
  * `/root/reference/examples/common.py` document shapes) all pay the same
  * two taxes at scale:
  *
  *   1. `transform` / `filter` / `aggregate` higher-order functions are
  *      `CodegenFallback` in Spark — ONE of them in a projection drops the
  *      whole stage out of whole-stage codegen into interpreted rows, and
  *      each lambda pass re-materializes an intermediate array per row;
  *   2. `explode` + `groupBy(doc_id)` + `count(DISTINCT tok)` turns a
  *      purely doc-local computation into a full shuffle of every token in
  *      the corpus (at 100 TB: shuffling ~100 TB of tokens to compute
  *      per-doc counters that never needed to leave their row).
  *
  * These expressions compute the same statistics in one tight JIT'd scan
  * over the document's UTF-8 bytes — no regex, no intermediate arrays, no
  * shuffle; doc-local state is two small open-addressing tables over byte
  * slices (exact string compares on hash collision, so counts are exact,
  * not sketchy). Work and memory are O(doc bytes) per row,
  * embarrassingly parallel — the correct 100 TB posture for per-document
  * quality scoring.
  */
object TextStatsUtil {

  /** Open-addressing slice set/map over a document's byte array: slots
    * hold packed (start << 32 | len), a parallel hash array enables cheap
    * probing, an optional counts array turns the set into a multiset.
    * Exact: collisions resolve by comparing the actual bytes. */
  private final class SliceTable(initialCap: Int, counted: Boolean) {
    private var cap = Integer.highestOneBit(math.max(initialCap, 16)) * 2
    private var slots = new Array[Long](cap) // packed; 0 means empty...
    private var used = new Array[Boolean](cap) // ...so track occupancy apart
    private var hashes = new Array[Int](cap)
    private var counts: Array[Long] = if (counted) new Array[Long](cap) else null
    var size = 0
    var maxCount = 0L

    private def hashBytes(b: Array[Byte], start: Int, len: Int): Int = {
      var h = 0x811c9dc5
      var i = start
      val end = start + len
      while (i < end) { h = (h ^ b(i)) * 0x01000193; i += 1 }
      h
    }

    private def same(b: Array[Byte], s1: Int, l1: Int, packed: Long): Boolean = {
      val s2 = (packed >>> 32).toInt
      val l2 = (packed & 0xffffffffL).toInt
      if (l1 != l2) return false
      var i = 0
      while (i < l1) { if (b(s1 + i) != b(s2 + i)) return false; i += 1 }
      true
    }

    private def grow(): Unit = {
      val oldSlots = slots; val oldUsed = used; val oldHashes = hashes
      val oldCounts = counts
      cap *= 2
      slots = new Array[Long](cap); used = new Array[Boolean](cap)
      hashes = new Array[Int](cap)
      if (counted) counts = new Array[Long](cap)
      var i = 0
      while (i < oldSlots.length) {
        if (oldUsed(i)) {
          var idx = oldHashes(i) & (cap - 1)
          while (used(idx)) idx = (idx + 1) & (cap - 1)
          slots(idx) = oldSlots(i); used(idx) = true; hashes(idx) = oldHashes(i)
          if (counted) counts(idx) = oldCounts(i)
        }
        i += 1
      }
    }

    /** Visit every distinct entry as (start, len, count); slot order —
      * deterministic for identical input bytes (FNV-driven), arbitrary
      * otherwise. Uncounted tables report count = 1. */
    def foreachEntry(f: (Int, Int, Long) => Unit): Unit = {
      var i = 0
      while (i < cap) {
        if (used(i)) f((slots(i) >>> 32).toInt, (slots(i) & 0xffffffffL).toInt,
          if (counted) counts(i) else 1L)
        i += 1
      }
    }

    /** Insert-or-bump; updates `size` on first sight and `maxCount`. */
    def add(b: Array[Byte], start: Int, len: Int): Unit = {
      if ((size + 1) * 2 > cap) grow()
      val h = hashBytes(b, start, len)
      var idx = h & (cap - 1)
      while (used(idx)) {
        if (hashes(idx) == h && same(b, start, len, slots(idx))) {
          if (counted) {
            counts(idx) += 1
            if (counts(idx) > maxCount) maxCount = counts(idx)
          }
          return
        }
        idx = (idx + 1) & (cap - 1)
      }
      slots(idx) = (start.toLong << 32) | (len.toLong & 0xffffffffL)
      used(idx) = true; hashes(idx) = h; size += 1
      if (counted) { counts(idx) = 1L; if (maxCount == 0L) maxCount = 1L }
    }
  }

  private def utf8Len(lead: Byte): Int =
    if ((lead & 0x80) == 0) 1
    else if ((lead & 0xe0) == 0xc0) 2
    else if ((lead & 0xf0) == 0xe0) 3
    else if ((lead & 0xf8) == 0xf0) 4
    else 1 // malformed continuation byte: consume singly, as one "char"

  /** `subword_stats(text)`: statistics of the BPE-ish pre-tokenization
    * `regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')` —
    * letter runs, digit runs, single non-alnum-non-space codepoints —
    * without running the regex or materializing the token array.
    * Returns (n_subtokens, n_distinct, max_token_len | null, n_numeric);
    * `max_token_len` is NULL when the document has no tokens (matching
    * `list_max([])`). Lowercasing delegates to [[UTF8String.toLowerCase]]
    * — the exact `lower()` the composed form applied. */
  def subword_stats(s: UTF8String): InternalRow = {
    val b = s.toLowerCase.getBytes
    val n = b.length
    val distinct = new SliceTable(64, counted = false)
    var nTok = 0L; var maxLen = 0L; var nNum = 0L
    var i = 0
    while (i < n) {
      val c = b(i)
      if (c == ' ') i += 1
      else {
        val start = i
        var chars = 0
        if (c >= 'a' && c <= 'z') {
          while (i < n && b(i) >= 'a' && b(i) <= 'z') i += 1
          chars = i - start
        } else if (c >= '0' && c <= '9') {
          while (i < n && b(i) >= '0' && b(i) <= '9') i += 1
          chars = i - start
          nNum += 1
        } else {
          i += math.min(utf8Len(c), n - i)
          chars = 1
        }
        nTok += 1
        if (chars > maxLen) maxLen = chars
        distinct.add(b, start, i - start)
      }
    }
    val row = new GenericInternalRow(4)
    row.update(0, nTok)
    row.update(1, distinct.size.toLong)
    if (nTok == 0L) row.setNullAt(2) else row.update(2, maxLen)
    row.update(3, nNum)
    row
  }

  /** `space_token_stats(text, stopwords)`: statistics of the
    * single-space split `string_split(text, ' ')` — EMPTY tokens kept
    * (consecutive / leading / trailing spaces), exactly like Spark's
    * `split(text, " ")` and DuckDB's `string_split`. Returns
    * (n_tok, n_distinct, stop_hits, top_bg | null): token count, distinct
    * token count, tokens in the stopword set, and the count of the most
    * frequent adjacent bigram (NULL when n_tok < 2 — no bigrams).
    * A bigram's string form `tok_i + ' ' + tok_{i+1}` is exactly the
    * original byte slice from tok_i's start to tok_{i+1}'s end (tokens
    * cannot contain the separator), so bigram counting never
    * concatenates — it keys the slice. */
  def space_token_stats(s: UTF8String, stops: Array[Array[Byte]]): InternalRow = {
    val b = s.getBytes
    val n = b.length
    val distinct = new SliceTable(64, counted = false)
    val bigrams = new SliceTable(64, counted = true)
    var nTok = 0L; var stopHits = 0L
    var tokStart = 0
    var prevStart = -1 // start of the previous token, -1 before the first
    var i = 0
    while (i <= n) {
      if (i == n || b(i) == ' ') { // token = [tokStart, i)
        nTok += 1
        distinct.add(b, tokStart, i - tokStart)
        if (isStop(b, tokStart, i - tokStart, stops)) stopHits += 1
        if (prevStart >= 0) bigrams.add(b, prevStart, i - prevStart)
        prevStart = tokStart
        tokStart = i + 1
      }
      i += 1
    }
    val row = new GenericInternalRow(4)
    row.update(0, nTok)
    row.update(1, distinct.size.toLong)
    row.update(2, stopHits)
    if (nTok < 2L) row.setNullAt(3) else row.update(3, bigrams.maxCount)
    row
  }

  /** `quality_char_stats(text)`: the three counts the q42 quality
    * heuristic consumes — (n_tok, n_chars, n_digits) — in ONE
    * allocation-free byte scan. Replaces the composed form's THREE
    * passes with copies: `size(split(text, ' '))` (materializes the
    * full token array to count it), `length(regexp_replace(text,
    * '[^0-9]', ''))` (regex machinery + a digits-only copy), and
    * `length(text)` (a codepoint-count scan).
    *
    * Pass-equivalence: `split(text, ' ')` with Spark's -1 limit keeps
    * empty tokens, so its size is exactly (number of 0x20 bytes) + 1 —
    * and in valid UTF-8 the byte 0x20 only ever encodes the space
    * codepoint. `length(text)` counts codepoints == non-continuation
    * bytes ((b & 0xC0) != 0x80). The regex `[^0-9]` strips everything
    * but ASCII digits, so the stripped length == count of bytes in
    * [0x30, 0x39] — which, again, only encode digit codepoints. */
  def quality_char_stats(s: UTF8String): InternalRow = {
    val b = s.getBytes
    val n = b.length
    var nTok = 1L; var nChars = 0L; var nDigits = 0L
    var i = 0
    while (i < n) {
      val c = b(i)
      if (c == ' ') nTok += 1
      if ((c & 0xc0) != 0x80) nChars += 1
      if (c >= '0' && c <= '9') nDigits += 1
      i += 1
    }
    val row = new GenericInternalRow(3)
    row.update(0, nTok)
    row.update(1, nChars)
    row.update(2, nDigits)
    row
  }

  /** `space_token_counts(text)`: the document's DISTINCT single-space
    * tokens with their occurrence counts, as `array<struct<term, tf>>` —
    * the per-document term-frequency table computed where the document
    * lives. Token semantics match `string_split(text, ' ')` (empty
    * tokens from consecutive / leading / trailing separators kept), so
    * `explode(space_token_counts(text))` ≡ the exploded split grouped by
    * (doc, term) — WITHOUT the corpus-sized exchange: TF is doc-local
    * arithmetic, and only the distinct (doc, term) pairs ever reach a
    * downstream shuffle (df aggregation, posting-list build). Element
    * order is hash-slot order — deterministic per document, meaningless,
    * and irrelevant to every consumer (explode feeds joins/aggregates). */
  def space_token_counts(s: UTF8String): ArrayData = {
    val b = s.getBytes
    val n = b.length
    val tokens = new SliceTable(64, counted = true)
    var tokStart = 0
    var i = 0
    while (i <= n) {
      if (i == n || b(i) == ' ') { // token = [tokStart, i)
        tokens.add(b, tokStart, i - tokStart)
        tokStart = i + 1
      }
      i += 1
    }
    val out = new Array[Any](tokens.size)
    var k = 0
    tokens.foreachEntry { (start, len, cnt) =>
      val row = new GenericInternalRow(2)
      row.update(0, UTF8String.fromBytes(b, start, len))
      row.update(1, cnt)
      out(k) = row
      k += 1
    }
    new GenericArrayData(out)
  }

  /** `space_bigram_counts(text)`: the document's DISTINCT adjacent token
    * bigrams of the single-space split with their occurrence counts, as
    * `array<struct<bg, tf>>` — the per-document bigram-frequency table
    * computed where the document lives (the corpus language-model build's
    * map side). A bigram's string form `tok_i || ' ' || tok_{i+1}` is
    * exactly the original byte slice from tok_i's start to tok_{i+1}'s
    * end (tokens cannot contain the separator), so counting never
    * concatenates — it keys the slice. Token semantics match
    * `string_split(text, ' ')` (empty tokens kept); a document with
    * fewer than two tokens yields an empty array. Element order is
    * hash-slot order — deterministic per document, meaningless, and
    * irrelevant to every consumer (explode feeds joins/aggregates). */
  def space_bigram_counts(s: UTF8String): ArrayData = {
    val b = s.getBytes
    val n = b.length
    val bigrams = new SliceTable(64, counted = true)
    var tokStart = 0
    var prevStart = -1 // start of the previous token, -1 before the first
    var i = 0
    while (i <= n) {
      if (i == n || b(i) == ' ') { // token = [tokStart, i)
        if (prevStart >= 0) bigrams.add(b, prevStart, i - prevStart)
        prevStart = tokStart
        tokStart = i + 1
      }
      i += 1
    }
    val out = new Array[Any](bigrams.size)
    var k = 0
    bigrams.foreachEntry { (start, len, cnt) =>
      val row = new GenericInternalRow(2)
      row.update(0, UTF8String.fromBytes(b, start, len))
      row.update(1, cnt)
      out(k) = row
      k += 1
    }
    new GenericArrayData(out)
  }

  /** `remove_token_spans(text, spans)`: splice token ranges out of a
    * document in ONE byte scan — the "apply the cut list" half of
    * substring dedup ([[graft.llm.SubstringDedup.applyCuts]]).
    *
    * `spans` is `array<struct<span_start, span_end>>`: token indices of
    * the single-space split, end exclusive, sorted by start and disjoint
    * (the `mergeSpans` output contract; `sort_array` over the collected
    * struct list gives exactly that order, struct ordering being
    * leading-field-first). Kept tokens are copied straight from the
    * original bytes and rejoined with single spaces, so a document with
    * no cuts round-trips byte-identically — including empty tokens from
    * consecutive separators — and a fully-cut document yields the empty
    * string. Work is O(doc bytes + spans); no token array, no per-token
    * rows, no higher-order lambdas (a `filter` + `array_join`
    * formulation is `CodegenFallback` and drops the whole stage to
    * interpreted rows). */
  def remove_token_spans(s: UTF8String, spans: ArrayData): UTF8String = {
    val b = s.getBytes
    val starts = ShingleHashes.tokenStarts(b)
    val nTok = starts.length - 1
    val k = spans.numElements()
    if (k == 0) return s
    val out = new Array[Byte](b.length)
    var o = 0
    var si = 0
    // UPFRONT O(k) validation of the whole span list: the forward-only
    // cursor below silently skips any span it never reaches (e.g. an
    // out-of-order span behind an already-passed position), so a lazy
    // per-load check could not actually enforce the sorted/disjoint
    // contract on this user-facing SQL function — spans past the last
    // covered token would go unchecked entirely.
    locally {
      var prevEnd = 0L
      var v = 0
      while (v < k) {
        if (spans.isNullAt(v))
          throw new IllegalArgumentException(
            s"remove_token_spans: spans must not contain null (element $v)")
        val sp = spans.getStruct(v, 2)
        val vs = sp.getLong(0)
        val ve = sp.getLong(1)
        if (vs < 0 || ve <= vs || vs < prevEnd)
          throw new IllegalArgumentException(
            "remove_token_spans: spans must be non-negative, non-empty, " +
              s"sorted by start, and disjoint; element $v is [$vs, $ve) " +
              s"after a span ending at $prevEnd")
        prevEnd = ve
        v += 1
      }
    }
    // current span decoded to two locals, refreshed only when si
    // advances — the per-token loop stays allocation-free (getStruct
    // wraps a fresh row per call)
    var spStart = -1L
    var spEnd = -1L
    def load(i: Int): Unit = {
      val sp = spans.getStruct(i, 2)
      spStart = sp.getLong(0)
      spEnd = sp.getLong(1)
    }
    load(0)
    var first = true
    var t = 0
    while (t < nTok) {
      while (si < k && spEnd <= t) {
        si += 1
        if (si < k) load(si)
      }
      val covered = si < k && spStart <= t && t < spEnd
      if (!covered) {
        if (!first) { out(o) = ' '; o += 1 }
        val from = starts(t)
        val until = starts(t + 1) - 1 // end of token t (strip sep/sentinel)
        System.arraycopy(b, from, out, o, until - from)
        o += until - from
        first = false
      }
      t += 1
    }
    UTF8String.fromBytes(out, 0, o)
  }

  private def isStop(b: Array[Byte], start: Int, len: Int,
      stops: Array[Array[Byte]]): Boolean = {
    var j = 0
    while (j < stops.length) {
      val w = stops(j)
      if (w.length == len) {
        var i = 0
        var ok = true
        while (ok && i < len) { ok = b(start + i) == w(i); i += 1 }
        if (ok) return true
      }
      j += 1
    }
    false
  }
}

/** See [[TextStatsUtil.space_token_stats]]. Registered as
  * `space_token_stats(text, stopwords)`; `stopwords` must be a foldable
  * `array<string>` literal (it is baked into the generated code once, not
  * re-evaluated per row). */
case class SpaceTokenStats(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = SpaceTokenStats.schema
  override def nullable: Boolean = left.nullable
  override def prettyName: String = "space_token_stats"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, ArrayType(StringType, _)) =>
        if (!right.foldable)
          TypeCheckResult.TypeCheckFailure(
            "space_token_stats stopwords must be foldable (a literal)")
        else {
          val evaled = right.eval()
          if (evaled == null)
            TypeCheckResult.TypeCheckFailure(
              "space_token_stats stopwords must be a non-null literal")
          else {
            val arr = evaled.asInstanceOf[ArrayData]
            if ((0 until arr.numElements()).exists(arr.isNullAt))
              TypeCheckResult.TypeCheckFailure(
                "space_token_stats stopwords must be non-null strings")
            else TypeCheckResult.TypeCheckSuccess
          }
        }
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"space_token_stats requires (string, array<string>), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }

  @transient private lazy val stops: Array[Array[Byte]] = {
    val arr = right.eval().asInstanceOf[ArrayData]
    (0 until arr.numElements())
      .map(i => arr.getUTF8String(i).getBytes.clone()).toArray
  }

  override protected def nullSafeEval(input: Any, ignored: Any): Any =
    TextStatsUtil.space_token_stats(input.asInstanceOf[UTF8String], stops)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val stopsRef = ctx.addReferenceObj("stops", stops, "byte[][]")
    nullSafeCodeGen(ctx, ev, (c, _) =>
      s"${ev.value} = graft.functions.TextStatsUtil.space_token_stats($c, $stopsRef);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SpaceTokenStats =
    copy(left = newLeft, right = newRight)
}

object SpaceTokenStats {
  val schema: StructType = StructType(Seq(
    StructField("n_tok", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false),
    StructField("stop_hits", LongType, nullable = false),
    StructField("top_bg", LongType, nullable = true)))
}
