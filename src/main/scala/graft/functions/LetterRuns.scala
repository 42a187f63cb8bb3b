package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** `letter_runs(text)` — the BPE pre-tokenizer's corpus-pass kernel
  * ([[graft.llm.BpeTrainer]]): the last `regexp_extract_all` in the
  * trainer's per-row path, replaced by one JIT'd byte scan (the
  * [[TextStatsUtil]] discipline — at 100 TB the corpus pass is pure
  * per-byte CPU, and regex per distinct token is the per-task work
  * §1.2-step-2 says to remove once the plan shape is right). */
object LetterRunsUtil {
  /** Maximal `[a-z]+` runs of the input, in order — bit-identical to
    * `regexp_extract_all(s, '[a-z]+', 0)` without compiling or running a
    * regex: in valid UTF-8 the bytes 0x61..0x7a ARE the codepoints a..z
    * (continuation bytes are >= 0x80, multi-byte leads >= 0xC0), so one
    * byte scan finds exactly the char runs the regex finds. */
  def letter_runs(s: UTF8String): ArrayData = {
    val b = s.getBytes
    val n = b.length
    // count first: tiny second pass beats growing a builder per token
    var i = 0
    var k = 0
    while (i < n) {
      if (b(i) >= 'a' && b(i) <= 'z') {
        k += 1
        while (i < n && b(i) >= 'a' && b(i) <= 'z') i += 1
      } else i += 1
    }
    val out = new Array[Any](k)
    i = 0
    k = 0
    while (i < n) {
      if (b(i) >= 'a' && b(i) <= 'z') {
        val start = i
        while (i < n && b(i) >= 'a' && b(i) <= 'z') i += 1
        out(k) = UTF8String.fromBytes(b, start, i - start)
        k += 1
      } else i += 1
    }
    new GenericArrayData(out)
  }
}

/** `bracket_chars(text)` — the BPE initial character tokenization
  * (`fast` -> `<f><a><s><t>`), the last regex in the
  * q39/q109/q154/q155 paths (vocab build runs it per distinct word,
  * encode per doc-local distinct term). */
object BracketCharsUtil {
  /** `<c>` wrapping of every character — bit-identical to
    * `regexp_replace(s, '(.)', '<$1>')` on any input without line
    * terminators (Java's `.` skips those; both engine call sites feed
    * `[a-z]+` runs from [[LetterRunsUtil.letter_runs]], where the domains
    * coincide) — without running a regex or growing a StringBuffer:
    * one pass counts codepoints (UTF-8 lead bytes), one pass copies.
    * Multi-byte codepoints wrap as units, exactly like the regex
    * (Java `.` matches a full codepoint, surrogate pairs included). */
  def bracket_chars(s: UTF8String): UTF8String = {
    val b = s.getBytes
    val n = b.length
    var chars = 0
    var i = 0
    while (i < n) {
      if ((b(i) & 0xC0) != 0x80) chars += 1
      i += 1
    }
    val out = new Array[Byte](n + 2 * chars)
    var o = 0
    i = 0
    while (i < n) {
      out(o) = '<'
      o += 1
      out(o) = b(i)
      o += 1
      i += 1
      while (i < n && (b(i) & 0xC0) == 0x80) { out(o) = b(i); o += 1; i += 1 }
      out(o) = '>'
      o += 1
    }
    UTF8String.fromBytes(out)
  }
}
