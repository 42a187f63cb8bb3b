package graft.functions

import java.text.Normalizer
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.unsafe.types.UTF8String

/** Unicode normalization + PII masking for the corpus scrub chain —
  * the two byte-scan primitives a web corpus needs BEFORE hashing
  * (VERDICT r9 #4 / r8 "What's missing" #2–#3): without NFKC folding the
  * same text dedups as distinct (full-width vs ASCII, ligatures,
  * composed vs decomposed accents), and q80's digit-run redaction covers
  * only one PII shape.
  *
  * Both follow the engine's text-expression discipline
  * ([[TextStatsUtil]]): codegen'd static calls, O(doc bytes) per row,
  * no regex engine on the hot path, map-only plans. ASCII documents —
  * the overwhelming bulk of a web corpus after lang-id — take a pure
  * byte-scan fast path; only rows containing a non-ASCII byte pay the
  * JDK normalizer.
  */
object NormalizeUtil {

  /** `nfkc_fold(text)`: NFKC-normalize, lowercase, re-normalize —
    * the canonical form the dedup/hash chain keys on. The trailing NFKC
    * guards the (rare) case mappings whose output is not normalized, so
    * the fold is idempotent (asserted in-gate by q166 on every row and
    * in NormalizeSpec on adversarial strings). ASCII fast path: NFKC is
    * the identity on ASCII, so a doc with no byte ≥ 0x80 folds with one
    * in-place byte lowercase — no String materialization at all. */
  def nfkc_fold(s: UTF8String): UTF8String = {
    val b = s.getBytes
    var i = 0
    var ascii = true
    var needsLower = false
    while (ascii && i < b.length) {
      val c = b(i)
      if (c < 0) ascii = false
      else if (c >= 'A' && c <= 'Z') needsLower = true
      i += 1
    }
    if (ascii) {
      if (!needsLower) return s
      val out = new Array[Byte](b.length)
      var k = 0
      while (k < b.length) {
        val c = b(k)
        out(k) = if (c >= 'A' && c <= 'Z') (c + 32).toByte else c
        k += 1
      }
      UTF8String.fromBytes(out)
    } else {
      val n1 = Normalizer.normalize(s.toString, Normalizer.Form.NFKC)
      val lowered = n1.toLowerCase(java.util.Locale.ROOT)
      val n2 =
        if (Normalizer.isNormalized(lowered, Normalizer.Form.NFKC)) lowered
        else Normalizer.normalize(lowered, Normalizer.Form.NFKC)
      UTF8String.fromString(n2)
    }
  }

  private def isLocal(c: Byte): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
    (c >= '0' && c <= '9') || c == '.' || c == '_' || c == '%' ||
    c == '+' || c == '-'

  private def isDomain(c: Byte): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
    (c >= '0' && c <= '9') || c == '.' || c == '-'

  private def isLetter(c: Byte): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')

  private def isDigit(c: Byte): Boolean = c >= '0' && c <= '9'

  private val UrlTag = "<URL>".getBytes
  private val EmailTag = "<EMAIL>".getBytes
  private val NumTag = "<NUM>".getBytes

  private final class Builder(hint: Int) {
    private var buf = new Array[Byte](math.max(hint, 16))
    var len = 0
    def append(b: Array[Byte], start: Int, n: Int): Unit = {
      if (len + n > buf.length)
        buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, len + n))
      System.arraycopy(b, start, buf, len, n); len += n
    }
    def bytes: Array[Byte] = java.util.Arrays.copyOf(buf, len)
  }

  /** Mask URLs: `https?://[^ ]+` → `<URL>` (leftmost, non-overlapping —
    * exactly `regexp_replace(text, 'https?://[^ ]+', '<URL>', 'g')`;
    * scheme match is case-sensitive like the regex). Returns masked
    * bytes; `count` receives matches. */
  private def maskUrls(b: Array[Byte], count: Array[Long]): Array[Byte] = {
    val out = new Builder(b.length)
    var pos = 0
    var i = 0
    while (i < b.length) {
      if (b(i) == 'h') {
        var schemeEnd = -1
        if (i + 7 <= b.length && b(i + 1) == 't' && b(i + 2) == 't' && b(i + 3) == 'p') {
          if (b(i + 4) == ':' && i + 7 <= b.length && b(i + 5) == '/' && b(i + 6) == '/')
            schemeEnd = i + 7
          else if (b(i + 4) == 's' && i + 8 <= b.length && b(i + 5) == ':' &&
              b(i + 6) == '/' && b(i + 7) == '/')
            schemeEnd = i + 8
        }
        if (schemeEnd >= 0 && schemeEnd < b.length && b(schemeEnd) != ' ') {
          var e = schemeEnd
          while (e < b.length && b(e) != ' ') e += 1
          out.append(b, pos, i - pos)
          out.append(UrlTag, 0, UrlTag.length)
          count(0) += 1
          pos = e; i = e
        } else i += 1
      } else i += 1
    }
    out.append(b, pos, b.length - pos)
    out.bytes
  }

  /** Mask emails: `[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}` →
    * `<EMAIL>`, with the regex's leftmost-greedy-backtracking semantics
    * reproduced: local part = maximal class run ending at the '@'
    * (clamped at the previous match boundary), domain = maximal class
    * run with the LARGEST split point x where b[x]='.' is followed by
    * ≥2 letters (the greedy `+` giving back minimally), match end =
    * end of that letter run. */
  private def maskEmails(b: Array[Byte], count: Array[Long]): Array[Byte] = {
    val out = new Builder(b.length)
    var pos = 0
    var j = 0
    while (j < b.length) {
      if (b(j) == '@') {
        var ls = j
        while (ls > pos && isLocal(b(ls - 1))) ls -= 1
        var dmax = j + 1
        while (dmax < b.length && isDomain(b(dmax))) dmax += 1
        var end = -1
        if (ls < j && dmax > j + 1) {
          // largest '.' split with >= 2 trailing letters and a nonempty
          // domain head ([A-Za-z0-9.-]+ needs at least one char)
          var x = dmax - 1
          while (end < 0 && x > j + 1) {
            if (b(x) == '.') {
              var e = x + 1
              while (e < dmax && isLetter(b(e))) e += 1
              if (e - (x + 1) >= 2) end = e
            }
            x -= 1
          }
        }
        if (end >= 0) {
          out.append(b, pos, ls - pos)
          out.append(EmailTag, 0, EmailTag.length)
          count(0) += 1
          pos = end; j = end
        } else j += 1
      } else j += 1
    }
    out.append(b, pos, b.length - pos)
    out.bytes
  }

  /** Mask ID/phone-shaped digit runs: `[0-9]{6,}` → `<NUM>`. */
  private def maskDigitRuns(b: Array[Byte], count: Array[Long]): Array[Byte] = {
    val out = new Builder(b.length)
    var pos = 0
    var i = 0
    while (i < b.length) {
      if (isDigit(b(i))) {
        var e = i
        while (e < b.length && isDigit(b(e))) e += 1
        if (e - i >= 6) {
          out.append(b, pos, i - pos)
          out.append(NumTag, 0, NumTag.length)
          count(0) += 1
          pos = e
        }
        i = e
      } else i += 1
    }
    out.append(b, pos, b.length - pos)
    out.bytes
  }

  /** `pii_mask(text)`: URLs → `<URL>`, then emails → `<EMAIL>`, then
    * ≥6-digit runs → `<NUM>` — three linear byte passes in exactly the
    * order of the oracle's `regexp_replace` chain (the sequencing
    * matters: an email inside a URL is already masked, a digit run
    * inside an email never reaches the digit pass). Returns
    * (masked, n_url, n_email, n_num). */
  def pii_mask(s: UTF8String): GenericInternalRow = {
    val nUrl = new Array[Long](1)
    val nEmail = new Array[Long](1)
    val nNum = new Array[Long](1)
    val m = maskDigitRuns(maskEmails(maskUrls(s.getBytes, nUrl), nEmail), nNum)
    val row = new GenericInternalRow(4)
    row.update(0, UTF8String.fromBytes(m))
    row.update(1, nUrl(0))
    row.update(2, nEmail(0))
    row.update(3, nNum(0))
    row
  }
}
