package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.unsafe.types.UTF8String

/** `strip_markup(text)` = `struct(s, n_tags)` — the web-corpus cleanup
  * verb's kernel (q147): tag count + tag strip + entity decode were two
  * regex passes and three replace passes per document; this is two
  * JIT'd byte scans, same map-only plan. */
object StripMarkupUtil {
  /** Tag strip + entity decode in two tight byte scans, bit-identical to
    * the composed form
    *
    *   n_tags = size(regexp_extract_all(w, '<[^>]*>', 0))
    *   s = replace(replace(replace(regexp_replace(w, '<[^>]*>', ''),
    *         '&gt;', '>'), '&lt;', '<'), '&amp;', '&')
    *
    * without compiling or running a regex and without materializing the
    * three intermediate strings.
    *
    * Scan 1 (strip): a regex match of `<[^>]*>` starts at a '<' and ends
    * at the FIRST '>' at-or-after it (the negated class cannot cross
    * '>'); replaceAll consumes matches left-to-right non-overlapping, so
    * the scan that skips '<'..'>' spans (counting each) and copies
    * everything else — including a trailing '<' with no closing '>' —
    * emits exactly the regex's replacement string.
    *
    * Scan 2 (decode): the three staged replaces equal ONE left-to-right
    * scan over the three patterns because (a) all patterns start with
    * '&' and differ at the next char, so no two matches — of the same or
    * different patterns — can overlap, and (b) no replacement character
    * ('>', '<', '&') appears inside a pattern except as its first byte,
    * and replace() never rescans its own output, so an earlier stage can
    * neither create nor destroy a later stage's match. The &amp;-LAST
    * order's no-double-decode property ('&amp;lt;' -> '&lt;') falls out
    * of the same no-rescan rule. */
  def strip_markup(s: UTF8String): InternalRow = {
    val b = s.getBytes
    val n = b.length
    val buf = new Array[Byte](n)
    var o = 0
    var tags = 0L
    var i = 0
    while (i < n) {
      if (b(i) == '<') {
        var j = i + 1
        while (j < n && b(j) != '>') j += 1
        if (j < n) { tags += 1; i = j + 1 }
        else { // no '>' anywhere after: no further match can start — copy rest
          System.arraycopy(b, i, buf, o, n - i)
          o += n - i
          i = n
        }
      } else { buf(o) = b(i); o += 1; i += 1 }
    }
    val out = new Array[Byte](o)
    var p = 0
    i = 0
    while (i < o) {
      if (buf(i) == '&' && i + 3 < o) {
        if (buf(i + 1) == 'a' && i + 4 < o && buf(i + 2) == 'm' &&
            buf(i + 3) == 'p' && buf(i + 4) == ';') {
          out(p) = '&'; p += 1; i += 5
        } else if (buf(i + 1) == 'l' && buf(i + 2) == 't' && buf(i + 3) == ';') {
          out(p) = '<'; p += 1; i += 4
        } else if (buf(i + 1) == 'g' && buf(i + 2) == 't' && buf(i + 3) == ';') {
          out(p) = '>'; p += 1; i += 4
        } else { out(p) = buf(i); p += 1; i += 1 }
      } else { out(p) = buf(i); p += 1; i += 1 }
    }
    val row = new GenericInternalRow(2)
    row.update(0, UTF8String.fromBytes(out, 0, p))
    row.update(1, tags)
    row
  }
}
