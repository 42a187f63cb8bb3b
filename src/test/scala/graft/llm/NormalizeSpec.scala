package graft.llm

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.NormalizeUtil

/** [[NormalizeUtil.nfkc_fold]] / [[NormalizeUtil.pii_mask]] properties
  * beyond the q166/q167 gates:
  *
  *  - the PII byte-scan masker is equivalence-tested against the JDK
  *    regex engine running the same three-stage chain on a large
  *    deterministic fragment soup — a THIRD independent implementation
  *    (the gate already proves DuckDB/RE2 equivalence on the fixture +
  *    tricky cases; this covers thousands of adversarial combinations
  *    including truncated schemes, dotless domains, and separator-dense
  *    boundaries);
  *  - nfkc_fold idempotence and ASCII-fast-path correctness on strings
  *    that mix case, width, ligatures, and combining marks;
  *  - both expressions run through the DataFrame (codegen) path and the
  *    direct static (interpreted) path with identical results.
  */
class NormalizeSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark
  import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}

  private def foldRef(s: String): String = {
    import java.text.Normalizer
    val n1 = Normalizer.normalize(s, Normalizer.Form.NFKC)
    Normalizer.normalize(
      n1.toLowerCase(java.util.Locale.ROOT), Normalizer.Form.NFKC)
  }

  /** The oracle chain through the JDK regex engine. */
  private def piiRef(s: String): (String, Long, Long, Long) = {
    val url = "https?://[^ ]+".r
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}".r
    val num = "[0-9]{6,}".r
    val nUrl = url.findAllIn(s).size
    val m1 = url.replaceAllIn(s, "<URL>")
    val nEmail = email.findAllIn(m1).size
    val m2 = email.replaceAllIn(m1, "<EMAIL>")
    val nNum = num.findAllIn(m2).size
    (num.replaceAllIn(m2, "<NUM>"), nUrl.toLong, nEmail.toLong, nNum.toLong)
  }

  private def piiGot(s: String): (String, Long, Long, Long) = {
    val r = NormalizeUtil.pii_mask(UTF8String.fromString(s))
    (r.getUTF8String(0).toString, r.getLong(1), r.getLong(2), r.getLong(3))
  }

  private val fragments = IndexedSeq(
    "plain", "words", "a@b.co", "a@b.c", "x@y.z.ww", "b.c@d.ee",
    "@", "@@", "a@", "@b.cd", ".@.", "a@.cd", "a@b..cd", "a@-.cd",
    "http://x.y", "https://", "http://", "http:/x", "xhttp://a.b",
    "httpss://w", "https://q?a=1&b=2#f", "http://e@f.gg/h",
    "12345", "123456", "00000000000", "1a2b3c", "007",
    "ab.cd", "a-b@c-d.ef-gh", "a_b%c+d@e.fg", "tail.", ".lead",
    "<URL>", "<EMAIL>", "<NUM>", "", " ", "  ")

  test("pii_mask equals the JDK regex chain on a deterministic fragment soup") {
    // deterministic affine walk over fragment combinations: ~4000 inputs
    // with 1..6 fragments joined by space / empty / comma boundaries
    val seps = IndexedSeq(" ", "", ",", " @ ")
    var checked = 0
    var i = 0
    while (i < 4000) {
      val n = i % 6 + 1
      val sb = new StringBuilder
      var k = 0
      while (k < n) {
        sb.append(fragments((i * 31 + k * 17 + (i % 7) * k) % fragments.size))
        if (k < n - 1) sb.append(seps((i * 13 + k) % seps.size))
        k += 1
      }
      val s = sb.toString
      assert(piiGot(s) == piiRef(s), s"input: ${s.take(200)}")
      checked += 1
      i += 1
    }
    assert(checked == 4000)
  }

  test("nfkc_fold matches the JDK reference and is idempotent on mixed-script strings") {
    val cases = Seq(
      "", " ", "plain ascii", "MIXED Case", "ﬁﬂﬀ ligatures", "Ｗｉｄｅ",
      "①⑩㊿", "Ⅻ Ⅶ", "Å Å Å", "µ and μ", "ｶﾞｷﾞｸﾞ", "℡№™",
      "ẞ and ß", "İstanbul", "ϓ", "²³ and 23", " nbsp",
      "combining ȩ́ marks", "日本語 ＡＢＣ")
    cases.foreach { c =>
      val got = NormalizeUtil.nfkc_fold(UTF8String.fromString(c)).toString
      assert(got == foldRef(c), s"input: $c")
      val twice = NormalizeUtil.nfkc_fold(UTF8String.fromString(got)).toString
      assert(twice == got, s"not idempotent on: $c -> $got -> $twice")
    }
  }

  test("codegen and interpreted paths agree through the DataFrame surface") {
    val rows = Seq(
      (1L, "Visit https://a.b/c or mail X.Y@z.co-m id 1234567 ﬁrst Ｗｉｄｅ"),
      (2L, "no pii ALL CAPS"),
      (3L, ""))
    val df = rows.toDF("id", "text")
    val out = df.select(col("id"),
        call_function("nfkc_fold", col("text")).as("f"),
        call_function("pii_mask", col("text")).as("p"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getStruct(2).getString(0))))
      .toMap
    rows.foreach { case (id, text) =>
      val (fGot, pGot) = out(id)
      assert(fGot == foldRef(text))
      assert(pGot == piiRef(text)._1)
    }
  }
}
