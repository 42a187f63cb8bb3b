package graft

import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Row}
import org.apache.spark.sql.functions.{call_function, col, lit, typedLit}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The SQL surface of all 25 native functions, pinned in one table:
  * result type, result nullability (over nullable and over non-null
  * input columns), the default column name of an unaliased call and
  * the value on one input row. Every name must also fail at analysis,
  * naming itself, on a wrong arity and on a wrong argument type. */
class NativeSurfaceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val spanType = StructType(Seq(
    StructField("span_start", LongType, nullable = false),
    StructField("span_end", LongType, nullable = false)))
  private val tabType = StructType(Seq(
    StructField("cid", IntegerType, nullable = false),
    StructField("d2", LongType, nullable = false)))

  /** One input row; every column nullable or none of them. */
  private def input(nullable: Boolean): DataFrame = {
    val fields = Seq(
      "text" -> StringType,
      "emb" -> ArrayType(FloatType, containsNull = false),
      "lv" -> ArrayType(LongType, containsNull = false),
      "x" -> DoubleType,
      "t" -> LongType,
      "a" -> LongType,
      "b" -> LongType,
      "code" -> IntegerType,
      "keys" -> ArrayType(DoubleType, containsNull = false),
      "cums" -> ArrayType(LongType, containsNull = false),
      "ts" -> ArrayType(LongType, containsNull = false),
      "vals" -> ArrayType(DoubleType, containsNull = false),
      "tab" -> ArrayType(tabType, containsNull = false),
      "spans" -> ArrayType(spanType, containsNull = false))
    val schema = StructType(fields.map { case (n, t) => StructField(n, t, nullable) })
    val row = Row("Ab1 <b>x</b> &amp; see http://x.io a@b.com 1234567",
      Seq(0.5f, -0.25f, 1.0f), Seq(1L, 2L, 3L, 4L), 2.5, 3L, 5L, 9L, 3,
      Seq(1.0, 2.5, 4.0), Seq(2L, 5L, 9L), Seq(1L, 3L, 5L),
      Seq(10.0, 30.0, 50.0), Seq(Row(3, 300L)), Seq(Row(0L, 1L)))
    spark.createDataFrame(java.util.Collections.singletonList(row), schema)
  }

  /** Each native called on valid arguments. */
  private val calls: Seq[(String, Seq[Column])] = Seq(
    "quantized_dot" -> Seq(col("emb"), col("emb")),
    "slice_id" -> Seq(col("x"), typedLit(Seq(1.0, 2.0))),
    "zorder_key" -> Seq(col("a"), col("b")),
    "minhash_mins" -> Seq(col("lv"), typedLit(Seq(Seq(3L, 5L), Seq(7L, 11L)))),
    "asof_pick" -> Seq(col("ts"), col("vals"), col("t")),
    "asof_neighbors" -> Seq(col("ts"), col("vals"), col("t")),
    "cdf_below" -> Seq(col("keys"), col("cums"), col("x")),
    "letter_runs" -> Seq(col("text")),
    "bracket_chars" -> Seq(col("text")),
    "strip_markup" -> Seq(col("text")),
    "subword_stats" -> Seq(col("text")),
    "quality_char_stats" -> Seq(col("text")),
    "space_token_stats" -> Seq(col("text"), typedLit(Seq("a", "see"))),
    "space_token_counts" -> Seq(col("text")),
    "remove_token_spans" -> Seq(col("text"), col("spans")),
    "space_bigram_counts" -> Seq(col("text")),
    "shingle_hashes" -> Seq(col("text"), lit(2)),
    "space_segments" -> Seq(col("text"), lit(2)),
    "nfkc_fold" -> Seq(col("text")),
    "pii_mask" -> Seq(col("text")),
    "lsh_plane_bits" -> Seq(col("emb"), typedLit(Seq(Seq(1L, -1L, 1L), Seq(-1L, 1L, 0L)))),
    "dot_long" -> Seq(col("lv"), col("lv")),
    "quantized_dot_long" -> Seq(col("emb"), col("lv")),
    "pq_codes" -> Seq(col("lv"),
      typedLit(Seq(Seq(1L, 2L, 3L, 4L), Seq(0L, 0L, 0L, 0L))), lit(2)),
    "adc_lookup" -> Seq(col("tab"), col("code")))

  /** name -> (result type, nullable over nullable inputs, nullable over
    * non-null inputs, default column name, value on the input row).
    * Recorded from the per-function Catalyst classes the registry
    * table replaced; any difference is a change to the SQL surface. */
  private val expected: Map[String, (String, Boolean, Boolean, String, String)] = Map(
    "quantized_dot" -> ("LongType", true, false, "quantized_dot(emb, emb)",
      "131250000000000"),
    "slice_id" -> ("IntegerType", true, false, "slice_id(x, ARRAY(1.0D, 2.0D))", "2"),
    "zorder_key" -> ("LongType", true, false, "zorder_key(a, b)", "147"),
    "minhash_mins" -> ("ArrayType(LongType,false)", true, true,
      "minhash_mins(lv, ARRAY(ARRAY(3L, 5L), ARRAY(7L, 11L)))", "ArraySeq(10, 16)"),
    "asof_pick" -> ("DoubleType", true, true, "asof_pick(ts, vals, t)", "30.0"),
    "asof_neighbors" -> ("StructType(StructField(t0,LongType,true)," +
      "StructField(v0,DoubleType,true),StructField(t1,LongType,true)," +
      "StructField(v1,DoubleType,true))", true, true, "asof_neighbors(ts, vals, t)",
      "[3,30.0,5,50.0]"),
    "cdf_below" -> ("LongType", true, true, "cdf_below(keys, cums, x)", "2"),
    "letter_runs" -> ("ArrayType(StringType,false)", true, false, "letter_runs(text)",
      "ArraySeq(b, b, x, b, amp, see, http, x, io, a, b, com)"),
    "bracket_chars" -> ("StringType", true, false, "bracket_chars(text)",
      "<A><b><1>< ><<><b><>><x><<></><b><>>< ><&><a><m><p><;>< ><s><e><e>< >" +
        "<h><t><t><p><:></></><x><.><i><o>< ><a><@><b><.><c><o><m>< >" +
        "<1><2><3><4><5><6><7>"),
    "strip_markup" -> ("StructType(StructField(s,StringType,false)," +
      "StructField(n_tags,LongType,false))", true, false, "strip_markup(text)",
      "[Ab1 x & see http://x.io a@b.com 1234567,2]"),
    "subword_stats" -> ("StructType(StructField(n_subtokens,LongType,false)," +
      "StructField(n_distinct,LongType,false),StructField(max_token_len,LongType,true)," +
      "StructField(n_numeric,LongType,false))", true, false, "subword_stats(text)",
      "[27,19,7,2]"),
    "quality_char_stats" -> ("StructType(StructField(n_tok,LongType,false)," +
      "StructField(n_chars,LongType,false),StructField(n_digits,LongType,false))",
      true, false, "quality_char_stats(text)", "[7,50,8]"),
    "space_token_stats" -> ("StructType(StructField(n_tok,LongType,false)," +
      "StructField(n_distinct,LongType,false),StructField(stop_hits,LongType,false)," +
      "StructField(top_bg,LongType,true))", true, false,
      "space_token_stats(text, ARRAY('a', 'see'))", "[7,7,1,1]"),
    "space_token_counts" -> ("ArrayType(StructType(StructField(term,StringType,false)," +
      "StructField(tf,LongType,false)),false)", true, false, "space_token_counts(text)",
      "ArraySeq([http://x.io,1], [1234567,1], [see,1], [Ab1,1], [<b>x</b>,1], " +
        "[&amp;,1], [a@b.com,1])"),
    "remove_token_spans" -> ("StringType", true, false, "remove_token_spans(text, spans)",
      "<b>x</b> &amp; see http://x.io a@b.com 1234567"),
    "space_bigram_counts" -> ("ArrayType(StructType(StructField(bg,StringType,false)," +
      "StructField(tf,LongType,false)),false)", true, false, "space_bigram_counts(text)",
      "ArraySeq([Ab1 <b>x</b>,1], [http://x.io a@b.com,1], [&amp; see,1], " +
        "[a@b.com 1234567,1], [see http://x.io,1], [<b>x</b> &amp;,1])"),
    "shingle_hashes" -> ("ArrayType(LongType,false)", true, false, "shingle_hashes(text, 2)",
      "ArraySeq(1610817180, 1020181250, 174606079, 278187691, 832655395, 1188053686)"),
    "space_segments" -> ("ArrayType(StructType(StructField(seg,StringType,false)," +
      "StructField(h,LongType,false)),false)", true, false, "space_segments(text, 2)",
      "ArraySeq([Ab1 <b>x</b>,1610817180], [&amp; see,174606079], " +
        "[http://x.io a@b.com,832655395], [1234567,383679903])"),
    "nfkc_fold" -> ("StringType", true, false, "nfkc_fold(text)",
      "ab1 <b>x</b> &amp; see http://x.io a@b.com 1234567"),
    "pii_mask" -> ("StructType(StructField(masked,StringType,false)," +
      "StructField(n_url,LongType,false),StructField(n_email,LongType,false)," +
      "StructField(n_num,LongType,false))", true, false, "pii_mask(text)",
      "[Ab1 <b>x</b> &amp; see <URL> <EMAIL> <NUM>,1,1,1]"),
    "lsh_plane_bits" -> ("LongType", true, false,
      "lsh_plane_bits(emb, ARRAY(ARRAY(1L, -1L, 1L), ARRAY(-1L, 1L, 0L)))", "1"),
    "dot_long" -> ("LongType", true, false, "dot_long(lv, lv)", "30"),
    "quantized_dot_long" -> ("LongType", true, false, "quantized_dot_long(emb, lv)",
      "30000000"),
    "pq_codes" -> ("ArrayType(IntegerType,false)", true, false,
      "pq_codes(lv, ARRAY(ARRAY(1L, 2L, 3L, 4L), ARRAY(0L, 0L, 0L, 0L)), 2)",
      "ArraySeq(0, 0)"),
    "adc_lookup" -> ("LongType", true, true, "adc_lookup(tab, code)", "300"))

  test("the pinned table covers every registered native") {
    assert(expected.size == 25)
    assert(calls.map(_._1).toSet == expected.keySet)
    assert(graft.functions.Natives.builders.map(_.name).toSet == expected.keySet)
  }

  test("result type, nullability, default column name and value of every native") {
    val nul = input(nullable = true)
    val non = input(nullable = false)
    calls.foreach { case (name, args) =>
      val (dataType, nullableIn, nonNullIn, column, value) = expected(name)
      val a = nul.select(call_function(name, args: _*))
      val b = non.select(call_function(name, args: _*))
      assert(a.schema.head.dataType.toString == dataType, name)
      assert(a.schema.head.nullable == nullableIn, name)
      assert(b.schema.head.nullable == nonNullIn, name)
      assert(a.columns.toSeq == Seq(column), name)
      assert(b.columns.toSeq == Seq(column), name)
      assert(String.valueOf(a.collect().head.get(0)) == value, name)
      assert(String.valueOf(b.collect().head.get(0)) == value, name)
    }
  }

  test("wrong arity fails at analysis, naming the function") {
    val df = input(nullable = true)
    calls.foreach { case (name, args) =>
      val tooMany = if (name == "zorder_key") Seq.fill(9)(col("a")) else args :+ args.head
      Seq(Seq.empty[Column], tooMany).foreach { wrong =>
        val e = intercept[Exception](df.select(call_function(name, wrong: _*)))
        assert(e.getMessage.contains(name), s"$name/${wrong.size}: ${e.getMessage}")
      }
    }
  }

  test("a wrong argument type fails at analysis, naming the function") {
    val df = input(nullable = true)
    calls.foreach { case (name, args) =>
      // no native takes a bare bigint first, except zorder_key
      val bad = if (name == "zorder_key") col("text") else col("a")
      val e = intercept[AnalysisException](
        df.select(call_function(name, bad +: args.tail: _*)))
      assert(e.getMessage.contains(name), s"$name: ${e.getMessage}")
    }
  }
}
