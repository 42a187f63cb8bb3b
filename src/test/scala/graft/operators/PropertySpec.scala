package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** Property-style checks (SURVEY §5 item 4) — seeded random event
  * streams, invariants the operators must hold regardless of data:
  *  - as-of join equals the per-row brute-force definition (most recent
  *    right row at-or-before, per key);
  *  - zip-merge truncates to the shorter stream and stamps the first
  *    stream's timestamps;
  *  - replay sequence is input-order invariant.
  * Deterministic seed; 12 random cases per property (each case is a
  * full Spark job). Duplicate (k, ts) pairs occur by construction
  * (ts ∈ [0, 50]) so tie behavior is exercised.
  */
object PropertySpec {
  // top-level-ish so Spark can derive an Encoder (inner classes need scope)
  final case class Ev(k: Long, ts: Long, id: Long, v: Double)
}

class PropertySpec extends AnyFunSuite {
  import PropertySpec.Ev
  private lazy val spark = TestSpark.spark

  private def genEvents(rnd: scala.util.Random): List[Ev] =
    List.tabulate(rnd.nextInt(41)) { i =>
      Ev(rnd.nextInt(4).toLong, rnd.nextInt(51).toLong, i.toLong,
        (rnd.nextInt(201) - 100).toDouble)
    }

  test("asOf == brute-force most-recent-at-or-before, per key") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 12) {
      val ls = genEvents(rnd); val rs = genEvents(rnd)
      val left = spark.createDataset(ls).toDF("k", "ts", "id", "lv")
      val right = spark.createDataset(rs).toDF("k", "ts", "id", "rv").drop("id")
      val got = AsOfJoin.asOf(left, right, Seq("k"), "ts", "ts", Seq("rv"))
        .select("id", "rv").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
      assert(got.size == ls.size) // every left row survives exactly once
      ls.foreach { e =>
        // the operator picks SOME row among equal (k, maxTs) candidates —
        // assert membership in that candidate set
        val elig = rs.filter(r => r.k == e.k && r.ts <= e.ts)
        val want: Set[Option[Double]] =
          if (elig.isEmpty) Set(None)
          else { val mts = elig.map(_.ts).max; elig.filter(_.ts == mts).map(r => Option(r.v)).toSet }
        assert(want.contains(got(e.id)), s"event $e got ${got(e.id)} want one of $want")
      }
    }
  }

  test("zipMerge truncates to the shorter stream and keeps the first stream's ts") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 12) {
      val as = genEvents(rnd); val bs = genEvents(rnd)
      val a = spark.createDataset(as).toDF("k", "ts", "event_id", "value")
      val b = spark.createDataset(bs).toDF("k", "ts", "event_id", "value")
      val merged = graft.core.Events.zipMerge(Seq("a" -> a, "b" -> b))
        .orderBy(col("k")).collect()
      assert(merged.length == math.min(as.size, bs.size))
      val aSorted = as.sortBy(e => (e.ts, e.id))
      merged.zipWithIndex.foreach { case (row, i) =>
        assert(row.getLong(row.fieldIndex("ts")) == aSorted(i).ts)
        assert(row.getDouble(row.fieldIndex("a")) == aSorted(i).v)
      }
    }
  }

  test("LshPlaneBits == independent per-row recomputation (random planes/vectors)") {
    import spark.implicits._
    val rnd = new scala.util.Random(99)
    val planes: Seq[Seq[Long]] = Seq.fill(8)(Seq.fill(16)(rnd.nextInt(2001).toLong - 1000))
    val vecs: Seq[(Long, Seq[Float])] =
      Seq.tabulate(60)(i => (i.toLong, Seq.fill(16)(rnd.nextFloat() * 2 - 1)))
    val got = spark.createDataset(vecs).toDF("id", "emb")
      .select(col("id"), graft.functions.VectorOps
        .lshBucket(col("emb").cast("array<float>"), planes).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    vecs.foreach { case (id, emb) =>
      val want = planes.zipWithIndex.map { case (w, j) =>
        val s = emb.zip(w).map { case (x, wi) => (x.toDouble * 1e7).toLong * wi }.sum
        if (s > 0) 1L << j else 0L
      }.sum
      assert(got(id) == want, s"vec $id")
    }
  }

  test("dot_long / quantized_dot_long == interpreted zip_with reference (random, unequal lengths)") {
    // r10: these native expressions replaced interpreted
    // aggregate(zip_with(...)) hot loops — pin bit-equality against the
    // exact HOF forms they replaced, including the shorter-prefix rule.
    import spark.implicits._
    val rnd = new scala.util.Random(1234)
    val rows: Seq[(Long, Seq[Long], Seq[Long], Seq[Float])] =
      Seq.tabulate(40) { i =>
        val n = 1 + rnd.nextInt(20)
        val m = 1 + rnd.nextInt(20)
        (i.toLong,
          Seq.fill(n)(rnd.nextInt(200001).toLong - 100000),
          Seq.fill(m)(rnd.nextInt(200001).toLong - 100000),
          Seq.fill(n)(rnd.nextFloat() * 2 - 1))
      }
    val df = spark.createDataset(rows).toDF("id", "a", "b", "f")
    val got = df.select(col("id"),
        graft.functions.VectorOps.dotLong(col("a"), col("b")).as("d"),
        graft.functions.VectorOps.quantizedDotLong(
          col("f").cast("array<float>"), col("b")).as("qd"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    rows.foreach { case (id, a, b, f) =>
      val n = math.min(a.size, b.size)
      val wantD = (0 until n).map(i => a(i) * b(i)).sum
      val wantQ = (0 until math.min(f.size, b.size))
        .map(i => (f(i).toDouble * 1e7).toLong * b(i)).sum
      assert(got(id) == ((wantD, wantQ)), s"row $id")
    }
  }

  test("pq_codes == the interpreted per-subspace argmin chain it replaced (ties to lower cid)") {
    import spark.implicits._
    val rnd = new scala.util.Random(77)
    val width = 4
    val dims = 16 // 4 subspaces
    // duplicate codeword rows (cid 2 == cid 5) force d2 ties — the tie
    // must resolve to the LOWER cid, the array_min struct-order rule
    val row2 = IndexedSeq.fill(dims)(rnd.nextInt(21).toLong - 10)
    val cw: IndexedSeq[IndexedSeq[Long]] = IndexedSeq.tabulate(8) {
      case 2 => row2
      case 5 => row2
      case _ => IndexedSeq.fill(dims)(rnd.nextInt(21).toLong - 10)
    }
    val vecs: Seq[(Long, Seq[Long])] =
      Seq.tabulate(50)(i => (i.toLong, Seq.fill(dims)(rnd.nextInt(21).toLong - 10))) ++
        // exact codeword copies: guaranteed zero-distance ties
        Seq((100L, cw(2).toSeq), (101L, cw(7).toSeq))
    val df = spark.createDataset(vecs).toDF("id", "r")
    val got = df.select(col("id"),
        graft.llm.IvfPq.codes(col("r"), cw, width).as("codes"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toList).toMap
    // reference: the exact interpreted chain the native expr replaced
    val ref = df.select(col("id"), array((0 until dims / width).map { sI =>
        array_min(array(cw.indices.map(cid =>
          struct(
            aggregate(zip_with(slice(col("r"), 1 + width * sI, width),
                typedLit(cw(cid).slice(width * sI, width * sI + width)),
                (a, b) => (a - b) * (a - b)),
              lit(0L), (acc, v) => acc + v).as("d2"),
            lit(cid).as("cid"))): _*)).getField("cid")
      }: _*).as("codes"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toList).toMap
    vecs.foreach { case (id, _) =>
      assert(got(id) == ref(id), s"vec $id: got ${got(id)} want ${ref(id)}")
    }
    // the zero-distance duplicate-row tie resolves to cid 2, never 5
    assert(!got(100L).contains(5))
  }

  test("the r10 native expressions COMPILE under codegen (no silent interpreted fallback)") {
    // A janino failure inside doGenCode is caught by Spark's
    // interpreted-fallback wrapper, so every value-comparison test stays
    // green while the hot path silently runs interpreted (exactly what
    // happened with a wrong package name in pq_codes' generated cast —
    // 76 fallback warns in the bench gate, zero test failures).
    // GenerateUnsafeProjection.generate bypasses the wrapper and THROWS.
    // The expression list comes from the registry, so no native is left
    // out: each table row as the StaticInvoke it is replaced by, each
    // bespoke native as built.
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, Literal, RuntimeReplaceable}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types._
    import graft.functions.Natives
    val longArr = ArrayType(LongType, containsNull = false)
    val floatArr = ArrayType(FloatType, containsNull = false)
    val tabType = ArrayType(StructType(Seq(
      StructField("cid", IntegerType, nullable = false),
      StructField("d2", LongType, nullable = false))), containsNull = false)
    val spanType = ArrayType(StructType(Seq(
      StructField("span_start", LongType, nullable = false),
      StructField("span_end", LongType, nullable = false))), containsNull = false)
    val longs = BoundReference(0, longArr, nullable = true)
    val floats = BoundReference(1, floatArr, nullable = true)
    val tab = BoundReference(2, tabType, nullable = true)
    val text = BoundReference(3, StringType, nullable = true)
    val spans = BoundReference(4, spanType, nullable = true)
    val x = BoundReference(5, DoubleType, nullable = true)
    val cwLit = Literal.create(
      Seq.tabulate(8)(c => Seq.tabulate(8)(j => (c * 8 + j).toLong)), ArrayType(longArr))
    val args: Map[String, Seq[Expression]] = Map(
      "quantized_dot" -> Seq(floats, floats),
      "dot_long" -> Seq(longs, longs),
      "quantized_dot_long" -> Seq(floats, longs),
      "adc_lookup" -> Seq(tab, Literal(3)),
      "cdf_below" -> Seq(
        Literal.create(Seq(1.0, 2.5, 4.0), ArrayType(DoubleType, containsNull = false)),
        Literal.create(Seq(2L, 5L, 9L), longArr), Literal(2.5)),
      "letter_runs" -> Seq(text),
      "bracket_chars" -> Seq(text),
      "strip_markup" -> Seq(text),
      "subword_stats" -> Seq(text),
      "quality_char_stats" -> Seq(text),
      "space_token_counts" -> Seq(text),
      "space_bigram_counts" -> Seq(text),
      "remove_token_spans" -> Seq(text, spans),
      "nfkc_fold" -> Seq(text),
      "pii_mask" -> Seq(text),
      "shingle_hashes" -> Seq(text, Literal(2)),
      "space_segments" -> Seq(text, Literal(2)),
      "pq_codes" -> Seq(longs, cwLit, Literal(4)),
      "asof_pick" -> Seq(longs, longs, Literal(3L)),
      "asof_neighbors" -> Seq(longs, longs, Literal(3L)),
      "slice_id" -> Seq(x,
        Literal.create(Seq(1.0, 2.0), ArrayType(DoubleType, containsNull = false))),
      "lsh_plane_bits" -> Seq(floats, Literal.create(Seq(Seq(1L, -1L)), ArrayType(longArr))),
      "minhash_mins" -> Seq(longs,
        Literal.create(Seq(Seq(3L, 5L), Seq(7L, 11L)), ArrayType(longArr))),
      "space_token_stats" -> Seq(text,
        Literal.create(Seq("b"), ArrayType(StringType, containsNull = false))),
      "zorder_key" -> Seq(Literal(5L), Literal(9L)))
    assert(args.keySet == Natives.builders.map(_.name).toSet)
    val names = Natives.builders.map(_.name)
    val exprs = Natives.builders.map(b => b(args(b.name)) match {
      case r: RuntimeReplaceable => r.replacement
      case e => e
    })
    // throws CompileException (not a silent fallback) if any genCode is broken
    val proj = GenerateUnsafeProjection.generate(
      exprs.map(e => org.apache.spark.sql.catalyst.expressions.Alias(e, "x")()))
    // and the compiled projection evaluates: one smoke row through it
    val row = org.apache.spark.sql.catalyst.InternalRow(
      new GenericArrayData(Array.tabulate(8)(_.toLong)),
      new GenericArrayData(Array.tabulate(8)(_.toFloat)),
      new GenericArrayData(Array.tabulate(8)(i =>
        org.apache.spark.sql.catalyst.InternalRow(i, (i * 100).toLong))),
      org.apache.spark.unsafe.types.UTF8String.fromString("a<x>b &amp;c"),
      new GenericArrayData(Array(org.apache.spark.sql.catalyst.InternalRow(0L, 1L))),
      2.5)
    val out = proj(row)
    def at(name: String): Int = names.indexOf(name)
    assert(out.getLong(at("dot_long")) == (0 until 8).map(i => i.toLong * i).sum)
    assert(out.getLong(at("adc_lookup")) == 300L) // adc_lookup(cid=3) -> 300
    val nb = out.getStruct(at("asof_neighbors"), 4) // timeline 0..7, probe 3 -> (3, 3, 4, 4)
    assert(nb.getLong(0) == 3L && nb.getLong(2) == 4L)
    assert(out.getArray(at("letter_runs")).numElements() == 5) // a, x, b, amp, c
    val sm = out.getStruct(at("strip_markup"), 2)
    assert(sm.getUTF8String(0).toString == "ab &c" && sm.getLong(1) == 1L)
    assert(out.getUTF8String(at("bracket_chars")).toString ==
      "<a><<><x><>><b>< ><&><a><m><p><;><c>")
    // "a<x>b &amp;c": 2 tokens, 12 chars, 0 digits
    val qc = out.getStruct(at("quality_char_stats"), 3)
    assert(qc.getLong(0) == 2L && qc.getLong(1) == 12L && qc.getLong(2) == 0L)
    // cdf_below: strict < at exact-hit 2.5 -> cum of 1.0
    assert(out.getLong(at("cdf_below")) == 2L)
    // interpreted eval == compiled output, native by native
    exprs.zip(names).zipWithIndex.foreach { case ((e, name), i) =>
      def scala(v: Any) = CatalystTypeConverters.convertToScala(v, e.dataType)
      val compiled = if (out.isNullAt(i)) null else scala(out.get(i, e.dataType))
      assert(scala(e.eval(row)) == compiled, name)
    }
  }

  test("cdf_below == brute-force count-below over the raw population " +
      "(random, incl. exact-hit probes and negatives)") {
    import spark.implicits._
    val rnd = new scala.util.Random(61)
    for (round <- 1 to 12) {
      // population with heavy duplication; probes drawn to land ON keys
      // (strictness edge), between keys, below min, above max
      val pop: Seq[Double] = Seq.fill(rnd.nextInt(40) + 1)(
        (rnd.nextInt(21) - 10) / 2.0)
      val probes: Seq[Double] = Seq.fill(30)(rnd.nextInt(31) / 2.0 - 8.0) ++
        pop.take(5) // guaranteed exact hits
      val keys = pop.distinct.sorted
      val cums = keys.map(k => pop.count(_ <= k).toLong)
      val got = probes.toDF("t")
        .select($"t", call_function("cdf_below",
          typedLit(keys), typedLit(cums), $"t").as("n"))
        .collect().map(r => r.getDouble(0) ->
          (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
      probes.foreach { t =>
        val want = pop.count(_ < t)
        val exp = if (want == 0) None else Some(want.toLong)
        assert(got(t) == exp, s"round $round probe $t: got ${got(t)} want $exp")
      }
    }
  }

  test("bracket_chars == regexp_replace(s, '(.)', '<$1>') (random, incl. " +
      "multi-byte codepoints)") {
    import spark.implicits._
    val rnd = new scala.util.Random(53)
    // codepoint-safe alphabet (whole strings, never a lone surrogate):
    // 1..4-byte UTF-8, incl. a surrogate-pair emoji
    val alphabet = Seq("a", "b", "z", "0", "1", "9", " ", "_", "<", ">",
      "&", ";", "Ä", "ö", "Ω", "中", "é", "😀")
    val rows: Seq[(Long, String)] = Seq.tabulate(60) { i =>
      (i.toLong, Seq.fill(rnd.nextInt(30))(
        alphabet(rnd.nextInt(alphabet.length))).mkString)
    } ++ Seq((100L, ""), (101L, "fast"), (102L, "a中b"), (103L, "😀x"))
    val df = spark.createDataset(rows).toDF("id", "s")
    val got = df.select($"id", call_function("bracket_chars", $"s").as("r"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = df.select($"id", regexp_replace($"s", "(.)", "<$1>").as("r"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach { case (id, s) => assert(got(id) == want(id), s"row $id: '$s'") }
  }

  test("quality_char_stats == (size(split), length, length(regexp_replace '[^0-9]')) " +
      "(random, incl. multi-byte codepoints and space edges)") {
    import spark.implicits._
    val rnd = new scala.util.Random(59)
    // the q42 domain plus adversarial shapes: digits, multi-byte
    // codepoints (whose continuation bytes must count as neither chars
    // nor digits), leading/trailing/consecutive spaces (empty tokens
    // KEPT by split's -1 limit), and the empty document
    val alphabet = Seq("a", "b", "z", "0", "5", "9", " ", " ", "_", ".",
      "Ä", "Ω", "中", "é", "😀", "٣") // U+0663 ARABIC-INDIC THREE: not [0-9]
    val rows: Seq[(Long, String)] = Seq.tabulate(80) { i =>
      (i.toLong, Seq.fill(rnd.nextInt(40))(
        alphabet(rnd.nextInt(alphabet.length))).mkString)
    } ++ Seq((100L, ""), (101L, " "), (102L, "  a  1  "), (103L, "42"),
      (104L, "a中3b"), (105L, "😀7x"))
    val df = spark.createDataset(rows).toDF("id", "s")
    val got = df.select($"id", call_function("quality_char_stats", $"s").as("st"))
      .select($"id", $"st.n_tok", $"st.n_chars", $"st.n_digits")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val want = df.select($"id",
        size(split($"s", " ")).cast("long").as("n_tok"),
        length($"s").cast("long").as("n_chars"),
        length(regexp_replace($"s", "[^0-9]", "")).cast("long").as("n_digits"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    rows.foreach { case (id, s) => assert(got(id) == want(id), s"row $id: '$s'") }
  }

  test("adc_lookup == element_at(filter(tab, cid = code), 1).d2, incl. missing -> null") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val rows: Seq[(Long, Seq[(Int, Long)], Int)] = Seq.tabulate(40) { i =>
      val tab = Seq.tabulate(8)(cid => (cid, rnd.nextInt(1000).toLong))
      // half the probes miss the table entirely
      (i.toLong, tab, if (i % 2 == 0) rnd.nextInt(8) else 8 + rnd.nextInt(4))
    }
    val df = spark.createDataset(rows).toDF("id", "tab0", "code")
      .select(col("id"), col("code"),
        expr("transform(tab0, p -> struct(p._1 AS cid, p._2 AS d2))").as("tab"))
    val got = df.select(col("id"),
        graft.functions.VectorOps.adcLookup(col("tab"), col("code")).as("d2"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    // reference only over HIT rows: the replaced element_at(filter(...))
    // form THROWS on a miss under Spark 4 ANSI element_at — a miss is
    // impossible in the queries (codes come from the same codebook);
    // the native form returns NULL there instead, pinned below.
    val hitDf = df.filter(col("code") < 8)
    val ref = hitDf.select(col("id"),
        element_at(filter(col("tab"), x => x.getField("cid") === col("code")), 1)
          .getField("d2").as("d2"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    ref.foreach { case (id, want) => assert(got(id) == want, s"row $id") }
    assert(rows.filter(_._3 >= 8).forall(r => got(r._1).isEmpty))
  }

  test("asof_pick: binary search == linear reference, codegen == eval, edges null") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, LongType, DoubleType}
    val rnd = new scala.util.Random(11)
    val timeline = (1 to 50).map(_ => rnd.nextInt(1000).toLong).distinct.sorted
    val vals = timeline.map(t => t * 1.5)
    val probes = (-5L to 1005L by 7L).toSeq
    def reference(t: Long): Option[Double] = {
      val i = timeline.lastIndexWhere(_ <= t)
      if (i < 0) None else Some(vals(i))
    }
    // column (codegen) path
    val df = probes.toDF("t").select($"t",
      org.apache.spark.sql.functions.call_function("asof_pick",
        typedLit(timeline), typedLit(vals), $"t").as("v"))
    val got = df.collect().map(r =>
      (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1))))
    got.foreach { case (t, v) => assert(v == reference(t), s"probe $t") }
    // interpreted eval must agree
    val tsLit = Literal(new GenericArrayData(timeline.toArray),
      ArrayType(LongType, containsNull = false))
    val vsLit = Literal(new GenericArrayData(vals.toArray),
      ArrayType(DoubleType, containsNull = false))
    probes.foreach { t =>
      val r = graft.functions.AsOfPick(tsLit, vsLit, Literal(t)).eval(null)
      assert(Option(r).map(_.asInstanceOf[Double]) == reference(t))
    }
    // null VALUE element: matching it must yield null under codegen too
    // (the packed reference side may carry null value columns)
    val nullable = Seq((5L, Some(1.0)), (10L, None), (20L, Some(3.0)))
    val nv = Seq(4L, 5L, 10L, 15L, 20L, 25L).toDF("t").select($"t",
      org.apache.spark.sql.functions.call_function("asof_pick",
        typedLit(nullable.map(_._1)),
        typedLit(nullable.map(_._2)), $"t").as("v")).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1))))
    assert(nv.toSeq == Seq(4L -> None, 5L -> Some(1.0), 10L -> None,
      15L -> None, 20L -> Some(3.0), 25L -> Some(3.0)))
  }

  test("asof_neighbors: both-direction binary search == linear reference; " +
      "codegen == eval; edges and null-value elements null") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType}
    val rnd = new scala.util.Random(23)
    val timeline = (1 to 50).map(_ => rnd.nextInt(1000).toLong).distinct.sorted
    val vals = timeline.map(t => t * 2.5)
    val probes = (-5L to 1005L by 7L).toSeq ++ timeline.take(5) // exact hits too
    def ref(t: Long): (Option[Long], Option[Double], Option[Long], Option[Double]) = {
      val i = timeline.lastIndexWhere(_ <= t) // backward: ties to the probe
      val j = timeline.indexWhere(_ > t)      // forward: strictly after
      (if (i < 0) None else Some(timeline(i)),
        if (i < 0) None else Some(vals(i)),
        if (j < 0) None else Some(timeline(j)),
        if (j < 0) None else Some(vals(j)))
    }
    val got = probes.toDF("t").select($"t",
        call_function("asof_neighbors",
          typedLit(timeline), typedLit(vals), $"t").as("nb"))
      .select($"t", $"nb.t0", $"nb.v0", $"nb.t1", $"nb.v1").collect()
      .map(r => r.getLong(0) -> ((
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        if (r.isNullAt(4)) None else Some(r.getDouble(4))))).toMap
    probes.foreach(t => assert(got(t) == ref(t), s"probe $t"))
    // interpreted eval must agree with the codegen'd column path
    val tsLit = Literal(new GenericArrayData(timeline.toArray),
      ArrayType(LongType, containsNull = false))
    val vsLit = Literal(new GenericArrayData(vals.toArray),
      ArrayType(DoubleType, containsNull = false))
    probes.foreach { t =>
      val r = graft.functions.AsOfNeighbors(tsLit, vsLit, Literal(t)).eval(null)
        .asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
      val g = (if (r.isNullAt(0)) None else Some(r.getLong(0)),
        if (r.isNullAt(1)) None else Some(r.getDouble(1)),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))
      assert(g == ref(t), s"eval probe $t")
    }
    // empty timeline -> all-null struct fields; null VALUE element keeps
    // its timestamp but nulls the value (the caller's (t, v) pairing)
    val edge = Seq(3L).toDF("t").select(
        call_function("asof_neighbors",
          typedLit(Seq.empty[Long]), typedLit(Seq.empty[Double]), $"t").as("e"),
        call_function("asof_neighbors",
          typedLit(Seq(1L, 5L)), typedLit(Seq(Some(9.0), Option.empty[Double])),
          $"t").as("n"))
      .select($"e.t0", $"e.t1", $"n.t0", $"n.v0", $"n.t1", $"n.v1").head()
    assert(edge.isNullAt(0) && edge.isNullAt(1))
    assert(edge.getLong(2) == 1L && edge.getDouble(3) == 9.0)
    assert(edge.getLong(4) == 5L && edge.isNullAt(5))
  }

  test("letter_runs == regexp_extract_all(s, '[a-z]+', 0) (random, incl. unicode)") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val alphabet = "abz019 _,.<>&;ÄöΩ中éß"
    val rows: Seq[(Long, String)] = Seq.tabulate(60) { i =>
      (i.toLong, Seq.fill(rnd.nextInt(40))(
        alphabet(rnd.nextInt(alphabet.length))).mkString)
    } ++ Seq((100L, ""), (101L, "abc"), (102L, "ABC"), (103L, "a中b"))
    val df = spark.createDataset(rows).toDF("id", "s")
    val got = df.select($"id", call_function("letter_runs", $"s").as("r"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
    val want = df.select($"id",
        expr("regexp_extract_all(s, '[a-z]+', 0)").as("r"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
    rows.foreach { case (id, s) => assert(got(id) == want(id), s"row $id: '$s'") }
  }

  test("strip_markup == the regex strip + staged entity decode it replaced " +
      "(adversarial: unclosed tags, nested '<', entities spanning everything)") {
    import spark.implicits._
    val rnd = new scala.util.Random(47)
    val frags = Seq("<", ">", "&", "amp;", "lt;", "gt;", "&amp;", "&lt;", "&gt;",
      "<p>", "</p>", "<br/>", "a", "xy", " ", "&amp;lt;", "<a<b>", "&&gt;", "中")
    val rows: Seq[(Long, String)] = Seq.tabulate(80) { i =>
      (i.toLong, Seq.fill(rnd.nextInt(20))(frags(rnd.nextInt(frags.length))).mkString)
    } ++ Seq((200L, ""), (201L, "<never closed"), (202L, "no markup at all"),
      (203L, "<>"), (204L, "&am&gt;p;"), (205L, "a>b<c"))
    val df = spark.createDataset(rows).toDF("id", "w")
    val got = df.select($"id", call_function("strip_markup", $"w").as("sm"))
      .select($"id", $"sm.s", $"sm.n_tags").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    val want = df.select($"id",
        expr("""replace(replace(replace(regexp_replace(w, '<[^>]*>', ''),
                |  '&gt;', '>'), '&lt;', '<'), '&amp;', '&')""".stripMargin).as("s"),
        size(regexp_extract_all($"w", lit("<[^>]*>"), lit(0))).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    rows.foreach { case (id, w) => assert(got(id) == want(id), s"row $id: '$w'") }
  }

  test("minhash_mins: one-pass minima == 16 independent array_min passes") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val P = graft.functions.PortableHash.P
    val a = (0 until 16).map(j => (2654435761L * (2 * j + 1)) % P)
    val b = (0 until 16).map(j => (2654435789L * (j + 7) + 40503L * j) % P)
    val rows = List.tabulate(200)(i =>
      (i.toLong, List.fill(rnd.nextInt(30) + 1)(rnd.nextLong(P).abs)))
    val df = spark.createDataset(rows).toDF("id", "hs")
    val fused = df.select($"id",
      org.apache.spark.sql.functions.call_function("minhash_mins",
        $"hs", typedLit(Seq(a, b))).as("mins")).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1)))
    val naive = rows.map { case (id, hs) =>
      (id, (0 until 16).map(j => hs.map(h => (h * a(j) + b(j)) % P).min))
    }
    assert(fused.toSeq.map { case (id, m) => (id, m.toSeq) } ==
      naive.map { case (id, m) => (id, m.toSeq) })
    // empty hashes -> null signature
    val empty = Seq((1L, Seq.empty[Long])).toDF("id", "hs")
      .select(org.apache.spark.sql.functions.call_function("minhash_mins",
        $"hs", typedLit(Seq(a, b))))
      .collect()
    assert(empty.head.isNullAt(0))
  }

  test("zorder_key: interleave roundtrips, orders curve-contiguously, codegen == eval") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val pts = List.tabulate(300)(i =>
      (i.toLong, rnd.nextInt(1 << 16).toLong, rnd.nextInt(1 << 16).toLong))
    val df = spark.createDataset(pts).toDF("id", "a", "b")
    val keyed = df.select($"id", $"a", $"b",
      graft.functions.ZOrderOps.zOrderKey($"a", $"b").as("z")).collect()
    def deinterleave(z: Long, j: Int, n: Int): Long = {
      var v = 0L
      var i = 0
      while (i < 63 / n) { v |= ((z >> (i * n + j)) & 1L) << i; i += 1 }
      v
    }
    // whole-stage-codegen'd evaluation must invert exactly (also proves
    // doGenCode agrees with the arithmetic the test re-implements)
    keyed.foreach { r =>
      assert(deinterleave(r.getLong(3), 0, 2) == r.getLong(1))
      assert(deinterleave(r.getLong(3), 1, 2) == r.getLong(2))
    }
    // and interpreted eval (no codegen) must agree with codegen
    val interp = keyed.map(r => (r.getLong(1), r.getLong(2))).map { case (a, b) =>
      graft.functions.ZOrderKey(Seq(
        org.apache.spark.sql.catalyst.expressions.Literal(a),
        org.apache.spark.sql.catalyst.expressions.Literal(b))).eval(null)
    }
    assert(interp.toSeq == keyed.map(_.getLong(3)).toSeq)
    // null in → null out
    val z = df.select(graft.functions.ZOrderOps.zOrderKey(
      when($"id" < 0, $"a"), $"b").as("z")).collect()
    assert(z.forall(_.isNullAt(0)))

    // non-nullable inputs take the isNull == FalseLiteral contract path:
    // generate the projection DIRECTLY (no interpreted fallback hides a
    // Janino failure) — an undeclared isNull variable fails compilation
    // right here
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.LongType
    val nonNull = graft.functions.ZOrderKey(Seq(
      BoundReference(0, LongType, nullable = false),
      BoundReference(1, LongType, nullable = false)))
    assert(!nonNull.nullable)
    val proj = org.apache.spark.sql.catalyst.expressions.codegen
      .GenerateMutableProjection.generate(Seq(nonNull))
    val row = InternalRow(5L, 9L)
    assert(proj(row).getLong(0) == nonNull.eval(row).asInstanceOf[Long])
  }

  test("asOfBroadcast: null reference timestamps never enter the packed timeline") {
    import spark.implicits._
    import graft.operators.AsOfJoin
    // a NULL-ts quote row (value 99.0) must be dropped, not read as ts=0
    val quotes = Seq((1L, Option(1000L), 10.0), (1L, Option.empty[Long], 99.0),
      (1L, Option(3000L), 30.0)).toDF("user_id", "ts", "quote")
    val trades = Seq((1L, 500L), (1L, 1500L), (1L, 3500L)).toDF("user_id", "ts")
    val out = AsOfJoin.asOfBroadcast(trades, quotes, Seq("user_id"), "ts", "ts", "quote")
      .orderBy($"ts").collect()
    assert(out(0).isNullAt(out(0).fieldIndex("quote"))) // before first REAL ts
    assert(out(1).getDouble(out(1).fieldIndex("quote")) == 10.0)
    assert(out(2).getDouble(out(2).fieldIndex("quote")) == 30.0)
  }

  test("KmvSketch: any reduce/merge tree == brute-force min-k; estimate sane") {
    import graft.functions.TypedAggs.{KmvBuf, KmvSketch => KS}
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 20) {
      // even trials: small domain (duplicate-heavy — dedup coverage);
      // odd trials: the real uniform [0, P) domain (estimator validity)
      val domain = if (trial % 2 == 0) 1 << 10 else Int.MaxValue
      val n = 1 + rnd.nextInt(300)
      val hs = List.fill(n)(rnd.nextInt(domain).toLong)
      // arbitrary partitioning into partial buffers, arbitrary merge order
      val parts = {
        val k = 1 + rnd.nextInt(6)
        val grouped = hs.grouped(math.max(1, hs.size / k)).toList
        grouped.map(g => g.foldLeft(KS.zero)(KS.reduce))
      }
      val merged = rnd.shuffle(parts).reduce(KS.merge)
      val want = hs.distinct.sorted.take(KS.K)
      assert(merged.hs.toList == want, s"trial $trial")
      // estimate: exact below K; a loose ±50% sanity bound above K when
      // the domain matches the estimator's uniform-[0,P) assumption —
      // k=64 has ~13% relative std error, so tail trials can wander
      // (the gate's real accuracy proof is q59/q78/q83 vs n_exact)
      val est = KS.finish(merged)
      val exact = hs.distinct.size
      if (exact < KS.K) assert(est == exact.toDouble)
      else if (domain == Int.MaxValue)
        assert(math.abs(est / exact - 1.0) < 0.5, s"est $est exact $exact")
    }
    // degenerate cases
    assert(KS.finish(KS.zero) == 0.0)
    assert(KS.merge(KS.zero, KS.zero).hs.isEmpty)
    val one = KS.reduce(KS.zero, 42L)
    assert(KS.merge(one, one).hs.toList == List(42L)) // idempotent union
  }

  test("replaySeq is invariant under input permutation") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    for (_ <- 1 to 6) {
      val es = genEvents(rnd)
      if (es.nonEmpty) {
        def seqOf(xs: List[Ev]) =
          graft.core.Events.replaySeq(
              spark.createDataset(xs).toDF("k", "ts", "event_id", "v"),
              ts = "ts", tieBreak = "event_id")
            .select("seq", "event_id").collect()
            .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
        assert(seqOf(es) == seqOf(rnd.shuffle(es)))
      }
    }
  }
}
