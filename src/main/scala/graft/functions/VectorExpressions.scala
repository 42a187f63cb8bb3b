package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType, LongType}

/** Static kernels for the vector/similarity hot path (the
  * `quantized_dot`, `dot_long`, `quantized_dot_long` and `adc_lookup`
  * rows of [[Natives.table]]).
  *
  * Spark's array higher-order functions (`zip_with`, `aggregate`) evaluate
  * their lambdas interpreted (CodegenFallback) — fine for the general
  * case, but the ANN inner loop (SURVEY §2.3 LLM extension) is exactly
  * the place the build brief's preference ladder says to drop to a
  * native kernel: per-pair cost becomes one tight JIT'd long loop, no
  * per-element boxing, no lambda dispatch.
  *
  * Semantics — quantized dot product (must stay bit-identical to the
  * DuckDB oracle):   Σᵢ  trunc(xᵢ·1e7) · trunc(yᵢ·1e7)   over int64.
  * Truncation-toward-zero is the one rounding every engine agrees on:
  * Java `(long)`, Spark `CAST(double AS LONG)`, DuckDB
  * `CAST(trunc(x) AS BIGINT)`. Sums are exact (64 dims × (3e7)² ≈ 6e16
  * < 2⁶³), hence order-free and shuffle-safe.
  *
  * Array elements must be non-null (embedding fixtures are); array
  * lengths may differ — the shorter prefix is used.
  */
object VectorUtil {

  /** `quantized_dot(x, y)` = Σᵢ trunc(xᵢ·1e7) · trunc(yᵢ·1e7). */
  def quantized_dot(x: ArrayData, y: ArrayData): Long = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    while (i < n) {
      s += (x.getFloat(i).toDouble * 1.0e7).toLong * (y.getFloat(i).toDouble * 1.0e7).toLong
      i += 1
    }
    s
  }

  /** `dot_long(x, y)` = Σᵢ xᵢ·yᵢ over two int64 arrays (shorter prefix) —
    * the long-domain sibling of [[quantized_dot]]. Replaces the
    * interpreted `aggregate(zip_with(a, b, _*_), 0, _+_)` pattern in the
    * k-means assignment, SQ8 ADC and IVF-refine hot loops: the HOF form
    * allocates an intermediate array and dispatches its lambda
    * interpreted PER ROW; this is one tight JIT'd loop. Elements must be
    * non-null (quantized vectors are by construction).
    *
    * DIVERGENCE from the replaced HOF on unequal lengths (r11, ADVICE
    * r10): `zip_with` null-pads the shorter array, so the HOF chain
    * returns NULL on a length mismatch; this returns the shorter-prefix
    * dot product instead. Every engine call site feeds equal-length
    * arrays by construction (embeddings and centroids share one
    * dimension), where the two forms are bit-equal — the PropertySpec
    * parity test pins exactly that min-prefix rule, not a general
    * equivalence. A caller that cannot guarantee equal lengths must
    * check them, not rely on a NULL. */
  def dot_long(x: ArrayData, y: ArrayData): Long = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    while (i < n) { s += x.getLong(i) * y.getLong(i); i += 1 }
    s
  }

  /** `quantized_dot_long(x, y)` = Σᵢ trunc(xᵢ·1e7)·yᵢ — [[quantized_dot]]'s
    * left side against an ALREADY-integer right side (centroid component
    * arrays, IVF refine): one JIT'd loop instead of the interpreted
    * `aggregate(zip_with(emb, c_arr, CAST(x·1e7 AS LONG) * c))` per row.
    * Same [[VectorOps.QScale]] truncate-toward-zero contract. */
  def quantized_dot_long(x: ArrayData, y: ArrayData): Long = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    while (i < n) {
      s += (x.getFloat(i).toDouble * 1.0e7).toLong * y.getLong(i)
      i += 1
    }
    s
  }

  /** `adc_lookup(tab, code)`: the d2 of the FIRST entry of `tab`
    * (array<struct<cid int, d2 bigint>>) whose cid equals `code`; NULL if
    * absent — bit-identical to the previous interpreted
    * `element_at(filter(tab, x -> x.cid = code), 1).d2` per candidate row,
    * without the filtered-array allocation and lambda dispatch. */
  def adc_lookup(tab: ArrayData, code: Int): java.lang.Long = {
    var i = 0
    while (i < tab.numElements()) {
      if (!tab.isNullAt(i)) {
        val s = tab.getStruct(i, 2)
        if (!s.isNullAt(0) && s.getInt(0) == code)
          return if (s.isNullAt(1)) null else s.getLong(1)
      }
      i += 1
    }
    null
  }
}

/** Random-hyperplane LSH bucketing in one codegen'd pass: bit j of the
  * result is set iff  Σᵢ trunc(xᵢ·1e7) · wⱼᵢ > 0  (int64-exact, same
  * quantization contract as [[VectorUtil.quantized_dot]], bit-identical
  * to the DuckDB oracle's plane join). Replaces the previous 8 interpreted
  * `aggregate(zip_with(...))` passes per row — those allocate an
  * intermediate array per plane per row and dispatch the lambda
  * interpreted; this is one tight JIT'd nested loop over the row.
  *
  * `planes` must be a foldable `array<array<bigint>>` (the hyperplane
  * weights, one inner array per bit) — weights are extracted once at
  * codegen/first-eval time, never per row.
  */
case class LshPlaneBits(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "lsh_plane_bits"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(ArrayType(LongType, _), _)) =>
        if (!right.foldable)
          TypeCheckResult.TypeCheckFailure("lsh_plane_bits planes must be foldable (a literal)")
        else if (right.eval() == null) // guard BEFORE forcing `planes`: a
          // foldable NULL (CAST(NULL AS ARRAY<ARRAY<BIGINT>>)) must fail
          // analysis cleanly, not NPE in the lazy val
          TypeCheckResult.TypeCheckFailure("lsh_plane_bits planes must be a non-null literal")
        else {
          val arr = right.eval().asInstanceOf[ArrayData]
          if (arr.numElements() > 63)
            TypeCheckResult.TypeCheckFailure(s"at most 63 planes, got ${arr.numElements()}")
          else if ((0 until arr.numElements()).exists(arr.isNullAt))
            TypeCheckResult.TypeCheckFailure("lsh_plane_bits plane rows must be non-null")
          else TypeCheckResult.TypeCheckSuccess
        }
      case _ => TypeCheckResult.TypeCheckFailure(
        s"lsh_plane_bits requires (array<float>, array<array<bigint>>), got " +
          s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")
    }

  /** Plane weights, materialized once from the foldable literal. */
  @transient private lazy val planes: Array[Array[Long]] = {
    val arr = right.eval().asInstanceOf[ArrayData]
    Array.tabulate(arr.numElements()) { j =>
      arr.getArray(j).toLongArray()
    }
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    var bucket = 0L
    var j = 0
    while (j < planes.length) {
      val w = planes(j)
      val n = math.min(x.numElements(), w.length)
      var s = 0L
      var i = 0
      while (i < n) {
        s += (x.getFloat(i).toDouble * 1.0e7).toLong * w(i)
        i += 1
      }
      if (s > 0) bucket |= 1L << j
      j += 1
    }
    bucket
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("planes", planes, "long[][]")
    nullSafeCodeGen(ctx, ev, (a, _) => {
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val w = ctx.freshName("w")
      val bucket = ctx.freshName("bucket")
      s"""
         |long $bucket = 0L;
         |for (int $j = 0; $j < $planesRef.length; $j++) {
         |  long[] $w = $planesRef[$j];
         |  int $n = java.lang.Math.min($a.numElements(), $w.length);
         |  long $s = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $s += (long) (((double) $a.getFloat($i)) * 1.0E7) * $w[$i];
         |  }
         |  if ($s > 0) $bucket |= (1L << $j);
         |}
         |${ev.value} = $bucket;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): LshPlaneBits =
    copy(left = newLeft, right = newRight)
}

/** PQ encode, ALL subspaces in one codegen'd pass: element s of the
  * result is  argmin_cid Σ_{j<width} (r[s·width+j] − cw[cid][s·width+j])²
  * with ties to the LOWER cid — bit-identical to the previous
  * per-subspace `array_min(array(struct(aggregate(zip_with(slice(...` chain,
  * which evaluated its lambdas interpreted and allocated two scratch
  * arrays per (row, subspace, codeword). The codebook must be a foldable
  * `array<array<bigint>>` of FULL-dimension rows (one per codeword, cid =
  * row position), extracted once at codegen time — never per row.
  * Subspace count = len(r) / width (require len(r) a multiple of width —
  * encode inputs are fixed-dimension residuals by construction). */
case class PqCodes(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_codes"

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(LongType, _), ArrayType(ArrayType(LongType, _), _), IntegerType) =>
        if (!second.foldable || !third.foldable)
          TypeCheckResult.TypeCheckFailure(
            "pq_codes codebook and width must be foldable (literals)")
        else if (second.eval() == null || third.eval() == null)
          TypeCheckResult.TypeCheckFailure("pq_codes codebook/width must be non-null")
        else {
          val arr = second.eval().asInstanceOf[ArrayData]
          if (arr.numElements() == 0)
            TypeCheckResult.TypeCheckFailure("pq_codes codebook must be non-empty")
          else if ((0 until arr.numElements()).exists(arr.isNullAt))
            TypeCheckResult.TypeCheckFailure("pq_codes codebook rows must be non-null")
          else if (third.eval().asInstanceOf[Int] <= 0)
            TypeCheckResult.TypeCheckFailure("pq_codes width must be positive")
          else {
            // encode() indexes every row at the INPUT vector's offsets:
            // ragged rows would ArrayIndexOutOfBounds deep in an
            // executor (ADVICE r10) — reject them at analysis time
            val lens = (0 until arr.numElements())
              .map(k => arr.getArray(k).numElements()).distinct
            if (lens.size != 1)
              TypeCheckResult.TypeCheckFailure(
                s"pq_codes codebook rows must all have equal length, got " +
                  s"lengths ${lens.sorted.mkString(", ")}")
            else TypeCheckResult.TypeCheckSuccess
          }
        }
      case _ => TypeCheckResult.TypeCheckFailure(
        s"pq_codes requires (array<bigint>, array<array<bigint>>, int), got " +
          s"(${first.dataType.catalogString}, ${second.dataType.catalogString}, " +
          s"${third.dataType.catalogString})")
    }

  /** Codebook rows, materialized once from the foldable literal. */
  @transient private lazy val cw: Array[Array[Long]] = {
    val arr = second.eval().asInstanceOf[ArrayData]
    Array.tabulate(arr.numElements())(k => arr.getArray(k).toLongArray())
  }
  @transient private lazy val width: Int = third.eval().asInstanceOf[Int]

  private def encode(r: ArrayData): UnsafeArrayData = {
    val n = r.numElements()
    require(n % width == 0,
      s"pq_codes input length $n is not a multiple of subspace width $width")
    require(cw.length == 0 || n <= cw(0).length,
      s"pq_codes input length $n exceeds codebook row length ${cw(0).length}")
    val m = n / width
    val out = new Array[Int](m)
    var s = 0
    while (s < m) {
      val off = s * width
      var bestCid = 0
      var bestD2 = Long.MaxValue
      var cid = 0
      while (cid < cw.length) {
        val row = cw(cid)
        var d2 = 0L
        var j = 0
        while (j < width) {
          val d = r.getLong(off + j) - row(off + j)
          d2 += d * d
          j += 1
        }
        if (d2 < bestD2) { bestD2 = d2; bestCid = cid }
        cid += 1
      }
      out(s) = bestCid
      s += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def nullSafeEval(a: Any, b: Any, c: Any): Any =
    encode(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("pqCodes", this, classOf[PqCodes].getName)
    nullSafeCodeGen(ctx, ev, (a, _, _) => {
      s"${ev.value} = (org.apache.spark.sql.catalyst.expressions.UnsafeArrayData) " +
        s"$self.encodeForCodegen($a);"
    })
  }

  /** Codegen entry point (public so generated code can call it — the
    * per-row loop is already tight JVM code here; inlining it as source
    * would only duplicate the logic). */
  def encodeForCodegen(r: ArrayData): UnsafeArrayData = encode(r)

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): PqCodes =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** Column-API surface for the native expressions. The function is
  * registered by [[graft.GraftExtensions]] (`spark.sql.extensions`), so
  * the public `call_function` resolves it — no private Catalyst APIs on
  * the caller path, and `spark.sql("... quantized_dot(a,b) ...")` works
  * for SQL users too. */
object VectorOps {
  /** THE quantization contract: components scale by 1e7 and truncate
    * toward zero to int64 — the one rounding Java `(long)`, Spark
    * `CAST AS LONG` and DuckDB `trunc()::BIGINT` agree on. Every
    * consumer (VectorUtil, LlmQueries oracles, KMeans) must share
    * this constant or hash-gate parity silently breaks. */
  val QScale = 1.0e7

  /** Column-level quantization under the [[QScale]] contract. */
  def quant(x: Column): Column =
    (x.cast("double") * QScale).cast("long")

  /** Σ trunc(xᵢ·1e7)·trunc(yᵢ·1e7) as int64 — exact, order-free. */
  def dotQ(a: Column, b: Column): Column = call_function("quantized_dot", a, b)

  /** Σ trunc(xᵢ·1e7)² as int64. */
  def sqNormQ(a: Column): Column = dotQ(a, a)

  /** Random-hyperplane sign-bit bucket; `planes` = weight rows (≤ 63). */
  def lshBucket(emb: Column, planes: Seq[Seq[Long]]): Column =
    call_function("lsh_plane_bits", emb,
      org.apache.spark.sql.functions.typedLit(planes))

  /** Σ aᵢ·bᵢ over int64 arrays — exact, order-free (shorter prefix). */
  def dotLong(a: Column, b: Column): Column = call_function("dot_long", a, b)

  /** Σ trunc(xᵢ·1e7)·bᵢ — float left quantized under [[QScale]],
    * int64 right used as-is. */
  def quantizedDotLong(a: Column, b: Column): Column =
    call_function("quantized_dot_long", a, b)

  /** PQ codes for ALL subspaces of `r` in one pass; `cw` = full-width
    * codebook rows (cid = position), `width` = subspace width. */
  def pqCodes(r: Column, cw: Seq[Seq[Long]], width: Int): Column =
    call_function("pq_codes", r,
      org.apache.spark.sql.functions.typedLit(cw),
      org.apache.spark.sql.functions.lit(width))

  /** d2 of the `tab` entry whose cid equals `code`; NULL if absent. */
  def adcLookup(tab: Column, code: Column): Column =
    call_function("adc_lookup", tab, code)
}
