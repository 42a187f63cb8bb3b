package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DateType, Decimal, DecimalType, NumericType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

/** Distributed global prefix operators — the 100 TB form of a total-order
  * scan (the reference's single-threaded scheduler order,
  * processor.py:64-100, re-expressed without a single-task sort).
  *
  * A plain `Window.orderBy(ts)` with no partition key collapses the whole
  * dataset into ONE task (Spark warns `WindowExec: No Partition Defined`).
  * These operators compute the same totals distributed, via an explicit
  * shared slicing:
  *
  *  1. **Slice boundaries are computed ONCE** — a seeded per-partition
  *     reservoir sample of the order key (one single-stage narrow scan;
  *     the exact discipline of Spark's own `RangePartitioner
  *     .sketch/determineBounds`, ~20 samples per slice weighted by
  *     partition row count) — and folded into every consumer as a
  *     LITERAL array. Each row's slice id is `#boundaries below its
  *     key`: monotone in the key, so each slice holds a contiguous range
  *     of the global (ts, tie) order by construction, and every pass sees
  *     the identical slicing because they share one literal. (The
  *     previous `repartitionByRange`-per-branch form relied on
  *     independent range exchanges sampling the same boundaries —
  *     exchange reuse was defeated by per-branch column pruning, so each
  *     branch re-scanned, re-sampled, and re-shuffled the full data, and
  *     correctness hinged on the samplers agreeing.)
  *  2. A **per-slice summary** (count / total / last value — ONE row per
  *     slice regardless of data size) is computed map-side in a second
  *     single-stage narrow scan (per-partition arrays merged in an RDD
  *     reduce — no shuffle, no adaptive re-planning; O(#slices) values on
  *     the driver, the same cost shape as `RDD.zipWithIndex`'s
  *     count-collect). The exclusive prefix-combine over it is a Scala
  *     fold, re-entering the plan as a literal array indexed by slice
  *     id — no broadcast join, no extra stage.
  *  3. The main pass shuffles the data ONCE (hash on the slice id), a
  *     window per slice computes the LOCAL prefix in parallel, and the
  *     literal offset lookup turns local prefixes into global ones.
  *
  * Cost: two single-stage narrow scans + one full scan + ONE full-data
  * shuffle. All phases scale linearly with executors; boundary skew
  * matches what a range sort would see (equal keys always share a slice).
  * Slice assignment is the codegen'd binary-search
  * [[graft.functions.SliceId]] — O(log #slices) per row, so the tag
  * stays negligible at the thousands of shuffle partitions a
  * 1000-executor cluster runs.
  *
  * (ts, tie) must be a unique composite key (the engine's standard
  * delivery order — SURVEY §1.3); null ordering keys are not expected.
  * Summary values must be literal-expressible types (numeric, decimal,
  * string, timestamp — the engine's payload surface).
  */
object Prefix {

  private val PID = "__graft_pid"

  /** The order key as a double for boundary math: timestamps via
    * unix_micros (exact in a double through year ~2255), dates via
    * unix_date, numerics by cast. Other types fail fast — a silent cast
    * (strings → lexically-inconsistent doubles or all-null) would break
    * slice contiguity and return wrong prefixes with no error. */
  private def sliceKey(df: DataFrame, ts: String): Column =
    df.schema(ts).dataType match {
      case TimestampType  => unix_micros(col(ts)).cast("double")
      case DateType       => unix_date(col(ts)).cast("double")
      case _: NumericType => col(ts).cast("double")
      case other => throw new IllegalArgumentException(
        s"Prefix order key '$ts' must be timestamp, date, or numeric (got " +
          s"$other): slicing needs an order-preserving numeric key")
    }

  /** Slice boundaries from one single-stage sample job: per input
    * partition a seeded reservoir (+ row count), merged on the driver into
    * weighted quantiles — `RangePartitioner.sketch/determineBounds`
    * re-done at the SQL layer so the boundaries can be shared as a
    * literal. Deterministic given the input layout (seed = partition id);
    * any boundary placement is CORRECT (the combine only needs slice
    * contiguity), sampling only balances slice sizes. */
  private def sampleBounds(df: DataFrame, key: Column, n: Int): Array[Double] = {
    if (n <= 1) return Array.empty
    val rdd = df.select(key.cast("double").as("__k")).queryExecution.toRdd
    val perPart = math.max(8, math.min(1024,
      math.ceil(20.0 * n / math.max(1, rdd.getNumPartitions)).toInt))
    val sketched = rdd.mapPartitionsWithIndex { (part, it) =>
      val rnd = new java.util.Random(0x9E3779B97F4A7C15L ^ part)
      val res = new Array[Double](perPart)
      var seen = 0L
      while (it.hasNext) {
        val r = it.next()
        if (!r.isNullAt(0)) {
          val v = r.getDouble(0)
          if (seen < perPart) res(seen.toInt) = v
          else {
            val j = (rnd.nextDouble() * (seen + 1)).toLong
            if (j < perPart) res(j.toInt) = v
          }
          seen += 1
        }
      }
      if (seen == 0) Iterator.empty
      else Iterator.single((seen, res.take(math.min(seen, perPart.toLong).toInt)))
    }.collect()
    val total = sketched.map(_._1).sum.toDouble
    if (total == 0) return Array.empty
    // weighted quantiles over the merged sample (weight = rows represented
    // per kept sample), boundary every total/n rows
    val weighted = sketched.flatMap { case (cnt, sample) =>
      val w = cnt.toDouble / sample.length
      sample.map(v => (v, w))
    }.sortBy(_._1)
    val step = total / n
    val bounds = scala.collection.mutable.ArrayBuffer.empty[Double]
    var cum = 0.0
    var target = step
    for ((v, w) <- weighted) {
      cum += w
      if (cum >= target && (bounds.isEmpty || v > bounds.last)) {
        bounds += v
        target += step
      }
    }
    bounds.toArray
  }

  /** df tagged with its slice id (+ the slice count), from boundaries
    * computed once — deterministic, shared by construction. The tag is
    * the codegen'd binary-search [[graft.functions.SliceId]], O(log
    * #slices) per row, registered by [[graft.GraftExtensions]]: a session
    * without the extension fails at analysis naming `slice_id`. Null
    * keys land in slice 0. */
  private def sliced(df: DataFrame, ts: String): (DataFrame, Int) = {
    val n = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val key = sliceKey(df, ts)
    val bounds = sampleBounds(df, key, n)
    val slice =
      if (bounds.isEmpty) lit(0)
      else coalesce(call_function("slice_id", key, typedlit(bounds.toSeq)), lit(0))
    (df.withColumn(PID, slice), bounds.length + 1)
  }

  private def localW(ts: String, tie: String) =
    Window.partitionBy(col(PID)).orderBy(col(ts), col(tie))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

  /** Per-slice row counts in ONE single-stage job: a per-partition long
    * array merged by RDD reduce — no shuffle, no adaptive re-planning. */
  private def sliceCounts(s: DataFrame, nSlices: Int): Array[Long] = {
    val rdd = s.select(col(PID)).queryExecution.toRdd
    rdd.mapPartitions { it =>
      val a = new Array[Long](nSlices)
      while (it.hasNext) a(it.next().getInt(0)) += 1
      Iterator.single(a)
    }.fold(new Array[Long](nSlices)) { (x, y) =>
      var i = 0; while (i < nSlices) { x(i) += y(i); i += 1 }; x
    }
  }

  /** Internal-row value → external summary value (the engine's payload
    * surface: numeric, decimal, string, timestamp, date). Summary scans
    * read `queryExecution.toRdd` — no per-row external-Row conversion —
    * so the handful of values that survive into the collected summary are
    * converted here instead. */
  private def external(v: Any, dt: DataType): Any = v match {
    case null              => null
    case d: Decimal        => d.toJavaBigDecimal
    case u: UTF8String     => u.toString
    case l: java.lang.Long if dt == TimestampType =>
      val micros = l.longValue()
      val t = new java.sql.Timestamp(Math.floorDiv(micros, 1000000L) * 1000L)
      t.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
      t
    case i: java.lang.Integer if dt == DateType =>
      java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(i.longValue()))
    case x                 => x
  }

  /** Widen external summary values so driver-side combine is exact. */
  private def norm(a: Any): Any = a match {
    case i: java.lang.Integer    => i.longValue(): java.lang.Long
    case s: java.lang.Short      => s.longValue(): java.lang.Long
    case b: java.lang.Byte       => b.longValue(): java.lang.Long
    case f: java.lang.Float      => f.doubleValue(): java.lang.Double
    case d: scala.math.BigDecimal => d.bigDecimal
    case x                       => x
  }

  /** Driver-side addition over the handful of summary values. */
  private def plus(a: Any, b: Any): Any = (norm(a), norm(b)) match {
    case (null, x)                                          => x
    case (x, null)                                          => x
    case (x: java.lang.Long, y: java.lang.Long)             => x + y: java.lang.Long
    case (x: java.lang.Double, y: java.lang.Double)         => x + y: java.lang.Double
    case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.add(y)
    case (x, y) => throw new IllegalArgumentException(
      s"unsupported running-sum type: ${x.getClass} + ${y.getClass}")
  }

  /** `values[pid]` as a literal-array lookup column (1-based element_at). */
  private def lookup(values: Seq[Any], tpe: DataType): Column =
    element_at(array(values.map(v => lit(v).cast(tpe)): _*), col(PID) + 1)

  /** Global delivery sequence 1..n in (ts, tie) order — the scalable form
    * of `row_number() OVER (ORDER BY ts, tie)`. Output column is LongType. */
  def seq(df: DataFrame, seqCol: String = "seq",
          ts: String = "ts", tie: String = "event_id"): DataFrame = {
    val (s, nSlices) = sliced(df, ts)
    val offsets = sliceCounts(s, nSlices)
      .scanLeft(0L)(_ + _).dropRight(1) // exclusive prefix
    s.withColumn("__lseq", row_number().over(localW(ts, tie)).cast("long"))
      .withColumn(seqCol, element_at(typedlit(offsets.toSeq), col(PID) + 1) + col("__lseq"))
      .drop(PID, "__lseq")
  }

  /** Global running (cumulative) aggregate of `value` in (ts, tie) order —
    * the scalable form of `sum(value) OVER (ORDER BY ts, tie ROWS
    * UNBOUNDED PRECEDING)`. `value` should be an exactly-summable type
    * (integer/decimal) so the two-phase combine is order-free. */
  def runningSum(df: DataFrame, value: Column, outCol: String,
                 ts: String = "ts", tie: String = "event_id"): DataFrame = {
    val (s, nSlices) = sliced(df, ts)
    // per-slice totals in ONE single-stage job (map-side partial sums,
    // driver fold) over internal rows — no per-row external conversion
    val proj = s.select(col(PID), value.as("__v"))
    val vType = proj.schema("__v").dataType
    val totals = Array.fill[Any](nSlices)(null)
    proj.queryExecution.toRdd
      .mapPartitions { it =>
        val acc = Array.fill[Any](nSlices)(null)
        it.foreach { r =>
          val p = r.getInt(0)
          acc(p) = plus(acc(p), external(r.get(1, vType), vType))
        }
        Iterator.single(acc)
      }
      .collect()
      .foreach { part =>
        var i = 0
        while (i < nSlices) { totals(i) = plus(totals(i), part(i)); i += 1 }
      }
    val offsets = totals.scanLeft(null: Any)(plus).dropRight(1)
    val local = s.withColumn("__lsum", sum(value).over(localW(ts, tie)))
    val tpe = local.schema("__lsum").dataType
    // a decimal carry-in that overflows the sum type would cast to null in
    // the plan and be indistinguishable from "no earlier values" — fail
    // loudly on the driver instead of producing a plausible wrong sum
    tpe match {
      case dt: DecimalType => offsets.foreach {
        case d: java.math.BigDecimal
          if !Decimal(scala.math.BigDecimal(d)).changePrecision(dt.precision, dt.scale) =>
          throw new ArithmeticException(
            s"running-sum slice carry-in $d overflows $dt; widen the value column")
        case _ => ()
      }
      case _ => ()
    }
    // null semantics match the global window exactly: offset is null iff
    // no earlier slice holds a non-null value, __lsum is null iff this
    // slice holds none at or before the row — sum is null only when both are
    val off = lookup(offsets.toSeq, tpe)
    local
      .withColumn(outCol, coalesce(col("__lsum") + off, col("__lsum"), off))
      .drop(PID, "__lsum")
  }

  /** Global last-non-null carry-forward of `cols` in (ts, tie) order — the
    * scalable form of `last(c, ignoreNulls=true) OVER (ORDER BY ts, tie
    * ROWS UNBOUNDED PRECEDING)` (the reference's last-value combine, W5).
    * Each slice carries locally; the carry-in for slice p is the last
    * non-null among slices < p, folded over the tiny collected summary
    * (per-slice last non-null per column, ONE single-stage scan). */
  def lastCarry(df: DataFrame, cols: Seq[String],
                ts: String = "ts", tie: String = "event_id"): DataFrame = {
    val (s, nSlices) = sliced(df, ts)
    val nCols = cols.length
    // ordering on external (ts, tie) values via natural Comparable order
    // (Timestamp/Long/String/…) — erasure-safe at runtime
    def after(ts1: Any, tie1: Any, ts2: Any, tie2: Any): Boolean = {
      val c = ts1.asInstanceOf[Comparable[Any]].compareTo(ts2)
      c > 0 || (c == 0 && tie1.asInstanceOf[Comparable[Any]].compareTo(tie2) > 0)
    }
    // best(p)(i) = (ts, tie, value) of the max-(ts,tie) row in slice p
    // where cols(i) is non-null
    def merge(x: Array[Array[(Any, Any, Any)]], y: Array[Array[(Any, Any, Any)]]) = {
      var p = 0
      while (p < nSlices) {
        var i = 0
        while (i < nCols) {
          val b = y(p)(i)
          if (b != null &&
              (x(p)(i) == null || after(b._1, b._2, x(p)(i)._1, x(p)(i)._2)))
            x(p)(i) = b
          i += 1
        }
        p += 1
      }
      x
    }
    val proj = s.select(col(PID) +: col(ts) +: col(tie) +: cols.map(col): _*)
    val dts = proj.schema.fields.map(_.dataType)
    val best = proj.queryExecution.toRdd
      .mapPartitions { it =>
        val acc = Array.fill[(Any, Any, Any)](nSlices, nCols)(null)
        it.foreach { r =>
          val p = r.getInt(0)
          // convert (ts, tie) lazily — only rows carrying a non-null value
          // pay it; internal buffers may be reused, so values are
          // externalized before they outlive the row
          var tsV: Any = null; var tieV: Any = null; var got = false
          var i = 0
          while (i < nCols) {
            if (!r.isNullAt(3 + i)) {
              if (!got) {
                tsV = external(r.get(1, dts(1)), dts(1))
                tieV = external(r.get(2, dts(2)), dts(2))
                got = true
              }
              val cur = acc(p)(i)
              if (cur == null || after(tsV, tieV, cur._1, cur._2))
                acc(p)(i) = (tsV, tieV, external(r.get(3 + i, dts(3 + i)), dts(3 + i)))
            }
            i += 1
          }
        }
        Iterator.single(acc)
      }
      .fold(Array.fill[(Any, Any, Any)](nSlices, nCols)(null))(merge)
    val w = localW(ts, tie)
    val carried = cols.zipWithIndex.foldLeft(s) { case (acc, (c, i)) =>
      // carry-in for slice p = last non-null among slices < p
      val carryIn = (0 until nSlices).scanLeft(null: Any) { (prev, p) =>
        Option(best(p)(i)).map(_._3).getOrElse(prev)
      }.dropRight(1)
      acc.withColumn(c, coalesce(
        last(col(c), ignoreNulls = true).over(w),
        lookup(carryIn, df.schema(c).dataType)))
    }
    carried.drop(PID)
  }
}
