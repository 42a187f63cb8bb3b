package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StructField, StructType}

/** The probe-side kernel of the broadcast as-of join
  * ([[graft.operators.AsOfJoin.asOfBroadcast]]): given a key's reference
  * timeline packed as parallel sorted arrays — `tsArr` (ascending epoch
  * micros) and `valArr` — return the value at the GREATEST `tsArr[i] <=
  * t`, or NULL when every reference timestamp is after `t`.
  *
  * One codegen'd binary search per probe row: O(log m) against the
  * broadcast timeline instead of shuffling + sorting the probe stream.
  * Equal-timestamp duplicates resolve to the LAST packed entry, matching
  * the union-window operator's `last()` tie-break; pre-deduplicate the
  * reference side for full determinism (same caveat as `asOf`).
  *
  * Timestamps in `tsArr` must be non-null (the packed structs are built
  * from the right side's own `rightTs`); `valArr` MAY contain null
  * elements (a reference row whose value column is null) — matching on
  * one yields NULL, in both interpreted and codegen paths. A null ARRAY
  * (left-join miss: key with no reference rows at all) also yields NULL
  * — the as-of LEFT join semantics.
  */
case class AsOfPick(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def dataType: DataType =
    second.dataType.asInstanceOf[ArrayType].elementType
  override def nullable: Boolean = true
  override def prettyName: String = "asof_pick"

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(LongType, _), ArrayType(_, _), LongType) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"asof_pick requires (array<bigint>, array<T>, bigint), got " +
          s"(${first.dataType.catalogString}, ${second.dataType.catalogString}, " +
          s"${third.dataType.catalogString})")
    }

  override protected def nullSafeEval(tsA: Any, valA: Any, t: Any): Any = {
    val ts = tsA.asInstanceOf[ArrayData]
    val vs = valA.asInstanceOf[ArrayData]
    val probe = t.asInstanceOf[Long]
    // upper bound: first index with ts[i] > probe; match = index - 1
    var lo = 0
    var hi = ts.numElements()
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (ts.getLong(mid) <= probe) lo = mid + 1 else hi = mid
    }
    if (lo == 0) null else vs.get(lo - 1, dataType)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (tsA, valA, t) => {
      val lo = ctx.freshName("lo")
      val hi = ctx.freshName("hi")
      val mid = ctx.freshName("mid")
      val getV = CodeGenerator.getValue(valA, dataType, s"$lo - 1")
      // the matched element may itself be null (e.g. a packed struct with
      // a null value) — must yield NULL, matching the interpreted path
      s"""
         |int $lo = 0;
         |int $hi = $tsA.numElements();
         |while ($lo < $hi) {
         |  int $mid = ($lo + $hi) >>> 1;
         |  if ($tsA.getLong($mid) <= $t) $lo = $mid + 1; else $hi = $mid;
         |}
         |if ($lo == 0 || $valA.isNullAt($lo - 1)) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $getV;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): AsOfPick =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** Static kernels of the as-of probes, each named after its SQL function:
  * `asof_neighbors` (called by [[AsOfNeighbors]]) and `cdf_below` (a
  * [[Natives.table]] row). */
object AsOfUtil {
  /** ONE binary search yields BOTH temporal neighbors: `lo` = the first
    * index with `ts[lo] > t` (upper bound), so `lo - 1` is the backward
    * as-of match (greatest ts <= t) and `lo` the forward one (least
    * ts > t). Null fields on the missing side(s); null VALUE elements
    * stay null without nulling the timestamp (the interpolation blend
    * needs the (t, v) pair from the SAME packed row — built that way by
    * the caller). */
  def asof_neighbors(ts: ArrayData, vs: ArrayData, probe: Long, elemType: DataType): InternalRow = {
    var lo = 0
    var hi = ts.numElements()
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (ts.getLong(mid) <= probe) lo = mid + 1 else hi = mid
    }
    val row = new GenericInternalRow(4)
    if (lo == 0) { row.setNullAt(0); row.setNullAt(1) }
    else {
      row.update(0, ts.getLong(lo - 1))
      if (vs.isNullAt(lo - 1)) row.setNullAt(1)
      else row.update(1, vs.get(lo - 1, elemType))
    }
    if (lo >= ts.numElements()) { row.setNullAt(2); row.setNullAt(3) }
    else {
      row.update(2, ts.getLong(lo))
      if (vs.isNullAt(lo)) row.setNullAt(3)
      else row.update(3, vs.get(lo, elemType))
    }
    row
  }

  /** Strict-< sibling of [[AsOfPick]] for CDF lookups over a packed
    * distribution: given parallel sorted arrays — `keys` (ascending
    * doubles, distinct by construction: they come from a groupBy on the
    * key) and `cums` (cumulative counts: cums[i] = #rows with key <=
    * keys[i]) — return `cums` at the GREATEST `keys[i] < t` (STRICTLY
    * below the probe), or NULL when every key is at-or-above `t`.
    *
    * This is the probe kernel that replaces a non-equi theta join
    * `big JOIN dist ON dist.key < f(big)` + count-per-big-row with one
    * O(log m) binary search per probe row against the broadcast
    * CDF: cums at the greatest key strictly below t IS the join's
    * per-row match count, because the keys are distinct and cumulative.
    * A NULL result corresponds to the inner join's dropped row (zero
    * matches). The element compare is the primitive double `<` — the
    * same IEEE comparison the join predicate evaluates per pair (the
    * packed keys are normal doubles from the data; NaN keys must not be
    * packed, same invariant as `asof_pick`'s non-null timestamps).
    * Registered as `cdf_below`. */
  def cdf_below(keys: ArrayData, cums: ArrayData, t: Double): java.lang.Long = {
    // lower bound: first index with keys[i] >= t; match = index - 1
    var lo = 0
    var hi = keys.numElements()
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (keys.getDouble(mid) < t) lo = mid + 1 else hi = mid
    }
    if (lo == 0) null else cums.getLong(lo - 1)
  }
}

/** Both-direction sibling of [[AsOfPick]]: against the same packed
  * per-key timeline (parallel sorted arrays), return
  * `struct(t0, v0, t1, v1)` where `(t0, v0)` is the backward as-of match
  * (greatest `tsArr[i] <= t`, ties to the probe like `asof_pick`) and
  * `(t1, v1)` the forward one (least `tsArr[i] > t`, strictly after —
  * the neighbor pair linear interpolation needs). ONE codegen'd binary
  * search per probe row finds both sides; missing sides (probe before
  * the first / at-or-after the last reference timestamp) yield null
  * fields, and a null ARRAY (key with no reference rows) yields a null
  * struct — the as-of LEFT join semantics. Same invariants as
  * `asof_pick`: `tsArr` ascending and non-null, equal-timestamp
  * duplicates resolve to the LAST packed entry on the backward side.
  * Registered as `asof_neighbors`. */
case class AsOfNeighbors(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  private def elemType: DataType =
    second.dataType.asInstanceOf[ArrayType].elementType

  override def dataType: DataType = StructType(Seq(
    StructField("t0", LongType, nullable = true),
    StructField("v0", elemType, nullable = true),
    StructField("t1", LongType, nullable = true),
    StructField("v1", elemType, nullable = true)))
  override def nullable: Boolean = true
  override def prettyName: String = "asof_neighbors"

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(LongType, _), ArrayType(_, _), LongType) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"asof_neighbors requires (array<bigint>, array<T>, bigint), got " +
          s"(${first.dataType.catalogString}, ${second.dataType.catalogString}, " +
          s"${third.dataType.catalogString})")
    }

  override protected def nullSafeEval(tsA: Any, valA: Any, t: Any): Any =
    AsOfUtil.asof_neighbors(tsA.asInstanceOf[ArrayData],
      valA.asInstanceOf[ArrayData], t.asInstanceOf[Long], elemType)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val elemRef = ctx.addReferenceObj("elemType", elemType,
      "org.apache.spark.sql.types.DataType")
    nullSafeCodeGen(ctx, ev, (tsA, valA, t) =>
      s"${ev.value} = graft.functions.AsOfUtil.asof_neighbors($tsA, $valA, $t, $elemRef);")
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): AsOfNeighbors =
    copy(first = newFirst, second = newSecond, third = newThird)
}
