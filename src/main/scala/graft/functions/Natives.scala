package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType, StringType, StructField, StructType}

/** Every native SQL function of the engine, registered by
  * [[graft.GraftExtensions]] from [[Natives.builders]].
  *
  * Most are rows of [[Natives.table]]: a static kernel method of the same
  * name plus its exact argument and result types. A row is called through
  * [[NativeCall]], which is replaced by a `StaticInvoke` of the kernel
  * when optimization starts — Spark's own `RuntimeReplaceable` pattern, so
  * one JVM method serves whole-stage codegen and interpreted eval alike.
  * The rest keep a bespoke Catalyst `Expression`, each for the reason
  * given next to its builder.
  */
object Natives {

  /** One argument slot: its SQL spelling (for the error message) and the
    * exact types it accepts — no implicit casts. */
  final case class Arg(sql: String, accepts: DataType => Boolean)

  /** A table-driven native: `kernel.<name>(args…)` yields `result`. The
    * kernel method carries the SQL name, as in
    * `org.apache.spark.sql.functions`, so an optimized plan's
    * `static_invoke(…)` still names the function. `nullable` = the kernel
    * itself may return null (a boxed result); null arguments always give
    * null without calling it. `check` runs at analysis once the types
    * match and returns the failure, if any. */
  final case class Native(
      name: String,
      kernel: Class[_],
      args: Seq[Arg],
      result: DataType,
      nullable: Boolean = false,
      check: Seq[Expression] => Option[String] = _ => None)

  /** A SQL function's registration: `arity` None = varargs; `cls` is the
    * class `DESCRIBE FUNCTION` names. */
  final case class Builder(
      name: String,
      arity: Option[Int],
      cls: Class[_],
      build: Seq[Expression] => Expression) {
    def apply(children: Seq[Expression]): Expression = {
      arity.foreach(n => require(children.size == n,
        s"$name requires exactly $n argument${if (n == 1) "" else "s"}, " +
          s"got ${children.size}"))
      build(children)
    }
  }

  private def is(t: DataType) = Arg(t.catalogString, _ == t)
  private def arrayOf(e: DataType) = Arg(s"array<${e.catalogString}>", {
    case ArrayType(t, _) => t == e
    case _ => false
  })
  private def arrayOfStruct(sql: String, fields: DataType*) = Arg(sql, {
    case ArrayType(s: StructType, _) => s.map(_.dataType) == fields
    case _ => false
  })
  private def struct(fields: StructField*) = StructType(fields)
  private def long(name: String, nullable: Boolean = false) =
    StructField(name, LongType, nullable)
  private def str(name: String) = StructField(name, StringType, nullable = false)

  private val string = is(StringType)
  private val floats = arrayOf(FloatType)
  private val longs = arrayOf(LongType)

  /** `n` must be a foldable, non-null `n >= 1`; it is then a constant in
    * the generated code. */
  private def positiveN(name: String)(args: Seq[Expression]): Option[String] = {
    val n = args(1)
    if (!n.foldable) Some(s"$name n must be foldable (a literal)")
    else n.eval() match {
      case null => Some(s"$name n must be a non-null literal")
      case v: Int if v < 1 => Some(s"$name n must be >= 1, got $v")
      case _ => None
    }
  }

  val table: Seq[Native] = Seq(
    Native("letter_runs", LetterRunsUtil.getClass, Seq(string),
      ArrayType(StringType, containsNull = false)),
    Native("bracket_chars", BracketCharsUtil.getClass, Seq(string), StringType),
    Native("strip_markup", StripMarkupUtil.getClass, Seq(string),
      struct(str("s"), long("n_tags"))),
    Native("subword_stats", TextStatsUtil.getClass, Seq(string),
      struct(long("n_subtokens"), long("n_distinct"),
        long("max_token_len", nullable = true), long("n_numeric"))),
    Native("quality_char_stats", TextStatsUtil.getClass, Seq(string),
      struct(long("n_tok"), long("n_chars"), long("n_digits"))),
    Native("space_token_counts", TextStatsUtil.getClass, Seq(string),
      ArrayType(struct(str("term"), long("tf")), containsNull = false)),
    Native("space_bigram_counts", TextStatsUtil.getClass, Seq(string),
      ArrayType(struct(str("bg"), long("tf")), containsNull = false)),
    Native("remove_token_spans", TextStatsUtil.getClass,
      Seq(string, arrayOfStruct("array<struct<bigint, bigint>>", LongType, LongType)),
      StringType),
    Native("nfkc_fold", NormalizeUtil.getClass, Seq(string), StringType),
    Native("pii_mask", NormalizeUtil.getClass, Seq(string),
      struct(str("masked"), long("n_url"), long("n_email"), long("n_num"))),
    Native("shingle_hashes", ShingleHashes.getClass, Seq(string, is(IntegerType)),
      ArrayType(LongType, containsNull = false), check = positiveN("shingle_hashes")),
    Native("space_segments", ShingleHashes.getClass, Seq(string, is(IntegerType)),
      ArrayType(struct(str("seg"), long("h")), containsNull = false),
      check = positiveN("space_segments")),
    Native("quantized_dot", VectorUtil.getClass, Seq(floats, floats), LongType),
    Native("dot_long", VectorUtil.getClass, Seq(longs, longs), LongType),
    Native("quantized_dot_long", VectorUtil.getClass, Seq(floats, longs), LongType),
    Native("adc_lookup", VectorUtil.getClass,
      Seq(arrayOfStruct("array<struct<cid:int,d2:bigint>>", IntegerType, LongType),
        is(IntegerType)),
      LongType, nullable = true),
    Native("cdf_below", AsOfUtil.getClass,
      Seq(arrayOf(DoubleType), longs, is(DoubleType)), LongType, nullable = true))

  val builders: Seq[Builder] =
    table.map(n => Builder(n.name, Some(n.args.size), classOf[NativeCall],
      NativeCall(n, _))) ++ Seq(
      // a foldable literal is converted once into a prepared array or object
      Builder("slice_id", Some(2), classOf[SliceId], c => SliceId(c(0), c(1))),
      Builder("lsh_plane_bits", Some(2), classOf[LshPlaneBits],
        c => LshPlaneBits(c(0), c(1))),
      Builder("minhash_mins", Some(2), classOf[MinhashMins],
        c => MinhashMins(c(0), c(1))),
      Builder("space_token_stats", Some(2), classOf[SpaceTokenStats],
        c => SpaceTokenStats(c(0), c(1))),
      Builder("pq_codes", Some(3), classOf[PqCodes], c => PqCodes(c(0), c(1), c(2))),
      // the result type depends on the input type
      Builder("asof_pick", Some(3), classOf[AsOfPick], c => AsOfPick(c(0), c(1), c(2))),
      Builder("asof_neighbors", Some(3), classOf[AsOfNeighbors],
        c => AsOfNeighbors(c(0), c(1), c(2))),
      // varargs
      Builder("zorder_key", None, classOf[ZOrderKey], ZOrderKey(_)))
}

/** A call of a [[Natives.table]] row: checked at analysis against the
  * row's exact argument types (and its `check`), then replaced by a
  * `StaticInvoke` of the kernel. Its `prettyName`/`sql` is the function
  * name, so default column names read `name(args…)`. */
case class NativeCall(fn: Natives.Native, children: Seq[Expression])
    extends Expression with RuntimeReplaceable {

  override def prettyName: String = fn.name
  override def foldable: Boolean = children.forall(_.foldable)

  override lazy val replacement: Expression = StaticInvoke(fn.kernel, fn.result,
    fn.name, children, propagateNull = true, returnNullable = fn.nullable)

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.size == fn.args.size &&
        fn.args.zip(children).forall { case (a, c) => a.accepts(c.dataType) })
      fn.check(children).fold[TypeCheckResult](TypeCheckResult.TypeCheckSuccess)(
        TypeCheckResult.TypeCheckFailure)
    else TypeCheckResult.TypeCheckFailure(
      s"${fn.name} requires ${fn.args.map(_.sql).mkString("(", ", ", ")")}, got " +
        children.map(_.dataType.catalogString).mkString("(", ", ", ")"))

  override protected def stringArgs: Iterator[Any] = children.iterator

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): NativeCall = copy(children = newChildren)
}
