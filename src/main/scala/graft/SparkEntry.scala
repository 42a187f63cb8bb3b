package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Queries are assembled from the per-domain modules:
  *  - [[graft.queries.Relational]]    — scans/joins/aggs/windows/setops/json/arrays
  *  - [[graft.queries.AspSemantics]]  — the reference's event-stream semantics
  *    (replay ordering, timers, call_later, merge, as-of, running aggs, VWAP)
  *  - [[graft.llm.LlmQueries]]        — dedup / similarity / text analysis /
  *    multimodal extensions mandated by the north star
  */
object SparkEntry {
  /** CALIBRATION-class queries: each deliberately carries a
    * non-scale-safe form (an unbounded pair enumeration / uncapped cell
    * self-join) so its gate can measure, against ground truth, what the
    * production operator's bound costs in recall or survivors. The value
    * names that production counterpart. This tag is the ONE source of
    * truth for the shuffle gate's superlinearity allowlist
    * ([[graft.ShuffleProbe]]) — an untagged query that grows superlinear
    * fails the gate; tagging a new query here is a reviewed decision,
    * not a probe-side edit. Production use points at the counterparts
    * (see README "Scale calibration queries"). */
  val calibrationQueries: Map[String, String] = Map(
    "q54_cosine_neardup" ->
      "fixed 8-plane bucket join; production = banded q61 chain capped as q137/q138",
    "q61_neardup_banded" ->
      "unbounded band enumeration kept as the recall baseline; production = q137 (cap) / q139 (star cap)",
    "q117_semantic_dedup" ->
      "uncapped in-cell pair space (n²/16 by construction); production operator = q144",
    "q143_semdedup_capped" ->
      "carries the unbounded baseline on purpose to price q144's cap in-gate")

  private def allSpecs: Seq[QuerySpec] = {
    val specs =
      Relational.specs ++ AspSemantics.specs ++ graft.llm.LlmQueries.specs
    val names = specs.map(_.name).toSet
    val unknown = calibrationQueries.keySet.diff(names)
    require(unknown.isEmpty, s"calibration tags for unknown queries: $unknown")
    specs.map(q => calibrationQueries.get(q.name)
      .fold(q)(why => q.copy(calibration = Some(why))))
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allSpecs.map(q => q.name -> q.run).toMap

  /** The named queries; an IllegalArgumentException naming every name
    * that is not a query, before any of them runs. */
  def select(names: Seq[String]): Map[String, (SparkSession, String) => DataFrame] = {
    val all = queries
    val unknown = names.filterNot(all.contains).distinct
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    all.filter { case (name, _) => names.contains(name) }
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    allSpecs.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
