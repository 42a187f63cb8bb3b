package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact duplicated-substring detection as a reusable operator family
  * (Lee et al., "Deduplicating Training Data Makes Language Models
  * Better" — the token-span pass): q157/q159/q160 are the gated forms.
  *
  * Everything is built from two primitives:
  *
  *  - [[windowHashes]]: every n-token window's portable 60-bit hash
  *    with its token position — ONE codegen'd byte scan per document
  *    ([[graft.functions.ShingleHashes.shingle_hashes]]; a window IS a byte slice of
  *    the original text), exploded to (doc_id, pos, h). Linear in
  *    corpus tokens, map-only.
  *  - [[mergeSpans]]: duplicated positions → MAXIMAL per-doc spans.
  *    Windows at p < p' overlap or touch iff p' - p <= n, so a gap > n
  *    starts a new span; span extent is [min pos, max pos + n). One
  *    doc-partitioned window pass over the (already contamination- or
  *    duplication-sized, NOT corpus-sized) matched-position set.
  *
  * The three shapes differ only in WHERE the duplicate window set
  * comes from — and that decides the 100 TB plan:
  *
  *  - [[dupSpans]] (self-dedup): the dup set is corpus-derived (hash
  *    groupBy, count >= 2) — data-sized, so it stays a shuffle join.
  *  - [[survivorCuts]] (canonical survivor): ditto, plus the
  *    lexicographically-first occurrence keeps its copy. The canonical
  *    pick is groupBy min(struct(doc_id, pos)) — deliberately not a
  *    row_number window, so a boilerplate window with 10⁹ occurrences
  *    collapses map-side instead of sorting in one task.
  *  - [[contaminationSpans]] (one-sided): the dup set is a BENCHMARK's
  *    windows — eval suites are tiny next to the corpus, so the index
  *    broadcasts and the corpus streams through a map-side hash probe
  *    with no corpus-sized exchange at all.
  */
object SubstringDedup {

  /** (doc_id, pos, h): position and portable hash of every n-token
    * window of the single-space split, in document order (pos is
    * 0-based). Docs under n tokens contribute no rows. */
  def windowHashes(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id"),
        posexplode(call_function("shingle_hashes", col("text"), lit(n))))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("col").as("h"))

  /** Distinct window hashes of a benchmark/eval corpus — the broadcast
    * side of [[contaminationSpans]]. At 100 TB this is precomputed from
    * the eval suite once and stored. */
  def windowIndex(bench: DataFrame, n: Int): DataFrame =
    bench.select(explode(
        call_function("shingle_hashes", col("text"), lit(n))).as("h"))
      .distinct()

  /** Matched positions → maximal per-doc spans: (doc_id, span_id,
    * span_start, span_end, span_tokens), span_id 1-based in position
    * order. `positions` must have (doc_id, pos) with pos unique per
    * doc (window starts are). */
  def mergeSpans(positions: DataFrame, n: Int): DataFrame = {
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    positions
      .withColumn("new_span",
        when(col("pos") - lag(col("pos"), 1).over(byDoc) <= n, 0L)
          .otherwise(1L))
      .withColumn("span_id", sum(col("new_span")).over(byDoc))
      .groupBy(col("doc_id"), col("span_id"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + n).as("span_end"))
      .select(col("doc_id"), col("span_id"), col("span_start"),
        col("span_end"),
        (col("span_end") - col("span_start")).as("span_tokens"))
  }

  /** Self-dedup span map (q157): spans whose n-token windows occur
    * more than once in the corpus (intra-doc repeats count). `wins`
    * should be materialized by the caller when it feeds this AND other
    * consumers ([[graft.Materialize]] — the suffix-array-on-disk
    * analogue). */
  def dupSpans(wins: DataFrame, n: Int): DataFrame = {
    val dup = wins.groupBy(col("h")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2).select(col("h"))
    mergeSpans(wins.join(dup, "h").select(col("doc_id"), col("pos")), n)
  }

  /** Canonical-survivor span map: maximal per-doc spans covered by
    * non-canonical occurrences of duplicated windows (the first
    * occurrence by (doc_id, pos) keeps its copy) — the cut list
    * [[applyCuts]] consumes. */
  def survivorSpans(wins: DataFrame, n: Int): DataFrame = {
    val canon = wins.groupBy(col("h")).agg(
        min(struct(col("doc_id"), col("pos"))).as("first"),
        count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2)
      .select(col("h"), col("first.doc_id").as("c_doc"),
        col("first.pos").as("c_pos"))
    val marked = wins.join(canon, "h")
      .filter(!(col("doc_id") === col("c_doc") && col("pos") === col("c_pos")))
      .select(col("doc_id"), col("pos"))
    mergeSpans(marked, n)
  }

  /** Canonical-survivor cut totals (q159): (doc_id, removed_tokens)
    * for docs with at least one cut. */
  def survivorCuts(wins: DataFrame, n: Int): DataFrame =
    survivorSpans(wins, n)
      .groupBy(col("doc_id"))
      .agg(sum(col("span_tokens")).as("removed_tokens"))

  /** Produce the CLEANED corpus (q161): splice every span out of its
    * document and reassemble the survivors — (doc_id, clean_text,
    * kept_tokens). The splice is one codegen'd byte scan per document
    * ([[graft.functions.TextStatsUtil.remove_token_spans]]): the sorted span list rides
    * a doc-grain aggregation (spans per doc are few — duplication-
    * sized, never corpus-sized), joins back on doc_id, and tokens are
    * copied straight from the original bytes — no token arrays, no
    * per-token rows, no higher-order lambdas. Docs without cuts pass
    * through byte-identical. `carry` columns of `docs` ride the single
    * corpus join into the output unchanged (a caller re-joining docs to
    * recover them would pay a SECOND corpus-sized exchange — the whole
    * rewrite pass budget is this one join). */
  def applyCuts(docs: DataFrame, spans: DataFrame,
      carry: Seq[String] = Nil): DataFrame = {
    val emptyCuts = expr(
      "CAST(array() AS ARRAY<STRUCT<span_start: BIGINT, span_end: BIGINT>>)")
    val lists = spans.groupBy(col("doc_id")).agg(
      sort_array(collect_list(
        struct(col("span_start"), col("span_end")))).as("cuts"),
      sum(col("span_tokens")).as("removed_tokens"))
    docs
      .select(col("doc_id") +: col("text") +:
        size(split(col("text"), " ")).cast("long").as("n_tok") +:
        carry.map(col): _*)
      .join(lists, Seq("doc_id"), "left")
      .select(col("doc_id") +:
        call_function("remove_token_spans", col("text"),
          coalesce(col("cuts"), emptyCuts)).as("clean_text") +:
        (col("n_tok") - coalesce(col("removed_tokens"), lit(0L)))
          .as("kept_tokens") +:
        carry.map(col): _*)
  }

  /** One-sided contamination span map (q160): spans in `trainWins`
    * whose windows appear in the (broadcast) benchmark window index. */
  def contaminationSpans(trainWins: DataFrame, benchIdx: DataFrame,
      n: Int): DataFrame =
    mergeSpans(
      trainWins.join(broadcast(benchIdx), "h")
        .select(col("doc_id"), col("pos")), n)
}
