package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One-pass fused corpus analyzer (VERDICT r9 #3): EVERY per-document
  * statistic the filter stages consume, emitted from a SINGLE projection
  * over the corpus — one parquet scan, zero shuffles, all stages inside
  * whole-stage codegen.
  *
  * The per-doc stat queries each pay their own corpus pass when run
  * separately (q41 token stats, q42 quality heuristic, q49 lang-id, q75
  * repetition rules, q39 subword stats — five scans of the same 100 TB),
  * and the pre-fusion formulations of q49/q79 additionally paid a
  * corpus-TOKEN shuffle (explode + groupBy(doc_id) to count what never
  * needed to leave its row). This operator composes the native byte-scan
  * expressions ([[graft.functions.SpaceTokenStats]],
  * [[graft.functions.TextStatsUtil.subword_stats]]) plus codegen'd builtins
  * (`translate` for digit counting — not a regex) into one map-only
  * projection: the corpus is read once and every downstream filter reads
  * the same slim profile table.
  *
  * Stopword semantics are the gated queries' own: [[Stopwords]] is q41's
  * list, [[LangStops]] q49's three detector lists — ONE definition here
  * so the fused profile cannot drift from the per-stat gates
  * (q165 hash-checks the whole profile against the composed SQL forms).
  */
object CorpusAnalyzer {

  /** q41's corpus stopword list. */
  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is", "on")

  /** q49's language-detector token lists (n-gram-heuristic lang-id). */
  val LangStops: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "es" -> Seq("el", "la", "los", "de", "y", "es"))

  /** The fused profile: doc_id, any `carry` columns, and
    *
    *  - `tok`  — space-token stats (n_tok, n_distinct, stop_hits, top_bg)
    *  - `sub`  — subword stats (n_subtokens, n_distinct, max_token_len,
    *             n_numeric)
    *  - `s_en`/`s_de`/`s_es` — per-language stopword hits
    *  - `n_chars`, `n_digit_chars` — character-class counts
    *
    * One projection, O(doc bytes) per row, no shuffle. Each stat column
    * is an independent scan of the SAME in-memory row (4 byte scans +
    * 3 stop-set scans) — what fusion saves is the table I/O (one corpus
    * read instead of five) and the downstream exchanges, which is the
    * 100 TB cost; the per-row CPU was already map-side. */
  def profile(docs: DataFrame, carry: Seq[String] = Seq.empty): DataFrame =
    docs.select(
      Seq(col("doc_id")) ++ carry.map(col) ++ Seq(
        call_function("space_token_stats", col("text"), typedLit(Stopwords)).as("tok"),
        call_function("subword_stats", col("text")).as("sub"),
        length(col("text")).cast("long").as("n_chars"),
        (length(col("text")) -
          length(translate(col("text"), "0123456789", ""))).cast("long")
          .as("n_digit_chars")) ++
      LangStops.map { case (code, stops) =>
        call_function("space_token_stats", col("text"), typedLit(stops))
          .getField("stop_hits").as(s"s_$code")
      }: _*)
}
