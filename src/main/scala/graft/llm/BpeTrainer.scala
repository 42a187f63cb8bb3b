package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.queries._

/** Distributed BPE tokenizer TRAINING — the iterative half of the BPE
  * story (q39 applies a BPE-ish pre-tokenizer; q109 computes ONE
  * iteration's pair statistic; this learns the merge table itself, the
  * artifact a 100 TB corpus run exists to produce).
  *
  * Classic word-level BPE (Sennrich et al. 2016, public algorithm):
  * start from characters, repeatedly merge the most frequent adjacent
  * symbol pair, re-tokenize, repeat. The distributed shape:
  *
  *  1. ONE corpus-sized pass builds the word-frequency table — and it
  *     rides [[graft.functions.TextStatsUtil.space_token_counts]], so the exchange
  *     carries per-document DISTINCT (term, tf) pairs, never raw text
  *     (the §8.12 discipline). Everything after runs on the vocabulary,
  *     which is sublinear in corpus size (Heaps' law) and stays
  *     DISTRIBUTED — at web scale the vocab is tens of millions of
  *     rows, far too big to collect, which is why single-node trainers
  *     stop scaling and this one exists.
  *  2. Per merge step: a map-side-combined pair count over the vocab
  *     (pair space bounded by observed adjacencies), a
  *     TakeOrderedAndProject argmax (ONE row to the driver — the merge
  *     decision itself, never data), and a map-only re-tokenization.
  *     K steps = K tiny bounded jobs; no step's cost depends on the
  *     corpus, only on the vocabulary.
  *
  * Tokenization state rides a flat string, each symbol wrapped as
  * `<sym>`: applying a merge is then ONE literal string `replace`
  * (codegen'd, no per-symbol array churn), and the wrapping makes
  * left-to-right non-overlapping string replacement EQUAL list-BPE
  * greedy merging — matches can never share characters (each match
  * consumes both full symbols including their own brackets), so
  * `<a><b><a><b>` merges BOTH pairs in one pass, `<a><a><a>` merges
  * only the first (greedy), and a pair `(a,b)` can never false-match
  * the SUFFIX of a longer symbol like `<ba><b>`. BpeTrainerSpec pins
  * all three adversarial cases against a hand-computed list-BPE.
  *
  * Determinism contract (shared with the DuckDB oracle, which unrolls
  * the same K rounds as MATERIALIZED CTEs): words are the LETTER RUNS
  * (`[a-z]+` matches) of `lower(text)` (so the bracket alphabet is
  * disjoint from symbols and digits/punct are run boundaries), argmax
  * ties break on the wrapped pair string ascending — binary collation
  * in both engines.
  *
  * Returns the learned merge table: (step INT, pair STRING — the
  * wrapped `<l><r>` form, n BIGINT — the pair's corpus frequency when
  * it won).
  */
object BpeTrainer {

  /** Pre-tokenization: LETTER RUNS (`[a-z]+` matches of the lowered
    * text) — "fast," and "key_1" contribute "fast"/"key" instead of
    * being discarded by a full-match filter; digits/punct are run
    * boundaries (the GPT-2-style pre-tokenizer shape). Runs keep the
    * bracket alphabet disjoint from symbols. Extracted per DISTINCT
    * space-token, so the doc-local (term, tf) dedup still pays for the
    * corpus pass. r11: the run extraction rides the native
    * [[graft.functions.LetterRunsUtil.letter_runs]] byte scan (bit-identical to
    * `regexp_extract_all(term, '[a-z]+', 0)`) — the corpus pass is now
    * regex-free end to end (space_token_counts + letter_runs, both
    * JIT'd scans). */
  private def letterRuns(docs: DataFrame): DataFrame =
    docs
      .select($"doc_id",
        explode(call_function("space_token_counts", lower($"text"))).as("tc"))
      .select($"doc_id", $"tc.tf".cast("long").as("tf"),
        explode(call_function("letter_runs", $"tc.term")).as("word"))

  /** The distributed word-frequency table with initial character
    * tokenization: (cnt BIGINT, toks STRING like `<f><a><s><t>`). */
  private[llm] def vocabulary(docs: DataFrame): DataFrame =
    letterRuns(docs)
      .groupBy($"word").agg(sum($"tf").as("cnt"))
      .select($"cnt", call_function("bracket_chars", $"word").as("toks"))

  /** Adjacent-pair frequencies over a tokenization state: (pr, n).
    * r10: rides the native byte-scan `space_bigram_counts` instead of a
    * per-round regexp_extract_all + interpreted transform/sequence HOF —
    * `<f><a><s>` becomes `f a s` with two codegen'd string ops (replace
    * + btrim; symbols are [a-z]+ so the bracket/space alphabet never
    * collides), the bigram table arrives DISTINCT-with-counts per word,
    * and Σcnt over pair occurrences ≡ Σcnt·tf over distinct bigrams. */
  private[llm] def pairStats(vocab: DataFrame): DataFrame =
    vocab
      .select($"cnt", explode(call_function("space_bigram_counts",
        call_function("btrim",
          call_function("replace", $"toks", lit("><"), lit(" ")),
          lit("<>")))).as("bg"))
      .select(
        concat(lit("<"),
          call_function("replace", $"bg.bg", lit(" "), lit("><")),
          lit(">")).as("pr"),
        ($"cnt" * $"bg.tf").as("w"))
      .groupBy($"pr").agg(sum($"w").as("n"))

  /** Learn `merges` BPE merges; the returned list is driver-sized by
    * definition (it IS the artifact — one row per merge decision). */
  def learnMerges(docs: DataFrame, merges: Int): Seq[(Int, String, Long)] = {
    // The vocab is the whole working set of every round — cache once.
    // (Bench/Verify clear caches between queries.)
    var vocab = vocabulary(docs).cache()
    val learned = Seq.newBuilder[(Int, String, Long)]
    for (step <- 1 to merges) {
      val top = pairStats(vocab).orderBy($"n".desc, $"pr".asc).limit(1).collect()
      require(top.nonEmpty, s"BPE merges exhausted before step $step: " +
        "every word is a single symbol; ask for fewer merges")
      val pr = top(0).getString(0)
      val n = top(0).getLong(1)
      learned += ((step, pr, n))
      // `<l><r>` -> `<lr>`: one literal replace, map-only.
      vocab = vocab.withColumn("toks",
        call_function("replace", $"toks", lit(pr), lit(pr.replace("><", ""))))
    }
    learned.result()
  }

  /** Learn `merges` BPE merges over the documents' `text` column. */
  def train(docs: DataFrame, merges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    learnMerges(docs, merges).toDF("step", "pair", "n")
  }

  /** The PRODUCTION tokenization pass: apply a learned merge table to
    * the whole corpus and report per-document word / character / token
    * counts. This is the workload the trainer exists to enable — and
    * it is MAP-ONLY over the corpus: the merges arrive as K literal
    * `replace`s baked into the projection (the merge table is
    * driver-sized by definition), terms come doc-local from
    * space_token_counts, and the single exchange carries one
    * (doc_id, 3 longs) partial per document. An alternative for very
    * hot vocabularies is encoding the DISTINCT vocab once and joining
    * — that trades the per-row replace CPU for a term-keyed exchange;
    * at 100 TB the map-only form wins (CPU scales out, exchanges
    * don't). */
  def encodeCounts(docs: DataFrame, merges: Seq[(Int, String, Long)]): DataFrame = {
    val enc = merges.foldLeft(call_function("bracket_chars", $"term")) {
      case (acc, (_, pr, _)) =>
        call_function("replace", acc, lit(pr), lit(pr.replace("><", "")))
    }
    letterRuns(docs)
      .withColumnRenamed("word", "term")
      .select($"doc_id", $"tf", length($"term").cast("long").as("w_chars"),
        // symbol count == '<' count: every symbol contributes exactly one
        // opening bracket and [a-z]+ symbol bodies contain none (r10 —
        // replaces a per-term regexp_extract_all with two codegen'd
        // string ops)
        (length(enc) -
          length(call_function("replace", enc, lit("<"), lit(""))))
          .cast("long").as("w_syms"))
      .groupBy($"doc_id")
      .agg(sum($"tf").as("n_words"),
        sum($"tf" * $"w_chars").as("n_chars"),
        sum($"tf" * $"w_syms").as("n_tokens"))
  }


  /** The shared training-chain CTEs: K rounds unrolled as MATERIALIZED
    * (inlined CTEs would re-evaluate the whole prefix per round —
    * measured >120 s inlined vs 0.65 s materialized at sf0.01). Ends
    * with `b$k` = (pr, n) of round k. */
  private def trainChainSql(merges: Int): String = {
    def round(i: Int): String =
      s"""p$i AS MATERIALIZED (SELECT pr, CAST(sum(cnt) AS BIGINT) AS n FROM (
         |    SELECT cnt, unnest(list_transform(generate_series(1, len(syms) - 1),
         |      i -> '<' || syms[i] || '><' || syms[i+1] || '>')) AS pr
         |    FROM (SELECT cnt, regexp_extract_all(toks, '<([a-z]+)>', 1) AS syms FROM t${i - 1})
         |    WHERE len(syms) >= 2) GROUP BY pr),
         |b$i AS MATERIALIZED (SELECT pr, n FROM p$i ORDER BY n DESC, pr LIMIT 1),
         |t$i AS MATERIALIZED (SELECT cnt, replace(toks, (SELECT pr FROM b$i),
         |    (SELECT replace(pr, '><', '') FROM b$i)) AS toks FROM t${i - 1})""".stripMargin
    s"""words AS MATERIALIZED (
       |  SELECT w AS word, count(*) AS cnt
       |  FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w FROM documents)
       |  GROUP BY w),
       |t0 AS MATERIALIZED (SELECT cnt, regexp_replace(word, '(.)', '<\\1>', 'g') AS toks FROM words),
       |${(1 to merges).map(round).mkString(",\n")}""".stripMargin
  }

  /** The q154 DuckDB oracle: the learned merge table. */
  def oracleSql(merges: Int): String = {
    val union = (1 to merges)
      .map(i => s"SELECT CAST($i AS INT) AS step, pr AS pair, n FROM b$i")
      .mkString("\nUNION ALL\n")
    s"""WITH ${trainChainSql(merges)}
       |$union ORDER BY step""".stripMargin
  }

  /** The q155 DuckDB oracle: train the same chain, then encode every
    * document's (doc, term, tf) through the k learned replaces. */
  def encodeOracleSql(merges: Int): String = {
    val enc = (1 to merges).foldLeft("regexp_replace(w, '(.)', '<\\1>', 'g')") {
      case (acc, i) =>
        s"replace($acc, (SELECT pr FROM b$i), (SELECT replace(pr, '><', '') FROM b$i))"
    }
    s"""WITH ${trainChainSql(merges)},
       |dw AS (SELECT doc_id, w, count(*) AS tf FROM (
       |    SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
       |    FROM documents) GROUP BY doc_id, w),
       |encw AS (SELECT doc_id, tf, len(w) AS w_chars,
       |    len(regexp_extract_all($enc, '<([a-z]+)>', 1)) AS w_syms
       |  FROM dw)
       |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_words,
       |  CAST(sum(tf * w_chars) AS BIGINT) AS n_chars,
       |  CAST(sum(tf * w_syms) AS BIGINT) AS n_tokens
       |FROM encw GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }
}
