package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.queries._
import graft.core.Tables
import graft.functions.{PortableHash, VectorOps}
import graft.operators.{ConnectedComponents, Skew, Windows}

/** LLM-training-data pipeline operators (mandated extension — not in the
  * reference, which has no relational/text layer; see SURVEY §2.3 last row):
  * exact + near-duplicate detection (MinHash/LSH, SimHash, n-gram Jaccard),
  * embedding similarity search, and text analysis over the driver's
  * `documents` / `embeddings` fixtures.
  *
  * Every query keeps a DuckDB oracle. Portability discipline:
  *  - hashes go through [[PortableHash.md5Long]] (md5 is bit-identical in
  *    both engines; engine-native `hash()` is not);
  *  - dot products / norms accumulate in DECIMAL(30,15) — decimal addition
  *    is exact and associative, so Spark's partial aggregation and DuckDB's
  *    serial sum produce identical values; the single deterministic
  *    double→decimal rounding happens per element, not per fold order;
  *  - no transcendental functions (exp/ln/pow) in outputs — libm results
  *    differ across engines; +,-,*,/ and sqrt are IEEE-exact everywhere.
  *
  * Scale notes are per-query; the common theme: everything is one explode +
  * one hash-partitioned aggregation/join — shapes that scale linearly on a
  * 1000-executor cluster. Candidate generation (LSH bands, buckets) bounds
  * the pair space instead of the O(n²) all-pairs comparison.
  */
object LlmQueries {

  private val P = PortableHash.P // 2^31 - 1, sketch hash domain

  /** Integer quantization for cross-engine-exact vector math: components
    * are scaled to 1e-7 resolution and TRUNCATED to int64 (toward zero —
    * the one rounding Java `(long)`, Spark `CAST AS LONG` and DuckDB
    * `trunc()::BIGINT` all agree on), so dot products and norms are EXACT
    * integer sums (order-free, shuffle-safe), and the final cosine is a
    * fixed sequence of IEEE double ops. 1e-7 relative error is far below
    * any similarity threshold that matters.
    *
    * Hot path: [[graft.functions.VectorUtil.quantized_dot]] — a native
    * static kernel (one JIT'd long loop per pair, no HOF lambda dispatch). */
  private val QScale = 10000000L // 1e7

  /** Column-level truncation quantization (plane-dot HOF path). */
  private def quant(x: Column): Column = (x.cast("double") * QScale).cast("long")

  /** Σ q(xᵢ)·q(yᵢ) — exact int64 (64 dims × (3e7)² ≈ 6e16 < 2⁶³). */
  private def dotQ(a: Column, b: Column): Column = VectorOps.dotQ(a, b)

  /** Σ q(xᵢ)² — exact int64. */
  private def sqNormQ(a: Column): Column = VectorOps.sqNormQ(a)

  /** DuckDB rendering of the same quantization. */
  private def quantSql(x: String): String =
    s"CAST(trunc(CAST($x AS DOUBLE) * $QScale) AS BIGINT)"

  /** Quantized cosine from exact integer dot/norms; the int64 norms are
    * cast to double BEFORE multiplying (their product overflows int64). */
  private def cosineQ(dot: Column, na: Column, nb: Column): Column =
    dot.cast("double") / sqrt(na.cast("double") * nb.cast("double"))

  // ---------- shared building blocks (Spark side) ----------

  /** Word 3-gram shingles per doc: one `explode` of a transformed array —
    * stays inside whole-stage codegen, no UDF. Docs shorter than 3 tokens
    * are excluded (both sides). */
  private def shingles(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"),
        explode(expr("transform(sequence(1, size(w) - 2), i -> concat_ws(' ', slice(w, i, 3)))")).as("sh"))

  /** Hashing-trick feature-space size for the q163/q164 supervised
    * quality classifier — pinned to [[QualityClassifier.Buckets]] so the
    * oracle SQL cannot drift from the operator. */
  private val QcBuckets = QualityClassifier.Buckets

  /** CCNet-style source seeds: curated-looking sources label positive,
    * crawl-looking sources negative; everything else is the unlabeled
    * corpus the trained scorer filters. (Declared before `specs` — the
    * oracle SQL strings interpolate these eagerly.) */
  private val QcPos = Seq("src0", "src1", "src2")
  private val QcNeg = Seq("src17", "src18", "src19")
  private val QcPosSqlList = QcPos.map("'" + _ + "'").mkString(", ")
  private val QcSeedSqlList = (QcPos ++ QcNeg).map("'" + _ + "'").mkString(", ")

  /** MinHash permutation constants: h_j(x) = (a_j·x + b_j) mod P over the
    * base md5 hash — one md5 per shingle, 16 cheap affine transforms
    * (16× fewer digest computations than salting the input per
    * permutation; the classic universal-hash construction). */
  private val MhA: IndexedSeq[Long] = (0 until 16).map(j => (2654435761L * (2 * j + 1)) % P)
  private val MhB: IndexedSeq[Long] = (0 until 16).map(j => (2654435789L * (j + 7) + 40503L * j) % P)

  /** 16-permutation MinHash signature as h0..h15 columns — SHUFFLE-FREE:
    * one codegen'd byte scan per document ([[graft.functions.ShingleHashes.shingle_hashes]]
    * feeding [[graft.functions.MinhashMins]]), no token explode, no
    * groupBy. The aggregation form this replaced (explode shingles →
    * md5 per shingle string → 16 partial-min aggregates) shuffled a
    * (doc_id, partial-minima) row per doc per partition and paid
    * interpreted `concat_ws` string construction per shingle; at 100 TB
    * the signature step should be a map-only pass over the corpus.
    * Values are bit-identical (same hash space — the oracle's `sigSql`
    * aggregation form still hash-proves every consumer). Docs under 3
    * tokens have no shingles → NULL minima → excluded, matching the
    * aggregation form's absent group. */
  private def minhashSig(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), minsExpr(col("text")).as("mins"))
      .filter(col("mins").isNotNull)
      .select(col("doc_id") +:
        (0 until 16).map(j => element_at(col("mins"), j + 1).as(s"h$j")): _*)

  // ---------- shared SQL fragments (DuckDB side) ----------

  private def md5ModSql(e: String): String = PortableHash.md5ModSql(e)

  /** ws/win/wh CTEs: every n-token window of each document with its
    * 0-based position and portable hash (the oracle twin of
    * [[graft.llm.SubstringDedup.windowHashes]]). `ws` is unfiltered so
    * callers may also tokenize ALL docs from it; docs under n tokens
    * contribute no windows (the len guard lives in `win`). ONE
    * definition for the q157/q159/q160/q161/q162 family so the window
    * convention cannot fork between detector, pricer, and applier. */
  private def windowHashSql(n: Int): String =
    s"""ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |win AS (SELECT doc_id, gs - 1 AS pos, array_to_string(w[gs:gs+${n - 1}], ' ') AS sh FROM
       |       (SELECT doc_id, w, unnest(generate_series(1, len(w) - ${n - 1})) AS gs
       |        FROM ws WHERE len(w) >= $n)),
       |wh AS (SELECT doc_id, pos, ${md5ModSql("sh")} AS h FROM win)""".stripMargin

  /** gaps/sp CTEs: merge matched positions from `from` (doc_id, pos)
    * into per-doc span ids (gap > n starts a new span) — the oracle
    * twin of [[graft.llm.SubstringDedup.mergeSpans]]. */
  private def spanMergeSql(n: Int, from: String): String =
    s"""gaps AS (SELECT doc_id, pos,
       |  CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= $n
       |       THEN 0 ELSE 1 END AS new_span FROM $from),
       |sp AS (SELECT doc_id, pos,
       |  sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id FROM gaps)""".stripMargin

  /** The (doc_id, span_id, span_start, span_end, span_tokens) final
    * select over `sp` — q157/q160/q162/q169's output shape. No trailing
    * ORDER BY: the gate hashes order-insensitively, and the span output
    * is duplication-proportional (a data-sized range exchange at scale). */
  private def spanSelectSql(n: Int): String =
    s"""SELECT doc_id, CAST(span_id AS BIGINT) AS span_id,
       |  min(pos) AS span_start, max(pos) + $n AS span_end,
       |  max(pos) + $n - min(pos) AS span_tokens
       |FROM sp GROUP BY doc_id, span_id""".stripMargin

  private val shinglesSql =
    """ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |       WHERE len(string_split(text, ' ')) >= 3),
      |sh AS (SELECT doc_id, array_to_string(w[gs:gs+2], ' ') AS sh FROM
      |       (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS gs FROM ws))""".stripMargin

  private val sigSql = {
    val mins = (0 until 16)
      .map(j => s"  min((h * ${MhA(j)} + ${MhB(j)}) % $P) AS h$j").mkString(",\n")
    s"""$shinglesSql,
       |shh AS (SELECT doc_id, ${md5ModSql("sh")} AS h FROM sh),
       |sig AS (SELECT doc_id,\n$mins\n  FROM shh GROUP BY doc_id)""".stripMargin
  }

  /** [[sigSql]] + band keys over a PREDICATE-restricted sub-corpus, CTE
    * names suffixed with `tag` — lets one oracle query carry signature
    * chains for several corpora (q105's old/new split). */
  private def bandsSqlFor(tag: String, pred: String): String = {
    val mins = (0 until 16)
      .map(j => s"  min((h * ${MhA(j)} + ${MhB(j)}) % $P) AS h$j").mkString(",\n")
    val bandSelects = (0 until 4).map { b =>
      val cols = (0 until 4).map(i => s"h${b * 4 + i}").mkString(", ")
      s"SELECT doc_id, $b AS band, concat_ws('_', $cols) AS bkey FROM sig$tag"
    }.mkString("\n  UNION ALL\n  ")
    s"""ws$tag AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |       WHERE ($pred) AND len(string_split(text, ' ')) >= 3),
       |sh$tag AS (SELECT doc_id, array_to_string(w[gs:gs+2], ' ') AS sh FROM
       |       (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS gs FROM ws$tag)),
       |shh$tag AS (SELECT doc_id, ${md5ModSql("sh")} AS h FROM sh$tag),
       |sig$tag AS (SELECT doc_id,\n$mins\n  FROM shh$tag GROUP BY doc_id),
       |bands$tag AS (
       |  $bandSelects)""".stripMargin
  }

  /** The q44 LSH-banding candidate-pair CTE chain (`sig` → `bands` →
    * `pairs`), shared with the clustering queries (q64/q65). */
  private val pairsSql = {
    val bandSelects = (0 until 4).map { b =>
      val cols = (0 until 4).map(i => s"h${b * 4 + i}").mkString(", ")
      s"SELECT doc_id, $b AS band, concat_ws('_', $cols) AS bkey FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    s"""$sigSql,
       |bands AS (
       |  $bandSelects),
       |pairs AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)""".stripMargin
  }

  /** The 16 per-row MinHash minima as ONE array expression over the TEXT
    * column: shingle hashing and all permutation minima in two chained
    * codegen'd byte scans ([[graft.functions.ShingleHashes.shingle_hashes]] →
    * [[graft.functions.MinhashMins]]) — no `split`, no `transform`
    * lambdas (CodegenFallback), no per-shingle string concatenation.
    * NULL when the document has fewer than 3 tokens (no shingles — the
    * "no signature" contract). The single source of the row-form
    * signature: [[rowSignature]] and [[minhashSig]] wrap it, and
    * [[CorpusDedup]] uses it directly where the signature must ride one
    * projection (a second branch of the source would make a streaming
    * plan stream-stream). */
  private[llm] def minsExpr(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    call_function("minhash_mins",
      call_function("shingle_hashes", text, lit(3)),
      typedLit(Seq(MhA.toSeq, MhB.toSeq)))

  /** Stateless per-ROW MinHash signature: the same 16 permutation minima
    * as [[minhashSig]], computed with array higher-order functions over
    * each document alone (no groupBy). Identical values — q70's oracle
    * hash-proves it against the aggregation-form `sigSql` — but usable
    * where a shuffle is wrong: inside a STREAMING pipeline (keeps the
    * signature step stateless so the only stateful operator is the
    * band-key store — [[graft.streaming.IncrementalNearDup]]), or to
    * trade shuffle for per-row CPU in a batch plan. */
  def rowSignature(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), minsExpr(col("text")).as("mins"))
      .filter(col("mins").isNotNull)
      .select(col("doc_id") +:
        (0 until 16).map(j => element_at(col("mins"), j + 1).as(s"h$j")): _*)

  /** Band `b`'s key over signature columns h0..h15 — THE band-key
    * construction: [[bandKeys]], [[CorpusDedup]], and (textually) the
    * oracle's `bandsSqlFor`/`pairsSql` must all agree byte-for-byte or
    * probe keys silently never match. */
  private[llm] def bandKeyExpr(b: Int): Column =
    concat_ws("_", (0 until 4).map(i => col(s"h${b * 4 + i}")): _*)

  /** 4×4 band keys from a signature frame — one row per (doc, band). */
  def bandKeys(sig: DataFrame): DataFrame = {
    val bandStructs = (0 until 4).map { b =>
      struct(lit(b).as("band"), bandKeyExpr(b).as("bkey"))
    }
    sig.select(col("doc_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
  }

  /** Spark side of the q44 candidate pairs: MinHash signatures → 4×4
    * band keys → same-bucket self-join (hash-partitioned on (band,
    * bkey) — never all-pairs). */
  private def lshPairs(docs: DataFrame): DataFrame =
    lshPairsFromSig(minhashSig(docs))

  /** [[lshPairs]] over an already-computed signature frame — callers
    * that reuse `sig` elsewhere in the same plan materialize it once
    * ([[graft.Materialize]] / a signatures table at 100 TB) and band from
    * that, so the shingle+md5 pipeline doesn't re-run per self-join
    * branch. */
  private def lshPairsFromSig(sig: DataFrame): DataFrame = {
    // materialize before the self-join: the two branches are separate
    // subtrees to Catalyst (exchange reuse does not apply across the
    // alias split — verified on the executed plan), so without this the
    // whole shingle→md5→16-min signature pipeline computes TWICE.
    // graft.Materialize picks the strategy: default localCheckpoint is
    // the LOCAL-mode stand-in, and LAZY (eager = false) — construction
    // stays plan-only (explain/plan inspection via SparkEntry.queries
    // launches no jobs) and the first action materializes the RDD once;
    // both self-join branches share it because BlockManager's per-block
    // locking makes the second stage's tasks wait on (then read) the
    // cached block rather than recompute. That mode is non-fault-
    // tolerant (lineage truncated — executor loss is unrecoverable);
    // spark.graft.materialize.mode=table is the RELIABLE form — the
    // signatures/bands table written to storage and banded from that,
    // exactly the 100 TB substitute, executable with one conf.
    val bands = bandKeys(sig).transform(graft.Materialize(_))
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
  }

  // ---------- ANN shared plumbing (q48 / q54 / q55) ----------

  /** Hyperplane weight row j, derived from the portable hash so the
    * oracle re-computes it independently in SQL; the Spark side folds
    * rows into the codegen'd [[graft.functions.LshPlaneBits]] pass. */
  private def planeRow(j: Int): Seq[Long] =
    (0 until 64).map(i => PortableHash.md5ModLocal(s"p$j|$i") % 2001 - 1000)

  /** 8 random-hyperplane weight rows (planes 0-7): the single-bucket ANN
    * index of q48/q54. */
  private val AnnPlanes: Seq[Seq[Long]] = (0 until 8).map(planeRow)

  /** Banded near-dup parameters (q61): `NdBands` bands × `NdPlanes`
    * planes each, consuming plane rows [0, NdBands·NdPlanes) of the same
    * keyed family. Plane count per band is the SCALE KNOB — see q61. */
  private val NdBands = 8
  private val NdPlanes = 16
  private val BandPlanes: Seq[Seq[Seq[Long]]] =
    (0 until NdBands).map(k => (k * NdPlanes until (k + 1) * NdPlanes).map(planeRow))

  /** Bucket-population caps for the SKEW-BOUNDED candidate generation
    * (q137 text / q138 embeddings — [[Skew.boundedBucketPairs]]).
    * Fixture-sized so the gates exercise the cap (production sizes the
    * cap to the expected population c = n/2^R): the sf0.01 text chain
    * has buckets of population 3 that cap 2 drops; the embedding cap
    * bites on replicated corpora (identical vectors stack their
    * buckets — the SCALING.md quadratic case). `final val` literals:
    * inlined, immune to object-init order. */
  private final val TextBucketCap = 2

  /** q153's simhash piece-bucket cap. The piece space is 2×65536, so a
    * real corpus's populations are ~n/65536; the cap exists for the
    * degenerate-signature case (boilerplate/empty docs collapsing to
    * one signature). 64 keeps every non-degenerate fixture bucket while
    * bounding work at buckets × cap². */
  private final val SimhashBucketCap = 64

  /** q143's cell-population cap. Fixture cell populations run 20–42 at
    * both gate scales (measured), so 30 exercises BOTH branches: some
    * cells enumerate pairs fully, some go through the star-edge cap. */
  private final val SemCap = 30
  private final val EmbBucketCap = 8

  /** `vec_id, embedding, nrm` — the shared base of the banded near-dup
    * chain (q61/q138). Dim guard as in [[bucketedEmb]]. */
  private def ndBase(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .filter(size(col("embedding")) === 64)
      .select(col("vec_id"), col("embedding"), sqNormQ(col("embedding")).as("nrm"))

  /** One (vec_id, band, bucket) row per band — one codegen'd
    * [[VectorOps.lshBucket]] pass per band per row (R·B plane dots/row,
    * linear in n; LshPlaneBits takes any R ≤ 63). */
  private def ndBanded(base: DataFrame): DataFrame = {
    val bandStructs = (0 until NdBands).map { k =>
      struct(lit(k).as("band"),
        VectorOps.lshBucket(col("embedding"), BandPlanes(k)).as("bucket"))
    }
    base.select(col("vec_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("vec_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** Exact-cosine verification of candidate `pairs` (a_id, b_id) against
    * `base` — the verify stage both banded variants share. */
  private def ndCosineVerify(pairs: DataFrame, base: DataFrame): DataFrame =
    pairs
      .join(base.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"),
        col("nrm").as("a_nrm")), "a_id")
      .join(base.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"),
        col("nrm").as("b_nrm")), "b_id")
      .select(col("a_id"), col("b_id"),
        cosineQ(dotQ(col("a_emb"), col("b_emb")), col("a_nrm"), col("b_nrm")).as("cosine"))
      .filter(col("cosine") >= 0.3)

  /** Shared oracle CTE chain for the banded near-dup family
    * (q61/q138): quantized elements `e`, the NdBands·NdPlanes plane
    * family `pl`, sign sums `bits`, per-band `bands` (vec_id, band,
    * bucket). ONE definition so the capped and uncapped variants cannot
    * fork on the banding convention. */
  private def ndBandsSql: String = {
    val nPl = NdBands * NdPlanes
    s"""e AS (SELECT vec_id,
       |    CAST(trunc(CAST(unnest(embedding) AS DOUBLE) * $QScale) AS BIGINT) AS xq,
       |    unnest(generate_series(1, len(embedding))) AS i
       |  FROM embeddings WHERE len(embedding) = 64),
       |pl AS (SELECT j, i, (${md5ModSql("'p' || j || '|' || (i - 1)")} % 2001) - 1000 AS w
       |  FROM (SELECT unnest(generate_series(0, ${nPl - 1})) AS j),
       |       (SELECT unnest(generate_series(1, 64)) AS i)),
       |bits AS (SELECT e.vec_id, pl.j, sum(e.xq * pl.w) AS s
       |         FROM e JOIN pl ON pl.i = e.i GROUP BY e.vec_id, pl.j),
       |bands AS (SELECT vec_id, j // $NdPlanes AS band,
       |    CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << (j % $NdPlanes)) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM bits GROUP BY vec_id, j // $NdPlanes)""".stripMargin
  }

  /** Exact-cosine verify CTEs over `pairs` (assumes `e` from
    * [[ndBandsSql]]) — shared by q61/q138. */
  private def ndVerifySql: String =
    """norms AS (SELECT vec_id, sum(xq * xq) AS nrm FROM e GROUP BY vec_id),
      |dots AS (SELECT p.a_id, p.b_id, sum(x.xq * y.xq) AS dot
      |  FROM pairs p JOIN e x ON x.vec_id = p.a_id
      |               JOIN e y ON y.vec_id = p.b_id AND y.i = x.i
      |  GROUP BY p.a_id, p.b_id),
      |cos AS (SELECT a_id, b_id,
      |    CAST(dot AS DOUBLE) / sqrt(CAST(na.nrm AS DOUBLE) * CAST(nb.nrm AS DOUBLE)) AS cosine
      |  FROM dots JOIN norms na ON na.vec_id = a_id JOIN norms nb ON nb.vec_id = b_id)""".stripMargin

  /** `vec_id, embedding, nrm, bucket` — the LSH-bucketed vector index.
    * Dim guard (both sides): a short/long embedding would silently land in
    * a prefix-truncated bucket while the oracle's i-join sums over the
    * prefix — non-64-dim rows are filtered out instead of diverging
    * (ADVICE r1). All 8 sign bits come from ONE codegen'd pass per row. */
  private def bucketedEmb(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .filter(size(col("embedding")) === 64)
      .select(col("vec_id"), col("embedding"),
        sqNormQ(col("embedding")).as("nrm"),
        VectorOps.lshBucket(col("embedding"), AnnPlanes).as("bucket"))

  /** Shared oracle CTE prefix: quantized elements (`e`), plane weights
    * (`pl`), sign sums (`bits`), LSH `buckets`, int64 `norms`. */
  private val annBaseSql: String = {
    val planeSql =
      s"""pl AS (SELECT j, i, (${md5ModSql("'p' || j || '|' || (i - 1)")} % 2001) - 1000 AS w
         |  FROM (SELECT unnest(generate_series(0, 7)) AS j),
         |       (SELECT unnest(generate_series(1, 64)) AS i))""".stripMargin
    s"""e AS (SELECT vec_id,
       |    CAST(trunc(CAST(unnest(embedding) AS DOUBLE) * $QScale) AS BIGINT) AS xq,
       |    unnest(generate_series(1, len(embedding))) AS i
       |  FROM embeddings WHERE len(embedding) = 64),
       |$planeSql,
       |bits AS (SELECT e.vec_id, pl.j, sum(e.xq * pl.w) AS s
       |         FROM e JOIN pl ON pl.i = e.i GROUP BY e.vec_id, pl.j),
       |buckets AS (SELECT vec_id,
       |    CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM bits GROUP BY vec_id),
       |norms AS (SELECT vec_id, sum(xq * xq) AS nrm FROM e GROUP BY vec_id)""".stripMargin
  }

  /** Shared oracle CTE chain for the Lloyd k-means queries (q119 gates
    * the trained state, q120 continues into the IVF probe): quantized
    * elements + norms, seed assignment from the 8 lowest-id vectors,
    * then `rounds` unrolled update+reassign rounds with the SAME
    * truncating integer math as [[KMeans.train]] — ONE definition so
    * the two gates cannot desynchronize from the operator. */
  private def lloydSql(rounds: Int): String = {
    def round(r: Int): String =
      s"""sums$r AS (SELECT a.cell, e.i, sum(e.xq) AS s, count(*) AS cnt
         |  FROM e JOIN assign${r - 1} a ON a.vec_id = e.vec_id GROUP BY a.cell, e.i),
         |newc$r AS (SELECT cell, i,
         |    CAST(trunc(CAST(s AS DOUBLE) / CAST(cnt AS DOUBLE)) AS BIGINT) AS c
         |  FROM sums$r),
         |nn$r AS (SELECT cell, sum(c * c) AS nrm FROM newc$r GROUP BY cell),
         |rd$r AS (SELECT e.vec_id, n.cell, sum(e.xq * n.c) AS dot
         |  FROM e JOIN newc$r n ON n.i = e.i GROUP BY e.vec_id, n.cell),
         |rc$r AS (SELECT r.vec_id, r.cell,
         |    CAST(r.dot AS DOUBLE) / sqrt(CAST(nv.nrm AS DOUBLE) * CAST(cn.nrm AS DOUBLE)) AS cosine
         |  FROM rd$r r JOIN norms nv ON nv.vec_id = r.vec_id
         |              JOIN nn$r cn ON cn.cell = r.cell),
         |assign$r AS (SELECT vec_id, cell FROM (
         |  SELECT vec_id, cell,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY cosine DESC, cell) AS rn
         |  FROM rc$r) WHERE rn = 1)""".stripMargin
    s"""e AS (SELECT vec_id,
       |    CAST(trunc(CAST(unnest(embedding) AS DOUBLE) * $QScale) AS BIGINT) AS xq,
       |    unnest(generate_series(1, len(embedding))) AS i
       |  FROM embeddings WHERE len(embedding) = 64),
       |norms AS (SELECT vec_id, sum(xq * xq) AS nrm FROM e GROUP BY vec_id),
       |seeds AS (SELECT vec_id FROM (SELECT DISTINCT vec_id FROM e)
       |  ORDER BY vec_id LIMIT 8),
       |cdots AS (SELECT a.vec_id AS vid, b.vec_id AS cid, sum(a.xq * b.xq) AS dot
       |  FROM e a JOIN e b ON b.i = a.i JOIN seeds sd ON sd.vec_id = b.vec_id
       |  GROUP BY vid, cid),
       |ccos AS (SELECT vid, cid,
       |    CAST(dot AS DOUBLE) / sqrt(CAST(nv.nrm AS DOUBLE) * CAST(nc.nrm AS DOUBLE)) AS cosine
       |  FROM cdots JOIN norms nv ON nv.vec_id = vid
       |             JOIN norms nc ON nc.vec_id = cid),
       |assign0 AS (SELECT vid AS vec_id, cid AS cell FROM (
       |  SELECT vid, cid,
       |    row_number() OVER (PARTITION BY vid ORDER BY cosine DESC, cid) AS rn
       |  FROM ccos) WHERE rn = 1),
       |${(1 to rounds).map(round).mkString(",\n")}""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(

    // ---- exact dedup: content-hash groupBy; min(doc_id) survives.
    // At 100 TB: one shuffle on the 128-bit digest — no skew (uniform). ----
    QuerySpec.sql("q40_exact_dedup",
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY content_hash ORDER BY content_hash""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .groupBy(md5($"text").as("content_hash"))
        .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy($"content_hash")
    },

    // ---- token statistics: count / distinct / stopword-ratio per doc.
    // The oracle keeps the unnest + GROUP BY formulation; the engine side
    // is one codegen'd byte scan per row
    // ([[graft.functions.SpaceTokenStats]]) — exploding tokens to compute
    // doc-local counters would shuffle the whole corpus's tokens at
    // 100 TB for values that never need to leave their row. ----
    QuerySpec.sql("q41_token_stats",
      """SELECT doc_id, count(*) AS n_tokens,
        |  CAST(count(DISTINCT w) AS BIGINT) AS n_distinct,
        |  CAST(sum(CASE WHEN w IN ('the','a','of','and','to','in','is','on') THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*) AS stop_ratio
        |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select($"doc_id", call_function("space_token_stats", $"text",
          typedLit(Seq("the", "a", "of", "and", "to", "in", "is", "on"))).as("st"))
        .select($"doc_id",
          $"st.n_tok".as("n_tokens"),
          $"st.n_distinct".as("n_distinct"),
          ($"st.stop_hits".cast("double") / $"st.n_tok").as("stop_ratio"))
    },

    // ---- BPE-ish subword tokenization (the whitespace-split complement
    // of q41): letter runs / digit runs / single punctuation, the usual
    // pre-tokenizer shape. The oracle keeps the regex + list-lambda
    // formulation (char classes behave identically in RE2); the engine
    // side computes all four stats in ONE codegen'd byte scan
    // ([[graft.functions.TextStatsUtil.subword_stats]]) — the composed form's
    // `transform`/`filter` lambdas are CodegenFallback (whole projection
    // drops to interpreted rows) and re-materialize the token array per
    // pass. Embarrassingly parallel, no shuffle before the final sort. ----
    QuerySpec.sql("q39_bpe_tokens",
      """SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_subtokens,
        |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
        |  CAST(list_max(list_transform(toks, t -> length(t))) AS BIGINT) AS max_token_len,
        |  CAST(len(list_filter(toks, t -> t ~ '^[0-9]+$')) AS BIGINT) AS n_numeric
        |FROM (SELECT doc_id,
        |        regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]') AS toks
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select($"doc_id", call_function("subword_stats", $"text").as("st"))
        .select($"doc_id",
          $"st.n_subtokens".as("n_subtokens"),
          $"st.n_distinct".as("n_distinct"),
          $"st.max_token_len".as("max_token_len"),
          $"st.n_numeric".as("n_numeric"))
    },

    // ---- quality scoring: pure elementwise arithmetic (rational ops only
    // — no libm, so doubles are bit-identical across engines) ----
    QuerySpec.sql("q42_quality_score",
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
        |    / len(string_split(text, ' ')) AS avg_token_len,
        |  CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
        |    / length(text) AS digit_ratio,
        |  least(1.0, len(string_split(text, ' ')) / 100.0)
        |    * (1.0 - CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text))
        |    AS quality
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      // ONE byte scan per doc (quality_char_stats) instead of the
      // composed form's three passes with copies: size(split(...))
      // materialized the token array, regexp_replace built a
      // digits-only copy, length() scanned again. n_tok ==
      // size(split(text, ' ')) (empty tokens kept) and n_digits ==
      // length(regexp_replace(text, '[^0-9]', '')) exactly — the
      // declared oracle SQL keeps the composed regex form, so the
      // 169/169 hash gate proves the scan IS the regex semantics.
      val st = call_function("quality_char_stats", $"text")
      val digitRatio = $"st.n_digits".cast("double") / $"st.n_chars"
      Tables.documents(s, d)
        .select($"doc_id", st.as("st"))
        .select($"doc_id",
          $"st.n_tok".as("n_tokens"),
          (($"st.n_chars" - ($"st.n_tok" - 1)).cast("double") / $"st.n_tok")
            .as("avg_token_len"),
          digitRatio.as("digit_ratio"),
          (least(lit(1.0), $"st.n_tok" / 100.0) * (lit(1.0) - digitRatio))
            .as("quality"))
    },

    // ---- MinHash signatures (near-dup sketch): 16 salted min-hashes over
    // word 3-shingles in one aggregation pass ----
    QuerySpec.sql("q43_minhash_sig",
      s"""WITH $sigSql
         |SELECT * FROM sig ORDER BY doc_id""".stripMargin) { (s, d) =>
      minhashSig(Tables.documents(s, d))
    },

    // ---- LSH banding: 4 bands × 4 rows; candidate pairs = docs sharing a
    // band key. This bounds the near-dup search to hash-bucket collisions —
    // the 100 TB path (no all-pairs). ----
    QuerySpec.sql("q44_lsh_pairs",
      s"""WITH $pairsSql
         |SELECT a_id, b_id FROM pairs ORDER BY a_id, b_id""".stripMargin) { (s, d) =>
      lshPairs(Tables.documents(s, d)).orderBy($"a_id", $"b_id")
    },

    // ---- n-gram Jaccard similarity on a bounded candidate set (doc_id <
    // 100 here; at scale the LSH pairs above are the candidate source) ----
    QuerySpec.sql("q45_ngram_jaccard",
      s"""WITH $shinglesSql,
         |grams AS (SELECT DISTINCT doc_id, sh FROM sh WHERE doc_id < 100),
         |counts AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_common
         |  FROM grams a JOIN grams b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY a_id, b_id)
         |SELECT a_id, b_id, n_common, ca.n AS n_a, cb.n AS n_b,
         |  CAST(n_common AS DOUBLE) / CAST(ca.n + cb.n - n_common AS DOUBLE) AS jaccard
         |FROM inter
         |JOIN counts ca ON ca.doc_id = a_id
         |JOIN counts cb ON cb.doc_id = b_id
         |WHERE CAST(n_common AS DOUBLE) / CAST(ca.n + cb.n - n_common AS DOUBLE) >= 0.01
         |ORDER BY a_id, b_id""".stripMargin) { (s, d) =>
      val grams = shingles(Tables.documents(s, d)).filter($"doc_id" < 100)
        .distinct()
        .transform(graft.Materialize(_)) // feeds counts + BOTH self-join branches: one compute
      val counts = grams.groupBy($"doc_id").agg(count(lit(1)).as("n"))
      val inter = grams.as("a").join(grams.as("b"),
          col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
        .agg(count(lit(1)).as("n_common"))
      val jac = col("n_common").cast("double") /
        (col("n_a") + col("n_b") - col("n_common")).cast("double")
      inter
        .join(counts.select($"doc_id".as("a_id"), $"n".as("n_a")), "a_id")
        .join(counts.select($"doc_id".as("b_id"), $"n".as("n_b")), "b_id")
        .select($"a_id", $"b_id", $"n_common", $"n_a", $"n_b", jac.as("jaccard"))
        .filter(jac >= 0.01)
        .orderBy($"a_id", $"b_id")
    },

    // ---- SimHash: 16-bit signature; bit j = sign of Σ over token
    // occurrences of ±1 by bit j of the token hash. One explode + one
    // grouped pass with 16 conditional sums. ----
    QuerySpec.sql("q46_simhash", {
      val h = md5ModSql("w")
      val sums = (0 until 16)
        .map(j => s"  sum(CASE WHEN (($h >> $j) & 1) = 1 THEN 1 ELSE -1 END) AS s$j")
        .mkString(",\n")
      val bits = (0 until 16)
        .map(j => s"(CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")
      s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
         |sums AS (SELECT doc_id,\n$sums\n  FROM toks GROUP BY doc_id)
         |SELECT doc_id, CAST($bits AS BIGINT) AS simhash FROM sums ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      val toks = Tables.documents(s, d)
        .select($"doc_id", explode(split($"text", " ")).as("w"))
        .withColumn("h", PortableHash.md5Mod($"w"))
      val sums = toks.groupBy($"doc_id").agg(
        (0 until 16).map(j =>
          sum(when(shiftright($"h", j).bitwiseAND(lit(1L)) === 1L, 1)
            .otherwise(-1)).as(s"s$j")).head,
        (1 until 16).map(j =>
          sum(when(shiftright($"h", j).bitwiseAND(lit(1L)) === 1L, 1)
            .otherwise(-1)).as(s"s$j")): _*)
      val simhash = (0 until 16)
        .map(j => when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L)))
        .reduce(_ + _)
      sums.select($"doc_id", simhash.cast("long").as("simhash"))
    },

    // ---- brute-force cosine top-k (ANN baseline): queries = vec_id < 10
    // vs all candidates; zip_with dot product over quantized int64 (exact,
    // order-free); per-query top-5 via ranking window. The query side is
    // broadcast — the candidate scan streams through executors once. ----
    QuerySpec.sql("q47_cosine_topk",
      s"""WITH e AS (SELECT vec_id,
         |    CAST(trunc(CAST(unnest(embedding) AS DOUBLE) * $QScale) AS BIGINT) AS xq,
         |    unnest(generate_series(1, len(embedding))) AS i FROM embeddings),
         |norms AS (SELECT vec_id, sum(xq * xq) AS nrm FROM e GROUP BY vec_id),
         |dots AS (
         |  SELECT a.vec_id AS q_id, b.vec_id AS c_id, sum(a.xq * b.xq) AS dot
         |  FROM e a JOIN e b ON a.i = b.i AND b.vec_id <> a.vec_id
         |  WHERE a.vec_id < 10 GROUP BY q_id, c_id),
         |cos AS (
         |  SELECT q_id, c_id,
         |    CAST(dot AS DOUBLE) / sqrt(CAST(na.nrm AS DOUBLE) * CAST(nb.nrm AS DOUBLE)) AS cosine
         |  FROM dots
         |  JOIN norms na ON na.vec_id = q_id
         |  JOIN norms nb ON nb.vec_id = c_id)
         |SELECT q_id, c_id, cosine, CAST(rnk AS BIGINT) AS rnk FROM (
         |  SELECT q_id, c_id, cosine,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rnk
         |  FROM cos) WHERE rnk <= 5
         |ORDER BY q_id, rnk""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
        .select($"vec_id", $"embedding", sqNormQ($"embedding").as("nrm"))
      val queries = emb.filter($"vec_id" < 10)
        .select($"vec_id".as("q_id"), $"embedding".as("q_emb"), $"nrm".as("q_nrm"))
      val pairs = emb.join(broadcast(queries), $"vec_id" =!= $"q_id")
        .select($"q_id", $"vec_id".as("c_id"),
          cosineQ(dotQ($"q_emb", $"embedding"), $"q_nrm", $"nrm").as("cosine"))
      Windows.topKPerGroup(pairs, Seq("q_id"), Seq($"cosine".desc, $"c_id"), 5)
        .select($"q_id", $"c_id", $"cosine", $"rnk".cast("long").as("rnk"))
        .orderBy($"q_id", $"rnk")
    },

    // ---- LSH-bucketed ANN — the 100 TB similarity path: 8 random-
    // hyperplane sign bits bucket the vectors; search touches only the
    // query's bucket (candidate count ~ n/256 instead of n). Plane
    // weights derive from the portable hash, so the oracle re-computes
    // them independently; the Spark side folds them in as literals via
    // codegen'd array HOFs (no join against a plane table). ----
    QuerySpec.sql("q48_ann_lsh",
      s"""WITH $annBaseSql,
         |cand AS (SELECT qb.vec_id AS q_id, cb.vec_id AS c_id, qb.bucket AS bucket
         |  FROM buckets qb JOIN buckets cb
         |    ON qb.bucket = cb.bucket AND cb.vec_id <> qb.vec_id
         |  WHERE qb.vec_id < 10),
         |dots AS (SELECT cand.q_id, cand.c_id, cand.bucket, sum(a.xq * b.xq) AS dot
         |  FROM cand JOIN e a ON a.vec_id = cand.q_id
         |            JOIN e b ON b.vec_id = cand.c_id AND b.i = a.i
         |  GROUP BY cand.q_id, cand.c_id, cand.bucket),
         |cos AS (SELECT q_id, c_id, bucket,
         |    CAST(dot AS DOUBLE) / sqrt(CAST(na.nrm AS DOUBLE) * CAST(nb.nrm AS DOUBLE)) AS cosine
         |  FROM dots JOIN norms na ON na.vec_id = q_id JOIN norms nb ON nb.vec_id = c_id)
         |SELECT q_id, c_id, bucket, cosine, CAST(rnk AS BIGINT) AS rnk FROM (
         |  SELECT q_id, c_id, bucket, cosine,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rnk
         |  FROM cos) WHERE rnk <= 3
         |ORDER BY q_id, rnk""".stripMargin) { (s, d) =>
      val bucketed = bucketedEmb(s, d)
      val queries = bucketed.filter($"vec_id" < 10)
        .select($"vec_id".as("q_id"), $"embedding".as("q_emb"),
          $"nrm".as("q_nrm"), $"bucket".as("q_bucket"))
      val pairs = bucketed.join(broadcast(queries),
          $"bucket" === $"q_bucket" && $"vec_id" =!= $"q_id")
        .select($"q_id", $"vec_id".as("c_id"), $"bucket",
          cosineQ(dotQ($"q_emb", $"embedding"), $"q_nrm", $"nrm").as("cosine"))
      Windows.topKPerGroup(pairs, Seq("q_id"), Seq($"cosine".desc, $"c_id"), 3)
        .select($"q_id", $"c_id", $"bucket", $"cosine", $"rnk".cast("long").as("rnk"))
        .orderBy($"q_id", $"rnk")
    },

    // ---- embedding-cosine near-duplicate detection, single-code form:
    // all same-bucket pairs above a cosine threshold. The 8-plane bucket
    // join bounds the pair space to ~n²/256 — fine at fixture scale, but
    // the FIXED plane count leaves the pair space quadratic as n grows;
    // q61_neardup_banded below is the scaled shape (16-plane buckets ×
    // OR-construction bands, plane count a parameter). The oracle replays
    // the identical bucket-restricted semantics. ----
    QuerySpec.sql("q54_cosine_neardup",
      s"""WITH $annBaseSql,
         |pairs AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.bucket AS bucket
         |  FROM buckets a JOIN buckets b
         |    ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
         |dots AS (SELECT p.a_id, p.b_id, p.bucket, sum(x.xq * y.xq) AS dot
         |  FROM pairs p JOIN e x ON x.vec_id = p.a_id
         |               JOIN e y ON y.vec_id = p.b_id AND y.i = x.i
         |  GROUP BY p.a_id, p.b_id, p.bucket),
         |cos AS (SELECT a_id, b_id, bucket,
         |    CAST(dot AS DOUBLE) / sqrt(CAST(na.nrm AS DOUBLE) * CAST(nb.nrm AS DOUBLE)) AS cosine
         |  FROM dots JOIN norms na ON na.vec_id = a_id JOIN norms nb ON nb.vec_id = b_id)
         |SELECT a_id, b_id, bucket, cosine FROM cos WHERE cosine >= 0.35
         |ORDER BY a_id, b_id""".stripMargin) { (s, d) =>
      val b = bucketedEmb(s, d).transform(graft.Materialize(_)) // self-join: one compute
      b.as("a").join(b.as("b"),
          col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"),
          col("a.bucket").as("bucket"),
          cosineQ(dotQ(col("a.embedding"), col("b.embedding")),
            col("a.nrm"), col("b.nrm")).as("cosine"))
        .filter($"cosine" >= 0.35)
        .orderBy($"a_id", $"b_id")
    },

    // ---- banded embedding near-dup — the 100 TB pair space. Bucket math:
    // each band hashes a vector to a 2^R-bucket code (R = NdPlanes = 16
    // sign bits, one codegen'd LshPlaneBits pass per band); candidates =
    // pairs sharing ANY band's bucket (OR-construction, recall ≈
    // 1-(1-p^R)^B for per-bit agreement p). Expected same-bucket pairs per
    // band on n rows ≈ n²/2^R — R IS THE SCALE KNOB: at n=10⁶ rows,
    // R=16 → ~15k pairs/band·10⁶ rows… choose R ≈ log₂(n/c) to hold
    // expected bucket population at c (the operator takes any R ≤ 63 via
    // LshPlaneBits; B bands recover the recall that a deeper code costs).
    // Contrast q54's fixed 8-plane single code, whose pair space stays
    // n²/256 at any n. The band join hash-partitions on (band, bucket);
    // the verify joins candidates (small) back to embeddings by id. ----
    QuerySpec.sql("q61_neardup_banded",
      s"""WITH $ndBandsSql,
         |pairs AS (SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
         |$ndVerifySql
         |SELECT a_id, b_id, cosine FROM cos WHERE cosine >= 0.3
         |ORDER BY a_id, b_id""".stripMargin) { (s, d) =>
      val base = ndBase(s, d)
      // materialized for the same self-join double-compute reason as
      // lshPairsFromSig (q138's capped variant checkpoints after the
      // population window instead)
      val banded = ndBanded(base).transform(graft.Materialize(_))
      val pairs = banded.as("a").join(banded.as("b"),
          col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
            col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"))
        .distinct()
      ndCosineVerify(pairs, base).orderBy($"a_id", $"b_id")
    },

    // ---- the BOUNDED variant of the band join — q61 with the
    // bucket-population cap ([[Skew.boundedBucketPairs]]). The round-5
    // shuffle probe measured the uncapped chain's exchange records
    // growing with exponent 1.91 on the identical-replica fixture (every
    // cross-replica pair a true duplicate — SCALING.md); the cap bounds
    // the self-join's output at buckets × cap² no matter how degenerate
    // the corpus, which is the production posture: an over-cap bucket is
    // exact-dup material (q40's digest groupBy handles it linearly) or a
    // degenerate signature, never something to enumerate pairwise. Cap
    // is fixture-sized (8) so the gate composes both engines' cap
    // semantics; production sizes it to the expected bucket population
    // c = n/2^R. ----
    QuerySpec.sql("q138_bounded_neardup",
      s"""WITH $ndBandsSql,
         |pops AS (SELECT band, bucket, count(*) AS pop FROM bands
         |  GROUP BY band, bucket),
         |kept AS (SELECT b.vec_id, b.band, b.bucket FROM bands b
         |  JOIN pops p ON p.band = b.band AND p.bucket = b.bucket
         |             AND p.pop <= $EmbBucketCap),
         |pairs AS (SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
         |  FROM kept a JOIN kept b
         |    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
         |$ndVerifySql
         |SELECT a_id, b_id, cosine FROM cos WHERE cosine >= 0.3
         |ORDER BY a_id, b_id""".stripMargin) { (s, d) =>
      val base = ndBase(s, d)
      val pairs = Skew.boundedBucketPairs(ndBanded(base),
        Seq("band", "bucket"), "vec_id", EmbBucketCap)
      ndCosineVerify(pairs, base).orderBy($"a_id", $"b_id")
    },

    // ---- IVF-style ANN (coarse quantizer + cell probing): centroids are
    // a deterministic codebook (vec_id < 8); every vector is assigned to
    // its nearest centroid's cell; a query probes its 2 nearest cells and
    // ranks only those candidates. At 100 TB the assignment is one
    // broadcast join + argmax (no shuffle of the big side), and the index
    // is partitioned BY CELL — probing touches nprobe/k of the data.
    // Recall vs the brute-force q47 baseline is the accuracy trade. ----
    QuerySpec.sql("q55_ivf_ann",
      s"""WITH $annBaseSql,
         |$ivfCoarseSql,
         |cand AS (SELECT p.q_id, a.vec_id AS c_id, a.cell
         |  FROM probes p JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.q_id),
         |dots AS (SELECT cand.q_id, cand.c_id, cand.cell, sum(x.xq * y.xq) AS dot
         |  FROM cand JOIN e x ON x.vec_id = cand.q_id
         |            JOIN e y ON y.vec_id = cand.c_id AND y.i = x.i
         |  GROUP BY cand.q_id, cand.c_id, cand.cell),
         |cos AS (SELECT q_id, c_id, cell,
         |    CAST(dot AS DOUBLE) / sqrt(CAST(na.nrm AS DOUBLE) * CAST(nb.nrm AS DOUBLE)) AS cosine
         |  FROM dots JOIN norms na ON na.vec_id = q_id JOIN norms nb ON nb.vec_id = c_id)
         |SELECT q_id, c_id, cell, cosine, CAST(rnk AS BIGINT) AS rnk FROM (
         |  SELECT q_id, c_id, cell, cosine,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rnk
         |  FROM cos) WHERE rnk <= 3
         |ORDER BY q_id, rnk""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d).filter(size($"embedding") === 64)
        .select($"vec_id", $"embedding", sqNormQ($"embedding").as("nrm"))
      val cents = emb.filter($"vec_id" < 8)
        .select($"vec_id".as("cid"), $"embedding".as("c_emb"), $"nrm".as("c_nrm"))
      // nearest-centroid scores for every vector: broadcast the tiny
      // codebook; the big side streams through once, no shuffle
      val scored = emb.join(broadcast(cents))
        .select($"vec_id", $"embedding", $"nrm", $"cid",
          cosineQ(dotQ($"embedding", $"c_emb"), $"nrm", $"c_nrm").as("ccos"))
      val assign = Windows.topKPerGroup(scored, Seq("vec_id"),
          Seq($"ccos".desc, $"cid"), 1)
        .select($"vec_id", $"embedding", $"nrm", $"cid".as("cell"))
      val probes = Windows.topKPerGroup(
          scored.filter($"vec_id" >= 10 && $"vec_id" < 15), Seq("vec_id"),
          Seq($"ccos".desc, $"cid"), 2)
        .select($"vec_id".as("q_id"), $"embedding".as("q_emb"),
          $"nrm".as("q_nrm"), $"cid".as("cell"))
      val pairs = assign.join(broadcast(probes),
          Seq("cell"), "inner")
        .filter($"vec_id" =!= $"q_id")
        .select($"q_id", $"vec_id".as("c_id"), $"cell",
          cosineQ(dotQ($"q_emb", $"embedding"), $"q_nrm", $"nrm").as("cosine"))
      Windows.topKPerGroup(pairs, Seq("q_id"), Seq($"cosine".desc, $"c_id"), 3)
        .select($"q_id", $"c_id", $"cell", $"cosine", $"rnk".cast("long").as("rnk"))
        .orderBy($"q_id", $"rnk")
    },

    // ---- KMV (k-minimum-values) distinct-count sketch: unlike HLL
    // (q52, engine-specific registers → rows-only check), KMV over the
    // portable hash is EXACTLY reproducible in both engines, so the
    // approximate estimate itself goes through the hash gate. Mergeable
    // (union = min-k of unions) and one pass + 64 values of state per
    // group — the sketch discipline that replaces count(DISTINCT) at
    // 100 TB. Estimator: (k-1)·P / h_k; exact below k. ----
    QuerySpec.sql("q59_kmv_distinct", {
      val h = md5ModSql("CAST(user_id AS VARCHAR)")
      s"""WITH h AS (SELECT DISTINCT event_type, $h AS h FROM events),
         |ranked AS (SELECT event_type, h,
         |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn FROM h),
         |k AS (SELECT event_type, max(h) AS hk, count(*) AS m
         |      FROM ranked WHERE rn <= 64 GROUP BY event_type),
         |exact AS (SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
         |          FROM events GROUP BY event_type)
         |SELECT k.event_type AS event_type,
         |  CASE WHEN m < 64 THEN CAST(m AS DOUBLE)
         |       ELSE (63.0 * 2147483647.0) / CAST(hk AS DOUBLE) END AS est_distinct,
         |  n_exact
         |FROM k JOIN exact ON exact.event_type = k.event_type
         |ORDER BY event_type""".stripMargin
    }) { (s, d) =>
      val ev = Tables.events(s, d)
      val h = ev.select($"event_type",
        PortableHash.md5Mod($"user_id".cast("string")).as("h")).distinct()
      val k = Windows.topKPerGroup(h, Seq("event_type"), Seq($"h".asc), 64)
        .groupBy($"event_type").agg(max($"h").as("hk"), count(lit(1)).as("m"))
      val exact = ev.groupBy($"event_type")
        .agg(countDistinct($"user_id").cast("long").as("n_exact"))
      k.join(exact, "event_type")
        .select($"event_type",
          when($"m" < 64, $"m".cast("double"))
            .otherwise((lit(63.0) * lit(2147483647.0)) / $"hk".cast("double"))
            .as("est_distinct"),
          $"n_exact")
        .orderBy($"event_type")
    },

    // ---- deterministic hash sampling: the reproducible alternative to
    // TABLESAMPLE for training-data pipelines — membership depends only
    // on the key's portable hash, so the sample is stable across runs,
    // engines and cluster layouts, and composable (a 7% sample of a 7%
    // sample re-samples consistently). Pure filter: pushdown-friendly,
    // no shuffle. ----
    QuerySpec.sql("q60_hash_sample", {
      val h = md5ModSql("CAST(doc_id AS VARCHAR)")
      s"""SELECT doc_id, lang, n_chars FROM documents
         |WHERE $h % 100 < 7 ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      Tables.documents(s, d)
        .filter(PortableHash.md5Mod($"doc_id".cast("string")) % 100 < 7)
        .select($"doc_id", $"lang", $"n_chars")
    },

    // ---- language identification: marker-word profile scoring with a
    // deterministic argmax (the n-gram-profile heuristic at word level;
    // one explode + one grouped pass) ----
    QuerySpec.sql("q49_lang_id",
      """WITH toks AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents),
        |scores AS (
        |  SELECT doc_id, any_value(lang) AS lang_meta,
        |    sum(CASE WHEN w IN ('the','and','of','to','a','is') THEN 1 ELSE 0 END) AS s_en,
        |    sum(CASE WHEN w IN ('der','die','das','und','ist','ein') THEN 1 ELSE 0 END) AS s_de,
        |    sum(CASE WHEN w IN ('el','la','los','de','y','es') THEN 1 ELSE 0 END) AS s_es
        |  FROM toks GROUP BY doc_id)
        |SELECT doc_id, lang_meta, CAST(s_en AS BIGINT) AS s_en,
        |  CAST(s_de AS BIGINT) AS s_de, CAST(s_es AS BIGINT) AS s_es,
        |  CASE WHEN s_en >= s_de AND s_en >= s_es THEN 'en'
        |       WHEN s_de >= s_es THEN 'de' ELSE 'es' END AS lang_guess
        |FROM scores ORDER BY doc_id""".stripMargin) { (s, d) =>
      // per-language stop hits are doc-local byte scans (one
      // space_token_stats per detector list — the CorpusAnalyzer
      // fusion), NOT explode+groupBy: the pre-fusion form shuffled
      // every token in the corpus to count three per-doc integers
      // (VERDICT r9 #3). This query's whole plan is scan → project.
      val scores = Tables.documents(s, d).select(
        Seq($"doc_id", $"lang".as("lang_meta")) ++
        CorpusAnalyzer.LangStops.map { case (code, stops) =>
          call_function("space_token_stats", $"text", typedLit(stops))
            .getField("stop_hits").as(s"s_$code")
        }: _*)
      scores.select($"doc_id", $"lang_meta", $"s_en", $"s_de", $"s_es",
          when($"s_en" >= $"s_de" && $"s_en" >= $"s_es", "en")
            .when($"s_de" >= $"s_es", "de").otherwise("es").as("lang_guess"))
    },

    // ---- document fingerprinting: k smallest shingle hashes per doc
    // (winnowing-style content fingerprint; two docs sharing fingerprint
    // rows are near-dup candidates — joins on (rank, h) at scale) ----
    QuerySpec.sql("q51_fingerprint",
      s"""WITH $shinglesSql,
         |h AS (SELECT DISTINCT doc_id, ${md5ModSql("sh")} AS h FROM sh),
         |ranked AS (SELECT doc_id, h,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY h) AS rank
         |  FROM h)
         |SELECT doc_id, CAST(rank AS BIGINT) AS rank, h FROM ranked WHERE rank <= 4""".stripMargin) { (s, d) =>
      // doc-local distinct via ONE byte scan + array_distinct — the
      // (doc_id, h) dedup never shuffles (it's per-row), and only the
      // already-distinct hashes reach the top-k exchange. Output is
      // 4×n_docs rows — no trailing sort (the gate hashes
      // order-insensitively; a range exchange on a data-proportional
      // output is pure cost at scale).
      val h = Tables.documents(s, d)
        .select($"doc_id",
          explode(array_distinct(call_function("shingle_hashes", $"text", lit(3)))).as("h"))
      Windows.topKPerGroup(h, Seq("doc_id"), Seq($"h".asc), 4)
        .select($"doc_id", $"rnk".cast("long").as("rank"), $"h")
    },

    // ---- approximate distinct (HLL sketch), SELF-VALIDATING gate: the
    // raw estimates are engine-specific (different HLL hash functions),
    // so the estimate itself can't be hash-compared. Instead each engine
    // checks its OWN estimate against the SAME exact count and emits a
    // within_bound flag — the q89 discipline (estimate next to exact).
    // Bound: 5% relative, = 2.5× Spark's requested rsd (0.02) and ~3×
    // DuckDB's typical HLL error; on the fixture vocabulary both HLLs
    // run sparse and are EXACT (measured err 0.0000 at every sf), and
    // both sketches are deterministic per engine, so once green the
    // gate stays green. (rsd 0.01 measured 3.4× slower for zero
    // accuracy gain here — register-merge overhead.) Output columns
    // (exact_vocab, within_bound) hash identically when both engines'
    // sketches meet their accuracy contract. ----
    QuerySpec.sql("q52_approx_distinct",
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |x AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS exact_vocab,
        |             approx_count_distinct(w) AS est FROM w)
        |SELECT exact_vocab,
        |  CAST(CASE WHEN abs(est - exact_vocab) <= 0.05 * exact_vocab
        |       THEN 1 ELSE 0 END AS BIGINT) AS within_bound
        |FROM x""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(explode(split($"text", " ")).as("w"))
        .agg(approx_count_distinct($"w", 0.02).as("est"),
          countDistinct($"w").as("exact_vocab"))
        .select($"exact_vocab",
          when(abs($"est" - $"exact_vocab") <= lit(0.05) * $"exact_vocab", 1L)
            .otherwise(0L).as("within_bound"))
    },

    // ---- multimodal frame plumbing, oracle-checkable flavor: binary
    // blob → fixed-width frame chunks → per-frame digest (the
    // [[Multimodal]] module does the same shape via mapPartitions with a
    // pluggable decoder; this query proves the chunk/digest pipeline is
    // engine-portable over base64 text) ----
    QuerySpec.sql("q50_frame_hashes",
      """SELECT doc_id, frame_id, md5(chunk) AS frame_md5 FROM (
        |  SELECT doc_id, gs AS frame_id,
        |    substring(hx, CAST(gs * 64 + 1 AS INT), 64) AS chunk
        |  FROM (
        |    SELECT doc_id, hex(encode(text)) AS hx,
        |      unnest(generate_series(0, CAST(floor((length(hex(encode(text))) - 1) / 64) AS BIGINT))) AS gs
        |    FROM documents))""".stripMargin) { (s, d) =>
      // hex, not base64: Spark's base64 is MIME-chunked (CRLF every 76
      // chars) and engine-specific; hex(binary) is byte-identical
      // everywhere. 64 hex chars = a 32-byte frame.
      Tables.documents(s, d)
        .select($"doc_id", hex(encode($"text", "UTF-8")).as("hx"))
        .select($"doc_id",
          explode(sequence(lit(0L), floor((length($"hx") - 1) / 64).cast("long"))).as("frame_id"),
          $"hx")
        .select($"doc_id", $"frame_id",
          expr("md5(substring(hx, CAST(frame_id * 64 + 1 AS INT), 64))").as("frame_md5"))
    },

    // ---- dedup CLUSTERING: near-dup candidate pairs (q44's LSH bands) →
    // connected components via alternating large-star/small-star
    // ([[graft.operators.ConnectedComponents]]) — O(log n) rounds of two
    // shuffles each, never O(diameter). The oracle recomputes the same
    // components as a recursive reachability closure + min label (exact
    // at fixture scale; the closure is the TEST harness, the star
    // alternation is the 100 TB algorithm). ----
    QuerySpec.sql("q64_dedup_clusters",
      s"""WITH RECURSIVE $pairsSql,
         |edges AS (SELECT a_id AS u, b_id AS v FROM pairs
         |          UNION SELECT b_id, a_id FROM pairs),
         |reach(id, r) AS (
         |  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
         |  UNION
         |  SELECT reach.id, e.v FROM reach JOIN edges e ON e.u = reach.r),
         |labels AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id)
         |SELECT l.doc_id, l.cluster_id, s.cluster_size
         |FROM labels l JOIN (
         |  SELECT cluster_id, count(*) AS cluster_size FROM labels GROUP BY cluster_id
         |) s USING (cluster_id)
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val labels = ConnectedComponents
        .run(lshPairs(Tables.documents(s, d)), "a_id", "b_id")
        .select($"node".as("doc_id"), $"component".as("cluster_id"))
      val sizes = labels.groupBy($"cluster_id").agg(count(lit(1)).as("cluster_size"))
      labels.join(sizes, "cluster_id")
        .select($"doc_id", $"cluster_id", $"cluster_size")
    },

    // ---- dedup SURVIVOR SELECTION: the end-to-end near-dup pipeline —
    // pairs → clusters → singletons unioned back → keep the
    // highest-quality doc per cluster (ties → smallest doc_id). Quality
    // is q42's rational score (no libm, bit-identical across engines);
    // the argmax is a max-join, the same two cluster_id shuffles on both
    // sides. One row per surviving document = the deduplicated corpus. ----
    QuerySpec.sql("q65_dedup_survivors",
      s"""WITH RECURSIVE $pairsSql,
         |edges AS (SELECT a_id AS u, b_id AS v FROM pairs
         |          UNION SELECT b_id, a_id FROM pairs),
         |reach(id, r) AS (
         |  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
         |  UNION
         |  SELECT reach.id, e.v FROM reach JOIN edges e ON e.u = reach.r),
         |labels AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
         |labels_all AS (
         |  SELECT doc_id, cluster_id FROM labels
         |  UNION ALL
         |  SELECT doc_id, doc_id AS cluster_id FROM documents
         |  WHERE doc_id NOT IN (SELECT doc_id FROM labels)),
         |docsq AS (
         |  SELECT la.doc_id, la.cluster_id,
         |    least(1.0, len(string_split(text, ' ')) / 100.0)
         |      * (1.0 - CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
         |               / length(text)) AS quality
         |  FROM labels_all la JOIN documents USING (doc_id)),
         |best AS (SELECT cluster_id, max(quality) AS kept_quality
         |         FROM docsq GROUP BY cluster_id),
         |keep AS (SELECT d.cluster_id, min(d.doc_id) AS keep_id
         |         FROM docsq d JOIN best b
         |           ON d.cluster_id = b.cluster_id AND d.quality = b.kept_quality
         |         GROUP BY d.cluster_id),
         |sizes AS (SELECT cluster_id, count(*) AS n_docs
         |          FROM labels_all GROUP BY cluster_id)
         |SELECT k.cluster_id, k.keep_id, s.n_docs, b.kept_quality
         |FROM keep k JOIN sizes s USING (cluster_id) JOIN best b USING (cluster_id)
         |ORDER BY cluster_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val labels = ConnectedComponents
        .run(lshPairs(docs), "a_id", "b_id")
        .select($"node".as("doc_id"), $"component".as("cluster_id"))
      // labelsAll feeds docsq AND sizes; docsq feeds best AND keep —
      // materialize each reuse point once (the q91 discipline) instead
      // of re-running the documents scan + anti-join per branch
      val labelsAll = labels.unionByName(
          docs.join(labels, Seq("doc_id"), "left_anti")
            .select($"doc_id", $"doc_id".as("cluster_id")))
        .transform(graft.Materialize(_))
      // q42's quality formula via the one-pass quality_char_stats byte
      // scan (no split array, no regex copy — same bit-exact doubles;
      // the declared oracle keeps the composed regex form)
      val st = call_function("quality_char_stats", $"text")
      val docsq = labelsAll.join(docs, "doc_id")
        .select($"doc_id", $"cluster_id", st.as("st"))
        .select($"doc_id", $"cluster_id",
          (least(lit(1.0), $"st.n_tok" / 100.0) *
            (lit(1.0) - $"st.n_digits".cast("double") / $"st.n_chars"))
            .as("quality"))
        .transform(graft.Materialize(_))
      val best = docsq.groupBy($"cluster_id").agg(max($"quality").as("kept_quality"))
      val keep = docsq.as("d").join(best.as("b"),
          col("d.cluster_id") === col("b.cluster_id") &&
            col("d.quality") === col("b.kept_quality"))
        .groupBy(col("d.cluster_id").as("cluster_id"))
        .agg(min(col("d.doc_id")).as("keep_id"))
      val sizes = labelsAll.groupBy($"cluster_id").agg(count(lit(1)).as("n_docs"))
      keep.join(sizes, "cluster_id").join(best, "cluster_id")
        .select($"cluster_id", $"keep_id", $"n_docs", $"kept_quality")
        .orderBy($"cluster_id")
    },

    // ---- document chunking for training windows: overlapping token
    // spans (40-token chunks, stride 30) — a narrow explode, map-only
    // plan (zero exchanges); chunk count and span math are pure
    // integer/ceil arithmetic, identical across engines ----
    QuerySpec.sql("q67_doc_chunks",
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |ck AS (SELECT doc_id, w, unnest(generate_series(0,
        |    greatest(0, CAST(ceil((len(w) - 40) / 30.0) AS BIGINT)))) AS chunk_id
        |  FROM ws)
        |SELECT doc_id, chunk_id,
        |  CAST(len(w[chunk_id * 30 + 1 : chunk_id * 30 + 40]) AS BIGINT) AS n_chunk_tokens,
        |  array_to_string(w[chunk_id * 30 + 1 : chunk_id * 30 + 40], ' ') AS chunk_text
        |FROM ck""".stripMargin) { (s, d) =>
      val nChunks = greatest(lit(0L),
        ceil((size($"w") - lit(40)).cast("double") / 30.0).cast("long"))
      val chunk = slice(col("w"), ($"chunk_id" * 30 + 1).cast("int"), lit(40))
      Tables.documents(s, d)
        .select($"doc_id", split($"text", " ").as("w"))
        .select($"doc_id", $"w", explode(sequence(lit(0L), nChunks)).as("chunk_id"))
        .select($"doc_id", $"chunk_id",
          size(chunk).cast("long").as("n_chunk_tokens"),
          array_join(chunk, " ").as("chunk_text"))
    },

    // ---- TF-IDF-shaped term weighting, top-5 terms per doc. The idf is
    // the RATIONAL form tf·N·10⁶ ÷ df in integer arithmetic (positive
    // floor division — identical in both engines); the standard log-idf
    // is the production variant, excluded from the gate only because
    // libm transcendentals differ per engine (SURVEY §6 numeric
    // discipline). Shape: TF is computed doc-locally in one codegen'd
    // byte scan ([[graft.functions.TextStatsUtil.space_token_counts]] — the oracle keeps
    // the unnest + GROUP BY (doc, term) formulation), so the corpus-sized
    // (doc, term) exchange disappears: only the already-distinct
    // per-doc term rows shuffle — once to term for df, once back to doc
    // for the top-k window — plus a broadcast scalar N. ----
    QuerySpec.sql("q68_tfidf",
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tfq AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
        |dfq AS (SELECT term, count(*) AS df FROM tfq GROUP BY term),
        |nq AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT t.doc_id, t.term, t.tf, (t.tf * n.n_docs * 1000000) // d.df AS score_ppm
        |  FROM tfq t JOIN dfq d USING (term), nq n),
        |ranked AS (SELECT *, CAST(row_number() OVER (
        |    PARTITION BY doc_id ORDER BY score_ppm DESC, term) AS BIGINT) AS rnk
        |  FROM scored)
        |SELECT doc_id, term, tf, score_ppm, rnk FROM ranked
        |WHERE rnk <= 5""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      // tf feeds BOTH the df aggregation and the scored join: without
      // materialization the diamond re-scans + re-tokenizes documents
      // twice (the q91 lesson — constraint inference defeats exchange
      // reuse). At 100 TB this is the term-frequency table written once.
      val tf = docs
        .select($"doc_id",
          explode(call_function("space_token_counts", $"text")).as("tc"))
        .select($"doc_id", $"tc.term".as("term"), $"tc.tf".as("tf"))
        .transform(graft.Materialize(_))
      val dfq = tf.groupBy($"term").agg(count(lit(1)).as("df"))
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      val scored = tf.join(dfq, "term").crossJoin(broadcast(nDocs))
        .select($"doc_id", $"term", $"tf",
          expr("(tf * n_docs * 1000000) div df").as("score_ppm"))
      scored
        .withColumn("rnk", row_number().over(
          Window.partitionBy($"doc_id").orderBy($"score_ppm".desc, $"term")).cast("long"))
        .filter($"rnk" <= 5)
        .select($"doc_id", $"term", $"tf", $"score_ppm", $"rnk")
    },

    // ---- stratified deterministic sampling: per-stratum rates over the
    // portable hash (q60's discipline, per event_type) — the
    // training-mix quota pattern (upsample rare strata, downsample
    // dominant ones). Pure filter: pushdown-friendly, reproducible
    // across engines, layouts, and runs. ----
    QuerySpec.sql("q69_stratified_sample", {
      val h = md5ModSql("CAST(event_id AS VARCHAR)")
      s"""SELECT event_id, event_type, user_id FROM events
         |WHERE $h % 10000 <
         |  CASE event_type WHEN 'purchase' THEN 5000 WHEN 'error' THEN 10000
         |    WHEN 'signup' THEN 2500 WHEN 'click' THEN 1000 ELSE 500 END
         |ORDER BY event_id""".stripMargin
    }) { (s, d) =>
      val rate = when($"event_type" === "purchase", 5000)
        .when($"event_type" === "error", 10000)
        .when($"event_type" === "signup", 2500)
        .when($"event_type" === "click", 1000)
        .otherwise(500)
      Tables.events(s, d)
        .filter(PortableHash.md5Mod($"event_id".cast("string")) % 10000 < rate)
        .select($"event_id", $"event_type", $"user_id")
        .orderBy($"event_id")
    },

    // ---- corpus n-gram statistics: global top-20 word 3-grams — one
    // hash-partitioned count + a distributed top-k (TakeOrderedAndProject,
    // never a global sort of the full gram table) ----
    QuerySpec.sql("q72_top_ngrams",
      s"""WITH $shinglesSql
         |SELECT sh AS ngram, count(*) AS n FROM sh
         |GROUP BY sh ORDER BY n DESC, ngram LIMIT 20""".stripMargin) { (s, d) =>
      shingles(Tables.documents(s, d))
        .groupBy($"sh".as("ngram"))
        .agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"ngram")
        .limit(20)
    },

    // ---- training-mix assembly: per-language quotas (the q69 hash
    // discipline) + a deterministic pseudo-random epoch order (md5 of the
    // id — the portable "global shuffle"). The epoch position is a STOCK
    // global row_number window, planned by the engine's extension as
    // [[graft.plans.DistributedRankExec]] — the mix never serializes
    // through one task. ----
    QuerySpec.sql("q73_training_mix", {
      val h = md5ModSql("CAST(doc_id AS VARCHAR)")
      val o = PortableHash.md5LongSql("'mix' || doc_id")
      s"""WITH sampled AS (
         |  SELECT doc_id, lang FROM documents
         |  WHERE $h % 100 < CASE lang WHEN 'en' THEN 100 WHEN 'de' THEN 50
         |    WHEN 'zh' THEN 50 ELSE 25 END)
         |SELECT doc_id, lang,
         |  CAST(row_number() OVER (ORDER BY $o, doc_id) AS INT) AS mix_pos
         |FROM sampled ORDER BY mix_pos""".stripMargin
    }) { (s, d) =>
      val quota = when($"lang" === "en", 100)
        .when($"lang" === "de", 50).when($"lang" === "zh", 50).otherwise(25)
      Tables.documents(s, d)
        .filter(PortableHash.md5Mod($"doc_id".cast("string")) % 100 < quota)
        .select($"doc_id", $"lang",
          row_number().over(Window.orderBy(
            PortableHash.md5Long(concat(lit("mix"), $"doc_id".cast("string"))),
            $"doc_id")).as("mix_pos"))
        .orderBy($"mix_pos")
    },

    // ---- incremental near-dup: arrival-order dedup (doc_id = arrival
    // order) — each doc's dup_of = the SMALLEST earlier doc sharing any
    // LSH band key; unique docs don't emit. This is the "new crawl batch
    // vs existing corpus" operator: the streaming form
    // ([[graft.streaming.IncrementalNearDup]], parity-spec'd against
    // this query) keeps one band→min-doc state entry per seen band key
    // and never rescans the corpus. The batch side computes signatures
    // with the stateless per-ROW form ([[rowSignature]]); the oracle
    // recomputes them via the aggregation form — the hash match proves
    // the two formulations identical. ----
    QuerySpec.sql("q70_incremental_neardup",
      s"""WITH $pairsSql
         |SELECT b_id AS doc_id, min(a_id) AS dup_of
         |FROM pairs GROUP BY b_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      val bands = bandKeys(rowSignature(Tables.documents(s, d)))
        .transform(graft.Materialize(_)) // self-join: one signature compute
      bands.as("a").join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
            col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("b.doc_id").as("doc_id"))
        .agg(min(col("a.doc_id")).as("dup_of"))
    },

    // ---- benchmark decontamination: training docs sharing any word
    // 3-gram with the held-out benchmark set (here a deterministic ~5%
    // hash slice of the corpus standing in for an eval suite) are
    // reported with their overlap count; the training pipeline drops
    // them. Shape: overlap is counted in the portable 60-bit%P HASH
    // space — the same space the whole MinHash chain signs in — never on
    // shingle strings: each side's per-doc distinct hash set comes from
    // ONE codegen'd byte scan ([[graft.functions.ShingleHashes.shingle_hashes]] +
    // `array_distinct`, doc-local — no token shuffle, no per-shingle
    // string construction), the benchmark set is DISTINCT'd then
    // broadcast (eval suites are tiny next to a 100 TB corpus), so the
    // training side streams once with a map-side long-hash probe, and
    // the per-doc hit count is a plain count with map-side partials
    // (doc-local dedup already happened — no global count-DISTINCT
    // shuffle of hit rows). ----
    QuerySpec.sql("q74_decontaminate", {
      val h = md5ModSql("CAST(doc_id AS VARCHAR)")
      s"""WITH $shinglesSql,
         |dsh AS (SELECT DISTINCT doc_id, ${md5ModSql("sh")} AS h FROM sh),
         |bsh AS (SELECT DISTINCT h FROM dsh WHERE $h % 20 = 0),
         |tsh AS (SELECT doc_id, h FROM dsh WHERE $h % 20 <> 0)
         |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_hits
         |FROM tsh t JOIN bsh b USING (h)
         |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin
    }) { (s, d) =>
      val hs = Tables.documents(s, d)
        .select($"doc_id",
          explode(array_distinct(call_function("shingle_hashes", $"text", lit(3)))).as("h"))
      val isBench = PortableHash.md5Mod($"doc_id".cast("string")) % 20 === 0
      val bsh = hs.filter(isBench).select($"h").distinct()
      hs.filter(!isBench)
        .join(broadcast(bsh), "h")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_hits"))
    },

    // ---- Gopher-style repetition rules: duplicate-token fraction and
    // top-bigram fraction per doc (integer ppm — floor division on
    // non-negative values agrees across engines), with the keep/drop
    // verdict the quality filter applies. The oracle keeps the
    // unnest + two-aggregation + join formulation; the engine side is
    // one codegen'd byte scan per row ([[graft.functions.SpaceTokenStats]]:
    // bigrams are keyed as the raw byte slice spanning both tokens — the
    // separator is always ' ', so no concat) — everything here is
    // doc-local, and the exploded form would shuffle every token AND
    // every bigram of a 100 TB corpus twice plus re-join. ----
    QuerySpec.sql("q75_repetition_rules",
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |       WHERE len(string_split(text, ' ')) >= 2),
        |toks AS (SELECT doc_id, unnest(w) AS tok FROM ws),
        |ts AS (SELECT doc_id, count(*) AS n_tok, count(DISTINCT tok) AS n_distinct
        |       FROM toks GROUP BY doc_id),
        |bg AS (SELECT doc_id, array_to_string(w[gs:gs+1], ' ') AS bg FROM
        |       (SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS gs FROM ws)),
        |bc AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY doc_id, bg),
        |bt AS (SELECT doc_id, max(c) AS top_bg FROM bc GROUP BY doc_id)
        |SELECT t.doc_id, t.n_tok,
        |  ((t.n_tok - t.n_distinct) * 1000000) // t.n_tok AS dup_tok_ppm,
        |  (b.top_bg * 1000000) // (t.n_tok - 1) AS top_bigram_ppm,
        |  CAST(CASE WHEN ((t.n_tok - t.n_distinct) * 1000000) // t.n_tok < 300000
        |    AND (b.top_bg * 1000000) // (t.n_tok - 1) < 200000
        |    THEN 1 ELSE 0 END AS BIGINT) AS pass
        |FROM ts t JOIN bt b USING (doc_id) ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select($"doc_id", call_function("space_token_stats", $"text",
          typedLit(Seq.empty[String])).as("st"))
        .filter($"st.n_tok" >= 2)
        .select($"doc_id", $"st.n_tok".as("n_tok"),
          expr("((st.n_tok - st.n_distinct) * 1000000) div st.n_tok").as("dup_tok_ppm"),
          expr("(st.top_bg * 1000000) div (st.n_tok - 1)").as("top_bigram_ppm"))
        .withColumn("pass",
          when($"dup_tok_ppm" < 300000 && $"top_bigram_ppm" < 200000, 1L).otherwise(0L))
    },

    // ---- per-language quality quantile filter: keep the top half of
    // each language by token count — the "train on the best X% per
    // stratum" operator. One window per lang partition (bounded
    // cardinality; a skewed stratum at 100 TB swaps the exact rank for a
    // broadcast approx_percentile threshold, the q37 sketch path). ----
    QuerySpec.sql("q76_quantile_filter",
      """WITH nt AS (SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents),
        |rk AS (SELECT *, CAST(row_number() OVER (
        |    PARTITION BY lang ORDER BY n_tok DESC, doc_id) AS BIGINT) AS rnk,
        |  count(*) OVER (PARTITION BY lang) AS n_lang FROM nt)
        |SELECT doc_id, lang, n_tok FROM rk WHERE rnk * 2 <= n_lang""".stripMargin) { (s, d) =>
      val nt = Tables.documents(s, d)
        .select($"doc_id", $"lang", size(split($"text", " ")).cast("long").as("n_tok"))
      val byLang = Window.partitionBy($"lang")
      nt.withColumn("rnk",
          row_number().over(byLang.orderBy($"n_tok".desc, $"doc_id")).cast("long"))
        .withColumn("n_lang", count(lit(1)).over(byLang))
        .filter($"rnk" * 2 <= $"n_lang")
        .select($"doc_id", $"lang", $"n_tok")
    },

    // ---- sequence packing: concatenate the corpus in doc_id order and
    // split at 512-token context boundaries — each doc gets its global
    // token offset, sequence id, and offset within the sequence. The
    // global running sum is [[graft.operators.Prefix.runningSum]] (the
    // distributed-slice form — never a single-task window), exercising
    // its numeric order-key path under the oracle gate. ----
    QuerySpec.sql("q77_pack_sequences",
      """WITH nt AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents),
        |cums AS (SELECT doc_id, n_tok, CAST(sum(n_tok) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tok
        |  FROM nt)
        |SELECT doc_id, n_tok, cum_tok,
        |  cum_tok - n_tok AS start_off,
        |  (cum_tok - n_tok) // 512 AS seq_id,
        |  (cum_tok - n_tok) % 512 AS seq_off
        |FROM cums ORDER BY doc_id""".stripMargin) { (s, d) =>
      val nt = Tables.documents(s, d)
        .select($"doc_id", size(split($"text", " ")).cast("long").as("n_tok"))
      graft.operators.Prefix.runningSum(nt, $"n_tok", "cum_tok",
          ts = "doc_id", tie = "doc_id")
        .select($"doc_id", $"n_tok", $"cum_tok",
          ($"cum_tok" - $"n_tok").as("start_off"),
          expr("(cum_tok - n_tok) div 512").as("seq_id"),
          expr("(cum_tok - n_tok) % 512").as("seq_off"))
    },

    // ---- sketch algebra: per-group KMV sketches MERGED into a global
    // estimate. min-k(union of per-group min-k sets) = min-k(union) is an
    // exact identity, so the merged estimate equals the directly-computed
    // global sketch bit-for-bit — which is what lets 100 TB pipelines
    // store one 64-value sketch per partition/day and answer global
    // distinct counts by merging state instead of rescanning history.
    // Spark-side top-64s are sort+limit (TakeOrderedAndProject —
    // distributed), never a global row_number. ----
    QuerySpec.sql("q78_kmv_merge", {
      val h = md5ModSql("CAST(user_id AS VARCHAR)")
      s"""WITH hs AS (SELECT DISTINCT event_type, $h AS h FROM events),
         |grp AS (SELECT event_type, h FROM
         |    (SELECT event_type, h, row_number() OVER (
         |       PARTITION BY event_type ORDER BY h) AS rn FROM hs)
         |    WHERE rn <= 64),
         |mrg AS (SELECT max(h) AS hk, count(*) AS m FROM
         |    (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM
         |       (SELECT DISTINCT h FROM grp)) WHERE rn <= 64),
         |dct AS (SELECT max(h) AS hk, count(*) AS m FROM
         |    (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM
         |       (SELECT DISTINCT h FROM hs)) WHERE rn <= 64),
         |exact AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact FROM events)
         |SELECT
         |  CASE WHEN mrg.m < 64 THEN CAST(mrg.m AS DOUBLE)
         |       ELSE (63.0 * 2147483647.0) / CAST(mrg.hk AS DOUBLE) END AS est_merged,
         |  CASE WHEN dct.m < 64 THEN CAST(dct.m AS DOUBLE)
         |       ELSE (63.0 * 2147483647.0) / CAST(dct.hk AS DOUBLE) END AS est_direct,
         |  n_exact
         |FROM mrg, dct, exact""".stripMargin
    }) { (s, d) =>
      val ev = Tables.events(s, d)
      val hs = ev.select($"event_type",
        PortableHash.md5Mod($"user_id".cast("string")).as("h")).distinct()
      def est(m: Column, hk: Column): Column =
        when(m < 64, m.cast("double"))
          .otherwise((lit(63.0) * lit(2147483647.0)) / hk.cast("double"))
      val grp = Windows.topKPerGroup(hs, Seq("event_type"), Seq($"h".asc), 64)
      val merged = grp.select($"h").distinct().orderBy($"h").limit(64)
        .agg(max($"h").as("hk_m"), count(lit(1)).as("m_m"))
      val direct = hs.select($"h").distinct().orderBy($"h").limit(64)
        .agg(max($"h").as("hk_d"), count(lit(1)).as("m_d"))
      val exact = ev.agg(countDistinct($"user_id").cast("long").as("n_exact"))
      merged.crossJoin(direct).crossJoin(exact)
        .select(est($"m_m", $"hk_m").as("est_merged"),
          est($"m_d", $"hk_d").as("est_direct"), $"n_exact")
    },

    // ---- the full pre-training flow COMPOSED in one plan: language
    // filter → exact dedup (min-survivor) → repetition-quality cutoff →
    // 512-token sequence packing. Each stage is an operator gated on its
    // own elsewhere (q49/q40/q75/q77); this entry proves they compose —
    // pushdown through the chain, one digest shuffle, one stats shuffle,
    // and the distributed prefix sum at the end. ----
    QuerySpec.sql("q79_corpus_pipeline",
      """WITH en AS (SELECT doc_id, text FROM documents WHERE lang = 'en'),
        |keep AS (SELECT min(doc_id) AS doc_id FROM en GROUP BY md5(text)),
        |surv AS (SELECT e.doc_id, e.text FROM en e JOIN keep USING (doc_id)),
        |st AS (SELECT doc_id, count(*) AS n_tok, count(DISTINCT tok) AS n_distinct
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM surv)
        |  GROUP BY doc_id),
        |q AS (SELECT doc_id, n_tok FROM st
        |  WHERE n_tok >= 5 AND ((n_tok - n_distinct) * 1000000) // n_tok < 400000),
        |packed AS (SELECT doc_id, n_tok, CAST(sum(n_tok) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM q)
        |SELECT doc_id, n_tok, (cum - n_tok) // 512 AS seq_id
        |FROM packed ORDER BY doc_id""".stripMargin) { (s, d) =>
      val en = Tables.documents(s, d).filter($"lang" === "en")
        .select($"doc_id", $"text")
      val keep = en.groupBy(md5($"text").as("ch")).agg(min($"doc_id").as("doc_id"))
      val surv = en.join(keep.select($"doc_id"), "doc_id")
      // doc-local byte-scan stats, NOT explode+groupBy: the filter
      // stage's token counts never leave their row — the pre-fusion
      // form shuffled every surviving token in the corpus to count
      // per-doc stats (the q41/q75 lesson, applied to the pipeline
      // composition query; VERDICT r9 #3)
      val st = surv.select($"doc_id",
          call_function("space_token_stats", $"text",
            typedLit(Seq.empty[String])).as("st"))
        .select($"doc_id", $"st.n_tok".as("n_tok"),
          $"st.n_distinct".as("n_distinct"))
      val q = st.filter($"n_tok" >= 5 &&
          expr("((n_tok - n_distinct) * 1000000) div n_tok") < 400000)
        .select($"doc_id", $"n_tok")
      graft.operators.Prefix.runningSum(q, $"n_tok", "cum",
          ts = "doc_id", tie = "doc_id")
        .select($"doc_id", $"n_tok", expr("(cum - n_tok) div 512").as("seq_id"))
    },

    // ---- KMV as a TRUE two-phase UDAF ([[TypedAggs.KmvSketch]]): the
    // same estimator as q59, but computed by a typed Aggregator whose
    // ≤64-long buffer partial-aggregates map-side and merges by min-k
    // union — the shuffle carries one sketch per group per partition,
    // never the hashes. The oracle recomputes via the window
    // formulation; the hash match proves UDAF ≡ declarative. ----
    QuerySpec.sql("q83_kmv_udaf", {
      val h = md5ModSql("CAST(user_id AS VARCHAR)")
      s"""WITH h AS (SELECT DISTINCT event_type, $h AS h FROM events),
         |ranked AS (SELECT event_type, h,
         |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn FROM h),
         |k AS (SELECT event_type, max(h) AS hk, count(*) AS m
         |      FROM ranked WHERE rn <= 64 GROUP BY event_type),
         |exact AS (SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
         |          FROM events GROUP BY event_type)
         |SELECT k.event_type AS event_type,
         |  CASE WHEN m < 64 THEN CAST(m AS DOUBLE)
         |       ELSE (63.0 * 2147483647.0) / CAST(hk AS DOUBLE) END AS est_distinct,
         |  n_exact
         |FROM k JOIN exact ON exact.event_type = k.event_type
         |ORDER BY event_type""".stripMargin
    }) { (s, d) =>
      val ev = Tables.events(s, d)
      val kmv = udaf(graft.functions.TypedAggs.KmvSketch)
      val est = ev.select($"event_type",
          PortableHash.md5Mod($"user_id".cast("string")).as("h"))
        .groupBy($"event_type").agg(kmv($"h").as("est_distinct"))
      val exact = ev.groupBy($"event_type")
        .agg(countDistinct($"user_id").cast("long").as("n_exact"))
      est.join(exact, "event_type").orderBy($"event_type")
    },

    // ---- exact per-stratum quotas: exactly min(20, |stratum|) docs per
    // language, selected by deterministic hash order — the other half of
    // the training-mix toolkit next to q69's rate-based sampling (rates
    // approximate a target size; quotas hit it exactly). Per-group
    // top-k: WindowGroupLimit pushes the limit into the shuffle at
    // scale. Reproducible across engines, runs, and layouts. ----
    QuerySpec.sql("q85_quota_sample", {
      val o = PortableHash.md5LongSql("'quota' || doc_id")
      s"""SELECT doc_id, lang FROM (
         |  SELECT doc_id, lang, row_number() OVER (
         |    PARTITION BY lang ORDER BY $o, doc_id) AS rnk
         |  FROM documents)
         |WHERE rnk <= 20 ORDER BY lang, doc_id""".stripMargin
    }) { (s, d) =>
      Windows.topKPerGroup(
          Tables.documents(s, d).select($"doc_id", $"lang",
            PortableHash.md5Long(concat(lit("quota"), $"doc_id".cast("string"))).as("h")),
          Seq("lang"), Seq($"h".asc, $"doc_id".asc), 20)
        .select($"doc_id", $"lang")
        // trailing sort kept deliberately: output is quota-bounded
        // (≤20 rows per language, languages are low-cardinality), so
        // the range exchange sorts a constant-size result — unlike the
        // data-proportional outputs where the r9/r10 sweep dropped it
        .orderBy($"lang", $"doc_id")
    },

    // ---- PII-style scrubbing: mask digit runs, count redactions per
    // doc. Pure per-row regex (identical `[0-9]+` semantics in Java
    // regex and RE2) — shuffle-free before the output sort,
    // pushdown-friendly; the production pattern set (emails, phones,
    // SSNs) drops into the same shape. ----
    QuerySpec.sql("q80_redact",
      """SELECT doc_id,
        |  regexp_replace(text, '[0-9]+', '#', 'g') AS redacted,
        |  CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_redactions
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select($"doc_id",
          regexp_replace($"text", "[0-9]+", "#").as("redacted"),
          size(regexp_extract_all($"text", lit("[0-9]+"), lit(0))).cast("long")
            .as("n_redactions"))
    },

    // ---- ANN index quality evaluation: recall@3 of the IVF probe
    // (q55's exact shape: 8-centroid deterministic codebook, nprobe=2)
    // against the exact brute-force top-3 over the same universe.
    // "Measure, don't guess": the index's scale win (touching nprobe/k
    // of the data) is only usable if its recall is known — this is the
    // query a pipeline runs on a sample BEFORE trusting the index at
    // 100 TB. The exact side broadcasts the 5 probe vectors and streams
    // candidates once (q47's shape); hits = |IVF∩exact| per query. ----
    QuerySpec.sql("q87_ann_recall",
      s"""WITH $annBaseSql,
         |$ivfCoarseSql,
         |cand AS (SELECT p.q_id, a.vec_id AS c_id
         |  FROM probes p JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.q_id),
         |anndots AS (SELECT cand.q_id, cand.c_id, sum(x.xq * y.xq) AS dot
         |  FROM cand JOIN e x ON x.vec_id = cand.q_id
         |            JOIN e y ON y.vec_id = cand.c_id AND y.i = x.i
         |  GROUP BY cand.q_id, cand.c_id),
         |anncos AS (SELECT q_id, c_id,
         |    CAST(dot AS DOUBLE) / sqrt(CAST(na.nrm AS DOUBLE) * CAST(nb.nrm AS DOUBLE)) AS cosine
         |  FROM anndots JOIN norms na ON na.vec_id = q_id JOIN norms nb ON nb.vec_id = c_id),
         |ann AS (SELECT q_id, c_id FROM (
         |  SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rnk
         |  FROM anncos) WHERE rnk <= 3),
         |$exactTop3Sql
         |SELECT ann.q_id AS q_id,
         |  CAST(count(exact.c_id) AS BIGINT) AS hits,
         |  CAST(count(exact.c_id) AS DOUBLE) / 3.0 AS recall
         |FROM ann LEFT JOIN exact
         |  ON exact.q_id = ann.q_id AND exact.c_id = ann.c_id
         |GROUP BY ann.q_id ORDER BY q_id""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d).filter(size($"embedding") === 64)
        .select($"vec_id", $"embedding", sqNormQ($"embedding").as("nrm"))
      val cents = emb.filter($"vec_id" < 8)
        .select($"vec_id".as("cid"), $"embedding".as("c_emb"), $"nrm".as("c_nrm"))
      val scored = emb.join(broadcast(cents))
        .select($"vec_id", $"embedding", $"nrm", $"cid",
          cosineQ(dotQ($"embedding", $"c_emb"), $"nrm", $"c_nrm").as("ccos"))
      val assign = Windows.topKPerGroup(scored, Seq("vec_id"),
          Seq($"ccos".desc, $"cid"), 1)
        .select($"vec_id", $"embedding", $"nrm", $"cid".as("cell"))
      val probes = Windows.topKPerGroup(
          scored.filter($"vec_id" >= 10 && $"vec_id" < 15), Seq("vec_id"),
          Seq($"ccos".desc, $"cid"), 2)
        .select($"vec_id".as("q_id"), $"embedding".as("q_emb"),
          $"nrm".as("q_nrm"), $"cid".as("cell"))
      val annPairs = assign.join(broadcast(probes), Seq("cell"), "inner")
        .filter($"vec_id" =!= $"q_id")
        .select($"q_id", $"vec_id".as("c_id"),
          cosineQ(dotQ($"q_emb", $"embedding"), $"q_nrm", $"nrm").as("cosine"))
      val ann = Windows.topKPerGroup(annPairs, Seq("q_id"),
          Seq($"cosine".desc, $"c_id"), 3)
        .select($"q_id", $"c_id")
      val queries = probes.select($"q_id", $"q_emb", $"q_nrm").distinct()
      val exPairs = emb.join(broadcast(queries), $"vec_id" =!= $"q_id")
        .select($"q_id", $"vec_id".as("c_id"),
          cosineQ(dotQ($"q_emb", $"embedding"), $"q_nrm", $"nrm").as("cosine"))
      val exact = Windows.topKPerGroup(exPairs, Seq("q_id"),
          Seq($"cosine".desc, $"c_id"), 3)
        .select($"q_id".as("e_qid"), $"c_id".as("e_cid"))
      ann.join(broadcast(exact),
          $"e_qid" === $"q_id" && $"e_cid" === $"c_id", "left")
        .groupBy($"q_id")
        .agg(count($"e_cid").as("hits"),
          (count($"e_cid").cast("double") / 3.0).as("recall"))
        .orderBy($"q_id")
    },

    // ---- count-min sketch heavy hitters: d=4 hash rows × w=256 buckets
    // of the portable hash, estimate(x) = min over rows of its bucket
    // counter. Like KMV (q59/q78/q83) the registers are engine-portable,
    // so the ESTIMATE goes through the hash gate — and the sketch is the
    // 100 TB heavy-hitter path: counters are algebraic (partial-agg
    // map-side, 1024 cells of state total, mergeable across partitions /
    // days / stores), where an exact per-key count of a high-cardinality
    // column shuffles every key. Top-10 via TakeOrderedAndProject; exact
    // counts joined alongside = the overestimate is visible. ----
    QuerySpec.sql("q89_cms_topk", {
      val h = (r: String, v: String) => s"(${PortableHash.md5ModSql(s"'cms' || $r || '|' || $v")} % 256)"
      s"""WITH rws AS (SELECT unnest(generate_series(0, 3)) AS r),
         |hashed AS (SELECT e.user_id, r.r, ${h("r.r", "CAST(e.user_id AS VARCHAR)")} AS b
         |           FROM events e, rws r),
         |counters AS (SELECT r, b, count(*) AS c FROM hashed GROUP BY r, b),
         |uh AS (SELECT DISTINCT user_id, r, b FROM hashed),
         |est AS (SELECT user_id, min(c) AS est
         |        FROM uh JOIN counters USING (r, b) GROUP BY user_id),
         |exact AS (SELECT user_id, count(*) AS n_exact FROM events GROUP BY user_id)
         |SELECT est.user_id AS user_id, est, n_exact
         |FROM est JOIN exact ON exact.user_id = est.user_id
         |ORDER BY est DESC, user_id LIMIT 10""".stripMargin
    }) { (s, d) =>
      val ev = Tables.events(s, d).select($"user_id")
      val bucket = (r: Int) =>
        PortableHash.md5Mod(concat(lit(s"cms$r|"), $"user_id".cast("string"))) % 256
      val hashed = ev.select($"user_id", explode(array((0 until 4).map { r =>
          struct(lit(r).as("r"), bucket(r).as("b"))
        }: _*)).as("rb"))
        .select($"user_id", $"rb.r".as("r"), $"rb.b".as("b"))
      val counters = hashed.groupBy($"r", $"b").agg(count(lit(1)).as("c"))
      // the whole 1024-cell sketch reshaped into ONE row (a map keyed
      // r*256+b), broadcast, probed map-side. b is a pure function of
      // (r, user_id), so DISTINCT (user_id, r, b) ≡ the exact table's
      // user keys × their 4 derived buckets: the estimate is a map
      // lookup on the recomputed bucket over the one unavoidable
      // user-keyed aggregation, min-of-rows as least() — instead of
      // re-shuffling the 4×|events| exploded tuples through a DISTINCT
      // plus a second user-keyed min aggregation (guide §2.3/§2.4: the
      // sketch exists so only its cells and one exact pass ever cross
      // an exchange). Every probed key exists: the user's own events
      // put it there.
      val sketch = counters.agg(map_from_entries(collect_list(
        struct(($"r".cast("long") * 256 + $"b").as("k"), $"c"))).as("m"))
      val exact = ev.groupBy($"user_id").agg(count(lit(1)).as("n_exact"))
      exact.crossJoin(broadcast(sketch))
        .select($"user_id",
          least((0 until 4).map(r =>
            element_at($"m", lit(r * 256L) + bucket(r))): _*).as("est"),
          $"n_exact")
        .orderBy($"est".desc, $"user_id").limit(10)
    },

    // ---- MinHash sketch-quality report: for every LSH candidate pair
    // (q44's bands), the signature-estimated Jaccard (matching
    // components / 16) next to the exact shingle Jaccard — computed ONLY
    // on candidates (exact verify restricted to the bucketed pair space,
    // never all-pairs, and the shingle self-join is semi-joined down to
    // candidate docs first). This is how a pipeline calibrates its
    // banding thresholds on a sample before committing the 100 TB run:
    // the estimate drives candidate generation, the error distribution
    // says whether 16 permutations are enough. ----
    QuerySpec.sql("q91_sketch_error", {
      val eqSum = (0 until 16)
        .map(j => s"(CASE WHEN sa.h$j = sb.h$j THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH $pairsSql,
         |est AS (SELECT p.a_id, p.b_id, $eqSum AS n_eq
         |  FROM pairs p JOIN sig sa ON sa.doc_id = p.a_id
         |               JOIN sig sb ON sb.doc_id = p.b_id),
         |cand AS (SELECT a_id AS doc_id FROM pairs UNION SELECT b_id FROM pairs),
         |grams AS (SELECT DISTINCT s.doc_id, s.sh FROM sh s
         |          JOIN cand c ON c.doc_id = s.doc_id),
         |counts AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_common
         |  FROM grams a JOIN grams b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY a_id, b_id)
         |SELECT e.a_id AS a_id, e.b_id AS b_id, CAST(e.n_eq AS BIGINT) AS n_eq,
         |  CAST(e.n_eq AS DOUBLE) / 16.0 AS est_jaccard,
         |  CAST(coalesce(i.n_common, 0) AS DOUBLE)
         |    / CAST(ca.n + cb.n - coalesce(i.n_common, 0) AS DOUBLE) AS exact_jaccard
         |FROM est e
         |JOIN counts ca ON ca.doc_id = e.a_id
         |JOIN counts cb ON cb.doc_id = e.b_id
         |LEFT JOIN inter i ON i.a_id = e.a_id AND i.b_id = e.b_id
         |ORDER BY a_id, b_id""".stripMargin
    }) { (s, d) =>
      val docs = Tables.documents(s, d)
      // The query's dataflow is a diamond DAG: sig feeds the band
      // self-join AND both sides of the estimate join; pairs feed the
      // estimate AND the candidate set; grams feed counts AND their own
      // self-join. Each reuse point is materialized once
      // (graft.Materialize — the same discipline ConnectedComponents
      // applies to its edge set; at 100 TB these would be signature /
      // candidate tables written once and joined from), otherwise the
      // shingle+md5 pipeline re-executes per branch — the unmaterialized
      // plan re-scans documents 48 times.
      val sig = minhashSig(docs).transform(graft.Materialize(_))
      val pairs = lshPairsFromSig(sig).transform(graft.Materialize(_))
      val eqSum = (0 until 16)
        .map(j => when(col(s"sa.h$j") === col(s"sb.h$j"), 1).otherwise(0))
        .reduce(_ + _)
      val est = pairs
        .join(sig.as("sa"), col("a_id") === col("sa.doc_id"))
        .join(sig.as("sb"), col("b_id") === col("sb.doc_id"))
        .select($"a_id", $"b_id", eqSum.cast("long").as("n_eq"))
      val candIds = pairs
        .select(explode(array($"a_id", $"b_id")).as("doc_id")).distinct()
      // semi-join BEFORE distinct: the dedup shuffle then carries only
      // candidate docs' shingles, not the whole corpus
      val grams = shingles(docs)
        .join(broadcast(candIds), Seq("doc_id"), "left_semi")
        .distinct()
        .transform(graft.Materialize(_))
      val counts = grams.groupBy($"doc_id").agg(count(lit(1)).as("n"))
      val inter = grams.as("a").join(grams.as("b"),
          col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
        .agg(count(lit(1)).as("n_common"))
      est
        .join(counts.select($"doc_id".as("a_id"), $"n".as("n_a")), "a_id")
        .join(counts.select($"doc_id".as("b_id"), $"n".as("n_b")), "b_id")
        .join(inter, Seq("a_id", "b_id"), "left")
        .select($"a_id", $"b_id", $"n_eq",
          ($"n_eq".cast("double") / 16.0).as("est_jaccard"),
          (coalesce($"n_common", lit(0L)).cast("double") /
            ($"n_a" + $"n_b" - coalesce($"n_common", lit(0L))).cast("double"))
            .as("exact_jaccard"))
        .orderBy($"a_id", $"b_id")
    },

    // ---- IVF codebook refinement: one Lloyd (k-means) iteration on the
    // quantized integer domain. Per-cell means truncate through double
    // (sums < 2^53, so the division + trunc is bit-identical in both
    // engines); re-assignment scores every vector against the 8 REFINED
    // centroids (broadcast, one streaming pass — the big side never
    // shuffles for the scoring). Output = members per cell before/after,
    // i.e. how much the codebook moved. The iteration is the missing
    // piece between q55's static codebook and a trained IVF index; at
    // 100 TB each iteration is one aggregation + one broadcast pass,
    // repeated a handful of times on a sample. ----
    QuerySpec.sql("q92_ivf_refine",
      s"""WITH $annBaseSql,
         |cdots AS (SELECT a.vec_id AS vid, b.vec_id AS cid, sum(a.xq * b.xq) AS dot
         |  FROM e a JOIN e b ON b.i = a.i AND b.vec_id < 8
         |  GROUP BY vid, cid),
         |ccos AS (SELECT vid, cid,
         |    CAST(dot AS DOUBLE) / sqrt(CAST(nv.nrm AS DOUBLE) * CAST(nc.nrm AS DOUBLE)) AS cosine
         |  FROM cdots JOIN norms nv ON nv.vec_id = vid JOIN norms nc ON nc.vec_id = cid),
         |assign0 AS (SELECT vid AS vec_id, cid AS cell FROM (
         |  SELECT vid, cid, row_number() OVER (PARTITION BY vid ORDER BY cosine DESC, cid) AS rn
         |  FROM ccos) WHERE rn = 1),
         |sums AS (SELECT a.cell, e.i, sum(e.xq) AS s, count(*) AS cnt
         |  FROM e JOIN assign0 a ON a.vec_id = e.vec_id GROUP BY a.cell, e.i),
         |newc AS (SELECT cell, i,
         |    CAST(trunc(CAST(s AS DOUBLE) / CAST(cnt AS DOUBLE)) AS BIGINT) AS c
         |  FROM sums),
         |newnorm AS (SELECT cell, sum(c * c) AS nrm FROM newc GROUP BY cell),
         |redots AS (SELECT e.vec_id, n.cell, sum(e.xq * n.c) AS dot
         |  FROM e JOIN newc n ON n.i = e.i GROUP BY e.vec_id, n.cell),
         |recos AS (SELECT r.vec_id, r.cell,
         |    CAST(r.dot AS DOUBLE) / sqrt(CAST(nv.nrm AS DOUBLE) * CAST(nn.nrm AS DOUBLE)) AS cosine
         |  FROM redots r JOIN norms nv ON nv.vec_id = r.vec_id
         |                JOIN newnorm nn ON nn.cell = r.cell),
         |assign1 AS (SELECT vec_id, cell FROM (
         |  SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY cosine DESC, cell) AS rn
         |  FROM recos) WHERE rn = 1),
         |bef AS (SELECT cell, count(*) AS n_before FROM assign0 GROUP BY cell),
         |aft AS (SELECT cell, count(*) AS n_after FROM assign1 GROUP BY cell)
         |SELECT bef.cell AS cell, bef.n_before AS n_before,
         |  coalesce(aft.n_after, 0) AS n_after
         |FROM bef LEFT JOIN aft ON aft.cell = bef.cell
         |ORDER BY cell""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d).filter(size($"embedding") === 64)
        .select($"vec_id", $"embedding", sqNormQ($"embedding").as("nrm"))
      val cents = emb.filter($"vec_id" < 8)
        .select($"vec_id".as("cid"), $"embedding".as("c_emb"), $"nrm".as("c_nrm"))
      val scored = emb.join(broadcast(cents))
        .select($"vec_id", $"embedding", $"nrm", $"cid",
          cosineQ(dotQ($"embedding", $"c_emb"), $"nrm", $"c_nrm").as("ccos"))
      val assign0 = Windows.topKPerGroup(scored, Seq("vec_id"),
          Seq($"ccos".desc, $"cid"), 1)
        .select($"vec_id", $"embedding", $"nrm", $"cid".as("cell"))
      // per-(cell, dim) integer sums → truncated-mean refined centroid
      val exploded = assign0
        .select($"cell", posexplode($"embedding").as(Seq("pos", "x")))
        .select($"cell", ($"pos" + 1).as("i"),
          ($"x".cast("double") * lit(1.0e7)).cast("long").as("xq"))
      val sums = exploded.groupBy($"cell", $"i")
        .agg(sum($"xq").as("s"), count(lit(1)).as("cnt"))
      val newc = sums.select($"cell", $"i",
        expr("CAST(CAST(s AS DOUBLE) / CAST(cnt AS DOUBLE) AS LONG)").as("c"))
      val packed = newc.groupBy($"cell")
        .agg(sort_array(collect_list(struct($"i", $"c"))).as("ic"),
          sum($"c" * $"c").as("c_nrm"))
        .select($"cell", expr("transform(ic, p -> p.c)").as("c_arr"), $"c_nrm")
      // score every vector against the 8 refined centroids: broadcast the
      // codebook, stream the big side once (no shuffle of the vectors)
      val rescored = emb.crossJoin(broadcast(packed))
        .select($"vec_id", $"nrm", $"cell",
          // native codegen'd loop (r10): the aggregate(zip_with(...))
          // form ran interpreted per (row, centroid)
          VectorOps.quantizedDotLong($"embedding", $"c_arr").as("dot"),
          $"c_nrm")
        .select($"vec_id", $"cell",
          cosineQ($"dot", $"nrm", $"c_nrm").as("cosine"))
      val assign1 = Windows.topKPerGroup(rescored, Seq("vec_id"),
          Seq($"cosine".desc, $"cell"), 1)
        .select($"vec_id", $"cell")
      val bef = assign0.groupBy($"cell").agg(count(lit(1)).as("n_before"))
      val aft = assign1.groupBy($"cell").agg(count(lit(1)).as("n_after"))
      bef.join(aft, Seq("cell"), "left")
        .select($"cell", $"n_before", coalesce($"n_after", lit(0L)).as("n_after"))
        .orderBy($"cell")
    },

    // ---- sliding-window distinct counts from MERGED per-day sketches:
    // trailing 7-day distinct users per day, computed by unioning the 7
    // daily KMV sketches and re-taking min-64 — the q78 merge identity
    // (min-k of min-k unions = min-k of the union) applied to a moving
    // window. At 100 TB this is THE shape for sliding distinct: store
    // 64 longs per day, answer any window by merging sketches — a
    // direct count(DISTINCT) over each window re-scans the raw stream
    // per window (the `exact` column here exists only to make the
    // estimate's error visible at fixture scale). ----
    QuerySpec.sql("q97_sliding_distinct", {
      val h = md5ModSql("CAST(user_id AS VARCHAR)")
      s"""WITH hd AS (SELECT DISTINCT date_trunc('day', CAST(ts AS TIMESTAMP)) AS d,
         |    $h AS h FROM events),
         |sk AS (SELECT d, h FROM (SELECT d, h,
         |    row_number() OVER (PARTITION BY d ORDER BY h) AS rn FROM hd)
         |  WHERE rn <= 64),
         |days AS (SELECT DISTINCT d FROM hd),
         |win AS (SELECT DISTINCT dd.d, sk.h FROM days dd
         |  JOIN sk ON sk.d BETWEEN dd.d - INTERVAL 6 DAY AND dd.d),
         |ranked AS (SELECT d, h,
         |    row_number() OVER (PARTITION BY d ORDER BY h) AS rn FROM win),
         |k AS (SELECT d, max(h) AS hk, count(*) AS m
         |      FROM ranked WHERE rn <= 64 GROUP BY d),
         |exact AS (SELECT dd.d, CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_exact
         |  FROM events e JOIN days dd
         |    ON date_trunc('day', CAST(e.ts AS TIMESTAMP))
         |       BETWEEN dd.d - INTERVAL 6 DAY AND dd.d
         |  GROUP BY dd.d)
         |SELECT epoch_us(k.d) AS day_us,
         |  CASE WHEN m < 64 THEN CAST(m AS DOUBLE)
         |       ELSE (63.0 * 2147483647.0) / CAST(hk AS DOUBLE) END AS est_7d,
         |  n_exact
         |FROM k JOIN exact ON exact.d = k.d
         |ORDER BY day_us""".stripMargin
    }) { (s, d) =>
      val ev = Tables.events(s, d)
      val hd = ev.select(date_trunc("day", $"ts").as("d"),
        PortableHash.md5Mod($"user_id".cast("string")).as("h")).distinct()
      val sk = Windows.topKPerGroup(hd, Seq("d"), Seq($"h".asc), 64)
        .select($"d", $"h")
      val days = hd.select($"d").distinct()
      // r11 (guide §3, accidental-cartesian): "day within trailing
      // window" used to run as a BETWEEN-predicate broadcast
      // NESTED-LOOP join — |rows| × |days| predicate evaluations (at
      // corpus scale, a scan multiplier by the whole calendar). A
      // 7-day trailing window is a CONSTANT fan-out: explode each row
      // to the 7 window-days it serves MAP-SIDE, then equality
      // hash-join against the existing days. Row counts match the NLJ
      // output exactly (d ∈ [ed, ed+6] ∧ d ∈ days ⇔ ed ∈ [d-6, d]),
      // so every downstream distinct/agg sees identical input.
      def win7(df: DataFrame, dayCol: String): DataFrame = df
        .withColumn("d", explode(expr(
          s"sequence($dayCol, $dayCol + INTERVAL 6 DAYS, INTERVAL 1 DAY)")))
        .drop(dayCol)
        .join(broadcast(days), Seq("d"))
      val win = win7(sk.withColumnRenamed("d", "sd"), "sd")
        .select($"d", $"h").distinct()
      val k = Windows.topKPerGroup(win, Seq("d"), Seq($"h".asc), 64)
        .groupBy($"d").agg(max($"h").as("hk"), count(lit(1)).as("m"))
      val exact = win7(
          ev.select(date_trunc("day", $"ts").as("ed"), $"user_id").distinct(), "ed")
        .groupBy($"d")
        .agg(countDistinct($"user_id").cast("long").as("n_exact"))
      k.join(exact, "d")
        .select(unix_micros($"d").as("day_us"),
          when($"m" < 64, $"m".cast("double"))
            .otherwise((lit(63.0) * lit(2147483647.0)) / $"hk".cast("double"))
            .as("est_7d"),
          $"n_exact")
        .orderBy($"day_us")
    },

    // ---- segment-level exact dedup with reassembly (the RefinedWeb /
    // Falcon "line dedup" pipeline op): segment every document, count
    // each segment across the WHOLE corpus, drop segments that repeat,
    // and stitch the survivors back together in document order. The
    // fixture text has no newlines, so segmentation is deterministic
    // 10-token blocks (production swaps the segmenter — split('\n') —
    // without touching the dataflow). The oracle keeps the
    // string-keyed window formulation; the engine side segments in one
    // codegen'd byte scan ([[graft.functions.ShingleHashes.space_segments]]) and makes
    // the dedup DECISION travel as longs: duplicate counting aggregates
    // 60-bit segment hashes (uniform keys, map-side partials), the
    // per-doc removal set comes back as (doc_id, idx) longs, and
    // segment TEXT crosses exactly ONE exchange — the doc_id join that
    // attaches the removal set — with reassembly doc-local (kept
    // segments re-joined in index order; joining ALL segments with ' '
    // reproduces the original bytes, so undeduplicated docs round-trip
    // exactly). The window-by-segment-string form this replaces
    // shuffled the full corpus text twice. ----
    QuerySpec.sql("q103_segment_dedup",
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |segs AS (SELECT doc_id, gs AS idx,
        |    array_to_string(w[gs*10+1:gs*10+10], ' ') AS seg
        |  FROM (SELECT doc_id, w,
        |          unnest(generate_series(0, CAST(ceil(len(w)/10.0) AS BIGINT) - 1)) AS gs
        |        FROM ws)),
        |flagged AS (SELECT doc_id, idx, seg,
        |    count(*) OVER (PARTITION BY seg) AS cnt FROM segs)
        |SELECT doc_id, count(*) AS n_segments,
        |  CAST(sum(CASE WHEN cnt >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |  coalesce(string_agg(CASE WHEN cnt < 2 THEN seg END, ' ' ORDER BY idx), '') AS kept_text
        |FROM flagged GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      // (doc_id, idx, h) longs — feeds BOTH the duplicate count and the
      // removal join (the q91/q68 diamond lesson: materialize the reuse
      // point or the corpus re-scans twice per branch)
      val segH = Tables.documents(s, d)
        .select($"doc_id",
          posexplode(call_function("space_segments", $"text", lit(10))))
        .select($"doc_id", $"pos".cast("long").as("idx"), $"col.h".as("h"))
        .transform(graft.Materialize(_))
      val dup = segH.groupBy($"h").agg(count(lit(1)).as("cnt"))
        .filter($"cnt" >= 2).select($"h")
      val removed = segH.join(dup, "h") // long-only shuffle
        .groupBy($"doc_id")
        .agg(sort_array(collect_list($"idx")).as("rm"),
          count(lit(1)).as("nrm"))
      Tables.documents(s, d)
        .select($"doc_id",
          call_function("space_segments", $"text", lit(10)).as("sa"))
        .join(removed, Seq("doc_id"), "left") // the ONE text exchange
        .select($"doc_id",
          size($"sa").cast("long").as("n_segments"),
          coalesce($"nrm", lit(0L)).as("n_removed"),
          array_join(expr(
            """transform(filter(sa,
              |  (x, i) -> rm IS NULL OR NOT array_contains(rm, CAST(i AS BIGINT))),
              |  x -> x.seg)""".stripMargin), " ").as("kept_text"))
    },

    // ---- cross-corpus incremental dedup: a NEW batch (odd doc_ids)
    // deduplicated against the EXISTING corpus (even doc_ids) — the
    // "new crawl vs corpus" op a pipeline runs per ingest, where q70 is
    // the per-event streaming form. Exact matches join on the 60-bit
    // content hash (never shuffles raw text); near-dup candidates are a
    // semi-join of the new batch's LSH band keys against the corpus's —
    // at 100 TB the corpus side is a stored signature/band table, so an
    // ingest only signs and probes the NEW batch. Verdict priority:
    // exact_dup > near_dup > keep. ----
    QuerySpec.sql("q105_cross_corpus_dedup", {
      val th = (e: String) => PortableHash.md5LongSql(e)
      s"""WITH ${bandsSqlFor("o", "doc_id % 2 = 0")},
         |${bandsSqlFor("n", "doc_id % 2 = 1")},
         |ex AS (SELECT DISTINCT n.doc_id FROM documents n JOIN documents o
         |       ON o.doc_id % 2 = 0 AND ${th("n.text")} = ${th("o.text")}
         |       WHERE n.doc_id % 2 = 1),
         |near AS (SELECT DISTINCT bn.doc_id FROM bandsn bn
         |         JOIN bandso bo ON bn.band = bo.band AND bn.bkey = bo.bkey)
         |SELECT d.doc_id,
         |  CASE WHEN ex.doc_id IS NOT NULL THEN 'exact_dup'
         |       WHEN near.doc_id IS NOT NULL THEN 'near_dup'
         |       ELSE 'keep' END AS verdict
         |FROM documents d
         |LEFT JOIN ex ON ex.doc_id = d.doc_id
         |LEFT JOIN near ON near.doc_id = d.doc_id
         |WHERE d.doc_id % 2 = 1 ORDER BY d.doc_id""".stripMargin
    }) { (s, d) =>
      // the probe IS the library operator ([[CorpusDedup]]) — the same
      // stateless plan runs on a live stream (StreamingCorpusDedupSpec);
      // here the oracle hash-gates it (and, via the row-form signature,
      // re-proves rowSignature ≡ the oracle's aggregation form)
      val docs = Tables.documents(s, d)
      val old = docs.filter($"doc_id" % 2 === 0)
      // batch path: each index feeds exactly one join, so no
      // materialization is needed (the streaming path's 4-join chain is
      // where the caller materializes — see CorpusDedup's scaladoc)
      CorpusDedup.probe(docs.filter($"doc_id" % 2 === 1),
          CorpusDedup.bandIndex(old), CorpusDedup.hashIndex(old))
    },

    // ---- asymmetric CONTAINMENT on the LSH candidate pairs: |A∩B|/|A|
    // and |A∩B|/|B| — catches A-quoted-inside-B (snippet extraction,
    // boilerplate wrappers) that symmetric Jaccard under-scores: a
    // 50-shingle doc fully inside a 500-shingle doc has J ≈ 0.1 but
    // containment_a = 1.0. Exact verify bounded to the banded candidate
    // space like q91 (never all-pairs); at 0.8 the verdict names the
    // contained side. Divisions are the identical double shape on both
    // engines. ----
    QuerySpec.sql("q107_containment", {
      s"""WITH $pairsSql,
         |cand AS (SELECT a_id AS doc_id FROM pairs UNION SELECT b_id FROM pairs),
         |grams AS (SELECT DISTINCT s.doc_id, s.sh FROM sh s
         |          JOIN cand c ON c.doc_id = s.doc_id),
         |counts AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_common
         |  FROM grams a JOIN grams b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY a_id, b_id),
         |scored AS (
         |  SELECT p.a_id, p.b_id,
         |    CAST(coalesce(i.n_common, 0) AS DOUBLE) / CAST(ca.n AS DOUBLE) AS containment_a,
         |    CAST(coalesce(i.n_common, 0) AS DOUBLE) / CAST(cb.n AS DOUBLE) AS containment_b
         |  FROM pairs p
         |  JOIN counts ca ON ca.doc_id = p.a_id
         |  JOIN counts cb ON cb.doc_id = p.b_id
         |  LEFT JOIN inter i ON i.a_id = p.a_id AND i.b_id = p.b_id)
         |SELECT a_id, b_id, containment_a, containment_b,
         |  CASE WHEN containment_a >= 0.8 AND containment_a >= containment_b THEN 'a_in_b'
         |       WHEN containment_b >= 0.8 THEN 'b_in_a'
         |       ELSE 'none' END AS verdict
         |FROM scored ORDER BY a_id, b_id""".stripMargin
    }) { (s, d) =>
      val docs = Tables.documents(s, d)
      // same reuse-point materialization as q91: pairs feed the
      // candidate set and the final join; grams feed counts and their
      // own self-join
      val pairs = lshPairs(docs).transform(graft.Materialize(_))
      val candIds = pairs
        .select(explode(array($"a_id", $"b_id")).as("doc_id")).distinct()
      val grams = shingles(docs)
        .join(broadcast(candIds), Seq("doc_id"), "left_semi")
        .distinct()
        .transform(graft.Materialize(_))
      val counts = grams.groupBy($"doc_id").agg(count(lit(1)).as("n"))
      val inter = grams.as("a").join(grams.as("b"),
          col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
        .agg(count(lit(1)).as("n_common"))
      val ca = coalesce($"n_common", lit(0L)).cast("double") / $"n_a".cast("double")
      val cb = coalesce($"n_common", lit(0L)).cast("double") / $"n_b".cast("double")
      pairs
        .join(counts.select($"doc_id".as("a_id"), $"n".as("n_a")), "a_id")
        .join(counts.select($"doc_id".as("b_id"), $"n".as("n_b")), "b_id")
        .join(inter, Seq("a_id", "b_id"), "left")
        .select($"a_id", $"b_id",
          ca.as("containment_a"), cb.as("containment_b"),
          when(ca >= 0.8 && ca >= cb, "a_in_b")
            .when(cb >= 0.8, "b_in_a")
            .otherwise("none").as("verdict"))
        .orderBy($"a_id", $"b_id")
    },

    // ---- PQ (product quantization) ANN: the third index family next to
    // hyperplane LSH (q48) and IVF cells (q55). 64 dims → m=4 subspaces
    // × 16 dims, k=8 codewords per subspace (the first 8 vectors'
    // subvectors — the q55 "codebook from the data" convention). ENCODE
    // is shuffle-free: the 8-codeword book rides ONE broadcast single-row
    // cross join and each vector's 4 codes are per-row argmins over
    // codegen'd quantized dots (‖a−b‖² = ‖a‖²+‖b‖²−2a·b on the exact
    // int64 domain — min(struct(d2, cid)) pins ties to the lowest cid,
    // same as the oracle's ORDER BY d2, cid). QUERY is ADC (asymmetric
    // distance computation): each query precomputes a 4×8 distance table
    // against the codebook; a candidate's approximate distance is 4
    // array lookups on its 4-int code — the scan never touches the
    // original floats. At 100 TB the coded table is ~64× smaller than
    // the float corpus, encode/scan are embarrassingly parallel, and the
    // only big-side shuffle is the final per-query top-k window. ----
    QuerySpec.sql("q108_pq_ann",
      s"""WITH $annBaseSql,
         |d2 AS (SELECT a.vec_id, b.vec_id AS cid,
         |    CAST((a.i - 1) // 16 AS INT) AS s,
         |    CAST(sum((a.xq - b.xq) * (a.xq - b.xq)) AS BIGINT) AS d2
         |  FROM e a JOIN e b ON b.i = a.i AND b.vec_id < 8
         |  GROUP BY 1, 2, 3),
         |codes AS (SELECT vec_id, s, cid AS code FROM (
         |    SELECT vec_id, s, cid,
         |      row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, cid) AS rn
         |    FROM d2) WHERE rn = 1),
         |adc AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         |    CAST(sum(q.d2) AS BIGINT) AS adc
         |  FROM codes c JOIN d2 q ON q.s = c.s AND q.cid = c.code
         |  WHERE q.vec_id >= 10 AND q.vec_id < 15 AND c.vec_id <> q.vec_id
         |  GROUP BY q_id, c_id)
         |SELECT q_id, c_id, adc, CAST(rnk AS BIGINT) AS rnk FROM (
         |  SELECT q_id, c_id, adc,
         |    row_number() OVER (PARTITION BY q_id ORDER BY adc, c_id) AS rnk
         |  FROM adc) WHERE rnk <= 3
         |ORDER BY q_id, rnk""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d).filter(size($"embedding") === 64)
      def vsub(c: Column, sI: Int): Column = slice(c, 1 + 16 * sI, 16)
      // the whole codebook as ONE row: array of (cid, c_emb) in cid order
      val cb = emb.filter($"vec_id" < 8)
        .agg(sort_array(collect_list(struct(
          $"vec_id".cast("int").as("cid"), $"embedding".as("c_emb")))).as("cb"))
      def d2To(c: Column, sI: Int): Column = {
        val v = vsub($"embedding", sI)
        val cs = vsub(c.getField("c_emb"), sI)
        VectorOps.sqNormQ(v) + VectorOps.sqNormQ(cs) -
          lit(2L) * VectorOps.dotQ(v, cs)
      }
      def codeFor(sI: Int): Column =
        array_min(transform($"cb", c =>
          struct(d2To(c, sI).as("d2"), c.getField("cid").as("cid"))))
          .getField("cid")
      val withCb = emb.crossJoin(broadcast(cb))
      val coded = withCb.select($"vec_id" +:
        (0 to 3).map(sI => codeFor(sI).as(s"code$sI")): _*)
      // per-query distance tables keyed BY cid (not array position — a
      // missing seed id would silently shift positional lookups while
      // the oracle joins on cid and stays correct)
      val qdf = emb.filter($"vec_id" >= 10 && $"vec_id" < 15)
        .crossJoin(broadcast(cb))
        .select($"vec_id".as("q_id") +:
          (0 to 3).map(sI => transform($"cb", c => struct(
            c.getField("cid").as("cid"), d2To(c, sI).as("d2"))).as(s"dtab$sI")): _*)
      val adc = (0 to 3).map(sI =>
        // native cid-keyed lookup (r10): the element_at(filter(...)) form
        // allocated a filtered array + interpreted lambda per candidate
        VectorOps.adcLookup(col(s"dtab$sI"), col(s"code$sI")))
        .reduce(_ + _)
      val pairs = coded.join(broadcast(qdf), $"vec_id" =!= $"q_id")
        .select($"q_id", $"vec_id".as("c_id"), adc.as("adc"))
      Windows.topKPerGroup(pairs, Seq("q_id"), Seq($"adc".asc, $"c_id"), 3)
        .select($"q_id", $"c_id", $"adc", $"rnk".cast("long").as("rnk"))
        .orderBy($"q_id", $"rnk")
    },

    // ---- BPE merge-pair statistics: the inner statistic of one BPE
    // tokenizer-training iteration — adjacent-symbol pair frequencies
    // over the corpus (weighted by word occurrence; the argmax pair IS
    // the next merge). One explode to words, one explode to the
    // length−1 in-word pairs, one hash-partitioned count, distributed
    // top-20 (TakeOrderedAndProject, never a global sort of the pair
    // table). At 100 TB: pair cardinality is bounded by |alphabet|²,
    // so the aggregate collapses map-side. ----
    QuerySpec.sql("q109_bpe_merges",
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |p AS (SELECT substr(w, CAST(i AS INT), 2) AS pair
        |      FROM (SELECT w, unnest(range(1, len(w))) AS i FROM w))
        |SELECT pair, count(*) AS n FROM p
        |GROUP BY pair ORDER BY n DESC, pair LIMIT 20""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(explode(split($"text", " ")).as("w"))
        .filter(length($"w") >= 2) // sequence(1,0) would step backwards
        .select(explode(expr(
          "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
        .groupBy($"pair").agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"pair")
        .limit(20)
    },

    // ---- banding recall evaluation: the q87 index-quality discipline
    // applied to the DEDUP index — per exact-Jaccard bucket, how many
    // ground-truth near-dup pairs did the 4×4 LSH banding actually
    // catch, next to the analytic catch probability 1−(1−s⁴)⁴ at the
    // bucket midpoint (explicit multiplications — no pow/libm; the
    // formula a pipeline consults to pick (bands, rows) BEFORE the
    // 100 TB run). Ground truth is the q45-style bounded all-pairs
    // space (doc_id < 250) — exactly the sampled-calibration shape:
    // exhaustive truth on a sample, banded candidates from the index. ----
    QuerySpec.sql("q116_band_recall",
      s"""WITH $pairsSql,
         |grams AS (SELECT DISTINCT doc_id, sh FROM sh WHERE doc_id < 250),
         |counts AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_common
         |  FROM grams a JOIN grams b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY a_id, b_id),
         |truth AS (SELECT a_id, b_id,
         |    CAST(n_common AS DOUBLE) / CAST(ca.n + cb.n - n_common AS DOUBLE) AS j
         |  FROM inter JOIN counts ca ON ca.doc_id = a_id
         |             JOIN counts cb ON cb.doc_id = b_id
         |  WHERE CAST(n_common AS DOUBLE) / CAST(ca.n + cb.n - n_common AS DOUBLE) >= 0.02),
         |hits AS (SELECT t.a_id, t.b_id, CAST(floor(t.j * 10) AS INT) AS bucket,
         |    CASE WHEN p.a_id IS NOT NULL THEN 1 ELSE 0 END AS hit
         |  FROM truth t LEFT JOIN pairs p ON p.a_id = t.a_id AND p.b_id = t.b_id)
         |SELECT bucket, CAST(count(*) AS BIGINT) AS n_truth,
         |  CAST(sum(hit) AS BIGINT) AS n_caught,
         |  CAST(sum(hit) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall,
         |  1.0 - (1.0 - s4) * (1.0 - s4) * (1.0 - s4) * (1.0 - s4) AS p_theory
         |FROM (SELECT *,
         |  ((CAST(bucket AS DOUBLE) + 0.5) / 10.0) * ((CAST(bucket AS DOUBLE) + 0.5) / 10.0)
         |    * ((CAST(bucket AS DOUBLE) + 0.5) / 10.0) * ((CAST(bucket AS DOUBLE) + 0.5) / 10.0) AS s4
         |  FROM hits)
         |GROUP BY bucket, s4 ORDER BY bucket""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      // grams feed counts AND their own self-join; pairs probe the hits
      // join — materialize both reuse points (the q91 discipline)
      val grams = shingles(docs).filter($"doc_id" < 250).distinct()
        .transform(graft.Materialize(_))
      val pairs = lshPairs(docs).transform(graft.Materialize(_))
      val counts = grams.groupBy($"doc_id").agg(count(lit(1)).as("n"))
      val inter = grams.as("a").join(grams.as("b"),
          col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
        .agg(count(lit(1)).as("n_common"))
      val jac = $"n_common".cast("double") /
        ($"n_a" + $"n_b" - $"n_common").cast("double")
      val truth = inter
        .join(counts.select($"doc_id".as("a_id"), $"n".as("n_a")), "a_id")
        .join(counts.select($"doc_id".as("b_id"), $"n".as("n_b")), "b_id")
        .select($"a_id", $"b_id", jac.as("j"))
        .filter($"j" >= 0.02)
      val hits = truth.join(
          pairs.select($"a_id".as("pa"), $"b_id".as("pb"), lit(1).as("hit0")),
          $"a_id" === $"pa" && $"b_id" === $"pb", "left")
        .select(floor($"j" * 10).cast("int").as("bucket"),
          coalesce($"hit0", lit(0)).as("hit"))
      val sMid = ($"bucket".cast("double") + 0.5) / 10.0
      val s4 = sMid * sMid * sMid * sMid
      hits.groupBy($"bucket")
        .agg(count(lit(1)).as("n_truth"), sum($"hit").as("n_caught"),
          (sum($"hit").cast("double") / count(lit(1)).cast("double")).as("recall"))
        .withColumn("p_theory",
          lit(1.0) - (lit(1.0) - s4) * (lit(1.0) - s4) * (lit(1.0) - s4) * (lit(1.0) - s4))
        .select($"bucket", $"n_truth", $"n_caught", $"recall", $"p_theory")
        .orderBy($"bucket")
    },

    // ---- fuzzy entity matching (edit-distance join): the entity-
    // resolution dedup exact hashing can't see ("cold anvil" ≈
    // "old anvil"). Discipline for 100 TB: (1) resolve on the DISTINCT
    // entity table, never the raw rows — names ≪ rows, and the counts
    // join fans the verdict back out; (2) token blocking bounds the
    // candidate space to shared-vocabulary blocks (the ER analogue of
    // q44's LSH bands — never all-pairs; production adds a df cap on
    // stopword-like hot tokens exactly like q45 bounds its grams);
    // (3) the exact Levenshtein DP runs only on the bounded candidate
    // set (integer DP — bit-identical in every engine). ----
    QuerySpec.sql("q110_fuzzy_names",
      """WITH names AS (SELECT p_name, CAST(count(*) AS BIGINT) AS n
        |               FROM part GROUP BY p_name),
        |w AS (SELECT p_name, unnest(string_split(p_name, ' ')) AS w FROM names),
        |cand AS (SELECT DISTINCT a.p_name AS a_name, b.p_name AS b_name
        |         FROM w a JOIN w b ON a.w = b.w AND a.p_name < b.p_name),
        |m AS (SELECT a_name, b_name,
        |        CAST(levenshtein(a_name, b_name) AS INT) AS ed
        |      FROM cand WHERE levenshtein(a_name, b_name) <= 2)
        |SELECT a_name, b_name, ed, na.n AS n_a, nb.n AS n_b
        |FROM m JOIN names na ON na.p_name = m.a_name
        |       JOIN names nb ON nb.p_name = m.b_name
        |ORDER BY a_name, b_name""".stripMargin) { (s, d) =>
      // names is the reuse point (token branches a/b + the two counts
      // joins) — materialize once or the raw table is scanned 4×
      // (the q91/q65 discipline; at scale this is the entity table
      // written once)
      val names = Tables.part(s, d)
        .groupBy($"p_name").agg(count(lit(1)).as("n"))
        .transform(graft.Materialize(_))
      val w = names.select($"p_name", explode(split($"p_name", " ")).as("w"))
      val cand = w.as("a").join(w.as("b"),
          col("a.w") === col("b.w") && col("a.p_name") < col("b.p_name"))
        .select(col("a.p_name").as("a_name"), col("b.p_name").as("b_name"))
        .distinct()
      // compute the DP once, filter on the column — filter-then-project
      // with two levenshtein() calls runs the expensive kernel twice
      // per candidate pair
      val m = cand
        .select($"a_name", $"b_name",
          levenshtein($"a_name", $"b_name").as("ed"))
        .filter($"ed" <= 2)
      m.join(names.select($"p_name".as("a_name"), $"n".as("n_a")), "a_name")
        .join(names.select($"p_name".as("b_name"), $"n".as("n_b")), "b_name")
        .select($"a_name", $"b_name", $"ed", $"n_a", $"n_b")
        .orderBy($"a_name", $"b_name")
    },

    // ---- inverted index (segmented posting lists): term → sorted
    // doc-id postings, sharded by doc-id segment — the Lucene layout,
    // not one giant list per term: a stopword's postings at 100 TB
    // never materialize in a single task; each per-(term, segment) list
    // is bounded by the segment size. Global document frequency rides a
    // window over the tiny (term × segment) aggregate — no second scan
    // of the corpus; raw text never shuffles (only (term, doc_id)
    // pairs), and the per-doc DISTINCT happens doc-locally in the same
    // byte scan that tokenizes ([[graft.functions.TextStatsUtil.space_token_counts]]) —
    // the exploded-occurrence global `.distinct()` exchange this
    // replaces shuffled every token occurrence of the corpus.
    // df ≥ 25 keeps the gated output to index-worthy terms.
    // Postings serialize to ONE comma-joined string for the gate: the
    // driver's checker sorts every column (pandas lexsort) and cannot
    // order list cells, so both engines emit the scalar serialization
    // of the same sorted posting list. ----
    QuerySpec.sql("q111_inverted_index",
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |           FROM documents),
        |d AS (SELECT DISTINCT doc_id, term FROM t),
        |seg AS (SELECT term, CAST(doc_id // 100 AS INT) AS seg,
        |          CAST(count(*) AS BIGINT) AS df_seg,
        |          array_to_string(list_sort(list(doc_id)), ',') AS postings
        |        FROM d GROUP BY 1, 2)
        |SELECT term, seg, df, df_seg, postings FROM (
        |  SELECT term, seg, df_seg, postings,
        |    CAST(sum(df_seg) OVER (PARTITION BY term) AS BIGINT) AS df
        |  FROM seg) WHERE df >= 25
        |ORDER BY term, seg""".stripMargin) { (s, d) =>
      val terms = Tables.documents(s, d)
        .select($"doc_id",
          explode(call_function("space_token_counts", $"text")).as("tc"))
        .select($"doc_id", $"tc.term".as("term"))
      val seg = terms
        .groupBy($"term", expr("CAST(doc_id DIV 100 AS INT)").as("seg"))
        .agg(count(lit(1)).as("df_seg"),
          expr("array_join(transform(sort_array(collect_list(doc_id)), x -> CAST(x AS STRING)), ',')").as("postings"))
      seg
        .withColumn("df", sum($"df_seg").over(
          Window.partitionBy($"term")))
        .filter($"df" >= 25)
        .select($"term", $"seg", $"df", $"df_seg", $"postings")
        .orderBy($"term", $"seg")
    },

    // ---- semantic dedup (SemDeDup, arXiv:2303.09540): the THIRD dedup
    // family — MinHash/LSH catches lexical near-dups (q44/q61), this
    // catches SEMANTIC ones (paraphrases the same embedding region).
    // Shape: (1) assign every vector to its nearest coarse-codebook cell
    // — broadcast codebook + argmax, the q55 IVF assign, big side never
    // shuffles; (2) near-dup pairs ONLY within a cell (pair space
    // Σ|cell|² — the codebook size is THE scale knob: k ∝ n/c holds
    // expected cell population at c, exactly the paper's k=50k for
    // LAION); (3) close pairs into clusters (ConnectedComponents — the
    // q64 discipline); (4) keep ONE representative per cluster — the
    // member with LOWEST cosine to its centroid (the paper's keep-
    // farthest-from-centroid rule; ties by vec_id). Oracle replays the
    // identical integer math + a recursive-CTE closure. ----
    QuerySpec.sql("q117_semantic_dedup",
      s"""WITH RECURSIVE e AS (SELECT vec_id,
         |    CAST(trunc(CAST(unnest(embedding) AS DOUBLE) * $QScale) AS BIGINT) AS xq,
         |    unnest(generate_series(1, len(embedding))) AS i
         |  FROM embeddings WHERE len(embedding) = 64),
         |norms AS (SELECT vec_id, sum(xq * xq) AS nrm FROM e GROUP BY vec_id),
         |cdots AS (SELECT a.vec_id AS vid, b.vec_id AS cid, sum(a.xq * b.xq) AS dot
         |  FROM e a JOIN e b ON b.i = a.i AND b.vec_id < 16
         |  GROUP BY vid, cid),
         |ccos AS (SELECT vid, cid,
         |    CAST(dot AS DOUBLE) / sqrt(CAST(nv.nrm AS DOUBLE) * CAST(nc.nrm AS DOUBLE)) AS c
         |  FROM cdots JOIN norms nv ON nv.vec_id = vid
         |             JOIN norms nc ON nc.vec_id = cid),
         |assign AS (SELECT vid AS vec_id, cid AS cell, c AS ccos FROM (
         |  SELECT vid, cid, c,
         |    row_number() OVER (PARTITION BY vid ORDER BY c DESC, cid) AS rn
         |  FROM ccos) WHERE rn = 1),
         |cand AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id
         |  FROM assign a JOIN assign b
         |    ON a.cell = b.cell AND a.vec_id < b.vec_id),
         |pdots AS (SELECT c.a_id, c.b_id, sum(x.xq * y.xq) AS dot
         |  FROM cand c JOIN e x ON x.vec_id = c.a_id
         |              JOIN e y ON y.vec_id = c.b_id AND y.i = x.i
         |  GROUP BY c.a_id, c.b_id),
         |pairs AS (SELECT a_id, b_id
         |  FROM pdots JOIN norms na ON na.vec_id = a_id
         |             JOIN norms nb ON nb.vec_id = b_id
         |  WHERE CAST(dot AS DOUBLE) / sqrt(CAST(na.nrm AS DOUBLE) * CAST(nb.nrm AS DOUBLE)) >= 0.4),
         |edges AS (SELECT a_id AS u, b_id AS v FROM pairs
         |          UNION SELECT b_id, a_id FROM pairs),
         |reach(id, r) AS (
         |  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
         |  UNION
         |  SELECT reach.id, ed.v FROM reach JOIN edges ed ON ed.u = reach.r),
         |labels AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
         |members AS (SELECT a.vec_id, a.cell, a.ccos,
         |    coalesce(l.cluster_id, a.vec_id) AS cluster_id
         |  FROM assign a LEFT JOIN labels l ON l.id = a.vec_id)
         |SELECT vec_id, cell, cluster_id,
         |  CASE WHEN row_number() OVER (PARTITION BY cluster_id
         |    ORDER BY ccos ASC, vec_id) = 1 THEN 'keep' ELSE 'drop' END AS verdict
         |FROM members ORDER BY vec_id""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d).filter(size($"embedding") === 64)
        .select($"vec_id", $"embedding", sqNormQ($"embedding").as("nrm"))
      val cents = emb.filter($"vec_id" < 16)
        .select($"vec_id".as("cid"), $"embedding".as("c_emb"), $"nrm".as("c_nrm"))
      val scored = emb.join(broadcast(cents))
        .select($"vec_id", $"embedding", $"nrm", $"cid",
          cosineQ(dotQ($"embedding", $"c_emb"), $"nrm", $"c_nrm").as("ccos"))
      // assign feeds the pair self-join (both sides) AND the final
      // members projection — materialize the reuse point (q91 discipline;
      // at 100 TB this is the cell-partitioned index written once)
      val assign = Windows.topKPerGroup(scored, Seq("vec_id"),
          Seq($"ccos".desc, $"cid"), 1)
        .select($"vec_id", $"embedding", $"nrm", $"cid".as("cell"), $"ccos")
        .transform(graft.Materialize(_))
      val pairs = assign.as("a").join(assign.as("b"),
          col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"),
          cosineQ(dotQ(col("a.embedding"), col("b.embedding")),
            col("a.nrm"), col("b.nrm")).as("cosine"))
        .filter($"cosine" >= 0.4)
        .select($"a_id", $"b_id")
      val labels = ConnectedComponents.run(pairs, "a_id", "b_id")
      val members = assign.join(labels, assign("vec_id") === labels("node"), "left")
        .select($"vec_id", $"cell",
          coalesce($"component", $"vec_id").as("cluster_id"), $"ccos")
      members
        .withColumn("rn", row_number().over(
          Window.partitionBy($"cluster_id").orderBy($"ccos".asc, $"vec_id")))
        .select($"vec_id", $"cell", $"cluster_id",
          when($"rn" === 1, "keep").otherwise("drop").as("verdict"))
        .orderBy($"vec_id")
    },

    // ---- full Lloyd k-means (the IVF codebook TRAINER — q92 is one
    // refinement step, this is the bounded-iteration loop; see
    // [[KMeans]] for the per-round scale shape: literal-codebook argmax
    // assignment with ZERO shuffle, one (cell, dim) integer-sum shuffle
    // with map-side partials, k·dims longs to the driver between
    // rounds). Gated on the ROUND-3 state: per-cell populations + the
    // trained centroid's integer norm — the oracle unrolls the same
    // three rounds as CTE chains with identical truncating math. ----
    QuerySpec.sql("q119_kmeans", {
      s"""WITH ${lloydSql(3)}
         |SELECT a.cell AS cell, CAST(count(*) AS BIGINT) AS n_members,
         |  CAST(cn.nrm AS BIGINT) AS c_nrm
         |FROM assign3 a JOIN nn3 cn ON cn.cell = a.cell
         |GROUP BY a.cell, cn.nrm ORDER BY cell""".stripMargin
    }) { (s, d) =>
      val emb = Tables.embeddings(s, d).filter(size($"embedding") === 64)
        .select($"vec_id", $"embedding")
      val (cb, assign) = KMeans.train(emb, k = 8, iterations = 3)
      val norms = s.createDataFrame(cb.map(c => (c.cell, c.nrm)))
        .toDF("cell", "c_nrm")
      assign.groupBy($"cell").agg(count(lit(1)).as("n_members"))
        .join(broadcast(norms), "cell")
        .select($"cell", $"n_members", $"c_nrm")
        .orderBy($"cell")
    },

    // ---- the full ANN index LIFECYCLE composed end-to-end: train the
    // codebook (q119's three Lloyd rounds), partition the corpus by the
    // TRAINED cells, probe the 2 nearest trained cells per query and
    // rank only those candidates — q55's IVF probe running against a
    // learned index instead of raw seed vectors. Same scale shapes as
    // its parts: zero-shuffle assignment, broadcast codebook scoring,
    // probing touches nprobe/k of the data. ----
    QuerySpec.sql("q120_trained_ivf", {
      s"""WITH ${lloydSql(3)},
         |qd AS (SELECT e.vec_id AS q_id, n.cell, sum(e.xq * n.c) AS dot
         |  FROM e JOIN newc3 n ON n.i = e.i
         |  WHERE e.vec_id >= 10 AND e.vec_id < 15 GROUP BY q_id, n.cell),
         |qc AS (SELECT q.q_id, q.cell,
         |    CAST(q.dot AS DOUBLE) / sqrt(CAST(nv.nrm AS DOUBLE) * CAST(cn.nrm AS DOUBLE)) AS cosine
         |  FROM qd q JOIN norms nv ON nv.vec_id = q.q_id
         |            JOIN nn3 cn ON cn.cell = q.cell),
         |probes AS (SELECT q_id, cell FROM (
         |  SELECT q_id, cell,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, cell) AS rn
         |  FROM qc) WHERE rn <= 2),
         |cand AS (SELECT p.q_id, a.vec_id AS c_id, a.cell
         |  FROM probes p JOIN assign3 a ON a.cell = p.cell AND a.vec_id <> p.q_id),
         |pd AS (SELECT cand.q_id, cand.c_id, cand.cell, sum(x.xq * y.xq) AS dot
         |  FROM cand JOIN e x ON x.vec_id = cand.q_id
         |            JOIN e y ON y.vec_id = cand.c_id AND y.i = x.i
         |  GROUP BY cand.q_id, cand.c_id, cand.cell),
         |pc AS (SELECT q_id, c_id, cell,
         |    CAST(dot AS DOUBLE) / sqrt(CAST(na.nrm AS DOUBLE) * CAST(nb.nrm AS DOUBLE)) AS cosine
         |  FROM pd JOIN norms na ON na.vec_id = q_id
         |          JOIN norms nb ON nb.vec_id = c_id)
         |SELECT q_id, c_id, cell, cosine, CAST(rnk AS BIGINT) AS rnk FROM (
         |  SELECT q_id, c_id, cell, cosine,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rnk
         |  FROM pc) WHERE rnk <= 3
         |ORDER BY q_id, rnk""".stripMargin
    }) { (s, d) =>
      val emb = Tables.embeddings(s, d).filter(size($"embedding") === 64)
        .select($"vec_id", $"embedding")
      val (cb, assign) = KMeans.train(emb, k = 8, iterations = 3)
      val cents = broadcast(
        s.createDataFrame(cb.map(c => (c.cell, c.c, c.nrm)))
          .toDF("cell", "c_arr", "c_nrm"))
      // base feeds the index join AND the query side — materialize the
      // reuse point (q91 discipline) or embeddings re-scans per branch
      val base = emb.select($"vec_id", $"embedding", sqNormQ($"embedding").as("nrm"))
        .transform(graft.Materialize(_))
      // corpus partitioned by TRAINED cell (the built index)
      val indexed = base.join(assign, "vec_id")
      // query side: score the 5 probe vectors against the broadcast
      // trained codebook, keep the 2 nearest cells each
      val qscored = base.filter($"vec_id" >= 10 && $"vec_id" < 15)
        .crossJoin(cents)
        .select($"vec_id".as("q_id"), $"embedding".as("q_emb"),
          $"nrm".as("q_nrm"), $"cell",
          // native codegen'd loop (r10, was interpreted zip_with)
          cosineQ(VectorOps.quantizedDotLong($"embedding", $"c_arr"),
            $"nrm", $"c_nrm").as("ccos"))
      val probes = Windows.topKPerGroup(qscored, Seq("q_id"),
          Seq($"ccos".desc, $"cell"), 2)
        .select($"q_id", $"q_emb", $"q_nrm", $"cell")
      val pairs = indexed.join(broadcast(probes), Seq("cell"))
        .filter($"vec_id" =!= $"q_id")
        .select($"q_id", $"vec_id".as("c_id"), $"cell",
          cosineQ(dotQ($"q_emb", $"embedding"), $"q_nrm", $"nrm").as("cosine"))
      Windows.topKPerGroup(pairs, Seq("q_id"), Seq($"cosine".desc, $"c_id"), 3)
        .select($"q_id", $"c_id", $"cell", $"cosine", $"rnk".cast("long").as("rnk"))
        .orderBy($"q_id", $"rnk")
    },

    // ---- weighted Bernoulli sampling, exact-integer form — the FOURTH
    // sampling mode (q60 fixed-rate, q69 stratified rates, q85 exact
    // quotas): keep each doc with probability proportional to its
    // weight (n_chars as the stand-in quality weight), P(keep) =
    // w/max_w, decided by integer cross-multiplication h·max_w < w·P —
    // no division, no libm, no float boundary. Like q60 it is a PURE
    // FILTER: pushdown-friendly, layout-independent, reproducible
    // across engines and re-runs (the property that makes a training
    // mix auditable). max_w is one tiny aggregate broadcast to the
    // scan. ----
    QuerySpec.sql("q123_weighted_sample", {
      val h = md5ModSql("CAST(doc_id AS VARCHAR)")
      s"""WITH mw AS (SELECT max(n_chars) AS mw FROM documents),
         |s AS (SELECT doc_id, lang, n_chars, $h AS h FROM documents)
         |SELECT doc_id, lang, n_chars,
         |  CAST(n_chars AS DOUBLE) / CAST(mw.mw AS DOUBLE) AS p_keep
         |FROM s CROSS JOIN mw
         |WHERE s.h * mw.mw < s.n_chars * $P
         |ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      val docs = Tables.documents(s, d)
      val mw = docs.agg(max($"n_chars").as("mw"))
      docs.select($"doc_id", $"lang", $"n_chars",
          PortableHash.md5Mod($"doc_id".cast("string")).as("h"))
        .crossJoin(broadcast(mw))
        .filter($"h" * $"mw" < $"n_chars" * lit(P))
        .select($"doc_id", $"lang", $"n_chars",
          ($"n_chars".cast("double") / $"mw".cast("double")).as("p_keep"))
    },

    // ---- KMV SET OPERATIONS: the estimator q59/q78 stop at distinct
    // counts; audience-overlap questions (how many users are in BOTH
    // cohorts?) need the intersection, and at 100 TB the cohorts are
    // sketches, not row sets. KMV gives it without touching the rows
    // again: union sketch = min-k of the two sketches' union (the q78
    // merge identity); Jaccard estimate = |union-k ∩ A-k ∩ B-k| / k;
    // intersection estimate = J · union-estimate. Everything derives
    // from 2×64 stored longs — the sketch algebra a cohort store
    // actually serves. Estimates themselves hash-gate (portable md5
    // domain, q59 discipline: CASE-exact below k, identical IEEE
    // expression text in both engines), exact counts ride along so the
    // error is visible. Cohorts: high-value purchasers vs high-value
    // viewers (value > 90). ----
    QuerySpec.sql("q125_kmv_intersect", {
      val h = md5ModSql("CAST(user_id AS VARCHAR)")
      def estU = "CASE WHEN mu < 64 THEN CAST(mu AS DOUBLE) " +
        "ELSE (63.0 * 2147483647.0) / CAST(hk AS DOUBLE) END"
      s"""WITH a AS (SELECT DISTINCT $h AS h FROM events
         |           WHERE event_type = 'purchase' AND value > 90),
         |b AS (SELECT DISTINCT $h AS h FROM events
         |      WHERE event_type = 'view' AND value > 90),
         |sa AS (SELECT h FROM a ORDER BY h LIMIT 64),
         |sb AS (SELECT h FROM b ORDER BY h LIMIT 64),
         |su AS (SELECT h FROM (SELECT DISTINCT h FROM (
         |         SELECT h FROM sa UNION ALL SELECT h FROM sb))
         |       ORDER BY h LIMIT 64),
         |k AS (SELECT max(h) AS hk, count(*) AS mu FROM su),
         |mt AS (SELECT count(*) AS matched FROM su
         |       WHERE h IN (SELECT h FROM sa) AND h IN (SELECT h FROM sb)),
         |ex AS (SELECT
         |  (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM events
         |     WHERE event_type = 'purchase' AND value > 90) AS n_a_exact,
         |  (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM events
         |     WHERE event_type = 'view' AND value > 90) AS n_b_exact,
         |  (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM events
         |     WHERE event_type = 'purchase' AND value > 90
         |       AND user_id IN (SELECT user_id FROM events
         |                       WHERE event_type = 'view' AND value > 90)) AS n_and_exact)
         |SELECT n_a_exact, n_b_exact, n_and_exact,
         |  CAST(matched AS BIGINT) AS matched,
         |  $estU AS est_union,
         |  (CAST(matched AS DOUBLE) / CAST(mu AS DOUBLE)) * ($estU) AS est_intersect
         |FROM k, mt, ex""".stripMargin
    }) { (s, d) =>
      val ev = Tables.events(s, d)
      def cohort(t: String) = ev
        .filter($"event_type" === t && $"value" > 90)
      def sketch(t: String) = cohort(t)
        .select(PortableHash.md5Mod($"user_id".cast("string")).as("h"))
        .distinct().orderBy($"h".asc).limit(64) // TakeOrdered: min-k, distributed
      val sa = sketch("purchase").transform(graft.Materialize(_))
      val sb = sketch("view").transform(graft.Materialize(_))
      val su = sa.unionAll(sb).distinct().orderBy($"h".asc).limit(64)
        .transform(graft.Materialize(_))
      val k = su.agg(max($"h").as("hk"), count(lit(1)).as("mu"))
      val mt = su.join(sa.select($"h"), Seq("h"), "left_semi")
        .join(sb.select($"h"), Seq("h"), "left_semi")
        .agg(count(lit(1)).as("matched"))
      val exA = cohort("purchase").agg(countDistinct($"user_id").cast("long").as("n_a_exact"))
      val exB = cohort("view").agg(countDistinct($"user_id").cast("long").as("n_b_exact"))
      val exAnd = cohort("purchase")
        .join(cohort("view").select($"user_id").distinct(), Seq("user_id"), "left_semi")
        .agg(countDistinct($"user_id").cast("long").as("n_and_exact"))
      val estU = when($"mu" < 64, $"mu".cast("double"))
        .otherwise((lit(63.0) * lit(2147483647.0)) / $"hk".cast("double"))
      k.crossJoin(mt).crossJoin(exA).crossJoin(exB).crossJoin(exAnd)
        .select($"n_a_exact", $"n_b_exact", $"n_and_exact",
          $"matched".cast("long").as("matched"),
          estU.as("est_union"),
          (($"matched".cast("double") / $"mu".cast("double")) * estU)
            .as("est_intersect"))
    },

    // ---- IVF-PQ with RESIDUAL encoding — the production composition of
    // the index families (the FAISS IVFPQ layout): q55's coarse cells
    // give LOCALITY, q108's product quantizer compresses what remains
    // AFTER the centroid is subtracted. Residuals are centered near 0,
    // so the same codebook budget quantizes them far more precisely
    // than raw vectors — the reason every production ANN system encodes
    // residuals, not vectors. Pipeline (all exact int64): (1) assign
    // each vector to its nearest coarse centroid (vec_id < 8, the q55
    // convention); (2) residual r = xq − centroid, componentwise;
    // (3) PQ codebook = the residuals of vec_id 8..15 (deterministic,
    // non-trivial — the seeds' own residuals are zero), m=4 subspaces ×
    // 16 dims; (4) encode: per-subspace argmin ‖r_s − cw_s‖², ties to
    // the lower cid; (5) query: probe the 2 nearest cells; the query
    // residual is PER PROBED CELL, each with its own 4×8 ADC table
    // keyed by cid (the q108 fix); candidate distance = 4 lookups on
    // its stored code. At 100 TB: the coded table is ~64× smaller than
    // the floats AND cell-partitioned, so a probe reads nprobe/k of a
    // compressed corpus; encode is shuffle-free (centroids + codebook
    // are driver-sized literals by definition). ----
    QuerySpec.sql("q129_ivfpq_ann",
      s"""WITH $annBaseSql,
         |$ivfPqSqlChain
         |SELECT q_id, c_id, cell, adc, CAST(rnk AS BIGINT) AS rnk
         |FROM pqtop ORDER BY q_id, rnk""".stripMargin) { (s, d) =>
      ivfPqTop3(s, d)
        .select($"q_id", $"c_id", $"cell", $"adc", $"rnk".cast("long").as("rnk"))
        .orderBy($"q_id", $"rnk")
    },

    // ---- IVF-PQ recall evaluation — the q87 index-quality discipline
    // applied to the COMPRESSED index: recall@3 of q129's ADC ranking vs
    // the exact brute-force ground truth. q87 measures cell-miss loss
    // (IVF with exact re-rank); this adds the PQ approximation loss on
    // top — the number a production team watches when sizing
    // (m, k, nprobe) for a compressed corpus. Same bounded query set,
    // ground truth exhaustive over the corpus. The fixture's recall is
    // deliberately LOW (0–1/3 per query): 8 untrained codewords per
    // subspace quantize coarsely, and THAT gap vs q87's exact-re-rank
    // recall is precisely what this gate exposes. The production fix —
    // per-subspace Lloyd-trained codebooks + exact re-rank of a wider
    // ADC shortlist — is BUILT and gated as q134_ivfpq_trained, whose
    // output measures both recalls side by side (trained strictly
    // higher on both fixtures). This gate stays as the untrained
    // baseline the improvement is measured against. ----
    QuerySpec.sql("q130_ivfpq_recall",
      s"""WITH $annBaseSql,
         |$ivfPqSqlChain,
         |ann AS (SELECT q_id, c_id FROM pqtop),
         |$exactTop3Sql
         |SELECT ann.q_id AS q_id,
         |  CAST(count(exact.c_id) AS BIGINT) AS hits,
         |  CAST(count(exact.c_id) AS DOUBLE) / 3.0 AS recall
         |FROM ann LEFT JOIN exact
         |  ON exact.q_id = ann.q_id AND exact.c_id = ann.c_id
         |GROUP BY ann.q_id ORDER BY q_id""".stripMargin) { (s, d) =>
      val ctx = ivfPqCtx(s, d)
      val ann = ivfPqTop3(ctx).select($"q_id", $"c_id")
      recallAgainst(ann, exactTop3Df(ctx.emb), "hits", "recall")
        .orderBy($"q_id")
    },

    // ---- TRAINED IVF-PQ — the production fix q130 exposes the need
    // for, gated end-to-end: per-subspace Lloyd-trained codebooks
    // (the q119 loop applied to the RESIDUAL subvectors — centered
    // data is what PQ training exists for) + ADC scan of the SAME
    // probed-cell candidate set into a PqRefineWidth-wide (48 = 16×k)
    // shortlist + EXACT re-rank
    // of the shortlist (the asymmetric-distance discipline: the
    // compressed code picks candidates, the true vectors pick
    // winners). Output carries BOTH recalls — the untrained q130
    // number and the trained one — so the improvement is measured in
    // the gate, not assumed. At 100 TB: training cost is `rounds` ×
    // (one shuffle-free encode pass + one k·m·dims-bounded partial
    // agg); the re-rank touches only shortlist·queries true vectors. ----
    QuerySpec.sql("q134_ivfpq_trained",
      s"""WITH $annBaseSql,
         |$ivfPqSqlChain,
         |${pqTrainedSqlChain(PqTrainRounds)},
         |$exactTop3Sql,
         |ru AS (SELECT p.q_id, count(x.c_id) AS hits
         |  FROM (SELECT q_id, c_id FROM pqtop) p LEFT JOIN exact x
         |    ON x.q_id = p.q_id AND x.c_id = p.c_id GROUP BY p.q_id),
         |rt AS (SELECT t.q_id, count(x.c_id) AS hits
         |  FROM ttop t LEFT JOIN exact x
         |    ON x.q_id = t.q_id AND x.c_id = t.c_id GROUP BY t.q_id)
         |SELECT ru.q_id AS q_id,
         |  CAST(ru.hits AS BIGINT) AS hits_untrained,
         |  CAST(ru.hits AS DOUBLE) / 3.0 AS recall_untrained,
         |  CAST(rt.hits AS BIGINT) AS hits_trained,
         |  CAST(rt.hits AS DOUBLE) / 3.0 AS recall_trained
         |FROM ru JOIN rt ON rt.q_id = ru.q_id ORDER BY q_id""".stripMargin) { (s, d) =>
      val ctx = ivfPqCtx(s, d)
      val exact = exactTop3Df(ctx.emb).transform(graft.Materialize(_)) // reused twice
      val untrained = ivfPqTop3(ctx).select($"q_id", $"c_id")
      val cwT = trainPqCodebook(ctx.resid, ctx.cwSeed, PqTrainRounds)
      val short = Windows.topKPerGroup(
          ivfPqAdcPairs(ctx, cwT).select($"q_id", $"c_id", $"adc"),
          Seq("q_id"), Seq($"adc".asc, $"c_id"), PqRefineWidth)
        .select($"q_id", $"c_id")
      val embQ = ctx.emb.select($"vec_id".as("q_id"),
        $"embedding".as("q_emb"), $"nrm".as("q_nrm"))
      val embC = ctx.emb.select($"vec_id".as("c_id"),
        $"embedding".as("c_emb"), $"nrm".as("c_nrm"))
      val rr = embC.join(broadcast(short.join(broadcast(embQ), Seq("q_id"))), Seq("c_id"))
        .select($"q_id", $"c_id",
          cosineQ(dotQ($"q_emb", $"c_emb"), $"q_nrm", $"c_nrm").as("cosine"))
      val trained = Windows.topKPerGroup(rr, Seq("q_id"),
          Seq($"cosine".desc, $"c_id"), 3)
        .select($"q_id", $"c_id")
      recallAgainst(untrained, exact, "hits_untrained", "recall_untrained")
        .join(recallAgainst(trained, exact, "hits_trained", "recall_trained"),
          Seq("q_id"))
        .orderBy($"q_id")
    },

    // ---- skew-bounded LSH banding over the TEXT chain — q44's
    // candidate generation through [[Skew.boundedBucketPairs]]: buckets
    // whose population exceeds the cap are dropped WHOLE before the
    // self-join, bounding output at buckets × cap² (the guard against
    // boilerplate/empty-signature buckets going quadratic — see q138
    // and SCALING.md's measured exponent for the unbounded case). Cap 2
    // is fixture-sized so BOTH branches gate at sf0.01 (population-3
    // buckets exist and are dropped; population-2 pairs survive). ----
    QuerySpec.sql("q137_bounded_banding",
      s"""WITH $pairsSql,
         |pops AS (SELECT band, bkey, count(*) AS pop FROM bands
         |  GROUP BY band, bkey),
         |kept AS (SELECT b.doc_id, b.band, b.bkey FROM bands b
         |  JOIN pops p ON p.band = b.band AND p.bkey = b.bkey
         |             AND p.pop <= $TextBucketCap),
         |bpairs AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM kept a JOIN kept b
         |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
         |SELECT a_id, b_id FROM bpairs ORDER BY a_id, b_id""".stripMargin) { (s, d) =>
      Skew.boundedBucketPairs(bandKeys(minhashSig(Tables.documents(s, d))),
          Seq("band", "bkey"), "doc_id", TextBucketCap)
        .orderBy($"a_id", $"b_id")
    },

    // ---- recall-measured STAR-mode banding cap (VERDICT r5 #2):
    // q137's drop-whole cap loses EVERY pair of a hot bucket whose
    // members are non-identical near-dups. [[Skew.boundedBucketPairsStar]]
    // keeps O(pop) representative star edges instead, preserving
    // connected components EXACTLY while staying pair-bounded. This gate
    // measures — in one hash-compared row — both pair recalls in basis
    // points (capped/drop vs star, against the unbounded enumeration,
    // integer floor-division so both engines agree bit-exactly) AND
    // component equality (full-outer label compare + component counts),
    // on the real fixture whose population-3 buckets at the cap-2 knob
    // are exactly the non-identical-near-dup shape the drop mode is
    // blind to. At 100 TB the three pair sets share one materialized
    // bucket table; components come from the q64 star-alternation. ----
    QuerySpec.sql("q139_star_banding",
      s"""WITH RECURSIVE $pairsSql,
         |pops AS (SELECT band, bkey, count(*) AS pop FROM bands
         |  GROUP BY band, bkey),
         |kept AS (SELECT b.doc_id, b.band, b.bkey FROM bands b
         |  JOIN pops p ON p.band = b.band AND p.bkey = b.bkey
         |             AND p.pop <= $TextBucketCap),
         |bpairs AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM kept a JOIN kept b
         |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |overb AS (SELECT b.doc_id, b.band, b.bkey FROM bands b
         |  JOIN pops p ON p.band = b.band AND p.bkey = b.bkey
         |             AND p.pop > $TextBucketCap),
         |reps AS (SELECT band, bkey, min(doc_id) AS rep FROM overb
         |  GROUP BY band, bkey),
         |stars AS (SELECT DISTINCT a_id, b_id FROM (
         |  SELECT r.rep AS a_id, o.doc_id AS b_id FROM overb o
         |    JOIN reps r ON r.band = o.band AND r.bkey = o.bkey
         |  WHERE o.doc_id <> r.rep
         |  UNION SELECT a_id, b_id FROM bpairs)),
         |tedges AS (SELECT a_id AS u, b_id AS v FROM pairs
         |           UNION SELECT b_id, a_id FROM pairs),
         |sedges AS (SELECT a_id AS u, b_id AS v FROM stars
         |           UNION SELECT b_id, a_id FROM stars),
         |treach(id, r) AS (
         |  SELECT u, u FROM (SELECT DISTINCT u FROM tedges)
         |  UNION
         |  SELECT treach.id, e.v FROM treach JOIN tedges e ON e.u = treach.r),
         |tlabels AS (SELECT id, min(r) AS c FROM treach GROUP BY id),
         |sreach(id, r) AS (
         |  SELECT u, u FROM (SELECT DISTINCT u FROM sedges)
         |  UNION
         |  SELECT sreach.id, e.v FROM sreach JOIN sedges e ON e.u = sreach.r),
         |slabels AS (SELECT id, min(r) AS c FROM sreach GROUP BY id),
         |cmp AS (SELECT count(*) AS n_nodes,
         |    count(*) FILTER (WHERE t.c IS DISTINCT FROM s.c) AS n_label_mismatch,
         |    count(DISTINCT t.c) AS n_comp_true,
         |    count(DISTINCT s.c) AS n_comp_star
         |  FROM tlabels t FULL JOIN slabels s ON s.id = t.id),
         |m AS (SELECT
         |    (SELECT count(*) FROM pairs) AS n_true_pairs,
         |    (SELECT count(*) FROM bpairs) AS n_capped_pairs,
         |    (SELECT count(*) FROM stars) AS n_star_pairs)
         |SELECT m.n_true_pairs, m.n_capped_pairs, m.n_star_pairs,
         |  m.n_capped_pairs * 10000 // m.n_true_pairs AS recall_capped_bp,
         |  m.n_star_pairs * 10000 // m.n_true_pairs AS recall_star_bp,
         |  cmp.n_nodes, cmp.n_label_mismatch, cmp.n_comp_true, cmp.n_comp_star
         |FROM m, cmp""".stripMargin) { (s, d) =>
      val bands = bandKeys(minhashSig(Tables.documents(s, d))).transform(graft.Materialize(_))
      val truePairs = bands.as("a").join(bands.as("b"),
          $"a.band" === $"b.band" && $"a.bkey" === $"b.bkey" &&
            $"a.doc_id" < $"b.doc_id")
        .select($"a.doc_id".as("a_id"), $"b.doc_id".as("b_id"))
        .distinct().transform(graft.Materialize(_))
      val capped = Skew.boundedBucketPairs(bands, Seq("band", "bkey"), "doc_id",
        TextBucketCap)
      val star = Skew.boundedBucketPairsStar(bands, Seq("band", "bkey"), "doc_id",
        TextBucketCap).transform(graft.Materialize(_))
      val compTrue = graft.operators.ConnectedComponents.run(truePairs, "a_id", "b_id")
      val compStar = graft.operators.ConnectedComponents.run(star, "a_id", "b_id")
      val cmp = compTrue.select($"node", $"component".as("c_t"))
        .join(compStar.select($"node", $"component".as("c_s")), Seq("node"), "full_outer")
        .agg(count(lit(1)).as("n_nodes"),
          count(when(!($"c_t" <=> $"c_s"), lit(1))).as("n_label_mismatch"),
          countDistinct($"c_t").as("n_comp_true"),
          countDistinct($"c_s").as("n_comp_star"))
      truePairs.agg(count(lit(1)).as("n_true_pairs"))
        .crossJoin(capped.agg(count(lit(1)).as("n_capped_pairs")))
        .crossJoin(star.agg(count(lit(1)).as("n_star_pairs")))
        .withColumn("recall_capped_bp", expr("n_capped_pairs * 10000L div n_true_pairs"))
        .withColumn("recall_star_bp", expr("n_star_pairs * 10000L div n_true_pairs"))
        .crossJoin(cmp)
    },

    // ---- REAL compressed-image decode through the multimodal boundary
    // ([[Multimodal.FrameDecoder.png]], JDK ImageIO — no external
    // library): per-doc grayscale PNG blobs → decode → one frame per
    // pixel ROW → hex + md5 per row. The oracle never sees a PNG: it
    // recomputes the ground-truth pixel bytes from the same
    // (doc_id, x, y) generator, so a green hash proves the compressed
    // encode→decode round trip is LOSSLESS, and the corrupt population
    // (doc_id % 7 == 3, signature smashed post-encode) drops to zero
    // rows on the Spark side exactly as the oracle's WHERE excludes it —
    // corrupt media degrades the corpus, never the job. Decode is
    // mapPartitions, no shuffle; only (id, idx, W-byte row) crosses the
    // stage boundary, never blobs. ----
    QuerySpec.sql("q140_png_frames",
      """WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents
        |  WHERE doc_id % 7 <> 3),
        |rws AS (SELECT doc_id,
        |    unnest(generate_series(0, 7 + doc_id % 5)) AS y FROM ids),
        |px AS (SELECT doc_id, y, unnest(generate_series(0, 31)) AS x FROM rws),
        |hx AS (SELECT doc_id, y,
        |    string_agg(printf('%02X', CAST((doc_id + 7 * x + 13 * y) % 256 AS INT)),
        |               '' ORDER BY x) AS row_hex
        |  FROM px GROUP BY doc_id, y)
        |SELECT doc_id, CAST(y AS BIGINT) AS frame_idx, 32 AS n_bytes,
        |  row_hex, md5(row_hex) AS row_md5
        |FROM hx""".stripMargin) { (s, d) =>
      val frames = Multimodal.decodedRows(
        Multimodal.pngFixture(Tables.documents(s, d), width = 32),
        "doc_id", "blob", Multimodal.FrameDecoder.png)
      frames.select($"media_id".as("doc_id"),
          $"frame_idx".cast("long").as("frame_idx"), $"n_bytes",
          hex($"bytes").as("row_hex"))
        .withColumn("row_md5", md5(encode($"row_hex", "UTF-8")))
    },

    // ---- multimodal → similarity-search, END TO END under one gate:
    // real PNG decode ([[Multimodal.FrameDecoder.png]]) → per-frame
    // byte-histogram features ([[Multimodal.extractFrames]], the
    // embedding-model stand-in) → per-doc feature vector (frame sum) →
    // exact cosine top-3 neighbors. The oracle recomputes the features
    // from the pixel GENERATOR (never decoding a PNG), so a green hash
    // proves decode + feature extraction + the integer-exact cosine
    // ranking compose losslessly — the q47 discipline (integer dot /
    // norm, one deterministic double division + sqrt at the end, ties
    // → lower c_id) applied to decoded media instead of stored
    // embeddings. Bounded query set (doc_id < 60 minus the corrupt
    // population) keeps the all-pairs oracle fixture-sized; the scale
    // path for real corpora is the q48/q55 LSH/IVF candidate
    // generation over the same feature rows. ----
    QuerySpec.sql("q142_png_ann",
      """WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents
        |  WHERE doc_id < 60 AND doc_id % 7 <> 3),
        |rws AS (SELECT doc_id,
        |    unnest(generate_series(0, 7 + doc_id % 5)) AS y FROM ids),
        |px AS (SELECT doc_id, y, unnest(generate_series(0, 31)) AS x FROM rws),
        |hist AS (SELECT doc_id,
        |    CAST(((doc_id + 7 * x + 13 * y) % 256) // 16 AS INT) AS i,
        |    count(*) AS c
        |  FROM px GROUP BY doc_id, i),
        |norms AS (SELECT doc_id, sum(c * c) AS nrm FROM hist GROUP BY doc_id),
        |dots AS (SELECT a.doc_id AS q_id, b.doc_id AS c_id, sum(a.c * b.c) AS dot
        |  FROM hist a JOIN hist b ON b.i = a.i AND b.doc_id <> a.doc_id
        |  GROUP BY q_id, c_id),
        |cs AS (SELECT q_id, c_id,
        |    CAST(dot AS DOUBLE) / sqrt(CAST(na.nrm AS DOUBLE) * CAST(nb.nrm AS DOUBLE)) AS cosine
        |  FROM dots JOIN norms na ON na.doc_id = q_id
        |            JOIN norms nb ON nb.doc_id = c_id)
        |SELECT q_id, c_id, cosine, CAST(rnk AS BIGINT) AS rnk FROM (
        |  SELECT q_id, c_id, cosine,
        |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rnk
        |  FROM cs)
        |WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin) { (s, d) =>
      val fix = Multimodal.pngFixture(
        Tables.documents(s, d).filter($"doc_id" < 60), width = 32)
      val frames = Multimodal.extractFrames(fix, "doc_id", "blob",
        Multimodal.FrameDecoder.png).toDF()
      // per-doc histogram: frame features are per-frame 16-bin byte
      // histograms (integer counts in float32 — exact), summed across
      // frames; all math integer until the final cosine division
      val hist = frames
        .select($"media_id".as("doc_id"), posexplode($"features"))
        .groupBy($"doc_id", $"pos")
        .agg(sum($"col").cast("long").as("c"))
      val norms = hist.groupBy($"doc_id").agg(sum($"c" * $"c").as("nrm"))
      val dots = hist.as("a").join(hist.as("b"),
          $"b.pos" === $"a.pos" && $"b.doc_id" =!= $"a.doc_id")
        .groupBy($"a.doc_id".as("q_id"), $"b.doc_id".as("c_id"))
        .agg(sum($"a.c" * $"b.c").as("dot"))
      val cs = dots
        .join(norms.select($"doc_id".as("q_id"), $"nrm".as("na")), "q_id")
        .join(norms.select($"doc_id".as("c_id"), $"nrm".as("nb")), "c_id")
        .select($"q_id", $"c_id",
          ($"dot".cast("double") /
            sqrt($"na".cast("double") * $"nb".cast("double"))).as("cosine"))
      Windows.topKPerGroup(cs, Seq("q_id"), Seq($"cosine".desc, $"c_id"), 3)
        .select($"q_id", $"c_id", $"cosine", $"rnk".cast("long").as("rnk"))
        .orderBy($"q_id", $"rnk")
    },

    // ---- SemDeDup CAP CALIBRATION — the q139 treatment applied to
    // q117: q117's within-cell candidate space is n²/16 BY CONSTRUCTION
    // (fixed 16-cell codebook; ShuffleProbe measures e≈1.4 on the
    // replica fixture — it is the documented contrast case, like q54's
    // fixed 8-plane code). The capped pipeline replaces full in-cell
    // enumeration with [[Skew.boundedBucketPairsStar]]: under-cap cells
    // enumerate pairs, over-cap cells contribute O(pop) star edges to
    // their min-id representative. Because SemDeDup VERIFIES candidates
    // (cosine ≥ 0.4) before clustering, a star edge can fail the
    // threshold where a dropped member-member pair would have passed —
    // so unlike q139, component equality is NOT guaranteed, and this
    // gate MEASURES the delta instead of assuming it: verified-pair
    // recall in basis points, cluster (= survivor) counts from both
    // pipelines, and per-vector label mismatches, in one hash-compared
    // row (the cap errs toward KEEPING near-dups — the conservative
    // direction for training data). NOTE this calibration query carries
    // the UNBOUNDED baseline on purpose, so it is itself quadratic and
    // probe-allowlisted; the production operator alone is q144 (probe-
    // flat). In production the cap composes with k ∝ corpus/cell-size;
    // the cap backstops the cells that stay hot anyway. ----
    QuerySpec.sql("q143_semdedup_capped",
      s"""WITH RECURSIVE e AS (SELECT vec_id,
         |    CAST(trunc(CAST(unnest(embedding) AS DOUBLE) * $QScale) AS BIGINT) AS xq,
         |    unnest(generate_series(1, len(embedding))) AS i
         |  FROM embeddings WHERE len(embedding) = 64),
         |norms AS (SELECT vec_id, sum(xq * xq) AS nrm FROM e GROUP BY vec_id),
         |cdots AS (SELECT a.vec_id AS vid, b.vec_id AS cid, sum(a.xq * b.xq) AS dot
         |  FROM e a JOIN e b ON b.i = a.i AND b.vec_id < 16
         |  GROUP BY vid, cid),
         |ccos AS (SELECT vid, cid,
         |    CAST(dot AS DOUBLE) / sqrt(CAST(nv.nrm AS DOUBLE) * CAST(nc.nrm AS DOUBLE)) AS c
         |  FROM cdots JOIN norms nv ON nv.vec_id = vid
         |             JOIN norms nc ON nc.vec_id = cid),
         |assign AS (SELECT vid AS vec_id, cid AS cell FROM (
         |  SELECT vid, cid,
         |    row_number() OVER (PARTITION BY vid ORDER BY c DESC, cid) AS rn
         |  FROM ccos) WHERE rn = 1),
         |tc AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id
         |  FROM assign a JOIN assign b
         |    ON a.cell = b.cell AND a.vec_id < b.vec_id),
         |tdots AS (SELECT c.a_id, c.b_id, sum(x.xq * y.xq) AS dot
         |  FROM tc c JOIN e x ON x.vec_id = c.a_id
         |            JOIN e y ON y.vec_id = c.b_id AND y.i = x.i
         |  GROUP BY c.a_id, c.b_id),
         |tpairs AS (SELECT a_id, b_id
         |  FROM tdots JOIN norms na ON na.vec_id = a_id
         |             JOIN norms nb ON nb.vec_id = b_id
         |  WHERE CAST(dot AS DOUBLE) / sqrt(CAST(na.nrm AS DOUBLE) * CAST(nb.nrm AS DOUBLE)) >= 0.4),
         |pops AS (SELECT cell, count(*) AS pop, min(vec_id) AS rep
         |  FROM assign GROUP BY cell),
         |keptc AS (SELECT a.vec_id, a.cell FROM assign a
         |  JOIN pops p ON p.cell = a.cell AND p.pop <= $SemCap),
         |cc0 AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id
         |  FROM keptc a JOIN keptc b
         |    ON a.cell = b.cell AND a.vec_id < b.vec_id),
         |stars AS (SELECT p.rep AS a_id, a.vec_id AS b_id
         |  FROM assign a JOIN pops p ON p.cell = a.cell AND p.pop > $SemCap
         |  WHERE a.vec_id <> p.rep),
         |ccand AS (SELECT DISTINCT a_id, b_id FROM
         |  (SELECT a_id, b_id FROM cc0 UNION SELECT a_id, b_id FROM stars)),
         |vdots AS (SELECT c.a_id, c.b_id, sum(x.xq * y.xq) AS dot
         |  FROM ccand c JOIN e x ON x.vec_id = c.a_id
         |               JOIN e y ON y.vec_id = c.b_id AND y.i = x.i
         |  GROUP BY c.a_id, c.b_id),
         |cpairs AS (SELECT a_id, b_id
         |  FROM vdots JOIN norms na ON na.vec_id = a_id
         |             JOIN norms nb ON nb.vec_id = b_id
         |  WHERE CAST(dot AS DOUBLE) / sqrt(CAST(na.nrm AS DOUBLE) * CAST(nb.nrm AS DOUBLE)) >= 0.4),
         |tedges AS (SELECT a_id AS u, b_id AS v FROM tpairs
         |           UNION SELECT b_id, a_id FROM tpairs),
         |cedges AS (SELECT a_id AS u, b_id AS v FROM cpairs
         |           UNION SELECT b_id, a_id FROM cpairs),
         |treach(id, r) AS (
         |  SELECT u, u FROM (SELECT DISTINCT u FROM tedges)
         |  UNION
         |  SELECT treach.id, ed.v FROM treach JOIN tedges ed ON ed.u = treach.r),
         |tlab0 AS (SELECT id, min(r) AS c FROM treach GROUP BY id),
         |creach(id, r) AS (
         |  SELECT u, u FROM (SELECT DISTINCT u FROM cedges)
         |  UNION
         |  SELECT creach.id, ed.v FROM creach JOIN cedges ed ON ed.u = creach.r),
         |clab0 AS (SELECT id, min(r) AS c FROM creach GROUP BY id),
         |labs AS (SELECT a.vec_id,
         |    coalesce(t.c, a.vec_id) AS ct, coalesce(cl.c, a.vec_id) AS cc
         |  FROM assign a LEFT JOIN tlab0 t ON t.id = a.vec_id
         |                LEFT JOIN clab0 cl ON cl.id = a.vec_id),
         |cmp AS (SELECT count(*) AS n_vecs,
         |    count(*) FILTER (WHERE ct <> cc) AS n_label_mismatch,
         |    count(DISTINCT ct) AS n_keep_true,
         |    count(DISTINCT cc) AS n_keep_capped
         |  FROM labs),
         |m AS (SELECT (SELECT count(*) FROM tpairs) AS n_true_pairs,
         |             (SELECT count(*) FROM cpairs) AS n_capped_pairs)
         |SELECT m.n_true_pairs, m.n_capped_pairs,
         |  m.n_capped_pairs * 10000 // m.n_true_pairs AS recall_capped_bp,
         |  cmp.n_vecs, cmp.n_label_mismatch, cmp.n_keep_true, cmp.n_keep_capped
         |FROM m, cmp""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d).filter(size($"embedding") === 64)
        .select($"vec_id", $"embedding", sqNormQ($"embedding").as("nrm"))
      val cents = emb.filter($"vec_id" < 16)
        .select($"vec_id".as("cid"), $"embedding".as("c_emb"), $"nrm".as("c_nrm"))
      val scored = emb.join(broadcast(cents))
        .select($"vec_id", $"embedding", $"nrm", $"cid",
          cosineQ(dotQ($"embedding", $"c_emb"), $"nrm", $"c_nrm").as("ccos"))
      val assign = Windows.topKPerGroup(scored, Seq("vec_id"),
          Seq($"ccos".desc, $"cid"), 1)
        .select($"vec_id", $"embedding", $"nrm", $"cid".as("cell"))
        .transform(graft.Materialize(_))
      // exact verify of a candidate set: join true vectors back by id,
      // keep pairs over the threshold — SAME expression shape both
      // engines (integer dot/norm, one double division + sqrt)
      def verified(cand: DataFrame): DataFrame = cand
        .join(assign.select($"vec_id".as("a_id"), $"embedding".as("a_emb"),
          $"nrm".as("a_nrm")), "a_id")
        .join(assign.select($"vec_id".as("b_id"), $"embedding".as("b_emb"),
          $"nrm".as("b_nrm")), "b_id")
        .filter(cosineQ(dotQ($"a_emb", $"b_emb"), $"a_nrm", $"b_nrm") >= 0.4)
        .select($"a_id", $"b_id")
      val trueCand = assign.as("a").join(assign.as("b"),
          col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"))
      val truePairs = verified(trueCand).transform(graft.Materialize(_))
      val cappedCand = Skew.boundedBucketPairsStar(
        assign.select($"vec_id", $"cell"), Seq("cell"), "vec_id", SemCap)
      val cappedPairs = verified(cappedCand).transform(graft.Materialize(_))
      val compT = ConnectedComponents.run(truePairs, "a_id", "b_id")
        .select($"node".as("vec_id"), $"component".as("ct0"))
      val compC = ConnectedComponents.run(cappedPairs, "a_id", "b_id")
        .select($"node".as("vec_id"), $"component".as("cc0"))
      val labs = assign.select($"vec_id")
        .join(compT, Seq("vec_id"), "left")
        .join(compC, Seq("vec_id"), "left")
        .select($"vec_id", coalesce($"ct0", $"vec_id").as("ct"),
          coalesce($"cc0", $"vec_id").as("cc"))
      val cmp = labs.agg(count(lit(1)).as("n_vecs"),
        count(when($"ct" =!= $"cc", lit(1))).as("n_label_mismatch"),
        countDistinct($"ct").as("n_keep_true"),
        countDistinct($"cc").as("n_keep_capped"))
      truePairs.agg(count(lit(1)).as("n_true_pairs"))
        .crossJoin(cappedPairs.agg(count(lit(1)).as("n_capped_pairs")))
        .withColumn("recall_capped_bp",
          expr("n_capped_pairs * 10000L div n_true_pairs"))
        .crossJoin(cmp)
    },

    // ---- SCALE-SAFE SemDeDup, the production operator alone: q117's
    // exact output shape (per-vector cell / cluster / keep-drop
    // verdict, keep = farthest-from-centroid per cluster) with
    // candidate generation through the star cap — no unbounded
    // baseline in the plan. Candidate work is buckets × cap² pairs +
    // O(pop) star edges: LINEAR for fixed cap (probe-verified at
    // 1×/5×/10×, where q117 runs e≈1.4); the recall/survivor cost of
    // the cap is measured by q143. A user swaps q117 → this query and
    // changes nothing downstream. ----
    QuerySpec.sql("q144_semdedup_survivors",
      s"""WITH RECURSIVE e AS (SELECT vec_id,
         |    CAST(trunc(CAST(unnest(embedding) AS DOUBLE) * $QScale) AS BIGINT) AS xq,
         |    unnest(generate_series(1, len(embedding))) AS i
         |  FROM embeddings WHERE len(embedding) = 64),
         |norms AS (SELECT vec_id, sum(xq * xq) AS nrm FROM e GROUP BY vec_id),
         |cdots AS (SELECT a.vec_id AS vid, b.vec_id AS cid, sum(a.xq * b.xq) AS dot
         |  FROM e a JOIN e b ON b.i = a.i AND b.vec_id < 16
         |  GROUP BY vid, cid),
         |ccos AS (SELECT vid, cid,
         |    CAST(dot AS DOUBLE) / sqrt(CAST(nv.nrm AS DOUBLE) * CAST(nc.nrm AS DOUBLE)) AS c
         |  FROM cdots JOIN norms nv ON nv.vec_id = vid
         |             JOIN norms nc ON nc.vec_id = cid),
         |assign AS (SELECT vid AS vec_id, cid AS cell, c AS ccos FROM (
         |  SELECT vid, cid, c,
         |    row_number() OVER (PARTITION BY vid ORDER BY c DESC, cid) AS rn
         |  FROM ccos) WHERE rn = 1),
         |pops AS (SELECT cell, count(*) AS pop, min(vec_id) AS rep
         |  FROM assign GROUP BY cell),
         |keptc AS (SELECT a.vec_id, a.cell FROM assign a
         |  JOIN pops p ON p.cell = a.cell AND p.pop <= $SemCap),
         |cc0 AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id
         |  FROM keptc a JOIN keptc b
         |    ON a.cell = b.cell AND a.vec_id < b.vec_id),
         |stars AS (SELECT p.rep AS a_id, a.vec_id AS b_id
         |  FROM assign a JOIN pops p ON p.cell = a.cell AND p.pop > $SemCap
         |  WHERE a.vec_id <> p.rep),
         |ccand AS (SELECT DISTINCT a_id, b_id FROM
         |  (SELECT a_id, b_id FROM cc0 UNION SELECT a_id, b_id FROM stars)),
         |vdots AS (SELECT c.a_id, c.b_id, sum(x.xq * y.xq) AS dot
         |  FROM ccand c JOIN e x ON x.vec_id = c.a_id
         |               JOIN e y ON y.vec_id = c.b_id AND y.i = x.i
         |  GROUP BY c.a_id, c.b_id),
         |cpairs AS (SELECT a_id, b_id
         |  FROM vdots JOIN norms na ON na.vec_id = a_id
         |             JOIN norms nb ON nb.vec_id = b_id
         |  WHERE CAST(dot AS DOUBLE) / sqrt(CAST(na.nrm AS DOUBLE) * CAST(nb.nrm AS DOUBLE)) >= 0.4),
         |cedges AS (SELECT a_id AS u, b_id AS v FROM cpairs
         |           UNION SELECT b_id, a_id FROM cpairs),
         |creach(id, r) AS (
         |  SELECT u, u FROM (SELECT DISTINCT u FROM cedges)
         |  UNION
         |  SELECT creach.id, ed.v FROM creach JOIN cedges ed ON ed.u = creach.r),
         |clab AS (SELECT id, min(r) AS cluster_id FROM creach GROUP BY id),
         |members AS (SELECT a.vec_id, a.cell, a.ccos,
         |    coalesce(l.cluster_id, a.vec_id) AS cluster_id
         |  FROM assign a LEFT JOIN clab l ON l.id = a.vec_id)
         |SELECT vec_id, cell, cluster_id,
         |  CASE WHEN row_number() OVER (PARTITION BY cluster_id
         |    ORDER BY ccos ASC, vec_id) = 1 THEN 'keep' ELSE 'drop' END AS verdict
         |FROM members ORDER BY vec_id""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d).filter(size($"embedding") === 64)
        .select($"vec_id", $"embedding", sqNormQ($"embedding").as("nrm"))
      val cents = emb.filter($"vec_id" < 16)
        .select($"vec_id".as("cid"), $"embedding".as("c_emb"), $"nrm".as("c_nrm"))
      val scored = emb.join(broadcast(cents))
        .select($"vec_id", $"embedding", $"nrm", $"cid",
          cosineQ(dotQ($"embedding", $"c_emb"), $"nrm", $"c_nrm").as("ccos"))
      val assign = Windows.topKPerGroup(scored, Seq("vec_id"),
          Seq($"ccos".desc, $"cid"), 1)
        .select($"vec_id", $"embedding", $"nrm", $"cid".as("cell"), $"ccos")
        .transform(graft.Materialize(_))
      val cand = Skew.boundedBucketPairsStar(
        assign.select($"vec_id", $"cell"), Seq("cell"), "vec_id", SemCap)
      val pairs = cand
        .join(assign.select($"vec_id".as("a_id"), $"embedding".as("a_emb"),
          $"nrm".as("a_nrm")), "a_id")
        .join(assign.select($"vec_id".as("b_id"), $"embedding".as("b_emb"),
          $"nrm".as("b_nrm")), "b_id")
        .filter(cosineQ(dotQ($"a_emb", $"b_emb"), $"a_nrm", $"b_nrm") >= 0.4)
        .select($"a_id", $"b_id")
      val labels = ConnectedComponents.run(pairs, "a_id", "b_id")
      val members = assign.join(labels, assign("vec_id") === labels("node"), "left")
        .select($"vec_id", $"cell",
          coalesce($"component", $"vec_id").as("cluster_id"), $"ccos")
      members
        .withColumn("rn", row_number().over(
          Window.partitionBy($"cluster_id").orderBy($"ccos".asc, $"vec_id")))
        .select($"vec_id", $"cell", $"cluster_id",
          when($"rn" === 1, "keep").otherwise("drop").as("verdict"))
        .orderBy($"vec_id")
    },

    // ---- Image RESIZE + frame-sample through the multimodal boundary
    // ([[Multimodal.resizeGrayRows]]): real PNG decode → nearest-
    // neighbor resample to 8×8 in ONE shuffle-free pass — each frame
    // row derives its own sampled output coordinates from the
    // (frame_idx, n_frames) it carries out of the decode (unsampled
    // rows explode to nothing and drop out), horizontal resample is a
    // codegen'd transform/substring over the row bytes. The oracle
    // recomputes the pixel generator at the SAMPLED coordinates
    // (⌊y·h/8⌋, ⌊x·w/8⌋) directly — it never sees a PNG — so a green
    // hash proves decode + the two resample axes compose losslessly,
    // and the corrupt population (doc_id % 7 == 3) drops out entirely.
    // Scale: a fully map-only plan (zero exchanges — the r10 sweep
    // dropped the presentational sort); work is 8 rows × 8 byte
    // lookups per media regardless of source resolution — the whole
    // point of resizing early in a media pipeline. ----
    QuerySpec.sql("q145_image_resize",
      """WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents
        |  WHERE doc_id % 7 <> 3),
        |dims AS (SELECT doc_id, 8 + doc_id % 5 AS h, 32 AS w FROM ids),
        |oy AS (SELECT doc_id, h, w, unnest(generate_series(0, 7)) AS y FROM dims),
        |px AS (SELECT doc_id, h, w, y, (y * h) // 8 AS sy,
        |    unnest(generate_series(0, 7)) AS x FROM oy),
        |hx AS (SELECT doc_id, y,
        |    string_agg(printf('%02X',
        |        CAST((doc_id + 7 * ((x * w) // 8) + 13 * sy) % 256 AS INT)),
        |      '' ORDER BY x) AS row_hex
        |  FROM px GROUP BY doc_id, y)
        |SELECT doc_id, CAST(y AS BIGINT) AS y, row_hex
        |FROM hx""".stripMargin) { (s, d) =>
      val frames = Multimodal.decodedRows(
        Multimodal.pngFixture(Tables.documents(s, d), width = 32),
        "doc_id", "blob", Multimodal.FrameDecoder.png)
      Multimodal.resizeGrayRows(frames, 8, 8)
        .select($"media_id".as("doc_id"), $"y".cast("long").as("y"), $"row_hex")
    },

    // ---- Audio FEATURE-EXTRACT through the multimodal boundary
    // ([[Multimodal.extractAudioFeatures]]): real RIFF/WAVE decode
    // fused with per-frame integer DSP (Σs², peak |s|, zero
    // crossings) in one mapPartitions pass — PCM bytes never leave
    // the stage, only (id, frame, 4 longs). The fixture varies BOTH
    // audio parameters per blob (sample rate 8/12/16 kHz → the 50 ms
    // frame byte-size differs per blob; 600–1200 samples → the frame
    // count differs too), and the oracle recomputes the sample
    // generator directly — it never parses a WAV — so a green hash
    // proves header synthesis, the chunk walk, LE16 sample decode,
    // and the all-integer feature math compose losslessly; the
    // corrupt population (RIFF magic smashed) yields zero rows on
    // both sides. ----
    QuerySpec.sql("q146_audio_features",
      """WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents
        |  WHERE doc_id % 7 <> 3),
        |p AS (SELECT doc_id, 8000 + (doc_id % 3) * 4000 AS sr,
        |    600 + (doc_id % 4) * 200 AS nsamp FROM ids),
        |s AS (SELECT doc_id, sr // 20 AS spf,
        |    unnest(generate_series(0, nsamp - 1)) AS i FROM p),
        |v AS (SELECT doc_id, i // spf AS frame_idx, i,
        |    (doc_id * 31 + i * 17) % 4096 - 2048 AS smp FROM s),
        |w AS (SELECT doc_id, frame_idx, smp,
        |    lag(smp) OVER (PARTITION BY doc_id, frame_idx ORDER BY i) AS prev
        |  FROM v)
        |SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
        |  CAST(count(*) AS BIGINT) AS n_samples,
        |  CAST(sum(smp * smp) AS BIGINT) AS sumsq,
        |  CAST(max(abs(smp)) AS BIGINT) AS peak,
        |  CAST(count(*) FILTER (WHERE prev IS NOT NULL
        |    AND (smp >= 0) <> (prev >= 0)) AS BIGINT) AS zc
        |FROM w GROUP BY doc_id, frame_idx""".stripMargin) { (s, d) =>
      Multimodal.extractAudioFeatures(
          Multimodal.wavFixture(Tables.documents(s, d)), "doc_id", "blob", 50)
        .toDF()
        .select($"media_id".as("doc_id"), $"frame_idx", $"n_samples",
          $"sumsq", $"peak", $"zc")
    },

    // ---- Markup stripping, the web-corpus cleanup verb: crawl text
    // arrives wrapped in HTML; training text must be the unwrapped,
    // entity-decoded payload. The fixture wraps each document in
    // deterministic markup (tags + the standard &amp;/&lt;/&gt;
    // escaping, & escaped FIRST), and the operator under test strips
    // tags and decodes entities in the standard reverse order (&amp;
    // LAST — the order that cannot double-decode an occurrence like
    // '&amp;lt;'). r11: the Spark side runs the native `strip_markup`
    // byte scan (tag count + strip + entity decode in two JIT'd passes,
    // proven pass-equivalent to the regex/replace chain in its scaladoc
    // and pinned by PropertySpec parity) — the oracle keeps the
    // composed regex form, so the gate proves the scanner IS the regex
    // semantics. matches_original is computed in-gate on BOTH sides:
    // true for every row proves the strip is a lossless inverse of the
    // wrap on the whole corpus, not just that two engines agree on some
    // transform. Map-only, embarrassingly parallel, no shuffle. ----
    QuerySpec.sql("q147_strip_markup",
      """WITH esc AS (SELECT doc_id, text,
        |    replace(replace(replace(text, '&', '&amp;'), '<', '&lt;'), '>', '&gt;') AS e
        |  FROM documents),
        |wrapped AS (SELECT doc_id, text,
        |    '<html><body><p id="d' || CAST(doc_id AS VARCHAR) ||
        |      '" class="doc">' || e || '</p><br/></body></html>' AS w
        |  FROM esc),
        |stripped AS (SELECT doc_id, text,
        |    CAST(len(regexp_extract_all(w, '<[^>]*>')) AS BIGINT) AS n_tags,
        |    replace(replace(replace(regexp_replace(w, '<[^>]*>', '', 'g'),
        |      '&gt;', '>'), '&lt;', '<'), '&amp;', '&') AS s
        |  FROM wrapped)
        |SELECT doc_id, md5(s) AS stripped_md5, s = text AS matches_original,
        |  n_tags
        |FROM stripped ORDER BY doc_id""".stripMargin) { (s, d) =>
      val esc = Tables.documents(s, d).select($"doc_id", $"text",
        expr("replace(replace(replace(text, '&', '&amp;'), '<', '&lt;'), '>', '&gt;')")
          .as("e"))
      val wrapped = esc.select($"doc_id", $"text",
        concat(lit("<html><body><p id=\"d"), $"doc_id".cast("string"),
          lit("\" class=\"doc\">"), $"e", lit("</p><br/></body></html>")).as("w"))
      val stripped = wrapped.select($"doc_id", $"text",
        call_function("strip_markup", $"w").as("sm"))
      stripped.select($"doc_id", md5(encode($"sm.s", "UTF-8")).as("stripped_md5"),
          ($"sm.s" === $"text").as("matches_original"), $"sm.n_tags".as("n_tags"))
    },

    // ---- the q105 cross-corpus probe through the PURE-SQL surface:
    // the Spark side is nothing but spark.sql text — views derived with
    // SQL DDL, the probe invoked as the graft_dedup_probe TVF
    // (plans/GraftTvfs.scala). Same oracle shape as q105 (different
    // split so the two gates don't share outputs byte-for-byte): the
    // TVF must reproduce the library operator's verdicts exactly. ----
    QuerySpec.sql("q149_sql_dedup_probe", {
      val th = (e: String) => PortableHash.md5LongSql(e)
      s"""WITH ${bandsSqlFor("o", "doc_id % 3 = 0")},
         |${bandsSqlFor("n", "doc_id % 3 <> 0")},
         |ex AS (SELECT DISTINCT n.doc_id FROM documents n JOIN documents o
         |       ON o.doc_id % 3 = 0 AND ${th("n.text")} = ${th("o.text")}
         |       WHERE n.doc_id % 3 <> 0),
         |near AS (SELECT DISTINCT bn.doc_id FROM bandsn bn
         |         JOIN bandso bo ON bn.band = bo.band AND bn.bkey = bo.bkey)
         |SELECT d.doc_id,
         |  CASE WHEN ex.doc_id IS NOT NULL THEN 'exact_dup'
         |       WHEN near.doc_id IS NOT NULL THEN 'near_dup'
         |       ELSE 'keep' END AS verdict
         |FROM documents d
         |LEFT JOIN ex ON ex.doc_id = d.doc_id
         |LEFT JOIN near ON near.doc_id = d.doc_id
         |WHERE d.doc_id % 3 <> 0 ORDER BY d.doc_id""".stripMargin
    }) { (s, d) =>
      Tables.documents(s, d).createOrReplaceTempView("graft_q149_docs")
      s.sql("""CREATE OR REPLACE TEMPORARY VIEW graft_q149_corpus AS
              |SELECT * FROM graft_q149_docs WHERE doc_id % 3 = 0""".stripMargin)
      s.sql("""CREATE OR REPLACE TEMPORARY VIEW graft_q149_new AS
              |SELECT * FROM graft_q149_docs WHERE doc_id % 3 <> 0""".stripMargin)
      s.sql("""SELECT doc_id, verdict
              |FROM graft_dedup_probe('graft_q149_new', 'graft_q149_corpus')
              |ORDER BY doc_id""".stripMargin)
    },

    // ---- SQ8 scalar quantization — the third ANN compression next to
    // PQ (q108/q129) and LSH (q48): each vector is encoded to int8
    // codes with ONE per-vector scale (c_i = xq_i·127/max|xq|, exact
    // integer arithmetic, sign split so Spark DIV ≡ DuckDB // on the
    // non-negative operand), 8× smaller than the float64 scan while —
    // unlike PQ — needing no training. Cosine on the codes equals
    // cosine of the scaled vector (the per-vector scale cancels), so
    // the SQ8 brute-force scan is a drop-in memory-compressed ranker.
    // The gate measures its recall@3 against the exact full-precision
    // top-3, in-gate (the q87 discipline): the SHAPE stays one
    // broadcast of 5 query code vectors against a linear scan of
    // codes — shuffle-free candidate scoring, exactly the 100 TB scan
    // layout, with the 8× smaller operand the point. ----
    QuerySpec.sql("q151_sq8_recall",
      s"""WITH e AS (SELECT vec_id,
         |    CAST(trunc(CAST(unnest(embedding) AS DOUBLE) * $QScale) AS BIGINT) AS xq,
         |    unnest(generate_series(1, len(embedding))) AS i
         |  FROM embeddings WHERE len(embedding) = 64),
         |sc AS (SELECT vec_id, max(abs(xq)) AS s FROM e GROUP BY vec_id),
         |c8 AS (SELECT e.vec_id, e.i,
         |    CASE WHEN xq < 0 THEN -((-xq * 127) // s) ELSE (xq * 127) // s END AS c
         |  FROM e JOIN sc ON sc.vec_id = e.vec_id WHERE s > 0),
         |n8 AS (SELECT vec_id, sum(c * c) AS n FROM c8 GROUP BY vec_id),
         |dots8 AS (SELECT a.vec_id AS q_id, b.vec_id AS c_id, sum(a.c * b.c) AS dot
         |  FROM c8 a JOIN c8 b ON b.i = a.i AND b.vec_id <> a.vec_id
         |  WHERE a.vec_id >= 10 AND a.vec_id < 15 GROUP BY 1, 2),
         |cos8 AS (SELECT q_id, c_id,
         |    CAST(dot AS DOUBLE) / sqrt(CAST(na.n AS DOUBLE) * CAST(nb.n AS DOUBLE)) AS cosine
         |  FROM dots8 JOIN n8 na ON na.vec_id = q_id JOIN n8 nb ON nb.vec_id = c_id),
         |ann AS (SELECT q_id, c_id FROM (
         |  SELECT q_id, c_id,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rnk
         |  FROM cos8) WHERE rnk <= 3),
         |norms AS (SELECT vec_id, sum(xq * xq) AS nrm FROM e GROUP BY vec_id),
         |xdots AS (SELECT a.vec_id AS q_id, b.vec_id AS c_id, sum(a.xq * b.xq) AS dot
         |  FROM e a JOIN e b ON b.i = a.i AND b.vec_id <> a.vec_id
         |  JOIN sc sa ON sa.vec_id = a.vec_id AND sa.s > 0
         |  JOIN sc sb ON sb.vec_id = b.vec_id AND sb.s > 0
         |  WHERE a.vec_id >= 10 AND a.vec_id < 15 GROUP BY 1, 2),
         |xcos AS (SELECT q_id, c_id,
         |    CAST(dot AS DOUBLE) / sqrt(CAST(na.nrm AS DOUBLE) * CAST(nb.nrm AS DOUBLE)) AS cosine
         |  FROM xdots JOIN norms na ON na.vec_id = q_id JOIN norms nb ON nb.vec_id = c_id),
         |exact AS (SELECT q_id, c_id FROM (
         |  SELECT q_id, c_id,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rnk
         |  FROM xcos) WHERE rnk <= 3)
         |SELECT ann.q_id AS q_id,
         |  CAST(count(exact.c_id) AS BIGINT) AS hits,
         |  CAST(count(exact.c_id) AS DOUBLE) / 3.0 AS recall
         |FROM ann LEFT JOIN exact
         |  ON exact.q_id = ann.q_id AND exact.c_id = ann.c_id
         |GROUP BY ann.q_id ORDER BY q_id""".stripMargin) { (s, d) =>
      val coded = Tables.embeddings(s, d).filter(size($"embedding") === 64)
        .selectExpr("vec_id",
          // Spark CAST double→long truncates toward zero (matching the
          // oracle's trunc(); Spark's `trunc` is the DATE function)
          s"transform(embedding, x -> CAST(CAST(x AS DOUBLE) * $QScale AS BIGINT)) AS xq")
        .selectExpr("vec_id", "xq", "array_max(transform(xq, x -> abs(x))) AS s")
        .filter($"s" > 0)
        .selectExpr("vec_id",
          "transform(xq, x -> CASE WHEN x < 0 THEN -((-x * 127) DIV s) ELSE (x * 127) DIV s END) AS c8",
          "xq")
        .selectExpr("vec_id", "c8", "xq",
          // native codegen'd loops (r10, was interpreted aggregate())
          "dot_long(c8, c8) AS n8",
          "dot_long(xq, xq) AS nrm")
      val probes = coded.filter($"vec_id" >= 10 && $"vec_id" < 15)
        .select($"vec_id".as("q_id"), $"c8".as("q_c8"), $"xq".as("q_xq"),
          $"n8".as("q_n8"), $"nrm".as("q_nrm"))
      // one broadcast of 5 query vectors; the scan side never shuffles.
      // Both the SQ8 AND exact branches rank over `coded`'s population
      // (scale > 0) — a zero vector has no code AND no defined cosine,
      // so it is no one's neighbor in either ranking (the oracle's
      // exact CTE applies the same s > 0 restriction).
      val pairs = coded.join(broadcast(probes), $"vec_id" =!= $"q_id")
      val ann = Windows.topKPerGroup(
          pairs.selectExpr("q_id", "vec_id AS c_id",
            "CAST(dot_long(q_c8, c8) AS DOUBLE)" +
              " / sqrt(CAST(q_n8 AS DOUBLE) * CAST(n8 AS DOUBLE)) AS cosine"),
          Seq("q_id"), Seq($"cosine".desc, $"c_id"), 3)
        .select($"q_id", $"c_id")
      val exact = Windows.topKPerGroup(
          pairs.selectExpr("q_id", "vec_id AS c_id",
            "CAST(dot_long(q_xq, xq) AS DOUBLE)" +
              " / sqrt(CAST(q_nrm AS DOUBLE) * CAST(nrm AS DOUBLE)) AS cosine"),
          Seq("q_id"), Seq($"cosine".desc, $"c_id"), 3)
        .select($"q_id".as("e_qid"), $"c_id".as("e_cid"))
      ann.join(exact, $"e_qid" === $"q_id" && $"e_cid" === $"c_id", "left")
        .groupBy($"q_id")
        .agg(count($"e_cid").as("hits"),
          (count($"e_cid").cast("double") / 3.0).as("recall"))
        .orderBy($"q_id")
    },

    // ---- IVF-SQ8 — the FAISS-style composition of the two index
    // layers already gated separately: the q55/q87 coarse quantizer
    // bounds candidates to nprobe=2 cells, and q151's SQ8 codes score
    // them (8× smaller scan operand, no training beyond the coarse
    // codebook). Same recall discipline as q87: ANN top-3 vs the exact
    // full-precision top-3, measured in one gate — recall loss here
    // combines the cell bound AND the int8 rounding, the number a
    // production IVF-SQ deployment actually ships with. ----
    QuerySpec.sql("q152_ivf_sq8", {
      val sq8 =
        """sc AS (SELECT vec_id, max(abs(xq)) AS s FROM e GROUP BY vec_id),
          |c8 AS (SELECT e.vec_id, e.i,
          |    CASE WHEN xq < 0 THEN -((-xq * 127) // s) ELSE (xq * 127) // s END AS c
          |  FROM e JOIN sc ON sc.vec_id = e.vec_id WHERE s > 0),
          |n8 AS (SELECT vec_id, sum(c * c) AS n FROM c8 GROUP BY vec_id)""".stripMargin
      s"""WITH $annBaseSql,
         |$ivfCoarseSql,
         |$sq8,
         |cand AS (SELECT p.q_id, a.vec_id AS c_id
         |  FROM probes p JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.q_id),
         |dots8 AS (SELECT cand.q_id, cand.c_id, sum(x.c * y.c) AS dot
         |  FROM cand JOIN c8 x ON x.vec_id = cand.q_id
         |            JOIN c8 y ON y.vec_id = cand.c_id AND y.i = x.i
         |  GROUP BY cand.q_id, cand.c_id),
         |cos8 AS (SELECT q_id, c_id,
         |    CAST(dot AS DOUBLE) / sqrt(CAST(na.n AS DOUBLE) * CAST(nb.n AS DOUBLE)) AS cosine
         |  FROM dots8 JOIN n8 na ON na.vec_id = q_id JOIN n8 nb ON nb.vec_id = c_id),
         |ann AS (SELECT q_id, c_id FROM (
         |  SELECT q_id, c_id,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rnk
         |  FROM cos8) WHERE rnk <= 3),
         |$exactTop3Sql
         |SELECT ann.q_id AS q_id,
         |  CAST(count(exact.c_id) AS BIGINT) AS hits,
         |  CAST(count(exact.c_id) AS DOUBLE) / 3.0 AS recall
         |FROM ann LEFT JOIN exact
         |  ON exact.q_id = ann.q_id AND exact.c_id = ann.c_id
         |GROUP BY ann.q_id ORDER BY q_id""".stripMargin
    }) { (s, d) =>
      val emb = Tables.embeddings(s, d).filter(size($"embedding") === 64)
        .select($"vec_id", $"embedding", sqNormQ($"embedding").as("nrm"))
      // coarse layer — byte-identical to the q87 convention (one shared
      // SQL definition on the oracle side, one code shape here)
      val cents = emb.filter($"vec_id" < 8)
        .select($"vec_id".as("cid"), $"embedding".as("c_emb"), $"nrm".as("c_nrm"))
      val scored = emb.join(broadcast(cents))
        .select($"vec_id", $"embedding", $"nrm", $"cid",
          cosineQ(dotQ($"embedding", $"c_emb"), $"nrm", $"c_nrm").as("ccos"))
      val assign = Windows.topKPerGroup(scored, Seq("vec_id"),
          Seq($"ccos".desc, $"cid"), 1)
        .select($"vec_id", $"cid".as("cell"))
      val probes = Windows.topKPerGroup(
          scored.filter($"vec_id" >= 10 && $"vec_id" < 15), Seq("vec_id"),
          Seq($"ccos".desc, $"cid"), 2)
        .select($"vec_id".as("q_id"), $"cid".as("cell"))
      // SQ8 layer — the q151 encode
      val coded = Tables.embeddings(s, d).filter(size($"embedding") === 64)
        .selectExpr("vec_id",
          s"transform(embedding, x -> CAST(CAST(x AS DOUBLE) * $QScale AS BIGINT)) AS xq")
        .selectExpr("vec_id", "xq", "array_max(transform(xq, x -> abs(x))) AS s")
        .filter($"s" > 0)
        .selectExpr("vec_id",
          "transform(xq, x -> CASE WHEN x < 0 THEN -((-x * 127) DIV s) ELSE (x * 127) DIV s END) AS c8")
        .selectExpr("vec_id", "c8",
          "dot_long(c8, c8) AS n8") // native codegen'd loop (r10)
      val qCodes = coded.join(probes.select($"q_id").distinct(),
          $"vec_id" === $"q_id")
        .select($"q_id", $"c8".as("q_c8"), $"n8".as("q_n8"))
      val cand = assign.join(broadcast(probes), Seq("cell"))
        .filter($"vec_id" =!= $"q_id")
        .join(coded, "vec_id")
        .join(broadcast(qCodes), "q_id")
      val ann = Windows.topKPerGroup(
          cand.selectExpr("q_id", "vec_id AS c_id",
            "CAST(dot_long(q_c8, c8) AS DOUBLE)" +
              " / sqrt(CAST(q_n8 AS DOUBLE) * CAST(n8 AS DOUBLE)) AS cosine"),
          Seq("q_id"), Seq($"cosine".desc, $"c_id"), 3)
        .select($"q_id", $"c_id")
      // exact ground truth: full-precision brute force over the corpus
      val queries = emb.join(probes.select($"q_id").distinct(),
          $"vec_id" === $"q_id")
        .select($"q_id", $"embedding".as("q_emb"), $"nrm".as("q_nrm"))
      val exPairs = emb.join(broadcast(queries), $"vec_id" =!= $"q_id")
        .select($"q_id", $"vec_id".as("c_id"),
          cosineQ(dotQ($"q_emb", $"embedding"), $"q_nrm", $"nrm").as("cosine"))
      val exact = Windows.topKPerGroup(exPairs, Seq("q_id"),
          Seq($"cosine".desc, $"c_id"), 3)
        .select($"q_id".as("e_qid"), $"c_id".as("e_cid"))
      ann.join(broadcast(exact),
          $"e_qid" === $"q_id" && $"e_cid" === $"c_id", "left")
        .groupBy($"q_id")
        .agg(count($"e_cid").as("hits"),
          (count($"e_cid").cast("double") / 3.0).as("recall"))
        .orderBy($"q_id")
    },

    // ---- SimHash PAIRING at scale — q46 gates the signature; this
    // gates the join that uses it. A 32-bit simhash (bits of the raw
    // 60-bit portable hash — the mod-P form zeroes bit 31) split into
    // 2×16-bit pieces: by pigeonhole, any pair within Hamming
    // distance 1 agrees exactly on at least one piece, so candidates
    // are the piece-bucket pairs — bucket space 2×65536, populations
    // ~n/65536, and the SAME bounded-bucket cap as the LSH chain
    // ([[graft.operators.Skew.boundedBucketPairs]]) guards the
    // degenerate-signature skew case. Verification is exact:
    // bit_count(xor) <= 1 on the candidate set only — never all
    // pairs. The scale shape is identical to q137's: one windowed
    // count over hashpartitioning(piece, value), capped self-join,
    // verify bounded to candidates. ----
    QuerySpec.sql("q153_simhash_pairs", {
      val h = PortableHash.md5LongSql("w")
      val sums = (0 until 32)
        .map(j => s"  sum(CASE WHEN (($h >> $j) & 1) = 1 THEN 1 ELSE -1 END) AS s$j")
        .mkString(",\n")
      val bits = (0 until 32)
        .map(j => s"(CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")
      s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
         |sums AS (SELECT doc_id,\n$sums\n  FROM toks GROUP BY doc_id),
         |sh AS (SELECT doc_id, CAST($bits AS BIGINT) AS sh32 FROM sums),
         |pieces AS (
         |  SELECT doc_id, 0 AS piece, sh32 & 65535 AS pval FROM sh
         |  UNION ALL
         |  SELECT doc_id, 1 AS piece, (sh32 >> 16) & 65535 AS pval FROM sh),
         |pops AS (SELECT piece, pval, count(*) AS pop FROM pieces
         |  GROUP BY piece, pval),
         |kept AS (SELECT p.doc_id, p.piece, p.pval FROM pieces p
         |  JOIN pops o ON o.piece = p.piece AND o.pval = p.pval
         |             AND o.pop <= $SimhashBucketCap),
         |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM kept a JOIN kept b
         |    ON a.piece = b.piece AND a.pval = b.pval AND a.doc_id < b.doc_id)
         |SELECT c.a_id, c.b_id,
         |  CAST(bit_count(xor(x.sh32, y.sh32)) AS BIGINT) AS hamming
         |FROM cand c JOIN sh x ON x.doc_id = c.a_id
         |            JOIN sh y ON y.doc_id = c.b_id
         |WHERE bit_count(xor(x.sh32, y.sh32)) <= 1
         |ORDER BY a_id, b_id""".stripMargin
    }) { (s, d) =>
      // md5 per DISTINCT doc-local term, weighted by tf (r10): the
      // per-occurrence explode hashed every token instance — the
      // byte-scan space_token_counts dedups doc-locally (same single-
      // space split, empties included), so the expensive md5 and the
      // aggregate input shrink to the distinct-term count while the
      // bit-balance sums stay bit-identical (Σ±1 over occurrences
      // = Σ±tf over distinct terms)
      val toks = Tables.documents(s, d)
        .select($"doc_id",
          explode(call_function("space_token_counts", $"text")).as("tc"))
        .select($"doc_id", $"tc.tf".cast("long").as("tf"),
          PortableHash.md5Long($"tc.term").as("h"))
      val sums = toks.groupBy($"doc_id").agg(
        (0 until 32).map(j =>
          sum(when(shiftright($"h", j).bitwiseAND(lit(1L)) === 1L, $"tf")
            .otherwise(-$"tf")).as(s"s$j")).head,
        (1 until 32).map(j =>
          sum(when(shiftright($"h", j).bitwiseAND(lit(1L)) === 1L, $"tf")
            .otherwise(-$"tf")).as(s"s$j")): _*)
      val sh = sums.select($"doc_id",
        (0 until 32).map(j => when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ + _).cast("long").as("sh32"))
        .transform(graft.Materialize(_)) // pieces AND both verify joins read it
      val pieces = sh.select($"doc_id", lit(0).as("piece"),
          ($"sh32".bitwiseAND(lit(65535L))).as("pval"))
        .unionAll(sh.select($"doc_id", lit(1).as("piece"),
          shiftright($"sh32", 16).bitwiseAND(lit(65535L)).as("pval")))
      val cand = Skew.boundedBucketPairs(pieces, Seq("piece", "pval"),
        "doc_id", SimhashBucketCap)
      cand
        .join(sh.select($"doc_id".as("a_id"), $"sh32".as("sha")), "a_id")
        .join(sh.select($"doc_id".as("b_id"), $"sh32".as("shb")), "b_id")
        .withColumn("hamming",
          bit_count($"sha".bitwiseXOR($"shb")).cast("long"))
        .filter($"hamming" <= 1)
        .select($"a_id", $"b_id", $"hamming")
        .orderBy($"a_id", $"b_id")
    },

    // ---- BPE tokenizer TRAINING (the iterative closure of q109's
    // one-round statistic): learn the first 8 merges over the corpus.
    // Corpus is touched ONCE (doc-local (term,tf) via space_token_counts
    // — raw text never shuffles); each round is a vocab-bounded pair
    // count + a 1-row TakeOrderedAndProject argmax + a map-only literal
    // replace. The oracle unrolls the same 8 rounds as MATERIALIZED
    // DuckDB CTEs; tie-breaks are binary-collated string order in both
    // engines. See [[BpeTrainer]] for the bracketed-symbol encoding
    // that makes string replace equal greedy list-BPE. ----
    QuerySpec.sql("q154_bpe_train", BpeTrainer.oracleSql(8)) { (s, d) =>
      BpeTrainer.train(Tables.documents(s, d), 8)
    },

    // ---- BPE tokenizer APPLICATION — the production pass training
    // exists for: tokenize the WHOLE corpus with the learned merges and
    // report per-doc word/char/token counts (the mix-planning + packing
    // inputs). The merge table is driver-sized by definition, so the
    // merges ride the projection as K literal replaces: the corpus pass
    // is MAP-ONLY, and the one exchange carries a (doc_id, 3 longs)
    // partial per document. ----
    QuerySpec.sql("q155_bpe_encode", BpeTrainer.encodeOracleSql(8)) { (s, d) =>
      val docs = Tables.documents(s, d)
      BpeTrainer.encodeCounts(docs, BpeTrainer.learnMerges(docs, 8))
    },

    // ---- deterministic corpus shuffle + sharding: the training-order
    // pass. A trainer needs the 100 TB corpus in a reproducible
    // pseudo-random order (seed = epoch tag) split into round-robin
    // shards; ORDER BY random() is neither reproducible nor
    // cross-engine. Position = global rank of a PORTABLE keyed hash
    // (md5, bit-identical in both engines), ties broken by doc_id —
    // computed DISTRIBUTIVELY by the same DistributedRankExec rewrite
    // as q71 (partial ranks + partition offsets, no single-reducer
    // sort), shard = round-robin in shuffled order (size-balanced in
    // expectation). Changing the seed string is a new epoch's order. ----
    QuerySpec.sql("q156_corpus_shuffle", {
      val h = graft.functions.PortableHash.md5LongSql("'epoch0:' || doc_id")
      s"""WITH h AS (SELECT doc_id, $h AS h FROM documents)
         |SELECT doc_id,
         |  CAST(row_number() OVER (ORDER BY h, doc_id) AS BIGINT) AS pos,
         |  CAST((row_number() OVER (ORDER BY h, doc_id) - 1) % 8 AS INT) AS shard
         |FROM h""".stripMargin
    }) { (s, d) =>
      Tables.documents(s, d)
        .select($"doc_id",
          PortableHash.md5Long(concat(lit("epoch0:"), $"doc_id")).as("h"))
        .withColumn("pos", row_number().over(
          Window.orderBy($"h", $"doc_id")).cast("long"))
        .select($"doc_id", $"pos",
          (($"pos" - 1) % 8).cast("int").as("shard"))
    },

    // ---- exact duplicated-SUBSTRING detection (the token-span dedup of
    // Lee et al., "Deduplicating Training Data Makes Language Models
    // Better"): a position is duplicated when its 8-token window occurs
    // more than once in the corpus; duplicated positions merge into
    // MAXIMAL per-doc spans (touching/overlapping windows coalesce).
    // MinHash (q43..) answers "are these DOCUMENTS near-identical?";
    // this answers "which EXACT passages repeat anywhere?" — the
    // boilerplate/license/quote remover that doc-level dedup cannot
    // express. Shape: window hashing is ONE codegen'd byte scan per doc
    // ([[graft.functions.ShingleHashes.shingle_hashes]] — a window IS a byte slice, the
    // md5 runs in place); the (pos, hash) table is materialized once
    // through the seam (it feeds both the global dup-hash aggregation
    // and the join back — the suffix-array analogue: Lee et al. write
    // their index to disk too); the dup-hash side shrinks to distinct
    // repeated hashes via map-side partial counts. All three exchanges
    // (hash-agg, hash-join, doc-window) are linear in corpus tokens —
    // no pair enumeration anywhere, so 100 TB costs 100 TB, not n².
    // Span merge: windows at pos p, p' (p < p') overlap or touch iff
    // p' - p <= 8, so a gap > 8 starts a new span; span extent is
    // [min pos, max pos + 8). ----
    QuerySpec.sql("q157_substring_spans",
      s"""WITH ${windowHashSql(8)},
        |dup AS (SELECT h FROM wh GROUP BY h HAVING count(*) >= 2),
        |dp AS (SELECT doc_id, pos FROM wh JOIN dup USING (h)),
        |${spanMergeSql(8, "dp")}
        |${spanSelectSql(8)}""".stripMargin) { (s, d) =>
      val wins = SubstringDedup.windowHashes(Tables.documents(s, d), 8)
        .transform(graft.Materialize(_))
      SubstringDedup.dupSpans(wins, 8)
    },

    // ---- corpus-LM novelty scoring (the integer-exact analogue of
    // CCNet's LM-perplexity quality filter): train unigram + bigram
    // frequency tables over the WHOLE corpus, score each document by its
    // mean inverse-frequency weight — high = built from rare
    // tokens/transitions (novel or gibberish), low = boilerplate. The
    // production variant scores -log P; the gate keeps the rational form
    // 1e9 // count because libm transcendentals differ per engine
    // (SURVEY §6 numeric discipline) while floor division is exact in
    // both. Shape: per-doc term AND bigram frequency tables are each ONE
    // codegen'd byte scan ([[graft.functions.TextStatsUtil.space_token_counts]] /
    // [[graft.functions.TextStatsUtil.space_bigram_counts]] — a bigram IS a byte slice),
    // so only already-distinct (doc, gram) rows ever shuffle — once to
    // the gram for the LM build, once back to the doc for scoring; the
    // corpus LM is a shuffle join, not a broadcast (at 100 TB the bigram
    // table is itself data-sized). The keep flag gates on the corpus
    // mean via one broadcast scalar row, integer cross-multiplied
    // (bi·n >= Σbi) — no division, no doubles. ----
    QuerySpec.sql("q158_lm_novelty",
      """WITH tfq AS (SELECT doc_id, term, count(*) AS tf FROM
        |    (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
        |  GROUP BY doc_id, term),
        |ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |       WHERE len(string_split(text, ' ')) >= 2),
        |bgq AS (SELECT doc_id, bg, count(*) AS tf FROM
        |    (SELECT doc_id, w[gs] || ' ' || w[gs + 1] AS bg FROM
        |      (SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS gs FROM ws))
        |  GROUP BY doc_id, bg),
        |c1 AS (SELECT term, CAST(sum(tf) AS BIGINT) AS c1 FROM tfq GROUP BY term),
        |c2 AS (SELECT bg, CAST(sum(tf) AS BIGINT) AS c2 FROM bgq GROUP BY bg),
        |uni AS (SELECT t.doc_id, CAST(sum(t.tf) AS BIGINT) AS n_tok,
        |    CAST(sum(t.tf * (1000000000 // c.c1)) AS BIGINT) AS uw
        |  FROM tfq t JOIN c1 c USING (term) GROUP BY t.doc_id),
        |bi AS (SELECT b.doc_id,
        |    CAST(sum(b.tf * (1000000000 // c.c2)) AS BIGINT)
        |      // CAST(sum(b.tf) AS BIGINT) AS bi_novelty_ppb
        |  FROM bgq b JOIN c2 c USING (bg) GROUP BY b.doc_id),
        |scored AS (SELECT u.doc_id, u.n_tok, u.uw // u.n_tok AS uni_novelty_ppb,
        |    b.bi_novelty_ppb FROM uni u LEFT JOIN bi b USING (doc_id)),
        |tot AS (SELECT CAST(sum(bi_novelty_ppb) AS BIGINT) AS tot,
        |    count(bi_novelty_ppb) AS n_bi FROM scored)
        |SELECT s.doc_id, s.n_tok,
        |  CAST(s.uni_novelty_ppb AS BIGINT) AS uni_novelty_ppb,
        |  CAST(s.bi_novelty_ppb AS BIGINT) AS bi_novelty_ppb,
        |  CAST(CASE WHEN s.bi_novelty_ppb * t.n_bi >= t.tot
        |       THEN 1 ELSE 0 END AS BIGINT) AS keep_flag
        |FROM scored s, tot t ORDER BY s.doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val tf = docs
        .select($"doc_id",
          explode(call_function("space_token_counts", $"text")).as("tc"))
        .select($"doc_id", $"tc.term".as("term"), $"tc.tf".as("tf"))
        .transform(graft.Materialize(_))
      val bgt = docs
        .select($"doc_id",
          explode(call_function("space_bigram_counts", $"text")).as("bc"))
        .select($"doc_id", $"bc.bg".as("bg"), $"bc.tf".as("tf"))
        .transform(graft.Materialize(_))
      val c1 = tf.groupBy($"term").agg(sum($"tf").as("c1"))
      val c2 = bgt.groupBy($"bg").agg(sum($"tf").as("c2"))
      val uni = tf.join(c1, "term").groupBy($"doc_id").agg(
        sum($"tf").as("n_tok"),
        sum(expr("tf * (1000000000 div c1)")).as("uw"))
        .select($"doc_id", $"n_tok", expr("uw div n_tok").as("uni_novelty_ppb"))
      val bi = bgt.join(c2, "bg").groupBy($"doc_id").agg(
        sum(expr("tf * (1000000000 div c2)")).as("bw"),
        sum($"tf").as("n_bg"))
        .select($"doc_id", expr("bw div n_bg").as("bi_novelty_ppb"))
      // scored feeds BOTH the corpus-mean aggregate and the final gate —
      // without materialization the diamond re-runs both LM joins (the
      // q68/q91 lesson); one row per doc, 4 columns: driver-cheap, and
      // at 100 TB it is the per-doc score table written once.
      val scored = uni.join(bi, Seq("doc_id"), "left")
        .transform(graft.Materialize(_))
      // tot and the cross-multiplication run in DECIMAL(38,0): scores
      // reach 1e9 ppb, so a BIGINT product (and the BIGINT sum feeding
      // it) would overflow once doc count passes ~9.2e9 — exactly the
      // 100 TB regime this query narrates. Decimal keeps it exact to
      // ~1e29 docs; output columns are unchanged BIGINTs.
      val tot = scored.agg(
        sum($"bi_novelty_ppb".cast("decimal(38,0)")).as("tot"),
        count($"bi_novelty_ppb").as("n_bi"))
      scored.crossJoin(broadcast(tot))
        .select($"doc_id", $"n_tok", $"uni_novelty_ppb", $"bi_novelty_ppb",
          when($"bi_novelty_ppb".cast("decimal(38,0)") * $"n_bi" >= $"tot",
            1L).otherwise(0L).as("keep_flag"))
      // no trailing ORDER BY: per-doc output, order-insensitive gate
      // (q57/q71/q150 discipline — a sort here is a corpus-sized range
      // exchange at scale)
    },

    // ---- substring dedup with a CANONICAL SURVIVOR (the pass Lee et
    // al. actually ship): for every duplicated 8-token window, the
    // lexicographically first occurrence (min (doc_id, pos)) KEEPS its
    // copy; all other occurrences mark their token range for removal.
    // q157 maps where repeats live; this prices the deletion — per doc:
    // total tokens, tokens removed (merged non-canonical spans, counted
    // once under overlap), tokens kept. Shape: the canonical pick is a
    // groupBy min(struct(doc_id, pos)) + join back — deliberately NOT a
    // row_number window over occurrences (the oracle's formulation):
    // partial aggregation collapses each hash's occurrence list
    // map-side, so a pathological boilerplate window with 10⁹
    // occurrences costs one combine tree, not one task sorting 10⁹
    // rows. Everything else rides q157's machinery: one byte-scan per
    // doc, materialized (pos, hash) table, linear exchanges only. ----
    QuerySpec.sql("q159_substring_survivors",
      s"""WITH ${windowHashSql(8)},
        |rm AS (SELECT doc_id, pos FROM (
        |  SELECT doc_id, pos,
        |    row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
        |  FROM wh) WHERE rn >= 2),
        |${spanMergeSql(8, "rm")},
        |spans AS (SELECT doc_id, min(pos) AS s, max(pos) + 8 AS e
        |  FROM sp GROUP BY doc_id, span_id),
        |cut AS (SELECT doc_id, CAST(sum(e - s) AS BIGINT) AS removed_tokens
        |  FROM spans GROUP BY doc_id)
        |SELECT d.doc_id, CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tok,
        |  coalesce(c.removed_tokens, 0) AS removed_tokens,
        |  CAST(len(string_split(d.text, ' ')) AS BIGINT)
        |    - coalesce(c.removed_tokens, 0) AS kept_tokens
        |FROM documents d LEFT JOIN cut c USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      val wins = SubstringDedup.windowHashes(Tables.documents(s, d), 8)
        .transform(graft.Materialize(_))
      val cut = SubstringDedup.survivorCuts(wins, 8)
      Tables.documents(s, d)
        .select($"doc_id", size(split($"text", " ")).cast("long").as("n_tok"))
        .join(cut, Seq("doc_id"), "left")
        .select($"doc_id", $"n_tok",
          coalesce($"removed_tokens", lit(0L)).as("removed_tokens"),
          ($"n_tok" - coalesce($"removed_tokens", lit(0L))).as("kept_tokens"))
    },

    // ---- SPAN-level decontamination: q74 flags which training docs
    // overlap the held-out benchmark slice (drop the doc); this emits
    // the surgical alternative — the exact token ranges in each
    // training doc whose 5-token windows appear ANYWHERE in the
    // benchmark, merged into maximal spans (cut the passage, keep the
    // doc). Same benchmark convention as q74 (deterministic ~5% hash
    // slice standing in for an eval suite); the window length is a
    // deployment parameter (GPT-3 used 13-grams, PaLM 8) — 5 here so
    // the fixture's synthetic vocabulary still produces matches at the
    // sf0.01 gate scale (longer windows gate on an empty result).
    // The scale shape DIFFERS
    // from q157's global self-dedup: the dup set is one-sided and
    // benchmark-sized, so it is DISTINCT'd once and BROADCAST — the
    // 100 TB corpus streams through a map-side long-hash probe with no
    // corpus-sized exchange at all (the only shuffle is the per-doc
    // span-merge window over matched positions — contamination-sized,
    // not corpus-sized). In production the benchmark window set is
    // precomputed from the (tiny) eval suite; the second corpus scan
    // here only exists because the fixture carves the benchmark out of
    // the same table, and its filter prunes hashing to the ~5% slice. ----
    QuerySpec.sql("q160_decontaminate_spans", {
      val bh = md5ModSql("CAST(doc_id AS VARCHAR)")
      s"""WITH ${windowHashSql(5)},
        |bwin AS (SELECT DISTINCT h FROM wh WHERE $bh % 20 = 0),
        |dp AS (SELECT t.doc_id, t.pos FROM wh t JOIN bwin b USING (h)
        |       WHERE $bh % 20 <> 0),
        |${spanMergeSql(5, "dp")}
        |${spanSelectSql(5)}""".stripMargin
    }) { (s, d) =>
      val isBench = PortableHash.md5Mod($"doc_id".cast("string")) % 20 === 0
      val wins = SubstringDedup
        .windowHashes(Tables.documents(s, d), 5).filter(!isBench)
      val bwin = SubstringDedup
        .windowIndex(Tables.documents(s, d).filter(isBench), 5)
      SubstringDedup.contaminationSpans(wins, bwin, 5)
    },

    // ---- APPLY the cut list — the cleaned corpus itself: q159 prices
    // substring dedup, this one produces its output (the table the next
    // pipeline stage trains on). Every doc's canonical-survivor spans
    // are spliced out and the survivors rejoined; docs without cuts
    // round-trip byte-identically (empty tokens included). Shape: spans
    // aggregate at DOC grain (duplication-sized, few per doc), join
    // back on doc_id, and the splice is ONE codegen'd byte scan per
    // document ([[graft.functions.TextStatsUtil.remove_token_spans]] — kept tokens copy
    // straight from the original bytes; the filter + array_join
    // formulation the oracle runs is a CodegenFallback HOF and would
    // re-materialize a token array per row). The corpus shuffles ONCE
    // (docs → their cut lists); at 100 TB that join is the rewrite
    // pass's whole exchange budget. ----
    QuerySpec.sql("q161_apply_cuts",
      s"""WITH ${windowHashSql(8)},
        |rm AS (SELECT doc_id, pos FROM (
        |  SELECT doc_id, pos,
        |    row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
        |  FROM wh) WHERE rn >= 2),
        |${spanMergeSql(8, "rm")},
        |spans AS (SELECT doc_id, min(pos) AS s, max(pos) + 8 AS e
        |  FROM sp GROUP BY doc_id, span_id),
        |toks AS (SELECT doc_id, gs - 1 AS pos, w[gs] AS tok FROM
        |       (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS gs FROM ws)),
        |kept AS (SELECT t.doc_id, t.pos, t.tok FROM toks t WHERE NOT EXISTS
        |  (SELECT 1 FROM spans s WHERE s.doc_id = t.doc_id
        |   AND t.pos >= s.s AND t.pos < s.e)),
        |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS ct,
        |    count(*) AS kt FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(a.ct, '') AS clean_text,
        |  CAST(coalesce(a.kt, 0) AS BIGINT) AS kept_tokens
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      val wins = SubstringDedup.windowHashes(Tables.documents(s, d), 8)
        .transform(graft.Materialize(_))
      val spans = SubstringDedup.survivorSpans(wins, 8)
      SubstringDedup.applyCuts(Tables.documents(s, d), spans)
    },

    // ---- the substring-dedup SQL surface: `graft_dup_spans(view, n)`
    // TVF over a named view — the Spark side is nothing but spark.sql
    // text (the q148/q149 discipline: one operator definition, two
    // surfaces). Oracle = q157's chain; the TVF rebuilds the window
    // table per invocation by design (documented at the builder —
    // repeated-analysis workflows go through the Scala surface, where
    // the Materialize seam applies; a TVF builder runs at analysis
    // time, so materializing there would execute mid-analysis). ----
    QuerySpec.sql("q162_sql_dup_spans",
      s"""WITH ${windowHashSql(8)},
        |dup AS (SELECT h FROM wh GROUP BY h HAVING count(*) >= 2),
        |dp AS (SELECT doc_id, pos FROM wh JOIN dup USING (h)),
        |${spanMergeSql(8, "dp")}
        |${spanSelectSql(8)}""".stripMargin) { (s, d) =>
      Tables.documents(s, d).createOrReplaceTempView("graft_q162_docs")
      s.sql("SELECT * FROM graft_dup_spans('graft_q162_docs', 8)")
    },

    // ---- SUPERVISED document-quality scoring (VERDICT r9 #2): the
    // CCNet/fastText-style seed-trained filter — the production stage
    // after the unsupervised heuristics (q42/q75) and corpus-LM novelty
    // (q158). Training: per-bucket log-count-ratio weights over HASHED
    // token features (md5 % 4096 — the hashing trick bounds the model at
    // 4096 rows no matter how large the corpus vocabulary grows, so the
    // weight table broadcasts at ANY scale). Labels come from SOURCE
    // seeds, CCNet's own discipline (curated seed = positive, raw-crawl
    // seed = negative); the scorer then runs over the WHOLE corpus
    // map-only. Integer-exact rational form (no libm): the per-bucket
    // weight is w = 1e6·p/(p+q) with p,q the add-one-smoothed bucket
    // frequencies in the pos/neg seed token streams — σ(log-count-ratio)
    // as an exact rational (monotone in the log-odds, bounded [0,1e6]),
    // cross-multiplied in DECIMAL(38,0) so it stays exact at any seed
    // size. Doc score = Σtf·w div Σtf ∈ [0,1e6]; keep = score ≥ the
    // TRAINED intercept (midpoint of the class-mean seed scores — a
    // fixed posterior-½ cut is miscalibrated whenever class token
    // totals differ; measured here: every doc scores 484k–527k, so ½
    // would keep everything).
    // Shape at 100 TB: training touches only the seeds (one linear
    // groupBy into 4096 buckets + one seed-sized mean); scoring is one
    // byte-scan projection + a broadcast join + one linear
    // groupBy(doc_id) — e≈1.0, the corpus never pairs with itself. ----
    QuerySpec.sql("q163_quality_classifier",
      s"""WITH ${qcSql(s"source IN ($QcSeedSqlList)")},
        |sc AS (SELECT bt.doc_id,
        |    CAST(sum(bt.tf * wt.w) // sum(bt.tf) AS BIGINT) AS score_ppm
        |  FROM bt JOIN wt USING (b) GROUP BY bt.doc_id),
        |${qcThresholdSql(s"source IN ($QcSeedSqlList)")}
        |SELECT doc_id, score_ppm,
        |  CAST(CASE WHEN score_ppm >= t.thr THEN 1 ELSE 0 END AS BIGINT) AS keep_flag
        |FROM sc CROSS JOIN thr t""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val bt = qcBucketed(docs).transform(graft.Materialize(_))
      val w = QualityClassifier.weights(s, bt, $"label" =!= 0)
      // scores feed BOTH the intercept mean and the final gate — the
      // diamond rule: materialize once (at 100 TB this is the per-doc
      // score table written once)
      val sc = QualityClassifier.score(bt, w).transform(graft.Materialize(_))
      val thr = QualityClassifier.threshold(sc,
        qcSeedLabels(docs, $"source".isin(QcPos ++ QcNeg: _*)))
      sc.crossJoin(broadcast(thr))
        .select($"doc_id", $"score_ppm",
          when($"score_ppm" >= $"thr", 1L).otherwise(0L).as("keep_flag"))
    },

    // ---- the classifier's HELD-OUT evaluation, in-gate: train on the
    // even-doc_id half of the seeds, score the odd half, and put the
    // measured recall/accuracy next to the unsupervised heuristic
    // baseline (q42's quality = min(1, n_tok/100)·(1−digit_ratio),
    // thresholded at ½ in its exact integer form) on the SAME held-out
    // docs. Output: (method × label) accuracy table — for 'pos' rows
    // correct = kept (recall of the curated class), for 'neg' rows
    // correct = rejected (crawl rejection rate). The eval is the gate:
    // a training bug (weights from the eval split, flipped labels,
    // broken smoothing) moves these hashes. ----
    QuerySpec.sql("q164_quality_eval",
      s"""WITH ${qcSql(s"source IN ($QcSeedSqlList) AND doc_id % 2 = 0")},
        |ho AS (SELECT doc_id,
        |    CASE WHEN source IN ($QcPosSqlList) THEN 'pos' ELSE 'neg' END AS label
        |  FROM documents
        |  WHERE source IN ($QcSeedSqlList) AND doc_id % 2 = 1),
        |sc AS (SELECT bt.doc_id,
        |    CAST(sum(bt.tf * wt.w) // sum(bt.tf) AS BIGINT) AS score_ppm
        |  FROM bt JOIN wt USING (b) GROUP BY bt.doc_id),
        |${qcThresholdSql(s"source IN ($QcSeedSqlList) AND doc_id % 2 = 0")},
        |cl AS (SELECT 'classifier' AS method, ho.label,
        |    CASE WHEN sc.score_ppm >= t.thr THEN 1 ELSE 0 END AS keep
        |  FROM ho JOIN sc USING (doc_id) CROSS JOIN thr t),
        |hh AS (SELECT 'heuristic' AS method, ho.label,
        |    CASE WHEN 2 * least(len(string_split(d.text, ' ')), 100)
        |        * (length(d.text) - length(regexp_replace(d.text, '[^0-9]', '', 'g')))
        |      >= 100 * length(d.text) THEN 1 ELSE 0 END AS keep
        |  FROM ho JOIN documents d USING (doc_id)),
        |u AS (SELECT * FROM cl UNION ALL SELECT * FROM hh)
        |SELECT method, label, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(keep) AS BIGINT) AS kept_docs,
        |  CAST(sum(CASE WHEN (label = 'pos' AND keep = 1)
        |    OR (label = 'neg' AND keep = 0) THEN 1 ELSE 0 END) AS BIGINT) AS correct_docs,
        |  CAST(sum(CASE WHEN (label = 'pos' AND keep = 1)
        |    OR (label = 'neg' AND keep = 0) THEN 1 ELSE 0 END) * 1000000
        |    // count(*) AS BIGINT) AS acc_ppm
        |FROM u GROUP BY method, label
        |ORDER BY method, label""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val bt = qcBucketed(docs).transform(graft.Materialize(_))
      val seeds = $"source".isin(QcPos ++ QcNeg: _*)
      val w = QualityClassifier.weights(s, bt,
        $"label" =!= 0 && $"doc_id" % 2 === 0)
      val ho = docs.filter(seeds && $"doc_id" % 2 === 1)
        .select($"doc_id",
          when($"source".isin(QcPos: _*), "pos").otherwise("neg").as("label"),
          $"text")
      // scores feed the intercept mean AND the held-out gate: diamond →
      // materialize (same rule as q163). Only SEED docs' scores are ever
      // consumed here (train-half intercept + odd-half eval), so score
      // the seed slice, not the corpus — at 100 TB the unfiltered form
      // pays a corpus-sized aggregation whose output is discarded.
      val sc = QualityClassifier.score(bt.filter($"label" =!= 0), w)
        .transform(graft.Materialize(_))
      val thr = QualityClassifier.threshold(sc,
        qcSeedLabels(docs, seeds && $"doc_id" % 2 === 0))
      // ho is seed-sized by design → broadcast: sc streams through with
      // no doc-sized exchange (same rule as the threshold join)
      val cl = sc.join(broadcast(ho), "doc_id").crossJoin(broadcast(thr))
        .select(lit("classifier").as("method"), $"label",
          when($"score_ppm" >= $"thr", 1L).otherwise(0L).as("keep"))
      // the q42 heuristic in its exact integer form, via the one-pass
      // quality_char_stats byte scan (pure integer compare — no doubles,
      // so equivalence to the composed split/regex form is trivial)
      val st = call_function("quality_char_stats", $"text")
      val hh = ho.select(lit("heuristic").as("method"), $"label", st.as("st"))
        .select($"method", $"label",
          when(lit(2L) * least($"st.n_tok", lit(100L))
              * ($"st.n_chars" - $"st.n_digits")
            >= lit(100L) * $"st.n_chars", 1L).otherwise(0L).as("keep"))
      val correct = when(($"label" === "pos" && $"keep" === 1L) ||
        ($"label" === "neg" && $"keep" === 0L), 1L).otherwise(0L)
      cl.unionByName(hh)
        .groupBy($"method", $"label")
        .agg(count(lit(1)).as("n_docs"), sum($"keep").as("kept_docs"),
          sum(correct).as("correct_docs"))
        .select($"method", $"label", $"n_docs", $"kept_docs", $"correct_docs",
          expr("correct_docs * 1000000 div n_docs").as("acc_ppm"))
        .orderBy($"method", $"label") // 4-row aggregate output: sort stays
    },

    // ---- the ONE-PASS fused corpus analyzer (VERDICT r9 #3), gated:
    // every per-doc statistic the filter stages consume — token stats
    // (q41), subword stats (q39), char-class counts + quality heuristic
    // (q42), repetition rules (q75), lang-id (q49) — from a SINGLE
    // map-only projection ([[CorpusAnalyzer.profile]]): one corpus
    // read instead of five, no token explode, no shuffle at all
    // (this query's whole plan is scan → project). The oracle
    // recomputes the full profile from the composed SQL primitives, so
    // a drift in ANY fused stat (or in the one-definition stopword
    // lists) moves this hash. ----
    QuerySpec.sql("q165_doc_profile",
      """WITH ws AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
        |toks AS (SELECT doc_id, unnest(w) AS tok FROM ws),
        |ts AS (SELECT doc_id, count(*) AS n_tokens, count(DISTINCT tok) AS n_distinct,
        |    sum(CASE WHEN tok IN ('the','a','of','and','to','in','is','on') THEN 1 ELSE 0 END) AS stop_hits,
        |    sum(CASE WHEN tok IN ('the','and','of','to','a','is') THEN 1 ELSE 0 END) AS s_en,
        |    sum(CASE WHEN tok IN ('der','die','das','und','ist','ein') THEN 1 ELSE 0 END) AS s_de,
        |    sum(CASE WHEN tok IN ('el','la','los','de','y','es') THEN 1 ELSE 0 END) AS s_es
        |  FROM toks GROUP BY doc_id),
        |bg AS (SELECT doc_id, array_to_string(w[gs:gs+1], ' ') AS bg FROM
        |    (SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS gs
        |     FROM ws WHERE len(w) >= 2)),
        |bt AS (SELECT doc_id, max(c) AS top_bg FROM
        |    (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY doc_id, bg)
        |  GROUP BY doc_id),
        |sw AS (SELECT doc_id,
        |    CAST(len(toks2) AS BIGINT) AS n_subtokens,
        |    CAST(len(list_distinct(toks2)) AS BIGINT) AS n_sub_distinct,
        |    CAST(list_max(list_transform(toks2, t -> length(t))) AS BIGINT) AS max_token_len,
        |    CAST(len(list_filter(toks2, t -> t ~ '^[0-9]+$')) AS BIGINT) AS n_numeric
        |  FROM (SELECT doc_id,
        |      regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]') AS toks2
        |    FROM documents)),
        |cc AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
        |    CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) AS n_digit_chars
        |  FROM documents)
        |SELECT t.doc_id,
        |  CAST(t.n_tokens AS BIGINT) AS n_tokens,
        |  CAST(t.n_distinct AS BIGINT) AS n_distinct,
        |  CAST(t.stop_hits AS BIGINT) AS stop_hits,
        |  CAST(t.s_en AS BIGINT) AS s_en, CAST(t.s_de AS BIGINT) AS s_de,
        |  CAST(t.s_es AS BIGINT) AS s_es,
        |  CASE WHEN t.s_en >= t.s_de AND t.s_en >= t.s_es THEN 'en'
        |       WHEN t.s_de >= t.s_es THEN 'de' ELSE 'es' END AS lang_guess,
        |  sw.n_subtokens, sw.n_sub_distinct, sw.max_token_len, sw.n_numeric,
        |  cc.n_chars, cc.n_digit_chars,
        |  CAST(((t.n_tokens - t.n_distinct) * 1000000) // t.n_tokens AS BIGINT) AS dup_tok_ppm,
        |  CAST(CASE WHEN t.n_tokens >= 2
        |    THEN (bt.top_bg * 1000000) // (t.n_tokens - 1) ELSE NULL END AS BIGINT) AS top_bigram_ppm,
        |  CAST(CASE WHEN 2 * least(t.n_tokens, 100) * (cc.n_chars - cc.n_digit_chars)
        |    >= 100 * cc.n_chars THEN 1 ELSE 0 END AS BIGINT) AS quality_keep,
        |  CAST(CASE WHEN ((t.n_tokens - t.n_distinct) * 1000000) // t.n_tokens < 300000
        |    AND t.n_tokens >= 2 AND (bt.top_bg * 1000000) // (t.n_tokens - 1) < 200000
        |    THEN 1 ELSE 0 END AS BIGINT) AS repetition_pass
        |FROM ts t JOIN sw USING (doc_id) JOIN cc USING (doc_id)
        |LEFT JOIN bt USING (doc_id)""".stripMargin) { (s, d) =>
      CorpusAnalyzer.profile(Tables.documents(s, d))
        .select($"doc_id",
          $"tok.n_tok".as("n_tokens"),
          $"tok.n_distinct".as("n_distinct"),
          $"tok.stop_hits".as("stop_hits"),
          $"s_en", $"s_de", $"s_es",
          when($"s_en" >= $"s_de" && $"s_en" >= $"s_es", "en")
            .when($"s_de" >= $"s_es", "de").otherwise("es").as("lang_guess"),
          $"sub.n_subtokens".as("n_subtokens"),
          $"sub.n_distinct".as("n_sub_distinct"),
          $"sub.max_token_len".as("max_token_len"),
          $"sub.n_numeric".as("n_numeric"),
          $"n_chars", $"n_digit_chars",
          expr("((tok.n_tok - tok.n_distinct) * 1000000) div tok.n_tok")
            .as("dup_tok_ppm"),
          when($"tok.n_tok" >= 2,
            expr("(tok.top_bg * 1000000) div (tok.n_tok - 1)")).as("top_bigram_ppm"),
          when(lit(2L) * least($"tok.n_tok", lit(100L))
              * ($"n_chars" - $"n_digit_chars") >= lit(100L) * $"n_chars",
            1L).otherwise(0L).as("quality_keep"),
          when(expr("((tok.n_tok - tok.n_distinct) * 1000000) div tok.n_tok") < 300000
              && $"tok.n_tok" >= 2
              && expr("(tok.top_bg * 1000000) div (tok.n_tok - 1)") < 200000,
            1L).otherwise(0L).as("repetition_pass"))
    },

    // ---- Unicode normalization for the hash/dedup chain (VERDICT r9
    // #4): `nfkc_fold` = NFKC → lowercase → NFKC, the canonical form a
    // web corpus must key on before hashing or the same text dedups as
    // distinct (full-width vs ASCII, ligatures, composed vs decomposed
    // accents, compatibility digits). The gate runs the fold over the
    // fixture corpus UNION a constructed adversarial set whose expected
    // outputs were derived from an independent Unicode implementation
    // (python unicodedata, cross-checked against the JDK — both
    // implement UAX#15); DuckDB has no NFKC, so the oracle pins those
    // rows as expectation literals and computes the ASCII-corpus rows
    // (where NFKC is the identity and fold = lower) itself. Idempotence
    // is COMPUTED on every row Spark-side (fold∘fold = fold) and pinned
    // all-1 by the oracle. Plan: scan → project, shuffle-free. ----
    QuerySpec.sql("q166_nfkc_fold",
      """WITH synth(doc_id, folded, changed) AS (VALUES
        |  (CAST(-13 AS BIGINT), 'already folded ascii', CAST(0 AS BIGINT)),
        |  (-12, 'file test file', 1),
        |  (-11, 'full width', 1),
        |  (-10, 'circled 123', 1),
        |  (-9, 'composed å decomposed å', 1),
        |  (-8, 'super 23 scripts', 1),
        |  (-7, 'roman xii numeral', 1),
        |  (-6, 'hello fraktur', 1),
        |  (-5, 'ligature ff ff', 1),
        |  (-4, 'micro μ sign', 1),
        |  (-3, 'kata ガ halfwidth', 1),
        |  (-2, 'tel tel sign', 1),
        |  (-1, 'mixed case ascii 123', 1)),
        |s2 AS (SELECT doc_id, folded, changed, CAST(1 AS BIGINT) AS idempotent
        |  FROM synth),
        |dd AS (SELECT doc_id, lower(text) AS folded,
        |    CAST(CASE WHEN lower(text) <> text THEN 1 ELSE 0 END AS BIGINT) AS changed,
        |    CAST(CASE WHEN lower(lower(text)) = lower(text) THEN 1 ELSE 0 END AS BIGINT) AS idempotent
        |  FROM documents)
        |SELECT * FROM s2 UNION ALL SELECT * FROM dd""".stripMargin) { (s, d) =>
      // narrow implicits: the full s.implicits._ would make $ ambiguous
      // with the package-level Dollar interpolator
      import s.implicits.{localSeqToDatasetHolder, newProductEncoder}
      val adversarial = Seq(
        (-13L, "already folded ascii"),
        (-12L, "file test ﬁle"),
        (-11L, "Ｆｕｌｌ　width"),
        (-10L, "circled ①②③"),
        (-9L, "composed Å decomposed Å"),
        (-8L, "super ²³ scripts"),
        (-7L, "roman Ⅻ numeral"),
        (-6L, "ℌello fraktur"),
        (-5L, "ligature ﬀ ff"),
        (-4L, "micro µ sign"),
        (-3L, "kata ｶﾞ halfwidth"),
        (-2L, "tel ℡ sign"),
        (-1L, "MIXED Case ASCII 123"))
      val all = adversarial.toDF("doc_id", "text")
        .unionByName(Tables.documents(s, d).select($"doc_id", $"text"))
      val f = call_function("nfkc_fold", $"text")
      all.select($"doc_id", f.as("folded"),
        (f =!= $"text").cast("long").as("changed"),
        (call_function("nfkc_fold", f) === f).cast("long").as("idempotent"))
    },

    // ---- PII masking breadth (VERDICT r9 #4): `pii_mask` extends q80's
    // digit-run shape to the production scrub set — URLs → <URL>, then
    // emails → <EMAIL>, then ≥6-digit runs → <NUM>, three linear byte
    // passes per doc reproducing the regexp_replace chain's semantics
    // exactly (leftmost, greedy-with-backtracking on the email domain;
    // the sequencing means an email inside a URL is already masked and
    // a digit run inside an email never reaches the digit pass). The
    // oracle runs the SAME chain through DuckDB's independent RE2
    // engine over the fixture corpus UNION constructed tricky cases
    // (domain backtracking 'a@b.co-m' / 'a@b.cd.e', the no-match
    // 'a@b.c', mid-token scheme 'xhttps://', bare 'http:// ', combined
    // URL+email+digits) — a full independent recomputation, not
    // expectation literals. Plan: scan → project, shuffle-free. ----
    QuerySpec.sql("q167_pii_mask",
      """WITH base(doc_id, text) AS (VALUES
        |  (CAST(-10 AS BIGINT), 'contact a@b.co-m now'),
        |  (-9, 'chain a@b.c@d.com end'),
        |  (-8, 'deep a@b.cd.e stop'),
        |  (-7, 'no match a@b.c here'),
        |  (-6, 'go to https://x.com/p?q=1 now'),
        |  (-5, 'bare http:// nothing'),
        |  (-4, 'mail me at x_1.y%z+a@sub-domain.example.COM!'),
        |  (-3, 'ids 12345 123456 1234567890 done'),
        |  (-2, 'combo visit http://a.b/c?id=99999999 or e9@f.io 123456!'),
        |  (-1, 'url in text xhttps://e.f end')),
        |all_rows AS (SELECT * FROM base
        |  UNION ALL SELECT doc_id, text FROM documents),
        |u1 AS (SELECT doc_id, text,
        |    regexp_replace(text, 'https?://[^ ]+', '<URL>', 'g') AS m1
        |  FROM all_rows),
        |u2 AS (SELECT doc_id, text, m1,
        |    regexp_replace(m1, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |      '<EMAIL>', 'g') AS m2
        |  FROM u1)
        |SELECT doc_id,
        |  regexp_replace(m2, '[0-9]{6,}', '<NUM>', 'g') AS masked,
        |  CAST(len(regexp_extract_all(text, 'https?://[^ ]+')) AS BIGINT) AS n_url,
        |  CAST(len(regexp_extract_all(m1,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
        |  CAST(len(regexp_extract_all(m2, '[0-9]{6,}')) AS BIGINT) AS n_num
        |FROM u2""".stripMargin) { (s, d) =>
      import s.implicits.{localSeqToDatasetHolder, newProductEncoder}
      val tricky = Seq(
        (-10L, "contact a@b.co-m now"),
        (-9L, "chain a@b.c@d.com end"),
        (-8L, "deep a@b.cd.e stop"),
        (-7L, "no match a@b.c here"),
        (-6L, "go to https://x.com/p?q=1 now"),
        (-5L, "bare http:// nothing"),
        (-4L, "mail me at x_1.y%z+a@sub-domain.example.COM!"),
        (-3L, "ids 12345 123456 1234567890 done"),
        (-2L, "combo visit http://a.b/c?id=99999999 or e9@f.io 123456!"),
        (-1L, "url in text xhttps://e.f end"))
      val all = tricky.toDF("doc_id", "text")
        .unionByName(Tables.documents(s, d).select($"doc_id", $"text"))
      all.select($"doc_id", call_function("pii_mask", $"text").as("p"))
        .select($"doc_id", $"p.masked".as("masked"), $"p.n_url".as("n_url"),
          $"p.n_email".as("n_email"), $"p.n_num".as("n_num"))
    },

    // ---- the substring-verb SQL surface COMPLETED (VERDICT r9 #8): a
    // pure-SQL user could detect spans (q162) but not price or produce
    // the cleaned corpus. `graft_dup_survivors` / `graft_dup_cuts` close
    // that — the Spark side of both gates is nothing but spark.sql text
    // (the q148/q149/q162 discipline: one operator definition, two
    // surfaces). Same analysis-time-rebuild caveat as q162, documented
    // on the builders. q168 = the cleaned corpus from SQL, against
    // q161's oracle verbatim. ----
    QuerySpec.sql("q168_sql_dup_cuts",
      s"""WITH ${windowHashSql(8)},
        |rm AS (SELECT doc_id, pos FROM (
        |  SELECT doc_id, pos,
        |    row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
        |  FROM wh) WHERE rn >= 2),
        |${spanMergeSql(8, "rm")},
        |spans AS (SELECT doc_id, min(pos) AS s, max(pos) + 8 AS e
        |  FROM sp GROUP BY doc_id, span_id),
        |toks AS (SELECT doc_id, gs - 1 AS pos, w[gs] AS tok FROM
        |       (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS gs FROM ws)),
        |kept AS (SELECT t.doc_id, t.pos, t.tok FROM toks t WHERE NOT EXISTS
        |  (SELECT 1 FROM spans s WHERE s.doc_id = t.doc_id
        |   AND t.pos >= s.s AND t.pos < s.e)),
        |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS ct,
        |    count(*) AS kt FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(a.ct, '') AS clean_text,
        |  CAST(coalesce(a.kt, 0) AS BIGINT) AS kept_tokens
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d).createOrReplaceTempView("graft_q168_docs")
      s.sql("""SELECT doc_id, clean_text, kept_tokens
              |FROM graft_dup_cuts('graft_q168_docs', 8)""".stripMargin)
    },

    // ---- q169 = the survivor cut-span pricing from SQL (q159's span
    // machinery through the TVF surface). ----
    QuerySpec.sql("q169_sql_dup_survivors",
      s"""WITH ${windowHashSql(8)},
        |rm AS (SELECT doc_id, pos FROM (
        |  SELECT doc_id, pos,
        |    row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
        |  FROM wh) WHERE rn >= 2),
        |${spanMergeSql(8, "rm")}
        |${spanSelectSql(8)}""".stripMargin) { (s, d) =>
      Tables.documents(s, d).createOrReplaceTempView("graft_q169_docs")
      s.sql("SELECT * FROM graft_dup_survivors('graft_q169_docs', 8)")
    }
  )

  // ---------- supervised quality classifier (q163/q164 shared) ----------
  // Machinery lives on [[QualityClassifier]] (spec-proven to learn on
  // signal); these adapters bind the fixture's source-seed labels.

  /** Fixture docs with the CCNet source-seed label column
    * [[QualityClassifier.bucketed]] expects. */
  private def qcLabeled(docs: DataFrame): DataFrame =
    docs.withColumn("label",
      when($"source".isin(QcPos: _*), 1)
        .when($"source".isin(QcNeg: _*), -1).otherwise(0))

  private def qcBucketed(docs: DataFrame): DataFrame =
    QualityClassifier.bucketed(qcLabeled(docs))

  /** Labeled seed docs for intercept training: (doc_id, is_pos). */
  private def qcSeedLabels(docs: DataFrame, pred: Column): DataFrame =
    docs.filter(pred).select($"doc_id", $"source".isin(QcPos: _*).as("is_pos"))

  /** Oracle twin of [[qcThreshold]] (assumes `sc` is in scope; `predSql`
    * picks the labeled training docs). */
  private def qcThresholdSql(predSql: String): String =
    s"""thr AS (SELECT
       |    ((sum(CASE WHEN source IN ($QcPosSqlList) THEN score_ppm ELSE 0 END)
       |      // sum(CASE WHEN source IN ($QcPosSqlList) THEN 1 ELSE 0 END))
       |   + (sum(CASE WHEN source NOT IN ($QcPosSqlList) THEN score_ppm ELSE 0 END)
       |      // sum(CASE WHEN source NOT IN ($QcPosSqlList) THEN 1 ELSE 0 END))) // 2 AS thr
       |  FROM sc JOIN documents USING (doc_id) WHERE ($predSql))""".stripMargin

  /** Oracle twin of [[qcBucketed]]+[[qcWeights]]: tok/bt/cnt/tot/wt CTEs
    * (HUGEINT cross-multiplication — DuckDB's exact integer widening).
    * `trainPredSql` picks the training rows (all seeds for q163, the
    * even-doc_id half for q164's held-out eval). */
  private def qcSql(trainPredSql: String): String =
    s"""tok AS (SELECT doc_id, source, unnest(string_split(text, ' ')) AS term
       |  FROM documents),
       |bt AS (SELECT doc_id, source, ${md5ModSql("term")} % $QcBuckets AS b,
       |    CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2, 3),
       |cnt AS (SELECT b,
       |    sum(CASE WHEN source IN ($QcPosSqlList) THEN tf ELSE 0 END) AS a,
       |    sum(CASE WHEN source NOT IN ($QcPosSqlList) THEN tf ELSE 0 END) AS c
       |  FROM bt WHERE ($trainPredSql) GROUP BY b),
       |tot AS (SELECT coalesce(sum(a), 0) AS ta, coalesce(sum(c), 0) AS tc0 FROM cnt),
       |wt AS (SELECT g.gs AS b, CAST(
       |    (CAST(coalesce(n.a, 0) + 1 AS HUGEINT) * (t.tc0 + $QcBuckets) * 1000000) //
       |    (CAST(coalesce(n.a, 0) + 1 AS HUGEINT) * (t.tc0 + $QcBuckets)
       |      + CAST(coalesce(n.c, 0) + 1 AS HUGEINT) * (t.ta + $QcBuckets)) AS BIGINT) AS w
       |  FROM (SELECT unnest(generate_series(0, ${QcBuckets - 1})) AS gs) g
       |  CROSS JOIN tot t LEFT JOIN cnt n ON n.b = g.gs)""".stripMargin

  /** Coarse IVF quantizer CTEs (assumes `e`/`norms` from [[annBaseSql]]):
    * static codebook vec_id < 8, argmax-cosine `assign` (ties → lower
    * cid), `probes` = the 2 nearest cells for queries 10..14. ONE
    * definition shared by q55/q87/q129/q130 so the convention (seed set,
    * nprobe, tie order) cannot fork between an index and its eval. */
  private def ivfCoarseSql: String =
    """cdots AS (SELECT a.vec_id AS vid, b.vec_id AS cid, sum(a.xq * b.xq) AS dot
      |  FROM e a JOIN e b ON b.i = a.i AND b.vec_id < 8
      |  GROUP BY vid, cid),
      |ccos AS (SELECT vid, cid,
      |    CAST(dot AS DOUBLE) / sqrt(CAST(nv.nrm AS DOUBLE) * CAST(nc.nrm AS DOUBLE)) AS cosine
      |  FROM cdots JOIN norms nv ON nv.vec_id = vid JOIN norms nc ON nc.vec_id = cid),
      |assign AS (SELECT vid AS vec_id, cid AS cell FROM (
      |  SELECT vid, cid, row_number() OVER (PARTITION BY vid ORDER BY cosine DESC, cid) AS rn
      |  FROM ccos) WHERE rn = 1),
      |probes AS (SELECT vid AS q_id, cid AS cell FROM (
      |  SELECT vid, cid, row_number() OVER (PARTITION BY vid ORDER BY cosine DESC, cid) AS rn
      |  FROM ccos WHERE vid >= 10 AND vid < 15) WHERE rn <= 2)""".stripMargin

  /** Exact ground-truth top-3 CTEs (brute force over the corpus for
    * queries 10..14) — ONE definition shared by the recall gates
    * q87/q130, same reasoning. */
  private def exactTop3Sql: String =
    """exdots AS (SELECT a.vec_id AS q_id, b.vec_id AS c_id, sum(a.xq * b.xq) AS dot
      |  FROM e a JOIN e b ON b.i = a.i AND b.vec_id <> a.vec_id
      |  WHERE a.vec_id >= 10 AND a.vec_id < 15 GROUP BY q_id, c_id),
      |excos AS (SELECT q_id, c_id,
      |    CAST(dot AS DOUBLE) / sqrt(CAST(na.nrm AS DOUBLE) * CAST(nb.nrm AS DOUBLE)) AS cosine
      |  FROM exdots JOIN norms na ON na.vec_id = q_id JOIN norms nb ON nb.vec_id = c_id),
      |exact AS (SELECT q_id, c_id FROM (
      |  SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rnk
      |  FROM excos) WHERE rnk <= 3)""".stripMargin

  /** Shared IVF-PQ CTE chain (assumes `e`/`norms` from [[annBaseSql]]):
    * coarse assign + probes (the q55 form) → residuals vs the assigned
    * centroid → PQ codebook from vec_id 8..15's residuals → per-subspace
    * codes → per-(query, probed-cell) ADC tables → ranked `pqtop`
    * (q_id, c_id, cell, adc, rnk ≤ 3). ONE definition so q129 (the
    * index) and q130 (its recall gate) cannot desynchronize. */
  private def ivfPqSqlChain: String =
    s"""$ivfCoarseSql,
      |cent AS (SELECT vec_id AS cell, i, xq FROM e WHERE vec_id < 8),
      |resid AS (SELECT e.vec_id, a.cell, e.i, e.xq - c.xq AS r
      |  FROM e JOIN assign a ON a.vec_id = e.vec_id
      |         JOIN cent c ON c.cell = a.cell AND c.i = e.i),
      |cw AS (SELECT vec_id - 8 AS cid, i, r FROM resid
      |       WHERE vec_id >= 8 AND vec_id < 16),
      |d2s AS (SELECT v.vec_id, w.cid, CAST((v.i - 1) // 16 AS INT) AS s,
      |    sum((v.r - w.r) * (v.r - w.r)) AS d2
      |  FROM resid v JOIN cw w ON w.i = v.i GROUP BY 1, 2, 3),
      |codes AS (SELECT vec_id, s, cid AS code FROM (
      |  SELECT vec_id, s, cid,
      |    row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, cid) AS rn
      |  FROM d2s) WHERE rn = 1),
      |qres AS (SELECT p.q_id, p.cell, e.i, e.xq - c.xq AS qr
      |  FROM probes p JOIN e ON e.vec_id = p.q_id
      |       JOIN cent c ON c.cell = p.cell AND c.i = e.i),
      |qd AS (SELECT q.q_id, q.cell, w.cid, CAST((q.i - 1) // 16 AS INT) AS s,
      |    sum((q.qr - w.r) * (q.qr - w.r)) AS d2
      |  FROM qres q JOIN cw w ON w.i = q.i GROUP BY 1, 2, 3, 4),
      |cand AS (SELECT p.q_id, a.vec_id AS c_id, a.cell
      |  FROM probes p JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.q_id),
      |adc AS (SELECT cand.q_id, cand.c_id, cand.cell, CAST(sum(t.d2) AS BIGINT) AS adc
      |  FROM cand JOIN codes c2 ON c2.vec_id = cand.c_id
      |       JOIN qd t ON t.q_id = cand.q_id AND t.cell = cand.cell
      |                AND t.s = c2.s AND t.cid = c2.code
      |  GROUP BY 1, 2, 3),
      |pqtop AS (SELECT q_id, c_id, cell, adc, rnk FROM (
      |  SELECT q_id, c_id, cell, adc,
      |    row_number() OVER (PARTITION BY q_id ORDER BY adc, c_id) AS rnk
      |  FROM adc) WHERE rnk <= 3)""".stripMargin

  /** Shared driver-side context for the IVF-PQ family (q129/q130/q134):
    * quantized base, coarse probes, residuals, and the two driver-sized
    * component tables — coarse centroids and the SEED PQ codebook. ONE
    * builder so the index, its recall gate, and the trained variant
    * cannot desynchronize on the conventions (seed set, tie rules,
    * quantization). */
  private[llm] final case class IvfPqCtx(
      emb: DataFrame,
      base: DataFrame,
      probes: DataFrame,
      resid: DataFrame,
      centComps: IndexedSeq[IndexedSeq[Long]],
      cwSeed: IndexedSeq[IndexedSeq[Long]])

  private[llm] def ivfPqCtx(s: SparkSession, d: String): IvfPqCtx = {
    val emb = Tables.embeddings(s, d).filter(size($"embedding") === 64)
      .select($"vec_id", $"embedding", sqNormQ($"embedding").as("nrm"))
    val base = emb.select($"vec_id",
        transform($"embedding", x => VectorOps.quant(x)).as("xq"))
      .transform(graft.Materialize(_)) // reused: residuals, codebook collect, queries
    // coarse assignment + probes — the q55 discipline verbatim
    val cents = emb.filter($"vec_id" < 8)
      .select($"vec_id".as("cid"), $"embedding".as("c_emb"), $"nrm".as("c_nrm"))
    val scored = emb.join(broadcast(cents))
      .select($"vec_id", $"nrm", $"cid",
        cosineQ(dotQ($"embedding", $"c_emb"), $"nrm", $"c_nrm").as("ccos"))
    val assign = Windows.topKPerGroup(scored, Seq("vec_id"),
        Seq($"ccos".desc, $"cid"), 1)
      .select($"vec_id", $"cid".as("cell"))
    val probes = Windows.topKPerGroup(
        scored.filter($"vec_id" >= 10 && $"vec_id" < 15), Seq("vec_id"),
        Seq($"ccos".desc, $"cid"), 2)
      .select($"vec_id".as("q_id"), $"cid".as("cell"))
    // centroid components: 8×64 longs; cells are exactly 0..7 (the
    // vec_id < 8 literal convention). element_at below indexes by
    // POSITION, so a missing seed id would silently shift every lookup
    // while the oracle (joined by id) stayed correct — assert the
    // convention instead of trusting it (the q108 ADVICE discipline).
    val seedRows = base.filter($"vec_id" < 8).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1))).sortBy(_._1)
    require(seedRows.map(_._1).toSeq == (0L to 7L),
      s"IVF-PQ coarse codebook requires dim-64 vectors with vec_id 0..7; got ${seedRows.map(_._1).mkString(",")}")
    val centComps = seedRows.map(_._2.toIndexedSeq).toIndexedSeq
    val resid = base.join(assign, "vec_id")
      .select($"vec_id", $"cell", IvfPq.residual($"xq", $"cell", centComps).as("r"))
      .transform(graft.Materialize(_)) // feeds the codebook collect AND the encode
    // seed PQ codebook = residuals of vec_id 8..15 (8×64 longs,
    // driver-sized); cw(cid) is positional too — assert likewise
    val cwRows = resid
      .filter($"vec_id" >= 8 && $"vec_id" < 16).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](2).toIndexedSeq))
      .sortBy(_._1)
    require(cwRows.map(_._1).toSeq == (8L to 15L),
      s"PQ codebook requires dim-64 vectors with vec_id 8..15; got ${cwRows.map(_._1).mkString(",")}")
    IvfPqCtx(emb, base, probes, resid, centComps, cwRows.map(_._2).toIndexedSeq)
  }

  /** Encode + ADC with codebook `cw` (seed or trained): returns
    * (q_id, c_id, cell, adc). Residual/encode/ADC builders come from
    * [[IvfPq]] — ONE definition shared with the online serving path
    * (StreamingIvfPqSpec); encode and ADC are shuffle-free projections
    * over broadcast driver-sized component tables. */
  private[llm] def ivfPqAdcPairs(ctx: IvfPqCtx, cw: IndexedSeq[IndexedSeq[Long]]): DataFrame = {
    // one-pass native encode (r10): codes for all 4 subspaces from a
    // single pq_codes evaluation instead of 4 interpreted argmin chains
    val coded = ctx.resid
      .withColumn("codes", IvfPq.codes($"r", cw, 16))
      .select($"vec_id" +: $"cell" +:
        (0 to 3).map(sI => element_at($"codes", sI + 1).as(s"code$sI")): _*)
    val qd = ctx.probes.join(ctx.base.select($"vec_id".as("q_id"), $"xq"), "q_id")
      .withColumn("qr", IvfPq.residual($"xq", $"cell", ctx.centComps))
      .select($"q_id" +: $"cell" +:
        (0 to 3).map(sI => IvfPq.dtab($"qr", cw, sI, 16).as(s"dtab$sI")): _*)
    val adc = IvfPq.adc(
      (0 to 3).map(sI => col(s"code$sI")), (0 to 3).map(sI => col(s"dtab$sI")))
    coded.join(broadcast(qd), Seq("cell"))
      .filter($"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id".as("c_id"), $"cell", adc.as("adc"))
  }

  /** Spark twin of [[ivfPqSqlChain]]: returns (q_id, c_id, cell, adc,
    * rnk ≤ 3) under the SEED (untrained) codebook. */
  private def ivfPqTop3(ctx: IvfPqCtx): DataFrame =
    Windows.topKPerGroup(ivfPqAdcPairs(ctx, ctx.cwSeed),
      Seq("q_id"), Seq($"adc".asc, $"c_id"), 3)

  private def ivfPqTop3(s: SparkSession, d: String): DataFrame =
    ivfPqTop3(ivfPqCtx(s, d))

  /** Exact brute-force ground-truth top-3 (q_id, ex_id) for queries
    * 10..14 — the Spark twin of [[exactTop3Sql]], shared by the recall
    * gates q130/q134. */
  private def exactTop3Df(emb: DataFrame): DataFrame = {
    val qs = emb.filter($"vec_id" >= 10 && $"vec_id" < 15)
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"), $"nrm".as("q_nrm"))
    val exPairs = emb.join(broadcast(qs), $"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id".as("c_id"),
        cosineQ(dotQ($"q_emb", $"embedding"), $"q_nrm", $"nrm").as("cosine"))
    Windows.topKPerGroup(exPairs, Seq("q_id"), Seq($"cosine".desc, $"c_id"), 3)
      .select($"q_id", $"c_id".as("ex_id"))
  }

  /** hits + recall@3 per query: LEFT-join an ANN top-3 (q_id, c_id)
    * against the exact ground truth (q_id, ex_id) and count matches. */
  private def recallAgainst(ann: DataFrame, exact: DataFrame,
      hitsName: String, recallName: String): DataFrame =
    ann.join(exact,
        exact("ex_id") === ann("c_id") && exact("q_id") === ann("q_id"), "left")
      .groupBy(ann("q_id").as("q_id"))
      .agg(count(exact("ex_id")).as(hitsName),
        (count(exact("ex_id")).cast("double") / 3.0).as(recallName))

  /** Lloyd rounds for the TRAINED PQ codebook (q134) — ONE constant
    * threaded into both the operator and the SQL oracle. `final val`
    * literal: inlined at compile time, so the `specs` val (initialized
    * earlier in the object) cannot observe a zero default. */
  private final val PqTrainRounds = 2

  /** ADC shortlist width for the exact re-rank (q134) — the "refine
    * factor" knob of a production IVF-PQ. 16×k here because the
    * fixture's codebook is deliberately tiny (m=4, 8 codewords ⇒
    * coarse ADC resolution); production sizes refine to the measured
    * ADC/exact rank correlation. Still a >2× reduction of the probed
    * cells before any exact math touches a vector. */
  private final val PqRefineWidth = 48

  /** Per-subspace Lloyd training of the PQ codebook on the residuals —
    * the production fix whose need the q130 gate exposes. Each round:
    * encode with the current codebook ([[IvfPq.codeFor]] — the SAME
    * tie rule as serving), then per-(subspace, codeword, dim) exact
    * integer sums with the [[KMeans]] truncated-mean math. A codeword
    * that loses every member KEEPS its previous components (carry-over
    * — deterministic in both engines, and keeps the codebook
    * rectangular, unlike the k-means empty-cluster contraction).
    * Per-round collected state is 8×64 longs — driver-sized by
    * definition; the heavy side stays a shuffle-free projection plus
    * one k·dims-bounded partial aggregation, exactly the
    * [[KMeans.train]] scale shape. */
  private[llm] def trainPqCodebook(resid: DataFrame,
      seed: IndexedSeq[IndexedSeq[Long]], rounds: Int): IndexedSeq[IndexedSeq[Long]] = {
    var cw = seed
    for (_ <- 1 to rounds) {
      // one-pass native encode (r10): the per-subspace interpreted
      // argmin chains were the round's dominant cost on the fixture
      val coded = resid.select($"r",
        IvfPq.codes($"r", cw, 16).as("codes"))
      val sums = coded
        .select($"codes", posexplode(col("r")).as(Seq("pos", "x")))
        .select(($"pos" / 16).cast("int").as("s"), pmod($"pos", lit(16)).as("j"), $"x",
          element_at($"codes", ($"pos" / 16).cast("int") + 1).as("cid"))
        .groupBy($"s", $"cid", $"j")
        .agg(sum($"x").as("sm"), count(lit(1)).as("cnt"))
        .collect()
      val means = sums.map { r =>
        ((r.getInt(0), r.getInt(1), r.getInt(2)),
          (r.getLong(3).toDouble / r.getLong(4).toDouble).toLong)
      }.toMap
      cw = IndexedSeq.tabulate(8) { cid =>
        IndexedSeq.tabulate(64) { pos =>
          means.getOrElse((pos / 16, cid, pos % 16), cw(cid)(pos))
        }
      }
    }
    cw
  }

  /** Trained-PQ CTE chain (assumes [[ivfPqSqlChain]]'s names): residual
    * subvectors keyed by (subspace s, dim j) → `rounds` unrolled Lloyd
    * rounds (encode with the current codebook, truncated-mean update,
    * carry-over for empty codewords) → trained codes + ADC over the
    * SAME candidate set as q129 → PqRefineWidth-wide (48) shortlist →
    * EXACT re-rank →
    * `ttop` (q_id, c_id). Mirrors [[trainPqCodebook]] +
    * [[ivfPqAdcPairs]] step for step. */
  private def pqTrainedSqlChain(rounds: Int): String = {
    def round(r: Int): String =
      s"""tsum$r AS (SELECT a.s, a.cid, v.j, sum(v.r) AS sm, count(*) AS cnt
         |  FROM rsub v JOIN tas${r - 1} a ON a.vec_id = v.vec_id AND a.s = v.s
         |  GROUP BY 1, 2, 3),
         |cwt$r AS (SELECT w.s, w.cid, w.j,
         |    COALESCE(CAST(trunc(CAST(t.sm AS DOUBLE) / CAST(t.cnt AS DOUBLE)) AS BIGINT), w.r) AS r
         |  FROM cwt${r - 1} w LEFT JOIN tsum$r t
         |    ON t.s = w.s AND t.cid = w.cid AND t.j = w.j),
         |td$r AS (SELECT v.vec_id, v.s, w.cid, sum((v.r - w.r) * (v.r - w.r)) AS d2
         |  FROM rsub v JOIN cwt$r w ON w.s = v.s AND w.j = v.j GROUP BY 1, 2, 3),
         |tas$r AS (SELECT vec_id, s, cid FROM (
         |  SELECT vec_id, s, cid,
         |    row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, cid) AS rn
         |  FROM td$r) WHERE rn = 1)""".stripMargin
    s"""rsub AS (SELECT vec_id, CAST((i - 1) // 16 AS INT) AS s, (i - 1) % 16 AS j, r
       |  FROM resid),
       |cwt0 AS (SELECT vec_id - 8 AS cid, CAST((i - 1) // 16 AS INT) AS s, (i - 1) % 16 AS j, r
       |  FROM resid WHERE vec_id >= 8 AND vec_id < 16),
       |tas0 AS (SELECT vec_id, s, code AS cid FROM codes),
       |${(1 to rounds).map(round).mkString(",\n")},
       |qsub AS (SELECT q_id, cell, CAST((i - 1) // 16 AS INT) AS s, (i - 1) % 16 AS j, qr
       |  FROM qres),
       |tqd AS (SELECT q.q_id, q.cell, q.s, w.cid, sum((q.qr - w.r) * (q.qr - w.r)) AS d2
       |  FROM qsub q JOIN cwt$rounds w ON w.s = q.s AND w.j = q.j GROUP BY 1, 2, 3, 4),
       |tadc AS (SELECT cand.q_id, cand.c_id, CAST(sum(t.d2) AS BIGINT) AS adc
       |  FROM cand JOIN tas$rounds c2 ON c2.vec_id = cand.c_id
       |       JOIN tqd t ON t.q_id = cand.q_id AND t.cell = cand.cell
       |                 AND t.s = c2.s AND t.cid = c2.cid
       |  GROUP BY 1, 2),
       |tshort AS (SELECT q_id, c_id FROM (
       |  SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id ORDER BY adc, c_id) AS rn
       |  FROM tadc) WHERE rn <= $PqRefineWidth),
       |trr AS (SELECT st.q_id, st.c_id, sum(a.xq * b.xq) AS dot
       |  FROM tshort st JOIN e a ON a.vec_id = st.q_id
       |       JOIN e b ON b.vec_id = st.c_id AND b.i = a.i
       |  GROUP BY 1, 2),
       |trrc AS (SELECT q_id, c_id,
       |    CAST(dot AS DOUBLE) / sqrt(CAST(na.nrm AS DOUBLE) * CAST(nb.nrm AS DOUBLE)) AS cosine
       |  FROM trr JOIN norms na ON na.vec_id = q_id JOIN norms nb ON nb.vec_id = c_id),
       |ttop AS (SELECT q_id, c_id FROM (
       |  SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rn
       |  FROM trrc) WHERE rn <= 3)""".stripMargin
  }
}
