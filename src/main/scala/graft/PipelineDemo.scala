package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Runner.fmt

/** The README "Running at 100 TB" pipeline as ONE runnable job —
  * ingest → compact+cluster → dedup → scrub → index → train-mix — each stage
  * producing the artifact the next one reads, timed at its boundary,
  * and its row counts cross-checked against the independently gated
  * queries (the per-stage correctness lives in the oracle gates; this
  * proves the COMPOSITION holds on one fixture end-to-end).
  *
  *   runMain graft.PipelineDemo <srcSfDir> <workDir>
  *
  * Stage notes (the live-ingest stage is a batch surrogate here: the
  * streaming landing path — GraftFeed shards, Crossover handover — is
  * gated by its own specs; what this stage reproduces is its OUTPUT
  * shape, a fragmented many-small-files landing zone that stage 2 must
  * repair):
  *  1. ingest    — land documents as 64 small files (the raw zone)
  *  2. compact   — `Compaction.compact` to size-targeted files,
  *                 z-ordered on (n_chars, doc_id) so length-window and
  *                 id-range scans both prune; embeddings
  *                 range-clustered by vec_id
  *  3. dedup     — q65 survivors (LSH bands → components → best per
  *                 cluster) filter the compacted corpus
  *  3b. scrub    — passage-level substring dedup over the survivors
  *                 (`SubstringDedup`: detect → splice), removed-token
  *                 total cross-checked against the q159 gate
  *  4. index     — `KMeans.train` on the embeddings, postings written
  *                 cell-partitioned (the nprobe/k pruning layout);
  *                 per-cell membership equals the q119 gate's output
  *  5. train-mix — q79 (lang filter → exact dedup → quality cutoff →
  *                 512-token packing) over the deduped AND scrubbed corpus
  */
object PipelineDemo {

  final case class Stage(name: String, secs: Double, rows: Long, note: String)

  def run(spark: SparkSession, srcDir: String, workDir: String): Seq[Stage] = {
    val raw = s"$workDir/raw"
    val tables = s"$workDir/tables"
    val dedup = s"$workDir/dedup"
    val scrub = s"$workDir/scrub"
    var out = Vector.empty[Stage]
    def stage(name: String)(body: => (Long, String)): Unit = {
      val t0 = System.nanoTime()
      val (rows, note) = body
      val secs = (System.nanoTime() - t0) / 1e9
      out :+= Stage(name, secs, rows, note)
      System.err.println(f"[pipeline] $name%-10s ${secs}%8.2fs rows=$rows $note")
    }

    stage("ingest") {
      val docs = core.Tables.documents(spark, srcDir)
      docs.repartition(64).write.mode("overwrite")
        .parquet(s"$raw/documents.parquet")
      val n = spark.read.parquet(s"$raw/documents.parquet").count()
      (n, s"landed ${sources.Compaction.countFiles(spark, s"$raw/documents.parquet")} small files")
    }

    stage("compact") {
      val before = sources.Compaction.countFiles(spark, s"$raw/documents.parquet")
      val after = sources.Compaction.compact(spark,
        s"$raw/documents.parquet", s"$tables/documents.parquet",
        zOrderBy = Seq("n_chars", "doc_id"))
      require(after < before,
        s"compaction did not reduce file count ($before -> $after)")
      sources.Compaction.compact(spark,
        s"$srcDir/embeddings.parquet", s"$tables/embeddings.parquet",
        clusterBy = Seq("vec_id"))
      val n = spark.read.parquet(s"$tables/documents.parquet").count()
      (n, s"documents $before -> $after files, z-ordered (n_chars, doc_id)")
    }

    stage("dedup") {
      val docs = core.Tables.documents(spark, tables)
      val total = docs.count()
      // the gated survivor selection (bands -> components -> best per
      // cluster) run against the compacted tables
      val survivors = SparkEntry.queries("q65_dedup_survivors")(spark, tables)
        .select(col("keep_id").as("doc_id")).transform(graft.Materialize(_))
      val kept = docs.join(survivors, "doc_id")
      kept.write.mode("overwrite").parquet(s"$dedup/documents.parquet")
      val n = spark.read.parquet(s"$dedup/documents.parquet").count()
      require(n == survivors.count(), "dedup join lost survivors")
      require(n > 0 && n <= total, s"survivor count $n out of range (corpus $total)")
      (n, s"kept $n of $total docs")
    }

    stage("scrub") {
      // passage-level pass AFTER doc-level dedup (the production chain:
      // survivors can still share boilerplate/quotes doc-level dedup
      // cannot see). Canonical-survivor spans spliced out, corpus
      // rewritten with original schema for the train-mix stage; the
      // removed-token total must agree with the independently gated
      // q159 run over the same corpus.
      val docs = core.Tables.documents(spark, dedup)
      val nDocs = docs.count()
      val wins = llm.SubstringDedup.windowHashes(docs, 8)
        .transform(graft.Materialize(_))
      // lang/source ride applyCuts' single corpus join (carry) — a
      // re-join of docs here would double the rewrite pass's exchange
      val cleaned = llm.SubstringDedup
        .applyCuts(docs, llm.SubstringDedup.survivorSpans(wins, 8),
          carry = Seq("lang", "source"))
        .transform(graft.Materialize(_))
      cleaned
        .select(col("doc_id"), col("clean_text").as("text"), col("lang"),
          col("source"), length(col("clean_text")).cast("long").as("n_chars"))
        .write.mode("overwrite").parquet(s"$scrub/documents.parquet")
      val written = spark.read.parquet(s"$scrub/documents.parquet").count()
      require(written == nDocs, s"scrub changed doc count ($nDocs -> $written)")
      val totTok = docs
        .agg(sum(size(split(col("text"), " ")).cast("long"))).head.getLong(0)
      val kept = cleaned.agg(sum(col("kept_tokens"))).head.getLong(0)
      val removedGate = SparkEntry
        .queries("q159_substring_survivors")(spark, dedup)
        .agg(sum(col("removed_tokens"))).head.getLong(0)
      require(totTok - kept == removedGate,
        s"scrub removed ${totTok - kept} tokens but the q159 gate says $removedGate")
      (written, s"cut ${totTok - kept} of $totTok tokens (== q159 gate)")
    }

    stage("index") {
      val emb = core.Tables.embeddings(spark, tables)
        .filter(size(col("embedding")) === 64)
        .select(col("vec_id"), col("embedding"))
      val total = emb.count()
      val (cb, assign) = llm.KMeans.train(emb, k = 8, iterations = 3)
      assign.write.mode("overwrite").partitionBy("cell")
        .parquet(s"$workDir/index/ivf_postings.parquet")
      // partition-dir inference types `cell` as int — normalize back
      val postings = spark.read.parquet(s"$workDir/index/ivf_postings.parquet")
        .withColumn("cell", col("cell").cast("long"))
      require(postings.count() == total, "postings lost vectors")
      // per-cell membership must equal the independently gated q119 run
      val gate = SparkEntry.queries("q119_kmeans")(spark, tables)
        .select(col("cell"), col("n_members"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val got = postings.groupBy(col("cell")).count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      require(got == gate,
        s"index cell membership diverges from the q119 gate: $got vs $gate")
      (total, s"${cb.size} trained cells, cell-partitioned postings == q119 gate")
    }

    stage("train-mix") {
      val survivors = spark.read.parquet(s"$scrub/documents.parquet").count()
      val packed = SparkEntry.queries("q79_corpus_pipeline")(spark, scrub)
      packed.write.mode("overwrite").parquet(s"$workDir/trainmix.parquet")
      val n = spark.read.parquet(s"$workDir/trainmix.parquet").count()
      require(n > 0 && n <= survivors,
        s"train-mix rows $n out of range (survivors $survivors)")
      val seqs = spark.read.parquet(s"$workDir/trainmix.parquet")
        .agg(countDistinct(col("seq_id"))).head.getLong(0)
      (n, s"$n docs packed into $seqs 512-token sequences")
    }

    out
  }

  def main(args: Array[String]): Unit = {
    val srcDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val workDir = args.lift(1).getOrElse("/tmp/graft-pipeline")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = core.Tables.sessionBuilder(cpus, s"local[$cpus]").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // SPARK_GRAFT_MATERIALIZE=table runs every reuse point in the
    // durable persisted-table mode (the executor-loss-safe production
    // posture; see graft.Materialize) — scratch under the work dir so
    // one `rm -rf` clears the run
    sys.env.get("SPARK_GRAFT_MATERIALIZE").foreach { m =>
      spark.conf.set(Materialize.ModeKey, m)
      spark.conf.set(Materialize.DirKey, s"$workDir/materialize")
    }
    val stages = run(spark, srcDir, workDir)
    Materialize.cleanup(spark)
    val js = stages.map(s =>
        s"""{"stage":"${s.name}","secs":${fmt(s.secs, 2)},"rows":${s.rows},"note":"${s.note}"}""")
      .mkString("[", ",", "]")
    spark.stop()
    println(s"""{"pipeline":$js,"total_sec":${fmt(stages.map(_.secs).sum, 2)},"src":"$srcDir"}""")
  }
}
