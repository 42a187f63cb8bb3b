package graftbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** An analyst running the historical queries: one serial client (closed
  * loop) runs a fixed set of `SparkEntry` queries on the generated sf0.1
  * tables, each to a `noop` sink, in a seed-shuffled order.
  *
  * The set is every 13th of the 169 queries in name order, starting at the
  * 7th: a systematic sample of the suite that fits one run. On the 4-core
  * reference box the full suite is ~106 s warm and ~175 s cold, this
  * sample ~7.7 s warm and ~11 s cold. It spans relational, as-of/replay,
  * LLM text and vector, sketch, `graft.operators` and Materialize users. */
object BatchSuite extends Workload {
  val Queries: Seq[String] = Seq(
    "q106_full_outer", "q118_scd2", "q12_sort_limit", "q141_spliced_replay",
    "q153_simhash_pairs", "q165_doc_profile", "q23_timer_ticks", "q35_typed_udaf",
    "q47_cosine_topk", "q59_kmv_distinct", "q70_incremental_neardup", "q82_except_all",
    "q94_retention")

  private lazy val all = graft.SparkEntry.queries

  /** What `graft.Bench` does between queries: drop checkpointed/cached
    * data of the finished query so it cannot slow the next one. */
  private def reset(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    spark.catalog.clearCache()
  }

  private def expectedTable(path: String): Map[String, (Long, Long)] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try {
      val pat = """"(q[0-9A-Za-z_]+)"\s*:\s*\[\s*(-?[0-9]+)\s*,\s*(-?[0-9]+)\s*\]""".r
      pat.findAllMatchIn(src.mkString).map(m => m.group(1) -> (m.group(2).toLong, m.group(3).toLong)).toMap
    } finally src.close()
  }

  /** Untimed warm-up: a concurrent cold pass (one thread per core) that
    * doubles as the output check, every query's fingerprint against the
    * table recorded at the seed commit; then one serial `noop` pass, so the
    * timed passes start with the JIT and codegen caches warm. */
  def prepare(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val expected = expectedTable(ctx.expected)
    val order = new scala.util.Random(ctx.seed).shuffle(Queries)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(ctx.cores)
    val checks = order.map { q =>
      pool.submit(() => {
        try {
          val fp = Stats.fingerprint(all(q)(spark, ctx.tables))
          val same = expected.get(q).contains(fp)
          if (!same) ctx.log(s"$q output $fp differs from expected ${expected.get(q)}")
          same
        } catch { case e: Exception => ctx.log(s"$q failed in warm pass: $e"); false }
      })
    }
    val oks = checks.map(_.get())
    pool.shutdown()
    oks.foreach(ctx.op)
    reset(spark)
    order.foreach { q =>
      ctx.op(try { all(q)(spark, ctx.tables).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Exception => ctx.log(s"$q failed in warm pass: $e"); false })
      reset(spark)
    }
  }

  final case class Q(name: String, query: Span, build: Span)

  def measure(ctx: Ctx): Measured = {
    val spark = ctx.spark
    val sc = spark.sparkContext
    val rnd = new scala.util.Random(ctx.seed ^ 0x5DEECE66DL)
    val runs = mutable.ArrayBuffer.empty[Q]
    val passWalls = mutable.ArrayBuffer.empty[Double]
    val taken = mutable.ArrayBuffer.empty[(Q, Taken)]
    val files0 = Sources.filesDiscovered
    val hits0 = Sources.listingCacheHits
    ctx.layers.foreach(_.take(sc))
    val t0 = System.nanoTime()
    // a pass is ~10 s (GCs included) at the seed commit on the 4-core
    // box; single passes there vary by ~15% from run to run, so a run
    // pools several
    for (_ <- 1 to Runs.count(ctx.seconds, 10.0)) {
      var pass = 0.0
      rnd.shuffle(Queries).foreach { q =>
        System.gc() // no query pays for the garbage of the one before
        val ok = try {
          var build: Span = null
          val (_, qs) = ctx.tracer.span("query") {
            val (df, b) = ctx.tracer.span("build")(all(q)(spark, ctx.tables))
            build = b
            ctx.tracer.span("write")(df.write.format("noop").mode("overwrite").save())
          }
          val r = Q(q, qs, build)
          runs += r
          pass += qs.durMs / 1000.0
          ctx.layers.foreach(l => taken += r -> l.take(sc))
          true
        } catch { case e: Exception => ctx.log(s"$q failed: $e"); false }
        ctx.op(ok)
        reset(spark)
      }
      passWalls += pass
      ctx.log(f"pass ${passWalls.size}: $pass%.3f s")
    }
    val walls = runs.map(_.query.durMs)
    val n = walls.size
    // the tail has 10 samples beyond it, so no single slow query sets it
    val (tail, tailPct) = Stats.tail(walls)
    val e2e = Map(
      "throughput_per_s" -> Metric(n / (walls.sum / 1000.0), "1/s", n),
      "latency_p50_ms" -> Metric(Stats.median(walls), "ms", n),
      "latency_tail_ms" -> Metric(tail, "ms", n))
    val notes = Map(
      "suite_s" -> Metric(Stats.median(passWalls), "s", passWalls.size),
      "query_p50_s" -> Metric(Stats.median(walls) / 1000.0, "s", n),
      "query_p90_s" -> Metric(tail / 1000.0, "s", n),
      "query_p90_pct" -> Metric(100.0 * tailPct, "%", n))
    val layer = ctx.layers.map { _ =>
      val passes = passWalls.size.toDouble
      // per query: build self + planning + job span + residue against wall
      val per = taken.map { case (r, t) =>
        val jobs = t.jobs.map(j => (j.startMs, j.endMs))
        val phases = t.phases.map(p => (p.startMs, p.endMs))
        val b = r.build
        val buildSelf = b.durMs - Intervals.covered(jobs ++ phases, b.startMs, b.endMs)
        val plan = t.phases.map(p => p.endMs - p.startMs).sum
        val jobSpan = Intervals.covered(jobs, r.query.startMs, r.query.endMs)
        val residue = r.query.durMs -
          Intervals.covered(jobs ++ phases :+ (b.startMs -> b.endMs), r.query.startMs, r.query.endMs)
        val err = math.abs(buildSelf + plan + jobSpan + residue - r.query.durMs) / r.query.durMs
        val buildJobs = t.jobs.count(j => j.startMs >= b.startMs - 1 && j.startMs <= b.endMs + 1)
        (buildSelf, buildJobs, err, residue)
      }
      val merged = taken.map(_._2).reduceOption(_ ++ _)
      val regions = runs.map(r => (r.query.startMs, r.query.endMs)).toSeq
      val m = merged.map(t => LayerMetrics.exec(t, regions, ctx.cores) ++ LayerMetrics.plan(t))
        .getOrElse(Map.empty)
      // every figure is per pass, so runs of different lengths compare
      LayerMetrics.zeros ++ m.map { case (k, v) =>
        k -> (if (v.unit == "ratio") v else v.copy(value = v.value / passes))
      } ++ Map(
        "tables.files_discovered" -> Metric((Sources.filesDiscovered - files0) / passes, "count", n),
        "tables.listing_cache_hits" -> Metric((Sources.listingCacheHits - hits0) / passes, "count", n),
        "build.s" -> Metric(per.map(_._1).sum / 1000.0 / passes, "s", n),
        "build.jobs" -> Metric(per.map(_._2).sum / passes, "count", n),
        "exec.driver_residue_s" -> Metric(per.map(_._4).sum / 1000.0 / passes, "s", n),
        "trace.accounting_max_err" -> Metric(if (per.isEmpty) 0.0 else per.map(_._3).max, "ratio", n))
    }.getOrElse(Map.empty)
    Measured(e2e, layer, notes)
  }
}
