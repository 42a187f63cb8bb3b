package graft

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.SessionShim

/** Memory-pressure / SPILL gate (VERDICT r7 #2): every other gate runs
  * executors that never spill — 4 GiB heaps over ≤11 MB tables — so the
  * 100 TB posture claimed sort/shuffle/join/window spill paths that had
  * never executed. This main runs the heaviest queries, the replay
  * path, and a RocksDB streaming drain on the 10× ScaleUp fixture TWICE
  * in one JVM:
  *
  *  1. **reference pass** — a plain roomy session (`local[cpus]`,
  *     default thresholds): per-query order-insensitive fingerprints
  *     (the [[StreamBench.fingerprint]] aggregate — count + summed row
  *     hashes — so executor count and row order can't alias a diff);
  *  2. **constrained pass** — small separate executor JVMs
  *     (`local-cluster[2,4,1408]`, 1 GiB executors) WITH force-spill
  *     thresholds driven to a few hundred-k elements
  *     (`spark.shuffle.spill.numElementsForceSpillThreshold` for every
  *     UnsafeExternalSorter: sorts, aggregates, shuffle writes; the
  *     SQLConf buffer thresholds for window / sort-merge-join /
  *     session-window / cartesian buffers). Per-task
  *     memory/diskBytesSpilled are summed per query via a listener.
  *
  * The gate asserts BOTH halves: hashes unchanged (spilling changed
  * where bytes live, never results) AND total disk bytes spilled > 0
  * (the spill paths actually ran — a zero here means the gate measured
  * nothing and FAILS). The replay point is the counting replay
  * ([[BenchReplayEvent.countingReplay]]). RocksDB's native memory is
  * bounded separately (`boundedMemoryUsage` + 64 MiB cap) for the
  * streaming point: 400k deterministic ticks through the repo's one
  * live-vs-replay parity drain ([[StreamBench.asOfDrain]]).
  *
  *   SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 \
  *   SPARK_GRAFT_SPILL_OUT=SPILL_r08.json \
  *     sbt "runMain graft.SpillCheck /tmp/sfx10"
  */
object SpillCheck {

  /** Heaviest queries by the committed bench lines + the two SQL-TVF
    * gates (index builds ride the query). */
  private val Queries = Seq(
    "q115_pagerank", "q134_ivfpq_trained", "q127_triangles",
    "q91_sketch_error", "q149_sql_dedup_probe", "q105_cross_corpus_dedup",
    "q139_star_banding", "q144_semdedup_survivors", "q61_neardup_banded",
    // token-scale (pos, hash) materialization + window-hash shuffles —
    // the substring-dedup family is the heaviest per-token memory user
    "q157_substring_spans", "q159_substring_survivors",
    // r9 additions: the SQL rewrite pass (corpus join + splice through
    // the TVF surface) and the classifier's score/intercept diamond
    "q168_sql_dup_cuts", "q163_quality_classifier",
    "q1_pricing_summary")

  // the constrained pass: executors, their heap, force-spill row count
  private val Master = "local-cluster[2,4,1408]"
  private val ExecutorMem = "1g"
  private val ForceSpillElements = "131072"

  private final class SpillListener extends SparkListener {
    val mem = new AtomicLong(0L)
    val disk = new AtomicLong(0L)
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        mem.addAndGet(m.memoryBytesSpilled)
        disk.addAndGet(m.diskBytesSpilled)
      }
    }
    def reset(): (Long, Long) = (mem.getAndSet(0L), disk.getAndSet(0L))
  }

  private def replayFingerprint(spark: SparkSession, sfDir: String): (Long, Long) =
    StreamBench.fingerprint(BenchReplayEvent.countingReplay(spark, sfDir)._2.toDF())

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/sfx10")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")

    // ---- pass 1: reference fingerprints, roomy local session ----
    val ref = {
      val spark = graft.core.Tables.configure(
        SparkSession.builder().master(s"local[$cpus]"), cpus).getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      val fps = Queries.map { n =>
        val fp = StreamBench.fingerprint(SparkEntry.queries(n)(spark, sfDir))
        System.err.println(s"[spill] reference $n -> $fp")
        n -> fp
      }.toMap
      val rfp = replayFingerprint(spark, sfDir)
      spark.stop()
      (fps, rfp)
    }

    // ---- pass 2: constrained executors + forced spill thresholds ----
    val spark = graft.core.Tables.configure(
        SparkSession.builder().master(Master)
          .config("spark.executor.extraClassPath", System.getProperty("java.class.path"))
          .config("spark.executor.memory", ExecutorMem)
          // every UnsafeExternalSorter (sort, agg fallback, shuffle
          // write) force-spills past this many rows — deterministic
          // spill exercise independent of heap luck
          .config("spark.shuffle.spill.numElementsForceSpillThreshold", ForceSpillElements),
        cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // operator-buffer spill thresholds (SQLConf, session-settable)
    Seq("spark.sql.windowExec.buffer.spill.threshold",
        "spark.sql.sortMergeJoinExec.buffer.spill.threshold",
        "spark.sql.sessionWindow.buffer.spill.threshold",
        "spark.sql.cartesianProductExec.buffer.spill.threshold")
      .foreach(k => spark.conf.set(k, ForceSpillElements))
    val listener = new SpillListener
    spark.sparkContext.addSparkListener(listener)

    def fmt(v: Double) = String.format(java.util.Locale.ROOT, "%.2f", v)
    var failures = List.empty[String]
    val rows = Queries.map { n =>
      listener.reset()
      val t0 = System.nanoTime()
      val (fp, err) =
        try (StreamBench.fingerprint(SparkEntry.queries(n)(spark, sfDir)), "")
        catch { case e: Throwable => ((-1L, -1L), String.valueOf(e.getMessage).take(120)) }
      val sec = (System.nanoTime() - t0) / 1e9
      SessionShim.drainListenerBus(spark.sparkContext)
      val (m, d) = listener.reset()
      val ok = fp == ref._1(n)
      if (!ok) failures ::= s"$n: $fp vs ${ref._1(n)} $err"
      System.err.println(s"[spill] $n ok=$ok mem=$m disk=$d sec=${fmt(sec)}")
      s"""{"query":"$n","hash_ok":$ok,"memory_bytes_spilled":$m,""" +
        s""""disk_bytes_spilled":$d,"sec":${fmt(sec)}}"""
    }

    // replay path under the same pressure
    listener.reset()
    val tR = System.nanoTime()
    val (replayFp, replayErr) =
      try (replayFingerprint(spark, sfDir), "")
      catch { case e: Throwable => ((-1L, -1L), String.valueOf(e.getMessage).take(120)) }
    val replaySec = (System.nanoTime() - tR) / 1e9
    SessionShim.drainListenerBus(spark.sparkContext)
    val (rm, rd) = listener.reset()
    val replayOk = replayFp == ref._2
    if (!replayOk) failures ::= s"replay: $replayFp vs ${ref._2} $replayErr"
    System.err.println(s"[spill] replay ok=$replayOk mem=$rm disk=$rd sec=${fmt(replaySec)}")

    // streaming point: RocksDB under a bounded native-memory cap, with
    // batch-replay parity in-session (the ClusterCheck workload shape)
    val streamOk = try {
      import spark.implicits._
      val total = 400000L
      val d = StreamBench.asOfDrain(spark, "spill",
        (0L until total).iterator.map(StreamBench.tickOf),
        spark.range(0L, total).map(i => StreamBench.tickOf(i)),
        extraConfs = Seq(
          "spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage" -> "true",
          "spark.sql.streaming.stateStore.rocksdb.maxMemoryUsageMB" -> "64"))
      if (!d.parity) failures ::= s"stream: ${d.stream} vs ${d.expected}"
      d.parity
    } catch { case e: Throwable =>
      failures ::= s"stream: ${String.valueOf(e.getMessage).take(160)}"; false }

    val totalDisk = rows.map(_.split("\"disk_bytes_spilled\":")(1).split(",")(0).toLong).sum + rd
    val spilled = totalDisk > 0
    if (!spilled) failures ::= "no disk bytes spilled anywhere — the gate measured nothing"
    val ok = failures.isEmpty
    val line =
      s"""{"sf":"$sfDir","master":"$Master","executor_mem":"$ExecutorMem",""" +
      s""""force_spill_elements":$ForceSpillElements,"queries":[${rows.mkString(",")}],""" +
      s""""replay":{"hash_ok":$replayOk,"memory_bytes_spilled":$rm,""" +
      s""""disk_bytes_spilled":$rd,"sec":${fmt(replaySec)}},""" +
      s""""stream_bounded_rocksdb_64mb_parity":$streamOk,""" +
      s""""total_disk_bytes_spilled":$totalDisk,"ok":$ok}"""
    sys.env.get("SPARK_GRAFT_SPILL_OUT").foreach { p =>
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        line.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    spark.stop()
    println(line)
    if (!ok) {
      failures.foreach(f => System.err.println(s"[spill] FAIL $f"))
      sys.exit(1)
    }
  }
}
