package graft

import org.apache.spark.sql.SparkSession
import Runner.fmt

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
  *     session-window / cartesian buffers). Memory and disk bytes
  *     spilled are summed per query by a [[Runner]].
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

  private def replayFingerprint(spark: SparkSession, sfDir: String): (Long, Long) =
    StreamBench.fingerprint(BenchReplayEvent.countingReplay(spark, sfDir)._2.toDF())

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/sfx10")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val queries = SparkEntry.select(Queries)

    // ---- pass 1: reference fingerprints, roomy local session ----
    val ref = {
      val spark = graft.core.Tables.sessionBuilder(cpus, s"local[$cpus]").getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      val fps = Queries.map { n =>
        val fp = StreamBench.fingerprint(queries(n)(spark, sfDir))
        System.err.println(s"[spill] reference $n -> $fp")
        n -> fp
      }.toMap
      val rfp = replayFingerprint(spark, sfDir)
      spark.stop()
      (fps, rfp)
    }

    // ---- pass 2: constrained executors + forced spill thresholds ----
    val spark = graft.core.Tables.sessionBuilder(cpus, Master, ExecutorMem)
      // every UnsafeExternalSorter (sort, agg fallback, shuffle
      // write) force-spills past this many rows — deterministic
      // spill exercise independent of heap luck
      .config("spark.shuffle.spill.numElementsForceSpillThreshold", ForceSpillElements)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // operator-buffer spill thresholds (SQLConf, session-settable)
    Seq("spark.sql.windowExec.buffer.spill.threshold",
        "spark.sql.sortMergeJoinExec.buffer.spill.threshold",
        "spark.sql.sessionWindow.buffer.spill.threshold",
        "spark.sql.cartesianProductExec.buffer.spill.threshold")
      .foreach(k => spark.conf.set(k, ForceSpillElements))
    val run = new Runner(spark)

    var failures = List.empty[String]
    // one fingerprinted run under pressure, checked against its
    // reference pass: its JSON fields and its disk bytes spilled
    def checked(name: String, expected: (Long, Long))(fp: => (Long, Long)): (String, Long) = {
      val r = run(fp)
      val ok = r.result == Right(expected)
      if (!ok) failures ::= s"$name: ${r.result.getOrElse((-1L, -1L))} vs $expected " +
        r.error.fold("")(_.take(120))
      val (m, d, sec) = (r.totals.memoryBytesSpilled, r.totals.diskBytesSpilled, fmt(r.secs, 2))
      System.err.println(s"[spill] $name ok=$ok mem=$m disk=$d sec=$sec")
      (s""""hash_ok":$ok,"memory_bytes_spilled":$m,"disk_bytes_spilled":$d,"sec":$sec""", d)
    }
    val rows = Queries.map { n =>
      checked(n, ref._1(n))(StreamBench.fingerprint(queries(n)(spark, sfDir)))
    }
    // replay path under the same pressure
    val replay = checked("replay", ref._2)(replayFingerprint(spark, sfDir))

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

    val totalDisk = (rows :+ replay).map(_._2).sum
    if (totalDisk == 0) failures ::= "no disk bytes spilled anywhere — the gate measured nothing"
    val ok = failures.isEmpty
    val line =
      s"""{"sf":"$sfDir","master":"$Master","executor_mem":"$ExecutorMem",""" +
      s""""force_spill_elements":$ForceSpillElements,"queries":[""" +
      Queries.zip(rows).map { case (n, (fields, _)) => s"""{"query":"$n",$fields}""" }.mkString(",") +
      s"""],"replay":{${replay._1}},""" +
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
