package graft

import org.apache.spark.SparkContext

/** The local-cluster standing gate: everything else in the repo runs
  * `local[n]` — ONE JVM, shared heap — which cannot exercise the axis a
  * 1000-executor deployment breaks on first: real serialization of
  * closures, broadcasts, task binaries, DSv2 partitions and state
  * across process boundaries. This main runs the risk-bearing paths
  * under `local-cluster[2,8,4096]` (separate executor JVMs spawned by a
  * real standalone worker) and — the part no multi-JVM smoke test gives
  * for free — injects a REAL executor loss mid-pipeline to prove the
  * [[Materialize]] seam's contract both ways:
  *
  *  - `local` mode (localCheckpoint): lineage is truncated and blocks
  *    are executor-resident, so the kill MUST fail the consuming job —
  *    the gate asserts the failure (a silent success here would mean
  *    the materialization silently didn't happen);
  *  - `table` mode: the reuse point is durable parquet, so the SAME
  *    pipeline with the SAME kill must complete with the SAME result.
  *
  * The correctness half of the cluster gate is `Verify` itself run with
  * `SPARK_GRAFT_MASTER=local-cluster[...]` + the DuckDB compare (all
  * 169 queries across process boundaries); this main covers the paths
  * Verify can't: fault injection, the counting replay
  * ([[BenchReplayEvent.countingReplay]]), and the live streaming engine
  * (GraftFeed DSv2 → transformWithState/RocksDB) — [[StreamBench.run]],
  * then an executor killed mid-drain inside the repo's one
  * live-vs-replay parity drain ([[StreamBench.asOfDrain]]).
  *
  *   SPARK_GRAFT_CLUSTER_OUT=CLUSTER_r07.json \
  *     sbt "runMain graft.ClusterCheck /root/testdata/sf0.01"
  */
object ClusterCheck {

  /** Distinct executor ids currently hosting tasks (never the driver). */
  private def executorIds(sc: SparkContext): Seq[String] =
    sc.parallelize(1 to 64, 64)
      .map(_ => org.apache.spark.SparkEnv.get.executorId)
      .distinct().collect().sorted.toSeq

  /** Hard-kill ONE executor JVM (Runtime.halt from inside a task — the
    * closest local-cluster analogue of a node loss; the halt is delayed
    * past task completion so the injection job itself succeeds and no
    * retry can cascade to a second executor). Waits for the standalone
    * worker to respawn a replacement so the cluster is back at strength
    * before the caller's next job. */
  private def killExecutor(sc: SparkContext, victim: String): Unit = {
    sc.parallelize(1 to 64, 64).foreach { _ =>
      if (org.apache.spark.SparkEnv.get.executorId == victim)
        new Thread(() => { Thread.sleep(500); Runtime.getRuntime.halt(42) }).start()
    }
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    var ids = executorIds(sc)
    while ((ids.contains(victim) || ids.size < 2) && System.nanoTime() < deadline) {
      Thread.sleep(500); ids = executorIds(sc)
    }
    require(!ids.contains(victim), s"executor $victim still alive after kill")
    require(ids.size >= 2, s"replacement executor did not respawn (have $ids)")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", "local-cluster[2,8,4096]")
    require(master.startsWith("local-cluster"),
      s"ClusterCheck needs a local-cluster master, got $master")
    val spark = graft.core.Tables.sessionBuilder(cpus, master).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext
    // Standalone schedules as soon as ONE executor offers cores, so the
    // first probe job can race the second executor's registration on a
    // slow worker spawn — poll with a deadline (mirroring killExecutor's
    // respawn wait) before asserting cluster strength.
    var execs0 = executorIds(sc)
    val upDeadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (execs0.size < 2 && System.nanoTime() < upDeadline) {
      Thread.sleep(500); execs0 = executorIds(sc)
    }
    System.err.println(s"[cluster] executors up: $execs0")
    require(execs0.size >= 2, s"expected >=2 executor JVMs, got $execs0")

    // ---- 1. fault injection through the Materialize seam ----
    // 4000 buckets x 10 members, cap 20 -> 4000 * C(10,2) = 180k pairs;
    // 16 shuffle partitions spread the materialized blocks over BOTH
    // executor JVMs so a single kill is guaranteed to lose some.
    def pairsPipeline() = operators.Skew.boundedBucketPairs(
      spark.range(0, 40000, 1, 16).selectExpr("id % 4000 as bkey", "id"),
      Seq("bkey"), "id", cap = 20)
    val expectedPairs = 4000L * (10L * 9 / 2)

    // local mode: materialize, lose EVERY executor that could hold a
    // checkpoint block (kill each original in turn, letting the worker
    // respawn replacements — AQE may coalesce the tiny fixture's blocks
    // onto one executor, so killing one would only flake; killing all
    // originals makes the loss certain), then prove the re-read DIES
    val nLocalBefore = pairsPipeline().count()
    val localPairs = pairsPipeline()
    require(localPairs.count() == expectedPairs, "fixture pair count wrong")
    executorIds(sc).foreach(killExecutor(sc, _))
    val localFailed =
      try { localPairs.count(); false }
      catch { case e: Throwable =>
        // getMessage can be null for wrapped Spark exceptions — render via
        // String.valueOf so the expected-failure path can't itself NPE
        System.err.println(s"[cluster] local-mode re-read failed AS EXPECTED: " +
          String.valueOf(e.getMessage).linesIterator.next())
        true
      }

    // table mode: same pipeline, same kill, must complete identically
    val matDir = java.nio.file.Files.createTempDirectory("graft-cluster-mat").toString
    spark.conf.set(Materialize.ModeKey, "table")
    spark.conf.set(Materialize.DirKey, matDir)
    val tablePairs = pairsPipeline()
    val nTableBefore = tablePairs.count()
    executorIds(sc).foreach(killExecutor(sc, _)) // same total loss as above
    val nTableAfter =
      try tablePairs.count()
      catch { case e: Throwable =>
        System.err.println(s"[cluster] TABLE-MODE RE-READ FAILED: $e"); -1L }
    spark.conf.unset(Materialize.ModeKey)
    spark.conf.unset(Materialize.DirKey)
    Materialize.cleanup(spark)
    val tableCompleted =
      nTableBefore == expectedPairs && nTableAfter == expectedPairs &&
        nLocalBefore == expectedPairs

    // ---- 2. batch replay machines across process boundaries ----
    // per-key stateful machines (closure + machine object serialized to
    // executors), output row count must equal input row count
    val replayOk = try {
      val (ev, replayed) = BenchReplayEvent.countingReplay(spark, sfDir)
      val n = ev.count()
      replayed.count() == n && n > 0
    } catch { case e: Throwable =>
      System.err.println(s"[cluster] replay failed: $e"); false }

    // ---- 3. live streaming engine across process boundaries ----
    // GraftFeed DSv2 partitions, transformWithState + RocksDB state on
    // executors, batch parity asserted inside StreamBench.run
    val stream =
      try Some(StreamBench.run(spark, sfDir))
      catch { case e: Throwable =>
        System.err.println(s"[cluster] stream bench failed: $e"); None }
    val streamParity = stream.exists(_.parity)

    // ---- 4. executor loss DURING a live streaming query ----
    // The streaming half of the fault story: a node dies mid-drain
    // while its tasks hold RocksDB state. Spark's recovery model —
    // retry the batch's tasks, reload each affected state partition
    // from the checkpoint (snapshot + changelog) on a surviving
    // executor — must be exactly-once-equivalent: the full drained
    // output is fingerprint-compared against batch replay of the same
    // input. 400k deterministic events / 25k admission → ~16
    // micro-batches; the kill lands a few batches in.
    val streamKillParity = try {
      import spark.implicits._
      val total = 400000L
      val d = StreamBench.asOfDrain(spark, "cluster-kill",
        (0L until total).iterator.map(StreamBench.tickOf),
        spark.range(0L, total).map(i => StreamBench.tickOf(i)),
        maxPerTrigger = 25000L,
        whileActive = { q =>
          Thread.sleep(3000) // a few micro-batches in...
          // the check's whole point is the loss landing MID-drain: if the
          // backlog drained before the kill, this run proved nothing —
          // fail loudly instead of silently passing a no-fault parity
          require(q.isActive,
            "stream drained before the kill — enlarge the fixture or kill earlier")
          killExecutor(sc, executorIds(sc).head) // ...lose a state-holding executor
        })
      if (d.parity) System.err.println("[cluster] stream-kill parity OK " +
        s"(${d.stream._1} rows drained across the executor loss)")
      d.parity
    } catch { case e: Throwable =>
      System.err.println(s"[cluster] stream-kill check failed: $e"); false }

    val ok = localFailed && tableCompleted && replayOk && streamParity &&
      streamKillParity
    val line =
      s"""{"master":"$master","executors":${execs0.size},""" +
      s""""fault_local_failed_as_expected":$localFailed,""" +
      s""""fault_table_completed":$tableCompleted,""" +
      s""""pairs_expected":$expectedPairs,"pairs_table_after_kill":$nTableAfter,""" +
      s""""replay_machines_ok":$replayOk,""" +
      s""""streaming_parity":$streamParity,""" +
      s""""streaming_events_per_sec":${stream.map(_.eventsPerSec).getOrElse(-1L)},""" +
      s""""streaming_batches":${stream.map(_.batches).getOrElse(0)},""" +
      s""""streaming_kill_parity":$streamKillParity,""" +
      s""""sf":"$sfDir","ok":$ok}"""
    sys.env.get("SPARK_GRAFT_CLUSTER_OUT").foreach { p =>
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        line.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    spark.stop()
    println(line)
    if (!ok) sys.exit(1)
  }
}
