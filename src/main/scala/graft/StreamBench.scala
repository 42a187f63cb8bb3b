package graft

import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.state.StateStore
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.sources.GraftFeed
import graft.streaming.{AspStream, KeyedStateMachine, Machines, Replay}

/** Benchmark of the LIVE streaming path — the production half of the
  * past→live duality. [[Bench]]'s `replay_events_per_sec` measures batch
  * replay; this measures the same machines running under Structured
  * Streaming: GraftFeed (sharded DSv2 source, proportional admission
  * control) → parse → `AspStream.run` (transformWithState, RocksDB state
  * store, event-time timers) → foreachBatch sink, drained with
  * `Trigger.AvailableNow` in admission-bounded micro-batches.
  *
  * Two workloads, the VERDICT-named machine families:
  *  - **W7** as-of book: every event becomes a quote/trade tick through
  *    [[Machines.AsOfMachine]] (last-value state, emit per trade);
  *  - **W8** cart: the q135 integer cart ops through
  *    [[Machines.CartMachineQ]] (list state + the discount-expiry timer).
  *
  * Parity is asserted IN the bench against batch replay of the same
  * input: order-independent aggregate (count + Σ pmod(xxhash64(row), p))
  * computed distributed on both sides — no driver-sized collect, the
  * same check shape would run at 100 TB. A parity failure zeroes the
  * reported rate (the driver must never read a wrong-answer throughput).
  *
  * [[drain]] is the repo's one live-vs-replay parity drain, with four
  * callers: [[run]] here, and through [[asOfDrain]] [[SpillCheck]]
  * (bounded RocksDB memory), [[ClusterCheck]] (executor loss mid-drain)
  * and [[StateScaleProbe]] (key cardinality, TTL churn, restart).
  *
  * The rate denominator is full wall time of each streaming query —
  * start-up, per-batch planning, state-store commits and all — because
  * that IS the live path's cost; `batch_avg_ms`/`batch_max_ms` break out
  * the per-trigger latency the compact line's consumers care about.
  */
object StreamBench {

  final case class Result(eventsPerSec: Long, events: Long, wallSec: Double,
                          batches: Int, batchAvgMs: Long, batchMaxMs: Long,
                          parity: Boolean)

  /** One micro-batch's progress: trigger ms, input rows, and summed over
    * every stateful operator the state rows, RocksDB SST file bytes, the
    * state commit ms (`commitTimeMs`) and the ms spent updating state
    * (`allUpdatesTimeMs`, which includes the machines' own work). */
  private[graft] final case class Batch(triggerMs: Long, inputRows: Long, stateRows: Long,
      sstBytes: Long, stateCommitMs: Long, stateUpdateMs: Long)

  /** One query of a drain: records pushed, wall time, every micro-batch. */
  private[graft] final case class Phase(events: Long, wallSec: Double, batches: Seq[Batch])

  /** One drain's outcome: `stream` and `expected` are the [[fingerprint]]s
    * of the live output of every phase and of the batch replay. */
  private[graft] final case class Drain(phases: Seq[Phase], stream: (Long, Long),
      expected: (Long, Long)) {
    def parity: Boolean = stream == expected
    def events: Long = phases.map(_.events).sum
    def wallSec: Double = phases.map(_.wallSec).sum
    /** Trigger ms of every batch that read input. */
    def batchMs: Seq[Long] = phases.flatMap(_.batches).filter(_.inputRows > 0).map(_.triggerMs)
  }

  /** Order-independent output fingerprint: count + Σ pmod(xxhash64, p).
    * pmod into [0, 1e9+7) keeps a 100k-row sum ~1e14 ≪ Long.Max, so the
    * distributed sum is exact under ANSI semantics on both sides. */
  private[graft] def fingerprint(df: DataFrame): (Long, Long) = {
    val cols = df.columns.map(col).toSeq
    val r = df.agg(count(lit(1)),
      coalesce(sum(pmod(xxhash64(cols: _*), lit(1000000007L))), lit(0L))).head
    (r.getLong(0), r.getLong(1))
  }

  private val Shards = 8
  // Admission sized so a micro-batch is SECONDS of work, not sub-second:
  // each trigger pays a fixed floor (planning + checkpoint file writes:
  // the offset and commit logs plus one changelog per state partition),
  // so tiny batches measure the floor, not the path.
  // Measured at sf0.1 (200k events, standalone cold-JVM; the in-bench
  // number runs JIT-warm and reads ~25% higher): 12.5k/trigger →
  // 15.7k ev/s, 50k → 32.9k (4 batches, avg 1.2s), 100k → 36.6k,
  // 200k → 39.8k — but ≥100k is the one-batch-per-workload regime
  // (avg trigger 1.9–2.1s, max 2.7–3.0s): batch execution wearing
  // streaming clothes. 50k is kept — the largest trigger that still
  // exercises a real multi-batch cadence (state carried across
  // triggers, admission slicing live) with per-trigger latency ≤ ~2s.
  private val MaxPerTrigger = 50000L

  // State-partition count: each is one RocksDB instance with a fixed
  // per-batch commit cost. On a local checkpoint that cost is file
  // operations, not RocksDB: `commitTimeMs` ≈ `rocksdbCommitFileSyncLatencyMs`,
  // the close and rename of the partition's changelog file. While Hadoop
  // forked `chmod` per created file and `readlink` per rename that was
  // ~430 ms per batch over 4 partitions (perfbench live-handover, traced);
  // `Tables.configure`'s local filesystem does both in-process (~40 ms).
  // Measured with the forks, at sf0.1, 50k trigger: 4 partitions
  // → 31.4k ev/s, 8 → 32.9k, 16 → 25.9k (commit floor × instances
  // dominates past the key-space parallelism). 8 is the knee for the
  // fixture's ~20k keys.
  private[graft] val StatePartitions = 8

  // Session confs every drain sets, then RESTORES to their prior value
  // (set or unset): leaking the state-store mode into a shared session
  // would make later streaming work in the same JVM (specs, user
  // queries) silently run under a different checkpointing mode than
  // when run alone — order-dependent behavior.
  private val DrainConfs = Seq(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    // Changelog checkpointing: per-batch state commit uploads the delta,
    // not a zipped full snapshot of every RocksDB instance — the
    // difference between O(state) and O(changes) per trigger, and the
    // production setting for any large-state stream.
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true",
    // State partitions sized to the workload (see StatePartitions): 32
    // instances for a fixture-scale key space is overhead, not
    // parallelism. Batch queries keep the session value.
    "spark.sql.shuffle.partitions" -> StatePartitions.toString,
    // keep every progress report: the drain returns each micro-batch
    // (the default keeps the last 100, and a long drain runs more)
    "spark.sql.streaming.numRecentProgressUpdates" -> Int.MaxValue.toString)

  private val DrainTimeoutMs = 600000L

  /** The feeds a drain named `name` pushes into (one per shard). */
  private[graft] def feedNames(name: String): Seq[String] =
    (0 until Shards).map(i => s"bench-$name-$i")

  private val Keys = 20003L // prime: uniform key spread
  private val BaseUs = 1704067200000000L

  /** Deterministic tick i: a gate pushes the prefix 0..P-1 and batch
    * replay regenerates the SAME prefix as its expected output.
    * Integral doubles: the value string round-trips exactly. */
  private[graft] def tickOf(i: Long): Machines.MarketTick =
    Machines.MarketTick(
      user_id = (i * 2654435761L) % Keys,
      ts_us = BaseUs + i * 250L,
      seq = i,
      kind = if (i % 5 == 0) "trade" else "quote",
      value = (i % 1000).toDouble)

  private val SstKey = ".*sstfiles?size.*".r

  /** Every micro-batch of `q`'s run, whose first batch id is `first`. A
    * missing id fails loudly instead of under-reporting the drain. */
  private def batchesOf(q: StreamingQuery, first: Long): Seq[Batch] = {
    val ps = q.recentProgress.toSeq
    require(ps.map(_.batchId) == (first until first + ps.size),
      s"drain progress has batch ids ${ps.map(_.batchId)}, expected every id from $first")
    ps.map { p =>
      val ops = p.stateOperators.toSeq
      Batch(p.durationMs.getOrDefault("triggerExecution", 0L).toLong, p.numInputRows,
        ops.map(_.numRowsTotal).sum,
        ops.flatMap(_.customMetrics.asScala.collect {
          case (k, v) if SstKey.matches(k.toLowerCase) => v.longValue
        }).sum,
        ops.map(_.commitTimeMs).sum, ops.map(_.allUpdatesTimeMs).sum)
    }
  }

  /** Push `input` into `Shards` feeds by key (per-key order preserved:
    * one key → one shard, pushed in (ts, tie) order), stream them back
    * through `machine` under the drain confs plus `extraConfs` (a later
    * entry overrides an earlier one), and fingerprint the output against
    * `batchOut`, the batch replay of the same input. `whileActive` runs
    * once the first query has started (fault injection); the query must
    * then drain within the timeout. A non-empty `restart` is pushed after
    * the first query drains and read by a second query on the same
    * checkpoint, so `batchOut` must cover both inputs. `idleTtlUs` goes to
    * [[AspStream.run]]. Feeds, state-store providers, checkpoint and confs
    * are cleaned up on every path. */
  private[graft] def drain[I <: Product, O: Encoder](
      spark: SparkSession, name: String, input: Iterator[I],
      keyOf: I => Long, tsOf: I => Long, tieOf: I => Long, encode: I => String,
      parse: DataFrame => Dataset[I],
      batchOut: Dataset[O], machine: Long => KeyedStateMachine[Long, I, O],
      maxPerTrigger: Long = MaxPerTrigger,
      extraConfs: Seq[(String, String)] = Nil,
      whileActive: StreamingQuery => Unit = _ => (),
      watermarkDelay: String = "1 hour",
      idleTtlUs: Long = 0L,
      restart: Iterator[I] = Iterator.empty): Drain = {
    implicit val keyEnc: Encoder[Long] = Encoders.scalaLong
    val confs = DrainConfs ++ extraConfs
    // getAll holds only explicitly set keys: an unset key stays unset
    // (getOption would read back, then pin, its default)
    val prior = spark.conf.getAll
    val saved = confs.map { case (k, _) => k -> prior.get(k) }
    val feeds = feedNames(name)
    val ckpt = java.nio.file.Files.createTempDirectory(s"graft-sbench-$name").toString
    val n = new AtomicLong(0L)
    val h = new AtomicLong(0L)
    def push(in: Iterator[I]): Long =
      in.map { r => GraftFeed.push(feeds((keyOf(r) % Shards).toInt), tsOf(r), encode(r)); 1L }.sum
    def runQuery(events: Long, first: Long, during: StreamingQuery => Unit): Phase = {
      val src = spark.readStream.format("graft-feed")
        .option("shards", feeds.mkString(","))
        .option("maxPerTrigger", maxPerTrigger.toString)
        .load()
        .withWatermark("ts", watermarkDelay) // cross-shard skew bound (proportional admission)
      val out = AspStream.run(parse(src))(keyOf, tsOf, tieOf, idleTtlUs)(machine)
      val t0 = System.nanoTime()
      val q = out.writeStream
        .foreachBatch { (ds: Dataset[O], _: Long) =>
          val (bn, bh) = fingerprint(ds.toDF())
          n.addAndGet(bn); h.addAndGet(bh); ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      try {
        during(q)
        require(q.awaitTermination(DrainTimeoutMs), s"stream drain $name did not finish")
      } finally q.stop()
      Phase(events, (System.nanoTime() - t0) / 1e9, batchesOf(q, first))
    }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      feeds.foreach(GraftFeed.clear)
      val events = push(input)
      val expected = fingerprint(batchOut.toDF())
      val drained = runQuery(events, 0L, whileActive)
      val again =
        if (restart.hasNext) Seq(runQuery(push(restart), drained.batches.size, _ => ())) else Nil
      val d = Drain(drained +: again, (n.get(), h.get()), expected)
      if (!d.parity)
        System.err.println(s"[stream-bench] $name parity FAILED: " +
          s"stream ${d.stream} vs batch $expected")
      d
    } finally {
      feeds.foreach(GraftFeed.clear)
      // unload every cached RocksDB provider BEFORE deleting its files:
      // a delete under a live instance races its JNI logger into a
      // native SIGSEGV (SCALING.md, state-store key cardinality)
      StateStore.stop()
      // RocksDB checkpoint uploads are real disk: repeated bench rounds
      // would otherwise accumulate /tmp trees unbounded
      Materialize.rmTree(new java.io.File(ckpt))
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  /** [[drain]] of W7: `ticks` through [[Machines.AsOfMachine]], checked
    * against [[Replay.run]] of `batch` (the same ticks, then the `restart`
    * ticks, as a Dataset). */
  private[graft] def asOfDrain(spark: SparkSession, name: String,
      ticks: Iterator[Machines.MarketTick], batch: Dataset[Machines.MarketTick],
      maxPerTrigger: Long = MaxPerTrigger,
      extraConfs: Seq[(String, String)] = Nil,
      whileActive: StreamingQuery => Unit = _ => (),
      watermarkDelay: String = "1 hour",
      idleTtlUs: Long = 0L,
      restart: Iterator[Machines.MarketTick] = Iterator.empty): Drain = {
    import spark.implicits._
    drain[Machines.MarketTick, Machines.AsOfRow](
      spark, name, ticks, _.user_id, _.ts_us, _.seq,
      t => s"${t.user_id},${t.seq},${t.kind},${t.value}",
      df => df.select(split($"value", ",").as("f"), unix_micros($"ts").as("ts_us"))
        .select($"f"(0).cast("long").as("user_id"), $"ts_us",
          $"f"(1).cast("long").as("seq"), $"f"(2).as("kind"),
          $"f"(3).cast("double").as("value")).as[Machines.MarketTick],
      Replay.run(batch, "user_id", "ts_us", "seq")(_.user_id, _.ts_us)(
        uid => new Machines.AsOfMachine(uid)),
      uid => new Machines.AsOfMachine(uid), maxPerTrigger, extraConfs, whileActive,
      watermarkDelay, idleTtlUs, restart)
  }

  def run(spark: SparkSession, sfDir: String): Result = {
    import spark.implicits._

    // ---- W7: every event as a market tick through the as-of book ----
    val ticksDs = graft.core.Tables.events(spark, sfDir)
      .select($"user_id", unix_micros($"ts").as("ts_us"), $"event_id".as("seq"),
        when($"event_type" === "view", "quote")
          .when($"event_type" === "purchase", "trade")
          .otherwise("other").as("kind"),
        $"value").as[Machines.MarketTick]
    val ticks = ticksDs.collect().sortBy(t => (t.ts_us, t.seq))
    val asof = asOfDrain(spark, "asof", ticks.iterator, ticksDs)

    // ---- W8: the q135 integer cart (list state + expiry timer) ----
    val (opsDs, expiry) = graft.queries.AspSemantics.cartOps(spark, sfDir)
    val ops = opsDs.collect().sortBy(o => (o.ts_us, o.event_id))
    val cart = drain[Machines.CartOpQ, Machines.CartTotalQ](
      spark, "cart", ops.iterator, _.user_id, _.ts_us, _.event_id,
      o => s"${o.user_id},${o.event_id},${o.name},${o.cost},${o.qty},${o.add}",
      df => df.select(split($"value", ",").as("f"), unix_micros($"ts").as("ts_us"))
        .select($"f"(0).cast("long").as("user_id"), $"ts_us",
          $"f"(1).cast("long").as("event_id"), $"f"(2).as("name"),
          $"f"(3).cast("long").as("cost"), $"f"(4).cast("int").as("qty"),
          $"f"(5).cast("boolean").as("add")).as[Machines.CartOpQ],
      Replay.run(opsDs, "user_id", "ts_us", "event_id")(_.user_id, _.ts_us)(
        uid => new Machines.CartMachineQ(uid, expiry)),
      uid => new Machines.CartMachineQ(uid, expiry))

    val events = asof.events + cart.events
    val wall = asof.wallSec + cart.wallSec
    val batchMs = asof.batchMs ++ cart.batchMs
    val parity = asof.parity && cart.parity
    Result(
      eventsPerSec = if (parity && wall > 0) (events / wall).round else -1L,
      events = events, wallSec = wall, batches = batchMs.size,
      batchAvgMs = if (batchMs.nonEmpty) batchMs.sum / batchMs.size else 0L,
      batchMaxMs = if (batchMs.nonEmpty) batchMs.max else 0L,
      parity = parity)
  }
}
