package graft.streaming

import java.io.{DataInput, DataOutput}
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions.{broadcast, col, floor, max, min, struct}
import scala.collection.mutable

/** The reference's engine core — a virtual-time event loop with scheduled
  * callbacks (processor.py:64-100: sorted schedule, fast-forward replay,
  * FIFO tie-breaks; call_later/sleep/timer at :41-62, :106-116, :140-150) —
  * re-expressed Spark-first.
  *
  * A [[KeyedStateMachine]] is the Scala equivalent of the reference's
  * stateful callback object (Greeter, CartManager, MyAlgo⇄Exchange): plain
  * mutable fields, an `onEvent` callback receiving `(event_time, value)`,
  * and a timer facility with the reference's semantics — the callee
  * receives the DUE time as its event time (verified, SURVEY §2.1 P3).
  *
  * The SAME machine runs in two execution modes:
  *  - **batch replay** ([[Replay.run]]) = the reference's "travel through
  *    the past at maximum speed": one shuffle to co-locate each key, a
  *    distributed secondary sort (key, ts, tieBreak), then a single
  *    streaming pass per partition. Virtual time per key advances event by
  *    event; due timers fire interleaved, exactly like the reference's
  *    nested loop — but across 1000 executors, one key-group at a time,
  *    with nothing collected to the driver.
  *  - **live streaming** ([[AspStream]]) = `transformWithState` over the
  *    same machine, timers backed by the state store, watermark-driven.
  *
  * Divergence from the reference (documented, SURVEY §7.4): at an exact
  * due-time == event-time collision, timers fire BEFORE the event (the
  * reference resolves by schedule insertion order, which is not
  * reconstructible from data). Equal-due timers fire in scheduling (FIFO)
  * order, matching the reference's stable sort.
  *
  * Live state codec: [[AspStream]] stores each key's machine between
  * micro-batches. By default it Java-serializes the machine, which costs
  * class-descriptor parsing per key per batch and puts the descriptors
  * in every blob. A machine whose state is plain values (numbers,
  * strings, options, short sequences of them) should mix in
  * [[CompactState]] and write those values itself. Stay on Java
  * serialization when the state is an object graph whose shape still
  * changes (e.g. a `Vector` of case classes), where its added-field and
  * `readResolve` rules do the evolution without a hand-written reader.
  */
trait KeyedStateMachine[K, I, O] extends Serializable {
  /** `on_start` (processor.py:185-186): fires before any event; virtual
    * time is the replay `startMicros` (or the key's first event time when
    * no explicit start is given). Typical use: seed timers
    * (e5_retail_cart.py:106-108). */
  def onStart(key: K, ctx: ReplayCtx[O]): Unit = ()

  /** One `(event_time, value)` delivery (processor.py:187-189). */
  def onEvent(tsMicros: Long, value: I, ctx: ReplayCtx[O]): Unit

  /** A scheduled callback firing at its due time (processor.py:57-60:
    * event_time = due time). `tag` routes multi-purpose timers. */
  def onTimer(tsMicros: Long, tag: String, ctx: ReplayCtx[O]): Unit = ()

  /** After the key's stream is drained AND all timers fired (the
    * reference loop exits only when the schedule is empty,
    * processor.py:67). */
  def onFinish(ctx: ReplayCtx[O]): Unit = ()
}

/** A [[KeyedStateMachine]]'s opt-in compact live-state codec. [[AspStream]]
  * stores a machine that mixes this in as the bytes [[writeState]] writes,
  * behind its own layout byte, with no Java serialization in the blob.
  * [[Replay.run]] never calls either method.
  *
  * To restore a key, `AspStream` builds the machine with the query's
  * CURRENT factory, without `onStart`, and [[readState]] fills in its
  * state. So:
  *  - the blob holds only what the writer writes: constructor parameters
  *    (an expiry, a pattern, an interval) come from the factory, never
  *    from the blob;
  *  - the factory runs once per key per micro-batch, so it must stay
  *    cheap and free of side effects.
  *
  * `readState` must consume exactly the bytes `writeState` wrote: a reader
  * that leaves bytes unread or reads past the end fails the batch with an
  * `IllegalStateException` naming the class, never a silently wrong
  * machine. Evolution is the reader's: lead the bytes with a version byte
  * of your own ([[CompactState.readVersion]]), and have a newer reader
  * read every older version, giving added fields their defaults
  * (StateEvolutionSpec runs that pattern through a checkpoint restart).
  */
trait CompactState { this: KeyedStateMachine[_, _, _] =>
  def writeState(out: DataOutput): Unit
  def readState(in: DataInput): Unit
}

object CompactState {
  /** Length-prefixed UTF-8, `-1` for null; unlike `writeUTF`, no 64 KiB
    * limit. `AspStream` writes timer tags the same way. */
  def writeString(out: DataOutput, s: String): Unit =
    if (s == null) out.writeInt(-1)
    else { val b = s.getBytes(UTF_8); out.writeInt(b.length); out.write(b) }

  def readString(in: DataInput): String = in.readInt() match {
    case -1 => null
    case n => val b = new Array[Byte](n); in.readFully(b); new String(b, UTF_8)
  }

  def writeOptDouble(out: DataOutput, o: Option[Double]): Unit = o match {
    case Some(v) => out.writeBoolean(true); out.writeDouble(v)
    case None => out.writeBoolean(false)
  }

  def readOptDouble(in: DataInput): Option[Double] =
    if (in.readBoolean()) Some(in.readDouble()) else None

  /** The version byte `m`'s writer led with; a byte outside
    * `1..latest` fails loudly, naming the class. */
  def readVersion(in: DataInput, m: AnyRef, latest: Int): Int = {
    val v = in.readByte().toInt
    if (v < 1 || v > latest) throw new IllegalStateException(
      s"${m.getClass.getName} reads state versions 1..$latest, got $v")
    v
  }
}

/** Per-key execution context: emission buffer + timer schedule + virtual
  * clock. Mirrors the reference's `Processor` (one per key here — the
  * reference is single-threaded; per-key contexts are what makes this
  * shard across a cluster). */
final class ReplayCtx[O] private[streaming] (private[streaming] var nowMicros: Long) {
  private[streaming] val out = mutable.ArrayBuffer.empty[O]
  /** (due, fifo, tag) min-ordered by (due, fifo) — the reference's
    * stable-sorted schedule (processor.py:61-62). */
  private[streaming] val timers =
    mutable.PriorityQueue.empty[(Long, Long, String)](Ordering.by[(Long, Long, String), (Long, Long)](t => (t._1, t._2)).reverse)
  private[streaming] var fifo = 0L

  /** Virtual now — `asp.now()` (processor.py:119-124). */
  def now: Long = nowMicros
  def emit(o: O): Unit = out += o
  /** `call_later(delay, …)` — due = now + delay. */
  def callLater(delayMicros: Long, tag: String = ""): Unit =
    callAt(nowMicros + delayMicros, tag)
  /** `call_later` with an absolute due time. */
  def callAt(dueMicros: Long, tag: String = ""): Unit = {
    timers.enqueue((dueMicros, fifo, tag)); fifo += 1
  }
  private[streaming] def drain(): Seq[O] = { val r = out.toVector; out.clear(); r }
}

object Replay {

  /** Batch virtual-time replay of `ds` through per-key state machines.
    *
    * @param ds        input events (a case class with key/ts/tieBreak fields)
    * @param keyCol    grouping column — each key gets its own machine
    * @param tsCol     event-time column (TimestampType or long micros)
    * @param tieBreak  deterministic order for simultaneous events (§1.3.7)
    * @param startMicros replay start time (`asp.run(start_time=…)`); when
    *                  None, each key starts at its first event
    * @param key       key extractor matching keyCol
    * @param ts        event-time extractor (micros) matching tsCol
    * @param factory   machine constructor, called once per key
    *
    * Plan shape: Exchange(hashpartitioning(keyCol)) → Sort(key, ts, tie)
    * → MapPartitions. One shuffle, no driver collection, keys streamed
    * through a partition one group at a time — the 100 TB-safe layout.
    */
  def run[I, K, O: Encoder](ds: Dataset[I], keyCol: String, tsCol: String,
                            tieBreak: String, startMicros: Option[Long] = None)(
      key: I => K, ts: I => Long)(
      factory: K => KeyedStateMachine[K, I, O]): Dataset[O] = {
    val start = startMicros
    ds.repartition(col(keyCol))
      .sortWithinPartitions(col(keyCol), col(tsCol), col(tieBreak))
      .mapPartitions { it =>
        new Iterator[Seq[O]] {
          private val buf = it.buffered
          def hasNext: Boolean = buf.hasNext
          def next(): Seq[O] = {
            val k = key(buf.head)
            val ctx = new ReplayCtx[O](start.getOrElse(ts(buf.head)))
            val m = factory(k)
            m.onStart(k, ctx)
            while (buf.hasNext && key(buf.head) == k) {
              val row = buf.next()
              val eventTs = ts(row)
              fireDue(m, ctx, upTo = eventTs)
              ctx.nowMicros = eventTs
              m.onEvent(eventTs, row, ctx)
            }
            fireDue(m, ctx, upTo = Long.MaxValue) // drain: schedule empty = loop exit
            m.onFinish(ctx)
            ctx.drain()
          }
        }.flatten
      }
  }

  /** Fire every timer with due <= upTo, in (due, FIFO) order; firing may
    * schedule further timers (feedback loops, periodic ticks). */
  private def fireDue[K, I, O](m: KeyedStateMachine[K, I, O], ctx: ReplayCtx[O], upTo: Long): Unit = {
    fireDueTracked(m, ctx, upTo); ()
  }

  /** ONE definition of the timer-delivery loop for BOTH the batch
    * replay and the live stream ([[AspStream.Processor]]): replay ≡
    * live depends on these semantics never forking (the same rule as
    * [[Machines.removeFifo]]). Returns the last fired due
    * (Long.MinValue if none) — the live path's clock floor needs it. */
  private[streaming] def fireDueTracked[K, I, O](m: KeyedStateMachine[K, I, O],
                                                 ctx: ReplayCtx[O], upTo: Long): Long = {
    var lastFired = Long.MinValue
    while (ctx.timers.nonEmpty && ctx.timers.head._1 <= upTo) {
      val (due, _, tag) = ctx.timers.dequeue()
      ctx.nowMicros = due
      m.onTimer(due, tag, ctx)
      lastFired = due
    }
    lastFired
  }

  /** HOT-KEY BOUND of [[run]], and the mitigation for spliceable state.
    *
    * [[run]] serializes each key into one task: a key owning fraction h
    * of N events makes the replay stage Ω(h·N) wall-clock regardless of
    * cluster size — the skew cliff of the per-key machine model (a 90%
    * hot key ≈ a single-threaded replay of 90% of the data). That bound
    * is FUNDAMENTAL for arbitrary machines: event i's emission may
    * depend on all of events 0..i-1 through opaque mutable state.
    *
    * It is NOT fundamental when the machine's state factors through a
    * MONOID — each event maps to a state element ([[SplicedMachine.unit]])
    * combined by an associative [[SplicedMachine.merge]], with the
    * emission a function of the inclusive prefix state (running
    * sums/counts/min/max/last-value — W5/W6-shape machines; NOT timer or
    * feedback machines, whose transitions don't compose associatively).
    * Then replay is a parallel prefix scan:
    *
    *  1. bucket each key's events into `slices` time ranges (bounds from
    *     one tiny agg, broadcast — no driver collect);
    *  2. per (key, slice): fold a slice SUMMARY — parallel across slices,
    *     so the hot key spreads over `slices` tasks;
    *  3. per key: exclusive-scan the ≤`slices` summaries into each
    *     slice's entry state (per-key work is O(slices), data-size-free);
    *  4. per (key, slice): re-fold from the entry state, emitting per
    *     event — again parallel across slices.
    *
    * Cost: two shuffles of the events (phase-2 co-partitioned join +
    * sort) vs [[run]]'s one — the price of breaking the sequential
    * chain. Hot-key wall-clock drops from Ω(h·N) to Ω(h·N / slices).
    * Outputs are row-identical to [[run]] with the equivalent machine
    * (integer/exact state only: float merge is not associative).
    */
  def runSpliced[I, K, O, S](ds: Dataset[I], slices: Int)(
      key: I => K, ts: I => Long, tie: I => Long)(m: SplicedMachine[I, O, S])(
      implicit iEnc: Encoder[I], kEnc: Encoder[K], oEnc: Encoder[O],
      sEnc: Encoder[S]): Dataset[O] = {
    implicit val baseEnc: Encoder[(K, Long, Long, I)] =
      Encoders.tuple(kEnc, Encoders.scalaLong, Encoders.scalaLong, iEnc)
    implicit val sumEnc: Encoder[(K, Int, S)] =
      Encoders.tuple(kEnc, Encoders.scalaInt, sEnc)
    implicit val tagEnc: Encoder[(K, Long, Long, I, Int)] =
      Encoders.tuple(kEnc, Encoders.scalaLong, Encoders.scalaLong, iEnc,
        Encoders.scalaInt)
    implicit val joinEnc: Encoder[((K, Int), Long, Long, I, S)] =
      Encoders.tuple(Encoders.tuple(kEnc, Encoders.scalaInt),
        Encoders.scalaLong, Encoders.scalaLong, iEnc, sEnc)

    // (key, ts, tie, value) + time-slice id; bounds come from one tiny
    // broadcast scalar agg — plan-only construction, no driver action.
    // `tagged` feeds BOTH the phase-2 summary fold and the phase-4
    // join — a diamond. Unlike the q91/q105 sites, the DATA is not
    // checkpointed here: at 100 TB a block-manager store + reload of
    // the tagged events is strictly more I/O than the second pruned
    // columnar scan it would save (and a 10M-row A/B of all three
    // forms — no checkpoint, tagged checkpoint, bounds-only — measured
    // them within run-to-run noise locally, so recompute wins on memory
    // pressure alone). Only `bounds` is materialized, through
    // the graft.Materialize seam: ONE stored row de-duplicates a full
    // agg pass over the source, cutting the plan's 4 source passes to 3
    // for free. Default localCheckpoint mode truncates that one-row
    // lineage (executor loss after materialization fails the job
    // instead of recomputing the cheap scalar agg — the documented
    // cluster-mode tradeoff); mode=table keeps it durable.
    val base = ds.map(r => (key(r), ts(r), tie(r), r))
    val bounds = base.select(min(col("_2")).as("lo"), max(col("_2")).as("hi"))
      .transform(graft.Materialize(_))
    val tagged: Dataset[(K, Long, Long, I, Int)] = base.toDF()
      .crossJoin(broadcast(bounds))
      .withColumn("_5",
        floor((col("_2") - col("lo")) * slices / (col("hi") - col("lo") + 1))
          .cast("int"))
      .drop("lo", "hi")
      .as[(K, Long, Long, I, Int)]

    // phase 1+2: per-(key, slice) summary fold — the hot key fans out
    // over `slices` tasks here
    def groupFold[T](it: Iterator[(K, Long, Long, I, Int)])(
        start: (K, Int) => S, each: (S, Long, I) => S,
        finish: (K, Int, S) => T): Iterator[T] = {
      val buf = it.buffered
      new Iterator[T] {
        def hasNext: Boolean = buf.hasNext
        def next(): T = {
          val (k, _, _, _, sl) = buf.head
          var acc = start(k, sl)
          while (buf.hasNext && buf.head._1 == k && buf.head._5 == sl) {
            val e = buf.next(); acc = each(acc, e._2, e._4)
          }
          finish(k, sl, acc)
        }
      }
    }
    val summaries: Dataset[(K, Int, S)] = tagged
      .repartition(col("_1"), col("_5"))
      .sortWithinPartitions(col("_1"), col("_5"), col("_2"), col("_3"))
      .mapPartitions(it => groupFold(it)(
        (_, _) => m.zero, (s, t, v) => m.merge(s, m.unit(t, v)), (k, sl, s) => (k, sl, s)))

    // phase 3: per-key EXCLUSIVE scan of ≤`slices` summaries into each
    // slice's entry state — O(slices) per key, independent of data size
    val entries: Dataset[(K, Int, S)] = summaries
      .groupByKey(_._1)
      .flatMapGroups { (k, it) =>
        var acc = m.zero
        it.toSeq.sortBy(_._2).map { case (_, sl, s) =>
          val e = (k, sl, acc); acc = m.merge(acc, s); e
        }.iterator
      }

    // phase 4: co-partitioned (key, slice) join of events to entry
    // states, re-fold from the entry, emit per event — parallel again.
    // (key, slice) rides as ONE struct column: partition/sort on it
    // keeps each group contiguous.
    val joined: Dataset[((K, Int), Long, Long, I, S)] = tagged.toDF()
      .join(entries.toDF("j1", "j2", "j3"),
        col("_1") === col("j1") && col("_5") === col("j2"))
      .select(struct(col("_1").as("_1"), col("_5").as("_2")).as("g"),
        col("_2").as("t"), col("_3").as("tb"), col("_4").as("v"), col("j3").as("e"))
      .toDF("_1", "_2", "_3", "_4", "_5")
      .as[((K, Int), Long, Long, I, S)]
    joined
      .repartition(col("_1"))
      .sortWithinPartitions(col("_1"), col("_2"), col("_3"))
      .mapPartitions { it =>
        val buf = it.buffered
        new Iterator[Seq[O]] {
          def hasNext: Boolean = buf.hasNext
          def next(): Seq[O] = {
            val (g, _, _, _, entry) = buf.head
            var acc = entry
            val out = mutable.ArrayBuffer.empty[O]
            while (buf.hasNext && buf.head._1 == g) {
              val (_, t, _, v, _) = buf.next()
              acc = m.merge(acc, m.unit(t, v))
              out += m.output(acc, t, v)
            }
            out.toSeq
          }
        }.flatten
      }
  }

}

/** Monoid-factored machine for [[Replay.runSpliced]]: each event maps to
  * a state element, combined associatively; the emission for an event is
  * a pure function of the INCLUSIVE prefix state. See runSpliced docs
  * for which machines qualify. */
trait SplicedMachine[I, O, S] extends Serializable {
  def zero: S
  def unit(tsMicros: Long, v: I): S
  /** MUST be associative (integer/exact state — float sums are not). */
  def merge(a: S, b: S): S
  def output(prefixIncl: S, tsMicros: Long, v: I): O
}
