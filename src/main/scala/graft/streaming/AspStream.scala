package graft.streaming

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream,
  EOFException, InputStream, ObjectInputStream, ObjectOutputStream}
import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming._
import scala.collection.mutable

/** Live-phase execution of a [[KeyedStateMachine]]: the same machine that
  * [[Replay.run]] drives over historical data runs here under Structured
  * Streaming via `transformWithState` (Spark 4.x `StatefulProcessor`),
  * with timers in the state store. This is the reference's past→live
  * duality (processor.py:71-74: replay the past at maximum speed, then
  * track the live clock) as Spark gives it: batch plan for the past,
  * streaming plan for the present, ONE user state machine.
  *
  * Timer semantics — two delivery paths, preserving replay ≡ live:
  *  1. **Inline (event-driven)**: before delivering an event, every
  *     pending timer with due ≤ event-time fires first, exactly as in
  *     batch replay. This keeps per-key virtual-time order regardless of
  *     micro-batch boundaries.
  *  2. **Watermark (push)**: timers also register with
  *     `StatefulProcessorHandle.registerTimer`, so a key with NO further
  *     events still gets its callbacks when the watermark passes the due
  *     time (`handleExpiredTimer`). A timer already fired inline is a
  *     no-op on expiry.
  *
  * Divergences from the reference (documented): pending dues are
  * persisted at FULL µs precision (so timer-vs-event ordering within a
  * millisecond survives micro-batch boundaries — an event with ts in
  * [floor-ms(due), due) delivered in a later batch still precedes the
  * timer, exactly as in replay); only the STORE timer registration is
  * ms-granular (Spark's API), rounded UP so the watermark push path can
  * never fire early. A live stream never "ends", so the end-of-replay
  * timer drain has no live analogue — quiescent keys drain via the
  * watermark path instead.
  *
  * Cross-batch disorder: event-time order is restored *within* each
  * micro-batch, but a row arriving in a later batch with an earlier
  * (not-yet-late) timestamp cannot un-fire timers that already fired.
  * The per-key virtual clock is therefore **monotone across batches**
  * (`lastEventUs` persisted with the machine): a regressing row is
  * delivered with its own event timestamp but under the already-advanced
  * clock — precisely the reference's late-event behavior (README "events
  * in the past are delivered late, not reordered"; processor.py:187-189
  * applies no reordering buffer at all). Max disorder repaired is thus
  * bounded by the micro-batch; disorder beyond it degrades to reference
  * semantics rather than silently rewinding the clock.
  *
  * State layout: one binary ValueState per key (RocksDB provider
  * required by transformWithState; see `Tables.configure`-style session
  * setup in tests), read once per key per batch. The blob ([[encode]])
  * is a layout byte that no Java serialization stream starts with, the
  * clock floor, the pending `(due µs, tag)` timers written with
  * `DataOutput` (UTF-8 tags, length-prefixed), then the machine:
  *  - **compact (layout 2)**, for a machine that mixes in
  *    [[CompactState]]: the bytes its `writeState` writes, nothing else.
  *    To restore, the query's factory builds the machine (no `onStart`)
  *    and `readState` fills it in. Constructor parameters therefore come
  *    from the current factory, not from the blob, and the factory runs
  *    once per key per batch: it must be cheap and side-effect free.
  *  - **Java (layout 1)**, for every other machine: the machine object
  *    alone (arbitrary user fields, like the reference's callback
  *    objects) java-serialized.
  * Blobs of the earlier layouts — one java-serialized tuple, starting
  * `0xAC 0xED` — still restore ([[decode]]).
  *
  * State evolution across redeploys (a restarted checkpoint meets NEW
  * code — contract pinned by StateEvolutionSpec):
  *  - A Java-serialized machine class MUST pin `serialVersionUID`; then
  *    ADDING a field restores old blobs with the new field at its JVM
  *    default. Removing or retyping fields, or evolving an unpinned
  *    class, fails LOUDLY at restore (`InvalidClassException`) — never
  *    silent corruption. The recommended pattern for non-trivial
  *    migrations is explicit versioned state classes: keep the old
  *    version as a tombstone whose `readResolve()` builds the current
  *    version (proven end-to-end through a checkpoint restart in the
  *    spec).
  *  - A compact machine's reader owns its evolution: it leads with its
  *    own version byte and reads every older version.
  *  - Switching codecs: a layout-1 blob of a machine that now opts in
  *    restores through Java serialization (so such a class keeps the
  *    `serialVersionUID` its earlier deploys wrote), and its next flush
  *    writes layout 2. A layout-2 blob whose factory now builds a
  *    machine without the codec, or whose reader leaves bytes unread or
  *    reads past the end, fails with an `IllegalStateException` naming
  *    the class.
  */
object AspStream {

  /** Pending timers as persisted: due-µs → tags (FIFO within a due).
    * Full µs precision — the store timer is registered at ceil-ms
    * separately (see `Processor.storeMs`). */
  private[streaming] type Pending = Vector[(Long, String)]

  /** First byte of a state blob whose machine is java-serialized, and of
    * one whose machine is [[CompactState]]. A Java serialization stream
    * starts with `0xAC`, so a legacy blob is never read as either. */
  private val JavaLayout: Byte = 1
  private val CompactLayout: Byte = 2

  /** One key's state blob: the layout byte, the clock floor, the pending
    * `(due µs, tag)` timers in schedule order, then the machine: its own
    * `writeState` bytes if it is [[CompactState]], else java-serialized
    * on its own, so its `serialVersionUID`, added-field and `readResolve`
    * evolution rules are java serialization's. */
  private[streaming] def encode(machine: AnyRef, pending: Pending,
                                lastEventUs: Long): Array[Byte] = {
    val bos = new ByteArrayOutputStream(64)
    val out = new DataOutputStream(bos)
    def header(layout: Byte): Unit = {
      out.writeByte(layout)
      out.writeLong(lastEventUs)
      out.writeInt(pending.size)
      pending.foreach { case (dueUs, tag) => out.writeLong(dueUs); CompactState.writeString(out, tag) }
    }
    machine match {
      case c: CompactState => header(CompactLayout); c.writeState(out); out.flush()
      case _ =>
        header(JavaLayout)
        val oos = new ObjectOutputStream(out)
        oos.writeObject(machine); oos.close()
    }
    bos.toByteArray
  }

  /** (machine, pending µs timers, clock floor) of a blob of any layout.
    * A compact blob restores into `fresh`, the key's machine as its
    * factory builds it. Before the layout byte, a blob was one
    * java-serialized tuple versioned by its arity: (machine, pending) is
    * the oldest (no clock floor, ms dues); (machine, pending, lastEventUs)
    * the pre-µs one (ms dues); (machine, pending, lastEventUs, versionTag)
    * had µs dues. Legacy dues are scaled to µs. */
  private[streaming] def decode(b: Array[Byte], fresh: => AnyRef = noFactory): (AnyRef, Pending, Long) =
    if (b(0) == JavaLayout || b(0) == CompactLayout) {
      val in = new DataInputStream(new ByteArrayInputStream(b, 1, b.length - 1))
      val lastEventUs = in.readLong()
      val n = in.readInt()
      val pending = if (n == 0) Vector.empty else Vector.fill(n) {
        val dueUs = in.readLong()
        (dueUs, CompactState.readString(in))
      }
      val m = if (b(0) == JavaLayout) readObject(in) else readCompact(in, fresh)
      (m, pending, lastEventUs)
    } else {
      def us(p: Any) = p.asInstanceOf[Pending].map { case (ms, tag) => (ms * 1000, tag) }
      readObject(new ByteArrayInputStream(b)) match {
        case (m: AnyRef, p, last, _) => (m, p.asInstanceOf[Pending], last.asInstanceOf[Long])
        case (m: AnyRef, p, last) => (m, us(p), last.asInstanceOf[Long])
        case (m: AnyRef, p) => (m, us(p), Long.MinValue)
      }
    }

  private def noFactory: AnyRef =
    throw new IllegalStateException("a compact state blob restores only through the machine factory")

  /** `m` with its state read from the rest of `in`, which it must consume
    * exactly. */
  private def readCompact(in: DataInputStream, m: AnyRef): AnyRef = m match {
    case c: CompactState =>
      val size = in.available()
      try c.readState(in)
      catch { case e: EOFException => throw new IllegalStateException(
        s"${m.getClass.getName}.readState read past the end of its $size state bytes", e) }
      if (in.available() > 0) throw new IllegalStateException(
        s"${m.getClass.getName}.readState left ${in.available()} of its $size state bytes unread")
      m
    case _ => throw new IllegalStateException(
      s"a compact state blob restores through the factory, which built ${m.getClass.getName}: " +
        "it does not mix in CompactState")
  }

  private def readObject(in: InputStream): AnyRef = {
    val ois = new ObjectInputStream(in) {
      override def resolveClass(desc: java.io.ObjectStreamClass): Class[_] =
        Class.forName(desc.getName, false, Thread.currentThread.getContextClassLoader)
    }
    try ois.readObject() finally ois.close()
  }

  final class Processor[K, I, O](factory: K => KeyedStateMachine[K, I, O],
                                 ts: I => Long, tie: I => Long,
                                 idleTtlUs: Long = 0L)
      extends StatefulProcessor[K, I, O] {

    @transient private var blob: ValueState[Array[Byte]] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      blob = getHandle.getValueState[Array[Byte]]("aspMachine", Encoders.BINARY, TTLConfig.NONE)

    /** Store-timer registration granularity: round the µs due UP to ms
      * so the watermark push path fires at-or-after the true due, never
      * before it (an early store fire would flip timer-gated state —
      * e.g. CartMachineQ's discount — ahead of events in
      * [floor-ms(due), due) that land in a later micro-batch). */
    private def storeMs(dueUs: Long): Long = Math.floorDiv(dueUs + 999, 1000)

    /** The key's last event-time activity: its clock floor or its
      * furthest scheduled timer, whichever is later — the anchor the
      * idle-TTL eviction timer counts from. */
    private def lastActivity(lastUs: Long, p: Pending): Long =
      if (p.isEmpty) lastUs else math.max(lastUs, p.iterator.map(_._1).max)

    /** Store-timer due (ms) for evicting this key once the WATERMARK
      * passes `activity + idleTtlUs` — event-time idle eviction, so a
      * replay of the same data evicts at the same virtual times (a
      * processing-time TTL would couple state lifetime to wall-clock
      * batch cadence and break replay determinism). None when TTL is
      * off or the key has no activity floor yet (legacy blob). */
    private def evictDueMs(activity: Long): Option[Long] =
      if (idleTtlUs > 0 && activity > Long.MinValue)
        Some(storeMs(activity + idleTtlUs))
      else None

    /** The store timers (ms) a key holds: one per pending due, plus the
      * idle-TTL eviction due. With no timer pending and TTL off — every
      * key of a timer-free machine — it is empty and builds nothing. */
    private def storeDues(p: Pending, lastUs: Long): Set[Long] =
      if (p.isEmpty && idleTtlUs <= 0) Set.empty
      else p.map(x => storeMs(x._1)).toSet ++ evictDueMs(lastActivity(lastUs, p))

    /** Load machine + seed the ctx schedule from persisted pending timers
      * (insertion order preserved → FIFO tie-breaks survive restarts).
      * Returns the persisted per-key clock floor (`lastEventUs`), which
      * keeps virtual time monotone across micro-batches. A compact blob
      * restores into a machine the factory builds (no `onStart`). */
    private def load(key: K, t0: Long): (KeyedStateMachine[K, I, O], Set[Long], ReplayCtx[O], Long) = {
      val ctx = new ReplayCtx[O](t0)
      val stored = blob.get() // one store read; null for a new key
      if (stored != null) {
        val (m, p, lastUs) = decode(stored, factory(key))
        p.foreach { case (dueUs, tag) => ctx.callAt(dueUs, tag) }
        (m.asInstanceOf[KeyedStateMachine[K, I, O]], storeDues(p, lastUs), ctx, lastUs)
      } else {
        val m = factory(key)
        m.onStart(key, ctx)
        (m, Set.empty, ctx, Long.MinValue)
      }
    }

    /** Persist machine + remaining schedule + clock floor; sync store
      * timers (register new ceil-ms dues, delete consumed ones). */
    private def flush(m: KeyedStateMachine[K, I, O], registered: Set[Long],
                      ctx: ReplayCtx[O], lastEventUs: Long): Unit = {
      val p: Pending =
        if (ctx.timers.isEmpty) Vector.empty
        else {
          val pending = Vector.newBuilder[(Long, String)]
          while (ctx.timers.nonEmpty) {
            val (dueUs, _, tag) = ctx.timers.dequeue() // (due, fifo) order
            pending += ((dueUs, tag))
          }
          pending.result()
        }
      val dues = storeDues(p, lastEventUs)
      if (dues.nonEmpty || registered.nonEmpty) {
        (dues diff registered).foreach(getHandle.registerTimer)
        (registered diff dues).foreach(getHandle.deleteTimer)
      }
      blob.update(encode(m, p, lastEventUs))
    }

    /** Fire every pending timer with due ≤ `upTo`; returns the last
      * fired due (Long.MinValue if none fired). Forwarder — the single
      * shared loop lives on [[Replay.fireDueTracked]] so batch/live
      * timer semantics cannot fork. */
    private def fireDue(m: KeyedStateMachine[K, I, O], ctx: ReplayCtx[O], upTo: Long): Long =
      Replay.fireDueTracked(m, ctx, upTo)

    override def handleInputRows(key: K, rows: Iterator[I], timerValues: TimerValues): Iterator[O] = {
      // micro-batch rows are not globally ordered: restore event-time
      // order within the batch (the replay guarantee, amortized per batch).
      // The sort key is (ts, tie) — matching Replay.run's (key, ts,
      // tieBreak) secondary sort exactly; ts alone would leave same-µs
      // events in shuffle-arrival order and batch/stream parity would
      // flip nondeterministically on tied timestamps.
      // This buffers ONE key's slice of ONE micro-batch — bounded by the
      // trigger interval, not the stream; a pathologically hot key in a
      // huge batch pays memory here, and the mitigation is a shorter
      // trigger (smaller batches), not a reorder buffer.
      val buf = rows.to(mutable.ArrayBuffer)
      val n = buf.length
      if (n == 0) return Iterator.empty
      val t = new Array[Long](n)
      val tb = new Array[Long](n)
      var i = 0
      while (i < n) { t(i) = ts(buf(i)); tb(i) = tie(buf(i)); i += 1 }
      val order = stableOrder(t, tb)
      val (m, registered, ctx, lastUs) = load(key, t(order(0)))
      i = 0
      while (i < n) {
        val j = order(i)
        // clock is monotone across batches: a row regressing behind the
        // persisted floor is delivered LATE (its own ts, advanced clock)
        // rather than rewinding past already-fired timers — the
        // reference's no-reorder-buffer behavior (see class doc).
        val deliverAt = math.max(t(j), math.max(lastUs, ctx.nowMicros))
        fireDue(m, ctx, deliverAt) // inline path: due timers precede the event
        ctx.nowMicros = deliverAt
        m.onEvent(t(j), buf(j), ctx)
        i += 1
      }
      flush(m, registered, ctx, lastEventUs = ctx.nowMicros)
      ctx.drain().iterator
    }

    override def handleExpiredTimer(key: K, timerValues: TimerValues,
                                    expiredTimerInfo: ExpiredTimerInfo): Iterator[O] = {
      // Store timers are registered at ceil-ms, so this expiry covers
      // every pending µs due ≤ expiryMs·1000 — fire those; no-op if
      // already consumed inline. The clock floor advances only to the
      // last FIRED due (not the ms boundary), so an event inside the
      // (due, ceil-ms) remainder keeps its own timestamp.
      val upToUs = expiredTimerInfo.getExpiryTimeInMs * 1000
      val (m, registered0, ctx, lastUs) = load(key, upToUs)
      // the timer that is firing right now is auto-removed by the store —
      // deleting it again (flush's diff, or the eviction sweep) would
      // only log a spurious failed-delete WARN per expiry
      val registered = registered0 - expiredTimerInfo.getExpiryTimeInMs
      val lastFired = fireDue(m, ctx, upTo = upToUs)
      val floor = math.max(lastUs, lastFired)
      // idle-TTL eviction: the watermark has passed activity+ttl and the
      // machine holds no future timers — drop the key's state entirely.
      // A LATER event for this key builds a fresh machine via the
      // factory (onStart and all), the divergence from the reference's
      // never-forget model documented in SURVEY §8.5: the reference's
      // bounded key spaces can afford eternal state; a 100 TB key space
      // with churn cannot.
      if (idleTtlUs > 0 && ctx.timers.isEmpty && floor > Long.MinValue &&
          upToUs >= floor + idleTtlUs) {
        blob.clear()
        registered.foreach(getHandle.deleteTimer)
      } else {
        flush(m, registered, ctx, lastEventUs = floor)
      }
      ctx.drain().iterator
    }
  }

  /** Row indices in stable `(t, tb)` order: a full tie keeps arrival
    * order, as `sortBy` on a `(ts, tie)` tuple did, but the merge sort
    * compares the primitive keys and boxes nothing. Input already in
    * order, the common case, costs one pass. */
  private[streaming] def stableOrder(t: Array[Long], tb: Array[Long]): Array[Int] = {
    val n = t.length
    def lt(a: Int, b: Int): Boolean = t(a) < t(b) || (t(a) == t(b) && tb(a) < tb(b))
    var src = new Array[Int](n)
    var i = 0
    var sorted = true
    while (i < n) {
      src(i) = i
      if (i > 0 && lt(i, i - 1)) sorted = false
      i += 1
    }
    if (sorted) return src
    var dst = new Array[Int](n)
    var width = 1
    while (width < n) {
      var lo = 0
      while (lo < n) {
        val mid = math.min(lo + width, n)
        val hi = math.min(lo + 2 * width, n)
        var a = lo
        var b = mid
        var k = lo
        while (k < hi) {
          // the left run wins ties: stability
          if (b >= hi || (a < mid && !lt(src(b), src(a)))) { dst(k) = src(a); a += 1 }
          else { dst(k) = src(b); b += 1 }
          k += 1
        }
        lo = hi
      }
      val swap = src; src = dst; dst = swap
      width *= 2
    }
    src
  }

  /** Run `ds` (a streaming Dataset with an event-time watermark already
    * set) through per-key machines. Append output, event-time timers.
    * `tie` breaks same-microsecond ordering exactly like `Replay.run`'s
    * tieBreak column (pass the same field for batch/stream parity);
    * the default keeps arrival order for inputs without a tie field.
    *
    * `idleTtlUs` (default 0 = never evict, the reference's never-forget
    * model): with a positive value, a key whose machine has been idle —
    * no events and no scheduled timers — for `idleTtlUs` of EVENT time
    * once the watermark passes is evicted from the state store. An
    * unbounded key space with churn (every session/request a new key)
    * needs this or per-key state grows without bound; eviction is
    * event-time-anchored so it is replay-deterministic. A post-eviction
    * event rebuilds a fresh machine via `factory` — exactly the
    * behavior a new key gets, which is the reference's own late-event
    * stance (deliver late, never resurrect history). */
  def run[I, K: Encoder, O: Encoder](ds: Dataset[I])(
      key: I => K, ts: I => Long, tie: I => Long = (_: I) => 0L,
      idleTtlUs: Long = 0L)(
      factory: K => KeyedStateMachine[K, I, O]): Dataset[O] =
    ds.groupByKey(key)
      .transformWithState(new Processor(factory, ts, tie, idleTtlUs),
        TimeMode.EventTime(), OutputMode.Append())
}
