package graft.streaming

import java.io.{ByteArrayOutputStream, DataInput, DataOutput, ObjectOutputStream}
import org.scalatest.funsuite.AnyFunSuite
import Machines._

private[streaming] object CodecFixtures {
  @SerialVersionUID(1L)
  final case class CodecMachine(uid: Long, seen: Vector[String])
      extends KeyedStateMachine[Long, Long, Long] {
    def onEvent(ts: Long, e: Long, ctx: ReplayCtx[Long]): Unit = ()
  }

  /** A compact machine: a count and the tags it saw; `uid` comes from
    * the factory. `version`, `extra` and `short` make its writer and
    * reader disagree, standing in for a reader that no longer matches
    * the bytes. */
  final class CompactCounter(val uid: Long, version: Int = 1, extra: Int = 0, short: Int = 0)
      extends KeyedStateMachine[Long, Long, Long] with CompactState {
    var n = 0L
    var seen = Vector.empty[String]
    def onEvent(ts: Long, e: Long, ctx: ReplayCtx[Long]): Unit = { n += e; seen :+= s"e$e" }
    def writeState(out: DataOutput): Unit = {
      out.writeByte(version); out.writeLong(n)
      out.writeInt(seen.length); seen.foreach(CompactState.writeString(out, _))
      (0 until extra).foreach(_ => out.writeByte(0))
    }
    def readState(in: DataInput): Unit = {
      CompactState.readVersion(in, this, 1); n = in.readLong()
      seen = Vector.fill(in.readInt())(CompactState.readString(in))
      (0 until short).foreach(_ => in.readByte())
    }
    def state: (Long, Long, Vector[String]) = (uid, n, seen)
  }
}

/** `AspStream`'s per-key state blob: both current layouts round-trip, and
  * blobs of every earlier layout (one java-serialized tuple, built here
  * with a plain `ObjectOutputStream` exactly as the old code wrote them,
  * or the bytes the previous release wrote, committed under
  * `src/test/resources/graft/streaming/`) decode to the same machine,
  * pending timers and clock floor. */
class StateCodecSpec extends AnyFunSuite {
  import CodecFixtures.{CodecMachine, CompactCounter}

  private def javaSer(o: AnyRef): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val oos = new ObjectOutputStream(bos)
    oos.writeObject(o); oos.close(); bos.toByteArray
  }

  private val machine = CodecMachine(42L, Vector("quote", "trade"))
  private val pendingMs = Vector((1704067200123L, "expire"), (1704067200123L, "second"),
    (1704067201000L, "ping"))
  private val pendingUs = pendingMs.map { case (ms, tag) => (ms * 1000, tag) }

  test("legacy 2-tuple blob (ms dues, no clock floor) decodes with dues in µs") {
    assert(AspStream.decode(javaSer((machine, pendingMs))) == ((machine, pendingUs, Long.MinValue)))
  }

  test("legacy 3-tuple blob (ms dues, clock floor) decodes with dues in µs") {
    val blob = javaSer((machine, pendingMs, 1704067200999999L))
    assert(AspStream.decode(blob) == ((machine, pendingUs, 1704067200999999L)))
  }

  test("legacy 4-tuple blob (µs dues, clock floor, version tag) decodes unchanged") {
    val pending = Vector((1704067200123457L, "expire"), (1704067200123458L, "ping"))
    val blob = javaSer((machine, pending, 1704067200000001L, 1L))
    assert(AspStream.decode(blob) == ((machine, pending, 1704067200000001L)))
  }

  test("current layout round-trips a machine, several timers (non-ASCII and empty tags) and the floor") {
    val pending = Vector((1704067200123457L, "expire"), (1704067200123457L, "zürich ☃ 東京"),
      (1704067201000000L, ""), (Long.MaxValue, "late"))
    for (floor <- Seq(Long.MinValue, 0L, 1704067200000001L)) {
      assert(AspStream.decode(AspStream.encode(machine, pending, floor)) == ((machine, pending, floor)))
    }
    assert(AspStream.decode(AspStream.encode(machine, Vector.empty, 7L)) == ((machine, Vector.empty, 7L)))
  }

  test("no current-layout blob starts with 0xAC, the first byte of a java serialization stream") {
    for (n <- Seq(0, 1, 5, 300); floor <- Seq(Long.MinValue, -1L, 0xAC00000000000000L)) {
      val pending = Vector.tabulate(n)(i => (0xACEDL + i, "¬" * i))
      assert(AspStream.encode(machine, pending, floor)(0) != 0xAC.toByte)
    }
  }

  test("an as-of machine's blob is less than half its legacy 4-tuple size") {
    val m = new Machines.AsOfMachine(7L)
    m.onEvent(1L, Machines.MarketTick(7L, 1L, 1L, "quote", 1.5), new ReplayCtx[Machines.AsOfRow](0L))
    val legacy = javaSer((m, Vector.empty[(Long, String)], 1L, 1L)).length
    val current = AspStream.encode(m, Vector.empty, 1L).length
    assert(current * 2 < legacy, s"current $current B vs legacy $legacy B")
  }

  private def resource(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(s"/graft/streaming/$name")
    assert(in != null, s"missing test resource $name")
    try in.readAllBytes() finally in.close()
  }

  private val timers = Vector((1704067200123457L, "expire"), (1704067200123457L, "zürich ☃ 東京"),
    (1704067201000000L, ""), (Long.MaxValue, "late"))

  private def counter(uid: Long, events: Long*): CompactCounter = {
    val m = new CompactCounter(uid)
    events.foreach(e => m.onEvent(0L, e, new ReplayCtx[Long](0L)))
    m
  }

  test("compact layout round-trips a machine, pending timers (non-ASCII and empty tags) and the floor") {
    val m = counter(9L, 3L, 4L)
    for (floor <- Seq(Long.MinValue, 0L, 1704067200000001L); pending <- Seq(timers, Vector.empty)) {
      val blob = AspStream.encode(m, pending, floor)
      assert(blob(0) == 2, "an opted-in machine is written in the compact layout")
      val (got, p, f) = AspStream.decode(blob, new CompactCounter(9L))
      assert((got.asInstanceOf[CompactCounter].state, p, f) == ((m.state, pending, floor)))
    }
  }

  test("a compact blob holds no Java serialization; the machine's fields come from the factory") {
    val blob = AspStream.encode(counter(9L, 5L), Vector.empty, 1L)
    // layout, floor, timer count, then the counter's version, n, one tag
    assert(blob.length == 1 + 8 + 4 + 1 + 8 + 4 + 4 + 2)
    assert(!blob.sliding(2).exists(_.sameElements(Array(0xAC.toByte, 0xED.toByte))))
    val (got, _, _) = AspStream.decode(blob, new CompactCounter(77L))
    assert(got.asInstanceOf[CompactCounter].state == ((77L, 5L, Vector("e5"))))
  }

  test("no compact blob starts with 0xAC, the first byte of a java serialization stream") {
    for (n <- Seq(0, 1, 5, 300); floor <- Seq(Long.MinValue, -1L, 0xAC00000000000000L)) {
      val pending = Vector.tabulate(n)(i => (0xACEDL + i, "¬" * i))
      assert(AspStream.encode(counter(0xACL, 0xACL), pending, floor)(0) != 0xAC.toByte)
    }
  }

  test("a layout-1 AsOfMachine blob of the previous release decodes; re-encoding gives the compact layout") {
    // written by the previous release's encode: AsOfMachine(7) after a
    // quote of 1.5, one pending timer, floor 1704067200000001
    val old = resource("asof-layout1.bin")
    assert(old(0) == 1 && old.length == 297)
    val pending = Vector((1704067200123457L, "expire"))
    val (m, p, floor) = AspStream.decode(old, fail("a layout-1 blob must not call the factory"))
    assert(p == pending && floor == 1704067200000001L)
    def trade(machine: AnyRef): Seq[AsOfRow] = {
      val ctx = new ReplayCtx[AsOfRow](0L)
      machine.asInstanceOf[AsOfMachine].onEvent(2L, MarketTick(7L, 2L, 2L, "trade", 3.0), ctx)
      ctx.drain()
    }
    assert(trade(m) == Seq(AsOfRow(7L, 2L, 3.0, Some(1.5))))
    val compact = AspStream.encode(m, p, floor)
    assert(compact(0) == 2)
    assert(compact.length == 1 + 8 + 4 + (8 + 4 + 6) + 1 + 1 + 8)
    val (m2, p2, floor2) = AspStream.decode(compact, new AsOfMachine(7L))
    assert(p2 == pending && floor2 == floor && trade(m2) == trade(m))
  }

  test("a machine that does not opt in encodes byte-identically to the previous release") {
    // written by the previous release's encode (see the resource's twin above)
    val cart = new CartMachine(7L, 1704067260000000L)
    cart.onEvent(1704067200000001L, CartUpdate(7L, 1704067200000001L, 1L, "äpfel", 2.5, 3, add = true),
      new ReplayCtx[CartTotal](0L))
    val blob = AspStream.encode(cart, Vector((1704067260000000L, "discount_off")), 1704067200000001L)
    assert(blob.sameElements(resource("cart-layout1.bin")))
  }

  test("a compact blob fails loudly, naming the class, when the factory or the reader no longer fits it") {
    def failure(written: CompactCounter, fresh: => AnyRef): String = {
      written.onEvent(0L, 1L, new ReplayCtx[Long](0L))
      val blob = AspStream.encode(written, timers, 5L)
      intercept[IllegalStateException](AspStream.decode(blob, fresh)).getMessage
    }
    val counterName = classOf[CompactCounter].getName
    val noCodec = failure(new CompactCounter(9L), CodecMachine(9L, Vector.empty))
    assert(noCodec.contains(classOf[CodecMachine].getName) && noCodec.contains("CompactState"), noCodec)
    val unread = failure(new CompactCounter(9L, extra = 2), new CompactCounter(9L))
    assert(unread.contains(counterName) && unread.contains("2 of its 21 state bytes unread"), unread)
    val past = failure(new CompactCounter(9L), new CompactCounter(9L, short = 3))
    assert(past.contains(counterName) && past.contains("past the end"), past)
    val newer = failure(new CompactCounter(9L, version = 2), new CompactCounter(9L))
    assert(newer.contains(counterName) && newer.contains("1..1, got 2"), newer)
    val blob = AspStream.encode(counter(9L, 1L), timers, 5L)
    assert(intercept[IllegalStateException](AspStream.decode(blob)).getMessage.contains("factory"))
  }

  /** One key of `factory` through `events` as the live path runs it, with
    * its state saved and restored through the factory before event `cut`
    * (none when `cut` < 0); then every timer drained. */
  private def drive[K, I, O](key: K, factory: K => KeyedStateMachine[K, I, O],
                             events: Seq[(Long, I)], cut: Int): Seq[O] = {
    var m = factory(key)
    var ctx = new ReplayCtx[O](events.head._1)
    m.onStart(key, ctx)
    val out = Vector.newBuilder[O]
    events.zipWithIndex.foreach { case ((t, e), i) =>
      if (i == cut) {
        val pending = Vector.newBuilder[(Long, String)]
        while (ctx.timers.nonEmpty) { val (d, _, tag) = ctx.timers.dequeue(); pending += ((d, tag)) }
        val blob = AspStream.encode(m, pending.result(), ctx.now)
        assert(blob(0) == 2, s"${m.getClass.getSimpleName} is written in the compact layout")
        out ++= ctx.drain()
        val (restored, p, floor) = AspStream.decode(blob, factory(key))
        assert(AspStream.encode(restored, p, floor).sameElements(blob))
        m = restored.asInstanceOf[KeyedStateMachine[K, I, O]]
        ctx = new ReplayCtx[O](floor)
        p.foreach { case (d, tag) => ctx.callAt(d, tag) }
      }
      Replay.fireDueTracked(m, ctx, t)
      ctx.nowMicros = t
      m.onEvent(t, e, ctx)
    }
    Replay.fireDueTracked(m, ctx, Long.MaxValue)
    out ++= ctx.drain()
    out.result()
  }

  test("every compact library machine resumes identically after a save and restore between any two events") {
    val s = 1000000L
    def check[K, I, O](key: K)(factory: K => KeyedStateMachine[K, I, O])(events: Seq[(Long, I)]): Unit = {
      val whole = drive(key, factory, events, -1)
      assert(whole.nonEmpty)
      for (cut <- 1 until events.length) assert(drive(key, factory, events, cut) == whole, s"cut at $cut")
    }
    check(1L)(new AsOfMachine(_))(Seq("quote" -> 1.0, "trade" -> 2.0, "quote" -> 3.0, "trade" -> 4.0)
      .zipWithIndex.map { case ((k, v), i) => (i * s, MarketTick(1L, i * s, i, k, v)) })
    check(1L)(new ChangeMachine(_))(Seq("a", "a", null, "b", "b", "ä")
      .zipWithIndex.map { case (a, i) => (i * s, AttrEvent(1L, i * s, i, a)) })
    check(1L)(new PnlMachine(_))(Seq(("quote", true, 10.0, 0L, true), ("trade", false, 10.5, 3L, true),
        ("quote", false, 11.0, 0L, true), ("trade", false, 10.8, 2L, false), ("trade", false, 10.9, 1L, true))
      .zipWithIndex.map { case ((k, bid, p, q, buy), i) => (i * s, PnlEvent(1L, i * s, i, k, bid, p, q, buy)) })
    check(1L)(new PeriodicTimerMachine(_, 0L, 2 * s, 9 * s))(
      (0 until 4).map(i => (i * 3 * s, TimerSeed(1L, i * 3 * s, i))))
    check(1L)(new FeedbackMachine(_))(Seq(0L, 2 * s, 5 * s).map(t => (t, SessionSeed(1L, t, t))))
    check("ann")(new GreeterMachine(_, delayUs = 3 * s))((0 until 4).map(i => (i * s, NameEvent("ann", i * s, i))))
    check(1L)(new SeqPatternMachine(_, Seq("a", "b", "c")))(Seq("a", "b", "c", "a", "b", "b", "c", "a", "b", "c")
      .zipWithIndex.map { case (ty, i) => (i * s, PatternEvent(1L, i * s, i, ty)) })
    check(1L)(new VwapMachine(_, 3 * s, s, 0L, 8 * s))((0 until 6).map(i =>
      (i * 3 * s / 2, PriceVol(1L, i * 3 * s / 2, i, 10.0 + i, 1.0 + i))))
  }

  test("stableOrder sorts on (ts, tie) and keeps arrival order on a full tie") {
    val rnd = new scala.util.Random(17)
    for (n <- Seq(0, 1, 2, 7, 64, 1000)) {
      val t = Array.fill(n)(rnd.nextInt(5).toLong)
      val tb = Array.fill(n)(rnd.nextInt(3).toLong)
      val want = (0 until n).sortBy(i => (t(i), tb(i))) // a stable sort
      assert(AspStream.stableOrder(t, tb).toSeq == want, s"n=$n")
    }
    val sorted = Array.tabulate(50)(_.toLong)
    assert(AspStream.stableOrder(sorted, new Array[Long](50)).toSeq == (0 until 50))
  }
}
