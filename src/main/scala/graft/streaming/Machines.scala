package graft.streaming

import java.io.{DataInput, DataOutput}
import CompactState._

/** The reference's example workloads as [[KeyedStateMachine]]s — each runs
  * unchanged under batch replay ([[Replay.run]]) and live streaming
  * ([[AspStream.run]]). Semantics studied from the reference (cited);
  * implementations are original Scala.
  *
  * Live state codecs (CodecSurfaceSpec lists each machine's): a machine
  * whose state is plain values is [[CompactState]], its bytes led by a
  * version byte. Such a class pins the `serialVersionUID` that Java
  * computed for it before it opted in, so the Java-serialized blobs of
  * earlier deploys still restore. The carts stay Java-serialized.
  */
object Machines {

  // ---------- W8: retail cart with timer-based discount expiry ----------
  // reference: examples/csp/01_basics/e5_retail_cart.py:34-68 (manager),
  // :71-112 (driver: discount removed at start_time+60 s via on_start →
  // call_later). Expected totals 9.00 → 36.00 → 22.50 → 42.50.

  final case class CartItem(name: String, cost: Double, qty: Int)
  final case class CartUpdate(user_id: Long, ts_us: Long, seq: Long,
                              name: String, cost: Double, qty: Int, add: Boolean)
  final case class CartTotal(user_id: Long, ts_us: Long, total: Double, num_items: Long)

  /** FIFO multi-lot removal (reference e5_retail_cart.py:53-64): remove
    * `qty` units of the matching name across lots, oldest first; a lot
    * holding more than the remainder is reduced in place. Generic over
    * the lot type — ONE definition shared by the Double reference
    * machine, the transformWithState cart ([[TypedCartProcessor]]), and
    * the integer-domain hash gate ([[CartMachineQ]], q135), so the
    * subtle branch (partial vs whole-lot consumption) cannot fork. */
  def removeFifo[L](items: Vector[L], qty: Int)(
      matches: L => Boolean, qtyOf: L => Int, withQty: (L, Int) => L): Vector[L] = {
    var remaining = qty
    items.flatMap { it =>
      if (matches(it) && remaining > 0) {
        if (qtyOf(it) > remaining) {
          val r = withQty(it, qtyOf(it) - remaining); remaining = 0; Some(r)
        } else { remaining -= qtyOf(it); None }
      } else Some(it)
    }
  }

  /** @param discountExpiryUs absolute expiry (the reference schedules it
    *   relative to simulation start, not first cart activity — see the
    *   comment at e5_retail_cart.py:46-48). */
  final class CartMachine(userId: Long, discountExpiryUs: Long)
      extends KeyedStateMachine[Long, CartUpdate, CartTotal] {
    private var items = Vector.empty[CartItem]
    private var discount = 0.9

    override def onStart(key: Long, ctx: ReplayCtx[CartTotal]): Unit =
      ctx.callAt(discountExpiryUs, "discount_off")

    override def onTimer(ts: Long, tag: String, ctx: ReplayCtx[CartTotal]): Unit =
      if (tag == "discount_off") discount = 1.0

    override def onEvent(ts: Long, u: CartUpdate, ctx: ReplayCtx[CartTotal]): Unit = {
      if (u.add) {
        items :+= CartItem(u.name, u.cost * discount, u.qty)
      } else {
        items = Machines.removeFifo(items, u.qty)(
          _.name == u.name, _.qty, (it, q) => it.copy(qty = q))
      }
      val total = items.map(it => it.cost * it.qty).sum
      val n = items.map(_.qty.toLong).sum
      ctx.emit(CartTotal(userId, ts, total, n))
    }
  }

  // ---------- W8 under the hash gate: integer-domain cart (q135) ----------
  // The SAME transitions as CartMachine on the ×1000-quantized integer
  // domain: discounted cost = floorDiv(cost·9, 10) (≡ DuckDB `//` — the
  // q132 portability discipline), totals are exact Long sums, so the
  // replay output hash-compares against a DuckDB recursive CTE carrying
  // the cart list. Removal IS [[removeFifo]] — one definition.

  final case class CartOpQ(user_id: Long, ts_us: Long, event_id: Long,
                           name: String, cost: Long, qty: Int, add: Boolean)
  final case class LotQ(name: String, cost: Long, qty: Int)
  final case class CartTotalQ(user_id: Long, ts_us: Long, event_id: Long,
                              total_milli: Long, n_items: Long)

  final class CartMachineQ(userId: Long, discountExpiryUs: Long)
      extends KeyedStateMachine[Long, CartOpQ, CartTotalQ] {
    private var items = Vector.empty[LotQ]
    private var discounted = true

    override def onStart(key: Long, ctx: ReplayCtx[CartTotalQ]): Unit =
      ctx.callAt(discountExpiryUs, "discount_off")

    override def onTimer(ts: Long, tag: String, ctx: ReplayCtx[CartTotalQ]): Unit =
      if (tag == "discount_off") discounted = false

    override def onEvent(ts: Long, u: CartOpQ, ctx: ReplayCtx[CartTotalQ]): Unit = {
      if (u.add) {
        val c = if (discounted) Math.floorDiv(u.cost * 9, 10) else u.cost
        items :+= LotQ(u.name, c, u.qty)
      } else {
        items = Machines.removeFifo(items, u.qty)(
          _.name == u.name, _.qty, (l, q) => l.copy(qty = q))
      }
      ctx.emit(CartTotalQ(userId, u.ts_us, u.event_id,
        items.map(l => l.cost * l.qty).sum, items.map(_.qty.toLong).sum))
    }
  }

  // ---------- W9: cyclic feedback (order ⇄ exchange) in ONE machine ----------
  // reference: examples/csp/02_intermediate/e1_feedback.py:27-66 — MyAlgo
  // sends orders, Exchange ACKs with 0.3 s + 0.7 s latencies, ACK triggers
  // the next order, stop after order id 10 (→ 10 orders, 9 ACKs). Spark
  // DAGs are acyclic, so the closed loop lives inside one keyed state
  // machine with both parties' state (SURVEY §7.4 hard-part #2).

  final case class SessionSeed(session_id: Long, ts_us: Long, seq: Long)
  final case class FeedbackEvent(session_id: Long, ts_us: Long, kind: String,
                                 order_id: Long, price: Double)

  @SerialVersionUID(6113461156515272558L)
  final class FeedbackMachine(sessionId: Long)
      extends KeyedStateMachine[Long, SessionSeed, FeedbackEvent] with CompactState {
    private var lastId = 1L
    private var lastPrice = 100.0
    private val toExchangeUs = 300000L // 0.3 s
    private val toAlgoUs     = 700000L // 0.7 s

    private def sendOrder(ctx: ReplayCtx[FeedbackEvent]): Unit = {
      ctx.emit(FeedbackEvent(sessionId, ctx.now, "order", lastId, lastPrice))
      val id = lastId
      lastId += 1; lastPrice += 0.01
      if (lastId <= 10) ctx.callLater(toExchangeUs, s"order:$id")
    }

    override def onEvent(ts: Long, seed: SessionSeed, ctx: ReplayCtx[FeedbackEvent]): Unit =
      sendOrder(ctx)

    override def onTimer(ts: Long, tag: String, ctx: ReplayCtx[FeedbackEvent]): Unit =
      tag.split(':') match {
        case Array("order", id) => // exchange receives the order, ACKs later
          ctx.callLater(toAlgoUs, s"ack:$id")
        case Array("ack", id) =>   // algo receives the exec report → next order
          ctx.emit(FeedbackEvent(sessionId, ts, "exec_report", id.toLong, 0.0))
          sendOrder(ctx)
        case _ => ()
      }

    def writeState(out: DataOutput): Unit = {
      out.writeByte(1); out.writeLong(lastId); out.writeDouble(lastPrice)
    }
    def readState(in: DataInput): Unit = {
      readVersion(in, this, 1); lastId = in.readLong(); lastPrice = in.readDouble()
    }
  }

  // ---------- W1/W2: greeter with deferred greeting ----------
  // reference: examples/common.py:25-38 — first-seen set membership decides
  // "Hello" vs "Hello again"; greet_later schedules the greeting at
  // event_time + 1 s (the timer's due time becomes the output's time).

  final case class NameEvent(name: String, ts_us: Long, seq: Long)
  final case class Greeting(name: String, ts_us: Long, text: String)

  @SerialVersionUID(-9142778293116737490L)
  final class GreeterMachine(name: String, delayUs: Long = 0L)
      extends KeyedStateMachine[String, NameEvent, Greeting] with CompactState {
    private var seen = false
    private var pending = List.empty[String] // FIFO texts awaiting timers

    override def onEvent(ts: Long, e: NameEvent, ctx: ReplayCtx[Greeting]): Unit = {
      val text = if (seen) s"Hello again $name" else s"Hello $name"
      seen = true
      if (delayUs == 0L) ctx.emit(Greeting(name, ts, text))
      else { pending :+= text; ctx.callLater(delayUs, "greet") }
    }

    override def onTimer(ts: Long, tag: String, ctx: ReplayCtx[Greeting]): Unit =
      pending match {
        case h :: t => pending = t; ctx.emit(Greeting(name, ts, h))
        case Nil    => ()
      }

    def writeState(out: DataOutput): Unit = {
      out.writeByte(1); out.writeBoolean(seen)
      out.writeInt(pending.length); pending.foreach(writeString(out, _))
    }
    def readState(in: DataInput): Unit = {
      readVersion(in, this, 1); seen = in.readBoolean()
      pending = List.fill(in.readInt())(readString(in))
    }
  }

  // ---------- W5/W7: streaming as-of join as keyed last-value state ----------
  // reference: e3_show_graph.py:11-29 / e4_trade_pnl.py:51-63 — each trade
  // sees the most recent quote at-or-before it. Batch form is
  // [[graft.operators.AsOfJoin.asOf]] (union + last-value window, one
  // shuffle); this machine is the LIVE form over the same merged stream:
  // per key, quotes update ValueState-like fields, trades emit joined
  // rows. Equal timestamps: quotes sort before trades via the tie-break
  // column (same rule as the batch operator's tag ordering).

  final case class MarketTick(user_id: Long, ts_us: Long, seq: Long,
                              kind: String, value: Double) // "quote" | "trade"
  final case class AsOfRow(user_id: Long, ts_us: Long,
                           trade_value: Double, quote_value: Option[Double])

  @SerialVersionUID(-6046611777613109075L)
  final class AsOfMachine(userId: Long)
      extends KeyedStateMachine[Long, MarketTick, AsOfRow] with CompactState {
    private var lastQuote: Option[Double] = None
    override def onEvent(ts: Long, e: MarketTick, ctx: ReplayCtx[AsOfRow]): Unit =
      e.kind match {
        case "quote" => lastQuote = Some(e.value)
        case "trade" => ctx.emit(AsOfRow(userId, ts, e.value, lastQuote))
        case _       => ()
      }
    def writeState(out: DataOutput): Unit = { out.writeByte(1); writeOptDouble(out, lastQuote) }
    def readState(in: DataInput): Unit = { readVersion(in, this, 1); lastQuote = readOptDouble(in) }
  }

  // ---------- CEP: consecutive-sequence pattern matcher ----------
  // The live form of q112_seq_pattern (AspSemantics): a pattern of
  // length k needs only the last k−1 event types as per-key state —
  // O(k) bytes per key regardless of stream length, the CEP analogue
  // of the batch query's k−1 lead() columns. Emits one match row per
  // completed pattern, stamped with the FIRST event's time (what the
  // batch window's min(ts) aggregates).

  final case class PatternEvent(user_id: Long, ts_us: Long, seq: Long,
                                event_type: String)
  final case class PatternMatch(user_id: Long, start_us: Long, end_us: Long)

  @SerialVersionUID(-5121314604266830479L)
  final class SeqPatternMachine(userId: Long, pattern: Seq[String])
      extends KeyedStateMachine[Long, PatternEvent, PatternMatch] with CompactState {
    private val patternV = pattern.toVector // onEvent is the per-event hot path
    // sliding window of the last pattern.length−1 (type, ts) pairs
    private var recent = Vector.empty[(String, Long)]
    private def matches(window: Vector[(String, Long)]): Boolean = {
      if (window.length != patternV.length) return false
      var i = 0
      while (i < patternV.length) {
        if (window(i)._1 != patternV(i)) return false
        i += 1
      }
      true
    }
    override def onEvent(ts: Long, e: PatternEvent,
                         ctx: ReplayCtx[PatternMatch]): Unit = {
      val window = recent :+ (e.event_type, ts)
      if (matches(window))
        ctx.emit(PatternMatch(userId, window.head._2, ts))
      recent = window.takeRight(patternV.length - 1)
    }
    def writeState(out: DataOutput): Unit = {
      out.writeByte(1); out.writeInt(recent.length)
      recent.foreach { case (ty, ts) => writeString(out, ty); out.writeLong(ts) }
    }
    def readState(in: DataInput): Unit = {
      readVersion(in, this, 1)
      recent = Vector.fill(in.readInt())((readString(in), in.readLong()))
    }
  }

  // ---------- W7: trade/quote book with running positions + PnL ----------
  // reference: examples/csp/01_basics/e4_trade_pnl.py:19-70 — Book keeps
  // last bid/ask (mid = (bid+ask)/2), Positions keep running Σqty and
  // Σqty·price per side; each quote with a mid prints Mid, each trade
  // with a mid prints PnL = buyPnl − sellPnl where
  // pnl(mid) = qty·(mid − Σqty·price/Σqty). Cross-stream simultaneity is
  // resolved by the explicit (ts, seq) tie-break — the caller encodes the
  // reference's schedule-insertion order in `seq` (SURVEY §1.3.7).

  final case class PnlEvent(instrument: Long, ts_us: Long, seq: Long,
                            kind: String, // "quote" | "trade"
                            is_bid: Boolean, price: Double, qty: Long, buy: Boolean)
  final case class PnlOut(instrument: Long, ts_us: Long, kind: String, // "mid" | "pnl"
                          mid: Double, pnl: Double, buy_pnl: Double, sell_pnl: Double)

  @SerialVersionUID(7826055396339747767L)
  final class PnlMachine(instrument: Long)
      extends KeyedStateMachine[Long, PnlEvent, PnlOut] with CompactState {
    private var lastBid, lastAsk = Option.empty[Double]
    private var buyQty, sellQty = 0L
    private var buyQtyPrice, sellQtyPrice = 0.0

    private def mid: Option[Double] =
      for (b <- lastBid; a <- lastAsk) yield (a + b) / 2

    private def pnl(qty: Long, qtyPrice: Double, m: Double): Double =
      if (qty == 0) 0.0 else qty * (m - qtyPrice / qty)

    override def onEvent(ts: Long, e: PnlEvent, ctx: ReplayCtx[PnlOut]): Unit =
      e.kind match {
        case "quote" =>
          if (e.is_bid) lastBid = Some(e.price) else lastAsk = Some(e.price)
          mid.foreach(m => ctx.emit(PnlOut(instrument, ts, "mid", m, 0.0, 0.0, 0.0)))
        case "trade" =>
          if (e.buy) { buyQty += e.qty; buyQtyPrice += e.qty * e.price }
          else { sellQty += e.qty; sellQtyPrice += e.qty * e.price }
          mid.foreach { m =>
            val bp = pnl(buyQty, buyQtyPrice, m)
            val sp = pnl(sellQty, sellQtyPrice, m)
            ctx.emit(PnlOut(instrument, ts, "pnl", m, bp - sp, bp, sp))
          }
        case _ => ()
      }

    def writeState(out: DataOutput): Unit = {
      out.writeByte(1); writeOptDouble(out, lastBid); writeOptDouble(out, lastAsk)
      out.writeLong(buyQty); out.writeLong(sellQty)
      out.writeDouble(buyQtyPrice); out.writeDouble(sellQtyPrice)
    }
    def readState(in: DataInput): Unit = {
      readVersion(in, this, 1); lastBid = readOptDouble(in); lastAsk = readOptDouble(in)
      buyQty = in.readLong(); sellQty = in.readLong()
      buyQtyPrice = in.readDouble(); sellQtyPrice = in.readDouble()
    }
  }

  // ---------- W10: sliding-window VWAP sampled on a periodic timer ----------
  // reference: examples/csp/02_intermediate/e2_stats.py — MovingAverage
  // keeps (ts, value, weight) rows within the trailing `interval`, a 1-min
  // timer prints Σv·w/Σw plus cumulative volume. The reference evicts
  // against `asp.now()` (virtual time + wall-clock callback drift, µs
  // noise at exact window boundaries); this machine uses exact virtual
  // time: boundary events (ts == now − interval) are included, and at a
  // timer/event tie the timer fires first (engine-wide rule).
  // NOTE: the declarative form (Windows.vwap / q28/q29) is the preferred
  // Spark-first VWAP; this machine exists for reference-shape parity
  // (timer-driven sampling interleaved with stream state).

  final case class PriceVol(series_id: Long, ts_us: Long, seq: Long,
                            value: Double, weight: Double)
  final case class VwapSample(series_id: Long, ts_us: Long, vwap: Double, cum_volume: Double)

  @SerialVersionUID(4128756437510229238L)
  final class VwapMachine(seriesId: Long, intervalUs: Long, stepUs: Long,
                          startUs: Long, endUs: Long)
      extends KeyedStateMachine[Long, PriceVol, VwapSample] with CompactState {
    private var buf = Vector.empty[(Long, Double, Double)] // (ts, value, weight)
    private var cumVolume = 0.0

    override def onStart(key: Long, ctx: ReplayCtx[VwapSample]): Unit =
      if (startUs + stepUs <= endUs) ctx.callAt(startUs + stepUs, "sample")

    override def onEvent(ts: Long, e: PriceVol, ctx: ReplayCtx[VwapSample]): Unit = {
      buf = buf.filter(_._1 >= ts - intervalUs) :+ ((ts, e.value, e.weight))
      cumVolume += e.weight
    }

    override def onTimer(ts: Long, tag: String, ctx: ReplayCtx[VwapSample]): Unit = {
      if (cumVolume > 0) {
        val w = buf.filter(_._1 >= ts - intervalUs)
        if (w.nonEmpty)
          ctx.emit(VwapSample(seriesId, ts,
            w.map(r => r._2 * r._3).sum / w.map(_._3).sum, cumVolume))
      }
      if (ts + stepUs <= endUs) ctx.callAt(ts + stepUs, "sample")
    }

    def writeState(out: DataOutput): Unit = {
      out.writeByte(1); out.writeDouble(cumVolume); out.writeInt(buf.length)
      buf.foreach { case (ts, v, w) => out.writeLong(ts); out.writeDouble(v); out.writeDouble(w) }
    }
    def readState(in: DataInput): Unit = {
      readVersion(in, this, 1); cumVolume = in.readDouble()
      buf = Vector.fill(in.readInt())((in.readLong(), in.readDouble(), in.readDouble()))
    }
  }

  // ---------- P6: periodic timer ----------
  // reference: processor.py:140-150 — first tick at start+step, then every
  // step while tick <= end; event_time = fire time; exactly 10 ticks over
  // 10 s at 1 s step (tests/test_past.py:104-119).

  final case class TimerSeed(timer_id: Long, ts_us: Long, seq: Long)
  final case class Tick(timer_id: Long, ts_us: Long, n: Long)

  @SerialVersionUID(-1233030308737371112L)
  final class PeriodicTimerMachine(timerId: Long, startUs: Long, stepUs: Long, endUs: Long)
      extends KeyedStateMachine[Long, TimerSeed, Tick] with CompactState {
    private var n = 0L
    override def onStart(key: Long, ctx: ReplayCtx[Tick]): Unit =
      if (startUs + stepUs <= endUs) ctx.callAt(startUs + stepUs, "tick")
    override def onEvent(ts: Long, seed: TimerSeed, ctx: ReplayCtx[Tick]): Unit = ()
    override def onTimer(ts: Long, tag: String, ctx: ReplayCtx[Tick]): Unit = {
      n += 1
      ctx.emit(Tick(timerId, ts, n))
      if (ts + stepUs <= endUs) ctx.callAt(ts + stepUs, "tick")
    }
    def writeState(out: DataOutput): Unit = { out.writeByte(1); out.writeLong(n) }
    def readState(in: DataInput): Unit = { readVersion(in, this, 1); n = in.readLong() }
  }

  // ---------- CDC compaction: emit only attribute CHANGES per key ----------
  // The streaming form of q118's SCD2 compaction stage (the lag-window
  // no-op-change filter): state is one attribute value per key; an event
  // emits iff its attribute differs from the last seen. Runs unchanged
  // under batch replay and live streaming — suppression must hold across
  // micro-batch boundaries (the state carry the window form gets for
  // free inside one partition's sort).

  final case class AttrEvent(user_id: Long, ts_us: Long, seq: Long, attr: String)
  final case class AttrChange(user_id: Long, ts_us: Long, attr: String)

  @SerialVersionUID(248155442675358657L)
  final class ChangeMachine(userId: Long)
      extends KeyedStateMachine[Long, AttrEvent, AttrChange] with CompactState {
    // mirrors the lag-window form EXACTLY, nulls included: the window
    // keeps a row iff prev IS NULL (no previous row OR a null attr —
    // the form conflates the two) or attr <> prev is TRUE; and lag()
    // reads the previous ROW's attr whether or not that row survived
    // the filter — so `last` updates on EVERY event, not just emitted
    // ones
    private var last: String = null
    override def onEvent(ts: Long, e: AttrEvent, ctx: ReplayCtx[AttrChange]): Unit = {
      val keep = last == null || (e.attr != null && e.attr != last)
      last = e.attr
      if (keep) ctx.emit(AttrChange(userId, ts, e.attr))
    }
    def writeState(out: DataOutput): Unit = { out.writeByte(1); writeString(out, last) }
    def readState(in: DataInput): Unit = { readVersion(in, this, 1); last = readString(in) }
  }
}
