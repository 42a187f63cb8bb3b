package graft.streaming

/** The single-threaded baseline of [[Replay.run]]: the same per-key loop
  * (start, due timers before each event, final drain, finish) over input
  * already sorted by (key, ts, tie), in one thread with no Spark. It lives
  * in this package because it drives [[ReplayCtx]] the way `Replay.run`
  * does. */
object SingleThread {
  def run[I, K, O](sorted: Iterator[I])(key: I => K, ts: I => Long)(
      factory: K => KeyedStateMachine[K, I, O]): Vector[O] = {
    val out = Vector.newBuilder[O]
    val buf = sorted.buffered
    while (buf.hasNext) {
      val k = key(buf.head)
      val ctx = new ReplayCtx[O](ts(buf.head))
      val m = factory(k)
      m.onStart(k, ctx)
      while (buf.hasNext && key(buf.head) == k) {
        val row = buf.next()
        val t = ts(row)
        Replay.fireDueTracked(m, ctx, t)
        ctx.nowMicros = t
        m.onEvent(t, row, ctx)
      }
      Replay.fireDueTracked(m, ctx, Long.MaxValue)
      m.onFinish(ctx)
      out ++= ctx.drain()
    }
    out.result()
  }
}
