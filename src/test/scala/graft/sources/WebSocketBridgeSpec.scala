package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.streaming.Trigger
import graft.TestSpark
import graft.streaming.Crossover

import java.io.{DataInputStream, OutputStream}
import java.nio.charset.StandardCharsets

/** W11 over the real wire protocol: an RFC 6455 server (in-process, the
  * websocket_server.py:5-9 role) → handshake → text frames become feed
  * rows → Crossover handover fires after the backlog drains. Also pins
  * the protocol corners: fragmentation, 16-bit lengths, PING/PONG, and
  * handshake verification. */
class WebSocketBridgeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // -- minimal RFC 6455 server side (unmasked frames, §5.1) --

  private def serveHandshake(s: java.net.Socket): (DataInputStream, OutputStream) = {
    val in = new DataInputStream(s.getInputStream)
    val out = s.getOutputStream
    def line(): String = {
      val sb = new StringBuilder
      var c = in.read()
      while (c != -1 && c != '\n') { if (c != '\r') sb.append(c.toChar); c = in.read() }
      sb.toString
    }
    var key = ""
    var l = line()
    while (l.nonEmpty) {
      val i = l.indexOf(':')
      if (i > 0 && l.substring(0, i).trim.equalsIgnoreCase("sec-websocket-key"))
        key = l.substring(i + 1).trim
      l = line()
    }
    out.write(("HTTP/1.1 101 Switching Protocols\r\n" +
      "Upgrade: websocket\r\nConnection: Upgrade\r\n" +
      s"Sec-WebSocket-Accept: ${WebSocketBridge.acceptKeyFor(key)}\r\n\r\n")
      .getBytes(StandardCharsets.US_ASCII))
    out.flush()
    (in, out)
  }

  private def frame(out: OutputStream, opcode: Int, payload: Array[Byte],
                    fin: Boolean = true): Unit = {
    out.write((if (fin) 0x80 else 0x00) | opcode)
    val n = payload.length
    if (n < 126) out.write(n)
    else if (n < 65536) { out.write(126); out.write(n >>> 8); out.write(n & 0xff) }
    else {
      out.write(127)
      (7 to 0 by -1).foreach(i => out.write(((n.toLong >>> (8 * i)) & 0xff).toInt))
    }
    out.write(payload)
    out.flush()
  }

  private def sendText(out: OutputStream, s: String): Unit =
    frame(out, 0x1, s.getBytes(StandardCharsets.UTF_8))

  /** Read one masked CLIENT frame (§5.3) — used to assert the PONG. */
  private def readClientFrame(in: DataInputStream): (Int, Array[Byte]) = {
    val b0 = in.readUnsignedByte()
    val b1 = in.readUnsignedByte()
    assert((b1 & 0x80) != 0, "client frames must be masked")
    val len = (b1 & 0x7f) match {
      case 126 => in.readUnsignedShort()
      case n => n
    }
    val mask = new Array[Byte](4); in.readFully(mask)
    val p = new Array[Byte](len); in.readFully(p)
    p.indices.foreach(i => p(i) = (p(i) ^ mask(i % 4)).toByte)
    (b0 & 0x0f, p)
  }

  private def await(what: String)(cond: => Boolean): Unit = {
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!cond) {
      if (System.nanoTime() > deadline) fail(s"timed out waiting for $what")
      Thread.sleep(20)
    }
  }

  test("ws server → handshake → frames as rows → crossover handover") {
    import spark.implicits._
    val feed = "ws-" + System.nanoTime()
    val server = new java.net.ServerSocket(0)
    val goLive = new java.util.concurrent.Semaphore(0)
    val pong = new java.util.concurrent.LinkedBlockingQueue[String]()

    val serverThread = new Thread(() => {
      val s = server.accept()
      val (in, out) = serveHandshake(s)
      // backlog: a plain frame, a FRAGMENTED message (text+continuation),
      // and a >125-byte frame (16-bit length path)
      sendText(out, "tick 0")
      frame(out, 0x1, "tick".getBytes(StandardCharsets.UTF_8), fin = false)
      frame(out, 0x0, " 1".getBytes(StandardCharsets.UTF_8))
      sendText(out, "tick 2 " + ("x" * 140))
      // PING mid-stream: the client must answer PONG with the same payload
      frame(out, 0x9, "hb".getBytes(StandardCharsets.UTF_8))
      val (op, p) = readClientFrame(in)
      if (op == 0xA) pong.put(new String(p, StandardCharsets.UTF_8))
      goLive.acquire() // hold the live message until the handover completed
      sendText(out, "tick 3")
      s.close()
    }, "ws-producer")
    serverThread.setDaemon(true)
    serverThread.start()

    val t0Us = System.currentTimeMillis() * 1000L
    val bridge = WebSocketBridge.connect("127.0.0.1", server.getLocalPort, "/", feed)
    try {
      await("ws backlog")(GraftFeed.size(feed) == 3L)
      assert(pong.poll(10, java.util.concurrent.TimeUnit.SECONDS) == "hb")

      val got = java.util.Collections.synchronizedList(new java.util.ArrayList[(Long, String)]())
      val phases = new java.util.concurrent.CopyOnWriteArrayList[String]()
      val ckpt = java.nio.file.Files.createTempDirectory("graft-ws-ckpt").toString
      def start(t: Trigger) =
        spark.readStream.format("graft-feed").option("feed", feed).load()
          .selectExpr("unix_micros(ts) AS ts_us", "value")
          .writeStream
          .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
            df.as[(Long, String)].collect().foreach(got.add)
          }
          .option("checkpointLocation", ckpt)
          .trigger(t)
          .start()

      val live = Crossover.run(start, Crossover.Hooks(
          onLiveStart = () => { phases.add(s"live_start:${got.size()}"); () }),
        liveTrigger = Trigger.ProcessingTime("50 milliseconds"))
      try {
        goLive.release()
        await("live row")(GraftFeed.size(feed) == 4L)
        live.processAllAvailable()

        import scala.jdk.CollectionConverters._
        val rows = got.asScala.toVector.sortBy(_._1)
        assert(rows.map(_._2) == Vector(
          "tick 0", "tick 1", "tick 2 " + ("x" * 140), "tick 3"))
        assert(rows.forall(_._1 >= t0Us), "arrival timestamps must be live")
        assert(phases.asScala.toVector == Vector("live_start:3"))
      } finally live.stop()
    } finally { bridge.close(); server.close(); GraftFeed.clear(feed) }
  }

  test("server drop mid-stream: resilient reconnect, ONE continuous query, no loss, no dup") {
    import spark.implicits._
    val feed = "ws-drop-" + System.nanoTime()
    val server = new java.net.ServerSocket(0)
    val goLive = new java.util.concurrent.Semaphore(0)
    val goSecond = new java.util.concurrent.Semaphore(0)

    // Session 1: m0..m2 backlog, then (after handover) m3 — then the
    // socket is KILLED abruptly (no CLOSE frame: a real network drop).
    // Session 2 (same server socket, the reconnect): m3 is RESENT (its
    // delivery was in doubt when the stream died — the at-least-once
    // contract), then m4, m5.
    val serverThread = new Thread(() => {
      val s1 = server.accept()
      val (_, out1) = serveHandshake(s1)
      Seq("m0", "m1", "m2").foreach(sendText(out1, _))
      goLive.acquire()
      sendText(out1, "m3")
      s1.close() // abrupt drop, mid-conversation

      val s2 = server.accept() // the bridge's supervisor reconnecting
      val (_, out2) = serveHandshake(s2)
      Seq("m3", "m4", "m5").foreach(sendText(out2, _)) // m3 = overlap
      goSecond.acquire() // hold the connection until the test is done
      s2.close()
    }, "ws-drop-producer")
    serverThread.setDaemon(true)
    serverThread.start()

    val connects = new java.util.concurrent.CopyOnWriteArrayList[Integer]()
    val bridge = WebSocketBridge.connectResilient(
      "127.0.0.1", server.getLocalPort, "/", feed,
      backoffMs = 50, onConnect = a => { connects.add(a); () })
    try {
      await("ws backlog")(GraftFeed.size(feed) == 3L)

      val got = java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
      val phases = new java.util.concurrent.CopyOnWriteArrayList[String]()
      val ckpt = java.nio.file.Files.createTempDirectory("graft-ws-drop").toString
      // END-TO-END exactly-once = reconnecting bridge (at-least-once
      // into the feed) + first-seen dedup on the message identity (W1)
      def start(t: org.apache.spark.sql.streaming.Trigger) =
        spark.readStream.format("graft-feed").option("feed", feed).load()
          .select($"value")
          .dropDuplicates("value")
          .writeStream
          .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
            df.as[String].collect().foreach(got.add)
          }
          .option("checkpointLocation", ckpt)
          .trigger(t)
          .start()

      // runContinuous: ONE query across backlog, handover, the adapter
      // drop AND the reconnect — the query itself never restarts
      val q = Crossover.runContinuous(start, Crossover.Hooks(
          onLiveStart = () => { phases.add(s"live:${got.size()}"); () }),
        liveTrigger = Trigger.ProcessingTime("50 milliseconds"))
      try {
        await("handover")(phases.size() == 1)
        goLive.release()
        // drop + reconnect + resend happen here; feed sees m3 TWICE
        await("reconnected feed")(GraftFeed.size(feed) == 7L)
        assert(connects.size() == 2, "supervisor must have reconnected exactly once")
        q.processAllAvailable()

        import scala.jdk.CollectionConverters._
        // no loss (m4/m5 arrived only on connection 2), no dup (m3 once)
        assert(got.asScala.toVector.sorted == Vector("m0", "m1", "m2", "m3", "m4", "m5"))
        assert(q.isActive, "the consuming query must have survived the adapter drop")
      } finally q.stop()
    } finally {
      goSecond.release(); bridge.close(); server.close(); GraftFeed.clear(feed)
    }
  }

  test("handshake verification: wrong accept key aborts instead of pumping bytes") {
    val server = new java.net.ServerSocket(0)
    val bad = new Thread(() => {
      val s = server.accept()
      val in = new DataInputStream(s.getInputStream)
      // consume the request up to the \r\n\r\n terminator — and not one
      // byte more, or this blocks while the client waits for the response
      var run = 0
      while (run < 4) {
        val c = in.read()
        run = if (c == -1) 4 else if (c == '\r' || c == '\n') run + 1 else 0
      }
      s.getOutputStream.write(("HTTP/1.1 101 Switching Protocols\r\n" +
        "Sec-WebSocket-Accept: bogus\r\n\r\n").getBytes(StandardCharsets.US_ASCII))
      s.getOutputStream.flush()
    }, "ws-bad-server")
    bad.setDaemon(true)
    bad.start()
    try {
      val e = intercept[java.io.IOException](
        WebSocketBridge.connect("127.0.0.1", server.getLocalPort, "/", "ws-bad"))
      assert(e.getMessage.contains("Sec-WebSocket-Accept"))
      assert(GraftFeed.size("ws-bad") == 0L)
    } finally { server.close(); GraftFeed.clear("ws-bad") }
  }

  test("accept key derivation matches the RFC 6455 §1.3 example") {
    assert(WebSocketBridge.acceptKeyFor("dGhlIHNhbXBsZSBub25jZQ==") ==
      "s3pPLMBiTxaQ9kYGzzhZRbK+xOo=")
  }

  test("64-bit length frames and adversarial fragmentation reassemble losslessly") {
    val feed = "ws-big-" + System.nanoTime()
    val server = new java.net.ServerSocket(0)
    // deterministic messages: one >64 KiB (exercises the 8-byte length
    // path), one fragmented into 1-byte continuations, one empty
    val big = ("m0:" + ("ab" * 40000)) // 80,003 bytes > 65,535
    val frag = "m1:fragmented"
    val serverThread = new Thread(() => {
      val s = server.accept()
      val (_, out) = serveHandshake(s)
      sendText(out, big)
      frame(out, 0x1, Array(frag(0).toByte), fin = false)
      frag.drop(1).dropRight(1).foreach(ch =>
        frame(out, 0x0, Array(ch.toByte), fin = false))
      frame(out, 0x0, Array(frag.last.toByte))
      sendText(out, "")
      sendText(out, "m2:done")
      s.close()
    }, "ws-big-producer")
    serverThread.setDaemon(true)
    serverThread.start()
    val bridge = WebSocketBridge.connect("127.0.0.1", server.getLocalPort, "/", feed)
    try {
      await("all messages")(GraftFeed.size(feed) == 4L)
      val got = FeedRecords(feed, 0L, 4L).map(_._2)
      assert(got == Seq(big, frag, "", "m2:done"))
    } finally { bridge.close(); server.close(); GraftFeed.clear(feed) }
  }
}
