package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.streaming.Trigger
import graft.TestSpark
import graft.streaming.Crossover

/** W11: the custom DataSource V2 live adapter — producer pushes into the
  * feed, Spark consumes micro-batches; backlog → live handover via
  * Crossover works on it like on any replayable source. */
class GraftFeedSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val T0 = java.time.Instant.parse("2020-01-01T00:00:00Z").toEpochMilli * 1000L

  test("graft-feed: backlog drains, live pushes continue, offsets are exact") {
    import spark.implicits._
    val feed = "quotes-" + System.nanoTime()
    // past backlog from the "exchange connection"
    GraftFeed.push(feed, T0 + 1000000L, "bid 100.0")
    GraftFeed.push(feed, T0 + 2000000L, "ask 100.5")
    GraftFeed.push(feed, T0 + 3000000L, "bid 100.1")

    val got = java.util.Collections.synchronizedList(new java.util.ArrayList[(Long, String, Long)]())
    val phases = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val ckpt = java.nio.file.Files.createTempDirectory("graft-feed-ckpt").toString

    def start(t: Trigger) =
      spark.readStream.format("graft-feed").option("feed", feed).load()
        .selectExpr("unix_micros(ts) AS ts_us", "value", "seq")
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.as[(Long, String, Long)].collect().foreach(got.add)
        }
        .option("checkpointLocation", ckpt)
        .trigger(t)
        .start()

    val live = Crossover.run(start, Crossover.Hooks(
        onLiveStart = () => { phases.add(s"live_start:${got.size()}"); () }),
      liveTrigger = Trigger.ProcessingTime("100 milliseconds"))
    try {
      GraftFeed.push(feed, T0 + 4000000L, "trade 100.2") // live arrival
      live.processAllAvailable()

      import scala.jdk.CollectionConverters._
      val rows = got.asScala.toVector.sortBy(_._3)
      assert(rows.map(_._2) == Vector("bid 100.0", "ask 100.5", "bid 100.1", "trade 100.2"))
      assert(rows.map(_._1) == Vector(1, 2, 3, 4).map(k => T0 + k * 1000000L))
      assert(rows.map(_._3) == Vector(0L, 1L, 2L, 3L)) // exact offsets, no dup/loss
      assert(phases.asScala.toVector == Vector("live_start:3")) // backlog fully drained at boundary
    } finally { live.stop(); GraftFeed.clear(feed) }
  }

  test("graft-feed sharded: N feeds = one table, vector offsets, per-shard partitions") {
    import spark.implicits._
    val a = "sharda-" + System.nanoTime()
    val b = "shardb-" + System.nanoTime()
    GraftFeed.push(a, T0 + 1000000L, "a0")
    GraftFeed.push(a, T0 + 2000000L, "a1")
    GraftFeed.push(b, T0 + 1500000L, "b0")

    val got = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(Long, String, Long, String)]())
    val ckpt = java.nio.file.Files.createTempDirectory("graft-shard-ckpt").toString
    val q = spark.readStream.format("graft-feed").option("shards", s"$a, $b").load()
      .selectExpr("unix_micros(ts) AS ts_us", "value", "seq", "shard")
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        // each micro-batch must carry one RDD partition per advanced shard
        assert(df.rdd.getNumPartitions <= 2)
        df.as[(Long, String, Long, String)].collect().foreach(got.add)
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime("50 milliseconds"))
      .start()
    try {
      q.processAllAvailable()
      GraftFeed.push(b, T0 + 3000000L, "b1") // only shard b advances
      q.processAllAvailable()

      import scala.jdk.CollectionConverters._
      val rows = got.asScala.toVector.sortBy(r => (r._4, r._3))
      assert(rows.map(r => (r._2, r._4)) ==
        Vector(("a0", a), ("a1", a), ("b0", b), ("b1", b)))
      assert(rows.collect { case (_, _, seq, s) if s == b => seq } == Vector(0L, 1L))
      // the checkpointed offset carries shard IDENTITY, not position
      import java.nio.file.{Files, Paths}
      val offDir = Paths.get(s"$ckpt/offsets")
      val newest = Files.list(offDir).iterator().asScala.toSeq
        .filter(p => p.getFileName.toString.forall(_.isDigit)).maxBy(_.getFileName.toString.toInt)
      val lastLine = Files.readAllLines(newest).asScala.last
      assert(lastLine == s"""{"$a":2,"$b":2}""", s"offset line was $lastLine")
    } finally { q.stop(); GraftFeed.clear(a); GraftFeed.clear(b) }
  }

  test("offset restore: names are validated; legacy forms stay readable") {
    val s = new GraftFeedStream(Seq("x", "y"), sharded = true, retention = Long.MaxValue)
    // round-trip of the named form, independent of option order
    assert(s.deserializeOffset("""{"y":3,"x":2}""").asInstanceOf[GraftFeedOffset]
      .counts == Seq("x" -> 2L, "y" -> 3L))
    // renamed/resized shard set fails fast instead of misassigning counts
    val e1 = intercept[IllegalStateException](s.deserializeOffset("""{"x":2,"z":3}"""))
    assert(e1.getMessage.contains("do not match configured shards"))
    // legacy positional vector: readable at matching arity, rejected otherwise
    assert(s.deserializeOffset("[4,5]").asInstanceOf[GraftFeedOffset]
      .counts == Seq("x" -> 4L, "y" -> 5L))
    val e2 = intercept[IllegalStateException](s.deserializeOffset("[4,5,6]"))
    assert(e2.getMessage.contains("cannot be assigned by position"))
    // single-feed scalar form
    val s1 = new GraftFeedStream(Seq("f"), sharded = false, retention = Long.MaxValue)
    assert(s1.deserializeOffset("7").asInstanceOf[GraftFeedOffset].counts == Seq("f" -> 7L))
  }

  test("retention bounds the buffer: commits trim behind the offset") {
    import spark.implicits._
    val feed = "bounded-" + System.nanoTime()
    val total = 500
    val retention = 20
    (0 until 100).foreach(k => GraftFeed.push(feed, T0 + k * 1000L, s"m$k"))

    val got = java.util.Collections.synchronizedList(new java.util.ArrayList[Long]())
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ret-ckpt").toString
    val q = spark.readStream.format("graft-feed")
      .option("feed", feed).option("retention", retention.toString).load()
      .selectExpr("seq")
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.as[Long].collect().foreach(v => got.add(v))
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime("20 milliseconds"))
      .start()
    try {
      q.processAllAvailable()
      (100 until total).foreach { k => // keep producing far past retention
        GraftFeed.push(feed, T0 + k * 1000L, s"m$k")
        if (k % 100 == 0) q.processAllAvailable()
      }
      q.processAllAvailable()
      // source.commit lags one micro-batch (it fires when the NEXT batch
      // is constructed): push a sentinel so the tail batch commits too
      GraftFeed.push(feed, T0 + total * 1000L, "sentinel")
      q.processAllAvailable()

      import scala.jdk.CollectionConverters._
      // no record lost or duplicated even as the tail is trimmed…
      assert(got.asScala.toVector.sorted == (0L to total.toLong).toVector)
      // …and the in-memory window stayed bounded: retention + the final
      // not-yet-committed batch (1 sentinel record here) — NOT the 501
      // records pushed
      assert(GraftFeed.retained(feed) <= retention + 1,
        s"retained ${GraftFeed.retained(feed)} > $retention + 1")
      // reading below the trim point is a loud error, not silence
      val e = intercept[IllegalStateException](GraftFeed.packedRange(feed, 0L, 5L))
      assert(e.getMessage.contains("trimmed"))
    } finally { q.stop(); GraftFeed.clear(feed) }
  }

  test("maxPerTrigger: AvailableNow drains the backlog in bounded micro-batches") {
    import spark.implicits._
    val feed = "paced-" + System.nanoTime()
    (0 until 10).foreach(k => GraftFeed.push(feed, T0 + k * 1000L, s"m$k"))

    val batches = java.util.Collections.synchronizedList(new java.util.ArrayList[Int]())
    val got = java.util.Collections.synchronizedList(new java.util.ArrayList[Long]())
    val ckpt = java.nio.file.Files.createTempDirectory("graft-paced-ckpt").toString
    val q = spark.readStream.format("graft-feed")
      .option("feed", feed).option("maxPerTrigger", "3").load()
      .selectExpr("seq")
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = df.as[Long].collect()
        batches.add(rows.length)
        rows.foreach(got.add)
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    try {
      assert(q.awaitTermination(60000), "AvailableNow drain did not terminate")
      import scala.jdk.CollectionConverters._
      // every record exactly once, no batch over the cap, and the drain
      // really was incremental (ceil(10/3) = 4 non-empty batches) — not
      // the single-giant-batch fallback
      assert(got.asScala.toVector.sorted == (0L until 10L).toVector)
      assert(batches.asScala.forall(_ <= 3), s"batch sizes ${batches.asScala}")
      assert(batches.asScala.count(_ > 0) == 4, s"batch sizes ${batches.asScala}")
    } finally { GraftFeed.clear(feed) }
  }

  test("admission control spreads the cap across shards; reported head stays honest") {
    val a = "cap-a-" + System.nanoTime()
    val b = "cap-b-" + System.nanoTime()
    try {
      (0 until 5).foreach(k => GraftFeed.push(a, T0 + k, s"a$k"))
      (0 until 4).foreach(k => GraftFeed.push(b, T0 + k, s"b$k"))
      val s = new GraftFeedStream(Seq(a, b), sharded = true,
        retention = Long.MaxValue, maxPerTrigger = 4)
      def next(o: org.apache.spark.sql.connector.read.streaming.Offset) =
        s.latestOffset(o, s.getDefaultReadLimit).asInstanceOf[GraftFeedOffset]
      // proportional to lag (the Kafka split): lags (5,4), cap 4 →
      // floors (⌊20/9⌋,⌊16/9⌋) = (2,1), remainder 1 → first shard
      val o1 = next(s.initialOffset())
      assert(o1.counts == Seq(a -> 3L, b -> 1L))
      // lags now (2,3) → floors (⌊8/5⌋,⌊12/5⌋) = (1,2), remainder 1 → a
      val o2 = next(o1)
      assert(o2.counts == Seq(a -> 5L, b -> 3L))
      val o3 = next(o2)
      assert(o3.counts == Seq(a -> 5L, b -> 4L)) // drained within finitely many batches
      // the capped plan never hides the true backlog from progress metrics
      assert(s.reportLatestOffset().asInstanceOf[GraftFeedOffset].counts ==
        Seq(a -> 5L, b -> 4L))
    } finally { GraftFeed.clear(a); GraftFeed.clear(b) }
  }

  test("planInputPartitions: a repeated range returns the same partitions and broadcast") {
    spark // the broadcast belongs to the active session
    val a = "plan-a-" + System.nanoTime()
    val b = "plan-b-" + System.nanoTime()
    try {
      (0 until 3).foreach(k => GraftFeed.push(a, T0 + k, s"a$k"))
      (0 until 2).foreach(k => GraftFeed.push(b, T0 + k, s"b$k"))
      val s = new GraftFeedStream(Seq(a, b), sharded = true, retention = Long.MaxValue)
      def ids(ps: Array[InputPartition]) =
        ps.map(_.asInstanceOf[GraftFeedPartition].batch.id).distinct.toSeq
      val start = s.initialOffset()
      val end = s.latestOffset()
      val first = s.planInputPartitions(start, end)
      // Spark re-plans with equal offsets, not necessarily the same objects
      val again = s.planInputPartitions(start, s.deserializeOffset(end.json()))
      assert(first.length == 2)
      assert(again.sameElements(first))
      assert(ids(first).size == 1 && ids(again) == ids(first))
      GraftFeed.push(a, T0 + 3, "a3")
      val later = s.planInputPartitions(start, s.latestOffset())
      assert(ids(later).size == 1 && ids(later) != ids(first))
      s.stop()
    } finally { GraftFeed.clear(a); GraftFeed.clear(b) }
  }

  test("packed rows round-trip exactly: UTF-8, empty, commas, newline, pre-1970 and µs stamps") {
    import spark.implicits._
    val values = Seq("€ 1,5 — 日本", "", "a,b,,c", "line1\nline2", "plain", "\uD83D\uDE00 astral")
    val stamps = Seq(-86400000001L, T0 + 1L, T0 + 999999L, -1L, 0L, T0 + 123456789L)
    def drained[T: org.apache.spark.sql.Encoder](opts: Map[String, String], cols: String*): Seq[T] = {
      val table = "packed_" + System.nanoTime()
      val ckpt = java.nio.file.Files.createTempDirectory("graft-packed-ckpt").toString
      val q = spark.readStream.format("graft-feed").options(opts)
        .option("maxPerTrigger", "4").load()
        .selectExpr(cols: _*)
        .writeStream.format("memory").queryName(table)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      try assert(q.awaitTermination(60000), "AvailableNow drain did not terminate")
      finally q.stop()
      spark.table(table).as[T].collect().toSeq
    }

    val feed = "packed-" + System.nanoTime()
    try {
      stamps.zip(values).foreach { case (ts, v) => GraftFeed.push(feed, ts, v) }
      val got = drained[(Long, String, Long)](Map("feed" -> feed), "unix_micros(ts)", "value", "seq")
      assert(got.sortBy(_._3) == stamps.zip(values).zipWithIndex.map { case ((ts, v), i) =>
        (ts, v, i.toLong) })
    } finally GraftFeed.clear(feed)

    val a = "packed-a-" + System.nanoTime()
    val b = "packed-b-" + System.nanoTime()
    try {
      val pushed = stamps.zip(values).zipWithIndex.map { case ((ts, v), i) =>
        val shard = if (i % 2 == 0) a else b
        (ts, v, GraftFeed.push(shard, ts, v), shard)
      }
      val got = drained[(Long, String, Long, String)](Map("shards" -> s"$a,$b"),
        "unix_micros(ts)", "value", "seq", "shard")
      assert(got.sortBy(r => (r._4, r._3)) == pushed.sortBy(r => (r._4, r._3)))
    } finally { GraftFeed.clear(a); GraftFeed.clear(b) }
  }

  test("packing: a shard batch past one array's size fails naming maxPerTrigger") {
    assert(GraftFeed.packedSize("s", 2, 10L) == 2 * 20 + 10)
    // over the limit, and past 2^32 where an Int size would wrap to 10
    Seq(Int.MaxValue.toLong, (1L << 32) + 10L).foreach { bytes =>
      val e = intercept[IllegalStateException](GraftFeed.packedSize("s", 3, bytes))
      assert(e.getMessage.contains("maxPerTrigger"), e.getMessage)
    }
  }

  /** The packed layout a micro-batch ships, written independently of
    * the feed: per record `tsUs`, `seq`, UTF-8 length, UTF-8 bytes,
    * big-endian. */
  private def encode(recs: Seq[(Long, String, Long)]): Array[Byte] = {
    val utf8 = recs.map(_._2.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val b = java.nio.ByteBuffer.allocate(recs.size * 20 + utf8.map(_.length).sum)
    recs.zip(utf8).foreach { case ((ts, _, seq), u) =>
      b.putLong(ts).putLong(seq).putInt(u.length).put(u) }
    b.array()
  }

  /** Pushes record 0, one value over the chunk cap, then small values of
    * every UTF-8 width until the feed has `chunks` chunks and `tail` more
    * records; returns every pushed `(tsUs, value, seq)`. */
  private def pushChunks(feed: String, chunks: Int, tail: Int): Vector[(Long, String, Long)] = {
    val small = Vector[Int => String](k => s"plain $k", k => s"€ 1,5 — 日本 $k",
      k => "\uD83D\uDE00 astral " + k, _ => "")
    val big = "x" * (GraftFeed.ChunkCap + 1000)
    val pushed = Vector.newBuilder[(Long, String, Long)]
    var k = 0
    def pushOne(): Unit = {
      val v = if (k == 1) big else small(k % small.size)(k)
      val ts = T0 - 5000L + k * 7L
      pushed += ((ts, v, GraftFeed.push(feed, ts, v)))
      k += 1
    }
    while (GraftFeed.chunkStarts(feed).size < chunks) pushOne()
    (0 until tail).foreach(_ => pushOne())
    pushed.result()
  }

  test("chunk edges are invisible: every range packs as the reference layout and reads back") {
    val feed = "chunks-" + System.nanoTime()
    try {
      val pushed = pushChunks(feed, chunks = 5, tail = 3)
      val n = pushed.size.toLong
      assert(pushed.map(_._3) == (0L until n))
      val starts = GraftFeed.chunkStarts(feed)
      // the oversized value has a chunk of its own; four more edges follow
      assert(starts.take(3) == Seq(0L, 1L, 2L) && starts.size == 5, starts)
      val edges = starts.tail
      val bounds = (edges.flatMap(e => Seq(e - 1, e, e + 1)) ++ Seq(0L, n)).distinct.sorted
      for (from <- bounds; until <- bounds if from <= until) {
        val want = pushed.slice(from.toInt, until.toInt)
        assert(GraftFeed.packedRange(feed, from, until).sameElements(encode(want)),
          s"bytes of [$from, $until)")
        assert(FeedRecords(feed, from, until) == want, s"records of [$from, $until)")
      }
    } finally GraftFeed.clear(feed)
  }

  test("trim is record-exact and frees whole chunks; clear restarts at seq 0") {
    val feed = "trim-" + System.nanoTime()
    try {
      val pushed = pushChunks(feed, chunks = 5, tail = 40)
      val n = pushed.size.toLong
      val starts = GraftFeed.chunkStarts(feed)
      val mid = (starts(3) + starts(4)) / 2
      GraftFeed.trimTo(feed, mid)
      assert(GraftFeed.retained(feed) == n - mid)
      // the chunks wholly below the trim point (the oversized one among
      // them) are freed; the one it cuts through stays
      assert(GraftFeed.chunkStarts(feed) == starts.drop(3))
      // besides the window, the chunks hold the trimmed head of the oldest
      // (under one chunk) and the unwritten tail of the newest, which is
      // room for the next pushes, not trimmed records
      val window = encode(pushed.drop(mid.toInt))
      val newestFree = GraftFeed.ChunkCap - encode(pushed.drop(starts.last.toInt)).length
      assert(GraftFeed.retainedBytes(feed) - newestFree <= window.length + GraftFeed.ChunkCap,
        s"${GraftFeed.retainedBytes(feed)} bytes held for a ${window.length}-byte window")
      val e = intercept[IllegalStateException](GraftFeed.packedRange(feed, mid - 1, n))
      assert(e.getMessage.contains("trimmed"))
      assert(GraftFeed.packedRange(feed, mid, n).sameElements(window))
      assert(GraftFeed.push(feed, T0, "after trim") == n)
      assert(GraftFeed.size(feed) == n + 1)
      // a trim point past the head stops at the next seq: no gap
      GraftFeed.trimTo(feed, n + 100)
      assert(GraftFeed.retained(feed) == 0 && GraftFeed.retainedBytes(feed) == 0L)
      assert(GraftFeed.push(feed, T0, "after full trim") == n + 1)
      GraftFeed.clear(feed)
      assert(GraftFeed.chunkStarts(feed).isEmpty && GraftFeed.retainedBytes(feed) == 0L)
      assert(GraftFeed.size(feed) == 0L && GraftFeed.push(feed, T0, "fresh") == 0L)
    } finally GraftFeed.clear(feed)
  }

  test("footprint: bench-shaped records hold at most 60 B each; an empty feed holds no chunk") {
    val tag = System.nanoTime()
    val shards = (0 until 8).map(i => s"foot-$i-$tag")
    try {
      assert(GraftFeed.chunkStarts(shards.head).isEmpty && GraftFeed.retainedBytes(shards.head) == 0L)
      // perfbench live-handover's records: `uid,seq,kind,value` over 8 shards
      val rnd = new java.util.SplittableRandom(41)
      val total = 250000
      (0 until total).foreach { i =>
        val uid = rnd.nextInt(20000)
        val kind = if (rnd.nextInt(5) == 0) "trade" else "quote"
        GraftFeed.push(shards(uid % 8), T0 + i * 250L, s"$uid,$i,$kind,${rnd.nextInt(1000).toDouble}")
      }
      val held = shards.map(GraftFeed.retainedBytes).sum
      assert(held <= 60L * total, f"${held.toDouble / total}%.1f B/record")
    } finally shards.foreach(GraftFeed.clear)
  }

  test("sharded feed composes with Crossover: both backlogs drain before on_live_start") {
    import spark.implicits._
    val a = "xa-" + System.nanoTime()
    val b = "xb-" + System.nanoTime()
    GraftFeed.push(a, T0 + 1000000L, "a0")
    GraftFeed.push(b, T0 + 2000000L, "b0")
    GraftFeed.push(b, T0 + 3000000L, "b1")

    val got = java.util.Collections.synchronizedList(new java.util.ArrayList[(String, String)]())
    val phases = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val ckpt = java.nio.file.Files.createTempDirectory("graft-xshard-ckpt").toString
    def start(t: Trigger) =
      spark.readStream.format("graft-feed").option("shards", s"$a,$b").load()
        .selectExpr("value", "shard")
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.as[(String, String)].collect().foreach(got.add)
        }
        .option("checkpointLocation", ckpt)
        .trigger(t)
        .start()
    val live = Crossover.run(start, Crossover.Hooks(
        onLiveStart = () => { phases.add(s"live_start:${got.size()}"); () }),
      liveTrigger = Trigger.ProcessingTime("100 milliseconds"))
    try {
      GraftFeed.push(a, T0 + 4000000L, "a1") // live arrival on shard a only
      live.processAllAvailable()
      import scala.jdk.CollectionConverters._
      val rows = got.asScala.toVector.sorted
      assert(rows == Vector(("a0", a), ("a1", a), ("b0", b), ("b1", b)))
      assert(phases.asScala.toVector == Vector("live_start:3")) // ALL shards drained at handover
    } finally { live.stop(); GraftFeed.clear(a); GraftFeed.clear(b) }
  }

  test("external socket producer → bridge → streaming query, with crossover handover") {
    import spark.implicits._
    val feed = "sock-" + System.nanoTime()

    // the external process of the reference demo (websocket_server.py:5-9):
    // a line-oriented socket server emitting a backlog, then a live message
    val server = new java.net.ServerSocket(0)
    val goLive = new java.util.concurrent.Semaphore(0)
    val serverThread = new Thread(() => {
      val s = server.accept()
      val out = new java.io.PrintWriter(new java.io.OutputStreamWriter(
        s.getOutputStream, java.nio.charset.StandardCharsets.UTF_8), true)
      (0 until 3).foreach(k => out.println(s"tick $k"))
      goLive.acquire() // hold the live message until the handover completed
      out.println("tick 3")
      out.flush()
      s.close()
    }, "socket-producer")
    serverThread.setDaemon(true)
    serverThread.start()

    def await(what: String)(cond: => Boolean): Unit = {
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!cond) {
        if (System.nanoTime() > deadline) fail(s"timed out waiting for $what")
        Thread.sleep(20)
      }
    }

    val t0Us = System.currentTimeMillis() * 1000L
    // the reference client (e1_websocket_client.py:10-18): connect, stamp
    // each message with its arrival time, feed the engine
    val bridge = SocketBridge.connect("127.0.0.1", server.getLocalPort, feed)
    try {
      await("socket backlog")(GraftFeed.size(feed) == 3L)

      val got = java.util.Collections.synchronizedList(new java.util.ArrayList[(Long, String)]())
      val phases = new java.util.concurrent.CopyOnWriteArrayList[String]()
      val ckpt = java.nio.file.Files.createTempDirectory("graft-sock-ckpt").toString
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
        goLive.release() // external producer emits the live message
        await("live row")(GraftFeed.size(feed) == 4L)
        live.processAllAvailable()

        import scala.jdk.CollectionConverters._
        val rows = got.asScala.toVector.sortBy(_._1)
        assert(rows.map(_._2) == Vector("tick 0", "tick 1", "tick 2", "tick 3"))
        assert(rows.forall(_._1 >= t0Us), "arrival timestamps must be live")
        assert(phases.asScala.toVector == Vector("live_start:3"))
      } finally live.stop()
    } finally { bridge.close(); server.close(); GraftFeed.clear(feed) }
  }
}
