package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The bench's live-path measurement is itself gated: parity between the
  * streaming (GraftFeed → transformWithState/RocksDB) and batch-replay
  * outputs must hold at fixture scale, and a parity failure must zero
  * the reported rate (the driver never reads a wrong-answer number). */
class StreamBenchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("StreamBench: W7+W8 live ≡ batch replay at sf0.001, positive rate, batch latencies recorded") {
    val r = graft.StreamBench.run(spark, "/root/testdata/sf0.001")
    assert(r.parity, "streaming output must fingerprint-match batch replay")
    assert(r.eventsPerSec > 0)
    assert(r.events == 2000L) // 1000 ticks (W7) + 1000 cart ops (W8)
    assert(r.batches >= 2 && r.batchMaxMs >= r.batchAvgMs)
  }

  private def ticks(n: Long) = (0L until n).iterator.map(graft.StreamBench.tickOf)
  private def batchTicks(n: Long) = {
    val sp = spark
    import sp.implicits._
    sp.range(0L, n).map(i => graft.StreamBench.tickOf(i))
  }

  test("drain: an expected batch with one extra row reports parity false with both fingerprints") {
    // tick 1000 is a trade (every 5th tick is), so the batch replay of
    // ticks 0..1000 emits exactly one row more than the stream of 0..999
    val d = graft.StreamBench.asOfDrain(spark, "spec-mismatch", ticks(1000L), batchTicks(1001L))
    assert(!d.parity)
    assert(d.events == 1000L)
    assert(d.stream._1 == 200L, s"stream fingerprint ${d.stream}")
    assert(d.expected._1 == 201L, s"expected fingerprint ${d.expected}")
    assert(d.stream._2 != d.expected._2)
  }

  test("drain: restores every conf it set, empties its feeds, deletes its checkpoint") {
    val provider = "spark.sql.streaming.stateStore.providerClass"
    val partitions = "spark.sql.shuffle.partitions"
    val changelog = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    val extra = "spark.sql.streaming.stateStore.rocksdb.maxMemoryUsageMB"
    val keys = Seq(provider, partitions, changelog, extra)
    val original = keys.map(k => k -> spark.conf.getAll.get(k))
    def restore(kvs: Seq[(String, Option[String])]): Unit = kvs.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    // set before: provider (by TestSpark) and partitions (3, not the
    // drain's 8); unset before: changelog and the caller's extra conf
    restore(Seq(partitions -> Some("3"), changelog -> None, extra -> None))
    try {
      val before = keys.map(k => k -> spark.conf.getAll.get(k))
      assert(before.toMap.apply(provider).isDefined)
      val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
      def ckpts = tmp.listFiles().count(_.getName.startsWith("graft-sbench-spec-cleanup"))
      assert(ckpts == 0)

      val d = graft.StreamBench.asOfDrain(spark, "spec-cleanup", ticks(1000L), batchTicks(1000L),
        extraConfs = Seq(extra -> "64"))
      assert(d.parity)

      assert(keys.map(k => k -> spark.conf.getAll.get(k)) == before)
      // an empty feed hands its next record seq 0
      graft.StreamBench.feedNames("spec-cleanup").foreach { f =>
        assert(graft.sources.GraftFeed.push(f, 0L, "probe") == 0L, s"feed $f not emptied")
        graft.sources.GraftFeed.clear(f)
      }
      assert(ckpts == 0, "drain left its checkpoint directory behind")
    } finally restore(original)
  }

  test("drain: reports every micro-batch when the session keeps only 2 progress reports") {
    val retention = "spark.sql.streaming.numRecentProgressUpdates"
    val original = spark.conf.getAll.get(retention)
    spark.conf.set(retention, "2")
    try {
      val d = graft.StreamBench.asOfDrain(spark, "spec-progress", ticks(1000L), batchTicks(1000L),
        maxPerTrigger = 200L)
      assert(d.parity)
      assert(d.batchMs.size == 5, s"ceil(1000 / 200) input batches, got ${d.batchMs}")
      assert(spark.conf.get(retention) == "2")
    } finally original match {
      case Some(v) => spark.conf.set(retention, v)
      case None => spark.conf.unset(retention)
    }
  }

  test("drain: a restart on the same checkpoint carries state into the second query") {
    val sp = spark
    import sp.implicits._
    def tick(k: Long, seq: Long, kind: String) =
      Machines.MarketTick(k, 1704067200000000L + seq * 1000L, seq, kind, k.toDouble)
    // first input: a quote then a trade per key; restart input: one more
    // trade per key, answered only from the quote the first query stored
    val first = (0L until 100L).flatMap(k => Seq(tick(k, k, "quote"), tick(k, 100L + k, "trade")))
    val again = (0L until 100L).map(k => tick(k, 200L + k, "trade"))
    val d = graft.StreamBench.asOfDrain(spark, "spec-restart", first.iterator,
      (first ++ again).toDS(), restart = again.iterator)
    assert(d.parity, s"stream ${d.stream} vs replay ${d.expected}")
    assert(d.stream._1 == 200L)
    assert(d.phases.map(_.events) == Seq(200L, 100L))
    assert(d.phases(1).batches.exists(b => b.inputRows > 0 && b.stateRows > 0),
      s"restart progress ${d.phases(1).batches}")
  }

  test("drain: input batches report their state commit and state update ms") {
    val d = graft.StreamBench.asOfDrain(spark, "spec-state-layers", ticks(1000L), batchTicks(1000L),
      maxPerTrigger = 200L)
    assert(d.parity)
    val input = d.phases.head.batches.filter(_.inputRows > 0)
    assert(input.size == 5, s"input batches $input")
    assert(input.exists(_.stateCommitMs > 0), s"no input batch set its state commit ms: $input")
    assert(input.exists(_.stateUpdateMs > 0), s"no input batch set its state update ms: $input")
    assert(input.forall(_.planningMs > 0), s"an input batch reported no query planning ms: $input")
  }
}
