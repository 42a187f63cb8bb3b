package graft.streaming

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInput, DataOutput, ObjectInputStream,
  ObjectOutputStream}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.TestSpark
import Machines.{AsOfMachine, AsOfRow, MarketTick}

/** Fixtures for the state-evolution spec — all top-level so java
  * serialization sees stable, outer-reference-free classes. */
private[streaming] object EvoFixtures {
  val T0 = 1704067200000000L
  case class Ev(user_id: Long, ts_us: Long, seq: Long)
  case class EvoRow(user_id: Long, ts_us: Long, n: Long, bonus: Long)

  // ---- the recommended migration pattern: versioned state classes ----
  // A machine's state lives in explicit version classes; an old version
  // is never deleted — it keeps a readResolve() into the current one,
  // so blobs written by any past deploy restore into today's layout at
  // deserialization time (added fields get the defaults readResolve
  // chooses). This is the evolution path AspStream documents.
  sealed trait CtrState extends Serializable
  @SerialVersionUID(1L)
  case class CtrV1(n: Long) extends CtrState {
    private def readResolve(): Object = CtrV2(n, bonus = 0L)
  }
  @SerialVersionUID(2L)
  case class CtrV2(n: Long, bonus: Long) extends CtrState

  /** Counts events per key. `legacyLayout` stands in for the OLD deploy:
    * it persists state as CtrV1 (no bonus field), exactly what a
    * pre-evolution binary would have checkpointed. */
  @SerialVersionUID(1L)
  class EvoMachine(uid: Long, legacyLayout: Boolean)
      extends KeyedStateMachine[Long, Ev, EvoRow] {
    private var st: CtrState = CtrV2(0L, 0L)
    def onEvent(ts: Long, e: Ev, ctx: ReplayCtx[EvoRow]): Unit = {
      val cur = st match { case v2: CtrV2 => v2; case CtrV1(n) => CtrV2(n, 0L) }
      val nxt = CtrV2(cur.n + 1, cur.bonus)
      st = if (legacyLayout) CtrV1(nxt.n) else nxt
      ctx.emit(EvoRow(uid, ts, nxt.n, nxt.bonus))
    }
  }

  // ---- compact state evolution: the reader leads with its own version
  // byte and reads every older version ----
  /** Counts events per key. Version 1 of its state was the count alone;
    * version 2 added `bonus`. `writeV1` stands in for the OLD deploy,
    * which wrote version 1; the reader is the NEW deploy's and reads
    * both, giving `bonus` its default for version-1 bytes. */
  class CompactEvoMachine(uid: Long, writeV1: Boolean)
      extends KeyedStateMachine[Long, Ev, EvoRow] with CompactState {
    private var n = 0L
    private var bonus = 0L
    def onEvent(ts: Long, e: Ev, ctx: ReplayCtx[EvoRow]): Unit = {
      n += 1
      ctx.emit(EvoRow(uid, ts, n, bonus))
    }
    def writeState(out: DataOutput): Unit =
      if (writeV1) { out.writeByte(1); out.writeLong(n) }
      else { out.writeByte(2); out.writeLong(n); out.writeLong(bonus) }
    def readState(in: DataInput): Unit = CompactState.readVersion(in, this, 2) match {
      case 1 => n = in.readLong(); bonus = 0L
      case _ => n = in.readLong(); bonus = in.readLong()
    }
  }

  /** The previous release's AsOfMachine blob: not [[CompactState]], so
    * `AspStream` java-serializes it (layout 1), and `writeReplace` puts a
    * real `Machines.AsOfMachine` with the same state in the stream —
    * byte for byte what that release wrote (checked against the
    * committed fixture). It restores as an `AsOfMachine`. */
  class LegacyAsOf(uid: Long) extends KeyedStateMachine[Long, MarketTick, AsOfRow] {
    private val inner = new AsOfMachine(uid)
    def onEvent(ts: Long, e: MarketTick, ctx: ReplayCtx[AsOfRow]): Unit = inner.onEvent(ts, e, ctx)
    private def writeReplace(): Object = inner
  }

  // ---- raw java-serialization evolution matrix (the machine-class
  // case: same class NAME recompiled with an added field) ----
  @SerialVersionUID(7L)
  class PinnedV1(var n: Long) extends Serializable
  @SerialVersionUID(7L)
  class PinnedV2(var n: Long, var bonus: Long) extends Serializable
  class UnpinnedV1(var n: Long) extends Serializable
  class UnpinnedV2(var n: Long, var extra: Long) extends Serializable
}

/** VERDICT r7 #7: a live deployment restarts checkpointed machine state
  * against NEW code. AspStream state is java-serialized machine blobs,
  * so the evolution contract is java serialization's — pinned here so
  * it is a documented support matrix, not an accident:
  *
  *  1. **Supported, transparent**: a machine class that pins
  *     `serialVersionUID` and ADDS a field — old blobs restore with the
  *     new field at its JVM default (verified through the real
  *     serialization machinery below).
  *  2. **Supported, recommended**: explicit versioned state classes
  *     with `readResolve` migration (old version kept as a tombstone) —
  *     verified END-TO-END: checkpoint written in the V1 layout, query
  *     restarted on the V2 layout, stream resumes, counts continue,
  *     results parity-true vs uninterrupted batch replay.
  *  3. **Unsupported, LOUD**: evolving a class without a pinned
  *     serialVersionUID throws `InvalidClassException` at restore — the
  *     stream FAILS rather than silently corrupting state. (Removing or
  *     retyping fields is likewise unsupported; same loud failure
  *     class.)
  */
class StateEvolutionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import EvoFixtures._

  private def ser(o: Any): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val oos = new ObjectOutputStream(bos)
    oos.writeObject(o); oos.close(); bos.toByteArray
  }
  private def deser(bytes: Array[Byte]): Any = {
    val ois = new ObjectInputStream(new ByteArrayInputStream(bytes))
    val r = ois.readObject(); ois.close(); r
  }
  /** Produce the stream an OLD binary would have checkpointed for the
    * NEW class name: in production the name is identical and only the
    * bytecode changed, but one JVM can't hold two versions of one name
    * — so the spec serializes the old-layout class and rewrites its
    * (equal-length) name in the stream's class descriptor. The result
    * is byte-for-byte what a pre-evolution deploy wrote: new name, old
    * field list, old serialVersionUID. */
  private def asOldStreamOf(bytes: Array[Byte], from: Class[_], to: Class[_]): Array[Byte] = {
    val f = from.getName.getBytes("UTF-8")
    val t = to.getName.getBytes("UTF-8")
    require(f.length == t.length, "rename simulation needs equal-length names")
    val out = bytes.clone()
    var i = 0
    while (i <= out.length - f.length) {
      if (out.startsWith(f, i)) { System.arraycopy(t, 0, out, i, t.length); i += f.length }
      else i += 1
    }
    out
  }

  test("pinned serialVersionUID + added field: old blob restores, new field at default") {
    val restored = deser(asOldStreamOf(ser(new PinnedV1(41L)),
      classOf[PinnedV1], classOf[PinnedV2])).asInstanceOf[PinnedV2]
    assert(restored.n == 41L)
    assert(restored.bonus == 0L, "added field must restore to its JVM default")
  }

  test("unpinned serialVersionUID evolution fails LOUDLY, never silently corrupts") {
    val e = intercept[java.io.InvalidClassException] {
      deser(asOldStreamOf(ser(new UnpinnedV1(41L)),
        classOf[UnpinnedV1], classOf[UnpinnedV2]))
    }
    assert(e.getMessage.contains("serialVersionUID"))
  }

  /** Streams `deploys` through ONE RocksDB checkpoint: one query per
    * deploy, each with its own factory, fed its batches one micro-batch
    * each. Returns every emitted row. */
  private def runDeploys[I: Encoder, O: Encoder](key: I => Long, ts: I => Long, tie: I => Long)(
      deploys: (Long => KeyedStateMachine[Long, I, O], Seq[Seq[I]])*): Seq[O] = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    implicit val keyEnc: Encoder[Long] = Encoders.scalaLong
    val mem = MemoryStream[I]
    val got = java.util.Collections.synchronizedList(new java.util.ArrayList[O]())
    val ckpt = java.nio.file.Files.createTempDirectory("graft-evo").toString
    for ((factory, batches) <- deploys) {
      val withWm = mem.toDS().toDF()
        .withColumn("ts", timestamp_micros(col("ts_us")))
        .withWatermark("ts", "0 seconds")
        .as[I]
      val q = AspStream.run(withWm)(key, ts, tie)(factory)
        .writeStream
        .foreachBatch { (ds: Dataset[O], _: Long) => ds.collect().foreach(got.add); () }
        .option("checkpointLocation", ckpt).outputMode("append").start()
      try batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() } finally q.stop()
    }
    import scala.jdk.CollectionConverters._
    got.asScala.toSeq
  }

  test("checkpointed V1-layout state restarts under V2 code: stream resumes, parity-true") {
    val sp = spark
    import sp.implicits._
    val s = 1000000L
    val phase1 = Seq(Ev(1, T0, 1), Ev(1, T0 + 1 * s, 2), Ev(2, T0 + 1 * s, 3))
    val phase2 = Seq(Ev(1, T0 + 2 * s, 4), Ev(2, T0 + 3 * s, 5))
    // old deploy: machines persist CtrV1 (no bonus field) into RocksDB;
    // new deploy: same checkpoint, V2-layout code; readResolve migrates
    val streamed = runDeploys[Ev, EvoRow](_.user_id, _.ts_us, _.seq)(
      (uid => new EvoMachine(uid, legacyLayout = true), Seq(phase1)),
      (uid => new EvoMachine(uid, legacyLayout = false), Seq(phase2)))
      .sortBy(r => (r.user_id, r.ts_us))
    // counts CONTINUE across the layout change (no reset, no corruption)
    assert(streamed.filter(_.user_id == 1).map(_.n) == Seq(1, 2, 3))
    assert(streamed.filter(_.user_id == 2).map(_.n) == Seq(1, 2))
    // the added field restored at readResolve's default everywhere
    assert(streamed.forall(_.bonus == 0L))
    // parity with an uninterrupted batch replay of the same events
    val batch = Replay.run(sp.createDataset(phase1 ++ phase2),
        "user_id", "ts_us", "seq", Some(T0))(_.user_id, _.ts_us)(
        uid => new EvoMachine(uid, legacyLayout = false))
      .collect().toSeq.sortBy(r => (r.user_id, r.ts_us))
    assert(streamed == batch)
  }

  test("a compact machine's v2 reader resumes a checkpoint of v1 bytes: counts continue, parity-true") {
    val sp = spark
    import sp.implicits._
    val s = 1000000L
    val phase1 = Seq(Seq(Ev(1, T0, 1), Ev(2, T0, 2)), Seq(Ev(1, T0 + 1 * s, 3)))
    val phase2 = Seq(Seq(Ev(1, T0 + 2 * s, 4), Ev(2, T0 + 2 * s, 5)), Seq(Ev(2, T0 + 3 * s, 6)))
    val streamed = runDeploys[Ev, EvoRow](_.user_id, _.ts_us, _.seq)(
      (uid => new CompactEvoMachine(uid, writeV1 = true), phase1),
      (uid => new CompactEvoMachine(uid, writeV1 = false), phase2))
      .sortBy(r => (r.user_id, r.ts_us))
    assert(streamed.filter(_.user_id == 1).map(_.n) == Seq(1, 2, 3))
    assert(streamed.filter(_.user_id == 2).map(_.n) == Seq(1, 2, 3))
    val batch = Replay.run(sp.createDataset(phase1.flatten ++ phase2.flatten),
        "user_id", "ts_us", "seq", Some(T0))(_.user_id, _.ts_us)(
        uid => new CompactEvoMachine(uid, writeV1 = false))
      .collect().toSeq.sortBy(r => (r.user_id, r.ts_us))
    assert(streamed == batch)
  }

  test("AsOfMachine state stored as layout 1 resumes under the compact codec, parity-true") {
    val sp = spark
    import sp.implicits._
    // the stand-in writes exactly the previous release's layout-1 blob
    val legacy = new LegacyAsOf(7L)
    legacy.onEvent(1L, MarketTick(7L, 1L, 1L, "quote", 1.5), new ReplayCtx[AsOfRow](0L))
    val fixture = {
      val in = getClass.getResourceAsStream("/graft/streaming/asof-layout1.bin")
      try in.readAllBytes() finally in.close()
    }
    assert(AspStream.encode(legacy, Vector((1704067200123457L, "expire")), 1704067200000001L)
      .sameElements(fixture))
    val s = 1000000L
    def tick(u: Long, t: Long, seq: Long, kind: String, v: Double) = MarketTick(u, T0 + t * s, seq, kind, v)
    // one micro-batch under the old codec, so every key is stored as layout 1
    val phase1 = Seq(Seq(tick(1, 0, 1, "quote", 1.0), tick(2, 0, 2, "quote", 2.0),
      tick(1, 1, 3, "trade", 10.0), tick(3, 1, 4, "trade", 30.0)))
    // the first batch restores layout 1 and writes compact, the second reads compact
    val phase2 = Seq(
      Seq(tick(1, 2, 5, "trade", 11.0), tick(2, 2, 6, "trade", 20.0), tick(3, 2, 7, "quote", 3.0)),
      Seq(tick(1, 3, 8, "quote", 1.1), tick(1, 3, 9, "trade", 12.0), tick(2, 4, 10, "trade", 21.0),
        tick(3, 4, 11, "trade", 31.0)))
    val streamed = runDeploys[MarketTick, AsOfRow](_.user_id, _.ts_us, _.seq)(
      (uid => new LegacyAsOf(uid), phase1),
      (uid => new AsOfMachine(uid), phase2))
      .sortBy(r => (r.user_id, r.ts_us))
    assert(streamed.map(_.quote_value) ==
      Seq(Some(1.0), Some(1.0), Some(1.1), Some(2.0), Some(2.0), None, Some(3.0)))
    val batch = Replay.run(sp.createDataset((phase1 ++ phase2).flatten),
        "user_id", "ts_us", "seq")(_.user_id, _.ts_us)(uid => new AsOfMachine(uid))
      .collect().toSeq.sortBy(r => (r.user_id, r.ts_us))
    assert(streamed == batch)
  }
}
