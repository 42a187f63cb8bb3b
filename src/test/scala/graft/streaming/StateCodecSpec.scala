package graft.streaming

import java.io.{ByteArrayOutputStream, ObjectOutputStream}
import org.scalatest.funsuite.AnyFunSuite

private[streaming] object CodecFixtures {
  @SerialVersionUID(1L)
  final case class CodecMachine(uid: Long, seen: Vector[String])
      extends KeyedStateMachine[Long, Long, Long] {
    def onEvent(ts: Long, e: Long, ctx: ReplayCtx[Long]): Unit = ()
  }
}

/** `AspStream`'s per-key state blob: the current layout round-trips, and
  * blobs of every earlier layout (one java-serialized tuple, built here
  * with a plain `ObjectOutputStream` exactly as the old code wrote them)
  * decode to the same machine, pending timers and clock floor. */
class StateCodecSpec extends AnyFunSuite {
  import CodecFixtures.CodecMachine

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
}
