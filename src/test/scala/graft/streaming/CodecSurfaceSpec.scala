package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

/** The live state codec of every library machine is a reviewed list:
  * each [[KeyedStateMachine]] under [[Machines]] is either compact
  * ([[CompactState]]) or Java-serialized with the reason it stays so. A
  * machine added, or switched between codecs, fails here until a reviewed
  * change lists it. */
class CodecSurfaceSpec extends AnyFunSuite {
  private val Compact = "compact"
  private val Listed: Map[String, String] = Map(
    "AsOfMachine" -> Compact,
    "ChangeMachine" -> Compact,
    "FeedbackMachine" -> Compact,
    "GreeterMachine" -> Compact,
    "PeriodicTimerMachine" -> Compact,
    "PnlMachine" -> Compact,
    "SeqPatternMachine" -> Compact,
    "VwapMachine" -> Compact,
    "CartMachine" -> "java: a Vector of CartItem case classes; a lot field added later restores by the added-field rule",
    "CartMachineQ" -> "java: a Vector of LotQ case classes; a lot field added later restores by the added-field rule")

  test("every KeyedStateMachine under Machines is listed with its codec") {
    val machines = Class.forName("graft.streaming.Machines").getDeclaredClasses.toSeq
      .filter(classOf[KeyedStateMachine[_, _, _]].isAssignableFrom)
    assert(machines.nonEmpty, "no machines found under Machines")
    val found = machines.map { c =>
      c.getSimpleName -> (if (classOf[CompactState].isAssignableFrom(c)) Compact else "java")
    }.toMap
    assert(found == Listed.map { case (name, codec) => name -> codec.takeWhile(_ != ':') },
      s"found $found")
    Listed.values.filter(_ != Compact).foreach(reason =>
      assert(reason.startsWith("java: ") && reason.length > "java: ".length, reason))
  }

  test("every compact library machine pins its serialVersionUID, so layout-1 blobs restore") {
    for (c <- Class.forName("graft.streaming.Machines").getDeclaredClasses
         if classOf[CompactState].isAssignableFrom(c)) {
      assert(c.getDeclaredFields.exists(f => f.getName == "serialVersionUID" &&
        java.lang.reflect.Modifier.isStatic(f.getModifiers)), c.getName)
    }
  }
}
