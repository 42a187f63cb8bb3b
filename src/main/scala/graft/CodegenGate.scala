package graft

import java.util.concurrent.atomic.AtomicLong
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.LoggerContext
import org.apache.logging.log4j.core.appender.AbstractAppender

/** Standing gate on SILENT CODEGEN FALLBACK. When a generated
  * expression fails Janino compilation, Spark does not error — it logs
  * one WARN ("Expr codegen error and falling back to interpreter
  * mode", or "Whole-stage codegen disabled for plan") and quietly runs
  * the projection/predicate on interpreted rows. Correctness is
  * untouched, every gate stays green, and the engine's whole
  * codegen-first posture (§8.12's native byte-scan family, the
  * functions-not-UDFs rule) silently degrades to the interpreted path
  * it exists to avoid. This is not hypothetical: the round-8
  * `ShingleHashes.eval` static-forwarder clash ran EVERY
  * `shingle_hashes` stage interpreted for half a round while 153/153
  * correctness and the wall-time bench both stayed green — only the
  * scrolled-past WARN knew. That clash needed a case class sharing the
  * kernel object's name; the table natives
  * ([[graft.functions.Natives]]) now call kernel objects with no
  * companion class, so it cannot recur there. What still holds: a
  * kernel method the generated `StaticInvoke` call cannot find, or any
  * other generated Java that fails to compile, degrades just as
  * silently — PropertySpec compiles every native directly, and this
  * gate counts the rest.
  *
  * Same discipline as [[TaskBinaryGate]]: the WARN becomes a counted,
  * asserted artifact field. [[Bench]] reports `codegen_fallback_warns`
  * in the committed line and [[ShuffleProbe]] FAILS (exit 1) on any
  * occurrence; install() pins the emitting loggers to WARN and
  * self-tests the appender with a synthetic event so a blinded logging
  * hook fails loudly instead of producing a false zero.
  */
object CodegenGate {
  private val warns = new AtomicLong(0)
  @volatile private var installed = false
  private val SelfTestMarker = "graft-codegen-gate-selftest"
  private val selfTestSeen =
    new java.util.concurrent.atomic.AtomicBoolean(false)

  /** The fallback WARN emitters: every
    * `CodeGeneratorWithInterpretedFallback` companion ("Expr codegen
    * error…") plus whole-stage compilation ("Whole-stage codegen
    * disabled for plan…"). Pinned to WARN so an ERROR-level runner
    * cannot blind the gate. */
  private val EmitterLoggers = Seq(
    "org.apache.spark.sql.catalyst.expressions.Predicate",
    "org.apache.spark.sql.catalyst.expressions.UnsafeProjection",
    "org.apache.spark.sql.catalyst.expressions.MutableProjection",
    "org.apache.spark.sql.catalyst.expressions.SafeProjection",
    "org.apache.spark.sql.catalyst.expressions.RowOrdering",
    "org.apache.spark.sql.execution.WholeStageCodegenExec")

  private val selfTestHits = new AtomicLong(0)

  def install(): Unit = synchronized {
    if (installed) return
    val appender = new AbstractAppender(
        "graft-codegen-gate", null, null, true, null) {
      override def append(e: org.apache.logging.log4j.core.LogEvent): Unit = {
        val msg = e.getMessage.getFormattedMessage
        if (msg.contains(SelfTestMarker)) {
          selfTestSeen.set(true)
          selfTestHits.incrementAndGet()
        } else if (msg.contains("falling back to interpreter mode") ||
            msg.contains("Whole-stage codegen disabled for plan")) {
          warns.incrementAndGet()
          System.err.println(
            s"[codegen-gate] ${String.valueOf(msg).linesIterator.next()}")
        }
      }
    }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.addAppender(appender, Level.WARN, null)
    ctx.updateLoggers()
    // prior state per emitter: whether the logger had its OWN config
    // (getLoggerConfig returns the nearest configured ancestor, so an
    // exact name match means an explicit config existed) and its level —
    // captured so a failed install can TRULY roll back: restore the
    // level on loggers that had one, REMOVE the config Configurator
    // creates for loggers that were inheriting (pinning those would
    // detach them from future root-level changes)
    val priorOwn: Map[String, Option[Level]] = EmitterLoggers.map { l =>
      val cfg = ctx.getConfiguration.getLoggerConfig(l)
      l -> (if (cfg.getName == l) Some(cfg.getLevel) else None)
    }.toMap
    try {
      EmitterLoggers.foreach(l =>
        org.apache.logging.log4j.core.config.Configurator.setLevel(l, Level.WARN))
      // end-to-end self-test through EVERY pinned emitter (logger ->
      // level -> additivity -> root appender -> this gate): a config
      // that blinds any ONE chain (e.g. additivity=false on the
      // execution subtree) must fail install, not false-zero later
      selfTestHits.set(0)
      EmitterLoggers.foreach(l => LogManager.getLogger(l).warn(
        s"$SelfTestMarker: synthetic event, not a real codegen fallback"))
      require(selfTestSeen.get() && selfTestHits.get() == EmitterLoggers.size,
        s"codegen gate observed ${selfTestHits.get()} of " +
          s"${EmitterLoggers.size} synthetic WARNs — at least one emitter " +
          "chain is blinded; a zero-fallback result would be a false pass")
      installed = true
    } catch {
      case t: Throwable =>
        // never leave the appender attached on a failed install — a
        // retry would attach a second one and double-count every WARN —
        // and roll back the level pins so global logging state is
        // unchanged after a throwing install
        ctx.getConfiguration.getRootLogger.removeAppender(appender.getName)
        priorOwn.foreach {
          case (l, Some(lvl)) =>
            org.apache.logging.log4j.core.config.Configurator.setLevel(l, lvl)
          case (l, None) =>
            ctx.getConfiguration.removeLogger(l) // back to inheriting
        }
        ctx.updateLoggers()
        throw t
    }
  }

  def warnCount: Long = warns.get()
}
