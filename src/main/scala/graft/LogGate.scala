package graft

import java.util.concurrent.atomic.{AtomicLong, AtomicReference}
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.LoggerContext
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Configurator

/** Standing gates on two WARNs Spark logs and then carries on as if
  * nothing happened. One appender on the root logger turns each into a
  * counted, asserted artifact field: [[Bench]] reports both counts in
  * the committed line and [[ShuffleProbe]] FAILS (exit 1) on any
  * occurrence of either.
  *
  * DRIVER EGRESS via task binaries. Every stage's serialized (RDD,
  * closure) pair is broadcast to all executors; Spark warns past
  * 1000 KiB (`TaskSetManager.TASK_SIZE_TO_WARN_KIB`) — at 1000
  * executors a 1 MiB task binary is a gigabyte of driver egress PER
  * STAGE, and the r6 root cause (AQE runtime Bloom filters sized by a
  * stats-less default embedding ~1 MB ScalarSubquery results per
  * referencing task) showed the class regresses silently: the WARN
  * scrolls by in a bench tail. The gate asserts ZERO such warnings
  * across the run (measured r6 steady state: largest plans ~100 KB,
  * 10× under the line) and keeps the largest size seen.
  *
  * SILENT CODEGEN FALLBACK. When a generated expression fails Janino
  * compilation, Spark does not error — it logs one WARN ("Expr codegen
  * error and falling back to interpreter mode", or "Whole-stage codegen
  * disabled for plan") and quietly runs the projection/predicate on
  * interpreted rows. Correctness is untouched, every gate stays green,
  * and the engine's whole codegen-first posture (§8.12's native
  * byte-scan family, the functions-not-UDFs rule) silently degrades to
  * the interpreted path it exists to avoid. This is not hypothetical:
  * the round-8 `ShingleHashes.eval` static-forwarder clash ran EVERY
  * `shingle_hashes` stage interpreted for half a round while 153/153
  * correctness and the wall-time bench both stayed green — only the
  * scrolled-past WARN knew. That clash needed a case class sharing the
  * kernel object's name; the table natives ([[graft.functions.Natives]])
  * now call kernel objects with no companion class, so it cannot recur
  * there. What still holds: a kernel method the generated `StaticInvoke`
  * call cannot find, or any other generated Java that fails to compile,
  * degrades just as silently — PropertySpec compiles every native
  * directly, and this gate counts the rest.
  */
object LogGate {
  private val codegenWarns = new AtomicLong(0)
  private val taskBinaryWarns = new AtomicLong(0)
  private val maxKib = new AtomicReference[java.lang.Double](0.0)
  private val selfTestHits = new AtomicLong(0)
  @volatile private var installed = false
  private val SelfTestMarker = "graft-log-gate-selftest"

  /** The WARN emitters: every `CodeGeneratorWithInterpretedFallback`
    * companion ("Expr codegen error…"), whole-stage compilation
    * ("Whole-stage codegen disabled for plan…") and the scheduler's
    * task-binary warning (`DAGScheduler.submitMissingTasks`). */
  private[graft] val EmitterLoggers = Seq(
    "org.apache.spark.sql.catalyst.expressions.Predicate",
    "org.apache.spark.sql.catalyst.expressions.UnsafeProjection",
    "org.apache.spark.sql.catalyst.expressions.MutableProjection",
    "org.apache.spark.sql.catalyst.expressions.SafeProjection",
    "org.apache.spark.sql.catalyst.expressions.RowOrdering",
    "org.apache.spark.sql.execution.WholeStageCodegenExec",
    "org.apache.spark.scheduler.DAGScheduler")

  /** Idempotently attach the counting appender to the root logger. An
    * asserted-ZERO gate must not be blindable: a runner that sets the
    * log level to ERROR, a logger config that cuts one emitter off from
    * the root, or a rewording of Spark's message would otherwise make
    * the gate report 0 warnings *because it saw nothing*. So install()
    * (a) pins every emitter to WARN explicitly — an explicit per-logger
    * level survives later root-level changes like setLogLevel("ERROR") —
    * and (b) self-tests every chain (logger -> level -> additivity ->
    * root appender -> this gate) with one synthetic event per emitter,
    * so a broken hook fails loudly at install time instead of silently
    * passing. A failed install leaves logging as it found it. */
  def install(): Unit = synchronized {
    if (installed) return
    val appender = new AbstractAppender("graft-log-gate", null, null, true, null) {
      override def append(e: org.apache.logging.log4j.core.LogEvent): Unit = {
        val msg = e.getMessage.getFormattedMessage
        if (msg.contains(SelfTestMarker)) {
          selfTestHits.incrementAndGet()
        } else if (msg.contains("falling back to interpreter mode") ||
            msg.contains("Whole-stage codegen disabled for plan")) {
          codegenWarns.incrementAndGet()
          System.err.println(s"[log-gate] ${String.valueOf(msg).linesIterator.next()}")
        } else if (msg.contains("Broadcasting large task binary with size")) {
          taskBinaryWarns.incrementAndGet()
          parseKib(msg).foreach(k => maxKib.updateAndGet(m => if (k > m) k else m))
          System.err.println(s"[log-gate] $msg")
        }
      }
    }
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
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
    appender.start()
    ctx.getConfiguration.getRootLogger.addAppender(appender, Level.WARN, null)
    ctx.updateLoggers()
    try {
      EmitterLoggers.foreach(Configurator.setLevel(_, Level.WARN))
      selfTestHits.set(0)
      EmitterLoggers.foreach(l => LogManager.getLogger(l).warn(
        s"$SelfTestMarker: synthetic event, not a real warning"))
      require(selfTestHits.get() == EmitterLoggers.size,
        s"log gate observed ${selfTestHits.get()} of ${EmitterLoggers.size} " +
          "synthetic WARNs — at least one emitter chain is blinded; a " +
          "zero-warning result would be a false pass")
      installed = true
    } catch {
      case t: Throwable =>
        // never leave the appender attached on a failed install — a
        // retry would attach a second one and double-count every WARN —
        // and roll back the level pins so global logging state is
        // unchanged after a throwing install
        ctx.getConfiguration.getRootLogger.removeAppender(appender.getName)
        priorOwn.foreach {
          case (l, Some(lvl)) => Configurator.setLevel(l, lvl)
          case (l, None) => ctx.getConfiguration.removeLogger(l) // back to inheriting
        }
        ctx.updateLoggers()
        appender.stop()
        throw t
    }
  }

  /** "… with size 1103.4 KiB" / "2.1 MiB" → KiB. */
  private[graft] def parseKib(msg: String): Option[Double] = {
    val m = raw"size\s+([0-9.]+)\s+(B|KiB|MiB|GiB)".r.findFirstMatchIn(msg)
    m.flatMap { g =>
      val v = g.group(1).toDoubleOption
      val mult = g.group(2) match {
        case "B" => 1.0 / 1024; case "KiB" => 1.0
        case "MiB" => 1024.0;  case _ => 1024.0 * 1024
      }
      v.map(_ * mult)
    }
  }

  def codegenFallbackWarns: Long = codegenWarns.get()
  def taskBinaryWarnCount: Long = taskBinaryWarns.get()
  def taskBinaryMaxKib: Double = maxKib.get()

  /** What the gate saw, for the caller's failure line; None when both
    * counts are zero. */
  def violations: Option[String] = {
    val parts =
      (if (taskBinaryWarnCount > 0)
         Seq(s"$taskBinaryWarnCount task binaries over 1000 KiB " +
           s"(max ${taskBinaryMaxKib.round} KiB)")
       else Nil) ++
      (if (codegenFallbackWarns > 0)
         Seq(s"$codegenFallbackWarns codegen fallbacks (stages ran interpreted)")
       else Nil)
    if (parts.isEmpty) None else Some(parts.mkString("; "))
  }
}
