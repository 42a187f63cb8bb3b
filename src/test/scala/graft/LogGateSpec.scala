package graft

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.LoggerContext
import org.apache.logging.log4j.core.config.LoggerConfig
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.DataType
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** [[LogGate]] must (a) self-test every logging hook at install time and
  * leave logging untouched when that fails, and (b) count REAL warnings —
  * not just its own synthetic events. The codegen trigger is the exact
  * production path: an expression whose generated Java fails Janino
  * compilation, driven through `UnsafeProjection.create`, which catches
  * the compile error, logs the "falling back to interpreter mode" WARN
  * the gate asserts on, and silently returns the interpreted projection
  * (the r8 ShingleHashes static-forwarder failure mode, reproduced
  * deliberately). The task-binary trigger is Spark's own message,
  * logged through the `DAGScheduler` logger that emits it. */
class LogGateSpec extends AnyFunSuite {
  private val Dag = "org.apache.spark.scheduler.DAGScheduler"
  private def ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
  private def taskBinaryWarn(size: String): Unit =
    LogManager.getLogger(Dag).warn(s"Broadcasting large task binary with size $size")

  /** Generated code is syntactically invalid Java; interpreted path is
    * the identity — so the fallback is observable AND correct, exactly
    * the silent degradation the gate exists to catch. */
  private case class BrokenCodegen(child: Expression) extends UnaryExpression {
    override def dataType: DataType = child.dataType
    override protected def nullSafeEval(input: Any): Any = input
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, _ => "this is deliberately not java;")
    override protected def withNewChildInternal(newChild: Expression): BrokenCodegen =
      copy(child = newChild)
  }

  // First in the suite on purpose: a successful install() is permanent
  // for the JVM, and this spec is the only test code that installs it.
  test("a failed install leaves logging as it found it") {
    TestSpark.spark // initialize the log4j context the way every main does
    def emitters = LogGate.EmitterLoggers.map { l =>
      val c = ctx.getConfiguration.getLoggerConfig(l)
      l -> (c.getName, c.getLevel)
    }
    def rootAppenders = ctx.getConfiguration.getRootLogger.getAppenders.keySet.asScala.toSet
    val inheriting = "org.apache.spark.sql.catalyst.expressions.Predicate"
    assert(ctx.getConfiguration.getLoggerConfig(inheriting).getName != inheriting,
      "precondition: the Predicate emitter inherits its config")
    // blind the task-binary chain: its own config, at a level other than
    // WARN, and cut off from the root appenders
    ctx.getConfiguration.addLogger(Dag, new LoggerConfig(Dag, Level.ERROR, false))
    ctx.updateLoggers()
    try {
      val priorEmitters = emitters
      val priorAppenders = rootAppenders
      val e = intercept[IllegalArgumentException](LogGate.install())
      assert(e.getMessage.contains("6 of 7"), e.getMessage)
      assert(rootAppenders == priorAppenders)
      assert(emitters == priorEmitters)
      assert(ctx.getConfiguration.getLoggerConfig(Dag).getLevel == Level.ERROR)
      assert(ctx.getConfiguration.getLoggerConfig(inheriting).getName != inheriting)
    } finally {
      ctx.getConfiguration.removeLogger(Dag)
      ctx.updateLoggers()
    }
    LogGate.install() // un-blinded: every chain reaches the gate
    assert(rootAppenders.contains("graft-log-gate"))
  }

  test("a real Janino compile failure is counted; interpreted result still correct") {
    TestSpark.spark // initialize the log4j context the way every main does
    LogGate.install() // would require() on a broken hook — (a)
    val before = LogGate.codegenFallbackWarns
    val proj = UnsafeProjection.create(Seq[Expression](BrokenCodegen(Literal(7))))
    // the fallback is SILENT: the projection works (interpreted)…
    assert(proj(InternalRow.empty).getInt(0) == 7)
    // …and only the gate knows the stage never ran generated code
    assert(LogGate.codegenFallbackWarns == before + 1,
      "UnsafeProjection's fallback WARN was not observed by the gate")
  }

  test("install is idempotent and does not double-count") {
    LogGate.install()
    val before = LogGate.codegenFallbackWarns
    val binBefore = LogGate.taskBinaryWarnCount
    LogGate.install() // second install must not add a second appender
    val proj = UnsafeProjection.create(Seq[Expression](BrokenCodegen(Literal(1L))))
    assert(proj(InternalRow.empty).getLong(0) == 1L)
    assert(LogGate.codegenFallbackWarns == before + 1)
    taskBinaryWarn("1.5 KiB")
    assert(LogGate.taskBinaryWarnCount == binBefore + 1)
  }

  test("task-binary WARNs are counted and the largest size is kept") {
    LogGate.install()
    val before = LogGate.taskBinaryWarnCount
    taskBinaryWarn("1103.4 KiB")
    assert(LogGate.taskBinaryWarnCount == before + 1)
    assert(LogGate.taskBinaryMaxKib >= 1103.4)
    taskBinaryWarn("2.1 MiB")
    assert(LogGate.taskBinaryWarnCount == before + 2)
    assert(math.abs(LogGate.taskBinaryMaxKib - 2150.4) < 1e-6, LogGate.taskBinaryMaxKib)
    assert(LogGate.violations.exists(_.contains("task binaries over 1000 KiB (max 2150 KiB)")))
  }

  test("parseKib reads B, KiB, MiB and GiB; a message with no size is None") {
    assert(LogGate.parseKib("with size 2048 B").contains(2.0))
    assert(LogGate.parseKib("with size 1103.4 KiB").contains(1103.4))
    assert(LogGate.parseKib("with size 2.1 MiB").exists(k => math.abs(k - 2150.4) < 1e-9))
    assert(LogGate.parseKib("with size 1 GiB").contains(1048576.0))
    assert(LogGate.parseKib("Broadcasting large task binary").isEmpty)
  }
}
