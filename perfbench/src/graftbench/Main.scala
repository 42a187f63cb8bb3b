package graftbench

import java.io.PrintWriter
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, the run's arguments, the
  * span recorder, and the result being assembled. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
                val cores: Int, val tables: String, val outDir: String,
                val expected: String) {
  val tracer = new Tracer
  var layers: Option[Layers] = None
  var attempted = 0L
  var failed = 0L
  /** Seconds spent making the benchmark's own inputs (never inside setup or a timed region). */
  var generateS = 0.0

  /** Count one operation; false outcomes are failures. */
  def op(ok: Boolean): Unit = { attempted += 1; if (!ok) failed += 1 }
  def log(msg: String): Unit = System.err.println(f"[graftbench ${uptimeS}%.1fs] $msg")
  private def uptimeS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
}

/** The figures of one timed measurement: end-to-end metrics and, when it
  * ran traced, the per-layer metrics. */
final case class Measured(e2e: Map[String, Metric], layer: Map[String, Metric],
                          notes: Map[String, Metric] = Map.empty)

trait Workload {
  /** Make inputs (add the time to ctx.generateS), warm up, check outputs. */
  def prepare(ctx: Ctx): Unit
  /** One timed measurement of about ctx.seconds; traced iff ctx.layers is set. */
  def measure(ctx: Ctx): Measured
}

/** Entry point: `graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --tables DIR --out DIR [--expected FILE]`.
  * Writes `result.json` (metrics with units and sample counts) into --out. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload: Workload = a("workload") match {
      case "batch-suite"   => BatchSuite
      case "live-handover" => LiveHandover
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val trace = a.getOrElse("trace", "0") == "1"
    val cores = a.getOrElse("cores", "4").toInt
    val spark = graft.core.Tables.sessionBuilder(cores.toString)
      .config("spark.sql.warehouse.dir", s"${a("out")}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // a traced run measures three times, each at half the run length
    val seconds = a("seconds").toDouble / (if (trace) 2 else 1)
    val ctx = new Ctx(spark, a("seed").toLong, seconds, cores, a("tables"),
      a("out"), a.getOrElse("expected", ""))
    val tableGenS = a.getOrElse("generate-s", "0").toDouble
    ctx.generateS = tableGenS
    ctx.log("session ready")

    workload.prepare(ctx)
    val setupCompiles = Sources.codegenCompiles
    ctx.log("prepared")
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    // setup = JVM start to the first timed operation, less the benchmark's
    // own input generation done inside the JVM (the tables were made before it)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0 - (ctx.generateS - tableGenS)

    val metrics = mutable.LinkedHashMap.empty[String, Metric]
    val notes = mutable.LinkedHashMap.empty[String, Metric]
    if (!trace) {
      // heap peak: the heap in use after every collection the JVM runs while
      // the workload is measured, and the forced-GC baseline of the warmed-up
      // program, in case no collection runs
      val baseline = Stats.heapAfterGcMb()
      val watch = new HeapWatch
      watch.start()
      val m = workload.measure(ctx)
      val peak = watch.stop()
      ctx.log(f"heap after GC: baseline $baseline%.1f MB, peak $peak%.1f MB over ${watch.collections} collections")
      metrics += "setup_s" -> Metric(setupS, "s", 1)
      metrics += "heap_peak_mb" -> Metric(math.max(baseline, peak), "MB", watch.collections + 1)
      metrics ++= m.e2e
      notes ++= m.notes
    } else {
      // untraced, traced, untraced again: the overhead compares the traced
      // measurement with the mean of the two around it, so warm-up drift
      // between consecutive measurements does not read as overhead
      val before = workload.measure(ctx)
      val layers = new Layers(ctx.tracer)
      layers.install(spark)
      ctx.layers = Some(layers)
      ctx.tracer.clear()
      val traced = workload.measure(ctx)
      layers.uninstall(spark)
      val spans = ctx.tracer.all.size
      val summary = ctx.tracer.write(s"${ctx.outDir}/spans.jsonl", s"${ctx.outDir}/selftime.json")
      ctx.layers = None
      val after = workload.measure(ctx)
      metrics ++= traced.layer
      metrics += "plan.codegen_compiles" -> Metric(setupCompiles.toDouble, "count", 1)
      metrics += "bench.generate_s" -> Metric(ctx.generateS, "s", 1)
      val base = (before.e2e("throughput_per_s").value + after.e2e("throughput_per_s").value) / 2
      val withT = traced.e2e("throughput_per_s").value
      metrics += "trace.overhead_pct" -> Metric(100.0 * (base / withT - 1.0), "%", 1)
      metrics += "trace.spans" -> Metric(spans.toDouble, "count", 1)
      notes ++= traced.notes
      notes ++= summary.toSeq.sortBy(_._1).map { case (n, s) => s"self.$n" -> Metric(s, "s", 1) }
    }
    val correct = ctx.failed == 0
    def obj(m: collection.Map[String, Metric]) = m.map { case (k, v) =>
      val num = if (v.value.isNaN || v.value.isInfinite) "null" else v.value.toString
      s""""$k":{"value":$num,"unit":"${v.unit}","n":${v.n}}"""
    }.mkString("{", ",", "}")
    val pw = new PrintWriter(s"${ctx.outDir}/result.json", "UTF-8")
    try pw.println(s"""{"correct":$correct,"attempted":${ctx.attempted},"failed":${ctx.failed},""" +
      s""""metrics":${obj(metrics)},"notes":${obj(notes)}}""")
    finally pw.close()
    spark.stop()
  }
}
