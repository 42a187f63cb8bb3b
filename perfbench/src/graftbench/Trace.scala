package graftbench

import java.io.PrintWriter
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval: `parent` 0 is a root; spans under one root share `trace`. */
final case class Span(id: Long, parent: Long, trace: Long, name: String,
                      startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** Length of the union of intervals clipped to [lo, hi], in ms. */
object Intervals {
  def covered(iv: Iterable[(Double, Double)], lo: Double, hi: Double): Double = {
    val c = iv.iterator.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var total = 0.0; var curA = Double.NaN; var curB = Double.NaN
    c.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}

/** Spans the benchmark records around its own calls into each layer. Every
  * run records them (they are also what the end-to-end timings are read
  * from); listener-derived child spans exist only in a traced run. */
final class Tracer {
  private val t0Ms = System.currentTimeMillis().toDouble
  private val t0Ns = System.nanoTime()
  private val ids = new AtomicLong(0L)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val benchIds = mutable.Set.empty[Long]
  private val open = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }

  /** Epoch milliseconds on the monotonic clock. */
  def nowMs(): Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6
  def nextId(): Long = ids.incrementAndGet()

  def span[T](name: String)(body: => T): (T, Span) = {
    val id = nextId()
    val parent = open.get.headOption.getOrElse(0L)
    open.set(id :: open.get)
    val start = nowMs()
    try {
      val r = body
      val s = Span(id, parent, 0L, name, start, nowMs())
      spans.synchronized { spans += s; benchIds += id }
      (r, s)
    } finally open.set(open.get.tail)
  }

  def clear(): Unit = spans.synchronized { spans.clear(); benchIds.clear() }
  def add(s: Span): Unit = spans.synchronized { spans += s }
  def all: Vector[Span] = spans.synchronized(spans.toVector)

  /** Write the spans (JSON lines) and the per-name self-time summary.
    * Listener spans (parent -1) are attached to the innermost benchmark
    * span that contains their start; trace ids are the root span's id. */
  def write(spanPath: String, summaryPath: String): Map[String, Double] = {
    val raw = all
    val ids = spans.synchronized(benchIds.toSet)
    val bench = raw.filter(s => ids(s.id))
    def innermost(t: Double): Long =
      bench.filter(b => b.startMs <= t && t <= b.endMs)
        .sortBy(b => b.endMs - b.startMs).headOption.map(_.id).getOrElse(0L)
    val fixed = raw.map(s => if (s.parent < 0) s.copy(parent = innermost(s.startMs)) else s)
    val byId = fixed.map(s => s.id -> s).toMap
    def root(s: Span): Long = {
      var cur = s; var guard = 0
      while (cur.parent != 0 && byId.contains(cur.parent) && guard < 64) { cur = byId(cur.parent); guard += 1 }
      cur.id
    }
    val withTrace = fixed.map(s => s.copy(trace = root(s)))
    val kids = withTrace.groupBy(_.parent)
    val self = withTrace.map { s =>
      val c = kids.getOrElse(s.id, Vector.empty).map(k => (k.startMs, k.endMs))
      s.name -> (s.durMs - Intervals.covered(c, s.startMs, s.endMs))
    }
    val summary = self.groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).sum / 1000.0 }
    val pw = new PrintWriter(spanPath, "UTF-8")
    try withTrace.sortBy(_.startMs).foreach { s =>
      pw.println(f"""{"id":${s.id},"parent":${s.parent},"trace":${s.trace},"name":"${s.name}",""" +
        f""""start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f}""")
    } finally pw.close()
    val counts = withTrace.groupBy(_.name).map { case (n, xs) => n -> xs.size }
    val sw = new PrintWriter(summaryPath, "UTF-8")
    try sw.println(summary.toSeq.sortBy(-_._2).map { case (n, v) =>
      f""""$n":{"self_s":$v%.6f,"spans":${counts(n)}}"""
    }.mkString("{", ",", "}"))
    finally sw.close()
    summary
  }
}

final case class Job(id: Int, spanId: Long, startMs: Double, endMs: Double)
final case class Stage(jobSpan: Long, tasks: Int, taskMs: Vector[Long], runMs: Long,
                       cpuNs: Long, gcMs: Long, shuffleWrite: Long, spill: Long,
                       failedTasks: Int)
final case class Phase(name: String, startMs: Double, endMs: Double)
final case class Taken(jobs: Vector[Job], stages: Vector[Stage], phases: Vector[Phase],
                       progress: Vector[StreamingQueryProgress]) {
  def ++(o: Taken): Taken =
    Taken(jobs ++ o.jobs, stages ++ o.stages, phases ++ o.phases, progress ++ o.progress)
}

/** Listener-derived records of a traced run: Spark jobs/stages/tasks, the
  * planning phases of every QueryExecution, and streaming progress. All
  * of it is registered only by [[Layers.install]], i.e. only when tracing. */
final class Layers(tracer: Tracer) {

  private val lock = new Object
  private val jobStart = mutable.Map.empty[Int, (Long, Double)]
  private val stageJob = mutable.Map.empty[Int, Long]
  private val taskMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val failed = mutable.Map.empty[(Int, Int), Int]
  private var jobs = Vector.empty[Job]
  private var stages = Vector.empty[Stage]
  private var phases = Vector.empty[Phase]
  private var progress = Vector.empty[StreamingQueryProgress]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val id = tracer.nextId()
      jobStart(e.jobId) = (id, e.time.toDouble)
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, id))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobStart.remove(e.jobId).foreach { case (id, t0) =>
        jobs :+= Job(e.jobId, id, t0, e.time.toDouble)
        tracer.add(Span(id, -1L, 0L, "exec.job", t0, e.time.toDouble))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val k = (e.stageId, e.stageAttemptId)
      taskMs.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += e.taskInfo.duration
      if (e.reason != org.apache.spark.Success) failed(k) = failed.getOrElse(k, 0) + 1
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      val si = e.stageInfo
      val k = (si.stageId, si.attemptNumber())
      val m = si.taskMetrics
      val jobSpan = stageJob.getOrElse(si.stageId, -1L)
      val ms = taskMs.remove(k).map(_.toVector).getOrElse(Vector.empty)
      stages :+= Stage(jobSpan, si.numTasks, ms,
        if (m == null) 0L else m.executorRunTime,
        if (m == null) 0L else m.executorCpuTime,
        if (m == null) 0L else m.jvmGCTime,
        if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
        if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled,
        failed.remove(k).getOrElse(0))
      for (a <- si.submissionTime; b <- si.completionTime)
        tracer.add(Span(tracer.nextId(), jobSpan, 0L, "exec.stage", a.toDouble, b.toDouble))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }
  private def record(qe: QueryExecution): Unit = lock.synchronized {
    qe.tracker.phases.foreach { case (name, p) =>
      phases :+= Phase(name, p.startTimeMs.toDouble, p.endTimeMs.toDouble)
      tracer.add(Span(tracer.nextId(), -1L, 0L, s"plan.$name", p.startTimeMs.toDouble,
        p.endTimeMs.toDouble))
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      lock.synchronized {
        val p = e.progress
        progress :+= p
        val end = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble +
          p.durationMs.getOrDefault("triggerExecution", 0L).toDouble
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        tracer.add(Span(tracer.nextId(), -1L, 0L, "stream.batch", start, end))
      }
  }

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def uninstall(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Everything delivered since the previous call (after draining the bus). */
  def take(sc: SparkContext): Taken = {
    org.apache.spark.BenchBus.drain(sc)
    lock.synchronized {
      val t = Taken(jobs, stages, phases, progress)
      jobs = Vector.empty; stages = Vector.empty; phases = Vector.empty; progress = Vector.empty
      t
    }
  }
}

/** Spark's static metric sources read as counters (no registration). */
object Sources {
  def filesDiscovered: Long =
    org.apache.spark.metrics.source.HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount
  def listingCacheHits: Long =
    org.apache.spark.metrics.source.HiveCatalogMetrics.METRIC_FILE_CACHE_HITS.getCount
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}

/** Per-layer figures shared by every workload, from one region's records. */
object LayerMetrics {
  /** Spark-execution metrics over `regions` (each a timed unit: a query, a
    * streaming phase); medians of per-region skew. */
  def exec(t: Taken, regions: Seq[(Double, Double)], cores: Int): Map[String, Metric] = {
    val jobIv = t.jobs.map(j => (j.startMs, j.endMs))
    val span = regions.map { case (a, b) => Intervals.covered(jobIv, a, b) }.sum / 1000.0
    val busy = t.phases.map(p => (p.startMs, p.endMs)) ++ jobIv
    val residue = regions.map { case (a, b) => (b - a) - Intervals.covered(busy, a, b) }.sum / 1000.0
    val run = t.stages.map(_.runMs).sum / 1000.0
    // skew: in each region's widest stage (most tasks), max over median task time
    val jobRegion = t.jobs.map(j => j.spanId -> regions.indexWhere { case (a, b) =>
      j.startMs >= a - 1 && j.startMs <= b + 1 }).toMap
    val skews = t.stages.filter(_.taskMs.size >= 2).groupBy(s => jobRegion.getOrElse(s.jobSpan, -1))
      .toSeq.filter(_._1 >= 0).map { case (_, ss) =>
        val w = ss.maxBy(s => (s.tasks, s.taskMs.sum))
        val med = Stats.median(w.taskMs.map(_.toDouble))
        if (med > 0) w.taskMs.max / med else 1.0
      }
    Map(
      "exec.jobs" -> Metric(t.jobs.size.toDouble, "count", 1),
      "exec.tasks" -> Metric(t.stages.map(_.tasks.toLong).sum.toDouble, "count", 1),
      "exec.job_span_s" -> Metric(span, "s", regions.size),
      "exec.driver_residue_s" -> Metric(residue, "s", regions.size),
      "exec.executor_run_s" -> Metric(run, "s", t.stages.size),
      "exec.executor_cpu_s" -> Metric(t.stages.map(_.cpuNs).sum / 1e9, "s", t.stages.size),
      "exec.gc_s" -> Metric(t.stages.map(_.gcMs).sum / 1000.0, "s", t.stages.size),
      "exec.core_occupancy" -> Metric(if (span > 0) run / (span * cores) else 0.0, "ratio", 1),
      "exec.shuffle_write_bytes" -> Metric(t.stages.map(_.shuffleWrite).sum.toDouble, "B", t.stages.size),
      "exec.spill_bytes" -> Metric(t.stages.map(_.spill).sum.toDouble, "B", t.stages.size),
      "exec.task_skew" -> Metric(if (skews.isEmpty) 1.0 else Stats.median(skews), "ratio", skews.size),
      "exec.failed_tasks" -> Metric(t.stages.map(_.failedTasks.toLong).sum.toDouble, "count", 1))
  }

  /** Every per-layer name each workload reports, 0 where its layer is not used. */
  val zeros: Map[String, Metric] = Seq(
    "tables.files_discovered" -> "count", "tables.listing_cache_hits" -> "count",
    "build.s" -> "s", "build.jobs" -> "count",
    "plan.analysis_s" -> "s", "plan.optimization_s" -> "s", "plan.physical_s" -> "s",
    "plan.codegen_compiles" -> "count", "trace.accounting_max_err" -> "ratio",
    "replay.output_rows" -> "count", "replay.job_s" -> "s",
    "machines.single_thread_events_per_s" -> "1/s",
    "feed.push_us_p99" -> "us", "feed.backlog_max_events" -> "count",
    "feed.backlog_end_events" -> "count", "feed.latest_offset_ms" -> "ms",
    "feed.get_batch_ms" -> "ms", "generator.late_ms_p99" -> "ms",
    "stream.batches" -> "count", "stream.trigger_ms_p50" -> "ms", "stream.trigger_ms_max" -> "ms",
    "stream.add_batch_ms" -> "ms", "stream.query_planning_ms" -> "ms",
    "stream.wal_commit_ms" -> "ms", "stream.commit_offsets_ms" -> "ms",
    "state.commit_ms" -> "ms", "state.rows_total" -> "count", "state.rows_updated" -> "count",
    "state.memory_bytes" -> "B", "state.sst_bytes" -> "B",
    "crossover.handover_gap_s" -> "s", "crossover.restart_to_first_batch_ms" -> "ms",
    "crossover.backfill_batches" -> "count"
  ).map { case (n, u) => n -> Metric(0.0, u, 0) }.toMap

  /** Planning time per Catalyst phase, summed. */
  def plan(t: Taken): Map[String, Metric] = {
    def sum(phase: String) = t.phases.filter(_.name == phase).map(p => p.endMs - p.startMs).sum / 1000.0
    Map("plan.analysis_s" -> Metric(sum("analysis"), "s", t.phases.count(_.name == "analysis")),
      "plan.optimization_s" -> Metric(sum("optimization"), "s", t.phases.count(_.name == "optimization")),
      "plan.physical_s" -> Metric(sum("planning"), "s", t.phases.count(_.name == "planning")))
  }
}
