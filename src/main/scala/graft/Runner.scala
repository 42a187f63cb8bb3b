package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.graft.SessionShim

/** What the stages that completed during one [[Run]] wrote to shuffle
  * and spilled, each summed over all of the stage's tasks. */
final case class StageTotals(shuffleBytes: Long, shuffleRecords: Long,
    memoryBytesSpilled: Long, diskBytesSpilled: Long)

/** One action run by a [[Runner]]: its value or what it threw, its wall
  * seconds, and its [[StageTotals]] (also counted when it failed). */
final case class Run[T](result: Either[Throwable, T], secs: Double, totals: StageTotals) {
  def ok: Boolean = result.isRight
  def error: Option[String] = result.left.toOption.map(e => String.valueOf(e.getMessage))
}

/** Runs one action at a time on `spark` and hands back its [[Run]]. It
  * times only the action, captures a failure instead of throwing it,
  * and drains the asynchronous listener bus on both sides: without the
  * first drain a late event of the previous action is charged to this
  * one, without the second this one's last stages are missed.
  *
  * The totals are stage-level (`onStageCompleted`, each stage attempt's
  * summed task metrics), the count ShuffleProbe's ≤-linear gate was
  * calibrated on. One listener per runner; a main keeps one runner for
  * its session. */
final class Runner(spark: SparkSession) {
  private var sum = Runner.Zero

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val m = e.stageInfo.taskMetrics
      if (m != null) Runner.this.synchronized {
        sum = StageTotals(
          sum.shuffleBytes + m.shuffleWriteMetrics.bytesWritten,
          sum.shuffleRecords + m.shuffleWriteMetrics.recordsWritten,
          sum.memoryBytesSpilled + m.memoryBytesSpilled,
          sum.diskBytesSpilled + m.diskBytesSpilled)
      }
    }
  })

  def apply[T](action: => T): Run[T] = {
    SessionShim.drainListenerBus(spark.sparkContext)
    synchronized { sum = Runner.Zero }
    val t0 = System.nanoTime()
    val result = try Right(action) catch { case e: Throwable => Left(e) }
    val secs = (System.nanoTime() - t0) / 1e9
    SessionShim.drainListenerBus(spark.sparkContext)
    Run(result, secs, synchronized(sum))
  }
}

object Runner {
  private val Zero = StageTotals(0L, 0L, 0L, 0L)

  /** Full materialization through the `noop` sink: unlike `.count()`,
    * noop cannot prune projections or skip window/sort work. */
  def noop(ds: Dataset[_]): Unit = ds.write.format("noop").mode("overwrite").save()

  /** Drops what finished queries leave pinned for the session:
    * localCheckpointed RDDs (the diamond-reuse pattern in
    * q91/q115/q127...) and cached tables. */
  def dropCached(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    spark.catalog.clearCache()
  }

  /** `v` with `digits` decimals. Locale.ROOT: the format is
    * locale-dependent and a comma-decimal locale would emit invalid JSON. */
  def fmt(v: Double, digits: Int = 3): String =
    String.format(java.util.Locale.ROOT, s"%.${digits}f", v)
}
