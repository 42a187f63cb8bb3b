package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.jdk.CollectionConverters._
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One reported figure: value, unit and the number of samples behind it. */
final case class Metric(value: Double, unit: String, n: Long)

object Stats {
  def median(xs: collection.Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile, `p` in [0, 1]. */
  def pct(xs: collection.Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
  }

  /** The tail of a small sample: the highest nearest-rank percentile with
    * at least `beyond` samples above it, as (value, percentile in [0, 1]).
    * With 39 samples and 10 beyond it is the 29th value, p74. */
  def tail(xs: collection.Seq[Double], beyond: Int = 10): (Double, Double) = {
    require(xs.size > beyond, s"a tail with $beyond samples beyond it needs more than $beyond samples")
    val s = xs.sorted
    val rank = s.size - beyond
    (s(rank - 1), rank.toDouble / s.size)
  }

  /** Order-independent output fingerprint: row count and the sum of
    * pmod(xxhash64(all columns), 1e9+7), the same form as
    * `graft.StreamBench.fingerprint`. */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val cols = df.columns.map(col).toSeq
    val r = df.agg(count(lit(1)),
      coalesce(sum(pmod(xxhash64(cols: _*), lit(1000000007L))), lit(0L))).head
    (r.getLong(0), r.getLong(1))
  }

  /** Deterministic 64-bit mix (splitmix64 finaliser) for seeded generators. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Heap in use right after a full collection, in MB: the least of three
    * collections 200 ms apart, so garbage that Spark's ContextCleaner
    * releases only after a collection (broadcasts, shuffles of finished
    * queries) does not count. */
  def heapAfterGcMb(): Double = {
    val bean = ManagementFactory.getMemoryMXBean
    (1 to 3).map { i =>
      if (i > 1) Thread.sleep(200)
      System.gc()
      bean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }.min
  }
}

/** The largest heap in use right after a collection, over every collection
  * the JVM runs between `start` and `stop`, read from the JVM's GC
  * notifications (no Spark listener). After a young collection the old
  * generation still holds whatever garbage was promoted into it. */
final class HeapWatch extends NotificationListener {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
    case e: NotificationEmitter => e }
  private var peakMb = 0.0
  private var n = 0

  def handleNotification(note: Notification, handback: AnyRef): Unit =
    if (note.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(note.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
        case (pool, u) if heapPools(pool) => u.getUsed }.sum
      synchronized { peakMb = math.max(peakMb, used / (1024.0 * 1024.0)); n += 1 }
    }

  def start(): Unit = emitters.foreach(_.addNotificationListener(this, null, null))

  /** Stops watching and returns the peak in MB (0 if no collection ran).
    * Notifications arrive on a JVM service thread shortly after each
    * collection, so the last ones are waited for. */
  def stop(): Double = {
    Thread.sleep(200)
    emitters.foreach(_.removeNotificationListener(this))
    synchronized(peakMb)
  }
  def collections: Int = synchronized(n)
}

object Runs {
  /** Whole timed units (batch passes) in a run: a fixed count derived from
    * the run length alone, so every run of a check measures the same work.
    * `unitSeconds` is a unit's length at the seed commit. */
  def count(seconds: Double, unitSeconds: Double): Int =
    math.max(2, math.round(seconds / unitSeconds).toInt)
}
