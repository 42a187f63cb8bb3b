package graft.sources

import java.util
import scala.collection.mutable
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** W11 — live source adapter, the Spark-native analogue of the
  * reference's websocket adapter (examples/csp/03_using_adapters/
  * websocket/e1_websocket_client.py:10-18: an async generator wrapping an
  * external feed, yielding `(now, msg)`).
  *
  * `graft-feed` is a full DataSource V2 `MicroBatchStream`: an external
  * producer pushes `(event_time, value)` records into a named in-process
  * feed ([[GraftFeed.push]] — in production this is the socket/AMQP/
  * exchange-API callback), and Spark consumes it as a streaming table:
  *
  * {{{
  *   GraftFeed.push("quotes", tsUs, "ETH 123.4")
  *   spark.readStream.format("graft-feed").option("feed", "quotes").load()
  *     // schema: ts TIMESTAMP, value STRING, seq BIGINT
  * }}}
  *
  * Replayability & retention (the Kafka model): offsets are absolute
  * record sequence numbers, so checkpoint recovery re-reads exact ranges
  * (the property [[graft.streaming.Crossover]] relies on), and
  * `Trigger.AvailableNow` drains the backlog at maximum speed — the
  * reference's past→live semantics for an adapter-fed stream. The buffer
  * is NOT retained forever: `option("retention", n)` keeps at most `n`
  * records behind the committed offset — on every epoch commit the feed
  * trims to `committed - n`, so a long-running live query holds bounded
  * memory. Reading below the trim point fails fast (the Kafka
  * "offset out of range", not silent skipping). Default retention is
  * unbounded for full from-zero replayability in tests/demos; a
  * production deployment of this contract is a durable log (Kafka) —
  * this adapter demonstrates the DSv2 mechanics against an in-process
  * feed.
  *
  * Sharding (the Kafka layout): `option("shards", "a,b,c")` consumes N
  * feeds as ONE streaming table — the offset is a per-shard map of
  * shard name → record count (serialized as JSON, so a restart validates
  * the restored shard SET against the configured one and fails fast on
  * rename/resize instead of silently misassigning counts; reordering the
  * option is harmless since counts are looked up by name).
  * `planInputPartitions` emits one InputPartition per advanced shard
  * (records of different shards are read by different executor cores in
  * parallel), and a `shard` provenance column is appended. This is how N
  * consumer connections (N websockets, N exchange sessions) fan out on a
  * cluster; the single-feed form keeps its scalar offsets (pre-existing
  * checkpoints stay readable, as do legacy positional `[2,3]` vectors).
  *
  * Admission control: `option("maxPerTrigger", n)` bounds each
  * micro-batch to `n` records across shards (`SupportsAdmissionControl`
  * — the Kafka `maxOffsetsPerTrigger` model), so recovering from a long
  * outage never builds one batch sized by the outage. The source also
  * implements `SupportsTriggerAvailableNow`: `Trigger.AvailableNow`
  * freezes the drain target at query start and backfills it in bounded
  * batches — [[graft.streaming.Crossover]]'s replay phase at scale.
  */
object GraftFeed {
  final case class Rec(tsUs: Long, value: String, seq: Long)

  /** A feed's live window: `base` = seq of buf.head (everything below is
    * trimmed), absolute size = base + buf.length. */
  private final class Feed {
    var base: Long = 0L
    val buf: mutable.ArrayBuffer[Rec] = mutable.ArrayBuffer.empty[Rec]
  }
  private val feeds = new java.util.concurrent.ConcurrentHashMap[String, Feed]()

  private def feed(name: String): Feed =
    feeds.computeIfAbsent(name, _ => new Feed)

  /** Producer side: append one record (thread-safe, monotone seq). */
  def push(name: String, tsUs: Long, value: String): Long = {
    val f = feed(name)
    f.synchronized {
      val seq = f.base + f.buf.length
      f.buf += Rec(tsUs, value, seq)
      seq
    }
  }

  /** Absolute record count ever pushed (trim does not move it). */
  private[sources] def size(name: String): Long =
    { val f = feed(name); f.synchronized(f.base + f.buf.length) }

  /** Read [from, until) by absolute seq; fails fast if the range was
    * trimmed past (increase retention — the Kafka offset-out-of-range). */
  private[sources] def range(name: String, from: Long, until: Long): Array[Rec] = {
    val f = feed(name)
    f.synchronized {
      if (from < f.base)
        throw new IllegalStateException(
          s"graft-feed '$name': records [$from, ${f.base}) already trimmed " +
            s"(retention too small for this replay)")
      f.buf.slice((from - f.base).toInt, (until - f.base).toInt).toArray
    }
  }

  /** Drop records with seq < keepFrom (no-op if already trimmed past). */
  private[sources] def trimTo(name: String, keepFrom: Long): Unit = {
    val f = feed(name)
    f.synchronized {
      val drop = (keepFrom - f.base).toInt
      if (drop > 0) {
        f.buf.remove(0, math.min(drop, f.buf.length))
        f.base = math.max(f.base, math.min(keepFrom, f.base + drop))
      }
    }
  }

  /** Records currently held in memory (test hook for retention bounds). */
  private[sources] def retained(name: String): Int =
    { val f = feed(name); f.synchronized(f.buf.length) }

  /** Test hook. */
  def clear(name: String): Unit = {
    val f = feed(name); f.synchronized { f.buf.clear(); f.base = 0L }
  }

  val schema: StructType = StructType(Seq(
    StructField("ts", TimestampType, nullable = false),
    StructField("value", StringType, nullable = false),
    StructField("seq", LongType, nullable = false)))

  /** Sharded form: per-record provenance. `seq` is per-shard. */
  val shardedSchema: StructType = schema.add(StructField("shard", StringType, nullable = false))
}

/** `format("graft-feed")` entry point (also registered for service
  * lookup via META-INF, but usable by fully-qualified name regardless:
  * `format(classOf[GraftFeedProvider].getName)`). */
class GraftFeedProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-feed"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    if (options.containsKey("shards")) GraftFeed.shardedSchema else GraftFeed.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    // DSv2 options are case-insensitive by convention (the Kafka model
    // this source cites) — a miscased option must not silently disable
    // the feature it names
    val opts = new CaseInsensitiveStringMap(properties)
    val retention = Option(opts.get("retention")).map(_.trim.toLong)
      .getOrElse(Long.MaxValue)
    require(retention > 0, s"retention must be positive, got $retention")
    val maxPerTrigger = Option(opts.get("maxPerTrigger")).map(_.trim.toLong)
      .getOrElse(Long.MaxValue)
    require(maxPerTrigger > 0, s"maxPerTrigger must be positive, got $maxPerTrigger")
    val shardsOpt = opts.get("shards")
    val (shards, sharded) =
      if (shardsOpt != null) (shardsOpt.split(",").map(_.trim).toSeq, true)
      else (Seq(opts.getOrDefault("feed", "default")), false)
    // simple names keep the hand-rolled offset JSON trivially well-formed
    shards.foreach(s => require(s.matches("[A-Za-z0-9._-]+"),
      s"feed/shard names must match [A-Za-z0-9._-]+, got '$s'"))
    // a duplicated shard name would pass the offset round-trip (sets
    // dedupe) while planInputPartitions emits the shard TWICE — silent
    // double-read of every record; reject loudly instead
    require(shards.distinct.size == shards.size,
      s"duplicate shard names in '${shards.mkString(",")}'")
    new GraftFeedTable(shards, sharded, retention, maxPerTrigger)
  }
}

class GraftFeedTable(shards: Seq[String], sharded: Boolean, retention: Long,
                     maxPerTrigger: Long = Long.MaxValue)
    extends Table with SupportsRead {
  private def tableSchema = if (sharded) GraftFeed.shardedSchema else GraftFeed.schema
  override def name(): String = s"graft-feed(${shards.mkString(",")})"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = tableSchema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new GraftFeedStream(shards, sharded, retention, maxPerTrigger)
      }
    }
}

/** Per-shard record counts keyed by shard NAME. Serializations kept
  * readable: single-feed = bare count (scalar), sharded = `{"a":2,...}`
  * name→count map. */
final case class GraftFeedOffset(counts: Seq[(String, Long)], scalar: Boolean) extends Offset {
  override def json(): String =
    if (scalar) counts.head._2.toString
    else counts.map { case (n, c) => s""""$n":$c""" }.mkString("{", ",", "}")
}

class GraftFeedStream(shards: Seq[String], sharded: Boolean, retention: Long,
                      maxPerTrigger: Long = Long.MaxValue)
    extends MicroBatchStream with SupportsAdmissionControl with SupportsTriggerAvailableNow {
  private val scalar = !sharded
  private def offset(counts: Seq[Long]) = GraftFeedOffset(shards.zip(counts), scalar)

  /** `Trigger.AvailableNow`: the drain target is FROZEN at query start
    * (records pushed after this are for the next run) and the backlog is
    * consumed in admission-controlled micro-batches up to it — the
    * engine's native incremental backfill, not one giant batch. */
  @volatile private var availableNowBound: Option[Map[String, Long]] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowBound = Some(shards.map(n => n -> GraftFeed.size(n)).toMap)

  private def available(name: String): Long = {
    val s = GraftFeed.size(name)
    availableNowBound.map(b => math.min(s, b(name))).getOrElse(s)
  }

  /** Admission control (the Kafka `maxOffsetsPerTrigger` model): a huge
    * backlog on the live path is consumed in bounded micro-batches
    * instead of one batch sized by the outage — bounded executor memory,
    * steady checkpoint cadence. The cap is spread PROPORTIONALLY to each
    * shard's lag (Kafka's rate-limit split): a greedy in-shard-order
    * spread would drain one shard arbitrarily far ahead of the others,
    * so a watermarked downstream (every stateful op) sees the lead
    * shard's event time race ahead and the trailing shards' rows arrive
    * late-by-construction. Proportional spread keeps per-shard lag — and
    * therefore cross-shard event-time skew — balanced while backfilling.
    * Floor shares first, remainder distributed in shard order:
    * deterministic, Σ = cap, every shard drains within finitely many
    * batches. */
  override def getDefaultReadLimit: ReadLimit =
    if (maxPerTrigger == Long.MaxValue) ReadLimit.allAvailable()
    else ReadLimit.maxRows(maxPerTrigger)

  private def maxRowsOf(limit: ReadLimit): Long = limit match {
    case r: ReadMaxRows       => r.maxRows()
    case c: CompositeReadLimit =>
      c.getReadLimits.collectFirst { case r: ReadMaxRows => r.maxRows() }
        .getOrElse(Long.MaxValue)
    case _                    => Long.MaxValue
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[GraftFeedOffset].counts.toMap
    val cap = maxRowsOf(limit)
    val lags = shards.map(n => n -> math.max(0L, available(n) - from(n)))
    val totalLag = lags.map(_._2).sum
    val take: Map[String, Long] =
      if (totalLag <= cap) lags.toMap
      else {
        // BigInt: cap·lag would overflow Long for large backlogs
        val base = mutable.LinkedHashMap(lags.map { case (n, l) =>
          n -> (BigInt(cap) * l / totalLag).toLong }: _*)
        var left = cap - base.values.sum // < #shards, from the floors
        lags.foreach { case (n, l) =>
          val add = math.min(left, l - base(n))
          if (add > 0) { base(n) += add; left -= add }
        }
        base.toMap
      }
    offset(shards.map(n => from(n) + take(n)))
  }

  /** True head of each feed, uncapped — backlog metrics in progress
    * reports stay honest while admission control paces consumption. */
  override def reportLatestOffset(): Offset = offset(shards.map(GraftFeed.size))

  override def initialOffset(): Offset = offset(shards.map(_ => 0L))
  override def latestOffset(): Offset = offset(shards.map(GraftFeed.size))

  /** Restores scalar, named-map, and legacy positional-vector forms; the
    * named form validates the shard SET (rename/resize fails fast instead
    * of silently applying counts to the wrong shards; reorder is fine). */
  override def deserializeOffset(json: String): Offset = {
    val t = json.trim
    if (t.startsWith("{")) {
      val m = t.stripPrefix("{").stripSuffix("}").split(",").filter(_.nonEmpty)
        .map { kv =>
          val Array(k, v) = kv.split(":", 2)
          k.trim.stripPrefix("\"").stripSuffix("\"") -> v.trim.toLong
        }.toMap
      if (m.keySet != shards.toSet)
        throw new IllegalStateException(
          s"graft-feed checkpoint shards ${m.keySet.toSeq.sorted.mkString("[", ",", "]")} " +
            s"do not match configured shards ${shards.sorted.mkString("[", ",", "]")}; " +
            "restore with the original shard set")
      offset(shards.map(m))
    } else if (t.startsWith("[")) { // legacy positional vector
      val v = t.stripPrefix("[").stripSuffix("]").split(",")
        .filter(_.nonEmpty).map(_.trim.toLong).toSeq
      if (v.length != shards.length)
        throw new IllegalStateException(
          s"graft-feed legacy checkpoint has ${v.length} shards, " +
            s"configured ${shards.length}; counts cannot be assigned by position")
      offset(v)
    } else {
      // legacy scalar form carries one unnamed feed's count — restoring it
      // onto a multi-shard config would zip-truncate and fail later with an
      // opaque lookup error; fail fast like the named/positional forms
      if (shards.length != 1)
        throw new IllegalStateException(
          s"graft-feed scalar legacy checkpoint (offset $t) cannot be " +
            s"restored onto ${shards.length} configured shards " +
            s"${shards.sorted.mkString("[", ",", "]")}; restore with a single shard")
      offset(Seq(t.toLong))
    }
  }

  /** Epoch committed: everything below `committed - retention` can never
    * be re-read by THIS query — trim it so a long-running live query
    * holds bounded memory (no-op at the unbounded default). */
  override def commit(end: Offset): Unit =
    if (retention != Long.MaxValue)
      end.asInstanceOf[GraftFeedOffset].counts.foreach { case (name, c) =>
        GraftFeed.trimTo(name, math.max(0L, c - retention))
      }

  override def stop(): Unit =
    if (currentBatch != null) { currentBatch.unpersist(blocking = false); currentBatch = null }

  /** The feed singleton lives in the DRIVER JVM only, so each batch's
    * record ranges are resolved HERE (driver-side planning) and shipped
    * to executors as ONE torrent BROADCAST per micro-batch, with each
    * InputPartition carrying only its shard name + the broadcast
    * handle. Two wrong designs this replaces, both caught by standing
    * gates: resolving by name in the reader factory reads an EMPTY
    * executor-local map under real process boundaries (local-cluster
    * gate — silent zero rows); embedding the rows in the partitions
    * puts the WHOLE batch inside the taskBinary broadcast
    * (DataSourceRDD serializes its partition list into the stage RDD),
    * tripping the >1000 KiB task-binary gate at a 50k trigger — a
    * proper broadcast ships a tiny handle per task and the records
    * once per executor. The previous batch's broadcast is released at
    * the next planning call (micro-batches execute sequentially;
    * unpersist, not destroy, so a stray late retry can still refetch
    * from the driver). */
  @transient private var currentBatch
      : org.apache.spark.broadcast.Broadcast[Map[String, Array[GraftFeed.Rec]]] = null

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftFeedOffset].counts.toMap
    val e = end.asInstanceOf[GraftFeedOffset].counts.toMap
    val advanced = shards.filter(n => e(n) > s(n))
    val data = advanced.map(n => n -> GraftFeed.range(n, s(n), e(n))).toMap
    if (currentBatch != null) currentBatch.unpersist(blocking = false)
    currentBatch = org.apache.spark.sql.SparkSession.active
      .sparkContext.broadcast(data)
    advanced.iterator // one advanced shard = one partition
      .map(n => GraftFeedPartition(n, currentBatch, sharded): InputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    (p: InputPartition) => {
      val gp = p.asInstanceOf[GraftFeedPartition]
      val rows = gp.batch.value(gp.feed)
      // one partition reads one shard: its name is the same on every row
      val shard = if (gp.emitShard) UTF8String.fromString(gp.feed) else null
      new PartitionReader[InternalRow] {
        private var i = -1
        override def next(): Boolean = { i += 1; i < rows.length }
        override def get(): InternalRow = {
          val r = rows(i)
          if (shard != null) InternalRow(r.tsUs, UTF8String.fromString(r.value), r.seq, shard)
          else InternalRow(r.tsUs, UTF8String.fromString(r.value), r.seq)
        }
        override def close(): Unit = ()
      }
    }
}

final case class GraftFeedPartition(
    feed: String,
    batch: org.apache.spark.broadcast.Broadcast[Map[String, Array[GraftFeed.Rec]]],
    emitShard: Boolean) extends InputPartition
