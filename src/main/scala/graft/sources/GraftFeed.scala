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
  *
  * Storage: each feed keeps its records packed in append-only byte
  * chunks, in the layout its broadcasts ship (`tsUs`, `seq`, UTF-8
  * length, UTF-8 bytes per record, big-endian), with no object per
  * record: [[push]] encodes a value once, and a range is located by its
  * chunks' first seqs and the length prefixes inside one chunk. Trim is
  * record-exact, but memory is freed a whole chunk at a time, so a
  * trimmed feed holds its window plus at most the partly trimmed oldest
  * chunk and the free tail of the newest.
  *
  * Handoff to executors: a micro-batch's offset range is planned once
  * (Spark asks `planInputPartitions` four times per batch; repeats of
  * the same range reuse the first answer) into ONE broadcast holding
  * each advanced shard's records as one packed byte array, copied
  * straight out of its chunks. The reader walks that array and takes
  * each value as a `UTF8String` view of its bytes. See
  * [[GraftFeedStream]]'s `currentBatch` for why both.
  */
object GraftFeed {
  /** Bytes of a packed record before its value: tsUs, seq, value length. */
  private val PackedHeader = 8 + 8 + 4
  /** The largest byte array the JVM allocates. */
  private val MaxPacked = Int.MaxValue - 8
  /** The size of every chunk, except for a record that alone exceeds it. G1
    * gives an array of half a region or more ("humongous") whole regions
    * to itself, and 1 MiB is G1's smallest region (the size on a 3 GB
    * heap). In a probe of 250k bench-shaped records, 1 MiB chunks, each
    * filling two regions, retained 137 B per record, more than one object
    * per record did (103 B); 256 KiB chunks retained 53 B. */
  private[sources] val ChunkCap = 256 << 10

  /** Records `first`, `first + 1`, ... packed in `bytes[0, used)`. */
  private final class Chunk(val first: Long, capacity: Int) {
    val bytes: java.nio.ByteBuffer = java.nio.ByteBuffer.allocate(capacity)
    var count: Int = 0
    def used: Int = bytes.position()
    def end: Long = first + count
  }

  /** A feed's live window: records [`base`, `next`), held by `chunks` in
    * seq order. The oldest chunk may still hold trimmed records below
    * `base`; no chunk lies wholly below it. */
  private final class Feed {
    var base: Long = 0L
    var next: Long = 0L
    val chunks: mutable.ArrayBuffer[Chunk] = mutable.ArrayBuffer.empty[Chunk]
  }
  private val feeds = new java.util.concurrent.ConcurrentHashMap[String, Feed]()

  private def feed(name: String): Feed =
    feeds.computeIfAbsent(name, _ => new Feed)

  /** Producer side: append one record (thread-safe, monotone seq). */
  def push(name: String, tsUs: Long, value: String): Long = {
    val utf8 = value.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val need = PackedHeader + utf8.length
    val f = feed(name)
    f.synchronized {
      val seq = f.next
      if (f.chunks.isEmpty || f.chunks.last.bytes.remaining < need)
        f.chunks += new Chunk(seq, math.max(need, ChunkCap))
      val c = f.chunks.last
      c.bytes.putLong(tsUs).putLong(seq).putInt(utf8.length).put(utf8)
      c.count += 1
      f.next = seq + 1
      seq
    }
  }

  /** Absolute record count ever pushed (trim does not move it). */
  private[sources] def size(name: String): Long =
    { val f = feed(name); f.synchronized(f.next) }

  /** Chunk index and byte offset of record `seq`, for `f.base <= seq <=
    * f.next`: the chunk is found by its first seq, the offset by walking
    * the length prefixes inside that one chunk. */
  private def locate(f: Feed, seq: Long): (Int, Int) = {
    var lo = 0
    var hi = f.chunks.length - 1
    while (lo < hi) { // the last chunk whose first seq is <= seq
      val mid = (lo + hi + 1) >>> 1
      if (f.chunks(mid).first <= seq) lo = mid else hi = mid - 1
    }
    val c = f.chunks(lo)
    if (seq == c.end) (lo, c.used)
    else {
      var pos = 0
      var k = c.first
      // each record's value length follows its tsUs and seq
      while (k < seq) { pos += PackedHeader + c.bytes.getInt(pos + 16); k += 1 }
      (lo, pos)
    }
  }

  /** Records [from, until) of `name` as one packed byte array, the bytes
    * its broadcast ships and [[PackedReader]] reads. Fails fast if the
    * range was trimmed past (increase retention — the Kafka
    * offset-out-of-range). */
  private[sources] def packedRange(name: String, from: Long, until: Long): Array[Byte] = {
    val f = feed(name)
    f.synchronized {
      if (from < f.base)
        throw new IllegalStateException(
          s"graft-feed '$name': records [$from, ${f.base}) already trimmed " +
            s"(retention too small for this replay)")
      require(from <= until && until <= f.next,
        s"graft-feed '$name': range [$from, $until) is not within [${f.base}, ${f.next})")
      if (from == until) Array.emptyByteArray
      else {
        val (ci, cpos) = locate(f, from)
        val (ei, epos) = locate(f, until)
        def span(i: Int): (Int, Int) =
          (if (i == ci) cpos else 0, if (i == ei) epos else f.chunks(i).used)
        val bytes = (ci to ei).foldLeft(0L) { (n, i) => val (a, b) = span(i); n + b - a }
        val records = until - from
        val out = new Array[Byte](packedSize(name, records, bytes - records * PackedHeader))
        var at = 0
        (ci to ei).foreach { i =>
          val (a, b) = span(i)
          System.arraycopy(f.chunks(i).bytes.array(), a, out, at, b - a)
          at += b - a
        }
        out
      }
    }
  }

  /** Drop records with seq < keepFrom (no-op if already trimmed past;
    * never past the next seq), and every chunk wholly below them. */
  private[sources] def trimTo(name: String, keepFrom: Long): Unit = {
    val f = feed(name)
    f.synchronized {
      f.base = math.max(f.base, math.min(keepFrom, f.next))
      val drop = f.chunks.indexWhere(_.end > f.base)
      f.chunks.remove(0, if (drop < 0) f.chunks.length else drop)
    }
  }

  /** Records currently in the window (test hook for retention bounds). */
  private[sources] def retained(name: String): Int =
    { val f = feed(name); f.synchronized((f.next - f.base).toInt) }

  /** Bytes the feed's chunks hold, their summed capacities (test hook). */
  private[sources] def retainedBytes(name: String): Long =
    { val f = feed(name); f.synchronized(f.chunks.foldLeft(0L)(_ + _.bytes.capacity)) }

  /** First seq of each chunk, oldest first (test hook). */
  private[sources] def chunkStarts(name: String): Seq[Long] =
    { val f = feed(name); f.synchronized(f.chunks.map(_.first).toSeq) }

  /** Packed size of `records` records whose values hold `valueBytes`
    * UTF-8 bytes in all; fails rather than wrap past one array's size. */
  private[sources] def packedSize(shard: String, records: Long, valueBytes: Long): Int = {
    val size = records * PackedHeader + valueBytes
    if (size > MaxPacked)
      throw new IllegalStateException(
        s"graft-feed shard '$shard': $records records pack to $size bytes, over the " +
          s"$MaxPacked-byte limit of one micro-batch shard; lower maxPerTrigger")
    size.toInt
  }

  /** Reads back a packed range, one row of `schema` per record, or of
    * `shardedSchema` when `shard` is non-null. Each value is a view of
    * `packed`'s bytes, not a copy. */
  private[sources] final class PackedReader(packed: Array[Byte], shard: UTF8String)
      extends PartitionReader[InternalRow] {
    private val buf = java.nio.ByteBuffer.wrap(packed)
    private var row: InternalRow = _
    override def next(): Boolean = buf.hasRemaining && {
      val tsUs = buf.getLong()
      val seq = buf.getLong()
      val len = buf.getInt()
      val value = UTF8String.fromBytes(packed, buf.position(), len)
      buf.position(buf.position() + len)
      row = if (shard != null) InternalRow(tsUs, value, seq, shard)
        else InternalRow(tsUs, value, seq)
      true
    }
    override def get(): InternalRow = row
    override def close(): Unit = ()
  }

  /** Empties the feed: frees its chunks, and the next push gets seq 0.
    * Tests, perfbench and StreamBench call it to free a feed they are
    * done with; `feeds` keeps the name. */
  def clear(name: String): Unit = {
    val f = feed(name)
    f.synchronized { f.chunks.clear(); f.base = 0L; f.next = 0L }
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

  override def stop(): Unit = synchronized {
    if (currentBatch != null) { currentBatch.unpersist(blocking = false); currentBatch = null }
    plannedRange = null
    plannedParts = null
  }

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
    * once per executor.
    *
    * The broadcast value is one packed byte array per advanced shard,
    * a copy of the feed's own chunk bytes (`GraftFeed.packedRange`): the
    * feed stores records in the layout the reader walks, so planning a
    * batch copies bytes, with no object per record to build or
    * serialize, and the reader builds each value straight from the
    * bytes instead of re-encoding a `String` per row.
    *
    * Planned ONCE per offset range: Spark calls `planInputPartitions`
    * four times per micro-batch (`DataSourceV2Strategy` and
    * `RemoveRedundantProjects` each ask their own copy of the scan node
    * for its partitions, in both the execution plan and the plan string
    * of the progress report). Repeating the same `(start, end)` returns
    * the same partitions and broadcast; a range's records never change
    * once pushed (seqs are absolute, the feed only appends), so the
    * memo can never serve stale data. Without it every call would
    * broadcast a fresh packed copy, and `unpersist` removes executor
    * copies only, never the driver's (in `local` mode, every copy):
    * each stays on the driver heap until `ContextCleaner` collects its
    * handle, so four copies per batch would raise the heap peak. The
    * previous range's broadcast is unpersisted when a new range is
    * planned (micro-batches execute sequentially; unpersist, not
    * destroy, so a stray late retry can still refetch from the driver). */
  @transient private var currentBatch
      : org.apache.spark.broadcast.Broadcast[Map[String, Array[Byte]]] = null
  @transient private var plannedRange: (Offset, Offset) = null
  @transient private var plannedParts: Array[InputPartition] = null

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = synchronized {
    if (plannedRange != (start, end)) {
      val s = start.asInstanceOf[GraftFeedOffset].counts.toMap
      val e = end.asInstanceOf[GraftFeedOffset].counts.toMap
      val advanced = shards.filter(n => e(n) > s(n))
      val data = advanced.map(n => n -> GraftFeed.packedRange(n, s(n), e(n))).toMap
      if (currentBatch != null) currentBatch.unpersist(blocking = false)
      currentBatch = org.apache.spark.sql.SparkSession.active
        .sparkContext.broadcast(data)
      plannedParts = advanced.iterator // one advanced shard = one partition
        .map(n => GraftFeedPartition(n, currentBatch, sharded): InputPartition)
        .toArray
      plannedRange = (start, end)
    }
    plannedParts
  }

  override def createReaderFactory(): PartitionReaderFactory =
    (p: InputPartition) => {
      val gp = p.asInstanceOf[GraftFeedPartition]
      // one partition reads one shard: its name is the same on every row
      new GraftFeed.PackedReader(gp.batch.value(gp.feed),
        if (gp.emitShard) UTF8String.fromString(gp.feed) else null)
    }
}

/** One advanced shard of a planned range: its name and the handle of
  * the range's broadcast, which maps each shard to its packed records. */
final case class GraftFeedPartition(
    feed: String,
    batch: org.apache.spark.broadcast.Broadcast[Map[String, Array[Byte]]],
    emitShard: Boolean) extends InputPartition
