package graft

import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.{CyclicBarrier, Executors}
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.util.Try
import org.apache.spark.sql.graft.SessionShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, min}
import org.apache.spark.sql.types.LongType
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Tables

/** `Tables.table` reuses each table's inferred schema within a session.
  * Pinned here: the reused schema is exactly the inferred one, every load
  * is still a fresh relation over a fresh file listing, the parquet confs
  * are part of the key, concurrent first loads agree, and a cached load
  * runs no Spark job. */
class TablesSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"
  private val names = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** A session with an empty schema cache and the fixtures' parquet confs. */
  private def freshSession(): SparkSession = {
    val s = TestSpark.spark.newSession()
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    s
  }

  // StructField equality covers name, type, nullability and metadata
  test("the cached schema of every fixture table equals the inferred one") {
    val s = freshSession()
    for (n <- names) {
      val inferred = s.read.parquet(s"$sf/$n.parquet").schema
      assert(Tables.table(s, sf, n).schema == inferred, n)
      assert(Tables.table(s, sf, n).schema == inferred, n)
    }
  }

  test("two loads of one table are distinct relations that self-join") {
    val s = freshSession()
    val a = Tables.orders(s, sf)
    val b = Tables.orders(s, sf)
    val ids = (df: DataFrame) => df.queryExecution.analyzed.output.map(_.exprId).toSet
    assert(ids(a).intersect(ids(b)).isEmpty)
    val n = s.read.parquet(s"$sf/orders.parquet").count()
    assert(a.join(b, a("o_orderkey") === b("o_orderkey")).count() == n)
  }

  test("a table rewritten in place is read with its new schema and rows") {
    val s = freshSession()
    val dir = Files.createTempDirectory("tables-spec")
    // one parquet file, as the fixtures are
    def writeFile(df: DataFrame): Unit = {
      val out = dir.resolve("out")
      df.coalesce(1).write.mode("overwrite").parquet(out.toString)
      val part = Files.list(out).filter(_.getFileName.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.copy(part, dir.resolve("t.parquet"), StandardCopyOption.REPLACE_EXISTING)
    }
    try {
      writeFile(s.range(10).toDF("k"))
      assert(Tables.table(s, dir.toString, "t").count() == 10)

      writeFile(s.range(100).toDF("k").withColumn("v", col("k") * 2))
      val widened = Tables.table(s, dir.toString, "t")
      assert(widened.columns.toSeq == Seq("k", "v"))
      assert(widened.count() == 100)
      assert(widened.filter(col("v") === 198).count() == 1)

      writeFile(s.range(1000, 1050).toDF("k").withColumn("v", lit(7L)))
      val same = Tables.table(s, dir.toString, "t")
      assert(same.count() == 50)
      assert(same.agg(min("k")).head.getLong(0) == 1000L)
    } finally {
      Files.walk(dir).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
    }
  }

  /** `$dir/$name.parquet` with one TIMESTAMP(NANOS) column `ts`, which
    * Spark cannot write itself: the encoding `nanosAsLong` exists for. */
  private def writeNanos(dir: java.nio.file.Path, name: String): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      "message t { required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter.builder(new Path(dir.resolve(s"$name.parquet").toString))
      .withType(schema).build()
    val rows = new SimpleGroupFactory(schema)
    try Seq(1000L, 2000L, 3000L).foreach(ns => w.write(rows.newGroup().append("ts", ns)))
    finally w.close()
  }

  // Spark rejects this column under nanosAsLong=false even when a schema
  // is supplied, so this test alone cannot tell a conf-less key apart;
  // the inferTimestampNTZ test below fails without the conf in the key.
  test("the parquet confs are part of the key: nanosAsLong flips a nanosecond ts") {
    val s = freshSession()
    val dir = Files.createTempDirectory("tables-spec-ns")
    try {
      writeNanos(dir, "ev")
      val asLong = Tables.table(s, dir.toString, "ev")
      assert(asLong.schema("ts").dataType == LongType)
      assert(asLong.count() == 3)
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
      val expected = Try(s.read.parquet(s"$dir/ev.parquet").schema)
      val got = Try(Tables.table(s, dir.toString, "ev").schema)
      assert(got.isSuccess == expected.isSuccess, s"$got vs $expected")
      if (expected.isSuccess) assert(got.get == expected.get)
      else assert(got.failed.get.getMessage == expected.failed.get.getMessage)
      assert(!got.toOption.exists(_("ts").dataType == LongType))
    } finally {
      Files.walk(dir).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
    }
  }

  test("the parquet confs are part of the key: inferTimestampNTZ flips events.ts") {
    val s = freshSession()
    val ntz = Tables.table(s, sf, "events").schema("ts").dataType
    s.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    val expected = s.read.parquet(s"$sf/events.parquet").schema
    assert(expected("ts").dataType != ntz)
    assert(Tables.table(s, sf, "events").schema == expected)
  }

  test("concurrent first loads of one table agree on schema and rows") {
    val s = freshSession()
    val expected = s.read.parquet(s"$sf/lineitem.parquet")
    val (schema, rows) = (expected.schema, expected.count())
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val barrier = new CyclicBarrier(4)
    try {
      val loads = Future.sequence((1 to 4).map { _ => Future {
        barrier.await()
        val df = Tables.lineitem(s, sf)
        (df.schema, df.count())
      }})
      val got = Await.result(loads, 2.minutes)
      assert(got.forall(_ == (schema, rows)))
    } finally pool.shutdown()
  }

  test("counted gate: a table's first load runs one Spark job, the next runs none") {
    val s = freshSession()
    val sc = s.sparkContext
    val group = s"tables-spec-${System.nanoTime()}"
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "tables-spec counted gate")
    try {
      def jobsOf(load: => DataFrame): Int = {
        SessionShim.drainListenerBus(sc)
        val before = jobs.get()
        load
        SessionShim.drainListenerBus(sc)
        jobs.get() - before
      }
      assert(jobsOf(Tables.orders(s, sf)) == 1)
      assert(jobsOf(Tables.orders(s, sf)) == 0)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
