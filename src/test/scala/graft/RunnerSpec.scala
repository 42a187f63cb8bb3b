package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The mains' shared harness: [[Runner]]'s stage-level shuffle and
  * spill totals, its failure capture and per-run reset, and
  * [[SparkEntry.select]]'s check of query names. */
class RunnerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val run = new Runner(spark)

  test("a repartitioned range reports every shuffled record") {
    val r = run(Runner.noop(spark.range(0, 1000, 1, 4).repartition(3)))
    assert(r.ok && r.secs > 0)
    assert(r.totals.shuffleRecords == 1000, r.totals)
    assert(r.totals.shuffleBytes > 0, r.totals)
  }

  test("a window forced past its buffer spill threshold reports spilled bytes") {
    val key = "spark.sql.windowExec.buffer.spill.threshold"
    spark.conf.set(key, "1000")
    val r =
      try run(Runner.noop(spark.range(0, 20000, 1, 2).withColumn("k", col("id") % 2)
        .withColumn("s", sum("id").over(Window.partitionBy("k")))))
      finally spark.conf.unset(key)
    assert(r.ok, r.error)
    assert(r.totals.diskBytesSpilled > 0, r.totals)
    assert(r.totals.memoryBytesSpilled > 0, r.totals)
  }

  test("a failure comes back with its time; the next run's totals start at 0") {
    val failed = run {
      Runner.noop(spark.range(0, 1000, 1, 4).repartition(3))
      throw new IllegalStateException("boom")
    }
    assert(!failed.ok && failed.error.contains("boom"))
    assert(failed.secs > 0)
    // the stages that completed before the failure are still counted
    assert(failed.totals.shuffleRecords == 1000, failed.totals)
    val next = run(42)
    assert(next.result == Right(42))
    assert(next.totals == StageTotals(0L, 0L, 0L, 0L))
  }

  test("select returns the named queries and names every unknown one") {
    assert(SparkEntry.select(Seq("q1_pricing_summary")).keySet == Set("q1_pricing_summary"))
    val e = intercept[IllegalArgumentException](
      SparkEntry.select(Seq("q115_pagerankk", "q1_pricing_summary", "q_nope")))
    assert(e.getMessage.contains("q115_pagerankk") && e.getMessage.contains("q_nope"), e.getMessage)
    assert(!e.getMessage.contains("q1_pricing_summary"), e.getMessage)
  }
}
