package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** PageRank fixed-point arithmetic vs a plain-Scala re-derivation on a
  * hand-checkable graph — the distributed scatter/gather must equal the
  * sequential integer recurrence exactly (that exactness is what lets
  * q115 hash-gate the estimates against DuckDB). */
class PageRankSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("3 iterations on a star+chain graph match the sequential integer math") {
    val sp = spark
    import sp.implicits._
    // hub 0 ← leaves 1,2,3 (leaves point at the hub); hub points at 4;
    // 4 → 5 chain tail; 5 is dangling (keeps base)
    val edges = Seq((1L, 0L), (2L, 0L), (3L, 0L), (0L, 4L), (4L, 5L))
    val got = PageRank.run(edges.toDF("src", "dst"), 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val deg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val init = PageRank.Scale / nodes.size
    val base = 15L * init / 100L
    var rank = nodes.map(_ -> init).toMap
    for (_ <- 1 to 3) {
      val in = edges.groupBy(_._2).view.mapValues(
        _.map { case (s, _) => rank(s) / deg(s) }.sum).toMap
      rank = nodes.map(n => n -> (base + 85L * in.getOrElse(n, 0L) / 100L)).toMap
    }
    assert(got == rank)
    // structure sanity: the hub out-ranks every leaf, and the chain
    // tail (which accumulates the hub's flow) out-ranks the leaves
    assert(got(0L) > got(1L) && got(5L) > got(1L))
  }

  test("table mode (bucketed durable round tables) ranks are bit-identical to local mode") {
    import org.apache.spark.sql.functions.col
    import graft.Materialize
    // deterministic scale-free-ish digraph: 20k edges over 4k nodes
    val edges = spark.range(0, 20000).select(
      (col("id") % 4000).as("src"),
      ((col("id") * 2654435761L + 17) % 4000).as("dst"))
    def ranks(): Seq[(Long, Long)] = PageRank.run(edges, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val local = ranks()
    // broadcast off: the round joins must take the shuffle-join path
    // over the bucketed read-back, the layout a large graph gets
    val keys = Seq(Materialize.ModeKey, Materialize.DirKey,
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set(Materialize.ModeKey, "table")
    spark.conf.set(Materialize.DirKey,
      java.nio.file.Files.createTempDirectory("graft-pagerank-table").toString)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val table = try ranks() finally {
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      Materialize.cleanup(spark)
    }
    assert(local.size == 4000 && table.size == local.size, s"${table.size} table-mode ranks")
    val differing = local.zip(table).count { case (l, t) => l != t }
    assert(differing == 0, s"$differing of ${local.size} ranks differ from local mode")
  }
}
