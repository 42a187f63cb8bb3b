package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-fixture generator: replicate the driver's sf tables K× with
  * shifted key spaces, so scaling behavior can be MEASURED instead of
  * argued (SCALING.md). Usage:
  *
  *   runMain graft.ScaleUp <srcSfDir> <outDir> <K>
  *
  * Replication rules (replica 0 is the original, so literal probe/seed
  * sets — ANN queries vec_id 10..15, codebook seeds, q116's bounded
  * ground truth — keep their original size while the corpus grows K×,
  * which is exactly the index-scale path being measured):
  *  - every fact-table key shifts by replica × a power-of-ten stride
  *    (foreign keys shift together, so join fan-out per key is unchanged);
  *  - `documents.text` in replica k>0 gets every word suffixed `_k` —
  *    a bijection on the shingle space, so WITHIN-replica near-dup
  *    structure is preserved exactly while cross-replica Jaccard drops
  *    to 0: the true near-dup pair count scales K×, not K²×;
  *  - `events.ts` is unchanged (same time span, K× the users — window /
  *    session density per key constant, the distributed-scaling shape);
  *  - region/nation are dimensions: copied once, unshifted.
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val (src, out, k) = (args(0), args(1), args(2).toInt)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = graft.core.Tables.sessionBuilder(cpus, s"local[$cpus]").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def replicate(df: DataFrame, per: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until k).map(i => per(df, i)).reduce(_ unionAll _)

    // Replica shifts are only collision-free when every source key sits
    // strictly below its stride; a key at/above it would silently alias a
    // replica's key space and corrupt uniqueness/dedup/join invariants in
    // the fixture (and every SCALING.md number built on it). Checked per
    // (table, column) up front — one cheap max() agg each, loud failure.
    def assertBelowStride(df: DataFrame, table: String, c: String, stride: Long): Unit = {
      val mx = df.agg(max(col(c)).cast("long")).head.getLong(0)
      require(mx < stride,
        s"[scaleup] $table.$c max=$mx >= stride=$stride — replicas would collide")
    }

    def shift(c: String, stride: Long, i: Int) =
      (col(c) + lit(stride * i)).as(c)

    def write(df: DataFrame, name: String): Unit = {
      df.coalesce(4).write.mode("overwrite").parquet(s"$out/$name.parquet")
      System.err.println(s"[scaleup] wrote $name")
    }

    val t = (n: String) => graft.core.Tables.table(spark, src, n)

    locally {
      assertBelowStride(t("customer"), "customer", "c_custkey", 10000000L)
      assertBelowStride(t("supplier"), "supplier", "s_suppkey", 1000000L)
      assertBelowStride(t("part"), "part", "p_partkey", 10000000L)
      val o = t("orders")
      assertBelowStride(o, "orders", "o_orderkey", 100000000L)
      assertBelowStride(o, "orders", "o_custkey", 10000000L)
      val l = t("lineitem")
      assertBelowStride(l, "lineitem", "l_orderkey", 100000000L)
      assertBelowStride(l, "lineitem", "l_partkey", 10000000L)
      assertBelowStride(l, "lineitem", "l_suppkey", 1000000L)
      val ev = graft.core.Tables.events(spark, src)
      assertBelowStride(ev, "events", "event_id", 10000000L)
      assertBelowStride(ev, "events", "user_id", 1000000L)
      assertBelowStride(t("documents"), "documents", "doc_id", 1000000L)
      assertBelowStride(t("embeddings"), "embeddings", "vec_id", 1000000L)
    }

    write(t("region"), "region")
    write(t("nation"), "nation")
    write(replicate(t("customer"), (d, i) => d.select(
      shift("c_custkey", 10000000L, i), col("c_name"), col("c_nationkey"),
      col("c_acctbal"), col("c_mktsegment"))), "customer")
    write(replicate(t("supplier"), (d, i) => d.select(
      shift("s_suppkey", 1000000L, i), col("s_name"), col("s_nationkey"),
      col("s_acctbal"))), "supplier")
    write(replicate(t("part"), (d, i) => d.select(
      shift("p_partkey", 10000000L, i), col("p_name"), col("p_brand"),
      col("p_type"), col("p_size"), col("p_retailprice"))), "part")
    write(replicate(t("orders"), (d, i) => d.select(
      shift("o_orderkey", 100000000L, i), shift("o_custkey", 10000000L, i),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
      col("o_orderpriority"))), "orders")
    write(replicate(t("lineitem"), (d, i) => d.select(
      shift("l_orderkey", 100000000L, i), shift("l_partkey", 10000000L, i),
      shift("l_suppkey", 1000000L, i), col("l_linenumber"), col("l_quantity"),
      col("l_extendedprice"), col("l_discount"), col("l_tax"),
      col("l_returnflag"), col("l_linestatus"), col("l_shipdate"))), "lineitem")
    // events: ts comes back as LongType ns under nanosAsLong; keep it as
    // written (µs-timestamp) — Tables.events handles both encodings
    write(replicate(graft.core.Tables.events(spark, src), (d, i) => d.select(
      shift("event_id", 10000000L, i), col("ts"),
      shift("user_id", 1000000L, i), col("event_type"), col("value"),
      col("props"))), "events")
    write(replicate(t("documents"), (d, i) => {
      val text =
        if (i == 0) col("text")
        else array_join(transform(split(col("text"), " "),
          w => concat(w, lit(s"_$i"))), " ")
      d.select(shift("doc_id", 1000000L, i), text.as("text"), col("lang"),
        col("source"), length(text).cast("long").as("n_chars"))
    }), "documents")
    write(replicate(t("embeddings"), (d, i) => d.select(
      shift("vec_id", 1000000L, i), col("embedding"), col("label"))),
      "embeddings")
    spark.stop()
  }
}
