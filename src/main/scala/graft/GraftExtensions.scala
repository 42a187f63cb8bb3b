package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SQL-surface registration for the engine's native extensions:
  * `spark.sql.extensions=graft.GraftExtensions` makes every native
  * function of [[graft.functions.Natives.builders]] (`quantized_dot(a, b)`,
  * `lsh_plane_bits`, …) available to `spark.sql(...)` users alongside
  * the Column API ([[graft.functions.VectorOps]]), registers the
  * `graft_timestamps` table-valued function ([[graft.plans.TimestampsTvf]]),
  * and installs the whole-operator path (SURVEY §7.3 option c): the
  * [[graft.plans.RewriteGlobalRankWindow]] optimizer rule +
  * [[graft.plans.GlobalSeqStrategy]] planner strategy that replace
  * single-task global ranking windows (`row_number` / `rank` / `dense_rank`) with the distributed
  * [[graft.plans.DistributedRankExec]]. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => graft.plans.RewriteGlobalRankWindow)
    ext.injectPlannerStrategy(_ => graft.plans.GlobalSeqStrategy)
    ext.injectTableFunction((
      new FunctionIdentifier(graft.plans.TimestampsTvf.name),
      new ExpressionInfo(graft.plans.TimestampsTvf.getClass.getName,
        graft.plans.TimestampsTvf.name),
      graft.plans.TimestampsTvf.build _))
    // library-operator TVFs: the as-of join and the corpus dedup probe
    // callable from pure SQL over named views (graft.plans.GraftTvfs)
    ext.injectTableFunction((
      new FunctionIdentifier(graft.plans.GraftTvfs.asOfName),
      new ExpressionInfo(graft.plans.GraftTvfs.getClass.getName,
        graft.plans.GraftTvfs.asOfName),
      graft.plans.GraftTvfs.buildAsOf _))
    ext.injectTableFunction((
      new FunctionIdentifier(graft.plans.GraftTvfs.dedupProbeName),
      new ExpressionInfo(graft.plans.GraftTvfs.getClass.getName,
        graft.plans.GraftTvfs.dedupProbeName),
      graft.plans.GraftTvfs.buildDedupProbe _))
    ext.injectTableFunction((
      new FunctionIdentifier(graft.plans.GraftTvfs.dupSpansName),
      new ExpressionInfo(graft.plans.GraftTvfs.getClass.getName,
        graft.plans.GraftTvfs.dupSpansName),
      graft.plans.GraftTvfs.buildDupSpans _))
    ext.injectTableFunction((
      new FunctionIdentifier(graft.plans.GraftTvfs.dupSurvivorsName),
      new ExpressionInfo(graft.plans.GraftTvfs.getClass.getName,
        graft.plans.GraftTvfs.dupSurvivorsName),
      graft.plans.GraftTvfs.buildDupSurvivors _))
    ext.injectTableFunction((
      new FunctionIdentifier(graft.plans.GraftTvfs.dupCutsName),
      new ExpressionInfo(graft.plans.GraftTvfs.getClass.getName,
        graft.plans.GraftTvfs.dupCutsName),
      graft.plans.GraftTvfs.buildDupCuts _))
    graft.functions.Natives.builders.foreach { b =>
      ext.injectFunction((new FunctionIdentifier(b.name),
        new ExpressionInfo(b.cls.getName, b.name), b.apply _))
    }
  }
}
