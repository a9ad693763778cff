package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Spark extension entry point: makes graft's native expressions part of
  * the session at startup, cluster-wide —
  * `--conf spark.sql.extensions=graft.GraftExtensions` — so SQL text and
  * the Column DSL resolve them with no per-session registration call.
  * (Interactive/test sessions can use [[functions.GraftFunctions.register]]
  * instead; both routes bind the same expressions.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => graft.plans.NativeDotRewrite)
    ext.injectOptimizerRule(_ => graft.plans.CosineFuseRewrite)
    // COUNT(*)/MIN/MAX(partition col) answered from the commit-log
    // manifest alone (Delta's OptimizeMetadataOnlyDeltaQuery shape) —
    // see graft.plans.MetadataAggRewrite for the proof obligations
    ext.injectOptimizerRule(_ => graft.plans.MetadataAggRewrite)
    // partition pruning THROUGH generated columns: a filter on the
    // BASE column (ts) derives the implied predicate on its generated
    // partition column (month = date_format(ts, ...)) — Delta's
    // generated-column partition-filter derivation
    ext.injectOptimizerRule(session =>
      graft.plans.DerivePartitionFilter(session))
    // SQL DELETE/UPDATE/MERGE on registered commit-log tables (see
    // graft.plans.SnapshotDmlRule for why this is the honest seam).
    // Injected at HINT resolution — the batch that runs BEFORE main
    // resolution — so the DML node rewrites while its target is still
    // the bare view name: Spark's own resolution would otherwise throw
    // unsupported-table-operation for MERGE mid-batch, before an
    // extended resolution rule ever sees the plan.
    ext.injectHintResolutionRule(session => graft.plans.SnapshotDmlRule(session))
    ext.injectResolutionRule(session => graft.plans.SnapshotDmlRule(session))
    // graft.<ns>.<table> catalog reads: substitute the v2 relation with
    // the DV-correct planner-integrated v1 plan (see GraftCatalog for
    // why a native DSv2 Scan cannot carry deletion vectors)
    ext.injectResolutionRule(session => graft.plans.GraftCatalogRelationRule(session))
    // SQL maintenance verbs (OPTIMIZE / VACUUM / RESTORE) on registered
    // commit-log tables — a delegating parser: three statement shapes
    // intercepted only for registered targets, everything else parses
    // through Spark's own grammar untouched.
    ext.injectParser((_, delegate) =>
      new graft.plans.SnapshotMaintenanceParser(delegate))
    // change-data-feed as a TABLE function (Delta's table_changes):
    // SELECT * FROM graft_table_changes('view', fromV [, toV])
    ext.injectTableFunction((
      FunctionIdentifier("graft_table_changes"),
      new ExpressionInfo(
        graft.plans.TableChanges.getClass.getName, "graft_table_changes"),
      exprs => graft.plans.TableChanges.plan(exprs)))
    // graft's native expressions — the same builder table
    // GraftFunctions.register binds per session
    graft.functions.GraftFunctions.builders.foreach(ext.injectFunction)
  }
}
