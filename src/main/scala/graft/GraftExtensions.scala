package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import graft.functions.CosineSimilarity

/** SparkSessionExtensions entry point: install with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` (or
  * `.withExtensions(new GraftExtensions)`) to get the engine's native
  * functions AND its optimizer rules in ANY session — including plain
  * `spark.sql` users.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(
      (FunctionIdentifier(CosineSimilarity.name),
        CosineSimilarity.info,
        CosineSimilarity.builder))
    // every graft read plans as Spark's native parquet scan over the
    // pinned manifest (no session can read a graft table without it)
    ext.injectPlannerStrategy(graft.plans.GraftScanStrategy.apply)
    // a final ORDER BY over a small measured result sorts in one task
    ext.injectRuntimeOptimizerRule(graft.plans.SmallFinalSort.apply)
    // COUNT(*) over a graft relation answers from the manifest ledger
    ext.injectOptimizerRule(graft.plans.MetadataOnlyCount.apply)
    // the ledger's exact row count reaches Catalyst statistics (CBO
    // join reordering sees cardinality, not just bytes)
    ext.injectOptimizerRule(graft.plans.RelationLedgerStats.apply)
    // DELETE FROM / UPDATE / MERGE INTO over a graft relation execute
    // as merge-on-read snapshot commits (post-hoc: the main resolution
    // batch binds their expressions first; checkAnalysis would refuse
    // the v1 relation right after, so this rule converts in between)
    ext.injectPostHocResolutionRule(graft.plans.GraftSqlDml.Dml.apply)
    // name-based graft catalog tables resolve onto the V1 relation
    // (same scan/pruning/DML surface as path-based access)
    ext.injectResolutionRule(graft.plans.GraftCatalogRules.V2ToV1.apply)
    // the FUSED star query first (it needs the Aggregate-over-Join
    // shape intact, which the join rule below would consume):
    // GROUP BY the join key over a graft⋈graft co-clustered join
    // executes join AND fold in the same task — zero Exchange end to
    // end (disable: graft.sql.alignedJoinAgg.enabled=false)
    ext.injectOptimizerRule(graft.plans.AlignedJoinAggregate.apply)
    // graft⋈graft equi-joins on matching bucket layouts execute as
    // the zero-Exchange storage-partitioned join — SQL reaches the
    // aligned path (disable: graft.sql.alignedJoin.enabled=false)
    ext.injectOptimizerRule(graft.plans.AlignedJoin.apply)
    // ... and the family's SEMI/ANTI legs as a planner strategy —
    // `IN`/`EXISTS`/`NOT EXISTS` subqueries become LeftSemi/LeftAnti
    // joins only in the RewriteSubquery batch, AFTER injected
    // optimizer rules run, so the strategy is where they are visible
    ext.injectPlannerStrategy(graft.plans.AlignedJoinStrategy.apply)
    // GROUP BY the bucket key over a graft table executes as the
    // zero-Exchange per-bucket streaming fold
    // (disable: graft.sql.alignedAgg.enabled=false)
    ext.injectOptimizerRule(graft.plans.AlignedAggregate.apply)
    // default-frame running windows over the bucket key execute as
    // the per-bucket streaming fold — zero Exchange where WindowExec
    // shuffles and sorts the whole table
    // (disable: graft.sql.alignedRunning.enabled=false)
    ext.injectOptimizerRule(graft.plans.AlignedRunning.apply)
  }
}
