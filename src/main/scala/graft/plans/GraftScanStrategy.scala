package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.SparkPlan.LOGICAL_PLAN_TAG
import org.apache.spark.sql.execution.datasources.LogicalRelation
import graft.sources.GraftRelation

/** Plans every graft read — `Project`/`Filter` over a
  * `LogicalRelation(GraftRelation)` — as Spark's own file scan: the
  * relation's [[GraftRelation.scanPlan]] (a `HadoopFsRelation` over the
  * pinned manifest, plus the deletion-vector anti-join and the
  * column-mapping aliases when the snapshot has them) is handed back to
  * the planner, where `FileSourceStrategy` turns it into a
  * `FileSourceScanExec` with its pushed filters and SQLMetrics. The
  * logical relation itself never changes, so the optimizer rules that
  * match it (metadata COUNT, ledger stats, SQL DML, the aligned
  * rewrites) run first, exactly as before. Injected strategies run
  * ahead of Spark's, which could not plan the relation at all.
  *
  * Under adaptive execution the rewritten nodes are not in the query's
  * logical plan, so a query stage inside them (the mask's broadcast)
  * never replaces a logical node: each re-optimization plans the
  * relation again, and the equal [[graft.sources.ManifestFileIndex]]
  * makes the new exchange the finished stage's canonical twin, which
  * adaptive execution reuses instead of running it again. With
  * exchange reuse off that stage would run again on every
  * re-optimization, forever; there every node of the plan links to the
  * matched logical node instead, so the finished stage folds into it
  * (whose runtime statistics are then the mask's, not the table's —
  * the reason this is not the default).
  */
case class GraftScanStrategy(spark: SparkSession) extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PhysicalOperation(projects, filters,
        l @ LogicalRelation(g: GraftRelation, _, _, _, _)) =>
      val rows = g.scanPlan(l.output, projects, filters)
      if (spark.sessionState.conf.exchangeReuseEnabled) planLater(rows) :: Nil
      else {
        val scan = spark.sessionState.planner.plan(rows).next()
        scan.foreach(_.setTagValue(LOGICAL_PLAN_TAG, plan))
        scan :: Nil
      }
    case _ => Nil
  }
}
