package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Repartition, Sort}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.adaptive.LogicalQueryStage

/** Adaptive-execution runtime rule: a query's final ORDER BY over a
  * result already known to be small sorts in ONE task. A global sort
  * plans as a range exchange — a sampling job for the range bounds,
  * then a shuffle — which for a few dozen served rows (a per-endpoint
  * rollup of one day) is two of the query's jobs. Once every stage
  * under the sort has finished, its runtime size is exact; when it is
  * at most `spark.sql.autoBroadcastJoinThreshold` (the existing "fits
  * one task" bound; -1 disables the rule), the sort becomes
  * `coalesce(1)` plus a local sort: the same total order, no sample
  * job, no shuffle.
  *
  * Matches only the top-level sort, under nothing but `Project` and
  * `Filter`, whose whole child is materialized query stages. An
  * ORDER BY with a LIMIT is not a global sort here (it plans as
  * `TakeOrderedAndProject`), and a sort whose input is not yet
  * measured (directly over a scan) keeps its range exchange. A small
  * sorted WRITE is a top-level sort too: it lands as one ordered file
  * instead of one file per range.
  */
case class SmallFinalSort(spark: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case p @ (_: Project | _: Filter) => p.withNewChildren(p.children.map(apply))
    case s @ Sort(_, true, child, _) if measuredSmall(child) =>
      s.copy(global = false, child = Repartition(1, shuffle = false, child))
    case _ => plan
  }

  private def measuredSmall(child: LogicalPlan): Boolean = {
    val threshold = spark.sessionState.conf.autoBroadcastJoinThreshold
    threshold >= 0 && child.collectLeaves().forall {
      case s: LogicalQueryStage => s.isMaterialized
      case _ => false
    } && child.stats.sizeInBytes <= threshold
  }
}
