package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LeafNode, LogicalPlan, Project, ReturnAnswer, Sort}
import org.apache.spark.sql.execution.{CoalesceExec, ProjectExec, SortExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.adaptive.LogicalQueryStage
import org.apache.spark.sql.internal.SQLConf

import graft.functions.GraftFunctions

/** Spark extensions entry point: registers graft's native expressions,
  * plan rules and planner strategies at session build time. Production
  * wiring is `spark.sql.extensions=graft.GraftExtensions`, which
  * [[GraftSession]] sets for every entry point and the spec session;
  * [[GraftFunctions.register]] still covers function registration on an
  * already-built session, but plan rules need the extension.
  *
  * Planner strategy [[SmallSortStrategy]]: a collected root `ORDER BY`
  * over a filtered, projected or aggregated relation estimated at no more
  * than `spark.sql.adaptive.coalescePartitions.minPartitionSize` sorts in
  * one partition instead of behind a range exchange.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    // streaming column pruning — Spark's streaming planner never calls
    // DSv2 pruneColumns, so the source handles it at analysis time
    ext.injectResolutionRule(graft.sources.v2.StreamScanPruning.apply)
    ext.injectPlannerStrategy(_ => SmallSortStrategy)
    // SQL CDC surface: `SELECT * FROM icelite_changes('<warehouse>',
    // '<ns>.<tbl>', <fromSnapshotId>[, <toSnapshotId>])` — the table-valued
    // form of IceTable.changelog, so SQL-only consumers replay a bounded
    // change window without the library API (Iceberg's
    // create_changelog_view analog)
    ext.injectTableFunction((FunctionIdentifier("icelite_changes"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[GraftExtensions].getName, "icelite_changes"),
      graft.sources.v2.ChangesTvf.build))
    // ... and the incremental APPEND scan (rows added in (from, to]):
    // `SELECT * FROM icelite_appends('<warehouse>', '<ns>.<tbl>', <from>)`
    ext.injectTableFunction((FunctionIdentifier("icelite_appends"),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[GraftExtensions].getName, "icelite_appends"),
      graft.sources.v2.ChangesTvf.buildAppends))
  }
}

/** One job for a small sorted result collected to the driver.
  *
  * Spark plans every global sort over `Exchange rangepartitioning`, whose
  * partitioner first runs a sampling job over its input and then a map
  * stage that reads the input again: a sorted point lookup runs three
  * jobs for a few rows. When the root of a collected plan (`ReturnAnswer`,
  * optionally under one `Project`) is a global `Sort` whose input is
  * estimated at no more than
  * `spark.sql.adaptive.coalescePartitions.minPartitionSize` (the size
  * below which AQE gives a shuffle partition no task of its own), the
  * sort runs over `Coalesce 1` instead: `SinglePartition` satisfies the
  * sort's ordered distribution, so no exchange is added and the sort is
  * one task in the action's one job.
  *
  * The sort input must be filters and projections over one relation,
  * optionally aggregated. `Coalesce 1` runs everything above the input's
  * last shuffle in one task, and a join or window there can be small in
  * bytes yet costly to compute.
  *
  * Non-root sorts, and so writes, keep their plan, as do `ORDER BY …
  * LIMIT` (Spark's `TakeOrderedAndProject`), streaming plans and any sort
  * above the bound. The estimate is the optimizer's `stats`, which does no
  * IO: a DSv2 scan reports the size of the files it already planned. The
  * first planning decides: AQE re-plans the rest of a query under
  * `ReturnAnswer` whether or not it is the root (a DSv2 write's input is
  * not), so a plan holding a finished query stage is left alone. AQE then
  * keeps a coalesced sort, as its re-plan would add an exchange.
  */
object SmallSortStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ReturnAnswer(root) if !root.isStreaming => root match {
      case s: Sort if fits(s) => sortInOne(s) :: Nil
      case Project(list, s: Sort) if fits(s) => ProjectExec(list, sortInOne(s)) :: Nil
      case _ => Nil
    }
    case _ => Nil
  }

  private def fits(s: Sort): Boolean = s.global && scanShaped(s.child) &&
    s.child.stats.sizeInBytes <=
      SQLConf.get.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)

  /** Filters and projections over one relation, optionally aggregated, so
    * the one task is a small scan or a final aggregation. A finished AQE
    * stage is not such a relation.
    */
  private def scanShaped(p: LogicalPlan): Boolean = p match {
    case _: LogicalQueryStage => false
    case _: LeafNode => true
    case Project(_, c) => scanShaped(c)
    case Filter(_, c) => scanShaped(c)
    case a: Aggregate => scanShaped(a.child)
    case _ => false
  }

  private def sortInOne(s: Sort): SparkPlan =
    SortExec(s.order, global = true, CoalesceExec(1, planLater(s.child)))
}
