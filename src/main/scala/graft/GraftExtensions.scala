package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier

import graft.functions.GraftFunctions

/** Spark extensions entry point: registers graft's native expressions and
  * plan rules at session build time. Production wiring is
  * `spark.sql.extensions=graft.GraftExtensions`, which [[GraftSession]] sets
  * for every entry point and the spec session; [[GraftFunctions.register]]
  * still covers function registration
  * on an already-built session, but plan rules need the extension.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    // streaming column pruning — Spark's streaming planner never calls
    // DSv2 pruneColumns, so the source handles it at analysis time
    ext.injectResolutionRule(graft.sources.v2.StreamScanPruning.apply)
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
