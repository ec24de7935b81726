package graft

import org.apache.spark.sql.SparkSession

/** The one session factory: every entry point (the component, Verify,
  * Bench, PlanDump, ProfileRun) and the spec session build from here, so
  * production runs the same session config the tested paths do. Callers
  * add only their own master, app name and shuffle width.
  */
object GraftSession {
  def builder(): SparkSession.Builder = SparkSession.builder()
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    // storage-partitioned joins: let co-bucketed icelite tables join
    // shuffle-free (the scan reports a KeyGroupedPartitioning; b2_spj_join
    // asserts the zero-exchange plan)
    .config("spark.sql.sources.v2.bucketing.enabled", "true")
    .config("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
    // test fixtures carry nanosecond timestamps (events.ts); see QUtil.t
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    // graft's native functions, plan rules and icelite table functions
    .config("spark.sql.extensions", "graft.GraftExtensions")
}
