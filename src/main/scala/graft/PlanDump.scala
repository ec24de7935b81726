package graft

import java.nio.file.{Files, Paths}

/** Optimization-round measurement aid: dump `.explain("formatted")` for the
  * named queries to files (plans/<round>/<name>_<tag>.txt). Mirrors Bench's
  * session config exactly, so the captured plan is the plan the bench runs.
  *
  * Usage: runMain graft.PlanDump <outDir> <tag> <name substring> [substr...]
  *
  * Note: this prints the PLANNED query (AQE initial plan). Queries that
  * return a collected/local relation (x61/x65/x66) execute their real work
  * during construction; for those the dump still captures every job they
  * run, because construction happens here too.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val names = args.drop(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(outDir))
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => names.exists(n.contains) }
      .foreach { case (name, fn) =>
        System.err.println(s"[plan] $name")
        try {
          val df = fn(spark, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          // Planned-file evidence (r20, VERDICT r19 #5): per file-source
          // scan in the optimized plan, the location and how many files it
          // plans — the checkable artifact behind any small-files /
          // writeSized claim (icelite scans carry the same evidence via
          // their pruning assertions + HasPlannedFiles in-query).
          val fileCounts = df.queryExecution.optimizedPlan.collect {
            case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
              l.relation match {
                case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                  Some(s"planned files: ${h.location.rootPaths.mkString(",")}" +
                    s" = ${h.location.inputFiles.length}")
                case _ => None
              }
          }.flatten.distinct
          Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"),
            plan + fileCounts.mkString("\n", "\n", "\n"))
        } catch { case e: Throwable =>
          System.err.println(s"[plan] $name FAILED: ${e.getMessage}")
        }
        spark.sharedState.cacheManager.clearCache()
      }
    spark.stop()
  }
}
