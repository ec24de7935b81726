package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [name-substring] — the optional filter runs a
    // subset (local iteration aid; the driver always runs the full set)
    val sfDir = args(0); val outDir = args(1)
    val only = args.lift(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // A throwing query must be VISIBLE in the round artifacts, not silently
    // absent: record every failure, write a _FAILED marker the driver (or a
    // human) can see next to the per-query outputs, and exit non-zero.
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.forall(name.contains) }
    selected.foreach { case (name, fn) =>
      // per-query start marker on stderr: log WARNINGs interleave with it,
      // so a warning in the run log is attributable to the query that
      // emitted it (round 18 used this to hunt a stray pushdown warning)
      System.err.println(s"[verify] running $name")
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name FAILED: ${e.getMessage}")
        failures(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
      }
      // queries may persist() intermediates; release them so the 70-query
      // run doesn't accumulate cached partitions for the session lifetime
      spark.sharedState.cacheManager.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    if (failures.nonEmpty) {
      val fjson = failures
        .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
      Files.writeString(Paths.get(s"$outDir/_FAILED.json"), fjson)
      System.err.println(
        s"[verify] ${failures.size}/${selected.size} queries FAILED: " +
          failures.keys.mkString(", "))
    }
    spark.stop()
    if (failures.nonEmpty) sys.exit(1)
  }
}
