package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Optimization-round measurement aid (guide §1.1 empirical loop, headless):
  * run one named query end-to-end with a job listener attached and print
  * every Spark job's wall duration + call site, so the per-query cost
  * decomposes into its actions/jobs without the UI.
  *
  * Usage: runMain graft.ProfileRun <name substring> [rounds]
  */
object ProfileRun {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val rounds = args.lift(1).map(_.toInt).getOrElse(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Int)]()
    @volatile var record = false
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Double, Int, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = if (record) {
        // callSite.short is absent on SQL-execution jobs — fall back to the
        // result stage's name (carries the terminal RDD's call site), which
        // is what actually attributes AQE stage-jobs (r20)
        val site = Option(js.properties)
          .flatMap(p => Option(p.getProperty("callSite.short")))
          .orElse(js.stageInfos.sortBy(-_.stageId).headOption.map(_.name))
          .getOrElse("?")
        val nTasks = js.stageInfos.map(_.numTasks).sum
        starts.put(js.jobId, (System.nanoTime(), site, nTasks))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = if (record) {
        Option(starts.remove(je.jobId)).foreach { case (t0, site, nTasks) =>
          jobs.add((je.jobId, (System.nanoTime() - t0) / 1e9, nTasks, site))
        }
      }
    })
    val fns = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(_._1.contains(name))
    fns.foreach { case (n, fn) =>
      (1 to rounds).foreach { r =>
        val t0 = System.nanoTime()
        if (r == rounds) { jobs.clear(); record = true } // profile last round
        fn(spark, sfDir).count()
        record = false
        val dt = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[profile] $n round $r: $dt%.2f s")
        spark.sharedState.cacheManager.clearCache()
        System.gc()
      }
      import scala.jdk.CollectionConverters._
      val js = jobs.asScala.toSeq.sortBy(_._1)
      val total = js.map(_._2).sum
      System.err.println(f"[profile] $n: ${js.size} jobs, ${total}%.2f s summed")
      js.foreach { case (id, d, nt, site) =>
        System.err.println(f"[profile]   job $id%3d ${d}%6.3f s  $nt%4d tasks  $site")
      }
    }
    spark.stop()
  }
}
