package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one per suite, lazily started). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()

  val sfDir = "/root/testdata/sf0.001"

  /** A fresh warehouse directory under the running checkout's `target/`
    * (forked test JVMs run with the project base as working directory), so
    * suites in two checkouts never touch each other's warehouses.
    */
  def scratch(tag: String): String = {
    val dir = new java.io.File("target/test-scratch", tag).getAbsolutePath
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    dir
  }

  /** The `spark.job.description` of every Spark job started while `f`
    * runs; a sentinel job flushes the listener bus first.
    */
  def jobsDuring(f: => Unit): Seq[String] = {
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val sentinel = "spark-spec sentinel"
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        descs.add(String.valueOf(Option(e.properties)
          .map(_.getProperty("spark.job.description")).orNull))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try {
      f
      val prev = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(sentinel)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(prev)
      val deadline = System.currentTimeMillis() + 30000
      while (!descs.contains(sentinel) && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(descs.contains(sentinel), "listener bus did not drain")
    } finally sc.removeSparkListener(l)
    descs.toArray.toSeq.map(_.toString).filterNot(_ == sentinel)
  }

  /** The executed plan of every query that completes while `f` runs,
    * writes and other commands included. Query-execution listeners share
    * the job listeners' queue, so [[jobsDuring]]'s sentinel drains both.
    */
  def plansDuring(f: => Unit): Seq[String] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try jobsDuring(f) finally spark.listenerManager.unregister(l)
    plans.toArray.toSeq.map(_.toString)
  }
}
