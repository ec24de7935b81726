package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, ReturnAnswer, Sort}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}

import graft.icelite.IceCatalog

/** [[SmallSortStrategy]]: a collected root sort over a small input runs in
  * one partition with no range exchange, gives the rows Spark's own plan
  * gives, and leaves every other sort's plan alone.
  */
class SmallSortSpec extends SparkSpec {
  import spark.implicits._

  private lazy val wh = {
    val dir = scratch("small-sort")
    val cat = new IceCatalog(spark, dir)
    // one file each; k repeats (ties) and is null every 25th row
    val rows = (1 to 200).map(i => (if (i % 25 == 0) None else Some(i % 7), i.toLong, s"v$i"))
    cat.createTable("lake", "cow", rows.toDF("k", "id", "v").schema)
      .append(rows.toDF("k", "id", "v").coalesce(1))
    val mor = cat.createTable("lake", "mor", rows.toDF("k", "id", "v").schema)
      .append(rows.toDF("k", "id", "v").coalesce(1))
    // one outstanding position delete
    mor.deleteWhereMor(Seq(org.apache.spark.sql.sources.EqualTo("id", 3L)))
    cat.createTable("lake", "sink", rows.toDF("k", "id", "v").schema)
    spark.conf.set("spark.sql.catalog.ss", "graft.sources.v2.IceLiteCatalog")
    spark.conf.set("spark.sql.catalog.ss.warehouse", dir)
    dir
  }

  private def sql(q: String): DataFrame = { wh; spark.sql(q) }

  /** Plans a collected root sort as Spark does without the strategy. */
  private object SparkSortPlan extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case ReturnAnswer(s: Sort) => planLater(s) :: Nil
      case ReturnAnswer(p @ Project(_, _: Sort)) => planLater(p) :: Nil
      case _ => Nil
    }
  }

  private def withoutStrategy[T](f: => T): T = {
    val prev = spark.experimental.extraStrategies
    spark.experimental.extraStrategies = SparkSortPlan +: prev
    try f finally spark.experimental.extraStrategies = prev
  }

  private def withConf[T](kv: (String, String)*)(f: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  /** Collects `q` with the strategy, checks the rows against Spark's own
    * plan row for row, and returns the rows and the collect's jobs.
    */
  private def sameRows(q: String): (Seq[Row], Seq[String]) = {
    val df = sql(q)
    var got = Seq.empty[Row]
    val jobs = jobsDuring { got = df.collect().toSeq }
    val want = withoutStrategy {
      val df = sql(q)
      assert(plan(df).contains("rangepartitioning"), plan(df))
      df.collect().toSeq
    }
    assert(got == want, q)
    (got, jobs)
  }

  test("a one-file point read collects in one job without a range exchange") {
    val q = "SELECT id, v FROM ss.lake.cow WHERE k = 3 ORDER BY v"
    val (rows, jobs) = sameRows(q)
    assert(rows.nonEmpty)
    assert(jobs.length == 1, jobs)
    val p = plan(sql(q))
    assert(p.contains("Coalesce 1") && !p.contains("rangepartitioning"), p)
  }

  test("a grouped, ordered aggregate collects in two jobs") {
    val (rows, jobs) = sameRows(
      "SELECT k, count(*) AS n, sum(id) AS s FROM ss.lake.cow GROUP BY k ORDER BY k")
    assert(rows.length == 8)
    assert(jobs.length == 2, jobs)
  }

  test("above minPartitionSize the range exchange comes back") {
    val q = "SELECT id, v FROM ss.lake.cow WHERE k = 3 ORDER BY v"
    val size = sql(q).queryExecution.optimizedPlan.stats.sizeInBytes
    assert(size > 1)
    withConf("spark.sql.adaptive.coalescePartitions.minPartitionSize" -> s"${size - 1}b") {
      val p = plan(sql(q))
      assert(p.contains("rangepartitioning") && !p.contains("Coalesce 1"), p)
    }
    withConf("spark.sql.adaptive.coalescePartitions.minPartitionSize" -> s"${size}b") {
      assert(plan(sql(q)).contains("Coalesce 1"))
    }
  }

  test("ties, DESC NULLS LAST, merge-on-read and AQE off give Spark's rows") {
    // ties keep the scan's order on both plans; a null sort key would
    // not, as Spark's in-memory sorter moves a row to make room for each
    // null, and neither order is more correct than the other
    sameRows("SELECT k, id, v FROM ss.lake.cow WHERE k IS NOT NULL ORDER BY k")
    sameRows("SELECT k, id FROM ss.lake.cow ORDER BY k DESC NULLS LAST, id")
    val (mor, _) = sameRows("SELECT id, v FROM ss.lake.mor WHERE k = 3 ORDER BY id DESC")
    assert(!mor.map(_.getLong(0)).contains(3L), "the position delete must apply")
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val (_, jobs) = sameRows(
        "SELECT k, count(*) AS n FROM ss.lake.mor GROUP BY k ORDER BY n DESC, k")
      assert(jobs.length == 1, jobs)
    }
  }

  test("an empty result plans no file and still collects in one job") {
    val q = "SELECT id, v FROM ss.lake.cow WHERE id > 1000 ORDER BY v"
    val df = sql(q)
    var rows = Array.empty[Row]
    val jobs = jobsDuring { rows = df.collect() }
    assert(rows.isEmpty && jobs.length <= 1, jobs)
    assert(withoutStrategy(sql(q).collect()).isEmpty)
    assert(plan(sql(q)).contains("Coalesce 1"))
  }

  test("ORDER BY ... LIMIT, a join, a written sort and a streaming sort keep their plans") {
    val top = sql("SELECT id, v FROM ss.lake.cow ORDER BY id DESC LIMIT 3")
    assert(plan(top).contains("TakeOrderedAndProject"), plan(top))
    assert(top.collect().map(_.getLong(0)).toSeq == Seq(200L, 199L, 198L))

    // a join's stage stays parallel behind the range exchange
    val join = "SELECT a.id, b.v FROM ss.lake.cow a JOIN ss.lake.mor b ON a.id = b.id ORDER BY a.id"
    sameRows(join)
    assert(plan(sql(join)).contains("rangepartitioning") && !plan(sql(join)).contains("Coalesce 1"))

    val out = scratch("small-sort-write")
    val written = plansDuring(sql("SELECT * FROM ss.lake.cow").orderBy("id").write.parquet(out))
    assert(written.exists(_.contains("rangepartitioning")), written)
    assert(!written.exists(_.contains("Coalesce 1")), written)
    // a DSv2 write's input is re-planned by AQE under ReturnAnswer too
    val appended = plansDuring(sql(
      "INSERT INTO ss.lake.sink SELECT k, sum(id), 'x' FROM ss.lake.cow GROUP BY k ORDER BY k"))
    assert(appended.exists(_.contains("rangepartitioning")), appended)
    assert(!appended.exists(_.contains("Coalesce 1")), appended)

    // a file source reports its size, so only the streaming check keeps
    // the micro-batch's root sort off the strategy
    val in = scratch("small-sort-stream")
    Seq(3, 1, 2, 1).toDF("value").coalesce(1).write.parquet(in)
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Row]]()
    val query = spark.readStream.schema("value INT").parquet(in)
      .groupBy("value").count().orderBy("value").writeStream
      .outputMode("complete")
      .foreachBatch((df: DataFrame, _: Long) => { got.add(df.collect().toSeq); () })
      .start()
    try {
      query.processAllAvailable()
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(buf))(query.explain())
      val p = buf.toString
      assert(p.contains("rangepartitioning") && !p.contains("Coalesce 1"), p)
      assert(got.peek() == Seq(Row(1, 2L), Row(2, 1L), Row(3, 1L)))
    } finally query.stop()
  }
}
