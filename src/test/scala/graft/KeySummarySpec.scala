package graft

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, collate, count, lit, max, min, when}
import org.apache.spark.sql.types._

import graft.icelite.{IceCatalog, IceTable, KeySummary}

/** The upsert key screen's one-job source summary ([[KeySummary]]) against
  * Spark's own `min`, `max`, null count and `distinct`, and the screen it
  * feeds on the benchmark's CDC upsert shape.
  */
class KeySummarySpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("b", LongType), StructField("i", IntegerType),
    StructField("s", StringType), StructField("d", DecimalType(12, 2)),
    StructField("dt", DateType), StructField("ts", TimestampType),
    StructField("x", DoubleType), StructField("n", LongType)))
  private val keys = schema.fieldNames.toSeq

  // U+1F600 sorts above U+FF21 in UTF-8 bytes (Spark's order), below it
  // in UTF-16 (java.lang.String's)
  private val strings = Seq("a", "Ａ", "😀", "é", "zz", "")
  private val doubles = Seq(1.5, -0.0, 0.0, Double.NaN, -7.25, 3.0e10)

  private def row(j: Int): Row = {
    def orNull(v: Any) = if (j % 7 == 3) null else v
    Row(orNull(1000L * (j % 11) - 5000L), orNull(j % 13 - 6),
      orNull(strings(j % strings.size)),
      orNull(new java.math.BigDecimal(BigInt(j * 37 % 101 - 50).bigInteger, 2)),
      orNull(Date.valueOf(java.time.LocalDate.of(1995, 1, 1).plusDays(j % 17 * 40))),
      orNull(new Timestamp(800000000000L + (j % 19) * 3600000L)),
      // NaN, -0.0 and 0.0 land in different partitions
      if (j % 5 == 4) null else doubles(j % doubles.size),
      null) // an all-null key column
  }

  /** `rows` over `parts` partitions, no shuffle. */
  private def frame(rows: Seq[Row], parts: Int, sch: StructType = schema): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), sch)

  /** Equal under Spark's grouping semantics: one NaN, -0.0 == 0.0. */
  private def canon(v: Any): Any = v match {
    case d: Double if d.isNaN => "NaN"
    case d: Double if d == 0.0 => 0.0
    case other => other
  }

  private def assertMatchesSpark(df: DataFrame, ks: Seq[String], cap: Int): KeySummary = {
    val sum = KeySummary.of(df, ks, cap)
    val aggs = ks.flatMap(k => Seq(min(col(k)), max(col(k)),
      count(when(col(k).isNull, lit(1)))))
    val r = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    ks.indices.foreach { i =>
      assert(canon(sum.mins(i)) == canon(r.get(3 * i)), s"min ${ks(i)}")
      assert(canon(sum.maxs(i)) == canon(r.get(3 * i + 1)), s"max ${ks(i)}")
      assert(sum.hasNull(i) == (r.getLong(3 * i + 2) > 0), s"nulls ${ks(i)}")
    }
    val tuples = df.select(ks.map(col): _*).distinct().count()
    if (cap > 0 && tuples <= cap) {
      assert(sum.tupleCount.contains(tuples))
      ks.indices.foreach { i =>
        val expect = df.select(col(ks(i))).where(col(ks(i)).isNotNull).distinct()
          .collect().map(x => canon(x.get(0))).toSet
        val got = sum.values.get(i)
        assert(got.size == expect.size && got.map(canon).toSet == expect, s"values ${ks(i)}")
      }
    } else {
      assert(sum.tupleCount.isEmpty && sum.values.isEmpty, s"$tuples tuples, cap $cap")
    }
    sum
  }

  test("one-pass summary equals Spark's min, max, null count and distinct per key type") {
    val df = frame((0 until 120).map(row), 5)
    val sum = assertMatchesSpark(df, keys, 10000)
    assert(sum.maxs(keys.indexOf("s")) == "😀")
    assert(sum.maxs(keys.indexOf("x")).asInstanceOf[Double].isNaN)
    assert(sum.mins(keys.indexOf("n")) == null && sum.hasNull(keys.indexOf("n")))
    assert(sum.values.get(keys.indexOf("n")).isEmpty)
    assert(sum.values.get(keys.indexOf("x")).count(v => canon(v) == 0.0) == 1,
      "-0.0 and 0.0 are one value")
    // each key on its own, and a two-key tuple
    keys.foreach(k => assertMatchesSpark(df, Seq(k), 10000))
    assertMatchesSpark(df, Seq("s", "x"), 10000)
    // a collated string orders by its collation, like min/max
    val lc = frame(Seq("b", "A", "c", "B").map(v => Row.fromSeq(Seq.fill(8)(null).updated(2, v))), 2)
      .select(collate(col("s"), "UTF8_LCASE").as("s"))
    val lcSum = KeySummary.of(lc, Seq("s"), 10)
    val lcAgg = lc.agg(min("s"), max("s")).collect()(0)
    assert(lcSum.mins.head == lcAgg.get(0) && lcSum.maxs.head == lcAgg.get(1) &&
      lcAgg.get(0) == "A" && lcAgg.get(1) == "c", s"$lcSum vs $lcAgg")
    // the java.time external types when the session asks for them
    spark.conf.set("spark.sql.datetime.java8API.enabled", "true")
    try assertMatchesSpark(df, Seq("dt", "ts"), 10000)
    finally spark.conf.unset("spark.sql.datetime.java8API.enabled")
  }

  test("summary of an empty source and the tuple cap boundaries") {
    val empty = assertMatchesSpark(frame(Nil, 3), keys, 10)
    assert(empty.mins.forall(_ == null) && !empty.hasNull.exists(identity))
    assert(empty.tupleCount.contains(0L))
    val none = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    assert(none.rdd.getNumPartitions == 0)
    assert(assertMatchesSpark(none, keys, 10).tupleCount.contains(0L))

    // 40 distinct (k, v) tuples, 3 of them with a null k, each tuple in
    // two partitions
    val sch = StructType(Seq(StructField("k", LongType), StructField("v", StringType)))
    val rows = (0 until 40).map(j => Row(if (j < 3) null else j.toLong, s"v${j % 3}"))
    val df = frame(rows ++ rows.reverse, 4, sch)
    assert(df.distinct().count() == 40)
    assert(assertMatchesSpark(df, Seq("k", "v"), 40).tupleCount.contains(40L))
    assert(assertMatchesSpark(df, Seq("k", "v"), 39).values.isEmpty)
    assert(assertMatchesSpark(df, Seq("k", "v"), 0).values.isEmpty)
    // k alone: 37 values and the null tuple
    assert(assertMatchesSpark(df, Seq("k"), 38).values.get.head.size == 37)
    assert(assertMatchesSpark(df, Seq("k"), 37).values.isEmpty)
    assert(assertMatchesSpark(df, Seq("v"), 3).tupleCount.contains(3L))
  }

  /** Jobs started while `f` runs whose description is the screen's, and
    * all jobs.
    */
  private def screenJobsDuring(f: => Unit): (Int, Int) = {
    val all = jobsDuring(f)
    (all.count(_ == KeySummary.JobDescription), all.size)
  }

  test("a shuffle-free source screens in exactly one labeled job") {
    val df = frame((0 until 60).map(row), 4)
    val sc = spark.sparkContext
    sc.setJobDescription("outer")
    try {
      val (screen, all) = screenJobsDuring { KeySummary.of(df, keys, 100); () }
      assert(screen == 1 && all == 1, s"screen jobs $screen, all jobs $all")
      assert(sc.getLocalProperty("spark.job.description") == "outer")
    } finally sc.setJobDescription(null)
    KeySummary.of(df, keys, 100)
    assert(sc.getLocalProperty("spark.job.description") == null)
  }

  // ---- the benchmark's upsert shape: a two-key CDC upsert -------------

  private val liSchema = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", LongType), StructField("l_comment", StringType)))
  private val liKeys = Seq("l_orderkey", "l_linenumber")

  /** Six key-ordered batches of 250 orders x 4 lines, two files each. */
  private def lineitemTable(tag: String): (IceTable, Map[(Long, Int), Row]) = {
    val cat = new IceCatalog(spark, scratch(s"key-summary-$tag"))
    val tbl = cat.createTable("lake", "lineitem", liSchema)
    val rows = (0 until 6).map { b =>
      val batch = for (o <- b * 250 until (b + 1) * 250; ln <- 1 to 4)
        yield Row(o.toLong, ln, (o * 7 + ln) % 50L, s"b$b")
      tbl.append(frame(batch, 2, liSchema).repartitionByRange(2, col("l_orderkey")))
      batch
    }
    (tbl, rows.flatten.map(r => (r.getLong(0), r.getInt(1)) -> r).toMap)
  }

  private def filesOf(tbl: IceTable): Set[String] =
    tbl.visibleFiles(tbl.meta.currentSnapshot.get).map(_.path).toSet

  /** CDC source: lines of the newest batch's low orders and of the oldest
    * batch's low orders changed, plus new lines on some of those newest
    * orders.
    */
  private def cdcSource(model: Map[(Long, Int), Row]): Seq[Row] = {
    val newest = (1250L until 1310L by 3).map(o => (o, (o % 4 + 1).toInt))
    val oldest = (10L until 60L by 7).map(o => (o, 2))
    val changed = (newest ++ oldest).map { k =>
      val r = model(k); Row(r.get(0), r.get(1), 99L, "upd") }
    val fresh = (1250L until 1270L by 4).map(o => Row(o, 8, 1L, "new"))
    changed ++ fresh
  }

  private def runCdc(tag: String): (Set[String], Set[String], Set[String], Long) = {
    val (tbl, model) = lineitemTable(tag)
    val src = cdcSource(model)
    val srcKeys = src.map(r => (r.getLong(0), r.getInt(1))).toSet
    val before = filesOf(tbl)
    val holding = before.filter(p => spark.read.parquet(p).collect()
      .exists(r => srcKeys((r.getLong(0), r.getInt(1)))))
    tbl.upsert(frame(src, 3, liSchema), liKeys)
    val rewritten = before -- filesOf(tbl)
    val expect = (model ++ src.map(r => (r.getLong(0), r.getInt(1)) -> r)).values
      .map(_.toSeq).toSet
    val got = tbl.toDF.collect().map(_.toSeq)
    assert(got.length == expect.size && got.toSet == expect, "table differs from the model")
    (before, holding, rewritten, srcKeys.size.toLong)
  }

  test("two-key CDC upsert rewrites exactly the files holding an upserted key") {
    val (before, holding, rewritten, tuples) = runCdc("cdc")
    assert(before.size == 12 && holding.size >= 2 && holding.size <= 4,
      s"${before.size} files, ${holding.size} hold keys")
    assert(rewritten == holding, s"rewrote ${rewritten.size}, hold keys ${holding.size}")

    // at the tuple cap and the probe budget (files x exact tuples) the
    // screen stays exact; one below either, it falls back to ranges, which
    // also take every file between the oldest batch's keys and the newest's
    val caps = Seq("graft.upsert.keyPeekCap" -> tuples,
      "graft.prune.probeBudget" -> before.size * tuples)
    for ((key, at) <- caps; v <- Seq(at, at - 1)) {
      spark.conf.set(key, v.toString)
      try {
        val (_, h, rw, _) = runCdc(s"cdc-$key-$v")
        if (v == at) assert(rw == h, s"$key=$v rewrote ${rw.size}, hold keys ${h.size}")
        else assert(h.subsetOf(rw) && rw.size >= h.size + 8,
          s"$key=$v: ranges rewrite ${rw.size}, hold keys ${h.size}")
      } finally spark.conf.unset(key)
    }

    // the upsert screens its shuffle-free source in one job
    val (tbl, model) = lineitemTable("cdc-jobs")
    val (screen, _) = screenJobsDuring {
      tbl.upsert(frame(cdcSource(model), 3, liSchema), liKeys); ()
    }
    assert(screen == 1, s"screen jobs $screen")
  }
}
