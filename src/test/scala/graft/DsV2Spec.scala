package graft

import org.apache.spark.sql.functions._
import graft.icelite.IceCatalog

/** DSv2 surface: format("icelite") read path, pushdown wiring, time travel. */
class DsV2Spec extends SparkSpec {

  private def warehouse(tag: String): String = scratch(s"dsv2-$tag")

  private def mkTable(tag: String): (String, org.apache.spark.sql.DataFrame) = {
    val wh = warehouse(tag)
    val cat = new IceCatalog(spark, wh)
    val df = graft.queries.QUtil.t(spark, sfDir, "orders")
    cat.createTable("lake", "orders_t", df.schema).append(df)
    (wh, df)
  }

  // graft.prune.distributedThreshold (round 15, default off): past N files
  // the per-file admission loop runs as a Spark job. Same predicate object
  // (PruneEval.admit) either way, so the planned file SET and ORDER must be
  // bit-identical — asserted here on a many-file table with a pushed
  // filter, plus proof the distributed path actually executed.
  test("distributed prune plans the identical file set as the driver loop") {
    import spark.implicits._
    val wh = warehouse("distprune")
    val cat = new IceCatalog(spark, wh)
    val df = (1L to 4000L).map(i => (i, s"v$i")).toDF("id", "v")
    val tbl = cat.createTable("lake", "t", df.schema)
    tbl.append(df.repartitionByRange(40, col("id")))
    def planned() = graft.sources.v2.HasPlannedFiles.of(
      tbl.toDF.where(col("id") <= 700L))
    val driverSide = planned()
    assert(driverSide.nonEmpty && driverSide.length < 40,
      s"range filter should prune most of 40 files, planned ${driverSide.length}")
    val before = graft.sources.v2.PruneEval.distributedRuns.get
    spark.conf.set("graft.prune.distributedThreshold", "10")
    try {
      val dist = planned()
      assert(graft.sources.v2.PruneEval.distributedRuns.get > before,
        "threshold set below the file count but the distributed path never ran")
      assert(dist == driverSide,
        s"strategies disagree: driver=$driverSide distributed=$dist")
      // and the query itself still answers identically
      assert(tbl.toDF.where(col("id") <= 700L).count() == 700)
    } finally spark.conf.unset("graft.prune.distributedThreshold")
  }

  // the 10^6-files x 10^5-keys scenario the flag exists for, at test
  // scale: a broadcast join's runtime In re-prunes through the SAME
  // distributed path as static planning, the probe budget drops an
  // over-budget runtime filter BEFORE fan-out (pruning is optional;
  // the statically planned set stands), and both strategies plan the
  // identical file sequence with the runtime filter active.
  test("distributed prune under a runtime In filter honors the probe budget") {
    import spark.implicits._
    import org.apache.spark.sql.sources.In
    val wh = warehouse("distrt")
    val cat = new IceCatalog(spark, wh)
    val df = (1L to 4000L).map(i => (i, s"v$i")).toDF("id", "v")
    val tbl = cat.createTable("lake", "t", df.schema)
    tbl.append(df.repartitionByRange(40, col("id")))

    // inject a runtime In straight into the scan (what a broadcast join
    // sends) and read back the planned file sequence
    def planWithRuntime(keys: Array[Any]): Seq[String] = {
      val q = spark.read.format("icelite")
        .option("warehouse", wh).option("table", "lake.t").load()
      val scan = q.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
      }.head
      scan.asInstanceOf[org.apache.spark.sql.connector.read.SupportsRuntimeFiltering]
        .filter(Array[org.apache.spark.sql.sources.Filter](In("id", keys)))
      scan.toBatch.planInputPartitions()
        .map(_.asInstanceOf[Product].productElement(0).toString).toSeq
    }
    val keys: Array[Any] = Array(5L, 1500L, 3999L) // three distinct range files
    val driverSide = planWithRuntime(keys)
    assert(driverSide.length == 3,
      s"range stats must prune the runtime In to 3 files, got $driverSide")
    val before = graft.sources.v2.PruneEval.distributedRuns.get
    spark.conf.set("graft.prune.distributedThreshold", "10")
    try {
      assert(planWithRuntime(keys) == driverSide,
        "distributed runtime re-prune must plan the driver loop's exact sequence")
      assert(graft.sources.v2.PruneEval.distributedRuns.get > before,
        "threshold set below the file count but the distributed path never ran")
      // over budget (3 keys x 40 files = 120 probes > 100): the runtime
      // filter drops before fan-out and the static 40-file plan stands
      spark.conf.set("graft.prune.probeBudget", "100")
      assert(planWithRuntime(keys).length == 40,
        "an over-budget runtime In must leave the statically planned set")
      spark.conf.unset("graft.prune.probeBudget")
      // and a REAL broadcast join under the distributed path still answers
      spark.conf.set("spark.sql.catalog.ice_distrt", "graft.sources.v2.IceLiteCatalog")
      spark.conf.set("spark.sql.catalog.ice_distrt.warehouse", wh)
      val dimPath = scratch("distrt-dim")
      Seq((5L, "x"), (1500L, "y"), (3999L, "z")).toDF("k", "tag")
        .write.parquet(dimPath)
      spark.read.parquet(dimPath).createOrReplaceTempView("distrt_dim")
      val rows = spark.sql(
        """SELECT f.id, d.tag FROM ice_distrt.lake.t f
          |JOIN distrt_dim d ON f.id = d.k""".stripMargin).collect()
      assert(rows.map(_.getLong(0)).toSet == Set(5L, 1500L, 3999L))
    } finally {
      spark.conf.unset("graft.prune.distributedThreshold")
      spark.conf.unset("graft.prune.probeBudget")
    }
  }

  test("format(icelite) reads back exactly what was appended") {
    val (wh, df) = mkTable("roundtrip")
    val back = spark.read.format("icelite")
      .option("warehouse", wh).option("table", "lake.orders_t").load()
    assert(back.schema == df.schema)
    assert(back.count() == df.count())
    assert(back.orderBy("o_orderkey").collect().toSeq ==
      df.orderBy("o_orderkey").collect().toSeq)
  }

  test("projection and filter are pushed into the scan") {
    val (wh, _) = mkTable("pushdown")
    val q = spark.read.format("icelite")
      .option("warehouse", wh).option("table", "lake.orders_t").load()
      .filter(col("o_orderstatus") === "F" && col("o_totalprice") > 50000.0)
      .select("o_orderkey", "o_orderstatus")
    val scanDesc = q.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(scanDesc.contains("readSchema=o_orderkey,o_orderstatus"),
      s"projection not pushed: $scanDesc")
    assert(scanDesc.contains("EqualTo(o_orderstatus,F)"), s"filter not pushed: $scanDesc")
    // correctness of the pushed plan
    val expected = graft.queries.QUtil.t(spark, sfDir, "orders")
      .filter(col("o_orderstatus") === "F" && col("o_totalprice") > 50000.0)
      .select("o_orderkey", "o_orderstatus")
    assert(q.orderBy("o_orderkey").collect().toSeq ==
      expected.orderBy("o_orderkey").collect().toSeq)
  }

  /** Does `q`'s optimized plan still hold a Limit node? */
  private def keepsLimit(q: org.apache.spark.sql.DataFrame): Boolean =
    q.queryExecution.optimizedPlan.exists {
      case _: org.apache.spark.sql.catalyst.plans.logical.GlobalLimit => true
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalLimit => true
      case _ => false
    }

  /** Does `q`'s physical plan shuffle? Checked through AQE's wrapper. */
  private def shuffles(q: org.apache.spark.sql.DataFrame): Boolean =
    new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .find(q.queryExecution.executedPlan) {
        case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => true
        case _ => false
      }.isDefined

  test("limit pushdown stops readers early") {
    val (wh, _) = mkTable("limit")
    val q = spark.read.format("icelite")
      .option("warehouse", wh).option("table", "lake.orders_t").load()
      .limit(7)
    assert(q.count() == 7)
    val scanDesc = scanDescOf(q)
    assert(scanDesc.contains("limit=7 exact"), s"limit not pushed exactly: $scanDesc")

    // a four-file table in manifest order: the exact path plans only the
    // prefix whose manifest row counts cover n, and the scan alone serves
    // exactly min(n, rows) — no Limit node, no single-partition shuffle
    // (checked on the coalesce(1) shape the CSV extract writes)
    import spark.implicits._
    val cat = new IceCatalog(spark, warehouse("limit-exact"))
    val tbl = cat.createTable("lake", "t",
      Seq((0L, "", 0.0)).toDF("id", "tag", "score").schema)
    (0 until 4).foreach { i =>
      tbl.append((1L to 10L + i).map(j => (i * 100L + j, s"t$i", j * 0.5))
        .toDF("id", "tag", "score").coalesce(1))
    }
    val files = tbl.visibleFiles(tbl.meta.currentSnapshot.get)
    assert(files.size == 4, s"fixture wants 4 files, got ${files.size}")
    val total = files.map(_.rows).sum
    def prefixFor(n: Long): Seq[String] = {
      val owed = files.scanLeft(n)((o, f) => o - f.rows)
      files.zip(owed).takeWhile(_._2 > 0).map(_._1.path)
    }
    val k = files.head.rows
    val cases = Seq(
      "crossing a file boundary" -> (tbl.toDF.limit((k + 3).toInt), k + 3),
      "zero rows" -> (tbl.toDF.limit(0), 0L),
      "more than the table" -> (tbl.toDF.limit((total + 5).toInt), total),
      "over a projection" -> (tbl.toDF.select("tag", "id").limit((k + 3).toInt), k + 3))
    cases.foreach { case (what, (lq, want)) =>
      val rows = lq.collect()
      assert(rows.length == want, s"$what: ${rows.length} rows, want $want")
      assert(rows.map(_.getAs[Long]("id")).distinct.length == rows.length, s"$what: duplicates")
      assert(!keepsLimit(lq), s"$what: Limit kept\n${lq.queryExecution.optimizedPlan}")
      assert(!shuffles(lq.coalesce(1)),
        s"$what: shuffle kept\n${lq.coalesce(1).queryExecution.executedPlan}")
      assert(graft.sources.v2.HasPlannedFiles.of(lq) == prefixFor(want),
        s"$what: planned ${graft.sources.v2.HasPlannedFiles.of(lq)}")
    }
    // the rows ARE the prefix: all of the first file, then 3 of the second
    val ids = tbl.toDF.limit((k + 3).toInt).collect().map(_.getAs[Long]("id"))
    assert(ids.count(_ < 100L) == k && ids.count(i => i > 100L && i < 200L) == 3,
      s"not the covering prefix: ${ids.sorted.mkString(",")}")
    val est = tbl.toDF.limit(5).queryExecution.optimizedPlan.stats.rowCount
    assert(est.contains(BigInt(5)), s"exact scan estimates $est rows")
  }

  // where the manifest cannot prove the rows a file serves, or a filter
  // stays residual, the limit stays partial — readers stop early and the
  // Limit node above the scan enforces the exact count
  test("limit falls back to partial pushdown and stays exact above the scan") {
    import spark.implicits._
    import org.apache.spark.sql.sources.LessThan
    val cat = new IceCatalog(spark, warehouse("limit-fallback"))
    val mor = cat.createTable("lake", "mor",
      Seq((0L, "")).toDF("id", "v").schema,
      properties = Map("write.delete.mode" -> "merge-on-read"))
    mor.append((1L to 40L).map(i => (i, s"v$i")).toDF("id", "v")
      .repartitionByRange(2, col("id")))
    mor.deleteWhereMor(Seq(LessThan("id", 15L)))
    assert(mor.deletesOf(mor.meta.currentSnapshot.get).nonEmpty,
      "fixture wants outstanding position deletes")
    val morQ = mor.toDF.limit(20)
    val morRows = morQ.collect().map(_.getAs[Long]("id"))
    assert(morRows.length == 20 && morRows.forall(_ >= 15L),
      s"MOR limit served ${morRows.sorted.mkString(",")}")
    assert(keepsLimit(morQ) && scanDescOf(morQ).contains("limit=20 partial"),
      s"MOR limit must stay partial: ${scanDescOf(morQ)}")

    val plain = cat.createTable("lake", "plain", Seq((0L, "")).toDF("id", "v").schema)
    (0 until 3).foreach(i => plain.append((1L to 10L).map(j => (i * 10L + j, s"v$j"))
      .toDF("id", "v").coalesce(1)))
    val resid = plain.toDF.where(col("v") =!= "v1").limit(12)
    val residRows = resid.collect()
    assert(residRows.length == 12 && residRows.forall(_.getAs[String]("v") != "v1"))
    assert(keepsLimit(resid), "a residual filter under the limit must keep the Limit")

    // a partition-exact filter may take either path; the answer is exact
    val parted = cat.createTable("lake", "parted",
      Seq((0L, 0)).toDF("id", "p").schema, partitionBy = Seq("p"))
    parted.append((1L to 60L).map(i => (i, (i % 3).toInt)).toDF("id", "p"))
    val pq = parted.toDF.where(col("p") === 1).limit(7)
    val pRows = pq.collect()
    assert(pRows.length == 7 && pRows.forall(_.getAs[Int]("p") == 1),
      s"partition-filtered limit served ${pRows.mkString(",")}")
  }

  test("filters on timestamp columns stay residual (not claimed) and still work") {
    val (wh, df) = mkTable("tsfilter")
    val cutoff = "2000-01-01 00:00:00"
    val q = spark.read.format("icelite")
      .option("warehouse", wh).option("table", "lake.orders_t").load()
      .filter(col("o_orderdate") < org.apache.spark.sql.functions.lit(cutoff).cast("timestamp"))
      .select("o_orderkey")
    val expected = df
      .filter(col("o_orderdate") < org.apache.spark.sql.functions.lit(cutoff).cast("timestamp"))
      .count()
    assert(q.count() == expected)
    val scanDesc = q.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(!scanDesc.contains("pushedFilters=[LessThan(o_orderdate"),
      s"timestamp filters must not be claimed by the source: $scanDesc")
  }

  test("time travel across a schema-changing replace reads each snapshot's own schema") {
    val wh = warehouse("replace-tt")
    val cat = new IceCatalog(spark, wh)
    val v1 = graft.queries.QUtil.t(spark, sfDir, "region") // (r_regionkey, r_name)
    val tbl = cat.createTable("lake", "r", v1.schema)
    tbl.append(v1)
    val snap1 = tbl.snapshots.head.snapshotId
    import spark.implicits._
    tbl.replace(Seq((1L, "x", 9.9)).toDF("id", "tag", "score")) // different schema
    // pinned read: old schema, old rows
    val pinned = spark.read.format("icelite")
      .option("warehouse", wh).option("table", "lake.r")
      .option("snapshotId", snap1.toString).load()
    assert(pinned.columns.toSeq == Seq("r_regionkey", "r_name"))
    assert(pinned.count() == v1.count())
    // current read: new schema
    val current = spark.read.format("icelite")
      .option("warehouse", wh).option("table", "lake.r").load()
    assert(current.columns.toSeq == Seq("id", "tag", "score"))
    assert(current.count() == 1)
    // and the DataFrame-API scan agrees
    assert(cat.loadTable("lake", "r").scan(snapshotId = Some(snap1))
      .columns.toSeq == Seq("r_regionkey", "r_name"))
  }

  test("snapshotId option time-travels") {
    val wh = warehouse("tt")
    val cat = new IceCatalog(spark, wh)
    val df = graft.queries.QUtil.t(spark, sfDir, "nation")
    val tbl = cat.createTable("lake", "nation_t", df.schema)
    tbl.append(df.filter(col("n_nationkey") < 10))
    tbl.append(df.filter(col("n_nationkey") >= 10))
    val snap1 = tbl.snapshots.head.snapshotId
    val pinned = spark.read.format("icelite")
      .option("warehouse", wh).option("table", "lake.nation_t")
      .option("snapshotId", snap1.toString).load()
    assert(pinned.count() == df.filter(col("n_nationkey") < 10).count())
    val current = spark.read.format("icelite")
      .option("warehouse", wh).option("table", "lake.nation_t").load()
    assert(current.count() == df.count())
  }

  test("_file metadata column names the data file of each row") {
    val (wh, _) = mkTable("filecol")
    spark.conf.set("spark.sql.catalog.ice_fc", "graft.sources.v2.IceLiteCatalog")
    spark.conf.set("spark.sql.catalog.ice_fc.warehouse", wh)
    val rows = spark.sql(
      "SELECT o_orderkey, _file FROM ice_fc.lake.orders_t").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getString(1).endsWith(".parquet")))
    // file paths are real manifest entries
    val mtbl = new IceCatalog(spark, wh).loadTable("lake", "orders_t")
    val manifest = mtbl.visibleFiles(mtbl.meta.currentSnapshot.get).map(_.path).toSet
    assert(rows.map(_.getString(1)).toSet.subsetOf(manifest))
    // grouping by _file reproduces per-file row counts from the manifest
    val perFile = spark.sql(
      "SELECT _file, count(*) c FROM ice_fc.lake.orders_t GROUP BY _file")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = mtbl.visibleFiles(mtbl.meta.currentSnapshot.get)
      .map(f => f.path -> f.rows).toMap
    assert(perFile == expected)
  }

  test("join on a partition column runtime-prunes scan partitions (DPP)") {
    val wh = warehouse("dpp")
    val cat = new IceCatalog(spark, wh)
    val ev = graft.queries.QUtil.t(spark, sfDir, "events")
      .select("event_id", "user_id", "event_type", "value")
    cat.createTable("lake", "fact", ev.schema, partitionBy = Seq("event_type"))
      .append(ev)
    spark.conf.set("spark.sql.catalog.ice_dpp", "graft.sources.v2.IceLiteCatalog")
    spark.conf.set("spark.sql.catalog.ice_dpp.warehouse", wh)
    import spark.implicits._
    // dim must be file-backed: a LocalRelation dim gets its filter folded
    // away by ConvertToLocalRelation before PartitionPruning can see a
    // selective predicate. The predicate keeps two of five keys — DPP
    // hands exactly those to the fact scan at runtime.
    val dimPath = scratch("dpp-dim")
    Seq(("click", 1.0), ("purchase", 2.0), ("view", 99.0),
      ("error", 99.0), ("signup", 99.0))
      .toDF("etype", "weight").write.parquet(dimPath)
    spark.read.parquet(dimPath).createOrReplaceTempView("dim")
    val q = spark.sql(
      """SELECT f.event_id, f.event_type, d.weight
        |FROM ice_dpp.lake.fact f JOIN dim d ON f.event_type = d.etype
        |WHERE d.weight < 10.0""".stripMargin)
    val expect = ev.filter(col("event_type").isin("click", "purchase")).count()
    assert(q.collect().length == expect)
    // AQE injects the v2 runtime filter during execution — inspect the
    // final plan of THIS QueryExecution only after collect() ran it
    // (count() would execute a different QueryExecution)
    val runtime = q.queryExecution.executedPlan.toString
    assert(runtime.contains("dynamicpruningexpression"),
      s"no runtime filter injected into the scan: $runtime")
  }

  test("streaming source tails append snapshots and resumes from checkpoint") {
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val wh = warehouse("stream")
    val cat = new IceCatalog(spark, wh)
    val df = graft.queries.QUtil.t(spark, sfDir, "nation")
    val tbl = cat.createTable("lake", "n", df.schema)
    tbl.append(df.filter(col("n_nationkey") < 10))
    tbl.append(df.filter(col("n_nationkey") >= 10))
    val ckpt = java.nio.file.Files.createTempDirectory("icelite-stream").toString
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    def drain(): Unit = {
      val q = spark.readStream.format("icelite")
        .option("warehouse", wh).option("table", "lake.n").load()
        .writeStream
        .outputMode(OutputMode.Append())
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.select("n_nationkey").collect()
            .foreach(r => seen.add(r.getInt(0).toLong))
          ()
        }
        .start()
      q.awaitTermination()
    }
    drain()
    assert(seen.size == 25, s"initial drain saw ${seen.size} rows")
    // new append while the stream is down; resume reads ONLY the delta
    seen.clear()
    tbl.append(df.filter(col("n_nationkey") < 3)
      .withColumn("n_nationkey", col("n_nationkey") + 100))
    drain()
    assert(seen.size == 3 && Seq(100L, 101L, 102L).forall(seen.contains),
      s"resume must deliver exactly the new snapshot, saw $seen")
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
  }

  test("streaming select(one col) plans a one-column reader schema") {
    val wh = warehouse("stream-prune")
    val cat = new IceCatalog(spark, wh)
    val df = graft.queries.QUtil.t(spark, sfDir, "nation")
    cat.createTable("lake", "n", df.schema).append(df)
    val sdf = spark.readStream.format("icelite")
      .option("warehouse", wh).option("table", "lake.n").load()
      .select("n_name")
    // Spark never calls pruneColumns for streams; the StreamScanPruning
    // analyzer rule must have narrowed the relation's table instead
    val rels = sdf.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.catalyst.streaming.StreamingRelationV2 => r
    }
    assert(rels.length == 1)
    assert(rels.head.table.schema().fieldNames.toSeq == Seq("n_name"),
      s"stream table not narrowed: ${rels.head.table.schema().fieldNames.toSeq}")
    assert(rels.head.output.map(_.name) == Seq("n_name"))
    // and the narrowed stream still delivers correct data end-to-end
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val q = sdf.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("icelite-prune").toString)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        assert(b.schema.fieldNames.toSeq == Seq("n_name"))
        b.collect().foreach(r => seen.add(r.getString(0)))
        ()
      }
      .start()
    q.awaitTermination()
    assert(seen.size == 25 && seen.contains("NATION_0"), s"pruned stream lost rows: $seen")
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
  }

  test("streaming a partitioned table binds columns in declared order") {
    // regression: the reader emits partition vectors LAST, but streaming
    // output binds positionally to the declared schema — a partition column
    // declared first used to misbind (NPE / silently swapped values)
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val wh = warehouse("stream-part-order")
    val cat = new IceCatalog(spark, wh)
    val df = graft.queries.QUtil.t(spark, sfDir, "nation")
      .select(col("n_regionkey"), col("n_nationkey"), col("n_name"))
    cat.createTable("lake", "n", df.schema, partitionBy = Seq("n_regionkey"))
      .append(df)
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[(Int, Int, String)]()
    val q = spark.readStream.format("icelite")
      .option("warehouse", wh).option("table", "lake.n").load()
      .writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("icelite-part-order").toString)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r => seen.add((r.getInt(0), r.getInt(1), r.getString(2))))
        ()
      }
      .start()
    q.awaitTermination()
    val expected = df.collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getString(2))).toSet
    assert(seen.size == 25)
    assert(expected.forall(seen.contains),
      "partitioned stream misbound columns")
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
  }

  test("streaming filter on a partition column prunes batch files before IO") {
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val wh = warehouse("stream-filt")
    val cat = new IceCatalog(spark, wh)
    val ev = graft.queries.QUtil.t(spark, sfDir, "events")
      .select("event_id", "event_type", "value")
    cat.createTable("lake", "ev_sf", ev.schema, partitionBy = Seq("event_type"))
      .append(ev)
    val name = s"stream_filt_${System.nanoTime()}"
    val q = spark.readStream.format("icelite")
      .option("warehouse", wh).option("table", "lake.ev_sf").load()
      .filter(col("event_type") === "click")
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append())
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("icelite-stream-filt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val clicks = ev.filter(col("event_type") === "click")
    assert(spark.table(name).count() == clicks.count())
    // the pruning proof: the SOURCE served only the click partition's rows
    // (without file pruning numInputRows would be the whole table — the
    // Filter above the scan hides that waste from the result but not from
    // the progress counters)
    val served = q.recentProgress.map(_.numInputRows).sum
    assert(served == clicks.count(),
      s"stream served $served rows for a one-partition filter " +
        s"(expected ${clicks.count()}) — batch file pruning inert")
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
  }

  test("changelog stream: byte-capped admission composes with partition filter") {
    // the round-8 additions meet here: a partition-filtered CDC stream
    // under maxBytesPerTrigger must replay a multi-snapshot history across
    // multiple epochs AND still equal the batch changelog diff — the
    // likely-regression seam between admission control and stream pruning
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    import spark.implicits._
    val wh = warehouse("cdc-cap-filt")
    val cat = new IceCatalog(spark, wh)
    val df = (1L to 60L).map(i => (i, if (i % 3 == 0) "a" else "b", s"v$i"))
      .toDF("k", "g", "v")
    val tbl = cat.createTable("lake", "t", df.schema, partitionBy = Seq("g"))
    tbl.append(df.filter(col("k") <= 20))
    tbl.append(df.filter(col("k") > 20 && col("k") <= 40))
    tbl.upsertMorEq((1L to 10L).map(i =>
      (i, if (i % 3 == 0) "a" else "b", "UP")).toDF("k", "g", "v"), Seq("k"))
    tbl.append(df.filter(col("k") > 40))
    val name = s"cdc_cap_${System.nanoTime()}"
    val q = spark.readStream.format("icelite")
      .option("warehouse", wh).option("table", "lake.t")
      .option("changelog", "true")
      .option("maxBytesPerTrigger", "1")
      .load()
      .filter(col("g") === "a")
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append())
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("icelite-cdc-cap").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    def key(r: org.apache.spark.sql.Row) = r.getValuesMap[Any](r.schema.fieldNames)
    val got = spark.table(name).collect().map(key).toSet
    val expect = tbl.changelog(0L).filter(col("g") === "a")
      .collect().map(key).toSet
    assert(got == expect,
      s"capped+filtered stream diverges from batch diff: " +
        s"missing=${expect -- got} extra=${got -- expect}")
    assert(got.nonEmpty, "fixture must produce filtered change rows")
    // the 1-byte cap admits one snapshot per epoch: the history must have
    // replayed across several data-carrying batches, not one big one
    val dataBatches = q.recentProgress.count(_.numInputRows > 0)
    assert(dataBatches >= 3,
      s"expected multi-epoch replay under the byte cap, got $dataBatches")
    // and pruning engaged: the source served fewer change rows than the
    // unfiltered changelog carries
    val served = q.recentProgress.map(_.numInputRows).sum
    val full = tbl.changelog(0L).count()
    assert(served < full,
      s"stream served $served of $full change rows — partition pruning " +
        "inert under the byte cap")
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
  }

  test("dynamic partition overwrite: touched replaced, debt trimmed, refusals") {
    import org.apache.spark.sql.sources.EqualTo
    import spark.implicits._
    val wh = warehouse("dynover")
    val cat = new IceCatalog(spark, wh)
    val df = (1L to 40L).map(i => (i, if (i % 2 == 0) "a" else "b", s"v$i"))
      .toDF("k", "g", "v")
    val tbl = cat.createTable("lake", "t", df.schema, partitionBy = Seq("g"))
    tbl.append(df)
    // MOR debt in BOTH partitions: the overwritten one's debt must drop
    // with its files, the carried one's must keep applying
    tbl.deleteWhereMor(Seq(EqualTo("k", 2L))) // lives in 'a'
    tbl.deleteWhereMor(Seq(EqualTo("k", 3L))) // lives in 'b'
    assert(tbl.toDF.count() == 38)
    spark.conf.set("spark.sql.catalog.ice_dyn", "graft.sources.v2.IceLiteCatalog")
    spark.conf.set("spark.sql.catalog.ice_dyn.warehouse", wh)
    Seq((100L, "a", "x"), (101L, "a", "y"), (102L, "a", "z")).toDF("k", "g", "v")
      .writeTo("ice_dyn.lake.t").overwritePartitions()
    val t2 = cat.loadTable("lake", "t")
    val snap = t2.meta.currentSnapshot.get
    assert(snap.operation == "overwrite", s"$snap")
    assert(t2.toDF.filter(col("g") === "a").count() == 3,
      "touched partition must hold exactly the new rows")
    assert(t2.toDF.filter(col("g") === "b").count() == 19,
      "carried partition must keep its rows minus its own MOR debt")
    assert(t2.toDF.filter(col("g") === "b" && col("k") === 3L).count() == 0,
      "carried partition's position delete must keep applying")
    assert(snap.totalRows == 22, s"totalRows=${snap.totalRows}")
    // unpartitioned table: overwritePartitions replaces wholesale
    val u = cat.createTable("lake", "u", df.schema)
    u.append(df)
    Seq((1L, "z", "only")).toDF("k", "g", "v")
      .writeTo("ice_dyn.lake.u").overwritePartitions()
    assert(cat.loadTable("lake", "u").toDF.count() == 1)
    // evolved layout: membership of old-era files is undecidable — refuse
    val e = cat.createTable("lake", "e", df.schema, partitionBy = Seq("g"))
    e.append(df)
    e.setPartitionSpec(Nil)
    e.append(df.limit(0))
    val ex = intercept[Exception](
      Seq((1L, "a", "w")).toDF("k", "g", "v")
        .writeTo("ice_dyn.lake.e").overwritePartitions())
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("single-era")),
      s"expected the single-era refusal, got: $ex")
    // SQL INSERT OVERWRITE, static mode (default): full truncate-and-insert
    spark.sql("INSERT OVERWRITE ice_dyn.lake.u " +
      "SELECT k, g, v FROM VALUES (9L, 'q', 'qq') AS t(k, g, v)")
    val uRows = cat.loadTable("lake", "u").toDF.collect()
    assert(uRows.length == 1 && uRows(0).getLong(0) == 9L,
      s"static INSERT OVERWRITE must truncate-and-insert: ${uRows.toSeq}")
    assert(cat.loadTable("lake", "u").meta.currentSnapshot.get.operation
      == "overwrite")
    // static PARTITION clause: only the named partition is replaced,
    // proven by carried-by-path on the foreign partition
    val p = cat.createTable("lake", "p", df.schema, partitionBy = Seq("g"))
    p.append(df)
    val pBefore = p.visibleFiles(p.meta.currentSnapshot.get).map(_.path).toSet
    spark.sql("INSERT OVERWRITE ice_dyn.lake.p PARTITION (g = 'a') " +
      "SELECT k, v FROM VALUES (7L, 'seven') AS t(k, v)")
    val p2 = cat.loadTable("lake", "p")
    val pAfter = p2.visibleFiles(p2.meta.currentSnapshot.get).map(_.path).toSet
    assert(p2.toDF.filter(col("g") === "a").count() == 1)
    assert(p2.toDF.filter(col("g") === "b").count() == 20)
    assert((pAfter intersect pBefore).exists(_.contains("g=b")),
      "foreign partition must be carried by path")
    assert(!pAfter.exists(q => pBefore(q) && q.contains("g=a")),
      "the named partition's files must be replaced")
    // a row-partial overwrite condition (non-partition column) refuses:
    // file-granular truncation would approximate it
    val exPart = intercept[Exception](
      Seq((1L, "a", "w")).toDF("k", "g", "v")
        .writeTo("ice_dyn.lake.p").overwrite(col("k") < 5))
    assert(msgs(exPart).exists(_.contains("not exact on identity partition")),
      s"expected the exactness refusal, got: $exPart")
  }

  test("dynamic overwrite racing a concurrent append: retry keeps foreign rows") {
    import spark.implicits._
    val wh = warehouse("dynover-race")
    val cat = new IceCatalog(spark, wh)
    val df = (1L to 20L).map(i => (i, if (i % 2 == 0) "a" else "b", s"v$i"))
      .toDF("k", "g", "v")
    val tbl = cat.createTable("lake", "t", df.schema, partitionBy = Seq("g"))
    tbl.append(df)
    spark.conf.set("spark.sql.catalog.ice_dor", "graft.sources.v2.IceLiteCatalog")
    spark.conf.set("spark.sql.catalog.ice_dor.warehouse", wh)
    // the overwrite's commit-retry recomputes carried files against the NEW
    // current snapshot, so an append landing concurrently must survive when
    // it touches a FOREIGN partition (and an append into the overwritten
    // partition loses to the overwrite — last-writer-wins on touched)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    Await.result(Future.sequence(Seq(
      Future {
        tbl.append(Seq((200L, "b", "late")).toDF("k", "g", "v"))
      },
      Future {
        Seq((100L, "a", "ow")).toDF("k", "g", "v")
          .writeTo("ice_dor.lake.t").overwritePartitions()
      })), 120.seconds)
    val t2 = cat.loadTable("lake", "t")
    val a = t2.toDF.filter(col("g") === "a").select("k").as[Long].collect().toSet
    val b = t2.toDF.filter(col("g") === "b").select("k").as[Long].collect().toSet
    assert(b.contains(200L),
      "a concurrent append into a FOREIGN partition must survive the overwrite")
    assert(b.size == 11, s"b partition must keep all its rows: $b")
    assert(a == Set(100L),
      s"the overwritten partition must hold exactly the overwrite's rows: $a")
  }

  test("hidden-partitioned tables: MOR delete, SQL UPDATE, and streaming") {
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val wh = warehouse("hp-interop")
    val cat = new IceCatalog(spark, wh)
    import spark.implicits._
    val df = (1L to 100L).map(i => (i, i % 7, s"v$i")).toDF("k", "g", "v")
    val tbl = cat.createTable("lake", "t", df.schema,
      partitionBy = Seq("bucket(4,k)"))
    tbl.append(df)
    // MOR delete against the transform layout (source column lives in data)
    tbl.deleteWhereMor(Seq(org.apache.spark.sql.sources.EqualTo("k", 7L)))
    assert(tbl.toDF.count() == 99)
    assert(tbl.visibleFiles(tbl.meta.currentSnapshot.get)
      .forall(_.path.contains("k_bucket=")), "layout must survive the delete")
    // SQL UPDATE routes the rewrite through the fanout writer
    spark.conf.set("spark.sql.catalog.ice_hpi", "graft.sources.v2.IceLiteCatalog")
    spark.conf.set("spark.sql.catalog.ice_hpi.warehouse", wh)
    spark.sql("UPDATE ice_hpi.lake.t SET v = 'X' WHERE k <= 3")
    val got = spark.sql("SELECT v FROM ice_hpi.lake.t WHERE k <= 3 ORDER BY k")
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq("X", "X", "X"))
    assert(tbl.toDF.count() == 99)
    // streaming a fresh transform-partitioned table (append-only history)
    val st = cat.createTable("lake", "s", df.schema,
      partitionBy = Seq("bucket(4,k)"))
    st.append(df.filter(col("k") <= 50))
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val q = spark.readStream.format("icelite")
      .option("warehouse", wh).option("table", "lake.s").load()
      .writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("icelite-hp-stream").toString)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r => seen.add(r.getLong(0)))
        ()
      }
      .start()
    q.awaitTermination()
    assert(seen.size == 50, s"stream served ${seen.size} of 50 rows")
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
  }

  test("native streaming sink: one snapshot per epoch, exactly-once on restart") {
    import org.apache.spark.sql.streaming.Trigger
    val wh = warehouse("stream-sink")
    val cat = new IceCatalog(spark, wh)
    import spark.implicits._
    val df = (1L to 30L).map(i => (i, s"v$i")).toDF("id", "v")
    val src = cat.createTable("lake", "src", df.schema)
    (0 until 3).foreach(i => src.append(df.filter(col("id") % 3 === i)))
    cat.createTable("lake", "dst", df.schema)
    val ckpt = java.nio.file.Files.createTempDirectory("icelite-sink").toString
    def run(): Unit = {
      val q = spark.readStream.format("icelite")
        .option("warehouse", wh).option("table", "lake.src")
        .option("maxFilesPerTrigger", "1").load()
        .writeStream.format("icelite")
        .option("warehouse", wh).option("table", "lake.dst")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    run()
    val dst = cat.loadTable("lake", "dst")
    assert(dst.toDF.orderBy("id").collect().toSeq ==
      df.orderBy("id").collect().toSeq)
    // bounded admission -> several epochs -> several stamped snapshots
    assert(dst.snapshots.length >= 2, s"got ${dst.snapshots.length} snapshots")
    assert(dst.snapshots.forall(s =>
      s.operation == "append" && s.streamCommit.nonEmpty))
    // restart on the same checkpoint: nothing new, nothing duplicated
    run()
    assert(dst.toDF.count() == 30, "restart must not duplicate epochs")
    // ... and the sink's snapshots tail straight into the streaming SOURCE:
    // the round trip is icelite -> stream -> icelite
    assert(dst.toDF.orderBy("id").collect().toSeq ==
      src.toDF.orderBy("id").collect().toSeq)
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
  }

  test("streaming CDC upsert sink: last writer wins, exactly-once on restart") {
    import org.apache.spark.sql.streaming.Trigger
    val wh = warehouse("stream-upsert")
    val cat = new IceCatalog(spark, wh)
    import spark.implicits._
    val v1 = (1L to 30L).map(i => (i, s"v$i")).toDF("id", "v")
    val v2 = (10L to 40L).map(i => (i, s"w$i")).toDF("id", "v")
    val src = cat.createTable("lake", "src", v1.schema)
    src.append(v1.repartition(1))
    src.append(v2.repartition(1))
    cat.createTable("lake", "dst", v1.schema)
    val ckpt = java.nio.file.Files.createTempDirectory("icelite-upsert").toString
    def run(): Unit = {
      val q = spark.readStream.format("icelite")
        .option("warehouse", wh).option("table", "lake.src")
        .option("maxFilesPerTrigger", "1").load()
        .writeStream.format("icelite")
        .option("warehouse", wh).option("table", "lake.dst")
        .option("upsertKeys", "id")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    run()
    val dst = cat.loadTable("lake", "dst")
    // keys 10-30 overwritten by epoch 2, 31-40 inserted, 1-9 survive
    val expect = ((1L to 9L).map(i => (i, s"v$i")) ++
      (10L to 40L).map(i => (i, s"w$i"))).sortBy(_._1)
    assert(dst.toDF.orderBy("id").collect().map(r =>
      (r.getLong(0), r.getString(1))).toSeq == expect)
    assert(dst.snapshots.forall(s =>
      s.operation == "upsert" && s.streamCommit.nonEmpty))
    // restart on the same checkpoint: replayed epochs are no-ops
    run()
    assert(dst.toDF.count() == 40, "restart must not duplicate epochs")
    assert(dst.snapshots.length == 2, "no new snapshots on replay")
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
  }

  test("maxFilesPerTrigger splits a populated table into bounded batches") {
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val wh = warehouse("stream-admission")
    val cat = new IceCatalog(spark, wh)
    val df = graft.queries.QUtil.t(spark, sfDir, "nation")
    val tbl = cat.createTable("lake", "n", df.schema)
    // 4 snapshots of history BEFORE the stream starts — without admission
    // control the first trigger would plan all of them as one batch
    (0 until 4).foreach(i => tbl.append(df.filter(col("n_nationkey") % 4 === i)))
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val batches = new java.util.concurrent.atomic.AtomicInteger(0)
    val q = spark.readStream.format("icelite")
      .option("warehouse", wh).option("table", "lake.n")
      .option("maxFilesPerTrigger", "1")
      .load()
      .writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("icelite-admission").toString)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = b.select("n_nationkey").collect()
        if (rows.nonEmpty) batches.incrementAndGet()
        rows.foreach(r => seen.add(r.getInt(0).toLong))
        ()
      }
      .start()
    q.awaitTermination()
    // same rows as an uncapped drain, delivered in >1 bounded batches
    assert(seen.size == 25, s"capped drain lost rows: ${seen.size}")
    assert(batches.get() == 4,
      s"expected one batch per snapshot at cap=1 file, got ${batches.get()}")
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    // Inline byte accounting: every commit records addedByteCount, and it
    // equals the manifest-derived fallback — so byte-capped latestOffset
    // stays O(1) per pending snapshot instead of scanning manifests
    val tblN = new graft.icelite.IceCatalog(spark, wh).loadTable("lake", "n")
    val fsN = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    tblN.snapshots.foreach { sn =>
      assert(sn.addedByteCount > 0,
        s"snapshot ${sn.snapshotId} lacks an inline added-byte count")
      assert(sn.addedByteCount ==
        graft.icelite.FileStats.addedBytes(fsN, sn.copy(addedByteCount = -1L)),
        s"inline byte count diverges from manifest fallback at ${sn.snapshotId}")
    }
    // BYTE-based admission: a 1-byte cap still admits one snapshot per
    // batch (progress guarantee) — the robust cap when file sizes skew
    val seenB = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val batchesB = new java.util.concurrent.atomic.AtomicInteger(0)
    val qb = spark.readStream.format("icelite")
      .option("warehouse", wh).option("table", "lake.n")
      .option("maxBytesPerTrigger", "1")
      .load()
      .writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("icelite-admission-b").toString)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = b.select("n_nationkey").collect()
        if (rows.nonEmpty) batchesB.incrementAndGet()
        rows.foreach(r => seenB.add(r.getInt(0).toLong))
        ()
      }
      .start()
    qb.awaitTermination()
    assert(seenB.size == 25, s"byte-capped drain lost rows: ${seenB.size}")
    assert(batchesB.get() == 4,
      s"expected one snapshot per batch at a 1-byte cap, got ${batchesB.get()}")
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
  }

  private def scanDescOf(q: org.apache.spark.sql.DataFrame): String =
    q.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString

  private def plannedOf(desc: String): (Int, Int) = {
    val m = """files=(\d+) planned=(\d+)""".r.findFirstMatchIn(desc)
      .getOrElse(fail(s"no planning counters in scan description: $desc"))
    (m.group(1).toInt, m.group(2).toInt)
  }

  test("sorted compaction clusters files so a key predicate plans O(1) files") {
    val wh = warehouse("sortcomp")
    val cat = new IceCatalog(spark, wh)
    val df = graft.queries.QUtil.t(spark, sfDir, "orders")
    val tbl = cat.createTable("lake", "orders_sc", df.schema)
    // three appends, round-robin split so EVERY file spans the full key
    // range: a key predicate can prove nothing from min/max stats
    (0 until 3).foreach(i =>
      tbl.append(df.filter(col("o_orderkey") % 3 === i).repartition(2)))
    val maxKey = df.agg(max("o_orderkey")).collect()(0).getAs[Number](0).longValue
    def planned(): (Int, Int) = plannedOf(scanDescOf(
      spark.read.format("icelite")
        .option("warehouse", wh).option("table", "lake.orders_sc").load()
        .filter(col("o_orderkey") <= maxKey / 8)))
    val (filesBefore, plannedBefore) = planned()
    assert(plannedBefore == filesBefore,
      s"overlapping layout should plan everything: $plannedBefore of $filesBefore")
    tbl.compact(targetFiles = 4, sortBy = Seq("o_orderkey"))
    val (files, plannedAfter) = planned()
    assert(files == 4, s"expected 4 compacted files, saw $files")
    assert(plannedAfter == 1,
      s"disjoint ranges should prune to exactly 1 file, planned $plannedAfter")
    // and the clustered table still answers exactly right
    val q = spark.read.format("icelite")
      .option("warehouse", wh).option("table", "lake.orders_sc").load()
      .filter(col("o_orderkey") <= maxKey / 8)
    val expect = df.filter(col("o_orderkey") <= maxKey / 8)
    assert(q.count() == expect.count())
  }

  test("partition evolution prunes each era by its own layout") {
    val wh = warehouse("pevo")
    val cat = new IceCatalog(spark, wh)
    val df = graft.queries.QUtil.t(spark, sfDir, "nation")
    val tbl = cat.createTable("lake", "n", df.schema)
    tbl.append(df.filter(col("n_nationkey") < 10))      // era 1: unpartitioned
    tbl.setPartitionSpec(Seq("n_regionkey"))
    tbl.append(df.filter(col("n_nationkey") >= 10))     // era 2: hive by region
    val q = spark.read.format("icelite")
      .option("warehouse", wh).option("table", "lake.n").load()
      .filter(col("n_regionkey") === 2)
    val (files, planned) = plannedOf(scanDescOf(q))
    // era-2 files prune by their directories; the era-1 file prunes (or
    // not) by its region footer stats — either way results stay exact
    assert(planned < files,
      s"evolved layout should prune some files: planned=$planned of $files")
    assert(q.count() == df.filter(col("n_regionkey") === 2).count())
    assert(q.orderBy("n_nationkey").collect().toSeq ==
      df.filter(col("n_regionkey") === 2).orderBy("n_nationkey").collect().toSeq)
    // SQL path reads the same evolved table
    spark.conf.set("spark.sql.catalog.icecat_pevo", "graft.sources.v2.IceLiteCatalog")
    spark.conf.set("spark.sql.catalog.icecat_pevo.warehouse", wh)
    assert(spark.sql("SELECT count(*) FROM icecat_pevo.lake.n WHERE n_regionkey = 2")
      .collect()(0).getLong(0) == df.filter(col("n_regionkey") === 2).count())
  }

  test("zorder compaction prunes on EVERY clustered dimension") {
    val wh = warehouse("zorder")
    val cat = new IceCatalog(spark, wh)
    val df = graft.queries.QUtil.t(spark, sfDir, "orders")
    val tbl = cat.createTable("lake", "orders_z", df.schema)
    tbl.append(df.repartition(3)) // round-robin: every file spans both domains
    val maxKey = df.agg(max("o_orderkey")).collect()(0).getAs[Number](0).longValue
    val maxCust = df.agg(max("o_custkey")).collect()(0).getAs[Number](0).longValue
    def planned(c: String, hi: Long): (Int, Int) = plannedOf(scanDescOf(
      spark.read.format("icelite")
        .option("warehouse", wh).option("table", "lake.orders_z").load()
        .filter(col(c) <= hi)))
    tbl.compact(targetFiles = 16, zorderBy = Seq("o_orderkey", "o_custkey"))
    // a narrow range on EITHER dimension must prune: the z-curve keeps both
    // coordinates' top bits in the key, so 16 curve segments tile the plane
    // (a single-column sort would prune only its own dimension)
    val (files1, p1) = planned("o_orderkey", maxKey / 8)
    val (files2, p2) = planned("o_custkey", maxCust / 8)
    assert(files1 == 16 && files2 == 16, s"expected 16 files, saw $files1/$files2")
    assert(p1 <= 8, s"orderkey range should prune z-ordered files: planned $p1 of 16")
    assert(p2 <= 8, s"custkey range should prune z-ordered files: planned $p2 of 16")
    // and content survives exactly
    val q = spark.read.format("icelite")
      .option("warehouse", wh).option("table", "lake.orders_z").load()
      .filter(col("o_custkey") <= maxCust / 8)
    assert(q.count() == df.filter(col("o_custkey") <= maxCust / 8).count())
  }

  test("manifest stats skip files that cannot match pushed filters") {
    val wh = warehouse("skip")
    val cat = new IceCatalog(spark, wh)
    val df = graft.queries.QUtil.t(spark, sfDir, "orders")
    val tbl = cat.createTable("lake", "orders_r", df.schema)
    // 4 files with disjoint o_orderkey ranges -> a selective key predicate
    // can prove 3 of them irrelevant from manifest min/max alone
    tbl.append(df.repartitionByRange(4, col("o_orderkey")))
    val maxKey = df.agg(max("o_orderkey")).collect()(0).getAs[Number](0).longValue
    val q = spark.read.format("icelite")
      .option("warehouse", wh).option("table", "lake.orders_r").load()
      .filter(col("o_orderkey") <= maxKey / 8)
    val (files, planned) = plannedOf(scanDescOf(q))
    assert(files == 4, s"expected 4 data files, saw $files")
    assert(planned < files, s"no file skipping: planned=$planned of $files")
    // and the pruned scan is still exactly right
    val expect = df.filter(col("o_orderkey") <= maxKey / 8)
    assert(q.count() == expect.count())
    assert(q.orderBy("o_orderkey").collect().toSeq ==
      expect.orderBy("o_orderkey").collect().toSeq)
    // an unselective filter plans everything
    val all = spark.read.format("icelite")
      .option("warehouse", wh).option("table", "lake.orders_r").load()
      .filter(col("o_orderkey") >= 0)
    assert(plannedOf(scanDescOf(all))._2 == 4)
  }

  test("COUNT/MIN/MAX push down to the manifest: no parquet read at all") {
    val (wh, df) = mkTable("aggpush")
    val load = () => spark.read.format("icelite")
      .option("warehouse", wh).option("table", "lake.orders_t").load()
    val q = load().agg(
      count(lit(1)).as("n"), min(col("o_orderkey")).as("lo"),
      max(col("o_orderkey")).as("hi"), count(col("o_custkey")).as("nc"))
    val desc = scanDescOf(q)
    assert(desc.contains("aggPushed=") && desc.contains("manifest-only"),
      s"aggregation not answered from manifest: $desc")
    val r = q.collect()(0)
    val expect = df.agg(count(lit(1)), min(col("o_orderkey")),
      max(col("o_orderkey")), count(col("o_custkey"))).collect()(0)
    assert(r == expect, s"$r != $expect")
    // a WHERE clause makes manifest totals wrong — must fall back to a scan
    val filtered = load().filter(col("o_orderkey") > 100).agg(count(lit(1)).as("n"))
    assert(!scanDescOf(filtered).contains("aggPushed"),
      s"filtered aggregate must not push: ${scanDescOf(filtered)}")
    assert(filtered.collect()(0).getLong(0) ==
      df.filter(col("o_orderkey") > 100).count())
    // SUM pushes too: the table-API funnel now rides the row-loop writer,
    // so even these files carry exact per-file sums in the manifest
    val summed = load().agg(sum(col("o_orderkey")).as("s"))
    assert(scanDescOf(summed).contains("aggPushed"),
      s"SUM over sum-carrying files must push: ${scanDescOf(summed)}")
    assert(summed.collect()(0) == df.agg(sum(col("o_orderkey"))).collect()(0))
  }

  test("grouped agg pushdown: partition-column groups push; evolution refuses") {
    val wh = warehouse("aggpush-grp")
    val cat = new IceCatalog(spark, wh)
    val df = graft.queries.QUtil.t(spark, sfDir, "events")
      .select("event_id", "event_type", "value")
    val tbl = cat.createTable("lake", "ev_g", df.schema,
      partitionBy = Seq("event_type"))
    tbl.append(df)
    def load() = spark.read.format("icelite")
      .option("warehouse", wh).option("table", "lake.ev_g").load()
    val q = load().groupBy("event_type")
      .agg(count(lit(1)).as("n"), min(col("value")).as("lo"))
    assert(scanDescOf(q).contains("manifest-only"),
      s"grouped agg on a partition column must push: ${scanDescOf(q)}")
    val got = q.orderBy("event_type").collect().toSeq
    val expect = df.groupBy("event_type")
      .agg(count(lit(1)).as("n"), min(col("value")).as("lo"))
      .orderBy("event_type").collect().toSeq
    assert(got == expect, s"$got != $expect")
    // grouping on a NON-partition column cannot answer from the manifest
    val byData = load().groupBy("event_id").agg(count(lit(1)).as("n"))
    assert(!scanDescOf(byData).contains("aggPushed"))
    // partition evolution makes file->group membership era-dependent:
    // grouped pushdown must refuse and the fallback stays correct
    tbl.setPartitionSpec(Nil)
    tbl.append(df.limit(0)) // new era exists (no rows added)
    val evolved = load().groupBy("event_type").agg(count(lit(1)).as("n"))
    assert(!scanDescOf(evolved).contains("aggPushed"),
      s"evolved layout must refuse grouped pushdown: ${scanDescOf(evolved)}")
    assert(evolved.orderBy("event_type").collect().toSeq ==
      df.groupBy("event_type").agg(count(lit(1)).as("n"))
        .orderBy("event_type").collect().toSeq)
  }

  test("bucket grouped pushdown: matching width pushes; width mismatch refuses") {
    val wh = warehouse("aggpush-bkt")
    val cat = new IceCatalog(spark, wh)
    val df = graft.queries.QUtil.t(spark, sfDir, "events")
      .select("event_id", "event_type", "value")
    cat.createTable("lake", "ev_b", df.schema,
      partitionBy = Seq("bucket(4,event_type)")).append(df)
    spark.conf.set("spark.sql.catalog.icelite_bw", "graft.sources.v2.IceLiteCatalog")
    spark.conf.set("spark.sql.catalog.icelite_bw.warehouse", wh)
    def q(width: Int) = spark.sql(
      s"""SELECT icelite_bw.system.bucket($width, event_type) AS b, COUNT(*) AS n
         |FROM icelite_bw.lake.ev_b
         |GROUP BY icelite_bw.system.bucket($width, event_type)
         |ORDER BY b""".stripMargin)
    assert(scanDescOf(q(4)).contains("manifest-only"),
      s"matching bucket width must push: ${scanDescOf(q(4))}")
    // GROUP BY bucket(16,...) over a bucket(4,...) layout: directory values
    // cannot answer the 16-wide grouping — must refuse, fall back row-wise
    val mism = q(16)
    assert(!scanDescOf(mism).contains("aggPushed"),
      s"bucket-width mismatch must refuse grouped pushdown: ${scanDescOf(mism)}")
    def expect(width: Int) = df
      .select(pmod(hash(col("event_type")), lit(width)).as("b"))
      .groupBy("b").agg(count(lit(1)).as("n")).orderBy("b").collect().toSeq
    assert(mism.collect().toSeq == expect(16),
      "width-mismatch fallback must still answer correctly")
    assert(q(4).collect().toSeq == expect(4),
      "pushed grouping must equal the row-wise recompute")
  }

  test("partition-exact filters push fully; filtered aggs answer from manifests") {
    val wh = warehouse("aggpush-filt")
    val cat = new IceCatalog(spark, wh)
    // null partition values exercise the three-valued claims end to end
    val df = graft.queries.QUtil.t(spark, sfDir, "events")
      .select(col("event_id"), col("value"),
        when(col("event_id") % 97 === 0, lit(null))
          .otherwise(col("event_type")).as("event_type"))
    cat.createTable("lake", "ev_f", df.schema, partitionBy = Seq("event_type"))
      .append(df)
    def load() = spark.read.format("icelite")
      .option("warehouse", wh).option("table", "lake.ev_f").load()
    // equality filter on the partition column: agg stays manifest-only
    val q = load().filter(col("event_type") === "click")
      .agg(count(lit(1)).as("n"), min(col("value")).as("lo"))
    assert(scanDescOf(q).contains("manifest-only"),
      s"partition-filtered agg must push: ${scanDescOf(q)}")
    assert(q.collect().toSeq ==
      df.filter(col("event_type") === "click")
        .agg(count(lit(1)).as("n"), min(col("value")).as("lo")).collect().toSeq)
    // IN filter + grouping
    val g = load().filter(col("event_type").isin("click", "view"))
      .groupBy("event_type").agg(count(lit(1)).as("n"))
    assert(scanDescOf(g).contains("manifest-only"))
    assert(g.orderBy("event_type").collect().toSeq ==
      df.filter(col("event_type").isin("click", "view"))
        .groupBy("event_type").agg(count(lit(1)).as("n"))
        .orderBy("event_type").collect().toSeq)
    // IS NULL selects exactly the hive-null partition
    val n = load().filter(col("event_type").isNull).agg(count(lit(1)).as("n"))
    assert(scanDescOf(n).contains("manifest-only"))
    assert(n.collect()(0).getLong(0) ==
      df.filter(col("event_type").isNull).count())
    // negation (NOT =) is exact too, and NULL rows stay excluded
    val ne = load().filter(col("event_type") =!= "click").agg(count(lit(1)).as("n"))
    assert(scanDescOf(ne).contains("manifest-only"))
    assert(ne.collect()(0).getLong(0) ==
      df.filter(col("event_type") =!= "click").count())
    // a data-column predicate still refuses aggregate pushdown
    val d = load().filter(col("value") > 0).agg(count(lit(1)).as("n"))
    assert(!scanDescOf(d).contains("aggPushed"))
    assert(d.collect()(0).getLong(0) == df.filter(col("value") > 0).count())
    // ... and so does a mixed conjunct (only its partition half may claim)
    val m = load().filter(col("event_type") === "click" && col("value") > 0)
      .agg(count(lit(1)).as("n"))
    assert(!scanDescOf(m).contains("aggPushed"))
    assert(m.collect()(0).getLong(0) ==
      df.filter(col("event_type") === "click" && col("value") > 0).count())
    // plain (non-agg) scans under claimed filters serve exactly the rows
    val rowsGot = load().filter(col("event_type") === "view")
      .orderBy("event_id").collect().toSeq
    val rowsExp = df.filter(col("event_type") === "view")
      .select(load().columns.map(col): _*)
      .orderBy("event_id").collect().toSeq
    assert(rowsGot == rowsExp)
  }

  test("partition-exact filter claims: shape sweep matches in-memory semantics") {
    import spark.implicits._
    val wh = warehouse("exact-sweep")
    val cat = new IceCatalog(spark, wh)
    // string partition col with a null partition, plus a data col
    val df = Seq(
      ("alpha", 1L), ("alpha", 2L), ("apple", 3L), ("beta", 4L),
      ("beta", 5L), ("gamma", 6L), (null, 7L), (null, 8L))
      .toDF("p", "v")
    cat.createTable("lake", "sweep", df.schema, partitionBy = Seq("p"))
      .append(df)
    def load() = spark.read.format("icelite")
      .option("warehouse", wh).option("table", "lake.sweep").load()
    val shapes: Seq[(String, org.apache.spark.sql.Column)] = Seq(
      "eq" -> (col("p") === "alpha"),
      "neq" -> (col("p") =!= "alpha"),
      "not-eq" -> !(col("p") === "alpha"),
      "in" -> col("p").isin("alpha", "gamma"),
      "in-with-null" -> col("p").isin("alpha", null),
      "is-null" -> col("p").isNull,
      "is-not-null" -> col("p").isNotNull,
      "gt" -> (col("p") > "alpha"),
      "le" -> (col("p") <= "beta"),
      "starts-with" -> col("p").startsWith("a"),
      "null-safe-eq" -> (col("p") <=> "alpha"),
      "null-safe-null" -> (col("p") <=> lit(null)),
      "or-null" -> (col("p") === "alpha" || col("p").isNull),
      "and-or" -> ((col("p") === "alpha" || col("p") > "beta") && col("p").isNotNull),
      "not-in" -> !col("p").isin("alpha", "beta"),
      "mixed-part-data" -> (col("p") === "alpha" && col("v") > 1L))
    for ((name, f) <- shapes) {
      val got = load().filter(f).select("p", "v").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      val exp = df.filter(f).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      assert(got == exp, s"shape '$name': scan=$got expected=$exp")
      // the pushed-aggregate path must agree under the same filter
      val n = load().filter(f).agg(count(lit(1))).collect()(0).getLong(0)
      assert(n == exp.size, s"shape '$name': agg count=$n expected=${exp.size}")
    }
  }

  test("asOfTimestamp / fromTimestamp options resolve via the snapshot log") {
    import spark.implicits._
    val wh = warehouse("ts-opts")
    val cat = new IceCatalog(spark, wh)
    val tbl = cat.createTable("lake", "t",
      Seq((1L, "v")).toDF("id", "v").schema)
    tbl.append((1L to 10L).map(i => (i, "a")).toDF("id", "v")); Thread.sleep(5)
    tbl.append((11L to 15L).map(i => (i, "b")).toDF("id", "v")); Thread.sleep(5)
    tbl.append((16L to 18L).map(i => (i, "c")).toDF("id", "v"))
    val snaps = tbl.snapshots.sortBy(_.snapshotId)
    def iso(ms: Long) = java.time.Instant.ofEpochMilli(ms).toString
    def load(opts: (String, String)*) = {
      val r = spark.read.format("icelite")
        .option("warehouse", wh).option("table", "lake.t")
      opts.foldLeft(r) { case (b, (k, v)) => b.option(k, v) }.load()
    }
    // time travel by time: the state as of snap 2's commit
    assert(load("asOfTimestamp" -> iso(snaps(1).timestampMs)).count() == 15)
    // incremental by time: changes since snap 1's commit = snaps 2+3
    assert(load("fromTimestamp" -> iso(snaps(0).timestampMs)).count() == 8)
    // epoch-0 from-time replays everything
    assert(load("fromTimestamp" -> "1970-01-01T00:00:00Z").count() == 18)
    // a pin before the first commit has no state: loud error
    intercept[Exception](
      load("asOfTimestamp" -> "1970-01-01T00:00:00Z").count())
    intercept[Exception](load("fromTimestamp" -> "not-a-time").count())
    // a STREAMING fresh checkpoint attaches from a point in time the same
    // way (the CDC consumer's "tail from yesterday"): only snaps 2+3 flow
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val q = spark.readStream.format("icelite")
      .option("warehouse", wh).option("table", "lake.t")
      .option("fromTimestamp", iso(snaps(0).timestampMs))
      .load()
      .writeStream.outputMode(OutputMode.Append())
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("icelite-fromts").toString)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.select("id").collect().foreach(r => seen.add(r.getLong(0)))
        ()
      }
      .start()
    q.awaitTermination()
    assert({
      import scala.jdk.CollectionConverters._
      seen.asScala.toSet == (11L to 18L).toSet
    }, s"stream from t(snap1) must tail snaps 2+3 only: $seen")
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
  }

  test("aggregates over identity partition columns answer from directory values") {
    val wh = warehouse("aggpush-part")
    val cat = new IceCatalog(spark, wh)
    // string partition column with nulls: MIN/MAX/COUNT/COUNT(DISTINCT)
    val ev = graft.queries.QUtil.t(spark, sfDir, "events")
      .select(col("event_id"), col("value"),
        when(col("event_id") % 97 === 0, lit(null))
          .otherwise(col("event_type")).as("event_type"))
    cat.createTable("lake", "ev_p", ev.schema, partitionBy = Seq("event_type"))
      .append(ev)
    val q = spark.read.format("icelite")
      .option("warehouse", wh).option("table", "lake.ev_p").load()
      .agg(min(col("event_type")).as("lo"), max(col("event_type")).as("hi"),
        count(col("event_type")).as("n"),
        countDistinct(col("event_type")).as("nd"))
    assert(scanDescOf(q).contains("manifest-only"),
      s"partition-column aggregates must answer from dir values: ${scanDescOf(q)}")
    assert(q.collect()(0) == ev.agg(min(col("event_type")), max(col("event_type")),
      count(col("event_type")), countDistinct(col("event_type"))).collect()(0))
    // integral partition column: SUM = dir value × rows, exactly
    val n = graft.queries.QUtil.t(spark, sfDir, "nation")
      .select("n_nationkey", "n_name", "n_regionkey")
    cat.createTable("lake", "nat_p", n.schema, partitionBy = Seq("n_regionkey"))
      .append(n)
    val qs = spark.read.format("icelite")
      .option("warehouse", wh).option("table", "lake.nat_p").load()
      .agg(sum(col("n_regionkey")).as("s"), max(col("n_regionkey")).as("hi"),
        countDistinct(col("n_regionkey")).as("nd"))
    assert(scanDescOf(qs).contains("manifest-only"))
    assert(qs.collect()(0) == n.agg(sum(col("n_regionkey")),
      max(col("n_regionkey")), countDistinct(col("n_regionkey"))).collect()(0))
    // COUNT(DISTINCT data_column) has no metadata answer: refuse, stay right
    val qd = spark.read.format("icelite")
      .option("warehouse", wh).option("table", "lake.nat_p").load()
      .agg(countDistinct(col("n_name")).as("nd"))
    assert(!scanDescOf(qd).contains("aggPushed"))
    assert(qd.collect()(0).getLong(0) ==
      n.select("n_name").distinct().count())
  }

  test("SUM pushdown: writer-recorded per-file sums answer from the manifest") {
    val wh = warehouse("aggpush-sum")
    spark.conf.set("spark.sql.catalog.ice_sum", "graft.sources.v2.IceLiteCatalog")
    spark.conf.set("spark.sql.catalog.ice_sum.warehouse", wh)
    val cat = new IceCatalog(spark, wh)
    val df = graft.queries.QUtil.t(spark, sfDir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
        when(col("event_id") % 31 === 0, lit(null)).otherwise(col("user_id"))
          .as("maybe_user"),
        lit(null).cast("long").as("all_null"))
    cat.createTable("lake", "ev_s", df.schema, partitionBy = Seq("event_type"))
    df.writeTo("ice_sum.lake.ev_s").append() // DSv2 writer records sums
    def load() = spark.table("ice_sum.lake.ev_s")
    val q = load().agg(sum(col("user_id")).as("s"),
      sum(col("maybe_user")).as("sm"), sum(col("all_null")).as("sn"),
      count(lit(1)).as("n"))
    assert(scanDescOf(q).contains("manifest-only"),
      s"integral SUM must answer from writer-recorded sums: ${scanDescOf(q)}")
    val exp = df.agg(sum(col("user_id")), sum(col("maybe_user")),
      sum(col("all_null")), count(lit(1))).collect()(0)
    assert(q.collect()(0) == exp)
    // grouped + partition-exact filter composition: per-type sums WHERE
    // type IN (...) — still zero file IO
    val g = load().filter(col("event_type").isin("click", "view"))
      .groupBy("event_type").agg(sum(col("user_id")).as("s"))
    assert(scanDescOf(g).contains("manifest-only"))
    assert(g.orderBy("event_type").collect().toSeq ==
      df.filter(col("event_type").isin("click", "view"))
        .groupBy("event_type").agg(sum(col("user_id")).as("s"))
        .orderBy("event_type").collect().toSeq)
    // AVG rides the same exact totals: one double rounding, manifest-only
    val a = load().agg(avg(col("user_id")).as("a"),
      avg(col("maybe_user")).as("am"), avg(col("all_null")).as("an"))
    assert(scanDescOf(a).contains("manifest-only"),
      s"integral AVG must answer from writer-recorded sums: ${scanDescOf(a)}")
    val aRow = a.collect()(0)
    val aExp = df.agg(avg(col("user_id")), avg(col("maybe_user")),
      avg(col("all_null"))).collect()(0)
    // the scan-side fold rounds per-row (doubles); the metadata answer
    // rounds once — equal to within ulps
    assert(math.abs(aRow.getDouble(0) - aExp.getDouble(0))
      <= 1e-9 * math.abs(aExp.getDouble(0)))
    assert(math.abs(aRow.getDouble(1) - aExp.getDouble(1))
      <= 1e-9 * math.abs(aExp.getDouble(1)))
    assert(aRow.isNullAt(2) && aExp.isNullAt(2))
    // non-integral SUM refuses (doubles have no exact order-free sum)
    val d = load().agg(sum(col("value")).as("s"))
    assert(!scanDescOf(d).contains("aggPushed"))
    // the FANOUT writer (bucket layout: several files open per task) must
    // accumulate sums per open file, not per task
    cat.createTable("lake", "ev_b", df.schema,
      partitionBy = Seq("bucket(4,event_id)"))
    df.writeTo("ice_sum.lake.ev_b").append()
    val qb = spark.table("ice_sum.lake.ev_b")
      .agg(sum(col("user_id")).as("s"), sum(col("maybe_user")).as("sm"))
    assert(scanDescOf(qb).contains("manifest-only"))
    assert(qb.collect()(0) ==
      df.agg(sum(col("user_id")), sum(col("maybe_user"))).collect()(0))
    // the table-API funnel rides the row-loop writer too, so its files
    // carry sums and SUM pushes...
    val t2 = cat.createTable("lake", "ev_s2", df.schema)
    t2.append(df)
    def q2() = spark.read.format("icelite")
      .option("warehouse", wh).option("table", "lake.ev_s2").load()
      .agg(sum(col("user_id")).as("s"))
    assert(scanDescOf(q2()).contains("aggPushed"),
      s"table-API files carry sums now: ${scanDescOf(q2())}")
    assert(q2().collect()(0) == df.agg(sum(col("user_id"))).collect()(0))
    // ...but ONE file without sums (here: written under the legacy-path
    // kill-switch) refuses the whole pushdown — partial sums would lie
    spark.conf.set("graft.write.rowLoop", "false")
    try cat.loadTable("lake", "ev_s2").append(df.limit(5))
    finally spark.conf.unset("graft.write.rowLoop")
    assert(!scanDescOf(q2()).contains("aggPushed"),
      s"a sum-less file must refuse SUM pushdown: ${scanDescOf(q2())}")
    val expect2 = df.agg(sum(col("user_id"))).collect()(0).getLong(0) +
      df.limit(5).agg(sum(col("user_id"))).collect()(0).getLong(0)
    assert(q2().collect()(0).getLong(0) == expect2)
  }

  test("narrow-int SUM and decimal MIN/MAX push down to the manifest") {
    val wh = warehouse("aggpush-narrow")
    spark.conf.set("spark.sql.catalog.ice_nw", "graft.sources.v2.IceLiteCatalog")
    spark.conf.set("spark.sql.catalog.ice_nw.warehouse", wh)
    val cat = new IceCatalog(spark, wh)
    // tinyint/smallint sums accumulate exactly like int/long; decimal
    // bounds come from the r12 scaled-string footer stats
    val df = graft.queries.QUtil.t(spark, sfDir, "orders").selectExpr(
      "o_orderkey",
      "CAST(o_custkey % 120 - 60 AS TINYINT) AS t8",
      "CAST(o_orderkey % 30000 - 15000 AS SMALLINT) AS i16",
      "CAST(o_totalprice AS DECIMAL(12,2)) AS amt")
    cat.createTable("lake", "nw", df.schema)
    df.writeTo("ice_nw.lake.nw").append()
    def load() = spark.table("ice_nw.lake.nw")
    val q = load().agg(sum(col("t8")).as("s8"), sum(col("i16")).as("s16"),
      min(col("amt")).as("lo"), max(col("amt")).as("hi"),
      sum(col("amt")).as("samt"))
    assert(scanDescOf(q).contains("manifest-only"),
      s"narrow-int sums + decimal bounds/sum must answer from the manifest: ${scanDescOf(q)}")
    val exp = df.agg(sum(col("t8")), sum(col("i16")),
      min(col("amt")), max(col("amt")), sum(col("amt"))).collect()(0)
    assert(q.collect()(0) == exp, s"${q.collect()(0)} != $exp")
    // decimal AVG: Spark itself rewrites Avg into Sum/Count before V2
    // pushdown, so the scan serves the EXACT decimal total + count and
    // Spark's own Divide applies its p+4/s+4 HALF_UP contract above the
    // scan — precision semantics stay Spark's, data IO stays zero
    val da = load().agg(avg(col("amt")).as("aa"))
    assert(scanDescOf(da).contains("manifest-only"),
      s"decimal AVG must ride the pushed sum+count: ${scanDescOf(da)}")
    assert(da.collect()(0) == df.agg(avg(col("amt"))).collect()(0))
    // AVG over a narrow int rides the same exact totals (one rounding)
    val a = load().agg(avg(col("t8")).as("a8"))
    assert(scanDescOf(a).contains("manifest-only"))
    val aGot = a.collect()(0).getDouble(0)
    val aExp = df.agg(avg(col("t8"))).collect()(0).getDouble(0)
    assert(math.abs(aGot - aExp) <= 1e-12 * math.abs(aExp).max(1.0),
      s"$aGot != $aExp")
  }

  test("grouped agg pushdown over transform partitions (days/bucket)") {
    val wh = warehouse("aggpush-tf")
    spark.conf.set("spark.sql.catalog.ice_tf", "graft.sources.v2.IceLiteCatalog")
    spark.conf.set("spark.sql.catalog.ice_tf.warehouse", wh)
    val cat = new IceCatalog(spark, wh)
    val df = graft.queries.QUtil.t(spark, sfDir, "events")
      .select("event_id", "event_type", "value", "ts")
    val tbl = cat.createTable("lake", "ev_d", df.schema,
      partitionBy = Seq("days(ts)"))
    tbl.append(df)
    // "rows per day" on a days(ts)-partitioned table: GROUP BY the catalog
    // transform function answers from manifests alone
    val q = spark.sql(
      """SELECT ice_tf.system.days(ts) AS d, COUNT(*) AS n,
        |  MIN(event_id) AS lo, MAX(event_id) AS hi
        |FROM ice_tf.lake.ev_d
        |GROUP BY ice_tf.system.days(ts) ORDER BY d""".stripMargin)
    assert(scanDescOf(q).contains("manifest-only"),
      s"grouped agg on a days() transform must push: ${scanDescOf(q)}")
    val expect = df
      .withColumn("d", floor(unix_micros(col("ts")) / lit(86400000000.0)).cast("int"))
      .groupBy("d").agg(count(lit(1)).as("n"),
        min(col("event_id")).as("lo"), max(col("event_id")).as("hi"))
      .orderBy("d").collect().toSeq
    assert(q.collect().toSeq == expect)
    // bucket(N, col) grouping pushes the same way
    val b = cat.createTable("lake", "ev_b", df.schema,
      partitionBy = Seq("bucket(4,event_type)"))
    b.append(df)
    val qb = spark.sql(
      """SELECT ice_tf.system.bucket(4, event_type) AS bk, COUNT(*) AS n
        |FROM ice_tf.lake.ev_b
        |GROUP BY ice_tf.system.bucket(4, event_type) ORDER BY bk""".stripMargin)
    assert(scanDescOf(qb).contains("manifest-only"),
      s"grouped agg on a bucket() transform must push: ${scanDescOf(qb)}")
    val expectB = df.groupBy(pmod(hash(col("event_type")), lit(4)).as("bk"))
      .agg(count(lit(1)).as("n")).orderBy("bk").collect().toSeq
    assert(qb.collect().toSeq == expectB)
    // a DIFFERENT bucket width than the layout's must refuse (file dirs
    // answer bucket(4,·) only)
    val qb8 = spark.sql(
      """SELECT ice_tf.system.bucket(8, event_type) AS bk, COUNT(*) AS n
        |FROM ice_tf.lake.ev_b
        |GROUP BY ice_tf.system.bucket(8, event_type) ORDER BY bk""".stripMargin)
    assert(!scanDescOf(qb8).contains("aggPushed"),
      s"mismatched bucket width must not push: ${scanDescOf(qb8)}")
    // THE daily-totals query: GROUP BY days(ts) + SUM over a DSv2-written
    // table (writer-recorded sums) — entirely from metadata
    spark.conf.set("spark.sql.catalog.ice_tf.warehouse", wh)
    cat.createTable("lake", "ev_ds", df.schema, partitionBy = Seq("days(ts)"))
    df.writeTo("ice_tf.lake.ev_ds").append()
    val qsum = spark.sql(
      """SELECT ice_tf.system.days(ts) AS d, SUM(event_id) AS s, COUNT(*) AS n
        |FROM ice_tf.lake.ev_ds
        |GROUP BY ice_tf.system.days(ts) ORDER BY d""".stripMargin)
    assert(scanDescOf(qsum).contains("manifest-only"),
      s"daily SUM totals must stay metadata-only: ${scanDescOf(qsum)}")
    val expectS = df
      .withColumn("d", floor(unix_micros(col("ts")) / lit(86400000000.0)).cast("int"))
      .groupBy("d").agg(sum(col("event_id")).as("s"), count(lit(1)).as("n"))
      .orderBy("d").collect().toSeq
    assert(qsum.collect().toSeq == expectS)
    // partition evolution makes file->group membership era-dependent:
    // the transform grouping must refuse too, and stay correct
    tbl.setPartitionSpec(Nil)
    tbl.append(df.limit(0)) // new era exists (no rows added)
    val evolved = spark.sql(
      """SELECT ice_tf.system.days(ts) AS d, COUNT(*) AS n
        |FROM ice_tf.lake.ev_d
        |GROUP BY ice_tf.system.days(ts) ORDER BY d""".stripMargin)
    assert(!scanDescOf(evolved).contains("aggPushed"),
      s"evolved layout must refuse transform-grouped pushdown: ${scanDescOf(evolved)}")
    val expectD = df
      .withColumn("d", floor(unix_micros(col("ts")) / lit(86400000000.0)).cast("int"))
      .groupBy("d").agg(count(lit(1)).as("n")).orderBy("d").collect().toSeq
    assert(evolved.collect().toSeq == expectD)
  }

  test("partitioned tables read through DSv2/SQL catalog with partition pruning") {
    val wh = warehouse("part")
    val cat = new IceCatalog(spark, wh)
    val ev = graft.queries.QUtil.t(spark, sfDir, "events")
      .select("event_id", "user_id", "event_type", "value")
    cat.createTable("lake", "events_p", ev.schema, partitionBy = Seq("event_type"))
      .append(ev)
    spark.conf.set("spark.sql.catalog.ice_pt", "graft.sources.v2.IceLiteCatalog")
    spark.conf.set("spark.sql.catalog.ice_pt.warehouse", wh)
    val q = spark.sql(
      "SELECT event_id, event_type, value FROM ice_pt.lake.events_p " +
        "WHERE event_type = 'click'")
    val (files, planned) = plannedOf(scanDescOf(q))
    assert(planned < files,
      s"partition pruning did not drop files: planned=$planned of $files")
    val expect = ev.filter(col("event_type") === "click")
      .select("event_id", "event_type", "value")
    assert(q.orderBy("event_id").collect().toSeq ==
      expect.orderBy("event_id").collect().toSeq)
    // partition values round-trip with declared types on the full read
    val full = spark.sql("SELECT event_id, user_id, event_type, value FROM ice_pt.lake.events_p")
    assert(full.schema("event_type").dataType == org.apache.spark.sql.types.StringType)
    assert(full.count() == ev.count())
    assert(full.select("event_type").distinct().count() ==
      ev.select("event_type").distinct().count())
  }

  test("hidden partitioning: source predicates prune through bucket and days") {
    val wh = warehouse("hiddenpart")
    val cat = new IceCatalog(spark, wh)
    val df = graft.queries.QUtil.t(spark, sfDir, "orders")
      .filter(col("o_orderdate") < lit("1995-03-01").cast("timestamp"))
    val tbl = cat.createTable("lake", "o_hp", df.schema,
      partitionBy = Seq("bucket(8,o_custkey)", "days(o_orderdate)"))
    tbl.append(df)
    def read = spark.read.format("icelite")
      .option("warehouse", wh).option("table", "lake.o_hp").load()
    val total = tbl.visibleFiles(tbl.meta.currentSnapshot.get).length
    assert(total > 8, s"want a multi-dir layout, got $total files")

    // equality on the BUCKET SOURCE prunes to that key's bucket dirs only
    val q1 = read.filter(col("o_custkey") === 42)
    val (f1, p1) = plannedOf(scanDescOf(q1))
    assert(f1 == total && p1 < total / 2,
      s"bucket source equality should prune: planned $p1 of $f1")
    assert(q1.collect().toSeq.sortBy(_.getLong(0)) ==
      df.filter(col("o_custkey") === 42).collect().toSeq.sortBy(_.getLong(0)))

    // a range on the DAYS SOURCE prunes to the matching day dirs
    val cut = lit("1995-02-20").cast("timestamp")
    val q2 = read.filter(col("o_orderdate") >= cut)
    val (f2, p2) = plannedOf(scanDescOf(q2))
    assert(f2 == total && p2 < total / 2,
      s"days source range should prune: planned $p2 of $f2")
    assert(q2.count() == df.filter(col("o_orderdate") >= cut).count())

    // IN on the bucket source prunes too (each key maps to its bucket)
    val q3 = read.filter(col("o_custkey").isin(42, 77))
    val (_, p3) = plannedOf(scanDescOf(q3))
    assert(p3 < total, s"IN through bucket should prune: planned $p3 of $total")

    // unfiltered scans read everything, exactly
    assert(read.count() == df.count())
    assert(read.orderBy("o_orderkey").collect().toSeq ==
      df.orderBy("o_orderkey").collect().toSeq)
  }

  test("hidden partitioning: bucket(N, decimal) writes, prunes, round-trips") {
    val wh = warehouse("decbucket")
    val cat = new IceCatalog(spark, wh)
    import spark.implicits._
    val df = (0L until 4000L).map(i => (i, f"${i % 797}%d.${i % 100}%02d"))
      .toDF("id", "a")
      .select(col("id"), col("a").cast("decimal(12,2)").as("amt"))
    val tbl = cat.createTable("lake", "t", df.schema,
      partitionBy = Seq("bucket(8,amt)"))
    tbl.append(df) // table-API funnel: row-loop transform-key rendering
    def read = spark.read.format("icelite")
      .option("warehouse", wh).option("table", "lake.t").load()
    val total = tbl.visibleFiles(tbl.meta.currentSnapshot.get).length
    assert(total >= 8, s"want one file per bucket, got $total")
    // point predicate on the SOURCE prunes through the bucket transform:
    // the literal rescales to the column type and hashes via the same
    // Murmur3 the writer used
    val target = new java.math.BigDecimal("42.42") // row id=42
    val q = read.filter(col("amt") === lit(target))
    val (f1, p1) = plannedOf(scanDescOf(q))
    assert(f1 == total && p1 < total / 2,
      s"decimal bucket equality should prune: planned $p1 of $f1")
    assert(q.collect().map(_.getLong(0)).toSet ==
      df.filter(col("amt") === lit(target)).collect().map(_.getLong(0)).toSet)
    // SQL INSERT rides the V2 bucket(int, decimal) function binding for
    // its clustered write distribution, and lands in a prunable dir
    spark.conf.set("spark.sql.catalog.ice_dbk", "graft.sources.v2.IceLiteCatalog")
    spark.conf.set("spark.sql.catalog.ice_dbk.warehouse", wh)
    spark.sql("INSERT INTO ice_dbk.lake.t VALUES " +
      "(9999, CAST(31337.55 AS DECIMAL(12,2)))")
    val q2 = read.filter(col("amt") === lit(new java.math.BigDecimal("31337.55")))
    assert(q2.collect().map(_.getLong(0)).toSeq == Seq(9999L))
    val (f2, p2) = plannedOf(scanDescOf(q2))
    assert(p2 < f2, s"inserted row's lookup should prune: planned $p2 of $f2")
    // unfiltered scans stay exact
    assert(read.count() == 4001L)
  }

  test(".files serves a many-file table from the manifest, not driver rows") {
    val wh = warehouse("manyfiles")
    val cat = new IceCatalog(spark, wh)
    val n = graft.queries.QUtil.t(spark, sfDir, "nation")
    val tbl = cat.createTable("lake", "n", n.schema)
    tbl.append(n.repartition(70)) // one tiny file per non-empty partition
    val expectFiles = tbl.visibleFiles(tbl.meta.currentSnapshot.get)
    assert(expectFiles.length >= 20, s"want many files, got ${expectFiles.length}")
    spark.conf.set("spark.sql.catalog.ice_mf", "graft.sources.v2.IceLiteCatalog")
    spark.conf.set("spark.sql.catalog.ice_mf.warehouse", wh)
    // the scan plans from the manifest PATH (executor-side parse) — its
    // description says so, and no per-file row payload rides the plan
    val filesDF = spark.sql("SELECT path, rows, bytes FROM ice_mf.lake.n.files")
    assert(filesDF.queryExecution.executedPlan.toString.contains("manifest-parallel"),
      "files view should plan from the manifest document, not inline rows")
    val got = filesDF.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(got.toSeq == expectFiles.map(f => (f.path, f.rows, f.bytes)).sortBy(_._1),
      "files view must match the committed manifest exactly")
    assert(filesDF.agg(org.apache.spark.sql.functions.sum("rows")).head.getLong(0) == 25L)
    // the DataFrame-path view takes the same manifest-parallel route
    assert(tbl.filesDF.count() == expectFiles.length.toLong)
    assert(tbl.filesDF.agg(org.apache.spark.sql.functions.sum("rows"))
      .head.getLong(0) == 25L)
  }

  test("equality deletes: key-bound pruning keeps clean scans columnar") {
    import spark.implicits._
    val wh = warehouse("eqprune")
    val cat = new IceCatalog(spark, wh)
    val base = (1L to 200L).map(i => (i, s"v$i")).toDF("id", "v")
    val tbl = cat.createTable("lake", "t", base.schema)
    tbl.append(base.repartitionByRange(2, col("id"))) // ~[1,100] / ~[101,200]
    tbl.upsertMorEq((50L to 60L).map(i => (i, "NEW")).toDF("id", "v"), Seq("id"))
    // a scan touching the affected file pays the row-based MOR tax...
    val full = tbl.toDF
    full.collect()
    assert(!full.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      "scan over the eq-affected file must be row-based")
    // ...but a predicate that prunes every era+bounds-affected file away
    // stays columnar: the delete's [50,60] key bounds provably miss the
    // high file, and the upsert's own appended file is era-exempt
    val clean = tbl.toDF.filter(col("id") > 150)
    assert(clean.count() == 50)
    assert(clean.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      "bounds-disjoint files must keep columnar decode despite eq debt")
    // projection that drops the key column: the reader re-adds it for the
    // probe and serves the pruned projection correctly
    val proj = tbl.toDF.select("v")
    assert(proj.filter(col("v") === "NEW").count() == 11)
    assert(proj.count() == 200)
  }

  test("storage-partitioned join: co-bucketed tables join with zero shuffle") {
    import spark.implicits._
    val wh = warehouse("spj")
    val cat = new IceCatalog(spark, wh)
    val a = (1L to 400L).map(k => (k, k * 1.5)).toDF("k", "v")
    val b = (201L to 600L).map(k => (k, k * 2.0)).toDF("k", "w")
    val ta = cat.createTable("lake", "spj_a", a.schema,
      partitionBy = Seq("bucket(4,k)"))
    val tb = cat.createTable("lake", "spj_b", b.schema,
      partitionBy = Seq("bucket(4,k)"))
    // two appends per side: several files per bucket, so key-grouping has
    // to merge same-key files into one co-located task
    ta.append(a.filter($"k" % 2 === 0)); ta.append(a.filter($"k" % 2 =!= 0))
    tb.append(b.filter($"k" % 2 === 0)); tb.append(b.filter($"k" % 2 =!= 0))
    spark.conf.set("spark.sql.catalog.ice_spj", "graft.sources.v2.IceLiteCatalog")
    spark.conf.set("spark.sql.catalog.ice_spj.warehouse", wh)
    val restore = Seq(
      "spark.sql.autoBroadcastJoinThreshold" ->
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    try {
      // fixture-sized sides would broadcast, hiding the property under test
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val q = spark.sql(
        """SELECT a.k, a.v, b.w
          |FROM ice_spj.lake.spj_a a JOIN ice_spj.lake.spj_b b ON a.k = b.k
          |""".stripMargin)
      val rows = q.collect()
      assert(rows.length == 200)
      assert(rows.forall(r => r.getDouble(1) == r.getLong(0) * 1.5 &&
        r.getDouble(2) == r.getLong(0) * 2.0))
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"co-bucketed icelite tables must join without any shuffle: $plan")
      assert(plan.contains("SortMergeJoin"), s"expected a sort-merge join: $plan")
    } finally restore.foreach { case (k, v) => spark.conf.set(k, v) }
  }
}
