package graft

import org.apache.spark.sql.functions.col
import graft.icelite.IceCatalog

/** SQL catalog plugin: icelite.<ns>.<table> addressing in spark.sql. */
class CatalogSpec extends SparkSpec {

  private def configure(tag: String): String = {
    val wh = scratch(s"sqlcat-$tag")
    spark.conf.set(s"spark.sql.catalog.icecat_$tag", "graft.sources.v2.IceLiteCatalog")
    spark.conf.set(s"spark.sql.catalog.icecat_$tag.warehouse", wh)
    wh
  }

  test("SELECT over a table created through the API") {
    val wh = configure("read")
    val cat = new IceCatalog(spark, wh)
    val n = graft.queries.QUtil.t(spark, sfDir, "nation")
    cat.createTable("lake", "nation_t", n.schema).append(n)
    val viaSql = spark.sql(
      "SELECT n_name FROM icecat_read.lake.nation_t WHERE n_nationkey < 5 ORDER BY n_name")
    assert(viaSql.collect().map(_.getString(0)).toSeq ==
      n.filter(col("n_nationkey") < 5).orderBy("n_name")
        .collect().map(_.getString(1)).toSeq)
  }

  test("SHOW NAMESPACES / SHOW TABLES / CREATE TABLE / DROP TABLE via SQL") {
    val wh = configure("ddl")
    val cat = new IceCatalog(spark, wh)
    spark.sql("CREATE NAMESPACE icecat_ddl.lake")
    spark.sql("CREATE TABLE icecat_ddl.lake.t1 (id BIGINT, name STRING)")
    assert(cat.tableExists("lake", "t1"))
    assert(spark.sql("SHOW TABLES IN icecat_ddl.lake")
      .collect().map(_.getString(1)).toSeq == Seq("t1"))
    assert(spark.sql("SHOW NAMESPACES IN icecat_ddl")
      .collect().map(_.getString(0)).toSeq == Seq("lake"))
    // empty table reads with declared schema
    assert(spark.table("icecat_ddl.lake.t1").count() == 0)
    assert(spark.table("icecat_ddl.lake.t1").columns.toSeq == Seq("id", "name"))
    spark.sql("DROP TABLE icecat_ddl.lake.t1")
    assert(!cat.tableExists("lake", "t1"))
  }

  test("atomic CTAS / RTAS: one-commit create, replace keeps history, failures inert") {
    val wh = configure("rtas")
    val cat = new IceCatalog(spark, wh)
    // CTAS: table metadata AND the data snapshot land in ONE commit —
    // version 1 already carries snapshot 1 (no empty-table window)
    spark.sql("CREATE TABLE icecat_rtas.lake.t AS " +
      "SELECT k, g FROM VALUES (1L,'a'), (2L,'b'), (3L,'a') AS src(k, g)")
    val t1 = cat.loadTable("lake", "t")
    assert(t1.meta.version == 1 && t1.meta.currentSnapshotId == 1L,
      s"CTAS must commit metadata+snapshot atomically: v${t1.meta.version}")
    assert(spark.table("icecat_rtas.lake.t").count() == 3)
    // RTAS: atomic replace — new schema, history grows by one snapshot,
    // the pre-replace version stays time-travelable
    spark.sql("CREATE OR REPLACE TABLE icecat_rtas.lake.t AS " +
      "SELECT k2, v FROM VALUES (9L, 'x') AS src(k2, v)")
    assert(spark.table("icecat_rtas.lake.t").columns.toSeq == Seq("k2", "v"))
    assert(spark.table("icecat_rtas.lake.t").count() == 1)
    assert(spark.sql("SELECT * FROM icecat_rtas.lake.t VERSION AS OF 1").count() == 3,
      "the replaced version must remain time-travelable")
    // partitioned CTAS renders the layout
    spark.sql("CREATE TABLE icecat_rtas.lake.p PARTITIONED BY (g) AS " +
      "SELECT k, g FROM VALUES (1L,'a'), (2L,'b') AS src(k, g)")
    val p = cat.loadTable("lake", "p")
    assert(p.visibleFiles(p.meta.currentSnapshot.get)
      .forall(_.path.contains("g=")), "partitioned CTAS must render the layout")
    // replacing with a DIFFERENT layout refuses (era mixing is unsound)
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    val exLayout = intercept[Exception](spark.sql(
      "CREATE OR REPLACE TABLE icecat_rtas.lake.p AS SELECT 1L AS k, 'z' AS g"))
    assert(msgs(exLayout).exists(_.contains("partition layout")), s"$exLayout")
    // REPLACE of a missing table refuses; a FAILED RTAS leaves the previous
    // table state fully intact (the staged commit never ran)
    intercept[Exception](spark.sql(
      "REPLACE TABLE icecat_rtas.lake.missing AS SELECT 1 AS a"))
    assert(!cat.tableExists("lake", "missing"))
    intercept[Exception](spark.sql(
      "CREATE OR REPLACE TABLE icecat_rtas.lake.t AS " +
        "SELECT raise_error('boom') AS a"))
    assert(spark.table("icecat_rtas.lake.t").columns.toSeq == Seq("k2", "v"),
      "a failed RTAS must leave the previous table untouched")
    assert(spark.table("icecat_rtas.lake.t").count() == 1)
  }

  test("INSERT INTO and writeTo(...).append() commit snapshots") {
    val wh = configure("write")
    val cat = new IceCatalog(spark, wh)
    spark.sql("CREATE TABLE icecat_write.lake.t (id BIGINT, name STRING)")
    spark.sql("INSERT INTO icecat_write.lake.t VALUES (1, 'a'), (2, 'b')")
    assert(spark.table("icecat_write.lake.t").count() == 2)
    // second write = second snapshot; both still readable
    import spark.implicits._
    Seq((3L, "c")).toDF("id", "name").writeTo("icecat_write.lake.t").append()
    val tbl = cat.loadTable("lake", "t")
    assert(tbl.snapshots.map(_.operation) == Seq("append", "append"))
    assert(tbl.snapshots.last.totalRows == 3)
    assert(spark.sql("SELECT id FROM icecat_write.lake.t ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    // time travel still sees only the first write
    val snap1 = tbl.snapshots.head.snapshotId
    assert(tbl.scan(snapshotId = Some(snap1)).count() == 2)
    // distributed write: many partitions -> many files, one snapshot
    spark.range(100).select(col("id"), col("id").cast("string").as("name"))
      .repartition(8).writeTo("icecat_write.lake.t").append()
    val after = cat.loadTable("lake", "t")
    assert(after.snapshots.size == 3)
    assert(after.addedFilesOf(after.snapshots.last).size == 8)
    assert(spark.table("icecat_write.lake.t").count() == 103)
  }

  test("concurrent SQL INSERTs all commit via optimistic retry") {
    val wh = configure("cc")
    val cat = new IceCatalog(spark, wh)
    spark.sql("CREATE TABLE icecat_cc.lake.t (id BIGINT, name STRING)")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    Await.result(Future.sequence((0 until 4).map(i => Future(
      spark.sql(s"INSERT INTO icecat_cc.lake.t VALUES ($i, 'w$i')")))), 120.seconds)
    val tbl = cat.loadTable("lake", "t")
    assert(tbl.snapshots.length == 4,
      s"every concurrent INSERT must commit: got ${tbl.snapshots.length}")
    assert(tbl.snapshots.map(_.snapshotId).sorted == Seq(1L, 2L, 3L, 4L))
    assert(spark.sql("SELECT id FROM icecat_cc.lake.t ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L, 3L))
    assert(tbl.meta.currentSnapshot.get.totalRows == 4)
  }

  test("VERSION AS OF resolves tag names to their pinned snapshots") {
    val wh = configure("tags")
    val cat = new IceCatalog(spark, wh)
    val n = graft.queries.QUtil.t(spark, sfDir, "nation")
    val tbl = cat.createTable("lake", "n", n.schema)
    tbl.append(n.filter(col("n_nationkey") < 5))
    tbl.tag("first_five", 1L)
    tbl.append(n.filter(col("n_nationkey") >= 5))
    assert(spark.sql(
      "SELECT count(*) FROM icecat_tags.lake.n VERSION AS OF 'first_five'")
      .collect()(0).getLong(0) == 5)
    // numeric versions keep resolving as snapshot ids
    assert(spark.sql("SELECT count(*) FROM icecat_tags.lake.n VERSION AS OF 2")
      .collect()(0).getLong(0) == 25)
    // an unknown name fails with the tag inventory in the message
    val e = intercept[Exception](
      spark.sql("SELECT * FROM icecat_tags.lake.n VERSION AS OF 'nope'").collect())
    assert(e.getMessage.contains("first_five"))
    // the `.refs` metadata table lists the pin
    assert(spark.sql("SELECT name, snapshot_id FROM icecat_tags.lake.n.refs")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("first_five", 1L)))
    // ... and `.snapshots` / `.files` serve the operational views in SQL
    assert(spark.sql(
      "SELECT count(*) FROM icecat_tags.lake.n.snapshots WHERE is_current")
      .collect()(0).getLong(0) == 1L)
    assert(spark.sql("SELECT sum(rows) FROM icecat_tags.lake.n.files")
      .collect()(0).getLong(0) == 25L)
  }

  test("write with mismatched schema fails cleanly, leaving no snapshot") {
    val wh = configure("badwrite")
    val cat = new IceCatalog(spark, wh)
    spark.sql("CREATE TABLE icecat_badwrite.lake.t (id BIGINT, name STRING)")
    import spark.implicits._
    intercept[Exception] {
      Seq((1L, 2.0)).toDF("id", "wrong").writeTo("icecat_badwrite.lake.t").append()
    }
    assert(cat.loadTable("lake", "t").snapshots.isEmpty)
    assert(spark.table("icecat_badwrite.lake.t").count() == 0)
  }

  test("filters push down through the SQL path too") {
    val wh = configure("push")
    val cat = new IceCatalog(spark, wh)
    val o = graft.queries.QUtil.t(spark, sfDir, "orders")
    cat.createTable("lake", "orders_t", o.schema).append(o)
    val q = spark.sql(
      "SELECT o_orderkey FROM icecat_push.lake.orders_t WHERE o_orderstatus = 'F'")
    val scanDesc = q.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(scanDesc.contains("EqualTo(o_orderstatus,F)"), s"filter not pushed: $scanDesc")
    assert(q.count() == o.filter(col("o_orderstatus") === "F").count())
  }

  test("INSERT INTO a partitioned table lays out hive dirs and stays readable") {
    val wh = configure("partins")
    val cat = new IceCatalog(spark, wh)
    val ev = graft.queries.QUtil.t(spark, sfDir, "events")
      .select("event_id", "user_id", "event_type", "value")
    val tbl = cat.createTable("lake", "events_w", ev.schema,
      partitionBy = Seq("event_type"))
    ev.createOrReplaceTempView("ev_src")
    spark.sql(
      "INSERT INTO icecat_partins.lake.events_w " +
        "SELECT event_id, user_id, event_type, value FROM ev_src")
    // one snapshot, hive-style subdirs, stats-bearing manifest
    val snap = tbl.meta.currentSnapshot.get
    val snapFiles = tbl.visibleFiles(snap)
    assert(snap.operation == "append" && snap.addedRows == ev.count())
    assert(snapFiles.nonEmpty)
    assert(snapFiles.forall(_.path.contains("event_type=")),
      s"expected hive layout, got:\n${snapFiles.map(_.path).mkString("\n")}")
    // write clustered by partition: one file per (task-visited) partition,
    // so file count stays at O(partitions), not O(tasks x partitions)
    val types = ev.select("event_type").distinct().count()
    assert(snapFiles.length <= types,
      s"${snapFiles.length} files for $types partitions — writer not clustered")
    // both read paths agree with the source, including partition values
    val viaSql = spark.sql(
      "SELECT event_id, user_id, event_type, value FROM icecat_partins.lake.events_w")
    assert(viaSql.orderBy("event_id").collect().toSeq ==
      ev.orderBy("event_id").collect().toSeq)
    assert(tbl.toDF.select("event_id", "user_id", "event_type", "value")
      .orderBy("event_id").collect().toSeq ==
      ev.orderBy("event_id").collect().toSeq)
    // partition pruning applies to what the DSv2 writer produced
    val pruned = spark.sql(
      "SELECT event_id FROM icecat_partins.lake.events_w WHERE event_type = 'click'")
    val desc = pruned.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    val m = """files=(\d+) planned=(\d+)""".r.findFirstMatchIn(desc).get
    assert(m.group(2).toInt < m.group(1).toInt, s"no partition pruning: $desc")
    assert(pruned.count() == ev.filter(col("event_type") === "click").count())
  }

  test("CREATE TABLE ... PARTITIONED BY lays out hive dirs end to end") {
    val wh = configure("ctaspart")
    spark.sql(
      "CREATE TABLE icecat_ctaspart.lake.t (id BIGINT, region STRING) " +
        "PARTITIONED BY (region)")
    val cat = new IceCatalog(spark, wh)
    assert(cat.loadTable("lake", "t").meta.partitionBy == Seq("region"))
    spark.sql("INSERT INTO icecat_ctaspart.lake.t VALUES (1, 'eu'), (2, 'us'), (3, 'eu')")
    val ptbl = cat.loadTable("lake", "t")
    val pfiles = ptbl.visibleFiles(ptbl.meta.currentSnapshot.get)
    assert(pfiles.forall(_.path.contains("region=")), pfiles.map(_.path))
    val pruned = spark.sql(
      "SELECT id FROM icecat_ctaspart.lake.t WHERE region = 'eu'")
    assert(pruned.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
    // bucket transforms are hidden-partitioning specs now, not rejections
    spark.sql("CREATE TABLE icecat_ctaspart.lake.b (id BIGINT) " +
      "PARTITIONED BY (bucket(4, id))")
    assert(cat.loadTable("lake", "b").meta.partitionBy == Seq("bucket(4,id)"))
    // the full temporal family parses into canonical specs
    spark.sql("CREATE TABLE icecat_ctaspart.lake.c (id BIGINT, ts TIMESTAMP) " +
      "PARTITIONED BY (months(ts))")
    assert(cat.loadTable("lake", "c").meta.partitionBy == Seq("months(ts)"))
    // an unknown transform still fails loudly
    intercept[Exception] {
      spark.sql("CREATE TABLE icecat_ctaspart.lake.d (id BIGINT, ts TIMESTAMP) " +
        "PARTITIONED BY (fortnights(ts))")
    }
  }

  test("CREATE TABLE AS SELECT works, plain and partitioned") {
    val wh = configure("ctas")
    spark.sql("CREATE TABLE icecat_ctas.lake.src (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO icecat_ctas.lake.src VALUES (1, 1.5), (2, 2.5)")
    spark.sql(
      "CREATE TABLE icecat_ctas.lake.dst AS SELECT id, v * 2 AS v2 FROM icecat_ctas.lake.src")
    assert(spark.sql("SELECT * FROM icecat_ctas.lake.dst ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((1L, 3.0), (2L, 5.0)))
    spark.sql("CREATE TABLE icecat_ctas.lake.dstp PARTITIONED BY (id) " +
      "AS SELECT id, v FROM icecat_ctas.lake.src")
    val cat = new IceCatalog(spark, wh)
    val dtbl = cat.loadTable("lake", "dstp")
    val dfiles = dtbl.visibleFiles(dtbl.meta.currentSnapshot.get)
    assert(dfiles.forall(_.path.contains("id=")), dfiles.map(_.path))
    assert(spark.sql("SELECT * FROM icecat_ctas.lake.dstp").count() == 2)
  }

  test("ALTER TABLE ADD COLUMN: metadata-only evolution, old files read NULL") {
    val wh = configure("evolve")
    val cat = new IceCatalog(spark, wh)
    import spark.implicits._
    val tbl = cat.createTable("lake", "t",
      Seq((1L, "a")).toDF("id", "tag").schema)
    Seq((1L, "a")).toDF("id", "tag").writeTo("icecat_evolve.lake.t").append()
    Seq((2L, "b")).toDF("id", "tag").writeTo("icecat_evolve.lake.t").append()
    spark.sql("ALTER TABLE icecat_evolve.lake.t ADD COLUMN score DOUBLE")
    // old files serve NULL for the new column on both read paths
    val viaSql = spark.sql("SELECT id, tag, score FROM icecat_evolve.lake.t")
      .orderBy("id").collect()
    assert(viaSql.map(r => (r.getLong(0), r.isNullAt(2))).toSeq ==
      Seq((1L, true), (2L, true)))
    assert(tbl.toDF.columns.toSeq == Seq("id", "tag", "score"))
    assert(tbl.toDF.filter(col("score").isNull).count() == 2)
    // new-shape appends mix with old files
    Seq((3L, "c", 0.5)).toDF("id", "tag", "score")
      .writeTo("icecat_evolve.lake.t").append()
    val mixed = spark.sql(
      "SELECT id, score FROM icecat_evolve.lake.t ORDER BY id").collect()
    assert(mixed.map(r => (r.getLong(0),
      if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toSeq ==
      Seq((1L, None), (2L, None), (3L, Some(0.5))))
    // time travel to the pre-evolution snapshot keeps the old schema
    assert(spark.sql("SELECT * FROM icecat_evolve.lake.t VERSION AS OF 1")
      .columns.toSeq == Seq("id", "tag"))
    // lossy type changes stay replace()-level operations
    intercept[Exception] {
      spark.sql("ALTER TABLE icecat_evolve.lake.t ALTER COLUMN score TYPE STRING")
    }
  }

  test("ALTER COLUMN TYPE widening: metadata-only, era-aware reads and time travel") {
    val wh = configure("widen")
    val cat = new IceCatalog(spark, wh)
    import spark.implicits._
    spark.sql("CREATE TABLE icecat_widen.lake.t (id BIGINT, n INT, x FLOAT)")
    Seq((1L, 10, 1.5f)).toDF("id", "n", "x")
      .writeTo("icecat_widen.lake.t").append()
    // snapshot 2 becomes current; snapshot 1 stays pinned pre-widening
    Seq((2L, 20, 2.5f)).toDF("id", "n", "x")
      .writeTo("icecat_widen.lake.t").append()
    spark.sql("ALTER TABLE icecat_widen.lake.t ALTER COLUMN n TYPE BIGINT")
    spark.sql("ALTER TABLE icecat_widen.lake.t ALTER COLUMN x TYPE DOUBLE")
    // pre-widening files physically carry INT32/FLOAT; reads upcast
    val widenedRows = spark.sql(
      "SELECT id, n, x FROM icecat_widen.lake.t ORDER BY id").collect()
    assert(widenedRows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq ==
      Seq((1L, 10L, 1.5), (2L, 20L, 2.5)))
    assert(spark.table("icecat_widen.lake.t").schema("n").dataType ==
      org.apache.spark.sql.types.LongType)
    // post-widening appends (wide physical type) mix with old files, and
    // values beyond the narrow range are now legal
    Seq((3L, 5000000000L, 3.5)).toDF("id", "n", "x")
      .writeTo("icecat_widen.lake.t").append()
    assert(spark.sql("SELECT sum(n) AS s FROM icecat_widen.lake.t")
      .head.getLong(0) == 5000000030L)
    // filters on a widened column must not crash on narrow-typed old files
    // (a widened-typed row-group predicate would be rejected by parquet-mr)
    assert(spark.sql(
      "SELECT id FROM icecat_widen.lake.t WHERE n = 20 AND x < 3.0")
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
    // DataFrame path agrees
    val tbl = cat.loadTable("lake", "t")
    assert(tbl.toDF.orderBy("id").collect().map(_.getLong(1)).toSeq ==
      Seq(10L, 20L, 5000000000L))
    // time travel to a pre-widening snapshot reads with ITS narrow schema
    // (snapshot 2 was current at ALTER time, so its view widened with the
    // table — same current-snapshot semantics as ADD COLUMN)
    val v1 = spark.sql("SELECT * FROM icecat_widen.lake.t VERSION AS OF 1")
    assert(v1.schema("n").dataType == org.apache.spark.sql.types.IntegerType)
    assert(v1.schema("x").dataType == org.apache.spark.sql.types.FloatType)
    assert(v1.orderBy("id").collect().map(r => (r.getInt(1), r.getFloat(2))).toSeq ==
      Seq((10, 1.5f)))
    // narrowing is refused — only lossless widenings are metadata-only
    intercept[Exception] {
      spark.sql("ALTER TABLE icecat_widen.lake.t ALTER COLUMN n TYPE INT") }
    intercept[Exception] {
      spark.sql("ALTER TABLE icecat_widen.lake.t ALTER COLUMN x TYPE FLOAT") }
  }

  test("INSERT INTO a hidden-partitioned table fans out and prunes in SQL") {
    val wh = configure("hp")
    val cat = new IceCatalog(spark, wh)
    spark.sql("CREATE TABLE icecat_hp.lake.t (id BIGINT, k BIGINT, v STRING) " +
      "PARTITIONED BY (bucket(4, k))")
    assert(cat.loadTable("lake", "t").meta.partitionBy == Seq("bucket(4,k)"))
    // unsorted-by-bucket input: the writer fans out across bucket dirs
    spark.sql("INSERT INTO icecat_hp.lake.t " +
      "SELECT id, id AS k, concat('v', id) AS v FROM range(0, 200)")
    val tbl = cat.loadTable("lake", "t")
    val files = tbl.visibleFiles(tbl.meta.currentSnapshot.get)
    val bucketDirs = files.flatMap(_.path.split('/').find(_.startsWith("k_bucket="))).toSet
    assert(bucketDirs.size == 4, s"expected 4 bucket dirs, got $bucketDirs")
    // reads filter on the SOURCE column; the layout stays invisible
    assert(spark.sql("SELECT v FROM icecat_hp.lake.t WHERE k = 42").collect()
      .map(_.getString(0)).toSeq == Seq("v42"))
    assert(spark.sql("SELECT count(*) FROM icecat_hp.lake.t").head.getLong(0) == 200L)
    // and the DataFrame scan agrees
    assert(tbl.toDF.count() == 200)
  }

  test("system.bucket/days/truncate SQL functions agree with the layout") {
    val wh = configure("fn")
    val cat = new IceCatalog(spark, wh)
    // bucket() in SQL == Spark's hash() mod n == what the writers computed
    val viaSql = spark.sql(
      "SELECT id, icecat_fn.system.bucket(4, id) FROM range(0, 50)")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    val viaExpr = spark.sql(
      "SELECT id, pmod(hash(id), 4) FROM range(0, 50)")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(viaSql == viaExpr, "SQL bucket() must match the write-path hash")
    // ... and matches the DIRECTORY each row actually landed in
    import spark.implicits._
    val df = (0L until 50L).map(i => (i, s"v$i")).toDF("k", "v")
    val tbl = cat.createTable("lake", "t", df.schema, Seq("bucket(4,k)"))
    tbl.append(df)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS icecat_fn.lake")
    val dirOf: Map[Long, Int] = tbl.visibleFiles(tbl.meta.currentSnapshot.get)
      .flatMap { f =>
        // either dir spelling is valid on disk (`__p_k_bucket=` native,
        // `k_bucket=` row-loop writer); the VALUE is the contract
        val b = f.path.split('/')
          .find(_.stripPrefix("__p_").startsWith("k_bucket="))
          .map(_.stripPrefix("__p_").stripPrefix("k_bucket=").toInt).getOrElse(
            fail(s"no bucket dir in ${f.path}"))
        spark.read.parquet(f.path).select("k").collect()
          .map(_.getLong(0) -> b)
      }.toMap
    assert(dirOf == viaSql,
      "SQL bucket() must match the directory every row actually landed in")
    // days() and truncate() compute the documented partition values
    val dd = spark.sql(
      "SELECT icecat_fn.system.days(TIMESTAMP '2024-01-01 10:00:00'), " +
        "icecat_fn.system.days(DATE '1970-01-02'), " +
        "icecat_fn.system.truncate(10, 137), " +
        "icecat_fn.system.truncate(3, 'abcdef'), " +
        "icecat_fn.system.truncate(3, CAST(NULL AS STRING)), " +
        "icecat_fn.system.months(DATE '2024-03-15'), " +
        "icecat_fn.system.years(TIMESTAMP '2024-03-15 08:00:00'), " +
        "icecat_fn.system.hours(TIMESTAMP '1970-01-02 01:30:00')").collect()(0)
    assert(dd.getInt(0) == 19723 && dd.getInt(1) == 1)
    assert(dd.getInt(2) == 130 && dd.getString(3) == "abc" && dd.isNullAt(4))
    assert(dd.getInt(5) == 650 && dd.getInt(6) == 54 && dd.getInt(7) == 25)
    // bind-time type gates (round 6): hours(DATE) must fail analysis — an
    // unguarded bind would treat the epoch-DAY int as epoch MICROS and
    // silently return 0. Same for non-layoutable bucket/truncate sources.
    val badHours = intercept[Exception](
      spark.sql("SELECT icecat_fn.system.hours(DATE '2024-01-01')").collect())
    assert(badHours.getMessage.contains("hours"), s"got: ${badHours.getMessage}")
    val badBucket = intercept[Exception](
      spark.sql("SELECT icecat_fn.system.bucket(4, CAST(1.5 AS DOUBLE))").collect())
    assert(badBucket.getMessage.contains("bucket"), s"got: ${badBucket.getMessage}")
    val badTrunc = intercept[Exception](
      spark.sql("SELECT icecat_fn.system.truncate(3, DATE '2024-01-01')").collect())
    assert(badTrunc.getMessage.contains("truncate"), s"got: ${badTrunc.getMessage}")
    // SHOW FUNCTIONS surfaces the catalog functions
    val shown = spark.sql("SHOW FUNCTIONS IN icecat_fn.system")
      .collect().map(_.getString(0)).toSet
    assert(Seq("bucket", "days", "truncate").forall(f => shown.exists(_.contains(f))),
      s"got $shown")
  }

  test("CALL system.<proc> drives the maintenance lifecycle from SQL") {
    val wh = configure("call")
    val cat = new IceCatalog(spark, wh)
    val n = graft.queries.QUtil.t(spark, sfDir, "nation")
    val tbl = cat.createTable("lake", "n", n.schema)
    (0 until 3).foreach(i => tbl.append(n.filter(col("n_nationkey") % 3 === i)))
    assert(tbl.visibleFiles(tbl.meta.currentSnapshot.get).length >= 3)

    // compaction from SQL: bin-pack into one file, summary row returned
    val r1 = spark.sql(
      "CALL icecat_call.system.rewrite_data_files(table => 'lake.n', target_files => 1)")
      .collect()(0)
    assert(r1.getString(0) == "lake.n" && r1.getInt(2) == 1, s"got $r1")
    assert(tbl.meta.currentSnapshot.get.operation == "compact")
    assert(tbl.toDF.count() == 25)

    // tag + rollback + fast-forward round trip, all SQL
    spark.sql("CALL icecat_call.system.create_tag('lake.n', 'v1', 4)")
    assert(tbl.refSnapshotId("v1").contains(4L))
    val rb = spark.sql(
      "CALL icecat_call.system.rollback_to_snapshot('lake.n', 1)").collect()(0)
    assert(rb.getLong(1) == 1L && tbl.meta.currentSnapshotId == 1L)
    val ff = spark.sql(
      "CALL icecat_call.system.fast_forward('lake.n', 'v1')").collect()(0)
    assert(ff.getLong(1) == 4L && tbl.toDF.count() == 25)

    // expiry from SQL: everything but the tagged/current compact snapshot
    val ex = spark.sql(
      "CALL icecat_call.system.expire_snapshots('lake.n', 1)").collect()(0)
    assert(ex.getInt(1) == 3 && ex.getInt(2) == 1, s"got $ex")
    assert(tbl.snapshots.map(_.snapshotId) == Seq(4L))

    // orphan GC from SQL (nothing orphaned, age gate default)
    val og = spark.sql(
      "CALL icecat_call.system.remove_orphan_files('lake.n')").collect()(0)
    assert(og.getLong(1) == 0L)
    // MOR delete + targeted fold, both from SQL
    tbl.deleteWhereMor(Seq(
      org.apache.spark.sql.sources.EqualTo("n_nationkey", 0)))
    val rp = spark.sql(
      "CALL icecat_call.system.rewrite_position_deletes('lake.n')").collect()(0)
    assert(rp.getInt(1) == 1 && rp.getLong(2) == 1L, s"got $rp")
    assert(tbl.deletesOf(tbl.meta.currentSnapshot.get).isEmpty)
    assert(tbl.toDF.count() == 24)
    // unknown procedure fails loudly
    intercept[Exception](spark.sql("CALL icecat_call.system.nope('lake.n')"))
  }

  test("CALL system.set_partition_spec evolves the layout from SQL") {
    val wh = configure("callps")
    val cat = new IceCatalog(spark, wh)
    val n = graft.queries.QUtil.t(spark, sfDir, "nation")
    val tbl = cat.createTable("lake", "nps", n.schema,
      partitionBy = Seq("n_regionkey"))
    tbl.append(n.filter(col("n_nationkey") < 10))
    // evolve identity(n_regionkey) -> bucket(4, n_nationkey): pure metadata,
    // no rewrite snapshot, old files keep their era's layout
    val r = spark.sql(
      "CALL icecat_callps.system.set_partition_spec('lake.nps', " +
        "array('bucket(4, n_nationkey)'))").collect()(0)
    assert(r.getString(1) == "bucket(4, n_nationkey)" &&
      r.getString(2) == "n_regionkey", s"got $r")
    val evolved = cat.loadTable("lake", "nps")
    assert(evolved.meta.partitionBy == Seq("bucket(4, n_nationkey)"))
    assert(evolved.snapshots.length == 1, "evolution must not write a snapshot")
    evolved.append(n.filter(col("n_nationkey") >= 10))
    // mixed-era scan serves both layouts; partition-source predicates
    // still answer correctly across eras
    assert(spark.table("icecat_callps.lake.nps").count() == 25)
    assert(spark.sql("SELECT count(*) AS c FROM icecat_callps.lake.nps " +
      "WHERE n_regionkey = 0").head.getLong(0) == 5)
    // array() clears back to unpartitioned for future writes
    spark.sql("CALL icecat_callps.system.set_partition_spec('lake.nps', array())")
    assert(cat.loadTable("lake", "nps").meta.partitionBy.isEmpty)
    assert(spark.table("icecat_callps.lake.nps").count() == 25)
    // refusal semantics ride through: unknown source column aborts
    intercept[Exception](spark.sql(
      "CALL icecat_callps.system.set_partition_spec('lake.nps', array('nope'))"))
  }

  test("CALL system.cherrypick_snapshot re-applies an orphaned append from SQL") {
    val wh = configure("callcp")
    val cat = new IceCatalog(spark, wh)
    val n = graft.queries.QUtil.t(spark, sfDir, "nation")
    val tbl = cat.createTable("lake", "ncp", n.schema)
    tbl.append(n.filter(col("n_nationkey") < 10))
    tbl.append(n.filter(col("n_nationkey") >= 10))
    tbl.rollbackTo(1L)
    val r = spark.sql(
      "CALL icecat_callcp.system.cherrypick_snapshot('lake.ncp', 2)").collect()(0)
    assert(r.getLong(1) == 2L && r.getLong(2) == 3L, s"got $r")
    assert(tbl.toDF.count() == 25)
  }

  test("ALTER COLUMN TYPE widens decimal precision at fixed scale") {
    val wh = configure("decw")
    val cat = new IceCatalog(spark, wh)
    import spark.implicits._
    val df = Seq(BigDecimal("12.34"), BigDecimal("99999999.99")).map(Tuple1(_))
      .toDF("amt").select(col("amt").cast("decimal(10,2)").as("amt"))
    val tbl = cat.createTable("lake", "t", df.schema)
    tbl.append(df) // snapshot 1: stays pinned pre-widening
    tbl.append(df.filter(col("amt") < 100)) // snapshot 2: current at ALTER time
    // metadata-only: no rewrite snapshot appears
    spark.sql("ALTER TABLE icecat_decw.lake.t ALTER COLUMN amt TYPE DECIMAL(14,2)")
    assert(tbl.snapshots.length == 2, "decimal widening must not rewrite data")
    assert(spark.table("icecat_decw.lake.t").schema("amt").dataType ==
      org.apache.spark.sql.types.DecimalType(14, 2))
    // values beyond decimal(10,2)'s range are now legal; pre-widening files
    // (physically narrow) upcast at read and aggregate with the wide rows
    tbl.append(Seq(BigDecimal("123456789012.34")).map(Tuple1(_)).toDF("amt")
      .select(col("amt").cast("decimal(14,2)").as("amt")))
    val total = spark.sql("SELECT sum(amt) AS s FROM icecat_decw.lake.t")
      .head.getDecimal(0)
    assert(total == new java.math.BigDecimal("123556789037.01"), s"got $total")
    // time travel to the pre-widening snapshot reads with ITS narrow schema
    val v1 = tbl.scan(snapshotId = Some(1L))
    assert(v1.schema("amt").dataType == org.apache.spark.sql.types.DecimalType(10, 2))
    assert(v1.count() == 2)
    // a scale change needs value rescaling — never metadata-only
    intercept[Exception] {
      spark.sql("ALTER TABLE icecat_decw.lake.t ALTER COLUMN amt TYPE DECIMAL(14,3)") }
    // precision narrowing is refused too
    intercept[Exception] {
      spark.sql("ALTER TABLE icecat_decw.lake.t ALTER COLUMN amt TYPE DECIMAL(10,2)") }
  }

  test("ALTER TABLE RENAME/DROP COLUMN: era-aware reads over old files") {
    val wh = configure("rencol")
    val cat = new IceCatalog(spark, wh)
    import spark.implicits._
    spark.sql("CREATE TABLE icecat_rencol.lake.t (id BIGINT, tag STRING, score DOUBLE)")
    Seq((1L, "a", 1.5)).toDF("id", "tag", "score")
      .writeTo("icecat_rencol.lake.t").append()
    Seq((2L, "b", 2.5)).toDF("id", "tag", "score")
      .writeTo("icecat_rencol.lake.t").append()
    spark.sql("ALTER TABLE icecat_rencol.lake.t RENAME COLUMN tag TO label")
    // old files serve their data under the NEW name on both read paths,
    // including filters on the renamed column (which must not reach parquet
    // as row-group predicates — old files don't carry the new name)
    assert(spark.sql("SELECT label FROM icecat_rencol.lake.t ORDER BY id")
      .collect().map(_.getString(0)).toSeq == Seq("a", "b"))
    assert(spark.sql("SELECT id FROM icecat_rencol.lake.t WHERE label = 'b'")
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
    val tbl = cat.loadTable("lake", "t")
    assert(tbl.toDF.columns.toSeq == Seq("id", "label", "score"))
    assert(tbl.toDF.orderBy("id").collect().map(_.getString(1)).toSeq == Seq("a", "b"))
    // new-era appends under the new name mix with old-era files, and
    // aggregates stay correct (manifest pushdown must REFUSE old-name
    // stats rather than mis-answer)
    Seq((3L, "c", 3.5)).toDF("id", "label", "score")
      .writeTo("icecat_rencol.lake.t").append()
    assert(spark.sql(
      "SELECT min(label) AS lo, max(label) AS hi FROM icecat_rencol.lake.t")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq == Seq(("a", "c")))
    // time travel to a pre-rename snapshot keeps its pinned schema AND data
    val v1 = spark.sql("SELECT * FROM icecat_rencol.lake.t VERSION AS OF 1")
    assert(v1.columns.toSeq == Seq("id", "tag", "score"))
    assert(v1.orderBy("id").collect().map(_.getString(1)).toSeq == Seq("a"))
    // DROP COLUMN is metadata-only; remaining columns read through
    spark.sql("ALTER TABLE icecat_rencol.lake.t DROP COLUMN score")
    assert(spark.table("icecat_rencol.lake.t").columns.toSeq == Seq("id", "label"))
    assert(spark.sql("SELECT * FROM icecat_rencol.lake.t ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // retired names cannot come back: old files still physically carry them
    intercept[Exception] {
      spark.sql("ALTER TABLE icecat_rencol.lake.t ADD COLUMNS (tag STRING)") }
    intercept[Exception] {
      spark.sql("ALTER TABLE icecat_rencol.lake.t ADD COLUMNS (score DOUBLE)") }
    // row-level ops rewrite old-era files into the current shape
    spark.sql("UPDATE icecat_rencol.lake.t SET label = 'z' WHERE id = 1")
    assert(spark.sql("SELECT label FROM icecat_rencol.lake.t ORDER BY id")
      .collect().map(_.getString(0)).toSeq == Seq("z", "b", "c"))
  }

  test("no-op UPDATE commits nothing; incremental readers stay usable") {
    val wh = configure("noop")
    val cat = new IceCatalog(spark, wh)
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "tag")
    val tbl = cat.createTable("lake", "t", df.schema)
    df.writeTo("icecat_noop.lake.t").append()
    // manifest stats prove no file can contain id = 999: nothing scanned,
    // nothing written, and crucially NOTHING committed
    spark.sql("UPDATE icecat_noop.lake.t SET tag = 'x' WHERE id = 999")
    assert(tbl.snapshots.map(_.operation) == Seq("append"),
      s"no-op update must not commit: ${tbl.snapshots.map(_.operation)}")
    // an incremental scan across the 'gap' still works (no non-append
    // snapshot was fabricated)
    assert(tbl.changesSince(0L).count() == 2)
  }

  test("VERSION AS OF / TIMESTAMP AS OF time travel in SQL") {
    val wh = configure("tt")
    val cat = new IceCatalog(spark, wh)
    val n = graft.queries.QUtil.t(spark, sfDir, "nation")
    val tbl = cat.createTable("lake", "n", n.schema)
    tbl.append(n.filter(col("n_nationkey") < 10))
    tbl.append(n.filter(col("n_nationkey") >= 10))
    assert(spark.sql("SELECT count(*) c FROM icecat_tt.lake.n VERSION AS OF 1")
      .collect()(0).getLong(0) == 10)
    assert(spark.sql("SELECT count(*) c FROM icecat_tt.lake.n VERSION AS OF 2")
      .collect()(0).getLong(0) == 25)
    // timestamp pinning: at snapshot 1's commit time, only snapshot 1 shows
    val t1 = tbl.snapshots.head.timestampMs
    val ts = java.time.Instant.ofEpochMilli(t1).toString.replace("T", " ").replace("Z", "")
    val c = spark.sql(
      s"SELECT count(*) c FROM icecat_tt.lake.n TIMESTAMP AS OF '$ts'")
      .collect()(0).getLong(0)
    assert(c == 10 || c == 25, s"timestamp pin returned $c") // ms-race tolerant
    intercept[Exception] {
      spark.sql("SELECT * FROM icecat_tt.lake.n VERSION AS OF 99").collect()
    }
  }

  test("DELETE FROM: copy-on-write, SQL null semantics, truncate") {
    val wh = configure("del")
    val cat = new IceCatalog(spark, wh)
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b"), (3L, null), (4L, "d"))
      .toDF("id", "tag")
    val tbl = cat.createTable("lake", "t", df.schema)
    tbl.append(df.repartitionByRange(2, col("id")))
    // rows where the condition is NULL survive (tag = 'x' is NULL for id 3)
    spark.sql("DELETE FROM icecat_del.lake.t WHERE tag = 'b'")
    assert(tbl.toDF.orderBy("id").collect().map(_.getLong(0)).toSeq ==
      Seq(1L, 3L, 4L))
    val snap = tbl.meta.currentSnapshot.get
    assert(snap.operation == "delete")
    assert(tbl.visibleFiles(snap).length > tbl.addedFilesOf(snap).length,
      s"expected untouched files carried: $snap")
    // key-range delete proves files irrelevant from manifest stats
    spark.sql("DELETE FROM icecat_del.lake.t WHERE id >= 4")
    assert(tbl.toDF.orderBy("id").collect().map(_.getLong(0)).toSeq ==
      Seq(1L, 3L))
    // unconditional DELETE = truncate
    spark.sql("DELETE FROM icecat_del.lake.t")
    assert(tbl.toDF.count() == 0)
    // history intact: time travel still reaches the pre-delete snapshots
    assert(tbl.scan(snapshotId = Some(1L)).count() == 4)
  }

  test("UPDATE and MERGE on a partitioned table route rows correctly") {
    val wh = configure("rlopart")
    val cat = new IceCatalog(spark, wh)
    import spark.implicits._
    val df = Seq((1L, "a", 1.0), (2L, "a", 2.0), (3L, "b", 3.0), (4L, "b", 4.0))
      .toDF("id", "part", "v")
    val tbl = cat.createTable("lake", "t", df.schema, partitionBy = Seq("part"))
    df.writeTo("icecat_rlopart.lake.t").append()
    spark.sql("UPDATE icecat_rlopart.lake.t SET v = v * 10 WHERE id = 1")
    val afterU = spark.sql("SELECT id, part, v FROM icecat_rlopart.lake.t")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(afterU.toSeq ==
      Seq((1L, "a", 10.0), (2L, "a", 2.0), (3L, "b", 3.0), (4L, "b", 4.0)))
    // partition 'b' was provably unaffected and carried untouched
    val snapU = tbl.meta.currentSnapshot.get
    assert(snapU.operation == "update")
    assert(tbl.visibleFiles(snapU).exists(f => f.path.contains("part=b") &&
      !tbl.addedFilesOf(snapU).contains(f.path)),
      s"partition b should be carried, not rewritten: $snapU")
    // MERGE with a moved-partition update and an insert into a new partition
    Seq((2L, "c", 20.0), (9L, "d", 9.0)).toDF("id", "part", "v")
      .createOrReplaceTempView("rlo_src")
    spark.sql("""MERGE INTO icecat_rlopart.lake.t t USING rlo_src s ON t.id = s.id
                |WHEN MATCHED THEN UPDATE SET *
                |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val afterM = spark.sql("SELECT id, part, v FROM icecat_rlopart.lake.t")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(afterM.toSeq ==
      Seq((1L, "a", 10.0), (2L, "c", 20.0), (3L, "b", 3.0), (4L, "b", 4.0), (9L, "d", 9.0)))
    // hive layout holds for rewritten rows too (row moved into part=c)
    assert(tbl.visibleFiles(tbl.meta.currentSnapshot.get)
      .exists(_.path.contains("part=c")))
  }

  test("partition values with path-hostile characters round-trip") {
    val wh = configure("partesc")
    val cat = new IceCatalog(spark, wh)
    import spark.implicits._
    val df = Seq((1L, "a/b"), (2L, "x=y"), (3L, "plain"), (4L, null))
      .toDF("id", "tag")
    val tbl = cat.createTable("lake", "esc", df.schema, partitionBy = Seq("tag"))
    df.writeTo("icecat_partesc.lake.esc").append()
    val back = spark.sql("SELECT id, tag FROM icecat_partesc.lake.esc")
      .orderBy("id").collect().toSeq
    assert(back.map(r => (r.getLong(0), r.getString(1))) ==
      Seq((1L, "a/b"), (2L, "x=y"), (3L, "plain"), (4L, null)))
    // null partition + escaped values also survive the DataFrame-API scan,
    // which groups manifest files under their snapshot dir by qualified
    // prefix (DSv2-written paths and IceTable-written paths may differ in
    // scheme qualification)
    assert(tbl.toDF.orderBy("id").collect().toSeq.map(r =>
      (r.getLong(r.fieldIndex("id")), r.getString(r.fieldIndex("tag")))) ==
      Seq((1L, "a/b"), (2L, "x=y"), (3L, "plain"), (4L, null)))
  }

  test("icelite_changes TVF: bounded SQL changelog, literal-arg validation") {
    val wh = configure("tvf")
    val cat = new IceCatalog(spark, wh)
    import spark.implicits._
    val df = (1L to 50L).map(i => (i, s"v$i")).toDF("id", "v")
    val tbl = cat.createTable("lake", "cdc", df.schema)
    tbl.append(df)                                               // snap 1
    tbl.append((51L to 60L).map(i => (i, "B")).toDF("id", "v"))  // snap 2
    tbl.deleteKeysEq(Seq(5L, 7L).toDF("id"), Seq("id"))          // snap 3
    // full replay equals the API result
    val full = spark.sql(
      s"SELECT * FROM icelite_changes('$wh', 'lake.cdc', 0)")
    assert(full.count() == 62) // 60 inserts + 2 resolved deletes
    assert(full.filter(col("_change_type") === "delete")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(5L, 7L))
    // bounded forms: (from, to] windows
    assert(spark.sql(
      s"SELECT * FROM icelite_changes('$wh', 'lake.cdc', 2)").count() == 2)
    assert(spark.sql(
      s"SELECT * FROM icelite_changes('$wh', 'lake.cdc', 1, 2)").count() == 10)
    // bad arity / non-literal args fail loudly at analysis
    intercept[Exception](spark.sql(
      s"SELECT * FROM icelite_changes('$wh', 'lake.cdc')").collect())
    intercept[Exception](spark.sql(
      s"SELECT * FROM icelite_changes('$wh', 'nodots', 0)").collect())
    // the incremental APPEND scan TVF: plain rows of the (from, to] window
    assert(spark.sql(
      s"SELECT * FROM icelite_appends('$wh', 'lake.cdc', 1, 2)").count() == 10)
    // ... and it refuses a range containing a non-append (MOR) snapshot
    intercept[Exception](spark.sql(
      s"SELECT * FROM icelite_appends('$wh', 'lake.cdc', 1)").collect())
  }

  test("icelite_changes TVF: timestamp bounds resolve via the snapshot log") {
    val wh = configure("tvf-ts")
    val cat = new IceCatalog(spark, wh)
    import spark.implicits._
    val tbl = cat.createTable("lake", "cdct",
      Seq((1L, "v")).toDF("id", "v").schema)
    // distinct commit times: the ms clock must advance between snapshots
    // for a time bound to separate them
    tbl.append((1L to 20L).map(i => (i, s"v$i")).toDF("id", "v"))
    Thread.sleep(5)
    tbl.append((21L to 30L).map(i => (i, "B")).toDF("id", "v"))
    Thread.sleep(5)
    tbl.append((31L to 35L).map(i => (i, "C")).toDF("id", "v"))
    val snaps = tbl.snapshots.sortBy(_.snapshotId)
    def iso(ms: Long) = java.time.Instant.ofEpochMilli(ms).toString
    val t1 = iso(snaps(0).timestampMs)
    val t2 = iso(snaps(1).timestampMs)
    // a string `from` at snap1's commit time = "changes since t" = snaps 2+3
    assert(spark.sql(
      s"SELECT * FROM icelite_changes('$wh', 'lake.cdct', '$t1')").count() == 15)
    // both bounds as times: the (snap1, snap2] window
    assert(spark.sql(
      s"SELECT * FROM icelite_changes('$wh', 'lake.cdct', '$t1', '$t2')")
      .count() == 10)
    // a TIMESTAMP literal works the same (session timezone is pinned UTC)
    val lit1 = t1.replace("T", " ").stripSuffix("Z")
    assert(spark.sql(
      s"SELECT * FROM icelite_changes('$wh', 'lake.cdct', TIMESTAMP '$lit1')")
      .count() == 15)
    // a `from` before the first commit replays the whole history
    assert(spark.sql(
      s"SELECT * FROM icelite_changes('$wh', 'lake.cdct', '1970-01-01T00:00:00Z')")
      .count() == 35)
    // ... but a `to` before the first commit has no end state: loud error
    intercept[Exception](spark.sql(
      s"SELECT * FROM icelite_changes('$wh', 'lake.cdct', 0, '1970-01-01')")
      .collect())
    // an unparseable string bound fails loudly, not as snapshot id 0
    intercept[Exception](spark.sql(
      s"SELECT * FROM icelite_changes('$wh', 'lake.cdct', 'not-a-time')")
      .collect())
    // the appends TVF takes the same time bounds
    assert(spark.sql(
      s"SELECT * FROM icelite_appends('$wh', 'lake.cdct', '$t1', '$t2')")
      .count() == 10)
    // tag/branch names resolve as bounds too: the release-diff question
    tbl.tag("v1", 1L); tbl.tag("v2", 2L)
    assert(spark.sql(
      s"SELECT * FROM icelite_changes('$wh', 'lake.cdct', 'v1', 'v2')")
      .count() == 10)
    assert(spark.sql(
      s"SELECT * FROM icelite_appends('$wh', 'lake.cdct', 'v1')")
      .count() == 15)
  }

  test("SQL type surface: decimal+binary round-trip; nested types fail fast, named") {
    val wh = configure("types")
    val cat = new IceCatalog(spark, wh)
    // CREATE TABLE with a MAP column fails at DDL time, naming the column —
    // never on the first INSERT, never per-task
    val exMap = intercept[Exception](spark.sql(
      "CREATE TABLE icecat_types.lake.bad (id BIGINT, m MAP<STRING, INT>)"))
    assert(exMap.getMessage.contains("m (map<string,int>"), s"$exMap")
    assert(!cat.tableExists("lake", "bad"), "failed CREATE must be inert")
    // CTAS with an array column fails at staging, before any task launches
    val exCtas = intercept[Exception](spark.sql(
      "CREATE TABLE icecat_types.lake.badc AS SELECT array(1, 2) AS arr"))
    assert(exCtas.getMessage.contains("arr (array<int>"), s"$exCtas")
    assert(!cat.tableExists("lake", "badc"), "failed CTAS must be inert")
    // ALTER ADD COLUMN of a nested type is refused the same way
    spark.sql("CREATE TABLE icecat_types.lake.t (id BIGINT)")
    val exAdd = intercept[Exception](spark.sql(
      "ALTER TABLE icecat_types.lake.t ADD COLUMN m MAP<STRING, INT>"))
    assert(exAdd.getMessage.contains("m (map<string,int>"), s"$exAdd")
    // a table created through the SCALA API can carry nested columns (the
    // DataFrame path writes them natively) — INSERT INTO it must fail at
    // write-BUILD time naming the column, and leave no snapshot behind
    import spark.implicits._
    val nested = Seq((1L, Seq("a", "b"))).toDF("id", "tags")
    val tblNested = cat.createTable("lake", "nested_t", nested.schema)
    tblNested.append(nested) // DataFrame path handles the array fine
    val exIns = intercept[Exception](spark.sql(
      "INSERT INTO icecat_types.lake.nested_t VALUES (2L, array('c'))"))
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(exIns).exists(_.contains("tags (array<string>")), s"$exIns")
    assert(cat.loadTable("lake", "nested_t").snapshots.length == 1,
      "failed INSERT must not commit")
    // the full supported surface round-trips exactly through SQL writes:
    // wide decimal (FIXED_LEN_BYTE_ARRAY physical), narrow decimal (INT32),
    // binary (incl. non-UTF8 bytes), smallint/tinyint, and NULLs of each
    spark.sql("CREATE TABLE icecat_types.lake.wide (" +
      "id BIGINT, amt DECIMAL(25,4), pct DECIMAL(5,2), b BINARY, " +
      "s SMALLINT, y TINYINT)")
    spark.sql("INSERT INTO icecat_types.lake.wide VALUES " +
      "(1, CAST('123456789012345678901.2345' AS DECIMAL(25,4)), " +
      " CAST('99.99' AS DECIMAL(5,2)), CAST('ab' AS BINARY), " +
      " CAST(7 AS SMALLINT), CAST(3 AS TINYINT)), " +
      "(2, CAST('-0.0001' AS DECIMAL(25,4)), CAST('-1.50' AS DECIMAL(5,2)), " +
      " X'00FF', NULL, NULL), " +
      "(3, NULL, NULL, NULL, CAST(-8 AS SMALLINT), CAST(-2 AS TINYINT))")
    val rows = spark.table("icecat_types.lake.wide").orderBy("id").collect()
    assert(rows(0).getDecimal(1) ==
      new java.math.BigDecimal("123456789012345678901.2345"))
    assert(rows(0).getDecimal(2) == new java.math.BigDecimal("99.99"))
    assert(new String(rows(0).getAs[Array[Byte]](3), "UTF-8") == "ab")
    assert(rows(0).getShort(4) == 7 && rows(0).getByte(5) == 3)
    assert(rows(1).getDecimal(1) == new java.math.BigDecimal("-0.0001"))
    assert(rows(1).getAs[Array[Byte]](3).toSeq ==
      Seq(0x00.toByte, 0xff.toByte), "non-UTF8 binary must round-trip")
    assert(rows(2).isNullAt(1) && rows(2).isNullAt(3))
    assert(rows(2).getShort(4) == -8 && rows(2).getByte(5) == -2)
    // decimal footer stats encode in the SCALED domain and prune files:
    // the manifest min/max of amt must be plain decimal strings
    val wideTbl = cat.loadTable("lake", "wide")
    val stats = wideTbl.visibleFiles(wideTbl.meta.currentSnapshot.get)
    val amtMins = stats.flatMap(_.min.get("amt"))
    assert(amtMins.nonEmpty && amtMins.forall(_.contains(".")),
      s"decimal stats must be scaled plain strings, got $amtMins")
    // and FilePrune compares them in exact BigDecimal space
    import org.apache.spark.sql.sources.{EqualTo, GreaterThan}
    val schemaW = spark.table("icecat_types.lake.wide").schema
    val statOne = graft.icelite.FileStat("f", rows = 3, bytes = 0,
      min = Map("amt" -> "10.0000"), max = Map("amt" -> "99.9999"))
    assert(!graft.icelite.FilePrune.canMatch(
      EqualTo("amt", new java.math.BigDecimal("5.0000")), schemaW, statOne),
      "out-of-range decimal equality must prune")
    assert(graft.icelite.FilePrune.canMatch(
      EqualTo("amt", new java.math.BigDecimal("50.0000")), schemaW, statOne))
    assert(!graft.icelite.FilePrune.canMatch(
      GreaterThan("amt", new java.math.BigDecimal("100.0000")), schemaW, statOne),
      "decimal range disjointness must prune")
  }

  test(".refs lists tags and branches with their recorded kind; pre-ledger refs serve NULL") {
    import spark.implicits._
    val wh = scratch("cat-refs")
    val cat = new graft.icelite.IceCatalog(spark, wh)
    val df = (1L to 10L).map(i => (i, s"v$i")).toDF("id", "v")
    val tbl = cat.createTable("lake", "t", df.schema)
    tbl.append(df)
    tbl.tag("pin_v1", 1L)
    tbl.tag("wap", 1L)
    tbl.appendToRef("wap", df.limit(2)) // advancing a ref makes it a branch
    spark.conf.set("spark.sql.catalog.ice_refs", "graft.sources.v2.IceLiteCatalog")
    spark.conf.set("spark.sql.catalog.ice_refs.warehouse", wh)
    def refs() = spark.sql(
      "SELECT name, type, snapshot_id FROM ice_refs.lake.t.refs ORDER BY name")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(refs() == Seq(("pin_v1", "tag", 1L), ("wap", "branch", 2L)), refs())
    // metadata written before the kind ledger existed (refs without
    // refTypes): the listing must serve NULL, never a fabricated kind
    val m = tbl.meta
    graft.icelite.MetaIo.commit(
      new org.apache.hadoop.fs.Path(wh).getFileSystem(
        spark.sparkContext.hadoopConfiguration),
      cat.tablePath("lake", "t"),
      m.copy(refTypes = Map.empty, version = m.version + 1))
    assert(refs() == Seq(("pin_v1", null, 1L), ("wap", null, 2L)), refs())
    // dropping a ref drops its kind entry with it
    cat.loadTable("lake", "t").tag("back", 1L)
    cat.loadTable("lake", "t").dropTag("back")
    assert(!refs().exists(_._1 == "back"))
  }

  test(".entries/.all_manifests/.position_deletes complete the listing suite") {
    import spark.implicits._
    val wh = scratch("cat-entries")
    val cat = new graft.icelite.IceCatalog(spark, wh)
    val df = (1L to 20L).map(i => (i, s"v$i")).toDF("id", "v")
    val tbl = cat.createTable("lake", "t", df.schema)
    tbl.append(df.filter(col("id") <= 10).repartition(2))
    tbl.deleteWhereMor(Seq(org.apache.spark.sql.sources.LessThan("id", 4L)))
    tbl.append(df.filter(col("id") > 10).repartition(1))
    spark.conf.set("spark.sql.catalog.ice_ent", "graft.sources.v2.IceLiteCatalog")
    spark.conf.set("spark.sql.catalog.ice_ent.warehouse", wh)
    // .entries: add lineage + status relative to the current snapshot,
    // data_file struct carries per-file stats
    val ent = spark.sql(
      """SELECT status, snapshot_id, count(*), sum(data_file.rows)
        |FROM ice_ent.lake.t.entries GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(ent.toSeq == Seq((0, 1L, 2L, 10L), (1, 3L, 1L, 10L)), ent.toSeq)
    // .position_deletes: one row per tombstoned (file, pos), paths real
    val pd = spark.sql(
      """SELECT file_path, pos, delete_file
        |FROM ice_ent.lake.t.position_deletes ORDER BY file_path, pos""".stripMargin)
      .collect()
    assert(pd.length == 3, s"ids 1..3 are tombstoned: ${pd.toSeq}") // id < 4
    assert(pd.forall(r => r.getString(0).endsWith(".parquet")
      && r.getString(2).nonEmpty && r.getLong(1) >= 0), pd.toSeq)
    // .all_entries: every snapshot's own manifest replayed with
    // per-snapshot status (2 added @1; 2 carried @2; 2 carried + 1
    // added @3)
    val ae = spark.sql(
      """SELECT snapshot_id, status, count(*), sum(data_file.rows)
        |FROM ice_ent.lake.t.all_entries GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(ae.toSeq == Seq((1L, 1, 2L, 10L), (2L, 0, 2L, 10L),
      (3L, 0, 2L, 10L), (3L, 1, 1L, 10L)), ae.toSeq)
    // .all_manifests: a depth-0 head per snapshot; any deeper rows are
    // delta-chain bases and must be flagged as such
    val am = spark.sql(
      """SELECT snapshot_id, depth, is_delta, length_bytes
        |FROM ice_ent.lake.t.all_manifests""".stripMargin).collect()
    assert(am.count(_.getInt(1) == 0) == 3, am.toSeq)
    assert(am.forall(_.getLong(3) > 0), am.toSeq)
    // a snapshot with chain rows below its head must have a DELTA head —
    // depth>0 rows exist exactly because the head references a base
    val heads = am.filter(_.getInt(1) == 0)
    val chained = am.filter(_.getInt(1) > 0).map(_.getLong(0)).distinct
    assert(chained.forall(sid =>
      heads.exists(h => h.getLong(0) == sid && h.getBoolean(2))), am.toSeq)
    // a SECOND outstanding delete: .position_deletes plans one input
    // partition PER delete file listed in .delete_files (the
    // delete-file-parallel claim), and the row set is the union of every
    // file's tombstones
    cat.loadTable("lake", "t").deleteWhereMor(Seq(
      org.apache.spark.sql.sources.GreaterThan("id", 17L)))
    val pd2 = spark.sql(
      "SELECT file_path, pos FROM ice_ent.lake.t.position_deletes")
    val nDel = spark.sql(
      "SELECT * FROM ice_ent.lake.t.delete_files WHERE kind = 'position'").count()
    assert(nDel >= 2 && pd2.rdd.getNumPartitions == nDel,
      s"expected one task per delete file ($nDel), got ${pd2.rdd.getNumPartitions}")
    assert(pd2.count() == 6, s"ids 1..3 and 18..20 are tombstoned") // 3 + 3
    // unknown metadata names still refuse instead of resolving
    intercept[Exception](
      spark.sql("SELECT * FROM ice_ent.lake.t.nope").collect())
  }

  test("CALL branch/rollback/ancestry procedures follow the parent-pointer lineage") {
    val wh = configure("procs19")
    val cat = new IceCatalog(spark, wh)
    val n = graft.queries.QUtil.t(spark, sfDir, "nation")
    val tbl = cat.createTable("lake", "anc", n.schema)
    (0 until 3).foreach { i =>
      tbl.append(n.filter(col("n_nationkey") % 3 === i))
      Thread.sleep(5) // distinct commit timestamps for the time-based tests
    }
    def callRows(sql: String) = spark.sql(sql).collect()
    // ancestors_of: default = the current head's chain, newest first
    assert(callRows("CALL icecat_procs19.system.ancestors_of('lake.anc')")
      .map(_.getLong(0)).toSeq == Seq(3L, 2L, 1L))
    // rollback_to_timestamp restores the state at snapshot 2's commit time
    val ts2 = tbl.meta.snapshot(2L).get.timestampMs
    val rb = callRows("CALL icecat_procs19.system.rollback_to_timestamp(" +
      s"'lake.anc', ${ts2}L)")(0)
    assert(rb.getLong(1) == 2L && tbl.meta.currentSnapshotId == 2L, rb)
    // a post-rollback write BRANCHES: snapshot 4's parent is 2, and the
    // abandoned snapshot 3 is not among its ancestors...
    cat.loadTable("lake", "anc").append(n.filter(col("n_nationkey") % 3 === 2))
    assert(callRows("CALL icecat_procs19.system.ancestors_of('lake.anc')")
      .map(_.getLong(0)).toSeq == Seq(4L, 2L, 1L))
    // ...but stays listable by EXPLICIT id
    assert(callRows(
      "CALL icecat_procs19.system.ancestors_of('lake.anc', 3)")
      .map(_.getLong(0)).toSeq == Seq(3L, 2L, 1L))
    // time-based rollback can NEVER reach the abandoned branch: at
    // snapshot 3's own commit time the lineage answer is snapshot 2
    val ts3 = tbl.meta.snapshot(3L).get.timestampMs
    val rb3 = callRows("CALL icecat_procs19.system.rollback_to_timestamp(" +
      s"'lake.anc', ${ts3}L)")(0)
    assert(rb3.getLong(1) == 2L, s"time rollback must stay on lineage: $rb3")
    // set_current_snapshot is the deliberate escape hatch that CAN: by id
    val sc = callRows("CALL icecat_procs19.system.set_current_snapshot(" +
      "'lake.anc', 3)")(0)
    assert(sc.getLong(1) == 3L &&
      cat.loadTable("lake", "anc").toDF.count() == 25)
  }

  test(".entries attributes adds along the current lineage, never an abandoned branch") {
    // The advice-r18 scenario: a path imported by an ANCESTOR (snapshot 2)
    // is also registered by add_files on a LATER, post-rollback-abandoned
    // snapshot (3). A whole-log walk would attribute the visible file to
    // the abandoned re-adder (snapshot 3, flipping status 1 -> 0); the
    // lineage walk keeps it on its real adder.
    val wh = configure("entattr")
    val cat = new IceCatalog(spark, wh)
    val n = graft.queries.QUtil.t(spark, sfDir, "nation")
    val src = scratch("entattr-src")
    n.limit(5).write.mode("overwrite").parquet(src)
    val tbl = cat.createTable("lake", "attr", n.schema)
    tbl.append(n.filter(col("n_nationkey") >= 20)) // snap 1
    tbl.addFiles(src)                              // snap 2: imports P
    tbl.rollbackTo(1L)                             // P off the head
    cat.loadTable("lake", "attr").addFiles(src)    // snap 3: re-imports P
    tbl.rollbackTo(2L)   // current = 2; ancestors {2, 1}; 3 abandoned
    val ent = spark.sql(
      """SELECT status, snapshot_id, data_file.path
        |FROM icecat_entattr.lake.attr.entries""".stripMargin).collect()
    val imported = ent.filter(_.getString(2).contains(src.split('/').last))
    assert(imported.nonEmpty, s"imported file missing from .entries: ${ent.toSeq}")
    imported.foreach { r =>
      assert(r.getLong(1) == 2L && r.getInt(0) == 1,
        s"attribution must follow the lineage adder (snap 2, status 1): $r")
    }
  }

  test("Iceberg name-split listing views: data/delete x current/all, via SQL") {
    val wh = configure("namesplit")
    val cat = new IceCatalog(spark, wh)
    val n = graft.queries.QUtil.t(spark, sfDir, "nation")
      .select("n_nationkey", "n_name")
    val tbl = cat.createTable("lake", "n_split", n.schema)
    tbl.append(n.repartition(2))
    cat.loadTable("lake", "n_split").deleteWhereMor(Seq(
      org.apache.spark.sql.sources.LessThan("n_nationkey", 3L)))
    def rows(v: String): Set[String] =
      spark.sql(s"SELECT * FROM icecat_namesplit.lake.n_split.$v")
        .collect().map(_.mkString("|")).toSet
    // data spellings are the merged views' exact rows under Iceberg names
    assert(rows("data_files") == rows("files") && rows("files").size == 2)
    assert(rows("all_data_files") == rows("all_files") &&
      rows("all_files").size == 2)
    // delete spellings collapse to the delete-FILE grain: one position
    // file tombstoning nationkeys 0..2
    val del = spark.sql(
      "SELECT kind, rows FROM icecat_namesplit.lake.n_split.delete_files")
      .collect()
    assert(del.length == 1 && del(0).getString(0) == "position" &&
      del(0).getLong(1) == 3L, s"unexpected delete_files: ${del.toSeq}")
    val adel = spark.sql(
      """SELECT snapshot_id, kind, rows
        |FROM icecat_namesplit.lake.n_split.all_delete_files""".stripMargin)
      .collect()
    assert(adel.length == 1 && adel(0).getLong(0) == 2L &&
      adel(0).getString(1) == "position" && adel(0).getLong(2) == 3L,
      s"unexpected all_delete_files: ${adel.toSeq}")
  }
}
