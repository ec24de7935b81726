package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.icelite.IceCatalog

class IceliteSpec extends SparkSpec {

  private def nation = spark.read.parquet(s"$sfDir/nation.parquet")

  test("create/list/drop namespaces and tables") {
    val cat = new IceCatalog(spark, scratch("cat"))
    assert(cat.listNamespaces().isEmpty)
    cat.createNamespace("a")
    cat.createNamespace("b")
    assert(cat.listNamespaces() == Seq("a", "b"))
    cat.createTable("a", "t1", nation.schema)
    cat.createTable("a", "t2", nation.schema)
    assert(cat.listTables("a") == Seq("t1", "t2"))
    assert(cat.tableExists("a", "t1"))
    assert(!cat.tableExists("a", "zzz"))
    assert(cat.dropTable("a", "t1"))
    assert(cat.listTables("a") == Seq("t2"))
    intercept[IllegalArgumentException](cat.loadTable("a", "t1"))
    intercept[IllegalArgumentException](cat.createTable("a", "t2", nation.schema))
  }

  test("empty table scans as zero rows with the declared schema") {
    val cat = new IceCatalog(spark, scratch("empty"))
    val tbl = cat.createTable("ns", "t", nation.schema)
    val df = tbl.toDF
    assert(df.count() == 0)
    assert(df.schema == nation.schema)
  }

  test("append accumulates snapshots; scan pins to any snapshot") {
    val cat = new IceCatalog(spark, scratch("tt"))
    val tbl = cat.createTable("ns", "t", nation.schema)
    tbl.append(nation.filter(col("n_nationkey") < 10))
    tbl.append(nation.filter(col("n_nationkey") >= 10))
    val snaps = tbl.snapshots
    assert(snaps.map(_.snapshotId) == Seq(1L, 2L))
    assert(snaps.map(_.operation) == Seq("append", "append"))
    assert(tbl.scan(snapshotId = Some(1L)).count() == 10)
    assert(tbl.toDF.count() == 25)
    assert(snaps.last.totalRows == 25)
    intercept[IllegalArgumentException](tbl.scan(snapshotId = Some(99L)))
  }

  test("scan projection and limit") {
    val cat = new IceCatalog(spark, scratch("proj"))
    val tbl = cat.createTable("ns", "t", nation.schema)
    tbl.append(nation)
    val df = tbl.scan(columns = Seq("n_name"), limit = Some(5))
    assert(df.columns.toSeq == Seq("n_name"))
    assert(df.count() == 5)
  }

  test("append reorders and casts conforming columns, rejects drifted schema") {
    val cat = new IceCatalog(spark, scratch("conform"))
    val tbl = cat.createTable("ns", "t", nation.schema)
    // same columns, shuffled order, int key as long -> conforms
    val shuffled = nation.select(
      col("n_name"), col("n_regionkey"), col("n_nationkey").cast("long"))
    tbl.append(shuffled)
    assert(tbl.toDF.schema == nation.schema)
    assert(tbl.toDF.count() == 25)
    // missing column -> user-visible failure
    intercept[IllegalArgumentException](tbl.append(nation.drop("n_name")))
  }

  test("upsert: matched rows updated, unmatched inserted, others survive") {
    val cat = new IceCatalog(spark, scratch("upsert"))
    val tbl = cat.createTable("ns", "t", nation.schema)
    tbl.append(nation.filter(col("n_nationkey") < 15)) // keys 0..14
    val src = nation.filter(col("n_nationkey") >= 10) // keys 10..24
      .withColumn("n_name", lit("UPDATED"))
    tbl.upsert(src, keys = Seq("n_nationkey"))
    val out = tbl.toDF.orderBy("n_nationkey").collect()
    assert(out.length == 25)
    assert(out.count(_.getAs[String]("n_name") == "UPDATED") == 15)
    assert(out.take(10).forall(_.getAs[String]("n_name") != "UPDATED"))
    assert(tbl.snapshots.last.operation == "upsert")
  }

  test("upsert requires keys and is null-safe on them") {
    val cat = new IceCatalog(spark, scratch("upsertnull"))
    val schema = StructType(Seq(
      StructField("k", IntegerType), StructField("v", StringType)))
    import spark.implicits._
    val tbl = cat.createTable("ns", "t", schema)
    tbl.append(Seq((Some(1), "a"), (None, "b")).toDF("k", "v"))
    intercept[IllegalArgumentException](tbl.upsert(Seq((1, "x")).toDF("k", "v"), Nil))
    // null key matches null key (<=>), so the null row is updated not duplicated
    tbl.upsert(Seq((Option.empty[Int], "B")).toDF("k", "v"), Seq("k"))
    val rows = tbl.toDF.orderBy("v").collect()
    assert(rows.length == 2)
    assert(rows.map(_.getAs[String]("v")).toSeq == Seq("B", "a"))
  }

  test("replace swaps content and may change schema") {
    val cat = new IceCatalog(spark, scratch("replace"))
    val tbl = cat.createTable("ns", "t", nation.schema)
    tbl.append(nation)
    val narrowed = nation.select("n_nationkey", "n_name").filter(col("n_nationkey") < 5)
    tbl.replace(narrowed)
    assert(tbl.toDF.count() == 5)
    assert(tbl.schema.fieldNames.toSeq == Seq("n_nationkey", "n_name"))
    // time travel still reaches the pre-replace snapshot
    assert(tbl.scan(snapshotId = Some(1L)).count() == 25)
  }

  test("partitionBy lays out hive-style dirs and scans reconstruct the column") {
    val cat = new IceCatalog(spark, scratch("part"))
    val tbl = cat.createTable("ns", "t", nation.schema, partitionBy = Seq("n_regionkey"))
    tbl.append(nation)
    val df = tbl.toDF
    assert(df.count() == 25)
    assert(df.schema.fieldNames.sorted.toSeq == nation.schema.fieldNames.sorted.toSeq)
    assert(df.groupBy("n_regionkey").count().count() == 5)
    // write is clustered by partition column: one open file per task, file
    // count O(partitions) not O(tasks x partitions) — same shape as DSv2
    val files = tbl.visibleFiles(tbl.meta.currentSnapshot.get)
    assert(files.length <= 5,
      s"partitioned write not clustered: ${files.length} files for 5 partitions")
    // second append keeps both snapshots readable
    tbl.append(nation.filter(col("n_regionkey") === 0))
    assert(tbl.toDF.count() == 30)
  }

  test("timestamp partition columns are rejected at createTable") {
    val cat = new IceCatalog(spark, scratch("part-ts"))
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, ts TIMESTAMP")
    // directory rendering of a timestamp depends on the writer's session
    // timezone — both write paths refuse, so reject at DDL time
    val e = intercept[IllegalArgumentException] {
      cat.createTable("ns", "bad", schema, partitionBy = Seq("ts"))
    }
    assert(e.getMessage.contains("timestamp"))
    intercept[IllegalArgumentException] {
      cat.createTable("ns", "bad2", schema, partitionBy = Seq("nope"))
    }
  }

  test("partition values in Spark's space-separated external form decode") {
    // tables written before the DDL-time validation (DataFrame-path
    // partitioned writer) render timestamps as session-local datetimes
    val schema = org.apache.spark.sql.types.StructType.fromDDL("ts TIMESTAMP")
    val raw = graft.icelite.PartValues.parse(
      "/wh/ns/t/snap-1/ts=2020-09-13 12%3A26%3A40/part-0.parquet", Seq("ts"))
    assert(raw == Map("ts" -> Some("2020-09-13 12:26:40")))
    val decoded = graft.icelite.PartValues.decodeExternal(schema, Seq("ts"), raw)
    assert(decoded("ts") == 1600000000000000L)
  }

  test("version log is O(snapshots): per-append growth is CONSTANT") {
    val wh = scratch("slimmeta")
    val cat = new IceCatalog(spark, wh)
    import spark.implicits._
    val one = Seq((1L, "x")).toDF("id", "v").coalesce(1)
    val tbl = cat.createTable("ns", "t", one.schema)
    val appends = 50
    (1 to appends).foreach(_ => tbl.append(one))
    assert(tbl.toDF.count() == appends.toLong)
    // time travel still resolves every snapshot's manifest
    assert(tbl.scan(snapshotId = Some(3L)).count() == 3L)

    val metaDir = new org.apache.hadoop.fs.Path(s"$wh/ns/t/metadata")
    val fs = metaDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def slurp(p: org.apache.hadoop.fs.Path): String = {
      val in = fs.open(p); try new String(in.readAllBytes()) finally in.close()
    }
    def vLen(v: Int): Int =
      slurp(new org.apache.hadoop.fs.Path(metaDir, s"v$v.json")).length
    // the version log carries pointers + O(1) counts, never FileStat blobs,
    // file-path lists, or the cumulative data-dir list
    val log = slurp(new org.apache.hadoop.fs.Path(metaDir, s"v${appends + 1}.json"))
    assert(!log.contains("\"bytes\""), "inline FileStat leaked into the version log")
    assert(log.contains("manifest-"), "snapshots must point at external manifests")
    assert(!log.contains("part-"), "file paths leaked into the version log")
    assert(!log.contains("\"data/snap") && !log.contains("/data/snap"),
      "data-dir lists leaked into the version log")
    // one immutable manifest file per snapshot
    val manifests = fs.listStatus(metaDir)
      .map(_.getPath.getName).filter(_.startsWith("manifest-"))
    assert(manifests.length == appends, s"expected $appends manifests, got ${manifests.length}")
    // per-append growth of the version log is CONSTANT, not O(appends):
    // the late delta equals the early delta up to digit-width jitter. With
    // the old inline cumulative dataDirs (+ addedFiles) the late delta
    // would exceed the early one by hundreds of bytes (one more dir string
    // per snapshot in history).
    val early = vLen(10) - vLen(9)
    val late = vLen(appends) - vLen(appends - 1)
    assert(math.abs(late - early) <= 24,
      s"version-log growth not constant per append: v9->v10 = $early bytes, " +
        s"v${appends - 1}->v$appends = $late bytes")
    // expiry drops unreachable manifests with the snapshots — but kept
    // snapshots' delta chains resolve through expired predecessors'
    // manifests, so exactly the chain CLOSURE survives (here: the last
    // rebase point onward), nothing more
    tbl.expireSnapshots(keepLast = 2)
    val keptChains = cat.loadTable("ns", "t").snapshots
      .filter(_.manifestFile.nonEmpty)
      .flatMap(s => graft.icelite.MetaIo.manifestChain(fs, s.manifestFile))
      .map(p => new org.apache.hadoop.fs.Path(p).getName).toSet
    val after = fs.listStatus(metaDir)
      .map(_.getPath.getName).filter(_.startsWith("manifest-"))
    assert(after.toSet == keptChains,
      s"expected exactly the kept chain closure (${keptChains.size} files), got ${after.toSeq}")
    assert(after.length < appends, "expiry must drop unreachable manifests")
    assert(tbl.toDF.count() == appends.toLong)
  }

  test("concurrent commit on the same version is rejected") {
    val wh = scratch("race")
    val cat = new IceCatalog(spark, wh)
    val tbl = cat.createTable("ns", "t", nation.schema)
    val stale = tbl.meta // version 1
    tbl.append(nation)   // commits version 2
    val tableDir = cat.tablePath("ns", "t")
    val fs = tableDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    intercept[IllegalStateException] {
      graft.icelite.MetaIo.commit(fs, tableDir, stale.copy(version = stale.version + 1))
    }
  }

  test("concurrent appends all commit via optimistic retry, losing no rows") {
    val cat = new IceCatalog(spark, scratch("career"))
    val tbl = cat.createTable("ns", "t", nation.schema)
    // 4 appends race from 4 threads: writer-unique data dirs keep the file
    // writes independent, and the claim-file CAS + retry make every commit
    // land — a lost version race re-attaches the already-written files
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val slices = (0 until 4).map(i => nation.filter(col("n_nationkey") % 4 === i))
    Await.result(
      Future.sequence(slices.map(s => Future(tbl.append(s)))), 120.seconds)
    assert(tbl.snapshots.length == 4, s"expected 4 snapshots, got ${tbl.snapshots.length}")
    assert(tbl.snapshots.map(_.snapshotId).sorted == Seq(1L, 2L, 3L, 4L))
    assert(tbl.toDF.count() == 25, "every concurrent append's rows must survive")
    assert(tbl.meta.currentSnapshot.get.totalRows == 25)
    // and the result is relationally exactly the input
    assert(tbl.toDF.orderBy("n_nationkey").collect().toSeq ==
      nation.orderBy("n_nationkey").collect().toSeq)
    // a concurrent schema change is NOT retried into: stale-schema append aborts
    tbl.rollbackTo(4L) // no-op pointer, just proves meta reads are fresh
  }

  test("compact rewrites many files into few, preserving rows and history") {
    val cat = new IceCatalog(spark, scratch("compact"))
    val tbl = cat.createTable("ns", "t", nation.schema)
    // several small appends -> several data dirs, many small files
    (0 until 4).foreach(i => tbl.append(nation.filter(col("n_nationkey") % 4 === i)))
    val before = tbl.meta.currentSnapshot.get
    assert(tbl.dataDirsOf(before).size == 4)
    tbl.compact(targetFiles = 1)
    val after = tbl.meta.currentSnapshot.get
    assert(after.operation == "compact")
    assert(tbl.dataDirsOf(after).size == 1)
    assert(tbl.addedFilesOf(after).size == 1,
      s"expected 1 file, got ${tbl.addedFilesOf(after)}")
    assert(after.totalRows == before.totalRows)
    assert(tbl.toDF.count() == nation.count())
    // pre-compaction snapshot still time-travels to the same rows
    assert(tbl.scan(snapshotId = Some(before.snapshotId)).count() == nation.count())
    assert(tbl.snapshots.size == 5)
  }

  test("wide types round-trip through the table layer") {
    import spark.implicits._
    val df = Seq(
      (1L, BigDecimal("12345.6789"), Seq(1.5f, -2.5f), Map("a" -> 1L),
        ("x", 42), java.sql.Date.valueOf("2024-02-29"),
        java.sql.Timestamp.valueOf("2024-02-29 12:34:56.789")),
      (2L, BigDecimal("-0.0001"), Seq.empty[Float], Map.empty[String, Long],
        ("y", -1), java.sql.Date.valueOf("1970-01-01"),
        java.sql.Timestamp.valueOf("1970-01-01 00:00:00"))
    ).toDF("id", "dec", "arr", "m", "st", "d", "ts")
    val cat = new IceCatalog(spark, scratch("widetypes"))
    val tbl = cat.createTable("ns", "wide", df.schema)
    tbl.append(df)
    val back = tbl.toDF
    // nullability relaxes through the DDL/parquet round trip (standard
    // Spark behavior); names and types must survive exactly
    def norm(s: org.apache.spark.sql.types.StructType) =
      s.toDDL.replace(" NOT NULL", "")
    assert(norm(back.schema) == norm(df.schema),
      s"schema drift: ${back.schema.toDDL}")
    assert(back.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq)
    // and a second append + upsert keeps working on the wide schema
    tbl.upsert(df, keys = Seq("id"))
    assert(tbl.toDF.count() == 2)
  }

  test("upsert is copy-on-write: untouched files are carried, not rewritten") {
    val cat = new IceCatalog(spark, scratch("cow"))
    val o = graft.queries.QUtil.t(spark, sfDir, "orders")
    val tbl = cat.createTable("ns", "t", o.schema)
    // range layout: each of the 4 files owns a disjoint o_orderkey range
    tbl.append(o.repartitionByRange(4, col("o_orderkey")))
    val before = tbl.meta.currentSnapshot.get
    val beforeFiles = tbl.visibleFiles(before)
    assert(beforeFiles.length == 4)
    val maxKey = o.agg(max("o_orderkey")).collect()(0)
      .getAs[Number](0).longValue
    val src = o.filter(col("o_orderkey") <= maxKey / 8)
      .withColumn("o_orderstatus", lit("U"))
    tbl.upsert(src, keys = Seq("o_orderkey"))
    val after = tbl.meta.currentSnapshot.get
    val afterFiles = tbl.visibleFiles(after)
    // stats proved most files could not contain a matching key
    val afterAdded = tbl.addedFilesOf(after)
    assert(afterAdded.nonEmpty)
    assert(afterFiles.length > afterAdded.length,
      s"no files carried: ${afterFiles.length} total, ${afterAdded.length} added")
    val carried = afterFiles.map(_.path).toSet -- afterAdded.toSet
    assert(carried.subsetOf(beforeFiles.map(_.path).toSet),
      "carried entries must be the previous snapshot's files, byte-identical")
    // merged content is exactly upsert semantics
    val expect = o.filter(col("o_orderkey") > maxKey / 8)
      .unionByName(src).orderBy("o_orderkey").collect().toSeq
    assert(tbl.toDF.orderBy("o_orderkey").collect().toSeq == expect)
    // row accounting survives the carry
    assert(after.totalRows == o.count())
  }

  test("expireSnapshots drops history and deletes unreferenced dirs") {
    val cat = new IceCatalog(spark, scratch("expire"))
    val tbl = cat.createTable("ns", "t", nation.schema)
    tbl.append(nation.filter(col("n_nationkey") < 10))
    tbl.append(nation.filter(col("n_nationkey") >= 10))
    tbl.compact(targetFiles = 1)
    val dirsBefore = tbl.snapshots.flatMap(tbl.dataDirsOf).distinct
    assert(tbl.snapshots.length == 3)
    tbl.expireSnapshots(keepLast = 1)
    assert(tbl.snapshots.map(_.operation) == Seq("compact"))
    // expired ids fail loudly; current reads are untouched
    intercept[IllegalArgumentException](tbl.scan(snapshotId = Some(1L)))
    assert(tbl.toDF.count() == 25)
    // dropped snapshots' directories are physically gone, kept ones remain
    val fs = new org.apache.hadoop.fs.Path(dirsBefore.head)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val keptDirs = tbl.snapshots.flatMap(tbl.dataDirsOf).toSet
    dirsBefore.foreach { d =>
      assert(fs.exists(new org.apache.hadoop.fs.Path(d)) == keptDirs.contains(d),
        s"dir $d should exist iff referenced by a kept snapshot")
    }
    // expiring everything including current is refused
    intercept[IllegalArgumentException] {
      tbl.append(nation) // snapshots: compact, append
      // keepLast = 1 keeps only append — legal; dropping current is not
      // constructible via keepLast, so check the guard directly
      tbl.expireSnapshots(keepLast = 0)
    }
  }

  test("changesSince reads only rows added after the pinned snapshot") {
    val cat = new IceCatalog(spark, scratch("incr"))
    val tbl = cat.createTable("ns", "t", nation.schema)
    tbl.append(nation.filter(col("n_nationkey") < 10))
    tbl.append(nation.filter(col("n_nationkey") >= 10 && col("n_nationkey") < 20))
    tbl.append(nation.filter(col("n_nationkey") >= 20))
    val snaps = tbl.snapshots.map(_.snapshotId)
    // after first snapshot: the later two appends
    assert(tbl.changesSince(snaps.head).count() == 15)
    // bounded range: only the middle append
    assert(tbl.changesSince(snaps.head, Some(snaps(1)))
      .agg(min("n_nationkey"), max("n_nationkey")).collect()(0)
      .toSeq == Seq(10, 19))
    // from zero = everything; from current = nothing
    assert(tbl.changesSince(0L).count() == 25)
    assert(tbl.changesSince(snaps.last).count() == 0)
    // a rewrite in range fails loudly instead of fabricating deltas
    tbl.compact(targetFiles = 1)
    intercept[IllegalArgumentException](tbl.changesSince(snaps.head))
    // partitioned layout works too (values recovered per file)
    val p = cat.createTable("ns", "p", nation.schema, partitionBy = Seq("n_regionkey"))
    p.append(nation.filter(col("n_nationkey") < 10))
    p.append(nation.filter(col("n_nationkey") >= 10))
    val delta = p.changesSince(p.snapshots.head.snapshotId)
    assert(delta.count() == 15)
    assert(delta.select("n_regionkey").distinct().count() ==
      nation.filter(col("n_nationkey") >= 10)
        .select("n_regionkey").distinct().count())
  }

  test("compact reads at full parallelism and funnels into targetFiles") {
    val cat = new IceCatalog(spark, scratch("compactpar"))
    val tbl = cat.createTable("ns", "t", nation.schema)
    (0 until 6).foreach(i => tbl.append(nation.filter(col("n_nationkey") % 6 === i)))
    assert(tbl.visibleFiles(tbl.meta.currentSnapshot.get).length >= 6)
    // make every small file its own input split so read parallelism is
    // observable at fixture scale (production files are split-sized anyway)
    val oldMax = spark.conf.get("spark.sql.files.maxPartitionBytes")
    val oldCost = spark.conf.get("spark.sql.files.openCostInBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "32768")
    spark.conf.set("spark.sql.files.openCostInBytes", "32768")
    try {
      spark.sparkContext.setJobGroup("compact-par", "compact parallelism probe")
      tbl.compact(targetFiles = 2)
      spark.sparkContext.clearJobGroup()
      val tracker = spark.sparkContext.statusTracker
      val stageTasks = tracker.getJobIdsForGroup("compact-par")
        .flatMap(j => tracker.getJobInfo(j).map(_.stageIds()).getOrElse(Array.empty[Int]))
        .flatMap(sid => tracker.getStageInfo(sid)).map(_.numTasks())
      // the read stage must NOT collapse to targetFiles tasks (the old
      // coalesce bug); with 6 single-file splits it runs 6-wide
      assert(stageTasks.nonEmpty && stageTasks.max > 2,
        s"read stage collapsed: stage task counts = ${stageTasks.mkString(",")}")
      val snap = tbl.meta.currentSnapshot.get
      assert(snap.operation == "compact" && tbl.addedFilesOf(snap).length == 2)
      assert(tbl.toDF.count() == 25)
    } finally {
      spark.conf.set("spark.sql.files.maxPartitionBytes", oldMax)
      spark.conf.set("spark.sql.files.openCostInBytes", oldCost)
    }
  }

  test("rollback moves the pointer; writes after it branch under fresh ids") {
    val cat = new IceCatalog(spark, scratch("rollback"))
    val tbl = cat.createTable("ns", "t", nation.schema)
    tbl.append(nation.filter(col("n_nationkey") < 10))
    tbl.append(nation.filter(col("n_nationkey") >= 10))
    val versionBefore = tbl.meta.version
    tbl.rollbackTo(1L)
    // pure metadata: one version bump, same snapshot log, pointer moved
    assert(tbl.meta.version == versionBefore + 1)
    assert(tbl.meta.currentSnapshotId == 1L)
    assert(tbl.snapshots.map(_.snapshotId) == Seq(1L, 2L))
    assert(tbl.toDF.count() == 10)
    // the abandoned snapshot stays time-travelable
    assert(tbl.scan(snapshotId = Some(2L)).count() == 25)
    // a write after rollback branches from the restored state: it carries
    // snapshot 1's rows (not snapshot 2's) under a fresh id
    tbl.append(nation.filter(col("n_nationkey") >= 20))
    assert(tbl.meta.currentSnapshotId == 3L)
    assert(tbl.toDF.count() == 15)
    assert(tbl.snapshots.last.totalRows == 15)
    // rollback to an unknown snapshot fails loudly; to current is a no-op
    intercept[IllegalArgumentException](tbl.rollbackTo(99L))
    val v = tbl.meta.version
    tbl.rollbackTo(3L)
    assert(tbl.meta.version == v, "rollback to current must not commit")
  }

  test("cherry-pick re-applies an orphaned append; refusals are loud") {
    val cat = new IceCatalog(spark, scratch("cherrypick"))
    val tbl = cat.createTable("ns", "t", nation.schema)
    tbl.append(nation.filter(col("n_nationkey") < 10))   // snap 1
    tbl.append(nation.filter(col("n_nationkey") >= 10))  // snap 2
    tbl.rollbackTo(1L)
    tbl.cherryPick(2L)
    assert(tbl.meta.currentSnapshotId == 3L, "pick commits a NEW snapshot")
    assert(tbl.toDF.count() == 25, "picked rows land on the restored head")
    assert(tbl.snapshots.last.totalRows == 25)
    // double-pick: snap 2's files are already visible via the pick
    val dup = intercept[IllegalArgumentException](tbl.cherryPick(2L))
    assert(dup.getMessage.contains("double-pick"), dup.getMessage)
    // non-append snapshots refuse: removals don't transplant
    tbl.deleteWhere(Seq(org.apache.spark.sql.sources.LessThan("n_nationkey", 5)))
    val delSnap = tbl.meta.currentSnapshotId
    assert(tbl.meta.currentSnapshot.get.operation == "delete")
    val nonApp = intercept[IllegalArgumentException](tbl.cherryPick(delSnap))
    assert(nonApp.getMessage.contains("pure-insert snapshots"), nonApp.getMessage)
    // unknown snapshot fails loudly
    intercept[IllegalArgumentException](tbl.cherryPick(99L))
    // equality-delete era clash: picked files keep their path-derived era,
    // so a NEWER eq delete on the head would re-apply to the picked rows —
    // refuse instead of silently shrinking the transplant
    import spark.implicits._
    val cat2 = new IceCatalog(spark, scratch("cherrypick-eq"))
    val t2 = cat2.createTable("ns", "t", nation.schema)
    t2.append(nation.filter(col("n_nationkey") < 10))   // snap 1, era 1
    t2.append(nation.filter(col("n_nationkey") >= 10))  // snap 2, era 2
    t2.rollbackTo(1L)
    t2.deleteKeysEq(Seq(3L).toDF("n_nationkey"), Seq("n_nationkey")) // newer seq
    val clash = intercept[IllegalArgumentException](t2.cherryPick(2L))
    assert(clash.getMessage.contains("equality delete"), clash.getMessage)
    // folding the head's deletes clears the clash and the pick lands
    t2.rewriteDeletes()
    t2.cherryPick(2L)
    assert(t2.toDF.count() == 24, "9 (post-eq-delete) + 15 picked rows")
  }

  test("rollback restores the target snapshot's schema") {
    val cat = new IceCatalog(spark, scratch("rollback_schema"))
    val tbl = cat.createTable("ns", "t", nation.schema)
    tbl.append(nation)
    val narrow = nation.select("n_nationkey", "n_name")
    tbl.replace(narrow) // snapshot 2 changes the schema
    assert(tbl.schema.fieldNames.toSeq == Seq("n_nationkey", "n_name"))
    tbl.rollbackTo(1L)
    assert(tbl.schema == nation.schema,
      "rollback must restore the pinned pre-replace schema")
    assert(tbl.toDF.columns.toSeq == nation.schema.fieldNames.toSeq)
  }

  test("partition evolution: unpartitioned -> partitioned -> repartitioned") {
    val cat = new IceCatalog(spark, scratch("pevo"))
    val tbl = cat.createTable("ns", "t", nation.schema)
    tbl.append(nation.filter(col("n_nationkey") < 10))        // era 1: unpartitioned
    tbl.setPartitionSpec(Seq("n_regionkey"))
    tbl.append(nation.filter(col("n_nationkey") >= 10 && col("n_nationkey") < 20)) // era 2: by region
    tbl.setPartitionSpec(Seq("n_nationkey"))
    tbl.append(nation.filter(col("n_nationkey") >= 20))       // era 3: by nationkey
    // pure metadata: three appends only, no rewrite snapshots
    assert(tbl.snapshots.map(_.operation) == Seq("append", "append", "append"))
    // the full scan reassembles every era, all columns correct
    val df = tbl.toDF
    assert(df.count() == 25)
    assert(df.orderBy("n_nationkey").collect().toSeq ==
      nation.orderBy("n_nationkey").collect().toSeq)
    // filters on both ever-partition columns stay exactly right across eras
    assert(tbl.toDF.filter(col("n_regionkey") === 2).count() ==
      nation.filter(col("n_regionkey") === 2).count())
    assert(tbl.toDF.filter(col("n_nationkey") === 21).count() == 1)
    // era specs recorded: old eras resolve their own layout
    val m = tbl.meta
    assert(m.partitionBy == Seq("n_nationkey"))
    assert(m.specFor(1L) == Nil)
    assert(m.specFor(2L) == Seq("n_regionkey"))
    assert(m.specFor(3L) == Seq("n_nationkey"))
    assert(m.specFor(99L) == Seq("n_nationkey"))
  }

  test("partition evolution: upsert and delete cross era boundaries") {
    val cat = new IceCatalog(spark, scratch("pevo2"))
    val tbl = cat.createTable("ns", "t", nation.schema)
    tbl.append(nation.filter(col("n_nationkey") < 15))
    tbl.setPartitionSpec(Seq("n_regionkey"))
    tbl.append(nation.filter(col("n_nationkey") >= 15))
    // upsert touches keys in BOTH eras — readFiles must reassemble each
    // era's layout (old: all columns in data; new: region from dirs)
    val src = nation.filter(col("n_nationkey").isin(3, 20))
      .withColumn("n_name", lit("UPDATED"))
    tbl.upsert(src, keys = Seq("n_nationkey"))
    assert(tbl.toDF.count() == 25)
    assert(tbl.toDF.filter(col("n_name") === "UPDATED").count() == 2)
    // delete across eras
    tbl.deleteWhere(Seq(org.apache.spark.sql.sources.GreaterThanOrEqual("n_nationkey", 23)))
    assert(tbl.toDF.count() == 23)
    assert(tbl.toDF.agg(org.apache.spark.sql.functions.sum(
      when(col("n_name") === "UPDATED", 1).otherwise(0))).collect()(0).getLong(0) == 2)
  }

  test("partition evolution to unpartitioned keeps old dirs readable") {
    val cat = new IceCatalog(spark, scratch("pevo3"))
    val tbl = cat.createTable("ns", "t", nation.schema, partitionBy = Seq("n_regionkey"))
    tbl.append(nation.filter(col("n_nationkey") < 12))
    tbl.setPartitionSpec(Nil)
    tbl.append(nation.filter(col("n_nationkey") >= 12))
    assert(tbl.toDF.count() == 25)
    assert(tbl.toDF.orderBy("n_nationkey").collect().toSeq ==
      nation.orderBy("n_nationkey").collect().toSeq)
    // old partitioned files still serve n_regionkey (from their dirs)
    assert(tbl.toDF.filter(col("n_regionkey") === 1).count() ==
      nation.filter(col("n_regionkey") === 1).count())
  }

  test("tags pin snapshots: ref scans resolve, expiry spares them") {
    val cat = new IceCatalog(spark, scratch("tags"))
    val tbl = cat.createTable("ns", "t", nation.schema)
    tbl.append(nation.filter(col("n_nationkey") < 10))   // snap 1
    tbl.tag("golden", 1L)
    tbl.append(nation.filter(col("n_nationkey") >= 10))  // snap 2
    tbl.replace(nation.limit(3))                         // snap 3
    // ref-option scan reads the tagged version
    assert(tbl.scan(ref = Some("golden")).count() == 10)
    assert(tbl.refSnapshotId("golden").contains(1L))
    // expiry keeps the tagged snapshot and the current one, drops the middle
    tbl.expireSnapshots(keepLast = 1)
    assert(tbl.snapshots.map(_.snapshotId) == Seq(1L, 3L))
    assert(tbl.scan(ref = Some("golden")).count() == 10,
      "tagged snapshot's data must survive expiry")
    // dropTag releases the pin: the next expiry reclaims it
    tbl.dropTag("golden")
    tbl.expireSnapshots(keepLast = 1)
    assert(tbl.snapshots.map(_.snapshotId) == Seq(3L))
    intercept[IllegalArgumentException](tbl.scan(ref = Some("golden")))
    // numeric tag names are refused (they would shadow snapshot ids)
    intercept[IllegalArgumentException](tbl.tag("123", 3L))
    intercept[IllegalArgumentException](tbl.tag("nope", 99L))
  }

  test("expiry keeps a rolled-back current snapshot outside the tail window") {
    val cat = new IceCatalog(spark, scratch("rbexpire"))
    val tbl = cat.createTable("ns", "t", nation.schema)
    (0 until 3).foreach(i => tbl.append(nation.filter(col("n_nationkey") % 3 === i)))
    tbl.rollbackTo(1L)
    tbl.expireSnapshots(keepLast = 1)
    // current (1) is pinned even though the tail window is {3}
    assert(tbl.snapshots.map(_.snapshotId) == Seq(1L, 3L))
    assert(tbl.toDF.count() == nation.filter(col("n_nationkey") % 3 === 0).count())
  }

  test("branch writes stage invisibly; fast-forward publishes atomically") {
    val cat = new IceCatalog(spark, scratch("wap"))
    val tbl = cat.createTable("ns", "t", nation.schema)
    tbl.append(nation.filter(col("n_nationkey") < 10))  // snap 1 (main)
    tbl.tag("audit", 1L)                                // branch from main
    tbl.appendToRef("audit", nation.filter(col("n_nationkey") >= 10 && col("n_nationkey") < 20))
    tbl.appendToRef("audit", nation.filter(col("n_nationkey") >= 20))
    // main is untouched while the branch accumulates
    assert(tbl.toDF.count() == 10, "plain reads must not see staged branch data")
    assert(tbl.meta.currentSnapshotId == 1L)
    // the branch chain is auditable through the ref
    assert(tbl.scan(ref = Some("audit")).count() == 25)
    assert(tbl.refSnapshotId("audit").contains(3L))
    // publish: main jumps to the audited head, atomically
    tbl.fastForward("audit")
    assert(tbl.toDF.count() == 25)
    assert(tbl.meta.currentSnapshotId == 3L)
    assert(tbl.toDF.orderBy("n_nationkey").collect().toSeq ==
      nation.orderBy("n_nationkey").collect().toSeq)
    // unknown ref fails loudly
    intercept[IllegalArgumentException](tbl.appendToRef("nope", nation))
  }

  test("concurrent branch appends both land on the branch chain via retry") {
    val cat = new IceCatalog(spark, scratch("wap-race"))
    val tbl = cat.createTable("ns", "t", nation.schema)
    tbl.append(nation.filter(col("n_nationkey") < 5)) // snap 1 (main)
    tbl.tag("audit", 1L)
    // two writers race onto the SAME branch: the loser's version commit is
    // retried with a re-resolved ref head, so its files chain onto the
    // winner's branch snapshot instead of throwing or orphaning data
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val slices = Seq(
      nation.filter(col("n_nationkey") >= 5 && col("n_nationkey") < 15),
      nation.filter(col("n_nationkey") >= 15))
    Await.result(
      Future.sequence(slices.map(s => Future(tbl.appendToRef("audit", s)))),
      120.seconds)
    // main untouched; branch holds snap1 + both staged appends
    assert(tbl.toDF.count() == 5, "staged branch data leaked into main")
    assert(tbl.scan(ref = Some("audit")).count() == 25,
      "both racing branch appends must land on the branch chain")
    tbl.fastForward("audit")
    assert(tbl.toDF.orderBy("n_nationkey").collect().toSeq ==
      nation.orderBy("n_nationkey").collect().toSeq)
  }

  test("concurrent stageWap writers both land; each wap.id publishes exactly once") {
    val cat = new IceCatalog(spark, scratch("wapid-race"))
    val tbl = cat.createTable("ns", "t", nation.schema)
    tbl.append(nation.filter(col("n_nationkey") < 5)) // snap 1 (main)
    // two writers race their STAGED commits: the loser's version commit
    // retries against the fresh metadata (data written once), and neither
    // moves the main pointer
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val slices = Seq(
      "mid" -> nation.filter(col("n_nationkey") >= 5 && col("n_nationkey") < 15),
      "hi" -> nation.filter(col("n_nationkey") >= 15))
    Await.result(
      Future.sequence(slices.map { case (id, df) =>
        Future(tbl.stageWap(id, df)) }),
      120.seconds)
    assert(tbl.toDF.count() == 5, "staged wap data leaked into main")
    assert(tbl.meta.currentSnapshotId == 1L)
    // each staged snapshot is auditable by id with ITS OWN content
    // (parented at main, so base + its slice — independent of the other)
    val byId = slices.map { case (id, df) =>
      val sid = tbl.snapshots
        .find(_.summary.get("wap.id").contains(id)).get.snapshotId
      assert(tbl.scan(snapshotId = Some(sid)).count() == 5 + df.count(),
        s"staged '$id' must audit as base + its own slice")
      id -> sid
    }.toMap
    assert(byId.size == 2)
    // publish both (order-independent by the bag-union argument); a
    // duplicate wap.id refuses at staging, a re-publish refuses at pick
    tbl.publishChanges("mid")
    tbl.publishChanges("hi")
    assert(tbl.toDF.orderBy("n_nationkey").collect().toSeq ==
      nation.orderBy("n_nationkey").collect().toSeq)
    intercept[IllegalArgumentException](tbl.stageWap("mid", nation.limit(1)))
    intercept[IllegalArgumentException](tbl.publishChanges("nope"))
    intercept[IllegalArgumentException](tbl.publishChanges("mid"))
  }

  test("same-wap.id racers: exactly one stages; an empty stage publishes exactly once") {
    val cat = new IceCatalog(spark, scratch("wapid-race2"))
    val tbl = cat.createTable("ns", "t", nation.schema)
    tbl.append(nation.filter(col("n_nationkey") < 5))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // two stagers race the SAME id. Whatever the interleaving, exactly one
    // must win: serialized, the loser's up-front check refuses; truly
    // racing, the commit CAS serializes them and the loser's IN-LOOP
    // re-check against the fresh read refuses. A double landing would make
    // the id permanently ambiguous with no API to unstage.
    val results = Await.result(
      Future.sequence((0 until 2).map { i =>
        Future(scala.util.Try(tbl.stageWap("dup",
          nation.filter(col("n_nationkey") >= 5 + i * 10 &&
            col("n_nationkey") < 10 + i * 10))))
      }),
      120.seconds)
    assert(results.count(_.isSuccess) == 1,
      s"exactly one same-id stager may win: $results")
    assert(results.count(_.isFailure) == 1 &&
      results.find(_.isFailure).get.failed.get
        .isInstanceOf[IllegalArgumentException],
      s"the loser must refuse loudly: $results")
    assert(tbl.snapshots.count(_.summary.get("wap.id").contains("dup")) == 1,
      "the id must land exactly once — publish-by-id stays unambiguous")
    tbl.publishChanges("dup")
    // EMPTY stage: zero added files, so cherryPick's already-visible
    // double-pick check is vacuous — the published.wap.id marker must
    // still make the second publish refuse instead of appending a no-op
    // head per retry
    tbl.stageWap("empty", nation.limit(0))
    val before = tbl.meta.currentSnapshotId
    tbl.publishChanges("empty")
    assert(tbl.meta.currentSnapshotId != before, "publish commits a head")
    intercept[IllegalArgumentException](tbl.publishChanges("empty"))
  }

  test("hidden partitioning composes with partition evolution across eras") {
    val cat = new IceCatalog(spark, scratch("hpevo"))
    val tbl = cat.createTable("ns", "t", nation.schema,
      partitionBy = Seq("n_regionkey")) // era 1: identity
    tbl.append(nation.filter(col("n_nationkey") < 10))
    tbl.setPartitionSpec(Seq("bucket(4,n_nationkey)")) // era 2: hidden
    tbl.append(nation.filter(col("n_nationkey") >= 10))
    // pure metadata evolution: two appends, one ledger entry
    assert(tbl.snapshots.map(_.operation) == Seq("append", "append"))
    assert(tbl.meta.partitionSpecs.map(_.cols) == Seq(Seq("n_regionkey")))
    // era-2 files lay out under the bucket transform dirs
    val era2 = tbl.addedFilesOf(tbl.snapshots.last)
    assert(era2.nonEmpty && era2.forall(_.contains("n_nationkey_bucket=")),
      s"expected bucket dirs, got ${era2.headOption}")
    // the scan reassembles both eras exactly — identity columns bind from
    // dirs (era 1) and data (era 2), the bucket source always from data
    assert(tbl.toDF.orderBy("n_nationkey").collect().toSeq ==
      nation.orderBy("n_nationkey").collect().toSeq)
    // timestamps are identity-rejected but days() makes them layoutable
    import spark.implicits._
    val ts = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00")),
      (2L, java.sql.Timestamp.valueOf("2024-01-02 10:00:00"))).toDF("id", "ts")
    intercept[IllegalArgumentException] {
      cat.createTable("ns", "bad_ts", ts.schema, partitionBy = Seq("ts"))
    }
    val t2 = cat.createTable("ns", "ts_ok", ts.schema,
      partitionBy = Seq("days(ts)"))
    t2.append(ts)
    assert(t2.toDF.count() == 2)
    // both dir spellings are valid on disk (`__p_ts_day=` from the native
    // writer, `ts_day=` from the row-loop writer); the VALUE is the contract
    val dayDirs = t2.visibleFiles(t2.meta.currentSnapshot.get)
      .flatMap(_.path.split('/').find(_.stripPrefix("__p_").startsWith("ts_day=")))
      .map(_.stripPrefix("__p_")).toSet
    // 2024-01-01 / 2024-01-02 = epoch days 19723 / 19724
    assert(dayDirs == Set("ts_day=19723", "ts_day=19724"),
      s"days(ts) must render epoch-day dirs, got $dayDirs")
    // the coarser temporal grains lay out and render their documented values
    val t3 = cat.createTable("ns", "ts_m", ts.schema,
      partitionBy = Seq("months(ts)"))
    t3.append(ts.withColumn("ts",
      org.apache.spark.sql.functions.add_months(col("ts"), col("id").cast("int") * 2)
        .cast("timestamp")))
    val monthDirs = t3.visibleFiles(t3.meta.currentSnapshot.get)
      .flatMap(_.path.split('/').find(_.stripPrefix("__p_").startsWith("ts_month=")))
      .map(_.stripPrefix("__p_")).toSet
    // 2024-03 = (2024-1970)*12 + 2 = 650; 2024-05 = 652
    assert(monthDirs == Set("ts_month=650", "ts_month=652"),
      s"months(ts) must render months-since-epoch dirs, got $monthDirs")
    assert(t3.toDF.count() == 2)
  }

  test("merge-on-read deletes: position files, carried by writes, folded by compact") {
    import org.apache.spark.sql.sources.{EqualTo, LessThanOrEqual}
    val cat = new IceCatalog(spark, scratch("mor"))
    val o = graft.queries.QUtil.t(spark, sfDir, "orders")
    val total = o.count()
    val tbl = cat.createTable("ns", "t", o.schema)
    tbl.append(o.repartitionByRange(4, col("o_orderkey")))
    val maxKey = o.agg(max("o_orderkey")).collect()(0).getAs[Number](0).longValue
    val cut = maxKey / 8
    val nCut = o.filter(col("o_orderkey") <= cut).count()

    // a selective range delete: manifest stats prove 3 of 4 files hold no
    // matching key, so the delete file applies to ONE data file only
    tbl.deleteWhereMor(Seq(LessThanOrEqual("o_orderkey", cut)))
    val snap1 = tbl.meta.currentSnapshot.get
    assert(snap1.operation == "delete")
    assert(tbl.visibleFiles(snap1).length == 4, "no data file may be rewritten")
    val ds1 = tbl.deletesOf(snap1)
    assert(ds1.length == 1 && ds1.head.appliesTo.length == 1,
      s"delete should target exactly the one candidate file: $ds1")
    assert(ds1.head.rows == nCut)
    assert(snap1.totalRows == total - nCut)
    // reads subtract positions — DataFrame, SQL aggregate, and filters
    assert(tbl.toDF.count() == total - nCut)
    assert(tbl.toDF.filter(col("o_orderkey") <= cut).count() == 0)
    // a second MOR delete accumulates without re-deleting the same rows
    val minLeft = tbl.toDF.agg(min("o_orderkey")).collect()(0)
      .getAs[Number](0).longValue
    tbl.deleteWhereMor(Seq(EqualTo("o_orderkey", minLeft)))
    assert(tbl.toDF.count() == total - nCut - 1)
    assert(tbl.meta.currentSnapshot.get.totalRows == total - nCut - 1)

    // appends carry the outstanding deletes; upsert applies them to the
    // files it rewrites and keeps the rest
    tbl.append(o.filter(col("o_orderkey") === minLeft)) // resurrect one row
    assert(tbl.toDF.count() == total - nCut)
    assert(tbl.toDF.filter(col("o_orderkey") === minLeft).count() == 1)

    // rewriteDeletes folds the debt by rewriting ONLY the affected files:
    // clean files carry forward byte-identical, deletes vanish, and the
    // whole table is columnar again — without a full compaction
    val beforeFold = tbl.meta.currentSnapshot.get
    val cleanBefore = tbl.visibleFiles(beforeFold).map(_.path).toSet --
      tbl.deletesOf(beforeFold).flatMap(_.dataFiles)
    tbl.rewriteDeletes()
    val folded = tbl.meta.currentSnapshot.get
    assert(tbl.deletesOf(folded).isEmpty, "rewriteDeletes must fold all deletes")
    assert(cleanBefore.subsetOf(tbl.visibleFiles(folded).map(_.path).toSet),
      "clean files must carry forward untouched")
    assert(folded.totalRows == total - nCut)
    assert(tbl.toDF.count() == total - nCut)
    assert(tbl.rewriteDeletes() eq tbl, "no deletes -> no-op")
    // a later full compact still works and preserves content
    tbl.compact(targetFiles = 2)
    assert(tbl.toDF.count() == total - nCut)
    // time travel across the whole MOR history stays exact
    assert(tbl.scan(snapshotId = Some(1L)).count() == total)
    assert(tbl.scan(snapshotId = Some(snap1.snapshotId)).count() == total - nCut)
  }

  test("equality deletes: zero-read upsert, stacking, null keys, fold") {
    import org.apache.spark.sql.sources.EqualTo
    import spark.implicits._
    val cat = new IceCatalog(spark, scratch("eqmor"))
    val base = (1L to 200L).map(i => (i, s"v$i")).toDF("id", "v")
    val tbl = cat.createTable("ns", "t", base.schema)
    tbl.append(base.repartitionByRange(2, col("id"))) // ~[1,100] / ~[101,200]
    val beforePaths = tbl.visibleFiles(tbl.meta.currentSnapshot.get).map(_.path)

    // zero-read upsert: ONE snapshot = appended source + equality delete
    val src = (50L to 60L).map(i => (i, "NEW")).toDF("id", "v")
    tbl.upsertMorEq(src, Seq("id"))
    val snap = tbl.meta.currentSnapshot.get
    assert(snap.operation == "upsert")
    assert(beforePaths.forall(tbl.visibleFiles(snap).map(_.path).contains),
      "no pre-existing file may be rewritten")
    val eq = tbl.deletesOf(snap).find(_.isEquality).get
    assert(eq.eqRows == 11 && eq.eqCols == Seq("id") && eq.appliesTo.isEmpty)
    assert(eq.eqMin.get("id").contains("50") && eq.eqMax.get("id").contains("60"),
      s"delete key bounds must come from the delete file footer: $eq")
    assert(tbl.toDF.count() == 200)
    assert(tbl.toDF.filter(col("v") === "NEW").count() == 11)
    assert(tbl.toDF.filter(col("id") === 55).select("v")
      .collect()(0).getString(0) == "NEW")
    // projection that prunes the key column still applies the delete
    assert(tbl.scan(columns = Seq("v")).filter(col("v") === "NEW").count() == 11)
    assert(tbl.scan(columns = Seq("v")).count() == 200)
    // time travel: pre-upsert snapshot untouched
    assert(tbl.scan(snapshotId = Some(1L)).filter(col("v") === "NEW").count() == 0)

    // a position delete stacks on the eq debt without double-counting:
    // id=55 matches one live row (the NEW one); the eq-deleted original
    // must not be position-deleted again
    tbl.deleteWhereMor(Seq(EqualTo("id", 55L)))
    val ds2 = tbl.deletesOf(tbl.meta.currentSnapshot.get)
    assert(ds2.filterNot(_.isEquality).map(_.rows).sum == 1,
      s"exactly the live row may be position-deleted: $ds2")
    assert(tbl.toDF.count() == 199)

    // keys-only tombstones; unknown keys are a no-op
    tbl.deleteKeysEq(Seq(190L, 9999L).toDF("id"), Seq("id"))
    assert(tbl.toDF.count() == 198)
    assert(tbl.toDF.filter(col("id") === 190).count() == 0)

    // rewriteDeletes folds ALL debt (eq included) and restores exact totals
    tbl.rewriteDeletes()
    val folded = tbl.meta.currentSnapshot.get
    assert(tbl.deletesOf(folded).isEmpty)
    assert(folded.totalRows == 198 && tbl.toDF.count() == 198)
  }

  test("equality deletes: null keys match null-safely; fallbacks engage") {
    import spark.implicits._
    val cat = new IceCatalog(spark, scratch("eqnull"))
    val base = Seq((Option(1L), "a"), (Option.empty[Long], "x")).toDF("id", "v")
    val tbl = cat.createTable("ns", "t", base.schema)
    tbl.append(base)
    tbl.upsertMorEq(Seq((Option.empty[Long], "y")).toDF("id", "v"), Seq("id"))
    val eq = tbl.deletesOf(tbl.meta.currentSnapshot.get).find(_.isEquality).get
    assert(!eq.eqMin.contains("id"),
      s"a null-bearing key column must carry no bounds (pruning unsound): $eq")
    val got = tbl.toDF.orderBy("v").collect().map(r =>
      (if (r.isNullAt(0)) -1L else r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "a"), (-1L, "y")),
      s"null key must upsert the null-key row (<=> semantics): $got")

    // identity-partition keys fall back to the position-delete upsert
    val pbase = (1L to 20L).map(i => (i, i % 2, s"v$i")).toDF("id", "p", "v")
    val pt = cat.createTable("ns", "pt", pbase.schema, partitionBy = Seq("p"))
    pt.append(pbase)
    pt.upsertMorEq((1L to 3L).map(i => (i, i % 2, "U")).toDF("id", "p", "v"),
      Seq("id", "p"))
    val pds = pt.deletesOf(pt.meta.currentSnapshot.get)
    assert(pds.forall(!_.isEquality),
      s"identity-partition key must not commit an equality delete: $pds")
    assert(pt.meta.currentSnapshot.get.operation == "upsert")
    assert(pt.toDF.filter(col("v") === "U").count() == 3)
    intercept[IllegalArgumentException] {
      pt.deleteKeysEq(Seq((1L, 1L)).toDF("id", "p"), Seq("id", "p"))
    }
  }

  test("an equality upsert racing a concurrent append retries and both land") {
    import spark.implicits._
    val cat = new IceCatalog(spark, scratch("eqrace"))
    val df = (1L to 100L).map(i => (i, s"v$i")).toDF("k", "v")
    val extra = (101L to 120L).map(i => (i, s"v$i")).toDF("k", "v")
    val tbl = cat.createTable("ns", "t", df.schema)
    tbl.append(df.repartitionByRange(4, col("k")))
    // equality deletes are state-independent, so the loser re-pins its
    // sequence to the new head and re-attaches — both commits land
    // whichever wins the race, and the final content is a serializable
    // outcome of {append, upsert} in either order
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val up = (1L to 10L).map(i => (i, "UP")).toDF("k", "v")
    Await.result(Future.sequence(Seq(
      Future(tbl.append(extra)),
      Future(tbl.upsertMorEq(up, Seq("k"))))), 120.seconds)
    assert(tbl.snapshots.length == 3, s"both commits must land: ${tbl.snapshots}")
    assert(tbl.toDF.count() == 120, s"got ${tbl.toDF.count()}")
    assert(tbl.toDF.filter(col("v") === "UP").count() == 10)
    assert(tbl.toDF.filter(col("k") > 100).count() == 20)
  }

  test("changelog resolves deletes to rows, refuses rewrites, bounds by range") {
    import spark.implicits._
    val cat = new IceCatalog(spark, scratch("cdclog"))
    val base = (1L to 100L).map(i => (i, s"v$i")).toDF("id", "v")
    val tbl = cat.createTable("ns", "t", base.schema)
    tbl.append(base)
    tbl.upsertMorEq((50L to 54L).map(i => (i, "NEW")).toDF("id", "v"), Seq("id"))
    val log = tbl.changelog(0L)
    val rows = log.collect().map(r =>
      (r.getString(2), r.getLong(3), r.getLong(0), r.getString(1)))
    assert(rows.count(_._1 == "insert") == 105)
    // the eq delete resolves to the OLD row values it killed
    val dels = rows.filter(_._1 == "delete").sortBy(_._3)
    assert(dels.map(x => (x._2, x._3, x._4)).toSeq ==
      (50L to 54L).map(i => (2L, i, s"v$i")),
      s"deletes must carry the killed rows' values: ${dels.toSeq}")
    // range bounds: from the upsert head, the log is empty
    assert(tbl.changelog(2L).count() == 0)
    // a rewriting snapshot (compaction) has no recorded row delta
    tbl.compact()
    intercept[IllegalArgumentException](tbl.changelog(0L).count())
    // ... but ranges that start after it replay fine
    tbl.append((200L to 201L).map(i => (i, "A")).toDF("id", "v"))
    val after = tbl.changelog(3L)
    assert(after.collect().map(r => (r.getString(2), r.getLong(0))).sorted.toSeq ==
      Seq(("insert", 200L), ("insert", 201L)))
  }

  test("bounded changelog plans only the window's manifests and files") {
    import spark.implicits._
    val cat = new IceCatalog(spark, scratch("cdcwin"))
    val base = (1L to 100L).map(i => (i, s"v$i")).toDF("id", "v")
    val tbl = cat.createTable("ns", "t", base.schema)
    // pre-window history: two appends plus a MOR eq upsert, so the boundary
    // snapshot carries an outstanding delete file (the delete-count fast
    // path must still keep its manifest untouched)
    tbl.append(base)                                              // snap 1
    tbl.append((101L to 120L).map(i => (i, "B")).toDF("id", "v")) // snap 2
    tbl.upsertMorEq((1L to 5L).map(i => (i, "UP")).toDF("id", "v"), Seq("id")) // snap 3
    val from = tbl.meta.currentSnapshotId
    tbl.append((200L to 209L).map(i => (i, "W1")).toDF("id", "v")) // snap 4
    tbl.append((210L to 219L).map(i => (i, "W2")).toDF("id", "v")) // snap 5
    val window = tbl.snapshots.filter(_.snapshotId > from)
    // reset rather than diff, and record UNBOUNDED for the act: the access
    // log is LRU-bounded in production, so a buggy act touching more paths
    // than the cap would evict its own earliest (out-of-window) entries and
    // pass the subset assertion vacuously — absolute counts from a clean
    // slate with eviction disabled cannot lose anything
    graft.icelite.MetaIo.manifestAccessUnbounded = true
    try {
      graft.icelite.MetaIo.manifestAccessReset()
      val log = tbl.changelog(from)
      assert(log.count() == 20)
      val accessed = graft.icelite.MetaIo.manifestAccessSnapshot
        .filter(_._2 > 0).keySet
      val windowManifests = window.map(_.manifestFile).toSet
      assert(accessed.subsetOf(windowManifests),
        s"bounded changelog touched manifests outside its window: " +
          s"${accessed -- windowManifests}")
      // deliberate-breakage proof that the channel records: touching a
      // PRE-window manifest must surface in the snapshot and would have
      // failed the subset assertion above
      val preWindow = tbl.snapshots.filter(_.snapshotId <= from)
        .map(_.manifestFile).filterNot(windowManifests)
      assert(preWindow.nonEmpty, "fixture must have pre-window manifests")
      val fs = new org.apache.hadoop.fs.Path(preWindow.head)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      graft.icelite.MetaIo.readManifestDoc(fs, preWindow.head)
      val after = graft.icelite.MetaIo.manifestAccessSnapshot
        .filter(_._2 > 0).keySet
      assert(after.contains(preWindow.head) && !after.subsetOf(windowManifests),
        "access log failed to record an out-of-window manifest read — " +
          "the subset assertion above is vacuous")
      // and the scan itself reads only the window's added data files
      // (compare bare paths: Hadoop spells file:/x, Spark file:///x)
      def bare(p: String): String =
        new org.apache.hadoop.fs.Path(p).toUri.getPath
      val windowData = window.flatMap(tbl.addedFilesOf).map(bare).toSet
      val scanned = log.inputFiles.map(bare).toSet
      assert(scanned.subsetOf(windowData),
        s"bounded changelog scanned non-window files: ${scanned -- windowData}")
    } finally {
      graft.icelite.MetaIo.manifestAccessUnbounded = false
      // drop the unbounded-phase entries: LinkedHashMap evicts at most one
      // eldest per put, so without this the log keeps its high-water size
      // for the JVM lifetime
      graft.icelite.MetaIo.manifestAccessReset()
    }
  }

  test("partition-exact DELETE is metadata-only; mixed predicates rewrite partially") {
    import org.apache.spark.sql.sources.{EqualTo, LessThan}
    import spark.implicits._
    val cat = new IceCatalog(spark, scratch("pdel"))
    val df = (1L to 100L).map(i => (i, if (i % 2 == 0) "a" else "b", s"v$i"))
      .toDF("k", "g", "v")
    val tbl = cat.createTable("ns", "t", df.schema, partitionBy = Seq("g"))
    tbl.append(df)
    // outstanding MOR debt inside the doomed partition: dropping the file
    // must subsume it (dead rows are a subset of the file's rows)
    tbl.deleteWhereMor(Seq(EqualTo("k", 2L)))
    assert(tbl.toDF.count() == 99)
    val before = tbl.visibleFiles(tbl.meta.currentSnapshot.get).map(_.path).toSet
    val t2 = tbl.deleteWhere(Seq(EqualTo("g", "a")))
    val snap = t2.meta.currentSnapshot.get
    assert(snap.operation == "delete" &&
      snap.addedFileCount == 0,
      s"whole-partition delete must write nothing: $snap")
    val after = t2.visibleFiles(snap).map(_.path).toSet
    assert(after.subsetOf(before) && after.nonEmpty,
      "survivors must be carried by path")
    assert(t2.toDF.count() == 50)
    assert(t2.toDF.filter(col("g") === "a").count() == 0)
    // row accounting survives the metadata drop (R10): the dropped
    // partition's debt must not leak into the carried total
    assert(snap.totalRows == 50, s"totalRows=${snap.totalRows}")
    // mixed predicate — partition-exact conjunct + stats conjunct — is NOT
    // whole-file-exact: survivors of the named partition rewrite, rows
    // where the condition is false or NULL stay
    val t3 = t2.deleteWhere(Seq(EqualTo("g", "b"), LessThan("k", 11L)))
    assert(t3.toDF.count() == 45, s"got ${t3.toDF.count()}")
    assert(t3.toDF.filter(col("k") < 11 && col("g") === "b").count() == 0)
    assert(t3.meta.currentSnapshot.get.totalRows == 45)
  }

  test("a MOR delete racing a concurrent append retries and both land") {
    import org.apache.spark.sql.sources.LessThanOrEqual
    import spark.implicits._
    val cat = new IceCatalog(spark, scratch("morrace"))
    val df = (1L to 100L).map(i => (i, s"v$i")).toDF("k", "v")
    val extra = (101L to 120L).map(i => (i, s"v$i")).toDF("k", "v")
    val tbl = cat.createTable("ns", "t", df.schema)
    tbl.append(df.repartitionByRange(4, col("k")))
    // an append and a position-delete race: the delete's positions target
    // immutable files the append carries unchanged, so the loser's commit
    // re-attaches instead of throwing
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    Await.result(Future.sequence(Seq(
      Future(tbl.append(extra)),
      Future(tbl.deleteWhereMor(Seq(LessThanOrEqual("k", 10L)))))), 120.seconds)
    assert(tbl.snapshots.length == 3, s"both commits must land: ${tbl.snapshots}")
    // deleted rows gone, appended rows present, regardless of commit order
    assert(tbl.toDF.count() == 110, s"got ${tbl.toDF.count()}")
    assert(tbl.toDF.filter(col("k") <= 10).count() == 0)
    assert(tbl.toDF.filter(col("k") > 100).count() == 20)
    assert(tbl.meta.currentSnapshot.get.totalRows == 110)
  }

  test("upsertMor stacks on prior deletes and matches COW upsert semantics") {
    import org.apache.spark.sql.sources.LessThanOrEqual
    import spark.implicits._
    val cat = new IceCatalog(spark, scratch("morup"))
    val df = (1L to 100L).map(i => (i, s"v$i")).toDF("k", "v")
    val tbl = cat.createTable("ns", "t", df.schema)
    tbl.append(df.repartitionByRange(4, col("k")))
    // prior MOR delete of k <= 10
    tbl.deleteWhereMor(Seq(LessThanOrEqual("k", 10L)))
    assert(tbl.toDF.count() == 90)
    // MOR upsert: update k in 20..30 (11 live matches), insert k in 101..105
    val src = ((20L to 30L) ++ (101L to 105L)).map(i => (i, s"NEW$i")).toDF("k", "v")
    tbl.upsertMor(src, Seq("k"))
    val snap = tbl.meta.currentSnapshot.get
    assert(snap.operation == "upsert")
    assert(snap.totalRows == 90 - 11 + 16, s"got ${snap.totalRows}")
    assert(tbl.toDF.count() == 95)
    // matched rows take source values; a row deleted EARLIER is not
    // double-counted by the upsert's position scan
    val got = tbl.toDF.orderBy("k").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.count(_._2.startsWith("NEW")) == 16)
    assert(got.map(_._1).toSeq == ((11L to 105L): Seq[Long]))
    // null-safe keys: a null-key source row matches a null-key target row
    val nt = cat.createTable("ns", "nulls",
      Seq((Option(1L), "a"), (Option.empty[Long], "b")).toDF("k", "v").schema)
    nt.append(Seq((Option(1L), "a"), (Option.empty[Long], "b")).toDF("k", "v"))
    nt.upsertMor(Seq((Option.empty[Long], "B")).toDF("k", "v"), Seq("k"))
    assert(nt.toDF.orderBy("v").collect().map(_.getString(1)).toSeq == Seq("B", "a"))
    // compact folds the stacked delete debt
    tbl.compact(targetFiles = 2)
    assert(tbl.deletesOf(tbl.meta.currentSnapshot.get).isEmpty)
    assert(tbl.toDF.count() == 95)
  }

  test("a MOR delete is one job and tombstones exactly the live matching positions") {
    import org.apache.spark.sql.sources.EqualTo
    import spark.implicits._
    val cat = new IceCatalog(spark, scratch("mor1job"))
    val df = (1L to 200L).map(i => (i, i % 7, s"v$i")).toDF("id", "g", "v")
    val tbl = cat.createTable("ns", "t", df.schema)
    tbl.append(df.repartitionByRange(4, col("id")))
    // one outstanding position delete (id 3) and one equality delete
    // (id 10); both rows have g = 3 and must be neither re-tombstoned nor
    // counted again
    tbl.deleteWhereMor(Seq(EqualTo("id", 3L)))
    tbl.deleteKeysEq(Seq(10L).toDF("id"), Seq("id"))
    val before = tbl.meta.currentSnapshot.get
    val priorDeletes = tbl.deletesOf(before)
    assert(priorDeletes.count(_.isEquality) == 1 && priorDeletes.count(!_.isEquality) == 1)
    val files = tbl.visibleFiles(before).map(_.path)
    assert(files.length == 4)
    // the model: absolute positions of the live g = 3 rows
    def q(p: String) = new org.apache.hadoop.fs.Path(p).toUri.getPath
    val want = spark.read.parquet(files: _*).where(col("g") === 3L)
      .select(col("id"), col("_metadata.file_path"), col("_metadata.row_index"))
      .collect().filterNot(r => r.getLong(0) == 3L || r.getLong(0) == 10L)
      .map(r => (q(r.getString(1)), r.getLong(2))).toSet
    assert(want.size == (1L to 200L).count(_ % 7 == 3) - 2)

    val jobs = jobsDuring(tbl.deleteWhereMor(Seq(EqualTo("g", 3L))))
    assert(jobs == Seq(graft.icelite.MorDelta.JobDescription),
      s"a one-key merge-on-read delete must run exactly one Spark job: $jobs")
    val snap = tbl.meta.currentSnapshot.get
    val added = tbl.deletesOf(snap).filterNot(priorDeletes.contains)
    assert(added.nonEmpty && added.forall(!_.isEquality))
    val got = spark.read.parquet(added.map(_.path): _*).collect()
      .map(r => (q(r.getString(0)), r.getLong(1)))
    assert(got.length == got.toSet.size, "a position may be tombstoned once")
    assert(got.toSet == want)
    assert(added.map(_.rows).sum == want.size)
    assert(added.flatMap(_.dataFiles).forall(files.contains),
      "delete entries must name manifest paths")
    assert(snap.totalRows == before.totalRows - want.size)
    assert(tbl.toDF.count() == 198 - want.size)
    assert(tbl.toDF.where(col("g") === 3L).count() == 0)
  }

  test("a MOR delete over more files than cores writes at most one file per core") {
    import org.apache.spark.sql.sources.{EqualTo, LessThan, StringEndsWith}
    import spark.implicits._
    val cat = new IceCatalog(spark, scratch("morcap"))
    val cores = spark.sparkContext.defaultParallelism
    val nFiles = cores * 3
    val df = (1L to 30L * nFiles).map(i => (i, s"v$i")).toDF("id", "v")
    val tbl = cat.createTable("ns", "t", df.schema)
    tbl.append(df.repartitionByRange(nFiles, col("id")))
    val snap0 = tbl.meta.currentSnapshot.get
    assert(tbl.visibleFiles(snap0).length == nFiles)
    tbl.deleteWhereMor(Seq(EqualTo("v", "nope")))
    assert(tbl.meta.currentSnapshot.get.snapshotId == snap0.snapshotId,
      "a delete matching nothing must not commit")
    val dataDir = new org.apache.hadoop.fs.Path(cat.tablePath("ns", "t"), "data")
    val fs = dataDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.listStatus(dataDir).exists(_.getPath.getName.startsWith("deletes-")),
      "a delete matching nothing must leave no files behind")
    // small files: a delete touching every one of them writes ONE file
    tbl.deleteWhereMor(Seq(StringEndsWith("v", "0")))
    val ds1 = tbl.deletesOf(tbl.meta.currentSnapshot.get)
    assert(ds1.length == 1 && ds1.head.dataFiles.length == nFiles, ds1)
    assert(ds1.head.rows == 3L * nFiles)
    // one task per byte of input: the cap alone bounds the file count
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "1")
    try tbl.deleteWhereMor(Seq(LessThan("id", 30L * nFiles + 1)))
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    val ds2 = tbl.deletesOf(tbl.meta.currentSnapshot.get).filterNot(ds1.contains)
    assert(ds2.length == cores,
      s"${ds2.length} delete files for $nFiles data files on $cores cores")
    assert(ds2.flatMap(_.dataFiles).distinct.length == nFiles)
    assert(ds2.map(_.rows).sum == 27L * nFiles)
    assert(tbl.meta.currentSnapshot.get.totalRows == 0)
    assert(tbl.toDF.count() == 0)
  }

  test("removeOrphanFiles sweeps aged unreferenced files, spares live data") {
    val cat = new IceCatalog(spark, scratch("orphan"))
    val tbl = cat.createTable("ns", "t", nation.schema)
    tbl.append(nation.filter(col("n_nationkey") < 10))
    tbl.append(nation.filter(col("n_nationkey") >= 10))
    val tableDir = cat.tablePath("ns", "t")
    val fs = tableDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate an append that permanently lost its commit race: a
    // writer-unique dir full of data that no snapshot references
    val orphanDir = new org.apache.hadoop.fs.Path(tableDir, "data/snap-00099-deadbeef")
    fs.mkdirs(orphanDir)
    val orphanFile = new org.apache.hadoop.fs.Path(orphanDir, "part-00000-lost.parquet")
    val out = fs.create(orphanFile)
    out.write("not really parquet".getBytes); out.close()
    // inside the grace window nothing is touched (could be an in-flight write)
    assert(tbl.removeOrphanFiles().isEmpty)
    assert(fs.exists(orphanFile))
    // aged past the grace period the orphan goes, and its emptied dir with it
    val deleted = tbl.removeOrphanFiles(graceMs = -1000L)
    assert(deleted.exists(_.contains("snap-00099-deadbeef")),
      s"orphan not swept: $deleted")
    assert(!fs.exists(orphanDir), "emptied orphan dir should be removed")
    // every committed file of every snapshot survives: current reads and
    // time travel are untouched
    assert(tbl.toDF.count() == 25)
    assert(tbl.scan(snapshotId = Some(1L)).count() == 10)
    tbl.snapshots.foreach(s => tbl.visibleFiles(s).foreach(f =>
      assert(fs.exists(new org.apache.hadoop.fs.Path(f.path)),
        s"live file swept: ${f.path}")))
    // a LIVE position-delete file is referenced metadata, never an orphan —
    // sweeping it would silently resurrect the deleted rows
    tbl.deleteWhereMor(Seq(
      org.apache.spark.sql.sources.EqualTo("n_nationkey", 0)))
    assert(tbl.toDF.count() == 24)
    val swept = tbl.removeOrphanFiles(graceMs = -1000L)
    // stray _SUCCESS markers are legitimately swept; the delete PARQUET is not
    assert(!swept.exists(p => p.contains("deletes-snap") && p.endsWith(".parquet")),
      s"live delete file swept: $swept")
    assert(tbl.toDF.count() == 24, "MOR delete must survive the GC sweep")
  }

  test("zorder clusters timestamp and date dimensions in the stats' domain") {
    import spark.implicits._
    val cat = new IceCatalog(spark, scratch("zts"))
    val n = 2000
    val df = (0 until n).map { i =>
      (java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(i.toLong * 3600)),
        (i * 37 % n).toLong)
    }.toDF("ts", "v")
    val tbl = cat.createTable("ns", "t", df.schema)
    // INT96 (Spark's default parquet timestamp encoding) carries no usable
    // stats; micros-encoded INT64 timestamps get real manifest bounds
    val oldTs = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try {
      tbl.append(df.repartition(3))
      tbl.compact(targetFiles = 16, zorderBy = Seq("ts", "v"))
    } finally spark.conf.set("spark.sql.parquet.outputTimestampType", oldTs)
    val files = tbl.visibleFiles(tbl.meta.currentSnapshot.get)
    assert(files.length == 16)
    // both dimensions' average file span must sit well under the domain.
    // Stats store timestamps as epoch MICROS; normalizing via a seconds-
    // valued cast('double') would clamp every ts coordinate to 0 and leave
    // the ts dimension ~100% span.
    def avgSpan(c: String): Double = {
      val los = files.map(_.min(c).toLong)
      val his = files.map(_.max(c).toLong)
      val global = math.max(his.max - los.min, 1L).toDouble
      files.map(f => (f.max(c).toLong - f.min(c).toLong).toDouble)
        .sum / files.length / global
    }
    assert(avgSpan("ts") < 0.5, f"ts dimension unclustered: ${avgSpan("ts")}%.2f")
    assert(avgSpan("v") < 0.5, f"v dimension unclustered: ${avgSpan("v")}%.2f")
    // date columns normalize too (DateType cannot cast to double — the old
    // normalization threw AnalysisException despite zorderable() saying yes)
    val df2 = (0 until 200).map { i =>
      (java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(i.toLong)),
        (i * 7 % 200).toLong)
    }.toDF("d", "v")
    val t2 = cat.createTable("ns", "t2", df2.schema)
    t2.append(df2.repartition(2))
    t2.compact(targetFiles = 4, zorderBy = Seq("d", "v"))
    assert(t2.toDF.count() == 200)
    assert(avgSpanOf(t2, "d") < 0.6, "date dimension unclustered")
  }

  test("zorder clusters decimal dimensions through the double approximation") {
    import spark.implicits._
    val cat = new IceCatalog(spark, scratch("zdec"))
    val n = 2000
    val df = (0 until n).map(i => (f"$i%d.${i % 100}%02d", (i * 37 % n).toLong))
      .toDF("a", "v")
      .select(col("a").cast("decimal(12,2)").as("amt"), col("v"))
    val tbl = cat.createTable("ns", "t", df.schema)
    tbl.append(df.repartition(3))
    tbl.compact(targetFiles = 16, zorderBy = Seq("amt", "v"))
    val files = tbl.visibleFiles(tbl.meta.currentSnapshot.get)
    assert(files.length == 16)
    // decimal stats are scaled strings — span in BigDecimal space
    def avgSpanDec(c: String): Double = {
      val los = files.map(f => BigDecimal(f.min(c)))
      val his = files.map(f => BigDecimal(f.max(c)))
      val global = (his.max - los.min).toDouble.max(1e-9)
      files.map(f => (BigDecimal(f.max(c)) - BigDecimal(f.min(c))).toDouble)
        .sum / files.length / global
    }
    assert(avgSpanDec("amt") < 0.5,
      f"decimal dimension unclustered: ${avgSpanDec("amt")}%.2f")
    assert(avgSpanOf(tbl, "v") < 0.5, "sibling long dimension unclustered")
    assert(tbl.toDF.count() == n.toLong)
  }

  private def avgSpanOf(t: graft.icelite.IceTable, c: String): Double = {
    val files = t.visibleFiles(t.meta.currentSnapshot.get)
    val los = files.map(_.min(c).toLong)
    val his = files.map(_.max(c).toLong)
    val global = math.max(his.max - los.min, 1L).toDouble
    files.map(f => (f.max(c).toLong - f.min(c).toLong).toDouble)
      .sum / files.length / global
  }

  test("distributed footer stats == driver-pool footer stats") {
    import graft.icelite.FileStats
    val dir = scratch("diststats")
    graft.queries.QUtil.t(spark, sfDir, "orders").repartition(6)
      .write.parquet(dir)
    val paths = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.toString).sorted.toSeq
    assert(paths.length == 6)
    val conf = spark.sparkContext.hadoopConfiguration
    val driverSide = paths.map(FileStats.fromFooter(conf, _))
    val distributed = FileStats.collectDistributed(spark, conf, paths)
    assert(distributed == driverSide,
      "executor-side footer stats must be bit-identical to the driver pool's")
  }

  test("manifest cache evicts LRU, not clear-all, at capacity") {
    import graft.icelite.MetaIo
    val dir = new java.io.File(scratch("mcache"))
    dir.mkdirs()
    val fs = new org.apache.hadoop.fs.Path(dir.toString)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cap = MetaIo.ManifestCacheCap
    def mk(i: Int): String = {
      val f = new java.io.File(dir, s"manifest-lru-$i.json")
      java.nio.file.Files.writeString(f.toPath,
        s"""{"files":[{"path":"f$i.parquet","rows":$i,"bytes":1}]}""")
      f.toString
    }
    // flood with cap+5 fresh manifests: the 5 eldest (plus anything other
    // tests left behind) are evicted one at a time, never the whole cache
    val paths = (0 until cap + 5).map(mk)
    paths.foreach(p => MetaIo.readManifest(fs, p))
    val keys = MetaIo.manifestCacheKeys
    assert(keys.size == cap, s"cache holds ${keys.size}, expected cap $cap")
    assert(!keys.contains(paths(0)) && !keys.contains(paths(4)),
      "eldest entries must be evicted first")
    assert(keys.contains(paths(5)) && keys.contains(paths.last),
      "younger entries must survive eviction")
    // access-order: touching the current eldest survivor refreshes it, so
    // the NEXT insert evicts its neighbor instead
    MetaIo.readManifest(fs, paths(5))
    MetaIo.readManifest(fs, mk(cap + 5))
    val keys2 = MetaIo.manifestCacheKeys
    assert(keys2.contains(paths(5)), "recently-read entry must not be evicted")
    assert(!keys2.contains(paths(6)), "untouched eldest entry must be evicted")
  }

  test("binpack rewrites only small files; healthy files carried untouched") {
    import spark.implicits._
    val cat = new IceCatalog(spark, scratch("binpack"))
    val df = (1L to 2000L).map(i => (i, s"v$i")).toDF("id", "v")
    val tbl = cat.createTable("ns", "t", df.schema)
    tbl.append(df.filter(col("id") <= 1500).repartition(1))  // the big file
    tbl.append(df.filter(col("id") > 1500 && col("id") <= 1600).repartition(1))
    tbl.append(df.filter(col("id") > 1600 && col("id") <= 1700).repartition(1))
    tbl.append(df.filter(col("id") > 1700).repartition(1))
    val before = tbl.visibleFiles(tbl.meta.currentSnapshot.get)
    assert(before.length == 4)
    val big = before.maxBy(_.bytes)
    tbl.binpack(minFileBytes = big.bytes)
    val after = tbl.visibleFiles(tbl.meta.currentSnapshot.get)
    // the big file is CARRIED (same path), the three smalls became one
    assert(after.length == 2, s"expected big+merged, got ${after.map(_.path)}")
    assert(after.exists(_.path == big.path), "healthy file must not rewrite")
    assert(tbl.meta.currentSnapshot.get.operation == "compact")
    assert(tbl.toDF.count() == 2000)
    assert(tbl.toDF.orderBy("id").collect().toSeq ==
      df.orderBy("id").collect().toSeq)
    // a second pass has nothing to merge: no-op, no new snapshot
    val snaps = tbl.snapshots.length
    tbl.binpack(minFileBytes = big.bytes)
    assert(tbl.snapshots.length == snaps)
    // partitioned: the rewrite preserves the hive layout per partition
    val pdf = (1L to 400L).map(i => (i, if (i % 2 == 0) "a" else "b", s"v$i"))
      .toDF("id", "part", "v")
    val pt = cat.createTable("ns", "tp", pdf.schema, partitionBy = Seq("part"))
    pt.append(pdf.filter(col("id") <= 300))
    pt.append(pdf.filter(col("id") > 300 && col("id") <= 350))
    pt.append(pdf.filter(col("id") > 350))
    val pBig = pt.visibleFiles(pt.meta.currentSnapshot.get).map(_.bytes).max
    pt.binpack(minFileBytes = pBig)
    val pAfter = pt.visibleFiles(pt.meta.currentSnapshot.get)
    assert(pAfter.forall(f => f.path.contains("part=a") || f.path.contains("part=b")),
      s"binpacked files must keep the hive layout: ${pAfter.map(_.path)}")
    assert(pt.toDF.orderBy("id").collect().toSeq ==
      pdf.orderBy("id").collect().toSeq)
    // SCOPED binpack: only partition a's small files merge; b untouched
    val pt2 = cat.createTable("ns", "tps", pdf.schema, partitionBy = Seq("part"))
    pt2.append(pdf.filter(col("id") <= 200))
    pt2.append(pdf.filter(col("id") > 200 && col("id") <= 300))
    pt2.append(pdf.filter(col("id") > 300))
    val beforeScoped = pt2.visibleFiles(pt2.meta.currentSnapshot.get)
    val bBefore = beforeScoped.filter(_.path.contains("part=b")).map(_.path).toSet
    pt2.binpack(minFileBytes = 1L << 30, partitionFilter = Map("part" -> "a"))
    val afterScoped = pt2.visibleFiles(pt2.meta.currentSnapshot.get)
    assert(afterScoped.filter(_.path.contains("part=b")).map(_.path).toSet == bBefore,
      "out-of-scope partition files must be carried untouched")
    assert(afterScoped.count(_.path.contains("part=a")) == 1,
      s"scoped binpack must merge partition a: ${afterScoped.map(_.path)}")
    assert(pt2.toDF.orderBy("id").collect().toSeq ==
      pdf.orderBy("id").collect().toSeq)
    // a non-partition filter column refuses
    intercept[IllegalArgumentException](
      pt2.binpack(1L << 30, partitionFilter = Map("v" -> "x")))
    // outstanding MOR debt refuses (fold first)
    tbl.deleteKeysEq(Seq(5L).toDF("id"), Seq("id"))
    intercept[IllegalArgumentException](tbl.binpack(minFileBytes = 1L << 30))
  }

  test("pre-sums manifests parse: absent sums field means no sum stat") {
    // manifests written before FileStat.sums existed must keep parsing —
    // their files simply have no sum stat, and SUM pushdown refuses
    val dir = scratch("legacy-sums")
    val p = new org.apache.hadoop.fs.Path(dir, "m.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p)
    out.write(
      """{"files":[{"path":"f1.parquet","rows":3,"bytes":10,
        |"min":{"k":"1"},"max":{"k":"3"},"nulls":{"k":"0"}}]}"""
        .stripMargin.getBytes("UTF-8"))
    out.close()
    val stats = graft.icelite.MetaIo.readManifest(fs, p.toString)
    assert(stats.head.rows == 3 && stats.head.min("k") == "1")
    assert(stats.head.sums.isEmpty && stats.head.sumOf("k").isEmpty)
  }

  test("legacy UNSCALED decimal stats never prune (dot-less under scale>0)") {
    // manifests written before the scaled decimal encoder recorded
    // INT32/INT64-physical decimal min/max as raw unscaled longs: a
    // decimal(12,2) file holding 0.50..0.99 carries stats "50".."99".
    // Parsed in the scaled domain those bounds are inflated 100x and
    // WHERE amt = 0.75 would prune the file — silent wrong rows. The
    // guard: under scale>0 the scaled encoder's toPlainString always
    // emits a '.', so a dot-less stat is provably legacy and must read
    // as unparseable => conservative no-prune (the pre-encoder behavior).
    import org.apache.spark.sql.sources.{EqualTo, GreaterThan, LessThan}
    import graft.icelite.{FilePrune, FileStat}
    val schema = StructType(Seq(
      StructField("amt", DecimalType(12, 2)),
      StructField("qty", DecimalType(10, 0))))
    val legacy = FileStat("f", rows = 5, bytes = 0,
      min = Map("amt" -> "50", "qty" -> "50"),
      max = Map("amt" -> "99", "qty" -> "99"))
    // scale>0 + dot-less stat => the file must be KEPT for every bound
    assert(FilePrune.canMatch(
      EqualTo("amt", new java.math.BigDecimal("0.75")), schema, legacy),
      "legacy unscaled decimal stat must not prune a matching file")
    assert(FilePrune.canMatch(
      LessThan("amt", new java.math.BigDecimal("0.60")), schema, legacy))
    assert(FilePrune.canMatch(
      GreaterThan("amt", new java.math.BigDecimal("1000000.00")), schema, legacy))
    // scale=0: unscaled and scaled domains coincide — pruning stays exact
    assert(!FilePrune.canMatch(
      EqualTo("qty", new java.math.BigDecimal("7")), schema, legacy),
      "scale-0 decimal stats are domain-safe and must still prune")
    assert(FilePrune.canMatch(
      EqualTo("qty", new java.math.BigDecimal("75")), schema, legacy))
    // new-format (dot-full) stats under scale>0 keep pruning exactly
    val modern = legacy.copy(
      min = Map("amt" -> "0.50"), max = Map("amt" -> "0.99"))
    assert(!FilePrune.canMatch(
      EqualTo("amt", new java.math.BigDecimal("0.25")), schema, modern))
    assert(FilePrune.canMatch(
      EqualTo("amt", new java.math.BigDecimal("0.75")), schema, modern))
  }

  test("table-API writes ride the row-loop writer: in-line sums + NDV; nested schemas fall back") {
    val wh = scratch("rowpath")
    val cat = new IceCatalog(spark, wh)
    import spark.implicits._
    // flat, partitioned: the fast path. Exact per-file SUMS are the proof
    // it ran — only the row-loop writer can record them (footers carry no
    // sums), and the legacy read-back pass attaches sketches alone.
    val df = (1L to 400L).map(i => (i, if (i % 2 == 0) "a" else "b", i * 2.5))
      .toDF("id", "g", "v")
    val tbl = cat.createTable("lake", "t", df.schema, partitionBy = Seq("g"))
    tbl.append(df)
    val t1 = cat.loadTable("lake", "t")
    val files = t1.visibleFiles(t1.snapshots.last)
    assert(files.nonEmpty && files.map(_.rows).sum == 400L)
    assert(files.forall(_.sums.contains("id")),
      s"row-loop path records exact id sums in-line: ${files.map(_.sums)}")
    assert(files.forall(_.ndv.get(graft.icelite.FileStats.NdvVersionKey)
      .contains(graft.icelite.FileStats.NdvVersion)),
      "in-line sketches carry the current version marker")
    // manifest sums agree with the data exactly
    assert(files.flatMap(_.sumOf("id")).sum == BigInt(400L * 401L / 2))
    // the partition layout reads back, per-partition filters included
    val a = t1.toDF.filter(col("g") === "a")
      .agg(sum("id")).as[Long].head()
    assert(a == (2L to 400L by 2).sum, s"partition read-back sum: $a")
    // NDV answers from the in-line sketches (v3: the double column too)
    assert(t1.approxDistinct("id").exists(e => math.abs(e - 400.0) <= 20.0))
    assert(t1.approxDistinct("v").exists(e => math.abs(e - 400.0) <= 20.0))
    // an empty append still commits (the snap dir must exist on disk)
    t1.append(df.filter(col("id") < 0))
    val t2 = cat.loadTable("lake", "t")
    assert(t2.snapshots.last.addedRows == 0L && t2.toDF.count() == 400L)

    // nested schema: the row writer refuses arrays, so the funnel falls
    // back to the native parquet writer + read-back sketcher — eligible
    // columns still sketch, but no file can carry sums
    val nested = Seq((1L, Seq(1L, 2L)), (2L, Seq(3L))).toDF("k", "xs")
    val tn = cat.createTable("lake", "n", nested.schema)
    tn.append(nested)
    val tn1 = cat.loadTable("lake", "n")
    val nFiles = tn1.visibleFiles(tn1.snapshots.last)
    assert(nFiles.map(_.rows).sum == 2L)
    assert(nFiles.forall(_.sums.isEmpty), "fallback path has no sum stats")
    assert(tn1.approxDistinct("k").exists(e => math.abs(e - 2.0) < 0.5),
      "read-back sketcher still covers eligible columns on the fallback path")
  }

  test("hostile string partition values round-trip structurally") {
    // A partition value containing '/', '=', '%xx', or spaces breaks any
    // reader that parses values OUT OF PATH STRINGS with a regex (the
    // r17 livePartValues); the manifest's structural accessor
    // (FileStat.partRaw -> PartValues' escaping-aware parse) must return
    // the exact original strings, and a pruned read must still hit.
    import spark.implicits._
    val cat = new IceCatalog(spark, scratch("hostile"))
    val hostile = Seq(
      (1L, "a/b=c"), (2L, "x%2Fy"), (3L, "plain"), (4L, "sp ace"))
      .toDF("id", "k")
    val tbl = cat.createTable("lake", "hostile_t", hostile.schema,
      partitionBy = Seq("k"))
    tbl.append(hostile)
    val t2 = cat.loadTable("lake", "hostile_t")
    val vals = t2.meta.currentSnapshot.toSeq
      .flatMap(sn => t2.visibleFiles(sn))
      .flatMap(_.partRaw(Seq("k")).get("k").flatten).toSet
    assert(vals == Set("a/b=c", "x%2Fy", "plain", "sp ace"),
      s"structural partition values corrupted: $vals")
    // partition-pruned reads by the hostile values return exactly their rows
    assert(t2.toDF.where(col("k") === "a/b=c").collect()
      .map(_.getLong(0)).toSeq == Seq(1L))
    assert(t2.toDF.where(col("k") === "x%2Fy").collect()
      .map(_.getLong(0)).toSeq == Seq(2L))
  }
}
