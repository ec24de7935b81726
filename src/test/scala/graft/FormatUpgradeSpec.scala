package graft

import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.EqualTo

import graft.icelite.{FileStat, IceCatalog, MetaIo, SnapshotMeta, TableMeta, UnsupportedFormat}

/** IceLite metadata format 2 ([[TableMeta.FormatVersion]]): every committed
  * snapshot has a manifest and its counts, reads refuse format 1, and
  * [[MetaIo.upgrade]] is the one step that rewrites a format-1 table.
  * The format-1 fixture is written by hand and holds every format-1 shape:
  * a bare-array manifest with one unknown-row entry, a snapshot with only
  * `dataDirs`, `-1` counts, `parentId = -1` and an empty `schemaDdl`.
  */
class FormatUpgradeSpec extends SparkSpec {
  import spark.implicits._

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  private def json(v: Any): String = mapper.writeValueAsString(v)

  private def writeText(p: Path, body: String): Unit = {
    val out = p.getFileSystem(spark.sparkContext.hadoopConfiguration).create(p, true)
    try out.write(body.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  /** The format-1 table `ns.t` (30 rows over g = a, b, c) and the rows
    * `.all_files` must serve once it is upgraded. Its data files come from
    * two ordinary appends; its metadata is then replaced by a hand-written
    * format-1 version file and a bare-array manifest.
    */
  private def formatOneTable(tag: String): (IceCatalog, Seq[(Long, String, Long, Long)]) = {
    val cat = new IceCatalog(spark, scratch(tag))
    val df = (1L to 30L).map(i => (i, Seq("a", "b", "c")(i.toInt % 3), s"v$i"))
      .toDF("k", "g", "v")
    val t = cat.createTable("ns", "t", df.schema, partitionBy = Seq("g"))
    t.append(df.filter(col("k") <= 15))
    t.append(df.filter(col("k") > 15))
    val Seq(s1, s2) = t.snapshots
    val files1 = t.visibleFiles(s1)
    val added2 = t.addedFilesOf(s2).toSet
    val files2 = t.visibleFiles(s2).filter(f => added2(f.path))
    val (dirs1, dirs2) = (t.dataDirsOf(s1), t.dataDirsOf(s2))
    val ddl = t.meta.schemaDdl

    val metaDir = MetaIo.metadataDir(cat.tablePath("ns", "t"))
    val fs = metaDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(metaDir, true)
    val bare = fs.makeQualified(new Path(metaDir, "manifest-00001-legacy.json")).toString
    writeText(new Path(bare), json(files1.map(f =>
      if (f.path.contains("g=c")) FileStat(f.path, rows = -1L, bytes = f.bytes) else f)))
    writeText(new Path(metaDir, "v1.json"),
      s"""{"formatVersion": 1, "namespace": "ns", "name": "t",
         | "schemaDdl": "$ddl", "partitionBy": ["g"],
         | "currentSnapshotId": 2, "version": 1, "snapshots": [
         |  {"snapshotId": 1, "timestampMs": 1000, "operation": "append",
         |   "dataDirs": ${json(dirs1)}, "addedFiles": ${json(files1.map(_.path))},
         |   "addedRows": 15, "totalRows": 15, "manifestFile": "$bare",
         |   "addedFileCount": -1, "addedByteCount": -1, "totalFileCount": -1,
         |   "deleteFileCount": -1, "parentId": -1, "schemaDdl": ""},
         |  {"snapshotId": 2, "timestampMs": 2000, "operation": "append",
         |   "dataDirs": ${json(dirs2)}, "addedFiles": ${json(added2.toSeq.sorted)},
         |   "addedRows": 15, "totalRows": 30, "manifestFile": "",
         |   "addedFileCount": -1, "addedByteCount": -1, "totalFileCount": -1,
         |   "deleteFileCount": -1, "parentId": -1, "schemaDdl": ""}]}""".stripMargin)
    writeText(MetaIo.hintFile(cat.tablePath("ns", "t")), "1")
    (cat, files1.map(f => (1L, f.path, f.rows, f.bytes)) ++
      files2.map(f => (2L, f.path, f.rows, f.bytes)))
  }

  test("format 1 is refused until upgrade; a second upgrade commits nothing") {
    val (cat, allFiles) = formatOneTable("fmt1-upgrade")
    val refused = intercept[UnsupportedFormat](cat.loadTable("ns", "t").meta)
    assert(refused.getMessage.contains("system.upgrade('ns.t')"), refused.getMessage)

    spark.conf.set("spark.sql.catalog.ice_up", "graft.sources.v2.IceLiteCatalog")
    spark.conf.set("spark.sql.catalog.ice_up.warehouse", cat.warehouse)
    val r = spark.sql("CALL ice_up.system.upgrade('ns.t')").collect()
    assert(r.map(x => (x.getString(0), x.getBoolean(1))).toSeq == Seq(("ns.t", true)))

    val t = cat.loadTable("ns", "t")
    assert(t.meta.formatVersion == TableMeta.FormatVersion && t.meta.version == 2)
    val (n1, n2) = (allFiles.count(_._1 == 1L).toLong, allFiles.count(_._1 == 2L).toLong)
    assert(t.toDF.as[(Long, String, String)].collect().sortBy(_._1).toSeq ==
      (1L to 30L).map(i => (i, Seq("a", "b", "c")(i.toInt % 3), s"v$i")))
    def sql(q: String): Seq[Seq[Any]] =
      spark.sql(q).collect().map(_.toSeq).toSeq
    assert(sql("SELECT snapshot_id, operation, added_files, added_rows, total_rows, " +
      "is_current FROM ice_up.ns.t.snapshots ORDER BY snapshot_id") == Seq(
      Seq(1L, "append", n1, 15L, 15L, false), Seq(2L, "append", n2, 15L, 30L, true)))
    assert(sql("SELECT snapshot_id, parent_id, is_current_ancestor " +
      "FROM ice_up.ns.t.history ORDER BY snapshot_id") ==
      Seq(Seq(1L, 0L, true), Seq(2L, 1L, true)))
    assert(sql("SELECT snapshot_id, path, rows, bytes FROM ice_up.ns.t.all_files")
      .map { case Seq(s: Long, p: String, n: Long, b: Long) => (s, p, n, b) }
      .sorted == allFiles.sorted)
    val s2 = t.meta.currentSnapshot.get
    assert((s2.totalFileCount, s2.addedFileCount, s2.deleteFileCount) == (n1 + n2, n2, 0L))
    assert(s2.schemaDdl == t.meta.schemaDdl)

    assert(!cat.upgrade("ns", "t"), "a format-2 table needs no upgrade")
    assert(cat.loadTable("ns", "t").meta.version == 2, "a no-op upgrade must not commit")
  }

  test("deleteWhere on an upgraded table never death-proofs foreign partitions") {
    val (cat, _) = formatOneTable("fmt1-delete")
    assert(cat.upgrade("ns", "t"))
    val t = cat.loadTable("ns", "t")
    // the partition-exact DELETE must drop ONLY g=a — the round-10
    // regression classified canMatch-unscreened files as whole-file dead,
    // silently dropping foreign partitions
    t.deleteWhere(Seq(EqualTo("g", "a")))
    val left = t.toDF
    assert(left.filter(col("g") === "a").count() == 0)
    assert(left.filter(col("g") === "b").count() == 10,
      "foreign partition g=b must survive a DELETE WHERE g='a'")
    assert(left.filter(col("g") === "c").count() == 10,
      "the healed partition g=c must survive too")
    val snap = t.meta.currentSnapshot.get
    assert(snap.totalRows == 20, s"row accounting must stay exact: $snap")
  }

  test("a zero-file snapshot has a manifest; stray files are never read") {
    val cat = new IceCatalog(spark, scratch("fmt2-zero"))
    val df = (1L to 5L).toDF("id")
    val t = cat.createTable("ns", "t", df.schema)
    t.append(df)
    t.replace(df.filter(col("id") < 0))
    val s2 = t.meta.currentSnapshot.get
    assert(s2.manifestFile.nonEmpty && s2.totalFileCount == 0L && s2.addedByteCount == 0L)
    // a failed task's leftover: a real parquet file in snapshot 2's data dir
    val fs = cat.tablePath("ns", "t").getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stray = new Path(t.dataDirsOf(s2).head, "part-99999-stray.parquet")
    FileUtil.copy(fs, new Path(t.visibleFiles(t.snapshots.head).head.path),
      fs, stray, false, spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(stray))
    assert(cat.loadTable("ns", "t").toDF.count() == 0)
    spark.conf.set("spark.sql.catalog.ice_zero", "graft.sources.v2.IceLiteCatalog")
    spark.conf.set("spark.sql.catalog.ice_zero.warehouse", cat.warehouse)
    val files = spark.sql("SELECT * FROM ice_zero.ns.t.files")
    assert(files.count() == 0)
    val scan = files.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b }.get
    assert(scan.scan.description().endsWith("(manifest-parallel)"), scan.scan.description())
  }

  test("commit writes format 2 only") {
    val cat = new IceCatalog(spark, scratch("fmt2-commit"))
    val t = cat.createTable("ns", "t", Seq(1L).toDF("id").schema)
    t.append(Seq(1L).toDF("id"))
    val (dir, m) = (cat.tablePath("ns", "t"), t.meta)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    intercept[IllegalArgumentException](MetaIo.commit(fs, dir,
      m.copy(formatVersion = 1, version = m.version + 1)))
    val orphan = SnapshotMeta(2L, 0L, "append", Nil, Nil, 0L, 1L, schemaDdl = m.schemaDdl)
    intercept[IllegalArgumentException](MetaIo.commit(fs, dir,
      m.copy(snapshots = m.snapshots :+ orphan, version = m.version + 1)))
    assert(cat.loadTable("ns", "t").meta.version == m.version)
  }
}
