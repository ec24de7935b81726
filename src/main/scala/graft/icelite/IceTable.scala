package graft.icelite

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit, max, min, when}
import org.apache.spark.sql.sources.{And => SAnd, Filter => SFilter, GreaterThanOrEqual => SGte, In => SIn, IsNull => SIsNull, LessThanOrEqual => SLte, Or => SOr}
import org.apache.spark.sql.types.StructType

/** A versioned Parquet table: snapshot-pinned scans with projection/limit
  * pushdown, and append / replace / primary-key-upsert writes.
  *
  * Spark-native re-expression of the reference's PyIceberg table surface:
  * scan with `snapshot_id` + `selected_fields` + `limit`
  * (`components/ex-iceberg/src/component.py:36-40`), `append`
  * (`wr/src/component.py:110`), `upsert` (`wr:107-108`), replace
  * (`wr:115-124`). Scans are plain Catalyst parquet relations, so filter /
  * projection / limit pushdown, vectorized reads, and AQE all apply — the
  * scan-level pushdowns the reference wires by hand arrive via the optimizer.
  *
  * Scale notes: every snapshot carries a complete [[FileStat]] manifest, so
  * scans plan from committed file lists (never directory listings — orphaned
  * output from failed or speculative tasks is invisible by construction) and
  * upserts are file-granular copy-on-write: only files whose key-range stats
  * intersect the source are rewritten; a 1-row upsert against 100 TB touches
  * one file, not the table. Optional `partitionBy` (honoring the config key
  * the reference parses but never uses, `wr/src/configuration.py:31`) lays
  * data out hive-style for partition pruning.
  */
object IceTable {
  /** Default orphan-file grace period: files younger than this are presumed
    * to belong to an in-flight (not yet committed) write and are never
    * swept (Iceberg's `remove_orphan_files` default).
    */
  val DefaultOrphanGraceMs: Long = 3L * 24 * 3600 * 1000
}

class IceTable(
    spark: SparkSession,
    catalog: IceCatalog,
    val namespace: String,
    val name: String) {

  private val tableDir: Path = catalog.tablePath(namespace, name)
  private def fs = catalog.fs

  def meta: TableMeta = MetaIo.read(fs, tableDir)
  def schema: StructType = StructType.fromDDL(meta.schemaDdl)
  def snapshots: Seq[SnapshotMeta] = meta.snapshots

  /** Path strings in metadata can be scheme-less or filesystem-qualified
    * (`file:/…`) depending on which writer produced them; qualify both
    * sides before any prefix comparison.
    */
  private def qualify(p: String): String =
    fs.makeQualified(new Path(p)).toString

  /** A committed snapshot's complete data-file manifest (its external
    * manifest document — see [[FileStats.visible]]). The public accessor:
    * `SnapshotMeta.files` is empty on committed metadata now that
    * manifests live outside the version log.
    */
  def visibleFiles(snap: SnapshotMeta): Seq[FileStat] =
    FileStats.visible(fs, snap)

  /** A snapshot's visible data directories / added-file paths (resolved
    * from the external manifest document on committed metadata — these
    * lists grow with history and no longer live in the version log).
    */
  def dataDirsOf(snap: SnapshotMeta): Seq[String] = FileStats.dataDirsOf(fs, snap)
  def addedFilesOf(snap: SnapshotMeta): Seq[String] = FileStats.addedPathsOf(fs, snap)

  /** Outstanding position-delete files of a snapshot (merge-on-read). */
  def deletesOf(snap: SnapshotMeta): Seq[DeleteStat] = FileStats.deletesOf(fs, snap)

  // -- read path --------------------------------------------------------------

  /** Snapshot-pinned scan with optional projection and limit (S1/R1-R3).
    *
    * Planned through the DSv2 source — the same single-relation plan the
    * SQL-catalog path gets — so the DataFrame API inherits manifest-stat
    * file skipping, parquet row-group skipping, DPP, and columnar reads,
    * and the logical plan stays O(1) in snapshot-dir and rename-era count
    * (the old per-(dir × era) union grew with table history). Snapshot
    * pinning rides the `snapshotId` option; era renames resolve per file
    * inside the scan.
    */
  def scan(columns: Seq[String] = Nil, limit: Option[Long] = None,
      snapshotId: Option[Long] = None, ref: Option[String] = None): DataFrame = {
    val m = meta
    // validate eagerly: the DSv2 option path would fail at analysis anyway,
    // but with a less pointed error
    snapshotId.foreach(id => require(m.snapshot(id).isDefined,
      s"no snapshot $id in $namespace.$name"))
    ref.foreach(r => require(m.refs.contains(r),
      s"no tag '$r' on $namespace.$name"))
    require(snapshotId.isEmpty || ref.isEmpty,
      "pass either snapshotId or ref, not both")
    val rd0 = spark.read.format("icelite")
      .option("warehouse", catalog.warehouse)
      .option("table", s"$namespace.$name")
    val rd = ref.fold(rd0)(r => rd0.option("ref", r))
    val base = snapshotId.fold(rd)(id => rd.option("snapshotId", id.toString)).load()
    val projected = if (columns.nonEmpty) base.select(columns.map(col): _*) else base
    // a limit beyond Int.MaxValue cannot wrap negative — it is simply no cap
    limit.filter(_ <= Int.MaxValue).map(n => projected.limit(n.toInt))
      .getOrElse(projected)
  }

  def toDF: DataFrame = scan()

  /** Incremental append scan (the Iceberg `incremental read` analog, and
    * the batch form of CDC tailing): rows added by snapshots AFTER
    * `fromSnapshotId` (exclusive) up to `toSnapshotId` (inclusive, default
    * current). Planning is pure metadata — the union of the qualifying
    * snapshots' `addedFiles` manifests; cost tracks the CHANGE volume, not
    * table size, which is the whole point at 100 TB. Fails loudly when the
    * range contains a non-append snapshot (replace/upsert/compact rewrite
    * history; their added files are not pure inserts), matching Iceberg's
    * incremental-append-scan contract.
    */
  def changesSince(fromSnapshotId: Long, toSnapshotId: Option[Long] = None): DataFrame = {
    val m = meta
    val to = toSnapshotId.getOrElse(m.currentSnapshotId)
    FileStats.requireHistory(m, fromSnapshotId, "incremental scan")
    require(m.snapshot(to).isDefined, s"no snapshot $to in $namespace.$name")
    // same DSv2 single-relation plan as scan(): `fromSnapshotId` selects
    // only the files ADDED by snapshots in (from, to], `snapshotId` pins
    // the range head (and the schema era the range is read with)
    spark.read.format("icelite")
      .option("warehouse", catalog.warehouse)
      .option("table", s"$namespace.$name")
      .option("fromSnapshotId", fromSnapshotId.toString)
      .option("snapshotId", to.toString)
      .load()
  }

  /** CDC changelog over `(from, to]`: every committed row change as a
    * DataFrame of the table's columns plus `_change_type`
    * ('insert' | 'delete'; an update is its delete+insert pair) and
    * `_commit_snapshot_id`. The create_changelog_view analog, and the read
    * shape incremental consumers (materialized views, downstream syncs)
    * replay instead of diffing table states.
    *
    * Defined over append and MERGE-ON-READ history — the shapes whose
    * changes are recorded explicitly: inserts are a snapshot's added
    * files; deletes resolve each new delete file to the ROW VALUES it
    * killed (positions join back to their files; equality keys semi-join
    * the rows live at the parent snapshot). A snapshot that rewrites files
    * (copy-on-write ops, compaction, replace) fails loudly: its row-level
    * delta is not recorded, only derivable by a full diff. Cost tracks the
    * CHANGES in the range — added files plus delete-affected files — never
    * table size.
    */
  def changelog(fromSnapshotId: Long, toSnapshotId: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, lit => fLit}
    val m = meta
    val tableSchema = StructType.fromDDL(m.schemaDdl)
    val to = toSnapshotId.getOrElse(m.currentSnapshotId)
    FileStats.requireHistory(m, fromSnapshotId, s"changelog of $namespace.$name")
    require(fromSnapshotId == 0L || m.snapshot(fromSnapshotId).isDefined,
      s"no snapshot $fromSnapshotId in $namespace.$name")
    val range = m.snapshots
      .filter(s => s.snapshotId > fromSnapshotId && s.snapshotId <= to)
      .sortBy(_.snapshotId)
    def stamp(df: DataFrame, tpe: String, snapId: Long): DataFrame =
      df.select(tableSchema.fieldNames.map(col).toIndexedSeq: _*)
        .withColumn("_change_type", fLit(tpe))
        .withColumn("_commit_snapshot_id", fLit(snapId))
    val parts: Seq[DataFrame] = range.flatMap { s =>
      val parent = m.snapshots.filter(_.snapshotId < s.snapshotId)
        .maxByOption(_.snapshotId)
      // the parent's full manifest is materialized LAZILY: a bounded
      // changelog over an append/streaming-CDC tail must plan from the
      // WINDOW's manifests only, and most window snapshots never need the
      // parent's file list (only equality-delete resolution does —
      // FileStats.isNonRewriting / newDeletesOf use the inline O(1) counts)
      lazy val pFiles = parent.map(visibleFiles).getOrElse(Nil)
      require(FileStats.isNonRewriting(parent, s),
        s"changelog of $namespace.$name hit rewriting snapshot " +
          s"#${s.snapshotId} (${s.operation}) — changelogs are defined over " +
          "append/merge-on-read history only")
      val curDirs = FileStats.dataDirsOf(fs, s)
      val addedPaths = addedFilesOf(s).toSet
      val added = visibleFiles(s).filter(f => addedPaths(f.path))
      // inserts: the snapshot's own added rows, as written (its own eq
      // delete exempts them; MOR positions only ever target older files)
      val inserts =
        if (added.isEmpty) None
        else Some(stamp(readFiles(m, tableSchema, added, curDirs),
          "insert", s.snapshotId))
      lazy val pDeletes = parent.map(p => FileStats.deletesOf(fs, p)).getOrElse(Nil)
      val newDeletes = FileStats.newDeletesOf(fs, parent, s)
      val deleteRows: Seq[DataFrame] = newDeletes.flatMap { d =>
        if (!d.isEquality) {
          // positions -> row values: the delete itself names its affected
          // files (manifest-qualified at commit), so resolution needs no
          // parent manifest; positions were live when committed (stacked
          // deletes are excluded at write) — a raw positional semi-join
          // is exact
          val affected = d.dataFiles
          if (affected.isEmpty) None
          else {
            val positions = spark.read.parquet(d.path)
              .select(col("file_path").as("__dfp"), col("pos").as("__dpos"))
            val rows = spark.read.schema(tableSchema)
              .parquet(affected: _*)
              .withColumn("__mfp", col("_metadata.file_path"))
              .withColumn("__mpos", col("_metadata.row_index"))
              .join(broadcast(positions),
                col("__mfp") === col("__dfp") && col("__mpos") === col("__dpos"),
                "left_semi")
            Some(stamp(rows, "delete", s.snapshotId))
          }
        } else {
          // equality keys -> row values: the rows live at the PARENT
          // snapshot (its deletes applied) in era+bounds-eligible files
          // whose key tuples match
          val eligible = pFiles.filter(f => FileStats.eqAppliesTo(d, f, tableSchema))
          if (eligible.isEmpty) None
          else {
            val keys = spark.read.parquet(d.path)
              .select(d.eqCols.map(c => col(c).as(s"__ek_$c")): _*).distinct()
            val live = readFiles(m, tableSchema, eligible,
              parent.map(p => FileStats.dataDirsOf(fs, p)).getOrElse(Nil), pDeletes)
            val cond = d.eqCols.map(c => col(c) <=> col(s"__ek_$c")).reduce(_ && _)
            Some(stamp(live.join(broadcast(keys), cond, "left_semi"),
              "delete", s.snapshotId))
          }
        }
      }
      inserts.toSeq ++ deleteRows
    }
    parts.reduceOption(_ unionByName _).getOrElse {
      val schema = tableSchema
        .add("_change_type", org.apache.spark.sql.types.StringType)
        .add("_commit_snapshot_id", org.apache.spark.sql.types.LongType)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    }
  }

  // -- write path -------------------------------------------------------------

  /** Align an incoming DataFrame to the table schema: same column set
    * (any order), each column cast to the declared type. Schema drift fails
    * loudly, matching the reference's PyIceberg behavior (SURVEY §7).
    */
  private def conform(df: DataFrame, tableSchema: StructType): DataFrame = {
    val have = df.columns.toSet
    val want = tableSchema.fieldNames.toSet
    require(have == want,
      s"schema mismatch for $namespace.$name: incoming ${have.toSeq.sorted} vs table ${want.toSeq.sorted}")
    df.select(tableSchema.fields.map(f => col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
  }

  /** Write df into a fresh snapshot directory; returns (dir, file manifest).
    * The footer scan that builds the manifest is one read per written file,
    * at commit time — the same economics as an Iceberg manifest write.
    */
  private def writeData(df: DataFrame, snapId: Long, partitionBy: Seq[String],
      sortWithin: Seq[String] = Nil, uniqueDir: Boolean = false)
      : (String, Seq[FileStat]) = {
    // `uniqueDir` (appends): a random suffix keeps concurrent writers out of
    // each other's directories, so losing a metadata commit race is
    // retryable without touching data. The snap id in the name is the
    // WRITE-TIME candidate — a retried commit may land under a higher id —
    // and only labels the file's schema ERA (Renames.eraOf): always <= the
    // committed id, therefore always before any later rename/DDL, which is
    // exactly the ordering era resolution needs.
    val suffix = if (uniqueDir)
      "-" + java.util.UUID.randomUUID().toString.take(8) else ""
    val dataDir = new Path(tableDir, f"data/snap-$snapId%05d$suffix")
    // Cluster rows by partition before a partitioned write (same shape the
    // DSv2 writer enforces): without it every task holds one open writer
    // PER partition value it sees — O(tasks x partitions) small files and
    // as many concurrent column writers, the classic partitioned-write
    // failure mode at scale. Repartition + sort keeps one open file per
    // task and file count at O(partitions). `sortWithin` (sorted compaction)
    // extends the in-task order beyond the partition columns so rows stay
    // clustered on the sort key inside each hive partition.
    //
    // Source columns stay IN the data file (Iceberg stores them in data
    // too; dropping them is a Spark-writer artifact): files must be
    // self-contained so a later partition-spec change can still read an
    // old spec's column from data. The directory layout rides `__p_`-
    // aliased columns holding each spec FIELD's value — the source itself
    // for identity entries, the computed transform (bucket/days/truncate)
    // for hidden-partitioning entries; readers resolve either spelling
    // (PartValues.DirAliasPrefix) and the alias never reaches any schema.
    val fields = PartField.parseSpec(partitionBy)
    val dirCols = fields.map(f => PartValues.DirAliasPrefix + f.fieldName)
    val withDirs = fields.foldLeft(df)((d, f) =>
      d.withColumn(PartValues.DirAliasPrefix + f.fieldName,
        Transforms.columnExpr(f, df.schema(f.source).dataType)))
    // the table's DECLARED sort order is enforced on every write through
    // this funnel — that total enforcement is what lets the scan REPORT
    // the order (SupportsReportOrdering) and downstream joins skip sorts.
    // A replace() whose new schema drops a sort column writes unsorted and
    // clears the declaration in the same commit (see replace).
    val declared = {
      val so = meta.sortOrder
      if (so.nonEmpty && so.forall(df.columns.contains)) so else Nil
    }
    val inFileOrder = (sortWithin ++ declared).distinct
    val clustered =
      if (fields.isEmpty)
        if (inFileOrder.isEmpty) df
        else df.sortWithinPartitions(inFileOrder.map(col): _*)
      else withDirs.repartition(dirCols.map(col): _*)
        .sortWithinPartitions((dirCols ++ inFileOrder).map(col): _*)
    if (graft.sources.v2.IceLiteRowWrite.supports(df.schema, partitionBy)) {
      // Fast path: the DSv2 row-loop writer, driven from an RDD job. Exact
      // per-file sums and version-"3" NDV sketches accumulate IN-LINE, so
      // the table-API funnel — every maintenance rewrite (compact,
      // rewriteDeletes, copy-on-write upsert/delete) plus plain appends —
      // keeps NDV coverage withOUT re-reading its own output (the old
      // Ndv.sketchFiles read-back pass: O(write) extra I/O, retired here).
      // Partition dirs render as `field=value` (the DSv2 spelling);
      // readers resolve it and the legacy `__p_field=value` alike
      // (PartValues.parse). Rows must be exactly table-shaped: drop the
      // `__p_` clustering aliases — a narrow projection, so the
      // repartition+sortWithinPartitions clustering above survives.
      val tableShaped =
        if (fields.isEmpty) clustered
        else clustered.select(df.columns.map(col).toIndexedSeq: _*)
      fs.mkdirs(dataDir) // zero-row writes must still leave the snap dir
      val props = meta.properties
      val stats = graft.sources.v2.IceLiteRowWrite.write(tableShaped,
        fs.makeQualified(dataDir).toString, partitionBy, Ndv.gateConf(spark),
        graft.sources.v2.IceLiteDataWriter.bloomColsConf(props),
        graft.sources.v2.IceLiteDataWriter.bloomCapacityConf(props))
      (dataDir.toString, stats.sortBy(_.path))
    } else {
      // Legacy path (nested-type schemas only): Spark's native parquet
      // writer, footer-scan manifest, then the one-pass column-pruned NDV
      // read-back — version-"3"-compatible with the in-line sketches.
      // `graft.ndv.columns` scopes or disables the pass exactly as it
      // scopes the row-loop writer.
      val writer = clustered.write.mode("errorifexists")
      (if (fields.nonEmpty) writer.partitionBy(dirCols: _*) else writer)
        .parquet(dataDir.toString)
      val it = fs.listFiles(dataDir, true)
      val paths = Iterator.continually(it).takeWhile(_.hasNext)
        .map(_.next().getPath).filter(_.getName.endsWith(".parquet"))
        .map(_.toString).toSeq.sorted
      val stats = FileStats.collect(spark.sparkContext.hadoopConfiguration, paths)
      val withNdv = Ndv.sketchFiles(spark, df.schema, stats, Ndv.gateConf(spark))
      (dataDir.toString, withNdv.sortBy(_.path))
    }
  }

  /** Commit one snapshot against `base` — the metadata the caller PLANNED
    * the operation on. Using the planning-time version for the CAS (not a
    * fresh read) is what makes races detectable: if anything committed in
    * between, this attempt's version is taken and the claim fails, instead
    * of silently winning with a stale carried-file set.
    */
  private def commitSnapshot(base: TableMeta, operation: String,
      dataDirs: Seq[String], added: Seq[FileStat], carried: Seq[FileStat],
      newSchemaDdl: Option[String] = None,
      carriedDeletes: Seq[DeleteStat] = Nil,
      summary: Map[String, String] = Map.empty): IceTable = {
    val m = base
    val snapId = m.snapshots.map(_.snapshotId).maxOption.getOrElse(0L) + 1
    val addedRows = added.map(_.rows).sum
    val carriedRows = carried.map(_.rows).sum
    // carried deletes subtract from the carried files' physical row sum
    val carriedDeleteRows = carriedDeletes.map(_.rows).sum
    val snap = SnapshotMeta(
      snapshotId = snapId, timestampMs = System.currentTimeMillis(),
      operation = operation, dataDirs = dataDirs,
      addedFiles = added.map(_.path), addedRows = addedRows,
      totalRows = carriedRows + addedRows - carriedDeleteRows,
      schemaDdl = newSchemaDdl.getOrElse(m.schemaDdl),
      files = (carried ++ added).sortBy(_.path),
      deletes = carriedDeletes,
      parentId = m.currentSnapshotId,
      summary = summary)
    MetaIo.commit(fs, tableDir, m.copy(
      schemaDdl = newSchemaDdl.getOrElse(m.schemaDdl),
      currentSnapshotId = snapId,
      snapshots = m.snapshots :+ snap,
      version = m.version + 1))
    this
  }

  /** Bag-union append — one snapshot per call (K4, `wr:110`).
    *
    * Concurrent-writer safe via optimistic retry (Iceberg's commit model):
    * the data write lands in a writer-unique directory, so when the
    * metadata commit loses a version race the files are simply re-attached
    * to a recomputed snapshot — data is written once, only the O(metadata)
    * commit step repeats. Retry is sound precisely because append is a bag
    * union: the new files are valid against ANY newer current snapshot,
    * provided the table's schema/evolution state did not change underneath
    * (checked per attempt; a concurrent DDL aborts loudly instead).
    */
  def append(df: DataFrame): IceTable = {
    val m0 = meta
    val conformed = conform(df, StructType.fromDDL(m0.schemaDdl))
    val snapId = m0.snapshots.map(_.snapshotId).maxOption.getOrElse(0L) + 1
    val (dir, added) =
      writeData(conformed, snapId, m0.partitionBy, uniqueDir = true)
    MetaIo.retryCommit(fs, tableDir) { m =>
      require(m.sameEvolution(m0),
        s"append to $namespace.$name raced a concurrent schema change — aborting")
      val prev = m.currentSnapshot
      commitSnapshot(m, "append",
        prev.map(p => FileStats.dataDirsOf(fs, p)).getOrElse(Nil) :+ dir, added,
        carried = prev.map(visibleFiles).getOrElse(Nil),
        carriedDeletes = prev.map(p => FileStats.deletesOf(fs, p)).getOrElse(Nil))
    }
  }

  /** Commit PRE-WRITTEN files as a full-rewrite snapshot — the publish step
    * of the staged RTAS path (data written by the DSv2 staged writer, the
    * metadata commit deferred to `StagedTable.commitStagedChanges` for
    * atomicity). Unlike [[replace]] (which keeps the table's declarations
    * because ITS writer enforced them), an RTAS is a NEW table definition:
    * the declared sort order and properties are replaced wholesale with the
    * statement's own — the staged writer sorted by exactly `newSortOrder`,
    * and keeping the old declaration would make scans report an ordering
    * the new files do not satisfy (downstream sorts would elide, silently
    * wrong results). The caller validates `m` and retries on a
    * [[CommitConflict]].
    */
  private[graft] def replaceFiles(m: TableMeta, dataDirs: Seq[String],
      added: Seq[FileStat], newSchemaDdl: String, newSortOrder: Seq[String],
      newProperties: Map[String, String]): IceTable =
    commitSnapshot(
      m.copy(sortOrder = newSortOrder, properties = newProperties),
      "replace", dataDirs, added, carried = Nil,
      newSchemaDdl = Some(newSchemaDdl))

  /** Full rewrite with the incoming schema (K6 CTAS semantics, `wr:115-124`). */
  def replace(df: DataFrame): IceTable = {
    val m = meta
    val snapId = m.snapshots.map(_.snapshotId).maxOption.getOrElse(0L) + 1
    val (dir, added) = writeData(df, snapId, m.partitionBy)
    // a replace whose schema drops a sort column cannot maintain the
    // declared order: writeData already wrote unsorted, so clear the
    // declaration in the same commit (older sorted snapshots pin their own
    // files and stay correctly reported via time travel)
    val base =
      if (m.sortOrder.nonEmpty && !m.sortOrder.forall(df.columns.contains))
        m.copy(sortOrder = Nil)
      else m
    commitSnapshot(base, "replace", Seq(dir), added, carried = Nil,
      newSchemaDdl = Some(df.schema.toDDL))
  }

  /** Compaction: rewrite the current snapshot's file set into
    * `targetFiles` larger files (bin-packing many small append outputs —
    * the maintenance half of an Iceberg-style table's lifecycle). Pure
    * rewrite: same rows, new snapshot with operation "compact"; older
    * snapshots keep pointing at the original immutable directories, so time
    * travel is unaffected.
    *
    * With `sortBy`, the rewrite additionally CLUSTERS the data (the
    * `rewrite_data_files(strategy => 'sort')` maintenance op of an
    * Iceberg-style lifecycle): rows are range-partitioned on the sort
    * columns, so each output file covers a disjoint key range and the
    * manifest min/max stats become maximally selective — a point or range
    * predicate on the sort key then prunes to O(1) files at plan time
    * instead of scanning every file that a round-robin layout would leave
    * overlapping. On a 100 TB table this is the difference between a
    * key-range query planning 1 file and planning all of them.
    *
    * With `zorderBy` (2+ columns), the rewrite clusters on a bit-interleaved
    * z-order key instead (`rewrite_data_files(strategy => 'zorder')`): each
    * column is rescaled by its GLOBAL min/max — read from the committed
    * manifest stats, zero extra data passes — and the interleaved key keeps
    * rows close in EVERY dimension, so predicates on ANY z-ordered column
    * prune files, not just the leading sort key. The key itself is a native
    * codegen'd expression ([[graft.functions.ZOrderKey]]).
    *
    * The read stage runs at full parallelism (one task per input split) and
    * the shuffle (round-robin, or range on the cluster key) funnels into
    * exactly `targetFiles` write tasks — unlike a `coalesce`, which would
    * propagate down and collapse the read stage itself to `targetFiles`
    * tasks. The extra exchange is one pass over data that is being fully
    * rewritten anyway; at cluster scale this runs per table-partition so the
    * shuffle stays partition-local.
    */
  def compact(targetFiles: Int = 1, sortBy: Seq[String] = Nil,
      zorderBy: Seq[String] = Nil, declareSort: Boolean = false): IceTable = {
    require(!declareSort || sortBy.nonEmpty,
      "declareSort requires a sortBy order")
    require(targetFiles >= 1, "targetFiles must be >= 1")
    require(sortBy.isEmpty || zorderBy.isEmpty,
      "pass either sortBy or zorderBy, not both")
    val m = meta
    // a table with a DECLARED sort order compacts into that order by
    // default (its maintenance should preserve the contract); a z-order
    // layout would break it, so it is refused rather than silently
    // un-sorting every file
    require(zorderBy.isEmpty || m.sortOrder.isEmpty,
      s"$namespace.$name declares sort order ${m.sortOrder.mkString(",")}; " +
        "z-order compaction would break it")
    val effSort = if (sortBy.nonEmpty || zorderBy.nonEmpty) sortBy else m.sortOrder
    val tableSchema = StructType.fromDDL(m.schemaDdl)
    (sortBy ++ zorderBy).foreach(c => require(tableSchema.fieldNames.contains(c),
      s"cluster column $c not in $namespace.$name schema"))
    val current = m.currentSnapshot.getOrElse(
      throw new IllegalStateException(s"nothing to compact in $namespace.$name"))
    val snapId = m.snapshots.map(_.snapshotId).maxOption.getOrElse(0L) + 1
    val df =
      if (zorderBy.nonEmpty) {
        require(zorderBy.size >= 2, "zorderBy needs 2+ columns (1 column = sortBy)")
        val key = zorderKey(m, tableSchema, current, zorderBy)
        toDF.withColumn("__zkey", key)
          .repartitionByRange(targetFiles, col("__zkey"))
          .sortWithinPartitions(col("__zkey"))
          .drop("__zkey")
      }
      else if (effSort.isEmpty) toDF.repartition(targetFiles)
      // range partition + in-file sort: disjoint per-file key ranges AND
      // sorted row groups, so both file-level (manifest) and row-group
      // (footer) skipping get tight bounds
      else toDF.repartitionByRange(targetFiles, effSort.map(col): _*)
        .sortWithinPartitions(effSort.map(col): _*)
    val (dir, added) = writeData(df, snapId, m.partitionBy, effSort)
    // with outstanding EQUALITY deletes the pre-compact total is an upper
    // bound (matched-row counts are unknown until this very read applies
    // them), so exact drift is only checkable without eq debt — after this
    // commit totals are exact again either way
    val hasEqDebt = FileStats.deletesOf(fs, current).exists(_.isEquality)
    if (hasEqDebt)
      require(added.map(_.rows).sum <= current.totalRows,
        s"compaction row-count drift: ${added.map(_.rows).sum} > ${current.totalRows}")
    else
      require(added.map(_.rows).sum == current.totalRows,
        s"compaction row-count drift: ${added.map(_.rows).sum} != ${current.totalRows}")
    // declareSort (setSortOrder): the declaration and the rewrite that
    // makes it true land in ONE commit — no window where scans could
    // report an order the visible files violate
    commitSnapshot(if (declareSort) m.copy(sortOrder = sortBy) else m,
      "compact", Seq(dir), added, carried = Nil)
  }

  /** Declare a NEW table write sort order. Iceberg's `ALTER TABLE ... WRITE
    * ORDERED BY` declares lazily — existing files may violate the order,
    * harmless there because Iceberg never reports ordering. This engine
    * REPORTS the declared order through the scan (SupportsReportOrdering)
    * so downstream sorts elide; a declaration the visible files do not
    * satisfy would be silently wrong results. Hence the contract: declaring
    * a non-empty order over a non-empty table REWRITES the data into that
    * order in the same atomic commit (compact's machinery — O(table), the
    * honest price of the report; Iceberg pays it lazily on every
    * subsequent unsorted read instead). Clearing, and declaring over an
    * empty table, are pure metadata commits (under-reporting is always
    * safe; an empty table has no files to violate the order).
    */
  def setSortOrder(cols: Seq[String], targetFiles: Int = 1): IceTable = {
    val m = meta
    val tableSchema = StructType.fromDDL(m.schemaDdl)
    cols.foreach(c => require(tableSchema.fieldNames.contains(c),
      s"sort column $c is not in $namespace.$name"))
    if (cols == m.sortOrder) return this
    if (cols.isEmpty || m.currentSnapshot.forall(_.totalRows == 0L)) {
      MetaIo.commit(fs, tableDir,
        m.copy(sortOrder = cols, version = m.version + 1))
      this
    } else compact(targetFiles, sortBy = cols, declareSort = true)
  }

  /** Selective small-file compaction: rewrite ONLY the data files under
    * `minFileBytes`, carrying every healthy file untouched — maintenance
    * cost tracks the small-file DEBT, never table size (the full-rewrite
    * [[compact]] is O(table), which no 100 TB table can afford for
    * routine upkeep). Fewer than two small files is a no-op (rewriting
    * one file buys nothing). Rewritten rows land under the CURRENT
    * partition spec with the declared sort order enforced by the shared
    * write funnel. Refuses under outstanding row-level deletes: applying
    * debt to half the files while carrying it for the rest would need
    * per-slice delete accounting — fold the debt first (compact /
    * rewriteDeletes), then binpack.
    */
  def binpack(minFileBytes: Long, targetFiles: Int = 1,
      partitionFilter: Map[String, String] = Map.empty): IceTable = {
    require(minFileBytes > 0, "minFileBytes must be positive")
    require(targetFiles >= 1, "targetFiles must be >= 1")
    val m = meta
    val current = m.currentSnapshot.getOrElse(
      throw new IllegalStateException(s"nothing to binpack in $namespace.$name"))
    require(FileStats.deletesOf(fs, current).isEmpty,
      s"$namespace.$name has outstanding row-level deletes; fold them " +
        "(compact() / rewriteDeletes()) before binpack")
    // scoped maintenance ("binpack yesterday's partition"): only files
    // whose directory values match every filter entry are candidates —
    // everything else is out of scope and carried untouched. Filter keys
    // must be identity partition columns of the file's own era to match.
    partitionFilter.keys.foreach { c =>
      val idCols = (PartField.identityCols(m.partitionBy) ++
        m.partitionSpecs.flatMap(sp => PartField.identityCols(sp.cols))).toSet
      require(idCols.contains(c),
        s"binpack partition filter column $c is not an identity partition " +
          s"column of $namespace.$name")
    }
    def inScope(f: FileStat): Boolean = partitionFilter.isEmpty || {
      val raw = f.partRaw(partitionFilter.keys.toSeq)
      partitionFilter.forall { case (c, v) => raw.get(c).contains(Some(v)) }
    }
    val all = visibleFiles(current)
    val (small, kept) = all.partition(f => f.bytes < minFileBytes && inScope(f))
    if (small.length < 2) return this
    val tableSchema = StructType.fromDDL(m.schemaDdl)
    val snapId = m.snapshots.map(_.snapshotId).maxOption.getOrElse(0L) + 1
    val df0 = readFiles(m, tableSchema, small, FileStats.dataDirsOf(fs, current))
    // partitioned tables: the write funnel re-clusters by partition dirs
    // (one file per affected partition); unpartitioned: explicit targetFiles
    val df = if (m.partitionBy.isEmpty) df0.repartition(targetFiles) else df0
    val (dir, added) = writeData(df, snapId, m.partitionBy)
    require(added.map(_.rows).sum == small.map(_.rows).sum,
      s"binpack row-count drift: ${added.map(_.rows).sum} != ${small.map(_.rows).sum}")
    commitSnapshot(m, "compact",
      FileStats.dataDirsOf(fs, current) :+ dir, added, carried = kept)
  }

  /** The z-order cluster key for `cols`: each column normalized to
    * `[0, 2^bits)` by its global min/max, then bit-interleaved. Bounds come
    * from the committed manifest when every file carries them (the normal
    * case — zero data passes) and fall back to one tiny min/max aggregate
    * otherwise. Normalization runs in doubles: 2^53 significand dwarfs the
    * per-dimension bit budget, so the mapping is order-preserving at any
    * supported domain.
    */
  private def zorderKey(m: TableMeta, tableSchema: StructType,
      current: SnapshotMeta, cols: Seq[String])
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{call_function, datediff, greatest, least, lit, to_date, unix_micros}
    cols.foreach { c =>
      val dt = tableSchema(c).dataType
      require(FilePrune.zorderable(dt),
        s"zorder column $c has unsupported type $dt (numeric/date/timestamp only)")
    }
    val files = visibleFiles(current)
    graft.functions.GraftFunctions.register(spark) // idempotent
    val bits = 63 / cols.size
    val maxV = (1L << bits) - 1
    // coordinate in the SAME domain the manifest stats are encoded in
    // (FileStats: timestamps as epoch micros, dates as epoch days) — a
    // cast('double') on a timestamp would yield SECONDS and clamp every
    // value against micro-encoded bounds (and DateType cannot cast to
    // double at all)
    def coord(c: String): org.apache.spark.sql.Column =
      tableSchema(c).dataType match {
        case org.apache.spark.sql.types.TimestampType |
             org.apache.spark.sql.types.TimestampNTZType =>
          unix_micros(col(c).cast("timestamp")).cast("double")
        case org.apache.spark.sql.types.DateType =>
          datediff(col(c), to_date(lit("1970-01-01"))).cast("double")
        case _ => col(c).cast("double")
      }
    def statBounds(c: String): Option[(Double, Double)] = {
      val dt = tableSchema(c).dataType
      val los = files.map(f => f.min.get(c).flatMap(FilePrune.statDouble(dt, _)))
      val his = files.map(f => f.max.get(c).flatMap(FilePrune.statDouble(dt, _)))
      if (files.nonEmpty && los.forall(_.isDefined) && his.forall(_.isDefined))
        Some((los.flatten.min, his.flatten.max))
      else None
    }
    lazy val aggBounds: Map[String, (Double, Double)] = {
      // fallback bounds computed in the same stat domain as coord()
      val aggs = cols.flatMap(c => Seq(
        min(coord(c)).as(s"__lo_$c"), max(coord(c)).as(s"__hi_$c")))
      val r = toDF.agg(aggs.head, aggs.tail: _*).collect()(0)
      cols.map(c => c -> (
        Option(r.getAs[java.lang.Double](s"__lo_$c")).map(_.doubleValue).getOrElse(0.0),
        Option(r.getAs[java.lang.Double](s"__hi_$c")).map(_.doubleValue).getOrElse(0.0)
      )).toMap
    }
    val norm = cols.map { c =>
      val (lo, hi) = statBounds(c).getOrElse(aggBounds(c))
      val span = math.max(hi - lo, 1e-12)
      least(lit(maxV), greatest(lit(0L),
        ((coord(c) - lit(lo)) / lit(span) * lit(maxV.toDouble))
          .cast("long")))
    }
    call_function("zorder_key", norm: _*)
  }

  /** Fold outstanding position deletes by rewriting ONLY the data files
    * they touch (the `rewrite_position_delete_files` maintenance analog):
    * affected files are re-read with their deletes applied and rewritten;
    * every clean file carries forward untouched. On a 100 TB table with
    * 0.1% delete debt this rewrites ~0.1% of the data where a full
    * [[compact]] would rewrite everything — and it restores columnar
    * decode for the whole table (scans drop to row-based reads while any
    * delete is outstanding). No-op when no deletes exist.
    */
  def rewriteDeletes(): IceTable = {
    val m = meta
    val current = m.currentSnapshot.getOrElse(return this)
    val dels = FileStats.deletesOf(fs, current)
    if (dels.isEmpty) return this
    val tableSchema = StructType.fromDDL(m.schemaDdl)
    val files = visibleFiles(current)
    // position deletes name their files; equality deletes affect every
    // era-eligible file whose key bounds overlap (the same planning test
    // the scan uses, so exactly the files paying the row-based read tax
    // get rewritten)
    val affected = dels.flatMap(_.dataFiles).toSet
    val (cands, untouched) = files.partition(f =>
      affected(qualify(f.path)) ||
        dels.exists(d => FileStats.eqAppliesTo(d, f, tableSchema)))
    val currentDirs = FileStats.dataDirsOf(fs, current)
    val src = readFiles(m, tableSchema, cands, currentDirs, dels)
    val snapId = m.snapshots.map(_.snapshotId).maxOption.getOrElse(0L) + 1
    val (dir, added) = writeData(src, snapId, m.partitionBy)
    val untouchedDirs = currentDirs
      .filter(d => untouched.exists(f => qualify(f.path).startsWith(qualify(d) + "/")))
    commitSnapshot(m, "compact", untouchedDirs :+ dir, added,
      carried = untouched) // deletes folded: none carried
  }

  /** Change the table's partition layout for FUTURE writes (Iceberg's
    * partition evolution): a pure metadata commit — no data moves. Files
    * already written keep their era's layout and stay fully readable: the
    * spec ledger resolves each file era's directory columns, and because
    * every writer stores partition columns IN the data files too, a column
    * that stops being a partition column is simply read from data for new
    * files (and from its directory constant for old ones). Scans prune old
    * files by their own spec's directories or their footer stats, new files
    * by the new spec — the table needs no rewrite at any size.
    */
  def setPartitionSpec(cols: Seq[String]): IceTable = {
    val m = meta
    val tableSchema = StructType.fromDDL(m.schemaDdl)
    cols.foreach { entry =>
      // identity column, or a hidden-partitioning transform —
      // bucket(N, col) / days(col) / truncate(W, col)
      val f = Transforms.validate(tableSchema, entry)
      require(!Renames.touchedNames(m.renames).contains(f.source),
        s"column ${f.source} was renamed; partition sources must not be rename-entangled")
    }
    if (cols == m.partitionBy) return this
    // pre-evolution files (written before columns were stored in data) can
    // only serve OLD partition columns from their directories — that stays
    // true under the ledger, so no validation is needed for them; the
    // cutoff is the newest existing snapshot: eras beyond it use `cols`
    val cutoff = m.snapshots.map(_.snapshotId).maxOption.getOrElse(0L)
    MetaIo.commit(fs, tableDir, m.copy(
      partitionBy = cols,
      partitionSpecs =
        if (cutoff == 0L) m.partitionSpecs // nothing written: no old era
        else m.partitionSpecs :+ PartSpecChange(cutoff, m.partitionBy),
      version = m.version + 1))
    this
  }

  /** Create (or move) a named tag pinning a snapshot — the Iceberg tag ref.
    * A pure metadata commit; a tagged snapshot survives [[expireSnapshots]],
    * which is what makes "the exact corpus we trained v1 on" reproducible
    * months of churn later. Resolvable via [[refSnapshotId]], the `ref` read
    * option, and SQL `VERSION AS OF '<name>'`.
    */
  def tag(tagName: String, snapshotId: Long): IceTable = {
    require(tagName.nonEmpty && !tagName.forall(_.isDigit),
      s"tag name '$tagName' must contain a non-digit (numeric versions are snapshot ids)")
    val m = meta
    require(m.snapshot(snapshotId).isDefined,
      s"no snapshot $snapshotId in $namespace.$name")
    MetaIo.commit(fs, tableDir, m.copy(
      refs = m.refs + (tagName -> snapshotId),
      refTypes = m.refTypes + (tagName -> "tag"),
      version = m.version + 1))
    this
  }

  /** Append onto a named ref WITHOUT moving the main table pointer — the
    * branch-write half of write-audit-publish (WAP): stage data on a
    * branch, audit it with `scan(ref = ...)`, publish with [[fastForward]].
    * The branch snapshot enters the ordinary log (so it is time-travelable
    * and its data dirs are expiry-protected via the ref pin) but
    * `currentSnapshotId` — what every plain read serves — is untouched
    * until publish. Parentage follows the REF head, not the table head, so
    * a branch accumulates its own chain of appends.
    */
  def appendToRef(refName: String, df: DataFrame): IceTable = {
    val m0 = meta
    val parentId0 = m0.refSnapshot(refName).getOrElse(
      throw new IllegalArgumentException(
        s"no ref '$refName' on $namespace.$name — tag a snapshot first"))
    val parent0 = m0.snapshot(parentId0).getOrElse(
      throw new IllegalStateException(s"ref '$refName' points at expired snapshot $parentId0"))
    def schemaAtRefOf(parent: SnapshotMeta): StructType =
      StructType.fromDDL(parent.schemaDdl)
    val schemaAtRef = schemaAtRefOf(parent0)
    val conformed = conform(df, schemaAtRef)
    val snapId0 = m0.snapshots.map(_.snapshotId).maxOption.getOrElse(0L) + 1
    val (dir, added) =
      writeData(conformed, snapId0, m0.partitionBy, uniqueDir = true)
    // Optimistic commit retry, same protocol as append: WAP staging is
    // exactly the multi-writer scenario, so a lost version race re-resolves
    // the ref head (the branch may have grown under us) and re-attaches the
    // already-written files instead of orphaning them. A concurrent schema /
    // spec change — or a ref whose era schema no longer matches what the
    // data was conformed to — aborts loudly.
    MetaIo.retryCommit(fs, tableDir) { m =>
      require(m.partitionBy == m0.partitionBy && m.renames == m0.renames &&
        m.widenedColumns == m0.widenedColumns &&
        m.partitionSpecs == m0.partitionSpecs,
        s"appendToRef('$refName') on $namespace.$name raced a concurrent " +
          "schema change — aborting")
      val parentId = m.refSnapshot(refName).getOrElse(
        throw new IllegalStateException(
          s"ref '$refName' on $namespace.$name vanished mid-append"))
      val parent = m.snapshot(parentId).getOrElse(
        throw new IllegalStateException(
          s"ref '$refName' points at expired snapshot $parentId"))
      require(schemaAtRefOf(parent).toDDL == schemaAtRef.toDDL,
        s"appendToRef('$refName'): branch schema changed under the staged write — aborting")
      val snapId = m.snapshots.map(_.snapshotId).maxOption.getOrElse(0L) + 1
      val carried = visibleFiles(parent)
      val addedRows = added.map(_.rows).sum
      val snap = SnapshotMeta(
        snapshotId = snapId, timestampMs = System.currentTimeMillis(),
        operation = "append",
        dataDirs = FileStats.dataDirsOf(fs, parent) :+ dir,
        addedFiles = added.map(_.path), addedRows = addedRows,
        totalRows = parent.totalRows + addedRows,
        schemaDdl = schemaAtRef.toDDL,
        files = (carried ++ added).sortBy(_.path),
        deletes = FileStats.deletesOf(fs, parent),
        parentId = parent.snapshotId)
      MetaIo.commit(fs, tableDir, m.copy(
        snapshots = m.snapshots :+ snap,
        refs = m.refs + (refName -> snapId),
        // a ref a write has advanced IS a branch, whatever created it
        refTypes = m.refTypes + (refName -> "branch"),
        version = m.version + 1))
      this
    }
  }

  /** Publish a branch: point the main table at the ref's head (the
    * write-audit-publish "publish" step). O(1) metadata, same mechanics as
    * [[rollbackTo]] — audited data becomes visible atomically.
    */
  def fastForward(refName: String): IceTable = {
    val m = meta
    val head = m.refSnapshot(refName).getOrElse(
      throw new IllegalArgumentException(s"no ref '$refName' on $namespace.$name"))
    rollbackTo(head)
  }

  /** Stage a WAP append WITHOUT moving the main pointer, stamped with
    * Iceberg's `wap.id` snapshot-summary marker — the id-based sibling of
    * [[appendToRef]]'s branch staging (Iceberg's
    * `spark.wap.id`-session-conf write): the snapshot enters the ordinary
    * log parented at the CURRENT head, is time-travelable BY ID for the
    * audit step, and `currentSnapshotId` is untouched until
    * [[publishChanges]] cherry-picks it. Unlike a branch ref, a
    * staged-but-unpublished snapshot is NOT expiry-protected — publish or
    * abandon before expiry runs, exactly Iceberg's contract. Same
    * optimistic commit retry as [[append]] (staging is the multi-writer
    * scenario); a duplicate wap.id refuses up front — publish-by-id must
    * never be ambiguous.
    */
  def stageWap(wapId: String, df: DataFrame): IceTable = {
    require(wapId.nonEmpty, "wap.id must be non-empty")
    val m0 = meta
    require(!m0.snapshots.exists(_.summary.get("wap.id").contains(wapId)),
      s"wap.id '$wapId' already staged on $namespace.$name")
    val conformed = conform(df, StructType.fromDDL(m0.schemaDdl))
    val snapId0 = m0.snapshots.map(_.snapshotId).maxOption.getOrElse(0L) + 1
    val (dir, added) =
      writeData(conformed, snapId0, m0.partitionBy, uniqueDir = true)
    MetaIo.retryCommit(fs, tableDir) { m =>
      require(m.sameEvolution(m0),
        s"stageWap('$wapId') on $namespace.$name raced a concurrent " +
          "schema change — aborting")
      // the duplicate check MUST re-run against the fresh read: two
      // concurrent stagers with the same id both pass the up-front check
      // against m0, and the commit CAS only serializes them — the loser
      // must find the winner's id here and refuse, or the id lands twice
      // and every later publish throws the ambiguity require forever
      // (with no API to delete a staged snapshot)
      require(!m.snapshots.exists(_.summary.get("wap.id").contains(wapId)),
        s"wap.id '$wapId' already staged on $namespace.$name " +
          "(a concurrent stager won the race)")
      val snapId = m.snapshots.map(_.snapshotId).maxOption.getOrElse(0L) + 1
      val parent = m.currentSnapshot
      val addedRows = added.map(_.rows).sum
      val snap = SnapshotMeta(
        snapshotId = snapId, timestampMs = System.currentTimeMillis(),
        operation = "append",
        dataDirs =
          parent.map(p => FileStats.dataDirsOf(fs, p)).getOrElse(Nil) :+ dir,
        addedFiles = added.map(_.path), addedRows = addedRows,
        totalRows = parent.map(_.totalRows).getOrElse(0L) + addedRows,
        schemaDdl = m.schemaDdl,
        files = (parent.map(visibleFiles).getOrElse(Nil) ++ added)
          .sortBy(_.path),
        deletes = parent.map(p => FileStats.deletesOf(fs, p)).getOrElse(Nil),
        parentId = m.currentSnapshotId,
        summary = Map("wap.id" -> wapId))
      MetaIo.commit(fs, tableDir, m.copy(
        snapshots = m.snapshots :+ snap,
        version = m.version + 1))
      this
    }
  }

  /** Publish a staged WAP snapshot by its wap.id (Iceberg's
    * `publish_changes`): cherry-pick the snapshot whose summary carries
    * the id onto the CURRENT head. Metadata-only, and sound against a
    * head that moved since staging because the staged snapshot is a pure
    * append (the [[cherryPick]] bag-union argument).
    *
    * A double publish refuses STRUCTURALLY: the publishing commit is
    * stamped `published.wap.id` and a second publish of the same id finds
    * the marker — which holds for an EMPTY staged snapshot (no files for
    * cherryPick's already-visible check to catch — publishing nothing
    * twice would otherwise "succeed" and append a no-op head per retry)
    * and survives compaction rewriting the published paths away (the
    * file-visibility check alone would stop seeing them). cherryPick's
    * own checks still guard everything else; an unknown id refuses by
    * name.
    */
  def publishChanges(wapId: String): IceTable = {
    val m = meta
    val staged = m.snapshots
      .filter(_.summary.get("wap.id").contains(wapId))
    require(staged.nonEmpty,
      s"no staged snapshot with wap.id '$wapId' on $namespace.$name")
    require(staged.length == 1,
      s"wap.id '$wapId' on $namespace.$name is ambiguous " +
        s"(snapshots ${staged.map(_.snapshotId).mkString(", ")})")
    val published = m.snapshots
      .filter(_.summary.get("published.wap.id").contains(wapId))
    require(published.isEmpty,
      s"wap.id '$wapId' on $namespace.$name was already published " +
        s"(snapshot ${published.map(_.snapshotId).mkString(", ")}) — " +
        "a staged change publishes exactly once")
    cherryPick(staged.head.snapshotId,
      summary = Map("published.wap.id" -> wapId))
  }

  /** Create a named BRANCH ref at a snapshot (Iceberg's `create_branch`):
    * the same ref machinery as [[tag]] but kind "branch" — the WAP entry
    * point ([[appendToRef]] advances it, [[fastForward]] publishes it).
    * Unlike [[tag]] (create-or-move), creating over an existing ref
    * refuses: a silently-moved branch head would orphan staged commits.
    */
  def branch(branchName: String, snapshotId: Long): IceTable = {
    require(branchName.nonEmpty && !branchName.forall(_.isDigit),
      s"branch name '$branchName' must contain a non-digit " +
        "(numeric versions are snapshot ids)")
    val m = meta
    require(m.snapshot(snapshotId).isDefined,
      s"no snapshot $snapshotId in $namespace.$name")
    require(!m.refs.contains(branchName),
      s"ref '$branchName' already exists on $namespace.$name")
    MetaIo.commit(fs, tableDir, m.copy(
      refs = m.refs + (branchName -> snapshotId),
      refTypes = m.refTypes + (branchName -> "branch"),
      version = m.version + 1))
    this
  }

  /** Drop a ref. When `expectKind` is given AND the ref has a recorded
    * kind, they must agree — `drop_branch` must not remove a tag and vice
    * versa (Iceberg's contract); refs from metadata predating the kind
    * ledger match either spelling (refusing would strand them).
    */
  def dropRef(refName: String, expectKind: Option[String] = None): IceTable = {
    val m = meta
    require(m.refs.contains(refName), s"no ref '$refName' on $namespace.$name")
    for (want <- expectKind; actual <- m.refTypes.get(refName))
      require(actual == want,
        s"ref '$refName' on $namespace.$name is a $actual, not a $want")
    MetaIo.commit(fs, tableDir, m.copy(
      refs = m.refs - refName, refTypes = m.refTypes - refName,
      version = m.version + 1))
    this
  }

  def dropTag(tagName: String): IceTable = dropRef(tagName, Some("tag"))

  def dropBranch(branchName: String): IceTable =
    dropRef(branchName, Some("branch"))

  /** The snapshot a tag pins, if the tag exists. */
  def refSnapshotId(tagName: String): Option[Long] = meta.refSnapshot(tagName)

  /** Roll the table back to an earlier snapshot (the `rollback_to_snapshot`
    * maintenance op): a pure metadata commit that moves the current-snapshot
    * pointer — no data is read, written, or deleted, so it is O(1) at any
    * table size. The abandoned "future" snapshots stay in the log and remain
    * time-travelable until expiry (Iceberg's semantics); subsequent writes
    * branch from the restored state under fresh snapshot ids. The table-level
    * schema is restored to the target snapshot's pinned schema so reads and
    * writes immediately see the rolled-back shape.
    */
  def rollbackTo(snapshotId: Long): IceTable = {
    val m = meta
    val target = m.snapshot(snapshotId).getOrElse(
      throw new IllegalArgumentException(
        s"no snapshot $snapshotId in $namespace.$name"))
    if (m.currentSnapshotId == snapshotId) return this
    MetaIo.commit(fs, tableDir, m.copy(
      schemaDdl = target.schemaDdl,
      currentSnapshotId = snapshotId,
      version = m.version + 1))
    this
  }

  /** Roll back to the latest ANCESTOR snapshot committed at or before
    * `tsMs` (Iceberg's `rollback_to_timestamp`): the candidate set is the
    * current head's parent-pointer lineage, NEVER the whole snapshot log —
    * after a prior rollback, abandoned "future" snapshots stay in the log
    * but time-based rollback must not resurrect a branch the table already
    * abandoned (those remain reachable BY ID via [[rollbackTo]]).
    */
  def rollbackToTimestamp(tsMs: Long): IceTable = {
    val target = meta.currentAncestors.filter(_.timestampMs <= tsMs)
      .maxByOption(s => (s.timestampMs, s.snapshotId)).getOrElse(
        throw new IllegalArgumentException(
          s"no ancestor snapshot of $namespace.$name committed at or " +
            s"before $tsMs"))
    rollbackTo(target.snapshotId)
  }

  /** Table-level approximate distinct count of `col`, answered from the
    * MANIFEST alone — per-file HLL sketches ([[FileStat.ndv]]) union
    * losslessly, so this reads zero data files at any table size
    * (Iceberg's puffin theta-sketch role; ~1.6% relative standard error at
    * lgK=12). Sketches are recorded by BOTH write families: the DSv2
    * row-loop writer in-line, and the table-API write funnel via a
    * read-back pass — so routine maintenance (compact / rewriteDeletes /
    * upsert) preserves coverage instead of erasing it. Per-file resolution
    * is era-aware (renames / column additions); anything unprovable
    * refuses (None) — refusing beats undercounting. See [[Ndv.estimate]]
    * for the exact semantics.
    */
  def approxDistinct(col: String): Option[Double] = {
    // ONE metadata read for the whole call: the eligibility gate and the
    // file walk must see the same table version (a concurrent DDL between
    // two reads would evaluate the gate against the wrong schema)
    val m = meta
    val schema = StructType.fromDDL(m.schemaDdl)
    val files = m.currentSnapshot.map(visibleFiles).getOrElse(Nil)
    Ndv.estimate(m, schema, files, col)
  }

  /** Iceberg's `compute_table_stats` procedure: compute TABLE-LEVEL NDV
    * sketches for `cols` (default: every sketchable column) with ONE
    * column-pruned scan of the current snapshot's LIVE rows, and commit
    * them as a pure-metadata [[TableStatsEntry]] — no new snapshot, no data
    * movement, O(1) metadata growth. This is the serviceability backstop
    * for tables the per-file union refuses on: files imported via
    * `add_files`/`snapshot` (no sketches, partition values only in
    * directory names), writes under a narrowed `graft.ndv.columns` gate,
    * or files written before per-file sketches. The scan is PINNED to the
    * snapshot the entry is stamped with, so a concurrent commit can never
    * mislabel the sketches (the metadata CAS then fails the stamp loudly;
    * re-run).
    * Served by [[Ndv.tableStatsEstimate]] strictly while that snapshot is
    * current — one later commit and consumers refuse again (Iceberg's
    * snapshot-scoped Puffin staleness), which is why routine recompute
    * belongs after ingest, exactly like ANALYZE TABLE.
    *
    * Live-row semantics: MOR delete debt IS applied (the scan resolves
    * deletes), unlike the written-rows upper bound of the file union —
    * both documented on [[TableStatsEntry]].
    *
    * Returns (the snapshot id the entry was STAMPED with, the sketched
    * column names) — the stamped id, not a re-read of the current head: a
    * concurrent commit landing after the stamp must not let a caller
    * believe the stats describe the newer snapshot.
    */
  def computeTableStats(cols: Seq[String] = Nil): (Long, Seq[String]) = {
    val m = meta
    val schema = StructType.fromDDL(m.schemaDdl)
    val eligible = schema.fields.toSeq.filter(FileStats.ndvEligible)
    val wanted =
      if (cols.isEmpty) eligible
      else cols.map { c =>
        val f = schema.fields.find(_.name == c).getOrElse(
          throw new IllegalArgumentException(
            s"compute_table_stats: no column $c in $namespace.$name"))
        require(FileStats.ndvEligible(f),
          s"compute_table_stats: $c (${f.dataType.simpleString}) is not " +
            "NDV-sketchable — see FileStats.ndvSketchable for the type gate")
        f
      }
    require(wanted.nonEmpty,
      s"compute_table_stats: $namespace.$name has no sketchable columns")
    graft.functions.GraftFunctions.register(spark) // idempotent
    val live =
      if (m.currentSnapshotId == 0L) None // empty table: no snapshot to pin
      else Some(scan(columns = wanted.map(_.name),
        snapshotId = Some(m.currentSnapshotId)))
    val sketches: Map[String, String] = live match {
      case None =>
        // zero rows by construction: empty sketches, estimate 0
        val empty = java.util.Base64.getEncoder.encodeToString(
          new org.apache.datasketches.hll.HllSketch(Ndv.LgK)
            .toCompactByteArray)
        wanted.map(_.name -> empty).toMap
      case Some(df) =>
        import org.apache.spark.sql.functions.call_function
        val aggs = wanted.map(f =>
          call_function("ndv_sketch", col(f.name)).as(f.name))
        val r = df.agg(aggs.head, aggs.tail: _*).collect()(0)
        wanted.indices.map(j =>
          wanted(j).name -> java.util.Base64.getEncoder
            .encodeToString(r.getAs[Array[Byte]](j))).toMap
    }
    val entry = TableStatsEntry(m.currentSnapshotId,
      sketches + (FileStats.NdvVersionKey -> FileStats.NdvVersion))
    // commit prunes as it writes: entries for snapshots that no longer
    // exist (expired, or replaced under the routine recompute-after-ingest
    // cycle) can never be served again — dropping them here keeps the
    // ledger bounded by the LIVE snapshot count, not the analyze count
    val liveIds = m.snapshots.map(_.snapshotId).toSet + m.currentSnapshotId
    MetaIo.commit(fs, tableDir, m.copy(
      tableStats = m.tableStats
        .filter(e => liveIds(e.snapshotId))
        .filterNot(_.snapshotId == m.currentSnapshotId) :+ entry,
      version = m.version + 1))
    (m.currentSnapshotId, wanted.map(_.name))
  }

  /** Cherry-pick: RE-APPLY one snapshot's added files onto the CURRENT
    * head as a new commit (Iceberg's `cherrypick_snapshot` procedure) —
    * the recovery move after a [[rollbackTo]] orphaned a good change, or
    * the selective-publish step over a side lineage. Metadata-only at any
    * table size: the picked files are re-attached by path, nothing is read
    * or rewritten.
    *
    * Only APPEND snapshots are pickable (their file set is a bag union,
    * valid against any newer head — the same property that makes append's
    * commit retry sound). Overwrites/deletes/compactions encode REMOVALS
    * relative to their own parent, which do not transplant; Iceberg
    * refuses those too (non-append cherry-picks there require the picked
    * snapshot's parent to still be current). A file already visible on the
    * head refuses as a double-pick instead of double-counting its rows.
    */
  def cherryPick(snapshotId: Long,
      summary: Map[String, String] = Map.empty): IceTable = {
    val m0 = meta
    val target = m0.snapshot(snapshotId).getOrElse(
      throw new IllegalArgumentException(
        s"no snapshot $snapshotId in $namespace.$name"))
    require(FileStats.PureInsertOps(target.operation),
      s"cherry-pick of snapshot $snapshotId ($namespace.$name): only " +
        s"pure-insert snapshots (append, add_files) transplant onto a new " +
        s"head; '${target.operation}' encodes removals relative to its own " +
        "parent")
    require(target.schemaDdl == m0.schemaDdl,
      s"cherry-pick of snapshot $snapshotId ($namespace.$name): its schema " +
        "differs from the current table schema")
    val addedPaths = FileStats.addedPathsOf(fs, target)
      .map(FileStats.normPath).toSet
    val pickedStats = FileStats.visible(fs, target)
      .filter(f => addedPaths.contains(FileStats.normPath(f.path)))
    require(pickedStats.length == addedPaths.size,
      s"cherry-pick of snapshot $snapshotId ($namespace.$name): its added " +
        "files are no longer resolvable from its manifest")
    val pickedDirs = pickedStats
      .map(f => new Path(f.path).getParent.toString).distinct
    MetaIo.retryCommit(fs, tableDir) { m =>
      require(m.sameEvolution(m0),
        s"cherry-pick into $namespace.$name raced a concurrent schema change")
      val prev = m.currentSnapshot
      val visibleNow = prev.map(visibleFiles).getOrElse(Nil)
      val visiblePaths = visibleNow.map(f => FileStats.normPath(f.path)).toSet
      val dup = pickedStats.filter(f => visiblePaths(FileStats.normPath(f.path)))
      require(dup.isEmpty,
        s"cherry-pick of snapshot $snapshotId ($namespace.$name): " +
          s"${dup.length} of its files are already visible on the current " +
          "head (double-pick)")
      val headDeletes = prev.map(p => FileStats.deletesOf(fs, p)).getOrElse(Nil)
      // transplanted files keep their PATH-DERIVED era, so any equality
      // delete on the head with a newer sequence id would re-apply to the
      // picked rows at read time — though the pick logically happens AFTER
      // it (Iceberg re-sequences cherry-picked commits; this format cannot
      // without rewriting paths, so it refuses instead of silently
      // shrinking the picked rows)
      val eraClash = headDeletes.filter(d => d.isEquality &&
        pickedStats.exists(f => f.eraOrPath < d.seqId))
      require(eraClash.isEmpty,
        s"cherry-pick of snapshot $snapshotId ($namespace.$name): the " +
          s"current head carries ${eraClash.length} equality delete(s) " +
          "newer than the picked files' era, which would re-apply to the " +
          "transplanted rows — fold them first (rewriteDeletes()) and retry")
      commitSnapshot(m, "append",
        prev.map(p => FileStats.dataDirsOf(fs, p)).getOrElse(Nil) ++ pickedDirs,
        added = pickedStats, carried = visibleNow,
        carriedDeletes = headDeletes, summary = summary)
    }
  }

  /** Candidate screen shared by the COW and MOR upserts: which of `files`
    * could hold a row matching SOME source key tuple (necessary-condition
    * pruning — a file screened out provably contains no match and is
    * carried/skipped; a false positive only costs an unnecessary rewrite
    * or read). Both layers come from ONE Spark job over `src.select(keys)`
    * ([[KeySummary]]): each task summarizes its partition, the Spark driver
    * merges the summaries as tasks finish.
    *
    * 1. RANGE: per-key [min, max] (+ null presence) of the source against
    *    each file's footer stats / directory values.
    * 2. EXACT KEYS: a range test degrades to "rewrite everything" when
    *    the source keys are scattered (every file's range intersects the
    *    source's). When the source key set is small — the CDC shape:
    *    thousands of keys against a huge table — a per-key IN of the
    *    DISTINCT source values is ANDed on: min/max proves out-of-range
    *    values absent, the opt-in per-file BLOOM proves scattered values
    *    absent, and a file holding none of the source's keys survives
    *    untouched. Per-key INs AND'd stay a sound necessary condition for
    *    multi-key upserts (a matching row needs every key column to hit
    *    SOME source value under `<=>`; null-extended when the source has
    *    null keys). The same pass counts the source's distinct key tuples
    *    EXACTLY, and two caps bound what it holds:
    *    `graft.upsert.keyPeekCap` exact distinct tuples (default 10k; 0
    *    disables — past the cap a task drops its tuple set and the screen
    *    stays on ranges), and a probe budget
    *    (`graft.prune.probeBudget`, files x tuples) so a million-file
    *    table never pays keys x files point probes.
    *
    * DETERMINISM CONTRACT: both layers evaluate `src` in a Spark job
    * separate from the join/anti-join that later performs the upsert, so
    * the screen is sound only for a deterministic source — the same
    * contract the range layer has always carried implicitly (and MERGE
    * itself: a source whose key set differs between evaluations has no
    * well-defined match set). A non-deterministic `src` (rand(), an
    * uncheckpointed shuffle over changing input) recomputed differently
    * could surface a key absent from the collected IN set and leave a
    * matching file untouched. Callers with such a source must
    * localCheckpoint/persist it first; contrast EqDeleteIo.writeKeyFile,
    * which closes the same hazard structurally by reading keys back from
    * the written delete file.
    */
  private def keyCandidates(src: DataFrame, keys: Seq[String],
      files: Seq[FileStat], m: TableMeta, tableSchema: StructType)
      : (Seq[FileStat], Seq[FileStat]) = {
    if (files.isEmpty) return (files, Nil)
    val cap = scala.util.Try(
      spark.conf.get("graft.upsert.keyPeekCap", "10000").toInt).getOrElse(10000)
    // shared with the DSv2 runtime re-prune (IceLiteScan.budgetRuntime)
    val probeBudget = scala.util.Try(
      spark.conf.get("graft.prune.probeBudget", "50000000").toLong)
      .getOrElse(50L * 1000 * 1000)
    val ks = KeySummary.of(src, keys, cap)
    val keyBounds: SFilter = keys.indices.map { i =>
      val (k, lo, hi) = (keys(i), ks.mins(i), ks.maxs(i))
      val range: SFilter =
        if (lo == null) SIsNull(k) // all-null source key column
        else SAnd(SGte(k, lo), SLte(k, hi))
      if (ks.hasNull(i) && lo != null) SOr(range, SIsNull(k)) else range
    }.reduce(SAnd(_, _): SFilter)
    val keyIn: Option[SFilter] =
      for (n <- ks.tupleCount; perKey <- ks.values
           if files.size.toLong * math.max(n, 1L) <= probeBudget)
      yield keys.indices.map { i =>
        val in: SFilter = SIn(keys(i), perKey(i).toArray)
        if (ks.hasNull(i)) SOr(in, SIsNull(keys(i))) else in
      }.reduce(SAnd(_, _): SFilter)
    files.partition { f =>
      // partition values make pruning work when the key IS (or includes)
      // an identity partition column — those carry no file stats.
      // Directory values follow each file's OWN era spec (partition
      // evolution); transform sources live in data and prune via stats.
      val spec = PartField.identityCols(m.specFor(f.eraOrPath))
      val raw = f.partRaw(spec)
      val pv = PartValues.decodeExternal(tableSchema, spec, raw)
      FilePrune.canMatch(keyBounds, tableSchema, f, pv) &&
        keyIn.forall(FilePrune.canMatch(_, tableSchema, f, pv))
    }
  }

  /** Primary-key upsert (K5, `wr:107-108`): matched target rows take the
    * source's values, unmatched source rows are inserted, unmatched target
    * rows survive. Null-safe key equality.
    *
    * Physically file-granular copy-on-write: one Spark job over the
    * source's key columns computes their per-key [min, max] (+ null
    * presence) and counts the distinct key tuples exactly; the manifest
    * stats prove which target files cannot contain a matching key — and
    * when the source has at most `graft.upsert.keyPeekCap` distinct key
    * tuples, a per-key IN of the values that same job collected proves
    * even scattered keys absent through min/max and blooms (see
    * [[keyCandidates]]) — so only the intersecting files are rewritten
    * (anti-join + union). Every other file is carried into the new
    * snapshot untouched. Files without stats are conservatively rewritten.
    */
  def upsert(df: DataFrame, keys: Seq[String]): IceTable = {
    require(keys.nonEmpty,
      s"upsert into $namespace.$name requires a primary key (config or manifest)")
    val m = meta
    val tableSchema = StructType.fromDDL(m.schemaDdl)
    val src = conform(df, tableSchema)
    val current = m.currentSnapshot
    val files = current.map(visibleFiles).getOrElse(Nil)

    val (candidates, untouched) = keyCandidates(src, keys, files, m, tableSchema)

    val currentDirs = current.map(p => FileStats.dataDirsOf(fs, p)).getOrElse(Nil)
    val curDeletes = current.map(p => FileStats.deletesOf(fs, p)).getOrElse(Nil)
    val tgt = readFiles(m, tableSchema, candidates, currentDirs, curDeletes)
    val cond = keys.map(k => tgt(k) <=> src(k)).reduce(_ && _)
    val merged = tgt.join(src, cond, "left_anti").unionByName(src)
    val snapId = m.snapshots.map(_.snapshotId).maxOption.getOrElse(0L) + 1
    val (dir, added) = writeData(merged, snapId, m.partitionBy)
    val untouchedDirs = currentDirs
      .filter(d => untouched.exists(f => qualify(f.path).startsWith(qualify(d) + "/")))
    // rewritten candidates had their deletes applied; untouched files keep
    // theirs. The delete dirs of surviving entries must stay referenced.
    val carriedDeletes = FileStats.trimDeletes(curDeletes,
      untouched.map(f => qualify(f.path)).toSet)
    val delDirs = carriedDeletes.map(d => new Path(d.path).getParent.toString).distinct
    commitSnapshot(m, "upsert", untouchedDirs ++ delDirs :+ dir, added,
      carried = untouched, carriedDeletes = carriedDeletes)
  }

  /** Merge-on-read row-level DELETE (Iceberg v2 position deletes): instead
    * of rewriting every candidate file (copy-on-write, [[deleteWhere]]),
    * write small parquet files of `(file_path, pos)` rows naming the
    * deleted positions and commit a metadata-only snapshot whose data-file
    * set is UNCHANGED. Scans subtract the positions at read time;
    * [[compact]] / [[replace]] fold the deletes away. This is the shape
    * frequent small deletes need at 100 TB — a 1-row delete against a
    * million-file table writes one tiny delete file instead of rewriting a
    * data file, at the cost of a per-read filter until the next compaction.
    *
    * ONE Spark job, no shuffle: the table's own scan, pinned to the
    * snapshot the commit validates against, serves `_file`/`_pos` of the
    * matching rows (its pushed condition prunes files by manifest stats),
    * and each task writes its own delete file and reports per-data-file
    * counts ([[MorDelta.writePositions]]: one task per
    * `spark.sql.files.maxPartitionBytes` of planned files, at most
    * `defaultParallelism`, so a selective delete writes one file). The
    * scan's reader already subtracts outstanding position and equality
    * deletes, era-scoped, so a row deleted before is never tombstoned or
    * counted twice and the new total stays exact. A condition that matches
    * nothing commits nothing.
    *
    * Falls back to copy-on-write when the table has rename history or a
    * condition on an identity partition column.
    */
  def deleteWhereMor(filters: Seq[org.apache.spark.sql.sources.Filter]): IceTable = {
    val m = meta
    val current = m.currentSnapshot.getOrElse(return this)
    if (m.renames.nonEmpty) return deleteWhere(filters)
    // identity partition columns are stored in data by every current
    // writer, but a condition on one stays conservative: copy-on-write
    // reads them era-correctly via readFiles
    val idCols = (PartField.identityCols(m.partitionBy) ++
      m.partitionSpecs.flatMap(sp => PartField.identityCols(sp.cols))).toSet
    if (filters.exists(_.references.exists(idCols.contains)))
      return deleteWhere(filters)
    val cond = filters.flatMap(FilterCol.toColumn) match {
      case cols if cols.length == filters.length && cols.nonEmpty =>
        cols.reduce(_ && _)
      case _ => throw new IllegalArgumentException(
        s"delete condition not translatable: ${filters.mkString(", ")}")
    }
    val matches = scan(snapshotId = Some(current.snapshotId)).where(cond)
      .select(col("_file").as("file_path"), col("_pos").as("pos"))
    // the files the scan planned for the condition size the write job
    val planned = graft.sources.v2.HasPlannedFiles.of(matches).toSet
    val delDir = newDeleteDir(m)
    val deletes = MorDelta.writePositions(matches, delDir, fs,
      visibleFiles(current).filter(f => planned(f.path)).map(_.bytes).sum)
    if (deletes.isEmpty) return this // condition matched nothing: no-op
    commitMorDelta(m, deletes, added = Nil, dirs = Seq(delDir.toString), "delete")
  }

  /** A fresh directory for the position deletes of the snapshot after `m`. */
  private def newDeleteDir(m: TableMeta): Path = {
    val snapId = m.snapshots.map(_.snapshotId).maxOption.getOrElse(0L) + 1
    new Path(tableDir,
      f"data/deletes-snap-$snapId%05d-${java.util.UUID.randomUUID().toString.take(8)}")
  }

  /** Filter out rows already claimed by outstanding EQUALITY deletes from
    * a candidate-file frame that still exposes `_metadata` — used by the
    * position-delete upsert so stacked deletes never double-count a row in
    * the totals. Era scope, key null-safety, and own-dir exemption mirror
    * the scan's application exactly.
    */
  private def minusEqDeleted(df: DataFrame, deletes: Seq[DeleteStat],
      candidates: Seq[FileStat]): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, regexp_extract, when}
    val eqs = deletes.filter(_.isEquality)
    if (eqs.isEmpty) return df
    // the delete-key frames are parquet reads too, so referencing
    // `_metadata` inside the join condition would be ambiguous — callers
    // materialize it as __mfp first
    val fp = col("__mfp")
    // per-row write era: path-derived for native files; IMPORTED files
    // (recorded era — their paths carry no snap-N segment, the regex
    // would read null and their rows would escape every eq-delete scope)
    // bind the era recorded on their manifest entry, matched by
    // scheme-free absolute path (`_metadata.file_path` and FileStat paths
    // can render file:/ vs file:///). O(imported candidates) expression
    // nodes — bounded by the eq screen's candidate set, and zero-cost on
    // tables with no imports.
    val rowEra = candidates.filter(_.era >= 0L)
      .map(f => (new Path(qualify(f.path)).toUri.getPath, f.era))
      .foldLeft(regexp_extract(fp, "snap-(\\d+)", 1).cast("long")) {
        case (acc, (p, era)) => when(fp.endsWith(lit(p)), lit(era)).otherwise(acc)
      }
    eqs.foldLeft(df) { (acc, d) =>
      val keys = spark.read.parquet(d.path)
        .select(d.eqCols.map(c => col(c).as(s"__ek_$c")): _*).distinct()
      // no exempt dirs → no clause at all (a folded-in `lit(true)` would
      // reach DSv2 pushdown and log "Can't translate true to source filter"
      // on every run)
      val exempt = d.eqExemptDirs
        .map(dir => !fp.contains(s"/${new Path(dir).getName}/"))
        .reduceOption(_ && _)
      val keyCond = d.eqCols.map(c => col(c) <=> col(s"__ek_$c")).reduce(_ && _) &&
        rowEra < lit(d.seqId)
      val cond = exempt.map(keyCond && _).getOrElse(keyCond)
      acc.join(broadcast(keys), cond, "left_anti")
    }
  }

  /** Commit a merge-on-read delta through [[MorDelta.commit]], validated
    * against the outstanding deletes of `m0`'s current snapshot.
    */
  private def commitMorDelta(m0: TableMeta, deletes: Seq[DeleteStat],
      added: Seq[FileStat], dirs: Seq[String], operation: String): IceTable = {
    val prior = m0.currentSnapshot.map(p => FileStats.deletesOf(fs, p)).getOrElse(Nil)
    MorDelta.commit(fs, tableDir, s"$namespace.$name", m0, prior, deletes, added,
      dirs, operation)
    this
  }

  /** Merge-on-read primary-key upsert: same semantics as [[upsert]]
    * (matched target rows take the source's values, unmatched source rows
    * insert, unmatched target rows survive; null-safe key equality) but
    * instead of REWRITING candidate files it position-deletes the matched
    * target rows and appends the source — ONE atomic snapshot holding both
    * the new delete file and the new data files. A 100-row upsert against
    * a million-file table writes ~1 data file + 1 tiny delete file where
    * copy-on-write rewrites every intersecting file; the read tax is the
    * MOR position filter until [[compact]] folds it away. The matched
    * positions are written by the same one-job writer as
    * [[deleteWhereMor]] ([[MorDelta.writePositions]]): each task writes its
    * own delete file and returns its counts, so the match plan runs once.
    * Unlike the delete, the match plan reads only the key screen's
    * candidate files directly, so outstanding deletes are subtracted here
    * (equality deletes by key and era, position deletes by anti-join).
    * Falls back to copy-on-write on rename history.
    */
  def upsertMor(df: DataFrame, keys: Seq[String]): IceTable = {
    require(keys.nonEmpty,
      s"upsert into $namespace.$name requires a primary key (config or manifest)")
    val m = meta
    val tableSchema = StructType.fromDDL(m.schemaDdl)
    val src = conform(df, tableSchema)
    val current = m.currentSnapshot match {
      case Some(c) => c
      case None => return append(src) // empty table: plain insert
    }
    if (m.renames.nonEmpty) return upsert(df, keys)
    val files = visibleFiles(current)
    // keys on identity partition columns: same conservative fallback as
    // deleteWhereMor (the position scan has no directory binding)
    val idCols = (PartField.identityCols(m.partitionBy) ++
      m.partitionSpecs.flatMap(sp => PartField.identityCols(sp.cols))).toSet
    if (keys.exists(idCols.contains))
      return upsert(df, keys)

    // candidate files by source key containment — the same shared screen
    // as the COW upsert (range + exact-key/bloom refinement): fewer
    // candidates means a smaller position-scan read below
    val (candidates, _) = keyCandidates(src, keys, files, m, tableSchema)

    // positions of matched target rows: semi-join candidate rows (read with
    // absolute row positions) against the distinct source keys (broadcast —
    // upsert sources are small relative to the table by definition), then
    // write them in one job (see deleteWhereMor)
    val prior = FileStats.deletesOf(fs, current)
    val delDir = newDeleteDir(m)
    val deletes: Seq[DeleteStat] =
      if (candidates.isEmpty) Nil
      else {
        val sk = src.select(keys.map(k => col(k).as(s"__k_$k")): _*).distinct()
        val cond = keys.map(k => col(k) <=> col(s"__k_$k")).reduce(_ && _)
        val matches0 = minusEqDeleted(
          spark.read.schema(tableSchema)
            .parquet(candidates.map(_.path): _*)
            .join(org.apache.spark.sql.functions.broadcast(sk), cond, "left_semi")
            .withColumn("__mfp", col("_metadata.file_path"))
            .withColumn("__mpos", col("_metadata.row_index")),
          prior, candidates)
          .select(col("__mfp").as("file_path"), col("__mpos").as("pos"))
        // rows already position-deleted must not be deleted (and counted) twice
        val candSet = candidates.map(f => qualify(f.path)).toSet
        val priorApplicable = prior.filter(_.dataFiles.exists(candSet))
        val matches =
          if (priorApplicable.isEmpty) matches0
          else matches0.join(
            spark.read.parquet(priorApplicable.map(_.path): _*)
              .select(col("file_path"), col("pos")),
            Seq("file_path", "pos"), "left_anti")
        MorDelta.writePositions(matches, delDir, fs, candidates.map(_.bytes).sum)
      }

    // write the source into a writer-unique dir (like append): a lost
    // commit race re-attaches the same files on retry
    val snapId = m.snapshots.map(_.snapshotId).maxOption.getOrElse(0L) + 1
    val (dir, added) = writeData(src, snapId, m.partitionBy, uniqueDir = true)
    commitMorDelta(m, deletes, added,
      (if (deletes.isEmpty) Nil else Seq(delDir.toString)) :+ dir, "upsert")
  }

  /** Key type gate for the equality-delete ops (see [[EqDeleteIo.keyType]]). */
  private def eqKeyType(dt: org.apache.spark.sql.types.DataType): Boolean =
    EqDeleteIo.keyType(dt)

  /** Merge-on-read upsert by EQUALITY DELETE (Iceberg v2's second delete
    * kind): commits ONE snapshot holding (a) the appended source rows and
    * (b) one tiny parquet file of the source's distinct key tuples, and
    * reads NOTHING of the target — no candidate scan, no position probe.
    * This is the write shape streaming CDC needs: cost is O(source),
    * whatever the table size, where even the position-delete upsert
    * ([[upsertMor]]) pays a semi-join over the key-range candidate files.
    * Scans subtract matching rows from every data file of an era before the
    * delete's sequence (key-bound pruning keeps unaffected files columnar);
    * [[compact]]/[[rewriteDeletes]] fold the debt away. Key equality is
    * null-safe (null keys match null keys), matching [[upsert]]'s `<=>`
    * semantics. Because the delete's content never depends on table state,
    * a lost commit race retries against ANY concurrent append, upsert, or
    * rewrite — only a schema/spec change aborts.
    *
    * Falls back to [[upsertMor]] on rename history,
    * identity-partition keys (old eras store those in directory names
    * only), or non-atomic key types.
    */
  def upsertMorEq(df: DataFrame, keys: Seq[String]): IceTable = {
    require(keys.nonEmpty,
      s"upsert into $namespace.$name requires a primary key (config or manifest)")
    val m0 = meta
    val tableSchema = StructType.fromDDL(m0.schemaDdl)
    keys.foreach(k => require(tableSchema.fieldNames.contains(k),
      s"upsert key $k not in $namespace.$name schema"))
    val src = conform(df, tableSchema)
    if (m0.currentSnapshot.isEmpty) return append(src) // empty table: plain insert
    val idCols = (PartField.identityCols(m0.partitionBy) ++
      m0.partitionSpecs.flatMap(sp => PartField.identityCols(sp.cols))).toSet
    if (m0.renames.nonEmpty || keys.exists(idCols.contains) ||
        !keys.forall(k => eqKeyType(tableSchema(k).dataType)))
      return upsertMor(df, keys)
    writeEqDelta(m0, src, keys, appendData = true, operation = "upsert")
  }

  /** Merge-on-read DELETE by key set: every table row whose key tuple
    * appears in `keysDf` is deleted, via one equality-delete file and zero
    * target reads — the CDC tombstone shape. Same scope/fold semantics as
    * [[upsertMorEq]]. Requires eq-compatible keys (no fallback exists for
    * a keys-only delete: the copy-on-write analog would need the key set
    * joined against every candidate file, which is [[upsertMor]] without
    * the payload — use that if this refuses).
    */
  def deleteKeysEq(keysDf: DataFrame, keys: Seq[String]): IceTable = {
    require(keys.nonEmpty, s"deleteKeysEq on $namespace.$name requires key columns")
    val m0 = meta
    val tableSchema = StructType.fromDDL(m0.schemaDdl)
    keys.foreach(k => require(tableSchema.fieldNames.contains(k),
      s"delete key $k not in $namespace.$name schema"))
    val missing = keys.filterNot(keysDf.columns.contains)
    require(missing.isEmpty,
      s"deleteKeysEq input lacks key columns ${missing.mkString(", ")}")
    if (m0.currentSnapshot.isEmpty) return this
    val idCols = (PartField.identityCols(m0.partitionBy) ++
      m0.partitionSpecs.flatMap(sp => PartField.identityCols(sp.cols))).toSet
    require(m0.renames.isEmpty && !keys.exists(idCols.contains) &&
      keys.forall(k => eqKeyType(tableSchema(k).dataType)),
      s"deleteKeysEq on $namespace.$name needs eq-compatible keys " +
        "(no rename history / identity-partition or non-atomic key) — use " +
        "upsertMor or deleteWhere instead")
    val keyed = keysDf.select(
      keys.map(k => col(k).cast(tableSchema(k).dataType).as(k)): _*)
    writeEqDelta(m0, keyed, keys, appendData = false, operation = "delete")
  }

  /** Shared equality-delete commit: write the distinct key tuples as one
    * sorted delete file (its own parquet footer supplies the key bounds —
    * the exact stat encoding FilePrune compares against), optionally append
    * the source, and commit with optimistic retry. The delete's sequence id
    * is re-pinned to the COMMIT snapshot on every attempt (its value
    * content is state-independent, so it stays correct against anything
    * that landed in between); the snapshot's own data directory is listed
    * as exempt so a raised sequence can never turn the delete on the rows
    * it arrived with. Only a concurrent schema/spec change aborts.
    */
  private def writeEqDelta(m0: TableMeta, src: DataFrame, keys: Seq[String],
      appendData: Boolean, operation: String): IceTable = {
    val snapId0 = m0.snapshots.map(_.snapshotId).maxOption.getOrElse(0L) + 1
    val written = EqDeleteIo.writeKeyFile(
      spark, fs, tableDir, snapId0, src.select(keys.map(col): _*), keys)
    val (delDir, delFile, keyRows, eqMin, eqMax, eqKeys) = written match {
      case Some(w) => w
      case None => return this // empty source: nothing to delete or insert
    }
    val (dataDir, added): (Option[String], Seq[FileStat]) =
      if (!appendData) (None, Nil)
      else {
        val (d, a) = writeData(src, snapId0, m0.partitionBy, uniqueDir = true)
        (Some(d), a)
      }
    val addedRows = added.map(_.rows).sum
    MetaIo.retryCommit(fs, tableDir) { m =>
      require(m.sameEvolution(m0),
        s"$operation on $namespace.$name raced a concurrent schema change — aborting")
      val current = m.currentSnapshot
      val snapId = m.snapshots.map(_.snapshotId).maxOption.getOrElse(0L) + 1
      val stat = DeleteStat(
        path = qualify(delFile), appliesTo = Nil,
        eqCols = keys, eqRows = keyRows, seqId = snapId,
        eqExemptDirs = dataDir.map(qualify).toSeq,
        eqMin = eqMin, eqMax = eqMax, eqKeys = eqKeys)
      val prior = current.map(c => FileStats.deletesOf(fs, c)).getOrElse(Nil)
      val carried = current.map(visibleFiles).getOrElse(Nil)
      val snap = SnapshotMeta(
        snapshotId = snapId, timestampMs = System.currentTimeMillis(),
        operation = operation,
        dataDirs = current.map(c => FileStats.dataDirsOf(fs, c)).getOrElse(Nil) ++
          Seq(delDir.toString) ++ dataDir.toSeq,
        addedFiles = added.map(_.path), addedRows = addedRows,
        // exact matched-row count would need the read this op exists to
        // avoid: totals are an upper bound while equality debt is
        // outstanding (`.deletes` shows the debt; a fold restores exact)
        totalRows = current.map(_.totalRows).getOrElse(0L) + addedRows,
        schemaDdl = m.schemaDdl,
        files = (carried ++ added).sortBy(_.path),
        deletes = prior :+ stat,
        parentId = m.currentSnapshotId)
      MetaIo.commit(fs, tableDir, m.copy(
        currentSnapshotId = snapId,
        snapshots = m.snapshots :+ snap,
        version = m.version + 1))
      this
    }
  }

  /** Read an explicit file subset with the declared schema. Two mappings
    * happen per file group:
    *  - hive-partitioned layouts read per snapshot-dir with `basePath`, so
    *    partition values come from directory names cast to their DECLARED
    *    types (never inferred — inference could drift per directory);
    *  - metadata-only renames resolve by file era: a file written before a
    *    rename physically carries the old name, so its group is read with
    *    the era's physical schema and the columns are re-labelled
    *    positionally to the logical names (the name-based analog of
    *    Iceberg's field-id resolution; partition columns never rename).
    */
  private def readFiles(m: TableMeta, tableSchema: StructType,
      files: Seq[FileStat], snapDirs: Seq[String],
      deletes: Seq[DeleteStat] = Nil): DataFrame = {
    if (files.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], tableSchema)
    // outstanding position deletes that touch this file subset: read the
    // subset with row positions and anti-join the delete rows away (the
    // delete set is small by MOR design — AQE broadcasts it)
    val fileSet = files.map(f => qualify(f.path)).toSet
    val applicable = deletes.filter(_.dataFiles.exists(fileSet))
    // outstanding EQUALITY deletes that could touch any file of the subset:
    // anti-join by key value, scoped to rows whose file era precedes the
    // delete's sequence (newer files escape by construction)
    val eqApplicable = deletes.filter(d =>
      d.isEquality && files.exists(f => FileStats.eqAppliesTo(d, f, tableSchema)))
    val anyDeletes = applicable.nonEmpty || eqApplicable.nonEmpty
    val dirs = snapDirs.map(qualify)
    // each file group's layout follows ITS era's partition spec (partition
    // evolution): basePath + dir-derived values only where that era had
    // IDENTITY partition columns; an era's ex-partition columns — and every
    // transform source — read from data (writers store source columns in
    // data since evolution support; transform dir values are layout-only)
    def specOf(f: FileStat): Seq[String] =
      PartField.identityCols(m.specFor(f.eraOrPath))
    def baseOf(f: FileStat): String =
      if (specOf(f).isEmpty) ""
      else dirs.find(d => qualify(f.path).startsWith(d + "/"))
        .getOrElse(new Path(f.path).getParent.toString)
    def physOf(f: FileStat): Seq[String] =
      Renames.physicalNames(m.renames, tableSchema, f.eraOrPath)
        .getOrElse(tableSchema.fieldNames.toSeq)
    // imported entries (recorded era) bind identity partition values from
    // the MANIFEST ENTRY, never from path discovery: foreign paths may
    // carry misleading `col=value` segments, and basePath discovery under
    // a foreign parent would serve NULLs (or worse, an ancestor dir's
    // value). One group per (era, recorded values) — O(imported
    // partitions), the same cardinality native dir discovery handles.
    def recordedOf(f: FileStat): Option[(Long, Map[String, Option[String]])] =
      if (f.era >= 0L) Some((f.era, f.partRaw(specOf(f)))) else None
    files.groupBy(f => (baseOf(f), physOf(f), specOf(f), recordedOf(f)))
      .toSeq.sortBy { case ((dir, phys, _, rec), _) =>
        (dir, phys.mkString(","), rec.toString) }
      .map { case ((dir, phys, spec, rec), fsInGroup) =>
        val physSchema = StructType(tableSchema.fields.zip(phys).map {
          // partition columns cannot be renamed; keep their logical name so
          // directory-derived values bind
          case (f, p) => if (spec.contains(f.name)) f else f.copy(name = p)
        })
        // per-row write era for the eq-delete scoping below: path-derived
        // for native files (snap-N segment), the RECORDED era for imported
        // ones (their paths carry no segment — the regex would read null
        // and the row would escape every equality delete on compaction)
        def eraCol: org.apache.spark.sql.Column = rec match {
          case Some((era, _)) => lit(era)
          case None => org.apache.spark.sql.functions
            .regexp_extract(col("_metadata.file_path"), "snap-(\\d+)", 1)
            .cast("long")
        }
        rec match {
          case Some((_, raw)) =>
            // read data columns only (imported hive layouts don't carry
            // identity partition columns; if a file does, the recorded
            // directory value is authoritative) and inject the recorded
            // values as typed literals
            val dataFields = physSchema.fields.zip(tableSchema.fields)
              .filterNot { case (_, f) => spec.contains(f.name) }
            val rd = spark.read.schema(StructType(dataFields.map(_._1)))
            val cols = tableSchema.fields.map { f =>
              if (spec.contains(f.name))
                lit(raw.getOrElse(f.name, None).orNull)
                  .cast(f.dataType).as(f.name)
              else {
                val p = dataFields.find(_._2.name == f.name).get._1
                col(p.name).as(f.name)
              }
            }
            val withPos =
              if (!anyDeletes) cols.toIndexedSeq
              else cols.toIndexedSeq :+
                col("_metadata.file_path").as("__fp") :+
                col("_metadata.row_index").as("__pos") :+
                eraCol.as("__era")
            rd.parquet(fsInGroup.map(_.path): _*).select(withPos: _*)
          case None =>
            val rd = spark.read.schema(physSchema)
            // select by PHYSICAL name and alias to the logical one:
            // partitioned reads reorder columns (partition cols last), so a
            // positional rename would mislabel — names are the only stable
            // handle here. Physical names never collide with other logical
            // names (rename targets and re-adds of retired names are
            // refused at DDL time).
            val cols = physSchema.fields.zip(tableSchema.fields).map {
              case (p, f) => col(p.name).as(f.name)
            }
            val withPos =
              if (!anyDeletes) cols.toIndexedSeq
              else cols.toIndexedSeq :+
                col("_metadata.file_path").as("__fp") :+
                col("_metadata.row_index").as("__pos") :+
                eraCol.as("__era")
            (if (dir.isEmpty) rd else rd.option("basePath", dir))
              .parquet(fsInGroup.map(_.path): _*)
              .select(withPos: _*)
        }
      }
      .reduce(_ unionByName _) match {
      case base if !anyDeletes => base
      case base0 =>
        import org.apache.spark.sql.functions.broadcast
        val base =
          if (applicable.isEmpty) base0
          else {
            val dels = spark.read.parquet(applicable.map(_.path): _*)
              .select(col("file_path").as("__fp"), col("pos").as("__pos"))
            base0.join(dels, Seq("__fp", "__pos"), "left_anti")
          }
        // one anti-join per equality delete (they can key on different
        // column sets): null-safe key match, era-scoped (per-group __era
        // column — recorded for imported files, path-derived otherwise),
        // own-snapshot data dir exempt (dir basenames are writer-unique,
        // so a name match is an identity match regardless of path
        // qualification)
        eqApplicable.foldLeft(base) { (acc, d) =>
          val keys = spark.read.parquet(d.path)
            .select(d.eqCols.map(c => col(c).as(s"__ek_$c")): _*).distinct()
          // no exempt dirs → omit the clause (see the COW-path twin above:
          // a `lit(true)` here lands in DSv2 pushdown as an untranslatable
          // AlwaysTrue and pollutes every run's log)
          val exempt = d.eqExemptDirs
            .map(dir => !col("__fp").contains(s"/${new Path(dir).getName}/"))
            .reduceOption(_ && _)
          val keyCond = d.eqCols.map(c => col(c) <=> col(s"__ek_$c")).reduce(_ && _) &&
            col("__era") < lit(d.seqId)
          val cond = exempt.map(keyCond && _).getOrElse(keyCond)
          acc.join(broadcast(keys), cond, "left_anti")
        }.drop("__fp", "__pos", "__era")
    }
  }

  /** Row-level DELETE (the engine behind SQL `DELETE FROM … WHERE …` on the
    * icelite catalog): file-granular copy-on-write, like upsert. Manifest
    * stats and exact hive-partition values prove which files cannot contain
    * a matching row — those carry forward untouched; partition-only deletes
    * are metadata-plus-rewrite-of-nothing when stats prove entire files
    * match nothing. Candidate files are rewritten keeping the rows where
    * the condition is NOT TRUE (false or NULL — SQL DELETE semantics).
    */
  def deleteWhere(filters: Seq[org.apache.spark.sql.sources.Filter]): IceTable = {
    val m = meta
    val current = m.currentSnapshot.getOrElse(return this)
    val tableSchema = StructType.fromDDL(m.schemaDdl)
    val cond = filters.flatMap(FilterCol.toColumn) match {
      case cols if cols.length == filters.length && cols.nonEmpty =>
        cols.reduce(_ && _)
      case _ => throw new IllegalArgumentException(
        s"delete condition not translatable: ${filters.mkString(", ")}")
    }
    // NB the whole-file death proof below REQUIRES candidates to be
    // canMatch-screened first (exactOnPartitions inspects only the
    // filter's shape), so no route may ever feed unscreened files into it.
    val files = visibleFiles(current)
    val (candidates, untouched) = files.partition { f =>
      val spec = PartField.identityCols(m.specFor(f.eraOrPath))
      val raw = f.partRaw(spec)
      val pv = PartValues.decodeExternal(tableSchema, spec, raw)
      filters.forall(FilePrune.canMatch(_, tableSchema, f, pv))
    }
    if (candidates.isEmpty) return this // nothing can match: no-op
    // Whole-file death proof (the DROP PARTITION shape): when every filter
    // is partition-EXACT for a candidate's own era — the same claim that
    // backs dropping Spark's filter re-evaluation in the DSv2 scan, so
    // canMatch(=true) means ALL rows match, three-valued semantics and
    // hive-null partitions included (FilePruneExactSpec) — the file is
    // entirely dead and drops from the manifest with zero IO. Rows already
    // dead under MOR debt are a subset of the file's rows, so dropping
    // subsumes them. A pure partition-predicate DELETE then commits
    // metadata only: no read, no write, at any table size.
    val (dead, partial) = candidates.partition { f =>
      val idCols = PartField.identityCols(m.specFor(f.eraOrPath))
      filters.forall(fl =>
        FilePrune.exactOnPartitions(fl, tableSchema, idCols.contains))
    }
    val currentDirs = FileStats.dataDirsOf(fs, current)
    val curDeletes = FileStats.deletesOf(fs, current)
    val snapId = m.snapshots.map(_.snapshotId).maxOption.getOrElse(0L) + 1
    val (addedDirs, added) =
      if (partial.isEmpty) (Nil, Nil) // metadata-only: nothing to rewrite
      else {
        val src = readFiles(m, tableSchema, partial, currentDirs, curDeletes)
        // keep rows where the condition is false or NULL
        val kept = src.filter(!org.apache.spark.sql.functions.coalesce(
          cond, org.apache.spark.sql.functions.lit(false)))
        val (dir, a) = writeData(kept, snapId, m.partitionBy)
        (Seq(dir), a)
      }
    val untouchedDirs = currentDirs
      .filter(d => untouched.exists(f => qualify(f.path).startsWith(qualify(d) + "/")))
    val carriedDeletes = FileStats.trimDeletes(curDeletes,
      untouched.map(f => qualify(f.path)).toSet)
    val delDirs = carriedDeletes.map(d => new Path(d.path).getParent.toString).distinct
    commitSnapshot(m, "delete", untouchedDirs ++ delDirs ++ addedDirs, added,
      carried = untouched, carriedDeletes = carriedDeletes)
  }

  /** Orphan-file GC (the `remove_orphan_files` maintenance op): delete
    * files under the table's `data/` tree that belong to NO snapshot's
    * manifest and are older than the grace period. Orphans arise from an
    * append that permanently lost its commit race (its writer-unique dir is
    * never re-attached), from aborted DSv2 staging dirs whose driver died
    * before `abort()`, and from stray task artifacts (`_SUCCESS`). The age
    * gate is what makes the sweep safe against IN-FLIGHT writes: a file
    * younger than the grace period may belong to a commit that has not
    * happened yet, so it is never touched (Iceberg's contract; its default
    * grace is 3 days). Scans plan strictly from committed manifests, so an
    * orphan is invisible to every reader by construction — this op reclaims
    * the storage, it never changes any result.
    *
    * The sweep is one recursive listing of `data/` plus an O(live files)
    * membership set — the same driver-memory envelope as the manifests
    * themselves. Returns the deleted paths.
    */
  def removeOrphanFiles(graceMs: Long = IceTable.DefaultOrphanGraceMs): Seq[String] = {
    val m = meta
    // a snapshot references its data files AND its position-delete files —
    // sweeping a live delete file would silently resurrect deleted rows
    val referenced: Set[String] =
      m.snapshots.flatMap(s =>
        visibleFiles(s).map(f => qualify(f.path)) ++
          FileStats.deletesOf(fs, s).map(d => qualify(d.path))).toSet
    val dataRoot = new Path(tableDir, "data")
    if (!fs.exists(dataRoot)) return Nil
    val cutoff = System.currentTimeMillis() - graceMs
    val deleted = Seq.newBuilder[String]
    val it = fs.listFiles(dataRoot, true)
    while (it.hasNext) {
      val st = it.next()
      val p = qualify(st.getPath.toString)
      if (st.isFile && !referenced.contains(p) && st.getModificationTime < cutoff) {
        fs.delete(st.getPath, false)
        deleted += p
      }
    }
    // drop directories the sweep emptied (lost-race dirs, dead staging
    // dirs) — but never a dir some snapshot still REFERENCES (an empty
    // append's dir is legitimately file-less)
    val referencedDirs =
      m.snapshots.flatMap(s => FileStats.dataDirsOf(fs, s).map(qualify)).toSet
    fs.listStatus(dataRoot).filter(_.isDirectory).foreach { d =>
      val dp = qualify(d.getPath.toString)
      if (!referencedDirs.contains(dp) && !fs.listFiles(d.getPath, true).hasNext)
        fs.delete(d.getPath, true)
    }
    // manifest-document GC: rebases (`rewrite_manifests`, the chain-cap
    // rollover) and expiry leave manifest files behind once no snapshot's
    // delta chain resolves through them — a losing commit race leaves one
    // too. Reachable = the chain closure over every live snapshot; the same
    // age gate protects a manifest written by an in-flight commit that has
    // not claimed its version yet.
    val liveManifests = m.snapshots
      .flatMap(s => MetaIo.manifestChain(fs, s.manifestFile))
      .map(qualify).toSet
    val metaDir = MetaIo.metadataDir(tableDir)
    if (fs.exists(metaDir)) fs.listStatus(metaDir).foreach { st =>
      val p = qualify(st.getPath.toString)
      // torn-commit debris: a committer killed between an aside-file write
      // and its rename leaves `.v*.json.*.tmp` / `.version-hint.*.tmp`
      // files behind. Same age gate as everything else — an IN-FLIGHT
      // commit's aside file is never touched. Claim files are kept: they
      // are the CAS ledger that fences stale stragglers.
      val tornTmp = st.getPath.getName.startsWith(".") &&
        st.getPath.getName.endsWith(".tmp")
      if (st.isFile && st.getModificationTime < cutoff &&
          ((st.getPath.getName.startsWith("manifest-") &&
            !liveManifests.contains(p)) || tornTmp)) {
        fs.delete(st.getPath, false)
        deleted += p
      }
    }
    deleted.result()
  }

  /** Import EXISTING parquet files into the table BY REFERENCE (the
    * Iceberg `add_files` migration op): no data rewrite, no copy — one
    * footer read per file (driver pool small, Spark job past
    * [[FileStats.DistributeThreshold]]) builds real manifest entries with
    * row counts and min/max/null stats, so imported files prune like
    * native ones, and a normal append snapshot commits them. Ownership
    * stays with the caller: the paths live outside the table's `data/`
    * tree and are NOT recorded in `dataDirs`, so expiry and orphan GC
    * never delete them — exactly Iceberg's add_files contract. Imported
    * paths carry no `snap-N` era, so era resolution treats them as newest:
    * renames resolve to current names and existing equality deletes never
    * apply to them, both correct for files joining the table NOW.
    *
    * Partitioned tables import too — the real hive-migration shape: a
    * source laid out as hive directories matching the CURRENT spec
    * serves, prunes, and storage-partition-joins exactly like native
    * files. Partition segments are read RELATIVE TO THE SOURCE ROOT —
    * a `col=value` directory at or above the root never binds (the
    * caller's tree layout is not a partition claim) — decoded once here,
    * and RECORDED on each manifest entry ([[FileStat.partVals]], the
    * manifest-carries-partition-data shape of an Iceberg DataFile):
    * readers bind imported files' partition values from the entry, never
    * by re-parsing the absolute path, so a misleading ancestor directory
    * (`/data/k=test/...`) can neither fake a layout past this gate nor
    * skew what the scan serves. A single-FILE source therefore cannot
    * import into an identity-partitioned table (no segments below the
    * root): point `add_files` at the hive layout's root directory.
    * Transform fields (bucket/days/truncate) must NOT appear as segments
    * below the root: their values are engine-computed, a foreign claim is
    * unverifiable, and a wrong one would silently corrupt pruning —
    * absent segments are sound (the file's source column reads from
    * data; it simply never transform-prunes). Should the data files ALSO
    * carry an identity partition column, the recorded directory value is
    * authoritative at read time (the hive contract); the column is never
    * requested from data.
    *
    * Refusals (each names its remedy): hive-layout mismatch against a
    * partitioned table's current spec (above), declared sort
    * orders (the scan REPORTS the order; foreign files of unknown order
    * would be silently wrong results — clear it first), schema drift
    * (foreign or type-mismatched columns; a file MISSING a declared column
    * is fine — reads serve NULL, the column-add evolution contract), and
    * re-importing an already-referenced path.
    */
  def addFiles(source: String): IceTable = {
    val m0 = meta
    require(m0.sortOrder.isEmpty,
      s"$namespace.$name declares sort order ${m0.sortOrder.mkString(", ")} " +
        "which the scan reports to Spark; imported files of unknown order " +
        "would be silently wrong results — clear it first " +
        "(CALL system.set_sort_order(table, array()))")
    val conf = spark.sparkContext.hadoopConfiguration
    val srcPath = new Path(source)
    val sfs = srcPath.getFileSystem(conf)
    require(sfs.exists(srcPath), s"add_files source not found: $source")
    val paths: Seq[String] =
      if (sfs.getFileStatus(srcPath).isFile)
        Seq(sfs.makeQualified(srcPath).toString)
      else {
        val it = sfs.listFiles(srcPath, true)
        Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
          .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
          .map(_.getPath.toString).toSeq.sorted
      }
    require(paths.nonEmpty, s"no parquet files under $source")
    val tableRoot = FileStats.normPath(fs.makeQualified(tableDir).toString)
    paths.foreach(p => require(
      !FileStats.normPath(p).startsWith(tableRoot + "/"),
      s"add_files source $p lies INSIDE the table tree — it is either " +
        "already referenced or an orphan the GC may delete; import only " +
        "external files"))
    val current = m0.currentSnapshot.map(visibleFiles).getOrElse(Nil)
    val existing = current.map(f => FileStats.normPath(f.path)).toSet
    paths.foreach(p => require(!existing(FileStats.normPath(p)),
      s"file already referenced by $namespace.$name: $p"))
    val tableSchema = StructType.fromDDL(m0.schemaDdl)
    // hive-layout gate for partitioned tables: parse + decode each file's
    // segments BELOW the source root, before committing. Segments are
    // deliberately blind to everything at or above the root — an ancestor
    // directory that happens to spell `col=value` (the source living under
    // /data/k=test/...) is tree layout, not a partition claim, and binding
    // it would silently serve that value for every imported row.
    val srcRoot = FileStats.normPath(sfs.makeQualified(srcPath).toString)
    def relOf(p: String): String = {
      val n = FileStats.normPath(p)
      if (n == srcRoot) "" else n.stripPrefix(srcRoot + "/")
    }
    val partFields = PartField.parseSpec(m0.partitionBy)
    val idCols = partFields.filter(_.isIdentity).map(_.source)
    // parsed once, validated, then RECORDED on the manifest entries below
    val rawByPath: Map[String, Map[String, Option[String]]] =
      paths.map(p => FileStats.normPath(p) ->
        PartValues.parse(relOf(p), idCols)).toMap
    paths.foreach { p =>
      val raw = rawByPath(FileStats.normPath(p))
      idCols.foreach { c =>
        require(raw.contains(c),
          s"add_files source $p carries no '$c=<value>' directory " +
            s"segment BELOW the source root $source, but $namespace.$name " +
            s"is partitioned by (${m0.partitionBy.mkString(", ")}) — " +
            "identity partition values bind from the hive layout under " +
            "the root (segments at or above it never count); lay the " +
            "source out as hive directories matching the current " +
            "partition spec and point add_files at their root, or import " +
            "into an unpartitioned table and evolve the spec afterwards")
        require(raw(c).isEmpty ||
            PartValues.decodeExternal(tableSchema, Seq(c), raw).contains(c),
          s"add_files source $p: partition segment '$c=${raw(c).get}' " +
            s"does not parse as ${tableSchema(c).dataType.simpleString} — " +
            "fix the directory value or import into an unpartitioned table")
      }
      partFields.filterNot(_.isIdentity).foreach { t =>
        require(
          !PartValues.parse(relOf(p), Seq(t.fieldName)).contains(t.fieldName),
          s"add_files source $p carries a '${t.fieldName}=' segment for " +
            s"transform ${t.spec}: transform values are engine-computed " +
            "and an import cannot verify a foreign claim (a wrong value " +
            "would silently corrupt pruning) — strip the segment (the " +
            "file then reads its source column from data and simply " +
            "never transform-prunes) or load via INSERT")
      }
    }
    // schema gate, ONE footer pass shared with the stats collection: each
    // file's Spark-visible schema must be a same-typed subset of the
    // table's. Extras are refused (a later ADD COLUMN of the same name
    // would resurrect them); missing columns read as NULL like any
    // pre-ADD-COLUMN era file (identity partition columns bind from the
    // directory layout, so they are expected missing in hive sources).
    val tTypes = tableSchema.fields.map(f => f.name -> f.dataType).toMap
    val collected = FileStats.collectWithSchema(conf, paths)
    collected.foreach { case (st, fileSchema) =>
      fileSchema.fields.foreach { f =>
        require(tTypes.contains(f.name),
          s"foreign column '${f.name}' is not in $namespace.$name " +
            s"(${tableSchema.fieldNames.mkString(", ")}): ${st.path}")
        require(f.dataType.catalogString == tTypes(f.name).catalogString,
          s"column '${f.name}' is ${f.dataType.catalogString} in the " +
            s"imported files but ${tTypes(f.name).catalogString} in " +
            s"$namespace.$name — widen/convert the table schema first")
      }
    }
    val added = collected.map(_._1)
    // optimistic retry, append's shape: the imported files are valid
    // against any newer current snapshot (a bag union by reference), so a
    // lost version race just recomputes the carry — nothing is rewritten.
    // A concurrent schema change aborts loudly (the schema gate above
    // validated against m0).
    val importSet = paths.map(FileStats.normPath).toSet
    MetaIo.retryCommit(fs, tableDir) { m =>
      require(m.schemaDdl == m0.schemaDdl && m.partitionBy == m0.partitionBy &&
        m.sortOrder == m0.sortOrder,
        s"add_files to $namespace.$name raced a concurrent schema change — aborting")
      val prev = m.currentSnapshot
      val cur = prev.map(visibleFiles).getOrElse(Nil)
      cur.foreach(f => require(!importSet(FileStats.normPath(f.path)),
        s"file already referenced by $namespace.$name: ${f.path}"))
      // stamp the import snapshot as each entry's era: foreign paths carry
      // no data/snap-N segment, so without this the files would read as
      // "newest" FOREVER — a later spec change, rename, or MOR equality
      // delete would then silently misresolve them (NULL partition values,
      // NULL renamed columns, undeleteable rows). The root-relative
      // partition values validated above are recorded alongside (recorded
      // even when EMPTY — era >= 0 is the marker): readers bind imported
      // partition values from the entry, never from the absolute path.
      val importEra = m.snapshots.map(_.snapshotId).maxOption.getOrElse(0L) + 1
      val stamped = added.map(f => f.copy(era = importEra,
        partVals = PartValues.toRecorded(rawByPath(FileStats.normPath(f.path)))))
      commitSnapshot(m, "add_files",
        prev.map(s => FileStats.dataDirsOf(fs, s)).getOrElse(Nil),
        stamped, carried = cur,
        carriedDeletes =
          prev.map(s => FileStats.deletesOf(fs, s)).getOrElse(Nil))
    }
  }

  /** Collapse the current snapshot's manifest delta chain into one full
    * document (the `rewrite_manifests` maintenance op). Appends keep commit
    * IO O(change) by writing delta manifests (see [[ManifestDoc]]); this op
    * — and the automatic rebase every `manifest.chain-cap` commits — bounds
    * the chain depth readers resolve. Pure metadata: the snapshot id, its
    * visible files, and every query result are unchanged; only the
    * REPRESENTATION of the file list rolls up. No-op (no commit) when the
    * current manifest is already full. Returns the chain length collapsed.
    */
  def rewriteManifests(): Int = {
    val m = meta
    m.currentSnapshot match {
      case Some(s) =>
        val doc = MetaIo.readManifestDoc(fs, s.manifestFile)
        if (doc.chainLen == 0) 0
        else {
          val mf = MetaIo.writeManifestFull(fs, tableDir, s.snapshotId, doc)
          MetaIo.commit(fs, tableDir, m.copy(version = m.version + 1,
            snapshots = m.snapshots.map(x =>
              if (x.snapshotId == s.snapshotId) x.copy(manifestFile = mf)
              else x)))
          doc.chainLen
        }
      case _ => 0
    }
  }

  /** Snapshot expiry (the Iceberg `expire_snapshots` maintenance op): keep
    * the most recent `keepLast` snapshots, drop the rest from the metadata
    * log, and physically delete data directories referenced only by dropped
    * snapshots. Time travel to an expired id fails loudly; current reads are
    * unaffected. Because copy-on-write snapshots list every carried file's
    * directory in `dataDirs`, a directory is safe to delete exactly when no
    * kept snapshot lists it.
    */
  def expireSnapshots(keepLast: Int): IceTable = {
    require(keepLast >= 1, "keepLast must be >= 1")
    expireKeeping(sorted => sorted.takeRight(keepLast).map(_.snapshotId).toSet)
  }

  /** Time-based expiry (Iceberg's `expire_snapshots(older_than)`): drop
    * snapshots whose commit timestamp is strictly before `olderThanMs`,
    * always retaining the newest `retainLast` (default 1) regardless of
    * age — an idle table must never expire itself empty. Refs and the
    * current snapshot are immune as ever.
    */
  def expireSnapshotsOlderThan(olderThanMs: Long, retainLast: Int = 1): IceTable = {
    require(retainLast >= 1, "retainLast must be >= 1")
    expireKeeping { sorted =>
      sorted.filter(_.timestampMs >= olderThanMs).map(_.snapshotId).toSet ++
        sorted.takeRight(retainLast).map(_.snapshotId)
    }
  }

  private def expireKeeping(
      keepIds: Seq[SnapshotMeta] => Set[Long]): IceTable = {
    val m = meta
    val sorted = m.snapshots.sortBy(_.snapshotId)
    // tagged snapshots are immune: a ref means "someone depends on exactly
    // this version" (Iceberg's retain-refs semantics), and the CURRENT
    // snapshot after a rollback may be older than the retention window
    val pinned = m.refIds + m.currentSnapshotId
    val tail = keepIds(sorted)
    val keep = sorted.filter(s => tail(s.snapshotId) || pinned(s.snapshotId))
    if (m.currentSnapshotId != 0L)
      require(keep.exists(_.snapshotId == m.currentSnapshotId),
        s"expiry would drop the current snapshot of $namespace.$name")
    val dropped = sorted.filterNot(s => keep.exists(_.snapshotId == s.snapshotId))
    if (dropped.isEmpty) return this
    // resolve directory sets BEFORE committing the trim (dropped snapshots'
    // manifest documents hold their dir lists and are deleted below)
    val keepDirs = keep.flatMap(s => FileStats.dataDirsOf(fs, s)).toSet
    val droppedDirs = dropped.flatMap(s => FileStats.dataDirsOf(fs, s)).toSet
    // commit the trimmed metadata FIRST, delete after: a crash between the
    // two leaves only harmless orphan directories, never committed metadata
    // pointing at deleted paths (Iceberg's ordering)
    // table-level stats entries ride the same retention: an entry whose
    // snapshot is expired can never be served again (the freshness gate
    // requires its snapshot to be CURRENT), so carrying it would grow
    // every future metadata version for nothing
    val keptIds = keep.map(_.snapshotId).toSet
    MetaIo.commit(fs, tableDir, m.copy(
      snapshots = keep,
      tableStats = m.tableStats.filter(e => keptIds(e.snapshotId)),
      version = m.version + 1))
    (droppedDirs -- keepDirs).toSeq.sorted
      .foreach(d => fs.delete(new Path(d), true))
    // a dropped snapshot's manifest file may still be REACHABLE: kept
    // snapshots' delta-chain documents resolve through their predecessors'
    // manifests, and those predecessors are exactly what expiry drops.
    // Delete only what no kept snapshot's chain touches.
    val reachable = keep
      .flatMap(s => MetaIo.manifestChain(fs, s.manifestFile)).toSet
    dropped.filter(s => !reachable(s.manifestFile))
      .foreach(s => fs.delete(new Path(s.manifestFile), false))
    this
  }
}
