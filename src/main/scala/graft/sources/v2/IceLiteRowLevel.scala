package graft.sources.v2

import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

import graft.icelite.{DeleteStat, FileStat, FileStats, MetaIo, MorDelta, PosDeleteWriter, SnapshotMeta}

/** What a row-level operation's scan reports back to its operation: the
  * files it planned. Group-based ops replace exactly those files at commit;
  * delta ops validate their position deletes against them.
  */
private[v2] trait RowLevelPlanHook {
  private[v2] def recordPlanned(fs: Seq[FileStat]): Unit
}

/** Group-based (copy-on-write) row-level operations: SQL `UPDATE`,
  * `MERGE INTO`, and the rewrite form of `DELETE` against icelite tables.
  *
  * Spark's rewrite plans work in groups: the operation's scan selects the
  * files that MAY contain affected rows (manifest-stat + partition-value
  * pruning on the pushed condition — the same `FilePrune` machinery as
  * plain scans), the rewrite query recomputes the full post-operation
  * content of exactly those files, and the operation's write commits a
  * snapshot in which the scanned files are replaced by the newly written
  * ones while every unscanned file carries forward untouched. A 1-row
  * UPDATE on a 100 TB table therefore rewrites one file.
  *
  * Two properties keep this correct:
  *  - the row-level scan NEVER drops rows inside a planned file (filters
  *    stay residual AND no parquet row-group predicate is installed —
  *    skipped rows would silently vanish from the rewrite);
  *  - scan and write are paired through this operation instance: whatever
  *    the scan planned is exactly what commit() replaces, so the pairing
  *    holds under AQE replanning (recording is idempotent by path).
  */
private[v2] class IceLiteRowLevelOperation(
    warehouse: String, ns: String, tbl: String,
    tableSchema: StructType, partitionBy: Seq[String], files: Seq[FileStat],
    cmd: RowLevelOperation.Command,
    renames: Seq[graft.icelite.ColumnRename] = Nil,
    specs: Seq[graft.icelite.PartSpecChange] = Nil,
    // outstanding position deletes: the operation's scan must apply them
    // (rewritten files are rebuilt from POST-delete content) and its
    // commit carries the survivors' entries forward
    deletes: Seq[graft.icelite.DeleteStat] = Nil)
    extends RowLevelOperation with RowLevelPlanHook {

  private val scanned =
    new java.util.concurrent.ConcurrentHashMap[String, FileStat]()

  private[v2] def recordPlanned(fs: Seq[FileStat]): Unit =
    fs.foreach(f => scanned.put(f.path, f))

  /** The delete set the operation's scan APPLIED (captured at table load):
    * commit() must verify the table still carries exactly this set — a MOR
    * delete committed since load would be silently dropped for replaced
    * files (their rewrite predates it), resurrecting deleted rows.
    */
  private[v2] def plannedDeletes: Seq[graft.icelite.DeleteStat] = deletes

  private[v2] def scannedPaths: Set[String] = {
    import scala.jdk.CollectionConverters._
    scanned.keySet().asScala.toSet
  }

  override def command(): RowLevelOperation.Command = cmd

  /** Requesting `_file` does two jobs: it is the natural bookkeeping column
    * of a group-based operation (which file each row came from), and its
    * presence makes Spark build a metadata projection for the rewrite —
    * ReplaceDataExec applies the paired DATA projection only then, so the
    * writer receives exactly table-shaped rows instead of raw query rows
    * with bookkeeping columns prepended (whose layout is an implementation
    * detail of the rewrite plan and not stable across Spark versions).
    */
  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column(
      IceLiteScan.FileMetaCol))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new IceLiteScanBuilder(warehouse, ns, tbl, tableSchema, partitionBy, files,
      rowLevel = Some(this), renames = renames, specs = specs, deletes = deletes)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new IceLiteReplaceGroupsWriteBuilder(warehouse, ns, tbl, partitionBy,
      info.schema(), this)

  override def description(): String =
    s"icelite row-level ${cmd.toString.toLowerCase} of $ns.$tbl"
}

/** Write half of a row-level operation: identical task-level mechanics to
  * the append write (staging dir, per-task parquet files with executor-side
  * stats, abort cleanup), but commit() REPLACES the operation's scanned
  * files instead of carrying the full previous file set.
  */
private[v2] class IceLiteReplaceGroupsWriteBuilder(
    warehouse: String, ns: String, tbl: String, partitionBy: Seq[String],
    schema: StructType, op: IceLiteRowLevelOperation)
    extends WriteBuilder {

  override def build(): Write = {
    // COW rewrites of a sorted table must re-sort what they rewrite, or a
    // single UPDATE would silently break the reported ordering
    val dir = new Path(new Path(warehouse, ns), tbl)
    val sortOrder = MetaIo.read(
      dir.getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration),
      dir).sortOrder
    IceLiteWriteShape.of(partitionBy,
      new IceLiteReplaceGroupsBatchWrite(warehouse, ns, tbl, partitionBy, schema, op),
      sortOrder = sortOrder,
      // row-level SQL (DELETE/UPDATE/MERGE) only ever reaches a table
      // through the catalog, so transforms are always resolvable here
      transformsResolvable = true)
  }
}

private[v2] class IceLiteReplaceGroupsBatchWrite(
    warehouse: String, ns: String, tbl: String, partitionBy: Seq[String],
    schema: StructType, op: IceLiteRowLevelOperation) extends BatchWrite {

  private val stagingName = s".staging-${UUID.randomUUID()}"
  private def tableDir = new Path(new Path(warehouse, ns), tbl)
  private def hadoopConf = SparkSession.active.sparkContext.hadoopConfiguration
  private def fs = tableDir.getFileSystem(hadoopConf)
  // metadata baseline as of write build: the schema-race guard's anchor
  // (same contract as IceLiteDeltaBatchWrite)
  private val m0 = MetaIo.read(fs, tableDir)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new IceLiteWriterFactory(
      new Path(tableDir, s"data/$stagingName").toString, schema.toDDL,
      partitionBy,
      new org.apache.spark.util.SerializableConfiguration(hadoopConf),
      rowLevel = true, ndvCols = IceLiteDataWriter.ndvColsConf)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val m = MetaIo.read(fs, tableDir)
    val added0 = messages.collect { case msg: IceLiteCommitMessage => msg.stats }
      .toSeq.flatten
    // a no-op operation (nothing scanned, nothing written) must not commit
    // a snapshot: a spurious non-append entry would break incremental and
    // streaming readers for no change at all
    if (op.scannedPaths.isEmpty && added0.isEmpty) {
      abort(messages)
      return
    }
    val operation = op.command().toString.toLowerCase
    // the rewrite was computed against load-time state — schema shape and
    // the outstanding delete set both fed the scan. A concurrent schema
    // change, or a MOR row-level delete committed since load, would be
    // silently dropped for the replaced files (their rewrite predates it):
    // abort loudly instead, mirroring IceLiteDeltaBatchWrite's guards.
    require(m.sameEvolution(m0),
      s"$operation on $ns.$tbl raced a concurrent schema change — aborting")
    require(m.currentSnapshot.map(s => FileStats.deletesOf(fs, s))
        .getOrElse(Nil) == op.plannedDeletes,
      s"$operation on $ns.$tbl raced a concurrent row-level delete — aborting")
    val snapId = m.snapshots.map(_.snapshotId).maxOption.getOrElse(0L) + 1
    val dataDir = new Path(tableDir, f"data/snap-$snapId%05d")
    val staging = new Path(tableDir, s"data/$stagingName")
    if (!fs.exists(staging)) fs.mkdirs(staging) // zero-partition rewrite
    require(fs.rename(staging, dataDir),
      s"failed to publish staging dir for $ns.$tbl snapshot $snapId")
    val added = added0
      .map(st => st.copy(path = fs.makeQualified(new Path(
        st.path.replace(s"data/$stagingName", f"data/snap-$snapId%05d"))).toString))
      .sortBy(_.path)
    val prev = m.currentSnapshot
    val visible = prev.map(p => FileStats.visible(fs, p)).getOrElse(Nil)
    val replaced = op.scannedPaths
    val carried = visible.filterNot(f => replaced.contains(f.path))
    val carriedDirs = prev.map(p => FileStats.dataDirsOf(fs, p)).getOrElse(Nil)
      .filter(d =>
        carried.exists(f => fs.makeQualified(new Path(f.path)).toString
          .startsWith(fs.makeQualified(new Path(d)).toString + "/")))
    val addedRows = added.map(_.rows).sum
    val carriedRows = carried.map(_.rows).sum
    // replaced files were rebuilt from POST-delete content; carried files
    // keep their position-delete entries (and the delete dirs stay
    // referenced so expiry cannot reclaim them early)
    val carriedDeletes = FileStats.trimDeletes(
      prev.map(p => FileStats.deletesOf(fs, p)).getOrElse(Nil),
      carried.map(f => fs.makeQualified(new Path(f.path)).toString).toSet)
    val delDirs = carriedDeletes
      .map(d => new Path(d.path).getParent.toString).distinct
    val snap = SnapshotMeta(
      snapshotId = snapId, timestampMs = System.currentTimeMillis(),
      operation = operation,
      dataDirs = carriedDirs ++ delDirs :+ dataDir.toString,
      addedFiles = added.map(_.path), addedRows = addedRows,
      totalRows = carriedRows + addedRows - carriedDeletes.map(_.rows).sum,
      schemaDdl = m.schemaDdl,
      files = (carried ++ added).sortBy(_.path),
      deletes = carriedDeletes,
      parentId = m.currentSnapshotId)
    MetaIo.commit(fs, tableDir, m.copy(
      currentSnapshotId = snapId,
      snapshots = m.snapshots :+ snap,
      version = m.version + 1))
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val staging = new Path(tableDir, s"data/$stagingName")
    if (fs.exists(staging)) fs.delete(staging, true)
    ()
  }
}

// ---------------------------------------------------------------------------
// Delta-based (merge-on-read) row-level operations
// ---------------------------------------------------------------------------

/** Delta-based row-level operations: SQL `DELETE` / `UPDATE` / `MERGE INTO`
  * against tables declaring `write.<command>.mode = 'merge-on-read'`.
  *
  * Where the group-based operation rewrites every file that MAY contain an
  * affected row, the delta operation writes only the CHANGE: position-delete
  * files naming the `(data file, row position)` pairs that vanish, plus
  * ordinary data files for inserted/updated rows. A 1-row UPDATE against a
  * 100 TB table writes one tiny delete file and one tiny data file — no
  * existing file is touched. Scans subtract the positions at read
  * (merge-on-read); `compact` / `rewrite_position_deletes` fold the debt.
  *
  * The row id is `(_file, _pos)` — both served by the scan as metadata
  * columns, `_pos` forcing the position-counting row reader whose positions
  * stay ABSOLUTE (no row-group skipping). Updates are represented as
  * delete + reinsert, so one writer shape covers all three commands.
  *
  * The API's merge-on-read paths (`IceTable.deleteWhereMor` — also SQL
  * `DELETE` on such a table, which Spark routes through `deleteWhere` —
  * and `IceTable.upsertMor`) share the two halves that matter with this
  * path: the task-side position-delete file writer
  * ([[graft.icelite.PosDeleteWriter]]) and the validated snapshot build
  * ([[graft.icelite.MorDelta.commit]]).
  */
private[v2] class IceLiteDeltaOperation(
    warehouse: String, ns: String, tbl: String,
    tableSchema: StructType, partitionBy: Seq[String], files: Seq[FileStat],
    cmd: RowLevelOperation.Command,
    renames: Seq[graft.icelite.ColumnRename] = Nil,
    widened: Seq[String] = Nil,
    specs: Seq[graft.icelite.PartSpecChange] = Nil,
    // outstanding deletes AS APPLIED BY THIS OPERATION'S SCAN: the rows it
    // serves are post-delete, so commit() must verify the set is unchanged
    // (a concurrent row-level delete would invalidate computed positions)
    deletes: Seq[DeleteStat] = Nil,
    // declared table sort order — inserted files must keep the contract
    sortOrder: Seq[String] = Nil)
    extends RowLevelOperation with SupportsDelta with RowLevelPlanHook {

  override def command(): RowLevelOperation.Command = cmd

  override def rowId(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(
      org.apache.spark.sql.connector.expressions.Expressions.column(IceLiteScan.FileMetaCol),
      org.apache.spark.sql.connector.expressions.Expressions.column(IceLiteScan.PosMetaCol))

  // one writer shape for all three commands: UPDATE rows arrive as a
  // position delete of the old row plus a reinsert of the new one
  override def representUpdateAsDeleteAndInsert(): Boolean = true

  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array.empty // the row id carries everything the writer needs

  // the delta scan records planned files purely for commit-time validation
  private val planned =
    new java.util.concurrent.ConcurrentHashMap[String, FileStat]()
  private[v2] def recordPlanned(fs: Seq[FileStat]): Unit =
    fs.foreach(f => planned.put(f.path, f))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new IceLiteScanBuilder(warehouse, ns, tbl, tableSchema, partitionBy, files,
      rowLevel = Some(this), renames = renames, widened = widened,
      specs = specs, deletes = deletes)

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite =
        new IceLiteDeltaWrite(warehouse, ns, tbl, partitionBy, sortOrder,
          tableSchema, IceLiteDeltaOperation.this, deletes)
    }

  override def description(): String =
    s"icelite delta (merge-on-read) ${cmd.toString.toLowerCase} of $ns.$tbl"
}

/** Write half of a delta operation. Declares the distribution/ordering that
  * keeps the output file count bounded at any scale:
  *
  *  - cluster by the target PARTITION transforms then `_file`: every data
  *    file's deletes land in ONE task (one delete file per affected task,
  *    not per affected file), and inserted rows land with their target
  *    partition;
  *  - order by `(_file NULLS FIRST, _pos, partition sources, sort order)`:
  *    insert rows (null `_file`/`_pos`) come first, sorted exactly the way
  *    the partitioned data writer wants them (one open file at a time,
  *    declared sort order maintained); delete rows follow grouped by file
  *    in position order, so delete files stay sequentially probeable.
  *
  * DELETE plans carry no data columns, so there the ordering is
  * `(_file, _pos)` alone.
  */
private[v2] class IceLiteDeltaWrite(
    warehouse: String, ns: String, tbl: String, partitionBy: Seq[String],
    sortOrder: Seq[String], schema: StructType, op: IceLiteDeltaOperation,
    priorDeletes: Seq[DeleteStat])
    extends DeltaWrite with RequiresDistributionAndOrdering {

  import org.apache.spark.sql.connector.expressions.{Expression, Expressions, SortDirection}

  private def isDelete = op.command() == RowLevelOperation.Command.DELETE

  private def fileRef: Expression = Expressions.column(IceLiteScan.FileMetaCol)
  private def posRef: Expression = Expressions.column(IceLiteScan.PosMetaCol)

  // partition grouping keys — resolvable because row-level SQL only ever
  // reaches a table through the catalog (its FunctionCatalog binds the
  // transforms); DELETE rows carry no data columns, so there only `_file`
  // clusters (its plan has nothing else to reference)
  private def groupExprs: Seq[Expression] =
    if (isDelete) Nil
    else partitionBy.map { entry =>
      val f = graft.icelite.PartField.parse(entry)
      if (f.isIdentity) Expressions.column(f.source): Expression
      else IceLiteScan.v2Transform(entry): Expression
    }

  override def requiredDistribution()
      : org.apache.spark.sql.connector.distributions.Distribution =
    org.apache.spark.sql.connector.distributions.Distributions.clustered(
      (groupExprs :+ fileRef).toArray)

  override def requiredOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    val base = Seq(fileRef, posRef)
    val dataCols =
      if (isDelete) Nil
      else (graft.icelite.PartField.sources(partitionBy) ++ sortOrder).distinct
        .map(c => Expressions.column(c): Expression)
    (base ++ dataCols)
      .map(e => Expressions.sort(e, SortDirection.ASCENDING)).toArray
  }

  override def toBatch: DeltaBatchWrite =
    new IceLiteDeltaBatchWrite(warehouse, ns, tbl, partitionBy, schema, op,
      priorDeletes)
}

/** One task's delta result: data files written for inserts, and (at most)
  * one position-delete file with its per-data-file position counts.
  */
private[v2] case class IceLiteDeltaCommitMessage(
    dataStats: Seq[FileStat], deletes: Option[DeleteStat]) extends WriterCommitMessage

private[v2] class IceLiteDeltaBatchWrite(
    warehouse: String, ns: String, tbl: String, partitionBy: Seq[String],
    schema: StructType, op: IceLiteDeltaOperation,
    priorDeletes: Seq[DeleteStat]) extends DeltaBatchWrite {

  private val stagingId = UUID.randomUUID().toString
  private def tableDir = new Path(new Path(warehouse, ns), tbl)
  private def hadoopConf = SparkSession.active.sparkContext.hadoopConfiguration
  private def fs = tableDir.getFileSystem(hadoopConf)
  private def qualify(p: String): String =
    fs.makeQualified(new Path(p)).toString
  // metadata baseline as of write build: the schema-race guard's anchor
  private val m0 = MetaIo.read(fs, tableDir)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory = {
    val dataStaging = new Path(tableDir, s"data/.staging-$stagingId").toString
    val delStaging = new Path(tableDir, s"data/.staging-del-$stagingId").toString
    val ddl = schema.toDDL
    val partBy = partitionBy
    val conf = new SerializableConfiguration(hadoopConf)
    val ndvCols = IceLiteDataWriter.ndvColsConf // driver-side capture
    (partitionId: Int, taskId: Long) =>
      new IceLiteDeltaWriter(dataStaging, delStaging, ddl, partBy,
        partitionId, taskId, conf, ndvCols)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val msgs = messages.collect { case m: IceLiteDeltaCommitMessage => m }.toSeq
    val added0 = msgs.flatMap(_.dataStats)
    val delMsgs = msgs.flatMap(_.deletes)
    if (added0.isEmpty && delMsgs.isEmpty) { abort(messages); return }

    // publish both staging dirs under writer-unique names BEFORE the commit
    // loop — a lost metadata race retries without touching data. The
    // snapshot id in the name is the write-time candidate: it labels the
    // file ERA only (equality-delete scoping), not the final snapshot id.
    val snapId0 = m0.snapshots.map(_.snapshotId).maxOption.getOrElse(0L) + 1
    val suffix = stagingId.take(8)
    val dataStaging = new Path(tableDir, s"data/.staging-$stagingId")
    val delStaging = new Path(tableDir, s"data/.staging-del-$stagingId")
    val dataDir = new Path(tableDir, f"data/snap-$snapId0%05d-$suffix")
    val delDir = new Path(tableDir, f"data/deletes-snap-$snapId0%05d-$suffix")
    val newDataDir =
      if (!fs.exists(dataStaging)) None
      else {
        require(fs.rename(dataStaging, dataDir),
          s"failed to publish delta data dir for $ns.$tbl")
        Some(dataDir.toString)
      }
    val newDelDir =
      if (!fs.exists(delStaging)) None
      else {
        require(fs.rename(delStaging, delDir),
          s"failed to publish delta delete dir for $ns.$tbl")
        Some(delDir.toString)
      }
    val added = added0
      .map(st => st.copy(path = qualify(
        st.path.replace(dataStaging.toString, dataDir.toString))))
      .sortBy(_.path)
    val newStats = delMsgs.map(d => MorDelta.qualified(fs,
      d.copy(path = d.path.replace(delStaging.toString, delDir.toString)))).sortBy(_.path)
    // positions were computed against immutable files under the delete set
    // this operation's scan applied: a concurrent APPEND keeps them valid
    // (re-attach); anything else aborts loudly (see MorDelta.commit)
    MorDelta.commit(fs, tableDir, s"$ns.$tbl", m0, priorDeletes, newStats, added,
      newDelDir.toSeq ++ newDataDir.toSeq, op.command().toString.toLowerCase)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    Seq(s"data/.staging-$stagingId", s"data/.staging-del-$stagingId")
      .foreach { d =>
        val p = new Path(tableDir, d)
        if (fs.exists(p)) fs.delete(p, true)
      }
    ()
  }
}

/** Task-side delta writer: inserts stream through the ordinary partitioned
  * data writer (same staging/footer-stats mechanics as appends); deletes
  * go to one per-task position-delete file through the shared
  * [[graft.icelite.PosDeleteWriter]], which counts positions per data file
  * for exact row accounting.
  */
private[v2] class IceLiteDeltaWriter(
    dataStaging: String, delStaging: String, schemaDdl: String,
    partitionBy: Seq[String], partitionId: Int, taskId: Long,
    conf: SerializableConfiguration, ndvCols: String = "*")
    extends DeltaWriter[InternalRow] {

  private val schema = StructType.fromDDL(schemaDdl)

  // inserts: lazily created so a pure DELETE task writes no data file
  private var dataWriter: IceLiteDataWriter = null
  private def dataW: IceLiteDataWriter = {
    if (dataWriter == null)
      dataWriter = new IceLiteDataWriter(dataStaging, schema, partitionBy,
        partitionId, taskId, conf, ndvCols = ndvCols)
    dataWriter
  }

  // deletes: one position-delete file, opened on the first delete
  private val delW = new PosDeleteWriter(delStaging, partitionId, taskId, conf.value)

  override def insert(row: InternalRow): Unit = dataW.write(row)

  // the row id ((_file, _pos)) is the delete-file row
  override def delete(metadata: InternalRow, id: InternalRow): Unit = delW.write(id)

  // unreachable under representUpdateAsDeleteAndInsert = true, but keep the
  // semantics correct should the planner shape ever change
  override def update(metadata: InternalRow, id: InternalRow, row: InternalRow): Unit = {
    delete(metadata, id)
    insert(row)
  }

  override def commit(): WriterCommitMessage = {
    val dataStats =
      if (dataWriter == null) Nil
      else dataWriter.commit() match {
        case IceLiteCommitMessage(stats) => stats
        case other => throw new IllegalStateException(s"unexpected $other")
      }
    IceLiteDeltaCommitMessage(dataStats, delW.commit())
  }

  override def abort(): Unit = {
    if (dataWriter != null) dataWriter.abort()
    delW.abort()
  }

  override def close(): Unit = ()
}
