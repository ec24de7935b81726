package graft.sources.v2

import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.Offset
import org.apache.spark.sql.types.StructType

import graft.icelite.{FileStats, PartField, PartValues}

/** Streaming CDC changelog source: `readStream.format("icelite")
  * .option("changelog", "true")` tails the snapshot log and emits every
  * committed ROW CHANGE — the streaming twin of `IceTable.changelog` /
  * the `icelite_changes` TVF, and the Delta `readChangeFeed` analog.
  *
  * Offsets, admission control, AvailableNow, and exactly-once replay are
  * inherited from the plain append tail ([[IceLiteMicroBatchStream]]);
  * only partition planning and the reader shape differ. Each snapshot in a
  * batch's `(from, to]` range contributes:
  *
  *  - its ADDED files, served as 'insert' rows — plain file reads;
  *  - each NEW position-delete file, resolved to the rows it killed: one
  *    partition per affected data file whose reader serves ONLY the named
  *    positions (`matchDeleteFiles` inversion) — no join, row-local;
  *  - each NEW equality-delete file, resolved against the rows live at the
  *    PARENT snapshot: one partition per era+bounds-eligible file that
  *    first subtracts the parent's outstanding debt, then serves only
  *    key-tuple matches (`matchEqDeletes` inversion).
  *
  * `_change_type` / `_commit_snapshot_id` ride the constant-column
  * mechanism (same vectors as hive-partition values), so the reader needs
  * no changelog-specific row assembly. Planning cost tracks the window's
  * changes — added files plus delete-affected files — never table size,
  * with the non-rewriting proof metadata-O(1) via the inline manifest
  * counts. Rewriting snapshots (compaction, replace, copy-on-write ops)
  * fail loudly, as do rename/widen/partition-evolution histories: their
  * per-file-era serving is not wired into this mode (the batch changelog
  * covers them).
  */
private[v2] class IceLiteChangelogStream(
    warehouse: String, ns: String, tbl: String,
    // the RELATION schema: table columns (possibly pruned) plus whichever
    // of _change_type/_commit_snapshot_id survived pruning
    tableSchema: StructType,
    partitionBy: Seq[String],
    maxFilesPerTrigger: Option[Int],
    startSnapshotId: Long = 0L,
    // filters pushed by StreamScanPruning — prune BOTH change sides before
    // IO: an added file (insert rows) or a delete-affected parent file
    // (delete rows) whose partition values / stats cannot match the filter
    // emits no qualifying change row, so skipping it is conservative.
    pushedFilters: Seq[org.apache.spark.sql.sources.Filter] = Nil,
    // byte-based admission cap (`maxBytesPerTrigger`)
    maxBytesPerTrigger: Option[Long] = None)
    extends IceLiteMicroBatchStream(
      warehouse, ns, tbl, tableSchema, partitionBy, maxFilesPerTrigger,
      startSnapshotId = startSnapshotId, pushedFilters = pushedFilters,
      maxBytesPerTrigger = maxBytesPerTrigger) {

  private val identityBy = PartField.identityCols(partitionBy)
  private val constNames: Seq[String] = identityBy ++
    Seq(IceLiteScan.ChangeTypeCol, IceLiteScan.CommitSnapCol)
      .filter(tableSchema.fieldNames.contains)
  private val dataSchema = StructType(
    tableSchema.fields.filterNot(f => constNames.contains(f.name)))
  private val partSchema = StructType(
    tableSchema.fields.filter(f => constNames.contains(f.name)))

  // Conservative per-file pruning for the pushed stream filters, applied
  // to BOTH change sides: an added file (insert rows) or a delete-affected
  // parent file (delete rows) only ever emits rows carrying its own
  // partition values / within its own stats, so a file that cannot match
  // the filter contributes no qualifying change row and is skipped before
  // IO. Delegates to the parent's one shared predicate; changelog mode
  // refuses partition-evolution histories, so the one spec is partitionBy.
  private def fileCanMatch(f: graft.icelite.FileStat): Boolean =
    fileCanMatchWith(f, partitionBy)

  /** Admission control, changelog-aware: the parent charges each snapshot
    * its ADDED file count / bytes, but a delete-bearing snapshot
    * additionally fans out one partition per affected parent file — a
    * fanout the snapshot-granular offsets cannot split. Under a
    * maxFilesPerTrigger or maxBytesPerTrigger cap, a snapshot with NEW
    * delete files therefore CLOSES its batch: at most one
    * delete-resolution per micro-batch, so the caps keep meaning "bounded
    * batches" while draining MOR history. Detection is O(1) via the
    * inline delete-file counts. Both cap kinds (and their composite) flow
    * through the same loop — a byte cap must never silently degrade to
    * admit-everything here.
    */
  override def latestOffset(
      start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset = {
    val from = start.asInstanceOf[IceOffset].snapshotId
    val m = currentMeta
    val head = availableNowEnd.getOrElse(m.currentSnapshotId)
    val (maxF, maxB) = readCaps(limit)
    if (maxF.isEmpty && maxB.isEmpty) return IceOffset(head)
    val pending = m.snapshots
      .filter(s => s.snapshotId > from && s.snapshotId <= head)
      .sortBy(_.snapshotId)
    var to = from
    var usedF = 0L
    var usedB = 0L
    var admitted = 0
    var prevDeleteCount =
      m.snapshots.filter(_.snapshotId <= from)
        .maxByOption(_.snapshotId).map(_.deleteFileCount).getOrElse(0L)
    val it = pending.iterator
    var open = true
    while (open && it.hasNext) {
      val s = it.next()
      val n = s.addedFileCount
      val b = if (maxB.isDefined) s.addedByteCount else 0L
      val fits = maxF.forall(usedF + n <= _) && maxB.forall(usedB + b <= _)
      if (admitted == 0 || fits) {
        to = s.snapshotId; usedF += n; usedB += b; admitted += 1
        if (s.deleteFileCount != prevDeleteCount) open = false
        prevDeleteCount = s.deleteFileCount
      } else open = false
    }
    IceOffset(to)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[IceOffset].snapshotId
    val to = end.asInstanceOf[IceOffset].snapshotId
    val (m, fs) = IceLiteV2.loadMeta(warehouse, ns, tbl)
    FileStats.requireHistory(m, from,
      s"changelog stream of $ns.$tbl (reset the checkpoint)")
    require(m.renames.isEmpty && m.widenedColumns.isEmpty && m.partitionSpecs.isEmpty,
      s"changelog streaming of $ns.$tbl requires a rename/widen/" +
        "partition-evolution-free history (use the batch changelog for those)")
    val tableStruct = StructType.fromDDL(m.schemaDdl)
    val range = m.snapshots
      .filter(s => s.snapshotId > from && s.snapshotId <= to)
      .sortBy(_.snapshotId)
    val parts = Seq.newBuilder[InputPartition]
    for (s <- range) {
      val parent = m.snapshots.filter(_.snapshotId < s.snapshotId)
        .maxByOption(_.snapshotId)
      require(FileStats.isNonRewriting(parent, s),
        s"changelog stream of $ns.$tbl hit rewriting snapshot " +
          s"#${s.snapshotId} (${s.operation}) — changelog streams are " +
          "defined over append/merge-on-read history only (reset the " +
          "checkpoint past it, or replay via a batch diff)")
      // imported (recorded-era) entries bind identity partition values
      // from their manifest entry, never from the foreign absolute path
      def consts(tpe: String, path: String,
          st: Option[graft.icelite.FileStat]): Map[String, Option[String]] =
        st.map(_.partRaw(identityBy))
          .getOrElse(PartValues.parse(path, identityBy)) ++
          (if (tableSchema.fieldNames.contains(IceLiteScan.ChangeTypeCol))
            Map(IceLiteScan.ChangeTypeCol -> Some(tpe)) else Map.empty) ++
          (if (tableSchema.fieldNames.contains(IceLiteScan.CommitSnapCol))
            Map(IceLiteScan.CommitSnapCol -> Some(s.snapshotId.toString))
          else Map.empty)
      // inserts: the snapshot's own added rows, as written (its own eq
      // delete exempts them; MOR positions only ever target older files)
      // normalized membership (FileStats.normPath): a spelling mismatch
      // would silently emit NO insert rows for the snapshot while the
      // admission loop still advances past it — dropped CDC rows
      val addedPaths = FileStats.addedPathsOf(fs, s).map(FileStats.normPath).toSet
      FileStats.visible(fs, s)
        .filter(f => addedPaths(FileStats.normPath(f.path)) && fileCanMatch(f))
        .foreach { f =>
          parts += IceLiteInputPartition(f.path, f.bytes, consts("insert", f.path, Some(f)))
        }
      // deletes committed BY this snapshot, resolved to the rows they
      // killed; parent manifests materialize lazily (eq resolution only)
      def normPath(p: String) = FileStats.normPath(p)
      lazy val pFiles = parent.map(FileStats.visible(fs, _)).getOrElse(Nil)
      lazy val pDeletes = parent.map(FileStats.deletesOf(fs, _)).getOrElse(Nil)
      lazy val pByPath = pFiles.map(f => normPath(f.path) -> f).toMap
      for (d <- FileStats.newDeletesOf(fs, parent, s)) {
        if (!d.isEquality) {
          // positions were live when committed (stacked deletes are
          // excluded at write) — serve the named positions raw; a target
          // file that cannot match the pushed filters emits no qualifying
          // delete row (unknown stat = keep, conservative)
          d.appliesTo.foreach { e =>
            if (pByPath.get(normPath(e.path)).forall(fileCanMatch))
              parts += IceLiteInputPartition(e.path, 0L, consts("delete", e.path, pByPath.get(normPath(e.path))),
                matchDeleteFiles = Seq(d.path))
          }
        } else {
          // rows live at the PARENT snapshot (its debt applied) in
          // era+bounds-eligible files whose key tuples match
          val eligible = pFiles.filter(f =>
            FileStats.eqAppliesTo(d, f, tableStruct) && fileCanMatch(f))
          // normalized membership (FileStats.normPath) — a raw string miss
          // here would skip the parent's position debt and re-emit an
          // already-deleted row as a second delete event. Normalized ONCE
          // per delete file, not per (file × delete × path).
          val posDebt = pDeletes.filterNot(_.isEquality)
            .map(pd => pd.path -> pd.dataFiles.map(normPath).toSet)
          eligible.foreach { f =>
            val fNorm = normPath(f.path)
            val delFor = posDebt.collect {
              case (path, dataFiles) if dataFiles(fNorm) => path
            }
            val eqFor = pDeletes.filter(pd =>
              pd.isEquality && FileStats.eqAppliesTo(pd, f, tableStruct))
            // key columns the projection pruned away re-enter the local
            // read schema; the file-level permutation keeps them out of
            // the served row
            val neededKeys = (eqFor :+ d).flatMap(_.eqCols).distinct
              .filterNot(dataSchema.fieldNames.contains)
            val fileData =
              if (neededKeys.isEmpty) dataSchema
              else StructType(dataSchema.fields ++ neededKeys.map(tableStruct(_)))
            def task(ds: graft.icelite.DeleteStat): EqDeleteTask = {
              val keyIdx = ds.eqCols.map(c => fileData.fieldNames.indexOf(c))
              require(keyIdx.forall(_ >= 0),
                s"changelog stream: eq-delete key columns " +
                  s"${ds.eqCols.mkString(",")} missing from the read schema")
              EqDeleteTask(ds.path,
                StructType(ds.eqCols.map(c => tableStruct(c))).json, keyIdx)
            }
            val base = IceLiteInputPartition(f.path, f.bytes,
              consts("delete", f.path, Some(f)),
              deleteFiles = delFor, eqDeletes = eqFor.map(task),
              matchEqDeletes = Seq(task(d)))
            parts +=
              (if (neededKeys.isEmpty) base
              else {
                // a per-file permutation REPLACES the factory's declared-
                // order one, so it must map local (fileData ++ constants)
                // DIRECTLY onto the declared relation order — the same
                // contract as the parent stream's evolution branch (a
                // physical-order perm would transpose columns whenever an
                // identity partition column precedes a data column)
                val localNames = fileData.fieldNames ++ partSchema.fieldNames
                base.copy(
                  fileDataSchemaJson = fileData.json,
                  filePartSchemaJson = partSchema.json,
                  filePerm = tableSchema.fieldNames
                    .map(localNames.indexOf(_)).toSeq)
              })
          }
        }
      }
    }
    parts.result().toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // declared-order binding, same as the parent stream — and row mode
    // throughout: delete-resolution partitions must count absolute
    // positions, and Spark refuses mixed row/columnar partitions
    val physical = (dataSchema.fields ++ partSchema.fields).map(_.name)
    val perm = tableSchema.fieldNames.map(physical.indexOf(_)).toSeq
    IceLiteV2.readerFactory(dataSchema, partSchema, Array.empty,
      if (perm == perm.indices) Nil else perm, rowMode = true)
  }
}
