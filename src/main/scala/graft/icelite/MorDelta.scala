package graft.icelite

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** Task side of a position delete: `(file_path, pos)` rows stream into one
  * parquet file, opened on the first row, while the positions are counted
  * per data file for exact row accounting. Shared by [[MorDelta.writePositions]]
  * and the SQL delta writer (`IceLiteDeltaWriter`).
  *
  * The input row IS the delete-file row (`file_path STRING, pos BIGINT` —
  * the SQL path's `(_file, _pos)` row id has the same layout), so it streams
  * through the same RecordConsumer write support as data rows, with no
  * per-row object.
  */
private[graft] final class PosDeleteWriter(
    dir: String, partitionId: Int, taskId: Long, conf: Configuration) {

  private var writer: org.apache.parquet.hadoop.ParquetWriter[InternalRow] = null
  private var file: String = ""
  private val counts = mutable.LinkedHashMap.empty[String, Long]

  def write(row: InternalRow): Unit = {
    if (writer == null) {
      file = f"$dir/del-$partitionId%05d-$taskId.parquet"
      writer = new graft.sources.v2.InternalRowWriterBuilder(new Path(file),
        new graft.sources.v2.InternalRowWriteSupport(
          PosDeleteWriter.Schema, PosDeleteWriter.MessageType, lead = 0))
        .withConf(conf).build()
    }
    val dataFile = row.getUTF8String(0).toString
    writer.write(row)
    counts.update(dataFile, counts.getOrElse(dataFile, 0L) + 1L)
  }

  /** Close the file. The delete it holds (paths as written, unqualified),
    * or None when this task deleted nothing and so wrote no file.
    */
  def commit(): Option[DeleteStat] =
    if (writer == null) None
    else {
      writer.close()
      Some(DeleteStat(file,
        counts.map { case (p, n) => DeleteFileEntry(p, n) }.toSeq))
    }

  /** Close and remove a partly written file; never throws. */
  def abort(): Unit =
    if (writer != null) {
      try writer.close() catch { case _: Exception => () }
      try {
        val p = new Path(file)
        val pfs = p.getFileSystem(conf)
        if (pfs.exists(p)) pfs.delete(p, false)
      } catch { case _: Exception => () }
    }
}

private[graft] object PosDeleteWriter {
  val Schema: StructType = StructType.fromDDL("file_path STRING, pos BIGINT")

  val MessageType: org.apache.parquet.schema.MessageType = {
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    Types.buildMessage()
      .addField(Types.optional(PrimitiveTypeName.BINARY)
        .as(LogicalTypeAnnotation.stringType()).named("file_path"))
      .addField(Types.optional(PrimitiveTypeName.INT64).named("pos"))
      .named("icelite_deletes")
  }
}

/** Merge-on-read deltas from the table API (`IceTable.deleteWhereMor`,
  * `IceTable.upsertMor`) and from SQL (`IceLiteDeltaBatchWrite`): the
  * one-job position-delete write and the one commit they share.
  */
private[graft] object MorDelta {

  val JobDescription = "icelite position-delete write"

  /** Write `rows` (`file_path STRING, pos BIGINT`) as position deletes under
    * `dir` in ONE Spark job: each task writes its own delete file and
    * returns its per-data-file counts. A narrow coalesce (no shuffle) sets
    * the task count, and so the file count, from `inputBytes`, the size of
    * the data files the plan reads: one task per
    * `spark.sql.files.maxPartitionBytes` of input, at least one and at most
    * `defaultParallelism`. A selective delete over small files therefore
    * writes one file; a wide one reads in parallel. Paths come back
    * fs-qualified, sorted, one [[DeleteStat]] per written file. Nil when
    * nothing matched, and then `dir` does not exist afterwards; a failed
    * job removes `dir` before rethrowing.
    */
  def writePositions(rows: DataFrame, dir: Path, fs: FileSystem,
      inputBytes: Long): Seq[DeleteStat] = {
    val sc = rows.sparkSession.sparkContext
    val perTask = math.max(1L, SQLConf.get.filesMaxPartitionBytes)
    val tasks = math.min(math.max(1, sc.defaultParallelism).toLong,
      math.max(1L, (inputBytes + perTask - 1) / perTask)).toInt
    val conf = new SerializableConfiguration(sc.hadoopConfiguration)
    val dirName = fs.makeQualified(dir).toString
    val written = mutable.ArrayBuffer.empty[DeleteStat]
    val prevDesc = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(JobDescription)
    try {
      val qe = rows.queryExecution
      SQLExecution.withNewExecutionId(qe, Some(JobDescription)) {
        sc.runJob(qe.toRdd.coalesce(tasks), (ctx: TaskContext, it: Iterator[InternalRow]) => {
          val w = new PosDeleteWriter(dirName, ctx.partitionId(), ctx.taskAttemptId(),
            conf.value)
          try { it.foreach(w.write); w.commit() }
          catch { case e: Throwable => w.abort(); throw e }
        }, (_: Int, r: Option[DeleteStat]) => r.foreach(written += _))
      }
    } catch {
      case e: Throwable =>
        if (fs.exists(dir)) fs.delete(dir, true)
        throw e
    } finally sc.setJobDescription(prevDesc)
    if (written.isEmpty && fs.exists(dir)) fs.delete(dir, true)
    written.toSeq.map(qualified(fs, _)).sortBy(_.path)
  }

  /** A task's delete with the file and every data-file entry fs-qualified
    * (the manifest's spelling), entries sorted by path.
    */
  def qualified(fs: FileSystem, d: DeleteStat): DeleteStat = {
    def q(p: String) = fs.makeQualified(new Path(p)).toString
    d.copy(path = q(d.path),
      appliesTo = d.appliesTo.map(e => e.copy(path = q(e.path))).sortBy(_.path))
  }

  /** Commit a merge-on-read delta — new position deletes and/or newly
    * appended data files — with optimistic retry. Positions were computed
    * against immutable files under a known delete set, so they stay valid
    * against any newer snapshot that (a) saw no schema/spec change since
    * `m0`, (b) still carries every affected file, and (c) has exactly the
    * outstanding deletes `priorDeletes` the positions were taken under. A
    * concurrent APPEND satisfies all three and the commit re-attaches;
    * anything else aborts loudly. `dirs` (new delete and data directories)
    * join the parent's data directories.
    */
  def commit(fs: FileSystem, tableDir: Path, table: String, m0: TableMeta,
      priorDeletes: Seq[DeleteStat], deletes: Seq[DeleteStat],
      added: Seq[FileStat], dirs: Seq[String], operation: String): Unit = {
    val addedRows = added.map(_.rows).sum
    val deletedRows = deletes.map(_.rows).sum
    MetaIo.retryCommit(fs, tableDir) { m =>
      require(m.sameEvolution(m0),
        s"$operation on $table raced a concurrent schema change — aborting")
      val current = m.currentSnapshot.getOrElse(
        throw new IllegalStateException(
          s"$operation on $table: table became empty mid-commit"))
      val visible = FileStats.visible(fs, current)
      val prior = FileStats.deletesOf(fs, current)
      val paths = visible.map(f => fs.makeQualified(new Path(f.path)).toString).toSet
      require(deletes.forall(_.appliesTo.forall(e => paths(e.path))),
        s"$operation on $table raced a rewrite of an affected file — aborting")
      require(prior == priorDeletes,
        s"$operation on $table raced a concurrent row-level delete — aborting")
      val snapId = m.snapshots.map(_.snapshotId).maxOption.getOrElse(0L) + 1
      val snap = SnapshotMeta(
        snapshotId = snapId, timestampMs = System.currentTimeMillis(),
        operation = operation,
        dataDirs = FileStats.dataDirsOf(fs, current) ++ dirs,
        addedFiles = added.map(_.path), addedRows = addedRows,
        totalRows = current.totalRows - deletedRows + addedRows,
        schemaDdl = m.schemaDdl,
        files = (visible ++ added).sortBy(_.path),
        deletes = prior ++ deletes,
        parentId = m.currentSnapshotId)
      MetaIo.commit(fs, tableDir, m.copy(
        currentSnapshotId = snapId,
        snapshots = m.snapshots :+ snap,
        version = m.version + 1))
    }
  }
}
