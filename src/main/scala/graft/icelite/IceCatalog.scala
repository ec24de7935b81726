package graft.icelite

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Warehouse-rooted catalog: namespace = directory, table = directory with a
  * `metadata/` subtree. The Spark-native replacement for the reference's
  * `RestCatalog(name, warehouse, uri, token)`
  * (`components/ex-iceberg/src/component.py:88-96`,
  * `components/wr-iceberg/src/component.py:130-142`) and its DDL surface:
  * create/exists namespace (`wr:90-91`), create/drop/load table
  * (`wr:112-128`), listings for the sync actions (`ex:138-162`).
  *
  * Uses the Hadoop FileSystem API throughout, so the same code runs against
  * local disk, HDFS, or an object store — the warehouse URI decides.
  */
class IceCatalog(spark: SparkSession, val warehouse: String) {

  private val root = new Path(warehouse)
  private[icelite] def fs: FileSystem =
    root.getFileSystem(spark.sparkContext.hadoopConfiguration)

  def tablePath(ns: String, table: String): Path = new Path(new Path(root, ns), table)

  // -- namespaces (D1, D2, D6) ------------------------------------------------

  def createNamespace(ns: String): Unit = { fs.mkdirs(new Path(root, ns)); () }

  def namespaceExists(ns: String): Boolean = fs.exists(new Path(root, ns))

  def listNamespaces(): Seq[String] =
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).filter(_.isDirectory).map(_.getPath.getName).toSeq.sorted

  // -- tables (D2-D5, D7) -----------------------------------------------------

  def tableExists(ns: String, table: String): Boolean =
    MetaIo.exists(fs, tablePath(ns, table))

  def listTables(ns: String): Seq[String] = {
    val p = new Path(root, ns)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p)
      .filter(st => st.isDirectory && MetaIo.exists(fs, st.getPath))
      .map(_.getPath.getName).toSeq.sorted
  }

  def createTable(ns: String, table: String, schema: StructType,
      partitionBy: Seq[String] = Nil, sortedBy: Seq[String] = Nil,
      properties: Map[String, String] = Map.empty): IceTable = {
    require(!tableExists(ns, table), s"table $ns.$table already exists")
    // identity columns or hidden-partitioning transforms —
    // bucket(N, col) / days(col) / truncate(W, col)
    partitionBy.foreach(entry => Transforms.validate(schema, entry))
    // declared sort order: every write path will maintain it (files sorted
    // on these columns within each partition dir), and scans report it
    sortedBy.foreach { c =>
      val f = schema.fields.find(_.name == c).getOrElse(throw
        new IllegalArgumentException(s"icelite: sort column $c not in schema"))
      require(org.apache.spark.sql.catalyst.expressions.RowOrdering
          .isOrderable(f.dataType),
        s"icelite: sort column $c has unorderable type ${f.dataType.simpleString}")
    }
    IceCatalog.validateProperties(properties)
    createNamespace(ns)
    val meta = TableMeta(
      formatVersion = TableMeta.FormatVersion, namespace = ns, name = table,
      schemaDdl = schema.toDDL, partitionBy = partitionBy,
      currentSnapshotId = 0L, snapshots = Nil, version = 1,
      sortOrder = sortedBy, properties = properties)
    MetaIo.commit(fs, tablePath(ns, table), meta)
    new IceTable(spark, this, ns, table)
  }

  def dropTable(ns: String, table: String): Boolean =
    fs.delete(tablePath(ns, table), true)

  def loadTable(ns: String, table: String): IceTable = {
    require(tableExists(ns, table), s"table $ns.$table does not exist")
    new IceTable(spark, this, ns, table)
  }

  /** Rewrite a format-1 table as format 2 in one commit
    * ([[MetaIo.upgrade]]); false when it already is format 2.
    */
  def upgrade(ns: String, table: String): Boolean = {
    require(tableExists(ns, table), s"table $ns.$table does not exist")
    MetaIo.upgrade(fs, tablePath(ns, table))
  }

  /** Drop-if-exists + create: the writer's `replace` table preparation
    * (`wr/src/component.py:115-124`).
    */
  def createOrReplaceTable(ns: String, table: String, schema: StructType,
      partitionBy: Seq[String] = Nil): IceTable = {
    if (tableExists(ns, table)) dropTable(ns, table)
    createTable(ns, table, schema, partitionBy)
  }
}

object IceCatalog {

  /** Property keys the engine interprets (everything else is pass-through). */
  private val WriteModeKeys =
    Set("write.delete.mode", "write.update.mode", "write.merge.mode")
  private val WriteModes = Set("copy-on-write", "merge-on-read")

  /** Table-property spelling of the overwrite conflict-validation opt-in
    * (Iceberg's validateNoConflictingData shape): SQL `INSERT OVERWRITE`
    * users have no `.option()` surface, so the opt-in must be able to
    * travel WITH the table. Resolved in IceLiteWriteBuilder.build with
    * option > property > session-conf precedence.
    */
  val ValidateConflictsProp = "write.overwrite.validate-conflicts"

  /** Reject malformed values of interpreted properties at the door — a typo
    * in a write mode must fail the DDL, not silently fall back to
    * copy-on-write on every later DML.
    */
  def validateProperties(props: Map[String, String]): Unit =
    props.foreach { case (k, v) =>
      if (WriteModeKeys.contains(k))
        require(WriteModes.contains(v),
          s"invalid $k '$v': expected one of ${WriteModes.toSeq.sorted.mkString(", ")}")
      if (k == ValidateConflictsProp)
        require(v == "true" || v == "false",
          s"invalid $k '$v': expected true or false")
      if (k == "write.bloom.capacity")
        require(v.trim.toLongOption.exists(_ > 0),
          s"invalid $k '$v': expected a positive integer (distinct values per file)")
      if (k == "manifest.chain-cap")
        require(v.trim.toIntOption.exists(_ >= 0),
          s"invalid $k '$v': expected a non-negative integer (0 disables delta manifests)")
      if (k == "commit.claim-grace-ms")
        require(v.trim.toLongOption.exists(_ >= 0),
          s"invalid $k '$v': expected a non-negative integer (ms a version " +
            "claim without its version file must age before a writer may " +
            "take the version over as a torn commit)")
      if (k == "write.metadata.previous-versions-max")
        require(v.trim.toIntOption.exists(_ >= 1),
          s"invalid $k '$v': expected a positive integer (previous version " +
            "files to retain; at least 1, so a reader racing the hint swap " +
            "can still resolve the version it just read)")
    }
}
