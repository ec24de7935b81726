package graft.sources.v2

import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.io.api.{Binary, RecordConsumer}
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, PrimitiveType, Type, Types}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

import graft.icelite.{FileStat, FileStats, MetaIo, SnapshotMeta}

/** Distributed append for IceLite tables through the DSv2 write API
  * (`INSERT INTO <catalog>.<ns>.<tbl>`, `df.writeTo(...).append()`).
  *
  * Commit protocol (two-phase, same shape as any object-store table
  * format): executors write parquet task files into a staging directory
  * `data/.staging-<uuid>` and report (file, rows, column stats) back as
  * commit messages; only the driver's `commit()` renames the staging
  * directory to the next `data/snap-NNNNN` and appends the snapshot — with
  * its complete file manifest — to the metadata log via the existing
  * version-file commit. Failed/speculative task output is doubly invisible:
  * the per-task `abort()` deletes the partial file, and scans plan from the
  * committed manifest (never directory listings), so only files named in a
  * commit message can ever be read. Parallelism: one writer (and one output
  * file) per input partition.
  */
private[v2] class IceLiteWriteBuilder(
    warehouse: String, ns: String, table: String, info: LogicalWriteInfo,
    // catalog-loaded tables can express hidden-partitioning transforms in
    // the required distribution/ordering (Spark resolves them against the
    // catalog's FunctionCatalog); the format("icelite") path cannot
    viaCatalog: Boolean = false)
    extends WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite
    with org.apache.spark.sql.connector.write.SupportsOverwrite {

  // `df.writeTo(t).overwritePartitions()` / INSERT OVERWRITE under
  // dynamic partitionOverwriteMode: the commit REPLACES exactly the
  // partitions the write produced rows for and carries every other file
  // untouched — the idempotent "rewrite today's partition" batch pattern.
  //
  // Isolation contract: overwrites are LAST-WRITER-WINS on their touched
  // partitions. The touched set is fixed from the added files while carried
  // files are recomputed per commit retry, so a concurrent append into a
  // touched partition that lands between this write's build and its winning
  // commit attempt is silently replaced (snapshot isolation, Iceberg's
  // default). Callers that need serializable semantics opt in with
  // `.option("validateNoConflicts", "true")`, the
  // `write.overwrite.validate-conflicts` table property (the SQL
  // `INSERT OVERWRITE` spelling), or the session conf
  // `graft.write.validateNoConflicts` (resolved in build(), strongest
  // first): the commit then ABORTS when a file not visible at the write's
  // planning baseline would be dropped — exactly Iceberg's
  // validateNoConflictingData/overwrite validation shape.
  private var dynamicOverwrite = false
  override def overwriteDynamicPartitions(): WriteBuilder = {
    dynamicOverwrite = true
    this
  }

  // Static INSERT OVERWRITE / writeTo(t).overwrite(cond) / truncate: Spark
  // hands the overwrite condition as source filters (AlwaysTrue for a full
  // truncate, the static PARTITION clause's equalities otherwise). The
  // commit drops exactly the files those filters prove ENTIRELY dead via
  // the partition-exact claim and refuses anything row-partial — overwrite
  // semantics are exact, never approximated at file granularity.
  private var overwriteFilters: Option[Seq[org.apache.spark.sql.sources.Filter]] = None
  override def overwrite(
      filters: Array[org.apache.spark.sql.sources.Filter]): WriteBuilder = {
    overwriteFilters = Some(filters.toSeq)
    this
  }

  override def build(): Write = {
    // fail-fast type gate, driver-side at plan time: a table created (or
    // widened) through the Scala table API can carry columns this writer
    // has no layout for — refuse HERE, naming the column, never per-task
    IceLiteWriteSchema.validate(info.schema(), s"write to $ns.$table")
    val dir = new Path(new Path(warehouse, ns), table)
    val meta = MetaIo.read(fs = dir.getFileSystem(
      SparkSession.active.sparkContext.hadoopConfiguration), tableDir = dir)
    // the schema-race baseline is captured HERE, at write-build time: tasks
    // write data against this metadata's shape, so a DDL landing anywhere
    // between planning and commit must fail the commit — a commit-time
    // baseline would wave through exactly that window
    // streaming CDC upsert mode: `.option("upsertKeys", "k1,k2")` makes
    // every epoch an equality-delete upsert instead of a plain append
    val upsertKeys = Option(info.options.get("upsertKeys"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    if (upsertKeys.nonEmpty) {
      val schema = StructType.fromDDL(meta.schemaDdl)
      val idCols = (graft.icelite.PartField.identityCols(meta.partitionBy) ++
        meta.partitionSpecs.flatMap(sp =>
          graft.icelite.PartField.identityCols(sp.cols))).toSet
      upsertKeys.foreach { k =>
        require(schema.fieldNames.contains(k),
          s"upsertKeys column $k not in $ns.$table schema")
        require(graft.icelite.EqDeleteIo.keyType(schema(k).dataType),
          s"upsertKeys column $k has non-atomic type ${schema(k).dataType}")
        require(!idCols.contains(k),
          s"upsertKeys column $k is an identity partition column " +
            "(old eras store it in directory names only)")
      }
      require(meta.renames.isEmpty,
        s"streaming upsert into $ns.$table needs a rename-free table")
    }
    // a full truncate (AlwaysTrue) never consults partition membership, so
    // it stays legal on evolved layouts; only membership-based overwrites
    // need the single-era guarantee
    val consultsMembership = dynamicOverwrite || overwriteFilters.exists(
      _.exists(f => !f.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue]))
    if (consultsMembership)
      require(meta.partitionSpecs.isEmpty,
        s"partition overwrite of $ns.$table requires a single-era " +
          "partition layout (evolved tables: membership of old-era files " +
          "in a touched partition is undecidable from their paths)")
    // Conflict-validation opt-in, three spellings with option > table
    // property > session conf precedence: the write option (DataFrame
    // callers), the `write.overwrite.validate-conflicts` table property
    // (travels WITH the table — the only surface a SQL `INSERT OVERWRITE`
    // user controls per-table), and the `graft.write.validateNoConflicts`
    // session conf (a job-wide default). An explicit option/property value
    // of "false" deliberately OVERRIDES the weaker spellings — opting a
    // single bulk rewrite out of a table-level default must be possible.
    def asBool(src: String, v: String): Boolean = v.trim.toLowerCase match {
      case "true" => true
      case "false" => false
      case other => throw new IllegalArgumentException(
        s"$src must be true or false, got '$other'")
    }
    val conflictProp = graft.icelite.IceCatalog.ValidateConflictsProp
    val validateNoConflicts =
      Option(info.options.get("validateNoConflicts"))
        .map(asBool("write option validateNoConflicts", _))
        .orElse(meta.properties.get(conflictProp)
          .map(asBool(s"table property $conflictProp", _)))
        .orElse(SparkSession.active.conf
          .getOption("graft.write.validateNoConflicts")
          .map(asBool("session conf graft.write.validateNoConflicts", _)))
        .getOrElse(false)
    IceLiteWriteShape.of(meta.partitionBy,
      new IceLiteBatchWrite(warehouse, ns, table, info.schema(), meta,
        dynamicOverwrite, overwriteFilters, validateNoConflicts),
      new IceLiteStreamingWrite(warehouse, ns, table, info.schema(), meta,
        info.queryId(), upsertKeys),
      sortOrder = meta.sortOrder,
      transformsResolvable = viaCatalog)
  }
}

/** The SQL/DSv2 write path's type surface — one definition shared by the
  * parquet schema builder, the per-row write support, the catalog's
  * CREATE/ALTER validation, and the write builders' driver-side fail-fast
  * check, so a type added to one side cannot silently go missing from
  * another. Matches the scan's decode surface: every layout written here is
  * one Spark's vectorized parquet reader (the scan's decoder) reads
  * natively — decimals as INT32/INT64/FIXED_LEN_BYTE_ARRAY per precision
  * (Spark's own parquet layout), byte/short as annotated INT32, binary as
  * plain BINARY.
  *
  * Validation runs DRIVER-side, before any task launches: at
  * `CREATE TABLE` / CTAS staging (the earliest a user can declare an
  * unsupported column) and again at write-build time (tables created
  * through the Scala table API can carry nested columns — the DataFrame
  * path writes them via Spark's native writer — so an `INSERT INTO` such a
  * table must fail here, naming the column, not per-task).
  */
private[v2] object IceLiteWriteSchema {

  def writable(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType | DoubleType |
         FloatType | BooleanType | StringType | BinaryType | DateType |
         TimestampType | TimestampNTZType => true
    case _: DecimalType => true
    case _ => false
  }

  /** Fail fast, naming every offending column: nothing worse than a write
    * that plans, launches tasks, and dies per-task on the first row.
    */
  def validate(schema: StructType, context: String): Unit = {
    val bad = schema.fields.filterNot(f => writable(f.dataType))
    require(bad.isEmpty,
      s"$context: column${if (bad.length > 1) "s" else ""} " +
        bad.map(f => s"${f.name} (${f.dataType.simpleString})").mkString(", ") +
        " cannot be written by the icelite SQL/DSv2 path (supported: " +
        "boolean, byte/short/int/long, float/double, decimal, string, " +
        "binary, date, timestamp, timestamp_ntz); nested types stay on the " +
        "DataFrame table API, whose writes ride Spark's native parquet writer")
  }

  /** Smallest two's-complement byte width holding any unscaled value of the
    * given decimal precision — the FIXED_LEN_BYTE_ARRAY length for
    * precision > 18 (identical to Spark's own minBytesForPrecision table,
    * derived here from first principles: bitLength(10^p - 1) + sign bit).
    */
  private val MinBytes: Array[Int] = (0 to 38).map { p =>
    if (p == 0) 1
    else (java.math.BigInteger.TEN.pow(p)
      .subtract(java.math.BigInteger.ONE).bitLength + 1 + 7) / 8
  }.toArray

  def minBytesForPrecision(p: Int): Int = MinBytes(p)

  /** The parquet schema for a Spark write schema — layouts chosen to be
    * exactly what the vectorized reader decodes for each Spark type.
    */
  def messageTypeOf(schema: StructType): MessageType = {
    import PrimitiveType.PrimitiveTypeName._
    val b = Types.buildMessage()
    schema.fields.foreach { f =>
      val t: Type = f.dataType match {
        case LongType => Types.optional(INT64).named(f.name)
        case IntegerType => Types.optional(INT32).named(f.name)
        case ShortType => Types.optional(INT32)
          .as(LogicalTypeAnnotation.intType(16, true)).named(f.name)
        case ByteType => Types.optional(INT32)
          .as(LogicalTypeAnnotation.intType(8, true)).named(f.name)
        case DoubleType => Types.optional(DOUBLE).named(f.name)
        case FloatType => Types.optional(FLOAT).named(f.name)
        case BooleanType => Types.optional(BOOLEAN).named(f.name)
        case StringType => Types.optional(BINARY)
          .as(LogicalTypeAnnotation.stringType()).named(f.name)
        case BinaryType => Types.optional(BINARY).named(f.name)
        case DateType => Types.optional(INT32)
          .as(LogicalTypeAnnotation.dateType()).named(f.name)
        case TimestampType => Types.optional(INT64)
          .as(LogicalTypeAnnotation.timestampType(true, LogicalTypeAnnotation.TimeUnit.MICROS))
          .named(f.name)
        case TimestampNTZType => Types.optional(INT64)
          .as(LogicalTypeAnnotation.timestampType(false, LogicalTypeAnnotation.TimeUnit.MICROS))
          .named(f.name)
        case d: DecimalType if d.precision <= 9 => Types.optional(INT32)
          .as(LogicalTypeAnnotation.decimalType(d.scale, d.precision)).named(f.name)
        case d: DecimalType if d.precision <= 18 => Types.optional(INT64)
          .as(LogicalTypeAnnotation.decimalType(d.scale, d.precision)).named(f.name)
        case d: DecimalType => Types.optional(FIXED_LEN_BYTE_ARRAY)
          .length(minBytesForPrecision(d.precision))
          .as(LogicalTypeAnnotation.decimalType(d.scale, d.precision)).named(f.name)
        case dt => throw new UnsupportedOperationException(
          s"icelite DSv2 writer: unsupported type $dt for ${f.name}")
      }
      b.addField(t)
    }
    b.named("icelite")
  }
}

/** The one valid dynamic-partition write shape, shared by appends and
  * row-level rewrites: hive-partitioned layouts require Spark to cluster +
  * sort incoming rows by the partition values, so each write task sees its
  * partitions contiguously and holds ONE open file at a time — the only
  * shape that survives wide tables at 100 TB (an unsorted writer would
  * hold a file handle per live partition per task). Hidden-partitioning
  * transforms cluster by the transform VALUE when the write can resolve it
  * (catalog path: commits produce O(dirs) files); the format() path falls
  * back to the source columns with the bounded-fanout writer absorbing the
  * residual scatter. Unpartitioned tables get a plain Write (or a pure
  * ordering requirement when a sort order is declared).
  */
private[v2] object IceLiteWriteShape {

  import org.apache.spark.sql.connector.write.streaming.StreamingWrite

  def of(partitionBy: Seq[String], batch: => BatchWrite,
      streaming: => StreamingWrite = null,
      sortOrder: Seq[String] = Nil,
      transformsResolvable: Boolean = false): Write = {
    import org.apache.spark.sql.connector.expressions.{Expression, Expressions}
    val fields = graft.icelite.PartField.parseSpec(partitionBy)
    val sources = fields.map(_.source).distinct
    val hasTransforms = fields.exists(!_.isIdentity)

    // Grouping keys — one expression per partition field, so all rows of
    // one target DIRECTORY land in one task and the commit produces O(dirs)
    // files, not O(tasks x dirs). Hidden-partitioning transforms cluster by
    // their transform VALUE (bucket/days/truncate of the source), which
    // Spark resolves against the catalog's FunctionCatalog — available only
    // on the catalog path; format("icelite") falls back to clustering by
    // the source columns (a finer-grained superset: correct, just more
    // writer fanout).
    val groupExprs: Seq[Expression] =
      if (hasTransforms && transformsResolvable)
        partitionBy.map(e => IceLiteScan.v2Transform(e): Expression)
      else sources.map(c => Expressions.column(c): Expression)

    // In-task order: grouping keys first (each directory's rows arrive
    // contiguously), then the DECLARED sort order so every file is sorted
    // on it — the write-side half of the SupportsReportOrdering contract
    // (applies to batch AND micro-batch epochs, so the native streaming
    // sink maintains sorted tables too). With an unexpressible transform
    // (format path) the source columns must NOT precede the declared sort —
    // a directory holds MANY source values there, so (source, sort) order
    // inside one file is not `sort` order. Order by the declaration alone:
    // each per-directory subsequence of a sorted stream is still sorted,
    // and the bounded-fanout writer handles the interleaved directories.
    val orderExprs: Seq[Expression] =
      if (!hasTransforms)
        (sources ++ sortOrder).distinct.map(c => Expressions.column(c))
      else if (transformsResolvable)
        groupExprs ++ (if (sortOrder.nonEmpty) sortOrder
          else fields.filterNot(_.isIdentity).map(_.source).distinct)
          .map(c => Expressions.column(c): Expression)
      else if (sortOrder.nonEmpty) sortOrder.map(c => Expressions.column(c))
      else sources.map(c => Expressions.column(c))

    if (orderExprs.isEmpty)
      new Write {
        override def toBatch: BatchWrite = batch
        override def toStreaming: StreamingWrite =
          Option(streaming).getOrElse(super.toStreaming)
      }
    else
      new Write with RequiresDistributionAndOrdering {
        import org.apache.spark.sql.connector.expressions.SortDirection
        override def requiredDistribution()
            : org.apache.spark.sql.connector.distributions.Distribution =
          if (groupExprs.isEmpty)
            org.apache.spark.sql.connector.distributions.Distributions.unspecified()
          else
            org.apache.spark.sql.connector.distributions.Distributions.clustered(
              groupExprs.toArray)
        override def requiredOrdering()
            : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
          orderExprs.map(e =>
            Expressions.sort(e, SortDirection.ASCENDING)).toArray
        override def toBatch: BatchWrite = batch
        override def toStreaming: StreamingWrite =
          Option(streaming).getOrElse(super.toStreaming)
      }
  }
}

private[v2] case class IceLiteCommitMessage(stats: Seq[FileStat])
    extends WriterCommitMessage

private[v2] class IceLiteBatchWrite(
    warehouse: String, ns: String, table: String, schema: StructType,
    // metadata as of write BUILD time — the baseline the commit-time
    // schema-race guard validates against (tasks write with this shape)
    m0: graft.icelite.TableMeta,
    // dynamic partition overwrite: commit replaces the touched partitions
    // (derived from the added files' OWN directory values) and carries the
    // rest; an unpartitioned table replaces wholesale (Spark semantics)
    dynamicOverwrite: Boolean = false,
    // static overwrite condition (INSERT OVERWRITE / truncate): drop the
    // files the filters prove entirely dead, refuse row-partial matches
    overwriteFilters: Option[Seq[org.apache.spark.sql.sources.Filter]] = None,
    // opt-in serializable isolation for overwrites: abort the commit when
    // it would drop a file that was NOT visible at the planning baseline
    // (i.e. a concurrent writer landed data this overwrite never saw);
    // default keeps snapshot-isolation last-writer-wins, Iceberg's default
    validateNoConflicts: Boolean = false)
    extends BatchWrite {

  private val stagingName = s".staging-${UUID.randomUUID()}"

  private def tableDir = new Path(new Path(warehouse, ns), table)
  private def hadoopConf = SparkSession.active.sparkContext.hadoopConfiguration
  private def fs = tableDir.getFileSystem(hadoopConf)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    // verify the incoming schema against the table before any task runs:
    // same column set AND same types (a name-only check would let an
    // int-vs-bigint drift write files that disagree with the table schema
    // and only fail at scan time)
    val meta = m0
    val tableSchema = StructType.fromDDL(meta.schemaDdl)
    require(tableSchema.fieldNames.sorted.sameElements(schema.fieldNames.sorted),
      s"schema mismatch writing to $ns.$table: " +
        s"incoming ${schema.fieldNames.toSeq.sorted} vs table ${tableSchema.fieldNames.toSeq.sorted}")
    val typeDrift = tableSchema.fields.flatMap { f =>
      val in = schema(f.name).dataType
      if (in == f.dataType) None else Some(s"${f.name}: $in vs ${f.dataType}")
    }
    require(typeDrift.isEmpty,
      s"type mismatch writing to $ns.$table (incoming vs table): ${typeDrift.mkString(", ")}")
    meta.partitionBy.foreach(entry =>
      graft.icelite.Transforms.validate(tableSchema, entry))
    new IceLiteWriterFactory(
      new Path(tableDir, s"data/$stagingName").toString, schema.toDDL,
      meta.partitionBy, new SerializableConfiguration(hadoopConf),
      ndvCols = IceLiteDataWriter.ndvColsConf,
      bloomCols = IceLiteDataWriter.bloomColsConf(meta.properties),
      bloomCapacity = IceLiteDataWriter.bloomCapacityConf(meta.properties))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val snapId0 = m0.snapshots.map(_.snapshotId).maxOption.getOrElse(0L) + 1
    // publish under a writer-unique name (the staging id doubles as the
    // suffix): concurrent INSERTs never collide on the directory, so a lost
    // metadata race below is retryable without touching data. The id in the
    // name is the write-time candidate; it only labels the schema ERA
    // (<= the committed id — see IceTable.writeData).
    val pubName = f"snap-$snapId0%05d-${stagingName.stripPrefix(".staging-").take(8)}"
    val dataDir = new Path(tableDir, s"data/$pubName")
    val staging = new Path(tableDir, s"data/$stagingName")
    if (!fs.exists(staging)) fs.mkdirs(staging) // zero-partition write
    require(fs.rename(staging, dataDir),
      s"failed to publish staging dir for $ns.$table snapshot $snapId0")
    // store filesystem-qualified paths in the manifest (task-side paths are
    // scheme-less): scans group files under their snapshot dir by prefix,
    // and a scheme mismatch would silently break that
    val added = messages.collect { case msg: IceLiteCommitMessage =>
      msg.stats.map(st => st.copy(path = fs.makeQualified(new Path(
        st.path.replace(s"data/$stagingName", s"data/$pubName"))).toString))
    }.toSeq.flatten.sortBy(_.path)
    val rows = added.map(_.rows).sum
    // dynamic overwrite: the touched-partition set is read from the ADDED
    // files' own directory values — exact by construction (the same
    // rendering the carried files' membership is tested against)
    val dirFields = graft.icelite.PartField.parseSpec(m0.partitionBy)
      .map(_.fieldName)
    val touched: Set[Seq[Option[String]]] =
      if (!dynamicOverwrite || dirFields.isEmpty) Set.empty
      else added.map { f =>
        val pv = f.partRaw(dirFields)
        require(dirFields.forall(pv.contains),
          s"overwrite of $ns.$table: cannot read partition values of ${f.path}")
        dirFields.map(pv(_))
      }.toSet
    // optimistic commit retry (append = bag union, valid against any newer
    // current snapshot; dynamic overwrite = last-writer-wins on its touched
    // partitions, recomputed against the new current each attempt), same
    // protocol as IceTable.append; a concurrent schema change aborts
    // instead of retrying into the wrong shape
    // the conflict-validation baseline depends only on the fixed build-time
    // m0 — compute it once, not per retry attempt (retries are exactly the
    // contended path, where repeating a manifest read per attempt hurts)
    lazy val baselinePaths: Set[String] = m0.currentSnapshot
      .map(p => FileStats.visible(fs, p)
        .map(f => fs.makeQualified(new Path(f.path)).toString).toSet)
      .getOrElse(Set.empty[String])
    MetaIo.retryCommit(fs, tableDir) { m =>
      require(m.sameEvolution(m0),
        s"INSERT into $ns.$table raced a concurrent schema change — aborting")
      val snapId = m.snapshots.map(_.snapshotId).maxOption.getOrElse(0L) + 1
      val prev = m.currentSnapshot
      val isOverwrite = dynamicOverwrite || overwriteFilters.isDefined
      val visibleNow: Seq[FileStat] =
        prev.map(p => FileStats.visible(fs, p)).getOrElse(Nil)
      val carried: Seq[FileStat] =
        if (dynamicOverwrite) {
          if (dirFields.isEmpty) Nil // unpartitioned: replace wholesale
          else visibleNow.filterNot { f =>
            val pv = f.partRaw(dirFields)
            require(dirFields.forall(pv.contains),
              s"overwrite of $ns.$table: cannot read partition values of ${f.path}")
            touched.contains(dirFields.map(pv(_)))
          }
        } else overwriteFilters match {
          case None => visibleNow
          case Some(fls)
              if fls.forall(_.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue]) =>
            Nil // full truncate-and-insert
          case Some(fls) =>
            // overwrite is exact or refused: every filter must be
            // partition-exact, so a file either matches ENTIRELY (drop) or
            // not at all (carry) — never row-partially
            val tableSchema = StructType.fromDDL(m.schemaDdl)
            val idCols = graft.icelite.PartField.identityCols(m.partitionBy)
            require(fls.forall(fl => graft.icelite.FilePrune.exactOnPartitions(
              fl, tableSchema, idCols.contains)),
              s"INSERT OVERWRITE of $ns.$table: condition " +
                s"${fls.mkString(", ")} is not exact on identity partition " +
                "columns — a row-partial overwrite would be approximated at " +
                "file granularity; use DELETE + INSERT or MERGE instead")
            val refs = fls.flatMap(_.references).distinct.filter(idCols.contains)
            def satisfies(f: FileStat): Boolean = {
              val raw = f.partRaw(refs)
              require(refs.forall(raw.contains),
                s"overwrite of $ns.$table: cannot read partition values of ${f.path}")
              val pv = graft.icelite.PartValues.decodeExternal(tableSchema, refs, raw)
              fls.forall(fl =>
                graft.icelite.FilePrune.canMatch(fl, tableSchema, f, pv))
            }
            // overwrite may only ADD rows inside its own condition — a
            // written partition outside it would land NEXT TO the carried
            // files of that partition as silent duplicates (Iceberg
            // validates the same way); with partition-exact filters the
            // added files' directory values decide this exactly
            added.foreach(f => require(satisfies(f),
              s"INSERT OVERWRITE of $ns.$table: written file ${f.path} " +
                s"falls outside the overwrite condition ${fls.mkString(", ")}"))
            visibleNow.filterNot(satisfies)
        }
      val prevDeletes = prev.map(p => FileStats.deletesOf(fs, p)).getOrElse(Nil)
      def qualify(p: String) = fs.makeQualified(new Path(p)).toString
      // opt-in serializable overwrite: any file this commit would DROP
      // (visible now, not carried) that was not visible at the planning
      // baseline belongs to a concurrent writer — replacing it would be a
      // silent lost update, so abort instead of last-writer-winning. The
      // throw is a plain IllegalStateException, not a retryable
      // CommitConflict, so it surfaces to the caller as a conflict error.
      if (validateNoConflicts && isOverwrite) {
        val carriedSet = carried.map(f => qualify(f.path)).toSet
        val clobbered = visibleNow
          .filterNot(f => carriedSet(qualify(f.path)))
          .filterNot(f => baselinePaths(qualify(f.path)))
        if (clobbered.nonEmpty) throw new IllegalStateException(
          s"overwrite of $ns.$table aborted (validateNoConflicts): a " +
            "concurrent write added files in an overwritten partition " +
            s"after this write's baseline: ${clobbered.map(_.path).mkString(", ")}")
      }
      val deletes =
        if (!isOverwrite) prevDeletes
        else FileStats.trimDeletes(prevDeletes,
          carried.map(f => qualify(f.path)).toSet)
      val prevDirs = prev.map(p => FileStats.dataDirsOf(fs, p)).getOrElse(Nil)
      val dataDirs =
        if (!isOverwrite) prevDirs :+ dataDir.toString
        else {
          val delDirs = deletes.map(d => new Path(d.path).getParent.toString)
          (prevDirs.filter(d =>
            carried.exists(f => qualify(f.path).startsWith(qualify(d) + "/")))
            ++ delDirs).distinct :+ dataDir.toString
        }
      val totalRows =
        if (!isOverwrite) prev.map(_.totalRows).getOrElse(0L) + rows
        else carried.map(_.rows).sum + rows - deletes.map(_.rows).sum
      val snap = SnapshotMeta(
        snapshotId = snapId, timestampMs = System.currentTimeMillis(),
        operation = if (isOverwrite) "overwrite" else "append",
        dataDirs = dataDirs,
        addedFiles = added.map(_.path), addedRows = rows,
        totalRows = totalRows,
        schemaDdl = m.schemaDdl,
        files = (carried ++ added).sortBy(_.path),
        // appends never touch existing files: outstanding position
        // deletes carry forward unchanged (overwrites trim them to the
        // surviving carried files above)
        deletes = deletes,
        parentId = m.currentSnapshotId)
      MetaIo.commit(fs, tableDir, m.copy(
        currentSnapshotId = snapId,
        snapshots = m.snapshots :+ snap,
        version = m.version + 1))
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val staging = new Path(tableDir, s"data/$stagingName")
    if (fs.exists(staging)) fs.delete(staging, true)
    ()
  }
}

/** Native streaming sink: `df.writeStream.format("icelite")...start()` —
  * one snapshot per micro-batch epoch (the same snapshot-per-batch shape as
  * the foreachBatch pattern, without the boilerplate). Task mechanics are
  * identical to the batch append (per-epoch staging dir, executor-side
  * footer stats, abort cleanup); `commit(epoch)` publishes the staging dir
  * and appends a snapshot stamped `<queryId>/<epochId>`, which makes the
  * epoch replay after a driver recovery a NO-OP instead of a duplicate
  * append — exactly-once into the table on top of Spark's offset log.
  */
private[v2] class IceLiteStreamingWrite(
    warehouse: String, ns: String, table: String, schema: StructType,
    m0: graft.icelite.TableMeta, queryId: String,
    // non-empty = CDC upsert mode: each epoch commits its rows PLUS an
    // equality delete over these key columns, so the latest version of
    // every key wins — exactly-once streaming upsert with zero target
    // reads (the write cost is O(epoch) whatever the table size)
    upsertKeys: Seq[String] = Nil)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {

  private val stagingBase = s".streaming-${UUID.randomUUID()}"

  private def tableDir = new Path(new Path(warehouse, ns), table)
  private def hadoopConf = SparkSession.active.sparkContext.hadoopConfiguration
  private def fs = tableDir.getFileSystem(hadoopConf)

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory = {
    val tableSchema = StructType.fromDDL(m0.schemaDdl)
    require(tableSchema.fieldNames.sorted.sameElements(schema.fieldNames.sorted),
      s"schema mismatch streaming into $ns.$table: " +
        s"incoming ${schema.fieldNames.toSeq.sorted} vs table ${tableSchema.fieldNames.toSeq.sorted}")
    m0.partitionBy.foreach(entry =>
      graft.icelite.Transforms.validate(tableSchema, entry))
    val base = new Path(tableDir, s"data/$stagingBase").toString
    val ddl = schema.toDDL
    val partBy = m0.partitionBy
    val conf = new SerializableConfiguration(hadoopConf)
    val ndvCols = IceLiteDataWriter.ndvColsConf // driver-side capture
    val bloomCols = IceLiteDataWriter.bloomColsConf(m0.properties)
    val bloomCap = IceLiteDataWriter.bloomCapacityConf(m0.properties)
    (partitionId: Int, taskId: Long, epochId: Long) =>
      new IceLiteDataWriter(s"$base-e$epochId", StructType.fromDDL(ddl),
        partBy, partitionId, taskId, conf, ndvCols = ndvCols,
        bloomCols = bloomCols, bloomCapacity = bloomCap)
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val sc = s"$queryId/$epochId"
    val staging = new Path(tableDir, s"data/$stagingBase-e$epochId")
    // epoch replay after recovery: the snapshot is already committed —
    // drop the replayed output instead of appending it twice
    val mPre = MetaIo.read(fs, tableDir)
    if (mPre.snapshots.exists(_.streamCommit == sc)) {
      if (fs.exists(staging)) fs.delete(staging, true)
      return
    }
    val snapId0 = mPre.snapshots.map(_.snapshotId).maxOption.getOrElse(0L) + 1
    val pubName =
      f"snap-$snapId0%05d-${stagingBase.stripPrefix(".streaming-").take(8)}-e$epochId"
    val dataDir = new Path(tableDir, s"data/$pubName")
    if (!fs.exists(staging)) fs.mkdirs(staging) // empty epoch
    require(fs.rename(staging, dataDir),
      s"failed to publish streaming epoch $epochId for $ns.$table")
    val added = messages.collect { case msg: IceLiteCommitMessage =>
      msg.stats.map(st => st.copy(path = fs.makeQualified(new Path(
        st.path.replace(s"data/$stagingBase-e$epochId", s"data/$pubName"))).toString))
    }.toSeq.flatten.sortBy(_.path)
    val rows = added.map(_.rows).sum
    // CDC upsert mode: the epoch's distinct keys become one equality-delete
    // file, read back from the just-published epoch files (epoch-sized —
    // the only read this mode ever does; the target table is never
    // scanned). Committed atomically with the data below, the delete
    // makes the epoch's version of each key the only live one.
    val eqWritten =
      if (upsertKeys.isEmpty || added.isEmpty) None
      else graft.icelite.EqDeleteIo.writeKeyFile(
        SparkSession.active, fs, tableDir, snapId0,
        SparkSession.active.read.schema(StructType.fromDDL(m0.schemaDdl))
          .parquet(added.map(_.path): _*)
          .select(upsertKeys.map(org.apache.spark.sql.functions.col): _*),
        upsertKeys)
    MetaIo.retryCommit(fs, tableDir) { m =>
      require(m.sameEvolution(m0),
        s"streaming write into $ns.$table raced a concurrent schema change — aborting")
      val snapId = m.snapshots.map(_.snapshotId).maxOption.getOrElse(0L) + 1
      val prev = m.currentSnapshot
      val carried: Seq[FileStat] =
        prev.map(p => FileStats.visible(fs, p)).getOrElse(Nil)
      // the delete's sequence re-pins to the commit snapshot per attempt
      // (state-independent content); the epoch's own data dir is exempt
      val eqStat = eqWritten.map {
        case (_, delFile, keyRows, eqMin, eqMax, eqKeys) =>
          graft.icelite.DeleteStat(
            path = fs.makeQualified(new Path(delFile)).toString, appliesTo = Nil,
            eqCols = upsertKeys, eqRows = keyRows, seqId = snapId,
            eqExemptDirs = Seq(fs.makeQualified(dataDir).toString),
            eqMin = eqMin, eqMax = eqMax, eqKeys = eqKeys)
      }
      val snap = SnapshotMeta(
        snapshotId = snapId, timestampMs = System.currentTimeMillis(),
        operation = if (eqStat.isDefined) "upsert" else "append",
        dataDirs = prev.map(p => FileStats.dataDirsOf(fs, p)).getOrElse(Nil) ++
          eqWritten.map(_._1).toSeq :+ dataDir.toString,
        addedFiles = added.map(_.path), addedRows = rows,
        // upper bound while equality debt is outstanding (matched-row
        // counts are unknown by design); a fold restores exact totals
        totalRows = prev.map(_.totalRows).getOrElse(0L) + rows,
        schemaDdl = m.schemaDdl,
        files = (carried ++ added).sortBy(_.path),
        deletes = prev.map(p => FileStats.deletesOf(fs, p)).getOrElse(Nil) ++
          eqStat.toSeq,
        streamCommit = sc,
        parentId = m.currentSnapshotId)
      MetaIo.commit(fs, tableDir, m.copy(
        currentSnapshotId = snapId,
        snapshots = m.snapshots :+ snap,
        version = m.version + 1))
    }
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val staging = new Path(tableDir, s"data/$stagingBase-e$epochId")
    if (fs.exists(staging)) fs.delete(staging, true)
    ()
  }
}

private[v2] class IceLiteWriterFactory(
    stagingDir: String, schemaDdl: String, partitionBy: Seq[String],
    conf: SerializableConfiguration, rowLevel: Boolean = false,
    // NDV-sketch column gate, captured DRIVER-side at build time from
    // `graft.ndv.columns` ("*" = every eligible column, "" = none,
    // else a comma list): manifests pay ~2.5 KB per sketched column per
    // file, so wide tables can scope sketches to the columns whose NDV
    // anyone will ask for (puffin keeps stats in separate files for the
    // same reason)
    ndvCols: String = "*",
    // bloom-filter gate + capacity, captured driver-side from the table
    // properties / session conf (IceLiteDataWriter.bloomColsConf)
    bloomCols: String = "", bloomCapacity: Long = 50000L)
    extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new IceLiteDataWriter(stagingDir, StructType.fromDDL(schemaDdl),
      partitionBy, partitionId, taskId, conf, rowLevel, ndvCols,
      bloomCols, bloomCapacity)
}

/** Bridge that lets the TABLE-API funnel (`IceTable.writeData`) ride the
  * DSv2 row-loop writer ([[IceLiteDataWriter]]) from a plain RDD job. The
  * point is the writer's in-line statistics: exact per-file integral sums
  * and version-"3" NDV sketches accumulate DURING the write, which retires
  * the one-pass `Ndv.sketchFiles` read-back the table API used to pay — at
  * scale that read-back re-reads the write's own output, doubling its I/O.
  * Maintenance rewrites (compaction, copy-on-write upsert/delete) and
  * table-API appends all flow through here.
  *
  * Task hygiene mirrors the DSv2 path without a commit coordinator:
  * attempt-unique file names (partitionId + taskAttemptId) make retries
  * collision-free, a failure listener deletes a failed attempt's files, and
  * a zombie attempt's survivors are never referenced — `collect()` returns
  * exactly one winning attempt's stats per partition, the manifest lists
  * only those files, and scans plan from the manifest (never listings), so
  * stray files are inert until orphan GC reclaims them.
  */
private[graft] object IceLiteRowWrite {

  /** Whether every column (and every partition-field source) fits the
    * row-loop writer's type surface; callers fall back to Spark's native
    * parquet writer (plus the read-back sketcher) when it doesn't —
    * nested types are the one schema family that keeps the legacy path.
    */
  def supports(schema: StructType, partitionBy: Seq[String]): Boolean = {
    val flat = schema.fields.forall(f => IceLiteWriteSchema.writable(f.dataType))
    flat && graft.icelite.PartField.parseSpec(partitionBy).forall { f =>
      val dt = schema(f.source).dataType
      if (f.isIdentity) graft.icelite.PartValues.renderable(dt)
      else dt match { // the writer's transform-source rendering domain
        case StringType | LongType | TimestampType | TimestampNTZType |
             IntegerType | DateType | ShortType | ByteType => true
        case _: DecimalType => true // bucket(N, decimal)
        case _ => false
      }
    }
  }

  /** Write `df` (exactly table-shaped; pre-clustered by the caller) under
    * `dataDir`, returning the complete per-file manifest with footer
    * min/max, exact sums, and in-line NDV sketches. Rows must arrive
    * clustered by partition value (the caller's repartition+sort) — the
    * writer holds one open file per partition run (identity specs) or a
    * bounded fan-out (transform specs), exactly as under DSv2.
    */
  def write(df: org.apache.spark.sql.DataFrame, dataDir: String,
      partitionBy: Seq[String], ndvCols: String,
      bloomCols: String = "", bloomCapacity: Long = 50000L): Seq[FileStat] = {
    val spark = df.sparkSession
    val conf = new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)
    val schema = df.schema
    df.queryExecution.toRdd.mapPartitions { rows =>
      if (rows.isEmpty) Iterator.empty
      else {
        val tc = org.apache.spark.TaskContext.get()
        val w = new IceLiteDataWriter(dataDir, schema, partitionBy,
          tc.partitionId(), tc.taskAttemptId(), conf,
          rowLevel = false, ndvCols = ndvCols,
          bloomCols = bloomCols, bloomCapacity = bloomCapacity)
        tc.addTaskFailureListener(new org.apache.spark.util.TaskFailureListener {
          override def onTaskFailure(ctx: org.apache.spark.TaskContext,
              error: Throwable): Unit = w.abort()
        })
        rows.foreach(w.write)
        Iterator.single(w.commit().asInstanceOf[IceLiteCommitMessage].stats)
      }
    }.collect().iterator.flatten.toSeq
  }
}

/** Writes parquet files straight from `InternalRow` through parquet-mr's
  * RecordConsumer ([[InternalRowWriteSupport]]) — the symmetric inverse of
  * the scan's type surface, with NO per-row materialization: no example
  * Group heap object per row, no boxed adds, and string values stream as
  * UTF-8 bytes (`UTF8String.getBytes` -> `Binary`) without a String
  * round-trip. This is the path 100 TB ingest rides (SQL INSERT, CTAS,
  * streaming sink), so the per-row constant factor matters. Uses the
  * driver's Hadoop configuration (serialized into the factory), so
  * `spark.hadoop.*` settings — object-store credentials, endpoints — reach
  * parquet-mr.
  *
  * Unpartitioned tables: one file per task. Hive-partitioned tables: rows
  * arrive clustered AND sorted by the partition columns (the Write declares
  * RequiresDistributionAndOrdering), so the writer streams through
  * partitions holding a single open file at a time, rolling to
  * `<col>=<val>/part-…` subdirectories as the partition key changes.
  */
private[v2] class IceLiteDataWriter(
    stagingDir: String, schema: StructType, partitionBy: Seq[String],
    partitionId: Int, taskId: Long, conf: SerializableConfiguration,
    rowLevel: Boolean = false, ndvCols: String = "*",
    bloomCols: String = "", bloomCapacity: Long = 50000L)
    extends DataWriter[InternalRow] {

  // partition SOURCE columns are rendered into the directory name (the
  // source value for identity entries, the computed bucket/days/truncate
  // value for hidden-partitioning entries) AND stored in the data file
  // (Iceberg keeps source columns in data — hive's column-stripping is a
  // writer artifact): self-contained files are what make partition-spec
  // evolution readable, and source columns get real footer stats for free.
  // Readers under an identity spec serve the column from the directory
  // constant; transform dir values exist for layout and pruning only.
  private val fields: Seq[graft.icelite.PartField] =
    partitionBy.map(graft.icelite.PartField.parse)
  private val srcIdx: Array[Int] = fields.map(f => schema.fieldIndex(f.source)).toArray
  // transform values of different sources interleave under the source
  // sort, so transform specs write in bounded-fanout mode (several files
  // open per task); identity specs keep the strict one-open-file shape
  private val fanout = fields.exists(!_.isIdentity)
  private val dataSchema = schema
  private val dataIdx: Array[Int] = schema.fields.indices.toArray

  private val messageType: MessageType = IceLiteWriteSchema.messageTypeOf(dataSchema)

  // open writers keyed by relative partition dir ("" = unpartitioned).
  // Identity specs hold at most ONE entry (rows arrive sorted by the
  // partition columns; a key change closes the previous file). Transform
  // specs fan out, bounded: bucket cardinality is N by construction and
  // days/truncate are low-cardinality per batch by design — the cap turns
  // an accidental high-cardinality layout into a loud error instead of an
  // executor OOM from thousands of open column writers.
  private val open = scala.collection.mutable.LinkedHashMap
    .empty[String, (ParquetWriter[InternalRow], String)]
  private var fileSeq = 0
  private var done = Seq.empty[String]
  private var stats = Seq.empty[FileStat]

  // Exact per-open-file sums for integral data columns ([[FileStat.sums]]):
  // parquet footers carry min/max/nulls but no sums, so this row loop is
  // the one place a per-file SUM stat exists for free. Long arithmetic
  // with an overflow latch that drops the stat for that column+file —
  // the manifest aggregate then refuses SUM pushdown instead of lying.
  /** Dense accumulator slots for the columns `eligible` admits: per-column
    * slot index (-1 = not tracked), slot count, and slot->name mapping —
    * shared by the sums and NDV plumbing so eligibility/ordering fixes
    * land once.
    */
  private def statSlots(eligible: StructField => Boolean)
      : (Array[Int], Int, Array[String]) = {
    var j = -1
    val slots = dataSchema.fields.map(f => if (eligible(f)) { j += 1; j } else -1)
    val names = dataSchema.fields.zipWithIndex
      .collect { case (f, o) if slots(o) >= 0 => f.name }
    (slots, j + 1, names)
  }

  // sum-eligible: anything whose exact total fits unscaled-long arithmetic.
  // Decimals accumulate in UNSCALED long space (exact; the scale is a type
  // constant), so only long-backed precisions participate — a FIXED-layout
  // p>18 column simply carries no sum stat.
  private val sumEligible: StructField => Boolean = _.dataType match {
    case LongType | IntegerType | ShortType | ByteType => true
    case d: DecimalType => d.precision <= 18
    case _ => false
  }
  private val (sumSlot, nSums, sumNames) = statSlots(sumEligible)
  private val sumAcc = scala.collection.mutable.Map
    .empty[String, (Array[Long], Array[Boolean])]
  // per-slot decimal scale (0 for integral columns): the manifest entry is
  // written as a SCALED plain string (`12.50`, same self-describing form as
  // the min/max stats — never a raw unscaled long a reader could misread)
  private val sumScale: Array[Int] = dataSchema.fields.filter(sumEligible)
    .map(_.dataType match {
      case d: DecimalType => d.scale
      case _ => 0
    })

  // Per-open-file HLL NDV sketches ([[FileStat.ndv]]): like `sums`, the
  // row loop is the one place a per-file distinct-count sketch exists
  // without re-reading data. lgK=12 -> ~1.6% relative standard error and
  // <= ~2.5 KB compact per column per file in the manifest; sketches
  // union losslessly at read time, so table-level NDV is a metadata-only
  // answer at any scale (Iceberg's puffin theta-sketch role).
  // Gate parsing is shared with the maintenance read-back sketcher
  // (FileStats.ndvGate), and eligibility (FileStats.ndvEligible) excludes
  // the reserved `__ndv_version` marker name — a column spelled like the
  // marker must never claim the marker's slot in the shared ndv map.
  private val ndvWanted: String => Boolean = FileStats.ndvGate(ndvCols)
  private val (ndvSlot, nNdv, ndvNames) = statSlots(f =>
    ndvWanted(f.name) && FileStats.ndvEligible(f))
  private val ndvAcc = scala.collection.mutable.Map
    .empty[String, Array[org.apache.datasketches.hll.HllSketch]]

  // Per-open-file Bloom filters ([[FileStat.bloom]]) for the OPT-IN
  // point-lookup columns: min/max prove nothing on a randomly-distributed
  // key, a bloom proves definite absence at plan time. Sized for
  // `bloomCapacity` distinct values at 1% FPP; overfull filters degrade to
  // never-prunes (false positives are free, false negatives impossible).
  // Hash domain shared with the prune probe (FilePrune.bloomMayContain):
  // integral/date/timestamp as update(Long), strings as the NUL-sentinel
  // UTF-8 byte form (the NDV sketches' spelling).
  private val bloomWanted: String => Boolean = FileStats.ndvGate(bloomCols)
  private val (bloomSlot, nBloom, bloomNames) = statSlots(f =>
    bloomWanted(f.name) && FileStats.bloomEligible(f))
  private val bloomAcc = scala.collection.mutable.Map
    .empty[String, Array[org.apache.datasketches.filters.bloomfilter.BloomFilter]]

  // the columns the per-row STAT pass visits: only those holding a sum,
  // sketch, or bloom slot — a gated-off table pays zero stat work
  private val statCols: Array[Int] =
    dataIdx.filter(i => sumSlot(i) >= 0 || ndvSlot(i) >= 0 || bloomSlot(i) >= 0)

  private def openWriter(key: String): ParquetWriter[InternalRow] = {
    val dir = if (key.isEmpty) stagingDir else s"$stagingDir/$key"
    val file = f"$dir/part-$partitionId%05d-$taskId-$fileSeq%03d.parquet"
    fileSeq += 1
    // `lead` is known here: writerFor is only reached from write(), which
    // resolves the row layout before asking for a writer
    val w = new InternalRowWriterBuilder(new Path(file),
      new InternalRowWriteSupport(dataSchema, messageType, lead))
      .withConf(conf.value)
      .build()
    open(key) = (w, file)
    w
  }

  private def closeWriter(key: String): Unit =
    open.remove(key).foreach { case (w, file) =>
      w.close()
      // stats from this task's own freshly-written footer, executor-side —
      // the driver never re-opens data files
      val base = FileStats.fromFooter(conf.value, file)
      val withSums = sumAcc.remove(key) match {
        case Some((acc, bad)) => base.copy(sums = sumNames.indices.collect {
          case j if !bad(j) => sumNames(j) -> (if (sumScale(j) == 0)
            acc(j).toString
          else java.math.BigDecimal.valueOf(acc(j), sumScale(j)).toPlainString)
        }.toMap)
        case None => base // no sum-eligible data columns
      }
      val withNdv = ndvAcc.remove(key) match {
        case Some(sk) => withSums.copy(ndv = ndvNames.indices.map(j =>
          ndvNames(j) -> java.util.Base64.getEncoder
            .encodeToString(sk(j).toCompactByteArray)).toMap +
          (FileStats.NdvVersionKey -> FileStats.NdvVersion))
        case None => withSums // no sketch-eligible columns (or zero rows)
      }
      stats :+= (bloomAcc.remove(key) match {
        case Some(bf) => withNdv.copy(bloom = bloomNames.indices.map(j =>
          bloomNames(j) -> java.util.Base64.getEncoder
            .encodeToString(bf(j).toByteArray)).toMap +
          (FileStats.BloomVersionKey -> FileStats.BloomVersion))
        case None => withNdv // bloom gate off (the default) or zero rows
      })
      done :+= file
    }

  private def writerFor(key: String): ParquetWriter[InternalRow] =
    open.get(key) match {
      case Some((w, _)) => w
      case None =>
        if (!fanout) open.keys.toSeq.foreach(closeWriter) // sorted input: previous key is done
        require(open.size < IceLiteDataWriter.MaxOpenWriters,
          s"icelite fanout write exceeded ${IceLiteDataWriter.MaxOpenWriters} open " +
            "partitions in one task — the partition spec is too fine-grained " +
            "for this batch; coarsen the transform (fewer buckets / wider " +
            "truncation) or pre-sort the input by the partition sources")
        openWriter(key)
    }

  // Row-level rewrites (ReplaceData) prepend bookkeeping columns (e.g.
  // __row_operation) to raw query rows, and Spark strips them only when a
  // metadata projection is in play. IceLiteRowLevelOperation requests the
  // `_file` metadata attribute precisely so that projection exists — rows
  // then arrive exactly table-shaped (verified: lead == 0 on SQL UPDATE).
  // The suffix mapping below is a guarded fallback should a Spark version
  // ever hand a ROW-LEVEL writer unprojected rows again. Appends must be
  // exactly table-shaped: an extra-column append row means the plan and the
  // table disagree, and remapping it silently could write data from the
  // wrong slots — fail loudly instead. The row-level fallback is bounded
  // (ReplaceData-family plans prepend at most the operation + row-id
  // bookkeeping) so an appended-suffix layout change trips the bound
  // rather than silently shifting data columns.
  private var lead = -1

  override def write(row: InternalRow): Unit = {
    if (lead < 0) {
      lead = row.numFields - schema.length
      require(lead >= 0,
        s"writer got ${row.numFields}-field rows for a ${schema.length}-column schema")
      require(lead == 0 || rowLevel,
        s"append writer got ${row.numFields}-field rows for a " +
          s"${schema.length}-column schema — refusing to guess a column mapping")
      require(lead <= 2,
        s"row-level writer got $lead extra leading fields (expected <= 2, " +
          "the ReplaceData bookkeeping prefix) — writer/plan layout drift")
    }
    val key =
      if (fields.isEmpty) ""
      else fields.zip(srcIdx).map { case (f, i) =>
        val dt = schema.fields(i).dataType
        val raw =
          if (row.isNullAt(lead + i)) null
          else if (f.isIdentity) HivePath.render(dt, row, lead + i)
          else {
            // transform value from the source slot, via the SAME
            // implementation the prune path evaluates filter literals with
            val cv: Any = dt match {
              case StringType => row.getUTF8String(lead + i)
              case LongType | TimestampType | TimestampNTZType => row.getLong(lead + i)
              case IntegerType | DateType => row.getInt(lead + i)
              case ShortType => row.getShort(lead + i)
              case ByteType => row.getByte(lead + i)
              case dd: DecimalType => row.getDecimal(lead + i, dd.precision, dd.scale)
              case other => throw new IllegalStateException(
                s"unreachable transform source type $other")
            }
            String.valueOf(graft.icelite.Transforms.applyCatalyst(f, dt, cv))
          }
        s"${f.fieldName}=${HivePath.escape(raw)}"
      }.mkString("/")
    val current = writerFor(key)
    // sums + NDV sketches accumulate in a pass over only the columns that
    // carry a stat slot (statCols — empty when the table has no integral
    // columns and sketching is gated off, making this a no-op); the
    // parquet side streams the full row through the RecordConsumer
    // (InternalRowWriteSupport) with zero per-row materialization.
    if (statCols.length > 0) {
      val (acc, bad) =
        if (nSums == 0) (null: Array[Long], null: Array[Boolean])
        else {
          val t = sumAcc.getOrElseUpdate(key,
            (new Array[Long](nSums), new Array[Boolean](nSums)))
          (t._1, t._2)
        }
      def accumulate(o: Int, v: Long): Unit = {
        val j = sumSlot(o)
        if (j >= 0 && !bad(j))
          try acc(j) = Math.addExact(acc(j), v)
          catch { case _: ArithmeticException => bad(j) = true }
      }
      val sketches =
        if (nNdv == 0) null
        else ndvAcc.getOrElseUpdate(key, Array.fill(nNdv)(
          new org.apache.datasketches.hll.HllSketch(graft.icelite.Ndv.LgK)))
      val blooms =
        if (nBloom == 0) null
        else bloomAcc.getOrElseUpdate(key, Array.fill(nBloom)(
          org.apache.datasketches.filters.bloomfilter.BloomFilterBuilder
            .createByAccuracy(bloomCapacity, FileStats.BloomFpp,
              FileStats.BloomSeed)))
      def sketchLong(o: Int, v: Long): Unit = {
        val j = ndvSlot(o)
        if (j >= 0) sketches(j).update(v)
        val b = bloomSlot(o)
        if (b >= 0) blooms(b).update(v)
      }
      // oversized decimal unscaled values (the p>18 tail that no longer
      // fits a long) hash their two's-complement bytes — Ndv.decimalHash
      // picks the form per VALUE so precision widenings stay consistent
      def sketchBytes(o: Int, v: Array[Byte]): Unit = {
        val j = ndvSlot(o)
        if (j >= 0) sketches(j).update(v)
        val b = bloomSlot(o)
        if (b >= 0) blooms(b).update(v)
      }
      // datasketches update(String) hashes UTF-8 bytes (verified in 6.2.0
      // bytecode: getBytes(UTF_8) -> MurmurHash3, seed 9001) and silently
      // SKIPS empty strings — but "" is a real distinct value. The 0x00
      // sentinel byte prefix is the byte-level form of the version-"2"-era
      // scheme's update("\u0000" + v): identical hashes, every value
      // non-empty, injective — and it reads the UTF8String's bytes
      // directly, no java.lang.String ever built.
      def sketchUtf8(o: Int, u: org.apache.spark.unsafe.types.UTF8String): Unit = {
        val j = ndvSlot(o)
        val bl = bloomSlot(o)
        if (j >= 0 || bl >= 0) {
          val b = u.getBytes
          val s = new Array[Byte](b.length + 1) // s(0) stays 0x00
          System.arraycopy(b, 0, s, 1, b.length)
          if (j >= 0) sketches(j).update(s)
          if (bl >= 0) blooms(bl).update(s)
        }
      }
      var s = 0
      while (s < statCols.length) {
        val i = statCols(s)
        val ri = lead + i
        if (!row.isNullAt(ri)) schema.fields(i).dataType match {
          case LongType =>
            val v = row.getLong(ri); accumulate(i, v); sketchLong(i, v)
          case IntegerType =>
            val v = row.getInt(ri).toLong; accumulate(i, v); sketchLong(i, v)
          // short/byte: sums only (65k/256 possible values make NDV moot)
          case ShortType => accumulate(i, row.getShort(ri).toLong)
          case ByteType => accumulate(i, row.getByte(ri).toLong)
          // long-backed decimals: exact unscaled-long accumulation (the
          // overflow latch drops the stat for the file, same as integers)
          // + v4 NDV / v2 bloom via the same unscaled long
          case d: DecimalType if d.precision <= 18 =>
            val v = row.getDecimal(ri, d.precision, d.scale).toUnscaledLong
            accumulate(i, v); sketchLong(i, v)
          // wide decimals: no sums (read-time BigDecimal fold would lose
          // the exact-long fast path), but NDV/bloom hash by VALUE —
          // unscaled values still fitting a long hash exactly as they did
          // under a narrower declared precision
          case d: DecimalType =>
            graft.icelite.Ndv.decimalHash(row.getDecimal(ri, d.precision,
              d.scale).toJavaBigDecimal.unscaledValue()) match {
              case Left(l) => sketchLong(i, l)
              case Right(b) => sketchBytes(i, b)
            }
          case DateType => sketchLong(i, row.getInt(ri).toLong)
          case TimestampType | TimestampNTZType => sketchLong(i, row.getLong(ri))
          case StringType => sketchUtf8(i, row.getUTF8String(ri))
          // v3: canonical double bits (Ndv.doubleBits — one NaN, one
          // zero); floats widen to double before hashing
          case DoubleType =>
            sketchLong(i, graft.icelite.Ndv.doubleBits(row.getDouble(ri)))
          case FloatType =>
            sketchLong(i, graft.icelite.Ndv.doubleBits(row.getFloat(ri).toDouble))
          case _ => ()
        }
        s += 1
      }
    }
    current.write(row)
  }

  override def commit(): WriterCommitMessage = {
    open.keys.toSeq.foreach(closeWriter)
    IceLiteCommitMessage(stats)
  }

  /** A failed/retried/speculative task must leave nothing behind: close
    * every open writer (their footers would otherwise be readable) and
    * delete every file this task created.
    */
  override def abort(): Unit = {
    val openFiles = open.values.map(_._2).toSeq
    open.values.foreach { case (w, _) =>
      try w.close() catch { case _: Exception => () }
    }
    open.clear()
    (done ++ openFiles).foreach { f =>
      try {
        val p = new Path(f)
        val pfs = p.getFileSystem(conf.value)
        if (pfs.exists(p)) pfs.delete(p, false)
      } catch { case _: Exception => () }
    }
  }

  override def close(): Unit = ()
}

/** parquet-mr WriteSupport streaming `InternalRow` slices straight into the
  * RecordConsumer — the replacement for the example Group API's per-row
  * heap materialization (a `Group` object + boxed `add` per value + a
  * `UTF8String.toString` per string value). Strings go UTF-8-bytes ->
  * `Binary` with no String in between; every primitive rides its unboxed
  * accessor. `lead` is the bookkeeping-column offset row-level rewrites
  * prepend (fixed per task before the first file opens).
  */
private[graft] class InternalRowWriteSupport(
    schema: StructType, messageType: MessageType, lead: Int)
    extends WriteSupport[InternalRow] {

  private var rc: RecordConsumer = _
  private val names: Array[String] = schema.fields.map(_.name)
  // dense type tags: an int tableswitch per value instead of a DataType
  // pattern match (no megamorphic dispatch in the per-value loop)
  private val TLong = 0; private val TInt = 1; private val TDouble = 2
  private val TFloat = 3; private val TBool = 4; private val TString = 5
  private val TShort = 6; private val TByte = 7; private val TBinary = 8
  private val TDecInt = 9; private val TDecLong = 10; private val TDecFixed = 11
  private val tags: Array[Int] = schema.fields.map(_.dataType match {
    case LongType | TimestampType | TimestampNTZType => TLong
    case IntegerType | DateType => TInt
    case DoubleType => TDouble
    case FloatType => TFloat
    case BooleanType => TBool
    case StringType => TString
    case ShortType => TShort
    case ByteType => TByte
    case BinaryType => TBinary
    case d: DecimalType =>
      if (d.precision <= 9) TDecInt
      else if (d.precision <= 18) TDecLong
      else TDecFixed
    case dt => throw new UnsupportedOperationException(
      s"icelite DSv2 writer: unsupported type $dt")
  })
  // decimal slot geometry (0 where the column is not a decimal): the
  // InternalRow accessor needs (precision, scale), and the fixed layout
  // needs its declared byte width for sign-extended padding
  private val decPrecision: Array[Int] = schema.fields.map(_.dataType match {
    case d: DecimalType => d.precision
    case _ => 0
  })
  private val decScale: Array[Int] = schema.fields.map(_.dataType match {
    case d: DecimalType => d.scale
    case _ => 0
  })
  private val decFixedLen: Array[Int] = decPrecision.map(p =>
    if (p > 18) IceLiteWriteSchema.minBytesForPrecision(p) else 0)

  /** Sign-extend a minimal two's-complement unscaled value to exactly `n`
    * bytes (big-endian) — the FIXED_LEN_BYTE_ARRAY encoding. The precision
    * bound guarantees the minimal form fits in `n`.
    */
  private def fixedBytes(unscaled: java.math.BigInteger, n: Int): Array[Byte] = {
    val raw = unscaled.toByteArray
    val out = new Array[Byte](n)
    if (unscaled.signum < 0)
      java.util.Arrays.fill(out, 0, n - raw.length, -1.toByte)
    System.arraycopy(raw, 0, out, n - raw.length, raw.length)
    out
  }

  override def init(conf: org.apache.hadoop.conf.Configuration)
      : WriteSupport.WriteContext =
    new WriteSupport.WriteContext(
      messageType, java.util.Collections.emptyMap[String, String]())

  override def prepareForWrite(consumer: RecordConsumer): Unit = rc = consumer

  override def write(row: InternalRow): Unit = {
    rc.startMessage()
    var i = 0
    while (i < tags.length) {
      val ri = lead + i
      if (!row.isNullAt(ri)) {
        rc.startField(names(i), i)
        tags(i) match {
          case 0 => rc.addLong(row.getLong(ri))
          case 1 => rc.addInteger(row.getInt(ri))
          case 2 => rc.addDouble(row.getDouble(ri))
          case 3 => rc.addFloat(row.getFloat(ri))
          case 4 => rc.addBoolean(row.getBoolean(ri))
          case 5 =>
            // fromReusedByteArray: getBytes usually yields a fresh copy,
            // but MAY return the UTF8String's shared base array — the
            // reused flag makes parquet's dictionary writer copy in that
            // case instead of aliasing bytes we don't own
            rc.addBinary(Binary.fromReusedByteArray(row.getUTF8String(ri).getBytes))
          case 6 => rc.addInteger(row.getShort(ri).toInt)
          case 7 => rc.addInteger(row.getByte(ri).toInt)
          case 8 => rc.addBinary(Binary.fromReusedByteArray(row.getBinary(ri)))
          case 9 => rc.addInteger(
            row.getDecimal(ri, decPrecision(i), decScale(i)).toUnscaledLong.toInt)
          case 10 => rc.addLong(
            row.getDecimal(ri, decPrecision(i), decScale(i)).toUnscaledLong)
          case _ => rc.addBinary(Binary.fromConstantByteArray(fixedBytes(
            row.getDecimal(ri, decPrecision(i), decScale(i))
              .toJavaBigDecimal.unscaledValue(), decFixedLen(i))))
        }
        rc.endField(names(i), i)
      }
      i += 1
    }
    rc.endMessage()
  }
}

/** Minimal ParquetWriter builder carrying [[InternalRowWriteSupport]] (the
  * example-API `ExampleParquetWriter.builder` equivalent for InternalRow).
  */
private[graft] class InternalRowWriterBuilder(
    path: Path, support: WriteSupport[InternalRow])
    extends ParquetWriter.Builder[InternalRow, InternalRowWriterBuilder](path) {
  override def self(): InternalRowWriterBuilder = this
  override def getWriteSupport(conf: org.apache.hadoop.conf.Configuration)
      : WriteSupport[InternalRow] = support
}

private[graft] object IceLiteDataWriter {
  /** Cap on concurrently open files per fanout task (each parquet writer
    * buffers a row group per column — unbounded fanout is an executor OOM).
    */
  val MaxOpenWriters = 256

  /** NDV-sketch column gate, read DRIVER-side when a writer factory is
    * built: `graft.ndv.columns` = "*" (default, every eligible column),
    * "" (no sketches), or a comma list of column names.
    */
  def ndvColsConf: String =
    scala.util.Try(SparkSession.active.conf.get("graft.ndv.columns", "*"))
      .getOrElse("*")

  /** Bloom-filter column gate, resolved DRIVER-side when a writer factory
    * is built: the `write.bloom.columns` TABLE property wins (the opt-in
    * travels with the table — same comma-list spelling as the ndv gate,
    * default "" = no blooms), the `graft.bloom.columns` session conf is the
    * job-wide fallback.
    */
  def bloomColsConf(properties: Map[String, String]): String =
    properties.getOrElse("write.bloom.columns",
      scala.util.Try(SparkSession.active.conf.get("graft.bloom.columns", ""))
        .getOrElse(""))

  /** Per-file bloom capacity (distinct values at 1% FPP): size it to the
    * table's rows-per-file — an overfull filter stays CORRECT but stops
    * pruning. Same property-over-conf resolution as the column gate.
    */
  def bloomCapacityConf(properties: Map[String, String]): Long =
    properties.get("write.bloom.capacity").map(_.trim.toLong).getOrElse(
      scala.util.Try(
        SparkSession.active.conf.get("graft.bloom.capacity", "50000"))
        .getOrElse("50000").trim.toLong)
}

/** Hive-style partition path rendering, matching what Spark's own
  * partitioned writer produces (and what [[PartValues]] parses back):
  * `%XX` escapes for path-hostile bytes, `__HIVE_DEFAULT_PARTITION__` for
  * null.
  */
private[v2] object HivePath {

  def renderable(dt: DataType): Boolean = graft.icelite.PartValues.renderable(dt)

  /** External string form of a partition value (row slot `i`, non-null). */
  def render(dt: DataType, row: InternalRow, i: Int): String = dt match {
    case StringType => row.getUTF8String(i).toString
    case IntegerType => row.getInt(i).toString
    case LongType => row.getLong(i).toString
    case ShortType => row.getShort(i).toString
    case ByteType => row.getByte(i).toString
    case BooleanType => row.getBoolean(i).toString
    case DateType => java.time.LocalDate.ofEpochDay(row.getInt(i).toLong).toString
    case other => throw new UnsupportedOperationException(
      s"icelite: unsupported partition column type $other")
  }

  private def needsEscape(c: Char): Boolean =
    c < 0x20 || c == 0x7f || "\"#%'*/:=?\\{[]^".indexOf(c) >= 0

  def escape(raw: String): String = {
    if (raw == null) return "__HIVE_DEFAULT_PARTITION__"
    val sb = new StringBuilder
    raw.foreach { c =>
      if (needsEscape(c)) c.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        .foreach(b => sb.append(f"%%${b & 0xff}%02X")) // percent + 2 hex
      else sb.append(c)
    }
    sb.toString
  }
}


/** Staged table behind atomic CTAS / RTAS (`CREATE [OR REPLACE] TABLE ...
  * AS SELECT` on the icelite catalog). The DSv2 write stages task files
  * into the (future) table's `data/.staging-rtas-*` and `commit()` only
  * PUBLISHES them (rename to a writer-unique snap dir) and records their
  * stats here — no metadata is touched until Spark calls
  * [[commitStagedChanges]], which lands table metadata AND the first /
  * replace snapshot in one version-CAS commit. Readers therefore never see
  * an empty or half-written table, and a failed query leaves the previous
  * table (or its absence) untouched; an aborted run's published-but-
  * uncommitted dir is unreferenced and reclaimed by orphan GC.
  */
private[v2] class IceLiteStagedTable(
    warehouse: String, ns: String, tbl: String, schema0: StructType,
    partitionBy: Seq[String], sortedBy: Seq[String],
    properties: Map[String, String],
    mode: String /* create | replace | createOrReplace */)
    extends org.apache.spark.sql.connector.catalog.StagedTable
    with org.apache.spark.sql.connector.catalog.SupportsWrite {

  import org.apache.spark.sql.connector.catalog.TableCapability

  private def tableDir = new Path(new Path(warehouse, ns), tbl)
  private def hadoopConf = SparkSession.active.sparkContext.hadoopConfiguration
  private def fs = tableDir.getFileSystem(hadoopConf)

  override def name(): String = s"$ns.$tbl"
  override def schema(): StructType = schema0
  // TRUNCATE/OVERWRITE_BY_FILTER: Spark's atomic RTAS writes to the staged
  // table through OverwriteByExpression(AlwaysTrue) — for a staged table
  // that IS the semantic (the staged commit replaces by construction), so
  // the builder accepts it as a marker
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER)

  private val stagingName = s".staging-rtas-${UUID.randomUUID()}"
  // (published data dir, its file stats), recorded by the batch write's
  // commit; null until then (plain `REPLACE TABLE t (cols)` never writes)
  private val staged =
    new java.util.concurrent.atomic.AtomicReference[(String, Seq[FileStat])](null)
  // schema-ledger baseline of the EXISTING table, captured when the staged
  // data publishes: a concurrent rename/widen/partition-evolution landing
  // between the data write and the metadata commit must abort loudly, like
  // every other commit path (the staged files were written against the
  // statement's schema; applying a newer ledger to them would misdescribe
  // their columns at scan)
  private val baseline =
    new java.util.concurrent.atomic.AtomicReference[graft.icelite.TableMeta](null)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder
      with org.apache.spark.sql.connector.write.SupportsOverwrite {
      // replace-by-construction: the truncate marker needs no state
      override def overwrite(
          filters: Array[org.apache.spark.sql.sources.Filter]): WriteBuilder = {
        require(filters.forall(
          _.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue]),
          s"staged table $ns.$tbl accepts only a full-overwrite condition")
        this
      }
      override def build(): Write = {
        IceLiteWriteSchema.validate(info.schema(), s"CTAS into $ns.$tbl")
        IceLiteWriteShape.of(
          partitionBy,
          stagedBatch(info.schema()),
          throw new UnsupportedOperationException(
            s"streaming write into staged table $ns.$tbl"),
          sortOrder = sortedBy,
          transformsResolvable = true)
      }
    }

  private def stagedBatch(in: StructType): BatchWrite = new BatchWrite {
    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
      require(schema0.fieldNames.sorted.sameElements(in.fieldNames.sorted),
        s"schema mismatch staging $ns.$tbl: " +
          s"incoming ${in.fieldNames.toSeq.sorted} vs declared " +
          s"${schema0.fieldNames.toSeq.sorted}")
      partitionBy.foreach(entry =>
        graft.icelite.Transforms.validate(schema0, entry))
      new IceLiteWriterFactory(
        new Path(tableDir, s"data/$stagingName").toString,
        schema0.toDDL, partitionBy, new SerializableConfiguration(hadoopConf),
        ndvCols = IceLiteDataWriter.ndvColsConf)
    }

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      // publish only — the candidate id labels the schema era like the
      // append path's; the final snapshot id is assigned at the metadata
      // commit in commitStagedChanges
      val cand =
        if (!new graft.icelite.IceCatalog(SparkSession.active, warehouse)
            .tableExists(ns, tbl)) 1L
        else {
          val m = MetaIo.read(fs, tableDir)
          baseline.set(m)
          m.snapshots.map(_.snapshotId).maxOption.getOrElse(0L) + 1
        }
      val pubName =
        f"snap-$cand%05d-${stagingName.stripPrefix(".staging-rtas-").take(8)}"
      val dataDir = new Path(tableDir, s"data/$pubName")
      val staging = new Path(tableDir, s"data/$stagingName")
      if (!fs.exists(staging)) fs.mkdirs(staging) // zero-partition write
      require(fs.rename(staging, dataDir),
        s"failed to publish staged dir for $ns.$tbl")
      val added = messages.collect { case msg: IceLiteCommitMessage =>
        msg.stats.map(st => st.copy(path = fs.makeQualified(new Path(
          st.path.replace(s"data/$stagingName", s"data/$pubName"))).toString))
      }.toSeq.flatten.sortBy(_.path)
      staged.set((dataDir.toString, added))
      ()
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit = {
      val staging = new Path(tableDir, s"data/$stagingName")
      if (fs.exists(staging)) fs.delete(staging, true)
      ()
    }
  }

  override def commitStagedChanges(): Unit = {
    val st = Option(staged.get())
    val added = st.map(_._2).getOrElse(Nil)
    val dataDirs = st.map(s => Seq(s._1)).getOrElse(Nil)
    val icat = new graft.icelite.IceCatalog(SparkSession.active, warehouse)
    val exists = icat.tableExists(ns, tbl)
    mode match {
      case "create" if exists =>
        abortStagedChanges()
        throw new IllegalStateException(s"table $ns.$tbl already exists")
      case "replace" if !exists =>
        abortStagedChanges()
        throw new IllegalStateException(s"table $ns.$tbl does not exist")
      case _ => ()
    }
    graft.icelite.IceCatalog.validateProperties(properties)
    if (!exists) {
      // atomic create: metadata v1 CARRIES the CTAS snapshot — the commit's
      // exclusive version claim is also the duplicate-create guard
      partitionBy.foreach(entry =>
        graft.icelite.Transforms.validate(schema0, entry))
      icat.createNamespace(ns)
      val rows = added.map(_.rows).sum
      val snaps =
        if (added.isEmpty && dataDirs.isEmpty) Nil
        else Seq(SnapshotMeta(
          snapshotId = 1L, timestampMs = System.currentTimeMillis(),
          operation = "replace", dataDirs = dataDirs,
          addedFiles = added.map(_.path), addedRows = rows, totalRows = rows,
          schemaDdl = schema0.toDDL,
          files = added.sortBy(_.path), parentId = 0L))
      MetaIo.commit(fs, tableDir, graft.icelite.TableMeta(
        formatVersion = graft.icelite.TableMeta.FormatVersion, namespace = ns, name = tbl,
        schemaDdl = schema0.toDDL, partitionBy = partitionBy,
        currentSnapshotId = if (snaps.isEmpty) 0L else 1L,
        snapshots = snaps, version = 1,
        sortOrder = sortedBy, properties = properties))
      ()
    } else {
      val t = icat.loadTable(ns, tbl)
      require(t.meta.partitionBy == partitionBy,
        s"REPLACE TABLE $ns.$tbl keeps the existing partition layout " +
          s"(${t.meta.partitionBy.mkString(", ")}); DROP + CREATE to change it")
      // concurrent-DDL guard (same contract as the append commit): the
      // ledgers must not have moved since the staged data published — and
      // if the table appeared only AFTER the publish (createOrReplace
      // racing a concurrent create), there is no baseline to verify
      // against, so abort rather than guess
      val b = Option(baseline.get()).getOrElse {
        if (st.isDefined) {
          abortStagedChanges()
          throw new IllegalStateException(
            s"RTAS into $ns.$tbl raced a concurrent table creation — aborting")
        } else t.meta // no data staged: nothing written against a stale schema
      }
      MetaIo.retryCommit(fs, tableDir) { cur =>
        require(cur.renames == b.renames &&
          cur.widenedColumns == b.widenedColumns &&
          cur.partitionSpecs == b.partitionSpecs,
          s"RTAS into $ns.$tbl raced a concurrent schema change — aborting")
        t.replaceFiles(cur, dataDirs, added, schema0.toDDL, sortedBy, properties)
      }
      ()
    }
  }

  override def abortStagedChanges(): Unit = {
    val staging = new Path(tableDir, s"data/$stagingName")
    if (fs.exists(staging)) fs.delete(staging, true)
    // a published-but-uncommitted dir is referenced by no snapshot: remove
    // it too when identifiable (otherwise orphan GC reclaims it later)
    Option(staged.get()).foreach { case (d, _) =>
      val p = new Path(d)
      if (fs.exists(p)) fs.delete(p, true)
    }
    ()
  }
}
