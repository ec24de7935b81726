package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.icelite.IceCatalog
import graft.model._
import graft.sources.KeboolaCsv

/** The component entry point: `/data`-contract execution with action
  * dispatch — the Spark rendition of the reference's `execute_action()`
  * (C1, `components/ex-iceberg/src/component.py:168-172`).
  *
  * `run` performs the extractor flow (IceLite table → quoted CSV + manifest,
  * or Parquet) when `parameters.source` is set, and the writer flow (manifest
  * CSV → IceLite append/upsert/replace) when `parameters.wr_destination` is
  * set. The `list_*` sync actions print a JSON array of `{label, value}`
  * elements on stdout and nothing else (C7 stdout discipline,
  * `wr/src/component.py:130-133`). Exit codes: 0 ok, 1 user error, 2
  * unexpected (C3, `ex/src/component.py:168-178`).
  */
object ComponentMain {

  def main(args: Array[String]): Unit = {
    val dataDir = args.headOption.getOrElse("/data")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("graft-component")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // stop the session BEFORE exiting — sys.exit inside a try never runs
    // the finally, leaving shutdown to hooks that may not flush cleanly
    val code = try execute(spark, dataDir) finally spark.stop()
    sys.exit(code)
  }

  /** Testable core: returns the process exit code instead of calling exit.
    * `env` is injectable so specs can point the Storage API client and the
    * GELF logger at local servers (production passes the platform's
    * KBC_URL / KBC_TOKEN / KBC_LOGGER_ADDR / KBC_LOGGER_PORT).
    */
  def execute(spark: SparkSession, dataDir: String,
      env: Map[String, String] = sys.env): Int = {
    // C9: when the platform injects a GELF endpoint, run-level events go
    // there (structured, with the shipped verbosity policy: errors verbose,
    // crashes camouflaged); stderr stays authoritative for the exit-code
    // taxonomy either way
    val gelf = graft.logging.GelfLogger.fromEnv(env)
    try {
      val code = executeInner(spark, dataDir, env, gelf)
      gelf.foreach(_.close())
      code
    } catch { case e: Throwable => gelf.foreach(_.close()); throw e }
  }

  private def executeInner(spark: SparkSession, dataDir: String,
      env: Map[String, String],
      gelf: Option[graft.logging.GelfLogger]): Int =
    try {
      val cfgPath = Paths.get(dataDir, "config.json")
      if (!Files.exists(cfgPath))
        throw new UserException(s"missing $cfgPath")
      val cfg = ComponentConfig.fromJson(Files.readString(cfgPath))
      gelf.foreach(_.info(s"Running action '${cfg.action}'."))
      val cat = new IceCatalog(spark, warehouseOf(cfg))
      cfg.action match {
        case "run" => run(spark, cat, cfg, dataDir)
        case "list_namespaces" =>
          emit(cat.listNamespaces().map(ns => ns -> ns))
        case "list_tables" =>
          val ns = sourceOf(cfg).namespace
          emit(cat.listTables(ns).map(t => t -> t))
        case "list_snapshots" =>
          val s = sourceOf(cfg)
          // explicit UTC formatting — java.sql.Timestamp.toString renders in
          // the JVM default zone, which would make the output host-dependent
          val fmt = java.time.format.DateTimeFormatter
            .ofPattern("yyyy-MM-dd HH:mm:ss 'UTC'")
            .withZone(java.time.ZoneOffset.UTC)
          emit(cat.loadTable(s.namespace, s.tableName).snapshots
            .map(sn => fmt.format(java.time.Instant.ofEpochMilli(sn.timestampMs))
              -> sn.snapshotId.toString))
        case "list_columns" =>
          val s = sourceOf(cfg)
          emit(cat.loadTable(s.namespace, s.tableName).schema.fields.toSeq
            .map(f => s"${f.name} (${f.dataType.sql})" -> f.name))
        case "list_table_columns" =>
          // columns of the platform *input* table via the Storage API — the
          // writer-UI helper (`wr/src/component.py:154-166`): table id from
          // the first storage input mapping, endpoint/token from the
          // platform-injected environment
          val tables = cfg.storage.input.tables
          if (tables.isEmpty)
            throw new UserException(
              "Can list only columns from input tables, not files.")
          val url = env.getOrElse("KBC_URL",
            throw new UserException("KBC_URL is not set"))
          val token = env.getOrElse("KBC_TOKEN",
            throw new UserException("KBC_TOKEN is not set"))
          val client = new graft.sources.StorageApiClient(url, token)
          emit(client.getTableColumns(tables.head.source).map(c => c -> c))
        case "query_preview" =>
          // the one reference-advertised action with no execution path
          // anywhere (`ex/component_config/configRowSchema.json:94-107`
          // wires a UI button to it; no component code handles it). Here:
          // run the custom query over the source table, return a row-capped
          // JSON preview on stdout (C7 discipline).
          val s = sourceOf(cfg)
          if (!cat.tableExists(s.namespace, s.tableName))
            throw new UserException(
              s"table ${s.namespace}.${s.tableName} does not exist")
          cat.loadTable(s.namespace, s.tableName).toDF
            .createOrReplaceTempView(s.tableName)
          val sql = cfg.parameters.dataSelection.query.trim match {
            case "" => s"SELECT * FROM ${s.tableName}"
            case q => q
          }
          // Preview surface runs queries, not statements. A string-prefix
          // check cannot police a grammar (`WITH x AS (...) INSERT INTO t
          // SELECT ...` starts with "with" yet mutates the table), so parse
          // the plan and reject any statement node anywhere in the tree.
          val parsed =
            try spark.sessionState.sqlParser.parsePlan(sql)
            catch { case NonFatal(e) =>
              throw new UserException(s"query failed: ${e.getMessage}")
            }
          import org.apache.spark.sql.catalyst.plans.logical.{Command, ParsedStatement}
          // Command covers v2 DDL/DML plan nodes; ParsedStatement covers
          // v1-style parsed statements (InsertIntoStatement among them).
          parsed.collectFirst {
            case c: Command => c
            case s: ParsedStatement => s
          }.foreach { n =>
            throw new UserException(
              s"query_preview accepts read-only SELECT queries only (got ${n.nodeName})")
          }
          val preview =
            try spark.sql(sql).limit(PreviewRows).toJSON.collect()
            catch { case NonFatal(e) =>
              throw new UserException(s"query failed: ${e.getMessage}")
            }
          println(preview.mkString("[", ", ", "]"))
        case other =>
          throw new UserException(s"unknown action '$other'")
      }
      gelf.foreach(_.info("Component finished."))
      0
    } catch {
      case e: UserException =>
        gelf.foreach(_.error(e.getMessage))
        System.err.println(s"ERROR: ${e.getMessage}")
        1
      case NonFatal(e) =>
        gelf.foreach(_.critical(e.toString))
        System.err.println(s"UNEXPECTED: $e")
        2
    }

  /** Row cap for the `query_preview` sync action — a UI affordance, so it
    * stays small and collect-safe regardless of the query.
    */
  private val PreviewRows = 100

  private def warehouseOf(cfg: ComponentConfig): String = {
    val wh = cfg.parameters.catalog.warehouse
    if (wh.isEmpty) throw new UserException("catalog.warehouse is required")
    wh
  }

  private def sourceOf(cfg: ComponentConfig): SourceConf =
    cfg.parameters.source.getOrElse(
      throw new UserException("parameters.source is required for this action"))

  /** Sync-action output: JSON `[{"label": ..., "value": ...}]` on stdout. */
  private def emit(items: Seq[(String, String)]): Unit = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    println(items.map { case (l, v) =>
      s"""{"label": ${q(l)}, "value": ${q(v)}}"""
    }.mkString("[", ", ", "]"))
  }

  private def run(spark: SparkSession, cat: IceCatalog,
      cfg: ComponentConfig, dataDir: String): Unit =
    (cfg.parameters.source, cfg.parameters.wrDestination) match {
      case (Some(src), None) => extract(spark, cat, cfg, src, dataDir)
      case (None, Some(dst)) => write(spark, cat, cfg, dst, dataDir)
      case _ => throw new UserException(
        "config must set exactly one of parameters.source (extractor) or " +
          "parameters.wr_destination (writer)")
    }

  /** Extractor run (E1): scan with projection/limit/snapshot pin, then
    * quoted CSV + manifest, or Parquet (`ex/src/component.py:28-86`).
    * Like PyIceberg's `scan(limit=…)`, the cap stops planning once it is
    * covered: on a delete-free snapshot the scan plans only the manifest-
    * order file prefix whose row counts reach `scan_limit` and enforces
    * the limit itself, so the export is one Spark job with no shuffle and
    * always the same rows for the same snapshot. A Parquet export then
    * writes one part file per planned data file.
    */
  private def extract(spark: SparkSession, cat: IceCatalog,
      cfg: ComponentConfig, src: SourceConf, dataDir: String): Unit = {
    val p = cfg.parameters
    if (!cat.tableExists(src.namespace, src.tableName))
      throw new UserException(s"table ${src.namespace}.${src.tableName} does not exist")
    val table = cat.loadTable(src.namespace, src.tableName)
    val cols =
      if (p.dataSelection.mode == "selected_columns") p.dataSelection.columns else Nil
    // the reference truncates at 100k silently (`ex:37`); we keep the cap as
    // an overridable default and say so out loud
    System.err.println(s"[extract] scan capped at ${p.scanLimit} rows (scan_limit)")
    val df0 = table.scan(columns = cols, limit = Some(p.scanLimit),
      snapshotId = p.dataSelection.snapshotId)
    val dest = p.destination.getOrElse(ExDestination())
    if (dest.parquetOutput) {
      df0.write.mode("overwrite")
        .parquet(s"$dataDir/out/files/${src.tableName}.parquet")
    } else {
      val outDir = s"$dataDir/out/tables/${src.tableName}.csv"
      KeboolaCsv.writeQuoted(df0, outDir, singleFile = true)
      val manifest = KeboolaManifest.forSchema(
        df0.schema,
        primaryKey = dest.primaryKey,
        incremental = dest.loadType == "incremental_load")
      Files.writeString(Paths.get(s"$outDir.manifest"), KeboolaManifest.toJson(manifest))
    }
  }

  /** Writer run (E2): manifest-typed CSV → append/upsert/replace
    * (`wr/src/component.py:37-128`), with the upsert key fallback chain
    * `config.primary_key or manifest.primary_key` (`wr:93-95`).
    */
  private def write(spark: SparkSession, cat: IceCatalog,
      cfg: ComponentConfig, dst: WrDestination, dataDir: String): Unit = {
    val p = cfg.parameters
    val inTables = Paths.get(dataDir, "in", "tables")
    // a platform table is a single CSV file; a directory of part files
    // (Spark's own sink layout) is accepted identically — spark.read.csv
    // handles both. Parquet inputs are accepted too — the reference stubs
    // this path out (`wr/src/component.py:78-81`, commented out); here it
    // is just a different reader in front of the same table flow.
    val inputs =
      if (!Files.exists(inTables)) Nil
      else Files.list(inTables).iterator().asScala
        .filter(f => f.toString.endsWith(".csv") || f.toString.endsWith(".parquet"))
        .toSeq
    // C2 input-shape validation (`wr:42-46`)
    if (inputs.size != 1)
      throw new UserException(s"expected exactly one input table, found ${inputs.size}")
    val input = inputs.head
    val manifestPath = Paths.get(input.toString + ".manifest")
    val manifest =
      if (Files.exists(manifestPath))
        KeboolaManifest.fromJson(Files.readString(manifestPath))
      else KeboolaManifest()
    val df =
      if (input.toString.endsWith(".parquet")) spark.read.parquet(input.toString)
      else KeboolaCsv.read(spark, input.toString, manifest, allVarchar = p.allVarchar)

    val exists = cat.tableExists(dst.namespace, dst.tableName)
    dst.mode match {
      case "replace" =>
        cat.createOrReplaceTable(dst.namespace, dst.tableName, df.schema,
          p.partitionBy).append(df)
      case "append" =>
        val tbl =
          if (exists) cat.loadTable(dst.namespace, dst.tableName)
          else cat.createTable(dst.namespace, dst.tableName, df.schema, p.partitionBy)
        tbl.append(df)
      case "upsert" =>
        val keys =
          if (dst.primaryKey.nonEmpty) dst.primaryKey else manifest.primaryKey
        if (keys.isEmpty)
          throw new UserException(
            "upsert requires a primary key (config destination.primary_key or input manifest)")
        val tbl =
          if (exists) cat.loadTable(dst.namespace, dst.tableName)
          else cat.createTable(dst.namespace, dst.tableName, df.schema, p.partitionBy)
        if (tbl.meta.currentSnapshot.isEmpty) tbl.append(df.dropDuplicates(keys))
        else tbl.upsert(df.dropDuplicates(keys), keys)
      case other =>
        throw new UserException(s"unknown write mode '$other'")
    }
  }
}
