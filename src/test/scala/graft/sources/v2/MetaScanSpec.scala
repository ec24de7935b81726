package graft.sources.v2

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.sources.LessThanOrEqual

import graft.SparkSpec
import graft.icelite.IceCatalog

/** Every metadata view of [[IceLiteMeta.names]], read through SQL on three
  * table shapes, must serve exactly the recorded rows, schema, scan
  * description and input-partition count:
  *  - `none`: a table with no snapshot;
  *  - `hist`: two appends, a compaction, a rollback, a tag, a merge-on-read
  *    position delete and an equality delete (manifest-parallel and
  *    delete-file-parallel serving);
  *  - `zero`: an append, then a replace with an empty frame — the current
  *    snapshot has zero files and, like every committed snapshot, its own
  *    manifest, so `.files` and `.partitions` serve manifest-parallel,
  *    `.manifests`/`.all_manifests` list it, and `.all_files` and
  *    `.all_entries` give it its own (empty) partition.
  * Volatile parts are normalized: the warehouse prefix, UUIDs in file
  * names, the writer's task id in data-file and position-delete file
  * names, commit timestamps and manifest byte lengths (those embed the
  * volatile paths).
  */
class MetaScanSpec extends SparkSpec {
  import spark.implicits._

  private lazy val wh: String = {
    val w = scratch("metascan")
    val cat = new IceCatalog(spark, w)
    val df = (1L to 20L).map(i => (i, if (i % 2 == 0) "a" else "b", i * 0.5))
      .toDF("id", "p", "v")
    cat.createTable("lake", "none", df.schema)
    val hist = cat.createTable("lake", "hist", df.schema, partitionBy = Seq("p"))
    hist.append(df.filter($"id" <= 10))
    hist.append(df.filter($"id" > 10))
    hist.compact()
    hist.rollbackTo(2L)
    hist.tag("first", 1L)
    hist.deleteWhereMor(Seq(LessThanOrEqual("id", 3L)))
    hist.deleteKeysEq(Seq(15L, 16L).toDF("id"), Seq("id"))
    val zero = cat.createTable("lake", "zero", df.schema)
    zero.append(df.filter($"id" <= 5))
    zero.replace(df.filter($"id" < 0))
    spark.conf.set("spark.sql.catalog.ice_ms", "graft.sources.v2.IceLiteCatalog")
    spark.conf.set("spark.sql.catalog.ice_ms.warehouse", w)
    w
  }

  private val uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r
  private val shortId = "-[0-9a-f]{8}(?=[/.,\\]|]|$)".r
  private val taskId = "part-(\\d{5})-\\d+-(\\d{3})".r
  private val delTaskId = "del-(\\d{5})-\\d+[.]parquet".r

  private def norm(s: String): String = {
    val noWh = s.replace("file:" + wh, "<wh>").replace(wh, "<wh>")
    val ids = shortId.replaceAllIn(uuid.replaceAllIn(noWh, "<uuid>"), "-<id>")
    delTaskId.replaceAllIn(taskId.replaceAllIn(ids, "part-$1-<task>-$2"),
      "del-$1-<task>.parquet")
  }

  private def render(r: Row): String =
    r.schema.fields.indices.map { i =>
      r.schema.fields(i).name match {
        case "timestamp_ms" | "made_current_at" => "<ts>"
        case "length_bytes" if r.getLong(i) > 0 => "<len>"
        case _ => norm(String.valueOf(r.get(i)))
      }
    }.mkString("|")

  /** Schema, description, input partitions and sorted rows of one view. */
  private def serve(table: String, view: String): String = {
    assert(wh.nonEmpty) // builds the fixtures and registers the catalog
    val df = spark.sql(s"SELECT * FROM ice_ms.lake.$table.$view")
    val scan = df.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b
    }.getOrElse(fail(s"$table.$view: no batch scan in the plan"))
    (Seq(df.schema.toDDL, scan.scan.description(),
      s"partitions=${scan.inputPartitions.length}") ++
      df.collect().map(render).sorted).mkString("\n")
  }

  for (table <- Seq("none", "hist", "zero"))
    test(s"every metadata view serves its recorded result on '$table'") {
      val got = IceLiteMeta.names.toSeq.sorted.map(v => v -> serve(table, v))
      val missing = got.filterNot { case (v, _) => expected.contains(s"$table.$v") }
      assert(missing.isEmpty, s"no recorded result for ${missing.map(_._1)}")
      got.foreach { case (v, s) =>
        assert(s == expected(s"$table.$v"), s"$table.$v")
      }
    }

  private lazy val expected: Map[String, String] = Map[String, String](
    "none.all_data_files" ->
      """snapshot_id BIGINT,path STRING,rows BIGINT,bytes BIGINT
        |icelite metadata lake.none.all_data_files
        |partitions=1""",
    "none.all_delete_files" ->
      """snapshot_id BIGINT,path STRING,kind STRING,rows BIGINT
        |icelite metadata lake.none.all_delete_files
        |partitions=1""",
    "none.all_entries" ->
      """snapshot_id BIGINT,status INT,data_file STRUCT<path: STRING, rows: BIGINT, bytes: BIGINT>
        |icelite metadata lake.none.all_entries
        |partitions=1""",
    "none.all_files" ->
      """snapshot_id BIGINT,path STRING,rows BIGINT,bytes BIGINT
        |icelite metadata lake.none.all_files
        |partitions=1""",
    "none.all_manifests" ->
      """snapshot_id BIGINT,path STRING,length_bytes BIGINT,depth INT,is_delta BOOLEAN
        |icelite metadata lake.none.all_manifests
        |partitions=1""",
    "none.data_files" ->
      """path STRING,rows BIGINT,bytes BIGINT
        |icelite metadata lake.none.data_files
        |partitions=1""",
    "none.delete_files" ->
      """path STRING,kind STRING,rows BIGINT,key_columns STRING
        |icelite metadata lake.none.delete_files
        |partitions=1""",
    "none.deletes" ->
      """delete_file STRING,kind STRING,data_file STRING,rows BIGINT,key_columns STRING
        |icelite metadata lake.none.deletes
        |partitions=1""",
    "none.entries" ->
      """status INT,snapshot_id BIGINT,data_file STRUCT<path: STRING, rows: BIGINT, bytes: BIGINT>
        |icelite metadata lake.none.entries
        |partitions=1""",
    "none.files" ->
      """path STRING,rows BIGINT,bytes BIGINT
        |icelite metadata lake.none.files
        |partitions=1""",
    "none.history" ->
      """made_current_at BIGINT,snapshot_id BIGINT,parent_id BIGINT,is_current_ancestor BOOLEAN
        |icelite metadata lake.none.history
        |partitions=1""",
    "none.manifests" ->
      """snapshot_id BIGINT,path STRING,length_bytes BIGINT,added_files BIGINT,chain_len INT
        |icelite metadata lake.none.manifests
        |partitions=1""",
    "none.metadata_log_entries" ->
      """version INT,file STRING,latest_snapshot_id BIGINT,snapshot_count INT
        |icelite metadata lake.none.metadata_log_entries
        |partitions=1
        |1|<wh>/lake/none/metadata/v1.json|null|0""",
    "none.partitions" ->
      """partition STRING,file_count BIGINT,row_count BIGINT,bytes BIGINT
        |icelite metadata lake.none.partitions
        |partitions=1""",
    "none.position_deletes" ->
      """file_path STRING,pos BIGINT,delete_file STRING
        |icelite metadata lake.none.position_deletes (delete-file-parallel)
        |partitions=0""",
    "none.refs" ->
      """name STRING,type STRING,snapshot_id BIGINT
        |icelite metadata lake.none.refs
        |partitions=1""",
    "none.snapshots" ->
      """snapshot_id BIGINT,timestamp_ms BIGINT,operation STRING,added_files BIGINT,added_rows BIGINT,total_rows BIGINT,is_current BOOLEAN
        |icelite metadata lake.none.snapshots
        |partitions=1""",
    "none.stats" ->
      """column STRING,data_type STRING,ndv BIGINT,null_count BIGINT,sketched BOOLEAN,bloomed BOOLEAN
        |icelite metadata lake.none.stats
        |partitions=1
        |id|bigint|0|0|true|false
        |p|string|0|0|true|false
        |v|double|0|0|true|false""",
    "hist.all_data_files" ->
      """snapshot_id BIGINT,path STRING,rows BIGINT,bytes BIGINT
        |icelite metadata lake.hist.all_data_files (manifest-parallel)
        |partitions=5
        |1|<wh>/lake/hist/data/snap-00001-<id>/p=a/part-00000-<task>-000.parquet|5|739
        |1|<wh>/lake/hist/data/snap-00001-<id>/p=b/part-00000-<task>-001.parquet|5|739
        |2|<wh>/lake/hist/data/snap-00002-<id>/p=a/part-00000-<task>-000.parquet|5|739
        |2|<wh>/lake/hist/data/snap-00002-<id>/p=b/part-00000-<task>-001.parquet|5|739
        |3|<wh>/lake/hist/data/snap-00003/p=a/part-00000-<task>-000.parquet|10|823
        |3|<wh>/lake/hist/data/snap-00003/p=b/part-00000-<task>-001.parquet|10|823""",
    "hist.all_delete_files" ->
      """snapshot_id BIGINT,path STRING,kind STRING,rows BIGINT
        |icelite metadata lake.hist.all_delete_files
        |partitions=1
        |4|<wh>/lake/hist/data/deletes-snap-00004-<id>/del-00000-<task>.parquet|position|3
        |5|<wh>/lake/hist/data/eqdeletes-snap-00005-<id>/part-00000-<task>-000.parquet|equality|2""",
    "hist.all_entries" ->
      """snapshot_id BIGINT,status INT,data_file STRUCT<path: STRING, rows: BIGINT, bytes: BIGINT>
        |icelite metadata lake.hist.all_entries (manifest-parallel)
        |partitions=5
        |1|1|[<wh>/lake/hist/data/snap-00001-<id>/p=a/part-00000-<task>-000.parquet,5,739]
        |1|1|[<wh>/lake/hist/data/snap-00001-<id>/p=b/part-00000-<task>-001.parquet,5,739]
        |2|0|[<wh>/lake/hist/data/snap-00001-<id>/p=a/part-00000-<task>-000.parquet,5,739]
        |2|0|[<wh>/lake/hist/data/snap-00001-<id>/p=b/part-00000-<task>-001.parquet,5,739]
        |2|1|[<wh>/lake/hist/data/snap-00002-<id>/p=a/part-00000-<task>-000.parquet,5,739]
        |2|1|[<wh>/lake/hist/data/snap-00002-<id>/p=b/part-00000-<task>-001.parquet,5,739]
        |3|1|[<wh>/lake/hist/data/snap-00003/p=a/part-00000-<task>-000.parquet,10,823]
        |3|1|[<wh>/lake/hist/data/snap-00003/p=b/part-00000-<task>-001.parquet,10,823]
        |4|0|[<wh>/lake/hist/data/snap-00001-<id>/p=a/part-00000-<task>-000.parquet,5,739]
        |4|0|[<wh>/lake/hist/data/snap-00001-<id>/p=b/part-00000-<task>-001.parquet,5,739]
        |4|0|[<wh>/lake/hist/data/snap-00002-<id>/p=a/part-00000-<task>-000.parquet,5,739]
        |4|0|[<wh>/lake/hist/data/snap-00002-<id>/p=b/part-00000-<task>-001.parquet,5,739]
        |5|0|[<wh>/lake/hist/data/snap-00001-<id>/p=a/part-00000-<task>-000.parquet,5,739]
        |5|0|[<wh>/lake/hist/data/snap-00001-<id>/p=b/part-00000-<task>-001.parquet,5,739]
        |5|0|[<wh>/lake/hist/data/snap-00002-<id>/p=a/part-00000-<task>-000.parquet,5,739]
        |5|0|[<wh>/lake/hist/data/snap-00002-<id>/p=b/part-00000-<task>-001.parquet,5,739]""",
    "hist.all_files" ->
      """snapshot_id BIGINT,path STRING,rows BIGINT,bytes BIGINT
        |icelite metadata lake.hist.all_files (manifest-parallel)
        |partitions=5
        |1|<wh>/lake/hist/data/snap-00001-<id>/p=a/part-00000-<task>-000.parquet|5|739
        |1|<wh>/lake/hist/data/snap-00001-<id>/p=b/part-00000-<task>-001.parquet|5|739
        |2|<wh>/lake/hist/data/snap-00002-<id>/p=a/part-00000-<task>-000.parquet|5|739
        |2|<wh>/lake/hist/data/snap-00002-<id>/p=b/part-00000-<task>-001.parquet|5|739
        |3|<wh>/lake/hist/data/snap-00003/p=a/part-00000-<task>-000.parquet|10|823
        |3|<wh>/lake/hist/data/snap-00003/p=b/part-00000-<task>-001.parquet|10|823""",
    "hist.all_manifests" ->
      """snapshot_id BIGINT,path STRING,length_bytes BIGINT,depth INT,is_delta BOOLEAN
        |icelite metadata lake.hist.all_manifests
        |partitions=1
        |1|<wh>/lake/hist/metadata/manifest-00001-<uuid>.json|<len>|0|false
        |2|<wh>/lake/hist/metadata/manifest-00001-<uuid>.json|<len>|1|false
        |2|<wh>/lake/hist/metadata/manifest-00002-<uuid>.json|<len>|0|true
        |3|<wh>/lake/hist/metadata/manifest-00003-<uuid>.json|<len>|0|false
        |4|<wh>/lake/hist/metadata/manifest-00004-<uuid>.json|<len>|0|false
        |5|<wh>/lake/hist/metadata/manifest-00004-<uuid>.json|<len>|1|false
        |5|<wh>/lake/hist/metadata/manifest-00005-<uuid>.json|<len>|0|true""",
    "hist.data_files" ->
      """path STRING,rows BIGINT,bytes BIGINT
        |icelite metadata lake.hist.data_files (manifest-parallel)
        |partitions=1
        |<wh>/lake/hist/data/snap-00001-<id>/p=a/part-00000-<task>-000.parquet|5|739
        |<wh>/lake/hist/data/snap-00001-<id>/p=b/part-00000-<task>-001.parquet|5|739
        |<wh>/lake/hist/data/snap-00002-<id>/p=a/part-00000-<task>-000.parquet|5|739
        |<wh>/lake/hist/data/snap-00002-<id>/p=b/part-00000-<task>-001.parquet|5|739""",
    "hist.delete_files" ->
      """path STRING,kind STRING,rows BIGINT,key_columns STRING
        |icelite metadata lake.hist.delete_files
        |partitions=1
        |<wh>/lake/hist/data/deletes-snap-00004-<id>/del-00000-<task>.parquet|position|3|null
        |<wh>/lake/hist/data/eqdeletes-snap-00005-<id>/part-00000-<task>-000.parquet|equality|2|id""",
    "hist.deletes" ->
      """delete_file STRING,kind STRING,data_file STRING,rows BIGINT,key_columns STRING
        |icelite metadata lake.hist.deletes
        |partitions=1
        |<wh>/lake/hist/data/deletes-snap-00004-<id>/del-00000-<task>.parquet|position|<wh>/lake/hist/data/snap-00001-<id>/p=a/part-00000-<task>-000.parquet|1|null
        |<wh>/lake/hist/data/deletes-snap-00004-<id>/del-00000-<task>.parquet|position|<wh>/lake/hist/data/snap-00001-<id>/p=b/part-00000-<task>-001.parquet|2|null
        |<wh>/lake/hist/data/eqdeletes-snap-00005-<id>/part-00000-<task>-000.parquet|equality|null|2|id""",
    "hist.entries" ->
      """status INT,snapshot_id BIGINT,data_file STRUCT<path: STRING, rows: BIGINT, bytes: BIGINT>
        |icelite metadata lake.hist.entries
        |partitions=1
        |0|1|[<wh>/lake/hist/data/snap-00001-<id>/p=a/part-00000-<task>-000.parquet,5,739]
        |0|1|[<wh>/lake/hist/data/snap-00001-<id>/p=b/part-00000-<task>-001.parquet,5,739]
        |0|2|[<wh>/lake/hist/data/snap-00002-<id>/p=a/part-00000-<task>-000.parquet,5,739]
        |0|2|[<wh>/lake/hist/data/snap-00002-<id>/p=b/part-00000-<task>-001.parquet,5,739]""",
    "hist.files" ->
      """path STRING,rows BIGINT,bytes BIGINT
        |icelite metadata lake.hist.files (manifest-parallel)
        |partitions=1
        |<wh>/lake/hist/data/snap-00001-<id>/p=a/part-00000-<task>-000.parquet|5|739
        |<wh>/lake/hist/data/snap-00001-<id>/p=b/part-00000-<task>-001.parquet|5|739
        |<wh>/lake/hist/data/snap-00002-<id>/p=a/part-00000-<task>-000.parquet|5|739
        |<wh>/lake/hist/data/snap-00002-<id>/p=b/part-00000-<task>-001.parquet|5|739""",
    "hist.history" ->
      """made_current_at BIGINT,snapshot_id BIGINT,parent_id BIGINT,is_current_ancestor BOOLEAN
        |icelite metadata lake.hist.history
        |partitions=1
        |<ts>|1|0|true
        |<ts>|2|1|true
        |<ts>|3|2|false
        |<ts>|4|2|true
        |<ts>|5|4|true""",
    "hist.manifests" ->
      """snapshot_id BIGINT,path STRING,length_bytes BIGINT,added_files BIGINT,chain_len INT
        |icelite metadata lake.hist.manifests
        |partitions=1
        |1|<wh>/lake/hist/metadata/manifest-00001-<uuid>.json|<len>|2|0
        |2|<wh>/lake/hist/metadata/manifest-00002-<uuid>.json|<len>|2|1
        |3|<wh>/lake/hist/metadata/manifest-00003-<uuid>.json|<len>|2|0
        |4|<wh>/lake/hist/metadata/manifest-00004-<uuid>.json|<len>|0|0
        |5|<wh>/lake/hist/metadata/manifest-00005-<uuid>.json|<len>|0|1""",
    "hist.metadata_log_entries" ->
      """version INT,file STRING,latest_snapshot_id BIGINT,snapshot_count INT
        |icelite metadata lake.hist.metadata_log_entries
        |partitions=1
        |1|<wh>/lake/hist/metadata/v1.json|null|0
        |2|<wh>/lake/hist/metadata/v2.json|1|1
        |3|<wh>/lake/hist/metadata/v3.json|2|2
        |4|<wh>/lake/hist/metadata/v4.json|3|3
        |5|<wh>/lake/hist/metadata/v5.json|2|3
        |6|<wh>/lake/hist/metadata/v6.json|2|3
        |7|<wh>/lake/hist/metadata/v7.json|4|4
        |8|<wh>/lake/hist/metadata/v8.json|5|5""",
    "hist.partitions" ->
      """partition STRING,file_count BIGINT,row_count BIGINT,bytes BIGINT
        |icelite metadata lake.hist.partitions (manifest-parallel)
        |partitions=1
        |p=a|2|10|1478
        |p=b|2|10|1478""",
    "hist.position_deletes" ->
      """file_path STRING,pos BIGINT,delete_file STRING
        |icelite metadata lake.hist.position_deletes (delete-file-parallel)
        |partitions=1
        |<wh>/lake/hist/data/snap-00001-<id>/p=a/part-00000-<task>-000.parquet|0|<wh>/lake/hist/data/deletes-snap-00004-<id>/del-00000-<task>.parquet
        |<wh>/lake/hist/data/snap-00001-<id>/p=b/part-00000-<task>-001.parquet|0|<wh>/lake/hist/data/deletes-snap-00004-<id>/del-00000-<task>.parquet
        |<wh>/lake/hist/data/snap-00001-<id>/p=b/part-00000-<task>-001.parquet|1|<wh>/lake/hist/data/deletes-snap-00004-<id>/del-00000-<task>.parquet""",
    "hist.refs" ->
      """name STRING,type STRING,snapshot_id BIGINT
        |icelite metadata lake.hist.refs
        |partitions=1
        |first|tag|1""",
    "hist.snapshots" ->
      """snapshot_id BIGINT,timestamp_ms BIGINT,operation STRING,added_files BIGINT,added_rows BIGINT,total_rows BIGINT,is_current BOOLEAN
        |icelite metadata lake.hist.snapshots
        |partitions=1
        |1|<ts>|append|2|10|10|false
        |2|<ts>|append|2|10|20|false
        |3|<ts>|compact|2|20|20|false
        |4|<ts>|delete|0|0|17|false
        |5|<ts>|delete|0|0|17|true""",
    "hist.stats" ->
      """column STRING,data_type STRING,ndv BIGINT,null_count BIGINT,sketched BOOLEAN,bloomed BOOLEAN
        |icelite metadata lake.hist.stats
        |partitions=1
        |id|bigint|20|0|true|false
        |p|string|2|0|true|false
        |v|double|20|0|true|false""",
    "zero.all_data_files" ->
      """snapshot_id BIGINT,path STRING,rows BIGINT,bytes BIGINT
        |icelite metadata lake.zero.all_data_files (manifest-parallel)
        |partitions=2
        |1|<wh>/lake/zero/data/snap-00001-<id>/part-00000-<task>-000.parquet|1|635
        |1|<wh>/lake/zero/data/snap-00001-<id>/part-00001-<task>-000.parquet|1|636
        |1|<wh>/lake/zero/data/snap-00001-<id>/part-00002-<task>-000.parquet|1|636
        |1|<wh>/lake/zero/data/snap-00001-<id>/part-00003-<task>-000.parquet|2|651""",
    "zero.all_delete_files" ->
      """snapshot_id BIGINT,path STRING,kind STRING,rows BIGINT
        |icelite metadata lake.zero.all_delete_files
        |partitions=1""",
    "zero.all_entries" ->
      """snapshot_id BIGINT,status INT,data_file STRUCT<path: STRING, rows: BIGINT, bytes: BIGINT>
        |icelite metadata lake.zero.all_entries (manifest-parallel)
        |partitions=2
        |1|1|[<wh>/lake/zero/data/snap-00001-<id>/part-00000-<task>-000.parquet,1,635]
        |1|1|[<wh>/lake/zero/data/snap-00001-<id>/part-00001-<task>-000.parquet,1,636]
        |1|1|[<wh>/lake/zero/data/snap-00001-<id>/part-00002-<task>-000.parquet,1,636]
        |1|1|[<wh>/lake/zero/data/snap-00001-<id>/part-00003-<task>-000.parquet,2,651]""",
    "zero.all_files" ->
      """snapshot_id BIGINT,path STRING,rows BIGINT,bytes BIGINT
        |icelite metadata lake.zero.all_files (manifest-parallel)
        |partitions=2
        |1|<wh>/lake/zero/data/snap-00001-<id>/part-00000-<task>-000.parquet|1|635
        |1|<wh>/lake/zero/data/snap-00001-<id>/part-00001-<task>-000.parquet|1|636
        |1|<wh>/lake/zero/data/snap-00001-<id>/part-00002-<task>-000.parquet|1|636
        |1|<wh>/lake/zero/data/snap-00001-<id>/part-00003-<task>-000.parquet|2|651""",
    "zero.all_manifests" ->
      """snapshot_id BIGINT,path STRING,length_bytes BIGINT,depth INT,is_delta BOOLEAN
        |icelite metadata lake.zero.all_manifests
        |partitions=1
        |1|<wh>/lake/zero/metadata/manifest-00001-<uuid>.json|<len>|0|false
        |2|<wh>/lake/zero/metadata/manifest-00002-<uuid>.json|<len>|0|false""",
    "zero.data_files" ->
      """path STRING,rows BIGINT,bytes BIGINT
        |icelite metadata lake.zero.data_files (manifest-parallel)
        |partitions=1""",
    "zero.delete_files" ->
      """path STRING,kind STRING,rows BIGINT,key_columns STRING
        |icelite metadata lake.zero.delete_files
        |partitions=1""",
    "zero.deletes" ->
      """delete_file STRING,kind STRING,data_file STRING,rows BIGINT,key_columns STRING
        |icelite metadata lake.zero.deletes
        |partitions=1""",
    "zero.entries" ->
      """status INT,snapshot_id BIGINT,data_file STRUCT<path: STRING, rows: BIGINT, bytes: BIGINT>
        |icelite metadata lake.zero.entries
        |partitions=1""",
    "zero.files" ->
      """path STRING,rows BIGINT,bytes BIGINT
        |icelite metadata lake.zero.files (manifest-parallel)
        |partitions=1""",
    "zero.history" ->
      """made_current_at BIGINT,snapshot_id BIGINT,parent_id BIGINT,is_current_ancestor BOOLEAN
        |icelite metadata lake.zero.history
        |partitions=1
        |<ts>|1|0|true
        |<ts>|2|1|true""",
    "zero.manifests" ->
      """snapshot_id BIGINT,path STRING,length_bytes BIGINT,added_files BIGINT,chain_len INT
        |icelite metadata lake.zero.manifests
        |partitions=1
        |1|<wh>/lake/zero/metadata/manifest-00001-<uuid>.json|<len>|4|0
        |2|<wh>/lake/zero/metadata/manifest-00002-<uuid>.json|<len>|0|0""",
    "zero.metadata_log_entries" ->
      """version INT,file STRING,latest_snapshot_id BIGINT,snapshot_count INT
        |icelite metadata lake.zero.metadata_log_entries
        |partitions=1
        |1|<wh>/lake/zero/metadata/v1.json|null|0
        |2|<wh>/lake/zero/metadata/v2.json|1|1
        |3|<wh>/lake/zero/metadata/v3.json|2|2""",
    "zero.partitions" ->
      """partition STRING,file_count BIGINT,row_count BIGINT,bytes BIGINT
        |icelite metadata lake.zero.partitions (manifest-parallel)
        |partitions=1""",
    "zero.position_deletes" ->
      """file_path STRING,pos BIGINT,delete_file STRING
        |icelite metadata lake.zero.position_deletes (delete-file-parallel)
        |partitions=0""",
    "zero.refs" ->
      """name STRING,type STRING,snapshot_id BIGINT
        |icelite metadata lake.zero.refs
        |partitions=1""",
    "zero.snapshots" ->
      """snapshot_id BIGINT,timestamp_ms BIGINT,operation STRING,added_files BIGINT,added_rows BIGINT,total_rows BIGINT,is_current BOOLEAN
        |icelite metadata lake.zero.snapshots
        |partitions=1
        |1|<ts>|append|4|5|5|false
        |2|<ts>|replace|0|0|0|true""",
    "zero.stats" ->
      """column STRING,data_type STRING,ndv BIGINT,null_count BIGINT,sketched BOOLEAN,bloomed BOOLEAN
        |icelite metadata lake.zero.stats
        |partitions=1
        |id|bigint|0|0|true|false
        |p|string|0|0|true|false
        |v|double|0|0|true|false"""
  ).map { case (k, v) => k -> v.stripMargin }
}
