package graft

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col

import graft.icelite.IceCatalog
import graft.model.KeboolaManifest
import graft.sources.StorageApiClient

/** End-to-end `/data`-contract runs: extractor, writer (all three modes),
  * sync actions, error taxonomy, and the Storage API client's retry loop.
  */
class ComponentSpec extends SparkSpec {

  private def dataDir(tag: String): String = {
    val d = scratch(s"component-$tag")
    Files.createDirectories(Paths.get(d, "in", "tables"))
    Files.createDirectories(Paths.get(d, "out"))
    d
  }

  private def writeConfig(dir: String, json: String): Unit =
    Files.writeString(Paths.get(dir, "config.json"), json)

  private def seedTable(wh: String): Unit = {
    val cat = new IceCatalog(spark, wh)
    val n = graft.queries.QUtil.t(spark, sfDir, "nation")
    cat.createTable("lake", "nation_t", n.schema).append(n)
  }

  test("extractor run writes quoted CSV + manifest") {
    val d = dataDir("ex")
    val wh = scratch("component-ex-wh")
    seedTable(wh)
    writeConfig(d,
      s"""{"action": "run", "parameters": {
         |  "catalog": {"warehouse": "$wh"},
         |  "source": {"namespace": "lake", "table_name": "nation_t"},
         |  "data_selection": {"mode": "selected_columns", "columns": ["n_nationkey", "n_name"]},
         |  "unknown_platform_key": {"x": 1}
         |}}""".stripMargin)
    assert(ComponentMain.execute(spark, d) == 0)
    val outDir = s"$d/out/tables/nation_t.csv"
    val manifest = KeboolaManifest.fromJson(
      Files.readString(Paths.get(s"$outDir.manifest")))
    assert(manifest.columns == Seq("n_nationkey", "n_name"))
    assert(manifest.schema.map(_.baseType) == Seq("INTEGER", "STRING"))
    val back = KeboolaCsvBack(outDir, manifest)
    assert(back.count() == 25)
  }

  private def KeboolaCsvBack(dir: String, m: KeboolaManifest) =
    graft.sources.KeboolaCsv.read(spark, dir, m)

  /** The single CSV part file an extract wrote under `outDir`. */
  private def csvPart(outDir: String): java.nio.file.Path = {
    val parts = Files.list(Paths.get(outDir)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".csv")).toSeq
    assert(parts.size == 1, s"expected one CSV part in $outDir, got $parts")
    parts.head
  }

  // nation in two snapshots: keys < 12 over three files, then the rest
  private def seedTwoSnapshots(wh: String): Long = {
    val n = graft.queries.QUtil.t(spark, sfDir, "nation")
    val tbl = new IceCatalog(spark, wh).createTable("lake", "nation_t", n.schema)
    tbl.append(n.filter(col("n_nationkey") < 12).repartitionByRange(3, col("n_nationkey")))
    tbl.append(n.filter(col("n_nationkey") >= 12))
    tbl.snapshots.head.snapshotId
  }

  private def extractConfig(wh: String, selection: String, scanLimit: Int): String =
    s"""{"action": "run", "parameters": {
       |  "catalog": {"warehouse": "$wh"},
       |  "source": {"namespace": "lake", "table_name": "nation_t"},
       |  "data_selection": $selection,
       |  "scan_limit": $scanLimit
       |}}""".stripMargin

  test("extractor pins data_selection.snapshot_id and serves exactly scan_limit rows of it") {
    val d = dataDir("expin")
    val wh = scratch("component-expin-wh")
    val snap1 = seedTwoSnapshots(wh)
    writeConfig(d, extractConfig(wh,
      s"""{"mode": "all_data", "snapshot_id": $snap1}""", scanLimit = 5))
    assert(ComponentMain.execute(spark, d) == 0)
    val outDir = s"$d/out/tables/nation_t.csv"
    val manifest = KeboolaManifest.fromJson(
      Files.readString(Paths.get(s"$outDir.manifest")))
    val keys = KeboolaCsvBack(outDir, manifest)
      .select(col("n_nationkey").cast("long")).collect().map(_.getLong(0))
    assert(keys.length == 5, s"scan_limit 5 served ${keys.length} rows")
    assert(keys.forall(_ < 12), s"rows outside snapshot $snap1: ${keys.sorted.mkString(",")}")
  }

  // the exact limit plans a fixed manifest-order prefix, so the capped
  // rows no longer depend on which rows a shuffle happened to keep
  test("capped CSV extracts of one snapshot are byte-identical") {
    val wh = scratch("component-exdet-wh")
    seedTwoSnapshots(wh)
    val csvs = Seq("exdet1", "exdet2").map { tag =>
      val d = dataDir(tag)
      writeConfig(d, extractConfig(wh, """{"mode": "all_data"}""", scanLimit = 15))
      assert(ComponentMain.execute(spark, d) == 0)
      Files.readAllBytes(csvPart(s"$d/out/tables/nation_t.csv")).toSeq
    }
    assert(csvs.head == csvs(1), "two extracts of one snapshot differ")
    assert(new String(csvs.head.toArray).linesIterator.size == 16, "header + 15 rows")
  }

  test("writer run appends, then upserts with manifest PK fallback") {
    val d = dataDir("wr")
    val wh = scratch("component-wr-wh")
    // stage input CSV from the region table, duplicated rows -> upsert dedups
    val r = graft.queries.QUtil.t(spark, sfDir, "region")
    val csvDir = s"$d/in/tables/region.csv"
    graft.sources.KeboolaCsv.writeQuoted(r.unionByName(r), csvDir, singleFile = true)
    val manifest = KeboolaManifest.forSchema(r.schema, primaryKey = Seq("r_regionkey"))
    Files.writeString(Paths.get(s"$csvDir.manifest"), KeboolaManifest.toJson(manifest))
    writeConfig(d,
      s"""{"action": "run", "parameters": {
         |  "catalog": {"warehouse": "$wh"},
         |  "wr_destination": {"namespace": "lake", "table_name": "region_t", "mode": "upsert"}
         |}}""".stripMargin)
    assert(ComponentMain.execute(spark, d) == 0)
    val cat = new IceCatalog(spark, wh)
    val tbl = cat.loadTable("lake", "region_t")
    assert(tbl.toDF.count() == 5, "duplicated source rows must dedup by PK")
    // second run: still 5 rows (idempotent upsert), one more snapshot
    assert(ComponentMain.execute(spark, d) == 0)
    assert(cat.loadTable("lake", "region_t").toDF.count() == 5)
    assert(cat.loadTable("lake", "region_t").snapshots.size == 2)
  }

  test("sync actions emit JSON on stdout") {
    val d = dataDir("sync")
    val wh = scratch("component-sync-wh")
    seedTable(wh)
    writeConfig(d,
      s"""{"action": "list_columns", "parameters": {
         |  "catalog": {"warehouse": "$wh"},
         |  "source": {"namespace": "lake", "table_name": "nation_t"}}}""".stripMargin)
    val buf = new ByteArrayOutputStream()
    val code = Console.withOut(new PrintStream(buf)) {
      ComponentMain.execute(spark, d)
    }
    assert(code == 0)
    val out = buf.toString.trim
    assert(out.startsWith("[") && out.endsWith("]"), s"not a JSON array: $out")
    assert(out.contains("\"label\": \"n_name (STRING)\""), out)
  }

  test("query_preview sync action: custom SQL -> row-capped JSON preview") {
    val d = dataDir("preview")
    val wh = scratch("component-preview-wh")
    seedTable(wh)
    writeConfig(d,
      s"""{"action": "query_preview", "parameters": {
         |  "catalog": {"warehouse": "$wh"},
         |  "source": {"namespace": "lake", "table_name": "nation_t"},
         |  "data_selection": {"mode": "custom_query",
         |    "query": "SELECT n_name, n_regionkey FROM nation_t WHERE n_regionkey = 1 ORDER BY n_name"}
         |}}""".stripMargin)
    val buf = new ByteArrayOutputStream()
    var code = -1
    val plans = plansDuring {
      code = Console.withOut(new PrintStream(buf)) {
        ComponentMain.execute(spark, d)
      }
    }
    assert(code == 0)
    val out = buf.toString.trim
    assert(out.startsWith("[") && out.endsWith("]"), s"not a JSON array: $out")
    assert(out.contains("\"n_regionkey\":1"), out)
    assert(!out.contains("\"n_regionkey\":2"), "WHERE clause ignored")
    // the preview is the top-k of the ORDER BY, printed as Dataset.toJSON
    // prints it
    assert(plans.exists(_.contains("TakeOrderedAndProject")), plans)
    def toJson(q: String) = spark.sql(q).limit(100).toJSON.collect().mkString("[", ", ", "]")
    assert(out == toJson(
      "SELECT n_name, n_regionkey FROM nation_t WHERE n_regionkey = 1 ORDER BY n_name"))

    // empty query previews the table, capped at 100 rows
    writeConfig(d,
      s"""{"action": "query_preview", "parameters": {
         |  "catalog": {"warehouse": "$wh"},
         |  "source": {"namespace": "lake", "table_name": "nation_t"}}}""".stripMargin)
    val buf2 = new ByteArrayOutputStream()
    val jobs = jobsDuring {
      assert(Console.withOut(new PrintStream(buf2)) {
        ComponentMain.execute(spark, d)
      } == 0)
    }
    assert(buf2.toString.trim.split("\\},\\s*\\{").length == 25)
    assert(buf2.toString.trim == toJson("SELECT * FROM nation_t"))
    assert(jobs.length == 1, s"a plain preview must run one Spark job: $jobs")

    // statements are refused as a user error, not executed
    writeConfig(d,
      s"""{"action": "query_preview", "parameters": {
         |  "catalog": {"warehouse": "$wh"},
         |  "source": {"namespace": "lake", "table_name": "nation_t"},
         |  "data_selection": {"query": "DROP TABLE nation_t"}}}""".stripMargin)
    assert(ComponentMain.execute(spark, d) == 1)

    // a CTE-prefixed INSERT starts with WITH yet is DML: it must be refused
    // by the plan-level guard AND must not mutate the table
    val rowsBefore = spark.sql("SELECT count(*) FROM nation_t").head.getLong(0)
    writeConfig(d,
      s"""{"action": "query_preview", "parameters": {
         |  "catalog": {"warehouse": "$wh"},
         |  "source": {"namespace": "lake", "table_name": "nation_t"},
         |  "data_selection": {"query":
         |    "WITH x AS (SELECT * FROM nation_t) INSERT INTO nation_t SELECT * FROM x"}
         |}}""".stripMargin)
    assert(ComponentMain.execute(spark, d) == 1,
      "CTE-prefixed INSERT must be refused as a user error")
    assert(spark.sql("SELECT count(*) FROM nation_t").head.getLong(0) == rowsBefore,
      "refused preview DML must not mutate the table")
  }

  test("query_preview runs the icelite_changes table function") {
    val d = dataDir("preview-tvf")
    val wh = scratch("component-preview-tvf-wh")
    val first = seedTwoSnapshots(wh)
    writeConfig(d,
      s"""{"action": "query_preview", "parameters": {
         |  "catalog": {"warehouse": "$wh"},
         |  "source": {"namespace": "lake", "table_name": "nation_t"},
         |  "data_selection": {"mode": "custom_query",
         |    "query": "SELECT * FROM icelite_changes('$wh', 'lake.nation_t', $first)"}
         |}}""".stripMargin)
    val buf = new ByteArrayOutputStream()
    val code = Console.withOut(new PrintStream(buf)) {
      ComponentMain.execute(spark, d)
    }
    assert(code == 0)
    assert(buf.toString.trim == spark.sql(
      s"SELECT * FROM icelite_changes('$wh', 'lake.nation_t', $first)")
      .limit(100).toJSON.collect().mkString("[", ", ", "]"))
    val rows = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(buf.toString.trim).elements().asScala.toSeq
    // the second snapshot appended nation keys 12..24, nothing else changed
    assert(rows.map(_.get("n_nationkey").asInt).sorted == (12 to 24), rows)
    assert(rows.forall(_.get("_change_type").asText == "insert"), rows)
  }

  test("writer accepts a parquet input table") {
    val d = dataDir("wrpq")
    val wh = scratch("component-wrpq-wh")
    val n = graft.queries.QUtil.t(spark, sfDir, "nation")
    n.coalesce(1).write.parquet(Paths.get(d, "in", "tables", "nation.parquet").toString)
    writeConfig(d,
      s"""{"action": "run", "parameters": {
         |  "catalog": {"warehouse": "$wh"},
         |  "wr_destination": {"namespace": "lake", "table_name": "nation_w",
         |                     "mode": "append"}}}""".stripMargin)
    assert(ComponentMain.execute(spark, d) == 0)
    val back = new IceCatalog(spark, wh).loadTable("lake", "nation_w").toDF
    assert(back.count() == n.count())
    assert(back.schema == n.schema)
  }

  test("error taxonomy: user error 1, missing config 1, bad mode 1") {
    val d = dataDir("err")
    writeConfig(d, """{"action": "run", "parameters": {"catalog": {"warehouse": ""}}}""")
    assert(ComponentMain.execute(spark, d) == 1)
    assert(ComponentMain.execute(spark, scratch("component-noconf")) == 1)
    val d2 = dataDir("err2")
    writeConfig(d2,
      s"""{"action": "nope", "parameters": {"catalog": {"warehouse": "${scratch("w")}"}}}""")
    assert(ComponentMain.execute(spark, d2) == 1)

    // an upsert primary key naming a column the input lacks, from the
    // config and from the manifest: a user error naming the column
    val d3 = dataDir("err3")
    val wh = scratch("component-err3-wh")
    val r = graft.queries.QUtil.t(spark, sfDir, "region")
    val csvDir = s"$d3/in/tables/region.csv"
    graft.sources.KeboolaCsv.writeQuoted(r, csvDir, singleFile = true)
    def upsertWith(configKey: String, manifestKey: String): (Int, String) = {
      Files.writeString(Paths.get(s"$csvDir.manifest"), KeboolaManifest.toJson(
        KeboolaManifest.forSchema(r.schema, primaryKey = Seq(manifestKey).filter(_.nonEmpty))))
      val pk = if (configKey.isEmpty) "" else s""", "primary_key": ["$configKey"]"""
      writeConfig(d3,
        s"""{"action": "run", "parameters": {
           |  "catalog": {"warehouse": "$wh"},
           |  "wr_destination": {"namespace": "lake", "table_name": "region_t",
           |    "mode": "upsert"$pk}
           |}}""".stripMargin)
      val err = new ByteArrayOutputStream()
      val prev = System.err
      System.setErr(new PrintStream(err, true))
      try (ComponentMain.execute(spark, d3), err.toString)
      finally System.setErr(prev)
    }
    for ((cfgKey, manKey) <- Seq(("r_nokey", ""), ("", "r_nokey"))) {
      val (code, err) = upsertWith(cfgKey, manKey)
      assert(code == 1, s"missing key column must be a user error: $err")
      assert(err.contains("ERROR:") && err.contains("r_nokey"), err)
    }
    assert(!new IceCatalog(spark, wh).tableExists("lake", "region_t"),
      "a rejected upsert must not create the table")
    assert(upsertWith("r_regionkey", "")._1 == 0)
  }

  test("a format-1 table exits 1 with the upgrade step in the GELF error") {
    import spark.implicits._
    val d = dataDir("fmt1")
    val wh = scratch("component-fmt1-wh")
    val t = new IceCatalog(spark, wh).createTable("lake", "old_t", Seq(1L).toDF("id").schema)
    t.append(Seq(1L, 2L).toDF("id"))
    // the same metadata labeled format 1: what an older build left behind
    val head = Paths.get(wh, "lake", "old_t", "metadata", s"v${t.meta.version}.json")
    Files.writeString(head, Files.readString(head)
      .replace("\"formatVersion\" : 2", "\"formatVersion\" : 1"))
    Files.delete(head.resolveSibling(s".${head.getFileName}.crc")) // now stale
    writeConfig(d,
      s"""{"action": "run", "parameters": {
         |  "catalog": {"warehouse": "$wh"},
         |  "source": {"namespace": "lake", "table_name": "old_t"}}}""".stripMargin)
    val sock = new java.net.DatagramSocket()
    try {
      sock.setSoTimeout(5000)
      val code = ComponentMain.execute(spark, d, env = Map(
        "KBC_LOGGER_ADDR" -> "127.0.0.1",
        "KBC_LOGGER_PORT" -> sock.getLocalPort.toString,
        "KBC_LOGGER_TYPE" -> "udp"))
      assert(code == 1, "a format-1 table is a user error, not UNEXPECTED")
      // lifecycle info first, then the error
      val frames = (1 to 2).map { _ =>
        val pkt = new java.net.DatagramPacket(new Array[Byte](8192), 8192)
        sock.receive(pkt)
        new String(pkt.getData, 0, pkt.getLength, java.nio.charset.StandardCharsets.UTF_8)
      }
      assert(frames(1).contains("\"level\":3") &&
        frames(1).contains("system.upgrade('lake.old_t')"), frames(1))
    } finally sock.close()
  }

  test("storage api client retries then succeeds") {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    server.createContext("/v2/storage/tables/in.c-main.test", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val n = hits.incrementAndGet()
        val (code, body) =
          if (n < 3) (500, "flaky")
          else (200, """{"id": "in.c-main.test", "columns": ["a", "b", "c"]}""")
        val bytes = body.getBytes("UTF-8")
        ex.sendResponseHeaders(code, bytes.length)
        ex.getResponseBody.write(bytes)
        ex.close()
      }
    })
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}"
      val client = new StorageApiClient(url, "tok", backoffMillis = 10L)
      assert(client.getTableColumns("in.c-main.test") == Seq("a", "b", "c"))
      assert(hits.get() == 3)
    } finally server.stop(0)
  }

  test("list_table_columns sync action: input-mapping table id -> Storage API") {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/v2/storage/tables/in.c-main.widgets", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val body = """{"id": "in.c-main.widgets", "columns": ["id", "name", "price"]}"""
        val bytes = body.getBytes("UTF-8")
        ex.sendResponseHeaders(200, bytes.length)
        ex.getResponseBody.write(bytes)
        ex.close()
      }
    })
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}"
      val d = dataDir("ltc")
      writeConfig(d,
        s"""{"action": "list_table_columns",
           | "parameters": {"catalog": {"warehouse": "${scratch("ltc-wh")}"}},
           | "storage": {"input": {"tables": [
           |   {"source": "in.c-main.widgets", "destination": "widgets.csv"}]}}}""".stripMargin)
      val buf = new java.io.ByteArrayOutputStream()
      val code = Console.withOut(new java.io.PrintStream(buf)) {
        ComponentMain.execute(spark, d,
          env = Map("KBC_URL" -> url, "KBC_TOKEN" -> "tok"))
      }
      assert(code == 0)
      val out = buf.toString("UTF-8").trim
      assert(out == """[{"label": "id", "value": "id"}, """ +
        """{"label": "name", "value": "name"}, """ +
        """{"label": "price", "value": "price"}]""", out)
      // no input mapping -> user error (exit 1), matching wr:163-164
      val d2 = dataDir("ltc2")
      writeConfig(d2,
        s"""{"action": "list_table_columns",
           | "parameters": {"catalog": {"warehouse": "${scratch("ltc-wh2")}"}}}""".stripMargin)
      assert(ComponentMain.execute(spark, d2,
        env = Map("KBC_URL" -> url, "KBC_TOKEN" -> "tok")) == 1)
    } finally server.stop(0)
  }
}
