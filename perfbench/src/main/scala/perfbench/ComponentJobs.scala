package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.ComponentMain
import graft.icelite.IceCatalog
import graft.model.KeboolaManifest
import graft.sources.KeboolaCsv

/** The paper's product: a seeded stream of writer and extractor jobs, each
  * with its own `/data` directory, through `ComponentMain.execute` against
  * one warehouse whose table is built with history during set-up.
  */
final class ComponentJobs(spark: SparkSession, seed: Long, work: Path,
    tr: Tracer) extends Workload {

  private val Ns = "bench"
  private val Table = "lineitem"
  private val Keys = Seq("l_orderkey", "l_linenumber")
  private val BatchRows = 10000
  private val UpsertRows = 2000
  private val HistoryCommits = 6
  private val ScanLimit = 100000
  val upsertKind = "upsert"
  val cycleSeconds = 7.5

  /** The warehouse and the benchmark's model of its table. */
  private final class State(val wh: String) {
    val model = mutable.HashMap.empty[(Long, Long), Li]
    val stream = new Gen.LineStream(seed)
    val recent = mutable.Queue.empty[Seq[Li]]
    var commits = 0
    var jobs = 0
    var csvBytesIn = 0L
    var csvBytesOut = 0L
  }
  private var st: State = _
  private val rng = Rng(seed, "component-jobs")
  private var whBytesAtStart = 0L
  private var csvBytesAtStart = 0L
  private val rewrite = mutable.ArrayBuffer.empty[(Int, Int)]

  def inputs: Map[String, Long] = Map(
    "append_rows" -> BatchRows.toLong, "upsert_rows" -> UpsertRows.toLong,
    "history_commits" -> HistoryCommits.toLong,
    "csv_bytes_in" -> Option(st).map(_.csvBytesIn).getOrElse(0L))

  private def cat = new IceCatalog(spark, st.wh)

  private def q(s: String) = "\"" + s + "\""
  private def catalogJson = s"""{"warehouse": ${q(st.wh)}}"""

  private def jobDir(): Path = {
    st.jobs += 1
    val d = work.resolve("jobs").resolve(st.jobs.toString)
    Files2.wipe(d)
    Files.createDirectories(d)
  }

  private def writeJob(rows: Seq[Li], mode: String): Path = {
    val d = jobDir()
    val in = Files.createDirectories(d.resolve("in/tables"))
    val csv = Gen.csv(rows).getBytes("UTF-8")
    Files.write(in.resolve("lineitem.csv"), csv)
    Files.writeString(in.resolve("lineitem.csv.manifest"), Gen.manifestJson(Keys))
    Files.writeString(d.resolve("config.json"),
      s"""{"action": "run", "parameters": {"catalog": $catalogJson, "wr_destination": """ +
        s"""{"namespace": "$Ns", "table_name": "$Table", "mode": "$mode", """ +
        s""""primary_key": ["l_orderkey", "l_linenumber"]}}}""")
    st.csvBytesIn += csv.length
    d
  }

  /** Runs one job; stdout (where sync actions answer) is captured. */
  private def execute(d: Path): (Int, String) = {
    val out = new java.io.ByteArrayOutputStream()
    val code = Console.withOut(out)(
      tr.span("component", "execute")(ComponentMain.execute(spark, d.toString)))
    (code, out.toString("UTF-8"))
  }

  private def commitCheck(res: Any): Unit = {
    val (code, _) = res.asInstanceOf[(Int, String)]
    Check(code == 0, s"writer exit code $code")
    st.commits += 1
    val snap = cat.loadTable(Ns, Table).meta.currentSnapshot
    Check(snap.exists(_.totalRows == st.model.size),
      s"table rows ${snap.map(_.totalRows)} != model ${st.model.size}")
  }

  private def appendOp(): Op = {
    val rows = st.stream.take(BatchRows)
    val d = writeJob(rows, "append")
    Op("append", "write", "component", () => execute(d), { res =>
      rows.foreach(r => st.model(r.key) = r)
      st.recent += rows
      while (st.recent.size > 2) st.recent.dequeue()
      commitCheck(res)
      Files2.wipe(d)
    })
  }

  /** CDC-shaped: most keys from the newest batch, some from the one before,
    * a few new lines on recent orders.
    */
  private def upsertOp(): Op = {
    val pool = st.recent.toSeq
    val newest = rng.shuffle(pool.last).take(UpsertRows * 7 / 10)
    val older = rng.shuffle(pool.head).take(UpsertRows * 25 / 100)
    val changed = (newest ++ older).distinctBy(_.key).map(l =>
      l.copy(quantity = 1L + rng.nextInt(50), priceCents = 100L + rng.nextInt(9000000),
        comment = s"upd ${st.jobs}"))
    val fresh = mutable.ArrayBuffer.empty[Li]
    val taken = mutable.HashSet.empty[(Long, Long)]
    while (changed.size + fresh.size < UpsertRows) {
      val base = pool.last(rng.nextInt(pool.last.size))
      var ln = 8L
      while (st.model.contains((base.orderkey, ln)) || taken((base.orderkey, ln))) ln += 1
      taken += ((base.orderkey, ln))
      fresh += base.copy(linenumber = ln, comment = s"new ${st.jobs}")
    }
    val rows = rng.shuffle(changed ++ fresh)
    val d = writeJob(rows, "upsert")
    if (tr.enabled) rewriteProbeBefore(rows)
    Op("upsert", "write", "component", () => execute(d), { res =>
      rows.foreach(r => st.model(r.key) = r)
      commitCheck(res)
      if (tr.enabled) rewriteProbeAfter()
      Files2.wipe(d)
    })
  }

  private var holding = 0
  private var filesBefore = Set.empty[String]

  /** Files holding an upserted key at the parent snapshot, read through the
    * `_file` metadata column of the connector.
    */
  private def rewriteProbeBefore(rows: Seq[Li]): Unit = tr.root("icelite", "upsert_files") {
    import spark.implicits._
    rows.map(r => (r.orderkey, r.linenumber)).toDF("ko", "kl").createOrReplaceTempView("pb_keys")
    holding = spark.sql(
      s"""SELECT count(DISTINCT t._file) FROM pb_cj.$Ns.$Table t JOIN pb_keys k
         |ON t.l_orderkey = k.ko AND t.l_linenumber = k.kl""".stripMargin)
      .collect()(0).getLong(0).toInt
    val t = cat.loadTable(Ns, Table)
    filesBefore = t.visibleFiles(t.meta.currentSnapshot.get).map(_.path).toSet
  }

  private def rewriteProbeAfter(): Unit = {
    val t = cat.loadTable(Ns, Table)
    val after = t.visibleFiles(t.meta.currentSnapshot.get).map(_.path).toSet
    rewrite += (((filesBefore -- after).size, holding))
  }

  private val Other = Gen.LiColumns.map(_._1).filterNot(Keys.contains)

  private def extractCsvOp(): Op = {
    val cols = Keys ++ rng.shuffle(Other).take(4).sortBy(c => Gen.LiColumns.indexWhere(_._1 == c))
    val d = jobDir()
    Files.writeString(d.resolve("config.json"),
      s"""{"action": "run", "parameters": {"catalog": $catalogJson, """ +
        s""""source": {"namespace": "$Ns", "table_name": "$Table"}, "data_selection": """ +
        s"""{"mode": "selected_columns", "columns": ${cols.map(q).mkString("[", ", ", "]")}}, """ +
        s""""destination": {"parquet_output": false}}}""")
    Op("extract_csv", "read", "component", () => execute(d), { res =>
      val (code, _) = res.asInstanceOf[(Int, String)]
      Check(code == 0, s"extractor exit code $code")
      val outDir = d.resolve(s"out/tables/$Table.csv")
      val parts = Files2.parts(outDir, ".csv")
      Check(parts.size == 1, s"expected one CSV part, got ${parts.size}")
      st.csvBytesOut += Files.size(parts.head)
      checkCsv(Files.readString(parts.head), cols)
      val man = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(Files.readString(d.resolve(s"out/tables/$Table.csv.manifest")))
      val manCols = (0 until man.get("columns").size).map(man.get("columns").get(_).asText)
      Check(manCols == cols, s"manifest columns $manCols")
      Check(man.get("has_header").asBoolean, "manifest has_header")
      if (tr.enabled) csvWriteProbe(outDir)
      Files2.wipe(d)
    })
  }

  /** Every extracted row's key must be in the model, once, with the model's
    * values in every selected column.
    */
  private def checkCsv(text: String, cols: Seq[String]): Unit = {
    val rows = Files2.parseCsv(text)
    Check(rows.head == cols, s"CSV header ${rows.head}")
    val body = rows.tail
    Check(body.size == math.min(st.model.size, ScanLimit),
      s"extract rows ${body.size}, model ${st.model.size}")
    val at = Gen.LiColumns.map(_._1).zipWithIndex.toMap
    val ko = cols.indexOf("l_orderkey")
    val kl = cols.indexOf("l_linenumber")
    val float = cols.map(c => Gen.LiColumns(at(c))._2 == "FLOAT")
    val seen = mutable.HashSet.empty[(Long, Long)]
    body.foreach { r =>
      val k = (r(ko).toLong, r(kl).toLong)
      Check(seen.add(k), s"duplicate key $k")
      val li = st.model.getOrElse(k, throw new CheckFailed(s"key $k not in model"))
      cols.indices.foreach { i =>
        val want = Gen.field(li, at(cols(i)))
        val ok = if (float(i)) math.round(r(i).toDouble * 100) == math.round(want.toDouble * 100)
          else r(i) == want
        Check(ok, s"key $k column ${cols(i)}: got '${r(i)}', want '$want'")
      }
    }
  }

  /** Exports the current snapshot. Pinning a seeded older `snapshot_id`
    * would exercise time travel, but the extractor exits 2 on any pin that fits in an
    * Int (the config's `Option[Long]` deserializes to a boxed Integer), and
    * the benchmark's mix may hold no failing operation; time travel is read
    * through `VERSION AS OF` in lake_sql instead.
    */
  private def extractParquetOp(): Op = {
    val d = jobDir()
    Files.writeString(d.resolve("config.json"),
      s"""{"action": "run", "parameters": {"catalog": $catalogJson, """ +
        s""""source": {"namespace": "$Ns", "table_name": "$Table"}, "data_selection": """ +
        s"""{"mode": "all_data"}, "destination": {"parquet_output": true}}}""")
    Op("extract_parquet", "read", "component", () => execute(d), { res =>
      val (code, _) = res.asInstanceOf[(Int, String)]
      Check(code == 0, s"extractor exit code $code")
      val df = spark.read.parquet(d.resolve(s"out/files/$Table.parquet").toString)
      val want = math.min(st.model.size, ScanLimit).toLong
      val n = df.count()
      Check(n == want, s"parquet extract: $n rows, want $want")
      // per-key values of a seeded sample of about one order in fifty
      val mod = rng.nextInt(50)
      df.where(s"pmod(l_orderkey, 50) = $mod").collect().foreach { row =>
        val k = (row.getAs[Long]("l_orderkey"), row.getAs[Long]("l_linenumber"))
        val li = st.model.getOrElse(k, throw new CheckFailed(s"key $k not in model"))
        Check(math.round(row.getAs[Double]("l_quantity")) == li.quantity &&
          math.round(row.getAs[Double]("l_extendedprice") * 100) == li.priceCents &&
          row.getAs[String]("l_comment") == li.comment, s"parquet extract row $k: $row vs $li")
      }
      Files2.wipe(d)
    })
  }

  private def syncOp(action: String): Op = {
    val d = jobDir()
    Files.writeString(d.resolve("config.json"),
      s"""{"action": "$action", "parameters": {"catalog": $catalogJson, """ +
        s""""source": {"namespace": "$Ns", "table_name": "$Table"}}}""")
    Op(action, "other", "component", () => execute(d), { res =>
      val (code, out) = res.asInstanceOf[(Int, String)]
      Check(code == 0, s"$action exit code $code")
      val arr = new com.fasterxml.jackson.databind.ObjectMapper().readTree(out)
      val values = (0 until arr.size).map(arr.get(_).get("value").asText)
      action match {
        case "list_tables" => Check(values == Seq(Table), s"tables $values")
        case "list_columns" =>
          Check(values == Gen.LiColumns.map(_._1), s"columns $values")
        case _ => Check(values.size == st.commits, s"${values.size} snapshots, ${st.commits} commits")
      }
      Files2.wipe(d)
    })
  }

  private def csvWriteProbe(outDir: Path): Unit = {
    val man = KeboolaManifest.fromJson(Files.readString(Path.of(outDir.toString + ".manifest")))
    val df = KeboolaCsv.read(spark, outDir.toString, man).cache()
    df.count()
    tr.root("sources", "csv_write")(
      KeboolaCsv.writeQuoted(df, work.resolve("probe-out").toString, singleFile = true))
    df.unpersist()
  }

  override def probe(op: Op): Unit = {
    if (op.cls == "write") {
      // the job's own input, parsed again by the connector's CSV source
      val in = work.resolve("jobs").resolve(st.jobs.toString).resolve("in/tables/lineitem.csv")
      if (Files.exists(in)) tr.root("sources", "csv_parse")(
        KeboolaCsv.read(spark, in.toString, KeboolaManifest.fromJson(Gen.manifestJson(Keys))).count())
    }
    val (t, m) = tr.root("icelite", "meta_load") { val t = cat.loadTable(Ns, Table); (t, t.meta) }
    tr.root("icelite", "manifest_load")(t.visibleFiles(m.currentSnapshot.get))
  }

  def build(): Unit = {
    st = new State(work.resolve("warehouse").toString)
    (1 to HistoryCommits).foreach(_ => untimed(appendOp()))
  }

  def warmUp(): Unit = {
    spark.conf.set("spark.sql.catalog.pb_cj", classOf[graft.sources.v2.IceLiteCatalog].getName)
    spark.conf.set("spark.sql.catalog.pb_cj.warehouse", st.wh)
    cycle(-1).foreach(untimed)
    whBytesAtStart = Files2.bytes(Path.of(st.wh))
    csvBytesAtStart = st.csvBytesIn
    st.csvBytesOut = 0L
  }

  def cycle(i: Int): Iterator[Op] = {
    val sync = Vector("list_tables", "list_snapshots", "list_columns")
    // most writes are appends and most reads CSV extracts, so each class's
    // median falls inside one job kind; two upserts give their own median
    // enough samples
    val kinds = rng.shuffle(Seq.fill(5)("append") ++ Seq.fill(2)("upsert") ++
      Seq.fill(3)("extract_csv") ++ Seq("extract_parquet", "sync"))
    kinds.iterator.map {
      case "append" => appendOp()
      case "upsert" => upsertOp()
      case "extract_csv" => extractCsvOp()
      case "extract_parquet" => extractParquetOp()
      case _ => syncOp(sync(math.floorMod(i, 3)))
    }
  }

  def finish(): Map[String, Double] = {
    val t = cat.loadTable(Ns, Table)
    val m = t.meta
    val live = t.visibleFiles(m.currentSnapshot.get)
    val tableDir = Path.of(st.wh, Ns, Table)
    val all = Files2.files(tableDir).filterNot(_.getFileName.toString.endsWith(".crc"))
    val meta = all.filterNot(_.getFileName.toString.endsWith(".parquet"))
    val whBytes = Files2.bytes(Path.of(st.wh))
    val out = mutable.LinkedHashMap[String, Double](
      "space_amp" -> whBytes.toDouble / live.map(_.bytes).sum,
      "icelite.snapshots" -> m.snapshots.size.toDouble,
      "icelite.live_files" -> live.size.toDouble,
      "icelite.metadata_files" -> meta.size.toDouble,
      "icelite.metadata_bytes" -> meta.map(Files.size).sum.toDouble,
      "icelite.write_amp" -> (whBytes - whBytesAtStart).toDouble /
        math.max(1L, st.csvBytesIn - csvBytesAtStart))
    if (rewrite.nonEmpty)
      out("icelite.upsert_rewrite_ratio") = rewrite.map(_._1).sum.toDouble /
        math.max(1, rewrite.map(_._2).sum)
    out("sources.csv_bytes_in") = (st.csvBytesIn - csvBytesAtStart).toDouble
    out("sources.csv_bytes_out") = st.csvBytesOut.toDouble
    out.toMap
  }
}
