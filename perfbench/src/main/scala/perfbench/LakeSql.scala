package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.SparkEntry
import graft.icelite.IceCatalog
import graft.sources.v2.{HasPlannedFiles, IceLiteCatalog}

/** SQL through an `IceLiteCatalog` over tables built with many small
  * commits: `days(ts)`-partitioned events, and lineitem in a copy-on-write
  * and a merge-on-read variant, beside orders. Reads outnumber writes
  * more than two to one. Each cycle also runs two of the registry's
  * multi-action funnels, a batch one and a streaming one, over plain Parquet
  * tables of their own.
  */
final class LakeSql(spark: SparkSession, seed: Long, work: Path, tr: Tracer)
    extends Workload {

  private val Ns = "db"
  private val Commits = 5
  private val LiPerCommit = 6000
  private val EvPerCommit = 2000
  private val DmlRows = 1000
  val upsertKind = "merge"
  val cycleSeconds = 12.0
  private val Tables = Seq("li_cow", "li_mor")
  /** Registry funnels and the layer each enters. */
  private val Funnels = Seq("q3_join_topk" -> "queries", "st1_stream_window" -> "streaming")

  /** The benchmark's own record of what each lineitem table holds. */
  private final class LiModel {
    val byOrder = mutable.HashMap.empty[Long, Vector[Li]]
    var rows = 0L
    var version = 0
    def put(l: Li): Unit = {
      val cur = byOrder.getOrElse(l.orderkey, Vector.empty)
      val i = cur.indexWhere(_.linenumber == l.linenumber)
      if (i >= 0) byOrder(l.orderkey) = cur.updated(i, l)
      else { byOrder(l.orderkey) = cur :+ l; rows += 1 }
      version += 1
    }
    def drop(o: Long): Unit = {
      byOrder.remove(o).foreach(v => rows -= v.size); version += 1
    }
    def qty: Long = byOrder.valuesIterator.flatten.map(_.quantity).sum
    def all: Iterator[Li] = byOrder.valuesIterator.flatten
  }

  private val catName = "pb_lake"
  private var wh = ""
  private var li: Map[String, LiModel] = Map.empty
  private var evs: Vector[Gen.Ev] = Vector.empty
  private var orders: Map[Long, Gen.Ord] = Map.empty
  private var maxOrder = 0L
  /** (snapshot id, rows, quantity) of li_cow's set-up commits */
  private val cowHistory = mutable.ArrayBuffer.empty[(Long, Long, Long)]
  /** (snapshot id, rows added) of ev's set-up commits */
  private val evHistory = mutable.ArrayBuffer.empty[(Long, Long)]
  private var nextNewOrder = 10000000L
  private val rng = Rng(seed, "lake-sql")
  private var whBytesAtStart = 0L
  private var bytesWritten = 0L
  private val planned = mutable.ArrayBuffer.empty[(Int, Int)] // (planned, live)
  private val rewritten = mutable.ArrayBuffer.empty[Int]
  private var liveBefore = Set.empty[String]
  private var plannedNow = 0
  private var funnelDir = ""
  private var funnelSizes = Map.empty[String, Long]
  /** Each funnel's result on the cold pass, which the DuckDB oracle checks. */
  private val funnelRows = mutable.HashMap.empty[String, Seq[Seq[String]]]

  def inputs: Map[String, Long] = Map(
    "lineitem_rows" -> Commits.toLong * LiPerCommit, "event_rows" -> Commits.toLong * EvPerCommit,
    "orders" -> orders.size.toLong, "commits_per_table" -> Commits.toLong,
    "dml_rows" -> DmlRows.toLong) ++
    funnelSizes.map { case (k, v) => s"funnel_${k}_rows" -> v }

  private def t(name: String) = s"$catName.$Ns.$name"
  private def ice = new IceCatalog(spark, wh)

  private def snapId(name: String): Long = ice.loadTable(Ns, name).meta.currentSnapshotId

  def build(): Unit = {
    wh = work.resolve("lake").toString
    spark.conf.set(s"spark.sql.catalog.$catName", classOf[IceLiteCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$catName.warehouse", wh)
    val liDdl = Gen.LiSchema.toDDL
    spark.sql(s"CREATE TABLE ${t("li_cow")} ($liDdl)")
    spark.sql(s"CREATE TABLE ${t("li_mor")} ($liDdl) TBLPROPERTIES (" +
      "'write.delete.mode' = 'merge-on-read', 'write.update.mode' = 'merge-on-read', " +
      "'write.merge.mode' = 'merge-on-read')")
    spark.sql(s"CREATE TABLE ${t("ev")} (event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
      "event_type STRING, value DOUBLE, props STRING) PARTITIONED BY (days(ts))")
    spark.sql(s"CREATE TABLE ${t("ord")} (${Gen.OrdSchema.toDDL})")
    li = Tables.map(_ -> new LiModel).toMap
    val stream = new Gen.LineStream(seed)
    val evb = Vector.newBuilder[Gen.Ev]
    (0 until Commits).foreach { c =>
      val rows = stream.take(LiPerCommit)
      val df = Gen.df(spark, rows.map(Gen.liRow), Gen.LiSchema)
      Tables.foreach { n =>
        df.writeTo(t(n)).append()
        rows.foreach(li(n).put)
      }
      cowHistory += ((snapId("li_cow"), li("li_cow").rows, li("li_cow").qty))
      // time-ordered ingestion: each commit covers its own six days
      val e = Gen.events(seed, c.toLong * EvPerCommit, EvPerCommit, 150, c * 6, 6)
      evb ++= e
      Gen.df(spark, e.map(Gen.evRow), Gen.EvSchema)
        .withColumn("ts", col("ts").cast("timestamp")).writeTo(t("ev")).append()
      evHistory += ((snapId("ev"), e.size.toLong))
    }
    evs = evb.result()
    maxOrder = stream.ordersStarted
    orders = (1L to maxOrder).map(o => o -> Gen.order(seed, o, 1500)).toMap
    Gen.df(spark, orders.values.toSeq.sortBy(_.orderkey).map(Gen.ordRow), Gen.OrdSchema)
      .writeTo(t("ord")).append()
    funnelDir = work.resolve("funnel-tables").toString
    funnelSizes = Gen.writeFunnelTables(spark, seed, funnelDir, orders = 7500,
      customers = 1500, events = 10000, users = 150)
  }

  /** The funnels' cold pass, each result written for the DuckDB oracle
    * (`run.py` compares them after the run), then one full cycle.
    */
  def warmUp(): Unit = {
    val out = work.resolve("oracle")
    Files2.wipe(out)
    Funnels.foreach { case (q, layer) =>
      val dir = out.resolve(q).toString
      untimed(Op(q, "cold", layer, () => {
        SparkEntry.queries(q)(spark, funnelDir).coalesce(1).write.parquet(dir)
        funnelRows(q) = sorted(norm(spark.read.parquet(dir).collect().toSeq.map(_.toSeq)))
      }))
    }
    def js(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\t' => "\\t"
      case c => c.toString
    } + "\""
    val oracle = SparkEntry.oracleSql
    Files.writeString(out.resolve("oracle.json"), Funnels.map { case (q, _) =>
      s"${js(q)}: {\"sql\": ${oracle.get(q).map(js).getOrElse("null")}, " +
        s"\"rows\": ${funnelRows.get(q).map(_.size).getOrElse(-1)}}"
    }.mkString("{\n", ",\n", "\n}\n"))
    Files.writeString(out.resolve("tables.txt"), funnelDir + "\n")
    cycle(-1).foreach(untimed)
    whBytesAtStart = Files2.bytes(Path.of(wh))
    bytesWritten = 0L
  }

  // -- reads ------------------------------------------------------------------

  private val PointCols = "l_orderkey, l_linenumber, l_quantity, l_extendedprice, " +
    "l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate"

  /** A read: SQL text over `{name}` placeholders, its expected rows from the
    * model, and whether it may be replayed over plain Parquet of the model.
    */
  private def read(kind: String, sql: String, tables: Seq[String],
      expect: () => Seq[Seq[Any]], replay: Boolean): Op = {
    val text = tables.foldLeft(sql)((s, n) => s.replace(s"{$n}", t(n)))
    Op(kind, "read", "v2", () => {
      val df = spark.sql(text)
      if (tr.enabled) plannedNow = tr.span("v2", "plan")(HasPlannedFiles.of(df)).size
      tr.span("spark", "collect")(df.collect())
    }, { res =>
      if (tr.enabled && tables.nonEmpty) planned += ((plannedNow, tables.map(n => liveFiles(n).size).sum))
      val got = norm(res.asInstanceOf[Array[Row]].toSeq.map(_.toSeq))
      val want = norm(expect())
      Check(got == want, s"$kind: got ${got.take(3)} want ${want.take(3)} ($text)")
      if (replay && rng.nextInt(8) == 0) {
        val viaParquet = norm(spark.sql(tables.foldLeft(sql)((s, n) =>
          s.replace(s"{$n}", modelView(n)))).collect().toSeq.map(_.toSeq))
        Check(viaParquet == want, s"$kind over Parquet of the model: $viaParquet ($text)")
      }
    })
  }

  /** Values compared at a precision both sides carry exactly. */
  private def norm(rows: Seq[Seq[Any]]): Seq[Seq[String]] = rows.map(_.map {
    case d: Double => num(new java.math.BigDecimal(d))
    case d: java.math.BigDecimal => num(d)
    case x => String.valueOf(x)
  })

  private def num(d: java.math.BigDecimal): String =
    d.round(new java.math.MathContext(10)).stripTrailingZeros().toPlainString

  private def sorted(rows: Seq[Seq[String]]): Seq[Seq[String]] =
    rows.sortBy(_.mkString("\u0001"))

  private val modelVersions = mutable.HashMap.empty[String, Int]

  /** The model of a table, written as plain Parquet and read back with
    * Spark's own reader: a path that shares nothing with the connector.
    */
  private def modelView(n: String): String = {
    val v = s"pb_model_$n"
    val version = li.get(n).map(_.version).getOrElse(0)
    if (!modelVersions.get(n).contains(version)) {
      val path = work.resolve("model").resolve(n).toString
      val df = n match {
        case "ord" => Gen.df(spark, orders.values.toSeq.map(Gen.ordRow), Gen.OrdSchema)
        case "ev" => Gen.df(spark, evs.map(Gen.evRow), Gen.EvSchema)
          .withColumn("ts", col("ts").cast("timestamp"))
        case _ => Gen.df(spark, li(n).all.map(Gen.liRow).toSeq, Gen.LiSchema)
      }
      df.write.mode("overwrite").parquet(path)
      spark.read.parquet(path).createOrReplaceTempView(v)
      modelVersions(n) = version
    }
    v
  }

  private def someOrder(): Long = 1L + rng.nextInt(maxOrder.toInt)

  private def liFields(l: Li): Seq[Any] = Seq(l.orderkey, l.linenumber.toInt,
    l.quantity.toDouble, l.priceCents / 100.0, l.discountPct / 100.0,
    l.taxPct / 100.0, l.returnflag, l.linestatus, l.shipdate)

  private def pointOp(n: String): Op = {
    val k = someOrder()
    read("point", s"SELECT $PointCols FROM {$n} WHERE l_orderkey = $k ORDER BY l_linenumber",
      Seq(n), () => li(n).byOrder.getOrElse(k, Vector.empty).sortBy(_.linenumber)
        .map(liFields), replay = true)
  }

  private def rangeOp(): Op = {
    val d0 = rng.nextInt(28)
    val a = Gen.EvStart.plusDays(d0.toLong)
    val b = a.plusDays(2)
    read("range", s"SELECT event_type, count(*) AS n, sum(value) AS s FROM {ev} " +
      s"WHERE ts >= TIMESTAMP '${Gen.ts(a)}' AND ts < TIMESTAMP '${Gen.ts(b)}' " +
      "GROUP BY event_type ORDER BY event_type", Seq("ev"), () =>
      evs.filter(e => !e.ts.isBefore(a) && e.ts.isBefore(b)).groupBy(_.kind).toSeq
        .sortBy(_._1).map { case (k, es) =>
          Seq(k, es.size.toLong, es.map(_.valueCents).sum / 100.0) }, replay = true)
  }

  private def countOp(): Op = read("manifest_count",
    "SELECT count(*), min(l_orderkey), max(l_orderkey) FROM {li_cow}", Seq("li_cow"), () => {
      val keys = li("li_cow").byOrder.keys
      Seq(Seq(li("li_cow").rows, keys.min, keys.max))
    }, replay = true)

  private def versionOp(): Op = {
    val (snap, rows, qty) = cowHistory(rng.nextInt(cowHistory.size))
    read("version_as_of", s"SELECT count(*), sum(l_quantity) FROM {li_cow} VERSION AS OF $snap",
      Seq("li_cow"), () => Seq(Seq[Any](rows, qty.toDouble)), replay = false)
  }

  private def changesOp(): Op = {
    val i = rng.nextInt(evHistory.size - 1)
    val j = i + 1 + rng.nextInt(math.min(2, evHistory.size - 1 - i))
    val want = evHistory.slice(i + 1, j + 1).map(_._2).sum
    read("changes", s"SELECT count(*) FROM icelite_changes('$wh', '$Ns.ev', " +
      s"${evHistory(i)._1}, ${evHistory(j)._1})", Nil, () => Seq(Seq(want)), replay = false)
  }

  private def topkOp(n: String): Op = {
    val d0 = Gen.Epoch.plusDays(rng.nextInt(Gen.OrderDays - 90).toLong)
    val d1 = d0.plusDays(90)
    read("topk_join", "SELECT o_orderkey, o_orderdate, " +
      "sum(l_extendedprice * (1 - l_discount)) AS rev FROM {ord} JOIN " +
      s"{$n} ON o_orderkey = l_orderkey WHERE o_orderdate >= TIMESTAMP_NTZ '${Gen.ts(d0)}' " +
      s"AND o_orderdate < TIMESTAMP_NTZ '${Gen.ts(d1)}' GROUP BY o_orderkey, o_orderdate " +
      "ORDER BY rev DESC, o_orderkey LIMIT 10", Seq("ord", n), () =>
      orders.valuesIterator.filter(o => !o.date.isBefore(d0) && o.date.isBefore(d1))
        .flatMap { o =>
          li(n).byOrder.get(o.orderkey).filter(_.nonEmpty).map(ls => (o, ls.map(l =>
            l.priceCents * (100 - l.discountPct)).sum / 10000.0))
        }.toSeq.sortBy { case (o, r) => (-r, o.orderkey) }.take(10)
        .map { case (o, r) => Seq(o.orderkey, o.date, r) }, replay = true)
  }

  /** A funnel through the registry's entry point; its result must equal the
    * oracle-checked cold pass.
    */
  private def funnelOp(q: String, layer: String): Op =
    Op(q, "other", layer, () => SparkEntry.queries(q)(spark, funnelDir).collect(), { res =>
      val got = sorted(norm(res.asInstanceOf[Array[Row]].toSeq.map(_.toSeq)))
      val want = funnelRows.getOrElse(q, throw new CheckFailed(s"$q: no cold-pass result"))
      Check(got == want, s"$q: ${got.size} rows, cold pass ${want.size}; first " +
        s"${got.take(2)} vs ${want.take(2)}")
    })

  // -- writes -----------------------------------------------------------------

  private def write(kind: String, n: String, stmt: String, apply: () => Unit): Op = {
    if (tr.enabled) liveBefore = liveFiles(n)
    Op(kind, "write", "v2", () => spark.sql(stmt), { _ =>
      apply()
      if (tr.enabled) rewritten += (liveBefore -- liveFiles(n)).size
      val r = spark.sql(s"SELECT count(*), sum(l_quantity) FROM ${t(n)}").collect()(0)
      val m = li(n)
      Check(r.getLong(0) == m.rows && math.round(r.getDouble(1)) == m.qty,
        s"$kind on $n: table ${r.getLong(0)} rows / ${r.getDouble(1)}, model ${m.rows} / ${m.qty}")
    })
  }

  private def liveFiles(n: String): Set[String] = {
    val tb = ice.loadTable(Ns, n)
    tb.visibleFiles(tb.meta.currentSnapshot.get).map(_.path).toSet
  }

  private def newLines(): Seq[Li] = {
    val out = mutable.ArrayBuffer.empty[Li]
    while (out.size < DmlRows) {
      out ++= Gen.linesOf(seed, nextNewOrder); nextNewOrder += 1
    }
    out.toSeq
  }

  private def view(name: String, rows: Seq[Li]): Unit = {
    Gen.df(spark, rows.map(Gen.liRow), Gen.LiSchema).createOrReplaceTempView(name)
    bytesWritten += rows.map(r => Gen.fields(r).map(_.length + 3).sum).sum
  }

  private def insertOp(n: String): Op = {
    val rows = newLines()
    view("pb_ins", rows)
    write("insert", n, s"INSERT INTO ${t(n)} SELECT * FROM pb_ins", () => rows.foreach(li(n).put))
  }

  private def existingOrder(n: String): Long = {
    var k = someOrder()
    while (!li(n).byOrder.contains(k)) k = someOrder()
    k
  }

  private def deleteOp(n: String): Op = {
    val k = existingOrder(n)
    write("delete", n, s"DELETE FROM ${t(n)} WHERE l_orderkey = $k", () => li(n).drop(k))
  }

  private def updateOp(n: String): Op = {
    val k = existingOrder(n)
    val q = 1L + rng.nextInt(50)
    write("update", n, s"UPDATE ${t(n)} SET l_quantity = $q WHERE l_orderkey = $k",
      () => li(n).byOrder(k).foreach(l => li(n).put(l.copy(quantity = q))))
  }

  /** ~1k rows: nine in ten change lines of existing orders, the rest are
    * new orders.
    */
  private def mergeOp(n: String): Op = {
    val changed = mutable.ArrayBuffer.empty[Li]
    while (changed.size < DmlRows * 9 / 10) {
      val k = existingOrder(n)
      changed ++= li(n).byOrder(k).map(l => l.copy(quantity = 1L + rng.nextInt(50),
        priceCents = 100L + rng.nextInt(9000000)))
    }
    val rows = changed.distinctBy(_.key).toSeq ++ newLines().take(DmlRows / 10)
    view("pb_mrg", rows)
    write("merge", n, s"""MERGE INTO ${t(n)} t USING pb_mrg s
         |ON t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber
         |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""".stripMargin,
      () => rows.foreach(li(n).put))
  }

  /** Twenty-three operations: fifteen reads, two funnels, and six writes.
    * The writes are one insert, one update, two deletes and two merges, one
    * of them on each lineitem variant; each cycle swaps which variant takes
    * the insert and the update.
    */
  def cycle(i: Int): Iterator[Op] = {
    val (a, b) = if (math.floorMod(i, 2) == 0) ("li_cow", "li_mor") else ("li_mor", "li_cow")
    val reads: Seq[() => Op] = Seq.fill(3)(() => pointOp("li_cow")) ++
      Seq.fill(3)(() => pointOp("li_mor")) ++ Seq.fill(2)(() => rangeOp()) ++
      Seq.fill(2)(() => countOp()) ++ Seq(() => versionOp(), () => changesOp(),
        () => changesOp(), () => topkOp("li_cow"), () => topkOp("li_mor"))
    val writes: Seq[() => Op] = Seq(() => insertOp(a), () => updateOp(b),
      () => deleteOp(a), () => deleteOp(b), () => mergeOp(a), () => mergeOp(b))
    val funnels: Seq[() => Op] = Funnels.map { case (q, layer) => () => funnelOp(q, layer) }
    rng.shuffle(reads ++ writes ++ funnels).iterator.map(_())
  }

  /** Metadata loads of both lineitem tables, between operations. */
  override def probe(op: Op): Unit = Tables.foreach { n =>
    val (tb, m) = tr.root("icelite", "meta_load") { val tb = ice.loadTable(Ns, n); (tb, tb.meta) }
    tr.root("icelite", "manifest_load")(tb.visibleFiles(m.currentSnapshot.get))
  }

  def finish(): Map[String, Double] = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    val tabs = Tables :+ "ev" :+ "ord"
    val metas = tabs.map(n => n -> ice.loadTable(Ns, n))
    val liveBytes = metas.map { case (_, tb) =>
      tb.visibleFiles(tb.meta.currentSnapshot.get).map(_.bytes).sum }.sum
    val whBytes = Files2.bytes(Path.of(wh))
    val meta = Files2.files(Path.of(wh)).filterNot { p =>
      val f = p.getFileName.toString; f.endsWith(".crc") || f.endsWith(".parquet") }
    out("space_amp") = whBytes.toDouble / liveBytes
    out("icelite.snapshots") = metas.map(_._2.snapshots.size).sum.toDouble
    out("icelite.live_files") = metas.map { case (_, tb) =>
      tb.visibleFiles(tb.meta.currentSnapshot.get).size }.sum.toDouble
    out("icelite.metadata_files") = meta.size.toDouble
    out("icelite.metadata_bytes") = meta.map(Files.size).sum.toDouble
    out("icelite.write_amp") = (whBytes - whBytesAtStart).toDouble / math.max(1L, bytesWritten)
    if (planned.nonEmpty) {
      out("v2.planned_files") = planned.map(_._1).sum.toDouble / planned.size
      out("v2.pruned_frac") = 1.0 - planned.map(_._1).sum.toDouble / math.max(1, planned.map(_._2).sum)
    }
    if (rewritten.nonEmpty) out("v2.dml_files_rewritten") = rewritten.sum.toDouble / rewritten.size
    out.toMap
  }
}
