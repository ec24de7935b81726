package perfbench

import java.time.LocalDateTime

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** SplitMix64: a tiny generator whose output is fixed by its seed on every
  * JVM, so the same `--seed` always yields the same inputs.
  */
final class Rng(private var state: Long) {
  def nextLong(): Long = {
    state += 0x9E3779B97F4A7C15L
    var z = state
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def nextInt(n: Int): Int = ((nextLong() >>> 1) % n).toInt
  def shuffle[T](xs: Seq[T]): Seq[T] = {
    val a = xs.toArray[Any]
    for (i <- a.length - 1 to 1 by -1) {
      val j = nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq.asInstanceOf[Seq[T]]
  }
}

object Rng {
  /** An independent stream per purpose, so adding draws to one stream never
    * shifts the values of another.
    */
  def apply(seed: Long, stream: String): Rng = {
    val r = new Rng(seed)
    new Rng(r.nextLong() ^ (stream.hashCode.toLong * 0x9E3779B97F4A7C15L))
  }
}

/** One lineitem row. Money and ratios are held in hundredths so the model
  * compares exactly with what comes back through CSV or Parquet.
  */
final case class Li(orderkey: Long, linenumber: Long, partkey: Long,
    suppkey: Long, quantity: Long, priceCents: Long, discountPct: Long,
    taxPct: Long, returnflag: String, linestatus: String,
    shipdate: LocalDateTime, comment: String) {
  def key: (Long, Long) = (orderkey, linenumber)
}

object Gen {

  val Epoch: LocalDateTime = LocalDateTime.of(1995, 1, 1, 0, 0)
  /** Order dates span 1995-01-01 .. 2001-08-01, so a 1998 cutoff splits them. */
  val OrderDays = 2404

  private val Flags = Vector("A", "N", "R")
  private val Words = Vector("batch", "part", "spark", "line", "column",
    "order", "small", "sort", "fast", "value", "scan", "a", "hash", "slow",
    "group", "agg", "filter", "query", "big", "key", "window", "row", "table",
    "stream", "merge", "data", "customer", "join", "vector", "the")

  def cents(c: Long): String = {
    val a = math.abs(c)
    val frac = a % 100
    (if (c < 0) "-" else "") + (a / 100) + (if (frac < 10) ".0" else ".") + frac
  }

  /** The lines of order `o`: the count, dates and values depend on the seed
    * and the order key only, so any key range can be generated on its own.
    */
  def linesOf(seed: Long, o: Long): Seq[Li] = {
    val r = Rng(seed, s"order-$o")
    val n = 1 + r.nextInt(7)
    val orderDay = r.nextInt(OrderDays)
    (1 to n).map { ln =>
      val qty = 1L + r.nextInt(50)
      val ship = Epoch.plusDays(orderDay + 1L + r.nextInt(121))
      val comment = r.nextInt(4) match {
        case 0 => s"pkg ${Words(r.nextInt(Words.size))}"
        case 1 => s"""note "${Words(r.nextInt(Words.size))}", ${r.nextInt(100)}"""
        case 2 => s"${Words(r.nextInt(Words.size))}, ${Words(r.nextInt(Words.size))}"
        case _ => "-"
      }
      Li(o, ln.toLong, r.nextInt(2000).toLong, r.nextInt(100).toLong, qty,
        qty * (90000L + r.nextInt(10000000)) / 100, r.nextInt(11).toLong,
        r.nextInt(9).toLong, Flags(r.nextInt(3)), if (r.nextInt(2) == 0) "O" else "F",
        ship, comment)
    }
  }

  def orderDate(seed: Long, o: Long): LocalDateTime = {
    val r = Rng(seed, s"order-$o")
    r.nextInt(7)
    Epoch.plusDays(r.nextInt(OrderDays).toLong)
  }

  /** Lineitem in key order, from order 1 on: batch `i` of `size` rows is the
    * i-th slice of this stream.
    */
  final class LineStream(seed: Long) {
    private var nextOrder = 1L
    private val pending = scala.collection.mutable.Queue.empty[Li]
    def take(n: Int): Seq[Li] = {
      while (pending.size < n) { pending ++= linesOf(seed, nextOrder); nextOrder += 1 }
      Seq.fill(n)(pending.dequeue())
    }
    def ordersStarted: Long = nextOrder - 1
  }

  val LiColumns: Seq[(String, String)] = Seq(
    "l_orderkey" -> "INTEGER", "l_partkey" -> "INTEGER",
    "l_suppkey" -> "INTEGER", "l_linenumber" -> "INTEGER",
    "l_quantity" -> "FLOAT", "l_extendedprice" -> "FLOAT",
    "l_discount" -> "FLOAT", "l_tax" -> "FLOAT",
    "l_returnflag" -> "STRING", "l_linestatus" -> "STRING",
    "l_shipdate" -> "TIMESTAMP", "l_comment" -> "STRING")

  private val TsFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  def ts(t: LocalDateTime): String = TsFmt.format(t)

  /** Field `i` of [[LiColumns]] as the CSV carries it. */
  def field(l: Li, i: Int): String = i match {
    case 0 => l.orderkey.toString
    case 1 => l.partkey.toString
    case 2 => l.suppkey.toString
    case 3 => l.linenumber.toString
    case 4 => cents(l.quantity * 100)
    case 5 => cents(l.priceCents)
    case 6 => cents(l.discountPct)
    case 7 => cents(l.taxPct)
    case 8 => l.returnflag
    case 9 => l.linestatus
    case 10 => ts(l.shipdate)
    case _ => l.comment
  }

  /** The row's fields as the CSV carries them, in [[LiColumns]] order. */
  def fields(l: Li): Seq[String] = LiColumns.indices.map(field(l, _))

  private def quote(s: String): String = "\"" + s.replace("\"", "\"\"") + "\""

  /** A Keboola-style quoted CSV with header, byte-for-byte a function of the
    * rows.
    */
  def csv(rows: Seq[Li]): String = {
    val sb = new StringBuilder
    sb ++= LiColumns.map(c => quote(c._1)).mkString(",") += '\n'
    rows.foreach(r => sb ++= fields(r).map(quote).mkString(",") += '\n')
    sb.toString
  }

  def manifestJson(primaryKey: Seq[String]): String = {
    def q(s: String) = "\"" + s + "\""
    val cols = LiColumns.map(c => q(c._1)).mkString("[", ", ", "]")
    val schema = LiColumns.map { case (n, t) =>
      s"""{"name": ${q(n)}, "base_type": ${q(t)}}""" }.mkString("[", ", ", "]")
    s"""{"columns": $cols, "primary_key": ${primaryKey.map(q).mkString("[", ", ", "]")}, """ +
      s""""delimiter": ",", "enclosure": "\\"", "has_header": true, "schema": $schema}"""
  }

  // -- tables for the SQL workload and the registry funnels -----------------

  val LiSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampNTZType)))

  def liRow(l: Li): Row = Row(l.orderkey, l.partkey, l.suppkey, l.linenumber.toInt,
    l.quantity.toDouble, l.priceCents / 100.0, l.discountPct / 100.0,
    l.taxPct / 100.0, l.returnflag, l.linestatus, l.shipdate)

  final case class Ord(orderkey: Long, custkey: Long, status: String,
      totalCents: Long, date: LocalDateTime, priority: String)

  private val Priorities = Vector("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")

  def order(seed: Long, o: Long, customers: Int): Ord = {
    val r = Rng(seed, s"orderrow-$o")
    val lines = linesOf(seed, o)
    Ord(o, r.nextInt(customers).toLong, Vector("O", "F", "P")(r.nextInt(3)),
      lines.map(_.priceCents).sum, orderDate(seed, o), Priorities(r.nextInt(5)))
  }

  val OrdSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampNTZType), StructField("o_orderpriority", StringType)))

  def ordRow(o: Ord): Row =
    Row(o.orderkey, o.custkey, o.status, o.totalCents / 100.0, o.date, o.priority)

  final case class Ev(id: Long, ts: LocalDateTime, user: Long, kind: String,
      valueCents: Long, props: String)

  val EvTypes = Vector("signup", "click", "error", "view", "purchase")
  val EvStart: LocalDateTime = LocalDateTime.of(2024, 1, 1, 0, 0)

  /** `n` events in time order over `days` days from `startDay` of January
    * 2024, ids from `firstId`.
    */
  def events(seed: Long, firstId: Long, n: Int, users: Int, startDay: Int = 0,
      days: Int = 30): Seq[Ev] = {
    val r = Rng(seed, s"events-$firstId")
    val span = days * 86400L * 1000000L
    val times = Array.fill(n)((r.nextLong() >>> 1) % span).sorted
    val start = EvStart.plusDays(startDay.toLong)
    times.indices.map { i =>
      Ev(firstId + i, start.plusNanos(times(i) * 1000L), r.nextInt(users).toLong,
        EvTypes(r.nextInt(EvTypes.size)), r.nextInt(20000).toLong,
        s"""{"k": ${r.nextInt(100)}}""")
    }
  }

  val EvSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampNTZType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  def evRow(e: Ev): Row =
    Row(e.id, e.ts, e.user, e.kind, e.valueCents / 100.0, e.props)

  def df(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** Writes the tables the registry funnels read, one Parquet file each,
    * `<dir>/<name>.parquet`: `customers` customers, orders 1..`orders` with
    * their lines, and `events` events of `users` users. The streaming funnels
    * watch `dir` for exactly that file name. Returns rows per table.
    */
  def writeFunnelTables(spark: SparkSession, seed: Long, dir: String, orders: Int,
      customers: Int, events: Int, users: Int): Map[String, Long] = {
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    def put(name: String, rows: Seq[Row], schema: StructType): Unit = {
      val tmp = java.nio.file.Path.of(dir, s"_$name")
      df(spark, rows, schema).coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files2.parts(tmp, ".parquet").head
      java.nio.file.Files.move(part, java.nio.file.Path.of(dir, s"$name.parquet"))
      Files2.wipe(tmp)
      out(name) = rows.size.toLong
    }
    val segs = Vector("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING")
    val rc = Rng(seed, "customer")
    put("customer", (0 until customers).map(i => Row(i.toLong,
      f"Customer#$i%09d", rc.nextInt(25), rc.nextInt(1000000) / 100.0,
      segs(rc.nextInt(5)))), StructType(Seq(
      StructField("c_custkey", LongType), StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType))))
    val keys = 1L to orders.toLong
    put("orders", keys.map(o => ordRow(order(seed, o, customers))), OrdSchema)
    put("lineitem", keys.flatMap(o => linesOf(seed, o)).map(liRow), LiSchema)
    put("events", Gen.events(seed, 0L, events, users).map(evRow), EvSchema)
    out.toMap
  }
}
