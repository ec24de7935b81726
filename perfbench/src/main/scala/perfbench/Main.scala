package perfbench

import java.nio.file.Path

import scala.collection.mutable
import scala.util.Try

import org.apache.spark.sql.SparkSession

/** One benchmark run: one workload in one JVM, driven by a single client in
  * a closed loop.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * }}}
  *
  * Prints a readable report, then one line `PERFBENCH_RESULT <json>` with
  * every metric it measured.
  */
object Main {

  final case class Sample(kind: String, cls: String, ms: Double, ok: Boolean,
      traced: Boolean, rows: Long)

  /** The session the registry's own bench uses, on all local cores. */
  def session(work: Path, cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Box speed: a fixed CPU-only job, as the registry's bench calibrates.
    * It normalizes nothing; it shows a disturbed box when two sets of runs
    * disagree.
    */
  def boxProbe(spark: SparkSession): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 20000000L, 1L, 32).selectExpr("sum(xxhash64(id) & 65535) AS h").collect()
      (System.nanoTime() - t0) / 1e9
    }
    once()
    Seq.fill(3)(once()).min
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = Path.of(opts("work")).toAbsolutePath
    val cpus = Runtime.getRuntime.availableProcessors
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = session(work, cpus)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val tr = new Tracer(spark)
    val w: Workload = name match {
      case "component_jobs" => new ComponentJobs(spark, seed, work, tr)
      case "lake_sql" => new LakeSql(spark, seed, work, tr)
      case other => sys.error(s"unknown workload $other")
    }
    val probeS = boxProbe(spark)

    // set-up is done once: repeating the table builds for a median would
    // cost more run time than the benchmark's budget holds
    val t0 = System.nanoTime()
    w.build()
    val buildS = (System.nanoTime() - t0) / 1e9
    w.warmUp()
    val warmS = (System.nanoTime() - t0) / 1e9 - buildS
    val setupS = sessionS + buildS + warmS

    // the timed loop: whole cycles, as many as the workload's nominal cycle
    // length fits in the time. The count is fixed by the arguments, not by
    // the clock, so a slow moment on the box cannot change how much work a
    // run does or the state it ends in. A traced run alternates traced and
    // untraced cycles, the count rounded up to even so that it lasts about
    // as long as an untraced one; each pair is built from one cycle index:
    // a workload that varies its cycles by index (lake_sql swaps which table
    // takes which write) gives both sides the same mix.
    val samples = mutable.ArrayBuffer.empty[Sample]
    val opRoots = mutable.ArrayBuffer.empty[Span]
    val n = math.max(1L, math.round(seconds / w.cycleSeconds)).toInt
    val cycles = if (traced) n + n % 2 else n
    val loop0 = System.nanoTime()
    var c = 0
    while (c < cycles) {
      tr.record(traced && c % 2 == 0)
      w.cycle(if (traced) c / 2 else c).foreach { op =>
        val s0 = System.nanoTime()
        val res = Try(tr.root(op.layer, op.kind)(op.run()))
        val ms = (System.nanoTime() - s0) / 1e6
        if (tr.enabled) {
          tr.spans.lastOption.filter(_.parent < 0).foreach(opRoots += _)
          Try(w.probe(op)).failed.foreach(e => System.err.println(s"[perfbench] probe: $e"))
        }
        val checked = res.flatMap(r => Try(op.check(r)))
        checked.failed.foreach(e => System.err.println(s"[perfbench] ${op.kind} FAILED: $e"))
        val rows = res.toOption.collect { case a: Array[_] => a.length.toLong }.getOrElse(0L)
        samples += Sample(op.kind, op.cls, ms, checked.isSuccess, tr.enabled, rows)
        System.err.println(f"[perfbench] cycle $c ${op.kind} $ms%.1f ms")
      }
      c += 1
    }
    tr.record(false)
    val loopS = (System.nanoTime() - loop0) / 1e9
    val state = w.finish()

    val report = new Report(name, cpus, samples.toSeq)
    val m = mutable.LinkedHashMap.empty[String, (Double, String)]
    val untraced = samples.filterNot(_.traced).toSeq
    m("setup_s") = (setupS, "s")
    m("ops_per_s") = (Report.opsPerS(untraced), "ops/s")
    for (cls <- Seq("read", "write")) {
      val xs = untraced.filter(s => s.cls == cls && s.ok).map(_.ms)
      if (xs.nonEmpty) m(s"${cls}_p50_ms") = (Stats.median(xs), "ms")
      Stats.p90(xs).foreach(v => m(s"${cls}_p90_ms") = (v, "ms"))
    }
    val ups = untraced.filter(s => s.kind == w.upsertKind && s.ok).map(_.ms)
    if (ups.nonEmpty) m("upsert_p50_ms") = (Stats.median(ups), "ms")
    state.get("space_amp").foreach(v => m("space_amp") = (v, "ratio"))
    val attempted = samples.size + w.untimedAttempted
    val failed = samples.count(!_.ok) + w.untimedFailed
    m("error_rate") = (failed.toDouble / attempted, "ratio")
    m("peak_rss_mb") = (Report.peakRssMb(), "MB")
    state.foreach { case (k, v) => if (k != "space_amp") m(k) = (v, Report.unitOf(k)) }
    if (traced) {
      report.layers(tr, opRoots.toSeq).foreach { case (k, v) => m(k) = v }
      val n = tr.writeSpans(work.resolve(s"spans-$name-$seed.jsonl"))
      println(s"[perfbench] wrote $n spans to ${work.resolve(s"spans-$name-$seed.jsonl")}")
    }

    println(f"[perfbench] workload=$name seed=$seed cpus=$cpus trace=${if (traced) 1 else 0}")
    println(f"[perfbench] box probe ${probeS}%.4f s; session ${sessionS}%.2f s, " +
      f"build $buildS%.2f s, warm-up $warmS%.2f s; timed loop $cycles cycles in $loopS%.2f s")
    println(s"[perfbench] inputs ${w.inputs.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(" ")}")
    report.classes.foreach(println)
    m.foreach { case (k, (v, u)) => println(f"[perfbench] $k%-34s $v%14.4f $u") }
    val perQuery = samples.groupBy(_.kind).map { case (k, xs) =>
      s""""$k": {"attempted": ${xs.size}, "failed": ${xs.count(!_.ok)}}""" }
    val metrics = m.map { case (k, (v, u)) =>
      s""""$k": {"value": ${Report.num(v)}, "unit": "$u"}""" }
    val inputs = w.inputs.map { case (k, v) => s""""$k": $v""" }
    println("PERFBENCH_RESULT {" +
      s""""workload": "$name", "seed": $seed, "attempted": $attempted, """ +
      s""""failed": $failed, "box_probe_s": ${Report.num(probeS)}, """ +
      s""""ops": {${perQuery.mkString(", ")}}, "inputs": {${inputs.mkString(", ")}}, """ +
      s""""metrics": {${metrics.mkString(", ")}}}""")
    spark.stop()
  }
}
