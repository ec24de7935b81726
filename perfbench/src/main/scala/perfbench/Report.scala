package perfbench

import scala.collection.mutable

import Main.Sample

/** Turns samples and spans into the named metrics. */
final class Report(name: String, cpus: Int, samples: Seq[Sample]) {

  /** One line per operation kind and class, each timing with its count. */
  def classes: Seq[String] = {
    val untraced = samples.filterNot(_.traced)
    def line(label: String, xs: Seq[Double]): String = {
      val p90 = Stats.p90(xs).map(v => f"$v%.1f").getOrElse(s"n/a (<${Stats.MinSamplesForP90})")
      f"[perfbench]   $label%-24s n=${xs.size}%4d  p50=${Stats.median(xs)}%9.1f ms  p90=$p90"
    }
    Seq("read", "write", "other").flatMap { c =>
      val xs = untraced.filter(s => s.cls == c && s.ok).map(_.ms)
      if (xs.isEmpty) Nil else line(s"class $c", xs) +:
        untraced.filter(s => s.cls == c && s.ok).groupBy(_.kind).toSeq.sortBy(_._1)
          .map { case (k, ss) => line(k, ss.map(_.ms)) }
    }
  }

  /** Per-layer metrics of the traced operations. */
  def layers(tr: Tracer, roots: Seq[Span]): Seq[(String, (Double, String))] = {
    val out = mutable.LinkedHashMap.empty[String, (Double, String)]
    val works = roots.map(r => tr.work.getOrElse(r.id, new SparkWork))
    val n = math.max(1, roots.size).toDouble
    val phases = works.flatMap(_.phases)
    def meanPhase(f: ((Long, Long, Long)) => Long) =
      if (phases.isEmpty) 0.0 else phases.map(f).sum.toDouble / phases.size
    out("spark.analysis_ms") = (meanPhase(_._1), "ms")
    out("spark.optimization_ms") = (meanPhase(_._2), "ms")
    out("spark.planning_ms") = (meanPhase(_._3), "ms")
    out("spark.actions_per_op") = (works.map(_.actions.size).sum / n, "count")
    out("spark.jobs_per_op") = (works.map(_.jobs.size).sum / n, "count")
    out("spark.stages_per_op") = (works.map(_.stages).sum / n, "count")
    out("spark.tasks_per_op") = (works.map(_.tasks).sum / n, "count")
    val wallMs = roots.map(_.ms).sum
    out("spark.job_gap_ms") = (roots.zip(works).map { case (r, w) =>
      r.ms - Tracer.unionNs(w.jobs.map { case (a, b) =>
        (math.max(a, r.startNs), math.min(b, r.endNs)) }.toSeq) / 1e6 }.sum / n, "ms")
    out("spark.core_util") = (works.map(_.runMs).sum / math.max(1e-9, wallMs * cpus), "ratio")
    out("spark.executor_run_s") = (works.map(_.runMs).sum / 1e3, "s")
    out("spark.executor_cpu_s") = (works.map(_.cpuNs).sum / 1e9, "s")
    out("spark.gc_ms") = (works.map(_.gcMs).sum.toDouble, "ms")
    out("spark.shuffle_write_bytes") = (works.map(_.shuffleWriteBytes).sum.toDouble, "bytes")
    out("spark.spill_bytes") = (works.map(_.spillBytes).sum.toDouble, "bytes")

    // self time: the entry layer's own time, Spark's driver inside actions,
    // and the jobs themselves, per operation
    val self = roots.map(tr.selfMs)
    def selfOf(pred: String => Boolean) = self.map(_.filter(e => pred(e._1)).values.sum).sum / n
    out("self.entry_ms") = (selfOf(l => !l.startsWith("spark")), "ms")
    out("self.spark_driver_ms") = (selfOf(_ == "spark.driver"), "ms")
    out("self.spark_exec_ms") = (selfOf(_ == "spark.exec"), "ms")
    self.flatMap(_.keys).distinct.sorted.foreach(l =>
      out(s"self.by_layer.$l.ms") = (selfOf(_ == l), "ms"))

    val traced = samples.filter(_.traced)
    val untraced = samples.filterNot(_.traced)
    val tOps = Report.opsPerS(traced)
    val uOps = Report.opsPerS(untraced)
    out("trace.ops_per_s") = (tOps, "ops/s")
    out("trace.untraced_ops_per_s") = (uOps, "ops/s")
    out("trace.overhead") = (uOps / math.max(1e-9, tOps) - 1.0, "ratio")

    // the layer rows that exist only where a workload exercises them
    val byKind = roots.groupBy(_.name)
    def medianMs(spans: Seq[Span]) = if (spans.isEmpty) None else Some(Stats.median(spans.map(_.ms)))
    val probes = tr.rootSpans.filterNot(r => roots.exists(_.id == r.id))
    def probe(n: String) = medianMs(probes.filter(_.name == n))
    name match {
      case "component_jobs" =>
        Seq("append", "upsert", "extract_csv", "extract_parquet").foreach(k =>
          medianMs(byKind.getOrElse(k, Nil)).foreach(v => out(s"component.${k}_ms") = (v, "ms")))
        medianMs(roots.filter(_.name.startsWith("list_"))).foreach(v =>
          out("component.sync_ms") = (v, "ms"))
        val jobs = roots.filter(r => r.name == "append" || r.name == "upsert")
        if (jobs.nonEmpty) out("component.driver_self_ms") = (Stats.median(jobs.map { r =>
          val w = tr.work.getOrElse(r.id, new SparkWork)
          r.ms - Tracer.unionNs(w.actions.toSeq) / 1e6 }), "ms")
        probe("csv_parse").foreach(v => out("sources.csv_parse_ms") = (v, "ms"))
        probe("csv_write").foreach(v => out("sources.csv_write_ms") = (v, "ms"))
      case "lake_sql" =>
        val reads = roots.filter(r => samples.exists(s => s.kind == r.name && s.cls == "read"))
        val plan = reads.flatMap(r => tr.spans.filter(s => s.root == r.id && s.name == "plan"))
        val coll = reads.flatMap(r => tr.spans.filter(s => s.root == r.id && s.name == "collect"))
        medianMs(plan).foreach(v => out("v2.plan_ms") = (v, "ms"))
        medianMs(coll).foreach(v => out("v2.exec_ms") = (v, "ms"))
        val rw = reads.map(r => tr.work.getOrElse(r.id, new SparkWork))
        out("v2.bytes_read") = (rw.map(_.bytesRead).sum.toDouble / math.max(1, reads.size), "bytes")
        val returned = samples.filter(s => s.traced && s.cls == "read").map(_.rows).sum
        out("v2.rows_read_per_row_returned") =
          (rw.map(_.recordsRead).sum.toDouble / math.max(1L, returned), "ratio")
        Seq("insert", "delete", "update", "merge").foreach(k =>
          medianMs(byKind.getOrElse(k, Nil)).foreach(v => out(s"v2.${k}_ms") = (v, "ms")))
        // the registry funnels, batch and streaming
        val funnels = roots.filter(r => r.layer == "queries" || r.layer == "streaming")
        funnels.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (q, rs) =>
          out(s"queries.${q}_s") = (Stats.median(rs.map(_.ms)) / 1e3, "s")
          out(s"queries.${q}_jobs") = (Stats.median(rs.map(r =>
            tr.work.getOrElse(r.id, new SparkWork).jobs.size.toDouble)), "count")
        }
        val streamed = funnels.count(_.layer == "streaming")
        if (tr.batches.nonEmpty && streamed > 0) {
          out("streaming.batches") = (tr.batches.size.toDouble / streamed, "count")
          out("streaming.batch_p50_ms") = (Stats.median(tr.batches.map(_.durationMs.toDouble).toSeq), "ms")
          out("streaming.state_rows") = (tr.batches.map(_.stateRows).max.toDouble, "count")
        }
      case _ =>
    }
    probe("meta_load").foreach(v => out("icelite.meta_load_ms") = (v, "ms"))
    probe("manifest_load").foreach(v => out("icelite.manifest_load_ms") = (v, "ms"))
    out.toSeq
  }
}

object Report {
  /** Completed operations per second of the client's busy time: the time
    * the benchmark spends checking results is left out.
    */
  def opsPerS(xs: Seq[Sample]): Double = {
    val ok = xs.filter(_.ok)
    if (ok.isEmpty) 0.0 else ok.size / (xs.map(_.ms).sum / 1e3)
  }

  /** Peak resident memory of this JVM, from the kernel's high-water mark. */
  def peakRssMb(): Double = {
    val status = java.nio.file.Files.readString(java.nio.file.Path.of("/proc/self/status"))
    status.linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
  }

  def unitOf(metric: String): String =
    if (metric.endsWith("_bytes") || metric.endsWith("bytes_in") || metric.endsWith("bytes_out")) "bytes"
    else if (metric.endsWith("_ratio") || metric.endsWith("_amp") || metric.endsWith("_frac")) "ratio"
    else "count"

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}
