package graft
object Bench {

  /** The calibration-normalized suspect gate, PURE so `BenchSpec` can pin
    * it with a table of cases before it next adjudicates a poisoned run:
    * a query is suspect when its min exceeds 3x its archived prior AND
    * +0.5s absolute (sub-100ms queries triple on scheduler noise alone),
    * with the prior scaled by (calibration_now / calibration_prior) when
    * the archive carries one — a uniformly slower box must not read as a
    * fleet-wide regression, and a uniformly faster one must not mask a
    * real 3x. No prior calibration (pre-round-15 archives) = raw compare.
    * Failed measurements (-1 on either side) never flag.
    */
  private[graft] def suspectOf(results: Seq[(String, Double)],
      prior: Map[String, Double], priorCalib: Option[Double],
      calibrationNow: Double): Seq[String] = {
    val scale = priorCalib.filter(_ > 0).map(calibrationNow / _).getOrElse(1.0)
    results.collect { case (name, v)
      if v > 0 && prior.get(name).exists(p =>
        p > 0 && v > p * scale * 3 && v - p * scale > 0.5) => name }
  }
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // --rounds N: timed runs per query (min reported). Default 2; raise for
    // a confirmation pass when a number looks pathological.
    val rounds = args.sliding(2).collectFirst {
      case Array("--rounds", n) => n.toInt }.getOrElse(2)
    // --only SUBSTR[,SUBSTR...]: bench just the matching queries (local
    // profiling aid; per-round times print to stderr so regressions are
    // attributable). Comma-list added r20 so one A/B run covers a change's
    // whole query set — selection only, the timing loop is untouched.
    val only = args.sliding(2).collectFirst {
      case Array("--only", s) => s }
    val spark = GraftSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Untimed warm-up: pay JVM classloading / codegen / parquet footer reads
    // once, so per-query numbers measure the queries, not session startup.
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")
      .foreach(n => graft.queries.QUtil.t(spark, sfDir, n).count())
    SparkEntry.entry(spark).count()
    // Box-speed calibration: a fixed synthetic workload (IO-free codegen'd
    // hash+sum over spark.range) whose wall time tracks the machine, not
    // the engine. Round 14 proved the same box drifts ~20% within a day,
    // making raw cross-run totals incomparable — consumers normalize by
    // the calibration ratio instead (the `suspect` check below does).
    // min-of-3 after one discarded warm-up; partition count pinned so the
    // measurement never tracks SPARK_GRAFT_CPUS.
    def calibrateOnce(): Double = {
      val t0 = System.nanoTime()
      // mask before summing: raw xxhash64 sums overflow long under ANSI
      spark.range(0L, 100000000L, 1L, 32)
        .selectExpr("sum(xxhash64(id) & 65535) AS h").collect()
      (System.nanoTime() - t0) / 1e9
    }
    calibrateOnce()
    val calibration = (1 to 3).map(_ => calibrateOnce()).min
    // Two timed runs per query, report the min: first execution pays
    // per-plan codegen + JIT compilation, which measures the JVM, not the
    // plan. Cache is cleared between runs so data always comes from disk.
    // A query that throws must never get a wall-time — the elapsed time of a
    // failure reads as a phantom speedup. It reports -1 in the per-query map
    // and lands in an "errors" list on the JSON line.
    val errors = scala.collection.mutable.LinkedHashSet[String]()
    val flaky = scala.collection.mutable.LinkedHashSet[String]()
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) =>
        only.forall(_.split(',').exists(name.contains)) }
      .map { case (name, fn) =>
      def once(): Double = {
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          errors += name
          false
        }
        val dt = (System.nanoTime() - t0) / 1e9
        // queries may persist() intermediates; drop them so every run is
        // measured against a clean executor-memory state
        spark.sharedState.cacheManager.clearCache()
        // let the ContextCleaner actually reclaim broadcast/shuffle state:
        // it cleans via weak references, so without GC pressure a long
        // session accumulates registrations that slow later job scheduling
        System.gc()
        if (ok) dt else -1.0
      }
      // Adaptive sampling: min-of-2 is noisy exactly on the heavy queries
      // (round 1 pays fixture builds + per-plan JIT; round 2 inherits page-
      // cache and GC state). When the best two successful samples disagree
      // by >25%, take up to two extra rounds — stable queries still stop at
      // `rounds`, so the extra wall cost lands only where the variance is.
      val buf = scala.collection.mutable.ArrayBuffer[Double]()
      (1 to rounds).foreach(_ => buf += once())
      var extra = 0
      def unstable: Boolean = {
        val good = buf.filter(_ >= 0).sorted
        good.length >= 2 && good(1) > good(0) * 1.25
      }
      while (extra < 2 && unstable) { buf += once(); extra += 1 }
      val times = buf.toSeq
      if (only.isDefined)
        System.err.println(f"[bench] $name rounds: ${times.map(t => f"$t%.2f").mkString(", ")}")
      // a transiently-failing query still has a real minimum over its
      // SUCCESSFUL rounds — only an all-rounds failure erases the
      // measurement (and only that lands in `errors`); partial failures are
      // annotated separately so flakiness stays visible
      val good = times.filter(_ >= 0)
      if (good.nonEmpty && errors.contains(name)) { errors -= name; flaky += name }
      name -> (if (good.isEmpty) -1.0 else good.min)
    }
    // Locale.ROOT: the f-interpolator honors the JVM default locale, and a
    // comma-decimal locale would emit invalid JSON ("value":12,345)
    def j(v: Double): String =
      if (v < 0) "-1" else String.format(java.util.Locale.ROOT, "%.3f", v)
    // Absolute reference against HISTORY: the in-run >25% variance retry is
    // blind to a uniformly loaded box (every round of the run inflates
    // equally — r13's driver run was +42% end-to-end with flaky:[]), so
    // compare each query's min against the newest archived prior-round
    // per-query file (bench-out_r<N>.json). A min exceeding 3x its archived
    // value AND +0.5s absolute (sub-100ms queries triple on scheduler noise
    // alone) lands in `suspect`: a poisoned run then declares itself in the
    // JSON the driver captures. Advisory only — a genuine regression trips
    // it too, which is exactly when a human should look.
    // suspect compares CALIBRATION-NORMALIZED ratios when the archive
    // carries a calibration (round 15): prior per-query seconds are scaled
    // by (calibration_now / calibration_prior) before the 3x test, so a
    // uniformly slower box no longer reads as a fleet-wide regression (and
    // a uniformly faster one cannot mask a real 3x).
    val suspect: Seq[String] = {
      import scala.jdk.CollectionConverters._
      val dir = java.nio.file.Paths.get(".")
      val archived = java.nio.file.Files.list(dir).iterator().asScala
        .map(_.getFileName.toString)
        .flatMap { n =>
          """bench-out_r(\d+)\.json""".r.findFirstMatchIn(n)
            .map(m => (m.group(1).toInt, n))
        }.toSeq.sortBy(_._1).lastOption
      archived match {
        case None => Nil
        case Some((_, file)) =>
          try {
            val om = new com.fasterxml.jackson.databind.ObjectMapper()
            val root = om.readTree(java.nio.file.Files.readAllBytes(
              java.nio.file.Paths.get(file)))
            val prior = Option(root.get("queries")) match {
              case None => Map.empty[String, Double]
              case Some(qn) => qn.properties().asScala.iterator
                .map(e => e.getKey -> e.getValue.asDouble(-1.0)).toMap
            }
            val priorCalib = Option(root.get("calibration_sec"))
              .map(_.asDouble(-1.0)).filter(_ > 0)
            suspectOf(results, prior, priorCalib, calibration)
          } catch { case e: Exception =>
            System.err.println(s"[bench] suspect check skipped ($file): $e")
            Nil
          }
      }
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + j(v) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val errs = errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    val flk = flaky.map("\"" + _ + "\"").mkString("[", ",", "]")
    val sus = suspect.map("\"" + _ + "\"").mkString("[", ",", "]")
    val full =
      s"""{"metric":"total","value":${j(total)},"unit":"sec","calibration_sec":${j(calibration)},"queries":$qs,"errors":$errs,"flaky":$flk,"suspect":$sus,"sf":"$sfDir"}"""
    // Only SHORT summary lines go to stdout (first and last): the full
    // per-query line is multiple KB, so any tail-capture window landing
    // inside it would contain no complete metric line at all — round 8's
    // capture cut mid-line and parsed null. The full line lives in
    // bench-out.json (pointed to by queries_file), where the per-query
    // numbers are read from anyway.
    val outPath = java.nio.file.Paths.get("bench-out.json").toAbsolutePath
    // Numeric scale factor for the driver's parser ("sf0.1" -> 0.1); the
    // raw dir stays available as sf_dir. The short line also carries an
    // inline `queries` map restricted to the headline set so the
    // spec-shaped fields are all present without pushing the line past a
    // tail-capture window (the full 148-query map lives in bench-out.json).
    val sfNum = """sf([0-9]+(?:\.[0-9]+)?)""".r.findFirstMatchIn(sfDir)
      .map(_.group(1)).getOrElse("0")
    val headline = Seq("q1_agg_pricing", "q3_join_topk", "q5_join_multi",
      "q6_skew_twophase_agg", "s4_agg_pushdown", "b2_spj_join", "w2_topk_per_group",
      "k4_ice_append", "k5_ice_upsert", "k23_ice_mor_upsert", "x1_dedup_exact",
      "x2_dedup_minhash_lsh", "x16_dedup_cluster", "x27_sim_ivf",
      "x24_decontaminate", "st1_stream_window", "st9_stream_stream_join",
      // round-17 pillar additions: perceptual image dedup, the persisted
      // vector + lexical indexes, and the recall audit — the short line
      // the driver captures now tracks them round-over-round too
      "x46_image_dedup_phash", "x53_ivf_index_lake", "x54_bm25_retrieval",
      "x61_bm25_index_lake", "x62_ann_recall",
      // round-19 additions: the SQ8 quantize-and-refine funnel,
      // cross-document duplicate-span removal, and the heavy-hitters
      // sketch (batch + streaming)
      "x66_sq8_refine", "x67_span_dedup", "x68_heavy_hitters",
      "st19_stream_heavy_hitters",
      // round 18: x57 is the most expensive non-audit query (decode IS the
      // operator) — track the image-dedup pillar's cost round-over-round;
      // x63 is the hybrid-retrieval capstone over both persisted indexes
      "x57_image_dedup_canonical", "x63_hybrid_rrf",
      // round 19: x64b is the skew-crossover proof (the prefix path on the
      // corpus shape it exists for); st17 closes the retrieval loop with
      // streaming maintenance of both persisted indexes; st18 is the
      // ingest-time span screen over the x67 window set
      "x64b_exact_simjoin_skew", "st17_stream_index_maintain",
      "st18_stream_span_screen")
    val resMap = results.toMap
    val hq = headline.flatMap(n => resMap.get(n).map(v => "\"" + n + "\":" + j(v)))
      .mkString("{", ",", "}")
    val short =
      s"""{"metric":"total","value":${j(total)},"unit":"sec","calibration_sec":${j(calibration)},"queries":$hq,"nqueries":${results.size},"errors":$errs,"flaky":$flk,"suspect":$sus,"queries_file":"$outPath","sf":$sfNum,"sf_dir":"$sfDir"}"""
    println(short)
    java.nio.file.Files.write(outPath,
      (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // Clobber-proof history: every run ALSO lands under bench-history/ with
    // an epoch-ms name, so a later local/judge run can never destroy a
    // round's driver artifact (round 14's full map was lost to exactly
    // that). Untracked; prune freely.
    val histDir = java.nio.file.Paths.get("bench-history")
    java.nio.file.Files.createDirectories(histDir)
    java.nio.file.Files.write(
      histDir.resolve(s"bench-out-${System.currentTimeMillis()}.json"),
      (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(short)
    spark.stop()
  }
}
