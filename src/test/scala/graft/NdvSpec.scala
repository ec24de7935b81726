package graft

import org.apache.spark.sql.functions._
import graft.icelite.IceCatalog

/** Writer-recorded per-file HLL NDV sketches (FileStat.ndv) and the
  * manifest-only table-level estimate (IceTable.approxDistinct).
  */
class NdvSpec extends SparkSpec {

  test("approxDistinct answers from manifests within the HLL bound, with zero data IO") {
    val wh = scratch("ndv")
    val cat = new IceCatalog(spark, wh)
    import spark.implicits._
    val df = (1L to 5000L).map(i => (i, i % 97, s"u${i % 613}", s"t${i % 7}"))
      .toDF("id", "grp", "user", "kind")
    cat.createTable("lake", "t", df.schema)
    spark.conf.set("spark.sql.catalog.ice_ndv", "graft.sources.v2.IceLiteCatalog")
    spark.conf.set("spark.sql.catalog.ice_ndv.warehouse", wh)
    // two appends through the sketching DSv2 writer: sketches must UNION
    // across files (5000 ids split over two commits)
    df.filter(col("id") <= 2500).writeTo("ice_ndv.lake.t").append()
    df.filter(col("id") > 2500).writeTo("ice_ndv.lake.t").append()
    val tbl = cat.loadTable("lake", "t")
    val expect = Map("id" -> 5000L, "grp" -> 97L, "user" -> 613L, "kind" -> 7L)
    expect.foreach { case (c, exact) =>
      val est = tbl.approxDistinct(c).getOrElse(fail(s"no sketch for $c"))
      assert(math.abs(est - exact) <= math.max(1.0, exact * 0.05),
        s"$c: estimate $est vs exact $exact breaches the 5% bound")
    }
    // the zero-data-IO proof: physically DELETE every data file — the
    // estimates must still answer, unchanged, from the manifest alone
    val before = expect.keys.map(c => c -> tbl.approxDistinct(c).get).toMap
    val dataDir = new org.apache.hadoop.fs.Path(s"$wh/lake/t/data")
    val fs = dataDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(dataDir, true)
    var deleted = 0
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) {
        fs.delete(f.getPath, false); deleted += 1
      }
    }
    assert(deleted > 0, "fixture must have had data files to delete")
    val t2 = cat.loadTable("lake", "t")
    expect.keys.foreach { c =>
      assert(t2.approxDistinct(c).contains(before(c)),
        s"$c estimate must survive data-file deletion (manifest-only read)")
    }
  }

  test("approxDistinct refuses on sketchless files and non-sketch columns; empty table is 0") {
    val wh = scratch("ndv-refuse")
    val cat = new IceCatalog(spark, wh)
    import spark.implicits._
    val df = Seq((1L, 2.5, true), (2L, 3.5, false)).toDF("id", "v", "flag")
    val tbl = cat.createTable("lake", "t", df.schema)
    assert(tbl.approxDistinct("id").contains(0.0), "empty table estimates 0")
    // refusal is CONSISTENT: nonexistent and non-sketchable columns refuse
    // on empty tables too — Some(0.0) means "sketchable, zero rows"
    assert(tbl.approxDistinct("nope").isEmpty, "unknown column refuses")
    assert(tbl.approxDistinct("v").contains(0.0),
      "double is v3-eligible: zero rows estimates 0, not a refusal")
    assert(tbl.approxDistinct("flag").isEmpty,
      "boolean refuses even when empty (not sketchable)")
    // a file with NO sketch (gate disabled during its write) must refuse
    // the whole-table estimate, not undercount
    spark.conf.set("graft.ndv.columns", "")
    try tbl.append(df)
    finally spark.conf.unset("graft.ndv.columns")
    assert(tbl.approxDistinct("id").isEmpty,
      "a visible file without a sketch must refuse the estimate")
    // doubles sketch through the DSv2 writer (v3); booleans never do
    val wh2 = scratch("ndv-refuse2")
    val cat2 = new IceCatalog(spark, wh2)
    cat2.createTable("lake", "t", df.schema)
    spark.conf.set("spark.sql.catalog.ice_ndv2", "graft.sources.v2.IceLiteCatalog")
    spark.conf.set("spark.sql.catalog.ice_ndv2.warehouse", wh2)
    df.writeTo("ice_ndv2.lake.t").append()
    val t2 = cat2.loadTable("lake", "t")
    assert(t2.approxDistinct("id").isDefined, "long column sketches")
    assert(t2.approxDistinct("v").exists(e => math.abs(e - 2.0) < 0.5),
      "double column sketches under v3")
    assert(t2.approxDistinct("flag").isEmpty, "boolean column has no sketch")
  }

  test("v3: double/float sketch with canonical NaN and zero; both producers agree") {
    import spark.implicits._
    val wh = scratch("ndv-v3")
    val cat = new IceCatalog(spark, wh)
    // d: {1.5, 2.5, NaN, -0.0, 0.0} -> 4 distinct under SQL semantics
    // (one NaN, one zero); f mirrors it in float
    val rows = Seq(
      (1L, 1.5d, 1.0f), (2L, 2.5d, -0.0f), (3L, Double.NaN, 0.0f),
      (4L, -0.0d, Float.NaN), (5L, 0.0d, 3.5f), (6L, 1.5d, 1.0f))
    val df = rows.toDF("id", "d", "f")
    cat.createTable("lake", "t", df.schema)
    spark.conf.set("spark.sql.catalog.ice_ndv3", "graft.sources.v2.IceLiteCatalog")
    spark.conf.set("spark.sql.catalog.ice_ndv3.warehouse", wh)
    // half through the DSv2 row-loop writer, half through the table-API
    // funnel (read-back sketcher): the two producers must hash
    // bit-identically or the union inflates
    df.filter(col("id") <= 3).writeTo("ice_ndv3.lake.t").append()
    cat.loadTable("lake", "t").append(df.filter(col("id") > 3))
    val tbl = cat.loadTable("lake", "t")
    val d = tbl.approxDistinct("d").getOrElse(fail("no sketch for d"))
    val f = tbl.approxDistinct("f").getOrElse(fail("no sketch for f"))
    assert(math.abs(d - 4.0) < 0.5, s"d: {1.5, 2.5, NaN, 0.0} = 4, got $d")
    assert(math.abs(f - 4.0) < 0.5, s"f: {1.0, 0.0, NaN, 3.5} = 4, got $f")
  }

  test("NDV version compatibility: v2 markers serve v2-era types, never floats") {
    import org.apache.spark.sql.types._
    import graft.icelite.{FileStat, FileStats, Ndv}
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("d", DoubleType)))
    def b64(values: Seq[Long]): String = {
      val sk = new org.apache.datasketches.hll.HllSketch(Ndv.LgK)
      values.foreach(sk.update)
      java.util.Base64.getEncoder.encodeToString(sk.toCompactByteArray)
    }
    def stat(marker: String) = FileStat("file:/w/t/data/snap-00001/a.parquet",
      rows = 3, bytes = 100,
      ndv = Map("id" -> b64(Seq(1L, 2L, 3L)),
        "d" -> b64(Seq(10L, 20L)), FileStats.NdvVersionKey -> marker))
    // a v2 file keeps serving the v2-era types — the marker bump must not
    // erase a fleet's existing coverage...
    val v2 = Seq(stat(FileStats.NdvVersionV2))
    assert(Ndv.estimate(Nil, Nil, schema, v2, "id").exists(e =>
      math.abs(e - 3.0) < 0.5), "v2 file must still serve a long estimate")
    // ...but can never serve a float/double estimate: v2 writers were
    // float-blind, so any double sketch under a v2 marker is foreign
    assert(Ndv.estimate(Nil, Nil, schema, v2, "d").isEmpty,
      "v2 marker must refuse double estimates")
    // unknown/older schemes refuse everything
    val v1 = Seq(stat("1"))
    assert(Ndv.estimate(Nil, Nil, schema, v1, "id").isEmpty,
      "unknown marker refuses")
    // v3 serves both
    val v3 = Seq(stat(FileStats.NdvVersion))
    assert(Ndv.estimate(Nil, Nil, schema, v3, "id").isDefined &&
      Ndv.estimate(Nil, Nil, schema, v3, "d").isDefined,
      "v3 marker serves both type families")
  }

  test("empty strings count as a distinct value; graft.ndv.columns scopes sketching") {
    import spark.implicits._
    // datasketches update(String) skips "" — the writer's sentinel prefix
    // must keep it countable
    val wh = scratch("ndv-empty")
    val cat = new IceCatalog(spark, wh)
    val df = Seq((1L, ""), (2L, "active"), (3L, ""), (4L, "closed"))
      .toDF("id", "status")
    cat.createTable("lake", "t", df.schema)
    spark.conf.set("spark.sql.catalog.ice_ndve", "graft.sources.v2.IceLiteCatalog")
    spark.conf.set("spark.sql.catalog.ice_ndve.warehouse", wh)
    df.writeTo("ice_ndve.lake.t").append()
    val est = cat.loadTable("lake", "t").approxDistinct("status").get
    assert(math.abs(est - 3.0) < 0.5,
      s"status has 3 distinct values including '' — estimate was $est")
    // column gate: only the listed column is sketched
    val wh2 = scratch("ndv-gate")
    val cat2 = new IceCatalog(spark, wh2)
    cat2.createTable("lake", "t", df.schema)
    spark.conf.set("spark.sql.catalog.ice_ndvg", "graft.sources.v2.IceLiteCatalog")
    spark.conf.set("spark.sql.catalog.ice_ndvg.warehouse", wh2)
    spark.conf.set("graft.ndv.columns", "id")
    try df.writeTo("ice_ndvg.lake.t").append()
    finally spark.conf.unset("graft.ndv.columns")
    val t2 = cat2.loadTable("lake", "t")
    assert(t2.approxDistinct("id").exists(e => math.abs(e - 4.0) < 0.5),
      "gated-in column still sketches")
    assert(t2.approxDistinct("status").isEmpty,
      "gated-out column refuses (no sketch recorded)")
  }

  test("NDV estimates survive maintenance: compact, rewriteDeletes, COW upsert, table-API append") {
    val wh = scratch("ndv-maint")
    val cat = new IceCatalog(spark, wh)
    import spark.implicits._
    val df = (1L to 4000L).map(i => (i, i % 89, s"u${i % 401}"))
      .toDF("id", "grp", "user")
    cat.createTable("lake", "t", df.schema)
    spark.conf.set("spark.sql.catalog.ice_ndvm", "graft.sources.v2.IceLiteCatalog")
    spark.conf.set("spark.sql.catalog.ice_ndvm.warehouse", wh)
    df.writeTo("ice_ndvm.lake.t").append()
    val tbl = cat.loadTable("lake", "t")
    def assertClose(c: String, exact: Long): Unit = {
      val est = tbl.approxDistinct(c).getOrElse(fail(s"no estimate for $c"))
      assert(math.abs(est - exact) <= math.max(1.0, exact * 0.05),
        s"$c: estimate $est vs exact $exact breaches the 5% bound")
    }
    // ONE ROUTINE COMPACTION must not blind the table (the round-10
    // weakness): the read-back sketcher re-records sketches for the
    // rewritten files
    tbl.compact(targetFiles = 2)
    assertClose("id", 4000L); assertClose("grp", 89L); assertClose("user", 401L)
    // copy-on-write upsert: rewritten candidate files sketch too, and the
    // union reflects the POST-upsert values
    val up = (3990L to 4200L).map(i => (i, -1L, "fresh")).toDF("id", "grp", "user")
    tbl.upsert(up, Seq("id"))
    assertClose("id", 4200L)
    assertClose("user", 402L) // 401 originals + "fresh"
    // MOR delete then rewriteDeletes: the fold rewrites affected files and
    // the estimate still answers (written-rows upper-bound semantics)
    tbl.deleteWhereMor(Seq(org.apache.spark.sql.sources.LessThan("id", 5L)))
    tbl.rewriteDeletes()
    assert(tbl.approxDistinct("grp").isDefined,
      "estimate must survive a position-delete fold")
    // plain table-API append sketches through the same funnel
    tbl.append(Seq((9001L, 7L, "api")).toDF("id", "grp", "user"))
    assertClose("id", 4197L) // 4196 survivors + the appended id
  }

  test("NDV resolves era physical names after RENAME and zero-contributes pre-ADD-COLUMN files") {
    val wh = scratch("ndv-ddl")
    val cat = new IceCatalog(spark, wh)
    import spark.implicits._
    val df = (1L to 1000L).map(i => (i, s"s${i % 37}")).toDF("id", "tag")
    cat.createTable("lake", "t", df.schema)
    spark.conf.set("spark.sql.catalog.ice_ndvd", "graft.sources.v2.IceLiteCatalog")
    spark.conf.set("spark.sql.catalog.ice_ndvd.warehouse", wh)
    df.writeTo("ice_ndvd.lake.t").append()
    // RENAME: the old files' sketches are keyed under the OLD name — the
    // estimate must resolve the file-era physical name, not refuse
    spark.sql("ALTER TABLE ice_ndvd.lake.t RENAME COLUMN tag TO label")
    val t1 = cat.loadTable("lake", "t")
    val est = t1.approxDistinct("label").getOrElse(fail("rename blinded the NDV"))
    assert(math.abs(est - 37.0) <= 2.0, s"label estimate $est vs exact 37")
    // ADD COLUMN: pre-add files physically lack the column — zero
    // contribution (NOT a refusal); post-add files sketch normally
    spark.sql("ALTER TABLE ice_ndvd.lake.t ADD COLUMN note STRING")
    val t2 = cat.loadTable("lake", "t")
    assert(t2.approxDistinct("note").exists(e => math.abs(e) < 0.5),
      "all files pre-add: distinct notes = 0")
    (1L to 50L).map(i => (5000L + i, s"x$i", s"n${i % 11}"))
      .toDF("id", "label", "note").writeTo("ice_ndvd.lake.t").append()
    val t3 = cat.loadTable("lake", "t")
    val estNote = t3.approxDistinct("note").getOrElse(fail("post-add append must estimate"))
    assert(math.abs(estNote - 11.0) <= 1.0, s"note estimate $estNote vs exact 11")
    // renamed column still estimates across both eras (old sketches under
    // 'tag', new under 'label')
    val estLabel = t3.approxDistinct("label").getOrElse(fail("mixed-era label refused"))
    assert(math.abs(estLabel - 87.0) <= 5.0, s"label estimate $estLabel vs exact 87")
  }

  test("CBO column statistics flow from manifest sketches into the optimized plan") {
    val wh = scratch("ndv-cbo")
    val cat = new IceCatalog(spark, wh)
    import spark.implicits._
    val df = (1L to 1000L).map(i =>
      (i, if (i % 10 == 0) null else s"u${i % 41}")).toDF("id", "user")
    cat.createTable("lake", "t", df.schema)
    spark.conf.set("spark.sql.catalog.ice_cbo", "graft.sources.v2.IceLiteCatalog")
    spark.conf.set("spark.sql.catalog.ice_cbo.warehouse", wh)
    df.writeTo("ice_cbo.lake.t").append()
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      val q = spark.table("ice_cbo.lake.t")
      val rel = q.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
      }.headOption.getOrElse(fail("no DSv2 scan relation in the plan"))
      val attrStats = rel.stats.attributeStats
      assert(attrStats.nonEmpty, "CBO must see manifest column statistics")
      val idStat = attrStats.toSeq.collectFirst {
        case (a, s) if a.name == "id" => s
      }.getOrElse(fail("no column stat for id"))
      assert(idStat.distinctCount.exists(d =>
        math.abs(d.toDouble - 1000.0) <= 50.0),
        s"id distinctCount ${idStat.distinctCount} should be ~1000 (sketch union)")
      assert(idStat.nullCount.contains(BigInt(0)), "id has no nulls")
      assert(idStat.min.contains(1L) && idStat.max.contains(1000L),
        s"id bounds ${idStat.min}/${idStat.max} should fold the manifest min/max")
      val userStat = attrStats.toSeq.collectFirst {
        case (a, s) if a.name == "user" => s
      }.getOrElse(fail("no column stat for user"))
      assert(userStat.distinctCount.exists(d => math.abs(d.toDouble - 41.0) <= 3.0))
      assert(userStat.nullCount.contains(BigInt(100)),
        s"user nullCount ${userStat.nullCount} should sum the footer stats (100)")
      // every ranged type's bounds equal Spark's own min/max over the same
      // rows, as Catalyst values (epoch days, micros, Decimal)
      val typed = spark.range(1, 301).selectExpr(
        "CAST(id * 7 % 251 - 100 AS INT) AS i",
        "id * 1000003 - 5 AS l",
        "CAST(id AS DOUBLE) / 8 - 3 AS d",
        "CAST(id * 1.25 - 7 AS DECIMAL(12,2)) AS dec",
        "date_from_unix_date(CAST(18000 + id % 40 AS INT)) AS dt",
        "timestamp_micros(1600000000000000 + id * 123457) AS ts")
      cat.createTable("lake", "typed", typed.schema)
      typed.writeTo("ice_cbo.lake.typed").append()
      val typedRel = spark.table("ice_cbo.lake.typed").queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
      }.head
      val exact = typed.select(typed.columns.toSeq.flatMap(c => Seq(min(c), max(c))): _*)
        .queryExecution.executedPlan.executeCollect().head
      typed.schema.fields.zipWithIndex.foreach { case (f, i) =>
        val st = typedRel.stats.attributeStats.toSeq.collectFirst {
          case (a, s) if a.name == f.name => s
        }.getOrElse(fail(s"no column stat for ${f.name}"))
        val (lo, hi) = (exact.get(2 * i, f.dataType), exact.get(2 * i + 1, f.dataType))
        assert(st.min.contains(lo) && st.max.contains(hi),
          s"${f.name} bounds ${st.min}/${st.max} should equal Spark's min/max $lo/$hi")
      }
      // CBO off: the per-column walk is skipped entirely (planning cost
      // gate) — attribute stats stay empty
      spark.conf.set("spark.sql.cbo.enabled", "false")
      val rel2 = spark.table("ice_cbo.lake.t").queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
      }.head
      assert(rel2.stats.attributeStats.isEmpty)
    } finally spark.conf.unset("spark.sql.cbo.enabled")
  }

  test(".stats metadata table serves NDV + null counts through SQL") {
    val wh = scratch("ndv-sqlstats")
    val cat = new IceCatalog(spark, wh)
    import spark.implicits._
    val df = Seq((1L, 2.5, "a"), (2L, 3.5, null), (3L, 4.5, "a"))
      .toDF("id", "v", "tag")
    cat.createTable("lake", "t", df.schema)
    spark.conf.set("spark.sql.catalog.ice_sst", "graft.sources.v2.IceLiteCatalog")
    spark.conf.set("spark.sql.catalog.ice_sst.warehouse", wh)
    df.writeTo("ice_sst.lake.t").append()
    val rows = spark.sql("SELECT * FROM ice_sst.lake.t.stats ORDER BY column")
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(2)) None else Some(r.getLong(2)),
          if (r.isNullAt(3)) None else Some(r.getLong(3)),
          r.getBoolean(4))).toMap
    assert(rows.keySet == Set("id", "v", "tag"))
    assert(rows("id")._1.contains(3L) && rows("id")._3, "id: ndv 3, sketched")
    assert(rows("v")._1.contains(3L) && rows("v")._3,
      "double: sketched under v3, ndv 3")
    assert(rows("tag")._1.contains(1L), "tag: one distinct non-null value")
    assert(rows("tag")._2.contains(1L), "tag: one null")
  }

  test("a column literally named __ndv_version never collides with the version marker") {
    val wh = scratch("ndv-reserved")
    val cat = new IceCatalog(spark, wh)
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("id", "__ndv_version")
    cat.createTable("lake", "t", df.schema)
    spark.conf.set("spark.sql.catalog.ice_ndvr", "graft.sources.v2.IceLiteCatalog")
    spark.conf.set("spark.sql.catalog.ice_ndvr.warehouse", wh)
    df.writeTo("ice_ndvr.lake.t").append()
    val tbl = cat.loadTable("lake", "t")
    // the reserved name is excluded from sketching everywhere: it refuses
    // loudly instead of silently serving the marker's slot
    assert(tbl.approxDistinct("__ndv_version").isEmpty,
      "reserved marker name must refuse, not estimate")
    // ...and its presence must not poison OTHER columns' sketches
    assert(tbl.approxDistinct("id").exists(e => math.abs(e - 3.0) < 0.5),
      "sibling columns sketch normally")
    // maintenance read-back honors the exclusion the same way
    tbl.compact()
    assert(tbl.approxDistinct("__ndv_version").isEmpty)
    assert(tbl.approxDistinct("id").exists(e => math.abs(e - 3.0) < 0.5))
  }

  test("v4: decimals sketch via the unscaled-value hash; both producers agree") {
    import spark.implicits._
    val wh = scratch("ndv-v4")
    val cat = new IceCatalog(spark, wh)
    // amt (p<=18, long-backed) and big (p>18, byte-backed): 4 distinct
    // each; `big` straddles the long/byte boundary so both Ndv.decimalHash
    // arms are exercised in one file set
    val raw = Seq(
      ("12.34", "1.50"), ("99.99", "123456789012345678901234.56"),
      ("12.34", "99999999999999999999.99"), ("0.01", "1.50"),
      ("-5.00", "-123456789012345678901234.56"), ("99.99", "0.00"))
      .zipWithIndex.map { case ((a, b), i) => (i, a, b) }
      .toDF("i", "a", "b")
    def slice(p: org.apache.spark.sql.Column) = raw.filter(p)
      .select(col("a").cast("decimal(10,2)").as("amt"),
        col("b").cast("decimal(30,2)").as("big"))
    val df = slice(lit(true))
    cat.createTable("lake", "t", df.schema)
    spark.conf.set("spark.sql.catalog.ice_ndv4", "graft.sources.v2.IceLiteCatalog")
    spark.conf.set("spark.sql.catalog.ice_ndv4.warehouse", wh)
    // half through the DSv2 row-loop writer, half through the table-API
    // funnel (read-back sketcher): the two producers must hash
    // bit-identically or the union inflates
    slice(col("i") < 3).writeTo("ice_ndv4.lake.t").append()
    cat.loadTable("lake", "t").append(slice(col("i") >= 3))
    val tbl = cat.loadTable("lake", "t")
    val amt = tbl.approxDistinct("amt").getOrElse(fail("no sketch for amt"))
    val big = tbl.approxDistinct("big").getOrElse(fail("no sketch for big"))
    assert(math.abs(amt - 4.0) < 0.5, s"amt: 4 distinct, got $amt")
    assert(math.abs(big - 5.0) < 0.5, s"big: 5 distinct, got $big")
    // the `.stats` metadata table serves the decimal NDV too
    val st = spark.table("ice_ndv4.lake.t.stats")
      .filter(col("column") === "amt").collect()(0)
    assert(st.getAs[Long]("ndv") == math.round(amt))
    // the ndv_sketch aggregate (the read-back producer) hashes decimals
    // bit-compatibly with the writer: its own estimate agrees
    graft.functions.GraftFunctions.register(spark)
    Seq("amt" -> 4.0, "big" -> 5.0).foreach { case (c, exact) =>
      val bytes = df.agg(call_function("ndv_sketch", col(c)))
        .collect()(0).getAs[Array[Byte]](0)
      val est = org.apache.datasketches.hll.HllSketch.heapify(bytes).getEstimate
      assert(math.abs(est - exact) < 0.5, s"agg $c: got $est")
    }
    // maintenance keeps decimal coverage alive (whatever producer it uses)
    tbl.compact()
    val t2 = cat.loadTable("lake", "t")
    assert(t2.approxDistinct("amt").exists(e => math.abs(e - 4.0) < 0.5) &&
      t2.approxDistinct("big").exists(e => math.abs(e - 5.0) < 0.5),
      "compaction must re-record decimal sketches")
  }

  test("NDV version matrix: decimal demands v4; v3/v2 keep their own eras") {
    import org.apache.spark.sql.types._
    import graft.icelite.{FileStat, FileStats, Ndv}
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("d", DoubleType), StructField("m", DecimalType(10, 2))))
    def b64(values: Seq[Long]): String = {
      val sk = new org.apache.datasketches.hll.HllSketch(Ndv.LgK)
      values.foreach(sk.update)
      java.util.Base64.getEncoder.encodeToString(sk.toCompactByteArray)
    }
    def stat(marker: String) = FileStat("file:/w/t/data/snap-00001/a.parquet",
      rows = 3, bytes = 100,
      ndv = Map("id" -> b64(Seq(1L, 2L, 3L)), "d" -> b64(Seq(10L, 20L)),
        "m" -> b64(Seq(1234L, 9999L)), FileStats.NdvVersionKey -> marker))
    def est(marker: String, c: String) =
      Ndv.estimate(Nil, Nil, schema, Seq(stat(marker)), c)
    // v4 serves all three type families
    assert(est(FileStats.NdvVersion, "id").isDefined &&
      est(FileStats.NdvVersion, "d").isDefined &&
      est(FileStats.NdvVersion, "m").isDefined)
    // v3 was decimal-blind: longs and doubles keep serving, decimal refuses
    assert(est(FileStats.NdvVersionV3, "id").isDefined &&
      est(FileStats.NdvVersionV3, "d").isDefined)
    assert(est(FileStats.NdvVersionV3, "m").isEmpty,
      "a v3 marker must refuse decimal estimates")
    // v2 was float- and decimal-blind
    assert(est(FileStats.NdvVersionV2, "id").isDefined)
    assert(est(FileStats.NdvVersionV2, "d").isEmpty &&
      est(FileStats.NdvVersionV2, "m").isEmpty)
    // unknown markers refuse everything
    assert(est("9", "id").isEmpty)
  }

  test("decimal sketches survive a fixed-scale precision widening") {
    import spark.implicits._
    val wh = scratch("ndv-dwide")
    val cat = new IceCatalog(spark, wh)
    val df = Seq("12.34", "99.99", "0.01").toDF("a")
      .select(col("a").cast("decimal(10,2)").as("amt"))
    cat.createTable("lake", "t", df.schema)
    spark.conf.set("spark.sql.catalog.ice_ndvw", "graft.sources.v2.IceLiteCatalog")
    spark.conf.set("spark.sql.catalog.ice_ndvw.warehouse", wh)
    df.writeTo("ice_ndvw.lake.t").append()
    // widen ACROSS the long/byte physical boundary; old files' sketches
    // hashed by VALUE, so shared values union consistently with new ones
    spark.sql("ALTER TABLE ice_ndvw.lake.t ALTER COLUMN amt TYPE DECIMAL(20,2)")
    Seq("12.34", "123456789012345678.90").toDF("a")
      .select(col("a").cast("decimal(20,2)").as("amt"))
      .writeTo("ice_ndvw.lake.t").append()
    val est = cat.loadTable("lake", "t").approxDistinct("amt")
      .getOrElse(fail("no sketch after widening"))
    // {12.34, 99.99, 0.01} U {12.34, 123456789012345678.90} = 4 distinct —
    // an inconsistent hash would count 12.34 twice (estimate 5)
    assert(math.abs(est - 4.0) < 0.5, s"expected 4 distinct, got $est")
  }

  test("compute_table_stats: serves where files refuse; strictly snapshot-scoped; live-row semantics") {
    import spark.implicits._
    val wh = scratch("ndv-analyze")
    val cat = new IceCatalog(spark, wh)
    val df = (1L to 3000L).map(i => (i, i % 53, s"u${i % 211}"))
      .toDF("id", "grp", "user")
    val tbl = cat.createTable("lake", "t", df.schema)
    // gate-off write: no per-file sketches anywhere — the gap ANALYZE closes
    spark.conf.set("graft.ndv.columns", "")
    try tbl.append(df.filter(col("id") <= 1500))
    finally spark.conf.unset("graft.ndv.columns")
    assert(tbl.approxDistinct("id").isEmpty, "sketchless files must refuse")
    // ANALYZE: one live-row scan, PURE-metadata commit — no new snapshot
    val snapsBefore = tbl.meta.snapshots.length
    val (stamped, analyzed) = tbl.computeTableStats()
    assert(analyzed.toSet == Set("id", "grp", "user"))
    assert(stamped == tbl.meta.currentSnapshotId,
      "the returned stamp must be the snapshot the entry describes")
    assert(tbl.meta.snapshots.length == snapsBefore,
      "table-level stats must not fabricate a snapshot")
    val est = tbl.approxDistinct("id")
      .getOrElse(fail("ANALYZE must serve the refused column"))
    assert(math.abs(est - 1500.0) <= 75.0, s"id estimate $est vs 1500")
    // refusal surface: unknown and non-sketchable columns
    intercept[IllegalArgumentException](tbl.computeTableStats(Seq("nope")))
    // staleness: ONE later commit and the entry must never serve again
    spark.conf.set("graft.ndv.columns", "")
    try tbl.append(df.filter(col("id") > 1500))
    finally spark.conf.unset("graft.ndv.columns")
    assert(tbl.approxDistinct("id").isEmpty,
      "a stale table-stats entry must refuse, not serve yesterday's count")
    // recompute serves the updated count; a NARROWED recompute replaces
    // the whole entry, so the un-recomputed column refuses rather than
    // serving a stale sketch under a fresh snapshot id
    tbl.computeTableStats(Seq("id"))
    val est2 = tbl.approxDistinct("id").getOrElse(fail("recompute serves"))
    assert(math.abs(est2 - 3000.0) <= 150.0, s"id estimate $est2 vs 3000")
    assert(tbl.approxDistinct("grp").isEmpty,
      "a narrowed recompute must not serve columns it did not sketch")
    // LIVE-row semantics: MOR-delete ids > 1000, recompute — the estimate
    // tracks the post-delete scan (the file union, were it present, would
    // still count written rows)
    tbl.deleteWhereMor(Seq(
      org.apache.spark.sql.sources.GreaterThan("id", 1000L)))
    assert(tbl.approxDistinct("id").isEmpty, "delete commit stales the entry")
    tbl.computeTableStats(Seq("id"))
    val est3 = tbl.approxDistinct("id").getOrElse(fail("post-delete serves"))
    assert(math.abs(est3 - 1000.0) <= 50.0,
      s"live-row estimate $est3 vs 1000 post-delete rows")
    // the SQL surface agrees: .stats serves ndv with sketched=false
    // (file coverage still absent — the flag pins the serving path)
    spark.conf.set("spark.sql.catalog.ice_ndva", "graft.sources.v2.IceLiteCatalog")
    spark.conf.set("spark.sql.catalog.ice_ndva.warehouse", wh)
    val statRows = spark.table("ice_ndva.lake.t.stats")
      .filter(col("column") === "id").collect()
    assert(statRows.length == 1 && !statRows(0).isNullAt(2) &&
      !statRows(0).getBoolean(4),
      s".stats must serve table-level ndv with sketched=false: ${statRows.mkString}")
    // ledger retention: entries only for LIVE snapshots (a rollback can
    // re-serve them), and expiry prunes them with their snapshots — the
    // ledger is bounded by snapshot retention, never by analyze count
    assert(tbl.meta.tableStats.map(_.snapshotId).toSet
      .subsetOf(tbl.meta.snapshots.map(_.snapshotId).toSet),
      s"stats ledger must only carry live-snapshot entries")
    tbl.expireSnapshotsOlderThan(System.currentTimeMillis() + 60000,
      retainLast = 1)
    assert(tbl.meta.tableStats.map(_.snapshotId).toSet
      .subsetOf(tbl.meta.snapshots.map(_.snapshotId).toSet),
      "expiry must prune stats entries with their snapshots")
    // the current snapshot is expiry-immune, so its entry survives and
    // still serves
    assert(tbl.approxDistinct("id").isDefined,
      "the current snapshot's entry must survive expiry")
  }
}
