package graft.sources.v2

import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.icelite.IceCatalog

/** SQL row-level commands on tables declaring
  * `write.<command>.mode = 'merge-on-read'` must take the DELTA path:
  * position-delete files plus insert files, with NO pre-existing data file
  * rewritten — the 1-row-UPDATE-against-100 TB shape. Copy-on-write stays
  * the default for tables without the property (k10/k11/k12 cover it).
  */
class DeltaRowLevelSpec extends SparkSpec {
  import spark.implicits._

  private def morTable(tag: String): (String, graft.icelite.IceTable) = {
    val wh = scratch(tag)
    spark.conf.set(s"spark.sql.catalog.icedelta_$tag", classOf[IceLiteCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.icedelta_$tag.warehouse", wh)
    spark.sql(
      s"""CREATE TABLE icedelta_$tag.lake.t (k BIGINT, v STRING) TBLPROPERTIES (
         |  'write.delete.mode' = 'merge-on-read',
         |  'write.update.mode' = 'merge-on-read',
         |  'write.merge.mode' = 'merge-on-read')""".stripMargin)
    val cat = new IceCatalog(spark, wh)
    val tbl = cat.loadTable("lake", "t")
    tbl.append((1L to 100L).map(i => (i, s"v$i")).toDF("k", "v")
      .repartitionByRange(2, col("k")))
    (s"icedelta_$tag.lake.t", tbl)
  }

  private def dataPaths(tbl: graft.icelite.IceTable): Set[String] =
    tbl.visibleFiles(tbl.meta.currentSnapshot.get).map(_.path).toSet

  test("MOR UPDATE: delete+reinsert delta, no data file rewritten") {
    val (ident, tbl) = morTable("morup")
    val before = dataPaths(tbl)
    spark.sql(s"UPDATE $ident SET v = 'UP' WHERE k = 42")
    val snap = tbl.meta.currentSnapshot.get
    assert(before.subsetOf(dataPaths(tbl)),
      "MOR UPDATE must not rewrite any pre-existing data file")
    val dels = tbl.deletesOf(snap).filterNot(_.isEquality)
    assert(dels.map(_.rows).sum == 1, s"exactly one position deleted: $dels")
    assert(snap.addedFileCount == 1,
      "exactly one reinsert file added")
    assert(spark.sql(s"SELECT v FROM $ident WHERE k = 42").collect()
      .map(_.getString(0)).toSeq == Seq("UP"))
    assert(spark.sql(s"SELECT count(*) FROM $ident").collect()(0).getLong(0) == 100)
  }

  test("MOR DELETE: position-delete only, no data file touched") {
    val (ident, tbl) = morTable("mordel")
    val before = dataPaths(tbl)
    spark.sql(s"DELETE FROM $ident WHERE k IN (7, 9) AND v LIKE 'v%'")
    val snap = tbl.meta.currentSnapshot.get
    assert(dataPaths(tbl) == before,
      "MOR DELETE must add and rewrite no data files")
    assert(tbl.deletesOf(snap).map(_.rows).sum == 2)
    assert(spark.sql(s"SELECT count(*) FROM $ident").collect()(0).getLong(0) == 98)
    assert(spark.sql(s"SELECT count(*) FROM $ident WHERE k IN (7, 9)")
      .collect()(0).getLong(0) == 0)
  }

  test("MOR MERGE INTO: matched update + unmatched insert as one delta snapshot") {
    val (ident, tbl) = morTable("mormrg")
    val before = dataPaths(tbl)
    (101L to 105L).map(i => (i, "NEW")).toDF("k", "v")
      .createOrReplaceTempView("mor_src")
    spark.sql(
      s"""MERGE INTO $ident t USING mor_src s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(before.subsetOf(dataPaths(tbl)),
      "MOR MERGE must not rewrite any pre-existing data file")
    assert(spark.sql(s"SELECT count(*) FROM $ident").collect()(0).getLong(0) == 105)
    assert(spark.sql(s"SELECT count(*) FROM $ident WHERE v = 'NEW'")
      .collect()(0).getLong(0) == 5)
    // a second MERGE that hits existing rows: delete+reinsert through state
    (50L to 52L).map(i => (i, "UP2")).toDF("k", "v")
      .createOrReplaceTempView("mor_src2")
    spark.sql(
      s"""MERGE INTO $ident t USING mor_src2 s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET v = s.v""".stripMargin)
    assert(spark.sql(s"SELECT v FROM $ident WHERE k = 51").collect()
      .map(_.getString(0)).toSeq == Seq("UP2"))
    assert(spark.sql(s"SELECT count(*) FROM $ident").collect()(0).getLong(0) == 105)
    // folding the accumulated debt restores exact totals and columnar reads
    tbl.rewriteDeletes()
    assert(tbl.deletesOf(tbl.meta.currentSnapshot.get).isEmpty)
    assert(spark.sql(s"SELECT count(*) FROM $ident").collect()(0).getLong(0) == 105)
  }

  test("MOR three-clause MERGE: NOT MATCHED BY SOURCE deletes as delta too") {
    val (ident, tbl) = morTable("mormbs")
    val before = dataPaths(tbl)
    // source keeps 60..110: rows 1..59 fall to the BY SOURCE delete clause,
    // 60..100 update, 101..110 insert — the full mirror-the-source sync
    (60L to 110L).map(i => (i, s"m$i")).toDF("k", "v")
      .createOrReplaceTempView("mbs_src")
    spark.sql(
      s"""MERGE INTO $ident t USING mbs_src s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED THEN INSERT *
         |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    assert(before.subsetOf(dataPaths(tbl)),
      "MOR three-clause MERGE must not rewrite any pre-existing data file")
    val got = spark.sql(s"SELECT k, v FROM $ident ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == (60L to 110L).map(i => (i, s"m$i")),
      s"target must exactly mirror the source: ${got.take(5)}...")
  }
}
