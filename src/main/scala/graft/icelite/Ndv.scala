package graft.icelite

import org.apache.datasketches.hll.{HllSketch, Union}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{call_function, col}
import org.apache.spark.sql.types.StructType

/** Manifest-level NDV: per-file HLL sketches union losslessly, so a
  * table-level approximate distinct count is a pure metadata read at any
  * table size (Iceberg's puffin theta-sketch role; ~1.6% relative standard
  * error at lgK=12). Current scheme: version "4" (v3 + decimals via the
  * unscaled-value hash; v3 = v2 + float/double via canonical double bits);
  * older files stay serviceable for their era's types
  * (FileStats.ndvVersionOk).
  *
  * Two producers write the sketches — the DSv2 row-loop writer (in-line,
  * free) and [[sketchFiles]] (one column-pruned read-back pass, used by the
  * table-API write funnel so routine maintenance — compact, rewriteDeletes,
  * copy-on-write upsert — no longer blinds the estimate) — and ONE consumer
  * interprets them ([[estimate]], behind `IceTable.approxDistinct`, the
  * DSv2 column statistics, and the `.stats` metadata table). Both producers
  * hash under the current scheme (see [[graft.functions.NdvSketchAgg]]),
  * and the consumer refuses to union anything else.
  */
object Ndv {

  /** lgK of every NDV sketch (~1.6% RSE, <= ~2.5 KB compact per column per
    * file). One constant shared by both producers: sketches of different
    * lgK would still union, but at the coarser precision — keep them equal.
    */
  val LgK = 12

  /** Read the `graft.ndv.columns` gate from the GIVEN session (same default
    * and spelling as the DSv2 writer factory). The session is explicit —
    * `SparkSession.active` would read the wrong session's gate from a
    * background thread or a multi-session JVM, silently sketching different
    * columns than the write's own session configured.
    */
  def gateConf(spark: SparkSession): String =
    scala.util.Try(spark.conf.get("graft.ndv.columns", "*"))
      .getOrElse("*")

  /** Canonical hash bits of a floating value (introduced by the version-"3" scheme),
    * shared by BOTH producers (the DSv2 row loop and [[sketchFiles]] via
    * `NdvSketchAgg`): all NaN payloads collapse to the one canonical NaN
    * and -0.0 collapses to +0.0, because `NaN != NaN` and `-0.0 == 0.0`
    * at the bit level would otherwise make the sketch disagree with SQL
    * DISTINCT semantics (one NaN value, one zero). Floats hash through
    * their double widening (callers convert first) so a float->double
    * column widening unions consistently across file eras.
    */
  def doubleBits(v: Double): Long =
    if (java.lang.Double.isNaN(v)) 0x7ff8000000000000L
    else if (v == 0.0d) 0L // collapses -0.0
    else java.lang.Double.doubleToRawLongBits(v)

  /** Canonical hash form of a decimal's UNSCALED value at the column's
    * declared scale, shared by every producer AND the bloom probe
    * (version-"4" NDV scheme / version-"2" bloom scheme): `Left(long)`
    * when the unscaled value fits a long, `Right(bytes)` (minimal
    * two's-complement) beyond. The dispatch is by VALUE, not declared
    * precision, so a fixed-scale precision widening — including one that
    * crosses the long/byte-array physical boundary at p=18 — hashes every
    * value representable in BOTH eras identically, and sketches/filters
    * union and probe consistently across the widening. Values are always
    * stored at the declared scale (scale changes are refused by ALTER),
    * so equal logical values always share one unscaled spelling.
    */
  def decimalHash(unscaled: java.math.BigInteger): Either[Long, Array[Byte]] =
    if (unscaled.bitLength < 64) Left(unscaled.longValueExact)
    else Right(unscaled.toByteArray)

  /** Attach current-scheme NDV sketches to freshly written files: ONE
    * distributed, column-pruned pass over `files` (grouped by
    * `_metadata.file_path`, aggregated with the native `ndv_sketch`
    * Catalyst aggregate — bit-compatible with the DSv2 writer's in-line
    * sketches).
    *
    * Used by the table-API write funnel (IceTable.writeData) right after
    * the footer-stat scan: the paths that REWRITE data anyway (compact,
    * rewriteDeletes, upsert, replace) pay one extra read of the columns
    * being sketched — the price of not erasing the table's NDV coverage on
    * every routine maintenance run. `graft.ndv.columns` scopes the work
    * exactly like it scopes the DSv2 writer ("" disables, a comma list
    * narrows); with nothing eligible this is a no-op with zero jobs.
    *
    * The input files are THIS write's own output: current schema, no
    * rename eras, no partition-directory binding needed (writers store
    * partition source columns in data).
    */
  def sketchFiles(spark: SparkSession, dataSchema: StructType,
      files: Seq[FileStat], gate: String): Seq[FileStat] = {
    val wanted = FileStats.ndvGate(gate)
    val eligible = dataSchema.fields.toSeq
      .filter(f => wanted(f.name) && FileStats.ndvEligible(f))
    if (eligible.isEmpty || files.isEmpty) return files
    graft.functions.GraftFunctions.register(spark) // idempotent
    val marker = FileStats.NdvVersionKey -> FileStats.NdvVersion
    val emptySketch = java.util.Base64.getEncoder
      .encodeToString(new HllSketch(LgK).toCompactByteArray)
    val nonEmpty = files.filter(_.rows != 0L)
    val byPath: Map[String, Map[String, String]] =
      if (nonEmpty.isEmpty) Map.empty
      else {
        val aggs = eligible.map(f =>
          call_function("ndv_sketch", col(f.name)).as(f.name))
        spark.read.schema(dataSchema).parquet(nonEmpty.map(_.path): _*)
          .groupBy(col("_metadata.file_path").as("__fp"))
          .agg(aggs.head, aggs.tail: _*)
          .collect() // one row per file: bounded by this WRITE's file count
          .map { r =>
            FileStats.normPath(r.getString(0)) -> eligible.indices.map(j =>
              eligible(j).name -> java.util.Base64.getEncoder
                .encodeToString(r.getAs[Array[Byte]](j + 1))).toMap
          }.toMap
      }
    files.map { f =>
      byPath.get(FileStats.normPath(f.path)) match {
        case Some(m) => f.copy(ndv = m + marker)
        // a zero-row file has no group row; its sketches are trivially
        // empty (estimate 0) — recording them keeps the whole-table union
        // from refusing over a file that contributes nothing
        case None if f.rows == 0L =>
          f.copy(ndv = eligible.map(_.name -> emptySketch).toMap + marker)
        // a path the read spelled differently (URL-encoded partition
        // values): leave it unstamped, so the estimate refuses
        case None => f
      }
    }
  }

  /** Table-level approximate distinct count of logical column `col` over
    * `files`, answered from the manifest alone (zero data IO).
    *
    * Per file, the sketch is looked up under the file's ERA-specific
    * physical name (renames ledger — a file written before `RENAME x TO y`
    * carries its sketch under `x`), and a file whose era predates the
    * column's ADDITION (addedColumns ledger) contributes zero by
    * construction instead of refusing. Everything else missing — no
    * sketch, wrong version marker, non-eligible column — refuses (None):
    * refusing beats undercounting. Estimates reflect WRITTEN rows:
    * outstanding MOR deletes are not subtracted (a delete cannot un-union
    * a sketch), so with delete debt this is an upper bound — puffin's
    * staleness semantics.
    */
  def estimate(meta: TableMeta, schema: StructType,
      files: Seq[FileStat], col: String): Option[Double] =
    estimate(meta.renames, meta.addedColumns, schema, files, col)
      .orElse(tableStatsEstimate(meta, schema, col))

  /** Table-level statistics fallback ([[TableStatsEntry]], written by
    * `compute_table_stats`): serves when the per-file union refuses —
    * legacy files with no sketches, gate-scoped-out columns, imported
    * partition columns that live only in directory names. Snapshot-scoped:
    * the entry answers ONLY while its snapshot is still current (any later
    * commit makes this refuse again — stats that no longer describe the
    * table are not served), and the same scheme-version gate as the
    * per-file path applies. Whole-TABLE consumers only (`.stats`,
    * `approxDistinct`): the DSv2 scan's CBO column statistics deliberately
    * never fall back here, because they estimate over the PLANNED file
    * subset and a whole-table count is wrong once pruning dropped files.
    */
  def tableStatsEstimate(meta: TableMeta, schema: StructType,
      col: String): Option[Double] = {
    val field = schema.fields.find(_.name == col)
    if (!field.exists(FileStats.ndvEligible)) return None
    meta.tableStats.find(_.snapshotId == meta.currentSnapshotId).flatMap { e =>
      if (!FileStats.ndvVersionOk(field.get.dataType,
          e.sketches.get(FileStats.NdvVersionKey))) None
      else e.sketches.get(col)
        .flatMap(s => scala.util.Try(
          java.util.Base64.getDecoder.decode(s)).toOption)
        .map(b => HllSketch.heapify(b).getEstimate)
    }
  }

  /** Ledger-level form of [[estimate]] for callers that hold the scan's
    * captured ledgers rather than a full TableMeta (the DSv2 scan's column
    * statistics).
    */
  def estimate(renames: Seq[ColumnRename], addedColumns: Seq[ColumnAdd],
      schema: StructType, files: Seq[FileStat], col: String): Option[Double] = {
    // nonexistent and non-eligible columns refuse CONSISTENTLY, including
    // on empty tables — Some(0.0) must mean "sketchable column, zero
    // rows", never "we didn't check"
    val field = schema.fields.find(_.name == col)
    if (!field.exists(FileStats.ndvEligible)) return None
    val colType = field.get.dataType
    if (files.isEmpty) return Some(0.0)
    val union = new Union(LgK)
    files.foreach { f =>
      val era = f.eraOrPath
      val phys = Renames.physicalName(renames, col, era)
      // column added after this file's era: the file physically lacks it,
      // every row reads NULL — zero distinct values, by metadata proof
      // (`a.name == phys` covers add-then-rename: phys IS the add-time name
      // for pre-add eras; `== col` covers a plain add)
      val preAdd = addedColumns.exists(a =>
        a.cutoffSnapshotId >= era && (a.name == phys || a.name == col))
      if (!preAdd) {
        // sketches hashed under a different scheme must not union (shared
        // values would double-count) — an absent or incompatible version
        // marker refuses the whole estimate. Older markers stay
        // serviceable for their era's types (each scheme is additive);
        // only the types a scheme ADDED demand it (ndvVersionOk).
        if (!FileStats.ndvVersionOk(colType, f.ndv.get(FileStats.NdvVersionKey)))
          return None
        f.ndvSketch(phys) match {
          case Some(bytes) => union.update(HllSketch.heapify(bytes))
          case None => return None
        }
      }
    }
    Some(union.getResult.getEstimate)
  }

  /** Null-count of `col` over `files` from manifest footer stats, era-aware
    * like [[estimate]]; None when any file lacks the stat. Pre-add files
    * contribute their full row count (every row reads NULL).
    */
  def nullCount(renames: Seq[ColumnRename], addedColumns: Seq[ColumnAdd],
      files: Seq[FileStat], col: String): Option[Long] = {
    var total = 0L
    files.foreach { f =>
      val era = f.eraOrPath
      val phys = Renames.physicalName(renames, col, era)
      val preAdd = addedColumns.exists(a =>
        a.cutoffSnapshotId >= era && (a.name == phys || a.name == col))
      if (preAdd) total += f.rows
      else f.nullCount(phys) match {
        case Some(n) => total += n
        case None => return None
      }
    }
    Some(total)
  }
}
