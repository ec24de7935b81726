package graft.icelite

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.DataType

/** What the upsert key screen knows about a source's key columns, all from
  * ONE Spark job over `src.select(keys)`:
  *
  *  - `mins` / `maxs`: per-key minimum and maximum over the non-null values,
  *    under Spark's own type ordering (the one `min`/`max` use: NaN is
  *    largest, collations are respected); null for an all-null or empty
  *    column;
  *  - `hasNull`: per-key null presence;
  *  - `tupleCount`: the exact number of DISTINCT key tuples (tuples with
  *    nulls included), and `values`: per key, its distinct non-null values
  *    — both only when that number is at most `cap`; None past the cap or
  *    with `cap <= 0`.
  *
  * Values are Spark's external types, the ones `collect()` returns (String,
  * java.math.BigDecimal, Date/LocalDate, …). Float and double values are
  * normalized like a grouping key (-0.0 -> 0.0, one NaN), so tuple
  * distinctness matches `distinct()`; string distinctness is by bytes,
  * which under a non-binary collation can only count MORE tuples.
  */
private[graft] final case class KeySummary(
    mins: Seq[Any], maxs: Seq[Any], hasNull: Seq[Boolean],
    tupleCount: Option[Long], values: Option[Seq[Seq[Any]]])

private[graft] object KeySummary {

  val JobDescription = "icelite upsert key screen"

  /** Summarize `src`'s `keys` in one job. Each task folds its partition
    * into a [[Part]]; the Spark driver merges the parts as tasks finish,
    * so it holds about `cap` tuples at a time, never the source.
    */
  def of(src: DataFrame, keys: Seq[String], cap: Int): KeySummary = {
    val df = src.select(keys.map(col): _*)
    val types = df.schema.fields.map(_.dataType)
    val sc = df.sparkSession.sparkContext
    val prevDesc = sc.getLocalProperty("spark.job.description")
    var acc = Part.empty(types.length, cap)
    sc.setJobDescription(JobDescription)
    try {
      val qe = df.queryExecution
      SQLExecution.withNewExecutionId(qe, Some(JobDescription)) {
        sc.runJob(qe.toRdd, (rows: Iterator[InternalRow]) => Part.of(rows, types, cap),
          (_: Int, p: Part) => acc = acc.merge(p, types, cap))
      }
    } finally sc.setJobDescription(prevDesc)

    val toScala = types.map(CatalystTypeConverters.createToScalaConverter)
    val n = types.length
    val set = Option(acc.set)
    KeySummary(
      (0 until n).map(i => toScala(i)(acc.lo(i))),
      (0 until n).map(i => toScala(i)(acc.hi(i))),
      acc.nulls.toSeq,
      set.map(_.size.toLong),
      set.map(tuples => (0 until n).map { i =>
        // Java equality: one (normalized) NaN is one value
        val seen = new java.util.HashSet[Any]()
        tuples.iterator.filterNot(_.isNullAt(i)).map(_.get(i, types(i)))
          .filter(seen.add).map(toScala(i)).toVector
      }))
  }

  /** One partition's (or a merge of several partitions') summary, in
    * Catalyst values. `set` holds each distinct key tuple as an
    * [[UnsafeRow]] (byte equality) and is null once it passed `cap`.
    */
  private final class Part(val lo: Array[Any], val hi: Array[Any],
      val nulls: Array[Boolean], var set: mutable.HashSet[UnsafeRow])
      extends Serializable {

    def merge(o: Part, types: Array[DataType], cap: Int): Part = {
      types.indices.foreach { i =>
        val ord = PhysicalDataType.ordering(types(i))
        if (o.lo(i) != null && (lo(i) == null || ord.lt(o.lo(i), lo(i)))) lo(i) = o.lo(i)
        if (o.hi(i) != null && (hi(i) == null || ord.gt(o.hi(i), hi(i)))) hi(i) = o.hi(i)
        nulls(i) |= o.nulls(i)
      }
      if (set != null) {
        if (o.set == null) set = null
        else {
          set ++= o.set
          if (set.size > cap) set = null
        }
      }
      this
    }
  }

  private object Part {
    def empty(n: Int, cap: Int): Part =
      new Part(new Array[Any](n), new Array[Any](n), new Array[Boolean](n),
        if (cap > 0) mutable.HashSet.empty[UnsafeRow] else null)

    def of(rows: Iterator[InternalRow], types: Array[DataType], cap: Int): Part = {
      val n = types.length
      val p = empty(n, cap)
      val ords = types.map(PhysicalDataType.ordering)
      val norm = new GenericInternalRow(n)
      val toUnsafe = UnsafeProjection.create(types)
      rows.foreach { row =>
        var i = 0
        while (i < n) {
          // a value may point into the reused input row: copy what is kept
          val v = normalize(row.get(i, types(i)))
          norm.update(i, v)
          if (v == null) p.nulls(i) = true
          else {
            if (p.lo(i) == null || ords(i).lt(v, p.lo(i))) p.lo(i) = InternalRow.copyValue(v)
            if (p.hi(i) == null || ords(i).gt(v, p.hi(i))) p.hi(i) = InternalRow.copyValue(v)
          }
          i += 1
        }
        if (p.set != null) {
          val u = toUnsafe(norm)
          if (!p.set.contains(u)) {
            p.set += u.copy()
            if (p.set.size > cap) p.set = null
          }
        }
      }
      p
    }

    /** Spark's grouping-key float normalization (NormalizeFloatingNumbers). */
    private def normalize(v: Any): Any = v match {
      case d: Double => if (d == 0.0d) 0.0d else if (d.isNaN) Double.NaN else d
      case f: Float => if (f == 0.0f) 0.0f else if (f.isNaN) Float.NaN else f
      case other => other
    }
  }
}
