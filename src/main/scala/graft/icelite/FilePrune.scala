package graft.icelite

import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** File-level predicate pruning over [[FileStat]] manifests and hive-style
  * partition values.
  *
  * `canMatch(f, …)` answers: could ANY row of this file evaluate `f` to
  * TRUE? `false` means the file is provably irrelevant and is dropped from
  * `planInputPartitions` — predicate pushdown as an IO-planning win, not
  * just a decode win. The reference inherits the same behavior from
  * PyIceberg's scan planning over manifest stats
  * (`components/ex-iceberg/src/component.py:36-40`).
  *
  * Soundness rules (conservative in every branch):
  *  - absent stats = unknown = keep the file;
  *  - partition values are exact, so partition-only predicates evaluate in
  *    proper three-valued logic (NULL keeps SQL semantics: a row survives a
  *    WHERE only when it is TRUE, so Some(false) AND None both prune);
  *  - data-column ranges only ever prove non-overlap (nulls never satisfy a
  *    comparison, so range disjointness is proof);
  *  - NaN float stats are treated as unknown (parquet NaN ordering is
  *    undefined).
  */
object FilePrune {

  /** Could any row of the file satisfy `f`?
    *
    * @param partValues exact values for hive-partition columns of this file
    *                   (name -> decoded external value, null for the hive
    *                   default partition); columns absent from the map are
    *                   treated as data columns.
    */
  def canMatch(f: Filter, schema: StructType, stat: FileStat,
      partValues: Map[String, Any] = Map.empty): Boolean = f match {
    case And(l, r) =>
      canMatch(l, schema, stat, partValues) && canMatch(r, schema, stat, partValues)
    case Or(l, r) =>
      canMatch(l, schema, stat, partValues) || canMatch(r, schema, stat, partValues)
    case Not(ch) => canBeFalse(ch, schema, stat, partValues)
    case EqualTo(c, v) => colCanEqual(c, v, schema, stat, partValues)
    case EqualNullSafe(c, null) => colCanBeNull(c, stat, partValues)
    case EqualNullSafe(c, v) => colCanEqual(c, v, schema, stat, partValues)
    case In(c, vs) =>
      vs == null || vs.isEmpty ||
        vs.exists(v => v != null && colCanEqual(c, v, schema, stat, partValues))
    case GreaterThan(c, v) => colCanCompare(c, v, schema, stat, partValues)(_ > 0)
    case GreaterThanOrEqual(c, v) => colCanCompare(c, v, schema, stat, partValues)(_ >= 0)
    case LessThan(c, v) => colCanCompare(c, v, schema, stat, partValues)(_ < 0)
    case LessThanOrEqual(c, v) => colCanCompare(c, v, schema, stat, partValues)(_ <= 0)
    case IsNull(c) => colCanBeNull(c, stat, partValues)
    case IsNotNull(c) => colCanBeNonNull(c, stat, partValues)
    case StringStartsWith(c, prefix) if prefix != null =>
      partValues.get(c) match {
        case Some(null) => false
        case Some(v) => v.toString.startsWith(prefix)
        case None => rangeMayContainPrefix(c, prefix, stat)
      }
    case _ => true // unknown shape: never prune
  }

  /** Could any row of the file make `f` evaluate to FALSE? (needed under
    * Not: NOT f is TRUE exactly where f is FALSE — NULL stays NULL).
    */
  private def canBeFalse(f: Filter, schema: StructType, stat: FileStat,
      partValues: Map[String, Any]): Boolean = f match {
    case And(l, r) =>
      canBeFalse(l, schema, stat, partValues) || canBeFalse(r, schema, stat, partValues)
    case Or(l, r) =>
      canBeFalse(l, schema, stat, partValues) && canBeFalse(r, schema, stat, partValues)
    case Not(ch) => canMatch(ch, schema, stat, partValues)
    case EqualTo(c, v) =>
      partValues.get(c) match {
        case Some(null) => false // NULL, not FALSE
        case Some(pv) => cmpExternal(schema, c, pv, v).forall(_ != 0)
        case None =>
          // FALSE requires a non-null row value != v: impossible only when
          // the whole file is the constant v with no nulls
          !(statRange(schema, c, stat).exists { case (lo, hi) =>
            cmpDom(lo, hi) == 0 &&
              norm(schema(c).dataType, v).exists(nv => cmpDom(lo, nv) == 0)
          } && stat.nullCount(c).contains(0L))
      }
    case IsNull(c) => colCanBeNonNull(c, stat, partValues)
    case IsNotNull(c) => colCanBeNull(c, stat, partValues)
    case _ => true // conservative: assume some row could falsify
  }

  // -- column-level primitives -------------------------------------------------

  private def colCanEqual(c: String, v: Any, schema: StructType, stat: FileStat,
      partValues: Map[String, Any]): Boolean =
    if (v == null) false // EqualTo(NULL) is never TRUE
    else partValues.get(c) match {
      case Some(null) => false
      case Some(pv) => cmpExternal(schema, c, pv, v).forall(_ == 0)
      case None =>
        (statRange(schema, c, stat) match {
          case Some((lo, hi)) =>
            norm(schema(c).dataType, v) match {
              case Some(nv) => cmpDom(lo, nv) <= 0 && cmpDom(nv, hi) <= 0
              case None => true
            }
          case None => true
        }) && bloomMayContain(c, v, schema, stat)
    }

  /** Bloom-filter point probe: `false` ONLY when the file's filter proves
    * `v` definitely absent (blooms have no false negatives, so that proof
    * is sound; a false positive merely keeps the file). Conservative `true`
    * on: no bloom for the column, an unrecognized hashing-scheme marker
    * (a wrong-scheme probe could manufacture a false absence), undecodable
    * bytes, or a value that fails to normalize. The hash domain mirrors the
    * writer exactly: integral/date/timestamp as their Long spelling,
    * strings as NUL-sentinel UTF-8 bytes.
    */
  /** Decoded-filter memo: an IN-list of k values probes the same file k
    * times, and base64+heapify of a ~60 KB filter per probe would dominate
    * plan time. Bounded LRU (256 entries ≈ 15 MB worst case), driver-side
    * only.
    *
    * The key carries the file's byte length and row count alongside (path,
    * column): the cache is process-global and never invalidated, and while
    * data files are immutable once committed, a PATH is not globally unique
    * across table lifetimes — drop/recreate at the same location after a
    * SparkContext restart in the same JVM (task-attempt ids reset) can
    * reproduce a file name with different content, and a stale filter
    * proving a false absence would wrongly prune point lookups AND wrongly
    * exempt files from equality deletes. Same path + same length + same
    * rows with DIFFERENT content is not reachable by any writer here
    * (attempt-unique names within a context; across contexts the collision
    * would need an identical byte count, which the embedded stats/bloom
    * payloads of differing data make implausible) — and both discriminators
    * are already in the manifest, so the check is free.
    */
  private final case class BloomKey(path: String, bytes: Long, rows: Long,
      col: String)
  private val bloomCache =
    new java.util.LinkedHashMap[BloomKey, Option[
        org.apache.datasketches.filters.bloomfilter.BloomFilter]](64, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[BloomKey,
          Option[org.apache.datasketches.filters.bloomfilter.BloomFilter]]) =
        size() > 256
    }

  private def bloomMayContain(c: String, v: Any, schema: StructType,
      stat: FileStat): Boolean = {
    if (stat.bloom.isEmpty) return true
    // version gate is PER TYPE: v1 filters keep serving v1-era types, only
    // decimal demands v2; an unknown marker refuses entirely (a
    // wrong-scheme probe could manufacture a false absence)
    if (!FileStats.bloomVersionOk(schema(c).dataType,
        stat.bloom.get(FileStats.BloomVersionKey))) return true
    val bf = bloomCache.synchronized {
      bloomCache.computeIfAbsent(BloomKey(stat.path, stat.bytes, stat.rows, c), _ =>
        stat.bloomBytes(c).flatMap { bytes =>
          try Some(org.apache.datasketches.filters.bloomfilter.BloomFilter
            .heapify(org.apache.datasketches.memory.Memory.wrap(bytes)))
          catch { case _: Exception => None }
        })
    }.getOrElse(return true)
    val dt = schema(c).dataType
    dt match {
      case LongType | IntegerType | ShortType | ByteType | DateType |
           TimestampType | TimestampNTZType =>
        norm(dt, v) match {
          case Some(l: Long) => bf.query(l)
          case _ => true
        }
      case StringType =>
        val b = v.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val s = new Array[Byte](b.length + 1) // s(0) stays 0x00
        System.arraycopy(b, 0, s, 1, b.length)
        bf.query(s)
      case d: DecimalType =>
        // v2 domain: the unscaled value at the column's DECLARED scale
        // (Ndv.decimalHash, the writer's exact form). A literal that does
        // not normalize or align to the declared scale stays conservative.
        norm(dt, v) match {
          case Some(bd: BigDecimal) =>
            try Ndv.decimalHash(bd.underlying
                .setScale(d.scale, java.math.RoundingMode.UNNECESSARY)
                .unscaledValue()) match {
              case Left(l) => bf.query(l)
              case Right(bs) => bf.query(bs)
            } catch { case _: ArithmeticException => true }
          case _ => true
        }
      case _ => true // non-bloomed domain
    }
  }

  private def colCanCompare(c: String, v: Any, schema: StructType, stat: FileStat,
      partValues: Map[String, Any])(ok: Int => Boolean): Boolean =
    if (v == null) false
    else partValues.get(c) match {
      case Some(null) => false
      case Some(pv) => cmpExternal(schema, c, pv, v).forall(ok)
      case None =>
        statRange(schema, c, stat) match {
          case Some((lo, hi)) =>
            norm(schema(c).dataType, v) match {
              case Some(nv) =>
                // some x in [lo, hi] with ok(cmp(x, nv)): the extremes decide
                ok(cmpDom(lo, nv)) || ok(cmpDom(hi, nv))
              case None => true
            }
          case None => true
        }
    }

  private def colCanBeNull(c: String, stat: FileStat,
      partValues: Map[String, Any]): Boolean =
    partValues.get(c) match {
      case Some(pv) => pv == null
      case None => stat.nullCount(c).forall(_ > 0L)
    }

  private def colCanBeNonNull(c: String, stat: FileStat,
      partValues: Map[String, Any]): Boolean =
    partValues.get(c) match {
      case Some(pv) => pv != null
      case None => stat.nullCount(c).forall(_ < stat.rows)
    }

  private def rangeMayContainPrefix(c: String, prefix: String, stat: FileStat): Boolean =
    (stat.min.get(c), stat.max.get(c)) match {
      case (Some(lo), Some(hi)) =>
        val p = UTF8String.fromString(prefix)
        // values starting with p sort in [p, nextAfter(p)); overlap test
        val hiOk = UTF8String.fromString(hi).binaryCompare(p) >= 0
        val loOk = UTF8String.fromString(lo).binaryCompare(p) <= 0 || lo.startsWith(prefix)
        hiOk && loOk
      case _ => true
    }

  // -- typed comparison plumbing ----------------------------------------------

  /** Parsed (min, max) from stats in the column's comparison domain — Long
    * (integral/date/timestamp), Double (float/double), UTF8 bytes (string),
    * Boolean — or None when stats are absent/unusable.
    */
  private def statRange(schema: StructType, c: String, stat: FileStat)
      : Option[(Any, Any)] =
    for {
      loS <- stat.min.get(c)
      hiS <- stat.max.get(c)
      if schema.fieldNames.contains(c)
      lo <- parseStat(schema(c).dataType, loS)
      hi <- parseStat(schema(c).dataType, hiS)
    } yield (lo, hi)

  /** Conservative overlap test between two FileStats-encoded stat ranges of
    * column `c` — the equality-delete planning primitive: a data file whose
    * range for every key column provably misses the delete file's key range
    * cannot contain a deleted row. Missing or unparseable stats on either
    * side (or an unknown column) mean "cannot prove disjoint" = true.
    */
  def statRangesOverlap(schema: StructType, c: String,
      aMin: Option[String], aMax: Option[String],
      bMin: Option[String], bMax: Option[String]): Boolean = {
    if (!schema.fieldNames.contains(c)) return true
    val dt = schema(c).dataType
    val proof = for {
      alS <- aMin; ahS <- aMax; blS <- bMin; bhS <- bMax
      al <- parseStat(dt, alS); ah <- parseStat(dt, ahS)
      bl <- parseStat(dt, blS); bh <- parseStat(dt, bhS)
    } yield cmpDom(al, bh) <= 0 && cmpDom(bl, ah) <= 0
    proof.getOrElse(true)
  }

  /** Is `f` applied EXACTLY — not merely conservatively — by [[canMatch]]
    * when every referenced column satisfies `partCol` (an identity
    * partition column whose value decodes from every file's path)? Such a
    * filter's evaluation depends only on the file's constant partition
    * tuple, so "could any row match" coincides with "do all rows match"
    * and a DSv2 source may claim the filter as fully pushed: file pruning
    * IS the filter, no row re-evaluation needed — which is what unlocks
    * aggregate pushdown under partition predicates. Every branch accepted
    * here must mirror a [[canMatch]]/canBeFalse branch that consults
    * partValues with full three-valued semantics and whose comparison
    * cannot fall back to a conservative `true` (hence the [[norm]]
    * checks on literals: an unnormalizable literal would make
    * cmpExternal return None and canMatch keep the file).
    */
  def exactOnPartitions(f: Filter, schema: StructType,
      partCol: String => Boolean): Boolean = {
    def dtOf(c: String): Option[DataType] =
      schema.fields.find(_.name == c).map(_.dataType)
    // Claims are restricted to column types our write paths can actually
    // render into a path segment (PartValues.renderable). A legacy or
    // externally-written table can carry e.g. a float/double identity
    // partition column — internalValue still decodes those for pruning —
    // but its directory values (NaN, signed zero, locale spellings) can
    // make cmpExternal return None, where canMatch conservatively KEEPS
    // the file while Spark no longer re-evaluates the claimed filter:
    // silent wrong rows. Renderable types round-trip unambiguously, so
    // only they support an exactness claim.
    def cmpOk(c: String, v: Any): Boolean =
      v != null && partCol(c) &&
        dtOf(c).exists(dt => PartValues.renderable(dt) && norm(dt, v).isDefined)
    def pos(g: Filter): Boolean = g match {
      case And(l, r) => pos(l) && pos(r)
      case Or(l, r) => pos(l) && pos(r)
      case Not(ch) => neg(ch)
      case EqualTo(c, v) => cmpOk(c, v)
      case EqualNullSafe(c, null) => partCol(c)
      case EqualNullSafe(c, v) => cmpOk(c, v)
      case In(c, vs) => vs != null && vs.nonEmpty && partCol(c) &&
        vs.forall(v => v == null ||
          dtOf(c).exists(dt => PartValues.renderable(dt) && norm(dt, v).isDefined))
      case GreaterThan(c, v) => cmpOk(c, v)
      case GreaterThanOrEqual(c, v) => cmpOk(c, v)
      case LessThan(c, v) => cmpOk(c, v)
      case LessThanOrEqual(c, v) => cmpOk(c, v)
      case IsNull(c) => partCol(c)
      case IsNotNull(c) => partCol(c)
      case StringStartsWith(c, p) => p != null && partCol(c)
      case _ => false
    }
    // under NOT, canMatch delegates to canBeFalse, whose partition-exact
    // branches are only these
    def neg(g: Filter): Boolean = g match {
      case And(l, r) => neg(l) && neg(r)
      case Or(l, r) => neg(l) && neg(r)
      case Not(ch) => pos(ch)
      case EqualTo(c, v) => cmpOk(c, v)
      case IsNull(c) => partCol(c)
      case IsNotNull(c) => partCol(c)
      case _ => false
    }
    pos(f)
  }

  /** Types the z-order clusterer can normalize into a bit budget. Decimals
    * normalize through their double approximation (round 14) — z-order only
    * needs a curve coordinate, never exact arithmetic, and the scaled-string
    * stats already decode to doubles via [[statDouble]].
    */
  def zorderable(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType |
         TimestampType | TimestampNTZType | FloatType | DoubleType => true
    case _: DecimalType => true
    case _ => false
  }

  /** A stat-encoded key value decoded into the form `canMatch` normalizes
    * (Long for the integral/date/timestamp family, String, Boolean,
    * BigDecimal) — the read side of EqDeleteIo's inline key encoding.
    */
  def keyValue(dt: DataType, s: String): Option[Any] = parseStat(dt, s)

  /** A manifest stat as a double coordinate for z-order normalization. */
  def statDouble(dt: DataType, s: String): Option[Double] =
    parseStat(dt, s).collect {
      case l: Long => l.toDouble
      case d: Double => d
      // z-order normalization only needs an approximate coordinate; the
      // decimal parse above still applies the legacy dot-guard, so a
      // pre-scaled-encoder stat can never poison the curve bounds
      case bd: BigDecimal => bd.toDouble
    }

  private def parseStat(dt: DataType, s: String): Option[Any] = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType |
         TimestampType | TimestampNTZType => s.toLongOption
    // normalize -0.0 to 0.0: SQL equality (and Spark's join key
    // normalization) treats them as equal, but IEEE compare orders them —
    // an un-normalized -0.0 bound could wrongly prune a matching file
    case FloatType | DoubleType =>
      s.toDoubleOption.filterNot(_.isNaN).map(d => if (d == 0.0) 0.0 else d)
    case StringType => Some(s)
    case BooleanType => s.toBooleanOption
    // decimal stats are encoded as scaled plain strings (FileStats);
    // compare in exact BigDecimal space — never through a lossy double.
    // Legacy-domain guard: manifests written before the scaled encoder
    // recorded INT32/INT64-physical decimal bounds as raw UNSCALED longs
    // (the generic integer branch). There is no stats-version marker, but
    // for scale>0 the scaled encoder's toPlainString ALWAYS emits a '.',
    // so a dot-less stat under scale>0 is provably legacy — refuse it
    // (None => conservative no-prune, the pre-scaled behavior) instead of
    // misreading "12345" as 12345 when the file really holds 123.45 and
    // silently pruning matching rows. scale=0 domains coincide: no guard.
    case d: DecimalType =>
      if (d.scale > 0 && !s.contains('.')) None
      else scala.util.Try(BigDecimal(new java.math.BigDecimal(s))).toOption
    case _ => None
  }

  /** Normalize a filter/partition value into the column's domain. */
  private def norm(dt: DataType, v: Any): Option[Any] = Option(v).flatMap { x =>
    dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        x match { case n: Number => Some(n.longValue); case _ => None }
      case DateType => x match {
        case d: java.sql.Date => Some(d.toLocalDate.toEpochDay)
        case d: java.time.LocalDate => Some(d.toEpochDay)
        case n: Number => Some(n.longValue)
        case _ => None
      }
      case TimestampType | TimestampNTZType => x match {
        case t: java.sql.Timestamp =>
          Some(Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L)
        case i: java.time.Instant => Some(i.getEpochSecond * 1000000L + i.getNano / 1000L)
        case l: java.time.LocalDateTime =>
          val i = l.toInstant(java.time.ZoneOffset.UTC)
          Some(i.getEpochSecond * 1000000L + i.getNano / 1000L)
        case n: Number => Some(n.longValue)
        case _ => None
      }
      case FloatType | DoubleType => x match {
        case n: Number => Some(n.doubleValue).filterNot(_.isNaN)
          .map(d => if (d == 0.0) 0.0 else d) // -0.0 == 0.0 in SQL
        case _ => None
      }
      case StringType => Some(x.toString)
      case BooleanType =>
        x match { case b: java.lang.Boolean => Some(b.booleanValue); case _ => None }
      case _: DecimalType => x match {
        // DSv2 filter literals carry java.math.BigDecimal for decimal
        // columns; accept both wrappings, nothing lossy
        case d: java.math.BigDecimal => Some(BigDecimal(d))
        case d: BigDecimal => Some(d)
        case d: org.apache.spark.sql.types.Decimal => Some(d.toBigDecimal)
        case _ => None
      }
      case _ => None
    }
  }

  /** Compare two already-normalized domain values. */
  private def cmpDom(a: Any, b: Any): Int = (a, b) match {
    case (x: BigDecimal, y: BigDecimal) => x.compare(y)
    case (x: Long, y: Long) => java.lang.Long.compare(x, y)
    case (x: Double, y: Double) => java.lang.Double.compare(x, y)
    case (x: Long, y: Double) => java.lang.Double.compare(x.toDouble, y)
    case (x: Double, y: Long) => java.lang.Double.compare(x, y.toDouble)
    case (x: String, y: String) =>
      UTF8String.fromString(x).binaryCompare(UTF8String.fromString(y))
    case (x: Boolean, y: Boolean) => java.lang.Boolean.compare(x, y)
    case _ => throw new IllegalStateException(s"incomparable domain values $a / $b")
  }

  /** Compare a partition value against a filter value; None when either side
    * fails to normalize (then the caller must stay conservative).
    */
  private def cmpExternal(schema: StructType, c: String, pv: Any, v: Any): Option[Int] =
    if (!schema.fieldNames.contains(c)) None
    else {
      val dt = schema(c).dataType
      for { a <- norm(dt, pv); b <- norm(dt, v) } yield cmpDom(a, b)
    }
}
