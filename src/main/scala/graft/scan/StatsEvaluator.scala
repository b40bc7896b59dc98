package graft.scan

import graft.format.{ColumnStats, FileEntry, PartitionField}
import graft.transforms.Transform
import org.apache.spark.sql.types._

/** Canonical string encoding of stats/partition values per data type.
  * Numerics/temporal encode to forms whose BigDecimal parse preserves
  * order; strings stay raw (lexicographic).
  */
object StatsCodec {
  // non-finite float ordering sentinels: NegInf < numbers < PosInf < NaN
  // (NaN largest — Spark/Iceberg ordering, SURVEY §7.4.1)
  case object NegInfKey; case object PosInfKey; case object NanKey

  private def numKey(s: String): Any = s match {
    case "Infinity" | "inf"   => PosInfKey
    case "-Infinity" | "-inf" => NegInfKey
    case "NaN" | "nan"        => NanKey
    case _ => BigDecimal(s)
  }

  /** Binary stats canonical form: lowercase hex, 2 chars per byte.
    * Hex preserves unsigned-lexicographic byte order under plain string
    * comparison (including the prefix relation), so binary bounds ride
    * the existing String compare path. Spark and DuckDB both order
    * BinaryType/BLOB unsigned-lexicographically, matching this key. */
  def hexKey(bs: Array[Byte]): String = {
    val sb = new java.lang.StringBuilder(bs.length * 2)
    var i = 0
    while (i < bs.length) {
      val b = bs(i) & 0xff
      sb.append(Character.forDigit(b >> 4, 16)).append(Character.forDigit(b & 0xf, 16))
      i += 1
    }
    sb.toString
  }

  /** Literal (Scala/Java value from the API or Catalyst) -> comparison key. */
  def literalKey(dt: DataType, v: Any): Any = dt match {
    case StringType => v.toString
    case BinaryType => v match {
      case bs: Array[Byte] => hexKey(bs)
      case other => other.toString
    }
    case BooleanType => if (v.asInstanceOf[Boolean]) BigDecimal(1) else BigDecimal(0)
    case TimestampType | TimestampNTZType => BigDecimal(graft.transforms.Transform.toEpochMicros(v))
    case DateType => BigDecimal(v match {
      case d: java.sql.Date => d.toLocalDate.toEpochDay
      case d: java.time.LocalDate => d.toEpochDay
      case n: Number => n.longValue()
    })
    case _: NumericType => numKey(v.toString)
    case _ => v.toString
  }

  /** Canonical stats string (as stored in FileEntry) -> comparison key. */
  def statsKey(dt: DataType, s: String): Any = dt match {
    case StringType => s
    case BooleanType => if (s == "true") BigDecimal(1) else BigDecimal(0)
    case TimestampType | TimestampNTZType | DateType => BigDecimal(s) // epoch micros / days
    case _: NumericType => numKey(s)
    case _ => s
  }

  private def rank(a: Any): Int = a match {
    case NegInfKey => 0
    case _: BigDecimal => 1
    case PosInfKey => 2
    case NanKey => 3
    case _ => 1
  }

  @inline def cmp(a: Any, b: Any): Int = (a, b) match {
    case (x: BigDecimal, y: BigDecimal) => x.compare(y)
    case (x: String, y: String)         => x.compareTo(y)
    case _ if rank(a) != rank(b)        => Integer.compare(rank(a), rank(b))
    case _                              => 0 // equal sentinels
  }
}

/** Metadata file pruning: decides from partition values + footer stats
  * whether a file MAY contain matching rows (inclusive) or provably has
  * ALL rows matching (strict). The Spark-side equivalent of Iceberg's
  * InclusiveMetricsEvaluator/StrictMetricsEvaluator used by the reference
  * scan (sql/IcebergScanExecutor.java:453-505) and batch-commit conflict
  * checks (writer/TableBatchTransaction.java:96-230).
  */
final class StatsEvaluator(schema: StructType, specsById: Map[Int, Seq[PartitionField]]) {
  import StatsCodec._

  /** Single-spec convenience (spec id 0). */
  def this(schema: StructType, spec: Seq[PartitionField]) = this(schema, Map(0 -> spec))

  private val fieldByName: Map[String, StructField] =
    schema.fields.map(f => f.name -> f).toMap
  private val idByName: Map[String, Int] =
    schema.fields.map(f => f.name -> graft.format.FieldIds.of(f)).toMap
  // per spec id: source column -> its partition fields (files prune through
  // the spec they were WRITTEN under; an unknown spec id prunes on stats only)
  private val specBySource: Map[Int, Map[String, Seq[(PartitionField, Transform)]]] =
    specsById.view.mapValues(_.groupBy(_.sourceColumn).view
      .mapValues(_.map(pf => pf -> Transform.parse(pf.transform))).toMap).toMap

  private def specFieldsFor(f: FileEntry, c: String): Seq[(PartitionField, Transform)] =
    specBySource.getOrElse(f.specId, Map.empty).getOrElse(c, Seq.empty)

  private def dtOf(c: String): Option[DataType] = fieldByName.get(c).map(_.dataType)
  private def statsOf(f: FileEntry, c: String): Option[ColumnStats] =
    idByName.get(c).filter(_ > 0).flatMap(id => f.stats.get(id.toString))

  private def isFloating(c: String): Boolean =
    dtOf(c).exists(d => d == FloatType || d == DoubleType)

  /** Identity partition value for column c, if identity-partitioned. */
  private def identityValue(f: FileEntry, c: String): Option[String] =
    specFieldsFor(f, c).collectFirst {
      case (pf, graft.transforms.Identity) if f.partition.contains(pf.name) => f.partition(pf.name)
    }

  /** Identity value usable for VALUE comparisons: oversized-token values
    * (and anything that merely looks like one) are withheld, so range /
    * prefix / strict-equality logic falls back to footer stats — always
    * sound, since a token is a digest, not the value. Equality pruning
    * on tokens still happens via the transform-projection path, where
    * both sides go through the same [[graft.transforms.Identity.applyLiteral]]. */
  private def identityValueReal(f: FileEntry, c: String): Option[String] =
    identityValue(f, c).filterNot(pv =>
      pv != Transform.NullValue && Transform.isOversizedToken(pv))

  // ---------------------------------------------------------------- may
  def mayContain(p: Pred, f: FileEntry): Boolean = p match {
    case AlwaysTrue   => true
    case AlwaysFalse  => false
    case Opaque(_)    => true
    case And(l, r)    => mayContain(l, f) && mayContain(r, f)
    case Or(l, r)     => mayContain(l, f) || mayContain(r, f)
    case IsNull(c)    =>
      identityValue(f, c) match {
        case Some(v) => v == Transform.NullValue
        case None => statsOf(f, c).forall(_.nullCount > 0)
      }
    case NotNull(c)   =>
      identityValue(f, c) match {
        case Some(v) => v != Transform.NullValue
        case None => statsOf(f, c).forall(_.nullCount < f.recordCount)
      }
    // isnan(NULL) is false in Spark, so IsNan matches exactly nanCount rows
    // and NotNan matches recordCount - nanCount (NULLs included)
    case IsNan(c)     => isFloating(c) && statsOf(f, c).flatMap(_.nanCount).forall(_ > 0)
    case NotNan(c)    => !isFloating(c) ||
      statsOf(f, c).flatMap(_.nanCount).forall(_ < f.recordCount)
    case Eq(c, v)     => rangeMay(f, c, v, lo = true, hi = true, strictLo = false, strictHi = false)
    case Ne(c, v)     => !provablyAll(Eq(c, v), f)
    case Lt(c, v)     => rangeMay(f, c, v, lo = true, hi = false, strictLo = true, strictHi = false)
    case Le(c, v)     => rangeMay(f, c, v, lo = true, hi = false, strictLo = false, strictHi = false)
    case Gt(c, v)     => rangeMay(f, c, v, lo = false, hi = true, strictLo = false, strictHi = true)
    case Ge(c, v)     => rangeMay(f, c, v, lo = false, hi = true, strictLo = false, strictHi = false)
    case In(c, vs)    => vs.exists(v => mayContain(Eq(c, v), f))
    case NotIn(c, vs) => !vs.exists(v => provablyAll(Eq(c, v), f))
    case StartsWith(c, s) => startsWithMay(f, c, s)
  }

  /** lo: require some value <= v-ish (v above min); hi: some value >= v-ish. */
  private def rangeMay(f: FileEntry, c: String, v: Any,
      lo: Boolean, hi: Boolean, strictLo: Boolean, strictHi: Boolean): Boolean = {
    if (v == null) return false // comparisons with NULL match nothing (3VL)
    val dt = dtOf(c).getOrElse(return true)
    // identity partition: every row carries this exact value (tokenized
    // oversized values fall through to projection + stats)
    identityValueReal(f, c) match {
      case Some(Transform.NullValue) => return false
      case Some(pv) =>
        val k = statsKey(dt, canonPartToStats(dt, pv))
        val kv = literalKey(dt, v)
        val okLo = !lo || (if (strictLo) cmp(k, kv) < 0 else cmp(k, kv) <= 0)
        val okHi = !hi || (if (strictHi) cmp(k, kv) > 0 else cmp(k, kv) >= 0)
        return okLo && okHi
      case None => ()
    }
    // transform partition projection: equality projects through ANY
    // deterministic transform (c == v => t(c) == t(v), so bucket/identity
    // partitions prune point lookups and INs); ranges project through
    // monotonic ones (year/month/day/hour/truncate)
    val projOk = specFieldsFor(f, c).forall { case (pf, t) =>
      f.partition.get(pf.name) match {
        case None => true
        // all transforms are null-preserving: a NULL partition value means
        // every row has c IS NULL, and no comparison matches NULL rows
        case Some(Transform.NullValue) => false
        case Some(pv) =>
          val isEq = lo && hi && !strictLo && !strictHi
          if (isEq) pv == t.applyLiteral(v, dt)
          else if (!t.monotonic || t == graft.transforms.Identity) true
          else {
            val tv = t.applyLiteral(v, dt)
            // rows in this file have t(c) == pv; c <(=) v  =>  t(c) <= t(v)
            val okLo = !lo || pv <= tv
            val okHi = !hi || pv >= tv
            okLo && okHi
          }
      }
    }
    if (!projOk) return false
    statsOf(f, c) match {
      case None => true
      case Some(st) =>
        if (st.nullCount >= f.recordCount) return false
        val kv = literalKey(dt, v)
        val okLo = !lo || (st.min match {
          case None => true
          case Some(mn) =>
            val k = statsKey(dt, mn)
            if (strictLo) cmp(k, kv) < 0 else cmp(k, kv) <= 0
        })
        val okHi = !hi || (st.max match {
          case None => true
          case Some(mx) =>
            val k = statsKey(dt, mx)
            if (strictHi) cmp(k, kv) > 0 else cmp(k, kv) >= 0
        })
        okLo && okHi
    }
  }

  /** Partition canonical value -> stats canonical (temporal partitions are
    * formatted strings while stats are epoch numbers; identity over
    * timestamp needs re-encoding). */
  private def canonPartToStats(dt: DataType, pv: String): String = dt match {
    case TimestampType | TimestampNTZType =>
      val norm = pv.replace(' ', 'T')
      graft.transforms.Transform.toEpochMicros(java.time.LocalDateTime.parse(norm)).toString
    case DateType => java.time.LocalDate.parse(pv).toEpochDay.toString
    case _ => pv
  }

  private def startsWithMay(f: FileEntry, c: String, s: String): Boolean = {
    identityValueReal(f, c) match {
      case Some(Transform.NullValue) => return false
      case Some(pv) => return pv.startsWith(s)
      case None => ()
    }
    statsOf(f, c) match {
      case None => true
      case Some(st) =>
        if (st.nullCount >= f.recordCount) false
        else {
          val okHi = st.max.forall { mx => mx.take(s.length) >= s }
          val okLo = st.min.forall { mn => mn.take(s.length) <= s }
          okHi && okLo
        }
    }
  }

  // ------------------------------------------------------------- strict
  /** True only if EVERY row in the file provably matches p. */
  def provablyAll(p: Pred, f: FileEntry): Boolean = p match {
    case AlwaysTrue  => true
    case AlwaysFalse => false
    case Opaque(_)   => false
    case And(l, r)   => provablyAll(l, f) && provablyAll(r, f)
    case Or(l, r)    => provablyAll(l, f) || provablyAll(r, f)
    case IsNull(c)   =>
      identityValue(f, c).map(_ == Transform.NullValue)
        .orElse(statsOf(f, c).map(_.nullCount >= f.recordCount)).getOrElse(false)
    case NotNull(c)  =>
      identityValue(f, c).map(_ != Transform.NullValue)
        .orElse(statsOf(f, c).map(_.nullCount == 0)).getOrElse(false)
    case IsNan(c)    =>
      isFloating(c) && statsOf(f, c).flatMap(_.nanCount).exists(_ == f.recordCount)
    case NotNan(c)   =>
      !isFloating(c) || statsOf(f, c).flatMap(_.nanCount).exists(_ == 0L)
    case Eq(c, v)    =>
      if (v == null) false
      else identityValueReal(f, c) match {
        case Some(Transform.NullValue) => false
        case Some(pv) =>
          val dt = dtOf(c).getOrElse(return false)
          cmp(statsKey(dt, canonPartToStats(dt, pv)), literalKey(dt, v)) == 0
        case None =>
          statsOf(f, c).exists { st =>
            st.nullCount == 0 && st.min.isDefined && st.min == st.max && {
              val dt = dtOf(c).getOrElse(return false)
              cmp(statsKey(dt, st.min.get), literalKey(dt, v)) == 0
            }
          }
      }
    case Ne(c, v)    => !mayContain(Eq(c, v), f) && provablyAll(NotNull(c), f)
    case Lt(c, v)    => boundAll(f, c, v, upper = true, strict = true)
    case Le(c, v)    => boundAll(f, c, v, upper = true, strict = false)
    case Gt(c, v)    => boundAll(f, c, v, upper = false, strict = true)
    case Ge(c, v)    => boundAll(f, c, v, upper = false, strict = false)
    case In(c, vs)   => vs.exists(v => provablyAll(Eq(c, v), f))
    // a NULL in the list makes NOT IN never TRUE (3VL), whatever the stats
    case NotIn(c, vs) => !vs.contains(null) &&
      vs.forall(v => !mayContain(Eq(c, v), f)) && provablyAll(NotNull(c), f)
    case StartsWith(c, s) =>
      identityValueReal(f, c).map(pv => pv != Transform.NullValue && pv.startsWith(s)).getOrElse {
        statsOf(f, c).exists(st => st.nullCount == 0 &&
          st.min.exists(_.startsWith(s)) && st.max.exists(_.startsWith(s)))
      }
  }

  private def boundAll(f: FileEntry, c: String, v: Any, upper: Boolean, strict: Boolean): Boolean = {
    if (v == null) return false
    val dt = dtOf(c).getOrElse(return false)
    identityValueReal(f, c) match {
      case Some(Transform.NullValue) => return false
      case Some(pv) =>
        val k = cmp(statsKey(dt, canonPartToStats(dt, pv)), literalKey(dt, v))
        return if (upper) (if (strict) k < 0 else k <= 0) else (if (strict) k > 0 else k >= 0)
      case None => ()
    }
    statsOf(f, c).exists { st =>
      st.nullCount == 0 && {
        val bound = if (upper) st.max else st.min
        bound.exists { b =>
          val k = cmp(statsKey(dt, b), literalKey(dt, v))
          if (upper) (if (strict) k < 0 else k <= 0) else (if (strict) k > 0 else k >= 0)
        }
      }
    }
  }
}
