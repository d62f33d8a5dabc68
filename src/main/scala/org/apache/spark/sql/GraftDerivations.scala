package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualNullSafe, EqualTo, Expression, In, Literal, XxHash64Function}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.types.IntegerType

/** Derives `gpart` partition-column predicates from pushed filters on the
  * PARTITION SOURCE column — the transform-aware pruning that makes
  * `WHERE ts >= X` on a `PARTITIONED BY (days(ts))` table plan only the
  * matching partition dirs (Iceberg-style). Sound because every supported
  * transform's ordinal is MONOTONE in the source value: a bound on the
  * value maps to the same-direction bound on the ordinal (inclusive at
  * the boundary — a partition holds a RANGE of values, so `ts > X` still
  * admits X's own partition). Unrecognized shapes derive nothing (scan
  * everything); the original predicate always stays in the residue, so
  * derivation can only narrow, never change results. */
final class GraftPartDerivation(fn: String, srcCol: String,
    partType: org.apache.spark.sql.types.DataType) extends Serializable {
  import org.apache.spark.sql.catalyst.expressions.{GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
  import org.apache.spark.sql.types.{DateType, TimestampNTZType, TimestampType}

  private def attr = AttributeReference(
    graft.sources.GraftStore.PartCol, partType, nullable = true)()

  /** Transform ordinal of one literal (catalyst-internal value). */
  private def ordinal(l: Literal): Option[Any] = {
    if (l.value == null) return None
    if (fn == "identity") return Some(l.value)
    val epochDay: Option[Long] = (l.dataType, l.value) match {
      case (DateType, d: java.lang.Integer) => Some(d.longValue())
      case (TimestampType | TimestampNTZType, us: java.lang.Long) =>
        Some(Math.floorDiv(us, 86400000000L))
      case _ => None
    }
    val hour: Option[Long] = (l.dataType, l.value) match {
      case (DateType, d: java.lang.Integer) => Some(d.longValue() * 24)
      case (TimestampType | TimestampNTZType, us: java.lang.Long) =>
        Some(Math.floorDiv(us, 3600000000L))
      case _ => None
    }
    fn match {
      case "days" => epochDay.map(_.toInt)
      case "hours" => hour.map(_.toInt)
      case "months" => epochDay.map { d =>
        val ld = java.time.LocalDate.ofEpochDay(d)
        ld.getYear * 12 + ld.getMonthValue - 1
      }
      case "years" =>
        epochDay.map(d => java.time.LocalDate.ofEpochDay(d).getYear)
      case _ => None
    }
  }

  private def isSrc(e: Expression): Boolean = e match {
    case a: AttributeReference => a.name == srcCol
    case _ => false
  }

  /** Conjunction of derived `gpart` predicates, if any filter qualifies. */
  def deriveFilter(filters: Seq[Expression]): Option[Expression] = {
    val derived = filters.flatMap {
      case EqualTo(a, l: Literal) if isSrc(a) =>
        ordinal(l).map(o => EqualTo(attr, Literal(o, partType)))
      case EqualTo(l: Literal, a) if isSrc(a) =>
        ordinal(l).map(o => EqualTo(attr, Literal(o, partType)))
      case EqualNullSafe(a, l: Literal) if isSrc(a) && l.value != null =>
        ordinal(l).map(o => EqualTo(attr, Literal(o, partType)))
      case GreaterThanOrEqual(a, l: Literal) if isSrc(a) =>
        ordinal(l).map(o => GreaterThanOrEqual(attr, Literal(o, partType)))
      case GreaterThan(a, l: Literal) if isSrc(a) =>
        ordinal(l).map(o => GreaterThanOrEqual(attr, Literal(o, partType)))
      case LessThanOrEqual(a, l: Literal) if isSrc(a) =>
        ordinal(l).map(o => LessThanOrEqual(attr, Literal(o, partType)))
      case LessThan(a, l: Literal) if isSrc(a) =>
        ordinal(l).map(o => LessThanOrEqual(attr, Literal(o, partType)))
      // literal-on-the-left comparisons flip direction
      case GreaterThanOrEqual(l: Literal, a) if isSrc(a) => // src <= l
        ordinal(l).map(o => LessThanOrEqual(attr, Literal(o, partType)))
      case GreaterThan(l: Literal, a) if isSrc(a) =>
        ordinal(l).map(o => LessThanOrEqual(attr, Literal(o, partType)))
      case LessThanOrEqual(l: Literal, a) if isSrc(a) => // src >= l
        ordinal(l).map(o => GreaterThanOrEqual(attr, Literal(o, partType)))
      case LessThan(l: Literal, a) if isSrc(a) =>
        ordinal(l).map(o => GreaterThanOrEqual(attr, Literal(o, partType)))
      case In(a, vs) if isSrc(a) && vs.nonEmpty &&
          vs.forall(v => v.isInstanceOf[Literal] &&
            v.asInstanceOf[Literal].value != null) =>
        val os = vs.map(v => ordinal(v.asInstanceOf[Literal]))
        if (os.exists(_.isEmpty)) None
        else Some(In(attr, os.flatten.distinct.map(o => Literal(o, partType))))
      case _ => None
    }
    derived.reduceOption(org.apache.spark.sql.catalyst.expressions.And)
  }
}

/** Derives the set of store buckets a conjunction of pushed filters can
  * touch. `keyCols` are the merge-key columns in their LOGICAL names and
  * META ORDER (the hash folds over them in order, seed 42 — byte-for-byte
  * [[graft.sources.GraftStore.bucketExpr]]). Only exact
  * `key = literal` / `key IN (literals)` / null-safe-eq shapes
  * participate; a Cast or expression around the attribute disqualifies
  * the column (the value's runtime type wouldn't match the stored hash
  * input). Derivation caps at [[MaxCombos]] key tuples — beyond that the
  * IN-list is broad enough that pruning stops paying. */
final class GraftBucketDerivation(val keyCols: Seq[String], nBuckets: Int,
    bucketColName: String) extends Serializable {
  private val MaxCombos = 128

  def deriveFilter(filters: Seq[Expression]): Option[Expression] = {
    // keyless (append-only) tables bucket by row hash: no predicate can
    // pin a bucket, and the zero-key fold below would otherwise
    // degenerate to "one bucket" and prune committed data away
    if (keyCols.isEmpty) return None
    val valuesPerKey: Seq[Seq[Literal]] = keyCols.map { k =>
      filters.flatMap(keyLiterals(k, _)).headOption.getOrElse(Seq.empty)
    }
    if (valuesPerKey.exists(_.isEmpty)) return None
    if (valuesPerKey.map(_.size.toLong).product > MaxCombos) return None
    val tuples = valuesPerKey.foldLeft(Seq(Seq.empty[Literal])) {
      (acc, vs) => for (t <- acc; v <- vs) yield t :+ v
    }
    val buckets = tuples.map { t =>
      var h = 42L
      t.foreach(l => h = XxHash64Function.hash(l.value, l.dataType, h))
      (((h % nBuckets) + nBuckets) % nBuckets).toInt
    }.distinct.sorted
    val attr = AttributeReference(bucketColName, IntegerType, nullable = true)()
    Some(if (buckets.size == 1) EqualTo(attr, Literal(buckets.head))
    else In(attr, buckets.map(b => Literal(b))))
  }

  /** RUNTIME variant over DSv2 predicates — dynamic partition pruning's
    * join-time filters (`BatchScanExec.filteredPartitions` re-plans after
    * calling `Scan.filter`). The broadcast side of a store⋈dim join hands
    * over the dim's actual key values as an IN predicate; deriving their
    * buckets here means a dim filtered to a handful of keys scans a
    * handful of bucket dirs out of a 100 TB fact table — pruning decided
    * at RUN time, when the keys literally cannot be in the SQL text.
    * Returns None (no pruning) unless every merge-key column is pinned. */
  def deriveBucketsV2(predicates: Array[Predicate]): Option[Set[Int]] = {
    if (keyCols.isEmpty) return None // keyless: row-hash buckets, no pruning
    val valuesPerKey: Seq[Seq[(Any, org.apache.spark.sql.types.DataType)]] =
      keyCols.map { k =>
        predicates.toSeq.flatMap(v2KeyLiterals(k, _)).headOption
          .getOrElse(Seq.empty)
      }
    if (valuesPerKey.exists(_.isEmpty)) return None
    if (valuesPerKey.map(_.size.toLong).product > MaxCombos) return None
    val tuples = valuesPerKey.foldLeft(
      Seq(Seq.empty[(Any, org.apache.spark.sql.types.DataType)])) {
      (acc, vs) => for (t <- acc; v <- vs) yield t :+ v
    }
    Some(tuples.map { t =>
      var h = 42L
      t.foreach { case (v, dt) => h = XxHash64Function.hash(v, dt, h) }
      (((h % nBuckets) + nBuckets) % nBuckets).toInt
    }.toSet)
  }

  private def v2KeyLiterals(k: String, p: Predicate)
      : Option[Seq[(Any, org.apache.spark.sql.types.DataType)]] = {
    import org.apache.spark.sql.connector.expressions.{LiteralValue, NamedReference}
    def ref(e: org.apache.spark.sql.connector.expressions.Expression): Boolean =
      e match {
        case r: NamedReference =>
          r.fieldNames().length == 1 && r.fieldNames()(0) == k
        case _ => false
      }
    def lit(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[(Any, org.apache.spark.sql.types.DataType)] = e match {
      case l: LiteralValue[_] if l.value != null => Some((l.value, l.dataType))
      case _ => None
    }
    p.name() match {
      case "IN" if p.children().length >= 2 && ref(p.children()(0)) =>
        val vs = p.children().drop(1).toSeq.map(lit)
        if (vs.forall(_.isDefined)) Some(vs.flatten) else None
      case "=" | "<=>" if p.children().length == 2 =>
        val Array(a, b) = p.children()
        if (ref(a)) lit(b).map(Seq(_))
        else if (ref(b)) lit(a).map(Seq(_))
        else None
      case _ => None
    }
  }

  /** literal constraint set for column `k` in one filter, if exact. */
  private def keyLiterals(k: String, f: Expression): Option[Seq[Literal]] = f match {
    case EqualTo(a: AttributeReference, l: Literal) if a.name == k && l.value != null =>
      Some(Seq(l))
    case EqualTo(l: Literal, a: AttributeReference) if a.name == k && l.value != null =>
      Some(Seq(l))
    case EqualNullSafe(a: AttributeReference, l: Literal) if a.name == k && l.value != null =>
      Some(Seq(l))
    case EqualNullSafe(l: Literal, a: AttributeReference) if a.name == k && l.value != null =>
      Some(Seq(l))
    case In(a: AttributeReference, vs) if a.name == k &&
        vs.nonEmpty && vs.forall(v => v.isInstanceOf[Literal] &&
          v.asInstanceOf[Literal].value != null) =>
      Some(vs.map(_.asInstanceOf[Literal]))
    // the optimizer rewrites IN-lists past inSetConversionThreshold
    // (default 10) to InSet BEFORE pushdown — without this case an 11-key
    // lookup silently full-scans while a 10-key one prunes
    case org.apache.spark.sql.catalyst.expressions.InSet(a: AttributeReference, hset)
        if a.name == k && hset.nonEmpty && hset.size <= MaxCombos &&
          !hset.contains(null) =>
      Some(hset.toSeq.map(v => Literal(v, a.dataType)))
    case _ => None
  }
}
