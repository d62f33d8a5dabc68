package org.apache.spark.sql

import java.util.{Collections, IdentityHashMap}

import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualNullSafe, EqualTo, Expression, In, Literal, XxHash64Function}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.connector.metric.CustomMetric
import org.apache.spark.sql.connector.read.{Batch, Scan, ScanBuilder, Statistics, SupportsPushDownAggregates, SupportsPushDownRequiredColumns, SupportsReportPartitioning, SupportsReportStatistics}
import org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
import org.apache.spark.sql.types.{IntegerType, StructType}

/** Column-mapping bridge for renamed columns (in-package because
  * [[SupportsPushDownCatalystFilters]] is `private[sql]` — the same shim
  * pattern as [[GraftSqlShim]]).
  *
  * The graft store's RENAME COLUMN is metadata-only: parquet files keep
  * the column's original PHYSICAL name forever. This wrapper lets the
  * stock delegated parquet [[FileScanBuilder]] serve a logically-renamed
  * table without rewriting a byte: required columns and pushed filters are
  * translated logical→physical on the way down, and the scan's
  * `readSchema()` is translated physical→logical on the way back up, so
  * Spark resolves the pruned relation against logical names while the
  * parquet reader matches file names. Rows never need translation —
  * `InternalRow` is positional and the field ORDER is identical on both
  * sides (nested field accesses are ordinal-based too, so only names map).
  *
  * Pushdown survives in full: filter translation rewrites only
  * top-level [[AttributeReference]] names (nested references keep their
  * ordinals) and returns Spark's ORIGINAL expression objects for the
  * post-scan residue, identity-matched. Aggregate pushdown and runtime
  * filtering are NOT forwarded for renamed tables — correctness is
  * unaffected (Spark falls back to a normal scan+agg), and tables that
  * have never renamed a column bypass this wrapper entirely. */
final class GraftRenamingScanBuilder(delegate: ScanBuilder
      with SupportsPushDownRequiredColumns with SupportsPushDownCatalystFilters,
    logToPhys: Map[String, String], mapSchemaToPhys: StructType => StructType,
    mapSchemaToLog: StructType => StructType,
    wrapScan: Scan => Scan = identity,
    bucketing: Option[GraftBucketDerivation] = None,
    versionDir: Option[String] = None,
    partitioning: Option[GraftPartDerivation] = None,
    colStats: () => Map[String, graft.sources.GraftStats.TableColStat] =
      () => Map.empty)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownCatalystFilters with SupportsPushDownAggregates {

  private def identityMaps: Boolean = logToPhys.forall(kv => kv._1 == kv._2)

  override def pruneColumns(requiredSchema: StructType): Unit =
    delegate.pruneColumns(mapSchemaToPhys(requiredSchema))

  /** Aggregate pushdown (COUNT/MIN/MAX from parquet footers) forwards
    * untouched for tables that never renamed a column; a renamed table's
    * Aggregation would reference logical names the files don't have, and
    * V2 expression trees offer no transform hook — so those fall back to
    * a normal scan + aggregate (correct, just un-shortcut). */
  override def pushAggregation(aggregation: Aggregation): Boolean =
    identityMaps && (delegate match {
      case a: SupportsPushDownAggregates => a.pushAggregation(aggregation)
      case _ => false
    })
  override def supportCompletePushDown(aggregation: Aggregation): Boolean =
    identityMaps && (delegate match {
      case a: SupportsPushDownAggregates => a.supportCompletePushDown(aggregation)
      case _ => false
    })

  /** Pushed conjuncts in PHYSICAL names — the zone-map evaluation input
    * (file stats are keyed by physical column, matching the footers). ALL
    * pushed filters qualify, residue included: each is a true row
    * predicate, so any file they prove empty is skippable. */
  private var statsFilters: Seq[Expression] = Nil

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    val renamed = filters.map { f =>
      val r = f.transform {
        case a: AttributeReference if logToPhys.contains(a.name) =>
          a.withName(logToPhys(a.name))
      }
      (r, f)
    }
    statsFilters = renamed.map(_._1)
    // Bucket pruning: when the filters pin EVERY merge-key column to
    // literal value(s), the store's hash tells us exactly which bucket
    // directories can hold matches — synthesize a partition filter on the
    // bucket column so the delegated scan file-prunes to them. A point
    // lookup on a 100 TB table then touches 1/buckets of the files. The
    // original key filters stay in the residue, so a derivation that
    // finds no buckets still returns correct (empty) results.
    // Partition pruning: filters on the partition SOURCE column derive
    // same-direction bounds on the gpart ordinal — a partition filter the
    // delegated file index prunes directories with (see
    // GraftPartDerivation). Like the bucket filter, the original
    // predicate stays in the residue.
    val synthetic = bucketing.flatMap(_.deriveFilter(filters)).toSeq ++
      partitioning.flatMap(_.deriveFilter(filters)).toSeq
    val residue = delegate.pushFilters(renamed.map(_._1) ++ synthetic)
    // FileScanBuilder returns a subset of the expressions it was given;
    // identity-match them back to the caller's originals so the post-scan
    // filter references the logical plan's own attributes. (The synthetic
    // bucket filter is consumed as a partition filter and never returns.)
    val residueSet = Collections.newSetFromMap(
      new IdentityHashMap[Expression, java.lang.Boolean]())
    residue.foreach(residueSet.add)
    renamed.collect { case (r, orig) if residueSet.contains(r) => orig }
  }

  /** Physical names leak into EXPLAIN's PushedFilters for renamed tables;
    * cosmetic only. */
  override def pushedFilters(): Array[Predicate] = delegate.pushedFilters

  override def build(): Scan =
    wrapScan(new GraftRenamingScan(delegate.build(), mapSchemaToLog, bucketing,
      statsFilters, versionDir, colStats))
}

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

/** Storage-partitioned-join (SPJ) scan wrapper for [[graft.sources]]'
  * bucketed store: regroups the delegated parquet scan's file partitions
  * into ONE input partition per `gbucket=N` directory and reports
  * `KeyGroupedPartitioning(bucket(n, keys))`, so a join between two graft
  * tables with the same merge keys and bucket count pairs partitions by
  * bucket id with NO shuffle on either side (Spark's SPJ machinery, the
  * `bucket` transform resolving through GraftCatalog's FunctionCatalog).
  * Off by default — one partition per bucket trades scan parallelism for
  * shuffle elimination, the right trade exactly when a co-located join
  * dominates, so it's an explicit session opt-in
  * (`spark.graft.store.spj=true` + Spark's own
  * `spark.sql.sources.v2.bucketing.enabled=true`).
  *
  * The bucket id comes from the file PATH (`gbucket=N` path segment), not
  * from partition-value rows — column pruning drops the bucket column
  * from `readPartitionSchema`, so partition values can be empty. Row-group
  * splits of one file always land in that file's bucket partition. */
final class GraftKeyGroupedScan(delegate: Scan,
    groupingKeys: Array[org.apache.spark.sql.connector.expressions.Transform])
    extends Scan with SupportsReportPartitioning with SupportsReportStatistics {
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
  import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
  import org.apache.spark.sql.execution.datasources.FilePartition

  private lazy val grouped: Array[InputPartition] = {
    val parts = delegate.toBatch.planInputPartitions()
    val files = parts.flatMap {
      case fp: FilePartition => fp.files
      case other => sys.error(s"expected FilePartition, got ${other.getClass}")
    }
    val re = ("(?:^|/)" + graft.sources.GraftStore.BucketCol + "=(\\d+)(?:/|$)").r
    files.groupBy { pf =>
      re.findFirstMatchIn(pf.filePath.toString) match {
        case Some(m) => m.group(1).toInt
        case None => sys.error(s"file outside a bucket dir: ${pf.filePath}")
      }
    }.toArray.sortBy(_._1).zipWithIndex.map { case ((b, fs), i) =>
      GraftBucketPartition(FilePartition(i, fs),
        new GenericInternalRow(Array[Any](b)))
    }
  }

  override def readSchema(): StructType = delegate.readSchema()
  override def description(): String = s"GraftKeyGrouped(${delegate.description()})"
  override def outputPartitioning(): Partitioning =
    if (grouped.isEmpty) new UnknownPartitioning(0)
    else new KeyGroupedPartitioning(
      groupingKeys.map(_.asInstanceOf[org.apache.spark.sql.connector.expressions.Expression]),
      grouped.length)
  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] = grouped
    override def createReaderFactory(): PartitionReaderFactory =
      new GraftBucketReaderFactory(delegate.toBatch.createReaderFactory())
  }
  override def estimateStatistics(): Statistics = delegate match {
    case s: SupportsReportStatistics => s.estimateStatistics()
    case _ => new Statistics {
      override def sizeInBytes() = java.util.OptionalLong.empty()
      override def numRows() = java.util.OptionalLong.empty()
    }
  }
}

/** One bucket's files as one input partition, keyed by bucket id. */
final case class GraftBucketPartition(
    fp: org.apache.spark.sql.execution.datasources.FilePartition,
    key: org.apache.spark.sql.catalyst.InternalRow)
    extends org.apache.spark.sql.connector.read.InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): org.apache.spark.sql.catalyst.InternalRow = key
  override def preferredLocations(): Array[String] = fp.preferredLocations()
}

final class GraftBucketReaderFactory(
    delegate: org.apache.spark.sql.connector.read.PartitionReaderFactory)
    extends org.apache.spark.sql.connector.read.PartitionReaderFactory {
  import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader}
  private def unwrap(p: InputPartition) = p.asInstanceOf[GraftBucketPartition].fp
  override def createReader(p: InputPartition): PartitionReader[org.apache.spark.sql.catalyst.InternalRow] =
    delegate.createReader(unwrap(p))
  override def createColumnarReader(p: InputPartition): PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    delegate.createColumnarReader(unwrap(p))
  override def supportColumnarReads(p: InputPartition): Boolean =
    delegate.supportColumnarReads(unwrap(p))
}

/** Adds a micro-batch streaming leg to a batch ScanBuilder (in-package for
  * the same `private[sql]` pushdown-interface reason as the renaming
  * builder): batch queries flow through `inner` untouched — pruning,
  * filters, the works — while `readStream.table` gets the supplied
  * [[org.apache.spark.sql.connector.read.streaming.MicroBatchStream]]
  * (streaming v2 relations bypass pushdown, so the stream path always
  * sees the full schema and the two legs never interact). */
final class GraftStreamableScanBuilder(inner: ScanBuilder,
    mkStream: () => org.apache.spark.sql.connector.read.streaming.MicroBatchStream)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownCatalystFilters with SupportsPushDownAggregates {
  override def pruneColumns(requiredSchema: StructType): Unit = inner match {
    case p: SupportsPushDownRequiredColumns => p.pruneColumns(requiredSchema)
    case _ => ()
  }
  // aggregate pushdown must survive the wrap too — V2ScanRelationPushDown
  // type-checks the TOP-LEVEL builder, so omitting the interface here
  // silently demotes footer-served COUNT/MIN/MAX to full scans
  override def pushAggregation(aggregation: Aggregation): Boolean = inner match {
    case a: SupportsPushDownAggregates => a.pushAggregation(aggregation)
    case _ => false
  }
  override def supportCompletePushDown(aggregation: Aggregation): Boolean =
    inner match {
      case a: SupportsPushDownAggregates => a.supportCompletePushDown(aggregation)
      case _ => false
    }
  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = inner match {
    case p: SupportsPushDownCatalystFilters => p.pushFilters(filters)
    case _ => filters
  }
  override def pushedFilters(): Array[Predicate] = inner match {
    case p: SupportsPushDownCatalystFilters => p.pushedFilters
    case _ => Array.empty
  }
  override def build(): Scan = new GraftStreamableScan(inner.build(), mkStream)
}

final class GraftStreamableScan(delegate: Scan,
    mkStream: () => org.apache.spark.sql.connector.read.streaming.MicroBatchStream)
    extends Scan with SupportsReportStatistics
    with SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {
  override def readSchema(): StructType = delegate.readSchema()
  override def toBatch: Batch = delegate.toBatch
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = mkStream()
  override def description(): String = delegate.description()
  override def supportedCustomMetrics(): Array[CustomMetric] =
    delegate.supportedCustomMetrics()
  override def reportDriverMetrics(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    delegate.reportDriverMetrics()
  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    delegate.columnarSupportMode()
  // forward the batch delegate's planning interfaces so wrapping a table
  // scan for streaming can't silently demote its batch plans: SPJ's
  // KeyGroupedPartitioning and DPP's runtime filtering must survive
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    delegate match {
      case p: SupportsReportPartitioning => p.outputPartitioning()
      case _ =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
    }
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    delegate match {
      case f: org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering =>
        f.filterAttributes()
      case _ => Array.empty
    }
  override def filter(predicates: Array[
      org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit =
    delegate match {
      case f: org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering =>
        f.filter(predicates)
      case _ => ()
    }
  override def estimateStatistics(): Statistics = delegate match {
    case s: SupportsReportStatistics => s.estimateStatistics()
    case _ => new Statistics {
      override def sizeInBytes() = java.util.OptionalLong.empty()
      override def numRows() = java.util.OptionalLong.empty()
    }
  }
}

object GraftRenamingScan {
  /** `<tableDir>/v<10 digits>` — splits a version-dir path back into
    * (table dir, version) for manifest resolution. */
  private[sql] val TableVersionRe = "^(.*)/v(\\d{10})$".r

  /** ANALYZE stats as a V2 ColumnStatistics, min/max lifted into the
    * COLUMN's catalyst representation (estimation math casts by type —
    * serving a Long where an Int is expected would blow it up). Strings
    * serve NDV/nulls only. */
  private[sql] def v2ColStat(s: graft.sources.GraftStats.TableColStat,
      dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.connector.read.colstats.ColumnStatistics = {
    import org.apache.spark.sql.types._
    def lift(v: Any): Option[Object] = (dt, v) match {
      case (ByteType, l: Long) => Some(java.lang.Byte.valueOf(l.toByte))
      case (ShortType, l: Long) => Some(java.lang.Short.valueOf(l.toShort))
      case (IntegerType | DateType, l: Long) =>
        Some(java.lang.Integer.valueOf(l.toInt))
      case (LongType | TimestampType | TimestampNTZType, l: Long) =>
        Some(java.lang.Long.valueOf(l))
      case (FloatType, d: Double) => Some(java.lang.Float.valueOf(d.toFloat))
      case (DoubleType, d: Double) => Some(java.lang.Double.valueOf(d))
      case (BooleanType, b: Boolean) => Some(java.lang.Boolean.valueOf(b))
      case _ => None
    }
    val mn = s.min.flatMap(lift)
    val mx = s.max.flatMap(lift)
    // equi-height histogram (ANALYZE ... histogram_bins): Spark's v2-stats
    // conversion lifts it into the catalyst ColumnStat, where filter and
    // join estimation consume the bins — the skew signal min/max
    // interpolation can't carry
    val hist = s.histogram.map { h =>
      new org.apache.spark.sql.connector.read.colstats.Histogram {
        override def height(): Double = h.height
        override def bins()
            : Array[org.apache.spark.sql.connector.read.colstats.HistogramBin] =
          h.bins.map { case (l, u, n) =>
            new org.apache.spark.sql.connector.read.colstats.HistogramBin {
              override def lo(): Double = l
              override def hi(): Double = u
              override def ndv(): Long = n
            }
          }.toArray
      }
    }
    new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
      override def distinctCount() = java.util.OptionalLong.of(s.ndv)
      override def nullCount() = java.util.OptionalLong.of(s.nullCount)
      override def min() = mn
        .map(java.util.Optional.of[Object]).getOrElse(java.util.Optional.empty())
      override def max() = mx
        .map(java.util.Optional.of[Object]).getOrElse(java.util.Optional.empty())
      override def histogram() = hist
        .map(java.util.Optional.of[
          org.apache.spark.sql.connector.read.colstats.Histogram])
        .getOrElse(java.util.Optional.empty())
    }
  }
}

final class GraftRenamingScan(delegate: Scan,
    mapSchemaToLog: StructType => StructType,
    bucketing: Option[GraftBucketDerivation] = None,
    statsFilters: Seq[Expression] = Nil,
    versionDir: Option[String] = None,
    /** ANALYZE output keyed by LOGICAL column name, served through
      * `Statistics.columnStats()` (empty when never analyzed). */
    colStats: () => Map[String, graft.sources.GraftStats.TableColStat] =
      () => Map.empty)
    extends Scan with SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {
  import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
  import org.apache.spark.sql.execution.datasources.FilePartition

  /** Buckets admitted by a join-time runtime filter (DPP): None = no
    * runtime pruning, scan everything. Set once by [[filter]] before
    * `BatchScanExec` re-plans partitions. */
  @volatile private var allowedBuckets: Option[Set[Int]] = None

  /** Advertise the merge-key columns as runtime-filterable: Spark's
    * dynamic-partition-pruning rule then plants the broadcast side's key
    * values as an IN predicate on joins over them. ONLY when every key
    * column survived column pruning: DPP resolves these refs against the
    * scan's pruned output and THROWS on a miss (planning-time
    * AnalysisException on any join whose keys differ from the merge key
    * and whose projection drops it) — and a pruned-out key can never
    * carry a join-time filter anyway (no join condition references it). */
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    val out = readSchema().fieldNames.toSet
    bucketing.map(_.keyCols).filter(_.forall(out.contains))
      .map(_.map(
        org.apache.spark.sql.connector.expressions.Expressions.column).toArray)
      .getOrElse(Array.empty)
  }

  override def filter(predicates: Array[
      org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit =
    allowedBuckets = bucketing.flatMap(_.deriveBucketsV2(predicates))

  override def readSchema(): StructType = mapSchemaToLog(delegate.readSchema())

  /** File-level pruning over the delegated scan's plan: drop files outside
    * the runtime-admitted bucket set (DPP) and files whose ZONE-MAP stats
    * prove no row satisfies the pushed conjuncts
    * ([[graft.sources.GraftStats]]). Both checks only ever narrow to a
    * correct superset — a file with no bucket segment, no manifest, or no
    * usable stats entry is kept. */
  override def toBatch: Batch = {
    val bs = allowedBuckets
    if (bs.isEmpty && statsFilters.isEmpty) delegate.toBatch
    else new Batch {
      private val re =
        ("(?:^|/)" + graft.sources.GraftStore.BucketCol + "=(\\d+)(?:/|$)").r
      private val vre = "^(.*/v\\d{10})/(.+)$".r
      // one manifest read per version dir seen in this plan (usually one)
      private val manifests =
        scala.collection.mutable.Map.empty[String, Map[String, graft.sources.GraftStats.FileStats]]
      private def manifest(vdir: String): Map[String, graft.sources.GraftStats.FileStats] =
        manifests.getOrElseUpdate(vdir, {
          val local =
            if (vdir.startsWith("file:")) java.nio.file.Paths
              .get(java.net.URI.create(vdir)).toString
            else vdir
          graft.sources.GraftStats.readManifest(local)
        })
      private def statsKeep(path: String): Boolean = path match {
        case vre(vdir, rel) => manifest(vdir).get(rel) match {
          case Some(stats) => graft.sources.GraftStats.mayContain(statsFilters, stats)
          case None => true
        }
        case _ => true
      }
      private def bucketKeep(path: String): Boolean = bs match {
        case None => true
        case Some(admitted) => re.findFirstMatchIn(path) match {
          case Some(m) => admitted.contains(m.group(1).toInt)
          case None => true
        }
      }
      override def planInputPartitions(): Array[InputPartition] = {
        val parts = delegate.toBatch.planInputPartitions()
        if (!parts.forall(_.isInstanceOf[FilePartition])) parts // unknown: no pruning
        else parts.iterator.map(_.asInstanceOf[FilePartition])
          .map(fp => fp.files.filter { f =>
            val p = f.filePath.toString
            bucketKeep(p) && statsKeep(p)
          })
          .filter(_.nonEmpty)
          .zipWithIndex
          .map { case (fs, i) => FilePartition(i, fs): InputPartition }
          .toArray
      }
      override def createReaderFactory(): PartitionReaderFactory =
        delegate.toBatch.createReaderFactory()
    }
  }
  override def description(): String = s"GraftRenaming(${delegate.description()})"
  override def supportedCustomMetrics(): Array[CustomMetric] =
    delegate.supportedCustomMetrics()
  override def reportDriverMetrics(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    delegate.reportDriverMetrics()
  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    delegate.columnarSupportMode()
  /** Delegate's byte estimate, plus an EXACT row count from the version's
    * zone-map manifest when nothing is pushed — Spark's join-size
    * estimation then works from real numbers instead of compressed-bytes
    * guesses. A filtered scan keeps the delegate's (conservative)
    * estimate: the manifest only knows whole-version counts. */
  override def estimateStatistics(): Statistics = {
    val base = delegate match {
      case s: SupportsReportStatistics => s.estimateStatistics()
      case _ => new Statistics {
        override def sizeInBytes() = java.util.OptionalLong.empty()
        override def numRows() = java.util.OptionalLong.empty()
      }
    }
    val localVdir = versionDir.map { vd =>
      if (vd.startsWith("file:"))
        java.nio.file.Paths.get(java.net.URI.create(vd)).toString
      else vd
    }
    // live merge-on-read delete slices: footer counts include dead rows —
    // keep the delegate's conservative estimates for everything below
    val tableVersion: Option[(String, Long)] = localVdir
      .filterNot(graft.sources.GraftStore.hasLiveDv)
      .collect { case GraftRenamingScan.TableVersionRe(tdir, v) =>
        (tdir, v.toLong)
      }
    // exact live-row count from the resolved zone-map manifests; for a
    // PUSHED-FILTER scan, the same per-file stats that drive file skipping
    // bound the matching rows (sum over files the conjuncts cannot prove
    // empty) — a date-filtered fact table then reports a small scan and
    // BECOMES broadcast-able, the single biggest join-planning lever the
    // store controls
    val estRows: Option[Long] = tableVersion.flatMap { case (tdir, v) =>
      if (statsFilters.isEmpty)
        graft.sources.GraftStore.snapshotRowCount(tdir, v)
      else {
        val zone = graft.sources.GraftStore
          .estimatedMatchingRows(tdir, v, statsFilters)
        // within-file skew correction: ANALYZE histograms (when fresh)
        // estimate the pushed conjuncts' selectivity over the whole
        // snapshot — zone maps are a FILE-granular upper bound and can't
        // see 95% of a column sitting on one value; take the tighter of
        // the two (both estimate the same matching-row quantity)
        val hist = for {
          total <- graft.sources.GraftStore.snapshotRowCount(tdir, v)
          sel <- graft.sources.GraftStats.histogramSelectivity(statsFilters,
            graft.sources.GraftStore.freshTableColStats(tdir, v))
        } yield math.max(1L, math.ceil(total * sel).toLong)
        (zone, hist) match {
          case (Some(z), Some(h)) => Some(math.min(z, h))
          case (z, h) => z.orElse(h)
        }
      }
    }
    // ANALYZE column stats (unfiltered scans only — table-level NDVs over
    // a filtered scan would mislead the estimator), names already logical
    val cols: java.util.Map[org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
      if (statsFilters.nonEmpty || tableVersion.isEmpty)
        java.util.Collections.emptyMap()
      else {
        val out = new java.util.HashMap[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
        val stats = colStats()
        readSchema().fields.foreach { f =>
          stats.get(f.name).foreach { s =>
            out.put(org.apache.spark.sql.connector.expressions.Expressions
              .column(f.name), GraftRenamingScan.v2ColStat(s, f.dataType))
          }
        }
        out
      }
    if (estRows.isEmpty && cols.isEmpty) return base
    // scale the delegate's byte estimate by the matching-row ratio so a
    // filter-pruned scan reports proportionally fewer bytes (the broadcast
    // threshold compares BYTES); denominator = the snapshot's total rows
    val scaledBytes: java.util.OptionalLong =
      (estRows, tableVersion, base.sizeInBytes().isPresent) match {
        case (Some(r), Some((tdir, v)), true) if statsFilters.nonEmpty =>
          graft.sources.GraftStore.snapshotRowCount(tdir, v) match {
            case Some(total) if total > 0 =>
              java.util.OptionalLong.of(math.max(1L,
                (base.sizeInBytes().getAsLong.toDouble * r / total).toLong))
            case _ => base.sizeInBytes()
          }
        case _ => base.sizeInBytes()
      }
    new Statistics {
      override def sizeInBytes() = scaledBytes
      override def numRows() = estRows
        .map(java.util.OptionalLong.of).getOrElse(base.numRows())
      override def columnStats() = cols
    }
  }
}
