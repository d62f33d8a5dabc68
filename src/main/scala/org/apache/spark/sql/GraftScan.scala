package org.apache.spark.sql

import java.util.{Collections, IdentityHashMap}

import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, GenericInternalRow}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownAggregates, SupportsPushDownRequiredColumns, SupportsReportPartitioning, SupportsReportStatistics, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
import org.apache.spark.sql.types.StructType

/** Logical ↔ physical column names of one graft read. `toPhys` maps
  * top-level names; `structCols` are struct columns whose inner field
  * names map through it too (the changelog's before image). */
final case class GraftNameMap(toPhys: Map[String, String],
    structCols: Set[String] = Set.empty) {
  private val toLog = toPhys.map(_.swap)
  def isIdentity: Boolean = toPhys.forall(kv => kv._1 == kv._2)
  def physical(name: String): String = toPhys.getOrElse(name, name)
  def physical(s: StructType): StructType = rename(s, toPhys)
  def logical(s: StructType): StructType = rename(s, toLog)
  private def rename(s: StructType, m: Map[String, String]): StructType =
    StructType(s.fields.map { f =>
      val dt = f.dataType match {
        case st: StructType if structCols.contains(f.name) =>
          StructType(st.fields.map(g => g.copy(name = m.getOrElse(g.name, g.name))))
        case other => other
      }
      f.copy(name = m.getOrElse(f.name, f.name), dataType = dt)
    }.toSeq)
}

object GraftNameMap {
  val Identity: GraftNameMap = GraftNameMap(Map.empty)
}

/** What a catalog table scan derives from its pushed filters and serves
  * as statistics: merge-key → bucket and source-column → `gpart` pruning,
  * the version dir whose manifests give row counts, and the ANALYZE
  * column stats keyed by LOGICAL name (empty when never analyzed).
  * Internal reads carry none of it. */
final case class GraftDerivations(bucketing: GraftBucketDerivation,
    partitioning: Option[GraftPartDerivation], versionDir: String,
    colStats: () => Map[String, graft.sources.GraftStats.TableColStat])

/** The one scan builder of every graft read: table scans, `t$changes`,
  * the row-level operation's target scan and every internal version read
  * (in-package because [[SupportsPushDownCatalystFilters]] is
  * `private[sql]` — the same shim pattern as [[GraftSqlShim]]).
  *
  * `delegate` builds the stock parquet builder from the pushed filters
  * (a table scan ignores them; `t$changes` plans only the slices its
  * version predicates admit). It is built on first use: after
  * `pushFilters` when Spark pushes down, with no filters otherwise.
  *
  * Column mapping: the store's RENAME COLUMN is metadata-only, so parquet
  * files keep a column's original PHYSICAL name forever. Required
  * columns and pushed filters are translated logical→physical on the way
  * down, and the scan's `readSchema()` is translated physical→logical on
  * the way back up, so Spark resolves the pruned relation against
  * logical names while the parquet reader matches file names. Rows never
  * need translation — `InternalRow` is positional and the field ORDER is
  * identical on both sides (nested field accesses are ordinal-based too,
  * so only names map). Filter translation rewrites only top-level
  * [[AttributeReference]] names and returns Spark's ORIGINAL expression
  * objects for the post-scan residue, identity-matched. Aggregate
  * pushdown is withheld from renamed reads (the Aggregation would
  * reference logical names the files don't have, and V2 expression trees
  * offer no transform hook) and while delete slices are live (footers
  * count dead rows); Spark then runs a normal scan + aggregate.
  *
  * While `probe` is set, column pruning is AUGMENTED with the physical
  * merge-key columns the delete probe reads; [[GraftScan]] drops them
  * from its output again. */
final class GraftScanBuilder(
    delegate: Seq[Expression] => ParquetScanBuilder,
    names: GraftNameMap = GraftNameMap.Identity,
    derivations: Option[GraftDerivations] = None,
    probe: Option[GraftDeleteProbe] = None,
    spjKeys: Option[Array[Transform]] = None,
    stream: Option[() => MicroBatchStream] = None)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownCatalystFilters with SupportsPushDownAggregates {

  private var pushed: Seq[Expression] = Nil
  private lazy val files: ParquetScanBuilder = delegate(pushed)

  /** Pushed conjuncts in PHYSICAL names — the zone-map evaluation input
    * (file stats are keyed by physical column, matching the footers). ALL
    * pushed filters qualify, residue included: each is a true row
    * predicate, so any file they prove empty is skippable. */
  private var statsFilters: Seq[Expression] = Nil
  /** Key columns read only for the delete probe. */
  private var augmented: Seq[String] = Nil

  override def pruneColumns(requiredSchema: StructType): Unit = {
    val required = names.physical(requiredSchema)
    augmented = probe.toSeq.flatMap(_.keyCols)
      .filterNot(required.fieldNames.contains)
    files.pruneColumns(
      StructType(required.fields ++ augmented.map(files.dataSchema(_))))
  }

  private def aggregatable: Boolean = names.isIdentity && probe.isEmpty
  override def pushAggregation(aggregation: Aggregation): Boolean =
    aggregatable && files.pushAggregation(aggregation)
  override def supportCompletePushDown(aggregation: Aggregation): Boolean =
    aggregatable && files.supportCompletePushDown(aggregation)

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    pushed = filters
    val renamed = filters.map(_.transform {
      case a: AttributeReference => a.withName(names.physical(a.name))
    })
    // zone maps serve table scans only: internal reads and `t$changes`
    // keep the bare parquet plan
    if (derivations.isDefined) statsFilters = renamed
    // Bucket pruning: when the filters pin EVERY merge-key column to
    // literal value(s), the store's hash tells us exactly which bucket
    // directories can hold matches — synthesize a partition filter on the
    // bucket column so the delegated scan file-prunes to them. A point
    // lookup on a 100 TB table then touches 1/buckets of the files.
    // Partition pruning: filters on the partition SOURCE column derive
    // same-direction bounds on the gpart ordinal (see
    // GraftPartDerivation). The original predicates stay in the residue,
    // so a derivation that prunes nothing still returns exact results.
    val synthetic = derivations.toSeq.flatMap(d =>
      d.bucketing.deriveFilter(filters).toSeq ++
        d.partitioning.flatMap(_.deriveFilter(filters)).toSeq)
    val residue = files.pushFilters(renamed ++ synthetic)
    // FileScanBuilder returns a subset of the expressions it was given;
    // identity-match them back to the caller's originals so the post-scan
    // filter references the logical plan's own attributes. (The synthetic
    // filters are consumed as partition filters and never return.)
    val residueSet = Collections.newSetFromMap(
      new IdentityHashMap[Expression, java.lang.Boolean]())
    residue.foreach(residueSet.add)
    filters.zip(renamed).collect { case (orig, r) if residueSet.contains(r) => orig }
  }

  /** Physical names leak into EXPLAIN's PushedFilters for renamed tables;
    * cosmetic only. */
  override def pushedFilters: Array[Predicate] = files.pushedFilters

  override def build(): Scan =
    new GraftScan(files.build(), names, derivations, statsFilters, probe,
      augmented, spjKeys.filter(_ => probe.isEmpty), stream)
}

/** The one scan of every graft read, over the delegated parquet scan
  * `files`. Its batch applies, in order:
  *  1. file pruning — files outside the buckets a join-time runtime
  *     filter admits (DPP) and files whose ZONE-MAP stats prove no row
  *     satisfies the pushed conjuncts ([[graft.sources.GraftStats]]);
  *  2. then either merge-on-read planning while delete slices are live
  *     ([[GraftDeleteProbe.plan]]) or, for storage-partitioned joins,
  *     one input partition per `gbucket=N` directory;
  *  3. the matching reader factory.
  * Every pruning step only ever narrows to a correct superset, and
  * delete application only REMOVES rows, so each decision stays valid
  * under the next.
  *
  * Storage-partitioned join (`grouping`, opt-in through
  * `spark.graft.store.spj=true` + Spark's own
  * `spark.sql.sources.v2.bucketing.enabled=true`): the scan reports
  * `KeyGroupedPartitioning(bucket(n, keys))`, so a join between two graft
  * tables with the same merge keys and bucket count pairs partitions by
  * bucket id with NO shuffle on either side (the `bucket` transform
  * resolves through GraftCatalog's FunctionCatalog). One partition per
  * bucket trades scan parallelism for shuffle elimination — the right
  * trade exactly when a co-located join dominates. The bucket id comes
  * from the file PATH, not from partition-value rows: column pruning drops
  * the bucket column from `readPartitionSchema`. */
final class GraftScan(files: Scan, names: GraftNameMap,
    derivations: Option[GraftDerivations], statsFilters: Seq[Expression],
    probe: Option[GraftDeleteProbe], augmented: Seq[String],
    grouping: Option[Array[Transform]],
    stream: Option[() => MicroBatchStream])
    extends Scan with SupportsReportStatistics with SupportsReportPartitioning
    with SupportsRuntimeV2Filtering {

  private val filesSchema = files.readSchema()
  /** Ordinals of `filesSchema` this scan outputs: all but [[augmented]]. */
  private val kept: Array[Int] = filesSchema.fields.indices
    .filterNot(i => augmented.contains(filesSchema(i).name)).toArray

  override def readSchema(): StructType =
    names.logical(StructType(kept.map(filesSchema(_)).toSeq))
  override def description(): String = s"GraftScan(${files.description()})"
  override def supportedCustomMetrics(): Array[CustomMetric] =
    files.supportedCustomMetrics()
  override def reportDriverMetrics(): Array[CustomTaskMetric] =
    files.reportDriverMetrics()
  /** Delete application reads row-based: Spark's PARTITION_DEFINED mode
    * refuses a plan that mixes columnar and row partitions. */
  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    if (probe.isDefined) Scan.ColumnarSupportMode.PARTITION_DEFINED
    else files.columnarSupportMode()
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    stream.fold(super.toMicroBatchStream(checkpointLocation))(_())

  /** Buckets admitted by a join-time runtime filter (DPP): None = no
    * runtime pruning, scan everything. Set once by [[filter]] before
    * `BatchScanExec` re-plans partitions. */
  @volatile private var allowedBuckets: Option[Set[Int]] = None

  /** Advertise the merge-key columns as runtime-filterable: Spark's
    * dynamic-partition-pruning rule then plants the broadcast side's key
    * values as an IN predicate on joins over them. ONLY when every key
    * column is in THIS scan's output: DPP resolves these refs against the
    * pruned relation and THROWS on a miss — and a pruned-out key can
    * never carry a join-time filter anyway (no join condition references
    * it). Bucket-grouped scans plan their partitions once, so they take
    * no runtime filter. */
  override def filterAttributes(): Array[NamedReference] = {
    val out = readSchema().fieldNames.toSet
    derivations.filter(_ => grouping.isEmpty).map(_.bucketing.keyCols)
      .filter(_.forall(out.contains))
      .map(_.map(Expressions.column).toArray)
      .getOrElse(Array.empty)
  }

  override def filter(predicates: Array[Predicate]): Unit =
    allowedBuckets = derivations.flatMap(_.bucketing.deriveBucketsV2(predicates))

  override def outputPartitioning(): Partitioning = grouping match {
    case Some(keys) if grouped.nonEmpty =>
      new KeyGroupedPartitioning(
        keys.map(_.asInstanceOf[org.apache.spark.sql.connector.expressions.Expression]),
        grouped.length)
    case _ => new UnknownPartitioning(0)
  }

  private lazy val grouped: Array[InputPartition] = {
    val pfs = prune(files.toBatch.planInputPartitions(), None).flatMap {
      case fp: FilePartition => fp.files
      case other => sys.error(s"expected FilePartition, got ${other.getClass}")
    }
    pfs.groupBy { pf =>
      GraftScan.bucketOf(pf.filePath.toString)
        .getOrElse(sys.error(s"file outside a bucket dir: ${pf.filePath}"))
    }.toArray.sortBy(_._1).zipWithIndex.map { case ((b, fs), i) =>
      GraftBucketPartition(FilePartition(i, fs),
        new GenericInternalRow(Array[Any](b))): InputPartition
    }
  }

  /** A plain read hands Spark the delegate's own batch, so equal scans
    * stay equal for exchange reuse. Every other batch is planned FRESH on
    * each call: `BatchScanExec` re-plans after a runtime filter lands,
    * and the reader factory stays valid because runtime filters only
    * ever REMOVE files. */
  override def toBatch: Batch = {
    val admitted = allowedBuckets
    if (admitted.isEmpty && statsFilters.isEmpty && probe.isEmpty &&
        grouping.isEmpty) files.toBatch
    else new Batch {
      private val batch = files.toBatch
      override def planInputPartitions(): Array[InputPartition] =
        if (grouping.isDefined) grouped
        else {
          val parts = prune(batch.planInputPartitions(), admitted)
          probe.fold(parts)(_.plan(parts))
        }
      override def createReaderFactory(): PartitionReaderFactory = {
        val inner = batch.createReaderFactory()
        probe match {
          case Some(p) => p.readerFactory(inner, filesSchema, kept)
          case None if grouping.isDefined => new GraftBucketReaderFactory(inner)
          case None => inner
        }
      }
    }
  }

  /** Drops files outside `admitted` buckets and files the zone maps
    * prove empty. A file with no bucket segment, outside a version dir,
    * or without usable stats is kept. */
  private def prune(parts: Array[InputPartition],
      admitted: Option[Set[Int]]): Array[InputPartition] =
    if (admitted.isEmpty && statsFilters.isEmpty) parts
    else if (!parts.forall(_.isInstanceOf[FilePartition])) parts // unknown: no pruning
    else {
      val vre = "^(.*/v\\d{10})/(.+)$".r
      // one (cached) manifest lookup per version dir seen in this plan
      val manifests = scala.collection.mutable.Map.empty[String,
        Map[String, graft.sources.GraftStore.ManifestFile]]
      def statsKeep(path: String): Boolean = path match {
        case vre(vdir, rel) =>
          manifests.getOrElseUpdate(vdir, graft.sources.GraftStore
              .manifestOf(GraftScan.localPath(vdir)).files)
            .get(rel).forall(f =>
              graft.sources.GraftStats.mayContain(statsFilters, f.stats))
        case _ => true
      }
      def bucketKeep(path: String): Boolean =
        admitted.forall(bs => GraftScan.bucketOf(path).forall(bs.contains))
      parts.iterator.map(_.asInstanceOf[FilePartition])
        .map(fp => fp.files.filter { f =>
          val p = f.filePath.toString
          bucketKeep(p) && statsKeep(p)
        })
        .filter(_.nonEmpty)
        .zipWithIndex
        .map { case (fs, i) => FilePartition(i, fs): InputPartition }
        .toArray
    }

  /** Delegate's byte estimate, plus an EXACT row count from the version's
    * zone-map manifest when nothing is pushed — Spark's join-size
    * estimation then works from real numbers instead of compressed-bytes
    * guesses. Internal reads and `t$changes` carry no derivations and keep
    * the delegate's estimate. */
  override def estimateStatistics(): Statistics = {
    val base = files match {
      case s: SupportsReportStatistics => s.estimateStatistics()
      case _ => new Statistics {
        override def sizeInBytes() = java.util.OptionalLong.empty()
        override def numRows() = java.util.OptionalLong.empty()
      }
    }
    // live merge-on-read delete slices: footer counts include dead rows —
    // keep the delegate's conservative estimates for everything below
    val tableVersion: Option[(String, Long)] = derivations
      .map(d => GraftScan.localPath(d.versionDir))
      .filterNot(graft.sources.GraftStore.hasLiveDv)
      .collect { case GraftScan.TableVersionRe(tdir, v) => (tdir, v.toLong) }
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
    val cols: java.util.Map[NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
      if (statsFilters.nonEmpty || tableVersion.isEmpty)
        java.util.Collections.emptyMap()
      else {
        val out = new java.util.HashMap[NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
        val stats = derivations.get.colStats()
        readSchema().fields.foreach { f =>
          stats.get(f.name).foreach { s =>
            out.put(Expressions.column(f.name), GraftScan.v2ColStat(s, f.dataType))
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

object GraftScan {
  /** `<tableDir>/v<10 digits>` — splits a version-dir path back into
    * (table dir, version) for manifest resolution. */
  private[sql] val TableVersionRe = "^(.*)/v(\\d{10})$".r

  private val BucketRe =
    ("(?:^|/)" + graft.sources.GraftStore.BucketCol + "=(\\d+)(?:/|$)").r

  /** The `gbucket=N` id in a file path, if it has one. */
  private[sql] def bucketOf(path: String): Option[Int] =
    BucketRe.findFirstMatchIn(path).map(_.group(1).toInt)

  private def localPath(p: String): String =
    if (p.startsWith("file:")) java.nio.file.Paths.get(java.net.URI.create(p)).toString
    else p

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

/** One bucket's files as one input partition, keyed by bucket id. */
final case class GraftBucketPartition(fp: FilePartition,
    key: org.apache.spark.sql.catalyst.InternalRow)
    extends InputPartition with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): org.apache.spark.sql.catalyst.InternalRow = key
  override def preferredLocations(): Array[String] = fp.preferredLocations()
}

final class GraftBucketReaderFactory(delegate: PartitionReaderFactory)
    extends PartitionReaderFactory {
  import org.apache.spark.sql.connector.read.PartitionReader
  private def unwrap(p: InputPartition) = p.asInstanceOf[GraftBucketPartition].fp
  override def createReader(p: InputPartition): PartitionReader[org.apache.spark.sql.catalyst.InternalRow] =
    delegate.createReader(unwrap(p))
  override def createColumnarReader(p: InputPartition): PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    delegate.createColumnarReader(unwrap(p))
  override def supportColumnarReads(p: InputPartition): Boolean =
    delegate.supportColumnarReads(unwrap(p))
}
