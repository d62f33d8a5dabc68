package org.apache.spark.sql

import graft.sources.{GraftStore, GraftStreamLimits, GraftTableMeta}
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Cast, EqualTo, Expression, GenericInternalRow, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.execution.datasources.{PartitioningAwareFileIndex, PartitionPath, PartitionSpec}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Builds the delegated parquet scan for one graft-store SNAPSHOT under
  * the manifest layout: a version's live files stay in the version
  * dirs that WROTE them (manifest slot references, no per-commit link
  * pass), so a snapshot is not one directory — it is a resolved list of
  * `[gpart=<v>/]gbucket=<k>` leaf dirs spread across owner versions.
  * Hive-style partition discovery cannot serve that (mixed non-partition
  * `vNNN` segments ⇒ "conflicting directory structures"), so this shim
  * does what Delta/Iceberg do on Spark: hand the stock
  * [[ParquetScanBuilder]] an [[InMemoryFileIndex]] whose [[PartitionSpec]]
  * is authored from the store's own manifest — one partition entry per
  * (slot, owner dir), the partition ordinal and bucket id as the
  * partition values. Everything above keeps working unchanged: pushed
  * `gbucket=`/`gpart` filters prune at the file index (S18 point lookups,
  * S30 partition pruning), DPP/zone-map pruning key on path segments the
  * layout preserves, SPJ regroups by the same segment, and column
  * pruning/filter pushdown/vectorized reads are the stock parquet path.
  * In-package because `InMemoryFileIndex`'s partition-spec constructor
  * and `ParquetScanBuilder` are `private[sql]` — the same shim pattern as
  * [[GraftSqlShim]]. */
object GraftSnapshotScan {

  /** Catalyst type of the `gpart` partition column: the source column's
    * type for identity partitioning, INT ordinal for the time transforms. */
  def partType(meta: GraftTableMeta, physSchema: StructType): Option[DataType] =
    meta.partition.map {
      case ("identity", physCol) => physSchema(physCol).dataType
      case _ => IntegerType
    }

  /** Internal (catalyst) value of one `gpart=<s>` directory segment. */
  def partInternal(s: String, dt: DataType): Any =
    if (s == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null
    else Cast(Literal(UTF8String.fromString(
        ExternalCatalogUtils.unescapePathName(s)), StringType),
      dt, Some("UTC")).eval(null)

  // the authored (PartitionSpec, dir → files) of a snapshot is a pure
  // function of the version (+ the partition-column type), but building
  // it is O(slots) — a plan-heavy workload (many pruned queries against
  // one snapshot) must not re-author 100k PartitionPath / FileStatus
  // objects per query
  private val authoredCache = GraftStore.versionCache[
    (PartitionSpec, Map[Path, Array[FileStatus]])](64)

  /** Data columns as stored plus the partition columns ([`gpart`,]
    * `gbucket`) — the full read schema of a snapshot scan. */
  def readSchema(meta: GraftTableMeta, physSchema: StructType): StructType =
    StructType(physSchema.fields ++
      partType(meta, physSchema).map(t =>
        StructField(GraftStore.PartCol, t, nullable = true)).toSeq :+
      StructField(GraftStore.BucketCol, IntegerType, nullable = true))

  /** A ParquetScanBuilder over the resolved snapshot (`tableDir`, `v`).
    * `physSchema` = the data columns as stored in files; the partition
    * columns ([`gpart`,] `gbucket`) are appended here.
    *
    * The file index is built ENTIRELY from the store's version manifests
    * (slot owners + file names/sizes) — zero filesystem
    * listing at plan time. An InMemoryFileIndex lists every slot dir
    * before pruning can run, so a one-day scan of a 129-day × 16-bucket
    * table paid a ~2000-directory listing job per query (measured ~4 s at
    * 10M rows); planning from metadata is the object-store design point
    * this store exists for.
    *
    * `slots` restricts the authored file index to those
    * `[gpart=<v>/]gbucket=<k>` slots (a maintenance rewrite's working
    * set); a restricted index is not cached. */
  def parquetScanBuilder(spark: SparkSession, tableDir: String, v: Long,
      meta: GraftTableMeta, physSchema: StructType,
      options: CaseInsensitiveStringMap,
      slots: Option[Set[String]] = None): ParquetScanBuilder = {
    val pt = partType(meta, physSchema)
    val schema = readSchema(meta, physSchema)
    val partCols = StructType(schema.fields.drop(physSchema.length))
    def author(entries: Seq[GraftStore.SnapshotFile])
        : (PartitionSpec, Map[Path, Array[FileStatus]]) = {
      val hconf = spark.sessionState.newHadoopConf()
      val fs = new Path(tableDir).getFileSystem(hconf)
      def qualified(p: String): Path = fs.makeQualified(new Path(p))
      val bySlotDir = entries.groupBy(e =>
        e.path.stripSuffix("/" + e.rel.substring(e.rel.lastIndexOf('/') + 1)))
      val parts = bySlotDir.toSeq.sortBy(_._1).map { case (d, es) =>
        val slot = es.head.slot
        val b = GraftStore.slotBucket(slot)
        val values: Array[Any] = pt match {
          case Some(t) => Array(
            GraftStore.slotPart(slot).map(partInternal(_, t)).orNull, b)
          case None => Array(b)
        }
        val files = es.map(e => new FileStatus(e.size, false, 1, 134217728L,
          0L, qualified(e.path))).toArray
        (PartitionPath(new GenericInternalRow(values), qualified(d)), files)
      }
      (PartitionSpec(partCols, parts.map(_._1)),
        parts.map(p => p._1.path -> p._2).toMap)
    }
    val (spec, filesByDir) = slots match {
      case Some(keep) => author(GraftStore.snapshotFileEntries(tableDir, v)
        .filter(e => keep.contains(e.slot)))
      case None =>
        authoredCache(GraftStore.versionDir(tableDir, v),
            pt.map(t => s"#${t.sql}").getOrElse(""))(
          author(GraftStore.snapshotFileEntries(tableDir, v)))
    }
    val index = new GraftSlotFileIndex(spark, spec, filesByDir)
    ParquetScanBuilder(spark, index, schema, physSchema, options)
  }

  /** The scan of version `v` that every read outside the catalog's table
    * scan plans — commit legs, maintenance rewrites, ANALYZE, MV refresh
    * (through [[GraftVersionTable]]) and the changes stream's snapshot
    * leg: the snapshot scan over the physical columns, applying the
    * version's cached delete probe while it has live delete slices, with
    * no derivations and no statistics. Read schema: [[readSchema]]. */
  def versionScanBuilder(spark: SparkSession, tableDir: String, v: Long,
      meta: GraftTableMeta, slots: Option[Set[String]] = None)
      : GraftScanBuilder =
    new GraftScanBuilder(_ => parquetScanBuilder(spark, tableDir, v, meta,
        GraftStore.physicalSchema(meta.schema),
        CaseInsensitiveStringMap.empty(), slots),
      probe = GraftDeleteProbe.load(spark, tableDir, v, meta))

  /** The one scan of a table's changelog: a ParquetScanBuilder over the
    * published slices of versions [`fromV`, `toV`] (capped at the
    * pointer), partitioned by `change_version`. The file index is authored
    * from the cached slice entries ([[GraftStreamLimits.slice]]), so
    * planning lists nothing outside the range. `insertOnly` keeps only
    * the slices whose `change_op` footers prove them all INSERTs. */
  def changesScanBuilder(spark: SparkSession, dir: String,
      meta: GraftTableMeta, fromV: Long, toV: Long,
      insertOnly: Boolean = false): ParquetScanBuilder = {
    val (partCols, dataSchema) = GraftStore.physicalChangesSchema(meta)
      .asNullable.partition(_.name == GraftStore.ChangeVersionCol)
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    val parts = GraftStore.retainedSlices(dir, fromV,
        math.min(toV, GraftStore.currentVersion(dir)))
      .map(GraftStreamLimits.slice(dir, _))
      .filter(sl => !insertOnly || sl.insertOnly).map { sl =>
        val d = fs.makeQualified(new Path(sl.dir))
        (PartitionPath(new GenericInternalRow(Array[Any](sl.version)), d),
          sl.files.map { case (rel, size) =>
            new FileStatus(size, false, 1, 134217728L, 0L, new Path(d, rel))
          }.toArray)
      }
    val index = new GraftSlotFileIndex(spark,
      PartitionSpec(StructType(partCols), parts.map(_._1)),
      parts.map(p => p._1.path -> p._2).toMap)
    ParquetScanBuilder(spark, index, StructType(dataSchema ++ partCols),
      StructType(dataSchema), CaseInsensitiveStringMap.empty())
  }

  /** The `change_version` range [lo, hi] that pushed comparisons with
    * literals admit (unbounded if none) — what a `t$changes` scan plans.
    * The filters are still pushed into the range's builder, so results
    * never depend on which shapes this recognizes. */
  def changesRange(filters: Seq[Expression]): (Long, Long) = {
    def v(e: Expression): Option[Long] = e match {
      case Literal(n: java.lang.Long, LongType) => Some(n.longValue)
      case _ => None
    }
    def isV(a: Expression) = a match {
      case a: AttributeReference => a.name == GraftStore.ChangeVersionCol
      case _ => false
    }
    val (lo, hi) = (Long.MinValue, Long.MaxValue)
    filters.flatMap {
      case EqualTo(a, l) if isV(a) => v(l).map(x => (x, x))
      case GreaterThan(a, l) if isV(a) => v(l).map(x => (x + 1, hi))
      case GreaterThanOrEqual(a, l) if isV(a) => v(l).map(x => (x, hi))
      case LessThan(a, l) if isV(a) => v(l).map(x => (lo, x - 1))
      case LessThanOrEqual(a, l) if isV(a) => v(l).map(x => (lo, x))
      case In(a, ls) if isV(a) && ls.nonEmpty && ls.forall(v(_).isDefined) =>
        Some((ls.flatMap(v).min, ls.flatMap(v).max))
      case _ => None
    }.foldLeft((lo, hi)) { case ((l0, h0), (l, h)) =>
      (math.max(l0, l), math.min(h0, h)) }
  }
}

/** One version of a graft table as a bare readable table over
  * [[GraftSnapshotScan.versionScanBuilder]] — the relation behind
  * `GraftStore.readVersion`. Deliberately not a `GraftTable`: materialized
  * view shape derivation and rewrite match relations over `GraftTable`, so
  * they never take a commit-leg or maintenance read of a user table. */
final class GraftVersionTable(spark: SparkSession, tableDir: String, v: Long,
    meta: GraftTableMeta, slots: Option[Set[String]])
    extends Table with SupportsRead {
  private val schema0 = GraftSnapshotScan.readSchema(meta,
    GraftStore.physicalSchema(meta.schema))
  override def name(): String = s"graft-version:$tableDir@$v"
  override def schema(): StructType = schema0
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    GraftSnapshotScan.versionScanBuilder(spark, tableDir, v, meta, slots)
}

/** A [[PartitioningAwareFileIndex]] whose partition spec AND file listing
  * are authored from the graft store's manifests — the parent's
  * `listFiles` prunes partitions and looks children up in these maps, so
  * planning never touches the filesystem (file names and sizes come from
  * the version manifests, written at commit). Version dirs are immutable once
  * published, which is what makes the authored listing sound. */
final class GraftSlotFileIndex(spark: SparkSession, spec0: PartitionSpec,
    filesByDir: Map[Path, Array[FileStatus]])
    extends PartitioningAwareFileIndex(spark,
      Map.empty[String, String], None) {
  override def partitionSpec(): PartitionSpec = spec0
  override def rootPaths: Seq[Path] = spec0.partitions.map(_.path)
  override val leafDirToChildrenFiles: Map[Path, Array[FileStatus]] = filesByDir
  override val leafFiles: scala.collection.mutable.LinkedHashMap[Path, FileStatus] = {
    val m = new scala.collection.mutable.LinkedHashMap[Path, FileStatus]()
    filesByDir.valuesIterator.flatten.foreach(f => m.put(f.getPath, f))
    m
  }
  override def refresh(): Unit = ()
}
