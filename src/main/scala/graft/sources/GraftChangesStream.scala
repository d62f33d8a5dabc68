package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{GraftSnapshotScan, SparkSession}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Admission control for the store's version-aligned streams: both rate
  * limits keep batches TRANSACTION-ALIGNED — a version is never split
  * across batches, so `maxRowsPerTrigger` is a budget the batch fills
  * version-by-version, not a hard row cap. The scale point: an unbounded
  * first batch over a long-retained changelog (or a fleet of consumers
  * restarting at once) is the classic backfill stampede; a bounded batch
  * keeps state-store and sink pressure flat no matter how far behind a
  * consumer is. Also caches the published slices every changelog read
  * plans from ([[slice]]). */
object GraftStreamLimits {

  /** One published changelog slice: its data files (path relative to the
    * slice dir, bytes), listed once — slices are immutable once
    * published. Footer facts are read lazily, so a plain read of the
    * slice opens no footer. */
  final class Slice(val version: Long, val dir: String,
      val files: Seq[(String, Long)]) {
    def bytes: Long = files.map(_._2).sum

    lazy val rows: Long = files.map(f =>
      GraftStats.fileRowCount(Paths.get(dir, f._1)).getOrElse(0L)).sum

    /** Whether every row is an INSERT, from the files' `change_op` footer
      * min/max. Our own writers always produce the stats; a file without
      * them cannot be classified, and silently guessing either way loses
      * data or leaks a partial commit — fail loudly instead. */
    lazy val insertOnly: Boolean = files.forall { case (rel, _) =>
      GraftStats.readFileStats(Paths.get(dir, rel))
        .get(GraftStore.ChangeOpCol) match {
        case Some(cs) if cs.min.isDefined && cs.max.isDefined =>
          cs.min.contains("I") && cs.max.contains("I")
        case _ => throw new IllegalStateException(
          s"cannot classify changelog slice $dir/$rel as insert-only: " +
            "change_op footer statistics are missing")
      }
    }
  }

  private val slices =
    new java.util.concurrent.ConcurrentHashMap[String, Slice]()

  /** Drop cached slices under a table dir — a DROPPED table recreated at
    * the same path restarts version numbering, a rebase replaces a
    * branch's slices, and expired slices are gone. */
  private[sources] def invalidate(tableDir: String): Unit = {
    // path-segment-scoped: dropping 'wh/t' must not evict 'wh/t2'
    val prefix = tableDir + java.io.File.separator
    slices.keySet.removeIf(k => k == tableDir || k.startsWith(prefix))
  }

  /** The published slice of version `v` (see [[GraftStore.retainedSlices]]). */
  def slice(dir: String, v: Long): Slice = {
    val sliceDir =
      s"${GraftStore.changesRoot(dir)}/${GraftStore.ChangeVersionCol}=$v"
    if (slices.size > 4096) slices.clear() // backstop, not LRU
    slices.computeIfAbsent(sliceDir, _ =>
      new Slice(v, sliceDir, GraftStats.listDataFiles(sliceDir)
        .map(rel => rel -> Files.size(Paths.get(sliceDir, rel)))))
  }

  /** Largest end version in (startV, latest] admitted by the limits:
    * at most `maxVersions` versions, and versions are admitted while the
    * cumulative slice row count stays within `maxRows` (the FIRST version
    * is always admitted — a single over-budget transaction must still
    * flow, else the stream starves). */
  def clampEnd(dir: String, startV: Long, latest: Long,
      maxVersions: Option[Long], maxRows: Option[Long]): Long = {
    var end = latest
    maxVersions.foreach(n => end = math.min(end, startV + n))
    maxRows.foreach { budget =>
      var v = startV
      var rows = 0L
      var full = false
      while (v < end && !full) {
        val next =
          if (GraftStore.hasChangelog(dir, v + 1)) slice(dir, v + 1).rows else 0L
        if (rows == 0L || rows + next <= budget) { v += 1; rows += next }
        else full = true
      }
      end = v
    }
    math.max(end, startV)
  }

  /** Parse a positive-long stream option, loudly. */
  def parse(options: CaseInsensitiveStringMap, key: String): Option[Long] =
    Option(options.get(key)).map { s =>
      val n = try s.trim.toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"option $key must be a positive integer, got '$s'")
      }
      require(n > 0, s"option $key must be positive, got $n")
      n
    }
}

/** Stream offset = committed store version (exclusive lower bound when used
  * as a range start). */
final case class GraftVersionOffset(v: Long) extends Offset {
  override def json(): String = v.toString
}

/** What the store's two version-aligned streams share: offsets are store
  * versions, `Trigger.AvailableNow` pins its target at start, and every
  * offset read takes the pointer FIRST and recovers the changelog second
  * — recovery keyed off a later pointer read could miss a writer that
  * flips the pointer after the recover ran but crashes before publishing
  * its changelog staging; the batch range would then cover a version
  * whose dir only appears after the NEXT recovery, and plan-time must not
  * have already skipped it (it re-recovers too, belt and braces). Rate
  * limits are the streams' own options: the engine ReadLimit passes. */
abstract class GraftVersionStream(dir: String) extends MicroBatchStream
    with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  protected def spark: SparkSession = SparkSession.active

  @volatile private var availableNowTarget: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(latestVersion())

  /** The pointer (read before recovery), capped at the AvailableNow target. */
  protected def latestVersion(): Long = {
    val real = GraftStore.currentVersion(dir)
    GraftStore.recoverChangelog(dir)
    availableNowTarget.map(math.min(_, real)).getOrElse(real)
  }

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead of this method")

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** `spark.readStream.table("cat.\`t$changes\`")` — the changelog as a
  * native DSv2 micro-batch stream with VERSION-ALIGNED batches: each
  * micro-batch is exactly the change slices of versions (start, end], so a
  * batch boundary is always a transaction boundary. Offsets are plain
  * version numbers — checkpointable, replayable, resumable.
  *
  * Planning is the changelog's one scan builder
  * ([[org.apache.spark.sql.GraftSnapshotScan.changesScanBuilder]]) over
  * exactly the batch's range, so a batch plans only its own slices; one
  * shared reader factory (schema-identical across batches) serves them.
  * Streaming v2 relations bypass column pruning, so the stream always
  * reads the full changes schema — physical names map to logical
  * positionally, same as the batch path.
  *
  * Retention: a FRESH stream starts at the earliest retained slice and
  * streams what exists; but a RESUMED stream whose checkpointed offset
  * predates the horizon recorded by `expire_changes` fails loudly at plan
  * time instead of emitting an empty batch — the gap is committed history
  * this consumer never saw, and silently skipping it would corrupt any
  * downstream fold (consumers needing older history re-snapshot). Snapshot
  * boundaries (restore/truncate/overwrite) fail the same way via the
  * boundary flag sealed in their version manifest — see
  * [[GraftStore.isBoundary]]; a fresh stream auto-starts past the latest
  * boundary.
  *
  * Rate limiting (`option("maxVersionsPerTrigger", n)` /
  * `option("maxRowsPerTrigger", n)`) clamps each batch's version range —
  * see [[GraftStreamLimits]]; batches stay version-aligned either way.
  * Under `Trigger.AvailableNow` the target version is pinned at start, so
  * a rate-limited run drains history in bounded batches and terminates at
  * the pinned version even while writers keep committing. */
final class GraftChangesMicroBatchStream(dir: String, meta: GraftTableMeta,
    maxVersionsPerTrigger: Option[Long] = None,
    maxRowsPerTrigger: Option[Long] = None)
    extends GraftVersionStream(dir) {

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val target = latestVersion()
    val s = start.asInstanceOf[GraftVersionOffset].v
    GraftVersionOffset(GraftStreamLimits.clampEnd(dir, s,
      math.max(target, s), maxVersionsPerTrigger, maxRowsPerTrigger))
  }

  override def reportLatestOffset(): Offset =
    GraftVersionOffset(GraftStore.currentVersion(dir))

  override def initialOffset(): Offset = {
    GraftStore.recoverChangelog(dir)
    val vs = GraftStore.retainedSlices(dir)
    // start BEFORE the earliest retained slice so the first batch carries
    // the full retained history; an empty changelog starts at the current
    // version (only future commits stream). Clamped to the retention
    // horizon: a fresh stream by definition starts from what is retained.
    val base = if (vs.nonEmpty) vs.min - 1 else GraftStore.currentVersion(dir)
    // ... and clamped past the latest SNAPSHOT BOUNDARY (restore/truncate/
    // overwrite): retained slices BEFORE a boundary describe history the
    // boundary undid, so a fresh fold must start at the boundary itself
    // (offset B ⇒ first batch is (B, e] — the post-boundary state only)
    val floor = math.max(GraftStore.changesHorizon(dir) - 1,
      GraftStore.latestBoundary(dir).getOrElse(Long.MinValue))
    GraftVersionOffset(math.max(base, floor))
  }

  override def deserializeOffset(json: String): Offset =
    GraftVersionOffset(json.trim.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftVersionOffset].v
    val e = end.asInstanceOf[GraftVersionOffset].v
    // publish any committed-but-unpublished slice in (s, e] BEFORE the
    // scan plans the published ones — without this, a writer crashing
    // between its pointer flip and its changelog publish leaves the slice
    // in staging, the plan skips it, and the stream advances past
    // committed changes (silent CDC loss)
    GraftStore.recoverChangelog(dir)
    // a checkpointed resume point below the retention horizon means
    // expire_changes dropped history this consumer never saw — an empty
    // batch here would LOOK like "no changes" while silently skipping
    // committed deltas, so fail loudly; the consumer re-snapshots.
    val horizon = GraftStore.changesHorizon(dir)
    if (s + 1 < horizon) throw new IllegalStateException(
      s"changes stream for $dir resumes at version ${s + 1} but " +
        s"expire_changes dropped slices below v$horizon; the skipped " +
        "history is unrecoverable from the changelog — restart the " +
        "consumer from a fresh table snapshot")
    // a batch range crossing a SNAPSHOT BOUNDARY (restore/truncate/
    // overwrite — changelog-less commits that REPLACED the table state)
    // must fail the same way: the missing slice would be silently absent
    // from the plan below, and a consumer folding across it would
    // resurrect the undone rows with no signal. The boundary
    // is stamped per version (and survives version expiry via promoted
    // markers), so this is distinguishable from a harmless optimize/
    // rebucket gap, which carries no marker and folds through safely.
    val crossed = GraftStore.boundariesIn(dir, s + 1, e)
    if (crossed.nonEmpty) throw new IllegalStateException(
      s"changes stream for $dir would fold across snapshot boundary " +
        s"version(s) ${crossed.mkString("v", ", v", "")} (TRUNCATE / " +
        "INSERT OVERWRITE / CALL restore / CALL expire_partitions " +
        "write no changelog slice; " +
        "folding past one resurrects undone rows) — restart the " +
        "consumer from a fresh table snapshot")
    GraftSnapshotScan.changesScanBuilder(spark, dir, meta, s + 1, e)
      .build().toBatch.planInputPartitions()
  }

  // schema-driven, not file-driven: ONE factory serves every batch's
  // file partitions (they all share the physical changes schema), so it
  // is built once, from an empty range that plans no slice
  private lazy val readerFactory: PartitionReaderFactory =
    GraftSnapshotScan.changesScanBuilder(spark, dir, meta, 1L, 0L).build()
      .toBatch.createReaderFactory()

  override def createReaderFactory(): PartitionReaderFactory = readerFactory
}

/** Offset for the BASE-TABLE stream: `pending = true` means the initial
  * snapshot of version `v` has not been emitted yet. */
final case class GraftTableOffset(v: Long, pending: Boolean) extends Offset {
  override def json(): String = if (pending) s"snapshot-$v" else v.toString
}

/** `spark.readStream.table("cat.t")` — the TABLE ITSELF as a streaming
  * source: the first micro-batch is a full snapshot of the current
  * version, every later batch is the new rows of the versions committed
  * since, read from the changelog (version-aligned, like
  * [[GraftChangesMicroBatchStream]]). The Delta-parity contract:
  *
  *  - INSERT commits stream their rows as-is.
  *  - an UPDATE in the tail fails the stream unless
  *    `option("ignoreChanges","true")` (which then emits the updated
  *    after-images — downstream must tolerate re-delivery per key).
  *  - a DELETE fails unless `option("ignoreDeletes","true")` (or
  *    ignoreChanges), which skips the deletes.
  *  - `option("skipChangeCommits","true")` supersedes both: versions whose
  *    changelog contains ANY update/delete are skipped WHOLE at plan time
  *    (classified from the slice files' own `change_op` footer min/max —
  *    metadata only), so downstream sees pure appends and never a partial
  *    commit.
  *  - restore/truncate/overwrite (snapshot boundaries) and a resume point
  *    below the changelog retention horizon fail loudly — restart with a
  *    fresh checkpoint, which by construction re-snapshots the table.
  *
  * Scale shape: the snapshot batch is the stock parquet scan of one
  * version dir; tail batches cost ∝ rows changed. Nothing is re-read
  * twice — the snapshot is pinned at the stream's first offset, and the
  * changelog tail starts strictly after it, so a row is delivered exactly
  * once (per key-state at snapshot time). */
final class GraftTableAppendStream(dir: String, meta: GraftTableMeta,
    ignoreDeletes: Boolean, ignoreChanges: Boolean,
    skipChangeCommits: Boolean = false,
    maxVersionsPerTrigger: Option[Long] = None,
    maxRowsPerTrigger: Option[Long] = None)
    extends GraftVersionStream(dir) {

  override def initialOffset(): Offset = {
    GraftStore.recoverChangelog(dir)
    GraftTableOffset(GraftStore.currentVersion(dir), pending = true)
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val target = latestVersion()
    val s0 = start.asInstanceOf[GraftTableOffset]
    if (s0.pending &&
        (maxVersionsPerTrigger.isDefined || maxRowsPerTrigger.isDefined))
      // under a rate limit the snapshot ALONE is the first batch (it is
      // already one bounded scan of one version); the tail starts next
      GraftTableOffset(s0.v, pending = false)
    else
      GraftTableOffset(GraftStreamLimits.clampEnd(dir, s0.v,
        math.max(target, s0.v), maxVersionsPerTrigger, maxRowsPerTrigger),
        pending = false)
  }

  override def reportLatestOffset(): Offset =
    GraftTableOffset(GraftStore.currentVersion(dir), pending = false)

  override def deserializeOffset(json: String): Offset = {
    val t = json.trim
    if (t.startsWith("snapshot-"))
      GraftTableOffset(t.stripPrefix("snapshot-").toLong, pending = true)
    else GraftTableOffset(t.toLong, pending = false)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s0 = start.asInstanceOf[GraftTableOffset]
    val e = end.asInstanceOf[GraftTableOffset].v
    GraftStore.recoverChangelog(dir)
    val horizon = GraftStore.changesHorizon(dir)
    // the tail starts at s0.v + 1 whether or not the snapshot is still
    // pending — a checkpointed snapshot-pending offset that slept past
    // expire_changes has lost the same slices, so it must fail the same
    // way (only an EMPTY tail request, e == s0.v, has nothing to lose)
    if (e > s0.v && s0.v + 1 < horizon) throw new IllegalStateException(
      s"table stream for $dir resumes at version ${s0.v + 1} but " +
        s"expire_changes dropped slices below v$horizon; the skipped " +
        "history is unrecoverable from the changelog — restart the " +
        "stream from a fresh checkpoint (it re-snapshots the table)")
    val crossed = GraftStore.boundariesIn(dir, s0.v + 1, e)
    if (crossed.nonEmpty) throw new IllegalStateException(
      s"table stream for $dir would fold across snapshot boundary " +
        s"version(s) ${crossed.mkString("v", ", v", "")} (TRUNCATE / " +
        "INSERT OVERWRITE / CALL restore / CALL expire_partitions) — " +
        "restart the stream from a fresh checkpoint (it re-snapshots " +
        "the table)")
    val snap: Array[InputPartition] =
      if (!s0.pending) Array.empty
      else snapshotScan(s0.v).toBatch.planInputPartitions()
        .map(GraftTableStreamPartition(_, snapshot = true): InputPartition)
    val tail = GraftSnapshotScan.changesScanBuilder(spark, dir, meta,
      s0.v + 1, e, insertOnly = skipChangeCommits).build().toBatch
      .planInputPartitions()
      .map(GraftTableStreamPartition(_, snapshot = false): InputPartition)
    snap ++ tail
  }

  // built once, like the changes stream's factory (schema-driven)
  private lazy val readerFactory: PartitionReaderFactory = {
    // the snapshot factory ALWAYS routes through the merge-on-read
    // dispatcher: partitions were planned against the OFFSET version (they
    // carry their own delete slices when that version had live DVs), while
    // this factory is built from the current one — an unconditional
    // dispatcher handles either partition shape, so a compaction (or a
    // first delete) landing between the two can't misroute a partition
    val phys = GraftStore.physicalSchema(meta.schema)
    val withBucket = org.apache.spark.sql.types.StructType(phys.fields :+
      org.apache.spark.sql.types.StructField(GraftStore.BucketCol,
        org.apache.spark.sql.types.IntegerType, nullable = true))
    val physKeys = meta.keyCols.map(k => GraftStore.physicalName(meta.schema(k)))
    val keyOrdinals = physKeys.map(withBucket.fieldIndex).toArray
    val keyTypes = keyOrdinals.map(withBucket(_).dataType)
    new GraftTableStreamReaderFactory(
      new org.apache.spark.sql.GraftMorReaderFactory(
        rawSnapshotScan(GraftStore.currentVersion(dir))
          .toBatch.createReaderFactory(),
        keyOrdinals, keyTypes, None),
      GraftSnapshotScan.changesScanBuilder(spark, dir, meta, 1L, 0L).build()
        .toBatch.createReaderFactory(),
      phys.fields.map(_.dataType),
      // skipChangeCommits plans only insert-only slices, so a U/D reaching
      // the reader is an internal inconsistency the default branches catch
      ignoreDeletes, ignoreChanges)
  }

  override def createReaderFactory(): PartitionReaderFactory = readerFactory

  /** Stock parquet scan of one version dir (physical schema + the bucket
    * partition column — the same layout the batch table scan reads),
    * planned from the manifest — see GraftSnapshotScan. */
  private def rawSnapshotScan(v: Long) =
    GraftSnapshotScan.parquetScanBuilder(spark, dir, v,
      meta, GraftStore.physicalSchema(meta.schema),
      CaseInsensitiveStringMap.empty()).build()

  /** The snapshot scan with the version's live delete slices applied, the
    * same composition every other read of a version plans — the filter
    * state rides in the PARTITIONS (planned against `v`), so the factory
    * being built from a later version can't skew the snapshot. */
  private def snapshotScan(v: Long) =
    GraftSnapshotScan.versionScanBuilder(spark, dir, v, meta).build()
}

/** Tags an input partition with which leg planned it — the reader factory
  * dispatches to the matching delegate (the two legs read different
  * physical layouts). */
final case class GraftTableStreamPartition(inner: InputPartition, snapshot: Boolean)
    extends InputPartition {
  override def preferredLocations(): Array[String] = inner.preferredLocations()
}

/** Projects both legs down to the table's data columns (always the FIRST
  * N fields of either layout) and applies the append-stream op contract
  * on the changelog leg. Row-based on purpose: the op filter is row-level
  * and batches here are snapshot-once + small tails. */
final class GraftTableStreamReaderFactory(
    snapFactory: PartitionReaderFactory, tailFactory: PartitionReaderFactory,
    dataTypes: Array[org.apache.spark.sql.types.DataType],
    ignoreDeletes: Boolean, ignoreChanges: Boolean)
    extends PartitionReaderFactory {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
  import org.apache.spark.sql.connector.read.PartitionReader

  override def supportColumnarReads(p: InputPartition): Boolean = false

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val gp = p.asInstanceOf[GraftTableStreamPartition]
    val delegate =
      (if (gp.snapshot) snapFactory else tailFactory).createReader(gp.inner)
    new PartitionReader[InternalRow] {
      private val proj = UnsafeProjection.create(
        dataTypes.zipWithIndex.map { case (dt, i) =>
          BoundReference(i, dt, nullable = true) }.toIndexedSeq)
      private val opIdx = dataTypes.length
      private var current: InternalRow = _
      override def next(): Boolean = {
        while (delegate.next()) {
          val row = delegate.get()
          if (gp.snapshot) { current = proj(row); return true }
          row.getUTF8String(opIdx).toString match {
            case "I" => current = proj(row); return true
            case "U" =>
              if (ignoreChanges) { current = proj(row); return true }
              throw new IllegalStateException(
                "table stream hit an UPDATE in the changelog tail; this " +
                  "source streams appends — set " +
                  "option(\"ignoreChanges\",\"true\") to receive updated " +
                  "rows (re-delivery per key) or stream `t$changes` for " +
                  "full CDC")
            case "D" =>
              if (!ignoreDeletes && !ignoreChanges)
                throw new IllegalStateException(
                  "table stream hit a DELETE in the changelog tail; set " +
                    "option(\"ignoreDeletes\",\"true\") to skip deletes " +
                    "or stream `t$changes` for full CDC")
            case other => throw new IllegalStateException(
              s"unknown change_op '$other' in changelog")
          }
        }
        false
      }
      override def get(): InternalRow = current
      override def close(): Unit = delegate.close()
    }
  }
}
