package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, EOFException}
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Delta-based row-level operation for [[GraftTable]] — the machinery
  * behind SQL `MERGE INTO` / `UPDATE` / `DELETE`.
  *
  * Spark's `RewriteMergeIntoTable` / `RewriteUpdateTable` /
  * `RewriteDeleteFromTable` rules see [[SupportsDelta]] and rewrite the
  * statement into a join between the target scan and the source that emits
  * one (operation, row-id, row) delta per affected row; this class only
  * has to (a) identify rows by the table's merge key and (b) persist the
  * deltas. Executors stream their deltas as length-prefixed UnsafeRow
  * frames into per-task staging files (the same framing as the ingest bus,
  * [[graft.functions.GraftCodec.frameEncode]]); the driver-side commit
  * decodes a batch within the commit's small-batch bounds itself and turns
  * any larger staged file list into a distributed read, then hands the
  * change DataFrame to [[GraftStore.applyChanges]], which rewrites only the
  * buckets the change keys hash into.
  *
  * Scale shape: delta volume ∝ rows changed (not table size); staging is
  * one sequential file per task on shared storage; the commit job is the
  * store's single-shuffle bucket rewrite. A 100 TB table with a 0.1%
  * merge stages ~0.1% of the data and rewrites only the touched buckets.
  */
final class GraftDeltaOperation(tableName: String, dir: String,
    meta: GraftTableMeta, cmd: RowLevelOperation.Command)
    extends RowLevelOperation with SupportsDelta {

  /** The statement's READ SNAPSHOT, pinned when the operation is built:
    * the target scan reads this version and the commit verifies the table
    * is STILL at this version under the commit claim — a concurrent
    * commit landing anywhere in the scan-to-commit window (which can be a
    * long rewrite job) surfaces as a clean conflict instead of silently
    * rebasing the stale delta over someone else's data. */
  private val snapshotVersion: Long = GraftStore.currentVersion(dir)

  override def command(): RowLevelOperation.Command = cmd
  override def description(): String = s"GraftDelta($cmd, $tableName)"

  override def rowId(): Array[NamedReference] =
    meta.keyCols.map(Expressions.column).toArray

  /** Target-side scan for the rewrite join: same delegated parquet scan as
    * a plain SELECT (pruned, pushed-down, vectorized), pinned to the
    * snapshot version. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    GraftTable.scanBuilder(dir, meta, snapshotVersion, options)

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new DeltaWrite {
        override def description(): String = s"GraftDeltaWrite($cmd, $tableName)"
        override def toBatch: DeltaBatchWrite = {
          val idSchema = info.rowIdSchema().orElseThrow(() =>
            new IllegalStateException("delta write without a row-id schema"))
          new GraftDeltaBatchWrite(dir, meta, info.schema(), idSchema,
            GraftStore.stagingDir(dir, info.queryId()), snapshotVersion)
        }
      }
    }
}

/** One staged delta file per task, committed as a file-path message. */
final case class GraftDeltaCommit(path: String) extends WriterCommitMessage

final class GraftDeltaBatchWrite(dir: String, meta: GraftTableMeta,
    rowSchema: StructType, idSchema: StructType, staging: String,
    snapshotVersion: Long)
    extends DeltaBatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory =
    new GraftDeltaWriterFactory(staging, rowSchema, idSchema)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val files = messages.collect { case GraftDeltaCommit(p) => p }
    try {
      val spark = SparkSession.active
      val changes = GraftDeltaBatchWrite.decodeStaged(
        spark, files.toSeq, meta.schema, rowSchema, idSchema)
      // an ALTER landing during the (possibly long) rewrite job: the
      // commit re-bases the deltas onto ITS OWN meta read by physical
      // identity — renames follow, drops discard, adds null-fill —
      // instead of crashing on a column-list mismatch (capturedMeta
      // aligns INSIDE applyChanges so align and commit can't see two
      // different schemas). Staging rides the commit heartbeat: the
      // decode jobs read the staged .bin files lazily for the whole
      // rewrite, and vacuum's age check must see the dir as live until
      // the commit finishes.
      GraftStore.applyChanges(spark, dir, changes,
        expectedVersion = Some(snapshotVersion),
        heartbeatPaths = Seq(Paths.get(staging)),
        capturedMeta = Some(meta))
    } finally cleanup()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = cleanup()

  private def cleanup(): Unit = {
    val p = Paths.get(staging)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .iterator().asScala.foreach(Files.delete)
      finally s.close()
    }
  }
}

object GraftDeltaBatchWrite {
  /** Decode staged delta files into the change DataFrame
    * [[GraftStore.applyChanges]] expects (`_op` + full logical schema, all
    * fields nullable — delete rows only carry the key columns).
    *
    * A batch within the commit's small-batch bounds (the staged files'
    * bytes under `spark.graft.commit.broadcastMaxBytes`, the frames read
    * under `spark.graft.commit.broadcastMaxRows`) is decoded on the driver
    * into a local DataFrame: its consumers then run no decode job and no
    * cache, and the commit reads its touched set and size from the rows
    * themselves. A larger batch is decoded distributed — only the file
    * PATHS pass through the driver; frame decode and row conversion run
    * in the tasks. Both paths convert frames with [[frameDecoder]]. */
  private[sources] def decodeStaged(spark: SparkSession, files: Seq[String],
      logical: StructType, rowSchema: StructType, idSchema: StructType)
      : org.apache.spark.sql.DataFrame = {
    val logicalNames = logical.fieldNames.toSeq
    val outSchema = StructType(StructField(GraftStore.OpCol, StringType,
      nullable = false) +: logical.fields.map(_.copy(nullable = true)).toSeq)
    val stagedBytes = files.map(f => Files.size(Paths.get(f))).sum
    val local =
      if (stagedBytes > GraftStore.commitBroadcastMaxBytes(spark)) None
      else decodeLocal(files, GraftStore.commitBroadcastMaxRows(spark),
        frameDecoder(logicalNames, rowSchema, idSchema))
    local match {
      case Some(rows) => spark.createDataFrame(rows.asJava, outSchema)
      case None =>
        val rdd = spark.sparkContext
          .parallelize(files, math.max(1, files.size))
          .mapPartitions { paths =>
            // converters are built per-partition: they are cheap and not
            // guaranteed serializable, the schemas are.
            val decode = frameDecoder(logicalNames, rowSchema, idSchema)
            paths.flatMap(p => readFrames(p).map(decode.tupled))
          }
        spark.createDataFrame(rdd, outSchema)
    }
  }

  /** One staged frame → one change row: the op, then the logical columns
    * by name (a delete frame carries only the row-id columns; the rest are
    * null). */
  private def frameDecoder(logicalNames: Seq[String], rowSchema: StructType,
      idSchema: StructType): (Char, Array[Byte]) => Row = {
    val rowConv = CatalystTypeConverters.createToScalaConverter(rowSchema)
    val idConv = CatalystTypeConverters.createToScalaConverter(idSchema)
    val rowNames = rowSchema.fieldNames.toSeq
    val idNames = idSchema.fieldNames.toSeq
    (op, bytes) => {
      val (schema, conv, names) =
        if (op == 'D') (idSchema, idConv, idNames)
        else (rowSchema, rowConv, rowNames)
      val ur = new UnsafeRow(schema.length)
      ur.pointTo(bytes, bytes.length)
      val byName = names.zip(conv(ur).asInstanceOf[Row].toSeq).toMap
      Row.fromSeq(op.toString +: logicalNames.map(byName.getOrElse(_, null)))
    }
  }

  /** Every frame of `files` decoded on the driver, or None as soon as more
    * than `maxRows` frames have been read. */
  private def decodeLocal(files: Seq[String], maxRows: Long,
      decode: (Char, Array[Byte]) => Row): Option[Seq[Row]] = {
    val rows = scala.collection.mutable.ArrayBuffer.empty[Row]
    val fits = files.forall { p =>
      val in = openFrames(p)
      try {
        var frame = readFrame(in)
        while (frame != null && rows.size <= maxRows) {
          rows += decode.tupled(frame)
          frame = readFrame(in)
        }
        rows.size <= maxRows
      } finally in.close()
    }
    if (fits) Some(rows.toSeq) else None
  }

  private def openFrames(path: String): DataInputStream =
    new DataInputStream(new BufferedInputStream(
      Files.newInputStream(Paths.get(path))))

  /** The next (op, row bytes) frame, or null at end of file. */
  private def readFrame(in: DataInputStream): (Char, Array[Byte]) =
    try {
      val op = in.readByte().toChar
      val len = in.readInt()
      val bytes = new Array[Byte](len)
      in.readFully(bytes)
      (op, bytes)
    } catch { case _: EOFException => null }

  private def readFrames(path: String): Iterator[(Char, Array[Byte])] = {
    val in = openFrames(path)
    new Iterator[(Char, Array[Byte])] {
      private var nextFrame: (Char, Array[Byte]) = advance()
      private def advance(): (Char, Array[Byte]) = {
        val f = readFrame(in)
        if (f == null) in.close()
        f
      }
      override def hasNext: Boolean = nextFrame != null
      override def next(): (Char, Array[Byte]) = {
        val r = nextFrame; nextFrame = advance(); r
      }
    }
  }
}

final class GraftDeltaWriterFactory(staging: String,
    rowSchema: StructType, idSchema: StructType) extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new GraftDeltaWriter(s"$staging/delta-$partitionId-$taskId.bin",
      rowSchema, idSchema)
}

/** Streaming append into the store — `df.writeStream.toTable("cat.t")`.
  * Each micro-batch stages its rows as insert frames (same codec as the
  * delta path) and commits through the append fast path: one new version
  * per non-empty epoch, each commit also publishing its changelog batch,
  * so a streaming ingest IS a CDC producer batch-for-batch. Exactly-once
  * across restarts comes from epoch idempotence: the store records the
  * last committed (queryId, epoch) pair (`_last_stream_epoch`,
  * staged+atomic like the pointer) and a replayed batch id ≤ that FROM THE
  * SAME QUERY is acknowledged without committing — the file-sink
  * metadata-log model. The queryId scoping matters: Spark batch ids
  * restart at 0 for every new query/checkpoint, so an epoch-only marker
  * would silently drop every batch of a fresh stream until its epoch
  * passed the stale high-water mark. A DIFFERENT queryId
  * resets the marker — each logical stream (checkpoint) gets its own
  * epoch line; interleaving two live streams on one table is still
  * unsupported (their markers would thrash; use separate tables or
  * foreachBatch+MERGE).
  *
  * `upsert = true` (set via `.option("upsert", "true")` on the stream
  * writer) commits each epoch's rows as keyed 'U' deltas instead of
  * inserts: the store's general change path replaces the live row per
  * merge key, so `stream.writeStream.toTable(...)` becomes a declarative
  * continuously-compacted upsert sink with per-epoch CDC (before-images
  * included) and the same exactly-once protocol.
  *
  * DDL-safe: each epoch re-bases its decoded batch onto the table's
  * CURRENT schema by physical column identity
  * ([[GraftStore.alignToCurrentSchema]]) — ALTER RENAME (merge keys
  * included) follows, DROP discards the stream's values for the dead
  * column, tombstoned re-ADDs null-fill, and a mid-stream `CALL rebucket`
  * is picked up by the commit's per-attempt fan-out derivation — so
  * schema and layout evolution never crash or corrupt a live ingest
  * (pinned in CatalogSpec). */
final class GraftStreamingAppend(dir: String, meta: GraftTableMeta,
    rowSchema: StructType, stagingRoot: String, queryId: String,
    upsert: Boolean)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {

  private def epochStaging(epochId: Long) = s"$stagingRoot-epoch-$epochId"
  private def lastEpochPath = Paths.get(dir, "_last_stream_epoch")

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory =
    new GraftStreamingWriterFactory(stagingRoot, rowSchema,
      if (upsert) 'U' else 'I')

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val last =
      if (Files.exists(lastEpochPath)) {
        val lines = new String(Files.readAllBytes(lastEpochPath), "UTF-8")
          .split("\n")
        if (lines.length >= 2 && lines(0) == queryId) lines(1).trim.toLong
        else -1L
      } else -1L
    try {
      if (epochId <= last) return // replayed epoch of THIS query: committed
      val files = messages.collect { case GraftDeltaCommit(p) => p }
      val spark = SparkSession.active
      // a distributed decode is persisted: the dup-guard aggregate and
      // applyChanges' own jobs all read the decoded epoch from cache
      // instead of re-decoding the staged files per job. An epoch decoded
      // on the driver is already in memory.
      val decoded0 = GraftDeltaBatchWrite.decodeStaged(
        spark, files.toSeq, meta.schema, rowSchema,
        StructType(meta.keyCols.map(k => meta.schema(k))))
      val decoded =
        if (GraftStore.localRows(decoded0).isDefined) decoded0
        else decoded0.persist()
      try {
        // a live stream survives ALTER TABLE on its target: each epoch
        // re-bases onto the CURRENT schema by physical identity (renames
        // follow — merge keys included — drops discard, adds null-fill),
        // so DDL never crashes or corrupts an in-flight ingest. This
        // align serves the duplicate-key guard; applyChanges re-aligns
        // from curMeta against its own meta read, closing the window
        // where an ALTER lands between the two reads.
        val curMeta = GraftStore.readMeta(dir)
        val changes = GraftStore.alignToCurrentSchema(decoded, meta, curMeta)
        if (upsert) {
          // the store keeps ONE live row per merge key; an epoch carrying
          // several rows for a key would insert them all (which row "wins"
          // is undefined without an ordering column) — fail loudly and make
          // the caller aggregate/dedupe per key upstream. Cost: one small
          // agg over the epoch's rows, never the table.
          import org.apache.spark.sql.functions.{col, count, lit}
          val dup = changes.groupBy(curMeta.keyCols.map(col): _*)
            .agg(count(lit(1)).as("n")).filter(col("n") > 1).limit(1).collect()
          if (dup.nonEmpty) throw new IllegalStateException(
            s"upsert epoch $epochId has multiple rows for merge key " +
              dup.head.toSeq.init.mkString("(", ",", ")") +
              "; dedupe or aggregate per key before the sink")
        }
        GraftStore.applyChanges(spark, dir, changes, allInserts = !upsert,
          commutative = upsert,
          heartbeatPaths = Seq(Paths.get(epochStaging(epochId))),
          capturedMeta = Some(curMeta))
      } finally decoded.unpersist()
      val tmp = Paths.get(dir, "_last_stream_epoch.tmp")
      Files.write(tmp, s"$queryId\n$epochId".getBytes("UTF-8"))
      Files.move(tmp, lastEpochPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } finally cleanup(epochId)
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    cleanup(epochId)

  private def cleanup(epochId: Long): Unit = {
    val p = Paths.get(epochStaging(epochId))
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .iterator().asScala.foreach(Files.delete)
      finally s.close()
    }
  }
}

final class GraftStreamingWriterFactory(stagingRoot: String,
    rowSchema: StructType, op: Char)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    new GraftStreamingTaskWriter(
      s"$stagingRoot-epoch-$epochId/task-$partitionId-$taskId.bin", rowSchema, op)
}

/** Single-op task writer: frames every row as the sink's op ('I' append /
  * 'U' upsert). */
final class GraftStreamingTaskWriter(path: String, rowSchema: StructType,
    op: Char)
    extends org.apache.spark.sql.connector.write.DataWriter[InternalRow] {
  private lazy val out: DataOutputStream = {
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    new DataOutputStream(new BufferedOutputStream(Files.newOutputStream(p)))
  }
  private lazy val proj = UnsafeProjection.create(rowSchema)

  override def write(row: InternalRow): Unit = {
    val bytes = proj(row).getBytes
    out.writeByte(op)
    out.writeInt(bytes.length)
    out.write(bytes)
  }
  override def commit(): WriterCommitMessage = { out.close(); GraftDeltaCommit(path) }
  override def abort(): Unit = {
    try out.close() catch { case _: Exception => () }
    Files.deleteIfExists(Paths.get(path))
  }
  override def close(): Unit = ()
}

/** Executor-side delta writer: each operation is framed as
  * `[op byte][4-byte length][UnsafeRow bytes]` and appended to this task's
  * staging file. An update usually keeps only the NEW row (its merge key
  * is the row identity), but Spark 4's `RewriteUpdateTable` DOES allow
  * assigning rowId columns — `update()` receives the ORIGINAL key as `id`
  * — so `UPDATE t SET k = k + 1` moves the row: when the new row's key
  * differs from `id`, a 'D' frame for the old key precedes the 'U' frame,
  * otherwise the old-keyed row would survive the commit as a silent
  * duplicate. */
final class GraftDeltaWriter(path: String, rowSchema: StructType,
    idSchema: StructType) extends DeltaWriter[InternalRow] {

  private lazy val out: DataOutputStream = {
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    new DataOutputStream(new BufferedOutputStream(Files.newOutputStream(p)))
  }
  private lazy val rowProj = UnsafeProjection.create(rowSchema)
  private lazy val idProj = UnsafeProjection.create(idSchema)
  // the key columns OF the new row, projected in idSchema's field order so
  // the two UnsafeRows are byte-comparable
  private lazy val keyOfRowProj: UnsafeProjection = UnsafeProjection.create(
    idSchema.fields.map { f =>
      val i = rowSchema.fieldIndex(f.name)
      org.apache.spark.sql.catalyst.expressions.BoundReference(
        i, rowSchema(i).dataType, rowSchema(i).nullable)
    })

  private def emit(op: Char, row: UnsafeRow): Unit = {
    val bytes = row.getBytes
    out.writeByte(op)
    out.writeInt(bytes.length)
    out.write(bytes)
  }

  override def insert(row: InternalRow): Unit = emit('I', rowProj(row))
  override def update(metadata: InternalRow, id: InternalRow, row: InternalRow): Unit = {
    val oldId = idProj(id)
    if (oldId != keyOfRowProj(row)) emit('D', oldId)
    emit('U', rowProj(row))
  }
  override def delete(metadata: InternalRow, id: InternalRow): Unit =
    emit('D', idProj(id))

  override def commit(): WriterCommitMessage = { out.close(); GraftDeltaCommit(path) }
  override def abort(): Unit = {
    try out.close() catch { case _: Exception => () }
    Files.deleteIfExists(Paths.get(path))
  }
  override def close(): Unit = ()
}
