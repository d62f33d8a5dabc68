package org.apache.spark.sql

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.types.{DataType, StructType}

/** Scan-side application of the graft store's MERGE-ON-READ delete slices
  * (see [[graft.sources.GraftStore]]'s merge-on-read section): the probe
  * [[GraftScan]] carries while a version has live `_dv` slices — a
  * compacted table has none and pays nothing.
  *
  * The read rule is per (key, file): a row is dead iff the newest delete
  * entry for its key is NEWER than the file that holds the row (per-file
  * seq from the version manifests). The delete set is cap-bounded by the
  * write side ([[graft.sources.GraftStore.morMaxLiveDeletes]]), so it
  * ships to executors as a plain in-memory probe map — the Iceberg
  * equality-delete shape, minus the shuffle a join-based application would
  * cost.
  *
  * Mechanics:
  *  - [[GraftScanBuilder]] augments column pruning with the PHYSICAL
  *    merge-key columns `keyCols` (the probe needs them), and rows are
  *    projected back to the scan's output after the filter — the extra
  *    read is key columns only, and only while deletes are live;
  *  - files that CAN hold dead rows (their bucket has entries newer than
  *    the file) become row-filtered reads, one partition per bucket;
  *    every other file keeps its plain file partition;
  *  - aggregate pushdown and exact manifest row counts are withheld while
  *    deletes are live (footers count dead rows). */
final class GraftDeleteProbe(val keyCols: Seq[String],
    fileSeq: Map[String, Long], dv: Map[Int, Map[Seq[Any], Long]]) {

  /** Splits (already pruned) file partitions into plain partitions and
    * one [[GraftMorFilterPartition]] per bucket whose files may hold dead
    * rows. */
  def plan(parts: Array[InputPartition]): Array[InputPartition] = {
    require(parts.forall(_.isInstanceOf[FilePartition]),
      s"merge-on-read scan expected file partitions, got " +
        parts.find(!_.isInstanceOf[FilePartition]).map(_.getClass).orNull)
    val relRe = "/v\\d{10}/(.+)$".r
    // newest delete seq per bucket: files at/after it can't hold dead rows
    val maxDseq: Map[Int, Long] = dv.map { case (b, m) => b -> m.values.max }
    val out = Array.newBuilder[InputPartition]
    var idx = 0
    // per-bucket accumulation: every filtered file of a bucket lands in
    // ONE partition so its delete slice serializes exactly once
    val filtered = scala.collection.mutable.Map
      .empty[Int, scala.collection.mutable.ArrayBuffer[(PartitionedFile, Long)]]
    parts.iterator.map(_.asInstanceOf[FilePartition]).foreach { fp =>
      val plain = Array.newBuilder[PartitionedFile]
      fp.files.foreach { pf =>
        val path = pf.filePath.toString
        val rel = relRe.findFirstMatchIn(path).map(_.group(1))
        GraftScan.bucketOf(path) match {
          case Some(b) if dv.contains(b) =>
            val seq = rel.flatMap(fileSeq.get).getOrElse(0L)
            if (seq < maxDseq(b))
              filtered.getOrElseUpdate(b,
                scala.collection.mutable.ArrayBuffer.empty) += ((pf, seq))
            else plain += pf
          case Some(_) => plain += pf
          case None =>
            // a store version dir always buckets its files; refuse to
            // guess rather than resurrect deleted rows
            sys.error(s"file outside a bucket dir in a merge-on-read " +
              s"version: $path")
        }
      }
      val p = plain.result()
      if (p.nonEmpty) { out += FilePartition(idx, p); idx += 1 }
    }
    filtered.toSeq.sortBy(_._1).foreach { case (b, fs) =>
      out += GraftMorFilterPartition(idx, fs.map(_._1).toArray,
        fs.map(_._2).toArray, dv(b))
      idx += 1
    }
    out.result()
  }

  /** The delete-applying factory over `inner`, whose rows have `schema`;
    * output keeps the columns at `kept`. */
  def readerFactory(inner: PartitionReaderFactory, schema: StructType,
      kept: Array[Int]): PartitionReaderFactory = {
    val keyOrdinals = keyCols.map(schema.fieldIndex).toArray
    new GraftMorReaderFactory(inner, keyOrdinals,
      keyOrdinals.map(schema(_).dataType),
      if (kept.length == schema.length) None
      else Some(StructType(kept.map(schema(_)).toSeq), kept))
  }
}

object GraftDeleteProbe {
  /** The version's cached delete probe, keyed by physical merge-key
    * names; None when it has no live deletes. */
  def load(spark: SparkSession, dir: String, v: Long,
      meta: graft.sources.GraftTableMeta): Option[GraftDeleteProbe] =
    graft.sources.GraftStore.loadDvProbe(spark, dir, v, meta).map {
      case (fileSeq, dv) => new GraftDeleteProbe(meta.keyCols.map(k =>
        graft.sources.GraftStore.physicalName(meta.schema(k))), fileSeq, dv)
    }
}

/** One BUCKET's files that may hold deleted rows, carrying the bucket's
  * own delete entries (key → newest delete seq): each file is read
  * row-wise and probed. Self-contained on purpose — the reader needs no
  * scan-level state, so a partition planned against version N stays
  * correct even if the factory is built later (the streaming snapshot
  * leg), and the serialized delete slice ships exactly once per bucket.
  * `seqs` parallels `files`. */
final case class GraftMorFilterPartition(index: Int,
    files: Array[PartitionedFile], seqs: Array[Long],
    bucketDv: Map[Seq[Any], Long])
    extends InputPartition {
  override def preferredLocations(): Array[String] =
    FilePartition(index, files).preferredLocations()
}

/** Applies the delete probe row by row and projects each row to `keep`
  * (output schema, source ordinals) when set. Row-based on purpose: under
  * PARTITION_DEFINED columnar mode Spark refuses a plan that mixes
  * columnar and row partitions, and filtered files read row-wise. */
final class GraftMorReaderFactory(inner: PartitionReaderFactory,
    keyOrdinals: Array[Int], keyTypes: Array[DataType],
    keep: Option[(StructType, Array[Int])])
    extends PartitionReaderFactory {

  private def projectRow(r: PartitionReader[InternalRow])
      : PartitionReader[InternalRow] = keep match {
    case None => r
    case Some((schema, ordinals)) =>
      val proj = org.apache.spark.sql.catalyst.ProjectingInternalRow(schema,
        ordinals.toIndexedSeq)
      new PartitionReader[InternalRow] {
        override def next(): Boolean = r.next()
        override def get(): InternalRow = { proj.project(r.get()); proj }
        override def close(): Unit = r.close()
      }
  }

  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    p match {
      case fp: FilePartition => projectRow(inner.createReader(fp))
      case mp: GraftMorFilterPartition =>
        projectRow(new GraftMorFilteringReader(inner, mp, keyOrdinals,
          keyTypes))
      case other => inner.createReader(other)
    }
}

/** Chains one row reader per file, dropping rows whose key has a delete
  * entry newer than the file. */
final class GraftMorFilteringReader(factory: PartitionReaderFactory,
    mp: GraftMorFilterPartition,
    keyOrdinals: Array[Int], keyTypes: Array[DataType])
    extends PartitionReader[InternalRow] {

  private var fileIdx = -1
  private var current: PartitionReader[InternalRow] = null
  private val bucketDv: Map[Seq[Any], Long] = mp.bucketDv
  private var fileSeq = 0L
  private var row: InternalRow = null

  private def openNext(): Boolean = {
    if (current != null) { current.close(); current = null }
    fileIdx += 1
    if (fileIdx >= mp.files.length) return false
    current = factory.createReader(
      FilePartition(mp.index, Array(mp.files(fileIdx))))
    fileSeq = mp.seqs(fileIdx)
    true
  }

  private def live(r: InternalRow): Boolean = {
    val n = keyOrdinals.length
    val key = new Array[Any](n)
    var i = 0
    while (i < n) {
      key(i) = GraftMorScanSupport.normalizeKey(
        r.get(keyOrdinals(i), keyTypes(i)))
      i += 1
    }
    bucketDv.get(scala.collection.immutable.ArraySeq.unsafeWrapArray(key)) match {
      case Some(dseq) => dseq <= fileSeq // delete older than the file: live
      case None => true
    }
  }

  override def next(): Boolean = {
    while (true) {
      if (current == null && !openNext()) return false
      if (current.next()) {
        val r = current.get()
        if (live(r)) { row = r; return true }
      } else {
        current.close(); current = null
      }
    }
    false
  }

  override def get(): InternalRow = row
  override def close(): Unit = if (current != null) current.close()
}

object GraftMorScanSupport {
  /** Canonical catalyst key value for probe equality: signed zeros fold
    * (Spark's own join semantics treat -0.0 = 0.0); everything else probes
    * as-is. */
  def normalizeKey(v: Any): Any = v match {
    case d: java.lang.Double if d.doubleValue() == 0.0d => java.lang.Double.valueOf(0.0d)
    case f: java.lang.Float if f.floatValue() == 0.0f => java.lang.Float.valueOf(0.0f)
    case other => other
  }
}
