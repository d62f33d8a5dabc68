package graft.streaming

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Structured Streaming source over a [[FrameBus]] directory — the
  * Kafka-shaped half of the S3 contract (SURVEY §2.2). Exposes every topic
  * log as (topic, offset, ts, key, value) with explicit offset tracking and
  * `maxOffsetsPerTrigger` admission control, mirroring how the reference's
  * ingest server admits length-prefixed frames into its FIFO queue and
  * drains them on a tick (server.cpp:77-99, scheduler.cpp:81-108) — but
  * with durable offsets instead of the queue's implicit vector index, so a
  * restarted query resumes exactly where it stopped.
  *
  * Scale shape: one [[InputPartition]] per topic log per micro-batch, so a
  * many-topic bus reads in parallel; admission is distributed across topics
  * in sorted order (deterministic). The local bus keeps whole-log files and
  * readers skip to the start offset by walking frames; the cluster-scale
  * landing adds per-(topic,partition) segment logs plus a sparse offset
  * index so the skip becomes a seek — the source API (offsets, limits,
  * per-log readers) is unchanged by that split.
  *
  * Usage: `spark.readStream.format("graft.streaming.FrameBusProvider")
  * .option("busDir", dir).option("maxOffsetsPerTrigger", n).load()`.
  */
class FrameBusProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    FrameBusSource.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new FrameBusTable(properties.asScala.toMap)
}

object FrameBusSource {
  val Schema: StructType = StructType(Seq(
    StructField("topic", StringType, nullable = false),
    StructField("offset", LongType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("key", StringType, nullable = false),
    StructField("value", BinaryType, nullable = false)))

  /** Current per-topic frame counts — the bus's "latest offsets". */
  def latestCounts(dir: String): Map[String, Long] =
    FrameBus.topics(dir).map(t => t -> FrameBus.count(dir, t)).toMap
}

final class FrameBusTable(properties: Map[String, String])
    extends Table with SupportsRead {
  private val busDir = properties.getOrElse("busdir",
    properties.getOrElse("busDir",
      throw new IllegalArgumentException("frame-bus source requires option busDir")))

  override def name(): String = s"frame_bus($busDir)"
  override def schema(): StructType = FrameBusSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = FrameBusSource.Schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new FrameBusMicroBatchStream(busDir,
            Option(options.get("maxOffsetsPerTrigger")).map(_.toLong))
      }
    }
}

/** Offset = per-topic frame counts, JSON as a flat sorted object. Structural
  * equality (Spark compares offsets to decide whether a batch is needed). */
final case class FrameBusOffset(counts: Map[String, Long]) extends Offset {
  override def json(): String =
    counts.toSeq.sorted
      .map { case (t, n) => s""""${t}":$n""" }
      .mkString("{", ",", "}")
}

object FrameBusOffset {
  private val Entry = """"([^"]+)":(\d+)""".r
  def fromJson(json: String): FrameBusOffset =
    FrameBusOffset(Entry.findAllMatchIn(json)
      .map(m => m.group(1) -> m.group(2).toLong).toMap)
}

final class FrameBusMicroBatchStream(busDir: String, maxOffsets: Option[Long])
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  /** Trigger.AvailableNow backfill cap: per-topic counts snapshotted once
    * at query start. While set, admission never passes the snapshot —
    * frames (or whole topics) appended after the snapshot belong to the
    * next run — so the query drains the backlog in bounded micro-batches
    * (maxOffsetsPerTrigger still applies) and then terminates. */
  private var availableNowCap: Option[Map[String, Long]] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(FrameBusSource.latestCounts(busDir))

  override def initialOffset(): Offset = FrameBusOffset(Map.empty)

  override def deserializeOffset(json: String): Offset = FrameBusOffset.fromJson(json)

  override def getDefaultReadLimit: ReadLimit =
    maxOffsets.map(ReadLimit.maxRows).getOrElse(ReadLimit.allAvailable())

  /** Admit up to the limit's row count of new frames, walking topics in
    * sorted order — deterministic, and no topic starves for more than
    * ceil(backlog/limit) triggers. Offsets never regress: a topic present in
    * `start` but missing (or shrunken) on disk keeps its start offset, so a
    * log that vanishes and reappears is not replayed from 0. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[FrameBusOffset].counts
    // AvailableNow clamps disk counts to the start-of-query snapshot and
    // drops topics born after it; outside AvailableNow the cap is identity.
    val disk = availableNowCap match {
      case Some(cap) => FrameBusSource.latestCounts(busDir).collect {
        case (t, n) if cap.contains(t) => t -> math.min(n, cap(t))
      }
      case None => FrameBusSource.latestCounts(busDir)
    }
    // Merge start offsets over disk counts: max(n, f) per topic, and topics
    // absent from disk survive at their start offset.
    val avail = from ++ disk.map { case (t, n) =>
      t -> math.max(n, from.getOrElse(t, 0L))
    }
    limit match {
      case r: ReadMaxRows =>
        var remaining = r.maxRows()
        val admitted = avail.toSeq.sortBy(_._1).map { case (t, n) =>
          val f = from.getOrElse(t, 0L)
          val take = math.min(math.max(n - f, 0L), math.max(remaining, 0L))
          remaining -= take
          t -> (f + take)
        }
        FrameBusOffset(admitted.toMap)
      case _ => FrameBusOffset(avail)
    }
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead of this method")

  override def reportLatestOffset(): Offset =
    FrameBusOffset(FrameBusSource.latestCounts(busDir))

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[FrameBusOffset].counts
    val until = end.asInstanceOf[FrameBusOffset].counts
    until.toSeq.sorted.collect {
      case (t, hi) if hi > from.getOrElse(t, 0L) =>
        FrameBusInputPartition(busDir, t, from.getOrElse(t, 0L), hi): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = FrameBusReaderFactory

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

final case class FrameBusInputPartition(
    busDir: String, topic: String, from: Long, until: Long) extends InputPartition

object FrameBusReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new FrameBusPartitionReader(partition.asInstanceOf[FrameBusInputPartition])
}

/** Reads one topic log's frames in [from, until), decoding each payload to
  * (topic, offset, ts, key, value). Only the frames in range are read; the
  * header walk to `from` is the local stand-in for a segment seek (see
  * [[FrameBusSource]] scale note). */
final class FrameBusPartitionReader(p: FrameBusInputPartition)
    extends PartitionReader[InternalRow] {
  private val payloads = FrameBus.readRange(p.busDir, p.topic, p.from, p.until)
  private val topicUtf8 = UTF8String.fromString(p.topic)
  private var i = -1

  override def next(): Boolean = { i += 1; i < payloads.length }

  override def get(): InternalRow = {
    val (ts, key, value) = FrameBus.decodePayload(payloads(i))
    new GenericInternalRow(Array[Any](
      topicUtf8, p.from + i, ts, UTF8String.fromString(key), value))
  }

  override def close(): Unit = ()
}
