package graft.streaming

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import java.nio.file.Files

/** The Kafka-shaped S3 source: frame-log wire format, offset tracking,
  * bounded admission, and checkpointed resume. */
class FrameBusSpec extends SparkTestBase {

  private def msg(ts: Long, k: String, v: String) = (ts, k, v.getBytes("UTF-8"))

  test("payload codec round-trips ts/key/value, including empty value") {
    val cases = Seq(msg(1234567890123456L, "key-1", "hello"),
      msg(0L, "", "x"), msg(Long.MaxValue / 2, "k", ""))
    cases.foreach { case (ts, k, v) =>
      val (ts2, k2, v2) = FrameBus.decodePayload(FrameBus.encodePayload(ts, k, v))
      assert(ts2 == ts && k2 == k && v2.toSeq == v.toSeq)
    }
    intercept[IllegalArgumentException](FrameBus.decodePayload(Array[Byte](1, 2)))
  }

  test("offsets serialize to sorted JSON and round-trip") {
    val off = FrameBusOffset(Map("zz" -> 7L, "aa" -> 0L, "m.1" -> 12L))
    assert(off.json() == """{"aa":0,"m.1":12,"zz":7}""")
    assert(FrameBusOffset.fromJson(off.json()) == off)
    assert(FrameBusOffset.fromJson("{}") == FrameBusOffset(Map.empty))
  }

  test("appendTopic rejects topic names that would break offset JSON") {
    val dir = Files.createTempDirectory("graft_bus_badname").toString
    intercept[IllegalArgumentException](
      FrameBus.appendTopic(dir, """a"b""", Seq(msg(1L, "k", "v"))))
  }

  /** Run the source to completion via foreachBatch, recording per-batch row
    * counts; returns (batchSizes, collected rows as (topic, offset, key)). */
  private def drain(bus: String, maxPerTrigger: Long,
      checkpoint: Option[String] = None): (Seq[Long], Seq[(String, Long, String)]) = {
    val sizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val rows = scala.collection.mutable.ArrayBuffer.empty[(String, Long, String)]
    val stream = spark.readStream.format("graft.streaming.FrameBusProvider")
      .option("busDir", bus)
      .option("maxOffsetsPerTrigger", maxPerTrigger.toString).load()
    var w = stream.writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (df: DataFrame, _: Long) =>
        val batch = df.select("topic", "offset", "key").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
        sizes.synchronized { sizes += batch.length.toLong; rows ++= batch }
        ()
      }
    checkpoint.foreach(c => w = w.option("checkpointLocation", c))
    val q = w.start()
    try q.processAllAvailable() finally q.stop()
    (sizes.toSeq.filter(_ > 0), rows.toSeq)
  }

  test("admission control bounds every micro-batch at maxOffsetsPerTrigger") {
    val bus = Files.createTempDirectory("graft_bus_adm").toString
    FrameBus.appendTopic(bus, "alpha", (0 until 10).map(i => msg(1000L + i, s"a$i", s"va$i")))
    FrameBus.appendTopic(bus, "beta", (0 until 10).map(i => msg(2000L + i, s"b$i", s"vb$i")))
    val (sizes, rows) = drain(bus, maxPerTrigger = 7)
    assert(sizes.sum == 20, s"every frame delivered exactly once: $sizes")
    assert(sizes.forall(_ <= 7), s"no batch exceeds the admission limit: $sizes")
    assert(sizes.length >= 3, s"the backlog was split across triggers: $sizes")
    // offsets are dense per topic and each frame carries its own payload
    for (t <- Seq("alpha", "beta")) {
      val got = rows.filter(_._1 == t).sortBy(_._2)
      assert(got.map(_._2) == (0L until 10L), s"dense offsets for $t")
      assert(got.map(_._3) == (0 until 10).map(i => s"${t.head}$i"), s"payloads for $t")
    }
  }

  test("checkpointed restart resumes from committed offsets, no duplicates") {
    val bus = Files.createTempDirectory("graft_bus_resume").toString
    val ckpt = Files.createTempDirectory("graft_bus_resume_ckpt").toString
    FrameBus.appendTopic(bus, "t0", (0 until 5).map(i => msg(100L + i, s"k$i", s"v$i")))
    val (_, rows1) = drain(bus, maxPerTrigger = 100, checkpoint = Some(ckpt))
    assert(rows1.map(_._2).sorted == (0L until 5L))
    // new frames land while the query is down; restart sees only those
    FrameBus.appendTopic(bus, "t0", (5 until 8).map(i => msg(100L + i, s"k$i", s"v$i")))
    val (_, rows2) = drain(bus, maxPerTrigger = 100, checkpoint = Some(ckpt))
    assert(rows2.map(_._2).sorted == (5L until 8L),
      s"resume delivers exactly the appended tail: ${rows2.sortBy(_._2)}")
  }

  test("reader tolerates a trailing half-written frame (live append race)") {
    val payload = FrameBus.encodePayload(42L, "k", "v".getBytes("UTF-8"))
    val full = graft.functions.GraftCodec.frameEncode(payload)
    // two complete frames + a truncated third (only part of its body landed)
    val torn = full ++ full ++ full.dropRight(3)
    assert(FrameBus.decodeCompleteFrames(torn).length == 2,
      "readable prefix is the available data; the partial tail is next trigger's")
    assert(FrameBus.decodeCompleteFrames(full ++ full).length == 2)
    // a torn write inside the length prefix itself is also a partial frame
    assert(FrameBus.decodeCompleteFrames(full ++ full.take(2)).length == 1)
    // the strict wire-format kernel still rejects truncation
    intercept[IllegalArgumentException](graft.functions.GraftCodec.frameDecode(torn))
  }

  test("count walks headers only: no payload read, torn tails tolerated") {
    val dir = Files.createTempDirectory("graft_bus_count").toString
    assert(FrameBus.count(dir, "absent") == 0L)
    // frames whose payloads are NOT valid (ts,key,value) encodings — a
    // count that decoded payloads would blow up on the 2-byte body; the
    // header-only walk must not care what the bytes mean
    val opaque = Seq(Array[Byte](1, 2), Array[Byte](), Array.fill[Byte](300)(7))
    val bytes = opaque.flatMap(graft.functions.GraftCodec.frameEncode(_).toSeq).toArray
    val p = java.nio.file.Paths.get(dir, "op" + FrameBus.LogSuffix)
    Files.write(p, bytes)
    assert(FrameBus.count(dir, "op") == 3L)
    intercept[IllegalArgumentException](FrameBus.decodePayload(opaque.head))
    // torn tail: cut=3 leaves the last (304-byte) frame with a partial
    // payload, cut=302 leaves only 2 bytes of its header — both are "not
    // yet there", and count agrees with decodeCompleteFrames at every cut
    for (cut <- Seq(3, 302)) {
      Files.write(p, bytes ++ bytes.dropRight(cut))
      assert(FrameBus.count(dir, "op") == 5L)
      assert(FrameBus.count(dir, "op") ==
        FrameBus.decodeCompleteFrames(Files.readAllBytes(p)).length.toLong)
    }
    // a corrupt length prefix is still an error, same as the decode path
    Files.write(p, Array[Byte](-1, -1, -1, -1, 0, 0))
    intercept[IllegalArgumentException](FrameBus.count(dir, "op"))
  }

  test("readRange reads only [from, until) and stops at a torn tail") {
    val dir = Files.createTempDirectory("graft_bus_range").toString
    assert(FrameBus.readRange(dir, "absent", 0L, 5L).isEmpty)
    FrameBus.appendTopic(dir, "t", (0 until 6).map(i => msg(10L + i, s"k$i", "v" * i)))
    val p = java.nio.file.Paths.get(dir, "t" + FrameBus.LogSuffix)
    // a seventh frame whose payload only partly landed
    val next = graft.functions.GraftCodec.frameEncode(
      FrameBus.encodePayload(99L, "k6", "tail".getBytes("UTF-8")))
    Files.write(p, next.dropRight(2), java.nio.file.StandardOpenOption.APPEND)
    val all = FrameBus.readAll(dir, "t")
    assert(all.length == 6)
    for (from <- 0L to 7L; until <- from to 8L) {
      val got = FrameBus.readRange(dir, "t", from, until)
      val want = all.slice(from.toInt, until.toInt)
      assert(got.map(_.toSeq) == want.map(_.toSeq), s"[$from, $until)")
    }
    // the reader's rows carry their log offsets
    val (ts, key, _) = FrameBus.decodePayload(FrameBus.readRange(dir, "t", 4L, 5L).head)
    assert(ts == 14L && key == "k4")
  }

  test("latestOffset never regresses when a topic log vanishes or shrinks") {
    val bus = Files.createTempDirectory("graft_bus_vanish").toString
    FrameBus.appendTopic(bus, "gone", (0 until 4).map(i => msg(1L + i, s"k$i", "v")))
    val stream = new FrameBusMicroBatchStream(bus, maxOffsets = Some(100L))
    val committed = FrameBusOffset(Map("gone" -> 4L))
    // topic log deleted after offsets were committed
    Files.delete(java.nio.file.Paths.get(bus, "gone" + FrameBus.LogSuffix))
    val afterDelete = stream.latestOffset(committed,
      org.apache.spark.sql.connector.read.streaming.ReadLimit.maxRows(100L))
      .asInstanceOf[FrameBusOffset]
    assert(afterDelete.counts("gone") == 4L,
      s"missing topic keeps its committed offset (no replay from 0): $afterDelete")
    // log reappears shorter than the committed offset: clamp, don't go negative
    FrameBus.appendTopic(bus, "gone", (0 until 2).map(i => msg(9L + i, s"r$i", "v")))
    val afterShrink = stream.latestOffset(committed,
      org.apache.spark.sql.connector.read.streaming.ReadLimit.maxRows(100L))
      .asInstanceOf[FrameBusOffset]
    assert(afterShrink.counts("gone") == 4L,
      s"shrunken log admits nothing new, end >= start holds: $afterShrink")
  }

  test("AvailableNow caps admission at the start-of-query snapshot") {
    val bus = Files.createTempDirectory("graft_bus_avnow").toString
    FrameBus.appendTopic(bus, "t0", (0 until 6).map(i => msg(1L + i, s"k$i", "v")))
    val stream = new FrameBusMicroBatchStream(bus, maxOffsets = None)
    stream.prepareForTriggerAvailableNow()
    // frames and a whole topic land AFTER the snapshot: both belong to the
    // next run, not this backfill
    FrameBus.appendTopic(bus, "t0", Seq(msg(100L, "late", "v")))
    FrameBus.appendTopic(bus, "t1", Seq(msg(101L, "born-late", "v")))
    val end = stream.latestOffset(FrameBusOffset(Map.empty),
      org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable())
      .asInstanceOf[FrameBusOffset]
    assert(end.counts == Map("t0" -> 6L), s"snapshot cap violated: $end")
    // ...while a plain (non-AvailableNow) stream sees everything
    val live = new FrameBusMicroBatchStream(bus, maxOffsets = None)
    val liveEnd = live.latestOffset(FrameBusOffset(Map.empty),
      org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable())
      .asInstanceOf[FrameBusOffset]
    assert(liveEnd.counts == Map("t0" -> 7L, "t1" -> 1L))
  }

  test("AvailableNow drains a backlog in bounded batches then terminates") {
    import org.apache.spark.sql.streaming.Trigger
    val bus = Files.createTempDirectory("graft_bus_avnow_e2e").toString
    FrameBus.appendTopic(bus, "big", (0 until 23).map(i => msg(1L + i, s"k$i", s"v$i")))
    val stream = spark.readStream.format("graft.streaming.FrameBusProvider")
      .option("busDir", bus).option("maxOffsetsPerTrigger", "5").load()
    val name = "graft_avnow_e2e"
    val q = stream.select("topic", "offset").writeStream.format("memory")
      .queryName(name).trigger(Trigger.AvailableNow()).start()
    try assert(q.awaitTermination(120000), "backfill must self-terminate")
    finally q.stop()
    val got = spark.table(name).collect().map(_.getLong(1)).sorted
    assert(got.toSeq == (0L until 23L), "exactly-once, complete drain")
    assert(q.recentProgress.count(_.numInputRows > 0) >= 5,
      s"23 frames at 5/trigger needs >= 5 non-empty batches; got " +
        q.recentProgress.map(_.numInputRows).mkString(","))
  }

  test("source schema exposes the Kafka-shaped columns with right types") {
    val bus = Files.createTempDirectory("graft_bus_schema").toString
    FrameBus.appendTopic(bus, "s", Seq(msg(1700000000000000L, "k", "v")))
    val df = spark.readStream.format("graft.streaming.FrameBusProvider")
      .option("busDir", bus).load()
    assert(df.schema.map(f => (f.name, f.dataType.typeName)) == Seq(
      "topic" -> "string", "offset" -> "long", "ts" -> "timestamp",
      "key" -> "string", "value" -> "binary"))
    // ts round-trips through the wire format at microsecond precision
    val out = StreamingQueries.runToMemory(spark,
      df.select(unix_micros(col("ts")).as("us"), col("key")), OutputMode.Append())
    assert(out.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1700000000000000L, "k")))
  }
}
