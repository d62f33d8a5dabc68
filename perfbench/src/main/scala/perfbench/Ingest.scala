package perfbench

import java.nio.file.{Files => JFiles, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.streaming.{CompactingSink, FrameBus, FrameBusOffset}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

/** `ingest`: the north-star composition, with no `GraftStore` in the path.
  *
  *  1. Backlog: `BacklogFrames` frames written during set-up are drained
  *     into the compacted store with `Trigger.AvailableNow` at
  *     `maxOffsetsPerTrigger = MaxOffsets`. The throughput is the frames
  *     per second of the drain's epochs after its first (the sum of their
  *     `triggerExecution`): query start-up and the new query's cold first
  *     epoch are not counted.
  *  2. Open loop: a producer thread appends seeded frames to `Topics`
  *     `FrameBus` topic logs at a fixed `Rate`, one frame per tick,
  *     sleeping between ticks, while one `FrameBusProvider` stream on a
  *     `TriggerMs` processing-time trigger feeds
  *     `foreachBatch(CompactingSink.upsertCompact)` into the same store.
  *     Freshness of a frame is the time from its scheduled append to the
  *     commit of the epoch that holds it.
  *
  * The frames follow the repository's ingest message (FIXTURES.md B1): the
  * value is a script source, the key its content hash (SHA-256, hex), so a
  * script run again overwrites its own key and compaction keeps its latest
  * run. Scripts are drawn from a seeded pool of `Scripts` sources.
  *
  * Set-up writes the backlog and seeds the compacted store with the first
  * `InitialScripts` scripts of the pool. The open-loop stream starts on
  * `WarmFrames` frames and the producer starts once they are committed, so
  * no timed frame waits for a query's first, cold epoch. After both phases
  * the store must hold exactly the latest frame (by its strictly
  * increasing event time) per key over everything produced. */
object Ingest extends Workload {
  /** The reference's one `scripts` topic, spread over several logs so the
    * source reads many. */
  val Topics: Seq[String] = (0 until 4).map(i => s"scripts-$i")
  /** Frames per second. The reference runs at most one queued script per
    * render frame (SURVEY.md section 4, scheduler.cpp:88-100); at 60 frames
    * per second that is 60 scripts/s, its peak consumption. The frame rate
    * is an assumption: the repository does not document it. */
  val Rate = 60
  /** Processing-time trigger: the reference drains its queue on a 500 ms
    * tick (SURVEY.md S3, loader.cpp:11). */
  val TriggerMs = 500L
  /** Script sizes, log-uniform between these bounds. A stand-in: only the
    * 8 MiB cap is documented (server.cpp:85), no size distribution; the
    * bounds keep a run's bus and store at a few MB. */
  val MinScriptBytes = 256
  val MaxScriptBytes = 8192
  /** Distinct scripts in the pool; the compacted store holds at most this
    * many keys. */
  val Scripts = 2000
  val InitialScripts = 1000
  /** A consumer restarting after half a minute away at `Rate`. */
  val BacklogFrames = 2000
  val MaxOffsets = 500
  /** Seconds of open loop per `--seconds`. */
  val OpenShare = 1.5
  val WarmFrames = 100
  /** Event-time origin (µs); the backlog counts up from here, the open loop
    * from `OpenTs`: the backlog is older than the live traffic. */
  private val BaseTs = 1700000000000000L
  private val OpenTs = BaseTs + 1000000000L

  private final case class Produced(key: String, ts: Long, value: Array[Byte])
  private final case class Script(key: String, source: Array[Byte])

  private def dirs(args: Args) = {
    val root = s"${args.work}/ingest"
    (root, s"$root/bus", s"$root/backlog", s"$root/store")
  }

  private def stream(spark: SparkSession, dir: String, ckpt: String, trigger: Trigger,
                     maxOffsets: Option[Int])(sink: (DataFrame, Long) => Unit) = {
    val r = spark.readStream.format("graft.streaming.FrameBusProvider").option("busDir", dir)
    maxOffsets.fold(r)(m => r.option("maxOffsetsPerTrigger", m.toLong)).load()
      .writeStream.trigger(trigger).option("checkpointLocation", ckpt)
      .foreachBatch(sink).start()
  }

  private val Words = Array("local", "function", "end", "return", "if", "then", "else",
    "for", "in", "pairs(t)", "do", "print(x)", "wait(0.1)", "game:GetService(\"Players\")",
    "x = x + 1", "t[k] = v", "nil", "true", "false", "--", "\n")

  /** The seeded script pool: sources of log-uniform size, keyed by hash. */
  private def scripts(seed: Long): IndexedSeq[Script] = {
    val rnd = new scala.util.Random(seed ^ 0x5c1)
    val sha = java.security.MessageDigest.getInstance("SHA-256")
    (0 until Scripts).map { i =>
      val size = math.exp(math.log(MinScriptBytes) +
        rnd.nextDouble() * math.log(MaxScriptBytes.toDouble / MinScriptBytes)).toInt
      val sb = new StringBuilder(s"-- script $i\n")
      while (sb.length < size) sb.append(Words(rnd.nextInt(Words.length))).append(' ')
      val src = sb.toString.getBytes("UTF-8")
      Script(sha.digest(src).map(b => f"$b%02x").mkString, src)
    }
  }

  /** Backlog frames and initial store rows, from the seed alone. */
  private def inputs(seed: Long, pool: IndexedSeq[Script]): (Seq[(String, Produced)], Seq[Produced]) = {
    val rnd = new scala.util.Random(seed ^ 0x5eed)
    val initial = pool.take(InitialScripts).zipWithIndex.map { case (s, i) =>
      Produced(s.key, BaseTs - InitialScripts + i, s.source) }
    val backlog = (0 until BacklogFrames).map { i =>
      val s = pool(rnd.nextInt(Scripts))
      Topics(i % Topics.size) -> Produced(s.key, BaseTs + i, s.source)
    }
    (backlog, initial)
  }

  def setup(spark: SparkSession, args: Args): Unit = {
    val (root, _, backlogDir, store) = dirs(args)
    Fs.deleteRecursively(root)
    val (backlog, initial) = inputs(args.seed, scripts(args.seed))
    backlog.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (t, fs) =>
      FrameBus.appendTopic(backlogDir, t, fs.map { case (_, p) => (p.ts, p.key, p.value) })
    }
    import spark.implicits._
    val init = initial.map(p => (p.key, p.ts, p.value)).toDF("key", "tsu", "value")
      .selectExpr("key", "timestamp_micros(tsu) AS ts", "value")
    CompactingSink.upsertCompact(store, Seq("key"), Seq("ts"))(init, -1L)
  }

  def run(spark: SparkSession, args: Args, tracer: Option[Tracer]): PassResult = {
    val (root, bus, backlogDir, store) = dirs(args)
    val pool = scripts(args.seed)
    val (backlog, initial) = inputs(args.seed, pool)
    val rnd = new scala.util.Random(args.seed)
    val epochs = new ConcurrentHashMap[String, Long]() // "<query>/<batch>" -> commit ns
    val epochLog = new OpLog
    val upsertMs = mutable.ArrayBuffer.empty[Double]
    val touched = mutable.ArrayBuffer.empty[Int]
    val liveBefore = bucketNames(store).size
    def sink(query: String)(df: DataFrame, id: Long): Unit = {
      val before = if (tracer.isDefined) bucketIds(store) else Map.empty[String, AnyRef]
      val t0 = System.nanoTime()
      Tracer.tagged(spark, "epoch")(epochLog.timed("epoch")(
        CompactingSink.upsertCompact(store, Seq("key"), Seq("ts"))(
          df.select("key", "ts", "value"), id)))
      val t1 = System.nanoTime()
      epochs.put(s"$query/$id", t1)
      upsertMs.synchronized { upsertMs += (t1 - t0) / 1e6 }
      if (tracer.isDefined) {
        val after = bucketIds(store)
        touched.synchronized { touched += after.count { case (b, id) => !before.get(b).contains(id) } }
      }
    }
    // phase 1: backlog drain. Its first epoch pays the new query's one-off
    // planning; the throughput is that of the epochs after it.
    val b = stream(spark, backlogDir, s"$root/ckpt_backlog", Trigger.AvailableNow(),
      Some(MaxOffsets))(sink("backlog"))
    b.awaitTermination()
    val drainProgress = b.recentProgress.toSeq
    val drainEpochMs = drainProgress.map(_.durationMs.get("triggerExecution").toLong)
    val drainS = drainEpochMs.drop(1).sum / 1e3
    val drainEps = drainProgress.drop(1).map(_.numInputRows).sum / drainS
    b.exception.foreach { e => System.err.println(s"[perfbench] backlog drain failed: $e") }
    val drained = drainProgress.map(_.numInputRows).sum
    // phase 2: open loop, once the stream has committed the warm frames
    def draw(ts: Long): Produced = {
      val s = pool(rnd.nextInt(Scripts))
      Produced(s.key, ts, s.source)
    }
    val warm = (1 to WarmFrames).map(i => Topics(i % Topics.size) -> draw(OpenTs + i))
    warm.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (t, fs) =>
      FrameBus.appendTopic(bus, t, fs.map { case (_, p) => (p.ts, p.key, p.value) })
    }
    val offsets = mutable.Map(Topics.map(t => t -> warm.count(_._1 == t).toLong): _*)
    val q = stream(spark, bus, s"$root/ckpt_open", Trigger.ProcessingTime(TriggerMs), None)(
      sink("open"))
    def reached(counts: Map[String, Long]) = q.recentProgress.exists(p =>
      FrameBusOffset.fromJson(p.sources.head.endOffset).counts == counts)
    def await(counts: Map[String, Long]): Unit = {
      val deadline = System.nanoTime() + 60000000000L
      while (!reached(counts) && q.exception.isEmpty && System.nanoTime() < deadline)
        Thread.sleep(10)
    }
    await(offsets.toMap)
    val frames = mutable.ArrayBuffer.empty[(Stats.Frame, Produced)]
    val appendMs = mutable.ArrayBuffer.empty[Double]
    var lateMsMax = 0.0
    val tickNs = 1000000000L / Rate
    val ticks = (args.seconds * OpenShare * Rate).toInt
    var seq = WarmFrames.toLong
    val producer = new Thread(() => {
      val t0 = System.nanoTime()
      (0 until ticks).foreach { i =>
        val due = t0 + i * tickNs
        val sleep = due - System.nanoTime()
        if (sleep > 0) Thread.sleep(sleep / 1000000L, (sleep % 1000000L).toInt)
        lateMsMax = math.max(lateMsMax, (System.nanoTime() - due) / 1e6)
        seq += 1
        val t = Topics(i % Topics.size)
        val p = draw(OpenTs + seq)
        val a0 = System.nanoTime()
        FrameBus.appendTopic(bus, t, Seq((p.ts, p.key, p.value)))
        appendMs += (System.nanoTime() - a0) / 1e6
        frames += ((Stats.Frame(t, offsets(t), due), p))
        offsets(t) += 1
      }
    }, "perfbench-producer")
    producer.start()
    producer.join()
    await(offsets.toMap)
    q.stop()
    q.exception.foreach { e => System.err.println(s"[perfbench] ingest stream failed: $e") }
    val openProgress = q.recentProgress.toSeq
    val openEpochs = openProgress.flatMap { p =>
      Option(epochs.get(s"open/${p.batchId}")).map(ns =>
        Stats.Epoch(FrameBusOffset.fromJson(p.sources.head.endOffset).counts, ns))
    }
    val fresh = Stats.freshnessMs(frames.map(_._1).toSeq, openEpochs)
    // correctness: latest frame per key over the seed rows and every frame
    val want = mutable.HashMap.empty[String, Produced]
    (initial.iterator ++ warm.iterator.map(_._2) ++ frames.iterator.map(_._2) ++
      backlog.iterator.map(_._2)).foreach { p =>
      if (want.get(p.key).forall(_.ts < p.ts)) want(p.key) = p
    }
    val got = spark.read.parquet(store).selectExpr("key", "unix_micros(ts)", "value").collect()
    val correct = got.length == want.size && got.forall { r =>
      want.get(r.getString(0)).exists(p => p.ts == r.getLong(1) &&
        java.util.Arrays.equals(p.value, r.getAs[Array[Byte]](2)))
    }
    if (!correct) System.err.println(
      s"[perfbench] ingest: store holds ${got.length} keys, model ${want.size}")
    // one op per frame: open-loop frames no epoch covered, and backlog
    // frames the drain did not admit, are failures
    val log = new OpLog
    fresh.foreach(f => log.ops += Op("open_frame", 0, 0,
      f.map(ms => (ms * 1e6).toLong).getOrElse(0L), f.isDefined))
    (0 until BacklogFrames).foreach(i => log.ops += Op("backlog_frame", 0, 0, 0, i < drained))
    val ms = log.latencies(_ == "open_frame")
    val e2e = OpLog.e2e(log, _ == "open_frame", drainEps)
    val detail: Map[String, Any] = Map(
      "ingest_eps" -> drainEps,
      "ingest_fresh_ms_p50" -> Stats.percentile(ms, 0.5),
      "ingest_fresh_ms_p90" -> Stats.percentile(ms, 0.9),
      "fresh_ms" -> OpLog.summary(ms),
      "open_frames" -> frames.size,
      "open_epochs" -> openEpochs.size,
      "backlog_epochs" -> drainProgress.length,
      "drain_s" -> drainS,
      "drain_epoch_ms" -> drainEpochMs,
      "open_epoch_ms" -> openProgress.map(_.durationMs.get("triggerExecution").toLong),
      "gen_late_ms_max" -> lateMsMax)
    val layers = tracer.map { t =>
      t.drain()
      val progress = t.progress.synchronized(t.progress.toSeq).map(_.progress)
      def dur(k: String) = progress.flatMap(p => Option(p.durationMs.get(k)).map(_.toDouble))
      val lag = progress.map { p =>
        val s = p.sources.head
        val latest = Option(s.latestOffset).map(FrameBusOffset.fromJson(_).counts).getOrElse(Map.empty)
        val end = FrameBusOffset.fromJson(s.endOffset).counts
        latest.map { case (k, n) => n - end.getOrElse(k, 0L) }.sum.toDouble
      }
      val overhead = progress.flatMap(p => for {
        all <- Option(p.durationMs.get("triggerExecution"))
        add <- Option(p.durationMs.get("addBatch"))
      } yield (all - add).toDouble)
      val c0 = System.nanoTime()
      Topics.foreach(FrameBus.count(bus, _))
      val countMs = (System.nanoTime() - c0) / 1e6
      val consumed = frames.size + drained
      t.opLayers(epochLog, _ == "epoch") ++ Map(
        "bus.append_ms_p50" -> Stats.median(appendMs.toSeq),
        "bus.count_ms" -> countMs,
        "bus.log_bytes" -> (Fs.bytes(bus) + Fs.bytes(backlogDir)).toDouble,
        "source.latest_offset_ms" -> medianOr0(dur("latestOffset")),
        "source.get_batch_ms" -> medianOr0(dur("getBatch")),
        "source.lag_frames_max" -> (if (lag.isEmpty) 0.0 else lag.max),
        "sink.upsert_ms_p50" -> Stats.median(upsertMs.toSeq),
        "sink.buckets_touched" -> Stats.mean(touched.map(_.toDouble).toSeq),
        "sink.splits" -> (bucketNames(store).size - liveBefore).toDouble,
        "sink.bytes_rewritten_per_frame" ->
          t.tagSums(_ == "epoch").outputBytes.toDouble / math.max(1L, consumed),
        "stream.trigger_overhead_ms" -> medianOr0(overhead),
        "gen.late_ms_max" -> lateMsMax)
    }.getOrElse(Map.empty)
    PassResult(e2e, detail, log, correct && q.exception.isEmpty && b.exception.isEmpty, layers)
  }

  private def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  private def bucketNames(store: String): Seq[String] = {
    val s = JFiles.list(Paths.get(store))
    try s.iterator().asScala.map(_.getFileName.toString).filter(_.startsWith("bucket=")).toList
    finally s.close()
  }

  /** Live bucket directory → its file key; a rewritten bucket is swapped in
    * as a new directory, so its key changes. */
  private def bucketIds(store: String): Map[String, AnyRef] =
    bucketNames(store).map { b =>
      b -> JFiles.readAttributes(Paths.get(store, b),
        classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey()
    }.toMap
}
