package graft.streaming

import graft.{SparkTestBase, Tables => T}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import java.nio.file.Files
import java.sql.Timestamp

/** T3-T6 streaming semantics the batch oracle can't exercise: multi-batch
  * state accumulation, watermark late-drop, checkpointed exactly-once
  * restart (the upgrade over the reference's at-most-once in-memory queue,
  * scheduler.cpp:92-99). */
class StreamingSpec extends SparkTestBase {

  private def tmp(name: String): String = {
    val d = Files.createTempDirectory(s"graft_$name")
    d.toFile.deleteOnExit()
    d.toString
  }

  test("mapGroupsWithState accumulates across micro-batches (T4)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long)]
    val out = input.toDS()
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (k: Long, rows: Iterator[(Long, Long)], st: GroupState[Long]) =>
          val total = st.getOption.getOrElse(0L) + rows.map(_._2).sum
          st.update(total)
          (k, total)
      }
    val qn = s"t4_test_${System.nanoTime()}"
    val q = out.toDF("user", "total").writeStream
      .format("memory").queryName(qn).outputMode(OutputMode.Update()).start()
    try {
      input.addData((1L, 10L), (2L, 5L)); q.processAllAvailable()
      input.addData((1L, 7L)); q.processAllAvailable()
      val rows = spark.table(qn).collect().map(r => (r.getLong(0), r.getLong(1)))
      // update-mode memory sink appends each batch's updates; last row per key wins
      val last = rows.zipWithIndex.groupBy(_._1._1).map { case (k, v) => k -> v.maxBy(_._2)._1._2 }
      assert(last(1L) == 17L, s"state did not accumulate: $rows")
      assert(last(2L) == 5L)
    } finally q.stop()
  }

  test("watermark drops late rows in append-mode windowed agg (T3)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Timestamp]
    val agg = input.toDS().toDF("ts")
      .withWatermark("ts", "10 seconds")
      .groupBy(window($"ts", "10 seconds")).agg(count(lit(1)).as("n"))
    val qn = s"t3_test_${System.nanoTime()}"
    val q = agg.writeStream.format("memory").queryName(qn)
      .outputMode(OutputMode.Append()).start()
    try {
      def ts(s: Long) = new Timestamp(s * 1000)
      input.addData(ts(5), ts(7)); q.processAllAvailable()      // window [0,10)
      input.addData(ts(100)); q.processAllAvailable()           // advances watermark to 90
      input.addData(ts(6)); q.processAllAvailable()             // late: dropped
      input.addData(ts(200)); q.processAllAvailable()           // closes [100,110)
      val n = spark.table(qn)
        .select($"window.start".cast("long"), $"n").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(n(0L) == 2L, s"window [0,10) must contain only the 2 on-time rows, got $n")
    } finally q.stop()
  }

  test("checkpointed file sink is exactly-once across restart (T6)") {
    import spark.implicits._
    val ckpt = tmp("ckpt")
    val outDir = tmp("out")
    val schema = T.eventsRaw(spark, sf).schema
    def start() = T.normalizeEventsTs(
        spark.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet")
          .parquet(sf))
      .select($"event_id", $"user_id", $"ts")
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    val q1 = start(); q1.awaitTermination(60000); q1.stop()
    val n1 = spark.read.parquet(outDir).count()
    // restart against the same checkpoint: no reprocessing, no duplicates
    val q2 = start(); q2.awaitTermination(60000); q2.stop()
    val n2 = spark.read.parquet(outDir).count()
    assert(n1 == 1000L, s"first run wrote $n1 rows")
    assert(n2 == n1, s"restart duplicated output: $n1 -> $n2")
  }

  test("streaming consumer + continuous compaction keeps latest-per-key store (north star)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val store = tmp("compact_store") + "/store"
    val input = MemoryStream[(String, Long, String)] // (key, offset, value)
    val q = input.toDS().toDF("k", "off", "v")
      .writeStream
      .foreachBatch(CompactingSink.upsertCompact(store, Seq("k"), Seq("off")) _)
      .start()
    try {
      input.addData(("k1", 1L, "a"), ("k2", 1L, "b")); q.processAllAvailable()
      val s1 = spark.read.parquet(store).collect()
        .map(r => r.getString(0) -> r.getString(2)).toMap
      assert(s1 == Map("k1" -> "a", "k2" -> "b"))
      input.addData(("k1", 2L, "a2"), ("k3", 1L, "c")); q.processAllAvailable()
      val s2 = spark.read.parquet(store).collect()
        .map(r => r.getString(0) -> r.getString(2)).toMap
      assert(s2 == Map("k1" -> "a2", "k2" -> "b", "k3" -> "c"),
        s"store after batch 2: $s2")
      // out-of-order late frame must NOT regress the store
      input.addData(("k1", 1L, "stale")); q.processAllAvailable()
      val s3 = spark.read.parquet(store).collect()
        .map(r => r.getString(0) -> r.getString(2)).toMap
      assert(s3("k1") == "a2", s"late frame regressed the store: $s3")
    } finally q.stop()
  }

  /** (file name → bytes) of every data file under a bucket dir. */
  private def bucketBytes(dir: java.nio.file.Path): Map[String, Seq[Byte]] = {
    if (!Files.isDirectory(dir)) return Map.empty
    val s = Files.walk(dir)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(Files.isRegularFile(_))
        .filterNot(_.getFileName.toString.startsWith("."))
        .map(p => dir.relativize(p).toString -> Files.readAllBytes(p).toSeq)
        .toMap
    } finally s.close()
  }

  test("bucketed compacting store rewrites only the touched buckets") {
    import spark.implicits._
    import java.nio.file.Paths
    val store = tmp("bucket_store") + "/store"
    // find two keys that land in different depth-1 buckets (hash is stable)
    val keys = ('a' to 'p').map(_.toString)
    val bucketOf = keys.map(k => k ->
      spark.range(1).select(pmod(xxhash64(lit(k)), lit(2L)) + lit(2L)).head().getLong(0)).toMap
    val k1 = keys.head
    val k2 = keys.find(k => bucketOf(k) != bucketOf(k1)).get
    // a 1-byte bound splits the first epoch's bucket=1 into bucket=2 and 3
    CompactingSink.upsertCompact(store, Seq("k"), Seq("off"), maxBucketBytes = 1)(
      Seq((k1, 1L, "a"), (k2, 1L, "b")).toDF("k", "off", "v"), 0L)
    val k2DirBefore = bucketBytes(Paths.get(s"$store/bucket=${bucketOf(k2)}"))
    assert(k2DirBefore.nonEmpty)
    // second batch touches only k1's bucket
    CompactingSink.upsertCompact(store, Seq("k"), Seq("off"))(
      Seq((k1, 2L, "a2")).toDF("k", "off", "v"), 1L)
    val k2DirAfter = bucketBytes(Paths.get(s"$store/bucket=${bucketOf(k2)}"))
    assert(k2DirAfter == k2DirBefore, "untouched bucket was rewritten")
    val state = spark.read.parquet(store).collect()
      .map(r => r.getString(0) -> r.getString(2)).toMap
    assert(state == Map(k1 -> "a2", k2 -> "b"), s"store state: $state")
  }

  test("compacting store recovers from a crash between the two swap moves") {
    import spark.implicits._
    import java.nio.file.{Paths, StandardCopyOption}
    val store = tmp("crash_store") + "/store"
    CompactingSink.upsertCompact(store, Seq("k"), Seq("off"))(
      Seq(("k1", 1L, "a"), ("k2", 1L, "b")).toDF("k", "off", "v"), 0L)
    val before = spark.read.parquet(store).collect()
      .map(r => r.getString(0) -> r.getString(2)).toMap
    // simulate the crash window: live bucket moved to _old, new store never
    // landed (the exact state the old remove-then-move order lost data in)
    val root = Paths.get(store)
    val aBucket = {
      import scala.jdk.CollectionConverters._
      val s = Files.list(root)
      try s.iterator().asScala.map(_.getFileName.toString)
        .find(_.startsWith("bucket=")).get finally s.close()
    }
    Files.move(root.resolve(aBucket), root.resolve(s"_old_$aBucket"),
      StandardCopyOption.ATOMIC_MOVE)
    // next batch (checkpoint replay) recovers the bucket, then merges
    CompactingSink.upsertCompact(store, Seq("k"), Seq("off"))(
      Seq(("k1", 2L, "a2")).toDF("k", "off", "v"), 1L)
    val after = spark.read.parquet(store).collect()
      .map(r => r.getString(0) -> r.getString(2)).toMap
    assert(after == before + ("k1" -> "a2"), s"crash recovery lost keys: $after")
  }

  test("compacting store splits oversized buckets and stays a prefix-free cover") {
    import spark.implicits._
    import java.nio.file.Paths
    val store = tmp("split_store") + "/store"
    def batch(ids: Range, off: Long) = ids
      .map(i => (s"key$i", off, "v" * 2000)) // ~2KB payload per row
      .toDF("k", "off", "v")
    val up = CompactingSink.upsertCompact(store, Seq("k"), Seq("off"),
      maxBucketBytes = 4096) _
    up(batch(0 until 30, 1L), 0L)
    val live1 = CompactingSink.liveBuckets(store)
    def depth(n: Long): Int = 63 - java.lang.Long.numberOfLeadingZeros(n)
    assert(live1.map(depth).max > 0,
      s"30 x 2KB rows in the depth-0 bucket=1 must have split: $live1")
    // prefix-free cover: every residue at max depth is covered exactly once
    val maxD = live1.map(depth).max
    (0L until (1L << maxD)).foreach { r =>
      val covering = live1.filter(n => (r % (1L << depth(n))) == n - (1L << depth(n)))
      assert(covering.size == 1, s"residue $r covered by $covering in $live1")
    }
    // merge after growth: updates land in the deeper buckets, store stays
    // latest-per-key
    up(batch(0 until 30, 2L), 1L)
    val state = spark.read.parquet(store).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(state.size == 30 && state.values.forall(_ == 2L),
      s"post-split merge lost updates: ${state.toSeq.sortBy(_._1).take(5)}")
  }

  test("interrupted split rolls back: derived children dropped, parent restored") {
    import spark.implicits._
    import java.nio.file.{Paths, StandardCopyOption}
    val store = tmp("split_crash") + "/store"
    CompactingSink.upsertCompact(store, Seq("k"), Seq("off"))(
      (0 until 20).map(i => (s"k$i", 1L, s"v$i")).toDF("k", "off", "v"), 0L)
    val before = spark.read.parquet(store).collect()
      .map(r => (r.getString(0), r.getString(2))).toMap
    // simulate a crash mid-split of bucket n: parent parked at _old, one
    // derived child landed, the _split root still present
    val n = CompactingSink.liveBuckets(store).head
    val (c1, _) = CompactingSink.childrenOf(n)
    val root = Paths.get(store)
    Files.createDirectories(root.resolve(s"_split_$n"))
    Files.move(root.resolve(s"bucket=$n"), root.resolve(s"_old_bucket=$n"),
      StandardCopyOption.ATOMIC_MOVE)
    Files.createDirectories(root.resolve(s"bucket=$c1")) // half-landed child
    CompactingSink.recover(store)
    val live = CompactingSink.liveBuckets(store)
    assert(live.contains(n) && !live.contains(c1),
      s"rollback must restore the parent and drop the derived child: $live")
    val after = spark.read.parquet(store).collect()
      .map(r => (r.getString(0), r.getString(2))).toMap
    assert(after == before, "rollback changed store contents")
  }

  test("mapGroupsWithState state survives a checkpointed restart (T4+T6)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = tmp("state_ckpt")
    // versioned state (SURVEY §7 hard part b): the case class is the state
    // schema contract — the restarted query must decode what the first
    // instance checkpointed
    def pipeline(input: MemoryStream[(Long, Long)]) = input.toDS()
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (k: Long, rows: Iterator[(Long, Long)], st: GroupState[UserState]) =>
          val s0 = st.getOption.getOrElse(UserState(0L, 0L))
          var n = s0.n; var c = s0.cents
          rows.foreach { r => n += 1; c += r._2 }
          st.update(UserState(n, c))
          (k, n, c)
      }.toDF("user", "n", "cents")
    val results = scala.collection.concurrent.TrieMap[Long, (Long, Long)]()
    def sink(df: org.apache.spark.sql.DataFrame, id: Long): Unit =
      df.collect().foreach(r => results(r.getLong(0)) = (r.getLong(1), r.getLong(2)))
    val in1 = MemoryStream[(Long, Long)]
    val q1 = pipeline(in1).writeStream.foreachBatch(sink _)
      .outputMode(OutputMode.Update()).option("checkpointLocation", ckpt).start()
    try {
      in1.addData((1L, 10L), (1L, 5L), (2L, 7L)); q1.processAllAvailable()
    } finally q1.stop()
    assert(results(1L) == (2L, 15L) && results(2L) == (1L, 7L))
    // second query instance, same checkpoint: per-key totals must CONTINUE
    // from the persisted state, not restart. The new MemoryStream's first
    // (empty) block occupies the offset range the checkpoint already
    // committed; the continuation data sits past the committed watermark.
    results.clear()
    val in2 = MemoryStream[(Long, Long)]
    in2.addData()
    in2.addData((1L, 100L), (3L, 1L))
    val q2 = pipeline(in2).writeStream.foreachBatch(sink _)
      .outputMode(OutputMode.Update()).option("checkpointLocation", ckpt).start()
    try { q2.processAllAvailable() } finally q2.stop()
    assert(results.get(1L).contains((3L, 115L)),
      s"user 1 state did not carry across restart: $results")
    assert(results.get(3L).contains((1L, 1L)), s"new key after restart wrong: $results")
  }

  test("state schema change fails loudly; versioned payload upgrades safely (T4, SURVEY §7b)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // Part 1 — the naive evolution: restart the checkpointed t4 pipeline
    // with a state class that grew a field. Spark's state-schema check must
    // REJECT it loudly (silent state corruption would be the failure mode);
    // this is why state case classes are versioned from day 1.
    val ckptNaive = tmp("evo_naive_ckpt")
    val in1 = MemoryStream[(Long, Long)]
    val q1 = in1.toDS().groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (k: Long, rows: Iterator[(Long, Long)], st: GroupState[UserState]) =>
          val s0 = st.getOption.getOrElse(UserState(0L, 0L))
          val st1 = UserState(s0.n + rows.size, s0.cents)
          st.update(st1); (k, st1.n)
      }.toDF("user", "n").writeStream.foreachBatch((b: org.apache.spark.sql.DataFrame, _: Long) => { b.count(); () })
      .outputMode(OutputMode.Update()).option("checkpointLocation", ckptNaive).start()
    try { in1.addData((1L, 10L)); q1.processAllAvailable() } finally q1.stop()
    val in2 = MemoryStream[(Long, Long)]
    in2.addData()
    in2.addData((1L, 20L))
    val q2 = in2.toDS().groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (k: Long, rows: Iterator[(Long, Long)], st: GroupState[UserStateV2]) =>
          val s0 = st.getOption.getOrElse(UserStateV2(0L, 0L, 0L))
          val st1 = UserStateV2(s0.n + rows.size, s0.cents, s0.maxSeen)
          st.update(st1); (k, st1.n)
      }.toDF("user", "n").writeStream.foreachBatch((b: org.apache.spark.sql.DataFrame, _: Long) => { b.count(); () })
      .outputMode(OutputMode.Update()).option("checkpointLocation", ckptNaive).start()
    // try/finally: if Spark ever accepts the changed schema, intercept
    // throws — the query must still stop, or it leaks into the shared session
    val err = try intercept[Exception] { q2.processAllAvailable() } finally q2.stop()
    val chain = Iterator.iterate(err: Throwable)(_.getCause).takeWhile(_ != null)
      .map(_.toString).mkString("\n")
    assert(chain.toLowerCase.contains("schema"),
      s"expected a loud state-schema incompatibility, got:\n$chain")

    // Part 2 — the versioning pattern that survives: the persisted state
    // class never changes (version tag + string payload); an upgraded
    // consumer reads v1 payloads, fills the new field's default, and writes
    // v2. Restart continues per-key totals and starts the new field fresh.
    val ckpt = tmp("evo_versioned_ckpt")
    def parse(st: Option[VersionedState]): (Long, Long, Long) = st match {
      case None => (0L, 0L, 0L)
      case Some(s) =>
        val p = s.payload.split(':')
        s.version match {
          case 1 => (p(0).toLong, p(1).toLong, 0L) // v1 → default new field
          case 2 => (p(0).toLong, p(1).toLong, p(2).toLong)
        }
    }
    val results = scala.collection.concurrent.TrieMap[Long, (Long, Long, Long)]()
    def sink(df: org.apache.spark.sql.DataFrame, id: Long): Unit =
      df.collect().foreach(r =>
        results(r.getLong(0)) = (r.getLong(1), r.getLong(2), r.getLong(3)))
    val vin1 = MemoryStream[(Long, Long)]
    val vq1 = vin1.toDS().groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (k: Long, rows: Iterator[(Long, Long)], st: GroupState[VersionedState]) =>
          var (n, c, _) = parse(st.getOption)
          rows.foreach { r => n += 1; c += r._2 }
          st.update(VersionedState(1, s"$n:$c")) // v1 writer: no max field
          (k, n, c, 0L)
      }.toDF("user", "n", "cents", "max_seen").writeStream.foreachBatch(sink _)
      .outputMode(OutputMode.Update()).option("checkpointLocation", ckpt).start()
    try { vin1.addData((1L, 10L), (1L, 5L)); vq1.processAllAvailable() } finally vq1.stop()
    assert(results(1L) == (2L, 15L, 0L))
    results.clear()
    val vin2 = MemoryStream[(Long, Long)]
    vin2.addData()
    vin2.addData((1L, 100L), (3L, 1L))
    val vq2 = vin2.toDS().groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (k: Long, rows: Iterator[(Long, Long)], st: GroupState[VersionedState]) =>
          var (n, c, m) = parse(st.getOption)
          rows.foreach { r => n += 1; c += r._2; m = math.max(m, r._2) }
          st.update(VersionedState(2, s"$n:$c:$m")) // v2 writer: adds max
          (k, n, c, m)
      }.toDF("user", "n", "cents", "max_seen").writeStream.foreachBatch(sink _)
      .outputMode(OutputMode.Update()).option("checkpointLocation", ckpt).start()
    try { vq2.processAllAvailable() } finally vq2.stop()
    assert(results.get(1L).contains((3L, 115L, 100L)),
      s"v1 state did not upgrade across restart: $results")
    assert(results.get(3L).contains((1L, 1L, 1L)), s"new key after upgrade wrong: $results")
  }

  test("maxFilesPerTrigger=1 throttles admission to one frame per micro-batch (S3 rate control)") {
    // the reference admits one queued script per 500 ms tick
    // (loader.cpp:11, scheduler.cpp:88-100) and caps frames at 8 MiB
    // (server.cpp:85); the Spark analogue is source admission control —
    // maxFilesPerTrigger bounds what each micro-batch ingests
    import spark.implicits._
    val dir = tmp("rate_in")
    (1 to 4).foreach { i =>
      Seq((i.toLong, s"payload$i")).toDF("id", "payload")
        .coalesce(1).write.mode("append").parquet(dir)
    }
    val schema = spark.read.parquet(dir).schema
    val sizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        sizes += b.count(); ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000); q.stop()
    assert(sizes.sum == 4, s"rows lost or duplicated under throttling: $sizes")
    assert(sizes.filter(_ > 0).forall(_ == 1),
      s"a micro-batch admitted more than one file: $sizes")
    assert(sizes.count(_ == 1) == 4, s"expected 4 single-file batches: $sizes")
  }

  test("500ms processing-time trigger drains the queue on ticks (the reference loop cadence)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Long]
    val qn = s"tick_test_${System.nanoTime()}"
    val q = input.toDS().toDF("v").writeStream
      .format("memory").queryName(qn).outputMode(OutputMode.Append())
      .trigger(Trigger.ProcessingTime("500 milliseconds"))
      .start()
    try {
      input.addData(1L, 2L)
      val deadline = System.currentTimeMillis() + 15000
      while (spark.table(qn).count() < 2 && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      input.addData(3L)
      while (spark.table(qn).count() < 3 && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(spark.table(qn).count() == 3)
    } finally q.stop()
  }

  test("streaming payload decode: frames arrive compressed, pipeline decodes and aggregates") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the execution-pipeline analogue: enqueue RSB1-compressed payloads,
    // the stream decodes and processes them (execution.cpp:22-100 shape)
    val scripts = Seq("print('a')", "local x = 2", "while true do end")
    val input = MemoryStream[Array[Byte]]
    val decoded = input.toDS().toDF("payload")
      .select(graft.functions.GraftFunctions.rsb1_decode($"payload").cast("string").as("src"))
      .select($"src", length($"src").as("src_len"))
    val qn = s"decode_test_${System.nanoTime()}"
    val q = decoded.writeStream.format("memory").queryName(qn)
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(scripts.map(s => graft.functions.GraftCodec.rsb1Encode(s.getBytes("UTF-8"))): _*)
      q.processAllAvailable()
      val got = spark.table(qn).collect().map(_.getString(0)).toSet
      assert(got == scripts.toSet)
    } finally q.stop()
  }

  test("RocksDB state store backs stateful streaming (the 100 TB state path)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long)]
    val agg = input.toDS().toDF("k", "v").groupBy($"k").agg(sum($"v").as("s"))
    val qn = s"rocks_test_${System.nanoTime()}"
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val q = agg.writeStream.format("memory").queryName(qn)
      .outputMode(OutputMode.Complete())
      .option("checkpointLocation", tmp("rocks_ckpt"))
      .start()
    try {
      input.addData((1L, 2L), (1L, 3L)); q.processAllAvailable()
      input.addData((1L, 5L)); q.processAllAvailable()
      val s = spark.table(qn).filter($"k" === 1L).select($"s").collect().map(_.getLong(0)).max
      assert(s == 10L)
      // the query's state store really is RocksDB (files on disk under the
      // checkpoint's state dir would exist; assert via lastProgress)
      val sp = q.lastProgress.stateOperators
      assert(sp.nonEmpty && sp(0).numRowsTotal == 1L)
    } finally {
      q.stop()
      prev match { case Some(v) => spark.conf.set(key, v); case None => spark.conf.unset(key) }
    }
  }

  test("session windows work in streaming mode with watermark (T2)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp)]
    val agg = input.toDS().toDF("uid", "ts")
      .withWatermark("ts", "1 minute")
      .groupBy(session_window($"ts", "30 seconds").as("w"), $"uid")
      .agg(count(lit(1)).as("n"))
    val qn = s"t2_test_${System.nanoTime()}"
    val q = agg.writeStream.format("memory").queryName(qn)
      .outputMode(OutputMode.Complete()).start()
    try {
      def ts(s: Long) = new Timestamp(s * 1000)
      // user 1: events at 0,10,20 (one session), then 120 (second session)
      input.addData((1L, ts(0)), (1L, ts(10)), (1L, ts(20)), (1L, ts(120)))
      q.processAllAvailable()
      val sessions = spark.table(qn).filter($"uid" === 1L)
        .select($"n").collect().map(_.getLong(0)).sorted.toSeq
      assert(sessions == Seq(1L, 3L), s"expected sessions of 3 and 1 events, got $sessions")
    } finally q.stop()
  }

  test("flatMapGroupsWithState emits variable-arity output per key (T4)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long)]
    // emit one row per NEW per-key maximum observed; state = current max
    val out = input.toDS()
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (k: Long, rows: Iterator[(Long, Long)], st: GroupState[Long]) =>
          var best = st.getOption.getOrElse(Long.MinValue)
          val emitted = rows.toSeq.sortBy(_._2).flatMap { r =>
            if (r._2 > best) { best = r._2; Some((k, r._2)) } else None
          }
          st.update(best)
          emitted.iterator
      }
    val qn = s"t4b_test_${System.nanoTime()}"
    val q = out.toDF("k", "newmax").writeStream
      .format("memory").queryName(qn).outputMode(OutputMode.Append()).start()
    try {
      input.addData((1L, 5L), (1L, 3L), (1L, 9L)); q.processAllAvailable()
      input.addData((1L, 7L), (1L, 12L)); q.processAllAvailable()
      // rows are processed in ascending value order per batch, so batch 1
      // emits 3,5,9 and batch 2 emits only 12 (7 < 9)
      val got = spark.table(qn).collect().map(r => r.getLong(1)).sorted.toSeq
      assert(got == Seq(3L, 5L, 9L, 12L), s"expected new-max stream, got $got")
    } finally q.stop()
  }

  test("socket source ingests line frames (S3, the TCP-server analogue)") {
    import spark.implicits._
    val server = new java.net.ServerSocket(0)
    val port = server.getLocalPort
    val feeder = new Thread(() => {
      val sock = server.accept()
      val w = new java.io.PrintWriter(sock.getOutputStream, true)
      (1 to 5).foreach(i => w.println(s"frame-$i"))
      Thread.sleep(3000); w.close(); sock.close()
    })
    feeder.setDaemon(true); feeder.start()
    val qn = s"s3_test_${System.nanoTime()}"
    val q = spark.readStream.format("socket")
      .option("host", "127.0.0.1").option("port", port)
      .load()
      .writeStream.format("memory").queryName(qn).outputMode(OutputMode.Append()).start()
    try {
      val deadline = System.currentTimeMillis() + 20000
      while (spark.table(qn).count() < 5 && System.currentTimeMillis() < deadline)
        Thread.sleep(200)
      val got = spark.table(qn).as[String].collect().toSet
      assert((1 to 5).map(i => s"frame-$i").toSet.subsetOf(got), s"got $got")
    } finally { q.stop(); server.close() }
  }

  test("foreachBatch sink receives every micro-batch (S5, the WebSocket.Send analogue)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Long]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = input.toDS().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Long], id: Long) =>
        batch.collect().foreach(v => seen.add(v)); ()
      }
      .start()
    try {
      input.addData(1L, 2L); q.processAllAvailable()
      input.addData(3L); q.processAllAvailable()
      assert(seen.toArray.toSet == Set(1L, 2L, 3L))
    } finally q.stop()
  }

  test("streaming dedup drops within-stream duplicates across batches (T5)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val agg = input.toDS().toDF("id", "v").dropDuplicates("id")
      .groupBy().agg(count(lit(1)).as("n"))
    val qn = s"t5_test_${System.nanoTime()}"
    val q = agg.writeStream.format("memory").queryName(qn)
      .outputMode(OutputMode.Complete()).start()
    try {
      input.addData((1L, "a"), (2L, "b")); q.processAllAvailable()
      input.addData((1L, "a-again"), (3L, "c")); q.processAllAvailable()
      val n = spark.table(qn).collect().map(_.getLong(0)).max
      assert(n == 3L, s"dedup state failed across batches: $n")
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark evicts dedup state after the delay (T5b)") {
    // plain dropDuplicates keeps every seen key forever — unbounded state at
    // 100 TB. The within-watermark variant bounds state to the watermark
    // horizon: duplicates inside the delay are dropped, and once the
    // watermark passes a key's expiry the key is forgotten — observable as
    // the same id being admitted again with a fresh event time.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp)]
    val dedup = input.toDS().toDF("id", "ts")
      .withWatermark("ts", "10 seconds")
      .dropDuplicatesWithinWatermark("id")
    val qn = s"t5b_test_${System.nanoTime()}"
    val q = dedup.writeStream.format("memory").queryName(qn)
      .outputMode(OutputMode.Append()).start()
    def ts(s: Long) = new Timestamp(s * 1000)
    try {
      // batch 1: duplicate id within the delay — dropped
      input.addData((1L, ts(100)), (1L, ts(105))); q.processAllAvailable()
      // batch 2: advances the watermark to 190s — id 1's state (expiry
      // 110s) is evicted
      input.addData((2L, ts(200))); q.processAllAvailable()
      // batch 3: id 1 reappears with a fresh timestamp — admitted again,
      // proving the dedup state really was purged (plain dropDuplicates
      // would still suppress it)
      input.addData((1L, ts(210))); q.processAllAvailable()
      val ids = spark.table(qn).collect().map(_.getLong(0)).toSeq
      assert(ids.sorted == Seq(1L, 1L, 2L),
        s"expected id 1 re-admitted after state eviction, got $ids")
    } finally q.stop()
  }

  test("transformWithState runs a keyed running total (T4, Spark-4 arbitrary-state API)") {
    // the successor API to mapGroupsWithState: explicit typed state handles
    // (ValueState here), RocksDB-only state backend — the forward path for
    // the 100 TB consumer-offset/cache semantics
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[(Long, Long)]
    val out = input.toDS().groupByKey(_._1)
      .transformWithState(new RunningTotalProcessor(),
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
    val qn = s"tws_test_${System.nanoTime()}"
    val q = out.toDF("user", "total").writeStream
      .format("memory").queryName(qn).outputMode(OutputMode.Update())
      .option("checkpointLocation", tmp("tws_ckpt"))
      .start()
    try {
      input.addData((1L, 10L), (2L, 5L)); q.processAllAvailable()
      input.addData((1L, 7L)); q.processAllAvailable()
      val rows = spark.table(qn).collect().map(r => (r.getLong(0), r.getLong(1)))
      val last = rows.zipWithIndex.groupBy(_._1._1).map { case (k, v) => k -> v.maxBy(_._2)._1._2 }
      assert(last(1L) == 17L, s"ValueState did not accumulate: ${rows.mkString(",")}")
      assert(last(2L) == 5L)
    } finally {
      q.stop()
      prev match { case Some(v) => spark.conf.set(key, v); case None => spark.conf.unset(key) }
    }
  }

  test("streaming corpus intake: quality gate + content dedup + compacted store (end to end)") {
    // the training-data intake pipeline as one incremental query: documents
    // stream in, the Gopher gate drops junk, content-hash dedup drops
    // repeats across micro-batches, survivors land in the compacted store
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val good1 = "the quality of a stream is the sort of thing a filter is meant to keep around"
    val good2 = "a table scan of the stream is the kind of work to keep inside a batch job"
    val junk = "aa bb" // fails the token-count band
    val input = MemoryStream[(Long, String)]
    val store = tmp("intake_store")
    val gated = input.toDS().toDF("doc_id", "text")
      .filter(graft.Graft.gopherKeep($"text", minTokens = 10, maxTokens = 200))
      .withColumn("content_h", md5($"text"))
      .dropDuplicates("content_h")
    val q = gated.writeStream
      .option("checkpointLocation", tmp("intake_ckpt"))
      .foreachBatch(CompactingSink.upsertCompact(store, Seq("content_h"), Seq("doc_id")) _)
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((1L, good1), (2L, junk)); q.processAllAvailable()
      input.addData((3L, good1), (4L, good2)); q.processAllAvailable() // 3 is a dup of 1
      val rows = spark.read.parquet(store)
        .select($"doc_id", $"text").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(rows.keySet == Set(1L, 4L),
        s"expected gate to keep 1 and 4 (junk gated, dup dropped): ${rows.keySet}")
      assert(rows(1L) == good1 && rows(4L) == good2)
    } finally q.stop()
  }

  test("Append-mode session window: emits only after the watermark closes the session (T2)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the state-bounded production shape (vs the t2s gate's Complete mode,
    // which must retain everything): in Append mode a session row is
    // emitted exactly once — when the watermark passes its close — and its
    // state is then purgeable
    def ts(min: Int): Timestamp = Timestamp.valueOf(f"2026-01-01 10:$min%02d:00")
    val input = MemoryStream[(Long, Timestamp)]
    val agg = input.toDS().toDF("user", "ts")
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window($"ts", "5 minutes").as("w"), $"user")
      .agg(count(lit(1)).as("n"))
    val name = "t2_append_session"
    val q = agg.select($"user", $"w.start".as("s"), $"n")
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).start()
    try {
      // burst for user 1 inside one session (gap < 5 min)
      input.addData((1L, ts(0)), (1L, ts(2)), (1L, ts(4)))
      q.processAllAvailable()
      assert(spark.table(name).isEmpty,
        "open session leaked into Append output before the watermark closed it")
      // a much later event advances the watermark (10:59 - 10min = 10:49)
      // past user 1's session close (10:09) → that session must now emit;
      // user 2's own session stays open and withheld
      input.addData((2L, ts(59)))
      q.processAllAvailable()
      val rows = spark.table(name).collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2)))
      assert(rows.toSeq == Seq((1L, ts(0), 3L)),
        s"expected exactly user 1's closed session: ${rows.toSeq}")
    } finally q.stop()
  }
}

/** The naive schema evolution of [[graft.streaming.UserState]]: one added
  * field. Restarting a checkpointed query with this state class must fail
  * Spark's state-schema compatibility check — proven in StreamingSpec. */
final case class UserStateV2(n: Long, cents: Long, maxSeen: Long)

/** The versioning pattern that DOES survive restarts (SURVEY §7 hard part
  * b): the persisted class is fixed forever — a version tag plus an opaque
  * payload — so the state-store schema never changes; upgrades happen in
  * the decode step (old version → defaults for new fields). */
final case class VersionedState(version: Int, payload: String)

/** Keyed running total on the Spark-4 transformWithState API: one typed
  * ValueState handle per key (the explicit-state successor of the
  * mapGroupsWithState consumer-offset pattern, cache.hpp analogue). */
class RunningTotalProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[Long, (Long, Long), (Long, Long)] {
  import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
  import org.apache.spark.sql.Encoders
  @transient private var total: ValueState[Long] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    total = getHandle.getValueState[Long]("total", Encoders.scalaLong, TTLConfig.NONE)
  override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
                               tv: TimerValues): Iterator[(Long, Long)] = {
    val t = (if (total.exists()) total.get() else 0L) + rows.map(_._2).sum
    total.update(t)
    Iterator((key, t))
  }
}
