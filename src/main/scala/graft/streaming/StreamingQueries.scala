package graft.streaming

import graft.{Det, GraftQuery, Tables => T}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.LongType

/** The "Pulsar" capability surface (SURVEY.md §2.2 S3/S5, T1–T5) run as real
  * Structured Streaming queries and verified through the batch oracle: each
  * entry builds a streaming DataFrame over the events parquet (the file
  * source is the test stand-in for the Kafka-shaped source at scale), runs it
  * to completion with a memory sink, and returns the result table. Because
  * the fixture arrives as a single batch, results are deterministic and the
  * DuckDB batch SQL is an exact oracle.
  *
  * The reference analogue: length-prefixed frames → FIFO queue → tick drain
  * (server.cpp:77-99, scheduler.cpp:81-108) — upgraded from at-most-once
  * in-memory to checkpointed exactly-once (restart test in StreamingSpec).
  */
object StreamingQueries {
  import Det._

  /** Streaming view of the events table (schema from the batch reader; the
    * nanos ts normalizes to micros exactly as the batch path — see
    * Tables.normalizeEventsTs). */
  def eventsStream(s: SparkSession, d: String): DataFrame = {
    val schema = T.eventsRaw(s, d).schema
    T.normalizeEventsTs(
      s.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(d))
  }

  /** Run a streaming frame to a memory sink, synchronously, return result. */
  def runToMemory(s: SparkSession, df: DataFrame, mode: OutputMode): DataFrame = {
    val name = s"graft_mem_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val q = df.writeStream.format("memory").queryName(name).outputMode(mode).start()
    try { q.processAllAvailable() } finally { q.stop() }
    s.table(name)
  }

  /** Run a streaming frame with `Trigger.AvailableNow` — the backfill /
    * reprocessing gate: drain everything available at start in bounded
    * micro-batches, then STOP. Unlike [[runToMemory]] this waits for the
    * query to terminate on its own; a source that never converges on its
    * start-of-query snapshot would hang, so the wait is bounded and failure
    * to self-terminate is an error, not a timeout-and-continue. */
  def runToMemoryAvailableNow(s: SparkSession, df: DataFrame,
      mode: OutputMode, timeoutMs: Long = 300000L): DataFrame = {
    val name = s"graft_mem_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val q = df.writeStream.format("memory").queryName(name).outputMode(mode)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try require(q.awaitTermination(timeoutMs),
      "AvailableNow backfill did not self-terminate")
    finally q.stop()
    s.table(name)
  }

  /** Write the message fixture (events as (topic, key, value) frames) into
    * a fresh [[FrameBus]] dir — shared by the s3/t9 bus gates. */
  def writeBusFixture(s: SparkSession, d: String): java.nio.file.Path = {
    import s.implicits._
    val busPath = java.nio.file.Files.createTempDirectory("graft_bus")
    graft.operators.MessageQueries.messages(s, d)
      .select($"topic", $"offset", unix_micros($"ts").as("us"), $"key", $"value")
      .collect()
      .groupBy(_.getString(0)).toSeq.sortBy(_._1)
      .foreach { case (t, rs) =>
        FrameBus.appendTopic(busPath.toString, t, rs.sortBy(_.getLong(1)).toSeq
          .map(r => (r.getLong(2), r.getString(3), r.getAs[Array[Byte]](4))))
      }
    busPath
  }

  /** Recursively delete a fixture bus dir. */
  def deleteBus(busPath: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(busPath).iterator().asScala.toSeq
      .sortBy(-_.getNameCount).foreach(java.nio.file.Files.deleteIfExists(_))
  }

  /** t10 / t12: the s15 DML program on its own keyed table, its
    * changelog drained from `t$changes` under Trigger.AvailableNow, with
    * per-version I/U/D counts pinned closed-form plus a boolean proving
    * the streamed multiset equals the batch readChanges slice. */
  private def changesStreamQuery(name: String, table: String): GraftQuery = {
    val v = name.takeWhile(_ != '_')
    GraftQuery(name, (s, d) => {
      import s.implicits._
      graft.operators.DmlFixture.register(s)
      val G = graft.sources.GraftStore
      T.nation(s, d)
        .select($"n_nationkey".cast("long").as("k"),
          $"n_regionkey".cast("long").as("r"),
          ($"n_nationkey" * 10 + 7).cast("long").as("pop"))
        .createOrReplaceTempView(s"${v}_src")
      s.sql(s"""SELECT k, (r + 1) % 5 AS r, pop + 1000 AS pop, 'upsert' AS op
               FROM ${v}_src WHERE k % 3 = 0 AND k % 7 <> 4
               UNION ALL
               SELECT k, r, pop, 'delete' FROM ${v}_src WHERE k % 7 = 4
               UNION ALL
               SELECT id + 100, (id + 100) % 5, (id + 100) * 10 + 7, 'upsert'
               FROM range(5)""").createOrReplaceTempView(s"${v}_chg")
      s.sql(s"DROP TABLE IF EXISTS graftdml.$table")
      s.sql(s"""CREATE TABLE graftdml.$table
        (k BIGINT NOT NULL, r BIGINT, pop BIGINT) USING graft
        TBLPROPERTIES ('merge_key'='k', 'buckets'='4')""")
      s.sql(s"INSERT INTO graftdml.$table SELECT k, r, pop FROM ${v}_src")
      s.sql(s"""MERGE INTO graftdml.$table t USING ${v}_chg c ON t.k = c.k
        WHEN MATCHED AND c.op = 'delete' THEN DELETE
        WHEN MATCHED THEN UPDATE SET r = c.r, pop = c.pop
        WHEN NOT MATCHED AND c.op <> 'delete' THEN
          INSERT (k, r, pop) VALUES (c.k, c.r, c.pop)""")
      s.sql(s"UPDATE graftdml.$table SET pop = pop + 3 WHERE r = 2")
      s.sql(s"DELETE FROM graftdml.$table WHERE pop > 1200")

      val dir = s"${graft.operators.DmlFixture.warehouse}/$table"
      val streamed = runToMemoryAvailableNow(s,
        s.readStream.table(s"graftdml.`$table$$changes`")
          .select($"change_version", $"change_op"),
        OutputMode.Append())
      val batch = G.readChanges(s, dir, 1L, 4L)
        .select($"change_version", $"change_op")
      val streamEqBatch = streamed.exceptAll(batch).isEmpty &&
        batch.exceptAll(streamed).isEmpty
      streamed.groupBy($"change_version")
        .agg(sum(when($"change_op" === "I", 1L).otherwise(0L)).as("n_ins"),
          sum(when($"change_op" === "U", 1L).otherwise(0L)).as("n_upd"),
          sum(when($"change_op" === "D", 1L).otherwise(0L)).as("n_del"))
        .withColumn("stream_eq_batch", lit(streamEqBatch))
        .orderBy($"change_version")
    }, Some("""
      WITH src AS (SELECT CAST(n_nationkey AS BIGINT) AS k,
                     CAST(n_regionkey AS BIGINT) AS r,
                     CAST(n_nationkey * 10 + 7 AS BIGINT) AS pop FROM nation),
      after2 AS (
        SELECT k, CASE WHEN k % 3 = 0 THEN (r + 1) % 5 ELSE r END AS r,
          CASE WHEN k % 3 = 0 THEN pop + 1000 ELSE pop END AS pop
        FROM src WHERE k % 7 <> 4
        UNION ALL
        SELECT CAST(i + 100 AS BIGINT), CAST((i + 100) % 5 AS BIGINT),
          CAST((i + 100) * 10 + 7 AS BIGINT) FROM range(5) t(i)),
      after3 AS (SELECT k, r, CASE WHEN r = 2 THEN pop + 3 ELSE pop END AS pop
                 FROM after2)
      SELECT CAST(1 AS BIGINT) AS change_version,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM src) AS n_ins,
        CAST(0 AS BIGINT) AS n_upd, CAST(0 AS BIGINT) AS n_del,
        TRUE AS stream_eq_batch
      UNION ALL
      SELECT 2, 5,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM src WHERE k % 3 = 0 AND k % 7 <> 4),
        (SELECT CAST(COUNT(*) AS BIGINT) FROM src WHERE k % 7 = 4), TRUE
      UNION ALL
      SELECT 3, 0,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM after2 WHERE r = 2), 0, TRUE
      UNION ALL
      SELECT 4, 0, 0,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM after3 WHERE pop > 1200), TRUE
      ORDER BY change_version"""))
  }

  val queries: Seq[GraftQuery] = Seq(

    // ----- T1/T3 streaming: watermarked tumbling-window counts
    GraftQuery("t3_stream_tumbling", (s, d) => {
      import s.implicits._
      val agg = eventsStream(s, d)
        .withWatermark("ts", "10 minutes")
        .groupBy(window($"ts", "5 minutes").as("w"), $"event_type")
        .agg(count(lit(1)).as("n"), sum(vcents($"value")).as("sum_cents"))
      runToMemory(s, agg, OutputMode.Complete())
        .select(tsFmt($"w.start").as("w_start"), $"event_type", $"n", $"sum_cents")
        .orderBy($"w_start", $"event_type")
    }, Some(s"""
      SELECT strftime(make_timestamp(CAST(floor(epoch_ms(ts)/300000) AS BIGINT)*300000000),
               '%Y-%m-%d %H:%M:%S') AS w_start,
        event_type, COUNT(*) AS n,
        CAST(SUM(${sql.vcents("value")}) AS BIGINT) AS sum_cents
      FROM events GROUP BY 1, 2 ORDER BY w_start, event_type""")),

    // ----- T4: stateful per-key processing (mapGroupsWithState) — the
    // keyed-state analogue of the reference's KV cache (cache.hpp:14-58)
    GraftQuery("t4_stream_state", (s, d) => {
      import s.implicits._
      val src = eventsStream(s, d)
        .select($"user_id", vcents($"value").as("cents")).as[(Long, Long)]
      val out = src.groupByKey(_._1)
        .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
          (uid: Long, rows: Iterator[(Long, Long)], state: GroupState[UserState]) =>
            val st0 = state.getOption.getOrElse(UserState(0L, 0L))
            var n = st0.n; var c = st0.cents
            rows.foreach { r => n += 1; c += r._2 }
            val st = UserState(n, c)
            state.update(st)
            UserTotals(uid, n, c)
        }
      runToMemory(s, out.toDF(), OutputMode.Update())
        .orderBy($"user_id")
    }, Some(s"""
      SELECT user_id, COUNT(*) AS n,
        CAST(SUM(${sql.vcents("value")}) AS BIGINT) AS cents
      FROM events GROUP BY user_id ORDER BY user_id""")),

    // ----- J7a: stream-static join — the streaming fact enriched by a
    // static dimension (broadcast at scale; no state needed on the dim)
    GraftQuery("j7_stream_static_join", (s, d) => {
      import s.implicits._
      val cust = T.customer(s, d)
      val agg = eventsStream(s, d)
        .join(cust, expr("user_id = c_custkey"))
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n"), sum(vcents($"value")).as("cents"))
      runToMemory(s, agg, OutputMode.Complete())
        .orderBy($"c_mktsegment")
    }, Some(s"""
      SELECT c_mktsegment, COUNT(*) AS n,
        CAST(SUM(${sql.vcents("value")}) AS BIGINT) AS cents
      FROM events JOIN customer ON user_id = c_custkey
      GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // ----- J7b: stream-stream join with watermarks — purchases matched to
    // clicks by the same user within the preceding 10 minutes (both sides
    // watermarked so join state is bounded; single-batch fixture makes the
    // result exact against the batch oracle)
    GraftQuery("j7_stream_stream_join", (s, d) => {
      import s.implicits._
      val ev = eventsStream(s, d)
      val clicks = ev.filter($"event_type" === "click")
        .select($"user_id".as("c_user"), $"ts".as("c_ts"), $"event_id".as("click_id"))
        .withWatermark("c_ts", "30 minutes")
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"user_id".as("p_user"), $"ts".as("p_ts"), $"event_id".as("purchase_id"))
        .withWatermark("p_ts", "30 minutes")
      val joined = purchases.join(clicks,
        expr("p_user = c_user AND c_ts <= p_ts AND c_ts > p_ts - INTERVAL 10 MINUTES"))
        .select($"purchase_id", $"click_id")
      runToMemory(s, joined, OutputMode.Append())
        .orderBy($"purchase_id", $"click_id")
    }, Some("""
      SELECT p.event_id AS purchase_id, c.event_id AS click_id
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      JOIN (SELECT * FROM events WHERE event_type = 'click') c
        ON p.user_id = c.user_id
       AND c.ts <= p.ts AND c.ts > p.ts - INTERVAL 10 MINUTE
      ORDER BY purchase_id, click_id""")),

    // ----- J7c: stream-stream LEFT OUTER join — the semantics Append mode
    // can only deliver through the watermark: an unmatched purchase emits
    // its null-click row only once the global watermark (min across both
    // sides' max-event-time minus delay) proves no future click can match,
    // i.e. wm > p_ts. Spark evicts+emits those rows in the trailing
    // no-data micro-batch; purchases above the final watermark stay in
    // state and never emit — the oracle mirrors exactly that cut
    // (p.ts < final_wm), which is what makes this gate deterministic
    // rather than a race with query shutdown. State on both sides stays
    // bounded by the 30-minute delay + 10-minute band regardless of
    // stream length — the property that matters at 100 TB/day.
    GraftQuery("j7_stream_outer_join", (s, d) => {
      import s.implicits._
      val ev = eventsStream(s, d)
      val clicks = ev.filter($"event_type" === "click")
        .select($"user_id".as("c_user"), $"ts".as("c_ts"), $"event_id".as("click_id"))
        .withWatermark("c_ts", "30 minutes")
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"user_id".as("p_user"), $"ts".as("p_ts"), $"event_id".as("purchase_id"))
        .withWatermark("p_ts", "30 minutes")
      val joined = purchases.join(clicks,
        expr("p_user = c_user AND c_ts <= p_ts AND c_ts > p_ts - INTERVAL 10 MINUTES"),
        "leftOuter")
        .select($"purchase_id", $"click_id")
      runToMemory(s, joined, OutputMode.Append())
        .orderBy($"purchase_id", $"click_id")
    }, Some("""
      WITH p AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'),
      c AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
      wm AS (SELECT LEAST((SELECT MAX(ts) FROM p), (SELECT MAX(ts) FROM c))
                    - INTERVAL 30 MINUTE AS w)
      SELECT p.event_id AS purchase_id, c.event_id AS click_id
      FROM p JOIN c ON p.user_id = c.user_id
        AND c.ts <= p.ts AND c.ts > p.ts - INTERVAL 10 MINUTE
      UNION ALL
      SELECT p.event_id, CAST(NULL AS BIGINT)
      FROM p WHERE p.ts < (SELECT w FROM wm)
        AND NOT EXISTS (SELECT 1 FROM c WHERE c.user_id = p.user_id
                          AND c.ts <= p.ts AND c.ts > p.ts - INTERVAL 10 MINUTE)
      ORDER BY purchase_id, click_id""")),

    // ----- J7d: stream-stream FULL OUTER join — both sides' unmatched
    // rows emit on watermark proof. The eviction thresholds are
    // asymmetric, read off the join's time band: an unmatched purchase
    // needs wm > p_ts (a future click has c_ts <= p_ts); an unmatched
    // click needs wm > c_ts + 10min (a future purchase can still reach
    // back 10 minutes). The oracle mirrors both cuts exactly, so the gate
    // pins the engine's state-eviction arithmetic, not just join results.
    GraftQuery("j7_stream_full_outer", (s, d) => {
      import s.implicits._
      val ev = eventsStream(s, d)
      val clicks = ev.filter($"event_type" === "click")
        .select($"user_id".as("c_user"), $"ts".as("c_ts"), $"event_id".as("click_id"))
        .withWatermark("c_ts", "30 minutes")
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"user_id".as("p_user"), $"ts".as("p_ts"), $"event_id".as("purchase_id"))
        .withWatermark("p_ts", "30 minutes")
      val joined = purchases.join(clicks,
        expr("p_user = c_user AND c_ts <= p_ts AND c_ts > p_ts - INTERVAL 10 MINUTES"),
        "fullOuter")
        .select($"purchase_id", $"click_id")
      runToMemory(s, joined, OutputMode.Append())
        .orderBy($"purchase_id", $"click_id")
    }, Some("""
      WITH p AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'),
      c AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
      wm AS (SELECT LEAST((SELECT MAX(ts) FROM p), (SELECT MAX(ts) FROM c))
                    - INTERVAL 30 MINUTE AS w)
      SELECT p.event_id AS purchase_id, c.event_id AS click_id
      FROM p JOIN c ON p.user_id = c.user_id
        AND c.ts <= p.ts AND c.ts > p.ts - INTERVAL 10 MINUTE
      UNION ALL
      SELECT p.event_id, CAST(NULL AS BIGINT)
      FROM p WHERE p.ts < (SELECT w FROM wm)
        AND NOT EXISTS (SELECT 1 FROM c WHERE c.user_id = p.user_id
                          AND c.ts <= p.ts AND c.ts > p.ts - INTERVAL 10 MINUTE)
      UNION ALL
      SELECT CAST(NULL AS BIGINT), c.event_id
      FROM c WHERE c.ts + INTERVAL 10 MINUTE < (SELECT w FROM wm)
        AND NOT EXISTS (SELECT 1 FROM p WHERE p.user_id = c.user_id
                          AND c.ts <= p.ts AND c.ts > p.ts - INTERVAL 10 MINUTE)
      ORDER BY purchase_id, click_id""")),

    // ----- S5/S6 end to end: the north-star pipeline itself as a gate
    // query — the events stream consumed through foreachBatch into the
    // bucketed compacting store, then the STORE is read back and must hold
    // exactly the latest row per key (same oracle as the batch s6
    // compaction). This driver-checks the store contents, not just the
    // streaming aggregate: crash-safe swap, bucket layout and upsert
    // semantics all sit on the verified path.
    GraftQuery("t6_stream_compaction", (s, d) => {
      import s.implicits._
      val store = java.nio.file.Files.createTempDirectory("graft_t6_store").toString
      val src = eventsStream(s, d)
        .select($"user_id", $"event_id", $"event_type", $"ts",
          vcents($"value").as("cents"))
      val q = src.writeStream
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("graft_t6_ckpt").toString)
        .foreachBatch(CompactingSink.upsertCompact(
          store, Seq("user_id"), Seq("ts", "event_id")) _)
        .outputMode(OutputMode.Append()).start()
      try { q.processAllAvailable() } finally { q.stop() }
      s.read.parquet(store)
        .select($"user_id", $"event_id", $"event_type",
          tsFmt($"ts").as("ts_s"), $"cents")
        .orderBy($"user_id")
    }, Some(s"""
      SELECT user_id, event_id, event_type, ${sql.tsFmt("ts")} AS ts_s,
        ${sql.vcents("value")} AS cents
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
            FROM events) t
      WHERE rn = 1 ORDER BY user_id""")),

    // ----- T7: streaming materialized aggregate view — a materialized
    // view is defined over a still-empty keyless graft table, the events
    // stream lands in that table through `writeStream.toTable` (one
    // exactly-once commit per epoch: a replayed epoch is a no-op, never a
    // double-count), and `REFRESH` folds the table's all-insert changelog
    // into the view, which must equal the batch aggregate oracle.
    // `folded_to_one` checks that the view covers every committed epoch:
    // the refresh ran incrementally and a second refresh has nothing left
    // to fold.
    GraftQuery("t7_stream_agg_view", (s, d) => {
      import s.implicits._
      graft.operators.DmlFixture.register(s)
      s.sql("DROP MATERIALIZED VIEW IF EXISTS graftdml.t7_view")
      s.sql("DROP TABLE IF EXISTS graftdml.t7_events")
      s.sql("""CREATE TABLE graftdml.t7_events (event_type STRING, cents BIGINT)
        USING graft TBLPROPERTIES ('append_only'='true', 'buckets'='4')""")
      s.sql("""CREATE MATERIALIZED VIEW graftdml.t7_view AS
        SELECT event_type, SUM(cents) AS cents, COUNT(*) AS n
        FROM graftdml.t7_events GROUP BY event_type""")
      val q = eventsStream(s, d)
        .select($"event_type", vcents($"value").as("cents"))
        .writeStream
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("graft_t7_ckpt").toString)
        .toTable("graftdml.t7_events")
      try { q.processAllAvailable() } finally { q.stop() }
      val refreshed = s.sql("REFRESH MATERIALIZED VIEW graftdml.t7_view").head()
      val again = s.sql("CALL graftdml.refresh_mv(view => 't7_view')").head()
      val covered = refreshed.getString(1) == "incremental" &&
        again.getString(1) == "noop"
      s.sql("SELECT event_type, cents, n FROM graftdml.t7_view")
        .withColumn("folded_to_one", lit(covered))
        .orderBy($"event_type")
    }, Some(s"""
      SELECT event_type, CAST(SUM(${sql.vcents("value")}) AS BIGINT) AS cents,
        COUNT(*) AS n, TRUE AS folded_to_one
      FROM events GROUP BY event_type ORDER BY event_type""")),

    // ----- T6 growth variant: the compacted store splits its buckets as
    // data arrives. Rows are padded (~2 KB) and the store starts as one
    // bucket with a 3 KB bucket cap, so splits genuinely trigger at every
    // test SF; three deterministic merge batches (event_id mod 3) exercise
    // merge → split → merge-into-children. The store contents are then
    // checked against the same latest-per-key batch oracle as t6 (pad is
    // derived from user_id, so it survives compaction unchanged), plus two
    // in-query invariants the oracle asserts: the store grew (three
    // splitting epochs from depth 0 reach depth 3, so `grew` is depth > 2),
    // and the live bucket set is a prefix-free cover (every
    // residue at max depth covered exactly once — no key lost or
    // double-homed by the growth).
    GraftQuery("t6_bucket_split", (s, d) => {
      import s.implicits._
      val store = java.nio.file.Files
        .createTempDirectory("graft_t6_split").toString + "/store"
      val src = T.events(s, d)
        .select($"user_id", $"event_id", $"event_type", $"ts",
          vcents($"value").as("cents"),
          // ~2 KB of distinct hashes per row: parquet can't dictionary- or
          // run-length-encode it away, so bucket bytes track row counts
          expr("concat_ws('', transform(sequence(1, 64), " +
            "i -> md5(concat(user_id, '-', i))))").as("pad"))
      (0 until 3).foreach { i =>
        CompactingSink.upsertCompact(store, Seq("user_id"), Seq("ts", "event_id"),
          maxBucketBytes = 3 * 1024)(
          src.filter(pmod($"event_id", lit(3)) === i), i.toLong)
      }
      val live = CompactingSink.liveBuckets(store)
      def depth(n: Long): Int = 63 - java.lang.Long.numberOfLeadingZeros(n)
      val maxD = live.map(depth).max
      val coverOk = (0L until (1L << maxD)).forall { r =>
        live.count(n => (r % (1L << depth(n))) == n - (1L << depth(n))) == 1
      }
      s.read.parquet(store)
        .select($"user_id", $"event_id", $"event_type",
          tsFmt($"ts").as("ts_s"), $"cents",
          lit(maxD > 2).as("grew"), lit(coverOk).as("cover_ok"))
        .orderBy($"user_id")
    }, Some(s"""
      SELECT user_id, event_id, event_type, ${sql.tsFmt("ts")} AS ts_s,
        ${sql.vcents("value")} AS cents, TRUE AS grew, TRUE AS cover_ok
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
            FROM events) t
      WHERE rn = 1 ORDER BY user_id""")),

    // ----- T6 time travel over a compacted graft table. Three
    // deterministic batches (event_id mod 3), each compacted to its latest
    // row per user and MERGEd latest-wins into a table keyed by user_id,
    // with a tag `b<i>` on the version each batch committed; the query
    // reads `VERSION AS OF 'b1'` (state after batches 0-1) AND the latest
    // table, full-outer-joined per user. The oracle recomputes both
    // compactions straight from events, so the tagged version is pinned to
    // exactly the batch-0/1 latest-per-key state — proving later merges
    // never leak into a committed version.
    GraftQuery("t6_time_travel", (s, d) => {
      import s.implicits._
      graft.operators.DmlFixture.register(s)
      s.sql("DROP TABLE IF EXISTS graftdml.t6_tt")
      s.sql("""CREATE TABLE graftdml.t6_tt
        (user_id BIGINT NOT NULL, event_id BIGINT, ts TIMESTAMP, cents BIGINT)
        USING graft TBLPROPERTIES ('merge_key'='user_id', 'buckets'='8')""")
      val src = T.events(s, d)
        .select($"user_id", $"event_id", $"ts", vcents($"value").as("cents"))
      (0 until 3).foreach { i =>
        graft.Graft.compactLatest(src.filter(pmod($"event_id", lit(3)) === i),
          Seq("user_id"), Seq("ts", "event_id")).createOrReplaceTempView("t6_tt_batch")
        s.sql("""MERGE INTO graftdml.t6_tt t USING t6_tt_batch b
          ON t.user_id = b.user_id
          WHEN MATCHED AND struct(b.ts, b.event_id) > struct(t.ts, t.event_id)
            THEN UPDATE SET event_id = b.event_id, ts = b.ts, cents = b.cents
          WHEN NOT MATCHED THEN INSERT (user_id, event_id, ts, cents)
            VALUES (b.user_id, b.event_id, b.ts, b.cents)""")
        s.sql(s"CALL graftdml.create_tag(`table` => 't6_tt', name => 'b$i')")
      }
      val v1 = s.sql("SELECT user_id, event_id AS eid_v1, cents AS cents_v1 " +
        "FROM graftdml.t6_tt VERSION AS OF 'b1'")
      val latest = s.table("graftdml.t6_tt")
        .select($"user_id", $"event_id".as("eid_latest"), $"cents".as("cents_latest"))
      latest.join(v1, Seq("user_id"), "full_outer")
        .select($"user_id", $"eid_v1", $"cents_v1", $"eid_latest", $"cents_latest")
        .orderBy($"user_id")
    }, Some(s"""
      WITH v1 AS (
        SELECT user_id, event_id, ${sql.vcents("value")} AS cents
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
              FROM events WHERE event_id % 3 <= 1) t WHERE rn = 1),
      lat AS (
        SELECT user_id, event_id, ${sql.vcents("value")} AS cents
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
              FROM events) t WHERE rn = 1)
      SELECT COALESCE(l.user_id, v.user_id) AS user_id,
        v.event_id AS eid_v1, v.cents AS cents_v1,
        l.event_id AS eid_latest, l.cents AS cents_latest
      FROM lat l FULL JOIN v1 v ON l.user_id = v.user_id
      ORDER BY user_id""")),

    // ----- T2 (streaming half): session windows over the watermarked
    // stream — per-user activity bursts closed by a 10-minute gap, the
    // per-connection message-burst analogue (websocket.hpp:175-209).
    // Complete mode (Spark rejects Update for session windows): every
    // merged session is in the output table after the batch, so the batch
    // gap-semantics oracle (same as t2_session_window) is exact. Note the
    // trade: in Complete mode Spark retains ALL session aggregation state —
    // the watermark cannot evict anything. The state-bounded production
    // shape is Append mode, where the watermark purges sessions once they
    // close (at the cost of holding back still-open sessions); this gate
    // uses Complete only so the finite test stream's full table is
    // observable.
    GraftQuery("t2s_stream_session", (s, d) => {
      import s.implicits._
      val agg = eventsStream(s, d)
        .withWatermark("ts", "30 minutes")
        .groupBy(session_window($"ts", "10 minutes").as("w"), $"user_id")
        .agg(count(lit(1)).as("n"), sum(vcents($"value")).as("sum_cents"))
      runToMemory(s, agg, OutputMode.Complete())
        .select($"user_id", tsFmt($"w.start").as("s_start"), $"n", $"sum_cents")
        .orderBy($"user_id", $"s_start")
    }, Some(s"""
      WITH x AS (
        SELECT user_id, ts, event_id, ${sql.vcents("value")} AS cents,
          CASE WHEN LAG(ts) OVER w IS NULL
                 OR ts - LAG(ts) OVER w >= INTERVAL 10 MINUTE THEN 1 ELSE 0 END AS new_s
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      y AS (
        SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM x)
      SELECT user_id, strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS s_start,
        COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS sum_cents
      FROM y GROUP BY user_id, sid ORDER BY user_id, s_start""")),

    // ----- T2 (streaming, Append mode): the STATE-BOUNDED production
    // shape — a session emits exactly once, when the watermark passes its
    // end (last event + gap) and the engine can prove no late event will
    // ever extend it; everything already emitted is evictable state. The
    // oracle mirrors that cut exactly (session_end <= max(ts) - delay), so
    // the gate pins the eviction arithmetic the same way j7c/j7d do for
    // outer joins — sessions still open at the final watermark are
    // (correctly) absent. Complete-mode companion above shows the full
    // table; together they cover both halves of the T2 trade.
    GraftQuery("t2a_stream_session_append", (s, d) => {
      import s.implicits._
      val agg = eventsStream(s, d)
        .withWatermark("ts", "30 minutes")
        .groupBy(session_window($"ts", "10 minutes").as("w"), $"user_id")
        .agg(count(lit(1)).as("n"), sum(vcents($"value")).as("sum_cents"))
      runToMemory(s, agg, OutputMode.Append())
        .select($"user_id", tsFmt($"w.start").as("s_start"), $"n", $"sum_cents")
        .orderBy($"user_id", $"s_start")
    }, Some(s"""
      WITH x AS (
        SELECT user_id, ts, event_id, ${sql.vcents("value")} AS cents,
          CASE WHEN LAG(ts) OVER w IS NULL
                 OR ts - LAG(ts) OVER w >= INTERVAL 10 MINUTE THEN 1 ELSE 0 END AS new_s
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      y AS (
        SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM x),
      sess AS (SELECT user_id, MIN(ts) AS s_start,
                 MAX(ts) + INTERVAL 10 MINUTE AS s_end,
                 COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS sum_cents
               FROM y GROUP BY user_id, sid),
      wm AS (SELECT MAX(ts) - INTERVAL 30 MINUTE AS w FROM events)
      SELECT user_id, strftime(s_start, '%Y-%m-%d %H:%M:%S') AS s_start,
        n, sum_cents
      FROM sess, wm WHERE s_end <= w
      ORDER BY user_id, s_start""")),

    // ----- T8: CHAINED stateful streaming aggregations (Spark 4 multiple
    // stateful operators in Append mode) — 5-minute tumbling per-type
    // counts re-aggregated into 30-minute peaks, both windows in ONE
    // streaming query. The first aggregate emits a 5-min window when the
    // watermark passes its end; the second consumes those emissions as
    // event-time rows (window end time) and emits a 30-min window the same
    // way — so the final table is exactly the 30-min windows whose end the
    // final watermark cleared, and every 5-min window inside them was
    // cleared first. The oracle mirrors that single cut (w30_end <= max ts
    // - delay). This is the streaming rollup cascade (minute → hour → day)
    // every metrics pipeline runs, previously impossible without an
    // intermediate sink.
    GraftQuery("t8_chained_windows", (s, d) => {
      import s.implicits._
      val five = eventsStream(s, d)
        .withWatermark("ts", "30 minutes")
        .groupBy(window($"ts", "5 minutes").as("w5"), $"event_type")
        .agg(count(lit(1)).as("n5"))
      val thirty = five
        .groupBy(window($"w5", "30 minutes").as("w30"), $"event_type")
        .agg(max($"n5").as("peak_5min"), sum($"n5").as("total"))
      runToMemory(s, thirty, OutputMode.Append())
        .select($"event_type", tsFmt($"w30.start").as("w_start"),
          $"peak_5min", $"total")
        .orderBy($"event_type", $"w_start")
    }, Some(s"""
      WITH f AS (SELECT event_type, time_bucket(INTERVAL 5 MINUTE, ts) AS w5,
                   COUNT(*) AS n5
                 FROM events GROUP BY 1, 2),
      t AS (SELECT event_type, time_bucket(INTERVAL 30 MINUTE, w5) AS w30,
              MAX(n5) AS peak_5min, CAST(SUM(n5) AS BIGINT) AS total
            FROM f GROUP BY 1, 2),
      wm AS (SELECT MAX(ts) - INTERVAL 30 MINUTE AS w FROM events)
      SELECT event_type, strftime(w30, '%Y-%m-%d %H:%M:%S') AS w_start,
        peak_5min, total
      FROM t, wm WHERE w30 + INTERVAL 30 MINUTE <= wm.w
      ORDER BY event_type, w_start""")),

    // ----- T5: streaming dedup by key + downstream aggregate
    GraftQuery("t5_stream_dedup", (s, d) => {
      import s.implicits._
      val agg = eventsStream(s, d)
        .withWatermark("ts", "30 minutes")
        .dropDuplicates("user_id", "event_type")
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n_users"))
      runToMemory(s, agg, OutputMode.Complete())
        .orderBy($"event_type")
    }, Some("""
      SELECT event_type, COUNT(DISTINCT user_id) AS n_users
      FROM events GROUP BY event_type ORDER BY event_type""")),

    // ----- S3 (Kafka-shaped half): the message log landed as per-topic
    // frame logs in the reference's wire format (length-prefixed frames,
    // server.cpp:77-98), read back through the offset-tracked
    // FrameBusProvider source with bounded admission, and aggregated per
    // topic. min/max offset bind the source's offset assignment (dense log
    // positions per topic); bytes/key_bytes/ts bounds bind every frame's
    // decoded payload to the original messages. The collect() is fixture
    // construction only — the bus writer is sequential per topic by design,
    // like the reference's single TCP ingest stream; the operator under
    // test is the distributed read path.
    GraftQuery("s3_frame_bus", (s, d) => {
      import s.implicits._
      val busPath = writeBusFixture(s, d)
      val stream = s.readStream.format("graft.streaming.FrameBusProvider")
        .option("busDir", busPath.toString)
        .option("maxOffsetsPerTrigger", "50000").load()
      val agg = stream.groupBy($"topic").agg(
        count(lit(1)).as("n_msgs"),
        min($"offset").as("min_offset"),
        max($"offset").as("max_offset"),
        sum(length($"value")).cast(LongType).as("bytes"),
        sum(length($"key")).cast(LongType).as("key_bytes"),
        min($"ts").as("min_ts0"), max($"ts").as("max_ts0"))
      val out =
        try runToMemory(s, agg, OutputMode.Complete())
        finally deleteBus(busPath) // memory sink holds the rows already
      out
        .select($"topic", $"n_msgs", $"min_offset", $"max_offset",
          $"bytes", $"key_bytes",
          tsFmt($"min_ts0").as("min_ts"), tsFmt($"max_ts0").as("max_ts"))
        .orderBy($"topic")
    }, Some("""
      WITH m AS (SELECT event_type AS topic, ts,
                   'k' || CAST(user_id % 50 AS VARCHAR) AS k, props AS v
                 FROM events)
      SELECT topic, COUNT(*) AS n_msgs,
        CAST(0 AS BIGINT) AS min_offset,
        COUNT(*) - 1 AS max_offset,
        CAST(SUM(length(v)) AS BIGINT) AS bytes,
        CAST(SUM(length(k)) AS BIGINT) AS key_bytes,
        strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS min_ts,
        strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS max_ts
      FROM m GROUP BY topic ORDER BY topic""")),

    // ----- T6/S3: Trigger.AvailableNow backfill — the catch-up-then-stop
    // reprocessing pattern (drain a bus backlog in bounded micro-batches,
    // then terminate; a scheduled job, not a resident query). The tight
    // maxOffsetsPerTrigger forces the drain across many micro-batches;
    // the raw frames land in the sink in Append mode and are re-aggregated
    // here, so n_msgs == n_distinct_offsets pins exactly-once delivery
    // across the multi-batch drain and the dense 0..n-1 offset range pins
    // completeness against the batch oracle.
    GraftQuery("t9_backfill_available_now", (s, d) => {
      import s.implicits._
      val busPath = writeBusFixture(s, d)
      val stream = s.readStream.format("graft.streaming.FrameBusProvider")
        .option("busDir", busPath.toString)
        .option("maxOffsetsPerTrigger", "2000").load()
      val out =
        try runToMemoryAvailableNow(s,
          stream.select($"topic", $"offset", length($"value").as("vlen")),
          OutputMode.Append())
        finally deleteBus(busPath)
      out.groupBy($"topic").agg(
          count(lit(1)).as("n_msgs"),
          countDistinct($"offset").as("n_distinct_offsets"),
          min($"offset").as("min_offset"),
          max($"offset").as("max_offset"),
          sum($"vlen").cast(LongType).as("bytes"))
        .orderBy($"topic")
    }, Some("""
      WITH m AS (SELECT event_type AS topic, props AS v FROM events)
      SELECT topic, COUNT(*) AS n_msgs, COUNT(*) AS n_distinct_offsets,
        CAST(0 AS BIGINT) AS min_offset,
        COUNT(*) - 1 AS max_offset,
        CAST(SUM(length(v)) AS BIGINT) AS bytes
      FROM m GROUP BY topic ORDER BY topic""")),

    // ----- T10: change-data-feed STREAM — the store's changelog consumed
    // as a streaming source through `readStream.table` on `t$changes`,
    // whose micro-batches are planned by the same changelog scan as the
    // batch readChanges (checkpointable, replayable, AvailableNow-able).
    // This closes the CDC loop: DML commits → changelog → stream →
    // (foreachBatch + incrementalAgg) downstream view, all on one storage
    // layout. See changesStreamQuery for the program and the oracle.
    changesStreamQuery("t10_cdf_stream", "cdf_state"),

    // ----- T12: the same stream's VERSION-ALIGNED batches (offsets are
    // store version numbers, so batch boundaries are transaction
    // boundaries) — the t10 program and oracle on its own table.
    changesStreamQuery("t12_changes_table_stream", "cts_state"),

    // ----- T13: the TABLE ITSELF as a streaming source —
    // `spark.readStream.table("cat.t")`, Delta-parity semantics: the first
    // micro-batch is a full snapshot of the current version, later batches
    // are the rows of versions committed since (from the changelog,
    // version-aligned). Updates fail the stream unless
    // ignoreChanges=true (then: after-images, re-delivery per key);
    // deletes unless ignoreDeletes; restore/truncate/overwrite boundaries
    // and expired resume points fail loudly (a fresh checkpoint
    // re-snapshots). The gate drains one phase per commit — snapshot,
    // append, update-after-images — and pins each phase's row count AND
    // pop-sum closed-form, so a snapshot that leaks into the tail (or a
    // tail that re-reads the snapshot) breaks the hash.
    GraftQuery("t13_table_stream", (s, d) => {
      import s.implicits._
      graft.operators.DmlFixture.register(s)
      T.nation(s, d).select($"n_nationkey".cast("long").as("k"),
          $"n_regionkey".cast("long").as("r"),
          ($"n_nationkey" * 10 + 7).cast("long").as("pop"))
        .createOrReplaceTempView("t13_src")
      s.sql("DROP TABLE IF EXISTS graftdml.ts_state")
      s.sql("""CREATE TABLE graftdml.ts_state
        (k BIGINT NOT NULL, r BIGINT, pop BIGINT) USING graft
        TBLPROPERTIES ('merge_key'='k', 'buckets'='4')""")
      s.sql("INSERT INTO graftdml.ts_state SELECT * FROM t13_src")      // v1
      val phase = new java.util.concurrent.atomic.AtomicReference("snapshot")
      val acc = new scala.collection.mutable.ArrayBuffer[(String, Long, Long)]()
      val ckpt = java.nio.file.Files.createTempDirectory("graft_t13_ckpt").toString
      val q = s.readStream.option("ignoreChanges", "true")
        .table("graftdml.ts_state")
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          val ph = phase.get()
          val rows = df.select($"k", $"pop").collect()
            .map(r => (ph, r.getLong(0), r.getLong(1)))
          acc.synchronized { acc ++= rows }
          ()
        }
        .option("checkpointLocation", ckpt).start()
      try {
        q.processAllAvailable()                                         // snapshot(v1)
        phase.set("append")
        s.sql("INSERT INTO graftdml.ts_state " +
          "SELECT id + 100, (id + 100) % 5, (id + 100) * 10 + 7 FROM range(5)") // v2
        q.processAllAvailable()
        phase.set("update")
        s.sql("UPDATE graftdml.ts_state SET pop = pop + 1000 WHERE k % 3 = 0")  // v3
        q.processAllAvailable()
      } finally q.stop()
      acc.synchronized { acc.toSeq }.toDF("phase", "k", "pop")
        .groupBy($"phase")
        .agg(count(lit(1)).as("n_rows"), sum($"pop").as("sum_pop"))
        .orderBy($"phase")
    }, Some("""
      WITH src AS (SELECT CAST(n_nationkey AS BIGINT) AS k,
                     CAST(n_nationkey * 10 + 7 AS BIGINT) AS pop FROM nation),
      app AS (SELECT CAST(i + 100 AS BIGINT) AS k,
                CAST((i + 100) * 10 + 7 AS BIGINT) AS pop FROM range(5) t(i)),
      allr AS (SELECT * FROM src UNION ALL SELECT * FROM app),
      upd AS (SELECT k, pop + 1000 AS pop FROM allr WHERE k % 3 = 0)
      SELECT 'snapshot' AS phase,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM src) AS n_rows,
        (SELECT CAST(SUM(pop) AS BIGINT) FROM src) AS sum_pop
      UNION ALL SELECT 'append', 5, (SELECT CAST(SUM(pop) AS BIGINT) FROM app)
      UNION ALL SELECT 'update',
        (SELECT CAST(COUNT(*) AS BIGINT) FROM upd),
        (SELECT CAST(SUM(pop) AS BIGINT) FROM upd)
      ORDER BY phase""")),

    // ----- T13b: the t13 base-table stream over a merge_mode='mor' table
    // WHILE equality-delete slices are LIVE — the mode×mode cell the
    // registry didn't gate: (a) a fresh stream's SNAPSHOT batch over a
    // DV-live version applies the slices (updated values, no resurrected
    // rows), (b) tailing a mor UPDATE under ignoreChanges emits the
    // after-images, a mor DELETE under ignoreDeletes emits nothing, and
    // (c) skipChangeCommits classifies a mor UPDATE version from its
    // changelog footer stats and drops it whole while a later INSERT
    // still arrives. Booleans pin that slices were genuinely live at each
    // snapshot (no OPTIMIZE ran).
    GraftQuery("t13b_table_stream_mor", (s, d) => {
      import s.implicits._
      graft.operators.DmlFixture.register(s)
      T.nation(s, d).select($"n_nationkey".cast("long").as("k"),
          ($"n_nationkey" * 10 + 7).cast("long").as("pop"))
        .createOrReplaceTempView("t13b_src")
      s.sql("DROP TABLE IF EXISTS graftdml.ts_mor")
      s.sql("""CREATE TABLE graftdml.ts_mor
        (k BIGINT NOT NULL, pop BIGINT) USING graft
        TBLPROPERTIES ('merge_key'='k', 'buckets'='4', 'merge_mode'='mor')""")
      s.sql("INSERT INTO graftdml.ts_mor SELECT * FROM t13b_src")        // v1
      s.sql("UPDATE graftdml.ts_mor SET pop = pop + 1000 WHERE k % 3 = 0") // v2: live DV
      val G = graft.sources.GraftStore
      val dir = s"${graft.operators.DmlFixture.warehouse}/ts_mor"
      def dvLiveNow(): Boolean =
        G.hasLiveDv(G.versionDir(dir, G.currentVersion(dir)))
      val phase = new java.util.concurrent.atomic.AtomicReference("a_snapshot")
      val acc = new scala.collection.mutable.ArrayBuffer[(String, Long, Long)]()
      val dvLiveA = dvLiveNow()
      locally {
        val ckpt = java.nio.file.Files
          .createTempDirectory("graft_t13b_ckptA").toString
        val q = s.readStream.option("ignoreChanges", "true")
          .option("ignoreDeletes", "true")
          .table("graftdml.ts_mor")
          .writeStream
          .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
            val ph = phase.get()
            val rows = df.select($"k", $"pop").collect()
              .map(x => (ph, x.getLong(0), x.getLong(1)))
            acc.synchronized { acc ++= rows }
            ()
          }
          .option("checkpointLocation", ckpt).start()
        try {
          q.processAllAvailable()                          // snapshot over live DVs
          phase.set("a_delete_tail")
          s.sql("DELETE FROM graftdml.ts_mor WHERE k >= 20")             // v3
          q.processAllAvailable()                          // D rows dropped
          phase.set("a_update_tail")
          s.sql("UPDATE graftdml.ts_mor SET pop = pop + 7 WHERE k < 3")  // v4
          q.processAllAvailable()                          // after-images
        } finally q.stop()
      }
      val dvLiveB = dvLiveNow()                            // still live (no optimize)
      phase.set("b_snapshot")
      locally {
        val ckpt = java.nio.file.Files
          .createTempDirectory("graft_t13b_ckptB").toString
        val q = s.readStream.option("skipChangeCommits", "true")
          .table("graftdml.ts_mor")
          .writeStream
          .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
            val ph = phase.get()
            val rows = df.select($"k", $"pop").collect()
              .map(x => (ph, x.getLong(0), x.getLong(1)))
            acc.synchronized { acc ++= rows }
            ()
          }
          .option("checkpointLocation", ckpt).start()
        try {
          q.processAllAvailable()                          // snapshot (live DVs)
          phase.set("b_skip_tail")
          s.sql("UPDATE graftdml.ts_mor SET pop = pop + 100000 WHERE k = 5") // v5: skipped whole
          q.processAllAvailable()
          phase.set("b_insert_tail")
          s.sql("INSERT INTO graftdml.ts_mor VALUES (900, 9007), (901, 9017), (902, 9027)") // v6
          q.processAllAvailable()
        } finally q.stop()
      }
      val collected = acc.synchronized { acc.toSeq }
      val aDeleteEmitted = collected.exists(_._1 == "a_delete_tail")
      val bSkipEmitted = collected.exists(_._1 == "b_skip_tail")
      collected.toDF("phase", "k", "pop")
        .groupBy($"phase")
        .agg(count(lit(1)).as("n_rows"), sum($"pop").as("sum_pop"))
        .withColumn("dv_live_at_a_snapshot", lit(dvLiveA))
        .withColumn("dv_live_at_b_snapshot", lit(dvLiveB))
        .withColumn("delete_tail_silent", lit(!aDeleteEmitted))
        .withColumn("skipped_update_silent", lit(!bSkipEmitted))
        .orderBy($"phase")
    }, Some("""
      WITH src AS (SELECT CAST(i AS BIGINT) AS k,
                     CAST(i * 10 + 7 AS BIGINT) AS pop FROM range(25) t(i)),
      v2 AS (SELECT k, CASE WHEN k % 3 = 0 THEN pop + 1000 ELSE pop END AS pop
             FROM src),
      v3 AS (SELECT * FROM v2 WHERE k < 20),
      v4u AS (SELECT k, pop + 7 AS pop FROM v3 WHERE k < 3),
      v4 AS (SELECT k, CASE WHEN k < 3 THEN pop + 7 ELSE pop END AS pop FROM v3)
      SELECT 'a_snapshot' AS phase,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM v2) AS n_rows,
        (SELECT CAST(SUM(pop) AS BIGINT) FROM v2) AS sum_pop,
        TRUE AS dv_live_at_a_snapshot, TRUE AS dv_live_at_b_snapshot,
        TRUE AS delete_tail_silent, TRUE AS skipped_update_silent
      UNION ALL SELECT 'a_update_tail',
        (SELECT CAST(COUNT(*) AS BIGINT) FROM v4u),
        (SELECT CAST(SUM(pop) AS BIGINT) FROM v4u), TRUE, TRUE, TRUE, TRUE
      UNION ALL SELECT 'b_snapshot',
        (SELECT CAST(COUNT(*) AS BIGINT) FROM v4),
        (SELECT CAST(SUM(pop) AS BIGINT) FROM v4), TRUE, TRUE, TRUE, TRUE
      UNION ALL SELECT 'b_insert_tail', 3, 9007 + 9017 + 9027,
        TRUE, TRUE, TRUE, TRUE
      ORDER BY phase""")),

    // ----- T14: admission control on the store's streams —
    // `option("maxVersionsPerTrigger", n)` / `option("maxRowsPerTrigger",
    // n)` bound each micro-batch while batches stay TRANSACTION-ALIGNED
    // (a version is never split; the row budget admits whole versions
    // until full, always at least one). The 100 TB point: an unbounded
    // first batch over a long-retained changelog is the backfill
    // stampede — a restarting consumer fleet re-reading months of history
    // as ONE batch each; bounded batches keep sink/state pressure flat no
    // matter how far behind a consumer is, and `Trigger.AvailableNow`
    // pins its target at start so a bounded drain terminates even while
    // writers keep committing. The gate commits 4 DML versions with
    // closed-form row counts, drains the changelog three ways (one
    // version per batch; a 10-row budget that must group the versions
    // exactly {1},{2,3},{4} — over-budget v1 flows alone; unlimited) and
    // pins the batch boundaries AND the per-version fold equal across all
    // three; a rate-limited base-table stream must emit its snapshot as
    // one batch of exactly the table's rows.
    GraftQuery("t14_rate_limited_stream", (s, d) => {
      import s.implicits._
      graft.operators.DmlFixture.register(s)
      T.nation(s, d)
        .select($"n_nationkey".cast("long").as("k"),
          $"n_regionkey".cast("long").as("r"),
          ($"n_nationkey" * 10 + 7).cast("long").as("pop"))
        .createOrReplaceTempView("t14_src")
      s.sql("DROP TABLE IF EXISTS graftdml.rate_state")
      s.sql("""CREATE TABLE graftdml.rate_state
        (k BIGINT NOT NULL, r BIGINT, pop BIGINT) USING graft
        TBLPROPERTIES ('merge_key'='k', 'buckets'='4')""")
      s.sql("INSERT INTO graftdml.rate_state SELECT * FROM t14_src")     // v1: 25 I
      s.sql("UPDATE graftdml.rate_state SET pop = pop + 5 WHERE r = 2")  // v2: 5 U
      s.sql("DELETE FROM graftdml.rate_state WHERE k % 5 = 0")           // v3: 5 D
      s.sql("""INSERT INTO graftdml.rate_state VALUES
        (100, 0, 1), (101, 1, 2), (102, 2, 3)""")                        // v4: 3 I

      // drain the changelog under a limit, capturing batch boundaries
      def drain(opts: Map[String, String]): Seq[(Set[Long], Long)] = {
        val batches =
          new scala.collection.mutable.ArrayBuffer[(Set[Long], Long)]()
        var r = s.readStream
        opts.foreach { case (k, v) => r = r.option(k, v) }
        val q = r.table("graftdml.`rate_state$changes`").writeStream
          .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
            val rows = df.select($"change_version").collect().map(_.getLong(0))
            if (rows.nonEmpty)
              batches.synchronized { batches += ((rows.toSet, rows.length.toLong)) }
            ()
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        try require(q.awaitTermination(300000L), "drain did not terminate")
        finally q.stop()
        batches.synchronized { batches.toSeq }
      }
      val perVersion = drain(Map("maxVersionsPerTrigger" -> "1"))
      val budgeted = drain(Map("maxRowsPerTrigger" -> "10"))
      val unlimited = drain(Map.empty)
      val versionAligned =
        perVersion.map(_._1) == Seq(Set(1L), Set(2L), Set(3L), Set(4L))
      val budgetGroups =
        budgeted.map(_._1) == Seq(Set(1L), Set(2L, 3L), Set(4L))
      val oneBatchUnlimited =
        unlimited.map(_._1) == Seq(Set(1L, 2L, 3L, 4L))
      val sameTotal = perVersion.map(_._2).sum == unlimited.map(_._2).sum &&
        budgeted.map(_._2).sum == unlimited.map(_._2).sum
      // rate-limited BASE-TABLE stream: the snapshot is one batch of
      // exactly the current rows (AvailableNow pins at the snapshot)
      val snapSizes = {
        val sizes = new scala.collection.mutable.ArrayBuffer[Long]()
        val q = s.readStream.option("maxVersionsPerTrigger", "1")
          .table("graftdml.rate_state").writeStream
          .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
            val n = df.count()
            if (n > 0) sizes.synchronized { sizes += n }
            ()
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        try require(q.awaitTermination(300000L), "snapshot did not terminate")
        finally q.stop()
        sizes.synchronized { sizes.toSeq }
      }
      val tableCount = s.table("graftdml.rate_state").count()
      val snapshotAlone = snapSizes == Seq(tableCount)
      // result: per-version change rows (the fold all three drains agree
      // on) + the batch-boundary booleans
      graft.sources.GraftStore
        .readChanges(s, s"${graft.operators.DmlFixture.warehouse}/rate_state",
          1L, 4L)
        .groupBy($"change_version")
        .agg(count(lit(1)).as("n_rows"),
          sum(when($"change_op" === "I", 1L).otherwise(0L)).as("n_ins"),
          sum(when($"change_op" === "U", 1L).otherwise(0L)).as("n_upd"),
          sum(when($"change_op" === "D", 1L).otherwise(0L)).as("n_del"))
        .withColumn("version_aligned_batches", lit(versionAligned))
        .withColumn("row_budget_groups_exact", lit(budgetGroups))
        .withColumn("unlimited_single_batch", lit(oneBatchUnlimited))
        .withColumn("all_drains_same_total", lit(sameTotal))
        .withColumn("snapshot_alone_one_batch", lit(snapshotAlone))
        .orderBy($"change_version")
    }, Some("""
      WITH src AS (SELECT CAST(n_nationkey AS BIGINT) AS k,
                     CAST(n_regionkey AS BIGINT) AS r FROM nation),
      counts AS (
        SELECT 1 AS change_version,
          (SELECT COUNT(*) FROM src) AS n_ins, 0 AS n_upd, 0 AS n_del
        UNION ALL
        SELECT 2, 0, (SELECT COUNT(*) FROM src WHERE r = 2), 0
        UNION ALL
        SELECT 3, 0, 0, (SELECT COUNT(*) FROM src WHERE k % 5 = 0)
        UNION ALL
        SELECT 4, 3, 0, 0)
      SELECT CAST(change_version AS BIGINT) AS change_version,
        CAST(n_ins + n_upd + n_del AS BIGINT) AS n_rows,
        CAST(n_ins AS BIGINT) AS n_ins, CAST(n_upd AS BIGINT) AS n_upd,
        CAST(n_del AS BIGINT) AS n_del,
        TRUE AS version_aligned_batches, TRUE AS row_budget_groups_exact,
        TRUE AS unlimited_single_batch, TRUE AS all_drains_same_total,
        TRUE AS snapshot_alone_one_batch
      FROM counts ORDER BY change_version""")),

    // ----- T15: streaming MV maintenance — the T12 changelog stream
    // wired to the S39 incremental fold: a Structured Streaming query on
    // the watermark table's `$changes` triggers a refresh per micro-batch,
    // giving ALWAYS-FRESH materialized views without a scheduler. The
    // stream is a trigger, not a data path — each refresh reads the
    // unfolded slices itself under the state commit's txn watermark, so
    // exactly-once needs no (streamId, epoch) bookkeeping: a replayed
    // epoch after a restart re-runs refresh, which no-ops at the
    // already-folded watermark. At 100 TB each fold stays ∝ changes +
    // |view| and the maintenance loop is one long-lived tiny stream. The
    // gate runs DML bursts WHILE the maintenance stream runs (freshness
    // observed via `mv$mv` flipping unstale), proves the stream drained
    // the changelog (a direct refresh no-ops after stop), RESTARTS the
    // stream from the same checkpoint for a second burst, and hashes the
    // final state against the DuckDB recompute closed form.
    GraftQuery("t15_streaming_mv", (s, d) => {
      import s.implicits._
      graft.operators.DmlFixture.register(s)
      s.sql("DROP MATERIALIZED VIEW IF EXISTS graftdml.t15_mv")
      s.sql("DROP TABLE IF EXISTS graftdml.t15_src")
      s.sql("""CREATE TABLE graftdml.t15_src
        (k BIGINT NOT NULL, r BIGINT, pop BIGINT) USING graft
        TBLPROPERTIES ('merge_key'='k', 'buckets'='4')""")
      T.nation(s, d)
        .select($"n_nationkey".cast("long").as("k"),
          $"n_regionkey".cast("long").as("r"),
          ($"n_nationkey" * 10 + 7).cast("long").as("pop"))
        .createOrReplaceTempView("t15_rows")
      s.sql("INSERT INTO graftdml.t15_src SELECT * FROM t15_rows")
      s.sql("""CREATE MATERIALIZED VIEW graftdml.t15_mv AS
        SELECT r, COUNT(*) AS n, SUM(pop) AS s
        FROM graftdml.t15_src GROUP BY r""")
      val g = s.sessionState.catalogManager.catalog("graftdml")
        .asInstanceOf[graft.sources.GraftCatalog]
      val id = org.apache.spark.sql.connector.catalog.Identifier.of(
        Array.empty[String], "t15_mv")
      val ckpt = {
        val p = java.nio.file.Files.createTempDirectory("graft_t15_ckpt")
        p.toFile.deleteOnExit()
        p.toString
      }
      def stale(): Boolean =
        s.sql("SELECT stale FROM graftdml.`t15_mv$mv`").head().getBoolean(0)
      def awaitFresh(): Boolean = {
        val deadline = System.nanoTime() + 180L * 1000000000L
        while (stale() && System.nanoTime() < deadline) Thread.sleep(200L)
        !stale()
      }
      def maintainer() = graft.sources.GraftMaterializedViews.maintainStream(
        s, "graftdml", g, id, ckpt,
        org.apache.spark.sql.streaming.Trigger.ProcessingTime(
          "250 milliseconds"))
      // leg 1: DML bursts land WHILE the maintenance stream runs
      val q1 = maintainer()
      val folded1 = try {
        s.sql("UPDATE graftdml.t15_src SET pop = pop + 1000 WHERE k % 3 = 0")
        s.sql("DELETE FROM graftdml.t15_src WHERE k % 7 = 4")
        awaitFresh()
      } finally q1.stop()
      // fully folded: a direct refresh has nothing left to do
      val drained1 = s.sql("CALL graftdml.refresh_mv(view => 't15_mv')")
        .head().getString(1) == "noop"
      // leg 2: RESTART from the same checkpoint, another burst
      s.sql("""INSERT INTO graftdml.t15_src
        SELECT id + 100, (id + 100) % 5, (id + 100) * 10 + 7 FROM range(5)""")
      val q2 = maintainer()
      val folded2 = try awaitFresh() finally q2.stop()
      val drained2 = s.sql("CALL graftdml.refresh_mv(view => 't15_mv')")
        .head().getString(1) == "noop"
      s.sql("SELECT r, n, s FROM graftdml.t15_mv")
        .withColumn("stream_folded_burst", lit(folded1))
        .withColumn("drained_after_stop", lit(drained1))
        .withColumn("restart_folded_more", lit(folded2))
        .withColumn("drained_after_restart", lit(drained2))
        .orderBy($"r")
    }, Some("""
      WITH src AS (SELECT CAST(n_nationkey AS BIGINT) AS k,
                     CAST(n_regionkey AS BIGINT) AS r,
                     CAST(n_nationkey * 10 + 7 AS BIGINT) AS pop FROM nation),
      a1 AS (SELECT k, r, CASE WHEN k % 3 = 0 THEN pop + 1000 ELSE pop END AS pop
             FROM src),
      a2 AS (SELECT * FROM a1 WHERE k % 7 <> 4),
      fin AS (SELECT * FROM a2
              UNION ALL
              SELECT CAST(i + 100 AS BIGINT), CAST((i + 100) % 5 AS BIGINT),
                CAST((i + 100) * 10 + 7 AS BIGINT) FROM range(5) t(i))
      SELECT r, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(pop) AS BIGINT) AS s,
        TRUE AS stream_folded_burst, TRUE AS drained_after_stop,
        TRUE AS restart_folded_more, TRUE AS drained_after_restart
      FROM fin GROUP BY r ORDER BY r""")),

    // ----- T11: declarative streaming UPSERT into the DML store —
    // `writeStream.option("upsert","true").toTable(...)` commits each
    // epoch's rows as keyed updates (delete-old + insert-new per merge
    // key) with per-epoch CDC and the idempotent (queryId, epoch)
    // protocol, making "stream → continuously compacted table" one
    // statement instead of foreachBatch+MERGE. The gate feeds one epoch
    // per calendar week (that week's latest row per user — the store
    // requires one row per key per epoch), in week order, so the table
    // must converge to the global latest-per-user and commit exactly one
    // store version per week.
    // ----- S20: the DDL-during-live-writer contract as a driver row —
    // the last §2.2 ID that was spec/fuzz-pinned only. A LIVE streaming
    // upsert keeps writing through ADD COLUMN, RENAME COLUMN, DROP +
    // re-ADD of a column it still emits, and a mid-stream REBUCKET:
    // epochs re-base by PHYSICAL column identity (the rename is
    // followed, the tombstoned column's values must NOT resurrect under
    // the fresh same-named column, new columns null-fill) and re-derive
    // the bucket fan-out per commit attempt (post-rebucket epochs land
    // in the 8-way layout). Final contents hash a closed form; booleans
    // pin the version arithmetic (3 epochs + 1 rebucket) and the
    // post-rebucket physical bucket dir of an epoch-3 key.
    GraftQuery("s20_ddl_live_writer", (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = s.sqlContext
      graft.operators.DmlFixture.register(s)
      val G = graft.sources.GraftStore
      s.sql("DROP TABLE IF EXISTS graftdml.s20_t")
      s.sql("""CREATE TABLE graftdml.s20_t
        (k BIGINT NOT NULL, name STRING, amount BIGINT) USING graft
        TBLPROPERTIES ('merge_key'='k', 'buckets'='4')""")
      val dir = s"${graft.operators.DmlFixture.warehouse}/s20_t"
      val base = T.nation(s, d)
        .select($"n_nationkey".cast("long").as("k"), $"n_name".as("name"))
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      val in = MemoryStream[(Long, String, Long)]
      val q = in.toDS().toDF("k", "name", "amount")
        .writeStream
        .option("checkpointLocation", java.nio.file.Files
          .createTempDirectory("graft_s20_ckpt").toString)
        .option("upsert", "true")
        .toTable("graftdml.s20_t")
      try {
        // epoch 1: the full keyspace under the CREATE-time schema
        in.addData(base.map { case (k, n) => (k, n, k * 10) })
        q.processAllAvailable()
        // live DDL: widen the surface, rename the column the stream emits
        s.sql("ALTER TABLE graftdml.s20_t ADD COLUMNS (extra STRING)")
        s.sql("ALTER TABLE graftdml.s20_t RENAME COLUMN amount TO amt")
        // epoch 2: the stream still emits `amount` — physical identity
        // routes it into `amt`, `extra` null-fills
        in.addData(base.filter(_._1 % 3 == 0)
          .map { case (k, n) => (k, n + "!", k * 10 + 1000) })
        q.processAllAvailable()
        // live DDL: drop + re-add the column the stream still emits,
        // then change the bucket fan-out under it
        s.sql("ALTER TABLE graftdml.s20_t DROP COLUMN name")
        s.sql("ALTER TABLE graftdml.s20_t ADD COLUMNS (name STRING)")
        G.rebucket(s, dir, 8)
        // epoch 3: the stream's `name` belongs to the TOMBSTONED physical
        // column — it must not resurrect; the upsert lands in the 8-way
        // layout with `amt` still following by physical identity
        in.addData(base.filter(_._1 % 5 == 0)
          .map { case (k, _) => (k, "ghost",
            k * 10 + (if (k % 3 == 0) 1000L else 0L) + 7L) })
        q.processAllAvailable()
      } finally q.stop()
      val versionsOk = G.currentVersion(dir) == 4L // 3 epochs + rebucket
      val b8 = s.sql("SELECT pmod(xxhash64(CAST(5 AS BIGINT)), 8)")
        .head().getLong(0).toInt
      val vdir = G.versionDir(dir, G.currentVersion(dir))
      val bucketOk = java.nio.file.Files.isDirectory(
        java.nio.file.Paths.get(vdir, s"${G.BucketCol}=$b8"))
      s.sql("SELECT k, amt, name, extra FROM graftdml.s20_t")
        .withColumn("version_arithmetic", lit(versionsOk))
        .withColumn("post_rebucket_layout", lit(bucketOk))
        .orderBy($"k")
    }, Some("""
      SELECT CAST(n_nationkey AS BIGINT) AS k,
        CAST(n_nationkey * 10
          + CASE WHEN n_nationkey % 3 = 0 THEN 1000 ELSE 0 END
          + CASE WHEN n_nationkey % 5 = 0 THEN 7 ELSE 0 END AS BIGINT) AS amt,
        CAST(NULL AS VARCHAR) AS name, CAST(NULL AS VARCHAR) AS extra,
        TRUE AS version_arithmetic, TRUE AS post_rebucket_layout
      FROM nation ORDER BY k""")),

    GraftQuery("t11_stream_upsert", (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx = s.sqlContext
      graft.operators.DmlFixture.register(s)
      s.sql("DROP TABLE IF EXISTS graftdml.t11_state")
      s.sql("""CREATE TABLE graftdml.t11_state
        (user_id BIGINT NOT NULL, event_id BIGINT, cents BIGINT) USING graft
        TBLPROPERTIES ('merge_key'='user_id', 'buckets'='8')""")
      val weekly = T.events(s, d)
        .withColumn("week", date_trunc("week", $"ts"))
        .withColumn("cents", vcents($"value"))
        .groupBy($"user_id", $"week")
        .agg(max_by(struct($"event_id", $"cents"),
          struct($"ts", $"event_id")).as("r"))
        .select($"week", $"user_id", $"r.event_id".as("event_id"),
          $"r.cents".as("cents"))
        .collect()
      val byWeek = weekly.groupBy(_.getTimestamp(0)).toSeq.sortBy(_._1.getTime)
      val in = MemoryStream[(Long, Long, Long)]
      val q = in.toDS().toDF("user_id", "event_id", "cents")
        .writeStream
        .option("checkpointLocation", java.nio.file.Files
          .createTempDirectory("graft_t11_ckpt").toString)
        .option("upsert", "true")
        .toTable("graftdml.t11_state")
      try {
        byWeek.foreach { case (_, rows) =>
          in.addData(rows.toSeq.map(r => (r.getLong(1), r.getLong(2), r.getLong(3))))
          q.processAllAvailable() // one epoch (= one store version) per week
        }
      } finally q.stop()
      val versions = graft.sources.GraftStore
        .currentVersion(s"${graft.operators.DmlFixture.warehouse}/t11_state")
      s.sql("SELECT user_id, event_id, cents FROM graftdml.t11_state")
        .withColumn("n_versions", lit(versions))
        .orderBy($"user_id")
    }, Some(s"""
      WITH latest AS (SELECT user_id, event_id, cents FROM (
          SELECT user_id, event_id, ${sql.vcents("value")} AS cents,
            ROW_NUMBER() OVER (PARTITION BY user_id
              ORDER BY ts DESC, event_id DESC) AS rn
          FROM events) t WHERE rn = 1)
      SELECT user_id, event_id, cents,
        (SELECT CAST(COUNT(DISTINCT DATE_TRUNC('week', ts)) AS BIGINT)
         FROM events) AS n_versions
      FROM latest ORDER BY user_id"""))
  )
}

final case class UserState(n: Long, cents: Long)
final case class UserTotals(user_id: Long, n: Long, cents: Long)
