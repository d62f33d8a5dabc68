package graft

import java.nio.file.Files

import graft.sources.{GraftCatalog, GraftStore}

/** SQL DML surface over the GraftCatalog DSv2 store: CREATE/INSERT/MERGE/
  * UPDATE/DELETE as SQL text, time travel, pushdown through the delegated
  * parquet scan, and bucket-scoped copy-on-write commits. */
class CatalogSpec extends SparkTestBase {

  private lazy val cat = "graftspec"
  private lazy val warehouse: String = {
    val p = Files.createTempDirectory("graft_catalog_spec")
    p.toFile.deleteOnExit()
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", p.toString)
    p.toString
  }

  private def mkTable(name: String, buckets: Int = 8): String = {
    warehouse // force catalog registration
    spark.sql(s"DROP TABLE IF EXISTS $cat.$name")
    spark.sql(s"""CREATE TABLE $cat.$name
      (k BIGINT NOT NULL, name STRING, amount BIGINT) USING graft
      TBLPROPERTIES ('merge_key'='k', 'buckets'='$buckets')""")
    name
  }

  private def rows(name: String): Seq[(Long, String, Long)] =
    spark.sql(s"SELECT k, name, amount FROM $cat.$name ORDER BY k")
      .collect().toSeq.map(r => (r.getLong(0), r.getString(1), r.getLong(2)))

  /** Execute `df` and return its (first) BatchScanExec leaf. */
  private def execScanOf(df: org.apache.spark.sql.DataFrame) = {
    df.collect()
    df.queryExecution.executedPlan.collectLeaves().collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.head
  }

  private def causeChain(x: Throwable): Seq[Throwable] =
    Option(x).toSeq.flatMap(t => t +: causeChain(t.getCause))

  test("create + insert + select round-trips") {
    val t = mkTable("t_basic")
    spark.sql(s"INSERT INTO $cat.$t VALUES (1, 'a', 10), (2, 'b', 20), (3, 'c', 30)")
    assert(rows(t) === Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L)))
    // append keeps existing rows
    spark.sql(s"INSERT INTO $cat.$t VALUES (4, 'd', 40)")
    assert(rows(t).map(_._1) === Seq(1L, 2L, 3L, 4L))
  }

  test("MERGE INTO applies update, delete, and insert branches") {
    val t = mkTable("t_merge")
    spark.sql(s"INSERT INTO $cat.$t VALUES (1, 'a', 10), (2, 'b', 20), (3, 'c', 30)")
    import spark.implicits._
    Seq((2L, "b2", 200L, "upsert"), (3L, "c", 0L, "delete"),
      (4L, "d", 40L, "upsert"), (5L, "e", 0L, "delete"))
      .toDF("k", "name", "amount", "op").createOrReplaceTempView("merge_src")
    spark.sql(s"""MERGE INTO $cat.$t t USING merge_src s ON t.k = s.k
      WHEN MATCHED AND s.op = 'delete' THEN DELETE
      WHEN MATCHED THEN UPDATE SET name = s.name, amount = s.amount
      WHEN NOT MATCHED AND s.op <> 'delete' THEN
        INSERT (k, name, amount) VALUES (s.k, s.name, s.amount)""")
    // 1 kept, 2 updated, 3 deleted, 4 inserted, 5 unmatched-delete no-op
    assert(rows(t) === Seq((1L, "a", 10L), (2L, "b2", 200L), (4L, "d", 40L)))
  }

  test("UPDATE and DELETE statements with predicates") {
    val t = mkTable("t_dml")
    spark.sql(s"INSERT INTO $cat.$t VALUES (1, 'a', 10), (2, 'b', 20), (3, 'c', 30), (4, 'd', 40)")
    spark.sql(s"UPDATE $cat.$t SET amount = amount + 1 WHERE k % 2 = 0")
    assert(rows(t) === Seq((1L, "a", 10L), (2L, "b", 21L), (3L, "c", 30L), (4L, "d", 41L)))
    spark.sql(s"DELETE FROM $cat.$t WHERE amount > 30")
    assert(rows(t) === Seq((1L, "a", 10L), (2L, "b", 21L), (3L, "c", 30L)))
  }

  test("VERSION AS OF reads a pinned committed version") {
    val t = mkTable("t_tt")
    spark.sql(s"INSERT INTO $cat.$t VALUES (1, 'a', 10)") // v1
    spark.sql(s"INSERT INTO $cat.$t VALUES (2, 'b', 20)") // v2
    spark.sql(s"DELETE FROM $cat.$t WHERE k = 1")         // v3
    assert(rows(t) === Seq((2L, "b", 20L)))
    val v1 = spark.sql(s"SELECT k FROM $cat.$t VERSION AS OF 1").collect().map(_.getLong(0))
    assert(v1.toSeq === Seq(1L))
    val v2 = spark.sql(s"SELECT k FROM $cat.$t VERSION AS OF 2 ORDER BY k")
      .collect().map(_.getLong(0))
    assert(v2.toSeq === Seq(1L, 2L))
    // version GC keeps the newest n, pointer intact
    GraftStore.expireVersions(s"$warehouse/t_tt", keepLast = 2)
    assert(GraftStore.listVersions(s"$warehouse/t_tt") ===
      Seq(2L, 3L))
    assert(rows(t) === Seq((2L, "b", 20L)))
  }

  test("filters push down through the delegated parquet scan") {
    val t = mkTable("t_push")
    spark.sql(s"INSERT INTO $cat.$t VALUES (1, 'a', 10), (2, 'b', 20)")
    val plan = spark.sql(s"SELECT name FROM $cat.$t WHERE amount > 15")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("amount"),
      s"expected pushed filter on amount:\n$plan")
    // and the reserved bucket column never leaks into the logical surface
    assert(!spark.table(s"$cat.$t").columns.contains(GraftStore.BucketCol))
  }

  test("aggregates push down to parquet footers through the delegated scan") {
    val t = mkTable("t_aggpush")
    spark.sql(s"INSERT INTO $cat.$t VALUES (1, 'a', 10), (2, 'b', 20), (3, 'c', 30)")
    // NOTE the key's spelling: spark.sql.parquet.aggregatePushdown
    // (lowercase "down") — the capital-D variant is an unregistered no-op
    // key that silently leaves pushdown off, which this spec's pre-r10 lax
    // contains("PushedAggregation") assertion could not detect
    withConf("spark.sql.parquet.aggregatePushdown" -> "true") {
      val q = spark.sql(s"SELECT COUNT(*), MIN(amount), MAX(amount) FROM $cat.$t")
      val plan = q.queryExecution.executedPlan.toString
      // non-EMPTY pushed list: the streamable wrapper must forward
      // SupportsPushDownAggregates or this silently demotes to a full scan
      // while "PushedAggregation: []" still matches a lax contains-check
      assert(plan.contains("PushedAggregation: [COUNT"),
        s"expected footer-served aggregation:\n$plan")
      val r = q.head()
      assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((3L, 10L, 30L)))
    }
  }

  test("DML plan guards: merge prunes target to the key; delete pushes its predicate") {
    import spark.implicits._
    val t = mkTable("t_plans")
    spark.sql(s"INSERT INTO $cat.$t SELECT id, CAST(id AS STRING), id * 2 FROM range(100)")
    Seq((1L, "u", 5L)).toDF("k", "op", "amount").createOrReplaceTempView("plan_src")
    // the rewrite's target scan must column-prune to what the deltas need:
    // the merge key plus the columns CARRIED into the after-image — the
    // assigned column (amount) is replaced wholesale and must NOT be read.
    // Proves pruning survives the row-level rewrite, not only SELECTs.
    val mergePlan = spark.sql(s"""EXPLAIN FORMATTED
      MERGE INTO $cat.$t t USING plan_src s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET amount = s.amount""")
      .collect().map(_.getString(0)).mkString("\n")
    assert(mergePlan.contains("ReadSchema: struct<k:bigint,name:string>"),
      s"merge target scan should read key + carried cols, never the assigned one:\n$mergePlan")
    assert(mergePlan.contains("WriteDelta") && mergePlan.contains("MergeRows"),
      "merge must plan as a delta write")
    // single-table DELETE: no join, predicate pushed into the parquet scan
    val delPlan = spark.sql(
      s"EXPLAIN FORMATTED DELETE FROM $cat.$t WHERE amount > 150")
      .collect().map(_.getString(0)).mkString("\n")
    assert(delPlan.contains("PushedFilters: [IsNotNull(amount), GreaterThan(amount,150)]"),
      s"delete predicate should push into the scan:\n$delPlan")
    assert(!delPlan.contains("Join"), "single-table delete must not join")
  }

  test("INSERT OVERWRITE replaces contents") {
    val t = mkTable("t_ow")
    spark.sql(s"INSERT INTO $cat.$t VALUES (1, 'a', 10), (2, 'b', 20)")
    spark.sql(s"INSERT OVERWRITE $cat.$t VALUES (9, 'z', 90)")
    assert(rows(t) === Seq((9L, "z", 90L)))
  }

  test("changelog table exposes per-version full-image changes; replay reproduces any version") {
    val t = mkTable("t_cdc")
    spark.sql(s"INSERT INTO $cat.$t VALUES (1, 'a', 10), (2, 'b', 20)")   // v1: I,I
    spark.sql(s"UPDATE $cat.$t SET amount = 21 WHERE k = 2")              // v2: U
    spark.sql(s"DELETE FROM $cat.$t WHERE k = 1")                         // v3: D
    spark.sql(s"INSERT INTO $cat.$t VALUES (1, 'a2', 11)")                // v4: I (re-insert)
    val ops = spark.sql(
      s"SELECT change_version, change_op, k FROM $cat.`t_cdc$$changes` ORDER BY change_version, k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(ops === Seq((1L, "I", 1L), (1L, "I", 2L), (2L, "U", 2L),
      (3L, "D", 1L), (4L, "I", 1L)))
    // delete rows carry only the key: non-key columns are null
    val delRow = spark.sql(
      s"SELECT name, amount FROM $cat.`t_cdc$$changes` WHERE change_op = 'D'").head()
    assert(delRow.isNullAt(0) && delRow.isNullAt(1))
    // Debezium-shaped before-images: U/D carry the replaced row, I is null
    val before = spark.sql(s"""SELECT change_version, change_op,
        change_before.k, change_before.name, change_before.amount
        FROM $cat.`t_cdc$$changes` ORDER BY change_version, k""")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else (r.getLong(2), r.getString(3), r.getLong(4))))
    assert(before.toSeq === Seq(
      (1L, "I", null), (1L, "I", null),
      (2L, "U", (2L, "b", 20L)),
      (3L, "D", (1L, "a", 10L)),
      (4L, "I", null)))
    // a version-range predicate prunes to the matching change directories
    val plan = spark.sql(
      s"SELECT k FROM $cat.`t_cdc$$changes` WHERE change_version = 2")
      .queryExecution.executedPlan.toString
    assert(plan.contains("change_version"), s"expected partition filter:\n$plan")

    val dir = s"$warehouse/t_cdc"
    val meta = GraftStore.readMeta(dir)
    // replay the full changelog from empty — last-writer-wins across the
    // delete-then-reinsert of k=1 must land on the v4 image
    val replayed = GraftStore.replayChanges(
      GraftStore.readVersion(spark, dir, 0L),
      GraftStore.readChanges(spark, dir, 1L, 4L), meta)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(replayed === Set((1L, "a2", 11L), (2L, "b", 21L)))
    // replay a PREFIX onto a mid-stream snapshot: v2 + changes(3..4) == v4
    val mid = GraftStore.replayChanges(
      GraftStore.readVersion(spark, dir, 2L),
      GraftStore.readChanges(spark, dir, 3L, 4L), meta)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(mid === replayed)
  }

  test("streaming CDC apply: foreachBatch drives MERGE INTO per micro-batch") {
    // the end-to-end shape a real changelog consumer runs: a stream of
    // (key, row, op) records applied transactionally per micro-batch
    // through the SQL MERGE surface — each batch is one store commit, so
    // a crash between batches replays from the checkpoint into a new
    // MERGE (idempotent per key: the re-applied batch lands on the same
    // final image).
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val t = mkTable("t_stream_merge")
    val in = MemoryStream[(Long, String, Long, String)]
    val q = in.toDS().toDF("k", "name", "amount", "op")
      .writeStream.outputMode("update")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.createOrReplaceTempView("cdc_batch")
        batch.sparkSession.sql(s"""MERGE INTO $cat.$t t USING cdc_batch c
          ON t.k = c.k
          WHEN MATCHED AND c.op = 'D' THEN DELETE
          WHEN MATCHED THEN UPDATE SET name = c.name, amount = c.amount
          WHEN NOT MATCHED AND c.op <> 'D' THEN
            INSERT (k, name, amount) VALUES (c.k, c.name, c.amount)""")
        ()
      }.start()
    try {
      in.addData((1L, "a", 10L, "U"), (2L, "b", 20L, "U"))
      q.processAllAvailable()
      in.addData((1L, "a2", 11L, "U"), (3L, "c", 30L, "U"))
      q.processAllAvailable()
      in.addData((2L, "", 0L, "D"), (4L, "d", 40L, "U"))
      q.processAllAvailable()
      assert(rows(t) === Seq((1L, "a2", 11L), (3L, "c", 30L), (4L, "d", 40L)))
      // one store commit per non-empty micro-batch
      assert(GraftStore.currentVersion(s"$warehouse/t_stream_merge") === 3L)
    } finally q.stop()
  }

  test("incrementalAgg: group moves, group extinction, null group keys") {
    val t = mkTable("t_mv") // schema (k, name, amount); view groups by name
    spark.sql(s"INSERT INTO $cat.$t VALUES (1, 'x', 10), (2, 'x', 20), (3, 'y', 30), (4, NULL, 5)")
    spark.sql(s"UPDATE $cat.$t SET name = 'y', amount = 11 WHERE k = 1") // x→y move
    spark.sql(s"DELETE FROM $cat.$t WHERE k = 3")
    spark.sql(s"UPDATE $cat.$t SET amount = 6 WHERE k = 4")              // null group update
    spark.sql(s"DELETE FROM $cat.$t WHERE k = 2")                        // group x dies
    val dir = s"$warehouse/t_mv"
    val empty = spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("name",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("s",
          org.apache.spark.sql.types.LongType))))
    val mv = GraftStore.incrementalAgg(empty,
      GraftStore.readChanges(spark, dir, 1L, 5L), Seq("name"), "amount")
      .collect().map(r => (if (r.isNullAt(0)) "<null>" else r.getString(0),
        r.getLong(1), r.getLong(2))).toSet
    // final table: (1,y,11), (4,null,6) → y:(1,11), null:(1,6); x extinct
    assert(mv === Set(("y", 1L, 11L), ("<null>", 1L, 6L)))
  }

  test("streaming MV: change stream + incrementalAgg tracks DML continuously") {
    // the full CDC loop on one storage layout: SQL DML commits → changelog
    // slices → `t$changes` micro-batches → incrementalAgg folds each batch
    // into the running view. A batch may span several commits; the
    // retract/add algebra is additive, so multi-version batches fold
    // exactly like single-version ones.
    import spark.implicits._
    val t = mkTable("t_mv_stream") // (k, name, amount); view groups by name
    spark.sql(s"INSERT INTO $cat.$t VALUES (1, 'x', 10), (2, 'y', 20)")
    val mvState = new java.util.concurrent.atomic.AtomicReference[
      Map[(String, Boolean), (Long, Long)]](Map.empty)
    def mvDf = {
      val rows = mvState.get().toSeq.map { case ((g, isNull), (n, s)) =>
        org.apache.spark.sql.Row(if (isNull) null else g, n, s)
      }
      spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("name",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("n",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("s",
            org.apache.spark.sql.types.LongType))))
    }
    val q = spark.readStream.table(s"$cat.`t_mv_stream$$changes`")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val next = GraftStore.incrementalAgg(mvDf, batch, Seq("name"), "amount")
          .collect().map(r => ((if (r.isNullAt(0)) "" else r.getString(0)),
            r.isNullAt(0)) -> (r.getLong(1), r.getLong(2))).toMap
        mvState.set(next)
        ()
      }.start()
    try {
      q.processAllAvailable()
      assert(mvState.get() === Map(("x", false) -> (1L, 10L), ("y", false) -> (1L, 20L)))
      spark.sql(s"UPDATE $cat.$t SET name = 'y', amount = 11 WHERE k = 1")
      spark.sql(s"INSERT INTO $cat.$t VALUES (3, 'z', 30)")
      q.processAllAvailable()
      assert(mvState.get() === Map(("y", false) -> (2L, 31L), ("z", false) -> (1L, 30L)))
      spark.sql(s"DELETE FROM $cat.$t WHERE name = 'y'")
      q.processAllAvailable()
      assert(mvState.get() === Map(("z", false) -> (1L, 30L)))
    } finally q.stop()
  }

  test("optimize compacts fragmented buckets without touching content, history, or changelog") {
    import scala.jdk.CollectionConverters._
    val t = mkTable("t_opt", buckets = 2)
    (1L to 6L).foreach(i => spark.sql(s"INSERT INTO $cat.$t VALUES ($i, 'r$i', ${i * 10})"))
    val dir = s"$warehouse/t_opt"
    val preVersion = GraftStore.currentVersion(dir)
    val preRows = rows(t)
    // LIVE file counts per bucket, resolved through the bucket manifest
    // (appended files accumulate across owner version dirs since r12)
    def filesPerBucket(v: Long): Map[String, Int] =
      GraftStore.snapshotFileEntries(dir, v)
        .groupBy(e => GraftStore.slotBucket(e.slot)).map { case (b, es) =>
          s"${GraftStore.BucketCol}=$b" -> es.size
        }
    val pre = filesPerBucket(preVersion)
    assert(pre.values.exists(_ > 2), "fixture must fragment")
    val v2 = GraftStore.optimize(spark, dir, maxFilesPerBucket = 2)
    assert(v2 === preVersion + 1)
    val post = filesPerBucket(v2)
    // fragmented buckets compact to ONE file; buckets under the threshold
    // are hard-linked untouched
    pre.foreach { case (b, n) =>
      if (n > 2) assert(post(b) === 1, s"bucket $b not compacted: $post")
      else assert(post(b) === n, s"bucket $b should be untouched: $post")
    }
    assert(rows(t) === preRows)
    // time travel to the fragmented version still works, changelog untouched
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.$t VERSION AS OF $preVersion")
      .head().getLong(0) === 6L)
    assert(GraftStore.readChanges(spark, dir, 1L, v2).count() === 6L)
    // idempotent: nothing fragmented → same version back
    assert(GraftStore.optimize(spark, dir, maxFilesPerBucket = 2) === v2)
    // changelog retention: drop the first three versions' slices
    GraftStore.expireChanges(dir, keepFromVersion = 4L)
    assert(GraftStore.readChanges(spark, dir, 1L, v2)
      .select("change_version").distinct().collect().map(_.getLong(0)).toSet
      === Set(4L, 5L, 6L))
  }

  test("ALTER TABLE ADD COLUMN null-fills history; new DML writes it") {
    val t = mkTable("t_alter")
    spark.sql(s"INSERT INTO $cat.$t VALUES (1, 'a', 10)")
    spark.sql(s"ALTER TABLE $cat.$t ADD COLUMNS (note STRING)")
    // history null-fills through the declared schema
    val r1 = spark.sql(s"SELECT k, note FROM $cat.$t").head()
    assert(r1.getLong(0) === 1L && r1.isNullAt(1))
    // new DML reads and writes the new column
    spark.sql(s"INSERT INTO $cat.$t VALUES (2, 'b', 20, 'fresh')")
    spark.sql(s"UPDATE $cat.$t SET note = 'patched' WHERE k = 1")
    val got = spark.sql(s"SELECT k, note FROM $cat.$t ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got === Seq((1L, "patched"), (2L, "fresh")))
    // pre-evolution changelog slices null-fill too
    val ch = GraftStore.readChanges(spark, s"$warehouse/t_alter", 1L, 1L).head()
    assert(ch.schema.fieldNames.contains("note"))
    assert(ch.isNullAt(ch.fieldIndex("note")))
  }

  test("writeStream.toTable appends per-epoch commits, exactly-once across restart") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val t = mkTable("t_stream_sink")
    val dir = s"$warehouse/t_stream_sink"
    val ckpt = Files.createTempDirectory("graft_sink_ckpt").toString
    def start(in: MemoryStream[(Long, String, Long)]) =
      in.toDS().toDF("k", "name", "amount")
        .writeStream.option("checkpointLocation", ckpt)
        .toTable(s"$cat.$t")
    val in1 = MemoryStream[(Long, String, Long)]
    val q1 = start(in1)
    try {
      in1.addData((1L, "a", 10L)); q1.processAllAvailable()
      in1.addData((2L, "b", 20L), (3L, "c", 30L)); q1.processAllAvailable()
      assert(rows(t) === Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L)))
      // one store version per non-empty epoch, each a CDC batch of I rows
      val perVersion = spark.sql(
        s"SELECT change_version, COUNT(*) FROM $cat.`t_stream_sink$$changes` " +
          "GROUP BY change_version ORDER BY change_version")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(perVersion === Seq((1L, 1L), (2L, 2L)))
    } finally q1.stop()
    // restart from the same checkpoint: a fresh MemoryStream must carry
    // the already-committed batches so the checkpointed offsets resolve
    // (the standard MemoryStream restart pattern); any replayed epoch must
    // not double-append (epoch idempotence), new data must flow
    val in2 = MemoryStream[(Long, String, Long)]
    in2.addData((1L, "a", 10L))
    in2.addData((2L, "b", 20L), (3L, "c", 30L))
    val q2 = start(in2)
    try {
      in2.addData((4L, "d", 40L)); q2.processAllAvailable()
      assert(rows(t) ===
        Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L), (4L, "d", 40L)))
    } finally q2.stop()
    // a FRESH query (new checkpoint) restarts batch ids at 0 — the epoch
    // marker is scoped per queryId, so its first batches must land instead
    // of being swallowed by the previous query's high-water mark (r7 ADVICE)
    val ckptB = Files.createTempDirectory("graft_sink_ckpt_b").toString
    val in3 = MemoryStream[(Long, String, Long)]
    val q3 = in3.toDS().toDF("k", "name", "amount")
      .writeStream.option("checkpointLocation", ckptB).toTable(s"$cat.$t")
    try {
      in3.addData((5L, "e", 50L)); q3.processAllAvailable()
      assert(rows(t).map(_._1) === Seq(1L, 2L, 3L, 4L, 5L),
        "fresh query's epoch 0 was dropped by a stale epoch marker")
    } finally q3.stop()
  }

  test("writeStream.toTable upsert mode keeps one live row per key, exactly-once") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val t = mkTable("t_stream_upsert")
    val ckpt = Files.createTempDirectory("graft_upsert_ckpt").toString
    def start(in: MemoryStream[(Long, String, Long)]) =
      in.toDS().toDF("k", "name", "amount")
        .writeStream.option("checkpointLocation", ckpt)
        .option("upsert", "true")
        .toTable(s"$cat.$t")
    val in1 = MemoryStream[(Long, String, Long)]
    val q1 = start(in1)
    try {
      in1.addData((1L, "a", 10L), (2L, "b", 20L)); q1.processAllAvailable()
      in1.addData((1L, "a2", 11L), (3L, "c", 30L)); q1.processAllAvailable()
      // k=1 was UPDATED in place by the second epoch, not duplicated
      assert(rows(t) === Seq((1L, "a2", 11L), (2L, "b", 20L), (3L, "c", 30L)))
      // the second epoch's changelog records the upsert with a before-image
      val dir = s"$warehouse/t_stream_upsert"
      val v = GraftStore.currentVersion(dir)
      val ch = GraftStore.readChanges(spark, dir, v, v)
        .selectExpr("change_op", "k", "change_before.amount")
        .collect().map(r => (r.getString(0), r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
      assert(ch === Set(("U", 1L, 10L), ("U", 3L, -1L)))
    } finally q1.stop()
    // restart replays nothing (epoch idempotence) and new epochs upsert
    val in2 = MemoryStream[(Long, String, Long)]
    in2.addData((1L, "a", 10L), (2L, "b", 20L))
    in2.addData((1L, "a2", 11L), (3L, "c", 30L))
    val q2 = start(in2)
    try {
      in2.addData((2L, "b9", 99L)); q2.processAllAvailable()
      assert(rows(t) === Seq((1L, "a2", 11L), (2L, "b9", 99L), (3L, "c", 30L)))
    } finally q2.stop()
    // an epoch carrying two rows for one key fails loudly, not silently
    val in4 = MemoryStream[(Long, String, Long)]
    val ckptD = Files.createTempDirectory("graft_upsert_dup").toString
    val q4 = in4.toDS().toDF("k", "name", "amount")
      .writeStream.option("checkpointLocation", ckptD)
      .option("upsert", "true").toTable(s"$cat.$t")
    try {
      in4.addData((7L, "x", 1L), (7L, "y", 2L))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q4.processAllAvailable()
      }
      def chain(x: Throwable): Seq[Throwable] =
        Option(x).toSeq.flatMap(t => t +: chain(t.getCause))
      assert(causeChain(e).exists(_.getMessage != null) &&
        causeChain(e).exists(t => t.getMessage != null &&
          t.getMessage.contains("multiple rows for merge key")))
    } finally q4.stop()
  }

  test("live upsert stream survives ALTER and rebucket on its target table") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val t = mkTable("t_ddlupsert", buckets = 4)
    val dir = s"$warehouse/t_ddlupsert"
    val ckpt = Files.createTempDirectory("graft_ddlupsert_ckpt").toString
    val in = MemoryStream[(Long, String, Long)]
    val q = in.toDS().toDF("k", "name", "amount")
      .writeStream.option("checkpointLocation", ckpt)
      .option("upsert", "true").toTable(s"$cat.$t")
    try {
      in.addData((1L, "a", 10L), (2L, "b", 20L)); q.processAllAvailable()
      // DDL lands while the stream is live: add a column, rename another.
      // Later epochs re-base by physical identity — the stream's `amount`
      // follows the rename to `amt`, `extra` null-fills.
      spark.sql(s"ALTER TABLE $cat.$t ADD COLUMNS (extra STRING)")
      spark.sql(s"ALTER TABLE $cat.$t RENAME COLUMN amount TO amt")
      in.addData((1L, "a2", 11L), (3L, "c", 30L)); q.processAllAvailable()
      val got1 = spark.sql(s"SELECT k, name, amt, extra FROM $cat.$t ORDER BY k")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          if (r.isNullAt(3)) null else r.getString(3))).toSeq
      assert(got1 === Seq((1L, "a2", 11L, null), (2L, "b", 20L, null),
        (3L, "c", 30L, null)))
      // DROP + re-ADD the column the stream still writes: the stream's
      // values belong to the tombstoned physical column and must NOT
      // resurrect under the fresh one — new epochs null-fill it
      spark.sql(s"ALTER TABLE $cat.$t DROP COLUMN name")
      spark.sql(s"ALTER TABLE $cat.$t ADD COLUMNS (name STRING)")
      // and a mid-stream REBUCKET: later epochs must bucket by the new
      // layout (applyChanges re-derives the fan-out per attempt)
      GraftStore.rebucket(spark, dir, 8)
      in.addData((2L, "zz", 99L)); q.processAllAvailable()
      val got2 = spark.sql(s"SELECT k, amt, name FROM $cat.$t ORDER BY k")
        .collect().map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) null else r.getString(2))).toSeq
      assert(got2 === Seq((1L, 11L, null), (2L, 99L, null), (3L, 30L, null)),
        "re-added column must stay null; upsert must land post-rebucket")
      // the upserted row landed in the bucket its hash maps to at 8
      val b8 = spark.sql("SELECT pmod(xxhash64(CAST(2 AS BIGINT)), 8)")
        .head().getLong(0).toInt
      val vdir = GraftStore.versionDir(dir, GraftStore.currentVersion(dir))
      assert(Files.isDirectory(
        java.nio.file.Paths.get(vdir, s"${GraftStore.BucketCol}=$b8")))
    } finally q.stop()
  }

  test("UPDATE may reassign the merge key: row moves, old key leaves no ghost") {
    val t = mkTable("t_keymove")
    spark.sql(s"INSERT INTO $cat.$t VALUES (1, 'a', 10), (2, 'b', 20), (3, 'c', 30)")
    // Spark's RewriteUpdateTable passes the ORIGINAL key as the row id, so
    // the delta writer must emit D(old key) alongside U(new row) — without
    // it the old-keyed row survives as a silent duplicate (r7 ADVICE high)
    spark.sql(s"UPDATE $cat.$t SET k = k + 100 WHERE k = 2")
    assert(rows(t) === Seq((1L, "a", 10L), (3L, "c", 30L), (102L, "b", 20L)))
    // the commit's changelog carries both halves of the move
    val dir = s"$warehouse/t_keymove"
    val v = GraftStore.currentVersion(dir)
    val ops = GraftStore.readChanges(spark, dir, v, v)
      .select("change_op", "k").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(ops === Set(("D", 2L), ("U", 102L)))
    // and a key-swap within one statement replays deterministically:
    // the live image outranks the delete at the same version
    spark.sql(s"UPDATE $cat.$t SET k = CASE k WHEN 1 THEN 3 WHEN 3 THEN 1 ELSE k END " +
      s"WHERE k IN (1, 3)")
    assert(rows(t) === Seq((1L, "c", 30L), (3L, "a", 10L), (102L, "b", 20L)))
    val meta = GraftStore.readMeta(dir)
    val replayed = GraftStore.replayChanges(
      GraftStore.readVersion(spark, dir, 1L).drop(GraftStore.BucketCol),
      GraftStore.readChanges(spark, dir, 2L, GraftStore.currentVersion(dir)), meta)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(replayed === rows(t))
  }

  test("MERGE that assigns the merge key moves the row") {
    import spark.implicits._
    val t = mkTable("t_keymerge")
    spark.sql(s"INSERT INTO $cat.$t VALUES (1, 'a', 10), (2, 'b', 20)")
    Seq((1L, 500L)).toDF("k", "newk").createOrReplaceTempView("km_src")
    spark.sql(s"""MERGE INTO $cat.$t t USING km_src s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET k = s.newk""")
    assert(rows(t) === Seq((2L, "b", 20L), (500L, "a", 10L)))
  }

  test("INSERT OVERWRITE is one atomic version commit") {
    val t = mkTable("t_ow")
    val dir = s"$warehouse/t_ow"
    spark.sql(s"INSERT INTO $cat.$t VALUES (1, 'a', 10), (2, 'b', 20)")
    val v1 = GraftStore.currentVersion(dir)
    spark.sql(s"INSERT OVERWRITE $cat.$t VALUES (7, 'z', 70)")
    // exactly ONE new version — no intermediate empty truncate commit a
    // concurrent reader could observe or a crash could strand (r7 ADVICE)
    assert(GraftStore.currentVersion(dir) === v1 + 1)
    assert(rows(t) === Seq((7L, "z", 70L)))
    // like TRUNCATE, the overwrite writes NO changelog slice — the missing
    // slice is the detectable re-snapshot boundary for CDC consumers
    assert(GraftStore.readChanges(spark, dir, v1 + 1, v1 + 1).count() === 0L)
    assert(!GraftStore.hasChangelog(dir, v1 + 1))
    assert(GraftStore.hasChangelog(dir, v1), "pre-overwrite slices retained")
    // time travel still sees the pre-overwrite content
    assert(spark.sql(s"SELECT k FROM $cat.$t VERSION AS OF $v1 ORDER BY k")
      .collect().map(_.getLong(0)).toSeq === Seq(1L, 2L))
  }

  test("concurrent appends both commit — claimed versions, no lost update") {
    val t = mkTable("t_conc", buckets = 4)
    val dir = s"$warehouse/t_conc"
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val gate = new java.util.concurrent.CyclicBarrier(2)
    def ins(lo: Int): Future[Unit] = Future {
      gate.await()
      spark.sql(s"INSERT INTO $cat.$t SELECT id, 'x', id FROM range($lo, ${lo + 20})")
      ()
    }
    try Await.result(Future.sequence(Seq(ins(0), ins(100))), Duration(180, "s"))
    finally pool.shutdown()
    // both batches landed (the claim loser retried on the next version)
    assert(rows(t).map(_._1).toSet ===
      ((0L until 20L) ++ (100L until 120L)).toSet)
    assert(GraftStore.currentVersion(dir) === 2L)
  }

  test("four concurrent writers: every append lands, versions stay contiguous") {
    val t = mkTable("t_conc4", buckets = 4)
    val dir = s"$warehouse/t_conc4"
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val gate = new java.util.concurrent.CyclicBarrier(4)
    def writer(w: Int): Future[Unit] = Future {
      gate.await()
      (0 until 2).foreach { i =>
        val lo = w * 1000 + i * 100
        spark.sql(s"INSERT INTO $cat.$t SELECT id, 'w$w', id FROM range($lo, ${lo + 10})")
      }
    }
    try Await.result(Future.sequence((0 until 4).map(writer)), Duration(300, "s"))
    finally pool.shutdown()
    // 8 commits, no version lost or duplicated, all 80 rows present
    assert(rows(t).size === 80)
    assert(GraftStore.currentVersion(dir) === 8L)
    assert(GraftStore.listVersions(dir) === (0L to 8L))
    // the changelog is complete too: one 10-row I batch per commit
    val perV = GraftStore.readChanges(spark, dir, 1L, 8L)
      .groupBy("change_version").count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(perV === (1L to 8L).map(_ -> 10L).toMap)
  }

  test("every single-version publish loses cleanly to a concurrent commit claim") {
    warehouse
    val day2 = java.time.LocalDate.parse("2026-01-02").toEpochDay
    // one statement per single-version publish path, each against a fresh
    // days-partitioned table at v2 so every one has a real version to build
    val ops: Seq[(String, String => String)] = Seq(
      "update" -> (t => s"UPDATE $cat.$t SET amount = 99 WHERE k = 1"),
      "truncate" -> (t => s"TRUNCATE TABLE $cat.$t"),
      "set_partition_spec" -> (t => s"CALL $cat.set_partition_spec(" +
        s"table => '$t', transform => 'hours(ts)')"),
      "optimize" -> (t =>
        s"CALL $cat.optimize(table => '$t', max_files_per_bucket => 0)"),
      "rebucket" -> (t => s"CALL $cat.rebucket(table => '$t', buckets => 4)"),
      "restore" -> (t => s"CALL $cat.restore(table => '$t', version => 1)"),
      "expire_partitions" -> (t =>
        s"CALL $cat.expire_partitions(table => '$t', below => '$day2')"),
      "rtas" -> (t => s"REPLACE TABLE $cat.$t USING graft " +
        "TBLPROPERTIES ('merge_key'='k', 'buckets'='2') " +
        "AS SELECT id AS k, id * 2 AS amount FROM range(0, 3)"))
    ops.foreach { case (op, stmt) =>
      val t = s"t_claim_$op"
      val dir = s"$warehouse/$t"
      spark.sql(s"DROP TABLE IF EXISTS $cat.$t")
      spark.sql(s"""CREATE TABLE $cat.$t
        (k BIGINT NOT NULL, ts TIMESTAMP, amount BIGINT) USING graft
        PARTITIONED BY (days(ts))
        TBLPROPERTIES ('merge_key'='k', 'buckets'='2')""")
      spark.sql(s"""INSERT INTO $cat.$t VALUES
        (1, TIMESTAMP'2026-01-01 06:00:00', 10),
        (2, TIMESTAMP'2026-01-02 06:00:00', 20)""")
      spark.sql(s"INSERT INTO $cat.$t VALUES " +
        "(3, TIMESTAMP'2026-01-03 06:00:00', 30)")
      val cur = GraftStore.currentVersion(dir)
      def entries(p: String => Boolean): Seq[String] =
        new java.io.File(dir).list().toSeq.filter(p)
      // another writer holds the claim for the next version
      val marker = java.nio.file.Paths.get(dir, f"_commit-${cur + 1}%010d")
      Files.write(marker, "foreign-writer".getBytes("UTF-8"))
      val e = intercept[Exception](spark.sql(stmt(t)))
      assert(causeChain(e).exists(
        _.isInstanceOf[java.util.ConcurrentModificationException]),
        s"$op: expected a clean conflict error, got $e")
      assert(new String(Files.readAllBytes(marker), "UTF-8") === "foreign-writer",
        s"$op must leave the foreign claim untouched")
      assert(GraftStore.currentVersion(dir) === cur, s"$op moved the pointer")
      assert(entries(_.startsWith(f"v${cur + 1}%010d.build-")).isEmpty,
        s"$op left a build dir behind")
      // the statement succeeds once the claim clears, and leaves no claim
      // marker or build dir of its own
      Files.delete(marker)
      spark.sql(stmt(t))
      assert(GraftStore.currentVersion(dir) === cur + 1, s"$op did not publish")
      assert(entries(n => n.startsWith("_commit-") || n.contains(".build-"))
        .isEmpty, s"$op left protocol debris: ${entries(_ => true)}")
    }
  }

  test("changelog publication survives a concurrent reader's recovery") {
    val t = mkTable("t_pubrace")
    val dir = s"$warehouse/t_pubrace"
    spark.sql(s"INSERT INTO $cat.$t VALUES (1, 'a', 10)")
    // concurrent recoverChangelog calls race to publish the same staged
    // batch; every path must be a no-op for the losers, never an error
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    (2 to 5).foreach { i =>
      // re-stage the committed changelog under its staging name, then race
      val v = GraftStore.currentVersion(dir)
      val chFinal = java.nio.file.Paths.get(
        GraftStore.changesRoot(dir), s"change_version=$v")
      val staged = stagedSlice(dir, v)
      Files.move(chFinal, staged)
      val gate = new java.util.concurrent.CyclicBarrier(8)
      val fs = (1 to 8).map(_ => Future { gate.await(); GraftStore.recoverChangelog(dir) })
      Await.result(Future.sequence(fs), Duration(60, "s"))
      assert(Files.isDirectory(chFinal) && !Files.exists(staged))
    }
    pool.shutdown()
    assert(GraftStore.readChanges(spark, dir, 1L, 1L).count() === 1L)
  }

  test("RENAME COLUMN is metadata-only: scans map names, DML and CDC follow") {
    val t = mkTable("t_rename")
    val dir = s"$warehouse/t_rename"
    spark.sql(s"INSERT INTO $cat.$t VALUES (1, 'a', 10), (2, 'b', 20)") // v1
    spark.sql(s"ALTER TABLE $cat.$t RENAME COLUMN amount TO cents")
    // no data rewrite happened: still at v1, files keep the physical name
    assert(GraftStore.currentVersion(dir) === 1L)
    val meta = GraftStore.readMeta(dir)
    assert(GraftStore.physicalName(meta.schema("cents")) === "amount")
    // logical reads resolve the new name, with the filter still pushed down
    val q = spark.sql(s"SELECT k, cents FROM $cat.$t WHERE cents > 15")
    assert(q.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((2L, 20L)))
    assert(q.queryExecution.executedPlan.toString.contains("PushedFilters"),
      "filter pushdown must survive the renaming scan")
    // DML through the renamed schema: update, insert, merge-key rename later
    spark.sql(s"UPDATE $cat.$t SET cents = cents + 1 WHERE k = 1")
    spark.sql(s"INSERT INTO $cat.$t VALUES (3, 'c', 30)")
    assert(spark.sql(s"SELECT k, cents FROM $cat.$t ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((1L, 11L), (2L, 20L), (3L, 30L)))
    // time travel reads pre-rename versions under the CURRENT names
    assert(spark.sql(s"SELECT cents FROM $cat.$t VERSION AS OF 1 ORDER BY cents")
      .collect().map(_.getLong(0)).toSeq === Seq(10L, 20L))
    // changelog surfaces (SQL table + API) expose logical names, including
    // inside the before-image struct of pre- AND post-rename commits
    val ch = spark.sql(s"SELECT change_op, cents, change_before.cents " +
      s"FROM $cat.`t_rename$$changes` WHERE change_version = 2").head()
    assert(ch.getString(0) === "U" && ch.getLong(1) === 11L && ch.getLong(2) === 10L)
    val api = GraftStore.readChanges(spark, dir, 1L, 1L)
    assert(api.schema.fieldNames.contains("cents") &&
      !api.schema.fieldNames.contains("amount"))
    // compaction preserves the physical layout
    GraftStore.optimize(spark, dir, maxFilesPerBucket = 0)
    assert(spark.sql(s"SELECT SUM(cents) FROM $cat.$t").head().getLong(0) === 61L)
  }

  test("RENAME COLUMN on the merge key keeps row identity working") {
    val t = mkTable("t_renkey")
    spark.sql(s"INSERT INTO $cat.$t VALUES (1, 'a', 10), (2, 'b', 20)")
    spark.sql(s"ALTER TABLE $cat.$t RENAME COLUMN k TO id")
    assert(GraftStore.readMeta(s"$warehouse/t_renkey").keyCols === Seq("id"))
    import spark.implicits._
    Seq((2L, 200L), (9L, 900L)).toDF("id", "amount").createOrReplaceTempView("rk_src")
    spark.sql(s"""MERGE INTO $cat.$t t USING rk_src s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET amount = s.amount
      WHEN NOT MATCHED THEN INSERT (id, amount) VALUES (s.id, s.amount)""")
    assert(spark.sql(s"SELECT id, amount FROM $cat.$t ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((1L, 10L), (2L, 200L), (9L, 900L)))
  }

  test("DROP COLUMN tombstones the physical name; re-ADD starts fresh") {
    val t = mkTable("t_drop")
    val dir = s"$warehouse/t_drop"
    spark.sql(s"INSERT INTO $cat.$t VALUES (1, 'a', 10), (2, 'b', 20)")
    spark.sql(s"ALTER TABLE $cat.$t DROP COLUMN name")
    assert(spark.table(s"$cat.$t").columns.toSeq === Seq("k", "amount"))
    assert(GraftStore.readMeta(dir).tombstones === Seq("name"))
    // merge-key columns cannot be dropped
    intercept[Exception] { spark.sql(s"ALTER TABLE $cat.$t DROP COLUMN k") }
    // re-adding the same logical name maps to a FRESH physical column —
    // the dropped bytes in existing files must not resurrect
    spark.sql(s"ALTER TABLE $cat.$t ADD COLUMNS (name STRING)")
    val f = GraftStore.readMeta(dir).schema("name")
    assert(GraftStore.physicalName(f) === "name_p1")
    val got = spark.sql(s"SELECT k, name FROM $cat.$t ORDER BY k").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).toSeq
    assert(got === Seq((1L, None), (2L, None)),
      "dropped column data resurrected under the re-added name")
    spark.sql(s"INSERT INTO $cat.$t VALUES (3, 33, 'fresh')")
    assert(spark.sql(s"SELECT name FROM $cat.$t WHERE k = 3").head().getString(0)
      === "fresh")
  }

  test("ALTER COLUMN TYPE widens losslessly without rewriting data") {
    warehouse
    spark.sql(s"DROP TABLE IF EXISTS $cat.t_widen")
    spark.sql(s"""CREATE TABLE $cat.t_widen
      (k BIGINT NOT NULL, cnt INT, ratio FLOAT) USING graft
      TBLPROPERTIES ('merge_key'='k', 'buckets'='4')""")
    spark.sql(s"INSERT INTO $cat.t_widen VALUES (1, 10, CAST(0.5 AS FLOAT))")
    val dir = s"$warehouse/t_widen"
    spark.sql(s"ALTER TABLE $cat.t_widen ALTER COLUMN cnt TYPE BIGINT")
    spark.sql(s"ALTER TABLE $cat.t_widen ALTER COLUMN ratio TYPE DOUBLE")
    // still at v1: metadata-only; the narrow file values up-convert on read
    assert(GraftStore.currentVersion(dir) === 1L)
    val r1 = spark.sql(s"SELECT cnt, ratio FROM $cat.t_widen").head()
    assert(r1.getLong(0) === 10L && r1.getDouble(1) === 0.5)
    // new DML writes the wide type; old+new files coexist in one scan
    spark.sql(s"INSERT INTO $cat.t_widen VALUES (2, ${Long.MaxValue}, 2.5)")
    spark.sql(s"UPDATE $cat.t_widen SET cnt = cnt + 1 WHERE k = 1")
    val got = spark.sql(s"SELECT k, cnt FROM $cat.t_widen ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === Seq((1L, 11L), (2L, Long.MaxValue)))
    // the changelog spans the widening: v1 files store INT (flat and in
    // the before-image struct), v2+ store BIGINT — one read serves both
    val ch = GraftStore.readChanges(spark, dir, 1L, GraftStore.currentVersion(dir))
      .selectExpr("change_version", "change_op", "cnt", "change_before.cnt AS prev")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
    assert(ch === Set((1L, "I", 10L, -1L), (2L, "I", Long.MaxValue, -1L),
      (3L, "U", 11L, 10L)))
    // narrowing and key-widening are rejected
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.t_widen ALTER COLUMN cnt TYPE INT")
    }
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.t_widen ALTER COLUMN k TYPE DECIMAL(38,0)")
    }
  }

  test("storage-partitioned join: co-bucketed store tables join with zero shuffle") {
    warehouse
    Seq("t_spj_a", "t_spj_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $cat.$t")
      spark.sql(s"""CREATE TABLE $cat.$t
        (k BIGINT NOT NULL, v BIGINT) USING graft
        TBLPROPERTIES ('merge_key'='k', 'buckets'='8')""")
    }
    spark.sql(s"INSERT INTO $cat.t_spj_a SELECT id, id * 2 FROM range(0, 200)")
    spark.sql(s"INSERT INTO $cat.t_spj_b SELECT id, id * 3 FROM range(0, 200)")
    val q = s"""SELECT a.k, a.v + b.v AS s FROM $cat.t_spj_a a
                JOIN $cat.t_spj_b b ON a.k = b.k"""
    val expected = (0L until 200L).map(k => (k, k * 5)).toSet
    def run() = spark.sql(q).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // baseline: no SPJ — shuffles present, results correct
    assert(run() === expected)
    withConf("spark.graft.store.spj" -> "true",
        "spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val df = spark.sql(q)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"expected a shuffle-free storage-partitioned join:\n$plan")
      assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet === expected)
    }
    // and an aggregation grouped on the key also skips its shuffle
    withConf("spark.graft.store.spj" -> "true",
        "spark.sql.sources.v2.bucketing.enabled" -> "true") {
      val agg = spark.sql(s"SELECT k, SUM(v) AS s FROM $cat.t_spj_a GROUP BY k")
      assert(!agg.queryExecution.executedPlan.toString.contains("Exchange"),
        "group-by on the bucket key should reuse the reported partitioning")
      assert(agg.collect().length === 200)
    }
  }

  test("merge-key point lookups file-prune to the key's bucket") {
    val t = mkTable("t_bprune", buckets = 8)
    (0 until 3).foreach { i => // appends fan files into every bucket dir
      spark.sql(s"INSERT INTO $cat.$t SELECT id, CAST(id AS STRING), id " +
        s"FROM range(${i * 100}, ${i * 100 + 100})")
    }
    def scanOf(df: org.apache.spark.sql.DataFrame) = {
      df.collect()
      df.queryExecution.executedPlan.collectLeaves().collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }.get
    }
    val fullScan = scanOf(spark.sql(s"SELECT * FROM $cat.$t"))
    val point = spark.sql(s"SELECT name FROM $cat.$t WHERE k = 7")
    assert(point.collect().map(_.getString(0)).toSeq === Seq("7"))
    val pointScan = scanOf(point)
    // the derived bucket filter reaches the scan as a PARTITION filter...
    assert(pointScan.toString.contains(GraftStore.BucketCol) ||
      point.queryExecution.executedPlan.toString.contains(GraftStore.BucketCol),
      s"no bucket partition filter in scan:\n${pointScan.toString}")
    // ...and the scan reads strictly fewer files than the full table
    val (fullFiles, pointFiles) = (fileCount(fullScan), fileCount(pointScan))
    assert(fullFiles > 0 && pointFiles > 0 && pointFiles < fullFiles,
      s"expected file pruning: point=$pointFiles vs full=$fullFiles")
    // IN-lists prune to the union of their keys' buckets, results exact
    val in = spark.sql(s"SELECT k FROM $cat.$t WHERE k IN (3, 77, 250)")
    assert(in.collect().map(_.getLong(0)).sorted.toSeq === Seq(3L, 77L, 250L))
    val inFiles = fileCount(scanOf(in))
    assert(inFiles < fullFiles, s"IN pruning: $inFiles vs $fullFiles")
    // past inSetConversionThreshold (default 10) the optimizer rewrites
    // the list to InSet — derivation must still fire
    val big = (1L to 12L).mkString(", ")
    val inSet = spark.sql(s"SELECT k FROM $cat.$t WHERE k IN ($big)")
    assert(inSet.collect().map(_.getLong(0)).sorted.toSeq === (1L to 12L))
    assert(scanOf(inSet).toString.contains(GraftStore.BucketCol) ||
      inSet.queryExecution.executedPlan.toString.contains(GraftStore.BucketCol),
      "InSet-shaped lookups must still derive the bucket filter")
  }

  private def fileCount(
      scan: org.apache.spark.sql.execution.datasources.v2.BatchScanExec): Long =
    scan.inputRDDs().head.partitions.flatMap {
      case p: org.apache.spark.sql.execution.datasources.v2.DataSourceRDDPartition =>
        p.inputPartitions.map {
          case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
            fp.files.length.toLong
          case _ => 0L
        }
      case _ => Seq(0L)
    }.sum

  test("CHECK constraints: enforced on INSERT/UPDATE/MERGE, validated on ADD") {
    warehouse
    spark.sql(s"DROP TABLE IF EXISTS $cat.t_chk")
    spark.sql(s"""CREATE TABLE $cat.t_chk
      (k BIGINT NOT NULL, v BIGINT, CONSTRAINT pos CHECK (v > 0))
      USING graft TBLPROPERTIES ('merge_key'='k', 'buckets'='4')""")
    spark.sql(s"INSERT INTO $cat.t_chk VALUES (1, 10)")
    // a violating INSERT fails and commits NOTHING (no partial version)
    val vBefore = GraftStore.currentVersion(s"$warehouse/t_chk")
    assertThrows[Exception](spark.sql(s"INSERT INTO $cat.t_chk VALUES (2, -5)"))
    assert(GraftStore.currentVersion(s"$warehouse/t_chk") === vBefore)
    // UPDATE and MERGE are enforced through the same planned check
    assertThrows[Exception](spark.sql(
      s"UPDATE $cat.t_chk SET v = -1 WHERE k = 1"))
    assertThrows[Exception](spark.sql(
      s"MERGE INTO $cat.t_chk x USING (SELECT 1 AS k, -7 AS v) s " +
        "ON x.k = s.k WHEN MATCHED THEN UPDATE SET v = s.v"))
    // NULL passes (SQL CHECK semantics: only FALSE violates)
    spark.sql(s"INSERT INTO $cat.t_chk VALUES (3, NULL)")
    // ADD CONSTRAINT validates existing rows; a retroactively-violated
    // one is rejected, a satisfied one lands and enforces future writes
    spark.sql(s"ALTER TABLE $cat.t_chk ADD CONSTRAINT small CHECK (k < 1000)")
    // (Spark validates ahead of the catalog hook; the store re-validates
    // in alterTable as defense in depth — either layer must reject)
    intercept[Exception](spark.sql(
      s"ALTER TABLE $cat.t_chk ADD CONSTRAINT nope CHECK (v > 100)"))
    assert(!GraftStore.readMeta(s"$warehouse/t_chk").checks.exists(_._1 == "nope"),
      "a retroactively-violated constraint must not be recorded")
    assertThrows[Exception](spark.sql(s"INSERT INTO $cat.t_chk VALUES (5000, 1)"))
    spark.sql(s"ALTER TABLE $cat.t_chk DROP CONSTRAINT small")
    spark.sql(s"INSERT INTO $cat.t_chk VALUES (5000, 1)") // dropped: allowed
    assert(spark.sql(s"SELECT k FROM $cat.t_chk ORDER BY k")
      .collect().map(_.getLong(0)).toSeq === Seq(1L, 3L, 5000L))
    // constraints survive the meta round-trip and ride RTAS staging
    assert(GraftStore.readMeta(s"$warehouse/t_chk").checks ===
      Seq("pos" -> "v > 0"))
    // non-CHECK constraints are rejected loudly, not recorded as hints
    val e2 = intercept[Exception](spark.sql(
      s"ALTER TABLE $cat.t_chk ADD CONSTRAINT pk PRIMARY KEY (k)"))
    assert(causeChain(e2).exists(t => t.getMessage != null &&
      t.getMessage.contains("only CHECK constraints")))
  }

  test("column DEFAULT values: CREATE, metadata-only ADD, SET DEFAULT") {
    warehouse
    operators.DmlFixture.allowDefaults(spark)
    spark.sql(s"DROP TABLE IF EXISTS $cat.t_def")
    spark.sql(s"""CREATE TABLE $cat.t_def
      (k BIGINT NOT NULL, v BIGINT DEFAULT 42) USING graft
      TBLPROPERTIES ('merge_key'='k', 'buckets'='4')""")
    spark.sql(s"INSERT INTO $cat.t_def (k) VALUES (1)")
    spark.sql(s"INSERT INTO $cat.t_def VALUES (2, DEFAULT), (3, 30)")
    def all() = spark.sql(s"SELECT k, v, w FROM $cat.t_def ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
    val dir = s"$warehouse/t_def"
    val vBefore = GraftStore.currentVersion(dir)
    // ADD COLUMN WITH DEFAULT is metadata-only: NO new version, no
    // rewrite — existing rows read the default via EXISTS_DEFAULT
    spark.sql(s"ALTER TABLE $cat.t_def ADD COLUMNS (w BIGINT DEFAULT 7)")
    assert(GraftStore.currentVersion(dir) === vBefore,
      "ADD COLUMN DEFAULT must not commit a data version")
    assert(all() === Seq((1L, 42L, 7L), (2L, 42L, 7L), (3L, 30L, 7L)))
    // future inserts substitute the CURRENT default; SET DEFAULT changes
    // it for later inserts while pre-column rows keep reading 7
    spark.sql(s"INSERT INTO $cat.t_def (k, v) VALUES (4, 40)")
    spark.sql(s"ALTER TABLE $cat.t_def ALTER COLUMN w SET DEFAULT 9")
    spark.sql(s"INSERT INTO $cat.t_def (k, v) VALUES (5, 50)")
    assert(all() === Seq((1L, 42L, 7L), (2L, 42L, 7L), (3L, 30L, 7L),
      (4L, 40L, 7L), (5L, 50L, 9L)))
    // the default column renames like any other (metadata rides the field)
    spark.sql(s"ALTER TABLE $cat.t_def RENAME COLUMN w TO w2")
    spark.sql(s"INSERT INTO $cat.t_def (k, v) VALUES (6, 60)")
    assert(spark.sql(s"SELECT w2 FROM $cat.t_def WHERE k = 6").head.getLong(0) === 9L)
    assert(spark.sql(s"SELECT w2 FROM $cat.t_def WHERE k = 1").head.getLong(0) === 7L)
    // DML through a defaulted column behaves plainly
    spark.sql(s"UPDATE $cat.t_def SET w2 = w2 + 1 WHERE k <= 2")
    assert(spark.sql(s"SELECT SUM(w2) FROM $cat.t_def").head.getLong(0) ===
      (8 + 8 + 7 + 7 + 9 + 9))
  }

  test("atomic CTAS and RTAS through the staging catalog") {
    warehouse
    spark.sql(s"DROP TABLE IF EXISTS $cat.t_ctas")
    // CTAS: schema inferred from the query (key tightened to NOT NULL),
    // table appears atomically — no .stage- remnant, no half-written dir
    spark.sql(s"CREATE TABLE $cat.t_ctas USING graft " +
      "TBLPROPERTIES ('merge_key'='id', 'buckets'='4') " +
      "AS SELECT id, id * 2 AS v FROM range(0, 10)")
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.t_ctas").head.getLong(0) === 10L)
    assert(!spark.table(s"$cat.t_ctas").schema("id").nullable,
      "CTAS must tighten the merge key to NOT NULL")
    assert(new java.io.File(warehouse).list().count(_.contains(".stage-")) === 0)
    // a CTAS whose query produces a NULL key fails at write, not silently
    val e = intercept[Exception](spark.sql(
      s"CREATE TABLE $cat.t_ctas_bad USING graft TBLPROPERTIES " +
        "('merge_key'='id') AS SELECT CAST(NULL AS BIGINT) AS id"))
    assert(e.getMessage != null)
    spark.sql(s"INSERT INTO $cat.t_ctas VALUES (100, 1)") // v2
    // RTAS: contents AND schema swap as ONE claimed boundary commit —
    // readers never see a missing table, history stays retained
    spark.sql(s"REPLACE TABLE $cat.t_ctas USING graft " +
      "TBLPROPERTIES ('merge_key'='id', 'buckets'='8') " +
      "AS SELECT id, CAST(id * 3 AS STRING) AS s FROM range(0, 5)")
    assert(spark.sql(s"SELECT id, s FROM $cat.t_ctas ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ===
      (0L until 5L).map(i => (i, (i * 3).toString)))
    val hist = spark.sql(s"SELECT version, is_boundary FROM $cat.`t_ctas$$versions` " +
      "ORDER BY version").collect().map(r => (r.getLong(0), r.getBoolean(1))).toSeq
    assert(hist === Seq((0L, false), (1L, false), (2L, false), (3L, true)),
      s"RTAS must be one boundary commit on top of retained history, got $hist")
    // time travel ACROSS the replace: old data reads under the new schema
    // (shared physical names resolve, the replaced-away column is gone,
    // the new column null-fills) — the same contract as pre-ADD versions
    val v2 = spark.sql(s"SELECT id, s FROM $cat.t_ctas VERSION AS OF 2")
    assert(v2.count() === 11L && v2.where("s IS NOT NULL").count() === 0L)
    // the new fan-out is live: writes land through it
    spark.sql(s"INSERT INTO $cat.t_ctas VALUES (50, 'x')")
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.t_ctas").head.getLong(0) === 6L)
    assert(GraftStore.readMeta(s"$warehouse/t_ctas").buckets === 8)
    // CREATE OR REPLACE on a missing table falls back to create
    spark.sql(s"DROP TABLE IF EXISTS $cat.t_cor")
    spark.sql(s"CREATE OR REPLACE TABLE $cat.t_cor USING graft " +
      "TBLPROPERTIES ('merge_key'='id') AS SELECT id FROM range(0, 3)")
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.t_cor").head.getLong(0) === 3L)
    // REPLACE of a missing table (no OR CREATE) fails
    assertThrows[Exception](spark.sql(
      s"REPLACE TABLE $cat.t_missing USING graft TBLPROPERTIES " +
        "('merge_key'='id') AS SELECT id FROM range(0, 1)"))
    // RTAS that REUSES a column name with a DIFFERENT type: the staged
    // meta gets fresh physical identities, so time travel across the
    // replace null-fills instead of exploding on a physical type clash
    spark.sql(s"DROP TABLE IF EXISTS $cat.t_retype")
    spark.sql(s"CREATE TABLE $cat.t_retype (id BIGINT NOT NULL, v BIGINT) " +
      "USING graft TBLPROPERTIES ('merge_key'='id', 'buckets'='4')")
    spark.sql(s"INSERT INTO $cat.t_retype VALUES (1, 10)")         // v1
    spark.sql(s"REPLACE TABLE $cat.t_retype USING graft " +
      "TBLPROPERTIES ('merge_key'='id') " +
      "AS SELECT id, CAST('s' || id AS STRING) AS v FROM range(0, 3)")
    assert(spark.sql(s"SELECT v FROM $cat.t_retype WHERE id = 1")
      .head.getString(0) === "s1")
    val old = spark.sql(s"SELECT id, v FROM $cat.t_retype VERSION AS OF 1")
      .collect()
    // id kept its name+type → inherits the physical identity and stays
    // readable across the replace; v changed type → fresh identity, so
    // the old BIGINT bytes null-fill instead of throwing a parquet error
    assert(old.length === 1 && old.head.getLong(0) === 1L &&
      old.head.isNullAt(1),
      s"inherit-or-fresh physical identities broken: ${old.mkString}")
  }

  test("maintenance runs as native SQL CALL procedures; TRUNCATE TABLE works") {
    val t = mkTable("t_proc", buckets = 4)
    val dir = s"$warehouse/t_proc"
    (0 until 3).foreach { i =>
      spark.sql(s"INSERT INTO $cat.$t SELECT id, 'x', id FROM range(${i * 10}, ${i * 10 + 10})")
    }
    // optimize: compacts every bucket to one file, returns the new version
    val v = spark.sql(s"CALL $cat.optimize(table => 't_proc', max_files_per_bucket => 0)")
      .head().getLong(0)
    assert(v === 4L && GraftStore.currentVersion(dir) === 4L)
    assert(rows(t).size === 30)
    // expire_versions via CALL (positional args + default-arg optimize)
    spark.sql(s"CALL $cat.expire_versions('t_proc', 2)")
    assert(GraftStore.listVersions(dir) === Seq(3L, 4L))
    spark.sql(s"CALL $cat.expire_changes('t_proc', 3)")
    assert(GraftStore.readChanges(spark, dir, 1L, 10L)
      .select("change_version").distinct().collect().map(_.getLong(0)).toSet === Set(3L))
    // TRUNCATE TABLE is the claimed empty-version commit
    spark.sql(s"TRUNCATE TABLE $cat.$t")
    assert(rows(t).isEmpty)
    assert(GraftStore.currentVersion(dir) === 5L)
  }

  test("optimize sort_by clusters each bucket's rows for row-group skipping") {
    val t = mkTable("t_cluster", buckets = 4)
    val dir = s"$warehouse/t_cluster"
    // amounts arrive shuffled across three appends
    (0 until 3).foreach { i =>
      spark.sql(s"INSERT INTO $cat.$t SELECT id, 'x', (id * 37) % 1000 " +
        s"FROM range(${i * 100}, ${i * 100 + 100})")
    }
    val before = rows(t)
    spark.sql(s"CALL $cat.optimize(table => 't_cluster', " +
      s"max_files_per_bucket => 0, sort_by => 'amount')")
    assert(rows(t) === before, "compaction must not change content")
    // every compacted file holds its bucket's rows SORTED by amount, so
    // parquet row-group min/max stats serve range predicates
    val vdir = java.nio.file.Paths.get(
      GraftStore.versionDir(dir, GraftStore.currentVersion(dir)))
    import scala.jdk.CollectionConverters._
    val files = Files.walk(vdir).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
      .toSeq
    assert(files.size === 4, s"one compact file per bucket, got ${files.size}")
    files.foreach { f =>
      val amounts = spark.read.parquet(f.toString)
        .select("amount").collect().map(_.getLong(0)).toSeq
      assert(amounts === amounts.sorted, s"unsorted compacted file $f")
    }
  }

  test("t$versions lists the retained version history") {
    val t = mkTable("t_hist", buckets = 4)
    val dir = s"$warehouse/t_hist"
    spark.sql(s"INSERT INTO $cat.$t VALUES (1, 'a', 10)")  // v1 (+changelog)
    spark.sql(s"INSERT INTO $cat.$t VALUES (2, 'b', 20)")  // v2 (+changelog)
    GraftStore.optimize(spark, dir, maxFilesPerBucket = 0) // v3 (no changelog)
    val h = spark.sql(s"SELECT version, is_current, n_files, has_changelog " +
        s"FROM $cat.`t_hist$$versions` ORDER BY version").collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2), r.getBoolean(3)))
    assert(h.map(_._1).toSeq === Seq(0L, 1L, 2L, 3L))
    assert(h.count(_._2) === 1 && h.last._2, "exactly the newest is current")
    assert(h.map(_._4).toSeq === Seq(false, true, true, false),
      "changelog flags: none for v0/compaction, per-commit for DML")
    assert(h.last._3 > 0 && h.head._3 === 0L)
    // retention reflects immediately
    GraftStore.expireVersions(dir, keepLast = 2)
    assert(spark.sql(s"SELECT version FROM $cat.`t_hist$$versions` ORDER BY version")
      .collect().map(_.getLong(0)).toSeq === Seq(2L, 3L))
    // the per-version fan-out surfaces; a rebucket shows up version-for-version
    GraftStore.rebucket(spark, dir, 8)
    assert(spark.sql(s"SELECT version, buckets FROM $cat.`t_hist$$versions` " +
        "ORDER BY version").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq === Seq((2L, 4), (3L, 4), (4L, 8)))
    // commit instants surface, monotone, and match the store's stamps
    val stamps = spark.sql(s"SELECT version, committed_at " +
        s"FROM $cat.`t_hist$$versions` ORDER BY version").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime))
    assert(stamps.map(_._2).sliding(2).forall(p => p.head <= p.last))
    stamps.foreach { case (v, ms) =>
      assert(ms === GraftStore.committedAt(dir, v))
    }
  }

  test("CALL vacuum sweeps abandoned staging, never committed data") {
    val t = mkTable("t_vac", buckets = 4)
    val dir = s"$warehouse/t_vac"
    spark.sql(s"INSERT INTO $cat.$t VALUES (1, 'a', 10)")
    // abandoned debris from crashed writers
    val orphan = java.nio.file.Paths.get(GraftStore.stagingDir(dir, "dead-query"))
    Files.createDirectories(orphan)
    Files.write(orphan.resolve("t-0.bin"), Array[Byte](1, 2, 3))
    val tomb = java.nio.file.Paths.get(dir, f"_commit-${9L}%010d.stale-12345")
    Files.write(tomb, Array.emptyByteArray)
    // young debris survives an age-gated vacuum; old debris goes
    assert(spark.sql(s"CALL $cat.vacuum('t_vac', ${Long.MaxValue})")
      .head().getLong(0) === 1L) // only the tomb (no age on tombs)
    assert(Files.exists(orphan) && !Files.exists(tomb))
    Thread.sleep(10) // staging age must exceed the zero threshold
    assert(spark.sql(s"CALL $cat.vacuum(table => 't_vac', older_than_ms => 0)")
      .head().getLong(0) >= 1L)
    assert(!Files.exists(orphan), "orphan staging must be swept")
    assert(rows(t) === Seq((1L, "a", 10L)), "data untouched")
  }

  test("readStream.table on t$changes streams version-aligned CDC batches") {
    val t = mkTable("t_cdcs")
    val dir = s"$warehouse/t_cdcs"
    spark.sql(s"INSERT INTO $cat.$t VALUES (1, 'a', 10), (2, 'b', 20)") // v1
    spark.sql(s"UPDATE $cat.$t SET amount = 21 WHERE k = 2")            // v2
    val ckpt = Files.createTempDirectory("graft_cdcs_ckpt").toString
    val seen = new scala.collection.mutable.ArrayBuffer[(Long, String, Long)]()
    def start() = spark.readStream.table(s"$cat.`t_cdcs$$changes`")
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = df.select("change_version", "change_op", "k").collect()
          .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        seen.synchronized { seen ++= rows }
        ()
      }
      .option("checkpointLocation", ckpt).start()
    val q1 = start()
    try {
      q1.processAllAvailable()
      assert(seen.toSet === Set((1L, "I", 1L), (1L, "I", 2L), (2L, "U", 2L)))
      // a new commit arrives as its own version-aligned batch
      spark.sql(s"DELETE FROM $cat.$t WHERE k = 1") // v3
      q1.processAllAvailable()
      assert(seen.size === 4 && seen.toSet.contains((3L, "D", 1L)))
    } finally q1.stop()
    // restart from the checkpoint: already-streamed versions are NOT
    // replayed; only post-restart commits flow
    seen.synchronized { seen.clear() }
    val q2 = start()
    try {
      spark.sql(s"INSERT INTO $cat.$t VALUES (7, 'g', 70)") // v4
      q2.processAllAvailable()
      assert(seen.toSet === Set((4L, "I", 7L)),
        s"restart must resume at the checkpointed version, got ${seen.toSet}")
    } finally q2.stop()
    // the stream sees logical names and before-images like the batch path
    val batch = GraftStore.readChanges(spark, dir, 1L, 4L).count()
    assert(batch === 5L)
  }

  test("explicit CREATE rejects nullable merge keys; CTAS tightens them") {
    warehouse
    spark.sql(s"DROP TABLE IF EXISTS $cat.t_nullkey")
    // an EXPLICIT CREATE must declare keys NOT NULL (silently rewriting
    // declared DDL would surprise later); only CTAS/RTAS — whose inferred
    // schemas cannot carry the constraint — tighten, with the null check
    // enforced on every write (covered in the CTAS spec)
    val e = intercept[Exception] {
      spark.sql(s"""CREATE TABLE $cat.t_nullkey
        (k BIGINT, v STRING) USING graft
        TBLPROPERTIES ('merge_key'='k', 'buckets'='4')""")
    }
    assert(causeChain(e).exists(t => t.getMessage != null &&
      t.getMessage.contains("must be declared NOT NULL")), s"got $e")
  }

  test("copy-on-write rewrites only touched buckets; others carry by reference") {
    val t = mkTable("t_cow", buckets = 8)
    warehouse
    spark.sql(s"INSERT INTO $cat.$t SELECT id, CAST(id AS STRING), id * 10 " +
      "FROM range(0, 64)")
    val dir = s"$warehouse/t_cow"
    val v1 = GraftStore.currentVersion(dir)
    val beforeFiles = GraftStore.snapshotFiles(dir, v1).toSet
    spark.sql(s"UPDATE $cat.$t SET amount = 0 WHERE k = 7")
    val v2 = GraftStore.currentVersion(dir)
    assert(v2 === v1 + 1)
    // the bucket holding k=7 was rewritten (its files live in v2's dir);
    // every other bucket carries by MANIFEST REFERENCE — the new version
    // physically holds nothing for it, the owner map still points at v1
    // and the resolved file set is byte-identical (same absolute paths)
    val touched = spark.sql(
      s"SELECT pmod(xxhash64(CAST(7 AS BIGINT)), 8)").head().getLong(0).toInt
    val owners = GraftStore.ownersOf(dir, v2)
    assert(owners(s"${GraftStore.BucketCol}=$touched") === Seq(v2),
      "touched bucket must own itself")
    owners.collect { case (s, os)
        if GraftStore.slotBucket(s) != touched => (s, os) }.foreach {
      case (s, os) => assert(os === Seq(v1), s"slot $s should carry from v1")
    }
    val afterFiles = GraftStore.snapshotFiles(dir, v2).toSet
    val untouchedBefore = beforeFiles.filterNot(
      _.contains(s"${GraftStore.BucketCol}=$touched/"))
    assert(untouchedBefore.nonEmpty)
    assert(untouchedBefore.subsetOf(afterFiles),
      "untouched buckets' files must carry into the new snapshot untouched")
    // and the v2 dir physically holds ONLY the rewritten bucket
    import scala.jdk.CollectionConverters._
    val v2d = java.nio.file.Paths.get(GraftStore.versionDir(dir, v2))
    val physical = Files.list(v2d).iterator().asScala
      .map(_.getFileName.toString)
      .filter(_.startsWith(s"${GraftStore.BucketCol}=")).toSeq
    assert(physical === Seq(s"${GraftStore.BucketCol}=$touched"))
    assert(rows(t).find(_._1 == 7L).get._3 === 0L)
  }

  test("INSERT INTO ... REPLACE WHERE swaps a predicate region in one commit") {
    val t = mkTable("t_replw", buckets = 4)
    val dir = s"$warehouse/t_replw"
    spark.sql(s"INSERT INTO $cat.$t SELECT id, CAST(id AS STRING), id * 10 " +
      "FROM range(0, 20)")                                          // v1
    // replace the [5, 9] region with 3 rows: two inside it, one whose key
    // (15) lives OUTSIDE the region — it must UPSERT over the survivor
    spark.sql(s"INSERT INTO $cat.$t REPLACE WHERE k >= 5 AND k <= 9 " +
      "VALUES (5, 'n5', 1), (6, 'n6', 2), (15, 'n15', 3)")          // v2
    assert(GraftStore.currentVersion(dir) === 2L, "one atomic commit")
    val got = rows(t)
    assert(got.filter(r => r._1 >= 5 && r._1 <= 9) ===
      Seq((5L, "n5", 1L), (6L, "n6", 2L)), "region replaced exactly")
    assert(got.find(_._1 == 15L).get === (15L, "n15", 3L),
      "outside-region key upserted, not duplicated")
    assert(got.size === 20 - 5 + 2, s"7,8,9 gone, rest intact: ${got.size}")
    // full CDC: the replaced region logged as D (7,8,9 pure deletes),
    // the new rows as U
    val ch = GraftStore.readChanges(spark, dir, 2L, 2L)
      .selectExpr("change_op", "k").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(ch === Set(("D", 5L), ("D", 6L), ("D", 7L), ("D", 8L), ("D", 9L),
      ("U", 5L), ("U", 6L), ("U", 15L)))
    // the replayed changelog agrees with the live table
    val replayed = GraftStore.replayChanges(
      GraftStore.readVersion(spark, dir, 0L),
      GraftStore.readChanges(spark, dir, 1L, 2L), GraftStore.readMeta(dir))
    assert(replayed.count() === got.size.toLong)
    // duplicate merge keys in the source fail loudly (same contract as
    // the streaming upsert sink), never silently double-insert
    val e = intercept[Exception] {
      spark.sql(s"INSERT INTO $cat.$t REPLACE WHERE k = 0 " +
        "VALUES (30, 'd1', 1), (30, 'd2', 2)")
    }
    def chain(x: Throwable): Seq[Throwable] =
      Option(x).toSeq.flatMap(tt => tt +: chain(tt.getCause))
    assert(causeChain(e).exists(tt => tt.getMessage != null &&
      tt.getMessage.contains("multiple rows for merge key")), s"got $e")
    assert(GraftStore.currentVersion(dir) === 2L, "failed statement commits nothing")
  }

  test("CALL restore rolls back by hard-link, across a rebucket, history intact") {
    val t = mkTable("t_restore", buckets = 4)
    val dir = s"$warehouse/t_restore"
    spark.sql(s"INSERT INTO $cat.$t SELECT id, CAST(id AS STRING), id * 10 " +
      "FROM range(0, 64)")                                          // v1
    spark.sql(s"CALL $cat.rebucket(table => 't_restore', buckets => 16)") // v2
    spark.sql(s"UPDATE $cat.$t SET amount = 0 WHERE k < 32")        // v3
    val v = spark.sql(s"CALL $cat.restore(table => 't_restore', version => 1)")
      .head().getLong(0)
    assert(v === 4L)
    // contents back to v1, restored under v1's OWN fan-out (marker copied)
    assert(rows(t).map(_._3).sum === (0 until 64).map(_ * 10).sum)
    assert(GraftStore.versionBuckets(dir, 4L) === 4)
    assert(!GraftStore.hasChangelog(dir, 4L), "restore writes no changelog")
    // pruning and writes keep working under the restored layout
    def scanOf(df: org.apache.spark.sql.DataFrame) = {
      df.collect()
      df.queryExecution.executedPlan.collectLeaves().collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }.get
    }
    spark.sql(s"CALL $cat.optimize(table => 't_restore', max_files_per_bucket => 0)")
    val point = fileCount(scanOf(
      spark.sql(s"SELECT name FROM $cat.$t WHERE k = 7")))
    assert(point === 1L, s"point lookup under restored 4-bucket layout: $point")
    spark.sql(s"UPDATE $cat.$t SET amount = 1 WHERE k = 7")
    assert(rows(t).find(_._1 == 7L).get._3 === 1L)
    // no-op restore to current; unknown version errors
    val cur = GraftStore.currentVersion(dir)
    assert(spark.sql(s"CALL $cat.restore(table => 't_restore', version => $cur)")
      .head().getLong(0) === cur)
    val e = intercept[Exception] {
      spark.sql(s"CALL $cat.restore(table => 't_restore', version => 99)")
    }
    def chain(x: Throwable): Seq[Throwable] =
      Option(x).toSeq.flatMap(tt => tt +: chain(tt.getCause))
    assert(causeChain(e).exists(tt => tt.getMessage != null &&
      tt.getMessage.contains("no retained version")), s"got $e")
  }

  test("CALL clone branches zero-copy; TIMESTAMP AS OF resolves commit instants") {
    val t = mkTable("t_clsrc", buckets = 4)
    val dir = s"$warehouse/t_clsrc"
    spark.sql(s"INSERT INTO $cat.$t VALUES (1, 'a', 10), (2, 'b', 20)") // v1
    Thread.sleep(5)
    val mid = System.currentTimeMillis()
    Thread.sleep(5)
    spark.sql(s"UPDATE $cat.$t SET amount = 21 WHERE k = 2")            // v2
    spark.sql(s"DROP TABLE IF EXISTS $cat.t_cldst")
    spark.sql(s"CALL $cat.clone(table => 't_clsrc', target => 't_cldst')")
    // clone contents = source's current; then both evolve independently
    assert(rows("t_cldst") === Seq((1L, "a", 10L), (2L, "b", 21L)))
    spark.sql(s"UPDATE $cat.t_cldst SET amount = 0 WHERE k = 1")
    spark.sql(s"DELETE FROM $cat.$t WHERE k = 2")
    assert(rows("t_cldst") === Seq((1L, "a", 0L), (2L, "b", 21L)))
    assert(rows(t) === Seq((1L, "a", 10L)))
    // clone meta is a full copy: merge key, fan-out. History CONTINUES
    // the source's numbering (base = src's v2, first write = v3): file
    // and delete-slice sequence numbers are version numbers, so a clone
    // restarting at 0 would commit deletes with seqs below its carried
    // files and they would silently stop applying.
    val dm = GraftStore.readMeta(s"$warehouse/t_cldst")
    assert(dm.keyCols === Seq("k") && dm.buckets === 4)
    assert(GraftStore.currentVersion(s"$warehouse/t_cldst") === 3L)
    // cloning onto an existing table is rejected
    val e = intercept[Exception] {
      spark.sql(s"CALL $cat.clone(table => 't_clsrc', target => 't_cldst')")
    }
    assert(e.getMessage != null)
    // TIMESTAMP AS OF: the captured instant between v1 and v2 reads v1;
    // a pre-table instant fails loudly
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
      .withZone(java.time.ZoneOffset.UTC)
    val sMid = fmt.format(java.time.Instant.ofEpochMilli(mid))
    assert(spark.sql(
        s"SELECT k, amount FROM $cat.$t TIMESTAMP AS OF '$sMid'")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq ===
      Seq((1L, 10L), (2L, 20L)))
    val early = fmt.format(java.time.Instant.ofEpochMilli(
      GraftStore.committedAt(dir, 0L) - 60000L))
    val e2 = intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.$t TIMESTAMP AS OF '$early'").collect()
    }
    def chain(x: Throwable): Seq[Throwable] =
      Option(x).toSeq.flatMap(tt => tt +: chain(tt.getCause))
    assert(causeChain(e2).exists(tt => tt.getMessage != null &&
      tt.getMessage.contains("no version committed at or before")), s"got $e2")
  }

  test("runtime (join-time) bucket pruning: a filtered dim prunes the fact scan") {
    import spark.implicits._
    val t = mkTable("t_dpp", buckets = 8)
    spark.sql(s"INSERT INTO $cat.$t SELECT id, CAST(id AS STRING), id * 10 " +
      "FROM range(0, 200)")
    spark.sql(s"CALL $cat.optimize(table => 't_dpp', max_files_per_bucket => 0)")
    // the dim must be FILE-backed: a local relation's filter constant-folds
    // away before the pruning rule looks for a selective predicate
    val dimPath = Files.createTempDirectory("graft_dpp_dim").toString + "/dim"
    Seq((7L, "a"), (13L, "a"), (55L, "b"))
      .toDF("k", "grp").write.parquet(dimPath)
    spark.read.parquet(dimPath).createOrReplaceTempView("dpp_dim")
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
      case qs: QueryStageExec => leaves(qs.plan)
      case other => other.collectLeaves().flatMap {
        case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
        case qs: QueryStageExec => leaves(qs.plan)
        case l => Seq(l)
      }
    }
    def scanOf(df: org.apache.spark.sql.DataFrame) = {
      df.collect()
      leaves(df.queryExecution.executedPlan).collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
            if b.toString.contains("GraftScan") => b
      }.get
    }
    val full = fileCount(scanOf(spark.sql(s"SELECT * FROM $cat.$t")))
    // the dim's keys exist only at RUN time (behind a filter) — static
    // bucket derivation can't see them; the DPP runtime filter hands the
    // broadcast side's values to Scan.filter, which admits their buckets
    val q = spark.sql(s"SELECT t.k, t.amount FROM $cat.$t t " +
      "JOIN dpp_dim d ON t.k = d.k WHERE d.grp = 'a'")
    assert(q.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ===
      Set((7L, 70L), (13L, 130L)))
    val factScan = scanOf(q)
    assert(factScan.runtimeFilters.nonEmpty,
      "DPP must plant a runtime filter on the fact scan")
    val pruned = fileCount(factScan)
    assert(full >= 7L, s"expected ~8 compacted files, got $full")
    assert(pruned >= 1L && pruned <= 2L,
      s"runtime filter should admit <=2 of $full bucket files, planned $pruned")
  }

  test("CALL rebucket rewrites the fan-out; pruning, writes and time travel follow") {
    val t = mkTable("t_rebkt", buckets = 4)
    val dir = s"$warehouse/t_rebkt"
    spark.sql(s"INSERT INTO $cat.$t SELECT id, CAST(id AS STRING), id * 10 " +
      "FROM range(0, 64)")
    val before = rows(t)
    val vOld = GraftStore.currentVersion(dir)
    assert(GraftStore.versionBuckets(dir, vOld) === 4)

    val v = spark.sql(s"CALL $cat.rebucket(table => 't_rebkt', buckets => 16)")
      .head().getLong(0)
    assert(v === vOld + 1 && GraftStore.currentVersion(dir) === v)
    // layout: 16 bucket dirs under the new version, marker stamped, meta
    // updated; content identical; NO changelog slice (layout, not content)
    assert(GraftStore.versionBuckets(dir, v) === 16)
    assert(GraftStore.readMeta(dir).buckets === 16)
    assert(rows(t) === before)
    assert(!GraftStore.hasChangelog(dir, v))
    import scala.jdk.CollectionConverters._
    val dirs = Files.list(java.nio.file.Paths.get(GraftStore.versionDir(dir, v)))
      .iterator().asScala.map(_.getFileName.toString)
      .count(_.startsWith(s"${GraftStore.BucketCol}="))
    val expectDirs = spark.sql(
      "SELECT COUNT(DISTINCT pmod(xxhash64(CAST(id AS BIGINT)), 16)) FROM range(0, 64)")
      .head().getLong(0)
    assert(dirs.toLong === expectDirs && dirs > 4,
      s"expected $expectDirs bucket dirs at fan-out 16, got $dirs")
    // time travel reads the OLD layout under its own count
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.$t VERSION AS OF $vOld")
      .head().getLong(0) === 64L)

    // writes route through the NEW fan-out: update a key, then verify the
    // row lands in the bucket its hash maps to at 16
    spark.sql(s"UPDATE $cat.$t SET amount = 0 WHERE k = 7")
    assert(rows(t).find(_._1 == 7L).get._3 === 0L)
    val b16 = spark.sql(s"SELECT pmod(xxhash64(CAST(7 AS BIGINT)), 16)")
      .head().getLong(0).toInt
    val vdir = GraftStore.versionDir(dir, GraftStore.currentVersion(dir))
    assert(Files.isDirectory(
      java.nio.file.Paths.get(vdir, s"${GraftStore.BucketCol}=$b16")))
    // point lookups prune under the new count
    def scanOf(df: org.apache.spark.sql.DataFrame) = {
      df.collect()
      df.queryExecution.executedPlan.collectLeaves().collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }.get
    }
    spark.sql(s"CALL $cat.optimize(table => 't_rebkt', max_files_per_bucket => 0)")
    val full = fileCount(scanOf(spark.sql(s"SELECT * FROM $cat.$t")))
    val point = fileCount(scanOf(
      spark.sql(s"SELECT name FROM $cat.$t WHERE k = 7")))
    assert(point === 1L && full > point,
      s"post-rebucket pruning: point=$point full=$full")
    // same-count rebucket is a no-op (no version bump)
    val cur = GraftStore.currentVersion(dir)
    assert(spark.sql(s"CALL $cat.rebucket(table => 't_rebkt', buckets => 16)")
      .head().getLong(0) === cur)
  }

  test("changes stream fails loudly when its resume point predates the retention horizon") {
    val t = mkTable("t_hzn")
    val dir = s"$warehouse/t_hzn"
    spark.sql(s"INSERT INTO $cat.$t VALUES (1, 'a', 10)")       // v1
    spark.sql(s"UPDATE $cat.$t SET amount = 11 WHERE k = 1")    // v2
    val ckpt = Files.createTempDirectory("graft_hzn_ckpt").toString
    def start() = spark.readStream.table(s"$cat.`t_hzn$$changes`")
      .writeStream.format("noop")
      .option("checkpointLocation", ckpt).start()
    val q1 = start()
    try { q1.processAllAvailable() } finally q1.stop() // checkpoint at v2
    spark.sql(s"INSERT INTO $cat.$t VALUES (2, 'b', 20)")       // v3
    spark.sql(s"INSERT INTO $cat.$t VALUES (3, 'c', 30)")       // v4
    spark.sql(s"CALL $cat.expire_changes('t_hzn', 4)")          // horizon = 4
    val q2 = start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable()
    }
    q2.stop()
    assert(causeChain(e).exists(t => t.getMessage != null &&
      t.getMessage.contains("restart the consumer from a fresh table snapshot")),
      s"expected the horizon error, got $e")
    // a FRESH stream (new checkpoint) starts from the retained horizon
    val ckpt2 = Files.createTempDirectory("graft_hzn_ckpt2").toString
    val seen = new scala.collection.mutable.ArrayBuffer[Long]()
    val q3 = spark.readStream.table(s"$cat.`t_hzn$$changes`")
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val vs = df.select("change_version").collect().map(_.getLong(0))
        seen.synchronized { seen ++= vs }
        ()
      }
      .option("checkpointLocation", ckpt2).start()
    try {
      q3.processAllAvailable()
      assert(seen.toSet === Set(4L), s"fresh stream sees only retained: $seen")
    } finally q3.stop()
  }

  test("optimize target_file_rows: bounded sorted files, zone maps prune within a bucket") {
    val t = mkTable("t_tfr", buckets = 1) // one bucket isolates within-bucket pruning
    val dir = s"$warehouse/t_tfr"
    spark.sql(s"INSERT INTO $cat.$t SELECT id, 'r', id FROM range(0, 1000)")
    spark.sql(s"CALL $cat.optimize(table => 't_tfr', max_files_per_bucket => 0, " +
      "sort_by => 'amount', target_file_rows => 250)")
    // the sorted 1000-row bucket splits into 4 range-disjoint bounded files
    val vdir = GraftStore.versionDir(dir, GraftStore.currentVersion(dir))
    val m = GraftStore.manifestOf(vdir).files
    assert(m.size === 4, s"expected 4 capped files, got ${m.keys}")
    val spans = m.values.flatMap(_.stats.get("amount"))
      .map(cs => (cs.min.get.asInstanceOf[Long], cs.max.get.asInstanceOf[Long]))
      .toSeq.sortBy(_._1)
    assert(spans === Seq((0L, 249L), (250L, 499L), (500L, 749L), (750L, 999L)))
    // a narrow range inside one chunk plans exactly that one file
    val q = spark.sql(s"SELECT k FROM $cat.$t WHERE amount BETWEEN 600 AND 640")
    assert(q.count() === 41)
    assert(fileCount(execScanOf(q)) === 1L)
    assert(rows(t).size === 1000)
  }

  test("t$files lists the current layout with zone-map stats, logical names") {
    val t = mkTable("t_files", buckets = 2)
    spark.sql(s"INSERT INTO $cat.$t SELECT id, 'n', id * 10 FROM range(0, 100)")
    spark.sql(s"ALTER TABLE $cat.$t RENAME COLUMN amount TO cents")
    val rows = spark.sql(s"SELECT file, bucket, size_bytes, column, " +
        s"null_count, row_count, min, max FROM $cat.`t_files$$files`").collect()
    assert(rows.nonEmpty && rows.forall(_.getLong(2) > 0))
    // per-file rows carry the bucket parsed from the path and per-column
    // zone-map endpoints; the renamed column reports its LOGICAL name
    val cols = rows.map(_.getString(3)).toSet
    assert(cols.contains("cents") && !cols.contains("amount"),
      s"renamed column must surface logically, got $cols")
    val centsStats = rows.filter(_.getString(3) == "cents")
    assert(centsStats.map(_.getString(6).toLong).min === 0L)
    assert(centsStats.map(_.getString(7).toLong).max === 990L)
    assert(rows.forall(r => r.getInt(1) == 0 || r.getInt(1) == 1))
    // row_count sums to the table count across any one column's rows
    assert(centsStats.map(_.getLong(5)).sum === 100L)
  }

  test("scan statistics report the exact manifest row count") {
    val t = mkTable("t_stats")
    spark.sql(s"INSERT INTO $cat.$t SELECT id, 'x', id FROM range(0, 137)")
    spark.sql(s"UPDATE $cat.$t SET amount = 0 WHERE k = 3") // CoW re-stats
    def leafStats(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.stats
      }.head
    // unfiltered scan: exact count from the zone-map manifest — Spark's
    // join-size estimation works from real numbers, not byte guesses
    assert(leafStats(spark.table(s"$cat.$t")).rowCount.contains(BigInt(137)))
    // filtered scan (r12): the zone maps bound the matching rows — the
    // sum of rowCounts over files the conjuncts can't prove empty. A
    // broad predicate reports at most the table; a provably-empty one
    // reports zero (which is what flips selective fact joins to
    // broadcast — PlannerStatsSpec)
    val broad = leafStats(spark.table(s"$cat.$t").filter("amount > 5")).rowCount
    assert(broad.exists(n => n > 0 && n <= 137), s"got $broad")
    assert(leafStats(spark.table(s"$cat.$t")
      .filter("amount > 1000000000")).rowCount.contains(BigInt(0)))
  }

  test("optimize zorder_by: files narrow in BOTH dimensions, zone maps prune either") {
    val t = mkTable("t_zord", buckets = 1)
    // transposed 64x64 grid: k-order and amount-order are orthogonal, so a
    // single-column sort can only serve its own column
    spark.sql(s"INSERT INTO $cat.$t SELECT id, 'g', " +
      "(id % 64) * 64 + CAST(id / 64 AS BIGINT) FROM range(0, 4096)")
    spark.sql(s"CALL $cat.optimize(table => 't_zord', max_files_per_bucket => 0, " +
      "zorder_by => 'k,amount', target_file_rows => 256)")
    val full = fileCount(execScanOf(spark.sql(s"SELECT k FROM $cat.$t")))
    assert(full === 16, s"expected 16 capped files, got $full")
    // selective predicates on EITHER dimension prune files
    val kQ = spark.sql(s"SELECT k, amount FROM $cat.$t WHERE k BETWEEN 100 AND 160")
    assert(kQ.count() === 61)
    val kFiles = fileCount(execScanOf(kQ))
    val aQ = spark.sql(s"SELECT k, amount FROM $cat.$t WHERE amount BETWEEN 100 AND 160")
    assert(aQ.count() === 61)
    val aFiles = fileCount(execScanOf(aQ))
    assert(kFiles < full && aFiles < full,
      s"z-order must prune both dims: k=$kFiles amount=$aFiles of $full")
    assert(rows(t).size === 4096)
  }

  test("zone maps: value-clustered commits prune files at plan time") {
    val t = mkTable("t_zone", buckets = 2)
    val dir = s"$warehouse/t_zone"
    // four ingest commits, each covering a disjoint amount range — the
    // natural shape of time-ordered ingestion (file min/max cluster to
    // the commit's window)
    (0 until 4).foreach { i =>
      spark.sql(s"INSERT INTO $cat.$t SELECT id, 'g$i', id " +
        s"FROM range(${i * 1000}, ${i * 1000 + 100})")
    }
    val vdir = GraftStore.versionDir(dir, GraftStore.currentVersion(dir))
    val manifest = GraftStore.manifestOf(vdir).files.filter(_._2.stats.nonEmpty)
    assert(manifest.nonEmpty, "commit must write a stats manifest")
    val full = fileCount(execScanOf(
      spark.sql(s"SELECT * FROM $cat.$t")))
    // a range predicate covering only the LAST commit's window must plan
    // only that commit's files
    val lastQ = spark.sql(s"SELECT k, amount FROM $cat.$t WHERE amount >= 3000")
    assert(lastQ.count() === 100)
    val lastFiles = fileCount(execScanOf(lastQ))
    assert(lastFiles < full && lastFiles > 0,
      s"range scan planned $lastFiles of $full files — zone maps not pruning")
    // an equality inside one mid-window commit prunes at least as hard
    val midQ = spark.sql(s"SELECT k, amount FROM $cat.$t WHERE amount = 1050")
    assert(midQ.count() === 1)
    assert(fileCount(execScanOf(midQ)) <= lastFiles)
    // a predicate matching NOTHING plans zero files
    val noneQ = spark.sql(s"SELECT k FROM $cat.$t WHERE amount > 100000")
    assert(noneQ.count() === 0)
    assert(fileCount(execScanOf(noneQ)) === 0L)
    // CoW keeps manifests honest: update one row far outside its old
    // range — the rewritten bucket re-reads footers, the filter finds it
    spark.sql(s"UPDATE $cat.$t SET amount = 99999 WHERE k = 5")
    val afterQ = spark.sql(s"SELECT k, amount FROM $cat.$t WHERE amount > 50000")
    assert(afterQ.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((5L, 99999L)))
    // string predicates prune too (byte-ordered min/max)
    val strQ = spark.sql(s"SELECT k FROM $cat.$t WHERE name = 'g3'")
    assert(strQ.count() === 100)
    assert(fileCount(execScanOf(strQ)) < fileCount(execScanOf(
      spark.sql(s"SELECT k FROM $cat.$t"))))
  }

  test("readStream.table on the base table: snapshot batch, append tail, op contract") {
    val t = mkTable("t_tstream")
    spark.sql(s"INSERT INTO $cat.$t VALUES (1, 'a', 10), (2, 'b', 20)") // v1
    spark.sql(s"INSERT INTO $cat.$t VALUES (3, 'c', 30)")               // v2
    val ckpt = Files.createTempDirectory("graft_ts_ckpt").toString
    val batches = new scala.collection.mutable.ArrayBuffer[(Long, Set[Long])]()
    def start(extra: Map[String, String] = Map.empty) = {
      var r = spark.readStream
      extra.foreach { case (k, v) => r = r.option(k, v) }
      r.table(s"$cat.$t").writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
          val ks = df.select("k").collect().map(_.getLong(0)).toSet
          if (ks.nonEmpty) batches.synchronized { batches += ((id, ks)) }
          ()
        }
        .option("checkpointLocation", ckpt).start()
    }
    val q1 = start()
    try {
      q1.processAllAvailable()
      // first batch = full snapshot of the current version
      assert(batches.map(_._2) === Seq(Set(1L, 2L, 3L)),
        s"snapshot batch must carry the whole table, got $batches")
      // appends stream incrementally — only the new rows
      spark.sql(s"INSERT INTO $cat.$t VALUES (4, 'd', 40)")             // v3
      q1.processAllAvailable()
      assert(batches.last._2 === Set(4L), s"tail batch must be the append: $batches")
    } finally q1.stop()
    // an UPDATE in the tail fails the resumed stream by default...
    spark.sql(s"UPDATE $cat.$t SET amount = 99 WHERE k = 1")            // v4
    val q2 = start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable()
    }
    q2.stop()
    assert(causeChain(e).exists(t => t.getMessage != null &&
      t.getMessage.contains("ignoreChanges")), s"expected the update error, got $e")
    // ...and streams the after-image under ignoreChanges (deletes skipped)
    spark.sql(s"DELETE FROM $cat.$t WHERE k = 2")                       // v5
    batches.synchronized { batches.clear() }
    val q3 = start(Map("ignoreChanges" -> "true"))
    try {
      q3.processAllAvailable()
      assert(batches.map(_._2).reduce(_ ++ _) === Set(1L),
        s"update after-image in, delete skipped: $batches")
    } finally q3.stop()
    // skipChangeCommits supersedes both: a fresh stream skips the UPDATE
    // and DELETE versions WHOLE (classified from change_op footer stats)
    // and streams only the pure-append commits
    batches.synchronized { batches.clear() }
    val ckptS = Files.createTempDirectory("graft_ts_ckpt_scc").toString
    val qs = spark.readStream.option("skipChangeCommits", "true")
      .table(s"$cat.$t").writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        val ks = df.select("k").collect().map(_.getLong(0)).toSet
        if (ks.nonEmpty) batches.synchronized { batches += ((id, ks)) }
        ()
      }
      .option("checkpointLocation", ckptS).start()
    try {
      qs.processAllAvailable() // snapshot of current state
      spark.sql(s"UPDATE $cat.$t SET amount = 77 WHERE k = 3")          // change commit
      spark.sql(s"INSERT INTO $cat.$t VALUES (9, 'i', 90)")             // append
      qs.processAllAvailable()
      val post = batches.toSeq.drop(1).map(_._2)
      assert(post.flatten.toSet === Set(9L),
        s"skipChangeCommits must drop the UPDATE commit whole, stream the append: $batches")
    } finally qs.stop()
    spark.sql(s"DELETE FROM $cat.$t WHERE k = 9") // restore pre-test state shape
    // a restore is a snapshot boundary: the resumed stream fails loudly
    spark.sql(s"CALL $cat.restore(table => 't_tstream', version => 2)") // v6
    val q4 = start(Map("ignoreChanges" -> "true"))
    val e2 = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q4.processAllAvailable()
    }
    q4.stop()
    assert(causeChain(e2).exists(t => t.getMessage != null &&
      t.getMessage.contains("snapshot boundary")), s"expected boundary error, got $e2")
    // a FRESH checkpoint re-snapshots: one batch, post-restore contents
    batches.synchronized { batches.clear() }
    val ckpt2 = Files.createTempDirectory("graft_ts_ckpt2").toString
    val q5 = spark.readStream.table(s"$cat.$t").writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        val ks = df.select("k").collect().map(_.getLong(0)).toSet
        if (ks.nonEmpty) batches.synchronized { batches += ((id, ks)) }
        ()
      }
      .option("checkpointLocation", ckpt2).start()
    try {
      q5.processAllAvailable()
      assert(batches.map(_._2) === Seq(Set(1L, 2L, 3L)),
        s"fresh stream re-snapshots the restored contents: $batches")
    } finally q5.stop()
  }

  test("changes stream fails loudly across a restore; fresh stream starts past it") {
    val t = mkTable("t_bdy")
    spark.sql(s"INSERT INTO $cat.$t VALUES (1, 'a', 10)")       // v1
    spark.sql(s"INSERT INTO $cat.$t VALUES (2, 'b', 20)")       // v2
    val ckpt = Files.createTempDirectory("graft_bdy_ckpt").toString
    def start(cp: String) = spark.readStream.table(s"$cat.`t_bdy$$changes`")
      .writeStream.format("noop").option("checkpointLocation", cp).start()
    val q1 = start(ckpt)
    try { q1.processAllAvailable() } finally q1.stop() // checkpoint at v2
    // a restore lands while the consumer is down: v3 has NO changelog
    // slice, and folding (v2 → v4] over the checkpointed state would
    // resurrect the undone v2 insert — the resume must fail loudly
    spark.sql(s"CALL $cat.restore(table => 't_bdy', version => 1)") // v3
    spark.sql(s"INSERT INTO $cat.$t VALUES (3, 'c', 30)")       // v4
    // the boundary surfaces in t$versions for operators planning resumes
    assert(spark.sql(s"SELECT version FROM $cat.`t_bdy$$versions` " +
        "WHERE is_boundary ORDER BY version")
      .collect().map(_.getLong(0)).toSeq === Seq(3L))
    val q2 = start(ckpt)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable()
    }
    q2.stop()
    assert(causeChain(e).exists(t => t.getMessage != null &&
      t.getMessage.contains("snapshot boundary")),
      s"expected the boundary error, got $e")
    // a FRESH stream starts at the boundary: only post-restore commits flow
    val ckpt2 = Files.createTempDirectory("graft_bdy_ckpt2").toString
    val seen = new scala.collection.mutable.ArrayBuffer[Long]()
    val q3 = spark.readStream.table(s"$cat.`t_bdy$$changes`")
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val vs = df.select("change_version").collect().map(_.getLong(0))
        seen.synchronized { seen ++= vs }
        ()
      }
      .option("checkpointLocation", ckpt2).start()
    try {
      q3.processAllAvailable()
      assert(seen.toSet === Set(4L), s"fresh stream must start past the boundary: $seen")
    } finally q3.stop()
  }

  test("ALTER ADD COLUMN during a live changes stream: old schema until restart") {
    val t = mkTable("t_ddlstream")
    spark.sql(s"INSERT INTO $cat.$t VALUES (1, 'a', 10)")       // v1
    val ckpt = Files.createTempDirectory("graft_ddls_ckpt").toString
    val schemas = new scala.collection.mutable.ArrayBuffer[Seq[String]]()
    def start() = spark.readStream.table(s"$cat.`t_ddlstream$$changes`")
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!df.isEmpty) schemas.synchronized {
          schemas += df.schema.fieldNames.toSeq
        }
        ()
      }
      .option("checkpointLocation", ckpt).start()
    val q1 = start()
    try {
      q1.processAllAvailable()
      // DDL lands while the stream is live; the stream KEEPS the schema it
      // started with (meta pinned at stream construction) — post-ALTER
      // batches flow, minus the new column (it reads as absent, exactly
      // like pre-ALTER history null-fills on the batch path)
      spark.sql(s"ALTER TABLE $cat.$t ADD COLUMNS (extra STRING)")
      spark.sql(s"INSERT INTO $cat.$t (k, name, amount, extra) " +
        "VALUES (2, 'b', 20, 'x')")                             // v2
      q1.processAllAvailable()
      assert(schemas.nonEmpty && schemas.forall(!_.contains("extra")),
        s"live stream must keep its pinned schema, saw $schemas")
    } finally q1.stop()
    // a RESTART re-reads meta: the same checkpoint resumes with the new
    // schema, and new commits carry the added column
    schemas.synchronized { schemas.clear() }
    val q2 = start()
    try {
      spark.sql(s"INSERT INTO $cat.$t (k, name, amount, extra) " +
        "VALUES (3, 'c', 30, 'y')")                             // v3
      q2.processAllAvailable()
      assert(schemas.nonEmpty && schemas.forall(_.contains("extra")),
        s"restarted stream must pick up the evolved schema, saw $schemas")
    } finally q2.stop()
  }

  test("stale meta lock is broken by atomic takeover; holder's release can't clobber it") {
    val t = mkTable("t_mlock")
    val dir = s"$warehouse/t_mlock"
    // a crashed ALTER's lock: present and old — the next ALTER must break
    // it by rename (one winner) and proceed
    val lock = java.nio.file.Paths.get(dir, "_meta_lock")
    Files.write(lock, "dead-holder-token".getBytes("UTF-8"))
    Files.setLastModifiedTime(lock,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 120000L))
    spark.sql(s"ALTER TABLE $cat.$t ADD COLUMNS (extra STRING)")
    assert(GraftStore.readMeta(dir).schema.fieldNames.contains("extra"))
    assert(!Files.exists(lock), "winner must release its own lock")
    // token-guarded release + takeover races are pinned in GraftDeltaSpec
    // (package-private surface)
  }
}
