package graft

import java.nio.file.Files

import graft.sources.{GraftCatalog, GraftStore}

/** Merge-on-read × PARTITIONED BY composition (the r12 scope bound,
  * lifted): a `merge_mode='mor'` table with a partition transform commits
  * row-level deltas as after-images (landing in their partition dirs) plus
  * BUCKET-scoped equality-delete slices. The slices are deliberately NOT
  * partition-scoped — an UPDATE that moves a row between partitions
  * cannot know the old partition value without reading the base (which
  * mor exists to avoid), so a delete entry must suppress the key's older
  * rows in EVERY partition; partition pruning stays sound because delete
  * application only ever removes rows. Every behavioral test runs the
  * same DML against a copy-on-write twin and asserts identical results. */
class PartitionedMorSpec extends SparkTestBase {

  private lazy val cat = "graftpmor"
  private lazy val warehouse: String = {
    val p = Files.createTempDirectory("graft_pmor_spec")
    p.toFile.deleteOnExit()
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", p.toString)
    p.toString
  }

  private def mkDays(name: String, mode: String, buckets: Int = 4): String = {
    warehouse
    spark.sql(s"DROP TABLE IF EXISTS $cat.$name")
    spark.sql(s"""CREATE TABLE $cat.$name
      (k BIGINT NOT NULL, ts TIMESTAMP, amount BIGINT) USING graft
      PARTITIONED BY (days(ts))
      TBLPROPERTIES ('merge_key'='k', 'buckets'='$buckets',
        'merge_mode'='$mode')""")
    name
  }

  /** 3 distinct days (2024-03-01..03 = epoch days 19783..85) × 8 keys. */
  private def seedDays(t: String): Unit =
    spark.sql(s"""INSERT INTO $cat.$t
      SELECT id AS k,
        timestamp'2024-03-01 00:00:00' + make_interval(0,0,0, CAST(id / 8 AS INT), 0,0,0) AS ts,
        id * 10 AS amount
      FROM range(0, 24)""")

  private def dir(name: String) = s"$warehouse/$name"
  private def curVdir(name: String) =
    GraftStore.versionDir(dir(name), GraftStore.currentVersion(dir(name)))

  private def rows(name: String): Seq[(Long, Long)] =
    spark.sql(s"SELECT k, amount FROM $cat.$name ORDER BY k")
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))

  /** Same statements against a mor and a cow twin → identical contents. */
  private def twinCheck(base: String, stmts: Seq[String]): (String, String) = {
    val m = mkDays(s"${base}_mor", "mor")
    val c = mkDays(s"${base}_cow", "cow")
    seedDays(m); seedDays(c)
    stmts.foreach { s =>
      spark.sql(s.format(s"$cat.$m"))
      spark.sql(s.format(s"$cat.$c"))
    }
    assert(rows(m) === rows(c),
      "partitioned mor table diverged from its cow twin")
    (m, c)
  }


  test("partitioned mor DML matches the cow twin; slices live, base files carried") {
    val (m, _) = twinCheck("t_dml", Seq(
      "DELETE FROM %s WHERE k %% 7 = 3",
      "UPDATE %s SET amount = amount + 1 WHERE k %% 5 = 0",
      """MERGE INTO %s t USING (SELECT id AS k,
          timestamp'2024-03-02 12:00:00' AS ts, id AS amount
          FROM range(20, 30)) s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET amount = s.amount
        WHEN NOT MATCHED THEN INSERT (k, ts, amount) VALUES (s.k, s.ts, s.amount)"""))
    assert(GraftStore.hasLiveDv(curVdir(m)),
      "partitioned mor deltas should leave live delete slices")
    // after-images land under their partition dirs; slices stay bucket-scoped
    val slots = GraftStore.ownersOf(dir(m), GraftStore.currentVersion(dir(m))).keySet
    assert(slots.forall(_.matches("gpart=\\d+/gbucket=\\d+")), s"got $slots")
  }

  test("mor delta carries base files; after-images land in partition dirs") {
    val m = mkDays("t_carry", "mor")
    seedDays(m)
    val v1 = GraftStore.currentVersion(dir(m))
    val before = GraftStore.snapshotFiles(dir(m), v1).toSet
    spark.sql(s"UPDATE $cat.$m SET amount = 0 WHERE k % 4 = 1")
    val v2 = GraftStore.currentVersion(dir(m))
    val after = GraftStore.snapshotFiles(dir(m), v2).toSet
    assert(before.subsetOf(after),
      "every pre-delta file must stay live in the partitioned mor version")
    assert((after -- before).forall(f =>
      f.contains(f"/v$v2%010d/") && f.matches(".*?/gpart=\\d+/gbucket=\\d+/[^/]+$")),
      s"after-images must land under gpart=/gbucket= dirs of v$v2: ${after -- before}")
  }

  test("readVersion by bucket and the slot-restricted optimize equal the " +
      "catalog read of a DV-live table") {
    warehouse
    val m = "t_readv"
    spark.sql(s"DROP TABLE IF EXISTS $cat.$m")
    spark.sql(s"""CREATE TABLE $cat.$m
      (k DOUBLE NOT NULL, ts TIMESTAMP, amount BIGINT) USING graft
      PARTITIONED BY (days(ts))
      TBLPROPERTIES ('merge_key'='k', 'buckets'='4', 'merge_mode'='mor')""")
    // 3 days × 8 keys; key 0 is written as -0.0
    spark.sql(s"""INSERT INTO $cat.$m
      SELECT CASE WHEN id = 0 THEN -0.0D ELSE CAST(id AS DOUBLE) END AS k,
        timestamp'2024-03-01 00:00:00' + make_interval(0,0,0, CAST(id / 8 AS INT), 0,0,0) AS ts,
        id * 10 AS amount
      FROM range(0, 24)""")
    // key 0 is matched and rewritten as +0.0 on another day; key 13 is
    // deleted, then re-inserted on another day
    spark.sql(s"""MERGE INTO $cat.$m t USING (SELECT 0.0D AS k,
        timestamp'2024-03-03 01:00:00' AS ts, 7L AS amount) s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET k = s.k, ts = s.ts, amount = s.amount""")
    spark.sql(s"DELETE FROM $cat.$m WHERE k = 13")
    spark.sql(s"INSERT INTO $cat.$m VALUES " +
      "(13, timestamp'2024-03-01 05:00:00', 1300)")
    val d = dir(m)
    val cur = GraftStore.currentVersion(d)
    val dvB = GraftStore.dvBuckets(curVdir(m))
    assert(dvB.nonEmpty && dvB.size < 4, s"delete slices in buckets $dvB")

    def sorted(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select("k", "ts", "amount").collect().map(_.toString).toSeq.sorted
    val catalog = sorted(spark.table(s"$cat.$m"))
    assert(catalog.size === 24)
    assert(catalog.filter(_.startsWith("[0.0,")) ===
      Seq("[0.0,2024-03-03 01:00:00.0,7]"))
    assert(!catalog.exists(_.startsWith("[-0.0,")))
    assert(catalog.filter(_.startsWith("[13.0,")) ===
      Seq("[13.0,2024-03-01 05:00:00.0,1300]"))

    // each bucket's restricted read holds only that bucket, prunes at the
    // file index, and together they are the catalog read
    val full = filesPlanned(GraftStore.readVersion(spark, d, cur))
    val byBucket = (0 until 4).map { b =>
      val df = GraftStore.readVersion(spark, d, cur, Some(Set(b)))
      assert(df.filter(df(GraftStore.BucketCol) =!= b).isEmpty)
      assert(filesPlanned(df) < full, s"bucket $b read was not pruned")
      sorted(df)
    }
    assert(byBucket.flatten.sorted === catalog)

    // optimize rewrites only the slots of the DV-carrying buckets and
    // carries the rest; the rewritten table reads the same rows
    spark.sql(s"CALL $cat.optimize(`table` => '$m')")
    val next = GraftStore.currentVersion(d)
    assert(next === cur + 1)
    assert(!GraftStore.hasLiveDv(curVdir(m)))
    val owners = GraftStore.ownersOf(d, next)
    val (rewritten, carried) =
      owners.partition { case (_, os) => os == Seq(next) }
    assert(rewritten.keySet.map(GraftStore.slotBucket) === dvB)
    assert(carried.nonEmpty &&
      carried.keySet.forall(s => !dvB.contains(GraftStore.slotBucket(s))))
    assert(sorted(spark.table(s"$cat.$m")) === catalog)
    assert(sorted(GraftStore.readVersion(spark, d, next)) === catalog)
  }

  test("partition pruning composes with live delete slices") {
    val m = mkDays("t_prune", "mor")
    seedDays(m)
    // delete keys across ALL days — DV slices live during the pruned scans
    spark.sql(s"DELETE FROM $cat.$m WHERE k % 8 = 2")
    assert(GraftStore.hasLiveDv(curVdir(m)))
    val full = filesPlanned(spark.sql(s"SELECT k FROM $cat.$m"))
    val day2 = spark.sql(s"SELECT k FROM $cat.$m WHERE " +
      "ts >= timestamp'2024-03-02 00:00:00' AND ts < timestamp'2024-03-03 00:00:00'")
    val oneDay = filesPlanned(day2)
    assert(oneDay > 0 && oneDay < full,
      s"one-day scan should plan fewer files than full: $oneDay vs $full")
    // deleted keys of that day (10, 18 ≡ 2 mod 8) must not resurrect
    assert(day2.collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(8L, 9L, 11L, 12L, 13L, 14L, 15L))
    // point lookup: bucket pruning ∩ partition pruning, delete applied
    assert(spark.sql(s"SELECT * FROM $cat.$m WHERE k = 10 AND " +
      "ts >= timestamp'2024-03-02 00:00:00'").count() === 0L)
  }

  test("partition-moving UPDATE: new partition gains the row, old loses it") {
    val (m, _) = twinCheck("t_move", Seq(
      // move two day-1 rows to day 3 (ts is the partition source column)
      "UPDATE %s SET ts = timestamp'2024-03-03 06:00:00' WHERE k IN (1, 2)"))
    val day1 = spark.sql(s"SELECT k FROM $cat.$m WHERE " +
      "ts < timestamp'2024-03-02 00:00:00'").collect().map(_.getLong(0)).toSet
    assert(!day1.contains(1L) && !day1.contains(2L),
      "moved rows must leave the old partition")
    val day3 = spark.sql(s"SELECT k FROM $cat.$m WHERE " +
      "ts >= timestamp'2024-03-03 00:00:00'").collect().map(_.getLong(0)).toSet
    assert(day3.contains(1L) && day3.contains(2L))
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.$m").head().getLong(0) === 24L)
  }

  test("expire_partitions carries live delete slices; deletes keep applying") {
    val m = mkDays("t_exp", "mor")
    seedDays(m)
    // mor deletes hitting day-2 and day-3 keys (k=9, 17 in days 2, 3)
    spark.sql(s"DELETE FROM $cat.$m WHERE k IN (9, 17)")
    val preVersion = GraftStore.currentVersion(dir(m))
    assert(GraftStore.hasLiveDv(curVdir(m)))
    // drop day 1 (epoch day 19783) — a metadata-only boundary commit
    spark.sql(s"CALL $cat.expire_partitions(`table` => '$m', below => '19784')")
    assert(GraftStore.hasLiveDv(curVdir(m)),
      "expire_partitions must carry live delete slices " +
        "(dropping them resurrects deleted rows in kept partitions)")
    val got = rows(m).map(_._1)
    assert(got === ((8L until 24L).filterNot(k => k == 9L || k == 17L)),
      s"kept partitions must still apply the carried deletes: $got")
    // time travel to the pre-expire version applies the same slices
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.$m VERSION AS OF $preVersion")
      .head().getLong(0) === 22L)
  }

  test("OPTIMIZE clears slices on a partitioned mor table; layout keeps gpart dirs") {
    val m = mkDays("t_opt", "mor")
    seedDays(m)
    spark.sql(s"DELETE FROM $cat.$m WHERE k % 3 = 0")
    spark.sql(s"UPDATE $cat.$m SET amount = -1 WHERE k % 11 = 1")
    val before = rows(m)
    assert(GraftStore.hasLiveDv(curVdir(m)))
    spark.sql(s"CALL $cat.optimize(`table` => '$m')")
    assert(!GraftStore.hasLiveDv(curVdir(m)))
    assert(rows(m) === before)
    val slots = GraftStore.ownersOf(dir(m), GraftStore.currentVersion(dir(m))).keySet
    assert(slots.forall(_.matches("gpart=\\d+/gbucket=\\d+")),
      s"compaction must preserve the partition-above-bucket layout: $slots")
  }

  test("delete-set cap escalates to a partitioned copy-on-write rewrite") {
    val prev = sys.props.get("graft.store.morMaxLiveDeletes")
    sys.props("graft.store.morMaxLiveDeletes") = "3"
    try {
      val m = mkDays("t_cap", "mor")
      seedDays(m)
      spark.sql(s"DELETE FROM $cat.$m WHERE k IN (1, 2)") // 2 <= 3: mor
      assert(GraftStore.hasLiveDv(curVdir(m)))
      spark.sql(s"DELETE FROM $cat.$m WHERE k >= 16") // over cap: escalate
      assert(!GraftStore.hasLiveDv(curVdir(m)),
        "over-cap commit must clear every slice via the cow rewrite")
      assert(spark.sql(s"SELECT COUNT(*) FROM $cat.$m").head().getLong(0) === 14L)
      val slots = GraftStore.ownersOf(dir(m), GraftStore.currentVersion(dir(m))).keySet
      assert(slots.forall(_.matches("gpart=\\d+/gbucket=\\d+")), s"got $slots")
    } finally prev match {
      case Some(v) => sys.props("graft.store.morMaxLiveDeletes") = v
      case None => sys.props.remove("graft.store.morMaxLiveDeletes")
    }
  }

  test("ALTER TABLE flips merge_mode on a partitioned table (both directions)") {
    val m = mkDays("t_flip", "cow")
    seedDays(m)
    spark.sql(s"ALTER TABLE $cat.$m SET TBLPROPERTIES('merge_mode'='mor')")
    spark.sql(s"DELETE FROM $cat.$m WHERE k = 2")
    assert(GraftStore.hasLiveDv(curVdir(m)))
    spark.sql(s"ALTER TABLE $cat.$m SET TBLPROPERTIES('merge_mode'='cow')")
    // the cow delta rewrite applies its buckets' slices and carries the rest
    spark.sql(s"DELETE FROM $cat.$m WHERE k = 3")
    assert(rows(m).map(_._1).take(4) === Seq(0L, 1L, 4L, 5L))
  }

  test("changelog (CDC) is identical across merge modes on partitioned tables") {
    val (m, c) = twinCheck("t_cdc", Seq(
      "DELETE FROM %s WHERE k %% 4 = 2",
      "UPDATE %s SET amount = amount * 2 WHERE k < 10"))
    def changes(t: String) = spark.sql(
      s"""SELECT change_version - (SELECT min(change_version)
           FROM $cat.`$t$$changes`) AS rel_v,
          change_op, k, amount, change_before.k AS bk,
          change_before.amount AS bamount
          FROM $cat.`$t$$changes` ORDER BY rel_v, change_op, k""").collect().toSeq
    assert(changes(m) === changes(c))
  }

  test("streaming upsert into a partitioned mor table: slices written, rows land in their partitions") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val m = mkDays("t_up", "mor")
    seedDays(m)
    val baseFiles =
      GraftStore.snapshotFiles(dir(m), GraftStore.currentVersion(dir(m))).toSet
    val ckpt = Files.createTempDirectory("graft_pmor_upsert_ckpt").toString
    val in = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val q = in.toDS().toDF("k", "ts", "amount")
      .writeStream.option("checkpointLocation", ckpt)
      .option("upsert", "true").toTable(s"$cat.$m")
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    try {
      // epoch 1: update key 1 (moves it to day 3) + fresh key 50 on day 2
      in.addData((1L, ts("2024-03-03 08:00:00"), 111L),
        (50L, ts("2024-03-02 09:00:00"), 500L))
      q.processAllAvailable()
    } finally q.stop()
    assert(GraftStore.hasLiveDv(curVdir(m)),
      "a partitioned upsert epoch must take the merge-on-read path")
    assert(baseFiles.subsetOf(
      GraftStore.snapshotFiles(dir(m), GraftStore.currentVersion(dir(m))).toSet))
    // the moved key reads from its NEW partition only; count stable + 1
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.$m").head().getLong(0) === 25L)
    val day3 = spark.sql(s"SELECT k, amount FROM $cat.$m WHERE " +
      "ts >= timestamp'2024-03-03 00:00:00'").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(day3.get(1L) === Some(111L))
    assert(spark.sql(s"SELECT k FROM $cat.$m WHERE " +
      "ts < timestamp'2024-03-02 00:00:00'").collect()
      .map(_.getLong(0)).toSet.contains(1L) === false)
  }

  test("OPTIMIZE clears orphaned slices after expire_partitions emptied their buckets") {
    // found by fuzz_dml seed 777: expire every partition a DV-carrying
    // bucket had files in → no fragmented slot exists, but the orphaned
    // slices must still be folded away or the table stays in mor-scan
    // mode (probe + withheld stats) forever
    val m = mkDays("t_orphan", "mor")
    seedDays(m)
    spark.sql(s"DELETE FROM $cat.$m WHERE k IN (3, 11)") // slices live
    assert(GraftStore.hasLiveDv(curVdir(m)))
    // drop EVERY partition (bound above the last day, epoch day 19785)
    spark.sql(s"CALL $cat.expire_partitions(`table` => '$m', below => '19790')")
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.$m").head().getLong(0) === 0L)
    assert(GraftStore.hasLiveDv(curVdir(m)), "slices carry across expire")
    val pre = GraftStore.currentVersion(dir(m))
    spark.sql(s"CALL $cat.optimize(`table` => '$m', max_files_per_bucket => 0)")
    assert(GraftStore.currentVersion(dir(m)) === pre + 1,
      "the clearing commit must run even with nothing to rewrite")
    assert(!GraftStore.hasLiveDv(curVdir(m)),
      "orphaned delete slices must not survive optimize")
    // and the table keeps working
    spark.sql(s"INSERT INTO $cat.$m VALUES (1, timestamp'2024-03-05 00:00:00', 7)")
    assert(rows(m) === Seq((1L, 7L)))
  }

  test("RENAME of the partition source column: pruning follows the new name, deletes still apply") {
    val m = mkDays("t_ren", "mor")
    seedDays(m)
    spark.sql(s"DELETE FROM $cat.$m WHERE k % 6 = 2") // DV slices live
    spark.sql(s"ALTER TABLE $cat.$m RENAME COLUMN ts TO event_ts")
    // partition pruning derives from the NEW logical name (the partition
    // meta stores the physical name; the derivation maps it back)
    val full = filesPlanned(spark.sql(s"SELECT k FROM $cat.$m"))
    val day2 = spark.sql(s"SELECT k FROM $cat.$m WHERE " +
      "event_ts >= timestamp'2024-03-02 00:00:00' AND " +
      "event_ts < timestamp'2024-03-03 00:00:00'")
    val oneDay = filesPlanned(day2)
    assert(oneDay > 0 && oneDay < full,
      s"pruning must follow the renamed column: $oneDay vs $full")
    // deleted keys of that day (8, 14 ≡ 2 mod 6) stay deleted post-rename
    assert(day2.collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(9L, 10L, 11L, 12L, 13L, 15L))
  }

  test("DPP runtime bucket pruning composes with partition dirs and live slices") {
    import spark.implicits._
    val m = mkDays("t_dpp", "mor")
    seedDays(m)
    spark.sql(s"DELETE FROM $cat.$m WHERE k IN (5, 9)") // slices live
    assert(GraftStore.hasLiveDv(curVdir(m)))
    val dimPath = Files.createTempDirectory("graft_pmor_dpp").toString + "/dim"
    Seq((4L, "a"), (9L, "a"), (20L, "b")).toDF("k", "grp")
      .write.parquet(dimPath)
    spark.read.parquet(dimPath).createOrReplaceTempView("pmor_dpp_dim")
    val q = spark.sql(s"SELECT t.k, t.amount FROM $cat.$m t " +
      "JOIN pmor_dpp_dim d ON t.k = d.k WHERE d.grp = 'a'")
    // the deleted key (9) must not resurrect through the join; the
    // surviving key reads its live row from its partition dir
    assert(q.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ===
      Set((4L, 40L)))
    // and the runtime filter narrows the planned files below a full scan
    val full = filesPlanned(spark.sql(s"SELECT k, amount FROM $cat.$m"))
    val pruned = filesPlanned(spark.sql(s"SELECT t.k, t.amount FROM $cat.$m t " +
      "JOIN pmor_dpp_dim d ON t.k = d.k WHERE d.grp = 'a'"))
    assert(pruned < full,
      s"DPP should narrow the partitioned DV-live scan: $pruned vs $full")
  }

  test("streaming table read snapshots a partitioned DV-live version") {
    val m = mkDays("t_stream", "mor")
    seedDays(m)
    spark.sql(s"DELETE FROM $cat.$m WHERE k >= 20")
    val q = spark.readStream.table(s"$cat.$m")
      .writeStream.format("memory").queryName("pmor_stream_snap")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination(60000) finally q.stop()
    val got = spark.sql("SELECT k FROM pmor_stream_snap ORDER BY k")
      .collect().map(_.getLong(0)).toSeq
    assert(got === (0L until 20L))
  }
}
