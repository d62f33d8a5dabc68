package graft.sources

import java.nio.file.{Files, Paths}

import graft.SparkTestBase

/** Merge-on-read (merge_mode = 'mor') contract: row-level deltas write
  * after-images + equality-delete slices instead of rewriting touched
  * buckets; scans (batch, pruned, streamed, time-traveled) apply the
  * slices; OPTIMIZE compacts them away; the write-side cap escalates to
  * copy-on-write. Every behavioral test runs the same DML against a
  * copy-on-write twin and asserts identical results. */
class MorSpec extends SparkTestBase {

  private lazy val cat = "morspec"
  private lazy val warehouse: String = {
    val p = Files.createTempDirectory("graft_mor_spec")
    p.toFile.deleteOnExit()
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", p.toString)
    p.toString
  }

  private def mkTable(name: String, mode: String, buckets: Int = 8): String = {
    warehouse
    spark.sql(s"DROP TABLE IF EXISTS $cat.$name")
    spark.sql(s"""CREATE TABLE $cat.$name
      (k BIGINT NOT NULL, name STRING, amount BIGINT) USING graft
      TBLPROPERTIES ('merge_key'='k', 'buckets'='$buckets',
        'merge_mode'='$mode')""")
    name
  }

  private def dir(name: String) = s"$warehouse/$name"
  private def curVdir(name: String) =
    GraftStore.versionDir(dir(name), GraftStore.currentVersion(dir(name)))

  private def rows(name: String): Seq[(Long, String, Long)] =
    spark.sql(s"SELECT k, name, amount FROM $cat.$name ORDER BY k")
      .collect().toSeq.map(r => (r.getLong(0), r.getString(1), r.getLong(2)))

  private def seed(name: String, n: Int = 200): Unit =
    spark.sql(s"INSERT INTO $cat.$name " +
      s"SELECT id, concat('n', id), id * 10 FROM range(0, $n)")

  /** Run the same statement template (with %s for the table ref) against a
    * mor and a cow table, assert identical final contents. */
  private def twinCheck(base: String, stmts: Seq[String], n: Int = 200)
      : (String, String) = {
    val m = mkTable(s"${base}_mor", "mor")
    val c = mkTable(s"${base}_cow", "cow")
    seed(m, n); seed(c, n)
    stmts.foreach { s =>
      spark.sql(s.format(s"$cat.$m"))
      spark.sql(s.format(s"$cat.$c"))
    }
    assert(rows(m) === rows(c), "mor table diverged from its cow twin")
    (m, c)
  }

  test("mor DELETE/UPDATE/MERGE match the cow twin and write delete slices") {
    val (m, _) = twinCheck("t_dml", Seq(
      "DELETE FROM %s WHERE k %% 7 = 3",
      "UPDATE %s SET amount = amount + 1, name = concat(name, '!') WHERE k %% 5 = 0",
      """MERGE INTO %s t USING (SELECT id AS k, concat('m', id) AS name,
        id AS amount FROM range(150, 260)) s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET name = s.name, amount = s.amount
        WHEN NOT MATCHED THEN INSERT (k, name, amount) VALUES (s.k, s.name, s.amount)"""))
    assert(GraftStore.hasLiveDv(curVdir(m)),
      "mor deltas should leave live delete slices")
    assert(GraftStore.dvLiveRows(curVdir(m)) > 0)
  }

  test("mor delta carries base files instead of rewriting buckets") {
    val m = mkTable("t_carry", "mor")
    seed(m, 400)
    val v1num = GraftStore.currentVersion(dir(m))
    val before = GraftStore.snapshotFiles(dir(m), v1num).toSet
    // a SPREAD update: touches (almost) every bucket — the cow path would
    // rewrite them all; mor must keep every base file untouched, carried
    // by manifest REFERENCE (same absolute path, zero relinks/copies)
    spark.sql(s"UPDATE $cat.$m SET amount = 0 WHERE k % 10 = 1")
    val v2num = GraftStore.currentVersion(dir(m))
    assert(v2num === v1num + 1)
    val after = GraftStore.snapshotFiles(dir(m), v2num).toSet
    assert(before.subsetOf(after),
      "every pre-delta data file must stay live in the mor version")
    // carried files stay IN the version dir that wrote them — the commit
    // never touches them (no link pass, no copy)
    assert(before.forall(_.contains(f"/v$v1num%010d/")))
    // the v2 dir physically holds ONLY the after-images, all stamped v2
    val seqs = GraftStore.resolvedFileSeq(dir(m), v2num)
    def rel(abs: String) = abs.replaceFirst("^.*/v\\d{10}/", "")
    assert(before.forall(f => seqs(rel(f)) < v2num))
    assert((after -- before).forall(f => seqs(rel(f)) == v2num))
    assert((after -- before).forall(_.contains(f"/v$v2num%010d/")))
  }

  test("delete then re-insert keeps exactly the re-inserted row") {
    val (m, _) = twinCheck("t_reins", Seq(
      "DELETE FROM %s WHERE k IN (5, 6, 7)",
      "INSERT INTO %s VALUES (6, 'reborn', 600)",
      "DELETE FROM %s WHERE k = 7"))
    assert(rows(m).find(_._1 == 6L).map(_._2) === Some("reborn"))
    assert(!rows(m).exists(r => r._1 == 5L || r._1 == 7L))
  }

  test("key-moving UPDATE deletes the old key and lands the new") {
    twinCheck("t_move", Seq(
      "UPDATE %s SET k = k + 1000 WHERE k IN (3, 4)"))
  }

  test("pruned projections and aggregates see deletes") {
    val m = mkTable("t_prune", "mor")
    seed(m, 100)
    spark.sql(s"DELETE FROM $cat.$m WHERE k >= 90")
    // count(*): no columns requested — the probe must still read the keys
    assert(spark.sql(s"SELECT count(*) AS c FROM $cat.$m").head.getLong(0) === 90L)
    // non-key projection: key columns augmented then projected back out
    val names = spark.sql(s"SELECT name FROM $cat.$m").collect().map(_.getString(0))
    assert(names.length === 90 && !names.contains("n95"))
    // key-filter point lookup (bucket pruning path) on a deleted key
    assert(spark.sql(s"SELECT * FROM $cat.$m WHERE k = 95").count() === 0L)
    assert(spark.sql(s"SELECT amount FROM $cat.$m WHERE k = 42").head.getLong(0) === 420L)
  }

  test("OPTIMIZE applies and clears delete slices; contents unchanged") {
    val m = mkTable("t_opt", "mor")
    seed(m, 150)
    spark.sql(s"DELETE FROM $cat.$m WHERE k % 3 = 0")
    spark.sql(s"UPDATE $cat.$m SET amount = -1 WHERE k % 11 = 1")
    val before = rows(m)
    assert(GraftStore.hasLiveDv(curVdir(m)))
    // the operator signal: t$versions surfaces the live delete-row count
    def liveDeletes(): Long = spark.sql(
      s"SELECT live_deletes FROM $cat.`$m$$versions` WHERE is_current")
      .head().getLong(0)
    assert(liveDeletes() > 0L)
    spark.sql(s"CALL $cat.optimize(`table` => '$m')")
    assert(!GraftStore.hasLiveDv(curVdir(m)),
      "optimize must clear every delete slice")
    assert(liveDeletes() === 0L)
    assert(rows(m) === before)
    // post-compaction scans restore the exact manifest row count
    assert(GraftStore.snapshotRowCount(dir(m), GraftStore.currentVersion(dir(m))) ===
      Some(before.size.toLong))
  }

  test("VERSION AS OF applies the pinned version's slices; restore carries them") {
    val m = mkTable("t_tt", "mor")
    seed(m, 50)
    val v1 = GraftStore.currentVersion(dir(m))
    spark.sql(s"DELETE FROM $cat.$m WHERE k < 10")
    val v2 = GraftStore.currentVersion(dir(m))
    spark.sql(s"INSERT INTO $cat.$m VALUES (5, 'back', 55)")
    assert(spark.sql(s"SELECT * FROM $cat.$m VERSION AS OF $v1").count() === 50L)
    assert(spark.sql(s"SELECT * FROM $cat.$m VERSION AS OF $v2").count() === 40L)
    assert(rows(m).count(_._1 < 10L) === 1)
    // restore back to the DV-live v2: deletes still apply after restore
    spark.sql(s"CALL $cat.restore(`table` => '$m', version => $v2)")
    assert(spark.sql(s"SELECT count(*) AS c FROM $cat.$m").head.getLong(0) === 40L)
    assert(GraftStore.hasLiveDv(curVdir(m)))
  }

  test("delete-set cap escalates to a clearing copy-on-write rewrite") {
    val prev = sys.props.get("graft.store.morMaxLiveDeletes")
    sys.props("graft.store.morMaxLiveDeletes") = "10"
    try {
      val m = mkTable("t_cap", "mor")
      seed(m, 100)
      spark.sql(s"DELETE FROM $cat.$m WHERE k IN (1, 2, 3)") // 3 <= 10: mor
      assert(GraftStore.hasLiveDv(curVdir(m)))
      spark.sql(s"DELETE FROM $cat.$m WHERE k >= 80") // 3 + 20 > 10: escalate
      assert(!GraftStore.hasLiveDv(curVdir(m)),
        "over-cap commit must clear every slice via the cow rewrite")
      assert(spark.sql(s"SELECT count(*) AS c FROM $cat.$m").head.getLong(0) === 77L)
    } finally prev match {
      case Some(v) => sys.props("graft.store.morMaxLiveDeletes") = v
      case None => sys.props.remove("graft.store.morMaxLiveDeletes")
    }
  }

  test("changelog (CDC) is identical across merge modes") {
    val (m, c) = twinCheck("t_cdc", Seq(
      "DELETE FROM %s WHERE k %% 4 = 2",
      "UPDATE %s SET amount = amount * 2 WHERE k < 20"), n = 60)
    def changes(t: String) = spark.sql(
      s"""SELECT change_version - (SELECT min(change_version)
           FROM $cat.`$t$$changes`) AS rel_v,
          change_op, k, name, amount, change_before.k AS bk,
          change_before.amount AS bamount
          FROM $cat.`$t$$changes` ORDER BY rel_v, change_op, k""").collect().toSeq
    assert(changes(m) === changes(c),
      "merge-on-read must produce byte-identical CDC to copy-on-write")
  }

  test("shallow clone of a DV-live table; further deletes on the clone apply") {
    val m = mkTable("t_clone_src", "mor")
    seed(m, 40)
    spark.sql(s"DELETE FROM $cat.$m WHERE k < 5")
    spark.sql(s"DROP TABLE IF EXISTS $cat.t_clone_dst")
    spark.sql(s"CALL $cat.clone(`table` => '$m', target => 't_clone_dst')")
    assert(spark.sql(s"SELECT count(*) AS c FROM $cat.t_clone_dst").head.getLong(0) === 35L)
    // the clone CONTINUES the source's version numbering so carried seqs
    // keep their meaning; a fresh delete must land above them and apply
    spark.sql(s"DELETE FROM $cat.t_clone_dst WHERE k BETWEEN 10 AND 14")
    assert(spark.sql(s"SELECT count(*) AS c FROM $cat.t_clone_dst").head.getLong(0) === 30L)
    // and the source is untouched
    assert(spark.sql(s"SELECT count(*) AS c FROM $cat.$m").head.getLong(0) === 35L)
  }

  test("ALTER TABLE SET TBLPROPERTIES flips merge_mode") {
    val m = mkTable("t_flip", "cow")
    seed(m, 30)
    spark.sql(s"DELETE FROM $cat.$m WHERE k = 1") // cow delta
    assert(!GraftStore.hasLiveDv(curVdir(m)))
    spark.sql(s"ALTER TABLE $cat.$m SET TBLPROPERTIES('merge_mode'='mor')")
    spark.sql(s"DELETE FROM $cat.$m WHERE k = 2") // mor delta
    assert(GraftStore.hasLiveDv(curVdir(m)))
    spark.sql(s"ALTER TABLE $cat.$m SET TBLPROPERTIES('merge_mode'='cow')")
    // back to cow: the delta rewrite carries the untouched buckets' slices
    spark.sql(s"DELETE FROM $cat.$m WHERE k = 3")
    assert(rows(m).map(_._1).take(3) === Seq(0L, 4L, 5L))
    val bad = intercept[Exception](
      spark.sql(s"ALTER TABLE $cat.$m SET TBLPROPERTIES('merge_mode'='nope')"))
    assert(bad.getMessage.contains("merge_mode"))
  }

  test("RENAME COLUMN on a DV-live table still applies deletes") {
    val m = mkTable("t_ren", "mor")
    seed(m, 30)
    spark.sql(s"DELETE FROM $cat.$m WHERE k % 2 = 0")
    spark.sql(s"ALTER TABLE $cat.$m RENAME COLUMN amount TO amt")
    assert(spark.sql(s"SELECT count(*) AS c FROM $cat.$m").head.getLong(0) === 15L)
    assert(spark.sql(s"SELECT amt FROM $cat.$m WHERE k = 3").head.getLong(0) === 30L)
    // rename a MERGE KEY column, then delete through the new name
    spark.sql(s"ALTER TABLE $cat.$m RENAME COLUMN k TO id")
    spark.sql(s"DELETE FROM $cat.$m WHERE id = 3")
    assert(spark.sql(s"SELECT count(*) AS c FROM $cat.$m").head.getLong(0) === 14L)
  }

  test("rebucket on a DV-live table applies and clears slices") {
    val m = mkTable("t_rb", "mor")
    seed(m, 60)
    spark.sql(s"DELETE FROM $cat.$m WHERE k % 6 = 0")
    val before = rows(m)
    spark.sql(s"CALL $cat.rebucket(`table` => '$m', buckets => 16)")
    assert(!GraftStore.hasLiveDv(curVdir(m)))
    assert(rows(m) === before)
    // point lookup prunes under the new fan-out and sees mor deletes
    spark.sql(s"ALTER TABLE $cat.$m SET TBLPROPERTIES('merge_mode'='mor')")
    spark.sql(s"DELETE FROM $cat.$m WHERE k = 7")
    assert(spark.sql(s"SELECT * FROM $cat.$m WHERE k = 7").count() === 0L)
  }

  test("streaming table read snapshots a DV-live version without dead rows") {
    val m = mkTable("t_stream", "mor")
    seed(m, 25)
    spark.sql(s"DELETE FROM $cat.$m WHERE k >= 20")
    val q = spark.readStream.table(s"$cat.$m")
      .writeStream.format("memory").queryName("mor_stream_snap")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination(60000) finally q.stop()
    val got = spark.sql("SELECT k FROM mor_stream_snap ORDER BY k")
      .collect().map(_.getLong(0)).toSeq
    assert(got === (0L until 20L))
  }

  test("streaming upsert into a mor table writes delete slices, not rewrites") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val m = mkTable("t_up_mor", "mor")
    seed(m, 50)
    val baseFiles =
      GraftStore.snapshotFiles(dir(m), GraftStore.currentVersion(dir(m))).toSet
    val ckpt = Files.createTempDirectory("graft_mor_upsert_ckpt").toString
    val in = MemoryStream[(Long, String, Long)]
    val q = in.toDS().toDF("k", "name", "amount")
      .writeStream.option("checkpointLocation", ckpt)
      .option("upsert", "true").toTable(s"$cat.$m")
    try {
      // epoch 1 updates existing keys; epoch 2 mixes update + fresh insert
      in.addData((1L, "u1", 111L), (2L, "u2", 222L)); q.processAllAvailable()
      in.addData((1L, "u1b", 112L), (60L, "new", 600L)); q.processAllAvailable()
    } finally q.stop()
    val vdir = curVdir(m)
    // upsert epochs took the merge-on-read path: slices live, every base
    // file carried untouched through both commits
    assert(GraftStore.hasLiveDv(vdir), "upsert epochs wrote no delete slice")
    assert(baseFiles.subsetOf(GraftStore.snapshotFiles(dir(m),
        GraftStore.currentVersion(dir(m))).toSet),
      "an upsert epoch rewrote base bucket files")
    val got = rows(m).filter(r => r._1 == 1 || r._1 == 2 || r._1 >= 50)
    assert(got === Seq((1L, "u1b", 112L), (2L, "u2", 222L), (60L, "new", 600L)))
    // the newest update wins over the epoch-1 slice for the same key
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.$m").head().getLong(0) === 51L)
  }

  test("DPP runtime bucket pruning still narrows a DV-live scan") {
    import spark.implicits._
    val m = mkTable("t_dpp_mor", "mor")
    seed(m, 200)
    spark.sql(s"CALL $cat.optimize(`table` => '$m', max_files_per_bucket => 0)")
    // deletes + an update: live slices over the compacted base
    spark.sql(s"DELETE FROM $cat.$m WHERE k IN (100, 101, 102)")
    spark.sql(s"UPDATE $cat.$m SET amount = 777 WHERE k = 13")
    assert(GraftStore.hasLiveDv(curVdir(m)))
    val dimPath = Files.createTempDirectory("graft_mor_dpp").toString + "/dim"
    Seq((7L, "a"), (13L, "a"), (55L, "b"), (100L, "a"))
      .toDF("k", "grp").write.parquet(dimPath)
    spark.read.parquet(dimPath).createOrReplaceTempView("mor_dpp_dim")
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
    def filesPlanned(df: org.apache.spark.sql.DataFrame): (Long, Boolean) = {
      df.collect()
      val scan = leaves(df.queryExecution.executedPlan).collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
            if b.toString.contains("GraftScan") => b
      }.get
      val n = scan.inputRDDs().head.partitions.flatMap {
        case p: org.apache.spark.sql.execution.datasources.v2.DataSourceRDDPartition =>
          p.inputPartitions.map {
            case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
              fp.files.length.toLong
            case mp: org.apache.spark.sql.GraftMorFilterPartition =>
              mp.files.length.toLong
            case _ => 0L
          }
        case _ => Seq(0L)
      }.sum
      (n, scan.runtimeFilters.nonEmpty)
    }
    val (full, _) = filesPlanned(
      spark.sql(s"SELECT k, amount FROM $cat.$m"))
    val q = spark.sql(s"SELECT t.k, t.amount FROM $cat.$m t " +
      "JOIN mor_dpp_dim d ON t.k = d.k WHERE d.grp = 'a'")
    // the deleted key (100) must NOT resurrect through the join, and the
    // DV-overlaid update must be visible
    assert(q.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ===
      Set((7L, 70L), (13L, 777L)))
    val (pruned, hasRf) = filesPlanned(q)
    assert(hasRf, "DPP must plant a runtime filter on the DV-live scan")
    assert(pruned < full,
      s"runtime filter should narrow the DV-live scan: $pruned vs $full")
  }

  test("a join on a non-key column plans a DV-live scan that drops the key") {
    import spark.implicits._
    // the delete probe reads the merge key, but neither the join nor the
    // projection asks for it: DPP must not be offered a column the pruned
    // relation does not output
    val (m, c) = twinCheck("t_dpp_name", Seq(
      "DELETE FROM %s WHERE k %% 7 = 3",
      "UPDATE %s SET amount = amount + 1 WHERE k %% 5 = 0"))
    assert(GraftStore.hasLiveDv(curVdir(m)))
    val dimPath =
      Files.createTempDirectory("graft_mor_dpp_name").toString + "/dim"
    (0 until 60).map(i => (s"n$i", if (i % 3 == 0) "a" else "b"))
      .toDF("name", "grp").write.parquet(dimPath)
    spark.read.parquet(dimPath).createOrReplaceTempView("mor_dpp_name_dim")
    def amounts(t: String): Seq[Long] = spark.sql(
      s"SELECT t.amount FROM $cat.$t t JOIN mor_dpp_name_dim d " +
        "ON t.name = d.name WHERE d.grp = 'a'")
      .collect().map(_.getLong(0)).toSeq.sorted
    val expected = amounts(c)
    assert(expected.nonEmpty)
    assert(amounts(m) === expected)
  }

  test("a version read that prunes the key keeps its bucket column") {
    // the probe's key column is read between the data and the partition
    // columns; projecting it away must not shift the bucket column
    val m = mkTable("t_vread", "mor")
    seed(m, 100)
    spark.sql(s"DELETE FROM $cat.$m WHERE k % 9 = 4")
    assert(GraftStore.hasLiveDv(curVdir(m)))
    val df = GraftStore.readVersion(spark, dir(m),
      GraftStore.currentVersion(dir(m)))
    val withKey = df.select("k", "name", GraftStore.BucketCol).collect()
      .map(r => (r.getString(1), r.getInt(2))).toSet
    val keyPruned = df.select("name", GraftStore.BucketCol).collect()
      .map(r => (r.getString(0), r.getInt(1))).toSet
    assert(withKey.size === 89)
    assert(keyPruned === withKey)
  }

  test("DROP + re-CREATE at the same path never serves a stale delete probe") {
    // version-dir paths repeat across table lifetimes: a cached probe for
    // old-table v2 must not filter (or skip filtering) new-table v2
    val m = mkTable("t_cachebust", "mor")
    seed(m, 30)
    spark.sql(s"DELETE FROM $cat.$m WHERE k < 20") // v2 with live DVs
    assert(rows(m).map(_._1) === (20L until 30L))  // probe now cached for v2
    spark.sql(s"DROP TABLE $cat.$m")
    mkTable("t_cachebust", "mor")
    seed(m, 30)                                    // new table's v1
    spark.sql(s"DELETE FROM $cat.$m WHERE k >= 25") // new v2, DIFFERENT DVs
    assert(rows(m).map(_._1) === (0L until 25L),
      "stale cached delete probe applied to the recreated table")
  }

  test("merge-on-read rejects non-atomic merge keys") {
    warehouse
    val e = intercept[Exception](spark.sql(
      s"""CREATE TABLE $cat.t_badkey (k ARRAY<INT> NOT NULL, v STRING)
          USING graft TBLPROPERTIES ('merge_key'='k', 'merge_mode'='mor')"""))
    assert(e.getMessage.contains("atomic"))
  }
}
