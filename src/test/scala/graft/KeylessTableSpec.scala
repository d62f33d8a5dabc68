package graft

import java.nio.file.Files

import graft.sources.{GraftCatalog, GraftStore}

/** Keyless APPEND-ONLY tables (S43): `TBLPROPERTIES ('append_only'='true')`
  * creates a table with no merge key — the raw-event bronze-layer shape.
  * INSERT / INSERT OVERWRITE / REPLACE WHERE / retention work; row-level
  * DML, keyed upserts and merge-on-read are rejected loudly; buckets fan
  * out from a whole-row hash; partitioning, zone maps, time travel, CDC
  * (all-I changelog), branches and rebase compose unchanged. */
class KeylessTableSpec extends SparkTestBase {

  private lazy val cat = "graftkl"
  private lazy val warehouse: String = {
    val p = Files.createTempDirectory("graft_keyless_spec")
    p.toFile.deleteOnExit()
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", p.toString)
    p.toString
  }

  private def chain(x: Throwable): Seq[Throwable] =
    Option(x).toSeq.flatMap(t => t +: chain(t.getCause))

  private def appendOnlyError(body: => Unit): Unit = {
    val e = intercept[Throwable](body)
    assert(chain(e).exists(x => x.getMessage != null &&
      x.getMessage.contains("APPEND-ONLY")), s"got $e")
  }

  test("append-only lifecycle: insert, overwrite, replace where, retention") {
    warehouse
    spark.sql(s"DROP TABLE IF EXISTS $cat.kl")
    spark.sql(s"""CREATE TABLE $cat.kl (k BIGINT, r BIGINT, pop BIGINT)
      USING graft PARTITIONED BY (r)
      TBLPROPERTIES ('append_only'='true', 'buckets'='4')""")
    val dir = s"$warehouse/kl"
    assert(GraftStore.readMeta(dir).keyCols.isEmpty)
    spark.sql(s"INSERT INTO $cat.kl VALUES (1, 0, 10), (2, 1, 20), (3, 0, 30)")
    spark.sql(s"INSERT INTO $cat.kl VALUES (1, 0, 10)") // duplicates are FINE
    assert(spark.table(s"$cat.kl").count() === 4)
    // row-level DML rejected loudly, table untouched
    appendOnlyError(spark.sql(s"UPDATE $cat.kl SET pop = 0 WHERE k = 1"))
    appendOnlyError(spark.sql(s"DELETE FROM $cat.kl WHERE k = 1"))
    appendOnlyError(spark.sql(s"MERGE INTO $cat.kl t USING (SELECT 1 AS k) c " +
      "ON t.k = c.k WHEN MATCHED THEN DELETE"))
    assert(spark.table(s"$cat.kl").count() === 4)
    // REPLACE WHERE swaps the matching rows in one overwrite commit
    spark.sql(s"INSERT INTO $cat.kl REPLACE WHERE r = 0 VALUES (9, 0, 90)")
    assert(spark.sql(s"SELECT k, pop FROM $cat.kl ORDER BY k").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSeq ===
      Seq((2L, 20L), (9L, 90L)))
    // INSERT OVERWRITE replaces the whole table
    spark.sql(s"INSERT OVERWRITE $cat.kl VALUES (5, 2, 50)")
    assert(spark.table(s"$cat.kl").count() === 1)
    // retention: partition-level expiry works without keys
    spark.sql(s"INSERT INTO $cat.kl VALUES (6, 3, 60)")
    spark.sql(s"CALL $cat.expire_partitions(table => 'kl', below => '3')")
    assert(spark.sql(s"SELECT k FROM $cat.kl").collect()
      .map(_.getLong(0)).toSeq === Seq(6L))
  }

  test("creation guards: merge_key and mor conflict with append_only") {
    warehouse
    val e1 = intercept[Exception] {
      spark.sql(s"""CREATE TABLE $cat.kl_bad1 (k BIGINT) USING graft
        TBLPROPERTIES ('append_only'='true', 'merge_key'='k')""")
    }
    assert(chain(e1).exists(x => x.getMessage != null &&
      x.getMessage.contains("no merge_key")), s"got $e1")
    val e2 = intercept[Exception] {
      spark.sql(s"""CREATE TABLE $cat.kl_bad2 (k BIGINT) USING graft
        TBLPROPERTIES ('append_only'='true', 'merge_mode'='mor')""")
    }
    assert(chain(e2).exists(x => x.getMessage != null &&
      x.getMessage.contains("copy-on-write")), s"got $e2")
  }

  test("CDC is all-I, time travel and replay compose keylessly") {
    warehouse
    spark.sql(s"DROP TABLE IF EXISTS $cat.kl_cdc")
    spark.sql(s"""CREATE TABLE $cat.kl_cdc (k BIGINT, v BIGINT) USING graft
      TBLPROPERTIES ('append_only'='true', 'buckets'='2')""")
    val dir = s"$warehouse/kl_cdc"
    spark.sql(s"INSERT INTO $cat.kl_cdc VALUES (1, 10), (2, 20)") // v1
    spark.sql(s"INSERT INTO $cat.kl_cdc VALUES (3, 30)")          // v2
    val ops = spark.sql(s"SELECT DISTINCT change_op FROM $cat.`kl_cdc$$changes`")
      .collect().map(_.getString(0)).toSeq
    assert(ops === Seq("I"))
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.kl_cdc VERSION AS OF 1")
      .head().getLong(0) === 2L)
    // replayChanges: base@v1 + slice v2 reproduces v2
    val replayed = GraftStore.replayChanges(
      GraftStore.readVersion(spark, dir, 1L),
      GraftStore.readChanges(spark, dir, 2L, 2L),
      GraftStore.readMeta(dir))
    assert(replayed.count() === 3)
  }

  test("branches and rebase: keyless divergence always rebases (appends commute)") {
    warehouse
    spark.sql(s"DROP TABLE IF EXISTS $cat.kl_br")
    spark.sql(s"""CREATE TABLE $cat.kl_br (k BIGINT, v BIGINT) USING graft
      TBLPROPERTIES ('append_only'='true', 'buckets'='2')""")
    spark.sql(s"INSERT INTO $cat.kl_br VALUES (1, 10)")
    spark.sql(s"CALL $cat.create_branch(table => 'kl_br', name => 'b')")
    spark.sql(s"INSERT INTO $cat.`kl_br$$branch$$b` VALUES (2, 20)")
    spark.sql(s"INSERT INTO $cat.kl_br VALUES (3, 30)") // main moves
    spark.sql(s"CALL $cat.rebase_branch(table => 'kl_br', name => 'b')")
    spark.sql(s"CALL $cat.fast_forward(table => 'kl_br', name => 'b')")
    assert(spark.sql(s"SELECT k FROM $cat.kl_br ORDER BY k").collect()
      .map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
  }

  test("a streaming epoch replayed after its checkpoint commit was lost appends nothing") {
    // the additive double-count hazard: the table committed epoch 1 but the
    // checkpoint never recorded it, so a restart replays epoch 1, here with
    // different rows. The table's (queryId, epoch) marker acknowledges the
    // replay without a commit.
    warehouse
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    spark.sql(s"DROP TABLE IF EXISTS $cat.kl_replay")
    spark.sql(s"""CREATE TABLE $cat.kl_replay (k BIGINT, v BIGINT) USING graft
      TBLPROPERTIES ('append_only'='true', 'buckets'='2')""")
    val dir = s"$warehouse/kl_replay"
    val ckpt = Files.createTempDirectory("graft_kl_replay_ckpt").toString
    def start(in: MemoryStream[(Long, Long)]) = in.toDS().toDF("k", "v")
      .writeStream.option("checkpointLocation", ckpt).toTable(s"$cat.kl_replay")
    def contents(): Seq[(Long, Long)] = spark.table(s"$cat.kl_replay")
      .as[(Long, Long)].collect().toSeq.sorted
    val in1 = MemoryStream[(Long, Long)]
    val q1 = start(in1)
    try {
      in1.addData((1L, 10L)); q1.processAllAvailable()
      in1.addData((2L, 20L)); q1.processAllAvailable()
    } finally q1.stop()
    val version = GraftStore.currentVersion(dir)
    assert(contents() === Seq((1L, 10L), (2L, 20L)))
    Seq("1", ".1.crc").foreach(f =>
      Files.deleteIfExists(java.nio.file.Paths.get(ckpt, "commits", f)))
    val in2 = MemoryStream[(Long, Long)]
    in2.addData((1L, 10L))
    in2.addData((2L, 999L))
    val q2 = start(in2)
    try q2.processAllAvailable() finally q2.stop()
    assert(GraftStore.currentVersion(dir) === version)
    assert(contents() === Seq((1L, 10L), (2L, 20L)))
  }

  test("streaming upsert is rejected; plain streaming append lands") {
    warehouse
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    spark.sql(s"DROP TABLE IF EXISTS $cat.kl_str")
    spark.sql(s"""CREATE TABLE $cat.kl_str (k BIGINT, v BIGINT) USING graft
      TBLPROPERTIES ('append_only'='true', 'buckets'='2')""")
    val in = MemoryStream[(Long, Long)]
    val q = in.toDS().toDF("k", "v").writeStream
      .option("checkpointLocation",
        Files.createTempDirectory("graft_kl_ckpt").toString)
      .toTable(s"$cat.kl_str")
    try {
      in.addData(Seq((1L, 10L), (2L, 20L)))
      q.processAllAvailable()
      in.addData(Seq((1L, 10L))) // duplicate row: appends, no key to clash
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.table(s"$cat.kl_str").count() === 3)
    // upsert mode needs a key — loud
    val in2 = MemoryStream[(Long, Long)]
    val q2 = in2.toDS().toDF("k", "v").writeStream
      .option("checkpointLocation",
        Files.createTempDirectory("graft_kl_ckpt2").toString)
      .option("upsert", "true")
      .toTable(s"$cat.kl_str")
    val e = intercept[Throwable] {
      in2.addData(Seq((5L, 50L)))
      try q2.processAllAvailable() finally q2.stop()
    }
    assert(chain(e).exists(x => x.getMessage != null &&
      x.getMessage.contains("APPEND-ONLY")), s"got $e")
  }
}
