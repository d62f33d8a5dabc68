package graft

import java.nio.file.Files

import graft.sources.{GraftCatalog, GraftStore}

/** Idempotent writer commits (`txnAppId` / `txnVersion` write options):
  * a retried batch write with the same (appId, version) is a no-op — no
  * duplicate rows, no version bump; a higher version lands normally; the
  * record publishes atomically with the commit and survives version
  * expiry via `_txns/` promotion; app ids are independent; half-set or
  * malformed options fail loudly. */
class IdempotentWriteSpec extends SparkTestBase {

  private lazy val cat = "grafttxn"
  private lazy val warehouse: String = {
    val p = Files.createTempDirectory("graft_txn_spec")
    p.toFile.deleteOnExit()
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", p.toString)
    p.toString
  }

  private def mkTable(name: String): String = {
    warehouse
    spark.sql(s"DROP TABLE IF EXISTS $cat.$name")
    spark.sql(s"""CREATE TABLE $cat.$name
      (k BIGINT NOT NULL, amount BIGINT) USING graft
      TBLPROPERTIES ('merge_key'='k', 'buckets'='4')""")
    name
  }

  private def append(table: String, from: Long, n: Long,
      app: String, ver: Long): Unit = {
    import spark.implicits._
    (from until from + n).map(i => (i, i * 10)).toDF("k", "amount")
      .writeTo(s"$cat.$table")
      .option("txnAppId", app).option("txnVersion", ver.toString)
      .append()
  }

  test("a retried write with the same (appId, txnVersion) is a no-op") {
    val t = mkTable("t_txn_retry")
    val dir = s"$warehouse/$t"
    append(t, 0, 3, "etl", 1)
    val v1 = GraftStore.currentVersion(dir)
    assert(spark.table(s"$cat.$t").count() === 3)
    // the retry: same app, same version — nothing moves
    append(t, 0, 3, "etl", 1)
    assert(GraftStore.currentVersion(dir) === v1, "no version bump on retry")
    assert(spark.table(s"$cat.$t").count() === 3, "no duplicate rows")
    // a LOWER version is also a stale retry
    append(t, 100, 2, "etl", 0)
    assert(spark.table(s"$cat.$t").count() === 3)
    // the next version lands normally
    append(t, 10, 2, "etl", 2)
    assert(spark.table(s"$cat.$t").count() === 5)
    assert(GraftStore.lastTxnVersion(dir, "etl") === Some(2L))
  }

  test("app ids are independent high-waters") {
    val t = mkTable("t_txn_apps")
    append(t, 0, 2, "app-a", 5)
    append(t, 10, 2, "app-b", 1) // lower number, different app — lands
    assert(spark.table(s"$cat.$t").count() === 4)
    append(t, 20, 2, "app-b", 1) // retry of app-b — skipped
    assert(spark.table(s"$cat.$t").count() === 4)
    val dir = s"$warehouse/$t"
    assert(GraftStore.lastTxnVersion(dir, "app-a") === Some(5L))
    assert(GraftStore.lastTxnVersion(dir, "app-b") === Some(1L))
    assert(GraftStore.lastTxnVersion(dir, "app-c") === None)
  }

  test("the txn record survives version expiry (promotion to _txns/)") {
    val t = mkTable("t_txn_expire")
    val dir = s"$warehouse/$t"
    append(t, 0, 2, "nightly", 7) // v1 carries the record
    // march history past it, then expire the recording version outright
    spark.sql(s"INSERT INTO $cat.$t VALUES (100, 1)") // v2
    spark.sql(s"INSERT INTO $cat.$t VALUES (101, 1)") // v3
    GraftStore.expireVersions(dir, keepLast = 1)
    assert(GraftStore.listVersions(dir).min >= 2L, "v1 retired")
    // the high-water survived the dir
    assert(GraftStore.lastTxnVersion(dir, "nightly") === Some(7L))
    // ... and still suppresses a late retry
    append(t, 0, 2, "nightly", 7)
    assert(spark.table(s"$cat.$t").count() === 4, "late retry still a no-op")
    append(t, 50, 1, "nightly", 8)
    assert(spark.table(s"$cat.$t").count() === 5)
  }

  test("overwrite with txn options is idempotent too") {
    import spark.implicits._
    val t = mkTable("t_txn_ow")
    spark.sql(s"INSERT INTO $cat.$t VALUES (1, 1), (2, 2)")
    Seq((10L, 100L)).toDF("k", "amount").writeTo(s"$cat.$t")
      .option("txnAppId", "ow").option("txnVersion", "1")
      .overwrite(org.apache.spark.sql.functions.lit(true)) // whole-table
    assert(spark.table(s"$cat.$t").count() === 1)
    val dir = s"$warehouse/$t"
    val v = GraftStore.currentVersion(dir)
    Seq((20L, 200L)).toDF("k", "amount").writeTo(s"$cat.$t")
      .option("txnAppId", "ow").option("txnVersion", "1")
      .overwrite(org.apache.spark.sql.functions.lit(true))
    assert(GraftStore.currentVersion(dir) === v, "retried overwrite no-ops")
    assert(spark.table(s"$cat.$t").collect().map(_.getLong(0)).toSeq === Seq(10L))
  }

  test("crash window (published dir, pointer not flipped): the retry lands") {
    val t = mkTable("t_txn_crash")
    val dir = s"$warehouse/$t"
    append(t, 0, 3, "etl", 1) // v1, pointer = 1
    assert(GraftStore.currentVersion(dir) === 1L)
    // simulate a crash before v1's pointer move: v1 built (its manifest
    // carrying the txn record) but the move never recorded
    unpublish(dir, 1L)
    // readable == committed: the unpublished txn record must NOT count —
    // counting it would silently no-op the healing retry below
    assert(GraftStore.lastTxnVersion(dir, "etl") === None,
      "above-pointer _txn marker ignored")
    assert(spark.table(s"$cat.$t").count() === 0, "pointer rules reads")
    // the retried idempotent write re-applies (rebuilding v1 over the
    // debris) instead of being swallowed
    append(t, 0, 3, "etl", 1)
    assert(GraftStore.currentVersion(dir) === 1L)
    assert(spark.table(s"$cat.$t").count() === 3, "retry healed the crash")
    assert(GraftStore.lastTxnVersion(dir, "etl") === Some(1L))
    // and a SECOND retry is back to a no-op
    append(t, 0, 3, "etl", 1)
    assert(GraftStore.currentVersion(dir) === 1L)
    assert(spark.table(s"$cat.$t").count() === 3)
  }

  test("a no-op retry on an auto_optimize table publishes nothing") {
    import spark.implicits._
    val t = mkTable("t_txn_auto")
    val dir = s"$warehouse/$t"
    // four one-row commits of the same key: its slot holds four files,
    // and the last commit carries the txn record
    (1L to 4L).foreach(i => append(t, 7, 1, "etl", i))
    spark.sql(s"ALTER TABLE $cat.$t SET TBLPROPERTIES ('auto_optimize'='2')")
    val v = GraftStore.currentVersion(dir)
    // a retry that reaches the commit (the catalog's own check ran before
    // the first attempt landed) wrote nothing, so it must not compact the
    // over-cap slot the previous commit left behind
    def commit(ver: Long): Long = GraftStore.applyChanges(spark, dir,
      Seq((7L, 70L)).toDF("k", "amount")
        .withColumn(GraftStore.OpCol, org.apache.spark.sql.functions.lit("I")),
      allInserts = true, txn = Some(("etl", ver)))
    assert(commit(4) === v)
    assert(GraftStore.currentVersion(dir) === v, "no version on a no-op retry")
    // the next real commit runs the hook
    assert(commit(5) === v + 1)
    assert(GraftStore.currentVersion(dir) === v + 2, "commit + optimize")
    assert(spark.table(s"$cat.$t").count() === 5)
  }

  test("half-set or malformed txn options fail loudly") {
    import spark.implicits._
    val t = mkTable("t_txn_bad")
    def chain(x: Throwable): Seq[Throwable] =
      Option(x).toSeq.flatMap(t0 => t0 +: chain(t0.getCause))
    val eHalf = intercept[Exception] {
      Seq((1L, 1L)).toDF("k", "amount").writeTo(s"$cat.$t")
        .option("txnAppId", "solo").append()
    }
    assert(chain(eHalf).exists(e => e.getMessage != null &&
      e.getMessage.contains("must be set together")), s"got $eHalf")
    val eVer = intercept[Exception] {
      Seq((1L, 1L)).toDF("k", "amount").writeTo(s"$cat.$t")
        .option("txnAppId", "x").option("txnVersion", "abc").append()
    }
    assert(chain(eVer).exists(e => e.getMessage != null &&
      e.getMessage.contains("must be an integer")), s"got $eVer")
    val eApp = intercept[Exception] {
      Seq((1L, 1L)).toDF("k", "amount").writeTo(s"$cat.$t")
        .option("txnAppId", "bad/id").option("txnVersion", "1").append()
    }
    assert(chain(eApp).exists(e => e.getMessage != null &&
      e.getMessage.contains("txnAppId must match")), s"got $eApp")
    // nothing landed
    assert(spark.table(s"$cat.$t").count() === 0)
  }
}
