package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

import graft.sources.{GraftCatalog, GraftStore}

/** Session-scoped multi-statement transactions (S45) and consistent
  * cross-table snapshots (S46). Pins: atomic all-or-none visibility,
  * read-your-writes + invisibility to other sessions, write-set OCC
  * (read-only members never conflict; written members refuse when main
  * moved), the planning-time fence on non-enrolled writes, the DDL
  * blocks, rollback hygiene, MV-rewrite immunity inside a txn, time
  * travel's pre-fork fallback, and snapshot_group's torn-publish
  * immunity (deterministic between-flips crash lane). */
class TxnSpec extends SparkTestBase {

  // NOTE: must be unique across suites — the SparkSession (and so the
  // `spark.sql.catalog.<name>` conf) is JVM-shared, and a second suite
  // registering the same catalog name with its own warehouse makes
  // last-writer-wins resolution point at the wrong directory mid-run
  // (IdempotentWriteSpec already owns "grafttxn")
  private lazy val cat = "graftmst"
  private lazy val warehouse: String = {
    val p = Files.createTempDirectory("graft_txn_spec")
    p.toFile.deleteOnExit()
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", p.toString)
    p.toString
  }

  /** An independent session over the same warehouse — what every OTHER
    * user of the catalog sees while this session's txn is open. */
  private lazy val outside: SparkSession = {
    warehouse
    val s2 = spark.newSession()
    s2.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    s2.conf.set(s"spark.sql.catalog.$cat.warehouse", warehouse)
    s2
  }

  private def mkTable(name: String): String = {
    warehouse
    spark.sql(s"DROP TABLE IF EXISTS $cat.$name")
    spark.sql(s"""CREATE TABLE $cat.$name
      (k BIGINT NOT NULL, grp BIGINT, amount BIGINT) USING graft
      TBLPROPERTIES ('merge_key'='k', 'buckets'='4')""")
    name
  }

  private def rows(s: SparkSession, table: String): Seq[(Long, Long, Long)] =
    s.sql(s"SELECT k, grp, amount FROM $table ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  private def chain(x: Throwable): Seq[Throwable] =
    Option(x).toSeq.flatMap(t => t +: chain(t.getCause))

  /** Abort any txn this test leaked so the shared session stays clean. */
  private def drain(): Unit =
    try spark.sql(s"CALL $cat.rollback_txn()").collect()
    catch { case _: Exception => () }

  test("txn: read-your-writes, invisibility, atomic commit, CDC") {
    val a = mkTable("tx_a")
    val b = mkTable("tx_b")
    spark.sql(s"INSERT INTO $cat.$a VALUES (1, 0, 10), (2, 1, 20)") // v1
    spark.sql(s"INSERT INTO $cat.$a VALUES (5, 2, 50)") // v2 — the fork
    spark.sql(s"INSERT INTO $cat.$b VALUES (100, 0, 1)")
    try {
      val began = spark.sql(
        s"CALL $cat.begin_txn(tables => '$a,$b', name => 'w1')").collect()
      assert(began(0).getString(0) === "w1" && began(0).getLong(1) === 2L)
      spark.sql(s"INSERT INTO $cat.$a VALUES (3, 0, 30)")
      spark.sql(s"UPDATE $cat.$a SET amount = 11 WHERE k = 1")
      spark.sql(s"""MERGE INTO $cat.$b t USING (SELECT 100 AS k) s
        ON t.k = s.k WHEN MATCHED THEN UPDATE SET amount = t.amount + 1""")
      // read-your-writes in THIS session, on the table and its $changes
      assert(rows(spark, s"$cat.$a") ===
        Seq((1L, 0L, 11L), (2L, 1L, 20L), (3L, 0L, 30L), (5L, 2L, 50L)))
      assert(rows(spark, s"$cat.$b") === Seq((100L, 0L, 2L)))
      assert(spark.sql(s"SELECT COUNT(*) FROM $cat.`$a$$changes` " +
        "WHERE k = 3 AND change_op = 'I'").head().getLong(0) === 1L)
      // invisible to every other session until commit
      assert(rows(outside, s"$cat.$a") ===
        Seq((1L, 0L, 10L), (2L, 1L, 20L), (5L, 2L, 50L)))
      assert(rows(outside, s"$cat.$b") === Seq((100L, 0L, 1L)))
      // PRE-FORK time travel: v1 exists only on main (the txn branch's
      // history starts at the fork) — the fallback resolves it there
      assert(rows(spark, s"$cat.$a VERSION AS OF 1") ===
        Seq((1L, 0L, 10L), (2L, 1L, 20L)))
      val done = spark.sql(s"CALL $cat.commit_txn()").collect()
      assert(done(0).getLong(0) === 2L && done(0).getLong(1) === 0L)
      // both members flipped, atomically visible everywhere
      assert(rows(outside, s"$cat.$a") ===
        Seq((1L, 0L, 11L), (2L, 1L, 20L), (3L, 0L, 30L), (5L, 2L, 50L)))
      assert(rows(outside, s"$cat.$b") === Seq((100L, 0L, 2L)))
      // the txn's commits adopted with CDC intact on main
      assert(spark.sql(s"SELECT COUNT(*) FROM $cat.`$a$$changes` " +
        "WHERE k = 3 AND change_op = 'I'").head().getLong(0) === 1L)
      // branches consumed, session state cleared
      assert(GraftStore.listBranches(s"$warehouse/$a").isEmpty)
      assert(spark.sql(s"INSERT INTO $cat.$a VALUES (4, 0, 40)")
        .collect() !== null) // writes open again
    } finally drain()
  }

  test("txn: read-only member never conflicts; written member does") {
    val a = mkTable("tx_rd_a")
    val b = mkTable("tx_rd_b")
    spark.sql(s"INSERT INTO $cat.$a VALUES (1, 0, 10)")
    spark.sql(s"INSERT INTO $cat.$b VALUES (1, 0, 1)")
    try {
      spark.sql(s"CALL $cat.begin_txn(tables => '$a,$b')")
      spark.sql(s"INSERT INTO $cat.$a VALUES (2, 0, 20)")
      // repeatable reads: outside advances b, the txn keeps its snapshot
      outside.sql(s"INSERT INTO $cat.$b VALUES (2, 0, 2)")
      assert(rows(spark, s"$cat.$b") === Seq((1L, 0L, 1L)))
      // b was never written by the txn → dropped from the publish set
      val done = spark.sql(s"CALL $cat.commit_txn()").collect()
      assert(done(0).getLong(0) === 1L && done(0).getLong(1) === 1L)
      assert(rows(outside, s"$cat.$a") === Seq((1L, 0L, 10L), (2L, 0L, 20L)))
      assert(rows(outside, s"$cat.$b") === Seq((1L, 0L, 1L), (2L, 0L, 2L)))
    } finally drain()

    // now the WRITTEN member's main advances mid-txn → the whole commit
    // refuses, the txn stays alive, rollback leaves main exactly as the
    // outside writer left it
    try {
      spark.sql(s"CALL $cat.begin_txn(tables => '$a')")
      spark.sql(s"UPDATE $cat.$a SET amount = 99 WHERE k = 1")
      outside.sql(s"INSERT INTO $cat.$a VALUES (3, 0, 30)")
      val e = intercept[Exception] { spark.sql(s"CALL $cat.commit_txn()") }
      assert(chain(e).exists(t => Option(t.getMessage).exists(m =>
        m.contains("advanced past the fork") || m.contains("re-run") ||
          m.contains("rebase"))))
      // still active: the txn's view is intact
      assert(rows(spark, s"$cat.$a").contains((1L, 0L, 99L)))
      spark.sql(s"CALL $cat.rollback_txn()")
      assert(rows(outside, s"$cat.$a") ===
        Seq((1L, 0L, 10L), (2L, 0L, 20L), (3L, 0L, 30L)))
      assert(rows(spark, s"$cat.$a") ===
        Seq((1L, 0L, 10L), (2L, 0L, 20L), (3L, 0L, 30L)))
      assert(GraftStore.listBranches(s"$warehouse/$a").isEmpty)
    } finally drain()
  }

  test("txn: non-enrolled writes fenced at planning, reads open") {
    val a = mkTable("tx_f_a")
    val c = mkTable("tx_f_c")
    spark.sql(s"INSERT INTO $cat.$c VALUES (1, 0, 5)")
    try {
      spark.sql(s"CALL $cat.begin_txn(tables => '$a')")
      // reads of the non-enrolled table stay open (read-committed)
      assert(rows(spark, s"$cat.$c") === Seq((1L, 0L, 5L)))
      val e1 = intercept[Exception] {
        spark.sql(s"INSERT INTO $cat.$c VALUES (2, 0, 6)") }
      assert(chain(e1).exists(t => Option(t.getMessage)
        .exists(_.contains("not enrolled"))))
      val e2 = intercept[Exception] {
        spark.sql(s"UPDATE $cat.$c SET amount = 7 WHERE k = 1") }
      assert(chain(e2).exists(t => Option(t.getMessage)
        .exists(_.contains("not enrolled"))))
      // nothing landed
      assert(rows(outside, s"$cat.$c") === Seq((1L, 0L, 5L)))
      // explicit branch addresses keep full DML (unambiguous intent)
      spark.sql(s"CALL $cat.create_branch(table => '$c', name => 'exp')")
      spark.sql(s"INSERT INTO $cat.`$c$$branch$$exp` VALUES (9, 9, 9)")
      spark.sql(s"CALL $cat.drop_branch(table => '$c', name => 'exp')")
    } finally drain()
    // fence lifts with the txn
    spark.sql(s"INSERT INTO $cat.$c VALUES (2, 0, 6)")
    assert(rows(spark, s"$cat.$c") === Seq((1L, 0L, 5L), (2L, 0L, 6L)))
  }

  test("txn: DDL on enrolled tables is blocked; nesting is blocked") {
    val a = mkTable("tx_ddl")
    try {
      spark.sql(s"CALL $cat.begin_txn(tables => '$a')")
      val e1 = intercept[Exception] {
        spark.sql(s"ALTER TABLE $cat.$a ADD COLUMNS (extra BIGINT)") }
      assert(chain(e1).exists(t => Option(t.getMessage)
        .exists(_.contains("DDL is not transactional"))))
      val e2 = intercept[Exception] { spark.sql(s"DROP TABLE $cat.$a") }
      assert(chain(e2).exists(t => Option(t.getMessage)
        .exists(_.contains("enrolled"))))
      val e3 = intercept[Exception] {
        spark.sql(s"ALTER TABLE $cat.$a RENAME TO $cat.tx_ddl2") }
      assert(chain(e3).exists(t => Option(t.getMessage)
        .exists(_.contains("enrolled"))))
      val e4 = intercept[Exception] {
        spark.sql(s"CALL $cat.begin_txn(tables => '$a')") }
      assert(chain(e4).exists(t => Option(t.getMessage)
        .exists(_.contains("do not nest"))))
    } finally drain()
  }

  test("txn: rollback leaves no trace; empty commit is a clean no-op") {
    val a = mkTable("tx_rb")
    spark.sql(s"INSERT INTO $cat.$a VALUES (1, 0, 10)")
    try {
      spark.sql(s"CALL $cat.begin_txn(tables => '$a')")
      spark.sql(s"INSERT INTO $cat.$a VALUES (2, 0, 20)")
      val rb = spark.sql(s"CALL $cat.rollback_txn()").collect()
      assert(rb(0).getLong(0) === 1L)
      assert(rows(spark, s"$cat.$a") === Seq((1L, 0L, 10L)))
      assert(GraftStore.listBranches(s"$warehouse/$a").isEmpty)
      // empty txn: nothing written → nothing published, branch released
      spark.sql(s"CALL $cat.begin_txn(tables => '$a')")
      assert(rows(spark, s"$cat.$a") === Seq((1L, 0L, 10L)))
      val done = spark.sql(s"CALL $cat.commit_txn()").collect()
      assert(done(0).getLong(0) === 0L && done(0).getLong(1) === 1L)
      assert(GraftStore.listBranches(s"$warehouse/$a").isEmpty)
      // with no txn active, commit/rollback are loud, not silent no-ops
      val e = intercept[Exception] { spark.sql(s"CALL $cat.commit_txn()") }
      assert(chain(e).exists(t => Option(t.getMessage)
        .exists(_.contains("no transaction is active"))))
    } finally drain()
  }

  test("txn: the transparent MV rewrite never serves main's state") {
    val a = mkTable("tx_mv")
    spark.sql(s"INSERT INTO $cat.$a VALUES (1, 0, 10), (2, 0, 20), (3, 1, 5)")
    spark.sql(s"""CREATE MATERIALIZED VIEW $cat.tx_mv_sum AS
      SELECT grp, SUM(amount) AS total FROM $cat.$a GROUP BY grp""")
    def scanned(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.queryExecution.analyzed.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
          r.table.name()
      }.toSet
    try {
      spark.sql(s"CALL $cat.refresh_mv(view => 'tx_mv_sum')")
      val q = s"SELECT grp, SUM(amount) AS total FROM $cat.$a GROUP BY grp"
      // sanity: OUTSIDE a txn the fresh MV answers the query
      assert(scanned(spark.sql(q)).exists(_.contains("__mv_state_tx_mv_sum")))
      spark.sql(s"CALL $cat.begin_txn(tables => '$a')")
      spark.sql(s"INSERT INTO $cat.$a VALUES (4, 1, 100)")
      // inside the txn the same query must see the txn's row — the
      // branch-routed relation can never dir-match the MV body's main
      assert(!scanned(spark.sql(q)).exists(_.contains("__mv_state_tx_mv_sum")))
      val got = spark.sql(q + " ORDER BY grp").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got === Seq((0L, 30L), (1L, 105L)))
    } finally {
      drain()
      spark.sql(s"DROP MATERIALIZED VIEW IF EXISTS $cat.tx_mv_sum")
    }
  }

  test("snapshot_group: a torn group publish is never observable") {
    val f = mkTable("sg_f")
    val s2 = mkTable("sg_s")
    spark.sql(s"INSERT INTO $cat.$f VALUES (1, 0, 10), (2, 1, 20)")
    spark.sql(s"INSERT INTO $cat.$s2 VALUES (0, 0, 10), (1, 0, 20)")
    def stage(): Unit = {
      Seq(f, s2).foreach(t => spark.sql(
        s"CALL $cat.create_branch(table => '$t', name => 'pub')"))
      spark.sql(s"INSERT INTO $cat.`$f$$branch$$pub` VALUES (3, 0, 30)")
      spark.sql(s"UPDATE $cat.`$s2$$branch$$pub` SET amount = 40 WHERE k = 0")
    }
    def snap(): Map[String, Long] =
      spark.sql(s"CALL $cat.snapshot_group(tables => '$f,$s2')").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    val before = snap()
    stage()
    // a dead coordinator BETWEEN the two pointer flips: the decision is
    // durable, one member's pointer still lags — snapshot_group must
    // return the POST versions for BOTH (its captures roll forward)
    GraftStore.withCrashAt("publishGroup.between-flips") {
      intercept[Exception] { spark.sql(
        s"CALL $cat.publish_group(tables => '$f,$s2', name => 'pub')") }
    }
    val after = snap()
    assert(after(f) > before(f) && after(s2) > before(s2))
    // and reading AS OF the snapshot shows the group's effects on BOTH
    assert(rows(spark, s"$cat.$f VERSION AS OF ${after(f)}")
      .contains((3L, 0L, 30L)))
    assert(rows(spark, s"$cat.$s2 VERSION AS OF ${after(s2)}")
      .contains((0L, 0L, 40L)))
    // idempotent under quiescence
    assert(snap() === after)
  }

  test("txn: savepoints undo just the statements after them") {
    val a = mkTable("tx_sp_a")
    val b = mkTable("tx_sp_b")
    spark.sql(s"INSERT INTO $cat.$a VALUES (1, 0, 10)")
    spark.sql(s"INSERT INTO $cat.$b VALUES (100, 0, 1)")
    try {
      // savepoint outside a txn refuses
      val e0 = intercept[Exception] {
        spark.sql(s"CALL $cat.savepoint(name => 's1')").collect()
      }
      assert(chain(e0).exists(t => Option(t.getMessage)
        .exists(_.contains("no transaction is active"))))

      spark.sql(s"CALL $cat.begin_txn(tables => '$a,$b', name => 'sp')")
      spark.sql(s"INSERT INTO $cat.$a VALUES (2, 0, 20)") // keep
      assert(spark.sql(s"CALL $cat.savepoint(name => 's1')")
        .head().getLong(0) === 2L)
      // duplicate name refuses
      val e1 = intercept[Exception] {
        spark.sql(s"CALL $cat.savepoint(name => 's1')").collect()
      }
      assert(chain(e1).exists(t => Option(t.getMessage)
        .exists(_.contains("already exists"))))

      spark.sql(s"INSERT INTO $cat.$a VALUES (3, 0, 30)") // undo
      spark.sql(s"UPDATE $cat.$b SET amount = 99 WHERE k = 100") // undo
      spark.sql(s"CALL $cat.savepoint(name => 's2')")
      spark.sql(s"DELETE FROM $cat.$a WHERE k = 1") // undo

      // roll back to s1: statements after it vanish, the txn stays open
      assert(spark.sql(s"CALL $cat.rollback_to_savepoint(name => 's1')")
        .head().getLong(0) === 2L, "both members were written after s1")
      assert(rows(spark, s"$cat.$a") === Seq((1L, 0L, 10L), (2L, 0L, 20L)))
      assert(rows(spark, s"$cat.$b") === Seq((100L, 0L, 1L)))
      // s2 was destroyed by the rollback (SQL semantics); s1 survives
      val e2 = intercept[Exception] {
        spark.sql(s"CALL $cat.rollback_to_savepoint(name => 's2')").collect()
      }
      assert(chain(e2).exists(t => Option(t.getMessage)
        .exists(_.contains("no savepoint 's2'"))))
      assert(spark.sql(s"CALL $cat.rollback_to_savepoint(name => 's1')")
        .head().getLong(0) === 0L, "already at s1: nothing to restore")

      // keep working past the rollback, then commit atomically
      spark.sql(s"INSERT INTO $cat.$a VALUES (4, 0, 40)")
      spark.sql(s"CALL $cat.commit_txn()").collect()
      assert(rows(outside, s"$cat.$a") ===
        Seq((1L, 0L, 10L), (2L, 0L, 20L), (4L, 0L, 40L)))
      assert(rows(outside, s"$cat.$b") === Seq((100L, 0L, 1L)))
      // the rolled-back member's publish carries the restore's CDC
      // snapshot boundary — consumers re-snapshot, never resurrect
      assert(GraftStore.latestBoundary(s"$warehouse/$b").nonEmpty,
        "b's rollback_to_savepoint must publish as a snapshot boundary")
      // and the savepoints died with the txn
      val e3 = intercept[Exception] {
        spark.sql(s"CALL $cat.rollback_to_savepoint(name => 's1')").collect()
      }
      assert(chain(e3).exists(t => Option(t.getMessage)
        .exists(_.contains("no transaction is active"))))
    } finally drain()
  }

  test("txn: commit_txn(retry => true) auto-rebases a disjoint-key conflict") {
    val a = mkTable("tx_ar_a")
    val b = mkTable("tx_ar_b")
    spark.sql(s"INSERT INTO $cat.$a VALUES (1, 0, 10), (2, 1, 20)")
    spark.sql(s"INSERT INTO $cat.$b VALUES (100, 0, 1)")
    try {
      spark.sql(s"CALL $cat.begin_txn(tables => '$a,$b')")
      spark.sql(s"UPDATE $cat.$a SET amount = 99 WHERE k = 1")
      // outside touches DIFFERENT keys on the written member — the fork
      // conflict is physical, not logical; retry => true resolves it
      outside.sql(s"INSERT INTO $cat.$a VALUES (3, 0, 30)")
      outside.sql(s"UPDATE $cat.$a SET amount = 21 WHERE k = 2")
      val done = spark.sql(s"CALL $cat.commit_txn(retry => true)").head()
      assert(done.getLong(0) === 1L && done.getLong(1) === 1L)
      // both sides' statements published: main ⊎ the txn's
      assert(rows(outside, s"$cat.$a") ===
        Seq((1L, 0L, 99L), (2L, 1L, 21L), (3L, 0L, 30L)))
      // branches consumed, session state cleared
      assert(GraftStore.listBranches(s"$warehouse/$a").isEmpty)
      assert(GraftStore.listBranches(s"$warehouse/$b").isEmpty)
      val e = intercept[Exception] { spark.sql(s"CALL $cat.commit_txn()") }
      assert(chain(e).exists(t => Option(t.getMessage)
        .exists(_.contains("no transaction is active"))))
    } finally drain()
  }

  test("txn: retry => true never masks an overlapping-key conflict") {
    val a = mkTable("tx_ar_c")
    spark.sql(s"INSERT INTO $cat.$a VALUES (1, 0, 10)")
    try {
      spark.sql(s"CALL $cat.begin_txn(tables => '$a')")
      spark.sql(s"UPDATE $cat.$a SET amount = 99 WHERE k = 1")
      // outside changes the SAME key — logical conflict; the auto-rebase
      // must refuse instead of silently picking a winner
      outside.sql(s"UPDATE $cat.$a SET amount = 55 WHERE k = 1")
      val e = intercept[Exception] {
        spark.sql(s"CALL $cat.commit_txn(retry => true)").collect() }
      assert(chain(e).exists(t => Option(t.getMessage).exists(m =>
        m.contains("rebase conflict") || m.contains("needs a human"))))
      // txn intact (read-your-writes still routed), rollback restores
      // the outside writer's reality
      assert(rows(spark, s"$cat.$a") === Seq((1L, 0L, 99L)))
      spark.sql(s"CALL $cat.rollback_txn()")
      assert(rows(spark, s"$cat.$a") === Seq((1L, 0L, 55L)))
      assert(rows(outside, s"$cat.$a") === Seq((1L, 0L, 55L)))
    } finally drain()
  }

  test("txn: a keyless append-only member always rebases past a conflict") {
    warehouse
    spark.sql(s"DROP TABLE IF EXISTS $cat.tx_kl")
    spark.sql(s"""CREATE TABLE $cat.tx_kl
      (k BIGINT, grp BIGINT, amount BIGINT) USING graft
      TBLPROPERTIES ('append_only'='true', 'buckets'='2')""")
    val b = mkTable("tx_kl_b")
    spark.sql(s"INSERT INTO $cat.tx_kl VALUES (1, 0, 10)")
    spark.sql(s"INSERT INTO $cat.$b VALUES (100, 0, 1)")
    try {
      val began = spark.sql(s"CALL $cat.begin_txn(tables => 'tx_kl,$b')")
        .head().getString(0)
      spark.sql(s"INSERT INTO $cat.tx_kl VALUES (2, 0, 20)")
      spark.sql(s"UPDATE $cat.$b SET amount = 2 WHERE k = 100")
      // an outside append advances the keyless member off the fork —
      // first-committer-wins refuses the whole txn, intact
      outside.sql(s"INSERT INTO $cat.tx_kl VALUES (3, 1, 30)")
      intercept[Exception] { spark.sql(s"CALL $cat.commit_txn()").collect() }
      // keyless appends COMMUTE, so the rebase can never key-conflict:
      // the conflicted-txn retry on an append-only member is
      // deterministic — rebase, recommit, done
      spark.sql(s"CALL $cat.rebase_branch(table => 'tx_kl', " +
        s"name => '${graft.sources.GraftTxn.branchOf(began)}')")
      spark.sql(s"CALL $cat.commit_txn()").collect()
      assert(rows(outside, s"$cat.tx_kl") ===
        Seq((1L, 0L, 10L), (2L, 0L, 20L), (3L, 1L, 30L)),
        "both sides' appends must land")
      assert(rows(outside, s"$cat.$b") === Seq((100L, 0L, 2L)))
    } finally drain()
  }

  test("txn: leaked branches expire by TTL; the orphaned txn refuses loudly") {
    val a = mkTable("tx_gc_a")
    val b = mkTable("tx_gc_b")
    spark.sql(s"INSERT INTO $cat.$a VALUES (1, 0, 10)")
    spark.sql(s"INSERT INTO $cat.$b VALUES (2, 0, 20)")
    val dirA = s"$warehouse/$a"
    val dirB = s"$warehouse/$b"
    // a user-named (S40) branch must NEVER be swept
    spark.sql(s"CALL $cat.create_branch(table => '$a', name => 'feature')")
    try {
      spark.sql(s"CALL $cat.begin_txn(tables => '$a,$b', name => 'gcx')")
      spark.sql(s"INSERT INTO $cat.$a VALUES (7, 0, 70)")
      // a txn inside the retention window survives the sweep untouched
      assert(GraftStore.expireTxnBranches(dirA, 3600000L) === 0L)
      assert(rows(spark, s"$cat.$a") ===
        Seq((1L, 0L, 10L), (7L, 0L, 70L)), "still branch-routed")
      // past the window (ttl 0 after a beat): vacuum drops BOTH members'
      // txn branches — the dead-session GC — but not the user branch
      Thread.sleep(50)
      spark.sql(s"CALL $cat.vacuum(table => '$a', older_than_ms => 0)")
      assert(GraftStore.expireTxnBranches(dirB, 0L) === 1L)
      assert(GraftStore.listBranches(dirA) === Seq("feature"))
      assert(GraftStore.listBranches(dirB).isEmpty)
      // the orphaned session's commit refuses LOUDLY, txn intact enough
      // to roll back; nothing it staged ever reaches main
      val e = intercept[Exception] {
        spark.sql(s"CALL $cat.commit_txn()").collect()
      }
      assert(chain(e).exists(t => Option(t.getMessage)
        .exists(_.contains("lost its branch"))), s"got: $e")
      spark.sql(s"CALL $cat.rollback_txn()").collect()
      assert(rows(spark, s"$cat.$a") === Seq((1L, 0L, 10L)))
      assert(rows(spark, s"$cat.$b") === Seq((2L, 0L, 20L)))
    } finally {
      drain()
      try GraftStore.dropBranch(dirA, "feature")
      catch { case _: Exception => () }
    }
  }
}
