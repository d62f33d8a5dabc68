package graft

import java.nio.file.Files

import graft.sources.{GraftCatalog, GraftStore}

/** Writable branches (S40): `CALL create_branch` forks a self-contained
  * zero-copy clone addressable as `` t$branch$<name> `` (full DML) and
  * readable via `VERSION AS OF '<name>'` (tracks the branch head);
  * `CALL fast_forward` publishes the branch into main commit-by-commit
  * when main hasn't moved off the fork point. The spec pins isolation in
  * both directions, the true fast-forward (per-commit history, changelog
  * continuity, incremental MV refresh straight across the publish), the
  * divergence conflict, retention independence, and the namespace guards
  * branches share with tags. */
class BranchSpec extends SparkTestBase {

  private lazy val cat = "graftbr"
  private lazy val warehouse: String = {
    val p = Files.createTempDirectory("graft_branch_spec")
    p.toFile.deleteOnExit()
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", p.toString)
    p.toString
  }

  private def mkTable(name: String): String = {
    warehouse
    spark.sql(s"DROP TABLE IF EXISTS $cat.$name")
    spark.sql(s"""CREATE TABLE $cat.$name
      (k BIGINT NOT NULL, grp BIGINT, amount BIGINT) USING graft
      TBLPROPERTIES ('merge_key'='k', 'buckets'='4')""")
    name
  }

  private def rows(table: String): Seq[(Long, Long, Long)] =
    spark.sql(s"SELECT k, grp, amount FROM $table ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  private def chain(x: Throwable): Seq[Throwable] =
    Option(x).toSeq.flatMap(t => t +: chain(t.getCause))

  test("branch forks at head, writes are isolated in both directions") {
    val t = mkTable("br_iso")
    spark.sql(s"INSERT INTO $cat.$t VALUES (1, 0, 10), (2, 1, 20)")
    spark.sql(s"CALL $cat.create_branch(table => '$t', name => 'exp')")
    // listed with its fork point
    val b = spark.sql(s"SELECT * FROM $cat.`$t$$branches`").collect()(0)
    assert(b.getString(0) === "exp" && b.getLong(1) === 1L &&
      b.getLong(2) === 1L && b.getLong(3) === 0L)
    // branch DML: via the $branch$ table address
    spark.sql(s"INSERT INTO $cat.`$t$$branch$$exp` VALUES (3, 0, 30)")
    spark.sql(s"UPDATE $cat.`$t$$branch$$exp` SET amount = 11 WHERE k = 1")
    // main DML stays on main
    spark.sql(s"DELETE FROM $cat.$t WHERE k = 2")
    // branch head readable BY NAME, tracking the branch
    assert(rows(s"$cat.$t VERSION AS OF 'exp'") ===
      Seq((1L, 0L, 11L), (2L, 1L, 20L), (3L, 0L, 30L)))
    assert(rows(s"$cat.`$t$$branch$$exp`") ===
      Seq((1L, 0L, 11L), (2L, 1L, 20L), (3L, 0L, 30L)))
    // main untouched by branch writes
    assert(rows(s"$cat.$t") === Seq((1L, 0L, 10L)))
    spark.sql(s"CALL $cat.drop_branch(table => '$t', name => 'exp')")
    assert(spark.sql(s"SELECT * FROM $cat.`$t$$branches`").count() === 0)
  }

  test("fast_forward publishes commit-by-commit: history, CDC, reads") {
    val t = mkTable("br_ff")
    spark.sql(s"INSERT INTO $cat.$t VALUES (1, 0, 10), (2, 1, 20)") // v1
    spark.sql(s"CALL $cat.create_branch(table => '$t', name => 'wap')")
    // three distinct branch commits: insert, update, delete
    spark.sql(s"INSERT INTO $cat.`$t$$branch$$wap` VALUES (3, 0, 30)") // v2
    spark.sql(s"UPDATE $cat.`$t$$branch$$wap` SET amount = 21 WHERE k = 2") // v3
    spark.sql(s"DELETE FROM $cat.`$t$$branch$$wap` WHERE k = 1") // v4
    val ff = spark.sql(
      s"CALL $cat.fast_forward(table => '$t', name => 'wap')").head()
    assert(ff.getLong(0) === 4L)
    // main now reads the branch head
    assert(rows(s"$cat.$t") === Seq((2L, 1L, 21L), (3L, 0L, 30L)))
    // the branch is consumed
    assert(spark.sql(s"SELECT * FROM $cat.`$t$$branches`").count() === 0)
    // per-commit history survived: time travel to a MID-branch version
    assert(rows(s"$cat.$t VERSION AS OF 3") ===
      Seq((1L, 0L, 10L), (2L, 1L, 21L), (3L, 0L, 30L)))
    // the changelog is continuous across the publish: CDC rows exist for
    // every branch commit, with before-images
    val ops = spark.sql(s"SELECT change_version, change_op FROM " +
        s"$cat.`$t$$changes` WHERE change_version >= 2 " +
        "ORDER BY change_version, change_op")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(ops === Seq((2L, "I"), (3L, "U"), (4L, "D")))
    // main keeps writing past the adopted head
    spark.sql(s"INSERT INTO $cat.$t VALUES (5, 2, 50)") // v5
    assert(GraftStore.currentVersion(s"$warehouse/$t") === 5L)
    assert(rows(s"$cat.$t") ===
      Seq((2L, 1L, 21L), (3L, 0L, 30L), (5L, 2L, 50L)))
  }

  test("fast_forward conflicts loudly when main moved; branch survives") {
    val t = mkTable("br_conflict")
    spark.sql(s"INSERT INTO $cat.$t VALUES (1, 0, 10)")
    spark.sql(s"CALL $cat.create_branch(table => '$t', name => 'exp')")
    spark.sql(s"INSERT INTO $cat.`$t$$branch$$exp` VALUES (2, 0, 20)")
    spark.sql(s"INSERT INTO $cat.$t VALUES (9, 9, 90)") // main diverges
    val e = intercept[Exception] {
      spark.sql(s"CALL $cat.fast_forward(table => '$t', name => 'exp')")
    }
    assert(chain(e).exists(_.getMessage.contains("fork point")))
    // branch intact and still writable after the rejected publish
    assert(rows(s"$cat.`$t$$branch$$exp`") === Seq((1L, 0L, 10L), (2L, 0L, 20L)))
    spark.sql(s"INSERT INTO $cat.`$t$$branch$$exp` VALUES (3, 0, 30)")
    assert(rows(s"$cat.$t VERSION AS OF 'exp'").size === 3)
  }

  test("a commit-less branch fast-forwards as a no-op and is consumed") {
    val t = mkTable("br_noop")
    spark.sql(s"INSERT INTO $cat.$t VALUES (1, 0, 10)")
    spark.sql(s"CALL $cat.create_branch(table => '$t', name => 'idle')")
    val v = spark.sql(
      s"CALL $cat.fast_forward(table => '$t', name => 'idle')").head().getLong(0)
    assert(v === 1L)
    assert(spark.sql(s"SELECT * FROM $cat.`$t$$branches`").count() === 0)
  }

  test("branches survive aggressive retention on main (self-contained)") {
    val t = mkTable("br_retain")
    spark.sql(s"INSERT INTO $cat.$t VALUES (1, 0, 10), (2, 1, 20)")
    spark.sql(s"CALL $cat.create_branch(table => '$t', name => 'keep')")
    spark.sql(s"UPDATE $cat.$t SET amount = 99 WHERE k = 1")
    spark.sql(s"DELETE FROM $cat.$t WHERE k = 2")
    spark.sql(s"CALL $cat.expire_versions(table => '$t', keep_last => 1)")
    spark.sql(s"CALL $cat.vacuum(table => '$t', older_than_ms => 0)")
    // the branch still reads its fork snapshot whole
    assert(rows(s"$cat.$t VERSION AS OF 'keep'") ===
      Seq((1L, 0L, 10L), (2L, 1L, 20L)))
  }

  test("maintenance commits on a branch adopt cleanly; MV folds across") {
    val t = mkTable("br_mv")
    spark.sql(s"INSERT INTO $cat.$t VALUES (1, 0, 10), (2, 0, 20), (3, 1, 30)")
    spark.sql(s"DROP MATERIALIZED VIEW IF EXISTS $cat.br_mv_agg")
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.br_mv_agg AS " +
      s"SELECT grp, COUNT(*) AS n, SUM(amount) AS s FROM $cat.$t GROUP BY grp")
    spark.sql(s"CALL $cat.create_branch(table => '$t', name => 'load')")
    spark.sql(s"INSERT INTO $cat.`$t$$branch$$load` VALUES (4, 1, 40)")
    // a changelog-less maintenance commit in the middle of the branch
    spark.sql(s"CALL $cat.optimize(table => '$t$$branch$$load', " +
      "max_files_per_bucket => 0)")
    spark.sql(s"DELETE FROM $cat.`$t$$branch$$load` WHERE k = 1")
    // freshness across the publish: branch commits are INVISIBLE to main
    // until the pointer flips, so the MV reports fresh before and stale
    // exactly at the publish
    def stale(): Boolean = spark.sql(
      s"SELECT stale FROM $cat.`br_mv_agg$$mv`").head().getBoolean(0)
    assert(!stale(), "pre-publish: branch commits must not read as stale")
    spark.sql(s"CALL $cat.fast_forward(table => '$t', name => 'load')")
    assert(stale(), "the publish makes the MV stale")
    // the MV refresh folds the ADOPTED branch changelog incrementally
    val r = spark.sql(s"CALL $cat.refresh_mv(view => 'br_mv_agg')").head()
    assert(r.getString(1) === "incremental")
    assert(!stale(), "refresh restores freshness")
    val got = spark.sql(s"SELECT grp, n, s FROM $cat.br_mv_agg ORDER BY grp")
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSeq
    assert(got === Seq((0L, 1L, 20L), (1L, 2L, 70L)))
    // and the same holds across a REBASE + publish: main moves, the
    // branch rebases (replayed commits), the publish adopts the replays,
    // the MV folds them incrementally too
    spark.sql(s"CALL $cat.create_branch(table => '$t', name => 'load2')")
    spark.sql(s"INSERT INTO $cat.`$t$$branch$$load2` VALUES (7, 2, 70)")
    spark.sql(s"INSERT INTO $cat.$t VALUES (8, 0, 80)") // main moves
    assert(spark.sql(s"CALL $cat.refresh_mv(view => 'br_mv_agg')").head()
      .getString(1) === "incremental") // fold main's own commit first
    spark.sql(s"CALL $cat.rebase_branch(table => '$t', name => 'load2')")
    spark.sql(s"CALL $cat.fast_forward(table => '$t', name => 'load2')")
    assert(stale())
    assert(spark.sql(s"CALL $cat.refresh_mv(view => 'br_mv_agg')").head()
      .getString(1) === "incremental")
    val got2 = spark.sql(s"SELECT grp, n, s FROM $cat.br_mv_agg ORDER BY grp")
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSeq
    assert(got2 === Seq((0L, 2L, 100L), (1L, 2L, 70L), (2L, 1L, 70L)))
  }

  test("name guards: tag collisions both ways, reserved table names") {
    val t = mkTable("br_names")
    spark.sql(s"INSERT INTO $cat.$t VALUES (1, 0, 10)")
    spark.sql(s"CALL $cat.create_tag(table => '$t', name => 'pinned')")
    val e1 = intercept[Exception] {
      spark.sql(s"CALL $cat.create_branch(table => '$t', name => 'pinned')")
    }
    assert(chain(e1).exists(_.getMessage.contains("tag")))
    spark.sql(s"CALL $cat.create_branch(table => '$t', name => 'side')")
    val e2 = intercept[Exception] {
      spark.sql(s"CALL $cat.create_tag(table => '$t', name => 'side')")
    }
    // tags check refs only; the duplicate surfaces on resolution — accept
    // either a loud create failure or the branch still resolving first
    if (chain(e2).isEmpty) fail("expected tag/branch collision to fail")
    val e3 = intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.`x$$branch$$y` (k BIGINT NOT NULL) USING graft")
    }
    assert(chain(e3).exists(_.getMessage.contains("reserved")))
    val e4 = intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.`$t$$branch$$nope`").collect()
    }
    assert(chain(e4).exists(_.getMessage.contains("no branch")))
  }

  test("time travel works on the branch address; stray dirs stay invisible") {
    val t = mkTable("br_tt")
    val dir = s"$warehouse/$t"
    spark.sql(s"INSERT INTO $cat.$t VALUES (1, 0, 10)") // v1
    spark.sql(s"CALL $cat.create_branch(table => '$t', name => 'tt')")
    spark.sql(s"INSERT INTO $cat.`$t$$branch$$tt` VALUES (2, 0, 20)") // branch v2
    // VERSION AS OF on the branch ADDRESS reads the branch's own history
    assert(rows(s"$cat.`$t$$branch$$tt` VERSION AS OF 1") === Seq((1L, 0L, 10L)))
    assert(rows(s"$cat.`$t$$branch$$tt` VERSION AS OF 2") ===
      Seq((1L, 0L, 10L), (2L, 0L, 20L)))
    // a build dir ABOVE main's pointer (debris of a crashed publish, or
    // of an aborted group or txn) is invisible to the version listing,
    // unreadable via time travel, reclaimed by vacuum once unclaimed, and
    // never in the way of a later publish that reaches its version
    val stray = java.nio.file.Paths.get(
      s"${GraftStore.versionDir(dir, 7L)}.build-crashed")
    Files.createDirectories(stray)
    assert(GraftStore.listVersions(dir) === Seq(0L, 1L))
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.$t VERSION AS OF 7").collect()
    }
    assert(chain(e).exists(_.getMessage.contains("no version 7")))
    GraftStore.vacuum(dir, olderThanMillis = 0L)
    assert(!Files.isDirectory(stray), "vacuum must reclaim unclaimed FF debris")
    // the same debris at fork+1 — exactly the version the publish adopts
    Files.createDirectories(java.nio.file.Paths.get(
      s"${GraftStore.versionDir(dir, 2L)}.build-crashed", "gbucket=0"))
    spark.sql(s"CALL $cat.fast_forward(table => '$t', name => 'tt')")
    assert(rows(s"$cat.$t") === Seq((1L, 0L, 10L), (2L, 0L, 20L)))
  }

  test("rebase replays disjoint-key divergence onto main's head") {
    val t = mkTable("br_rebase")
    val dir = s"$warehouse/$t"
    spark.sql(s"INSERT INTO $cat.$t VALUES (1, 0, 10), (2, 1, 20), (3, 2, 30)")
    spark.sql(s"CALL $cat.create_branch(table => '$t', name => 'rb')")
    // branch: two commits touching keys {4, 1}
    spark.sql(s"INSERT INTO $cat.`$t$$branch$$rb` VALUES (4, 0, 40)")
    spark.sql(s"UPDATE $cat.`$t$$branch$$rb` SET amount = 11 WHERE k = 1")
    // main: two commits touching keys {5, 2} — disjoint
    spark.sql(s"INSERT INTO $cat.$t VALUES (5, 1, 50)")
    spark.sql(s"DELETE FROM $cat.$t WHERE k = 2")
    // fast_forward must conflict (main moved)
    val eFf = intercept[Exception] {
      spark.sql(s"CALL $cat.fast_forward(table => '$t', name => 'rb')")
    }
    assert(chain(eFf).exists(x => x.getMessage != null &&
      x.getMessage.contains("advanced past the fork point")), s"got $eFf")
    val mainHead = GraftStore.currentVersion(dir)
    // rebase: re-forks at main's head, replays the branch's two commits
    val v = spark.sql(s"CALL $cat.rebase_branch(table => '$t', name => 'rb')")
      .head().getLong(0)
    assert(v === mainHead + 2, "two replayed commits atop main's head")
    assert(GraftStore.branchForkBase(dir, "rb") === mainHead)
    // the rebased branch sees BOTH sides' changes
    assert(rows(s"$cat.`$t$$branch$$rb`") ===
      Seq((1L, 0L, 11L), (3L, 2L, 30L), (4L, 0L, 40L), (5L, 1L, 50L)))
    // main untouched by the rebase
    assert(rows(s"$cat.$t") ===
      Seq((1L, 0L, 10L), (3L, 2L, 30L), (5L, 1L, 50L)))
    // and now fast_forward publishes cleanly, commit-by-commit
    spark.sql(s"CALL $cat.fast_forward(table => '$t', name => 'rb')")
    assert(GraftStore.currentVersion(dir) === mainHead + 2)
    assert(rows(s"$cat.$t") ===
      Seq((1L, 0L, 11L), (3L, 2L, 30L), (4L, 0L, 40L), (5L, 1L, 50L)))
    // per-commit history survived: the replayed intermediate version is
    // time-travelable on main (insert landed, update not yet)
    assert(rows(s"$cat.$t VERSION AS OF ${mainHead + 1}") ===
      Seq((1L, 0L, 10L), (3L, 2L, 30L), (4L, 0L, 40L), (5L, 1L, 50L)))
    // CDC continuity: the adopted replayed commits carry change rows
    val ops = spark.sql(s"SELECT change_op, COUNT(*) FROM $cat.`$t$$changes` " +
      s"WHERE change_version > $mainHead GROUP BY 1").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ops.getOrElse("I", 0L) === 1L && ops.getOrElse("U", 0L) === 1L)
  }

  test("rebase conflicts loudly on overlapping keys; branch intact") {
    val t = mkTable("br_rbconf")
    spark.sql(s"INSERT INTO $cat.$t VALUES (1, 0, 10), (2, 1, 20)")
    spark.sql(s"CALL $cat.create_branch(table => '$t', name => 'rbc')")
    spark.sql(s"UPDATE $cat.`$t$$branch$$rbc` SET amount = 11 WHERE k = 1")
    spark.sql(s"INSERT INTO $cat.`$t$$branch$$rbc` VALUES (9, 0, 90)")
    // main touches key 1 too — overlapping divergence
    spark.sql(s"UPDATE $cat.$t SET amount = 12 WHERE k = 1")
    val e = intercept[Exception] {
      spark.sql(s"CALL $cat.rebase_branch(table => '$t', name => 'rbc')")
    }
    assert(chain(e).exists(x => x.getMessage != null &&
      x.getMessage.contains("rebase conflict")), s"got $e")
    // the branch survives the conflict with its content intact
    assert(rows(s"$cat.`$t$$branch$$rbc`") ===
      Seq((1L, 0L, 11L), (2L, 1L, 20L), (9L, 0L, 90L)))
    assert(rows(s"$cat.$t") === Seq((1L, 0L, 12L), (2L, 1L, 20L)))
    // main at the fork → nothing to rebase onto, loudly toward the fix
    val t2 = mkTable("br_rbnoop")
    spark.sql(s"INSERT INTO $cat.$t2 VALUES (1, 0, 10)")
    spark.sql(s"CALL $cat.create_branch(table => '$t2', name => 'rbn')")
    spark.sql(s"INSERT INTO $cat.`$t2$$branch$$rbn` VALUES (2, 1, 20)")
    val e2 = intercept[Exception] {
      spark.sql(s"CALL $cat.rebase_branch(table => '$t2', name => 'rbn')")
    }
    assert(chain(e2).exists(x => x.getMessage != null &&
      x.getMessage.contains("use fast_forward")), s"got $e2")
  }

  test("rebase refuses boundaries on the branch (not replayable)") {
    val t = mkTable("br_rbbound")
    spark.sql(s"INSERT INTO $cat.$t VALUES (1, 0, 10)")
    spark.sql(s"CALL $cat.create_branch(table => '$t', name => 'rbb')")
    spark.sql(s"INSERT OVERWRITE $cat.`$t$$branch$$rbb` VALUES (7, 7, 70)")
    spark.sql(s"INSERT INTO $cat.$t VALUES (2, 1, 20)") // main moves
    val e = intercept[Exception] {
      spark.sql(s"CALL $cat.rebase_branch(table => '$t', name => 'rbb')")
    }
    assert(chain(e).exists(x => x.getMessage != null &&
      x.getMessage.contains("snapshot boundary")), s"got $e")
    assert(rows(s"$cat.`$t$$branch$$rbb`") === Seq((7L, 7L, 70L)))
  }

  test("publish and rebase conflict with an in-flight branch writer") {
    val t = mkTable("br_inflight")
    val dir = s"$warehouse/$t"
    spark.sql(s"INSERT INTO $cat.$t VALUES (1, 0, 10)")
    spark.sql(s"CALL $cat.create_branch(table => '$t', name => 'w')")
    spark.sql(s"INSERT INTO $cat.`$t$$branch$$w` VALUES (2, 1, 20)")
    val bd = GraftStore.branchDir(dir, "w")
    // simulate a branch writer mid-commit: a FRESH claim on the branch's
    // next version. Both consuming operations must conflict loudly
    // instead of destroying the writer's about-to-land commit with the
    // branch (the silent-data-loss hazard the branch-head claim closes).
    val next = GraftStore.currentVersion(bd) + 1
    val marker = java.nio.file.Paths.get(bd, f"_commit-$next%010d")
    Files.write(marker, "foreign-writer".getBytes("UTF-8"))
    val eFf = intercept[java.util.ConcurrentModificationException] {
      GraftStore.fastForward(dir, "w")
    }
    assert(eFf.getMessage.contains("claim"), s"got $eFf")
    spark.sql(s"INSERT INTO $cat.$t VALUES (3, 2, 30)") // main moves
    intercept[java.util.ConcurrentModificationException] {
      GraftStore.rebaseBranch(spark, dir, "w")
    }
    // the branch is whole either way; once the writer finishes (claim
    // released), rebase + publish proceed
    assert(rows(s"$cat.`$t$$branch$$w`") === Seq((1L, 0L, 10L), (2L, 1L, 20L)))
    Files.delete(marker)
    GraftStore.rebaseBranch(spark, dir, "w")
    GraftStore.fastForward(dir, "w")
    assert(rows(s"$cat.$t") ===
      Seq((1L, 0L, 10L), (2L, 1L, 20L), (3L, 2L, 30L)))
  }

  test("publish_group flips every member or none; success is atomic") {
    val a = mkTable("grp_a")
    val b = mkTable("grp_b")
    spark.sql(s"INSERT INTO $cat.$a VALUES (1, 0, 10), (2, 1, 20)")
    spark.sql(s"INSERT INTO $cat.$b VALUES (5, 0, 50)")
    Seq(a, b).foreach(t =>
      spark.sql(s"CALL $cat.create_branch(table => '$t', name => 'wap')"))
    spark.sql(s"INSERT INTO $cat.`$a$$branch$$wap` VALUES (3, 0, 30)")
    spark.sql(s"UPDATE $cat.`$a$$branch$$wap` SET amount = 11 WHERE k = 1")
    spark.sql(s"INSERT INTO $cat.`$b$$branch$$wap` VALUES (6, 1, 60)")
    val r = spark.sql(s"CALL $cat.publish_group(tables => '$a,$b', " +
      "name => 'wap')").head()
    assert(r.getLong(0) === 2L)
    assert(rows(s"$cat.$a") === Seq((1L, 0L, 11L), (2L, 1L, 20L),
      (3L, 0L, 30L)))
    assert(rows(s"$cat.$b") === Seq((5L, 0L, 50L), (6L, 1L, 60L)))
    // branches consumed; CDC present for the adopted commits on BOTH
    assert(GraftStore.listBranches(s"$warehouse/$a").isEmpty)
    assert(GraftStore.listBranches(s"$warehouse/$b").isEmpty)
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.`$a$$changes` " +
      "WHERE change_version > 1").head().getLong(0) > 0)
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.`$b$$changes` " +
      "WHERE change_version > 1").head().getLong(0) > 0)
  }

  test("publish_group crash before the decision publishes NEITHER") {
    val a = mkTable("grpc_a")
    val b = mkTable("grpc_b")
    spark.sql(s"INSERT INTO $cat.$a VALUES (1, 0, 10)")
    spark.sql(s"INSERT INTO $cat.$b VALUES (5, 0, 50)")
    Seq(a, b).foreach(t =>
      spark.sql(s"CALL $cat.create_branch(table => '$t', name => 'wap')"))
    spark.sql(s"INSERT INTO $cat.`$a$$branch$$wap` VALUES (2, 0, 20)")
    spark.sql(s"INSERT INTO $cat.`$b$$branch$$wap` VALUES (6, 0, 60)")
    GraftStore.withCrashAt("publishGroup.before-decision") {
      intercept[Exception] {
        spark.sql(s"CALL $cat.publish_group(tables => '$a,$b', name => 'wap')")
      }
    }
    // the coordinator "died" with everything staged: NEITHER table moved
    assert(rows(s"$cat.$a") === Seq((1L, 0L, 10L)))
    assert(rows(s"$cat.$b") === Seq((5L, 0L, 50L)))
    // both branches intact (a group consumes only on commit)
    assert(GraftStore.branchExists(s"$warehouse/$a", "wap"))
    assert(GraftStore.branchExists(s"$warehouse/$b", "wap"))
    // once the dead coordinator's claims age out, a retry aborts the
    // stalled group and publishes cleanly
    val saved = sys.props.get("graft.store.staleClaimMillis")
    sys.props("graft.store.staleClaimMillis") = "50"
    try {
      Thread.sleep(120)
      val r = spark.sql(s"CALL $cat.publish_group(tables => '$a,$b', " +
        "name => 'wap')").head()
      assert(r.getLong(0) === 2L)
    } finally saved match {
      case Some(v) => sys.props("graft.store.staleClaimMillis") = v
      case None => sys.props.remove("graft.store.staleClaimMillis")
    }
    assert(rows(s"$cat.$a") === Seq((1L, 0L, 10L), (2L, 0L, 20L)))
    assert(rows(s"$cat.$b") === Seq((5L, 0L, 50L), (6L, 0L, 60L)))
  }

  test("publish_group crash after the decision rolls FORWARD on read") {
    val a = mkTable("grpf_a")
    val b = mkTable("grpf_b")
    spark.sql(s"INSERT INTO $cat.$a VALUES (1, 0, 10)")
    spark.sql(s"INSERT INTO $cat.$b VALUES (5, 0, 50)")
    Seq(a, b).foreach(t =>
      spark.sql(s"CALL $cat.create_branch(table => '$t', name => 'wap')"))
    spark.sql(s"INSERT INTO $cat.`$a$$branch$$wap` VALUES (2, 0, 20)")
    spark.sql(s"INSERT INTO $cat.`$b$$branch$$wap` VALUES (6, 0, 60)")
    GraftStore.withCrashAt("publishGroup.between-flips") {
      intercept[Exception] {
        spark.sql(s"CALL $cat.publish_group(tables => '$a,$b', name => 'wap')")
      }
    }
    // decision durable, first member flipped, coordinator "died": a plain
    // read of EITHER member completes the group (scan-path recovery), so
    // no reader can plan the second member's pre-publish snapshot
    assert(rows(s"$cat.$b") === Seq((5L, 0L, 50L), (6L, 0L, 60L)))
    assert(rows(s"$cat.$a") === Seq((1L, 0L, 10L), (2L, 0L, 20L)))
    // markers cleaned, branches consumed by the recovery
    assert(!Files.exists(java.nio.file.Paths.get(
      s"$warehouse/$a", "_groupcommit")))
    assert(!Files.exists(java.nio.file.Paths.get(
      s"$warehouse/$b", "_groupcommit")))
    assert(GraftStore.listBranches(s"$warehouse/$a").isEmpty)
    assert(GraftStore.listBranches(s"$warehouse/$b").isEmpty)
  }

  test("roll-forward declines a branch without _incarnation and never stamps it") {
    val a = mkTable("grpn_a")
    val b = mkTable("grpn_b")
    spark.sql(s"INSERT INTO $cat.$a VALUES (1, 0, 10)")
    spark.sql(s"INSERT INTO $cat.$b VALUES (5, 0, 50)")
    Seq(a, b).foreach(t =>
      spark.sql(s"CALL $cat.create_branch(table => '$t', name => 'wap')"))
    spark.sql(s"INSERT INTO $cat.`$a$$branch$$wap` VALUES (2, 0, 20)")
    spark.sql(s"INSERT INTO $cat.`$b$$branch$$wap` VALUES (6, 0, 60)")
    GraftStore.withCrashAt("publishGroup.between-flips") {
      intercept[Exception] {
        spark.sql(s"CALL $cat.publish_group(tables => '$a,$b', name => 'wap')")
      }
    }
    // b (second in sorted order) is decided but not completed; its branch
    // has lost the stamp the manifest pinned, so it cannot be identified
    val bDir = s"$warehouse/$b"
    val bBranch = GraftStore.branchDir(bDir, "wap")
    val stamp = java.nio.file.Paths.get(bBranch, "_incarnation")
    Files.delete(stamp)
    assert(rows(s"$cat.$b") === Seq((5L, 0L, 50L), (6L, 0L, 60L)))
    assert(GraftStore.currentVersion(bDir) === GraftStore.currentVersion(bBranch))
    assert(!Files.exists(java.nio.file.Paths.get(bDir, "_groupcommit")))
    // "not ours": the drop is declined and nothing is written into the tree
    assert(GraftStore.branchExists(bDir, "wap"))
    assert(!Files.exists(stamp))
  }

  test("a publish after an aborted group adopts its own branch, not the debris") {
    val a = mkTable("grpab_a")
    val b = mkTable("grpab_b")
    val aDir = s"$warehouse/$a"
    spark.sql(s"INSERT INTO $cat.$a VALUES (1, 0, 10)")
    spark.sql(s"INSERT INTO $cat.$b VALUES (5, 0, 50)")
    Seq(a, b).foreach(t =>
      spark.sql(s"CALL $cat.create_branch(table => '$t', name => 'x')"))
    spark.sql(s"INSERT INTO $cat.`$a$$branch$$x` VALUES (2, 0, 20)")
    spark.sql(s"INSERT INTO $cat.`$b$$branch$$x` VALUES (6, 0, 60)")
    spark.sql(s"INSERT INTO $cat.$b VALUES (7, 1, 70)") // b moved off fork
    val e = intercept[Exception] {
      spark.sql(s"CALL $cat.publish_group(tables => '$a,$b', name => 'x')")
    }
    assert(chain(e).exists(x => Option(x.getMessage).exists(
      _.contains("fork point"))))
    // a's adoption of branch x's v2 stays a build dir, unread
    assert(new java.io.File(aDir).list().exists(_.startsWith(
      f"v${2L}%010d.build-")))
    assert(rows(s"$cat.$a") === Seq((1L, 0L, 10L)))
    // an unrelated branch publishes its own v2 over that debris
    spark.sql(s"CALL $cat.drop_branch(table => '$a', name => 'x')")
    spark.sql(s"CALL $cat.create_branch(table => '$a', name => 'y')")
    spark.sql(s"INSERT INTO $cat.`$a$$branch$$y` VALUES (3, 0, 30)")
    spark.sql(s"CALL $cat.fast_forward(table => '$a', name => 'y')")
    assert(GraftStore.currentVersion(aDir) === 2L)
    assert(rows(s"$cat.$a") === Seq((1L, 0L, 10L), (3L, 0L, 30L)))
    // the snapshot and its changelog name the same keys
    val changed = spark.sql(s"SELECT k, change_op FROM $cat.`$a$$changes` " +
        "WHERE change_version = 2 ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(changed === Seq((3L, "I")))
  }

  test("an aborted publish_group leaves the adopted branch's versions intact") {
    val a = mkTable("grpkeep_a")
    val b = mkTable("grpkeep_b")
    spark.sql(s"INSERT INTO $cat.$a SELECT id, 0, id * 10 FROM range(1, 21)") // v1
    spark.sql(s"INSERT INTO $cat.$a VALUES (100, 0, 1000)") // v2
    spark.sql(s"INSERT INTO $cat.$b VALUES (5, 0, 50)")
    Seq(a, b).foreach(t =>
      spark.sql(s"CALL $cat.create_branch(table => '$t', name => 'x')"))
    spark.sql(s"INSERT INTO $cat.`$a$$branch$$x` VALUES (200, 0, 2000)") // v3
    spark.sql(s"INSERT INTO $cat.`$b$$branch$$x` VALUES (6, 0, 60)")
    spark.sql(s"INSERT INTO $cat.$b VALUES (7, 1, 70)") // b moved off fork
    val e = intercept[Exception] {
      spark.sql(s"CALL $cat.publish_group(tables => '$a,$b', name => 'x')")
    }
    assert(chain(e).exists(x => Option(x.getMessage).exists(
      _.contains("fork point"))))
    // adopting a's branch v3 into main re-pointed the copy's owner
    // references at main's owners; the branch's own v3 must not change
    val branchKeys = ((1L to 20L) ++ Seq(100L, 200L)).toSeq
    assert(rows(s"$cat.`$a$$branch$$x`").map(_._1) === branchKeys)
    assert(rows(s"$cat.$a").map(_._1) === (1L to 20L) :+ 100L)
    // and the branch still publishes once b is rebased
    spark.sql(s"CALL $cat.rebase_branch(table => '$b', name => 'x')")
    spark.sql(s"CALL $cat.publish_group(tables => '$a,$b', name => 'x')")
    assert(rows(s"$cat.$a").map(_._1) === branchKeys)
  }

  test("publish_group conflicts when one member's main moved off its fork") {
    val a = mkTable("grpx_a")
    val b = mkTable("grpx_b")
    spark.sql(s"INSERT INTO $cat.$a VALUES (1, 0, 10)")
    spark.sql(s"INSERT INTO $cat.$b VALUES (5, 0, 50)")
    Seq(a, b).foreach(t =>
      spark.sql(s"CALL $cat.create_branch(table => '$t', name => 'wap')"))
    spark.sql(s"INSERT INTO $cat.`$a$$branch$$wap` VALUES (2, 0, 20)")
    spark.sql(s"INSERT INTO $cat.`$b$$branch$$wap` VALUES (6, 0, 60)")
    spark.sql(s"INSERT INTO $cat.$b VALUES (7, 1, 70)") // b moved off fork
    val e = intercept[Exception] {
      spark.sql(s"CALL $cat.publish_group(tables => '$a,$b', name => 'wap')")
    }
    assert(chain(e).exists(x => Option(x.getMessage).exists(
      _.contains("fork point"))))
    // NOTHING published on either member; branches intact for a rebase
    assert(rows(s"$cat.$a") === Seq((1L, 0L, 10L)))
    assert(rows(s"$cat.$b") === Seq((5L, 0L, 50L), (7L, 1L, 70L)))
    assert(GraftStore.branchExists(s"$warehouse/$a", "wap"))
    assert(GraftStore.branchExists(s"$warehouse/$b", "wap"))
    // the standard recourse works per member: rebase b, publish the group
    spark.sql(s"CALL $cat.rebase_branch(table => '$b', name => 'wap')")
    val r = spark.sql(s"CALL $cat.publish_group(tables => '$a,$b', " +
      "name => 'wap')").head()
    assert(r.getLong(0) === 2L)
    assert(rows(s"$cat.$a") === Seq((1L, 0L, 10L), (2L, 0L, 20L)))
    assert(rows(s"$cat.$b") ===
      Seq((5L, 0L, 50L), (6L, 0L, 60L), (7L, 1L, 70L)))
  }

  test("ALTER on a branch blocks fast_forward loudly") {
    val t = mkTable("br_alter")
    spark.sql(s"INSERT INTO $cat.$t VALUES (1, 0, 10)")
    spark.sql(s"CALL $cat.create_branch(table => '$t', name => 'ddl')")
    spark.sql(s"ALTER TABLE $cat.`$t$$branch$$ddl` ADD COLUMN note STRING")
    spark.sql(s"INSERT INTO $cat.`$t$$branch$$ddl` VALUES (2, 0, 20, 'x')")
    val e = intercept[Exception] {
      spark.sql(s"CALL $cat.fast_forward(table => '$t', name => 'ddl')")
    }
    assert(chain(e).exists(_.getMessage.contains("SCHEMA")))
    // the branch is still intact and readable
    assert(spark.sql(s"SELECT * FROM $cat.`$t$$branch$$ddl`").count() === 2)
  }
}
