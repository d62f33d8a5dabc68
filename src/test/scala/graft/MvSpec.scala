package graft

import java.nio.file.Files

import graft.sources.{GraftCatalog, GraftMaterializedViews, GraftStats, GraftStore}

/** Materialized views (S39): `CREATE MATERIALIZED VIEW` persists the
  * definition and materializes the query into a backing state table;
  * `CALL refresh_mv` / `REFRESH MATERIALIZED VIEW` folds exactly the
  * source changelog since the last refresh when the definition is a
  * self-maintainable aggregate (COUNT/SUM over one table), recomputing
  * otherwise; reads serve the state. The spec pins the refresh contract
  * the driver gate can't: group extinction, null-correct SUMs, the
  * restore/snapshot-boundary fallback, noop detection across maintenance
  * commits, and the shared-namespace failure modes. */
class MvSpec extends SparkTestBase {

  private lazy val cat = "graftmv"
  private lazy val warehouse: String = {
    val p = Files.createTempDirectory("graft_mv_spec")
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

  private def refresh(mv: String): (Long, String) = {
    val r = spark.sql(s"CALL $cat.refresh_mv(view => '$mv')").collect()(0)
    (r.getLong(0), r.getString(1))
  }

  private def rowsOf(mv: String): Seq[(Long, Long, Any)] =
    spark.sql(s"SELECT * FROM $cat.$mv ORDER BY grp")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getLong(2))).toSeq

  private def recompute(t: String): Seq[(Long, Long, Any)] =
    spark.sql(s"SELECT grp, COUNT(*) AS n, SUM(amount) AS s FROM $cat.$t " +
        "GROUP BY grp ORDER BY grp")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getLong(2))).toSeq

  private def chain(x: Throwable): Seq[Throwable] =
    Option(x).toSeq.flatMap(t => t +: chain(t.getCause))

  test("create materializes, read serves state, refresh is incremental") {
    val t = mkTable("mv_base")
    spark.sql(s"INSERT INTO $cat.$t VALUES " +
      "(1, 0, 10), (2, 0, 20), (3, 1, 30), (4, 1, 40), (5, 2, 50)")
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.mv_agg AS " +
      s"SELECT grp, COUNT(*) AS n, SUM(amount) AS s FROM $cat.$t GROUP BY grp")
    // the definition and the state table are both on disk
    assert(Files.exists(java.nio.file.Paths.get(warehouse, "_mvs",
      "mv_agg.json")))
    assert(GraftStore.exists(s"$warehouse/__mv_state_mv_agg"))
    assert(rowsOf("mv_agg") === recompute(t))
    // reads serve the STATE: source DML does NOT show through until refresh
    spark.sql(s"INSERT INTO $cat.$t VALUES (6, 2, 60)")
    assert(rowsOf("mv_agg") !== recompute(t))
    // every self-maintainable hard case in one slice: fresh insert, a
    // group-moving update, a plain update, a delete
    spark.sql(s"UPDATE $cat.$t SET grp = 1, amount = 11 WHERE k = 1")
    spark.sql(s"UPDATE $cat.$t SET amount = 21 WHERE k = 2")
    spark.sql(s"DELETE FROM $cat.$t WHERE k = 4")
    val (_, mode) = refresh("mv_agg")
    assert(mode === "incremental")
    assert(rowsOf("mv_agg") === recompute(t))
    // already folded → noop, contents stable
    val (_, mode2) = refresh("mv_agg")
    assert(mode2 === "noop")
    assert(rowsOf("mv_agg") === recompute(t))
  }

  test("group extinction and resurrection across refreshes") {
    val t = mkTable("t_mv_ext")
    spark.sql(s"INSERT INTO $cat.$t VALUES (1, 7, 10), (2, 7, 20), (3, 8, 30)")
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.mv_ext AS " +
      s"SELECT grp, COUNT(*) AS n, SUM(amount) AS s FROM $cat.$t GROUP BY grp")
    spark.sql(s"DELETE FROM $cat.$t WHERE grp = 7")
    assert(refresh("mv_ext")._2 === "incremental")
    assert(rowsOf("mv_ext") === Seq((8L, 1L, 30L)))
    spark.sql(s"INSERT INTO $cat.$t VALUES (9, 7, 70)")
    assert(refresh("mv_ext")._2 === "incremental")
    assert(rowsOf("mv_ext") === Seq((7L, 1L, 70L), (8L, 1L, 30L)))
  }

  test("SUM stays null-correct through incremental maintenance") {
    val t = mkTable("t_mv_null")
    spark.sql(s"INSERT INTO $cat.$t VALUES (1, 0, NULL), (2, 0, 5), (3, 1, NULL)")
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.mv_null AS " +
      s"SELECT grp, COUNT(*) AS n, SUM(amount) AS s FROM $cat.$t GROUP BY grp")
    // group 1 is all-null from the start: SUM must be NULL, not 0
    assert(rowsOf("mv_null") === Seq((0L, 2L, 5L), (1L, 1L, null)))
    // deleting the only non-null contributor flips group 0's SUM to NULL
    spark.sql(s"DELETE FROM $cat.$t WHERE k = 2")
    assert(refresh("mv_null")._2 === "incremental")
    assert(rowsOf("mv_null") === Seq((0L, 1L, null), (1L, 1L, null)))
    // and a non-null arrival flips it back
    spark.sql(s"INSERT INTO $cat.$t VALUES (4, 1, 9)")
    assert(refresh("mv_null")._2 === "incremental")
    assert(rowsOf("mv_null") === Seq((0L, 1L, null), (1L, 2L, 9L)))
  }

  test("WHERE in the definition: updates move rows across the filter") {
    val t = mkTable("t_mv_filt")
    spark.sql(s"INSERT INTO $cat.$t VALUES " +
      "(1, 0, 10), (2, 0, 100), (3, 1, 200)")
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.mv_filt AS " +
      s"SELECT grp, COUNT(*) AS n, SUM(amount) AS s FROM $cat.$t " +
      "WHERE amount >= 50 GROUP BY grp")
    assert(rowsOf("mv_filt") === Seq((0L, 1L, 100L), (1L, 1L, 200L)))
    // k=1 enters the filtered set, k=3 leaves it
    spark.sql(s"UPDATE $cat.$t SET amount = 60 WHERE k = 1")
    spark.sql(s"UPDATE $cat.$t SET amount = 40 WHERE k = 3")
    assert(refresh("mv_filt")._2 === "incremental")
    assert(rowsOf("mv_filt") === Seq((0L, 2L, 160L)))
  }

  test("grouping on an expression and a global (no GROUP BY) aggregate") {
    val t = mkTable("t_mv_expr")
    spark.sql(s"INSERT INTO $cat.$t VALUES (1, 0, 10), (2, 0, 20), (3, 0, 30)")
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.mv_expr AS " +
      s"SELECT k % 2 AS odd, COUNT(*) AS n, SUM(amount) AS s FROM $cat.$t " +
      "GROUP BY k % 2")
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.mv_glob AS " +
      s"SELECT COUNT(*) AS n, SUM(amount) AS s FROM $cat.$t")
    spark.sql(s"DELETE FROM $cat.$t WHERE k = 2")
    assert(refresh("mv_expr")._2 === "incremental")
    assert(refresh("mv_glob")._2 === "incremental")
    val expr = spark.sql(s"SELECT * FROM $cat.mv_expr ORDER BY odd").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(expr === Seq((0L, 0L, 0L), (1L, 2L, 40L))
      .filter(_._2 > 0)) // extinct even-group dropped
    // the global aggregate keeps its one row even when the table empties
    spark.sql(s"DELETE FROM $cat.$t WHERE k IN (1, 3)")
    assert(refresh("mv_glob")._2 === "incremental")
    val glob = spark.sql(s"SELECT * FROM $cat.mv_glob").collect()(0)
    assert(glob.getLong(0) === 0L && glob.isNullAt(1))
  }

  test("a snapshot boundary on the source forces a full recompute") {
    val t = mkTable("mv_restore")
    spark.sql(s"INSERT INTO $cat.$t VALUES (1, 0, 10), (2, 1, 20)") // v1
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.mv_rst AS " +
      s"SELECT grp, COUNT(*) AS n, SUM(amount) AS s FROM $cat.$t GROUP BY grp")
    spark.sql(s"INSERT INTO $cat.$t VALUES (3, 1, 30)") // v2
    assert(refresh("mv_rst")._2 === "incremental")
    // restore commits a NEW version with no changelog slice and a
    // boundary marker: the delta path is poisoned, refresh must recompute
    spark.sql(s"CALL $cat.restore(table => '$t', version => 1)")
    assert(refresh("mv_rst")._2 === "full")
    assert(rowsOf("mv_rst") === recompute(t))
    // and the lane heals: post-restore DML folds incrementally again
    spark.sql(s"INSERT INTO $cat.$t VALUES (4, 0, 40)")
    assert(refresh("mv_rst")._2 === "incremental")
    assert(rowsOf("mv_rst") === recompute(t))
  }

  test("pure-maintenance source commits are a noop, not a recompute") {
    val t = mkTable("mv_maint")
    spark.sql(s"INSERT INTO $cat.$t VALUES (1, 0, 10), (2, 1, 20)")
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.mv_mnt AS " +
      s"SELECT grp, COUNT(*) AS n, SUM(amount) AS s FROM $cat.$t GROUP BY grp")
    spark.sql(s"CALL $cat.optimize(table => '$t', max_files_per_bucket => 0)")
    spark.sql(s"CALL $cat.analyze(table => '$t')")
    assert(refresh("mv_mnt")._2 === "noop")
    assert(rowsOf("mv_mnt") === recompute(t))
  }

  test("non-maintainable shapes fall back to a correct full recompute") {
    val t = mkTable("mv_fb")
    spark.sql(s"INSERT INTO $cat.$t VALUES (1, 0, 10), (2, 0, 20), (3, 1, 30)")
    // MIN is not incrementally maintainable under deletes
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.mv_min AS " +
      s"SELECT grp, MIN(amount) AS lo FROM $cat.$t GROUP BY grp")
    spark.sql(s"DELETE FROM $cat.$t WHERE k = 1")
    assert(refresh("mv_min")._2 === "full")
    val got = spark.sql(s"SELECT * FROM $cat.mv_min ORDER BY grp").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === Seq((0L, 20L), (1L, 30L)))
    // fresh → noop even on the fallback lane
    assert(refresh("mv_min")._2 === "noop")
  }

  test("REFRESH MATERIALIZED VIEW statement and $mv freshness metadata") {
    val t = mkTable("t_mv_meta")
    spark.sql(s"INSERT INTO $cat.$t VALUES (1, 0, 10)")
    spark.sql(s"CREATE MATERIALIZED VIEW IF NOT EXISTS $cat.mv_meta AS " +
      s"SELECT grp, COUNT(*) AS n, SUM(amount) AS s FROM $cat.$t GROUP BY grp")
    val fresh = spark.sql(s"SELECT * FROM $cat.`mv_meta$$mv`").collect()(0)
    assert(fresh.getString(0).contains(t))
    assert(fresh.getString(1) === "__mv_state_mv_meta")
    assert(!fresh.getBoolean(4)) // not stale
    assert(fresh.getBoolean(5))  // incremental-eligible
    spark.sql(s"INSERT INTO $cat.$t VALUES (2, 0, 20)")
    assert(spark.sql(s"SELECT stale FROM $cat.`mv_meta$$mv`")
      .collect()(0).getBoolean(0))
    val r = spark.sql(s"REFRESH MATERIALIZED VIEW $cat.mv_meta").collect()(0)
    assert(r.getString(1) === "incremental")
    assert(!spark.sql(s"SELECT stale FROM $cat.`mv_meta$$mv`")
      .collect()(0).getBoolean(0))
  }

  test("SHOW MATERIALIZED VIEWS lists the catalog's definitions") {
    val t = mkTable("t_mv_show")
    spark.sql(s"INSERT INTO $cat.$t VALUES (1, 0, 10)")
    spark.sql(s"DROP MATERIALIZED VIEW IF EXISTS $cat.mv_show_a")
    spark.sql(s"DROP MATERIALIZED VIEW IF EXISTS $cat.mv_show_b")
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.mv_show_a AS " +
      s"SELECT grp, COUNT(*) AS n FROM $cat.$t GROUP BY grp")
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.mv_show_b AS " +
      s"SELECT grp, SUM(amount) AS s FROM $cat.$t GROUP BY grp")
    val listed = spark.sql(s"SHOW MATERIALIZED VIEWS IN $cat").collect()
      .map(_.getString(1)).toSet
    assert(Set("mv_show_a", "mv_show_b").subsetOf(listed), listed.toString)
    spark.sql(s"DROP MATERIALIZED VIEW $cat.mv_show_b")
    val after = spark.sql(s"SHOW MATERIALIZED VIEWS IN $cat").collect()
      .map(_.getString(1)).toSet
    assert(after.contains("mv_show_a") && !after.contains("mv_show_b"))
    spark.sql(s"DROP MATERIALIZED VIEW $cat.mv_show_a")
  }

  test("namespace sharing, write rejection, drop removes both halves") {
    val t = mkTable("t_mv_ns")
    spark.sql(s"INSERT INTO $cat.$t VALUES (1, 0, 10)")
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.mv_ns AS " +
      s"SELECT grp, COUNT(*) AS n FROM $cat.$t GROUP BY grp")
    // CREATE TABLE / CREATE VIEW over the MV name fail loudly
    val e1 = intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.mv_ns (x BIGINT NOT NULL) USING graft")
    }
    assert(chain(e1).exists(_.getMessage.contains("MATERIALIZED VIEW")))
    val e2 = intercept[Exception] {
      spark.sql(s"CREATE VIEW $cat.mv_ns AS SELECT 1 AS one")
    }
    assert(chain(e2).exists(_.getMessage.contains("MATERIALIZED VIEW")))
    // an MV over an existing table name fails
    val e3 = intercept[Exception] {
      spark.sql(s"CREATE MATERIALIZED VIEW $cat.$t AS SELECT 1 AS one")
    }
    assert(chain(e3).exists(_.getMessage.contains("share one namespace")))
    // writes to the MV are rejected toward the base table
    val e4 = intercept[Exception] {
      spark.sql(s"INSERT INTO $cat.mv_ns VALUES (1, 1)")
    }
    assert(chain(e4).exists(_.getMessage.contains("refresh_mv")))
    // DROP removes the definition AND the state table
    spark.sql(s"DROP MATERIALIZED VIEW $cat.mv_ns")
    assert(!Files.exists(java.nio.file.Paths.get(warehouse, "_mvs",
      "mv_ns.json")))
    assert(!GraftStore.exists(s"$warehouse/__mv_state_mv_ns"))
    intercept[Exception] { spark.sql(s"SELECT * FROM $cat.mv_ns").collect() }
    spark.sql(s"DROP MATERIALIZED VIEW IF EXISTS $cat.mv_ns") // idempotent
  }

  test("AVG maintains incrementally via hidden sum+count pairs") {
    val t = mkTable("t_mv_avg")
    spark.sql(s"INSERT INTO $cat.$t VALUES " +
      "(1, 0, 10), (2, 0, 30), (3, 1, NULL), (4, 1, 50)")
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.mv_avg AS " +
      s"SELECT grp, COUNT(*) AS n, AVG(amount) AS a, SUM(amount) AS s " +
      s"FROM $cat.$t GROUP BY grp")
    def got() = spark.sql(s"SELECT grp, n, a, s FROM $cat.mv_avg ORDER BY grp")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getDouble(2),
        if (r.isNullAt(3)) null else r.getLong(3))).toSeq
    assert(got() === Seq((0L, 2L, 20.0, 40L), (1L, 2L, 50.0, 50L)))
    // deletes, a group-moving update, and a null flip all re-finalize the
    // mean from the maintained (sum, count) pair — never averaged deltas
    spark.sql(s"DELETE FROM $cat.$t WHERE k = 2")
    spark.sql(s"UPDATE $cat.$t SET grp = 0, amount = 70 WHERE k = 4")
    spark.sql(s"UPDATE $cat.$t SET amount = NULL WHERE k = 1")
    assert(refresh("mv_avg")._2 === "incremental")
    assert(got() === Seq((0L, 2L, 70.0, 70L), (1L, 1L, null, null)))
    // the all-null group's AVG is NULL, and a non-null arrival restores it
    spark.sql(s"INSERT INTO $cat.$t VALUES (5, 1, 5)")
    assert(refresh("mv_avg")._2 === "incremental")
    assert(got() === Seq((0L, 2L, 70.0, 70L), (1L, 2L, 5.0, 5L)))
    // decimal AVG stays on the recompute lane (rounding semantics)
    spark.sql(s"DROP MATERIALIZED VIEW IF EXISTS $cat.mv_avg_dec")
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.mv_avg_dec AS " +
      s"SELECT grp, AVG(CAST(amount AS DECIMAL(10,2))) AS a " +
      s"FROM $cat.$t GROUP BY grp")
    spark.sql(s"INSERT INTO $cat.$t VALUES (6, 1, 7)")
    assert(refresh("mv_avg_dec")._2 === "full")
  }

  test("a large insert slice keeps the rebalanced write of a tiny state") {
    val t = mkTable("t_mv_big")
    spark.sql(s"INSERT INTO $cat.$t VALUES (1, 0, 10)")
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.mv_big AS " +
      s"SELECT grp, COUNT(*) AS n, SUM(amount) AS s FROM $cat.$t GROUP BY grp")
    val stateDir = s"$warehouse/__mv_state_mv_big"
    // a 64 KiB commit-broadcast bound (hint threshold 32 KiB); AQE keeps
    // the upstream partitions and splits rebalance partitions past 16 KiB,
    // so a rebalanced write lands several files per bucket, the one-task
    // write exactly one
    withConf("spark.graft.commit.broadcastMaxBytes" -> "64k",
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16k") {
      val v0 = GraftStore.currentVersion(stateDir)
      assert(GraftStore.versionStats(stateDir, v0)._3 <= (32L << 10),
        "the prior state must be under the hint threshold")
      spark.sql(s"INSERT INTO $cat.$t SELECT id + 1, id, id FROM range(1, 20001)")
      val src = s"$warehouse/$t"
      assert(GraftStats.listDataFiles(s"${GraftStore.changesRoot(src)}/" +
        s"change_version=${GraftStore.currentVersion(src)}").map(f =>
          Files.size(java.nio.file.Paths.get(GraftStore.changesRoot(src),
            s"change_version=${GraftStore.currentVersion(src)}", f))).sum >
        (32L << 10), "the insert slice must be over the hint threshold")
      assert(refresh("mv_big")._2 === "incremental")
      val perBucket = GraftStore.snapshotFileEntries(stateDir,
          GraftStore.currentVersion(stateDir))
        .groupBy(e => GraftStore.slotBucket(e.slot))
        .map { case (b, es) => b -> es.size }
      assert(perBucket.values.max > 1,
        s"a large slice must keep the rebalanced write: $perBucket")
      assert(rowsOf("mv_big") === recompute(t))
    }
  }

  test("MIN/MAX fold incrementally for append-only slices, recompute on retraction") {
    val t = mkTable("t_mv_mm")
    spark.sql(s"INSERT INTO $cat.$t VALUES (1, 0, 10), (2, 1, 20)")
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.mv_mm AS " +
      s"SELECT grp, COUNT(*) AS n, MIN(amount) AS lo, MAX(amount) AS hi " +
      s"FROM $cat.$t GROUP BY grp")
    def got() = spark.sql(s"SELECT grp, n, lo, hi FROM $cat.mv_mm ORDER BY grp")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(got() === Seq((0L, 1L, 10L, 10L), (1L, 1L, 20L, 20L)))
    // pure-insert slices fold incrementally: extrema widen, new group lands
    spark.sql(s"INSERT INTO $cat.$t VALUES (3, 0, 5), (4, 0, 99), (5, 2, 50)")
    assert(refresh("mv_mm")._2 === "incremental")
    assert(got() === Seq((0L, 3L, 5L, 99L), (1L, 1L, 20L, 20L),
      (2L, 1L, 50L, 50L)))
    // a retracting slice (DELETE could shrink an extremum) recomputes
    spark.sql(s"DELETE FROM $cat.$t WHERE k = 4")
    assert(refresh("mv_mm")._2 === "full")
    assert(got() === Seq((0L, 2L, 5L, 10L), (1L, 1L, 20L, 20L),
      (2L, 1L, 50L, 50L)))
    // and the lane heals: the next pure-insert slice folds again
    spark.sql(s"INSERT INTO $cat.$t VALUES (6, 1, 1)")
    assert(refresh("mv_mm")._2 === "incremental")
    assert(got() === Seq((0L, 2L, 5L, 10L), (1L, 2L, 1L, 20L),
      (2L, 1L, 50L, 50L)))
  }

  test("source drop + recreate rotates the watermark lane and heals") {
    val t = mkTable("t_mv_regen")
    spark.sql(s"INSERT INTO $cat.$t VALUES (1, 0, 10), (2, 1, 20)") // v1
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.mv_regen AS " +
      s"SELECT grp, COUNT(*) AS n, SUM(amount) AS s FROM $cat.$t GROUP BY grp")
    spark.sql(s"INSERT INTO $cat.$t VALUES (3, 1, 30)") // v2
    assert(refresh("mv_regen")._2 === "incremental") // watermark = 2
    // the source is dropped and recreated: version numbering restarts
    // BELOW the recorded watermark — the old lane must not gate the heal
    mkTable("t_mv_regen")
    spark.sql(s"INSERT INTO $cat.$t VALUES (9, 5, 90)") // new table, v1
    assert(refresh("mv_regen")._2 === "full")
    assert(rowsOf("mv_regen") === Seq((5L, 1L, 90L)))
    // fresh lane: noop when unchanged, incremental on new DML
    assert(refresh("mv_regen")._2 === "noop")
    spark.sql(s"INSERT INTO $cat.$t VALUES (10, 5, 10)") // v2
    assert(refresh("mv_regen")._2 === "incremental")
    assert(rowsOf("mv_regen") === Seq((5L, 2L, 100L)))
  }

  test("drop + recreate that CATCHES UP to the old watermark is still stale") {
    // the r15-advised blind spot: lane rotation keyed on version
    // regression alone stops firing once the recreated table's version
    // counter reaches the recorded watermark — freshness then compares
    // equal numbers from two different tables. The incarnation identity
    // stamped at CREATE makes the recreate visible at ANY version.
    val t = mkTable("t_mv_catchup")
    spark.sql(s"INSERT INTO $cat.$t VALUES (1, 0, 10), (2, 1, 20)") // v1
    spark.sql(s"INSERT INTO $cat.$t VALUES (3, 1, 30)") // v2
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.mv_catchup AS " +
      s"SELECT grp, COUNT(*) AS n, SUM(amount) AS s FROM $cat.$t GROUP BY grp")
    assert(refresh("mv_catchup")._2 === "noop") // watermark = 2
    mkTable("t_mv_catchup") // new incarnation, v0
    spark.sql(s"INSERT INTO $cat.$t VALUES (7, 3, 70)") // v1
    spark.sql(s"INSERT INTO $cat.$t VALUES (8, 3, 10)") // v2 == old watermark
    // freshness metadata must report stale even though version numbers agree
    val stale = spark.sql(s"SELECT stale FROM $cat.`mv_catchup$$mv`")
      .collect().map(_.getBoolean(0)).toSeq
    assert(stale === Seq(true))
    // and the refresh must HEAL (recompute), not report noop
    assert(refresh("mv_catchup")._2 === "full")
    assert(rowsOf("mv_catchup") === Seq((3L, 2L, 80L)))
    assert(refresh("mv_catchup")._2 === "noop") // re-recorded: fresh again
  }

  test("a retried refresh of the same slice cannot double-fold") {
    val t = mkTable("mv_retry")
    spark.sql(s"INSERT INTO $cat.$t VALUES (1, 0, 10), (2, 1, 20)")
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.mv_rty AS " +
      s"SELECT grp, COUNT(*) AS n, SUM(amount) AS s FROM $cat.$t GROUP BY grp")
    spark.sql(s"INSERT INTO $cat.$t VALUES (3, 0, 30)")
    assert(refresh("mv_rty")._2 === "incremental")
    // simulate the crashed-then-retried refresh: re-fold the SAME slice
    // directly through the engine — the state commit's txn watermark
    // makes the duplicate apply a no-op inside the store
    val g = spark.sessionState.catalogManager.catalog(cat)
      .asInstanceOf[GraftCatalog]
    val id = org.apache.spark.sql.connector.catalog.Identifier.of(
      Array.empty[String], "mv_rty")
    val before = rowsOf("mv_rty")
    assert(GraftMaterializedViews.refresh(spark, cat, g, id)._2 === "noop")
    assert(rowsOf("mv_rty") === before)
    assert(before === recompute(t))
  }

  private def mkDim(name: String): String = {
    warehouse
    spark.sql(s"DROP TABLE IF EXISTS $cat.$name")
    spark.sql(s"""CREATE TABLE $cat.$name
      (dk BIGINT NOT NULL, label STRING, mult BIGINT) USING graft
      TBLPROPERTIES ('merge_key'='dk', 'buckets'='2')""")
    name
  }

  test("star-join MV: fact DML folds incrementally against pinned dims") {
    val f = mkTable("mvj_fact")
    val d = mkDim("mvj_dim")
    spark.sql(s"INSERT INTO $cat.$d VALUES (0, 'a', 2), (1, 'b', 3), (2, 'c', 5)")
    spark.sql(s"INSERT INTO $cat.$f VALUES " +
      "(1, 0, 10), (2, 0, 20), (3, 1, 30), (4, 1, 40), (5, 2, 50)")
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.mv_star AS " +
      s"SELECT d.label AS label, COUNT(*) AS n, SUM(f.amount * d.mult) AS s " +
      s"FROM $cat.$f f JOIN $cat.$d d ON f.grp = d.dk GROUP BY d.label")
    def oracle(): Seq[(String, Long, Any)] =
      spark.sql(s"SELECT d.label, COUNT(*) AS n, SUM(f.amount * d.mult) AS s " +
          s"FROM $cat.$f f JOIN $cat.$d d ON f.grp = d.dk " +
          "GROUP BY d.label ORDER BY d.label")
        .collect().map(r => (r.getString(0), r.getLong(1),
          if (r.isNullAt(2)) null else r.getLong(2))).toSeq
    def mvRows(): Seq[(String, Long, Any)] =
      spark.sql(s"SELECT * FROM $cat.mv_star ORDER BY label")
        .collect().map(r => (r.getString(0), r.getLong(1),
          if (r.isNullAt(2)) null else r.getLong(2))).toSeq
    assert(mvRows() === oracle())
    // the hard fact slice: insert, group-moving update, delete, and a
    // row joining a previously-empty dim key (extinction + birth)
    spark.sql(s"INSERT INTO $cat.$f VALUES (6, 2, 60), (7, 0, 70)")
    spark.sql(s"UPDATE $cat.$f SET grp = 2 WHERE k = 3")
    spark.sql(s"DELETE FROM $cat.$f WHERE k = 4")
    val (_, mode) = refresh("mv_star")
    assert(mode === "incremental", s"fact-only DML must fold, got $mode")
    assert(mvRows() === oracle())
    assert(refresh("mv_star")._2 === "noop")
    // a fact row with NO dim match contributes nothing (inner join)
    spark.sql(s"INSERT INTO $cat.$f VALUES (8, 99, 800)")
    assert(refresh("mv_star")._2 === "incremental")
    assert(mvRows() === oracle())
  }

  test("star-join MV: a dim commit poisons the fold to a recompute") {
    val f = mkTable("mvj_fact2")
    val d = mkDim("mvj_dim2")
    spark.sql(s"INSERT INTO $cat.$d VALUES (0, 'a', 2), (1, 'b', 3)")
    spark.sql(s"INSERT INTO $cat.$f VALUES (1, 0, 10), (2, 1, 20)")
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.mv_star2 AS " +
      s"SELECT d.label AS label, SUM(f.amount) AS s " +
      s"FROM $cat.$f f JOIN $cat.$d d ON f.grp = d.dk GROUP BY d.label")
    def oracle(): Seq[(String, Any)] =
      spark.sql(s"SELECT d.label, SUM(f.amount) AS s FROM $cat.$f f " +
          s"JOIN $cat.$d d ON f.grp = d.dk GROUP BY d.label ORDER BY 1")
        .collect().map(r => (r.getString(0),
          if (r.isNullAt(1)) null else r.getLong(1))).toSeq
    def mvRows(): Seq[(String, Any)] =
      spark.sql(s"SELECT * FROM $cat.mv_star2 ORDER BY label")
        .collect().map(r => (r.getString(0),
          if (r.isNullAt(1)) null else r.getLong(1))).toSeq
    // dim UPDATE: the ΔF⋈D identity is void — must recompute, and the
    // recompute must actually overwrite (the fact version didn't move,
    // so a naively-stamped txn would no-op the fix away)
    spark.sql(s"UPDATE $cat.$d SET mult = 7, label = 'z' WHERE dk = 0")
    val (_, mode) = refresh("mv_star2")
    assert(mode === "full", s"dim commit must recompute, got $mode")
    assert(mvRows() === oracle())
    assert(refresh("mv_star2")._2 === "noop")
    // after the poison clears, fact DML folds incrementally again
    spark.sql(s"INSERT INTO $cat.$f VALUES (3, 1, 30)")
    assert(refresh("mv_star2")._2 === "incremental")
    assert(mvRows() === oracle())
    // both moving at once also recomputes (and re-records both)
    spark.sql(s"INSERT INTO $cat.$f VALUES (4, 0, 40)")
    spark.sql(s"INSERT INTO $cat.$d VALUES (2, 'c', 11)")
    assert(refresh("mv_star2")._2 === "full")
    assert(mvRows() === oracle())
    assert(refresh("mv_star2")._2 === "noop")
  }

  test("left-outer fact join folds; self-joins and right sides never fold") {
    val f = mkTable("mvj_fact3")
    val d = mkDim("mvj_dim3")
    spark.sql(s"INSERT INTO $cat.$d VALUES (0, 'a', 2)")
    spark.sql(s"INSERT INTO $cat.$f VALUES (1, 0, 10), (2, 5, 20)")
    // fact on the PRESERVED side: per-row linear, so Δfact still folds
    // (unmatched fact rows null-extend row-locally)
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.mv_lo AS " +
      s"SELECT f.grp AS grp, COUNT(*) AS n, SUM(d.mult) AS s " +
      s"FROM $cat.$f f LEFT JOIN $cat.$d d ON f.grp = d.dk GROUP BY f.grp")
    def oracle(): Seq[(Long, Long, Any)] =
      spark.sql(s"SELECT f.grp, COUNT(*) AS n, SUM(d.mult) AS s " +
          s"FROM $cat.$f f LEFT JOIN $cat.$d d ON f.grp = d.dk " +
          "GROUP BY f.grp ORDER BY 1")
        .collect().map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) null else r.getLong(2))).toSeq
    spark.sql(s"INSERT INTO $cat.$f VALUES (3, 0, 30), (4, 6, 40)")
    spark.sql(s"DELETE FROM $cat.$f WHERE k = 2")
    assert(refresh("mv_lo")._2 === "incremental")
    assert(spark.sql(s"SELECT * FROM $cat.mv_lo ORDER BY grp")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getLong(2))).toSeq === oracle())
    // a SELF-JOINED table is quadratic in itself — never a delta target
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.mv_self AS " +
      s"SELECT a.grp AS grp, COUNT(*) AS n FROM $cat.$f a " +
      s"JOIN $cat.$f b ON a.grp = b.grp GROUP BY a.grp")
    spark.sql(s"INSERT INTO $cat.$f VALUES (9, 0, 90)")
    assert(refresh("mv_self")._2 === "full")
    assert(spark.sql(s"SELECT * FROM $cat.mv_self ORDER BY grp")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      spark.sql(s"SELECT a.grp, COUNT(*) FROM $cat.$f a JOIN $cat.$f b " +
        "ON a.grp = b.grp GROUP BY a.grp ORDER BY 1")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
  }

  test("maintainStream folds pending DML and survives a restart") {
    val t = mkTable("mv_stream")
    val d = mkDim("mv_stream_dim")
    spark.sql(s"INSERT INTO $cat.$d VALUES (0, 'a', 2), (1, 'b', 3)")
    spark.sql(s"INSERT INTO $cat.$t VALUES (1, 0, 10), (2, 1, 20)")
    // a JOIN MV: the maintainer watches the FACT's changelog
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.mv_strm AS " +
      s"SELECT d.label AS nm, SUM(f.amount * d.mult) AS s FROM $cat.$t f " +
      s"JOIN $cat.$d d ON f.grp = d.dk GROUP BY d.label")
    val g = spark.sessionState.catalogManager.catalog(cat)
      .asInstanceOf[GraftCatalog]
    val id = org.apache.spark.sql.connector.catalog.Identifier.of(
      Array.empty[String], "mv_strm")
    val ckpt = Files.createTempDirectory("graft_mv_stream_ckpt").toString
    def maintainOnce(): Unit = {
      val q = GraftMaterializedViews.maintainStream(spark, cat, g, id,
        ckpt, org.apache.spark.sql.streaming.Trigger.AvailableNow())
      assert(q.awaitTermination(300000L), "maintainer did not drain")
    }
    def oracle(): Seq[(String, Long)] =
      spark.sql(s"SELECT d.label, SUM(f.amount * d.mult) AS s FROM $cat.$t f " +
          s"JOIN $cat.$d d ON f.grp = d.dk GROUP BY d.label ORDER BY 1")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    spark.sql(s"INSERT INTO $cat.$t VALUES (3, 0, 30), (4, 1, 40)")
    spark.sql(s"DELETE FROM $cat.$t WHERE k = 2")
    maintainOnce()
    assert(refresh("mv_strm")._2 === "noop", "stream folded everything")
    assert(spark.sql(s"SELECT * FROM $cat.mv_strm ORDER BY nm")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq === oracle())
    // restart from the same checkpoint, another burst
    spark.sql(s"UPDATE $cat.$t SET amount = 11 WHERE k = 1")
    maintainOnce()
    assert(refresh("mv_strm")._2 === "noop", "restarted stream kept folding")
    assert(spark.sql(s"SELECT * FROM $cat.mv_strm ORDER BY nm")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq === oracle())
    // DIM-ONLY commit (r16): the maintainer watches the dims' changelogs
    // as additional trigger legs — a slowly-changing-dim correction on a
    // QUIET fact must flip the MV fresh without any fact commit (the
    // refresh it triggers routes through the dim-poison recompute lane)
    spark.sql(s"UPDATE $cat.$d SET mult = 10 WHERE dk = 0")
    maintainOnce()
    assert(refresh("mv_strm")._2 === "noop",
      "dim-only commit was folded by the dim trigger leg")
    assert(spark.sql(s"SELECT * FROM $cat.mv_strm ORDER BY nm")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq === oracle())
    // a body with NO watermark table (two sources, non-maintainable
    // shape — no aggregate) cannot be continuously maintained — loudly
    // toward the fix
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.mv_strm_bad AS " +
      s"SELECT a.label AS nm, b.grp AS g FROM $cat.$d a CROSS JOIN $cat.$t b")
    val e = intercept[IllegalArgumentException] {
      GraftMaterializedViews.maintainStream(spark, cat, g,
        org.apache.spark.sql.connector.catalog.Identifier.of(
          Array.empty[String], "mv_strm_bad"),
        Files.createTempDirectory("graft_mv_bad_ckpt").toString,
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
    }
    assert(e.getMessage.contains("schedule CALL refresh_mv"))
  }

  test("an MV over a keyless append-only table folds its all-I changelog") {
    // S43 × S39/T15 composition: no row identity on the source, but the
    // changelog is pure inserts — exactly the easiest fold (no before
    // images) — and maintainStream drives it. Zero new machinery; this
    // pins that none of the keyed-table plumbing silently requires keys.
    warehouse // register the catalog (mkTable's job for keyed tables)
    spark.sql(s"DROP TABLE IF EXISTS $cat.t_mv_keyless")
    spark.sql(s"""CREATE TABLE $cat.t_mv_keyless
      (k BIGINT NOT NULL, grp BIGINT, amount BIGINT) USING graft
      TBLPROPERTIES ('append_only'='true', 'buckets'='4')""")
    val t = "t_mv_keyless"
    spark.sql(s"INSERT INTO $cat.$t VALUES (1, 0, 10), (2, 1, 20)")
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.mv_keyless AS " +
      s"SELECT grp, COUNT(*) AS n, SUM(amount) AS s, MAX(amount) AS mx " +
      s"FROM $cat.$t GROUP BY grp")
    // appends fold incrementally — MIN/MAX included (all-I slices never
    // retract, so the extrema lane stays incremental on EVERY refresh)
    spark.sql(s"INSERT INTO $cat.$t VALUES (3, 1, 30), (4, 2, 40)")
    spark.sql(s"INSERT INTO $cat.$t VALUES (1, 0, 10)") // duplicate row: fine
    assert(refresh("mv_keyless")._2 === "incremental")
    def oracle(): Seq[Seq[Any]] =
      spark.sql(s"SELECT grp, COUNT(*) AS n, SUM(amount) AS s, " +
          s"MAX(amount) AS mx FROM $cat.$t GROUP BY grp ORDER BY grp")
        .collect().map(_.toSeq).toSeq
    def state(): Seq[Seq[Any]] =
      spark.sql(s"SELECT * FROM $cat.mv_keyless ORDER BY grp")
        .collect().map(_.toSeq).toSeq
    assert(state() === oracle())
    // maintainStream drives the same fold from the all-I changelog
    val g = spark.sessionState.catalogManager.catalog(cat)
      .asInstanceOf[GraftCatalog]
    val id = org.apache.spark.sql.connector.catalog.Identifier.of(
      Array.empty[String], "mv_keyless")
    spark.sql(s"INSERT INTO $cat.$t SELECT id, id % 3, id * 7 FROM range(50)")
    val ckpt = Files.createTempDirectory("graft_mv_keyless_ckpt").toString
    val q = GraftMaterializedViews.maintainStream(spark, cat, g, id,
      ckpt, org.apache.spark.sql.streaming.Trigger.AvailableNow())
    assert(q.awaitTermination(300000L), "keyless maintainer did not drain")
    assert(refresh("mv_keyless")._2 === "noop", "stream folded everything")
    assert(state() === oracle())
  }

  test("a crashed state commit (pointer not flipped) re-folds, not no-ops") {
    val t = mkTable("mv_crash")
    spark.sql(s"INSERT INTO $cat.$t VALUES (1, 0, 10), (2, 1, 20)")
    spark.sql(s"CREATE MATERIALIZED VIEW $cat.mv_crsh AS " +
      s"SELECT grp, COUNT(*) AS n, SUM(amount) AS s FROM $cat.$t GROUP BY grp")
    spark.sql(s"INSERT INTO $cat.$t VALUES (3, 0, 30), (4, 2, 40)")
    assert(refresh("mv_crsh")._2 === "incremental")
    val stateDir = s"$warehouse/__mv_state_mv_crsh"
    val v = GraftStore.currentVersion(stateDir)
    // crash window: the fold's state version (carrying the txn
    // watermark) built, but its pointer move never recorded — the
    // readable state is PRE-fold, so the watermark must read pre-fold too
    // (a scan of unpublished builds would report the slice as folded and
    // serve a silently-stale MV forever)
    unpublish(stateDir, v)
    assert(rowsOf("mv_crsh") !== recompute(t), "readable state is pre-fold")
    val (_, mode) = refresh("mv_crsh")
    assert(mode === "incremental", s"healing refresh re-folds, got $mode")
    assert(rowsOf("mv_crsh") === recompute(t))
    assert(refresh("mv_crsh")._2 === "noop")
  }
}
