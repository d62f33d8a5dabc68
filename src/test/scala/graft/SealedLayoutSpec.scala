package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.sources.{GraftCatalog, GraftStats, GraftStore}

/** One on-disk format: every path that publishes a version leaves one
  * sealed manifest in its version dir that its strict decoder reads back
  * whole (bucket count, commit stamp, the partition spec exactly when the
  * table is partitioned — v0 included — and the dir's own data files
  * with their write versions and sizes), the manifest is the one source
  * of truth for a version's files, every table, clone and branch
  * directory carries its `_incarnation` stamp from the moment it is
  * created, and reads never write into a table directory. */
class SealedLayoutSpec extends SparkTestBase {

  private lazy val cat = "graftseal"
  private lazy val warehouse: String = {
    val p = Files.createTempDirectory("graft_seal_spec")
    p.toFile.deleteOnExit()
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", p.toString)
    p.toString
  }

  private def mkTable(name: String, props: String = "",
      partitioned: Boolean = false): String = {
    warehouse
    spark.sql(s"DROP TABLE IF EXISTS $cat.$name")
    spark.sql(s"""CREATE TABLE $cat.$name
      (k BIGINT NOT NULL, ts TIMESTAMP, amount BIGINT) USING graft
      ${if (partitioned) "PARTITIONED BY (days(ts))" else ""}
      TBLPROPERTIES ('merge_key'='k', 'buckets'='4'$props)""")
    s"$warehouse/$name"
  }

  /** Version `v` of `dir` carries a complete sealed manifest: the strict
    * decoder reads every field back (it throws on a missing or malformed
    * manifest), and the fields hold the format's invariants. Beside the
    * manifest the dir holds only slot dirs and delete slices (and the
    * `_expired` mark of a retired file host): no other per-version file. */
  private def assertSealed(dir: String, v: Long, partitioned: Boolean,
      what: String): Unit = {
    val vdir = GraftStore.versionDir(dir, v)
    val top = {
      val ls = Files.list(Paths.get(vdir))
      try ls.iterator().asScala.map(_.getFileName.toString).toList
      finally ls.close()
    }
    val stray = top.filterNot(n => n == GraftStore.ManifestName ||
      n == GraftStore.DvDirName || n == "_expired" ||
      n.startsWith(s"${GraftStore.BucketCol}=") ||
      n.startsWith(s"${GraftStore.PartCol}="))
    assert(stray.isEmpty, s"$what: v$v holds entries beside its manifest: $stray")
    val m = GraftStore.manifestOf(vdir)
    assert(m.partSpec.isDefined === partitioned,
      s"$what: v$v partition spec ${m.partSpec} on a " +
        s"${if (partitioned) "" else "non-"}partitioned table")
    m.files.foreach { case (rel, f) =>
      assert(f.seq <= v, s"$what: v$v stamps $rel with future seq ${f.seq}")
      assert(f.bytes === Files.size(Paths.get(vdir, rel)),
        s"$what: v$v records a wrong size for $rel")
    }
    assert(m.files.keySet === GraftStats.listDataFiles(vdir).toSet,
      s"$what: v$v manifest must list exactly the dir's own data files")
    assert(m.buckets > 0, s"$what: v$v bucket count ${m.buckets}")
    assert(m.committedAt > 0L, s"$what: v$v commit stamp ${m.committedAt}")
  }

  private def assertCurrentSealed(dir: String, what: String,
      partitioned: Boolean = false): Unit =
    assertSealed(dir, GraftStore.currentVersion(dir), partitioned, what)

  private def assertAllSealed(dir: String, partitioned: Boolean = false)
      : Unit =
    GraftStore.listVersions(dir).foreach(v =>
      assertSealed(dir, v, partitioned, s"retained version of $dir"))

  test("every publish path seals the full version file set") {
    val t = "seal_cow"
    val dir = mkTable(t)
    assertCurrentSealed(dir, "create")
    spark.sql(s"INSERT INTO $cat.$t VALUES " +
      "(1, TIMESTAMP'2026-01-01 00:00:00', 10), " +
      "(2, TIMESTAMP'2026-01-02 00:00:00', 20), " +
      "(3, TIMESTAMP'2026-01-03 00:00:00', 30)")
    assertCurrentSealed(dir, "INSERT")
    spark.sql("SELECT 2L AS k, 21L AS amount UNION ALL SELECT 4L, 40L")
      .createOrReplaceTempView("seal_src")
    spark.sql(s"""MERGE INTO $cat.$t t USING seal_src s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET amount = s.amount
      WHEN NOT MATCHED THEN INSERT (k, ts, amount)
        VALUES (s.k, TIMESTAMP'2026-01-04 00:00:00', s.amount)""")
    assertCurrentSealed(dir, "copy-on-write MERGE")
    spark.sql(s"DELETE FROM $cat.$t WHERE k = 1")
    assertCurrentSealed(dir, "copy-on-write DELETE")
    spark.sql(s"INSERT INTO $cat.$t VALUES " +
      "(5, TIMESTAMP'2026-01-05 00:00:00', 50)")
    spark.sql(s"CALL $cat.optimize(table => '$t', max_files_per_bucket => 0)")
    assertCurrentSealed(dir, "optimize")
    spark.sql(s"CALL $cat.rebucket(table => '$t', buckets => 8)")
    assertCurrentSealed(dir, "rebucket")
    spark.sql(s"CALL $cat.restore(table => '$t', version => 1)")
    assertCurrentSealed(dir, "restore")
    spark.sql(s"INSERT OVERWRITE $cat.$t VALUES " +
      "(6, TIMESTAMP'2026-01-06 00:00:00', 60)")
    assertCurrentSealed(dir, "INSERT OVERWRITE")
    locally {
      import spark.implicits._
      Seq((7L, 70L)).toDF("k", "amount")
        .select($"k", org.apache.spark.sql.functions.lit(null)
          .cast("timestamp").as("ts"), $"amount")
        .writeTo(s"$cat.$t").option("txnAppId", "seal")
        .option("txnVersion", "1").append()
    }
    assert(GraftStore.lastTxnVersion(dir, "seal") === Some(1L))
    assertCurrentSealed(dir, "idempotent write")
    spark.sql(s"CALL $cat.clone(table => '$t', target => 'seal_clone')")
    assertCurrentSealed(s"$warehouse/seal_clone", "clone")
    spark.sql(s"TRUNCATE TABLE $cat.$t")
    assertCurrentSealed(dir, "TRUNCATE")
    spark.sql(s"REPLACE TABLE $cat.$t USING graft " +
      "TBLPROPERTIES ('merge_key'='k', 'buckets'='2') " +
      "AS SELECT id AS k, id * 2 AS amount FROM range(0, 6)")
    assertCurrentSealed(dir, "RTAS")

    spark.sql(s"CALL $cat.create_branch(table => '$t', name => 'ff')")
    val bdir = GraftStore.branchDir(dir, "ff")
    assertCurrentSealed(bdir, "create_branch")
    spark.sql(s"INSERT INTO $cat.`$t$$branch$$ff` VALUES (10, 20)")
    spark.sql(s"INSERT INTO $cat.`$t$$branch$$ff` VALUES (11, 22)")
    assertCurrentSealed(bdir, "branch INSERT")
    spark.sql(s"CALL $cat.fast_forward(table => '$t', name => 'ff')")
    assertCurrentSealed(dir, "fast_forward")

    val u = "seal_grp"
    val udir = mkTable(u)
    spark.sql(s"INSERT INTO $cat.$u VALUES (1, NULL, 1)")
    Seq(t, u).foreach(x =>
      spark.sql(s"CALL $cat.create_branch(table => '$x', name => 'g')"))
    spark.sql(s"INSERT INTO $cat.`$t$$branch$$g` VALUES (12, 24)")
    spark.sql(s"INSERT INTO $cat.`$u$$branch$$g` VALUES (2, NULL, 2)")
    spark.sql(s"CALL $cat.publish_group(tables => '$t,$u', name => 'g')")
    assertCurrentSealed(dir, "publish_group")
    assertCurrentSealed(udir, "publish_group")

    Seq(dir, udir, s"$warehouse/seal_clone").foreach(assertAllSealed(_))
  }

  test("merge-on-read MERGE and DELETE seal their versions") {
    val t = "seal_mor"
    val dir = mkTable(t, ", 'merge_mode'='mor'")
    spark.sql(s"INSERT INTO $cat.$t SELECT id, NULL, id FROM range(0, 40)")
    spark.sql("SELECT id AS k, id + 100 AS amount FROM range(0, 4)")
      .createOrReplaceTempView("seal_mor_src")
    spark.sql(s"""MERGE INTO $cat.$t t USING seal_mor_src s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET amount = s.amount""")
    assert(GraftStore.hasLiveDv(GraftStore.versionDir(dir,
      GraftStore.currentVersion(dir))), "MERGE must stay merge-on-read")
    assertCurrentSealed(dir, "merge-on-read MERGE")
    spark.sql(s"DELETE FROM $cat.$t WHERE k = 7")
    assertCurrentSealed(dir, "merge-on-read DELETE")
    assertAllSealed(dir)
  }

  test("partitioned tables stamp _partspec on every version, v0 included") {
    val t = "seal_part"
    val dir = mkTable(t, partitioned = true)
    assertCurrentSealed(dir, "partitioned create", partitioned = true)
    spark.sql(s"INSERT INTO $cat.$t VALUES " +
      "(1, TIMESTAMP'2026-01-01 06:00:00', 10), " +
      "(2, TIMESTAMP'2026-01-02 06:00:00', 20), " +
      "(3, TIMESTAMP'2026-01-03 06:00:00', 30)")
    assertCurrentSealed(dir, "partitioned INSERT", partitioned = true)
    val day2 = java.time.LocalDate.parse("2026-01-02").toEpochDay
    spark.sql(s"CALL $cat.expire_partitions(table => '$t', below => '$day2')")
    assertCurrentSealed(dir, "expire_partitions", partitioned = true)
    spark.sql(s"CALL $cat.set_partition_spec(table => '$t', " +
      "transform => 'hours(ts)')")
    assertCurrentSealed(dir, "set_partition_spec", partitioned = true)
    spark.sql(s"TRUNCATE TABLE $cat.$t")
    assertCurrentSealed(dir, "partitioned TRUNCATE", partitioned = true)
    assertAllSealed(dir, partitioned = true)
    assert(spark.sql(s"SELECT * FROM $cat.$t VERSION AS OF 1").count() === 3L)
  }

  test("a version's manifest is the one source of truth for its files") {
    import spark.implicits._
    warehouse
    val t = "seal_truth"
    spark.sql(s"DROP TABLE IF EXISTS $cat.$t")
    spark.sql(s"""CREATE TABLE $cat.$t
      (k BIGINT NOT NULL, ts TIMESTAMP, amount BIGINT) USING graft
      TBLPROPERTIES ('merge_key'='k', 'buckets'='1')""")
    val dir = s"$warehouse/$t"
    spark.sql(s"INSERT INTO $cat.$t SELECT id, NULL, id FROM range(0, 5)")
    spark.sql(s"INSERT INTO $cat.$t SELECT id, NULL, id FROM range(5, 10)")
    val v = GraftStore.currentVersion(dir)
    val listed = GraftStore.snapshotFileEntries(dir, v).map(_.path).toSet
    // a parquet file of the table's shape that no manifest names, put
    // into a published slot dir
    val stray = Files.createTempDirectory("graft_seal_stray").toString
    Seq(100L, 101L, 102L, 103L).toDF("k")
      .select($"k", org.apache.spark.sql.functions.lit(null)
        .cast("timestamp").as("ts"), $"k".as("amount"))
      .coalesce(1).write.mode("overwrite").parquet(stray)
    val part = GraftStats.listDataFiles(stray)
      .filter(_.endsWith(".parquet")).head
    Files.copy(Paths.get(stray, part),
      Paths.get(GraftStore.versionDir(dir, v), "gbucket=0", "part-stray.parquet"))
    def keys(table: String): Seq[Long] =
      spark.sql(s"SELECT k FROM $table").collect().map(_.getLong(0)).toSeq.sorted
    val expected = (0L until 10L).toSeq
    assert(keys(s"$cat.$t") === expected, "the scan reads the manifest's rows")
    val filesTable = spark.sql(
      s"SELECT DISTINCT file FROM $cat.`$t$$files`").count()
    assert(filesTable === listed.size.toLong, "t$files lists the manifest's files")
    assert(GraftStore.snapshotFiles(dir, v).toSet === listed)
    assert(GraftStore.slotFileCounts(dir, v) === Map("gbucket=0" -> listed.size))
    val fragmented = spark.sql(s"CALL $cat.maintenance_report(`table` => '$t', " +
        s"max_files_per_bucket => ${listed.size})").collect()
      .find(_.getString(0) == "fragmented_slots").get
    assert(!fragmented.getBoolean(1) && fragmented.getLong(2) === 0L,
      s"maintenance_report counts the manifest's files: $fragmented")
    spark.sql(s"CALL $cat.create_branch(table => '$t', name => 'truth')")
    assert(keys(s"$cat.`$t$$branch$$truth`") === expected,
      "a branch materializes the manifest's files only")
    val bdir = GraftStore.branchDir(dir, "truth")
    assert(GraftStore.snapshotFiles(bdir, GraftStore.currentVersion(bdir))
      .size === listed.size)
  }

  test("tables, clones and branches are stamped with _incarnation at creation") {
    def stamp(d: String): Option[String] = {
      val p = Paths.get(d, "_incarnation")
      if (Files.exists(p)) Some(new String(Files.readAllBytes(p), "UTF-8").trim)
      else None
    }
    val t = "seal_inc"
    val dir = mkTable(t)
    spark.sql(s"INSERT INTO $cat.$t VALUES (1, NULL, 10)")
    assert(stamp(dir).isDefined, "CREATE must stamp the table")
    spark.sql(s"DROP TABLE IF EXISTS $cat.seal_inc_clone")
    spark.sql(s"CALL $cat.clone(table => '$t', target => 'seal_inc_clone')")
    val cdir = s"$warehouse/seal_inc_clone"
    assert(stamp(cdir).isDefined, "clone must be stamped when it is created")
    spark.sql(s"CALL $cat.create_branch(table => '$t', name => 'b')")
    val bdir = GraftStore.branchDir(dir, "b")
    assert(stamp(bdir).isDefined, "a branch must be stamped when it is created")
    // each is its own identity
    assert(Seq(stamp(dir), stamp(cdir), stamp(bdir)).flatten.distinct.size === 3)
  }

  test("reads, VERSION AS OF and TIMESTAMP AS OF write nothing into the table") {
    val t = "seal_ro"
    val dir = mkTable(t)
    spark.sql(s"INSERT INTO $cat.$t VALUES (1, NULL, 10), (2, NULL, 20)")
    Thread.sleep(5)
    val mid = System.currentTimeMillis()
    Thread.sleep(5)
    spark.sql(s"UPDATE $cat.$t SET amount = 21 WHERE k = 2")
    spark.sql(s"CALL $cat.create_branch(table => '$t', name => 'r')")
    def tree(): Map[String, (Long, Long)] = {
      val walk = Files.walk(Paths.get(dir))
      try walk.iterator().asScala.map { p =>
        p.toString -> (Files.getLastModifiedTime(p).toMillis,
          if (Files.isRegularFile(p)) Files.size(p) else -1L)
      }.toMap
      finally walk.close()
    }
    val before = tree()
    val sMid = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochMilli(mid))
    def sum(sql: String): Long = spark.sql(sql).head().getLong(0)
    assert(sum(s"SELECT SUM(amount) FROM $cat.$t") === 31L)
    assert(sum(s"SELECT SUM(amount) FROM $cat.$t VERSION AS OF 1") === 30L)
    assert(sum(s"SELECT SUM(amount) FROM $cat.$t VERSION AS OF 'r'") === 31L)
    assert(sum(s"SELECT SUM(amount) FROM $cat.$t TIMESTAMP AS OF '$sMid'") ===
      30L)
    assert(sum(s"SELECT SUM(amount) FROM $cat.`$t$$branch$$r`") === 31L)
    assert(tree() === before, "a read created or modified a file")
  }
}
