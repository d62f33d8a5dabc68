package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.sources.{GraftCatalog, GraftStats, GraftStore}

/** The hard-link changelog seam: an all-insert commit's changelog slice
  * is a set of hard links to the data files the commit wrote. Retention
  * on either side — expire_versions + vacuum on the data, expire_changes
  * on the slice — must leave the other side readable, and the byte
  * accounting must count a linked file once. */
class ChangelogLinkSpec extends SparkTestBase {

  private lazy val cat = "graftlink"
  private lazy val warehouse: String = {
    val p = Files.createTempDirectory("graft_link_spec")
    p.toFile.deleteOnExit()
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", p.toString)
    p.toString
  }

  private def mkTable(name: String): String = {
    warehouse
    spark.sql(s"DROP TABLE IF EXISTS $cat.$name")
    spark.sql(s"""CREATE TABLE $cat.$name (k BIGINT NOT NULL, amount BIGINT)
      USING graft TBLPROPERTIES ('merge_key'='k', 'buckets'='2')""")
    s"$warehouse/$name"
  }

  private def dataFiles(dir: String, v: Long): Seq[Path] = {
    val vdir = GraftStore.versionDir(dir, v)
    GraftStats.listDataFiles(vdir).map(r => Paths.get(vdir, r))
  }

  private def sliceFiles(dir: String, v: Long): Seq[Path] = {
    val walk = Files.walk(Paths.get(GraftStore.changesRoot(dir),
      s"${GraftStore.ChangeVersionCol}=$v"))
    try walk.iterator().asScala.filter { p =>
      val n = p.getFileName.toString
      Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_")
    }.toList
    finally walk.close()
  }

  private def inode(p: Path): AnyRef = Files.getAttribute(p, "unix:ino")

  private def rows(sql: String): Seq[(String, Long, Long)] =
    spark.sql(sql).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq.sortBy(_._2)

  /** (size_bytes of `$versions` for v, sum over distinct `$files`). */
  private def accounted(t: String, v: Long): (Long, Long) =
    (spark.sql(s"SELECT size_bytes FROM $cat.`$t$$versions` " +
        s"WHERE version = $v").head().getLong(0),
      spark.sql(s"SELECT SUM(size_bytes) FROM (SELECT DISTINCT file, " +
        s"size_bytes FROM $cat.`$t$$files`)").head().getLong(0))

  test("a linked slice outlives its data files through expire_versions and vacuum") {
    val t = "link_data_gone"
    val dir = mkTable(t)
    spark.sql(s"INSERT INTO $cat.$t VALUES (1, 10), (2, 20), (3, 30)") // v1
    val data = dataFiles(dir, 1L)
    val slice = sliceFiles(dir, 1L)
    assert(data.nonEmpty && data.map(inode).toSet === slice.map(inode).toSet,
      "the all-insert slice must be hard links of v1's data files")
    val bytes = data.map(Files.size).sum
    assert(accounted(t, 1L) === ((bytes, bytes)),
      "a linked file must be counted once")

    spark.sql(s"DELETE FROM $cat.$t WHERE k <= 3")                      // v2
    spark.sql(s"INSERT INTO $cat.$t VALUES (4, 40)")                   // v3
    spark.sql(s"CALL $cat.expire_versions(table => '$t', keep_last => 1)")
    spark.sql(s"CALL $cat.vacuum(table => '$t', older_than_ms => 0)")
    assert(!Files.exists(Paths.get(GraftStore.versionDir(dir, 1L))))
    assert(data.forall(p => !Files.exists(p)))

    assert(rows(s"SELECT change_op, k, amount FROM $cat.`$t$$changes` " +
        "WHERE change_version = 1") ===
      Seq(("I", 1L, 10L), ("I", 2L, 20L), ("I", 3L, 30L)))
    assert(spark.sql(s"SELECT k, amount FROM $cat.$t").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((4L, 40L)))
  }

  test("expire_changes drops the slice links and leaves the data readable") {
    val t = "link_slice_gone"
    val dir = mkTable(t)
    spark.sql(s"INSERT INTO $cat.$t VALUES (1, 10), (2, 20), (3, 30)") // v1
    val data = dataFiles(dir, 1L)
    val bytes = data.map(Files.size).sum
    assert(sliceFiles(dir, 1L).map(inode).toSet === data.map(inode).toSet)

    spark.sql(s"CALL $cat.expire_changes(table => '$t', keep_from_version => 2)")
    spark.sql(s"CALL $cat.vacuum(table => '$t', older_than_ms => 0)")
    assert(!GraftStore.hasChangelog(dir, 1L))
    assert(data.forall(Files.isRegularFile(_)))

    val expect = Seq((1L, 10L), (2L, 20L), (3L, 30L))
    def read(sql: String): Seq[(Long, Long)] = spark.sql(sql).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._1)
    assert(read(s"SELECT k, amount FROM $cat.$t") === expect)
    assert(read(s"SELECT k, amount FROM $cat.$t VERSION AS OF 1") === expect)
    assert(accounted(t, 1L) === ((bytes, bytes)))
  }
}
