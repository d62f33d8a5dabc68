package graft.sources

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import graft.SparkTestBase
import org.apache.spark.GraftTestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Fixed cost per statement on a merge-on-read table: the Spark jobs a
  * small keyed MERGE and the first point read of the version it publishes
  * run. The table has the benchmark's `mixed_mor` shape (8 buckets, a
  * BIGINT key, 30-row MERGEs of 5 deletes, 20 updates and 5 inserts).
  * Jobs are counted between two drained points of the listener bus.
  *
  * The bounds pin the small-batch commit path: the change batch decoded
  * on the driver (no decode, persist or touched-set jobs), the
  * after-images, delete slice and changelog slice written on the driver
  * (no write jobs), the before-images collected in one job, and the
  * delete-slice probe read in one job with no schema inference. Commit
  * legs and `CALL optimize` read a version through the same scan and
  * cached delete probe as a query, so a MERGE over a version whose probe
  * a read already loaded runs no more jobs than one over a version
  * without live deletes. A small batch that is not local (here an
  * RDD-backed DataFrame handed to `applyChanges`) keeps the persisted
  * path and must still be sized small from its cached plan. */
class CommitJobCountSpec extends SparkTestBase {

  private lazy val cat = "jobcount"
  private lazy val warehouse: String = {
    val p = Files.createTempDirectory("graft_jobcount_spec")
    p.toFile.deleteOnExit()
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", p.toString)
    p.toString
  }

  /** Jobs started by `body`, counted between two drained bus points. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    GraftTestBus.drain(sc)
    sc.addSparkListener(l)
    try { body; GraftTestBus.drain(sc) }
    finally sc.removeSparkListener(l)
    jobs.get()
  }

  private val table = s"$cat.mm"

  /** 25 existing keys (the first 5 deleted, the rest updated) and 5 new. */
  private def merge(round: Int): Unit = {
    val rows = (0 until 30).map { i =>
      val k = if (i < 25) round * 100L + i * 3 else 1000000L + round * 10 + i
      s"($k, ${round * 7 + i}, ${i % 3 == 0}, ${i < 5})"
    }.mkString(", ")
    spark.sql(s"""MERGE INTO $table t USING (SELECT * FROM
      VALUES $rows AS s(k, cents, flag, del)) s ON t.k = s.k
      WHEN MATCHED AND s.del THEN DELETE
      WHEN MATCHED THEN UPDATE SET cents = s.cents,
        flag = CASE WHEN s.flag THEN 'A' ELSE 'N' END
      WHEN NOT MATCHED AND NOT s.del THEN INSERT (k, orderkey, cents, flag)
        VALUES (s.k, 0, s.cents, 'R')""")
  }

  test("small mor MERGEs and the first read of a new version run a " +
      "fixed, small number of jobs") {
    warehouse
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"""CREATE TABLE $table (k BIGINT NOT NULL, orderkey BIGINT,
      cents BIGINT, flag STRING) USING graft
      TBLPROPERTIES ('merge_key'='k', 'buckets'='8', 'merge_mode'='mor')""")
    spark.sql(s"INSERT INTO $table SELECT id, id % 97, id * 10, 'N' " +
      "FROM range(0, 6000)")
    val dir = s"$warehouse/mm"
    // warm-up: the first statement of a session plans cold
    merge(1)
    spark.sql(s"CALL $cat.optimize(`table` => 'mm')").collect()
    assert(!GraftStore.hasLiveDv(GraftStore.versionDir(dir,
      GraftStore.currentVersion(dir))))

    val noLive = jobsOf(merge(2))
    assert(GraftStore.hasLiveDv(GraftStore.versionDir(dir,
      GraftStore.currentVersion(dir))))
    val firstRead = jobsOf {
      val got = spark.sql(s"SELECT cents FROM $table WHERE k = 215").collect()
      assert(got.map(_.getLong(0)).toSeq == Seq(2 * 7 + 5L))
    }
    val live = jobsOf(merge(3))
    assert(GraftStore.hasLiveDv(GraftStore.versionDir(dir,
      GraftStore.currentVersion(dir))))
    val optimizeLive = jobsOf(
      spark.sql(s"CALL $cat.optimize(`table` => 'mm')").collect())
    assert(!GraftStore.hasLiveDv(GraftStore.versionDir(dir,
      GraftStore.currentVersion(dir))))
    info(s"jobs: MERGE without live deletes $noLive, with live deletes " +
      s"$live, first point read of a new version $firstRead, optimize " +
      s"with live deletes $optimizeLive")
    assert(noLive <= 4)
    assert(live <= 4)
    assert(firstRead <= 2)
    assert(optimizeLive <= 3)
    // the statements above still produced the right table
    assert(spark.sql(s"SELECT count(*) FROM $table").head().getLong(0) ==
      6000 + 3 * 5 - 3 * 5)
    assert(spark.sql(s"SELECT count(*) FROM $table WHERE k = 300").head()
      .getLong(0) == 0)
  }

  test("a small change batch from a distributed plan is persisted and " +
      "keeps the small-batch legs") {
    warehouse
    spark.sql(s"DROP TABLE IF EXISTS $cat.dist")
    spark.sql(s"""CREATE TABLE $cat.dist (k BIGINT NOT NULL, orderkey BIGINT,
      cents BIGINT, flag STRING) USING graft
      TBLPROPERTIES ('merge_key'='k', 'buckets'='8', 'merge_mode'='mor')""")
    spark.sql(s"INSERT INTO $cat.dist SELECT id, id % 97, id * 10, 'N' " +
      "FROM range(0, 6000)")
    val dir = s"$warehouse/dist"
    // an RDD-backed batch: its plan has no size estimate until the
    // persisted batch is materialized, so the small-batch byte bound can
    // only pass on the cached plan's stats
    val schema = StructType(Seq(StructField(GraftStore.OpCol, StringType),
      StructField("k", LongType), StructField("orderkey", LongType),
      StructField("cents", LongType), StructField("flag", StringType)))
    def batch(base: Long) = spark.createDataFrame(
      spark.sparkContext.parallelize((0 until 30).map { i =>
        if (i < 5) Row("D", base + i * 3, null, null, null)
        else if (i < 25) Row("U", base + i * 3, 0L, i.toLong, "X")
        else Row("I", 2000000 + base + i, 0L, i.toLong, "X")
      }, 2), schema)
    GraftStore.applyChanges(spark, dir, batch(100)) // warm-up
    spark.sql(s"CALL $cat.optimize(`table` => 'dist')").collect()
    // persist + touched set 3, after-images 1, delete slice 1, changelog
    // 3; over the byte bound the legs would shuffle instead
    val n = jobsOf(GraftStore.applyChanges(spark, dir, batch(400)))
    info(s"jobs: distributed small batch $n")
    assert(n <= 8)
    assert(spark.sql(s"SELECT cents FROM $cat.dist WHERE k = 415").head()
      .getLong(0) == 5)
    assert(spark.sql(s"SELECT count(*) FROM $cat.dist").head().getLong(0) ==
      6000 + 2 * 5 - 2 * 5)
  }

  test("a MERGE's commit legs run their jobs under the statement's job group") {
    warehouse
    spark.sql(s"DROP TABLE IF EXISTS $cat.grp")
    spark.sql(s"""CREATE TABLE $cat.grp (k BIGINT NOT NULL, orderkey BIGINT,
      cents BIGINT, flag STRING) USING graft
      TBLPROPERTIES ('merge_key'='k', 'buckets'='8', 'merge_mode'='mor')""")
    spark.sql(s"INSERT INTO $cat.grp SELECT id, id % 97, id * 10, 'N' " +
      "FROM range(0, 6000)")
    val sc = spark.sparkContext
    def mergeUnder(group: String, round: Int): Seq[String] = {
      val groups = new ConcurrentLinkedQueue[String]()
      val l = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
      }
      sc.setJobGroup(group, s"merge round $round")
      GraftTestBus.drain(sc)
      sc.addSparkListener(l)
      try {
        spark.sql(s"""MERGE INTO $cat.grp t USING (SELECT * FROM VALUES
          (${round * 100}, 1), (${round * 100 + 1}, 2), (${1000000 + round}, 3)
          AS s(k, cents)) s ON t.k = s.k
          WHEN MATCHED AND s.cents = 2 THEN DELETE
          WHEN MATCHED THEN UPDATE SET cents = s.cents
          WHEN NOT MATCHED THEN INSERT (k, orderkey, cents, flag)
            VALUES (s.k, 0, s.cents, 'R')""")
        GraftTestBus.drain(sc)
      } finally {
        sc.removeSparkListener(l)
        sc.clearJobGroup()
      }
      groups.asScala.toSeq
    }
    // the first MERGE leaves the commit legs' pooled threads idle; the
    // second reuses them, and its jobs must carry its own group, not one
    // a pooled thread inherited when it was created
    assert(mergeUnder("graft-a", 1).nonEmpty)
    val second = mergeUnder("graft-b", 2)
    assert(second.nonEmpty)
    assert(second.forall(_ == "graft-b"), second)
    assert(spark.sql(s"SELECT cents FROM $cat.grp WHERE k = 200").head()
      .getLong(0) == 1)
  }
}
