package graft.sources

import java.nio.file.Files

import graft.SparkTestBase
import org.apache.spark.metrics.source.HiveCatalogMetrics
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, MicroBatchScanExec}
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.Trigger

/** The changelog's one reader: `readChanges`, the `t$changes` batch scan
  * and the `t$changes` micro-batch stream all plan a version range from
  * exactly the slices in it — never Spark's own file listing, and never
  * the rest of the retained history. */
class ChangelogScanSpec extends SparkTestBase {

  private lazy val cat = "graftchlog"
  private lazy val warehouse: String = {
    val p = Files.createTempDirectory("graft_changelog_scan_spec")
    p.toFile.deleteOnExit()
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", p.toString)
    p.toString
  }

  private def mkTable(name: String, buckets: Int): String = {
    warehouse
    spark.sql(s"DROP TABLE IF EXISTS $cat.$name")
    spark.sql(s"""CREATE TABLE $cat.$name
      (k BIGINT NOT NULL, name STRING, amount BIGINT) USING graft
      TBLPROPERTIES ('merge_key'='k', 'buckets'='$buckets')""")
    name
  }

  /** (slice dir name, file name) of every file the plan's scans read. */
  private def planned(plan: SparkPlan): Set[(String, String)] = {
    def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
      case qs: QueryStageExec => leaves(qs.plan)
      case other => other.collectLeaves().flatMap {
        case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
        case qs: QueryStageExec => leaves(qs.plan)
        case l => Seq(l)
      }
    }
    leaves(plan).flatMap {
      case b: BatchScanExec => b.inputPartitions
      case m: MicroBatchScanExec => m.inputPartitions
      case _ => Nil
    }.flatMap {
      case fp: FilePartition => fp.files.toSeq.map { f =>
        val p = f.toPath
        (p.getParent.getName, p.getName)
      }
      case other => fail(s"unexpected partition $other")
    }.toSet
  }

  private def filesDiscovered: Long =
    HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount

  test("a one-slice read plans exactly that slice and lists no files") {
    val t = mkTable("t_slice", buckets = 2)
    val dir = s"$warehouse/$t"
    def insert(i: Int) =
      spark.sql(s"INSERT INTO $cat.$t VALUES ($i, 'r$i', ${i * 10})")
    // the stream drains v - 1 versions first; its checkpoint then resumes
    // at v - 1, so the run after the last commit is one batch (v - 1, v]
    val ckpt = Files.createTempDirectory("graft_chlog_ckpt").toString
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Long]]()
    def drain() = {
      batches.clear()
      val q = spark.readStream.table(s"$cat.`t_slice$$changes`")
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          batches.add(b.collect().map(_.getAs[Long]("k")).toSeq); ()
        }.trigger(Trigger.AvailableNow()).start()
      try assert(q.awaitTermination(120000L)) finally q.stop()
      q
    }
    (1 to 199).foreach(insert)
    drain()
    insert(200)
    val v = GraftStore.currentVersion(dir)
    assert(v === 200L)
    val slice = GraftStats.listDataFiles(
      s"${GraftStore.changesRoot(dir)}/change_version=$v")
      .map(f => (s"change_version=$v", f)).toSet
    assert(slice.nonEmpty)

    Seq(() => GraftStore.readChanges(spark, dir, v, v),
        () => spark.sql(s"SELECT * FROM $cat.`t_slice$$changes` " +
          s"WHERE change_version = $v")).foreach { read =>
      val before = filesDiscovered
      val df = read()
      assert(df.collect().map(_.getAs[Long]("k")).toSeq === Seq(200L))
      assert(planned(df.queryExecution.executedPlan) === slice)
      assert(filesDiscovered === before, "a slice read must not list files")
    }

    val before = filesDiscovered
    val q = drain()
    assert(filesDiscovered === before, "a stream batch must not list files")
    assert(batches.toArray.toSeq === Seq(Seq(200L)))
    val last = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution
    assert(planned(last.executedPlan) === slice)
  }

  test("a streamed t$changes after RENAME COLUMN equals readChanges, in logical names") {
    val t = mkTable("t_ren", buckets = 2)
    val dir = s"$warehouse/$t"
    spark.sql(s"INSERT INTO $cat.$t VALUES (1, 'a', 10), (2, 'b', 20)")
    spark.sql(s"ALTER TABLE $cat.$t RENAME COLUMN amount TO cents")
    spark.sql(s"UPDATE $cat.$t SET cents = cents + 1 WHERE k = 1")
    spark.sql(s"INSERT INTO $cat.$t VALUES (3, 'c', 30)")
    spark.sql(s"DELETE FROM $cat.$t WHERE k = 2")
    val streamed = graft.streaming.StreamingQueries.runToMemoryAvailableNow(
      spark, spark.readStream.table(s"$cat.`t_ren$$changes`"),
      org.apache.spark.sql.streaming.OutputMode.Append())
    val batch = GraftStore.readChanges(spark, dir, 1L,
      GraftStore.currentVersion(dir))
    def names(df: org.apache.spark.sql.DataFrame) = (df.columns.toSeq,
      df.schema(GraftStore.ChangeBeforeCol).dataType
        .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSeq)
    assert(names(streamed) === names(batch))
    assert(names(streamed) === (Seq("k", "name", "cents", "change_op",
      "change_before", "change_version"), Seq("k", "name", "cents")))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.selectExpr("change_version", "change_op", "k", "name", "cents",
          "change_before.cents")
        .collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    assert(rows(streamed) === rows(batch))
    assert(rows(streamed) === Seq("1|I|1|a|10|null", "1|I|2|b|20|null",
      "2|U|1|a|11|10", "3|I|3|c|30|null", "4|D|2|null|null|20"))
  }
}
