package graft.sources

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkTestBase
import graft.streaming.CompactingSink
import org.apache.spark.GraftTestBus
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.util.LongAccumulator

/** Fixed cost per epoch of the compacting sink: the Spark jobs one
  * `CompactingSink.upsertCompact` micro-batch runs against a non-empty
  * store, counted between two drained points of the listener bus.
  *
  * The bound pins three jobs: the touched-bucket pass (a per-partition
  * distinct merged on the driver, one stage) and the compacting write
  * (its shuffle stage and its write stage). Reading the touched buckets
  * takes the stored schema from a footer on the driver, so it runs no
  * schema-inference job. */
class SinkEpochJobCountSpec extends SparkTestBase {

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

  private val schema = StructType(Seq(StructField("k", StringType),
    StructField("off", LongType), StructField("v", StringType)))

  /** An RDD-backed batch, the shape `foreachBatch` hands the sink: every
    * action on it rescans its source, and `scans` counts the rows read. */
  private def batch(first: Int, n: Int, scans: LongAccumulator): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(first until first + n, 2)
      .map { i => scans.add(1); Row(s"k${i % 150}", i.toLong, s"v$i") }, schema)

  test("an upsertCompact epoch into a non-empty store runs at most 3 jobs") {
    val store = Files.createTempDirectory("graft_epoch_jobs").toString + "/store"
    val up = CompactingSink.upsertCompact(store, Seq("k"), Seq("off")) _
    val scans = spark.sparkContext.longAccumulator("batch rows scanned")
    // warm-up: the first epochs of a session plan cold
    up(batch(0, 100, scans), 0L)
    up(batch(100, 100, scans), 1L)
    scans.reset()
    val n = jobsOf(up(batch(200, 100, scans), 2L))
    info(s"jobs: upsertCompact epoch into a non-empty store $n; batch rows " +
      s"scanned ${scans.value} of 100")
    assert(n <= 3)
    val state = spark.read.parquet(store).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(state == (150 until 300).map(i => s"k${i % 150}" -> i.toLong).toMap)
  }
}
