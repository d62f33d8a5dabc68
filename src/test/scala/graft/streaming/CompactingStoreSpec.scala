package graft.streaming

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkTestBase
import org.apache.spark.sql.{AnalysisException, DataFrame}

/** The compacting store's layout and schema contract: a store starts as
  * one bucket and grows only by splitting, so its live buckets stay a
  * prefix-free cover that routes every key to the bucket holding it, and
  * a batch whose columns differ from the stored ones is rejected before
  * anything is written. */
class CompactingStoreSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(name: String): String = {
    val d = Files.createTempDirectory(s"graft_$name")
    d.toFile.deleteOnExit()
    d.toString + "/store"
  }

  private def batch(ids: Range, off: Long): DataFrame =
    ids.map(i => (s"key$i", off, s"value-$i-$off")).toDF("k", "off", "v")

  private def state(store: String): Map[String, (Long, String)] =
    spark.read.parquet(store).select("k", "off", "v").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getString(2))).toMap

  private def visibleFiles(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.filter(f => Files.isRegularFile(f) && {
      val n = f.getFileName.toString
      !n.startsWith(".") && !n.startsWith("_")
    }).toSeq
    finally s.close()
  }

  /** (bucket dir / file name → bytes) of every file under a `bucket=` dir. */
  private def bucketBytes(store: String): Map[String, Seq[Byte]] = {
    val root = Paths.get(store)
    val s = Files.walk(root)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).flatMap { p =>
      val rel = root.relativize(p)
      if (rel.getName(0).toString.startsWith("bucket="))
        Some(rel.toString -> Files.readAllBytes(p).toSeq)
      else None
    }.toMap
    finally s.close()
  }

  /** No live bucket is an ancestor of another: bucket a = 2^da + ra covers
    * bucket b = 2^db + rb (da < db) iff rb mod 2^da = ra. */
  private def assertPrefixFree(store: String): Unit = {
    def depth(n: Long): Int = 63 - java.lang.Long.numberOfLeadingZeros(n)
    val live = CompactingSink.liveBuckets(store)
    for (a <- live; b <- live if depth(a) < depth(b))
      assert((b - (1L << depth(b))) % (1L << depth(a)) != a - (1L << depth(a)),
        s"bucket=$a covers bucket=$b in $live")
  }

  test("a default-depth store is one bucket holding one file until it " +
      "outgrows maxBucketBytes, then splits into bucket=2 and bucket=3") {
    val store = tmp("one_bucket")
    val up = CompactingSink.upsertCompact(store, Seq("k"), Seq("off")) _
    up(batch(0 until 40, 1L), 0L)
    up(batch(20 until 60, 2L), 1L)
    up(batch(50 until 70, 3L), 2L)
    assert(CompactingSink.liveBuckets(store) == Seq(1L))
    val one = Paths.get(s"$store/bucket=1")
    assert(visibleFiles(one).size == 1, visibleFiles(one))
    val want = (0 until 70).map { i =>
      val off = if (i >= 50) 3L else if (i >= 20) 2L else 1L
      s"key$i" -> (off, s"value-$i-$off")
    }.toMap
    assert(state(store) == want)
    // the next epoch leaves the bucket above half its current size
    val bytes = visibleFiles(one).map(Files.size(_)).sum
    CompactingSink.upsertCompact(store, Seq("k"), Seq("off"),
      maxBucketBytes = bytes / 2)(batch(70 until 80, 4L), 3L)
    assert(CompactingSink.liveBuckets(store) == Seq(2L, 3L))
    val want2 = want ++ (70 until 80).map(i => s"key$i" -> (4L, s"value-$i-4"))
    assert(state(store) == want2)
    // and the children keep merging under the default bound
    up(batch(0 until 5, 5L), 4L)
    assert(CompactingSink.liveBuckets(store) == Seq(2L, 3L))
    assert(state(store) == want2 ++ (0 until 5).map(i => s"key$i" -> (5L, s"value-$i-5")))
  }

  test("a store split every epoch keeps every key in the bucket it routes to") {
    val store = tmp("split_each_epoch")
    // a 1-byte bound: every touched bucket holding data splits each epoch
    val up = CompactingSink.upsertCompact(store, Seq("k"), Seq("off"),
      maxBucketBytes = 1) _
    var want = Map.empty[String, (Long, String)]
    (1 to 4).foreach { e =>
      val ids = (e - 1) * 8 until e * 8 + 4
      up(batch(ids, e + 1L), e.toLong)
      want ++= ids.map(i => s"key$i" -> (e + 1L, s"value-$i-${e + 1}"))
      assertPrefixFree(store)
      val rows = spark.read.parquet(store).select("k").as[String].collect()
      assert(rows.length == rows.distinct.length, s"epoch $e")
      assert(state(store) == want, s"epoch $e")
      // each key's row sits in the `bucket=` dir that bucketOf routes it to
      val live = CompactingSink.liveBuckets(store)
      val misplaced = spark.read.parquet(store)
        .select($"k", $"bucket", CompactingSink.bucketOf(Seq("k"), live).as("routed"))
        .filter($"bucket" =!= $"routed").as[(String, Long, Long)].collect()
      assert(misplaced.isEmpty, s"epoch $e: ${misplaced.toSeq} in $live")
    }
    assert(CompactingSink.liveBuckets(store).size > 2)
  }

  test("an epoch whose batch lacks a stored column or adds one throws and " +
      "leaves every bucket dir byte-identical") {
    val store = tmp("mismatch")
    val up = CompactingSink.upsertCompact(store, Seq("k"), Seq("off")) _
    up(batch(0 until 20, 1L), 0L)
    val before = bucketBytes(store)
    assert(before.nonEmpty)
    // the batch lacks the stored column `v`
    intercept[AnalysisException](
      up(Seq(("key1", 2L)).toDF("k", "off"), 1L))
    assert(bucketBytes(store) == before)
    // the batch adds a column `w` the store does not have
    intercept[AnalysisException](
      up(Seq(("key1", 2L, "x", 7)).toDF("k", "off", "v", "w"), 2L))
    assert(bucketBytes(store) == before)
    assert(state(store) == (0 until 20).map(i => s"key$i" -> (1L, s"value-$i-1")).toMap)
  }
}
