package graft.streaming

import graft.Graft
import graft.sources.GraftStats
import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** The north-star composition (BASELINE.json "spark_approach"): a
  * Structured Streaming consumer whose sink maintains a compacted
  * latest-per-key store — each micro-batch merges into the store and
  * re-compacts, so downstream readers always see exactly one row per key.
  *
  * The store is partitioned by key-hash bucket (`bucket=N` subdirs, read
  * back by plain partition discovery), so a micro-batch reads, re-compacts
  * and rewrites ONLY the buckets its keys hash into. Each touched bucket
  * is rewritten whole: while the store is one bucket (below
  * `maxBucketBytes`) every epoch rewrites the whole store, however few
  * keys the batch has; once it has split, the rewrite tracks the batch's
  * key spread over buckets of at most about `maxBucketBytes` each. All
  * touched buckets are written in one Spark job (partitionBy on the bucket
  * column); the per-bucket directory swap is then pure fs metadata.
  *
  * Fixed cost per epoch: 3 Spark jobs — one for the touched-bucket pass
  * (a per-partition distinct merged on the driver, no exchange) and two
  * for the compacting write (its shuffle stage and the write stage under
  * AQE). The stored schema comes from one data file's footer on the
  * driver, so reading the touched buckets runs no schema-inference job.
  * The batch is scanned twice: by the touched pass and by the write.
  *
  * Bucket GROWTH (extendible hashing): the bucket name encodes its depth —
  * bucket n = 2^d + r (d = floor(log2 n)) holds keys with hash mod 2^d = r.
  * Every store starts as one bucket, `bucket=1`, so a store under
  * `maxBucketBytes` is one file and an epoch rewrites one file (fewer
  * jobs and files than 16 small buckets, paid for with the whole-store
  * rewrite above: a win for small stores or batches that touch most
  * buckets, about twice the epoch time for a store near the bound fed
  * one-key batches; DESIGN.md). Any bucket whose on-disk size exceeds
  * `maxBucketBytes` after a merge is split into its two depth-(d+1)
  * children (r and r + 2^d). Both children are ALWAYS created, even when
  * one is empty, so the live bucket set
  * remains a prefix-free cover of the key space: every key routes to
  * exactly one live bucket (its unique deepest match), names are never
  * recreated, and a 100 TB store self-scales instead of freezing at the
  * creation-time bucket count. Routing is a pure column expression over
  * the driver-known bucket list (bounded metadata); the cluster-scale
  * landing for that list is a table-format manifest, with this same merge
  * and split logic.
  *
  * Crash safety: merge swaps are tmp-in-place-BEFORE-old-removed
  * (live → `_old_bucket=N`, tmp → live, drop `_old`); splits stage both
  * children under `_split_<n>` before touching the live tree (children in
  * place only after the parent is parked at `_old_bucket=n`). [[recover]]
  * runs at the start of every batch: an interrupted split is rolled back
  * (derived children dropped, parent restored), a leftover `_old` whose
  * live dir vanished is restored, stray staging roots are dropped, and the
  * checkpoint-replayed batch re-merges idempotently (max_by keeps the same
  * survivor). The underscore prefixes also hide in-flight dirs from
  * parquet discovery, so concurrent readers never see a half-written
  * store. The store keeps only its latest state: versions, time travel
  * and aggregate views over a stream belong to graft tables
  * (`writeStream.toTable`, `create_tag` + `VERSION AS OF`, materialized
  * views).
  *
  * Reference analogue: the execution queue's tick-drain consuming frames
  * into current state (scheduler.cpp:81-108), upgraded from at-most-once to
  * checkpoint-replayable merges.
  */
object CompactingSink {

  /** Local default; a cluster deployment sizes this to its target file
    * size (e.g. 256 MB-1 GB). */
  val DefaultMaxBucketBytes: Long = 64L * 1024 * 1024

  private def depthOf(name: Long): Int = 63 - java.lang.Long.numberOfLeadingZeros(name)

  /** Children of bucket n = 2^d + r: depth d+1 names for residues r and
    * r + 2^d. */
  private[streaming] def childrenOf(n: Long): (Long, Long) = {
    val d = depthOf(n)
    val r = n - (1L << d)
    ((2L << d) + r, (2L << d) + r + (1L << d))
  }

  /** Live bucket names (sorted) from the store's directory listing. */
  private[streaming] def liveBuckets(storeDir: String): Seq[Long] = {
    val root = Paths.get(storeDir)
    if (!Files.isDirectory(root)) return Seq.empty
    val s = Files.list(root)
    try s.iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("bucket="))
      .map(_.stripPrefix("bucket=").toLong).toSeq.sorted
    finally s.close()
  }

  /** Routing expression: the key's deepest live bucket match, else its
    * home at the shallowest live depth (`bucket=1` for an empty store).
    * Every store starts as `bucket=1` and grows only by splitting, so the
    * live set is a prefix-free cover and exactly one live match exists
    * for every key. */
  private[streaming] def bucketOf(keyCols: Seq[String], live: Seq[Long]): Column = {
    val h = xxhash64(keyCols.map(col): _*)
    def candidate(d: Int): Column = pmod(h, lit(1L << d)) + lit(1L << d)
    val fallback = if (live.isEmpty) 0 else live.map(depthOf).min
    val deeper = live.map(depthOf).distinct.filter(_ > fallback).sorted.reverse
    val d0 = candidate(fallback)
    deeper.foldRight(d0) { (d, shallower) =>
      val names = live.filter(depthOf(_) == d)
      when(candidate(d).isin(names: _*), candidate(d)).otherwise(shallower)
    }
  }

  /** Visible data files of a bucket dir (empty if absent). Empty child
    * buckets are live for ROUTING but are excluded from reads. */
  private def dataFiles(p: Path): Seq[Path] =
    GraftStats.listDataFiles(p.toString).map(p.resolve(_))

  private def dirBytes(p: Path): Long = {
    if (!Files.isDirectory(p)) return 0L
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size(_)).sum
    finally s.close()
  }

  /** foreachBatch body: merge `batch` into the compacted store at
    * `storeDir`, keeping the max-`orderCols` row per `keyCols`, then split
    * any touched bucket that outgrew `maxBucketBytes`. `bucket` is a
    * reserved column name in the store. */
  def upsertCompact(storeDir: String, keyCols: Seq[String], orderCols: Seq[String],
                    maxBucketBytes: Long = DefaultMaxBucketBytes)
                   (batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    recover(storeDir)
    val live = liveBuckets(storeDir)
    val withB = batch.withColumn("bucket", bucketOf(keyCols, live))
    // one job, one stage: each task dedups its partition and the driver
    // merges, with no exchange. Bounded driver metadata: per task at most
    // |live buckets| + 2^(fallback depth) values
    val touched = withB.select("bucket").as(Encoders.scalaLong)
      .mapPartitions((it: Iterator[Long]) => it.toSet.iterator)(Encoders.scalaLong)
      .collect().distinct.sorted
    if (touched.isEmpty) return
    val existingDirs = touched.toSeq.map(b => Paths.get(s"$storeDir/bucket=$b"))
      .map(d => d -> dataFiles(d)).filter(_._2.nonEmpty)
    // stored files carry payload columns only; the bucket is re-derived
    // from the keys (same hash, same live set), keeping reader schema =
    // writer schema. The stored schema comes from one footer (no
    // inference job), never from the batch: `unionByName` must still
    // reject a batch that lacks a stored column or adds one.
    val existing =
      if (existingDirs.nonEmpty)
        Some(spark.read.schema(GraftStats.fileSchema(spark, existingDirs.head._2.head))
          .parquet(existingDirs.map(_._1.toString): _*)
          .withColumn("bucket", bucketOf(keyCols, live)))
      else None
    val all = existing.map(_.unionByName(withB)).getOrElse(withB)
    val compacted = Graft.compactLatest(all, keyCols, orderCols)
    val tmpRoot = s"$storeDir/_tmp_$batchId"
    compacted.write.mode("overwrite").partitionBy("bucket").parquet(tmpRoot)
    Files.createDirectories(Paths.get(storeDir))
    touched.foreach { b =>
      val liveDir = Paths.get(s"$storeDir/bucket=$b")
      val old = Paths.get(s"$storeDir/_old_bucket=$b")
      val tmp = Paths.get(s"$tmpRoot/bucket=$b")
      if (Files.exists(tmp)) {
        if (Files.exists(liveDir)) Files.move(liveDir, old, StandardCopyOption.ATOMIC_MOVE)
        Files.move(tmp, liveDir, StandardCopyOption.ATOMIC_MOVE)
        if (Files.exists(old)) deleteRecursively(old)
      }
    }
    deleteRecursively(Paths.get(tmpRoot))
    // growth: only the touched buckets can have grown
    touched.foreach { b =>
      if (dirBytes(Paths.get(s"$storeDir/bucket=$b")) > maxBucketBytes)
        splitBucket(spark, storeDir, keyCols, b)
    }
  }

  /** Split bucket n into its two children. Staged under `_split_<n>` so an
    * interruption at any point either leaves the parent live (staging
    * dropped) or is rolled back by [[recover]] (derived children dropped,
    * parent restored); the split then simply retries after a later batch. */
  private def splitBucket(spark: SparkSession, storeDir: String,
                          keyCols: Seq[String], n: Long): Unit = {
    val d1 = depthOf(n) + 1
    val (c1, c2) = childrenOf(n)
    val splitRoot = Paths.get(s"$storeDir/_split_$n")
    val parent = Paths.get(s"$storeDir/bucket=$n")
    val files = dataFiles(parent)
    if (files.isEmpty) return
    val df = spark.read.schema(GraftStats.fileSchema(spark, files.head))
      .parquet(parent.toString)
      .withColumn("bucket", pmod(xxhash64(keyCols.map(col): _*), lit(1L << d1)) + lit(1L << d1))
    df.write.mode("overwrite").partitionBy("bucket").parquet(splitRoot.toString)
    // both children must exist — the live set stays a prefix-free cover
    Seq(c1, c2).foreach(c => Files.createDirectories(splitRoot.resolve(s"bucket=$c")))
    val old = Paths.get(s"$storeDir/_old_bucket=$n")
    Files.move(parent, old, StandardCopyOption.ATOMIC_MOVE)
    Seq(c1, c2).foreach { c =>
      Files.move(splitRoot.resolve(s"bucket=$c"),
        Paths.get(s"$storeDir/bucket=$c"), StandardCopyOption.ATOMIC_MOVE)
    }
    deleteRecursively(old)
    deleteRecursively(splitRoot)
  }

  /** Crash recovery, run before every merge (and safe to call at startup):
    * roll back interrupted splits (children derived from a parked parent
    * are dropped, the parent restored), restore any `_old_bucket=N` whose
    * live dir vanished (crash between the two merge moves), drop `_old`
    * leftovers whose live dir exists (crash before cleanup), and drop
    * incomplete `_tmp_*` / `_split_*` staging roots (their batch replays
    * from the checkpoint, the split retries on a later batch). */
  def recover(storeDir: String): Unit = {
    val root = Paths.get(storeDir)
    if (!Files.isDirectory(root)) return
    def children(): List[Path] = {
      val s = Files.list(root)
      try s.iterator().asScala.toList finally s.close()
    }
    // 1. interrupted splits: _split_<n> still present
    children().foreach { p =>
      val nm = p.getFileName.toString
      if (nm.startsWith("_split_")) {
        val n = nm.stripPrefix("_split_").toLong
        val old = root.resolve(s"_old_bucket=$n")
        if (Files.exists(old)) {
          // parent was parked: any live children were derived from it
          // (names are never recreated while the parent exists) — drop
          // them and restore the parent
          val (c1, c2) = childrenOf(n)
          Seq(c1, c2).foreach(c => deleteRecursively(root.resolve(s"bucket=$c")))
          Files.move(old, root.resolve(s"bucket=$n"), StandardCopyOption.ATOMIC_MOVE)
        }
        deleteRecursively(p)
      }
    }
    // 2. merge leftovers
    children().foreach { p =>
      val n = p.getFileName.toString
      if (n.startsWith("_old_bucket=")) {
        val live = root.resolve(n.stripPrefix("_old_"))
        if (!Files.exists(live)) Files.move(p, live, StandardCopyOption.ATOMIC_MOVE)
        else deleteRecursively(p)
      } else if (n.startsWith("_tmp_")) deleteRecursively(p)
    }
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.iterator().asScala.toList.foreach(deleteRecursively) finally s.close()
    }
    Files.deleteIfExists(p)
  }
}
