package graft.sources

import java.nio.file.{Files, Paths}

import graft.SparkTestBase
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Failure-path behavior of the delta staging machinery: task aborts
  * remove their staging files, batch aborts remove the whole staging dir,
  * and commit consumes ONLY the files named in committed task messages —
  * a speculative/zombie task's orphan file is never applied and is swept
  * with the staging dir. */
class GraftDeltaSpec extends SparkTestBase {

  private val rowSchema = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("name", StringType),
    StructField("amount", LongType)))
  private val idSchema = StructType(Seq(StructField("k", LongType, nullable = false)))

  private def row(k: Long, name: String, amount: Long): InternalRow =
    InternalRow(k, UTF8String.fromString(name), amount)

  test("writer abort deletes its staging file; commit returns the path") {
    val staging = Files.createTempDirectory("graft_delta_spec").toString
    val w1 = new GraftDeltaWriter(s"$staging/t-0.bin", rowSchema, idSchema)
    w1.insert(row(1, "a", 10))
    val msg = w1.commit().asInstanceOf[GraftDeltaCommit]
    assert(Files.exists(Paths.get(msg.path)))

    val w2 = new GraftDeltaWriter(s"$staging/t-1.bin", rowSchema, idSchema)
    w2.insert(row(2, "b", 20))
    w2.abort()
    assert(!Files.exists(Paths.get(s"$staging/t-1.bin")),
      "aborted task must remove its staging file")
  }

  test("commit applies only committed messages; orphans are swept, not applied") {
    spark.sparkContext // commit resolves SparkSession.active — init it first
    val dir = Files.createTempDirectory("graft_delta_store").toString + "/t"
    GraftStore.create(dir, GraftTableMeta(rowSchema, Seq("k"), buckets = 2))
    val staging = GraftStore.stagingDir(dir, "q1")

    val committed = new GraftDeltaWriter(s"$staging/t-0.bin", rowSchema, idSchema)
    committed.insert(row(1, "a", 10))
    val msg = committed.commit()

    // a zombie task's file: present on disk, but its message never reached
    // the driver — its rows must not be applied
    val zombie = new GraftDeltaWriter(s"$staging/t-9.bin", rowSchema, idSchema)
    zombie.insert(row(99, "zombie", 999))
    zombie.commit() // file persists; message dropped below

    val batch = new GraftDeltaBatchWrite(dir, GraftStore.readMeta(dir),
      rowSchema, idSchema, staging, GraftStore.currentVersion(dir))
    batch.commit(Array(msg))

    val rows = GraftStore
      .readVersion(spark, dir, GraftStore.currentVersion(dir))
      .select("k").collect().map(_.getLong(0)).toSet
    assert(rows === Set(1L), s"zombie row must not be applied, got $rows")
    assert(!Files.exists(Paths.get(staging)),
      "commit must sweep the whole staging dir, orphans included")
  }

  test("batch delta commit re-bases onto a schema ALTERed mid-statement") {
    spark.sparkContext
    val dir = Files.createTempDirectory("graft_delta_ddl").toString + "/t"
    GraftStore.create(dir, GraftTableMeta(rowSchema, Seq("k"), buckets = 2))
    // the statement pins its meta when the operation is built (a long
    // merge's rewrite job), stages deltas under the OLD schema…
    val capturedMeta = GraftStore.readMeta(dir)
    val staging = GraftStore.stagingDir(dir, "q_ddl")
    val w = new GraftDeltaWriter(s"$staging/t-0.bin", rowSchema, idSchema)
    w.insert(row(1, "a", 10))
    w.insert(row(2, "b", 20))
    val msg = w.commit()
    // …then DDL lands before the commit: rename `amount` -> `pennies`,
    // add a column. The commit must follow the rename by PHYSICAL
    // identity and null-fill the new column instead of crashing on a
    // column-list mismatch.
    val renamed = StructType(capturedMeta.schema.fields.map { f =>
      if (f.name != "amount") f
      else f.copy(name = "pennies", metadata =
        new org.apache.spark.sql.types.MetadataBuilder()
          .putString(GraftStore.PhysicalKey, "amount").build())
    }.toSeq :+ StructField("extra", StringType, nullable = true))
    GraftStore.writeMeta(dir, capturedMeta.copy(schema = renamed))

    val batch = new GraftDeltaBatchWrite(dir, capturedMeta,
      rowSchema, idSchema, staging, GraftStore.currentVersion(dir))
    batch.commit(Array(msg))

    val got = GraftStore
      .readVersion(spark, dir, GraftStore.currentVersion(dir))
      .select("k", "name", "pennies", "extra").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) null else r.getString(3))).toSet
    assert(got === Set((1L, "a", 10L, null), (2L, "b", 20L, null)),
      s"deltas must follow the rename and null-fill the add, got $got")
  }

  test("changelog crash windows: staged remnants invisible, committed staging recovered") {
    // window A: changelog staged for version N+1, pointer never flipped —
    // the dot-prefixed staging dir is invisible to every reader (parquet
    // discovery skips dotfiles) and recovery deletes it; the next commit
    // claims version 2 cleanly.
    import org.apache.spark.sql.functions._
    spark.sparkContext
    val dir = Files.createTempDirectory("graft_delta_store3").toString + "/t"
    GraftStore.create(dir, GraftTableMeta(rowSchema, Seq("k"), buckets = 2))
    import spark.implicits._
    GraftStore.applyChanges(spark, dir,
      Seq((1L, "a", 10L)).toDF("k", "name", "amount")
        .withColumn(GraftStore.OpCol, lit("I")), allInserts = true) // v1
    val staging = s"${GraftStore.changesRoot(dir)}/.staging-2"
    Seq((99L, "ghost", 999L, "I")).toDF("k", "name", "amount", GraftStore.ChangeOpCol)
      .write.parquet(staging)
    assert(GraftStore.currentVersion(dir) === 1L)
    val visible = GraftStore.readChanges(spark, dir, 1L, 10L)
      .select("k").collect().map(_.getLong(0)).toSet
    assert(visible === Set(1L), s"staged remnant must be invisible, got $visible")
    assert(!Files.exists(Paths.get(staging)),
      "recovery must drop staging for a version the pointer never reached")
    GraftStore.applyChanges(spark, dir,
      Seq((2L, "b", 20L)).toDF("k", "name", "amount")
        .withColumn(GraftStore.OpCol, lit("I")), allInserts = true) // v2
    val v2 = GraftStore.readChanges(spark, dir, 2L, 2L)
      .select("k").collect().map(_.getLong(0)).toSet
    assert(v2 === Set(2L), s"fresh v2 changelog expected, got $v2")

    // window B: pointer flipped but the staging → final rename never ran —
    // recovery must finish the publication so the committed version's
    // changes are not silently skipped.
    val finalV2 = s"${GraftStore.changesRoot(dir)}/${GraftStore.ChangeVersionCol}=2"
    Files.move(Paths.get(finalV2), stagedSlice(dir, 2L))
    val recovered = GraftStore.readChanges(spark, dir, 2L, 2L)
      .select("k").collect().map(_.getLong(0)).toSet
    assert(recovered === Set(2L),
      s"committed staging must be published by recovery, got $recovered")
    assert(Files.exists(Paths.get(finalV2)))
  }

  test("batch abort removes the staging dir without touching the table") {
    val dir = Files.createTempDirectory("graft_delta_store2").toString + "/t"
    GraftStore.create(dir, GraftTableMeta(rowSchema, Seq("k"), buckets = 2))
    val staging = GraftStore.stagingDir(dir, "q2")
    val w = new GraftDeltaWriter(s"$staging/t-0.bin", rowSchema, idSchema)
    w.insert(row(5, "x", 50))
    val msg = w.commit()
    val batch = new GraftDeltaBatchWrite(dir, GraftStore.readMeta(dir),
      rowSchema, idSchema, staging, GraftStore.currentVersion(dir))
    batch.abort(Array(msg))
    assert(!Files.exists(Paths.get(staging)))
    assert(GraftStore.currentVersion(dir) === 0L, "no version committed")
  }

  test("a delta pinned to a stale snapshot conflicts, not silently rebases") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_snapshot_spec").toString + "/t"
    GraftStore.create(dir, GraftTableMeta(rowSchema, Seq("k"), buckets = 2))
    GraftStore.applyChanges(spark, dir,
      Seq((1L, "a", 10L)).toDF("k", "name", "amount")
        .withColumn(GraftStore.OpCol, lit("I")), allInserts = true) // v1
    val snapshot = GraftStore.currentVersion(dir)
    // a concurrent writer lands v2 between the statement's scan and commit
    GraftStore.applyChanges(spark, dir,
      Seq((2L, "b", 20L)).toDF("k", "name", "amount")
        .withColumn(GraftStore.OpCol, lit("I")), allInserts = true) // v2
    val stale = Seq((1L, "a9", 99L)).toDF("k", "name", "amount")
      .withColumn(GraftStore.OpCol, lit("U"))
    intercept[java.util.ConcurrentModificationException] {
      GraftStore.applyChanges(spark, dir, stale,
        expectedVersion = Some(snapshot))
    }
    // untouched by the failed statement; re-running against the current
    // version succeeds
    assert(GraftStore.readVersion(spark, dir, GraftStore.currentVersion(dir))
      .filter(col("k") === 1L).head().getLong(2) === 10L)
    GraftStore.applyChanges(spark, dir, stale,
      expectedVersion = Some(GraftStore.currentVersion(dir)))
    assert(GraftStore.readVersion(spark, dir, GraftStore.currentVersion(dir))
      .filter(col("k") === 1L).head().getLong(2) === 99L)
  }

  test("commit-claim crash protocol: stale takeover has one winner, remnants clear") {
    val dir = Files.createTempDirectory("graft_claim_spec").toString + "/t"
    GraftStore.create(dir, GraftTableMeta(rowSchema, Seq("k"), buckets = 2))
    // a crashed writer left: its claim marker, a partial next-version
    // build dir, and a changelog staging dir — the table still reads at
    // version 0
    val marker = Paths.get(dir, f"_commit-${1L}%010d")
    Files.write(marker, "crashed".getBytes)
    Files.createDirectories(Paths.get(
      s"${GraftStore.versionDir(dir, 1L)}.build-crashed", "gbucket=0"))
    Files.createDirectories(Paths.get(s"$dir/_changes/.staging-1-crashed"))
    // a fresh claim within the stale window fails cleanly...
    intercept[java.util.ConcurrentModificationException] {
      GraftStore.claimCommit(dir, 1L)
    }
    // ...and a takeover past the window wins exactly once
    Thread.sleep(20) // claim age must exceed the (zero) stale window
    val (won, wonToken) = GraftStore.claimCommit(dir, 1L, staleClaimMillis = 0L)
    assert(Files.exists(won))
    // the crashed owner's release is a no-op on the takeover's claim
    GraftStore.releaseClaim(won, "not-the-owner-token")
    assert(Files.exists(won), "release without ownership must not delete")
    intercept[java.util.ConcurrentModificationException] {
      GraftStore.claimCommit(dir, 1L, staleClaimMillis = Long.MaxValue)
    }
    GraftStore.releaseClaim(won, wonToken)
    assert(!Files.exists(won))
    // the next real commit through the store sweeps the crash remnants:
    // partial vdir rebuilt, orphan changelog staging dropped, pointer at 1
    import spark.implicits._
    val ch = Seq((1L, "a", 10L)).toDF("k", "name", "amount")
      .withColumn(GraftStore.OpCol, org.apache.spark.sql.functions.lit("I"))
    val v = GraftStore.applyChanges(spark, dir, ch, allInserts = true)
    assert(v === 1L && GraftStore.currentVersion(dir) === 1L)
    assert(!Files.exists(Paths.get(s"$dir/_changes/.staging-1-crashed")),
      "orphan changelog staging must not survive recovery")
    assert(GraftStore.readVersion(spark, dir, 1L).count() === 1L)
    assert(GraftStore.readChanges(spark, dir, 1L, 1L).count() === 1L)
  }

  test("changes stream plans a committed-but-unpublished slice (crash between flip and publish)") {
    val dir = Files.createTempDirectory("graft_cdcrec_spec").toString + "/t"
    GraftStore.create(dir, GraftTableMeta(rowSchema, Seq("k"), buckets = 2))
    import spark.implicits._
    def commit(k: Long): Unit = GraftStore.applyChanges(spark, dir,
      Seq((k, s"r$k", k * 10)).toDF("k", "name", "amount")
        .withColumn(GraftStore.OpCol, org.apache.spark.sql.functions.lit("I")),
      allInserts = true)
    commit(1L) // v1, published normally
    commit(2L) // v2 — then SIMULATE the crash window: changelog back to
    // staging (committed version, publication never happened)
    val published = Paths.get(s"$dir/_changes/change_version=2")
    val staged = stagedSlice(dir, 2L)
    Files.move(published, staged)
    // a batch covering (1, 2] must NOT skip v2: plan-time recovery
    // publishes the staged slice before the missing-dir filter runs
    val stream = new GraftChangesMicroBatchStream(dir, GraftStore.readMeta(dir))
    val parts = stream.planInputPartitions(
      GraftVersionOffset(1L), GraftVersionOffset(2L))
    assert(parts.nonEmpty,
      "committed-but-unpublished changelog slice was silently skipped")
    assert(Files.isDirectory(published) && !Files.exists(staged),
      "plan-time recovery must publish the staged slice")
    // and the horizon guard: a resume point below expire_changes' horizon
    // fails loudly instead of returning an empty batch
    commit(3L)
    GraftStore.expireChanges(dir, keepFromVersion = 3L)
    val e = intercept[IllegalStateException] {
      stream.planInputPartitions(GraftVersionOffset(1L), GraftVersionOffset(3L))
    }
    assert(e.getMessage.contains("restart the consumer from a fresh table snapshot"))
  }

  test("meta lock: token-guarded release, one-winner stale takeover") {
    val dir = Files.createTempDirectory("graft_mlock_spec").toString + "/t"
    GraftStore.create(dir, GraftTableMeta(rowSchema, Seq("k"), buckets = 2))
    val lock = Paths.get(dir, "_meta_lock")
    // stale foreign lock: withMetaLock breaks it and runs
    Files.write(lock, "dead".getBytes("UTF-8"))
    Files.setLastModifiedTime(lock,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 1000L))
    var ran = false
    GraftStore.withMetaLock(dir, staleMs = 100L) { ran = true }
    assert(ran && !Files.exists(lock))
    // a YOUNG foreign lock is respected: the waiter must not delete it
    // (we observe that by racing a short-budget acquire against it)
    Files.write(lock, "live-holder".getBytes("UTF-8"))
    val t0 = System.currentTimeMillis()
    val waiter = new Thread(() => {
      try GraftStore.withMetaLock(dir, staleMs = 60000L) { () }
      catch { case _: java.util.ConcurrentModificationException => () }
    })
    waiter.start()
    Thread.sleep(150)
    assert(Files.exists(lock) &&
      new String(Files.readAllBytes(lock), "UTF-8") == "live-holder",
      "a live holder's lock must survive contention")
    Files.delete(lock) // holder releases; waiter acquires+releases
    waiter.join(10000)
    assert(!Files.exists(lock) && System.currentTimeMillis() - t0 < 10000)
  }

  test("claim heartbeat keeps marker and staging mtimes fresh during a long commit") {
    val dir = Files.createTempDirectory("graft_hb_spec").toString
    val marker = Paths.get(dir, "marker")
    val staging = Paths.get(dir, "staging")
    Files.write(marker, "tok".getBytes("UTF-8"))
    Files.createDirectories(staging)
    val past = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 3600000L)
    Files.setLastModifiedTime(marker, past)
    Files.setLastModifiedTime(staging, past)
    GraftStore.withClaimHeartbeat(Seq(marker, staging), periodMs = 20L) {
      Thread.sleep(200)
    }
    val now = System.currentTimeMillis()
    assert(now - Files.getLastModifiedTime(marker).toMillis < 60000L,
      "heartbeat must refresh the claim marker's mtime")
    assert(now - Files.getLastModifiedTime(staging).toMillis < 60000L,
      "heartbeat must refresh the staging dir's mtime")
  }

  test("heartbeat period scales with the configured stale threshold") {
    // default: 1 h threshold → 60 s cap
    assert(GraftStore.heartbeatPeriodMs === 60000L)
    val saved = sys.props.get("graft.store.staleClaimMillis")
    try {
      // a crash-harness 3 s threshold must tick well inside the window —
      // the fixed 60 s period would let a LIVE claim go stale (r9 ADVICE)
      sys.props("graft.store.staleClaimMillis") = "3000"
      assert(GraftStore.heartbeatPeriodMs === 750L)
      sys.props("graft.store.staleClaimMillis") = "40"
      assert(GraftStore.heartbeatPeriodMs === 25L, "floor guards the scheduler")
    } finally saved match {
      case Some(v) => sys.props("graft.store.staleClaimMillis") = v
      case None => sys.props -= "graft.store.staleClaimMillis"
    }
  }

  test("commit stamps are monotone even when a writer's clock runs behind") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_stamp_spec").toString + "/t"
    GraftStore.create(dir, GraftTableMeta(rowSchema, Seq("k"), buckets = 2))
    def commit(k: Long): Long = GraftStore.applyChanges(spark, dir,
      Seq((k, s"r$k", k)).toDF("k", "name", "amount")
        .withColumn(GraftStore.OpCol, lit("I")), allInserts = true)
    commit(1L) // v1
    // simulate a skewed earlier writer: v1's stamp is an hour in the
    // future relative to THIS writer's clock
    val future = System.currentTimeMillis() + 3600000L
    val v1 = GraftStore.versionDir(dir, 1L)
    GraftStore.sealVersion(v1,
      GraftStore.manifestOf(v1).copy(committedAt = future))
    commit(2L) // v2 — stamped from the "slow" local clock
    val (t1, t2) = (GraftStore.committedAt(dir, 1L), GraftStore.committedAt(dir, 2L))
    assert(t2 === t1 + 1, s"stamp must clamp to prev+1, got $t1 then $t2")
    // TIMESTAMP AS OF resolution stays consistent: a timestamp at v2's
    // stamp resolves to v2, just before it to v1
    assert(GraftStore.versionAsOfTimestamp(dir, t2) === Some(2L))
    assert(GraftStore.versionAsOfTimestamp(dir, t2 - 1) === Some(1L))
  }

  test("rebucket leaves an earlier version's _buckets and commit instant") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_backfill_spec").toString + "/t"
    GraftStore.create(dir, GraftTableMeta(rowSchema, Seq("k"), buckets = 2))
    GraftStore.applyChanges(spark, dir,
      Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "name", "amount")
        .withColumn(GraftStore.OpCol, lit("I")), allInserts = true) // v1
    val original = GraftStore.committedAt(dir, 1L)
    GraftStore.rebucket(spark, dir, newBuckets = 4)
    // the rebucket writes only its own version: v1 keeps the fan-out it
    // was written with and the instant it committed, so TIMESTAMP AS OF
    // keeps resolving v1 to its commit, not to the rebucket
    assert(GraftStore.committedAt(dir, 1L) === original)
    assert(GraftStore.versionAsOfTimestamp(dir, original) === Some(1L))
    assert(GraftStore.versionBuckets(dir, 1L) === 2)
    assert(GraftStore.versionBuckets(dir, 2L) === 4)
  }

  test("table stream: a pending snapshot that slept past the horizon fails loudly") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_tspend_spec").toString + "/t"
    GraftStore.create(dir, GraftTableMeta(rowSchema, Seq("k"), buckets = 2))
    def insert(k: Long): Long = GraftStore.applyChanges(spark, dir,
      Seq((k, s"r$k", k)).toDF("k", "name", "amount")
        .withColumn(GraftStore.OpCol, lit("I")), allInserts = true)
    insert(1L); insert(2L); insert(3L)                 // v1..v3
    GraftStore.expireChanges(dir, keepFromVersion = 3L) // v2's slice is gone
    val stream = new GraftTableAppendStream(dir, GraftStore.readMeta(dir),
      ignoreDeletes = false, ignoreChanges = false)
    // a checkpointed snapshot-pending offset at v1 whose tail (v2..v3]
    // lost v2's slice must fail the SAME way as a plain resume — the
    // pending flag is not a license to silently skip expired history
    val e = intercept[IllegalStateException] {
      stream.planInputPartitions(
        GraftTableOffset(1L, pending = true), GraftTableOffset(3L, pending = false))
    }
    assert(e.getMessage.contains("expire_changes"))
    // an EMPTY tail request has nothing to lose: snapshot-only batch plans
    assert(stream.planInputPartitions(
      GraftTableOffset(3L, pending = true), GraftTableOffset(3L, pending = false))
      .nonEmpty)
  }

  test("snapshot boundaries: stamped by restore/truncate/overwrite, survive version expiry") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_boundary_spec").toString + "/t"
    GraftStore.create(dir, GraftTableMeta(rowSchema, Seq("k"), buckets = 2))
    def insert(k: Long): Long = GraftStore.applyChanges(spark, dir,
      Seq((k, s"r$k", k)).toDF("k", "name", "amount")
        .withColumn(GraftStore.OpCol, lit("I")), allInserts = true)
    insert(1L)                          // v1: normal commit, no boundary
    insert(2L)                          // v2
    GraftStore.restore(dir, 1L)         // v3: boundary
    GraftStore.truncate(dir)            // v4: boundary
    GraftStore.applyChanges(spark, dir,
      Seq((9L, "o", 9L)).toDF("k", "name", "amount")
        .withColumn(GraftStore.OpCol, lit("I")),
      allInserts = true, overwrite = true) // v5: boundary
    assert(!GraftStore.isBoundary(dir, 1L) && !GraftStore.isBoundary(dir, 2L))
    assert(Seq(3L, 4L, 5L).forall(GraftStore.isBoundary(dir, _)))
    assert(GraftStore.boundariesIn(dir, 0L, 5L) === Seq(3L, 4L, 5L))
    assert(GraftStore.latestBoundary(dir) === Some(5L))
    // the stream fails loudly when a batch range crosses a boundary...
    val stream = new GraftChangesMicroBatchStream(dir, GraftStore.readMeta(dir))
    val e = intercept[IllegalStateException] {
      stream.planInputPartitions(GraftVersionOffset(1L), GraftVersionOffset(5L))
    }
    assert(e.getMessage.contains("snapshot boundary"))
    // ...a fresh stream auto-starts past the latest boundary...
    assert(stream.initialOffset().asInstanceOf[GraftVersionOffset].v === 5L)
    // ...and post-boundary ranges flow normally
    insert(10L) // v6, with a changelog slice
    assert(stream.planInputPartitions(
      GraftVersionOffset(5L), GraftVersionOffset(6L)).nonEmpty)
    // version expiry promotes the marker so a resumed stream still detects
    // the boundary after the version dir is gone
    GraftStore.expireVersions(dir, keepLast = 1)
    // v5 is no longer a readable version (it may remain on disk as an
    // `_expired` file host while kept snapshots reference its files)
    assert(!GraftStore.listVersions(dir).contains(5L))
    assert(GraftStore.isBoundary(dir, 5L) &&
      GraftStore.boundariesIn(dir, 0L, 6L) === Seq(3L, 4L, 5L))
    intercept[IllegalStateException] {
      stream.planInputPartitions(GraftVersionOffset(4L), GraftVersionOffset(6L))
    }
    // expire_changes clears promoted markers below the horizon (subsumed
    // by the horizon check itself)
    GraftStore.expireChanges(dir, keepFromVersion = 6L)
    assert(GraftStore.boundariesIn(dir, 0L, 6L).isEmpty)
  }

  test("an expiry between lastTxnVersion's two reads cannot hide a txn record") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_txn_race").toString + "/t"
    GraftStore.create(dir, GraftTableMeta(rowSchema, Seq("k"), buckets = 2))
    def insert(k: Long, txn: Option[(String, Long)] = None): Long =
      GraftStore.applyChanges(spark, dir,
        Seq((k, s"r$k", k)).toDF("k", "name", "amount")
          .withColumn(GraftStore.OpCol, lit("I")), allInserts = true, txn = txn)
    insert(1L, Some(("etl", 7L))) // v1 records (etl, 7)
    GraftStore.truncate(dir)      // v2: nothing kept references v1's files
    insert(3L)                    // v3
    // expireVersions promotes v1's record to _txns/ and then removes v1's
    // dir; run it between the two reads
    val seen = GraftStore.lastTxnVersion(dir, "etl",
      () => GraftStore.expireVersions(dir, keepLast = 1))
    assert(!Files.exists(Paths.get(GraftStore.versionDir(dir, 1L))),
      "v1's dir is gone")
    assert(seen === Some(7L), "the record must be in one of the two reads")
    val v = GraftStore.currentVersion(dir)
    assert(insert(1L, Some(("etl", 7L))) === v, "the retry stays a no-op")
    assert(GraftStore.readVersion(spark, dir, v).count() === 1L)
  }

  test("a version dir replaced behind the store's back is re-read, not " +
      "served from a cache") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // v1 inserts `keys`, v2 deletes `deleted` merge-on-read: a live slice
    def mkTable(path: String, keys: Seq[Long], deleted: Long): Unit = {
      GraftStore.create(path,
        GraftTableMeta(rowSchema, Seq("k"), buckets = 1, mergeMode = "mor"))
      GraftStore.applyChanges(spark, path,
        keys.map(k => (k, s"r$k", k)).toDF("k", "name", "amount")
          .withColumn(GraftStore.OpCol, lit("I")), allInserts = true)
      GraftStore.applyChanges(spark, path,
        Seq((deleted, Option.empty[String], Option.empty[Long]))
          .toDF("k", "name", "amount").withColumn(GraftStore.OpCol, lit("D")))
    }
    val root = Files.createTempDirectory("graft_swap_spec").toString
    val dir = s"$root/t"
    def keys(): Seq[Long] = GraftStore.readVersion(spark, dir, 2L)
      .select("k").as[Long].collect().toSeq.sorted
    def probed(): Set[Any] = GraftStore.loadDvProbe(spark, dir, 2L,
        GraftStore.readMeta(dir)).get._2.values.flatMap(_.keys.map(_.head))
      .toSet
    def ownFiles(): Set[String] = Seq(1L, 2L).flatMap { v =>
      val vdir = GraftStore.versionDir(dir, v)
      GraftStore.manifestOf(vdir).files.keys.map(rel => s"$vdir/$rel")
    }.toSet
    mkTable(dir, 0L until 10L, 3L)
    assert(keys() === (0L until 10L).filterNot(_ == 3L))
    assert(probed() === Set(3L))
    assert(GraftStore.snapshotFiles(dir, 2L).toSet === ownFiles())
    // another process drops the table and recreates it at the same path:
    // same version numbers, new files, no invalidation in this JVM
    val other = s"$root/other"
    mkTable(other, 100L until 105L, 101L)
    val walk = Files.walk(Paths.get(dir))
    try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(p => Files.delete(p))
    finally walk.close()
    Files.move(Paths.get(other), Paths.get(dir))
    assert(GraftStore.snapshotFiles(dir, 2L).toSet === ownFiles(),
      "the resolved file list is the new table's")
    assert(probed() === Set(101L), "the delete probe is the new table's")
    assert(keys() === Seq(100L, 102L, 103L, 104L), "the scan reads the new table")
  }

  test("a commit's txn and boundary lines precede its file list, and a " +
      "manifest that places them after it is rejected") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_manifest_order").toString + "/t"
    GraftStore.create(dir, GraftTableMeta(rowSchema, Seq("k"), buckets = 2))
    GraftStore.applyChanges(spark, dir,
      Seq((1L, "r1", 1L), (2L, "r2", 2L)).toDF("k", "name", "amount")
        .withColumn(GraftStore.OpCol, lit("I")), allInserts = true,
      txn = Some(("etl", 3L)))
    GraftStore.truncate(dir)
    def manifest(v: Long) = Paths.get(GraftStore.versionDir(dir, v),
      GraftStore.ManifestName)
    def kinds(v: Long): Seq[String] = Files.readAllLines(manifest(v))
      .toArray.toSeq.map(_.toString.takeWhile(_ != '\t'))
    val body = Set("slot", "file", "stat", "delete")
    for ((v, own) <- Seq(1L -> "txn", 2L -> "boundary")) {
      val ks = kinds(v)
      assert(ks.contains(own) && ks.contains("file") == (v == 1L))
      assert(ks.dropWhile(k => !body(k)).forall(body), s"v$v: $ks")
    }
    assert(GraftStore.lastTxnVersion(dir, "etl") === Some(3L))
    assert(GraftStore.isBoundary(dir, 2L) && !GraftStore.isBoundary(dir, 1L))
    // the same lines moved behind the file list
    val lines = Files.readAllLines(manifest(1L)).toArray.toSeq.map(_.toString)
    val (txn, rest) = lines.partition(_.startsWith("txn\t"))
    Files.write(manifest(1L), (rest ++ txn).mkString("", "\n", "\n")
      .getBytes("UTF-8"))
    GraftStore.invalidateDvCache(dir)
    val e = intercept[IllegalStateException](
      GraftStore.manifestOf(GraftStore.versionDir(dir, 1L)))
    assert(e.getMessage.contains("after the file list"), e.getMessage)
  }
}
