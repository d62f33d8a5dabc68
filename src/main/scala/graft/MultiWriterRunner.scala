package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.{GraftStore, GraftTableMeta}

/** Cross-PROCESS concurrent-writer proof for the store's file-based commit
  * protocol (scripts/fuzz_multiproc.py). The claim/snapshot machinery
  * ([[GraftStore.claimCommit]]) is deliberately file-based so that writers
  * in DIFFERENT JVMs — different Spark drivers on a shared filesystem —
  * serialize correctly; the in-JVM concurrency specs (CatalogSpec's 2-/4-
  * writer tests) can't distinguish that from accidental reliance on JVM
  * memory effects. This runner closes the gap: the harness forks N
  * `write` processes against ONE table directory, each interleaving
  * appends, keyed upserts and maintenance (optimize/rebucket — claim
  * contenders by construction), then a `verify` process checks the merged
  * outcome against what every writer RECORDED as committed:
  *
  *  - every committed row is present exactly once (writers own disjoint
  *    key ranges, so the expected final state is the union of their logs);
  *  - versions are contiguous 0..current with no orphan claim markers;
  *  - replaying the full changelog from the empty v0 snapshot reproduces
  *    the live table (maintenance commits are changelog-less by contract
  *    and must drop out of the fold).
  *
  * Modes:
  * {{{
  *   MultiWriterRunner init   <dir>
  *   MultiWriterRunner write  <dir> <writerId> <nOps> <seed> <outFile>
  *   MultiWriterRunner verify <dir> <expectedFile>...
  * }}}
  */
object MultiWriterRunner {

  private val schema = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("name", StringType, nullable = true),
    StructField("amount", LongType, nullable = true)))

  private def session(app: String): SparkSession = {
    val s = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[4]"))
      .appName(app)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Partitioned-mode layout (the S30 fuzz surface): a days(ts) partition
    * above the bucket fan-out. Writers place every key on a deterministic
    * day in 2024-03-01..05 (epoch days 19783..87), EXCEPT sacrificial keys
    * (k ≡ 0 mod 7) which land on 2024-02-01 (epoch day 19754) and are
    * never recorded as expected — the harness expires everything below
    * 19760 before verification, so the final content check is exact while
    * `expire_partitions` commits interleave with live writers as real
    * claim contenders. */
  private val partSchema = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("ts", TimestampType, nullable = true),
    StructField("name", StringType, nullable = true),
    StructField("amount", LongType, nullable = true)))

  private val OldEpochDay = 19754L // 2024-02-01
  private val BaseEpochDay = 19783L // 2024-03-01
  private[graft] val ExpireBound = "19760"

  private def isSacrificial(k: Long): Boolean = k % 7 == 0

  /** Deterministic day for key `k` at its `gen`-th upsert — gen > 0 MOVES
    * the row between partitions (the partition-moving-update interleaving
    * under test; in mor mode it exercises the delete-slice + after-image
    * path across partition dirs). */
  private def dayOf(k: Long, gen: Int): Long =
    if (isSacrificial(k)) OldEpochDay else BaseEpochDay + ((k + gen) % 5)

  def main(args: Array[String]): Unit = args(0) match {
    case "init" =>
      // optional 3rd arg: merge mode — 'mor' runs the whole multi-process
      // interleaving through merge-on-read delete-slice commits (same
      // verifier: mor must be invisible to contents AND changelog replay).
      // A 'part' token (e.g. 'cow,part' / 'mor,part') adds a days(ts)
      // PARTITIONED BY layout; writers detect it from the table meta.
      val spec = if (args.length > 2) args(2) else "cow"
      val mode = if (spec.contains("mor")) "mor" else "cow"
      val part = spec.contains("part")
      GraftStore.create(args(1),
        GraftTableMeta(if (part) partSchema else schema, Seq("k"),
          buckets = 4, mergeMode = mode,
          partition = if (part) Some(("days", "ts")) else None))
      println("[multiwriter] init ok")
    case "write" =>
      write(args(1), args(2).toInt, args(3).toInt, args(4).toLong, args(5))
    case "refloop" =>
      refloop(args(1), args(2).toInt, args(3).toLong)
    case "branchloop" =>
      branchloop(args(1), args(2).toInt, args(3).toLong, args(4))
    case "txnloop" =>
      txnloop(args(1), args(2), args(3).toInt, args(4).toLong, args(5))
    case "expiretxn" =>
      expiretxn(args(1), args(2))
    case "grouploop" =>
      grouploop(args(1), args(2), args(3).toInt, args(4).toLong, args(5))
    case "verifygroup" =>
      verifygroup(args(1), args(2))
    case "verify" =>
      verify(args(1), args.drop(2).toSeq)
    case other => sys.error(s"unknown mode $other")
  }

  /** One named-ref churn process racing the writers (and, when the
    * harness forks two of these, racing ANOTHER expirer): tag the current
    * version, expire aggressively — the tag must pin its version and
    * every owner slot its snapshot references — then check the tag reads
    * WHOLE if it survived creation, and usually drop it so later expires
    * reclaim. The create×expire protocol explicitly allows a create to
    * LOSE (loud failure, ref removed — both caught here as benign); what
    * it must never allow is a surviving tag pointing at a missing or
    * partially-swept version, which is asserted after every round and
    * again by `verify --expired`. */
  private def refloop(dir: String, nOps: Int, seed: Long): Unit = {
    val rng = new scala.util.Random(seed)
    var ok = true
    (0 until nOps).foreach { i =>
      val name = s"fzref-$seed-$i"
      val created =
        try { GraftStore.createTag(dir, name, GraftStore.currentVersion(dir)); true }
        catch {
          // lost the race to a concurrent expire (version retired between
          // the read and the pin) — the loud-failure contract, benign here
          case _: IllegalStateException => false
          case _: IllegalArgumentException => false
        }
      GraftStore.expireVersions(dir, keepLast = 1 + rng.nextInt(3))
      if (created) GraftStore.resolveRef(dir, name).foreach { tv =>
        if (!GraftStore.listVersions(dir).contains(tv)) {
          ok = false
          println(s"[multiwriter] FAIL: tag $name pins v$tv but the " +
            "version is not readable")
        }
        GraftStore.ownersOf(dir, tv).foreach { case (slot, os) =>
          os.foreach { o =>
            if (!Files.isDirectory(Paths.get(
                s"${GraftStore.versionDir(dir, o)}/$slot"))) {
              ok = false
              println(s"[multiwriter] FAIL: tag $name pins v$tv but " +
                s"owner slot v$o/$slot is missing on disk")
            }
          }
        }
        // usually release the pin so later expires reclaim; every ~4th
        // tag stays live for verify's end-state tag invariants
        if (rng.nextInt(4) != 0) GraftStore.dropTag(dir, name)
      }
      Thread.sleep(rng.nextInt(200).toLong)
    }
    println(s"[multiwriter] refloop $seed ${if (ok) "ok" else "FAILED"}")
    if (!ok) sys.exit(1)
  }

  /** One branch-churn process racing the writers: fork a branch at the
    * current head, land a small batch on the BRANCH, and race
    * `fast_forward` against everyone else's commits. The expected common
    * outcome under contention is a LOUD divergence conflict (main moved
    * off the fork point) — then the branch must still read whole and is
    * dropped; the occasional publish that wins must land the branch's
    * keys on main exactly once (recorded like a writer's, so the final
    * verify holds the content accountable). Aggressive expire_versions
    * interleaves: branches are self-contained clones, so main's
    * retention must never make one unreadable. Keys are namespaced like
    * a writer's (id 9xx) and avoid the sacrificial residue. */
  private def branchloop(dir: String, nOps: Int, seed: Long,
      outFile: String): Unit = {
    val spark = session(s"graft-branchloop-$seed")
    import spark.implicits._
    val rng = new scala.util.Random(seed)
    val id = 900 + (seed % 90)
    val base = id * 1000000L
    var nextKey = 0L
    val expected = scala.collection.mutable.Map.empty[Long, (String, Long)]
    val part = GraftStore.readMeta(dir).partition.isDefined
    var ok = true
    def flushRecord(): Unit = {
      val out = expected.toSeq.sortBy(_._1)
        .map { case (k, (n, a)) => s"$k\t$n\t$a" }
      val tmp = Paths.get(outFile + ".tmp")
      Files.write(tmp, out.mkString("\n").getBytes("UTF-8"))
      Files.move(tmp, Paths.get(outFile),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    flushRecord() // the harness reads the file even if every publish loses
    (0 until nOps).foreach { i =>
      val bname = s"fzbr-$seed-$i"
      val created =
        try { GraftStore.createBranch(dir, bname); true }
        catch {
          case _: IllegalArgumentException => false // name/tag race: benign
          case _: IllegalStateException => false
        }
      if (created) {
        val bd = GraftStore.branchDir(dir, bname)
        val rows = (0 until 1 + rng.nextInt(3)).map { _ =>
          nextKey += 1
          // avoid the sacrificial residue: those keys' partition is
          // expired before verify and must never be recorded
          val k0 = base + nextKey * 7 + 1
          (k0, s"br$id", rng.nextInt(1000).toLong)
        }
        val df =
          if (!part) rows.toDF("k", "name", "amount")
          else rows.map { case (k, n, a) => (k, dayOf(k, 0), n, a) }
            .toDF("k", "day", "name", "amount")
            .withColumn("ts",
              org.apache.spark.sql.functions.expr(
                "timestamp(date_from_unix_date(CAST(day AS int)))"))
            .select("k", "ts", "name", "amount")
        GraftStore.applyChanges(spark, bd,
          df.withColumn(GraftStore.OpCol,
            org.apache.spark.sql.functions.lit("I")), allInserts = true)
        val published =
          try { GraftStore.fastForward(dir, bname); true }
          catch {
            case _: java.util.ConcurrentModificationException =>
              // main moved off the fork — the rebase lane: re-fork at
              // main's head and replay. Branch keys are process-disjoint
              // from every writer's, so the key-overlap check should
              // admit it; any loud refusal (boundary in the window,
              // expired slices, a racing conflict) is a benign lost
              // publish like before. After a successful rebase the
              // branch must read WHOLE before the re-publish.
              val rebased =
                try { GraftStore.rebaseBranch(spark, dir, bname); true }
                catch {
                  case _: IllegalStateException => false
                  case _: IllegalArgumentException => false
                  case _: java.util.ConcurrentModificationException => false
                }
              if (rebased) {
                val live = GraftStore.readVersion(spark, bd,
                  GraftStore.currentVersion(bd))
                  .select("k").collect().map(_.getLong(0)).toSet
                rows.foreach { case (k, _, _) =>
                  if (!live.contains(k)) {
                    ok = false
                    println(s"[multiwriter] FAIL: rebase of $bname lost " +
                      s"branch key $k")
                  }
                }
              }
              rebased && (
                try { GraftStore.fastForward(dir, bname); true }
                catch {
                  case _: java.util.ConcurrentModificationException => false
                  case _: IllegalStateException => false
                })
            // a concurrent meta-only ALTER on main (schema divergence) —
            // never heals by retry; the loop drops the branch like any
            // other lost publish
            case _: IllegalStateException => false
          }
        if (published) {
          rows.foreach { case (k, n, a) => expected(k) = (n, a) }
          flushRecord()
        } else {
          // the rejected publish must leave the branch WHOLE
          val live = GraftStore.readVersion(spark, bd,
            GraftStore.currentVersion(bd))
            .select("k").collect().map(_.getLong(0)).toSet
          rows.foreach { case (k, _, _) =>
            if (!live.contains(k)) {
              ok = false
              println(s"[multiwriter] FAIL: rejected fast_forward of " +
                s"$bname lost branch key $k")
            }
          }
          try GraftStore.dropBranch(dir, bname)
          catch { case _: IllegalArgumentException => () }
        }
      }
      if (rng.nextInt(3) == 0)
        GraftStore.expireVersions(dir, keepLast = 1 + rng.nextInt(3))
      Thread.sleep(rng.nextInt(150).toLong)
    }
    println(s"[multiwriter] branchloop $seed ${if (ok) "ok" else "FAILED"} " +
      s"(${expected.size} keys published)")
    if (!ok) sys.exit(1)
  }

  /** Group-publish churn (S44): each round stages the SAME-NAMED branch
    * on the main table AND a sidecar table — paired rows, same keys —
    * and calls `publishGroup`, whose contract is that BOTH tables flip
    * or NEITHER. Under live writer contention most rounds lose the fork
    * point loudly and retry through the rebase lane like branchloop; the
    * harness's crash cell SIGKILLs this process mid-publish, and
    * [[verifygroup]] then proves the cross-table invariant survived a
    * REAL dead coordinator (not an injected exception): after read-path
    * recovery, the group-key set of main equals the group-key set of the
    * sidecar, row for row. Keys live in the [800e6, 900e6) namespace so
    * the main verify can account for them alongside the writers'. */
  private def grouploop(dir: String, sideDir: String, nOps: Int, seed: Long,
      outFile: String): Unit = {
    val spark = session(s"graft-grouploop-$seed")
    import spark.implicits._
    val rng = new scala.util.Random(seed)
    val id = 800 + (seed % 90)
    val base = id * 1000000L
    var nextKey = 0L
    val expected = scala.collection.mutable.Map.empty[Long, (String, Long)]
    val part = GraftStore.readMeta(dir).partition.isDefined
    val groupsRoot = Paths.get(dir).getParent.resolve("_txngroups")
    var ok = true
    def flushRecord(): Unit = {
      val out = expected.toSeq.sortBy(_._1)
        .map { case (k, (n, a)) => s"$k\t$n\t$a" }
      val tmp = Paths.get(outFile + ".tmp")
      Files.write(tmp, out.mkString("\n").getBytes("UTF-8"))
      Files.move(tmp, Paths.get(outFile),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    flushRecord()
    def mkDf(rows: Seq[(Long, String, Long)], forDir: String) = {
      val p = GraftStore.readMeta(forDir).partition.isDefined
      if (!p) rows.toDF("k", "name", "amount")
      else rows.map { case (k, n, a) => (k, dayOf(k, 0), n, a) }
        .toDF("k", "day", "name", "amount")
        .withColumn("ts", org.apache.spark.sql.functions.expr(
          "timestamp(date_from_unix_date(CAST(day AS int)))"))
        .select("k", "ts", "name", "amount")
    }
    (0 until nOps).foreach { i =>
      val bname = s"fzgrp-$seed-$i"
      val created =
        try {
          GraftStore.createBranch(dir, bname)
          try { GraftStore.createBranch(sideDir, bname); true }
          catch { case _: Exception =>
            try GraftStore.dropBranch(dir, bname)
            catch { case _: IllegalArgumentException => () }
            false
          }
        } catch {
          case _: IllegalArgumentException => false
          case _: IllegalStateException => false
        }
      if (created) {
        val rows = (0 until 1 + rng.nextInt(3)).map { _ =>
          nextKey += 1
          (base + nextKey * 7 + 1, s"gr$id", rng.nextInt(1000).toLong)
        }
        Seq(dir, sideDir).foreach { d =>
          GraftStore.applyChanges(spark, GraftStore.branchDir(d, bname),
            mkDf(rows, d).withColumn(GraftStore.OpCol,
              org.apache.spark.sql.functions.lit("I")), allInserts = true)
        }
        def tryPublish(): Boolean =
          try {
            GraftStore.publishGroup(groupsRoot,
              Seq((dir, bname), (sideDir, bname)))
            true
          } catch {
            case _: java.util.ConcurrentModificationException => false
            case _: IllegalStateException => false
            case _: IllegalArgumentException => false
          }
        val published = tryPublish() || {
          // fork conflict under live writers: rebase whichever member
          // moved, then one retry — a second loss is a benign lost round
          val rebased = Seq(dir, sideDir).forall { d =>
            GraftStore.branchForkBase(d, bname) ==
              GraftStore.currentVersion(d) || (
              try { GraftStore.rebaseBranch(spark, d, bname); true }
              catch { case _: Exception => false })
          }
          rebased && tryPublish()
        }
        if (published) {
          rows.foreach { case (k, n, a) => expected(k) = (n, a) }
          flushRecord()
        } else {
          // the lost round must leave BOTH branches whole, then clean up
          Seq(dir, sideDir).foreach { d =>
            if (GraftStore.branchExists(d, bname)) {
              val bd = GraftStore.branchDir(d, bname)
              val live = GraftStore.readVersion(spark, bd,
                GraftStore.currentVersion(bd))
                .select("k").collect().map(_.getLong(0)).toSet
              rows.foreach { case (k, _, _) =>
                if (!live.contains(k)) {
                  ok = false
                  println(s"[multiwriter] FAIL: lost publish_group of " +
                    s"$bname dropped branch key $k on $d")
                }
              }
              try GraftStore.dropBranch(d, bname)
              catch { case _: IllegalArgumentException => () }
            }
          }
        }
      }
      Thread.sleep(rng.nextInt(150).toLong)
    }
    println(s"[multiwriter] grouploop $seed ${if (ok) "ok" else "FAILED"} " +
      s"(${expected.size} keys published)")
    if (!ok) sys.exit(1)
  }

  /** One multi-statement-transaction coordinator (S45): each round runs
    * begin_txn over main + sidecar THROUGH THE CATALOG SQL SURFACE,
    * inserts the same keys into both inside the txn (asserting
    * read-your-writes mid-txn on the MAIN table's plain name), then
    * commit_txn. A conflict (live writers advanced a member) rebases the
    * txn's branches and retries once; a second loss rolls back and the
    * lost round's keys must be NOWHERE on main. Committed keys are
    * recorded like a writer's (verify holds main's content accountable);
    * the cross-table atomicity invariant is verifygroup's job — txn keys
    * live in the same group band, offset +500000 / residue 2 mod 7 so
    * they can never collide with grouploop keys. Half the rounds run the
    * S45b savepoint leg: doomed keys staged into both members past a
    * savepoint, rolled back to it, proven invisible to the txn's own
    * reads, and (never being recorded) proven absent from main by
    * verify's global content accountability. A savepoint-rolled-back
    * round that then loses the fork race cannot rebase (the restore is
    * a snapshot boundary) — that is a lost round by design, not a
    * failure. */
  private def txnloop(dir: String, sideDir: String, nOps: Int, seed: Long,
      outFile: String): Unit = {
    val spark = session(s"graft-txnloop-$seed")
    import spark.implicits._
    val parent = Paths.get(dir).getParent.toString
    val tName = Paths.get(dir).getFileName.toString
    val sName = Paths.get(sideDir).getFileName.toString
    val cat = "fztxn"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", parent)
    val rng = new scala.util.Random(seed)
    val id = 800 + (seed % 90)
    val base = id * 1000000L + 500000L
    var nextKey = 0L
    val expected = scala.collection.mutable.Map.empty[Long, (String, Long)]
    val part = GraftStore.readMeta(dir).partition.isDefined
    var ok = true
    def flushRecord(): Unit = {
      val out = expected.toSeq.sortBy(_._1)
        .map { case (k, (n, a)) => s"$k\t$n\t$a" }
      val tmp = Paths.get(outFile + ".tmp")
      Files.write(tmp, out.mkString("\n").getBytes("UTF-8"))
      Files.move(tmp, Paths.get(outFile),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    flushRecord()
    (0 until nOps).foreach { _ =>
      val rows = (0 until 1 + rng.nextInt(3)).map { _ =>
        nextKey += 1
        (base + nextKey * 7 + 2, s"tx$id", rng.nextInt(1000).toLong)
      }
      val df0 = rows.toDF("k", "name", "amount")
      val df = if (!part) df0
        else rows.map { case (k, n, a) => (k, dayOf(k, 0), n, a) }
          .toDF("k", "day", "name", "amount")
          .withColumn("ts", expr(
            "timestamp(date_from_unix_date(CAST(day AS int)))"))
          .select("k", "ts", "name", "amount")
      df.createOrReplaceTempView("txrows")
      val began =
        try spark.sql(s"CALL $cat.begin_txn(tables => '$tName,$sName')")
          .head().getString(0)
        catch { case _: Exception => null }
      if (began != null) {
        var committed = false
        var doomed: Seq[Long] = Nil
        try {
          spark.sql(s"INSERT INTO $cat.`$tName` SELECT * FROM txrows")
          spark.sql(s"INSERT INTO $cat.`$sName` SELECT * FROM txrows")
          // read-your-writes: the txn session must see its staged keys
          // through the MAIN table's plain name (this round's key range
          // is private to this process, so the count is exact)
          val seen = spark.sql(s"SELECT COUNT(*) FROM $cat.`$tName` " +
            s"WHERE k BETWEEN ${rows.map(_._1).min} AND " +
            s"${rows.map(_._1).max}").head().getLong(0)
          if (seen != rows.size) {
            ok = false
            println(s"[multiwriter] FAIL: txn $began sees $seen of " +
              s"${rows.size} of its own staged rows")
          }
          // savepoint leg (S45b, every other round): stage DOOMED keys
          // into both members past a savepoint, roll back to it, and the
          // doomed keys must vanish from the txn's own reads — and,
          // because they are never recorded, verify's content-
          // accountability catches them if they EVER reach main
          doomed = if (rng.nextBoolean()) Nil else {
            val ks = (0 until 1 + rng.nextInt(2)).map { _ =>
              nextKey += 1
              (base + nextKey * 7 + 2, s"tx$id-doomed", -1L)
            }
            spark.sql(s"CALL $cat.savepoint(name => 'sp')")
            val ddf0 = ks.toDF("k", "name", "amount")
            val ddf = if (!part) ddf0
              else ks.map { case (k, n, a) => (k, dayOf(k, 0), n, a) }
                .toDF("k", "day", "name", "amount")
                .withColumn("ts", expr(
                  "timestamp(date_from_unix_date(CAST(day AS int)))"))
                .select("k", "ts", "name", "amount")
            ddf.createOrReplaceTempView("txdoomed")
            spark.sql(s"INSERT INTO $cat.`$tName` SELECT * FROM txdoomed")
            spark.sql(s"INSERT INTO $cat.`$sName` SELECT * FROM txdoomed")
            spark.sql(s"CALL $cat.rollback_to_savepoint(name => 'sp')")
            val ghost = spark.sql(s"SELECT COUNT(*) FROM $cat.`$tName` " +
              s"WHERE k IN (${ks.map(_._1).mkString(",")})")
              .head().getLong(0)
            if (ghost > 0) {
              ok = false
              println(s"[multiwriter] FAIL: txn $began still sees " +
                s"$ghost rolled-back-to-savepoint rows")
            }
            ks.map(_._1)
          }
          def tryCommit(): Boolean =
            try { spark.sql(s"CALL $cat.commit_txn()").collect(); true }
            catch { case _: Exception => false }
          // half the rounds drive the commit-internal OCC retry surface
          // (commit_txn(retry => true) rebases fork conflicts itself);
          // the rest keep the manual rebase lane below exercised
          def commitFirst(): Boolean =
            if (rng.nextBoolean())
              try {
                spark.sql(s"CALL $cat.commit_txn(retry => true)").collect()
                true
              } catch { case _: Exception => false }
            else tryCommit()
          committed = commitFirst() || {
            // live writers moved a member off its fork: rebase the txn's
            // branches (the txn stays active across a refused commit by
            // contract) and retry once — a second loss is a lost round
            val bname = graft.sources.GraftTxn.branchOf(began)
            val rebased = Seq(dir, sideDir).forall { d =>
              !GraftStore.branchExists(d, bname) ||
                GraftStore.branchForkBase(d, bname) ==
                  GraftStore.currentVersion(d) || (
                try { GraftStore.rebaseBranch(spark, d, bname); true }
                catch { case _: Exception => false })
            }
            rebased && tryCommit()
          }
        } finally if (!committed) {
          try spark.sql(s"CALL $cat.rollback_txn()").collect()
          catch { case _: Exception => () }
        }
        if (committed) {
          rows.foreach { case (k, n, a) => expected(k) = (n, a) }
          flushRecord()
          // a committed round must still have published NONE of its
          // savepoint-rolled-back keys (verify re-checks this globally)
          doomed.grouped(50).foreach { ks =>
            Seq(tName, sName).foreach { t =>
              val leaked = spark.sql(s"SELECT COUNT(*) FROM $cat.`$t` " +
                s"WHERE k IN (${ks.mkString(",")})").head().getLong(0)
              if (leaked > 0) {
                ok = false
                println(s"[multiwriter] FAIL: committed txn $began " +
                  s"published $leaked savepoint-rolled-back keys to $t")
              }
            }
          }
        } else Seq(tName, sName).foreach { t =>
          // the rolled-back round's keys must be NOWHERE on main
          val leaked = spark.sql(s"SELECT COUNT(*) FROM $cat.`$t` " +
            s"WHERE k IN (${rows.map(_._1).mkString(",")})")
            .head().getLong(0)
          if (leaked > 0) {
            ok = false
            println(s"[multiwriter] FAIL: rolled-back txn $began leaked " +
              s"$leaked keys into $t")
          }
        }
      }
      Thread.sleep(rng.nextInt(150).toLong)
    }
    println(s"[multiwriter] txnloop $seed ${if (ok) "ok" else "FAILED"} " +
      s"(${expected.size} keys published)")
    if (!ok) sys.exit(1)
  }

  /** The leaked-branch GC after the dust settles: every loop is done, so
    * any surviving hidden `txn-*` branch is a dead session's leak (a
    * SIGKILLed txnloop, or one that crashed between begin and
    * commit/rollback). Expire with ttl 0 must drop them ALL and move
    * nothing else — main's pointer and the user-visible branch list
    * (there are none in this harness) are untouched. */
  private def expiretxn(dir: String, sideDir: String): Unit = {
    var ok = true
    Thread.sleep(20) // ttl 0 still needs the clock to tick past the mtimes
    Seq(dir, sideDir).foreach { d =>
      val before = GraftStore.currentVersion(d)
      val dropped = GraftStore.expireTxnBranches(d, 0L)
      val leftover = GraftStore.listBranches(d).filter(_.startsWith("txn-"))
      if (leftover.nonEmpty) {
        ok = false
        println(s"[multiwriter] FAIL: txn branches survive expire on " +
          s"$d: ${leftover.mkString(", ")}")
      }
      if (GraftStore.currentVersion(d) != before) {
        ok = false
        println(s"[multiwriter] FAIL: expiretxn moved $d's pointer " +
          s"$before -> ${GraftStore.currentVersion(d)}")
      }
      println(s"[multiwriter] expiretxn $d dropped $dropped")
    }
    println(s"[multiwriter] EXPIRETXN ${if (ok) "OK" else "FAILED"}")
    if (!ok) sys.exit(1)
  }

  /** The S44 atomicity invariant after the dust settles: reading both
    * tables (which rolls any decided-but-incomplete group forward) must
    * leave the GROUP-KEY namespace identical on main and sidecar — a
    * SIGKILLed coordinator can cost a round, never tear one. */
  private def verifygroup(dir: String, sideDir: String): Unit = {
    val spark = session("graft-verifygroup")
    def groupKeys(d: String): Set[Long] = {
      GraftStore.recoverChangelog(d) // read-path recovery incl. groups
      GraftStore.readVersion(spark, d, GraftStore.currentVersion(d))
        .select("k").collect().map(_.getLong(0))
        .filter(k => k >= 800000000L && k < 900000000L).toSet
    }
    val m = groupKeys(dir)
    val s = groupKeys(sideDir)
    if (m == s)
      println(s"[multiwriter] VERIFYGROUP OK (${m.size} group keys, " +
        "main == sidecar)")
    else {
      println(s"[multiwriter] VERIFYGROUP FAIL: main-only " +
        s"${(m -- s).toSeq.sorted.take(10)} sidecar-only " +
        s"${(s -- m).toSeq.sorted.take(10)}")
      sys.exit(1)
    }
  }

  /** One writer process: `nOps` operations over its own disjoint key range
    * (`writerId * 1_000_000 + i`), recording the final expected value per
    * key it committed. Appends and upserts rebase-and-retry through the
    * claim protocol; maintenance calls may cleanly lose a claim race to
    * another PROCESS — that is the behavior under test — and are skipped
    * when they do. */
  private def write(dir: String, writerId: Int, nOps: Int, seed: Long,
      outFile: String): Unit = {
    val spark = session(s"graft-multiwriter-$writerId")
    import spark.implicits._
    val rng = new scala.util.Random(seed)
    val base = writerId.toLong * 1000000L
    val expected = scala.collection.mutable.Map.empty[Long, (String, Long)]
    var nextKey = 0L
    // partitioned mode is detected from the table meta, not an argument
    val part = GraftStore.readMeta(dir).partition.isDefined
    // per-key upsert generation: each upsert MOVES the row to the next
    // deterministic day (the partition-moving-update interleaving)
    val gen = scala.collection.mutable.Map.empty[Long, Int]
    def toDf(rows: Seq[(Long, String, Long)], upsert: Boolean) =
      if (!part) rows.toDF("k", "name", "amount")
      else rows.map { case (k, n, a) =>
        val g = if (upsert) gen.getOrElse(k, 0) + 1 else 0
        gen(k) = g
        (k, dayOf(k, g), n, a)
      }.toDF("k", "day", "name", "amount")
        .withColumn("ts", expr("timestamp(date_from_unix_date(CAST(day AS int)))"))
        .select("k", "ts", "name", "amount")
    // the record is rewritten (staged+atomic) after EVERY committed op, so
    // a SIGKILLed writer's file is accurate up to at most one in-flight op
    // — the crash-injection harness relies on that
    def flushRecord(): Unit = {
      val out = expected.toSeq.sortBy(_._1)
        .map { case (k, (n, a)) => s"$k\t$n\t$a" }
      val tmp = Paths.get(outFile + ".tmp")
      Files.write(tmp, out.mkString("\n").getBytes("UTF-8"))
      Files.move(tmp, Paths.get(outFile),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    // per maintenance op: calls that committed a version, lost the claim
    // race (ConcurrentModificationException, skipped), or found nothing to
    // do. A call counts as committed when it returns a version past the
    // pointer read just before it, so a no-op that races another writer's
    // commit into that window counts as committed too.
    val maintenance = scala.collection.mutable.LinkedHashMap(
      "optimize" -> Array(0, 0, 0), "expire_partitions" -> Array(0, 0, 0),
      "rebucket" -> Array(0, 0, 0))
    def maintain(op: String)(call: => Long): Unit = {
      val before = GraftStore.currentVersion(dir)
      val outcome =
        try { if (call > before) 0 else 2 }
        catch { case _: java.util.ConcurrentModificationException => 1 }
      maintenance(op)(outcome) += 1
    }
    (0 until nOps).foreach { i =>
      rng.nextInt(10) match {
        case r if r < 5 => // append a small batch of fresh keys
          val rows = (0 until 1 + rng.nextInt(4)).map { _ =>
            nextKey += 1
            (base + nextKey, s"w$writerId", rng.nextInt(1000).toLong)
          }
          GraftStore.applyChanges(spark, dir,
            toDf(rows, upsert = false)
              .withColumn(GraftStore.OpCol, lit("I")),
            allInserts = true)
          // sacrificial keys (old partition) are appended but never
          // recorded: the harness expires their partition before verify
          rows.foreach { case (k, n, a) =>
            if (!(part && isSacrificial(k))) expected(k) = (n, a)
          }
          flushRecord()
        case r if r < 8 => // keyed upsert over own keys (some existing)
          if (expected.nonEmpty) {
            val ks = rng.shuffle(expected.keys.toSeq).take(1 + rng.nextInt(3))
            val rows = ks.map(k => (k, s"w$writerId-u$i", rng.nextInt(1000).toLong))
            GraftStore.applyChanges(spark, dir,
              toDf(rows, upsert = true)
                .withColumn(GraftStore.OpCol, lit("U")),
              commutative = true)
            rows.foreach { case (k, n, a) => expected(k) = (n, a) }
            flushRecord()
          }
        case 8 => // compaction: layout-only, may lose a cross-process race
          maintain("optimize")(
            GraftStore.optimize(spark, dir, maxFilesPerBucket = 2))
        case _ if part && rng.nextBoolean() =>
          // partition retention racing live writers: a claimed boundary
          // commit that drops the sacrificial day's slots (content-neutral
          // for every recorded key, and a claim contender by construction)
          maintain("expire_partitions")(
            GraftStore.expirePartitions(dir, ExpireBound))
        case _ => // fan-out change: the claim-heaviest maintenance op
          maintain("rebucket")(
            GraftStore.rebucket(spark, dir, if (rng.nextBoolean()) 8 else 4))
      }
    }
    flushRecord()
    println(s"[multiwriter] writer $writerId committed ${expected.size} keys" +
      maintenance.map { case (op, Array(c, x, n)) =>
        s" | $op $c committed $x conflicted $n no-op"
      }.mkString)
    spark.stop()
  }

  /** `--partial` (crash mode): the expected files cover only SURVIVOR
    * writers' key ranges — killed writers' rows are checked structurally
    * (no duplicates, contiguous versions, changelog replay == live) but
    * not value-for-value, and dead claim debris is swept by vacuum first
    * (a SIGKILLed writer legitimately leaves its claim marker behind). */
  private def verify(dir: String, args0: Seq[String]): Unit = {
    val partial = args0.contains("--partial")
    // `--expired` = a ref-churn process ran expire_versions mid-run, so
    // history legitimately starts above v0: contiguity is checked from
    // the earliest RETAINED version and changelog replay folds from its
    // snapshot instead of the empty v0
    val expired = args0.contains("--expired")
    val expectedFiles = args0.filterNot(Set("--partial", "--expired"))
    val spark = session("graft-multiwriter-verify")
    if (partial) GraftStore.vacuum(dir, olderThanMillis = 0L)
    val part = GraftStore.readMeta(dir).partition.isDefined
    // partitioned mode: one final retention pass clears the sacrificial
    // day (writers never record those keys), making the content check
    // exact; mid-run expires may already have dropped some of them
    if (part) GraftStore.expirePartitions(dir, ExpireBound)
    val expected = expectedFiles.flatMap { f =>
      new String(Files.readAllBytes(Paths.get(f)), "UTF-8")
        .split("\n").filter(_.nonEmpty).map { line =>
          val Array(k, n, a) = line.split("\t")
          (k.toLong, (n, a.toLong))
        }
    }.toMap

    var ok = true
    def check(cond: Boolean, msg: => String): Unit =
      if (!cond) { ok = false; println(s"[multiwriter] FAIL: $msg") }

    val cur = GraftStore.currentVersion(dir)
    val versions = GraftStore.listVersions(dir)
    if (expired)
      // expiry ran: the retained range must still END at current; gaps
      // below it are tag-pinned survivors + the contiguous recent window,
      // each of which must read whole (tag invariants below)
      check(versions.nonEmpty && versions.last == cur,
        s"retained versions don't reach current: $versions (current $cur)")
    else check(versions == (0L to cur),
      s"versions not contiguous: $versions (current $cur)")
    // every surviving tag resolves to a readable version whose referenced
    // owner slots all exist — the "no partial pinned snapshot" invariant
    GraftStore.listTags(dir).foreach { case (name, tv) =>
      check(versions.contains(tv), s"tag $name pins unreadable v$tv")
      GraftStore.ownersOf(dir, tv).foreach { case (slot, os) =>
        os.foreach { o => check(Files.isDirectory(Paths.get(
            s"${GraftStore.versionDir(dir, o)}/$slot")),
          s"tag $name pins v$tv with missing owner slot v$o/$slot") }
      }
    }
    import scala.jdk.CollectionConverters._
    val claims = {
      val s = Files.list(Paths.get(dir))
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("_commit-")).toList
      finally s.close()
    }
    check(claims.isEmpty, s"orphan claim markers: $claims")

    val live = GraftStore.readVersion(spark, dir, cur)
      .select("k", "name", "amount").collect()
      .map(r => (r.getLong(0), (r.getString(1), r.getLong(2)))).toSeq
    check(live.size == live.map(_._1).distinct.size,
      "duplicate keys in the live table")
    if (part) check(!live.exists(r => isSacrificial(r._1)),
      s"expired-partition keys survived: ${live.map(_._1).filter(isSacrificial).take(5)}")
    val liveMap0 = live.toMap
    // in partial mode, compare only the ranges the survivor files cover
    val liveMap =
      if (!partial) liveMap0
      else {
        val ranges = expected.keySet.map(_ / 1000000L)
        liveMap0.filter { case (k, _) => ranges.contains(k / 1000000L) }
      }
    check(liveMap == expected,
      s"content mismatch: live=${liveMap.size} expected=${expected.size} " +
        s"missing=${(expected.keySet -- liveMap.keySet).take(5)} " +
        s"extra=${(liveMap.keySet -- expected.keySet).take(5)} " +
        s"diff=${expected.collect { case (k, v) if liveMap.get(k).exists(_ != v) => k }.take(5)}")

    // Changelog replay, SEGMENT-WISE between snapshot boundaries: a fold
    // must never cross a boundary (expire_partitions drops rows with no
    // changelog slice — folding past it would resurrect them), so each
    // [boundary, next-boundary) segment replays onto its boundary snapshot
    // and must reproduce the segment-final version; the last segment's
    // result is the live table. A run with no boundaries (un-partitioned
    // mode) is one 0..cur segment — the original invariant. Maintenance
    // commits (optimize/rebucket) wrote no slices and drop out of every
    // fold.
    val meta = GraftStore.readMeta(dir)
    // replay floor: v0 normally; after mid-run expiry, the earliest
    // version of the CONTIGUOUS retained window ending at current (tag-
    // pinned survivors below a gap are snapshots, not fold anchors)
    val floor =
      if (!expired) 0L
      else versions.reverse.zipWithIndex
        .takeWhile { case (v, i) => v == cur - i }.last._1
    val bounds = GraftStore.boundariesIn(dir, floor + 1, cur)
    val starts = (floor +: bounds).distinct.sorted
    val segments = starts.zip(starts.drop(1).map(_ - 1) :+ cur)
    var lastReplay = Map.empty[Long, (String, Long)]
    segments.foreach { case (from, to) =>
      val replayed = GraftStore.replayChanges(
        GraftStore.readVersion(spark, dir, from),
        GraftStore.readChanges(spark, dir, from + 1, to),
        meta)
        .select("k", "name", "amount").collect()
        .map(r => (r.getLong(0), (r.getString(1), r.getLong(2)))).toMap
      val target = GraftStore.readVersion(spark, dir, to)
        .select("k", "name", "amount").collect()
        .map(r => (r.getLong(0), (r.getString(1), r.getLong(2)))).toMap
      check(replayed == target,
        s"changelog replay mismatch over segment v$from..v$to: " +
          s"replay=${replayed.size} target=${target.size}")
      lastReplay = replayed
    }
    // the final segment's replay IS the live table — in partial (crash)
    // mode that is the atomicity proof covering killed writers' rows too
    check(lastReplay == liveMap0,
      s"changelog replay mismatch vs live: replay=${lastReplay.size} live=${liveMap0.size}")
    if (!partial && !part)
      check(lastReplay == expected, "changelog replay mismatch vs expected state")

    println(if (ok) "[multiwriter] VERIFY OK" else "[multiwriter] VERIFY FAILED")
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
