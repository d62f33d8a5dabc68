package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Table metadata persisted next to the data: declared schema, the key
  * columns row-level operations identify rows by, the fixed hash-bucket
  * fan-out the copy-on-write rewrite is scoped to, and the tombstoned
  * PHYSICAL column names retired by DROP COLUMN (so a later ADD COLUMN
  * with the same logical name gets a fresh physical name instead of
  * resurrecting dropped data).
  *
  * Column-mapping discipline (Delta/Iceberg-style, by name not id): every
  * field's PHYSICAL name — what parquet files store — is fixed at
  * ADD/CREATE time and never changes; RENAME COLUMN rewrites only the
  * logical name in this meta, recording the physical one in the field's
  * metadata under [[GraftStore.PhysicalKey]]. A 100 TB rename is therefore
  * a metadata write, with every read path mapping physical↔logical. */
final case class GraftTableMeta(schema: StructType, keyCols: Seq[String],
    buckets: Int, tombstones: Seq[String] = Nil, mergeMode: String = "cow",
    checks: Seq[(String, String)] = Nil,
    /** `PARTITIONED BY` transform: (fn ∈ identity|years|months|days|hours,
      * source column's PHYSICAL name). Partition dirs sit ABOVE the bucket
      * fan-out (`gpart=<ordinal>/gbucket=<k>`), composing date-grained
      * retention and coarse pruning with key-hash bucketing. Physical
      * name so RENAME COLUMN stays metadata-only. */
    partition: Option[(String, String)] = None,
    /** `bloom_filter_columns` (PHYSICAL names): every commit writes its
      * parquet files with per-column bloom filters for these, so `=`/IN
      * predicates skip row groups the stock reader proves key-absent —
      * the scan-narrowing lever for HIGH-CARDINALITY NON-KEY columns that
      * zone maps can't help (scattered values make min/max spans useless)
      * and bucket pruning doesn't cover (not the merge key). Applies to
      * files written AFTER the property is set; OPTIMIZE retrofits the
      * rewritten slots. Physical names so RENAME stays metadata-only. */
    bloomCols: Seq[String] = Nil,
    /** `auto_optimize` table property: when > 0, every DML commit that
      * leaves one of ITS OWN slots above this many files triggers the
      * slot-scoped compaction inline (only over-cap slots rewrite — cold
      * slots are never touched). 0 = off. The closed loop for the
      * maintenance_report fragmentation signal: hot append streams stay
      * compacted without an external scheduler. */
    autoOptimize: Int = 0)

/** Versioned, hash-bucketed, copy-on-write parquet store backing the
  * [[GraftCatalog]] SQL DML surface (SURVEY §2.2 S9's `MERGE INTO` /
  * `UPDATE` / `DELETE` as SQL text — the reference's closest analogue is
  * the compacted key-value store its scheduler persists between ticks,
  * /root/reference/module/internal/misc/server/server.cpp:18-111, which
  * only ever sees whole-value upserts; SQL row-level DML is the missing
  * write surface this store adds).
  *
  * Layout (all hidden names start with `_` so file-listing scans and
  * partition discovery never see them):
  * {{{
  *   <dir>/_meta.json            schema + key columns + bucket count
  *   <dir>/_log/<n>              one record per pointer move, created
  *                               exclusively: the move off version n-1
  *   <dir>/_current              a hint at the newest move, probed forward
  *   <dir>/_incarnation          identity stamp, written at creation
  *   <dir>/v0000000007/          one immutable directory per version:
  *     _manifest                   the sealed version manifest: bucket
  *                                 fan-out, commit instant, partition
  *                                 spec, slot → owner versions, own files
  *                                 (write version, size, zone maps), live
  *                                 delete-slice files with row counts,
  *                                 snapshot-boundary flag, idempotent-
  *                                 write record
  *     gbucket=<k>/part-*.parquet  ONLY the files THIS commit wrote
  *     _dv/dseq=<s>/gbucket=<k>/   live merge-on-read delete slices
  *   <dir>/_staging/<queryId>/   delta-write staging frames
  * }}}
  *
  * Commit = copy-on-write at BUCKET granularity: a change batch only
  * rewrites the buckets its keys hash into. Untouched buckets carry by
  * MANIFEST REFERENCE — the new version's manifest names, per bucket,
  * the versions whose dirs physically hold its live files — so commit
  * metadata costs O(changed files + buckets), never O(table files)
  * (hard-linking every untouched file forward would make that driver-side
  * pass the commit bottleneck at ~1M files). A data file lives
  * forever in the version dir that wrote it, which is also what makes its
  * write-version derivable from its path. A version is built under a
  * writer-private name and published by one exclusive pointer-move record
  * ([[movePointer]]), so readers resolve a complete version or the
  * previous one, never a half-written directory.
  *
  * Scale shape: the rewrite job is `base buckets ⟕anti changes ∪ changes`
  * — one shuffle join keyed on the merge key, partitioned output, nothing
  * collected (the only driver-side materialization is the set of touched
  * bucket ids, ≤ `buckets` ints). At 100 TB you raise `buckets` so a
  * bucket is a few GB and a merge touching 1% of keys rewrites ~1% of
  * files — and the commit's metadata write stays a few KB regardless.
  *
  * Multi-writer safety: every single-version commit goes through
  * [[publishNext]], which CLAIMS its version number with a
  * create-exclusive `_commit-N` marker and re-verifies the pointer under
  * the claim (see [[claimCommit]]) — concurrent writers serialize per
  * version — and every publish moves the pointer through [[movePointer]],
  * which fails when another move left its base first. Losing appends retry
  * on the recomputed version (appends commute); losing row-level deltas
  * fail with a clean ConcurrentModificationException (their read
  * snapshot is stale — serializable behavior, re-run the statement). */
object GraftStore {
  /** Reserved partition-column name for the bucket id. Must NOT start with
    * `_` or `.`: Hadoop's hidden-file filter would skip `_bucket=3`
    * directories during partition discovery and the table would read
    * empty. */
  val BucketCol = "gbucket"
  val OpCol = "_op"
  /** Changelog column names (no leading `_`: they become partition-dir /
    * data columns of the changes table and must survive file listing). */
  val ChangeOpCol = "change_op"
  val ChangeVersionCol = "change_version"
  /** Debezium-shaped pre-image: the replaced/deleted row as a struct
    * (null for inserts). Flat columns are the AFTER image. */
  val ChangeBeforeCol = "change_before"

  /** StructField metadata key holding a column's physical (file) name when
    * it differs from the logical name — set by RENAME COLUMN. */
  val PhysicalKey = "graft.physical"

  def physicalName(f: StructField): String =
    if (f.metadata.contains(PhysicalKey)) f.metadata.getString(PhysicalKey)
    else f.name

  /** logical→physical name map; identity entries included. */
  def logToPhys(schema: StructType): Map[String, String] =
    schema.fields.map(f => f.name -> physicalName(f)).toMap

  /** The schema as stored in parquet files: physical field names. */
  def physicalSchema(schema: StructType): StructType =
    StructType(schema.fields.map(f => f.copy(name = physicalName(f))).toSeq)

  /** Rename a logical-named DataFrame's columns to physical for writing.
    * Only columns present in `schema` are renamed; others (op/bucket
    * bookkeeping) pass through. */
  private def toPhysical(df: DataFrame, schema: StructType): DataFrame = {
    val m = logToPhys(schema)
    df.select(df.columns.toIndexedSeq.map(c => col(c).as(m.getOrElse(c, c))): _*)
  }

  /** Rename a physical-named DataFrame back to logical after reading. */
  private def toLogical(df: DataFrame, schema: StructType): DataFrame = {
    val m = logToPhys(schema).map(_.swap)
    df.select(df.columns.toIndexedSeq.map(c => col(c).as(m.getOrElse(c, c))): _*)
  }

  /** Driver-side pool for a commit's two independent write legs (daemon
    * threads; Spark handles concurrent job submission). */
  private lazy val commitPool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newCachedThreadPool(r => {
      val t = new Thread(r, "graft-commit-leg")
      t.setDaemon(true)
      t
    })

  /** Run one commit leg on [[commitPool]] under the CALLER's active
    * session and Spark local properties (job group, description, job
    * tags, scheduler pool, SQL execution id). A pooled thread otherwise
    * keeps the properties it inherited from whichever statement created
    * it, and the leg's jobs would carry that stale statement's. */
  private def commitLeg[A](spark: SparkSession)(body: => A)
      : java.util.concurrent.CompletableFuture[A] =
    org.apache.spark.sql.execution.SQLExecution.withThreadLocalCaptured(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      commitPool)(body)

  private def metaPath(dir: String): Path = Paths.get(dir, "_meta.json")
  private def pointerPath(dir: String): Path = Paths.get(dir, "_current")
  def versionDir(dir: String, v: Long): String = f"$dir/v$v%010d"
  def stagingDir(dir: String, id: String): String = s"$dir/_staging/$id"

  /** Run `f` over a directory listing, CLOSING the stream (java.nio
    * directory streams hold an open FD until closed — a long-lived session
    * committing per micro-batch would otherwise accumulate FDs). */
  private[sources] def listDir[A](p: Path)(f: Iterator[Path] => A): A = {
    val s = Files.list(p)
    try f(s.iterator().asScala) finally s.close()
  }

  def exists(dir: String): Boolean = Files.exists(metaPath(dir))

  /** Serialize read-modify-write cycles on `_meta.json` (ALTER TABLE):
    * without this, two concurrent ALTERs both fold over the same base meta
    * and the last writeMeta silently drops the other's DDL (worst case a
    * lost DROP tombstone lets a later ADD resurrect dropped data). ALTERs
    * are milliseconds, so the stale-break window is short. */
  // re-entrancy: readMeta's backup recovery can run while THIS thread
  // already holds the lock (alterTable reads meta under it) — re-acquiring
  // our own lock would spin against ourselves
  private val metaLockHeld = new ThreadLocal[Set[String]] {
    override def initialValue(): Set[String] = Set.empty
  }

  private[sources] def withMetaLock[A](dir: String,
      staleMs: Long = 60000L)(f: => A): A = {
    if (metaLockHeld.get.contains(dir)) return f
    val lock = Paths.get(dir, "_meta_lock")
    // a lease (see tryLease): a lost stale takeover can never let two
    // ALTERs fold over the same base meta and silently lose DDL
    val token = Iterator.range(0, 600).flatMap { i =>
      if (i > 0) Thread.sleep(10)
      tryLease(lock, staleMs)
    }.nextOption().getOrElse(throw new java.util.ConcurrentModificationException(
      s"meta lock busy for $dir"))
    metaLockHeld.set(metaLockHeld.get + dir)
    try f
    finally {
      metaLockHeld.set(metaLockHeld.get - dir)
      releaseClaim(lock, token)
    }
  }

  // ------------------------------------------------------------ file lease
  //
  // One token-guarded file lease is both the per-version commit claim
  // (`_commit-N`, [[claimCommit]]) and the meta lock (`_meta_lock`,
  // [[withMetaLock]]). It is taken by CREATE_NEW with a fresh token
  // inside. Breaking a stale lease and releasing one both go through
  // [[removeIf]], which removes the file only while it holds the token
  // the remover read: two breakers can never both win. One window remains:
  // while a remover holds another holder's file in its tomb (it read its
  // own token, then a stale takeover replaced the file before its
  // rename), a third contender can create the lease, the link-back then
  // fails and the successor's lease is lost — two holders. Commit claims
  // tolerate that, since the pointer move is their fence ([[movePointer]]);
  // the meta lock does not, and relies on the race needing a holder
  // stalled past `staleMs` plus two contenders inside one rename.

  /** The lease's one staleness test: `p` exists and its holder last
    * proved liveness (its mtime, kept fresh by [[withClaimHeartbeat]])
    * more than `staleMs` ago. */
  private def leaseStale(p: Path, staleMs: Long): Boolean =
    try System.currentTimeMillis() - Files.getLastModifiedTime(p).toMillis >
      staleMs
    catch { case _: java.nio.file.NoSuchFileException => false }

  /** One attempt to take the lease at `p`, breaking it first if stale:
    * the new token, or None while another holder has it. */
  private def tryLease(p: Path, staleMs: Long): Option[String] = {
    val token = java.util.UUID.randomUUID().toString
    def break(): Boolean =
      readText(p).exists(seen => leaseStale(p, staleMs) && removeIf(p, seen))
    if (createText(p, token) || (break() && createText(p, token))) Some(token)
    else None
  }

  /** Create `p` holding `text` unless it exists — the create-exclusive
    * step of leases, tags, group markers and group decisions. */
  private def createText(p: Path, text: String): Boolean =
    try {
      Files.write(p, text.getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE_NEW)
      true
    } catch { case _: java.nio.file.FileAlreadyExistsException => false }

  /** The one compare-and-remove step (leases and group markers): remove
    * `p` only while it holds `expected`. `p` is renamed to a private tomb
    * first — of racing removers exactly one gets the file — compared
    * there, then deleted, or linked back when it turned out to be another
    * holder's — a link-back that loses to a fresh CREATE_NEW drops that
    * holder's lease (see the lease note above). A tomb left by a crash is
    * swept by [[vacuum]]. */
  private def removeIf(p: Path, expected: String): Boolean =
    readText(p).contains(expected) && {
      val tomb = Paths.get(s"$p.stale-${System.nanoTime()}")
      try Files.move(p, tomb, StandardCopyOption.ATOMIC_MOVE)
      catch { case _: java.nio.file.NoSuchFileException => return false }
      hook("removeIf.tombed")
      val mine = readText(tomb).contains(expected)
      if (!mine) try Files.createLink(p, tomb)
      catch { case _: java.nio.file.FileAlreadyExistsException => () }
      Files.deleteIfExists(tomb)
      mine
    }

  /** A small record file's trimmed text; None when it does not exist. */
  private def readText(p: Path): Option[String] =
    try Some(new String(Files.readAllBytes(p), "UTF-8").trim)
    catch { case _: java.nio.file.NoSuchFileException => None }

  /** Named points on the publish path — in [[VersionBuild.flip]],
    * [[movePointer]], [[publishGroup]], [[completeGroupMember]],
    * [[recoverChangelog]], [[removeIf]] and [[deleteRecursively]] — where
    * a deterministic scheduler or a crash harness stalls or crashes the
    * calling thread. A no-op unless one is installed. An [[InjectedCrash]]
    * thrown here is a dead process: [[publishGroup]] then leaves its claims
    * and markers as they are, for the recovery paths to resolve. */
  @volatile private[graft] var hook: String => Unit = _ => ()

  private[graft] final class InjectedCrash(at: String)
    extends RuntimeException(s"injected crash at $at")

  /** Run `body` with a crash injected at hook point `point`. */
  private[graft] def withCrashAt[A](point: String)(body: => A): A = {
    val saved = hook
    hook = p => { saved(p); if (p == point) throw new InjectedCrash(p) }
    try body finally hook = saved
  }

  // ------------------------------------------------------ version manifest
  //
  // Commit metadata is O(changed files + slots), never O(table files): a
  // version dir physically holds ONLY the files its commit wrote, plus ONE
  // sealed `_manifest` that is the version's whole description — its
  // layout (bucket fan-out, partition spec), its commit stamp, per SLOT
  // the versions whose dirs hold that slot's live files (its OWNERS,
  // ascending — the version of a file's enclosing dir is by construction
  // the version that wrote it), the dir's own data files (write version,
  // size, footer zone maps) and the version's live delete-slice files
  // with their row counts. A slot is one leaf data directory of the
  // layout: `gbucket=<k>` for an unpartitioned table,
  // `gpart=<ordinal>/gbucket=<k>` for a PARTITIONED BY table (partition
  // above bucket — the standard fact-table layout, so date-grained
  // retention and coarse pruning compose with the key-hash fan-out).
  // Untouched slots are carried by rewriting one manifest line, not by
  // re-linking every file — at 100 TB / ~1M files a per-commit hard-link
  // pass would be an O(table) driver-side cost. Every reader of a
  // version's contents goes through [[manifestOf]]: a snapshot resolves
  // to (slot → owner dirs → the owners' listed files) with no directory
  // listing and no footer read, so a file the manifest does not name is
  // not part of any version. Only writers list their own build dir and
  // only sweepers list version dirs. expireVersions keeps an old version
  // dir's referenced slots (and its manifest) alive, marked `_expired`
  // and excluded from the version listing, until no retained snapshot
  // references them.

  val ManifestName = "_manifest"
  private val ManifestHeader = "graft-manifest\t1"
  private val ManifestBodyLines = Set("slot", "file", "stat", "delete")

  /** One data file a version dir holds: the version that WROTE it (a
    * materialized clone keeps the original), its size — what scans plan
    * splits from — and its footer zone maps (empty when the footer had
    * none usable: the file is then never skipped). */
  final case class ManifestFile(seq: Long, bytes: Long,
      stats: GraftStats.FileStats)

  /** A version's sealed manifest. `owners`: slot → owner versions;
    * `files`: the dir's own data files by path relative to it; `deletes`:
    * the version's live delete-slice files (relative, under [[DvDirName]])
    * → row count; `boundary`: the commit is a snapshot boundary (see
    * [[isBoundary]]); `txn`: the (appId, txnVersion) an idempotent write
    * committed (see [[lastTxnVersion]]). Both are facts about this one
    * commit, sealed with its files, so they publish atomically with it. */
  final case class VersionManifest(buckets: Int, committedAt: Long,
      partSpec: Option[(String, String)], owners: Map[String, Seq[Long]],
      files: Map[String, ManifestFile], deletes: Map[String, Long],
      boundary: Boolean = false, txn: Option[(String, Long)] = None) {
    /** A version sealed on top of this one: same layout, stamped strictly
      * after it, with no boundary or txn record of its own. `TIMESTAMP AS
      * OF` assumes stamps are MONOTONE per table, and writers on several
      * hosts stamp from their own clocks — the clamp makes monotonicity
      * hold by construction. */
    def next(owners: Map[String, Seq[Long]],
        files: Map[String, ManifestFile] = Map.empty,
        deletes: Map[String, Long] = Map.empty): VersionManifest =
      VersionManifest(buckets,
        math.max(System.currentTimeMillis(), committedAt + 1), partSpec,
        owners, files, deletes)
  }

  private def encodeManifest(m: VersionManifest): String = {
    val enc = (s: String) => java.net.URLEncoder.encode(s, "UTF-8")
    val sb = new StringBuilder(ManifestHeader).append('\n')
    def line(fields: Any*): Unit =
      sb.append(fields.mkString("\t")).append('\n')
    line("buckets", m.buckets)
    line("committed_at", m.committedAt)
    line("partspec", m.partSpec.map { case (fn, c) => s"$fn:${enc(c)}" }
      .getOrElse("-"))
    if (m.boundary) line("boundary")
    m.txn.foreach { case (app, v) => line("txn", app, v) }
    m.owners.toSeq.sortBy(_._1).foreach { case (slot, os) =>
      if (os.nonEmpty) line("slot", slot, os.mkString(","))
    }
    m.files.toSeq.sortBy(_._1).foreach { case (rel, f) =>
      line("file", rel, f.seq, f.bytes)
      f.stats.toSeq.sortBy(_._1).foreach { case (c, cs) =>
        line(Seq("stat", rel, enc(c)) ++ GraftStats.encodeColStats(cs): _*)
      }
    }
    m.deletes.toSeq.sortBy(_._1).foreach { case (rel, n) =>
      line("delete", rel, n)
    }
    sb.toString
  }

  /** The one manifest decoder: exactly what [[encodeManifest]] writes,
    * the commit's own lines (`buckets`, `committed_at`, `partspec`,
    * `boundary`, `txn`) ahead of its slot, file, stat and delete lines.
    * Anything else — a missing header, an unknown, repeated or misplaced
    * line, a field that does not parse, a stat for an unlisted file —
    * fails loudly instead of being skipped. */
  private def decodeManifest(vdir: String,
      lines: Iterator[String]): VersionManifest = {
    def bad(why: String): Nothing = throw new IllegalStateException(
      s"malformed version manifest in $vdir: $why")
    val dec = (s: String) => java.net.URLDecoder.decode(s, "UTF-8")
    if (!lines.hasNext || lines.next() != ManifestHeader)
      bad("no manifest header")
    var buckets = Option.empty[Int]
    var stamp = Option.empty[Long]
    var spec = Option.empty[Option[(String, String)]]
    val owners = scala.collection.mutable.Map.empty[String, Seq[Long]]
    val files = scala.collection.mutable.Map.empty[String, ManifestFile]
    val deletes = scala.collection.mutable.Map.empty[String, Long]
    var boundary = false
    var txn = Option.empty[(String, Long)]
    var inBody = false
    lines.foreach { l =>
      val f = l.split("\t", -1)
      if (inBody && !ManifestBodyLines(f(0))) bad(s"'$l' after the file list")
      inBody = ManifestBodyLines(f(0))
      try f match {
        case Array("buckets", n) if buckets.isEmpty => buckets = Some(n.toInt)
        case Array("committed_at", t) if stamp.isEmpty => stamp = Some(t.toLong)
        case Array("partspec", p) if spec.isEmpty =>
          spec = Some(if (p == "-") None else p.split(":", 2) match {
            case Array(fn, c) => Some((fn, dec(c)))
            case _ => bad(s"partition spec '$p'")
          })
        case Array("boundary") if !boundary => boundary = true
        case Array("txn", app, v) if txn.isEmpty &&
            app.matches(TxnAppIdPattern) => txn = Some((app, v.toLong))
        case Array("slot", s, os) if !owners.contains(s) =>
          owners(s) = os.split(',').map(_.toLong).toSeq
        case Array("file", rel, seq, bytes) if !files.contains(rel) =>
          files(rel) = ManifestFile(seq.toLong, bytes.toLong, Map.empty)
        case Array("stat", rel, c, cs @ _*) if files.contains(rel) =>
          files(rel) = files(rel).copy(stats =
            files(rel).stats + (dec(c) -> GraftStats.decodeColStats(cs)))
        case Array("delete", rel, n) if !deletes.contains(rel) =>
          deletes(rel) = n.toLong
        case _ => bad(s"unexpected line '$l'")
      } catch {
        case e: IllegalArgumentException => bad(s"line '$l': ${e.getMessage}")
      }
    }
    VersionManifest(buckets.getOrElse(bad("no bucket count")),
      stamp.getOrElse(bad("no commit stamp")),
      spec.getOrElse(bad("no partition spec line")), owners.toMap,
      files.toMap, deletes.toMap, boundary, txn)
  }

  /** Write `m` as the manifest of `buildDir` under a temp name, renamed
    * into place: never through an existing path, which in an adopted
    * build dir is a hard link to the branch's own manifest. Every version
    * dir is sealed here and nowhere else — v0 of a CREATE, a clone's
    * base, every commit, maintenance publish and branch adoption. */
  private[sources] def sealVersion(buildDir: String,
      m: VersionManifest): Unit = {
    val tmp = Paths.get(buildDir,
      s"$ManifestName.tmp-${java.util.UUID.randomUUID()}")
    Files.write(tmp, encodeManifest(m).getBytes("UTF-8"))
    Files.move(tmp, Paths.get(buildDir, ManifestName),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** A cache of values derived from a published version dir (manifests,
    * snapshots, delete probes, scan indexes), keyed by the dir plus a
    * `variant`. A version-dir PATH is not an identity — a drop/recreate,
    * rebase swap or branch re-create in ANOTHER process reuses it — so an
    * entry is served only while its manifest file keeps the identity
    * (inode, mtime, size) it had at compute time; a computation racing
    * [[invalidateDvCache]] skips its put; a full cache (`cap` entries) is
    * cleared. Every instance is registered, so one invalidation sweeps
    * them all. */
  final class VersionCache[A] private[GraftStore] (cap: Int) {
    private val entries =
      new java.util.concurrent.ConcurrentHashMap[String, (Any, A)]()

    def apply(vdir: String, variant: String = "")(compute: => A): A = {
      val key = vdir + variant
      val a = Files.readAttributes(Paths.get(vdir, ManifestName),
        classOf[java.nio.file.attribute.BasicFileAttributes])
      val id = (a.fileKey, a.lastModifiedTime, a.size)
      val hit = entries.get(key)
      if (hit != null && hit._1 == id) return hit._2
      val e0 = cacheEpoch.get()
      val v = compute
      if (entries.size > cap) entries.clear()
      if (cacheEpoch.get() == e0) entries.put(key, (id, v))
      v
    }

    private[GraftStore] def invalidate(tableDir: String): Unit = {
      // path-segment-scoped: dropping 'wh/t' must not evict 'wh/t2'
      val prefix = tableDir + java.io.File.separator
      entries.keySet.removeIf(k => k == tableDir || k.startsWith(prefix))
    }
  }

  private val versionCaches =
    new java.util.concurrent.ConcurrentLinkedQueue[VersionCache[_]]()

  /** A new registered [[VersionCache]] of at most `cap` entries. */
  def versionCache[A](cap: Int): VersionCache[A] = {
    val c = new VersionCache[A](cap)
    versionCaches.add(c)
    c
  }

  /** Bumped by every invalidation — computing threads racing a concurrent
    * drop/recreate skip their put instead of re-inserting a stale entry
    * after the sweep (the get-miss → compute → put window). */
  private val cacheEpoch = new java.util.concurrent.atomic.AtomicLong()

  // the planner reads layout, owners and stats of several versions per
  // query, and the cached owner map seeds the next commit's manifest
  private val manifestCache = versionCache[VersionManifest](4096)

  /** The sealed manifest of version dir `vdir` — the one read of a
    * version's contents. A missing or malformed manifest fails loudly. */
  def manifestOf(vdir: String): VersionManifest =
    manifestCache(vdir) {
      val lines = new String(Files.readAllBytes(Paths.get(vdir, ManifestName)),
        "UTF-8").split("\n", -1)
      if (lines.last.nonEmpty) throw new IllegalStateException(
        s"malformed version manifest in $vdir: truncated")
      decodeManifest(vdir, lines.iterator.take(lines.length - 1))
    }

  private val manifestHeadCache = versionCache[VersionManifest](4096)

  /** The commit's own lines of version dir `vdir` — layout, stamp,
    * `boundary` and `txn` — decoded up to its first slot, file or delete
    * line, so `owners`, `files` and `deletes` are empty: a txn or boundary
    * probe over every retained version decodes no file list or zone map
    * and evicts no full manifest. None when the manifest is gone: the dir
    * was retired by [[expireVersions]] after it was listed. */
  private def manifestHead(vdir: String): Option[VersionManifest] =
    try Some(manifestHeadCache(vdir) {
      val r = Files.newBufferedReader(Paths.get(vdir, ManifestName))
      try decodeManifest(vdir, Iterator.continually(r.readLine())
        .takeWhile(l => l != null && !ManifestBodyLines(l.split("\t")(0))))
      finally r.close()
    }) catch { case _: java.nio.file.NoSuchFileException => None }

  /** The slot of a file path relative to its version dir. */
  private def slotOf(rel: String): String =
    rel.substring(0, rel.lastIndexOf('/'))

  /** Slot → `v` for every slot `files` has a file in: the owner map of a
    * version that physically holds its whole snapshot. */
  private def selfOwned(files: Map[String, ManifestFile],
      v: Long): Map[String, Seq[Long]] =
    files.keySet.map(r => slotOf(r) -> Seq(v)).toMap

  /** Partition-ordinal directory name (above [[BucketCol]]). Like the
    * bucket column it must NOT start with `_`/`.` (partition discovery
    * would hide it). */
  val PartCol = "gpart"

  /** Bucket id of a slot (`[gpart=<v>/]gbucket=<k>` → k). */
  def slotBucket(slot: String): Int =
    slot.substring(slot.lastIndexOf('=') + 1).toInt

  /** Partition-ordinal STRING of a slot, if partitioned
    * (`gpart=<v>/gbucket=<k>` → v). */
  def slotPart(slot: String): Option[String] = {
    val i = slot.indexOf('/')
    if (i < 0) None else Some(slot.substring(PartCol.length + 1, i))
  }

  /** Write-side partition-ordinal expression (over PHYSICAL column names;
    * evaluate AFTER toPhysical). Ordinals are monotone in the source
    * column so range predicates prune partitions: identity = the value;
    * years = calendar year; months = year*12+month-1; days = days since
    * epoch; hours = hours since epoch. SESSION-TIMEZONE-INDEPENDENT by
    * construction — TIMESTAMP ordinals come from `unix_micros` (UTC
    * instants) with the calendar read via `date_from_unix_date`, and
    * DATE/TIMESTAMP_NTZ ordinals are wall-clock functions that never
    * consult the zone — so the scan-side literal derivation
    * (GraftPartDerivation, fixed UTC/wall math) always agrees with what
    * was written, no matter what zone an embedding session runs under. */
  def partitionExpr(meta: GraftTableMeta): Option[Column] =
    partitionExprFor(meta, meta.partition)

  /** [[partitionExpr]] under an EXPLICIT spec — writers derive the spec
    * from the layout they commit into ([[versionPartSpec]]), so a
    * `set_partition_spec` change re-grains NEW commits while old owner
    * dirs keep the ordinals they were written with. */
  def partitionExprFor(meta: GraftTableMeta,
      spec: Option[(String, String)]): Option[Column] =
    spec.map { case (fn, physCol) =>
      val c = col(physCol)
      // exact floorDiv in long arithmetic ((x - pmod) is divisible, so the
      // double division is exact at ordinal magnitudes)
      def fdiv(x: Column, n: Long): Column =
        ((x - pmod(x, lit(n))) / lit(n)).cast(IntegerType)
      val isTs = meta.schema.fields
        .find(f => physicalName(f) == physCol)
        .exists(_.dataType == TimestampType)
      // wall-clock date for DATE (identity cast) and TIMESTAMP_NTZ
      // (tz-free cast); UTC date for TIMESTAMP (via unix_micros)
      def utcDays: Column = fdiv(unix_micros(c), 86400000000L)
      def calDate: Column =
        if (isTs) date_from_unix_date(utcDays) else c.cast(DateType)
      def days: Column =
        if (isTs) utcDays
        else datediff(c.cast(DateType), lit("1970-01-01").cast(DateType))
      fn match {
        case "identity" => c
        case "years" => year(calDate)
        case "months" => (year(calDate) * 12 + month(calDate) - 1)
        case "days" => days
        case "hours" =>
          if (isTs) fdiv(unix_micros(c), 3600000000L)
          else (days * 24 + hour(c)).cast(IntegerType)
        case other => throw new IllegalArgumentException(
          s"unknown partition transform: $other")
      }
    }

  /** Stamp the partition-ordinal column onto a PHYSICAL-named frame (no-op
    * for unpartitioned tables), under the LAYOUT's spec. */
  private def withPartCol(df: DataFrame, meta: GraftTableMeta,
      spec: Option[(String, String)]): DataFrame =
    partitionExprFor(meta, spec).map(e => df.withColumn(PartCol, e))
      .getOrElse(df)

  /** The layout's partition directory columns, innermost last. */
  private def layoutCols(meta: GraftTableMeta): Seq[String] =
    if (meta.partition.isDefined) Seq(PartCol, BucketCol) else Seq(BucketCol)

  /** Writer option keeping Spark's output committer from leaving a
    * `_SUCCESS` file in a build dir: a version dir holds its manifest,
    * slot dirs and delete slices only, and the manifest is its commit
    * record. */
  private val NoSuccessFile =
    Map("mapreduce.fileoutputcommitter.marksuccessfuljobs" -> "false")

  /** Options of every data-file write into a build dir (commit legs,
    * OPTIMIZE, rebucket): [[NoSuccessFile]], and per-column bloom filters
    * for the table's declared `bloom_filter_columns`, consumed
    * automatically by the stock vectorized reader's row-group filtering
    * on `=`/IN predicates. Physical column names match what files store. */
  private def dataWriteOptions(meta: GraftTableMeta): Map[String, String] =
    NoSuccessFile ++ meta.bloomCols
      .map(c => s"parquet.bloom.filter.enabled#$c" -> "true")

  /** Write `df` as parquet under `out`, one directory level per
    * `partCols` (the `partitionBy` layout). A `small` batch whose rows the
    * driver already holds ([[localRows]]) is written on the driver by
    * [[writeOnDriver]], with no Spark job; any other batch by a Spark
    * write, a small one coalesced to one task (one file per slot, no
    * exchange) and a large one rebalanced on `partCols`. `distinct`
    * deduplicates the rows first; a small batch coalesces BEFORE the
    * distinct, since one partition already satisfies the aggregate's
    * distribution and no exchange (and no second AQE job) is planned.
    * Returns the driver-side write's row count per file (relative to
    * `out`), None after a Spark write. */
  private def writeSlices(spark: SparkSession, df: DataFrame, out: String,
      partCols: Seq[String], options: Map[String, String], small: Boolean,
      distinct: Boolean = false): Option[Map[String, Long]] =
    (if (small) localRows(df) else None) match {
      case Some(rows) => Some(writeOnDriver(spark, df.schema,
        if (distinct) rows.distinct else rows, out, partCols, options))
      case None =>
        val one = if (small) df.coalesce(1) else df
        val deduped = if (distinct) one.distinct() else one
        (if (small) deduped else deduped.hint("rebalance", partCols.map(col): _*))
          .write.options(options).partitionBy(partCols: _*).parquet(out)
        None
    }

  /** The driver-side write: `rows` (of `schema`) through Spark's own
    * parquet writer (`ParquetFileFormat.prepareWrite` → one
    * `OutputWriter` per slot, under the session's Hadoop conf plus
    * `options`), one `part-<n>-<uuid>` file per `partCols` slot, slot dirs
    * named as Spark names them. A write without `partCols` always writes
    * one file, an empty one for no rows, as Spark's does. There is no
    * output committer: every caller writes into a writer-private dir (a
    * version build dir or the changelog staging dir) that the commit
    * publishes by rename. Returns each written file (relative to `out`)
    * with its row count. */
  private def writeOnDriver(spark: SparkSession, schema: StructType,
      rows: Seq[org.apache.spark.sql.catalyst.InternalRow], out: String,
      partCols: Seq[String], options: Map[String, String])
      : Map[String, Long] = {
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast}
    val partIdx = partCols.map(schema.fieldIndex)
    val dataIdx = schema.fields.indices.filterNot(partIdx.contains)
    val dataSchema = StructType(dataIdx.map(schema.fields(_)))
    val job = org.apache.hadoop.mapreduce.Job.getInstance(
      spark.sessionState.newHadoopConfWithOptions(options))
    val factory = new org.apache.spark.sql.execution.datasources.parquet
      .ParquetFileFormat().prepareWrite(spark, job, options, dataSchema)
    val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
      job.getConfiguration, new org.apache.hadoop.mapreduce.TaskAttemptID())
    val name = s"${java.util.UUID.randomUUID()}${factory.getFileExtension(ctx)}"
    // slot dir values as Spark's partitioned write renders them
    val tz = Some(spark.sessionState.conf.sessionLocalTimeZone)
    val partStr = partIdx.map(i => Cast(BoundReference(i,
      schema.fields(i).dataType, nullable = true), StringType, tz))
    val slots =
      if (partCols.isEmpty) Seq("" -> rows)
      else rows.groupBy(r => partCols.zip(partStr).map { case (c, e) =>
          org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .getPartitionPathString(c, Option(e.eval(r)).map(_.toString).orNull)
        }.mkString("", "/", "/")).toSeq
    Files.createDirectories(Paths.get(out))
    slots.zipWithIndex.map { case ((slot, rs), n) =>
      val rel = s"${slot}part-$n-$name"
      val w = factory.newInstance(s"$out/$rel", dataSchema, ctx)
      val data = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(dataIdx.size)
      try rs.foreach { r =>
        dataIdx.indices.foreach(j => data.update(j,
          r.get(dataIdx(j), dataSchema.fields(j).dataType)))
        w.write(data)
      } finally w.close()
      rel -> rs.size.toLong
    }.toMap
  }

  /** Slots PHYSICALLY present in a version dir (its own files only):
    * `gbucket=k` entries plus `gpart=v/gbucket=k` one level down — the
    * sweeper's view ([[expireVersions]]), never a reader's. */
  private[sources] def localSlots(vdir: String): Seq[String] = {
    val p = Paths.get(vdir)
    if (!Files.isDirectory(p)) return Seq.empty
    listDir(p)(_.flatMap { e =>
      val n = e.getFileName.toString
      if (n.startsWith(s"$BucketCol=")) Seq(n)
      else if (n.startsWith(s"$PartCol=") && Files.isDirectory(e))
        listDir(e)(_.map(_.getFileName.toString)
          .filter(_.startsWith(s"$BucketCol=")).map(b => s"$n/$b").toSeq)
      else Seq.empty
    }.toSeq)
  }

  /** Per-slot owner versions of version `v` (ascending). */
  def ownersOf(dir: String, v: Long): Map[String, Seq[Long]] =
    manifestOf(versionDir(dir, v)).owners

  /** ABSOLUTE paths of every live data file of a snapshot, resolved
    * through the manifests (spanning owner version dirs). */
  def snapshotFiles(dir: String, v: Long): Seq[String] =
    snapshotFileEntries(dir, v).map(_.path)

  /** Per-SLOT live data-file count of a snapshot — the fragmentation
    * signal [[optimize]] acts on. Slot-scoped on purpose: on a partitioned
    * table a per-BUCKET count sums across every partition, so a long
    * date-partitioned table with one healthy file per day-slot would read
    * as permanently fragmented and compaction would rewrite whole buckets
    * across all history instead of just the hot slots. */
  def slotFileCounts(dir: String, v: Long): Map[String, Int] =
    snapshotFileEntries(dir, v).groupBy(_.slot)
      .map { case (s, es) => s -> es.size }

  /** Per-file write-version map of a snapshot, keyed by the file's path
    * relative to whichever version dir holds it — exactly how the scan
    * extracts it from file paths. */
  def resolvedFileSeq(dir: String, v: Long): Map[String, Long] =
    snapshotFileEntries(dir, v).map(e => e.rel -> e.file.seq).toMap

  /** One live file of a snapshot: its slot, its path relative to and
    * absolute under the owner version dir holding it, and that owner's
    * manifest entry. */
  final case class SnapshotFile(slot: String, rel: String, path: String,
      file: ManifestFile) {
    def size: Long = file.bytes
    def stats: GraftStats.FileStats = file.stats
    def rowCount: Option[Long] = stats.values.map(_.rowCount).find(_ >= 0)
  }

  // the planner may ask for a snapshot's statistics several times per
  // query and must not pay the O(live files) resolution each time
  private val snapshotFilesCache = versionCache[Seq[SnapshotFile]](64)

  /** Every live data file of snapshot (`dir`, `v`): each slot of `v`'s
    * manifest, each owner of the slot, each file the owner's manifest
    * lists in that slot. ONE resolution, cached per immutable version
    * dir; the shared backbone of scan planning, row counting, match
    * estimation and materialization. */
  def snapshotFileEntries(dir: String, v: Long): Seq[SnapshotFile] = {
    val vdir = versionDir(dir, v)
    snapshotFilesCache(vdir) {
      val bySlot = scala.collection.mutable.Map
        .empty[Long, Map[String, Seq[(String, ManifestFile)]]]
      for {
        (slot, os) <- manifestOf(vdir).owners.toSeq.sortBy(_._1)
        o <- os
        od = versionDir(dir, o)
        (rel, f) <- bySlot.getOrElseUpdate(o, manifestOf(od).files.toSeq
          .sortBy(_._1).groupBy(e => slotOf(e._1))).getOrElse(slot, Nil)
      } yield SnapshotFile(slot, rel, s"$od/$rel", f)
    }
  }

  /** Upper bound on the rows of a snapshot that can match `conjuncts`
    * (physical-named pushed filters): the sum of rowCounts over files the
    * zone maps cannot prove empty — the planner-facing twin of the scan's
    * file skipping, exact when pruning is decisive. None when any
    * surviving file lacks stats. */
  def estimatedMatchingRows(dir: String, v: Long,
      conjuncts: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Option[Long] = {
    val perFile = snapshotFileEntries(dir, v)
      .filter(e => GraftStats.mayContain(conjuncts, e.stats))
      .map(_.rowCount)
    if (perFile.exists(_.isEmpty)) None else Some(perFile.flatten.sum)
  }

  /** Exact live-row count of a snapshot from the owner dirs' zone-map
    * entries — None when any resolved file lacks a footer rowCount. The
    * caller gates on live delete slices separately. */
  def snapshotRowCount(dir: String, v: Long): Option[Long] = {
    val perFile = snapshotFileEntries(dir, v).map(_.rowCount)
    if (perFile.exists(_.isEmpty)) None else Some(perFile.flatten.sum)
  }

  /** Hard-link EVERY live file of snapshot (`srcDir`, `srcV`) into
    * `buildDir`, flattening multi-owner slots into self-contained slot
    * dirs — the cross-table materialization clone/RTAS need (their source
    * dirs get dropped or evolve independently, so manifest references
    * would dangle). Returns the linked files' manifest entries, keeping
    * their ORIGINAL write versions so delete ordering stays meaningful. */
  private def materializeInto(srcDir: String, srcV: Long,
      buildDir: String): Map[String, ManifestFile] =
    snapshotFileEntries(srcDir, srcV).map { e =>
      val dst = Paths.get(buildDir, e.rel)
      Files.createDirectories(dst.getParent)
      Files.createLink(dst, Paths.get(e.path))
      e.rel -> e.file
    }.toMap

  def writeMeta(dir: String, meta: GraftTableMeta): Unit = {
    Files.createDirectories(Paths.get(dir))
    // schema via StructType.json (public, round-trips NOT NULL); keys and
    // bucket count as adjacent lines — no JSON library needed to parse.
    // Staged + atomic rename (same discipline as the version pointer): a
    // crash mid-ALTER must not truncate the meta of a live table.
    // CHECK constraints: one URL-encoded name=sql pair per comma slot —
    // predicate SQL may contain commas/newlines, encoding keeps the
    // line-oriented meta format intact
    val enc = (s: String) => java.net.URLEncoder.encode(s, "UTF-8")
    val body = meta.schema.json + "\n" + meta.keyCols.mkString(",") + "\n" +
      meta.buckets + "\n" + meta.tombstones.mkString(",") + "\n" +
      meta.mergeMode + "\n" +
      meta.checks.map { case (n, s) => s"${enc(n)}=${enc(s)}" }.mkString(",") +
      "\n" + meta.partition.map { case (fn, c) => s"$fn:${enc(c)}" }.getOrElse("") +
      "\n" + meta.bloomCols.map(enc).mkString(",") +
      "\n" + (if (meta.autoOptimize > 0) meta.autoOptimize.toString else "")
    val tmp = Paths.get(dir, "_meta.json.tmp")
    Files.write(tmp, body.getBytes("UTF-8"))
    Files.move(tmp, metaPath(dir), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Roll back the meta of an ABANDONED atomic-REPLACE: the swap writes
    * the old meta to `_meta_backup` (stamped with the target version)
    * before installing the staged meta, and deletes it after the pointer
    * flip. A backup whose target version never published AND whose commit
    * claim has gone stale means the replacer died between the meta swap
    * and the flip — restore the old meta so readers never keep seeing the
    * new schema over the old data. A LIVE replace keeps its claim
    * heartbeated (fresh ⇒ untouched), and concurrent restorers write
    * identical bytes. */
  private def recoverMetaBackup(dir: String): Unit = {
    val b = Paths.get(dir, MetaBackupName)
    if (!Files.exists(b)) return
    try {
      val bytes = Files.readAllBytes(b)
      val nl = bytes.indexOf('\n'.toByte)
      if (nl <= 0) { Files.deleteIfExists(b); return }
      val target = new String(bytes, 0, nl, "UTF-8").trim.toLong
      if (currentVersion(dir) >= target) { Files.deleteIfExists(b); return }
      val claim = Paths.get(dir, f"_commit-$target%010d")
      if (Files.exists(claim) && !leaseStale(claim, defaultStaleClaimMillis))
        return // in-flight replace: leave it alone
      // under the meta lock so a concurrent ALTER can't be clobbered by
      // the rollback; re-check the backup inside (another reader may have
      // already restored it)
      withMetaLock(dir) {
        if (Files.exists(b) && currentVersion(dir) < target) {
          val tmp = Paths.get(dir, "_meta.json.rollback")
          Files.write(tmp,
            java.util.Arrays.copyOfRange(bytes, nl + 1, bytes.length))
          Files.move(tmp, metaPath(dir), StandardCopyOption.ATOMIC_MOVE,
            StandardCopyOption.REPLACE_EXISTING)
          Files.deleteIfExists(b)
        }
      }
    } catch { case _: java.nio.file.NoSuchFileException => () }
  }

  private[sources] val MetaBackupName = "_meta_backup"

  /** Parse `_meta.json`: exactly the nine lines [[writeMeta]] writes; any
    * other count is not a meta this store wrote and fails loudly. */
  def readMeta(dir: String): GraftTableMeta = {
    recoverMetaBackup(dir)
    val lines = new String(Files.readAllBytes(metaPath(dir)), "UTF-8")
      .split("\n", -1)
    if (lines.length != 9) throw new IllegalStateException(
      s"unreadable table meta in $dir: expected 9 lines, got ${lines.length}")
    val dec = (v: String) => java.net.URLDecoder.decode(v, "UTF-8")
    GraftTableMeta(DataType.fromJson(lines(0)).asInstanceOf[StructType],
      lines(1).split(",").toSeq.filter(_.nonEmpty), lines(2).trim.toInt,
      lines(3).split(",").toSeq.filter(_.nonEmpty),
      lines(4).trim,
      lines(5).split(",").toSeq.filter(_.nonEmpty).map { pair =>
        val Array(n, s) = pair.split("=", 2)
        (dec(n), dec(s))
      },
      if (lines(6).trim.isEmpty) None
      else {
        val Array(fn, c) = lines(6).trim.split(":", 2)
        Some((fn, dec(c)))
      },
      lines(7).split(",").toSeq.filter(_.nonEmpty).map(dec),
      if (lines(8).trim.isEmpty) 0 else lines(8).trim.toInt)
  }

  // ------------------------------------------------------------- pointer
  //
  // A table's pointer is a log of moves. The move off version n-1 is
  // recorded in `_log/<n>` as "<to> <token> <slot> [<group decision
  // file>]": the pointer went to `to`, publishing the build dirs
  // `vK.build-<token>` (n <= K <= to). A record is created exclusively —
  // a hard link of a fully written temp file, which fails when the name
  // exists — so of two
  // movers off one version exactly one wins, and a stale writer's or
  // stale resolver's move fails on its own: the pointer never moves back
  // and no published version is ever replaced. A record naming a group
  // decision file is that group's reservation: it takes effect when the
  // decision reads "committed", and once it reads "aborted" the next
  // move off the same version takes the next slot (`_log/<n>.1`, ...),
  // so no record is ever removed while it can matter. `_current` (the
  // newest record, renamed from the same temp file; "<v>" as create and
  // clone write it) is a hint [[currentVersion]] probes forward from: a
  // hint a stalled mover rolled
  // back costs probes only, and one whose record expiry trimmed
  // ([[expireVersions]] trims oldest first) is re-found from the log.

  private def logDir(dir: String): Path = Paths.get(dir, "_log")
  private def slot(dir: String, n: Long, i: Int): Path =
    logDir(dir).resolve(if (i == 0) f"$n%010d" else f"$n%010d.$i")

  private def readRecord(p: Path): Option[(Long, String, Option[Path])] =
    if (!p.toFile.exists()) None
    else readText(p).map(_.split(" ", 4) match {
      case Array(to, tok, _) => (to.toLong, tok, None)
      case Array(to, tok, _, d) => (to.toLong, tok, Some(Paths.get(d)))
    })

  /** The move off version n-1: its first slot that does not hold a
    * reservation its group aborted, with the record there, if any. */
  @scala.annotation.tailrec
  private def moveRecord(dir: String, n: Long, i: Int = 0)
      : (Path, Option[(Long, String, Option[Path])]) = {
    val p = slot(dir, n, i)
    readRecord(p) match {
      case Some((_, _, Some(d))) if readText(d).contains("aborted") =>
        moveRecord(dir, n, i + 1)
      case r => (p, r)
    }
  }

  /** The move off version n-1 as (to, token, slot), once in effect. */
  private def effective(dir: String, n: Long): Option[(Long, String, Path)] =
    moveRecord(dir, n) match {
      case (p, Some((to, tok, d)))
          if d.forall(readText(_).contains("committed")) => Some((to, tok, p))
      case _ => None
    }

  def currentVersion(dir: String): Long = {
    val hint = new String(Files.readAllBytes(pointerPath(dir)), "UTF-8")
      .trim.split(" ")
    probe(dir, hint(0).toLong, hint.lift(2).map(logDir(dir).resolve))
  }

  /** Follow the log forward from version `v`, reached through record
    * `via` (None: a create or clone base), rolling forward a move whose
    * builds are not yet published. The record that reached the answer is
    * checked AFTER the last probe: gone means `v` came from a hint rolled
    * back below expiry's trim, and the head is re-found from the newest
    * move (its base, while that one is a pending reservation). */
  @scala.annotation.tailrec
  private def probe(dir: String, v: Long, via: Option[Path]): Long =
    effective(dir, v + 1) match {
      case Some((to, tok, p)) =>
        if (!Paths.get(versionDir(dir, to)).toFile.exists())
          publishBuilds(dir, v, to, tok)
        probe(dir, to, Some(p))
      case None if via.exists(!_.toFile.exists()) =>
        logIndexes(dir).lastOption match {
          case Some(n) => effective(dir, n) match {
            case Some((to, _, p)) => probe(dir, to, Some(p))
            case None => probe(dir, n - 1, None)
          }
          case None => v
        }
      case None => v
    }

  /** The versions n with a recorded move off n-1, ascending. */
  private def logIndexes(dir: String): Seq[Long] =
    if (!Files.isDirectory(logDir(dir))) Nil
    else listDir(logDir(dir))(_.map(_.getFileName.toString)
      .filter(_.matches("\\d{10}(\\.\\d+)?")).map(_.take(10).toLong)
      .toSeq.distinct.sorted)

  /** The token of the move that published version `v`: the move off
    * `v - 1`, or for a version inside a multi-version move the newest
    * recorded move below it. */
  private def moveToken(dir: String, v: Long): Option[String] =
    (if (slot(dir, v, 0).toFile.exists()) Some(v)
     else logIndexes(dir).filter(_ < v).lastOption)
      .flatMap(effective(dir, _)).collect { case (to, tok, _) if to >= v => tok }

  /** The one pointer move outside create and clone: move `dir`'s pointer
    * from `from` to `to`, publishing `token`'s build dirs. With `group`
    * the record is that group's reservation and takes effect with its
    * decision. True when the record is this mover's — created now, or
    * earlier with the same content (a resolver completing a group again)
    * — false when another move left `from` first, when the build is
    * gone, or when expiry retired `from`: its slot was trimmed, not free.
    * The retention check runs before the record is created and again
    * after, taking back a record whose base expiry retired in between. */
  private[sources] def movePointer(dir: String, from: Long, to: Long,
      token: String, group: Option[Path] = None): Boolean = {
    val tmp = Paths.get(dir, s"_current.tmp-${java.util.UUID.randomUUID()}")
    def content(p: Path) = s"$to $token ${p.getFileName}" + group.fold("")(" " + _)
    @scala.annotation.tailrec
    def record(): Option[(Path, Boolean)] = moveRecord(dir, from + 1) match {
      case (p, Some(_)) =>
        if (readText(p).contains(content(p))) Some((p, false)) else None
      case _ if !Files.isDirectory(Paths.get(
          s"${versionDir(dir, to)}.build-$token")) => None // swept meanwhile
      case _ if !retained(from) => None // the slot was trimmed, not free
      case (p, None) =>
        Files.write(tmp, content(p).getBytes("UTF-8"))
        try { Files.createLink(p, tmp); Some((p, true)) }
        catch { case _: java.nio.file.FileAlreadyExistsException => record() }
    }
    def retained(v: Long) =
      Paths.get(versionDir(dir, v), ManifestName).toFile.exists &&
        !Paths.get(versionDir(dir, v), ExpiredMarker).toFile.exists
    try record() match {
      case None => false
      case Some((p, true)) if !retained(from) => // retired meanwhile
        Files.deleteIfExists(p)
        false
      case Some((p, won)) =>
        hook("movePointer.recorded")
        // in effect now, and still this record: an aborted reservation's
        // next slot belongs to another mover
        if (effective(dir, from + 1).exists(_._3 == p) &&
            (won || !Paths.get(versionDir(dir, to)).toFile.exists)) {
          publishBuilds(dir, from, to, token)
          // the record itself becomes the hint
          if (!won) Files.write(tmp, content(p).getBytes("UTF-8"))
          Files.move(tmp, pointerPath(dir), StandardCopyOption.ATOMIC_MOVE,
            StandardCopyOption.REPLACE_EXISTING)
        }
        true
    } finally Files.deleteIfExists(tmp)
  }

  /** Rename `token`'s build dirs of versions (from, to] to their final
    * names, in order — a build already renamed is skipped. */
  private def publishBuilds(dir: String, from: Long, to: Long,
      token: String): Unit =
    (from + 1 to to).foreach { k =>
      try Files.move(Paths.get(s"${versionDir(dir, k)}.build-$token"),
        Paths.get(versionDir(dir, k)), StandardCopyOption.ATOMIC_MOVE)
      catch { case _: java.nio.file.NoSuchFileException => () }
    }

  /** Start a new table dir's pointer at version `v`: its empty log and a
    * hint — [[create]] and [[cloneTable]]. A mover never creates a log: a
    * table dropped under it must not come back as a stray dir. */
  private def startPointer(dir: String, v: Long): Unit = {
    Files.createDirectories(logDir(dir))
    val tmp = Paths.get(dir, s"_current.tmp-${java.util.UUID.randomUUID()}")
    Files.write(tmp, v.toString.getBytes("UTF-8"))
    Files.move(tmp, pointerPath(dir), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  def listVersions(dir: String): Seq[Long] = {
    // POINTER-CAPPED: a version dir above the pointer this call read was
    // published by a move that landed after the read — not this
    // snapshot's history. Without the cap, a concurrent expireVersions
    // could count it as the newest keeper and retire the version it read
    // as CURRENT. The cap keeps readable == committed as of the read.
    // A table mid-CREATE has no pointer yet (it lands last) — fall back
    // to uncapped there, matching the pre-cap tolerance.
    val cur =
      try currentVersion(dir)
      catch { case _: java.nio.file.NoSuchFileException => Long.MaxValue }
    listDir(Paths.get(dir))(_.map(_.getFileName.toString)
      .filter(_.matches("v\\d{10}")).map(_.drop(1).toLong).toSeq.sorted)
      .filter(_ <= cur)
      // retired-but-still-referenced file hosts (see expireVersions) are
      // not readable versions
      .filterNot(v => Files.exists(
        Paths.get(versionDir(dir, v), "_expired")))
  }

  /** Default stale-claim threshold: 1 h, overridable via the
    * `graft.store.staleClaimMillis` system property (deployments with
    * fast commits — or crash-injection harnesses — can shorten the
    * blocked window after a writer dies mid-commit; the heartbeat period
    * scales with the setting — [[heartbeatPeriodMs]] — so LIVE commits
    * stay safe at ANY threshold). */
  private[sources] def defaultStaleClaimMillis: Long =
    sys.props.get("graft.store.staleClaimMillis").map(_.toLong)
      .getOrElse(3600000L)

  private[sources] def claimCommit(dir: String, next: Long): (Path, String) =
    claimCommit(dir, next, defaultStaleClaimMillis)

  /** Multi-writer commit coordination: version `next` is CLAIMED by a
    * lease on its `_commit-N` marker before any commit work begins, so two
    * concurrent writers can never both build (and one silently lose) the
    * same version — the loser gets a ConcurrentModificationException and
    * either retries on a recomputed version (appends, which commute) or
    * surfaces a clean conflict error (row-level deltas, whose read
    * snapshot is stale once another commit lands — serializable
    * behavior). The marker is released after the pointer flip; a crashed
    * writer's marker goes stale and is broken by age (`staleClaimMillis`,
    * default 1 h — claims are held for the duration of the rewrite job,
    * so the threshold errs long; an operator can delete `_commit-*` after
    * a known crash). */
  private[sources] def claimCommit(dir: String, next: Long,
      staleClaimMillis: Long): (Path, String) = {
    val marker = Paths.get(dir, f"_commit-$next%010d")
    val token = tryLease(marker, staleClaimMillis).getOrElse(
      throw new CommitContended(
        s"concurrent commit in flight for version $next of $dir " +
          "(claim held by another writer)"))
    (marker, token)
  }

  /** The conflicts a commit whose batch commutes retries: the next
    * version's claim is held by another writer ([[claimCommit]]), or the
    * pointer moved before the claim was won ([[publishNext]]) or before
    * the build was published ([[VersionBuild.flip]]). Any other conflict
    * a publish body raises is a plain ConcurrentModificationException. */
  private[sources] final class CommitContended(msg: String)
    extends java.util.ConcurrentModificationException(msg)

  /** Run `attempt` up to `maxAttempts` times, backing off after each
    * [[CommitContended]] conflict; any other failure propagates. */
  private def retryContended[A](dir: String, maxAttempts: Int, n: Int = 1)(
      attempt: => A): A =
    try attempt
    catch {
      case _: CommitContended if n < maxAttempts =>
        Thread.sleep(math.min(500L, 20L * n))
        retryContended(dir, maxAttempts, n + 1)(attempt)
      case e: CommitContended if maxAttempts > 1 =>
        throw new java.util.ConcurrentModificationException(
          s"table $dir under sustained write contention; gave up after $n " +
            "attempts", e)
    }

  /** Release a lease (a commit claim or the meta lock) ONLY if it still
    * holds `token`. */
  private[sources] def releaseClaim(marker: Path, token: String): Unit =
    removeIf(marker, token)

  private lazy val heartbeatPool =
    java.util.concurrent.Executors.newSingleThreadScheduledExecutor(r => {
      val t = new Thread(r, "graft-claim-heartbeat")
      t.setDaemon(true)
      t
    })

  /** Heartbeat period derived from the EFFECTIVE stale threshold: a fixed
    * 60 s period under a `graft.store.staleClaimMillis` set below it (crash
    * harnesses use 3 s) would let a LIVE commit's claim age past stale
    * between ticks — re-opening exactly the mid-commit takeover the
    * heartbeat exists to close. A quarter of the threshold keeps ≥3 fresh
    * ticks inside any stale window; floor 25 ms so a tiny test threshold
    * can't busy-spin the scheduler, cap 60 s for the 1 h default. */
  private[sources] def heartbeatPeriodMs: Long =
    math.max(25L, math.min(60000L, defaultStaleClaimMillis / 4))

  /** Keep a commit's liveness markers fresh while `f` (the rewrite job)
    * runs: the claim marker's mtime is what claimCommit's stale check
    * reads, so a LEGITIMATE commit outlasting `staleClaimMillis` would
    * otherwise get its claim broken mid-rewrite — the new claimant would
    * then delete the live writer's in-progress version dir and both would
    * write the same version. Refreshing every `periodMs` (derived from the
    * stale threshold, see [[heartbeatPeriodMs]]) makes claim age mean "time
    * since the holder last proved it was alive", not "commit duration".
    * Extra `paths` (delta staging dirs, whose .bin files the commit reads
    * lazily for its whole duration) ride the same schedule so vacuum's age
    * check can't reap in-use staging. A claim broken anyway only costs the
    * two writers a conflict: the pointer move itself is the fence
    * ([[movePointer]]). */
  private[sources] def withClaimHeartbeat[A](paths: Seq[Path],
      periodMs: Long = heartbeatPeriodMs)(f: => A): A = {
    val task = heartbeatPool.scheduleAtFixedRate(() => paths.foreach { p =>
      try Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
      catch { case _: java.io.IOException => () }
    }, 0L, periodMs, java.util.concurrent.TimeUnit.MILLISECONDS)
    try f finally task.cancel(false)
  }

  /** A claimed build of version `next`: the writer-private build dir
    * `vN.build-<token>`, named by the claim's token. [[flip]] is the one
    * single-version publish step: one [[movePointer]] off `next - 1`,
    * which fails when another writer published `next` first. */
  private final class VersionBuild(dir: String, val next: Long,
      val token: String) {
    val path: String = s"${versionDir(dir, next)}.build-$token"
    var flipped = false
    def flip(): Unit = {
      hook("flip")
      if (!movePointer(dir, next - 1, next, token))
        throw new CommitContended(
          s"version $next of $dir was published by another writer; re-run")
      flipped = true
    }
  }

  /** Commit version `cur + 1` of `dir` through one claimed build: claim
    * it, heartbeat the claim marker, the build dir and `heartbeatPaths`,
    * re-check that the pointer is still at `cur` (a claim can be won after
    * another writer committed `cur + 1` and released), then run `body`,
    * which builds [[VersionBuild.path]] and calls [[VersionBuild.flip]]
    * itself — so a body can wrap the flip (RTAS's meta-swap rollback) or
    * act just before it. The build dir is NOT created here: Spark writes
    * it under the default ErrorIfExists mode. Returns the new version. */
  private def publishNext(dir: String, cur: Long, op: String,
      heartbeatPaths: Seq[Path] = Nil)(body: VersionBuild => Unit): Long = {
    val (marker, token) = claimCommit(dir, cur + 1)
    try {
      val b = new VersionBuild(dir, cur + 1, token)
      withClaimHeartbeat(marker +: Paths.get(b.path) +: heartbeatPaths) {
        if (currentVersion(dir) != cur)
          throw new CommitContended(
            s"table $dir advanced past version $cur during $op; re-run")
        body(b)
      }
      if (!b.flipped) throw new IllegalStateException(
        s"$op built version ${b.next} of $dir but never published it")
      b.next
    } finally releaseClaim(marker, token)
  }

  /** When version `v` committed (epoch millis) — the clock behind
    * `TIMESTAMP AS OF`, stamped at seal time ([[VersionManifest.next]]). */
  def committedAt(dir: String, v: Long): Long =
    manifestOf(versionDir(dir, v)).committedAt

  /** Latest retained version committed at or before `tsMillis` —
    * `TIMESTAMP AS OF` resolution (commit stamps are monotone because
    * commits serialize through the claim protocol). */
  def versionAsOfTimestamp(dir: String, tsMillis: Long): Option[Long] =
    listVersions(dir).filter(v => committedAt(dir, v) <= tsMillis).lastOption

  /** Zero-copy SHALLOW CLONE: `dst` is a new table whose v0 hard-links the
    * CURRENT version of `src` file-for-file (an object store would
    * manifest-reference; local links are free) — same schema, merge keys,
    * tombstones, physical-name mapping and bucket fan-out, fresh history
    * and changelog. The two tables then evolve independently: the shared
    * files are immutable by the store's copy-on-write contract, so writes
    * to either side never touch the other. This is the branch-for-an-
    * experiment operation at 100 TB — cost ∝ file COUNT, not bytes.
    * Crash-safe: `_meta.json` is written LAST ([[exists]] keys on it), so
    * a half-built clone is invisible; the dst directory is claimed
    * create-exclusively so two concurrent clones can't interleave. */
  def cloneTable(srcDir: String, dstDir: String): Unit = {
    require(exists(srcDir), s"no such table: $srcDir")
    require(!Files.exists(Paths.get(dstDir)),
      s"target already exists: $dstDir")
    recoverChangelog(srcDir)
    val meta = readMeta(srcDir)
    val cur = currentVersion(srcDir)
    val srcV = versionDir(srcDir, cur)
    // build the ENTIRE clone in a temp sibling and atomically rename into
    // place: a crash mid-clone leaves only a sweep-able .clonebuild dir,
    // never a meta-less half-table squatting on the target name
    val tmp = s"$dstDir.clonebuild-${java.util.UUID.randomUUID()}"
    Files.createDirectories(Paths.get(tmp))
    stampIncarnation(tmp) // a clone (or branch) is a new table identity
    // the clone's history STARTS AT the source's current version number
    // (not 0): carried file seqs and merge-on-read delete seqs are version
    // numbers, and a clone restarting at v0 would commit future deletes
    // with seqs BELOW the carried ones — they would silently stop applying
    // to the carried files. Continuing the numbering keeps every sequence
    // comparison meaningful with zero rewrites.
    val base = versionDir(tmp, cur)
    Files.createDirectories(Paths.get(base))
    // materialize (hard-link) the source snapshot's resolved files into a
    // SELF-CONTAINED base: the clone must survive the source's vacuum /
    // expire independently, so manifest references across tables are out.
    // Linked files keep their ORIGINAL write versions in the clone's
    // manifest so carried delete seqs stay meaningful.
    val files = materializeInto(srcDir, cur, base)
    val srcM = manifestOf(srcV)
    sealVersion(base, VersionManifest(srcM.buckets,
      System.currentTimeMillis(), srcM.partSpec, selfOwned(files, cur),
      files, linkDvCarry(srcV, base, Set.empty)))
    Files.createDirectories(Paths.get(changesRoot(tmp)))
    startPointer(tmp, cur)
    writeMeta(tmp, meta)
    try Files.move(Paths.get(tmp), Paths.get(dstDir),
      StandardCopyOption.ATOMIC_MOVE)
    catch {
      case e: java.nio.file.FileAlreadyExistsException =>
        deleteRecursively(Paths.get(tmp))
        throw new IllegalStateException(
          s"target appeared concurrently: $dstDir", e)
    }
  }

  // ------------------------------------------------ atomic CTAS / RTAS

  /** Publish a staged CTAS table under its final name — one atomic
    * rename, so a crash mid-CTAS leaves only a sweep-able `.stage-` dir
    * and readers can never observe a half-written table. */
  def adoptStaged(stageDir: String, finalDir: String): Unit = {
    invalidateDvCache(finalDir) // an adopted path is a NEW identity
    try Files.move(Paths.get(stageDir), Paths.get(finalDir),
      StandardCopyOption.ATOMIC_MOVE)
    catch {
      case e: java.nio.file.FileAlreadyExistsException =>
        deleteRecursively(Paths.get(stageDir))
        throw new IllegalStateException(
          s"table appeared concurrently at $finalDir", e)
      // Linux rename(2) onto an existing non-empty dir fails ENOTEMPTY,
      // which maps to a plain FileSystemException — same race, same answer
      case e: java.nio.file.FileSystemException
          if Files.exists(Paths.get(finalDir)) =>
        deleteRecursively(Paths.get(stageDir))
        throw new IllegalStateException(
          s"table appeared concurrently at $finalDir", e)
    }
  }

  def dropStaged(stageDir: String): Unit =
    deleteRecursively(Paths.get(stageDir))

  /** Atomic REPLACE TABLE AS SELECT: swap the table's contents AND schema
    * to the staged table's current version as ONE claimed, changelog-less
    * boundary commit. Readers never see a missing table (unlike
    * drop-then-recreate), concurrent writers serialize through the claim,
    * and the replaced versions stay retained: time travel across the
    * REPLACE reads old files under the new schema the same null-filling
    * way pre-ADD versions do (physical column identities differ by
    * design — a replace IS a new table in the old table's history).
    * The meta swap lands just before the pointer flip; the window where a
    * reader sees the new schema over the old version's data is the same
    * transient every ALTER has. */
  def replaceFromStaged(dir: String, stagedDir: String): Long = {
    recoverChangelog(dir)
    val stagedMeta = readMeta(stagedDir)
    val sv = currentVersion(stagedDir)
    val svDir = versionDir(stagedDir, sv)
    val cur = currentVersion(dir)
    publishNext(dir, cur, "REPLACE") { b =>
      Files.createDirectories(Paths.get(b.path))
      // materialize the staged table's resolved snapshot — the stage dir
      // is dropped right after the swap, so references into it would
      // dangle; the staged data is this statement's own output, so the
      // link pass is O(new files) by construction. The staged manifest
      // entries (footer stats) are reused, stamped with this version.
      val files = materializeInto(stagedDir, sv, b.path)
        .map { case (rel, f) => rel -> f.copy(seq = b.next) }
      val stagedM = manifestOf(svDir)
      sealVersion(b.path, manifestOf(versionDir(dir, cur))
        .next(selfOwned(files, b.next), files,
          linkDvCarry(svDir, b.path, Set.empty)) // staged DVs (none today)
        .copy(buckets = stagedM.buckets, partSpec = stagedM.partSpec,
          boundary = true)) // snapshot boundary for CDC consumers
      // crash-safe meta swap: stamp the OLD meta + target version into
      // _meta_backup first. If this commit dies between the meta write
      // and the pointer flip (in-process failure handled right here;
      // process death handled by recoverMetaBackup once the claim goes
      // stale), the old meta comes back — the new schema is never left
      // permanently applied to the old data.
      val backup = Paths.get(dir, MetaBackupName)
      val oldMeta = Files.readAllBytes(metaPath(dir))
      val tmpB = Paths.get(dir, MetaBackupName + ".tmp")
      Files.write(tmpB, s"${b.next}\n".getBytes("UTF-8") ++ oldMeta)
      Files.move(tmpB, backup, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
      try {
        withMetaLock(dir) { writeMeta(dir, stagedMeta) }
        b.flip()
      } catch {
        case e: Throwable =>
          val tmpR = Paths.get(dir, "_meta.json.rollback")
          Files.write(tmpR, oldMeta)
          Files.move(tmpR, metaPath(dir), StandardCopyOption.ATOMIC_MOVE,
            StandardCopyOption.REPLACE_EXISTING)
          Files.deleteIfExists(backup)
          throw e
      }
      Files.deleteIfExists(backup)
    }
  }

  /** The partition spec version `v`'s OWN dirs were written with (None on
    * an unpartitioned table). */
  def versionPartSpec(dir: String, v: Long): Option[(String, String)] =
    manifestOf(versionDir(dir, v)).partSpec

  /** Distinct partition specs among the owner versions of snapshot `v` —
    * size 1 means era-uniform (partition pruning is sound under that one
    * spec); size > 1 means mixed grains (pruning derives nothing; the
    * source-column predicates stay in the residue so reads remain exact,
    * and `CALL rebucket` re-grains everything under the current spec). */
  def snapshotPartSpecs(dir: String, v: Long,
      meta: GraftTableMeta): Seq[(String, String)] =
    if (meta.partition.isEmpty) Nil
    else ownersOf(dir, v).values.flatten.toSeq.distinct
      .flatMap(o => versionPartSpec(dir, o)).distinct

  /** `CALL set_partition_spec(table, 'hours')`: change the partition
    * GRAIN for FUTURE commits as one metadata-only commit — no data file
    * touched, no changelog slice, NOT a boundary (content is unchanged).
    * Old owner dirs keep the ordinals they were written with and the
    * per-version manifests keep every reader interpreting each dir under
    * its own era; scans over mixed-era snapshots stay exact (pruning
    * just derives nothing until `CALL rebucket` re-grains the data).
    * Time-grain transforms only (years/months/days/hours over the SAME
    * source column): their ordinals share the int domain, so one
    * partition-column schema serves every era. */
  def setPartitionSpec(dir: String, newFn: String): Long = {
    recoverChangelog(dir)
    val meta = readMeta(dir)
    val (curFn, physCol) = meta.partition.getOrElse(throw
      new IllegalArgumentException(
        s"table $dir has no PARTITIONED BY transform to evolve"))
    val timeGrains = Set("years", "months", "days", "hours")
    require(timeGrains.contains(newFn),
      s"set_partition_spec supports time grains ${timeGrains.toSeq.sorted
        .mkString("/")}, got '$newFn'")
    val cur = currentVersion(dir)
    val curSpec = versionPartSpec(dir, cur).get
    require(timeGrains.contains(curSpec._1),
      s"cannot evolve an identity-partitioned table's grain " +
        "(ordinal domains differ); use RTAS")
    if (curSpec == ((newFn, physCol))) return cur
    publishNext(dir, cur, "set_partition_spec") { b =>
      Files.createDirectories(Paths.get(b.path))
      // pure metadata commit: carry the whole snapshot by reference
      val curDir = versionDir(dir, cur)
      val curM = manifestOf(curDir)
      sealVersion(b.path, curM.next(curM.owners,
          deletes = linkDvCarry(curDir, b.path, Set.empty))
        .copy(partSpec = Some((newFn, physCol))))
      b.flip()
    }
  }

  /** The bucket count version `v` was written with — what writers must
    * bucket change batches by when they commit on top of `v` (not
    * `meta.buckets`, which can lag the layout across a crashed
    * [[rebucket]]'s meta-update/pointer-flip window). */
  def versionBuckets(dir: String, v: Long): Int =
    manifestOf(versionDir(dir, v)).buckets

  // --------------------------------------------------------- merge-on-read
  //
  // A table with merge_mode = 'mor' commits row-level deltas WITHOUT
  // rewriting the touched buckets: the after-images land as ordinary new
  // files (like an append) and the removed keys land as an EQUALITY-DELETE
  // slice under the hidden `_dv/dseq=<version>/gbucket=<k>/` layout. Reads
  // apply the delete set with a sequence rule — a delete at commit S drops
  // a key's rows only from files written BEFORE S (per-file sequence from
  // the version manifests), so a key deleted and later re-inserted keeps
  // exactly the re-inserted row. Cost shape at 100 TB: a spread MERGE
  // writes O(changed rows), never O(touched buckets); the price is a
  // bounded read-side probe that [[optimize]] (or the write-side cap —
  // [[morMaxLiveDeletes]] escalates an over-cap commit into the
  // copy-on-write rewrite) compacts away.

  /** Hidden per-version directory holding equality-delete slices. */
  val DvDirName = "_dv"
  /** Partition-dir column: the version a delete slice committed at. */
  val DvSeqCol = "dseq"

  def dvRoot(vdir: String): String = s"$vdir/$DvDirName"

  def hasLiveDv(vdir: String): Boolean = manifestOf(vdir).deletes.nonEmpty

  /** The bucket of a delete-slice file (`_dv/dseq=<s>/gbucket=<k>/…`). */
  private def dvBucket(rel: String): Int = slotBucket(slotOf(rel))

  /** Buckets with at least one live delete entry in this version. */
  def dvBuckets(vdir: String): Set[Int] =
    manifestOf(vdir).deletes.keySet.map(dvBucket)

  /** Total live delete rows in a version, as its manifest records them
    * (each slice's rows are counted once, when its commit writes it). */
  def dvLiveRows(vdir: String): Long = manifestOf(vdir).deletes.values.sum

  /** Key types merge-on-read can probe by value equality in the scan —
    * the atomic family (same set bucket hashing covers); nested types are
    * out. */
  def morKeyTypeOk(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
         FloatType | DoubleType | StringType | DateType | TimestampType |
         TimestampNTZType => true
    case _: DecimalType => true
    case _ => false
  }

  /** Write-side cap on the LIVE delete set (rows): a merge-on-read commit
    * that would push past it escalates to the copy-on-write rewrite and
    * clears every delete slice — so the read-side probe (driver load +
    * per-task set) stays bounded by construction, the same way an LSM
    * bounds its level-0 run count. */
  private[sources] def morMaxLiveDeletes: Long =
    sys.props.get("graft.store.morMaxLiveDeletes").map(_.toLong)
      .getOrElse(200000L)

  /** Small-change-batch bound for the commit legs' broadcast plans. A
    * keyed commit whose change batch is under BOTH bounds (exact row
    * count from the touched-set job, exact cached bytes from the
    * materialized batch's stats) runs its before-image join and its
    * copy-on-write anti-join as BROADCASTS of the batch side — the
    * touched-bucket base is scanned once and never shuffled (guide-§3
    * shape: point DML over big buckets moves changed keys, not the
    * buckets). Over either bound the legs keep their shuffle plans. The
    * bounds are per-session confs so a cluster can size them to its
    * executor memory; the defaults are deliberately conservative (a
    * broadcast relation also lives on the driver). Note for operators
    * sizing broadcastMaxBytes: the byte bound is checked against the
    * batch's COMPRESSED columnar cache size AND against
    * rows × the base schema's estimated row width (the before-image
    * broadcast's reachable size); the in-memory row-format relation can
    * still occupy a few times the configured bytes on the driver and
    * each executor — derate accordingly (e.g. set it to 1/4 of what the
    * JVMs can really spare). */
  private[sources] def commitBroadcastMaxRows(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.commit.broadcastMaxRows")
      .map(_.toLong).getOrElse(1L << 20)
  private[sources] def commitBroadcastMaxBytes(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.commit.broadcastMaxBytes")
      .map(org.apache.spark.network.util.JavaUtils.byteStringAsBytes)
      .getOrElse(32L << 20)

  /** Hard-link the previous version's still-applicable delete slices into
    * a build dir, skipping buckets this commit rewrites (their deletes are
    * APPLIED by the rewrite), and return the linked files with their row
    * counts for the new manifest. Dropping a slice for a rewritten bucket
    * is a must for hygiene but not for correctness — rewritten files carry
    * a file-seq >= every existing dseq, so stale entries can never match
    * them. */
  private def linkDvCarry(srcVdir: String, buildDir: String,
      rewritten: Set[Int]): Map[String, Long] =
    manifestOf(srcVdir).deletes.filter { case (rel, _) =>
      !rewritten.contains(dvBucket(rel))
    }.map { case (rel, n) =>
      val dst = Paths.get(buildDir, rel)
      Files.createDirectories(dst.getParent)
      Files.createLink(dst, Paths.get(srcVdir, rel))
      rel -> n
    }

  /** Build an all-insert commit's changelog slice by hard-linking the
    * data leg's parquet files (which carry the constant `change_op`/
    * `change_before` columns — see the linkChangelog note in
    * commitVersion) into the staging slice dir. Slot subpaths flatten
    * into the file name (slice dirs are flat; names stay unique because
    * part-file names are task-unique within the write job). An empty
    * batch yields an empty slice dir — same zero rows the old empty
    * parquet write produced. */
  private def linkChangelogSlice(buildDir: String, chDir: String): Unit = {
    Files.createDirectories(Paths.get(chDir))
    GraftStats.listDataFiles(buildDir).foreach(rel => Files.createLink(
      Paths.get(chDir, rel.replace('/', '_')), Paths.get(buildDir, rel)))
  }

  /** Driver-side structures of the scan's delete probe
    * ([[org.apache.spark.sql.GraftDeleteProbe]]): the per-file seq map
    * and, per bucket, each deleted key's newest delete seq — key values in
    * CATALYST form so executors compare them against `InternalRow.get`
    * directly. Cost: one job reading the (cap-bounded) delete slices,
    * whose rows are folded to the newest seq per key on the driver. None
    * when the version has no live deletes. */
  def loadDvProbe(spark: SparkSession, dir: String, v: Long,
      meta: GraftTableMeta)
      : Option[(Map[String, Long], Map[Int, Map[Seq[Any], Long]])] = {
    // the physical key names never change (renames are logical-only), so
    // the probe caches per version — scans against a DV-live version pay
    // the slice-read job ONCE, not once per query
    val vdir = versionDir(dir, v)
    dvProbeCache(vdir)(loadDvProbeUncached(spark, dir, v, meta))
  }

  private val dvProbeCache = versionCache[
    Option[(Map[String, Long], Map[Int, Map[Seq[Any], Long]])]](64)

  /** Drop every [[VersionCache]] entry under a table dir — version-dir
    * paths stop being unique identities the moment a table is
    * dropped/recreated/adopted at the same path. */
  private[sources] def invalidateDvCache(tableDir: String): Unit = {
    cacheEpoch.incrementAndGet()
    versionCaches.forEach(_.invalidate(tableDir))
    GraftStreamLimits.invalidate(tableDir)
  }

  /** Reads every live delete-slice file the version's manifest lists —
    * the only read of the `_dv` files. The slice schema (PHYSICAL key
    * columns + [[DvSeqCol]] long + [[BucketCol]] int) is passed to the
    * reader — merge-key types never change (ALTER refuses it) — so the
    * read plans without a schema-inference job. The slices hold at most
    * the live-delete cap of rows: one collect, then max-seq-per-key folds
    * here on the driver. */
  private def loadDvProbeUncached(spark: SparkSession, dir: String, v: Long,
      meta: GraftTableMeta)
      : Option[(Map[String, Long], Map[Int, Map[Seq[Any], Long]])] = {
    val vdir = versionDir(dir, v)
    val slices = manifestOf(vdir).deletes.keys.toSeq.sorted
    if (slices.isEmpty) return None
    val keyFields = meta.keyCols.map(k => meta.schema(k))
    val physKeys = keyFields.map(physicalName)
    val sliceSchema = StructType(keyFields.map(f =>
        StructField(physicalName(f), f.dataType, nullable = true)) :+
      StructField(DvSeqCol, LongType, nullable = true) :+
      StructField(BucketCol, IntegerType, nullable = true))
    val rows = spark.read.schema(sliceSchema)
      .option("basePath", dvRoot(vdir))
      .parquet(slices.map(rel => s"$vdir/$rel"): _*)
      .select((BucketCol +: DvSeqCol +: physKeys).map(col): _*)
      .collect()
    val convs = keyFields.map(f => org.apache.spark.sql.catalyst
      .CatalystTypeConverters.createToCatalystConverter(f.dataType))
    val n = physKeys.length
    val m = rows.toSeq.groupBy(_.getInt(0)).map { case (b, rs) =>
      b -> rs.groupMapReduce { r =>
        Seq.tabulate(n)(i => org.apache.spark.sql.GraftMorScanSupport
          .normalizeKey(convs(i)(r.get(i + 2)))): Seq[Any]
      }(_.getLong(1))(math.max)
    }
    Some((resolvedFileSeq(dir, v), m))
  }

  /** Every data file of a build dir — a writer reading its own output —
    * stamped with the committing version, with its size and footer zone
    * maps. A size that cannot be read fails the seal, and with it the
    * commit: a recorded size is what scans plan splits from. */
  private def ownFiles(buildDir: String,
      version: Long): Map[String, ManifestFile] =
    GraftStats.footerManifest(buildDir).map { case (rel, st) =>
      rel -> ManifestFile(version, Files.size(Paths.get(buildDir, rel)), st)
    }

  /** Create an empty table: meta, identity stamp, empty v0, empty
    * changelog, pointer. */
  def create(dir: String, meta: GraftTableMeta): Unit = {
    invalidateDvCache(dir) // a recreated path is a NEW identity
    writeMeta(dir, meta)
    stampIncarnation(dir)
    val v0 = versionDir(dir, 0L)
    Files.createDirectories(Paths.get(v0))
    sealVersion(v0, VersionManifest(meta.buckets, System.currentTimeMillis(),
      meta.partition, Map.empty, Map.empty, Map.empty))
    Files.createDirectories(Paths.get(changesRoot(dir)))
    startPointer(dir, 0L)
  }

  private[sources] val IncarnationName = "_incarnation"

  /** A fresh identity stamp for a table directory, written where the
    * directory is created (CREATE, and a clone's or branch's build dir)
    * and never afterwards: version numbers restart at 0 on a recreate,
    * so version-based watermarks alone cannot distinguish a table from a
    * dropped predecessor at the same path/name — consumers that cache
    * cross-refresh state (materialized views) compare this instead of
    * trusting version arithmetic across a drop+recreate, and a recreated
    * table can CATCH UP to a stale watermark. */
  private def stampIncarnation(dir: String): Unit =
    Files.write(Paths.get(dir, IncarnationName),
      java.util.UUID.randomUUID().toString.getBytes("UTF-8"))

  /** The table's incarnation identity, read-only: None when the directory
    * or its stamp is missing. No reader or resolver ever writes one — they
    * must never write into a tree they do not own. */
  def storedIncarnation(dir: String): Option[String] =
    readText(Paths.get(dir, IncarnationName))

  def changesRoot(dir: String): String = s"$dir/_changes"
  private def changesDir(dir: String, v: Long): String =
    s"${changesRoot(dir)}/$ChangeVersionCol=$v"
  /** A commit's changelog slice before its move: writer-private, named by
    * the build token, so only the move's winner's slice is published. */
  private[graft] def changesStaging(dir: String, v: Long,
      token: String): String = s"${changesRoot(dir)}/.staging-$v-$token"

  /** Changelog publication recovery (WAL discipline). The changelog for a
    * commit is written to a DOT-PREFIXED staging dir (invisible to every
    * changelog read, which plans published slices only) and renamed to
    * its `change_version=N` name only AFTER the pointer moves — so a
    * visible change directory always belongs to a committed version and
    * no reader (SQL `$changes` table, CDC stream, readChanges) can ever
    * observe uncommitted change rows. The two crash windows repair here:
    * staging for a version the pointer never reached is dropped; the
    * winning move's staging for a committed version (crash between move
    * and rename) is moved into place, and a losing writer's is dropped.
    * Called at the start of every commit and read path. */
  def recoverChangelog(dir: String): Unit = {
    // piggyback the S44 group-commit recovery on the same every-commit/
    // every-read hook (reentrancy-guarded: completing a group member
    // itself recovers this changelog)
    if (!inGroupRecovery.get()) {
      inGroupRecovery.set(true)
      try recoverGroupCommit(dir)
      finally inGroupRecovery.set(false)
    }
    val root = Paths.get(changesRoot(dir))
    if (!Files.isDirectory(root)) return
    val cur = currentVersion(dir)
    val staged = listDir(root)(_.filter(
      _.getFileName.toString.startsWith(".staging-")).toList)
    hook("recoverChangelog")
    staged.foreach { p =>
      val name = p.getFileName.toString.stripPrefix(".staging-")
      val v = name.takeWhile(_ != '-').toLong
      if (v <= cur) {
        val dst = Paths.get(changesDir(dir, v))
        if (Files.exists(dst) ||
            !moveToken(dir, v).contains(name.drop(s"$v-".length)))
          deleteRecursively(p)
        else try Files.move(p, dst, StandardCopyOption.ATOMIC_MOVE)
        catch {
          // another reader (or the committing writer) published this
          // staging dir between our listing and the move — done either way
          case _: java.nio.file.NoSuchFileException => ()
          case _: java.nio.file.FileAlreadyExistsException => ()
        }
      } else if (!Files.exists(Paths.get(dir, f"_commit-$v%010d"))) {
        // staging above the pointer with NO commit claim = a crashed
        // writer's remnant. With a claim present the writer is IN FLIGHT
        // (it writes its changelog staging while holding the claim) and a
        // concurrent reader's recovery must not destroy it mid-commit —
        // if that writer is actually dead, its claim goes stale, the next
        // claimant's commitVersion clears the staging, or vacuum does.
        deleteRecursively(p)
      }
    }
  }

  /** New empty version (TRUNCATE); returns it. INSERT OVERWRITE does NOT
    * go through here — it is a single atomic [[applyChanges]] commit with
    * `overwrite = true`. */
  def truncate(dir: String): Long = {
    recoverChangelog(dir)
    val cur = currentVersion(dir)
    publishNext(dir, cur, "TRUNCATE") { b =>
      Files.createDirectories(Paths.get(b.path))
      // truncation = snapshot boundary for CDC
      sealVersion(b.path, manifestOf(versionDir(dir, cur)).next(Map.empty)
        .copy(boundary = true))
      b.flip()
    }
  }

  def dropTable(dir: String): Unit = {
    invalidateDvCache(dir)
    deleteRecursively(Paths.get(dir))
  }

  // --------------------------------------------------------------------
  // Named refs (tags): a tag is a named pin on one committed version —
  // `VERSION AS OF '<name>'` resolves it, and expireVersions keeps the
  // pinned version readable regardless of keep_last. One file per tag
  // under `_refs/` whose content is the version number; create-exclusive,
  // so two writers can never both own a name. Tags are NOT copied by
  // CALL clone (the clone's history is its own) and die with the table.
  // --------------------------------------------------------------------

  private def refsRoot(dir: String): Path = Paths.get(dir, "_refs")

  /** Tag-name grammar: must start with a letter so a name can never be
    * confused with a numeric `VERSION AS OF` literal. */
  private[sources] val RefNamePattern = "[A-Za-z][A-Za-z0-9_.-]{0,254}"

  /** All tags of a table: name → pinned version. Unreadable entries (a
    * concurrent create_tag mid-write) are skipped — callers re-list. */
  def listTags(dir: String): Map[String, Long] = {
    val root = refsRoot(dir)
    if (!Files.isDirectory(root)) Map.empty
    else listDir(root)(_.flatMap { p =>
      val n = p.getFileName.toString
      if (!n.matches(RefNamePattern)) None
      else try Some(n -> new String(Files.readAllBytes(p), "UTF-8").trim.toLong)
      catch { case _: Exception => None }
    }.toMap)
  }

  def resolveRef(dir: String, name: String): Option[Long] =
    listTags(dir).get(name)

  /** Pin `version` under `name`. Write-then-verify: the ref file is
    * created FIRST (create-exclusive — a concurrent create_tag of the
    * same name loses loudly), then the version is re-checked against the
    * readable listing. If an expireVersions raced us and retired the
    * version (its `_expired` marker is the expiry commit point), the ref
    * is removed and the create fails — combined with expire's post-marker
    * ref re-check (see [[expireVersions]]), a tag can never end up
    * pointing at a version that is gone. */
  def createTag(dir: String, name: String, version: Long): Unit = {
    require(name.matches(RefNamePattern),
      s"invalid tag name '$name': must match $RefNamePattern " +
        "(starts with a letter; letters, digits, '_', '.', '-')")
    require(!branchExists(dir, name),
      s"a branch named '$name' exists on $dir — tags and branches share " +
        "the VERSION AS OF namespace (drop_branch first)")
    require(listVersions(dir).contains(version),
      s"table $dir has no retained version $version to tag " +
        s"(have ${listVersions(dir)})")
    Files.createDirectories(refsRoot(dir))
    val p = refsRoot(dir).resolve(name)
    if (!createText(p, version.toString))
      throw new IllegalArgumentException(
        s"tag '$name' already exists on $dir (pinned to version " +
          s"${resolveRef(dir, name).getOrElse("?")}) — CALL drop_tag first")
    if (!listVersions(dir).contains(version)) {
      Files.deleteIfExists(p)
      throw new IllegalStateException(
        s"version $version of $dir was expired while tagging — the tag " +
          "was not created")
    }
    // ... and every owner slot the pinned snapshot references must still
    // exist: a concurrent expire that had already swept an older owner
    // dir (before this ref was visible to it) must fail THIS create, not
    // leave a tag pointing at a partially-reclaimed snapshot
    val missing = ownersOf(dir, version).exists { case (s, os) =>
      os.exists(o =>
        !Files.isDirectory(Paths.get(s"${versionDir(dir, o)}/$s")))
    }
    if (missing) {
      Files.deleteIfExists(p)
      throw new IllegalStateException(
        s"version $version of $dir lost owner slots to a concurrent " +
          "expire_versions while tagging — the tag was not created")
    }
  }

  def dropTag(dir: String, name: String): Unit = {
    val p = refsRoot(dir).resolve(name)
    require(name.matches(RefNamePattern) && Files.exists(p),
      s"table $dir has no tag '$name' (have " +
        s"${listTags(dir).keys.toSeq.sorted.mkString("[", ", ", "]")})")
    Files.delete(p)
  }

  // --------------------------------------------------------------------
  // Writable branches (S40). A branch is a SELF-CONTAINED shallow clone
  // under `<table>/_branches/<name>` stamped with its fork version: the
  // clone machinery already gives it hard-linked zero-copy creation, its
  // own linear history continuing the source's numbering (file/delete
  // seqs stay meaningful), and full independence from the source's
  // expire/vacuum — so EVERY table operation (DML, MERGE, optimize,
  // time travel, CDC) works on a branch with zero new write-path code.
  // `fastForward` publishes the branch into main when main hasn't moved
  // off the fork point: each branch-era version dir is hard-link-adopted
  // into main with its slot-owner references at the fork REWRITTEN from
  // the branch's materialized base to main's real owner map (the clone's
  // base is physical, main's is manifest-referenced — same files, same
  // inodes, different owner indirection), changelog slices ride the
  // standard staging discipline under per-version commit claims, and the
  // pointer flip to the branch head is the single atomic publish. Main
  // keeps the branch's COMMIT-BY-COMMIT history — time travel, CDC and
  // incremental MV refresh all see the branch's individual commits, not
  // one squashed adoption. The branch is consumed on publish.
  // --------------------------------------------------------------------

  private[sources] def branchesRoot(dir: String): Path =
    Paths.get(dir, "_branches")
  private[sources] val ForkBaseName = "_forkbase"

  def branchDir(dir: String, name: String): String = {
    require(name.matches(RefNamePattern),
      s"invalid branch name '$name': must match $RefNamePattern")
    s"$dir/_branches/$name"
  }

  /** Branches with a completed create (fork stamp present) — a crashed
    * half-create is invisible here and swept by its temp naming. */
  def listBranches(dir: String): Seq[String] = {
    val root = branchesRoot(dir)
    if (!Files.isDirectory(root)) Nil
    else listDir(root)(_.map(_.getFileName.toString)
      .filter(n => n.matches(RefNamePattern) &&
        Files.exists(root.resolve(n).resolve(ForkBaseName))).toSeq.sorted)
  }

  def branchExists(dir: String, name: String): Boolean =
    name.matches(RefNamePattern) &&
      Files.exists(branchesRoot(dir).resolve(name).resolve(ForkBaseName))

  def branchForkBase(dir: String, name: String): Long =
    new String(Files.readAllBytes(
      branchesRoot(dir).resolve(name).resolve(ForkBaseName)), "UTF-8")
      .trim.toLong

  /** Create branch `name` at the table's current version: one clone into
    * a temp sibling + fork stamp + atomic rename — readers never observe
    * a half-built branch, racing creates of the same name lose loudly.
    * Tags and branches share the `VERSION AS OF '<name>'` namespace, so
    * cross-creation is rejected both ways. */
  def createBranch(dir: String, name: String): Unit = {
    require(name.matches(RefNamePattern),
      s"invalid branch name '$name': must match $RefNamePattern " +
        "(starts with a letter; letters, digits, '_', '.', '-')")
    require(resolveRef(dir, name).isEmpty,
      s"a tag named '$name' exists on $dir — tags and branches share " +
        "the VERSION AS OF namespace (drop_tag first)")
    require(!branchExists(dir, name),
      s"branch '$name' already exists on $dir")
    val bd = Paths.get(branchDir(dir, name))
    require(!Files.exists(bd),
      s"a half-created branch dir blocks '$name' on $dir — remove " +
        s"$bd and retry")
    Files.createDirectories(branchesRoot(dir))
    val tmp = s"${branchesRoot(dir)}/.creating-$name-" +
      java.util.UUID.randomUUID()
    cloneTable(dir, tmp)
    Files.write(Paths.get(tmp, ForkBaseName),
      currentVersion(tmp).toString.getBytes("UTF-8"))
    try Files.move(Paths.get(tmp), bd, StandardCopyOption.ATOMIC_MOVE)
    catch {
      case e: java.nio.file.FileAlreadyExistsException =>
        deleteRecursively(Paths.get(tmp))
        throw new IllegalArgumentException(
          s"branch '$name' was created concurrently on $dir", e)
    }
    // write-then-verify against a concurrent create_tag of the same name
    if (resolveRef(dir, name).isDefined) {
      deleteRecursively(bd)
      throw new IllegalArgumentException(
        s"a tag named '$name' was created concurrently on $dir — the " +
          "branch was not created")
    }
  }

  def dropBranch(dir: String, name: String): Unit = {
    require(branchExists(dir, name),
      s"table $dir has no branch '$name' (have " +
        s"${listBranches(dir).mkString("[", ", ", "]")})")
    invalidateDvCache(branchDir(dir, name))
    deleteRecursively(Paths.get(branchDir(dir, name)))
  }

  /** Hard-link-copy a directory tree (dirs recreated, files linked). */
  private def linkTree(src: Path, dst: Path): Unit = {
    Files.createDirectories(dst)
    val walk = Files.walk(src)
    try walk.iterator().asScala.foreach { p =>
      val rel = src.relativize(p)
      if (rel.toString.nonEmpty) {
        val t = dst.resolve(rel)
        if (Files.isDirectory(p)) Files.createDirectories(t)
        else if (Files.isRegularFile(p)) Files.createLink(t, p)
      }
    } finally walk.close()
  }

  /** Re-point a fast-forwarded version dir's slot-owner references from
    * the branch's materialized fork base to MAIN's owner map at the fork:
    * the branch base physically holds every fork-snapshot file (clones
    * are self-contained), main's fork version references most of them
    * through older owners — same files, different indirection. Owners
    * above the fork are branch-era commits adopted alongside and keep
    * their numbers. */
  private def rewriteOwnerRefs(m: VersionManifest, fork: Long,
      mainOwners: Map[String, Seq[Long]]): VersionManifest =
    m.copy(owners = m.owners.map { case (slot, os) =>
      slot -> os.flatMap { o =>
        if (o > fork) Seq(o)
        else mainOwners.getOrElse(slot, Seq(o))
      }.distinct.sorted
    })

  /** A branch frozen by [[freezeBranch]]: its `head + 1` claim is held,
    * so no branch commit lands until the caller releases `claim`. */
  private final case class FrozenBranch(dir: String, name: String,
      bd: String, fork: Long, head: Long, incarnation: String,
      claim: (Path, String))

  /** The one meta comparison every branch publish and rebase makes. NOT
    * a ConcurrentModificationException: retrying never heals a
    * branch-side ALTER, so conflict-retry loops must not spin on it. */
  private def requireSameMeta(f: FrozenBranch, op: String): Unit =
    if (readMeta(f.dir) != readMeta(f.bd))
      throw new IllegalStateException(
        s"branch '${f.name}' of ${f.dir} diverged in SCHEMA/layout from " +
          "main (an ALTER landed on the branch or on main since the fork); " +
          s"$op aborted — re-branch and replay, or use RTAS")

  /** Freeze branch `name` for `op` (fast_forward, publish_group, rebase):
    * recover both changelogs, read fork and head, claim the BRANCH's
    * `head + 1`, then re-check the head under the claim (a commit may have
    * landed between the read and the claim) and compare the metas. The
    * publish CONSUMES the branch and the rebase REPLACES it, so a branch
    * commit racing either would be silently dropped — with the claim held
    * branch writers conflict loudly instead, and a writer already holding
    * it makes THIS call the loud loser. The claim is released here when a
    * check fails and by the caller otherwise. */
  private def freezeBranch(dir: String, name: String, op: String)
      : FrozenBranch = {
    require(branchExists(dir, name),
      s"table $dir has no branch '$name' (have " +
        s"${listBranches(dir).mkString("[", ", ", "]")})")
    recoverChangelog(dir)
    val bd = branchDir(dir, name)
    recoverChangelog(bd)
    val fork = branchForkBase(dir, name)
    val head = currentVersion(bd)
    val claim = claimCommit(bd, head + 1)
    try {
      if (currentVersion(bd) != head)
        throw new java.util.ConcurrentModificationException(
          s"branch '$name' of $dir advanced past v$head while $op was " +
            "starting; re-run against the new head")
      val f = FrozenBranch(dir, name, bd, fork, head,
        storedIncarnation(bd).getOrElse(throw new IllegalStateException(
          s"branch '$name' of $dir has no $IncarnationName stamp")), claim)
      requireSameMeta(f, op)
      f
    } catch {
      case e: Throwable => releaseClaim(claim._1, claim._2); throw e
    }
  }

  /** Adopt frozen branch `f`'s versions above its fork into main, all
    * invisible until [[completePublish]] moves the pointer: claim EVERY
    * adopted version on main (appended to `held`, which already holds the
    * branch claim and which the caller releases — also after a
    * mid-acquisition loss), then, under the heartbeat of `held`, re-check
    * that main is still at the fork and that the metas still agree (an
    * ALTER is meta-only, so the fork check cannot see it), and link through
    * [[adoptBranchVersions]]. The fork+1 claim serializes against main's
    * writers; the higher claims keep a concurrent reader's
    * recoverChangelog from sweeping the staged slices (it preserves
    * stagings whose version holds a live claim). */
  private def adoptBranch(f: FrozenBranch, op: String,
      held: scala.collection.mutable.ArrayBuffer[(Path, String)]): Unit = {
    val branchVs = listDir(Paths.get(f.bd))(_.map(_.getFileName.toString)
      .filter(_.matches("v\\d{10}")).map(_.drop(1).toLong).toSeq)
      .filter(_ > f.fork).sorted
    require(f.head == f.fork || branchVs.nonEmpty,
      s"branch '${f.name}' advanced its pointer to v${f.head} but retains " +
        s"no version dirs above the fork v${f.fork}")
    branchVs.foreach(v => held += claimCommit(f.dir, v))
    withClaimHeartbeat(held.map(_._1).toSeq) {
      if (currentVersion(f.dir) != f.fork)
        throw new java.util.ConcurrentModificationException(
          s"table ${f.dir} advanced past the fork point v${f.fork} of " +
            s"branch '${f.name}' (now v${currentVersion(f.dir)}); $op " +
            "aborted — rebase the branch onto the new head and re-run")
      requireSameMeta(f, op)
      adoptBranchVersions(f.dir, f.bd, f.fork, branchVs, f.claim._2)
    }
  }

  /** Complete a publish of branch `branch` on `dir`: move the pointer
    * from `fork` to `head` with the adoption's `token` — for a group
    * member, the move `group`'s reservation records — publish the
    * changelog slices it now covers, and consume the branch — ONLY the
    * incarnation `inc` that was published: a resolver acting on a stale
    * marker read can find the same NAME already re-created for the next
    * publish, and that branch is not ours to drop. The stamp is read,
    * never written: a missing directory or stamp (a racing resolver
    * mid-drop, or a tree we cannot identify) means "not ours". False,
    * with nothing consumed, when another move left `fork` first.
    * Idempotent and safe to race: GroupScheduleSpec runs it from the
    * coordinator and two resolvers in 600 seeded interleavings. */
  private def completePublish(dir: String, branch: String, fork: Long,
      head: Long, inc: String, token: String,
      group: Option[Path] = None): Boolean = {
    if (head > fork) {
      if (!movePointer(dir, fork, head, token, group)) return false
      invalidateDvCache(dir)
    }
    recoverChangelog(dir) // the pointer now covers the staged slices
    if (storedIncarnation(branchDir(dir, branch)).contains(inc) &&
        branchExists(dir, branch))
      try dropBranch(dir, branch)
      catch { // raced: another resolver consumed it first
        case _: IllegalArgumentException => ()
        case _: java.nio.file.NoSuchFileException => ()
      }
    true
  }

  /** Publish branch `name` into main — a TRUE fast-forward: requires main
    * still at the fork point (loud conflict otherwise), adopts every
    * branch-era version dir (including `_expired` file hosts) and
    * changelog slice commit-by-commit, moves the pointer to the branch
    * head as the single atomic publish, and consumes the branch. All
    * metadata + hard links: O(branch's own files), never a data copy or
    * a byte of main rewritten. Crash-safe: the branch stays intact until
    * the pointer moves (adopted build dirs are invisible and a retry
    * relinks them under its own token), changelog slices stage under
    * per-version commit claims and publish only once the pointer covers
    * them. Schema-diverged branches (ALTER on the branch) are rejected —
    * re-create the table via RTAS instead. A commit-less branch is
    * consumed as a no-op. */
  def fastForward(dir: String, name: String): Long = {
    val f = freezeBranch(dir, name, "fast_forward")
    val claims = scala.collection.mutable.ArrayBuffer(f.claim)
    try {
      if (f.head > f.fork) adoptBranch(f, "fast_forward", claims)
      if (!completePublish(dir, name, f.fork, f.head, f.incarnation,
          f.claim._2))
        throw new java.util.ConcurrentModificationException(
          s"table $dir advanced past the fork point v${f.fork} of branch " +
            s"'$name'; fast_forward aborted — rebase the branch onto the " +
            "new head and re-run")
      if (f.head > f.fork) f.head else currentVersion(dir)
      // dropBranch removed the branch claim's marker with the dir, which
      // releaseClaim tolerates
    } finally claims.foreach { case (m, t) => releaseClaim(m, t) }
  }

  /** Adopt a branch's version dirs, changelog slices, and boundary
    * markers above `fork` into main — hard links only, the versions as
    * build dirs and the slices as stagings named by `token` (published
    * by the move [[completePublish]] makes with it), the boundary markers
    * above main's pointer. Caller holds the claims for every adopted
    * version and has checked that main is still at `fork`. */
  private def adoptBranchVersions(dir: String, bd: String, fork: Long,
      branchVs: Seq[Long], token: String): Unit = {
    val mainOwners = ownersOf(dir, fork)
    branchVs.foreach { v =>
      val build = Paths.get(s"${versionDir(dir, v)}.build-$token")
      linkTree(Paths.get(versionDir(bd, v)), build)
      // re-sealed, never written through the linked branch manifest
      sealVersion(build.toString,
        rewriteOwnerRefs(manifestOf(versionDir(bd, v)), fork, mainOwners))
      val srcSlice = Paths.get(changesDir(bd, v))
      val stage = Paths.get(changesStaging(dir, v, token))
      if (Files.isDirectory(srcSlice)) {
        Files.createDirectories(Paths.get(changesRoot(dir)))
        linkTree(srcSlice, stage)
      }
      // expiry-promoted boundary markers on the branch follow along
      val m = Paths.get(changesRoot(dir), f"_boundary-$v%010d")
      if (Files.exists(Paths.get(changesRoot(bd), f"_boundary-$v%010d"))) {
        Files.createDirectories(Paths.get(changesRoot(dir)))
        if (!Files.exists(m)) Files.write(m, Array.empty[Byte])
      } else Files.deleteIfExists(m)
    }
  }

  /** Rebase branch `name` onto MAIN's current head — the recourse when
    * `fast_forward` conflicts because main moved off the fork point: the
    * branch re-forks from main's head and its changelog slices REPLAY
    * commit-by-commit through the standard delta path, with KEY-LEVEL
    * conflict detection first — any merge key changed on BOTH sides
    * since the fork is a loud conflict with the branch left intact
    * (disjoint-key divergence is the automatable case; overlapping keys
    * need a human). Cost ∝ both sides' changes plus a zero-copy clone of
    * main (hard links, O(file count)) — never a data rewrite of either
    * history.
    *
    * Race discipline: main is CLONED FIRST and the rebase builds
    * entirely inside the private clone — a main commit racing the rebase
    * lands either before the clone (its keys are checked) or after it
    * (the rebased branch simply forks one version earlier, which is
    * exactly the conflict the next fast_forward reports). The swap keeps
    * the ORIGINAL branch on disk until the rebased one occupies the
    * name; a crash mid-swap leaves a `.prerebase-` sibling vacuum can
    * reclaim (or an operator can rename back). Replay preserves the
    * branch's per-commit history — the rebased branch fast-forwards
    * commit-by-commit like any other. */
  def rebaseBranch(spark: SparkSession, dir: String, name: String): Long = {
    // the frozen branch's claim is held for the whole (long) rebase and
    // heartbeated below; its marker travels into the .prerebase- dir with
    // the swap, which releaseClaim tolerates
    val f = freezeBranch(dir, name, "rebase")
    val (bd, fork, bHead) = (f.bd, f.fork, f.head)
    val (bMarker, bToken) = f.claim
    try {
    withClaimHeartbeat(Seq(bMarker)) {
    if (bHead > fork) {
      require(changesHorizon(bd) <= fork + 1,
        s"branch '$name' of $dir expired changelog slices since its fork " +
          s"v$fork — not replayable; re-branch from main and re-apply")
      require(boundariesIn(bd, fork + 1, bHead).isEmpty,
        s"branch '$name' of $dir carries a snapshot boundary " +
          "(TRUNCATE/INSERT OVERWRITE/RESTORE) since its fork — not " +
          "replayable; re-branch from main and re-apply")
    }
    Files.createDirectories(branchesRoot(dir))
    val tmp = s"${branchesRoot(dir)}/.creating-rebase-$name-" +
      java.util.UUID.randomUUID()
    cloneTable(dir, tmp)
    try {
      val mHead = currentVersion(tmp)
      require(mHead > fork,
        s"main of $dir is still at branch '$name''s fork point v$fork — " +
          "nothing to rebase onto; use fast_forward")
      val meta = readMeta(tmp)
      if (bHead > fork) {
        if (meta.keyCols.nonEmpty) {
          // overlap detection needs MAIN's changelog over the divergence
          // window; slices for committed versions are immutable, so
          // reading them after the clone is exact (the clone's own
          // changelog starts empty — clones have fresh history).
          // Keyless (append-only) tables skip this: appends commute, so
          // two-sided divergence never conflicts.
          require(changesHorizon(dir) <= fork + 1 &&
              boundariesIn(dir, fork + 1, mHead).isEmpty,
            s"main of $dir expired changelog slices or carries a snapshot " +
              s"boundary since branch '$name''s fork v$fork — key-overlap " +
              "detection impossible; re-branch from main and re-apply")
          val keyCols = meta.keyCols
          val bKeys = readChanges(spark, bd, fork + 1, bHead)
            .select(keyCols.map(col): _*).distinct()
          val mKeys = readChanges(spark, dir, fork + 1, mHead)
            .select(keyCols.map(col): _*).distinct()
          val clash = bKeys.join(mKeys, keyCols).limit(5).collect()
          if (clash.nonEmpty)
            throw new IllegalStateException(
              s"rebase conflict on $dir branch '$name': merge keys changed " +
                s"on BOTH main and the branch since fork v$fork (e.g. " +
                clash.map(_.toSeq.mkString("(", ",", ")")).mkString(", ") +
                "); overlapping-key divergence needs a human — re-branch " +
                "and reconcile, or drop one side's change")
        }
        retainedSlices(bd, fork + 1, bHead).foreach { v =>
          val slice = readChanges(spark, bd, v, v)
          val batch = slice.select((col(ChangeOpCol).as(OpCol) +:
            meta.schema.fieldNames.toSeq.map(col)): _*)
          // keyless slices are insert-only by construction (the append
          // guard), so their replay rides the append fast path
          applyChanges(spark, tmp, batch,
            allInserts = meta.keyCols.isEmpty)
        }
      }
      Files.write(Paths.get(tmp, ForkBaseName),
        mHead.toString.getBytes("UTF-8"))
      val newHead = currentVersion(tmp)
      // swap: the ORIGINAL branch stays on disk until the rebased one
      // occupies the name (never a window with neither recoverable)
      val pre = s"${branchesRoot(dir)}/.prerebase-$name-" +
        java.util.UUID.randomUUID()
      invalidateDvCache(bd)
      Files.move(Paths.get(bd), Paths.get(pre),
        StandardCopyOption.ATOMIC_MOVE)
      try Files.move(Paths.get(tmp), Paths.get(bd),
        StandardCopyOption.ATOMIC_MOVE)
      catch {
        case e: Throwable =>
          // put the original back before surfacing (FileAlreadyExists =
          // a concurrent create took the name — they win; if the restore
          // itself fails the .prerebase- sibling holds the content)
          try Files.move(Paths.get(pre), Paths.get(bd),
            StandardCopyOption.ATOMIC_MOVE)
          catch { case _: Throwable => () }
          throw e
      }
      invalidateDvCache(bd)
      deleteRecursively(Paths.get(pre))
      newHead
    } catch {
      case e: Throwable =>
        if (Files.exists(Paths.get(tmp))) deleteRecursively(Paths.get(tmp))
        throw e
    }
    }
    } finally releaseClaim(bMarker, bToken)
  }

  // --------------------------------------------------------------------
  // Cross-table atomic publish (S44): a table-group commit. Each member
  // table carries a branch with the staged work; `publishGroup` fast-
  // forwards EVERY branch or NONE — two-phase with a single decision
  // point and roll-FORWARD recovery:
  //
  //   PREPARE (per member, through the freezeBranch and adoptBranch steps
  //     fast_forward takes): freeze the branch, verify the fork point and
  //     schema, adopt the branch's versions and changelog slices into
  //     main as build dirs and stagings, then drop a `_groupcommit`
  //     marker in the table dir pointing at the group manifest and
  //     RESERVE the member's move off its fork: a pointer-move record
  //     naming the group's decision file ([[movePointer]]). Main stays
  //     readable at the fork, and no other move off the fork can win.
  //   DECIDE: one CREATE_NEW of `<group>.decision` = "committed" — the
  //     single atomic action that makes the whole group's outcome: every
  //     member's reservation takes effect at this instant. A concurrent
  //     recovery that aborted a stalled group wins the same CREATE_NEW
  //     with "aborted"; exactly one of the two ever exists, and the next
  //     move off an aborted member's fork skips its reservation.
  //   COMPLETE (per member): completePublish, as fast_forward — publish
  //     the build dirs and staged slices, consume the branch — then
  //     remove the marker.
  //
  // Crash windows: before DECIDE → no pointer moved, every reader saw
  // (and keeps seeing) the pre-publish contents of every member; the
  // stalled group's marker goes stale and any later access aborts it
  // loudly via the decision file. After DECIDE → every member reads at
  // its branch head (a reader publishes the build dirs itself), and
  // `recoverGroupCommit` (piggybacked on the scan path's version
  // resolution and every commit's recoverChangelog) completes the
  // remaining members from the manifest. Two reads of two members at
  // different instants can still straddle the decision; snapshotGroup's
  // double collect gives one consistent cut.
  // --------------------------------------------------------------------

  private[sources] val GroupMarkerName = "_groupcommit"

  private val inGroupRecovery = new ThreadLocal[Boolean] {
    override def initialValue(): Boolean = false
  }

  private def groupDecisionPath(manifest: Path): Path =
    manifest.resolveSibling(
      manifest.getFileName.toString.stripSuffix(".json") + ".decision")

  /** One member's manifest line: dir TAB branch TAB fork TAB head TAB
    * branch-dir incarnation TAB adoption token. The incarnation pins
    * WHICH branch the group published: a resolver completing a member
    * (possibly from a STALE marker read) must consume only that
    * incarnation — the same name may already be a freshly re-created
    * branch for the next publish, and dropping it would destroy an
    * unrelated in-flight branch. The token names the member's adopted
    * build dirs and stagings and its reservation. */
  private def writeGroupManifest(manifest: Path,
      members: Seq[(String, String, Long, Long, String, String)]): Unit = {
    Files.createDirectories(manifest.getParent)
    val enc = (f: String) => java.net.URLEncoder.encode(f, "UTF-8")
    val body = members.map { case (d, b, f, h, inc, tok) =>
      s"${enc(d)}\t${enc(b)}\t$f\t$h\t${enc(inc)}\t$tok"
    }.mkString("", "\n", "\n")
    Files.write(manifest, body.getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE_NEW)
  }

  /** Exactly six fields per line: any other count is a manifest this
    * build did not write, and it fails loudly rather than being read by
    * position. */
  private def readGroupManifest(manifest: Path)
      : Seq[(String, String, Long, Long, String, String)] =
    new String(Files.readAllBytes(manifest), "UTF-8").split("\n").toSeq
      .filter(_.nonEmpty).map { line =>
        val dec = (f: String) => java.net.URLDecoder.decode(f, "UTF-8")
        line.split("\t", -1) match {
          case Array(d, b, f, h, inc, tok) => (dec(d), dec(b), f.toLong,
            h.toLong, dec(inc), tok)
          case parts => throw new IllegalStateException(
            s"group manifest $manifest has a line with ${parts.length} " +
              "fields, expected 6")
        }
      }

  /** Publish branch `name` on EVERY listed table atomically — all flip
    * or none. `groupsRoot` hosts the group manifest + decision files
    * (one dir per catalog warehouse). Returns the published head per
    * table, in input order. */
  def publishGroup(groupsRoot: Path, members: Seq[(String, String)])
      : Seq[Long] = {
    require(members.nonEmpty, "publish_group needs at least one table")
    require(members.map(_._1).distinct.size == members.size,
      "publish_group lists a table twice")
    // resolve any prior group's leftovers first — a stalled PREPARED
    // group aborts here (its claims gone stale), a decided one completes
    members.foreach { case (d, _) => recoverGroupCommit(d) }
    // retention for the groups directory: ABORTED manifests (and
    // undecided ones a day past any plausible stale window — first
    // decided aborted, winning or losing the CREATE_NEW race either
    // way) are debris; COMMITTED manifests are retained indefinitely —
    // they are the roll-forward authority for members that may not have
    // been touched since the decision
    if (Files.isDirectory(groupsRoot)) {
      val now = System.currentTimeMillis()
      listDir(groupsRoot)(_.filter(
          _.getFileName.toString.endsWith(".json")).toList).foreach { m =>
        val d = groupDecisionPath(m)
        val age = try now - Files.getLastModifiedTime(m).toMillis
        catch { case _: java.nio.file.NoSuchFileException => -1L }
        if (age > 86400000L && readText(d).isEmpty) createText(d, "aborted")
        // the small decision file stays: a member's reservation record
        // names it, and only "aborted" there lets the next move skip it
        if (age > 86400000L && readText(d).contains("aborted"))
          Files.deleteIfExists(m)
      }
    }
    val id = java.util.UUID.randomUUID().toString
    val manifest = groupsRoot.resolve(s"group-$id.json")
    val named = manifest.toAbsolutePath.toString
    // from the absolute name: reservations, resolvers and
    // completeGroupMember all record and compare this one string
    val decision = groupDecisionPath(Paths.get(named))
    val preps = scala.collection.mutable.ArrayBuffer.empty[FrozenBranch]
    val claims = scala.collection.mutable.ArrayBuffer.empty[(Path, String)]
    def marker(f: FrozenBranch): Path = Paths.get(f.dir, GroupMarkerName)
    var injected = false
    try {
      try {
        // PREPARE in deterministic (sorted-dir) order: two concurrent
        // groups over overlapping tables deadlock-free — the loser
        // conflicts on the first shared table's claim
        members.sortBy(_._1).foreach { case (dir, name) =>
          val f = freezeBranch(dir, name, "publish_group")
          claims += f.claim
          adoptBranch(f, "publish_group", claims)
          preps += f
        }
        writeGroupManifest(manifest, preps.toSeq.map(f =>
          (f.dir, f.name, f.fork, f.head, f.incarnation, f.claim._2)))
        preps.foreach { f =>
          if (!createText(marker(f), named))
            throw new java.util.ConcurrentModificationException(
              s"another table group holds ${f.dir}; " +
                "resolve it (any read recovers a decided/stalled group) " +
                "and re-run")
          if (f.head > f.fork && !movePointer(f.dir, f.fork, f.head,
              f.claim._2, Some(decision)))
            throw new java.util.ConcurrentModificationException(
              s"table ${f.dir} advanced past the fork point v${f.fork}; " +
                "publish_group aborted — re-run")
        }
        hook("publishGroup.before-decision")
        withClaimHeartbeat((claims.map(_._1) ++ preps.map(marker)).toSeq) {
          // the single decision point; losing it means a recovery
          // aborted this group while we stalled
          if (!createText(decision, "committed"))
            throw new java.util.ConcurrentModificationException(
              s"publish_group $id was aborted by a concurrent recovery; " +
                "re-run")
          // COMPLETE every member; a crash from here on rolls forward
          preps.zipWithIndex.foreach { case (f, i) =>
            hook(if (i == 0) "publishGroup.decided"
              else "publishGroup.between-flips")
            completeGroupMember(f.dir, named)
          }
        }
      } catch {
        case e: InjectedCrash => injected = true; throw e
        case e: Throwable =>
          // a LIVE coordinator backing out (claim lost, decision lost,
          // member conflict) must not leave its markers pinning the
          // tables for the stale window: decide ABORT if still undecided
          // (its reservations are then skipped) and remove the markers
          // that still name this group. Never runs on the injected-crash
          // lane — that simulates a DEAD coordinator.
          if (Files.exists(manifest)) createText(decision, "aborted")
          if (!readText(decision).contains("committed"))
            preps.foreach(f => removeIf(marker(f), named))
          throw e
      }
    } finally if (!injected)
      claims.foreach { case (m, t) => releaseClaim(m, t) }
    members.map { case (d, _) => preps.find(_.dir == d).get.head }
  }

  /** Roll decided group `named` forward on member `dir`:
    * [[completePublish]] at the recorded fork, head, incarnation and
    * token, then remove the marker if it still names this group.
    * Idempotent and safe to race: GroupScheduleSpec runs the coordinator
    * and two resolvers over it in 600 seeded interleavings. */
  private def completeGroupMember(dir: String, named: String): Unit = {
    val manifest = Paths.get(named)
    val mine = readGroupManifest(manifest).find(_._1 == dir)
    hook("completeGroupMember")
    // false only once expiry trimmed this member's long-completed move
    mine.foreach { case (_, branch, fork, head, inc, tok) =>
      completePublish(dir, branch, fork, head, inc, tok,
        Some(groupDecisionPath(manifest)))
    }
    removeIf(Paths.get(dir, GroupMarkerName), named)
  }

  /** Resolve a `_groupcommit` marker found on `dir`, each leg removing
    * the marker only while it still names the group it resolved: roll
    * FORWARD when the group decided commit, clean up when it decided
    * abort, ABORT it (winning the decision file) when the coordinator's
    * marker has gone stale, and leave an in-flight young group alone.
    * Each leg is idempotent and safe to race: GroupScheduleSpec reaches
    * every one from two resolvers, the coordinator and a reader. Cheap
    * when no marker exists — one stat. Called from the scan path's
    * version resolution and from recoverChangelog (every commit/read). */
  def recoverGroupCommit(dir: String): Unit = {
    val marker = Paths.get(dir, GroupMarkerName)
    if (!marker.toFile.exists()) return
    val named = readText(marker).getOrElse(return)
    val manifest = Paths.get(named)
    // only aborted/expired-undecided manifests are ever reclaimed
    // (committed ones are retained indefinitely — they are the
    // roll-forward authority), so a marker referencing a MISSING
    // manifest is an aborted group's straggler
    if (!Files.exists(manifest)) { removeIf(marker, named); return }
    val decision = groupDecisionPath(manifest)
    readText(decision) match {
      case Some("committed") => completeGroupMember(dir, named)
      case Some(_) => // aborted: its reservations are skipped and its
        // build dirs are inert (vacuum sweeps them)
        removeIf(marker, named)
      case None =>
        if (leaseStale(marker, defaultStaleClaimMillis)) {
          // the coordinator is presumed dead (markers ride its claim
          // heartbeat while alive): abort by WINNING the decision file —
          // if the zombie wakes it loses its own CREATE_NEW and backs out
          if (createText(decision, "aborted")) removeIf(marker, named)
          else recoverGroupCommit(dir) // decided under us — re-dispatch
        } // else: in-flight; readers keep seeing the pre-publish contents
    }
  }

  /** S46: a CONSISTENT cross-table version snapshot — one version per
    * table such that no table-group publish (S44 `publish_group` /
    * S45 `commit_txn`) is ever observed TORN: the returned cut contains
    * a group's effects on every member or on none. Lock-free
    * double-collect: each pass resolves any decided group first
    * ([[recoverGroupCommit]] — after a group's decision file is durable,
    * EVERY capture of EVERY member reads post-publish), so a member's
    * observed state is a pure function of capture-time vs decision-time;
    * two consecutive EQUAL passes prove each member's two captures
    * landed on the same side of every concurrent group's decision point
    * (pointers only advance — a flip between the passes would change the
    * second read), and the interleaving t1 < t2 < ... < t1' < t2' < ...
    * then places ALL captures on the same side of each decision. Cost:
    * O(members) metadata reads per pass, no claims taken, readers and
    * writers never blocked; bounded retries make continuous publish
    * storms loud instead of unbounded. */
  def snapshotGroup(dirs: Seq[String], maxPasses: Int = 200): Seq[Long] = {
    require(dirs.nonEmpty, "snapshot_group needs at least one table")
    def capture(): Seq[Long] =
      dirs.map { d => recoverGroupCommit(d); currentVersion(d) }
    var prev = capture()
    var pass = 1
    while (pass < maxPasses) {
      val cur = capture()
      if (cur == prev) return cur
      prev = cur
      pass += 1
    }
    throw new IllegalStateException(
      s"snapshot_group could not stabilize after $maxPasses passes over " +
        s"${dirs.size} tables — continuous publishes; retry later")
  }

  // --------------------------------------------------------------------
  // Idempotent writer commits (txnAppId / txnVersion write options): a
  // batch writer stamps each write with an application id and a
  // monotonically increasing version; a write whose (appId, version) is
  // at or below the table's recorded high-water for that app is a NO-OP —
  // so a retried job (Spark task retry frameworks, workflow engines
  // re-running a failed stage, an at-least-once upstream) can never
  // double-append. The record is the `txn` line of the commit's sealed
  // manifest, so it publishes atomically with the commit itself (no
  // record-vs-data crash window in either order). Expiry promotes records
  // to `_txns/<appId>` so the guarantee survives retention (same pattern
  // as boundary promotion).
  // --------------------------------------------------------------------

  private def txnsRoot(dir: String): Path = Paths.get(dir, "_txns")
  private[sources] val TxnAppIdPattern = "[A-Za-z0-9._-]{1,200}"

  /** The recorded high-water txnVersion for `appId`: the `txn` records of
    * retained version dirs (including retired-but-referenced `_expired`
    * hosts — their commits were real; both are at or below the pointer),
    * then the expiry-promoted record. Manifests FIRST: expireVersions
    * promotes a record and then removes its dir, so a dir that vanishes
    * between the two reads has had its record promoted by the second;
    * the other order can miss it in both and admit the retry twice.
    * POINTER-CAPPED like [[listVersions]]: a final-named dir above the
    * pointer is a crashed commit's (or an in-flight fast_forward
    * adoption's) debris, not committed history — counting its record
    * would silently no-op the retried idempotent write that heals the
    * crash, and for MV refresh would report a watermark the readable
    * state never folded. */
  def lastTxnVersion(dir: String, appId: String): Option[Long] =
    lastTxnVersion(dir, appId, () => ())

  /** [[lastTxnVersion]], running `betweenReads` after the manifests are
    * read and before the promoted record is. */
  private[sources] def lastTxnVersion(dir: String, appId: String,
      betweenReads: () => Unit): Option[Long] = {
    val cap =
      try currentVersion(dir)
      catch { case _: java.nio.file.NoSuchFileException => Long.MaxValue }
    val inVersions = listDir(Paths.get(dir))(_.map(_.getFileName.toString)
        .filter(n => n.matches("v\\d{10}") && n.drop(1).toLong <= cap).toSeq)
      .flatMap(n => manifestHead(s"$dir/$n").flatMap(_.txn))
      .collect { case (`appId`, v) => v }
    betweenReads()
    (inVersions ++ promotedTxn(dir, appId)).maxOption
  }

  /** The expiry-promoted high-water of `appId`, if any. */
  private def promotedTxn(dir: String, appId: String): Option[Long] =
    readText(txnsRoot(dir).resolve(appId)).map(_.toLong)

  /** Promote a retiring version's `txn` record to `_txns/<appId>`
    * (keeping the max — re-promotion after a crash is idempotent). The
    * read-modify-write runs under the table's meta lock and publishes by
    * temp + atomic rename: two CONCURRENT expire_versions calls promoting
    * different versions of the same app must never interleave into a
    * regressed high-water (a lost update here silently re-admits a
    * duplicate write — the exact corruption txn records exist to stop),
    * and a torn file must never parse as "no record". IO failures
    * PROPAGATE: the caller must abort this version's retirement (the
    * sweep is crash-resumable), never sweep away the only copy of the
    * high-water record. */
  private def promoteTxn(dir: String, app: String, v: Long): Unit =
    withMetaLock(dir) {
      Files.createDirectories(txnsRoot(dir))
      val existing = promotedTxn(dir, app)
      if (existing.forall(_ < v)) {
        val tmp = txnsRoot(dir).resolve(s".${app}.tmp-${System.nanoTime()}")
        Files.write(tmp, v.toString.getBytes("UTF-8"))
        Files.move(tmp, txnsRoot(dir).resolve(app),
          StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
      }
    }

  /** Parse the txnAppId/txnVersion write-option pair, loudly: both or
    * neither, path-safe app id, non-negative version. */
  def parseTxnOptions(options: org.apache.spark.sql.util.CaseInsensitiveStringMap)
      : Option[(String, Long)] = {
    val app = Option(options.get("txnAppId"))
    val ver = Option(options.get("txnVersion"))
    (app, ver) match {
      case (None, None) => None
      case (Some(a), Some(v)) =>
        require(a.matches(TxnAppIdPattern),
          s"txnAppId must match $TxnAppIdPattern, got '$a'")
        val n = try v.trim.toLong catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"txnVersion must be an integer, got '$v'")
        }
        require(n >= 0, s"txnVersion must be non-negative, got $n")
        Some((a, n))
      case _ => throw new IllegalArgumentException(
        "txnAppId and txnVersion must be set together (idempotent writes " +
          "need both the application id and its monotone version)")
    }
  }

  /** Keep the newest `keepLast` versions readable, retire older ones. A
    * retired version whose dir still OWNS files a kept snapshot references
    * (via its owner map) is marked `_expired` — dropped from the version
    * listing (no time travel to it, no restore) but kept on disk as a file
    * host, with its UNREFERENCED bucket dirs and delete slices reclaimed;
    * its manifest stays (kept snapshots look their files up by owning
    * dir). A retired dir nothing references is deleted outright,
    * and previously-retired hosts are re-swept each call so they shrink to
    * nothing as references age out. */
  def expireVersions(dir: String, keepLast: Int): Unit = {
    val live = listVersions(dir)
    // tagged versions are PINNED: a named ref keeps its version readable
    // (and its referenced slots on disk) regardless of keep_last
    val keep = live.takeRight(math.max(1, keepLast)).toSet ++
      listTags(dir).values.toSet.intersect(live.toSet)
    // (owner version, bucket) pairs some kept snapshot still reads
    val referenced: Set[(Long, String)] = keep.flatMap(v =>
      ownersOf(dir, v).toSeq.flatMap { case (s, os) => os.map(o => (o, s)) })
    // DESCENDING order: a version is marked retired BEFORE any older
    // version that hosts its files is swept. Combined with the per-version
    // tag re-read below, this closes the create_tag window in which a tag
    // on a newer version could verify successfully while this same pass
    // had already deleted the older owner slots its snapshot references —
    // with the marker landing high-to-low, the create's verify either
    // sees the marker (fails loudly, removes its ref) or the tag is
    // visible before any of its owner slots are considered for deletion.
    val retired = (live.filterNot(keep) ++ expiredVersions(dir))
      .distinct.sorted(Ordering[Long].reverse)
    val taggedOwnersCache =
      scala.collection.mutable.Map.empty[Long, Map[String, Seq[Long]]]
    retired.foreach { v =>
      val vdir = versionDir(dir, v)
      val m = manifestOf(vdir)
      // promote the snapshot-boundary flag BEFORE the dir goes away
      // (write-then-delete, so a crash can only leave a true boundary
      // recorded twice, never lose one) — a resuming CDC stream must keep
      // detecting the boundary after the version itself is expired
      if (m.boundary) {
        Files.createDirectories(Paths.get(changesRoot(dir)))
        val p = Paths.get(changesRoot(dir), f"_boundary-$v%010d")
        if (!Files.exists(p)) Files.write(p, Array.empty[Byte])
      }
      // same write-then-delete discipline for idempotent-write records:
      // the (appId, txnVersion) high-water must survive the version dir
      m.txn.foreach { case (app, t) => promoteTxn(dir, app, t) }
      // slots of THIS version some kept snapshot references — re-reading
      // the tags here (not just in the keep-set upfront) so a tag that
      // landed (or a version that resurrected) mid-pass still protects
      // the owner slots its snapshot reads. listTags is one dir listing;
      // a tagged version's manifest is immutable, so its owner map is
      // read ONCE per pass (the cache below), keeping the sweep linear.
      val tagRef: Set[String] = {
        val tagged = listTags(dir).values.toSet
        if (tagged.isEmpty) Set.empty
        else tagged.intersect(listVersions(dir).toSet).flatMap { tv: Long =>
          taggedOwnersCache.getOrElseUpdate(tv, ownersOf(dir, tv))
            .toSeq.flatMap { case (s, os) =>
              if (os.contains(v)) Some(s) else None }
        }
      }
      val refSlots = referenced.collect { case (`v`, s) => s } ++ tagRef
      // Exclude the version from the readable listing BEFORE anything is
      // deleted: a crash mid-sweep must never leave a still-listed version
      // with some slot dirs gone (`VERSION AS OF` would silently return
      // partial rows). A marked host is re-swept on every later call, so
      // marker-then-sweep is crash-resumable in both branches.
      Files.write(Paths.get(vdir, ExpiredMarker), Array.empty[Byte])
      // a create_tag racing this expiry: the marker is the expiry commit
      // point, so re-check the refs AFTER it and resurrect (unmark, skip)
      // if the version got tagged — create_tag's own write-then-verify
      // (ref first, listing second) makes the two orderings safe: either
      // its verify sees our marker and the create fails, or its ref
      // landed before this re-check and the version survives intact.
      // Only a FRESHLY-retired version may resurrect — a re-swept
      // `_expired` file host is already partial and must stay retired
      // (createTag can never have accepted it: the listing filters marked
      // dirs before anything is deleted) — and only while every owner
      // slot its snapshot references is still intact: a version whose
      // owner slots were already swept earlier IN THIS LOOP (they were
      // unreferenced when the keep-set was computed, pre-tag) would come
      // back partial, so it stays retired and the racing create_tag's
      // verify fails loudly instead.
      def slotsIntact: Boolean = ownersOf(dir, v).forall { case (s, os) =>
        os.forall(o => Files.isDirectory(
          Paths.get(s"${versionDir(dir, o)}/$s")))
      }
      if (live.contains(v) && listTags(dir).values.exists(_ == v) &&
          slotsIntact) {
        Files.deleteIfExists(Paths.get(vdir, ExpiredMarker))
      } else if (refSlots.isEmpty) {
        // rename the whole dir OUT of the version namespace first (the
        // tomb name no longer matches v\d{10}, so it can never be listed
        // again), then sweep the tomb. Deleting in place has a crash
        // window: marker gone, dir still present → the retired version
        // resurrects as a listed, empty, manifest-less version that
        // `VERSION AS OF` silently reads as zero rows and restore accepts.
        val tomb = Paths.get(s"$vdir.expired-${System.nanoTime()}")
        try {
          Files.move(Paths.get(vdir), tomb, StandardCopyOption.ATOMIC_MOVE)
          deleteRecursively(tomb)
        } catch { case _: java.nio.file.NoSuchFileException => () }
      } else {
        localSlots(vdir).filterNot(refSlots).foreach { s =>
          deleteRecursively(Paths.get(vdir, s))
          // clean an emptied gpart parent dir
          val parent = Paths.get(vdir, s).getParent
          if (parent.getFileName.toString.startsWith(s"$PartCol=") &&
              listDir(parent)(_.isEmpty))
            Files.deleteIfExists(parent)
        }
        deleteRecursively(Paths.get(dvRoot(vdir))) // kept snapshots hold links
      }
    }
    // trim the pointer log: the moves that ended below the oldest retained
    // version, oldest first (the order currentVersion's hint check needs)
    listVersions(dir).headOption.foreach { oldest =>
      logIndexes(dir).takeWhile(effective(dir, _).exists(_._1 < oldest))
        .foreach(n => Iterator.from(0).map(slot(dir, n, _))
          .takeWhile(_.toFile.exists).toList.foreach(Files.deleteIfExists))
    }
    // retired version dirs under the table were deleted or mutated — any
    // cached snapshot resolution keyed by their paths is stale now
    invalidateDvCache(dir)
  }

  /** Marker excluding a retired-but-still-referenced version dir from the
    * version listing (see [[expireVersions]]). */
  private[sources] val ExpiredMarker = "_expired"

  private def expiredVersions(dir: String): Seq[Long] =
    listDir(Paths.get(dir))(_.map(_.getFileName.toString)
      .filter(_.matches("v\\d{10}")).map(_.drop(1).toLong).toSeq.sorted)
      .filter(v => Files.exists(Paths.get(versionDir(dir, v), ExpiredMarker)))

  /** Layout stats for one retained version: (buckets, data files, total
    * bytes) over its RESOLVED live file set. Directory metadata only —
    * never reads data. */
  def versionStats(dir: String, v: Long): (Int, Long, Long) = {
    if (!Files.isDirectory(Paths.get(versionDir(dir, v)))) return (0, 0L, 0L)
    val entries = snapshotFileEntries(dir, v)
    val bytes = entries.map(_.size).sum
    (entries.map(e => slotBucket(e.slot)).distinct.size,
      entries.size.toLong, bytes)
  }

  /** Whether version `v`'s changelog slice is still retained. */
  def hasChangelog(dir: String, v: Long): Boolean =
    Files.isDirectory(Paths.get(changesDir(dir, v)))

  /** Versions of the published changelog slices in [`from`, `to`],
    * ascending: a short range probes each version's slice dir (planning one
    * slice never lists the others), a long one lists the changes root. */
  def retainedSlices(dir: String, from: Long = 0L,
      to: Long = Long.MaxValue): Seq[Long] = {
    val lo = math.max(from, 0L)
    val root = Paths.get(changesRoot(dir))
    if (to - lo < 64) (lo to to).filter(hasChangelog(dir, _))
    else if (!Files.isDirectory(root)) Seq.empty
    else listDir(root)(_.map(_.getFileName.toString)
      .filter(_.startsWith(s"$ChangeVersionCol="))
      .map(_.stripPrefix(s"$ChangeVersionCol=").toLong)
      .filter(v => v >= lo && v <= to).toSeq.sorted)
  }

  def bucketExpr(keyCols: Seq[String], buckets: Int): Column =
    pmod(xxhash64(keyCols.map(col): _*), lit(buckets.toLong)).cast(IntegerType)

  /** Bucket fan-out columns: the merge key, or — on APPEND-ONLY (keyless)
    * tables — every data column, a deterministic row hash: retried
    * identical batches land in the same slots and the fan-out stays
    * uniform without any key to hash. */
  private[sources] def bucketColsOf(meta: GraftTableMeta): Seq[String] =
    if (meta.keyCols.nonEmpty) meta.keyCols else meta.schema.fieldNames.toSeq

  /** Read one version with PHYSICAL column names + [[BucketCol]] — the
    * exact file layout, for maintenance rewrites that must write the same
    * names back ([[optimize]]). Plans the same manifest-resolved snapshot
    * scan and merge-on-read delete application as every other read
    * ([[org.apache.spark.sql.GraftSnapshotScan.versionScanBuilder]]): a
    * `buckets` restriction is a `gbucket` partition filter pushed into
    * the authored file index, a `slots` restriction narrows the authored
    * index itself. */
  private def readVersionPhysical(spark: SparkSession, dir: String,
      meta: GraftTableMeta, v: Long,
      buckets: Option[Set[Int]] = None,
      slots: Option[Set[String]] = None): DataFrame = {
    val df = org.apache.spark.sql.GraftSqlShim.ofRows(spark,
      org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
        .create(new org.apache.spark.sql.GraftVersionTable(spark, dir, v,
          meta, slots), None, None))
    buckets.fold(df)(bs => df.filter(col(BucketCol).isin(bs.toSeq: _*)))
      .select((physicalSchema(meta.schema).fieldNames :+ BucketCol)
        .toIndexedSeq.map(col): _*)
  }

  /** Read one version as a logical-named DataFrame including the
    * [[BucketCol]] partition column (empty-but-typed when the version has
    * no data yet). */
  def readVersion(spark: SparkSession, dir: String, v: Long,
      buckets: Option[Set[Int]] = None): DataFrame = {
    val meta = readMeta(dir)
    toLogical(readVersionPhysical(spark, dir, meta, v, buckets), meta.schema)
  }

  /** Re-base a change batch built against a WRITER-PINNED schema onto the
    * table's current one — the DDL-during-live-writer contract. A long
    * writer (a streaming upsert's epochs, a batch MERGE's rewrite job)
    * captures the table meta when it starts; an ALTER landing mid-flight
    * would otherwise crash the commit on a column-list mismatch (or worse,
    * resurrect a dropped column). Columns map by PHYSICAL identity, which
    * makes every evolution case fall out: RENAME follows (same physical,
    * new logical name), DROP discards the writer's values for the dead
    * column, a tombstoned re-ADD gets nulls (the writer's values belong to
    * the OLD physical column and must not leak into the fresh one), new
    * columns null-fill, widened types up-cast. Identity when the schema
    * hasn't changed — the hot path costs one reference comparison. */
  def alignToCurrentSchema(changes: DataFrame, captured: GraftTableMeta,
      current: GraftTableMeta): DataFrame = {
    if (captured.schema == current.schema) return changes
    val curByPhys = current.schema.fields.map(f => physicalName(f) -> f).toMap
    val mappedCols = captured.schema.fields.toSeq.flatMap { f =>
      curByPhys.get(physicalName(f))
        .map(cf => col(f.name).cast(cf.dataType).as(cf.name))
    }
    val mapped = changes.select(col(OpCol) +: mappedCols: _*)
    current.schema.fields.filterNot(f => mapped.columns.contains(f.name))
      .foldLeft(mapped)((df, f) =>
        df.withColumn(f.name, lit(null).cast(f.dataType)))
  }

  /** The rows of a DataFrame whose optimized plan is a local relation —
    * data the driver already holds, which any action would only re-scan —
    * or None for a plan that must run as a job. */
  private[sources] def localRows(df: DataFrame)
      : Option[Seq[org.apache.spark.sql.catalyst.InternalRow]] =
    df.queryExecution.optimizedPlan match {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        Some(l.data)
      case _ => None
    }

  /** A merge key as the driver-side before-image attach compares it:
    * catalyst values under the join's equality (signed zeros fold), or
    * None when a value is null (a null key equals nothing). */
  private def normalizedKey(k: Seq[Any]): Option[Seq[Any]] =
    if (k.contains(null)) None
    else Some(k.map(org.apache.spark.sql.GraftMorScanSupport.normalizeKey))

  /** Filter predicate: the row's merge key ([[normalizedKey]] of the
    * `children`) is in the broadcast key set. Evaluated in the scan's
    * tasks; the set ships once per executor as a broadcast variable. */
  private final case class KeyIn(
      children: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      keys: org.apache.spark.broadcast.Broadcast[Set[Seq[Any]]])
      extends org.apache.spark.sql.catalyst.expressions.Expression
      with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
    override def nullable: Boolean = false
    override def dataType: DataType = BooleanType
    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
      normalizedKey(children.map(_.eval(input))).exists(keys.value.contains)
    override protected def withNewChildrenInternal(
        c: IndexedSeq[org.apache.spark.sql.catalyst.expressions.Expression]) =
      copy(children = c)
  }

  /** Collect `df`'s rows as catalyst values (one action, tracked as a SQL
    * execution like `collect`), with no round trip through external
    * types. */
  private def collectInternal(df: DataFrame)
      : Array[org.apache.spark.sql.catalyst.InternalRow] = {
    val qe = df.queryExecution
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe,
      Some("collect"))(qe.executedPlan.executeCollect())
  }

  /** Apply a change batch. `changes` columns: [[OpCol]] (one of I/U/D) plus
    * the full table schema (delete rows carry the key columns, the rest
    * null). Returns the committed version.
    *
    * `allInserts = true` (the INSERT INTO path) takes the append fast
    * path: no base read, no joins — new files land NEXT TO the previous
    * version's hard-linked files inside the same bucket directories, so an
    * append is O(new data) regardless of table size. The general path
    * (MERGE/UPDATE/DELETE deltas) rewrites only the touched buckets and
    * enriches the changelog with before-images.
    *
    * `overwrite = true` (INSERT OVERWRITE) replaces the whole table in ONE
    * version commit: the new data is written, no prior bucket is linked,
    * and the pointer flips once — readers see the old content or the new,
    * never an empty table in between, and a crash leaves the old version
    * current (a two-commit truncate+append would have both holes). Like
    * TRUNCATE, an overwrite writes NO changelog slice — a
    * changelog never spans a truncation, and the MISSING slice is the
    * detectable boundary (`hasChangelog(v) == false`): a CDC consumer
    * folding past it would silently resurrect overwritten rows, so it
    * must re-snapshot instead.
    *
    * `smallBatchHint`: the caller asserts (from metadata it holds — e.g.
    * the MV layer's prior-state byte size) that this all-insert batch is
    * small enough for one write task. The data leg then coalesces to a
    * single task instead of paying an AQE rebalance round — the right
    * plan for a small rollup state over an arbitrarily large fact. Purely
    * advisory: ignored for keyed deltas (their own measured smallKeyed
    * bound governs), and a wrong hint costs one oversized file, never
    * correctness. */
  def applyChanges(spark: SparkSession, dir: String, changes0: DataFrame,
      allInserts: Boolean = false, overwrite: Boolean = false,
      commutative: Boolean = false,
      expectedVersion: Option[Long] = None,
      heartbeatPaths: Seq[Path] = Nil,
      capturedMeta: Option[GraftTableMeta] = None,
      txn: Option[(String, Long)] = None,
      smallBatchHint: Boolean = false): Long = {
    require(!overwrite || allInserts, "overwrite implies an all-insert batch")
    val meta = readMeta(dir)
    // keyless tables have NO row identity: nothing to anti-join a delete
    // or upsert against. Appends (and whole-table overwrites) are the
    // only write shapes — reject the rest before any job runs.
    require(allInserts || meta.keyCols.nonEmpty,
      s"$dir is an APPEND-ONLY table (no merge key): UPDATE/DELETE/MERGE " +
        "and keyed upserts are not supported — use INSERT, " +
        "INSERT OVERWRITE, REPLACE WHERE, or expire_partitions")
    // align against the SAME meta snapshot this commit buckets and selects
    // with — callers aligning separately and then racing a fresh ALTER
    // here would reintroduce the column-list mismatch
    val changes = capturedMeta
      .map(cm => alignToCurrentSchema(changes0, cm, meta))
      .getOrElse(changes0)
    recoverChangelog(dir)

    // The change batch is bucketed by the CURRENT VERSION's layout count
    // (its manifest's bucket count), re-derived per attempt: a
    // concurrent `CALL rebucket` landing between attempts changes the
    // fan-out, and rows bucketed under the old count written into the new
    // layout would strand keys in directories their hash no longer maps
    // to. The common case is one attempt and one persist.
    var bucketedFor = -1
    var ch: DataFrame = null
    var touched = Set.empty[Int]
    var smallKeyed = false
    def bucketFor(n: Int): Unit = if (bucketedFor != n) {
      if (ch != null) ch.unpersist()
      def bucketed = changes
        .withColumn(BucketCol, bucketExpr(bucketColsOf(meta), n))
      // a batch the driver already holds (a small staged delta decoded
      // locally): its touched set and row count come from the rows
      // themselves, with no job and no cache
      val local = localRows(bucketed)
      // persist serves the batch's MULTIPLE consumers (touched-set job +
      // both commit legs). An overwrite commit has exactly one — the
      // data-leg write (no changelog, no touched set) — so caching it is
      // a pure extra pass over the batch; for MV state overwrites the
      // "batch" is the whole folded view, so the pass is O(|view|).
      // `bucketed` is a fresh Dataset per use: one whose plan was already
      // optimized (the local check above) never sees a cache registered
      // after it, and the byte bound below reads the cached plan's stats.
      ch = if ((allInserts && overwrite) || local.isDefined) bucketed
        else bucketed.persist()
      // ≤ `buckets` (bucket, count) rows — the one driver-side
      // materialization of a distributed batch (the count + the
      // materialized cache's byte size decide the small-batch broadcast
      // legs below). The append fast path never reads the base, so it
      // skips this job entirely (its "touched" set would only gate work
      // it doesn't do).
      if (allInserts) touched = Set.empty[Int]
      else {
        val perBucket: Seq[(Int, Long)] = local match {
          case Some(data) =>
            val b = ch.schema.fieldIndex(BucketCol)
            data.groupBy(_.getInt(b))
              .map { case (k, rs) => k -> rs.size.toLong }.toSeq
          case None =>
            ch.groupBy(col(BucketCol)).count().collect().toSeq
              .map(r => r.getInt(0) -> r.getLong(1))
        }
        touched = perBucket.map(_._1).toSet
        val rows = perBucket.map(_._2).sum
        // the plan's stats bound the batch's bytes with no job: a local
        // batch's estimate from its rows, a distributed one's exact cached
        // size after materialization. The batch bytes alone UNDERSTATE
        // the broadcast footprint: the changelog leg broadcasts up to
        // `rows` FULL-WIDTH base before-images, while a delete batch
        // carries only its key columns (nulls compress to ~nothing) — so
        // also bound rows × the base schema's estimated row width, the
        // size the before-image broadcast can actually reach.
        val cachedBytes = ch.queryExecution.optimizedPlan.stats.sizeInBytes
        val rowWidth = meta.schema.fields.map(_.dataType.defaultSize).sum
        val maxBytes = commitBroadcastMaxBytes(spark)
        smallKeyed = rows <= commitBroadcastMaxRows(spark) &&
          cachedBytes <= BigInt(maxBytes) &&
          rows * math.max(1L, rowWidth.toLong) <= maxBytes
      }
      bucketedFor = n
    }
    try {
      // `commutative` marks keyed-upsert batches whose outcome doesn't
      // depend on the base snapshot (streaming upsert epochs): like
      // appends they rebase onto the recomputed version and retry, and a
      // losing append waits out the winner's WHOLE commit job, so the
      // budget is wall-clock-sized (~60 s). A row-level delta's read
      // snapshot is stale the moment another commit lands: one attempt.
      val (committed, published) =
        retryContended(dir, if (allInserts || commutative) 120 else 1) {
          val cur = currentVersion(dir)
          // idempotence: every record of a version ≤ `cur` is visible once
          // `cur` is read, and publishNext's pointer re-check under the
          // claim proves no version landed after this check — a racing
          // retry of the same (appId, txnVersion) serializes on the claim
          // and no-ops on its next attempt
          if (txn.exists { case (a, v) => lastTxnVersion(dir, a).exists(_ >= v) })
            (cur, false)
          else {
            // a row-level delta pins its READ SNAPSHOT when its target scan
            // is planned; if the table has moved since — anywhere in the
            // long scan-to-commit window — the delta is stale and must
            // conflict, never silently rebase over the intervening commit
            expectedVersion.filter(_ != cur).foreach { v =>
              throw new java.util.ConcurrentModificationException(
                s"table $dir advanced from the statement's snapshot v$v to " +
                  s"v$cur during the rewrite; re-run the statement")
            }
            bucketFor(versionBuckets(dir, cur))
            // the caller's staging dirs ride the heartbeat so vacuum never
            // reaps .bin files the decode jobs read lazily until the last
            // leg finishes
            (publishNext(dir, cur,
                if (allInserts) "the append" else "the delta rewrite",
                heartbeatPaths) { b =>
              commitVersion(spark, dir, meta, ch, touched, allInserts,
                overwrite, b, txn, smallKeyed, smallBatchHint)
            }, true)
          }
        }
      // auto_optimize: close the fragmentation loop inline — bounded to
      // the slots THIS commit wrote, and only when one of them crossed
      // the cap (optimize itself rewrites only over-cap slots, so cold
      // slots are never touched). Contention is the expected failure
      // (another writer or optimizer holds the next claim): skip, the
      // next commit's hook retries. The DML itself has already
      // committed; real IO failures propagate loudly. A no-op retry of an
      // idempotent write wrote nothing, so it compacts nothing either.
      if (published) autoOptimizeIfNeeded(spark, dir, meta, committed)
      committed
    } finally if (ch != null) ch.unpersist()
  }

  /** Inline slot-scoped compaction after a commit on an
    * `auto_optimize` table — see [[GraftTableMeta.autoOptimize]]. */
  private def autoOptimizeIfNeeded(spark: SparkSession, dir: String,
      meta: GraftTableMeta, committed: Long): Unit = {
    val cap = meta.autoOptimize
    if (cap <= 0) return
    val own = manifestOf(versionDir(dir, committed)).files.keySet.map(slotOf)
    if (own.isEmpty) return
    val counts = slotFileCounts(dir, committed)
    if (own.exists(s => counts.getOrElse(s, 0) > cap))
      try optimize(spark, dir, cap)
      catch { case _: java.util.ConcurrentModificationException => () }
  }

  /** One commit attempt, as [[publishNext]]'s body: build `build.next`
    * from the bucketed change batch and flip it. */
  private def commitVersion(spark: SparkSession, dir: String,
      meta: GraftTableMeta, ch: DataFrame, touched: Set[Int],
      allInserts: Boolean, overwrite: Boolean, build: VersionBuild,
      txn: Option[(String, Long)], smallKeyed: Boolean,
      smallBatchHint: Boolean): Unit = {
    val next = build.next
    val cur = next - 1
    // writer-private build dir: the final vN name appears only when this
    // build's move wins (see movePointer)
    val buildDir = build.path
    val cols = meta.schema.fieldNames.toSeq
    locally {
      val curDir = versionDir(dir, cur)

      // Merge-on-read decision. A 'mor' table's row-level delta writes the
      // after-images + an equality-delete slice instead of rewriting its
      // touched buckets — unless the LIVE delete set would outgrow the cap,
      // in which case THIS commit escalates to the copy-on-write rewrite
      // over (touched ∪ every DV-carrying bucket), applying and clearing
      // all slices in one claimed commit (the LSM-style compaction bound:
      // the reader's probe set can never exceed the cap).
      val morRequested = meta.mergeMode == "mor" && !allInserts &&
        !overwrite && touched.nonEmpty

      // the LAYOUT's partition spec: new dirs are written under the grain
      // the current layout declares (set_partition_spec evolves it), and
      // the commit's manifest records it so readers interpret its dirs
      // under the era they were written with
      val curM = manifestOf(curDir)
      val curPartSpec = curM.partSpec

      // Changelog leg: persist the change batch itself, one immutable dir
      // per version. Written to a dot-prefixed STAGING dir now and renamed
      // to its visible `change_version=N` name only after the pointer
      // flips (see recoverChangelog) — changelog readers can never observe
      // an uncommitted batch. Each U/D row is enriched with its BEFORE
      // image (the replaced base row as a struct — Debezium-shaped), which
      // is what lets downstream aggregates be maintained incrementally
      // (add `after`, retract `before`) instead of recomputed; the
      // pre-image join reuses the same touched-bucket base read the
      // rewrite needs anyway, and the all-insert path skips both. Cost ∝
      // rows changed. TRUNCATE intentionally writes no changelog — a
      // changelog never spans a truncation; consumers re-snapshot.
      val chDir = changesStaging(dir, next, build.token)
      // Files store PHYSICAL names (flat columns AND the before-image's
      // inner fields — the struct cast renames by position), so renames
      // stay metadata-only across the whole changelog history.
      val physBefore = StructType(physicalSchema(meta.schema)
        .fields.map(_.copy(nullable = true)).toSeq)
      // All-insert commits: the data files ARE the changelog rows — the op
      // is the constant 'I' and the before-image the constant NULL, so the
      // data leg writes those two columns into its files (constant-encoded:
      // a dictionary page and definition levels, ~bytes per file) and the
      // changelog slice is built by HARD-LINKING the data files instead of
      // running a second Spark shuffle+write over the whole batch. Appends
      // are the dominant write shape at scale; this halves their write
      // amplification. Data readers are unaffected (every data read
      // projects the declared physical schema, and the changelog column
      // names are reserved at CREATE/ALTER time); changelog readers see
      // the exact rows+columns the old slice write produced.
      val linkChangelog = allInserts && !overwrite
      val baseTouched = () => readVersion(spark, dir, cur, Some(touched))
      // The changelog leg runs only for keyed deltas: an overwrite writes
      // no slice and an append links its data files (see the legs' launch
      // below).
      val changelogLeg: () => Unit = () => {
        val base = baseTouched()
        val beforeImages0 = base
          .select(struct(cols.map(col): _*).as(ChangeBeforeCol) +:
            meta.keyCols.map(col): _*)
        // small batch: semi-filter the base's before-images down to the
        // batch's keys through a broadcast of the (bounded) key set,
        // then broadcast the filtered images into the left-outer attach
        // — the touched-bucket base is scanned once and never shuffled
        // (a point UPDATE over a billion-row bucket moves its changed
        // keys, not the bucket). Large batches keep the shuffle join.
        val beforeImages =
          if (smallKeyed)
            broadcast(beforeImages0.join(
              broadcast(ch.select(meta.keyCols.map(col): _*)),
              meta.keyCols, "left_semi"))
          else beforeImages0
        val changed = ch.select((OpCol +: cols).map(col): _*)
        val slice = toPhysical(changed
          .join(beforeImages, meta.keyCols, "left_outer")
          .withColumn(ChangeBeforeCol,
            when(col(OpCol) === "I", lit(null)).otherwise(col(ChangeBeforeCol)))
          .withColumnRenamed(OpCol, ChangeOpCol)
          .select((cols :+ ChangeOpCol :+ ChangeBeforeCol).map(col): _*)
          .withColumn(ChangeBeforeCol, col(ChangeBeforeCol).cast(physBefore)),
          meta.schema)
        // A small batch the driver holds attaches its before-images on
        // the driver instead: ONE job collects the base rows whose keys
        // are in the batch (at most one per batch row, keys being
        // unique), filtered through a broadcast VARIABLE of the key set —
        // a broadcast join's build side would cost a job of its own — and
        // the slice goes through the driver-side write. Keys compare as
        // catalyst values with the join's equality (signed zeros fold, a
        // key with a null matches nothing), for the key types whose values
        // compare that way; others keep the join.
        val keyIdx = meta.keyCols.map(k => cols.indexOf(k))
        val keyTypes = meta.keyCols.map(k => meta.schema(k).dataType)
        def keyOf(r: org.apache.spark.sql.catalyst.InternalRow,
            at: Int): Option[Seq[Any]] =
          normalizedKey(keyIdx.zip(keyTypes).map { case (i, t) => r.get(at + i, t) })
        (if (smallKeyed && keyTypes.forall(morKeyTypeOk)) localRows(changed)
          else None) match {
          case Some(rows) =>
            val keys = spark.sparkContext.broadcast(rows.flatMap(keyOf(_, 1)).toSet)
            val befores =
              try collectInternal(base.filter(org.apache.spark.sql.GraftSqlShim
                  .column(KeyIn(meta.keyCols.map(k =>
                    org.apache.spark.sql.GraftSqlShim.expression(col(k))), keys)))
                .select(struct(cols.map(col): _*)))
              finally keys.destroy()
            val byKey = befores.toSeq.map(_.getStruct(0, cols.size))
              .flatMap(b => keyOf(b, 0).map(_ -> b)).groupMap(_._1)(_._2)
            val types = meta.schema.fields.map(_.dataType)
            val insert = org.apache.spark.unsafe.types.UTF8String.fromString("I")
            writeOnDriver(spark, slice.schema, rows.flatMap { r =>
              val op = r.getUTF8String(0)
              keyOf(r, 1).flatMap(byKey.get).getOrElse(Seq(null)).map { b =>
                new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
                  (types.indices.map(i => r.get(i + 1, types(i))) :+ op :+
                    (if (op == insert) null else b)).toArray)
              }
            }, chDir, Nil, Map.empty)
          // right-size the slice's file count to its data volume — CDC
          // readers stream every slice, so a 32-task commit must not cost
          // them 32 near-empty file opens
          case None => writeSlices(spark, slice, chDir, Nil, Map.empty, smallKeyed)
        }
      }

      // Data leg. Append fast path: write only the new rows; every
      // existing bucket's files are hard-linked alongside (part-file names
      // are job-unique, so dirs merge safely). General path: rewrite
      // touched buckets (anti-join out removed keys, union adds), link
      // the untouched ones.
      //
      // Both paths REBALANCE on the bucket column before the write: a
      // partitionBy write emits one file per (task × bucket), so an
      // unrebalanced commit's file count tracks the UPSTREAM task count —
      // a 32-task batch into 8 buckets writes ~250 near-empty files, and a
      // 1000-task append into 64 buckets would write 64k; every subsequent
      // touched-bucket read then pays per-file listing/footer cost. The
      // rebalance hint makes file count track DATA size instead: AQE
      // coalesces a small batch to a handful of tasks and skew-splits a
      // huge bucket into target-sized ones (so bucket count never caps
      // write parallelism the way a plain repartition(buckets) would).
      // the copy-on-write rewrite: anti-join removed keys out of the kept
      // buckets, union the after-images, write the whole touched set.
      // `buckets` ⊇ the change batch's touched set; under delete-cap
      // escalation it also folds in every DV-carrying bucket, whose
      // (merge-on-read-applied) live rows re-materialize plainly —
      // clearing the slices.
      def cowRewrite(rewriteBuckets: Set[Int]): (Set[Int], Map[String, Long]) = {
        // small batch: broadcast the removed keys into the anti-join —
        // the kept base streams through unshuffled (and undistincted
        // duplicates in the build side cannot change an anti-join's
        // result, so the batch skips the dedup exchange too). Large
        // batches keep the distinct + shuffle join.
        val removes0 = ch.filter(col(OpCol).isin("U", "D"))
          .select(meta.keyCols.map(col): _*)
        val removes =
          if (smallKeyed) broadcast(removes0) else removes0.distinct()
        val adds = ch.filter(col(OpCol).isin("I", "U"))
          .select((cols :+ BucketCol).map(col): _*)
        val keptBase = readVersion(spark, dir, cur, Some(rewriteBuckets))
        val kept = keptBase.join(removes, meta.keyCols, "left_anti")
          .select((cols :+ BucketCol).map(col): _*)
        withPartCol(toPhysical(kept.unionByName(adds), meta.schema), meta,
            curPartSpec)
          .hint("rebalance", layoutCols(meta).map(col): _*)
          .write.options(dataWriteOptions(meta))
            .partitionBy(layoutCols(meta): _*).parquet(buildDir)
        (rewriteBuckets, Map.empty)
      }

      // the data leg returns the buckets it rewrote and the delete-slice
      // files it wrote (relative to the build dir) with their row counts
      val dataLeg: () => (Set[Int], Map[String, Long]) = () =>
        if (allInserts) {
          // unconditional write: an empty batch produces an empty version
          // dir, and skipping the touched-set job saves one Spark action
          // per append
          withPartCol(toPhysical(
              ch.select((cols :+ BucketCol).map(col): _*), meta.schema),
              meta, curPartSpec)
            // see linkChangelog above: the constant changelog columns ride
            // the data files so the slice can link instead of re-write
            .transform(d => if (linkChangelog)
              d.withColumn(ChangeOpCol, lit("I"))
                .withColumn(ChangeBeforeCol, lit(null).cast(physBefore))
              else d)
            // smallBatchHint (caller-asserted small batch, e.g. an MV
            // state ∝ |view|): one write task, no AQE rebalance round —
            // partitionBy still splits one file per slot
            .transform(d => if (smallBatchHint) d.coalesce(1)
              else d.hint("rebalance", layoutCols(meta).map(col): _*))
            .write.options(dataWriteOptions(meta))
            .partitionBy(layoutCols(meta): _*).parquet(buildDir)
          (Set.empty, Map.empty)
        } else if (morRequested) {
          // merge-on-read: after-images land like an append; removed keys
          // land as an equality-delete slice under _dv/dseq=<next>. Every
          // base bucket (and every still-live older slice) hard-links over
          // — the commit writes O(changed rows), never O(touched buckets).
          // The cap decision is made AFTER the slice write from its row
          // counts (the driver-side write counts its rows, a Spark write's
          // files are footer-read once) against the live count the base
          // manifest records — no separate count job, no re-read of older
          // slices; only the rare over-cap commit discards this small
          // staged write and escalates.
          // both merge-on-read legs write O(batch) bytes: a small batch the
          // driver holds is written on the driver, a small distributed one
          // by one task with no exchange (see writeSlices) — partitionBy
          // still splits per slot. The delete slice dedups its keys.
          writeSlices(spark, withPartCol(toPhysical(
              ch.filter(col(OpCol).isin("I", "U"))
                .select((cols :+ BucketCol).map(col): _*), meta.schema),
              meta, curPartSpec),
            buildDir, layoutCols(meta), dataWriteOptions(meta), smallKeyed)
          val slice = s"$DvDirName/$DvSeqCol=$next"
          val sliceDir = s"$buildDir/$slice"
          val newDeletes = writeSlices(spark,
              toPhysical(ch.filter(col(OpCol).isin("U", "D"))
                .select((meta.keyCols :+ BucketCol).map(col): _*), meta.schema),
              sliceDir, Seq(BucketCol), NoSuccessFile, smallKeyed, distinct = true)
            .getOrElse(GraftStats.listDataFiles(sliceDir).map { rel =>
              val f = Paths.get(sliceDir, rel)
              rel -> GraftStats.fileRowCount(f).getOrElse(throw
                new IllegalStateException(s"unreadable delete slice $f"))
            }.toMap)
            .map { case (rel, n) => s"$slice/$rel" -> n }
          val newRemoveRows = newDeletes.values.sum
          if (curM.deletes.values.sum + newRemoveRows <= morMaxLiveDeletes) {
            if (newRemoveRows > 0) (Set.empty, newDeletes)
            else { // nothing removed: no slice to keep
              deleteRecursively(Paths.get(dvRoot(buildDir)))
              (Set.empty, Map.empty)
            }
          } else {
            // escalate: discard the staged merge-on-read build and rewrite
            // (touched ∪ every DV-carrying bucket) copy-on-write, applying
            // and clearing all slices in one claimed commit — the
            // LSM-style bound keeping the reader's probe set under the cap
            deleteRecursively(Paths.get(buildDir))
            cowRewrite(touched ++ curM.deletes.keySet.map(dvBucket))
          }
        } else if (touched.nonEmpty) {
          cowRewrite(touched)
        } else {
          Files.createDirectories(Paths.get(buildDir))
          (Set.empty, Map.empty)
        }

      // The two legs write to DIFFERENT staging locations from the same
      // persisted change batch — run their Spark jobs concurrently (the
      // commit's latency is then max(legs), not their sum; per-statement
      // overhead matters when a pipeline issues many small commits).
      val (rewritten, newDeletes) = {
        val chF =
          if (overwrite || linkChangelog)
            // no separate changelog write
            java.util.concurrent.CompletableFuture.completedFuture(())
          else commitLeg(spark)(changelogLeg())
        val dataF = commitLeg(spark)(dataLeg())
        try {
          val r = dataF.get()
          chF.get()
          // link AFTER the data write: the slice is the data files
          if (linkChangelog) linkChangelogSlice(buildDir, chDir)
          r
        } catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
      }

      // per-file write versions and zone maps for the LOCAL files only
      // (all stamped `next` — a file lives forever in the version dir
      // that wrote it; cost ∝ files written); carried files keep their
      // entries in their owner versions' manifests, which is where
      // snapshot resolution looks them up
      val files = ownFiles(buildDir, next)
      // Carry untouched buckets by MANIFEST REFERENCE: the new version's
      // manifest points at the owner versions still holding their files —
      // one line per bucket, never a per-file pass. Buckets this commit
      // rewrote own themselves; buckets it appended to gain `next` as an
      // additional owner; an overwrite carries nothing (the new data IS
      // the version).
      val local = files.keySet.map(slotOf)
      val prevOwners =
        if (overwrite) Map.empty[String, Seq[Long]] else curM.owners
      val newMap = (prevOwners.keySet ++ local).flatMap { slot =>
        val owners =
          if (rewritten.contains(slotBucket(slot)) || overwrite)
            if (local.contains(slot)) Seq(next) else Seq.empty
          else prevOwners.getOrElse(slot, Seq.empty) ++
            (if (local.contains(slot)) Seq(next) else Seq.empty)
        if (owners.isEmpty) None else Some(slot -> owners)
      }.toMap
      // carry still-live delete slices for buckets NOT rewritten this
      // commit (a rewrite APPLIES its buckets' deletes; an overwrite
      // starts from nothing). Physical links stay correct here: the live
      // delete set is cap-bounded, so this is O(changed rows), not
      // O(table).
      val carried =
        if (overwrite) Map.empty[String, Long]
        else linkDvCarry(curDir, buildDir, rewritten)
      val chFinal = Paths.get(changesDir(dir, next))
      // an overwrite is a snapshot boundary for CDC; the idempotent-write
      // record is sealed WITH the commit, so neither "recorded but not
      // committed" (lost write on retry) nor "committed but not recorded"
      // (duplicate on retry) can exist after a crash
      sealVersion(buildDir, curM.next(newMap, files, carried ++ newDeletes)
        .copy(boundary = overwrite, txn = txn))
      build.flip()
      // Publish the changelog: visible name only after the commit point.
      // If staging is already gone, a reader won the publish — done.
      if (!overwrite) {
        try Files.move(Paths.get(chDir), chFinal, StandardCopyOption.ATOMIC_MOVE)
        catch {
          case _: java.nio.file.NoSuchFileException if Files.exists(chFinal) => ()
          case _: java.nio.file.FileAlreadyExistsException => ()
        }
      }
    }
  }

  /** Compact fragmented slots — the maintenance pass that keeps the
    * append fast path honest: INSERT lands new files next to carried
    * references, so a slot accumulates one file per append until
    * rewritten. Leaf slot dirs (`[gpart=v/]gbucket=k` — the bucket itself
    * on unpartitioned tables) with more than `maxFilesPerBucket` files are
    * rewritten (→ one compact file each); the rest carry by reference. The
    * commit is a normal version bump with NO changelog entry — compaction
    * changes layout, not content, so CDC consumers see nothing. Old
    * versions still reference the fragmented files (time travel is
    * unaffected) until [[expireVersions]] drops them. Returns the new
    * version, or the current one if nothing is fragmented.
    *
    * `sortWithin` clusters each rewritten bucket by the given columns
    * (Z-less liquid-clustering): rows land in sorted row groups, so the
    * parquet min/max statistics make range predicates on those columns
    * skip whole row groups — the scan-narrowing complement to the
    * key-hash bucket pruning. Layout-only, like the rest of compaction.
    *
    * `targetFileRows` > 0 caps rows per output file: at 100 TB "one
    * compact file per bucket" is an unbounded file — the cap splits each
    * bucket's (sorted) run into bounded files, and because a sorted run
    * cuts into RANGE-DISJOINT pieces, the commit's zone maps
    * ([[GraftStats]]) then prune range predicates to the few overlapping
    * files WITHIN a bucket, not just across commits.
    *
    * `zorderBy` (exactly two columns) clusters each rewritten bucket by
    * the Morton interleave of both columns instead of a lexicographic
    * sort: with `targetFileRows` each file covers a narrow rectangle in
    * BOTH dimensions, so zone maps prune selective predicates on EITHER
    * column — the layout a single-column sort only provides for its own
    * column (the `OPTIMIZE ZORDER BY` analogue; bounds come from one tiny
    * broadcast aggregate, never a collect). */
  def optimize(spark: SparkSession, dir: String,
      maxFilesPerBucket: Int = 4, sortWithin: Seq[String] = Nil,
      targetFileRows: Long = 0L, zorderBy: Seq[String] = Nil): Long = {
    require(zorderBy.isEmpty || zorderBy.size == 2,
      s"zorder_by takes exactly two columns, got $zorderBy")
    require(zorderBy.isEmpty || sortWithin.isEmpty,
      "sort_by and zorder_by are mutually exclusive")
    recoverChangelog(dir)
    val cur = currentVersion(dir)
    val curDir = versionDir(dir, cur)
    // Fragmentation is SLOT-scoped: a leaf dir (`[gpart=v/]gbucket=k`)
    // over the threshold rewrites ALONE — compacting a hot day's bucket
    // never rewrites that bucket's cold history (a per-bucket count sums
    // across partitions, so a long date-partitioned table would read as
    // permanently fragmented and every optimize would rewrite whole
    // buckets across every partition — O(bucket × history) instead of
    // O(hot slots)). On unpartitioned tables slot == bucket.
    // Buckets carrying live merge-on-read delete slices rewrite ALL their
    // slots: a delete entry can suppress rows in any partition, so
    // clearing the slice requires applying it everywhere — which is what
    // returns a 'mor' table to plain scans (no probe, restored agg
    // pushdown / exact stats).
    val dvB = dvBuckets(curDir)
    val fragmented = slotFileCounts(dir, cur).collect {
      case (s, n) if n > maxFilesPerBucket || dvB.contains(slotBucket(s)) => s
    }.toSet
    // a DV-carrying bucket whose live slots ALL fell away (e.g. an
    // expire_partitions dropped every partition it had files in) leaves
    // orphaned slices: unreachable-dead for reads, but they'd keep the
    // table in mor-scan mode (probe + withheld stats) forever — the
    // clearing commit below must still run, with nothing to rewrite
    if (fragmented.isEmpty && dvB.isEmpty) return cur
    publishNext(dir, cur, "OPTIMIZE") { b =>
      // repartition BY the layout columns: each slot's rows land wholly in
      // one task, so partitionBy writes exactly one compact file per slot.
      // Task count caps at 4× the cores — a full compaction of a
      // many-slot table hashes several slots per task without losing the
      // one-file-per-slot property (partitionBy splits by dir). Physical-
      // named read → physical-named write: compaction never touches the
      // logical mapping.
      val meta = readMeta(dir)
      val sortPhys = sortWithin.map(c => physicalName(meta.schema(c)))
      val nTasks = math.max(1, math.min(fragmented.size,
        spark.sparkContext.defaultParallelism * 4))
      val rep = withPartCol(
          readVersionPhysical(spark, dir, meta, cur, slots = Some(fragmented)),
          meta, versionPartSpec(dir, cur))
        .repartition(nTasks, layoutCols(meta).map(col): _*)
      val clustered =
        if (zorderBy.nonEmpty) {
          val Seq(zx, zy) = zorderBy.map(c => physicalName(meta.schema(c)))
          graft.Graft.withZValue(rep, zx, zy, "__z")
            .sortWithinPartitions(layoutCols(meta).map(col) :+ col("__z"): _*)
            .drop("__z")
        } else if (sortPhys.isEmpty) rep
        else rep.sortWithinPartitions(
          (layoutCols(meta) ++ sortPhys).map(col): _*)
      val writer =
        (if (targetFileRows > 0)
          clustered.write.option("maxRecordsPerFile", targetFileRows)
        else clustered.write).options(dataWriteOptions(meta))
      writer.partitionBy(layoutCols(meta): _*).parquet(b.path)
      // carry the un-fragmented slots by manifest reference; rewritten
      // slots own themselves (a slot whose live rows all fell to deletes
      // simply leaves the map)
      val files = ownFiles(b.path, b.next)
      val local = files.keySet.map(slotOf)
      val curM = manifestOf(curDir)
      val prevOwners = curM.owners
      val owners = (prevOwners.keySet ++ local).flatMap { slot =>
        if (fragmented.contains(slot))
          if (local.contains(slot)) Some(slot -> Seq(b.next)) else None
        else prevOwners.get(slot).map(slot -> _)
      }.toMap
      // every slot of every DV-carrying bucket is in `fragmented`, so no
      // delete slice survives compaction; rewrites stamp `next` (≥ any
      // dseq — stale entries could never match even if one leaked);
      // carried files keep their seqs in their owners' manifests
      sealVersion(b.path, curM.next(owners, files))
      b.flip()
    }
  }

  /** Change the table's hash-bucket fan-out — `CALL rebucket(table, n)`:
    * ONE claimed commit that re-hashes every row into `newBuckets`
    * directories (one compact file each) and flips the pointer, plus a
    * meta update so future change batches bucket under the new count.
    * Layout, not content: no changelog slice, CDC consumers see nothing —
    * the same contract as [[optimize]]. This is the operational escape
    * hatch the fixed CREATE-time count needs at 100 TB: when buckets
    * outgrow "a few GB each", re-bucket to a higher fan-out and point
    * lookups/SPJ/CoW granularity all follow (their machinery reads the
    * per-version manifest's bucket count, so old versions keep pruning
    * correctly under their own layout and time travel is unaffected).
    *
    * Crash-safe at every boundary: the new version dir + its manifest land
    * before the meta update, the meta update (under the meta lock) before
    * the pointer flip; a crash in between leaves meta.buckets ahead of the
    * layout, which is harmless — every reader AND writer derives the
    * effective fan-out from the current version's manifest
    * ([[versionBuckets]]), never from meta alone. */
  def rebucket(spark: SparkSession, dir: String, newBuckets: Int): Long = {
    require(newBuckets > 0, "buckets must be positive")
    recoverChangelog(dir)
    val meta = readMeta(dir)
    val cur = currentVersion(dir)
    // a same-count rebucket is a no-op ONLY when the snapshot is also
    // partition-era-uniform: after set_partition_spec, `CALL rebucket`
    // with the existing count is the documented re-grain (full rewrite
    // under the current grain, pruning resumes)
    if (versionBuckets(dir, cur) == newBuckets &&
        meta.buckets == newBuckets &&
        snapshotPartSpecs(dir, cur, meta).size <= 1)
      return cur
    publishNext(dir, cur, "REBUCKET") { b =>
      val physKeys = bucketColsOf(meta).map(k => physicalName(meta.schema(k)))
      withPartCol(readVersionPhysical(spark, dir, meta, cur)
          .drop(BucketCol)
          .withColumn(BucketCol, bucketExpr(physKeys, newBuckets)), meta,
          versionPartSpec(dir, cur))
        .repartition(newBuckets, col(BucketCol))
        .write.options(dataWriteOptions(meta))
            .partitionBy(layoutCols(meta): _*).parquet(b.path)
      // every file rewritten (DVs applied)
      val files = ownFiles(b.path, b.next)
      sealVersion(b.path, manifestOf(versionDir(dir, cur))
        .next(selfOwned(files, b.next), files).copy(buckets = newBuckets))
      withMetaLock(dir) {
        val m = readMeta(dir) // re-read: fold over concurrent ALTERs
        writeMeta(dir, m.copy(buckets = newBuckets))
      }
      b.flip()
    }
  }

  /** Roll the table back to a retained earlier version — `CALL
    * restore(table, v)`, the undo-a-bad-write operation. One claimed
    * commit whose new version HARD-LINKS the target version's files
    * (cost ∝ file count — at 100 TB a restore is links/manifest refs, not
    * a copy); history is preserved, the pointer only ever moves forward,
    * so time travel to the undone versions still works until
    * [[expireVersions]] drops them. Like TRUNCATE/overwrite, a restore
    * writes NO changelog slice: the missing slice is the detectable
    * snapshot boundary — a CDC consumer folding past it would resurrect
    * the undone writes, so it must re-snapshot instead. The restored
    * version keeps the TARGET's bucket fan-out and partition spec, so a
    * restore across a [[rebucket]] prunes correctly under the old layout
    * and later writes re-derive from it. */
  def restore(dir: String, toVersion: Long): Long = {
    recoverChangelog(dir)
    val cur = currentVersion(dir)
    require(listVersions(dir).contains(toVersion),
      s"table $dir has no retained version $toVersion " +
        s"(have ${listVersions(dir)})")
    if (toVersion == cur) return cur
    publishNext(dir, cur, "RESTORE") { b =>
      val srcV = versionDir(dir, toVersion)
      Files.createDirectories(Paths.get(b.path))
      // pure metadata commit: the new version's owner map is the
      // target's verbatim — O(buckets), no per-file pass at any table
      // size — under the target's layout, stamped after the current head
      val target = manifestOf(srcV)
      val ownerMap = target.owners
      // the restored state includes the target's live delete slices
      // verbatim (physical cap-bounded links) — a merge-on-read version
      // restores to exactly the rows it read as; file seqs stay in the
      // owner versions' manifests
      // restore = snapshot boundary for CDC
      sealVersion(b.path, manifestOf(versionDir(dir, cur))
        .next(ownerMap, deletes = linkDvCarry(srcV, b.path, Set.empty))
        .copy(buckets = target.buckets, partSpec = target.partSpec,
          boundary = true))
      // Re-check against a concurrent expireVersions (a maintenance op that
      // runs without a commit claim): since restore is a pure metadata
      // commit, nothing before this point touched the owner slot dirs the
      // new manifest points at — an expire racing us could have retired the
      // target and deleted some of them, and publishing anyway would ship a
      // manifest whose reads fail on the swept files. Fail loudly
      // instead. An expiry landing between this check and the move is
      // still possible: expireVersions takes no claim.
      if (!listVersions(dir).contains(toVersion))
        throw new java.util.ConcurrentModificationException(
          s"table $dir version $toVersion was expired during RESTORE; aborting")
      val gone = ownerMap.toSeq.flatMap { case (s, os) =>
        os.map(o => s"${versionDir(dir, o)}/$s")
      }.filterNot(d => Files.isDirectory(Paths.get(d)))
      if (gone.nonEmpty)
        throw new java.util.ConcurrentModificationException(
          s"RESTORE of $dir to version $toVersion lost referenced slot dirs " +
            s"to a concurrent expire (${gone.take(3).mkString(", ")}…); aborting")
      b.flip()
    }
  }

  /** ANALYZE — `CALL analyze(table)`: ONE aggregate job over the current
    * version computing per-column approximate NDV, null count, and
    * min/max (atomic columns), persisted at the table level and served to
    * the planner through the scan's `Statistics.columnStats()`
    * ([[org.apache.spark.sql.GraftScan.estimateStatistics]]) — the
    * cardinality input Spark's CBO join estimation works from. Returns the
    * analyzed version. Values normalize into the zone-map comparison
    * domains (dates → epoch days, timestamps → micros), so the planner
    * sees catalyst-comparable endpoints. */
  def analyzeTable(spark: SparkSession, dir: String,
      histogramBins: Int = 0): Long = {
    val meta = readMeta(dir)
    val cur = currentVersion(dir)
    val supported = meta.schema.fields.filter(f => f.dataType match {
      case ByteType | ShortType | IntegerType | LongType | FloatType |
           DoubleType | BooleanType | StringType | DateType |
           TimestampType | TimestampNTZType => true
      case _ => false
    })
    if (supported.isEmpty) return cur
    val df = readVersion(spark, dir, cur)
    // count(*) rides in the same one-pass aggregate: the analyzed row
    // count is the staleness signal freshTableColStats compares against
    val aggs = count(lit(1)).as("__rows") +: supported.flatMap { f =>
      val c = col(f.name)
      Seq(approx_count_distinct(c).as(s"ndv_${f.name}"),
        count(when(c.isNull, 1)).as(s"nulls_${f.name}"),
        min(c).as(s"min_${f.name}"), max(c).as(s"max_${f.name}"))
    }
    val row = df.agg(aggs.head, aggs.tail.toIndexedSeq: _*).head()
    val analyzedRows = row.getLong(0)
    def norm(dt: DataType, v: Any): (String, Option[Any]) = (dt, v) match {
      case (_, null) => (kindOfType(dt), None)
      case (DateType, d: java.sql.Date) =>
        ("l", Some(d.toLocalDate.toEpochDay))
      case (TimestampType | TimestampNTZType, t: java.sql.Timestamp) =>
        ("l", Some(t.toInstant.getEpochSecond * 1000000L +
          t.toInstant.getNano / 1000L))
      case (TimestampNTZType, t: java.time.LocalDateTime) =>
        ("l", Some(t.toInstant(java.time.ZoneOffset.UTC).getEpochSecond *
          1000000L + t.getNano / 1000L))
      case (_, n: java.lang.Number)
          if kindOfType(dt) == "l" => ("l", Some(n.longValue()))
      case (_, n: java.lang.Number)
          if kindOfType(dt) == "d" => ("d", Some(n.doubleValue()))
      case (_, b: java.lang.Boolean) => ("b", Some(b.booleanValue()))
      case (_, s: String) => ("s", Some(s))
      case _ => (kindOfType(dt), None)
    }
    val stats = supported.zipWithIndex.map { case (f, i) =>
      val ndv = row.getLong(1 + i * 4)
      val nulls = row.getLong(1 + i * 4 + 1)
      val (kind, mn) = norm(f.dataType, row.get(1 + i * 4 + 2))
      val (_, mx) = norm(f.dataType, row.get(1 + i * 4 + 3))
      physicalName(f) -> GraftStats.TableColStat(kind, ndv, nulls, mn, mx)
    }.toMap
    val withHists =
      if (histogramBins <= 1) stats
      else stats ++ histograms(spark, df, supported.toSeq, stats,
        histogramBins, analyzedRows)
        .map { case (c, h) => c -> stats(c).copy(histogram = Some(h)) }
    GraftStats.writeTableColStats(dir, cur, analyzedRows, withHists)
    cur
  }

  /** Equi-height histograms for the numeric/date/timestamp columns (kind
    * 'l'/'d'): bin edges from one `percentile_approx` pass over every
    * column at once, per-bin NDV from one more aggregate pass (bins ×
    * columns `approx_count_distinct(when(...))` aggregates — two extra
    * distributed jobs total, never per-column). This is the skew signal
    * min/max interpolation can't carry: Catalyst's filter and join
    * estimation consume the bins directly under CBO, so a predicate into
    * a sparse range estimates small even when min/max span is huge. */
  private def histograms(spark: SparkSession, df: DataFrame,
      supported: Seq[StructField], stats: Map[String, GraftStats.TableColStat],
      bins: Int, analyzedRows: Long): Map[String, GraftStats.ColHistogram] = {
    val histCols = supported.filter { f =>
      val k = stats(physicalName(f)).kind
      (k == "l" || k == "d") && stats(physicalName(f)).min.isDefined
    }
    if (histCols.isEmpty) return Map.empty
    def asD(f: StructField): Column = f.dataType match {
      case TimestampType | TimestampNTZType =>
        unix_micros(col(f.name)).cast(DoubleType)
      case DateType => datediff(col(f.name), lit(java.sql.Date.valueOf(
        "1970-01-01"))).cast(DoubleType)
      case _ => col(f.name).cast(DoubleType)
    }
    val fractions = (0 to bins).map(_.toDouble / bins)
    val pctAggs = histCols.map(f => percentile_approx(asD(f),
      lit(fractions.toArray), lit(10000)).as(s"p_${f.name}"))
    val pctRow = df.agg(pctAggs.head, pctAggs.tail: _*).head()
    val edges: Map[String, Seq[Double]] = histCols.zipWithIndex.map {
      case (f, i) => f.name -> pctRow.getSeq[Double](i) }.toMap
    // per-bin NDV, all columns in one pass: bin membership by edge range
    // (upper-inclusive, first bin closed at both ends — Spark's own
    // histogram bin convention)
    val ndvAggs = histCols.flatMap { f =>
      val es = edges(f.name)
      (0 until bins).map { b =>
        val lo = es(b); val hi = es(b + 1)
        val cond =
          if (b == 0) asD(f) >= lo && asD(f) <= hi
          else asD(f) > lo && asD(f) <= hi
        approx_count_distinct(when(cond, asD(f))).as(s"h_${f.name}_$b")
      }
    }
    val ndvRow = df.agg(ndvAggs.head, ndvAggs.tail: _*).head()
    histCols.zipWithIndex.map { case (f, fi) =>
      val es = edges(f.name)
      val binStats = (0 until bins).map { b =>
        (es(b), es(b + 1), math.max(1L, ndvRow.getLong(fi * bins + b)))
      }
      val s = stats(physicalName(f))
      // equi-height by construction (percentile edges): height =
      // non-null rows / bins, the invariant Catalyst's estimation assumes
      physicalName(f) -> GraftStats.ColHistogram(
        (analyzedRows - s.nullCount).toDouble / bins, binStats)
    }.toMap
  }

  /** Staleness bound for served ANALYZE stats: column stats survive DML
    * after the analyzed version only while the CURRENT snapshot's row
    * count stays within this fraction of the analyzed one — a table that
    * grew or shrank past ±50% serves estimates worse than none, so the
    * scan withholds them until the next `CALL analyze`. */
  private[sources] val StatsMaxStaleFraction = 0.5

  /** ANALYZE column stats for scanning (`dir`, `version`) — EMPTY when the
    * persisted stats are stale. Fresh means: analyzed at this exact
    * version, or the scanned snapshot's manifest row count drifted less
    * than [[StatsMaxStaleFraction]] from the analyzed row count. Row/byte
    * estimates are per-scan from zone maps and never go through here —
    * only column NDV/min-max age. */
  def freshTableColStats(dir: String, version: Long)
      : Map[String, GraftStats.TableColStat] =
    GraftStats.readTableColStatsFull(dir) match {
      case Some((av, _, m)) if av == version => m
      case Some((_, arows, m)) =>
        snapshotRowCount(dir, version) match {
          case Some(cur)
              if math.abs(cur - arows).toDouble <=
                StatsMaxStaleFraction * math.max(arows, 1L) => m
          case _ => Map.empty
        }
      case _ => Map.empty
    }

  private def kindOfType(dt: DataType): String = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType |
         TimestampType | TimestampNTZType => "l"
    case FloatType | DoubleType => "d"
    case BooleanType => "b"
    case _ => "s"
  }

  /** Partition-scoped retention — `CALL expire_partitions(table, below)`:
    * ONE claimed commit whose new version simply OMITS every slot whose
    * partition ordinal is below the bound from its owner map. Pure
    * metadata at any table size (no file is read, moved, or deleted —
    * older versions still reference the dropped partitions until
    * [[expireVersions]] reclaims them), which is exactly what makes
    * date-grained retention viable at 100 TB. Like TRUNCATE/overwrite it
    * writes NO changelog slice and stamps the snapshot-boundary marker:
    * rows disappeared without per-row D entries, so a CDC fold across it
    * must re-snapshot. Ordinals compare numerically when both sides parse
    * as integers (the time transforms and integral identity), else as
    * strings. Returns the new version (or the current one if nothing
    * matched). */
  def expirePartitions(dir: String, below: String): Long = {
    recoverChangelog(dir)
    val meta = readMeta(dir)
    require(meta.partition.isDefined,
      s"table $dir has no PARTITIONED BY transform")
    val cur = currentVersion(dir)
    // MIXED partition grains make ordinal comparison meaningless across
    // owner dirs — require era uniformity (rebucket re-grains everything)
    val eras = snapshotPartSpecs(dir, cur, meta)
    require(eras.size <= 1,
      s"table $dir mixes partition grains ${eras.map(_._1).mkString("/")} " +
        "after set_partition_spec — CALL rebucket to re-grain before " +
        "expire_partitions")
    val effSpec = eras.headOption.orElse(versionPartSpec(dir, cur))
    // compare UNESCAPED values (partitionBy escapes special chars into the
    // dir name) and never drop the null-partition sentinel — NULL cannot
    // satisfy an ordering bound
    val defaultName = org.apache.spark.sql.catalyst.catalog
      .ExternalCatalogUtils.DEFAULT_PARTITION_NAME
    // The comparison domain is fixed ONCE by the table's partition
    // transform, never per-value: time transforms write integer ordinals
    // and identity over an integral column writes integers → numeric;
    // identity over string/date/timestamp columns writes (escaped) string
    // values whose ISO forms order lexicographically → string. Deciding
    // per-directory by parseability would flip the basis between dirs
    // (e.g. values '9' and 'abc' against below='10'), so the dropped set
    // would follow no single total order.
    val numericDomain = effSpec.exists { case (fn, physCol) =>
      fn != "identity" || meta.schema.fields
        .find(f => physicalName(f) == physCol)
        .exists(_.dataType match {
          case ByteType | ShortType | IntegerType | LongType => true
          case _ => false
        })
    }
    val belowNum = below.toLongOption
    if (numericDomain) require(belowNum.isDefined,
      s"expire_partitions bound '$below' must be an integer ordinal for " +
        s"transform ${effSpec.map(_._1).getOrElse("?")}")
    def lt(rawDir: String): Boolean = {
      if (rawDir == defaultName) return false
      val a = org.apache.spark.sql.catalyst.catalog
        .ExternalCatalogUtils.unescapePathName(rawDir)
      if (numericDomain)
        // a non-parsing dir value cannot exist for these transforms; if one
        // ever does, keep it (conservative) rather than guess an order
        a.toLongOption.exists(_ < belowNum.get)
      else a < below
    }
    val owners = ownersOf(dir, cur)
    val keepMap = owners.filter { case (slot, _) =>
      !slotPart(slot).exists(lt)
    }
    if (keepMap.size == owners.size) return cur
    publishNext(dir, cur, "EXPIRE PARTITIONS") { b =>
      Files.createDirectories(Paths.get(b.path))
      // a merge-on-read table's live delete slices MUST carry across the
      // retention commit: slices are keyed (bucket, key), deliberately NOT
      // partition-scoped (an update that moves a row between partitions
      // cannot know the old partition value without reading the base —
      // the read mor exists to avoid), so dropping partitions never makes
      // a slice obsolete and dropping the slices would resurrect deleted
      // rows in every KEPT partition. Cap-bounded links, O(changed rows).
      val curDir = versionDir(dir, cur)
      // a boundary: rows vanish with no changelog slice
      sealVersion(b.path, manifestOf(curDir).next(keepMap,
        deletes = linkDvCarry(curDir, b.path, Set.empty)).copy(boundary = true))
      b.flip()
    }
  }

  /** Drop changelog slices below `keepFromVersion` — changelog retention.
    * Replay/stream consumers must have advanced past the horizon; after
    * this, reconstruction older than the horizon needs a kept snapshot
    * version (the same contract as any log-compacted CDC feed). */
  def expireChanges(dir: String, keepFromVersion: Long): Unit = {
    val root = Paths.get(changesRoot(dir))
    if (!Files.isDirectory(root)) return
    // Record the horizon BEFORE deleting (monotone, staged+atomic like the
    // pointer): "no changelog below v" and "this version committed no
    // changes" are indistinguishable from the directory listing alone, so
    // a resuming CDC stream needs this marker to tell a harmless gap from
    // silently-skipped history (see GraftChangesMicroBatchStream).
    val h = math.max(keepFromVersion, changesHorizon(dir))
    val tmp = Paths.get(changesRoot(dir), "_horizon.tmp")
    Files.write(tmp, h.toString.getBytes("UTF-8"))
    Files.move(tmp, Paths.get(changesRoot(dir), "_horizon"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    retainedSlices(dir, to = keepFromVersion - 1)
      .foreach(v => deleteRecursively(Paths.get(changesDir(dir, v))))
    GraftStreamLimits.invalidate(dir)
    // promoted boundary markers below the horizon are subsumed by the
    // horizon check itself (any resume below it already fails loudly)
    listDir(root)(_.map(_.getFileName.toString)
      .filter(_.matches("_boundary-\\d{10}"))
      .filter(_.stripPrefix("_boundary-").toLong < keepFromVersion).toList)
      .foreach(n => Files.deleteIfExists(Paths.get(changesRoot(dir), n)))
  }

  /** Lowest version whose changelog slice is guaranteed retained (slices
    * below it were dropped by [[expireChanges]]; 0 = nothing ever expired). */
  def changesHorizon(dir: String): Long = {
    val p = Paths.get(changesRoot(dir), "_horizon")
    if (!Files.exists(p)) 0L
    else new String(Files.readAllBytes(p), "UTF-8").trim.toLong
  }

  /** Whether version `v` was a snapshot-boundary commit. TRUNCATE /
    * INSERT OVERWRITE / RTAS / CALL restore / expire_partitions commit NO
    * changelog slice, and a CDC fold ACROSS one resurrects the undone rows
    * — but from the changes directory alone a boundary is
    * indistinguishable from a harmless changelog-less maintenance commit
    * (optimize/rebucket also leave a missing slice). Boundary commits
    * therefore seal the flag in their manifest — atomic with the publish
    * rename, so a crash pre-flip can never leave a spurious boundary —
    * and [[expireVersions]] promotes it to a persistent `_boundary-<v>`
    * file under the changes root before dropping the dir, so a resuming
    * CDC stream still detects the boundary after the version itself is
    * expired. The manifest is read BEFORE the promoted file: an expiry
    * between the two reads promotes the flag before it removes the dir. */
  def isBoundary(dir: String, v: Long): Boolean =
    manifestHead(versionDir(dir, v)).exists(_.boundary) ||
      Files.exists(Paths.get(changesRoot(dir), f"_boundary-$v%010d"))

  /** Snapshot-boundary versions in [from, to] — retained versions'
    * manifests, then the flags [[expireVersions]] promoted (in that order,
    * see [[isBoundary]]). */
  def boundariesIn(dir: String, from: Long, to: Long): Seq[Long] = {
    val live = listVersions(dir).filter(v => v >= from && v <= to)
      .filter(v => manifestHead(versionDir(dir, v)).exists(_.boundary))
    val root = Paths.get(changesRoot(dir))
    val promoted =
      if (!Files.isDirectory(root)) Seq.empty[Long]
      else listDir(root)(_.map(_.getFileName.toString)
        .filter(_.matches("_boundary-\\d{10}"))
        .map(_.stripPrefix("_boundary-").toLong)
        .filter(v => v >= from && v <= to).toSeq)
    (live ++ promoted).distinct.sorted
  }

  /** Latest snapshot-boundary version, if any — the floor below which a
    * fresh CDC stream must not start its fold. */
  def latestBoundary(dir: String): Option[Long] =
    boundariesIn(dir, 0L, Long.MaxValue).lastOption

  /** Remove abandoned write debris: `_staging/<queryId>` dirs and stale
    * claim tombs older than `olderThanMillis`. A LIVE write keeps its
    * staging dir's mtime fresh for its whole commit (the commit-claim
    * heartbeat touches it while the decode/rewrite jobs lazily read the
    * staged .bin files — see [[withClaimHeartbeat]]), so with the default
    * 1 h threshold an age-out really does mean an abandoned writer, not an
    * in-flight commit that merely outran its task writers. Committed data,
    * versions, and changelog are never touched. Returns the number of
    * entries removed. */
  def vacuum(dir: String, olderThanMillis: Long = 3600000L): Long = {
    // resolve any group-commit marker FIRST: a DECIDED-but-incomplete
    // group's adopted build dirs are its roll-forward payload —
    // completing (or aborting) the group here means the sweep below can
    // never reclaim dirs a committed group still needs (post-recovery, a
    // committed member's builds are published; an aborted group's are
    // genuinely debris)
    recoverGroupCommit(dir)
    val now = System.currentTimeMillis()
    var removed = 0L
    def age(p: Path): Long =
      try now - Files.getLastModifiedTime(p).toMillis
      catch { case _: java.nio.file.NoSuchFileException => -1L }
    // liveness of a tree = the NEWEST mtime anywhere in it: a live
    // CTAS/RTAS or clone keeps writing files deep inside without touching
    // its root mtime, and killing an in-flight statement is worse than
    // keeping an orphan another hour
    def treeAge(p: Path): Long = try {
      val walk = Files.walk(p)
      try now - walk.iterator().asScala.map(f =>
        try Files.getLastModifiedTime(f).toMillis
        catch { case _: Exception => now }).foldLeft(0L)(math.max)
      finally walk.close()
    } catch { case _: Exception => -1L }
    // remove the entries of `root` whose names `pick` selects and that
    // `dead` judges abandoned
    def sweep(root: Path)(pick: String => Boolean)(dead: Path => Boolean)
        : Unit =
      if (Files.isDirectory(root))
        listDir(root)(_.filter(p => pick(p.getFileName.toString)).toList)
          .foreach(p => if (dead(p)) { deleteRecursively(p); removed += 1 })
    val old = (p: Path) => age(p) > olderThanMillis
    sweep(Paths.get(dir, "_staging"))(_ => true)(old)
    sweep(Paths.get(dir))(_.startsWith("_current.tmp-"))(old) // crash debris
    // lease and marker tombs ([[removeIf]]), and expireVersions'
    // rename-then-sweep version tombs (a crash between the move and the
    // recursive delete) — invisible to every listing, reclaimed at once
    sweep(Paths.get(dir))(n =>
      n.matches("(_commit-\\d{10}|_meta_lock|_groupcommit)\\.stale-\\d+") ||
        n.matches("v\\d{10}\\.expired-\\d+"))(_ => true)
    // abandoned writer-private build dirs (vN.build-<token>): their
    // writers died or lost the move. A won move's builds were published
    // by this currentVersion call, and a live publish heartbeats a claim
    // per version it builds, so a fresh claim keeps its builds.
    currentVersion(dir)
    sweep(Paths.get(dir))(_.matches("v\\d{10}\\.build-.*")) { p =>
      val claim = Paths.get(dir, s"_commit-${p.getFileName.toString.slice(1, 11)}")
      old(p) && (!Files.exists(claim) || leaseStale(claim, olderThanMillis))
    }
    // abandoned CTAS/RTAS stage dirs and clone builds live as SIBLINGS of
    // the table dir (`<table>.stage-<uuid>` / `<table>.clonebuild-<uuid>`):
    // their sessions died before commitStagedChanges/the clone rename
    val self = Paths.get(dir).getFileName.toString
    Option(Paths.get(dir).getParent).foreach(sweep(_)(n =>
      n.startsWith(s"$self.stage-") || n.startsWith(s"$self.clonebuild-"))(
      treeAge(_) > olderThanMillis))
    // a crashed createBranch/rebaseBranch leaks its full hard-linked
    // clone under `_branches/.creating-*` (and a crashed rebase swap the
    // displaced original under `_branches/.prerebase-*`) — never
    // promoted, invisible to listBranches
    sweep(branchesRoot(dir))(n =>
      n.startsWith(".creating-") || n.startsWith(".prerebase-"))(
      treeAge(_) > olderThanMillis)
    // claim markers for versions AT OR BELOW the pointer are definitionally
    // dead (claims only gate versions above it): their writer committed and
    // was killed before releasing, or lost a takeover race post-move. The
    // age gate keeps a racing claim for cur+1 read during a concurrent
    // move safe.
    val cur = currentVersion(dir)
    sweep(Paths.get(dir))(n => n.matches("_commit-\\d{10}") &&
      n.drop("_commit-".length).toLong <= cur)(old)
    removed + expireTxnBranches(dir, olderThanMillis)
  }

  /** Reclaim hidden transaction branches (`txn-*`, [[GraftTxn]]) whose
    * last COMMIT activity predates the retention window — the GC for
    * branches leaked by sessions that died between begin_txn and
    * commit/rollback (nothing else ever sweeps them; each holds a full
    * hard-linked clone plus whatever the txn staged). Activity is
    * commit-granular and O(2) stats per branch: the branch pointer's
    * mtime (every branch commit rewrites it) or the fork stamp's at
    * birth. A LIVE txn idle past the window loses its branches too —
    * its next statement or commit_txn then refuses LOUDLY ("lost its
    * branch") and the session can only roll back; nothing was ever
    * published, so the failure mode is a refused commit, never a torn
    * or silent one — the same contract as a warehouse's idle-txn
    * timeout. User-named (S40) branches are never touched. Runs inside
    * [[vacuum]] with its window, callable alone for a tighter one. */
  def expireTxnBranches(dir: String, olderThanMillis: Long): Long = {
    val now = System.currentTimeMillis()
    var dropped = 0L
    listBranches(dir).filter(_.startsWith("txn-")).foreach { n =>
      if (txnBranchLastActivity(dir, n).exists(now - _ > olderThanMillis))
        try { dropBranch(dir, n); dropped += 1 }
        catch { // raced its own commit/rollback
          case scala.util.control.NonFatal(_) => ()
        }
    }
    dropped
  }

  /** Last commit-activity instant of a txn branch (pointer mtime, fork
    * stamp at birth) — [[expireTxnBranches]]'s gate, exposed so
    * maintenance_report can count leak candidates without dropping. */
  private[sources] def txnBranchLastActivity(dir: String,
      name: String): Option[Long] = {
    val bd = branchDir(dir, name)
    val stamps = Seq(pointerPath(bd), Paths.get(bd, ForkBaseName))
      .flatMap { p =>
        try Some(Files.getLastModifiedTime(p).toMillis)
        catch { case _: java.io.IOException => None }
      }
    if (stamps.isEmpty) None else Some(stamps.max)
  }

  /** Changes-table schema: logical columns (all nullable — delete rows
    * carry only the key), the operation, and the committing version. */
  def changesSchema(meta: GraftTableMeta): StructType = {
    val nullable = StructType(meta.schema.fields.map(_.copy(nullable = true)).toSeq)
    StructType(nullable.fields.toSeq ++ Seq(
      StructField(ChangeOpCol, StringType, nullable = false),
      StructField(ChangeBeforeCol, nullable, nullable = true),
      StructField(ChangeVersionCol, LongType, nullable = false)))
  }

  /** [[changesSchema]] with file (physical) names, flat and inside the
    * before-image struct. */
  def physicalChangesSchema(meta: GraftTableMeta): StructType =
    StructType(changesSchema(meta).fields.map {
      case f if f.name == ChangeBeforeCol =>
        f.copy(dataType = physicalSchema(f.dataType.asInstanceOf[StructType]))
      case f if meta.schema.fieldNames.contains(f.name) =>
        f.copy(name = physicalName(meta.schema(f.name)))
      case f => f
    }.toSeq)

  /** Read the committed changelog for versions in [fromV, toV]: the
    * `t$changes` table's scan over exactly that range (see
    * [[GraftChangesTable]]), capped at the pointer and in logical names. */
  def readChanges(spark: SparkSession, dir: String, fromV: Long, toV: Long): DataFrame =
    org.apache.spark.sql.GraftSqlShim.ofRows(spark,
      org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
        .create(new GraftChangesTable(s"graft-changes:$dir", dir), None, None))
      .filter(col(ChangeVersionCol).between(fromV, toV))

  /** Replay a changelog slice onto a base snapshot. Because every change
    * row carries the FULL row image, multi-version replay collapses to
    * last-writer-wins per key: one max_by aggregate + one anti-join — no
    * per-version iteration, one shuffle each, which is what makes replay
    * viable when the slice spans thousands of commits of a 100 TB table.
    * Assumes the merge-key discipline the row-level surface maintains
    * (one live row per key); a changelog containing duplicate-key INSERT
    * appends within one version replays to one survivor per key. */
  def replayChanges(base: DataFrame, changes: DataFrame, meta: GraftTableMeta): DataFrame = {
    val cols = meta.schema.fieldNames.toSeq
    // keyless (append-only) changelogs are all-I by the write guard:
    // replay is a plain union, no per-key folding to do
    if (meta.keyCols.isEmpty)
      return base.select(cols.map(col): _*).unionByName(
        changes.filter(col(ChangeOpCol) === "I").select(cols.map(col): _*))
    // max_by orders by (version, op-rank): a key-reassigning update emits
    // D(old key) and U(new key) in ONE version, so a key can legitimately
    // carry both a delete and a live image at the same version (key swap)
    // — the live image wins the tie, matching the store's state.
    val opRank = when(col(ChangeOpCol) === "D", lit(0)).otherwise(lit(1))
    val last = changes.groupBy(meta.keyCols.map(col): _*)
      .agg(max_by(
        struct((cols :+ ChangeOpCol).map(col): _*),
        struct(col(ChangeVersionCol), opRank.as("r"))).as("r"))
      .select(cols.map(c => col(s"r.$c").as(c)) :+
        col(s"r.$ChangeOpCol").as(ChangeOpCol): _*)
    val survivors = last.filter(col(ChangeOpCol).isin("I", "U"))
      .select(cols.map(col): _*)
    base.join(last.select(meta.keyCols.map(col): _*), meta.keyCols, "left_anti")
      .select(cols.map(col): _*)
      .unionByName(survivors)
  }

  /** Incrementally maintain a grouped (COUNT(*), SUM(aggCol)) materialized
    * view from a changelog slice, using the before/after images:
    * after-images (I/U) contribute (+1, +agg) to their group, before-images
    * (U/D) contribute (−1, −agg) to THEIR group — which handles rows whose
    * update MOVES them between groups — then one full-outer merge with the
    * previous view state drops groups whose count reaches zero.
    *
    * `mv` schema: groupCols ++ (n BIGINT, s BIGINT); an empty view is a
    * valid start. Cost ∝ changelog slice + |view|, never ∝ |table| — the
    * point of maintaining a view incrementally at 100 TB. Group keys are
    * merged null-safely (`<=>`), so nullable group columns fold correctly.
    */
  def incrementalAgg(mv: DataFrame, changes: DataFrame,
      groupCols: Seq[String], aggCol: String): DataFrame = {
    val adds = changes.filter(col(ChangeOpCol).isin("I", "U"))
      .select(groupCols.map(col) :+ lit(1L).as("dn") :+
        col(aggCol).cast(LongType).as("ds"): _*)
    val subs = changes.filter(col(ChangeOpCol).isin("U", "D"))
      .select(groupCols.map(c => col(s"$ChangeBeforeCol.$c").as(c)) :+
        lit(-1L).as("dn") :+
        (-col(s"$ChangeBeforeCol.$aggCol")).cast(LongType).as("ds"): _*)
    val delta = adds.unionByName(subs)
      .groupBy(groupCols.map(col): _*)
      .agg(sum(col("dn")).as("dn"), sum(col("ds")).as("ds"))
    val d = delta.select(delta.columns.map(c => col(c).as(s"d_$c")): _*)
    val joinCond = groupCols.map(c => col(c) <=> col(s"d_$c")).reduce(_ && _)
    mv.join(d, joinCond, "full_outer")
      .select(groupCols.map(c => coalesce(col(c), col(s"d_$c")).as(c)) :+
        (coalesce(col("n"), lit(0L)) + coalesce(col("d_dn"), lit(0L))).as("n") :+
        (coalesce(col("s"), lit(0L)) + coalesce(col("d_ds"), lit(0L))).as("s"): _*)
      .filter(col("n") > 0)
  }

  private def deleteRecursively(p: Path): Unit = {
    hook("deleteRecursively")
    // deleteIfExists + swallowed NoSuchFile: two sweepers can race on
    // the same debris tree (vacuum vs expireVersions' tomb sweep, or two
    // group-commit resolvers consuming the same branch) and concurrent
    // deletion of the same entry must not crash either. Files.walk is
    // LAZY: a subtree vanishing mid-iteration surfaces as an
    // UncheckedIOException(NoSuchFileException) from the iterator itself
    // — re-walk until the root is gone, so an aborted pass can never
    // leave a partial tree squatting on the name (the tree only
    // shrinks, so this terminates).
    var attempts = 0
    while (Files.exists(p) && attempts < 50) {
      attempts += 1
      val s = try Files.walk(p)
      catch { case _: java.nio.file.NoSuchFileException => return }
      try {
        try s.sorted(java.util.Comparator.reverseOrder[Path]())
          .iterator().asScala.foreach { f =>
            try Files.deleteIfExists(f)
            catch {
              case _: java.nio.file.NoSuchFileException => ()
              // a dir whose child was re-listed by our walk but deleted by
              // the other sweeper can briefly read non-empty; the re-walk
              // (or the other sweeper) finishes it
              case _: java.nio.file.DirectoryNotEmptyException => ()
            }
          }
        catch {
          case e: java.io.UncheckedIOException
              if e.getCause.isInstanceOf[java.nio.file.NoSuchFileException] =>
            () // racer shredded the tree mid-walk; re-walk
        }
      } finally s.close()
    }
  }
}
