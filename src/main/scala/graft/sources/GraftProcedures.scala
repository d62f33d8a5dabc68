package graft.sources

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

/** The store's maintenance surface as native SQL stored procedures
  * (Spark 4 DSv2 `ProcedureCatalog`), so an operator never leaves SQL:
  *
  * {{{
  *   CALL graftdml.optimize(table => 'users', max_files_per_bucket => 4)
  *   CALL graftdml.expire_versions('users', 3)
  *   CALL graftdml.expire_changes('users', 7)
  * }}}
  *
  * Each call routes to the corresponding [[GraftStore]] maintenance
  * operation (same claim-coordinated commit protocol as DML) and returns
  * a one-row result summarizing what happened. */
object GraftProcedures {
  val Names: Seq[String] = Seq("optimize", "rebucket", "clone", "restore",
    "expire_versions", "expire_changes", "expire_partitions", "vacuum",
    "analyze", "maintenance_report", "create_tag", "drop_tag",
    "refresh_mv", "create_branch", "drop_branch", "fast_forward",
    "publish_group", "begin_txn", "commit_txn", "rollback_txn",
    "savepoint", "rollback_to_savepoint", "snapshot_group",
    "rebase_branch", "set_partition_spec")

  private[sources] val Descriptions: Map[String, String] = Map(
    "optimize" -> ("compact leaf slots (partition x bucket dirs) with more " +
      "than max_files_per_bucket files into one file each " +
      "(new version, no changelog entry)"),
    "rebucket" -> ("rewrite the table under a new hash-bucket fan-out " +
      "(one claimed commit, no changelog entry; pruning/SPJ/CoW follow " +
      "the new count, old versions keep their own)"),
    "clone" -> ("zero-copy shallow clone: target's v0 hard-links the " +
      "source's current version; schema/keys/fan-out copied, history " +
      "and changelog fresh, both sides evolve independently"),
    "restore" -> ("roll back to a retained version as a NEW hard-linked " +
      "commit (history preserved, no changelog slice — CDC consumers " +
      "re-snapshot across it)"),
    "expire_versions" -> "keep the newest keep_last versions, delete older",
    "expire_changes" -> "drop changelog slices below keep_from_version",
    "expire_partitions" -> ("drop every partition whose ordinal is below " +
      "the bound as ONE metadata-only boundary commit (no file I/O; " +
      "older versions retain the data until expire_versions)"),
    "vacuum" -> ("remove abandoned staging dirs and stale claim tombs " +
      "older than older_than_ms (committed data is never touched)"),
    "analyze" -> ("compute per-column NDV/null/min-max over the current " +
      "version (one aggregate job) and persist them for the planner's " +
      "join-size estimation; histogram_bins > 1 adds equi-height " +
      "histograms for numeric/date/timestamp columns (two more aggregate " +
      "jobs) — the skew signal range-filter estimation needs under CBO"),
    "maintenance_report" -> ("read-only health report: one row per " +
      "maintenance signal (slot fragmentation, merge-on-read delete-cap " +
      "pressure, column-stats staleness, retention debt) with the " +
      "triggered flag and the CALL that addresses it — metadata only, " +
      "no commit, no data read"),
    "create_tag" -> ("pin a committed version under a name: " +
      "`VERSION AS OF '<name>'` resolves it and expire_versions keeps " +
      "the pinned version readable regardless of keep_last (version " +
      "defaults to the current one; names start with a letter)"),
    "drop_tag" -> ("remove a named ref; the version it pinned becomes " +
      "expirable again on the next expire_versions"),
    "refresh_mv" -> ("bring a materialized view's state up to its " +
      "sources' current versions: no-op when already fresh, an " +
      "incremental changelog fold when the definition is a " +
      "self-maintainable aggregate and the changelog covers the gap, a " +
      "full recompute otherwise (returns the version refreshed through " +
      "and which mode ran)"),
    "create_branch" -> ("fork a writable branch at the table's current " +
      "version: a self-contained zero-copy clone addressable as " +
      "`t$branch$<name>` (full DML) and readable via " +
      "`VERSION AS OF '<name>'` (tracks the branch head); main and " +
      "branch evolve independently until fast_forward"),
    "drop_branch" -> "discard a branch and its commits (main untouched)",
    "rebase_branch" -> ("re-fork a branch from main's CURRENT head when " +
      "fast_forward conflicts: the branch's changelog slices replay " +
      "commit-by-commit through the standard delta path after key-level " +
      "conflict detection — merge keys changed on BOTH sides since the " +
      "fork conflict loudly with the branch left intact"),
    "fast_forward" -> ("publish a branch into main commit-by-commit when " +
      "main has not moved off the fork point (loud conflict otherwise): " +
      "version dirs and changelog slices adopt by hard link, time " +
      "travel/CDC/MV refresh see the branch's individual commits, the " +
      "pointer flip is the single atomic publish, the branch is consumed"),
    "publish_group" -> ("atomically fast_forward the SAME-NAMED branch " +
      "on every listed table: all pointers flip or none (one decision " +
      "file; crash recovery rolls a decided group forward on next " +
      "access): CALL publish_group(tables => 't1,t2', name => 'wap')"),
    "begin_txn" -> ("start a session-scoped multi-statement TRANSACTION " +
      "over the listed tables: every later plain-name read and write of " +
      "an enrolled table in THIS session routes to a hidden per-table " +
      "branch (read-your-writes, repeatable reads, invisible to every " +
      "other session) until commit_txn or rollback_txn; writes to " +
      "non-enrolled graft tables are rejected while the txn is active"),
    "commit_txn" -> ("atomically publish the session transaction: one " +
      "table-group commit over the members the txn WROTE (all pointers " +
      "flip or none; first-committer-wins — main moved off a written " +
      "member's fork refuses the whole commit and keeps the txn alive); " +
      "read-only members release without publishing; retry => true " +
      "auto-rebases fork conflicts and re-publishes (up to 3 attempts) — " +
      "overlapping-key divergence still refuses loudly"),
    "rollback_txn" -> ("abort the session transaction: drop every " +
      "member's txn branch; nothing was ever visible outside the session"),
    "savepoint" -> ("mark a named point inside the session transaction " +
      "(records every member branch's head; metadata-only) so " +
      "rollback_to_savepoint can undo just the statements after it"),
    "rollback_to_savepoint" -> ("undo the transaction's statements since " +
      "the named savepoint (per-member branch RESTORE — hard links, " +
      "nothing published); the savepoint survives for reuse, later ones " +
      "are destroyed; a member restored here publishes a CDC snapshot " +
      "boundary at commit_txn"),
    "snapshot_group" -> ("a CONSISTENT cross-table version snapshot: one " +
      "(table, version) row per listed table such that no publish_group " +
      "or commit_txn is observed torn — read the members with VERSION " +
      "AS OF to get an atomic multi-table view; lock-free, metadata-only"),
    "set_partition_spec" -> ("evolve a time-partitioned table's GRAIN " +
      "(years/months/days/hours) for FUTURE commits as one metadata-only " +
      "commit: old dirs keep their ordinals under per-version markers, " +
      "mixed-era snapshots read exactly (pruning pauses until CALL " +
      "rebucket re-grains), old versions keep pruning under their own " +
      "grain"))

  private[sources] def params(name: String): Array[ProcedureParameter] = name match {
    case "optimize" => Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("max_files_per_bucket", IntegerType)
        .defaultValue("4").build(),
      ProcedureParameter.in("sort_by", StringType).defaultValue("''").build(),
      ProcedureParameter.in("target_file_rows", LongType)
        .defaultValue("0").build(),
      ProcedureParameter.in("zorder_by", StringType).defaultValue("''").build())
    case "rebucket" => Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("buckets", IntegerType).build())
    case "clone" => Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("target", StringType).build())
    case "restore" => Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("version", LongType).build())
    case "expire_versions" => Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("keep_last", IntegerType).build())
    case "expire_changes" => Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("keep_from_version", LongType).build())
    case "expire_partitions" => Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("below", StringType).build())
    case "vacuum" => Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("older_than_ms", LongType)
        .defaultValue("3600000").build())
    case "analyze" => Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("histogram_bins", IntegerType)
        .defaultValue("0").build())
    case "maintenance_report" => Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("max_files_per_bucket", IntegerType)
        .defaultValue("4").build())
    case "create_tag" => Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("name", StringType).build(),
      ProcedureParameter.in("version", LongType).defaultValue("-1").build())
    case "drop_tag" => Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("name", StringType).build())
    case "refresh_mv" => Array(
      ProcedureParameter.in("view", StringType).build())
    case "create_branch" | "drop_branch" | "fast_forward" |
        "rebase_branch" => Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("name", StringType).build())
    case "begin_txn" => Array(
      ProcedureParameter.in("tables", StringType).build(),
      ProcedureParameter.in("name", StringType).defaultValue("''").build())
    case "commit_txn" => Array(
      ProcedureParameter.in("retry",
        org.apache.spark.sql.types.BooleanType)
        .defaultValue("false").build())
    case "rollback_txn" =>
      Array.empty[ProcedureParameter]
    case "savepoint" | "rollback_to_savepoint" => Array(
      ProcedureParameter.in("name", StringType).build())
    case "snapshot_group" => Array(
      ProcedureParameter.in("tables", StringType).build())
    case "publish_group" => Array(
      ProcedureParameter.in("tables", StringType).build(),
      ProcedureParameter.in("name", StringType).build())
    case "set_partition_spec" => Array(
      ProcedureParameter.in("table", StringType).build(),
      ProcedureParameter.in("transform", StringType).build())
  }

  /** The `maintenance_report` rows for one table: (signal, triggered,
    * observed, threshold, action). Metadata-only — version manifests and
    * the stats file; never a data read, never a commit. */
  private[sources] def maintenanceReport(dir: String,
      maxFilesPerSlot: Int): Array[InternalRow] = {
    import org.apache.spark.unsafe.types.UTF8String
    val cur = GraftStore.currentVersion(dir)
    val vdir = GraftStore.versionDir(dir, cur)
    def row(signal: String, triggered: Boolean, observed: Any,
        threshold: Any, action: String) =
      new GenericInternalRow(Array[Any](UTF8String.fromString(signal),
        triggered, observed, threshold, UTF8String.fromString(action)))
    // slot fragmentation → optimize (slot-scoped)
    val fragmented = GraftStore.slotFileCounts(dir, cur)
      .count(_._2 > maxFilesPerSlot).toLong
    // merge-on-read delete-cap pressure → optimize folds the slices; the
    // write side escalates at the full cap, so alert at half
    val dvRows = GraftStore.dvLiveRows(vdir)
    val dvCap = GraftStore.morMaxLiveDeletes
    // column-stats staleness → analyze (observed = row drift %, when known)
    val stats = graft.sources.GraftStats.readTableColStatsFull(dir)
    val curRows = GraftStore.snapshotRowCount(dir, cur)
    val (statsTriggered, drift): (Boolean, Any) = stats match {
      case None => (true, null) // never analyzed: the planner is blind
      case Some((_, arows, _)) =>
        val fresh = GraftStore.freshTableColStats(dir, cur).nonEmpty
        val pct: Any = curRows match {
          case Some(c) if arows > 0 => math.abs(c - arows) * 100L / arows
          case _ => null
        }
        (!fresh, pct)
    }
    // the threshold COLUMN mirrors the bound the triggered flag is
    // computed from
    val stalePct = math.round(GraftStore.StatsMaxStaleFraction * 100)
    // retention debt (observed-only — the right keep_last/horizon is a
    // policy choice): retained versions, retained changelog slices, and
    // retired-but-still-referenced `_expired` file hosts (shrink as
    // later expire_versions calls re-sweep them)
    val versions = GraftStore.listVersions(dir).size.toLong
    val changeSlices = GraftStore.retainedSlices(dir).size.toLong
    val expiredHosts = GraftStore.listDir(java.nio.file.Paths.get(dir))(
      _.count { p =>
        p.getFileName.toString.matches("v\\d{10}") && java.nio.file.Files
          .exists(p.resolve(GraftStore.ExpiredMarker))
      }.toLong)
    // leaked transaction branches → vacuum (expireTxnBranches): hidden
    // txn-* branches idle past the default window are dead sessions'
    // debris, each a full hard-linked clone
    val txnIdleMs = 3600000L
    val now = System.currentTimeMillis()
    val staleTxnBranches = GraftStore.listBranches(dir)
      .filter(_.startsWith("txn-"))
      .count(n => GraftStore.txnBranchLastActivity(dir, n)
        .exists(now - _ > txnIdleMs)).toLong
    Array(
      row("fragmented_slots", fragmented > 0, fragmented,
        maxFilesPerSlot.toLong,
        s"CALL optimize(table => ..., max_files_per_bucket => $maxFilesPerSlot)"),
      row("live_deletes", dvRows * 2 > dvCap, dvRows, dvCap,
        "CALL optimize(table => ...)"),
      row("stale_column_stats", statsTriggered, drift, stalePct,
        "CALL analyze(table => ...)"),
      row("retained_versions", false, versions, null,
        "CALL expire_versions(table => ..., keep_last => ...)"),
      row("changelog_slices", false, changeSlices, null,
        "CALL expire_changes(table => ..., keep_from_version => ...)"),
      row("expired_file_hosts", false, expiredHosts, null,
        "CALL expire_versions(table => ..., keep_last => ...) re-sweeps"),
      row("leaked_txn_branches", staleTxnBranches > 0, staleTxnBranches,
        txnIdleMs, "CALL vacuum(table => ...)"))
  }

  private[sources] val MaintenanceReportSchema = StructType(Seq(
    StructField("signal", StringType, nullable = false),
    StructField("triggered", org.apache.spark.sql.types.BooleanType,
      nullable = false),
    StructField("observed", LongType, nullable = true),
    StructField("threshold", LongType, nullable = true),
    StructField("action", StringType, nullable = false)))
}

final class GraftProcedure(procName: String, tableDir: String => String,
    catalog: GraftCatalog = null) extends UnboundProcedure {
  override def name(): String = procName
  override def description(): String = GraftProcedures.Descriptions(procName)
  override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
    override def name(): String = procName
    override def description(): String = GraftProcedures.Descriptions(procName)
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] =
      GraftProcedures.params(procName)

    override def call(input: InternalRow): util.Iterator[Scan] = {
      val spark = SparkSession.active
      if (procName == "refresh_mv") {
        import org.apache.spark.unsafe.types.UTF8String
        require(catalog != null,
          "refresh_mv needs a catalog-bound procedure (CALL <cat>.sys.refresh_mv)")
        // parse through the session parser (quoting support): an MV whose
        // name part contains a dot is legal via backquotes in the DDL
        // path and must stay addressable here
        val parts = spark.sessionState.sqlParser
          .parseMultipartIdentifier(input.getUTF8String(0).toString)
        val id = org.apache.spark.sql.connector.catalog.Identifier.of(
          parts.init.toArray, parts.last)
        val (v, mode) =
          GraftMaterializedViews.refresh(spark, catalog.name(), catalog, id)
        val schema = StructType(Seq(
          StructField("version", LongType, nullable = false),
          StructField("mode", StringType, nullable = false)))
        return util.Collections.singletonList[Scan](new GraftResultScan(
          schema, Array(new GenericInternalRow(
            Array[Any](v, UTF8String.fromString(mode)))))).iterator()
      }
      if (procName == "publish_group") {
        require(catalog != null, "publish_group needs a catalog-bound " +
          "procedure (CALL <cat>.sys.publish_group)")
        val tables = input.getUTF8String(0).toString.split(",").toSeq
          .map(_.trim).filter(_.nonEmpty)
        val branch = input.getUTF8String(1).toString
        val dirs = tables.map { t =>
          val d = tableDir(t)
          require(GraftStore.exists(d), s"no such graft table: $t")
          d
        }
        val groupsRoot = java.nio.file.Paths.get(
          catalog.warehouseDir, "_txngroups")
        val heads = GraftStore.publishGroup(groupsRoot,
          dirs.map(d => (d, branch)))
        val schema = StructType(Seq(
          StructField("tables_published", LongType, nullable = false),
          StructField("max_version", LongType, nullable = false)))
        return util.Collections.singletonList[Scan](new GraftResultScan(
          schema, Array(new GenericInternalRow(
            Array[Any](heads.size.toLong, heads.max))))).iterator()
      }
      if (procName == "begin_txn" || procName == "commit_txn" ||
          procName == "rollback_txn" || procName == "savepoint" ||
          procName == "rollback_to_savepoint" ||
          procName == "snapshot_group") {
        import org.apache.spark.unsafe.types.UTF8String
        require(catalog != null, s"$procName needs a catalog-bound " +
          s"procedure (CALL <cat>.sys.$procName)")
        val cat = catalog.name()
        def csvTables(ordinal: Int): Seq[String] =
          input.getUTF8String(ordinal).toString.split(",").toSeq
            .map(_.trim).filter(_.nonEmpty)
        val (schema, rows): (StructType, Array[GenericInternalRow]) =
          procName match {
            case "begin_txn" =>
              val tables = csvTables(0)
              val nameArg = if (input.isNullAt(1)) ""
                else input.getUTF8String(1).toString
              val txn = GraftTxn.begin(spark, cat,
                tables.map(t => (t, tableDir(t))),
                Some(nameArg).filter(_.nonEmpty))
              (StructType(Seq(
                StructField("txn", StringType, nullable = false),
                StructField("tables_enrolled", LongType, nullable = false))),
                Array(new GenericInternalRow(Array[Any](
                  UTF8String.fromString(txn), tables.size.toLong))))
            case "commit_txn" =>
              val groupsRoot = java.nio.file.Paths.get(
                catalog.warehouseDir, "_txngroups")
              val retry = !input.isNullAt(0) && input.getBoolean(0)
              val (written, readOnly) =
                GraftTxn.commit(spark, cat, tableDir, groupsRoot, retry)
              (StructType(Seq(
                StructField("tables_published", LongType, nullable = false),
                StructField("tables_read_only", LongType, nullable = false))),
                Array(new GenericInternalRow(Array[Any](written, readOnly))))
            case "rollback_txn" =>
              val dropped = GraftTxn.rollback(spark, cat, tableDir)
              (StructType(Seq(
                StructField("branches_dropped", LongType, nullable = false))),
                Array(new GenericInternalRow(Array[Any](dropped))))
            case "savepoint" =>
              val marked = GraftTxn.savepoint(spark, cat, tableDir,
                input.getUTF8String(0).toString)
              (StructType(Seq(
                StructField("members_marked", LongType, nullable = false))),
                Array(new GenericInternalRow(Array[Any](marked))))
            case "rollback_to_savepoint" =>
              val restored = GraftTxn.rollbackToSavepoint(spark, cat,
                tableDir, input.getUTF8String(0).toString)
              (StructType(Seq(
                StructField("members_restored", LongType, nullable = false))),
                Array(new GenericInternalRow(Array[Any](restored))))
            case _ => // snapshot_group
              val tables = csvTables(0)
              val dirs = tables.map { t =>
                val d = tableDir(t)
                require(GraftStore.exists(d), s"no such graft table: $t")
                d
              }
              val versions = GraftStore.snapshotGroup(dirs)
              (StructType(Seq(
                StructField("table_name", StringType, nullable = false),
                StructField("version", LongType, nullable = false))),
                tables.zip(versions).map { case (t, v) =>
                  new GenericInternalRow(Array[Any](
                    UTF8String.fromString(t), v))
                }.toArray)
          }
        return util.Collections.singletonList[Scan](
          new GraftResultScan(schema, rows.toArray[InternalRow])).iterator()
      }
      val table = input.getUTF8String(0).toString
      val dir = tableDir(table)
      require(GraftStore.exists(dir), s"no such graft table: $table")
      if (procName == "maintenance_report") {
        val maxFiles = if (input.isNullAt(1)) 4 else input.getInt(1)
        return util.Collections.singletonList[Scan](new GraftResultScan(
          GraftProcedures.MaintenanceReportSchema,
          GraftProcedures.maintenanceReport(dir, maxFiles))).iterator()
      }
      val (col, value) = procName match {
        case "optimize" =>
          val sortBy =
            if (input.isNullAt(2)) Nil
            else input.getUTF8String(2).toString.split(",").toSeq
              .map(_.trim).filter(_.nonEmpty)
          val targetRows = if (input.isNullAt(3)) 0L else input.getLong(3)
          val zorderBy =
            if (input.isNullAt(4)) Nil
            else input.getUTF8String(4).toString.split(",").toSeq
              .map(_.trim).filter(_.nonEmpty)
          ("version", GraftStore.optimize(spark, dir, input.getInt(1),
            sortBy, targetRows, zorderBy))
        case "rebucket" =>
          ("version", GraftStore.rebucket(spark, dir, input.getInt(1)))
        case "clone" =>
          val target = input.getUTF8String(1).toString
          GraftStore.cloneTable(dir, tableDir(target))
          // the clone continues the source's numbering (seq correctness)
          ("version", GraftStore.currentVersion(tableDir(target)))
        case "restore" =>
          ("version", GraftStore.restore(dir, input.getLong(1)))
        case "expire_versions" =>
          GraftStore.expireVersions(dir, input.getInt(1))
          ("versions_kept", GraftStore.listVersions(dir).size.toLong)
        case "expire_changes" =>
          GraftStore.expireChanges(dir, input.getLong(1))
          ("changes_from_version", input.getLong(1))
        case "expire_partitions" =>
          ("version", GraftStore.expirePartitions(dir,
            input.getUTF8String(1).toString))
        case "analyze" =>
          val bins = if (input.isNullAt(1)) 0 else input.getInt(1)
          ("version", GraftStore.analyzeTable(spark, dir, bins))
        case "vacuum" =>
          ("entries_removed", GraftStore.vacuum(dir, input.getLong(1)))
        case "create_tag" =>
          val v0 = if (input.isNullAt(2)) -1L else input.getLong(2)
          val v = if (v0 < 0) GraftStore.currentVersion(dir) else v0
          GraftStore.createTag(dir, input.getUTF8String(1).toString, v)
          ("version", v)
        case "drop_tag" =>
          GraftStore.dropTag(dir, input.getUTF8String(1).toString)
          ("tags_left", GraftStore.listTags(dir).size.toLong)
        case "create_branch" =>
          GraftStore.createBranch(dir, input.getUTF8String(1).toString)
          ("version", GraftStore.branchForkBase(dir,
            input.getUTF8String(1).toString))
        case "drop_branch" =>
          GraftStore.dropBranch(dir, input.getUTF8String(1).toString)
          ("branches_left", GraftStore.listBranches(dir).size.toLong)
        case "fast_forward" =>
          ("version", GraftStore.fastForward(dir,
            input.getUTF8String(1).toString))
        case "rebase_branch" =>
          ("version", GraftStore.rebaseBranch(spark, dir,
            input.getUTF8String(1).toString))
        case "set_partition_spec" =>
          // accept 'hours' or 'hours(col)' — the column is fixed, so a
          // given one must match the existing source column (loudly)
          val raw = input.getUTF8String(1).toString.trim
          val m = "([a-z]+)\\(([^)]+)\\)".r
          val fn = raw match {
            case m(f, c) =>
              val meta = GraftStore.readMeta(dir)
              val phys = meta.partition.map(_._2)
              val log = meta.schema.fields.find(x =>
                phys.contains(GraftStore.physicalName(x))).map(_.name)
              require(log.contains(c.trim),
                s"set_partition_spec cannot change the partition COLUMN " +
                  s"(is ${log.getOrElse("?")}, got ${c.trim}); use RTAS")
              f
            case f => f
          }
          ("version", GraftStore.setPartitionSpec(dir, fn))
      }
      val schema = StructType(Seq(StructField(col, LongType, nullable = false)))
      util.Collections.singletonList[Scan](new GraftResultScan(schema,
        Array(new GenericInternalRow(Array[Any](value))))).iterator()
    }
  }
}

/** Driver-local one-row result of a maintenance procedure. */
final class GraftResultScan(schema: StructType, rs: Array[InternalRow])
    extends LocalScan {
  override def readSchema(): StructType = schema
  override def rows(): Array[InternalRow] = rs
  override def description(): String = "GraftProcedureResult"
}
