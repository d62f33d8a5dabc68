package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, RowLevelOperationBuilder, RowLevelOperationInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.{ByteType, DoubleType, FloatType, IntegerType, LongType, Metadata, MetadataBuilder, ShortType, StructField, StructType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DSv2 [[TableCatalog]] exposing [[GraftStore]] tables to SQL — the full
  * DML statement surface over the compacted-store semantics:
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.graftdml", classOf[GraftCatalog].getName)
  *   spark.conf.set("spark.sql.catalog.graftdml.warehouse", dir)
  *   CREATE TABLE graftdml.t (k BIGINT NOT NULL, v STRING) USING graft
  *     TBLPROPERTIES ('merge_key'='k', 'buckets'='16')
  *   INSERT INTO graftdml.t SELECT ...
  *   MERGE INTO graftdml.t USING src ON ... WHEN MATCHED THEN UPDATE ...
  *   UPDATE graftdml.t SET ... WHERE ...    DELETE FROM graftdml.t WHERE ...
  *   SELECT * FROM graftdml.t [VERSION AS OF n]
  * }}}
  *
  * Reads delegate to Spark's own parquet DSv2 table over the current
  * version directory, so SELECTs get vectorized scans, column pruning and
  * filter pushdown for free — the catalog adds versioning and the
  * row-level write path, it does not reimplement the scan. Writes:
  * `INSERT` appends through the same bucketed copy-on-write commit;
  * MERGE/UPDATE/DELETE plan through Spark's delta-based row-level-operation
  * rewrite ([[GraftDeltaOperation]]), so the engine — not this library —
  * derives the join, the matched/unmatched actions, and the cardinality
  * checks, and hands this store only (op, row) deltas to commit.
  */
class GraftCatalog extends TableCatalog with FunctionCatalog with ProcedureCatalog
    with StagingTableCatalog with ViewCatalog {
  import GraftCatalog.ChangesSuffix

  private var catalogName: String = _
  private var warehouse: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name requires option spark.sql.catalog.$name.warehouse"))
  }

  override def name(): String = catalogName

  // column DEFAULTs are metadata-only here: Spark encodes them into the
  // schema's CURRENT_DEFAULT/EXISTS_DEFAULT field metadata, inserts
  // substitute CURRENT_DEFAULT at analysis, and the parquet readers fill
  // EXISTS_DEFAULT for files that predate the column — an ADD COLUMN
  // WITH DEFAULT never rewrites data
  override def capabilities(): util.Set[TableCatalogCapability] =
    util.EnumSet.of(TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE,
      TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT)

  /** CHECK constraints persist as (name, predicateSql) in the table meta
    * and are ENFORCED on every write (Spark plans the check into v2
    * writes from [[GraftTable.constraints]]); PRIMARY KEY / UNIQUE /
    * FOREIGN KEY are rejected — this store would treat them as unverified
    * hints, and a constraint that silently doesn't hold is worse than an
    * error. */
  private def checksFrom(
      cs: Array[org.apache.spark.sql.connector.catalog.constraints.Constraint])
      : Seq[(String, String)] =
    cs.toSeq.map {
      case c: org.apache.spark.sql.connector.catalog.constraints.Check =>
        require(c.predicateSql() != null && c.predicateSql().nonEmpty,
          s"CHECK constraint ${c.name()} has no SQL form")
        c.name() -> c.predicateSql()
      case other => throw new UnsupportedOperationException(
        s"only CHECK constraints are supported, got: ${other.toDDL}")
    }

  override def createTable(ident: Identifier, info: TableInfo): Table = {
    requireNoView(ident)
    requireNoMv(ident)
    val dir = tableDir(ident)
    if (GraftStore.exists(dir)) throw new TableAlreadyExistsException(ident)
    val meta = validatedMeta(ident, info.schema(), info.partitions(),
      info.properties(), tightenKeys = false)
      .copy(checks = checksFrom(info.constraints()))
    GraftStore.create(dir, meta)
    // create-then-verify against a racing CREATE VIEW (see createView)
    if (viewExists(ident)) {
      GraftStore.dropTable(dir)
      throw new IllegalArgumentException(
        s"a VIEW named $ident was created concurrently in catalog " +
          s"$catalogName — the table was not created")
    }
    new GraftTable(ident.toString, dir, pinnedVersion = None)
  }

  private def tableDir(ident: Identifier): String = {
    val parts = ident.namespace().toSeq :+ ident.name()
    parts.foreach(p => require(!p.contains("/") && !p.contains(".."),
      s"illegal table identifier part: $p"))
    s"$warehouse/${parts.mkString(".")}"
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val prefix = if (namespace.isEmpty) "" else namespace.mkString(".") + "."
    val root = java.nio.file.Paths.get(warehouse)
    if (!java.nio.file.Files.isDirectory(root)) Array.empty
    else GraftStore.listDir(root)(_.map(_.getFileName.toString)
      .filter(_.startsWith(prefix))
      .map(n => Identifier.of(namespace, n.stripPrefix(prefix))).toArray)
  }

  override def tableExists(ident: Identifier): Boolean = GraftStore.exists(tableDir(ident))

  private def dottedName(ident: Identifier): String =
    (ident.namespace().toSeq :+ ident.name()).mkString(".")

  /** Store dir for a plain OR branch-addressed base name: the branch
    * infix routes to the branch's self-contained clone dir. A plain name
    * ENROLLED in the session's active transaction (S45) routes to the
    * txn's hidden branch — reads, writes, metadata suffixes and time
    * travel all see the staged reality until commit_txn publishes it;
    * explicit `$branch$` addresses and MV maintenance resolution are
    * exempt (the MV state is MAIN's). */
  private def dirOf(baseIdent: Identifier): String = {
    val n = baseIdent.name()
    val i = n.indexOf(GraftCatalog.BranchInfix)
    if (i < 0) {
      val dir = tableDir(baseIdent)
      GraftTxn.routedBranch(catalogName, dottedName(baseIdent)) match {
        case Some(b) if GraftStore.exists(dir) =>
          require(GraftStore.branchExists(dir, b),
            s"the session transaction's branch '$b' is missing on " +
              s"${dottedName(baseIdent)} (concurrent drop_branch?) — " +
              "CALL rollback_txn")
          GraftStore.branchDir(dir, b)
        case _ => dir
      }
    } else {
      val base = Identifier.of(baseIdent.namespace(), n.substring(0, i))
      val branch = n.substring(i + GraftCatalog.BranchInfix.length)
      val dir = tableDir(base)
      if (!GraftStore.exists(dir)) throw new NoSuchTableException(base)
      require(GraftStore.branchExists(dir, branch),
        s"table $base has no branch '$branch' (have " +
          s"${GraftStore.listBranches(dir).mkString("[", ", ", "]")}) — " +
          "CALL create_branch first")
      GraftStore.branchDir(dir, branch)
    }
  }

  override def loadTable(ident: Identifier): Table = {
    // `t$branches` lists a table's branches (name, fork, head)
    if (ident.name().endsWith(GraftCatalog.BranchesSuffix)) {
      val baseIdent = Identifier.of(ident.namespace(),
        ident.name().stripSuffix(GraftCatalog.BranchesSuffix))
      val dir = dirOf(baseIdent)
      if (!GraftStore.exists(dir)) throw new NoSuchTableException(ident)
      return new GraftBranchesTable(ident.toString, dir)
    }
    // `t$changes` is t's changelog as a read-only metadata table:
    //   SELECT * FROM cat.`t$changes` WHERE change_version BETWEEN 2 AND 4
    if (ident.name().endsWith(ChangesSuffix)) {
      val baseIdent = Identifier.of(ident.namespace(),
        ident.name().stripSuffix(ChangesSuffix))
      val dir = dirOf(baseIdent)
      if (!GraftStore.exists(dir)) throw new NoSuchTableException(ident)
      return new GraftChangesTable(ident.toString, dir)
    }
    // `t$versions` is t's version history (DESCRIBE HISTORY analogue):
    //   SELECT * FROM cat.`t$versions`
    if (ident.name().endsWith(GraftCatalog.VersionsSuffix)) {
      val baseIdent = Identifier.of(ident.namespace(),
        ident.name().stripSuffix(GraftCatalog.VersionsSuffix))
      val dir = dirOf(baseIdent)
      if (!GraftStore.exists(dir)) throw new NoSuchTableException(ident)
      return new GraftVersionsTable(ident.toString, dir)
    }
    // `t$files` is the current version's file-level layout + zone-map
    // stats (DESCRIBE DETAIL analogue): one row per (file, column)
    if (ident.name().endsWith(GraftCatalog.FilesSuffix)) {
      val baseIdent = Identifier.of(ident.namespace(),
        ident.name().stripSuffix(GraftCatalog.FilesSuffix))
      val dir = dirOf(baseIdent)
      if (!GraftStore.exists(dir)) throw new NoSuchTableException(ident)
      return new GraftFilesTable(ident.toString, dir)
    }
    // `t$partitions` is the current version's partition-level layout
    // (SHOW PARTITIONS + per-partition sizing in one table) — the
    // retention operator's view: which ordinals exist, how big, what an
    // `expire_partitions` bound would drop
    if (ident.name().endsWith(GraftCatalog.PartitionsSuffix)) {
      val baseIdent = Identifier.of(ident.namespace(),
        ident.name().stripSuffix(GraftCatalog.PartitionsSuffix))
      val dir = dirOf(baseIdent)
      if (!GraftStore.exists(dir)) throw new NoSuchTableException(ident)
      return new GraftPartitionsTable(ident.toString, dir)
    }
    // `mv$mv` is a materialized view's freshness metadata: one row per
    // source table — refreshed-through vs current version, staleness,
    // whether the next refresh can fold the changelog incrementally
    if (ident.name().endsWith(GraftCatalog.MvSuffix)) {
      val baseIdent = Identifier.of(ident.namespace(),
        ident.name().stripSuffix(GraftCatalog.MvSuffix))
      if (!mvExists(baseIdent)) throw new NoSuchTableException(ident)
      return new GraftMvInfoTable(ident.toString, this, baseIdent)
    }
    val dir = dirOf(ident)
    if (!GraftStore.exists(dir)) throw new NoSuchTableException(ident)
    // S45: while a session txn is active, a plain-name WRITE to a graft
    // table the txn did not enroll is rejected at planning — it would
    // commit to main immediately, silently outside the transaction.
    // Reads stay open (read-committed against main), and explicit
    // `$branch$` addresses keep full DML (the user named a branch, the
    // intent is unambiguous).
    val block =
      if (ident.name().contains(GraftCatalog.BranchInfix)) None
      else GraftTxn.writeBlock(catalogName, dottedName(ident))
    new GraftTable(ident.toString, dir, pinnedVersion = None,
      writeBlock = block)
  }

  /** `VERSION AS OF <n>` time travel: pin the scan to one committed
    * version directory. A NON-NUMERIC literal is a named ref —
    * `VERSION AS OF 'release-2026-08'` resolves the tag created by
    * `CALL create_tag` (tag names start with a letter, so the two
    * namespaces can never collide). */
  override def loadTable(ident: Identifier, version: String): Table = {
    val dir = dirOf(ident) // time travel works on branch addresses too
    // inside a session txn (S45) the routed branch carries only the
    // fork-and-later versions and no tags: a ref or version it cannot
    // resolve falls back to MAIN — pre-txn history is immutable and
    // identical on both sides, so the fallback never changes results
    val plain = tableDir(Identifier.of(ident.namespace(), ident.name()))
    if (dir != plain && ident.name().indexOf(GraftCatalog.BranchInfix) < 0)
      try return loadTableAt(ident, dir, version)
      catch { case scala.util.control.NonFatal(_) =>
        return loadTableAt(ident, plain, version) }
    loadTableAt(ident, dir, version)
  }

  private def loadTableAt(ident: Identifier, dir: String,
      version: String): Table = {
    if (!GraftStore.exists(dir)) throw new NoSuchTableException(ident)
    val v = version.toLongOption.getOrElse {
      GraftStore.resolveRef(dir, version).getOrElse {
        // a branch name reads the branch HEAD (a live ref, like Iceberg's
        // branch reads — it tracks the branch as it advances)
        if (GraftStore.branchExists(dir, version))
          return new GraftTable(ident.toString,
            GraftStore.branchDir(dir, version), pinnedVersion = None)
        throw new IllegalArgumentException(
          s"table $ident has no tag or branch '$version' (have tags " +
            s"${GraftStore.listTags(dir).keys.toSeq.sorted
              .mkString("[", ", ", "]")}, branches " +
            s"${GraftStore.listBranches(dir).mkString("[", ", ", "]")}) — " +
            "CALL create_tag or create_branch first")
      }
    }
    require(GraftStore.listVersions(dir).contains(v),
      s"table $ident has no version $v (have ${GraftStore.listVersions(dir)})")
    new GraftTable(ident.toString, dir, pinnedVersion = Some(v))
  }

  /** `TIMESTAMP AS OF <ts>` time travel: the latest version committed at
    * or before the timestamp (micros from Spark), resolved off each
    * version's manifest commit stamp. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val dir = dirOf(ident) // time travel works on branch addresses too
    // same txn fallback as the version overload: a timestamp before the
    // txn's fork resolves against MAIN's retained history
    val plain = tableDir(Identifier.of(ident.namespace(), ident.name()))
    if (dir != plain && ident.name().indexOf(GraftCatalog.BranchInfix) < 0)
      try return loadTableAtTs(ident, dir, timestamp)
      catch { case scala.util.control.NonFatal(_) =>
        return loadTableAtTs(ident, plain, timestamp) }
    loadTableAtTs(ident, dir, timestamp)
  }

  private def loadTableAtTs(ident: Identifier, dir: String,
      timestamp: Long): Table = {
    if (!GraftStore.exists(dir)) throw new NoSuchTableException(ident)
    val v = GraftStore.versionAsOfTimestamp(dir, timestamp / 1000L)
      .getOrElse(throw new IllegalArgumentException(
        s"table $ident has no version committed at or before " +
          s"timestamp ${timestamp}us (earliest retained: " +
          s"${GraftStore.listVersions(dir).headOption.getOrElse("none")})"))
    new GraftTable(ident.toString, dir, pinnedVersion = Some(v))
  }

  /** Shared CREATE/CTAS/RTAS validation: structural checks + the table
    * meta the store will persist. `tightenKeys` is the CTAS/RTAS mode —
    * an inferred schema cannot carry NOT NULL, so staged creates TIGHTEN
    * nullable merge keys; an explicit CREATE must declare them. */
  private def validatedMeta(ident: Identifier, schema0: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String],
      tightenKeys: Boolean): GraftTableMeta = {
    // PARTITIONED BY: at most ONE transform — identity(col) or a time
    // transform (years/months/days/hours) over a date/timestamp column.
    // The partition directory sits ABOVE the hash-bucket fan-out
    // (`gpart=<ordinal>/gbucket=<k>`), giving date-grained retention
    // (`CALL expire_partitions`) and coarse partition pruning that
    // composes with bucket pruning; the bucket fan-out is still what
    // scopes the copy-on-write rewrite.
    require(partitions.length <= 1,
      "graft tables take at most ONE PARTITIONED BY transform " +
        "(identity | years | months | days | hours); the hash-bucket " +
        "fan-out below it comes from TBLPROPERTIES ('buckets'=...)")
    val partSpec: Option[(String, String)] = partitions.headOption.map { t =>
      val fn = t.name() match {
        case "identity" => "identity"
        case n @ ("years" | "months" | "days" | "hours") => n
        case other => throw new IllegalArgumentException(
          s"unsupported partition transform $other " +
            "(supported: identity | years | months | days | hours)")
      }
      val refs = t.references()
      require(refs.length == 1 && refs(0).fieldNames().length == 1,
        s"partition transform must reference exactly one top-level column: $t")
      val c = refs(0).fieldNames()(0)
      require(schema0.fieldNames.contains(c), s"partition column $c not in schema")
      val dt = schema0(c).dataType
      if (fn == "identity")
        require(Seq(ByteType, ShortType, IntegerType, LongType,
            org.apache.spark.sql.types.StringType,
            org.apache.spark.sql.types.DateType,
            org.apache.spark.sql.types.BooleanType).contains(dt),
          s"identity partitioning needs an integral/string/date/boolean " +
            s"column; $c is $dt")
      else
        require(dt == org.apache.spark.sql.types.DateType ||
            dt == TimestampType ||
            dt == org.apache.spark.sql.types.TimestampNTZType,
          s"$fn() partitioning needs a date/timestamp column; $c is $dt")
      (fn, c) // physical == logical at CREATE time
    }
    require(!schema0.fieldNames.contains(GraftStore.BucketCol),
      s"column name ${GraftStore.BucketCol} is reserved")
    require(!schema0.fieldNames.contains(GraftStore.PartCol),
      s"column name ${GraftStore.PartCol} is reserved")
    // the changelog appends these to the data columns (and all-insert
    // commits carry them inside the data files themselves) — a data
    // column with one of these names would alias the CDC columns
    GraftCatalog.ChangeReserved.foreach(r =>
      require(!schema0.fieldNames.contains(r), s"column name $r is reserved"))
    require(!ident.name().endsWith(ChangesSuffix) &&
        !ident.name().endsWith(GraftCatalog.VersionsSuffix) &&
        !ident.name().endsWith(GraftCatalog.FilesSuffix) &&
        !ident.name().endsWith(GraftCatalog.PartitionsSuffix) &&
        !ident.name().endsWith(GraftCatalog.MvSuffix) &&
        !ident.name().endsWith(GraftCatalog.BranchesSuffix) &&
        !ident.name().contains(GraftCatalog.BranchInfix),
      "table names ending in the $changes/$versions/$files/$partitions/" +
        "$mv/$branches suffixes (or containing $branch$) are reserved")
    val props = properties.asScala
    // append_only=true: a KEYLESS table — the raw-event bronze-layer
    // shape. No row identity: INSERT / INSERT OVERWRITE / REPLACE WHERE
    // and retention only; UPDATE/DELETE/MERGE/mor rejected loudly.
    // Buckets fan out from a whole-row hash instead of a key.
    val appendOnly = props.get("append_only").map(_.trim.toLowerCase) match {
      case None => false
      case Some("true") => true
      case Some("false") => false
      case Some(other) => throw new IllegalArgumentException(
        s"append_only must be 'true' or 'false', got '$other'")
    }
    if (appendOnly) require(!props.contains("merge_key"),
      "append_only tables take no merge_key (they have no row identity); " +
        "drop one of the two properties")
    val keys =
      if (appendOnly) Nil
      else props.get("merge_key").map(_.split(",").toSeq.map(_.trim))
        .getOrElse(Seq(schema0.fieldNames.head))
    keys.foreach(k => require(schema0.fieldNames.contains(k),
      s"merge_key column $k not in schema"))
    // null merge keys would break row identity (SQL equality never matches
    // null = null, so deletes/updates of a null-keyed row could not target
    // it and upserts would accumulate duplicates). The declared schema
    // therefore always stores keys as NOT NULL: an explicit CREATE must
    // say so (loud rejection — a silent rewrite of declared DDL would
    // surprise later), while a CTAS/RTAS (whose schema is inferred from
    // the query, which cannot carry the constraint) gets its key columns
    // TIGHTENED — Spark's output resolution then enforces the null check
    // on the CTAS write and every later INSERT alike.
    if (!tightenKeys) keys.foreach(k => require(!schema0(k).nullable,
      s"merge_key column $k must be declared NOT NULL"))
    val schema = StructType(schema0.fields.map(f =>
      if (keys.contains(f.name)) f.copy(nullable = false) else f))
    val buckets = props.get("buckets").map(_.toInt).getOrElse(16)
    require(buckets > 0, "buckets must be positive")
    val mode = props.get("merge_mode").map(_.trim.toLowerCase).getOrElse("cow")
    require(mode == "cow" || mode == "mor",
      s"merge_mode must be 'cow' (copy-on-write) or 'mor' (merge-on-read), got '$mode'")
    require(!appendOnly || mode == "cow",
      "append_only tables are copy-on-write (merge-on-read deltas need " +
        "merge keys to probe against)")
    // merge-on-read probes delete entries by key VALUE equality in the
    // scan — atomic key types only (the same family bucket hashing covers)
    if (mode == "mor") keys.foreach(k =>
      require(GraftStore.morKeyTypeOk(schema(k).dataType),
        s"merge_mode=mor requires atomic-typed merge keys; $k is ${schema(k).dataType}"))
    // bloom_filter_columns: logical names validated against the schema,
    // stored as PHYSICAL names (identical at CREATE time; the RTAS
    // identity rewrite remaps them) so later renames stay metadata-only
    val bloom = GraftCatalog.validatedBloomCols(schema,
      props.get("bloom_filter_columns"))
    // auto_optimize: 'true' (default cap 4), 'false'/absent (off), or an
    // explicit integer files-per-slot cap
    val autoOpt = props.get("auto_optimize").map(_.trim.toLowerCase) match {
      case None | Some("false") | Some("") => 0
      case Some("true") => 4
      case Some(n) => val v = try n.toInt catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"auto_optimize must be true/false or a positive file cap, got '$n'")
        }
        require(v > 0, s"auto_optimize cap must be positive, got $v")
        v
    }
    GraftTableMeta(schema, keys, buckets, mergeMode = mode,
      partition = partSpec, bloomCols = bloom, autoOptimize = autoOpt)
  }

  override def createTable(ident: Identifier, schema0: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    requireNoView(ident)
    requireNoMv(ident)
    val dir = tableDir(ident)
    if (GraftStore.exists(dir)) throw new TableAlreadyExistsException(ident)
    GraftStore.create(dir,
      validatedMeta(ident, schema0, partitions, properties, tightenKeys = false))
    if (viewExists(ident)) {
      GraftStore.dropTable(dir)
      throw new IllegalArgumentException(
        s"a VIEW named $ident was created concurrently in catalog " +
          s"$catalogName — the table was not created")
    }
    new GraftTable(ident.toString, dir, pinnedVersion = None)
  }

  /** StagingTableCatalog leg — atomic CTAS / RTAS. The staged table is a
    * full store under a private `.stage-<uuid>` sibling dir; the CTAS
    * query writes into it through the normal insert machinery, then
    * commitStagedChanges publishes: CREATE = one atomic rename, REPLACE =
    * one claimed boundary commit that swaps the live table's contents AND
    * schema while preserving its version history
    * ([[GraftStore.replaceFromStaged]]). Readers never observe a missing
    * or half-written table; an abandoned stage dir is swept by vacuum. */
  private def stage(ident: Identifier, info: TableInfo,
      replace: Boolean, orCreate: Boolean): StagedTable = {
    val dir = tableDir(ident)
    if (!replace && GraftStore.exists(dir))
      throw new TableAlreadyExistsException(ident)
    if (replace && !orCreate && !GraftStore.exists(dir))
      throw new NoSuchTableException(ident)
    val meta0 = validatedMeta(ident, info.schema(), info.partitions(),
      info.properties(), tightenKeys = true)
      .copy(checks = checksFrom(info.constraints()))
    // REPLACE physical identities: a column that keeps its logical name
    // AND type INHERITS the old physical identity (time travel across the
    // replace stays readable for the recompute-in-place case); anything
    // else — new column, or a reused name with a different type — gets a
    // FRESH identity, so the staged files can never clash with any
    // retained version\'s physical columns (null-fill, never a parquet
    // type error). Every old physical name not inherited becomes a
    // tombstone: a later ADD COLUMN may not mint a physical name that
    // pre-replace files still carry bytes for.
    val stamp = java.util.UUID.randomUUID().toString.take(8)
    val meta = if (!replace || !GraftStore.exists(dir)) meta0
      else {
        val old = GraftStore.readMeta(dir)
        val oldByName = old.schema.fields.map(f => f.name -> f).toMap
        val fields = meta0.schema.fields.map { f =>
          oldByName.get(f.name) match {
            case Some(of) if of.dataType == f.dataType =>
              val md = new MetadataBuilder().withMetadata(f.metadata)
                .putString(GraftStore.PhysicalKey,
                  GraftStore.physicalName(of)).build()
              f.copy(metadata = md)
            case _ =>
              val md = new MetadataBuilder().withMetadata(f.metadata)
                .putString(GraftStore.PhysicalKey, s"${f.name}__r$stamp").build()
              f.copy(metadata = md)
          }
        }
        val inherited = fields.map(GraftStore.physicalName).toSet
        val tomb = (old.tombstones.toSet ++
          old.schema.fields.map(GraftStore.physicalName)) -- inherited
        // column-referencing meta (partition transform, bloom columns)
        // was validated against LOGICAL names (== physical at validation
        // time); the identity rewrite above may have assigned different
        // physical names — remap by logical name or the declarations
        // dangle (blooms silently never written, partition writes failing
        // on a missing column)
        val newSchema = StructType(fields)
        def physOf(logical: String): String =
          newSchema.fields.find(_.name == logical)
            .map(GraftStore.physicalName).getOrElse(logical)
        meta0.copy(schema = newSchema, tombstones = tomb.toSeq.sorted,
          partition = meta0.partition.map { case (fn, c) => (fn, physOf(c)) },
          bloomCols = meta0.bloomCols.map(physOf))
      }
    val stageDir = s"$dir.stage-${java.util.UUID.randomUUID()}"
    GraftStore.create(stageDir, meta)
    new GraftStagedTable(ident, dir, stageDir, replace)
  }

  override def stageCreate(ident: Identifier, info: TableInfo): StagedTable = {
    requireNoView(ident)
    requireNoMv(ident)
    stage(ident, info, replace = false, orCreate = false)
  }
  override def stageReplace(ident: Identifier, info: TableInfo): StagedTable = {
    requireNoView(ident)
    requireNoMv(ident)
    stage(ident, info, replace = true, orCreate = false)
  }
  override def stageCreateOrReplace(ident: Identifier, info: TableInfo): StagedTable = {
    requireNoView(ident)
    requireNoMv(ident)
    stage(ident, info, replace = true, orCreate = true)
  }

  /** Schema evolution — all meta-only, never a data rewrite (the only
    * acceptable cost on a 100 TB table):
    *
    *  - ADD COLUMN (nullable, top-level): existing data and changelog
    *    files simply lack the column; scans pass the declared schema and
    *    the parquet reader null-fills history. If the column's name was
    *    ever used before (tombstoned by a DROP, or shadowed by a rename),
    *    the new column gets a FRESH physical name so old file data cannot
    *    resurrect under it.
    *  - RENAME COLUMN: logical name changes in meta; the field keeps its
    *    original PHYSICAL name (recorded under [[GraftStore.PhysicalKey]]),
    *    and every scan maps logical↔physical (see GraftScanBuilder).
    *    Renaming a merge-key column updates the key list. Time travel
    *    reads any version under the CURRENT logical names.
    *  - DROP COLUMN: the field leaves the schema; its physical name is
    *    tombstoned. Files keep the bytes (old versions still read them via
    *    time travel... with the current schema, i.e. without the column);
    *    merge-key columns cannot be dropped.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    // S45: schema changes are not transactional — an ALTER staged on the
    // txn branch would make commit_txn refuse on schema divergence, so
    // reject it up front with the real reason (includes the auto-ALTER
    // a `MERGE ... WITH SCHEMA EVOLUTION` would run mid-txn)
    require(!GraftTxn.isEnrolled(catalogName, dottedName(ident)),
      s"ALTER TABLE on ${dottedName(ident)} is blocked: the table is " +
        "enrolled in this session's active transaction and DDL is not " +
        "transactional — commit_txn or rollback_txn first")
    val dir = dirOf(ident) // ALTER on a branch evolves the branch only
    if (!GraftStore.exists(dir)) throw new NoSuchTableException(ident)
    // the read-fold-write below is serialized under the meta lock —
    // concurrent ALTERs must not silently drop each other's DDL
    GraftStore.withMetaLock(dir) {
    val meta = GraftStore.readMeta(dir)
    val newMeta = changes.foldLeft(meta) {
      case (m, add: TableChange.AddColumn) =>
        require(add.fieldNames().length == 1,
          "nested column additions are not supported")
        val name = add.fieldNames()(0)
        require(add.isNullable,
          s"added column $name must be nullable (existing rows have no value)")
        require(!m.schema.fieldNames.contains(name), s"column $name already exists")
        require(name != GraftStore.BucketCol && name != GraftStore.PartCol &&
            !GraftCatalog.ChangeReserved.contains(name),
          s"column name $name is reserved")
        val taken = m.schema.fields.map(GraftStore.physicalName).toSet ++
          m.tombstones
        val phys = Iterator.from(0)
          .map(i => if (i == 0) name else s"${name}_p$i")
          .find(!taken.contains(_)).get
        // let Spark build the field itself — that encodes a column DEFAULT
        // into the standard CURRENT_DEFAULT/EXISTS_DEFAULT metadata keys
        // (EXISTS_DEFAULT is what old files' rows read back, metadata-only
        // — no backfill rewrite at any scale) — then graft the physical-
        // name mapping on top
        val built = org.apache.spark.sql.GraftSqlShim
          .applySchemaChanges(m.schema, Seq(add))
        val f0 = built(name)
        val md = if (phys == name) f0.metadata
          else new MetadataBuilder().withMetadata(f0.metadata)
            .putString(GraftStore.PhysicalKey, phys).build()
        m.copy(schema = StructType(m.schema.fields.toSeq :+
          f0.copy(nullable = true, metadata = md)))
      case (m, u: TableChange.UpdateColumnDefaultValue) =>
        // ALTER COLUMN ... SET/DROP DEFAULT: metadata-only, applies to
        // FUTURE inserts (CURRENT_DEFAULT); what existing files read back
        // (EXISTS_DEFAULT) is fixed at ADD time by design
        m.copy(schema = org.apache.spark.sql.GraftSqlShim
          .applySchemaChanges(m.schema, Seq(u)))
      case (m, rn: TableChange.RenameColumn) =>
        require(rn.fieldNames().length == 1,
          "nested column renames are not supported")
        val from = rn.fieldNames()(0)
        val to = rn.newName()
        require(m.schema.fieldNames.contains(from), s"no column $from")
        require(!m.schema.fieldNames.contains(to), s"column $to already exists")
        require(to != GraftStore.BucketCol && to != GraftStore.PartCol &&
            !GraftCatalog.ChangeReserved.contains(to),
          s"column name $to is reserved")
        val sch = StructType(m.schema.fields.map { f =>
          if (f.name != from) f
          else f.copy(name = to, metadata = new MetadataBuilder()
            .withMetadata(f.metadata)
            .putString(GraftStore.PhysicalKey, GraftStore.physicalName(f))
            .build())
        }.toSeq)
        m.copy(schema = sch,
          keyCols = m.keyCols.map(k => if (k == from) to else k))
      case (m, del: TableChange.DeleteColumn) =>
        require(del.fieldNames().length == 1,
          "nested column drops are not supported")
        val name = del.fieldNames()(0)
        if (!m.schema.fieldNames.contains(name)) {
          require(del.ifExists(), s"no column $name")
          m
        } else {
          require(!m.keyCols.contains(name),
            s"cannot drop merge-key column $name")
          require(!m.partition.exists(_._2 ==
              GraftStore.physicalName(m.schema(name))),
            s"cannot drop partition column $name")
          require(m.schema.length > 1, "cannot drop the last column")
          val f = m.schema(name)
          m.copy(
            schema = StructType(m.schema.fields.filterNot(_.name == name).toSeq),
            tombstones = m.tombstones :+ GraftStore.physicalName(f),
            // a dropped column's bloom declaration goes with it
            bloomCols = m.bloomCols
              .filterNot(_ == GraftStore.physicalName(f)))
        }
      case (m, upd: TableChange.UpdateColumnType) =>
        require(upd.fieldNames().length == 1,
          "nested column type changes are not supported")
        val name = upd.fieldNames()(0)
        require(m.schema.fieldNames.contains(name), s"no column $name")
        // Only lossless WIDENING, and never on a merge key: the store
        // buckets rows by xxhash64 of the key VALUES, and Spark hashes
        // int and long inputs differently — widening a key would strand
        // every existing row in its old-hash bucket. Parquet's vectorized
        // reader up-converts the stored narrow values, so this stays
        // metadata-only.
        require(!m.keyCols.contains(name),
          s"cannot change the type of merge-key column $name " +
            "(bucket hashes are type-sensitive)")
        val from = m.schema(name).dataType
        val to = upd.newDataType()
        val widens = (from, to) match {
          case (ByteType, ShortType | IntegerType | LongType) => true
          case (ShortType, IntegerType | LongType) => true
          case (IntegerType, LongType) => true
          case (FloatType, DoubleType) => true
          case _ => false
        }
        require(widens, s"unsupported type change $from -> $to " +
          "(only lossless widening: byte/short/int -> wider int, float -> double)")
        m.copy(schema = StructType(m.schema.fields.map(f =>
          if (f.name == name) f.copy(dataType = to) else f).toSeq))
      case (m, ac: TableChange.AddConstraint) =>
        val added = checksFrom(Array(ac.constraint()))
        added.foreach { case (n, _) =>
          require(!m.checks.exists(_._1 == n), s"constraint $n already exists") }
        // ALTER ADD CONSTRAINT validates EXISTING rows (one scan): a
        // constraint that fails retroactively must be rejected, not
        // silently recorded as if it held
        val spark = SparkSession.active
        added.foreach { case (n, sqlText) =>
          val bad = GraftStore
            .readVersion(spark, dir, GraftStore.currentVersion(dir))
            .filter(!org.apache.spark.sql.functions.coalesce(
              org.apache.spark.sql.functions.expr(sqlText),
              org.apache.spark.sql.functions.lit(true)))
            .limit(1).count()
          require(bad == 0L,
            s"cannot add CHECK constraint $n ($sqlText): existing rows violate it")
        }
        m.copy(checks = m.checks ++ added)
      case (m, dc: TableChange.DropConstraint) =>
        require(dc.ifExists() || m.checks.exists(_._1 == dc.name()),
          s"no such constraint: ${dc.name()}")
        m.copy(checks = m.checks.filterNot(_._1 == dc.name()))
      case (m, sp: TableChange.SetProperty) if sp.property() == "merge_mode" =>
        // ALTER TABLE t SET TBLPROPERTIES('merge_mode'='mor'|'cow') — takes
        // effect on the NEXT row-level commit; existing delete slices stay
        // valid either way (cow commits carry/apply them like any rewrite)
        val mode = sp.value().trim.toLowerCase
        require(mode == "cow" || mode == "mor",
          s"merge_mode must be 'cow' or 'mor', got '${sp.value()}'")
        if (mode == "mor") m.keyCols.foreach(k =>
          require(GraftStore.morKeyTypeOk(m.schema(k).dataType),
            s"merge_mode=mor requires atomic-typed merge keys; $k is ${m.schema(k).dataType}"))
        m.copy(mergeMode = mode)
      case (m, sp: TableChange.SetProperty)
          if sp.property() == "bloom_filter_columns" =>
        // takes effect on the NEXT commit's files; existing files keep
        // their (bloom-less) footers until OPTIMIZE rewrites them
        val cols = GraftCatalog.validatedBloomCols(m.schema,
          Some(sp.value()))
        m.copy(bloomCols =
          cols.map(c => GraftStore.physicalName(m.schema(c))))
      case (m, sp: TableChange.SetProperty)
          if sp.property() == "auto_optimize" =>
        // takes effect on the NEXT commit's hook; 'false' turns it off
        val v = sp.value().trim.toLowerCase match {
          case "false" | "" => 0
          case "true" => 4
          case n => val i = try n.toInt catch {
              case _: NumberFormatException =>
                throw new IllegalArgumentException(
                  s"auto_optimize must be true/false or a positive file " +
                    s"cap, got '${sp.value()}'")
            }
            require(i > 0, s"auto_optimize cap must be positive, got $i")
            i
        }
        m.copy(autoOptimize = v)
      case (_, other) => throw new UnsupportedOperationException(
        s"unsupported table change: $other (ADD/RENAME/DROP COLUMN, widen " +
          "type, SET TBLPROPERTIES merge_mode/bloom_filter_columns/" +
          "auto_optimize)")
    }
    GraftStore.writeMeta(dir, newMeta)
    new GraftTable(ident.toString, dir, pinnedVersion = None)
    }
  }

  override def dropTable(ident: Identifier): Boolean = {
    require(!GraftTxn.isEnrolled(catalogName, dottedName(ident)),
      s"DROP TABLE on ${dottedName(ident)} is blocked: the table is " +
        "enrolled in this session's active transaction — commit_txn or " +
        "rollback_txn first")
    val dir = tableDir(ident)
    if (!GraftStore.exists(dir)) false
    else { GraftStore.dropTable(dir); true }
  }

  // ---------------------------------------------------------------------
  // ViewCatalog leg (S38): persisted SQL views — `CREATE [OR REPLACE]
  // VIEW cat.v AS SELECT ...`, `DROP VIEW`, `ALTER VIEW ... SET/UNSET
  // TBLPROPERTIES`, `SHOW VIEWS`. One JSON definition per view under
  // `<warehouse>/_views/` (see [[GraftViewStore]]); the stored catalog +
  // namespace context makes unqualified names in the text keep meaning
  // what they meant at CREATE time. Views and tables share one namespace:
  // creating either over the other's name fails loudly.
  // ---------------------------------------------------------------------

  /** One legality rule for view identifier parts: '.' is the flattening
    * separator (a part containing one would collide with a same-spelling
    * namespaced view's file) and '/' escapes the dir. PROBES (exists /
    * drop / load) treat an illegal name as "not a view" — table names
    * tolerate dots, so shared-namespace checks must never throw — while
    * CREATE paths reject it loudly via [[viewPath]]. */
  private def legalViewPart(p: String): Boolean =
    !p.contains("/") && !p.contains(".")

  private def legalViewIdent(ident: Identifier): Boolean =
    (ident.namespace().toSeq :+ ident.name()).forall(legalViewPart)

  private def viewPath(ident: Identifier): java.nio.file.Path = {
    val parts = ident.namespace().toSeq :+ ident.name()
    parts.foreach(p => require(legalViewPart(p),
      s"illegal view identifier part: $p"))
    java.nio.file.Paths.get(warehouse, "_views", parts.mkString(".") + ".json")
  }

  override def viewExists(ident: Identifier): Boolean =
    legalViewIdent(ident) && java.nio.file.Files.exists(viewPath(ident))

  /** Definition-file path for the extension rules (read-only use). */
  private[sources] def viewDirUnsafe(ident: Identifier): String =
    viewPath(ident).toString

  private[sources] def requireNoView(ident: Identifier): Unit =
    if (viewExists(ident)) throw new IllegalArgumentException(
      s"a VIEW named $ident already exists in catalog $catalogName — " +
        "tables and views share one namespace (DROP VIEW first)")

  // Materialized views (S39) share the table/view namespace too: one JSON
  // record per MV under `<warehouse>/_mvs/` plus a backing state table
  // named `__mv_state_<name>` (see [[GraftMaterializedViews]]).
  private[sources] def warehouseDir: String = warehouse

  private[sources] def mvPath(ident: Identifier): java.nio.file.Path = {
    val parts = ident.namespace().toSeq :+ ident.name()
    parts.foreach(p => require(legalViewPart(p),
      s"illegal materialized view identifier part: $p"))
    java.nio.file.Paths.get(warehouse, "_mvs", parts.mkString(".") + ".json")
  }

  private[sources] def mvExists(ident: Identifier): Boolean =
    legalViewIdent(ident) && java.nio.file.Files.exists(mvPath(ident))

  private[sources] def mvStateIdent(ident: Identifier): Identifier =
    Identifier.of(ident.namespace(),
      GraftMaterializedViews.StatePrefix + ident.name())

  private[sources] def mvStateDir(ident: Identifier): String =
    tableDir(mvStateIdent(ident))

  private[sources] def requireNoMv(ident: Identifier): Unit =
    if (mvExists(ident)) throw new IllegalArgumentException(
      s"a MATERIALIZED VIEW named $ident already exists in catalog " +
        s"$catalogName — tables, views and materialized views share one " +
        "namespace (DROP MATERIALIZED VIEW first)")

  /** Every MV in the catalog across namespaces — the transparent-rewrite
    * rule's candidate listing, served from the epoch-invalidated
    * per-warehouse cache ([[GraftCatalog.mvListCache]]; the record
    * naming scheme stays owned by this module alongside [[listMvs]]). */
  private[sources] def listAllMvs(): Seq[Identifier] = {
    val e = GraftCatalog.mvListEpoch.get()
    val hit = GraftCatalog.mvListCache.get(warehouse)
    if (hit != null && hit._1 == e) hit._2
    else {
      val listed = listAllMvsUncached()
      // keyed by the epoch OBSERVED BEFORE the scan: a create/drop racing
      // the listing bumps past `e` and the stale entry self-invalidates
      // on the next lookup
      GraftCatalog.mvListCache.put(warehouse, (e, listed))
      listed
    }
  }

  private def listAllMvsUncached(): Seq[Identifier] = {
    GraftCatalog.mvListingScans.incrementAndGet()
    val root = java.nio.file.Paths.get(warehouse, "_mvs")
    if (!java.nio.file.Files.isDirectory(root)) Nil
    else GraftStore.listDir(root)(_.map(_.getFileName.toString)
      .filter(n => n.endsWith(".json") && !n.startsWith("."))
      .map { n =>
        val parts = n.stripSuffix(".json").split('.').toSeq
        Identifier.of(parts.init.toArray, parts.last)
      }.toSeq)
  }

  private[sources] def listMvs(namespace: Seq[String]): Seq[Identifier] = {
    val prefix = if (namespace.isEmpty) "" else namespace.mkString(".") + "."
    val root = java.nio.file.Paths.get(warehouse, "_mvs")
    if (!java.nio.file.Files.isDirectory(root)) Nil
    else GraftStore.listDir(root)(_.map(_.getFileName.toString)
      .filter(n => n.endsWith(".json") && !n.startsWith(".") &&
        n.startsWith(prefix))
      .map(_.stripSuffix(".json").stripPrefix(prefix))
      .filter(!_.contains("."))
      .map(Identifier.of(namespace.toArray, _)).toSeq)
  }

  override def listViews(namespace: String*): Array[Identifier] = {
    val prefix = if (namespace.isEmpty) "" else namespace.mkString(".") + "."
    val root = java.nio.file.Paths.get(warehouse, "_views")
    if (!java.nio.file.Files.isDirectory(root)) Array.empty
    else GraftStore.listDir(root)(_.map(_.getFileName.toString)
      .filter(n => n.endsWith(".json") && !n.startsWith(".") &&
        n.startsWith(prefix))
      .map(_.stripSuffix(".json").stripPrefix(prefix))
      // exact-namespace scoping: a child namespace's views (remainder
      // still dotted) do not belong in this listing
      .filter(!_.contains("."))
      .map(Identifier.of(namespace.toArray, _)).toArray)
  }

  override def loadView(ident: Identifier): View = {
    if (!viewExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident)
    new GraftView(ident.toString, GraftViewStore.read(viewPath(ident)))
  }

  override def createView(info: ViewInfo): View = {
    requireNoMv(info.ident())
    if (tableExists(info.ident())) throw new IllegalArgumentException(
      s"a TABLE named ${info.ident()} already exists in catalog " +
        s"$catalogName — tables and views share one namespace")
    if (viewExists(info.ident()))
      throw new org.apache.spark.sql.catalyst.analysis
        .ViewAlreadyExistsException(info.ident())
    GraftViewStore.write(viewPath(info.ident()), info, createNew = true)
    // write-then-verify (same discipline as createTag × expire): a
    // CREATE TABLE / CREATE MATERIALIZED VIEW racing this create
    // re-checks views after ITS publish too, so at least one side
    // always observes the other and fails
    if (tableExists(info.ident()) || mvExists(info.ident())) {
      java.nio.file.Files.deleteIfExists(viewPath(info.ident()))
      throw new IllegalArgumentException(
        s"a TABLE or MATERIALIZED VIEW named ${info.ident()} was created " +
          s"concurrently in catalog $catalogName — the view was not created")
    }
    loadView(info.ident())
  }

  override def replaceView(info: ViewInfo, orCreate: Boolean): View = {
    requireNoMv(info.ident())
    if (tableExists(info.ident())) throw new IllegalArgumentException(
      s"a TABLE named ${info.ident()} already exists in catalog " +
        s"$catalogName — tables and views share one namespace")
    if (!viewExists(info.ident()) && !orCreate)
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchViewException(info.ident())
    GraftViewStore.write(viewPath(info.ident()), info, createNew = false)
    loadView(info.ident())
  }

  override def alterView(ident: Identifier, changes: ViewChange*): View = {
    if (!viewExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident)
    val p = viewPath(ident)
    val s0 = GraftViewStore.read(p)
    val props = changes.foldLeft(s0.properties) {
      case (acc, c: ViewChange.SetProperty) => acc + (c.property() -> c.value())
      case (acc, c: ViewChange.RemoveProperty) => acc - c.property()
      case (_, other) => throw new UnsupportedOperationException(
        s"unsupported view change: $other")
    }
    GraftViewStore.writeStored(p, s0.copy(properties = props))
    loadView(ident)
  }

  override def dropView(ident: Identifier): Boolean =
    viewExists(ident) && java.nio.file.Files.deleteIfExists(viewPath(ident))

  override def renameView(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!viewExists(oldIdent))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchViewException(oldIdent)
    val from = viewPath(oldIdent)
    if (viewExists(newIdent))
      throw new org.apache.spark.sql.catalyst.analysis
        .ViewAlreadyExistsException(newIdent)
    if (tableExists(newIdent)) throw new IllegalArgumentException(
      s"a TABLE named $newIdent already exists in catalog $catalogName — " +
        "tables and views share one namespace")
    java.nio.file.Files.createDirectories(viewPath(newIdent).getParent)
    try java.nio.file.Files.move(from, viewPath(newIdent))
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new org.apache.spark.sql.catalyst.analysis
          .ViewAlreadyExistsException(newIdent)
    }
  }

  /** FunctionCatalog leg: exposes the store's `bucket` transform so
    * Spark's storage-partitioned-join machinery can resolve and match the
    * `KeyGroupedPartitioning` the scans report (see
    * [[GraftBucketFunction]]). */
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(namespace, "bucket"))

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.name() == "bucket") GraftBucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)

  /** ProcedureCatalog leg: the store's maintenance operations as native
    * SQL `CALL` statements (see [[GraftProcedures]]). */
  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    GraftProcedures.Names.map(n => Identifier.of(namespace, n)).toArray

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    if (GraftProcedures.Names.contains(ident.name()))
      new GraftProcedure(ident.name(), { t =>
        require(!t.contains("/") && !t.contains(".."), s"illegal table name: $t")
        // maintenance on a BRANCH: `table => 't$branch$b'` routes to the
        // branch's own store dir (optimize/analyze/expire a branch
        // without touching main)
        val i = t.indexOf(GraftCatalog.BranchInfix)
        if (i < 0) s"$warehouse/$t"
        else GraftStore.branchDir(s"$warehouse/${t.substring(0, i)}",
          t.substring(i + GraftCatalog.BranchInfix.length))
      }, this)
    else throw new RuntimeException(s"no such procedure: $ident")

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    require(!newIdent.name().endsWith(ChangesSuffix) &&
        !newIdent.name().endsWith(GraftCatalog.VersionsSuffix) &&
        !newIdent.name().endsWith(GraftCatalog.FilesSuffix) &&
        !newIdent.name().endsWith(GraftCatalog.PartitionsSuffix) &&
        !newIdent.name().endsWith(GraftCatalog.MvSuffix) &&
        !newIdent.name().endsWith(GraftCatalog.BranchesSuffix) &&
        !newIdent.name().contains(GraftCatalog.BranchInfix),
      "table names ending in the $changes/$versions/$files/$partitions/" +
        "$mv/$branches suffixes (or containing $branch$) are reserved")
    require(!GraftTxn.isEnrolled(catalogName, dottedName(oldIdent)) &&
        !GraftTxn.isEnrolled(catalogName, dottedName(newIdent)),
      "RENAME involving a table enrolled in this session's active " +
        "transaction is blocked — commit_txn or rollback_txn first")
    if (!GraftStore.exists(tableDir(oldIdent))) throw new NoSuchTableException(oldIdent)
    if (GraftStore.exists(tableDir(newIdent))) throw new TableAlreadyExistsException(newIdent)
    requireNoView(newIdent) // tables and views share one namespace
    requireNoMv(newIdent)
    java.nio.file.Files.move(java.nio.file.Paths.get(tableDir(oldIdent)),
      java.nio.file.Paths.get(tableDir(newIdent)))
    // move-then-verify (same discipline as createTable/createView): a
    // CREATE VIEW racing this rename re-checks tables after ITS write,
    // so at least one side always observes the other and rolls back
    if (viewExists(newIdent)) {
      java.nio.file.Files.move(java.nio.file.Paths.get(tableDir(newIdent)),
        java.nio.file.Paths.get(tableDir(oldIdent)))
      throw new IllegalArgumentException(
        s"a VIEW named $newIdent was created concurrently in catalog " +
          s"$catalogName — the table keeps its old name $oldIdent")
    }
  }
}

object GraftCatalog {
  /** Epoch-invalidated per-warehouse cache of the `_mvs/` directory
    * listing ([[GraftCatalog.listAllMvs]]). The transparent-rewrite rule
    * consults the listing on EVERY planning of every aggregate over a
    * graft table — on object storage at fleet scale that was one
    * metadata RPC per query. The epoch bumps on
    * every same-JVM MV create/drop (the only events that change the
    * listing), so steady-state planning performs ZERO filesystem calls
    * for the candidate list. Cross-process MV churn is invisible until
    * this JVM's next bump — safe in both directions: an unseen new MV
    * just isn't rewritten to (conservative), an unseen drop fails the
    * candidate's record read and is skipped. Shared across catalog
    * instances (keyed by warehouse path) because two sessions' catalogs
    * over one warehouse must see each other's create/drop. */
  private val mvListCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Long, Seq[Identifier])]()
  private val mvListEpoch = new java.util.concurrent.atomic.AtomicLong()
  /** Test instrumentation: actual `_mvs/` directory scans performed. */
  private[graft] val mvListingScans =
    new java.util.concurrent.atomic.AtomicLong()
  private[sources] def invalidateMvListings(): Unit =
    mvListEpoch.incrementAndGet()

  /** Rebuild a Column predicate from a V1 source [[Filter]] — the shapes
    * Spark can translate a REPLACE WHERE condition into (anything it
    * can't translate is rejected by the planner before reaching us, so
    * this set is exhaustive by construction). */
  private[sources] def filterToColumn(
      f: org.apache.spark.sql.sources.Filter): Column = {
    import org.apache.spark.sql.functions.{col, lit, not}
    import org.apache.spark.sql.sources._
    f match {
      case EqualTo(a, v) => col(a) === lit(v)
      case EqualNullSafe(a, v) => col(a) <=> lit(v)
      case GreaterThan(a, v) => col(a) > lit(v)
      case GreaterThanOrEqual(a, v) => col(a) >= lit(v)
      case LessThan(a, v) => col(a) < lit(v)
      case LessThanOrEqual(a, v) => col(a) <= lit(v)
      case In(a, vs) => col(a).isin(vs.toIndexedSeq: _*)
      case IsNull(a) => col(a).isNull
      case IsNotNull(a) => col(a).isNotNull
      case StringStartsWith(a, v) => col(a).startsWith(v)
      case StringEndsWith(a, v) => col(a).endsWith(v)
      case StringContains(a, v) => col(a).contains(v)
      case And(l, r) => filterToColumn(l) && filterToColumn(r)
      case Or(l, r) => filterToColumn(l) || filterToColumn(r)
      case Not(c) => not(filterToColumn(c))
      case _: AlwaysTrue => lit(true)
      case _: AlwaysFalse => lit(false)
      case other => throw new UnsupportedOperationException(
        s"REPLACE WHERE filter not supported: $other")
    }
  }

  /** Identifier suffix routing to a table's changelog, e.g.
    * `` cat.`orders$changes` ``. */
  val ChangesSuffix = "$changes"
  /** Identifier suffix routing to a table's version history, e.g.
    * `` cat.`orders$versions` ``. */
  val VersionsSuffix = "$versions"
  /** Identifier suffix routing to a table's current file-level layout and
    * zone-map stats, e.g. `` cat.`orders$files` ``. */
  val FilesSuffix = "$files"
  /** Identifier suffix routing to a table's current partition-level
    * layout, e.g. `` cat.`orders$partitions` ``. */
  val PartitionsSuffix = "$partitions"
  /** Column names the changelog claims next to the data columns; rejected
    * as data-column names at CREATE and ALTER ADD/RENAME time. */
  val ChangeReserved: Seq[String] = Seq(GraftStore.ChangeOpCol,
    GraftStore.ChangeBeforeCol, GraftStore.ChangeVersionCol)

  /** Identifier suffix routing to a materialized view's freshness
    * metadata, e.g. `` cat.`daily_mv$mv` `` — one row per source table
    * with the refreshed-through vs current version and staleness. */
  val MvSuffix = "$mv"
  /** Identifier infix addressing a BRANCH of a table as a full
    * read-write table, e.g. `` cat.`orders$branch$exp1` `` — DML, MERGE,
    * time travel and maintenance all run against the branch. */
  val BranchInfix = "$branch$"
  /** Identifier suffix routing to a table's branch listing, e.g.
    * `` cat.`orders$branches` ``. */
  val BranchesSuffix = "$branches"

  /** Parse + validate a `bloom_filter_columns` property value against a
    * schema (the ONE rule CREATE and ALTER share): columns must exist and
    * be bloom-hashable. parquet-mr blooms the primitive families EXCEPT
    * boolean — its hash path throws at READ time on a boolean predicate
    * (and a 2-value domain has nothing to bloom anyway), so booleans are
    * rejected here rather than crashing the first filtered scan. */
  private[sources] def validatedBloomCols(schema: StructType,
      prop: Option[String]): Seq[String] = {
    val cols = prop.map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(Nil)
    cols.foreach { c =>
      require(schema.fieldNames.contains(c),
        s"bloom_filter_columns column $c not in schema")
      val dt = schema(c).dataType
      require(GraftStore.morKeyTypeOk(dt) &&
          dt != org.apache.spark.sql.types.BooleanType,
        s"bloom_filter_columns needs atomic non-boolean columns " +
          s"(parquet cannot bloom-hash $dt); $c is $dt")
    }
    cols
  }
}

/** The current version's files as a read-only metadata table (the
  * DESCRIBE DETAIL analogue): one row per (file, column-with-stats) with
  * the zone-map endpoints the scan prunes by, or a single stats-less row
  * for files without manifest entries (unreadable footers). Column names are
  * mapped physical→LOGICAL where the current schema knows them
  * (tombstoned physical columns show as-is). Driver-local: rows ∝ files ×
  * columns, manifest metadata only, never data. */
final class GraftFilesTable(tableName: String, dir: String)
    extends Table with SupportsRead {
  import org.apache.spark.sql.types._
  import org.apache.spark.unsafe.types.UTF8String

  private val schema0 = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("bucket", IntegerType, nullable = true),
    StructField("size_bytes", LongType, nullable = false),
    StructField("column", StringType, nullable = true),
    StructField("null_count", LongType, nullable = true),
    StructField("row_count", LongType, nullable = true),
    StructField("min", StringType, nullable = true),
    StructField("max", StringType, nullable = true)))

  override def name(): String = tableName
  override def schema(): StructType = schema0
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new org.apache.spark.sql.connector.read.LocalScan {
      override def readSchema(): StructType = schema0
      override def description(): String = s"GraftFiles($tableName)"
      override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] = {
        val meta = GraftStore.readMeta(dir)
        val physToLog = meta.schema.fields
          .map(f => GraftStore.physicalName(f) -> f.name).toMap
        val cur = GraftStore.currentVersion(dir)
        def mk(rel: String, bucket: Int, size: Long,
            col: Option[(String, GraftStats.ColStats)]) = {
          // no tuple destructuring here: a typed pattern (even `: Any`)
          // never matches null in Scala 2.13, so the stats-less legs would
          // MatchError instead of producing the documented null row
          val tail: Array[Any] = col match {
            case None => Array(null, null, null, null, null)
            case Some((c, cs)) => Array[Any](
              UTF8String.fromString(physToLog.getOrElse(c, c)),
              if (cs.nullCount < 0) null else cs.nullCount,
              if (cs.rowCount < 0) null else cs.rowCount,
              cs.min.map(v => UTF8String.fromString(v.toString)).orNull,
              cs.max.map(v => UTF8String.fromString(v.toString)).orNull)
          }
          new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            Array[Any](UTF8String.fromString(rel), bucket, size) ++ tail)
        }
        // live files resolved through the version manifests; each file's
        // size and stats come from its OWNING version dir's manifest
        GraftStore.snapshotFileEntries(dir, cur).flatMap { e =>
          val b = GraftStore.slotBucket(e.slot)
          if (e.stats.isEmpty) Seq(mk(e.rel, b, e.size, None))
          else e.stats.toSeq.sortBy(_._1).map(c => mk(e.rel, b, e.size, Some(c)))
        }.toArray
      }
    }
}

/** The current version's PARTITIONS as a read-only metadata table (SHOW
  * PARTITIONS + per-partition sizing in one place): one row per partition
  * ordinal with its slot/file/byte footprint and footer row count — what
  * a retention operator reads to pick an `expire_partitions` bound.
  * Driver-local, manifest metadata only, never data. Unpartitioned
  * tables read as ONE null-partition row covering the whole table.
  * `file_rows` is the footer sum over the partition's live files —
  * nullable (a file without footer stats), and an OVERCOUNT while
  * merge-on-read delete slices are live (slices are bucket-scoped, not
  * attributable per partition; `` t$versions.live_deletes `` carries the
  * table-wide live-delete row count). */
final class GraftPartitionsTable(tableName: String, dir: String)
    extends Table with SupportsRead {
  import org.apache.spark.sql.types._
  import org.apache.spark.unsafe.types.UTF8String

  private val schema0 = StructType(Seq(
    StructField("partition", StringType, nullable = true),
    StructField("transform", StringType, nullable = true),
    StructField("source_column", StringType, nullable = true),
    StructField("n_buckets", IntegerType, nullable = false),
    StructField("n_files", LongType, nullable = false),
    StructField("size_bytes", LongType, nullable = false),
    StructField("file_rows", LongType, nullable = true)))

  override def name(): String = tableName
  override def schema(): StructType = schema0
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new org.apache.spark.sql.connector.read.LocalScan {
      override def readSchema(): StructType = schema0
      override def description(): String = s"GraftPartitions($tableName)"
      override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] = {
        val meta = GraftStore.readMeta(dir)
        val cur = GraftStore.currentVersion(dir)
        // mid set_partition_spec migration a snapshot mixes grains, so no
        // single transform labels every ordinal — report it as unknown
        // (the value column stays the raw dir ordinal either way)
        val uniformSpec = GraftStore.snapshotPartSpecs(dir, cur, meta) match {
          case Seq(one) => Some(one)
          case Seq() => GraftStore.versionPartSpec(dir, cur)
          case _ => None
        }
        val (fn, logCol) = uniformSpec match {
          case Some((f, physCol)) =>
            val log = meta.schema.fields
              .find(x => GraftStore.physicalName(x) == physCol)
              .map(_.name).getOrElse(physCol)
            (UTF8String.fromString(f), UTF8String.fromString(log))
          case None => (null, null)
        }
        val grouped = GraftStore.snapshotFileEntries(dir, cur)
          .groupBy(e => GraftStore.slotPart(e.slot))
          .toSeq.sortBy(_._1)
        // an EMPTY unpartitioned table still reads as its one (null)
        // partition row — zero footprint, not zero rows (the documented
        // contract; consumers distinguish 'no table' from 'no data')
        val withEmpty =
          if (grouped.nonEmpty || meta.partition.isDefined) grouped
          else Seq(None -> Seq.empty[GraftStore.SnapshotFile])
        withEmpty.map { case (part, es) =>
          val rows = es.map(_.rowCount)
          new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            Array[Any](
              part.map(p => UTF8String.fromString(
                org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
                  .unescapePathName(p))).orNull,
              fn, logCol,
              es.map(e => GraftStore.slotBucket(e.slot)).distinct.size,
              es.size.toLong,
              es.map(e => math.max(0L, e.size)).sum,
              if (rows.exists(_.isEmpty)) null else rows.flatten.sum))
        }.toArray
      }
    }
}

/** A staged CTAS/RTAS table: a fully functional store under a private
  * `.stage-<uuid>` sibling dir — the query writes into it through the
  * normal insert machinery — published atomically by
  * [[GraftStagedTable.commitStagedChanges]]: CREATE renames the stage dir
  * into place (one atomic move), REPLACE swaps the live table's contents
  * and schema as one claimed boundary commit with history preserved. */
final class GraftStagedTable(ident: Identifier, finalDir: String,
    stageDir: String, replace: Boolean)
    extends StagedTable with SupportsWrite {
  private val inner = new GraftTable(ident.toString, stageDir, pinnedVersion = None)
  override def name(): String = inner.name()
  override def schema(): StructType = inner.schema()
  override def properties(): util.Map[String, String] = inner.properties()
  override def capabilities(): util.Set[TableCapability] = inner.capabilities()
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    inner.newWriteBuilder(info)
  override def commitStagedChanges(): Unit =
    if (replace && GraftStore.exists(finalDir)) {
      // RTAS onto a live table: claimed in-place swap, then drop the stage
      GraftStore.replaceFromStaged(finalDir, stageDir)
      GraftStore.dropStaged(stageDir)
    } else GraftStore.adoptStaged(stageDir, finalDir)
  override def abortStagedChanges(): Unit = GraftStore.dropStaged(stageDir)
}

/** A table's version history as a read-only metadata table (the
  * DESCRIBE HISTORY analogue): one row per retained version with its
  * layout stats and whether the pointer currently resolves to it. Served
  * as a driver-local scan — rows ∝ retained versions, file listing is
  * directory metadata, never data. */
final class GraftVersionsTable(tableName: String, dir: String)
    extends Table with SupportsRead {
  import org.apache.spark.sql.types._

  private val schema0 = StructType(Seq(
    StructField("version", LongType, nullable = false),
    StructField("is_current", BooleanType, nullable = false),
    StructField("committed_at", TimestampType, nullable = false),
    StructField("buckets", IntegerType, nullable = false),
    StructField("n_buckets", IntegerType, nullable = false),
    StructField("n_files", LongType, nullable = false),
    StructField("size_bytes", LongType, nullable = false),
    StructField("has_changelog", BooleanType, nullable = false),
    StructField("is_boundary", BooleanType, nullable = false),
    StructField("live_deletes", LongType, nullable = false),
    StructField("tags", ArrayType(StringType, containsNull = false),
      nullable = false)))

  override def name(): String = tableName
  override def schema(): StructType = schema0
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new org.apache.spark.sql.connector.read.LocalScan {
      override def readSchema(): StructType = schema0
      override def description(): String = s"GraftVersions($tableName)"
      override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] = {
        GraftStore.recoverChangelog(dir)
        val cur = GraftStore.currentVersion(dir)
        val meta = GraftStore.readMeta(dir)
        // tags (named refs) grouped by the version they pin — the
        // operator's view of what retention will NOT reclaim
        val tagsByV = GraftStore.listTags(dir).toSeq
          .groupMap(_._2)(_._1).view.mapValues(_.sorted).toMap
        GraftStore.listVersions(dir).map { v =>
          val (nb, nf, bytes) = GraftStore.versionStats(dir, v)
          // `buckets` = the fan-out this version was WRITTEN with (its
          // manifest's layout — CALL rebucket changes it across versions);
          // `n_buckets` = non-empty bucket dirs it actually has;
          // `committed_at` = the stamp TIMESTAMP AS OF resolves against;
          // `is_boundary` = restore/truncate/overwrite snapshot boundary
          // (a CDC fold may not cross it — the stream fails loudly there);
          // `live_deletes` = merge-on-read delete rows still applied at
          // scan time (0 on a compacted or copy-on-write version — the
          // operator signal for scheduling OPTIMIZE; the manifest's
          // counts, cap-bounded by the write side)
          new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            Array[Any](v, v == cur, GraftStore.committedAt(dir, v) * 1000L,
              GraftStore.versionBuckets(dir, v),
              nb, nf, bytes, GraftStore.hasChangelog(dir, v),
              GraftStore.isBoundary(dir, v),
              GraftStore.dvLiveRows(GraftStore.versionDir(dir, v)),
              org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
                tagsByV.getOrElse(v, Nil)
                  .map(org.apache.spark.unsafe.types.UTF8String.fromString)
                  .toArray[Any])))
        }.toArray
      }
    }
}

/** A table's branches as a read-only DSv2 table (`` t$branches ``):
  * one row per branch — name, fork version, current head, and how many
  * commits it is ahead of the fork. */
final class GraftBranchesTable(tableName: String, dir: String)
    extends Table with SupportsRead {
  import org.apache.spark.sql.types._

  private val schema0 = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("fork_version", LongType, nullable = false),
    StructField("head_version", LongType, nullable = false),
    StructField("commits_ahead", LongType, nullable = false)))

  override def name(): String = tableName
  override def schema(): StructType = schema0
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new org.apache.spark.sql.connector.read.LocalScan {
      override def readSchema(): StructType = schema0
      override def description(): String = s"GraftBranches($tableName)"
      override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] = {
        import org.apache.spark.unsafe.types.UTF8String
        GraftStore.listBranches(dir).map { b =>
          val fork = GraftStore.branchForkBase(dir, b)
          val head = GraftStore.currentVersion(GraftStore.branchDir(dir, b))
          new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            Array[Any](UTF8String.fromString(b), fork, head,
              GraftStore.listVersions(GraftStore.branchDir(dir, b))
                .count(_ > fork).toLong))
        }.toArray
      }
    }
}

/** A materialized view's freshness metadata as a read-only DSv2 table
  * (`` mv$mv ``): one row per source table — the version the state is
  * refreshed through, the source's current version, staleness, and
  * whether the next refresh can fold the changelog incrementally. */
final class GraftMvInfoTable(tableName: String, g: GraftCatalog,
    baseIdent: Identifier) extends Table with SupportsRead {
  import org.apache.spark.sql.types._

  private val schema0 = StructType(Seq(
    StructField("source_table", StringType, nullable = false),
    StructField("state_table", StringType, nullable = false),
    StructField("refreshed_version", LongType, nullable = true),
    StructField("source_version", LongType, nullable = false),
    StructField("stale", BooleanType, nullable = false),
    StructField("incremental", BooleanType, nullable = false)))

  override def name(): String = tableName
  override def schema(): StructType = schema0
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new org.apache.spark.sql.connector.read.LocalScan {
      override def readSchema(): StructType = schema0
      override def description(): String = s"GraftMvInfo($tableName)"
      override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] = {
        import org.apache.spark.unsafe.types.UTF8String
        GraftMaterializedViews.infoRows(SparkSession.active, g.name(), g,
          baseIdent).map { case (src, st, refreshed, cur, stale, incr) =>
          new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            Array[Any](UTF8String.fromString(src), UTF8String.fromString(st),
              refreshed.map(Long.box).orNull, cur, stale, incr))
        }.toArray
      }
    }
}

/** A table's changelog as a read-only DSv2 table: every committed change
  * row (full image + `change_op` I/U/D) partitioned by `change_version`,
  * whose batch scan plans only the slices its pushed version predicates
  * admit ([[org.apache.spark.sql.GraftSnapshotScan.changesRange]]) and whose
  * stream is [[GraftChangesMicroBatchStream]]. This is the CDC *producer*
  * half of the S9/S11 story: downstream consumers read a version range
  * and fold it with [[GraftStore.replayChanges]] instead of diffing
  * snapshots. */
final class GraftChangesTable(tableName: String, dir: String)
    extends Table with SupportsRead {
  private lazy val meta = GraftStore.readMeta(dir)

  override def name(): String = tableName
  override def schema(): StructType = GraftStore.changesSchema(meta)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // finish any committed-but-unpublished changelog first; uncommitted
    // batches live in dot-prefixed staging dirs this scan never sees
    GraftStore.recoverChangelog(dir)
    // `readStream.table` on this table streams the changelog with
    // VERSION-ALIGNED micro-batches (GraftChangesMicroBatchStream);
    // maxVersionsPerTrigger / maxRowsPerTrigger bound each batch
    val spark = SparkSession.active
    new org.apache.spark.sql.GraftScanBuilder(
      filters => {
        val (lo, hi) = org.apache.spark.sql.GraftSnapshotScan.changesRange(filters)
        org.apache.spark.sql.GraftSnapshotScan.changesScanBuilder(spark, dir,
          meta, lo, hi)
      },
      // flat data columns rename; the before-image struct's INNER fields
      // rename too (ordinal-safe — only names differ)
      org.apache.spark.sql.GraftNameMap(GraftStore.logToPhys(meta.schema),
        Set(GraftStore.ChangeBeforeCol)),
      stream = Some(() => new GraftChangesMicroBatchStream(dir, meta,
        GraftStreamLimits.parse(options, "maxVersionsPerTrigger"),
        GraftStreamLimits.parse(options, "maxRowsPerTrigger"))))
  }
}

/** One catalog table: logical schema from `_meta.json`, data from the
  * current (or pinned) version directory. */
final class GraftTable(tableName: String, dir: String, pinnedVersion: Option[Long],
    writeBlock: Option[String] = None)
    extends Table with SupportsRead with SupportsWrite with SupportsRowLevelOperations
    with TruncatableTable {

  /** Store directory + pinned version, for in-package plan analysis
    * (materialized-view shape extraction reads them off the relation). */
  private[sources] def tableDir: String = dir
  private[sources] def pinned: Option[Long] = pinnedVersion

  /** S45 planning-time write fence: set when the session has an active
    * transaction that did NOT enroll this table — the write would land
    * on main outside the txn. Reads are never fenced. */
  private def assertWritable(): Unit =
    writeBlock.foreach(msg => throw new IllegalStateException(msg))

  /** SQL `TRUNCATE TABLE`: one claimed empty-version commit. */
  override def truncateTable(): Boolean = {
    assertWritable()
    GraftStore.truncate(dir); true
  }

  private[sources] lazy val meta: GraftTableMeta = GraftStore.readMeta(dir)

  override def name(): String = tableName
  override def schema(): StructType = meta.schema
  override def properties(): util.Map[String, String] = {
    val p2l = GraftStore.logToPhys(meta.schema).map(_.swap)
    (Map("merge_key" -> meta.keyCols.mkString(","),
      "buckets" -> meta.buckets.toString,
      "merge_mode" -> meta.mergeMode,
      "current_version" -> GraftStore.currentVersion(dir).toString) ++
      (if (meta.autoOptimize > 0)
        Map("auto_optimize" -> meta.autoOptimize.toString)
       else Map.empty[String, String]) ++
      (if (meta.bloomCols.isEmpty) Map.empty[String, String]
       else Map("bloom_filter_columns" -> meta.bloomCols
         .map(c => p2l.getOrElse(c, c)).mkString(",")))).asJava
  }

  override def capabilities(): util.Set[TableCapability] =
    // AUTOMATIC_SCHEMA_EVOLUTION: `MERGE INTO t WITH SCHEMA EVOLUTION`
    // lets the analyzer auto-ADD source-only columns (and widen types)
    // through the catalog's alterTable before planning the merge — the
    // store's ADD path is metadata-only (null-backfill via the physical
    // column mapping), so an evolving upstream never blocks ingestion
    // and never rewrites a byte of history
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER, TableCapability.STREAMING_WRITE,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)

  /** Persisted CHECK constraints, reported enforced+validated: writes are
    * validated on ADD (one scan) and on every INSERT/UPDATE/MERGE (the
    * write path raises on the first violating row). */
  override def constraints():
      Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    meta.checks.map { case (n, sqlText) =>
      org.apache.spark.sql.connector.catalog.constraints.Constraint
        .check(n).predicateSql(sqlText).enforced(true)
        .validationStatus(org.apache.spark.sql.connector.catalog.constraints
          .Constraint.ValidationStatus.VALID)
        .rely(true).build()
        : org.apache.spark.sql.connector.catalog.constraints.Constraint
    }.toArray

  /** The scan of the pinned (or current) version: manifest-planned
    * (see [[org.apache.spark.sql.GraftSnapshotScan]]) through
    * [[GraftTable.scanBuilder]], with SPJ grouping when the session opts
    * in and the append stream for `readStream.table`. The bucket and
    * partition columns never appear in this table's logical schema, so
    * no query can request them and column pruning drops them. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // a decided-but-incomplete table-group publish (S44) rolls forward
    // HERE, before the version resolves — a reader can never plan a
    // member's pre-publish snapshot once the group's decision is durable
    val version = pinnedVersion.getOrElse {
      GraftStore.recoverGroupCommit(dir)
      GraftStore.currentVersion(dir)
    }
    // opt-in storage-partitioned-join mode: report bucket partitioning so
    // same-keyed graft⋈graft joins drop both Exchanges (one partition per
    // bucket — the right trade when a co-located join dominates the scan)
    val spj = SparkSession.active.conf
      .getOption("spark.graft.store.spj").exists(_.toBoolean)
    GraftTable.scanBuilder(dir, meta, version, options, spj,
      // `readStream.table` on the TABLE ITSELF: snapshot-then-tail append
      // stream ([[GraftTableAppendStream]])
      Some(() => new GraftTableAppendStream(dir, meta,
        ignoreDeletes = options.getBoolean("ignoreDeletes", false),
        ignoreChanges = options.getBoolean("ignoreChanges", false),
        skipChangeCommits = options.getBoolean("skipChangeCommits", false),
        maxVersionsPerTrigger =
          GraftStreamLimits.parse(options, "maxVersionsPerTrigger"),
        maxRowsPerTrigger =
          GraftStreamLimits.parse(options, "maxRowsPerTrigger"))))
  }

  /** INSERT INTO / INSERT OVERWRITE / CTAS append path: a V1 fallback write
    * hands us the source as a DataFrame and the append is the same
    * bucketed copy-on-write commit as the delta path with every row an
    * insert — one distributed job, nothing driver-side. The same builder
    * serves `df.writeStream.toTable(...)` via [[GraftStreamingAppend]]:
    * per-epoch staged inserts, idempotent epoch commits.
    *
    * `INSERT INTO t REPLACE WHERE <pred> SELECT ...` lands through
    * [[org.apache.spark.sql.connector.write.SupportsOverwrite]]: ONE
    * atomic commit that deletes every base row matching the predicate and
    * upserts the new rows (they commit as 'U' deltas, so a new row whose
    * key survives OUTSIDE the replaced region replaces it — the
    * one-live-row-per-key contract holds either way). Cost ∝ matching
    * rows + new rows' buckets, full CDC (D rows for the replaced region,
    * before-imaged upserts for the new), snapshot-conflict-checked like
    * any delta. The trivial always-true predicate routes to the
    * whole-table single-commit overwrite. */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    assertWritable()
    new WriteBuilder with SupportsTruncate
        with org.apache.spark.sql.connector.write.SupportsOverwrite {
      private var doTruncate = false
      private var replaceWhere: Array[org.apache.spark.sql.sources.Filter] =
        Array.empty
      override def truncate(): WriteBuilder = { doTruncate = true; this }
      override def overwrite(
          filters: Array[org.apache.spark.sql.sources.Filter]): WriteBuilder = {
        if (filters.isEmpty ||
            filters.forall(_.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue]))
          doTruncate = true
        else replaceWhere = filters
        this
      }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          (data, overwrite) => {
            val spark = data.sparkSession
            import org.apache.spark.sql.functions.{col, lit}
            // idempotent writer commits: an (txnAppId, txnVersion) pair at
            // or below the table's recorded high-water makes the whole
            // write a no-op — the retried-batch-job contract
            val txn = GraftStore.parseTxnOptions(info.options())
            if (txn.exists { case (a, v) =>
                  GraftStore.lastTxnVersion(dir, a).exists(_ >= v) }) {
              // already applied — skip before planning any job
            } else if (replaceWhere.nonEmpty && meta.keyCols.isEmpty) {
              // keyless REPLACE WHERE: no row identity to delta against —
              // the replacement is ONE whole-table overwrite commit of
              // (kept ∪ new), pinned to the snapshot it read (a racing
              // append conflicts instead of being silently dropped).
              // O(table) rewrite: right for the partition-scoped replaces
              // this shape uses; pure retention should prefer
              // expire_partitions (metadata-only)
              val pred = replaceWhere.map(GraftCatalog.filterToColumn)
                .reduce(_ && _)
              val snapshot = GraftStore.currentVersion(dir)
              val cols = meta.schema.fieldNames.toSeq
              // keep rows where pred is FALSE or NULL — exactly the rows
              // the keyed path's delete (filter(pred)) would not target
              val kept = GraftStore.readVersion(spark, dir, snapshot)
                .filter(!org.apache.spark.sql.functions
                  .coalesce(pred, lit(false)))
                .select(cols.map(col): _*)
              GraftStore.applyChanges(spark, dir,
                kept.unionByName(data.toDF(cols: _*).select(cols.map(col): _*))
                  .withColumn(GraftStore.OpCol, lit("I")),
                allInserts = true, overwrite = true,
                expectedVersion = Some(snapshot), txn = txn)
            } else if (replaceWhere.nonEmpty) {
              val pred = replaceWhere.map(GraftCatalog.filterToColumn)
                .reduce(_ && _)
              val snapshot = GraftStore.currentVersion(dir)
              val cols = meta.schema.fieldNames.toSeq
              // replaced rows become D deltas carrying only the key (rest
              // null, like the row-level path); new rows are keyed upserts
              val dels = GraftStore.readVersion(spark, dir, snapshot)
                .filter(pred)
                .select(cols.map(c =>
                  if (meta.keyCols.contains(c)) col(c)
                  else lit(null).cast(meta.schema(c).dataType).as(c)): _*)
                .withColumn(GraftStore.OpCol, lit("D"))
              val ups = data.toDF(cols: _*).select(cols.map(col): _*)
                .withColumn(GraftStore.OpCol, lit("U"))
              // same loud guard as the streaming upsert sink: rows are
              // keyed upserts, and two source rows for one merge key
              // would both land (which one "wins" is undefined) —
              // corrupting the one-live-row-per-key invariant silently
              import org.apache.spark.sql.functions.count
              val dup = ups.groupBy(meta.keyCols.map(col): _*)
                .agg(count(lit(1)).as("n")).filter(col("n") > 1)
                .limit(1).collect()
              if (dup.nonEmpty) throw new IllegalStateException(
                "REPLACE WHERE source has multiple rows for merge key " +
                  dup.head.toSeq.init.mkString("(", ",", ")") +
                  "; dedupe or aggregate per key first")
              GraftStore.applyChanges(spark, dir, dels.unionByName(ups),
                expectedVersion = Some(snapshot), txn = txn)
            } else {
              // overwrite is a SINGLE version commit (write new data, link
              // nothing, flip once) — never a truncate-then-append pair,
              // which would expose an empty table to concurrent readers and
              // leave one behind on a crash between the halves.
              GraftStore.applyChanges(spark, dir,
                data.withColumn(GraftStore.OpCol, lit("I")),
                allInserts = true, overwrite = doTruncate || overwrite,
                txn = txn)
            }
          }
        override def toStreaming:
            org.apache.spark.sql.connector.write.streaming.StreamingWrite =
          new GraftStreamingAppend(dir, meta, info.schema(),
            GraftStore.stagingDir(dir, s"stream-${info.queryId()}"),
            info.queryId(), info.options().getBoolean("upsert", false))
      }
    }
  }

  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder = {
    assertWritable()
    // the clear planning-time error the append-only contract promises:
    // row-level DML has no key to target rows by
    if (meta.keyCols.isEmpty) throw new UnsupportedOperationException(
      s"$tableName is an APPEND-ONLY table (no merge key): " +
        s"${info.command()} is not supported — use INSERT, " +
        "INSERT OVERWRITE, REPLACE WHERE, or expire_partitions for " +
        "retention")
    () => new GraftDeltaOperation(tableName, dir, meta, info.command())
  }
}

object GraftTable {
  /** The scan of one version of a store table — shared by table scans
    * and the row-level operation's target scan: the manifest-resolved
    * snapshot over PHYSICAL names, mapped to the table's logical names,
    * with merge-key → bucket and partition pruning, zone maps and
    * manifest statistics, and the version's delete probe while it has
    * live delete slices. `spj` reports bucket partitioning for keyed
    * tables; `stream` serves `readStream.table`. */
  private[sources] def scanBuilder(dir: String, meta: GraftTableMeta,
      version: Long, options: CaseInsensitiveStringMap, spj: Boolean = false,
      stream: Option[() => org.apache.spark.sql.connector.read.streaming
        .MicroBatchStream] = None): ScanBuilder = {
    val spark = SparkSession.active
    val vdir = GraftStore.versionDir(dir, version)
    val physSchema = GraftStore.physicalSchema(meta.schema)
    val l2p = GraftStore.logToPhys(meta.schema)
    val p2l = l2p.map(_.swap)
    // the fan-out is a property of the scanned VERSION's layout (its
    // manifest's bucket count — CALL rebucket changes it across
    // versions), so pruning and SPJ derive from it, never from meta alone
    val vBuckets = GraftStore.versionBuckets(dir, version)
    val derivations = org.apache.spark.sql.GraftDerivations(
      new org.apache.spark.sql.GraftBucketDerivation(
        meta.keyCols, vBuckets, GraftStore.BucketCol),
      // partition pruning is era-aware: sound only when every owner dir
      // of THIS snapshot was written under one partition grain — a mixed
      // snapshot (mid set_partition_spec migration) derives nothing (the
      // source-column predicates stay in the residue, so reads are exact;
      // CALL rebucket re-grains and pruning resumes)
      (GraftStore.snapshotPartSpecs(dir, version, meta) match {
        case Seq(one) => Some(one)
        case Seq() => GraftStore.versionPartSpec(dir, version)
        case _ => None // mixed eras
      }).map { case (fn, physCol) =>
        new org.apache.spark.sql.GraftPartDerivation(fn,
          p2l.getOrElse(physCol, physCol),
          org.apache.spark.sql.GraftSnapshotScan.partType(meta, physSchema).get)
      },
      vdir,
      // staleness-gated: heavy DML past the analyzed version withholds
      // the column stats rather than serving pre-mutation NDV/min-max
      () => GraftStore.freshTableColStats(dir, version)
        .flatMap { case (phys, st) => p2l.get(phys).map(_ -> st) })
    new org.apache.spark.sql.GraftScanBuilder(
      _ => org.apache.spark.sql.GraftSnapshotScan.parquetScanBuilder(
        spark, dir, version, meta, physSchema, options),
      org.apache.spark.sql.GraftNameMap(l2p),
      Some(derivations),
      // live merge-on-read delete slices change the scan contract: footer-
      // served aggregates, exact manifest row counts and SPJ's
      // one-partition-per-bucket regrouping all pause until OPTIMIZE
      // clears the slices
      if (GraftStore.hasLiveDv(vdir))
        org.apache.spark.sql.GraftDeleteProbe.load(spark, dir, version, meta)
      else None,
      // keyless tables bucket by whole-row hash: there is no key to
      // group partitions by, and a zero-column bucket transform is at
      // best meaningless to report (at worst a reference-resolution
      // failure) — SPJ stays off for them
      if (!spj || meta.keyCols.isEmpty) None
      else Some(Array(org.apache.spark.sql.connector.expressions.Expressions
        .bucket(vBuckets, meta.keyCols: _*))),
      stream)
  }
}
