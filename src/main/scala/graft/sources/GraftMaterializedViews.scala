package graft.sources

import java.nio.file.{FileAlreadyExistsException, Files, Path, StandardCopyOption, StandardOpenOption}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, GraftSqlShim, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Cast, Expression, Literal, NamedExpression, SubqueryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StructField, StructType}

/** Materialized views (S39): `CREATE MATERIALIZED VIEW mv AS <query>`
  * persists the definition like an S38 view AND materializes the result
  * into a backing store table (`__mv_state_<name>`); `CALL refresh_mv` /
  * `REFRESH MATERIALIZED VIEW` brings the state up to the sources'
  * current versions. Reads of the MV name serve the STATE (one table
  * scan), never recompute.
  *
  * Refresh is INCREMENTAL when the definition is a self-maintainable
  * aggregate — one `Aggregate` of `COUNT(*)`/`COUNT(x)`/`SUM(x)`/`AVG(x)`
  * (plus `MIN`/`MAX` on append-only slices) over one graft FACT table —
  * optionally inner/left-outer equi-joined to further graft DIM tables —
  * through any deterministic, subquery-free chain of
  * Filter/Project/Join/Generate, with every grouping expression
  * projected. The maintenance identity is the classic delta evaluation:
  * the view query itself is re-run over the fact changelog slice's AFTER
  * images (+Q) and BEFORE images (−Q) with every dim pinned at its
  * recorded version (the delta-join identity Δ(F⋈D) = ΔF⋈D for static
  * D — inner joins are per-row linear in both inputs, left-outer in the
  * left), and the per-group difference folds into the previous state
  * with one full-outer merge — cost ∝ changes(⋈dims) + |view|, never
  * ∝ |fact|, which is the whole point at 100 TB. A DIM commit poisons
  * the fold (the identity needs static dims) and that refresh recomputes
  * — the star-rollup workload this targets has a hot fact and
  * slowly-changing dims, so the common refresh stays ∝ changes. Groups
  * whose maintained row count reaches zero drop out (extinction); SUMs
  * stay null-correct through a per-sum maintained non-null count; AVG
  * (non-additive) maintains a hidden (sum, count) pair and is finalized
  * at merge; MIN/MAX fold only while a slice is pure inserts (extrema
  * never retract under appends) — a retracting slice sends that refresh
  * to the recompute lane. Anything else (right/full joins, self-joined
  * facts, DISTINCT aggregates, HAVING, decimal AVG) always recomputes —
  * still one declarative Spark job, just not ∝ changes.
  *
  * Crash-safety: the refresh watermark is NOT a separate record — the
  * state overwrite commit is stamped with the S37 idempotent-write txn
  * record (`txnAppId = "__mv_refresh"`, `txnVersion` = the source version
  * refreshed through), so state and watermark publish atomically and a
  * crashed-then-retried refresh can never fold the same changelog slice
  * twice. Snapshot boundaries on the source (RESTORE / TRUNCATE /
  * INSERT OVERWRITE / expire_partitions) poison the delta path exactly
  * like they poison CDC folds — the refresh detects a boundary commit
  * in the unfolded range and recomputes.
  *
  * Reference alignment: the reference system has no table-format layer at
  * all (it is a game-script executor — see SURVEY.md preamble); this is
  * warehouse-maturity surface the survey tracks beyond it.
  */
object GraftMaterializedViews {
  /** txnAppId stamping every state-table refresh commit (the watermark). */
  val TxnApp = "__mv_refresh"
  /** State tables are `__mv_state_<mv name>` in the MV's namespace. */
  val StatePrefix = "__mv_state_"
  /** Hidden state columns: surrogate merge key, maintained row count,
    * per-SUM non-null operand count. */
  val HiddenGid = "__mv_gid"
  val HiddenN = "__mv_n"
  def hiddenNn(i: Int): String = s"__mv_nn_$i"
  def hiddenAvgSum(i: Int): String = s"__mv_avs_$i"
  def hiddenAvgN(i: Int): String = s"__mv_avn_$i"

  private val mapper = new ObjectMapper()

  /** Set while the MV machinery itself analyzes or evaluates definitions
    * (create / refresh / freshness probes): the transparent rewrite rule
    * ([[GraftMvRewriteRule]]) must not fire inside — a recompute whose
    * body matched its own MV would read back its own STALE state instead
    * of the source, and candidate-body analysis inside the rule itself
    * would recurse through the analyzer. Thread-local by nature: every
    * frame the maintenance path builds is analyzed on the calling
    * thread. */
  private[sources] val inMaintenance =
    new scala.util.DynamicVariable[Boolean](false)

  /** Whether the MV's CURRENT state is small enough — judged from its
    * file bytes, metadata only — that the NEXT state overwrite should
    * write as one task (`applyChanges(smallBatchHint)`) instead of
    * paying an AQE rebalance round. An aggregate state's size tracks
    * |view|, and a refresh grows it by at most the new groups in its
    * fold delta, which is bounded by the changelog slices it folds
    * (`sliceBytes`, from the cached slice file sizes — metadata only):
    * both must stay within half the commit-broadcast byte bound. False
    * for the initial materialization (no prior state to judge by) — it
    * keeps the rebalance. */
  private def smallStateHint(spark: SparkSession, stateDir: String,
      sliceBytes: Long = 0L): Boolean =
    GraftStore.exists(stateDir) && {
      val v = GraftStore.currentVersion(stateDir)
      val half = GraftStore.commitBroadcastMaxBytes(spark) / 2
      GraftStore.versionStats(stateDir, v)._3 <= half && sliceBytes <= half
    }

  /** True iff the MV's state table exists and reflects every source's
    * CURRENT version — the watermark table (sole source, or a join
    * shape's fact) through the state commit's txn watermark, dims
    * through the recorded versions. The same math `mv$mv` reports; the
    * transparent rewrite substitutes only when this holds, so it can
    * never serve data a direct evaluation wouldn't. */
  def isFresh(g: GraftCatalog, id: Identifier, rec: Record,
      analyzed: LogicalPlan): Boolean = {
    val stateDir = g.mvStateDir(id)
    GraftStore.exists(stateDir) && {
      val shape = deriveShape(analyzed)
      val sources = graftSources(analyzed)
      val wmName = watermarkSource(sources, shape).map(_._1)
      sources.nonEmpty && sources.forall { case (n, d) =>
        // identity first: a recorded incarnation that no longer matches
        // means the watermark below was measured against a DIFFERENT
        // table at this name — version comparison is meaningless then,
        // even when the recreated table has caught up to the old numbers
        sameIncarnation(rec, n, d) && {
          val cur = GraftStore.currentVersion(d)
          val refreshed =
            if (wmName.contains(n))
              GraftStore.lastTxnVersion(stateDir, rec.txnApp).filter(_ <= cur)
            else rec.sources.get(n)
          refreshed.contains(cur)
        }
      }
    }
  }

  /** Persisted MV definition: the SQL, the definer's resolution context
    * (unqualified names keep meaning what they meant at CREATE), the
    * PUBLIC output schema, and the per-source refreshed-through versions
    * (display/noop metadata — the authoritative incremental watermark is
    * the state table's txn marker). */
  final case class Record(sql: String, currentCatalog: String,
      currentNamespace: Array[String], outputSchema: StructType,
      stateTable: String, sources: Map[String, Long],
      /** The txnAppId lane stamping this MV's state commits. ROTATED when
        * the source's version history regresses (drop + recreate at the
        * same name): the old lane's high-water would silently no-op the
        * healing recompute's overwrite AND mis-gate later incremental
        * folds against the dead table's version numbers — a fresh lane
        * starts the watermark clean. */
      txnApp: String = TxnApp,
      /** Per-source table-incarnation identity ([[GraftStore
        * .storedIncarnation]]) recorded at refresh. Version numbers alone
        * cannot see a DROP+recreate once the new table CATCHES UP to the
        * old watermark (regression-based lane rotation only fires while
        * the stale watermark still EXCEEDS the new table's version) — a
        * recorded-vs-current identity mismatch is unconditionally stale
        * and rotates the lane regardless of where the version counters
        * sit. A missing entry is a mismatch too (see [[sameIncarnation]]). */
      incarnations: Map[String, String] = Map.empty)

  def writeRecord(path: Path, rec: Record, createNew: Boolean): Unit = {
    val root = mapper.createObjectNode()
    root.put("sql", rec.sql)
    root.put("currentCatalog", rec.currentCatalog)
    locally {
      val a = root.putArray("currentNamespace")
      rec.currentNamespace.foreach(a.add)
    }
    root.put("outputSchema", rec.outputSchema.json)
    root.put("stateTable", rec.stateTable)
    locally {
      val o = root.putObject("sources")
      rec.sources.toSeq.sortBy(_._1).foreach { case (k, v) => o.put(k, v) }
    }
    root.put("txnApp", rec.txnApp)
    locally {
      val o = root.putObject("incarnations")
      rec.incarnations.toSeq.sortBy(_._1).foreach { case (k, v) => o.put(k, v) }
    }
    val bytes = mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(root)
    Files.createDirectories(path.getParent)
    if (createNew) {
      try Files.write(path, bytes, StandardOpenOption.CREATE_NEW)
      catch {
        case _: FileAlreadyExistsException => throw new IllegalArgumentException(
          s"materialized view ${path.getFileName.toString.stripSuffix(".json")} " +
            "already exists")
      }
    } else {
      val tmp = path.resolveSibling(s".${path.getFileName}.tmp-${System.nanoTime()}")
      Files.write(tmp, bytes)
      Files.move(tmp, path, StandardCopyOption.REPLACE_EXISTING,
        StandardCopyOption.ATOMIC_MOVE)
    }
    // AFTER the content is in place: a same-granule-mtime same-size
    // overwrite would otherwise serve the pre-write copy forever from a
    // matching stale key — dropping the entry here forces the next
    // same-JVM read to re-parse the bytes just published
    invalidateRecordCache(path)
  }

  /** The WATERMARK TABLE — the (name, dir) whose version space stamps the
    * state's txn marker: the sole source of a single-source MV, else the
    * join shape's designated fact. Every consumer (refresh, isFresh,
    * infoRows, maintainStream) derives it HERE, so the space can never
    * silently switch tables between them. */
  private[sources] def watermarkSource(sources: Seq[(String, String)],
      shape: Option[AggShape]): Option[(String, String)] =
    if (sources.size == 1) sources.headOption
    else shape.map(sh => (sh.srcName, sh.srcDir))

  /** (mtime, size)-keyed record cache for the transparent-rewrite rule,
    * which reads every candidate MV's record per PLANNING: repeats serve
    * from memory so a warehouse with many MVs doesn't turn every
    * aggregate's planning into N JSON parses. mtime alone is not a safe
    * key on coarse-granularity filesystems (two writes in one granule
    * would serve the first), so the size joins the key AND every
    * same-JVM [[writeRecord]] invalidates the entry outright — the
    * residual stale window is cross-process writes landing same-mtime
    * same-size, where staleness is safe by direction: a record only ever
    * advances (sources move forward, lanes rotate), and an outdated copy
    * makes [[isFresh]] conservative (no rewrite), never wrong.
    * Size-capped backstop like the store's partSpecCache. */
  private val recordCache =
    new java.util.concurrent.ConcurrentHashMap[Path,
      ((java.nio.file.attribute.FileTime, Long), Record)]()

  private[sources] def invalidateRecordCache(path: Path): Unit =
    recordCache.remove(path)

  def readRecordCached(path: Path): Record = {
    val key = (Files.getLastModifiedTime(path), Files.size(path))
    val hit = recordCache.get(path)
    if (hit != null && hit._1 == key) hit._2
    else {
      val rec = readRecord(path)
      if (recordCache.size > 4096) recordCache.clear()
      recordCache.put(path, (key, rec))
      rec
    }
  }

  def readRecord(path: Path): Record = {
    val root = mapper.readTree(Files.readAllBytes(path))
    Record(
      sql = root.get("sql").asText(),
      currentCatalog = root.get("currentCatalog").asText(),
      currentNamespace = root.get("currentNamespace").elements().asScala
        .map(_.asText()).toArray,
      outputSchema = DataType.fromJson(root.get("outputSchema").asText())
        .asInstanceOf[StructType],
      stateTable = root.get("stateTable").asText(),
      sources = root.get("sources").properties().asScala
        .map(e => e.getKey -> e.getValue.asLong()).toMap,
      txnApp = Option(root.get("txnApp")).map(_.asText()).getOrElse(TxnApp),
      incarnations = Option(root.get("incarnations")).map(
        _.properties().asScala.map(e => e.getKey -> e.getValue.asText())
          .toMap).getOrElse(Map.empty))
  }

  // -------------------------------------------------------------------
  // Shape analysis
  // -------------------------------------------------------------------

  /** A self-maintainable aggregate: one designated FACT graft relation
    * (the delta target — changelog slices fold through it) plus zero or
    * more DIM graft relations joined around it (pinned at their recorded
    * versions during a fold; any dim commit poisons that refresh to the
    * recompute lane), outputs classified into projected group
    * expressions, COUNT columns, and SUM columns (name, operand,
    * declared type). The join algebra that makes the fact a valid delta
    * target is PER-ROW LINEARITY: inner joins are linear in both inputs
    * and left-outer joins in their left input, so each fact row's
    * contribution to the join output — and hence to every additive
    * aggregate — is independent of the other fact rows, and
    * Q(F+ΔF, D) = Q(F, D) + Q(ΔF, D) holds exactly (the classic
    * ΔF⋈D delta-join identity with static D). A table appearing twice
    * in the tree (self-join) is quadratic in itself and can never be
    * the fact. */
  final case class AggShape(rel: DataSourceV2Relation, srcDir: String,
      srcName: String, dims: Seq[(DataSourceV2Relation, String, String)],
      agg: Aggregate, groupOut: Seq[String],
      countOut: Seq[String], sums: Seq[(String, Expression, DataType)],
      avgs: Seq[(String, Expression, DataType)],
      /** MIN/MAX outputs: (name, isMin, type). Maintainable only while a
        * slice is ALL INSERTS (extrema never retract under appends); a
        * slice carrying U/D rows sends that refresh to the recompute
        * lane — checked per slice, so an append-mostly table stays
        * incremental except for the occasional corrective commit. */
      minmaxs: Seq[(String, Boolean, DataType)]) {
    /** The view query with the hidden maintenance aggregates appended:
      * `count(1) AS __mv_n`, `count(<operand>) AS __mv_nn_i` per SUM
      * (the null-correctness signal: a merged SUM is NULL iff its
      * maintained non-null operand count is zero), and per AVG the pair
      * that makes a non-additive mean maintainable — `sum(<operand>) AS
      * __mv_avs_j` + `count(<operand>) AS __mv_avn_j` (the mean is
      * FINALIZED from the merged pair, never averaged across deltas). */
    lazy val hidden: Aggregate = {
      val n = Alias(Count(Seq(Literal(1))).toAggregateExpression(), HiddenN)()
      val nns = sums.zipWithIndex.map { case ((_, operand, _), i) =>
        Alias(Count(Seq(operand)).toAggregateExpression(), hiddenNn(i))() }
      val avs = avgs.zipWithIndex.flatMap { case ((_, operand, _), j) =>
        Seq(
          Alias(Sum(Cast(operand,
            DoubleType))
            .toAggregateExpression(), hiddenAvgSum(j))(),
          Alias(Count(Seq(operand)).toAggregateExpression(), hiddenAvgN(j))())
      }
      agg.copy(aggregateExpressions =
        agg.aggregateExpressions ++ (n +: (nns ++ avs)))
    }
  }

  private def cleanExpr(e: Expression): Boolean =
    e.deterministic && !e.exists(_.isInstanceOf[SubqueryExpression])

  /** Peel the chain between the Aggregate and its base relations. Every
    * non-join node here is a deterministic PER-ROW transform, which is
    * exactly what makes Q(after) − Q(before) an exact delta: each change
    * image flows through the same row-local pipeline the base rows did.
    * Join nodes are admitted when the delta can flow through them
    * per-row: INNER (linear in both inputs) and LEFT OUTER (linear in
    * the left input only — a right-side change can resurrect or kill
    * null-extended rows non-locally, so right-subtree relations are
    * marked non-linear and can only ever be pinned dims). Returns every
    * leaf relation with its linearity, left-to-right, or None when any
    * node falls outside the admissible algebra. */
  private def peel(p: LogicalPlan, linear: Boolean = true)
      : Option[Seq[(DataSourceV2Relation, Boolean)]] = p match {
    case f: Filter if cleanExpr(f.condition) => peel(f.child, linear)
    case pj: Project if pj.projectList.forall(cleanExpr) =>
      peel(pj.child, linear)
    case s: SubqueryAlias => peel(s.child, linear)
    case g: Generate if cleanExpr(g.generator) => peel(g.child, linear)
    case j: Join if j.condition.forall(cleanExpr) =>
      val rightLinear = j.joinType match {
        case Inner => linear
        case LeftOuter => false
        case _ => return None
      }
      for {
        l <- peel(j.left, linear)
        r <- peel(j.right, rightLinear)
      } yield l ++ r
    case r: DataSourceV2Relation => Some(Seq((r, linear)))
    case _ => None
  }

  private def stripAlias(ne: NamedExpression): Expression = ne match {
    case Alias(c, _) => c
    case other => other
  }

  /** Derive the self-maintainable shape, or None → full-recompute MV.
    * The FACT (delta target) is the first linear relation whose table
    * appears exactly once in the tree — deterministic given the stored
    * SQL, so every refresh designates the same fact and the state's txn
    * watermark stays in one table's version space. The remaining
    * relations are dims. */
  def deriveShape(analyzed: LogicalPlan): Option[AggShape] = {
    val core = analyzed match {
      case s: Sort => s.child match { // stored state is unordered anyway
        case a: Aggregate => Some(a)
        case _ => None
      }
      case a: Aggregate => Some(a)
      case _ => None
    }
    core.flatMap { agg =>
      peel(agg.child).flatMap { leaves =>
        // every leaf must be an unpinned graft table (version pinning
        // and changelog folding are graft-store machinery)
        val rels0 = leaves.map { case (r, lin) =>
          r.table match {
            case t: GraftTable if t.pinned.isEmpty =>
              Some((r, t.tableDir, t.name(), lin))
            case _ => None
          }
        }
        if (rels0.exists(_.isEmpty)) None
        else {
          val rels = rels0.flatten
          val dirCounts = rels.groupBy(_._2).view.mapValues(_.size).toMap
          val fact = rels.find { case (_, dir, _, lin) =>
            lin && dirCounts(dir) == 1 }
          fact.flatMap { case (frel, fdir, fname, _) =>
            val dims = rels.collect {
              case (r, dir, name, _) if !(r eq frel) => (r, dir, name) }
            classify(agg).map { case (groups, counts, sums, avgs, mms) =>
              AggShape(frel, fdir, fname, dims, agg, groups, counts, sums,
                avgs, mms)
            }
          }
        }
      }
    }
  }

  /** Classify the aggregate's outputs; None when any output falls outside
    * the maintainable algebra. Requirements: every grouping expression is
    * projected (otherwise distinct groups could collapse onto one output
    * row and the state merge would conflate them), every aggregate is a
    * non-DISTINCT COUNT (FILTER allowed), an unfiltered non-DISTINCT
    * SUM/AVG (AVG non-decimal) or an unfiltered MIN/MAX (append-only
    * lane), and all expressions are deterministic and subquery-free. */
  private def classify(agg: Aggregate)
      : Option[(Seq[String], Seq[String], Seq[(String, Expression, DataType)],
        Seq[(String, Expression, DataType)],
        Seq[(String, Boolean, DataType)])] = {
    val gs = agg.groupingExpressions
    if (!gs.forall(cleanExpr)) return None
    var groups = Vector.empty[String]
    var counts = Vector.empty[String]
    var sums = Vector.empty[(String, Expression, DataType)]
    var avgs = Vector.empty[(String, Expression, DataType)]
    var minmaxs = Vector.empty[(String, Boolean, DataType)]
    val ok = agg.aggregateExpressions.forall { ne =>
      val expr = stripAlias(ne)
      if (!cleanExpr(expr)) false
      else expr match {
        case ae: AggregateExpression if !ae.isDistinct =>
          ae.aggregateFunction match {
            case _: Count if ae.filter.forall(cleanExpr) =>
              counts :+= ne.name; true
            case s: Sum if ae.filter.isEmpty =>
              sums :+= ((ne.name, s.child, ne.dataType)); true
            case a: Average if ae.filter.isEmpty &&
                ne.dataType == DoubleType =>
              // decimal AVG (DecimalType output) stays on the recompute
              // lane — maintaining it through a double sum would change
              // its rounding semantics
              avgs :+= ((ne.name, a.child, ne.dataType)); true
            case _: Min if ae.filter.isEmpty =>
              minmaxs :+= ((ne.name, true, ne.dataType)); true
            case _: Max if ae.filter.isEmpty =>
              minmaxs :+= ((ne.name, false, ne.dataType)); true
            case _ => false
          }
        case e if !e.exists(_.isInstanceOf[AggregateExpression]) &&
            gs.exists(_.semanticEquals(e)) =>
          groups :+= ne.name; true
        case _ => false
      }
    }
    val names = agg.aggregateExpressions.map(_.name)
    val allGroupsProjected = gs.forall(g =>
      agg.aggregateExpressions.exists(ne => stripAlias(ne).semanticEquals(g)))
    if (ok && allGroupsProjected && names.distinct.size == names.size &&
        names.forall(!_.startsWith("__mv_")))
      Some((groups, counts, sums, avgs, minmaxs))
    else None
  }

  /** Every graft base table the analyzed body reads (staleness sources),
    * deduped by name, subqueries included. */
  def graftSources(analyzed: LogicalPlan): Seq[(String, String)] =
    analyzed.collectWithSubqueries {
      case r: DataSourceV2Relation => r.table match {
        case t: GraftTable => Some((t.name(), t.tableDir))
        case _ => None
      }
    }.flatten.distinct

  // -------------------------------------------------------------------
  // Evaluation
  // -------------------------------------------------------------------

  /** Parse + definer-qualify + view-expand + analyze the stored body. */
  def analyzeBody(spark: SparkSession, rec: Record, key: String): LogicalPlan = {
    val stored = GraftViewStore.Stored(rec.sql, rec.currentCatalog,
      rec.currentNamespace, new StructType(), Array.empty, Array.empty,
      Array.empty, Map.empty)
    val expanded = GraftViewResolution.expandBody(spark, stored, List(key))
    spark.sessionState.analyzer.executeAndCheck(expanded,
      new QueryPlanningTracker())
  }

  /** Run `plan` with each listed base relation swapped for its
    * replacement frame (same logical columns): every replacement's
    * output is projected onto its relation's attribute ids, so every
    * expression above — the filters, the join conditions, the grouping,
    * the aggregates — re-binds untouched. Fresh output aliases per call
    * keep two evaluations joinable. */
  private def evalOver(spark: SparkSession, plan: LogicalPlan,
      reps: Seq[(DataSourceV2Relation, DataFrame)]): DataFrame = {
    val resolver = spark.sessionState.conf.resolver
    val aligned = reps.map { case (rel, rep) =>
      val repPlan = GraftSqlShim.analyzedPlan(rep)
      rel -> Project(rel.output.map { a =>
        val src = repPlan.output.find(o => resolver(o.name, a.name)).getOrElse(
          throw new IllegalStateException(
            s"change image is missing source column ${a.name}"))
        Alias(src, a.name)(exprId = a.exprId)
      }, repPlan)
    }
    val swapped = plan.transform {
      case r: DataSourceV2Relation =>
        aligned.collectFirst { case (rel, al) if r eq rel => al }.getOrElse(r)
    }
    val out = GraftSqlShim.ofRows(spark, swapped)
    out.select(out.columns.toIndexedSeq.map(c => col(c).as(c)): _*)
  }

  private def evalOver(spark: SparkSession, plan: LogicalPlan,
      rel: DataSourceV2Relation, rep: DataFrame): DataFrame =
    evalOver(spark, plan, Seq((rel, rep)))

  /** Surrogate merge key for the state table: a hash of the group values
    * (never null — the state write path needs a NOT NULL key, and group
    * hashing gives bucket pruning over the view's own key space). */
  private def gidExpr(groupCols: Seq[String]) =
    if (groupCols.isEmpty) lit(0L) else xxhash64(groupCols.map(col): _*)

  /** State schema for a shape-eligible MV: public output columns, then
    * the hidden maintenance columns, then the surrogate key. */
  def stateSchemaFor(outputSchema: StructType, shape: Option[AggShape])
      : StructType = {
    val hidden = shape.toSeq.flatMap { sh =>
      (StructField(HiddenN, LongType, nullable = false) +:
        sh.sums.indices.map(i =>
          StructField(hiddenNn(i), LongType, nullable = false))) ++
        sh.avgs.indices.flatMap(j => Seq(
          StructField(hiddenAvgSum(j),
            DoubleType, nullable = true),
          StructField(hiddenAvgN(j), LongType, nullable = false)))
    }
    StructType((outputSchema.fields.toSeq ++ hidden) :+
      StructField(HiddenGid, LongType, nullable = false))
  }

  private def alignToState(df: DataFrame, stateSchema: StructType,
      groupCols: Seq[String], syntheticGid: Boolean): DataFrame = {
    val withGid =
      if (syntheticGid) df.withColumn(HiddenGid, monotonically_increasing_id())
      else df.withColumn(HiddenGid, gidExpr(groupCols))
    withGid.select(stateSchema.fields.toIndexedSeq.map(f =>
      col(f.name).cast(f.dataType).as(f.name)): _*)
  }

  /** Fold a changelog slice's delta into the previous state: evaluate the
    * hidden query over after images (+) and before images (−), difference
    * per group, one null-safe full-outer merge, extinction on `__mv_n`. */
  private def incrementalState(spark: SparkSession, sh: AggShape,
      state: DataFrame, changes: DataFrame,
      dimReps: Seq[(DataSourceV2Relation, DataFrame)],
      sliceInsertOnly: Boolean): DataFrame = {
    // extrema never retract: folding MIN/MAX over a slice that carries
    // U/D rows would leave stale-too-wide extrema — the caller routes
    // retracting slices to the recompute lane, and this keeps the
    // invariant LOCAL instead of coupled to a distant guard
    require(sh.minmaxs.isEmpty || sliceInsertOnly,
      "MIN/MAX views fold only append-only slices; retracting slices " +
        "must recompute")
    val G = GraftStore
    val srcCols = G.readMeta(sh.srcDir).schema.fieldNames.toIndexedSeq
    val after = changes.filter(col(G.ChangeOpCol).isin("I", "U"))
      .select(srcCols.map(col): _*)
    val before = changes.filter(col(G.ChangeOpCol).isin("U", "D"))
      .select(srcCols.map(c => col(s"${G.ChangeBeforeCol}.$c").as(c)): _*)
    // the delta-join identity: Δfact evaluated against the PINNED dims
    // (stale-free by the caller's dims-unchanged gate; pinning closes the
    // mid-fold dim-commit race) — cost ∝ changes ⋈ dims, never ∝ |fact|
    val plus = evalOver(spark, sh.hidden, (sh.rel, after) +: dimReps)
    val minus = evalOver(spark, sh.hidden, (sh.rel, before) +: dimReps)

    val groupCols = sh.groupOut
    val countCols = (sh.countOut :+ HiddenN) ++
      sh.avgs.indices.map(hiddenAvgN)
    val nnCols = sh.sums.indices.map(hiddenNn)
    val avsCols = sh.avgs.indices.map(hiddenAvgSum)
    val addCols =
      (countCols ++ nnCols ++ avsCols ++ sh.sums.map(_._1)).toIndexedSeq
    val mmCols = sh.minmaxs.map(_._1)
    val metricCols = addCols ++ mmCols
    // additive metrics negate on the retract lane; extrema pass through
    // UNSIGNED (the insert-only guard means the minus frame is empty
    // whenever extrema are present)
    def signed(df: DataFrame, sign: Int) = df.select(
      (groupCols.map(col) ++ addCols.map(c =>
        (col(c) * lit(sign)).as(c)) ++ mmCols.map(col)): _*)
    val images = signed(plus, 1).unionByName(signed(minus, -1))
    val aggs = addCols.map(c => sum(col(c)).as(c)) ++
      sh.minmaxs.map { case (name, isMin, _) =>
        (if (isMin) min(col(name)) else max(col(name))).as(name) }
    val delta =
      if (groupCols.isEmpty) images.groupBy().agg(aggs.head, aggs.tail: _*)
      else images.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)

    val s = state.select((groupCols ++ metricCols).map(col): _*).alias("__s")
    val d = delta.alias("__d")
    val cond =
      if (groupCols.isEmpty) lit(true)
      else groupCols.map(c => col(s"__s.$c") <=> col(s"__d.$c")).reduce(_ && _)
    def merged(c: String) =
      coalesce(col(s"__s.$c"), lit(0)) + coalesce(col(s"__d.$c"), lit(0))
    val gSel = groupCols.map(c => coalesce(col(s"__s.$c"), col(s"__d.$c")).as(c))
    val cntSel = countCols.map(c => merged(c).cast(LongType).as(c))
    val nnSel = nnCols.map(c => merged(c).cast(LongType).as(c))
    val avsSel = avsCols.map(c =>
      merged(c).cast(DoubleType).as(c))
    val sumSel = sh.sums.zipWithIndex.map { case ((name, _, dt), i) =>
      when(merged(hiddenNn(i)) === 0, lit(null))
        .otherwise(merged(name)).cast(dt).as(name)
    }
    // a mean is FINALIZED from the merged (sum, count) pair
    val avgSel = sh.avgs.zipWithIndex.map { case ((name, _, dt), j) =>
      when(merged(hiddenAvgN(j)) === 0, lit(null))
        .otherwise(merged(hiddenAvgSum(j)) / merged(hiddenAvgN(j)))
        .cast(dt).as(name)
    }
    // append-only extrema: least/greatest skip nulls, so an absent side
    // (untouched group / brand-new group) falls through to the other
    val mmSel = sh.minmaxs.map { case (name, isMin, dt) =>
      (if (isMin) least(col(s"__s.$name"), col(s"__d.$name"))
       else greatest(col(s"__s.$name"), col(s"__d.$name"))).cast(dt).as(name)
    }
    val folded = s.join(d, cond, "full_outer")
      .select((gSel ++ cntSel ++ nnSel ++ avsSel ++ sumSel ++ avgSel ++
        mmSel): _*)
    if (groupCols.isEmpty) folded // a global aggregate keeps its one row
    else folded.filter(col(HiddenN) > 0) // group extinction
  }

  // -------------------------------------------------------------------
  // Lifecycle
  // -------------------------------------------------------------------

  private def mvKey(cat: String, id: Identifier): String =
    (cat +: id.namespace().toSeq :+ id.name()).mkString(".")

  /** CREATE MATERIALIZED VIEW: validate + publish the definition
    * (create-exclusive JSON — racing CREATEs serialize on the
    * filesystem), then build the state via a first refresh. A crash
    * between the two leaves a published definition whose state the next
    * refresh (re)builds — reads in that window fail loudly. */
  def create(spark: SparkSession, cat: String, g: GraftCatalog,
      id: Identifier, sqlText: String, ifNotExists: Boolean): Unit =
      inMaintenance.withValue(true) {
    if (g.mvExists(id)) {
      if (ifNotExists) return
      throw new IllegalArgumentException(
        s"materialized view ${mvKey(cat, id)} already exists")
    }
    require(!g.tableExists(id) && !g.viewExists(id),
      s"a table or view named ${mvKey(cat, id)} already exists — tables, " +
        "views and materialized views share one namespace")
    require(!id.name().startsWith(StatePrefix),
      s"materialized view names must not start with $StatePrefix " +
        "(reserved for MV state tables)")
    val rec0 = Record(sqlText,
      spark.sessionState.catalogManager.currentCatalog.name,
      spark.sessionState.catalogManager.currentNamespace,
      new StructType(), g.mvStateIdent(id).name(), Map.empty)
    val analyzed = analyzeBody(spark, rec0, mvKey(cat, id))
    val outSchema = analyzed.schema
    val names = outSchema.fieldNames.toSeq
    require(names.distinct.size == names.size,
      s"materialized view query must have unique column names, got $names")
    names.foreach(n => require(!n.startsWith("__mv_") &&
      n != GraftStore.BucketCol && n != GraftStore.PartCol,
      s"materialized view column name $n is reserved"))
    require(graftSources(analyzed).nonEmpty,
      "a materialized view must read at least one graft table " +
        "(its staleness is defined by source versions)")
    require(!g.tableExists(g.mvStateIdent(id)),
      s"state table ${g.mvStateIdent(id)} already exists")
    writeRecord(g.mvPath(id),
      rec0.copy(outputSchema = outSchema), createNew = true)
    GraftCatalog.invalidateMvListings() // a new candidate exists
    // same write-then-verify race closure as createView (both ways:
    // createView re-checks MVs after ITS publish too)
    if (g.tableExists(id) || g.viewExists(id)) {
      Files.deleteIfExists(g.mvPath(id))
      GraftCatalog.invalidateMvListings()
      throw new IllegalArgumentException(
        s"a TABLE or VIEW named ${mvKey(cat, id)} was created " +
          "concurrently — the materialized view was not created")
    }
    refresh(spark, cat, g, id)
  }

  def drop(g: GraftCatalog, id: Identifier, ifExists: Boolean): Unit = {
    if (!g.mvExists(id)) {
      if (ifExists) return
      throw new IllegalArgumentException(
        s"materialized view $id does not exist")
    }
    Files.deleteIfExists(g.mvPath(id)) // unpublish first: reads stop here
    GraftCatalog.invalidateMvListings()
    val stateDir = g.mvStateDir(id)
    if (GraftStore.exists(stateDir)) GraftStore.dropTable(stateDir)
  }

  /** Refresh: no-op when every source is already folded; incremental when
    * the shape allows and the changelog covers (watermark, current];
    * full recompute otherwise. Returns (version refreshed through, mode). */
  def refresh(spark: SparkSession, cat: String, g: GraftCatalog,
      id: Identifier): (Long, String) = inMaintenance.withValue(true) {
    require(g.mvExists(id), s"materialized view $id does not exist")
    val rec = readRecord(g.mvPath(id))
    val stateDir = g.mvStateDir(id)
    val analyzed = analyzeBody(spark, rec, mvKey(cat, id))
    require(analyzed.schema.fieldNames.sameElements(rec.outputSchema.fieldNames),
      s"materialized view ${mvKey(cat, id)}'s query now produces columns " +
        s"${analyzed.schema.fieldNames.toSeq} but the view was created " +
        s"with ${rec.outputSchema.fieldNames.toSeq}; DROP and recreate it")
    // names alone don't catch a source dropped and recreated with the
    // same column names at DIFFERENT types — the state table's public
    // columns were created at the old types, so folding or overwriting
    // with the new ones would silently cast (or fail deep inside the
    // align) — diverged types are a DROP-and-recreate, loudly
    require(analyzed.schema.fields.map(_.dataType)
        .sameElements(rec.outputSchema.fields.map(_.dataType)),
      s"materialized view ${mvKey(cat, id)}'s query now produces types " +
        s"${analyzed.schema.fields.map(_.dataType.simpleString).toSeq} but " +
        s"the view was created with " +
        s"${rec.outputSchema.fields.map(_.dataType.simpleString).toSeq} " +
        "(a source was recreated with different column types?); " +
        "DROP and recreate it")
    val shape = deriveShape(analyzed)
    val sources = graftSources(analyzed)
    val stateExists = GraftStore.exists(stateDir)
    // The WATERMARK TABLE: the state's txn marker lives in one table's
    // version space — the sole source of a single-source MV, or the
    // shape's designated fact for a join MV (deriveShape designates
    // deterministically, so the space never silently switches tables).
    val wmSrc: Option[(String, String)] = watermarkSource(sources, shape)
    // source regression (DROP + recreate at the same name): the recorded
    // high-water sits ABOVE the new table's versions — rotate the txn
    // lane so the healing recompute's overwrite isn't no-op'd by the dead
    // table's watermark and later folds never mis-align against it.
    // The version test alone has a blind spot the incarnation identity
    // closes: once the recreated table CATCHES UP to the stale watermark
    // the regression is invisible, the fold lane reports noop, and the
    // rewrite serves the dead incarnation's state forever — a recorded
    // incarnation that no longer matches rotates unconditionally.
    // Rotation persists BEFORE any write: a crash after it just means the
    // fresh lane has no watermark yet → the next refresh recomputes.
    val rec1 =
      if (stateExists && wmSrc.exists { case (n, d) =>
          GraftStore.lastTxnVersion(stateDir, rec.txnApp)
            .exists(_ > GraftStore.currentVersion(d)) ||
            !sameIncarnation(rec, n, d)
        }) {
        val rotated = rec.copy(txnApp = s"__mv_refresh_${System.nanoTime()}")
        writeRecord(g.mvPath(id), rotated, createNew = false)
        rotated
      } else rec
    // Pin for the RECOMPUTE lane's state overwrite (the fold lane pins
    // its own read below): two racing recomputes — maintainStream plus a
    // manual CALL refresh_mv after a dim commit is the documented pair —
    // could otherwise interleave as B-state, A-state, A-record, B-record,
    // leaving B's record claiming dim versions newer than A's state
    // content, which isFresh then certifies. Captured HERE, before any
    // source version is observed, so the loser of the race always
    // surfaces as a loud conflict instead of a silent regression.
    val statePin = if (stateExists) Some(GraftStore.currentVersion(stateDir))
                   else None
    val stateSchema =
      if (stateExists) GraftStore.readMeta(stateDir).schema
      else stateSchemaFor(rec.outputSchema, shape)
    // the state only carries the maintenance columns the CREATE-time
    // shape declared; a later shape without them must stay on recompute
    val useShape = shape.filter { sh =>
      stateSchema.fieldNames.contains(HiddenN) &&
        sh.sums.indices.forall(i =>
          stateSchema.fieldNames.contains(hiddenNn(i))) &&
        sh.avgs.indices.forall(j =>
          stateSchema.fieldNames.contains(hiddenAvgSum(j)) &&
            stateSchema.fieldNames.contains(hiddenAvgN(j)))
    }
    // fail-fast guard: a state table carrying hidden maintenance columns
    // that the CURRENT shape can no longer produce would send every
    // recompute into an unresolved-column failure deep inside the state
    // align (the generic lanes evaluate the raw query, which has no
    // __mv_* outputs) — surface the real remedy instead of the symptom
    if (stateExists && useShape.isEmpty &&
        stateSchema.fieldNames.exists(n =>
          n.startsWith("__mv_") && n != HiddenGid))
      throw new IllegalStateException(
        s"materialized view ${mvKey(cat, id)}'s state table carries " +
          "incremental-maintenance columns its query no longer produces " +
          "(the query's maintainable shape changed since CREATE); " +
          "DROP and recreate the materialized view")

    val single = sources.size == 1
    // Join-MV fold eligibility: every dim sits at the version the last
    // refresh recorded — the fold's delta-join identity (Δfact ⋈ dims)
    // only holds against the dims the state was built from, so a dim
    // commit since poisons this refresh to the recompute lane (which
    // re-records). A dim name missing from the record (pre-join-MV
    // record, or the record write crashed) is conservatively a mismatch.
    val dimsPinned = useShape.forall { sh =>
      sh.dims.map(d => (d._3, d._2)).distinct.forall { case (n, d) =>
        rec1.sources.get(n).contains(GraftStore.currentVersion(d)) &&
          // a dim dropped+recreated back to its recorded version NUMBER is
          // still a different table — folding against it would join the
          // delta to content the state was never built from
          sameIncarnation(rec1, n, d) }
    }
    if (stateExists && wmSrc.isDefined && (single || dimsPinned)) {
      val srcDir = wmSrc.get._2
      // Pin the STATE version before reading the watermark: the fold below
      // is only correct relative to this exact snapshot+watermark pair. A
      // concurrent refresh committing between the watermark read and our
      // state overwrite would otherwise make us fold an already-folded
      // slice onto its result (our txnVersion being higher slips past the
      // idempotence fast-path) — passing this pin as applyChanges'
      // expectedVersion turns that silent double-fold into a loud
      // conflict; the caller just re-runs the refresh.
      val stateV = GraftStore.currentVersion(stateDir)
      val cur = GraftStore.currentVersion(srcDir)
      val wm = GraftStore.lastTxnVersion(stateDir, rec1.txnApp)
      wm.filter(w => w <= cur) match {
        case Some(w) if w == cur => return (w, "noop")
        case Some(w)
            if GraftStore.changesHorizon(srcDir) <= w + 1 &&
              GraftStore.boundariesIn(srcDir, w + 1, cur).isEmpty =>
          // pure-maintenance commits (optimize/rebucket/analyze) change
          // no content: nothing to fold, and the watermark can stay put
          val contentVersions = GraftStore.retainedSlices(srcDir, w + 1, cur)
          if (contentVersions.isEmpty) return (w, "noop")
          useShape match {
            case Some(sh) =>
              // extrema never retract: a slice carrying U/D rows while
              // the view has MIN/MAX outputs must recompute (classified
              // from the slices' `change_op` footers — metadata only)
              val slices =
                contentVersions.map(GraftStreamLimits.slice(srcDir, _))
              val insertOnly = sh.minmaxs.isEmpty || slices.forall(_.insertOnly)
              if (insertOnly) {
                // the slice feeds both image frames of the fold — cache it
                // so each refresh reads the changelog parquet once
                val changes = GraftStore.readChanges(spark, srcDir, w + 1, cur)
                  .persist()
                try {
                  // dims read AT their recorded versions (not current):
                  // a dim commit landing mid-fold must not leak into the
                  // delta evaluation — the pin makes the race harmless
                  // (that commit is simply the NEXT refresh's poison)
                  val dimReps = sh.dims.map { case (rel, d, n) =>
                    (rel, GraftStore.readVersion(spark, d,
                      rec1.sources(n))) }
                  val state = GraftStore.readVersion(spark, stateDir, stateV)
                  val next = incrementalState(spark, sh, state, changes,
                    dimReps, sliceInsertOnly = insertOnly)
                  val out = alignToState(next, stateSchema, sh.groupOut,
                    syntheticGid = false)
                  GraftStore.applyChanges(spark, stateDir, out,
                    allInserts = true, overwrite = true,
                    expectedVersion = Some(stateV),
                    txn = Some((rec1.txnApp, cur)),
                    smallBatchHint = smallStateHint(spark, stateDir,
                      slices.map(_.bytes).sum))
                  // dims stay at their RECORDED versions (what the fold
                  // actually joined against); only the fact advances
                  updateSources(g, id, rec1, sources, sources.map {
                    case (n, d) =>
                      n -> (if (d == srcDir) cur
                            else rec1.sources.getOrElse(n,
                              GraftStore.currentVersion(d))) }.toMap)
                  return (cur, "incremental")
                } finally changes.unpersist()
              } // else: fall through to the recompute lane below
            case None => () // fall through to recompute
          }
        case _ => () // never stamped / source regressed → recompute
      }
    }
    // multi-source noop: every recorded source version is still current
    // AND still the same table incarnation it was recorded against
    if (stateExists && !single && rec.sources.nonEmpty &&
        sources.forall { case (n, d) =>
          rec.sources.get(n).contains(GraftStore.currentVersion(d)) &&
            sameIncarnation(rec, n, d) })
      return (rec.sources.values.max, "noop")

    // Full recompute. Shape-eligible MVs pin EVERY relation at the
    // version captured here (racing source commits can't skew the
    // stamped watermark or tear the join across versions); other
    // multi-source bodies read current and record the versions observed
    // BEFORE evaluation — a mid-read commit only makes the recorded
    // watermark conservative (extra recompute, never a missed change).
    val versionsBefore = sources.map { case (n, d) =>
      (n, d, GraftStore.currentVersion(d)) }
    val verOf = versionsBefore.map { case (n, _, v) => n -> v }.toMap
    val computed = (useShape, versionsBefore) match {
      case (Some(sh), _) =>
        val reps = ((sh.rel, sh.srcDir, sh.srcName) +: sh.dims).map {
          case (rel, d, n) =>
            (rel, GraftStore.readVersion(spark, d, verOf(n))) }
        alignToState(evalOver(spark, sh.hidden, reps), stateSchema,
          sh.groupOut, syntheticGid = false)
      case (None, Seq((_, d, v))) if singleRelation(analyzed).isDefined =>
        val rel = singleRelation(analyzed).get
        val snap = GraftStore.readVersion(spark, d, v)
        alignToState(evalOver(spark, analyzed, rel, snap), stateSchema,
          Nil, syntheticGid = true)
      case _ =>
        alignToState(GraftSqlShim.ofRows(spark, analyzed), stateSchema,
          Nil, syntheticGid = true)
    }
    if (!GraftStore.exists(stateDir)) {
      require(!g.viewExists(g.mvStateIdent(id)),
        s"a view named ${g.mvStateIdent(id)} blocks the MV state table")
      GraftStore.create(stateDir, GraftTableMeta(stateSchema,
        keyCols = Seq(HiddenGid), buckets = 8))
    }
    // the reported refreshed-through version: the watermark table's when
    // one is designated, the max observed otherwise (display only)
    val wmV = wmSrc.flatMap { case (n, _) => verOf.get(n) }
      .getOrElse(versionsBefore.map(_._3).max)
    // A join-shape recompute can be triggered by a DIM commit alone — the
    // fact's version (the txn space) hasn't moved, so stamping it would
    // hit the idempotence fast-path and silently SKIP the state overwrite
    // (a stale MV reported fresh). Stamp only a watermark that ADVANCES;
    // otherwise commit unstamped — the watermark stays correct (the state
    // still reflects the fact through it) and the overwrite is idempotent
    // by content anyway.
    val txn = (single, useShape) match {
      case (true, _) => Some((rec1.txnApp, wmV))
      case (false, Some(_))
          if GraftStore.lastTxnVersion(stateDir, rec1.txnApp)
            .forall(_ < wmV) => Some((rec1.txnApp, wmV))
      case _ => None
    }
    GraftStore.applyChanges(spark, stateDir, computed,
      allInserts = true, overwrite = true,
      expectedVersion = statePin, txn = txn,
      smallBatchHint = smallStateHint(spark, stateDir))
    updateSources(g, id, rec1, sources,
      versionsBefore.map { case (n, _, v) => n -> v }.toMap)
    (wmV, "full")
  }

  /** Continuous maintenance (T15): a Structured Streaming query over the
    * WATERMARK TABLE's changelog (`` src$changes ``, the T12 stream)
    * whose only job is to TRIGGER an incremental refresh per micro-batch
    * — always-fresh MVs without an external scheduler. The stream is a
    * trigger, not a data path: each refresh reads the unfolded changelog
    * slices itself under the state commit's txn watermark, which is why
    * exactly-once needs NO (streamId, epoch) bookkeeping — a replayed
    * epoch after a restart re-runs refresh, which no-ops at the
    * already-folded watermark; a crash between fold and checkpoint costs
    * one extra no-op. Batches are pruned to the version column (the
    * trigger only needs offsets to advance), so the data cost is the
    * changelog read the refresh itself performs, ∝ changes. Join MVs
    * watch the FACT's changelog; a dim commit is folded-or-recomputed by
    * the next fact-triggered refresh (or a manual `CALL refresh_mv`).
    * The changelog never spans a snapshot boundary (TRUNCATE/OVERWRITE/
    * RESTORE), so a boundary fails the stream loudly — restart it with a
    * fresh checkpoint after the source re-baselines. */
  def maintainStream(spark: SparkSession, cat: String, g: GraftCatalog,
      id: Identifier, checkpointDir: String,
      trigger: org.apache.spark.sql.streaming.Trigger)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(g.mvExists(id), s"materialized view $id does not exist")
    val rec = readRecord(g.mvPath(id))
    val key = mvKey(cat, id)
    val (sources, shape) = inMaintenance.withValue(true) {
      val analyzed = analyzeBody(spark, rec, key)
      (graftSources(analyzed), deriveShape(analyzed))
    }
    val wmSrc = watermarkSource(sources, shape).map(_._1)
    require(wmSrc.isDefined,
      s"continuous maintenance needs a single-source or join-shape " +
        s"materialized view; $key reads ${sources.size} sources with no " +
        "maintainable shape — schedule CALL refresh_mv instead")
    def changesStream(name: String): DataFrame = {
      val parts = spark.sessionState.sqlParser.parseMultipartIdentifier(name)
      def quote(p: String) = "`" + p.replace("`", "``") + "`"
      val addr = ((cat +: parts.init) :+
        (parts.last + GraftCatalog.ChangesSuffix)).map(quote).mkString(".")
      spark.readStream.table(addr)
        .select(col(GraftStore.ChangeVersionCol))
    }
    // Trigger legs: the watermark table's changelog PLUS every
    // DIM's. A join MV watching only its fact left a dim-only commit
    // stale until the next fact commit — on a quiet fact, indefinitely.
    // The dim legs are trigger-only like the fact leg (pruned to the
    // version column; offsets just advance): the refresh itself routes a
    // poisoned fold to the recompute lane and re-records the dim
    // versions, so freshness flips without any fact traffic.
    val legs = (wmSrc.get +: shape.toSeq.flatMap(_.dims.map(_._3))).distinct
    legs.map(changesStream).reduce(_ unionByName _)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (_: DataFrame, _: Long) =>
        // a refresh racing this one (a manual CALL refresh_mv, or another
        // maintainStream) surfaces as a conflict through the state pin;
        // the LOSER here retries with bounded backoff — whatever the
        // winner folded, the retry's refresh no-ops past. Exhausting the
        // retries RETHROWS (swallowing the final
        // conflict would commit this batch's offsets with the fold not
        // done, and a quiet source would leave the MV stale indefinitely
        // despite the always-fresh contract) — the failed batch's offsets
        // stay uncommitted, so a stream restart replays the trigger.
        var attempt = 0
        var done = false
        while (!done) {
          try { refresh(spark, cat, g, id); done = true }
          catch {
            case e: java.util.ConcurrentModificationException =>
              attempt += 1
              if (attempt >= 5) throw e
              Thread.sleep(50L * attempt)
          }
        }
        ()
      }
      .start()
  }

  private def singleRelation(analyzed: LogicalPlan)
      : Option[DataSourceV2Relation] = {
    val rels = analyzed.collectWithSubqueries {
      case r: DataSourceV2Relation => r }
    rels match {
      case Seq(one) => one.table match {
        case t: GraftTable if t.pinned.isEmpty => Some(one)
        case _ => None
      }
      case _ => None
    }
  }

  /** Whether source `n` at `d` is still the table incarnation `rec` was
    * refreshed against. A source with no recorded incarnation counts as
    * stale: [[updateSources]] records versions and incarnations together,
    * so a missing entry means no refresh ever measured this source. */
  private def sameIncarnation(rec: Record, n: String, d: String): Boolean =
    rec.incarnations.get(n).exists(GraftStore.storedIncarnation(d).contains)

  /** Record the refreshed-through `versions` of `sources` (name → dir)
    * together with each source's incarnation. */
  private def updateSources(g: GraftCatalog, id: Identifier, rec: Record,
      sources: Seq[(String, String)], versions: Map[String, Long]): Unit = {
    val incarnations = sources.flatMap { case (n, d) =>
      GraftStore.storedIncarnation(d).map(n -> _) }.toMap
    // a refresh racing DROP MATERIALIZED VIEW must not resurrect the
    // deleted definition from its in-memory copy — skip the metadata
    // update when the record is gone (the residual exists→write window
    // can still lose to a drop, but a stale-sources record on a live MV
    // only costs an extra recompute; a resurrected record is a ghost)
    val p = g.mvPath(id)
    if (Files.exists(p))
      writeRecord(p, rec.copy(sources = versions,
        incarnations = incarnations), createNew = false)
  }

  /** Freshness metadata served by `` `mv$mv` `` — one row per source. */
  def infoRows(spark: SparkSession, cat: String, g: GraftCatalog,
      id: Identifier): Seq[(String, String, Option[Long], Long, Boolean, Boolean)] =
      inMaintenance.withValue(true) {
    val rec = readRecord(g.mvPath(id))
    val stateDir = g.mvStateDir(id)
    val analyzed = analyzeBody(spark, rec, mvKey(cat, id))
    val shape = deriveShape(analyzed)
    val sources = graftSources(analyzed)
    val single = sources.size == 1
    // the watermark table (sole source, or a join shape's fact) reports
    // its authoritative txn watermark; dims report the recorded versions
    val wmName = watermarkSource(sources, shape).map(_._1)
    sources.map { case (n, d) =>
      val cur = GraftStore.currentVersion(d)
      val refreshed =
        if (!sameIncarnation(rec, n, d)) None // recreated: watermark void
        else if (wmName.contains(n) && GraftStore.exists(stateDir))
          GraftStore.lastTxnVersion(stateDir, rec.txnApp)
            .filter(_ <= cur) // a regressed lane is not a real watermark
        else rec.sources.get(n)
      (n, rec.stateTable, refreshed, cur,
        !refreshed.contains(cur), shape.exists(_.srcName == n))
    }
  }
}
