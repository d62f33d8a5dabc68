package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedIdentifier, UnresolvedNamespace, UnresolvedRelation, UnresolvedSubqueryColumnAliases, UnresolvedTableOrView, UnresolvedView}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.catalog.{Identifier, ViewInfo}
import org.apache.spark.sql.execution.command.LeafRunnableCommand

/** SQL views over graft catalogs (S38). Spark 4.1 ships the DSv2
  * [[org.apache.spark.sql.connector.catalog.ViewCatalog]] SPI but wires
  * neither the DDL nor the read path to it (`ResolveSessionCatalog`
  * rejects every view statement against a non-session catalog, and
  * relation resolution never consults `loadView`) — the same gap Iceberg
  * closes with its session extensions. This extension closes it the same
  * documented way, WITHOUT touching the parser: both rules run in the
  * analyzer's fixed-point "Hints" batch (`injectHintResolutionRule`),
  * which executes BEFORE the resolution batch, so view statements are
  * rewritten to runnable commands and view references to their expanded
  * definitions before `ResolveSessionCatalog` would throw.
  *
  * Contract:
  *  - every view operation targets an explicit graft catalog
  *    (`CREATE VIEW gcat.v AS ...`); single-part names stay with the
  *    session catalog, so temp views and CTE names are never shadowed;
  *  - view text re-resolves at every read under the DEFINER's catalog +
  *    namespace (stored per view): unqualified table references in the
  *    body are qualified with the stored context before resolution, CTE
  *    names excepted — schema tracks the underlying tables (evolution
  *    semantics), breakage is loud at read;
  *  - nested views expand recursively with a visited-set: a definition
  *    cycle fails with the cycle path, never an analyzer loop;
  *  - wire it with `.config("spark.sql.extensions",
  *    classOf[GraftExtensions].getName)`.
  *
  * Applying the extensions also installs the fork-free `file:` filesystem
  * ([[graft.fs.GraftLocalFileSystem.install]]) on the SparkContext's
  * Hadoop configuration, unless the user set one, and warns when the JVM
  * already cached another `file:` class.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // materialized-view DDL (CREATE/DROP/REFRESH MATERIALIZED VIEW) is
    // the one statement family the stock grammar can't parse — claimed
    // by a delegating parser, everything else passes through verbatim
    ext.injectParser((_, p) => new GraftMvParser(p))
    ext.injectHintResolutionRule(s => GraftViewDdlRule(s))
    ext.injectHintResolutionRule(s => GraftViewReadRule(s))
    // transparent MV rewrite: post-hoc (the plan is fully resolved, so
    // aggregates compare canonically); substitutes only FRESH state
    ext.injectPostHocResolutionRule(s => GraftMvRewriteRule(s))
    // the fork-free `file:` filesystem, on the context this session is
    // being built on: extensions apply before the session's SharedState
    // first resolves `file:`, and Hadoop caches that resolution per JVM
    org.apache.spark.sql.GraftSqlShim.activeContext.foreach(sc =>
      graft.fs.GraftLocalFileSystem.install(sc.hadoopConfiguration))
  }
}

private[sources] object GraftViewResolution {
  /** The graft catalog + identifier for an EXPLICITLY qualified name
    * (head must be a registered GraftCatalog) — None otherwise. */
  def graftTarget(spark: SparkSession, parts: Seq[String])
      : Option[(String, GraftCatalog, Identifier)] = {
    if (parts.length < 2) return None
    val cm = spark.sessionState.catalogManager
    if (!cm.isCatalogRegistered(parts.head)) return None
    cm.catalog(parts.head) match {
      case g: GraftCatalog =>
        Some((parts.head, g,
          Identifier.of(parts.tail.init.toArray, parts.last)))
      case _ => None
    }
  }

  /** The ONE scope-carrying tree walker view resolution uses (both
    * qualification and expansion — two copies of this walk WOULD drift):
    * visits every plan node INCLUDING `UnresolvedWith.cteRelations`
    * (innerChildren, invisible to the stock transform*) and subquery
    * expressions, threading the lexical CTE scope, and rewrites each
    * relation reference through `onRel`. */
  private def walkPlan(plan: LogicalPlan, scope: Set[String])(
      onRel: (UnresolvedRelation, Set[String]) => LogicalPlan): LogicalPlan = {
    def go(p: LogicalPlan, sc: Set[String]): LogicalPlan = p match {
      case w: UnresolvedWith =>
        // Scope is threaded INCREMENTALLY for a non-recursive WITH: each
        // definition sees only the outer scope plus PREVIOUSLY defined
        // names — a table reference that merely shares a later CTE's name
        // must still be definer-qualified. WITH RECURSIVE keeps the full
        // scope (self/forward references are part of its semantics).
        val all = sc ++ w.cteRelations.map(_._1.toLowerCase)
        var seen = sc
        val rels = w.cteRelations.map { case (n, sq, hint) =>
          val defScope = if (w.allowRecursion) all else seen
          seen = seen + n.toLowerCase
          (n, go(sq, defScope).asInstanceOf[SubqueryAlias], hint)
        }
        w.copy(cteRelations = rels, child = go(w.child, all))
          .transformExpressions {
            case sq: org.apache.spark.sql.catalyst.expressions.SubqueryExpression =>
              sq.withNewPlan(go(sq.plan, all))
          }
      case r: UnresolvedRelation => onRel(r, sc) // leaf, no expressions
      case other => other.mapChildren(go(_, sc)).transformExpressions {
        case sq: org.apache.spark.sql.catalyst.expressions.SubqueryExpression =>
          sq.withNewPlan(go(sq.plan, sc))
      }
    }
    go(plan, scope)
  }

  /** Qualify a view body's table references with the DEFINER's stored
    * context, scope-correctly: a 1-part name that is NOT a CTE in lexical
    * scope gets catalog + namespace prepended; a multi-part name whose
    * head is NOT a registered catalog gets the definer CATALOG prepended
    * (it was namespace-relative at CREATE time). CTE scope is carried
    * explicitly — a name shadowed by a `WITH` binding in one subtree is
    * still a table elsewhere in the same statement. */
  private def qualify(spark: SparkSession, plan: LogicalPlan,
      stored: GraftViewStore.Stored, scope: Set[String]): LogicalPlan = {
    val cm = spark.sessionState.catalogManager
    walkPlan(plan, scope) { (r, sc) =>
      r.multipartIdentifier match {
        case Seq(one) if !sc.contains(one.toLowerCase) =>
          r.copy(multipartIdentifier =
            (stored.currentCatalog +: stored.currentNamespace.toSeq) :+ one)
        case parts if parts.length >= 2 &&
            !cm.isCatalogRegistered(parts.head) =>
          r.copy(multipartIdentifier = stored.currentCatalog +: parts)
        case _ => r
      }
    }
  }

  /** Parse a stored view body and expand it: unqualified table references
    * qualify with the definer's stored context, nested graft views expand
    * recursively (cycle → loud error naming the path). */
  def expandBody(spark: SparkSession, stored: GraftViewStore.Stored,
      visiting: List[String]): LogicalPlan = {
    if (visiting.length > 32) throw new IllegalStateException(
      s"view nesting deeper than 32 levels: ${visiting.reverse.mkString(" -> ")}")
    val parsed = spark.sessionState.sqlParser.parsePlan(stored.sql)
    val qualified = qualify(spark, parsed, stored, Set.empty)
    val expanded = expandReferences(spark, qualified, visiting)
    // the analyzer's Substitution batch (CTE binding) runs BEFORE the
    // Hints batch this expansion is spliced in, so a WITH inside the body
    // would never be substituted — bind it here (idempotent on bodies
    // without CTEs; nested views were already bound by their own pass)
    org.apache.spark.sql.catalyst.analysis.CTESubstitution(expanded)
  }

  /** Substitute every graft-view reference in `plan` (recursively),
    * INCLUDING inside WITH clauses — a view reference in a CTE definition
    * must expand through the same `visiting` cycle guard as everywhere
    * else, or a replace-built cycle would validate at CREATE and loop
    * the analyzer at read. A substituted subtree is already fully
    * expanded by its own pass. */
  def expandReferences(spark: SparkSession, plan: LogicalPlan,
      visiting: List[String]): LogicalPlan =
    walkPlan(plan, Set.empty)((r, _) =>
      substitute(spark, r, visiting).getOrElse(r))

  /** Expanded subtree for one relation reference if it names a graft
    * view; None if it is not ours. */
  def substitute(spark: SparkSession, r: UnresolvedRelation,
      visiting: List[String]): Option[LogicalPlan] =
    graftTarget(spark, r.multipartIdentifier).flatMap { case (cat, g, id) =>
      if (!g.viewExists(id)) substituteMv(spark, r, cat, g, id)
      else {
        val key = (cat +: id.namespace().toSeq :+ id.name()).mkString(".")
        if (visiting.contains(key)) throw new IllegalStateException(
          s"view definition cycle: ${(key :: visiting).reverse.mkString(" -> ")}")
        if (r.isStreaming) throw new UnsupportedOperationException(
          s"view $key cannot be read as a stream; stream its base table")
        val stored = GraftViewStore.read(
          java.nio.file.Paths.get(g.viewDirUnsafe(id)))
        val body = expandBody(spark, stored, key :: visiting)
        val aliased =
          if (stored.columnAliases.isEmpty) body
          else UnresolvedSubqueryColumnAliases(
            stored.columnAliases.toSeq, body)
        Some(SubqueryAlias(key, aliased))
      }
    }

  /** A materialized-view reference reads the STATE table — one projection
    * of the public columns over `__mv_state_<name>`, never a recompute.
    * Reading an MV whose state was never built (crash between CREATE's
    * publish and its first refresh) fails loudly toward the fix. */
  private def substituteMv(spark: SparkSession, r: UnresolvedRelation,
      cat: String, g: GraftCatalog, id: Identifier): Option[LogicalPlan] = {
    if (!g.mvExists(id)) return None
    val key = (cat +: id.namespace().toSeq :+ id.name()).mkString(".")
    if (r.isStreaming) throw new UnsupportedOperationException(
      s"materialized view $key cannot be read as a stream; stream its " +
        "base table")
    if (!g.tableExists(g.mvStateIdent(id))) throw new IllegalStateException(
      s"materialized view $key has no state yet — run " +
        s"CALL $cat.sys.refresh_mv(view => '${(id.namespace() :+ id.name())
          .mkString(".")}')")
    val rec = GraftMaterializedViews.readRecord(g.mvPath(id))
    val stateParts =
      (cat +: id.namespace().toSeq) :+ g.mvStateIdent(id).name()
    Some(SubqueryAlias(key, Project(
      rec.outputSchema.fieldNames.toIndexedSeq.map(n =>
        org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(Seq(n))),
      UnresolvedRelation(stateParts))))
  }

  /** Multipart name from the unresolved child of a view DDL plan. */
  def partsOf(child: LogicalPlan): Option[Seq[String]] = child match {
    case u: UnresolvedIdentifier => Some(u.nameParts)
    case u: UnresolvedView => Some(u.multipartIdentifier)
    case u: UnresolvedTableOrView => Some(u.multipartIdentifier)
    case _ => None
  }
}

/** Rewrites view DDL statements that target a graft catalog into runnable
  * commands, before `ResolveSessionCatalog` can reject them. */
final case class GraftViewDdlRule(spark: SparkSession)
    extends Rule[LogicalPlan] {
  import GraftViewResolution._

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case c: CreateView =>
      partsOf(c.child).flatMap(graftTarget(spark, _)).map { case (cat, g, id) =>
        val text = c.originalText.getOrElse(throw new IllegalStateException(
          s"CREATE VIEW $cat.$id has no original SQL text"))
        GraftCreateViewCommand(cat, g, id, text,
          c.userSpecifiedColumns, c.comment, c.properties,
          allowExisting = c.allowExisting, replace = c.replace)
      }.getOrElse(plan)
    case a: AlterViewAs =>
      partsOf(a.child).flatMap(graftTarget(spark, _)).map { case (cat, g, id) =>
        GraftCreateViewCommand(cat, g, id, a.originalText,
          Nil, None, Map.empty, allowExisting = false, replace = true,
          requireExists = true)
      }.getOrElse(plan)
    case d: DropView =>
      partsOf(d.child).flatMap(graftTarget(spark, _)).map { case (cat, g, id) =>
        GraftDropViewCommand(cat, g, id, d.ifExists)
      }.getOrElse(plan)
    case s: ShowViews => s.namespace match {
      case ns: UnresolvedNamespace
          if ns.multipartIdentifier.nonEmpty &&
            graftTarget(spark,
              ns.multipartIdentifier :+ "_").isDefined =>
        val (cat, g, _) =
          graftTarget(spark, ns.multipartIdentifier :+ "_").get
        GraftShowViewsCommand(cat, g,
          ns.multipartIdentifier.tail, s.pattern, s.output)
      case _ => plan
    }
    case s: SetViewProperties =>
      partsOf(s.child).flatMap(graftTarget(spark, _)).map { case (cat, g, id) =>
        GraftAlterViewPropsCommand(cat, g, id, set = s.properties,
          unset = Nil, ifExists = false)
      }.getOrElse(plan)
    case u: UnsetViewProperties =>
      partsOf(u.child).flatMap(graftTarget(spark, _)).map { case (cat, g, id) =>
        GraftAlterViewPropsCommand(cat, g, id, set = Map.empty,
          unset = u.propertyKeys, ifExists = u.ifExists)
      }.getOrElse(plan)
    case r: RenameTable if r.isView =>
      partsOf(r.child).flatMap(graftTarget(spark, _)).map { case (cat, g, id) =>
        GraftRenameViewCommand(cat, g, id,
          Identifier.of(r.newName.init.toArray, r.newName.last))
      }.getOrElse(plan)
    case s: ShowTableProperties =>
      // SHOW TBLPROPERTIES names a table OR a view; claim only views
      // (graft tables keep flowing through the stock DSv2 path)
      partsOf(s.table).flatMap(graftTarget(spark, _)) match {
        case Some((cat, g, id)) if g.viewExists(id) =>
          GraftShowViewPropsCommand(cat, g, id, s.propertyKey, s.output)
        case _ => plan
      }
    case _ => plan
  }
}

/** Substitutes reads of graft views with their expanded definitions. Only
  * EXPLICITLY qualified references (`gcat.v`) are claimed, so temp views,
  * CTE names and session-catalog tables are never shadowed. A view as a
  * WRITE target fails with a clear read-only error here — substituting
  * it would feed the write resolver a subquery and die unreadably. */
final case class GraftViewReadRule(spark: SparkSession)
    extends Rule[LogicalPlan] {
  private def rejectViewTarget(t: LogicalPlan): Unit =
    t.collectFirst { case r: UnresolvedRelation => r }.foreach { r =>
      GraftViewResolution.graftTarget(spark, r.multipartIdentifier)
        .foreach { case (cat, g, id) =>
          if (g.viewExists(id)) throw new UnsupportedOperationException(
            s"cannot write to view $cat.${(id.namespace() :+ id.name())
              .mkString(".")} — views are read-only definitions; " +
              "write to the base table instead")
          if (g.mvExists(id)) throw new UnsupportedOperationException(
            s"cannot write to materialized view $cat.${(id.namespace() :+
              id.name()).mkString(".")} — its state is maintained by " +
              "CALL refresh_mv; write to the base table instead")
        }
    }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // write statements can sit BELOW the root (multi-insert unions) and
    // the DataFrameWriterV2 path arrives as v2 write nodes — check every
    // node, not just the top
    plan.foreach {
      case i: InsertIntoStatement => rejectViewTarget(i.table)
      case d: DeleteFromTable => rejectViewTarget(d.table)
      case u: UpdateTable => rejectViewTarget(u.table)
      case m: MergeIntoTable => rejectViewTarget(m.targetTable)
      case a: AppendData => rejectViewTarget(a.table)
      case o: OverwriteByExpression => rejectViewTarget(o.table)
      case o: OverwritePartitionsDynamic => rejectViewTarget(o.table)
      case _ => ()
    }
    // with view targets rejected above, substitution can only fire on
    // READ references (a table target never matches a view)
    GraftViewResolution.expandReferences(spark, plan, Nil)
  }
}

/** CREATE [OR REPLACE] VIEW / ALTER VIEW ... AS against a graft catalog.
  * The body is analyzed through the SAME expansion path reads use (definer
  * qualification + nested view expansion), so what validates at CREATE is
  * what resolves at read; self-reference is caught as a cycle here. */
final case class GraftCreateViewCommand(cat: String, g: GraftCatalog,
    id: Identifier, text: String,
    userCols: Seq[(String, Option[String])], comment: Option[String],
    props: Map[String, String], allowExisting: Boolean, replace: Boolean,
    requireExists: Boolean = false) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    if (requireExists && !g.viewExists(id))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchViewException(id)
    if (allowExisting && !replace && g.viewExists(id)) return Nil
    // ALTER VIEW ... AS swaps the definition but keeps the properties
    val effProps =
      if (!requireExists) props
      else GraftViewStore.read(java.nio.file.Paths.get(g.viewDirUnsafe(id)))
        .properties ++ props
    val key = (cat +: id.namespace().toSeq :+ id.name()).mkString(".")
    val stored0 = GraftViewStore.Stored(text,
      currentCatalog = spark.sessionState.catalogManager.currentCatalog.name,
      currentNamespace = spark.sessionState.catalogManager.currentNamespace,
      schema = new org.apache.spark.sql.types.StructType(),
      queryColumnNames = Array.empty, columnAliases = Array.empty,
      columnComments = Array.empty, properties = Map.empty)
    // analyze the EXPANDED body (cycle guard seeded with this view's own
    // name, so `CREATE OR REPLACE VIEW v AS ... FROM v` is rejected)
    val expanded =
      GraftViewResolution.expandBody(spark, stored0, List(key))
    val analyzed = spark.sessionState.analyzer
      .executeAndCheck(expanded,
        new org.apache.spark.sql.catalyst.QueryPlanningTracker())
    require(userCols.isEmpty || userCols.length == analyzed.output.length,
      s"CREATE VIEW $key declares ${userCols.length} columns but the " +
        s"query produces ${analyzed.output.length}")
    val schema =
      if (userCols.isEmpty) analyzed.schema
      else org.apache.spark.sql.types.StructType(
        analyzed.schema.fields.zip(userCols).map { case (f, (n, _)) =>
          f.copy(name = n) })
    val info = new ViewInfo(id, text,
      stored0.currentCatalog, stored0.currentNamespace, schema,
      analyzed.output.map(_.name).toArray,
      userCols.map(_._1).toArray,
      userCols.map(_._2.orNull).toArray,
      (effProps ++ comment.map("comment" -> _)).asJava)
    if (replace) g.replaceView(info, orCreate = !requireExists)
    else g.createView(info)
    Nil
  }
}

final case class GraftDropViewCommand(cat: String, g: GraftCatalog,
    id: Identifier, ifExists: Boolean) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    if (!g.dropView(id) && !ifExists)
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchViewException(id)
    Nil
  }
}

final case class GraftShowViewsCommand(cat: String, g: GraftCatalog,
    ns: Seq[String], pattern: Option[String],
    override val output: Seq[Attribute]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val names = g.listViews(ns: _*).toSeq.map(_.name()).sorted
    // Spark's SHOW-pattern contract: '*' any-sequence, '|' alternation,
    // everything else literal — the shared catalyst helper, not raw regex
    val kept = pattern match {
      case Some(p) =>
        org.apache.spark.sql.catalyst.util.StringUtils.filterPattern(names, p)
      case None => names
    }
    kept.map(n => Row(ns.mkString("."), n, false))
  }
}

final case class GraftAlterViewPropsCommand(cat: String, g: GraftCatalog,
    id: Identifier, set: Map[String, String], unset: Seq[String],
    ifExists: Boolean) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.connector.catalog.ViewChange
    val changes: Seq[ViewChange] =
      set.toSeq.map { case (k, v) => ViewChange.setProperty(k, v) } ++
        unset.map(ViewChange.removeProperty)
    g.alterView(id, changes: _*)
    Nil
  }
}

final case class GraftRenameViewCommand(cat: String, g: GraftCatalog,
    from: Identifier, to: Identifier) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    g.renameView(from, to)
    Nil
  }
}

final case class GraftShowViewPropsCommand(cat: String, g: GraftCatalog,
    id: Identifier, key: Option[String],
    override val output: Seq[Attribute]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val props = g.loadView(id).properties().asScala
    key match {
      case Some(k) => Seq(Row(k, props.getOrElse(k,
        s"Table ${id.name()} does not have property: $k")))
      case None => props.toSeq.sortBy(_._1).map { case (k, v) => Row(k, v) }
    }
  }
}
