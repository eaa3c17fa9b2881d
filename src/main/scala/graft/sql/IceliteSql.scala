package graft.sql

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.AliasIdentifier
import org.apache.spark.sql.catalyst.analysis.{AsOfTimestamp, AsOfVersion, NoSuchTableException, RelationTimeTravel, TimeTravelSpec, UnresolvedRelation, UnresolvedTable, UnresolvedTableOrView}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, AttributeReference, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual, Literal, StartsWith}
import org.apache.spark.sql.catalyst.plans.logical.{AddColumns, AlterColumns, AlterTableCommand, DeleteFromTable, DescribeRelation, Filter, InsertIntoStatement, LogicalPlan, MergeIntoTable, Project, SubqueryAlias, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.engine.{CdcEngine, StatsSkip}

/** SQL read surface over icelite tables: a Catalyst resolution rule
  * (registered through `SparkSessionExtensions`, Spark's sanctioned
  * extension point) that resolves `ice.<name>` relations to the engine's
  * read plans, so the whole surface a lakehouse SQL user expects works
  * verbatim (Iceberg's Spark SQL surface; the reference exposes its final
  * tables to plain SQL the same way, the `sql_queries` directory):
  *
  *   - `SELECT ... FROM ice.t`                          — current state
  *   - `... FROM ice.t VERSION AS OF 7`                 — snapshot id
  *   - `... FROM ice.t VERSION AS OF 'tag-or-branch'`   — refs
  *   - `... FROM ice.t TIMESTAMP AS OF '2026-08-01 ..'` — latest snapshot
  *     committed at or before the timestamp (Iceberg semantics)
  *   - `... FROM ice.t.snapshots|history|files|partitions|refs|lineage|
  *     metrics`                                         — metadata tables;
  *     `files`/`partitions` accept `VERSION AS OF` too
  *   - `spark.read.option("versionAsOf"|"timestampAsOf", ..).table("ice.t")`
  *   - `spark.read.option("sinceSnapshot", id).table("ice.t.changes")` — the
  *     incremental change feed ((since, head] diff); `.changelog` is the CDF
  *     pre/post-image flavor; `versionAsOf` pins the window END
  *
  * The rule substitutes each reference with a FRESH engine read plan, so a
  * self-join resolves with distinct attribute ids and every query sees the
  * table head as of its own analysis — the same snapshot-per-query isolation
  * the DataFrame API gives. Row-level writes go through [[IceliteDml]]:
  * INSERT INTO / UPDATE / DELETE / MERGE INTO are re-expressed as
  * change-event batches on the engine's MERGE (each statement is one
  * engine commit stamped strictly above the high watermark, with a
  * cardinality guard rejecting a source that touches a target key twice);
  * bulk ingest still arrives through `applyBatch` / the streaming sink.
  * DDL that would bypass the engine (CREATE/RENAME) is rejected loudly;
  * ALTER TABLE ADD COLUMN / widening type changes route into the same
  * SchemaEvolve reconciliation the batch path uses.
  *
  * Names are registered per SparkSession ([[IceliteSql.register]]), the
  * in-process analog of configuring `spark.sql.catalog.ice` — the resolution
  * rule itself is wired either with
  * `SparkSession.builder.withExtensions(new IceliteSqlExtensions)` or via
  * `spark.sql.extensions=graft.sql.IceliteSqlExtensions`.
  *
  * Scale note: resolution is O(manifest metadata) on the driver (same cost
  * class as the engine's own reads); the substituted plan is the engine's
  * pruned parquet scan (+ the bucket-local LWW merge on merge-on-read
  * tables), so everything Catalyst does for a DataFrame read — filter
  * pushdown, column pruning, AQE — applies unchanged to the SQL text.
  */
object IceliteSql {
  /** Catalog-style prefix SQL references use: `ice.<registered-name>`. */
  val Catalog = "ice"

  /** Metadata relation suffixes (Iceberg's `db.table.snapshots` surface). */
  private[sql] val MetaTables = Set("snapshots", "history", "files",
    "partitions", "refs", "lineage", "metrics", "changes", "changelog")

  // keyed per-session (weakly — a dropped session releases its engines),
  // so concurrent sessions (tests, notebook users) cannot shadow each other
  private val registry =
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[String, CdcEngine]]()

  private def forSession(spark: SparkSession): ConcurrentHashMap[String, CdcEngine] =
    registry.synchronized {
      var m = registry.get(spark)
      if (m == null) { m = new ConcurrentHashMap[String, CdcEngine](); registry.put(spark, m) }
      m
    }

  /** Make `ice` a real catalog name so Spark's own resolver routes
    * multi-part identifiers (`ice.t.snapshots`, `CALL ice.system.*`) here
    * instead of erroring on `spark_catalog` namespace depth — the stub
    * always reports table-not-found, leaving the relation for the
    * resolution rule. [[register]] calls this automatically; call it
    * directly when the FIRST SQL statement of a session is a table-less
    * procedure (`CALL ice.system.create_table(...)`). */
  def ensureCatalog(spark: SparkSession): Unit = {
    val key = s"spark.sql.catalog.$Catalog"
    if (!spark.conf.getOption(key).contains(classOf[IceliteCatalogStub].getName))
      spark.conf.set(key, classOf[IceliteCatalogStub].getName)
  }

  /** Expose `engine`'s table to SQL in `spark` as `ice.<name>`. */
  def register(spark: SparkSession, name: String, engine: CdcEngine): Unit = {
    ensureCatalog(spark)
    forSession(spark).put(name.toLowerCase, engine)
  }

  def unregister(spark: SparkSession, name: String): Unit =
    forSession(spark).remove(name.toLowerCase)

  /** Register every table of a [[graft.icelite.IceliteCatalog]] under its
    * catalog name, returning the snapshot-id pins of the catalog's current
    * version: plain SQL then reads the whole table SET consistently with
    * `FROM ice.<name> VERSION AS OF <pins(name)>` — cross-table snapshot
    * isolation (and, with an older catalog version, cross-table time
    * travel) through the existing time-travel syntax, no new SQL. */
  def registerCatalog(spark: SparkSession,
      catalog: graft.icelite.IceliteCatalog,
      mkEngine: String => CdcEngine,
      atVersion: Long = -1L): Map[String, Long] = {
    val refs = catalog.refs(atVersion)
    refs.foreach { case (name, _) => register(spark, name, mkEngine(name)) }
    refs.map { case (name, ref) => name -> ref.snapshotId }
  }

  /** Names registered in `spark` (the `SHOW TABLES IN ice` listing). */
  def registeredNames(spark: SparkSession): Seq[String] = {
    import scala.jdk.CollectionConverters._
    forSession(spark).keySet.asScala.toSeq.sorted
  }

  /** The engine currently behind `ice.<name>` in `spark`, if registered
    * (after a `CALL ice.system.rebucket` this is the re-registered,
    * new-layout engine — the handle callers should keep ingesting with). */
  def lookup(spark: SparkSession, name: String): Option[CdcEngine] =
    Option(forSession(spark).get(name.toLowerCase))

  private[sql] def fail(msg: String): Nothing =
    throw new AnalysisException("USER_RAISED_EXCEPTION",
      Map("errorMessage" -> msg))

  /** Marks a substituted state read (current or time-travel) as a
    * candidate for WHERE → manifest stats pruning (see the Filter case in
    * [[IceliteResolveRule]]). Carries the live engine plus the pinned
    * snapshot id (None = current head) so the rewrite can re-plan through
    * `scanWhere` against the same snapshot. Never set on metadata tables
    * or change feeds. */
  private[sql] val StatsScanTag =
    TreeNodeTag[(CdcEngine, Option[Long])]("icelite.statsScan")

  /** Adopt the table's CURRENT bucket layout: a rebucket after registration
    * must not strand the SQL surface on the stale engine conf (reads would
    * fail checkLayout) — same rule as the feed stream. */
  private[sql] def effective(session: SparkSession, registered: CdcEngine): CdcEngine = {
    val eff = registered.table.currentBuckets
    if (registered.conf.buckets == eff) registered
    else new CdcEngine(session, registered.table, registered.conf.copy(buckets = eff))
  }
}

/** Minimal catalog plugin bound to the `ice` name ([[IceliteSql.register]]
  * sets `spark.sql.catalog.ice`): its only job is making `ice` a REAL
  * catalog so Spark's resolver routes multi-part identifiers
  * (`ice.t.snapshots`) here — reporting every table as not-found — instead
  * of erroring on `spark_catalog` namespace depth; the relation then stays
  * unresolved for [[IceliteResolveRule]] to claim. Registrations are
  * session-scoped engine instances (live JVM objects), which a catalog
  * plugin — constructed reflectively, session-agnostic — cannot hold; the
  * resolution rule, which IS session-bound, owns them instead. */
class IceliteCatalogStub extends org.apache.spark.sql.connector.catalog.TableCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog {
  import org.apache.spark.sql.connector.catalog.{Identifier, Table, TableChange}
  import org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
  import org.apache.spark.sql.connector.expressions.Transform
  import org.apache.spark.sql.types.StructType

  private var catalogName = IceliteSql.Catalog
  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit =
    catalogName = name
  override def name(): String = catalogName
  // `SHOW TABLES IN ice`: the active session's registrations (the stub is
  // constructed reflectively and session-agnostic, so it resolves the
  // session at call time — SHOW runs on the driver's active session)
  override def listTables(namespace: Array[String]): Array[Identifier] =
    if (namespace.nonEmpty) Array.empty
    else org.apache.spark.sql.SparkSession.getActiveSession
      .map(s => IceliteSql.registeredNames(s).map(Identifier.of(namespace, _)).toArray)
      .getOrElse(Array.empty)
  override def loadTable(ident: Identifier): Table = throw new NoSuchTableException(ident)
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: java.util.Map[String, String]): Table =
    IceliteSql.fail(s"${name()}: CREATE TABLE is not supported — create icelite " +
      "tables with IceliteTable.create and register them with IceliteSql.register")
  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    IceliteSql.fail(s"${name()}: ALTER TABLE is not supported — schema evolves " +
      "through CdcEngine batch reconciliation")
  override def dropTable(ident: Identifier): Boolean = false
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    IceliteSql.fail(s"${name()}: RENAME is not supported")

  // the one surface the stub genuinely serves: `CALL ice.system.<proc>(...)`
  // maintenance procedures (see IceliteProcedures)
  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    val inSystem = ident.namespace.length == 1 &&
      ident.namespace()(0).equalsIgnoreCase(IceliteProcedures.Namespace)
    if (!inSystem)
      IceliteSql.fail(s"${name()}: procedures live in the " +
        s"${IceliteProcedures.Namespace} namespace — CALL " +
        s"${name()}.${IceliteProcedures.Namespace}.<procedure>(...)")
    IceliteProcedures.load(ident.name).getOrElse(
      IceliteSql.fail(s"${name()}.${IceliteProcedures.Namespace}.${ident.name}: " +
        s"unknown procedure (available: ${IceliteProcedures.names.mkString(", ")})"))
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty ||
        (namespace.length == 1 && namespace(0).equalsIgnoreCase(IceliteProcedures.Namespace)))
      IceliteProcedures.names
        .map(n => Identifier.of(Array(IceliteProcedures.Namespace), n)).toArray
    else Array.empty
}

/** `SparkSession.builder.withExtensions(new IceliteSqlExtensions)`, or
  * `spark.sql.extensions=graft.sql.IceliteSqlExtensions`. */
class IceliteSqlExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPostHocResolutionRule(new IceliteMetaAggRule(_))
    ext.injectResolutionRule(session => new IceliteResolveRule(session))
  }
}

class IceliteResolveRule(session: SparkSession) extends Rule[LogicalPlan] {
  import IceliteSql._

  private def tz: String = session.sessionState.conf.sessionLocalTimeZone

  /** A DML statement's target: `ice.<registered>`, optionally aliased.
    * Metadata relations (`ice.t.snapshots`) are never DML targets. */
  private object DmlTarget {
    def unapply(p: LogicalPlan): Option[(String, Option[String], CdcEngine)] = p match {
      case SubqueryAlias(id, u: UnresolvedRelation) =>
        owned(u).collect { case (n, None, e) => (n, Some(id.name), e) }
      case u: UnresolvedRelation =>
        owned(u).collect { case (n, None, e) => (n, None, e) }
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = dml(plan).resolveOperatorsUp {
    // SQL WHERE -> manifest-level FILE SKIPPING (the Iceberg scan-planning
    // step, as plan surgery): once the filter above a substituted current-
    // state read resolves, extract [lo, hi] bounds on the engine's stats
    // columns from its top-level conjuncts and swap the read for the
    // engine's stats-pruned scanRange plan — files whose harvested bounds
    // cannot satisfy the predicate are never listed, so Spark never opens
    // them (visible in df.inputFiles). The ORIGINAL filter stays on top
    // (exact semantics; pruning only over-approximates) and the pruned
    // plan's columns are re-aliased to the old attribute ids, so nothing
    // upstream re-resolves. Fires at most once per relation (tag unset).
    case f @ Filter(cond, SubqueryAlias(ident, child))
        if cond.resolved && child.getTagValue(StatsScanTag).isDefined =>
      val (engine, asOf) = child.getTagValue(StatsScanTag).get
      child.unsetTagValue(StatsScanTag)
      statsPruned(engine, asOf, cond, child)
        .map(pruned => Filter(cond, SubqueryAlias(ident, pruned)))
        .getOrElse(f)

    // INSERT's target is a FIELD of InsertIntoStatement, not a child, so the
    // bare UnresolvedRelation case below never visits it — anything `dml`
    // left unclaimed (metadata-table target) is rejected here
    case i: InsertIntoStatement =>
      i.table match {
        case u: UnresolvedRelation if owned(u).isDefined =>
          fail(s"${u.multipartIdentifier.mkString(".")} is not an INSERT target — " +
            "metadata relations are read-only")
        case _ => i
      }

    // `DESCRIBE [EXTENDED] ice.t` — the parser targets an
    // UnresolvedTableOrView (not an UnresolvedRelation), which the stub
    // catalog reports as missing; claim it here and answer from metadata
    case d @ DescribeRelation(u: UnresolvedTableOrView, _, isExtended, out) =>
      u.multipartIdentifier match {
        case Seq(c, n) if c.equalsIgnoreCase(Catalog) && lookup(session, n).isDefined =>
          IceliteDescribeCommand(n.toLowerCase, isExtended, out)
        case _ => d
      }

    // `FROM ice.t VERSION/TIMESTAMP AS OF ...` — the parser wraps the
    // relation in RelationTimeTravel (an unresolved LEAF: `relation` is a
    // field, not a child, so the bare case below never sees it)
    case tt @ RelationTimeTravel(u: UnresolvedRelation, ts, ver) =>
      owned(u).map { case (name, sub, engine) =>
        val spec = TimeTravelSpec.create(ts, ver, tz).getOrElse(
          fail(s"$Catalog.$name: time travel requires VERSION AS OF or TIMESTAMP AS OF"))
        resolved(name, sub, engine, Some(specToSnapshot(name, engine, spec)), u.options)
      }.getOrElse(tt)

    case u: UnresolvedRelation =>
      owned(u).map { case (name, sub, engine) =>
        // real DML targets were claimed by `dml` before this traversal; a
        // write-marked relation surviving here is a metadata-table target
        if (u.options.containsKey(UnresolvedRelation.REQUIRED_WRITE_PRIVILEGES))
          fail(s"${u.multipartIdentifier.mkString(".")} is read-only: DML " +
            s"(UPDATE/DELETE/MERGE INTO/INSERT) applies to $Catalog.$name " +
            "itself, not its metadata relations")
        // DataFrame-reader time travel: .option("versionAsOf"/"timestampAsOf")
        val spec = TimeTravelSpec.fromOptions(u.options, "timestampAsOf", "versionAsOf", tz)
        resolved(name, sub, engine, spec.map(specToSnapshot(name, engine, _)), u.options)
      }.getOrElse(u)
  }

  /** Row-level DML on `ice.*` targets -> engine-MERGE commands (see
    * [[IceliteDml]]). A TOP-DOWN pre-pass, deliberately separate from the
    * bottom-up read traversal: bottom-up would visit the write-marked
    * target relation before its DML parent and reject it. Each statement
    * becomes a leaf command holding the RAW parser artifacts ([[Raw]]);
    * resolution happens at run() against the live state. CTE sources are
    * already inlined here (CTESubstitution runs in the substitution batch,
    * before resolution rules). */
  private def dml(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsDown {
    case DeleteFromTable(DmlTarget(name, alias, _), cond) =>
      IceliteDeleteCommand(name, alias, Raw(cond))

    case UpdateTable(DmlTarget(name, alias, _), assigns, cond) =>
      IceliteUpdateCommand(name, alias, Raw(assigns), cond.map(Raw(_)))

    case MergeIntoTable(DmlTarget(name, alias, _), source, cond,
        matched, notMatched, bySource, withSchemaEvolution) =>
      if (withSchemaEvolution)
        fail(s"$Catalog.$name: MERGE ... WITH SCHEMA EVOLUTION is not " +
          "supported — schema evolves through CdcEngine batch reconciliation")
      IceliteMergeCommand(name, alias, Raw(source), Raw(cond),
        Raw(matched), Raw(notMatched), Raw(bySource))

    case InsertIntoStatement(DmlTarget(name, _, _),
        partitionSpec, cols, query, overwrite, _, byName) =>
      if (partitionSpec.nonEmpty)
        fail(s"$Catalog.$name: PARTITION clauses do not apply — physical " +
          "layout is the table's bucket spec")
      if (overwrite)
        fail(s"$Catalog.$name: INSERT OVERWRITE would replace table state — " +
          "use DELETE + INSERT, or rollbackTo for time travel")
      IceliteInsertCommand(name, cols, Raw(query), byName)

    // ALTER TABLE ice.t: the two legal schema evolutions route into the
    // engine's SchemaEvolve reconciliation (IceliteAlterCommand); every
    // other shape is the same loud rejection the batch path gives
    case a: AlterTableCommand if alterTarget(a.table).isDefined =>
      val name = alterTarget(a.table).get
      a match {
        case AddColumns(_, cols) =>
          IceliteAlterCommand(name, Raw(cols), Raw(Nil))
        case AlterColumns(_, specs) =>
          IceliteAlterCommand(name, Raw(Nil), Raw(specs))
        case other =>
          fail(s"$Catalog.$name: ${other.nodeName} is not supported — schema " +
            "evolution is ADD COLUMN / ALTER COLUMN TYPE (widening) only, " +
            "mirroring the engine's batch reconciliation rules")
      }
  }

  /** The registered name when an ALTER target is `ice.<registered>`. */
  private def alterTarget(p: LogicalPlan): Option[String] = p match {
    case u: UnresolvedTable => u.multipartIdentifier match {
      case Seq(c, n) if c.equalsIgnoreCase(Catalog) =>
        lookup(session, n).map(_ => n.toLowerCase)
      case _ => None
    }
    case _ => None
  }

  /** `(registered-name, metadata-suffix, engine)` when the identifier is
    * `ice.<registered>` or `ice.<registered>.<meta>`; None otherwise (the
    * reference stays unresolved and Spark reports it as usual). */
  private def owned(u: UnresolvedRelation): Option[(String, Option[String], CdcEngine)] =
    u.multipartIdentifier match {
      case Seq(c, n) if c.equalsIgnoreCase(Catalog) =>
        lookup(session, n).map(e => (n.toLowerCase, None, e))
      case Seq(c, n, s) if c.equalsIgnoreCase(Catalog) && MetaTables.contains(s.toLowerCase) =>
        lookup(session, n).map(e => (n.toLowerCase, Some(s.toLowerCase), e))
      case _ => None
    }

  private def specToSnapshot(name: String, engine: CdcEngine, spec: TimeTravelSpec): Long = {
    val t = engine.table
    spec match {
      case AsOfVersion(v) if v.nonEmpty && v.forall(_.isDigit) =>
        val id = v.toLong
        if (!t.hasSnapshot(id)) fail(s"$Catalog.$name: no snapshot $id")
        id
      case AsOfVersion(v) => // Iceberg: VERSION AS OF resolves refs too
        t.tags.get(v).orElse(t.branches.get(v).map(_ => t.branchHead(v)))
          .getOrElse(fail(s"$Catalog.$name: no snapshot, tag or branch '$v'"))
      case AsOfTimestamp(micros) =>
        val millis = micros / 1000L
        // latest snapshot committed at or before the timestamp, on the
        // current chain (Iceberg SNAPSHOT_AT_TIME semantics)
        t.snapshotChain.filter(_.commitMillis <= millis).lastOption
          .map(_.snapshotId)
          .getOrElse(fail(s"$Catalog.$name: no snapshot committed at or before " +
            s"timestamp (epoch millis $millis)"))
    }
  }

  /** Substitute a FRESH engine read plan (fresh attribute ids — self-joins
    * resolve cleanly) wrapped in a SubqueryAlias so qualified column
    * references (`t.repo`, `ice.t.repo`) work. */
  private def resolved(name: String, sub: Option[String], registered: CdcEngine,
      asOf: Option[Long], options: CaseInsensitiveStringMap): LogicalPlan = {
    val engine = effective(session, registered)
    def noTimeTravel(what: String): Unit = asOf.foreach(_ =>
      fail(s"$Catalog.$name.$what does not support time travel — it already " +
        "describes the whole retained history"))
    def since: Long = Option(options.get("sinceSnapshot")).map(_.toLong).getOrElse(
      fail(s"$Catalog.$name.${sub.get} needs .option(\"sinceSnapshot\", <id>) — " +
        "the feed is the (since, head] incremental diff; versionAsOf pins the window end"))
    val df: DataFrame = sub match {
      case None => asOf.map(engine.stateAt(_)).getOrElse(engine.currentState())
      case Some("files") => engine.inspect.files(asOf.getOrElse(-1L))
      case Some("partitions") => engine.inspect.partitions(asOf.getOrElse(-1L))
      case Some("changes") =>
        engine.changesSince(since, toSnapshotId = asOf.getOrElse(-1L))
      case Some("changelog") =>
        engine.changelogSince(since, toSnapshotId = asOf.getOrElse(-1L))
      case Some(m) =>
        noTimeTravel(m)
        m match {
          case "snapshots" => engine.inspect.snapshots
          case "history" => engine.inspect.history
          case "refs" => engine.inspect.refs
          case "lineage" => engine.inspect.lineage
          case "metrics" => engine.inspect.metrics
        }
    }
    val inner = df.queryExecution.analyzed
    if (sub.isEmpty && engine.conf.statsCols.nonEmpty)
      inner.setTagValue(StatsScanTag, (engine, asOf))
    SubqueryAlias(
      AliasIdentifier(sub.getOrElse(name), Catalog +: sub.map(_ => name).toSeq),
      inner)
  }

  /** Rewrite a tagged current-state read under `cond` to the engine's
    * stats-pruned scan, or None when no top-level conjunct compares a
    * stats column to a literal. Bound extraction is deliberately
    * conservative: only bare `col <op> literal` conjuncts (the analyzer
    * inserts Casts for type mismatches, which simply won't match), strict
    * bounds relaxed to inclusive (a skipped file must be provably
    * unmatchable), and when several conjuncts bound the same column any
    * one of them is sound (they all must hold). */
  private def statsPruned(engine: CdcEngine, asOf: Option[Long],
      cond: Expression, child: LogicalPlan): Option[LogicalPlan] = {
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case x => Seq(x)
    }
    // the conf-spelled stats column for an attribute of the read's output
    def colOf(e: Expression): Option[String] = e match {
      case a: AttributeReference if child.outputSet.contains(a) =>
        engine.conf.statsCols.find(_.equalsIgnoreCase(a.name))
      case _ => None
    }
    // literal -> the external value scanRange expects (micros-exact
    // timestamps; UTF8String unwrapped)
    def litOf(e: Expression): Option[Any] = e match {
      case Literal(v, org.apache.spark.sql.types.TimestampType) if v != null =>
        val micros = v.asInstanceOf[Long]
        val ts = new java.sql.Timestamp(Math.floorDiv(micros, 1000000L) * 1000L)
        ts.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
        Some(ts)
      case Literal(u: org.apache.spark.unsafe.types.UTF8String, _) => Some(u.toString)
      case Literal(v, _) if v != null => Some(v)
      case _ => None
    }
    val bounds: Seq[(String, Option[Any], Option[Any])] = conjuncts(cond).flatMap {
      case EqualTo(a, l) =>
        colOf(a).flatMap(c => litOf(l).map(v => (c, Some(v): Option[Any], Some(v): Option[Any])))
          .orElse(colOf(l).flatMap(c => litOf(a).map(v => (c, Some(v): Option[Any], Some(v): Option[Any]))))
      case GreaterThanOrEqual(a, l) =>
        colOf(a).flatMap(c => litOf(l).map(v => (c, Some(v): Option[Any], None: Option[Any])))
          .orElse(colOf(l).flatMap(c => litOf(a).map(v => (c, None: Option[Any], Some(v): Option[Any]))))
      case GreaterThan(a, l) =>
        colOf(a).flatMap(c => litOf(l).map(v => (c, Some(v): Option[Any], None: Option[Any])))
          .orElse(colOf(l).flatMap(c => litOf(a).map(v => (c, None: Option[Any], Some(v): Option[Any]))))
      case LessThanOrEqual(a, l) =>
        colOf(a).flatMap(c => litOf(l).map(v => (c, None: Option[Any], Some(v): Option[Any])))
          .orElse(colOf(l).flatMap(c => litOf(a).map(v => (c, Some(v): Option[Any], None: Option[Any]))))
      case LessThan(a, l) =>
        colOf(a).flatMap(c => litOf(l).map(v => (c, None: Option[Any], Some(v): Option[Any])))
          .orElse(colOf(l).flatMap(c => litOf(a).map(v => (c, Some(v): Option[Any], None: Option[Any]))))
      // IN-list: its [min, max] range over-approximates the set — sound,
      // and tight whenever the list is clustered (the common case after a
      // sort-order rewrite on the same column)
      case In(a: AttributeReference, items) if items.nonEmpty =>
        colOf(a).flatMap { c =>
          val vs = items.map(litOf)
          if (vs.exists(_.isEmpty)) None
          else {
            val dt = a.dataType
            val canon = vs.flatten.map(v => v -> StatsSkip.canon(dt, v))
            val lo = canon.minBy(_._2)(Ordering.fromLessThan[String](
              (x, y) => StatsSkip.cmp(dt, x, y) < 0))._1
            val hi = canon.maxBy(_._2)(Ordering.fromLessThan[String](
              (x, y) => StatsSkip.cmp(dt, x, y) < 0))._1
            Some((c, Some(lo): Option[Any], Some(hi): Option[Any]))
          }
        }
      // prefix LIKE: [prefix, prefix-with-last-char-incremented) — kept
      // ASCII-only so the UTF-16 increment agrees with the UTF-8 byte
      // order the bounds are compared in; otherwise lo-only (still sound).
      // Matched as the raw `Like` node (the analyzer hands it to us before
      // the optimizer's LikeSimplification turns it into StartsWith) and
      // as StartsWith for DataFrame-built filters.
      case like: org.apache.spark.sql.catalyst.expressions.Like =>
        (like.left, litOf(like.right)) match {
          case (a: AttributeReference, Some(s: String))
              if s.length > 1 && s.endsWith("%") &&
                !s.dropRight(1).exists(ch =>
                  ch == '%' || ch == '_' || ch == like.escapeChar) =>
            val p = s.dropRight(1)
            colOf(a).map(c => (c, Some(p): Option[Any], prefixUpper(p)))
          case _ => None
        }
      case StartsWith(a: AttributeReference, l) =>
        colOf(a).flatMap(c => litOf(l).collect { case p: String if p.nonEmpty =>
          (c, Some(p): Option[Any], prefixUpper(p): Option[Any])
        })
      case _ => None
    }
    if (bounds.isEmpty) return None
    // every bounded stats column is pushed — conjunction: each can only
    // shrink the file set further
    val merged = bounds.groupBy(_._1).map { case (c, bs) =>
      (c, bs.flatMap(_._2).headOption, bs.flatMap(_._3).headOption)
    }.toSeq
    val pruned = engine.scanWhere(merged, asOfSnapshot = asOf)
      .queryExecution.analyzed
    val byName = pruned.output.map(a => a.name -> a).toMap
    // re-alias to the substituted plan's attribute ids; bail (no rewrite)
    // on any column-set mismatch rather than risk a broken plan
    if (!child.output.forall(o => byName.contains(o.name))) return None
    val proj = child.output.map(o =>
      Alias(byName(o.name), o.name)(exprId = o.exprId))
    Some(Project(proj, pruned))
  }

  /** Smallest string strictly greater than every string with prefix `p`,
    * in unsigned-UTF-8 order — ASCII prefixes only (None otherwise: an
    * upper bound that might sort differently in UTF-8 than UTF-16 could
    * skip a matching file). The last char below 0x7F is incremented and
    * the tail dropped. */
  private def prefixUpper(p: String): Option[Any] = {
    if (!p.forall(c => c >= 0x20 && c < 0x7f)) return None
    val i = p.lastIndexWhere(_ < 0x7e)
    if (i < 0) None
    else Some(p.substring(0, i) + (p.charAt(i) + 1).toChar)
  }
}
