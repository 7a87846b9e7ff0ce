package graft.sql

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

import org.apache.spark.sql.connector.catalog.{Identifier, View, ViewChange, ViewInfo}
import org.apache.spark.sql.types.{DataType, StructType}

/**
 * Persisted SQL views for [[GraftCatalog]] — the engine-side half of the
 * Iceberg-view surface the reference gets from Glue (Athena `CREATE VIEW`
 * over the Iceberg catalog; Iceberg view spec stores versioned view metadata
 * JSON in the warehouse). A view is a directory in the warehouse namespace
 * holding a single `_view.json`:
 *
 * {{{
 * { "formatVersion": 1,
 *   "currentVersionId": 2,
 *   "properties": {"comment": "..."},
 *   "versions": [ {"versionId": 1, "sql": "SELECT ...",
 *                  "currentCatalog": "graft", "currentNamespace": ["db"],
 *                  "schema": <StructType.json>,
 *                  "queryColumnNames": [...], "columnAliases": [...],
 *                  "columnComments": [...]} , ... ] }
 * }}}
 *
 * Iceberg-parity choices: REPLACE/ALTER ... AS appends a new version (the
 * definition history is retained, like Iceberg's view versions); property
 * changes rewrite properties only. The stored `currentCatalog` and
 * `currentNamespace` pin the name-resolution context of the defining
 * session, so unqualified table names in the view SQL keep meaning the same
 * tables when the view is read under a different current catalog/namespace
 * (see [[GraftViewRead.qualify]]).
 *
 * COMMIT PROTOCOL (r18 review #1 — the object-store posture the TABLE layer
 * already has): view metadata is a chain of immutable versioned whole-files
 * (`_view/v<N>.json`) committed through [[graft.table.CommitIO]], and the
 * `putIfAbsent` CLAIM IS THE COMMIT — the [[CatalogLinks]] idiom. The live
 * metadata = the MAX `v<K>` present (claims only ever target live+1, so
 * the top of the chain can never gap; a keep-last-N sweep retires old
 * versions prefix-only); there is NO mutable pointer and NO rename
 * anywhere in the path, so the store needs only conditional PUT + GET +
 * LIST. Consequences, all by construction:
 *
 *  - concurrent DDLs (REPLACE racing SET TBLPROPERTIES, two CREATEs)
 *    serialize through the conditional PUT — the loser re-reads the fresh
 *    state and re-decides, CROSS-PROCESS (the pre-r19 byte-compare CAS was
 *    guarded by a JVM-local lock with a documented cross-process window);
 *  - a crash lands BEFORE the claim (nothing happened) or AFTER it (the
 *    DDL is fully applied); no torn or half state exists to heal;
 *  - readers route through the same io, so a store-backed deployment
 *    observes its own commits.
 *
 * Pre-r19 warehouses hold a single `_view.json` (tmp+ATOMIC_MOVE format):
 * reads fall back to it when no chain exists, and the FIRST chain commit
 * supersedes it (the legacy file is then retired best-effort — readers
 * prefer the chain regardless, so a crash between the two is inert).
 */
object GraftViewStore {

  private val mapper = new ObjectMapper()

  /** LEGACY (pre-r19) single-file metadata — read fallback only. */
  val FileName = "_view.json"
  /** The versioned metadata chain: `_view/v<N>.json`, claim-is-commit. */
  private val ChainDir = "_view"
  /** Keep-last-N for the chain — see the [[CatalogLinks]] GC contract. */
  private val KeepVersions = 8L

  private def legacyPath(root: String): Path = Paths.get(root, FileName)
  private def chainPath(root: String, v: Long): Path =
    Paths.get(root, ChainDir, s"v$v.json")

  /** Live chain version = the MAX version present (one prefix list — the
    * [[CatalogLinks]] liveness rule: claims only ever target live+1, so
    * the top of the chain can never gap, and the keep-last-N sweep only
    * ever removes a prefix); 0 = no chain (legacy file or nothing). */
  private def chainVersion(root: String, io: graft.table.CommitIO): Long =
    io.versions(Paths.get(root, ChainDir)).lastOption.getOrElse(0L)

  def exists(root: String, io: graft.table.CommitIO): Boolean =
    chainVersion(root, io) > 0 || io.exists(legacyPath(root))

  /** Current metadata bytes if ANY are stored at `root` — one chain list
    * plus one read (None for a non-view root at the same probe cost as
    * [[exists]]). The hot-read-path primitive: [[GraftViewRule]] probes
    * every unresolved relation, so the absent case must stay cheap. */
  private[sql] def currentBytes(root: String,
      io: graft.table.CommitIO): Option[Array[Byte]] = {
    var attempts = 0
    while (true) {
      val v = chainVersion(root, io)
      try {
        if (v > 0) return Some(io.read(chainPath(root, v)))
        else if (io.exists(legacyPath(root)))
          return Some(io.read(legacyPath(root)))
        else return None
      } catch {
        // raced a sweep or the one-time legacy migration — re-list
        case e: java.nio.file.NoSuchFileException =>
          attempts += 1
          if (attempts > 5) throw e
      }
    }
    None
  }

  /** One stored view definition version. */
  final case class VersionMeta(
      versionId: Int,
      sql: String,
      currentCatalog: String,
      currentNamespace: Seq[String],
      schema: StructType,
      queryColumnNames: Seq[String],
      columnAliases: Seq[String],
      columnComments: Seq[Option[String]])

  final case class ViewMeta(
      currentVersionId: Int,
      versions: Seq[VersionMeta],
      properties: Map[String, String],
      /** Materialized view: reads route to the storage table at
        * `<viewRoot>/_storage` instead of expanding the SQL. */
      materialized: Boolean = false,
      /** MV bookkeeping: engine-source table root → snapshot version the
        * current materialization was computed from (staleness detection). */
      sourceVersions: Map[String, Long] = Map.empty,
      /** MV reads non-engine sources (external parquet, temp data): version
        * bookkeeping can't prove freshness, refresh always recomputes. */
      externalSources: Boolean = false) {
    def current: VersionMeta = versions.find(_.versionId == currentVersionId).getOrElse(
      throw new IllegalStateException(
        s"view metadata corrupt: currentVersionId=$currentVersionId not in " +
          s"versions ${versions.map(_.versionId).mkString("[", ",", "]")}"))
  }

  def load(root: String, io: graft.table.CommitIO): ViewMeta =
    parse(rawBytes(root, io))

  /** Current metadata bytes — the chain head when one exists, else the
    * legacy file (content digests derived from these stay valid cache keys:
    * every commit lands a new immutable file). Retries the rare race where
    * the listed head was retired by a much-later commit's keep-last sweep. */
  private[sql] def rawBytes(root: String, io: graft.table.CommitIO): Array[Byte] = {
    var attempts = 0
    while (true) {
      val v = chainVersion(root, io)
      try return if (v > 0) io.read(chainPath(root, v)) else io.read(legacyPath(root))
      catch {
        case e: java.nio.file.NoSuchFileException =>
          // either the chain head was retired by a much-later commit's
          // sweep, or the LEGACY file was retired by the first chain
          // commit (the one-time migration race) — re-list and re-decide;
          // a genuinely absent view exhausts the retries and rethrows
          attempts += 1
          if (attempts > 5) throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private[sql] def parse(bytes: Array[Byte]): ViewMeta = {
    val node = mapper.readTree(bytes)
    val versions = node.get("versions").elements().asScala.map { v =>
      VersionMeta(
        versionId = v.get("versionId").asInt(),
        sql = v.get("sql").asText(),
        currentCatalog = v.get("currentCatalog").asText(),
        currentNamespace = v.get("currentNamespace").elements().asScala.map(_.asText()).toSeq,
        schema = DataType.fromJson(v.get("schema").asText()).asInstanceOf[StructType],
        queryColumnNames = v.get("queryColumnNames").elements().asScala.map(_.asText()).toSeq,
        columnAliases = v.get("columnAliases").elements().asScala.map(_.asText()).toSeq,
        columnComments = v.get("columnComments").elements().asScala
          .map(c => if (c.isNull) None else Some(c.asText())).toSeq)
    }.toSeq
    val props = Option(node.get("properties")).map { p =>
      p.fields().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
    }.getOrElse(Map.empty[String, String])
    val sourceVersions = Option(node.get("sourceVersions")).map { p =>
      p.fields().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap
    }.getOrElse(Map.empty[String, Long])
    ViewMeta(node.get("currentVersionId").asInt(), versions, props,
      materialized = Option(node.get("materialized")).exists(_.asBoolean()),
      sourceVersions = sourceVersions,
      externalSources = Option(node.get("externalSources")).exists(_.asBoolean()))
  }

  /**
   * Serialized read-modify-write of the view metadata — the view-metadata
   * analogue of the table layer's `retryingCommit`, now claim-is-commit:
   * `f` sees the CURRENT meta (None if absent) and returns the replacement,
   * which is committed by one conditional PUT of the next chain version. A
   * losing writer's claim conflicts; it re-reads the fresh state, re-decides
   * and retries — two concurrent DDLs (e.g. SET TBLPROPERTIES racing
   * REPLACE VIEW) therefore serialize CROSS-PROCESS instead of silently
   * losing one writer's update. Exceptions thrown by `f` (existence guards
   * etc.) propagate unchanged.
   */
  def mutate(root: String, io: graft.table.CommitIO, maxAttempts: Int = 20)(
      f: Option[ViewMeta] => ViewMeta): ViewMeta = {
    var attempt = 0
    while (attempt < maxAttempts) {
      val v = chainVersion(root, io)
      val legacy = v == 0 && io.exists(legacyPath(root))
      val prior: Option[Option[ViewMeta]] =
        try Some(
          if (v > 0) Some(parse(io.read(chainPath(root, v))))
          else if (legacy) Some(parse(io.read(legacyPath(root))))
          else None)
        catch {
          // the legacy file was retired (or the observed head expired)
          // between the probe and the read — a racing writer moved the
          // state; loop and re-observe
          case _: java.nio.file.NoSuchFileException => None
        }
      prior match {
        case None => attempt += 1
        case Some(cur) =>
          val next = f(cur)
          try {
            io.putIfAbsent(chainPath(root, v + 1), serialize(next))
            // the chain supersedes the legacy file from its first commit on;
            // retirement is best-effort (readers prefer the chain regardless,
            // so a crash here leaves an inert file the next commit retires)
            if (legacy)
              try io.delete(legacyPath(root))
              catch { case scala.util.control.NonFatal(_) => () }
            // keep-last-N sweep (the CatalogLinks GC contract): prefix-only
            // deletes keep the max-version liveness rule intact, and an MV
            // refresh cadence cannot grow the chain without bound
            io.versions(Paths.get(root, ChainDir)).filter(_ <= v + 1 - KeepVersions)
              .foreach { old =>
                try io.delete(chainPath(root, old))
                catch { case scala.util.control.NonFatal(_) => () }
              }
            return next
          } catch {
            case _: java.nio.file.FileAlreadyExistsException => attempt += 1
          }
      }
    }
    throw new java.util.ConcurrentModificationException(
      s"view metadata at $root kept changing across $maxAttempts commit attempts")
  }

  /** Commit `meta` as the next chain version regardless of prior content
    * (create paths — the caller has already run its existence guards). */
  def write(root: String, meta: ViewMeta, io: graft.table.CommitIO): Unit = {
    mutate(root, io)(_ => meta); ()
  }

  private def serialize(meta: ViewMeta): Array[Byte] = {
    val node = mapper.createObjectNode()
    node.put("formatVersion", 1)
    node.put("currentVersionId", meta.currentVersionId)
    if (meta.materialized) {
      node.put("materialized", true)
      node.put("externalSources", meta.externalSources)
      val sv = node.putObject("sourceVersions")
      meta.sourceVersions.foreach { case (k, v) => sv.put(k, v) }
    }
    val props = node.putObject("properties")
    meta.properties.foreach { case (k, v) => props.put(k, v) }
    val arr = node.putArray("versions")
    meta.versions.foreach { v => writeVersion(arr, v) }
    mapper.writeValueAsBytes(node)
  }

  private def writeVersion(arr: ArrayNode, v: VersionMeta): Unit = {
    val n = arr.addObject()
    n.put("versionId", v.versionId)
    n.put("sql", v.sql)
    n.put("currentCatalog", v.currentCatalog)
    val ns = n.putArray("currentNamespace"); v.currentNamespace.foreach(ns.add)
    n.put("schema", v.schema.json)
    val q = n.putArray("queryColumnNames"); v.queryColumnNames.foreach(q.add)
    val a = n.putArray("columnAliases"); v.columnAliases.foreach(a.add)
    val c = n.putArray("columnComments")
    v.columnComments.foreach { case Some(s) => c.add(s); case None => c.addNull() }
    ()
  }

  /** Append a new definition version (create starts at 1). */
  def metaForDefinition(prior: Option[ViewMeta], v: VersionMeta,
      properties: Map[String, String]): ViewMeta = prior match {
    case None => ViewMeta(1, Seq(v.copy(versionId = 1)), properties)
    case Some(m) if m.materialized =>
      // A plain-view definition rewrite over a materialized view would
      // silently drop the MV flags: reads would re-expand the SQL while the
      // _storage table is orphaned forever (drop() only deletes storage when
      // the loaded meta says materialized) and refresh_mv/mv_status would
      // start failing. Refuse instead of corrupting.
      throw new UnsupportedOperationException(
        "cannot REPLACE or ALTER ... AS a MATERIALIZED VIEW; use " +
          "CALL system.refresh_mv to refresh it, or DROP VIEW then " +
          "CREATE MATERIALIZED VIEW to change its definition")
    case Some(m) =>
      val next = m.versions.map(_.versionId).max + 1
      // REPLACE semantics for properties: the new statement's properties win
      // wholesale (Iceberg REPLACE VIEW resets properties).
      ViewMeta(next, m.versions :+ v.copy(versionId = next), properties)
  }

  /** Storage-table root of a materialized view (nested inside the view dir,
    * so it is never enumerated by listTables). */
  def storageRoot(root: String): String = s"$root/_storage"

  def drop(root: String, io: graft.table.CommitIO): Boolean = {
    if (!exists(root, io)) false
    else {
      val materialized = load(root, io).materialized
      // retire the chain HEAD-DOWN: a crash mid-way leaves a lower prefix —
      // the view still exists (stale but whole) and the drop is
      // re-runnable. The other order would leave orphaned high versions a
      // later CREATE's fresh v1 would hide behind.
      io.versions(Paths.get(root, ChainDir)).reverse
        .foreach(v => io.delete(chainPath(root, v)))
      try io.delete(legacyPath(root))
      catch { case scala.util.control.NonFatal(_) => () }
      if (materialized) {
        // a materialized view owns its storage table: delete it with the view
        val storage = Paths.get(storageRoot(root))
        if (Files.exists(storage)) graft.util.Fs.deleteRecursively(storage)
      }
      // remove the now-empty chain + view dirs (ignore failure: files
      // written by others are left alone)
      try {
        Files.deleteIfExists(Paths.get(root, ChainDir))
        Files.deleteIfExists(Paths.get(root))
      } catch { case _: Exception => () }
      true
    }
  }

  /** POSIX whole-directory move — the `renameMode=move` fast path ONLY.
    * Object-store deployments rename views via catalog metadata
    * ([[CatalogLinks]], `renameMode=metadata`) and never call this. */
  def rename(oldRoot: String, newRoot: String): Unit = {
    val to = Paths.get(newRoot)
    Files.createDirectories(to.getParent)
    Files.move(Paths.get(oldRoot), to, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Materialize the connector [[View]] for an identifier rooted at `root`. */
  def connectorView(ident: Identifier, root: String,
      io: graft.table.CommitIO): View = {
    val meta = load(root, io)
    val cur = meta.current
    new View {
      override def name(): String = (ident.namespace() :+ ident.name()).mkString(".")
      override def query(): String = cur.sql
      override def currentCatalog(): String = cur.currentCatalog
      override def currentNamespace(): Array[String] = cur.currentNamespace.toArray
      override def schema(): StructType = cur.schema
      override def queryColumnNames(): Array[String] = cur.queryColumnNames.toArray
      override def columnAliases(): Array[String] = cur.columnAliases.toArray
      override def columnComments(): Array[String] =
        cur.columnComments.map(_.orNull).toArray
      override def properties(): java.util.Map[String, String] = meta.properties.asJava
    }
  }

  /** VersionMeta from Spark's catalog-API [[ViewInfo]] (createView path). */
  def versionFromInfo(info: ViewInfo): VersionMeta = {
    val n = info.schema().fields.length
    VersionMeta(
      versionId = 1,
      sql = info.sql(),
      currentCatalog = info.currentCatalog(),
      currentNamespace = info.currentNamespace().toSeq,
      schema = info.schema(),
      queryColumnNames =
        if (info.queryColumnNames() == null || info.queryColumnNames().isEmpty)
          info.schema().fieldNames.toSeq
        else info.queryColumnNames().toSeq,
      columnAliases =
        if (info.columnAliases() == null || info.columnAliases().isEmpty)
          info.schema().fieldNames.toSeq
        else info.columnAliases().toSeq,
      columnComments =
        if (info.columnComments() == null || info.columnComments().isEmpty)
          Seq.fill(n)(None)
        else info.columnComments().toSeq.map(Option(_)))
  }
}

// ---------------------------------------------------------------------------
// SQL surface. Spark 4.1 ships the DSv2 ViewCatalog API but no analyzer or
// exec support: ResolveSessionCatalog unconditionally rejects view DDL on a
// non-session catalog ("MISSING_CATALOG_ABILITY.VIEWS") BEFORE any injected
// resolution rule can run. So — exactly like Iceberg's Spark extensions — the
// DDL is intercepted one stage earlier, at the PARSER: GraftSqlParser
// delegates everything to Spark's parser, then rewrites top-level view DDL
// whose identifier lands in a GraftCatalog into engine command nodes (the
// rewrite is pure pattern-matching on the parsed plan; session-catalog DDL
// passes through untouched). Reads need no parser help: an unresolved
// relation naming a stored view is expanded by GraftViewRule inside the
// analyzer's resolution fixed-point.
// ---------------------------------------------------------------------------

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedIdentifier, UnresolvedNamespace, UnresolvedRelation, UnresolvedSubqueryColumnAliases, UnresolvedTableOrView, UnresolvedView}
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.parser.{ParseException, ParserInterface}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.StructType

/** Name-resolution shared by the parser rewrite and the read rule. */
object GraftViewResolution {

  /** Resolve multipart name `parts` to (catalogName, catalog, namespace,
    * name) when it lands in a GraftCatalog; None → not ours, leave native.
    * Mirrors Spark's own lookup order: explicit catalog prefix first, then
    * the current catalog + current namespace for short names. */
  def target(spark: SparkSession, parts: Seq[String])
      : Option[(String, GraftCatalog, Seq[String], String)] = {
    val cm = spark.sessionState.catalogManager
    if (parts.isEmpty) None
    else if (parts.length >= 2 && cm.isCatalogRegistered(parts.head)) {
      cm.catalog(parts.head) match {
        case g: GraftCatalog => Some((parts.head, g, parts.tail.init, parts.last))
        case _ => None
      }
    } else if (parts.head.equalsIgnoreCase("global_temp")) None
    else cm.currentCatalog match {
      case g: GraftCatalog =>
        // temp views shadow catalog objects for single-part names
        val isTemp = parts.length == 1 &&
          spark.sessionState.catalog.getRawTempView(parts.head).isDefined
        if (isTemp) None
        else {
          val ns = if (parts.length >= 2) parts.init else cm.currentNamespace.toSeq
          Some((cm.currentCatalog.name, g, ns, parts.last))
        }
      case _ => None
    }
  }

  def viewRoot(g: GraftCatalog, ns: Seq[String], name: String): String =
    g.tableRoot(org.apache.spark.sql.connector.catalog.Identifier.of(ns.toArray, name))

  /** Tombstone-aware "is there a stored view here" — the read/routing
    * probe. `viewRoot` alone maps a TOMBSTONED (metadata-renamed-away)
    * name to its own directory, which still physically holds the renamed
    * view's store: a raw exists probe there would resurrect the old name. */
  def viewVisible(g: GraftCatalog, ns: Seq[String], name: String): Boolean =
    g.viewExists(org.apache.spark.sql.connector.catalog.Identifier.of(ns.toArray, name))

  /** Engine sources of an ANALYZED plan: graft table root → the snapshot
    * version the relation was pinned at, plus whether any non-engine leaf
    * source exists (external parquet, local data, MOR-rewritten scans) —
    * those make MV staleness unprovable, so refresh always recomputes. */
  private[sql] def engineSources(plan: LogicalPlan): (Map[String, Long], Boolean) = {
    val roots = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    var external = false
    def record(table: org.apache.spark.sql.connector.catalog.Table): Unit = table match {
      case g: GraftSqlTable =>
        if (!roots.contains(g.root)) roots(g.root) = g.loadedVersion
      case _ => external = true
    }
    def visit(p: LogicalPlan): Unit = p.foreach { n =>
      n match {
        // pre-optimizer form (fresh analysis) and post-pushdown form (a plan
        // taken from an executing command, where V2ScanRelationPushDown
        // already ran) both appear depending on the call site
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
          record(r.table)
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          record(r.relation.table)
        case _: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          external = true
        case _ => ()
      }
      n.expressions.foreach(_.foreach {
        case s: org.apache.spark.sql.catalyst.expressions.SubqueryExpression =>
          visit(s.plan)
        case _ => ()
      })
    }
    visit(plan)
    (roots.toMap, external)
  }

  /** Analyzed-definition cache: (view root → (definition md5, meta, the
    * parsed + qualified + CTE-substituted body)). The resolution fixed-point
    * re-enters [[expand]] on every read of a view-heavy plan; re-reading the
    * small `_view.json` validates freshness (content hash — a REPLACE/ALTER
    * changes it), while the expensive SQL parse + name qualification is
    * reused. Entries hand out deep CLONES so the cached tree is never
    * mutated by analyzer tags. Caveat (documented): qualification consults
    * the global data-source registry and catalog registrations; a catalog
    * registered after caching that shadows a multi-part prefix inside the
    * body is only observed once the definition changes — the same staleness
    * window Iceberg's view cache accepts. */
  private val planCache =
    new java.util.LinkedHashMap[String, (String, GraftViewStore.ViewMeta, LogicalPlan)](
      16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, (String, GraftViewStore.ViewMeta, LogicalPlan)])
          : Boolean = size > 64
    }

  /** Test-observable: number of cache-miss definition builds (SQL parse +
    * qualify). */
  val planBuilds = new java.util.concurrent.atomic.AtomicLong()

  /** Expand a stored view into its (recursively expanded) parsed plan:
    * parse the stored SQL, qualify unqualified table names against the
    * DEFINING session's catalog/namespace, expand nested graft views with
    * cycle detection, re-apply the declared column aliases, and wrap in a
    * SubqueryAlias carrying the view's full name (so `v.col` qualifies). */
  def expand(spark: SparkSession, parts: Seq[String], seen: Set[String])
      : Option[LogicalPlan] =
    target(spark, parts).flatMap { case (catName, g, ns, name) =>
      // ONE links resolution + ONE chain probe for the whole read (r19
      // review pass 1 — visible/root/bytes previously each re-resolved;
      // this rule probes EVERY unresolved relation in the analyzer, so
      // the per-read store round-trips matter)
      val resolved = g.visibleViewRoot(
          org.apache.spark.sql.connector.catalog.Identifier.of(ns.toArray, name))
        .flatMap(root =>
          GraftViewStore.currentBytes(root, g.linksIo).map(b => (root, b)))
      resolved.flatMap { case (root, bytes) =>
        val fullName = (catName +: ns :+ name).mkString(".")
        if (seen.contains(fullName.toLowerCase(java.util.Locale.ROOT)))
          throw new org.apache.spark.sql.AnalysisException(
            errorClass = "RECURSIVE_VIEW",
            messageParameters = Map("viewIdent" -> fullName,
              "newPath" -> (seen.mkString(" -> ") + s" -> $fullName")))
        val digest = java.security.MessageDigest.getInstance("MD5").digest(bytes)
          .map("%02x".format(_)).mkString
        val cached = planCache.synchronized {
          Option(planCache.get(root)).filter(_._1 == digest)
        }
        val meta = cached.map(_._2).getOrElse(GraftViewStore.parse(bytes))
        if (meta.materialized) {
          // MV reads hit the storage table, not the definition: the engine's
          // own scan (stats, MOR handling, pruning) wrapped under the view's
          // name. Resolved subtree → later analyzer iterations leave it alone.
          val storage = graft.table.TransactionalTable.open(
            spark, GraftViewStore.storageRoot(root))
          Some(SubqueryAlias(catName +: ns :+ name,
            storage.scan().queryExecution.analyzed))
        } else {
          val cur = meta.current
          val qualified = cached.map(_._3.clone().asInstanceOf[LogicalPlan]).getOrElse {
            planBuilds.incrementAndGet()
            val parsed = spark.sessionState.sqlParser.parsePlan(cur.sql)
            val scoped = qualifyNames(spark, parsed, cur.currentCatalog, cur.currentNamespace)
            // The analyzer's Substitution batch ran BEFORE this rule (it is a
            // Resolution-batch rule), so a body injected here would keep its
            // raw UnresolvedWith forever — apply CTE substitution explicitly
            // (the remaining pieces, CTE-ref/ordinal/window resolution, live
            // in the Resolution batch and hit the plan on later iterations).
            val q = org.apache.spark.sql.catalyst.analysis.CTESubstitution(scoped)
            planCache.synchronized { planCache.put(root, (digest, meta, q)); () }
            // hand out a clone too: the pristine original stays in the cache
            q.clone().asInstanceOf[LogicalPlan]
          }
          val nextSeen = seen + fullName.toLowerCase(java.util.Locale.ROOT)
          val expanded = qualified.transformDownWithSubqueries {
            case u @ UnresolvedRelation(p2, _, false) =>
              expand(spark, p2, nextSeen).getOrElse(u)
          }
          val aliased =
            if (cur.columnAliases.nonEmpty) UnresolvedSubqueryColumnAliases(cur.columnAliases, expanded)
            else expanded
          Some(SubqueryAlias(catName +: ns :+ name, aliased))
        }
      }
    }

  /** Qualify unqualified table references in a view body against the context
    * the view was DEFINED under (stored currentCatalog/currentNamespace), so
    * the body keeps meaning the same tables regardless of the reading
    * session's current catalog. CTE names shadow LEXICALLY: a name is only
    * skipped where its CTE is in scope — inside the CTE's own body (absent
    * WITH RECURSIVE) the same name still means the base table, and each CTE
    * definition sees only the CTEs declared before it. */
  private[sql] def qualifyNames(spark: SparkSession, plan: LogicalPlan,
      cat: String, ns: Seq[String]): LogicalPlan = {
    val cm = spark.sessionState.catalogManager
    def lc(s: String) = s.toLowerCase(java.util.Locale.ROOT)
    def walk(p: LogicalPlan, scope: Set[String]): LogicalPlan = p match {
      case w: UnresolvedWith =>
        var seen = scope
        val rels = w.cteRelations.map { case (name, sub, opt) =>
          val bodyScope = if (w.allowRecursion) seen + lc(name) else seen
          val q = walk(sub, bodyScope).asInstanceOf[SubqueryAlias]
          seen = seen + lc(name)
          (name, q, opt)
        }
        w.copy(child = walk(w.child, seen), cteRelations = rels)
      case u @ UnresolvedRelation(Seq(one), _, false) if !scope.contains(lc(one)) =>
        u.copy(multipartIdentifier = (cat +: ns) :+ one)
      case u @ UnresolvedRelation(parts, _, false)
          if parts.length > 1 && !parts.head.equalsIgnoreCase("global_temp") &&
            !cm.isCatalogRegistered(parts.head) &&
            !(parts.length == 2 && isDataSourceName(parts.head)) =>
        u.copy(multipartIdentifier = cat +: parts)
      case other =>
        other.mapChildren(walk(_, scope)) match {
          case mapped => mapped.transformExpressions {
            case se: org.apache.spark.sql.catalyst.expressions.SubqueryExpression =>
              se.withNewPlan(walk(se.plan, scope))
          }
        }
    }
    walk(plan, Set.empty)
  }

  /** `format.\`path\`` direct-file relations (parquet.\`/data\`, json.\`…\`)
    * must NOT be namespace-qualified — ResolveSQLOnFile claims them as-is. */
  private def isDataSourceName(name: String): Boolean =
    scala.util.Try(org.apache.spark.sql.execution.datasources.DataSource
      .lookupDataSource(name, org.apache.spark.sql.internal.SQLConf.get)).isSuccess
}

/** Read-side analyzer rule: expands unresolved relations that name stored
  * graft views. Runs inside the resolution fixed-point, so the expanded body
  * (plain tables + engine relations) resolves on subsequent iterations. */
class GraftViewRule(spark: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsUp {
    case u @ UnresolvedRelation(parts, _, false) =>
      GraftViewResolution.expand(spark, parts, Set.empty).getOrElse(u)
  }
}

// --------------------------- logical commands ------------------------------

final case class GraftCreateViewCommand(
    catalogName: String, ns: Seq[String], viewName: String,
    userColumns: Seq[(String, Option[String])],
    comment: Option[String], properties: Map[String, String],
    originalText: String, query: LogicalPlan,
    allowExisting: Boolean, replace: Boolean) extends UnaryCommand {
  override def child: LogicalPlan = query
  override protected def withNewChildInternal(newChild: LogicalPlan): GraftCreateViewCommand =
    copy(query = newChild)
}

final case class GraftAlterViewAsCommand(
    catalogName: String, ns: Seq[String], viewName: String,
    originalText: String, query: LogicalPlan) extends UnaryCommand {
  override def child: LogicalPlan = query
  override protected def withNewChildInternal(newChild: LogicalPlan): GraftAlterViewAsCommand =
    copy(query = newChild)
}

final case class GraftDropViewCommand(
    catalogName: String, ns: Seq[String], viewName: String,
    ifExists: Boolean) extends LeafCommand

final case class GraftShowViewsCommand(
    catalogName: String, ns: Seq[String], pattern: Option[String],
    override val output: Seq[Attribute]) extends LeafCommand

final case class GraftSetViewPropsCommand(
    catalogName: String, ns: Seq[String], viewName: String,
    set: Map[String, String], unset: Seq[String]) extends LeafCommand

final case class GraftRenameViewCommand(
    catalogName: String, ns: Seq[String], viewName: String,
    newNs: Seq[String], newName: String) extends LeafCommand

final case class GraftShowCreateViewCommand(
    catalogName: String, ns: Seq[String], viewName: String,
    override val output: Seq[Attribute]) extends LeafCommand

final case class GraftDescribeViewCommand(
    catalogName: String, ns: Seq[String], viewName: String,
    isExtended: Boolean, override val output: Seq[Attribute]) extends LeafCommand

// ------------------------------- parser ------------------------------------

/** Delegating parser that rewrites parsed view DDL targeting a GraftCatalog
  * into the engine's command nodes (see file header for why the parser is
  * the only injection point early enough). */
class GraftSqlParser(spark: SparkSession, delegate: ParserInterface)
    extends ParserInterface {

  override def parsePlan(sqlText: String): LogicalPlan =
    rewrite(delegate.parsePlan(sqlText))

  private def graftTarget(parts: Seq[String]) = GraftViewResolution.target(spark, parts)

  private def partsOf(child: LogicalPlan): Option[Seq[String]] = child match {
    case UnresolvedIdentifier(parts, _) => Some(parts)
    case v: UnresolvedView => Some(v.multipartIdentifier)
    case t: UnresolvedTableOrView => Some(t.multipartIdentifier)
    case _ => None
  }

  /** A persisted definition outlives the session: reject bodies naming
    * session-temporary views (Iceberg parity). Parse-time is the only stage
    * where the raw names are still visible — a Dataset-backed temp view
    * resolves straight to its plan, leaving nothing to detect later. */
  private def rejectTempRefs(viewName: String, query: LogicalPlan): Unit = {
    val cteNames = query.collectWithSubqueries {
      case w: UnresolvedWith => w.cteRelations.map(_._1.toLowerCase(java.util.Locale.ROOT))
    }.flatten.toSet
    val catalog = spark.sessionState.catalog
    val temp = query.collectWithSubqueries {
      case UnresolvedRelation(Seq(one), _, _)
          if !cteNames.contains(one.toLowerCase(java.util.Locale.ROOT)) &&
            catalog.getRawTempView(one).isDefined => one
      case UnresolvedRelation(Seq(db, one), _, _)
          if db.equalsIgnoreCase("global_temp") &&
            catalog.getRawGlobalTempView(one).isDefined => one
    }
    if (temp.nonEmpty)
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "INVALID_TEMP_OBJ_REFERENCE",
        messageParameters = Map(
          "obj" -> "VIEW", "objName" -> viewName,
          "tempObj" -> "VIEW", "tempObjName" -> temp.head))
  }

  private def rewrite(plan: LogicalPlan): LogicalPlan = plan match {
    case c @ CreateView(child, cols, comment, _, props, Some(text), query, allowExisting, replace, _) =>
      partsOf(child).flatMap(graftTarget) match {
        case Some((cat, _, ns, name)) =>
          rejectTempRefs(name, query)
          GraftCreateViewCommand(cat, ns, name, cols, comment, props, text,
            query, allowExisting, replace)
        case None => c
      }
    case a @ AlterViewAs(child, text, query) =>
      partsOf(child).flatMap(graftTarget) match {
        case Some((cat, _, ns, name)) =>
          rejectTempRefs(name, query)
          GraftAlterViewAsCommand(cat, ns, name, text, query)
        case None => a
      }
    case m @ CreateMaterializedViewAsSelect(child, columns, partitioning,
        tableSpec, query, originalText, ifNotExists) =>
      partsOf(child).flatMap(graftTarget) match {
        case Some((cat, _, ns, name)) =>
          rejectTempRefs(name, query)
          val props = tableSpec match {
            case u: UnresolvedTableSpec => u.properties
            // Spark 4.1 parses a property-only spec straight to the
            // RESOLVED TableSpec — dropping it here silently lost
            // TBLPROPERTIES (e.g. the MV's 'pk')
            case t: org.apache.spark.sql.catalyst.plans.logical.TableSpec => t.properties
            case _ => Map.empty[String, String]
          }
          GraftCreateMaterializedViewCommand(cat, ns, name,
            columns.map(_.name), partitioning, props, originalText, query, ifNotExists)
        case None => m
      }
    case d @ DropView(child, ifExists) =>
      partsOf(child).flatMap(graftTarget) match {
        // only claim names that exist as graft views (or targets under a
        // graft catalog): DROP VIEW on a session temp view must stay native
        case Some((cat, g, ns, name)) => GraftDropViewCommand(cat, ns, name, ifExists)
        case None => d
      }
    case s @ SetViewProperties(child, props) =>
      partsOf(child).flatMap(graftTarget) match {
        case Some((cat, _, ns, name)) => GraftSetViewPropsCommand(cat, ns, name, props, Nil)
        case None => s
      }
    case u @ UnsetViewProperties(child, keys, _) =>
      partsOf(child).flatMap(graftTarget) match {
        case Some((cat, _, ns, name)) => GraftSetViewPropsCommand(cat, ns, name, Map.empty, keys)
        case None => u
      }
    case r @ RenameTable(child, newName, true) =>
      partsOf(child).flatMap(graftTarget) match {
        case Some((cat, g, ns, name))
            if GraftViewResolution.viewVisible(g, ns, name) =>
          val (newNs, newLeaf) = graftTarget(newName) match {
            // A 1-part target is namespace-less: keep the SOURCE view's
            // namespace (a same-catalog rename must not silently adopt the
            // session's currentNamespace and move the view across dbs).
            case Some((cat2, _, _, n2)) if cat2 == cat && newName.length == 1 => (ns, n2)
            case Some((cat2, _, ns2, n2)) if cat2 == cat => (ns2, n2)
            case _ =>
              if (newName.length == 1) (ns, newName.head)
              else (newName.init, newName.last)
          }
          GraftRenameViewCommand(cat, ns, name, newNs, newLeaf)
        case _ => r
      }
    // DESCRIBE [EXTENDED] on a graft VIEW: columns from the stored schema
    // (tables keep Spark's native DSv2 path).
    case d @ DescribeRelation(child, _, isExtended, output) =>
      partsOf(child).flatMap(graftTarget) match {
        case Some((cat, g, ns, name))
            if GraftViewResolution.viewVisible(g, ns, name) =>
          GraftDescribeViewCommand(cat, ns, name, isExtended, output)
        case _ => d
      }
    // SHOW CREATE TABLE on a graft VIEW: reconstruct the CREATE statement
    // from the stored current definition (tables keep Spark's native path).
    case sc @ ShowCreateTable(child, _, output) =>
      partsOf(child).flatMap(graftTarget) match {
        case Some((cat, g, ns, name))
            if GraftViewResolution.viewVisible(g, ns, name) =>
          GraftShowCreateViewCommand(cat, ns, name, output)
        case _ => sc
      }
    case sv @ ShowViews(child, pattern, output) =>
      val nsParts = child match {
        case UnresolvedNamespace(parts, _) => Some(parts)
        case _ => None
      }
      nsParts match {
        case Some(parts) =>
          val cm = spark.sessionState.catalogManager
          val resolved: Option[(String, Seq[String])] =
            if (parts.nonEmpty && cm.isCatalogRegistered(parts.head)) {
              cm.catalog(parts.head) match {
                case _: GraftCatalog => Some((parts.head, parts.tail))
                case _ => None
              }
            } else if (parts.isEmpty) {
              cm.currentCatalog match {
                case _: GraftCatalog =>
                  Some((cm.currentCatalog.name, cm.currentNamespace.toSeq))
                case _ => None
              }
            } else cm.currentCatalog match {
              case _: GraftCatalog => Some((cm.currentCatalog.name, parts))
              case _ => None
            }
          resolved match {
            case Some((cat, ns)) => GraftShowViewsCommand(cat, ns, pattern, output)
            case None => sv
          }
        case None => sv
      }
    case other => other
  }

  override def parseExpression(sqlText: String): Expression = delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String): StructType = delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): org.apache.spark.sql.types.DataType =
    delegate.parseDataType(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan = delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType = delegate.parseRoutineParam(sqlText)
}

// ------------------------------ exec nodes ---------------------------------

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{ViewCatalog => V2ViewCatalog}
import org.apache.spark.sql.execution.LeafExecNode
import org.apache.spark.unsafe.types.UTF8String

private object GraftViewExec {
  def catalogOf(session: SparkSession, name: String): GraftCatalog =
    session.sessionState.catalogManager.catalog(name) match {
      case g: GraftCatalog => g
      case other => throw new IllegalStateException(
        s"catalog $name is not a GraftCatalog (got ${other.getClass.getName})")
    }

  def ident(ns: Seq[String], name: String): Identifier =
    Identifier.of(ns.toArray, name)

  /** Reject view bodies that capture session-temporary state (Iceberg does
    * the same): a persisted definition outlives the session, so a body
    * pinned to a temp view would silently change meaning or break. */
  def rejectTempRefs(viewName: String, analyzed: LogicalPlan): Unit = {
    val tmp = analyzed.collectWithSubqueries {
      case v: org.apache.spark.sql.catalyst.plans.logical.View if v.isTempView =>
        v.desc.identifier.table
    }
    if (tmp.nonEmpty)
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "INVALID_TEMP_OBJ_REFERENCE",
        messageParameters = Map(
          "obj" -> "VIEW", "objName" -> viewName,
          "tempObj" -> "VIEW", "tempObjName" -> tmp.head))
  }
}

final case class GraftCreateViewExec(cmd: GraftCreateViewCommand) extends LeafExecNode {
  override def output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] = Nil
  override def executeCollect(): Array[InternalRow] = { run; Array.empty }
  private lazy val run: Unit = {
    val cat = GraftViewExec.catalogOf(session, cmd.catalogName)
    val id = GraftViewExec.ident(cmd.ns, cmd.viewName)
    val exists = cat.viewExists(id)
    if (exists && cmd.allowExisting && !cmd.replace) ()   // CREATE VIEW IF NOT EXISTS
    else {
      val df = org.apache.spark.sql.graftshim.GraftShims.ofRows(session, cmd.query)
      GraftViewExec.rejectTempRefs(cmd.viewName, df.queryExecution.analyzed)
      val schema = df.schema
      if (cmd.userColumns.nonEmpty && cmd.userColumns.length != schema.fields.length)
        throw new IllegalArgumentException(
          s"CREATE VIEW ${cmd.viewName}: declared ${cmd.userColumns.length} columns " +
            s"but the query produces ${schema.fields.length}")
      val aliases =
        if (cmd.userColumns.nonEmpty) cmd.userColumns.map(_._1)
        else schema.fieldNames.toSeq
      val comments =
        if (cmd.userColumns.nonEmpty) cmd.userColumns.map(_._2)
        else Seq.fill(schema.fields.length)(None: Option[String])
      val cm = session.sessionState.catalogManager
      val props = cmd.properties ++
        cmd.comment.map(c => V2ViewCatalog.PROP_COMMENT -> c)
      val version = GraftViewStore.VersionMeta(
        versionId = 1,
        sql = cmd.originalText,
        currentCatalog = cm.currentCatalog.name,
        currentNamespace = cm.currentNamespace.toSeq,
        schema = schema,
        queryColumnNames = schema.fieldNames.toSeq,
        columnAliases = aliases,
        columnComments = comments)
      val root = cat.viewCreateRoot(id)
      if (cat.tableExists(id))
        throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(id)
      if (exists && !cmd.replace)
        throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(id)
      GraftViewStore.mutate(root, cat.linksIo) { prior =>
        if (prior.isDefined && !cmd.replace)
          throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(id)
        GraftViewStore.metaForDefinition(prior, version, props)
      }
    }
  }
  override protected def doExecute(): RDD[InternalRow] = { run; sparkContext.emptyRDD }
}

final case class GraftAlterViewAsExec(cmd: GraftAlterViewAsCommand) extends LeafExecNode {
  override def output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] = Nil
  override def executeCollect(): Array[InternalRow] = { run; Array.empty }
  private lazy val run: Unit = {
    val cat = GraftViewExec.catalogOf(session, cmd.catalogName)
    val id = GraftViewExec.ident(cmd.ns, cmd.viewName)
    // tombstone-aware existence (r19 review pass 1): a raw store probe at
    // tableRoot would resurrect a metadata-renamed-away name and rewrite
    // the renamed view's definition through it
    if (!cat.viewExists(id))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(id)
    val root = cat.tableRoot(id)
    val df = org.apache.spark.sql.graftshim.GraftShims.ofRows(session, cmd.query)
    GraftViewExec.rejectTempRefs(cmd.viewName, df.queryExecution.analyzed)
    val cm = session.sessionState.catalogManager
    val version = GraftViewStore.VersionMeta(
      versionId = 1,
      sql = cmd.originalText,
      currentCatalog = cm.currentCatalog.name,
      currentNamespace = cm.currentNamespace.toSeq,
      schema = df.schema,
      queryColumnNames = df.schema.fieldNames.toSeq,
      columnAliases = df.schema.fieldNames.toSeq,
      columnComments = Seq.fill(df.schema.fields.length)(None))
    // ALTER ... AS keeps properties (only the definition changes)
    GraftViewStore.mutate(root, cat.linksIo) {
      case None =>
        throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(id)
      case Some(cur) => GraftViewStore.metaForDefinition(Some(cur), version, cur.properties)
    }
  }
  override protected def doExecute(): RDD[InternalRow] = { run; sparkContext.emptyRDD }
}

final case class GraftDropViewExec(cmd: GraftDropViewCommand) extends LeafExecNode {
  override def output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] = Nil
  override def executeCollect(): Array[InternalRow] = { run; Array.empty }
  private lazy val run: Unit = {
    val cat = GraftViewExec.catalogOf(session, cmd.catalogName)
    val id = GraftViewExec.ident(cmd.ns, cmd.viewName)
    if (!cat.dropView(id) && !cmd.ifExists)
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(id)
  }
  override protected def doExecute(): RDD[InternalRow] = { run; sparkContext.emptyRDD }
}

final case class GraftShowViewsExec(cmd: GraftShowViewsCommand) extends LeafExecNode {
  override def output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] = cmd.output
  override def executeCollect(): Array[InternalRow] = rows.toArray
  private lazy val rows: Seq[InternalRow] = {
    val cat = GraftViewExec.catalogOf(session, cmd.catalogName)
    val names = cat.listViews(cmd.ns: _*).map(_.name()).toSeq.sorted
    val filtered = cmd.pattern match {
      case Some(p) => org.apache.spark.sql.catalyst.util.StringUtils.filterPattern(names, p)
      case None => names
    }
    filtered.map { n =>
      InternalRow(UTF8String.fromString(cmd.ns.mkString(".")), UTF8String.fromString(n), false)
    }
  }
  override protected def doExecute(): RDD[InternalRow] = sparkContext.parallelize(rows, 1)
}

final case class GraftSetViewPropsExec(cmd: GraftSetViewPropsCommand) extends LeafExecNode {
  override def output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] = Nil
  override def executeCollect(): Array[InternalRow] = { run; Array.empty }
  private lazy val run: Unit = {
    val cat = GraftViewExec.catalogOf(session, cmd.catalogName)
    val id = GraftViewExec.ident(cmd.ns, cmd.viewName)
    val changes: Seq[ViewChange] =
      cmd.set.toSeq.map { case (k, v) => ViewChange.setProperty(k, v) } ++
        cmd.unset.map(ViewChange.removeProperty)
    cat.alterView(id, changes: _*)
  }
  override protected def doExecute(): RDD[InternalRow] = { run; sparkContext.emptyRDD }
}

final case class GraftShowCreateViewExec(cmd: GraftShowCreateViewCommand) extends LeafExecNode {
  override def output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] = cmd.output
  override def executeCollect(): Array[InternalRow] = Array(InternalRow(UTF8String.fromString(stmt)))
  private lazy val stmt: String = {
    val cat = GraftViewExec.catalogOf(session, cmd.catalogName)
    val root = cat.tableRoot(GraftViewExec.ident(cmd.ns, cmd.viewName))
    val meta = GraftViewStore.load(root, cat.linksIo)
    val cur = meta.current
    val full = (cmd.catalogName +: cmd.ns :+ cmd.viewName).mkString(".")
    val kind = if (meta.materialized) "MATERIALIZED VIEW" else "VIEW"
    val cols =
      if (cur.columnAliases == cur.queryColumnNames) ""
      else cur.columnAliases.mkString(" (", ", ", ")")
    val props =
      if (meta.properties.isEmpty) ""
      else meta.properties.toSeq.sorted
        .map { case (k, v) => s"'$k' = '$v'" }
        .mkString("\nTBLPROPERTIES (\n  ", ",\n  ", ")")
    s"CREATE $kind $full$cols$props\nAS ${cur.sql}\n"
  }
  override protected def doExecute(): RDD[InternalRow] =
    sparkContext.parallelize(executeCollect().toSeq, 1)
}

final case class GraftDescribeViewExec(cmd: GraftDescribeViewCommand) extends LeafExecNode {
  override def output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] = cmd.output
  override def executeCollect(): Array[InternalRow] = rows.toArray
  private lazy val rows: Seq[InternalRow] = {
    def r(a: String, b: String, c: String) = InternalRow(
      UTF8String.fromString(a), UTF8String.fromString(b),
      if (c == null) null else UTF8String.fromString(c))
    val cat = GraftViewExec.catalogOf(session, cmd.catalogName)
    val root = cat.tableRoot(GraftViewExec.ident(cmd.ns, cmd.viewName))
    val meta = GraftViewStore.load(root, cat.linksIo)
    val cur = meta.current
    val cols = cur.schema.fields.zipWithIndex.map { case (f, i) =>
      r(cur.columnAliases.lift(i).getOrElse(f.name), f.dataType.simpleString,
        cur.columnComments.lift(i).flatten.orNull)
    }.toSeq
    if (!cmd.isExtended) cols
    else cols ++ Seq(
      r("", "", ""),
      r("# Detailed View Information", "", ""),
      r("Name", (cmd.catalogName +: cmd.ns :+ cmd.viewName).mkString("."), ""),
      r("Type", if (meta.materialized) "MATERIALIZED VIEW" else "VIEW", ""),
      r("View Text", cur.sql, ""),
      r("View Catalog and Namespace",
        (cur.currentCatalog +: cur.currentNamespace).mkString("."), ""),
      r("View Version", meta.currentVersionId.toString, ""),
      r("View Properties",
        meta.properties.toSeq.sorted.map { case (k, v) => s"$k=$v" }
          .mkString("[", ", ", "]"), ""))
  }
  override protected def doExecute(): RDD[InternalRow] =
    sparkContext.parallelize(rows, 1)
}

final case class GraftRenameViewExec(cmd: GraftRenameViewCommand) extends LeafExecNode {
  override def output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] = Nil
  override def executeCollect(): Array[InternalRow] = { run; Array.empty }
  private lazy val run: Unit = {
    val cat = GraftViewExec.catalogOf(session, cmd.catalogName)
    cat.renameView(GraftViewExec.ident(cmd.ns, cmd.viewName),
      GraftViewExec.ident(cmd.newNs, cmd.newName))
  }
  override protected def doExecute(): RDD[InternalRow] = { run; sparkContext.emptyRDD }
}

// ------------------------- materialized views ------------------------------

/** `CREATE MATERIALIZED VIEW cat.db.mv [(cols)] [PARTITIONED BY ...]
  * [TBLPROPERTIES(...)] AS SELECT ...` — Iceberg-MV-shaped: a stored view
  * definition plus an engine storage table the reads route to. Refresh is
  * `CALL cat.system.refresh_mv('db.mv')` — atomic storage replaceWith, with
  * a staleness short-circuit from recorded source snapshot versions. */
final case class GraftCreateMaterializedViewCommand(
    catalogName: String, ns: Seq[String], viewName: String,
    userColumnNames: Seq[String],
    partitioning: Seq[org.apache.spark.sql.connector.expressions.Transform],
    properties: Map[String, String],
    originalText: String, query: LogicalPlan,
    ifNotExists: Boolean) extends UnaryCommand {
  override def child: LogicalPlan = query
  override protected def withNewChildInternal(newChild: LogicalPlan): GraftCreateMaterializedViewCommand =
    copy(query = newChild)
}

final case class GraftCreateMaterializedViewExec(cmd: GraftCreateMaterializedViewCommand)
    extends LeafExecNode {
  override def output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute] = Nil
  override def executeCollect(): Array[InternalRow] = { run; Array.empty }
  private lazy val run: Unit = {
    val cat = GraftViewExec.catalogOf(session, cmd.catalogName)
    val id = GraftViewExec.ident(cmd.ns, cmd.viewName)
    if (cat.viewExists(id)) {
      if (!cmd.ifNotExists)
        throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(id)
    } else if (cat.tableExists(id)) {
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(id)
    } else {
      val root = cat.viewCreateRoot(id)
      val df0 = org.apache.spark.sql.graftshim.GraftShims.ofRows(session, cmd.query)
      if (cmd.userColumnNames.nonEmpty &&
          cmd.userColumnNames.length != df0.schema.fields.length)
        throw new IllegalArgumentException(
          s"CREATE MATERIALIZED VIEW ${cmd.viewName}: declared " +
            s"${cmd.userColumnNames.length} columns but the query produces " +
            s"${df0.schema.fields.length}")
      val df = if (cmd.userColumnNames.nonEmpty) df0.toDF(cmd.userColumnNames: _*) else df0
      val (sources, external) =
        GraftViewResolution.engineSources(df.queryExecution.analyzed)
      val pk = cmd.properties.getOrElse("pk", df.schema.fieldNames.head)
      val spec = GraftCatalog.toPartitionSpec(cmd.partitioning.toArray)
      val storage = graft.table.TransactionalTable.createPartitioned(
        session, GraftViewStore.storageRoot(root), df.schema, pk, spec)
      // Incremental maintenance lands ONE merge commit per refresh interval
      // — under streaming maintenance (maintainViews) that is one-plus small
      // files per micro-batch FOREVER on the freshest-read path. Opt the
      // storage into post-commit auto-compaction (E148: contained,
      // fence-gated, O(chunks) when no debt) so file count stays bounded by
      // the cadence however long the stream runs.
      storage.setAutoCompact(minFiles = 16)
      // ... and into post-commit snapshot expiry (r19 — review missing #5):
      // streaming maintenance lands one merge commit per micro-batch
      // forever, and nothing else expires MV bookkeeping history
      storage.setSnapshotExpiry(keepLast = 8)
      storage.append(df)
      val cm = session.sessionState.catalogManager
      val version = GraftViewStore.VersionMeta(
        versionId = 1, sql = cmd.originalText,
        currentCatalog = cm.currentCatalog.name,
        currentNamespace = cm.currentNamespace.toSeq,
        schema = df.schema,
        queryColumnNames = df.schema.fieldNames.toSeq,
        columnAliases = df.schema.fieldNames.toSeq,
        columnComments = Seq.fill(df.schema.fields.length)(None))
      GraftViewStore.write(root, GraftViewStore.ViewMeta(
        currentVersionId = 1, versions = Seq(version), properties = cmd.properties,
        materialized = true, sourceVersions = sources, externalSources = external),
        cat.linksIo)
    }
  }
  override protected def doExecute(): RDD[InternalRow] = { run; sparkContext.emptyRDD }
}

/**
 * Incremental MV refresh (the 100 TB path — full recompute of a large MV on
 * every refresh is exactly the cost materialization is meant to remove).
 * Eligible when the definition reads exactly ONE engine source AND the
 * source interval since the recorded snapshot is APPEND-ONLY
 * (`changes(v0, v1)` carries no delete images), in one of two shapes:
 *
 *  1. ROW-PRESERVING (Project/Filter chain — no joins/aggregates/distinct/
 *     windows/CTEs): new source rows map to new view rows independently of
 *     old data → apply the definition to the interval's insert images and
 *     APPEND in one commit. Cost O(new data).
 *  2. AGGREGATE MAINTENANCE (`GROUP BY keys` + SUM/COUNT/MIN/MAX, the
 *     classic incremental-view-maintenance algebra): the same aggregate
 *     over the interval's inserts yields per-group DELTAS, combined into
 *     storage group-by-group (sum/count add; min/max fold via
 *     least/greatest — sound precisely BECAUSE the interval is
 *     append-only, no retractions) and MERGEd on the group key. Only
 *     changed groups rewrite — cost O(delta groups), not O(view). Requires
 *     the storage PK to be exactly the group-key columns (declare
 *     TBLPROPERTIES('pk'='k1,k2') for multi-key MVs). AVG / DISTINCT
 *     aggregates / FILTER clauses / HAVING / expressions OVER aggregates
 *     (`sum(x)+1`) are not delta-decomposable from stored finals and fall
 *     back.
 *
 * Every merge leg computes its input ONCE, on a path chosen before any
 * work from the interval's changelog row bound (manifest row counts). A
 * single-source interval of at most `LocalRowsCap` rows (the PK-Bloom
 * small-file bound, 8,192) — a streaming micro-batch — is collected in one
 * action: its group count and NULL-key / negative-count guards run on the
 * driver, a single-column-key storage read is pruned to the files and rows
 * of its groups, and the merge gets a one-partition frame over it, so the
 * refresh commits one small storage file without a checkpoint or a count
 * pass. A larger interval, and every join/union-tier delta (no bound),
 * keeps the distributed path: an eager local checkpoint plus one aggregate
 * action for the guards.
 *
 * Any miss (shape, deletes in the interval, expired baseline snapshot,
 * schema drift, PK≠group keys) falls back to the full atomic recompute.
 */
/** Test-only crash injection for the MV refresh path: when set, invoked
  * right after each COUNT(DISTINCT) aux commit and BEFORE the storage merge
  * — a non-NonFatal throw from it simulates a crash in the
  * aux-ahead-of-storage window the per-source aux fences exist to heal
  * (a NonFatal throw would merely fall back to the full recompute).
  * Never set outside specs. */
private[graft] object GraftViewTestHooks {
  @volatile var failAfterAuxCommit: Option[String => Unit] = None
}

private[sql] object GraftMvRefresh {

  import org.apache.spark.sql.functions.{col => fcol}

  /** The single source's name parts when the PARSED plan is a
    * Project/Filter/alias chain over one relation; None otherwise. NOTE:
    * the parser emits aggregate queries as Project too (GlobalAggregates
    * runs in the analyzer), so this alone is not sufficient — see
    * [[rowPreservingShape]]. */
  private def spfSource(plan: LogicalPlan): Option[Seq[String]] = plan match {
    case Project(_, c) => spfSource(c)
    case Filter(_, c) => spfSource(c)
    case SubqueryAlias(_, c) => spfSource(c)
    // GROUP BY parses straight to Aggregate (only global aggregates hide
    // under Project until the analyzer); the aggregate-maintenance shape
    // check happens on the ANALYZED plan — here we only locate the source
    case a: Aggregate => spfSource(a.child)
    case UnresolvedRelation(parts, _, false) => Some(parts)
    case _ => None
  }

  /** Row-preserving proof on the ANALYZED plan: only there do aggregates
    * surface as Aggregate, windows as Window, DISTINCT as Aggregate — a
    * parsed-plan check would wave `SELECT SUM(v) FROM t` through as a
    * Project. */
  private def rowPreservingShape(analyzed: LogicalPlan): Boolean = analyzed match {
    case Project(_, c) => rowPreservingShape(c)
    case Filter(_, c) => rowPreservingShape(c)
    case SubqueryAlias(_, c) => rowPreservingShape(c)
    case _: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation => true
    case _ => false
  }

  /** Aggregate-maintenance shape on the ANALYZED plan: `Aggregate` over a
    * row-preserving chain, optionally under a rename-only Project, where
    * every output column is either a deterministic group expression or a
    * bare whitelisted aggregate (SUM/COUNT/MIN/MAX — the delta-decomposable
    * algebra; no DISTINCT, no FILTER clause, no arithmetic over the
    * aggregate, no HAVING above it). Returns (group output names, aggregate
    * output name → kind) in OUTER (post-rename) names. */
  /** One aggregate output of a maintainable MV definition: `kind` is the
    * delta algebra (`sum`/`count`/`count_star`/`min`/`max`), `arg` the
    * aggregate's input expression (None for COUNT(*)) — needed to pair each
    * SUM(x) with its COUNT(x) under retraction. */
  final case class AggOut(name: String, kind: String,
      arg: Option[org.apache.spark.sql.catalyst.expressions.Expression],
      /** The declared AggregateExpression for bare outputs (the E194
        * derived-column substitution matches embedded aggregates against
        * these); for kind = "derived", `arg` holds the full expression. */
      ae: Option[org.apache.spark.sql.catalyst.expressions.Expression] = None) {
    def withName(n: String): AggOut = copy(name = n)
  }

  private[sql] def aggShape(analyzed: LogicalPlan): Option[(Seq[String], Seq[AggOut])] =
    aggShape(analyzed, rowPreservingShape)

  /** As [[aggShape]], with the shape gate for the Aggregate's CHILD plan
    * supplied by the caller (single-source chain vs inner-join chain). */
  private[sql] def aggShape(analyzed: LogicalPlan,
      childShape: LogicalPlan => Boolean): Option[(Seq[String], Seq[AggOut])] = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
    import org.apache.spark.sql.catalyst.expressions.aggregate._
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    // peel rename-only Projects / aliases; anything else above the
    // Aggregate (a Filter = HAVING, a computed projection) disqualifies
    def peel(p: LogicalPlan, rename: Map[String, String])
        : Option[(Aggregate, Map[String, String])] = p match {
      case SubqueryAlias(_, c) => peel(c, rename)
      case Project(projs, c) =>
        val pairs = projs.map {
          case a: Attribute => Some(a.name -> a.name)
          case Alias(a: Attribute, out) => Some(a.name -> out)
          case _ => None
        }
        if (pairs.exists(_.isEmpty)) None
        else peel(c, pairs.flatten.map { case (in, out) =>
          in -> rename.getOrElse(out, out) }.toMap)
      case a: Aggregate => Some((a, rename))
      case _ => None
    }
    peel(analyzed, Map.empty).flatMap { case (agg, rename) =>
      if (agg.groupingExpressions.isEmpty) return None // global agg: no key to merge on
      if (!childShape(agg.child)) return None
      def outName(n: String): String = rename.getOrElse(n, n)
      // renames must cover every aggregate output exactly once (a dropped or
      // duplicated column makes the storage merge ambiguous)
      if (rename.nonEmpty && (rename.size != agg.aggregateExpressions.size ||
          rename.values.toSeq.distinct.size != rename.size)) return None
      val groups = Seq.newBuilder[String]
      val aggs = Seq.newBuilder[AggOut]
      val ok = agg.aggregateExpressions.forall { ne =>
        val hasAgg = ne.exists(_.isInstanceOf[AggregateExpression])
        if (!hasAgg) { // group expression (analyzer guarantees it is one)
          if (!ne.deterministic) false
          else { groups += outName(ne.name); true }
        } else ne match {
          case Alias(ae: AggregateExpression, out) if ae.filter.isEmpty =>
            val kind = ae.aggregateFunction match {
              // COUNT(DISTINCT x) maintains via the per-group value-count
              // AUX table (E180); any other DISTINCT aggregate recomputes
              case c: Count if ae.isDistinct && c.children.size == 1 =>
                Some("count_distinct" -> c.children.headOption)
              // SUM/AVG(DISTINCT) ride the SAME aux (E182): per changed
              // group the overlay reads sum(__val) / avg(__val) over the
              // live aux rows — integral args only (the value is the aux PK)
              case s: Sum if ae.isDistinct && s.children.size == 1 =>
                Some("sum_distinct" -> s.children.headOption)
              case a: Average if ae.isDistinct && a.children.size == 1 =>
                Some("avg_distinct" -> a.children.headOption)
              case _ if ae.isDistinct => None
              case _: Sum => Some("sum" -> ae.aggregateFunction.children.headOption)
              case c: Count if c.children.forall {
                case l: org.apache.spark.sql.catalyst.expressions.Literal => l.value != null
                case _ => false
              } => Some("count_star" -> None)
              // arg only for single-arg COUNT: COUNT(a,b) recorded with
              // arg=a would wrongly pair with SUM(a) in retractEligible and
              // NULL the merged sum when COUNT(a,b) nets to 0 while non-null
              // a values remain. arg=None keeps multi-arg COUNT mergeable
              // (its delta algebra is still additive) but never pairable.
              case c: Count => Some("count" ->
                (if (c.children.size == 1) c.children.headOption else None))
              case _: Min => Some("min" -> ae.aggregateFunction.children.headOption)
              case _: Max => Some("max" -> ae.aggregateFunction.children.headOption)
              // AVG maintains only WITH DECLARED COMPANIONS (E179): the
              // stored average alone is not delta-decomposable, but when
              // the definition ALSO carries SUM(x) and COUNT(x) the merge
              // recomputes avg = sum/count per changed group from the
              // exactly-maintained companions. Companion presence (and the
              // double-typed storage column) is enforced by
              // [[avgSupportOk]] at both maintenance tiers.
              case _: org.apache.spark.sql.catalyst.expressions.aggregate.Average =>
                Some("avg" -> ae.aggregateFunction.children.headOption)
              case _ => None
            }
            kind.foreach { case (k, arg) =>
              aggs += AggOut(outName(out), k, arg, ae = Some(ae)) }
            kind.isDefined
          // DERIVED column (E194): a deterministic NUMERIC scalar
          // expression over aggregates (SUM(a)/COUNT(*) AS ratio) — the
          // merged value recomputes post-merge from the exactly-maintained
          // companion outputs. Leaves must be aggregates or literals (a
          // raw child attribute would be unresolvable post-merge); the
          // companion-presence gate runs below once all outputs are known.
          case Alias(expr, out) if expr.deterministic &&
              expr.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] &&
              expr.collect { case ae: AggregateExpression => ae }
                .forall(ae => ae.filter.isEmpty && !ae.isDistinct) &&
              !expr.transform { case _: AggregateExpression =>
                org.apache.spark.sql.catalyst.expressions.Literal(1)
              }.exists(_.isInstanceOf[Attribute]) =>
            aggs += AggOut(outName(out), "derived", Some(expr))
            true
          case _ => false // unnamed shape
        }
      }
      val g = groups.result()
      if (ok && g.nonEmpty) {
        val as = aggs.result()
        // E194 gate: every aggregate EMBEDDED in a derived output must
        // semantically equal the AE of a declared bare output — the merge
        // substitutes the maintained column for it
        val bare = as.filter(_.kind != "derived")
          .flatMap(_.ae).map(_.canonicalized).toSet
        val derivedOk = as.filter(_.kind == "derived").forall(_.arg.get.collect {
          case ae: AggregateExpression => ae
        }.forall(ae => bare(ae.canonicalized)))
        if (derivedOk) Some((g, as)) else None
      } else None
    }
  }

  /** E194: a derived output's expression with every embedded aggregate
    * replaced by the maintained output COLUMN it matches — evaluated over
    * the post-merge combined frame. */
  private def derivedColumn(a: AggOut, aggCols: Seq[AggOut])
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
    val names = aggCols.collect {
      case c if c.kind != "derived" && c.ae.isDefined =>
        c.ae.get.canonicalized -> c.name
    }.toMap
    org.apache.spark.sql.graftshim.GraftShims.column(a.arg.get.transform {
      case ae: AggregateExpression if names.contains(ae.canonicalized) =>
        org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
          .quoted(names(ae.canonicalized))
    })
  }

  /** Try the incremental path: Some((label, affectedRows, updated source
    * versions)) after committing; None → caller runs the full recompute. */
  def tryIncremental(spark: SparkSession, meta: GraftViewStore.ViewMeta,
      qualified: LogicalPlan,
      storage: graft.table.TransactionalTable): Option[(String, Long, Map[String, Long])] = {
    if (meta.externalSources) return None
    val single = spfSource(qualified)
    // the chain match must account for the WHOLE tree: a subquery expression
    // anywhere means a second relation feeds the view
    val allRels = qualified.collectWithSubqueries { case u: UnresolvedRelation => u }
    if (single.isEmpty || allRels.size != 1)
      // 2–8 relations: the JOIN/UNION maintenance tier (shape-gated there;
      // a subquery-expression extra relation fails its Join-tree match)
      return if (allRels.size >= 2 && allRels.size <= 8)
        tryIncrementalJoin(spark, meta, qualified, storage, allRels)
      else None
    val analyzedShape = scala.util.Try(
      org.apache.spark.sql.graftshim.GraftShims.ofRows(spark, qualified)
        .queryExecution.analyzed).toOption
    if (analyzedShape.isEmpty) return None
    val rowShape = analyzedShape.exists(rowPreservingShape)
    val aggInfo = if (rowShape) None else analyzedShape.flatMap(aggShape)
    if (!rowShape && aggInfo.isEmpty) return None
    // aggregate maintenance merges ON the group key: the storage PK must BE
    // the group-key column set, else replacing rows by PK is not replacing
    // groups
    val aliases = meta.current.columnAliases
    val aggResolved = aggInfo.map { case (g, ks) =>
      // outer names come from the analyzed plan; the stored columnAliases
      // rename positionally — map through when they differ
      val analyzedNames = analyzedShape.get.output.map(_.name)
      val alias: Map[String, String] =
        if (analyzedNames == aliases) Map.empty
        else analyzedNames.zip(aliases).toMap
      (g.map(n => alias.getOrElse(n, n)), ks.map(a => a.withName(alias.getOrElse(a.name, a.name))))
    }
    aggResolved.foreach { case (g, _) =>
      if (storage.pkCols.toSet != g.toSet) return None
    }
    aggResolved.foreach { case (_, ks) =>
      if (!avgSupportOk(ks, storage)) return None // AVG needs its companions
    }
    val parts = single.get
    GraftViewResolution.target(spark, parts).flatMap { case (_, g, ns, nm) =>
      val root = g.tableRoot(
        org.apache.spark.sql.connector.catalog.Identifier.of(ns.toArray, nm))
      meta.sourceVersions.get(root).flatMap { v0meta =>
        scala.util.Try {
          val t = graft.table.TransactionalTable.open(spark, root)
          val v1 = t.currentVersion
          // The storage table's writer fence is the TRUE high-water mark: the
          // commit below (batchId = source version, writerId = this view)
          // lands atomically with the data, so a crash between the commit and
          // the _view.json update — or a concurrent refresh — can never
          // double-apply an interval: the fence heals/blocks it.
          val writerId = s"mv-incr:$root"
          val v0 = math.max(v0meta,
            storage.snapshot.writerFences.getOrElse(writerId, -1L))
          // data already there (fence ahead of recorded meta); heal meta only
          if (v1 == v0) Some(("incremental: +0 rows (fence-healed)", 0L, Map(root -> v1)))
          else {
            // throws if v0 expired → full refresh; deltaRows bounds the
            // changelog's rows, so every merge leg knows upfront whether its
            // input fits the driver-local path
            val (delta, deltaRows) = t.changesBounded(v0, v1)
            def applyDef(images: org.apache.spark.sql.DataFrame)
                : org.apache.spark.sql.DataFrame = {
              val substituted = qualified.transformDownWithSubqueries {
                case _: UnresolvedRelation => images.queryExecution.analyzed
              }
              val out0 = org.apache.spark.sql.graftshim.GraftShims.ofRows(spark, substituted)
              if (out0.columns.toSeq != aliases) out0.toDF(aliases: _*) else out0
            }
            val hasDeletes = !delta.where(fcol("_change_type") === "delete").isEmpty
            val out = applyDef(
              delta.where(fcol("_change_type") === "insert").drop("_change_type"))
            val sameSchema =
              out.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
                storage.schema.fields.map(f => (f.name, f.dataType)).toSeq
            val auxKinds = auxKindsFor(meta.properties)
            val hasAux =
              aggResolved.exists(_._2.exists(a => auxKinds(a.kind)))
            if (!sameSchema) None
            else if (hasAux) {
              // AUX path (E180/E197): EVERY interval — append-only
              // included — routes through the per-group value-count AUX
              // table and the retraction-shaped merge (a new row can both
              // raise a count and leave the distinct count flat, and only
              // the live value multiset can un-see a deleted extremum).
              val (groupCols, aggCols) = aggResolved.get
              if (!distinctSupportOk(aggCols, auxKinds)) None
              else {
                val delOut = applyDef(
                  delta.where(fcol("_change_type") === "delete").drop("_change_type"))
                def pairsOf(images: org.apache.spark.sql.DataFrame) =
                  distinctPairFrames(spark, applyDef(images), groupCols, aggCols,
                    auxKinds)
                def signedPairs(d: org.apache.spark.sql.DataFrame) =
                  (pairsOf(d.where(fcol("_change_type") === "insert")
                     .drop("_change_type")),
                   pairsOf(d.where(fcol("_change_type") === "delete")
                     .drop("_change_type")))
                val (insP, delP) = signedPairs(delta)
                val viewRoot =
                  java.nio.file.Paths.get(storage.root).getParent.toString
                val (label, nG, v, r) = mergeAggDeltaDistinct(spark, storage,
                  viewRoot, groupCols, aggCols, out, delOut, insP, delP,
                  bl => signedPairs(t.changes(bl(root), v1)),
                  name => distinctPairFrames(spark, applyDef(t.scanAt(v0)),
                    groupCols, aggCols, auxKinds)(name),
                  Map(root -> v0), Map(root -> v1), v0, v1, writerId, root,
                  Map(s"$writerId#$root" -> v1), "agg-distinct", auxKinds, deltaRows)
                Some((label, nG, Map(r -> v)))
              }
            } else if (!hasDeletes) aggResolved match {
              case None =>
                val n = out.count()
                storage.append(out, batchId = v1, writerId = Some(writerId))
                Some((s"incremental: +$n rows", n, Map(root -> v1)))
              case Some((groupCols, aggCols)) =>
                val (label, nG, v, r) = mergeAggDelta(spark, storage, out,
                  groupCols, aggCols, v1, writerId, root, rowBound = deltaRows)
                Some((label, nG, Map(r -> v)))
            } else aggResolved match {
              // RETRACTION path (the full IVM algebra): SUM/COUNT subtract
              // delete-image aggregates; an update (delete+insert pair in
              // the changelog) nets out exactly. Requires COUNT(*) (group
              // zero-detection → row deletion) and a COUNT(x) beside every
              // SUM(x) (SUM's null-when-no-non-null semantics under
              // retraction). MIN/MAX cannot retract — full recompute.
              case Some((groupCols, aggCols)) if retractEligible(aggCols) =>
                val delOut = applyDef(
                  delta.where(fcol("_change_type") === "delete").drop("_change_type"))
                val (label, nG, v, r) = mergeAggDeltaRetract(spark, storage, out,
                  delOut, groupCols, aggCols, v1, writerId, root, rowBound = deltaRows)
                Some((label, nG, Map(r -> v)))
              // KEYED ROW retraction (E177): an EXPLICIT 'pk' property is
              // the user's contract that the definition emits at most one
              // row per key — deletes then MERGE row-wise (a delete image
              // that the definition's filter drops retracts nothing; one
              // that passes deletes its key; an update nets). The DEFAULT
              // pk (first column) carries no such contract → recompute.
              case None if rowShape && meta.properties.contains("pk") =>
                val delOut = applyDef(
                  delta.where(fcol("_change_type") === "delete").drop("_change_type"))
                val n = mergeRowDeltaRetract(spark, storage, out, delOut,
                  v1, writerId, rowBound = deltaRows)
                Some((s"incremental-retract: $n rows net-merged", n, Map(root -> v1)))
              case _ => None
            }
          }
        }.toOption.flatten
      }
    }
  }

  /**
   * JOIN maintenance tier: an N-source (2–8) tree of INNER joins over
   * row-preserving legs refreshes with the classic TELESCOPING
   * incremental-view-maintenance delta
   *
   *     new rows = Σ_i  A_1@v0 ⋈ … ⋈ A_{i-1}@v0 ⋈ ΔA_i ⋈ A_{i+1}@v1 ⋈ … ⋈ A_N@v1
   *
   * (sound when every interval is APPEND-ONLY: expanding each A_j@v1 =
   * A_j@v0 + ΔA_j telescopes exactly — every mixed Δ-product is counted
   * once; an inner join of growing inputs only gains rows), so storage
   * APPENDS O(Σ_i Δ_i ⋈ others) instead of re-joining full sources and
   * replacing the MV. With AQE the Δ side broadcasts in the common case,
   * making each term a map-only pass over the other sources — the shape
   * that keeps a 100 TB join MV refreshable. Fencing: every refresh commit
   * lands ONE PER-SOURCE fence (`writerId#root` → that source's committed
   * v1) atomically with the data, and the next refresh baselines each
   * source at max(meta version, its fence) — the single-source tier's
   * guard generalized, so a crash between the storage commit and the
   * _view.json update (even followed by further source appends) heals
   * incrementally and never double-applies. The scalar Σv1 batch fence
   * stays as the engine-level replay no-op backstop.
   *
   * An AGGREGATE over the join (the star-schema summary table:
   * `SELECT k, SUM(x) … FROM fact JOIN dim GROUP BY k`) maintains too:
   * each delta term runs the full definition (per-group partials of its
   * delta product), the two partials combine group-wise with the roll-up
   * algebra, and [[mergeAggDelta]] merges only the changed groups into
   * storage — the append-only aggregate tier riding the join tier's rows.
   *
   * DELETE-bearing intervals: the telescoping identity holds for SIGNED
   * deltas, and each term has exactly one delta operand — so a term's
   * sign is its operand's image kind. The AGGREGATE tiers (join and
   * union) therefore RETRACT: insert products roll up into per-group
   * insert partials, delete products into delete partials, and
   * [[mergeAggDeltaRetract]] nets them against storage (zero-count
   * groups die, SUMs null out with their paired COUNT) — the E111
   * single-source retraction generalized. Requires the same
   * [[retractEligible]] agg set (SUM/COUNT with COUNT(*) present).
   *
   * SELF-JOINS (E171) ride the same algebra: the telescoping sum is
   * stated over relation OCCURRENCES — substitution is positional, every
   * occurrence of a repeated root carries the same interval, and the
   * inner join's bilinearity over signed multisets keeps both the
   * append-only and retraction expansions exact (term i for occurrence i:
   * pre-occurrences @v0, Δ at i, post-occurrences @v1 — for t ⋈ t that is
   * Δ⋈t@v1 + t@v0⋈Δ = Δ⋈t + t⋈Δ + Δ⋈Δ, each mixed product once).
   *
   * Falls back to the full recompute on: outer/semi joins or
   * distinct/windows anywhere (shape gate), non-whitelisted aggregates
   * (AVG, DISTINCT, FILTER), storage PK ≠ group keys, deletes in a
   * ROW-preserving interval (multiset retraction needs row
   * multiplicities storage does not key) or with a non-retractable agg
   * set, expired baseline snapshots, schema drift.
   */
  private def tryIncrementalJoin(spark: SparkSession,
      meta: GraftViewStore.ViewMeta, qualified: LogicalPlan,
      storage: graft.table.TransactionalTable,
      rels: Seq[UnresolvedRelation]): Option[(String, Long, Map[String, Long])] = {
    val analyzedShape = scala.util.Try(
      org.apache.spark.sql.graftshim.GraftShims.ofRows(spark, qualified)
        .queryExecution.analyzed).toOption
    val rowJoin = analyzedShape.exists(joinPreservingShape)
    // AGGREGATE over the join (the star-schema summary table): per-group
    // deltas of the join's IVM row delta merge into storage — the same
    // append-only algebra as the single-source aggregate tier
    val aggJoin =
      if (rowJoin) None
      else analyzedShape.flatMap(a => aggShape(a, joinPreservingShape))
    // UNION ALL of two row-preserving legs: union is LINEAR, so the whole
    // delta is ONE application of the definition to (ΔA, ΔB) — leg 1 maps
    // ΔA, leg 2 maps ΔB, nothing touches old data. SQL UNION (distinct)
    // parses as Distinct(Union) and fails this gate — a new row duplicating
    // an old one would double on append, so it recomputes. An AGGREGATE
    // over the union maintains too: the same single application yields the
    // interval's per-group partials, merged like the other agg tiers.
    val unionAll =
      rels.size == 2 && !rowJoin && aggJoin.isEmpty &&
        analyzedShape.exists(unionPreservingShape)
    val aggUnion =
      if (rels.size != 2 || rowJoin || aggJoin.nonEmpty || unionAll) None
      else analyzedShape.flatMap(a => aggShape(a, unionPreservingShape))
    if (!rowJoin && aggJoin.isEmpty && !unionAll && aggUnion.isEmpty) return None
    val aggResolved = aggJoin.orElse(aggUnion).map { case (g, ks) =>
      val aliases = meta.current.columnAliases
      val analyzedNames = analyzedShape.get.output.map(_.name)
      val alias: Map[String, String] =
        if (analyzedNames == aliases) Map.empty
        else analyzedNames.zip(aliases).toMap
      (g.map(n => alias.getOrElse(n, n)),
        ks.map(a => a.withName(alias.getOrElse(a.name, a.name))))
    }
    aggResolved.foreach { case (g, _) =>
      if (storage.pkCols.toSet != g.toSet) return None
    }
    aggResolved.foreach { case (_, ks) =>
      if (!avgSupportOk(ks, storage)) return None // AVG needs its companions
      // count_distinct rides the aux machinery on the join/union tiers too
      // (E181) — the signed telescoping pair terms feed the per-group
      // value-count aux — under the same support gate as the single-source
      // tier (PK-able value type, full-IVM agg set)
      val auxK = auxKindsFor(meta.properties)
      if (ks.exists(a => auxK(a.kind)) && !distinctSupportOk(ks, auxK))
        return None
    }
    val resolved = rels.flatMap { u =>
      GraftViewResolution.target(spark, u.multipartIdentifier).map {
        case (_, g, ns, nm) =>
          u.multipartIdentifier -> g.tableRoot(
            org.apache.spark.sql.connector.catalog.Identifier.of(ns.toArray, nm))
      }
    }
    if (resolved.size != rels.size) return None
    // SELF-JOINS maintain too (E171): the telescoping identity is stated
    // over relation OCCURRENCES, not distinct sources — substitution is
    // positional (applyDef below), every occurrence of a repeated root
    // carries the same (v0, v1) interval, and the duplicate-keyed maps
    // (updated, extraFences) collapse naturally.
    val roots = resolved.map(_._2)
    if (!roots.forall(meta.sourceVersions.contains)) return None
    scala.util.Try {
      val writerId = s"mv-incr-join:${roots.sorted.mkString("|")}"
      val fences = storage.snapshot.writerFences
      // One pinned view of every source: table, baseline v0, current v1.
      // v0 = max(recorded meta version, this source's PER-SOURCE fence
      // `writerId#root` — landed atomically WITH every refresh commit), the
      // single-source tier's guard generalized: a crash between the storage
      // commit and the _view.json update leaves the fences carrying the
      // exact committed tuple, so a later refresh (even after further
      // source appends) baselines past the committed interval and can
      // never double-apply it.
      val src = resolved.map { case (parts, root) =>
        val t = graft.table.TransactionalTable.open(spark, root)
        val v0 = math.max(meta.sourceVersions(root),
          fences.getOrElse(s"$writerId#$root", -1L))
        (parts, root, t, v0, t.currentVersion)
      }
      val updated = src.map { case (_, root, _, _, v1) => root -> v1 }.toMap
      // distinct-root sum: a self-join must not count one source's version
      // once per occurrence (the scalar replay-fence backstop would then
      // jump when a view's occurrence count differs from a sibling's)
      val batchSum = updated.values.sum
      val extraFences =
        src.map { case (_, root, _, _, v1) => s"$writerId#$root" -> v1 }.toMap
      // empty interval everywhere (possibly because the fences already
      // carry it) → heal meta only, never re-apply
      if (src.forall { case (_, _, _, v0, v1) => v1 == v0 })
        Some(("incremental-join: +0 rows (fence-healed)", 0L, updated))
      else {
        // per-source interval split into SIGNED images: (inserts, deletes)
        // — a side is None when that image set is empty. An UPDATE rides
        // the net changelog as a delete+insert pair and nets out exactly
        // under retraction.
        def delta(t: graft.table.TransactionalTable, v0: Long, v1: Long)
            : (Option[org.apache.spark.sql.DataFrame],
               Option[org.apache.spark.sql.DataFrame]) =
          if (v1 == v0) (None, None)
          else {
            val d = t.changes(v0, v1) // throws if v0 expired → full refresh
            val ins = d.where(fcol("_change_type") === "insert").drop("_change_type")
            val del = d.where(fcol("_change_type") === "delete").drop("_change_type")
            (if (ins.isEmpty) None else Some(ins),
              if (del.isEmpty) None else Some(del))
          }
        // memoized per (ROOT, baseline): a self-join's occurrences share one
        // interval — compute (and action the two isEmpty probes of) it
        // once; the distinct aux may re-derive at ITS OWN baselines (E181)
        val deltaByRoot = scala.collection.mutable.Map.empty[(String, Long),
          (Option[org.apache.spark.sql.DataFrame],
           Option[org.apache.spark.sql.DataFrame])]
        def dsAt(bl: Map[String, Long]) = src.map { case (_, root, t, _, v1) =>
          deltaByRoot.getOrElseUpdate((root, bl(root)), delta(t, bl(root), v1)) }
        val bl0 = src.map { case (_, root, _, v0, _) => root -> v0 }.toMap
        val ds = dsAt(bl0)
        val hasDeletes = ds.exists(_._2.isDefined)
        val auxKinds = auxKindsFor(meta.properties)
        val hasAux =
          aggResolved.exists(_._2.exists(a => auxKinds(a.kind)))
        // Deletes: the AGGREGATE tiers RETRACT via the counting algebra
        // below when the agg set is retract-eligible; the ROW-preserving
        // tiers retract ROW-WISE when the MV declares an EXPLICIT 'pk'
        // (E177 — the keyed-output contract; the default first-column pk
        // carries no such contract). Unkeyed row tiers fall back
        // (retracting one occurrence from multiset storage needs row
        // multiplicities the table does not key).
        val keyedRow = aggResolved.isEmpty && meta.properties.contains("pk")
        if (hasDeletes && (if (aggResolved.nonEmpty)
              !retractEligible(aggResolved.get._2, auxKinds) else !keyedRow)) None
        else {
          // the definition with each relation OCCURRENCE replaced by its
          // pinned frame. Substitution is by per-IDENTIFIER frame QUEUE:
          // a distinct identifier substitutes by name (order-independent —
          // robust even if a relation is visited out of collect order), and
          // a repeated identifier's occurrences dequeue in traversal order,
          // which is sound for ANY fixed occurrence order because every
          // occurrence of one identifier carries the same source and
          // interval — the telescoping sum is exact in whatever total order
          // the traversal fixes, as long as it is the same for every term
          // (it is: the traversal of a fixed plan is deterministic).
          def applyDef(frames: Seq[org.apache.spark.sql.DataFrame])
              : org.apache.spark.sql.DataFrame = {
            val queues = scala.collection.mutable.Map.empty[Seq[String],
              scala.collection.mutable.Queue[org.apache.spark.sql.DataFrame]]
            src.map(_._1).zip(frames).foreach { case (parts, f) =>
              queues.getOrElseUpdate(parts,
                scala.collection.mutable.Queue.empty).enqueue(f)
            }
            val substituted = qualified.transformDownWithSubqueries {
              case u: UnresolvedRelation
                  if queues.get(u.multipartIdentifier).exists(_.nonEmpty) =>
                queues(u.multipartIdentifier).dequeue().queryExecution.analyzed
            }
            val out0 = org.apache.spark.sql.graftshim.GraftShims
              .ofRows(spark, substituted)
            val aliases = meta.current.columnAliases
            if (out0.columns.toSeq != aliases) out0.toDF(aliases: _*) else out0
          }
          // empty-but-typed stand-ins: a quiet leg substitutes an empty
          // frame of the source schema (plan-only); an empty AGGREGATED
          // side uses the storage schema directly
          def emptyLeg(i: Int): org.apache.spark.sql.DataFrame = {
            val (_, _, t, v0, _) = src(i); t.scanAt(v0).limit(0)
          }
          def emptyAgg(): org.apache.spark.sql.DataFrame =
            graft.util.Frames.empty(spark, storage.schema)
          def schemaOk(df: org.apache.spark.sql.DataFrame): Boolean =
            df.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
              storage.schema.fields.map(f => (f.name, f.dataType)).toSeq
          // group-wise roll-up of per-term AGGREGATED partials into one
          // delta frame (retraction reaches here only with SUM/COUNT kinds)
          def rollup(ts: Seq[org.apache.spark.sql.DataFrame],
              groupCols: Seq[String], aggCols: Seq[AggOut])
              : org.apache.spark.sql.DataFrame =
            if (ts.size == 1) ts.head
            else {
              val u = ts.reduce(_ union _)
              val aggExprs = aggCols.map { a =>
                import org.apache.spark.sql.functions.{max, min, sum}
                (a.kind match {
                  case "min" => min(fcol(a.name))
                  case "max" => max(fcol(a.name))
                  case _ => sum(fcol(a.name)) // sum/count/count_star
                }).as(a.name)
              }
              u.groupBy(groupCols.map(fcol): _*)
                .agg(aggExprs.head, aggExprs.tail: _*)
            }
          // signed telescoping terms at the given per-source BASELINES
          // (bl0 for the storage interval; the distinct aux may re-derive
          // at its own committed baselines): each term has exactly ONE
          // delta operand, so a term's output sign IS that operand's
          // image kind; union is linear — ONE application per sign over
          // the leg images (quiet legs empty)
          def termsAt(bl: Map[String, Long],
              side: ((Option[org.apache.spark.sql.DataFrame],
                Option[org.apache.spark.sql.DataFrame])) =>
                Option[org.apache.spark.sql.DataFrame])
              : Seq[org.apache.spark.sql.DataFrame] = {
            val dsA = dsAt(bl)
            if (unionAll || aggUnion.nonEmpty) {
              if (dsA.forall(d => side(d).isEmpty)) Seq.empty
              else Seq(applyDef(src.indices.map(i =>
                side(dsA(i)).getOrElse(emptyLeg(i)))))
            } else
              src.indices.flatMap { i =>
                side(dsA(i)).map { d =>
                  applyDef(src.indices.map { j =>
                    val (_, rootJ, t, _, v1) = src(j)
                    if (j < i) t.scanAt(bl(rootJ))
                    else if (j == i) d
                    else t.scanAt(v1)
                  })
                }
              }
          }
          if (hasAux) {
            // COUNT(DISTINCT) on the join/union tiers (E181): EVERY
            // interval — append-only included — routes the signed pair
            // terms through the per-group value-count aux and the
            // retraction-shaped merge with the distinct overlay (a new
            // join product can raise a count yet leave the distinct count
            // flat; only the aux knows which).
            val (groupCols, aggCols) = aggResolved.get
            val insTerms = termsAt(bl0, _._1)
            val delTerms = termsAt(bl0, _._2)
            if ((insTerms ++ delTerms).headOption.exists(t => !schemaOk(t))) None
            else {
              def pairsOfTerms(terms: Seq[org.apache.spark.sql.DataFrame])
                  : Map[String, org.apache.spark.sql.DataFrame] =
                (if (terms.isEmpty) Seq(applyDef(src.indices.map(emptyLeg)))
                 else terms)
                  .map(t => distinctPairFrames(spark, t, groupCols, aggCols,
                    auxKinds))
                  .reduce((m1, m2) => m1.map { case (k, df) =>
                    k -> df.unionByName(m2(k)) })
              val dIns =
                if (insTerms.isEmpty) emptyAgg()
                else rollup(insTerms, groupCols, aggCols)
              val dDel =
                if (delTerms.isEmpty) emptyAgg()
                else rollup(delTerms, groupCols, aggCols)
              val viewRoot =
                java.nio.file.Paths.get(storage.root).getParent.toString
              val tier = if (unionAll || aggUnion.nonEmpty) "union" else "join"
              val (label, nG, _, _) = mergeAggDeltaDistinct(spark, storage,
                viewRoot, groupCols, aggCols, dIns, dDel,
                pairsOfTerms(insTerms), pairsOfTerms(delTerms),
                bl => (pairsOfTerms(termsAt(bl, _._1)),
                       pairsOfTerms(termsAt(bl, _._2))),
                name => distinctPairFrames(spark,
                  applyDef(src.map { case (_, _, t, v0, _) => t.scanAt(v0) }),
                  groupCols, aggCols, auxKinds)(name),
                bl0, updated, bl0.values.sum, batchSum, writerId, roots.head,
                extraFences, s"$tier-agg-distinct", auxKinds)
              Some((label, nG, updated))
            }
          } else if (hasDeletes) {
            // RETRACTION (the full IVM algebra for the join/union tiers):
            // AGGREGATE tiers: insert products aggregate into per-group
            // insert partials, delete products into delete partials,
            // [[mergeAggDeltaRetract]] nets them (zero-count groups die,
            // SUMs null when their paired COUNT reaches zero) — E111's
            // single-source case generalized. KEYED ROW tiers (E177): the
            // raw signed rows net by full row in [[mergeRowDeltaRetract]]
            // and MERGE on the declared pk.
            val insTerms = termsAt(bl0, _._1)
            val delTerms = termsAt(bl0, _._2)
            val checked = (insTerms ++ delTerms).headOption
            if (checked.exists(t => !schemaOk(t))) None
            else {
              val tier = if (unionAll || aggUnion.nonEmpty) "union" else "join"
              aggResolved match {
                case Some((groupCols, aggCols)) =>
                  val dIns =
                    if (insTerms.isEmpty) emptyAgg()
                    else rollup(insTerms, groupCols, aggCols)
                  val dDel =
                    if (delTerms.isEmpty) emptyAgg()
                    else rollup(delTerms, groupCols, aggCols)
                  val (_, nG, _, _) = mergeAggDeltaRetract(spark, storage, dIns,
                    dDel, groupCols, aggCols, batchSum, writerId, roots.head,
                    extraFences)
                  Some((s"incremental-$tier-agg-retract: $nG groups net-merged",
                    nG, updated))
                case None => // keyedRow (gate above)
                  val insRows =
                    if (insTerms.isEmpty) emptyAgg() else insTerms.reduce(_ union _)
                  val delRows =
                    if (delTerms.isEmpty) emptyAgg() else delTerms.reduce(_ union _)
                  val n = mergeRowDeltaRetract(spark, storage, insRows, delRows,
                    batchSum, writerId, extraFences)
                  Some((s"incremental-$tier-retract: $n rows net-merged",
                    n, updated))
              }
            }
          } else if (unionAll || aggUnion.nonEmpty) {
            // one application: empty-interval legs substitute an empty
            // frame of the source's schema (plan-only, reads nothing)
            val out = applyDef(src.indices.map(i =>
              ds(i)._1.getOrElse(emptyLeg(i))))
            if (!schemaOk(out)) None
            else aggResolved match {
              case None =>
                val n = out.count()
                storage.append(out, batchId = batchSum,
                  writerId = Some(writerId), extraFences = extraFences)
                Some((s"incremental-union: +$n rows", n, updated))
              case Some((groupCols, aggCols)) =>
                // the single application IS the interval's per-group
                // partials — merge the changed groups into storage
                val (_, nG, _, _) = mergeAggDelta(spark, storage, out,
                  groupCols, aggCols, batchSum, writerId, roots.head, extraFences)
                Some((s"incremental-union-agg: $nG groups merged", nG, updated))
            }
          } else {
            // TELESCOPING delta over N inner-joined sources:
            //   new rows = Σ_i  A_1@v0 ⋈ … ⋈ A_{i-1}@v0 ⋈ ΔA_i ⋈
            //                   A_{i+1}@v1 ⋈ … ⋈ A_N@v1
            // (sound when every interval is append-only: expanding each
            // A_j@v1 = A_j@v0 + ΔA_j telescopes exactly, every mixed
            // Δ-product counted once). One term per source with a
            // non-empty interval.
            val terms = src.indices.flatMap { i =>
              ds(i)._1.map { d =>
                applyDef(src.indices.map { j =>
                  val (_, _, t, v0, v1) = src(j)
                  if (j < i) t.scanAt(v0)
                  else if (j == i) d
                  else t.scanAt(v1)
                })
              }
            }
            if (terms.isEmpty)
              Some(("incremental-join: +0 rows", 0L, updated))
            else {
              // names/types of the applied definition must be storage's
              // (checked on the per-term outputs — the aggregate path's
              // roll-up combine below may legitimately widen sums, which
              // mergeAggDelta casts back on merge)
              if (!schemaOk(terms.head)) None
              else aggResolved match {
                case None =>
                  val out = terms.reduce(_ union _)
                  val n = out.count()
                  storage.append(out, batchId = batchSum,
                    writerId = Some(writerId), extraFences = extraFences)
                  Some((s"incremental-join: +$n rows", n, updated))
                case Some((groupCols, aggCols)) =>
                  // each term already aggregated the full definition over
                  // its delta product; terms combine group-wise with the
                  // roll-up algebra (SUM of sums AND of counts, MIN of
                  // mins, MAX of maxes) into one delta frame
                  val (_, nG, _, _) = mergeAggDelta(spark, storage,
                    rollup(terms, groupCols, aggCols),
                    groupCols, aggCols, batchSum, writerId, roots.head, extraFences)
                  Some((s"incremental-join-agg: $nG groups merged", nG, updated))
              }
            }
          }
        }
      }
    }.toOption.flatten
  }

  /** Row-preserving chain over a TREE of INNER joins of leaf chains (any
    * shape, any arity ≥ 2 via nesting) — the [[tryIncrementalJoin]] shape
    * gate (on the ANALYZED plan). A tree with no Join at all fails (that is
    * the single-source tier's business). */
  private def joinPreservingShape(analyzed: LogicalPlan): Boolean =
    countJoins(analyzed) >= 1 && joinTreeShape(analyzed)

  private def joinTreeShape(p: LogicalPlan): Boolean = p match {
    case Project(_, c) => joinTreeShape(c)
    case Filter(_, c) => joinTreeShape(c)
    case SubqueryAlias(_, c) => joinTreeShape(c)
    case j: Join =>
      j.joinType == org.apache.spark.sql.catalyst.plans.Inner &&
        joinTreeShape(j.left) && joinTreeShape(j.right)
    case _: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation => true
    case _ => false
  }

  private def countJoins(p: LogicalPlan): Int =
    p.collect { case _: Join => 1 }.sum

  /** Row-preserving chain over a two-leg UNION ALL of leaf chains. SQL
    * UNION (distinct) parses as Distinct(Union) and fails this gate. */
  private def unionPreservingShape(analyzed: LogicalPlan): Boolean = analyzed match {
    case Project(_, c) => unionPreservingShape(c)
    case Filter(_, c) => unionPreservingShape(c)
    case SubqueryAlias(_, c) => unionPreservingShape(c)
    case u: Union =>
      u.children.size == 2 && u.children.forall(rowPreservingShape)
    case _ => false
  }

  /** Combine per-group deltas into storage and MERGE on the group key —
    * only groups present in the delta rewrite. The delta is computed ONCE
    * ([[materialize]]). When `rowBound` (an upper bound on the delta's
    * rows, e.g. the interval's changelog rows) is at most [[LocalRowsCap]]
    * — every streaming micro-batch of a single-source view — the delta is
    * collected in one action and checked on the driver; a one-column key
    * reads its groups' stored rows in a second and pairs them on the
    * driver, and the combined rows reach the merge as a one-partition
    * driver-local frame (one storage file, no shuffle to dedupe its keys).
    * Otherwise the delta keeps the distributed path: semi-join, left join,
    * and the combined frame checkpointed once for the merge's passes. */
  private def mergeAggDelta(spark: SparkSession,
      storage: graft.table.TransactionalTable,
      delta0: org.apache.spark.sql.DataFrame,
      groupCols: Seq[String], aggCols: Seq[AggOut],
      v1: Long, writerId: String, root: String,
      extraFences: Map[String, Long] = Map.empty,
      rowBound: Long = Long.MaxValue): (String, Long, Long, String) = {
    import org.apache.spark.sql.functions.{greatest, least, when}
    import org.apache.spark.sql.types.{StructField, StructType}
    val delta = materialize(spark, delta0, rowBound)
    // the delta holds exactly the changed groups: its row count IS the group
    // count, and the NULL-key guard (see the note below) checks here
    val (nGroups, Seq(nullKeys)) = delta.counts(anyNull(groupCols))
    if (nullKeys > 0) throw new IllegalStateException(
      s"NULL group key in incremental delta ($nullKeys rows) — " +
        "PK merge cannot apply it; falling back to full recompute")
    // Each delta row PAIRED with its group's stored row (null when the group
    // is new), addressable as d.<col> / s.<col>. Storage is the BIG side:
    // it is restricted to the delta's groups FIRST — a direct d⟕storage
    // left join would shuffle the whole MV on every refresh (left-outer
    // cannot build on the big probe side).
    val pairs = (delta.rows, groupCols) match {
      // a local delta over a one-column key pairs on the driver: its
      // groups' stored rows come back in one action — file-pruned on the
      // driver (range ∧ Bloom) and filtered by the literal key set — and
      // the pairs form a LocalRelation of (d, s) structs, so the combine
      // below folds at planning. Keys are string/integral (the only PK
      // types) of the same type on both sides, so driver equality is Spark's.
      case (Some(rs), Seq(k)) =>
        val dIdx = delta.df.schema.fieldIndex(k)
        require(delta.df.schema(k).dataType == storage.schema(k).dataType,
          s"group key $k: delta and storage types differ")
        val values = rs.toSeq.map(_.get(dIdx))
        val stored = storage.scanForKeys(graft.util.Frames.onePartition(spark,
            values.map(Row(_)), StructType(Seq(delta.df.schema(k)))))
          .where(fcol(k).isin(values: _*))
        val sIdx = stored.schema.fieldIndex(k)
        val byKey = graft.util.JobLabel.labeled(spark, "ivm-refresh:read-groups") {
          stored.collect()
        }.map(r => r.get(sIdx) -> r).toMap
        graft.util.Frames.local(spark,
          rs.toSeq.map(r => Row(r, byKey.getOrElse(r.get(dIdx), null))),
          StructType(Seq(StructField("d", delta.df.schema),
            StructField("s", stored.schema))))
      // otherwise a semi-join (AQE broadcasts the delta-key set in the
      // common case → map-only storage scan), then a left join on the
      // null-safe key
      case _ =>
        val dKeys = delta.df.select(groupCols.map(fcol): _*).alias("k")
        val semiCond = groupCols.map(c => fcol(s"s.$c") <=> fcol(s"k.$c")).reduce(_ && _)
        val sSub = storage.scan().alias("s").join(dKeys, semiCond, "left_semi").alias("s")
        val keyCond = groupCols.map(c => fcol(s"d.$c") <=> fcol(s"s.$c")).reduce(_ && _)
        delta.df.alias("d").join(sSub, keyCond, "left")
    }
    def addOf(c: String): org.apache.spark.sql.Column = {
      val dc = fcol(s"d.$c"); val sc = fcol(s"s.$c")
      when(sc.isNull, dc).when(dc.isNull, sc).otherwise(dc + sc)
    }
    val combinedCols =
      groupCols.map(c => fcol(s"d.$c").as(c)) ++
        aggCols.map { a =>
          val c = a.name
          val dc = fcol(s"d.$c"); val sc = fcol(s"s.$c")
          val tpe = storage.schema(c).dataType
          (a.kind match {
            // SUM/COUNT add; a NULL side means "no non-null contributions" —
            // take the other (COUNT is never null). least/greatest skip
            // nulls natively, and folding MIN/MAX with new-rows-only deltas
            // is sound because the interval is append-only (no retractions).
            case "sum" | "count" | "count_star" =>
              when(sc.isNull, dc).when(dc.isNull, sc).otherwise(dc + sc)
            case "min" => least(dc, sc)
            case "max" => greatest(dc, sc)
            // AVG (E179): recomputed from its exactly-maintained SUM/COUNT
            // companions — the delta frame's own avg value (an average of
            // the interval alone) is deliberately ignored.
            case "avg" =>
              val arg = a.arg.get
              val sC = aggCols.find(x =>
                x.kind == "sum" && x.arg.exists(_.semanticEquals(arg))).get
              val nC = aggCols.find(x =>
                x.kind == "count" && x.arg.exists(_.semanticEquals(arg))).get
              val cnt = addOf(nC.name)
              when(cnt.isNull || cnt === 0,
                  org.apache.spark.sql.functions.lit(null))
                .otherwise(addOf(sC.name)
                  .cast(org.apache.spark.sql.types.DoubleType) / cnt)
            // E194: placeholder — recomputed below from the merged companions
            case "derived" => org.apache.spark.sql.functions.lit(null)
            case other => throw new IllegalStateException(s"unexpected agg kind $other")
          }).cast(tpe).as(c)
        }
    val combined0 = pairs.select(combinedCols: _*)
    // E194: derived columns recompute per merged group from the
    // exactly-maintained companion outputs
    val combinedD = aggCols.filter(_.kind == "derived").foldLeft(combined0) {
      (df, a) => df.withColumn(a.name,
        derivedColumn(a, aggCols).cast(storage.schema(a.name).dataType))
    }
    val aligned = combinedD
      // align to the storage column ORDER (merge aligns by position for
      // the write path's schema checks)
      .select(storage.schema.fieldNames.map(fcol).toIndexedSeq: _*)
    // computed once for the merge's key-pruning and write passes: a local
    // delta's combination merges as ONE partition (paired on the driver it
    // folds to local rows, no job); a distributed one is checkpointed
    val combined =
      if (delta.isLocal)
        graft.util.Frames.onePartition(spark, aligned.collect().toSeq, aligned.schema)
      else aligned.localCheckpoint(true)
    val emptyDeletes = graft.util.Frames.empty(spark,
      org.apache.spark.sql.types.StructType(storage.pkCols.map(storage.schema(_))))
    storage.merge(combined, emptyDeletes, batchId = v1, writerId = Some(writerId),
      extraFences = extraFences)
    (s"incremental-agg: $nGroups groups merged", nGroups, v1, root)
  }

  /** Rows a merge leg collects to the driver before it falls back to the
    * distributed path: the PK-Bloom small-file bound, so a local delta also
    * lands as one small, Bloom-indexed storage file. */
  private val LocalRowsCap: Int = graft.table.TransactionalTable.BloomMaxRows.toInt

  /** A merge leg's input, computed exactly once (see [[materialize]]):
    * `rows` holds it on the driver when it was small enough, and `df` is
    * then a one-partition frame over them. */
  private final case class Materialized(df: DataFrame, rows: Option[Array[Row]]) {
    def isLocal: Boolean = rows.isDefined

    /** The row count and, per predicate, the rows it holds on — on the
      * driver for a local input (a projection over a LocalRelation folds at
      * planning: no Spark job), else in one aggregate action. */
    def counts(preds: org.apache.spark.sql.Column*): (Long, Seq[Long]) = {
      import org.apache.spark.sql.functions.{count, lit, when}
      rows match {
        case Some(rs) =>
          val flags = if (preds.isEmpty) Array.empty[Row]
            else graft.util.Frames.local(df.sparkSession, rs.toSeq, df.schema)
              .select(preds.map(p => when(p, 1L).otherwise(0L)): _*).collect()
          (rs.length.toLong, preds.indices.map(i => flags.map(_.getLong(i)).sum))
        case None =>
          val r = df.agg(count(lit(1)), preds.map(p => count(when(p, 1))): _*).head()
          (r.getLong(0), preds.indices.map(i => r.getLong(i + 1)))
      }
    }
  }

  /** Computes a merge leg's input once. The path is chosen BEFORE any
    * work, from `rowBound`, an upper bound on the input's rows known
    * without a job (the interval's changelog rows from manifest row
    * counts: an aggregate, join-free definition emits at most one row or
    * group per input row). At most [[LocalRowsCap]]: the input comes back
    * in ONE action and becomes a one-partition driver-local frame (the
    * merge then writes one file and dedupes its keys without a shuffle,
    * and [[Materialized.counts]] checks them without a job). Otherwise —
    * and for the multi-source tiers, whose joins can multiply rows and so
    * pass no bound — an eager local checkpoint, computed once as well.
    * Should the bound not hold after all, the capped collect notices and
    * checkpoints (the input is then computed twice, never held unbounded). */
  private def materialize(spark: SparkSession, df: DataFrame, rowBound: Long): Materialized =
    if (rowBound > LocalRowsCap) Materialized(df.localCheckpoint(true), None)
    else {
      val rows = graft.util.JobLabel.labeled(spark, "ivm-refresh:collect") {
        df.limit(LocalRowsCap + 1).collect()
      }
      if (rows.length <= LocalRowsCap)
        Materialized(graft.util.Frames.onePartition(spark, rows.toSeq, df.schema), Some(rows))
      else Materialized(df.localCheckpoint(true), None)
    }

  /** Some group-key column is NULL (the incremental merge cannot apply it:
    * see the note below [[mergeAggDelta]]). */
  private def anyNull(groupCols: Seq[String]): org.apache.spark.sql.Column =
    groupCols.map(c => fcol(c).isNull).reduce(_ || _)

  // A NULL group key cannot ride the incremental path: the storage MERGE
  // matches rows by PK, and NULL never equals NULL there — the delta would
  // silently not apply (found by test, not theory). Since r19 the guard is
  // FOLDED into each merge path's single-action post-checkpoint counts
  // (combined preserves exactly the delta's group keys); throwing unwinds
  // into tryIncremental's Try → full atomic recompute, which handles NULL
  // groups fine (storage replace, no PK matching).

  /** AVG support (E179): every AVG(x) needs SUM(x) AND COUNT(x) declared in
    * the same definition (the merge recomputes avg = sum/count per changed
    * group from the exactly-maintained companions — the stored average
    * alone is not delta-decomposable), and the avg storage column must be
    * DOUBLE (decimal averages carry scale-adjustment semantics the
    * companion division does not reproduce — those recompute). For
    * integral inputs the companion division is bit-equal to a fresh
    * Average while the exact long sum fits 2^53, and MORE accurate past
    * it. */
  private def avgSupportOk(aggCols: Seq[AggOut],
      storage: graft.table.TransactionalTable): Boolean =
    aggCols.filter(_.kind == "avg").forall { a =>
      a.arg.exists { arg =>
        aggCols.exists(c => c.kind == "sum" && c.arg.exists(_.semanticEquals(arg))) &&
        aggCols.exists(c => c.kind == "count" && c.arg.exists(_.semanticEquals(arg)))
      } && storage.schema(a.name).dataType ==
        org.apache.spark.sql.types.DoubleType
    }

  /** Retraction eligibility: every aggregate is SUM/COUNT (MIN/MAX cannot
    * un-see a deleted extremum; AVG rides its E179 companions), a COUNT(*)
    * column exists (group-death detection → storage row deletion), and
    * every SUM(x) has a COUNT(x) over the semantically-same input (SUM
    * must return NULL when a group's last non-null x retracts —
    * undecidable from the stored sum alone). */
  /** For each count_distinct output of the definition: a
    * (groupCols…, __val) frame projecting the PRE-aggregation pairs of the
    * given SUBSTITUTED definition frame — the Aggregate's own child with
    * the group expressions and the distinct argument, so the aux
    * maintenance sees raw (group, value) occurrences, not partials.
    * Expressions are taken from the substituted plan itself (its exprIds),
    * matched to aggCols positionally — both sides classify
    * aggregateExpressions identically. */
  private def distinctPairFrames(spark: SparkSession,
      defFrame: org.apache.spark.sql.DataFrame,
      groupCols: Seq[String], aggCols: Seq[AggOut],
      auxKinds: Set[String])
      : Map[String, org.apache.spark.sql.DataFrame] = {
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
    val agg = defFrame.queryExecution.analyzed.collectFirst {
      case a: Aggregate => a
    }.getOrElse(throw new IllegalStateException(
      "count_distinct definition lost its Aggregate node"))
    val groupsNamed = agg.aggregateExpressions
      .filterNot(_.exists(_.isInstanceOf[AggregateExpression]))
    val aggEntries = agg.aggregateExpressions
      .filter(_.exists(_.isInstanceOf[AggregateExpression]))
    aggCols.zipWithIndex.collect { case (a, j) if auxKinds(a.kind) =>
      val arg = aggEntries(j) match {
        case Alias(ae: AggregateExpression, _) =>
          ae.aggregateFunction.children.head
        case other => throw new IllegalStateException(
          s"unexpected aggregate shape: $other")
      }
      val proj = Project(
        (groupsNamed :+ Alias(arg, "__val")()).toIndexedSeq, agg.child)
      a.name -> org.apache.spark.sql.graftshim.GraftShims.ofRows(spark, proj)
        .toDF((groupCols :+ "__val"): _*)
    }.toMap
  }

  /**
   * COUNT(DISTINCT x) maintenance (E180): per distinct output, a per-group
   * VALUE-COUNT aux engine table (`<viewRoot>/_aux_d_<col>`, PK = group
   * keys + value) tracks how many source rows carry each (group, value)
   * pair — the multiset storage itself cannot express. Bootstrap builds it
   * once from the v0 snapshot (fenced: the commit carries the bootstrap
   * writer fence, so a crash between create and append re-runs the append
   * exactly once); each interval then nets signed (group, value) counts
   * into it (values reaching 0 leave — O(Δ values), never O(aux)), and the
   * MV's distinct column for every changed group is the post-merge aux row
   * count per group, OVERLAID onto the retraction-shaped storage merge.
   *
   * The aux is itself a tiny incremental MV (`SELECT groups, x, COUNT(*)
   * … GROUP BY groups, x`) and carries ITS OWN per-source fences
   * (`writerId#root`, landed atomically with every aux merge): the aux
   * netting baselines at max(storage baseline, aux fence) per source, so
   * a crash BETWEEN the aux commit and the storage commit — even followed
   * by further source appends — nets only the unseen remainder into the
   * aux (`auxPairsFor` recomputes the signed pairs at the aux's own
   * baselines) while the storage merge still covers its full interval.
   * The overlay's changed-group set always comes from the STORAGE
   * interval's pairs. E181 generalizes the whole routine to the join /
   * union tiers: baselines/targets are per-source maps and the signed
   * pairs are the telescoping term expansions. The full-recompute path
   * drops the aux dirs (stale counts must not survive a replace) — the
   * next incremental refresh re-bootstraps from its new baseline.
   */
  private def mergeAggDeltaDistinct(spark: SparkSession,
      storage: graft.table.TransactionalTable, viewRoot: String,
      groupCols: Seq[String], aggCols: Seq[AggOut],
      dIns: org.apache.spark.sql.DataFrame, dDel: org.apache.spark.sql.DataFrame,
      insPairs: Map[String, org.apache.spark.sql.DataFrame],
      delPairs: Map[String, org.apache.spark.sql.DataFrame],
      auxPairsFor: Map[String, Long] => (
        Map[String, org.apache.spark.sql.DataFrame],
        Map[String, org.apache.spark.sql.DataFrame]),
      bootPairs: String => org.apache.spark.sql.DataFrame,
      baselines: Map[String, Long], targets: Map[String, Long],
      bootBatchId: Long, batchId: Long, writerId: String, root: String,
      extraFences: Map[String, Long], tier: String,
      auxKinds: Set[String], rowBound: Long = Long.MaxValue)
      : (String, Long, Long, String) = {
    import org.apache.spark.sql.functions.{coalesce, count => fcount, lit, sum => fsum, when}
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val overlays = aggCols.filter(a => auxKinds(a.kind)).map { a =>
      val auxRoot = s"$viewRoot/_aux_d_${a.name}"
      val keys = groupCols :+ "__val"
      val aux =
        if (graft.table.TransactionalTable.exists(auxRoot)) {
          val t = graft.table.TransactionalTable.open(spark, auxRoot)
          // pre-r19 aux tables gain the history bound on first touch
          t.defaultSnapshotExpiry(keepLast = 8)
          t
        } else {
          val t = graft.table.TransactionalTable.create(spark, auxRoot,
            StructType((groupCols.map(storage.schema(_)) :+
              StructField("__val", a.arg.get.dataType) :+
              StructField("cnt", LongType, nullable = false)).toArray),
            keys.mkString(","), None)
          // one merge per refresh interval → bound the aux's small-file
          // debt AND snapshot history the same way as MV storage (E148
          // post-commit cadence; r19 expiry cadence)
          t.setAutoCompact(minFiles = 16)
          t.setSnapshotExpiry(keepLast = 8)
          t
        }
      val bootWriter = s"$writerId#aux-bootstrap"
      if (!aux.snapshot.writerFences.contains(bootWriter))
        aux.append(bootPairs(a.name).where(fcol("__val").isNotNull)
          .groupBy(keys.map(fcol): _*)
          .agg(fcount(lit(1)).cast(LongType).as("cnt")),
          batchId = bootBatchId, writerId = Some(bootWriter))
      // the aux's own committed baseline per source: max(storage baseline,
      // per-source aux fence; the legacy scalar fence covers single-root
      // aux tables written before per-source fences existed). A crash-retry
      // whose aux commit already landed must NOT recompute deltas against
      // the post-merge aux (it would read its own application as a
      // mismatch) — fully-applied intervals skip straight to the counts.
      val auxF = aux.snapshot.writerFences
      val v0aux: Map[String, Long] = baselines.map { case (r0, b) =>
        val legacy = if (baselines.size == 1) auxF.getOrElse(writerId, -1L) else -1L
        r0 -> math.max(b,
          math.max(legacy, auxF.getOrElse(s"$writerId#$r0", -1L)))
      }
      if (v0aux.exists { case (r0, v) => v < targets(r0) }) {
        val (ipm, dpm) =
          if (v0aux == baselines) (insPairs, delPairs) else auxPairsFor(v0aux)
        val ip = ipm(a.name).where(fcol("__val").isNotNull)
          .withColumn("__sgn", lit(1L))
        val dp = dpm(a.name).where(fcol("__val").isNotNull)
          .withColumn("__sgn", lit(-1L))
        val net = ip.unionByName(dp).groupBy(keys.map(fcol): _*)
          .agg(fsum(fcol("__sgn")).as("__net")).where(fcol("__net") =!= 0)
        // null-key guard folded into the single-action counts below (comb
        // preserves exactly net's keys — r19)
        val n = net.alias("n")
        val nKeys = net.select(keys.map(fcol): _*).alias("k")
        val semi = keys.map(c => fcol(s"a.$c") <=> fcol(s"k.$c")).reduce(_ && _)
        val aSub = aux.scan().alias("a").join(nKeys, semi, "left_semi").alias("a")
        val cond = keys.map(c => fcol(s"n.$c") <=> fcol(s"a.$c")).reduce(_ && _)
        val comb = materialize(spark, n.join(aSub, cond, "left")
          .select((keys.map(c => fcol(s"n.$c").as(c)) :+
            (coalesce(fcol("a.cnt"), lit(0L)) + fcol("n.__net")).as("cnt")): _*),
          // the bound covers the storage interval only, not an aux catch-up
          if (v0aux == baselines) rowBound else Long.MaxValue)
        val (_, Seq(nNeg, nullKeys)) = comb.counts(fcol("cnt") < 0, anyNull(groupCols))
        if (nullKeys > 0) throw new IllegalStateException(
          s"NULL group key in incremental delta ($nullKeys rows) — " +
            "PK merge cannot apply it; falling back to full recompute")
        if (nNeg > 0) throw new IllegalStateException(
          s"$nNeg negative distinct-value counts — baseline/interval mismatch")
        aux.merge(comb.df.where(fcol("cnt") > 0),
          comb.df.where(fcol("cnt") === 0).select(keys.map(fcol): _*),
          batchId = batchId, writerId = Some(writerId),
          extraFences = targets.map { case (r0, v) => s"$writerId#$r0" -> v })
      }
      GraftViewTestHooks.failAfterAuxCommit.foreach(f => f(a.name))
      // post-merge overlay value per CHANGED group, read from the live aux
      // rows: count_distinct = live-value count (0 when all vanished —
      // group-death itself is count_star's business); sum_distinct =
      // SUM(__val) and avg_distinct = AVG(__val), both naturally NULL when
      // the group's last distinct value retracts (E182)
      val changed = insPairs(a.name).select(groupCols.map(fcol): _*)
        .unionByName(delPairs(a.name).select(groupCols.map(fcol): _*))
        .distinct().alias("g")
      val s2 = aux.scan().alias("s2")
      val gcond = groupCols.map(c => fcol(s"g.$c") <=> fcol(s"s2.$c")).reduce(_ && _)
      val overlayExpr = a.kind match {
        case "count_distinct" =>
          fsum(when(fcol("s2.cnt").isNotNull, 1L).otherwise(0L))
        case "sum_distinct" => fsum(fcol("s2.__val"))
        case "avg_distinct" => org.apache.spark.sql.functions.avg(fcol("s2.__val"))
        // E197: MIN/MAX re-derive from the LIVE value multiset — exactly
        // the "un-see the deleted extremum" the cheap fold cannot do
        case "min" => org.apache.spark.sql.functions.min(fcol("s2.__val"))
        case "max" => org.apache.spark.sql.functions.max(fcol("s2.__val"))
        case other => throw new IllegalStateException(s"unexpected aux kind $other")
      }
      val counts = changed.join(s2, gcond, "left")
        .groupBy(groupCols.map(c => fcol(s"g.$c").as(c)): _*)
        .agg(overlayExpr.as("__dc"))
      a -> counts
    }
    val (_, nG, v, r) = mergeAggDeltaRetract(spark, storage, dIns, dDel,
      groupCols, aggCols, batchId, writerId, root, extraFences,
      distinctCounts = overlays, rowBound = rowBound)
    (s"incremental-$tier: $nG groups merged", nG, v, r)
  }


  /** Drop every count_distinct aux table under a view root — called by the
    * full-recompute path (a storage replace invalidates the counts; the
    * next incremental refresh re-bootstraps from its new baseline). */
  def dropDistinctAux(viewRoot: String): Unit = {
    val dir = java.nio.file.Paths.get(viewRoot)
    if (java.nio.file.Files.isDirectory(dir)) {
      val s = java.nio.file.Files.list(dir)
      try {
        s.iterator().asScala
          .filter(_.getFileName.toString.startsWith("_aux_d_"))
          .foreach { p =>
            java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
              .foreach(java.nio.file.Files.deleteIfExists(_))
          }
      } finally s.close()
    }
  }

  /** The aggregate kinds maintained through the value-count aux table
    * (E180/E182): COUNT/SUM/AVG over DISTINCT values. */
  private[sql] def isDistinctKind(k: String): Boolean =
    k == "count_distinct" || k == "sum_distinct" || k == "avg_distinct"

  /** The kinds routed through the value-count aux for a given view: the
    * distinct family always; MIN/MAX too when the view OPTS IN via
    * `TBLPROPERTIES('retract_minmax'='true')` (E197 — the aux's live
    * per-group value multiset is exactly what "un-seeing" a deleted
    * extremum needs; the cost is aux maintenance on every interval, which
    * is why it is an explicit opt-in rather than the default cheap
    * least/greatest fold). */
  private def auxKindsFor(props: Map[String, String]): Set[String] =
    Set("count_distinct", "sum_distinct", "avg_distinct") ++
      (if (props.get("retract_minmax").contains("true")) Set("min", "max")
       else Set.empty[String])

  /** DISTINCT-aggregate support (E180/E182): the value must be PK-able in
    * the aux table (string/integral for COUNT — the same constraint the
    * engine's MERGE places on any key; integral only for SUM/AVG, which
    * must also arithmetic over it), and the rest of the agg set must be
    * the full-IVM shape ([[retractEligible]] — the distinct path routes
    * every interval, append-only included, through the retraction-shaped
    * merge). */
  private def distinctSupportOk(aggCols: Seq[AggOut],
      auxKinds: Set[String]): Boolean = {
    import org.apache.spark.sql.types._
    aggCols.filter(a => auxKinds(a.kind)).forall(a =>
      a.arg.exists(_.dataType match {
        // the value is the aux PK; SUM/AVG must also arithmetic over it
        case StringType =>
          a.kind == "count_distinct" || a.kind == "min" || a.kind == "max"
        case LongType | IntegerType | ShortType | ByteType => true
        case _ => false
      })) && retractEligible(aggCols, auxKinds)
  }

  private def retractEligible(aggCols: Seq[AggOut],
      auxKinds: Set[String] = Set.empty): Boolean = {
    val kindsOk = aggCols.forall(a =>
      (Set("sum", "count", "count_star", "avg", "count_distinct",
        "sum_distinct", "avg_distinct", "derived") ++ auxKinds)(a.kind))
    val hasStar = aggCols.exists(_.kind == "count_star")
    def countFor(arg: org.apache.spark.sql.catalyst.expressions.Expression): Boolean =
      aggCols.exists(c => c.kind == "count" && c.arg.exists(_.semanticEquals(arg)))
    val sumsCovered = aggCols.filter(_.kind == "sum")
      .forall(s => s.arg.exists(countFor))
    kindsOk && hasStar && sumsCovered
  }

  /**
   * Retraction merge — the full incremental-view-maintenance step: per
   * group, NEW = stored + Σ(insert images) − Σ(delete images) for SUM and
   * COUNT (an update is a delete+insert pair in the net changelog and nets
   * out exactly); a group whose COUNT(*) reaches zero is DELETED from
   * storage; a SUM whose paired COUNT(x) reaches zero becomes NULL.
   * Same scale shape as the append-only path (storage semi-filtered to the
   * delta's keys, one fenced MERGE commit carrying upserts + deletes).
   */
  private def mergeAggDeltaRetract(spark: SparkSession,
      storage: graft.table.TransactionalTable,
      dIns: org.apache.spark.sql.DataFrame, dDel: org.apache.spark.sql.DataFrame,
      groupCols: Seq[String], aggCols: Seq[AggOut],
      v1: Long, writerId: String, root: String,
      extraFences: Map[String, Long] = Map.empty,
      /** E180: per count_distinct output, the post-merge aux counts
        * (groupCols…, __dc) to OVERLAY onto the combined frame. */
      distinctCounts: Seq[(AggOut, org.apache.spark.sql.DataFrame)] = Nil,
      rowBound: Long = Long.MaxValue)
      : (String, Long, Long, String) = {
    import org.apache.spark.sql.functions.{coalesce, lit, when}
    // net delta: full outer ins/del per group (a group may appear on either
    // side only), both sides prefixed to dodge name collisions
    def prefixed(df: org.apache.spark.sql.DataFrame, p: String) =
      df.select(df.columns.map(c => fcol(c).as(s"$p$c")).toIndexedSeq: _*)
    val i = prefixed(dIns, "_gi_")
    val x = prefixed(dDel, "_gx_")
    val ioCond = groupCols.map(c => fcol(s"_gi_$c") <=> fcol(s"_gx_$c")).reduce(_ && _)
    val net = i.join(x, ioCond, "full_outer")
      .select(groupCols.map(c => coalesce(fcol(s"_gi_$c"), fcol(s"_gx_$c")).as(c)) ++
        aggCols.flatMap(a => Seq(fcol(s"_gi_${a.name}"), fcol(s"_gx_${a.name}"))): _*)
    // null-key guard folded into the post-checkpoint single-action counts
    // below (combined preserves exactly net's group keys)
    val d = net.alias("d")
    val dKeys = net.select(groupCols.map(fcol): _*).alias("k")
    val semiCond = groupCols.map(c => fcol(s"s.$c") <=> fcol(s"k.$c")).reduce(_ && _)
    val sSub = storage.scan().alias("s").join(dKeys, semiCond, "left_semi").alias("s")
    val keyCond = groupCols.map(c => fcol(s"d.$c") <=> fcol(s"s.$c")).reduce(_ && _)
    def z(c: org.apache.spark.sql.Column, tpe: org.apache.spark.sql.types.DataType) =
      coalesce(c, lit(0).cast(tpe))
    // counts first (sum null-guards reference them)
    def newCountExpr(a: AggOut): org.apache.spark.sql.Column = {
      val tpe = storage.schema(a.name).dataType
      (z(fcol(s"s.${a.name}"), tpe) + z(fcol(s"d._gi_${a.name}"), tpe) -
        z(fcol(s"d._gx_${a.name}"), tpe)).cast(tpe)
    }
    val countByArg: Map[String, AggOut] = aggCols.collect {
      case a if a.kind == "count" && a.arg.isDefined =>
        a.arg.get.canonicalized.toString -> a
    }.toMap
    val auxNames = distinctCounts.map(_._1.name).toSet
    val combinedCols = groupCols.map(c => fcol(s"d.$c").as(c)) ++ aggCols.map { a =>
      val tpe = storage.schema(a.name).dataType
      // any aux-overlaid column (distinct family; MIN/MAX under E197) is a
      // placeholder here — the real value lands from the aux below
      (if (auxNames(a.name)) lit(null) else a.kind match {
        case "count" | "count_star" => newCountExpr(a)
        case "sum" =>
          val pairedCount = countByArg(a.arg.get.canonicalized.toString)
          val raw = (z(fcol(s"s.${a.name}"), tpe) + z(fcol(s"d._gi_${a.name}"), tpe) -
            z(fcol(s"d._gx_${a.name}"), tpe))
          when(newCountExpr(pairedCount) === 0, lit(null)).otherwise(raw)
        // AVG (E179): recomputed from the netted SUM/COUNT companions; NULL
        // when the group's last non-null input retracts
        case "avg" =>
          val arg = a.arg.get
          val sC = aggCols.find(x =>
            x.kind == "sum" && x.arg.exists(_.semanticEquals(arg))).get
          val nC = countByArg(arg.canonicalized.toString)
          val sTpe = storage.schema(sC.name).dataType
          val nNew = newCountExpr(nC)
          val sNew = z(fcol(s"s.${sC.name}"), sTpe) +
            z(fcol(s"d._gi_${sC.name}"), sTpe) - z(fcol(s"d._gx_${sC.name}"), sTpe)
          when(nNew === 0, lit(null))
            .otherwise(sNew.cast(org.apache.spark.sql.types.DoubleType) / nNew)
        // E180/E182: placeholder — the real value is overlaid from the aux
        case "count_distinct" | "sum_distinct" | "avg_distinct" => lit(null)
        // E194: placeholder — recomputed below from the merged companions
        case "derived" => lit(null)
        case other => throw new IllegalStateException(s"unexpected retract kind $other")
      }).cast(tpe).as(a.name)
    }
    val starName = aggCols.find(_.kind == "count_star").get.name
    val combined0 = d.join(sSub, keyCond, "left").select(combinedCols: _*)
      .select(storage.schema.fieldNames.map(fcol).toIndexedSeq: _*)
    // E180/E182 overlay: DISTINCT-aggregate columns read the post-merge AUX
    // values per group (every combined group is a changed group, so the
    // counts frame covers it). COUNT coalesces to 0 (belt-and-braces);
    // SUM/AVG stay NULL when the group's last distinct value retracted.
    val combinedX = distinctCounts.foldLeft(combined0) { case (acc, (a, cnts)) =>
      val cond2 = groupCols.map(k => fcol(s"c.$k") <=> fcol(s"x.$k")).reduce(_ && _)
      val overlaid =
        if (a.kind == "count_distinct") coalesce(fcol("x.__dc"), lit(0L))
        else fcol("x.__dc")
      acc.alias("c").join(cnts.alias("x"), cond2, "left")
        .select(storage.schema.fieldNames.map { f =>
          if (f == a.name)
            overlaid.cast(storage.schema(f).dataType).as(f)
          else fcol(s"c.$f")
        }.toIndexedSeq: _*)
    }
    // E194: derived columns recompute per merged group (after the distinct
    // overlays; embedded DISTINCT aggregates are gated out at classification)
    val combinedY = aggCols.filter(_.kind == "derived").foldLeft(combinedX) {
      (df, a) => df.withColumn(a.name,
        derivedColumn(a, aggCols).cast(storage.schema(a.name).dataType))
    }
    // one computation feeds the sanity check + both merge legs
    val combined = materialize(spark, combinedY, rowBound)
    // sanity + group count: a negative row count means the baseline diverged
    // from the interval (should be impossible under the fence) — refuse
    // loudly rather than commit garbage
    val (nGroups, Seq(nNeg, nullKeys)) =
      combined.counts(fcol(starName) < 0, anyNull(groupCols))
    if (nullKeys > 0) throw new IllegalStateException(
      s"NULL group key in incremental delta ($nullKeys rows) — " +
        "PK merge cannot apply it; falling back to full recompute")
    if (nNeg > 0) throw new IllegalStateException(
      s"retraction produced $nNeg negative group counts — baseline/interval mismatch")
    val upserts = combined.df.where(fcol(starName) > 0)
    val dead = combined.df.where(fcol(starName) === 0)
      .select(storage.pkCols.map(fcol): _*)
    storage.merge(upserts, dead, batchId = v1, writerId = Some(writerId),
      extraFences = extraFences)
    (s"incremental-agg-retract: $nGroups groups net-merged", nGroups, v1, root)
  }

  /**
   * ROW-level retraction merge (E177): for a KEYED row-preserving MV —
   * the user declared `TBLPROPERTIES('pk')`, the contract that the
   * definition emits at most one row per key (the reference's
   * enriched-fact shape: state-store fact ⋈ dims) — a delete-bearing
   * interval nets by FULL ROW with signed counts: +1 per insert-term
   * row, −1 per delete-term row. Per key the net is {+new}, {−old}, or
   * {−old, +new} — every intermediate mixed product the signed
   * telescoping expansion emits (e.g. old-fact ⋈ new-dim when both
   * sources change) appears once with each sign and cancels — so rows
   * netting positive MERGE as upserts and keys whose rows net negative
   * with no positive survivor are deleted. Cost O(Δ ⋈ others), one
   * delta-sized hash aggregation, one fenced MERGE — never O(view).
   */
  private def mergeRowDeltaRetract(spark: SparkSession,
      storage: graft.table.TransactionalTable,
      insRows: org.apache.spark.sql.DataFrame,
      delRows: org.apache.spark.sql.DataFrame,
      v1: Long, writerId: String,
      extraFences: Map[String, Long] = Map.empty,
      rowBound: Long = Long.MaxValue): Long = {
    import org.apache.spark.sql.functions.{lit, sum => fsum}
    val cols = storage.schema.fieldNames.toIndexedSeq
    val signed = insRows.select(cols.map(fcol): _*).withColumn("__sgn", lit(1L))
      .unionByName(delRows.select(cols.map(fcol): _*).withColumn("__sgn", lit(-1L)))
    // one computation of the terms feeds both merge legs
    val net = materialize(spark, signed.groupBy(cols.map(fcol): _*)
      .agg(fsum(fcol("__sgn")).as("__net")).where(fcol("__net") =!= 0), rowBound)
    val upserts = net.df.where(fcol("__net") > 0).drop("__net")
    val upsertKeys = upserts.select(storage.pkCols.map(fcol): _*).alias("u")
    val deadCond = storage.pkCols
      .map(c => fcol(s"n.$c") <=> fcol(s"u.$c")).reduce(_ && _)
    val dead = net.df.where(fcol("__net") < 0)
      .select(storage.pkCols.map(fcol): _*).alias("n")
      .join(upsertKeys, deadCond, "left_anti").distinct()
    val (n, _) = net.counts()
    storage.merge(upserts, dead, batchId = v1, writerId = Some(writerId),
      extraFences = extraFences)
    n
  }
}

/**
 * Transparent materialized-view REWRITE (the exact-match tier of
 * Calcite/Oracle-style query acceleration): a query subtree that computes
 * EXACTLY what a FRESH materialized view stores is replaced with a scan of
 * the view's storage table — the user keeps writing queries against the
 * source, and a maintained MV silently answers them.
 *
 * Deliberately conservative:
 *  - OPT-IN per session: `spark.graft.mv.rewrite` lists the candidate views
 *    (`cat.db.mv,...`); unset → the rule is a no-op with zero overhead.
 *    An explicit candidate list is the Oracle/Calcite posture — planning
 *    cost and rewrite surprise stay under operator control.
 *  - Only a FRESH view rewrites: every recorded source version must equal
 *    the source's current version (the same staleness check refresh_mv
 *    uses). A stale or externally-sourced MV never silently serves old data
 *    — the query falls through to the source, which is always correct.
 *  - Only an EXACT match rewrites: `LogicalPlan.sameResult` on analyzed
 *    plans (Spark's own CacheManager matching — canonicalized exprIds,
 *    alias-name-insensitive, position-correlated outputs). Containment
 *    rewriting (query = aggregation OVER the view) is out of scope.
 *
 * The definition's analyzed plan is cached by content digest (same idiom as
 * the view-definition cache); freshness re-checks per query from manifest
 * pointers (cheap). Requires [[GraftSqlTable]]'s value equality — two
 * independent loads of one table at one snapshot must compare equal for
 * sameResult to hold across separately analyzed plans.
 */
class GraftMvRewriteRule(spark: SparkSession) extends Rule[LogicalPlan] {

  import GraftMvRewriteRule._

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val conf = spark.conf.get(ConfKey, "")
    if (conf.trim.isEmpty || !plan.resolved) return plan
    // re-entrancy guard: analyzing a candidate's DEFINITION runs the full
    // analyzer (this rule included) — without the guard that recurses
    // unboundedly, and a fresh definition would even match ITSELF
    if (analyzing.get()) return plan
    val candidates = conf.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      .flatMap(resolveCandidate)
    if (candidates.isEmpty) return plan
    plan.resolveOperatorsUp {
      case p if p.resolved =>
        // cheap pre-gates (node class + width) keep the canonicalization
        // cost of sameResult off every node of every query
        candidates.find(c =>
          p.getClass == c.defPlan.getClass &&
            p.schema.length == c.defPlan.schema.length &&
            p.sameResult(c.defPlan)) match {
          case Some(c) =>
            val storagePlan = c.storageScan().queryExecution.analyzed
            // position-correlated outputs (sameResult contract): alias the
            // storage columns back to the query subtree's names/exprIds
            Project(
              p.output.zip(storagePlan.output).map { case (o, n) =>
                org.apache.spark.sql.catalyst.expressions.Alias(n, o.name)(
                  exprId = o.exprId, qualifier = o.qualifier)
              },
              storagePlan)
          case None => p match {
            // ROLL-UP tier: a coarser GROUP BY over the same input (modulo
            // a narrower WHERE — the filter-subsumption extension) re-
            // aggregates the MV instead of the source. When no aggregate MV
            // matches, the JOIN-CONTAINMENT tier tries row-preserving MVs:
            // a query aggregating the very rows an MV stores 1:1 (its
            // joined/filtered core) aggregates MV STORAGE instead of
            // recomputing the join.
            case agg: org.apache.spark.sql.catalyst.plans.logical.Aggregate =>
              candidates.view.flatMap(c => rollup(agg, c)).headOption
                .orElse(candidates.view.flatMap(c => aggOverRows(agg, c)).headOption)
                // COUNT(DISTINCT) roll-ups answer from the E180 value-count
                // aux (maintained acceleration state that was unqueryable
                // through r15)
                .orElse(candidates.view.flatMap(c => rollupDistinct(agg, c)).headOption)
                .getOrElse(p)
            // FILTER-SUBSUMPTION tier (row-preserving): a query whose WHERE
            // strictly narrows the MV's WHERE scans the MV + residual filter
            case _: Filter | _: Project =>
              candidates.view.flatMap(c => filterSubsume(p, c)).headOption.getOrElse(p)
            case _ => p
          }
        }
    }
  }

  private def splitConj(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
      splitConj(l) ++ splitConj(r)
    case other => Seq(other)
  }

  /** Conjuncts of a plan's top Filter (empty when unfiltered) + the core
    * below it. */
  private def splitFilter(p: LogicalPlan)
      : (Seq[org.apache.spark.sql.catalyst.expressions.Expression], LogicalPlan) = p match {
    case Filter(cond, child) => (splitConj(cond), child)
    case other => (Nil, other)
  }

  /**
   * Filter-subsumption rewrite for ROW-PRESERVING MVs (the third classic
   * acceleration tier, after exact match and roll-up): a query whose WHERE
   * conjunctively CONTAINS the MV definition's WHERE — i.e. strictly
   * narrows it — is answered by scanning the MV's storage and applying only
   * the RESIDUAL conjuncts, provided every residual conjunct and every
   * query output is expressible over columns the MV exposes. Sound because
   * the MV stores exactly the rows passing its own WHERE, and the residual
   * re-derives the narrower set from those rows (conjunct-set containment —
   * no general implication proving, the Calcite/Oracle practical subset).
   */
  private def filterSubsume(p: LogicalPlan, c: Candidate): Option[LogicalPlan] = {
    import org.apache.spark.sql.catalyst.expressions._
    // query side: [Project] over Filter over core (a bare Filter keeps its
    // child's attributes as outputs)
    val (qOuts, qConds, qCore) = p match {
      case Project(pr, Filter(cond, core)) => (pr, splitConj(cond), core)
      case Filter(cond, core) => (core.output, splitConj(cond), core)
      // bare narrower projection (no WHERE): the join-containment shape —
      // e.g. a column subset of the MV's stored join. Containment then
      // requires an UNFILTERED MV (its conjunct set must be ⊆ ∅ below).
      case Project(pr, core) => (pr, Nil, core)
      case _ => return None
    }
    // MV side: same shapes; an UNFILTERED projection MV subsumes any WHERE
    val (mOuts: Seq[NamedExpression], mConds, mCore) = c.defPlan match {
      case Project(pr, Filter(cond, core)) => (pr, splitConj(cond), core)
      case Filter(cond, core) => (core.output, splitConj(cond), core)
      case Project(pr, core) => (pr, Nil, core)
      case _ => return None
    }
    if (qCore.canonicalized != mCore.canonicalized) return None
    // rebase query-side attributes onto the MV core's (same canonical core
    // ⇒ position-correlated outputs — the roll-up tier's machinery)
    val q2m: Map[ExprId, Attribute] =
      qCore.output.zip(mCore.output).map { case (a, b) => a.exprId -> b }.toMap
    def rebase(e: Expression): Expression = e.transformUp {
      case a: AttributeReference => q2m.getOrElse(a.exprId, a)
    }
    val rebasedQ = qConds.map(rebase)
    // every MV conjunct must appear among the query's (⇒ query ⊆ MV rows);
    // the residual is whatever the query adds on top
    if (!mConds.forall(mc => rebasedQ.exists(_.semanticEquals(mc)))) return None
    val residual = rebasedQ.filterNot(qc => mConds.exists(qc.semanticEquals))
    val storagePlan = c.storageScan().queryExecution.analyzed
    val mOut: Seq[(Expression, Attribute)] =
      mOuts.zip(storagePlan.output).map { case (mo, attr) =>
        (mo match { case Alias(x, _) => x; case x => x }, attr) }
    // express an MV-core-space expression over the storage columns: replace
    // every (maximal) subexpression the MV exposes with its storage column;
    // any surviving core attribute means the MV does not carry the column
    def overStorage(e: Expression): Option[Expression] = {
      val rewritten = e.transformDown {
        case sub if mOut.exists(_._1.semanticEquals(sub)) =>
          mOut.find(_._1.semanticEquals(sub)).get._2
      }
      val storageSet = AttributeSet(storagePlan.output)
      if (rewritten.references.subsetOf(storageSet)) Some(rewritten) else None
    }
    val residual2 = residual.map(overStorage)
    if (residual2.exists(_.isEmpty)) return None
    val outputs2 = qOuts.map { ne =>
      overStorage(rebase(ne match { case Alias(x, _) => x; case x => x }))
        .map(e2 => Alias(e2, ne.name)(exprId = ne.exprId, qualifier = ne.qualifier))
    }
    if (outputs2.exists(_.isEmpty)) return None
    val filtered =
      if (residual2.isEmpty) storagePlan
      else Filter(residual2.map(_.get).reduce(And), storagePlan)
    Some(Project(outputs2.map(_.get), filtered))
  }

  /**
   * JOIN-CONTAINMENT tier (the remaining classic Calcite/Oracle rewrite
   * after exact / roll-up / filter-subsumption): a query AGGREGATING the
   * rows a ROW-PRESERVING MV stores 1:1 — typically the MV's join of a
   * fact to its dimensions, optionally narrowed by a subsumed WHERE — is
   * answered by running the SAME aggregation over MV storage (+ the
   * residual filter). Sound for EVERY aggregate (AVG, DISTINCT included):
   * the MV is row-preserving, so storage rows ARE the core's rows passing
   * the MV WHERE, and the residual re-derives the narrower set — nothing
   * is pre-aggregated. Requirements: canonically identical cores, MV
   * conjuncts ⊆ query conjuncts, and every grouping / aggregate-input /
   * residual expression expressible over columns the MV exposes.
   */
  private def aggOverRows(q: org.apache.spark.sql.catalyst.plans.logical.Aggregate,
      c: Candidate): Option[LogicalPlan] = {
    import org.apache.spark.sql.catalyst.expressions._
    // MV must be row-preserving (an aggregate MV is rollup's business)
    val (mOuts: Seq[NamedExpression], mConds, mCore) = c.defPlan match {
      case Project(pr, Filter(cond, core)) => (pr, splitConj(cond), core)
      case Filter(cond, core) => (core.output, splitConj(cond), core)
      case Project(pr, core) => (pr, Nil, core)
      case _ => return None
    }
    val (qConds, qCore) = splitFilter(q.child)
    if (qCore.canonicalized != mCore.canonicalized) return None
    val q2m: Map[ExprId, Attribute] =
      qCore.output.zip(mCore.output).map { case (a, b) => a.exprId -> b }.toMap
    def rebase(e: Expression): Expression = e.transformUp {
      case a: AttributeReference => q2m.getOrElse(a.exprId, a)
    }
    val rebasedQ = qConds.map(rebase)
    if (!mConds.forall(mc => rebasedQ.exists(_.semanticEquals(mc)))) return None
    val residual = rebasedQ.filterNot(qc => mConds.exists(qc.semanticEquals))
    val storagePlan = c.storageScan().queryExecution.analyzed
    val mOut: Seq[(Expression, Attribute)] =
      mOuts.zip(storagePlan.output).map { case (mo, attr) =>
        (mo match { case Alias(x, _) => x; case x => x }, attr) }
    def overStorage(e: Expression): Option[Expression] = {
      val rewritten = e.transformDown {
        case sub if mOut.exists(_._1.semanticEquals(sub)) =>
          mOut.find(_._1.semanticEquals(sub)).get._2
      }
      if (rewritten.references.subsetOf(AttributeSet(storagePlan.output)))
        Some(rewritten)
      else None
    }
    val residual2 = residual.map(overStorage)
    if (residual2.exists(_.isEmpty)) return None
    val groups2 = q.groupingExpressions.map(g => overStorage(rebase(g)))
    if (groups2.exists(_.isEmpty)) return None
    val aggs2: Seq[Option[NamedExpression]] = q.aggregateExpressions.map { ne =>
      overStorage(rebase(ne match { case Alias(x, _) => x; case x => x }))
        .map(e2 => Alias(e2, ne.name)(exprId = ne.exprId, qualifier = ne.qualifier))
    }
    if (aggs2.exists(_.isEmpty)) return None
    val source =
      if (residual2.isEmpty) storagePlan
      else Filter(residual2.map(_.get).reduce(And), storagePlan)
    Some(org.apache.spark.sql.catalyst.plans.logical.Aggregate(
      groups2.map(_.get), aggs2.map(_.get), source))
  }

  /**
   * Roll-up rewrite (the aggregation-containment tier): a query that groups
   * the SAME input by a SUBSET of a candidate MV's group keys, computing
   * SUM/COUNT/MIN/MAX the MV also stores, is answered by RE-AGGREGATING the
   * MV — SUM of sums, SUM of counts, MIN of mins, MAX of maxes (the roll-up
   * algebra; COUNT becomes SUM over the stored per-group counts). Global
   * aggregates (empty query grouping) roll up too, with COUNT coalesced to
   * 0 for the empty-storage case. Requirements, all checked structurally:
   * identical child plans (canonicalized), every query grouping expression
   * and aggregate input matched against the MV's OUTPUTS by semantic
   * equality after rebasing the query-child attributes onto the MV child's
   * (position-correlated — same canonical child), no DISTINCT/FILTER on
   * either side, AVG and any unmatched expression fall through to the
   * source.
   */
  private def rollup(q: org.apache.spark.sql.catalyst.plans.logical.Aggregate,
      c: Candidate): Option[LogicalPlan] = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.expressions.aggregate._
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    val m = c.defPlan match { case a: Aggregate => a; case _ => return None }
    // FILTER SUBSUMPTION under the aggregate (the same conjunct-containment
    // contract as the row-preserving tier): the query's WHERE must contain
    // every MV WHERE conjunct; the residual — conjuncts the query adds —
    // filters the STORED GROUPS, which is sound only when each residual
    // conjunct is a function of the MV's group key (rows of one group agree
    // on it), enforced below by requiring it to rewrite over GROUP outputs.
    val (qConds, qCore) = splitFilter(q.child)
    val (mConds, mCore) = splitFilter(m.child)
    if (qCore.canonicalized != mCore.canonicalized) return None
    // rebase query-child attribute references onto the MV child's output
    // (cores are canonically identical ⇒ outputs correspond by position;
    // a Filter passes its child's attributes through unchanged)
    val q2m: Map[ExprId, Attribute] =
      qCore.output.zip(mCore.output).map { case (a, b) => a.exprId -> b }.toMap
    def rebase(e: Expression): Expression = e.transformUp {
      case a: AttributeReference => q2m.getOrElse(a.exprId, a)
    }
    def stripAlias(e: Expression): Expression = e match {
      case Alias(x, _) => x
      case x => x
    }
    val rebasedConds = qConds.map(rebase)
    if (!mConds.forall(mc => rebasedConds.exists(_.semanticEquals(mc)))) return None
    val residual = rebasedConds.filterNot(qc => mConds.exists(qc.semanticEquals))
    // pure roll-up must be strictly coarser (an identical-grain, identical-
    // filter query is the exact tier's match); a residual filter makes the
    // same grain legitimately narrower than the MV
    if (residual.isEmpty &&
      q.groupingExpressions.size >= m.groupingExpressions.size) return None
    if (q.groupingExpressions.size > m.groupingExpressions.size) return None
    val storagePlan = c.storageScan().queryExecution.analyzed
    val mOut: Seq[(NamedExpression, Attribute)] =
      m.aggregateExpressions.zip(storagePlan.output)
    def isAggOut(ne: NamedExpression) = ne.exists(_.isInstanceOf[AggregateExpression])
    // match a rebased query expression against an MV GROUP output's column
    def groupCol(target: Expression): Option[Attribute] = mOut.collectFirst {
      case (mo, attr) if !isAggOut(mo) && stripAlias(mo).semanticEquals(target) => attr
    }
    // every query grouping expression must be exposed by the MV
    val groupAttrs = q.groupingExpressions.map(g => groupCol(rebase(g)))
    if (groupAttrs.exists(_.isEmpty)) return None
    // each residual conjunct must rewrite over the MV's GROUP outputs alone
    // (filtering stored groups on an aggregate column would not equal
    // filtering source rows); substitute maximal matching subexpressions
    val residualOverGroups: Seq[Option[Expression]] = residual.map { r =>
      val rewritten = r.transformDown {
        case sub if groupCol(sub).isDefined => groupCol(sub).get
      }
      if (rewritten.references.subsetOf(AttributeSet(storagePlan.output)))
        Some(rewritten)
      else None
    }
    if (residualOverGroups.exists(_.isEmpty)) return None
    def cleanAgg(ae: AggregateExpression): Boolean = !ae.isDistinct && ae.filter.isEmpty
    // build each query output on top of the storage columns
    val outputs = q.aggregateExpressions.map { ne =>
      if (!isAggOut(ne)) {
        groupCol(rebase(stripAlias(ne))).map(attr =>
          Alias(attr, ne.name)(exprId = ne.exprId, qualifier = ne.qualifier))
      } else ne match {
        case Alias(ae: AggregateExpression, name) if cleanAgg(ae) =>
          val fn = ae.aggregateFunction
          val rebasedArgs = fn.children.map(rebase)
          // the MV output storing the SAME aggregate of the SAME input
          val matched = mOut.collectFirst {
            case (Alias(mae: AggregateExpression, _), attr)
                if cleanAgg(mae) && mae.aggregateFunction.getClass == fn.getClass &&
                  mae.aggregateFunction.children.size == rebasedArgs.size &&
                  mae.aggregateFunction.children.zip(rebasedArgs)
                    .forall { case (a, b) => a.semanticEquals(b) } => attr
          }
          matched.flatMap { attr =>
            val reAgg: Option[Expression] = fn match {
              case _: Sum => Some(AggregateExpression(Sum(attr), Complete, isDistinct = false))
              case _: Count =>
                val s = AggregateExpression(Sum(attr), Complete, isDistinct = false)
                // a GLOBAL count over empty storage must be 0, not NULL
                Some(if (q.groupingExpressions.isEmpty)
                  Coalesce(Seq(s, Literal(0L))) else s)
              case _: Min => Some(AggregateExpression(Min(attr), Complete, isDistinct = false))
              case _: Max => Some(AggregateExpression(Max(attr), Complete, isDistinct = false))
              case _ => None
            }
            reAgg.map { e =>
              val typed = if (e.dataType == ne.dataType) e else Cast(e, ne.dataType)
              Alias(typed, name)(exprId = ne.exprId, qualifier = ne.qualifier)
            }
          }
        case _ => None // AVG, expression over an aggregate, distinct, filter
      }
    }
    if (outputs.exists(_.isEmpty)) return None
    val source =
      if (residualOverGroups.isEmpty) storagePlan
      else Filter(residualOverGroups.map(_.get).reduce(And), storagePlan)
    Some(Aggregate(groupAttrs.map(_.get), outputs.map(_.get), source))
  }

  /**
   * DISTINCT-aggregate roll-up tier (E200): a query computing
   * COUNT/SUM/AVG(DISTINCT x) at the MV's grain or coarser cannot roll up
   * from stored values (distinct aggregates are not summable), but the
   * E180 value-count AUX table beside the MV holds exactly the live
   * per-(group, value) multiset the maintenance algebra needs — and the
   * coarser answer is exactly the SAME distinct aggregate over `__val`
   * per coarse group (the DISTINCT dedups values shared across fine
   * groups). Scope, checked structurally: same canonical core, MV WHERE
   * conjuncts ⊆ query conjuncts (residuals must rewrite over the MV's
   * GROUP outputs — aux rows of one group agree on them), every query
   * grouping expression exposed by the MV, and the aggregate outputs are
   * group columns plus clean DISTINCT aggregates (Count/Sum/Average, no
   * FILTER) that ALL share ONE argument matching some MV distinct output
   * with a live aux table (a full-recompute refresh drops the aux — the
   * tier then falls through to the source, which is always correct). The
   * aux is always at least as fresh as storage (its merge commits FIRST in
   * every incremental refresh), so a fresh candidate implies a fresh aux.
   */
  private def rollupDistinct(q: org.apache.spark.sql.catalyst.plans.logical.Aggregate,
      c: Candidate): Option[LogicalPlan] = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.expressions.aggregate._
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    val m = c.defPlan match { case a: Aggregate => a; case _ => return None }
    val (qConds, qCore) = splitFilter(q.child)
    val (mConds, mCore) = splitFilter(m.child)
    if (qCore.canonicalized != mCore.canonicalized) return None
    val q2m: Map[ExprId, Attribute] =
      qCore.output.zip(mCore.output).map { case (a, b) => a.exprId -> b }.toMap
    def rebase(e: Expression): Expression = e.transformUp {
      case a: AttributeReference => q2m.getOrElse(a.exprId, a)
    }
    def stripAlias(e: Expression): Expression = e match {
      case Alias(x, _) => x
      case x => x
    }
    val rebasedConds = qConds.map(rebase)
    if (!mConds.forall(mc => rebasedConds.exists(_.semanticEquals(mc)))) return None
    val residual = rebasedConds.filterNot(qc => mConds.exists(qc.semanticEquals))
    // identical grain + identical filter belongs to the exact tier
    if (residual.isEmpty &&
      q.groupingExpressions.size >= m.groupingExpressions.size) return None
    if (q.groupingExpressions.size > m.groupingExpressions.size) return None
    def isAggOut(ne: NamedExpression) = ne.exists(_.isInstanceOf[AggregateExpression])
    def cleanDistinct(ae: AggregateExpression): Boolean =
      ae.isDistinct && ae.filter.isEmpty &&
        (ae.aggregateFunction.isInstanceOf[Count] ||
          ae.aggregateFunction.isInstanceOf[Sum] ||
          ae.aggregateFunction.isInstanceOf[Average]) &&
        ae.aggregateFunction.children.size == 1
    // every aggregate output must be a clean DISTINCT aggregate, and they
    // must all share ONE argument (one aux serves them all — it is keyed
    // by (group, value), not by which distinct aggregate the MV declared)
    val distinctArgs = q.aggregateExpressions.filter(isAggOut).map {
      case Alias(ae: AggregateExpression, _) if cleanDistinct(ae) =>
        rebase(ae.aggregateFunction.children.head)
      case _ => return None
    }
    if (distinctArgs.isEmpty) return None
    val distinctArg = distinctArgs.head
    if (!distinctArgs.forall(_.semanticEquals(distinctArg))) return None
    // any MV output storing a distinct aggregate of the SAME argument
    // names a live aux with the right content
    val mvOutName = m.aggregateExpressions.collectFirst {
      case al @ Alias(mae: AggregateExpression, _)
          if cleanDistinct(mae) &&
            mae.aggregateFunction.children.head.semanticEquals(distinctArg) =>
        al.name
    }.getOrElse(return None)
    val auxPlan = c.auxScan(mvOutName) match {
      case Some(scan) => scan().queryExecution.analyzed
      case None => return None // aux dropped by a full recompute — fall through
    }
    def auxCol(name: String): Option[Attribute] =
      auxPlan.output.find(_.name.equalsIgnoreCase(name))
    // group outputs map by NAME: aux group columns are created from the
    // MV's own storage group column names
    def groupName(target: Expression): Option[String] =
      m.aggregateExpressions.collectFirst {
        case ne if !isAggOut(ne) && stripAlias(ne).semanticEquals(target) => ne.name
      }
    def overAux(target: Expression): Option[Attribute] =
      groupName(target).flatMap(auxCol)
    val groupAttrs = q.groupingExpressions.map(g => overAux(rebase(g)))
    if (groupAttrs.exists(_.isEmpty)) return None
    val residualOverAux: Seq[Option[Expression]] = residual.map { r =>
      val rewritten = r.transformDown {
        case sub if overAux(sub).isDefined => overAux(sub).get
      }
      if (rewritten.references.subsetOf(AttributeSet(auxPlan.output)))
        Some(rewritten)
      else None
    }
    if (residualOverAux.exists(_.isEmpty)) return None
    val valAttr = auxCol("__val").getOrElse(return None)
    val cntAttr = auxCol("cnt").getOrElse(return None)
    val outputs = q.aggregateExpressions.map { ne =>
      if (!isAggOut(ne))
        overAux(rebase(stripAlias(ne))).map(attr =>
          Alias(attr, ne.name)(exprId = ne.exprId, qualifier = ne.qualifier))
      else ne match {
        case Alias(ae: AggregateExpression, _) =>
          // the SAME distinct aggregate, re-aimed at the aux's value column
          val fn = ae.aggregateFunction match {
            case _: Count => Count(Seq(valAttr))
            case _: Sum => Sum(valAttr)
            case _: Average => Average(valAttr)
            case other => throw new IllegalStateException(s"unreachable: $other")
          }
          val cd: Expression = AggregateExpression(fn, Complete, isDistinct = true)
          val typed = if (cd.dataType == ne.dataType) cd else Cast(cd, ne.dataType)
          Some(Alias(typed, ne.name)(exprId = ne.exprId, qualifier = ne.qualifier))
        case _ => None
      }
    }
    if (outputs.exists(_.isEmpty)) return None
    // live values only (belt and braces: the maintenance merge already
    // deletes zero-count rows)
    val live: Expression = GreaterThan(cntAttr, Literal(0L))
    val source = Filter((live +: residualOverAux.map(_.get)).reduce(And), auxPlan)
    Some(Aggregate(groupAttrs.map(_.get), outputs.map(_.get), source))
  }

  private final case class Candidate(
      defPlan: LogicalPlan, storageScan: () => org.apache.spark.sql.DataFrame,
      /** MV-output-name → the E180 value-count aux table's scan (None when
        * no aux exists — never bootstrapped, or dropped by a full
        * recompute). */
      auxScan: String => Option[() => org.apache.spark.sql.DataFrame])

  private def resolveCandidate(name: String): Option[Candidate] = try {
    val parts = name.split("\\.").toSeq
    if (parts.length < 3) {
      logWarning(s"$ConfKey entry '$name' is not cat.db.view — skipped"); return None
    }
    val cat = spark.sessionState.catalogManager.catalog(parts.head) match {
      case g: GraftCatalog => g
      case _ => logWarning(s"$ConfKey entry '$name': not a graft catalog"); return None
    }
    if (!GraftViewResolution.viewVisible(cat, parts.tail.init, parts.last)) {
      logWarning(s"$ConfKey entry '$name': no such view"); return None
    }
    val root = GraftViewResolution.viewRoot(cat, parts.tail.init, parts.last)
    val bytes = GraftViewStore.rawBytes(root, cat.linksIo)
    val meta = GraftViewStore.parse(bytes)
    if (!meta.materialized || meta.externalSources) return None
    // freshness: every recorded source is exactly at its recorded version
    val fresh = meta.sourceVersions.nonEmpty && meta.sourceVersions.forall {
      case (r, v) =>
        graft.table.TransactionalTable.exists(r) &&
          graft.table.TransactionalTable.open(spark, r).currentVersion == v
    }
    if (!fresh) return None
    // SHA-256, not a 32-bit hash: a collision after a view redefinition
    // would silently reuse a stale analyzed plan for the wrong definition
    val digest: scala.collection.immutable.ArraySeq[Byte] =
      scala.collection.immutable.ArraySeq.unsafeWrapArray(
        java.security.MessageDigest.getInstance("SHA-256").digest(bytes))
    // definition analysis is the expensive leg — cache by content
    val defPlan = defCache.synchronized {
      Option(defCache.get(root)).filter(_._1 == digest).map(_._2)
    }.getOrElse {
      val cur = meta.current
      analyzing.set(true)
      val analyzed = try {
        val parsed = spark.sessionState.sqlParser.parsePlan(cur.sql)
        val qualified = GraftViewResolution.qualifyNames(
          spark, parsed, cur.currentCatalog, cur.currentNamespace)
        org.apache.spark.sql.graftshim.GraftShims.ofRows(spark,
          org.apache.spark.sql.catalyst.analysis.CTESubstitution(qualified))
          .queryExecution.analyzed
      } finally analyzing.set(false)
      defCache.synchronized { defCache.put(root, (digest, analyzed)); () }
      analyzed
    }
    val storage = graft.table.TransactionalTable.open(
      spark, GraftViewStore.storageRoot(root))
    Some(Candidate(defPlan, () => storage.scan(),
      outName => {
        val auxRoot = s"$root/_aux_d_$outName"
        if (graft.table.TransactionalTable.exists(auxRoot))
          Some(() => graft.table.TransactionalTable.open(spark, auxRoot).scan())
        else None
      }))
  } catch {
    case scala.util.control.NonFatal(e) =>
      logWarning(s"$ConfKey entry '$name' skipped: ${e.getMessage}")
      None
  }
}

object GraftMvRewriteRule {
  /** Comma-separated fully-qualified MV names eligible for rewrite. */
  val ConfKey = "spark.graft.mv.rewrite"
  /** True while a candidate definition is being analyzed on this thread. */
  private val analyzing = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = false
  }
  /** (view root → (SHA-256 of the metadata bytes, analyzed definition)). */
  private val defCache =
    new java.util.LinkedHashMap[String, (scala.collection.immutable.ArraySeq[Byte], LogicalPlan)](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, (scala.collection.immutable.ArraySeq[Byte], LogicalPlan)])
          : Boolean = size > 32
    }
}
