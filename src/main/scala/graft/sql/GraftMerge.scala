package graft.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, CaseWhen,
  Cast, EqualTo, Expression, IsNotNull, IsNull, Literal}
import org.apache.spark.sql.catalyst.plans.{FullOuter, Inner, LeftOuter, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.classic.ClassicConversions._
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.col

import graft.table.TransactionalTable

/**
 * SQL `MERGE INTO` for graft catalog tables — the reference's hot-path
 * statement (`spark_sql_merge_into_iceberg.py:118-122` upsert, `:133-136`
 * delete) runs verbatim against `graft.db.t`.
 *
 * Spark-first shape (brief option (c)): a custom logical Command
 * ([[GraftMergeCommand]]), an analyzer rule ([[GraftMergeRule]]) that rewrites
 * Spark's natively-parsed `MergeIntoTable` when the target is a
 * [[GraftSqlTable]], and a planner strategy ([[GraftMergeStrategy]]) producing
 * the executing node — all registered through [[GraftExtensions]]
 * (`spark.sql.extensions=graft.sql.GraftExtensions`), exactly how Iceberg
 * injects its MERGE support (reference `job:59`).
 *
 * Supported statement shapes (the reference's two, with either star or
 * name-identical explicit assignments, on a PK-equality condition):
 *  - WHEN MATCHED THEN UPDATE SET * / WHEN NOT MATCHED THEN INSERT *  → upsert
 *  - WHEN MATCHED THEN DELETE                                         → delete
 * plus the standalone row-level statements (Iceberg v2's remaining write
 * surface): `DELETE FROM t WHERE c` and `UPDATE t SET ... WHERE c`, both
 * lowered onto the same merge kernels (delete keys / updated-row upserts
 * scanned snapshot-consistently from the target itself).
 * The merge itself is the engine's copy-on-write
 * `TransactionalTable.merge` — file-pruned anti-join + union, atomic snapshot
 * commit.
 */
final case class GraftMergeCommand(
    root: String,
    source: LogicalPlan,
    isDelete: Boolean,
    pk: String,
    /** Timestamp-guarded merge (`WHEN MATCHED AND s.<ts> >= t.<ts>`): the
      * engine's T3 late-data fix (SURVEY §7.5.3), reachable from SQL. */
    guardTs: Option[String] = None,
    /** Full-sync MERGE (`WHEN NOT MATCHED BY SOURCE THEN DELETE`): besides
      * upserting every source row, delete the target keys the source no
      * longer carries — upserts + anti-join delete keys in ONE commit. */
    syncDeleteUnmatched: Boolean = false,
    /** The SQL statement kind this command lowers ("merge" | "delete" |
      * "update") — selects the table's per-operation write mode
      * (write.merge.mode / write.delete.mode / write.update.mode). */
    op: String = "merge") extends UnaryCommand {
  override def child: LogicalPlan = source
  override protected def withNewChildInternal(newChild: LogicalPlan): GraftMergeCommand =
    copy(source = newChild)
}

/**
 * General N-clause `MERGE INTO` (Iceberg/Delta semantics: clauses evaluated in
 * statement order, FIRST matching clause wins, rows matching no clause are
 * untouched). `staged` is a fully-resolved logical plan — an outer join of
 * target and source on the PK condition, projected to one row image per
 * target column plus a `__graft_merge_action` discriminator (`U`psert,
 * `I`nsert, `D`elete, or NULL = no-op). The exec node splits the staged rows
 * into upserts and delete keys and commits both through ONE
 * `mergeAdhoc` snapshot — same transactional guarantees as the star-form
 * fast paths, which remain separate because they skip the join entirely
 * (the merge kernel's file-pruned anti-join is cheaper than a general
 * outer join when the row image is just "take the source row").
 */
final case class GraftGeneralMergeCommand(root: String, staged: LogicalPlan)
    extends UnaryCommand {
  override def child: LogicalPlan = staged
  override protected def withNewChildInternal(newChild: LogicalPlan): GraftGeneralMergeCommand =
    copy(staged = newChild)
}

/** `INSERT INTO graft.db.t ...` — transactional append through the engine. */
final case class GraftAppendCommand(root: String, source: LogicalPlan) extends UnaryCommand {
  override def child: LogicalPlan = source
  override protected def withNewChildInternal(newChild: LogicalPlan): GraftAppendCommand =
    copy(source = newChild)
}

/** `INSERT OVERWRITE graft.db.t [PARTITION (...)] ...` — full-table, static-
  * partition, or dynamic-partition replacement as ONE engine commit. */
final case class GraftOverwriteCommand(root: String, source: LogicalPlan,
    staticPartitions: Option[Seq[String]], dynamic: Boolean) extends UnaryCommand {
  override def child: LogicalPlan = source
  override protected def withNewChildInternal(newChild: LogicalPlan): GraftOverwriteCommand =
    copy(source = newChild)
}

/** `TRUNCATE TABLE` — metadata-only empty-state commit (see
  * TransactionalTable.truncate). */
final case class GraftTruncateCommand(root: String)
  extends org.apache.spark.sql.catalyst.plans.logical.LeafCommand

/** `DELETE FROM t WHERE <partition membership>` (Iceberg `canDeleteWhere`
  * parity): the predicate was classified as EXACT identity-partition
  * membership (`values`), so the exec first attempts a METADATA-ONLY
  * file-drop commit — no scan, no write job. When the table's snapshot
  * turns out not metadata-decidable (files predating the current partition
  * spec), it falls back to the ordinary key-scan + delete merge over
  * `source` (the same `Project(pk, Filter(cond, target))` the generic
  * DELETE lowers to). */
final case class GraftDeleteWhereCommand(
    root: String,
    values: Seq[String],
    source: LogicalPlan,
    pk: String) extends UnaryCommand {
  override def child: LogicalPlan = source
  override protected def withNewChildInternal(newChild: LogicalPlan): GraftDeleteWhereCommand =
    copy(source = newChild)
}

/** `CREATE TABLE graft.db.t AS SELECT ...` — create through the catalog, then
  * one transactional append of the query result (non-atomic CTAS like Spark's
  * own non-staging path, but the data lands via the engine's manifest commit). */
final case class GraftCtasCommand(
    catalog: GraftCatalog,
    ident: org.apache.spark.sql.connector.catalog.Identifier,
    partitioning: Seq[org.apache.spark.sql.connector.expressions.Transform],
    properties: Map[String, String],
    query: LogicalPlan) extends UnaryCommand {
  override def child: LogicalPlan = query
  override protected def withNewChildInternal(newChild: LogicalPlan): GraftCtasCommand =
    copy(query = newChild)
}

/** `[CREATE OR] REPLACE TABLE graft.db.t AS SELECT ...` — RTAS. On an
  * existing table this is ONE atomic engine commit
  * ([[graft.table.TransactionalTable.replaceWith]]): schema, pk, partition
  * spec and contents swap together, prior snapshots stay time-travelable
  * (Iceberg replace semantics). On a missing table it degrades to CTAS when
  * `orCreate` (CREATE OR REPLACE), and fails like Spark otherwise. */
final case class GraftRtasCommand(
    catalog: GraftCatalog,
    ident: org.apache.spark.sql.connector.catalog.Identifier,
    partitioning: Seq[org.apache.spark.sql.connector.expressions.Transform],
    properties: Map[String, String],
    query: LogicalPlan,
    orCreate: Boolean) extends UnaryCommand {
  override def child: LogicalPlan = query
  override protected def withNewChildInternal(newChild: LogicalPlan): GraftRtasCommand =
    copy(query = newChild)
}

class GraftMergeRule(spark: SparkSession) extends Rule[LogicalPlan] {

  private def stripped(plan: LogicalPlan): LogicalPlan = plan match {
    case SubqueryAlias(_, child) => stripped(child)
    case p: Project if p.projectList.forall(_.isInstanceOf[Attribute]) => stripped(p.child)
    case other => other
  }

  private def graftTarget(plan: LogicalPlan): Option[GraftSqlTable] =
    stripped(plan) match {
      case r: DataSourceV2Relation => r.table match {
        case g: GraftSqlTable => Some(g)
        case _ => None
      }
      case _ => None
    }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
      conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  /** Iceberg `canDeleteWhere` classification: Some(partition values) when
    * `cond` is EXACTLY partition membership under the table's IDENTITY
    * transform — a single equality or IN on the partition source column with
    * foldable non-null values — so `DELETE FROM t WHERE cond` covers whole
    * files and can commit as a metadata-only file drop. Only identity
    * qualifies: under days/bucket/…, equality on the SOURCE column covers a
    * strict subset of the derived partition's rows. Conservative by
    * construction — extra conjuncts, other columns, null literals,
    * non-identity transforms all return None and pay the ordinary merge. */
  private def partitionDeleteValues(g: GraftSqlTable,
      cond: Expression): Option[Seq[String]] = {
    val desc = g.partSpec.map(_.desc).getOrElse(return None)
    def litOf(e: Expression): Option[(Any, org.apache.spark.sql.types.DataType)] =
      e match {
        case l: org.apache.spark.sql.catalyst.expressions.Literal => Some((l.value, l.dataType))
        case c if c.foldable => Some((c.eval(null), c.dataType))
        case _ => None
      }
    def valueOf(v: (Any, org.apache.spark.sql.types.DataType)): Option[String] =
      if (v._1 == null) None // `pcol = NULL` matches no row; merge handles it
      else org.apache.spark.sql.graftshim.PartitionPrune.valueOf(desc, v._1, v._2)
    def isPCol(a: Attribute): Boolean = a.name.equalsIgnoreCase(desc.col)
    desc.kind match {
      case "identity" => cond match {
        case EqualTo(a: Attribute, r) if isPCol(a) =>
          litOf(r).flatMap(valueOf).map(Seq(_))
        case EqualTo(l, a: Attribute) if isPCol(a) =>
          litOf(l).flatMap(valueOf).map(Seq(_))
        case org.apache.spark.sql.catalyst.expressions.In(a: Attribute, vs)
            if isPCol(a) && vs.nonEmpty =>
          val mapped = vs.map(v => litOf(v).flatMap(valueOf))
          if (mapped.forall(_.isDefined)) Some(mapped.map(_.get).distinct) else None
        case _ => None
      }
      // Temporal transforms (days/hours): a HALF-OPEN range on the source
      // column whose BOTH bounds sit exactly on partition boundaries covers
      // whole derived partitions — `DELETE WHERE ts >= D AND ts < D+n` is
      // "drop those days" as a metadata commit (Iceberg's strict-projection
      // canDeleteWhere for temporal specs). Anything not boundary-exact —
      // `<=` upper bounds, mid-day timestamps, one-sided ranges — merges.
      case "days" | "hours" =>
        import org.apache.spark.sql.catalyst.expressions.{GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
        def ord(e: Expression): Option[Long] = litOf(e).filter(_._1 != null)
          .flatMap(v => org.apache.spark.sql.graftshim.PartitionPrune
            .exactBoundaryOrdinal(desc, v._1, v._2))
        // (lowerOrdinal inclusive) from `col >= lit` / `lit <= col`
        def lower(e: Expression): Option[Long] = e match {
          case GreaterThanOrEqual(a: Attribute, r) if isPCol(a) => ord(r)
          case LessThanOrEqual(l, a: Attribute) if isPCol(a) => ord(l)
          case _ => None
        }
        // (upperOrdinal exclusive) from `col < lit` / `lit > col`
        def upper(e: Expression): Option[Long] = e match {
          case LessThan(a: Attribute, r) if isPCol(a) => ord(r)
          case GreaterThan(l, a: Attribute) if isPCol(a) => ord(l)
          case _ => None
        }
        cond match {
          case org.apache.spark.sql.catalyst.expressions.And(x, y) =>
            val range = lower(x).zip(upper(y)).headOption
              .orElse(lower(y).zip(upper(x)).headOption)
            range.filter { case (lo, hi) => lo < hi && hi - lo <= 100000 }
              .map { case (lo, hi) => (lo until hi).map(_.toString) }
          case _ => None
        }
      case _ => None
    }
  }

  /** PK-equality condition: `t.pk = s.pk` for single keys, a pure
    * conjunction of `t.c = s.c` covering EVERY member for composite keys
    * (any side order per conjunct). Extra conjuncts or missing members →
    * false (a partial-key merge would silently mis-match rows). */
  private def isPkEquality(cond: Expression, pkCols: Seq[String], target: LogicalPlan,
      source: LogicalPlan): Boolean = {
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
        conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    val matchedCols = conjuncts(cond).map {
      case EqualTo(a: Attribute, b: Attribute) =>
        val (tSide, sSide) =
          if (target.outputSet.contains(a)) (a, b) else (b, a)
        if (target.outputSet.contains(tSide) && source.outputSet.contains(sSide) &&
          tSide.name.equalsIgnoreCase(sSide.name)) Some(tSide.name.toLowerCase)
        else None
      case _ => None
    }
    matchedCols.forall(_.isDefined) &&
      matchedCols.flatten.toSet == pkCols.map(_.toLowerCase).toSet
  }

  private def identityAssignments(assigns: Seq[Assignment]): Boolean =
    assigns.forall {
      case Assignment(k: Attribute, v: Attribute) => k.name.equalsIgnoreCase(v.name)
      case _ => false
    }

  /** Explicit assignments are only equivalent to star when they cover EVERY
    * target column — a partial list executed as `SET *` would clobber the
    * unassigned columns with source values instead of preserving them. */
  private def coversAllColumns(assigns: Seq[Assignment],
      schema: org.apache.spark.sql.types.StructType): Boolean = {
    val assigned = assigns.collect {
      case Assignment(k: Attribute, _) => k.name.toLowerCase(java.util.Locale.ROOT)
    }.toSet
    schema.fieldNames.forall(f => assigned.contains(f.toLowerCase(java.util.Locale.ROOT)))
  }

  /** Matches `s.<ts> >= t.<ts>` (same column name both sides) and returns the
    * guard column; the engine routes such merges through Merge.applyGuarded. */
  private def guardColumn(cond: Expression, target: LogicalPlan,
      source: LogicalPlan): Option[String] = cond match {
    case org.apache.spark.sql.catalyst.expressions.GreaterThanOrEqual(
        a: Attribute, b: Attribute)
        if source.outputSet.contains(a) && target.outputSet.contains(b) &&
          a.name.equalsIgnoreCase(b.name) =>
      Some(b.name)
    case _ => None
  }

  /**
   * General N-clause MERGE lowering (first-matching-clause-wins). Builds ONE
   * staged logical plan:
   *
   *   Project(row-image CaseWhen per target column :+ action CaseWhen,
   *     Join(target+marker, source+marker, <narrowest join type>, pkCond))
   *
   * - The join type narrows with the clause set: no NOT MATCHED BY SOURCE →
   *   target-only rows are no-ops, so they need not flow through the join at
   *   all (RIGHT OUTER keeps just source rows + their matches); no NOT
   *   MATCHED → LEFT OUTER; only MATCHED clauses → INNER. At 100 TB this is
   *   the difference between joining the batch against the table and
   *   re-materializing the whole table through a full outer join.
   * - Clause precedence is exactly CaseWhen's first-true-branch semantics:
   *   branches are emitted in statement order within each row kind, and the
   *   kinds (matched / source-only / target-only) are mutually exclusive.
   * - A clause condition evaluating to NULL does not fire (CaseWhen treats
   *   non-true as not-taken) — ANSI MERGE semantics.
   * - UPDATE keeps unassigned columns from the target row; INSERT fills
   *   unassigned columns with NULL; values cast to the target column type.
   */
  private def buildGeneral(g: GraftSqlTable, tOpen: TransactionalTable,
      target: LogicalPlan, source: LogicalPlan, cond: Expression,
      matched: Seq[MergeAction], notMatched: Seq[MergeAction],
      nmbs: Seq[MergeAction]): LogicalPlan = {
    val pkLower = tOpen.pkCols.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    val tz = Option(spark.sessionState.conf.sessionLocalTimeZone)
    def castTo(v: Expression, dt: org.apache.spark.sql.types.DataType): Expression =
      if (v.dataType == dt) v else Cast(v, dt, tz)

    // Star actions may survive un-expanded on this path; expand to identity
    // by-name assignments (target col = source col).
    def starAssigns(kind: String): Seq[Assignment] = target.output.map { tAttr =>
      val sAttr = source.output.find(_.name.equalsIgnoreCase(tAttr.name)).getOrElse(
        throw new UnsupportedOperationException(
          s"MERGE $kind * requires source column ${tAttr.name}"))
      Assignment(tAttr, sAttr)
    }

    def assignMap(assigns: Seq[Assignment], clause: String): Map[String, Expression] =
      assigns.map {
        case Assignment(k: Attribute, v) =>
          val kn = k.name.toLowerCase(java.util.Locale.ROOT)
          if (clause == "UPDATE" && pkLower.contains(kn)) v match {
            case a: Attribute if a.name.equalsIgnoreCase(k.name) => () // identity: harmless
            case _ => throw new UnsupportedOperationException(
              s"MERGE must not reassign primary key ${k.name} (delete + insert instead)")
          }
          kn -> v
        case Assignment(k, _) => throw new UnsupportedOperationException(
          s"MERGE assignment to nested field $k not supported (top-level columns only)")
      }.toMap

    // Row images aligned to target.output (= table schema) order.
    def updateRow(assigns: Seq[Assignment]): Seq[Expression] = {
      val m = assignMap(assigns, "UPDATE")
      target.output.map(a => m.get(a.name.toLowerCase(java.util.Locale.ROOT))
        .map(castTo(_, a.dataType)).getOrElse(a))
    }
    def insertRow(assigns: Seq[Assignment]): Seq[Expression] = {
      val m = assignMap(assigns, "INSERT")
      target.output.map(a => m.get(a.name.toLowerCase(java.util.Locale.ROOT))
        .map(castTo(_, a.dataType)).getOrElse(Literal(null, a.dataType)))
    }
    // DELETE: emit the target row image — the exec extracts PK columns from it.
    val deleteRow: Seq[Expression] = target.output

    // Row-kind markers: non-null PKs are not guaranteed at this layer, so
    // side-presence is detected via literal marker columns, not PK nullness.
    val tMark = Alias(Literal(true), "__t_exists")()
    val sMark = Alias(Literal(true), "__s_exists")()
    val matchedKind = And(IsNotNull(tMark.toAttribute), IsNotNull(sMark.toAttribute))
    val srcOnlyKind = IsNull(tMark.toAttribute)
    val tgtOnlyKind = IsNull(sMark.toAttribute)
    def kindCond(kind: Expression, c: Option[Expression]): Expression =
      c.map(And(kind, _)).getOrElse(kind)

    final case class Branch(cond: Expression, action: String, row: Seq[Expression])
    val branches: Seq[Branch] =
      matched.map {
        case UpdateStarAction(c) =>
          Branch(kindCond(matchedKind, c), "U", updateRow(starAssigns("UPDATE SET")))
        case UpdateAction(c, as, _) => Branch(kindCond(matchedKind, c), "U", updateRow(as))
        case DeleteAction(c) => Branch(kindCond(matchedKind, c), "D", deleteRow)
        case other => throw new UnsupportedOperationException(
          s"unsupported WHEN MATCHED action: $other")
      } ++ notMatched.map {
        case InsertStarAction(c) =>
          Branch(kindCond(srcOnlyKind, c), "I", insertRow(starAssigns("INSERT")))
        case InsertAction(c, as) => Branch(kindCond(srcOnlyKind, c), "I", insertRow(as))
        case other => throw new UnsupportedOperationException(
          s"unsupported WHEN NOT MATCHED action: $other")
      } ++ nmbs.map {
        case UpdateAction(c, as, _) => Branch(kindCond(tgtOnlyKind, c), "U", updateRow(as))
        case DeleteAction(c) => Branch(kindCond(tgtOnlyKind, c), "D", deleteRow)
        case other => throw new UnsupportedOperationException(
          s"unsupported WHEN NOT MATCHED BY SOURCE action: $other")
      }

    val joinType =
      if (notMatched.nonEmpty && nmbs.nonEmpty) FullOuter
      else if (notMatched.nonEmpty) RightOuter
      else if (nmbs.nonEmpty) LeftOuter
      else Inner
    val joined = Join(
      Project(target.output :+ tMark, target),
      Project(source.output :+ sMark, source),
      joinType, Some(cond), JoinHint.NONE)

    val outCols = target.output.zipWithIndex.map { case (attr, i) =>
      Alias(
        CaseWhen(branches.map(b => (b.cond, b.row(i))), Literal(null, attr.dataType)),
        attr.name)()
    }
    val action = Alias(
      CaseWhen(branches.map(b => (b.cond, Literal(b.action))), Literal(null,
        org.apache.spark.sql.types.StringType)),
      GraftGeneralMergeExec.ActionCol)()
    GraftGeneralMergeCommand(g.root, Project(outCols :+ action, joined))
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
    case m @ MergeIntoTable(target, source, cond, matched, notMatched, nmbs, evolve)
        if m.childrenResolved =>
      graftTarget(target) match {
        case Some(g) =>
          if (g.pinnedVersion.nonEmpty)
            throw new UnsupportedOperationException(
              "MERGE INTO a VERSION AS OF relation is not allowed")
          // MERGE WITH SCHEMA EVOLUTION (Iceberg/Delta): source-only columns
          // are ADDED to the target (nullable; old files null-fill at read —
          // the engine's zero-data-movement addColumn) before the merge
          // routes normally. The star commands conform the source against
          // the table's CURRENT schema at execution, so evolved columns flow
          // through without touching the resolved plan's old attributes.
          val tOpen = {
            val t0 = TransactionalTable.open(spark, g.root)
            if (!evolve) t0
            else {
              val have = t0.schema.fieldNames
                .map(_.toLowerCase(java.util.Locale.ROOT)).toSet
              source.output
                .filterNot(a => have(a.name.toLowerCase(java.util.Locale.ROOT)))
                .foldLeft(t0)((t, a) => t.addColumn(a.name, a.dataType))
            }
          }
          val pk = tOpen.pk
          if (!isPkEquality(cond, tOpen.pkCols, target, source))
            throw new UnsupportedOperationException(
              "graft MERGE requires ON equality over the full primary key: " +
                tOpen.pkCols.map(c => s"t.$c = s.$c").mkString(" AND "))
          // Star actions may arrive verbatim or already star-expanded into
          // explicit per-column identity assignments (the analyzer expands
          // them before post-hoc rules run) — accept both, requiring expanded
          // forms to cover EVERY target column (a partial list executed as
          // SET * would clobber unassigned columns).
          def starUpdateCond(a: MergeAction): Option[Option[Expression]] = a match {
            case UpdateStarAction(c) => Some(c)
            case UpdateAction(c, as, _)
                if identityAssignments(as) && coversAllColumns(as, g.schema()) =>
              Some(c)
            case _ => None
          }
          def starInsert(a: MergeAction): Boolean = a match {
            case InsertStarAction(None) => true
            case InsertAction(None, as) =>
              identityAssignments(as) && coversAllColumns(as, g.schema())
            case _ => false
          }
          // The general matcher builds row images over the resolved target
          // attributes — under WITH SCHEMA EVOLUTION those predate the
          // just-added columns, so evolved values would silently drop;
          // star commands conform at execution and are safe.
          def general(): LogicalPlan = {
            if (evolve) throw new UnsupportedOperationException(
              "MERGE WITH SCHEMA EVOLUTION supports star-form clause lists " +
                "(UPDATE SET * / INSERT * / DELETE); for general clause " +
                "merges run ALTER TABLE ... ADD COLUMN first")
            buildGeneral(g, tOpen, target, source, cond, matched, notMatched, nmbs)
          }
          (matched, notMatched, nmbs) match {
            case (Seq(u), Seq(i), Seq()) if starUpdateCond(u).isDefined && starInsert(i) =>
              starUpdateCond(u).get match {
                case None =>
                  GraftMergeCommand(g.root, source, isDelete = false, pk)
                // Timestamp-guarded upsert: WHEN MATCHED AND s.ts >= t.ts
                case Some(c) if guardColumn(c, target, source).isDefined =>
                  GraftMergeCommand(g.root, source, isDelete = false, pk,
                    guardTs = guardColumn(c, target, source))
                case Some(_) =>
                  general()
              }
            // Full sync (Iceberg/Delta WHEN NOT MATCHED BY SOURCE THEN
            // DELETE): upsert every source row AND delete target keys the
            // source no longer carries — one engine commit.
            case (Seq(u), Seq(i), Seq(DeleteAction(None)))
                if starUpdateCond(u).contains(None) && starInsert(i) =>
              GraftMergeCommand(g.root, source, isDelete = false, pk,
                syncDeleteUnmatched = true)
            case (Seq(DeleteAction(None)), Seq(), Seq()) =>
              GraftMergeCommand(g.root, source, isDelete = true, pk)
            // Timestamp-guarded delete: WHEN MATCHED AND s.ts >= t.ts THEN DELETE
            case (Seq(DeleteAction(Some(c))), Seq(), Seq())
                if guardColumn(c, target, source).isDefined =>
              GraftMergeCommand(g.root, source, isDelete = true, pk,
                guardTs = guardColumn(c, target, source))
            // Everything else: the general N-clause matcher (first matching
            // clause wins — Iceberg/Delta semantics).
            case _ =>
              general()
          }
        case None => m
      }

    case a @ AppendData(target, query, _, _, _, _) if a.childrenResolved =>
      graftTarget(target) match {
        case Some(g) =>
          if (g.pinnedVersion.nonEmpty)
            throw new UnsupportedOperationException(
              "INSERT INTO a VERSION AS OF relation is not allowed")
          GraftAppendCommand(g.root, query)
        case None => a
      }

    // INSERT OVERWRITE (static mode): deleteExpr is TrueLiteral (whole
    // table) or the PARTITION clause's equality on the partition source
    // column — reversed through the table's CURRENT transform into the
    // manifest partition value it names.
    case o: OverwriteByExpression if o.childrenResolved =>
      graftTarget(o.table) match {
        case Some(g) =>
          if (g.pinnedVersion.nonEmpty)
            throw new UnsupportedOperationException(
              "INSERT OVERWRITE a VERSION AS OF relation is not allowed")
          o.deleteExpr match {
            case org.apache.spark.sql.catalyst.expressions.Literal(true, _) =>
              GraftOverwriteCommand(g.root, o.query, None, dynamic = false)
            case expr =>
              val desc = g.partSpec.map(_.desc).getOrElse(
                throw new UnsupportedOperationException(
                  "partition-scoped INSERT OVERWRITE on an unpartitioned table"))
              // Static PARTITION (col = v) replaces the whole DERIVED
              // partition. Under a non-identity transform (bucket/days/hours)
              // that is a superset of `col = v`: every row sharing v's
              // bucket/day would be dropped while only the inserted rows
              // replace them — silent deletion of non-matching rows. Iceberg
              // restricts static PARTITION overwrite to identity fields for
              // the same reason; dynamic mode and full-table stay available.
              if (desc.kind != "identity")
                throw new UnsupportedOperationException(
                  s"static INSERT OVERWRITE PARTITION requires an identity " +
                    s"partition transform; table is partitioned by " +
                    s"${desc.kind}(${desc.col}) — use dynamic overwrite mode " +
                    "(spark.sql.sources.partitionOverwriteMode=dynamic) or a " +
                    "full-table INSERT OVERWRITE instead")
              // PARTITION (col = v) arrives as a (null-safe) equality whose
              // value side may be Cast-wrapped — any foldable side counts.
              def litOf(e: Expression): Option[(Any, org.apache.spark.sql.types.DataType)] =
                e match {
                  case l: org.apache.spark.sql.catalyst.expressions.Literal =>
                    Some((l.value, l.dataType))
                  case c if c.foldable => Some((c.eval(null), c.dataType))
                  case _ => None
                }
              def eqSides(e: Expression): Option[(Attribute, Any,
                  org.apache.spark.sql.types.DataType)] = e match {
                case EqualTo(a: Attribute, r) => litOf(r).map(v => (a, v._1, v._2))
                case EqualTo(l, a: Attribute) => litOf(l).map(v => (a, v._1, v._2))
                case org.apache.spark.sql.catalyst.expressions.EqualNullSafe(
                    a: Attribute, r) => litOf(r).map(v => (a, v._1, v._2))
                case org.apache.spark.sql.catalyst.expressions.EqualNullSafe(
                    l, a: Attribute) => litOf(l).map(v => (a, v._1, v._2))
                case _ => None
              }
              val vals = conjuncts(expr).map { c =>
                eqSides(c).filter(_._1.name.equalsIgnoreCase(desc.col)) match {
                  case Some((attr, v, dt)) =>
                    org.apache.spark.sql.graftshim.PartitionPrune.valueOf(desc, v, dt)
                      .getOrElse(throw new UnsupportedOperationException(
                        s"cannot derive a partition value from ${attr.name} = $v"))
                  case None => throw new UnsupportedOperationException(
                    s"INSERT OVERWRITE supports the whole table or PARTITION " +
                      s"equality on '${desc.col}' only, got: $c")
                }
              }
              GraftOverwriteCommand(g.root, o.query, Some(vals), dynamic = false)
          }
        case None => o
      }

    // INSERT OVERWRITE (spark.sql.sources.partitionOverwriteMode=dynamic):
    // replace exactly the partitions the written rows touch.
    case o: OverwritePartitionsDynamic if o.childrenResolved =>
      graftTarget(o.table) match {
        case Some(g) =>
          if (g.pinnedVersion.nonEmpty)
            throw new UnsupportedOperationException(
              "INSERT OVERWRITE a VERSION AS OF relation is not allowed")
          GraftOverwriteCommand(g.root, o.query, None, dynamic = true)
        case None => o
      }

    // TRUNCATE TABLE: a METADATA-ONLY empty-state commit (no empty write
    // job) — data files stay for time travel, history stamps 'truncate'.
    case tr @ TruncateTable(rt: org.apache.spark.sql.catalyst.analysis.ResolvedTable) =>
      rt.table match {
        case g: GraftSqlTable => GraftTruncateCommand(g.root)
        case _ => tr
      }

    // Row-level SQL beyond MERGE (Iceberg v2's remaining write surface):
    // `DELETE FROM t WHERE c` routes the matching keys through the engine's
    // delete merge; `UPDATE t SET ... WHERE c` scans the matching rows with
    // assignments applied and routes them through the upsert merge (the
    // source is a subset of existing rows, so NOT MATCHED never fires).
    // Sources scan the target relation itself — snapshot-consistent, and a
    // MOR-pending relation inside them is rewritten delete-aware by
    // GraftMorScanRule (which runs after this rule).
    case d @ DeleteFromTable(target, cond) if d.childrenResolved =>
      graftTarget(target) match {
        case Some(g) =>
          if (g.pinnedVersion.nonEmpty)
            throw new UnsupportedOperationException(
              "DELETE FROM a VERSION AS OF relation is not allowed")
          val t = TransactionalTable.open(spark, g.root)
          // Composite PKs: project every key column — the engine's delete
          // merge joins on all of them.
          val pkAttrs = t.pkCols.map(c =>
            target.output.find(_.name.equalsIgnoreCase(c)).getOrElse(
              throw new IllegalStateException(s"pk $c not in ${target.output}")))
          val mergeSrc = Project(pkAttrs, Filter(cond, target))
          partitionDeleteValues(g, cond) match {
            // Iceberg canDeleteWhere: the predicate IS partition membership —
            // the exec drops fully-covered files as a metadata-only commit,
            // with `mergeSrc` as the not-decidable fallback.
            case Some(vals) => GraftDeleteWhereCommand(g.root, vals, mergeSrc, t.pk)
            case None =>
              GraftMergeCommand(g.root, mergeSrc, isDelete = true, t.pk, op = "delete")
          }
        case None => d
      }

    case ctas: CreateTableAsSelect if ctas.childrenResolved =>
      ctas.name match {
        case org.apache.spark.sql.catalyst.analysis.ResolvedIdentifier(
            cat: GraftCatalog, ident) =>
          GraftCtasCommand(cat, ident, ctas.partitioning,
            ctas.tableSpec.properties, ctas.query)
        case _ => ctas
      }

    case rtas: ReplaceTableAsSelect if rtas.childrenResolved =>
      rtas.name match {
        case org.apache.spark.sql.catalyst.analysis.ResolvedIdentifier(
            cat: GraftCatalog, ident) =>
          GraftRtasCommand(cat, ident, rtas.partitioning,
            rtas.tableSpec.properties, rtas.query, rtas.orCreate)
        case _ => rtas
      }

    case u @ UpdateTable(target, assignments, cond) if u.childrenResolved =>
      graftTarget(target) match {
        case Some(g) =>
          if (g.pinnedVersion.nonEmpty)
            throw new UnsupportedOperationException(
              "UPDATE a VERSION AS OF relation is not allowed")
          val tt = TransactionalTable.open(spark, g.root)
          val pk = tt.pk
          val byName = assignments.map {
            case Assignment(k: Attribute, v) => k.name.toLowerCase(java.util.Locale.ROOT) -> v
            case Assignment(k, _) => throw new UnsupportedOperationException(
              s"UPDATE of nested field $k not supported (top-level columns only)")
          }.toMap
          tt.pkCols.foreach { c =>
            byName.get(c.toLowerCase(java.util.Locale.ROOT)).foreach {
              case a: Attribute if a.name.equalsIgnoreCase(c) => () // identity: harmless
              case _ => throw new UnsupportedOperationException(
                s"UPDATE must not reassign the primary key $c (delete + insert instead)")
            }
          }
          val projList = target.output.map { attr =>
            byName.get(attr.name.toLowerCase(java.util.Locale.ROOT)) match {
              case Some(v) =>
                org.apache.spark.sql.catalyst.expressions.Alias(v, attr.name)()
              case None => attr
            }
          }
          val filtered = cond.map(Filter(_, target)).getOrElse(target)
          GraftMergeCommand(g.root, Project(projList, filtered), isDelete = false, pk,
            op = "update")
        case None => u
      }
  }
}

private[graft] object GraftWriteValidation {
  /** Snapshot version of the first scan of `root` inside `plan`, searching
    * subquery expressions too. A write whose source reads its own target
    * computed that source against THIS pinned snapshot — the engine refuses
    * to blind-retry past it (serializable isolation; see
    * [[graft.table.CommitConflictException]]). `None` = the source is
    * independent of the target and recompute-and-retry is sound. */
  def selfReadVersion(plan: LogicalPlan, root: String): Option[Long] = {
    var found: Option[Long] = None
    def visit(p: LogicalPlan): Unit = p.foreach { n =>
      n match {
        case r: DataSourceV2Relation => r.table match {
          case g: GraftSqlTable if g.root == root && found.isEmpty =>
            found = Some(g.loadedVersion)
          case _ => ()
        }
        case _ => ()
      }
      n.expressions.foreach(_.foreach {
        case s: org.apache.spark.sql.catalyst.expressions.SubqueryExpression =>
          visit(s.plan)
        case _ => ()
      })
    }
    visit(plan)
    found
  }
}

final case class GraftMergeExec(cmd: GraftMergeCommand) extends LeafExecNode {
  override def output: Seq[Attribute] = Nil

  override def executeCollect(): Array[InternalRow] = { run; Array.empty }

  private lazy val run: Unit = {
    val spark = session
    val t = TransactionalTable.open(spark, cmd.root)
    val src = org.apache.spark.sql.graftshim.GraftShims.ofRows(spark, cmd.source)
    // mergeAdhoc: SQL merges are not stream batches — the commit must NOT
    // advance the replay fence, or a checkpointed stream resuming on the same
    // table would have its next batch silently fenced out as a replay.
    val empty = graft.util.Frames.empty(spark, t.schema)
    val pkSel = t.pkCols.map(col)
    // Serializable isolation: a source that scans the target itself (DELETE
    // FROM / UPDATE lowering, self-referential MERGE sources) pins the file
    // list — a concurrent commit must fail the statement, not be silently
    // overwritten by a stale recompute.
    val expected = GraftWriteValidation.selfReadVersion(cmd.source, cmd.root)
    // Per-operation write strategy (write.merge.mode / write.delete.mode /
    // write.update.mode table properties); copy-on-write when unset.
    val mode = t.rowLevelMode(cmd.op)
    if (cmd.syncDeleteUnmatched) {
      // Full sync: delete keys = current table keys the source lacks
      // (anti-join; manifest-pruned scan), committed together with the
      // upserts. Statement-level snapshot semantics: the key diff is read
      // at execution start, same consistency class as UPDATE/DELETE FROM —
      // and the unmatched-keys scan below pins the snapshot it reads, so
      // the commit validates against it.
      val syncExpected = expected.orElse(Some(t.currentVersion))
      val unmatched = t.scan().select(pkSel: _*)
        .join(src.select(pkSel: _*), t.pkCols.toSeq, "left_anti")
      t.mergeAdhoc(src, unmatched, mode, expectedVersion = syncExpected)
    } else (cmd.isDelete, cmd.guardTs) match {
      case (true, None) =>
        t.mergeAdhoc(empty, src.select(pkSel: _*), mode, expectedVersion = expected)
      case (false, None) =>
        t.mergeAdhoc(src, empty.select(pkSel: _*), mode, expectedVersion = expected)
      case (true, g @ Some(ts)) =>
        t.mergeAdhoc(empty, src.select(pkSel :+ col(ts): _*), mode, guardTs = g,
          expectedVersion = expected)
      case (false, g @ Some(ts)) =>
        t.mergeAdhoc(src, empty.select(pkSel :+ col(ts): _*), mode, guardTs = g,
          expectedVersion = expected)
    }
  }

  override protected def doExecute(): RDD[InternalRow] = {
    run
    sparkContext.emptyRDD
  }
}

object GraftGeneralMergeExec {
  /** Discriminator column the staged plan carries: U/I/D, NULL = no-op. */
  val ActionCol = "__graft_merge_action"
}

final case class GraftGeneralMergeExec(cmd: GraftGeneralMergeCommand) extends LeafExecNode {
  import GraftGeneralMergeExec.ActionCol
  override def output: Seq[Attribute] = Nil
  override def executeCollect(): Array[InternalRow] = { run; Array.empty }

  private lazy val run: Unit = {
    val spark = session
    val t = TransactionalTable.open(spark, cmd.root)
    val pkSel = t.pkCols.map(col)
    // The optimizer has already run over `staged` (it is this command's
    // child): re-planning it through ofRows re-analyzes the fragment, and
    // CheckAnalysis rejects optimizer-injected artifacts like
    // DynamicPruningSubquery. Those are pure optimizations — strip them and
    // let the fresh plan re-derive its own (the re-optimization pass will
    // re-insert DPP/runtime filters where they help).
    val cleaned = cmd.staged.transformAllExpressions {
      case _: org.apache.spark.sql.catalyst.expressions.DynamicPruning =>
        org.apache.spark.sql.catalyst.expressions.Literal.TrueLiteral
    }
    // One join pass feeds three consumers (cardinality check, upserts,
    // deletes) — persist the affected rows only (no-op rows are dropped
    // before materialization, so the cache holds O(touched), not O(table)).
    val staged = org.apache.spark.sql.graftshim.GraftShims.ofRows(spark, cleaned)
      .filter(col(ActionCol).isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // ANSI/Delta/Iceberg cardinality rule: a target row matched by more
      // than one source row (or two INSERTs landing the same key) is
      // nondeterministic — fail loudly instead of committing either answer.
      val dup = staged
        .filter(t.pkCols.map(col(_).isNotNull).reduce(_ && _))
        .groupBy(pkSel: _*).count().filter(col("count") > 1).limit(1).collect()
      if (dup.nonEmpty)
        throw new IllegalStateException(
          "MERGE cardinality violation: multiple source rows match target key " +
            t.pkCols.zipWithIndex.map { case (c, i) => s"$c=${dup.head.get(i)}" }
              .mkString(", "))
      val upserts = staged.filter(col(ActionCol) =!= "D").drop(ActionCol)
      val delKeys = staged.filter(col(ActionCol) === "D").select(pkSel: _*)
      // The staged join always reads the target — serializable validation.
      // General merges honor write.merge.mode like the star form.
      t.mergeAdhoc(upserts, delKeys, t.rowLevelMode("merge"),
        expectedVersion = GraftWriteValidation.selfReadVersion(cmd.staged, cmd.root))
    } finally staged.unpersist()
  }

  override protected def doExecute(): RDD[InternalRow] = {
    run
    sparkContext.emptyRDD
  }
}

final case class GraftAppendExec(cmd: GraftAppendCommand) extends LeafExecNode {
  override def output: Seq[Attribute] = Nil
  override def executeCollect(): Array[InternalRow] = { run; Array.empty }
  private lazy val run: Unit = {
    val t = TransactionalTable.open(session, cmd.root)
    t.append(org.apache.spark.sql.graftshim.GraftShims.ofRows(session, cmd.source))
  }
  override protected def doExecute(): RDD[InternalRow] = { run; sparkContext.emptyRDD }
}

final case class GraftOverwriteExec(cmd: GraftOverwriteCommand) extends LeafExecNode {
  override def output: Seq[Attribute] = Nil
  override def executeCollect(): Array[InternalRow] = { run; Array.empty }
  private lazy val run: Unit = {
    val t = TransactionalTable.open(session, cmd.root)
    t.overwrite(org.apache.spark.sql.graftshim.GraftShims.ofRows(session, cmd.source),
      cmd.staticPartitions, cmd.dynamic,
      expectedVersion = GraftWriteValidation.selfReadVersion(cmd.source, cmd.root))
  }
  override protected def doExecute(): RDD[InternalRow] = { run; sparkContext.emptyRDD }
}

final case class GraftTruncateExec(cmd: GraftTruncateCommand) extends LeafExecNode {
  override def output: Seq[Attribute] = Nil
  override def executeCollect(): Array[InternalRow] = { run; Array.empty }
  private lazy val run: Unit =
    TransactionalTable.open(session, cmd.root).truncate()
  override protected def doExecute(): RDD[InternalRow] = { run; sparkContext.emptyRDD }
}

final case class GraftDeleteWhereExec(cmd: GraftDeleteWhereCommand) extends LeafExecNode {
  override def output: Seq[Attribute] = Nil
  override def executeCollect(): Array[InternalRow] = { run; Array.empty }
  private lazy val run: Unit = {
    val t = TransactionalTable.open(session, cmd.root)
    // Metadata-only file drop; None = this snapshot has files whose
    // membership isn't metadata-decidable (pre-evolution spec) — fall back
    // to the ordinary key-scan + delete merge, exactly GraftMergeExec's
    // delete path (snapshot-pinned source, per-op write mode).
    if (t.deletePartitions(cmd.values.toSet).isEmpty) {
      val src = org.apache.spark.sql.graftshim.GraftShims.ofRows(session, cmd.source)
      val empty = graft.util.Frames.empty(session, t.schema)
      t.mergeAdhoc(empty, src.select(t.pkCols.map(col): _*),
        t.rowLevelMode("delete"),
        expectedVersion = GraftWriteValidation.selfReadVersion(cmd.source, cmd.root))
    }
  }
  override protected def doExecute(): RDD[InternalRow] = { run; sparkContext.emptyRDD }
}

final case class GraftCtasExec(cmd: GraftCtasCommand) extends LeafExecNode {
  override def output: Seq[Attribute] = Nil
  override def executeCollect(): Array[InternalRow] = { run; Array.empty }
  private lazy val run: Unit = {
    val df = org.apache.spark.sql.graftshim.GraftShims.ofRows(session, cmd.query)
    import scala.jdk.CollectionConverters._
    cmd.catalog.createTable(cmd.ident, df.schema, cmd.partitioning.toArray,
      cmd.properties.asJava)
    TransactionalTable.open(session, cmd.catalog.tableRoot(cmd.ident)).append(df)
  }
  override protected def doExecute(): RDD[InternalRow] = { run; sparkContext.emptyRDD }
}

final case class GraftRtasExec(cmd: GraftRtasCommand) extends LeafExecNode {
  override def output: Seq[Attribute] = Nil
  override def executeCollect(): Array[InternalRow] = { run; Array.empty }
  private lazy val run: Unit = {
    val df = org.apache.spark.sql.graftshim.GraftShims.ofRows(session, cmd.query)
    val root = cmd.catalog.tableRoot(cmd.ident)
    if (!TransactionalTable.exists(root)) {
      if (!cmd.orCreate)
        throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(cmd.ident)
      import scala.jdk.CollectionConverters._
      cmd.catalog.createTable(cmd.ident, df.schema, cmd.partitioning.toArray,
        cmd.properties.asJava)
      TransactionalTable.open(session, root).append(df)
    } else {
      val existing = TransactionalTable.open(session, root)
      // PK precedence: explicit TBLPROPERTIES('pk'=...) > the existing pk when
      // the new schema still carries every member column > first column.
      val pk = cmd.properties.get("pk").getOrElse {
        val keep = existing.pkCols.forall(c =>
          df.schema.fieldNames.exists(_.equalsIgnoreCase(c)))
        if (keep) existing.pk else df.schema.fieldNames.head
      }
      existing.replaceWith(df, df.schema, pk,
        GraftCatalog.toPartitionSpec(cmd.partitioning.toArray),
        expectedVersion = GraftWriteValidation.selfReadVersion(cmd.query, root))
    }
  }
  override protected def doExecute(): RDD[InternalRow] = { run; sparkContext.emptyRDD }
}

class GraftMergeStrategy(spark: SparkSession) extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case cmd: GraftMergeCommand =>
      GraftMergeExec(cmd) :: Nil
    case cmd: GraftGeneralMergeCommand =>
      GraftGeneralMergeExec(cmd) :: Nil
    case cmd: GraftAppendCommand =>
      GraftAppendExec(cmd) :: Nil
    case cmd: GraftOverwriteCommand =>
      GraftOverwriteExec(cmd) :: Nil
    case cmd: GraftTruncateCommand =>
      GraftTruncateExec(cmd) :: Nil
    case cmd: GraftDeleteWhereCommand =>
      GraftDeleteWhereExec(cmd) :: Nil
    case cmd: GraftCtasCommand =>
      GraftCtasExec(cmd) :: Nil
    case cmd: GraftRtasCommand =>
      GraftRtasExec(cmd) :: Nil
    case cmd: GraftCreateViewCommand =>
      GraftCreateViewExec(cmd) :: Nil
    case cmd: GraftAlterViewAsCommand =>
      GraftAlterViewAsExec(cmd) :: Nil
    case cmd: GraftDropViewCommand =>
      GraftDropViewExec(cmd) :: Nil
    case cmd: GraftShowViewsCommand =>
      GraftShowViewsExec(cmd) :: Nil
    case cmd: GraftSetViewPropsCommand =>
      GraftSetViewPropsExec(cmd) :: Nil
    case cmd: GraftRenameViewCommand =>
      GraftRenameViewExec(cmd) :: Nil
    case cmd: GraftCreateMaterializedViewCommand =>
      GraftCreateMaterializedViewExec(cmd) :: Nil
    case cmd: GraftShowCreateViewCommand =>
      GraftShowCreateViewExec(cmd) :: Nil
    case cmd: GraftDescribeViewCommand =>
      GraftDescribeViewExec(cmd) :: Nil
    case _ => Nil
  }
}

/** `spark.sql.extensions=graft.sql.GraftExtensions` */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // Persisted-view SQL (Iceberg-view parity): DDL intercepted at the
    // parser (Spark 4.1 has no native v2-view exec; see GraftViews.scala),
    // reads expanded in the resolution fixed-point.
    ext.injectParser((s, delegate) => new GraftSqlParser(s, delegate))
    ext.injectResolutionRule(s => new GraftViewRule(s))
    ext.injectPostHocResolutionRule(s => new GraftMergeRule(s))
    // Variant-shredding rewrite BEFORE the MOR substitution: a shredded
    // read is delete-aware itself, and once either rule consumes the
    // relation the other no longer matches.
    ext.injectPostHocResolutionRule(s => new GraftShredScanRule(s))
    // AFTER the merge rule (injection order is execution order): write
    // targets become engine commands first; remaining MOR-pending relations
    // (plain reads, merge sources) get the delete-aware substitution.
    ext.injectPostHocResolutionRule(s => new GraftMorScanRule(s))
    // Distributed entry-level metadata tables: `entries`/`all_files`
    // placeholders become groupBy(path) plans over the chunk-partitioned
    // raw scan (driver plans chunk refs, never entries).
    ext.injectPostHocResolutionRule(s => new GraftMetadataScanRule(s))
    // Opt-in transparent MV rewrite (spark.graft.mv.rewrite): exact-match
    // fresh-view substitution, after every other read rewrite so both the
    // query and the cached definition see the same final relation shapes.
    ext.injectPostHocResolutionRule(s => new GraftMvRewriteRule(s))
    // Optimizer: manifest-answered COUNT(*) (Iceberg-manifest parity).
    ext.injectOptimizerRule(s => new GraftCountStarRule(s))
    ext.injectPlannerStrategy(s => new GraftMergeStrategy(s))
    // The native codegen kernels as SQL functions — whole-stage-codegen'd in
    // pure SQL exactly as in the DataFrame API (no UDF boundary):
    //   graft_dot(a, b)         dot product of two double arrays
    //   graft_shingles(tokens, n) distinct n-gram shingles over a token
    //                             array (split/tokenize first), first-occurrence order
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
    ext.injectFunction((FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[graft.functions.DotProduct].getName, "graft_dot"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_dot(arrayA, arrayB)")
        graft.functions.DotProduct(args.head, args(1))
      }))
    ext.injectFunction((FunctionIdentifier("graft_shingles"),
      new ExpressionInfo(classOf[graft.functions.Shingles].getName, "graft_shingles"),
      (args: Seq[Expression]) => args match {
        case Seq(text) => graft.functions.Shingles(text, 3)
        case Seq(text, n) if n.foldable =>
          graft.functions.Shingles(text, n.eval(null) match {
            case i: java.lang.Integer => i.intValue()
            case l: java.lang.Long => l.intValue()
            case other => throw new IllegalArgumentException(
              s"graft_shingles n must be an integer literal, got $other")
          })
        case _ => throw new IllegalArgumentException(
          "graft_shingles(tokens[, n]) — n must be an integer literal")
      }))
  }
}
