package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel, UnresolvedAttribute, UnresolvedIdentifier, UnresolvedRelation, UnresolvedTable}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression}
import org.apache.spark.sql.catalyst.{expressions => ce}
import org.apache.spark.sql.catalyst.plans.logical.{AddColumns, AlterColumns, Assignment, ColumnDefinition, CreateTable, CreateTableAsSelect, DeleteAction, DeleteFromTable, DropColumns, DropTable, Filter, InsertIntoStatement, InsertStarAction, LogicalPlan, MergeIntoTable, RenameColumn, SetTableProperties, SubqueryAlias, UnresolvedTableSpec, UnsetTableProperties, UpdateAction, UpdateStarAction, UpdateTable}
import org.apache.spark.sql.connector.{expressions => cx}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.ice.{IceTable, ScanBuilder}
import graft.ice.catalog.{DirCatalog, TableIdentifier}
import graft.ice.expr.{Expr => E, NotE, Predicate, RawE}
import graft.ice.meta.TableProperties
import graft.ice.types.{Literal => IceLit}

/** Pure-SQL access to graft tables: an analyzer rule (injected via
  * `spark.sql.extensions=graft.GraftExtensions`) resolves
  *
  *   SELECT ... FROM graft.<ns...>.<table>
  *   SELECT ... FROM graft.<ns...>.<table> VERSION AS OF <snapshotId|branch|tag>
  *   SELECT ... FROM graft.<ns...>.<table> TIMESTAMP AS OF '<ts>'
  *
  * against the warehouse named by the `spark.graft.warehouse` session
  * conf. The substituted subtree is the SAME plan `IceTable.newScan()
  * .toDF` builds — metadata pruning, MoR deletes, schema evolution and
  * time travel all behave identically in SQL and in the Scala API (the
  * Spark-first counterpart of the reference's catalog lookup path,
  * catalog.h:108-136, which has no query engine to hand the table to).
  *
  * The substituted subtree is the connector's scan over the planned
  * files, so filter pushdown into the parquet reader, column pruning and
  * AQE apply to it as to any V2 scan. */
final case class GraftTableResolution(session: SparkSession) extends Rule[LogicalPlan] {

  private val ConfKey = "spark.graft.warehouse"

  private def active: Boolean = session.conf.getOption(ConfKey).isDefined

  private def isGraft(parts: Seq[String]): Boolean =
    parts.length >= 2 && parts.head.equalsIgnoreCase("graft") && active

  /** Warehouse serving a ROW-LEVEL command (DELETE/UPDATE/MERGE) for this
    * identifier: the `spark.graft.warehouse` root for `graft.*` names, or
    * — catalog symmetry — the owning [[graft.ice.connector.GraftCatalogPlugin]]'s
    * warehouse when the head names one (`ice.db.t`). The V2 connector
    * covers reads/INSERT/translatable DELETE on its own
    * (SupportsRead/SupportsWrite/SupportsDelete); UPDATE and MERGE have
    * no V1-fallback-shaped connector surface, so the command dispatch
    * here is what makes them work on catalog identifiers — same ops,
    * same CoW/MoR property dispatch as the graft.* path. */
  private def rowLevelWarehouse(parts: Seq[String]): Option[String] =
    if (parts.length < 2) None
    else if (isGraft(parts)) Some(session.conf.get(ConfKey))
    else if (parts.head.equalsIgnoreCase("graft")) None
    else
      try session.sessionState.catalogManager.catalog(parts.head) match {
        case g: graft.ice.connector.GraftCatalogPlugin => Some(g.warehouseLocation)
        case _ => None
      } catch { case _: Throwable => None }

  private def scanPlan(parts: Seq[String],
      shape: ScanBuilder => ScanBuilder): LogicalPlan = {
    val cat = new DirCatalog(session.conf.get(ConfKey))
    val t = IceTable.load(cat,
      TableIdentifier(parts.slice(1, parts.length - 1), parts.last))
    val df = shape(t.newScan()).toDF(session)
    // alias so `FROM graft.db.t` rows are addressable as `t.col`
    SubqueryAlias(parts.last, df.queryExecution.analyzed)
  }

  private val metaTables: Map[String, (SparkSession, IceTable) => org.apache.spark.sql.DataFrame] = Map(
    "snapshots" -> (graft.ice.MetadataTables.snapshots _),
    "history" -> (graft.ice.MetadataTables.history _),
    "refs" -> (graft.ice.MetadataTables.refs _),
    "manifests" -> (graft.ice.MetadataTables.manifests _),
    "files" -> (graft.ice.MetadataTables.files _),
    "delete_files" -> (graft.ice.MetadataTables.deleteFiles _),
    "statistics" -> (graft.ice.MetadataTables.statistics _),
    "partition_stats" -> (graft.ice.MetadataTables.partitionStatistics _),
    "partitions" -> (graft.ice.MetadataTables.partitions _),
    "entries" -> (graft.ice.MetadataTables.entries _),
    "all_files" -> (graft.ice.MetadataTables.allFiles _),
    "metadata_log_entries" -> (graft.ice.MetadataTables.metadataLogEntries _),
    "position_deletes" -> (graft.ice.MetadataTables.positionDeletes _))

  /** `graft.db.t` → planned scan; `graft.db.t.snapshots` (etc.) → the
    * inspection table, unless a REAL table shadows the suffix name. */
  private def relationPlan(parts: Seq[String]): LogicalPlan = {
    val cat = new DirCatalog(session.conf.get(ConfKey))
    val ident = TableIdentifier(parts.slice(1, parts.length - 1), parts.last)
    val metaName = parts.last.toLowerCase(java.util.Locale.ROOT)
    if (!cat.tableExists(ident) && parts.length >= 3 && metaTables.contains(metaName)) {
      val base = TableIdentifier(parts.slice(1, parts.length - 2), parts(parts.length - 2))
      val t = IceTable.load(cat, base)
      SubqueryAlias(metaName,
        metaTables(metaName)(session, t).queryExecution.analyzed)
    } else scanPlan(parts, identity)
  }

  /** `TIMESTAMP AS OF` operand → epoch millis. The parser hands a
    * literal (string or already-cast timestamp); session timezone is
    * UTC project-wide. */
  private def tsMillis(e: Expression): Long = e.eval() match {
    case micros: java.lang.Long => micros / 1000L
    case s: UTF8String =>
      val str = s.toString.trim
      val ldt =
        if (str.contains(" ") || str.contains("T"))
          java.time.LocalDateTime.parse(str.replace(' ', 'T'))
        else java.time.LocalDate.parse(str).atStartOfDay()
      ldt.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    case other => throw new IllegalArgumentException(
      s"cannot interpret TIMESTAMP AS OF operand: $other")
  }

  // top-down: RelationTimeTravel must be seen BEFORE its child
  // UnresolvedRelation, or the bare-relation case would swallow the
  // time-travel clause
  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsDown {
    case InsertIntoStatement(u: UnresolvedRelation, partSpec, userCols, query, overwrite, _, byName)
        if isGraft(u.multipartIdentifier) =>
      require(partSpec.isEmpty,
        "static PARTITION clauses are not supported: graft tables take " +
          "their partitioning from the table spec (dynamic on overwrite)")
      GraftInsertCommand(session.conf.get(ConfKey), u.multipartIdentifier,
        query, overwrite, userCols, byName)
    // conditions/assignments travel as SQL TEXT, not Expression fields:
    // a command's expression-typed members are visited by CheckAnalysis,
    // which would reject the (deliberately unresolved) predicate
    case DeleteFromTable(GraftTarget(u), cond)
        if rowLevelWarehouse(u.multipartIdentifier).isDefined =>
      GraftDeleteCommand(rowLevelWarehouse(u.multipartIdentifier).get,
        u.multipartIdentifier, cond.sql)
    case UpdateTable(GraftTarget(u), assignments, cond)
        if rowLevelWarehouse(u.multipartIdentifier).isDefined =>
      val set = assignments.map { case Assignment(k, v) =>
        val name = k match {
          case a: UnresolvedAttribute => a.name
          case a: AttributeReference => a.name
          case other => throw new IllegalArgumentException(
            s"UPDATE SET key must be a column, got $other")
        }
        name -> v.sql
      }.toMap
      GraftUpdateCommand(rowLevelWarehouse(u.multipartIdentifier).get,
        u.multipartIdentifier, set, cond.map(_.sql))
    case m @ MergeIntoTable(GraftTarget(u), source, mergeCond, matched, notMatched, notMatchedBySource, _)
        if rowLevelWarehouse(u.multipartIdentifier).isDefined =>
      require(notMatchedBySource.isEmpty,
        "MERGE ... WHEN NOT MATCHED BY SOURCE is not supported")
      val tgtAlias = m.targetTable match {
        case SubqueryAlias(id, _) => Some(id.name)
        case _ => None
      }
      val srcAlias = source match {
        case SubqueryAlias(id, _) => Some(id.name)
        // an unaliased USING <name> is qualified by its last name part
        case u2: UnresolvedRelation => Some(u2.multipartIdentifier.last)
        case _ => None
      }
      val aliasMap: Map[String, String] =
        (tgtAlias.map(_ -> "t").toList ++ srcAlias.map(_ -> "s").toList ++
          List(u.multipartIdentifier.last -> "t")).toMap
      def rewrite(e: Expression): String = e.transform {
        case a: UnresolvedAttribute if a.nameParts.size >= 2 &&
            aliasMap.contains(a.nameParts.head) =>
          UnresolvedAttribute(aliasMap(a.nameParts.head) +: a.nameParts.tail)
      }.sql
      def onKeys(e: Expression): Seq[String] = e match {
        case ce.And(l, r) => onKeys(l) ++ onKeys(r)
        case ce.EqualTo(a: UnresolvedAttribute, b: UnresolvedAttribute) =>
          require(a.nameParts.last == b.nameParts.last,
            s"MERGE ON must equate same-named columns, got ${e.sql}")
          Seq(a.nameParts.last)
        case other => throw new IllegalArgumentException(
          "MERGE ON supports only conjunctions of t.k = s.k equi-column " +
            s"conditions, got ${other.sql}")
      }
      val (kind, set) = matched match {
        case Seq() => ("none", Map.empty[String, String])
        case Seq(UpdateStarAction(None)) => ("updateAll", Map.empty[String, String])
        case Seq(DeleteAction(None)) => ("delete", Map.empty[String, String])
        case Seq(UpdateAction(None, assigns, _)) =>
          ("updateSet", assigns.map { case Assignment(k, v) =>
            val name = k match {
              case a: UnresolvedAttribute => a.nameParts.last
              case a: AttributeReference => a.name
              case other => throw new IllegalArgumentException(
                s"MERGE SET key must be a column, got $other")
            }
            name -> rewrite(v)
          }.toMap)
        case other => throw new IllegalArgumentException(
          "MERGE supports at most one unconditional matched action " +
            s"(UPDATE SET */columns or DELETE), got $other")
      }
      val insertAll = notMatched match {
        case Seq() => false
        case Seq(InsertStarAction(None)) => true
        case other => throw new IllegalArgumentException(
          "MERGE supports WHEN NOT MATCHED THEN INSERT * only, " +
            s"got $other")
      }
      GraftMergeCommand(rowLevelWarehouse(u.multipartIdentifier).get,
        u.multipartIdentifier, source, onKeys(mergeCond), kind, set, insertAll)
    case CreateTable(UnresolvedIdentifier(parts, _), columns, partitioning, tableSpec, ignoreIfExists)
        if isGraft(parts) =>
      val fields = columns.map { c =>
        require(c.defaultValue.isEmpty,
          s"DEFAULT values are not supported (column ${c.name})")
        StructField(c.name, c.dataType, c.nullable, c.metadata)
      }
      GraftCreateTableCommand(session.conf.get(ConfKey), parts,
        Some(StructType(fields)), GraftDdl.toIceTransforms(partitioning),
        GraftDdl.props(tableSpec), ignoreIfExists, None)
    case CreateTableAsSelect(UnresolvedIdentifier(parts, _), partitioning, query, tableSpec, _, ignoreIfExists, _)
        if isGraft(parts) =>
      GraftCreateTableCommand(session.conf.get(ConfKey), parts,
        None, GraftDdl.toIceTransforms(partitioning),
        GraftDdl.props(tableSpec), ignoreIfExists, Some(query))
    case DropTable(UnresolvedIdentifier(parts, _), ifExists, purge)
        if isGraft(parts) =>
      GraftDropTableCommand(session.conf.get(ConfKey), parts, ifExists, purge)
    case AddColumns(UnresolvedTable(parts, _, _), cols) if isGraft(parts) =>
      val adds = cols.map { c =>
        require(c.path.isEmpty, "nested ADD COLUMN is not supported")
        require(c.position.isEmpty, "ADD COLUMN ... FIRST/AFTER is not supported")
        require(c.`default`.isEmpty, "DEFAULT values are not supported")
        (c.colName, c.dataType, c.comment)
      }
      GraftAddColumnsCommand(session.conf.get(ConfKey), parts, adds)
    case AlterColumns(UnresolvedTable(parts, _, _), specs) if isGraft(parts) =>
      val changes = specs.map { sp =>
        require(sp.column.name.length == 1, "nested ALTER COLUMN is not supported")
        require(sp.newPosition.isEmpty, "ALTER COLUMN ... FIRST/AFTER is not supported")
        require(sp.newDefaultExpression.isEmpty, "DEFAULT values are not supported")
        require(!sp.newNullability.contains(false),
          "ALTER COLUMN ... SET NOT NULL is not supported (existing files " +
            "cannot be proven null-free without a rewrite)")
        (sp.column.name.head, sp.newDataType, sp.newNullability, sp.newComment)
      }
      GraftAlterColumnsCommand(session.conf.get(ConfKey), parts, changes)
    case RenameColumn(UnresolvedTable(parts, _, _), col, newName) if isGraft(parts) =>
      GraftRenameColumnCommand(session.conf.get(ConfKey), parts,
        col.name.mkString("."), newName)
    case DropColumns(UnresolvedTable(parts, _, _), cols, ifExists) if isGraft(parts) =>
      GraftDropColumnsCommand(session.conf.get(ConfKey), parts,
        cols.map(_.name.mkString(".")), ifExists)
    case SetTableProperties(UnresolvedTable(parts, _, _), props) if isGraft(parts) =>
      GraftSetPropertiesCommand(session.conf.get(ConfKey), parts, props, unset = Nil)
    case UnsetTableProperties(UnresolvedTable(parts, _, _), keys, _) if isGraft(parts) =>
      GraftSetPropertiesCommand(session.conf.get(ConfKey), parts, Map.empty, unset = keys)
    // WHERE directly over a graft relation: thread the predicate into
    // SCAN PLANNING so manifest+file pruning fires — without this, SQL
    // SELECTs would list every file of a 100-TB table and lean only on
    // parquet row-group pushdown. The Filter stays on top (the scan may
    // return a superset; pruning only skips can't-match files), so
    // results are exact even when only part of the predicate translates.
    // WHERE over a time-travel relation: same planning-time pruning,
    // with the snapshot/timestamp pin applied first
    case f @ Filter(cond, RelationTimeTravel(u: UnresolvedRelation, ts, version))
        if isGraft(u.multipartIdentifier) =>
      val parts = u.multipartIdentifier
      val pin: ScanBuilder => ScanBuilder = (version, ts) match {
        case (Some(v), _) if v.forall(_.isDigit) => _.useSnapshot(v.toLong)
        case (Some(ref), _) => _.useRef(ref)
        case (None, Some(e)) => _.asOfTimestamp(tsMillis(e))
        case (None, None) => identity
      }
      val resolvedTT =
        try {
          val stripped = cond.transform {
            case a: UnresolvedAttribute
                if a.nameParts.size >= 2 && a.nameParts.head == parts.last =>
              UnresolvedAttribute(a.nameParts.tail)
          }
          scanPlan(parts, b => pin(b).filter(CatalystToIce.convert(stripped)))
        } catch { case _: Exception => scanPlan(parts, pin) }
      f.copy(child = resolvedTT)
    case f @ Filter(cond, child @ GraftTarget(u)) if isGraft(u.multipartIdentifier) =>
      val parts = u.multipartIdentifier
      val alias = child match {
        case SubqueryAlias(id, _) => id.name
        case _ => parts.last
      }
      val resolved =
        try {
          val cat = new DirCatalog(session.conf.get(ConfKey))
          val ident = TableIdentifier(parts.slice(1, parts.length - 1), parts.last)
          if (cat.tableExists(ident)) {
            val stripped = cond.transform {
              case a: UnresolvedAttribute
                  if a.nameParts.size >= 2 && a.nameParts.head == alias =>
                UnresolvedAttribute(a.nameParts.tail)
            }
            val t = IceTable.load(cat, ident)
            val df = t.newScan().filter(CatalystToIce.convert(stripped)).toDF(session)
            SubqueryAlias(alias, df.queryExecution.analyzed)
          } else relationPlan(parts)
        } catch {
          // untranslatable/unbindable predicate: fall back to the
          // unpruned scan — exactness comes from the Filter either way
          case _: Exception => relationPlan(parts)
        }
      f.copy(child = resolved)
    case u: UnresolvedRelation if isGraft(u.multipartIdentifier) =>
      relationPlan(u.multipartIdentifier)
    case RelationTimeTravel(u: UnresolvedRelation, ts, version)
        if isGraft(u.multipartIdentifier) =>
      (version, ts) match {
        case (Some(v), _) if v.forall(_.isDigit) =>
          scanPlan(u.multipartIdentifier, _.useSnapshot(v.toLong))
        case (Some(ref), _) => // branch or tag name
          scanPlan(u.multipartIdentifier, _.useRef(ref))
        case (None, Some(e)) =>
          scanPlan(u.multipartIdentifier, _.asOfTimestamp(tsMillis(e)))
        case (None, None) => scanPlan(u.multipartIdentifier, identity)
      }
  }
}

/** Row-level-op target relation, possibly under an alias. */
private[graft] object GraftTarget {
  def unapply(p: LogicalPlan): Option[UnresolvedRelation] = p match {
    case u: UnresolvedRelation => Some(u)
    case SubqueryAlias(_, u: UnresolvedRelation) => Some(u)
    case _ => None
  }
}

/** Catalyst → graft expression translation for SQL row-level ops. The
  * structural subset (comparisons, IN, IS NULL, AND/OR/NOT over column
  * vs literal) becomes native predicates — these drive manifest + file
  * pruning, so a partition-scoped DELETE plans only that partition's
  * files. Anything else falls back to `Expr.raw(sql)`: opaque to
  * pruning (conservatively scans) but evaluated exactly by Spark on the
  * data, so results are always right. */
private[graft] object CatalystToIce {
  import graft.ice.expr.{AndE, OrE}

  private def colName(e: Expression): Option[String] = e match {
    case a: UnresolvedAttribute => Some(a.name)
    case a: AttributeReference => Some(a.name)
    case _ => None
  }

  private def lit(e: Expression): Option[IceLit] = e match {
    case ce.Literal(v, dt) if v != null => dt match {
      case IntegerType => Some(IceLit.int(v.asInstanceOf[Int]))
      case LongType => Some(IceLit.long(v.asInstanceOf[Long]))
      case FloatType => Some(IceLit.float(v.asInstanceOf[Float]))
      case DoubleType => Some(IceLit.double(v.asInstanceOf[Double]))
      case BooleanType => Some(IceLit.bool(v.asInstanceOf[Boolean]))
      case StringType => Some(IceLit.string(v.toString))
      case _ => None
    }
    case _ => None
  }

  private def hasRaw(e: E): Boolean = e match {
    case RawE(_) => true
    case AndE(l, r) => hasRaw(l) || hasRaw(r)
    case OrE(l, r) => hasRaw(l) || hasRaw(r)
    case NotE(c) => hasRaw(c)
    case _ => false
  }

  private def cmp(a: Expression, b: Expression,
      direct: (String, IceLit) => E, flipped: (String, IceLit) => E): Option[E] =
    (colName(a), lit(b), lit(a), colName(b)) match {
      case (Some(n), Some(v), _, _) => Some(direct(n, v))
      case (_, _, Some(v), Some(n)) => Some(flipped(n, v))
      case _ => None
    }

  def convert(e: Expression): E = e match {
    case ce.And(l, r) => convert(l).and(convert(r))
    case ce.Or(l, r) => convert(l).or(convert(r))
    case ce.Not(c) =>
      val inner = convert(c)
      // NOT over a raw fragment can't be negated structurally — keep the
      // whole NOT opaque instead
      if (hasRaw(inner)) RawE(e.sql) else inner.negate
    case ce.EqualTo(a, b) =>
      cmp(a, b, E.equal, E.equal).getOrElse(RawE(e.sql))
    case ce.LessThan(a, b) =>
      cmp(a, b, E.lt, E.gt).getOrElse(RawE(e.sql))
    case ce.LessThanOrEqual(a, b) =>
      cmp(a, b, E.ltEq, E.gtEq).getOrElse(RawE(e.sql))
    case ce.GreaterThan(a, b) =>
      cmp(a, b, E.gt, E.lt).getOrElse(RawE(e.sql))
    case ce.GreaterThanOrEqual(a, b) =>
      cmp(a, b, E.gtEq, E.ltEq).getOrElse(RawE(e.sql))
    case ce.In(a, vs) if colName(a).isDefined && vs.forall(lit(_).isDefined) =>
      E.in(colName(a).get, vs.map(lit(_).get))
    case ce.IsNull(a) if colName(a).isDefined => E.isNull(colName(a).get)
    case ce.IsNotNull(a) if colName(a).isDefined => E.notNull(colName(a).get)
    case ce.Literal(true, BooleanType) => E.raw("true")
    case other => RawE(other.sql)
  }
}

/** `DELETE FROM graft.<ns>.<t> WHERE ...`: dispatches on the table's
  * `write.delete.mode` property — copy-on-write rewrites affected
  * files; merge-on-read writes position deletes (deletion vectors on
  * v3 tables). The translated predicate prunes planning either way. */
final case class GraftDeleteCommand(warehouse: String, parts: Seq[String],
    conditionSql: String) extends LeafRunnableCommand {

  override def run(session: SparkSession): Seq[Row] = {
    val t = IceTable.load(new DirCatalog(warehouse),
      TableIdentifier(parts.slice(1, parts.length - 1), parts.last))
    val filter = CatalystToIce.convert(
      session.sessionState.sqlParser.parseExpression(conditionSql))
    val mode = TableProperties.get(t.properties, TableProperties.WriteDeleteMode)
    val del = t.delete(session)
    mode match {
      case "merge-on-read" =>
        // format-version lives in table METADATA, not properties — the
        // 'format-version' property is consumed at create time, so a
        // properties lookup would always see the default
        if (t.metadata.formatVersion >= 3) del.deleteWhereDV(filter)
        else del.deleteWherePositional(filter)
      case _ => del.deleteWhere(filter)
    }
    Seq.empty
  }
}

/** `UPDATE graft.<ns>.<t> SET ... WHERE ...`: dispatches on the table's
  * `write.update.mode` property (reference table_properties.h, the third
  * mode twin) — copy-on-write rewrites only files with matching rows;
  * merge-on-read supersedes matching rows with position deletes
  * (deletion vectors on v3) and re-appends them updated, so a narrow
  * UPDATE on a huge table never rewrites whole files. */
final case class GraftUpdateCommand(warehouse: String, parts: Seq[String],
    set: Map[String, String], conditionSql: Option[String])
    extends LeafRunnableCommand {

  override def run(session: SparkSession): Seq[Row] = {
    val t = IceTable.load(new DirCatalog(warehouse),
      TableIdentifier(parts.slice(1, parts.length - 1), parts.last))
    val filter = conditionSql.map(sql => CatalystToIce.convert(
      session.sessionState.sqlParser.parseExpression(sql))).getOrElse(E.raw("true"))
    val mode = TableProperties.get(t.properties, TableProperties.WriteUpdateMode)
    mode match {
      case "merge-on-read" => t.delete(session).updateWhereMoR(filter, set)
      case _ => t.delete(session).updateWhere(filter, set)
    }
    Seq.empty
  }
}

/** DDL translation helpers: v2 partition transforms → graft transforms
  * (the Iceberg transform vocabulary: identity, bucket[N], truncate[W],
  * year/month/day/hour), TBLPROPERTIES passthrough. */
private[graft] object GraftDdl {
  import graft.ice.transform.{Transform => IceTransform, _}

  private def ref(e: cx.Expression): String = e match {
    case n: cx.NamedReference => n.fieldNames.mkString(".")
    case other => throw new IllegalArgumentException(
      s"partition transform argument must be a column, got $other")
  }

  /** (source column, transform) pairs in declaration order. */
  def toIceTransforms(ts: Seq[cx.Transform]): Seq[(String, IceTransform)] =
    ts.map { t =>
      def intArg: Int = t.arguments.collectFirst {
        case l: cx.Literal[_] => l.value.asInstanceOf[Number].intValue
      }.getOrElse(throw new IllegalArgumentException(s"missing int arg in $t"))
      def colArg: String = t.arguments.collectFirst {
        case n: cx.NamedReference => n.fieldNames.mkString(".")
      }.getOrElse(throw new IllegalArgumentException(s"missing column in $t"))
      t.name match {
        case "identity" => (ref(t.arguments.head), IdentityTransform)
        case "bucket" => (colArg, BucketTransform(intArg))
        case "truncate" => (colArg, TruncateTransform(intArg))
        case "years" | "year" => (ref(t.arguments.head), YearTransform)
        case "months" | "month" => (ref(t.arguments.head), MonthTransform)
        case "days" | "day" | "date" => (ref(t.arguments.head), DayTransform)
        case "hours" | "hour" | "date_hour" => (ref(t.arguments.head), HourTransform)
        case other => throw new IllegalArgumentException(
          s"unsupported partition transform '$other' " +
            "(identity, bucket, truncate, years, months, days, hours)")
      }
    }

  def props(spec: org.apache.spark.sql.catalyst.plans.logical.TableSpecBase): Map[String, String] =
    spec match {
      case u: UnresolvedTableSpec => u.properties
      case _ => Map.empty
    }

  /** Spark DataType → Iceberg type for ALTER ADD COLUMN (primitives
    * only: nested types would need field-id allocation against the
    * table's last-column-id, which addColumn owns for the top level). */
  def toIceType(dt: DataType): graft.ice.types.IceType = {
    import graft.ice.types._
    dt match {
      case BooleanType => BooleanT
      case ByteType | ShortType | IntegerType => IntT
      case LongType => LongT
      case FloatType => FloatT
      case DoubleType => DoubleT
      case DateType => DateT
      case TimestampNTZType => TimestampT
      case TimestampType => TimestampTzT
      case StringType => StringT
      case BinaryType => BinaryT
      case d: DecimalType => DecimalT(d.precision, d.scale)
      case other => throw new IllegalArgumentException(
        s"ALTER TABLE ADD COLUMN supports primitive types only, got $other")
    }
  }

  /** Connector default-value literal (catalyst-internal value + Spark
    * type) → the Iceberg raw-value convention of
    * [[graft.ice.types.Literal]] (Int days, Long micros, JBigDecimal...).
    * Null means "no default" at this layer. */
  def toIceRaw(dt: DataType, catalystValue: Any): Any = {
    if (catalystValue == null) return null
    val ext = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .convertToScala(catalystValue, dt)
    ext match {
      case d: java.sql.Date => d.toLocalDate.toEpochDay.toInt
      case d: java.time.LocalDate => d.toEpochDay.toInt
      case t: java.sql.Timestamp =>
        val i = t.toInstant; i.getEpochSecond * 1000000L + i.getNano / 1000L
      case i: java.time.Instant => i.getEpochSecond * 1000000L + i.getNano / 1000L
      case l: java.time.LocalDateTime =>
        l.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + l.getNano / 1000L
      case bd: scala.math.BigDecimal => bd.bigDecimal
      case other => other // primitives, String, Array[Byte]
    }
  }

  /** Fold a stored default-value SQL string ("'STANDARD'", "CAST(7 AS INT)")
    * to an Iceberg raw value. Only constant-foldable expressions qualify —
    * Spark's own ResolveDefaultColumns enforces the same restriction. */
  def foldDefaultSql(sql: String, dt: DataType,
      spark: org.apache.spark.sql.SparkSession): Option[Any] =
    try {
      import org.apache.spark.sql.catalyst.expressions.{Cast, Literal => CatLit}
      val parsed = spark.sessionState.sqlParser.parseExpression(sql)
      val adapted = parsed match {
        case l: CatLit if l.dataType == dt => l
        case e if e.resolved && e.foldable => Cast(e, dt)
        case _ => return None
      }
      if (!adapted.resolved || !adapted.foldable) None
      else Option(toIceRaw(dt, adapted.eval(null)))
    } catch { case _: Exception => None }

  /** Iceberg partition-field naming convention. */
  def partName(col: String, t: IceTransform): String = t match {
    case IdentityTransform => col
    case BucketTransform(_) => s"${col}_bucket"
    case TruncateTransform(_) => s"${col}_trunc"
    case YearTransform => s"${col}_year"
    case MonthTransform => s"${col}_month"
    case DayTransform => s"${col}_day"
    case HourTransform => s"${col}_hour"
    case other => s"${col}_${other.toString.toLowerCase}"
  }
}

/** `CREATE TABLE graft.<ns>.<t> (...) PARTITIONED BY (transforms)
  * TBLPROPERTIES (...)` and CTAS: creates through the graft catalog —
  * the spec's transform vocabulary comes straight from the PARTITIONED
  * BY clause, so a SQL user gets the same hidden-partitioning layout
  * the Scala API builds. CTAS appends the query result in a second
  * commit on the fresh table. */
final case class GraftCreateTableCommand(warehouse: String, parts: Seq[String],
    tableSchema: Option[StructType], transforms: Seq[(String, graft.ice.transform.Transform)],
    properties: Map[String, String], ignoreIfExists: Boolean,
    ctas: Option[LogicalPlan]) extends LeafRunnableCommand {

  override def innerChildren: Seq[org.apache.spark.sql.catalyst.plans.QueryPlan[_]] =
    ctas.toSeq

  override def run(session: SparkSession): Seq[Row] = {
    import graft.ice.meta.{PartitionField, PartitionSpec}
    import graft.ice.types.SparkConv
    val cat = new DirCatalog(warehouse)
    val ident = TableIdentifier(parts.slice(1, parts.length - 1), parts.last)
    if (cat.tableExists(ident)) {
      if (ignoreIfExists) return Seq.empty
      throw new IllegalStateException(s"table ${parts.mkString(".")} already exists")
    }
    val sourceDf = ctas.map(q =>
      org.apache.spark.sql.GraftColumnBridge.ofRows(session, q))
    val sparkSchema = tableSchema.getOrElse(sourceDf.get.schema)
    val iceSchema = SparkConv.fromSpark(sparkSchema)
    val spec =
      if (transforms.isEmpty) PartitionSpec.unpartitioned
      else PartitionSpec(0, transforms.zipWithIndex.map { case ((c, tr), i) =>
        val f = iceSchema.findFieldByName(c).getOrElse(
          throw new IllegalArgumentException(s"PARTITIONED BY names unknown column '$c'"))
        PartitionField(f.id, 1000 + i, GraftDdl.partName(c, tr), tr)
      }.toIndexedSeq)
    val t = IceTable.create(cat, ident, iceSchema, spec, properties = properties)
    sourceDf.foreach(df => t.append(session).appendDataFrame(df))
    Seq.empty
  }
}

/** `ALTER TABLE graft.<ns>.<t> ADD COLUMNS (...)`: schema evolution via
  * the UpdateSchema builder — a guarded metadata commit
  * (AssertCurrentSchemaId), no data rewritten; files resolve the new
  * column as NULL by field-id absence. */
final case class GraftAddColumnsCommand(warehouse: String, parts: Seq[String],
    cols: Seq[(String, DataType, Option[String])]) extends LeafRunnableCommand {

  override def run(session: SparkSession): Seq[Row] = {
    val t = IceTable.load(new DirCatalog(warehouse),
      TableIdentifier(parts.slice(1, parts.length - 1), parts.last))
    val up = t.updateSchema()
    cols.foreach { case (name, dt, doc) =>
      up.addColumn(name, GraftDdl.toIceType(dt), doc)
    }
    up.commit()
    Seq.empty
  }
}

/** `ALTER TABLE ... ALTER COLUMN c TYPE t / DROP NOT NULL / COMMENT` —
  * type changes go through UpdateSchema's promotion validator (int→long,
  * float→double, decimal precision widen; schema_util.cc:38-80 rules).
  * Metadata-only: existing files keep their physical type and reads
  * up-cast through the field-id schema resolver (P3). */
final case class GraftAlterColumnsCommand(warehouse: String, parts: Seq[String],
    changes: Seq[(String, Option[DataType], Option[Boolean], Option[String])])
    extends LeafRunnableCommand {

  override def run(session: SparkSession): Seq[Row] = {
    val t = IceTable.load(new DirCatalog(warehouse),
      TableIdentifier(parts.slice(1, parts.length - 1), parts.last))
    val up = t.updateSchema()
    changes.foreach { case (name, newType, newNullable, newComment) =>
      newType.foreach { dt =>
        GraftDdl.toIceType(dt) match {
          case p: graft.ice.types.IcePrimitive => up.updateColumnType(name, p)
          case other => throw new IllegalArgumentException(
            s"ALTER COLUMN TYPE supports primitive types only, got $other")
        }
      }
      if (newNullable.contains(true)) up.makeOptional(name)
      newComment.foreach(c => up.updateColumnDoc(name, c))
    }
    up.commit()
    Seq.empty
  }
}

/** `ALTER TABLE ... RENAME COLUMN a TO b` — safe because reads resolve
  * by field id (P3). */
final case class GraftRenameColumnCommand(warehouse: String, parts: Seq[String],
    from: String, to: String) extends LeafRunnableCommand {

  override def run(session: SparkSession): Seq[Row] = {
    val t = IceTable.load(new DirCatalog(warehouse),
      TableIdentifier(parts.slice(1, parts.length - 1), parts.last))
    t.updateSchema().renameColumn(from, to).commit()
    Seq.empty
  }
}

/** `ALTER TABLE ... DROP COLUMN[S]` — metadata-only; the data stays in
  * files and simply stops being projected. */
final case class GraftDropColumnsCommand(warehouse: String, parts: Seq[String],
    cols: Seq[String], ifExists: Boolean) extends LeafRunnableCommand {

  override def run(session: SparkSession): Seq[Row] = {
    val t = IceTable.load(new DirCatalog(warehouse),
      TableIdentifier(parts.slice(1, parts.length - 1), parts.last))
    val present = t.schema.fields.map(_.name).toSet
    val missing = cols.filterNot(present)
    if (missing.nonEmpty && !ifExists)
      throw new IllegalArgumentException(s"no such column(s): ${missing.mkString(", ")}")
    val up = t.updateSchema()
    cols.filter(present).foreach(up.deleteColumn)
    up.commit()
    Seq.empty
  }
}

/** `ALTER TABLE ... SET TBLPROPERTIES / UNSET TBLPROPERTIES` — one
  * metadata commit through the optimistic protocol. */
final case class GraftSetPropertiesCommand(warehouse: String, parts: Seq[String],
    props: Map[String, String], unset: Seq[String]) extends LeafRunnableCommand {

  override def run(session: SparkSession): Seq[Row] = {
    val t = IceTable.load(new DirCatalog(warehouse),
      TableIdentifier(parts.slice(1, parts.length - 1), parts.last))
    t.commit(base => base.copy(properties = base.properties ++ props -- unset))
    Seq.empty
  }
}

/** `DROP TABLE [IF EXISTS] graft.<ns>.<t> [PURGE]`. */
final case class GraftDropTableCommand(warehouse: String, parts: Seq[String],
    ifExists: Boolean, purge: Boolean) extends LeafRunnableCommand {

  override def run(session: SparkSession): Seq[Row] = {
    val cat = new DirCatalog(warehouse)
    val ident = TableIdentifier(parts.slice(1, parts.length - 1), parts.last)
    val dropped = cat.dropTable(ident, purge)
    if (!dropped && !ifExists)
      throw new IllegalStateException(s"table ${parts.mkString(".")} does not exist")
    Seq.empty
  }
}

/** `MERGE INTO graft.<ns>.<t> USING <source> ON t.k = s.k ...`: the
  * supported SQL subset maps exactly onto Ops.MergeInto — equi-column
  * ON keys, one unconditional matched action (UPDATE SET * / UPDATE SET
  * assignments / DELETE; assignments may reference the user's aliases,
  * rewritten to the t/s evaluation aliases), and INSERT * for
  * unmatched source rows. `write.merge.mode=merge-on-read` flips the
  * commit to position-delete supersession instead of file rewrite. */
final case class GraftMergeCommand(warehouse: String, parts: Seq[String],
    source: LogicalPlan, on: Seq[String], matchedKind: String,
    set: Map[String, String], insertAll: Boolean)
    extends LeafRunnableCommand {

  override def innerChildren: Seq[org.apache.spark.sql.catalyst.plans.QueryPlan[_]] = Seq(source)

  override def run(session: SparkSession): Seq[Row] = {
    val t = IceTable.load(new DirCatalog(warehouse),
      TableIdentifier(parts.slice(1, parts.length - 1), parts.last))
    val sourceDf = org.apache.spark.sql.GraftColumnBridge.ofRows(session, source)
    var m = t.merge(session, sourceDf, on)
    m = matchedKind match {
      case "updateAll" => m.whenMatchedUpdateAll()
      case "updateSet" => m.whenMatchedUpdate(set)
      case "delete" => m.whenMatchedDelete()
      // insert-only merge: an empty SET keeps every target column
      case "none" => m.whenMatchedUpdate(Map.empty)
      case other => throw new IllegalStateException(s"bad matched kind $other")
    }
    if (insertAll) m = m.whenNotMatchedInsertAll()
    if (TableProperties.get(t.properties, TableProperties.WriteMergeMode) == "merge-on-read")
      m = m.withMergeOnRead()
    m.commit()
    Seq.empty
  }
}

/** `INSERT INTO|OVERWRITE graft.<ns>.<t> <query>`: the source query is
  * analyzed and executed at run time, then committed through the same
  * append/overwrite snapshot producers as the Scala API — one atomic
  * commit, retried under the C5 protocol like any other writer. INSERT
  * OVERWRITE is dynamic-partition overwrite on partitioned tables and
  * truncate-and-load on unpartitioned ones (the Hive-compatible
  * semantics Spark users expect). */
final case class GraftInsertCommand(warehouse: String, parts: Seq[String],
    query: LogicalPlan, overwrite: Boolean, userCols: Seq[String],
    byName: Boolean = false)
    extends LeafRunnableCommand {

  override def innerChildren: Seq[org.apache.spark.sql.catalyst.plans.QueryPlan[_]] = Seq(query)

  override def run(session: SparkSession): Seq[Row] = {
    val t = IceTable.load(new DirCatalog(warehouse),
      TableIdentifier(parts.slice(1, parts.length - 1), parts.last))
    var df = org.apache.spark.sql.GraftColumnBridge.ofRows(session, query)
    // SQL INSERT is positional; a column list reorders/subsets, with
    // unmentioned table columns going NULL
    val target = t.schema.fields.map(_.name)
    if (byName) {
      // INSERT BY NAME: the query's column names drive the mapping;
      // unmentioned table columns go NULL
      var named = df
      target.filterNot(df.columns.contains).foreach(c =>
        named = named.withColumn(c, org.apache.spark.sql.functions.lit(null)))
      df = named.select(target.map(org.apache.spark.sql.functions.col): _*)
    } else if (userCols.nonEmpty) {
      require(userCols.size == df.columns.length,
        s"INSERT column list has ${userCols.size} names but the query " +
          s"produces ${df.columns.length} columns")
      var named = df.toDF(userCols: _*)
      target.filterNot(userCols.contains).foreach(c =>
        named = named.withColumn(c, org.apache.spark.sql.functions.lit(null)))
      df = named.select(target.map(org.apache.spark.sql.functions.col): _*)
    } else {
      require(df.columns.length == target.length,
        s"INSERT query produces ${df.columns.length} columns; the table " +
          s"has ${target.length}")
      df = df.toDF(target.toSeq: _*)
    }
    if (overwrite) {
      if (t.spec.isUnpartitioned) t.overwrite(session).replaceAll(df)
      else t.overwrite(session).dynamic(df)
    } else t.append(session).appendDataFrame(df)
    Seq.empty
  }
}
