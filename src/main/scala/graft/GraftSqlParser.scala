package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier => SparkTableIdentifier}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{DataType, StructType}

import graft.ice.IceTable
import graft.ice.catalog.{DirCatalog, TableIdentifier}
import graft.ice.transform.{BucketTransform, DayTransform, HourTransform, IdentityTransform, MonthTransform, Transform => IceTransform, TruncateTransform, YearTransform}

/** Delegating SQL parser for the statements Spark's grammar lacks —
  * partition evolution DDL (Iceberg's own Spark integration does the
  * same via a parser extension):
  *
  * {{{
  *   ALTER TABLE graft.db.t ADD PARTITION FIELD bucket(16, id) [AS name]
  *   ALTER TABLE graft.db.t DROP PARTITION FIELD <name | transform>
  * }}}
  *
  * Everything else falls through to Spark's parser verbatim. The
  * statement grammar is intentionally narrow (multipart identifiers and
  * the FIELD keyword, which Spark's ADD PARTITION grammar lacks), so
  * the regex front-end cannot shadow any standard SQL. The identifier's
  * head names a registered [[graft.ice.connector.GraftCatalogPlugin]]
  * catalog (`ice.db.t`, `graft.db.t`), whose warehouse serves the table. */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {

  override def parsePlan(sqlText: String): LogicalPlan =
    GraftPartitionDdl.parse(sqlText).getOrElse(delegate.parsePlan(sqlText))

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): SparkTableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
}

private[graft] object GraftPartitionDdl {

  // any multipart identifier: partition evolution must be reachable for
  // tables under any GraftCatalogPlugin catalog (ice.db.t, graft.db.t).
  // The FIELD keyword keeps Hive-style `ADD PARTITION (spec)` out of
  // this grammar.
  private val Add =
    """(?is)\s*ALTER\s+TABLE\s+(\w+(?:\.\w+)+)\s+ADD\s+PARTITION\s+FIELD\s+(.+?)(?:\s+AS\s+(\w+))?\s*;?\s*""".r
  private val Drop =
    """(?is)\s*ALTER\s+TABLE\s+(\w+(?:\.\w+)+)\s+DROP\s+PARTITION\s+FIELD\s+(.+?)\s*;?\s*""".r
  // branch / tag lifecycle (Iceberg's ALTER TABLE ... CREATE BRANCH):
  // default position is the current snapshot; AS OF VERSION pins one
  private val CreateRef =
    """(?is)\s*ALTER\s+TABLE\s+(\w+(?:\.\w+)+)\s+CREATE\s+(BRANCH|TAG)\s+(\w+)(?:\s+AS\s+OF\s+VERSION\s+(\d+))?\s*;?\s*""".r
  private val DropRef =
    """(?is)\s*ALTER\s+TABLE\s+(\w+(?:\.\w+)+)\s+DROP\s+(BRANCH|TAG)\s+(\w+)\s*;?\s*""".r
  // declared write order (Iceberg's WRITE ORDERED BY): columns with
  // optional ASC/DESC + NULLS FIRST/LAST
  private val WriteOrdered =
    """(?is)\s*ALTER\s+TABLE\s+(\w+(?:\.\w+)+)\s+WRITE\s+ORDERED\s+BY\s+(.+?)\s*;?\s*""".r
  private val WriteUnordered =
    """(?is)\s*ALTER\s+TABLE\s+(\w+(?:\.\w+)+)\s+WRITE\s+UNORDERED\s*;?\s*""".r
  private val OrderCol =
    """(?i)\s*(\w+)(?:\s+(ASC|DESC))?(?:\s+NULLS\s+(FIRST|LAST))?\s*""".r
  // row-identity declaration (Iceberg SET IDENTIFIER FIELDS)
  private val SetIdent =
    """(?is)\s*ALTER\s+TABLE\s+(\w+(?:\.\w+)+)\s+SET\s+IDENTIFIER\s+FIELDS\s+([\w,\s]+?)\s*;?\s*""".r
  private val DropIdent =
    """(?is)\s*ALTER\s+TABLE\s+(\w+(?:\.\w+)+)\s+DROP\s+IDENTIFIER\s+FIELDS\s*;?\s*""".r

  private val Bucket = """(?i)bucket\s*\(\s*(\d+)\s*,\s*(\w+)\s*\)""".r
  // both argument orders, matching iceberg SQL (truncate(col, w)) and
  // the connector transform (truncate(w, col))
  private val TruncWC = """(?i)truncate\s*\(\s*(\d+)\s*,\s*(\w+)\s*\)""".r
  private val TruncCW = """(?i)truncate\s*\(\s*(\w+)\s*,\s*(\d+)\s*\)""".r
  private val Temporal = """(?i)(years?|months?|days?|hours?)\s*\(\s*(\w+)\s*\)""".r
  private val Ident = """(\w+)""".r

  /** Transform spec text → (source column, transform). */
  def parseTransform(s: String): Option[(String, IceTransform)] = s.trim match {
    case Bucket(n, c) => Some((c, BucketTransform(n.toInt)))
    case TruncWC(w, c) => Some((c, TruncateTransform(w.toInt)))
    case TruncCW(c, w) => Some((c, TruncateTransform(w.toInt)))
    case Temporal(t, c) => t.toLowerCase.stripSuffix("s") match {
      case "year" => Some((c, YearTransform))
      case "month" => Some((c, MonthTransform))
      case "day" => Some((c, DayTransform))
      case "hour" => Some((c, HourTransform))
    }
    case Ident(c) => Some((c, IdentityTransform))
    case _ => None
  }

  def parse(sqlText: String): Option[LogicalPlan] = sqlText match {
    case Add(table, spec, alias) =>
      parseTransform(spec).map { case (col, tr) =>
        GraftAddPartitionFieldCommand(table.split('.').toSeq, col, tr,
          Option(alias))
      }
    case Drop(table, spec) =>
      Some(GraftDropPartitionFieldCommand(table.split('.').toSeq, spec.trim))
    case CreateRef(table, kind, name, version) =>
      Some(GraftCreateRefCommand(table.split('.').toSeq,
        kind.toLowerCase, name, Option(version).map(_.toLong)))
    case DropRef(table, kind, name) =>
      Some(GraftDropRefCommand(table.split('.').toSeq, kind.toLowerCase, name))
    case WriteOrdered(table, cols) =>
      val parsed = cols.split(',').toSeq.map {
        case OrderCol(c, dir, nulls) =>
          val asc = dir == null || dir.equalsIgnoreCase("ASC")
          // SQL default: ASC => NULLS FIRST, DESC => NULLS LAST
          val nullsFirst = Option(nulls)
            .map(_.equalsIgnoreCase("FIRST")).getOrElse(asc)
          (c, asc, nullsFirst)
        case other => return None // not our grammar: fall through
      }
      Some(GraftWriteOrderedCommand(table.split('.').toSeq, parsed))
    case WriteUnordered(table) =>
      Some(GraftWriteUnorderedCommand(table.split('.').toSeq))
    case SetIdent(table, cols) =>
      Some(GraftSetIdentifierFieldsCommand(table.split('.').toSeq,
        cols.split(',').map(_.trim).filter(_.nonEmpty).toSeq))
    case DropIdent(table) =>
      Some(GraftSetIdentifierFieldsCommand(table.split('.').toSeq, Nil))
    case _ => None
  }
}

private[graft] object GraftPartitionCommands {
  /** The table `parts` names: its head is a registered
    * [[graft.ice.connector.GraftCatalogPlugin]] catalog, the rest the
    * namespace and table under that catalog's warehouse. */
  def loadTable(session: SparkSession, parts: Seq[String]): IceTable = {
    val wh = session.sessionState.catalogManager.catalog(parts.head) match {
      case g: graft.ice.connector.GraftCatalogPlugin => g.warehouseLocation
      case other => throw new IllegalArgumentException(
        s"'${parts.mkString(".")}' is not under a graft catalog " +
          s"(catalog '${parts.head}' is ${other.getClass.getName})")
    }
    val rel = parts.tail
    IceTable.load(new DirCatalog(wh),
      TableIdentifier(rel.slice(0, rel.length - 1), rel.last))
  }
}

/** `ALTER TABLE graft.<ns>.<t> ADD PARTITION FIELD <transform> [AS n]`:
  * partition EVOLUTION — a new default spec with the existing fields
  * (ids preserved) plus the new one. Existing files keep their old
  * spec id; scans plan both (t_spec_evolution semantics). */
final case class GraftAddPartitionFieldCommand(parts: Seq[String],
    sourceCol: String, transform: IceTransform,
    name: Option[String]) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val t = GraftPartitionCommands.loadTable(session, parts)
    t.updateSpec().fromCurrent()
      .addField(name.getOrElse(GraftDdl.partName(sourceCol, transform)),
        sourceCol, transform)
      .commit()
    Seq.empty
  }
}

/** `ALTER TABLE graft.<ns>.<t> DROP PARTITION FIELD <name|transform>`:
  * drops by field name, or by re-deriving the conventional name from a
  * transform spec (`bucket(16, id)` drops `id_bucket`). */
final case class GraftDropPartitionFieldCommand(parts: Seq[String],
    fieldSpec: String) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val t = GraftPartitionCommands.loadTable(session, parts)
    val current = t.metadata.defaultSpec
    val byName = current.fields.find(_.name == fieldSpec).map(_.name)
    val byTransform = GraftPartitionDdl.parseTransform(fieldSpec).flatMap {
      case (col, tr) =>
        t.schema.findFieldByName(col).map(_.id).flatMap(srcId =>
          current.fields.find(f => f.sourceId == srcId && f.transform == tr)
            .map(_.name))
    }
    val target = byName.orElse(byTransform).getOrElse(
      throw new IllegalArgumentException(
        s"no partition field matches '$fieldSpec' " +
          s"(have: ${current.fields.map(_.name).mkString(", ")})"))
    t.updateSpec().fromCurrent().removeField(target).commit()
    Seq.empty
  }
}

/** `ALTER TABLE t CREATE BRANCH|TAG name [AS OF VERSION id]` — ref
  * lifecycle through SQL (engine refs power time travel, WAP, per-ref
  * retention). Default position: the current snapshot. */
final case class GraftCreateRefCommand(parts: Seq[String], kind: String,
    refName: String, version: Option[Long]) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val t = GraftPartitionCommands.loadTable(session, parts)
    val snap = version.getOrElse(t.currentSnapshot.map(_.snapshotId).getOrElse(
      throw new IllegalArgumentException(
        s"cannot create $kind on an empty table (no snapshots)")))
    require(t.metadata.snapshotById(snap).isDefined, s"unknown snapshot $snap")
    if (kind == "branch") t.manageSnapshots().createBranch(refName, snap)
    else t.manageSnapshots().createTag(refName, snap)
    Seq.empty
  }
}

/** `ALTER TABLE t DROP BRANCH|TAG name` — kind-checked: dropping a tag
  * with DROP BRANCH (or vice versa) is an error, as in the reference. */
final case class GraftDropRefCommand(parts: Seq[String], kind: String,
    refName: String) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val t = GraftPartitionCommands.loadTable(session, parts)
    val ref = t.refs.getOrElse(refName,
      throw new IllegalArgumentException(s"unknown ref '$refName'"))
    require(ref.refType == kind,
      s"'$refName' is a ${ref.refType}, not a $kind")
    t.manageSnapshots().removeRef(refName)
    Seq.empty
  }
}

/** `ALTER TABLE t WRITE ORDERED BY c1 [ASC|DESC] [NULLS FIRST|LAST],...`
  * — replaces the default sort order; subsequent appends range-cluster
  * and sort within files, stamping sort_order_id so scans can elide
  * sorts and TopN pushdown can prove disjoint end-runs. */
final case class GraftWriteOrderedCommand(parts: Seq[String],
    cols: Seq[(String, Boolean, Boolean)]) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val t = GraftPartitionCommands.loadTable(session, parts)
    val fields = cols.map { case (c, asc, nullsFirst) =>
      val fld = t.schema.findFieldByName(c).getOrElse(
        throw new IllegalArgumentException(s"no such column: $c"))
      graft.ice.meta.SortField(fld.id,
        graft.ice.transform.IdentityTransform, asc, nullsFirst)
    }
    t.replaceSortOrder(fields)
    Seq.empty
  }
}

/** `ALTER TABLE t SET IDENTIFIER FIELDS a, b` / `DROP IDENTIFIER
  * FIELDS` — declares the row-identity columns (spec
  * identifier-field-ids): the default identifier set for changelog
  * update pairing. Empty cols = drop. */
final case class GraftSetIdentifierFieldsCommand(parts: Seq[String],
    cols: Seq[String]) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val t = GraftPartitionCommands.loadTable(session, parts)
    val u = t.updateSchema()
    (if (cols.isEmpty) u.clearIdentifierFields()
     else u.setIdentifierFields(cols)).commit()
    Seq.empty
  }
}

/** `ALTER TABLE t WRITE UNORDERED` — back to order id 0. */
final case class GraftWriteUnorderedCommand(parts: Seq[String])
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    GraftPartitionCommands.loadTable(session, parts).setUnsorted()
    Seq.empty
  }
}
