package graft.ice.connector

import java.util.{Collections, Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchFunctionException, NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{CatalogPlugin, FunctionCatalog, Identifier, NamespaceChange, ProcedureCatalog, SupportsNamespaces, Table, TableCatalog, TableChange, TableInfo}
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.GraftDdl
import graft.ice.IceTable
import graft.ice.catalog.{DirCatalog, TableIdentifier}
import graft.ice.meta.{PartitionField, PartitionSpec}
import graft.ice.transform.{BucketTransform, DayTransform, HourTransform, MonthTransform, Transform => IceTransform, TruncateTransform, YearTransform}
import graft.ice.types.{BinaryT, DateT, DecimalT, IcePrimitive, IntT, LongT, SparkConv, StringT, TimestampT, TimestampTzT}

/** Spark CatalogPlugin over a graft warehouse, and the library's one
  * SQL front end (C1/C2 exposed to Spark's catalog manager). Any name
  * serves, `graft` included:
  *
  * {{{
  *   spark.sql.catalog.graft = graft.ice.connector.GraftCatalogPlugin
  *   spark.sql.catalog.graft.warehouse = /path/to/warehouse
  * }}}
  *
  * Reads, writes, DDL and row-level DML ([[GraftSparkTable]]) have the
  * same semantics whether or not `GraftExtensions` is installed; the
  * extensions add only functions and the DDL Spark's grammar lacks.
  * Beyond table lookup:
  *  - **FunctionCatalog**: the partition-transform function family
  *    (`bucket`, `truncate`, `years/months/days/hours`) resolvable by
  *    Catalyst — REQUIRED for storage-partitioned joins, where Spark
  *    proves two scans partition-compatible by resolving both sides'
  *    transforms to the same canonical function.
  *  - **ProcedureCatalog**: `CALL ice.system.<proc>(...)` maintenance
  *    surface (expire_snapshots, rewrite_data_files, rewrite_manifests,
  *    remove_orphan_files, zorder, rollback_to_snapshot, fast_forward)
  *    — the SQL face of the Compaction/ManageSnapshots/TableMaintenance
  *    ops.
  *  - Inspection tables (`<catalog>.db.t.snapshots`, ...,
  *    `position_deletes`; [[GraftMetadataTables]]). */
class GraftCatalogPlugin extends TableCatalog with SupportsNamespaces
    with FunctionCatalog with ProcedureCatalog {

  private var catalogName: String = _
  private var initWarehouse: Option[String] = None

  private def cat = new DirCatalog(warehouseLocation)
  private def toId(ident: Identifier): TableIdentifier =
    TableIdentifier(ident.namespace.toSeq, ident.name)

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    initWarehouse = Option(options.get("warehouse"))
  }
  override def name(): String = catalogName

  /** The warehouse root: the active session's
    * `spark.sql.catalog.<name>.warehouse`, read on every call (Spark's
    * catalog manager keeps the plugin it first built, so re-pointing or
    * unsetting the key takes effect at once); outside a session, the
    * option the plugin was initialized with. */
  def warehouseLocation: String =
    SparkSession.getActiveSession
      .map(_.conf.getOption(s"spark.sql.catalog.$catalogName.warehouse"))
      .getOrElse(initWarehouse)
      .getOrElse(throw new IllegalArgumentException(
        s"catalog '$catalogName' requires option spark.sql.catalog.$catalogName.warehouse"))

  // ---- TableCatalog ----

  override def listTables(namespace: Array[String]): Array[Identifier] =
    cat.listTables(namespace.toSeq)
      .map(i => Identifier.of(i.namespace.toArray, i.name)).toArray

  override def loadTable(ident: Identifier): Table = {
    val wh = warehouseLocation
    val c = new DirCatalog(wh)
    val id = toId(ident)
    if (c.tableExists(id))
      new GraftSparkTable(IceTable.load(c, id), catalogName,
        (ident.namespace :+ ident.name).mkString("."), wh)
    else GraftMetadataTables.resolve(c, ident, catalogName).getOrElse(
      throw new NoSuchTableException(ident))
  }

  /** `VERSION AS OF` through the catalog: a branch or tag name, or a
    * snapshot id. Refs resolve FIRST so a branch/tag whose name happens
    * to be all digits is still addressable; a numeric version that names
    * no ref falls through to snapshot-id lookup (`toLongOption`, so an
    * empty or overlong digit string fails cleanly, not with a
    * NumberFormatException). */
  override def loadTable(ident: Identifier, version: String): Table = {
    val wh = warehouseLocation
    val t = IceTable.load(new DirCatalog(wh), toId(ident))
    val snapId = t.refs.get(version).map(_.snapshotId)
      .orElse(version.toLongOption
        .filter(id => t.metadata.snapshotById(id).isDefined))
      .getOrElse(throw new IllegalArgumentException(
        s"$ident: '$version' names neither a ref nor a snapshot id"))
    new GraftSparkTable(t, catalogName,
      (ident.namespace :+ ident.name).mkString("."), wh, Some(snapId))
  }

  /** `TIMESTAMP AS OF` through the catalog; Spark hands MICROseconds. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val wh = warehouseLocation
    val t = IceTable.load(new DirCatalog(wh), toId(ident))
    val ms = timestampMicros / 1000L
    val snapId = t.metadata.snapshotLog.filter(_.timestampMs <= ms)
      .lastOption.map(_.snapshotId).getOrElse(
        throw new IllegalArgumentException(
          s"no snapshot in $ident as of ${java.time.Instant.ofEpochMilli(ms)}"))
    new GraftSparkTable(t, catalogName,
      (ident.namespace :+ ident.name).mkString("."), wh, Some(snapId))
  }

  override def tableExists(ident: Identifier): Boolean = cat.tableExists(toId(ident))

  /** DEFAULT clauses in CREATE/ALTER TABLE are accepted (and mapped to
    * the v3 initial-default/write-default schema fields). */
  override def capabilities(): java.util.Set[
      org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    java.util.EnumSet.of(org.apache.spark.sql.connector.catalog
      .TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  override def createTable(ident: Identifier, info: TableInfo): Table = {
    val sparkSchema = CatalogV2Compat.schemaOf(info)
    val iceSchema0 = SparkConv.fromSpark(sparkSchema)
    // DEFAULT clauses ride in as metadata SQL strings (Spark's
    // ResolveDefaultColumns convention): CURRENT_DEFAULT = what future
    // writes fill (write-default), EXISTS_DEFAULT = what pre-existing
    // rows read (initial-default; constant-folded by Spark already)
    val iceSchema = {
      import org.apache.spark.sql.catalyst.util.ResolveDefaultColumns._
      val spark = SparkSession.active
      val byName = sparkSchema.fields.map(f => f.name -> f).toMap
      val fields = iceSchema0.fields.map { f =>
        byName.get(f.name).filter(_.metadata.contains(CURRENT_DEFAULT_COLUMN_METADATA_KEY))
          .map { sf =>
            val dt = sf.dataType
            val cur = GraftDdl.foldDefaultSql(
              sf.metadata.getString(CURRENT_DEFAULT_COLUMN_METADATA_KEY), dt, spark)
            val exists =
              if (sf.metadata.contains(EXISTS_DEFAULT_COLUMN_METADATA_KEY))
                GraftDdl.foldDefaultSql(
                  sf.metadata.getString(EXISTS_DEFAULT_COLUMN_METADATA_KEY), dt, spark)
              else cur
            require(cur.isDefined, s"DEFAULT for column ${f.name} must be a " +
              "constant-foldable expression")
            f.copy(initialDefault = exists, writeDefault = cur)
          }.getOrElse(f)
      }
      iceSchema0.copy(fields = fields)
    }
    val transforms = GraftDdl.toIceTransforms(info.partitions.toSeq)
    val spec =
      if (transforms.isEmpty) PartitionSpec.unpartitioned
      else PartitionSpec(0, transforms.zipWithIndex.map { case ((c, tr), i) =>
        val f = iceSchema.findFieldByName(c).getOrElse(
          throw new IllegalArgumentException(s"partitioning names unknown column '$c'"))
        PartitionField(f.id, 1000 + i, GraftDdl.partName(c, tr), tr)
      }.toIndexedSeq)
    IceTable.create(cat, toId(ident), iceSchema, spec,
      properties = info.properties.asScala.toMap)
    loadTable(ident)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val t = IceTable.load(cat, toId(ident))
    val (props, schemaChanges) = changes.partition(c =>
      c.isInstanceOf[TableChange.SetProperty] || c.isInstanceOf[TableChange.RemoveProperty])
    if (props.nonEmpty) {
      val sets = props.collect { case s: TableChange.SetProperty => s.property -> s.value }.toMap
      val unsets = props.collect { case r: TableChange.RemoveProperty => r.property }
      t.commit(base => base.copy(properties = base.properties ++ sets -- unsets))
    }
    if (schemaChanges.nonEmpty) {
      // one UpdateSchema commit carries the whole ALTER statement; the
      // AssertCurrentSchemaId guard makes a concurrent evolution fail
      // loudly instead of silently re-applying a stale field list
      def top(names: Array[String]): String = {
        require(names.length == 1,
          s"nested column changes are not supported: ${names.mkString(".")}")
        names.head
      }
      val up = t.updateSchema()
      schemaChanges.foreach {
        case a: TableChange.AddColumn =>
          // a new column takes the next field id and goes last
          require(a.position() == null,
            s"ADD COLUMN ${top(a.fieldNames)} ... FIRST/AFTER is not supported")
          // a DEFAULT clause maps to v3 defaults: the literal becomes both
          // the initial-default (what rows in pre-existing files read) and
          // the write-default (what future column-less writes fill)
          val default = Option(a.defaultValue()).map { dv =>
            dv.getValue() match {
              case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
                GraftDdl.toIceRaw(l.dataType(), l.value())
              case other => throw new UnsupportedOperationException(
                s"non-literal DEFAULT not supported: $other")
            }
          }
          if (a.isNullable)
            up.addColumnWithDefault(top(a.fieldNames), GraftDdl.toIceType(a.dataType),
              default, default, Option(a.comment))
          else {
            require(default.isDefined,
              s"adding NOT NULL column ${top(a.fieldNames)} requires a DEFAULT")
            up.addRequiredColumn(top(a.fieldNames), GraftDdl.toIceType(a.dataType),
              default.get, default, Option(a.comment))
          }
        case r: TableChange.RenameColumn => up.renameColumn(top(r.fieldNames), r.newName)
        case d: TableChange.DeleteColumn => up.deleteColumn(top(d.fieldNames))
        case u: TableChange.UpdateColumnType =>
          GraftDdl.toIceType(u.newDataType) match {
            case p: graft.ice.types.IcePrimitive => up.updateColumnType(top(u.fieldNames), p)
            case other => throw new IllegalArgumentException(
              s"type promotion target must be primitive, got $other")
          }
        case n: TableChange.UpdateColumnNullability =>
          require(n.nullable, s"cannot add NOT NULL to existing column " +
            s"${top(n.fieldNames)}: existing files may hold nulls")
          up.makeOptional(top(n.fieldNames))
        case c: TableChange.UpdateColumnComment =>
          up.updateColumnDoc(top(c.fieldNames), c.newComment)
        case d: TableChange.UpdateColumnDefaultValue =>
          // ALTER COLUMN ... SET/DROP DEFAULT changes the WRITE default
          // only; the initial-default stays fixed at column creation
          // (changing it would rewrite history for column-less files)
          val newDefault = Option(d.newCurrentDefault()).flatMap { dv =>
            dv.getExpression() match {
              case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
                Option(GraftDdl.toIceRaw(l.dataType(), l.value()))
              case _ =>
                val f = t.schema.findFieldByName(top(d.fieldNames)).getOrElse(
                  throw new IllegalArgumentException(s"no such column ${top(d.fieldNames)}"))
                val dt = SparkConv.toSparkType(f.fieldType)
                val folded = GraftDdl.foldDefaultSql(dv.getSql(), dt, SparkSession.active)
                require(folded.isDefined,
                  s"DEFAULT for ${top(d.fieldNames)} must be constant-foldable: ${dv.getSql()}")
                folded
            }
          }
          up.updateColumnDefault(top(d.fieldNames), newDefault)
        case other => throw new UnsupportedOperationException(
          s"unsupported table change: $other")
      }
      up.commit()
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = cat.dropTable(toId(ident))

  /** `DROP TABLE ... PURGE`: drops the table and deletes its files. */
  override def purgeTable(ident: Identifier): Boolean =
    cat.dropTable(toId(ident), purge = true)

  override def renameTable(from: Identifier, to: Identifier): Unit =
    cat.renameTable(toId(from), toId(to))

  // ---- SupportsNamespaces ----

  override def listNamespaces(): Array[Array[String]] =
    cat.listNamespaces().map(_.toArray).toArray
  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    cat.listNamespaces(namespace.toSeq).map(_.toArray).toArray
  override def namespaceExists(namespace: Array[String]): Boolean =
    cat.namespaceExists(namespace.toSeq)
  override def loadNamespaceMetadata(namespace: Array[String]): JMap[String, String] = {
    if (!cat.namespaceExists(namespace.toSeq))
      throw new NoSuchNamespaceException(namespace)
    Collections.emptyMap()
  }
  override def createNamespace(namespace: Array[String],
      metadata: JMap[String, String]): Unit =
    cat.createNamespace(namespace.toSeq, metadata.asScala.toMap)
  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("namespace metadata is immutable here")
  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean =
    cat.dropNamespace(namespace.toSeq)

  // ---- FunctionCatalog ----

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    GraftV2Functions.names.map(n => Identifier.of(Array.empty[String], n)).toArray

  override def loadFunction(ident: Identifier): UnboundFunction =
    GraftV2Functions.load(ident.name).getOrElse(
      throw new NoSuchFunctionException(ident))

  // ---- ProcedureCatalog ----

  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    require(ident.namespace.sameElements(Array("system")),
      s"procedures live in the 'system' namespace, got ${ident.namespace.mkString(".")}")
    GraftProcedures.load(ident.name, () => warehouseLocation).getOrElse(
      throw new UnsupportedOperationException(s"no such procedure: ${ident.name}"))
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    GraftProcedures.names.map(n => Identifier.of(Array("system"), n)).toArray
}

private[connector] object CatalogV2Compat {
  def schemaOf(info: TableInfo): StructType = info.schema()
}

/** Inspection tables as catalog identifiers:
  * `SELECT * FROM <catalog>.db.t.snapshots` — unless a real table
  * shadows the suffix name. The metadata-sized ones are served as a
  * LocalScan; `position_deletes` is delete-sized and served as a
  * distributed scan ([[GraftPositionDeletesTable]]). */
private[connector] object GraftMetadataTables {
  import org.apache.spark.sql.{DataFrame, SparkSession => SS}
  import graft.ice.MetadataTables

  private val PositionDeletesName = "position_deletes"

  private val tables: Map[String, (SS, IceTable) => DataFrame] = Map(
    "snapshots" -> (MetadataTables.snapshots _),
    "history" -> (MetadataTables.history _),
    "refs" -> (MetadataTables.refs _),
    "manifests" -> (MetadataTables.manifests _),
    "files" -> (MetadataTables.files _),
    "delete_files" -> (MetadataTables.deleteFiles _),
    "statistics" -> (MetadataTables.statistics _),
    "partition_stats" -> (MetadataTables.partitionStatistics _),
    "partitions" -> (MetadataTables.partitions _),
    "entries" -> (MetadataTables.entries _),
    "all_files" -> (MetadataTables.allFiles _),
    "metadata_log_entries" -> (MetadataTables.metadataLogEntries _))

  def resolve(cat: DirCatalog, ident: Identifier,
      catalogName: String): Option[Table] = {
    val metaName = ident.name.toLowerCase(java.util.Locale.ROOT)
    if (ident.namespace.isEmpty ||
        !(tables.contains(metaName) || metaName == PositionDeletesName)) return None
    val parent = TableIdentifier(
      ident.namespace.dropRight(1).toSeq, ident.namespace.last)
    if (!cat.tableExists(parent)) return None
    val t = IceTable.load(cat, parent)
    val name = s"$catalogName.${(ident.namespace :+ ident.name).mkString(".")}"
    Some(
      if (metaName == PositionDeletesName) new GraftPositionDeletesTable(name, t)
      else new GraftMetadataTable(name, tables(metaName)(SparkSession.active, t)))
  }
}

private[connector] final class GraftMetadataTable(nameStr: String,
    df: org.apache.spark.sql.DataFrame) extends Table
    with org.apache.spark.sql.connector.catalog.SupportsRead {
  import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder}
  import org.apache.spark.sql.util.CaseInsensitiveStringMap
  import org.apache.spark.sql.connector.catalog.TableCapability

  override def name(): String = nameStr
  override def schema(): StructType = df.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new LocalScan {
        override def readSchema(): StructType = df.schema
        override def rows(): Array[InternalRow] =
          df.queryExecution.executedPlan.executeCollect()
      }
    }
}

/** `<catalog>.db.t.position_deletes`: the (file_path, pos,
  * delete_file_path) tuples of every live position-delete file and
  * deletion vector of the current snapshot. One input partition per
  * delete file, read on the executor by `PositionDeletes`' per-entry
  * reader, so the driver opens no delete file. */
private[connector] final class GraftPositionDeletesTable(nameStr: String,
    table: IceTable) extends Table with org.apache.spark.sql.connector.catalog.SupportsRead {
  import org.apache.spark.sql.connector.catalog.TableCapability
  import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, ScanBuilder}
  import graft.ice.PositionDeletes

  override def name(): String = nameStr
  override def schema(): StructType = PositionDeletes.TupleSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan with Batch {
        private lazy val reads = PositionDeletes.tupleReads(
          table.currentSnapshot.map(table.planDeleteEntries).getOrElse(Nil)
            .filter(_.dataFile.content == graft.ice.manifest.FileContent.PositionDeletes))
        override def readSchema(): StructType = PositionDeletes.TupleSchema
        override def toBatch: Batch = this
        override def planInputPartitions(): Array[InputPartition] = reads.toArray
        override def createReaderFactory(): PartitionReaderFactory = {
          val (parquet, orc) = PositionDeletes.tupleReaders(SparkSession.active, reads)
          PositionDeleteTupleReaders(parquet, orc)
        }
      }
    }
}

private[connector] final case class PositionDeleteTupleReaders(
    parquet: graft.ice.PositionDeletes.Read, orc: graft.ice.PositionDeletes.Read)
    extends org.apache.spark.sql.connector.read.PartitionReaderFactory {
  import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader}
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    GraftReaderFactory.readerOf(graft.ice.PositionDeletes.tupleRows(parquet, orc,
      p.asInstanceOf[graft.ice.PositionDeletes.TupleRead]))
}

// ===================================================================
// V2 functions: the partition-transform family. produceResult computes
// EXACTLY the write-side transform (Transforms.scala), so Spark can both
// verify SPJ compatibility and, when only one join side is pre-bucketed,
// shuffle the other side INTO our layout with matching values.
// ===================================================================

private[connector] object GraftV2Functions {
  val names = Seq("bucket", "truncate", "years", "months", "days", "hours")

  def load(name: String): Option[UnboundFunction] = name match {
    case "bucket" => Some(BucketUnbound)
    case "truncate" => Some(TruncateUnbound)
    case "years" | "months" | "days" | "hours" => Some(TemporalUnbound(name))
    case _ => None
  }

  /** Spark internal value at `idx` → (ice primitive, ice runtime value). */
  def toIce(dt: DataType, row: InternalRow, idx: Int): (IcePrimitive, Any) = dt match {
    case IntegerType => (IntT, row.getInt(idx))
    case LongType => (LongT, row.getLong(idx))
    case DateType => (DateT, row.getInt(idx))
    case TimestampType => (TimestampTzT, row.getLong(idx))
    case TimestampNTZType => (TimestampT, row.getLong(idx))
    case StringType => (StringT, row.getUTF8String(idx).toString)
    case d: DecimalType =>
      (DecimalT(d.precision, d.scale), row.getDecimal(idx, d.precision, d.scale).toJavaBigDecimal)
    case BinaryType => (BinaryT, row.getBinary(idx))
    case other => throw new UnsupportedOperationException(s"unsupported type: $other")
  }

  /** Types that hash identically share a canonical family, so an int
    * column and a bigint column bucket-compare as the same function
    * (iceberg hashes int by widening to long). */
  def hashFamily(dt: DataType): String = dt match {
    case IntegerType | LongType | DateType | TimestampType | TimestampNTZType => "long"
    case StringType => "string"
    case _: DecimalType => "decimal"
    case BinaryType => "binary"
    case other => other.catalogString
  }
}

private[connector] object BucketUnbound extends UnboundFunction {
  override def name(): String = "bucket"
  override def description(): String =
    "bucket(n, col): iceberg murmur3(seed 0) bucket transform"
  override def bind(input: StructType): BoundFunction = {
    require(input.fields.length == 2, s"bucket expects (numBuckets, col), got $input")
    new BucketBound(input.fields(1).dataType)
  }
}

private[connector] final class BucketBound(src: DataType)
    extends ScalarFunction[java.lang.Integer] {
  override def name(): String = "bucket"
  override def canonicalName(): String =
    s"graft.bucket(${GraftV2Functions.hashFamily(src)})"
  override def inputTypes(): Array[DataType] = Array(IntegerType, src)
  override def resultType(): DataType = IntegerType
  override def isResultNullable: Boolean = true
  override def produceResult(row: InternalRow): java.lang.Integer =
    if (row.isNullAt(0) || row.isNullAt(1)) null
    else {
      val n = row.getInt(0)
      val (p, v) = GraftV2Functions.toIce(src, row, 1)
      BucketTransform(n).apply(v, p).asInstanceOf[Int]
    }
}

private[connector] object TruncateUnbound extends UnboundFunction {
  override def name(): String = "truncate"
  override def description(): String =
    "truncate(w, col): iceberg truncate transform"
  override def bind(input: StructType): BoundFunction = {
    require(input.fields.length == 2, s"truncate expects (width, col), got $input")
    new TruncateBound(input.fields(1).dataType)
  }
}

private[connector] final class TruncateBound(src: DataType)
    extends ScalarFunction[Any] {
  override def name(): String = "truncate"
  override def canonicalName(): String = s"graft.truncate(${src.catalogString})"
  override def inputTypes(): Array[DataType] = Array(IntegerType, src)
  override def resultType(): DataType = src
  override def isResultNullable: Boolean = true
  override def produceResult(row: InternalRow): Any =
    if (row.isNullAt(0) || row.isNullAt(1)) null
    else {
      val w = row.getInt(0)
      val (p, v) = GraftV2Functions.toIce(src, row, 1)
      TruncateTransform(w).apply(v, p) match {
        case s: String => UTF8String.fromString(s)
        case d: java.math.BigDecimal => Decimal(d)
        case other => other
      }
    }
}

private[connector] final case class TemporalUnbound(which: String)
    extends UnboundFunction {
  override def name(): String = which
  override def description(): String = s"$which(col): iceberg temporal transform"
  override def bind(input: StructType): BoundFunction = {
    require(input.fields.length == 1, s"$which expects one column, got $input")
    new TemporalBound(which, input.fields.head.dataType)
  }
}

private[connector] final class TemporalBound(which: String, src: DataType)
    extends ScalarFunction[java.lang.Integer] {
  private val transform: IceTransform = which match {
    case "years" => YearTransform
    case "months" => MonthTransform
    case "days" => DayTransform
    case "hours" => HourTransform
  }
  override def name(): String = which
  override def canonicalName(): String = s"graft.$which"
  override def inputTypes(): Array[DataType] = Array(src)
  // days yields DateType (epoch days ARE a date), the rest ordinals —
  // the same convention the partition tuples use on disk
  override def resultType(): DataType =
    if (which == "days") DateType else IntegerType
  override def isResultNullable: Boolean = true
  override def produceResult(row: InternalRow): java.lang.Integer =
    if (row.isNullAt(0)) null
    else {
      val (p, v) = GraftV2Functions.toIce(src, row, 0)
      transform.apply(v, p).asInstanceOf[Int]
    }
}

// ===================================================================
// Procedures: CALL <catalog>.system.<name>(...) — SQL face of the
// maintenance ops. Each returns a small result relation (LocalScan).
// ===================================================================

private[connector] object GraftProcedures {
  val names = Seq("expire_snapshots", "rewrite_data_files", "rewrite_manifests",
    "remove_orphan_files", "zorder", "rollback_to_snapshot", "fast_forward",
    "create_changelog_view", "rewrite_position_deletes", "snapshot_table",
    "add_files", "compute_table_stats", "compute_partition_stats",
    "cherrypick_snapshot", "set_current_snapshot", "rollback_to_timestamp",
    "ancestors_of", "publish_changes")

  def load(name: String, warehouse: () => String): Option[UnboundProcedure] =
    names.find(_ == name).map(n => GraftProcedure(n, warehouse()))
}

/** One class serves all procedures: parameters() switches on the name,
  * call() dispatches to the corresponding table op. */
private[connector] final case class GraftProcedure(procName: String,
    warehouse: String) extends UnboundProcedure with BoundProcedure {

  override def name(): String = procName
  override def description(): String = s"graft $procName"
  override def bind(input: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false

  private def in(n: String, dt: DataType) = ProcedureParameter.in(n, dt).build()
  private def opt(n: String, dt: DataType) =
    ProcedureParameter.in(n, dt).defaultValue("NULL").build()

  override def parameters(): Array[ProcedureParameter] = procName match {
    case "expire_snapshots" =>
      Array(in("table", StringType), opt("older_than_ms", LongType),
        opt("retain_last", IntegerType))
    case "rewrite_data_files" =>
      Array(in("table", StringType), opt("target_file_size_bytes", LongType))
    case "rewrite_manifests" | "remove_orphan_files" |
         "rewrite_position_deletes" | "compute_partition_stats" =>
      Array(in("table", StringType))
    case "compute_table_stats" =>
      Array(in("table", StringType), opt("columns", StringType))
    case "snapshot_table" =>
      Array(in("source_dir", StringType), in("table", StringType))
    case "add_files" =>
      Array(in("table", StringType), in("source_dir", StringType))
    case "zorder" =>
      Array(in("table", StringType), in("columns", StringType),
        opt("target_file_size_bytes", LongType))
    case "rollback_to_snapshot" | "cherrypick_snapshot" | "set_current_snapshot" =>
      Array(in("table", StringType), in("snapshot_id", LongType))
    case "rollback_to_timestamp" =>
      Array(in("table", StringType), in("timestamp_ms", LongType))
    case "ancestors_of" =>
      Array(in("table", StringType), opt("snapshot_id", LongType))
    case "publish_changes" =>
      Array(in("table", StringType), in("wap_id", StringType))
    case "fast_forward" =>
      Array(in("table", StringType), in("branch", StringType),
        in("to_ref", StringType))
    case "create_changelog_view" =>
      Array(in("table", StringType), opt("changelog_view", StringType),
        opt("start_snapshot_id", LongType), opt("end_snapshot_id", LongType),
        opt("net_changes", BooleanType), opt("identifier_columns", StringType))
  }

  private def result(schema: StructType, vals: Seq[Any]): java.util.Iterator[Scan] = {
    val scan: Scan = new LocalScan {
      override def readSchema(): StructType = schema
      override def rows(): Array[InternalRow] =
        Array(new GenericInternalRow(vals.toArray))
    }
    Collections.singletonList(scan).iterator()
  }

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val spark = SparkSession.active
    // lazy: snapshot_table's first argument is a source PATH, not a table
    lazy val t = IceTable.load(new DirCatalog(warehouse),
      TableIdentifier.parse(input.getUTF8String(0).toString))
    def optLong(i: Int): Option[Long] = if (input.isNullAt(i)) None else Some(input.getLong(i))
    def optInt(i: Int): Option[Int] = if (input.isNullAt(i)) None else Some(input.getInt(i))

    procName match {
      case "expire_snapshots" =>
        val before = t.metadata.snapshots.size
        // a bare CALL must be near-no-op maintenance, not history loss:
        // default older_than to now - 5 days, matching the reference
        // procedure family's default (an explicit older_than_ms still
        // expires exactly what it names)
        t.manageSnapshots().expireSnapshots(
          optLong(1).getOrElse(System.currentTimeMillis() - 5L * 24 * 60 * 60 * 1000),
          optInt(2).getOrElse(1))
        val after = IceTable.load(new DirCatalog(warehouse),
          TableIdentifier.parse(input.getUTF8String(0).toString)).metadata.snapshots.size
        result(StructType(Seq(StructField("expired_snapshots_count", LongType))),
          Seq((before - after).toLong))
      case "rewrite_data_files" =>
        val before = t.newScan().planFiles().size
        val snap = t.compact(spark).rewriteDataFiles(optLong(1).getOrElse(-1L))
        val after = IceTable.load(new DirCatalog(warehouse),
          TableIdentifier.parse(input.getUTF8String(0).toString))
          .newScan().planFiles().size
        result(StructType(Seq(
          StructField("rewritten_data_files_count", LongType),
          StructField("added_data_files_count", LongType),
          StructField("snapshot_id", LongType))),
          Seq(before.toLong, after.toLong, snap.snapshotId))
      case "rewrite_manifests" =>
        t.maintenance().rewriteManifests()
        result(StructType(Seq(StructField("done", BooleanType))), Seq(true))
      case "remove_orphan_files" =>
        val removed = t.maintenance().removeOrphanFiles()
        result(StructType(Seq(StructField("removed_files_count", LongType))),
          Seq(removed.size.toLong))
      case "zorder" =>
        val cols = input.getUTF8String(1).toString.split(",").map(_.trim).toSeq
        val snap = t.compact(spark).zorder(cols, optLong(2).getOrElse(-1L))
        result(StructType(Seq(StructField("snapshot_id", LongType))),
          Seq(snap.snapshotId))
      case "rollback_to_snapshot" =>
        val prev = t.currentSnapshot.map(_.snapshotId).getOrElse(-1L)
        t.manageSnapshots().rollbackTo(input.getLong(1))
        result(StructType(Seq(
          StructField("previous_snapshot_id", LongType),
          StructField("current_snapshot_id", LongType))),
          Seq(prev, input.getLong(1)))
      case "set_current_snapshot" =>
        val prev = t.currentSnapshot.map(_.snapshotId).getOrElse(-1L)
        t.manageSnapshots().setCurrentSnapshot(input.getLong(1))
        result(StructType(Seq(
          StructField("previous_snapshot_id", LongType),
          StructField("current_snapshot_id", LongType))),
          Seq(prev, input.getLong(1)))
      case "rollback_to_timestamp" =>
        val prev = t.currentSnapshot.map(_.snapshotId).getOrElse(-1L)
        t.manageSnapshots().rollbackToTimestamp(input.getLong(1))
        val cur = IceTable.load(new DirCatalog(warehouse),
          TableIdentifier.parse(input.getUTF8String(0).toString))
        result(StructType(Seq(
          StructField("previous_snapshot_id", LongType),
          StructField("current_snapshot_id", LongType))),
          Seq(prev, cur.currentSnapshot.map(_.snapshotId).getOrElse(-1L)))
      case "cherrypick_snapshot" =>
        t.manageSnapshots().cherrypick(spark, input.getLong(1))
        val cur = IceTable.load(new DirCatalog(warehouse),
          TableIdentifier.parse(input.getUTF8String(0).toString))
        result(StructType(Seq(
          StructField("source_snapshot_id", LongType),
          StructField("current_snapshot_id", LongType))),
          Seq(input.getLong(1), cur.currentSnapshot.map(_.snapshotId).getOrElse(-1L)))
      // publish the snapshot staged under `wap.id` (write-audit-publish):
      // resolve the id, then cherry-pick it onto main
      case "publish_changes" =>
        val wapId = input.getUTF8String(1).toString
        val staged = t.metadata.snapshots
          .filter(_.summary.get("wap.id").contains(wapId))
        require(staged.nonEmpty, s"no snapshot staged with wap.id '$wapId'")
        require(staged.size == 1,
          s"wap.id '$wapId' is ambiguous: ${staged.map(_.snapshotId).mkString(", ")}")
        t.manageSnapshots().cherrypick(spark, staged.head.snapshotId)
        val cur = IceTable.load(new DirCatalog(warehouse),
          TableIdentifier.parse(input.getUTF8String(0).toString))
        result(StructType(Seq(
          StructField("staged_snapshot_id", LongType),
          StructField("current_snapshot_id", LongType))),
          Seq(staged.head.snapshotId,
            cur.currentSnapshot.map(_.snapshotId).getOrElse(-1L)))
      case "ancestors_of" =>
        val head = optLong(1).orElse(t.currentSnapshot.map(_.snapshotId))
        val chain = head.toSeq.flatMap(h =>
          Iterator.iterate(t.metadata.snapshotById(h))(
            _.flatMap(_.parentSnapshotId).flatMap(t.metadata.snapshotById))
            .takeWhile(_.isDefined).flatten.toSeq)
        val schema = StructType(Seq(
          StructField("snapshot_id", LongType),
          StructField("timestamp_ms", LongType)))
        val scan: Scan = new LocalScan {
          override def readSchema(): StructType = schema
          override def rows(): Array[InternalRow] = chain.map(s =>
            new GenericInternalRow(Array[Any](s.snapshotId, s.timestampMs))
              : InternalRow).toArray
        }
        Collections.singletonList(scan).iterator()
      case "fast_forward" =>
        t.manageSnapshots().fastForward(
          input.getUTF8String(1).toString, input.getUTF8String(2).toString)
        val cur = IceTable.load(new DirCatalog(warehouse),
          TableIdentifier.parse(input.getUTF8String(0).toString))
        result(StructType(Seq(StructField("current_snapshot_id", LongType))),
          Seq(cur.currentSnapshot.map(_.snapshotId).getOrElse(-1L)))
      case "rewrite_position_deletes" =>
        val snap = t.compact(spark).rewritePositionDeletes()
        result(StructType(Seq(StructField("snapshot_id", LongType))),
          Seq(snap.snapshotId))
      case "compute_table_stats" =>
        val cols = if (input.isNullAt(1)) Nil
          else input.getUTF8String(1).toString.split(",")
            .map(_.trim).filter(_.nonEmpty).toSeq
        val sf = t.maintenance().computeStatistics(spark, cols)
        result(StructType(Seq(StructField("statistics_file", StringType))),
          Seq(UTF8String.fromString(sf.path)))
      case "compute_partition_stats" =>
        val pf = t.maintenance().computePartitionStatistics(spark)
        result(StructType(Seq(StructField("partition_statistics_file", StringType))),
          Seq(UTF8String.fromString(pf.path)))
      // Iceberg's snapshot procedure: onboard EXISTING parquet into an
      // Iceberg table metadata-only — no data rewrite, footer-sourced
      // metrics; the import path for a 100-TB lake
      case "snapshot_table" =>
        val src = input.getUTF8String(0).toString
        val ident = TableIdentifier.parse(input.getUTF8String(1).toString)
        val paths = ProcedureImport.walkParquet(src)
        require(paths.nonEmpty, s"no parquet files under $src")
        val hive = ProcedureImport.isHiveLayout(src)
        val cat = new DirCatalog(warehouse)
        val nt =
          if (!hive) {
            // flat or plainly-nested layout: unpartitioned import
            val df = spark.read
              .option("recursiveFileLookup", "true").parquet(src)
            IceTable.create(cat, ident, SparkConv.fromSpark(df.schema))
          } else {
            // Hive key=value layout: the partition values live in the
            // directory names, not the files — import as an IDENTITY-
            // partitioned table; scans serve the partition columns from
            // the manifest tuples (constants-map), so nothing is lost
            // and nothing is rewritten
            val df = spark.read.parquet(src) // native partition discovery
            val schema = SparkConv.fromSpark(df.schema)
            val partCols = ProcedureImport.partitionColumns(src, paths)
            val spec = PartitionSpec(0, partCols.zipWithIndex.map {
              case (name, i) =>
                val f = schema.findFieldByName(name).getOrElse(
                  throw new IllegalArgumentException(
                    s"partition dir column '$name' missing from inferred schema"))
                PartitionField(f.id, 1000 + i,  name,
                  graft.ice.transform.IdentityTransform)
            }.toIndexedSeq)
            IceTable.create(cat, ident, schema, spec)
          }
        nt.append(spark).addFiles(paths,
          partitionBaseDir = if (hive) Some(src) else None)
        result(StructType(Seq(StructField("imported_files_count", LongType))),
          Seq(paths.size.toLong))
      // Iceberg's add_files: append EXISTING parquet (flat or Hive
      // key=value layout matching the table's identity spec) into an
      // EXISTING table, metadata-only
      case "add_files" =>
        val src = input.getUTF8String(1).toString
        val paths = ProcedureImport.walkParquet(src)
        require(paths.nonEmpty, s"no parquet files under $src")
        val hive = ProcedureImport.isHiveLayout(src)
        t.append(spark).addFiles(paths,
          partitionBaseDir = if (hive) Some(src) else None)
        result(StructType(Seq(StructField("added_files_count", LongType))),
          Seq(paths.size.toLong))
      // Iceberg's create_changelog_view: registers a temp view over the
      // CDC changes stream. Defaults: whole history (start = before the
      // first snapshot, end = current), view name <table>_changes.
      // identifier_columns turns delete+insert pairs into
      // update_preimage/update_postimage; net_changes collapses
      // intermediate states across the range (the two are mutually
      // exclusive, as in the reference procedure).
      case "create_changelog_view" =>
        def optStr(i: Int): Option[String] =
          if (input.isNullAt(i)) None else Some(input.getUTF8String(i).toString)
        val viewName = optStr(1).getOrElse(
          TableIdentifier.parse(input.getUTF8String(0).toString).name + "_changes")
        val from = optLong(2).getOrElse(-1L)
        val netChanges = !input.isNullAt(4) && input.getBoolean(4)
        // explicit identifier_columns wins; otherwise the table's
        // DECLARED identifier fields (SET IDENTIFIER FIELDS) drive
        // update pairing, as in the reference procedure
        val declaredIds =
          if (netChanges) Nil
          else t.schema.identifierFieldIds.flatMap(id =>
            t.schema.findFieldById(id).map(_.name))
        val idCols = optStr(5).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
          .getOrElse(declaredIds)
        require(!(netChanges && idCols.nonEmpty),
          "net_changes and identifier_columns are mutually exclusive")
        val df = optLong(3).orElse(t.currentSnapshot.map(_.snapshotId)) match {
          case None => // empty table: empty frame with the changes schema
            val base = SparkConv.toSpark(t.schema)
              .add("_change_type", StringType)
            val schema = if (netChanges) base
              else base.add("_commit_snapshot_id", LongType)
                .add("_change_ordinal", IntegerType)
            spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
          case Some(to) =>
            if (netChanges) t.planNetChanges(spark, from, to)
            else if (idCols.nonEmpty) t.planChangelog(spark, from, to, idCols)
            else t.planChanges(spark, from, to)
        }
        df.createOrReplaceTempView(viewName)
        result(StructType(Seq(StructField("changelog_view", StringType))),
          Seq(org.apache.spark.unsafe.types.UTF8String.fromString(viewName)))
    }
  }
}

/** Shared helpers for the metadata-only import procedures
  * (snapshot_table / add_files): recursive parquet discovery and Hive
  * `key=value` layout detection. */
private[connector] object ProcedureImport {

  /** All .parquet files under `src` (or `src` itself when a file),
    * sorted for deterministic commit order. */
  def walkParquet(src: String): Seq[String] = {
    val f = new java.io.File(src)
    def walk(d: java.io.File): Seq[java.io.File] = {
      val kids = Option(d.listFiles()).map(_.toSeq).getOrElse(Nil)
      kids.filter(k => k.isFile && k.getName.endsWith(".parquet")) ++
        kids.filter(_.isDirectory).flatMap(walk)
    }
    if (f.isDirectory) walk(f).map(_.getAbsolutePath).sorted
    else Seq(f.getAbsolutePath)
  }

  /** True when any directory under `src` is a Hive `key=value` segment. */
  def isHiveLayout(src: String): Boolean = {
    def any(d: java.io.File): Boolean = {
      val kids = Option(d.listFiles()).map(_.toSeq).getOrElse(Nil)
        .filter(_.isDirectory)
      kids.exists(_.getName.contains("=")) || kids.exists(any)
    }
    val f = new java.io.File(src)
    f.isDirectory && any(f)
  }

  /** Ordered partition-column names of a Hive layout, from the path
    * segments of the discovered files. Every file must agree on the key
    * sequence — mixed layouts are rejected loudly rather than silently
    * importing inconsistent partitioning. */
  def partitionColumns(src: String, paths: Seq[String]): Seq[String] = {
    val base = java.nio.file.Paths.get(src).toAbsolutePath
    val keySeqs = paths.map { p =>
      val rel = base.relativize(java.nio.file.Paths.get(p).toAbsolutePath).toString
      rel.split('/').init.toSeq.collect {
        case seg if seg.indexOf('=') > 0 => seg.substring(0, seg.indexOf('='))
      }
    }.distinct
    require(keySeqs.size == 1 && keySeqs.head.nonEmpty,
      s"inconsistent or non-Hive partition layout under $src: " +
        s"key sequences ${keySeqs.take(3).mkString("; ")}")
    keySeqs.head
  }
}
