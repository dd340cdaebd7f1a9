package graft.ice.connector

import java.util.{Locale, Map => JMap, Set => JSet}


import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Add, BoundReference, Coalesce, Expression, JoinedRow, SpecificInternalRow, UnsafeProjection}
import org.apache.spark.sql.connector.catalog.{MetadataColumn, SupportsMetadataColumns, SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.{Expressions, NullOrdering, SortDirection, SortOrder => V2SortOrder, Transform => V2Transform}
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder => V2ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportOrdering, SupportsReportPartitioning, SupportsReportStatistics}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.{Filter => V1Filter}
import org.apache.spark.sql.types.{BooleanType, DataType, IntegerType, LongType, Metadata, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch

import graft.ice.{EqualityDeletes, FileDeletes, FileScanTask, IceTable, ManifestFileIndex, PositionDeletes, ScanBuilder}
import graft.ice.expr.{Binder, ParamLiteral, Expr => IceExpr}
import graft.ice.manifest.{AvroData, FileContent, ManifestAvro, ManifestEntry}
import graft.ice.meta.NameMapping
import graft.ice.transform.{BucketTransform, DayTransform, HourTransform, IdentityTransform, MonthTransform, TruncateTransform, YearTransform}
import graft.ice.types.{IcePrimitive, Schema, SparkConv, TimestampT, TimestampTzT}

/** DataSourceV2 batch-read surface over an Ice table, and the one scan
  * executor: SQL over `ice.*` reads through it, and so does
  * `ScanBuilder.toDF`, which hands it the files it planned
  * ([[GraftPlannedTable]]). Per file it applies the table's read
  * semantics: field-id or name-mapped column resolution, v3
  * initial-defaults, identity-partition constants, merge-on-read deletes
  * and the metadata columns ([[GraftMetadataColumns]]), over parquet,
  * ORC and Avro data files. Beyond that it expresses what only a V2
  * relation can:
  *
  *  - **Storage-partitioned joins**: over a bucket spec (every field a
  *    `bucket` transform) the scan reports `KeyGroupedPartitioning` and
  *    every input split carries its partition tuple (`HasPartitionKey`),
  *    so two tables bucketed on the same key join with ZERO shuffle on
  *    either side (`spark.sql.sources.v2.bucketing.enabled=true`). A
  *    bucket spec fixes its key count to co-locate rows for joins; time,
  *    identity and truncate specs exist for pruning, so their scans are
  *    not grouped: they plan packed and sub-split input partitions
  *    (`SplitPlanning`) like an unpartitioned table, rather than one
  *    unsplit task per partition value.
  *  - Column pruning + filter pushdown through the connector contract
  *    (`SupportsPushDownRequiredColumns` / `SupportsPushDownFilters`):
  *    pruned columns and translated predicates reach BOTH our
  *    manifest/file pruning and the parquet row-group reader.
  *  - **Columnar reads**: when every split is a plain read of a field-id
  *    parquet file (no deletes, initial-defaults, identity constants or
  *    metadata columns) and the scan session's parquet vectorization
  *    accepts the read schema, the reader factory hands Spark the
  *    parquet reader's `ColumnarBatch`es. Any other scan reads rows.
  *
  * Reference anchor: the C++ reference exposes scans through an Arrow
  * stream consumed by external engines (table_scan.cc:120-134); this is
  * the Spark-native equivalent of that "let the engine own the scan"
  * seam.
  *
  * Read correctness under row-level deletes: position deletes and v3
  * deletion vectors are applied executor-side per split, against each
  * row's file position (the parquet reader's row index; ORC and Avro
  * rows counted over whole files), through the one `PositionDeletes`
  * implementation and visibility rule.
  * Equality deletes test each row's key columns against the delete
  * files' key sets through `EqualityDeletes`. */
final class GraftSparkTable(val table: IceTable, catalogName: String,
    identName: String, warehouse: String,
    pinnedSnapshotId: Option[Long] = None) extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with SupportsMetadataColumns {

  /** The metadata columns: selectable in queries, and `_file` is the
    * group handle Spark's group-based row-level rewrites key on —
    * ReplaceData only routes rows through its data/metadata projections
    * when the operation requests metadata attributes, so
    * [[GraftRowLevelOperation.requiredMetadataAttributes]] names it. */
  override def metadataColumns(): Array[MetadataColumn] = GraftMetadataColumns.columns

  /** Row-level DML (DELETE / UPDATE / MERGE) planned by Spark's own
    * RewriteDeleteFromTable / RewriteUpdateTable / RewriteMergeIntoTable:
    * copy-on-write ([[GraftRowLevelOperation]]) or merge-on-read
    * ([[GraftDeltaOperation]]) per the table's
    * `write.{delete,update,merge}.mode`. See GraftRowLevel.scala. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    () => GraftRowLevel.operation(table, identName, warehouse, info.command())

  override def name(): String = s"$catalogName.$identName"

  // time travel pins the snapshot's schema (ScanBuilder.scanSchema
  // semantics); a current read always sees the current schema
  private def iceSchema: Schema = pinnedSnapshotId
    .flatMap(id => table.metadata.snapshotById(id))
    .flatMap(_.schemaId).flatMap(table.metadata.schemaById)
    .getOrElse(table.schema)

  override def schema(): StructType = {
    val s = iceSchema
    // advertise v3 defaults through Spark's column-default metadata so
    // INSERTs with partial column lists fill the write-default (Spark's
    // ResolveDefaultColumns reads these keys off Table.columns())
    val st = SparkConv.toSpark(s)
    StructType(st.fields.zip(s.fields).map { case (sf, f) =>
      f.writeDefault.flatMap(v =>
        GraftConnectorUtil.defaultValueSql(f.fieldType, v)) match {
        case None => sf
        case Some(sql) =>
          import org.apache.spark.sql.catalyst.util.ResolveDefaultColumns._
          val md = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(sf.metadata)
            .putString(CURRENT_DEFAULT_COLUMN_METADATA_KEY, sql)
            .putString(EXISTS_DEFAULT_COLUMN_METADATA_KEY,
              f.initialDefault.flatMap(iv =>
                GraftConnectorUtil.defaultValueSql(f.fieldType, iv)).getOrElse(sql))
            .build()
          sf.copy(metadata = md)
      }
    })
  }
  override def capabilities(): JSet[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC)

  /** `DELETE FROM <catalog>.<ns>.<t> WHERE ...` — accepted when the
    * whole predicate translates to the engine's expression tree (the
    * translated form both PRUNES planning and evaluates exactly), then
    * dispatched on `write.delete.mode` as the Scala API does:
    * copy-on-write rewrite, or merge-on-read position deletes
    * (deletion vectors on v3 tables). */
  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    filters.forall(f => V1FilterToIce.convert(f, table).isDefined)

  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    val t = IceTable.load(new graft.ice.catalog.DirCatalog(warehouse),
      graft.ice.catalog.TableIdentifier.parse(identName))
    val expr = filters.flatMap(f => V1FilterToIce.convert(f, t)).toSeq
      .reduceOption(IceExpr.and)
      .getOrElse(IceExpr.raw("true")) // DELETE with no WHERE = delete all
    val spark = SparkSession.active
    val del = t.delete(spark)
    graft.ice.meta.TableProperties.get(t.properties,
      graft.ice.meta.TableProperties.WriteDeleteMode) match {
      case "merge-on-read" =>
        if (t.metadata.formatVersion >= 3) del.deleteWhereDV(expr)
        else del.deleteWherePositional(expr)
      case _ => del.deleteWhere(expr)
    }
    ()
  }

  /** Native V2 writes: the table declares its clustering
    * (`RequiresDistributionAndOrdering` over the partition transforms +
    * sort order) and every task ships complete `DataFile` metadata in
    * its commit message — no driver-side directory walk or footer
    * reads. Covers INSERT INTO, df.writeTo (append / overwritePartitions),
    * INSERT OVERWRITE (static filter + truncate-and-load), CTAS, and
    * `writeStream.toTable`. See GraftWrite.scala. */
  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new GraftWriteBuilder(table, identName, warehouse, info)
  override def partitioning(): Array[V2Transform] =
    GraftConnectorUtil.toV2Transforms(table).getOrElse(Array.empty)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): V2ScanBuilder = {
    // streaming reads through the catalog (`readStream.table("ice.db.t")`)
    // route to the snapshot-offset MicroBatchStream; per-read options
    // (skip-non-append-snapshots, from-snapshot-id) pass through
    val streamOpts = new java.util.HashMap[String, String](opts)
    streamOpts.put("warehouse", warehouse)
    streamOpts.put("table", identName)
    new GraftScanBuilder(table, iceSchema,
      Some(new CaseInsensitiveStringMap(streamOpts)), pinnedSnapshotId)
  }
}

/** The relation `ScanBuilder.toDF` reads through: the connector's scan
  * over the files a `ScanBuilder` planned, in that builder's schema
  * (the snapshot's under time travel). The plan arrives complete —
  * restricted files, incremental appends, a metadata-truncated limit,
  * join-key pruning — so the scan never answers from planning of its
  * own. Its name says what the plan reads: the table, its file count
  * and the delete masks that apply. */
private[graft] final class GraftPlannedTable(table: IceTable, iceSchema: Schema,
    files: PlannedFiles) extends Table with SupportsRead with SupportsMetadataColumns {

  private lazy val label: String = {
    def mask(content: Int, name: String) = {
      val n = files.deletes.count(_.dataFile.content == content)
      if (n > 0) s", $name: $n delete files" else ""
    }
    s"${table.ident} (${files.tasks.size} files" +
      mask(FileContent.PositionDeletes, "graft_position_deletes") +
      mask(FileContent.EqualityDeletes, "graft_equality_deletes") + ")"
  }
  override def name(): String = label
  override def schema(): StructType = SparkConv.toSpark(iceSchema)
  override def capabilities(): JSet[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def metadataColumns(): Array[MetadataColumn] = GraftMetadataColumns.columns
  override def newScanBuilder(opts: CaseInsensitiveStringMap): V2ScanBuilder =
    new GraftScanBuilder(table, iceSchema, pinnedSnapshotId = files.snapshotId,
      planned = Some(files))
}

private[graft] object GraftPlannedTable {
  /** A DataFrame over `files`, read through the connector's scan in
    * `schema`. */
  def read(spark: SparkSession, table: IceTable, schema: Schema,
      files: PlannedFiles): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.GraftColumnBridge.ofRows(spark,
      org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation.create(
        new GraftPlannedTable(table, schema, files), None, None,
        CaseInsensitiveStringMap.empty()))
}

/** Data files a scan reads as planned before it: a `ScanBuilder`'s plan
  * with the delete entries it must apply, or the few files a pushed
  * LIMIT or top-N needs (`minimal`: read whole, never sub-split).
  * `keepDeleted` marks deleted rows instead of dropping them even when
  * the query prunes `_deleted` away. */
private[graft] final case class PlannedFiles(tasks: Seq[FileScanTask],
    deletes: Seq[ManifestEntry], snapshotId: Option[Long], minimal: Boolean = false,
    keepDeleted: Boolean = false)

/** The scan's metadata columns (reserved ids metadata_columns.h:38-115).
  * Each is served per split beside the data columns: the file, the row's
  * position in it, whether a merge-on-read delete applies (`_deleted`
  * marks deleted rows instead of dropping them), the file's spec id and
  * partition tuple (as `a/b`), the v3 row id (the file's first row id
  * plus `_pos`; null for pre-lineage files) and the file's data
  * sequence number (null where the manifest records none). */
private[graft] object GraftMetadataColumns {
  private val defs: Seq[(String, DataType, Boolean, String)] = Seq(
    ("_file", StringType, false, "data file path of the row"),
    ("_pos", LongType, false, "position of the row in its data file"),
    ("_deleted", BooleanType, false, "whether a merge-on-read delete applies to the row"),
    ("_spec_id", IntegerType, false, "partition spec id of the row's data file"),
    ("_partition", StringType, false, "partition tuple of the row's data file"),
    ("_row_id", LongType, true, "row lineage id: the file's first row id plus _pos"),
    ("_last_updated_sequence_number", LongType, true,
      "data sequence number of the commit that last updated the row"))

  val names: Set[String] = defs.map(_._1).toSet

  val columns: Array[MetadataColumn] = defs.map { case (n, dt, nullable, doc) =>
    new MetadataColumn {
      override def name(): String = n
      override def dataType(): DataType = dt
      override def isNullable: Boolean = nullable
      override def comment(): String = doc
    }: MetadataColumn
  }.toArray
}

private[connector] object GraftConnectorUtil {

  /** An Iceberg default value as a Spark SQL literal expression string —
    * the form Spark's ResolveDefaultColumns stores in column metadata.
    * None for types with no SQL literal form. */
  def defaultValueSql(t: graft.ice.types.IceType, v: Any): Option[String] = {
    import graft.ice.types._
    def q(s: String) = "'" + s.replace("'", "''") + "'"
    (t, v) match {
      case (BooleanT, b: Boolean) => Some(b.toString)
      case (IntT, i: Int) => Some(s"CAST($i AS INT)")
      case (LongT, l: Long) => Some(s"CAST($l AS BIGINT)")
      case (FloatT, f: Float) => Some(s"CAST('$f' AS FLOAT)")
      case (DoubleT, d: Double) => Some(s"CAST('$d' AS DOUBLE)")
      case (DecimalT(p, s), bd: java.math.BigDecimal) =>
        Some(s"CAST('${bd.toPlainString}' AS DECIMAL($p,$s))")
      case (StringT, s: String) => Some(q(s))
      case (UuidT, u: java.util.UUID) => Some(q(u.toString))
      case (DateT, days: Int) =>
        Some(s"DATE'${java.time.LocalDate.ofEpochDay(days.toLong)}'")
      case (TimestampT, _: Long) =>
        Some(s"TIMESTAMP_NTZ${q(graft.ice.meta.SingleValueJson.toJson(t, v).asText)}")
      case (TimestampTzT, _: Long) =>
        Some(s"TIMESTAMP${q(graft.ice.meta.SingleValueJson.toJson(t, v).asText)}")
      case (TimeT, l: Long) => Some(s"CAST($l AS BIGINT)") // time maps to LongType
      case (BinaryT | FixedT(_), b: Array[Byte]) =>
        Some("X'" + b.map(x => f"${x & 0xff}%02X").mkString + "'")
      case _ => None
    }
  }

  /** Our partition-spec ADT → connector transforms; None when a field
    * uses a transform the connector grammar can't express (void). */
  def toV2Transforms(table: IceTable): Option[Array[V2Transform]] = {
    val spec = table.metadata.defaultSpec
    if (spec.fields.isEmpty) return Some(Array.empty)
    val out = spec.fields.map { f =>
      table.schema.findFieldById(f.sourceId).map(_.name).flatMap { col =>
        f.transform match {
          case IdentityTransform => Some(Expressions.identity(col))
          case BucketTransform(n) => Some(Expressions.bucket(n, col))
          case YearTransform => Some(Expressions.years(col))
          case MonthTransform => Some(Expressions.months(col))
          case DayTransform => Some(Expressions.days(col))
          case HourTransform => Some(Expressions.hours(col))
          case TruncateTransform(w) => Some(Expressions.apply("truncate",
            Expressions.literal(Int.box(w)), Expressions.column(col)))
          case _ => None
        }
      }
    }
    if (out.forall(_.isDefined)) Some(out.flatten.toArray) else None
  }

  /** Iceberg runtime partition value → Spark internal value. */
  def toInternalValue(v: Any): Any = v match {
    case null => null
    case s: String => UTF8String.fromString(s)
    case d: java.math.BigDecimal => org.apache.spark.sql.types.Decimal(d)
    case other => other // Int, Long, Boolean, Float, Double, Array[Byte]
  }

  def normPath(p: String): String = ManifestAvro.stripFileScheme(p)

  /** The table's `schema.name-mapping.default`, if it sets one. */
  def nameMapping(table: IceTable): Option[NameMapping] =
    table.properties.get(NameMapping.PropertyKey).map(NameMapping.fromJson)

  /** The names other than its current one that field `f`'s column may
    * carry in a data file read by name: its names in `mapping`, then its
    * names across the table's schema history. */
  def otherNames(table: IceTable, mapping: Option[NameMapping],
      f: graft.ice.types.NestedField): Seq[String] =
    (mapping.toSeq.flatMap(_.namesFor(f.id)) ++
      table.metadata.schemas.flatMap(_.fields).filter(_.id == f.id).map(_.name))
      .distinct.filterNot(_ == f.name)
}

/** `schema` is the Iceberg schema the scan reads (the snapshot's under
  * time travel). A `planned` scan reads exactly those files: pushed
  * filters reach the parquet reader but never re-plan it, and it refuses
  * aggregate, LIMIT and top-N pushdown, which would answer from planning
  * of its own. */
private[graft] class GraftScanBuilder(table: IceTable,
    schema: Schema,
    streamOpts: Option[CaseInsensitiveStringMap] = None,
    pinnedSnapshotId: Option[Long] = None,
    // row-level-operation scans: pushed DML predicates prune manifests
    // and files but must NEVER reach the parquet reader — a group-based
    // rewrite needs EVERY row of a matched file (the non-matching rows
    // are what survives), so reader-level filtering would lose data
    pruneOnly: Boolean = false,
    planned: Option[PlannedFiles] = None) extends V2ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit
    with org.apache.spark.sql.connector.read.SupportsPushDownTopN {

  private val fullSchema: StructType = SparkConv.toSpark(schema)
  private var required: StructType = fullSchema
  private var pruneExpr: Option[IceExpr] = None
  private var pushed: Array[V1Filter] = Array.empty
  private var aggResult: Option[(StructType, Seq[Array[Any]])] = None
  // Spark hands the SAME Aggregation to supportCompletePushDown and
  // pushAggregation back to back; cache by identity so the manifest
  // walk + per-file strict evaluation runs once, not twice
  private var aggCache: Option[(AnyRef, Option[(StructType, Seq[Array[Any]])])] = None
  // the files a pushed LIMIT or top-N planned, on the snapshot it proved
  // delete-free
  private var limitFiles: Option[PlannedFiles] = None

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // re-anchor on the table schema so field-id metadata survives pruning
    val byName = fullSchema.fields.map(f => f.name -> f).toMap
    required = StructType(requiredSchema.fields.map(f => byName.getOrElse(f.name, f)))
  }

  override def pushFilters(filters: Array[V1Filter]): Array[V1Filter] = {
    val convertible = filters.flatMap(f => V1FilterToIce.convert(f, table).map(f -> _))
    pushed = convertible.map(_._1)
    pruneExpr = convertible.map(_._2).reduceOption(IceExpr.and)
    // everything stays residual: our pushdown PRUNES (manifests, files,
    // row groups); Spark re-evaluates exactly on the surviving rows
    filters
  }

  override def pushedFilters(): Array[V1Filter] = pushed

  /** Metadata-answered aggregates: COUNT(*)/COUNT(col)/MIN/MAX computed
    * entirely from manifest metrics — ZERO data files opened. At 100 TB
    * `SELECT count(*) FROM t` is a driver metadata walk instead of a
    * full scan. Sound only under proofs: no delete files in scope, any
    * pushed filter must STRICTLY match every surviving file, MIN/MAX
    * bounds must be exact (no truncation, no NaN possibility, no
    * missing metrics) — anything unprovable refuses, and Spark runs
    * the normal scan+aggregate plan. */
  private def planAggregate(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Seq[Array[Any]])] = aggCache match {
    case _ if planned.isDefined => None
    case Some((key, res)) if key eq agg => res
    case _ =>
      val res = MetadataAggregate.plan(table, pinnedSnapshotId, pruneExpr, agg)
      aggCache = Some((agg, res))
      res
  }

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    planAggregate(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    // complete pushdown only: partial would require per-file rows whose
    // merge semantics Spark owns; refusing keeps the normal plan
    aggResult = planAggregate(agg)
    aggResult.isDefined
  }

  /** LIMIT pushdown: plan only enough files to cover the limit
    * (ScanBuilder.limit's metadata truncation). Spark pushes a limit
    * here only when no post-scan filters remain — and every filter we
    * push stays residual — so a pushed limit implies an unfiltered
    * scan: file record counts are exact row counts unless deletes
    * apply. The snapshot the delete-free proof ran against is PINNED
    * into the scan: a concurrent delete committing between planning and
    * execution must not mix its delete files with this file list.
    * Partial by contract: Spark re-applies the limit. */
  override def pushLimit(limit: Int): Boolean = {
    if (planned.isDefined || pruneExpr.isDefined || pushed.nonEmpty) return false
    val probe = table.newScan()
    pinnedSnapshotId.foreach(probe.useSnapshot)
    probe.resolveSnapshot() match {
      case None =>
        limitFiles = Some(PlannedFiles(Nil, Nil, None, minimal = true))
        true
      case Some(s) =>
        if (table.planDeleteEntries(s).nonEmpty) return false
        limitFiles = Some(PlannedFiles(
          table.newScan().useSnapshot(s.snapshotId).limit(limit.toLong).planFiles(),
          Nil, Some(s.snapshotId), minimal = true))
        true
    }
  }
  override def isPartiallyPushed(): Boolean = true

  /** TopN pushdown: `ORDER BY col LIMIT n` plans only the end-run of
    * range-disjoint files covering the limit (TopNPlanner — proof-
    * driven refusal). Partial: Spark re-sorts + re-limits the subset,
    * which provably contains every true top-n row. Same delete-free
    * precondition and snapshot pinning as pushLimit. */
  override def pushTopN(orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      limit: Int): Boolean = {
    if (planned.isDefined || pruneExpr.isDefined || pushed.nonEmpty) return false
    val probe = table.newScan()
    pinnedSnapshotId.foreach(probe.useSnapshot)
    probe.resolveSnapshot() match {
      case None =>
        limitFiles = Some(PlannedFiles(Nil, Nil, None, minimal = true))
        true
      case Some(s) =>
        if (table.planDeleteEntries(s).nonEmpty) return false
        TopNPlanner.plan(table, s.snapshotId, orders, limit) match {
          case Some((sel, total)) =>
            limitFiles = Some(PlannedFiles(sel, Nil, Some(s.snapshotId), minimal = true))
            GraftTopNStats.pushes.incrementAndGet()
            GraftTopNStats.lastPlanned = sel.size
            GraftTopNStats.lastTotal = total
            true
          case None => false
        }
    }
  }

  override def build(): Scan = aggResult match {
    case Some((schema, rows)) =>
      GraftAggPushStats.pushes.incrementAndGet()
      GraftAggPushStats.lastSchema = schema.fieldNames.mkString(", ")
      GraftAggPushStats.lastRows = rows.size
      new GraftMetadataAggScan(schema, rows, table.metadata.location)
    case None =>
      val files = planned.orElse(limitFiles)
      new GraftBatchScan(table, schema, required, pruneExpr,
        if (pruneOnly) Array.empty else pushed, streamOpts,
        files.flatMap(_.snapshotId).orElse(pinnedSnapshotId), files)
  }
}

/** Test/diagnostic hook: how many scans were served purely from
  * metadata by aggregate pushdown, and the last pushed schema. */
object GraftAggPushStats {
  val pushes = new java.util.concurrent.atomic.AtomicLong()
  @volatile var lastSchema: String = ""
  @volatile var lastRows: Int = -1
}

/** Test/diagnostic hook: TopN pushdowns — how many fired and the
  * planned-vs-total file counts of the last one. */
object GraftTopNStats {
  val pushes = new java.util.concurrent.atomic.AtomicLong()
  @volatile var lastPlanned: Int = -1
  @volatile var lastTotal: Int = -1
}

/** TopN pushdown file planner: `ORDER BY <col> LIMIT n` answered by
  * planning only the head (or tail) run of files, proven from manifest
  * bounds. Sound when the surviving files are strictly RANGE-DISJOINT
  * on the sort column — exactly the layout the declared-sort-order
  * write path produces (repartitionByRange clusters an unpartitioned
  * sorted append into non-overlapping files). Then files form a total
  * order; the minimal end-run covering >= n rows contains every true
  * top-n row (all excluded rows compare strictly worse than all
  * selected rows, and >= n selected rows exist), so the push is sound
  * even though PARTIAL — Spark still sorts and limits the subset.
  *
  * Refusal is proof-driven, in the StrictMetricsEvaluator tradition:
  * multi-key orderings, nested/non-identity terms, any file with
  * possible nulls in the column (null ordering would need them last
  * AND provably counted), float/double without a zero NaN count (NaN
  * sorts above every bound), truncated string/binary bounds, missing
  * metrics, or overlapping ranges -> no push, normal scan plan.
  * Deletes are refused by the caller before planning. At 100 TB this
  * turns "latest 10 events by timestamp" from a full scan into
  * opening one file. */
private[connector] object TopNPlanner {
  import org.apache.spark.sql.connector.expressions.{NamedReference, SortDirection => V2Dir, SortOrder => V2Sort}
  import graft.ice.types._
  import graft.ice.write.Metrics

  /** Returns (selected end-run, total live file count) — the total is
    * the plan's own file walk, so the caller never re-plans just to
    * report planned-vs-total stats. */
  def plan(table: IceTable, snapshotId: Long,
      orders: Array[V2Sort], limit: Int): Option[(Seq[FileScanTask], Int)] = {
    if (orders.length != 1 || limit <= 0) return None
    val ord = orders(0)
    val colName = ord.expression match {
      case n: NamedReference if n.fieldNames.length == 1 => n.fieldNames.head
      case _ => return None
    }
    val fld = table.schema.findFieldByName(colName)
      .orElse(table.schema.findFieldByName(colName, caseSensitive = false))
      .getOrElse(return None)
    val prim = fld.fieldType match {
      case p: IcePrimitive => p
      case _ => return None
    }
    val tasks = table.newScan().useSnapshot(snapshotId).planFiles()
    // zero-row files contribute nothing and are excluded outright
    val live = tasks.filter(_.file.recordCount > 0L)
    if (live.isEmpty) return Some((Nil, tasks.size))

    // the table's monotone bound-width floor: the smallest truncate
    // width ANY commit's metrics config could have written bounds with
    // (never above 16, the pre-config width) — a bound shorter than
    // every possible truncation width is provably exact
    val widthFloor = math.min(Metrics.BoundTruncateLength,
      graft.ice.meta.TableProperties.get(table.properties,
        graft.ice.meta.TableProperties.MetricsBoundWidthFloor))
    def exactBound(l: Literal): Boolean = l.tpe match {
      case StringT =>
        val s = l.raw.asInstanceOf[String]
        s.codePointCount(0, s.length) < widthFloor
      case BinaryT =>
        l.raw.asInstanceOf[Array[Byte]].length < widthFloor
      case _ => true
    }

    val bounded: Seq[(FileScanTask, Literal, Literal)] = live.map { t =>
      val f = t.file
      // null rows would need an ordering proof of their own; demand none
      if (!f.nullValueCounts.get(fld.id).contains(0L)) return None
      prim match {
        case FloatT | DoubleT =>
          if (!f.nanValueCounts.get(fld.id).contains(0L)) return None
        case _ =>
      }
      (f.lowerBounds.get(fld.id), f.upperBounds.get(fld.id)) match {
        case (Some(lo), Some(hi)) =>
          val l = Literal.deserialize(prim, lo)
          val u = Literal.deserialize(prim, hi)
          if (!exactBound(l) || !exactBound(u)) return None
          (t, l, u)
        case _ => return None
      }
    }

    // strict disjointness: sorted by lower bound, each file's upper must
    // sit strictly below the next file's lower (ties across files would
    // split equal values between a selected and an excluded file)
    val sorted = bounded.sortWith { case ((_, a, _), (_, b, _)) =>
      a.compareTo(b).getOrElse(return None) < 0
    }
    sorted.sliding(2).foreach {
      case Seq((_, _, prevHi), (_, nextLo, _)) =>
        if (prevHi.compareTo(nextLo).getOrElse(return None) >= 0) return None
      case _ =>
    }

    val fromEnd =
      if (ord.direction == V2Dir.DESCENDING) sorted.reverse else sorted
    var rows = 0L
    val selected = fromEnd.takeWhile { case (t, _, _) =>
      val need = rows < limit
      rows += t.file.recordCount
      need
    }
    Some((selected.map(_._1), tasks.size))
  }
}

/** Test/diagnostic hook: planned data-file counts before/after the most
  * recent runtime (DPP) filter application on any V2 scan in this JVM
  * (files, not input partitions: packing may fold a pruned scan's files
  * into as few partitions as the full scan's). */
object GraftRuntimeFilterStats {
  val plansWithRuntimeFilter = new java.util.concurrent.atomic.AtomicLong()
  @volatile var lastBefore: Long = -1
  @volatile var lastAfter: Long = -1
}

/** V2 runtime `Predicate` → Ice expression, for DPP-style re-pruning.
  * Narrow by design: runtime filters arrive as IN / = / ranges over a
  * plain column; anything else simply doesn't prune (exactness comes
  * from Spark's own join re-evaluation). */
private[connector] object V2PredicateToIce {
  import org.apache.spark.sql.connector.expressions.{Literal => V2Literal, NamedReference}
  import org.apache.spark.sql.connector.expressions.filter.{And => V2And, Predicate => V2Predicate}
  import graft.ice.types.{IcePrimitive, Literal => IceLit}

  private def colName(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
    e match {
      case f: NamedReference if f.fieldNames.length == 1 => Some(f.fieldNames.head)
      case _ => None
    }

  private def lit(table: IceTable, col: String, e: org.apache.spark.sql.connector.expressions.Expression): Option[IceLit] =
    e match {
      case l: V2Literal[_] =>
        table.schema.findFieldByName(col).map(_.fieldType).flatMap {
          case p: IcePrimitive => IceLit.fromSparkValue(p,
            l.value match {
              case u: org.apache.spark.unsafe.types.UTF8String => u.toString
              case v => v
            })
          case _ => None
        }
      case _ => None
    }

  def convert(p: V2Predicate, table: IceTable): Option[IceExpr] = p match {
    case a: V2And =>
      for (l <- convert(a.left(), table); r <- convert(a.right(), table))
        yield IceExpr.and(l, r)
    case _ => (p.name(), p.children()) match {
      case ("IN", cs) if cs.length >= 2 =>
        colName(cs.head).flatMap { c =>
          val ls = cs.tail.toSeq.map(lit(table, c, _))
          if (ls.forall(_.isDefined)) Some(IceExpr.in(c, ls.flatten))
          else None
        }
      case ("=", Array(l, r)) =>
        colName(l).flatMap(c => lit(table, c, r).map(IceExpr.equal(c, _)))
      case (">=", Array(l, r)) =>
        colName(l).flatMap(c => lit(table, c, r).map(IceExpr.gtEq(c, _)))
      case ("<=", Array(l, r)) =>
        colName(l).flatMap(c => lit(table, c, r).map(IceExpr.ltEq(c, _)))
      case (">", Array(l, r)) =>
        colName(l).flatMap(c => lit(table, c, r).map(IceExpr.gt(c, _)))
      case ("<", Array(l, r)) =>
        colName(l).flatMap(c => lit(table, c, r).map(IceExpr.lt(c, _)))
      case _ => None
    }
  }
}

/** v1 `sources.Filter` → Ice expression, for manifest/file pruning.
  * Conservative: anything unmappable simply doesn't prune. */
private[connector] object V1FilterToIce {
  import org.apache.spark.sql.sources._
  import graft.ice.types.{IcePrimitive, Literal => IceLit}

  private def lit(table: IceTable, col: String, v: Any): Option[IceLit] =
    table.schema.findFieldByName(col).map(_.fieldType).flatMap {
      case p: IcePrimitive => IceLit.fromSparkValue(p, v)
      case _ => None
    }

  /** Only data columns convert: a filter on a METADATA column (e.g. the
    * IsNotNull Spark derives for nullable `_last_updated_sequence_number`)
    * must stay residual — the planner's binder knows only the table
    * schema, and metadata values exist per split, not per file stats. */
  private def known(table: IceTable, col: String): Boolean =
    table.schema.findFieldByName(col).isDefined

  def convert(f: V1Filter, table: IceTable): Option[IceExpr] = f match {
    case EqualTo(c, v) => lit(table, c, v).map(IceExpr.equal(c, _))
    // null-safe equal: a null literal means IS NULL; non-null is plain
    // equality (Iceberg predicates are three-valued like SQL's)
    case EqualNullSafe(c, null) if known(table, c) => Some(IceExpr.isNull(c))
    case EqualNullSafe(c, v) => lit(table, c, v).map(IceExpr.equal(c, _))
    case GreaterThan(c, v) => lit(table, c, v).map(IceExpr.gt(c, _))
    case GreaterThanOrEqual(c, v) => lit(table, c, v).map(IceExpr.gtEq(c, _))
    case LessThan(c, v) => lit(table, c, v).map(IceExpr.lt(c, _))
    case LessThanOrEqual(c, v) => lit(table, c, v).map(IceExpr.ltEq(c, _))
    case In(c, vs) =>
      val ls = vs.toSeq.map(lit(table, c, _))
      if (ls.nonEmpty && ls.forall(_.isDefined)) Some(IceExpr.in(c, ls.flatten))
      else None
    case IsNull(c) if known(table, c) => Some(IceExpr.isNull(c))
    case IsNotNull(c) if known(table, c) => Some(IceExpr.notNull(c))
    case StringStartsWith(c, p) if known(table, c) =>
      Some(IceExpr.startsWith(c, p))
    case AlwaysTrue() => Some(IceExpr.raw("true"))
    case AlwaysFalse() => Some(IceExpr.raw("false"))
    case And(l, r) => for {
      a <- convert(l, table); b <- convert(r, table)
    } yield IceExpr.and(a, b)
    case Or(l, r) => for {
      a <- convert(l, table); b <- convert(r, table)
    } yield IceExpr.or(a, b)
    case _ => None
  }
}

/** Per-split delete work, shipped to the executor. */
private[graft] final case class GraftDeleteSpec(
    dvs: Seq[(String, Long, Long)], // puffin (path, offset, length)
    // position-delete (path, size, manifest fileFormat) — the format
    // travels from the manifest entry so the reader dispatches without
    // sniffing container magic (which needs a local-FS open and can
    // short-read); "" = unknown, reader falls back to sniffing
    posDeleteFiles: Seq[(String, Long, String)],
    eqDeletes: Seq[(String, Long, Seq[String], String)]) { // (path, size, key cols, format)
  def isEmpty: Boolean = dvs.isEmpty && posDeleteFiles.isEmpty && eqDeletes.isEmpty
  def hasPositional: Boolean = dvs.nonEmpty || posDeleteFiles.nonEmpty
}

/** One data file, or a byte range of it, as the reader factory reads it.
  *
  *  - `absentDefaults`: field ids of v3-defaulted columns the file
  *    predates (proven absent at plan time); the reader injects each
  *    column's initial-default in place of the null the file would give.
  *  - `identityConsts`: (source field id, Iceberg runtime value) for the
  *    identity-partitioned columns of EXTERNAL files (Hive imports),
  *    which live in the manifest tuple, not the file: the reader serves
  *    them as per-split constants (Iceberg's constants-map semantics).
  *  - `dataSeq`: the file's data sequence number, served as
  *    `_last_updated_sequence_number` (metadata_columns.h:95: a row's
  *    last update is its file's); None for pre-lineage files, whose rows
  *    serve null.
  *  - `rangeStart`/`rangeLen`: the byte range of a read.split.target-size
  *    sub-split (the whole file by default). Parquet assigns each row
  *    group to the range holding its midpoint, ORC each stripe to the
  *    range holding its start, Avro each block to the range its sync
  *    marker follows, so any disjoint cover reads every row once.
  *  - `format`: the manifest's file format, upper case.
  *  - `renames`: (field id, file column) for the columns of an id-less
  *    parquet file that `schema.name-mapping.default` resolves to a name
  *    other than the field's current one.
  *  - `specId`, `partition` (the tuple as `a/b`), `firstRowId`: the
  *    `_spec_id`, `_partition` and `_row_id` metadata columns. */
private[graft] final case class GraftFileSplit(path: String, fileSize: Long,
    useFieldIds: Boolean, deletes: GraftDeleteSpec,
    absentDefaults: Seq[Int] = Nil,
    identityConsts: Seq[(Int, Any)] = Nil,
    dataSeq: Option[Long] = None,
    rangeStart: Long = 0L,
    rangeLen: Long = -1L,
    format: String = "PARQUET",
    renames: Seq[(Int, String)] = Nil,
    specId: Int = 0,
    partition: String = "",
    firstRowId: Option[Long] = None) extends InputPartition {
  def rangeLength: Long = if (rangeLen < 0) fileSize else rangeLen
}
/** Several small splits bin-packed into ONE task
  * (read.split.open-file-cost): the reader concatenates the member
  * iterators — per-member delete/default state stays per-member. */
private[graft] final case class GraftPackedSplit(members: Seq[GraftFileSplit])
    extends InputPartition
/** One whole file of a bucket spec, keyed by its partition tuple. */
private[connector] final case class GraftKeyedFileSplit(file: GraftFileSplit,
    key: InternalRow) extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = key
}

private[connector] final class GraftBatchScan(table: IceTable, schema: Schema,
    required: StructType, pruneExpr: Option[IceExpr],
    v1Filters: Array[V1Filter],
    streamOpts: Option[CaseInsensitiveStringMap] = None,
    pinnedSnapshotId: Option[Long] = None,
    preplanned: Option[PlannedFiles] = None) extends Scan with Batch
    with SupportsReportPartitioning with SupportsReportStatistics
    with SupportsReportOrdering
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    val opts = streamOpts.getOrElse(throw new UnsupportedOperationException(
      s"${table.metadata.location}: streaming read needs warehouse/table options"))
    val plain = StructType(required.fields.map(_.copy(metadata = Metadata.empty)))
    new graft.streaming.GraftMicroBatchStream(plain, opts)
  }

  /** What the scan reads, the way Spark's file scans describe it: the
    * manifest-fed file list, the filters handed to the parquet reader and
    * the read schema. */
  override def description(): String = {
    val files = planned.splits
    val pruned = pruneExpr.filter(_ => preplanned.isEmpty).map(e => s", pruned: $e").getOrElse("")
    s"graft ${table.metadata.location}$pruned, " +
      s"Location: ${ManifestFileIndex.describe(files.size, files.map(_.fileSize).sum)}, " +
      s"PushedFilters: [${v1Filters.mkString(", ")}], ReadSchema: ${required.catalogString}"
  }

  // metadata columns the query reads, and whether they need each row's
  // exact position in its file
  private val metaCols = required.fieldNames.filter(GraftMetadataColumns.names)
  private val wantsPositions = metaCols.exists(c => c == "_pos" || c == "_row_id")
  private val marksDeleted = metaCols.contains("_deleted") || preplanned.exists(_.keepDeleted)

  // ---- planning (driver) ----

  private final case class PlannedScan(splits: Seq[GraftFileSplit],
      parts: Seq[InputPartition],
      nKeys: Option[Int], totalRows: Long, snapshotId: Option[Long],
      // manifest-form (possibly scheme-carrying) paths of the planned
      // files — the replaced-file set a row-level rewrite commits against
      origPaths: Set[String],
      // live delete-file paths at plan time (manifest form): the baseline
      // a replace-groups commit validates new delete files against
      deletePaths: Set[String],
      // every surviving file's manifest sort_order_id equals the table's
      // CURRENT sort order — the precondition for reporting per-split
      // output ordering (SupportsReportOrdering)
      filesSorted: Boolean)

  /** Final planned file set in manifest path form (after static pushdown
    * AND any runtime group filter) — the groups a row-level operation's
    * write replaces. */
  private[connector] def plannedOriginalPaths: Set[String] = planned.origPaths

  /** Live delete-file paths the plan applied — the replace-groups
    * commit's conflict baseline (any delete file beyond these covering a
    * replaced file means a concurrent delete our rewrite would erase). */
  private[connector] def plannedDeletePaths: Set[String] = planned.deletePaths

  /** The pushed predicate and the snapshot the plan read: a row-level
    * commit's serializable-isolation scope. */
  private[connector] def isolationScope: (Option[IceExpr], Option[Long]) =
    (pruneExpr, planned.snapshotId)

  /** Runtime (DPP) filter, ANDed into planning when Spark pushes one at
    * execution time; setting it invalidates the plan cache so the next
    * `planInputPartitions` re-prunes manifests/files. */
  @volatile private var runtimeExpr: Option[IceExpr] = None
  // the snapshot the first plan resolved: a runtime-filter re-plan reads
  // it again, so the narrowed splits stay a subset of the first plan's
  // (the reader factory built from that plan covers them)
  @volatile private var replanSnapshotId: Option[Long] = pinnedSnapshotId
  private val plannedCache =
    new java.util.concurrent.atomic.AtomicReference[PlannedScan]()

  private def planned: PlannedScan = {
    val cached = plannedCache.get()
    if (cached != null) cached
    else {
      plannedCache.compareAndSet(null, doPlan())
      plannedCache.get()
    }
  }

  private def doPlan(): PlannedScan = {
    // planned files only narrow: a runtime filter keeps the files whose
    // partition tuple and column metrics may match it
    val (snapId, tasks, deleteEntries) = preplanned match {
      case Some(p) =>
        val bound = runtimeExpr.map(Binder.bind(_, table.schema))
        (p.snapshotId, p.tasks.filter(t => bound.forall(table.mayContain(t, _))), p.deletes)
      case None =>
        val b = table.newScan()
        replanSnapshotId.foreach(b.useSnapshot)
        pruneExpr.foreach(b.filter)
        runtimeExpr.foreach(b.filter)
        val (ts, ds) = b.planFilesWithDeletes()
        (b.resolveSnapshot().map(_.snapshotId), ts, ds)
    }
    val posDeletes = deleteEntries.filter(_.dataFile.content == FileContent.PositionDeletes)
    val eqDeletes = deleteEntries.filter(_.dataFile.content == FileContent.EqualityDeletes)
    val spark = SparkSession.active

    def deletesFor(t: FileScanTask): GraftDeleteSpec = {
      val pos = PositionDeletes.applicable(GraftConnectorUtil.normPath(t.file.filePath),
        t.sequenceForVisibility, posDeletes)
      GraftDeleteSpec(pos.dvs, pos.files, EqualityDeletes.applicable(
        t.sequenceForVisibility, eqDeletes, schema.findFieldById(_).map(_.name)))
    }

    val hasIds = ScanBuilder.fieldIdTest(table, spark)
    // id-less parquet files resolve columns through the table's name
    // mapping: each field reads the first of its mapped names, then its
    // current name, that the file's footer holds
    val mapping = GraftConnectorUtil.nameMapping(table)
    def sourceOf(f: graft.ice.types.NestedField, fileCols: Set[String]): Option[String] =
      (mapping.toSeq.flatMap(_.namesFor(f.id)) :+ f.name).find(fileCols.contains)

    // v3 default values: which defaulted columns does each file predate?
    // Proven from manifest metrics (metadata-only) where the manifest has
    // them; otherwise from one cached probe of the file's columns: by
    // field id for parquet with ids, else by name
    val defaulted = schema.fields.filter(f =>
      f.initialDefault.isDefined && f.fieldType.isInstanceOf[IcePrimitive])
    def absentFor(t: FileScanTask, p: String, ids: Boolean, format: String): Seq[Int] =
      if (defaulted.isEmpty) Nil
      else {
        val m = t.file
        lazy val cols = ScanBuilder.fileColumns(p, format, spark)
        if (format == "PARQUET" && !ids) defaulted.filter(sourceOf(_, cols).isEmpty).map(_.id)
        else if (m.valueCounts.nonEmpty || m.columnSizes.nonEmpty)
          defaulted.map(_.id).filter(id => !m.valueCounts.contains(id) && !m.columnSizes.contains(id))
        else if (format == "PARQUET") {
          val inFile = ScanBuilder.footerFieldIds(p, spark)
          defaulted.map(_.id).filterNot(inFile)
        } else defaulted.filterNot(f => (f.name +: GraftConnectorUtil.otherNames(table, mapping, f))
          .exists(cols.contains)).map(_.id)
      }
    def renamesFor(p: String, ids: Boolean, format: String): Seq[(Int, String)] =
      if (mapping.isEmpty || ids || format != "PARQUET") Nil
      else {
        val cols = ScanBuilder.fileColumns(p, format, spark)
        schema.fields.flatMap(f => sourceOf(f, cols).filter(_ != f.name).map(f.id -> _))
      }

    // identity-partition constants for EXTERNAL (name-resolved) files:
    // Hive imports don't contain the partition columns — ship the
    // manifest tuple values with the split so the reader injects them
    def identityConstsFor(t: FileScanTask, ids: Boolean): Seq[(Int, Any)] =
      if (ids || t.file.partition.isEmpty) Nil
      else {
        val mSpec = table.metadata.specById(t.specId)
          .getOrElse(graft.ice.meta.PartitionSpec.unpartitioned)
        mSpec.fields.zipWithIndex.collect {
          case (pf, i) if pf.transform == graft.ice.transform.IdentityTransform &&
              i < t.file.partition.size =>
            (pf.sourceId, t.file.partition(i))
        }
      }

    def splitOf(t: FileScanTask): GraftFileSplit = {
      val p = GraftConnectorUtil.normPath(t.file.filePath)
      val format = t.file.fileFormat.toUpperCase(Locale.ROOT)
      val ids = hasIds(t, p)
      GraftFileSplit(p, t.file.fileSizeInBytes, ids, deletesFor(t),
        absentFor(t, p, ids, format), identityConstsFor(t, ids), t.dataSequenceNumber,
        format = format, renames = renamesFor(p, ids, format), specId = t.specId,
        partition = t.file.partition.map(v => if (v == null) "null" else v.toString).mkString("/"),
        firstRowId = t.file.firstRowId)
    }

    // SPJ grouping is reported only for a bucket spec: its fixed key
    // count exists for co-location, which storage-partitioned joins need.
    // Time, identity and truncate specs exist for pruning; grouping them
    // would run one unsplit task per partition value, so they are packed
    // and sub-split like an unpartitioned table. Every surviving file must
    // also live in the CURRENT spec (older-spec files have a different
    // tuple shape) and every transform map onto the connector grammar.
    val specId = table.metadata.defaultSpecId
    val spec = table.metadata.defaultSpec
    val groupable = spec.fields.nonEmpty &&
      spec.fields.forall(_.transform.isInstanceOf[BucketTransform]) &&
      tasks.nonEmpty && tasks.forall(_.specId == specId) &&
      GraftConnectorUtil.toV2Transforms(table).exists(_.length == spec.fields.length)

    val totalRows = tasks.map(_.file.recordCount).sum
    val origPaths = tasks.map(_.file.filePath).toSet
    val deletePaths = deleteEntries.map(_.dataFile.filePath).toSet
    val filesSorted = table.metadata.defaultSortOrder.fields.nonEmpty &&
      tasks.nonEmpty &&
      tasks.forall(_.file.sortOrderId.contains(table.metadata.defaultSortOrderId))
    val whole = tasks.map(t => (t, splitOf(t)))
    if (!groupable) {
      // read.split.* sizing: only when the scan is NOT claiming per-split
      // ordering (that contract is defined over whole single-file splits)
      // and is not a pre-planned LIMIT scan (already minimal). The target
      // is the table's read.split.target-size, or Spark's file-split size
      // when the table sets none. A file read by position (positional
      // deletes, `_pos`, `_row_id`) is cut only at the row groups its
      // manifest records, where the parquet reader reports each row's
      // file position: a byte range holding no row group would still
      // open the file and its deletes. ORC and Avro rows are counted from
      // the file start, so such files stay whole.
      val meta = table.metadata
      import graft.ice.meta.TableProperties
      val parts: Seq[InputPartition] =
        if (filesSorted || preplanned.exists(_.minimal)) whole.map(_._2)
        else {
          val parallelism = spark.sparkContext.defaultParallelism
          val declared =
            if (meta.properties.contains(TableProperties.SplitTargetSize.name))
              meta.property(TableProperties.SplitTargetSize)
            else spark.sessionState.conf.filesMaxPartitionBytes
          val target = SplitPlanning.adjustTarget(declared,
            tasks.map(_.file.fileSizeInBytes).sum, parallelism,
            meta.property(TableProperties.SplitAdaptiveEnabled))
          val subs = whole.flatMap { case (t, s) =>
            val positioned = s.deletes.hasPositional || wantsPositions
            if (positioned && (s.format != "PARQUET" || t.file.splitOffsets.size < 2)) Seq(s)
            else SplitPlanning.subSplit(s, t.file.splitOffsets, target)
          }
          SplitPlanning.pack(subs, target,
            meta.property(TableProperties.SplitOpenFileCost),
            meta.property(TableProperties.SplitLookback))
        }
      PlannedScan(whole.map(_._2), parts, None, totalRows, snapId, origPaths,
        deletePaths, filesSorted)
    } else {
      val keyed = whole.map { case (t, s) =>
        GraftKeyedFileSplit(s, new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          t.file.partition.map(GraftConnectorUtil.toInternalValue).toArray))
      }
      val nKeys = tasks.map(_.file.partition).distinct.size
      PlannedScan(whole.map(_._2), keyed, Some(nKeys), totalRows, snapId, origPaths,
        deletePaths, filesSorted)
    }
  }

  override def planInputPartitions(): Array[InputPartition] =
    planned.parts.toArray

  /** Dynamic partition pruning through the connector: Spark injects a
    * runtime IN-filter over the partition SOURCE columns at execution
    * time (the dim side's join keys); converting it into the engine's
    * expression tree re-prunes manifests and files, so a fact scan
    * reads only the partitions the dim actually references — the
    * V2-native form of `IceTable.pruneByJoinKeys`. Only columns the
    * scan reads qualify: Spark resolves them against its output. */
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    table.metadata.defaultSpec.fields
      .flatMap(f => table.schema.findFieldById(f.sourceId)).map(_.name)
      .filter(required.fieldNames.contains).distinct
      .map(c => Expressions.column(c): org.apache.spark.sql.connector.expressions.NamedReference)
      .toArray

  override def filter(predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    val converted = predicates.toSeq.flatMap(p => V2PredicateToIce.convert(p, table))
    if (converted.nonEmpty) {
      val first = planned
      val before = first.splits.size
      replanSnapshotId = first.snapshotId
      runtimeExpr = Some((runtimeExpr.toSeq ++ converted).reduce(IceExpr.and))
      plannedCache.set(null)
      GraftRuntimeFilterStats.plansWithRuntimeFilter.incrementAndGet()
      GraftRuntimeFilterStats.lastBefore = before
      GraftRuntimeFilterStats.lastAfter = planned.splits.size
    }
  }

  override def outputPartitioning(): Partitioning = planned.nKeys match {
    case Some(nKeys) =>
      new KeyGroupedPartitioning(
        GraftConnectorUtil.toV2Transforms(table).get.map(t => t: org.apache.spark.sql.connector.expressions.Expression),
        nKeys)
    case None => new UnknownPartitioning(planned.parts.size)
  }

  /** Per-split output ordering (SupportsReportOrdering): each input
    * split is ONE whole data file read sequentially, and delete
    * filtering / default-value injection only drop or project rows —
    * so when every surviving file's manifest `sort_order_id` equals
    * the table's CURRENT sort order, every split emits rows in that
    * order and Spark elides Sort nodes (combined with SPJ, a co-
    * bucketed pair of key-sorted tables sort-merge-joins with ZERO
    * exchanges and ZERO sorts; Spark itself refuses the ordering when
    * it has to concatenate multiple splits into one partition group).
    * Reported: the longest identity-transform prefix of the sort
    * order whose columns survive projection — data sorted by (a, b)
    * is sorted by (a); a transform term's order says nothing Catalyst
    * can consume about the source column. */
  override def outputOrdering(): Array[V2SortOrder] = {
    if (!planned.filesSorted) return Array.empty
    val names = required.fieldNames.toSet
    table.metadata.defaultSortOrder.fields.iterator.map { sf =>
      if (sf.transform != IdentityTransform) None
      else table.schema.findFieldById(sf.sourceId).map(_.name)
        .filter(names.contains).map { c =>
          Expressions.sort(Expressions.column(c),
            if (sf.ascending) SortDirection.ASCENDING
            else SortDirection.DESCENDING,
            if (sf.nullsFirst) NullOrdering.NULLS_FIRST
            else NullOrdering.NULLS_LAST)
        }
    }.takeWhile(_.isDefined).flatten.toArray
  }

  /** NDV-refined scan statistics (SupportsReportStatistics): the numbers
    * Spark's join selection reads when deciding broadcast vs shuffle.
    * Base estimate = surviving (pruned) file bytes/rows; an equality/IN
    * pushdown over a column with a registered theta sketch scales both
    * by rows/ndv — so `dim WHERE pk = ?` reports ~one row and the join
    * flips to broadcast even when the file-size estimate alone would
    * shuffle two fact tables. Unknown predicates and missing sketches
    * estimate selectivity 1.0: stats can only make a scan look bigger
    * than it is, never broadcast something huge by mistake. */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
    val rawBytes = planned.splits.map(_.fileSize).sum
    val sel = pruneExpr match {
      case None => 1.0
      case Some(e) =>
        val ndv = graft.ice.write.Statistics.ndvByName(table, planned.snapshotId)
        if (ndv.isEmpty) 1.0 else graft.ice.write.Statistics.selectivityOf(e, ndv)
    }
    val rows = math.max(1L, math.ceil(planned.totalRows * sel).toLong)
    val bytes = math.max(1L, math.ceil(rawBytes * sel).toLong)
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.of(rows)
    }
  }

  // ---- reader factory (driver-built closures, executor-run) ----

  // Spark asks for a factory while planning and again on the plan's
  // clone it executes; both read the same plan, so build once per plan
  private val factoryCache =
    new java.util.concurrent.atomic.AtomicReference[(PlannedScan, PartitionReaderFactory)]()

  override def createReaderFactory(): PartitionReaderFactory = {
    val plan = planned
    val cached = factoryCache.get()
    if (cached != null && (cached._1 eq plan)) cached._2
    else {
      val f = buildReaderFactory(plan)
      factoryCache.set((plan, f))
      f
    }
  }

  private def buildReaderFactory(plan: PlannedScan): PartitionReaderFactory = {
    val splits = plan.splits
    // the readers snapshot their session's conf at build time, so build
    // them under the table's scan session: its read.*.vectorization.*
    // settings then reach this scan and never the caller's shared session.
    // Our own files resolve columns by field id (rename-safe), through the
    // readers' own Hadoop conf; id-less files read by name
    val spark = IceTable.scanSession(SparkSession.active, table.properties)

    // metadata columns never reach a file reader: each split serves its
    // own through the output projection
    val dataRequired = StructType(required.fields.filterNot(f => GraftMetadataColumns.names(f.name)))

    val eqFiles = splits.flatMap(_.deletes.eqDeletes).distinct
    val fullByName = SparkConv.toSpark(schema).fields.map(f => f.name -> f).toMap
    // the executor must SEE equality-delete key columns even when the
    // query pruned them away; read them, test them, then project back
    val extraEq = eqFiles.flatMap(_._3).distinct
      .filterNot(c => dataRequired.fieldNames.contains(c))
      .flatMap(fullByName.get)
    // nullable throughout: a required column a file predates reads as
    // null and takes its initial-default
    val readSchemaIds = StructType((dataRequired.fields ++ extraEq).map(_.copy(nullable = true)))
    val fields = readSchemaIds.fields.toSeq.map(f =>
      schema.findFieldById(f.metadata.getLong(SparkConv.FieldIdKey).toInt).get)
    val plain = readSchemaIds.fields.toSeq.map(_.copy(metadata = Metadata.empty))

    // every other name a field's column may carry in a file: the table's
    // name mapping, then the names it had across schema history (ORC and
    // Avro resolve by name; Avro also by id where the file has ids)
    lazy val altNames: Map[Int, Seq[String]] = {
      val mapping = GraftConnectorUtil.nameMapping(table)
      fields.map(f => f.id -> GraftConnectorUtil.otherNames(table, mapping, f))
        .filter(_._2.nonEmpty).toMap
    }
    // a by-name read schema: the fields' current names, then every other
    // name `names` gives them, typed as the field
    def byName(names: Map[Int, Seq[String]]): StructType = {
      val extra = fields.zip(plain).flatMap { case (f, sf) =>
        names.getOrElse(f.id, Nil).map(n => sf.copy(name = n)) }
      StructType(plain ++ extra.filterNot(e => plain.exists(_.name == e.name))
        .groupBy(_.name).map(_._2.head).toSeq.sortBy(_.name))
    }
    val plainRead = byName(splits.flatMap(_.renames).groupBy(_._1).map {
      case (id, rs) => id -> rs.map(_._2).distinct })
    val hasOrc = splits.exists(_.format == "ORC")
    val orcRead = if (hasOrc) byName(altNames) else plainRead

    // build only the reader slots the planned splits can reach: every
    // reader build broadcasts the session's Hadoop conf, so a delete-free
    // scan of this library's own files pays for one reader, not six. A
    // runtime (DPP) filter re-plans the same snapshot and only narrows
    // the splits, so the slots built here still cover every split read.
    type Read = PartitionedFile => Iterator[InternalRow]
    def slot(name: String, needed: Boolean)(build: => Read): Read =
      if (needed) build else PositionDeletes.unbuilt(name)
    val dataCombos = splits.filter(_.format == "PARQUET")
      .map(s => (s.useFieldIds, GraftReaderFactory.readsRaw(s, wantsPositions))).toSet
    val (readPosDeletes, readPosDeletesOrc) =
      PositionDeletes.readers(spark, splits.flatMap(_.deletes.posDeleteFiles))

    // v3 initial-defaults as catalyst values keyed by field id, with the
    // ordinal each occupies in the read schema (absent when the query
    // projected the column away — nothing to inject then)
    def catalyst(p: IcePrimitive, v: Any): Any =
      org.apache.spark.sql.catalyst.CatalystTypeConverters.convertToCatalyst(
        graft.ice.meta.SingleValueJson.toSparkValue(p, v))
    val defaultsFill: Map[Int, (Int, Any, DataType)] =
      fields.zipWithIndex.collect {
        case (f, ord) if f.initialDefault.isDefined && f.fieldType.isInstanceOf[IcePrimitive] =>
          f.id -> ((ord, catalyst(f.fieldType.asInstanceOf[IcePrimitive], f.initialDefault.get),
            SparkConv.toSparkType(f.fieldType)))
      }.toMap

    // identity-constant target slots: field id -> (read-schema ordinal,
    // spark type, iceberg primitive); consulted per split for Hive-
    // imported files whose partition columns exist only in the tuple
    val constSlots: Map[Int, (Int, DataType, IcePrimitive)] =
      fields.zipWithIndex.collect { case (f, ord) if f.fieldType.isInstanceOf[IcePrimitive] =>
        f.id -> ((ord, SparkConv.toSparkType(f.fieldType), f.fieldType.asInstanceOf[IcePrimitive]))
      }.toMap

    // final output projection: required order, each metadata column by
    // name and each data column by its read-schema ordinal; identity when
    // the read schema is the output
    val output: Option[Seq[Either[String, Int]]] =
      if (metaCols.isEmpty && extraEq.isEmpty) None
      else Some(required.fields.toSeq.map(f =>
        if (GraftMetadataColumns.names(f.name)) Left(f.name)
        else Right(readSchemaIds.fieldIndex(f.name))))

    // columnar batches when the session's parquet vectorization accepts
    // the read schema; row consumers unpack them (PositionDeletes.rows).
    // The scan reads columnar only when every split is a plain read of a
    // field-id parquet file: Spark refuses a scan that mixes columnar and
    // row splits, and deletes, defaults, constants and metadata columns
    // are applied row by row
    val batches = new ParquetFileFormat().supportBatch(spark, readSchemaIds)
    val columnar = batches && output.isEmpty &&
      splits.forall(s => s.format == "PARQUET" && s.useFieldIds && s.deletes.isEmpty &&
        s.absentDefaults.isEmpty && s.identityConsts.isEmpty)

    GraftReaderFactory(
      readIds = slot("readIds", dataCombos((true, false)))(
        PositionDeletes.parquetReader(spark, readSchemaIds, v1Filters.toSeq, batches)),
      readIdsRaw = slot("readIdsRaw", dataCombos((true, true)))(
        PositionDeletes.parquetReader(spark, GraftReaderFactory.positioned(readSchemaIds), Nil)),
      readPlain = slot("readPlain", dataCombos((false, false)))(
        PositionDeletes.parquetReader(spark, plainRead, v1Filters.toSeq)),
      readPlainRaw = slot("readPlainRaw", dataCombos((false, true)))(
        PositionDeletes.parquetReader(spark, GraftReaderFactory.positioned(plainRead), Nil)),
      readOrc = slot("readOrc", hasOrc)(PositionDeletes.orcReader(spark, orcRead)),
      readPosDeletes = readPosDeletes,
      readPosDeletesOrc = readPosDeletesOrc,
      eqReaders = EqualityDeletes.readers(spark, eqFiles, fullByName),
      readSchema = readSchemaIds,
      plainRead = plainRead,
      orcRead = orcRead,
      altNames = if (hasOrc || splits.exists(_.format == "AVRO")) altNames else Map.empty,
      output = output,
      wantsPositions = wantsPositions,
      marksDeleted = marksDeleted,
      defaultsFill = defaultsFill,
      constSlots = constSlots,
      columnar = columnar)
  }
}

/** Driver-side planner for metadata-answered aggregates (see
  * GraftScanBuilder.pushAggregation). Produces the pushed-aggregate
  * output schema and the single result row's catalyst values — or None
  * whenever any required proof fails, in which case Spark keeps the
  * ordinary scan + aggregate plan. */
private[connector] object MetadataAggregate {
  import org.apache.spark.sql.connector.expressions.{Expression => V2Expr, NamedReference}
  import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, CountStar, Max, Min}
  import graft.ice.expr.{Binder, StrictMetricsEvaluator}
  import graft.ice.manifest.DataFile
  import graft.ice.types._
  import graft.ice.write.Metrics

  private def colOf(e: V2Expr): Option[String] = e match {
    case n: NamedReference if n.fieldNames.length == 1 => Some(n.fieldNames.head)
    case _ => None
  }

  def plan(table: IceTable, pinnedSnapshotId: Option[Long],
      pruneExpr: Option[graft.ice.expr.Expr],
      agg: Aggregation): Option[(StructType, Seq[Array[Any]])] = {
    if (agg.aggregateExpressions.isEmpty) return None

    // GROUP BY is answerable from metadata only over identity-partition
    // source columns: then every file's rows share one group value (the
    // partition tuple carries it) and per-file metrics aggregate
    // per-group exactly. Anything else refuses -> normal scan plan.
    val groupCols: Seq[String] = agg.groupByExpressions.toSeq.map(e =>
      colOf(e).getOrElse(return None))

    val b = table.newScan()
    pinnedSnapshotId.foreach(b.useSnapshot)
    pruneExpr.foreach(b.filter)
    val snap = b.resolveSnapshot()
    // row-level deletes make record counts and bounds non-authoritative
    if (snap.exists(s => table.planDeleteEntries(s).nonEmpty)) return None
    val tasks = b.planFiles()
    val files: Seq[DataFile] = tasks.map(_.file)

    // a pushed filter must provably match EVERY row of every surviving
    // file, else per-file metrics describe rows the query excludes
    val filterStrict = pruneExpr.forall { e =>
      val bound = Binder.bind(e, table.schema)
      val strict = new StrictMetricsEvaluator
      files.forall(f => strict.allRowsMatch(bound, f))
    }
    if (!filterStrict) return None

    val sparkFields = SparkConv.toSpark(table.schema).fields
    def fieldOf(name: String): Option[NestedField] =
      table.schema.findFieldByName(name)
        .orElse(table.schema.findFieldByName(name, caseSensitive = false))

    // group-col -> ordinal in the partition tuple; every surviving file
    // must carry the DEFAULT spec's tuple shape (older-spec files have a
    // different layout -> refuse)
    val spec = table.metadata.defaultSpec
    val groupTupleOrds: Seq[(String, Int)] =
      if (groupCols.isEmpty) Nil
      else {
        if (tasks.exists(_.specId != table.metadata.defaultSpecId)) return None
        groupCols.map { c =>
          val fld = fieldOf(c).getOrElse(return None)
          fld.fieldType match {
            // Array[Byte] keys compare by reference (normalized below,
            // but the output would still carry reference-shared arrays);
            // float/double identity partitions split -0.0 vs 0.0 and NaN
            // groups relative to SQL GROUP BY semantics — refuse both
            case BinaryT | FloatT | DoubleT => return None
            case _ =>
          }
          val ord = spec.fields.indexWhere(pf =>
            pf.sourceId == fld.id &&
              pf.transform == graft.ice.transform.IdentityTransform)
          if (ord < 0) return None
          c -> ord
        }
      }

    def provablyNoValues(f: DataFile, id: Int): Boolean =
      f.recordCount == 0L ||
        ((f.valueCounts.get(id), f.nullValueCounts.get(id)) match {
          case (Some(v), Some(n)) => v == n
          case _ => false
        })

    /** A stored bound is the exact column min/max only when truncation
      * cannot have touched it (strings/binary: shorter than EVERY
      * truncate width this table could have written with — the monotone
      * bound-width floor, never above the pre-config 16; everything
      * else: always exact). */
    val widthFloor = math.min(Metrics.BoundTruncateLength,
      graft.ice.meta.TableProperties.get(table.properties,
        graft.ice.meta.TableProperties.MetricsBoundWidthFloor))
    def exactBound(l: Literal): Boolean = l.tpe match {
      case StringT =>
        val s = l.raw.asInstanceOf[String]
        s.codePointCount(0, s.length) < widthFloor
      case BinaryT => l.raw.asInstanceOf[Array[Byte]].length < widthFloor
      case _ => true
    }

    def minMax(fs: Seq[DataFile], name: String, isMin: Boolean): Option[(StructField, Any)] =
      fieldOf(name).flatMap { fld =>
        val prim = fld.fieldType match {
          case p: IcePrimitive => p
          case _ => return None
        }
        // NaN sorts above every value in SQL but is invisible to parquet
        // bounds — floating-point needs per-file proof of zero NaNs
        val nanOk = prim match {
          case FloatT | DoubleT => fs.forall(_.nanValueCounts.get(fld.id).contains(0L))
          case _ => true
        }
        if (!nanOk) return None
        val bounds = fs.flatMap { f =>
          val stored = if (isMin) f.lowerBounds.get(fld.id) else f.upperBounds.get(fld.id)
          stored match {
            case Some(bytes) =>
              val l = Literal.deserialize(prim, bytes)
              if (exactBound(l)) Some(Some(l)) else None.asInstanceOf[Option[Option[Literal]]]
            case None => if (provablyNoValues(f, fld.id)) Some(None) else None
          }
        }
        // every file must either contribute an exact bound or prove it
        // has no values for the column
        if (bounds.size != fs.size) return None
        val contrib = bounds.flatten
        val best = contrib.reduceOption[Literal] { (a, c) =>
          a.compareTo(c) match {
            case Some(cmp) => if ((cmp <= 0) == isMin) a else c
            case None => return None
          }
        }
        val sparkType = sparkFields.find(_.name == fld.name).map(_.dataType).getOrElse(return None)
        val value = best.map(l => GraftConnectorUtil.toInternalValue(l.raw)).orNull
        Some(StructField(s"${if (isMin) "min" else "max"}($name)", sparkType,
          nullable = true) -> value)
      }

    def countCol(fs: Seq[DataFile], name: String): Option[(StructField, Any)] =
      fieldOf(name).flatMap { fld =>
        val perFile = fs.map { f =>
          if (f.recordCount == 0L) Some(0L) // empty file: nothing to count
          else f.nullValueCounts.get(fld.id)
            .orElse(if (fld.required) Some(0L) else None)
            .map(n => f.recordCount - n)
        }
        if (perFile.exists(_.isEmpty)) None
        else Some(StructField(s"count($name)", LongType, nullable = false)
          -> Long.box(perFile.flatten.sum))
      }

    def outputsFor(fs: Seq[DataFile]): Option[Seq[(StructField, Any)]] = {
      val outputs = agg.aggregateExpressions.toSeq.map {
        case _: CountStar =>
          Some(StructField("count(*)", LongType, nullable = false)
            -> Long.box(fs.map(_.recordCount).sum))
        case c: Count if !c.isDistinct => colOf(c.column).flatMap(countCol(fs, _))
        case m: Min => colOf(m.column).flatMap(minMax(fs, _, isMin = true))
        case m: Max => colOf(m.column).flatMap(minMax(fs, _, isMin = false))
        case _ => None
      }
      if (outputs.exists(_.isEmpty)) None else Some(outputs.flatten)
    }

    if (groupTupleOrds.isEmpty) {
      outputsFor(files).map { resolved =>
        StructType(resolved.map(_._1)) -> Seq(resolved.map(_._2).toArray)
      }
    } else {
      // one output row per distinct partition value of the group cols;
      // group values ride the row first, in groupBy order. A group
      // exists iff it has surviving files (zero-row files never enter
      // manifests — Metrics contract), matching GROUP BY semantics.
      val groupFields: Seq[StructField] = groupTupleOrds.map { case (c, _) =>
        val fld = fieldOf(c).get
        val sparkType = sparkFields.find(_.name == fld.name).map(_.dataType)
          .getOrElse(return None)
        StructField(c, sparkType, nullable = !fld.required)
      }
      val byGroup: Seq[(Seq[Any], Seq[DataFile])] = files
        .groupBy(f => groupTupleOrds.map { case (_, ord) => f.partition(ord) })
        .toSeq
      val rows = byGroup.map { case (gv, fs) =>
        val aggVals = outputsFor(fs).getOrElse(return None)
        // pin the agg schema across groups (same by construction)
        (gv.map(GraftConnectorUtil.toInternalValue) ++ aggVals.map(_._2)).toArray
      }
      val aggSchema: Seq[StructField] = byGroup.headOption
        .map(g => outputsFor(g._2).get.map(_._1))
        .getOrElse(
          // no files -> zero groups; still need the schema for the scan
          outputsFor(Nil).getOrElse(return None).map(_._1))
      Some(StructType(groupFields ++ aggSchema) -> rows)
    }
  }
}

/** The scan a pushed aggregate builds: one partition PER GROUP (one
  * total for ungrouped), zero data files opened — the whole answer was
  * read from manifests on the driver. */
private[connector] final class GraftMetadataAggScan(schema: StructType,
    rows: Seq[Array[Any]], location: String) extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String =
    s"graft metadata-aggregate $location [${schema.fieldNames.mkString(", ")}]"
  override def planInputPartitions(): Array[InputPartition] =
    rows.map(r => GraftAggRow(r): InputPartition).toArray
  override def createReaderFactory(): PartitionReaderFactory = GraftAggReaderFactory()
}

private[connector] final case class GraftAggRow(values: Array[Any]) extends InputPartition

private[connector] final case class GraftAggReaderFactory() extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val vs = p.asInstanceOf[GraftAggRow].values
    new PartitionReader[InternalRow] {
      private var done = false
      override def next(): Boolean = if (done) false else { done = true; true }
      override def get(): InternalRow =
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(vs)
      override def close(): Unit = ()
    }
  }
}

/** Reads each split of a [[GraftBatchScan]] by its file format, applies
  * its merge-on-read deletes and serves its defaults, constants and
  * metadata columns. The read slots are built on the driver, only for
  * the formats and delete shapes the planned splits need. Every
  * per-split value enters the projections by reference
  * ([[ParamLiteral]]), so splits that differ only in their values share
  * one compiled class. */
private[connector] final case class GraftReaderFactory(
    // parquet by field id and, for id-less files, by name: with the
    // scan's pushed filters, and raw ([[GraftReaderFactory.readsRaw]])
    readIds: PartitionedFile => Iterator[InternalRow],
    readIdsRaw: PartitionedFile => Iterator[InternalRow],
    readPlain: PartitionedFile => Iterator[InternalRow],
    readPlainRaw: PartitionedFile => Iterator[InternalRow],
    readOrc: PartitionedFile => Iterator[InternalRow],
    readPosDeletes: PartitionedFile => Iterator[InternalRow],
    readPosDeletesOrc: PartitionedFile => Iterator[InternalRow],
    eqReaders: EqualityDeletes.Readers,
    // the data columns every split yields: the query's, then any
    // equality-delete key columns it pruned
    readSchema: StructType,
    // the by-name read schemas of id-less parquet and of ORC files:
    // `readSchema`'s columns, then the other names they may carry
    plainRead: StructType,
    orcRead: StructType,
    // field id -> the other names its column may carry (ORC, Avro)
    altNames: Map[Int, Seq[String]],
    // output column -> metadata column name or read-schema ordinal;
    // None = the read schema is the output
    output: Option[Seq[Either[String, Int]]],
    // the query reads `_pos` or `_row_id`
    wantsPositions: Boolean,
    // deleted rows are marked (`_deleted`) instead of dropped
    marksDeleted: Boolean,
    // field id -> (read ordinal, initial-default, spark type)
    defaultsFill: Map[Int, (Int, Any, DataType)],
    // field id -> (read ordinal, spark type, iceberg primitive) for
    // per-split identity-partition constant injection (Hive imports)
    constSlots: Map[Int, (Int, DataType, IcePrimitive)],
    // every split of the scan is a plain field-id parquet read and
    // `readIds` returns batches: Spark reads the scan as columnar
    columnar: Boolean) extends PartitionReaderFactory {

  override def supportColumnarReads(p: InputPartition): Boolean = columnar

  /** The equality-delete key readers, by key-column list. */
  def readEqDeletes: Map[Seq[String], PartitionedFile => Iterator[InternalRow]] = eqReaders.parquet
  def readEqDeletesOrc: Map[Seq[String], PartitionedFile => Iterator[InternalRow]] = eqReaders.orc

  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    GraftReaderFactory.readerOf(splitsOf(p).flatMap(rowsOf))

  override def createColumnarReader(p: InputPartition): PartitionReader[ColumnarBatch] =
    GraftReaderFactory.readerOf(splitsOf(p).flatMap(s =>
      readIds(fileOf(s)).asInstanceOf[Iterator[ColumnarBatch]]))

  // a packed split concatenates its members' iterators — every member
  // keeps its own delete/default/projection state (built lazily, so a
  // 50-file bin opens files one at a time)
  private def splitsOf(p: InputPartition): Iterator[GraftFileSplit] = p match {
    case GraftPackedSplit(members) => members.iterator
    case GraftKeyedFileSplit(s, _) => Iterator.single(s)
    case s: GraftFileSplit => Iterator.single(s)
  }

  // the split's byte range (whole file unless read.split.target-size
  // cut it); ORC and Avro reads that count positions are whole files
  private def fileOf(split: GraftFileSplit): PartitionedFile =
    PartitionedFile(InternalRow.empty, SparkPath.fromPathString(split.path),
      split.rangeStart, split.rangeLength, Array.empty[String], 0L, split.fileSize, Map.empty)

  /** The split's rows, in the layout the file reader yields them, and
    * the ordinal of each row's file position in that layout (-1: the
    * reader gives none, so the rows of a whole file are counted).
    * Field-id parquet and Avro rows are `readSchema`'s, id-less parquet
    * rows `plainRead`'s and ORC rows `orcRead`'s; a raw parquet read
    * appends the position. */
  private def fileRows(split: GraftFileSplit): (Iterator[InternalRow], StructType, Int) =
    split.format match {
      case "ORC" => (PositionDeletes.rows(readOrc, fileOf(split)), orcRead, -1)
      case "AVRO" =>
        val toRow = org.apache.spark.sql.catalyst.CatalystTypeConverters
          .createToCatalystConverter(readSchema)
        (AvroData.readFileRows(split.path, readSchema, split.rangeStart,
          split.rangeStart + split.rangeLength, altNames.map { case (id, ns) => id.toLong -> ns })
          .map(r => toRow(r).asInstanceOf[InternalRow]), readSchema, -1)
      case _ =>
        val raw = GraftReaderFactory.readsRaw(split, wantsPositions)
        val (read, base) = (split.useFieldIds, raw) match {
          case (true, true) => (readIdsRaw, readSchema)
          case (true, false) => (readIds, readSchema)
          case (false, true) => (readPlainRaw, plainRead)
          case (false, false) => (readPlain, plainRead)
        }
        val layout = if (raw) GraftReaderFactory.positioned(base) else base
        (PositionDeletes.rows(read, fileOf(split)), layout, if (raw) base.length else -1)
    }

  /** The projection from the file reader's `layout` onto `readSchema`:
    * mapped and historical names, v3 initial-defaults and identity
    * constants. None when the file's rows already are `readSchema`'s. */
  private def fillOf(split: GraftFileSplit, layout: StructType): Option[UnsafeProjection] = {
    val fields = readSchema.fields.toSeq
    def ref(name: String) =
      BoundReference(layout.fieldIndex(name), layout(name).dataType, nullable = true)
    def idOf(ord: Int) = fields(ord).metadata.getLong(SparkConv.FieldIdKey).toInt
    val resolved: Map[Int, Expression] = split.format match {
      case "ORC" => fields.indices.flatMap { i =>
        altNames.get(idOf(i)).map(alts => i -> (Coalesce((fields(i).name +: alts).map(ref)): Expression))
      }.toMap
      case "PARQUET" if !split.useFieldIds => split.renames.flatMap {
        case (id, src) => fields.indices.find(idOf(_) == id).map(_ -> (ref(src): Expression))
      }.toMap
      case _ => Map.empty
    }
    val constants = (split.absentDefaults.flatMap(defaultsFill.get) ++
      split.identityConsts.flatMap { case (fid, v) =>
        constSlots.get(fid).map { case (ord, dt, prim) =>
          val cat = if (v == null) null
            else org.apache.spark.sql.catalyst.CatalystTypeConverters.convertToCatalyst(
              graft.ice.meta.SingleValueJson.toSparkValue(prim, v))
          (ord, cat, dt)
        }
      }).map { case (ord, v, dt) => ord -> (new ParamLiteral(v, dt): Expression) }.toMap
    val fills = resolved ++ constants
    Option.when(fills.nonEmpty || layout.length > readSchema.length)(
      UnsafeProjection.create(fields.indices.map(i =>
        fills.getOrElse(i, BoundReference(i, fields(i).dataType, nullable = true)))))
  }

  /** The output projection over (data row, (position, deleted)). */
  private def outputOf(split: GraftFileSplit, cols: Seq[Either[String, Int]]): UnsafeProjection = {
    val n = readSchema.length
    val pos = BoundReference(n, LongType, nullable = false)
    def param(v: Any, dt: DataType): Expression = new ParamLiteral(v, dt)
    UnsafeProjection.create(cols.map {
      case Right(i) => BoundReference(i, readSchema(i).dataType, nullable = true)
      case Left("_file") => param(UTF8String.fromString(split.path), StringType)
      case Left("_pos") => pos
      case Left("_deleted") => BoundReference(n + 1, BooleanType, nullable = false)
      case Left("_spec_id") => param(split.specId, IntegerType)
      case Left("_partition") => param(UTF8String.fromString(split.partition), StringType)
      case Left("_row_id") => Add(param(split.firstRowId.map(Long.box).orNull, LongType), pos)
      case Left("_last_updated_sequence_number") =>
        param(split.dataSeq.map(Long.box).orNull, LongType)
      case Left(other) => throw new IllegalArgumentException(s"unknown metadata column $other")
    })
  }

  private def rowsOf(split: GraftFileSplit): Iterator[InternalRow] = {
    val del = split.deletes
    // positions deleted from THIS file: DV bitmaps + position-delete
    // files, each parsed once per executor JVM (PositionDeletes)
    val deletedPos =
      if (!del.hasPositional) null
      else PositionDeletes.deletedPositions(split.path,
        FileDeletes(del.dvs, del.posDeleteFiles), readPosDeletes, readPosDeletesOrc)
    val eqDeleted =
      if (del.eqDeletes.isEmpty) null
      else EqualityDeletes.test(del.eqDeletes, readSchema, eqReaders)
    // v3 initial-defaults are in place BEFORE equality-delete matching,
    // so deletes keyed on a defaulted column see the virtual value
    val (rows, layout, posOrd) = fileRows(split)
    val fill = fillOf(split, layout).orNull
    val out = output.map(outputOf(split, _)).orNull
    // (position, deleted) beside each data row, for the output projection
    val meta = new SpecificInternalRow(Seq(LongType, BooleanType))
    val joined = new JoinedRow
    var pos = -1L

    // one row in, the row out or null when a delete drops it
    def step(raw: InternalRow): InternalRow = {
      pos = if (posOrd >= 0) raw.getLong(posOrd) else pos + 1
      var dead = deletedPos != null && deletedPos.contains(pos)
      if (dead && !marksDeleted) return null
      val row = if (fill == null) raw else fill(raw)
      if (!dead && eqDeleted != null) dead = eqDeleted(row)
      if (dead && !marksDeleted) null
      else if (out == null) row
      else {
        meta.setLong(0, pos)
        meta.setBoolean(1, dead)
        out(joined(row, meta))
      }
    }

    new Iterator[InternalRow] {
      private var nextRow: InternalRow = _
      override def hasNext: Boolean = {
        while (nextRow == null && rows.hasNext) nextRow = step(rows.next())
        nextRow != null
      }
      override def next(): InternalRow = {
        if (!hasNext) throw new NoSuchElementException
        val r = nextRow
        nextRow = null
        r
      }
    }
  }
}

private[connector] object GraftReaderFactory {
  /** A partition reader over `it`. */
  def readerOf[T](it: Iterator[T]): PartitionReader[T] =
    new PartitionReader[T] {
      private var cur: T = _
      override def next(): Boolean =
        if (it.hasNext) { cur = it.next(); true } else false
      override def get(): T = cur
      override def close(): Unit = ()
    }

  /** Whether a parquet `split` reads raw: every row of its range, with
    * no pushed filter (a name-mapped file's filters would name the wrong
    * columns) and each row's position in the file (position deletes,
    * `_pos`, `_row_id`). */
  def readsRaw(split: GraftFileSplit, wantsPositions: Boolean): Boolean =
    split.deletes.hasPositional || wantsPositions || split.renames.nonEmpty

  /** `schema` and the parquet reader's file-relative row position. */
  def positioned(schema: StructType): StructType =
    schema.add(StructField(ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME, LongType))
}
