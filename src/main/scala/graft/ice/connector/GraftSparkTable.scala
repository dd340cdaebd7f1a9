package graft.ice.connector

import java.util.{Locale, Map => JMap, Set => JSet}


import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.{Expressions, NullOrdering, SortDirection, SortOrder => V2SortOrder, Transform => V2Transform}
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder => V2ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportOrdering, SupportsReportPartitioning, SupportsReportStatistics}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.{Filter => V1Filter}
import org.apache.spark.sql.types.{DataType, LongType, Metadata, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch

import graft.ice.{EqualityDeletes, FileDeletes, FileScanTask, IceTable, PositionDeletes, ScanBuilder}
import graft.ice.expr.{Expr => IceExpr}
import graft.ice.manifest.{FileContent, ManifestAvro, ManifestEntry}
import graft.ice.transform.{BucketTransform, DayTransform, HourTransform, IdentityTransform, MonthTransform, TruncateTransform, YearTransform}
import graft.ice.types.{SparkConv, TimestampT, TimestampTzT}

/** DataSourceV2 batch-read surface over an Ice table — the read path
  * that lets CATALYST see the table's physical layout. The DataFrame
  * scan (`ScanBuilder.toDF`) stays the general path (full MoR,
  * name-mapping, metadata columns); this connector exists for what only
  * a V2 relation can express:
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
  * deletion vectors are applied executor-side per split (position
  * counting against the raw row stream; parquet predicate pushdown is
  * disabled for delete-bearing files so positions stay exact), through
  * the same `PositionDeletes` code and visibility rule `ScanBuilder.toDF`
  * uses. Equality deletes test each row's key columns against the
  * delete files' key sets through the same `EqualityDeletes` code. */
final class GraftSparkTable(val table: IceTable, catalogName: String,
    identName: String, warehouse: String,
    pinnedSnapshotId: Option[Long] = None) extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  /** `_file` as a connector metadata column (the V2 face of the
    * DataFrame path's metadata columns, IceTable.scala): selectable in
    * queries AND the groups handle Spark's group-based row-level
    * rewrites key on — ReplaceData only routes rows through its
    * data/metadata projections when the operation requests metadata
    * attributes, so [[GraftRowLevelOperation.requiredMetadataAttributes]]
    * names this column. */
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = "_file"
        override def dataType(): DataType = StringType
        override def isNullable: Boolean = false
        override def comment(): String = "data file path of the row"
      },
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = "_last_updated_sequence_number"
        override def dataType(): DataType = org.apache.spark.sql.types.LongType
        // nullable: pre-lineage files (manifest entries without a
        // sequence number) have no recorded last update — null, not 0
        override def isNullable: Boolean = true
        override def comment(): String =
          "data sequence number of the commit that last updated the row"
      })

  /** Native V2 row-level DML (UPDATE / MERGE / DELETE-by-rewrite) — lets
    * Spark's own RewriteUpdateTable / RewriteMergeIntoTable /
    * RewriteDeleteFromTable plan group-based copy-on-write against this
    * table with NO GraftExtensions installed (the extension rule surface
    * in GraftSqlResolution remains and intercepts first when present).
    * See [[GraftRowLevelOperation]]. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    () => new GraftRowLevelOperation(table, identName, warehouse, info.command())

  override def name(): String = s"$catalogName.$identName"
  override def schema(): StructType = {
    // time travel pins the snapshot's schema (ScanBuilder.scanSchema
    // semantics); a current read always sees the current schema
    val s = pinnedSnapshotId
      .flatMap(id => table.metadata.snapshotById(id))
      .flatMap(_.schemaId).flatMap(table.metadata.schemaById)
      .getOrElse(table.schema)
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
    * dispatched on `write.delete.mode` like the SQL rule surface:
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
    new GraftScanBuilder(table, schema(),
      Some(new CaseInsensitiveStringMap(streamOpts)), pinnedSnapshotId)
  }
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
}

private[graft] class GraftScanBuilder(table: IceTable,
    fullSchema: StructType,
    streamOpts: Option[CaseInsensitiveStringMap] = None,
    pinnedSnapshotId: Option[Long] = None,
    // row-level-operation scans: pushed DML predicates prune manifests
    // and files but must NEVER reach the parquet reader — a group-based
    // rewrite needs EVERY row of a matched file (the non-matching rows
    // are what survives), so reader-level filtering would lose data
    pruneOnly: Boolean = false) extends V2ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit
    with org.apache.spark.sql.connector.read.SupportsPushDownTopN {

  private var required: StructType = fullSchema
  private var pruneExpr: Option[IceExpr] = None
  private var pushed: Array[V1Filter] = Array.empty
  private var aggResult: Option[(StructType, Seq[Array[Any]])] = None
  // Spark hands the SAME Aggregation to supportCompletePushDown and
  // pushAggregation back to back; cache by identity so the manifest
  // walk + per-file strict evaluation runs once, not twice
  private var aggCache: Option[(AnyRef, Option[(StructType, Seq[Array[Any]])])] = None
  private var limitFiles: Option[Seq[FileScanTask]] = None
  private var limitSnapshotId: Option[Long] = None

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
    if (pruneExpr.isDefined || pushed.nonEmpty) return false
    val probe = table.newScan()
    pinnedSnapshotId.foreach(probe.useSnapshot)
    probe.resolveSnapshot() match {
      case None =>
        limitFiles = Some(Nil)
        true
      case Some(s) =>
        if (table.planDeleteEntries(s).nonEmpty) return false
        limitFiles = Some(
          table.newScan().useSnapshot(s.snapshotId).limit(limit.toLong).planFiles())
        limitSnapshotId = Some(s.snapshotId)
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
    if (pruneExpr.isDefined || pushed.nonEmpty) return false
    val probe = table.newScan()
    pinnedSnapshotId.foreach(probe.useSnapshot)
    probe.resolveSnapshot() match {
      case None =>
        limitFiles = Some(Nil)
        true
      case Some(s) =>
        if (table.planDeleteEntries(s).nonEmpty) return false
        TopNPlanner.plan(table, s.snapshotId, orders, limit) match {
          case Some((sel, total)) =>
            limitFiles = Some(sel)
            limitSnapshotId = Some(s.snapshotId)
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
      new GraftBatchScan(table, required, pruneExpr,
        if (pruneOnly) Array.empty else pushed, streamOpts,
        pinnedSnapshotId.orElse(limitSnapshotId), limitFiles)
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

private[graft] sealed trait GraftScanSplit extends InputPartition {
  def path: String
  def fileSize: Long
  def useFieldIds: Boolean
  def deletes: GraftDeleteSpec
  /** Field ids of v3-defaulted columns this file predates (proven absent
    * from manifest metrics at plan time) — the reader injects each
    * column's initial-default in place of the null the parquet reader
    * would return. */
  def absentDefaults: Seq[Int]
  /** (source field id, Iceberg runtime value) constants for identity-
    * partitioned columns of EXTERNAL files (Hive imports): the column
    * lives in the manifest tuple, not the file — the reader serves it
    * as a per-split constant (Iceberg's constants-map semantics). */
  def identityConsts: Seq[(Int, Any)]
  /** The file's data sequence number — served per split as the
    * `_last_updated_sequence_number` metadata column
    * (metadata_columns.h:95: a row's last update is its file's). None
    * for pre-lineage files (no sequence number in the manifest entry);
    * the column serves null for those rows. */
  def dataSeq: Option[Long]
  /** Byte range of THIS split within the file (read.split.target-size
    * sub-file splits): whole file by default. The parquet reader assigns
    * each row group to the range holding its midpoint, so any disjoint
    * cover of the file reads every row exactly once. */
  def rangeStart: Long = 0L
  def rangeLength: Long = fileSize
}
private[graft] final case class GraftFileSplit(path: String, fileSize: Long,
    useFieldIds: Boolean, deletes: GraftDeleteSpec,
    absentDefaults: Seq[Int] = Nil,
    identityConsts: Seq[(Int, Any)] = Nil,
    dataSeq: Option[Long] = None,
    override val rangeStart: Long = 0L,
    rangeLen: Long = -1L) extends GraftScanSplit {
  override def rangeLength: Long = if (rangeLen < 0) fileSize else rangeLen
}
/** Several small splits bin-packed into ONE task
  * (read.split.open-file-cost): the reader concatenates the member
  * iterators — per-member delete/default state stays per-member. */
private[graft] final case class GraftPackedSplit(members: Seq[GraftScanSplit])
    extends InputPartition
private[connector] final case class GraftKeyedFileSplit(path: String, fileSize: Long,
    useFieldIds: Boolean, deletes: GraftDeleteSpec,
    key: InternalRow, absentDefaults: Seq[Int] = Nil,
    identityConsts: Seq[(Int, Any)] = Nil,
    dataSeq: Option[Long] = None) extends GraftScanSplit
    with HasPartitionKey {
  override def partitionKey(): InternalRow = key
}

private[connector] final class GraftBatchScan(table: IceTable,
    required: StructType, pruneExpr: Option[IceExpr],
    v1Filters: Array[V1Filter],
    streamOpts: Option[CaseInsensitiveStringMap] = None,
    pinnedSnapshotId: Option[Long] = None,
    limitFiles: Option[Seq[FileScanTask]] = None) extends Scan with Batch
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
  override def description(): String = {
    val f = pruneExpr.map(e => s", pruned: $e").getOrElse("")
    s"graft ${table.metadata.location}$f"
  }

  // ---- planning (driver) ----

  private final case class PlannedScan(splits: Seq[GraftScanSplit],
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
      filesSorted: Boolean,
      // every surviving data file is parquet: a precondition of the
      // columnar read (the batch reader is parquet's)
      parquetOnly: Boolean)

  /** Final planned file set in manifest path form (after static pushdown
    * AND any runtime group filter) — the groups a row-level operation's
    * write replaces. */
  private[connector] def plannedOriginalPaths: Set[String] = planned.origPaths

  /** Live delete-file paths the plan applied — the replace-groups
    * commit's conflict baseline (any delete file beyond these covering a
    * replaced file means a concurrent delete our rewrite would erase). */
  private[connector] def plannedDeletePaths: Set[String] = planned.deletePaths

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
    val builder = {
      val b = table.newScan()
      replanSnapshotId.foreach(b.useSnapshot)
      pruneExpr.foreach(b.filter)
      runtimeExpr.foreach(b.filter)
      b
    }
    val snap = builder.resolveSnapshot()
    // a pushed LIMIT pre-planned just enough files (delete-free scan by
    // construction); a later runtime filter would re-plan past it, but
    // Spark never pushes a limit under a join, so the two cannot meet
    val (tasks, deleteEntries) = limitFiles match {
      case Some(ts) => (ts, snap.map(table.planDeleteEntries).getOrElse(Nil))
      case None => builder.planFilesWithDeletes()
    }
    val posDeletes = deleteEntries.filter(_.dataFile.content == FileContent.PositionDeletes)
    val eqDeletes = deleteEntries.filter(_.dataFile.content == FileContent.EqualityDeletes)

    def deletesFor(t: FileScanTask): GraftDeleteSpec = {
      val pos = PositionDeletes.applicable(GraftConnectorUtil.normPath(t.file.filePath),
        t.sequenceForVisibility, posDeletes)
      GraftDeleteSpec(pos.dvs, pos.files, EqualityDeletes.applicable(
        t.sequenceForVisibility, eqDeletes, table.schema.findFieldById(_).map(_.name)))
    }

    val dataDirPrefixes = table.dataRoots.map(GraftConnectorUtil.normPath)
    val idSummaryBySnap: Map[Long, String] = table.metadata.snapshots
      .flatMap(s => s.summary.get(IceTable.FieldIdsSummaryKey)
        .map(s.snapshotId -> _)).toMap
    def fileHasIds(t: FileScanTask, p: String): Boolean =
      dataDirPrefixes.exists(p.startsWith) ||
        t.snapshotId.flatMap(idSummaryBySnap.get).contains("all")

    // v3 default values: which defaulted columns does each file predate?
    // Proven from manifest metrics (metadata-only); cached footer probe
    // only for metric-less legacy files — mirrors ScanBuilder.toDF.
    val defaultedIds = table.schema.fields.filter(f =>
      f.initialDefault.isDefined && f.fieldType.isInstanceOf[graft.ice.types.IcePrimitive])
      .map(_.id)
    def absentFor(t: FileScanTask, p: String): Seq[Int] =
      if (defaultedIds.isEmpty) Nil
      else {
        val m = t.file
        val hasMetrics = m.valueCounts.nonEmpty || m.columnSizes.nonEmpty
        defaultedIds.filter { id =>
          if (hasMetrics) !m.valueCounts.contains(id) && !m.columnSizes.contains(id)
          else !ScanBuilder.footerFieldIds(p, SparkSession.active).contains(id)
        }
      }

    // identity-partition constants for EXTERNAL (name-resolved) files:
    // Hive imports don't contain the partition columns — ship the
    // manifest tuple values with the split so the reader injects them
    def identityConstsFor(t: FileScanTask, hasIds: Boolean): Seq[(Int, Any)] =
      if (hasIds || t.file.partition.isEmpty) Nil
      else {
        val mSpec = table.metadata.specById(t.specId)
          .getOrElse(graft.ice.meta.PartitionSpec.unpartitioned)
        mSpec.fields.zipWithIndex.collect {
          case (pf, i) if pf.transform == graft.ice.transform.IdentityTransform &&
              i < t.file.partition.size =>
            (pf.sourceId, t.file.partition(i))
        }
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
    val snapId = snap.map(_.snapshotId)
    val origPaths = tasks.map(_.file.filePath).toSet
    val deletePaths = deleteEntries.map(_.dataFile.filePath).toSet
    val filesSorted = table.metadata.defaultSortOrder.fields.nonEmpty &&
      tasks.nonEmpty &&
      tasks.forall(_.file.sortOrderId.contains(table.metadata.defaultSortOrderId))
    val parquetOnly = tasks.forall(_.file.fileFormat.equalsIgnoreCase("PARQUET"))
    if (!groupable) {
      val whole = tasks.map { t =>
        val p = GraftConnectorUtil.normPath(t.file.filePath)
        val hasIds = fileHasIds(t, p)
        (t, GraftFileSplit(p, t.file.fileSizeInBytes, hasIds, deletesFor(t),
          absentFor(t, p), identityConstsFor(t, hasIds), t.dataSequenceNumber))
      }
      // read.split.* sizing: only when the scan is NOT claiming per-split
      // ordering (that contract is defined over whole single-file splits)
      // and is not a pre-planned LIMIT scan (already minimal). Files with
      // positional deletes stay whole — the reader counts row positions
      // from the file start.
      val meta = table.metadata
      import graft.ice.meta.TableProperties
      val parts: Seq[InputPartition] =
        if (filesSorted || limitFiles.isDefined) whole.map(_._2)
        else {
          val parallelism = SparkSession.active.sparkContext.defaultParallelism
          val target = SplitPlanning.adjustTarget(
            meta.property(TableProperties.SplitTargetSize),
            tasks.map(_.file.fileSizeInBytes).sum, parallelism,
            meta.property(TableProperties.SplitAdaptiveEnabled))
          val subs = whole.flatMap { case (t, s) =>
            if (s.deletes.hasPositional) Seq(s)
            else SplitPlanning.subSplit(s, t.file.splitOffsets, target)
          }
          SplitPlanning.pack(subs, target,
            meta.property(TableProperties.SplitOpenFileCost),
            meta.property(TableProperties.SplitLookback))
        }
      PlannedScan(whole.map(_._2), parts, None, totalRows, snapId, origPaths,
        deletePaths, filesSorted, parquetOnly)
    } else {
      val keyed = tasks.map { t =>
        val p = GraftConnectorUtil.normPath(t.file.filePath)
        val hasIds = fileHasIds(t, p)
        val key = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          t.file.partition.map(GraftConnectorUtil.toInternalValue).toArray)
        GraftKeyedFileSplit(p, t.file.fileSizeInBytes, hasIds,
          deletesFor(t), key, absentFor(t, p),
          identityConstsFor(t, hasIds), t.dataSequenceNumber): GraftScanSplit
      }
      val nKeys = tasks.map(_.file.partition).distinct.size
      PlannedScan(keyed, keyed, Some(nKeys), totalRows, snapId, origPaths, deletePaths,
        filesSorted, parquetOnly)
    }
  }

  override def planInputPartitions(): Array[InputPartition] =
    planned.parts.toArray

  /** Dynamic partition pruning through the connector: Spark injects a
    * runtime IN-filter over the partition SOURCE columns at execution
    * time (the dim side's join keys); converting it into the engine's
    * expression tree re-prunes manifests and files, so a fact scan
    * reads only the partitions the dim actually references — the
    * V2-native form of `IceTable.pruneByJoinKeys`. */
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    table.metadata.defaultSpec.fields
      .flatMap(f => table.schema.findFieldById(f.sourceId))
      .map(f => Expressions.column(f.name)
        : org.apache.spark.sql.connector.expressions.NamedReference)
      .distinct.toArray

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
    // readers' own Hadoop conf; files without ids (addFiles-registered)
    // read by current name
    val spark = IceTable.scanSession(SparkSession.active, table.properties)

    // `_file` / `_last_updated_sequence_number` are metadata columns
    // (SupportsMetadataColumns): they never reach the parquet reader —
    // each split injects its own path / data sequence number via the
    // output projection below
    val wantsFile = required.fieldNames.contains("_file")
    val wantsSeq = required.fieldNames.contains("_last_updated_sequence_number")
    val dataRequired = StructType(required.fields.filterNot(f =>
      f.name == "_file" || f.name == "_last_updated_sequence_number"))

    val eqFiles = splits.flatMap(_.deletes.eqDeletes).distinct
    val fullByName = SparkConv.toSpark(table.schema).fields.map(f => f.name -> f).toMap
    // the executor must SEE equality-delete key columns even when the
    // query pruned them away; read them, test them, then project back
    val extraEq = eqFiles.flatMap(_._3).distinct
      .filterNot(c => dataRequired.fieldNames.contains(c))
      .flatMap(fullByName.get)
    val readSchemaIds = StructType(dataRequired.fields ++ extraEq)
    val plain = StructType(readSchemaIds.fields.map(_.copy(metadata = Metadata.empty)))

    def mkReader(schema: StructType, filters: Seq[V1Filter]) =
      PositionDeletes.parquetReader(spark, schema, filters)

    // build only the reader slots the planned splits can reach: every
    // reader build broadcasts the session's Hadoop conf, so a delete-free
    // scan of this library's own files pays for one reader, not six. A
    // runtime (DPP) filter re-plans the same snapshot and only narrows
    // the splits, so the slots built here still cover every split read.
    type Read = PartitionedFile => Iterator[InternalRow]
    def slot(name: String, needed: Boolean)(build: => Read): Read =
      if (needed) build else PositionDeletes.unbuilt(name)
    val dataCombos = splits.map(s => (s.useFieldIds, s.deletes.hasPositional)).toSet
    val (readPosDeletes, readPosDeletesOrc) =
      PositionDeletes.readers(spark, splits.flatMap(_.deletes.posDeleteFiles))

    // v3 initial-defaults as catalyst values keyed by field id, with the
    // ordinal each occupies in the read schema (absent when the query
    // projected the column away — nothing to inject then)
    val defaultsFill: Map[Int, (Int, Any, org.apache.spark.sql.types.DataType)] =
      table.schema.fields.filter(_.initialDefault.isDefined).flatMap { f =>
        val ord = readSchemaIds.fieldNames.indexOf(f.name)
        if (ord < 0) None
        else {
          val dt = SparkConv.toSparkType(f.fieldType)
          val ext = graft.ice.meta.SingleValueJson.toSparkValue(
            f.fieldType.asInstanceOf[graft.ice.types.IcePrimitive], f.initialDefault.get)
          val cat = org.apache.spark.sql.catalyst.CatalystTypeConverters
            .convertToCatalyst(ext)
          Some(f.id -> ((ord, cat, dt)))
        }
      }.toMap

    // final output projection: required order, `_file` (-1) filled with
    // the split's path, `_last_updated_sequence_number` (-2) with the
    // split's data sequence number; identity when nothing was appended
    val outputTemplate: Option[Array[Int]] =
      if (!wantsFile && !wantsSeq && extraEq.isEmpty) None
      else Some(required.fields.map(f =>
        if (f.name == "_file") -1
        else if (f.name == "_last_updated_sequence_number") -2
        else readSchemaIds.fieldIndex(f.name)))

    // identity-constant target slots: field id -> (read-schema ordinal,
    // spark type, iceberg primitive); consulted per split for Hive-
    // imported files whose partition columns exist only in the tuple
    val constSlots: Map[Int, (Int, org.apache.spark.sql.types.DataType,
        graft.ice.types.IcePrimitive)] =
      table.schema.fields.flatMap { f =>
        val ord = readSchemaIds.fieldNames.indexOf(f.name)
        f.fieldType match {
          case p: graft.ice.types.IcePrimitive if ord >= 0 =>
            Some(f.id -> ((ord, SparkConv.toSparkType(f.fieldType), p)))
          case _ => None
        }
      }.toMap

    // columnar batches when the session's parquet vectorization accepts
    // the read schema; row consumers unpack them (PositionDeletes.rows).
    // The scan reads columnar only when every split is a plain read of a
    // field-id parquet file: Spark refuses a scan that mixes columnar and
    // row splits, and deletes, defaults, constants and metadata columns
    // are applied row by row
    val batches = new ParquetFileFormat().supportBatch(spark, readSchemaIds)
    val columnar = batches && plan.parquetOnly && outputTemplate.isEmpty &&
      splits.forall(s => s.useFieldIds && s.deletes.isEmpty &&
        s.absentDefaults.isEmpty && s.identityConsts.isEmpty)

    GraftReaderFactory(
      readIds = slot("readIds", dataCombos((true, false)))(
        PositionDeletes.parquetReader(spark, readSchemaIds, v1Filters.toSeq, batches)),
      readIdsRaw = slot("readIdsRaw", dataCombos((true, true)))(
        mkReader(readSchemaIds, Nil)),
      readPlain = slot("readPlain", dataCombos((false, false)))(
        mkReader(plain, v1Filters.toSeq)),
      readPlainRaw = slot("readPlainRaw", dataCombos((false, true)))(
        mkReader(plain, Nil)),
      readPosDeletes = readPosDeletes,
      readPosDeletesOrc = readPosDeletesOrc,
      eqReaders = EqualityDeletes.readers(spark, eqFiles, fullByName),
      readSchema = readSchemaIds,
      outputTemplate = outputTemplate,
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

private[connector] final case class GraftReaderFactory(
    readIds: PartitionedFile => Iterator[InternalRow],
    readIdsRaw: PartitionedFile => Iterator[InternalRow],
    readPlain: PartitionedFile => Iterator[InternalRow],
    readPlainRaw: PartitionedFile => Iterator[InternalRow],
    readPosDeletes: PartitionedFile => Iterator[InternalRow],
    readPosDeletesOrc: PartitionedFile => Iterator[InternalRow],
    eqReaders: EqualityDeletes.Readers,
    readSchema: StructType,
    // output field -> read-schema ordinal, or -1 for the `_file`
    // metadata column (filled with the split's path); None = identity
    outputTemplate: Option[Array[Int]],
    defaultsFill: Map[Int, (Int, Any, org.apache.spark.sql.types.DataType)] =
      Map.empty,
    // field id -> (read ordinal, spark type, iceberg primitive) for
    // per-split identity-partition constant injection (Hive imports)
    constSlots: Map[Int, (Int, org.apache.spark.sql.types.DataType,
      graft.ice.types.IcePrimitive)] = Map.empty,
    // every split of the scan is a plain field-id parquet read and
    // `readIds` returns batches: Spark reads the scan as columnar
    columnar: Boolean = false) extends PartitionReaderFactory {

  override def supportColumnarReads(p: InputPartition): Boolean = columnar

  /** The equality-delete key readers, by key-column list. */
  def readEqDeletes: Map[Seq[String], PartitionedFile => Iterator[InternalRow]] = eqReaders.parquet
  def readEqDeletesOrc: Map[Seq[String], PartitionedFile => Iterator[InternalRow]] = eqReaders.orc

  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    readerOf(splitsOf(p).flatMap(rowsOf))

  override def createColumnarReader(p: InputPartition): PartitionReader[ColumnarBatch] =
    readerOf(splitsOf(p).flatMap(s =>
      readIds(fileOf(s)).asInstanceOf[Iterator[ColumnarBatch]]))

  // a packed split concatenates its members' iterators — every member
  // keeps its own delete/default/projection state (built lazily, so a
  // 50-file bin opens files one at a time)
  private def splitsOf(p: InputPartition): Iterator[GraftScanSplit] = p match {
    case GraftPackedSplit(members) => members.iterator
    case s: GraftScanSplit => Iterator.single(s)
  }

  private def readerOf[T](it: Iterator[T]): PartitionReader[T] =
    new PartitionReader[T] {
      private var cur: T = _
      override def next(): Boolean =
        if (it.hasNext) { cur = it.next(); true } else false
      override def get(): T = cur
      override def close(): Unit = ()
    }

  // the split's byte range (whole file unless read.split.target-size
  // cut it); position-counted reads are whole-file by construction
  private def fileOf(split: GraftScanSplit): PartitionedFile =
    PartitionedFile(InternalRow.empty, SparkPath.fromPathString(split.path),
      split.rangeStart, split.rangeLength, Array.empty[String], 0L, split.fileSize, Map.empty)

  private def rowsOf(split: GraftScanSplit): Iterator[InternalRow] = {
    val del = split.deletes

    // positions deleted from THIS file: DV bitmaps + position-delete
    // files, each parsed once per executor JVM (PositionDeletes)
    lazy val deletedPos: org.roaringbitmap.longlong.Roaring64Bitmap =
      PositionDeletes.deletedPositions(split.path,
        FileDeletes(del.dvs, del.posDeleteFiles), readPosDeletes, readPosDeletesOrc)

    lazy val eqDeleted = EqualityDeletes.test(del.eqDeletes, readSchema, eqReaders)

    val needExactPositions = del.hasPositional
    val read =
      (split.useFieldIds, needExactPositions) match {
        // parquet predicate pushdown skips rows, which would corrupt
        // position counting — delete-bearing files read unfiltered
        case (true, true) => readIdsRaw
        case (true, false) => readIds
        case (false, true) => readPlainRaw
        case (false, false) => readPlain
      }

    val base = PositionDeletes.rows(read, fileOf(split))
    var pos = -1L
    val it0 =
      if (!needExactPositions) base
      else base.filter { _ => pos += 1; !deletedPos.contains(pos) }
    // v3 initial-defaults: files that predate a defaulted column inject
    // its default in place of the reader's null — BEFORE equality-delete
    // matching, so deletes keyed on the column see the virtual value.
    // Identity-partition constants of Hive-imported files inject through
    // the same projection (the column exists only in the manifest tuple).
    val constOrds = split.identityConsts.flatMap { case (fid, v) =>
      constSlots.get(fid).map { case (ord, dt, prim) =>
        val cat =
          if (v == null) null
          else org.apache.spark.sql.catalyst.CatalystTypeConverters
            .convertToCatalyst(
              graft.ice.meta.SingleValueJson.toSparkValue(prim, v))
        (ord, cat, dt)
      }
    }
    val fillOrds = split.absentDefaults.flatMap(defaultsFill.get) ++ constOrds
    val itD =
      if (fillOrds.isEmpty) it0
      else {
        val proj = UnsafeProjection.create(
          readSchema.fields.toIndexedSeq.zipWithIndex.map { case (f, i) =>
            fillOrds.find(_._1 == i) match {
              case Some((_, v, dt)) =>
                org.apache.spark.sql.catalyst.expressions.Literal(v, dt)
                  : org.apache.spark.sql.catalyst.expressions.Expression
              case None => BoundReference(i, f.dataType, nullable = true)
            }
          })
        it0.map(proj.apply)
      }
    val it1 = if (del.eqDeletes.isEmpty) itD else itD.filterNot(eqDeleted)
    outputTemplate match {
      case None => it1
      case Some(tpl) =>
        val proj = UnsafeProjection.create(tpl.toIndexedSeq.map {
          case -1 => org.apache.spark.sql.catalyst.expressions.Literal(
            UTF8String.fromString(split.path), StringType)
            : org.apache.spark.sql.catalyst.expressions.Expression
          case -2 => org.apache.spark.sql.catalyst.expressions.Literal(
            split.dataSeq.map(Long.box).orNull,
            org.apache.spark.sql.types.LongType)
            : org.apache.spark.sql.catalyst.expressions.Expression
          case i => BoundReference(i, readSchema.fields(i).dataType, nullable = true)
        })
        it1.map(proj.apply)
    }
  }
}
