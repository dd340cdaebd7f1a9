package graft.ice.connector

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, SortDirection, SortOrder => V2SortOrder}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder => V2ScanBuilder}
import org.apache.spark.sql.connector.write.{DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering, RowLevelOperation, SupportsDelta, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.ice.IceTable
import graft.ice.expr.Binder
import graft.ice.manifest.{FileContent, ManifestEntry}
import graft.ice.meta.{DataOperation, TableProperties}
import graft.ice.write.{DVWriteConf, DVWriter, FileWriteConf, FileWriter, GraftDataWriter, ReplaceGroupsState, SnapshotProducer}

/** Row-level DML through Spark's own V2 contract
  * (`SupportsRowLevelOperations`): Spark's RewriteDeleteFromTable,
  * RewriteUpdateTable and RewriteMergeIntoTable plan every DELETE,
  * UPDATE and MERGE against the operation picked here from the table's
  * `write.{delete,update,merge}.mode`:
  *  - copy-on-write: [[GraftRowLevelOperation]] replaces the files its
  *    scan planned (Spark's ReplaceData);
  *  - merge-on-read: [[GraftDeltaOperation]] keeps every data file and
  *    writes deletes beside the inserted rows (Spark's WriteDelta) — the
  *    shape of Iceberg Java's `SparkPositionDeltaOperation`.
  *
  * Reference anchor: the C++ reference has no DML (scan planning only,
  * table_scan.cc); the Scala API's RowDelete/MergeInto is the same
  * semantics without Spark's planner. */
private[connector] object GraftRowLevel {
  def operation(table: IceTable, identName: String, warehouse: String,
      cmd: Command): RowLevelOperation = {
    val (mode, isolation) = cmd match {
      case Command.DELETE => (TableProperties.WriteDeleteMode, TableProperties.WriteDeleteIsolation)
      case Command.UPDATE => (TableProperties.WriteUpdateMode, TableProperties.WriteUpdateIsolation)
      case Command.MERGE => (TableProperties.WriteMergeMode, TableProperties.WriteMergeIsolation)
    }
    val scope = new RowLevelScope(table,
      TableProperties.get(table.properties, isolation) != "snapshot")
    if (TableProperties.get(table.properties, mode) == "merge-on-read")
      new GraftDeltaOperation(table, identName, warehouse, cmd, scope)
    else new GraftRowLevelOperation(table, identName, warehouse, cmd, scope)
  }
}

/** What a row-level write commits against: the scan its operation
  * planned (captured when Spark builds it; Spark always plans the scan
  * before the write) and the isolation the command declares. */
private[connector] final class RowLevelScope(table: IceTable, serializable: Boolean) {
  @volatile private var built: GraftBatchScan = _

  /** The operation's scan. `pruneOnly` keeps pushed predicates out of
    * the parquet reader (copy-on-write must see every row of a matched
    * file: the non-matching rows are what survives). */
  def scanBuilder(pruneOnly: Boolean): V2ScanBuilder =
    new GraftScanBuilder(table, table.schema, pruneOnly = pruneOnly) {
      override def build(): Scan = super.build() match {
        case b: GraftBatchScan => built = b; b
        case other => other // unreachable: no aggregate/limit pushdown here
      }
    }

  private def scan: GraftBatchScan = {
    require(built != null,
      "row-level write built before its scan — Spark plans the scan first")
    built
  }

  /** The deletion vectors a merge-on-read write of a v3 table writes:
    * over the table as the scan read it, so the vectors it supersedes are
    * the ones the scan applied. */
  lazy val dvConf: DVWriteConf = DVWriteConf(table)

  /** `write.{delete,update,merge}.isolation-level` as the Scala API
    * checks it: serializable bounds the commit's conflict check by the
    * scan's pushed predicate (the whole table when nothing was pushed)
    * from the sequence number of the snapshot it read; snapshot checks
    * nothing. */
  private def serializableCheck: Option[(Option[graft.ice.expr.Bound], Long)] =
    Option.when(serializable) {
      val (pushed, snapshotId) = scan.isolationScope
      (pushed.map(Binder.bind(_, table.schema)),
        snapshotId.flatMap(table.metadata.snapshotById).map(_.sequenceNumber).getOrElse(0L))
    }

  /** One commit of the operation's written `entries`. Copy-on-write
    * replaces the files the scan planned, validated against concurrent
    * removals and delete files ([[ReplaceGroupsState]]); merge-on-read
    * adds the data and delete files, superseding the prior deletion
    * vectors its new ones replace. */
  def commit(t: IceTable, spark: SparkSession, entries: Seq[ManifestEntry],
      copyOnWrite: Boolean, extraSummary: Map[String, String]): Unit =
    if (copyOnWrite) {
      val st = ReplaceGroupsState(scan.plannedOriginalPaths, scan.plannedDeletePaths)
      SnapshotProducer.commit(t, spark, DataOperation.Overwrite, entries,
        removedPaths = st.replaced, expectedReplaced = Some(st),
        extraSummary = extraSummary, serializableCheck = serializableCheck)
    } else {
      val (data, deletes) = entries.partition(_.dataFile.content == FileContent.Data)
      val dvs = deletes.filter(_.dataFile.fileFormat == "PUFFIN")
      val (superseded, expected) =
        if (dvs.isEmpty) (Set.empty[String], Map.empty[String, Set[String]])
        else dvConf.supersedes(dvs.map(_.dataFile))
      SnapshotProducer.commit(t, spark,
        if (data.isEmpty) DataOperation.Delete else DataOperation.Overwrite, data,
        addedDeleteEntries = deletes, removedDVForFiles = superseded,
        extraSummary = extraSummary, expectedDVs = Option.when(dvs.nonEmpty)(expected),
        serializableCheck = serializableCheck)
    }
}

/** Group-based (copy-on-write) row-level operation.
  *
  * How the contract is satisfied:
  *  - Spark builds a ReplaceData plan whose read side is this
  *    operation's scan and whose write side replaces the GROUPS (files)
  *    that scan planned. The scan instance is shared state: its final
  *    planned splits — after static predicate pushdown AND runtime group
  *    filtering (our scan's `SupportsRuntimeV2Filtering`, fed by Spark's
  *    RowLevelOperationRuntimeGroupFiltering subquery on partitioned
  *    tables) — ARE the replaced file set the write commits against.
  *  - The scan is `pruneOnly`: the pushed DML predicate prunes
  *    manifests/files but never reaches the parquet reader, because the
  *    rewrite must see EVERY row of a matched file — the non-matching
  *    rows are exactly what survives (Spark's replace-data query
  *    re-evaluates the condition per row).
  *  - The write reuses the ordinary distributed V2 write (clustered by
  *    the table's partition transforms, task-side DataFile metadata, no
  *    driver footer reads) in `replace-groups` mode: ONE Overwrite
  *    snapshot that removes the scanned files and adds the rewritten
  *    ones. At 100 TB the replaced set is bounded by partition/file
  *    pruning, not table size.
  *
  * MoR deletes in scope are safe here (unlike the raw-parquet CoW path
  * in RowDelete.updateWhere, which refuses them): this scan APPLIES
  * position/equality deletes executor-side, so the rewritten files
  * contain only live rows, and leftover delete files cannot mis-apply
  * to the replacement files (position deletes reference the old paths;
  * equality deletes only apply to lower data sequence numbers). */
private[graft] final class GraftRowLevelOperation(table: IceTable,
    identName: String, warehouse: String, cmd: Command,
    scope: RowLevelScope) extends RowLevelOperation {

  override def command(): Command = cmd

  override def newScanBuilder(options: CaseInsensitiveStringMap): V2ScanBuilder =
    scope.scanBuilder(pruneOnly = true)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write =
        new GraftWrite(table, identName, warehouse, info,
          GraftWriteModes.ReplaceGroups, Array.empty, rowLevel = Some(scope))
    }

  /** `_file` — required not for the grouping itself (the replaced set is
    * read off the scan), but because Spark's ReplaceDataExec only
    * engages its data/metadata row projections when metadata attributes
    * exist; without one, the writer would receive the raw
    * [__row_operation, row...] tuples. */
  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(Expressions.column("_file"))

  override def description(): String = s"GraftRowLevelOperation($cmd, $identName)"
}

/** Delta-based (merge-on-read) row-level operation: rows are identified
  * by `(_file, _pos)`; an UPDATE arrives as a delete plus an insert
  * (`representUpdateAsDeleteAndInsert`), so every data file stays live.
  * Deletes become a position-delete file per task on v2 tables and a
  * deletion vector per data file on v3 ([[DVWriter]]); inserted rows go
  * through the table's data writer; one commit lands both. */
private[graft] final class GraftDeltaOperation(table: IceTable,
    identName: String, warehouse: String, cmd: Command,
    scope: RowLevelScope) extends SupportsDelta {

  override def command(): Command = cmd

  override def newScanBuilder(options: CaseInsensitiveStringMap): V2ScanBuilder =
    scope.scanBuilder(pruneOnly = false)

  override def rowId(): Array[NamedReference] =
    Array(Expressions.column("_file"), Expressions.column("_pos"))

  override def representUpdateAsDeleteAndInsert(): Boolean = true

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite =
        new GraftDeltaWrite(table, identName, warehouse, info, scope)
    }

  override def description(): String = s"GraftDeltaOperation($cmd, $identName)"
}

/** The write side of [[GraftDeltaOperation]]. It requires every row of
  * one data file in one task, ordered by `(_file, _pos)`: a task then
  * writes exactly one deletion vector per data file it touches (never
  * two per file across tasks), and position-delete files in spec order.
  * Inserted rows (no `_file`) follow, ordered by the partition
  * transforms so the data writer rolls one file per partition. */
private[connector] final class GraftDeltaWrite(table: IceTable, identName: String,
    warehouse: String, info: LogicalWriteInfo, scope: RowLevelScope)
    extends DeltaWrite with RequiresDistributionAndOrdering {

  override def requiredDistribution(): Distribution =
    Distributions.clustered(Array(Expressions.column("_file")))

  override def requiredOrdering(): Array[V2SortOrder] =
    (Seq("_file", "_pos").map(c => Expressions.sort(Expressions.column(c), SortDirection.ASCENDING)) ++
      GraftConnectorUtil.toV2Transforms(table).getOrElse(Array.empty).map(t =>
        Expressions.sort(t, SortDirection.ASCENDING))).toArray

  override def toBatch: DeltaBatchWrite = {
    val spark = SparkSession.active
    val deletes: Either[FileWriteConf, DVWriteConf] =
      if (table.metadata.formatVersion >= 3) Right(scope.dvConf)
      else {
        val schema = StructType(Seq(StructField("file_path", StringType, nullable = false),
          StructField("pos", LongType, nullable = false)))
        val props = table.properties
        // the Scala API's position-delete file sizing: a record cap from
        // the target size at ~(path + 8) bytes a row
        val maxRecords = math.max(1L,
          TableProperties.get(props, TableProperties.DeleteTargetFileSizeBytes) / (128L + 8L))
        val file = TableProperties.get(props, TableProperties.DeleteGranularity) == "file"
        Left(FileWriter.deleteConf(spark, table, FileContent.PositionDeletes, schema, schema,
          "-deletes").copy(rollOrdinal = if (file) 0 else -1, maxRecords = maxRecords))
      }
    val factory = GraftDeltaWriterFactory(GraftWrite.dataConf(table, info.schema()), deletes)
    new DeltaBatchWrite {
      override def createBatchWriterFactory(pi: PhysicalWriteInfo): DeltaWriterFactory = factory
      override def commit(messages: Array[WriterCommitMessage]): Unit =
        GraftCommit.commit(warehouse, identName, GraftWriteModes.Delta, Array.empty,
          GraftCommit.entriesOf(messages), rowLevel = Some(scope))
      override def abort(messages: Array[WriterCommitMessage]): Unit =
        GraftCommit.abortFiles(messages)
    }
  }

  override def description(): String = s"GraftDeltaWrite($identName)"
}

private[connector] final case class GraftDeltaWriterFactory(data: FileWriteConf,
    deletes: Either[FileWriteConf, DVWriteConf]) extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new GraftDeltaWriter(this, partitionId, taskId)
}

/** Per-task delta writer: inserted rows through the table's data
  * writer, deleted `(_file, _pos)` row ids through a position-delete
  * writer (v2) or a [[DVWriter]] (v3). */
private[connector] final class GraftDeltaWriter(f: GraftDeltaWriterFactory,
    partitionId: Int, taskId: Long) extends DeltaWriter[InternalRow] {
  private val data = new GraftDataWriter(f.data, partitionId, taskId, epochId = -1L)
  private val positions = f.deletes.left.toOption
    .map(new GraftDataWriter(_, partitionId, taskId, epochId = -1L))
  private val dvs: Option[DVWriter] = f.deletes.toOption.map(_.writer(partitionId, taskId))

  override def delete(metadata: InternalRow, id: InternalRow): Unit = {
    positions.foreach(_.write(id))
    dvs.foreach(_.delete(id.getUTF8String(0).toString, id.getLong(1)))
  }

  override def update(metadata: InternalRow, id: InternalRow, row: InternalRow): Unit =
    throw new UnsupportedOperationException(
      "updates arrive as a delete and an insert (representUpdateAsDeleteAndInsert)")

  override def insert(row: InternalRow): Unit = data.write(row)

  override def commit(): WriterCommitMessage =
    GraftWriteMessage(data.commit().files ++ positions.toSeq.flatMap(_.commit().files) ++
      dvs.toSeq.flatMap(_.commit()))

  override def abort(): Unit = {
    data.abort(); positions.foreach(_.abort()); dvs.foreach(_.abort())
  }

  override def close(): Unit = { data.close(); positions.foreach(_.close()) }
}
